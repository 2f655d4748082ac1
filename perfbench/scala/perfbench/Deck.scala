package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** Read-side queries timed as `graft.Bench` times them — `fn(spark,
  * sfDir).count()` — with an untimed first execution that both warms the
  * query and writes its result for the oracle hash check. Timed passes
  * run only in a traced run, one after each CDC tick. */
final class Deck(spark: SparkSession, sfDir: String, names: Seq[String], outDir: String,
    trace: Option[Trace]) {

  val seconds = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val errors = mutable.LinkedHashMap.empty[String, String]

  /** Drop what one execution left behind: cached plans and exactly the
    * RDDs it persisted (earlier ones, e.g. a caller's, stay). */
  private def cleanUp(before: Set[Int]): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs
      .foreach { case (id, rdd) => if (!before.contains(id)) rdd.unpersist(blocking = true) }
    System.gc()
  }

  private def once(name: String, write: Boolean): Double = {
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    try {
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(name)(spark, sfDir)
      // written as `graft.Verify` writes it, for the same oracle compare
      if (write) df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name") else df.count()
      (System.nanoTime() - t0) / 1e9
    } finally cleanUp(before)
  }

  /** Run every query once untimed, writing its result; returns the
    * seconds this took. */
  def warm(): Double = {
    val w0 = System.nanoTime()
    names.foreach { n =>
      try once(n, write = true)
      catch { case e: Throwable => errors(n) = String.valueOf(e.getMessage).take(300) }
    }
    (System.nanoTime() - w0) / 1e9
  }

  private val passS = mutable.ArrayBuffer.empty[(Boolean, Double)]
  private val per = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]

  /** One timed pass over the queries. With tracing on, a `traced` pass
    * runs with the listener attached and any other without it, each
    * query after the same bus drain. */
  def pass(traced: Boolean): Unit = {
    val tr = trace.filter(_ => traced)
    tr.foreach(_.attach())
    var total = 0.0
    names.filterNot(errors.contains).foreach { n =>
      val before = trace.map { t => t.resetPeak(); t.drain() }
      val s = try once(n, write = false) catch {
        case e: Throwable => errors(n) = String.valueOf(e.getMessage).take(300); Double.NaN
      }
      if (!s.isNaN) {
        seconds.getOrElseUpdate(n, mutable.ArrayBuffer.empty) += s
        total += s
        tr.foreach { t =>
          val d = t.drain() - before.get
          def note(k: String, v: Double): Unit =
            per.getOrElseUpdate(s"q.$n.$k", mutable.ArrayBuffer.empty) += v
          note("jobs", d.jobs.toDouble)
          note("stages", d.stages.toDouble)
          note("tasks", d.tasks.toDouble)
          note("shuffle_bytes", d.shuffleBytes.toDouble)
          note("spill_bytes", d.spillBytes.toDouble)
          note("peak_exec_mem", d.peakExecMem.toDouble)
          per.getOrElseUpdate("jvm.gc_ms_per_query", mutable.ArrayBuffer.empty) += d.gcMs.toDouble
        }
      }
    }
    tr.foreach(_.detach())
    passS += ((traced, total))
  }

  /** Per-layer medians over the traced passes, and the tracing overhead:
    * the traced passes' median minus the bare passes' median. */
  def layer: Map[String, Double] = {
    val (traced, bare) = passS.partition(_._1)
    per.map { case (k, v) => k -> Stats.median(v.toSeq) }.toMap ++
      (if (trace.isDefined && traced.nonEmpty && bare.nonEmpty)
        Map("trace.deck_overhead_ms" ->
          (Stats.median(traced.map(_._2).toSeq) - Stats.median(bare.map(_._2).toSeq)) * 1000)
      else Map.empty)
  }

  def medians: Map[String, Double] = seconds.map { case (n, v) => n -> Stats.median(v.toSeq) }.toMap
}
