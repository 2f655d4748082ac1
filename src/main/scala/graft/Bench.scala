package graft
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.tools.{AuditMetrics, ScaleAudit}

/** The one measurement harness: times every registered query (or the
  * `SPARK_GRAFT_QUERIES` subset plus [[Bench.Controls]]) and records,
  * per query, the median seconds, every rep's seconds when
  * `SPARK_GRAFT_RUNS` > 1, and the job/stage/task/byte counters of one
  * execution from [[graft.tools.ScaleAudit.measure]]. */
object Bench {

  /** Fixed control queries for solo re-measures: structurally diverse
    * (scan-agg / text scoring / iterative graph), never the subject of
    * a dispute themselves. A suspect's raw solo time means nothing
    * across boxes; time / (median control ratio vs the sweep of
    * record) does — the round-6 phantom-regression lesson, now
    * tooling instead of judge-session procedure. */
  private[graft] val Controls =
    Seq("q1_pricing", "text_lm_score", "dedup_clusters_incremental")

  /** Median with even-sized middle-pair averaging — shared by the
    * box-factor calibration and the per-query repeat-run timings. */
  private[graft] def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** Median of control ratios (solo / sweep-of-record) = the box-speed
    * factor; 1.0 when no usable controls. Even-sized lists average the
    * two middle elements — with one control under dispute only 2 ratios
    * remain, and picking the upper-middle would hand the whole
    * calibration to whichever control happened to run slower. */
  private[graft] def boxFactor(controlRatios: Seq[Double]): Double =
    if (controlRatios.isEmpty) 1.0 else median(controlRatios)

  /** Parse (sfDir, name→seconds) out of a bench artifact — the same
    * one-query-per-line JSON this object writes. Only the flat `queries`
    * object is read: the cost block and the solo report after it carry
    * numeric pairs of their own. */
  private[graft] def parseTimings(txt: String): (Option[String], Map[String, Double]) = {
    val sf = "\"sf\":\"([^\"]+)\"".r.findFirstMatchIn(txt).map(_.group(1))
    val qBlock = txt.indexOf("\"queries\"")
    val body =
      if (qBlock < 0) txt
      else txt.indexOf('}', qBlock) match {
        case -1 => txt.substring(qBlock)
        case end => txt.substring(qBlock, end)
      }
    val m = "\"([a-z0-9_]+)\":([0-9][0-9.eE+-]*)".r.findAllMatchIn(body)
      .map(mm => mm.group(1) -> mm.group(2).toDouble).toMap
    (sf, m)
  }

  /** One query's measurement: the seconds of every rep, and the result
    * row count and counters of the first. */
  private[graft] final case class QueryRun(reps: Seq[Double], rows: Long, cost: AuditMetrics)

  /** Time `fn(spark, sfDir).count()` `runs` times; the first execution
    * runs under [[ScaleAudit.measure]], whose settle wait for the async
    * listener bus falls outside the timed region. */
  private[graft] def runQuery(spark: SparkSession, sfDir: String,
      fn: (SparkSession, String) => DataFrame, runs: Int): QueryRun = {
    def rep(): (Double, Long) = {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      try {
        val t0 = System.nanoTime()
        val rows = fn(spark, sfDir).count()
        ((System.nanoTime() - t0) / 1e9, rows)
      } finally {
        // drop intra-query caches so one query's retained blocks can't
        // GC-pressure the next (measured multi-second timing swings)
        spark.catalog.clearCache()
        // localCheckpoint blocks are not CacheManager entries: left to the
        // ContextCleaner they survive until their frames are GC'd. Drop
        // exactly the RDDs this rep persisted; one that existed before it
        // (a prepared index, a caller's frame) keeps its only copy.
        spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
          if (!before(id)) rdd.unpersist(blocking = true)
        }
        // force the ContextCleaner's hand: broadcasts and shuffle state
        // are weak-ref-cleaned, and with a large pretouched heap GC may
        // not run for many queries — accumulated state then bleeds
        // multi-second noise into later timings (measured ±30% run-to-
        // run totals). An explicit GC per query costs ~50 ms and pins
        // each query's timing to a clean block manager.
        System.gc()
      }
    }
    var first = (0.0, 0L)
    val cost = ScaleAudit.measure(spark) { first = rep() }
    QueryRun(first._1 +: Seq.fill(runs - 1)(rep()._1), first._2, cost)
  }

  /** A query's record in the artifact's `cost` block. */
  private[graft] def costRecord(r: QueryRun): String = {
    val c = r.cost
    val reps = if (r.reps.size > 1) r.reps.mkString(",\"reps\":[", ",", "]") else ""
    s"""{"rows":${r.rows},"jobs":${c.jobs},"stages":${c.stages},"tasks":${c.tasks},"input_bytes":${c.input},""" +
      s""""shuffle_read_bytes":${c.shuffleRead},"shuffle_write_bytes":${c.shuffleWrite},""" +
      s""""max_task_shuffle_write_bytes":${c.maxTaskSw}$reps}"""
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.build(cpus, "graft-bench")
    // Warm the JVM once before timing anything: parquet footers, codegen
    // compiler, shuffle machinery. First-touch costs are session setup,
    // not per-query cost, and would otherwise land on whichever query
    // runs first.
    Tables.all.foreach { t =>
      try Tables.load(spark, sfDir, t).limit(1).count()
      catch { case _: Throwable => () }
    }
    // exercise each major execution template once — hash agg, broadcast
    // and shuffle joins, window, generate, cache — so codegen scaffolding
    // and the C2 compiler warm on throwaway data instead of inflating
    // whichever timed query happens to hit each template first (measured
    // first-hit penalties of 3-12 s on a fresh JVM)
    locally {
      import org.apache.spark.sql.functions.broadcast
      val a = spark.range(100000).selectExpr("id % 1000 AS k", "id AS v")
      val b = spark.range(1000).selectExpr("id AS k", "id AS name")
      a.groupBy("k").sum("v").count()
      a.join(broadcast(b), "k").count()
      a.join(b, "k").count()
      a.selectExpr("k", "row_number() OVER (PARTITION BY k ORDER BY v) AS r").count()
      a.selectExpr("explode(sequence(0, 3)) AS e").count()
      val c = a.cache(); c.count(); c.count()
      spark.catalog.clearCache()
      System.gc()
    }
    // materialize every persisted index/layout the cached queries read
    // (dedup labels, IVF lists, neighbor graph, z-order layouts, Bloom
    // index, lexical + crossmodal serving indexes) — index build is
    // one-time maintenance cost, not query cost
    Tables.prepareAll(spark, sfDir)
    // A failed query must never masquerade as a fast one: failures are
    // excluded from the timing map and reported by name in "errors".
    val timings = scala.collection.mutable.LinkedHashMap[String, Double]()
    val costs = scala.collection.mutable.LinkedHashMap[String, String]()
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    // Optional comma-separated filter for solo re-measurement — bench
    // numbers taken under concurrent load are noise, so a disputed
    // query gets re-timed alone on a quiet box (the round-5 q12/q4
    // lesson). Unset = the driver's full sweep.
    val only = sys.env.get("SPARK_GRAFT_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // Repeat-run medians: single-sweep timings carry multi-x noise on
    // sub-second queries (the round-6/8 phantom-regression lessons), so
    // the scaling-curve sweeps run each query SPARK_GRAFT_RUNS times and
    // record the median — that is what lets the scaling gate's floor sit
    // at 0.5 s instead of 1 s without false reds. Default 1 (a plain
    // sweep); the artifact records the count so readers know which
    // discipline produced it.
    val runsPerQuery = sys.env.getOrElse("SPARK_GRAFT_RUNS", "1").toInt.max(1)
    // A typo'd name must fail LOUDLY, not time zero queries — the same
    // unknown-filter guard check.py applies to its --only flag.
    only.foreach { names =>
      val unknown = names.diff(SparkEntry.queries.keySet)
      if (unknown.nonEmpty) {
        System.err.println(
          s"SPARK_GRAFT_QUERIES names unknown queries: ${unknown.toSeq.sorted.mkString(", ")}")
        spark.stop()
        sys.exit(2)
      }
    }
    // a solo re-measure times the CONTROLS alongside the suspects, so
    // the box-speed normalization below never needs a second run
    val selected = only match {
      case Some(names) =>
        SparkEntry.queries.filter { case (n, _) => names(n) || Controls.contains(n) }
      case None => SparkEntry.queries
    }
    selected.foreach { case (name, fn) =>
      try {
        val r = runQuery(spark, sfDir, fn, runsPerQuery)
        timings(name) = median(r.reps)
        costs(name) = costRecord(r)
      } catch {
        case e: Throwable =>
          errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
            .replaceAll("[\"\\\\\n\r\t]", " ").take(200)
      }
    }
    // Solo re-measure: normalize the suspects against the committed
    // sweep of record via the co-timed controls, so a dispute resolves
    // from ONE run's stdout ("is 8.9 s regression or box noise?" needs
    // no second opinion when the controls read 1.5x too).
    val soloReport: Option[String] = only.map { suspects =>
      val ref =
        try {
          val p = java.nio.file.Paths.get("bench/latest_timings.json")
          Some(parseTimings(new String(java.nio.file.Files.readAllBytes(p), "UTF-8")))
        } catch { case _: Throwable => None }
      ref match {
        case Some((Some(sfRef), sweep)) if sfRef == sfDir =>
          // a control under dispute is the thing being measured — it
          // cannot also calibrate the box
          val ratios = Controls.filterNot(suspects).flatMap { c =>
            for (now <- timings.get(c); rec <- sweep.get(c) if rec > 0) yield now / rec
          }
          val f = boxFactor(ratios)
          val norm = suspects.toSeq.sorted.flatMap { s =>
            timings.get(s).map { t =>
              val n = t / f
              val vs = sweep.get(s).filter(_ > 0)
                .map(r => s""","vs_sweep":${n / r}""").getOrElse("")
              s""""$s":{"solo":$t,"normalized":$n$vs}"""
            }
          }.mkString("{", ",", "}")
          s""""box_factor":$f,"control_ratios":[${ratios.map(_.toString).mkString(",")}],"normalized":$norm"""
        case Some((Some(sfRef), _)) =>
          s""""normalized_skipped":"sweep of record is $sfRef, this run is $sfDir""""
        case _ =>
          s""""normalized_skipped":"no readable bench/latest_timings.json""""
      }
    }
    val qs = timings.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val errs = errors.map { case (k, v) => s"\"" + k + "\":\"" + v + "\"" }
      .mkString("{", ",", "}")
    val total = timings.values.sum
    val full =
      s"""{"metric":"total","value":$total,"unit":"sec","runs":$runsPerQuery,"queries":$qs,"errors":$errs,"failed":${errors.size},"count":${timings.size},"sf":"$sfDir"}"""
    // The driver archives only a ~4 KB stdout TAIL: with 176 queries the
    // one-line JSON blows past that and most timings become unrecoverable
    // (the round-6 phantom-regression scare cost a judge session to clear
    // because 117/176 r5 timings had vanished). So: (1) persist the
    // complete timing map to a committed file — one query per line so
    // round-over-round diffs are line-diffs; (2) print the full JSON on an
    // EARLY stdout line (recoverable when the tail window allows); (3) make
    // the FINAL line compact — totals + the 10 slowest + counts — so it
    // always survives the tail window and still parses as the driver's
    // one-JSON-line contract.
    // The sweep-of-record maps (latest_timings.json + the per-SF
    // scaling-curve legs) are COMMITTED artifacts: a driver/judge bench
    // run overwriting them leaves the working tree dirty at judge time
    // (it did, three rounds running). Default runs therefore land under
    // bench/runs/<millis>[_solo].json (gitignored); only an explicit
    // SPARK_GRAFT_RECORD=1 run touches the record maps.
    val record = sys.env.get("SPARK_GRAFT_RECORD").contains("1")
    var artifact = "bench/latest_timings.json"
    try {
      val dir = java.nio.file.Paths.get("bench")
      java.nio.file.Files.createDirectories(dir)
      val lines = new StringBuilder
      lines ++= "{\n"
      lines ++= s""" "metric":"total","value":$total,"unit":"sec","failed":${errors.size},"count":${timings.size},"runs":$runsPerQuery,"sf":"$sfDir",\n"""
      lines ++= " \"queries\":{\n"
      lines ++= timings.map { case (k, v) => s"""  "$k":$v""" }.mkString(",\n")
      lines ++= "\n },\n \"errors\":{\n"
      lines ++= errors.map { case (k, v) => s"""  "$k":"$v"""" }.mkString(",\n")
      lines ++= "\n },\n \"cost\":{\n"
      lines ++= costs.map { case (k, v) => s"""  "$k":$v""" }.mkString(",\n")
      lines ++= "\n }"
      soloReport.foreach { r => lines ++= ",\n " + r }
      lines ++= "\n}\n"
      // a solo re-measure (SPARK_GRAFT_QUERIES set) must never clobber
      // the full-sweep artifact of record; and a full sweep at a
      // NON-record SF (sf0.001/sf0.01 scaling-curve legs) must not
      // either — it lands in its per-SF map only. latest_timings.json
      // stays the sf0.1 sweep of record the solo normalizer reads.
      val base = java.nio.file.Paths.get(sfDir).getFileName.toString
      val bytes = lines.toString.getBytes("UTF-8")
      if (!record) {
        val runsDir = dir.resolve("runs")
        java.nio.file.Files.createDirectories(runsDir)
        val name = s"${System.currentTimeMillis()}${if (only.isDefined) "_solo" else ""}.json"
        java.nio.file.Files.write(runsDir.resolve(name), bytes)
        artifact = s"bench/runs/$name"
      } else if (only.isDefined) {
        java.nio.file.Files.write(dir.resolve("solo_timings.json"), bytes)
        artifact = "bench/solo_timings.json"
      } else {
        // per-SF map (timings_sf0.001.json / _sf0.01 / _sf0.1): the three
        // committed maps are the input to the scaling-curve report — how
        // each query's time GROWS across the 100x SF span is the directly
        // measurable form of the "survives 100x" claim that shuffle-byte
        // ceilings only approximate
        if (base.matches("sf[0-9.]+")) {
          java.nio.file.Files.write(dir.resolve(s"timings_$base.json"), bytes)
          artifact = s"bench/timings_$base.json"
        }
        if (base == "sf0.1" || !base.matches("sf[0-9.]+")) {
          java.nio.file.Files.write(dir.resolve("latest_timings.json"), bytes)
          artifact = "bench/latest_timings.json"
          // per-round copy when the driver exports a round tag
          sys.env.get("SPARK_GRAFT_ROUND").foreach { r =>
            java.nio.file.Files.copy(dir.resolve("latest_timings.json"),
              dir.resolve(s"timings_r$r.json"),
              java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          }
        }
      }
    } catch { case e: Throwable =>
      System.err.println(s"bench artifact write failed: ${e.getMessage}")
    }
    println(full)
    soloReport.foreach { r => println(s"""{"metric":"solo_normalized",$r}""") }
    val top = timings.toSeq.sortBy(-_._2).take(10)
      .map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")
    // the pointer names the file THIS run actually wrote (set in the
    // write block above): a default run's bench/runs/<ts>.json, a solo
    // re-measure's solo map, or a record run's per-SF/record map — a
    // stale pointer would hand the tail-recovery workflow another run's
    // numbers
    val compact =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$top,"errors":$errs,"failed":${errors.size},"count":${timings.size},"sf":"$sfDir","full_timings":"$artifact"}"""
    // Belt and braces for the driver contract: the compact line is ALSO
    // written verbatim to a fixed path that survives whatever stdout
    // framing the launcher adds — if the driver's tail/parse ever misses
    // the stdout line again, the same JSON is one `cat bench/last_line.json`
    // away (a plain run artifact like bench/runs/: gitignored, never
    // committed).
    try java.nio.file.Files.write(
      java.nio.file.Paths.get("bench/last_line.json"),
      (compact + "\n").getBytes("UTF-8"))
    catch { case e: Throwable =>
      System.err.println(s"bench last_line write failed: ${e.getMessage}")
    }
    println(compact)
    spark.stop()
    if (errors.nonEmpty) sys.exit(1)
  }
}
