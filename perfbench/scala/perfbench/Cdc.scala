package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.{Try, Using}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}
import org.apache.spark.sql.types.DecimalType

import graft.catalog.{SchemaEvolution, SchemaRegistry}
import graft.cdc.{Envelope, PathCodec}
import graft.merge.ChangeApply
import graft.snapshot.{SnapshotLoader, TargetTable}
import graft.streaming.{IncrementalPipeline, PipelineConfig}
import graft.types.TableCol

/** One CDC replication workload: a target table, the shape of each tick
  * and how much history sits under the increment root. Each history
  * file is one 60 s flush shaped like a tick. */
final case class CdcSpec(
    sf: String,
    table: String,
    key: KeyCodec,
    tickRows: Int,
    insertShare: Double,
    deleteShare: Double,
    zipf: Boolean,
    historyFiles: Int,
    siblings: Int,
    siblingFiles: Int,
    ddl: Boolean,
    numBuckets: Int = 256)

/** Closed-loop replication run: one generator publishes a tick, waits
  * until the target shows it, then publishes the next. */
final class Cdc(spark: SparkSession, spec: CdcSpec, dataDir: String, work: Path, seed: Long,
    trace: Option[Trace]) {

  private val Schema = "tpch"
  private val inc = work.resolve("increment").toString
  private val snapDir = work.resolve("snapshot")
  private val targetRoot = work.resolve("target").toString
  private val HistoryDate = "2024-01-01"
  private val TickDate = "2024-01-02"
  /** Commit-ts of the consistent snapshot: history at or below it is
    * already in the snapshot image, ticks come after it. */
  private val SnapshotTso = 1000000000L

  val out = mutable.LinkedHashMap.empty[String, Double]
  /** seconds from JVM start to the first timed tick */
  var setupS = 0.0
  val layer = mutable.LinkedHashMap.empty[String, Double]
  var attempted = 0
  var failed = 0
  private val target = new TargetTable(spark, targetRoot, spec.key.cols, spec.numBuckets)
  val problems = mutable.ArrayBuffer.empty[String]

  /** The source rows with a unique primary key. The fixture `lineitem`
    * repeats (orderkey, linenumber); renumbering lines within each order
    * (ordered by every column, so deterministically) gives every row its
    * own key, as a TiDB table has. */
  private def source(): DataFrame = {
    val raw = spark.read.parquet(s"$dataDir/${spec.sf}/${spec.table}.parquet")
    spec.key match {
      case LongIntKey(lead, minor) =>
        val order = raw.columns.filterNot(c => c == lead).map(col)
        raw.withColumn(minor,
          row_number().over(Window.partitionBy(col(lead)).orderBy(order.toIndexedSeq: _*)))
      case _ => raw
    }
  }

  /** Block until the target's commit-ts watermark reaches `ts`. */
  private def awaitVisible(q: StreamingQuery, ts: Long, timeoutMs: Long = 60000): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (System.currentTimeMillis() < deadline) {
      if (target.readMarker("cdc_hwm").exists(_.toLong >= ts)) return true
      if (q.exception.isDefined || !q.isActive) return false
      Thread.sleep(1)
    }
    false
  }

  private def forced(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def timedMs[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e6)
  }

  private def listFiles(p: Path): Seq[Path] =
    if (!Files.isDirectory(p)) Nil
    else Using.resource(Files.list(p))(_.iterator().asScala.toList)

  private def nlink(p: Path): Int = Files.getAttribute(p, "unix:nlink").asInstanceOf[Int]

  /** Layout of the version `_current` points at: buckets with a freshly
    * written file, carried-over (hard-linked) files, bytes written, data
    * files, and the most files any bucket holds. */
  private def layout(): Map[String, Double] = {
    val cur = Paths.get(targetRoot).resolve(target.currentVersion.get)
    val buckets = listFiles(cur).filter(d => Files.isDirectory(d) && d.getFileName.toString.startsWith("_bucket="))
    var rewritten, linked, files, maxPer = 0
    var bytes = 0L
    buckets.foreach { b =>
      val data = listFiles(b).filter { f =>
        val n = f.getFileName.toString
        Files.isRegularFile(f) && !n.startsWith(".") && !n.startsWith("_")
      }
      val fresh = data.filter(nlink(_) == 1)
      if (fresh.nonEmpty) rewritten += 1
      linked += data.size - fresh.size
      bytes += fresh.map(Files.size).sum
      files += data.size
      maxPer = math.max(maxPer, data.size)
    }
    Map("target.buckets_rewritten" -> rewritten.toDouble, "target.files_linked" -> linked.toDouble,
      "target.bytes_written" -> bytes.toDouble, "target.data_files" -> files.toDouble,
      "target.max_files_per_bucket" -> maxPer.toDouble)
  }

  private def countFiles(root: String): Int =
    Using.resource(Files.walk(Paths.get(root)))(_.iterator().asScala.count(Files.isRegularFile(_)))

  /** Order-insensitive fingerprint: row count and the sum of per-row
    * 64-bit hashes over the columns in name order. */
  private def fingerprint(df: DataFrame): (Long, java.math.BigDecimal) = {
    val r = df.agg(count(lit(1)),
      sum(xxhash64(df.columns.sorted.toIndexedSeq.map(col): _*).cast(DecimalType(38, 0)))).head()
    (r.getLong(0), Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO))
  }

  private def phase(name: String, t0: Long): Unit =
    System.err.println(f"[perfbench] $name%-12s ${(System.nanoTime() - t0) / 1e9}%.2f s")

  /** Set up (warming `deck` too), tick for `seconds`, then check the
    * target. A traced run times a pass of `deck` after each tick. */
  def run(seconds: Double, setupStartNs: Long, deck: Deck): Unit = {
    phase("session", setupStartNs)
    Files.createDirectories(snapDir)
    // --- snapshot export: dumpling-layout CSV of the consistent image
    val src = source().cache()
    val rows = src.count()
    val maxLead = src.agg(max(col(spec.key.cols.head))).head().getLong(0)
    val d = CdcGen.definition(Schema, spec.table, 1L, src.schema, spec.key.cols)
    val (exported, exportMs) = timedMs(SnapshotLoader.writeSnapshotCsv(spark, src, snapDir.toString, d))
    phase("export", setupStartNs)
    val keys = src.select(spec.key.cols.map(col): _*).collect().map(spec.key.encode)
    val gen = new CdcGen(inc, d, spec.key, keys, maxLead, seed, spec.zipf, SnapshotTso)

    // --- retained history and sibling tables under the increment root
    gen.publishSchema()
    val flushMs = 60000L
    gen.history(spec.historyFiles, spec.tickRows, HistoryDate, flushMs,
      System.currentTimeMillis() - (spec.historyFiles + 1) * flushMs)
    CdcGen.siblings(inc, Schema, spec.siblings, spec.siblingFiles, HistoryDate)

    phase("history", setupStartNs)
    // --- snapshot load, the bulk path
    val (_, loadMs) = timedMs(SnapshotLoader.load(spark,
      SnapshotLoader.readSnapshotCsv(spark, snapDir.toString, d), target, snapDir.toString, d))
    out("snapshot_rows_per_s") = rows / (loadMs / 1000)
    layer("snapshot.export_s") = exportMs / 1000
    layer("snapshot.load_s") = loadMs / 1000
    layer("snapshot.files_written") = exported.size.toDouble

    phase("load", setupStartNs)
    // --- the resident stream drains the history
    val cfg = PipelineConfig(incrementRoot = inc, schemaName = Schema, tableName = spec.table,
      targetRoot = targetRoot, checkpointDir = work.resolve("checkpoint").toString, seed = d,
      startTso = SnapshotTso, triggerMs = 0L, numBuckets = spec.numBuckets)
    val q = new IncrementalPipeline(spark, cfg).start()
    try {
      q.processAllAvailable()
      phase("drain", setupStartNs)
      // one untimed tick warms the merge path's code before timing
      val warm = gen.tick(spec.tickRows, TickDate, spec.insertShare, spec.deleteShare)
      if (!awaitVisible(q, warm.maxTs)) sys.error(s"warm-up tick failed: ${q.exception.map(_.getMessage)}")
      if (spec.ddl) {
        // an ADD COLUMN with the next tick, which takes the full-image
        // path; timed on its own, and kept out of the timed ticks so
        // that how many ticks a run fits does not weigh it in
        gen.addColumn(TableCol((gen.current.columns.size + 1).toString, "o_comment", "varchar",
          precision = "32", default = Some("n/a")))
        val t = gen.tick(spec.tickRows, TickDate, spec.insertShare, spec.deleteShare)
        val (ok, ddlMs) = timedMs(awaitVisible(q, t.maxTs))
        if (!ok) sys.error(s"DDL tick failed: ${q.exception.map(_.getMessage)}")
        layer("evolution.ddl_tick_ms") = ddlMs
      } else layer("evolution.ddl_tick_ms") = 0.0 // no DDL on this workload
      deck.warm()
      setupS = (System.nanoTime() - setupStartNs) / 1e9
      loop(q, gen, seconds, deck)
    } finally {
      q.stop()
      q.awaitTermination(60000)
    }
    phase("loop", setupStartNs)
    if (trace.isDefined) {
      // the full-image DDL path on the live target, timed directly
      val cur = gen.current
      val next = cur.copy(tableVersion = cur.tableVersion + 1, columns = cur.columns :+
        TableCol((cur.columns.size + 1).toString, "probe_col", "varchar", precision = "8"))
      val (_, evolveMs) = timedMs(forced(SchemaEvolution.evolveChain(target.read(), Seq(cur, next))))
      layer("evolution.evolve_ms") = evolveMs
      val historyDir = Paths.get(PathCodec.dmlPath(inc,
        PathCodec.DmlPathKey(Schema, spec.table, d.tableVersion, 0L, HistoryDate), 1L)).getParent
      val walks = 20
      val lost = vanishProbe(historyDir, walks)
      layer("registry.vanish_fail_share") = lost.toDouble / walks
      if (lost > 0)
        problems += s"engine defect: $lost of $walks SchemaRegistry.loadFromDir walks failed " +
          "while a file under the increment root came and went"
    }
    check(gen, src)
    phase("check", setupStartNs)
    src.unpersist()
  }

  /** The engine walks the whole increment root with `Files.walk` on
    * every trigger, and a file that vanishes mid-walk — a publisher's
    * temporary file renamed away, a retention job's delete — fails the
    * walk with `NoSuchFileException`, which fails the trigger and stops
    * the stream. The timed ticks publish from outside the root, so they
    * never meet this; here `walks` direct `loadFromDir` calls run while
    * another thread keeps creating and deleting a temporary file in
    * `dir`. Returns how many walks failed; 0 once the engine tolerates
    * vanishing files. */
  private def vanishProbe(dir: Path, walks: Int): Int = {
    @volatile var stop = false
    val churn = new Thread(() => {
      val tmp = dir.resolve("CDC999999.csv.tmp")
      while (!stop) {
        Files.write(tmp, Array[Byte]('\n'))
        Files.delete(tmp)
      }
    })
    churn.start()
    try (1 to walks).count(_ => Try(SchemaRegistry.loadFromDir(inc, Schema, spec.table)).isFailure)
    finally { stop = true; churn.join() }
  }

  /** The id of the newest micro-batch that read rows, from the query's
    * own progress reports (-1 before the first). */
  private def lastDataBatch(q: StreamingQuery): Long =
    q.recentProgress.filter(_.numInputRows > 0).lastOption.map(_.batchId).getOrElse(-1L)

  /** Block until a micro-batch newer than `after` has read rows and
    * reported its progress. */
  private def awaitBatch(q: StreamingQuery, after: Long, timeoutMs: Long = 30000): Option[StreamingQueryProgress] = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (System.currentTimeMillis() < deadline) {
      q.recentProgress.find(p => p.numInputRows > 0 && p.batchId > after).foreach(p => return Some(p))
      Thread.sleep(2)
    }
    None
  }

  private def loop(q: StreamingQuery, gen: CdcGen, seconds: Double, deck: Deck): Unit = {
    val lat = mutable.ArrayBuffer.empty[Double]
    val traced = mutable.ArrayBuffer.empty[Double]
    val untraced = mutable.ArrayBuffer.empty[Double]
    val per = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    def note(k: String, v: Double): Unit = per.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v
    var changeRows = 0L
    val t0 = System.nanoTime()
    var cycleS = 0.0
    var i = 0
    // a tick starts only if one more like the last (with its deck pass
    // and probes) fits in `seconds`, so the run keeps to its budget
    def fits: Boolean = (System.nanoTime() - t0) / 1e9 + cycleS <= seconds
    while ((lat.isEmpty || fits) && failed == 0) {
      val c0 = System.nanoTime()
      // with tracing on, odd ticks run with the listener attached and even
      // ticks without it; both wait the same way before publishing and
      // after visibility, so the difference of their medians is what the
      // listener costs
      val tr = trace.filter(_ => i % 2 == 1)
      tr.foreach(_.attach())
      val before = trace.map(_.drain())
      val batchBefore = lastDataBatch(q)
      val tick = gen.tick(spec.tickRows, TickDate, spec.insertShare, spec.deleteShare)
      // published: the rename has happened
      val pubMs = System.currentTimeMillis()
      val pubNs = System.nanoTime()
      attempted += 1
      val ok = awaitVisible(q, tick.maxTs)
      val sec = (System.nanoTime() - pubNs) / 1e9
      if (!ok) {
        failed += 1
        problems += s"tick $i not visible: ${q.exception.map(_.getMessage).getOrElse("timeout")}"
      } else {
        lat += sec
        changeRows += tick.rows
        if (trace.isDefined) (if (tr.isDefined) traced else untraced) += sec
        val visMs = System.currentTimeMillis()
        val progress = trace.flatMap(_ => awaitBatch(q, batchBefore))
        tr.foreach(t => probe(t, before.get, pubMs, visMs, progress, tick, note))
      }
      tr.foreach(_.detach())
      if (trace.isDefined) deck.pass(traced = tr.isDefined)
      cycleS = (System.nanoTime() - c0) / 1e9
      i += 1
    }
    System.err.println("[perfbench] ticks " + lat.map(x => f"$x%.2f").mkString(" "))
    if (lat.nonEmpty) {
      out("tick_s_p50") = Stats.median(lat.toSeq)
      // the highest percentile with ten ticks beyond it; a run too short
      // for one reports its slowest tick as percentile 100
      val (pct, tailS) = Stats.tail(lat.toSeq).getOrElse((100.0, lat.max))
      layer("tick.tail_s") = tailS
      layer("tick.tail_percentile") = pct
      layer("tick.samples") = lat.size.toDouble
      out("change_rows_per_s") = changeRows / lat.sum
      val quarter = math.max(1, lat.size / 4)
      layer("target.tick_growth") =
        Stats.median(lat.takeRight(quarter).toSeq) / Stats.median(lat.take(quarter).toSeq)
    }
    per.foreach { case (k, v) => layer(k) = Stats.median(v.toSeq) }
    if (traced.nonEmpty && untraced.nonEmpty)
      layer("trace.overhead_ms") = (Stats.median(traced.toSeq) - Stats.median(untraced.toSeq)) * 1000
  }

  /** Per-layer readings for one traced tick, taken after it is visible:
    * `progress` is the micro-batch that read the tick. */
  private def probe(t: Trace, before: Trace.Counts, pubMs: Long, visMs: Long,
      progress: Option[StreamingQueryProgress], tick: Tick, note: (String, Double) => Unit): Unit = {
    val d = t.drain() - before
    t.detach()
    val dur = progress.map(_.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)
      .getOrElse(Map.empty[String, Long])
    if (progress.isEmpty) problems += s"no progress report for the traced tick at ${tick.maxTs}"
    def ms(k: String): Double = dur.getOrElse(k, 0L).toDouble
    note("stream.latest_offset_ms", ms("latestOffset"))
    note("stream.add_batch_ms", ms("addBatch"))
    note("stream.wal_commit_ms", ms("walCommit"))
    note("stream.commit_offsets_ms", ms("commitOffsets"))
    note("pipeline.driver_self_ms",
      ms("addBatch") - t.jobCoverMs(before.jobSpans, pubMs, visMs))
    note("pipeline.jobs", d.jobs.toDouble)
    note("pipeline.stages", d.stages.toDouble)
    note("pipeline.tasks", d.tasks.toDouble)
    note("pipeline.shuffle_bytes", d.shuffleBytes.toDouble)
    note("pipeline.input_bytes", d.inputBytes.toDouble)
    note("jvm.gc_ms", d.gcMs.toDouble)
    layout().foreach { case (k, v) => note(k, v) }

    // direct, timed calls into single layers on this tick's inputs
    val (_, regMs) = timedMs(SchemaRegistry.loadFromDir(inc, Schema, spec.table))
    note("registry.load_ms", regMs)
    note("registry.files_walked", countFiles(inc).toDouble)
    val cols = SchemaRegistry.loadFromDir(inc, Schema, spec.table).get(tick.version).columns
    val lines = spark.read.text(tick.path.toString)
    val projected = Envelope.project(Envelope.parseLines(lines, cols.size), cols)
    val (_, parseMs) = timedMs(forced(projected))
    note("envelope.parse_ms", parseMs)
    val keys = cols.filter(_.isPrimaryKey).map(_.name)
    val latest = ChangeApply.dedupLatestPerKey(projected, keys)
    val (_, dedupMs) = timedMs(forced(latest))
    note("changeapply.dedup_ms", dedupMs)
    note("changeapply.keys_per_row", latest.count().toDouble / tick.rows)
    note("target.buckets_touched", target.touchedBuckets(latest.select(keys.map(col): _*)).size.toDouble)
  }

  /** The target must equal the generator's own image, and the markers
    * must name the last table version and commit-ts. */
  private def check(gen: CdcGen, snapshot: DataFrame): Unit = {
    attempted += 1
    val want = fingerprint(gen.expectedImage(spark, snapshot))
    val got = fingerprint(target.read())
    val versionOk = target.readMarker("schema_version").contains(gen.current.tableVersion.toString)
    val hwmOk = target.readMarker("cdc_hwm").contains(gen.lastTs.toString)
    if (want != got || !versionOk || !hwmOk) {
      failed += 1
      problems += s"target mismatch: rows/hash want $want got $got; schema_version " +
        s"${target.readMarker("schema_version")} want ${gen.current.tableVersion}; cdc_hwm " +
        s"${target.readMarker("cdc_hwm")} want ${gen.lastTs}"
    }
  }
}
