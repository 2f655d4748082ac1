package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.cdc.PathCodec
import graft.functions.BloomAgg
import graft.queries.{NearDupIndex, RetrievalQueries, VectorQueries}
import graft.snapshot.TargetTable
import graft.streaming.{IncrementalPipeline, PipelineConfig, ReplicationJob, StreamBitextIndex, StreamCurate, StreamGraphIndex, StreamPackAtomic, StreamShardedExport, StreamVectorIndex}
import graft.tools.Failpoints
import graft.types.{TableCol, TableDefinition, TableDefJson}

/** Composed end-to-end soaks under RANDOMIZED crash injection — the
  * property the single-fault failpoint specs can't see: a protocol that
  * recovers from one crash can still tear under fault SEQUENCES (crash
  * in epoch N's gap, then again in N+1's different gap, or twice in one
  * epoch at different gaps). Every schedule is seeded (printed, and
  * overridable via SPARK_GRAFT_SOAK_SEED) so a failure replays exactly.
  *
  * Soak 1 chains the full training-data ingest the verdict names —
  * ingest → curate (quality+blocklist+PII) → near-dup drop →
  * pack-atomic → sharded export — as TWO real streaming queries joined
  * by a durable file handoff (exactly how production chains stages:
  * each lands to storage, the next tails it), so both checkpoints, the
  * pack operator's state store, and both landing protocols all recover
  * under the schedule. Soaks 2–4 drive the remaining gap names
  * (cdc.after-version-land, target.before-move, graph.between-lands,
  * bitext.between-lands) through multi-epoch random schedules.
  */
class PipelineSoakSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.build(4, "pipeline-soak-spec")
  import spark.implicits._

  private val Seed =
    sys.env.get("SPARK_GRAFT_SOAK_SEED").map(_.toLong).getOrElse(20260815L)

  private def tmp(p: String) = Files.createTempDirectory(p).toFile.getAbsolutePath

  /** Write `df` as ONE parquet file published atomically at `dest` —
    * the durable, idempotent handoff between chained streams (and the
    * soak's source-file writer). Skips if `dest` exists (replay). */
  private def publishOneFile(df: DataFrame, dest: java.nio.file.Path): Unit = {
    if (Files.exists(dest)) return
    val tmpDir = dest.resolveSibling(s".${dest.getFileName}.tmp")
    df.coalesce(1).write.mode("overwrite").parquet(tmpDir.toString)
    val part = scala.util.Using.resource(Files.list(tmpDir)) { s =>
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.find(_.getFileName.toString.endsWith(".parquet"))
        .getOrElse(sys.error(s"no part file under $tmpDir"))
    }
    Files.move(part, dest, StandardCopyOption.ATOMIC_MOVE)
    graft.storage.Publish.deleteRecursively(tmpDir)
  }

  /** Drive a (possibly crashing) streaming query to drain: on each
    * crash, restart from the checkpoint and keep going. Converging
    * within the attempt bound IS the assertion — one-shot failpoints
    * guarantee a finite schedule, so exceeding it means a replay loop. */
  private def drain(start: () => StreamingQuery, label: String,
      maxAttempts: Int = 8): Int = {
    var attempts = 0
    var crashes = 0
    var done = false
    while (!done) {
      attempts += 1
      assert(attempts <= maxAttempts, s"$label still crashing after $maxAttempts attempts")
      val q = start()
      try { q.processAllAvailable(); done = true }
      catch { case _: Throwable => crashes += 1 }
      finally { try q.stop() catch { case _: Throwable => () } }
    }
    crashes
  }

  test("soak 1: ingest→curate→neardup→pack→export across 30 epochs under a seeded random crash schedule equals the batch pipeline") {
    val rnd = new scala.util.Random(Seed)
    info(s"soak seed = $Seed (set SPARK_GRAFT_SOAK_SEED to replay)")

    // --- fixtures (the StreamCurateSpec corpus, multiplied) -------------
    val cleanBase = "the cat sat on the mat and the dog is in the house for fun"
    val landedText = "the quick brown fox jumps over the lazy dog today"
    val nearCopy = "the quick brown fox jumps over the lazy cat today"
    val germanText = "der und die das ist nicht der und die das war hier"
    val blockedText = "the forbidden text is in the blocklist for a reason"
    def emailText(i: Int) =
      s"please contact the team at bob$i@example.com for the info and the details"

    def fpOf(c: org.apache.spark.sql.Column) =
      md5(lower(regexp_replace(c, "\\s+", " ")))
    val block = Seq(blockedText).toDF("t").select(fpOf(col("t")).as("bfp"))
    val words = block.select(xxhash64(col("bfp")).as("h"))
      .agg(udaf(new BloomAgg()).apply(col("h"))).head().getSeq[Long](0).toArray
    val ndIndex = NearDupIndex.build(Seq((900L, landedText)).toDF("doc_id", "text"))

    val Steps = 30
    val Budget = 150L
    // per step: two clean docs of varying length (token variety for the
    // packer, including oversized-alone bins) plus a rotating intruder
    // the curation stages must drop or transform
    def docsFor(step: Int): Seq[(Long, String)] = {
      val clean = (0 until 2).map { j =>
        (step * 100L + j,
          Seq.fill(1 + (step + j) % 3)(cleanBase).mkString(" "))
      }
      val intruder = step % 5 match {
        case 0 => Seq((step * 100L + 50, germanText))
        case 1 => Seq((step * 100L + 50, blockedText))
        case 2 => Seq((step * 100L + 50, nearCopy))
        case 3 => Seq((step * 100L + 50, emailText(step)))
        case _ => Seq.empty
      }
      clean ++ intruder
    }

    val srcDir = tmp("soak-src")
    val curatedDir = tmp("soak-curated")
    val handoffDir = tmp("soak-handoff")
    val packedDir = tmp("soak-packed")
    val cp1 = tmp("soak-cp1")
    val cp2 = tmp("soak-cp2")

    val docSchema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("text", StringType, nullable = true)))
    val curatedSchema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("text", StringType, nullable = true),
      StructField("quality", DoubleType, nullable = true)))

    // stage 1: curate + land + durable handoff to the packer
    def startQ1(): StreamingQuery =
      spark.readStream.schema(docSchema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir)
        .writeStream.option("checkpointLocation", cp1)
        .foreachBatch { (batch: DataFrame, id: Long) =>
          val curated = StreamCurate
            .curateBatch(batch, block, words, neardup = Some(ndIndex))
            .localCheckpoint() // consumed twice: land + handoff
          StreamShardedExport.commitBatch(curated, "doc_id", curatedDir, 2, id)
          // the gap between the two lands of THIS composed epoch
          Failpoints.hit("soak.between-land-and-handoff")
          publishOneFile(curated, Paths.get(handoffDir, f"epoch-$id%05d.parquet"))
        }
        .start()

    // stage 2: stateful pack-atomic over the handoff, exactly-once land
    def startQ2(): StreamingQuery = {
      val docs = spark.readStream.schema(curatedSchema)
        .option("maxFilesPerTrigger", "1").parquet(handoffDir)
        .select(col("doc_id").as("docId"),
          pmod(col("doc_id"), lit(2L)).as("shard"),
          length(col("text")).cast("long").as("tokens"))
        .as[StreamPackAtomic.Doc]
      StreamPackAtomic.pack(docs, Budget).toDF()
        .writeStream.option("checkpointLocation", cp2)
        .foreachBatch { (batch: DataFrame, id: Long) =>
          StreamShardedExport.commitBatch(batch, "docId", packedDir, 2, id)
          ()
        }
        .start()
    }

    // --- the seeded schedule: which gap (if any) each stage crashes at
    // per step. Both-in-one-step and consecutive-step crashes both occur
    // under the default seed (asserted below) — the fault SEQUENCES the
    // single-shot specs never compose.
    val q1Gaps = Seq("sharded.after-tmp-write", "sharded.before-marker",
      "soak.between-land-and-handoff")
    val q2Gaps = Seq("sharded.after-tmp-write", "sharded.before-marker")
    val schedule: Seq[(Option[String], Option[String])] = (0 until Steps).map { _ =>
      (if (rnd.nextInt(3) == 0) Some(q1Gaps(rnd.nextInt(q1Gaps.size))) else None,
        if (rnd.nextInt(3) == 0) Some(q2Gaps(rnd.nextInt(q2Gaps.size))) else None)
    }
    val doubles = schedule.count(s => s._1.isDefined && s._2.isDefined)
    val consecutive = schedule.sliding(2).count(w =>
      (w.head._1.isDefined || w.head._2.isDefined) &&
        (w.last._1.isDefined || w.last._2.isDefined))
    info(s"schedule: ${schedule.flatMap(s => s._1.toSeq ++ s._2.toSeq).size} crashes, " +
      s"$doubles double-crash steps, $consecutive consecutive-step pairs")
    if (!sys.env.contains("SPARK_GRAFT_SOAK_SEED")) {
      assert(doubles >= 1, "default-seed schedule must include a both-stages-crash step")
      assert(consecutive >= 1, "default-seed schedule must include back-to-back crashing epochs")
    }

    var totalCrashes = 0
    schedule.zipWithIndex.foreach { case ((g1, g2), step) =>
      publishOneFile(docsFor(step).toDF("doc_id", "text"),
        Paths.get(srcDir, f"step-$step%05d.parquet"))
      g1.foreach(Failpoints.arm)
      totalCrashes += drain(startQ1 _, s"q1 step $step")
      g2.foreach(Failpoints.arm)
      totalCrashes += drain(startQ2 _, s"q2 step $step")
    }
    // hygiene: nothing left armed (every armed gap actually fired)
    q1Gaps.foreach(Failpoints.disarm)
    assert(totalCrashes >= schedule.flatMap(s => s._1.toSeq ++ s._2.toSeq).size,
      "every armed gap must actually have crashed a query")
    info(s"survived $totalCrashes injected crashes")

    // --- the batch pipeline over the same docs, same order -------------
    val allDocs = (0 until Steps).flatMap(docsFor)
    val curatedAll = StreamCurate
      .curateBatch(allDocs.toDF("doc_id", "text"), block, words, neardup = Some(ndIndex))
      .select(col("doc_id"), col("text"), col("quality"))
      .as[(Long, String, Double)].collect().sortBy(_._1).toSeq

    val landedCurated = StreamShardedExport.readAll(spark, curatedDir)
      .select(col("doc_id"), col("text"), col("quality"))
      .as[(Long, String, Double)].collect().sortBy(_._1).toSeq
    assert(landedCurated == curatedAll,
      s"curated landing diverged from the batch chain: ${landedCurated.size} vs ${curatedAll.size} rows")

    // reference pack: the same first-fit fold over the curated docs in
    // arrival order (epoch asc, doc_id asc == doc_id asc by fixture)
    val expectedPack = curatedAll
      .map { case (id, text, _) => (id, id % 2, text.length.toLong) }
      .groupBy(_._2).toSeq.flatMap { case (shard, ds) =>
        var bin = 0L
        var fill = -1L
        ds.sortBy(_._1).map { case (id, _, tokens) =>
          if (fill < 0) fill = tokens
          else if (fill + tokens <= Budget) fill += tokens
          else { bin += 1; fill = tokens }
          (id, shard, bin, tokens)
        }
      }.toSet
    val landedPack = StreamShardedExport.readAll(spark, packedDir)
      .select(col("docId"), col("shard"), col("bin"), col("tokens"))
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(landedPack == expectedPack,
      s"packed corpus diverged row-for-row: extra=${(landedPack -- expectedPack).take(3)}, " +
        s"missing=${(expectedPack -- landedPack).take(3)}")
    assert(landedPack.nonEmpty && landedPack.exists(_._4 > Budget),
      "fixture must include an oversized doc alone in an overfull bin")
  }

  test("soak 2: the CDC merge pipeline under random {after-version-land, before-move} crashes converges to the expected table") {
    val rnd = new scala.util.Random(Seed + 1)
    info(s"soak seed = ${Seed + 1}")
    val defV100 = TableDefinition(
      schema = "tpch", table = "orders", tableVersion = 100L,
      columns = Seq(
        TableCol("1", "o_orderkey", "bigint", nullable = "false", isPk = "true"),
        TableCol("2", "o_status", "varchar"),
        TableCol("3", "o_price", "double")))
    val root = tmp("soak-cdc")
    val inc = s"$root/increment"
    val key = PathCodec.DmlPathKey("tpch", "orders", 100L, 0L, "2024-01-01")
    Files.createDirectories(Paths.get(PathCodec.dmlPath(inc, key, 1L)).getParent)
    Files.writeString(Paths.get(PathCodec.schemaPath(inc, "tpch", "orders", 100L)),
      TableDefJson.write(defV100))
    // file i: insert key 100+i, update key 100+i-1, delete key 100+i-2 —
    // ts strictly increasing, so the final image is driver-computable
    val now = System.currentTimeMillis()
    (1 to 10).foreach { i =>
      val lines = Seq(
        Some(s""""I","orders","tpch","${10 + 3 * i}",${100 + i},"S",$i.0"""),
        if (i > 1) Some(s""""U","orders","tpch","${11 + 3 * i}",${100 + i - 1},"S",${i * 10}.0""") else None,
        if (i > 2) Some(s""""D","orders","tpch","${12 + 3 * i}",${100 + i - 2},"S",0.0""") else None
      ).flatten
      val p = Paths.get(PathCodec.dmlPath(inc, key, i.toLong))
      Files.writeString(p, lines.mkString("", "\n", "\n"))
      // distinct ascending mtimes: files appear over time in production,
      // and the file source orders by timestamp — ten files written in
      // the same millisecond would arrive in arbitrary order (which the
      // pipeline's out-of-order guard then rightly fails loudly on; that
      // path has its own test in StreamingPipelineSpec)
      Files.setLastModifiedTime(p,
        java.nio.file.attribute.FileTime.fromMillis(now - 60000 + i * 1000))
    }
    val cfg = PipelineConfig(
      incrementRoot = inc, schemaName = "tpch", tableName = "orders",
      targetRoot = s"$root/target", checkpointDir = s"$root/ckpt",
      seed = defV100.copy(tableVersion = 0L), startTso = 10L,
      maxFilesPerTrigger = 1) // one file per trigger → 10 merge epochs
    Files.createDirectories(Paths.get(s"$root/snapshot"))
    val snapshot = Seq((1L, "O", 10.0), (2L, "O", 20.0), (3L, "F", 30.0))
      .toDF("o_orderkey", "o_status", "o_price")
    val q0 = ReplicationJob.replicateTable(spark, snapshot, s"$root/snapshot", cfg).get

    // drive to drain under the random schedule: before each (re)start,
    // maybe arm one of the two CDC-path gaps; a crashed run restarts
    // from the checkpoint and must replay idempotently
    var first = Some(q0): Option[StreamingQuery]
    var iterations = 0
    var crashes = 0
    var cleanFinish = false
    while (!cleanFinish) {
      iterations += 1
      assert(iterations <= 40, s"CDC soak did not drain after $iterations runs")
      // forced-crash phase first (every early run dies at a random CDC
      // gap — 1 merge epoch of progress at most per run), then free
      // runs drain the rest; one-shot arms bound the whole loop
      val gap =
        if (iterations <= 6)
          Some(if (rnd.nextBoolean()) "cdc.after-version-land" else "target.before-move")
        else None
      gap.foreach(Failpoints.arm)
      val q = first.getOrElse(new IncrementalPipeline(spark, cfg).start())
      first = None
      try {
        q.processAllAvailable()
        // finished without hitting anything: disarm leftovers (the gap
        // may not have been traversed — e.g. nothing left to merge)
        gap.foreach(Failpoints.disarm)
        cleanFinish = true
      } catch { case _: Throwable => crashes += 1 }
      finally { try q.stop() catch { case _: Throwable => () } }
    }
    info(s"CDC soak: $iterations runs, $crashes injected crashes")

    val got = new TargetTable(spark, cfg.targetRoot).read()
      .as[(Long, String, Double)].collect().toSet
    val expected = Set(
      (1L, "O", 10.0), (2L, "O", 20.0), (3L, "F", 30.0), // snapshot, untouched
      (109L, "S", 100.0), // updated by file 10, never deleted
      (110L, "S", 10.0)) // inserted by file 10
    assert(got == expected,
      s"CDC soak diverged: extra=${(got -- expected).take(5)}, missing=${(expected -- got).take(5)}")
  }

  test("soak 3: the graph index's two-land epochs under a random crash schedule converge to the batch-built graph") {
    val rnd = new scala.util.Random(Seed + 2)
    graft.functions.VectorFunctions.register(spark)
    val vecs = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
      .select(col("vec_id"), col("embedding"))
    val cents = VectorQueries.sampledCentroids(vecs).cache()
    val idx = StreamVectorIndex.listIndex(cents)
    val dir = tmp("soak-graph")
    val Buckets = 4
    var crashes = 0
    (0 until 6).foreach { e =>
      val slice = vecs.filter(pmod(col("vec_id"), lit(6)) === e)
      if (rnd.nextBoolean()) {
        Failpoints.arm("graph.between-lands")
        intercept[Failpoints.InjectedCrash] {
          StreamGraphIndex.applyBatch(slice, cents, idx, dir, Buckets, e.toLong)
        }
        crashes += 1
      }
      assert(StreamGraphIndex.applyBatch(slice, cents, idx, dir, Buckets, e.toLong),
        s"epoch $e replay must commit")
    }
    info(s"graph soak: $crashes injected crashes across 6 epochs")
    def edgeSet(df: DataFrame) =
      df.select(col("src"), col("dst")).as[(Long, Long)].collect().toSet
    val streamed = edgeSet(StreamGraphIndex.readAdjacency(spark, dir, Buckets))
    val batch = edgeSet(VectorQueries.graphAdjacency(vecs))
    assert(streamed == batch,
      s"graph soak diverged: ${(streamed -- batch).size} extra, ${(batch -- streamed).size} missing edges")
  }

  test("soak 4: the bitext index's two-land epochs under a random crash schedule converge to the batch mining result") {
    val rnd = new scala.util.Random(Seed + 3)
    val en = (1 to 8).map(i => (i.toLong, s"english document number $i"))
      .toDF("a_id", "text")
      .select(col("a_id"), RetrievalQueries.bitextEmb(col("text")).as("ea"))
      .localCheckpoint(true)
    val allDe = (1 to 12).map(i => (100L + i, s"deutsches dokument nummer $i"))
    def deFrame(docs: Seq[(Long, String)]) = docs.toDF("b_id", "text")
      .select(col("b_id"), RetrievalQueries.bitextEmb(col("text")).as("eb"))
    val dir = tmp("soak-bitext")
    var crashes = 0
    allDe.grouped(3).zipWithIndex.foreach { case (slice, e) =>
      // odd epochs always crash (floor for a 4-epoch schedule), even
      // ones by the seeded coin — back-to-back sequences guaranteed
      if (e % 2 == 1 || rnd.nextBoolean()) {
        Failpoints.arm("bitext.between-lands")
        intercept[Failpoints.InjectedCrash] {
          StreamBitextIndex.applyBatch(deFrame(slice), en, dir, 2, e.toLong)
        }
        crashes += 1
      }
      assert(StreamBitextIndex.applyBatch(deFrame(slice), en, dir, 2, e.toLong),
        s"epoch $e replay must commit")
    }
    info(s"bitext soak: $crashes injected crashes across 4 epochs")
    val served = StreamBitextIndex.serve(spark, dir, 2)
      .as[(Long, Long, Int, Double, Int)].collect().toSet
    val batch = RetrievalQueries
      .mineCore(en, deFrame(allDe).localCheckpoint(true), en)
      .as[(Long, Long, Int, Double, Int)].collect().toSet
    assert(served == batch,
      s"bitext soak diverged: served-only=${(served -- batch).take(3)}, batch-only=${(batch -- served).take(3)}")
  }
}
