package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.SchemaRegistry
import graft.cdc.PathCodec
import graft.snapshot.{SnapshotLoader, TargetTable}
import graft.streaming.{IncrementalPipeline, PipelineConfig, ReplicationJob}
import graft.types.{TableCol, TableDefinition, TableDefJson}

/** End-to-end replication through the real streaming surface: snapshot
  * load → TiCDC-layout CSV increments → merged target, including
  * DDL-mid-stream (M5), checkpoint resume (M7), and the TSO handoff
  * filter (M6). This is SURVEY §7.2's minimum slice, exercised on
  * hand-written fixture files per FIXTURES.md §2. */
class StreamingPipelineSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.build(4, "streaming-spec")
  import spark.implicits._

  private val defV100 = TableDefinition(
    schema = "tpch", table = "orders", tableVersion = 100L,
    columns = Seq(
      TableCol("1", "o_orderkey", "bigint", nullable = "false", isPk = "true"),
      TableCol("2", "o_status", "varchar"),
      TableCol("3", "o_price", "double")))

  private val defV200 = defV100.copy(
    tableVersion = 200L, query = "ALTER TABLE orders ADD COLUMN o_note varchar",
    columns = defV100.columns :+ TableCol("4", "o_note", "varchar", precision = "255"))

  private def writeFixtures(root: String): Unit = {
    val inc = s"$root/increment"
    Files.createDirectories(Paths.get(PathCodec.dmlPath(inc, PathCodec.DmlPathKey("tpch", "orders", 100L, 0L, "2024-01-01"), 1L)).getParent)
    Files.writeString(
      Paths.get(PathCodec.schemaPath(inc, "tpch", "orders", 100L)),
      TableDefJson.write(defV100))
    // envelope = flag, table, schema, commit_ts, then the row image;
    // ts 5 ≤ startTso is pre-snapshot noise and must be filtered (M6)
    Files.writeString(
      Paths.get(PathCodec.dmlPath(inc, PathCodec.DmlPathKey("tpch", "orders", 100L, 0L, "2024-01-01"), 1L)),
      """"I","orders","tpch","5",9,"STALE",0.0
        |"I","orders","tpch","11",4,"O",40.5
        |"U","orders","tpch","12",1,"F",11.0
        |""".stripMargin)
    Files.writeString(
      Paths.get(PathCodec.dmlPath(inc, PathCodec.DmlPathKey("tpch", "orders", 100L, 0L, "2024-01-01"), 2L)),
      """"D","orders","tpch","13",2,"O",20.0
        |"U","orders","tpch","14",3,"F",31.0
        |""".stripMargin)
  }

  private def writeDdlFixtures(root: String): Unit = {
    val inc = s"$root/increment"
    val key = PathCodec.DmlPathKey("tpch", "orders", 200L, 0L, "2024-01-02")
    Files.createDirectories(Paths.get(PathCodec.dmlPath(inc, key, 1L)).getParent)
    Files.writeString(
      Paths.get(PathCodec.schemaPath(inc, "tpch", "orders", 200L)),
      TableDefJson.write(defV200))
    Files.writeString(
      Paths.get(PathCodec.dmlPath(inc, key, 1L)),
      """"I","orders","tpch","21",5,"O",40.0,"hello"
        |"U","orders","tpch","22",1,"F",11.5,"note1"
        |""".stripMargin)
  }

  private def snapshotDf = Seq(
    (1L, "O", 10.0), (2L, "O", 20.0), (3L, "F", 30.0))
    .toDF("o_orderkey", "o_status", "o_price")

  test("snapshot → stream → merged target, with DDL mid-stream and resume") {
    val root = Files.createTempDirectory("graft-stream").toString
    writeFixtures(root)
    Files.createDirectories(Paths.get(s"$root/snapshot"))
    val cfg = PipelineConfig(
      incrementRoot = s"$root/increment",
      schemaName = "tpch", tableName = "orders",
      targetRoot = s"$root/target",
      checkpointDir = s"$root/ckpt",
      seed = defV100.copy(tableVersion = 0L), // snapshot-time schema
      startTso = 10L)

    // stage 1: snapshot load (S7/S11) + stream start (R1 Full mode)
    val q = ReplicationJob.replicateTable(spark, snapshotDf, s"$root/snapshot", cfg).get
    q.processAllAvailable()
    q.stop()

    val target = new TargetTable(spark, cfg.targetRoot)
    val got1 = target.read().as[(Long, String, Double)].collect().toSet
    // snapshot {1,2,3}; stream: key 9 stale-filtered, 4 inserted,
    // 1 and 3 updated, 2 deleted
    assert(got1 == Set((1L, "F", 11.0), (3L, "F", 31.0), (4L, "O", 40.5)))
    assert(SnapshotLoader.isLoaded(s"$root/snapshot", cfg.seed))

    // stage 2: DDL (add column) + more data arrive; resume from checkpoint
    writeDdlFixtures(root)
    val q2 = new IncrementalPipeline(spark, cfg).start()
    q2.processAllAvailable()
    q2.stop()

    val got2 = target.read()
      .select("o_orderkey", "o_status", "o_price", "o_note")
      .as[(Long, String, Double, Option[String])].collect().toSet
    assert(got2 == Set(
      (1L, "F", 11.5, Some("note1")), // updated at v200
      (3L, "F", 31.0, None), // untouched, evolved with null note
      (4L, "O", 40.5, None),
      (5L, "O", 40.0, Some("hello")))) // inserted at v200
    assert(target.readMarker("schema_version").contains("200"))

    // stage 3: replay safety — rerunning snapshot load is a no-op (M7)
    assert(!SnapshotLoader.load(spark, snapshotDf, target, s"$root/snapshot", cfg.seed))

    // stage 4: TRUNCATE passthrough mid-stream (D2 special case) —
    // target empties, then subsequent inserts apply
    val defV300 = defV200.copy(
      tableVersion = 300L, query = "TRUNCATE TABLE orders",
      tpe = graft.catalog.SchemaEvolution.Action.TruncateTable)
    val key300 = PathCodec.DmlPathKey("tpch", "orders", 300L, 0L, "2024-01-03")
    Files.createDirectories(Paths.get(PathCodec.dmlPath(s"$root/increment", key300, 1L)).getParent)
    Files.writeString(
      Paths.get(PathCodec.schemaPath(s"$root/increment", "tpch", "orders", 300L)),
      TableDefJson.write(defV300))
    Files.writeString(
      Paths.get(PathCodec.dmlPath(s"$root/increment", key300, 1L)),
      """"I","orders","tpch","31",7,"O",70.0,"fresh"
        |""".stripMargin)
    val q3 = new IncrementalPipeline(spark, cfg).start()
    q3.processAllAvailable()
    q3.stop()
    val got3 = target.read()
      .select("o_orderkey", "o_status", "o_price", "o_note")
      .as[(Long, String, Double, Option[String])].collect().toSet
    assert(got3 == Set((7L, "O", 70.0, Some("fresh"))),
      "TRUNCATE must wipe pre-truncate rows; post-truncate insert applies")
  }

  test("maintainView: the per-status view tracks the table through merge, resume, and DDL") {
    val root = Files.createTempDirectory("graft-stream-view").toString
    writeFixtures(root)
    Files.createDirectories(Paths.get(s"$root/snapshot"))
    val cfg = PipelineConfig(
      incrementRoot = s"$root/increment",
      schemaName = "tpch", tableName = "orders",
      targetRoot = s"$root/target",
      checkpointDir = s"$root/ckpt",
      seed = defV100.copy(tableVersion = 0L),
      startTso = 10L,
      maintainView = Some(("o_status", "o_price")))

    def viewNow(): Set[(String, Long, Double)] =
      spark.read.parquet(s"$root/target/_view")
        .select(col("o_status"), col("cnt"), col("sum_value").cast("double"))
        .as[(String, Long, Double)].collect().toSet
    def recompute(target: TargetTable): Set[(String, Long, Double)] =
      graft.merge.ViewMaintain.viewOf(target.read(), "o_status", "o_price")
        .select(col("o_status"), col("cnt"), col("sum_value").cast("double"))
        .as[(String, Long, Double)].collect().toSet

    val q = ReplicationJob.replicateTable(spark, snapshotDf, s"$root/snapshot", cfg).get
    q.processAllAvailable()
    q.stop()
    val target = new TargetTable(spark, cfg.targetRoot)
    // final table: (1,F,11.0) (3,F,31.0) (4,O,40.5)
    assert(viewNow() == Set(("F", 2L, 42.0), ("O", 1L, 40.5)))
    assert(viewNow() == recompute(target), "maintained view diverged from recompute")

    // resume with a DDL version — the recompute branch must refresh the
    // view to the evolved, post-merge table
    writeDdlFixtures(root)
    val q2 = new IncrementalPipeline(spark, cfg).start()
    q2.processAllAvailable()
    q2.stop()
    assert(viewNow() == recompute(target),
      "view must refresh through the DDL full-rewrite path")
    assert(viewNow() == Set(("F", 2L, 42.5), ("O", 2L, 80.5)))
  }

  test("AvailableNow drains pending files, self-terminates, resumes incrementally") {
    val root = Files.createTempDirectory("graft-availnow").toString
    writeFixtures(root)
    val cfg = PipelineConfig(
      incrementRoot = s"$root/increment",
      schemaName = "tpch", tableName = "orders",
      targetRoot = s"$root/target",
      checkpointDir = s"$root/ckpt",
      seed = defV100.copy(tableVersion = 0L),
      startTso = 10L,
      availableNow = true)

    // seed the target with the snapshot (the snapshot stage's job in full mode)
    cfg.targetTable(spark).writeVersion(snapshotDf, "snapshot")

    // run 1: drains both pending CDC files and STOPS ON ITS OWN
    val q = new IncrementalPipeline(spark, cfg).start()
    assert(q.awaitTermination(120000), "AvailableNow query must self-terminate")
    val target = new TargetTable(spark, cfg.targetRoot)
    val got1 = target.read().as[(Long, String, Double)].collect().toSet
    assert(got1 == Set((1L, "F", 11.0), (3L, "F", 31.0), (4L, "O", 40.5)),
      s"drain must apply all pending changes: $got1")

    // run 2 (the next cron tick): only the newly arrived file processes,
    // from the same checkpoint
    val key = PathCodec.DmlPathKey("tpch", "orders", 100L, 0L, "2024-01-01")
    Files.writeString(
      Paths.get(PathCodec.dmlPath(s"$root/increment", key, 3L)),
      """"I","orders","tpch","15",6,"O",60.0
        |""".stripMargin)
    val q2 = new IncrementalPipeline(spark, cfg).start()
    assert(q2.awaitTermination(120000), "resumed AvailableNow query must self-terminate")
    val got2 = target.read().as[(Long, String, Double)].collect().toSet
    assert(got2 == got1 + ((6L, "O", 60.0)), s"second drain applies only new data: $got2")
  }

  test("a quoted field with an embedded NEWLINE merges intact via the repair read") {
    val root = Files.createTempDirectory("graft-newline").toString
    val inc = s"$root/increment"
    val key = PathCodec.DmlPathKey("tpch", "orders", 100L, 0L, "2024-01-01")
    Files.createDirectories(Paths.get(PathCodec.dmlPath(inc, key, 1L)).getParent)
    Files.writeString(
      Paths.get(PathCodec.schemaPath(inc, "tpch", "orders", 100L)),
      TableDefJson.write(defV100))
    // o_status carries a legal TiCDC value with an embedded newline —
    // the line source splits the record in two; quote-parity detection
    // must route THIS file to the multiLine read and merge it intact,
    // while the second (clean) file stays on the line path
    Files.writeString(
      Paths.get(PathCodec.dmlPath(inc, key, 1L)),
      "\"I\",\"orders\",\"tpch\",\"11\",7,\"multi\nline\",70.5\n")
    Files.writeString(
      Paths.get(PathCodec.dmlPath(inc, key, 2L)),
      "\"I\",\"orders\",\"tpch\",\"12\",8,\"plain\",80.0\n")
    val cfg = PipelineConfig(
      incrementRoot = inc,
      schemaName = "tpch", tableName = "orders",
      targetRoot = s"$root/target",
      checkpointDir = s"$root/ckpt",
      seed = defV100.copy(tableVersion = 0L),
      startTso = 1L,
      availableNow = true)
    cfg.targetTable(spark).writeVersion(snapshotDf, "snapshot")
    val q = new IncrementalPipeline(spark, cfg).start()
    assert(q.awaitTermination(120000), "AvailableNow query must self-terminate")
    val got = new TargetTable(spark, cfg.targetRoot).read()
      .as[(Long, String, Double)].collect().toSet
    assert(got == Set(
      (1L, "O", 10.0), (2L, "O", 20.0), (3L, "F", 30.0),
      (7L, "multi\nline", 70.5), (8L, "plain", 80.0)),
      s"embedded-newline record must merge intact: $got")
  }

  test("M5: DDL ADD COLUMN applies in-stream, no restart") {
    val root = Files.createTempDirectory("graft-instream").toString
    writeFixtures(root)
    Files.createDirectories(Paths.get(s"$root/snapshot"))
    val cfg = PipelineConfig(
      incrementRoot = s"$root/increment",
      schemaName = "tpch", tableName = "orders",
      targetRoot = s"$root/target",
      checkpointDir = s"$root/ckpt",
      seed = defV100.copy(tableVersion = 0L),
      startTso = 10L,
      warehouseSqlDialect = Some(graft.dialects.SnowflakeDialect))
    val q = ReplicationJob.replicateTable(spark, snapshotDf, s"$root/snapshot", cfg).get
    q.processAllAvailable() // v100 consumed at width 3
    // v200 (4 data cols) arrives while the SAME query is live — the
    // line-oriented stream + per-version parse makes the width dynamic;
    // a csv-source stream would die here referencing a missing _c7
    writeDdlFixtures(root)
    q.processAllAvailable()
    q.stop()
    val got = new TargetTable(spark, cfg.targetRoot).read()
      .select("o_orderkey", "o_status", "o_price", "o_note")
      .as[(Long, String, Double, Option[String])].collect().toSet
    assert(got == Set(
      (1L, "F", 11.5, Some("note1")),
      (3L, "F", 31.0, None),
      (4L, "O", 40.5, None),
      (5L, "O", 40.0, Some("hello"))))
    // the audit trail carries the statements the reference would have
    // executed: a MERGE per applied version, and the ADD COLUMN ALTER
    // for the v100→v200 DDL step
    val sqlDir = Paths.get(cfg.targetRoot, "_warehouse_sql")
    val sqls = scala.util.Using.resource(Files.list(sqlDir)) { s =>
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.map(p => new String(Files.readAllBytes(p), "UTF-8")).toSeq
    }
    assert(sqls.nonEmpty && sqls.forall(_.contains("MERGE INTO orders AS T USING")))
    assert(sqls.exists(_.contains("ALTER TABLE orders ADD COLUMN o_note VARCHAR(255);")))
  }

  test("reference limitation 4 fixed: DDL-first increment, no prior DML, applies cleanly") {
    // the reference errors unless at least one DML precedes a DDL
    // (README known-limitation 4); here the FIRST increment files are
    // already the post-DDL schema version — no v100 DML ever arrives —
    // and the pipeline must diff seed→v200, apply the ALTER, widen the
    // snapshot rows with NULLs, and merge the v200 rows
    val root = Files.createTempDirectory("graft-ddlfirst").toString
    writeDdlFixtures(root) // ONLY v200 schema + DML; no v100 increment at all
    Files.createDirectories(Paths.get(s"$root/snapshot"))
    val cfg = PipelineConfig(
      incrementRoot = s"$root/increment",
      schemaName = "tpch", tableName = "orders",
      targetRoot = s"$root/target",
      checkpointDir = s"$root/ckpt",
      seed = defV100.copy(tableVersion = 0L),
      startTso = 10L,
      warehouseSqlDialect = Some(graft.dialects.SnowflakeDialect))
    val q = ReplicationJob.replicateTable(spark, snapshotDf, s"$root/snapshot", cfg).get
    q.processAllAvailable()
    q.stop()
    val got = new TargetTable(spark, cfg.targetRoot).read()
      .select("o_orderkey", "o_status", "o_price", "o_note")
      .as[(Long, String, Double, Option[String])].collect().toSet
    assert(got == Set(
      (1L, "F", 11.5, Some("note1")), // v200 update of a snapshot row
      (2L, "O", 20.0, None), // untouched snapshot rows, NULL-widened
      (3L, "F", 30.0, None),
      (5L, "O", 40.0, Some("hello")))) // v200 insert
    assert(new TargetTable(spark, cfg.targetRoot).readMarker("schema_version").contains("200"))
    // the ALTER lands in the audit trail even with zero pre-DDL DML
    val sqlDir = Paths.get(cfg.targetRoot, "_warehouse_sql")
    val sqls = scala.util.Using.resource(Files.list(sqlDir)) { s =>
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.map(p => new String(Files.readAllBytes(p), "UTF-8")).toSeq
    }
    assert(sqls.exists(_.contains("ALTER TABLE orders ADD COLUMN o_note VARCHAR(255);")),
      s"missing DDL in audit trail: $sqls")
  }

  test("crash after the version land, before the schema marker: restart replays the batch and converges (steady-state AND DDL)") {
    import graft.tools.Failpoints
    // the flagship CDC path's own two-land gap: TargetTable has
    // committed data_<vId> and repointed _current, but the
    // schema_version marker / audit SQL / metrics never ran. The
    // restarted stream redelivers the batch (offsets were never
    // committed); the replay recomputes, no-ops on the existing
    // version id (discarding whatever it recomputed — including the
    // DDL branch's re-evolution of already-evolved data), and finishes
    // the bookkeeping.
    val root = Files.createTempDirectory("graft-crash").toString
    writeFixtures(root)
    Files.createDirectories(Paths.get(s"$root/snapshot"))
    val cfg = PipelineConfig(
      incrementRoot = s"$root/increment",
      schemaName = "tpch", tableName = "orders",
      targetRoot = s"$root/target",
      checkpointDir = s"$root/ckpt",
      seed = defV100.copy(tableVersion = 0L),
      startTso = 10L)

    // stage 1: crash mid-first-increment (steady-state merge path)
    Failpoints.arm("cdc.after-version-land")
    val q = ReplicationJob.replicateTable(spark, snapshotDf, s"$root/snapshot", cfg).get
    val e = intercept[Throwable] { q.processAllAvailable() }
    q.stop()
    def rootCause(t: Throwable): Throwable =
      if (t.getCause == null || t.getCause == t) t else rootCause(t.getCause)
    assert(rootCause(e).isInstanceOf[Failpoints.InjectedCrash],
      s"expected the injected crash, got: ${rootCause(e)}")
    val target = new TargetTable(spark, cfg.targetRoot)
    assert(target.readMarker("schema_version").isEmpty,
      "fixture: the crash must land BEFORE the schema marker")

    val q2 = new IncrementalPipeline(spark, cfg).start()
    q2.processAllAvailable()
    q2.stop()
    assert(target.read().as[(Long, String, Double)].collect().toSet ==
      Set((1L, "F", 11.0), (3L, "F", 31.0), (4L, "O", 40.5)),
      "replayed steady-state batch did not converge to the no-crash answer")
    assert(target.readMarker("schema_version").contains("100"),
      "the replay must finish the crashed batch's bookkeeping")

    // stage 2: crash mid-DDL-batch — the replay's re-evolution of
    // already-evolved data is computed and DISCARDED by the version
    // no-op; the committed image stands
    writeDdlFixtures(root)
    Failpoints.arm("cdc.after-version-land")
    val q3 = new IncrementalPipeline(spark, cfg).start()
    val e2 = intercept[Throwable] { q3.processAllAvailable() }
    q3.stop()
    assert(rootCause(e2).isInstanceOf[Failpoints.InjectedCrash])
    assert(target.readMarker("schema_version").contains("100"),
      "marker must still read the pre-DDL version after the crash")

    val q4 = new IncrementalPipeline(spark, cfg).start()
    q4.processAllAvailable()
    q4.stop()
    assert(target.read()
      .select("o_orderkey", "o_status", "o_price", "o_note")
      .as[(Long, String, Double, Option[String])].collect().toSet ==
      Set((1L, "F", 11.5, Some("note1")), (3L, "F", 31.0, None),
        (4L, "O", 40.5, None), (5L, "O", 40.0, Some("hello"))),
      "replayed DDL batch did not converge to the no-crash answer")
    assert(target.readMarker("schema_version").contains("200"))
  }

  test("M5/O1: one micro-batch spanning two schema versions applies in version order") {
    val root = Files.createTempDirectory("graft-multiver").toString
    writeFixtures(root)
    writeDdlFixtures(root) // v100 AND v200 files all visible before start
    Files.createDirectories(Paths.get(s"$root/snapshot"))
    val cfg = PipelineConfig(
      incrementRoot = s"$root/increment",
      schemaName = "tpch", tableName = "orders",
      targetRoot = s"$root/target",
      checkpointDir = s"$root/ckpt",
      seed = defV100.copy(tableVersion = 0L),
      startTso = 10L,
      maxFilesPerTrigger = 1000) // everything lands in one trigger
    val q = ReplicationJob.replicateTable(spark, snapshotDf, s"$root/snapshot", cfg).get
    q.processAllAvailable()
    q.stop()
    val got = new TargetTable(spark, cfg.targetRoot).read()
      .select("o_orderkey", "o_status", "o_price", "o_note")
      .as[(Long, String, Double, Option[String])].collect().toSet
    assert(got == Set(
      (1L, "F", 11.5, Some("note1")), // v100 update then v200 update, in order
      (3L, "F", 31.0, None),
      (4L, "O", 40.5, None),
      (5L, "O", 40.0, Some("hello"))))
    assert(new TargetTable(spark, cfg.targetRoot).readMarker("schema_version").contains("200"))
  }

  test("partition-scoped merge rewrites only touched buckets, links the rest") {
    import graft.cdc.Envelope
    import graft.merge.ChangeApply
    val root = Files.createTempDirectory("graft-bucket").toString
    val t = new TargetTable(spark, root, Seq("k"), 4)
    val init = Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"),
      (5L, "e"), (6L, "f"), (7L, "g"), (8L, "h")).toDF("k", "v")
    t.writeVersion(init, "v0")

    val latest = Seq((1L, "U", 10L, "a2"))
      .toDF("k", Envelope.FlagCol, Envelope.CommitTsCol, "v")
    val touched = t.touchedBuckets(latest.select("k"))
    assert(touched.size == 1, "a single key touches exactly one bucket")
    val merged = ChangeApply.applyLatest(t.readBuckets(touched), latest, Seq("k"))
    t.mergeVersion(merged, touched, "v1")

    assert(t.read().as[(Long, String)].collect().toSet ==
      Set((1L, "a2"), (2L, "b"), (3L, "c"), (4L, "d"),
        (5L, "e"), (6L, "f"), (7L, "g"), (8L, "h")))

    // untouched bucket files must be carried over without rewrite —
    // hard links, i.e. literally the same file
    val v0 = Paths.get(root, "data_v0")
    val v1 = Paths.get(root, "data_v1")
    var checked = 0
    (0 until 4).filterNot(touched.contains).foreach { b =>
      val d0 = v0.resolve(s"_bucket=$b")
      if (Files.exists(d0)) {
        val it = Files.list(d0)
        try it.iterator().forEachRemaining { f =>
          if (f.getFileName.toString.endsWith(".parquet")) {
            assert(Files.isSameFile(f, v1.resolve(s"_bucket=$b").resolve(f.getFileName.toString)),
              s"bucket $b file ${f.getFileName} must be linked, not rewritten")
            checked += 1
          }
        } finally it.close()
      }
    }
    assert(checked > 0, "expected at least one untouched bucket file to verify")
    // touched bucket was rewritten: new files, correct content only there
    assert(Files.exists(v1.resolve(s"_bucket=${touched.head}")))
  }

  test("crash before the version swap: readers keep the current version, the retry lands over the orphan tmp") {
    import graft.cdc.Envelope
    import graft.merge.ChangeApply
    import graft.tools.Failpoints
    val root = Files.createTempDirectory("graft-tmpcrash").toString
    val t = new TargetTable(spark, root, Seq("k"), 4)
    t.writeVersion(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"), "v0")

    // writeVersion gap: full image written under a hidden tmp, no swap
    Failpoints.arm("target.before-move")
    intercept[Failpoints.InjectedCrash] {
      t.writeVersion(Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")).toDF("k", "v"), "v1")
    }
    assert(graft.storage.Publish.tmpsOf(Paths.get(root), "data_v1").nonEmpty,
      "fixture: the crash must land after the tmp write")
    assert(!t.hasVersion("v1"), "an unswapped tmp must not read as a version")
    assert(t.read().as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b"), (3L, "c")),
      "readers must keep serving the current version past the orphan")
    assert(t.writeVersion(
      Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")).toDF("k", "v"), "v1"),
      "the retry must land over the orphan tmp")
    assert(t.read().as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")))

    // mergeVersion gap: merged buckets + carryover links laid, no swap
    val latest = Seq((2L, "U", 10L, "b2"))
      .toDF("k", Envelope.FlagCol, Envelope.CommitTsCol, "v")
    val touched = t.touchedBuckets(latest.select("k"))
    val merged = ChangeApply.applyLatest(t.readBuckets(touched), latest, Seq("k"))
      .localCheckpoint() // pin the pre-merge read before any swap happens
    Failpoints.arm("target.before-move")
    intercept[Failpoints.InjectedCrash] { t.mergeVersion(merged, touched, "v2") }
    assert(t.read().as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")),
      "a crashed merge must not tear the readable image")
    assert(t.mergeVersion(merged, touched, "v2"), "the merge retry must land")
    assert(t.read().as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b2"), (3L, "c"), (4L, "d")))
  }

  test("high bucket count: a 1-key batch rewrites exactly 1 of 256 buckets") {
    import graft.cdc.Envelope
    import graft.merge.ChangeApply
    val root = Files.createTempDirectory("graft-bucket256").toString
    val t = new TargetTable(spark, root, Seq("k"), 256)
    // 512 keys → ~all 256 buckets populated (2 keys/bucket expected)
    val init = (1L to 512L).map(k => (k, s"v$k")).toDF("k", "v")
    t.writeVersion(init, "v0")
    val latest = Seq((7L, "U", 10L, "v7-updated"))
      .toDF("k", Envelope.FlagCol, Envelope.CommitTsCol, "v")
    val touched = t.touchedBuckets(latest.select("k"))
    assert(touched.size == 1, s"one key → one bucket, got $touched")
    t.mergeVersion(
      ChangeApply.applyLatest(t.readBuckets(touched), latest, Seq("k")), touched, "v1")
    assert(t.read().filter($"k" === 7L).as[(Long, String)].collect().toSeq ==
      Seq((7L, "v7-updated")))
    assert(t.read().count() == 512)
    // every untouched populated bucket carried over AS LINKS (same inode),
    // and only the touched bucket got new files
    val v0 = Paths.get(root, "data_v0")
    val v1 = Paths.get(root, "data_v1")
    var linked = 0
    var rewritten = 0
    (0 until 256).foreach { b =>
      val d0 = v0.resolve(s"_bucket=$b")
      val d1 = v1.resolve(s"_bucket=$b")
      if (Files.exists(d0)) {
        val it = Files.list(d0)
        try it.iterator().forEachRemaining { f =>
          if (f.getFileName.toString.endsWith(".parquet")) {
            if (touched.contains(b)) {
              assert(!Files.exists(d1.resolve(f.getFileName.toString)) ||
                !Files.isSameFile(f, d1.resolve(f.getFileName.toString)),
                s"touched bucket $b must be rewritten, not linked")
              rewritten += 1
            } else {
              assert(Files.isSameFile(f, d1.resolve(f.getFileName.toString)),
                s"untouched bucket $b must be hard-linked")
              linked += 1
            }
          }
        } finally it.close()
      }
    }
    assert(rewritten >= 1, "the touched bucket must exist in v0")
    assert(linked >= 200, s"expected ~255 untouched populated buckets, linked=$linked")
  }

  test("time travel: retained versions readable AS OF, shared via links") {
    import graft.cdc.Envelope
    import graft.merge.ChangeApply
    val root = Files.createTempDirectory("graft-timetravel").toString
    val t = new TargetTable(spark, root, Seq("k"), 4)
    t.writeVersion(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), "v0")
    val latest = Seq((1L, "U", 10L, "a2")).toDF("k", Envelope.FlagCol, Envelope.CommitTsCol, "v")
    val touched = t.touchedBuckets(latest.select("k"))
    t.mergeVersion(ChangeApply.applyLatest(t.readBuckets(touched), latest, Seq("k")), touched, "v1")

    assert(t.versions == Seq("v0", "v1"))
    assert(t.readAt("v0").as[(Long, String)].collect().toSet == Set((1L, "a"), (2L, "b")),
      "the pre-merge image must still read exactly")
    assert(t.readAt("v1").as[(Long, String)].collect().toSet == Set((1L, "a2"), (2L, "b")))
    assert(t.read().as[(Long, String)].collect().toSet == Set((1L, "a2"), (2L, "b")))
    intercept[IllegalArgumentException](t.readAt("v99"))

    // gc keeps 2: a third version evicts v0 from the travel window
    val l2 = Seq((2L, "U", 20L, "b2")).toDF("k", Envelope.FlagCol, Envelope.CommitTsCol, "v")
    val t2 = t.touchedBuckets(l2.select("k"))
    t.mergeVersion(ChangeApply.applyLatest(t.readBuckets(t2), l2, Seq("k")), t2, "v2")
    assert(t.versions == Seq("v1", "v2"))
    assert(t.readAt("v1").as[(Long, String)].collect().toSet == Set((1L, "a2"), (2L, "b")),
      "hard-linked files must survive the old version's deletion")
  }

  test("compaction: multi-file buckets rewritten to one file each, data intact") {
    import graft.cdc.Envelope
    import graft.merge.ChangeApply
    val root = Files.createTempDirectory("graft-compact").toString
    val t = new TargetTable(spark, root, Seq("k"), 4)
    val rows = (1L to 400L).map(k => (k, s"v$k"))
    t.writeVersion(rows.toDF("k", "v").repartition(8), "v0")
    val before = t.bucketFileCounts
    assert(before.values.exists(_ > 4), s"expected multi-file buckets, got $before")

    val rewritten = t.compact("c1", maxFilesPerBucket = 4)
    assert(rewritten == before.filter(_._2 > 4).keys.toSeq.sorted)
    assert(t.bucketFileCounts.values.forall(_ == 1), s"got ${t.bucketFileCounts}")
    assert(t.read().as[(Long, String)].collect().toSet == rows.toSet)
    assert(t.compact("c2", maxFilesPerBucket = 4).isEmpty, "second pass must be a no-op")

    // a subsequent merge fragments ONE bucket; compaction rewrites only
    // it and carries the other single-file buckets over by link
    val latest = Seq((1L, "U", 10L, "v1b")).toDF("k", Envelope.FlagCol, Envelope.CommitTsCol, "v")
    val touched = t.touchedBuckets(latest.select("k"))
    t.mergeVersion(
      ChangeApply.applyLatest(t.readBuckets(touched), latest, Seq("k")).repartition(8),
      touched, "v1")
    assert(t.bucketFileCounts(touched.head) > 1)
    val again = t.compact("c3", maxFilesPerBucket = 1)
    assert(again == touched, s"only the fragmented bucket should rewrite, got $again")
    assert(t.bucketFileCounts.values.forall(_ == 1))
    assert(t.read().as[(Long, String)].collect().toSet == (rows.toSet - ((1L, "v1")) + ((1L, "v1b"))))
  }

  test("R2: two tables replicate concurrently with per-table status/metrics") {
    import graft.streaming.{ApiServer, GraftStreamingListener, ReplicationJob, ReplicationMetrics, StatusApi}
    import graft.streaming.ReplicationJob.TableJob
    val root = Files.createTempDirectory("graft-multi").toString
    val tables = Seq("t_alpha", "t_beta")
    val defs = tables.map { t =>
      t -> TableDefinition(
        schema = "tpch", table = t, tableVersion = 100L,
        columns = Seq(
          TableCol("1", "k", "bigint", nullable = "false", isPk = "true"),
          TableCol("2", "v", "varchar")))
    }.toMap
    tables.foreach { t =>
      val inc = s"$root/increment"
      val key = PathCodec.DmlPathKey("tpch", t, 100L, 0L, "2024-01-01")
      Files.createDirectories(Paths.get(PathCodec.dmlPath(inc, key, 1L)).getParent)
      Files.writeString(
        Paths.get(PathCodec.schemaPath(inc, "tpch", t, 100L)),
        TableDefJson.write(defs(t)))
      Files.writeString(
        Paths.get(PathCodec.dmlPath(inc, key, 1L)),
        s""""I","$t","tpch","11",4,"new-$t"
           |"U","$t","tpch","12",1,"upd-$t"
           |""".stripMargin)
      Files.createDirectories(Paths.get(s"$root/snapshot-$t"))
    }
    val metrics = new ReplicationMetrics
    val status = new StatusApi
    val listener = new GraftStreamingListener(metrics, status)
    spark.streams.addListener(listener)
    var api: ApiServer = null // bound by replicateTablesCloud below
    def fetch(path: String): String = {
      val conn = java.net.URI.create(s"http://127.0.0.1:${api.boundPort}$path")
        .toURL.openConnection().asInstanceOf[java.net.HttpURLConnection]
      try scala.io.Source.fromInputStream(conn.getInputStream).mkString
      finally conn.disconnect()
    }
    try {
      val jobs = tables.map { t =>
        TableJob(
          PipelineConfig(
            incrementRoot = s"$root/increment",
            schemaName = "tpch", tableName = t,
            targetRoot = s"$root/target-$t",
            checkpointDir = s"$root/ckpt-$t",
            seed = defs(t).copy(tableVersion = 0L),
            startTso = 10L),
          () => Seq((1L, s"snap-$t"), (2L, s"gone-$t")).toDF("k", "v"),
          s"$root/snapshot-$t")
      }
      // R1 cloud mode: API service bound for the job's lifetime
      val (server, handles) = ReplicationJob.replicateTablesCloud(spark, jobs, status, metrics)
      api = server
      assert(handles.forall(_.error.isEmpty), s"no table may fail: $handles")
      handles.flatMap(_.query).foreach { q => q.processAllAvailable(); q.stop() }

      tables.foreach { t =>
        val got = new TargetTable(spark, s"$root/target-$t").read()
          .as[(Long, String)].collect().toSet
        assert(got == Set((1L, s"upd-$t"), (2L, s"gone-$t"), (4L, s"new-$t")), s"table $t")
        assert(status.stageOf(t) == "loading_incremental")
        assert(status.statusOf(t) == "normal")
        assert(metrics.get(metrics.Names.TableVersion, t) == 100L)
        assert(metrics.get(metrics.Names.IncrementLoadedBytes, t) > 0)
        assert(metrics.get(metrics.Names.SnapshotLoadedBytes, t) > 0)
        assert(metrics.get(metrics.Names.IncrementPendingBytes, t) == 0L,
          "all discovered CDC bytes were merged → nothing pending")
      }
      // listener-fed row counts arrive asynchronously on the event bus
      val deadline = System.currentTimeMillis() + 10000
      while (tables.exists(t => metrics.get(metrics.Names.RowsLoaded, t) == 0)
          && System.currentTimeMillis() < deadline) Thread.sleep(100)
      tables.foreach { t =>
        assert(metrics.get(metrics.Names.RowsLoaded, t) > 0, s"listener rows for $t")
      }
      assert(status.render.contains(""""t_alpha""""))

      // R3 over HTTP, mid-replication state visible on both endpoints
      val info = fetch("/info")
      assert(info.contains(""""status": "running""""), info)
      tables.foreach { t =>
        assert(info.contains(s""""$t": {"stage": "loading_incremental", "status": "normal""""), info)
      }
      val prom = fetch("/metrics")
      assert(prom.contains("# TYPE graft_table_versions gauge"), prom)
      assert(prom.contains("# TYPE graft_rows_loaded counter"), prom)
      tables.foreach { t =>
        assert(prom.contains(s"""graft_table_versions{table="$t"} 100"""), prom)
        assert(prom.contains(s"""graft_snapshot_loaded_size{table="$t"}"""), prom)
      }
      assert(prom.contains(s"graft_table_num ${tables.size}"), prom)
    } finally {
      if (api != null) api.stop()
      spark.streams.removeListener(listener)
    }
  }

  test("PK-less table replicates with full-row merge identity") {
    val root = Files.createTempDirectory("graft-nopk").toString
    val defNoPk = TableDefinition(
      schema = "tpch", table = "logs", tableVersion = 100L,
      columns = Seq(
        TableCol("1", "k", "bigint"), // note: NOT marked isPk
        TableCol("2", "v", "varchar")))
    val inc = s"$root/increment"
    val key = PathCodec.DmlPathKey("tpch", "logs", 100L, 0L, "2024-01-01")
    Files.createDirectories(Paths.get(PathCodec.dmlPath(inc, key, 1L)).getParent)
    Files.writeString(
      Paths.get(PathCodec.schemaPath(inc, "tpch", "logs", 100L)),
      TableDefJson.write(defNoPk))
    // duplicate full rows + a delete identified by the full row image
    Files.writeString(
      Paths.get(PathCodec.dmlPath(inc, key, 1L)),
      """"I","logs","tpch","11",4,"new"
        |"D","logs","tpch","12",1,"a"
        |""".stripMargin)
    Files.createDirectories(Paths.get(s"$root/snapshot"))
    val cfg = PipelineConfig(
      incrementRoot = inc, schemaName = "tpch", tableName = "logs",
      targetRoot = s"$root/target", checkpointDir = s"$root/ckpt",
      seed = defNoPk.copy(tableVersion = 0L), startTso = 10L)
    assert(cfg.seed.mergeKeys == Seq("k", "v"), "no PK → full-row identity")
    val snap = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    val q = ReplicationJob.replicateTable(spark, snap, s"$root/snapshot", cfg).get
    q.processAllAvailable()
    q.stop()
    val got = new TargetTable(spark, cfg.targetRoot, cfg.seed.mergeKeys, cfg.numBuckets)
      .read().as[(Long, String)].collect().toSet
    // (1,"a") deleted by exact row image; (2,"b") untouched; (4,"new") inserted
    assert(got == Set((2L, "b"), (4L, "new")))
  }

  test("PK-less table: an Update event fails LOUDLY (delete+insert required)") {
    // full-row identity cannot apply a U (it names only the NEW image;
    // the old image would be stranded as a silent duplicate) — the
    // pipeline must kill the query with an actionable message, not merge
    val root = Files.createTempDirectory("graft-nopk-u").toString
    val defNoPk = TableDefinition(
      schema = "tpch", table = "logs", tableVersion = 100L,
      columns = Seq(
        TableCol("1", "k", "bigint"),
        TableCol("2", "v", "varchar")))
    val inc = s"$root/increment"
    val key = PathCodec.DmlPathKey("tpch", "logs", 100L, 0L, "2024-01-01")
    Files.createDirectories(Paths.get(PathCodec.dmlPath(inc, key, 1L)).getParent)
    Files.writeString(
      Paths.get(PathCodec.schemaPath(inc, "tpch", "logs", 100L)),
      TableDefJson.write(defNoPk))
    Files.writeString(
      Paths.get(PathCodec.dmlPath(inc, key, 1L)),
      """"U","logs","tpch","11",1,"renamed"
        |""".stripMargin)
    Files.createDirectories(Paths.get(s"$root/snapshot"))
    val cfg = PipelineConfig(
      incrementRoot = inc, schemaName = "tpch", tableName = "logs",
      targetRoot = s"$root/target", checkpointDir = s"$root/ckpt",
      seed = defNoPk.copy(tableVersion = 0L), startTso = 10L)
    val snap = Seq((1L, "a")).toDF("k", "v")
    val q = ReplicationJob.replicateTable(spark, snap, s"$root/snapshot", cfg).get
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.processAllAvailable()
    }
    q.stop()
    assert(e.getMessage.contains("delete+insert"),
      s"wrong failure: ${e.getMessage.take(300)}")
  }

  test("PK-less table: an Update MASKED by a later same-image event still fails LOUDLY") {
    // the guard must probe the PRE-dedup frame: with full-row merge
    // keys, a later Delete of the exact image the Update wrote would
    // collapse onto the Update's dedup key and hide it from `latest` —
    // the batch must still die before any write, because the Update's
    // PRE-image is already unstrandable
    val root = Files.createTempDirectory("graft-nopk-mask").toString
    val defNoPk = TableDefinition(
      schema = "tpch", table = "logs", tableVersion = 100L,
      columns = Seq(
        TableCol("1", "k", "bigint"),
        TableCol("2", "v", "varchar")))
    val inc = s"$root/increment"
    val key = PathCodec.DmlPathKey("tpch", "logs", 100L, 0L, "2024-01-01")
    Files.createDirectories(Paths.get(PathCodec.dmlPath(inc, key, 1L)).getParent)
    Files.writeString(
      Paths.get(PathCodec.schemaPath(inc, "tpch", "logs", 100L)),
      TableDefJson.write(defNoPk))
    // U writes image (1, renamed); D at a later ts deletes that SAME
    // image — dedup-by-full-image keeps only the D
    Files.writeString(
      Paths.get(PathCodec.dmlPath(inc, key, 1L)),
      """"U","logs","tpch","11",1,"renamed"
        |"D","logs","tpch","12",1,"renamed"
        |""".stripMargin)
    Files.createDirectories(Paths.get(s"$root/snapshot"))
    val cfg = PipelineConfig(
      incrementRoot = inc, schemaName = "tpch", tableName = "logs",
      targetRoot = s"$root/target", checkpointDir = s"$root/ckpt",
      seed = defNoPk.copy(tableVersion = 0L), startTso = 10L)
    val snap = Seq((1L, "a")).toDF("k", "v")
    val q = ReplicationJob.replicateTable(spark, snap, s"$root/snapshot", cfg).get
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.processAllAvailable()
    }
    q.stop()
    assert(e.getMessage.contains("delete+insert"),
      s"masked Update slipped past the guard: ${e.getMessage.take(300)}")
    // and nothing landed: the snapshot image is intact
    assert(new TargetTable(spark, cfg.targetRoot).read()
      .as[(Long, String)].collect().toSet == Set((1L, "a")),
      "the masked-Update batch must not have written anything")
  }

  test("M8 in-stream: watermarked windowed change rates over the CDC source") {
    import graft.streaming.ChangeStats
    val root = Files.createTempDirectory("graft-stats").toString
    writeFixtures(root) // ts 5,11,12 in file 1; 13,14 in file 2
    val cfg = PipelineConfig(
      incrementRoot = s"$root/increment",
      schemaName = "tpch", tableName = "orders",
      targetRoot = s"$root/target", checkpointDir = s"$root/ckpt-stats",
      seed = defV100.copy(tableVersion = 0L))
    val rates = ChangeStats.changeRates(spark, cfg, window = "10 seconds")
    val q = rates.writeStream
      .format("memory").queryName("change_rates").outputMode("update")
      .option("checkpointLocation", s"$root/ckpt-stats")
      .start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table("change_rates")
      .select("win_start", "flag", "n_changes")
      .as[(java.sql.Timestamp, String, Long)].collect()
      .map { case (w, f, n) => (w.toInstant.getEpochSecond, f, n) }.toSet
    // commit-ts seconds 5,11,12,13,14 → windows [0,10) and [10,20):
    // I@5, I@11, U@12, D@13, U@14
    assert(got == Set((0L, "I", 1L), (10L, "I", 1L), (10L, "U", 2L), (10L, "D", 1L)))
  }

  test("registry loads schema files from the increment layout") {
    val root = Files.createTempDirectory("graft-reg").toString
    writeFixtures(root)
    writeDdlFixtures(root)
    val reg = SchemaRegistry.loadFromDir(s"$root/increment", "tpch", "orders").get
    assert(reg.versions == Seq(100L, 200L))
    assert(reg.effectiveAt(150L).tableVersion == 100L)
    assert(reg.latest.columns.map(_.name).contains("o_note"))
    assert(reg.ddlBetween(100L, 200L).map(_.tableVersion) == Seq(200L))
  }

  test("registry rejects corrupt schema files (F6 checksum-on-read)") {
    val root = Files.createTempDirectory("graft-crc").toString
    writeFixtures(root)
    // version mismatch: path says 100, content says 999
    val p = Paths.get(PathCodec.schemaPath(s"$root/increment", "tpch", "orders", 100L))
    Files.writeString(p, TableDefJson.write(defV100.copy(tableVersion = 999L)))
    val e1 = intercept[RuntimeException](SchemaRegistry.loadFromDir(s"$root/increment", "tpch", "orders"))
    assert(e1.getMessage.contains("path version"))
    // unparseable content
    Files.writeString(p, "{ not json")
    val e2 = intercept[RuntimeException](SchemaRegistry.loadFromDir(s"$root/increment", "tpch", "orders"))
    assert(e2.getMessage.contains("unparseable"))
    // meta layout: filename checksum must match content CRC32
    Files.writeString(p, TableDefJson.write(defV100)) // restore
    val metaDir = Paths.get(s"$root/increment/tpch/orders/meta")
    Files.createDirectories(metaDir)
    val defV400 = defV100.copy(tableVersion = 400L)
    Files.writeString(metaDir.resolve(s"schema_400_${defV400.checksum}.json"), TableDefJson.write(defV400))
    assert(SchemaRegistry.loadFromDir(s"$root/increment", "tpch", "orders").get.versions.contains(400L))
    Files.writeString(metaDir.resolve(s"schema_400_${defV400.checksum}.json"),
      TableDefJson.write(defV400.copy(columns = defV400.columns.tail))) // tampered content
    val e3 = intercept[RuntimeException](SchemaRegistry.loadFromDir(s"$root/increment", "tpch", "orders"))
    assert(e3.getMessage.contains("checksum"))
  }

  test("registry walk survives a file vanishing mid-walk") {
    // a publisher's tmp renamed away or a retention delete: the entry is
    // listed, then gone before the walk reads its attributes
    val root = Files.createTempDirectory("graft-vanish").toString
    writeFixtures(root)
    val dateDir = Paths.get(PathCodec.dmlPath(s"$root/increment",
      PathCodec.DmlPathKey("tpch", "orders", 100L, 0L, "2024-01-01"), 1L)).getParent
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val churn = new Thread(() => {
      val tmp = dateDir.resolve("CDC000003.csv.tmp")
      while (!stop.get()) {
        Files.write(tmp, Array[Byte]('\n'))
        Files.delete(tmp)
      }
    })
    churn.start()
    val walks =
      try (1 to 20).map(_ => scala.util.Try(
        SchemaRegistry.loadFromDir(s"$root/increment", "tpch", "orders").map(_.versions)))
      finally { stop.set(true); churn.join() }
    assert(walks.forall(_ == scala.util.Success(Some(Seq(100L)))),
      s"walks failed while a file came and went: ${walks.filter(_.isFailure).take(3)}")
  }

  test("quarantine lane: corrupt CDC rows land as dead letters and the trigger COMPLETES; without it the FAILFAST contract holds") {
    def writeCorruptFixtures(root: String): Unit = {
      val inc = s"$root/increment"
      val key = PathCodec.DmlPathKey("tpch", "orders", 100L, 0L, "2024-01-01")
      Files.createDirectories(Paths.get(PathCodec.dmlPath(inc, key, 1L)).getParent)
      Files.writeString(
        Paths.get(PathCodec.schemaPath(inc, "tpch", "orders", 100L)),
        TableDefJson.write(defV100))
      // 5 lines: 2 good, 1 bad flag, 1 unparseable commit-ts, 1 wrong
      // width (an unquoted embedded comma's classic symptom)
      Files.writeString(
        Paths.get(PathCodec.dmlPath(inc, key, 1L)),
        """"I","orders","tpch","11",4,"O",40.5
          |"Z","orders","tpch","12",5,"BADFLAG",1.0
          |"U","orders","tpch","not-a-tso",1,"BADTS",2.0
          |"I","orders","tpch","13",6,"F",60.0,"extra","width"
          |"U","orders","tpch","14",3,"F",31.0
          |""".stripMargin)
      // a DIRTY file (quoted-newline record routes it to the multiLine
      // repair read) that ALSO carries a corrupt row — the quarantine
      // lane must work through BOTH parse paths in one trigger
      Files.writeString(
        Paths.get(PathCodec.dmlPath(inc, key, 2L)),
        "\"I\",\"orders\",\"tpch\",\"15\",8,\"multi\nline\",80.0\n" +
          "\"Z\",\"orders\",\"tpch\",\"16\",9,\"BADFLAG2\",1.0\n")
    }

    // lane ON: the trigger completes, good rows merge, dead letters land
    val root = Files.createTempDirectory("graft-quarantine").toString
    writeCorruptFixtures(root)
    Files.createDirectories(Paths.get(s"$root/snapshot"))
    val cfg = PipelineConfig(
      incrementRoot = s"$root/increment",
      schemaName = "tpch", tableName = "orders",
      targetRoot = s"$root/target",
      checkpointDir = s"$root/ckpt",
      seed = defV100.copy(tableVersion = 0L),
      startTso = 10L,
      quarantineDir = Some(s"$root/quarantine"))
    val q = ReplicationJob.replicateTable(spark, snapshotDf, s"$root/snapshot", cfg).get
    q.processAllAvailable()
    q.stop()

    val target = new TargetTable(spark, cfg.targetRoot)
    val got = target.read().as[(Long, String, Double)].collect().toSet
    // snapshot {1,2,3}; good stream rows: insert 4, update 3, plus the
    // repaired quoted-newline insert 8 from the DIRTY file; every
    // corrupt row quarantined — none landed, none killed the trigger
    assert(got == Set((1L, "O", 10.0), (2L, "O", 20.0), (3L, "F", 31.0),
      (4L, "O", 40.5), (8L, "multi\nline", 80.0)),
      s"quarantine run landed the wrong image: $got")

    val dead = new IncrementalPipeline(spark, cfg).readQuarantine()
      .select("reason", "raw").as[(String, String)].collect().toSeq
    assert(dead.map(_._1).sorted ==
      Seq("bad_commit_ts", "bad_flag", "bad_flag", "structural"),
      s"dead letters misclassified: $dead")
    // accounting invariant: rows_landed + rows_quarantined = rows_seen
    // (7 records across both parse paths; 3 good envelope rows
    // continued, 4 quarantined)
    assert(dead.size == 4)
    // the raw line is preserved for operator triage — on BOTH paths
    assert(dead.exists(_._2.contains("BADFLAG")), s"raw line lost: $dead")
    assert(dead.exists(_._2.contains("BADFLAG2")),
      s"multiLine-path raw record lost: $dead")

    // replay idempotence: re-landing the same version id must not
    // double-count dead letters
    val before = new IncrementalPipeline(spark, cfg).readQuarantine().count()
    val q2 = new IncrementalPipeline(spark, cfg).start()
    q2.processAllAvailable()
    q2.stop()
    assert(new IncrementalPipeline(spark, cfg).readQuarantine().count() == before,
      "a restarted stream duplicated quarantine rows")

    // lane OFF: the same fixture kills the trigger loudly (the
    // documented FAILFAST contract — no silent merging of garbage)
    val root2 = Files.createTempDirectory("graft-failfast").toString
    writeCorruptFixtures(root2)
    Files.createDirectories(Paths.get(s"$root2/snapshot"))
    val cfgStrict = cfg.copy(
      incrementRoot = s"$root2/increment",
      targetRoot = s"$root2/target",
      checkpointDir = s"$root2/ckpt",
      quarantineDir = None)
    val qs = ReplicationJob.replicateTable(spark, snapshotDf, s"$root2/snapshot", cfgStrict).get
    val e = intercept[Exception] { qs.processAllAvailable() }
    qs.stop()
    assert(e.toString.toLowerCase.contains("malformed") || e.getCause != null,
      s"FAILFAST run must die on the corrupt file: $e")
  }

  test("out-of-order CDC delivery fails loudly instead of stomping newer images") {
    // the merge applies each key's latest IN-BATCH image unconditionally,
    // so a file arriving after files with newer commit-ts (listing
    // anomaly on an eventually-consistent store, mis-ordered backfill)
    // would silently overwrite new data with old — the soak surfaced
    // exactly this with same-mtime fixtures. The commit-ts high-water
    // mark makes it a loud trigger failure.
    val root = Files.createTempDirectory("graft-ooo").toString
    val inc = s"$root/increment"
    val key = PathCodec.DmlPathKey("tpch", "orders", 100L, 0L, "2024-01-01")
    Files.createDirectories(Paths.get(PathCodec.dmlPath(inc, key, 1L)).getParent)
    Files.writeString(Paths.get(PathCodec.schemaPath(inc, "tpch", "orders", 100L)),
      TableDefJson.write(defV100))
    val cfg = PipelineConfig(
      incrementRoot = inc, schemaName = "tpch", tableName = "orders",
      targetRoot = s"$root/target", checkpointDir = s"$root/ckpt",
      seed = defV100.copy(tableVersion = 0L), startTso = 10L)
    Files.createDirectories(Paths.get(s"$root/snapshot"))

    // file 1 carries commit-ts 50; it lands and sets the watermark
    Files.writeString(Paths.get(PathCodec.dmlPath(inc, key, 1L)),
      "\"I\",\"orders\",\"tpch\",\"50\",7,\"NEW\",70.0\n")
    val q1 = ReplicationJob.replicateTable(spark, snapshotDf, s"$root/snapshot", cfg).get
    q1.processAllAvailable()
    q1.stop()
    val target = new TargetTable(spark, cfg.targetRoot)
    assert(target.readMarker("cdc_hwm").contains("50"))

    // file 2 arrives LATE carrying commit-ts 20 — an older image of the
    // same key that would silently roll price 70 back to 20
    Files.writeString(Paths.get(PathCodec.dmlPath(inc, key, 2L)),
      "\"U\",\"orders\",\"tpch\",\"20\",7,\"OLD\",20.0\n")
    val q2 = new IncrementalPipeline(spark, cfg).start()
    val e = intercept[Exception] { q2.processAllAvailable() }
    q2.stop()
    def rootMsg(t: Throwable): String =
      if (t.getCause == null || t.getCause == t) Option(t.getMessage).getOrElse("")
      else rootMsg(t.getCause)
    assert(rootMsg(e).contains("out of order"),
      s"late delivery must fail with the ordering message: ${rootMsg(e)}")
    // the target kept the NEWER image
    assert(target.read().filter(col("o_orderkey") === 7)
      .select("o_price").as[Double].collect().toSeq == Seq(70.0),
      "the stale image must not have landed")
  }

  test("DDL passthrough classification matches the reference's dispatch") {
    import graft.catalog.SchemaEvolution
    import graft.catalog.SchemaEvolution._
    assert(classify(defV100.copy(tpe = Action.TruncateTable)) == Wipe)
    assert(classify(defV100.copy(tpe = Action.DropTable)) == Wipe)
    assert(classify(defV100.copy(tpe = Action.DropSchema)) == Wipe)
    assert(classify(defV100.copy(tpe = Action.CreateTable)).isInstanceOf[Rejected])
    assert(classify(defV100.copy(tpe = Action.RenameTable)).isInstanceOf[Rejected])
    assert(classify(defV100.copy(tpe = 5)) == ColumnDdl) // ADD COLUMN
    // rejected actions fail the batch loudly
    val df = Seq((1L, "x", 1.0)).toDF("o_orderkey", "o_status", "o_price")
    intercept[RuntimeException](
      SchemaEvolution.applyDdl(df, defV100, defV100.copy(tpe = Action.RenameTable)))
  }
}
