package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.tools.PlanLint

/** The sweep-wide plan lint: every registered query's EXECUTED (post-
  * AQE) physical plan is walked for scale-killer shapes — cartesian
  * blowups, single-partition funnels, global windows, unbroadcast
  * bounded join sides. This is the universal form of the ~40
  * hand-pinned shapes in `PlanGuaranteesSpec`: those pin what someone
  * thought to pin; this rejects the killer shapes in ALL queries,
  * including ones added next round.
  *
  * The canary tests run deliberately bad plans through the lint first —
  * a lint that stops firing is itself a regression this suite must
  * catch.
  */
class PlanLintSpec extends AnyFunSuite {

  lazy val spark = GraftSession.build(4, "plan-lint-spec")
  private val sf = "/root/testdata/sf0.01"

  /** Every main source file: path relative to `src/main/scala/graft` →
    * its text. The source-level inventories below walk this. */
  private lazy val mainSources: Map[String, String] = {
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    scala.util.Using.resource(java.nio.file.Files.walk(root)) { s =>
      import scala.jdk.CollectionConverters._
      s.iterator().asScala
        .filter(p => p.toString.endsWith(".scala"))
        .map(p => root.relativize(p).toString -> java.nio.file.Files.readString(p))
        .toMap
    }
  }

  test("canary: a corpus-by-corpus cartesian product fires the lint") {
    val bad = spark.range(500).crossJoin(spark.range(500).withColumnRenamed("id", "id2"))
    val vs = PlanLint.lint("canary_cartesian", bad)
    assert(vs.exists(_.rule == "cartesian"), s"cartesian canary found: $vs")
    // the LEGITIMATE pattern — a one-row normalization frame — passes
    val ok = spark.range(500).crossJoin(
      spark.range(500).agg(sum(col("id")).as("total")))
    assert(PlanLint.lint("canary_one_row", ok).isEmpty,
      "a one-row aggregate cross join must not flag")
  }

  test("canary: a global window and a single-partition funnel fire the lint") {
    import org.apache.spark.sql.expressions.Window
    val win = spark.range(1000)
      .select(col("id"), row_number().over(Window.orderBy(col("id"))).as("r"))
    val wv = PlanLint.lint("canary_window", win)
    assert(wv.exists(_.rule == "global-window"), s"global-window canary found: $wv")

    val funnel = spark.range(1000).repartition(1).select(col("id") * 2)
    val fv = PlanLint.lint("canary_funnel", funnel)
    assert(fv.exists(_.rule == "single-partition-exchange"),
      s"single-partition canary found: $fv")

    // bounded inputs into the same shapes pass: rank-after-limit is the
    // pattern the queries use (retrieval_fusion), and a limit feeding
    // one partition is output formatting, not a funnel
    val okWin = spark.range(1000).orderBy(col("id")).limit(50)
      .select(col("id"), row_number().over(Window.orderBy(col("id"))).as("r"))
    assert(PlanLint.lint("canary_window_bounded", okWin).isEmpty,
      "a window over a limit-bounded frame must not flag")
  }

  test("canary: a shuffle join keeping a bounded broadcastable side fires the lint") {
    // force the planner's hand: with broadcast disabled, the 20-row
    // grouped aggregate stays a shuffle-join side — exactly the shape
    // the rule hunts (in production this arises when stats mislead, a
    // hint is lost, or AQE can't see through an intermediate operator)
    val conf = spark.conf
    val prevStatic = conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = conf.get("spark.sql.adaptive.autoBroadcastJoinThreshold", prevStatic)
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      val big = spark.range(10000).select(col("id"), pmod(col("id"), lit(20)).as("k"))
      val dim = spark.range(2000).select(pmod(col("id"), lit(20)).as("k"))
        .groupBy("k").agg(count(lit(1)).as("n"))
      val vs = PlanLint.lint("canary_smj", big.join(dim, "k"))
      assert(vs.exists(_.rule == "smj-small-side"), s"smj canary found: $vs")
      // full-outer diffs legitimately keep both sides shuffled — the
      // join type has no broadcastable position, so the lint stays quiet
      val diff = big.join(dim, Seq("k"), "full_outer")
      assert(!PlanLint.lint("canary_fullouter", diff).exists(_.rule == "smj-small-side"),
        "full outer joins have no broadcastable side and must not flag")
    } finally {
      conf.set("spark.sql.autoBroadcastJoinThreshold", prevStatic)
      conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", prevAqe)
    }
  }

  test("justified exemptions name registered queries and real rules") {
    val rules = Set("cartesian", "single-partition-exchange", "global-window", "smj-small-side")
    PlanLint.Justified.foreach { case ((q, rule), why) =>
      assert(SparkEntry.queries.contains(q), s"stale justification: $q is not a registered query")
      assert(rules.contains(rule), s"justification for unknown rule $rule")
      assert(why.length > 20, s"justification for ($q,$rule) must name the bounded plan term")
    }
  }

  test("driver-side collect inventory: every site pinned with a bounded-size justification") {
    // the one scale-killer a physical-plan walk cannot see: a
    // `.collect()` whose row count is data-proportional lives in
    // query-CONSTRUCTION code, not in the plan. This pins every such
    // site in src/main to a per-file count + justification naming the
    // BOUNDED term — a new collect fails CI until it is argued here,
    // mechanizing what was previously a manual per-round audit.
    val pattern = """\.collect\(\)|\.collectAsList\(\)|\.toLocalIterator""".r
    val justified: Map[String, (Int, String)] = Map(
      "queries/VectorQueries.scala" -> (4 ->
        "quantizer model state: kmeans centroid frames (≤ |centroids|), PQ training pools capped at PqPoolTarget"),
      "snapshot/DataLayoutN.scala" -> (3 ->
        "layout boundary stats and file lists — O(buckets|files), metadata not data"),
      "snapshot/DataLayout.scala" -> (2 ->
        "z-order boundary stats — O(buckets)"),
      "snapshot/ShardedExport.scala" -> (1 ->
        "per-shard row counts for the commit manifest — ≤ numShards rows"),
      "streaming/StreamShardedExport.scala" -> (1 ->
        "per-shard counts of the tmp write for marker publication — ≤ numShards rows"),
      "streaming/IncrementalPipeline.scala" -> (1 ->
        "one (path, dirty) row per CDC file per trigger — ≤ files/trigger at the 64 MiB file cap, never row data"),
      "streaming/StreamVectorIndex.scala" -> (1 ->
        "dense list index of the frozen quantizer — |centroids| longs"),
      "streaming/StreamLexicalIndex.scala" -> (1 ->
        "shard/term-bucket map — model-sized"),
      "streaming/StreamGraphIndex.scala" -> (1 ->
        "touched coarse cells per epoch — ≤ |cells|"),
      "snapshot/TargetTable.scala" -> (1 ->
        "touched bucket ids per merge — ≤ numBuckets ints, never row data"),
      "snapshot/BloomIndex.scala" -> (1 ->
        "per-bucket bloom bitsets — O(buckets) model state"),
      "queries/BpeQueries.scala" -> (1 ->
        "learned merge table — vocab-sized model state"),
      "merge/TableDiff.scala" -> (1 ->
        "per-bucket (rows, hashsum) summaries — N_buckets rows by construction"))
    val found = mainSources.map { case (f, text) => f -> pattern.findAllIn(text).size }
      .filter(_._2 > 0)
    val unjustified = found.filterNot { case (f, n) => justified.get(f).exists(_._1 == n) }
    assert(unjustified.isEmpty,
      "collect sites without a current justification (new site, or count drifted — " +
        s"re-argue the bounded term in PlanLintSpec): $unjustified")
    val stale = justified.keys.filterNot(found.contains)
    assert(stale.isEmpty, s"stale collect justifications (sites removed): $stale")
  }

  test("one publish seam: atomic renames, links and recursive deletes only in the storage module") {
    // every exactly-once land rests on these three host operations; a
    // hand-rolled copy outside `storage/Publish.scala` is a commit
    // protocol an object-store backend would silently miss
    val pattern = """ATOMIC_MOVE|Files\.createLink|def deleteRecursively""".r
    val outside = mainSources.toSeq.collect {
      case (f, text) if f != "storage/Publish.scala" && pattern.findFirstIn(text).isDefined =>
        f -> pattern.findAllIn(text).toSeq.distinct
    }
    assert(outside.isEmpty, s"publish primitives outside storage/Publish.scala: $outside")
    assert(pattern.findAllIn(mainSources("storage/Publish.scala")).nonEmpty,
      "the storage module must still own the primitives the lint hunts")
  }

  test("one micro-batch adapter: writeStream and epoch dirs only in MicroBatch, checkpoints required") {
    // a face that hand-rolls `writeStream…foreachBatch` is a second
    // adapter; one that takes an optional checkpoint restarts epoch ids
    // at 0 on a fresh temp checkpoint, and an epoch-keyed sink then
    // drops every new batch as a redelivery
    val adapter = "streaming/MicroBatch.scala"
    val rules = Seq(
      ("writeStream", """\bwriteStream\b""".r, Set(adapter, "streaming/IncrementalPipeline.scala")),
      ("epoch dir", "\"epoch=".r, Set(adapter)),
      ("optional checkpoint", """checkpoint\w*\s*:\s*Option\[String\]""".r, Set.empty[String]))
    val offenders = for {
      (rule, pattern, allowed) <- rules
      (f, text) <- mainSources.toSeq.sortBy(_._1)
      if !allowed(f) && pattern.findFirstIn(text).isDefined
    } yield s"$rule in $f"
    assert(offenders.isEmpty, s"micro-batch plumbing outside the adapter: $offenders")
    Seq("""\bwriteStream\b""".r, "\"epoch=".r).foreach { p =>
      assert(p.findFirstIn(mainSources(adapter)).isDefined, s"the adapter must still own $p")
    }
  }

  test("one measurement harness: one SparkListener, and no hard-coded session core count") {
    // every per-query counter comes from `ScaleAudit.measure`; a second
    // listener is a second, differently defined set of numbers, and a
    // literal core count is a session that ignores SPARK_GRAFT_CPUS
    val listener = """(new|extends)\s+SparkListener\b""".r
    val listeners = mainSources.toSeq.collect {
      case (f, text) if f != "tools/ScaleAudit.scala" && listener.findFirstIn(text).isDefined => f
    }
    assert(listeners.isEmpty, s"SparkListener implementations outside tools/ScaleAudit.scala: $listeners")
    assert(listener.findAllIn(mainSources("tools/ScaleAudit.scala")).size == 1,
      "tools/ScaleAudit.scala must hold exactly one SparkListener")
    val literalCores = """GraftSession\.build\(\s*\d""".r
    val pinned = mainSources.toSeq.collect {
      case (f, text) if literalCores.findFirstIn(text).isDefined => f
    }
    assert(pinned.isEmpty, s"GraftSession.build with a literal core count: $pinned")
  }

  test("every registered query's executed plan lints clean at sf0.01") {
    Tables.prepareAll(spark, sf)
    val violations = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val vs =
        try PlanLint.lint(name, fn(spark, sf))
        catch {
          case e: Throwable =>
            Seq(PlanLint.Violation(name, "error", "-", e.toString.take(200)))
        }
      spark.catalog.clearCache()
      vs
    }
    val unjustified = violations.filterNot(v => PlanLint.Justified.contains((v.query, v.rule)))
    assert(unjustified.isEmpty,
      s"scale-killer plan shapes without justification:\n${unjustified.mkString("\n")}")
  }
}
