package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.tools.ScaleAudit

/** CI gate on shuffle amplification — the round-6 verdict's task: the
  * 100 TB claims stop being asserted and start being ENFORCED. For the
  * most expensive queries in the bench sweep, this pins a per-query
  * ceiling on total shuffle-write bytes and on the largest single
  * task's shuffle write at sf0.01. A future edit that re-shuffles the
  * corpus (shuffle ≈ input instead of ≈ the bounded summary) or
  * hot-keys an exchange (one task carrying a whole exchange's bytes)
  * jumps these numbers by 10–50×; the ceilings carry ~4–8× headroom
  * over measured values, so they trip on plan regressions, not on
  * partition-count jitter.
  *
  * Why ABSOLUTE bytes, not amp/skew ratios: at test SF the input
  * denominator is pruned+dictionary-compressed to near zero, so ratio
  * gates would fire on noise (ScaleAudit's documented caveat — e.g.
  * vec_pq_topk's "amp" reads 9× while shuffling 0.1 MB). Shuffle bytes
  * at a FIXED sf are a deterministic function of the plan: bounded
  * summaries stay bounded, and a corpus re-shuffle at sf0.01 writes
  * ~5 MB+ against sub-MB ceilings.
  *
  * The canary test proves the meter catches both failure modes: a
  * deliberately corpus-re-shuffling, constant-keyed plan must EXCEED
  * the kind of ceiling pinned here.
  */
class ScaleAuditSpec extends AnyFunSuite {

  lazy val spark = GraftSession.build(4, "scale-audit-spec")

  private val sfDir = "/root/testdata/sf0.01"
  private val MB = 1048576.0

  // (query, shuffleWrite ceiling MB, maxTaskSw ceiling MB) — measured
  // at sf0.01 (2026-08, `ScaleAudit.measure`; re-read them from the cost
  // block of a `graft.Bench` run): sw 0.0-1.1 MB, maxTaskSw
  // ≤ 0.5 MB across all twelve. Raise a ceiling ONLY with a plan-level
  // justification in the commit message, never to make a red bar green.
  private val ceilings: Seq[(String, Double, Double)] = Seq(
    ("q1_pricing", 0.5, 0.5),
    ("q7_nation_volume", 0.5, 0.5),
    ("cdc_merge_into", 3.0, 2.0),
    ("text_lm_score", 4.5, 2.0),
    ("dedup_minhash_lsh", 1.5, 1.0),
    ("dedup_clusters_incremental", 1.5, 1.0),
    ("corpus_canonical_quality", 1.5, 1.0),
    ("corpus_domain_funnel", 0.5, 0.5),
    ("graph_domain_authority", 1.5, 1.0),
    ("vec_ivf_topk", 0.8, 0.8),
    ("vec_pq_topk", 0.8, 0.8),
    ("vec_drift", 0.8, 0.8),
    // round-7 shapes (measured sw 0.0 / 0.2 / 0.4 MB): the fingerprint
    // self-join must keep pairing inside buckets, and the recall evals
    // must stay two probe-sized legs + one keyed join
    ("mm_frame_neardup", 0.5, 0.5),
    ("vec_graph_recall", 1.0, 0.8),
    ("vec_ivfpq_recall", 1.5, 0.8),
    // round-8 shapes (measured sw 0.2 / 0.0 / 0.0 MB): the NProbe sweep
    // must grade all 8 settings from ONE scoring pass, the cached
    // crossmodal probe and the incremental audio probe must stay
    // probe-projection + keyed-join sized
    ("vec_ivf_nprobe_sweep", 1.0, 0.8),
    ("mm_crossmodal_ivf_topk_cached", 0.5, 0.5),
    ("mm_audio_dedup_incremental", 0.5, 0.5),
    // IVF mining leg (measured sw 0.0 MB): probed lists only, exact
    // backward leg stays candidate-bounded
    ("retrieval_bitext_mine_ivf", 0.5, 0.5))

  test("top bench queries stay under their pinned shuffle ceilings at sf0.01") {
    // memoized one-time builds bill to their first trigger — run them
    // outside the measured window (the Bench.scala prepare pattern)
    try queries.CurationQueries.prepareCanonicalLabels(spark, sfDir)
    catch { case _: Throwable => () }
    try queries.VectorQueries.prepareIvfIndex(spark, sfDir)
    catch { case _: Throwable => () }
    try queries.MediaQueries.prepareCrossmodalIvfIndex(spark, sfDir)
    catch { case _: Throwable => () }
    val failures = ceilings.flatMap { case (name, swCapMb, taskCapMb) =>
      val m = ScaleAudit.measure(spark) {
        SparkEntry.queries(name)(spark, sfDir).count()
        spark.catalog.clearCache()
      }
      val sw = m.shuffleWrite / MB
      val mt = m.maxTaskSw / MB
      info(f"$name%-28s shufWr $sw%6.2f MB (cap $swCapMb) maxTaskSw $mt%6.2f MB (cap $taskCapMb)")
      (if (sw > swCapMb)
        Seq(f"$name shuffle-write $sw%.2f MB exceeds ceiling $swCapMb MB — a new corpus re-shuffle?")
      else Nil) ++
      (if (mt > taskCapMb)
        Seq(f"$name max-task shuffle $mt%.2f MB exceeds ceiling $taskCapMb MB — a hot-keyed exchange?")
      else Nil)
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("canary: a corpus re-shuffle on a constant key trips the meter") {
    // the gate is only as good as its meter — prove a deliberately bad
    // plan (full documents table through one constant-keyed exchange)
    // produces exactly the signature the ceilings catch: shuffle bytes
    // ≈ corpus size AND one task carrying essentially all of them
    // a noop WRITE consumes every column, so neither column pruning nor
    // partial-agg pushdown can empty the exchange (an agg above the
    // repartition gets its partial phase planned below it and the
    // canary measures the meter, not the plan — observed both ways);
    // lineitem is the fattest sf0.01 table (60 k × 16 cols), so the
    // bad plan's exchange carries well past every pinned ceiling class
    val li = Tables.load(spark, sfDir, "lineitem")
    val m = ScaleAudit.measure(spark) {
      li.repartition(col("l_orderkey") * 0) // every row → partition of key 0
        .write.mode("overwrite").format("noop").save()
    }
    val sw = m.shuffleWrite / MB
    assert(sw > 0.5, f"canary only shuffled $sw%.2f MB — meter lost the exchange")
    assert(m.skew > 0.9,
      f"canary skew ${m.skew}%.2f — one constant key must land on one task")
  }
}
