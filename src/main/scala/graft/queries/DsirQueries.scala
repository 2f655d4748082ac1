package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** DSIR-style data selection via importance resampling (Xie et al. 2023,
  * "Data Selection for Language Models via Importance Resampling"):
  * estimate hashed-n-gram feature distributions on a TARGET slice and on
  * the RAW corpus, score every raw document by its importance log-ratio
  * under the two models, and resample the corpus with acceptance rates
  * proportional to that score.
  *
  * Scale shape (the whole point of hashed DSIR): the feature space is a
  * FIXED bucket table (`DsirBuckets` rows) however large the corpus is,
  * so the bucket model is one hash-agg over the token stream, the weight
  * table broadcasts everywhere, and per-doc scoring is one linear
  * explode + broadcast-join + hash-agg — no shuffle keyed on anything
  * wider than `doc_id`, no window, no driver loop. At 100 TB the only
  * growing cost is the token scan itself.
  *
  * Cross-engine parity: bucket ids use the md5-prefix recipe (mirrored
  * as `CAST(('0x'||substr(md5(tok),1,8)) AS BIGINT) % B`); the bucket
  * log-ratio is transcendental, so each bucket weight is quantized ONCE
  * through `floor(logratio * 2^20)` into a long (the `text_lm_score`
  * fixed-point pattern — 2^-20 absorbs JVM-vs-libm ulp noise and longs
  * sum exactly); per-doc sums are therefore exact, and the one output
  * double is a mirrored two-divide chain over exact operands.
  */
object DsirQueries {

  private def toks(c: Column): Column = filter(split(c, " "), t => t =!= "")

  private val DsirBuckets = 4096
  private val DsirFp = 1048576.0 // 2^20
  private[graft] val TargetLang = "en"

  /** Token stream with hashed feature buckets: one row per token
    * occurrence, `(doc_id, lang, b)`. */
  private[graft] def bucketedTokens(docs: DataFrame): DataFrame = docs
    .select(col("doc_id"), col("lang"), explode_outer(toks(col("text"))).as("tok"))
    .filter(col("tok").isNotNull) // explode_outer: see textDecontaminate
    .select(col("doc_id"), col("lang"),
      pmod(conv(substring(md5(col("tok")), 1, 8), 16, 10).cast("long"),
        lit(DsirBuckets)).as("b"))

  /** Fixed-point importance weight per bucket, from target/raw counts
    * and totals: floor((ln((t+1)/(T+B)) - ln((r+1)/(R+B))) * 2^20). */
  private def weightFp(tCnt: Column, rCnt: Column, tTot: Column, rTot: Column): Column =
    floor((log((tCnt.cast("double") + lit(1.0)) /
        (tTot.cast("double") + lit(DsirBuckets.toDouble))) -
      log((rCnt.cast("double") + lit(1.0)) /
        (rTot.cast("double") + lit(DsirBuckets.toDouble)))) * lit(DsirFp))
      .cast("long")

  /** Per-document DSIR importance score against the `en` target slice:
    * `score_fp` = Σ_tokens weight_fp(bucket), `avg_fp` = floor(score_fp
    * / n_tok) (floor-div via double — exact below 2^53 — because Spark
    * `div` truncates toward zero while DuckDB `//` floors). */
  def corpusDsirScore(spark: SparkSession, sfDir: String): DataFrame =
    dsirScore(Tables.load(spark, sfDir, "documents"))

  /** Core of [[corpusDsirScore]] over any `(doc_id, lang, text)` frame. */
  def dsirScore(docs: DataFrame): DataFrame = {
    // shared by the weight-training pass AND the scoring join; eager
    // localCheckpoint (not persist) so the materialized token stream is
    // context-cleaned once unreferenced — persist here leaked storage
    // across repeated Verify/Bench invocations
    val bt = bucketedTokens(docs).localCheckpoint(true)
    val counts = bt.groupBy(col("b")).agg(
      count(lit(1)).as("r_cnt"),
      sum(when(col("lang") === TargetLang, 1L).otherwise(0L)).as("t_cnt"))
    val totals = counts.agg(
      sum(col("r_cnt")).as("r_tot"), sum(col("t_cnt")).as("t_tot"))
    val weights = counts.crossJoin(broadcast(totals))
      .select(col("b"),
        weightFp(col("t_cnt"), col("r_cnt"), col("t_tot"), col("r_tot")).as("w_fp"))
    bt.join(broadcast(weights), Seq("b"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tok"), sum(col("w_fp")).as("score_fp"))
      .select(col("doc_id"), col("n_tok"), col("score_fp"),
        floor(col("score_fp").cast("double") / col("n_tok").cast("double"))
          .cast("long").as("avg_fp"),
        (col("score_fp").cast("double") / lit(DsirFp) /
          col("n_tok").cast("double")).as("avg_logratio"))
      .orderBy(col("doc_id"))
  }

  private val scoreCte: String =
    s"""bt AS (
      |  SELECT doc_id, lang,
      |    CAST(('0x'||substr(md5(tok),1,8)) AS BIGINT) % $DsirBuckets AS b
      |  FROM (SELECT doc_id, lang,
      |          unnest(list_filter(string_split(text, ' '), x -> x != '')) AS tok
      |        FROM documents)),
      |counts AS (
      |  SELECT b, count(*) AS r_cnt,
      |    sum(CASE WHEN lang = '$TargetLang' THEN 1 ELSE 0 END) AS t_cnt
      |  FROM bt GROUP BY b),
      |totals AS (SELECT sum(r_cnt) AS r_tot, sum(t_cnt) AS t_tot FROM counts),
      |weights AS (
      |  SELECT b,
      |    CAST(floor((ln((CAST(t_cnt AS DOUBLE) + 1.0) / (CAST(t_tot AS DOUBLE) + $DsirBuckets.0))
      |              - ln((CAST(r_cnt AS DOUBLE) + 1.0) / (CAST(r_tot AS DOUBLE) + $DsirBuckets.0)))
      |              * $DsirFp) AS BIGINT) AS w_fp
      |  FROM counts CROSS JOIN totals),
      |scored AS (
      |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok,
      |    CAST(sum(w_fp) AS BIGINT) AS score_fp
      |  FROM bt JOIN weights USING (b) GROUP BY doc_id)""".stripMargin

  /** Trained DSIR model as deployable state: the bucket weight table
    * ([[DsirBuckets]] rows — size-independent of the corpus) plus the
    * unseen-bucket fallback weight (the t=0/r=0 smoothed log-ratio, one
    * driver-held long). This is what a production pipeline persists
    * nightly and applies to arrivals. */
  final case class DsirModel(weights: DataFrame, defaultFp: Long)

  /** Train the hashed importance model on a `(doc_id, lang, text)`
    * corpus. The two totals collected here are bounded model metadata
    * (two longs), never corpus rows. */
  def trainDsir(docs: DataFrame): DsirModel = {
    val bt = bucketedTokens(docs)
    modelFromCounts(bt.groupBy(col("b")).agg(
      count(lit(1)).as("r_cnt"),
      sum(when(col("lang") === TargetLang, 1L).otherwise(0L)).as("t_cnt")))
  }

  /** Derive the deployable model from a `(b, r_cnt, t_cnt)` bucket-count
    * frame — the one weight definition shared by batch training and the
    * continuously-maintained path ([[graft.streaming.StreamDsirMaintain]]),
    * so the two can never drift. Counts are exact longs, so partials
    * merged in ANY order give bit-identical weights. */
  private[graft] def modelFromCounts(countsIn: DataFrame): DsirModel = {
    val counts = countsIn.persist()
    val Array(rTot, tTot) = counts
      .agg(sum(col("r_cnt")), sum(col("t_cnt"))).head() match {
        case r => Array(r.getLong(0), r.getLong(1))
      }
    val weights = counts.select(col("b"),
      weightFp(col("t_cnt"), col("r_cnt"), lit(tTot), lit(rTot)).as("w_fp"))
    val default = (math.floor((math.log(1.0 / (tTot.toDouble + DsirBuckets)) -
      math.log(1.0 / (rTot.toDouble + DsirBuckets))) * DsirFp)).toLong
    DsirModel(weights, default)
  }

  /** Score a `(doc_id, lang, text)` frame against a PRETRAINED model —
    * the apply half of the split, run per micro-batch through
    * [[graft.streaming.MicroBatch]]. Tokens hashing to buckets the training
    * corpus never populated take the smoothed fallback weight via the
    * left join, so out-of-corpus text is scored, not dropped. */
  def scoreWithDsir(batch: DataFrame, m: DsirModel): DataFrame =
    bucketedTokens(batch)
      .join(broadcast(m.weights), Seq("b"), "left")
      .select(col("doc_id"), coalesce(col("w_fp"), lit(m.defaultFp)).as("w_fp"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tok"), sum(col("w_fp")).as("score_fp"))
      .select(col("doc_id"), col("n_tok"), col("score_fp"),
        floor(col("score_fp").cast("double") / col("n_tok").cast("double"))
          .cast("long").as("avg_fp"))

  val corpusDsirScoreSql: String =
    s"""WITH $scoreCte
      |SELECT doc_id, n_tok, score_fp,
      |  CAST(floor(CAST(score_fp AS DOUBLE) / CAST(n_tok AS DOUBLE)) AS BIGINT) AS avg_fp,
      |  CAST(score_fp AS DOUBLE) / $DsirFp / CAST(n_tok AS DOUBLE) AS avg_logratio
      |FROM scored ORDER BY doc_id""".stripMargin

  // --- deterministic banded importance resampling ----------------------
  // DSIR proper samples with probability ∝ exp(score); the deterministic
  // production variant used here accepts by score band — target-like
  // docs (avg_fp ≥ 0) always, mildly off-target docs at 1/2, far
  // off-target at 1/4 — with the accept decision keyed on a doc_id hash
  // so reruns (and the oracle) pick the identical subset. One broadcast
  // threshold-free projection over the scored frame: linear, no global
  // sort, no driver state.
  private val BandMild = -524288L // -0.5 in 2^20 fixed point

  def corpusDsirResample(spark: SparkSession, sfDir: String): DataFrame = {
    val scored = corpusDsirScore(spark, sfDir)
      .select(col("doc_id"), col("n_tok"), col("avg_fp"))
    val acceptHash = pmod(
      conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10).cast("long"), lit(4))
    scored
      .select(col("doc_id"), col("n_tok"), col("avg_fp"),
        when(col("avg_fp") >= 0L, lit("target"))
          .when(col("avg_fp") >= BandMild, lit("mild"))
          .otherwise(lit("far")).as("band"),
        acceptHash.as("h"))
      .filter(
        col("band") === "target" ||
        (col("band") === "mild" && pmod(col("h"), lit(2)) === 0L) ||
        (col("band") === "far" && col("h") === 0L))
      .select(col("doc_id"), col("n_tok"), col("avg_fp"), col("band"))
      .orderBy(col("doc_id"))
  }

  val corpusDsirResampleSql: String =
    s"""WITH $scoreCte,
      |banded AS (
      |  SELECT doc_id, n_tok,
      |    CAST(floor(CAST(score_fp AS DOUBLE) / CAST(n_tok AS DOUBLE)) AS BIGINT) AS avg_fp,
      |    CAST(('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,8)) AS BIGINT) % 4 AS h
      |  FROM scored)
      |SELECT doc_id, n_tok, avg_fp,
      |  CASE WHEN avg_fp >= 0 THEN 'target'
      |       WHEN avg_fp >= $BandMild THEN 'mild'
      |       ELSE 'far' END AS band
      |FROM banded
      |WHERE avg_fp >= 0
      |   OR (avg_fp >= $BandMild AND avg_fp < 0 AND h % 2 = 0)
      |   OR (avg_fp < $BandMild AND h = 0)
      |ORDER BY doc_id""".stripMargin
}
