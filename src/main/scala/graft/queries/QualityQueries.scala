package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Declarative data-quality constraint audit — the dbt-test /
  * Great-Expectations shape every warehouse load runs after the
  * replication pipeline lands a batch: range, not-null, uniqueness,
  * referential-integrity and freshness rules evaluated corpus-wide,
  * reported as one `(rule, checked, violations)` row each.
  *
  * Scale shape: all single-table rules for a table fold into ONE
  * conditional-count hash agg over ONE scan (adding a rule adds a
  * counter, not a pass); the only join is the referential check, an
  * anti join on the child's key — at 100 TB that is the same
  * partitioned anti join the merge path already runs, and everything
  * else is scan-local. Output is rules-sized (tiny).
  */
object QualityQueries {

  def qualityConstraints(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.load(spark, sfDir, "lineitem")
    val ord = Tables.load(spark, sfDir, "orders")

    // one scan, one agg: every lineitem rule is a conditional counter
    val liAgg = li.agg(
      count(lit(1)).as("n"),
      sum(when(col("l_quantity") < 1 || col("l_quantity") > 50, 1L).otherwise(0L)).as("v_qty"),
      sum(when(col("l_discount") < 0 || col("l_discount") > 0.1, 1L).otherwise(0L)).as("v_disc"),
      sum(when(col("l_shipdate").isNull, 1L).otherwise(0L)).as("v_ship"))
    val liLong = liAgg.selectExpr(
      """stack(3,
        |  'lineitem.l_quantity.range_1_50', n, v_qty,
        |  'lineitem.l_discount.range_0_0.1', n, v_disc,
        |  'lineitem.l_shipdate.not_null', n, v_ship)
        |AS (rule, checked, violations)""".stripMargin)

    val ordAgg = ord.agg(
      count(lit(1)).as("n"),
      (count(col("o_orderkey")) - countDistinct(col("o_orderkey"))).as("v_dup"),
      sum(when(col("o_totalprice") <= 0, 1L).otherwise(0L)).as("v_price"),
      sum(when(col("o_orderdate") >= lit("2000-01-01").cast("timestamp"), 1L)
        .otherwise(0L)).as("v_fresh"))
    val ordLong = ordAgg.selectExpr(
      """stack(3,
        |  'orders.o_orderkey.unique', n, v_dup,
        |  'orders.o_totalprice.positive', n, v_price,
        |  'orders.o_orderdate.before_2000', n, v_fresh)
        |AS (rule, checked, violations)""".stripMargin)

    // referential integrity: child keys outer-joined to the parent, ONE
    // aggregated frame carrying both counters (checked = child rows,
    // violations = child rows with no parent) — no extra scan for the
    // denominator
    val ri = li.groupBy(col("l_orderkey")).agg(count(lit(1)).as("cnt"))
      .join(ord.select(col("o_orderkey")),
        col("l_orderkey") === col("o_orderkey"), "left_outer")
      .agg(sum(col("cnt")).as("checked"),
        sum(when(col("o_orderkey").isNull, col("cnt")).otherwise(0L)).as("violations"))
      .select(lit("lineitem.l_orderkey.in_orders").as("rule"),
        col("checked"), col("violations"))

    liLong.unionByName(ordLong).unionByName(ri).orderBy(col("rule"))
  }

  val qualityConstraintsSql: String =
    """WITH li AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 ELSE 0 END) AS BIGINT) AS v_qty,
      |    CAST(sum(CASE WHEN l_discount < 0 OR l_discount > 0.1 THEN 1 ELSE 0 END) AS BIGINT) AS v_disc,
      |    CAST(sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v_ship
      |  FROM lineitem),
      |ord AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n,
      |    CAST(count(o_orderkey) - count(DISTINCT o_orderkey) AS BIGINT) AS v_dup,
      |    CAST(sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS v_price,
      |    CAST(sum(CASE WHEN o_orderdate >= TIMESTAMP '2000-01-01' THEN 1 ELSE 0 END) AS BIGINT) AS v_fresh
      |  FROM orders),
      |ri AS (
      |  SELECT CAST(sum(cnt) AS BIGINT) AS checked,
      |    CAST(sum(CASE WHEN o.o_orderkey IS NULL THEN cnt ELSE 0 END) AS BIGINT) AS violations
      |  FROM (SELECT l_orderkey, count(*) AS cnt FROM lineitem GROUP BY 1) k
      |  LEFT JOIN orders o ON o.o_orderkey = k.l_orderkey),
      |rules AS (
      |  SELECT 'lineitem.l_quantity.range_1_50' AS rule, n AS checked, v_qty AS violations FROM li
      |  UNION ALL SELECT 'lineitem.l_discount.range_0_0.1', n, v_disc FROM li
      |  UNION ALL SELECT 'lineitem.l_shipdate.not_null', n, v_ship FROM li
      |  UNION ALL SELECT 'orders.o_orderkey.unique', n, v_dup FROM ord
      |  UNION ALL SELECT 'orders.o_totalprice.positive', n, v_price FROM ord
      |  UNION ALL SELECT 'orders.o_orderdate.before_2000', n, v_fresh FROM ord
      |  UNION ALL SELECT 'lineitem.l_orderkey.in_orders', checked, violations FROM ri)
      |SELECT rule, checked, violations FROM rules ORDER BY rule""".stripMargin

  // --- corpus drift monitor (two-sample χ² over hashed token dims) -----
  // The training-data drift question a continuously-fed corpus must
  // answer: does today's batch draw tokens from the same distribution
  // as the landed corpus? Per feature-hash dimension, the two-sample
  // chi-square statistic in its EXACT-INTEGER form
  //   χ²_d = (o1·N2 − o2·N1)² / ((o1+o2)·N1·N2)
  // (algebraically the classic (o−e)²/e summed over both samples) —
  // numerator and denominator are integer products carried in
  // DECIMAL(38,0), so both engines divide the identical exact values
  // and the scores hash-match (no PSI-style logarithms needed). The
  // population split is a deterministic doc_id rule standing in for
  // yesterday/today snapshots.
  //
  // Scale shape: one tokenize scan → one (dim)-keyed hash agg with two
  // conditional counters → a dims-sized frame (64 rows) joined to one
  // broadcast total row. High-χ² dims name WHAT drifted (the hashed
  // vocabulary slice); the tail sum is the alarm threshold.
  private val DriftDims = 64

  /** (dim, cnt) hashed token counts — the drift feature extraction,
    * shared by the batch query's populations, the nightly-trained
    * baseline, and the streaming monitor (per micro-batch through
    * [[graft.streaming.MicroBatch]], scored with [[chi2Against]]). */
  def dimCounts(docs: DataFrame): DataFrame = docs
    .select(explode_outer(filter(split(col("text"), " "), t => t =!= "")).as("tok"))
    .filter(col("tok").isNotNull)
    .select(pmod(conv(substring(md5(col("tok")), 1, 8), 16, 10).cast("long"),
      lit(DriftDims)).as("dim"))
    .groupBy(col("dim")).agg(count(lit(1)).as("cnt"))

  /** Two-sample χ² of observed (dim, cnt) counts against a baseline
    * (dim, cnt) frame — the same exact-integer-then-one-divide chain
    * [[corpusDrift]] runs, factored so batch and stream score through
    * one definition. Dims present on only one side count 0 on the
    * other (a NEW token bucket is maximal drift signal, not a crash). */
  def chi2Against(obs: DataFrame, base: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    val dec = DecimalType(38, 0)
    val joined = obs.select(col("dim"), col("cnt").as("o1"))
      .join(base.select(col("dim"), col("cnt").as("o2")), Seq("dim"), "full_outer")
      .select(col("dim"), coalesce(col("o1"), lit(0L)).as("o1"),
        coalesce(col("o2"), lit(0L)).as("o2"))
      .cache() // totals + scoring
    val tot = joined.agg(sum(col("o1")).as("n1"), sum(col("o2")).as("n2"))
    val num = (col("o1").cast(dec) * col("n2").cast(dec) -
      col("o2").cast(dec) * col("n1").cast(dec)).cast(DoubleType)
    val den = ((col("o1") + col("o2")).cast(dec) *
      col("n1").cast(dec) * col("n2").cast(dec)).cast(DoubleType)
    joined.crossJoin(broadcast(tot))
      .select(col("dim"), col("o1"), col("o2"),
        round(num * num / den, 6).as("chi2"))
      .orderBy(col("dim"))
  }

  def corpusDrift(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    val dec = DecimalType(38, 0)
    val docs = Tables.load(spark, sfDir, "documents")
    val tf = docs
      .select((pmod(col("doc_id"), lit(2L)) === 0).as("a"),
        explode_outer(filter(split(col("text"), " "), t => t =!= "")).as("tok"))
      .filter(col("tok").isNotNull)
      .select(col("a"),
        pmod(conv(substring(md5(col("tok")), 1, 8), 16, 10).cast("long"), lit(DriftDims)).as("dim"))
      .groupBy(col("dim"))
      .agg(sum(when(col("a"), 1L).otherwise(0L)).as("o1"),
        sum(when(!col("a"), 1L).otherwise(0L)).as("o2"))
      .cache() // feeds totals AND scoring — uncached, the tokenize
               // scan runs twice for a 64-row frame
    val tot = tf.agg(sum(col("o1")).as("n1"), sum(col("o2")).as("n2"))
    // num/den assemble EXACTLY in DECIMAL(38,0); the square runs in
    // DOUBLE (num² would blow the 38-digit cap near o·N ≈ 1e19 — NULL
    // chi2 exactly at large-corpus scale). Casting the exact integer to
    // double first is one identical rounding in both engines.
    val num = (col("o1").cast(dec) * col("n2").cast(dec) -
      col("o2").cast(dec) * col("n1").cast(dec)).cast(DoubleType)
    val den = ((col("o1") + col("o2")).cast(dec) *
      col("n1").cast(dec) * col("n2").cast(dec)).cast(DoubleType)
    tf.crossJoin(broadcast(tot))
      .select(col("dim"), col("o1"), col("o2"),
        round(num * num / den, 6).as("chi2"))
      .orderBy(col("dim"))
  }

  val corpusDriftSql: String =
    s"""WITH tf AS (
      |  SELECT dim,
      |    sum(CASE WHEN a THEN 1 ELSE 0 END) AS o1,
      |    sum(CASE WHEN NOT a THEN 1 ELSE 0 END) AS o2
      |  FROM (
      |    SELECT doc_id % 2 = 0 AS a,
      |      CAST(('0x'||substr(md5(tok),1,8)) AS BIGINT) % $DriftDims AS dim
      |    FROM (SELECT doc_id,
      |            unnest(list_filter(string_split(text, ' '), x -> x != '')) AS tok
      |          FROM documents))
      |  GROUP BY dim),
      |tot AS (SELECT sum(o1) AS n1, sum(o2) AS n2 FROM tf)
      |SELECT dim, CAST(o1 AS BIGINT) AS o1, CAST(o2 AS BIGINT) AS o2,
      |  round(CAST(CAST(o1 AS HUGEINT) * n2 - CAST(o2 AS HUGEINT) * n1 AS DOUBLE)
      |      * CAST(CAST(o1 AS HUGEINT) * n2 - CAST(o2 AS HUGEINT) * n1 AS DOUBLE)
      |    / CAST(CAST(o1 + o2 AS HUGEINT) * n1 * n2 AS DOUBLE), 6) AS chi2
      |FROM tf CROSS JOIN tot ORDER BY dim""".stripMargin
}
