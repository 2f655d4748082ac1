package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType

import graft.Tables

/** Deduplication operator family for the LLM-pipeline surface: exact,
  * n-gram Jaccard, MinHash+LSH, SimHash (BASELINE north star).
  *
  * Scale design: every variant is a pure DataFrame pipeline whose only
  * shuffles are (a) the group-by on the dedup key — content hash,
  * LSH band bucket, or simhash band — and (b) the candidate-pair join;
  * the quadratic all-pairs comparison never happens. Hashes are
  * md5-derived so the DuckDB oracle computes bit-identical values.
  */
object DedupQueries {

  private[graft] def toks(c: Column): Column = filter(split(c, " "), t => t =!= "")

  /** 3-gram shingles built per-row with zip_with. zip_with evaluates
    * each CHILD array once per row and then pairs elements, unlike an
    * index lambda over element_at(tk, i), where CollapseProject can
    * inline the token split into the lambda and re-split the text once
    * per element (measured: 8 s → sub-second for the shingle projection
    * at sf0.1). Trailing pads are null-concat'd away by the filter. */
  private[graft] def shingles3(tk: Column): Column = {
    val n = size(tk)
    val s2 = zip_with(tk, slice(tk, lit(2), n), (a, b) => concat(a, lit(" "), b))
    val s3 = zip_with(s2, slice(tk, lit(3), n), (ab, c) => concat(ab, lit(" "), c))
    filter(s3, s => s.isNotNull)
  }

  // --- exact dedup: hash-groupBy on normalized content ---
  def dedupExact(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.load(spark, sfDir, "documents")
    docs.select(col("doc_id"),
        md5(lower(regexp_replace(col("text"), "\\s+", " "))).as("content_hash"))
      .groupBy(col("content_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy(col("keep_id")) // content_hash is unique per kept doc
  }

  val dedupExactSql: String =
    """SELECT content_hash, min(doc_id) AS keep_id, count(*) AS n_copies
      |FROM (SELECT doc_id, md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS content_hash
      |      FROM documents)
      |GROUP BY content_hash ORDER BY keep_id""".stripMargin

  // --- n-gram Jaccard via prefix-filter blocking ----------------------
  // Exact all-pairs "3-gram shingle Jaccard >= t" result WITHOUT the
  // quadratic join: order each doc's shingles by global rarity
  // (document frequency asc), keep the first p = n - ceil(t*n) + 1 as
  // its "prefix"; the prefix-filter theorem guarantees any pair with
  // J >= t shares a prefix shingle, so the candidate join on prefix
  // shingles has perfect recall. Prefix shingles are the globally
  // RAREST, so candidate buckets are small by construction (a
  // boilerplate shingle never lands in a prefix) — that property makes
  // the join survive 100x, where the round-1 version (doc_b = doc_a + 1
  // adjacent-id blocking) was a toy. Shingle construction itself is the
  // same shuffle-free per-row transform(sequence(...)) as MinHash.
  // Recall is exact UP TO the oversized-bucket skew cap below: buckets
  // only exceed the cap when >cap docs share their rarest shingle (a
  // mass-duplicate population), which exact dedup collapses anyway.
  private val JaccardT = 0.5
  // shared skew guard for every candidate self-join (prefix, minhash
  // band, simhash half); declared BEFORE the first oracle-SQL val that
  // interpolates it — a Scala object initializes vals in declaration
  // order and a forward reference silently reads 0.
  private[graft] val MinhashBucketCap = 100 // mass-duplicates are exact-dedup's job

  def ngramJaccard(spark: SparkSession, sfDir: String): DataFrame = {
    // shingle identity is a 64-bit xxhash, not the string: the verify
    // join intersects ~50-element arrays per candidate pair, and long
    // arrays intersect ~7x faster than string arrays (measured 11 s →
    // 1.5 s at sf0.1). The hash never leaves the query — jaccard over
    // hashed sets equals jaccard over string sets modulo 2^-64-scale
    // collisions — so the DuckDB oracle keeps intersecting strings.
    val docs = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"),
        array_distinct(transform(shingles3(toks(col("text"))), s => xxhash64(s))).as("t"))
      .filter(size(col("t")) > 0)
      // ~1 row/doc with its shingle set; reused by sh + both verify
      // sides. localCheckpoint (not cache) so repeated Verify/Bench
      // sweeps don't accumulate storage memory — blocks are
      // context-cleaned when the frame is GC'd. Lazy: the query's one
      // action materializes it at first use.
      .localCheckpoint(false)
    val sh = docs.select(col("doc_id"), explode(col("t")).as("sh"))
    val dfreq = sh.groupBy(col("sh")).agg(count(lit(1)).as("df"))
    // Only REPEATED shingles (df >= 2) can ever produce a candidate pair:
    // shingle sets are per-doc distinct, so df = how many docs contain the
    // shingle, and a df=1 prefix shingle forms a bucket of size 1 — zero
    // pairs from the self-join below. Everything unique (the overwhelming
    // majority of 3-gram shingles) therefore never needs its df attached:
    // instead of joining the FULL exploded stream to dfreq and re-grouping
    // it by doc (two corpus-sized exchanges), join only the df>=2 slice —
    // a vocabulary-of-duplicates-sized table. dfreq2 is a shuffle
    // aggregate with no size estimate at planning time, so the plan does
    // not guarantee a broadcast: AQE typically broadcasts it at runtime
    // once its real size is known, and then the exploded stream does not
    // cross an exchange for this join (guide §2.3/§2.4); a skewed corpus
    // with a large duplicate vocabulary may keep the shuffle join.
    //
    // Prefix membership is still decided by each doc's FULL (df, sh)
    // ascending order. All df=1 shingles sort before all df>=2 ones, so
    // for a doc with n shingles of which the repeated subset R is sorted
    // ascending, repeated element i (1-based) holds global rank
    // (n - |R|) + i, and it lands in the length-p prefix iff
    // i <= p - n + |R| — computable per row from n and R alone.
    val dfreq2 = dfreq.filter(col("df") >= 2)
    val rep = sh.join(dfreq2, Seq("sh"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("df"), col("sh")))).as("rs"))
      .join(docs.select(col("doc_id"), size(col("t")).as("n")), Seq("doc_id"))
    val p = (col("n") - ceil(col("n") * JaccardT) + 1).cast("int")
    val keepCnt = (p - col("n") + size(col("rs"))).cast("int")
    val prefixes = rep
      .filter(keepCnt > 0)
      .select(col("doc_id"),
        explode(transform(slice(col("rs"), lit(1), keepCnt), s => s.getField("sh"))).as("psh"))
      // self-joined below: without this the dfreq pipeline runs twice.
      // Lazy: the oversized-bucket broadcast subquery materializes it
      // before the self-join consumers run.
      .localCheckpoint(false)
    // skew guard, same cap as the minhash/simhash band joins: a
    // degenerate corpus (thousands of docs sharing their RAREST shingle,
    // e.g. mass-duplicates) would make one prefix bucket quadratic.
    // Dropping oversized buckets bounds the self-join at any scale; it
    // costs recall only on mass-duplicate populations, which exact dedup
    // already collapses. The oversized list is ≤ distinct-prefix-shingles
    // rows of one long each → always broadcastable.
    val oversized = prefixes.groupBy(col("psh"))
      .agg(count(lit(1)).as("bsz")).filter(col("bsz") > MinhashBucketCap)
      .select(col("psh"))
    val capped = prefixes.join(broadcast(oversized), Seq("psh"), "left_anti")
    val cand = capped.select(col("psh"), col("doc_id").as("doc_a"))
      .join(capped.select(col("psh"), col("doc_id").as("doc_b")), Seq("psh"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    cand
      .join(docs.select(col("doc_id").as("doc_a"), col("t").as("ta")), Seq("doc_a"))
      .join(docs.select(col("doc_id").as("doc_b"), col("t").as("tb")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("ta"), col("tb"))).as("inter"),
        size(col("ta")).as("na"), size(col("tb")).as("nb"))
      .select(col("doc_a"), col("doc_b"),
        (col("inter").cast("double") / (col("na") + col("nb") - col("inter"))).as("jaccard"))
      .filter(col("jaccard") >= JaccardT)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  val ngramJaccardSql: String =
    s"""WITH d AS (
      |  SELECT doc_id,
      |    list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
      |                   for i in range(1, len(toks) - 1)]) AS t
      |  FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS toks
      |        FROM documents)
      |  WHERE len(toks) >= 3),
      |sh AS (SELECT doc_id, unnest(t) AS sh FROM d),
      |dfreq AS (SELECT sh, count(*) AS df FROM sh GROUP BY sh),
      |ranked AS (
      |  SELECT doc_id, sh,
      |    row_number() OVER (PARTITION BY doc_id ORDER BY df, sh) AS rn,
      |    count(*) OVER (PARTITION BY doc_id) AS n
      |  FROM sh JOIN dfreq USING (sh)),
      |pfx AS (SELECT doc_id, sh FROM ranked WHERE rn <= n - ceil(n * $JaccardT) + 1),
      |capped AS (
      |  SELECT doc_id, sh FROM (
      |    SELECT *, count(*) OVER (PARTITION BY sh) AS bsz FROM pfx)
      |  WHERE bsz <= $MinhashBucketCap),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM capped a JOIN capped b ON a.sh = b.sh AND a.doc_id < b.doc_id)
      |SELECT doc_a, doc_b, jaccard FROM (
      |  SELECT doc_a, doc_b,
      |    len(list_intersect(a.t, b.t))::DOUBLE
      |      / (len(a.t) + len(b.t) - len(list_intersect(a.t, b.t))) AS jaccard
      |  FROM cand JOIN d a ON cand.doc_a = a.doc_id JOIN d b ON cand.doc_b = b.doc_id)
      |WHERE jaccard >= $JaccardT ORDER BY doc_a, doc_b""".stripMargin

  // --- MinHash + LSH near-dup detection -------------------------------
  // shingle → md5-derived 32-bit int → k permutation-hashes → min per
  // doc → band buckets → candidate pairs sharing a band → exact Jaccard
  // on shingle sets. Scale design: shingling is a per-row array
  // expression (no window sort), hashing stays in whole-stage codegen
  // after the explode, signatures partial-aggregate map-side, and the
  // band self-join — the classic LSH scale path (cost ~ candidates, not
  // pairs²) — is skew-guarded by an oversized-bucket cap.
  private[graft] val MinhashK = 8
  private[graft] val BandRows = 2 // 4 bands of 2 → catches jaccard ≳ 0.6
  private[graft] val Prime = 2147483647L
  private val ShingleN = 3
  // deterministic permutation params (odd multipliers)
  private[graft] val HashParams: Seq[(Long, Long)] =
    (1 to MinhashK).map(i => (2L * i * i * 1000003L + 1L, i * 7919L))

  /** 3-word shingles as one exploded table: (doc_id, shingle_hash).
    * Shingle construction is a per-row `transform(sequence(...))` — no
    * window, no sort, no shuffle (the round-1 version shuffled+sorted
    * every token through `lead().over(partitionBy(doc_id))`). The md5
    * hash runs AFTER the explode so it stays in whole-stage codegen
    * (inside a `transform` lambda it is interpreted — measured 4x
    * slower). No distinct anywhere: every consumer (min aggregation,
    * collect_set) is duplicate-insensitive, so shingle deduplication
    * would cost a shuffle and buy nothing. */
  private[graft] def shingleHashes(docs: DataFrame): DataFrame = {
    docs
      .select(col("doc_id"), toks(col("text")).as("t"))
      .filter(size(col("t")) >= ShingleN)
      // explode_outer: a plain explode's inferred non-empty filter is
      // pushed below the projection and inlines the token split into
      // every shingle element access (O(shingles×tokens) re-splits per
      // doc; see CurationQueries.textDecontaminate). size(t) >= n
      // already guarantees ≥1 shingle, so outer+notNull is identical.
      .select(col("doc_id"), explode_outer(shingles3(col("t"))).as("shingle"))
      .filter(col("shingle").isNotNull)
      .select(col("doc_id"),
        conv(substring(md5(col("shingle")), 1, 8), 16, 10).cast("long").as("h"))
  }

  /** Per-doc signature AND distinct shingle-hash set in ONE aggregation:
    * `(doc_id, mh0..mhK-1, hs)`. Every minhash consumer needs both the
    * band keys (from the signature) and the exact shingle sets (for the
    * Jaccard verify), and computing them as two separate `groupBy(doc_id)`
    * aggs costs a second full pass over the exploded shingle stream plus
    * a second exchange (guide §2.4: two operations keyed the same way
    * share one exchange). The k mins and the collect_set partial-aggregate
    * map-side together — all of a doc's shingles originate from one input
    * row — so the single exchange carries ~1 row per doc. Checkpointing
    * THIS frame (instead of the exploded `(doc_id, h)` rows) also shrinks
    * the materialized intermediate from one row per shingle to one row
    * per doc. */
  private[graft] def sigSets(docs: DataFrame): DataFrame = {
    val mins = HashParams.zipWithIndex.map { case ((a, b), i) =>
      min((col("h") * a + b) % Prime).as(s"mh$i")
    }
    shingleHashes(docs)
      .groupBy(col("doc_id"))
      .agg(mins.head, mins.tail :+ collect_set(col("h")).as("hs"): _*)
  }

  /** Band keys over an ALREADY-computed signature frame — the seam that
    * lets every consumer reuse one materialized sigSets frame for
    * banding, per-pair agreement, and the Jaccard verify. */
  private[graft] def bandKeysOfSig(sig: DataFrame): DataFrame = {
    val bandArr = array((0 until MinhashK / BandRows).map { bandIdx =>
      val cols = (0 until BandRows).map(r => col(s"mh${bandIdx * BandRows + r}"))
      struct(lit(bandIdx).as("band"), concat_ws("_", cols: _*).as("bkey"))
    }: _*)
    sig
      .select(col("doc_id"), explode(bandArr).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bkey").as("bkey"))
  }

  def minhashLsh(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.load(spark, sfDir, "documents")
    // ONE aggregation produces the signature + shingle sets (sigSets);
    // the checkpoint holds ~1 row/doc and every downstream read (band
    // keys ×3, both verify sides) is a cheap in-memory projection.
    // localCheckpoint (not cache): graph_triangles routes through this
    // builder too, and cached blocks would outlive every sweep.
    val perDoc = sigSets(docs).localCheckpoint(false)
    val bands = bandKeysOfSig(perDoc)
    val candidates = cappedCandidatePairs(bands)
    // verify candidates with exact shingle-set Jaccard
    val sa = perDoc.select(col("doc_id"), col("hs"))
    val verified = candidates
      .join(sa.select(col("doc_id").as("doc_a"), col("hs").as("ha")), Seq("doc_a"))
      .join(sa.select(col("doc_id").as("doc_b"), col("hs").as("hb")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("ha"), col("hb"))).as("inter"),
        size(col("ha")).as("na"), size(col("hb")).as("nb"))
      .select(col("doc_a"), col("doc_b"),
        (col("inter").cast("double") / (col("na") + col("nb") - col("inter"))).as("jaccard"))
      .filter(col("jaccard") >= 0.5)
    verified.orderBy(col("doc_a"), col("doc_b"))
  }

  /** Skew-capped LSH candidate pairs from a band-keys frame — the ONE
    * definition of the production candidate set. Skew guard: one
    * degenerate band key (boilerplate shared by a huge doc population)
    * must not go quadratic in the self-join; the oversized-bucket list
    * is tiny → broadcast anti-join costs nothing when no bucket is
    * degenerate (mass-duplicates are exact-dedup's job). The
    * estimator-error and threshold-sweep reports route through this same
    * helper so they characterize EXACTLY the pairs the LSH path
    * generates — a cap or tie-break change can never desynchronize them. */
  private[graft] def cappedCandidatePairs(bands: DataFrame): DataFrame = {
    val oversized = bands.groupBy(col("band"), col("bkey"))
      .agg(count(lit(1)).as("bsz")).filter(col("bsz") > MinhashBucketCap)
      .select(col("band"), col("bkey"))
    val capped = bands.join(broadcast(oversized), Seq("band", "bkey"), "left_anti")
    capped.select(col("band"), col("bkey"), col("doc_id").as("doc_a"))
      .join(capped.select(col("band"), col("bkey"), col("doc_id").as("doc_b")),
        Seq("band", "bkey"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
  }

  /** The shingle → signature → band-key → hash-set CTE prefix
    * (`shingles, sh, sig, bands, hsets`) — everything BEFORE candidate
    * generation, shared by every oracle that banded-minhashes the corpus
    * (the LSH/self-join family below plus the fuzzy-decontamination
    * batch-vs-corpus shape in CurationQueries, whose capped/cand tail is
    * the only part that differs). */
  private[graft] val minhashBandsCte: String = {
    val minExprs = HashParams.zipWithIndex
      .map { case ((a, b), i) => s"min((h * $a + $b) % $Prime) AS mh$i" }
      .mkString(",\n      |    ")
    val bandSelects = (0 until MinhashK / BandRows).map { bandIdx =>
      val cols = (0 until BandRows).map(r => s"mh${bandIdx * BandRows + r}")
      s"SELECT doc_id, $bandIdx AS band, concat_ws('_', ${cols.mkString(", ")}) AS bkey FROM sig"
    }.mkString("\n      |  UNION ALL ")
    s"""shingles AS (
      |  SELECT DISTINCT doc_id, tok || ' ' || nxt1 || ' ' || nxt2 AS shingle FROM (
      |    SELECT doc_id, tok,
      |      lead(tok, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt1,
      |      lead(tok, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt2
      |    FROM (
      |      SELECT doc_id, u.tok AS tok, u.pos AS pos FROM (
      |        SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS t FROM documents),
      |        LATERAL (SELECT unnest(t) AS tok, generate_subscripts(t, 1) AS pos) u))
      |  WHERE nxt2 IS NOT NULL),
      |sh AS (SELECT DISTINCT doc_id, CAST(('0x' || substr(md5(shingle), 1, 8)) AS BIGINT) AS h FROM shingles),
      |sig AS (
      |  SELECT doc_id,
      |    $minExprs
      |  FROM sh GROUP BY doc_id),
      |bands AS (
      |  $bandSelects),
      |hsets AS (SELECT doc_id, list(DISTINCT h) AS hs FROM sh GROUP BY doc_id)""".stripMargin
  }

  /** [[minhashBandsCte]] plus the production capped/cand tail — the full
    * chain the LSH oracle and the estimator-error report share. */
  private[graft] val minhashCteCore: String =
    s"""$minhashBandsCte,
      |capped AS (
      |  SELECT doc_id, band, bkey FROM (
      |    SELECT *, count(*) OVER (PARTITION BY band, bkey) AS bsz FROM bands)
      |  WHERE bsz <= $MinhashBucketCap),
      |cand AS (
      |  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
      |  FROM capped l JOIN capped r ON l.band = r.band AND l.bkey = r.bkey AND l.doc_id < r.doc_id)""".stripMargin

  val minhashLshSql: String =
    s"""WITH $minhashCteCore
      |SELECT doc_a, doc_b, jaccard FROM (
      |  SELECT doc_a, doc_b,
      |    len(list_intersect(a.hs, b.hs))::DOUBLE
      |      / (len(a.hs) + len(b.hs) - len(list_intersect(a.hs, b.hs))) AS jaccard
      |  FROM cand JOIN hsets a ON cand.doc_a = a.doc_id JOIN hsets b ON cand.doc_b = b.doc_id)
      |WHERE jaccard >= 0.5 ORDER BY doc_a, doc_b""".stripMargin

  // --- MinHash estimator error: est vs exact Jaccard ------------------
  // "Measure, don't guess" for the dedup index itself: how far is the
  // K-perm signature agreement (the only similarity the LSH path SEES)
  // from the exact shingle-set Jaccard? The error histogram is the
  // number an index owner checks before moving the 0.5 threshold or
  // resizing K — the dedup twin of vec_ivf_recall. Pairs are the capped
  // LSH candidates (bounded, never all-pairs); the signature is
  // materialized ONCE and reused for banding and per-pair agreement;
  // every output is an exact integer (est_e6 = matches·1e6 div K,
  // exact_e6 by integer division, 0.1-wide buckets by div 1e5).
  def dedupMinhashError(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.load(spark, sfDir, "documents")
    // signature + shingle sets from ONE aggregation (sigSets) — the
    // previous two-checkpoint shape (exploded shingles, then a second
    // signature agg over them) paid an extra pass and an extra exchange
    val sig = sigSets(docs).localCheckpoint(false)
    val cand = cappedCandidatePairs(bandKeysOfSig(sig))
    val sigA = sig.select(col("doc_id").as("doc_a") +:
      (0 until MinhashK).map(i => col(s"mh$i").as(s"a$i")): _*)
    val sigB = sig.select(col("doc_id").as("doc_b") +:
      (0 until MinhashK).map(i => col(s"mh$i").as(s"b$i")): _*)
    val matches = (0 until MinhashK)
      .map(i => when(col(s"a$i") === col(s"b$i"), 1L).otherwise(0L))
      .reduce(_ + _)
    val hsets = sig.select(col("doc_id"), col("hs"))
    val pairs = cand
      .join(sigA, Seq("doc_a")).join(sigB, Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), matches.as("matches"))
      .join(hsets.select(col("doc_id").as("doc_a"), col("hs").as("ha")), Seq("doc_a"))
      .join(hsets.select(col("doc_id").as("doc_b"), col("hs").as("hb")), Seq("doc_b"))
      .select(col("matches"),
        size(array_intersect(col("ha"), col("hb"))).cast("long").as("inter"),
        (size(col("ha")) + size(col("hb"))).cast("long").as("szsum"))
      .select(
        expr(s"matches * 1000000 div $MinhashK").as("est_e6"),
        expr("inter * 1000000 div (szsum - inter)").as("exact_e6"))
      .select(abs(col("est_e6") - col("exact_e6")).as("err_e6"))
    pairs
      .groupBy(expr("err_e6 div 100000").cast("int").as("bucket"))
      .agg(count(lit(1)).as("n_pairs"),
        min(col("err_e6")).as("min_err_e6"), max(col("err_e6")).as("max_err_e6"))
      .orderBy(col("bucket"))
  }

  val dedupMinhashErrorSql: String = {
    val matchSum = (0 until MinhashK)
      .map(i => s"(CASE WHEN a.mh$i = b.mh$i THEN 1 ELSE 0 END)")
      .mkString(" + ")
    s"""WITH $minhashCteCore,
      |est AS (
      |  SELECT cand.doc_a, cand.doc_b, CAST($matchSum AS BIGINT) AS matches
      |  FROM cand JOIN sig a ON cand.doc_a = a.doc_id
      |            JOIN sig b ON cand.doc_b = b.doc_id),
      |ex AS (
      |  SELECT cand.doc_a, cand.doc_b,
      |    CAST(len(list_intersect(a.hs, b.hs)) AS BIGINT) AS inter,
      |    CAST(len(a.hs) + len(b.hs) AS BIGINT) AS szsum
      |  FROM cand JOIN hsets a ON cand.doc_a = a.doc_id
      |            JOIN hsets b ON cand.doc_b = b.doc_id),
      |errs AS (
      |  SELECT abs(matches * 1000000 // $MinhashK
      |            - inter * 1000000 // (szsum - inter)) AS err_e6
      |  FROM est JOIN ex USING (doc_a, doc_b))
      |SELECT CAST(err_e6 // 100000 AS INT) AS bucket,
      |  CAST(count(*) AS BIGINT) AS n_pairs,
      |  CAST(min(err_e6) AS BIGINT) AS min_err_e6,
      |  CAST(max(err_e6) AS BIGINT) AS max_err_e6
      |FROM errs GROUP BY 1 ORDER BY bucket""".stripMargin
  }

  // --- threshold sensitivity sweep -------------------------------------
  // Where should the near-dup cut sit? Every dedup rollout argues about
  // 0.5 vs 0.7; this prices the argument: surviving pair count at five
  // candidate thresholds, from ONE pass over the exact-verified LSH
  // candidate pairs (the classifier_pr broadcast-grid pattern — 5×|pairs|
  // joined rows, one hash agg, never five passes). Integer outputs
  // (exact_e6 by integer division; thresholds in e2 percent).
  private val SweepThresholds = Seq(50, 60, 70, 80, 90)

  def dedupThresholdSweep(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.load(spark, sfDir, "documents")
    // one sigSets agg, one per-doc checkpoint (same shape as minhashLsh)
    val perDoc = sigSets(docs).localCheckpoint(false)
    val cand = cappedCandidatePairs(bandKeysOfSig(perDoc))
    val hsets = perDoc.select(col("doc_id"), col("hs"))
    val pairs = cand
      .join(hsets.select(col("doc_id").as("doc_a"), col("hs").as("ha")), Seq("doc_a"))
      .join(hsets.select(col("doc_id").as("doc_b"), col("hs").as("hb")), Seq("doc_b"))
      .select(size(array_intersect(col("ha"), col("hb"))).cast("long").as("inter"),
        (size(col("ha")) + size(col("hb"))).cast("long").as("szsum"))
      .select(expr("inter * 1000000 div (szsum - inter)").as("exact_e6"))
    val grid = SweepThresholds.toDF("threshold_e2")
    pairs.crossJoin(broadcast(grid))
      .groupBy(col("threshold_e2"))
      .agg(sum(when(col("exact_e6") >= col("threshold_e2") * 10000L, 1L)
        .otherwise(0L)).as("n_pairs"))
      .orderBy(col("threshold_e2"))
  }

  val dedupThresholdSweepSql: String = {
    val grid = SweepThresholds.map(t => s"($t)").mkString(", ")
    s"""WITH $minhashCteCore,
      |ex AS (
      |  SELECT CAST(len(list_intersect(a.hs, b.hs)) AS BIGINT) * 1000000
      |    // CAST(len(a.hs) + len(b.hs) - len(list_intersect(a.hs, b.hs)) AS BIGINT)
      |    AS exact_e6
      |  FROM cand JOIN hsets a ON cand.doc_a = a.doc_id
      |            JOIN hsets b ON cand.doc_b = b.doc_id)
      |SELECT t.threshold_e2,
      |  CAST(sum(CASE WHEN exact_e6 >= t.threshold_e2 * 10000 THEN 1 ELSE 0 END) AS BIGINT) AS n_pairs
      |FROM ex CROSS JOIN (VALUES $grid) t(threshold_e2)
      |GROUP BY 1 ORDER BY threshold_e2""".stripMargin
  }

  // --- incremental (new-batch-vs-corpus) near-dup ----------------------
  // The continuous-ingest shape: a NEW batch of documents is LSH-checked
  // against the EXISTING corpus without re-deduping the corpus against
  // itself. The batch here is one source ('src0', 5% of rows); in the
  // pipeline it is whatever the last micro-batch/backfill landed.
  //
  // Scale design: the corpus never self-joins and never shuffles — its
  // band keys stream once into a BROADCAST hash join against the (small)
  // batch's band keys, so cost is O(corpus scan + candidates) per
  // increment instead of O(corpus²) re-dedup. The oversized-bucket cap
  // runs on the corpus side (where the mass sits); each duplicated new
  // doc reports its best corpus match through one max(struct) hash-agg
  // (no per-doc window).
  private val IncrementalSource = "src0"

  def dedupIncremental(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.load(spark, sfDir, "documents")
    val newIds = docs.filter(col("source") === IncrementalSource).select(col("doc_id"))
    val newDocs = docs.join(broadcast(newIds), Seq("doc_id"))
    val corpus = docs.join(broadcast(newIds), Seq("doc_id"), "left_anti")
    // the shared index+match core (also the streaming face's backend);
    // built inline here because the oracle query owns no persisted state
    // — production builds the index once and `NearDupIndex.save`s it
    NearDupIndex.matchBatch(NearDupIndex.build(corpus), newDocs)
      // best corpus match per new doc: maximize jaccard, break ties on
      // the LOWEST corpus id — max(struct) keeps it one bounded hash-agg
      .groupBy(col("new_id"))
      .agg(max(struct(col("jaccard"), (-col("dup_of")).as("nid"))).as("best"))
      .select(col("new_id").as("new_doc_id"), (-col("best.nid")).as("dup_of"),
        col("best.jaccard").as("jaccard"))
      .orderBy(col("new_doc_id"))
  }

  val dedupIncrementalSql: String = {
    val minExprs = HashParams.zipWithIndex
      .map { case ((a, b), i) => s"min((h * $a + $b) % $Prime) AS mh$i" }
      .mkString(",\n      |    ")
    val bandSelects = (0 until MinhashK / BandRows).map { bandIdx =>
      val cols = (0 until BandRows).map(r => s"mh${bandIdx * BandRows + r}")
      s"SELECT doc_id, $bandIdx AS band, concat_ws('_', ${cols.mkString(", ")}) AS bkey FROM sig"
    }.mkString("\n      |  UNION ALL ")
    s"""WITH shingles AS (
      |  SELECT DISTINCT doc_id, tok || ' ' || nxt1 || ' ' || nxt2 AS shingle FROM (
      |    SELECT doc_id, tok,
      |      lead(tok, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt1,
      |      lead(tok, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt2
      |    FROM (
      |      SELECT doc_id, u.tok AS tok, u.pos AS pos FROM (
      |        SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS t FROM documents),
      |        LATERAL (SELECT unnest(t) AS tok, generate_subscripts(t, 1) AS pos) u))
      |  WHERE nxt2 IS NOT NULL),
      |sh AS (SELECT DISTINCT doc_id, CAST(('0x' || substr(md5(shingle), 1, 8)) AS BIGINT) AS h FROM shingles),
      |sig AS (
      |  SELECT doc_id,
      |    $minExprs
      |  FROM sh GROUP BY doc_id),
      |bands AS (
      |  $bandSelects),
      |newids AS (SELECT doc_id FROM documents WHERE source = '$IncrementalSource'),
      |batch AS (SELECT b.* FROM bands b WHERE b.doc_id IN (SELECT doc_id FROM newids)),
      |corpus AS (SELECT b.* FROM bands b WHERE b.doc_id NOT IN (SELECT doc_id FROM newids)),
      |capped AS (
      |  SELECT doc_id, band, bkey FROM (
      |    SELECT *, count(*) OVER (PARTITION BY band, bkey) AS bsz FROM corpus)
      |  WHERE bsz <= $MinhashBucketCap),
      |cand AS (
      |  SELECT DISTINCT batch.doc_id AS new_id, c.doc_id AS dup_of
      |  FROM batch JOIN capped c ON batch.band = c.band AND batch.bkey = c.bkey),
      |hsets AS (SELECT doc_id, list(DISTINCT h) AS hs FROM sh GROUP BY doc_id),
      |verified AS (
      |  SELECT new_id, dup_of, jaccard FROM (
      |    SELECT new_id, dup_of,
      |      len(list_intersect(a.hs, b.hs))::DOUBLE
      |        / (len(a.hs) + len(b.hs) - len(list_intersect(a.hs, b.hs))) AS jaccard
      |    FROM cand JOIN hsets a ON cand.new_id = a.doc_id JOIN hsets b ON cand.dup_of = b.doc_id)
      |  WHERE jaccard >= 0.5)
      |SELECT new_id AS new_doc_id, dup_of, jaccard FROM (
      |  SELECT *, row_number() OVER (PARTITION BY new_id ORDER BY jaccard DESC, dup_of) AS rn
      |  FROM verified)
      |WHERE rn = 1 ORDER BY new_doc_id""".stripMargin
  }

  // --- SimHash near-dup: 32-bit simhash + banded hamming candidates ---
  def simhash(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.load(spark, sfDir, "documents")
    val withTok = docs
      // explode_outer + notNull: avoids the inferred-filter double
      // tokenize of a plain explode (same rationale as shingleHashes);
      // empty docs are dropped by the notNull filter exactly as explode
      // would have dropped them.
      .select(col("doc_id"), explode_outer(array_distinct(toks(col("text")))).as("tok"))
      .filter(col("tok").isNotNull)
      .select(col("doc_id"), conv(substring(md5(col("tok")), 1, 8), 16, 10).cast("long").as("h"))
    // per bit: +1 if set else -1; simhash bit = sign of the vote sum
    val votes = (0 until 32).map { bit =>
      sum(when(shiftright(col("h"), bit).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"v$bit")
    }
    val voted = withTok.groupBy(col("doc_id")).agg(votes.head, votes.tail: _*)
    val sim = (0 until 32).map { bit =>
      when(col(s"v$bit") > 0, lit(1L << bit)).otherwise(0L)
    }.reduce(_ + _)
    val sigs = voted.select(col("doc_id"), sim.as("simhash")).localCheckpoint(false)
    // candidates: equal 16-bit half (1 bit of hamming slack per half) —
    // banded LSH over the signature, both halves emitted in one pass and
    // skew-guarded like the MinHash band join
    val halves = sigs
      .select(col("doc_id"), explode(array(
        struct(lit(0).as("half"), col("simhash").bitwiseAND(65535).as("hk")),
        struct(lit(1).as("half"), shiftright(col("simhash"), 16).as("hk")))).as("hh"))
      .select(col("doc_id"), col("hh.half").as("half"), col("hh.hk").as("hk"))
      // read 3x (oversized agg + self-join sides); lazy — the oversized
      // broadcast subquery materializes it before the self-join
      .localCheckpoint(false)
    val oversized = halves.groupBy(col("half"), col("hk"))
      .agg(count(lit(1)).as("bsz")).filter(col("bsz") > MinhashBucketCap)
      .select(col("half"), col("hk"))
    val capped = halves.join(broadcast(oversized), Seq("half", "hk"), "left_anti")
    val l = capped.select(col("half"), col("hk"), col("doc_id").as("doc_a"))
    val r = capped.select(col("half"), col("hk"), col("doc_id").as("doc_b"))
    val cand = l.join(r, Seq("half", "hk")).filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    cand
      .join(sigs.select(col("doc_id").as("doc_a"), col("simhash").as("sa")), Seq("doc_a"))
      .join(sigs.select(col("doc_id").as("doc_b"), col("simhash").as("sb")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("sa").bitwiseXOR(col("sb"))).as("hamming"))
      .filter(col("hamming") <= 6)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** DuckDB mirror of [[simhash]] — the 32-bit vote loop unrolled as 32
    * conditional sums (verified row-identical against the Spark output,
    * upgrading this query from a rows-only check to the full oracle). */
  val simhashSql: String = {
    val votes = (0 until 32)
      .map(b => s"sum(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS v$b")
      .mkString(",\n      |    ")
    val sim = (0 until 32)
      .map(b => s"(CASE WHEN v$b > 0 THEN ${1L << b} ELSE 0 END)")
      .mkString("\n      |      + ")
    s"""WITH tok AS (
      |  SELECT DISTINCT doc_id, unnest(list_filter(string_split(text,' '), x->x!='')) AS tok
      |  FROM documents),
      |h AS (SELECT doc_id, CAST(('0x'||substr(md5(tok),1,8)) AS BIGINT) AS h FROM tok),
      |voted AS (
      |  SELECT doc_id,
      |    $votes
      |  FROM h GROUP BY doc_id),
      |sigs AS (
      |  SELECT doc_id,
      |      $sim AS simhash
      |  FROM voted),
      |halves AS (
      |  SELECT doc_id, half, CASE WHEN half = 0 THEN simhash & 65535 ELSE simhash >> 16 END AS hk
      |  FROM sigs, (SELECT unnest([0,1]) AS half)),
      |capped AS (
      |  SELECT doc_id, half, hk FROM (
      |    SELECT *, count(*) OVER (PARTITION BY half, hk) AS bsz FROM halves)
      |  WHERE bsz <= $MinhashBucketCap),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM capped a JOIN capped b ON a.half = b.half AND a.hk = b.hk AND a.doc_id < b.doc_id)
      |SELECT doc_a, doc_b, bit_count(CAST(xor(sa.simhash, sb.simhash) AS BIGINT)) AS hamming
      |FROM cand JOIN sigs sa ON cand.doc_a = sa.doc_id JOIN sigs sb ON cand.doc_b = sb.doc_id
      |WHERE hamming <= 6 ORDER BY doc_a, doc_b""".stripMargin
  }

  // --- near-dup cluster consolidation ---------------------------------
  // Pairwise near-dup detection (minhash) is only half the operator a
  // training pipeline needs: overlapping pairs must consolidate into
  // CLUSTERS with one canonical survivor (A~B, B~C ⇒ {A,B,C} keep min).
  // Connected components via min-label propagation WITH pointer jumping,
  // all DataFrame ops: every node starts labelled with the min of itself
  // and its neighbors; each round pushes labels across edges AND chases
  // label-of-label (pointer jumping), keeping the per-node min; the
  // driver loop stops at fixpoint. Pointer jumping makes the round count
  // O(log diameter) instead of O(diameter) — a pathological 1000-node
  // chain converges in ~10 rounds, not 1000 — at the cost of one extra
  // |V|-row join per round (dwarfed by the |E| edge join). Each round
  // shuffles |V|+|E| rows — never materializing the transitive closure
  // the way the oracle's recursive CTE does (fine for DuckDB at test
  // scale, quadratic poison at 100 TB).
  def dedupClusters(spark: SparkSession, sfDir: String): DataFrame = {
    val pairs = minhashLsh(spark, sfDir).select(col("doc_a"), col("doc_b"))
    clusterLabels(bothDirections(pairs))
      .select(col("id").as("doc_id"), col("label").as("cluster_id"))
      .orderBy(col("doc_id"))
  }

  // --- cluster coherence audit ------------------------------------------
  // How similar is a cluster REALLY? Transitive closure chains A~B~C into
  // one cluster even when A and C barely overlap, so a pipeline about to
  // collapse clusters to one canonical doc should see, per cluster, the
  // similarity distribution over its verified edges plus its edge
  // density — a big low-min low-density cluster is a chaining artifact,
  // not a duplicate family. One pass: the verified pairs are
  // materialized once and feed BOTH the label propagation and the edge
  // stats; everything else is cluster-keyed hash aggs. Outputs are exact
  // integers (jaccard through floor ×1e6 of the bit-identical double;
  // avg/density by pure integer division).
  def dedupClusterCoherence(spark: SparkSession, sfDir: String): DataFrame = {
    val pairs = minhashLsh(spark, sfDir).localCheckpoint(false)
    val labels = clusterLabels(bothDirections(pairs.select(col("doc_a"), col("doc_b"))))
      .select(col("id").as("doc_id"), col("label").as("cluster_id"))
    val sizes = labels.groupBy(col("cluster_id")).agg(count(lit(1)).as("n_members"))
    // an edge's cluster is either endpoint's label (same by construction)
    val ej = pairs
      .join(labels.select(col("doc_id").as("doc_a"), col("cluster_id")), Seq("doc_a"))
      .select(col("cluster_id"),
        floor(col("jaccard") * lit(1000000.0)).cast("long").as("j_e6"))
    val es = ej.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_edges"), min(col("j_e6")).as("min_jaccard_e6"),
        sum(col("j_e6")).as("sj"))
    sizes.join(es, Seq("cluster_id"))
      .select(col("cluster_id"), col("n_members"), col("n_edges"),
        col("min_jaccard_e6"),
        expr("sj div n_edges").as("avg_jaccard_e6"),
        expr("n_edges * 2000000L div (n_members * (n_members - 1))").as("density_e6"))
      .orderBy(col("cluster_id"))
  }

  val dedupClusterCoherenceSql: String =
    s"""WITH RECURSIVE mp AS MATERIALIZED (
      |  SELECT doc_a, doc_b, jaccard FROM ($minhashLshSql)
      |),
      |e AS (
      |  SELECT doc_a, doc_b FROM mp
      |  UNION SELECT doc_b, doc_a FROM mp
      |  UNION SELECT doc_a, doc_a FROM mp
      |  UNION SELECT doc_b, doc_b FROM mp),
      |reach(a, b) AS (
      |  SELECT doc_a, doc_b FROM e
      |  UNION
      |  SELECT r.a, e.doc_b FROM reach r JOIN e ON r.b = e.doc_a),
      |labels AS MATERIALIZED (SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY a),
      |sizes AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members
      |          FROM labels GROUP BY 1),
      |ej AS (
      |  SELECT l.cluster_id, CAST(floor(mp.jaccard * 1000000.0) AS BIGINT) AS j_e6
      |  FROM mp JOIN labels l ON mp.doc_a = l.doc_id),
      |es AS (
      |  SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_edges,
      |    CAST(min(j_e6) AS BIGINT) AS min_jaccard_e6,
      |    CAST(sum(j_e6) // count(*) AS BIGINT) AS avg_jaccard_e6
      |  FROM ej GROUP BY 1)
      |SELECT s.cluster_id, s.n_members, es.n_edges, es.min_jaccard_e6,
      |  es.avg_jaccard_e6,
      |  CAST(es.n_edges * 2000000 // (s.n_members * (s.n_members - 1)) AS BIGINT) AS density_e6
      |FROM sizes s JOIN es USING (cluster_id)
      |ORDER BY cluster_id""".stripMargin

  /** Both directions of every undirected pair in ONE pass (explode, not
    * union — a union would evaluate the whole upstream subtree once per
    * branch). */
  private def bothDirections(pairs: DataFrame): DataFrame =
    pairs.select(explode(array(
        struct(col("doc_a"), col("doc_b")),
        struct(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))).as("e"))
      .select(col("e.doc_a").as("doc_a"), col("e.doc_b").as("doc_b"))

  /** Min-label propagation + pointer jumping over a directed edge frame
    * `(doc_a, doc_b)` carrying BOTH directions of every undirected edge.
    * Returns `(id, label)` with `label` = the component's min id.
    * Converges in O(log diameter) rounds; if `maxRounds` is ever hit the
    * labels would be WRONG (some nodes not yet at their component min),
    * so it fails loudly rather than returning them. */
  private[graft] def clusterLabels(edgesIn: DataFrame, maxRounds: Int = 30): DataFrame = {
    val edges = edgesIn.localCheckpoint()
    // Convergence bookkeeping: labels only ever DECREASE, so the label
    // sum strictly decreases until fixpoint — one decimal-exact
    // aggregate per round instead of a prev-vs-next join. Seed labels
    // with the first neighbor-min round directly (identity ∪ neighbors),
    // skipping the no-op identity round.
    def labelSum(l: DataFrame): java.math.BigDecimal =
      l.agg(sum(col("label").cast(DecimalType(38, 0)))).head().getDecimal(0)
    // LAZY localCheckpoint + labelSum: the sum action materializes the
    // checkpoint blocks, so seed (and each round below) costs ONE job
    // instead of an eager-checkpoint job plus a sum job.
    var labels = edges
      .select(col("doc_a").as("id"), col("doc_a").as("label"))
      .union(edges.select(col("doc_a").as("id"), col("doc_b").as("label")))
      .groupBy(col("id")).agg(min(col("label")).as("label"))
      .localCheckpoint(false)
    var prevSum = labelSum(labels)
    var rounds = 1
    var converged = false
    while (!converged && rounds < maxRounds) {
      // ONE join per round instead of two: the neighbor push and the
      // pointer jump both have the shape "look up key in the label
      // table, emit (out, label(key))" — push with (key=doc_a,
      // out=doc_b), jump with (key=label(id), out=id), i.e.
      // label(label(id)), which doubles propagation distance per round.
      // Unioning the two lookup frames BEFORE the join halves the
      // per-round join/exchange bill (both reads of `labels` come from
      // its checkpoint, so the union costs no recompute).
      val lookups = edges.select(col("doc_a").as("key"), col("doc_b").as("out"))
        .union(labels.select(col("label").as("key"), col("id").as("out")))
      val propagated = lookups
        .join(labels.select(col("id").as("key"), col("label")), Seq("key"))
        .select(col("out").as("id"), col("label"))
      // per-round localCheckpoint: without it round N's plan nests all
      // N-1 previous rounds and the driver re-plans a growing tree.
      // Lazy: the labelSum action right below materializes it.
      val next = labels.union(propagated)
        .groupBy(col("id")).agg(min(col("label")).as("label"))
        .localCheckpoint(false)
      val nextSum = labelSum(next)
      converged = nextSum.compareTo(prevSum) == 0
      labels.unpersist()
      labels = next
      prevSum = nextSum
      rounds += 1
    }
    edges.unpersist()
    if (!converged)
      sys.error(s"cluster label propagation did not converge in $maxRounds rounds — " +
        "labels would be incomplete; raise maxRounds")
    labels
  }

  // --- incremental cluster maintenance ---------------------------------
  // The continuous-ingest shape for COMPONENTS, completing what
  // `dedup_incremental` does for pairs: yesterday's labels are a
  // persisted fixpoint; today's new near-dup pairs must merge clusters
  // and admit new members WITHOUT re-propagating the whole graph.
  // Standard contraction argument: every existing cluster collapses to
  // its representative (its min-id label), each new edge maps its
  // endpoints through the label table (new docs represent themselves),
  // and propagation runs only on that CONTRACTED graph — nodes are the
  // touched representatives + new docs, so the per-round bill is
  // O(new edges + touched clusters), not O(|V|+|E|) of the full graph.
  // Re-pointing the label table is one broadcast-sized join (the
  // relabel frame is touched-reps-only). Exactness: reps are component
  // minima, so the contracted component's min IS the merged component's
  // global min.

  /** Fold a batch of new undirected pairs into an existing `(id, label)`
    * fixpoint. Returns the updated full label table. */
  private[graft] def clusterLabelsIncremental(labels: DataFrame,
      newPairs: DataFrame): DataFrame = {
    val contracted = newPairs
      .join(labels.select(col("id").as("doc_a"), col("label").as("ca")), Seq("doc_a"), "left")
      .join(labels.select(col("id").as("doc_b"), col("label").as("cb")), Seq("doc_b"), "left")
      .select(coalesce(col("ca"), col("doc_a")).as("doc_a"),
        coalesce(col("cb"), col("doc_b")).as("doc_b"))
      .filter(col("doc_a") =!= col("doc_b")) // intra-cluster edges are no-ops
    if (contracted.isEmpty) return labels
    val relabel = clusterLabels(bothDirections(contracted)).localCheckpoint()
    val updatedOld = labels
      .join(relabel.select(col("id").as("label"), col("label").as("nl")), Seq("label"), "left")
      .select(col("id"), coalesce(col("nl"), col("label")).as("label"))
    // endpoints absent from the old table are NEW members: they carried
    // themselves as representatives, so their relabel rows are theirs
    val newMembers = relabel
      .join(labels.select(col("id")), Seq("id"), "left_anti")
    updatedOld.union(newMembers)
  }

  /** `dedup_clusters` computed INCREMENTALLY: a deterministic id rule
    * splits the verified pairs into a "yesterday" base (labels built by
    * full propagation) and a "today" increment folded in via
    * [[clusterLabelsIncremental]]. Same rows, same oracle as
    * `dedup_clusters` — the hash match certifies incremental ≡ full
    * recompute. */
  def dedupClustersIncremental(spark: SparkSession, sfDir: String): DataFrame = {
    val pairs = minhashLsh(spark, sfDir).select(col("doc_a"), col("doc_b"))
      .localCheckpoint() // read twice (base + increment split)
    val newDoc = (c: org.apache.spark.sql.Column) => pmod(c, lit(3L)) === 0
    val base = pairs.filter(!newDoc(col("doc_a")) && !newDoc(col("doc_b")))
    val inc = pairs.filter(newDoc(col("doc_a")) || newDoc(col("doc_b")))
    val baseLabels =
      if (base.isEmpty) base.select(col("doc_a").as("id"), col("doc_a").as("label"))
      else clusterLabels(bothDirections(base))
    clusterLabelsIncremental(baseLabels, inc)
      .select(col("id").as("doc_id"), col("label").as("cluster_id"))
      .orderBy(col("doc_id"))
  }

  /** DuckDB mirror: the same minhash pairs, components via a recursive
    * transitive-closure CTE (aggregates are not allowed in recursive
    * terms, so the oracle materializes reachability and takes the min —
    * correct at oracle scale, not a pattern for the engine). */
  val dedupClustersSql: String =
    s"""WITH RECURSIVE pairs AS (
      |  SELECT doc_a, doc_b FROM ($minhashLshSql)
      |),
      |e AS (
      |  SELECT doc_a, doc_b FROM pairs
      |  UNION SELECT doc_b, doc_a FROM pairs
      |  UNION SELECT doc_a, doc_a FROM pairs
      |  UNION SELECT doc_b, doc_b FROM pairs),
      |reach(a, b) AS (
      |  SELECT doc_a, doc_b FROM e
      |  UNION
      |  SELECT r.a, e.doc_b FROM reach r JOIN e ON r.b = e.doc_a)
      |SELECT a AS doc_id, min(b) AS cluster_id
      |FROM reach GROUP BY a ORDER BY doc_id""".stripMargin

  // --- cross-source duplication attribution ----------------------------
  // The mixture-governance question behind dedup: WHICH sources
  // duplicate each other (licensing exposure, crawl overlap, mirror
  // detection) — the near-dup PAIRS joined to their sources and
  // aggregated into an unordered source×source matrix. Scale shape:
  // cost is O(verified pairs) — the expensive part (capped LSH
  // candidates + exact-Jaccard verify) is the already-scale-shaped
  // [[minhashLsh]]; this adds two hash joins against the slim
  // (doc_id, source) projection and one small hash agg (S² rows at
  // most). min/max of jaccard instead of avg: they are
  // order-independent, so the hash compare stays exact across engines
  // regardless of partial-agg merge order.
  def dedupSourceMatrix(spark: SparkSession, sfDir: String): DataFrame = {
    val pairs = minhashLsh(spark, sfDir)
    val src = Tables.load(spark, sfDir, "documents").select(col("doc_id"), col("source"))
    pairs
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("sa")), Seq("doc_a"))
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("sb")), Seq("doc_b"))
      .select(least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"), col("jaccard"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_pairs"),
        round(min(col("jaccard")), 6).as("min_jaccard"),
        round(max(col("jaccard")), 6).as("max_jaccard"))
      .orderBy(col("source_a"), col("source_b"))
  }

  val dedupSourceMatrixSql: String =
    s"""WITH pairs AS (
      |  SELECT doc_a, doc_b, jaccard FROM ($minhashLshSql)
      |)
      |SELECT least(da.source, db.source) AS source_a,
      |  greatest(da.source, db.source) AS source_b,
      |  count(*) AS n_pairs,
      |  round(min(jaccard), 6) AS min_jaccard,
      |  round(max(jaccard), 6) AS max_jaccard
      |FROM pairs
      |JOIN documents da ON pairs.doc_a = da.doc_id
      |JOIN documents db ON pairs.doc_b = db.doc_id
      |GROUP BY 1, 2 ORDER BY source_a, source_b""".stripMargin

  // --- SemDeDup: cluster-bucketed semantic dedup -----------------------
  // The SemDeDup recipe (Abbas et al. 2023): k-means-cluster the MODEL
  // embeddings, compare pairs only WITHIN a cluster, and among semantic
  // duplicates keep the member FARTHEST from its centroid (dropping the
  // prototypical copy preserves cluster diversity — the opposite keep
  // rule from min-id exact dedup). This is the dedup pass that catches
  // paraphrases no shingle/minhash pass can see.
  //
  // Scale shape: centroid assignment is the shared IVF one-hash-agg
  // path (exchange = one row per vector); the pairwise stage is a
  // cent_id-keyed self-join — cost Σ|cluster|², the published SemDeDup
  // bill, held constant-per-vector by scaling k with N (k = N/stride
  // here, so E|cluster| = stride at any corpus size). Never all-pairs,
  // never a window.
  //
  // Float parity: both engines compare THEIR OWN cosine values only
  // (threshold + which-of-two-is-closer), the same in-engine-comparison
  // contract corpus_diversity_sample's assignment already relies on.
  private val SemDupStride = 25
  private val SemDupT = 0.30

  def dedupSemantic(spark: SparkSession, sfDir: String): DataFrame = {
    graft.functions.VectorFunctions.register(spark)
    val vecs = Tables.load(spark, sfDir, "embeddings")
    val cents = vecs.filter(col("vec_id") % SemDupStride === 0)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cemb"))
    val m = VectorQueries.assignNearest(vecs, cents)
      .join(broadcast(cents), Seq("cent_id"))
      .select(col("cent_id"), col("vec_id"), col("embedding"),
        call_function("cosine_sim", col("embedding"), col("cemb")).as("csim"))
    val a = m.select(col("cent_id"), col("vec_id").as("id_a"),
      col("embedding").as("ea"), col("csim").as("ca"))
    val b = m.select(col("cent_id"), col("vec_id").as("id_b"),
      col("embedding").as("eb"), col("csim").as("cb"))
    val pairs = a.join(b, Seq("cent_id"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("ca"), col("cb"),
        call_function("cosine_sim", col("ea"), col("eb")).as("sim"))
      .filter(col("sim") >= SemDupT)
    // keep-far rule: the pair member CLOSER to the centroid is the dup
    pairs
      .select(
        when(col("ca") > col("cb"), col("id_a"))
          .when(col("ca") < col("cb"), col("id_b"))
          .otherwise(col("id_a")).as("dup_id"),
        when(col("ca") > col("cb"), col("id_b"))
          .when(col("ca") < col("cb"), col("id_a"))
          .otherwise(col("id_b")).as("kept"))
      .groupBy(col("dup_id"))
      .agg(min(col("kept")).as("keep_id"), count(lit(1)).as("n_pairs"))
      .orderBy(col("dup_id"))
  }

  val dedupSemanticSql: String =
    s"""WITH cents AS (
      |  SELECT vec_id AS cent_id, embedding AS cemb FROM embeddings
      |  WHERE vec_id % $SemDupStride = 0),
      |assigned AS (
      |  SELECT vec_id, cent_id FROM (
      |    SELECT e.vec_id, c.cent_id,
      |      row_number() OVER (PARTITION BY e.vec_id
      |        ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(c.cemb AS DOUBLE[])) DESC, c.cent_id) AS rn
      |    FROM embeddings e CROSS JOIN cents c)
      |  WHERE rn = 1),
      |m AS (
      |  SELECT a.cent_id, a.vec_id, e.embedding,
      |    list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(c.cemb AS DOUBLE[])) AS csim
      |  FROM assigned a
      |  JOIN embeddings e ON e.vec_id = a.vec_id
      |  JOIN cents c ON c.cent_id = a.cent_id),
      |pairs AS (
      |  SELECT p.vec_id AS id_a, q.vec_id AS id_b, p.csim AS ca, q.csim AS cb,
      |    list_cosine_similarity(CAST(p.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])) AS sim
      |  FROM m p JOIN m q ON p.cent_id = q.cent_id AND p.vec_id < q.vec_id),
      |dups AS (
      |  SELECT CASE WHEN ca > cb THEN id_a WHEN ca < cb THEN id_b ELSE id_a END AS dup_id,
      |         CASE WHEN ca > cb THEN id_b WHEN ca < cb THEN id_a ELSE id_b END AS kept
      |  FROM pairs WHERE sim >= $SemDupT)
      |SELECT dup_id, min(kept) AS keep_id, count(*) AS n_pairs
      |FROM dups GROUP BY dup_id ORDER BY dup_id""".stripMargin

  /** Match new vectors against a landed cluster index `(cents,
    * members)` — one best corpus match per arrival at `sim >=
    * threshold` (ties → lowest member id). Shared verbatim by the
    * oracle-gated [[dedupSemanticIncremental]] and the streaming face
    * ([[graft.streaming.StreamSemanticDedup]]), so ingest-time and
    * nightly semantic dedup can never disagree. */
  private[graft] def semanticMatch(batch: DataFrame, cents: DataFrame,
      members: DataFrame, threshold: Double): DataFrame =
    VectorQueries.assignNearest(batch.select(col("vec_id"), col("embedding")), cents)
      .select(col("cent_id"), col("vec_id"), col("embedding"))
      .join(members
          .select(col("cent_id"), col("vec_id").as("mid"), col("embedding").as("memb")),
        Seq("cent_id"))
      .filter(col("mid") =!= col("vec_id"))
      .select(col("vec_id"), col("mid"),
        call_function("cosine_sim", col("embedding"), col("memb")).as("sim"))
      .filter(col("sim") >= threshold)
      .groupBy(col("vec_id"))
      .agg(
        max_by(struct(col("mid"), col("sim")), struct(col("sim"), -col("mid"))).as("best"),
        count(lit(1)).as("n_matches"))
      .select(col("vec_id"), col("best.mid").as("dup_of"),
        col("best.sim").as("sim"), col("n_matches"))

  // --- incremental semantic dedup: new batch vs landed corpus ----------
  // The continuous-ingest shape of [[dedupSemantic]] (dedup_incremental's
  // embedding sibling): a new-arrival slice is checked against the
  // corpus's persisted cluster index — each increment costs
  // |batch| × E|cluster| comparisons, never batch × corpus, and the
  // corpus side never re-shuffles per batch.
  def dedupSemanticIncremental(spark: SparkSession, sfDir: String): DataFrame = {
    graft.functions.VectorFunctions.register(spark)
    val vecs = Tables.load(spark, sfDir, "embeddings")
    val corpus = vecs.filter(col("vec_id") % SemIncMod =!= 0)
    val batch = vecs.filter(col("vec_id") % SemIncMod === 0)
    val cents = corpus.filter(col("vec_id") % SemDupStride === 0)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cemb"))
    semanticMatch(batch, cents, VectorQueries.assignNearest(corpus, cents), SemDupT)
      .select(col("vec_id"), col("dup_of"),
        round(col("sim"), 6).as("sim"), col("n_matches"))
      .orderBy(col("vec_id"))
  }
  private val SemIncMod = 7

  val dedupSemanticIncrementalSql: String =
    s"""WITH corpus AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % $SemIncMod != 0),
      |newv AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % $SemIncMod = 0),
      |cents AS (
      |  SELECT vec_id AS cent_id, embedding AS cemb FROM corpus
      |  WHERE vec_id % $SemDupStride = 0),
      |members AS (
      |  SELECT vec_id, embedding, cent_id FROM (
      |    SELECT e.vec_id, e.embedding, c.cent_id,
      |      row_number() OVER (PARTITION BY e.vec_id
      |        ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(c.cemb AS DOUBLE[])) DESC, c.cent_id) AS rn
      |    FROM corpus e CROSS JOIN cents c)
      |  WHERE rn = 1),
      |anew AS (
      |  SELECT vec_id, embedding, cent_id FROM (
      |    SELECT e.vec_id, e.embedding, c.cent_id,
      |      row_number() OVER (PARTITION BY e.vec_id
      |        ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(c.cemb AS DOUBLE[])) DESC, c.cent_id) AS rn
      |    FROM newv e CROSS JOIN cents c)
      |  WHERE rn = 1),
      |scored AS (
      |  SELECT n.vec_id, m.vec_id AS mid,
      |    list_cosine_similarity(CAST(n.embedding AS DOUBLE[]), CAST(m.embedding AS DOUBLE[])) AS sim
      |  FROM anew n JOIN members m ON n.cent_id = m.cent_id AND m.vec_id != n.vec_id),
      |hits AS (SELECT * FROM scored WHERE sim >= $SemDupT),
      |ranked AS (
      |  SELECT vec_id, mid, sim,
      |    row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, mid) AS rn,
      |    count(*) OVER (PARTITION BY vec_id) AS n_matches
      |  FROM hits)
      |SELECT vec_id, mid AS dup_of, round(sim, 6) AS sim, n_matches
      |FROM ranked WHERE rn = 1 ORDER BY vec_id""".stripMargin

  // --- embedding-cosine near-dup --------------------------------------
  // Feature-hash each doc into a 64-dim term-frequency vector
  // (dim = md5(token) % 64, value = count), find candidate pairs with
  // the same sign-bit LSH banding as vec_ann_lsh, verify with the
  // codegen'd cosine_sim expression, and collapse each dup onto its
  // lowest-id neighbor. Cross-engine float parity is EXACT here: the
  // vectors are integer-valued, so dot/norm sums are exact integers and
  // cosine = identical IEEE divide+sqrt in both engines.
  // Scale: tf build is one hash-agg; dense assembly is per-row; the
  // candidate join is the capped LSH path — never all-pairs.
  private val EmbDims = 64
  private val EmbDupT = 0.95

  def dedupEmbedding(spark: SparkSession, sfDir: String): DataFrame = {
    graft.functions.VectorFunctions.register(spark)
    val docs = Tables.load(spark, sfDir, "documents")
    val tf = docs.select(col("doc_id"), explode_outer(toks(col("text"))).as("tok"))
      .filter(col("tok").isNotNull) // vs explode: skips the inferred-filter double tokenize
      .select(col("doc_id"),
        pmod(conv(substring(md5(col("tok")), 1, 8), 16, 10).cast("long"), lit(EmbDims)).as("dim"))
      .groupBy(col("doc_id"), col("dim")).agg(count(lit(1)).as("cnt"))
    val dense = tf.groupBy(col("doc_id"))
      .agg(map_from_entries(collect_list(struct(col("dim"), col("cnt")))).as("m"))
      .select(col("doc_id"),
        transform(sequence(lit(0), lit(EmbDims - 1)),
          i => coalesce(element_at(col("m"), i.cast("long")), lit(0L)).cast("float")).as("emb"))
      // read by the LSH pass + both sides of the verify join; lazy —
      // the LSH oversized-bucket broadcast subquery materializes it
      .localCheckpoint(false)
    val cand = VectorQueries.lshCandidates(dense, "doc_id", "emb")
    val sims = cand
      .join(dense.select(col("doc_id").as("id_a"), col("emb").as("ea")), Seq("id_a"))
      .join(dense.select(col("doc_id").as("id_b"), col("emb").as("eb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        call_function("cosine_sim", col("ea"), col("eb")).as("sim"))
      .filter(col("sim") >= EmbDupT)
    sims.groupBy(col("id_b"))
      .agg(min(col("id_a")).as("keep_id"))
      .select(col("id_b").as("dup_id"), col("keep_id"))
      .orderBy(col("dup_id"))
  }

  val dedupEmbeddingSql: String =
    s"""WITH tf AS (
      |  SELECT doc_id, CAST(('0x'||substr(md5(tok),1,8)) AS BIGINT) % $EmbDims AS dim, count(*) AS cnt
      |  FROM (SELECT doc_id, unnest(list_filter(string_split(text,' '), x->x!='')) AS tok FROM documents)
      |  GROUP BY 1,2),
      |dense AS (
      |  SELECT d.doc_id, array_agg(coalesce(tf.cnt,0) ORDER BY r.i) AS emb
      |  FROM (SELECT DISTINCT doc_id FROM tf) d
      |  CROSS JOIN (SELECT unnest(range(0,$EmbDims)) AS i) r
      |  LEFT JOIN tf ON tf.doc_id = d.doc_id AND tf.dim = r.i
      |  GROUP BY 1),
      |${VectorQueries.lshCandSql("dense", "doc_id", "emb")},
      |scored AS (
      |  SELECT id_a, id_b,
      |    list_cosine_similarity(CAST(a.emb AS DOUBLE[]), CAST(b.emb AS DOUBLE[])) AS sim
      |  FROM cand JOIN dense a ON cand.id_a = a.doc_id JOIN dense b ON cand.id_b = b.doc_id)
      |SELECT id_b AS dup_id, min(id_a) AS keep_id
      |FROM scored WHERE sim >= $EmbDupT GROUP BY 1 ORDER BY 1""".stripMargin

  // --- exact substring-window duplication ------------------------------
  // Document-level dedup misses the dominant failure mode of web corpora:
  // boilerplate PASSAGES (headers, licenses, templates) repeated across
  // otherwise-distinct documents. The suffix-array formulation finds
  // every repeated span exactly but needs a global sort of all suffixes;
  // the scalable relaxation fingerprints fixed-length character windows
  // on a stride — a span duplicated across docs must cover some aligned
  // window, so per-doc duplication RATIOS converge to the suffix-array
  // answer as stride shrinks. Pipeline: one generate per doc (windows =
  // chars/stride rows, linear), one hash-agg per fingerprint counting
  // distinct docs (two-phase, map-side partial on (fp, doc)), one
  // co-partitioned fp join (reuses the agg's exchange), one per-doc
  // hash-agg. No window functions, nothing driver-side, nothing ∝N².
  private val SubWin = 40 // chars per fingerprinted window
  private val SubStride = 10

  def dedupSubstring(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.load(spark, sfDir, "documents")
      .filter(length(col("text")) >= SubWin)
    val wins = docs
      .select(col("doc_id"), col("text"),
        explode_outer(sequence(lit(1), length(col("text")) - (SubWin - 1), lit(SubStride))).as("p"))
      .filter(col("p").isNotNull) // explode_outer: see the pinned re-tokenize lesson
      .select(col("doc_id"), md5(col("text").substr(col("p"), lit(SubWin))).as("fp"))
    val fpc = wins.groupBy(col("fp")).agg(countDistinct(col("doc_id")).as("nd"))
    wins.join(fpc, Seq("fp"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_windows"),
        sum(when(col("nd") >= 2, 1L).otherwise(0L)).as("dup_windows"))
      .withColumn("dup_ratio",
        round(col("dup_windows").cast("double") / col("n_windows"), 6))
      .orderBy(col("doc_id"))
  }

  val dedupSubstringSql: String =
    s"""WITH pos AS (
      |  SELECT doc_id, text,
      |    unnest(generate_series(1, len(text) - ${SubWin - 1}, $SubStride)) AS p
      |  FROM documents WHERE len(text) >= $SubWin),
      |wins AS (SELECT doc_id, md5(substr(text, p, $SubWin)) AS fp FROM pos),
      |fpc AS (SELECT fp, count(DISTINCT doc_id) AS nd FROM wins GROUP BY fp)
      |SELECT w.doc_id, CAST(count(*) AS BIGINT) AS n_windows,
      |  CAST(sum(CASE WHEN f.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS dup_windows,
      |  round(CAST(sum(CASE WHEN f.nd >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS dup_ratio
      |FROM wins w JOIN fpc f USING (fp)
      |GROUP BY w.doc_id ORDER BY w.doc_id""".stripMargin

  // --- winnowing (MOSS) fingerprints -----------------------------------
  // Content-defined substring fingerprints (Schleimer et al. 2003):
  // hash every k-char gram, slide a w-hash window, keep each window's
  // MINIMUM. Unlike `dedup_substring`'s fixed-stride sample, winnowing
  // GUARANTEES any shared substring of length ≥ w+k−1 chars produces a
  // shared fingerprint (the window min is position-independent), while
  // still emitting ≤ 1 fingerprint per window — density 2/(w+1) of the
  // gram stream, tunable, corpus-linear.
  //
  // Scale shape: selection is a pure per-row expression pipeline (no
  // shuffle until the fingerprint hash-agg, which carries the SELECTED
  // mins only); the gram hash here is the md5-prefix recipe so the
  // oracle can mirror it char-for-char — a production kernel would swap
  // in a Karp–Rabin rolling hash as a codegen Expression, changing the
  // constant per gram, not the plan.
  private val WinnowK = 16 // gram length (chars)
  private val WinnowW = 8 // window length (hashes)

  /** Selected winnowing fingerprints of a `(doc_id, text)` frame — one
    * `(doc_id, fp)` row per distinct window-min per doc, through the
    * fused [[graft.functions.WinnowFpsExpr]] kernel: rolling k-gram
    * hashes + window minima + distinct in ONE pass over the bytes (the
    * compositional per-gram md5 chain allocated a string per gram —
    * measured 7-10 s at sf0.1 vs sub-second fused). */
  def winnowFingerprints(docs: DataFrame): DataFrame = {
    graft.functions.VectorFunctions.register(docs.sparkSession)
    docs
      .filter(length(col("text")) >= WinnowK + WinnowW - 1)
      .select(col("doc_id"),
        explode_outer(call_function("winnow_fps",
          col("text"), lit(WinnowK), lit(WinnowW))).as("fp"))
      .filter(col("fp").isNotNull) // explode_outer: the pinned re-tokenize lesson
  }

  def dedupWinnow(spark: SparkSession, sfDir: String): DataFrame = {
    val fps = winnowFingerprints(Tables.load(spark, sfDir, "documents"))
    val fpc = fps.groupBy(col("fp")).agg(countDistinct(col("doc_id")).as("nd"))
    fps.join(fpc, Seq("fp"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_fps"),
        sum(when(col("nd") >= 2, 1L).otherwise(0L)).as("dup_fps"))
      .withColumn("dup_ratio",
        round(col("dup_fps").cast("double") / col("n_fps"), 6))
      .orderBy(col("doc_id"))
  }

  /** The d/hashed/fps CTE chain shared by [[dedupWinnowSql]] and
    * [[dedupContainmentSql]] — the DuckDB mirror of
    * `winnowFingerprints` (per-char rolling hashes, per-window minima,
    * distinct per doc). */
  private val winnowFpsCtes: String =
    s"""d AS (
      |  SELECT doc_id, text FROM documents
      |  WHERE len(text) >= ${WinnowK + WinnowW - 1}),
      |hashed AS (
      |  SELECT doc_id,
      |    [list_reduce([CAST(ascii(substr(text, p + j, 1)) AS BIGINT)
      |                  for j in range(0, $WinnowK)],
      |                 (a, c) -> (a * 257 + c) % 2147483647)
      |     for p in range(1, len(text) - ${WinnowK - 1} + 1)] AS hs
      |  FROM d),
      |fps AS (
      |  SELECT doc_id,
      |    unnest(list_distinct(
      |      [list_min(hs[i:i+${WinnowW - 1}])
      |       for i in range(1, len(hs) - ${WinnowW - 1} + 1)])) AS fp
      |  FROM hashed)""".stripMargin

  val dedupWinnowSql: String =
    s"""WITH $winnowFpsCtes,
      |fpc AS (SELECT fp, count(DISTINCT doc_id) AS nd FROM fps GROUP BY fp)
      |SELECT f.doc_id, CAST(count(*) AS BIGINT) AS n_fps,
      |  CAST(sum(CASE WHEN c.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS dup_fps,
      |  round(CAST(sum(CASE WHEN c.nd >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS dup_ratio
      |FROM fps f JOIN fpc c USING (fp)
      |GROUP BY f.doc_id ORDER BY f.doc_id""".stripMargin

  // --- passage-containment detection (winnowing fingerprints) ----------
  // "Document A is substantially CONTAINED in document B" — the
  // asymmetric relation (quotes, excerpts, subset pages) that symmetric
  // Jaccard near-dup misses by construction: a short doc fully quoted
  // inside a long one has low Jaccard but containment ~ 1. MinHash-LSH
  // candidates inherit the Jaccard bias, so candidates here come from
  // the winnowing fingerprints instead: any shared passage >= w+k-1
  // chars guarantees a shared fingerprint (the dedup_winnow coverage
  // property), making recall passage-driven, not ratio-driven.
  //
  // Scale shape: pair generation joins on the fingerprint, restricted
  // to fps shared by 2..cap docs (ubiquitous boilerplate fps are
  // excluded — mass duplication is exact-dedup's job), so candidate
  // volume is Σ nd² over capped fps, never corpus². The fps frame is
  // checkpointed once (the kernel is the expensive part) and every
  // downstream consumer is a hash-agg or keyed join.
  private val ContainT = 0.8

  def dedupContainment(spark: SparkSession, sfDir: String): DataFrame =
    containmentPairs(Tables.load(spark, sfDir, "documents"))

  /** Core of [[dedupContainment]] over any `(doc_id, text)` frame. */
  private[graft] def containmentPairs(docs: DataFrame): DataFrame = {
    val fps = winnowFingerprints(docs)
      .localCheckpoint(true) // read 4x: per-doc counts, fp counts, join sides
    val perDoc = fps.groupBy(col("doc_id")).agg(count(lit(1)).as("nf"))
    val shared = fps.groupBy(col("fp")).agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= 2 && col("nd") <= MinhashBucketCap)
      .select(col("fp"))
    val capped = fps.join(shared, Seq("fp"))
    val l = capped.select(col("fp"), col("doc_id").as("doc_a"))
    val r = capped.select(col("fp"), col("doc_id").as("doc_b"))
    val pairShared = l.join(r, Seq("fp")).filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("shared"))
    pairShared
      .join(perDoc.select(col("doc_id").as("doc_a"), col("nf").as("na")), Seq("doc_a"))
      .join(perDoc.select(col("doc_id").as("doc_b"), col("nf").as("nb")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("shared"), col("na"), col("nb"),
        (col("shared").cast("double") / least(col("na"), col("nb")).cast("double"))
          .as("containment"))
      .filter(col("containment") >= ContainT)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  val dedupContainmentSql: String =
    s"""WITH $winnowFpsCtes,
      |perdoc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nf FROM fps GROUP BY doc_id),
      |shared AS (
      |  SELECT fp FROM (SELECT fp, count(*) AS nd FROM fps GROUP BY fp)
      |  WHERE nd >= 2 AND nd <= $MinhashBucketCap),
      |capped AS (SELECT f.doc_id, f.fp FROM fps f JOIN shared s USING (fp)),
      |pairs AS (
      |  SELECT l.doc_id AS doc_a, r.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS shared
      |  FROM capped l JOIN capped r ON l.fp = r.fp AND l.doc_id < r.doc_id
      |  GROUP BY 1, 2)
      |SELECT doc_a, doc_b, shared, na, nb, containment FROM (
      |  SELECT doc_a, doc_b, shared, a.nf AS na, b.nf AS nb,
      |    CAST(shared AS DOUBLE) / CAST(least(a.nf, b.nf) AS DOUBLE) AS containment
      |  FROM pairs JOIN perdoc a ON pairs.doc_a = a.doc_id
      |             JOIN perdoc b ON pairs.doc_b = b.doc_id)
      |WHERE containment >= $ContainT
      |ORDER BY doc_a, doc_b""".stripMargin

  // --- corpus-wide duplicated-span REMOVAL with reconstruction ---------
  // The C4/RefinedWeb line-dedup shape: any fixed-width span of text that
  // occurs more than once in the WHOLE corpus is kept only at its first
  // occurrence; every document is then rebuilt from its surviving spans.
  // (C4 keys on 3-sentence spans / newline-delimited lines; the fixture
  // corpus is a flat word stream, so spans are consecutive W-word
  // segments — the unit is a constant, the algebra is identical.)
  //
  // Scale shape: one hash-agg per distinct span text elects the winner
  // — min(struct(doc_id, idx)) partial-aggregates map-side, so the
  // exchange carries ~one row per distinct span, and there is NO join
  // back to the exploded spans (the winner row already carries its
  // text). Reconstruction is a second hash-agg keyed by doc_id. No
  // window functions anywhere: the "first occurrence" argmin and the
  // in-order reassembly (sort_array over a per-doc spans list) are both
  // bounded per-key, never a corpus-wide sort.
  private[graft] val SpanW = 5

  private def spanSegArr = expr(
    s"transform(sequence(0, (size(tk) - 1) div $SpanW), " +
      s"i -> concat_ws(' ', slice(tk, i * $SpanW + 1, $SpanW)))")

  /** Tokenized `(doc_id, tk)` frame of non-empty docs. */
  private def spanDocs(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), toks(col("text")).as("tk"))
      .filter(size(col("tk")) > 0)

  /** Exploded spans `(doc_id, idx, seg)` of a tokenized frame.
    * posexplode_outer + notNull: a plain posexplode's inferred
    * non-empty filter re-inlines the token split per span access (the
    * shingleHashes rationale); size(tk) > 0 already guarantees a span. */
  private[graft] def spanSegs(tokenized: DataFrame): DataFrame =
    tokenized
      .select(col("doc_id"), posexplode_outer(spanSegArr))
      .toDF("doc_id", "idx", "seg")
      .filter(col("seg").isNotNull)

  /** Rebuild `(doc_id, n_seg, n_kept, text_kept)` from surviving spans,
    * right-padded so every doc of `tokenized` reports (n_kept = 0 and
    * empty text when nothing survived). */
  private def spanRebuild(tokenized: DataFrame, kept: DataFrame): DataFrame = {
    val rebuilt = kept.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("idx"), col("seg")))),
          x => x.getField("seg")), " ").as("text_kept"))
    tokenized.select(col("doc_id"), size(spanSegArr).cast("long").as("n_seg"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_seg"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("text_kept"), lit("")).as("text_kept"))
      .orderBy(col("doc_id"))
  }

  def dedupSpanStrip(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = spanDocs(Tables.load(spark, sfDir, "documents"))
    val winners = spanSegs(docs).groupBy(col("seg"))
      .agg(min(struct(col("doc_id"), col("idx"))).as("f"))
      .select(col("f.doc_id").as("doc_id"), col("f.idx").as("idx"), col("seg"))
    spanRebuild(docs, winners)
  }

  val dedupSpanStripSql: String =
    s"""WITH d AS (
      |  SELECT doc_id, tk FROM (
      |    SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS tk
      |    FROM documents)
      |  WHERE len(tk) > 0),
      |segs AS (
      |  SELECT doc_id, u.i AS idx,
      |    array_to_string(tk[u.i * $SpanW + 1 : u.i * $SpanW + $SpanW], ' ') AS seg
      |  FROM d, LATERAL (SELECT unnest(range(0, (len(tk) - 1) // $SpanW + 1)) AS i) u),
      |winners AS (
      |  SELECT doc_id, idx, seg FROM (
      |    SELECT *, row_number() OVER (PARTITION BY seg ORDER BY doc_id, idx) AS rn
      |    FROM segs)
      |  WHERE rn = 1),
      |rebuilt AS (
      |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
      |    string_agg(seg, ' ' ORDER BY idx) AS text_kept
      |  FROM winners GROUP BY doc_id),
      |totals AS (SELECT doc_id, CAST((len(tk) - 1) // $SpanW + 1 AS BIGINT) AS n_seg FROM d)
      |SELECT t.doc_id, t.n_seg,
      |  COALESCE(r.n_kept, 0) AS n_kept, COALESCE(r.text_kept, '') AS text_kept
      |FROM totals t LEFT JOIN rebuilt r ON t.doc_id = r.doc_id
      |ORDER BY t.doc_id""".stripMargin

  // --- incremental span strip (new batch vs corpus) --------------------
  // The continuous-ingest face of [[dedupSpanStrip]]: a new batch's
  // spans are stripped against the LANDED corpus's span set plus
  // batch-internal first occurrences, without re-deduping the corpus
  // against itself. Scale shape: the corpus side is one distinct
  // hash-agg (production persists it as a span-hash index, rebuilt only
  // on compaction — the NearDupIndex pattern), the anti-join is
  // hash-keyed by span text, and the batch-internal election is the
  // same min(struct) agg as the batch query. Per-increment cost is
  // O(corpus scan + batch spans), never O(corpus²).
  /** The distinct corpus span set — what production persists as the
    * span index (rebuilt on compaction, the NearDupIndex pattern). */
  def corpusSpanSet(corpus: DataFrame): DataFrame =
    spanSegs(spanDocs(corpus)).select(col("seg")).distinct()

  /** Core of [[dedupSpanIncremental]] over any `(doc_id, text)` batch
    * vs a distinct corpus span frame (`seg`, [[corpusSpanSet]]) — also
    * the per-micro-batch function a stream runs through
    * `graft.streaming.MicroBatch`, so stream ≡ batch by construction. */
  def spanStripAgainst(batch: DataFrame, corpusSegs: DataFrame): DataFrame = {
    val tokenized = spanDocs(batch)
    val fresh = spanSegs(tokenized).join(corpusSegs, Seq("seg"), "left_anti")
    val winners = fresh.groupBy(col("seg"))
      .agg(min(struct(col("doc_id"), col("idx"))).as("f"))
      .select(col("f.doc_id").as("doc_id"), col("f.idx").as("idx"), col("seg"))
    spanRebuild(tokenized, winners)
  }

  def dedupSpanIncremental(spark: SparkSession, sfDir: String): DataFrame = {
    val all = Tables.load(spark, sfDir, "documents")
    spanStripAgainst(
      all.filter(col("source") === IncrementalSource),
      corpusSpanSet(all.filter(col("source") =!= IncrementalSource)))
  }

  val dedupSpanIncrementalSql: String =
    s"""WITH d AS (
      |  SELECT doc_id, source, tk FROM (
      |    SELECT doc_id, source, list_filter(string_split(text, ' '), x -> x != '') AS tk
      |    FROM documents)
      |  WHERE len(tk) > 0),
      |segs AS (
      |  SELECT doc_id, source, u.i AS idx,
      |    array_to_string(tk[u.i * $SpanW + 1 : u.i * $SpanW + $SpanW], ' ') AS seg
      |  FROM d, LATERAL (SELECT unnest(range(0, (len(tk) - 1) // $SpanW + 1)) AS i) u),
      |corpus AS (SELECT DISTINCT seg FROM segs WHERE source != '$IncrementalSource'),
      |fresh AS (
      |  SELECT doc_id, idx, seg FROM segs
      |  WHERE source = '$IncrementalSource'
      |    AND seg NOT IN (SELECT seg FROM corpus)),
      |winners AS (
      |  SELECT doc_id, idx, seg FROM (
      |    SELECT *, row_number() OVER (PARTITION BY seg ORDER BY doc_id, idx) AS rn
      |    FROM fresh)
      |  WHERE rn = 1),
      |rebuilt AS (
      |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
      |    string_agg(seg, ' ' ORDER BY idx) AS text_kept
      |  FROM winners GROUP BY doc_id),
      |totals AS (
      |  SELECT doc_id, CAST((len(tk) - 1) // $SpanW + 1 AS BIGINT) AS n_seg
      |  FROM d WHERE source = '$IncrementalSource')
      |SELECT t.doc_id, t.n_seg,
      |  COALESCE(r.n_kept, 0) AS n_kept, COALESCE(r.text_kept, '') AS text_kept
      |FROM totals t LEFT JOIN rebuilt r ON t.doc_id = r.doc_id
      |ORDER BY t.doc_id""".stripMargin

  // --- blocked fuzzy matching (edit distance) --------------------------
  // Record-linkage-style fuzzy dedup: candidate pairs come from a cheap
  // deterministic BLOCK key (the leading $FuzzyPrefix words — shared by
  // exact copies and by near-copies whose head survived the edit), then
  // only within-block pairs pay the O(len²) Levenshtein DP. The block
  // join is hash-keyed (never cartesian) and skew-capped like the LSH
  // band join, so corpus-wide cost is O(Σ block²·len²) with every block
  // bounded — the classic blocking trade: recall bounded by the block
  // key, cost bounded by the cap.
  private val FuzzyPrefix = 3
  private val FuzzyMaxDist = 120

  def dedupFuzzy(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"), toks(col("text")).as("tk"))
      .filter(size(col("tk")) >= FuzzyPrefix)
      .select(col("doc_id"), col("text"),
        concat_ws(" ", (0 until FuzzyPrefix).map(i => col("tk")(i)): _*).as("bkey"))
      // read 3x (oversized agg + both self-join sides); eager
      // localCheckpoint so the blocks are context-cleaned once
      // unreferenced — repeated Verify/Bench runs must not accumulate
      // storage (the dsirScore precedent)
      .localCheckpoint(true)
    val oversized = docs.groupBy(col("bkey"))
      .agg(count(lit(1)).as("bsz")).filter(col("bsz") > MinhashBucketCap)
      .select(col("bkey"))
    val capped = docs.join(broadcast(oversized), Seq("bkey"), "left_anti")
    val l = capped.select(col("bkey"), col("doc_id").as("doc_a"), col("text").as("ta"))
    val r = capped.select(col("bkey"), col("doc_id").as("doc_b"), col("text").as("tb"))
    l.join(r, Seq("bkey"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        levenshtein(col("ta"), col("tb")).cast("long").as("dist"))
      .filter(col("dist") <= FuzzyMaxDist)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  val dedupFuzzySql: String =
    s"""WITH d AS (
      |  SELECT doc_id, text,
      |    array_to_string(tk[1:$FuzzyPrefix], ' ') AS bkey
      |  FROM (SELECT doc_id, text,
      |          list_filter(string_split(text, ' '), x -> x != '') AS tk
      |        FROM documents)
      |  WHERE len(tk) >= $FuzzyPrefix),
      |capped AS (
      |  SELECT doc_id, text, bkey FROM (
      |    SELECT *, count(*) OVER (PARTITION BY bkey) AS bsz FROM d)
      |  WHERE bsz <= $MinhashBucketCap)
      |SELECT l.doc_id AS doc_a, r.doc_id AS doc_b,
      |  CAST(levenshtein(l.text, r.text) AS BIGINT) AS dist
      |FROM capped l JOIN capped r ON l.bkey = r.bkey AND l.doc_id < r.doc_id
      |WHERE levenshtein(l.text, r.text) <= $FuzzyMaxDist
      |ORDER BY doc_a, doc_b""".stripMargin
}
