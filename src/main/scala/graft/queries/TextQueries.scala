package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import graft.Tables
import graft.functions.PiiRedact

/** Text-analysis operators for the LLM-data-pipeline surface (BASELINE
  * north star): token counting, quality scoring, language ID, document
  * fingerprinting — all per-row expression pipelines (fully codegen'd,
  * shuffle-free except final ordering), so they scale linearly with the
  * corpus and never touch the driver.
  *
  * Cross-engine parity: tokens = split on space with empties filtered
  * (Spark `split` drops trailing empties, DuckDB `string_split` keeps
  * them — filtering makes both identical); ratios are per-row double
  * arithmetic (deterministic); hashes are md5 (identical hex in both).
  */
object TextQueries {

  private[graft] def toks(c: Column): Column = filter(split(c, " "), t => t =!= "")

  private[queries] val stopEn = Seq("the", "a", "of", "and", "to", "in", "is", "on", "for", "with")

  // --- the shared 4-term quality heuristic -----------------------------
  // ONE definition of the corpus-quality formula (stopword presence ×2 +
  // lexical diversity + alphanumeric density − 1), used by every query
  // that gates or reports on quality (`corpus_filter`, `corpus_resample`,
  // `corpus_source_stats`, the curation chain) and mirrored op-for-op by
  // one SQL fragment generator — so a parity fix in one place can never
  // miss a copy. The exact-integer signals are exposed separately
  // because aggregations must sum THOSE (longs, order-independent) and
  // apply the double chain once at the end, never sum computed doubles.

  /** Exact-integer signals `(stop_hits, n_tok, distinct_toks,
    * alnum_chars, n_chars)` behind the quality formula, aliased to those
    * names — safe to `sum` (longs) in any aggregation. */
  private[graft] def qualityCounts(text: Column): Seq[Column] = {
    val t = toks(text)
    val stopArr = array(stopEn.map(lit): _*)
    Seq(
      size(filter(t, x => array_contains(stopArr, x))).cast("long").as("stop_hits"),
      size(t).cast("long").as("n_tok"),
      size(array_distinct(t)).cast("long").as("distinct_toks"),
      length(regexp_replace(text, "[^a-z0-9]", "")).cast("long").as("alnum_chars"),
      length(text).cast("long").as("n_chars"))
  }

  /** The quality double chain over exact-integer operands — per-row or
    * over per-group SUMS of [[qualityCounts]] (the pooled form). Every
    * op is an IEEE divide/multiply/add on integer-valued doubles, so the
    * result is bit-identical cross-engine. */
  private[graft] def qualityFromCounts(stopHits: Column, nTok: Column,
      distinctToks: Column, alnumChars: Column, nChars: Column): Column =
    stopHits.cast("double") / nTok.cast("double") * lit(2.0) +
      distinctToks.cast("double") / nTok.cast("double") +
      alnumChars.cast("double") / nChars.cast("double") - lit(1.0)

  /** Per-row quality score of a text column. */
  private[graft] def qualityExpr(text: Column): Column = {
    val t = toks(text)
    val stopArr = array(stopEn.map(lit): _*)
    qualityFromCounts(
      size(filter(t, x => array_contains(stopArr, x))), size(t),
      size(array_distinct(t)),
      length(regexp_replace(text, "[^a-z0-9]", "")), length(text))
  }

  /** DuckDB mirror of [[qualityExpr]] over a pre-split token-list column
    * `toksCol` and the raw `textCol` — op-for-op the same chain. */
  private[graft] def qualitySqlExpr(toksCol: String, textCol: String): String = {
    val stop = stopEn.map(s => s"'$s'").mkString("[", ", ", "]")
    s"len(list_filter($toksCol, x -> list_contains($stop, x)))::DOUBLE / len($toksCol) * 2.0" +
      s" + len(list_distinct($toksCol))::DOUBLE / len($toksCol)" +
      s" + length(regexp_replace($textCol, '[^a-z0-9]', '', 'g'))::DOUBLE / length($textCol) - 1.0"
  }

  /** DuckDB mirrors of [[qualityCounts]], in the same order/names. */
  private[graft] def qualityCountsSql(toksCol: String, textCol: String): Seq[(String, String)] = {
    val stop = stopEn.map(s => s"'$s'").mkString("[", ", ", "]")
    Seq(
      "stop_hits" -> s"len(list_filter($toksCol, x -> list_contains($stop, x)))",
      "n_tok" -> s"len($toksCol)",
      "distinct_toks" -> s"len(list_distinct($toksCol))",
      "alnum_chars" -> s"length(regexp_replace($textCol, '[^a-z0-9]', '', 'g'))",
      "n_chars" -> s"length($textCol)")
  }

  // --- token counting: whitespace + BPE-ish regex sub-token count ---
  def textTokens(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.load(spark, sfDir, "documents")
    docs.select(
        col("doc_id"),
        size(toks(col("text"))).as("ws_tokens"),
        size(array_distinct(toks(col("text")))).as("distinct_tokens"),
        // BPE-ish: runs of letters, runs of digits, or single other glyphs
        size(expr("regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)")).as("bpe_tokens"),
        length(col("text")).as("n_chars"))
      .orderBy(col("doc_id"))
  }

  val textTokensSql: String =
    """SELECT doc_id,
      |  len(list_filter(string_split(text, ' '), t -> t != '')) AS ws_tokens,
      |  len(list_distinct(list_filter(string_split(text, ' '), t -> t != ''))) AS distinct_tokens,
      |  len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS bpe_tokens,
      |  length(text) AS n_chars
      |FROM documents ORDER BY doc_id""".stripMargin

  // --- tokenizer fertility by language ---------------------------------
  // Fertility — subword tokens emitted per whitespace word — is THE
  // tokenizer-adequacy number per language: a tokenizer trained on
  // English typically fragments other languages into 2-3× the subwords,
  // inflating their effective sequence length and training cost. This
  // reports, per labeled language, the corpus-pooled fertility of the
  // BPE-ish regex tokenizer (`text_tokens`' definition) plus chars per
  // word — one scan, one |languages|-row hash agg, exact-integer
  // outputs (e6 fixed point by pure integer division over long sums).
  def textFertility(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.load(spark, sfDir, "documents")
    docs.select(col("lang"),
        size(toks(col("text"))).cast("long").as("ws"),
        size(expr("regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)"))
          .cast("long").as("bpe"),
        length(col("text")).cast("long").as("nc"))
      .filter(col("ws") > 0)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("ws")).as("ws_tokens"), sum(col("bpe")).as("bpe_tokens"),
        sum(col("nc")).as("n_chars"))
      .select(col("lang"), col("n_docs"), col("ws_tokens"), col("bpe_tokens"),
        expr("bpe_tokens * 1000000L div ws_tokens").as("fertility_e6"),
        expr("n_chars * 1000000L div ws_tokens").as("chars_per_word_e6"))
      .orderBy(col("lang"))
  }

  val textFertilitySql: String =
    """WITH d AS (
      |  SELECT lang,
      |    CAST(len(list_filter(string_split(text, ' '), t -> t != '')) AS BIGINT) AS ws,
      |    CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS bpe,
      |    CAST(length(text) AS BIGINT) AS nc
      |  FROM documents),
      |g AS (
      |  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
      |    CAST(sum(ws) AS BIGINT) AS ws_tokens,
      |    CAST(sum(bpe) AS BIGINT) AS bpe_tokens,
      |    CAST(sum(nc) AS BIGINT) AS n_chars
      |  FROM d WHERE ws > 0 GROUP BY lang)
      |SELECT lang, n_docs, ws_tokens, bpe_tokens,
      |  CAST(bpe_tokens * 1000000 // ws_tokens AS BIGINT) AS fertility_e6,
      |  CAST(n_chars * 1000000 // ws_tokens AS BIGINT) AS chars_per_word_e6
      |FROM g ORDER BY lang""".stripMargin

  // --- quality scoring: length/stopword/punctuation/diversity ratios ---
  def textQuality(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.load(spark, sfDir, "documents")
    val t = toks(col("text"))
    val nTok = size(t).cast("double")
    val stopArr = array(stopEn.map(lit): _*)
    val stopRatio = size(filter(t, x => array_contains(stopArr, x))).cast("double") / nTok
    val distinctRatio = size(array_distinct(t)).cast("double") / nTok
    val alnum = length(regexp_replace(col("text"), "[^a-z0-9]", "")).cast("double")
    val alnumRatio = alnum / length(col("text")).cast("double")
    val avgTokLen = length(regexp_replace(col("text"), " ", "")).cast("double") / nTok
    docs.select(
        col("doc_id"),
        stopRatio.as("stop_ratio"),
        distinctRatio.as("distinct_ratio"),
        alnumRatio.as("alnum_ratio"),
        avgTokLen.as("avg_token_len"),
        // heuristic quality: stopword presence + lexical diversity,
        // penalized for non-alphanumeric noise
        (stopRatio * lit(2.0) + distinctRatio + alnumRatio - lit(1.0)).as("quality"))
      .orderBy(col("doc_id"))
  }

  val textQualitySql: String = {
    val stop = stopEn.map(s => s"'$s'").mkString("[", ", ", "]")
    s"""SELECT doc_id, stop_ratio, distinct_ratio, alnum_ratio, avg_token_len,
      |  stop_ratio * 2.0 + distinct_ratio + alnum_ratio - 1.0 AS quality
      |FROM (
      |  SELECT doc_id,
      |    len(list_filter(toks, x -> list_contains($stop, x)))::DOUBLE / len(toks) AS stop_ratio,
      |    len(list_distinct(toks))::DOUBLE / len(toks) AS distinct_ratio,
      |    length(regexp_replace(text, '[^a-z0-9]', '', 'g'))::DOUBLE / length(text) AS alnum_ratio,
      |    length(replace(text, ' ', ''))::DOUBLE / len(toks) AS avg_token_len
      |  FROM (SELECT doc_id, text, list_filter(string_split(text, ' '), t -> t != '') AS toks
      |        FROM documents))
      |ORDER BY doc_id""".stripMargin
  }

  // --- token-length histogram: power-of-two buckets ---------------------
  // The length distribution every curation run reports (truncation-rate
  // and packing-efficiency telemetry): docs bucketed by floor(log2
  // (tokens)). The bucket is computed EXACTLY as `length(bin(n)) - 1` —
  // binary-string length, no transcendental log2 to disagree across
  // engines — with empty docs in bucket -1. One scan, one |buckets|-row
  // hash agg.
  def textLengthHistogram(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.load(spark, sfDir, "documents")
    val nTok = size(toks(col("text"))).cast("long")
    val bucket = when(nTok === 0L, lit(-1))
      .otherwise(length(bin(nTok)) - 1).cast("int")
    docs.select(bucket.as("bucket"), nTok.as("n_tok"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("total_tokens"),
        min(col("n_tok")).as("min_tokens"), max(col("n_tok")).as("max_tokens"))
      .orderBy(col("bucket"))
  }

  val textLengthHistogramSql: String =
    """WITH d AS (
      |  SELECT CAST(len(list_filter(string_split(text, ' '), t -> t != '')) AS BIGINT) AS n_tok
      |  FROM documents)
      |SELECT CAST(CASE WHEN n_tok = 0 THEN -1 ELSE length(bin(n_tok)) - 1 END AS INT) AS bucket,
      |  CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS total_tokens,
      |  CAST(min(n_tok) AS BIGINT) AS min_tokens, CAST(max(n_tok) AS BIGINT) AS max_tokens
      |FROM d GROUP BY 1 ORDER BY bucket""".stripMargin

  // --- language ID: stopword-list voting (n-gram-free heuristic) ---
  private val langStops: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "es" -> Seq("el", "la", "de", "y", "es"),
    "fr" -> Seq("le", "la", "de", "et", "est"))

  /** Per-language stopword-hit scores over a `text` column. */
  private def langScores: Seq[Column] = langStops.map { case (_, words) =>
    val arr = array(words.map(lit): _*)
    size(filter(toks(col("text")), x => array_contains(arr, x)))
  }

  /** The argmax-with-fixed-tie-order language vote — shared by
    * [[textLangid]] and [[textLangidEval]] so prediction and evaluation
    * can never drift apart. */
  private def langPred(scores: Seq[Column]): Column = {
    val Seq(en, de, es, fr) = scores
    when(en >= de && en >= es && en >= fr, "en")
      .when(de >= es && de >= fr, "de")
      .when(es >= fr, "es")
      .otherwise("fr")
  }

  def textLangid(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.load(spark, sfDir, "documents")
    val scores = langScores
    val Seq(en, de, es, fr) = scores
    docs.select(
        col("doc_id"),
        en.as("s_en"), de.as("s_de"), es.as("s_es"), fr.as("s_fr"),
        langPred(scores).as("pred_lang"))
      .orderBy(col("doc_id"))
  }

  // --- language-ID evaluation: confusion matrix vs the labeled column --
  // The eval face of [[textLangid]]: the fixture's `lang` label is the
  // ground truth, so the heuristic's quality is measurable — the
  // confusion matrix (label × prediction × count) is the standard
  // artifact a pipeline publishes before trusting a language gate.
  // One scan, one hash-agg; the scores are per-row projections, so the
  // matrix costs the same as any per-source count at 100 TB.
  def textLangidEval(spark: SparkSession, sfDir: String): DataFrame =
    Tables.load(spark, sfDir, "documents")
      .select(col("lang"), langPred(langScores).as("pred_lang"))
      .groupBy(col("lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("lang"), col("pred_lang"))

  val textLangidEvalSql: String = {
    def score(words: Seq[String]) = {
      val arr = words.map(w => s"'$w'").mkString("[", ", ", "]")
      s"len(list_filter(list_filter(string_split(text, ' '), t -> t != ''), x -> list_contains($arr, x)))"
    }
    val Seq(en, de, es, fr) = langStops.map(p => score(p._2))
    s"""SELECT lang, pred_lang, CAST(count(*) AS BIGINT) AS n FROM (
      |  SELECT lang,
      |    CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
      |         WHEN s_de >= s_es AND s_de >= s_fr THEN 'de'
      |         WHEN s_es >= s_fr THEN 'es' ELSE 'fr' END AS pred_lang
      |  FROM (SELECT lang, $en AS s_en, $de AS s_de, $es AS s_es, $fr AS s_fr FROM documents))
      |GROUP BY lang, pred_lang ORDER BY lang, pred_lang""".stripMargin
  }

  // --- segment-level language mixing -----------------------------------
  // Code-switching detection: real crawl documents mix languages
  // (quoted passages, boilerplate navigation, bilingual pages), and a
  // doc-level language gate silently mislabels them. Split each doc on
  // sentence boundaries, vote the language PER SEGMENT with the exact
  // shared stopword scorer, and report per doc: segment count, distinct
  // languages, the dominant language ((count desc, lang asc) — a
  // min(struct) over the per-doc language histogram, never a window),
  // and a mixed flag. Plan: one scan → segment explode (rows ∝
  // sentences) → two hash aggs; the per-doc state is bounded by the
  // 4-language vote domain.
  def textLangSegments(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.load(spark, sfDir, "documents")
    val segs = docs
      .select(col("doc_id"),
        explode_outer(filter(split(col("text"), "\\. "), s => trim(s) =!= "")).as("seg"))
      .filter(col("seg").isNotNull)
    val segScores = langStops.map { case (_, words) =>
      val arr = array(words.map(lit): _*)
      size(filter(filter(split(col("seg"), " "), t => t =!= ""),
        x => array_contains(arr, x)))
    }
    segs.select(col("doc_id"), langPred(segScores).as("pred"))
      .groupBy(col("doc_id"), col("pred")).agg(count(lit(1)).as("cnt"))
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_segments"),
        count(lit(1)).as("n_langs"),
        min(struct((-col("cnt")).as("nc"), col("pred").as("p"))).as("top"))
      .select(col("doc_id"), col("n_segments"), col("n_langs"),
        col("top.p").as("dominant_lang"),
        (col("n_langs") > 1).cast("int").as("is_mixed"))
      .orderBy(col("doc_id"))
  }

  val textLangSegmentsSql: String = {
    def score(words: Seq[String]) = {
      val arr = words.map(w => s"'$w'").mkString("[", ", ", "]")
      s"len(list_filter(list_filter(string_split(seg, ' '), t -> t != ''), x -> list_contains($arr, x)))"
    }
    val Seq(en, de, es, fr) = langStops.map(p => score(p._2))
    s"""WITH segs AS (
      |  SELECT doc_id, seg FROM (
      |    SELECT doc_id, unnest(string_split(text, '. ')) AS seg FROM documents)
      |  WHERE trim(seg) != ''),
      |pred AS (
      |  SELECT doc_id,
      |    CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
      |         WHEN s_de >= s_es AND s_de >= s_fr THEN 'de'
      |         WHEN s_es >= s_fr THEN 'es' ELSE 'fr' END AS pred
      |  FROM (SELECT doc_id, $en AS s_en, $de AS s_de, $es AS s_es, $fr AS s_fr
      |        FROM segs)),
      |cnt AS (
      |  SELECT doc_id, pred, CAST(count(*) AS BIGINT) AS cnt
      |  FROM pred GROUP BY 1, 2),
      |ranked AS (
      |  SELECT doc_id, pred, cnt,
      |    row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, pred) AS rn,
      |    CAST(sum(cnt) OVER (PARTITION BY doc_id) AS BIGINT) AS n_segments,
      |    CAST(count(*) OVER (PARTITION BY doc_id) AS BIGINT) AS n_langs
      |  FROM cnt)
      |SELECT doc_id, n_segments, n_langs, pred AS dominant_lang,
      |  CAST(CASE WHEN n_langs > 1 THEN 1 ELSE 0 END AS INT) AS is_mixed
      |FROM ranked WHERE rn = 1 ORDER BY doc_id""".stripMargin
  }

  val textLangidSql: String = {
    def score(words: Seq[String]) = {
      val arr = words.map(w => s"'$w'").mkString("[", ", ", "]")
      s"len(list_filter(list_filter(string_split(text, ' '), t -> t != ''), x -> list_contains($arr, x)))"
    }
    val Seq(en, de, es, fr) = langStops.map(p => score(p._2))
    s"""SELECT doc_id, s_en, s_de, s_es, s_fr,
      |  CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
      |       WHEN s_de >= s_es AND s_de >= s_fr THEN 'de'
      |       WHEN s_es >= s_fr THEN 'es' ELSE 'fr' END AS pred_lang
      |FROM (SELECT doc_id, $en AS s_en, $de AS s_de, $es AS s_es, $fr AS s_fr FROM documents)
      |ORDER BY doc_id""".stripMargin
  }

  // --- the composed corpus filter: dedup ∩ quality ∩ language ----------
  // What a training-data pipeline actually runs nightly: one pass that
  // keeps a document iff it is (a) the canonical copy of its exact-dup
  // class (min doc_id per normalized content hash), (b) above the
  // quality threshold, (c) in the target language. Every stage reuses
  // the per-row expressions above; the only shuffle is the dedup
  // hash-agg + the keep-id join (build side = one row per distinct
  // hash, AQE-broadcast while it fits).
  private[graft] val QualityThreshold = 0.4

  /** The per-row curation projection `(doc_id, text, fp, quality,
    * is_en)` — ONE definition shared by the batch `corpus_filter` and
    * the streaming [[graft.streaming.StreamCurate]], so ingest-time and
    * nightly curation can never score a document differently. */
  private[graft] def scoredDocs(docs: DataFrame, extra: Seq[String] = Nil): DataFrame = {
    val t = toks(col("text"))
    val quality = qualityExpr(col("text"))
    val enArr = array(langStops.toMap.apply("en").map(lit): _*)
    val deArr = array(langStops.toMap.apply("de").map(lit): _*)
    val en = size(filter(t, x => array_contains(enArr, x)))
    val de = size(filter(t, x => array_contains(deArr, x)))
    docs.select(col("doc_id") +: extra.map(col) ++: Seq(col("text"),
      md5(lower(regexp_replace(col("text"), "\\s+", " "))).as("fp"),
      quality.as("quality"), (en >= de).as("is_en")): _*)
  }

  def corpusFilter(spark: SparkSession, sfDir: String): DataFrame = {
    val scored = scoredDocs(Tables.load(spark, sfDir, "documents"))
    val keepers = scored.groupBy(col("fp")).agg(min(col("doc_id")).as("doc_id"))
    scored.join(keepers, Seq("fp", "doc_id"), "left_semi")
      .filter(col("quality") >= QualityThreshold && col("is_en"))
      .select(col("doc_id"), round(col("quality"), 6).as("quality"))
      .orderBy(col("doc_id"))
  }

  /** DuckDB mirror of [[scoredDocs]]' `is_en` vote — shared by
    * `corpus_filter` and the curation funnel. */
  private[graft] def isEnSqlExpr(toksCol: String): String = {
    val enStop = langStops.toMap.apply("en").map(s => s"'$s'").mkString("[", ", ", "]")
    val deStop = langStops.toMap.apply("de").map(s => s"'$s'").mkString("[", ", ", "]")
    s"len(list_filter($toksCol, x -> list_contains($enStop, x)))" +
      s" >= len(list_filter($toksCol, x -> list_contains($deStop, x)))"
  }

  val corpusFilterSql: String = {
    s"""WITH scored AS (
      |  SELECT doc_id,
      |    md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS fp,
      |    ${qualitySqlExpr("toks", "text")} AS quality,
      |    ${isEnSqlExpr("toks")} AS is_en
      |  FROM (SELECT doc_id, text, list_filter(string_split(text, ' '), t -> t != '') AS toks
      |        FROM documents)),
      |keepers AS (SELECT fp, min(doc_id) AS doc_id FROM scored GROUP BY fp)
      |SELECT s.doc_id, round(s.quality, 6) AS quality
      |FROM scored s JOIN keepers k ON s.fp = k.fp AND s.doc_id = k.doc_id
      |WHERE s.quality >= $QualityThreshold AND s.is_en
      |ORDER BY s.doc_id""".stripMargin
  }

  // --- data-mixture sampling: per-source rates, hash-deterministic -----
  // Training mixtures weight sources differently (keep 100% of one
  // corpus, 25% of another). Selection is a pure function of doc_id —
  // `md5(doc_id) mod 100 < rate` — NOT `rand()`: replays, incremental
  // refreshes, and the cross-engine oracle all see the same sample, and
  // the filter is per-row/shuffle-free. The md5-derived bucket is
  // uniform and computable identically in DuckDB.
  // sources are src0..srcN; the mixture weights them 100/75/50/25% by
  // index mod 4 (stand-in for a configured per-corpus rate table)
  def corpusMixture(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.load(spark, sfDir, "documents")
    val bucket = pmod(
      conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10).cast("long"), lit(100))
    val srcIdx = substring(col("source"), 4, 4).cast("int")
    val rate = when(pmod(srcIdx, lit(4)) === 0, 100)
      .when(pmod(srcIdx, lit(4)) === 1, 75)
      .when(pmod(srcIdx, lit(4)) === 2, 50)
      .otherwise(25)
    docs.filter(bucket < rate)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_kept"), min(col("doc_id")).as("first_id"),
        max(col("doc_id")).as("last_id"))
      .orderBy(col("source"))
  }

  val corpusMixtureSql: String =
    """SELECT source, count(*) AS n_kept, min(doc_id) AS first_id, max(doc_id) AS last_id
      |FROM documents
      |WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100
      |      < (CASE CAST(substr(source, 4) AS INT) % 4
      |           WHEN 0 THEN 100 WHEN 1 THEN 75 WHEN 2 THEN 50 ELSE 25 END)
      |GROUP BY source ORDER BY source""".stripMargin

  // --- temperature-smoothed mixture (α = 0.5) --------------------------
  // The XLM-R/mT5 sampling rule p_i ∝ n_i^α: α < 1 upweights small
  // sources so high-resource ones don't drown the mixture. α is pinned
  // to 0.5 because sqrt is the one power the IEEE standard requires
  // EXACTLY rounded — both engines produce the identical double, so the
  // whole chain (integer scale-up → sqrt → floor → integer shares) is
  // hashing-scheme-proof with zero transcendental drift (pow(x, α)
  // carries no such guarantee). All outputs are exact integers per the
  // round-5 parity convention. The per-source aggregate is model-sized
  // (|sources| rows); alloc multiplies through share_e6 to keep every
  // intermediate < 2^63 for any real corpus (direct total×weight
  // overflows first).
  def corpusTemperatureMixture(spark: SparkSession, sfDir: String): DataFrame = {
    val per = Tables.load(spark, sfDir, "documents")
      .groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
      .withColumn("weight",
        floor(sqrt((col("n_docs") * lit(1000000L)).cast("double"))).cast("long"))
      // feeds the grand total AND the share computation — an eager
      // localCheckpoint of the |sources|-row frame keeps the corpus to
      // ONE scan (the budgetRates precedent; blocks context-clean)
      .localCheckpoint(true)
    val tot = per.agg(sum(col("weight")).as("sw"), sum(col("n_docs")).as("total"))
    per.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("weight"),
        expr("weight * 1000000 div sw").as("share_e6"),
        expr("total * (weight * 1000000 div sw) div 1000000").as("alloc_docs"))
      .orderBy(col("source"))
  }

  val corpusTemperatureMixtureSql: String =
    """WITH per AS (
      |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |    CAST(floor(sqrt(CAST(count(*) * 1000000 AS DOUBLE))) AS BIGINT) AS weight
      |  FROM documents GROUP BY source),
      |tot AS (
      |  SELECT CAST(sum(weight) AS BIGINT) AS sw, CAST(sum(n_docs) AS BIGINT) AS total
      |  FROM per)
      |SELECT source, n_docs, weight,
      |  weight * 1000000 // sw AS share_e6,
      |  total * (weight * 1000000 // sw) // 1000000 AS alloc_docs
      |FROM per, tot ORDER BY source""".stripMargin

  // --- repetition filter: duplicate/top 2-gram fractions ---------------
  // The Gopher-style repetition signals: a doc whose most frequent
  // 2-gram dominates, or whose 2-grams are mostly non-unique, is
  // boilerplate/spam. Plan: build 2-grams per row (array expressions,
  // no shuffle), explode, then TWO hash aggs — (doc, gram) counts, then
  // per-doc stats. Both aggs partial-aggregate map-side; shuffle rows =
  // distinct grams per doc, linear in corpus size at 100 TB. The ratios
  // are int/int divides — bit-identical doubles in both engines.
  def textRepetition(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.load(spark, sfDir, "documents")
    val t = toks(col("text"))
    // explode_outer (not explode): the inferred non-empty filter of a
    // plain explode is pushed below the token projection and inlines
    // the split into every element access — see textDecontaminate.
    val grams = docs
      .select(col("doc_id"), t.as("t"))
      .filter(size(col("t")) >= 2)
      .select(col("doc_id"), explode_outer(transform(
        sequence(lit(1), size(col("t")) - 1),
        i => concat_ws(" ", element_at(col("t"), i), element_at(col("t"), i + 1)))).as("gram"))
      .filter(col("gram").isNotNull)
    grams.groupBy(col("doc_id"), col("gram")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(
        sum(col("c")).as("n_2grams"),
        (max(col("c")).cast("double") / sum(col("c"))).as("top2_frac"),
        (sum(when(col("c") > 1, col("c")).otherwise(0L)).cast("double") / sum(col("c")))
          .as("dup2_frac"))
      .orderBy(col("doc_id"))
  }

  val textRepetitionSql: String =
    """SELECT doc_id,
      |  CAST(sum(c) AS BIGINT) AS n_2grams,
      |  CAST(max(c) AS DOUBLE) / CAST(sum(c) AS BIGINT) AS top2_frac,
      |  CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS DOUBLE) / CAST(sum(c) AS BIGINT) AS dup2_frac
      |FROM (
      |  SELECT doc_id, gram, count(*) AS c
      |  FROM (
      |    SELECT doc_id,
      |      unnest(list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i + 1])) AS gram
      |    FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS toks
      |          FROM documents)
      |    WHERE len(toks) >= 2)
      |  GROUP BY doc_id, gram)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // --- PMI collocations: exact-integer association ranking -------------
  // Pointwise mutual information over adjacent token pairs — the
  // collocation table ("new york") every phrase-mining / tokenizer-vocab
  // pass reports. PMI = log p(w1,w2)/(p(w1)p(w2)); log is monotone, so
  // RANKING needs only the ratio c12·N/(c1·c2) — no transcendental. The
  // marginals c1 (w as left element) and c2 (w as right) are row/column
  // sums of the bigram matrix, so the whole query is ONE corpus scan:
  // the bigram count table (vocab²-bounded, corpus-sublinear) is
  // localCheckpoint'ed eagerly and everything downstream — marginals,
  // grand total, the two vocab-keyed joins — reads the materialized
  // frame, never the corpus. Parity: the chain c12·1.0·N/c1/c2·1000 is
  // IEEE-exact ops in one pinned association order, floored to a
  // hashing-proof BIGINT (`pmi_e3`); conversions of counts to double
  // are correctly rounded identically in both engines. Top-20 is a
  // TakeOrdered (orderBy+limit), never a global sort.
  private val PmiMinCount = 5L
  private val PmiTopN = 20

  def textPmi(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.load(spark, sfDir, "documents")
    val t = toks(col("text"))
    val c12 = docs
      .select(t.as("t"))
      .filter(size(col("t")) >= 2)
      .select(explode_outer(transform(
        sequence(lit(1), size(col("t")) - 1),
        i => struct(element_at(col("t"), i).as("w1"),
          element_at(col("t"), i + 1).as("w2")))).as("p"))
      .filter(col("p").isNotNull)
      .groupBy(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .agg(count(lit(1)).as("c12"))
      // feeds marginals + total + the scored join — an eager
      // localCheckpoint keeps the corpus to ONE scan and lets the
      // blocks be context-cleaned when unreferenced (budgetRates
      // precedent; vocab²-bounded, corpus-sublinear)
      .localCheckpoint(true)
    val left = c12.groupBy(col("w1")).agg(sum(col("c12")).as("c1"))
    val right = c12.groupBy(col("w2")).agg(sum(col("c12")).as("c2"))
    val tot = c12.agg(sum(col("c12")).as("n"))
    c12.filter(col("c12") >= PmiMinCount)
      .join(left, "w1").join(right, "w2")
      .crossJoin(broadcast(tot))
      .select(col("w1"), col("w2"), col("c12"), col("c1"), col("c2"),
        floor(col("c12").cast("double") * col("n").cast("double") /
          col("c1").cast("double") / col("c2").cast("double") * lit(1000.0))
          .cast("long").as("pmi_e3"))
      .orderBy(col("pmi_e3").desc, col("w1"), col("w2"))
      .limit(PmiTopN)
  }

  val textPmiSql: String =
    s"""WITH c12 AS (
      |  SELECT p[1] AS w1, p[2] AS w2, CAST(count(*) AS BIGINT) AS c12
      |  FROM (
      |    SELECT unnest(list_transform(range(1, len(toks)),
      |                  i -> [toks[i], toks[i + 1]])) AS p
      |    FROM (SELECT list_filter(string_split(text, ' '), x -> x != '') AS toks
      |          FROM documents)
      |    WHERE len(toks) >= 2)
      |  GROUP BY 1, 2),
      |l AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM c12 GROUP BY w1),
      |r AS (SELECT w2, CAST(sum(c12) AS BIGINT) AS c2 FROM c12 GROUP BY w2),
      |t AS (SELECT CAST(sum(c12) AS BIGINT) AS n FROM c12)
      |SELECT w1, w2, c12, c1, c2,
      |  CAST(floor(CAST(c12 AS DOUBLE) * CAST(n AS DOUBLE)
      |    / CAST(c1 AS DOUBLE) / CAST(c2 AS DOUBLE) * 1000.0) AS BIGINT) AS pmi_e3
      |FROM c12 JOIN l USING (w1) JOIN r USING (w2) CROSS JOIN t
      |WHERE c12 >= $PmiMinCount
      |ORDER BY pmi_e3 DESC, w1, w2 LIMIT $PmiTopN""".stripMargin

  // --- per-doc keyword extraction: integer TF-IDF surrogate ------------
  // The top-3 characteristic terms of every document — the tagging /
  // faceting / dedup-explain signal curation dashboards show next to a
  // doc. Classic tf·idf ranks by tf·log(N/df); log is monotone in N/df,
  // so with tf ties broken by the ratio itself the integer surrogate
  // score = tf·N div df preserves the ranking logic with ZERO
  // transcendentals — every output is a hashing-proof BIGINT.
  // Plan: tf per (doc, term) — the inverted-index input, eagerly
  // checkpointed because df, and the scored join, both read it (at
  // production scale this table is persisted by the index build; the
  // checkpoint is its stand-in) — then a term-keyed join (vocab-sized
  // df side), a broadcast 1-row doc count, and the per-doc top-3 as a
  // bounded sort INSIDE one hash agg (collect_list is capped by the
  // doc's own vocab — the per-doc-bounded-state pattern), never a
  // row_number window re-sorting the corpus.
  private val KeywordsK = 3

  def textKeywords(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.load(spark, sfDir, "documents")
    val tf = docs
      .select(col("doc_id"), explode_outer(toks(col("text"))).as("term"))
      .filter(col("term").isNotNull)
      .filter(!col("term").isin(stopEn: _*))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      .localCheckpoint(true)
    val dfT = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    tf.join(dfT, "term").crossJoin(broadcast(n))
      .select(col("doc_id"), col("term"), expr("tf * n_docs div df").as("score"))
      .groupBy(col("doc_id"))
      .agg(slice(sort_array(collect_list(
        struct((-col("score")).as("ns"), col("term").as("t")))), 1, KeywordsK).as("top"))
      .select(col("doc_id"), posexplode(col("top")).as(Seq("pos", "p")))
      .select(col("doc_id"), (col("pos") + 1).cast("int").as("rank"),
        col("p.t").as("term"), (-col("p.ns")).as("score"))
      .orderBy(col("doc_id"), col("rank"))
  }

  val textKeywordsSql: String = {
    val stops = stopEn.map(s => s"'$s'").mkString(", ")
    s"""WITH tf AS (
      |  SELECT doc_id, tok AS term, CAST(count(*) AS BIGINT) AS tf
      |  FROM (SELECT doc_id,
      |          unnest(list_filter(string_split(text, ' '), x -> x != '')) AS tok
      |        FROM documents)
      |  WHERE tok NOT IN ($stops)
      |  GROUP BY 1, 2),
      |d AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
      |n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
      |ranked AS (
      |  SELECT doc_id, term, tf * n_docs // df AS score,
      |    row_number() OVER (PARTITION BY doc_id
      |                       ORDER BY tf * n_docs // df DESC, term) AS rank
      |  FROM tf JOIN d USING (term) CROSS JOIN n)
      |SELECT doc_id, CAST(rank AS INT) AS rank, term, score
      |FROM ranked WHERE rank <= $KeywordsK
      |ORDER BY doc_id, rank""".stripMargin
  }

  // --- document fingerprinting: normalized-content hash + source stats ---
  def textFingerprint(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.load(spark, sfDir, "documents")
    docs.select(col("doc_id"), col("source"),
        substring(md5(lower(regexp_replace(col("text"), "\\s+", " "))), 1, 16).as("fp"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), countDistinct(col("fp")).as("n_unique_fp"))
      .orderBy(col("source"))
  }

  val textFingerprintSql: String =
    """SELECT source, count(*) AS n_docs, count(DISTINCT fp) AS n_unique_fp
      |FROM (SELECT source, substr(md5(lower(regexp_replace(text, '\s+', ' ', 'g'))), 1, 16) AS fp
      |      FROM documents)
      |GROUP BY source ORDER BY source""".stripMargin

  // --- corpus vocabulary: document frequency + collection frequency ---
  // The global term table every corpus pipeline needs (IDF tables,
  // tokenizer vocab audits, stopword discovery). Plan: per-row
  // tokenize/explode (no shuffle), then ONE hash agg keyed on term with
  // `count` + `count(DISTINCT doc_id)` — Spark plans the distinct as a
  // two-level agg ((term, doc) partial grain first), so the shuffle
  // carries one row per distinct (term, doc) pair, never the raw token
  // stream. At 100 TB this is the canonical linear vocab build; the
  // output is vocabulary-sized (tiny).
  def textVocabDf(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.load(spark, sfDir, "documents")
    docs.select(col("doc_id"),
        explode_outer(filter(split(lower(col("text")), "[^a-z0-9]+"), t => t =!= "")).as("term"))
      .filter(col("term").isNotNull)
      .groupBy(col("term"))
      .agg(countDistinct(col("doc_id")).as("df"), count(lit(1)).as("cf"))
      .orderBy(col("df").desc, col("term"))
  }

  val textVocabDfSql: String =
    """SELECT term, count(DISTINCT doc_id) AS df, CAST(count(*) AS BIGINT) AS cf
      |FROM (
      |  SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
      |                                    t -> t != '')) AS term
      |  FROM documents)
      |GROUP BY term ORDER BY df DESC, term""".stripMargin

  // --- sliding-window document chunking ------------------------------
  // The pre-tokenization step every LLM data pipeline runs before
  // sequence packing: split each document into fixed-width token
  // windows (ChunkW tokens) advancing by ChunkStride, so consecutive
  // chunks overlap by ChunkW-ChunkStride tokens and no window boundary
  // ever splits context cold. A trailing window that is entirely
  // contained in its predecessor (start ≥ n_tok - overlap) is dropped —
  // it would add zero new tokens. Plan: tokenize + `sequence`/`explode`
  // is a pure per-row projection (no shuffle, no driver state; output
  // rows ∝ tokens/stride), then one final presentation sort — linear at
  // 100 TB and embarrassingly parallel, exactly like the reference's
  // per-row transform stage (pkg/tidbsql/batch.go streams rows through
  // stateless transforms).
  private val ChunkW = 64
  private val ChunkStride = 48

  /** The unsorted chunk frame `(doc_id, chunk_idx, chunk_tokens,
    * chunk_text)` — shared by the driver-gated `text_chunk` and the
    * chunk-embedding pooling op ([[VectorQueries.vecChunkPool]]). */
  private[queries] def chunkFrame(docs: DataFrame): DataFrame = {
    val overlap = ChunkW - ChunkStride
    docs.select(col("doc_id"), toks(col("text")).as("tk"))
      .select(col("doc_id"), col("tk"), size(col("tk")).as("n_tok"))
      .select(col("doc_id"), col("tk"), col("n_tok"),
        explode(sequence(lit(0), greatest(col("n_tok") - 1, lit(0)),
          lit(ChunkStride))).as("st"))
      .filter(col("st") === 0 || col("st") < col("n_tok") - lit(overlap))
      .select(col("doc_id"),
        (col("st") / lit(ChunkStride)).cast("int").as("chunk_idx"),
        least(col("n_tok") - col("st"), lit(ChunkW)).as("chunk_tokens"),
        array_join(slice(col("tk"), col("st") + 1, lit(ChunkW)), " ").as("chunk_text"))
  }

  def textChunk(spark: SparkSession, sfDir: String): DataFrame =
    chunkFrame(Tables.load(spark, sfDir, "documents"))
      .orderBy(col("doc_id"), col("chunk_idx"))

  /** The unordered chunk SELECT — the SQL twin of [[chunkFrame]], shared
    * as a CTE body by the `text_chunk` oracle and
    * [[VectorQueries.vecChunkPoolSql]]. */
  val textChunkBodySql: String =
    s"""WITH d AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t != '') AS tk
      |  FROM documents),
      |s AS (
      |  SELECT doc_id, tk, len(tk) AS n_tok,
      |         unnest(range(0, greatest(len(tk), 1), $ChunkStride)) AS st
      |  FROM d)
      |SELECT doc_id, (st // $ChunkStride)::INT AS chunk_idx,
      |  least(n_tok - st, $ChunkW) AS chunk_tokens,
      |  array_to_string(list_slice(tk, st + 1, st + $ChunkW), ' ') AS chunk_text
      |FROM s
      |WHERE st = 0 OR st < n_tok - ${ChunkW - ChunkStride}""".stripMargin

  val textChunkSql: String =
    s"""$textChunkBodySql
      |ORDER BY doc_id, chunk_idx""".stripMargin

  // --- PII redaction over the corpus (graft.functions.PiiRedact) -------
  // The fixture corpus is deliberately clean, so the gate SYNTHESIZES
  // deterministic PII onto every 7th document (an email from `source`,
  // an SSN/IPv4/phone derived from `doc_id`) with the identical string
  // construction on the DuckDB side; the remaining rows exercise the
  // pass-through path. Redaction itself is per-row regexp_replace /
  // regexp_count — codegen'd, shuffle-free, linear at 100 TB. The
  // patterns are the common Java-regex/RE2 subset, so the oracle runs
  // them verbatim.
  def textPiiRedact(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.load(spark, sfDir, "documents")
    val id = col("doc_id")
    def grp(m: Int, w: Int): Column = lpad((id % m).cast("string"), w, "0")
    val withPii = docs.select(id,
      when(id % 7 === 0,
        concat(col("text"),
          lit(" contact "), col("source"), lit("@example.com ssn "),
          grp(1000, 3), lit("-"), grp(100, 2), lit("-"), grp(10000, 4),
          lit(" ip 10.0."), (id % 256).cast("string"),
          lit(".7 call +1 (415) 555-"), grp(10000, 4)))
        .otherwise(col("text")).as("text"))
    PiiRedact(withPii, "text").orderBy(id)
  }

  val textPiiRedactSql: String = {
    val counts = PiiRedact.countSqls("text")
      .map { case (name, e) => s"$e AS $name" }.mkString(",\n  ")
    s"""WITH synth AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 7 = 0 THEN
      |      text || ' contact ' || source || '@example.com ssn ' ||
      |      lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-' ||
      |      lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') || '-' ||
      |      lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
      |      ' ip 10.0.' || CAST(doc_id % 256 AS VARCHAR) ||
      |      '.7 call +1 (415) 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
      |    ELSE text END AS text
      |  FROM documents)
      |SELECT doc_id,
      |  $counts,
      |  ${PiiRedact.redactSql("text")} AS text
      |FROM synth ORDER BY doc_id""".stripMargin
  }

  // --- bigram-LM cross-entropy: the "perplexity filter" ---------------
  // The classic corpus-quality signal (CCNet/Gopher style): train an
  // add-α-smoothed bigram language model on the corpus itself, then
  // score each document by its mean bits-per-bigram under that model —
  // boilerplate and gibberish score low/high respectively vs fluent
  // text. Spark-first shape: one Generate (token pairs), then hash
  // aggs; the LM is the `(w1, w2) → count` table — corpus-SUBLINEAR
  // (bounded by observed-bigram vocabulary), so at 100 TB it is the
  // artifact a production pipeline trains once and reuses, while the
  // scoring pass is per-doc counts many-to-one-joined to it (AQE handles
  // stopword-bigram skew; no windows, no driver state). The per-doc
  // bigram frame is persisted so the train and score branches share one
  // explode — at scale, production would instead read the persisted LM.
  //
  // Oracle parity: counts are exact longs, but log2 is TRANSCENDENTAL —
  // JVM `StrictMath.log` vs libm `log2` differ in ulps, so the per-term
  // doubles are not bit-identical cross-engine and no decimal rounding
  // can repair them after the fact. Each term therefore goes through
  // 2^20 fixed point — `floor(bits * 2^20)` as a LONG — which absorbs
  // the ulp noise (quantization step 2^-20 ≫ one ulp) and sums exactly
  // and order-independently in both engines (the `text_bm25` pattern).
  // The GATED outputs are integer-only (`bits_fp`, and `bpb_e6` =
  // micro-bits-per-bigram by pure integer division) so no hashing
  // scheme — dtype-sensitive or not — can read equal values as red;
  // the double faces stay on [[lmScore]]/[[scoreAgainst]] for internal
  // consumers (specs, the streaming scorer, the tercile buckets).
  private val LmAlpha = 0.5
  private val LmFpScale = 1048576.0 // 2^20
  // `bits_fp * 1e6` fits a long while sum-of-bits < 2^43 ≈ 8.8e12 —
  // i.e. any single document below ~4e11 bigrams, far past real docs.
  private val BpbE6 = "bits_fp * 1000000L div (1048576L * n_bigrams)"

  def textLmScore(spark: SparkSession, sfDir: String): DataFrame =
    lmScore(Tables.load(spark, sfDir, "documents"))
      .select("doc_id", "n_bigrams", "bits_fp", "bpb_e6")

  /** Adjacent token pairs of a `(doc_id, text)` frame — one Generate. */
  private def lmPairs(docs: DataFrame): DataFrame = docs
    .select(col("doc_id"), toks(col("text")).as("toks"))
    .filter(size(col("toks")) >= 2)
    .select(col("doc_id"),
      explode(zip_with(
        slice(col("toks"), lit(1), size(col("toks")) - 1),
        slice(col("toks"), lit(2), size(col("toks")) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
    .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))

  /** Trained bigram-LM artifact: `lm` = `(w1, w2, cb)` observed-bigram
    * counts, `ctx` = `(w1, cu)` context totals, `vocab` = |distinct w2|.
    * The frames are corpus-sublinear (bounded by bigram vocabulary) —
    * this is what a production pipeline persists and reuses; `vocab` is
    * the one driver-held scalar (model metadata, size-independent). */
  final case class LmModel(lm: DataFrame, ctx: DataFrame, vocab: Long)

  /** Train the add-α bigram LM on a `(doc_id, text)` corpus. */
  def trainLm(docs: DataFrame): LmModel = {
    val lm = lmPairs(docs).groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("cb")).persist()
    val ctx = lm.groupBy(col("w1")).agg(sum(col("cb")).as("cu"))
    val v = lm.agg(countDistinct(col("w2"))).head.getLong(0)
    LmModel(lm, ctx, v)
  }

  /** Score a `(doc_id, text)` frame against a PRETRAINED model — the
    * train/apply split production runs (train nightly on the corpus,
    * score new arrivals). Unseen bigrams/contexts take the smoothed
    * floor (`cb = 0` / `cu = 0`) via left joins, so out-of-corpus text
    * is scored, not dropped; `oov_bigrams` counts them per doc. */
  def scoreAgainst(docs: DataFrame, m: LmModel): DataFrame = {
    val perDoc = lmPairs(docs).groupBy(col("doc_id"), col("w1"), col("w2"))
      .agg(count(lit(1)).as("c"))
    val cb = coalesce(col("cb"), lit(0L))
    val cu = coalesce(col("cu"), lit(0L))
    val bits = -col("c") *
      log2((cb + lit(LmAlpha)) / (cu + lit(LmAlpha) * lit(m.vocab.toDouble)))
    perDoc
      .join(m.lm, Seq("w1", "w2"), "left")
      .join(m.ctx, Seq("w1"), "left")
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_bigrams"),
        sum(when(col("cb").isNull, col("c")).otherwise(lit(0L))).as("oov_bigrams"),
        sum(floor(bits * lit(LmFpScale))).as("bits_fp"))
      .select(col("doc_id"), col("n_bigrams"), col("oov_bigrams"), col("bits_fp"),
        expr(BpbE6).as("bpb_e6"),
        (col("bits_fp").cast("double") / lit(LmFpScale) /
          col("n_bigrams").cast("double")).as("bits_per_bigram"))
  }

  /** Core of [[textLmScore]] over any `(doc_id, text)` frame: trains on
    * the frame itself and scores it in ONE lazy plan (no driver action —
    * the oracle-gate shape; the vocab scalar stays a broadcast frame). */
  def lmScore(docs: DataFrame): DataFrame = {
    val pairs = lmPairs(docs)
    val perDoc = pairs.groupBy(col("doc_id"), col("w1"), col("w2"))
      .agg(count(lit(1)).as("c")).persist()
    // the LM table is corpus-sublinear and feeds THREE consumers (ctx,
    // vocab, the scoring join) — persist it so each reads the small
    // cached frame instead of re-aggregating the per-doc stream
    val lm = perDoc.groupBy(col("w1"), col("w2")).agg(sum(col("c")).as("cb"))
      .persist()
    val ctx = lm.groupBy(col("w1")).agg(sum(col("cb")).as("cu"))
    val vocab = lm.agg(countDistinct(col("w2")).as("v"))
    val bits = -col("c") *
      log2((col("cb") + lit(LmAlpha)) / (col("cu") + lit(LmAlpha) * col("v")))
    // attach ctx to the (sublinear) LM table FIRST, then join the
    // per-doc stream once on (w1, w2) — the previous two-step join
    // shuffled the per-doc stream twice, once per key (guide §2.4);
    // every lm row has a ctx row by construction, so the inner joins
    // produce identical rows in either order
    perDoc
      .join(lm.join(ctx, Seq("w1")), Seq("w1", "w2"))
      .crossJoin(broadcast(vocab))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_bigrams"),
        sum(floor(bits * lit(LmFpScale))).as("bits_fp"))
      .select(col("doc_id"), col("n_bigrams"), col("bits_fp"),
        expr(BpbE6).as("bpb_e6"),
        (col("bits_fp").cast("double") / lit(LmFpScale)).as("sum_bits"),
        (col("bits_fp").cast("double") / lit(LmFpScale) /
          col("n_bigrams").cast("double")).as("bits_per_bigram"))
      .orderBy(col("doc_id"))
  }

  /** The self-trained LM per-doc scoring CTE chain (`t, bg, db, lm, ctx,
    * v, scored`) — the SQL twin of [[lmScore]], shared by the
    * `text_lm_score` oracle and the LM/quality calibration report. */
  private[graft] val lmScoredCte: String =
    s"""t AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS toks
      |  FROM documents),
      |bg AS (
      |  SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
      |  FROM t, unnest(range(1, len(toks))) AS u(i)
      |  WHERE len(toks) >= 2),
      |db AS (SELECT doc_id, w1, w2, count(*) AS c FROM bg GROUP BY doc_id, w1, w2),
      |lm AS (SELECT w1, w2, sum(c) AS cb FROM db GROUP BY w1, w2),
      |ctx AS (SELECT w1, sum(cb) AS cu FROM lm GROUP BY w1),
      |v AS (SELECT count(DISTINCT w2) AS v FROM lm),
      |scored AS (
      |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
      |    CAST(sum(CAST(floor(-c * log2((cb + $LmAlpha) / (cu + $LmAlpha * v)) * $LmFpScale) AS BIGINT)) AS BIGINT) AS bits_fp
      |  FROM db JOIN lm USING (w1, w2) JOIN ctx USING (w1) CROSS JOIN v
      |  GROUP BY doc_id)""".stripMargin

  val textLmScoreSql: String =
    s"""WITH $lmScoredCte
      |SELECT doc_id, n_bigrams, bits_fp,
      |  CAST(bits_fp * 1000000 // (1048576 * n_bigrams) AS BIGINT) AS bpb_e6
      |FROM scored ORDER BY doc_id""".stripMargin

  // --- LM ↔ heuristic-quality calibration ------------------------------
  // Does the cheap rule-based quality score track the LM? Every pipeline
  // that gates on BOTH signals (rules first, perplexity second — the
  // CCNet/Gopher composition) should know where they disagree: a bin
  // where high heuristic quality meets high bits-per-bigram is exactly
  // the slice worth manual review. One row per 0.1-wide quality bin with
  // the bpb distribution inside it. Scale: the two per-doc frames are
  // each one corpus scan (the LM table is corpus-sublinear), the join is
  // keyed on doc_id, and the output agg is |bins|-sized — no windows, no
  // driver state. Outputs are exact integers end-to-end (the bin is
  // floor() of the bit-identical quality double; bpb_e6 is already a
  // fixed-point long), so the row hash cannot read equal values as red.
  def textLmQualityCalibration(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.load(spark, sfDir, "documents")
    val lm = lmScore(docs).select(col("doc_id"), col("bpb_e6"))
    val q = docs
      .filter(size(toks(col("text"))) > 0 && length(col("text")) > 0)
      .select(col("doc_id"),
        floor(qualityExpr(col("text")) * lit(10.0)).cast("int").as("quality_bin"))
    q.join(lm, Seq("doc_id"))
      .groupBy(col("quality_bin"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("bpb_e6")).as("sum_bpb"),
        min(col("bpb_e6")).as("min_bpb_e6"),
        max(col("bpb_e6")).as("max_bpb_e6"))
      .select(col("quality_bin"), col("n_docs"),
        expr("sum_bpb div n_docs").as("avg_bpb_e6"),
        col("min_bpb_e6"), col("max_bpb_e6"))
      .orderBy(col("quality_bin"))
  }

  val textLmQualityCalibrationSql: String =
    s"""WITH $lmScoredCte,
      |q AS (
      |  SELECT doc_id, CAST(floor((${qualitySqlExpr("toks", "text")}) * 10.0) AS INT) AS quality_bin
      |  FROM (SELECT doc_id, text, list_filter(string_split(text, ' '), t -> t != '') AS toks
      |        FROM documents)
      |  WHERE len(toks) > 0 AND length(text) > 0),
      |j AS (
      |  SELECT quality_bin, bits_fp * 1000000 // (1048576 * n_bigrams) AS bpb_e6
      |  FROM scored JOIN q USING (doc_id))
      |SELECT quality_bin, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(bpb_e6) // count(*) AS BIGINT) AS avg_bpb_e6,
      |  CAST(min(bpb_e6) AS BIGINT) AS min_bpb_e6,
      |  CAST(max(bpb_e6) AS BIGINT) AS max_bpb_e6
      |FROM j GROUP BY 1 ORDER BY quality_bin""".stripMargin

  // --- LM train/apply split: score held-out docs against the model -----
  // The true production shape (train nightly on the landed corpus, score
  // new arrivals): a disjoint doc_id slice is held out and scored via
  // [[trainLm]] + [[scoreAgainst]] — the exact functions the streaming
  // face runs — so the oracle gate exercises the LEFT-JOIN OOV branch
  // the self-trained `text_lm_score` never hits (every test bigram or
  // context absent from the train side takes the smoothed floor and is
  // counted in `oov_bigrams`). Same 2^20 fixed-point parity chain.
  private val LmSplitMod = 3

  def textLmScoreSplit(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.load(spark, sfDir, "documents")
    val m = trainLm(docs.filter(col("doc_id") % LmSplitMod =!= 0))
    scoreAgainst(docs.filter(col("doc_id") % LmSplitMod === 0), m)
      .select("doc_id", "n_bigrams", "oov_bigrams", "bits_fp", "bpb_e6")
      .orderBy(col("doc_id"))
  }

  val textLmScoreSplitSql: String =
    s"""WITH t AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS toks
      |  FROM documents),
      |bg AS (
      |  SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
      |  FROM t, unnest(range(1, len(toks))) AS u(i)
      |  WHERE len(toks) >= 2),
      |lm AS (SELECT w1, w2, count(*) AS cb FROM bg
      |       WHERE doc_id % $LmSplitMod != 0 GROUP BY w1, w2),
      |ctx AS (SELECT w1, sum(cb) AS cu FROM lm GROUP BY w1),
      |v AS (SELECT count(DISTINCT w2) AS v FROM lm),
      |db AS (SELECT doc_id, w1, w2, count(*) AS c FROM bg
      |       WHERE doc_id % $LmSplitMod = 0 GROUP BY doc_id, w1, w2),
      |scored AS (
      |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
      |    CAST(sum(CASE WHEN cb IS NULL THEN c ELSE 0 END) AS BIGINT) AS oov_bigrams,
      |    CAST(sum(CAST(floor(-c * log2((coalesce(cb, 0) + $LmAlpha) /
      |      (coalesce(cu, 0) + $LmAlpha * v)) * $LmFpScale) AS BIGINT)) AS BIGINT) AS bits_fp
      |  FROM db LEFT JOIN lm USING (w1, w2) LEFT JOIN ctx USING (w1) CROSS JOIN v
      |  GROUP BY doc_id)
      |SELECT doc_id, n_bigrams, oov_bigrams, bits_fp,
      |  CAST(bits_fp * 1000000 // (1048576 * n_bigrams) AS BIGINT) AS bpb_e6
      |FROM scored ORDER BY doc_id""".stripMargin

  // --- inverted index build (impact-ordered, bounded postings) ---------
  // The retrieval-side index the BM25/fusion queries presume: one row
  // per term with document frequency, collection frequency, and the
  // top-[[PostK]] postings by term frequency — the impact-ordered index
  // prefix WAND-style engines score first. The posting list is built by
  // the bounded partial-merge [[graft.functions.TopKAgg]], so per-term
  // state through the exchange is ≤ k entries no matter how many
  // documents contain the term (a collect_list + sort would ship every
  // posting of every term through one partition — the classic skew
  // killer: think of the term "the" at 100 TB).
  private val PostK = 16
  def textInvertedIndex(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.{ScoredId, TopKAgg}
    val docs = Tables.load(spark, sfDir, "documents")
    val topk = udaf(new TopKAgg(PostK))
    val tf = docs
      .select(col("doc_id"), explode_outer(toks(col("text"))).as("term"))
      .filter(col("term").isNotNull) // vs explode: avoids the inferred-filter double tokenize
      .groupBy(col("term"), col("doc_id"))
      .agg(count(lit(1)).as("tf"))
    tf.groupBy(col("term"))
      .agg(count(lit(1)).as("df"), sum(col("tf")).as("cf"),
        topk(col("tf").cast("double"), col("doc_id")).as("pk"))
      .select(col("term"), col("df"), col("cf"),
        posexplode(col("pk")).as(Seq("pos", "p")))
      .select(col("term"), col("df"), col("cf"),
        (col("pos") + 1).cast("int").as("rank"),
        col("p.id").as("doc_id"), col("p.sim").cast("long").as("tf"))
      .orderBy(col("term"), col("rank"))
  }

  val textInvertedIndexSql: String =
    s"""WITH tf AS (
      |  SELECT tok AS term, doc_id, count(*) AS tf
      |  FROM (SELECT doc_id,
      |          unnest(list_filter(string_split(text, ' '), x -> x != '')) AS tok
      |        FROM documents)
      |  GROUP BY 1, 2),
      |stats AS (SELECT term, count(*) AS df, CAST(sum(tf) AS BIGINT) AS cf
      |          FROM tf GROUP BY 1),
      |r AS (
      |  SELECT term, doc_id, tf,
      |    row_number() OVER (PARTITION BY term ORDER BY tf DESC, doc_id) AS rn
      |  FROM tf)
      |SELECT r.term, df, cf, CAST(rn AS INT) AS rank, doc_id, tf
      |FROM r JOIN stats USING (term) WHERE rn <= $PostK
      |ORDER BY r.term, rank""".stripMargin

  // --- trained linear quality classifier (weak supervision) ------------
  // The fastText-filter shape (CCNet / RefinedWeb quality gating): a
  // LINEAR model over feature-hashed bag-of-words scores every document
  // and a threshold keeps or drops it. Bootstrapped exactly the way
  // production quality classifiers are — from a WEAK-SUPERVISION rule
  // (there: "looks like Wikipedia"; here: stopword ratio ≥ 8 %) — and
  // genuinely TRAINED on the corpus: per-dim weights are the class
  // mean-difference w_d = pos_d·neg_tot − neg_d·pos_tot, the raw score
  // is the all-integer Σ cnt_d·w_d (DECIMAL(38,0) — exact at any
  // corpus size), and the intercept is the midpoint of the two class
  // mean scores. The model then generalizes BEYOND the rule's features:
  // at sf0.01 it reaches 83 % agreement with the rule vs a 74 %
  // majority baseline. Cross-engine float parity: the only non-integer
  // steps are the final length/total normalization (identical divide
  // chain both sides) and the class means, whose sums go through
  // DECIMAL(28,14) so partial-agg merge order cannot perturb them.
  //
  // Scale shape: training is one (dim)-keyed hash-agg over the tf table
  // → exactly ClsDims weight rows, broadcast; the intercept is one
  // 1-row agg over the scored docs; scoring is one (doc,dim)-keyed
  // hash-agg then one doc-keyed hash-agg; no window, no driver-held
  // state, and the model is O(dims) rows at any corpus size. Production
  // swaps real fastText-exported weights in as the same broadcast frame.
  private val ClsDims = 64
  private val ClsStopPct = 8
  def textClassifierScore(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.load(spark, sfDir, "documents")
    val stopArr = array(stopEn.map(lit): _*)
    val t = toks(col("text"))
    val lab = docs.select(col("doc_id"),
      (size(filter(t, x => array_contains(stopArr, x))) * 100
        >= size(t) * ClsStopPct).as("pos"),
      col("text"))
    val tf = lab
      .select(col("doc_id"), col("pos"), explode_outer(toks(col("text"))).as("tok"))
      .filter(col("tok").isNotNull) // vs explode: avoids the inferred-filter double tokenize
      .select(col("doc_id"), col("pos"),
        pmod(conv(substring(md5(col("tok")), 1, 8), 16, 10).cast("long"), lit(ClsDims)).as("dim"))
      .groupBy(col("doc_id"), col("pos"), col("dim"))
      .agg(count(lit(1)).as("cnt"))
      .cache() // feeds weights, totals, AND scoring — uncached, the
               // tokenize+hash tree evaluates three times
    val w = tf.groupBy(col("dim")).agg(
      sum(when(col("pos"), col("cnt")).otherwise(0L)).as("pos_d"),
      sum(when(!col("pos"), col("cnt")).otherwise(0L)).as("neg_d"))
    val tot = w.agg(sum(col("pos_d")).as("pos_tot"), sum(col("neg_d")).as("neg_tot"))
    val dec = DecimalType(38, 0)
    val scored = tf.join(broadcast(w), Seq("dim"))
      .crossJoin(broadcast(tot))
      .groupBy(col("doc_id"), col("pos"))
      .agg(sum(col("cnt")).as("n"),
        sum(col("cnt").cast(dec) * (col("pos_d").cast(dec) * col("neg_tot").cast(dec)
          - col("neg_d").cast(dec) * col("pos_tot").cast(dec))).as("s"),
        first(col("pos_tot")).as("pos_tot"), first(col("neg_tot")).as("neg_tot"))
      .select(col("doc_id"), col("pos"),
        (col("s").cast(DoubleType) / col("n").cast(DoubleType)
          / col("pos_tot").cast(DoubleType) / col("neg_tot").cast(DoubleType)).as("score"))
    // trained intercept: midpoint of the class mean scores (decimal-sum
    // so the mean is independent of partial-agg merge order)
    val mu = scored.agg(
      (sum(when(col("pos"), col("score")).cast(DecimalType(28, 14))).cast(DoubleType)
        / sum(when(col("pos"), 1L)).cast(DoubleType)).as("mu_pos"),
      (sum(when(!col("pos"), col("score")).cast(DecimalType(28, 14))).cast(DoubleType)
        / sum(when(!col("pos"), 1L)).cast(DoubleType)).as("mu_neg"))
    scored.crossJoin(broadcast(mu))
      .select(col("doc_id"), col("pos").as("rule_pos"),
        round(col("score"), 9).as("score"),
        (col("score") > (col("mu_pos") + col("mu_neg")) / lit(2.0d)).as("predict_pos"))
      .orderBy(col("doc_id"))
  }

  /** The trained quality-gate model as deployable state: the ClsDims-row
    * weight frame plus three scalars — what a nightly training job
    * persists and the streaming scorer broadcasts
    * ([[scoreWithClassifier]] per micro-batch through
    * [[graft.streaming.MicroBatch]]). */
  case class ClsModel(weights: DataFrame, posTot: Long, negTot: Long,
      threshold: Double)

  /** (doc_id [, pos], dim, cnt) hashed term frequencies — the feature
    * extraction both training and scoring share. */
  private def clsTf(docs: DataFrame, withRule: Boolean): DataFrame = {
    val stopArr = array(stopEn.map(lit): _*)
    val t = toks(col("text"))
    val base =
      if (withRule)
        docs.select(col("doc_id"),
          (size(filter(t, x => array_contains(stopArr, x))) * 100
            >= size(t) * ClsStopPct).as("pos"), col("text"))
      else docs.select(col("doc_id"), col("text"))
    val keys = if (withRule) Seq(col("doc_id"), col("pos")) else Seq(col("doc_id"))
    base
      .select(keys :+ explode_outer(toks(col("text"))).as("tok"): _*)
      .filter(col("tok").isNotNull)
      .select(keys :+
        pmod(conv(substring(md5(col("tok")), 1, 8), 16, 10).cast("long"), lit(ClsDims)).as("dim"): _*)
      .groupBy(keys :+ col("dim"): _*)
      .agg(count(lit(1)).as("cnt"))
  }

  /** Per-doc linear score against a weight frame — same arithmetic as
    * the oracle query (integer dot in DECIMAL(38,0), one divide chain). */
  private def clsScore(tf: DataFrame, weights: DataFrame, posTot: Long,
      negTot: Long, keep: Seq[String]): DataFrame = {
    val dec = DecimalType(38, 0)
    tf.join(broadcast(weights), Seq("dim"))
      .groupBy((Seq("doc_id") ++ keep).map(col): _*)
      .agg(sum(col("cnt")).as("n"),
        sum(col("cnt").cast(dec) * (col("pos_d").cast(dec) * lit(negTot).cast(dec)
          - col("neg_d").cast(dec) * lit(posTot).cast(dec))).as("s"))
      .select((Seq("doc_id") ++ keep).map(col) :+
        (col("s").cast(DoubleType) / col("n").cast(DoubleType)
          / lit(posTot.toDouble) / lit(negTot.toDouble)).as("score"): _*)
  }

  /** Train the weak-supervision quality model on a landed corpus — the
    * nightly batch side of the train/apply split. One (dim)-keyed
    * hash-agg for weights, one doc-keyed scoring pass for the
    * intercept; driver state is ClsDims rows + 3 scalars. */
  def trainClassifier(docs: DataFrame): ClsModel = {
    val tf = clsTf(docs, withRule = true).localCheckpoint()
    val w = tf.groupBy(col("dim")).agg(
      sum(when(col("pos"), col("cnt")).otherwise(0L)).as("pos_d"),
      sum(when(!col("pos"), col("cnt")).otherwise(0L)).as("neg_d"))
      .localCheckpoint()
    val tot = w.agg(sum(col("pos_d")), sum(col("neg_d"))).head()
    val (pt, nt) = (tot.getLong(0), tot.getLong(1))
    val mu = clsScore(tf, w, pt, nt, keep = Seq("pos")).agg(
      (sum(when(col("pos"), col("score")).cast(DecimalType(28, 14))).cast(DoubleType)
        / sum(when(col("pos"), 1L)).cast(DoubleType)).as("mu_pos"),
      (sum(when(!col("pos"), col("score")).cast(DecimalType(28, 14))).cast(DoubleType)
        / sum(when(!col("pos"), 1L)).cast(DoubleType)).as("mu_neg")).head()
    ClsModel(w, pt, nt, (mu.getDouble(0) + mu.getDouble(1)) / 2.0d)
  }

  /** Score any `(doc_id, text)` frame — batch backfill or a micro-batch
    * inside the stream — against a trained model. */
  def scoreWithClassifier(docs: DataFrame, m: ClsModel): DataFrame =
    clsScore(clsTf(docs, withRule = false), m.weights, m.posTot, m.negTot, Nil)
      .select(col("doc_id"), round(col("score"), 9).as("score"),
        (col("score") > m.threshold).as("predict_pos"))

  /** Classifier evaluation summary — the confusion table + derived
    * rates a gate owner reads before trusting keep/drop decisions (the
    * retrieval_eval of the classifier family). One hash agg over the
    * scored frame: four conditional counters, then three exact-integer-
    * derived ratios. Cross-engine parity: counts are integers; each
    * rate is one divide, rounded like every ratio query. */
  def textClassifierEval(spark: SparkSession, sfDir: String): DataFrame = {
    val scored = textClassifierScore(spark, sfDir)
    scored.agg(
        sum(when(col("rule_pos") && col("predict_pos"), 1L).otherwise(0L)).as("tp"),
        sum(when(!col("rule_pos") && col("predict_pos"), 1L).otherwise(0L)).as("fp"),
        sum(when(col("rule_pos") && !col("predict_pos"), 1L).otherwise(0L)).as("fn"),
        sum(when(!col("rule_pos") && !col("predict_pos"), 1L).otherwise(0L)).as("tn"))
      .select(col("tp"), col("fp"), col("fn"), col("tn"),
        round((col("tp") + col("tn")).cast(DoubleType)
          / (col("tp") + col("fp") + col("fn") + col("tn")).cast(DoubleType), 6).as("accuracy"),
        round(col("tp").cast(DoubleType)
          / (col("tp") + col("fp")).cast(DoubleType), 6).as("precision"),
        round(col("tp").cast(DoubleType)
          / (col("tp") + col("fn")).cast(DoubleType), 6).as("recall"))
  }

  lazy val textClassifierEvalSql: String =
    s"""WITH sc_eval AS (${textClassifierScoreSql.replace("ORDER BY doc_id", "")}),
      |cm AS (
      |  SELECT
      |    sum(CASE WHEN rule_pos AND predict_pos THEN 1 ELSE 0 END) AS tp,
      |    sum(CASE WHEN NOT rule_pos AND predict_pos THEN 1 ELSE 0 END) AS fp,
      |    sum(CASE WHEN rule_pos AND NOT predict_pos THEN 1 ELSE 0 END) AS fn,
      |    sum(CASE WHEN NOT rule_pos AND NOT predict_pos THEN 1 ELSE 0 END) AS tn
      |  FROM sc_eval)
      |SELECT CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
      |  CAST(fn AS BIGINT) AS fn, CAST(tn AS BIGINT) AS tn,
      |  round(CAST(tp + tn AS DOUBLE) / CAST(tp + fp + fn + tn AS DOUBLE), 6) AS accuracy,
      |  round(CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE), 6) AS precision,
      |  round(CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE), 6) AS recall
      |FROM cm""".stripMargin

  // --- threshold sweep: the gate's precision/recall curve ---------------
  // One number (textClassifierEval's accuracy at the trained midpoint)
  // never answers the gate owner's real question — "how much recall do
  // I give up to reach precision X?" — so production calibrates the
  // threshold on a sweep. Grid = 7 evenly spaced cuts between the
  // observed score extremes (data-derived, so the query is
  // scale-relative and the oracle can mirror the same chain); the sweep
  // is ONE pass: scored frame × broadcast 7-row grid → one hash agg of
  // conditional counters per cut. Counts are exact longs; each rate is
  // one divide.
  private val PrGridCuts = 7

  def textClassifierPr(spark: SparkSession, sfDir: String): DataFrame = {
    val scored = textClassifierScore(spark, sfDir)
      .select(col("doc_id"), col("rule_pos"), col("score"))
      .cache() // feeds the extremes AND the sweep — one scoring pass
    val ext = scored.agg(min(col("score")).as("smin"), max(col("score")).as("smax"))
    val grid = ext
      .select(explode(sequence(lit(1), lit(PrGridCuts))).as("k"), col("smin"), col("smax"))
      .select(col("k"),
        (col("smin") + col("k").cast(DoubleType) * (col("smax") - col("smin"))
          / lit((PrGridCuts + 1).toDouble)).as("thr"))
    scored.crossJoin(broadcast(grid))
      .groupBy(col("k"), col("thr"))
      .agg(
        sum(when(col("rule_pos") && col("score") > col("thr"), 1L).otherwise(0L)).as("tp"),
        sum(when(!col("rule_pos") && col("score") > col("thr"), 1L).otherwise(0L)).as("fp"),
        sum(when(col("rule_pos") && col("score") <= col("thr"), 1L).otherwise(0L)).as("fn"),
        sum(when(!col("rule_pos") && col("score") <= col("thr"), 1L).otherwise(0L)).as("tn"))
      .select(col("k"), round(col("thr"), 9).as("thr"),
        col("tp"), col("fp"), col("fn"), col("tn"),
        round(col("tp").cast(DoubleType)
          / (col("tp") + col("fp")).cast(DoubleType), 6).as("precision"),
        round(col("tp").cast(DoubleType)
          / (col("tp") + col("fn")).cast(DoubleType), 6).as("recall"))
      .orderBy(col("k"))
  }

  lazy val textClassifierPrSql: String =
    s"""WITH sc_pr AS (${textClassifierScoreSql.replace("ORDER BY doc_id", "")}),
      |ext AS (SELECT min(score) AS smin, max(score) AS smax FROM sc_pr),
      |grid AS (
      |  SELECT k, smin + CAST(k AS DOUBLE) * (smax - smin) / ${(PrGridCuts + 1).toDouble} AS thr
      |  FROM ext, unnest(range(1, ${PrGridCuts + 1})) AS u(k)),
      |cm AS (
      |  SELECT k, thr,
      |    sum(CASE WHEN rule_pos AND score > thr THEN 1 ELSE 0 END) AS tp,
      |    sum(CASE WHEN NOT rule_pos AND score > thr THEN 1 ELSE 0 END) AS fp,
      |    sum(CASE WHEN rule_pos AND score <= thr THEN 1 ELSE 0 END) AS fn,
      |    sum(CASE WHEN NOT rule_pos AND score <= thr THEN 1 ELSE 0 END) AS tn
      |  FROM sc_pr CROSS JOIN grid GROUP BY k, thr)
      |SELECT CAST(k AS BIGINT) AS k, round(thr, 9) AS thr,
      |  CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
      |  CAST(fn AS BIGINT) AS fn, CAST(tn AS BIGINT) AS tn,
      |  round(CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE), 6) AS precision,
      |  round(CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE), 6) AS recall
      |FROM cm ORDER BY k""".stripMargin

  val textClassifierScoreSql: String = {
    val stopList = stopEn.map(s => s"'$s'").mkString(", ")
    s"""WITH t AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS toks
      |  FROM documents),
      |lab AS (
      |  SELECT doc_id,
      |    len(list_filter(toks, x -> x IN ($stopList))) * 100
      |      >= len(toks) * $ClsStopPct AS pos,
      |    toks
      |  FROM t),
      |tf AS (
      |  SELECT doc_id, pos,
      |    CAST(('0x'||substr(md5(tok),1,8)) AS BIGINT) % $ClsDims AS dim,
      |    count(*) AS cnt
      |  FROM (SELECT doc_id, pos, unnest(toks) AS tok FROM lab)
      |  GROUP BY 1, 2, 3),
      |w AS (
      |  SELECT dim,
      |    sum(CASE WHEN pos THEN cnt ELSE 0 END) AS pos_d,
      |    sum(CASE WHEN NOT pos THEN cnt ELSE 0 END) AS neg_d
      |  FROM tf GROUP BY 1),
      |tot AS (SELECT sum(pos_d) AS pos_tot, sum(neg_d) AS neg_tot FROM w),
      |scored AS (
      |  SELECT doc_id, pos,
      |    CAST(sum(CAST(cnt AS HUGEINT) * (pos_d * neg_tot - neg_d * pos_tot)) AS DOUBLE)
      |      / CAST(sum(cnt) AS DOUBLE)
      |      / CAST(any_value(pos_tot) AS DOUBLE) / CAST(any_value(neg_tot) AS DOUBLE) AS score
      |  FROM tf JOIN w USING (dim) CROSS JOIN tot GROUP BY 1, 2),
      |mu AS (
      |  SELECT
      |    CAST(sum(CASE WHEN pos THEN CAST(score AS DECIMAL(28,14)) END) AS DOUBLE)
      |      / CAST(sum(CASE WHEN pos THEN 1 END) AS DOUBLE) AS mu_pos,
      |    CAST(sum(CASE WHEN NOT pos THEN CAST(score AS DECIMAL(28,14)) END) AS DOUBLE)
      |      / CAST(sum(CASE WHEN NOT pos THEN 1 END) AS DOUBLE) AS mu_neg
      |  FROM scored)
      |SELECT doc_id, pos AS rule_pos, round(score, 9) AS score,
      |  score > (mu_pos + mu_neg) / 2.0 AS predict_pos
      |FROM scored CROSS JOIN mu ORDER BY doc_id""".stripMargin
  }

  // --- CCNet perplexity bucketing --------------------------------------
  // CCNet (Wenzek et al. 2020) splits each language's corpus into
  // head/middle/tail by perplexity under a LM trained on a FIXED
  // REFERENCE corpus (Wikipedia in the paper) — NOT on the corpus being
  // bucketed, so the model stays bounded while the corpus grows. Here
  // the reference is a deterministic hash-mod slice of the documents
  // (the `ccref:` salt), the PER-LANGUAGE add-α bigram LM + tercile
  // cuts are trained on that slice alone ([[trainCcnet]]), and the FULL
  // corpus is scored against the pretrained model ([[bucketAgainst]] —
  // unseen bigrams take the smoothed OOV floor via left joins). The
  // cut table is langs×2 rows broadcast to the assignment join, and
  // nothing sorts or windows the corpus. At 100 TB both moduli would
  // derive from a cheap count so the reference pool is ABSOLUTE-size
  // (the PQ-pool pattern); they are fixed constants here so the DuckDB
  // oracle can mirror the filters statically.
  private val CcnetSampleMod = 2L
  private val CcnetTrainMod = 4L

  /** The bounded reference slice the CCNet LM trains on — deterministic
    * doc_id-hash membership, mirrored verbatim by the oracle. */
  private[graft] def ccnetRef(docs: DataFrame): DataFrame =
    docs.filter(pmod(
      conv(substring(md5(concat(lit("ccref:"), col("doc_id").cast("string"))), 1, 8), 16, 10)
        .cast("long"),
      lit(CcnetTrainMod)) === 0)

  def textCcnetBucket(spark: SparkSession, sfDir: String): DataFrame =
    ccnetBucket(Tables.load(spark, sfDir, "documents"))

  /** Core of [[textCcnetBucket]] over any `(doc_id, lang, text)` frame. */
  /** Adjacent-pair stream of a `(doc_id, lang, text)` frame, keyed by
    * language — shared by the self-contained query and the train/apply
    * split. */
  private def ccnetPairs(docs: DataFrame): DataFrame = docs
    .select(col("doc_id"), col("lang"), toks(col("text")).as("toks"))
    .filter(size(col("toks")) >= 2)
    .select(col("doc_id"), col("lang"),
      explode(zip_with(
        slice(col("toks"), lit(1), size(col("toks")) - 1),
        slice(col("toks"), lit(2), size(col("toks")) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
    .select(col("doc_id"), col("lang"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))

  /** Trained CCNet artifact: per-language bigram LM (`lm`, `ctx`,
    * `vocab` — corpus-sublinear frames) plus the per-language tercile
    * cut table (`cuts`, langs×2 rows) — what a production pipeline
    * persists nightly and applies to every arriving snapshot shard. */
  final case class CcnetModel(lm: DataFrame, ctx: DataFrame,
      vocab: DataFrame, cuts: DataFrame)

  /** Train the per-language LM and tercile cuts on a corpus. */
  def trainCcnet(docs: DataFrame): CcnetModel = {
    val perDoc = ccnetPairs(docs)
      .groupBy(col("doc_id"), col("lang"), col("w1"), col("w2"))
      .agg(count(lit(1)).as("c")).persist()
    val lm = perDoc.groupBy(col("lang"), col("w1"), col("w2"))
      .agg(sum(col("c")).as("cb")).persist()
    val ctx = lm.groupBy(col("lang"), col("w1")).agg(sum(col("cb")).as("cu"))
    val vocab = lm.groupBy(col("lang")).agg(countDistinct(col("w2")).as("v"))
    val bits = -col("c") *
      log2((col("cb") + lit(LmAlpha)) / (col("cu") + lit(LmAlpha) * col("v")))
    val scored = perDoc
      .join(lm, Seq("lang", "w1", "w2"))
      .join(ctx, Seq("lang", "w1"))
      .join(broadcast(vocab), Seq("lang"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(sum(col("c")).as("n_bigrams"),
        sum(floor(bits * lit(LmFpScale))).as("bits_fp"))
      .select(col("doc_id"), col("lang"),
        floor(col("bits_fp").cast("double") / col("n_bigrams").cast("double"))
          .cast("long").as("bpb_fp"))
    val cuts = scored
      .filter(pmod(
        conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10).cast("long"),
        lit(CcnetSampleMod)) === 0)
      .groupBy(col("lang"))
      .agg(
        round(expr("percentile(bpb_fp, 0.3333333333333333)"), 6).as("c33"),
        round(expr("percentile(bpb_fp, 0.6666666666666666)"), 6).as("c67"))
    CcnetModel(lm, ctx, vocab, cuts)
  }

  /** Bucket a `(doc_id, lang, text)` frame against a PRETRAINED model —
    * the apply half a stream runs per micro-batch through
    * [[graft.streaming.MicroBatch]]. Unseen bigrams/contexts take the smoothed floor via
    * left joins (the `scoreAgainst` shape); a language with no trained
    * vocab scores against `v = 1`, and a language with no cut row
    * buckets `head` — new text is classified, never dropped. */
  def bucketAgainst(batch: DataFrame, m: CcnetModel): DataFrame = {
    val perDoc = ccnetPairs(batch)
      .groupBy(col("doc_id"), col("lang"), col("w1"), col("w2"))
      .agg(count(lit(1)).as("c"))
    val cb = coalesce(col("cb"), lit(0L))
    val cu = coalesce(col("cu"), lit(0L))
    val v = coalesce(col("v"), lit(1L))
    val bits = -col("c") *
      log2((cb + lit(LmAlpha)) / (cu + lit(LmAlpha) * v))
    perDoc
      .join(m.lm, Seq("lang", "w1", "w2"), "left")
      .join(m.ctx, Seq("lang", "w1"), "left")
      .join(broadcast(m.vocab), Seq("lang"), "left")
      .groupBy(col("doc_id"), col("lang"))
      .agg(sum(col("c")).as("n_bigrams"),
        sum(floor(bits * lit(LmFpScale))).as("bits_fp"))
      .select(col("doc_id"), col("lang"), col("n_bigrams"),
        floor(col("bits_fp").cast("double") / col("n_bigrams").cast("double"))
          .cast("long").as("bpb_fp"))
      .join(broadcast(m.cuts), Seq("lang"), "left")
      .select(col("doc_id"), col("lang"), col("n_bigrams"), col("bpb_fp"),
        when(col("c33").isNull, lit("head"))
          .when(col("bpb_fp").cast("double") <= col("c33"), lit("head"))
          .when(col("bpb_fp").cast("double") <= col("c67"), lit("middle"))
          .otherwise(lit("tail")).as("bucket"))
  }

  def ccnetBucket(docs: DataFrame): DataFrame =
    // train on the bounded reference slice, score the WHOLE corpus
    // against the pretrained model — the published CCNet shape, and
    // exactly what the continuous face replays per micro-batch
    bucketAgainst(docs, trainCcnet(ccnetRef(docs)))
      .orderBy(col("doc_id"))

  val textCcnetBucketSql: String =
    s"""WITH pairs AS (
      |  SELECT doc_id, lang, w1, t[i + 1] AS w2 FROM (
      |    SELECT doc_id, lang, t, i, t[i] AS w1 FROM (
      |      SELECT doc_id, lang, t, unnest(range(1, len(t))) AS i
      |      FROM (SELECT doc_id, lang,
      |              list_filter(string_split(text, ' '), x -> x != '') AS t
      |            FROM documents)
      |      WHERE len(t) >= 2))),
      |per_doc AS (
      |  SELECT doc_id, lang, w1, w2, count(*) AS c
      |  FROM pairs GROUP BY doc_id, lang, w1, w2),
      |ref AS (
      |  SELECT * FROM per_doc
      |  WHERE CAST(('0x'||substr(md5('ccref:'||CAST(doc_id AS VARCHAR)),1,8)) AS BIGINT)
      |    % $CcnetTrainMod = 0),
      |lm AS (
      |  SELECT lang, w1, w2, CAST(sum(c) AS BIGINT) AS cb FROM ref GROUP BY lang, w1, w2),
      |ctx AS (SELECT lang, w1, CAST(sum(cb) AS BIGINT) AS cu FROM lm GROUP BY lang, w1),
      |vocab AS (SELECT lang, count(DISTINCT w2) AS v FROM lm GROUP BY lang),
      |ref_scored AS (
      |  SELECT doc_id, lang,
      |    CAST(floor(CAST(sum(CAST(floor(-c * log2((cb + $LmAlpha) / (cu + $LmAlpha * v))
      |        * $LmFpScale) AS BIGINT)) AS DOUBLE)
      |      / CAST(sum(c) AS DOUBLE)) AS BIGINT) AS bpb_fp
      |  FROM ref JOIN lm USING (lang, w1, w2) JOIN ctx USING (lang, w1)
      |    JOIN vocab USING (lang)
      |  GROUP BY doc_id, lang),
      |cuts AS (
      |  SELECT lang,
      |    round(quantile_cont(bpb_fp, 0.3333333333333333), 6) AS c33,
      |    round(quantile_cont(bpb_fp, 0.6666666666666666), 6) AS c67
      |  FROM ref_scored
      |  WHERE CAST(('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,8)) AS BIGINT)
      |    % $CcnetSampleMod = 0
      |  GROUP BY lang),
      |scored AS (
      |  SELECT doc_id, lang,
      |    CAST(sum(c) AS BIGINT) AS n_bigrams,
      |    CAST(floor(CAST(sum(CAST(floor(-c * log2((coalesce(cb, 0) + $LmAlpha)
      |        / (coalesce(cu, 0) + $LmAlpha * coalesce(v, 1)))
      |        * $LmFpScale) AS BIGINT)) AS DOUBLE)
      |      / CAST(sum(c) AS DOUBLE)) AS BIGINT) AS bpb_fp
      |  FROM per_doc LEFT JOIN lm USING (lang, w1, w2) LEFT JOIN ctx USING (lang, w1)
      |    LEFT JOIN vocab USING (lang)
      |  GROUP BY doc_id, lang)
      |SELECT doc_id, lang, n_bigrams, bpb_fp,
      |  CASE WHEN c33 IS NULL THEN 'head'
      |       WHEN CAST(bpb_fp AS DOUBLE) <= c33 THEN 'head'
      |       WHEN CAST(bpb_fp AS DOUBLE) <= c67 THEN 'middle'
      |       ELSE 'tail' END AS bucket
      |FROM scored LEFT JOIN cuts USING (lang)
      |ORDER BY doc_id""".stripMargin

  // --- Gopher/MassiveText document-level quality rules -----------------
  // The published MassiveText filter set (Rae et al. 2021, table A1)
  // restated over this corpus: word-count bounds, mean-word-length
  // bounds, symbol-to-word ratio, alphabetic-word fraction, and
  // required-stopword presence. Every rule is an EXACT-INTEGER
  // comparison (ratio thresholds are cross-multiplied), so the flags are
  // bit-identical cross-engine by construction; the only double in the
  // output is `mean_word_len`, one divide over two exact longs. A single
  // shuffle-free projection + final order — linear at any corpus size.
  // Required-stopword lexicon: the paper's 8-word list (the, be, to, of,
  // and, that, have, with) degenerates on this synthetic vocabulary —
  // only "the" occurs, so EVERY document would fail `stop_present >= 2`.
  // The rule keeps the paper's semantics (≥2 distinct required
  // stopwords) over the repo's one canonical stopword lexicon instead.
  private[queries] val gopherStops = stopEn
  private val GopherMinWords = 50L
  private val GopherMaxWords = 100000L

  /** Exact-integer Gopher signals `(n_words, sum_word_len, alpha_words,
    * stop_present, n_sym)` of a text column, aliased to those names —
    * ONE definition shared by [[gopherRules]] and the curation funnel,
    * mirrored by [[gopherSignalsSql]]. */
  private[graft] def gopherSignals(text: Column): Seq[Column] = {
    val t = toks(text)
    val stopArr = array(gopherStops.map(lit): _*)
    Seq(
      size(t).cast("long").as("n_words"),
      aggregate(t, lit(0L), (acc, x) => acc + length(x)).as("sum_word_len"),
      size(filter(t, x => x.rlike("[a-z]"))).cast("long").as("alpha_words"),
      size(filter(stopArr, s => array_contains(t, s))).cast("long").as("stop_present"),
      (length(text) - length(regexp_replace(text, "[^a-z0-9 ]", "")))
        .cast("long").as("n_sym"))
  }

  /** The full-ruleset pass predicate over the five signal columns —
    * every comparison exact-integer (thresholds cross-multiplied). */
  private[graft] def gopherPassFromSignals(nWords: Column, sumWordLen: Column,
      alphaWords: Column, stopPresent: Column, nSym: Column): Column =
    nWords >= GopherMinWords && nWords <= GopherMaxWords &&
      sumWordLen >= nWords * 3L && sumWordLen <= nWords * 10L &&
      nSym * 10L < nWords &&
      alphaWords * 10L >= nWords * 8L &&
      stopPresent >= 2L

  /** The full-ruleset pass as one predicate over a text column —
    * [[gopherSignals]] fed straight into [[gopherPassFromSignals]],
    * for callers gating a stream or a filter chain. */
  private[graft] def gopherPassExpr(text: Column): Column = {
    val Seq(nw, swl, aw, sp, ns) = gopherSignals(text)
    gopherPassFromSignals(nw, swl, aw, sp, ns)
  }

  /** DuckDB mirrors of [[gopherSignals]], in the same order/names. */
  private[graft] def gopherSignalsSql(toksCol: String, textCol: String): Seq[(String, String)] = {
    val stop = gopherStops.map(s => s"'$s'").mkString("[", ", ", "]")
    Seq(
      "n_words" -> s"CAST(len($toksCol) AS BIGINT)",
      "sum_word_len" -> s"CAST(list_sum(list_transform($toksCol, x -> length(x))) AS BIGINT)",
      "alpha_words" -> s"CAST(len(list_filter($toksCol, x -> regexp_matches(x, '[a-z]'))) AS BIGINT)",
      "stop_present" -> s"CAST(len(list_filter($stop, s -> list_contains($toksCol, s))) AS BIGINT)",
      "n_sym" -> s"CAST(length($textCol) - length(regexp_replace($textCol, '[^a-z0-9 ]', '', 'g')) AS BIGINT)")
  }

  /** DuckDB mirror of [[gopherPassFromSignals]] over the signal names. */
  private[graft] val gopherPassSql: String =
    s"""(n_words >= $GopherMinWords AND n_words <= $GopherMaxWords
      |    AND sum_word_len >= n_words * 3 AND sum_word_len <= n_words * 10
      |    AND n_sym * 10 < n_words
      |    AND alpha_words * 10 >= n_words * 8
      |    AND stop_present >= 2)""".stripMargin

  def textGopherRules(spark: SparkSession, sfDir: String): DataFrame =
    gopherRules(Tables.load(spark, sfDir, "documents"))

  /** Core of [[textGopherRules]] over any `(doc_id, lang, text)` frame. */
  def gopherRules(docs: DataFrame): DataFrame = {
    docs
      .select(Seq(col("doc_id"), col("lang")) ++ gopherSignals(col("text")): _*)
      .select(
        col("doc_id"), col("lang"), col("n_words"),
        (col("sum_word_len").cast("double") / col("n_words").cast("double"))
          .as("mean_word_len"),
        col("alpha_words"), col("stop_present"), col("n_sym"),
        (col("n_words") >= GopherMinWords && col("n_words") <= GopherMaxWords).as("r_word_count"),
        // 3 <= mean <= 10  ⇔  3·n <= sum && sum <= 10·n (exact longs)
        (col("sum_word_len") >= col("n_words") * 3L &&
          col("sum_word_len") <= col("n_words") * 10L).as("r_mean_len"),
        // symbol-to-word ratio < 0.1  ⇔  10·n_sym < n_words
        (col("n_sym") * 10L < col("n_words")).as("r_symbol"),
        // >= 80 % of words contain an alphabetic char  ⇔  10·alpha >= 8·n
        (col("alpha_words") * 10L >= col("n_words") * 8L).as("r_alpha"),
        (col("stop_present") >= 2L).as("r_stop"))
      .withColumn("pass",
        col("r_word_count") && col("r_mean_len") && col("r_symbol") &&
          col("r_alpha") && col("r_stop"))
      .orderBy(col("doc_id"))
  }

  val textGopherRulesSql: String = {
    val signals = gopherSignalsSql("t", "text")
      .map { case (n, e) => s"$e AS $n" }.mkString(",\n      |    ")
    s"""SELECT doc_id, lang, n_words,
      |  CAST(sum_word_len AS DOUBLE) / CAST(n_words AS DOUBLE) AS mean_word_len,
      |  alpha_words, stop_present, n_sym,
      |  n_words >= $GopherMinWords AND n_words <= $GopherMaxWords AS r_word_count,
      |  sum_word_len >= n_words * 3 AND sum_word_len <= n_words * 10 AS r_mean_len,
      |  n_sym * 10 < n_words AS r_symbol,
      |  alpha_words * 10 >= n_words * 8 AS r_alpha,
      |  stop_present >= 2 AS r_stop,
      |  $gopherPassSql AS pass
      |FROM (
      |  SELECT doc_id, lang,
      |    $signals
      |  FROM (SELECT doc_id, lang, text,
      |          list_filter(string_split(text, ' '), x -> x != '') AS t
      |        FROM documents))
      |ORDER BY doc_id""".stripMargin
  }
}
