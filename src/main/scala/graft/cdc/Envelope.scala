package graft.cdc

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.types.{TableCol, TidbTypeMapper}

/** The TiCDC "csv" protocol change-event envelope (SURVEY §1.1(4)).
  *
  * A change row is `flag,table,schema,commit_ts` followed by the full row
  * image; the four metadata columns take the names the reference uses when
  * it materializes them as a staging table
  * (`pkg/utils/incr_table.go:5-31` GenIncrementTableColumns), and
  * positionally they are $1..$4 with data starting at $5
  * (`pkg/snowsql/sql.go:117-124`).
  */
object Envelope {
  val FlagCol = "tidb2dw_flag"
  val TableCol_ = "tidb2dw_tablename"
  val SchemaCol = "tidb2dw_schemaname"
  val CommitTsCol = "tidb2dw_commit_ts"

  val Insert = "I"
  val Update = "U"
  val Delete = "D"

  /** CSV read options matching the reference's loaders: no header, `,`/`"`
    * separator/quote, backslash escape, NULL = `\N`
    * (`pkg/snowsql/sql.go:23,55`, `pkg/dumpling/dump.go:33-37`). */
  val csvOptions: Map[String, String] = Map(
    "header" -> "false",
    "sep" -> ",",
    "quote" -> "\"",
    "escape" -> "\\",
    "nullValue" -> "\\N",
    "mode" -> "PERMISSIVE")

  /** Read-time envelope schema: everything as string (CSV-faithful), cast
    * applied per-column afterwards — the Databricks connector's
    * cast-and-rename projection (P2, `pkg/databrickssql/sql.go:184-195`). */
  def rawSchemaFor(nDataCols: Int): StructType = StructType(
    (0 until 4 + nDataCols).map(i => StructField(s"_c$i", StringType, nullable = true)))

  /** Parse raw CSV lines (from a `text`-format stream) into the
    * positional `_c{i}` envelope at exactly `nDataCols` data width.
    *
    * Reading the stream as lines and parsing per micro-batch is what
    * makes the envelope width DYNAMIC: a `csv`-source stream bakes the
    * column count into the query at start, so an ADD COLUMN arriving
    * while the query runs would reference `_c{N}` columns the source
    * doesn't carry and kill the query; here each table version parses
    * with its own width inside `foreachBatch`.
    *
    * Quoted fields containing a NEWLINE cannot arrive intact through a
    * line source — the pipeline detects such files via
    * [[quoteUnbalanced]] and routes them to [[parseFiles]] instead of
    * this path. If a split half still reaches here, FAILFAST (or the
    * envelope guard on a null-padded half) fails the batch loudly;
    * PERMISSIVE would silently merge garbage rows into the target. */
  def parseLines(lines: DataFrame, nDataCols: Int): DataFrame =
    envelopeGuard(lines
      .select(from_csv(col("value"), rawSchemaFor(nDataCols),
        csvOptions + ("mode" -> "FAILFAST")).as("_r"))
      .select(col("_r.*")))

  /** FAILFAST only catches structurally malformed records; a HALF-row
    * (e.g. the tail of a quoted newline split by the line source)
    * parses as a short row null-padded to width. Any row whose
    * envelope is invalid — flag not I/U/D or commit-ts missing — is
    * corruption, and raise_error fails the batch loudly instead of
    * letting the garbage half merge. Expressed as a filter so the
    * optimizer cannot prune the check away. */
  private def envelopeGuard(parsed: DataFrame): DataFrame = {
    val valid = col("_c0").isin(Insert, Update, Delete) && col("_c3").isNotNull
    parsed.filter(when(valid, lit(true)).otherwise(raise_error(concat(
      lit("malformed CDC line (envelope invalid): flag="), coalesce(col("_c0"), lit("null")),
      lit(" commit_ts="), coalesce(col("_c3"), lit("null"))))))
  }

  /** Column carrying the quarantine verdict on the permissive path:
    * null = clean, else the reason label. */
  val ReasonCol = "_quarantine_reason"
  private val CorruptCol = "_corrupt_record"

  val ReasonStructural = "structural"
  val ReasonBadFlag = "bad_flag"
  val ReasonBadCommitTs = "bad_commit_ts"

  /** The PERMISSIVE twin of [[parseLines]] — the quarantine lane. Every
    * line parses to the positional `_c{i}` shape plus [[ReasonCol]]:
    * null for clean rows, else which invariant the line broke
    * ([[ReasonStructural]] for rows the CSV parser itself rejected,
    * [[ReasonBadFlag]] / [[ReasonBadCommitTs]] for rows whose envelope
    * is invalid — the same conditions the FAILFAST path's guard raises
    * on). Callers split on the reason: clean rows continue to
    * [[project]], dirty rows land in the quarantine table with their
    * raw line — the trigger COMPLETES instead of dying on one corrupt
    * file (the dead-letter lane every production CDC pipeline needs).
    *
    * Non-`value` columns on `lines` (e.g. the source path) pass
    * through untouched. Pure per-row projection — one parse, no
    * shuffle, same cost shape as the FAILFAST path. */
  def parseLinesSplit(lines: DataFrame, nDataCols: Int): DataFrame = {
    val schema = rawSchemaFor(nDataCols).add(StructField(CorruptCol, StringType, nullable = true))
    val passthrough = lines.columns.filter(_ != "value").map(col).toSeq
    classify(lines
      .withColumn("_r", from_csv(col("value"), schema,
        csvOptions + ("columnNameOfCorruptRecord" -> CorruptCol)))
      .select(passthrough ++ Seq(col("value"), col("_r.*")): _*))
  }

  /** The permissive twin of [[parseFiles]] (the quoted-newline repair
    * read), same output shape as [[parseLinesSplit]]: `_src_path`,
    * `value`, `_c{i}`, [[ReasonCol]]. MultiLine reads have no per-line
    * original, so `value` is the parser's raw record text for
    * structurally corrupt rows and the re-rendered parsed fields for
    * rows that parsed but fail the envelope — either way the
    * quarantine record carries triage-able content. */
  def parseFilesSplit(spark: org.apache.spark.sql.SparkSession, paths: Seq[String],
      nDataCols: Int): DataFrame = {
    val schema = rawSchemaFor(nDataCols).add(StructField(CorruptCol, StringType, nullable = true))
    val cs = (0 until 4 + nDataCols).map(i => col(s"_c$i"))
    classify(spark.read
      .options(csvOptions + ("multiLine" -> "true") +
        ("columnNameOfCorruptRecord" -> CorruptCol))
      .schema(schema)
      .csv(paths: _*)
      .select(col("_metadata.file_path").as("_src_path") +:
        coalesce(col(CorruptCol), to_csv(struct(cs: _*))).as("value") +:
        cs :+
        col(CorruptCol): _*))
  }

  /** Shared verdict projection: the CSV parser's structural rejection
    * first, then the same envelope invariants the FAILFAST path's guard
    * raises on. try_cast, not cast — under ANSI a plain cast of a
    * garbage commit-ts would throw, which is exactly the trigger-death
    * this lane exists to prevent. */
  private def classify(parsed: DataFrame): DataFrame =
    parsed
      .withColumn(ReasonCol,
        when(col(CorruptCol).isNotNull, lit(ReasonStructural))
          .when(!col("_c0").isin(Insert, Update, Delete) || col("_c0").isNull, lit(ReasonBadFlag))
          .when(expr("try_cast(_c3 AS BIGINT)").isNull, lit(ReasonBadCommitTs)))
      .drop(CorruptCol)

  /** True for a physical line carrying an ODD number of unescaped
    * quotes — the bracketing halves of a quoted field whose value
    * contains a newline, split in two by the line-oriented source. Exact
    * under the backslash-escape dialect: literal `\\` pairs are removed
    * first so a trailing escaped backslash cannot mask a real quote,
    * then escaped quotes `\"` are removed, then remaining `"` are
    * counted. Interior lines of such a record may look balanced, but the
    * two bracketing halves never do — so ANY odd line marks its FILE as
    * needing the multi-line repair read ([[parseFiles]]). */
  def quoteUnbalanced(value: Column): Column = {
    val noBackslashPairs = regexp_replace(value, "\\\\\\\\", "")
    val noEscapedQuotes = regexp_replace(noBackslashPairs, "\\\\\"", "")
    (length(noEscapedQuotes) -
      length(regexp_replace(noEscapedQuotes, "\"", ""))) % 2 === 1
  }

  /** The quoted-newline repair path: re-read specific CDC files as
    * whole-record CSV (`multiLine`), producing the same positional
    * `_c{i}` shape as [[parseLines]]. The line stream remains the
    * discovery + checkpoint mechanism; the files re-read here are
    * immutable once visible (TiCDC writes a CDC file completely before
    * its index makes it consumable), so the re-read sees exactly the
    * bytes the stream indexed. Only flagged files pay the second read —
    * the common all-clean batch stays on the single-scan line path. */
  def parseFiles(spark: org.apache.spark.sql.SparkSession, paths: Seq[String], nDataCols: Int): DataFrame =
    envelopeGuard(spark.read
      .options(csvOptions + ("mode" -> "FAILFAST") + ("multiLine" -> "true"))
      .schema(rawSchemaFor(nDataCols))
      .csv(paths: _*))

  /** P2 cast-and-rename: positional `_c{i}` → typed, named columns. Binary
    * columns decode from hex or base64 per dialect (P3,
    * `cmd/core.go:67-73`, `pkg/snowsql/sql.go:119-121`). */
  def project(raw: DataFrame, dataCols: Seq[TableCol], binaryDialect: String = "hex"): DataFrame = {
    val meta = Seq(
      col("_c0").as(FlagCol),
      col("_c1").as(TableCol_),
      col("_c2").as(SchemaCol),
      col("_c3").cast(LongType).as(CommitTsCol))
    val data = dataCols.zipWithIndex.map { case (c, i) =>
      val src = col(s"_c${i + 4}")
      val t = TidbTypeMapper.toSpark(c)
      val v: Column = t match {
        case BinaryType if binaryDialect == "base64" => unbase64(src)
        case BinaryType => unhex(src)
        case _ => src.cast(t)
      }
      v.as(c.name)
    }
    raw.select(meta ++ data: _*)
  }

  /** P4 table filter: keep only this session's {schema, table} events. */
  def tableFilter(df: DataFrame, schema: String, table: String): DataFrame =
    df.filter(col(SchemaCol) === schema && col(TableCol_) === table)
}
