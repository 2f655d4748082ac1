package graft.snapshot

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{base64, col, hex, lower, unbase64, unhex}
import org.apache.spark.sql.types.{BinaryType, StringType, StructField, StructType}

import graft.types.{TableDefinition, TableDefJson, TidbTypeMapper}
import graft.cdc.Envelope
import graft.storage.Publish

/** Snapshot (bulk) load stage — S1/S7/S8/S11 of SURVEY §2.1.
  *
  * Reads the consistent-snapshot image (dumpling CSV layout
  * `snapshot/{db}.{table}.{NNNN}.csv`, no header, NULL=`\N` — or parquet
  * for our testdata) and materializes the initial target version, then
  * drops the `.loadinfo` stage marker (`replicate/snapshot.go:160-166`).
  *
  * Parallelism: the reference fans out ≤16 concurrent COPYs
  * (`replicate/snapshot.go:23-25`); in Spark per-file parallelism is the
  * scan's partitioning — every CSV chunk is its own split, so a
  * 1000-executor cluster loads 1000 chunks at once with no extra code.
  */
object SnapshotLoader {

  /** Read a dumpling-layout CSV snapshot directory with the table's
    * typed schema (no envelope columns in snapshot files). Binary
    * columns travel text-encoded in the CSV — hex for the default/
    * snowflake/redshift dialects, base64 for bigquery
    * (`cmd/core.go:67-73`) — because Spark's CSV source cannot carry
    * BinaryType; they read as string and decode here. */
  def readSnapshotCsv(
      spark: SparkSession,
      snapshotDir: String,
      d: TableDefinition,
      binaryDialect: String = "hex"): DataFrame = {
    val typed = TidbTypeMapper.toStructType(d.columns)
    val wire = StructType(typed.map {
      case StructField(n, BinaryType, nu, m) => StructField(n, StringType, nu, m)
      case f => f
    })
    val raw = spark.read
      .options(Envelope.csvOptions)
      .schema(wire)
      .csv(s"$snapshotDir/${d.schema}.${d.table}.*.csv")
    raw.select(typed.map {
      case StructField(n, BinaryType, _, _) if binaryDialect == "base64" => unbase64(col(n)).as(n)
      case StructField(n, BinaryType, _, _) => unhex(col(n)).as(n)
      case f => col(f.name)
    }: _*)
  }

  /** Export-only mode (reference `cmd/s3.go`/`cmd/gcs.go`): write the
    * snapshot image as dumpling-layout CSV chunks
    * `{schema}.{table}.{NNNNNNNNN}.csv` plus the schema.json seed, so
    * any loader — including [[readSnapshotCsv]] — can consume the
    * directory. Chunk parallelism is the DataFrame's partitioning
    * (dumpling's ≤16-thread dump, minus the hand-rolled pool). Binary
    * columns encode per the dialect map `cmd/core.go:67-73`: lowercase
    * hex for default/snowflake/redshift, base64 for bigquery. */
  def writeSnapshotCsv(
      spark: SparkSession,
      snapshot: DataFrame,
      snapshotDir: String,
      d: TableDefinition,
      binaryDialect: String = "hex"): Seq[String] = {
    val typed = TidbTypeMapper.toStructType(d.columns)
    val wire = snapshot.select(typed.map {
      case StructField(n, BinaryType, _, _) if binaryDialect == "base64" => base64(col(n)).as(n)
      case StructField(n, BinaryType, _, _) => lower(hex(col(n))).as(n)
      case f => col(f.name)
    }: _*)
    val tmp = Publish.tmpFor(Paths.get(snapshotDir, s"${d.schema}.${d.table}"))
    wire.write.options(Envelope.csvOptions).mode(SaveMode.Overwrite).csv(tmp.toString)
    val parts = Publish.listDir(tmp)
      .filter(_.getFileName.toString.endsWith(".csv"))
      .sortBy(_.getFileName.toString)
    val out = parts.zipWithIndex.map { case (p, i) =>
      val name = f"${d.schema}.${d.table}.$i%09d.csv"
      Files.move(p, Paths.get(snapshotDir, name), StandardCopyOption.REPLACE_EXISTING)
      name
    }
    Publish.deleteRecursively(tmp)
    Files.writeString(Paths.get(snapshotDir, s"${d.schema}.${d.table}-schema.json"),
      TableDefJson.write(d))
    Publish.replaceFile(Paths.get(snapshotDir, "metadata"), s"export finished: ${out.size} chunks")
    out
  }

  def loadinfoPath(snapshotDir: String, d: TableDefinition): String =
    s"$snapshotDir/${d.schema}.${d.table}.loadinfo"

  def isLoaded(snapshotDir: String, d: TableDefinition): Boolean =
    Files.exists(Paths.get(loadinfoPath(snapshotDir, d)))

  /** Bulk-load the snapshot into the target table (version "snapshot"),
    * skipping if the loadinfo marker says a previous run completed. */
  def load(
      spark: SparkSession,
      snapshot: DataFrame,
      target: TargetTable,
      snapshotDir: String,
      d: TableDefinition): Boolean = {
    if (isLoaded(snapshotDir, d)) return false
    target.writeVersion(snapshot, "snapshot")
    Publish.replaceFile(Paths.get(loadinfoPath(snapshotDir, d)), "loaded")
    true
  }
}
