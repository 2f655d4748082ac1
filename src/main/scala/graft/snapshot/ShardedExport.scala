package graft.snapshot

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

import graft.storage.Publish

/** Deterministic sharded export for training-data consumption — the last
  * stage of the LLM-pipeline surface: a filtered corpus lands as N
  * hash-sharded parquet directories plus a manifest, so a downstream
  * loader can map shard → worker with no coordination.
  *
  * Scale design: the shard id is `pmod(hash(key), n)` — a pure function
  * of the key, so re-exports place every row in the same shard (stable
  * incremental refresh) and the assignment needs no global sort or
  * sampling pass. `repartition(n, shard)` gives one task per shard
  * (balanced by the same hash), `partitionBy(shard)` makes each shard a
  * self-describing directory; write + manifest commit through
  * [[graft.storage.Publish.replaceDir]], the seam [[TargetTable]] lands
  * through too.
  */
object ShardedExport {

  final case class Manifest(numShards: Int, totalRows: Long, rowsPerShard: Map[Int, Long])

  private[graft] val ShardCol = "_shard"

  /** THE shard assignment — one definition shared by the batch exporter
    * and [[graft.streaming.StreamShardedExport]], because the documented
    * key-for-key backfill/live-stream agreement is exactly "both sides
    * call this function". */
  private[graft] def shardExpr(keyCol: String, numShards: Int): org.apache.spark.sql.Column =
    pmod(hash(col(keyCol)), lit(numShards))

  /** Write `df` as `numShards` hash-sharded dirs under `outDir`
    * (`_shard=K/`), plus `_manifest.json`. Returns the manifest.
    *
    * `format`: `parquet` (default) or `json` — JSONL is the wire format
    * many training-data loaders consume directly; the shard layout,
    * manifest, and key→shard map are IDENTICAL across formats, so a
    * consumer can switch without re-partitioning anything. */
  def writeShards(df: DataFrame, keyCol: String, outDir: String, numShards: Int,
      format: String = "parquet"): Manifest = {
    require(numShards > 0, s"numShards must be positive: $numShards")
    require(Set("parquet", "json").contains(format), s"unsupported format: $format")
    Publish.replaceDir(Paths.get(outDir)) { tmp =>
      df.withColumn(ShardCol, shardExpr(keyCol, numShards))
        .repartition(numShards, col(ShardCol))
        .write.partitionBy(ShardCol).mode(SaveMode.Overwrite)
        .format(format).save(tmp.toString)
      // per-shard counts from the written files (counts what actually
      // landed, not what the plan intended)
      writeManifest(df.sparkSession.read.format(format).load(tmp.toString), numShards, tmp)
    }.get
  }

  // --- epoch-seeded training shuffle -----------------------------------
  // Every training epoch wants a DIFFERENT global permutation of the
  // corpus, and a 100 TB corpus cannot afford a global sort per epoch.
  // Seeding the shard assignment AND the intra-shard order with
  // hash(epoch, key) gives a fresh deterministic permutation per epoch
  // for the cost of one hash-partitioned exchange plus per-task sorts
  // (`sortWithinPartitions` — no range-partitioning sampling pass, no
  // single-reducer order). Reruns of the same epoch reproduce the same
  // layout byte-for-byte, so a crashed export is safely re-runnable.

  /** THE epoch permutation key — md5-prefix of `"epoch:key"`, one
    * definition shared by the writer and the `corpus_epoch_shuffle`
    * oracle query (mirrored in DuckDB as
    * `CAST(('0x'||substr(md5(E||':'||key),1,8)) AS BIGINT)`). */
  private[graft] def epochKeyExpr(keyCol: String, epoch: Long): org.apache.spark.sql.Column =
    conv(substring(md5(concat(lit(s"$epoch:"), col(keyCol).cast("string"))), 1, 8), 16, 10)
      .cast("long")

  /** Write `df` as an epoch-shuffled sharded export: shard =
    * `epochKey % numShards`, rows inside each shard file ordered by the
    * epoch key. Layout and manifest match [[writeShards]]. */
  def writeEpochShuffle(df: DataFrame, keyCol: String, outDir: String,
      numShards: Int, epoch: Long): Manifest = {
    require(numShards > 0, s"numShards must be positive: $numShards")
    val skey = epochKeyExpr(keyCol, epoch)
    Publish.replaceDir(Paths.get(outDir)) { tmp =>
      df.withColumn("_skey", skey)
        .withColumn(ShardCol, pmod(col("_skey"), lit(numShards)))
        // the partition column leads the sort so the file writer's
        // required ordering is already satisfied — otherwise it inserts
        // its own sort by _shard alone and discards the epoch-key order
        .repartition(numShards, col(ShardCol))
        .sortWithinPartitions(col(ShardCol), col("_skey"), col(keyCol))
        .write.partitionBy(ShardCol).mode(SaveMode.Overwrite)
        .parquet(tmp.toString)
      writeManifest(df.sparkSession.read.parquet(tmp.toString), numShards, tmp)
    }.get
  }

  /** Count the rows per shard of a written export and write its
    * `_manifest.json` into `dir`. */
  private def writeManifest(written: DataFrame, numShards: Int, dir: Path): Manifest = {
    val counts = written
      .groupBy(col(ShardCol)).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val manifest = Manifest(numShards, counts.values.sum, counts)
    Files.writeString(dir.resolve("_manifest.json"), renderManifest(manifest))
    manifest
  }

  def readManifest(outDir: String): Manifest = {
    val text = Files.readString(Paths.get(outDir, "_manifest.json"))
    val num = """"num_shards"\s*:\s*(\d+)""".r.findFirstMatchIn(text).get.group(1).toInt
    val total = """"total_rows"\s*:\s*(\d+)""".r.findFirstMatchIn(text).get.group(1).toLong
    val per = """"(\d+)"\s*:\s*(\d+)""".r.findAllMatchIn(text)
      .map(m => m.group(1).toInt -> m.group(2).toLong).toMap
    Manifest(num, total, per)
  }

  /** One shard as a DataFrame (partition-pruned read of `_shard=K`). */
  def readShard(spark: org.apache.spark.sql.SparkSession, outDir: String, shard: Int,
      format: String = "parquet"): DataFrame =
    spark.read.format(format).load(outDir)
      .filter(col(ShardCol) === shard)
      .drop(ShardCol)

  private def renderManifest(m: Manifest): String = {
    val per = m.rowsPerShard.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k": $v""" }.mkString("{", ", ", "}")
    s"""{"num_shards": ${m.numShards}, "total_rows": ${m.totalRows}, "rows_per_shard": $per}"""
  }
}
