package graft.streaming

import java.nio.file.{Files, Path, Paths}

import graft.tools.Failpoints
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.snapshot.ShardedExport
import graft.storage.Publish

/** Continuous exactly-once training-data export — the streaming face of
  * [[graft.snapshot.ShardedExport]]: documents append to the hash-sharded
  * layout as they arrive, and a crashed/restarted stream never lands a
  * row twice.
  *
  * Layout: parquet files under `outDir/batch=<epochId>/_shard=K/` plus
  * one commit marker per epoch under `outDir/_committed/<epochId>.json`
  * (the per-shard row counts). A batch is visible IFF its marker exists.
  *
  * Exactly-once without a transactional sink: Structured Streaming's
  * `foreachBatch` redelivers a micro-batch with the SAME `batchId` after
  * a failure, so the commit protocol only has to be idempotent per id —
  * [[commitBatch]] (1) skips ids whose marker exists, (2) writes data to
  * a tmp dir, (3) atomically renames, (4) writes the marker LAST.  A
  * crash between (3) and (4) leaves an uncommitted orphan that the
  * redelivery overwrites; readers never see it because [[readAll]] and
  * [[manifest]] go through the markers.
  *
  * The shard id is the SAME `pmod(hash(key), n)` pure function the batch
  * exporter uses, so batch backfill and live stream place every key in
  * the same shard and a downstream loader's shard→worker map works
  * across both. Per-epoch state is bounded (one marker file); nothing is
  * keyed across batches, so the stream runs forever at any rate.
  */
object StreamShardedExport {

  private val ShardCol = ShardedExport.ShardCol

  /** Start continuously exporting `docs` (a STREAMING frame). With
    * `compactEvery` > 0, every Nth epoch also folds the accumulated
    * per-epoch files into one file per shard ([[compact]]) — in-line in
    * `foreachBatch` so compaction serializes with commits through the
    * streaming engine's own one-batch-at-a-time execution; it is
    * idempotent and marker-published, so a crash mid-compaction on a
    * redelivered epoch changes nothing a reader can observe. */
  def start(docs: DataFrame, keyCol: String, outDir: String, numShards: Int,
      checkpoint: String, compactEvery: Int = 0): StreamingQuery =
    MicroBatch.start(docs, checkpoint) { (batch, id) =>
      commitBatch(batch, keyCol, outDir, numShards, id)
      if (compactEvery > 0 && id % compactEvery == compactEvery - 1)
        compact(batch.sparkSession, outDir, numShards)
    }

  /** Idempotently land one micro-batch: returns true if this call wrote
    * the batch, false if `epochId` was already committed (redelivery, or
    * a concurrent attempt won).
    *
    * Protocol hardening (each clause is a failure mode that happens in
    * production): an EMPTY batch commits as marker-only — no data dir,
    * no schemaless parquet read, no wedged stream retrying the same
    * epoch forever; the data tmp dir is per-ATTEMPT unique, so a zombie
    * driver's in-flight attempt can't have its output deleted or
    * interleaved by the new driver (cross-driver serialization itself
    * rests on Structured Streaming's one-active-query-per-checkpoint
    * lock; the marker re-check before the data swap closes the loser's
    * window); the marker is created exactly once from a fully-written
    * tmp file ([[Publish.createFileOnce]]) — a crash mid-write can never
    * leave a truncated marker that reads as a valid commit, and a
    * losing attempt cannot overwrite the winner's. */
  def commitBatch(batch: DataFrame, keyCol: String, outDir: String,
      numShards: Int, epochId: Long): Boolean =
    commitWithShards(
      batch.withColumn(ShardCol, ShardedExport.shardExpr(keyCol, numShards)),
      outDir, numShards, epochId)

  /** Same landing protocol, but the partition column is ALREADY on the
    * batch — the seam that lets other partitioned continuous sinks (the
    * streaming IVF inverted-list table partitions by centroid list, not
    * by key hash) reuse the marker algebra, compaction, and manifest
    * unchanged. `numShards` here only sizes the write repartition. */
  private[streaming] def commitWithShards(batch: DataFrame, outDir: String,
      numShards: Int, epochId: Long): Boolean = {
    require(numShards > 0, s"numShards must be positive: $numShards")
    require(batch.columns.contains(ShardCol),
      s"commitWithShards needs a precomputed $ShardCol column")
    val root = Paths.get(outDir)
    val marker = markerPath(root, epochId)
    if (Files.exists(marker)) return false // exactly-once: already landed

    def publishMarker(counts: Map[Int, Long]): Boolean =
      Publish.createFileOnce(marker,
        s"""{"epoch": $epochId, "total_rows": ${counts.values.sum}, "rows_per_shard": ${renderCounts(counts)}}""")

    if (batch.isEmpty) return publishMarker(Map.empty) // marker-only commit

    // the replace drops an orphan dest from a crash before the marker
    // write; a marker that appeared while this attempt wrote means a
    // concurrent attempt committed, and this one backs off
    val written = Publish.replaceDir(root.resolve(s"batch=$epochId"),
        unless = Files.exists(marker)) { tmp =>
      batch
        .repartition(numShards, col(ShardCol))
        .write.partitionBy(ShardCol).mode(SaveMode.Overwrite).parquet(tmp.toString)
      // crash point: shard files fully written, nothing published — the
      // orphan tmp dir must be invisible to readers and harmless to the
      // replay (which writes its own attempt-unique tmp)
      Failpoints.hit("sharded.after-tmp-write")
      // count what actually landed; the marker is published LAST
      shardCounts(batch.sparkSession.read.schema(batch.schema).parquet(tmp.toString))
    }
    written.exists { counts =>
      // crash point: data renamed into place but NO marker — readers must
      // still exclude it, and the replay must overwrite the orphan dest
      Failpoints.hit("sharded.before-marker")
      publishMarker(counts)
    }
  }

  /** Every COMMITTED row (uncommitted orphans excluded), bookkeeping
    * columns dropped. */
  def readAll(spark: SparkSession, outDir: String): DataFrame =
    readAllWithShard(spark, outDir).drop(ShardCol)

  /** One committed shard across all epochs — the loader-facing read
    * (partition-pruned on `_shard`). */
  def readShard(spark: SparkSession, outDir: String, shard: Int): DataFrame =
    readAllWithShard(spark, outDir).filter(col(ShardCol) === shard).drop(ShardCol)

  /** A SET of committed shards in one partition-pruned read — the
    * multi-shard probe pattern (e.g. a graph-index epoch touching the
    * batch's coarse cells reads only those cells' directories). */
  def readShards(spark: SparkSession, outDir: String, shards: Seq[Int]): DataFrame =
    readAllWithShard(spark, outDir)
      .filter(col(ShardCol).isin(shards: _*)).drop(ShardCol)

  private def readAllWithShard(spark: SparkSession, outDir: String): DataFrame = {
    // marker-only epochs (empty micro-batches) have no data dir — they
    // are committed but contribute no rows
    val (batches, gens) = visibleCommits(outDir)
    val dirs = (batches.map(id => Paths.get(outDir, s"batch=$id")) ++
        gens.map(g => Paths.get(outDir, s"batch=compact-$g")))
      .filter(Files.isDirectory(_))
      .map(_.toString)
    require(dirs.nonEmpty, s"no committed data batches under $outDir")
    // basePath makes Spark infer the batch/_shard partition columns the
    // same way for every listed dir (explicit multi-dir reads otherwise
    // trip partition discovery)
    spark.read.option("basePath", outDir).parquet(dirs: _*).drop("batch")
  }

  /** Total committed rows per shard, summed from the VISIBLE markers
    * (compacted generations + unfolded batches) — no data scan. */
  def manifest(outDir: String): Map[Int, Long] = {
    val root = Paths.get(outDir)
    val (batches, gens) = visibleCommits(outDir)
    val texts = batches.map(id => Files.readString(markerPath(root, id))) ++
      gens.map(g => Files.readString(compactMarkerPath(root, g)))
    texts.flatMap { text =>
      // quoted numeric keys appear only in rows_per_shard (fold lists
      // are unquoted arrays, scalar keys are words)
      """"(\d+)"\s*:\s*(\d+)""".r.findAllMatchIn(text)
        .map(m => m.group(1).toInt -> m.group(2).toLong)
    }.groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).sum }
  }

  // --- compaction ------------------------------------------------------
  // A 12 s trigger lands one file per shard per epoch: a day is 7200
  // epochs × N shards of small files — the classic streaming small-file
  // problem, and at 100 TB the metadata alone (listings, footers, task
  // scheduling) dominates read cost. `compact` folds every currently
  // committed batch (and any earlier compacted generation) into ONE file
  // per shard under `batch=compact-<gen>/`, with the same
  // tmp-write → atomic-rename → marker-LAST protocol as `commitBatch`.
  //
  // Visibility is marker-algebra, not file presence: a compact marker
  // lists the epochs/generations it folds, and readers subtract folded
  // commits BEFORE looking at directories — so a crash after the marker
  // publish but before garbage collection leaves duplicate DATA on disk
  // but never duplicate ROWS in a read. GC is therefore a separate,
  // idempotent sweep (`gcFolded`) that any later compaction re-runs.
  // The live stream never pauses: epochs committed while a compaction
  // runs simply stay outside its fold set and remain visible next to
  // the new generation.

  /** Fold all currently committed batches + earlier generations into a
    * new compacted generation (one file per shard). Returns the new
    * generation id, or None if there is nothing to fold. When `gc` is
    * true the folded directories and markers are swept afterwards. */
  def compact(spark: SparkSession, outDir: String, numShards: Int,
      gc: Boolean = true): Option[Long] = {
    require(numShards > 0, s"numShards must be positive: $numShards")
    val root = Paths.get(outDir)
    val (batches, gens) = visibleCommits(outDir)
    val dataDirs = (batches.map(id => root.resolve(s"batch=$id")) ++
      gens.map(g => root.resolve(s"batch=compact-$g"))).filter(Files.isDirectory(_))
    if (dataDirs.isEmpty || (batches.size + gens.size) < 2) return None
    val gen = (committedGenerations(outDir).map(_ + 1L) :+ 0L).max
    val marker = compactMarkerPath(root, gen)

    // claim the generation ATOMICALLY before building the fold: two
    // concurrent compactors (an external compact() call while a stream
    // runs with compactEvery > 0) would otherwise interleave the
    // dest-swap and marker publish, leaving a marker whose fold list
    // doesn't match the on-disk data. The loser backs off at the claim.
    // A claim left by a crashed compactor expires after ClaimTtlMs so a
    // dead process can't block compaction forever.
    val claim = root.resolve(s".compact-$gen.claim")
    val owner = java.util.UUID.randomUUID().toString
    if (!Publish.claim(claim, owner, ClaimTtlMs)) return None
    try {
      if (Files.exists(marker)) return None // this gen already published
      val counts = Publish.replaceDir(root.resolve(s"batch=compact-$gen")) { tmp =>
        spark.read.option("basePath", outDir).parquet(dataDirs.map(_.toString): _*)
          .drop("batch")
          .repartition(numShards, col(ShardCol))
          .write.partitionBy(ShardCol).mode(SaveMode.Overwrite).parquet(tmp.toString)
        shardCounts(spark.read.parquet(tmp.toString))
      }.get
      val published = Publish.createFileOnce(marker,
        s"""{"gen": $gen, "folds": ${batches.mkString("[", ", ", "]")}, """ +
          s""""folds_gens": ${gens.mkString("[", ", ", "]")}, """ +
          s""""total_rows": ${counts.values.sum}, "rows_per_shard": ${renderCounts(counts)}}""")
      if (!published) return None
      if (gc) gcFolded(outDir)
      Some(gen)
    } finally Publish.release(claim, owner)
  }

  /** How long a generation claim blocks rival compactors before it is
    * presumed crashed and stolen. */
  private[graft] val ClaimTtlMs = 30L * 60 * 1000

  /** Rows per shard of a written tmp — ≤ numShards rows to the driver. */
  private def shardCounts(written: DataFrame): Map[Int, Long] =
    written.groupBy(col(ShardCol)).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap

  private def renderCounts(counts: Map[Int, Long]): String =
    counts.toSeq.sortBy(_._1).map { case (k, v) => s""""$k": $v""" }.mkString("{", ", ", "}")

  /** Sweep directories and markers of every folded commit — idempotent,
    * safe to re-run after any crash (visibility never depends on it). */
  def gcFolded(outDir: String): Unit = {
    val root = Paths.get(outDir)
    val (foldedBatches, foldedGens) = foldedCommits(outDir)
    foldedBatches.foreach { id =>
      Publish.deleteRecursively(root.resolve(s"batch=$id"))
      Files.deleteIfExists(markerPath(root, id))
    }
    foldedGens.foreach { g =>
      Publish.deleteRecursively(root.resolve(s"batch=compact-$g"))
      Files.deleteIfExists(compactMarkerPath(root, g))
    }
  }

  /** Commits a reader must load: (unfolded batch epochs, unfolded
    * compacted generations). */
  private def visibleCommits(outDir: String): (Seq[Long], Seq[Long]) = {
    val (foldedBatches, foldedGens) = foldedCommits(outDir)
    (committedEpochs(outDir).filterNot(foldedBatches.contains),
      committedGenerations(outDir).filterNot(foldedGens.contains))
  }

  /** Union of every compact marker's fold lists. */
  private def foldedCommits(outDir: String): (Set[Long], Set[Long]) = {
    val root = Paths.get(outDir)
    val texts = committedGenerations(outDir)
      .map(g => Files.readString(compactMarkerPath(root, g)))
    def list(key: String, text: String): Seq[Long] =
      (s""""$key":\\s*\\[([^\\]]*)\\]""").r.findFirstMatchIn(text)
        .map(_.group(1).split(",").map(_.trim).filter(_.nonEmpty).map(_.toLong).toSeq)
        .getOrElse(Seq.empty)
    (texts.flatMap(list("folds", _)).toSet, texts.flatMap(list("folds_gens", _)).toSet)
  }

  private val GenMarkerName = """compact-(\d+)\.json""".r

  def committedGenerations(outDir: String): Seq[Long] = {
    val dir = Paths.get(outDir, "_committed")
    if (!Files.isDirectory(dir)) return Seq.empty
    Publish.listDir(dir)
      .map(_.getFileName.toString)
      .collect { case GenMarkerName(g) => g.toLong }
      .sorted
  }

  private def compactMarkerPath(root: Path, gen: Long): Path =
    root.resolve("_committed").resolve(s"compact-$gen.json")

  private val EpochMarkerName = """(\d+)\.json""".r

  def committedEpochs(outDir: String): Seq[Long] = {
    val dir = Paths.get(outDir, "_committed")
    if (!Files.isDirectory(dir)) return Seq.empty
    Publish.listDir(dir)
      .map(_.getFileName.toString)
      // digits-only: a stray foo.json or editor artifact must not make
      // every read of a healthy export throw
      .collect { case EpochMarkerName(id) => id.toLong }
      .sorted
  }

  private def markerPath(root: Path, epochId: Long): Path =
    root.resolve("_committed").resolve(s"$epochId.json")
}
