package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.queries.VectorQueries
import graft.snapshot.ShardedExport
import graft.storage.Publish

/** Continuous IVF index maintenance: vectors arriving on a stream are
  * assigned to their nearest coarse centroid with the SAME broadcast +
  * `max_by` hash-agg the batch index build uses (never a window), and
  * appended into the inverted-list layout exactly-once — so a
  * backfilled index and a live-maintained one agree row-for-row and the
  * batch query path ([[VectorQueries.probeLists]]) runs unchanged over
  * either.
  *
  * The landing layer IS [[StreamShardedExport]]'s marker algebra: an
  * inverted-list table is a sharded export whose partition column is
  * the DENSE LIST INDEX of the assigned centroid instead of a key hash
  * (`commitWithShards`). That buys, for free: per-epoch idempotent
  * commits (crash/redelivery lands nothing twice), crash-orphan
  * invisibility, small-file compaction with reader-side marker algebra
  * while the stream keeps committing, and a no-scan manifest of rows
  * per list — the small-file + exactly-once story a 12 s trigger needs
  * at any rate.
  *
  * Scale shape: per-batch cost is one broadcast of the C-row centroid
  * frame + one map-side-combinable hash-agg over the batch; per-epoch
  * bookkeeping is one marker file; nothing is keyed across batches.
  * The centroid set is FROZEN model state (C rows, the IVF contract —
  * retraining is an index rebuild, not maintenance), so the dense list
  * mapping is deterministic across batches, backfill, and engines.
  */
object StreamVectorIndex {

  /** Dense list index per centroid id — bounded model state (C rows),
    * deterministic: rank of cent_id ascending. */
  def listIndex(cents: DataFrame): Map[Long, Int] =
    cents.select(col("cent_id")).collect().map(_.getLong(0)).sorted.zipWithIndex.toMap

  /** Start continuously indexing `vecs` (a STREAMING frame of
    * (vec_id, embedding)) into the inverted-list table at `outDir`. */
  def start(vecs: DataFrame, cents: DataFrame, outDir: String,
      checkpoint: String): StreamingQuery = {
    val idx = listIndex(cents) // resolve the frozen model once, up front
    MicroBatch.start(vecs, checkpoint) { (batch, id) =>
      commitBatch(batch, cents, idx, outDir, id)
    }
  }

  /** Idempotently assign + land one micro-batch of vectors; returns
    * false if `epochId` was already committed (redelivery no-op). */
  def commitBatch(batch: DataFrame, cents: DataFrame, idx: Map[Long, Int],
      outDir: String, epochId: Long): Boolean = {
    val toList = typedLit(idx)
    val assigned = VectorQueries.assignNearest(batch, cents)
      .withColumn(ShardedExport.ShardCol,
        element_at(toList, col("cent_id")).cast("int"))
    StreamShardedExport.commitWithShards(assigned, outDir, idx.size, epochId)
  }

  /** Every committed (vec_id, embedding, cent_id) row — the same frame
    * the batch build persists, so [[VectorQueries.probeLists]] queries
    * it unchanged. */
  def readIndex(spark: SparkSession, outDir: String): DataFrame =
    StreamShardedExport.readAll(spark, outDir)

  /** One inverted list, partition-pruned: only `centId`'s directory is
    * opened (the probe-side read pattern — NProbe list dirs per probe,
    * never the whole index). */
  def readList(spark: SparkSession, outDir: String, idx: Map[Long, Int],
      centId: Long): DataFrame =
    StreamShardedExport.readShard(spark, outDir, idx(centId))

  /** Fold accumulated per-epoch files into one file per list — the
    * live stream keeps committing alongside (see
    * [[StreamShardedExport.compact]]'s marker algebra). */
  def compact(spark: SparkSession, outDir: String, idx: Map[Long, Int]): Option[Long] =
    StreamShardedExport.compact(spark, outDir, idx.size)

  /** Committed rows per list index, from markers alone — no data scan. */
  def manifest(outDir: String): Map[Int, Long] =
    StreamShardedExport.manifest(outDir)

  // --- drift-triggered retrain lifecycle --------------------------------
  // The centroid set is frozen MODEL state; when the data distribution
  // drifts (new arrivals no longer resemble what the quantizer was
  // trained on), cells bloat and the recall/cost frontier degrades.
  // `vec_drift`/`corpus_drift` MEASURE that; this closes the loop an
  // index owner actually operates: score drift from the commit markers
  // alone, retrain on the full committed corpus (`kmeansConverged`),
  // build the next GENERATION beside the serving one, and atomically
  // swap a pointer — the two-land + marker protocol the rest of the
  // engine lands with. Readers serve the old generation until the
  // instant of the swap; a crash between the generation land and the
  // pointer swap replays to convergence (the rebuild is deterministic,
  // every land idempotent).
  //
  // Layout: `root/gen=N/` is a complete inverted-list table (its own
  // `_committed` markers) plus the frozen quantizer under
  // `gen=N/_centroids` and the build-time per-list counts in
  // `gen=N/_baseline.json`; `root/_current_gen` names the serving
  // generation. Retrain must serialize with commits (run it on the
  // stream's foreachBatch cadence, like compaction) — epochs landed
  // into the old generation after the retrain's corpus read would
  // otherwise miss the new one.

  def genDir(root: String, gen: Long): String = s"$root/gen=$gen"

  def currentGen(root: String): Option[Long] = {
    val p = java.nio.file.Paths.get(root, "_current_gen")
    if (java.nio.file.Files.exists(p))
      Some(java.nio.file.Files.readString(p).trim.toLong)
    else None
  }

  private[graft] def writeGenPointer(root: String, gen: Long): Unit =
    Publish.replaceFile(java.nio.file.Paths.get(root, "_current_gen"), gen.toString)

  /** Build generation `gen` from (corpus, cents): persist the frozen
    * quantizer, land the full assignment as epoch 0 of the new
    * generation's inverted-list table, and record the build-time
    * per-list counts as the drift baseline. Idempotent end-to-end
    * (overwrite + marker no-op + skip-if-present), so a crashed build
    * re-runs to the identical generation. Does NOT swap the pointer. */
  def buildGeneration(corpus: DataFrame, cents: DataFrame, root: String,
      gen: Long): Unit = {
    val dir = genDir(root, gen)
    val idx = listIndex(cents)
    cents.write.mode("overwrite").parquet(s"$dir/_centroids")
    commitBatch(corpus.select(col("vec_id"), col("embedding")), cents, idx, dir, epochId = 0L)
    val baseline = java.nio.file.Paths.get(dir, "_baseline.json")
    if (!java.nio.file.Files.exists(baseline)) {
      val counts = manifest(dir).toSeq.sortBy(_._1)
        .map { case (k, v) => s""""$k": $v""" }.mkString("{", ", ", "}")
      Publish.createFileOnce(baseline, counts)
    }
  }

  /** Bootstrap generation 0 and point serving at it. */
  def initIndex(corpus: DataFrame, cents: DataFrame, root: String): Unit = {
    buildGeneration(corpus, cents, root, 0L)
    writeGenPointer(root, 0L)
  }

  /** The serving generation's frozen quantizer. */
  def readCentroids(spark: SparkSession, root: String): DataFrame = {
    val gen = currentGen(root).getOrElse(sys.error(s"index at $root not initialized"))
    spark.read.parquet(s"${genDir(root, gen)}/_centroids")
  }

  /** Every committed row of the SERVING generation — what
    * [[graft.queries.VectorQueries.probeLists]] queries. */
  def readCurrentIndex(spark: SparkSession, root: String): DataFrame = {
    val gen = currentGen(root).getOrElse(sys.error(s"index at $root not initialized"))
    readIndex(spark, genDir(root, gen))
  }

  /** Land one micro-batch of arrivals into the SERVING generation,
    * assigned with its frozen quantizer. */
  def commitBatchCurrent(batch: DataFrame, spark: SparkSession, root: String,
      epochId: Long): Boolean = {
    val gen = currentGen(root).getOrElse(sys.error(s"index at $root not initialized"))
    val cents = readCentroids(spark, root)
    commitBatch(batch, cents, listIndex(cents), genDir(root, gen), epochId)
  }

  /** Drift of the serving generation, from markers alone (no data
    * scan): two-sample χ² between the build-time per-list counts and
    * the arrivals landed since — the `vec_drift` recipe applied to the
    * quantities the index already bookkeeps. 0 when nothing arrived. */
  def driftScore(root: String): Double = {
    val gen = currentGen(root).getOrElse(sys.error(s"index at $root not initialized"))
    val dir = genDir(root, gen)
    val baseline: Map[Int, Long] =
      """"(\d+)"\s*:\s*(\d+)""".r
        .findAllMatchIn(java.nio.file.Files.readString(
          java.nio.file.Paths.get(dir, "_baseline.json")))
        .map(m => m.group(1).toInt -> m.group(2).toLong).toMap
    val live = manifest(dir)
    val arrivals = live.map { case (k, v) => k -> (v - baseline.getOrElse(k, 0L)) }
    val n1 = baseline.values.sum.toDouble
    val n2 = arrivals.values.sum.toDouble
    if (n2 <= 0) return 0.0
    (baseline.keySet ++ arrivals.keySet).toSeq.map { k =>
      val o1 = baseline.getOrElse(k, 0L).toDouble
      val o2 = arrivals.getOrElse(k, 0L).toDouble
      if (o1 + o2 == 0) 0.0
      else { val d = o1 * n2 - o2 * n1; d * d / ((o1 + o2) * n1 * n2) }
    }.sum
  }

  /** Drop retired generations, keeping the serving one plus `keep`
    * predecessors (in-flight readers may still hold the previous
    * generation — the TargetTable gc rule). Generations ABOVE the
    * serving pointer are never touched: a landed-but-unswapped next
    * generation belongs to a crashed retrain whose replay completes
    * the swap. Idempotent; returns the generations deleted. */
  def gcGenerations(root: String, keep: Int = 1): Seq[Long] = {
    val cur = currentGen(root).getOrElse(return Nil)
    val rootPath = java.nio.file.Paths.get(root)
    if (!java.nio.file.Files.isDirectory(rootPath)) return Nil
    val gens = Publish.listDir(rootPath)
      .filter(p => java.nio.file.Files.isDirectory(p))
      .flatMap(p => "gen=(\\d+)".r.findFirstMatchIn(p.getFileName.toString)
        .map(_.group(1).toLong))
    val doomed = gens.filter(_ < cur - keep).sorted
    doomed.foreach(g => Publish.deleteRecursively(java.nio.file.Paths.get(genDir(root, g))))
    doomed
  }

  /** Retrain on the full committed corpus and atomically swap serving
    * to the new generation when [[driftScore]] exceeds `threshold`;
    * no-op (None) below it. The swap is the last step — a crash
    * anywhere before it leaves the old generation serving and the
    * retry converges (deterministic k-means over the same committed
    * corpus, idempotent lands). */
  def retrainIfDrifted(spark: SparkSession, root: String, threshold: Double,
      seedStride: Int, eps: Double = 1e-4, maxIters: Int = 50): Option[Long] = {
    if (driftScore(root) <= threshold) return None
    val old = currentGen(root).getOrElse(sys.error(s"index at $root not initialized"))
    val next = old + 1
    val corpus = readCurrentIndex(spark, root)
      .select(col("vec_id"), col("embedding"))
      .localCheckpoint() // pin: k-means iterates over it
    val (cents, _) = graft.queries.VectorQueries.kmeansConverged(
      corpus, seedStride, eps, maxIters)
    buildGeneration(corpus, cents, root, next)
    // crash point: the new generation is fully landed (data + quantizer
    // + baseline) but serving still points at the old one — readers
    // must keep getting the old index, and the replayed retrain must
    // rebuild idempotently and complete the swap
    graft.tools.Failpoints.hit("vecindex.before-swap")
    writeGenPointer(root, next)
    Some(next)
  }
}
