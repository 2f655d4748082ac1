package graft.snapshot

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.storage.Publish

/** A MERGE-capable managed table over plain parquet: versioned data dirs
  * plus a `_current` pointer, giving atomic swap, crash safety and
  * idempotent per-batch rewrites without a transactional format on the
  * classpath.
  *
  * This is the J2 ("DELETE+INSERT via rewrite") execution strategy the
  * reference uses for Redshift (`pkg/redshiftsql/sql.go:130-196`),
  * hosted in-engine.
  *
  * Scale design (100 TB): when constructed with `bucketKeys`/`numBuckets`
  * the table is hash-bucketed on the PK (`_bucket = pmod(hash(pk), N)` as
  * a parquet partition column). A merge batch then only REWRITES buckets
  * that contain touched keys (`mergeVersion`); untouched buckets are
  * hard-linked from the previous version — zero data movement, same
  * pointer-swap protocol. On object storage the link step becomes a
  * manifest entry pointing at the old objects (exactly how Delta/Iceberg
  * snapshots share unchanged files); the local-FS hard link is the same
  * idea with inodes. A 12 s trigger therefore rewrites
  * `O(touched buckets)`, never the world.
  */
final class TargetTable(
    spark: SparkSession,
    root: String,
    bucketKeys: Seq[String] = Nil,
    numBuckets: Int = 0,
    leaseTtlMs: Long = TargetTable.LeaseTtlMs) {

  val BucketCol = "_bucket"
  private val bucketed = bucketKeys.nonEmpty && numBuckets > 0
  private val rootPath = Paths.get(root)
  private def pointer = rootPath.resolve("_current")

  // --- single-writer lease ---------------------------------------------
  // The commit protocol (tmp → atomic move → repoint) is crash-safe for
  // ONE writer; two writers landing the same table concurrently (a
  // stream plus a manual merge, or two misconfigured streams) would
  // interleave tmp dirs, history lines and pointer swaps. Every
  // mutating entry point therefore takes an exclusive lease: a
  // `Publish.claim` of `_lease` naming the owner. A second live writer
  // FAILS LOUDLY at acquisition instead of racing; a lease left by a
  // dead process (crash while holding — the release in `finally` never
  // ran) expires by mtime age and is stolen, so a crashed driver cannot
  // block its own replacement. Cost: a handful of file ops per commit.

  private val ownerId = java.util.UUID.randomUUID().toString

  private def leasePath = rootPath.resolve("_lease")

  private def acquireLease(): Unit = {
    if (Publish.claim(leasePath, ownerId, leaseTtlMs)) return
    val holder = Publish.claimOwner(leasePath).getOrElse("unknown")
    sys.error(s"target table $root is held by another writer (lease owner " +
      s"$holder): concurrent writers would race the tmp→swap commit; " +
      s"stop the other writer or wait out the ${leaseTtlMs / 1000} s lease TTL")
  }

  /** Run one mutating commit under the exclusive writer lease. */
  private def withLease[A](f: => A): A = {
    acquireLease()
    try f finally Publish.release(leasePath, ownerId)
  }

  def exists: Boolean = Files.exists(pointer)

  /** True if version id `v` is already materialized — the idempotence
    * marker `writeVersion`/`mergeVersion` consult on replay. Callers that
    * validate batch content BEFORE merging (e.g. the SCD2 ordering guard)
    * must check this first: a replayed epoch legitimately fails
    * against-current-state checks because the current state already
    * includes that epoch's own writes. */
  def hasVersion(v: String): Boolean = Files.exists(rootPath.resolve(s"data_$v"))

  /** Re-commit an already-materialized version (exactly-once replay after
    * a crash between commit and checkpoint-offset write): repoints
    * `_current`; returns false like the merge paths' replay branch. */
  def recommit(v: String): Boolean = withLease {
    require(hasVersion(v), s"version $v not materialized under $root")
    repoint(s"data_$v")
    false
  }

  def currentVersion: Option[String] =
    if (exists) Some(Files.readString(pointer).trim) else None

  private def currentDir: Path =
    rootPath.resolve(currentVersion.getOrElse(sys.error(s"target table $root not initialized")))

  private def bucketExpr: Column =
    pmod(hash(bucketKeys.map(col): _*), lit(numBuckets))

  /** Logical table image (internal bucket column hidden). */
  def read(): DataFrame = {
    val df = spark.read.parquet(currentDir.toString)
    if (df.columns.contains(BucketCol)) df.drop(BucketCol) else df
  }

  /** Retained version ids, oldest first (commit order from `_history`;
    * gc keeps the newest 2, so this is the time-travel window). */
  def versions: Seq[String] =
    readMarker("history").map(_.split("\n").toSeq.filter(_.nonEmpty)).getOrElse(Nil)
      .map(_.stripPrefix("data_"))
      .filter(v => Files.isDirectory(rootPath.resolve(s"data_$v")))

  /** Time-travel read of a retained version ("AS OF" on the version
    * id): old images share untouched bucket files with newer ones by
    * hard link, so history costs O(changed buckets), not O(table). */
  def readAt(version: String): DataFrame = {
    val dir = rootPath.resolve(s"data_$version")
    require(Files.isDirectory(dir),
      s"version $version not retained (have: ${versions.mkString(", ")})")
    val df = spark.read.parquet(dir.toString)
    if (df.columns.contains(BucketCol)) df.drop(BucketCol) else df
  }

  /** Partition-pruned logical read of just the given buckets — the scan
    * only lists/reads `_bucket=K` directories for K in `buckets`. */
  def readBuckets(buckets: Seq[Int]): DataFrame = {
    require(bucketed, "readBuckets on an unbucketed table")
    spark.read.parquet(currentDir.toString)
      .filter(col(BucketCol).isin(buckets: _*))
      .drop(BucketCol)
  }

  /** Driver-side list of buckets containing any key of `keys` — at most
    * `numBuckets` ints, never row data. */
  def touchedBuckets(keys: DataFrame): Seq[Int] = {
    require(bucketed, "touchedBuckets on an unbucketed table")
    keys.select(bucketExpr.as(BucketCol)).distinct()
      .collect().map(_.getInt(0)).toSeq.sorted
  }

  /** Write a full new table image under version id `v` and atomically
    * repoint `_current`. Re-running the same version id is a no-op
    * (idempotence marker M2-style). Returns true if written. */
  def writeVersion(df: DataFrame, v: String): Boolean = withLease {
    checkBucketSpec()
    val landed = Publish.landDirOnce(rootPath.resolve(s"data_$v")) { tmp =>
      val writer =
        if (bucketed) df.withColumn(BucketCol, bucketExpr).write.partitionBy(BucketCol)
        else df.write
      writer.mode(SaveMode.Overwrite).parquet(tmp.toString)
      // crash point: version fully written under a hidden tmp, nothing
      // published — readers must keep serving the current version and a
      // retry must land cleanly beside the orphan (which gc then sweeps)
      graft.tools.Failpoints.hit("target.before-move")
    }
    repoint(s"data_$v")
    landed.isDefined
  }

  /** Partition-scoped merge commit: `merged` is the new content of the
    * TOUCHED buckets only; every other bucket is carried over from the
    * current version by hard link (byte-identical, no rewrite). */
  def mergeVersion(merged: DataFrame, touched: Seq[Int], v: String): Boolean = {
    if (!bucketed) return writeVersion(merged, v)
    withLease {
      checkBucketSpec()
      val landed = Publish.landDirOnce(rootPath.resolve(s"data_$v")) { tmp =>
        val prev = currentDir
        merged.withColumn(BucketCol, bucketExpr).write
          .partitionBy(BucketCol).mode(SaveMode.Overwrite).parquet(tmp.toString)
        val touchedSet = touched.map(k => s"$BucketCol=$k").toSet
        Publish.listDir(prev)
          .filter(p => Files.isDirectory(p) && p.getFileName.toString.startsWith(s"$BucketCol="))
          .filterNot(p => touchedSet.contains(p.getFileName.toString))
          .foreach { bucketDir =>
            val destBucket = tmp.resolve(bucketDir.getFileName.toString)
            Files.createDirectories(destBucket)
            Publish.listDir(bucketDir).filter(Files.isRegularFile(_)).foreach { f =>
              Publish.linkOrCopy(f, destBucket.resolve(f.getFileName.toString))
            }
          }
        // crash point: merged buckets written + carryover links laid, not
        // yet swapped — the same invariant as writeVersion's gap
        graft.tools.Failpoints.hit("target.before-move")
      }
      repoint(s"data_$v")
      landed.isDefined
    }
  }

  /** Data files per bucket in the current version — the compaction
    * trigger signal. Driver-side metadata only (≤ numBuckets entries). */
  def bucketFileCounts: Map[Int, Int] = {
    require(bucketed, "bucketFileCounts on an unbucketed table")
    Publish.listDir(currentDir)
      .filter(p => Files.isDirectory(p) && p.getFileName.toString.startsWith(s"$BucketCol="))
      .map { d =>
        val b = d.getFileName.toString.stripPrefix(s"$BucketCol=").toInt
        b -> Publish.listDir(d).count { f =>
          val n = f.getFileName.toString
          Files.isRegularFile(f) && !n.startsWith("_") && !n.startsWith(".")
        }
      }.toMap
  }

  /** Small-file compaction: rewrite every bucket holding more than
    * `maxFilesPerBucket` data files down to one file, carry every other
    * bucket over by hard link. A wide-parallelism write (or a long run
    * of streaming merges) leaves each touched bucket with one file per
    * producing task; at 100 TB that is the classic small-file death —
    * scans pay per-file open/footer cost, not per-byte. Runs through the
    * same versioned commit as a merge (atomic swap, idempotent on `v`,
    * time-travel retains the pre-compaction image). The repartition puts
    * each needy bucket in ONE task, so the rewrite emits exactly one
    * file per bucket. Returns the buckets rewritten. */
  def compact(v: String, maxFilesPerBucket: Int = 4): Seq[Int] = {
    require(bucketed, "compact on an unbucketed table")
    val needy = bucketFileCounts.filter(_._2 > maxFilesPerBucket).keys.toSeq.sorted
    if (needy.nonEmpty)
      mergeVersion(readBuckets(needy).repartition(needy.size, bucketExpr), needy, v)
    needy
  }

  /** Bytes in the current version's data files (snapshot/merge size
    * metrics, reference `pkg/metrics/metrics.go:14-79`). */
  def currentSizeBytes: Long = {
    if (!exists) return 0L
    Publish.walkFiles(currentDir).map(_._2).sum
  }

  /** Small stage markers beside the data (loadinfo / schema-version
    * analogs of the reference's storage markers, SURVEY §2.9 M7). */
  def writeMarker(name: String, value: String): Unit =
    Publish.replaceFile(rootPath.resolve(s"_$name"), value)

  def readMarker(name: String): Option[String] = {
    val p = rootPath.resolve(s"_$name")
    if (Files.exists(p)) Some(Files.readString(p).trim) else None
  }

  /** The bucket layout must never silently change under existing data —
    * a different key set or modulus would scatter rows across buckets. */
  private def checkBucketSpec(): Unit = {
    if (!bucketed) return
    val spec = s"$numBuckets:${bucketKeys.mkString(",")}"
    readMarker("bucket_spec") match {
      case Some(existing) if existing != spec =>
        sys.error(s"bucket spec mismatch for $root: table has '$existing', session wants '$spec'")
      case Some(_) => ()
      case None => writeMarker("bucket_spec", spec)
    }
  }

  private def repoint(dir: String): Unit = {
    // commit order is recorded explicitly (_history, newest last) so gc
    // never depends on filesystem mtimes — mtime ordering ties/races on
    // object stores and under clock skew, and a wrong order would
    // delete the version an in-flight reader still holds.
    val hist = readMarker("history").map(_.split("\n").toSeq).getOrElse(Nil)
    writeMarker("history", ((hist.filterNot(_ == dir) :+ dir).takeRight(8)).mkString("\n"))
    writeMarker("current", dir)
    gc(keep = 2)
  }

  /** Drop all but the newest `keep` data versions by COMMIT order (old
    * images are only needed for in-flight readers). Hard-linked files
    * stay valid in newer versions when an old version is deleted. Runs
    * under the writer lease, so any version tmp still on disk belongs
    * to a crashed attempt and is swept too. */
  private def gc(keep: Int): Unit = {
    val hist = readMarker("history").map(_.split("\n").toSeq).getOrElse(Nil)
    val keepSet = hist.takeRight(keep).toSet + currentVersion.getOrElse("")
    Publish.listDir(rootPath)
      .filter(p => Files.isDirectory(p) && p.getFileName.toString.startsWith("data_"))
      .filterNot(p => keepSet.contains(p.getFileName.toString))
      .foreach(Publish.deleteRecursively)
    Publish.tmpsOf(rootPath, "data_").foreach(Publish.deleteRecursively)
  }
}

object TargetTable {
  /** How long a writer lease blocks rival writers before its holder is
    * presumed dead and the lease stolen (mtime age). Long next to any
    * trigger interval, short next to an operator's response time. */
  val LeaseTtlMs: Long = 10L * 60 * 1000
}
