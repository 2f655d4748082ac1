package graft.storage

import java.io.IOException
import java.nio.file.{FileAlreadyExistsException, FileSystemException, FileVisitResult, Files,
  NoSuchFileException, Path, SimpleFileVisitor, StandardCopyOption}
import java.nio.file.attribute.BasicFileAttributes
import scala.jdk.CollectionConverters._
import scala.util.Using

/** The one commit seam of the engine: every exactly-once land, pointer
  * swap, marker publish, claim and recursive delete goes through here.
  * The replication loop is exactly-once only because each batch's
  * output appears in ONE atomic step — this object is that step.
  *
  * Protocol: content is written under [[tmpFor]] — a hidden (leading
  * `.`), attempt-unique sibling of its destination, so Spark and
  * Hadoop readers of the parent skip it and two attempts never share
  * one — then published by a single rename or link. A crash at any
  * point before the publish leaves only a hidden tmp behind.
  *
  * Host semantics relied on (POSIX `rename(2)`/`link(2)` on a local
  * filesystem, checked on ext4 under JDK 17):
  *   - renaming a directory onto a NON-EMPTY directory fails
  *     (`Directory not empty`), so a directory lands at most once;
  *   - renaming a file onto an existing file REPLACES it atomically, so
  *     small files (markers, pointers) swap in one step;
  *   - `link(2)` fails with `FileAlreadyExistsException` when the name
  *     exists and leaves the winner's bytes intact, so a file can be
  *     created exactly once with its full content.
  *
  * An object-store backend has none of these: it must substitute a
  * conditional put (if-none-match) for [[createFileOnce]] and
  * [[claim]], a manifest or pointer object for the directory renames in
  * [[landDirOnce]]/[[replaceDir]], and an overwriting put for
  * [[replaceFile]]. Callers see only this object, so that substitution
  * is local to it.
  */
object Publish {

  /** The one tmp naming rule: `.{dest name}.{attempt id}.tmp` beside
    * `dest`. */
  def tmpFor(dest: Path): Path =
    dest.resolveSibling(s".${dest.getFileName}.${java.util.UUID.randomUUID().toString.take(8)}.tmp")

  /** Hidden tmp entries under `dir` whose destination name starts with
    * `destPrefix` — what a crashed attempt left behind. */
  def tmpsOf(dir: Path, destPrefix: String): Seq[Path] =
    if (!Files.isDirectory(dir)) Nil
    else listDir(dir).filter { p =>
      val n = p.getFileName.toString
      n.startsWith(s".$destPrefix") && n.endsWith(".tmp")
    }

  /** Land directory `dest` once: `write(tmp)` fills a fresh tmp, which
    * is renamed into place. Returns `write`'s result, or None when
    * `dest` already exists (nothing is written) or a rival attempt
    * landed it while `write` ran (the tie is detected by `dest`
    * existing after the failed rename; the loser's tmp is deleted and
    * the winner's files are kept). An exception from `write` leaves
    * `dest` absent and the tmp hidden. */
  def landDirOnce[A](dest: Path)(write: Path => A): Option[A] = {
    if (Files.exists(dest)) return None
    Files.createDirectories(dest.toAbsolutePath.getParent)
    val tmp = tmpFor(dest)
    val out = write(tmp)
    try {
      Files.move(tmp, dest, StandardCopyOption.ATOMIC_MOVE)
      Some(out)
    } catch {
      case _: FileSystemException if Files.exists(dest) =>
        deleteRecursively(tmp)
        None
    }
  }

  /** Replace directory `dest` with what `write(tmp)` produced: delete
    * the old content, rename the tmp into place. The delete and the
    * rename are two steps, so callers gate visibility on a marker or
    * pointer, never on `dest` alone. `unless` is checked after `write`:
    * when it holds (a rival already committed) the tmp is deleted,
    * `dest` is left alone and the result is None. */
  def replaceDir[A](dest: Path, unless: => Boolean = false)(write: Path => A): Option[A] = {
    Files.createDirectories(dest.toAbsolutePath.getParent)
    val tmp = tmpFor(dest)
    val out = write(tmp)
    if (unless) {
      deleteRecursively(tmp)
      return None
    }
    deleteRecursively(dest)
    Files.move(tmp, dest, StandardCopyOption.ATOMIC_MOVE)
    Some(out)
  }

  /** Atomically replace small file `dest` (a marker or pointer) with
    * `content`: readers see the old or the new bytes, never a torn
    * write. */
  def replaceFile(dest: Path, content: String): Unit = {
    Files.createDirectories(dest.toAbsolutePath.getParent)
    val tmp = tmpFor(dest)
    Files.writeString(tmp, content)
    Files.move(tmp, dest, StandardCopyOption.ATOMIC_MOVE)
    ()
  }

  /** Create `dest` with `content` only if it does not exist; true if
    * this call created it. The link publishes fully-written bytes, and
    * a loser leaves the winner's bytes untouched. */
  def createFileOnce(dest: Path, content: String): Boolean = {
    Files.createDirectories(dest.toAbsolutePath.getParent)
    val tmp = tmpFor(dest)
    Files.writeString(tmp, content)
    try { Files.createLink(dest, tmp); true }
    catch { case _: FileAlreadyExistsException => false }
    finally { Files.deleteIfExists(tmp); () }
  }

  /** Hard-link `src` as `dst`, copying where the filesystem cannot
    * link — the carry-over of unchanged files into a new version. */
  def linkOrCopy(src: Path, dst: Path): Unit =
    try { Files.createLink(dst, src); () }
    catch {
      case _: UnsupportedOperationException | _: FileSystemException =>
        Files.copy(src, dst, StandardCopyOption.COPY_ATTRIBUTES)
        ()
    }

  // --- claims ------------------------------------------------------------
  // A claim is a file created exclusively ([[createFileOnce]]) holding
  // `{owner} {millis}`. A holder that died without releasing cannot
  // block forever: a claim whose mtime is older than the TTL is
  // deleted and re-claimed once. The steal is two steps (delete, then
  // exclusive create), so two processes stealing the SAME stale claim
  // within one delete/create of each other can both succeed; a live
  // holder is never stolen from, only one silent for a whole TTL.

  /** Claim `path` for `owner`; false when a live rival holds it. */
  def claim(path: Path, owner: String, ttlMs: Long): Boolean = {
    def tryCreate() = createFileOnce(path, s"$owner ${System.currentTimeMillis()}")
    if (tryCreate()) return true
    val stale =
      try System.currentTimeMillis() - Files.getLastModifiedTime(path).toMillis > ttlMs
      catch { case _: NoSuchFileException => true } // the holder just released
    if (!stale) return false
    Files.deleteIfExists(path)
    tryCreate()
  }

  /** The owner named in claim `path`, if it exists and names one. */
  def claimOwner(path: Path): Option[String] =
    try Files.readString(path).trim.split(" ").headOption.filter(_.nonEmpty)
    catch { case _: IOException => None }

  /** Release `path` if `owner` holds it; a no-op for anyone else. */
  def release(path: Path, owner: String): Unit =
    if (claimOwner(path).contains(owner)) { Files.deleteIfExists(path); () }

  // --- listing and deletion ---------------------------------------------

  /** Materialized, stream-closed listing (a leaked `Files.list` stream
    * per micro-batch exhausts file descriptors in a long-running job). */
  def listDir(p: Path): Seq[Path] =
    Using.resource(Files.list(p))(_.iterator().asScala.toList)

  def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p)) listDir(p).foreach(deleteRecursively)
    Files.deleteIfExists(p)
    ()
  }

  /** Every regular file under `root` with its size, taken from the
    * walk's own attributes. Entries that vanish mid-walk — a publisher's
    * tmp renamed away, a retention delete — are skipped, not fatal:
    * a long-running trigger walks trees other processes write. */
  def walkFiles(root: Path): Seq[(Path, Long)] = {
    val out = Seq.newBuilder[(Path, Long)]
    if (Files.isDirectory(root))
      Files.walkFileTree(root, new SimpleFileVisitor[Path] {
        override def visitFile(f: Path, attrs: BasicFileAttributes): FileVisitResult = {
          if (attrs.isRegularFile) out += f -> attrs.size
          FileVisitResult.CONTINUE
        }
        override def visitFileFailed(f: Path, e: IOException): FileVisitResult =
          skipVanished(e)
        override def postVisitDirectory(d: Path, e: IOException): FileVisitResult =
          if (e == null) FileVisitResult.CONTINUE else skipVanished(e)
      })
    out.result()
  }

  private def skipVanished(e: IOException): FileVisitResult = e match {
    case _: NoSuchFileException => FileVisitResult.CONTINUE
    case _ => throw e
  }
}
