package graft

import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime

import org.scalatest.funsuite.AnyFunSuite

import graft.snapshot.TargetTable
import graft.storage.Publish

/** The storage module every exactly-once land goes through: each
  * primitive's normal path, the lost-tie and already-published paths,
  * claim ownership and expiry, and the crash shape (an exception inside
  * the write closure) that every failpoint in the engine relies on. */
class PublishSpec extends AnyFunSuite {

  lazy val spark = GraftSession.build(2, "publish-spec")

  private def newDir(): Path = Files.createTempDirectory("publish-spec")

  private def names(dir: Path): Set[String] =
    Publish.listDir(dir).map(_.getFileName.toString).toSet

  private def tmps(dir: Path): Seq[Path] = Publish.tmpsOf(dir, "")

  test("tmp names are hidden, attempt-unique siblings of the destination") {
    val dest = newDir().resolve("epoch=3")
    val (a, b) = (Publish.tmpFor(dest), Publish.tmpFor(dest))
    assert(a != b, "two attempts must not share a tmp")
    Seq(a, b).foreach { t =>
      assert(t.getParent == dest.getParent)
      assert(t.getFileName.toString.startsWith(".epoch=3.") && t.getFileName.toString.endsWith(".tmp"))
    }
  }

  test("landDirOnce lands a directory and returns the closure's value") {
    val dir = newDir()
    val dest = dir.resolve("epoch=0")
    val got = Publish.landDirOnce(dest) { tmp =>
      Files.createDirectories(tmp)
      Files.writeString(tmp.resolve("a"), "winner")
      42
    }
    assert(got.contains(42))
    assert(Files.readString(dest.resolve("a")) == "winner")
    assert(tmps(dir).isEmpty)
  }

  test("a second land of the same dest returns None, keeps the winner's files and leaves no tmp") {
    val dir = newDir()
    val dest = dir.resolve("epoch=0")
    def land(tag: String): Option[String] = Publish.landDirOnce(dest) { tmp =>
      Files.createDirectories(tmp)
      Files.writeString(tmp.resolve("a"), tag)
      tag
    }
    assert(land("first").contains("first"))
    // already published: the closure never runs
    assert(Publish.landDirOnce(dest)(_ => fail("wrote over a published dest")).isEmpty)
    // lost tie: a rival lands while this attempt writes; the rename onto
    // the rival's non-empty dir fails and the loser backs off
    val tie = newDir().resolve("epoch=1")
    val lost = Publish.landDirOnce(tie) { tmp =>
      Files.createDirectories(tmp)
      Files.writeString(tmp.resolve("a"), "loser")
      assert(Publish.landDirOnce(tie) { t =>
        Files.createDirectories(t)
        Files.writeString(t.resolve("a"), "winner")
      }.isDefined)
    }
    assert(lost.isEmpty, "the loser of a tie must report it did not land")
    assert(Files.readString(tie.resolve("a")) == "winner", "the loser clobbered the winner")
    assert(Files.readString(dest.resolve("a")) == "first")
    assert(tmps(dir).isEmpty && tmps(tie.getParent).isEmpty, "a losing attempt left its tmp")
  }

  test("an exception inside the write closure leaves dest absent and the tmp invisible to readers") {
    import spark.implicits._
    val dir = newDir()
    Publish.landDirOnce(dir.resolve("epoch=0")) { tmp =>
      Seq(1L, 2L).toDF("v").write.parquet(tmp.toString)
    }
    val crash = intercept[IllegalStateException] {
      Publish.landDirOnce(dir.resolve("epoch=1")) { tmp =>
        Seq(3L, 4L, 5L).toDF("v").write.parquet(tmp.toString)
        throw new IllegalStateException("crash after the tmp write")
      }
    }
    assert(crash.getMessage.contains("crash"))
    assert(!Files.exists(dir.resolve("epoch=1")), "a crashed attempt published its dest")
    assert(tmps(dir).size == 1, "the crash must leave its (hidden) tmp behind")
    val read = spark.read.parquet(dir.toString)
    assert(read.as[(Long, Int)].collect().toSet == Set((1L, 0), (2L, 0)),
      "a crashed attempt's tmp leaked into a read of the parent")
  }

  test("replaceDir swaps content in; `unless` abandons the tmp and keeps dest") {
    val dir = newDir()
    val dest = dir.resolve("out")
    def put(tag: String, unless: Boolean = false) =
      Publish.replaceDir(dest, unless) { tmp =>
        Files.createDirectories(tmp)
        Files.writeString(tmp.resolve(tag), tag)
        tag
      }
    assert(put("one").contains("one"))
    assert(put("two").contains("two"))
    assert(names(dest) == Set("two"), "the old content must be gone")
    assert(put("three", unless = true).isEmpty)
    assert(names(dest) == Set("two"), "an abandoned replace touched dest")
    assert(tmps(dir).isEmpty)
  }

  test("replaceFile replaces a small file whole and leaves no tmp") {
    val dir = newDir()
    val dest = dir.resolve("sub").resolve("_current")
    Publish.replaceFile(dest, "data_v1")
    Publish.replaceFile(dest, "data_v2")
    assert(Files.readString(dest) == "data_v2")
    assert(tmps(dest.getParent).isEmpty)
  }

  test("createFileOnce creates a file once; a second create returns false and keeps the winner's bytes") {
    val dir = newDir()
    val dest = dir.resolve("_committed").resolve("7.json")
    assert(Publish.createFileOnce(dest, """{"epoch": 7, "total_rows": 10}"""))
    assert(!Publish.createFileOnce(dest, """{"epoch": 7, "total_rows": 99}"""))
    assert(Files.readString(dest) == """{"epoch": 7, "total_rows": 10}""")
    assert(tmps(dest.getParent).isEmpty)
  }

  test("claims: a live claim blocks, a stale claim is stolen, only the owner releases") {
    val dir = newDir()
    val claim = dir.resolve("_lease")
    assert(Publish.claim(claim, "alice", ttlMs = 60000L))
    assert(Publish.claimOwner(claim).contains("alice"))
    assert(!Publish.claim(claim, "bob", ttlMs = 60000L), "a live claim must block a rival")
    Publish.release(claim, "bob")
    assert(Publish.claimOwner(claim).contains("alice"), "a non-owner's release must be a no-op")
    // alice dies holding it: once older than the TTL, bob steals it
    Files.setLastModifiedTime(claim, FileTime.fromMillis(System.currentTimeMillis() - 120000L))
    assert(Publish.claim(claim, "bob", ttlMs = 60000L), "a stale claim must be stolen")
    assert(Publish.claimOwner(claim).contains("bob"))
    Publish.release(claim, "alice")
    assert(Files.exists(claim), "the dead owner's late release must not drop the stealer's claim")
    Publish.release(claim, "bob")
    assert(!Files.exists(claim))
    assert(tmps(dir).isEmpty)
  }

  test("walkFiles lists regular files with sizes and deleteRecursively removes a tree") {
    val dir = newDir()
    Files.createDirectories(dir.resolve("a/b"))
    Files.writeString(dir.resolve("a/x"), "12345")
    Files.writeString(dir.resolve("a/b/y"), "12")
    val got = Publish.walkFiles(dir).map { case (p, n) => dir.relativize(p).toString -> n }.toSet
    assert(got == Set("a/x" -> 5L, "a/b/y" -> 2L))
    assert(Publish.walkFiles(dir.resolve("missing")).isEmpty)
    Publish.deleteRecursively(dir.resolve("a"))
    assert(names(dir).isEmpty)
    Publish.deleteRecursively(dir.resolve("a")) // idempotent
  }

  test("a crashed TargetTable version write leaves a hidden tmp that the next commit sweeps") {
    import spark.implicits._
    import graft.tools.Failpoints
    val root = newDir()
    val t = new TargetTable(spark, root.toString)
    t.writeVersion(Seq((1L, "a")).toDF("k", "v"), "v0")
    Failpoints.arm("target.before-move")
    intercept[Failpoints.InjectedCrash](t.writeVersion(Seq((2L, "b")).toDF("k", "v"), "v1"))
    assert(Publish.tmpsOf(root, "data_v1").size == 1)
    assert(t.writeVersion(Seq((2L, "b")).toDF("k", "v"), "v1"))
    assert(Publish.tmpsOf(root, "data_").isEmpty, "the crashed attempt's tmp lingered past gc")
    assert(t.read().as[(Long, String)].collect().toSeq == Seq((2L, "b")))
  }
}
