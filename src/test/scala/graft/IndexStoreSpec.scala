package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ops.IndexStore

/** Lifecycle invariants of the shared persisted-index store — the
  * machinery under every `*_probe` regime. Filesystem-only: no Spark.
  */
class IndexStoreSpec extends AnyFunSuite {

  private def tmpRoot(): java.io.File = {
    val d = java.nio.file.Files.createTempDirectory("ixstore").toFile
    d.deleteOnExit()
    d
  }

  test("buildOnce writes via staging, commits atomically, and is idempotent") {
    val root = tmpRoot()
    val dir = s"$root/idx"
    var builds = 0
    def build(): String = IndexStore.buildOnce(dir, "part/_SUCCESS") { staging =>
      builds += 1
      val p = new java.io.File(s"$staging/part")
      assert(p.mkdirs())
      java.nio.file.Files.writeString(p.toPath.resolve("_SUCCESS"), "")
      java.nio.file.Files.writeString(p.toPath.resolve("data"), "payload")
    }
    assert(build() === dir && builds === 1)
    assert(new java.io.File(s"$dir/part/data").exists())
    // second call finds the marker and never invokes the writer
    assert(build() === dir && builds === 1)
    // no staging remnant
    assert(!root.listFiles().exists(_.getName.contains(".tmp.")))
  }

  test("a write that throws leaves no staging dir and no index, and the error propagates") {
    val root = tmpRoot()
    val dir = s"$root/idx"
    val e = intercept[IllegalStateException] {
      IndexStore.buildOnce(dir, "part/_SUCCESS") { staging =>
        // a half-written part, then the recipe fails
        val p = new java.io.File(s"$staging/part")
        assert(p.mkdirs())
        java.nio.file.Files.writeString(p.toPath.resolve("data-0"), "partial")
        throw new IllegalStateException("recipe failed")
      }
    }
    assert(e.getMessage === "recipe failed")
    assert(root.listFiles().isEmpty, root.listFiles().map(_.getName).toSeq)
  }

  test("losing a concurrent commit discards the staging copy and keeps the winner") {
    val root = tmpRoot()
    val dir = s"$root/idx"
    // winner's complete index is already in place
    val w = new java.io.File(s"$dir/part")
    assert(w.mkdirs())
    java.nio.file.Files.writeString(w.toPath.resolve("_SUCCESS"), "")
    java.nio.file.Files.writeString(w.toPath.resolve("data"), "winner")
    // loser staged its own copy and tries to commit into the same dir
    val staging = java.nio.file.Paths.get(s"$dir.tmp.999")
    val l = new java.io.File(s"$staging/part")
    assert(l.mkdirs())
    java.nio.file.Files.writeString(l.toPath.resolve("_SUCCESS"), "")
    java.nio.file.Files.writeString(l.toPath.resolve("data"), "loser")
    IndexStore.commitAtomically(staging, dir, "part/_SUCCESS")
    // winner untouched, loser's staging fully deleted
    assert(java.nio.file.Files.readString(w.toPath.resolve("data")) === "winner")
    assert(!staging.toFile.exists())
  }

  test("a commit colliding with a dir that lacks the marker propagates the error") {
    val root = tmpRoot()
    val dir = s"$root/idx"
    // something incomplete (no marker) squats at the target path
    assert(new java.io.File(s"$dir/part").mkdirs())
    val staging = java.nio.file.Paths.get(s"$dir.tmp.1000")
    assert(new java.io.File(s"$staging/part").mkdirs())
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$staging/part/_SUCCESS"), "")
    intercept[java.nio.file.FileSystemException] {
      IndexStore.commitAtomically(staging, dir, "part/_SUCCESS")
    }
  }

  test("source fingerprint tracks file content changes (name+size+mtime)") {
    val root = tmpRoot()
    val data = new java.io.File(root, "data")
    assert(data.mkdirs())
    val f = new java.io.File(data, "part-0.parquet")
    java.nio.file.Files.writeString(f.toPath, "aaaa")
    val fp1 = IndexStore.sourceFingerprint(data.toString)
    assert(fp1 === IndexStore.sourceFingerprint(data.toString)) // stable
    java.nio.file.Files.writeString(f.toPath, "bbbbbbbb")       // size change
    assert(IndexStore.sourceFingerprint(data.toString) !== fp1)
    // hidden markers don't contribute
    val fp2 = IndexStore.sourceFingerprint(data.toString)
    java.nio.file.Files.writeString(data.toPath.resolve("_SUCCESS"), "")
    assert(IndexStore.sourceFingerprint(data.toString) === fp2)
  }
}
