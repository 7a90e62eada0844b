package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ops.IndexStore
import SharedSpark.withTempDir

/** Lifecycle invariants of the shared persisted-index store — the
  * machinery under every `*_probe` regime. Filesystem-only, except the
  * rebuild test, which builds a real index with the shared session.
  */
class IndexStoreSpec extends AnyFunSuite {

  test("buildOnce writes via staging, commits atomically, and is idempotent") {
    withTempDir("ixstore") { r =>
      val root = new java.io.File(r)
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
  }

  test("a write that throws leaves no staging dir and no index, and the error propagates") {
    withTempDir("ixstore") { r =>
      val root = new java.io.File(r)
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
  }

  test("losing a concurrent commit discards the staging copy and keeps the winner") {
    withTempDir("ixstore") { r =>
      val root = new java.io.File(r)
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
  }

  test("a commit colliding with a dir that lacks the marker propagates the error") {
    withTempDir("ixstore") { r =>
      val root = new java.io.File(r)
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
  }

  test("source fingerprint tracks file content changes (name+size+mtime)") {
    withTempDir("ixstore") { r =>
      val root = new java.io.File(r)
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

  test("a rebuild after the source changes deletes the superseded index of that scale factor") {
    withTempDir("ixprune") { sf =>
      val spark = SharedSpark.spark
      import spark.implicits._
      val docs = Tables.path(sf, "documents")
      // the family lives inside the temp dir, which takes it away after
      val family = s"${new java.io.File(sf).getName}/graft_prune_v1"
      val index = IndexStore.Index(family, "documents", "part")(_.select("doc_id"))
      Seq(1L, 2L).toDF("doc_id").write.parquet(docs)
      val first = new java.io.File(index.build(spark, sf))
      val familyDir = first.getParentFile
      // a commit must leave another scale factor's index and a staging dir alone
      val keep = Seq("_other_sf_0abc", s"${first.getName}.tmp.999")
      keep.foreach(n => assert(new java.io.File(familyDir, n).mkdirs()))
      Seq(1L, 2L, 3L).toDF("doc_id").write.mode("overwrite").parquet(docs)
      val second = new java.io.File(index.build(spark, sf))
      assert(second.getName !== first.getName)
      val tag = first.getName.take(first.getName.lastIndexOf('_') + 1)
      val left = familyDir.listFiles().map(_.getName).toSeq
      assert(left.filter(n => n.startsWith(tag) && !n.contains(".tmp.")) === Seq(second.getName))
      assert(left.sorted === (keep :+ second.getName).sorted)
      assert(index.read(spark, sf).count() === 3)
    }
  }
}
