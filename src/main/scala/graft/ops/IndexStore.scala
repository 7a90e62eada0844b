package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Persisted-index lifecycle shared by every `*_probe` regime. Each index
  * is ONE [[IndexStore.Index]] declaration — family tag, source table, part
  * name and a deterministic recipe over that table — and this object owns
  * the rest: the index is written ONCE per (scale-factor dir, source-data
  * fingerprint) to `<java.io.tmpdir>/<family>/<sftag>_<fp>/<part>/`, is
  * complete once `<part>/_SUCCESS` exists, and is read back through
  * [[graft.Tables.parquet]], whose schema cache is safe here because a
  * committed directory never changes.
  *
  * Two invariants carry the whole design:
  *   - The directory NAME embeds a fingerprint of the exact source bytes
  *     (name + size + mtime of every data file), and the recipe reads that
  *     same table, so regenerating testdata in place can never serve a
  *     stale index — the new fingerprint simply misses and the next probe
  *     rebuilds.
  *   - Builds stage into `dir.tmp.<pid>` and ATOMIC-rename into place, so
  *     a concurrent JVM building the same (fingerprinted, hence identical
  *     — recipes are deterministic) index either wins the rename or finds
  *     the winner's complete directory and discards its own staging copy.
  *     No reader ever sees a half-written index, and a failed build
  *     leaves no staging copy behind.
  * A commit deletes the family's directories for the same scale-factor
  * tag and another fingerprint: they index source data that is gone.
  */
object IndexStore {

  /** One persisted index. `family` is a versioned name like
    * "graft_ivf_v5" — bump the version when the index FORMAT or recipe
    * changes. `recipe` receives the loaded `source` table (the one the
    * fingerprint keys on) and returns the frame persisted as `part`.
    */
  final case class Index(family: String, source: String, part: String)(
      recipe: DataFrame => DataFrame) {

    /** Build-if-absent; returns the committed index directory. */
    def build(spark: SparkSession, sf: String): String =
      buildOnce(indexDir(family, sf, Tables.path(sf, source)), s"$part/_SUCCESS") { staging =>
        recipe(Tables.table(spark, sf, source))
          .write.mode("overwrite").parquet(s"$staging/$part")
      }

    /** The committed part, built first if absent. */
    def read(spark: SparkSession, sf: String): DataFrame =
      Tables.parquet(spark, s"${build(spark, sf)}/$part")
  }

  /** Fingerprint of the source data under `root` (a parquet file or
    * directory of parts): name + length + mtime of every non-hidden file,
    * in sorted order, murmur3-hashed to hex.
    */
  def sourceFingerprint(root: String): String = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.sortBy(_.getName).flatMap(walk) else Seq(f)
    val sig = walk(new java.io.File(root))
      .filterNot(_.getName.startsWith("_"))
      .map(p => s"${p.getName}:${p.length}:${p.lastModified}")
      .mkString("|")
    java.lang.Integer.toHexString(scala.util.hashing.MurmurHash3.stringHash(sig))
  }

  /** Index directory for `family`, keyed by scale-factor tag + source
    * fingerprint.
    */
  private def indexDir(family: String, sf: String, sourcePath: String): String = {
    val tag = sf.replaceAll("[^A-Za-z0-9.]+", "_")
    s"${sys.props("java.io.tmpdir")}/$family/${tag}_${sourceFingerprint(sourcePath)}"
  }

  /** Build-if-absent: if `dir/marker` exists the index is complete and is
    * returned as-is (the dir name embeds the source fingerprint, so an
    * existing index IS the one this build would produce); otherwise
    * `write` populates a staging dir which is then atomically committed,
    * and the indexes `dir` supersedes are deleted ([[deleteSuperseded]]).
    * A `write` that throws has its staging dir deleted, then the error
    * propagates.
    */
  private[graft] def buildOnce(dir: String, marker: String)(write: String => Unit): String = {
    if (new java.io.File(s"$dir/$marker").exists()) return dir
    val staging = java.nio.file.Paths.get(
      s"$dir.tmp.${java.lang.ProcessHandle.current().pid()}")
    try write(staging.toString)
    catch { case e: Throwable => deleteTree(staging); throw e }
    commitAtomically(staging, dir, marker)
    deleteSuperseded(java.nio.file.Paths.get(dir))
    dir
  }

  /** Deletes the siblings of a committed `<sftag>_<fp>` index directory
    * that are named `<sftag>_<other fp>`: the same family and scale factor,
    * built from source data that no longer exists. Other tags, staging
    * dirs (`….tmp.<pid>`) and a `dir` not named `<sftag>_<fp>` are left
    * alone. */
  private def deleteSuperseded(dir: java.nio.file.Path): Unit = {
    val name = dir.getFileName.toString
    val prefix = name.take(name.lastIndexOf('_') + 1)
    val siblings = Option(dir.getParent.toFile.listFiles()).toSeq.flatten
    if (prefix.nonEmpty)
      siblings.map(_.getName)
        .filter(n => n != name && n.startsWith(prefix) && n.drop(prefix.length).matches("[0-9a-f]+"))
        .foreach(n => deleteTree(dir.resolveSibling(n)))
  }

  /** Atomic-rename `staging` into place as `dir`. Linux rename(2) onto an
    * existing non-empty dir surfaces as a GENERIC FileSystemException
    * (ENOTEMPTY), not the typed DirectoryNotEmptyException — catch the
    * superclass, then verify the winner's `marker` file really exists
    * before discarding our staging copy.
    */
  private[graft] def commitAtomically(
      staging: java.nio.file.Path, dir: String, marker: String): Unit = {
    try
      java.nio.file.Files.move(staging, java.nio.file.Paths.get(dir),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    catch {
      case e: java.nio.file.FileSystemException =>
        if (!new java.io.File(s"$dir/$marker").exists()) throw e
        deleteTree(staging)
    }
  }

  /** Deletes `root` and everything under it, if it exists. */
  private def deleteTree(root: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(root)) {
      val walk = java.nio.file.Files.walk(root)
      try
        walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
          .forEach(p => java.nio.file.Files.delete(p))
      finally walk.close()
    }
}
