package graft

import org.apache.spark.sql.SparkSession

/** One SparkSession for the whole test run (SURVEY §5.2), pinned at 4
  * cores whatever the host, so plan shapes and job counts do not vary. */
object SharedSpark {
  lazy val spark: SparkSession = Session.local(
    Map("spark.app.name" -> "graft-tests", Tables.EventsNanosConf -> "true"), cores = 4)

  val Sf0001 = "/root/testdata/sf0.001"
  val Sf001 = "/root/testdata/sf0.01"

  /** Runs `f` on a fresh directory under `java.io.tmpdir` named `prefix…`
    * and deletes the directory, with everything written into it, after. */
  def withTempDir[A](prefix: String)(f: String => A): A = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    try f(dir.toString)
    finally {
      val walk = java.nio.file.Files.walk(dir)
      try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(p => java.nio.file.Files.delete(p))
      finally walk.close()
    }
  }
}
