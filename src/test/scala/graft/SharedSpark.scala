package graft

import org.apache.spark.sql.SparkSession

/** One SparkSession for the whole test run (SURVEY §5.2), pinned at 4
  * cores whatever the host, so plan shapes and job counts do not vary. */
object SharedSpark {
  lazy val spark: SparkSession = Session.local(
    Map("spark.app.name" -> "graft-tests", Tables.EventsNanosConf -> "true"), cores = 4)

  val Sf0001 = "/root/testdata/sf0.001"
  val Sf001 = "/root/testdata/sf0.01"
}
