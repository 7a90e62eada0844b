package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.Tables

/** Run-over-run change detection (SURVEY §0.3 steps 6–7 — the reference's
  * core semantic [R:change_list.py ~med]): compare two content snapshots
  * by key + content hash and classify each key as
  * added / removed / changed / unchanged.
  *
  * The two "runs" are deterministic slices of the documents table (there
  * is only one snapshot on disk): run A = doc_id % 3 != 0, run B =
  * doc_id % 2 != 0, and run B's content is synthetically "edited" for
  * doc_id % 5 == 0 so every status class is populated. The operator
  * itself — full outer join on key, hash compare — is exactly the
  * production shape: one shuffle on the key, O(1) per-key state.
  */
object ChangeDetect {

  val changeDetectSql: String =
    """WITH prev AS (
      |  SELECT doc_id, md5(text) AS prev_hash FROM documents WHERE doc_id % 3 <> 0
      |), curr AS (
      |  SELECT doc_id,
      |    md5(CASE WHEN doc_id % 5 = 0 THEN text || '#v2' ELSE text END) AS curr_hash
      |  FROM documents WHERE doc_id % 2 <> 0
      |)
      |SELECT COALESCE(prev.doc_id, curr.doc_id) AS doc_id,
      |  CASE WHEN prev_hash IS NULL THEN 'added'
      |       WHEN curr_hash IS NULL THEN 'removed'
      |       WHEN prev_hash <> curr_hash THEN 'changed'
      |       ELSE 'unchanged' END AS status
      |FROM prev FULL JOIN curr ON prev.doc_id = curr.doc_id
      |ORDER BY doc_id""".stripMargin

  /** Per-run summary — the reference's change-list report (counts by
    * status) [R:change_list.py ~med].
    */
  val changeSummarySql: String =
    s"""SELECT status, COUNT(*) AS n FROM (${changeDetectSql.replace("ORDER BY doc_id", "")}) GROUP BY status ORDER BY status"""

  val registry: Seq[(String, (SparkSession, String) => DataFrame, String)] = Seq(
    Tables.sqlFirst("change_detect", changeDetectSql),
    Tables.sqlFirst("change_summary", changeSummarySql)
  )
}
