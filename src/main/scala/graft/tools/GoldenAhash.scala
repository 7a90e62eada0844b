// golden-table generator — not part of the library surface
package graft.tools

/** Regenerates the committed golden aHash tables under
  * src/test/resources/golden/ (ahash_sf{0.001,0.01,0.1}.csv) that
  * MultimodalSpec pins exact equality against. Run only to re-seed after a
  * DELIBERATE hash change; an unexplained diff against the committed files
  * is the drift signal the golden test exists to catch (VERDICT r9 #1:
  * `image_ahash` is the one registered query the driver's DuckDB oracle
  * cannot check — no SQL engine decodes PNG pixels — so the output values
  * are pinned here instead).
  */
object GoldenAhash {
  def main(args: Array[String]): Unit = {
    val spark = graft.Session.local(logLevel = "ERROR")
    val outDir = new java.io.File("src/test/resources/golden")
    outDir.mkdirs()
    Seq("sf0.001", "sf0.01", "sf0.1").foreach { sf =>
      val rows = graft.multimodal.Multimodal
        .imageAhash(spark, graft.multimodal.Multimodal.syntheticMedia(spark, s"/root/testdata/$sf", Some("image")))
        .orderBy("doc_id")
        .collect()
      val f = new java.io.File(outDir, s"ahash_${sf}.csv")
      val w = new java.io.PrintWriter(f)
      try {
        w.println("doc_id,ahash")
        rows.foreach(r => w.println(s"${r.getLong(0)},${r.getLong(1)}"))
      } finally w.close()
      println(s"$sf: ${rows.length} rows -> $f")
    }
    spark.stop()
  }
}
