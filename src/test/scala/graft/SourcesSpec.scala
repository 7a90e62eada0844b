package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.Sources
import SharedSpark._

/** SURVEY §2.A rows exercised on generated fixtures (no CSV/JSON ships in
  * /root/testdata).
  */
class SourcesSpec extends AnyFunSuite {

  test("A2: CSV source-table ingest with explicit schema") {
    withTempDir("graft-csv") { dir =>
      Files.writeString(
        java.nio.file.Paths.get(s"$dir/sources.csv"),
        """state,page,url,active
          |ca,main,https://example.org/ca,true
          |ny,main,https://example.org/ny,true
          |wa,data,https://example.org/wa/data,false
          |""".stripMargin)
      val df = Sources.readCsv(spark, s"$dir/sources.csv", Sources.sourceTableSchema)
      // file sources force nullable=true on read; compare names and types
      assert(df.schema.map(f => (f.name, f.dataType)) ===
        Sources.sourceTableSchema.map(f => (f.name, f.dataType)))
      assert(df.count() === 3)
      assert(df.where(col("active") === false).select("state").head().getString(0) === "wa")
    }
  }

  test("A3: JSON-lines ingest with explicit schema") {
    withTempDir("graft-json") { dir =>
      Files.writeString(
        java.nio.file.Paths.get(s"$dir/sources.json"),
        """{"state":"ca","page":"main","url":"https://example.org/ca","active":true}
          |{"state":"tx","page":"main","url":"https://example.org/tx","active":null}
          |""".stripMargin)
      val df = Sources.readJson(spark, s"$dir/sources.json", Sources.sourceTableSchema)
      assert(df.count() === 2)
      assert(df.where(col("active").isNull).count() === 1)
    }
  }

  test("A4: raw text and binaryFile ingest") {
    withTempDir("graft-raw") { dir =>
      Files.writeString(
        java.nio.file.Paths.get(s"$dir/page.html"),
        "<html>\n<body>covid data</body>\n</html>")
      val text = Sources.readText(spark, s"$dir/page.html")
      assert(text.count() === 3)
      val bin = Sources.readBinary(spark, s"$dir/page.html")
      val row = bin.select("length", "content").head()
      assert(row.getLong(0) === row.getAs[Array[Byte]](1).length.toLong)
    }
  }

  test("A5+: ORC / CSV / JSON sinks round-trip the source table") {
    withTempDir("graft-sinks") { dir =>
      import org.apache.spark.sql.Row
      val df = spark.createDataFrame(
        java.util.Arrays.asList(
          Row("ca", "main", "https://example.org/ca", java.lang.Boolean.TRUE),
          Row("ny", "data", "https://example.org/ny/d", java.lang.Boolean.FALSE)),
        Sources.sourceTableSchema)
      Sources.writeOrc(df, s"$dir/orc")
      Sources.writeCsvReport(df, s"$dir/csv")
      Sources.writeJsonReport(df, s"$dir/json")
      val backOrc = Sources.readOrc(spark, s"$dir/orc")
      val backCsv = Sources.readCsv(spark, s"$dir/csv", Sources.sourceTableSchema)
      val backJson = Sources.readJson(spark, s"$dir/json", Sources.sourceTableSchema)
      Seq(backOrc, backCsv, backJson).foreach { back =>
        assert(back.count() === 2)
        assert(back.orderBy("state").collect().map(_.getString(0)).toSeq === Seq("ca", "ny"))
      }
    }
  }

  test("A6: partitioned sink lays out partition dirs and prunes on read") {
    withTempDir("graft-part") { dir =>
      Sources.writePartitioned(Tables.events(spark, Sf0001), s"$dir/events", "event_type")
      val types = new java.io.File(s"$dir/events").list().filter(_.startsWith("event_type="))
      assert(types.length === 5, types.mkString(","))
      val one = spark.read.parquet(s"$dir/events").where(col("event_type") === "click")
      val plan = one.queryExecution.executedPlan.toString()
      assert(plan.contains("PartitionFilters") && plan.contains("event_type"), plan.take(800))
      assert(one.count() === Tables.events(spark, Sf0001).where(col("event_type") === "click").count())
    }
  }
}
