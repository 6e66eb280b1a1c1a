package graft.sources

import graft.queries.Dsl
import graft.SparkSpec

class SheetSourcesSpec extends SparkSpec {
  import spark.implicits._

  test("csv sheet roundtrip with header aliasing and extra columns") {
    val dir = Dsl.tempDir("graft_csv")
    Seq(
      "Job URL,Company,Role,Notes,Extra",
      "https://a.example/1,Acme,SWE,note1,x",
      "https://b.example/2,Beta,PM,note2,y")
      .toDF("value").coalesce(1).write.mode("overwrite").text(dir + "/raw")
    val df = SheetSources.readCsvSheet(spark, dir + "/raw")
    val normalized = SheetSources.normalize(df, Map(
      "Job URL" -> "link", "Company" -> "company_auto", "Role" -> "role_auto"))
    assert(normalized.columns.toSeq == SheetSources.TrackerColumns)
    val rows = normalized.orderBy("link").collect()
    assert(rows.length == 2)
    assert(rows(0).getAs[String]("link") == "https://a.example/1")
    assert(rows(0).getAs[String]("company_auto") == "Acme")
    assert(rows(0).getAs[String]("status") == "")   // missing → ''
  }

  test("json sheet ingest normalizes to the tracker schema") {
    val dir = Dsl.tempDir("graft_json")
    Seq("""{"link":"https://a.example/1","company_auto":"Acme","junk":1}""")
      .toDF("value").coalesce(1).write.mode("overwrite").text(dir + "/raw")
    val normalized = SheetSources.normalize(
      SheetSources.readJsonSheet(spark, dir + "/raw"))
    assert(normalized.columns.toSeq == SheetSources.TrackerColumns)
    assert(normalized.collect()(0).getAs[String]("company_auto") == "Acme")
  }

  test("duplicate headers: first occurrence wins") {
    val df = Seq(("a", "b")).toDF("link", "url")
    val normalized = SheetSources.normalize(df, Map("url" -> "link"))
    assert(normalized.collect()(0).getAs[String]("link") == "a")
  }

  test("damaged headers are repaired positionally, intact ones untouched") {
    val damaged = Seq(("t1", 2, "init", "queued", "now", ""))
      .toDF("Column1", "Column2", "Column3", "Column4", "Column5", "Column6")
    val repaired = SheetSources.repairHeader(damaged,
      Seq("sheet_name", "row_index", "phase", "status", "enqueued_at", "last_error"))
    assert(repaired.columns.toSeq ==
      Seq("sheet_name", "row_index", "phase", "status", "enqueued_at", "last_error"))
    assert(repaired.collect()(0).getAs[String]("sheet_name") == "t1")
    // case-insensitive contains → already-good headers pass through unrenamed
    val intact = Seq(("t1", 2)).toDF("Sheet_Name", "row_index")
    assert(SheetSources.repairHeader(intact,
      Seq("sheet_name", "row_index")).columns.toSeq ==
      Seq("Sheet_Name", "row_index"))
  }

  test("queue source: empty schema when absent, data when present") {
    val dir = Dsl.tempDir("graft_q") + "/queue"
    val empty = SheetSources.queueSource(spark, dir)
    assert(empty.count() == 0)
    assert(empty.columns.contains("enqueued_at"))
    Seq(("t1", 2, "https://x/1", "queued", 0,
      new java.sql.Timestamp(0L), ""))
      .toDF("sheet_name", "row_index", "url", "status", "tries",
        "enqueued_at", "last_error")
      .write.parquet(dir)
    assert(SheetSources.queueSource(spark, dir).count() == 1)
  }
}
