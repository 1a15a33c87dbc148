package graft

import graft.sources.{BankFeeds, ExcelReader}

class ExcelReaderSpec extends SparkSpec {

  test("terminals snapshot: 150 rows, 4 string columns, Cyrillic intact") {
    val df = BankFeeds.terminals(spark, s"$refDir/terminals_01032021.xlsx")
    assert(df.count() === 150)
    assert(df.columns.toSeq ===
      Seq("terminal_id", "terminal_type", "terminal_city", "terminal_address"))
    val first = df.filter(org.apache.spark.sql.functions.col("terminal_id") === "P3149")
      .collect()
    assert(first.length === 1)
    assert(first.head.getString(3).contains("Ангарск")) // UTF-8 round trip
  }

  test("day-2 snapshot has 151 rows including the added P9111") {
    val df = BankFeeds.terminals(spark, s"$refDir/terminals_02032021.xlsx")
    assert(df.count() === 151)
    assert(df.filter(org.apache.spark.sql.functions.col("terminal_id") === "P9111").count() === 1)
  }

  test("excel serial date conversion (44256 = 2021-03-01)") {
    assert(ExcelReader.serialToDate(44256).toString === "2021-03-01")
  }

  test("blacklist: blank filler rows dropped, serial dates become DateType") {
    val df = BankFeeds.blacklist(spark, s"$refDir/passport_blacklist_01032021.xlsx")
    val rows = df.collect()
    assert(rows.length === 7) // 24 sheet rows, 17 blank (SURVEY §1.3)
    assert(rows.forall(_.getString(0) != null))
    assert(rows.forall(r => r.getDate(1).toString == "2021-03-01"))
  }

  test("blacklist feed is cumulative: 7 → 15 → 24 distinct entries") {
    val counts = Seq("01", "02", "03").map { d =>
      BankFeeds.blacklist(spark, s"$refDir/passport_blacklist_${d}032021.xlsx").count()
    }
    assert(counts === Seq(7, 15, 24))
  }

  test("a self-closing styled blank cell is empty, not the next row's value") {
    // Excel writes a styled blank cell as `<c r="A2" s="1"/>`
    val path = java.nio.file.Files.createTempDirectory("graft_xlsx_")
      .resolve("passport_blacklist_01032021.xlsx")
    def str(ref: String, s: String) =
      s"""<c r="$ref" t="inlineStr"><is><t>$s</t></is></c>"""
    val sheet =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
      """<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">""" +
      s"""<sheetData><row r="1">${str("A1", "date")}${str("B1", "passport")}</row>""" +
      """<row r="2"><c r="A2" s="1"/><c r="B2" s="1"/></row>""" +
      s"""<row r="3"><c r="A3" s="1"><v>44256</v></c>${str("B3", "4010 123456")}</row>""" +
      "</sheetData></worksheet>"
    val zip = new java.util.zip.ZipOutputStream(java.nio.file.Files.newOutputStream(path))
    try {
      zip.putNextEntry(new java.util.zip.ZipEntry("xl/worksheets/sheet1.xml"))
      zip.write(sheet.getBytes("UTF-8"))
      zip.closeEntry()
    } finally zip.close()
    assert(ExcelReader.readSheet(path.toString) === Vector(
      Vector(Some("date"), Some("passport")),
      Vector(None, None),
      Vector(Some("44256"), Some("4010 123456"))))
    val rows = BankFeeds.blacklist(spark, path.toString).collect()
    assert(rows.map(r => (r.getString(0), String.valueOf(r.getDate(1)))).toSeq ===
      Seq(("4010 123456", "2021-03-01")))
  }
}
