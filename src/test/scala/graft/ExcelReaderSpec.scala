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

  /** An inline-string cell. */
  private def str(ref: String, s: String) =
    s"""<c r="$ref" t="inlineStr"><is><t>$s</t></is></c>"""

  /** A one-sheet .xlsx holding `rows` (the `<row>` elements) and, when
    * given, `xl/sharedStrings.xml` entries (each an `<si>` body). */
  private def writeXlsx(rows: String, shared: Seq[String] = Nil): java.nio.file.Path = {
    val path = java.nio.file.Files.createTempDirectory("graft_xlsx_")
      .resolve("passport_blacklist_01032021.xlsx")
    val sheet =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
      """<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">""" +
      s"<sheetData>$rows</sheetData></worksheet>"
    val entries = Seq("xl/worksheets/sheet1.xml" -> sheet) ++
      (if (shared.isEmpty) Nil
       else Seq("xl/sharedStrings.xml" -> shared.map(si => s"<si>$si</si>").mkString("<sst>", "", "</sst>")))
    val zip = new java.util.zip.ZipOutputStream(java.nio.file.Files.newOutputStream(path))
    try entries.foreach { case (name, xml) =>
      zip.putNextEntry(new java.util.zip.ZipEntry(name))
      zip.write(xml.getBytes("UTF-8"))
      zip.closeEntry()
    } finally zip.close()
    path
  }

  test("a self-closing styled blank cell is empty, not the next row's value") {
    // Excel writes a styled blank cell as `<c r="A2" s="1"/>`
    val path = writeXlsx(
      s"""<row r="1">${str("A1", "date")}${str("B1", "passport")}</row>""" +
      """<row r="2"><c r="A2" s="1"/><c r="B2" s="1"/></row>""" +
      s"""<row r="3"><c r="A3" s="1"><v>44256</v></c>${str("B3", "4010 123456")}</row>""")
    assert(ExcelReader.readSheet(path.toString) === Vector(
      Vector(Some("date"), Some("passport")),
      Vector(None, None),
      Vector(Some("44256"), Some("4010 123456"))))
    val rows = BankFeeds.blacklist(spark, path.toString).collect()
    assert(rows.map(r => (r.getString(0), String.valueOf(r.getDate(1)))).toSeq ===
      Seq(("4010 123456", "2021-03-01")))
  }

  test("numeric character references decode in inline and shared strings") {
    // `&#1040;` / `&#x410;` are both Cyrillic А; `&amp;#1040;` is the
    // escaped text `&#1040;` and must stay literal
    val path = writeXlsx(
      s"""<row r="1">${str("A1", "&#1040;&#x411;&#X412; &lt;P&gt;")}""" +
        s"""${str("B1", "&amp;#1040;")}<c r="C1" t="s"><v>0</v></c></row>""",
      shared = Seq("<t>&#x410;&#1041;ангарск</t>"))
    assert(ExcelReader.readSheet(path.toString) === Vector(
      Vector(Some("АБВ <P>"), Some("&#1040;"), Some("АБангарск"))))
  }

  test("an error cell (t=\"e\") is empty: it never becomes a passport or a date") {
    def err(ref: String, e: String) = s"""<c r="$ref" t="e"><v>$e</v></c>"""
    val path = writeXlsx(
      s"""<row r="1">${str("A1", "date")}${str("B1", "passport")}</row>""" +
      s"""<row r="2">${err("A2", "#VALUE!")}${str("B2", "4010 111111")}</row>""" +
      s"""<row r="3"><c r="A3"><v>44256</v></c>${err("B3", "#N/A")}</row>""")
    assert(ExcelReader.readSheet(path.toString) === Vector(
      Vector(Some("date"), Some("passport")),
      Vector(None, Some("4010 111111")),
      Vector(Some("44256"), None)))
    val rows = BankFeeds.blacklist(spark, path.toString).collect()
    assert(rows.map(r => (r.getString(0), String.valueOf(r.getDate(1)))).toSeq ===
      Seq(("4010 111111", "null")))
  }
}
