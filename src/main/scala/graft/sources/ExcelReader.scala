package graft.sources

import java.util.zip.ZipFile
import scala.collection.mutable
import scala.util.matching.Regex

/** Minimal .xlsx reader — enough for the reference's two dimension feeds
  * (terminals snapshots, passport blacklist; cf. reference main.py:19 and
  * main.py:213, which use pandas.read_excel).
  *
  * Offline constraint: no spark-excel / POI in this environment, and the
  * feeds are tiny dimension files (≈150 rows), so a dependency-free
  * zip+XML parse is the right size. Cell types handled: shared strings
  * (t="s"), inline strings (t="inlineStr"), and numbers — including Excel
  * serial dates, which callers convert via [[ExcelReader.serialToDate]].
  * An error cell (t="e", e.g. `#N/A`) reads as empty, never as text.
  *
  * Scale note: dimension feeds stay driver-side by nature; fact-volume
  * data arrives as CSV/parquet and goes through spark.read (BankFeeds).
  */
object ExcelReader {
  // a self-closing `<c r="A2" s="1"/>` (Excel's styled blank cell) is an
  // empty cell: it must not run on into the next cell's `</c>`
  private val CellRe: Regex =
    """(?s)<c\s+r="([A-Z]+)(\d+)"([^>]*?)(?:/>|>(.*?)</c>)""".r
  private val ValRe: Regex = """(?s)<v>(.*?)</v>""".r
  private val InlineRe: Regex = """(?s)<t[^>]*>(.*?)</t>""".r
  private val SiRe: Regex = """(?s)<si>(.*?)</si>""".r

  // the five named XML entities and numeric character references
  // (`&#1040;`, `&#x410;`), decoded in one pass so `&amp;#1040;` stays
  // the literal text `&#1040;`
  private val EntityRe: Regex =
    """&(?:#(\d{1,7})|#[xX]([0-9a-fA-F]{1,6})|(lt|gt|quot|apos|amp));""".r

  private def unescape(s: String): String = EntityRe.replaceAllIn(s, m => {
    val decoded =
      if (m.group(3) != null) m.group(3) match {
        case "lt" => "<"; case "gt" => ">"; case "quot" => "\""
        case "apos" => "'"; case _ => "&"
      } else {
        val cp = if (m.group(1) != null) m.group(1).toInt
                 else Integer.parseInt(m.group(2), 16)
        if (Character.isValidCodePoint(cp)) new String(Character.toChars(cp))
        else m.matched
      }
    Regex.quoteReplacement(decoded)
  })

  private def colIndex(letters: String): Int =
    letters.foldLeft(0)((acc, c) => acc * 26 + (c - 'A' + 1)) - 1

  /** Excel serial day → java.time.LocalDate (1900 date system). */
  def serialToDate(serial: Int): java.time.LocalDate =
    java.time.LocalDate.of(1899, 12, 30).plusDays(serial.toLong)

  private def entryText(zip: ZipFile, name: String): Option[String] =
    Option(zip.getEntry(name)).map { e =>
      new String(zip.getInputStream(e).readAllBytes(), "UTF-8")
    }

  /** Reads sheet1 into rows of Option[String] cells (None = absent cell),
    * addressed by 0-based (row, column) with the sheet's own row numbers.
    * Shared-string cells are resolved; numeric cells keep their raw text
    * (e.g. "44256" for a serial date).
    */
  def readSheet(path: String): Vector[Vector[Option[String]]] = {
    val zip = new ZipFile(path)
    try {
      val shared: Vector[String] =
        entryText(zip, "xl/sharedStrings.xml").toVector.flatMap { xml =>
          SiRe.findAllMatchIn(xml).map { m =>
            // an <si> may hold one <t> or several rich-text runs
            InlineRe.findAllMatchIn(m.group(1)).map(t => unescape(t.group(1))).mkString
          }
        }
      val sheet = entryText(zip, "xl/worksheets/sheet1.xml")
        .getOrElse(throw new IllegalArgumentException(s"no sheet1 in $path"))

      val cells = mutable.Map.empty[(Int, Int), String]
      var maxRow = -1; var maxCol = -1
      for (m <- CellRe.findAllMatchIn(sheet)) {
        val col = colIndex(m.group(1)); val row = m.group(2).toInt - 1
        val attrs = m.group(3); val body = m.group(4)
        val value: Option[String] =
          if (body == null) None // self-closing: no value
          else if (attrs.contains("t=\"e\"")) None // #N/A, #VALUE!, …: no value
          else if (attrs.contains("t=\"s\""))
            ValRe.findFirstMatchIn(body).map(v => shared(v.group(1).trim.toInt))
          else if (attrs.contains("t=\"inlineStr\""))
            InlineRe.findFirstMatchIn(body).map(v => unescape(v.group(1)))
          else
            ValRe.findFirstMatchIn(body).map(v => unescape(v.group(1)))
        value.foreach { v =>
          cells((row, col)) = v
          if (row > maxRow) maxRow = row
          if (col > maxCol) maxCol = col
        }
      }
      (0 to maxRow).map { r =>
        (0 to maxCol).map(c => cells.get((r, c))).toVector
      }.toVector
    } finally zip.close()
  }

  /** Rows with the header row dropped; fully-empty rows preserved as
    * all-None (the reference's pandas load turns those into NULL rows —
    * callers decide whether to keep the quirk or filter; cf. SURVEY §1.3).
    */
  def dataRows(path: String): Vector[Vector[Option[String]]] =
    readSheet(path).drop(1)
}
