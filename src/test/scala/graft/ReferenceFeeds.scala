package graft

import java.io.{ByteArrayOutputStream, File}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.time.{LocalDate, LocalDateTime}
import java.util.SplittableRandom
import java.util.zip.{ZipEntry, ZipOutputStream}

/** Deterministic stand-in for the reference's nine feed files (three days
  * of `terminals_*.xlsx`, `passport_blacklist_*.xlsx` and
  * `transactions_*.txt`), built to reproduce every vector FIXTURES.md §A
  * documents and the feed specs assert:
  *
  *  - terminals 150/151/150; day 2 adds `P9111` and moves `A8966` and
  *    `P6934` to new addresses, day 3 deletes `P9111` and moves `A8966`
  *    again (155 SCD2 history rows); `P3149` stands in `Ангарск`;
  *  - a cumulative blacklist of 7 → 15 → 24 entries, Excel serial dates,
  *    each entry dated the day it first appears, 17 blank filler rows;
  *  - 15,650/15,686/15,780 transactions, one calendar day per file,
  *    decimal commas; day 1's earliest row is `00:00:01`, `1046,40`;
  *    day 2's header and first row are whitespace-padded
  *    (`;   2021-03-02 00:00:00; 7000,00;…`);
  *  - ordinary cards pay only in their home city, and four cards hop
  *    city across the day-1 → day-2 midnight within an hour (none from
  *    day 2 to day 3);
  *  - no transaction at `P9111`. The fraud mart joins the terminal
  *    history as of run time, so a full rebuild as of day 3 drops rows
  *    at a terminal deleted on day 3 that a day-2 nightly run kept; the
  *    mart-parity specs hold only on feeds without such rows.
  *
  * The same seed writes the same bytes: one `SplittableRandom` stream per
  * purpose and fixed zip entry times. */
object ReferenceFeeds {
  val Stamps: Seq[String] = Seq("01032021", "02032021", "03032021")
  val FileNames: Seq[String] = Stamps.flatMap(d => Seq(
    s"terminals_$d.xlsx", s"passport_blacklist_$d.xlsx", s"transactions_$d.txt"))

  /** True when `dir` holds all nine reference feed files. */
  def holdsAll(dir: String): Boolean = FileNames.forall(n => new File(dir, n).isFile)

  /** A fresh temp dir holding the generated feeds, removed at JVM exit. */
  def generated(): String = {
    val dir = Files.createTempDirectory("graft_ref_feeds_")
    write(dir)
    sys.addShutdownHook {
      FileNames.foreach(n => Files.deleteIfExists(dir.resolve(n)))
      Files.deleteIfExists(dir)
    }
    dir.toString
  }

  def write(dir: Path, seed: Long = 2021L): Unit = {
    val g = new Gen(seed)
    for ((stamp, day) <- Stamps.zipWithIndex) {
      Files.write(dir.resolve(s"terminals_$stamp.xlsx"), g.terminalsXlsx(day))
      Files.write(dir.resolve(s"passport_blacklist_$stamp.xlsx"), g.blacklistXlsx(day))
      Files.write(dir.resolve(s"transactions_$stamp.txt"), g.transactionsTxt(day))
    }
  }

  val TxPerDay = Seq(15650, 15686, 15780)
  private val OrdinaryCards = 1000
  private val Crossings = 4
  private val BlankRows = 17
  private val Cities = Vector("Кемерово", "Ангарск", "Новосибирск", "Иркутск",
    "Томск", "Барнаул", "Красноярск", "Омск", "Новокузнецк", "Братск")
  private val Streets = Vector("ул. Ленина", "пр. Мира", "ул. Гагарина",
    "ул. Советская", "ул. Садовая", "ул. Лесная", "пр. Победы", "ул. Кирова")

  private final case class Terminal(id: String, city: String, address: String) {
    def kind: String = if (id.startsWith("A")) "ATM" else "POS"
  }
  private final case class Tx(ts: LocalDateTime, cents: Long, card: String,
                              terminal: String, opType: String = "PAYMENT",
                              result: String = "SUCCESS")

  private final class Gen(seed: Long) {
    private def rng(salt: Long) = new SplittableRandom(seed * 1000003L + salt)
    private def day(d: Int) = LocalDate.of(2021, 3, 1).plusDays(d.toLong)
    private def address(city: String, street: Int, house: Int) =
      s"$city, ${Streets(street % Streets.size)}, д. $house"

    /** The 150 terminals of day 1; the three named ids take fixed slots. */
    private val base: Vector[Terminal] = {
      val r = rng(1)
      val fixed = Map(0 -> ("A8966", "Кемерово"), 1 -> ("P6934", "Томск"),
        2 -> ("P3149", "Ангарск"))
      val used = scala.collection.mutable.Set("A8966", "P6934", "P3149", "P9111")
      (0 until 150).map { i =>
        val (id, city) = fixed.getOrElse(i, {
          var id = ""
          while (id.isEmpty || used(id))
            id = (if (r.nextInt(3) == 0) "A" else "P") + (1000 + r.nextInt(9000))
          used += id
          (id, Cities(i % Cities.size))
        })
        Terminal(id, city, address(city, r.nextInt(Streets.size), 1 + r.nextInt(99)))
      }.toVector
    }
    private val byCity = base.groupBy(_.city)
    private val P9111 = Terminal("P9111", "Барнаул", address("Барнаул", 3, 17))

    /** Full snapshot of `d`: an address change keeps the city. */
    def terminals(d: Int): Seq[Terminal] = base.map {
      case t if t.id == "A8966" && d >= 1 => t.copy(address = address(t.city, 1 + d, 100 + d))
      case t if t.id == "P6934" && d >= 1 => t.copy(address = address(t.city, 5, 101))
      case t => t
    } ++ (if (d == 1) Seq(P9111) else Nil)

    /** Blacklist entries (date, passport) in first-appearance order. */
    private val entries: Vector[(LocalDate, String)] = {
      val r = rng(2)
      val seen = scala.collection.mutable.LinkedHashSet.empty[String]
      while (seen.size < 24) seen += f"${r.nextInt(10000)}%04d ${r.nextInt(1000000)}%06d"
      seen.toVector.zipWithIndex.map { case (p, i) =>
        (day(if (i < 7) 0 else if (i < 15) 1 else 2), p) }
    }

    def blacklist(d: Int): Seq[(LocalDate, String)] =
      entries.filter(e => !e._1.isAfter(day(d)))

    /** Ordinary cards (card, home city), then the midnight-crossing ones. */
    private val cards: Vector[(String, String)] = {
      val r = rng(3)
      val seen = scala.collection.mutable.LinkedHashSet.empty[String]
      while (seen.size < OrdinaryCards + Crossings)
        seen += (0 until 4).map(_ => f"${r.nextInt(10000)}%04d").mkString(" ")
      seen.toVector.map(c => (c, Cities(r.nextInt(Cities.size))))
    }
    private def home(card: (String, String), r: SplittableRandom) = {
      val ts = byCity(card._2); ts(r.nextInt(ts.size)).id
    }

    /** Day `d`'s rows in time order: the marked first row, the crossing
      * halves that fall on `d`, and ordinary home-city traffic. */
    def transactions(d: Int): Seq[Tx] = {
      val r = rng(100L + d)
      val midnight = day(d).atStartOfDay
      val first = d match {
        case 0 => Seq(Tx(midnight.plusSeconds(1), 104640L, cards(0)._1, home(cards(0), r)))
        case 1 => Seq(Tx(midnight, 700000L, cards(1)._1, home(cards(1), r)))
        case _ => Nil
      }
      val crossing = (0 until Crossings).flatMap { k =>
        val card = cards(OrdinaryCards + k)
        val cr = rng(200L + k)
        val out = 84001 + cr.nextInt(1800)             // 23:20:01–23:50:00, day 1
        val back = 86400 + 1 + cr.nextInt(out + 3600 - 86400) // ≤ 1 h later, day 2
        val away = Cities((Cities.indexOf(card._2) + 1) % Cities.size)
        val t0 = day(0).atStartOfDay
        Seq(Tx(t0.plusSeconds(out.toLong), 100L + cr.nextInt(500000), card._1, home(card, cr)),
          Tx(t0.plusSeconds(back.toLong), 100L + cr.nextInt(500000), card._1,
            byCity(away).head.id))
      }.filter(_.ts.toLocalDate == day(d))
      val ordinary = (0 until TxPerDay(d) - first.size - crossing.size).map { _ =>
        val card = cards(r.nextInt(OrdinaryCards))
        val opType = r.nextInt(100) match {
          case x if x < 44 => "PAYMENT"
          case x if x < 72 => "DEPOSIT"
          case _ => "WITHDRAW"
        }
        Tx(midnight.plusSeconds(2L + r.nextInt(86398)), 100L + r.nextInt(9999900),
          card._1, home(card, r), opType, if (r.nextInt(10) == 0) "REJECT" else "SUCCESS")
      }
      first ++ (crossing ++ ordinary).sortBy(t => (t.ts, t.card))
    }

    def terminalsXlsx(d: Int): Array[Byte] = xlsx(
      Seq("terminal_id", "terminal_type", "terminal_city", "terminal_address").map(Left(_)) +:
        terminals(d).map(t => Seq(t.id, t.kind, t.city, t.address).map(Left(_))))

    def blacklistXlsx(d: Int): Array[Byte] = xlsx(
      Seq(Left("date"), Left("passport")) +:
        (blacklist(d).map { case (dt, p) => Seq(Right(excelSerial(dt)), Left(p)) } ++
          Seq.fill(BlankRows)(Nil)))

    def transactionsTxt(d: Int): Array[Byte] = {
      val header = Seq("transaction_id", "transaction_date", "amount", "card_num",
        "oper_type", "oper_result", "terminal")
      val rows = transactions(d).zipWithIndex.map { case (t, i) =>
        Seq((43845700000L + d * 100000L + i).toString, t.ts.format(TsFormat),
          f"${t.cents / 100},${t.cents % 100}%02d", t.card, t.opType, t.result, t.terminal)
      }
      // day 2's header and first row carry the reference export's padding
      def pad(fields: Seq[String]) =
        fields.head +: s"   ${fields(1)}" +: fields.drop(2).map(" " + _)
      val lines = if (d == 1) pad(header) +: pad(rows.head) +: rows.tail else header +: rows
      lines.map(_.mkString(";")).mkString("", "\n", "\n").getBytes(UTF_8)
    }
  }

  private val TsFormat = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")

  private def excelSerial(d: LocalDate): Int =
    java.time.temporal.ChronoUnit.DAYS.between(LocalDate.of(1899, 12, 30), d).toInt

  /** Single-sheet .xlsx: zip + SpreadsheetML, strings through the
    * shared-strings table (the inverse of `sources.ExcelReader`). An empty
    * row is a row of empty styled cells, as Excel exports blank filler. */
  private def xlsx(rows: Seq[Seq[Either[String, Int]]]): Array[Byte] = {
    val strings = rows.flatten.collect { case Left(s) => s }.distinct
    val index = strings.zipWithIndex.toMap
    val sheet = new java.lang.StringBuilder(XmlHead)
      .append(s"""<worksheet xmlns="$Ns"><sheetData>""")
    for ((cells, r) <- rows.zipWithIndex) {
      sheet.append(s"""<row r="${r + 1}">""")
      if (cells.isEmpty) sheet.append(s"""<c r="A${r + 1}" s="1"></c><c r="B${r + 1}" s="1"></c>""")
      for ((c, i) <- cells.zipWithIndex) {
        val ref = s"${('A' + i).toChar}${r + 1}"
        sheet.append(c match {
          case Left(s) => s"""<c r="$ref" t="s"><v>${index(s)}</v></c>"""
          case Right(n) => s"""<c r="$ref"><v>$n</v></c>"""
        })
      }
      sheet.append("</row>")
    }
    sheet.append("</sheetData></worksheet>")
    val sst = strings.map(s => s"<si><t>${escape(s)}</t></si>").mkString(
      s"""$XmlHead<sst xmlns="$Ns" count="${strings.size}" uniqueCount="${strings.size}">""",
      "", "</sst>")
    val rel = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
    val ct = "application/vnd.openxmlformats-officedocument.spreadsheetml"
    val entries = Seq(
      "[Content_Types].xml" -> (XmlHead +
        """<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">""" +
        """<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>""" +
        """<Default Extension="xml" ContentType="application/xml"/>""" +
        s"""<Override PartName="/xl/workbook.xml" ContentType="$ct.sheet.main+xml"/>""" +
        s"""<Override PartName="/xl/worksheets/sheet1.xml" ContentType="$ct.worksheet+xml"/>""" +
        s"""<Override PartName="/xl/sharedStrings.xml" ContentType="$ct.sharedStrings+xml"/></Types>"""),
      "_rels/.rels" -> (XmlHead +
        """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
        s"""<Relationship Id="rId1" Type="$rel/officeDocument" Target="xl/workbook.xml"/></Relationships>"""),
      "xl/workbook.xml" -> (XmlHead + s"""<workbook xmlns="$Ns" xmlns:r="$rel">""" +
        """<sheets><sheet name="Sheet1" sheetId="1" r:id="rId1"/></sheets></workbook>"""),
      "xl/_rels/workbook.xml.rels" -> (XmlHead +
        """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
        s"""<Relationship Id="rId1" Type="$rel/worksheet" Target="worksheets/sheet1.xml"/>""" +
        s"""<Relationship Id="rId2" Type="$rel/sharedStrings" Target="sharedStrings.xml"/></Relationships>"""),
      "xl/worksheets/sheet1.xml" -> sheet.toString,
      "xl/sharedStrings.xml" -> sst)
    val bytes = new ByteArrayOutputStream()
    val zip = new ZipOutputStream(bytes)
    for ((name, body) <- entries) {
      val e = new ZipEntry(name)
      e.setTimeLocal(LocalDateTime.of(2021, 1, 1, 0, 0)) // zone-free: bytes depend on cells alone
      zip.putNextEntry(e)
      zip.write(body.getBytes(UTF_8))
      zip.closeEntry()
    }
    zip.close()
    bytes.toByteArray
  }

  private val XmlHead = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>"""
  private val Ns = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
  private def escape(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;").replace("\"", "&quot;")
}
