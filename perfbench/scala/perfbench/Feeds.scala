package perfbench

import java.io.{ByteArrayOutputStream, File}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.time.{LocalDate, LocalDateTime}
import java.time.format.DateTimeFormatter
import java.util.SplittableRandom
import java.util.zip.{ZipEntry, ZipOutputStream}

/** Seeded generator of the bank's three nightly feeds, in the reference's
  * file shapes, plus the model of what the pipeline must make of them.
  *
  *  - `terminals_DDMMYYYY.xlsx`: full daily snapshot; each night adds one
  *    terminal, deletes the one added the night before, and moves two
  *    terminals to a new address (an SCD2 change).
  *  - `passport_blacklist_DDMMYYYY.xlsx`: cumulative; Excel serial dates,
  *    blank filler rows.
  *  - `transactions_DDMMYYYY.txt`: `;`-separated, decimal comma, with a
  *    whitespace-padded header and first row.
  *
  * Ordinary cards pay only at terminals of their home city, and ordinary
  * clients hold valid passports and contracts, so no ordinary
  * transaction is a fraud positive. Every night plants exactly one
  * positive per fraud rule (blacklisted passport, expired passport,
  * expired contract, two cities within an hour), each on a client that
  * transacts only that night. The same seed gives the same bytes. */
final class Feeds(seed: Long, val nights: Int, val txPerDay: Int, val cards: Int,
                  val startDay: LocalDate = LocalDate.of(2021, 3, 1)) {
  import Feeds._

  private def rng(salt: Long) = new SplittableRandom(seed * 1000003L + salt)

  def day(night: Int): LocalDate = startDay.plusDays(night.toLong)

  // ---- static population -------------------------------------------------
  val cityTerminals: Vector[Terminal] = {
    val r = rng(1)
    val ids = scala.collection.mutable.LinkedHashSet.empty[String]
    (0 until NaturalTerminals).map { i =>
      val kind = if (r.nextInt(3) == 0) "ATM" else "POS"
      var id = ""
      while (id.isEmpty || ids(id)) id = kind.head.toString + (1000 + r.nextInt(8000))
      ids += id
      val city = Cities(i % Cities.size)
      Terminal(id, kind, city, address(r, city))
    }.toVector
  }
  private val byCity = cityTerminals.groupBy(_.city)

  private val people: Vector[Client] = {
    val r = rng(2)
    val passports = scala.collection.mutable.HashSet.empty[String]
    val cardNums = scala.collection.mutable.HashSet.empty[String]
    (0 until cards + PlantedPerNight * nights).map { i =>
      var pass = ""
      while (pass.isEmpty || passports(pass)) pass = f"${r.nextInt(10000)}%04d ${r.nextInt(1000000)}%06d"
      passports += pass
      var card = ""
      while (card.isEmpty || cardNums(card))
        card = (0 until 4).map(_ => f"${r.nextInt(10000)}%04d").mkString(" ")
      cardNums += card
      Client(f"C$i%06d", LastNames(r.nextInt(LastNames.size)),
        FirstNames(r.nextInt(FirstNames.size)), Patronymics(r.nextInt(Patronymics.size)),
        pass, LocalDate.of(2035, 1, 1), f"+7 9${r.nextInt(100)}%02d ${r.nextInt(1000)}%03d-${r.nextInt(100)}%02d-${r.nextInt(100)}%02d",
        f"4081781000$i%010d", LocalDate.of(2035, 1, 1), card, Cities(i % Cities.size))
    }.toVector
  }

  /** Ordinary clients, then [[PlantedPerNight]] planted clients per night,
    * with the planted defects applied. */
  val clients: Vector[Client] = people.zipWithIndex.map { case (c, i) =>
    if (i < cards) c
    else {
      val night = (i - cards) / PlantedPerNight
      (i - cards) % PlantedPerNight match {
        case 1 => c.copy(passportValidTo = day(night).minusDays(1))
        case 2 => c.copy(accountValidTo = day(night).minusDays(1))
        case _ => c
      }
    }
  }

  def planted(night: Int, rule: Int): Client = clients(cards + night * PlantedPerNight + rule)

  /** Blacklist entries added on `night`: filler passports no client holds,
    * plus the night's planted client. */
  def blacklistAdded(night: Int): Seq[(LocalDate, String)] = {
    val r = rng(100000L + night)
    val filler = (0 until (if (night == 0) 6 else 7)).map(_ =>
      f"${r.nextInt(10000)}%04d ${r.nextInt(1000000)}%06d")
      .filterNot(p => clients.exists(_.passport == p))
    (filler :+ planted(night, 0).passport).map(p => (day(night), p))
  }

  def blacklist(night: Int): Seq[(LocalDate, String)] = (0 to night).flatMap(blacklistAdded)

  /** Full terminal snapshot of `night`. */
  def terminals(night: Int): Seq[Terminal] = {
    // the latest move of each terminal up to `night`
    val moved = (1 to night).flatMap(n => movedOn(n).map(_ -> n)).toMap
    val base = cityTerminals.zipWithIndex.map { case (t, i) =>
      moved.get(i).map(n => t.copy(address = movedAddress(t, n))).getOrElse(t)
    }
    base ++ (if (night >= 1) Seq(churnTerminal(night)) else Nil)
  }

  /** Indices of the two terminals that move on `night`. */
  def movedOn(night: Int): Seq[Int] =
    if (night == 0) Nil
    else Seq((2 * night) % NaturalTerminals, (2 * night + 1) % NaturalTerminals)

  private def movedAddress(t: Terminal, night: Int): String =
    s"${t.city}, ${Streets(night % Streets.size)}, д. ${100 + night}"

  def churnTerminal(night: Int): Terminal =
    Terminal(s"P9${100 + night}", "POS", Cities(night % Cities.size),
      s"${Cities(night % Cities.size)}, ул. Новая, д. $night")

  /** The night's transactions, in time order. */
  def transactions(night: Int): Vector[Tx] = {
    val r = rng(200000L + night)
    val d = day(night)
    val base = 10000000000L + night * 10000000L
    val ordinary = (0 until txPerDay).map { i =>
      val c = clients(r.nextInt(cards))
      val ts = byCity(c.homeCity)
      val opType = r.nextInt(100) match {
        case x if x < 44 => "PAYMENT"
        case x if x < 72 => "DEPOSIT"
        case _ => "WITHDRAW"
      }
      Tx(0L, d.atStartOfDay.plusSeconds(r.nextInt(86400).toLong), 100L + r.nextInt(9999900),
        c.card, opType, if (r.nextInt(10) == 0) "REJECT" else "SUCCESS",
        ts(r.nextInt(ts.size)).id)
    }
    (ordinary ++ plantedTx(night)).sortBy(t => (t.ts, t.card)).zipWithIndex
      .map { case (t, i) => t.copy(id = base + i) }.toVector
  }

  /** The night's planted transactions: one per planted client, two (an
    * hour apart at most, in two cities) for the city-hop client. */
  def plantedTx(night: Int): Seq[Tx] = {
    val r = rng(300000L + night)
    val d = day(night)
    def at(c: Client, t: LocalDateTime, terminal: Terminal) =
      Tx(0L, t, 100L + r.nextInt(500000), c.card, "PAYMENT", "SUCCESS", terminal.id)
    def home(c: Client) = byCity(c.homeCity).head
    def anyTime = d.atStartOfDay.plusSeconds(r.nextInt(86000).toLong)
    val hop = planted(night, 3)
    val hopAt = d.atStartOfDay.plusSeconds(3600L + r.nextInt(72000).toLong)
    val away = byCity(Cities((Cities.indexOf(hop.homeCity) + 1) % Cities.size)).head
    (0 until 3).map(rule => at(planted(night, rule), anyTime, home(planted(night, rule)))) ++
      Seq(at(hop, hopAt, home(hop)), at(hop, hopAt.plusSeconds(1200), away))
  }

  /** The fraud events the mart must hold for `night`'s report day. */
  def expectedEvents(night: Int): Seq[Event] = {
    val txs = plantedTx(night)
    def ev(c: Client, kind: String) = txs.filter(_.card == c.card).map(t =>
      Event(t.ts, c.passport, c.fio, c.phone, kind))
    ev(planted(night, 0), Rule1) ++ ev(planted(night, 1), Rule1) ++
      ev(planted(night, 2), Rule2) ++ ev(planted(night, 3), Rule3).takeRight(1)
  }

  // ---- file writers ------------------------------------------------------
  def writeNight(night: Int, dir: File): Vector[Tx] = {
    dir.mkdirs()
    val stamp = day(night).format(DateTimeFormatter.ofPattern("ddMMyyyy"))
    Files.write(new File(dir, s"terminals_$stamp.xlsx").toPath, terminalsXlsx(night))
    Files.write(new File(dir, s"passport_blacklist_$stamp.xlsx").toPath, blacklistXlsx(night))
    val txs = transactions(night)
    Files.write(new File(dir, s"transactions_$stamp.txt").toPath, transactionsTxt(txs))
    txs
  }

  def terminalsXlsx(night: Int): Array[Byte] = {
    val rows = terminals(night).map(t =>
      Seq(Str(t.id), Str(t.kind), Str(t.city), Str(t.address)))
    // a blank filler row every 40 rows, as exported sheets carry them
    val withBlanks = rows.grouped(40).toSeq.flatMap(_ :+ Nil)
    Xlsx.write(Seq(Str("terminal_id"), Str("terminal_type"), Str("terminal_city"),
      Str("terminal_address")) +: withBlanks)
  }

  def blacklistXlsx(night: Int): Array[Byte] = {
    val rows = blacklist(night).map { case (d, p) => Seq(Num(excelSerial(d)), Str(p)) }
    val withBlanks = rows.grouped(5).toSeq.flatMap(_ :+ Nil) ++ Seq.fill(8)(Nil)
    Xlsx.write(Seq(Str("date"), Str("passport")) +: withBlanks)
  }

  def transactionsTxt(txs: Seq[Tx]): Array[Byte] = {
    val sb = new java.lang.StringBuilder(txs.size * 96)
    sb.append("  transaction_id ;  transaction_date ; amount ; card_num ; oper_type ; " +
      "oper_result ; terminal  \n")
    txs.zipWithIndex.foreach { case (t, i) =>
      val f = Array(t.id.toString, t.ts.format(TsFormat), amountText(t.cents), t.card,
        t.opType, t.result, t.terminal)
      var j = 0
      while (j < f.length) {
        if (j > 0) sb.append(';')
        // the first row is whitespace-padded, like the header
        if (i == 0) sb.append("  ").append(f(j)).append(' ') else sb.append(f(j))
        j += 1
      }
      sb.append('\n')
    }
    sb.toString.getBytes(UTF_8)
  }
}

object Feeds {
  val NaturalTerminals = 150
  val PlantedPerNight = 4
  val Rule1 = "Совершение операции при просроченном или заблокированном паспорте"
  val Rule2 = "Совершение операции при недействующем договоре"
  val Rule3 = "Совершение операций в разных городах в течение часа"
  val TsFormat: DateTimeFormatter = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")

  final case class Terminal(id: String, kind: String, city: String, address: String)
  final case class Client(id: String, lastName: String, firstName: String, patronymic: String,
                          passport: String, passportValidTo: LocalDate, phone: String,
                          account: String, accountValidTo: LocalDate, card: String,
                          homeCity: String) {
    def fio: String = s"$lastName $firstName $patronymic"
  }
  final case class Tx(id: Long, ts: LocalDateTime, cents: Long, card: String,
                      opType: String, result: String, terminal: String)
  final case class Event(ts: LocalDateTime, passport: String, fio: String, phone: String,
                         kind: String)

  def amountText(cents: Long): String = {
    val c = cents % 100
    s"${cents / 100},${if (c < 10) "0" else ""}$c"
  }

  def excelSerial(d: LocalDate): Int =
    java.time.temporal.ChronoUnit.DAYS.between(LocalDate.of(1899, 12, 30), d).toInt

  private def address(r: SplittableRandom, city: String): String =
    s"$city, ${Streets(r.nextInt(Streets.size))}, д. ${1 + r.nextInt(99)}"

  val Cities: Vector[String] = Vector("Москва", "Санкт-Петербург", "Новосибирск",
    "Екатеринбург", "Казань", "Нижний Новгород", "Челябинск", "Самара", "Омск",
    "Ростов-на-Дону", "Уфа", "Красноярск", "Воронеж", "Пермь", "Волгоград", "Кемерово")
  val Streets: Vector[String] = Vector("ул. Ленина", "пр. Мира", "ул. Гагарина",
    "ул. Советская", "ул. Пушкина", "ул. Садовая", "ул. Лесная", "пр. Победы")
  val LastNames: Vector[String] = Vector("Иванов", "Смирнов", "Кузнецов", "Попов",
    "Васильев", "Петров", "Соколов", "Михайлов", "Новиков", "Фёдоров")
  val FirstNames: Vector[String] = Vector("Александр", "Сергей", "Дмитрий", "Андрей",
    "Алексей", "Максим", "Евгений", "Иван", "Михаил", "Артём")
  val Patronymics: Vector[String] = Vector("Александрович", "Сергеевич", "Дмитриевич",
    "Андреевич", "Алексеевич", "Иванович", "Петрович", "Михайлович")

  // ---- cell model and the xlsx writer ------------------------------------
  sealed trait Cell
  final case class Str(s: String) extends Cell
  final case class Num(n: Int) extends Cell

  /** Minimal single-sheet .xlsx: zip + SpreadsheetML, strings through the
    * shared-strings table. An empty row is written as a row of empty
    * styled cells, the way Excel exports blank filler rows. Entry times
    * are fixed so the bytes depend on the cells alone. */
  object Xlsx {
    def write(rows: Seq[Seq[Cell]]): Array[Byte] = {
      val strings = rows.flatten.collect { case Str(s) => s }.distinct
      val index = strings.zipWithIndex.toMap
      val sheet = new java.lang.StringBuilder
      sheet.append("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""")
        .append("""<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>""")
      rows.zipWithIndex.foreach { case (cells, r) =>
        sheet.append(s"""<row r="${r + 1}">""")
        if (cells.isEmpty) sheet.append(s"""<c r="A${r + 1}" s="1"></c><c r="B${r + 1}" s="1"></c>""")
        cells.zipWithIndex.foreach { case (c, i) =>
          val ref = s"${('A' + i).toChar}${r + 1}"
          c match {
            case Str(s) => sheet.append(s"""<c r="$ref" t="s"><v>${index(s)}</v></c>""")
            case Num(n) => sheet.append(s"""<c r="$ref"><v>$n</v></c>""")
          }
        }
        sheet.append("</row>")
      }
      sheet.append("</sheetData></worksheet>")
      val sst = strings.map(s => s"<si><t>${xml(s)}</t></si>").mkString(
        s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?><sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" count="${strings.size}" uniqueCount="${strings.size}">""",
        "", "</sst>")
      val entries = Seq(
        "[Content_Types].xml" -> ("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?><Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">""" +
          """<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/><Default Extension="xml" ContentType="application/xml"/>""" +
          """<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>""" +
          """<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>""" +
          """<Override PartName="/xl/sharedStrings.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sharedStrings+xml"/></Types>"""),
        "_rels/.rels" -> ("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
          """<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/></Relationships>"""),
        "xl/workbook.xml" -> ("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?><workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">""" +
          """<sheets><sheet name="Sheet1" sheetId="1" r:id="rId1"/></sheets></workbook>"""),
        "xl/_rels/workbook.xml.rels" -> ("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
          """<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>""" +
          """<Relationship Id="rId2" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/sharedStrings" Target="sharedStrings.xml"/></Relationships>"""),
        "xl/worksheets/sheet1.xml" -> sheet.toString,
        "xl/sharedStrings.xml" -> sst)
      val bytes = new ByteArrayOutputStream()
      val zip = new ZipOutputStream(bytes)
      for ((name, body) <- entries) {
        val e = new ZipEntry(name)
        e.setTime(FixedZipTime)
        zip.putNextEntry(e)
        zip.write(body.getBytes(UTF_8))
        zip.closeEntry()
      }
      zip.close()
      bytes.toByteArray
    }

    private val FixedZipTime =
      LocalDateTime.of(2021, 1, 1, 0, 0).atZone(java.time.ZoneOffset.UTC).toInstant.toEpochMilli

    private def xml(s: String): String =
      s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;").replace("\"", "&quot;")
  }
}
