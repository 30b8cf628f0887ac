package graft.loadbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.time.{Instant, LocalDate}
import java.util.SplittableRandom

/** The 44 HFP wire columns in `hfpColumns.ts` order with the type
  * `transformHfpItem.ts` gives each one. Written out here rather than
  * taken from the program, so the generator and its ledger stay a
  * model of the reference and never of the code under test.
  */
object Wire {
  sealed trait Kind
  case object IntK extends Kind
  case object FloatK extends Kind
  case object BoolK extends Kind
  case object TsK extends Kind
  case object DateK extends Kind
  case object StrK extends Kind

  val columns: Vector[(String, Kind)] = Vector(
    "acc" -> FloatK, "desi" -> StrK, "dir" -> IntK, "direction_id" -> IntK,
    "dl" -> IntK, "dr_type" -> IntK, "drst" -> BoolK, "event_type" -> StrK,
    "geohash_level" -> IntK, "hdg" -> IntK, "headsign" -> StrK,
    "is_ongoing" -> BoolK, "journey_start_time" -> StrK,
    "journey_type" -> StrK, "jrn" -> IntK, "lat" -> FloatK, "line" -> IntK,
    "loc" -> StrK, "long" -> FloatK, "mode" -> StrK, "next_stop_id" -> StrK,
    "occu" -> IntK, "oday" -> DateK, "odo" -> FloatK, "oper" -> IntK,
    "owner_operator_id" -> IntK, "received_at" -> TsK, "route_id" -> StrK,
    "route" -> StrK, "seq" -> IntK, "spd" -> FloatK, "start" -> StrK,
    "stop" -> IntK, "topic_latitude" -> FloatK, "topic_longitude" -> FloatK,
    "topic_prefix" -> StrK, "topic_version" -> StrK, "tsi" -> IntK,
    "tst" -> TsK, "unique_vehicle_id" -> StrK, "uuid" -> StrK, "veh" -> IntK,
    "vehicle_number" -> StrK, "version" -> IntK)

  val names: Vector[String] = columns.map(_._1)
  val kinds: Vector[Kind] = columns.map(_._2)
  def idx(name: String): Int = names.indexOf(name)
  val Width: Int = columns.size
  val UuidIdx: Int = idx("uuid")

  val tables: Vector[String] =
    Vector("stopevent", "otherevent", "vehicleposition", "unsignedevent")

  /** The jdbc workload's pre-seeded half of the day: a row is in the
    * seed when the last hex digit of its uuid is 0-7. Stated on the
    * wire string so SQL can select the same rows (`SUBSTR(uuid, 36)`).
    */
  val SeedDigits: String = "01234567"
  def inSeedHalf(uuid: String): Boolean =
    uuid.length == 36 && SeedDigits.indexOf(uuid.charAt(35)) >= 0
}

/** Per-column non-null count and sum of one table's rows, after the
  * sink's K2 netting. Sums are over the typed value: the integer for
  * ints, the double for floats, microseconds after the operating day's
  * start for timestamps, epoch
  * days for dates and the character count for strings; booleans
  * only count (K2 leaves only `true` or NULL).
  */
final class TableStats(
    var rows: Long = 0L,
    val nonNull: Array[Long] = new Array[Long](Wire.Width),
    val sumL: Array[Long] = new Array[Long](Wire.Width),
    val sumD: Array[Double] = new Array[Double](Wire.Width)) {

  def add(o: TableStats): TableStats = {
    rows += o.rows
    var i = 0
    while (i < Wire.Width) {
      nonNull(i) += o.nonNull(i); sumL(i) += o.sumL(i); sumD(i) += o.sumD(i)
      i += 1
    }
    this
  }

  def copy(): TableStats = new TableStats().add(this)
}

/** What a correct load of the generated day must produce, computed from
  * the typed values drawn before they were rendered to wire strings.
  * `seeded`/`unseeded` split each table's rows by [[Wire.inSeedHalf]].
  */
final class Ledger {
  var lines = 0L
  var bytes = 0L
  var allEmpty = 0L
  var malformed = 0L
  var emptyUuid = 0L
  val seeded: Map[String, TableStats] = Wire.tables.map(_ -> new TableStats()).toMap
  val unseeded: Map[String, TableStats] = Wire.tables.map(_ -> new TableStats()).toMap

  def day(table: String): TableStats = seeded(table).copy().add(unseeded(table))
  def dayRows: Map[String, Long] = Wire.tables.map(t => t -> day(t).rows).toMap

  def add(o: Ledger): Ledger = {
    lines += o.lines; bytes += o.bytes; allEmpty += o.allEmpty
    malformed += o.malformed; emptyUuid += o.emptyUuid
    Wire.tables.foreach { t =>
      seeded(t).add(o.seeded(t)); unseeded(t).add(o.unseeded(t))
    }
    this
  }
}

/** One typed value drawn for a column and the wire string it renders
  * to. `present` is false where the netted value is NULL; `l`/`d` hold
  * the value the ledger sums.
  */
final class Cell {
  var wire: String = ""
  var present: Boolean = false
  var l: Long = 0L
  var d: Double = 0.0

  def set(w: String, p: Boolean, lv: Long = 0L, dv: Double = 0.0): Unit = {
    wire = w; present = p; l = lv; d = dv
  }
}

/** Seeded HFP-day generator: writes `csv/<Group>/<date>T<hh>.csv` blobs
  * under a root (plus one decoy blob of the next day per group, which a
  * correct date-prefix scan never reads) and returns the [[Ledger]] of
  * the day. The same seed and size give byte-identical files: each blob
  * draws from its own random stream, and blobs are written and their
  * ledgers merged in a fixed order whatever the thread count.
  */
object DayGen {
  import Wire._

  // the day's mix: blobs per group, group shares, the VP deadrun share,
  // and the fractions of lines of each kind the load must drop
  private val VpFiles = 8
  private val StopFiles = 2
  private val OtherFiles = 2
  private val VpShare = 0.85
  private val StopShare = 0.10
  private val Deadrun = 0.10
  private val AllEmpty = 0.004
  private val Malformed = 0.003
  private val EmptyUuid = 0.004
  private val RepeatInFile = 0.006
  private val RepeatAcrossGroups = 0.002

  private val dayStartMs = (date: LocalDate) =>
    date.atStartOfDay(java.time.ZoneOffset.UTC).toInstant.toEpochMilli

  final case class Blob(group: String, name: String, lines: Int, stream: Long,
      date: LocalDate, hour: Int, decoy: Boolean)

  def blobs(date: LocalDate, lines: Int): Vector[Blob] = {
    val perGroup = Vector(
      ("StopEvent", StopFiles, StopShare),
      ("OtherEvent", OtherFiles, 1.0 - VpShare - StopShare),
      ("VehiclePosition", VpFiles, VpShare))
    val day = perGroup.zipWithIndex.flatMap { case ((g, files, share), gi) =>
      val total = math.round(lines * share).toInt
      (0 until files).map { f =>
        val n = total / files + (if (f < total % files) 1 else 0)
        val hour = 4 + f * 20 / files
        Blob(g, f"${date}T$hour%02d-$f.csv", n, gi * 1000L + f, date, hour, decoy = false)
      }
    }
    val next = date.plusDays(1)
    val decoys = perGroup.zipWithIndex.map { case ((g, _, _), gi) =>
      Blob(g, s"${next}T00-0.csv", 50, gi * 1000L + 999, next, 0, decoy = true)
    }
    day ++ decoys
  }

  /** Generate a day of `lines` lines under `root` with at most `threads`
    * writers.
    */
  def write(root: Path, date: LocalDate, seed: Long, lines: Int, threads: Int): Ledger = {
    val bs = blobs(date, lines)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val futures = bs.map { b =>
        pool.submit(new java.util.concurrent.Callable[Ledger] {
          override def call(): Ledger = writeBlob(root, b, seed)
        })
      }
      futures.zip(bs).foldLeft(new Ledger) { case (acc, (f, b)) =>
        val l = f.get()
        if (b.decoy) acc else acc.add(l)
      }
    } finally pool.shutdownNow()
  }

  private def mix(seed: Long, stream: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + stream * 0xBF58476D1CE4E5B9L + 0x94D049BB133111EBL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** A small pool of uuids every group draws from, so the same uuid
    * arrives in more than one group.
    */
  private def sharedUuids(seed: Long): Vector[String] = {
    val rng = new SplittableRandom(mix(seed, 424242L))
    Vector.fill(64)(uuid(rng))
  }

  def uuid(rng: SplittableRandom): String = {
    val hex = "0123456789abcdef"
    val sb = new java.lang.StringBuilder(36)
    var i = 0
    while (i < 32) {
      if (i == 8 || i == 12 || i == 16 || i == 20) sb.append('-')
      sb.append(hex.charAt(rng.nextInt(16)))
      i += 1
    }
    sb.toString
  }

  private def writeBlob(root: Path, b: Blob, seed: Long): Ledger = {
    val dir = root.resolve("csv").resolve(b.group)
    Files.createDirectories(dir)
    val rng = new SplittableRandom(mix(seed, b.stream))
    val shared = sharedUuids(seed)
    val ledger = new Ledger
    val row = new RowGen(rng, b, shared)
    val sb = new java.lang.StringBuilder(1 << 16)
    val out = Files.newBufferedWriter(dir.resolve(b.name), UTF_8)
    try {
      var i = 0
      while (i < b.lines) {
        sb.setLength(0)
        row.next(sb, ledger)
        sb.append('\n')
        val line = sb.toString
        out.write(line)
        ledger.bytes += line.getBytes(UTF_8).length
        ledger.lines += 1
        i += 1
      }
    } finally out.close()
    ledger
  }

  private val Opers = Vector(6, 12, 17, 18, 22, 30, 40, 47, 50, 90)
  private val Headsigns = Vector("Kamppi", "Itäkeskus", "Rautatientori, laituri 3",
        "Elielinaukio", "Kauppatori, Kolera-allas", "Munkkivuori", "Pasila")
  private val Locs = Vector("GPS", "ODO", "MAN", "DR", "N/A")
  private val Modes = Vector("bus", "tram", "train", "metro", "ferry", "ubus", "robot")
  private val IntZeros = Vector("0", "-0", "00", "+0")
  private val IntJunk = Vector("abc", "n/a", "-", "e5", "x12")
  private val FloatZeros = Vector("0", "0.0", "-0.0", "0e5", ".0")
  private val FloatJunk = Vector("abc", ".", "-", "e5", "NaN")
  private val Bools = Vector("true", "false", "0", "1", "", "false", "true")

  /** Draws one wire line at a time for a blob and books it in a ledger. */
  final class RowGen(rng: SplittableRandom, b: Blob, shared: Vector[String]) {
    private val cells = Array.fill(Width)(new Cell)
    private val colIdx: Map[String, Int] = names.zipWithIndex.toMap
    private val recent = new Array[String](32)
    private var nRecent = 0
    private val dayMs = dayStartMs(b.date)
    private val isVp = b.group == "VehiclePosition"
    private val eventTypes = b.group match {
      case "StopEvent" => Vector("ARS", "PDE", "DEP", "ARR", "PAS", "DUE", "WAIT")
      case "OtherEvent" => Vector("DOO", "DOC", "DA", "DOUT", "BA", "BOUT", "VJA", "VJOUT", "TLR", "TLA")
      case _ => Vector("VP")
    }

    def next(sb: java.lang.StringBuilder, ledger: Ledger): Unit = {
      val u = rng.nextDouble()
      if (u < AllEmpty) {
        var i = 1
        while (i < Width) { sb.append(','); i += 1 }
        ledger.allEmpty += 1
      } else if (u < AllEmpty + Malformed) {
        // ends before the uuid column: under PERMISSIVE padding the uuid
        // is NULL and the key filter drops it; a quarantine drops it too
        drawRow()
        val n = 3 + rng.nextInt(UuidIdx - 3)
        var i = 0
        while (i < n) {
          if (i > 0) sb.append(',')
          sb.append(if (cells(i).wire.isEmpty) "x" else cells(i).wire)
          i += 1
        }
        ledger.malformed += 1
      } else {
        drawRow()
        val id =
          if (rng.nextDouble() < EmptyUuid) ""
          else {
            val r = rng.nextDouble()
            if (r < RepeatInFile && nRecent > 0) recent(rng.nextInt(math.min(nRecent, recent.length)))
            else if (r < RepeatInFile + RepeatAcrossGroups) shared(rng.nextInt(shared.size))
            else {
              val fresh = uuid(rng)
              recent(nRecent % recent.length) = fresh
              nRecent += 1
              fresh
            }
          }
        cells(UuidIdx).set(id, id.nonEmpty, id.length)
        var i = 0
        while (i < Width) {
          if (i > 0) sb.append(',')
          sb.append(cells(i).wire)
          i += 1
        }
        if (id.isEmpty) ledger.emptyUuid += 1
        else {
          val jt = cells(colIdx("journey_type"))
          val table =
            if (!isVp) if (b.group == "StopEvent") "stopevent" else "otherevent"
            else if (jt.present && jt.wire.trim == "journey") "vehicleposition"
            else "unsignedevent"
          book(if (inSeedHalf(id)) ledger.seeded(table) else ledger.unseeded(table))
        }
      }
    }

    private def book(s: TableStats): Unit = {
      s.rows += 1
      var i = 0
      while (i < Width) {
        val c = cells(i)
        if (c.present) {
          s.nonNull(i) += 1
          kinds(i) match {
            case FloatK => s.sumD(i) += c.d
            case BoolK => ()
            case _ => s.sumL(i) += c.l
          }
        }
        i += 1
      }
    }

    private def pick[A](xs: Vector[A]): A = xs(rng.nextInt(xs.size))

    private def drawRow(): Unit = {
      val vehicle = 1 + rng.nextInt(1500)
      val oper = pick(Opers)
      val line = 1000 + rng.nextInt(9000)
      val lat = 60_100_000L + rng.nextInt(250_000)
      val lon = 24_700_000L + rng.nextInt(500_000)
      val tstMs = dayMs + b.hour * 3_600_000L + rng.nextInt(3_600_000)
      def c(n: String) = cells(colIdx(n))
      floatCell(c("acc"), -300 + rng.nextInt(601), 2)
      strCell(c("desi"), (line % 1000).toString)
      intCell(c("dir"), 1 + rng.nextInt(2))
      intCell(c("direction_id"), 1 + rng.nextInt(2))
      intCell(c("dl"), -600 + rng.nextInt(1201))
      intCell(c("dr_type"), rng.nextInt(2))
      boolCell(c("drst"))
      strCell(c("event_type"), pick(eventTypes))
      intCell(c("geohash_level"), rng.nextInt(6))
      intCell(c("hdg"), rng.nextInt(360))
      strCell(c("headsign"), pick(Headsigns))
      boolCell(c("is_ongoing"))
      val startH = 4 + rng.nextInt(20)
      val startM = rng.nextInt(60)
      strCell(c("journey_start_time"), f"$startH%02d:$startM%02d:00")
      val jt = rng.nextDouble()
      if (!isVp || jt >= Deadrun + 0.02) {
        if (rng.nextDouble() < 0.01) c("journey_type").set(" journey ", true, 7)
        else strCell(c("journey_type"), "journey", pNull = 0.0)
      } else if (jt < 0.01) c("journey_type").set("", false)
      else if (jt < 0.02) strCell(c("journey_type"), "signoff", pNull = 0.0)
      else strCell(c("journey_type"), "deadrun", pNull = 0.0)
      intCell(c("jrn"), 1 + rng.nextInt(2000))
      floatCell(c("lat"), lat, 6)
      intCell(c("line"), line)
      strCell(c("loc"), pick(Locs))
      floatCell(c("long"), lon, 6)
      strCell(c("mode"), pick(Modes))
      strCell(c("next_stop_id"), if (rng.nextInt(20) == 0) "EOL" else (1_000_000 + rng.nextInt(9_000_000)).toString)
      intCell(c("occu"), rng.nextInt(101), pZero = 0.3)
      dateCell(c("oday"), tstMs)
      floatCell(c("odo"), rng.nextInt(400_000), 0)
      intCell(c("oper"), oper)
      intCell(c("owner_operator_id"), oper)
      tsCell(c("received_at"), tstMs + 50 + rng.nextInt(2000), pNull = 0.02)
      strCell(c("route_id"), s"${line}K")
      strCell(c("route"), line.toString)
      intCell(c("seq"), 1 + rng.nextInt(3))
      floatCell(c("spd"), rng.nextInt(3001), 2, pZero = 0.1)
      strCell(c("start"), f"$startH%02d:$startM%02d")
      intCell(c("stop"), 1_000_000 + rng.nextInt(9_000_000))
      floatCell(c("topic_latitude"), lat - lat % 1000, 6)
      floatCell(c("topic_longitude"), lon - lon % 1000, 6)
      strCell(c("topic_prefix"), "/hfp/")
      strCell(c("topic_version"), "v2")
      intCell(c("tsi"), tstMs / 1000)
      tsCell(c("tst"), tstMs, pNull = 0.0)
      strCell(c("unique_vehicle_id"), f"$oper%04d/$vehicle%05d")
      intCell(c("veh"), vehicle)
      strCell(c("vehicle_number"), vehicle.toString)
      intCell(c("version"), 1 + rng.nextInt(3))
    }

    /** JS `parseInt` renderings of `v`, then K2's 0 → NULL. */
    private def intCell(c: Cell, v: Long, pNull: Double = 0.03, pZero: Double = 0.02): Unit = {
      val u = rng.nextDouble()
      if (u < pNull) c.set("", false)
      else if (u < pNull + pZero || v == 0) c.set(pick(IntZeros), false)
      else if (u < pNull + pZero + 0.01) c.set(pick(IntJunk), false)
      else {
        val s = v.toString
        val w = rng.nextInt(100) match {
          case 0 if v > 0 => "+" + s
          case 1 => s + "px"
          case 2 => s + ".75"
          case 3 => s + "e3"
          case 4 => s"  $s "
          case 5 => "\"" + s + "\""
          case _ => s
        }
        c.set(w, true, v)
      }
    }

    /** JS `parseFloat` renderings of `unscaled × 10^-scale`, then 0 → NULL. */
    private def floatCell(c: Cell, unscaled: Long, scale: Int, pNull: Double = 0.03,
        pZero: Double = 0.02): Unit = {
      val u = rng.nextDouble()
      if (u < pNull) c.set("", false)
      else if (u < pNull + pZero || unscaled == 0)
        c.set(pick(FloatZeros), false)
      else if (u < pNull + pZero + 0.01) c.set(pick(FloatJunk), false)
      else {
        val bd = java.math.BigDecimal.valueOf(unscaled, scale)
        val plain = bd.toPlainString
        val w = rng.nextInt(100) match {
          case 0 | 1 =>
            val st = bd.stripTrailingZeros
            val digits = st.unscaledValue.abs.toString
            val exp = digits.length - 1 - st.scale
            val mant = if (digits.length > 1) s"${digits.head}.${digits.tail}" else digits
            val e = if (exp >= 0 && rng.nextBoolean()) s"E+$exp" else s"e$exp"
            (if (unscaled < 0) "-" else "") + mant + e
          case 2 if plain.startsWith("0.") => plain.substring(1)
          case 3 if plain.startsWith("-0.") => "-" + plain.substring(2)
          case 4 if unscaled > 0 => "+" + plain
          case 5 => plain + "abc"
          case 6 => s" $plain  "
          case 7 => "\"" + plain + "\""
          case _ => plain
        }
        c.set(w, true, dv = unscaled.toDouble / math.pow(10, scale))
      }
    }

    /** JS truthiness: any non-empty string is true, "false" and "0" too. */
    private def boolCell(c: Cell): Unit = {
      val w = pick(Bools)
      c.set(w, w.nonEmpty)
    }

    /** ISO-8601 (with `Z` or an offset) or epoch milliseconds. */
    private def tsCell(c: Cell, ms: Long, pNull: Double): Unit = {
      if (rng.nextDouble() < pNull) c.set("", false)
      else {
        val w = rng.nextInt(10) match {
          case 0 | 1 => ms.toString
          case 2 =>
            Instant.ofEpochMilli(ms).atOffset(java.time.ZoneOffset.ofHours(3))
              .format(java.time.format.DateTimeFormatter.ISO_OFFSET_DATE_TIME)
          case _ => Instant.ofEpochMilli(ms).toString
        }
        c.set(w, true, (ms - dayMs) * 1000L)
      }
    }

    /** The operating day, ISO or as epoch milliseconds within the day. */
    private def dateCell(c: Cell, ms: Long): Unit = {
      val w = if (rng.nextInt(50) == 0) ms.toString else b.date.toString
      c.set(w, true, b.date.toEpochDay)
    }

    /** Empty → NULL; commas are quoted, some values carry edge blanks. */
    private def strCell(c: Cell, v: String, pNull: Double = 0.02): Unit = {
      if (rng.nextDouble() < pNull) c.set("", false)
      else {
        val w =
          if (v.indexOf(',') >= 0) (if (rng.nextBoolean()) " \"" + v + "\"" else "\"" + v + "\"")
          else if (rng.nextInt(50) == 0) s" $v  "
          else v
        c.set(w, true, v.length)
      }
    }
  }
}
