package graft.loadbench

import java.nio.file.{Files, Path}
import java.time.LocalDate
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, lit}
import org.scalatest.funsuite.AnyFunSuite
import graft.jobs.HfpLoadJob
import graft.sources.HfpCsvSource

class LoadBenchSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = LoadBench.session(4, Files.createTempDirectory("lbwork"))

  private val date = LocalDate.parse("2026-03-12")
  private val dayMs = date.toEpochDay * 86_400_000L

  private def files(root: Path): Map[String, Seq[Byte]] = {
    val s = Files.walk(root)
    try s.filter(Files.isRegularFile(_)).toArray.map(_.asInstanceOf[Path])
      .map(p => root.relativize(p).toString -> Files.readAllBytes(p).toSeq).toMap
    finally s.close()
  }

  private def sameStats(a: TableStats, b: TableStats): Boolean =
    a.rows == b.rows && a.nonNull.sameElements(b.nonNull) &&
      a.sumL.sameElements(b.sumL) && a.sumD.sameElements(b.sumD)

  test("the wire schema is the program's 44 columns in order") {
    assert(Wire.names == HfpCsvSource.columns.toVector)
  }

  test("the generator is byte-identical for the same seed, whatever the thread count") {
    val lines = 3000
    val (a, b, c) = (Files.createTempDirectory("gen"), Files.createTempDirectory("gen"),
      Files.createTempDirectory("gen"))
    val la = DayGen.write(a, date, 7L, lines, threads = 1)
    val lb = DayGen.write(b, date, 7L, lines, threads = 4)
    DayGen.write(c, date, 8L, lines, threads = 4)
    assert(files(a).keySet.size == DayGen.blobs(date, lines).size)
    assert(files(a) == files(b))
    assert(files(a) != files(c))
    assert(la.lines == 3000 && la.bytes == lb.bytes)
    Wire.tables.foreach { t =>
      assert(sameStats(la.seeded(t), lb.seeded(t)) && sameStats(la.unseeded(t), lb.unseeded(t)))
    }
    // the day carries every kind of line the benchmark counts on
    assert(la.allEmpty > 0 && la.malformed > 0 && la.emptyUuid > 0)
    assert(Wire.tables.forall(t => la.seeded(t).rows > 0 && la.unseeded(t).rows > 0))
  }

  /** Expected statistics of hand-typed rows: each value is what the
    * reference's cast and the sink's netting leave (null for NULL).
    */
  private def expect(rows: Seq[Map[String, Any]]): TableStats = {
    val s = new TableStats()
    rows.foreach { r =>
      s.rows += 1
      Wire.names.zipWithIndex.foreach { case (n, i) =>
        r(n) match {
          case null => ()
          case v: Long => s.nonNull(i) += 1; s.sumL(i) += v
          case v: Double => s.nonNull(i) += 1; s.sumD(i) += v
          case true => s.nonNull(i) += 1
          case v: String => s.nonNull(i) += 1; s.sumL(i) += v.length
          case v => fail(s"unexpected value $v")
        }
      }
    }
    s
  }

  test("a hand-worked tiny day loads exactly as its ledger says") {
    // a plain row: wire strings and the typed values they net to
    val base: Map[String, (String, Any)] = Wire.columns.map { case (n, k) =>
      n -> (k match {
        case Wire.IntK => ("7", 7L)
        case Wire.FloatK => ("1.5", 1.5)
        case Wire.BoolK => ("true", true)
        case Wire.TsK => ("2026-03-12T01:00:00Z", 3_600_000_000L)
        case Wire.DateK => ("2026-03-12", date.toEpochDay)
        case Wire.StrK => ("ab", "ab")
      })
    }.toMap + ("journey_type" -> ("journey", "journey"))
    def row(uuid: String, over: (String, (String, Any))*): Map[String, (String, Any)] =
      base ++ over + ("uuid" -> (uuid, uuid))
    def line(r: Map[String, (String, Any)]) = Wire.names.map(r(_)._1).mkString(",")
    def typed(r: Map[String, (String, Any)]) = r.map { case (n, (_, v)) => n -> v }

    val s1 = row("s1",
      "dir" -> ("0", null), // parseInt 0, netted to NULL
      "drst" -> ("false", true), // JS truthiness: a non-empty string
      "is_ongoing" -> ("0", true),
      "tst" -> ("2026-03-12T08:00:00.500Z", 28_800_500_000L)) // ISO
    val s2 = row("s2",
      "tst" -> ((dayMs + 3_600_250L).toString, 3_600_250_000L), // epoch ms
      "drst" -> ("", null),
      "acc" -> ("0.0", null),
      "headsign" -> ("\"Kamppi, laituri 3\"", "Kamppi, laituri 3"),
      "spd" -> ("1e1", 10.0),
      "hdg" -> ("12px", 12L),
      "dl" -> ("-3.9", -3L),
      "desi" -> ("  55 ", "55"))
    val v1 = row("v1")
    val v2 = row("v2", "journey_type" -> ("deadrun", "deadrun"))
    val o1 = row("o1", "lat" -> (".25", 0.25), "long" -> ("abc", null))
    val root = Files.createTempDirectory("tiny")
    def put(group: String, lines: String*): Unit = {
      val d = root.resolve("csv").resolve(group)
      Files.createDirectories(d)
      Files.writeString(d.resolve(s"${date}T04-0.csv"), lines.mkString("", "\n", "\n"))
    }
    put("StopEvent", line(s1), "1.5,abc,7,1", line(s2), "," * 43) // short line, all-empty line
    put("VehiclePosition", line(v1), line(v2))
    put("OtherEvent", line(row("")), line(o1)) // empty uuid
    val expected = Map(
      "stopevent" -> expect(Seq(typed(s1), typed(s2))),
      "otherevent" -> expect(Seq(typed(o1))),
      "vehicleposition" -> expect(Seq(typed(v1))),
      "unsignedevent" -> expect(Seq(typed(v2))))

    val sink = Files.createTempDirectory("tinysink")
    val appended = HfpLoadJob.loadDay(spark, root.toString, sink.toString, date.toString)
    assert(Checker.compareCounts("appended", expected.map { case (t, s) => t -> s.rows }, appended)
      .isEmpty, appended)
    Wire.tables.foreach { t =>
      val got = Checker.measure(spark.read.parquet(sink.resolve(t).toString)
        .where(col("oday") === lit(date.toString)), date)
      assert(Checker.compare(t, expected(t), got).isEmpty, Checker.compare(t, expected(t), got))
    }
  }

  test("a generated day loads exactly as its ledger says") {
    val root = Files.createTempDirectory("genday")
    val ledger = DayGen.write(root, date, 11L, 4000, threads = 2)
    val sink = Files.createTempDirectory("gensink")
    val appended = HfpLoadJob.loadDay(spark, root.toString, sink.toString, date.toString)
    assert(Checker.compareCounts("appended", ledger.dayRows, appended).isEmpty)
    Wire.tables.foreach { t =>
      val errs = Checker.compare(t, ledger.day(t), Checker.measure(
        spark.read.parquet(sink.resolve(t).toString), date))
      assert(errs.isEmpty, errs)
    }
  }

  test("the checker rejects a ledger that is off by one") {
    val ledger = DayGen.write(Files.createTempDirectory("gen1"), date, 3L, 1000, 1)
    val good = ledger.day("vehicleposition")
    assert(Checker.compare("vp", good, good.copy()).isEmpty)
    val rows = good.copy(); rows.rows += 1
    assert(Checker.compare("vp", good, rows).exists(_.contains("rows")))
    val i = Wire.idx("dl")
    val nn = good.copy(); nn.nonNull(i) += 1
    assert(Checker.compare("vp", good, nn).exists(_.contains("vp.dl: non-null")))
    val sl = good.copy(); sl.sumL(i) -= 1
    assert(Checker.compare("vp", good, sl).exists(_.contains("vp.dl: sum")))
    val f = Wire.idx("lat")
    val sd = good.copy(); sd.sumD(f) += 60.17
    assert(Checker.compare("vp", good, sd).exists(_.contains("vp.lat: sum")))
    val counts = ledger.dayRows
    assert(Checker.compareCounts("appended", counts, counts).isEmpty)
    assert(Checker.compareCounts("appended", counts,
      counts.updated("unsignedevent", counts("unsignedevent") - 1)).nonEmpty)
  }
}
