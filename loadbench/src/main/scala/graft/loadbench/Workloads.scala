package graft.loadbench

import java.nio.file.{Files, Path}
import java.time.LocalDate
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import graft.jobs.HfpLoadJob
import graft.sources.{DaySink, JdbcDaySink, ParquetDaySink}

/** One benchmark workload: a sink kept in a known state around every
  * timed `loadDay`. Everything here except the load itself runs outside
  * the timed section.
  */
trait Workload {
  /** Seeds the sink. Runs the session's first `loadDay`, which is timed
    * on its own as `first_load_s` and checked; returns its time and the
    * check's differences.
    */
  def prepare(): (Double, Seq[String])

  /** Puts the sink in the state every timed load starts from. */
  def beforeLoad(): Unit

  /** The sink the next load writes to. */
  def sink: DaySink

  /** Every difference between the sink after a load and the ledger:
    * appended and total rows per table, and with `full` the day's
    * per-column checksums too.
    */
  def check(appended: Map[String, Long], full: Boolean): Seq[String]

  /** Undoes what `beforeLoad` and the load left behind. */
  def afterLoad(): Unit

  /** A copy of the start state that layer calls may append into, and
    * its clean-up.
    */
  def throwawaySink(): (DaySink, () => Unit)
}

object Workload {
  /** One `loadDay`: its wall seconds and the rows it appended per table. */
  private[loadbench] def timedLoad(spark: SparkSession, csvRoot: String, sink: DaySink,
      date: LocalDate): (Double, Map[String, Long]) = {
    val t0 = System.nanoTime()
    val res = HfpLoadJob.loadDay(spark, csvRoot, sink, date.toString)
    ((System.nanoTime() - t0) / 1e9, res)
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.delete(x))
      finally s.close()
    }

  /** `f` for every sink table, up to `threads` at a time, in table order. */
  def perTable[A](threads: Int)(f: String => A): Seq[A] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(math.min(threads, Wire.tables.size))
    try {
      val futures = Wire.tables.map(t => pool.submit(new java.util.concurrent.Callable[A] {
        override def call(): A = f(t)
      }))
      futures.map { fut =>
        try fut.get()
        catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
      }
    } finally pool.shutdownNow()
  }

  def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.forEach { x =>
      val dst = to.resolve(from.relativize(x).toString)
      if (Files.isDirectory(x)) Files.createDirectories(dst) else Files.copy(x, dst)
    } finally s.close()
  }
}

/** `fresh_day` and `rerun_day`: the parquet warehouse. Setup loads the
  * day once (the session's first load) and copies its partition as
  * `EarlierDays` earlier operating days. `fresh_day` then drops the day
  * itself, so every timed load starts from a pristine copy holding only
  * the earlier days; `rerun_day` keeps it, so every timed load dedups
  * the whole day and appends nothing.
  */
final class ParquetDay(spark: SparkSession, work: Path, csvRoot: String,
    date: LocalDate, ledger: Ledger, rerun: Boolean, cores: Int)
    extends Workload {
  import Workload._

  private val EarlierDays = 3
  private val base = work.resolve("warehouse")
  private var current = base
  private var copies = 0

  def sink: DaySink = ParquetDaySink(current.toString)

  private def dayOnly(dir: Path, table: String): DataFrame =
    spark.read.parquet(dir.resolve(table).toString).where(col("oday") === lit(date.toString))

  private def checkSink(dir: Path, full: Boolean): Seq[String] = perTable(cores) { t =>
    val total = spark.read.parquet(dir.resolve(t).toString).count()
    val want = (EarlierDays + 1) * ledger.day(t).rows
    (if (full) Checker.compare(s"sink.$t", ledger.day(t), Checker.measure(dayOnly(dir, t), date))
    else Nil) ++ (if (total != want) Seq(s"sink.$t: total rows $total != expected $want") else Nil)
  }.flatten

  def prepare(): (Double, Seq[String]) = {
    val (s, res) = timedLoad(spark, csvRoot, ParquetDaySink(base.toString), date)
    val errs = Checker.compareCounts("first_load", ledger.dayRows, res) ++ perTable(cores) { t =>
      Checker.compare(s"first_load.$t", ledger.day(t), Checker.measure(dayOnly(base, t), date))
    }.flatten
    // the partition value lives in the directory name, so a copy of the
    // day's directory is the same rows on an earlier operating day
    for (t <- Wire.tables; k <- 1 to EarlierDays)
      copyTree(base.resolve(t).resolve(s"oday=$date"),
        base.resolve(t).resolve(s"oday=${date.minusDays(k.toLong)}"))
    if (!rerun) Wire.tables.foreach(t => deleteTree(base.resolve(t).resolve(s"oday=$date")))
    (s, errs ++ (if (rerun) checkSink(base, full = false) else Nil))
  }

  private def freshCopy(): Path = {
    copies += 1
    val dst = work.resolve(s"warehouse-$copies")
    copyTree(base, dst)
    dst
  }

  def beforeLoad(): Unit = if (!rerun) current = freshCopy()

  def check(appended: Map[String, Long], full: Boolean): Seq[String] = {
    val want = if (rerun) ledger.dayRows.map { case (t, _) => t -> 0L } else ledger.dayRows
    Checker.compareCounts("appended", want, appended) ++ checkSink(current, full)
  }

  def afterLoad(): Unit = if (!rerun) { deleteTree(current); current = base }

  def throwawaySink(): (DaySink, () => Unit) = {
    val dst = freshCopy()
    (ParquetDaySink(dst.toString), () => deleteTree(dst))
  }
}

/** `jdbc_resume_day`: embedded in-memory Derby behind `JdbcDaySink`, its
  * tables created by the sink's own DDL bootstrap. Setup loads the whole
  * day (the session's first load), copies it back as the previous
  * operating day, and deletes the day's rows outside the seeded half
  * ([[Wire.inSeedHalf]]): the state a load that failed partway leaves.
  * Each timed load appends the other half; `afterLoad` deletes it again.
  */
final class JdbcResume(spark: SparkSession, work: Path, csvRoot: String,
    date: LocalDate, ledger: Ledger, cores: Int)
    extends Workload {
  import Workload._

  /** The reference's deployed `EVENT_BATCH_SIZE` and `INSERT_CONCURRENCY`,
    * the latter capped at the core count.
    */
  private val BatchSize = 2000
  private val InsertConcurrency = math.min(10, cores)

  private val url = s"jdbc:derby:memory:loadbench${ProcessHandle.current().pid()};create=true"
  val sink: DaySink = JdbcDaySink(url, batchSize = BatchSize,
    numPartitions = InsertConcurrency, bootstrapDdl = true)

  private def sql(stmt: String): Int = {
    val conn = java.sql.DriverManager.getConnection(url)
    try conn.createStatement().executeUpdate(stmt) finally conn.close()
  }

  private def table(t: String): DataFrame =
    spark.read.jdbc(url, t, new java.util.Properties())

  private def dayOnly(t: String): DataFrame = table(t).where(col("oday") === lit(date.toString))

  private def restoreSeed(): Unit = {
    val digits = "0123456789abcdef".filterNot(Wire.SeedDigits.contains(_)).map(d => s"'$d'")
    Wire.tables.foreach(t => sql(s"DELETE FROM $t WHERE oday = DATE('$date') " +
      s"AND SUBSTR(uuid, 36, 1) IN (${digits.mkString(", ")})"))
  }

  private def checkSink(full: Boolean): Seq[String] = perTable(cores) { t =>
    val total = table(t).count()
    val want = 2 * ledger.day(t).rows
    (if (full) Checker.compare(s"sink.$t", ledger.day(t), Checker.measure(dayOnly(t), date))
    else Nil) ++ (if (total != want) Seq(s"sink.$t: total rows $total != expected $want") else Nil)
  }.flatten

  def prepare(): (Double, Seq[String]) = {
    val (s, res) = timedLoad(spark, csvRoot, sink, date)
    val first = Checker.compareCounts("first_load", ledger.dayRows, res) ++ checkFirstLoad()
    val cols = Wire.names.map(c => if (c == "oday") s"DATE('${date.minusDays(1)}')" else c)
    Wire.tables.foreach(t => sql(s"INSERT INTO $t (${Wire.names.mkString(", ")}) " +
      s"SELECT ${cols.mkString(", ")} FROM $t WHERE oday = DATE('$date')"))
    restoreSeed()
    val seeded = Wire.tables.flatMap(t =>
      Checker.compare(s"seed.$t", ledger.seeded(t), Checker.measure(dayOnly(t), date)))
    (s, first ++ seeded)
  }

  private def checkFirstLoad(): Seq[String] = Wire.tables.flatMap(t =>
    Checker.compare(s"first_load.$t", ledger.day(t), Checker.measure(dayOnly(t), date)))

  def beforeLoad(): Unit = ()

  def check(appended: Map[String, Long], full: Boolean): Seq[String] =
    Checker.compareCounts("appended", Wire.tables.map(t => t -> ledger.unseeded(t).rows).toMap,
      appended) ++ checkSink(full)

  def afterLoad(): Unit = restoreSeed()

  def throwawaySink(): (DaySink, () => Unit) = (sink, () => restoreSeed())
}
