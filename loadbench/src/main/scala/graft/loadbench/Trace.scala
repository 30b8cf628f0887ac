package graft.loadbench

import java.nio.file.{Files, Path}
import java.time.LocalDate
import scala.collection.mutable
import org.apache.spark.LoadBenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.functions.col
import graft.functions.HfpCasts
import graft.jobs.HfpLoadJob
import graft.sources.{DaySink, FsUtil, HfpCsvSource}

/** Scheduler totals over one traced load. */
final case class SchedulerCounts(jobs: Long, stages: Long, tasks: Long, failures: Long,
    runS: Double, maxTaskS: Double, schedulerDelayS: Double, shuffleBytes: Long,
    spillBytes: Long, exchanges: Long)

/** Counts what Spark's scheduler did between `reset` and a drained
  * `snapshot`: jobs, stages, tasks, task time, shuffle and spill bytes,
  * task failures, and the exchanges in each SQL
  * execution's final plan.
  */
final class SchedulerListener extends SparkListener {
  private var jobs, stages, tasks, failures = 0L
  private var runMs, maxTaskMs, delayMs, shuffleBytes, spillBytes = 0L
  private val plans = mutable.Map[Long, SparkPlanInfo]()

  def reset(): Unit = synchronized {
    jobs = 0; stages = 0; tasks = 0; failures = 0
    runMs = 0; maxTaskMs = 0; delayMs = 0; shuffleBytes = 0; spillBytes = 0
    plans.clear()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized { stages += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    if (!e.taskInfo.successful) failures += 1
    val m = e.taskMetrics
    if (m != null) {
      val d = e.taskInfo.duration
      runMs += m.executorRunTime
      maxTaskMs = math.max(maxTaskMs, d)
      delayMs += math.max(0L, d - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - e.taskInfo.gettingResultTime)
      shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      spillBytes += m.diskBytesSpilled
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized(plans(s.executionId) = s.sparkPlanInfo)
    case u: SparkListenerSQLAdaptiveExecutionUpdate => synchronized(plans(u.executionId) = u.sparkPlanInfo)
    case _ => ()
  }

  private def exchanges(p: SparkPlanInfo): Long =
    (if (p.nodeName == "Exchange" || p.nodeName == "BroadcastExchange") 1L else 0L) +
      p.children.map(exchanges).sum

  def snapshot(sc: org.apache.spark.SparkContext): SchedulerCounts = {
    LoadBenchBus.drain(sc)
    synchronized {
      SchedulerCounts(jobs, stages, tasks, failures, runMs / 1e3, maxTaskMs / 1e3, delayMs / 1e3,
        shuffleBytes, spillBytes, plans.values.map(exchanges).sum)
    }
  }
}

/** A timed interval at a layer boundary. Spans of one run share `run`. */
final case class Span(name: String, start: Long, end: Long, parent: String, run: String) {
  def seconds: Double = (end - start) / 1e9
}

/** Keeps spans in memory; `write` puts them in a trace file at the end. */
final class Tracer(val run: String) {
  val spans = mutable.ArrayBuffer[Span]()

  def span[A](name: String, parent: String)(f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    val s = Span(name, t0, System.nanoTime(), parent, run)
    spans += s
    (a, s.seconds)
  }

  def write(file: Path, layers: Seq[(String, Double)], loadS: Double): Unit = {
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val t0 = spans.map(_.start).minOption.getOrElse(0L)
    val ss = spans.map(s => s"""{"name":${q(s.name)},"start_s":${(s.start - t0) / 1e9},""" +
      s""""end_s":${(s.end - t0) / 1e9},"parent":${q(s.parent)},"run":${q(s.run)}}""")
    val ls = layers.map { case (n, v) =>
      s"""{"layer":${q(n)},"self_s":$v,"share_of_load":${v / loadS}}""" }
    Files.createDirectories(file.getParent)
    Files.writeString(file, s"""{"run":${q(run)},"load_s":$loadS,""" +
      s""""layers":[${ls.mkString(",\n")}],\n"spans":[${ss.mkString(",\n")}]}""" + "\n")
  }
}

/** The traced run's isolated layer calls. Each layer is reached through
  * its public entry point; a lazy layer is forced with a `noop` write of
  * its prefix (scan, scan+cast, …) and its self time is that prefix's
  * time minus the previous prefix's.
  */
object Layers {

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** The program's own key filter and VP routing (inside `loadDay`). */
  private def keyFilter(df: DataFrame): DataFrame =
    df.where(col("uuid").isNotNull && col("uuid") =!= "")

  private def routes(group: String, table: String, kept: DataFrame): Seq[(String, DataFrame)] =
    if (group == "VehiclePosition") Seq(
      "vehicleposition" -> kept.where(col("journey_type") === "journey"),
      "unsignedevent" -> kept.where(col("journey_type").isNull || col("journey_type") =!= "journey"))
    else Seq(table -> kept)

  /** The cast-type table's builders, as `castAll` applies them. */
  private def castFn(castType: String): Column => Column = castType match {
    case "int" => HfpCasts.castInt
    case "float" => HfpCasts.castFloat
    case "boolean" => HfpCasts.castBool
    case "isodate" => HfpCasts.castTimestamp
    case "date" => HfpCasts.castDate
    case _ => HfpCasts.castString
  }

  private val families: Seq[(String, String => Boolean)] = Seq(
    "int" -> (_ == "int"), "float" -> (_ == "float"), "isodate" -> (_ == "isodate"),
    "rest" -> (t => t != "int" && t != "float" && t != "isodate"))

  /** Casts one family's columns, leaving the others as wire strings. */
  private def castFamily(raw: DataFrame, inFamily: String => Boolean): DataFrame =
    raw.select(HfpCsvSource.columns.map { c =>
      val t = HfpCsvSource.castTypes(c)
      if (inFamily(t)) castFn(t)(col(c)).as(c) else col(c)
    }: _*)

  /** Runs every layer once against `sink`, a throwaway copy of the
    * workload's start state, and returns the per-layer metrics plus any
    * count that differs from the ledger.
    */
  def run(spark: SparkSession, tracer: Tracer, csvRoot: String, date: LocalDate,
      sink: DaySink, sinkDir: Option[Path],
      ledger: Ledger): (Seq[(String, Double)], Seq[String]) = {
    val m = mutable.LinkedHashMap[String, Double]()
    def add(k: String, v: Double): Unit = m(k) = m.getOrElse(k, 0.0) + v
    val root = "layers"
    val groups = HfpLoadJob.groups.map { case (g, t) =>
      (g, t, FsUtil.escapeGlob(s"$csvRoot/csv/$g/$date") + "*")
    }
    groups.foreach { case (g, _, p) =>
      add("probe.self_s", tracer.span(s"probe/$g", root)(FsUtil.globNonEmpty(spark, p))._2)
    }

    // scan and cast prefixes, per group
    var scannedRows = 0L
    groups.foreach { case (g, _, p) =>
      val scanS = tracer.span(s"scan/$g", root)(noop(HfpCsvSource.read(spark, p)))._2
      add("scan.self_s", scanS)
      val lines = spark.read.text(p).count()
      val rows = HfpCsvSource.read(spark, p).count()
      scannedRows += rows
      add("scan.lines_in", lines.toDouble)
      add("scan.skipped_empty", (lines - rows).toDouble)
      add("scan.partitions", HfpCsvSource.read(spark, p).rdd.getNumPartitions.toDouble)
      val path = new org.apache.hadoop.fs.Path(p)
      val st = path.getFileSystem(spark.sparkContext.hadoopConfiguration).globStatus(path)
      add("scan.input_bytes", st.map(_.getLen).sum.toDouble)
      val castS = tracer.span(s"cast/$g", root)(
        noop(HfpCsvSource.castAll(HfpCsvSource.read(spark, p))))._2
      add("cast.self_s", castS - scanS)
      families.foreach { case (f, in) =>
        val fs = tracer.span(s"cast.$f/$g", s"cast/$g")(
          noop(castFamily(HfpCsvSource.read(spark, p), in)))._2
        add(s"cast.$f.self_s", fs - scanS)
      }
    }
    m("scan.rows_per_s") = m("scan.lines_in") / m("scan.self_s")
    m("cast.rows_per_s") = scannedRows / m("cast.self_s")

    // key filter and routes (counts), snapshot, anti-join, append
    val errs = mutable.ArrayBuffer[String]()
    var keysLargest = -1L
    var broadcastLargest = 0.0
    groups.foreach { case (g, t, p) =>
      val typed = HfpCsvSource.castAll(HfpCsvSource.read(spark, p))
      val kept = keyFilter(typed)
      add("keyfilter.dropped", (typed.count() - kept.count()).toDouble)
      val scope = if (g == "VehiclePosition") Seq("vehicleposition", "unsignedevent") else Seq(t)
      val ((build, unpin), snapS) = tracer.span(s"snapshot/$g", root) {
        HfpLoadJob.pinnedBuildSide(scope.map(sink.existingKeys(spark, _, date.toString)).reduce(_ union _))
      }
      add("snapshot.self_s", snapS)
      val keys = build.count()
      add("snapshot.keys", keys.toDouble)
      if (keys > keysLargest) {
        keysLargest = keys
        broadcastLargest = if (keys <= HfpLoadJob.broadcastKeyRows(spark)) 1.0 else 0.0
      }
      try routes(g, t, kept).foreach { case (table, df) =>
        val n = df.count()
        add(s"route.$table.rows", n.toDouble)
        if (n != ledger.day(table).rows)
          errs += s"route.$table.rows: $n != expected ${ledger.day(table).rows}"
        // the route is materialized first, so the anti-join's prefix
        // difference is not lost in the noise of re-running scan and cast
        val routed = df.localCheckpoint()
        val routeS = tracer.span(s"route/$table", root)(noop(routed))._2
        val fresh = routed.join(build, Seq("uuid"), "left_anti")
        val antiS = tracer.span(s"antijoin/$table", root)(noop(fresh))._2
        add("antijoin.self_s", antiS - routeS)
        add("antijoin.rows_in", n.toDouble)
        val frozen = fresh.localCheckpoint()
        val out = frozen.count()
        add("antijoin.rows_out", out.toDouble)
        val before = sinkDir.map(dirStats)
        add("append.self_s", tracer.span(s"append/$table", root)(sink.append(frozen, table))._2)
        add("append.rows", out.toDouble)
        before.foreach { case (files0, bytes0) =>
          val (files1, bytes1) = dirStats(sinkDir.get)
          add("append.files", (files1 - files0).toDouble)
          add("append.bytes_written", (bytes1 - bytes0).toDouble)
        }
        frozen.rdd.unpersist(false)
        routed.rdd.unpersist(false)
      } finally unpin()
    }
    m("snapshot.broadcast") = broadcastLargest
    m("antijoin.kept_ratio") = m("antijoin.rows_out") / m("antijoin.rows_in")
    m.getOrElseUpdate("append.files", 0.0)
    m.getOrElseUpdate("append.bytes_written", 0.0)
    m("append.rows_per_s") = m.remove("append.rows").get / m("append.self_s")
    m("append.bytes_per_input_byte") = m("append.bytes_written") / m("scan.input_bytes")
    if (m("scan.lines_in") != ledger.lines)
      errs += s"scan.lines_in: ${m("scan.lines_in")} != expected ${ledger.lines}"
    if (m("scan.skipped_empty") != ledger.allEmpty)
      errs += s"scan.skipped_empty: ${m("scan.skipped_empty")} != expected ${ledger.allEmpty}"
    val dropped = m("keyfilter.dropped")
    if (dropped != ledger.emptyUuid && dropped != ledger.emptyUuid + ledger.malformed)
      errs += s"keyfilter.dropped: $dropped != expected ${ledger.emptyUuid} (+${ledger.malformed} malformed)"
    (m.toSeq, errs.toSeq)
  }

  /** Parquet data files under a directory and their total size. */
  private def dirStats(dir: Path): (Long, Long) = {
    val s = Files.walk(dir)
    try {
      val files = s.filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
        .toArray.map(_.asInstanceOf[Path])
      (files.length.toLong, files.map(Files.size).sum)
    } finally s.close()
  }
}
