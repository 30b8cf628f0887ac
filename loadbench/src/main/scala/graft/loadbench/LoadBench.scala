package graft.loadbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.time.LocalDate
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** The day-load benchmark: generates a seeded HFP day, loads it with
  * `HfpLoadJob.loadDay` in a closed loop (one client, one load at a
  * time) for the given seconds, checks every load against the
  * generator's ledger, and writes one JSON result.
  *
  * {{{
  * LoadBench --workload fresh_day|rerun_day|jdbc_resume_day --seed N
  *   --seconds S --trace 0|1 --work DIR --result FILE --trace-dir DIR
  * }}}
  *
  * With `--trace 1` it also runs one traced load under a scheduler
  * listener and each layer on its own, and reports the per-layer
  * metrics instead of the end-to-end ones.
  */
object LoadBench {

  /** Operating day of every generated input. */
  val Date: LocalDate = LocalDate.parse("2026-03-12")

  /** Timed loads each run makes at least. */
  val MinLoads = 2

  /** Untimed, checked loads after the first, so the timed ones run on
    * compiled code. Three, because HotSpot still compiles 5-8 s of CPU
    * per load through the fourth load and less after it, and because
    * `rerun_day` first runs its dedup path on the second load.
    */
  val WarmupLoads = 3

  /** Input generation is repeated this often, for a median set-up time
    * and a determinism check on the ledgers.
    */
  val GenRepeats = 3

  /** Wire lines of each workload's day. The parquet days are sized so
    * the VP key snapshot (≈50k keys) is past `broadcastKeyRows`.
    */
  val dayLines: Map[String, Int] = Map(
    "fresh_day" -> 60_000, "rerun_day" -> 60_000, "jdbc_resume_day" -> 15_000)

  final case class Result(attempted: Int, failed: Int, metrics: Seq[(String, Double, String)])

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def cpuSeconds(): Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  private def jitSeconds(): Double =
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3

  private def gcSeconds(): Double = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3
  }

  /** Peak resident set of this process (Linux `VmHWM`), in MB. */
  private def peakRssMb(): Double = {
    import scala.jdk.CollectionConverters._
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(0.0)
  }

  /** `HfpLoadJob.main`'s session settings: local[cores], one shuffle
    * partition per core, UTC.
    */
  def session(cores: Int, work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("loadbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def arg(k: String) = args.getOrElse(k, sys.error(s"missing --$k"))
    val workload = arg("workload")
    val lines = dayLines.getOrElse(workload, sys.error(s"unknown workload '$workload'"))
    val seed = arg("seed").toLong
    val seconds = arg("seconds").toDouble
    val trace = arg("trace") == "1"
    val work = Paths.get(arg("work")).toAbsolutePath
    val resultFile = Paths.get(arg("result"))
    Files.createDirectories(work)
    System.setProperty("derby.system.home", work.resolve("derby").toString)
    System.setProperty("derby.stream.error.file", work.resolve("derby.log").toString)

    // one core fewer than the machine has: the JIT compiler and GC
    // threads take about a third of the process CPU through the timed
    // loads, and with a task thread on every core they would be
    // time-sliced against the tasks
    val cores = math.max(1, Runtime.getRuntime.availableProcessors - 1)
    val t0 = System.nanoTime()
    val spark = session(cores, work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val result =
      try run(spark, workload, lines, seed, seconds, trace, cores, work, sessionS,
        Paths.get(arg("trace-dir")))
      finally spark.stop()
    Files.writeString(resultFile, json(result) + "\n")
    println(s"loadbench $workload seed=$seed: ${result.attempted} loads, " +
      s"${result.failed} failed, failed_ratio ${result.failed.toDouble / result.attempted}")
    result.metrics.foreach { case (n, v, u) => println(f"  $n%-30s $v%14.6f $u") }
    if (result.failed > 0) sys.exit(1)
  }

  private def json(r: Result): String = {
    val ms = r.metrics.map { case (n, v, u) =>
      val num = if (v.isNaN || v.isInfinite) "null" else v.toString
      s""""$n": {"value": $num, "unit": "$u"}""" }
    s"""{"correct": ${r.failed == 0}, "attempted": ${r.attempted}, "failed": ${r.failed}, """ +
      s""""metrics": {${ms.mkString(", ")}}}"""
  }

  def run(spark: SparkSession, workload: String, lines: Int, seed: Long, seconds: Double,
      trace: Boolean, cores: Int, work: Path, sessionS: Double,
      traceDir: Path): Result = {
    // set-up: generate the day GenRepeats times (same seed, same bytes)
    val gens = (1 to GenRepeats).map { i =>
      val root = work.resolve(s"input-$i")
      val t = System.nanoTime()
      val l = DayGen.write(root, Date, seed, lines, cores)
      (root, l, (System.nanoTime() - t) / 1e9)
    }
    val (csvRootPath, ledger, _) = gens.last
    gens.init.foreach { case (root, _, _) => Workload.deleteTree(root) }
    val errors = mutable.ArrayBuffer[String]()
    def fail(what: String, errs: Seq[String]): Boolean = {
      errs.take(20).foreach(e => System.err.println(s"CHECK FAILED [$what] $e"))
      errs.nonEmpty
    }
    if (gens.map(g => ledgerKey(g._2)).distinct.size != 1)
      errors += "generator: the same seed gave different ledgers"
    val csvRoot = csvRootPath.toString
    val wl: Workload = workload match {
      case "jdbc_resume_day" => new JdbcResume(spark, work, csvRoot, Date, ledger, cores)
      case w => new ParquetDay(spark, work, csvRoot, Date, ledger, rerun = w == "rerun_day", cores)
    }
    val tPrep = System.nanoTime()
    var attempted = 1
    var failed = 0
    val firstLoadS = try {
      val (s, errs) = wl.prepare()
      if (fail("first load", errs ++ errors)) failed += 1
      s
    } catch { case e: Exception =>
      System.err.println(s"CHECK FAILED [first load] threw $e"); failed += 1; Double.NaN
    }

    // one checked load: Some((seconds, cpu seconds)) when it passed;
    // `full` (read after the load) adds the per-column checksums
    def oneLoad(full: => Boolean): Option[(Double, Double)] = {
      wl.beforeLoad()
      attempted += 1
      try {
        val c0 = cpuSeconds()
        val g0 = gcSeconds()
        val j0 = jitSeconds()
        val (s, res) = Workload.timedLoad(spark, csvRoot, wl.sink, Date)
        val cpu = cpuSeconds() - c0
        val gc = gcSeconds() - g0
        val jit = jitSeconds() - j0
        val tc = System.nanoTime()
        val errs = wl.check(res, full)
        System.err.println(f"[loadbench] load $attempted: $s%.3f s, cpu $cpu%.2f s, gc $gc%.2f s, jit $jit%.2f s, " +
          f"check ${(System.nanoTime() - tc) / 1e9}%.2f s")
        if (fail(s"load $attempted", errs)) { failed += 1; None } else Some((s, cpu))
      } catch { case e: Exception =>
        System.err.println(s"CHECK FAILED [load $attempted] threw $e"); failed += 1; None
      } finally wl.afterLoad()
    }
    (1 to WarmupLoads).foreach(_ => oneLoad(full = false))
    val prepS = (System.nanoTime() - tPrep) / 1e9
    val setupS = sessionS + median(gens.map(_._3)) + prepS
    System.err.println(f"[loadbench] set-up: session $sessionS%.2f s, generation " +
      gens.map(g => f"${g._3}%.2f").mkString("/") + f" s, sink, first load and warm-up " +
      f"$prepS%.2f s (first load $firstLoadS%.2f s), ${ledger.lines} lines, ${ledger.bytes} bytes")

    // measured loop: one load at a time, each checked, until `seconds`;
    // whether a load is the last is decided when it ends, so the last
    // one always gets the full check
    val loads = mutable.ArrayBuffer[Double]()
    val cpus = mutable.ArrayBuffer[Double]()
    val loopStart = System.nanoTime()
    def elapsed = (System.nanoTime() - loopStart) / 1e9
    var last = false
    def more = loads.size < MinLoads && attempted < 2 * MinLoads + WarmupLoads + 1 ||
      !last && failed == 0
    while (more)
      oneLoad(full = { last = loads.size + 1 >= MinLoads && elapsed >= seconds; last })
        .foreach { case (s, cpu) => loads += s; cpus += cpu }
    val loadS = if (loads.isEmpty) Double.NaN else median(loads.toSeq)
    val endToEnd = Seq(
      ("load_s", loadS, "s"),
      ("first_load_s", firstLoadS, "s"),
      ("rows_per_s", ledger.lines / loadS, "rows/s"),
      ("cpu_s", if (cpus.isEmpty) Double.NaN else median(cpus.toSeq), "s"),
      ("peak_rss_mb", peakRssMb(), "MB"),
      ("setup_s", setupS, "s"))
    if (!trace) return Result(attempted, failed, endToEnd)

    // traced run: one load under the scheduler listener, then each layer
    val tracer = new Tracer(s"$workload-$seed")
    val listener = new SchedulerListener
    spark.sparkContext.addSparkListener(listener)
    wl.beforeLoad()
    attempted += 1
    val gc0 = gcSeconds()
    val jit0 = jitSeconds()
    listener.reset()
    val (tracedRes, tracedS) = tracer.span("loadDay", "run")(
      graft.jobs.HfpLoadJob.loadDay(spark, csvRoot, wl.sink, Date.toString))
    val counts = listener.snapshot(spark.sparkContext)
    val gcS = gcSeconds() - gc0
    val jitS = jitSeconds() - jit0
    spark.sparkContext.removeSparkListener(listener)
    if (fail("traced load", wl.check(tracedRes, full = true))) failed += 1
    wl.afterLoad()

    val (throwaway, dropThrowaway) = wl.throwawaySink()
    val throwawayDir = throwaway match {
      case graft.sources.ParquetDaySink(dir) => Some(Paths.get(dir))
      case _ => None
    }
    val (layers, layerErrs) =
      try Layers.run(spark, tracer, csvRoot, Date, throwaway, throwawayDir, ledger)
      finally dropThrowaway()
    if (fail("layer counts", layerErrs)) failed += 1
    val selfTimes = layers.filter { case (n, _) =>
      n.endsWith(".self_s") && n.count(_ == '.') == 1 }
    val spark_ = Seq(
      ("spark.jobs", counts.jobs.toDouble), ("spark.stages", counts.stages.toDouble),
      ("spark.tasks", counts.tasks.toDouble), ("spark.exchanges", counts.exchanges.toDouble),
      ("spark.busy_share", counts.runS / (tracedS * cores)),
      ("spark.max_task_share", counts.maxTaskS / tracedS),
      ("spark.scheduler_delay_s", counts.schedulerDelayS),
      ("spark.shuffle_bytes", counts.shuffleBytes.toDouble),
      ("spark.spill_bytes", counts.spillBytes.toDouble),
      ("spark.gc_s", gcS), ("spark.task_failures", counts.failures.toDouble),
      ("jvm.jit_s", jitS),
      ("trace.overhead_s", tracedS - loadS),
      ("trace.layer_sum_over_load", selfTimes.map(_._2).sum / loadS))
    tracer.write(traceDir.resolve(s"$workload-$seed.json"), selfTimes, loadS)
    val perLayer = (layers ++ spark_).map { case (n, v) => (n, v, unitOf(n)) }
    endToEnd.foreach { case (n, v, u) => println(f"  $n%-30s $v%14.6f $u") }
    Result(attempted, failed, perLayer)
  }

  private def unitOf(name: String): String =
    if (name.endsWith("rows_per_s")) "rows/s"
    else if (name.endsWith("_s")) "s"
    else if (name.endsWith("bytes") || name.endsWith("bytes_written")) "bytes"
    else if (name.endsWith("_share") || name.endsWith("_ratio") || name.endsWith("_over_load") ||
      name.endsWith("per_input_byte") || name.endsWith(".broadcast")) "ratio"
    else "count"

  /** Everything a ledger holds, for comparing two ledgers. */
  private def ledgerKey(l: Ledger): Seq[Any] =
    Seq(l.lines, l.bytes, l.allEmpty, l.malformed, l.emptyUuid) ++
      Wire.tables.flatMap(t => Seq(l.seeded(t), l.unseeded(t)).flatMap(s =>
        Seq(s.rows) ++ s.nonNull.toSeq ++ s.sumL.toSeq ++ s.sumD.toSeq))
}
