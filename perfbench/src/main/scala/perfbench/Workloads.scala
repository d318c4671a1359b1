package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.catalog.{ParquetCatalog, TableNames}
import graft.forecast.{Backtest, ForecastEngine, ForecastOutput, ProphetLike}
import graft.job.{ForecastJob, JobSummary}
import graft.series.{Bucketize, SeriesOps}
import graft.sources.Fixtures

/** One timed call in a pass: wall and process CPU seconds, and what it did. */
final case class Op(name: String, seconds: Double, cpuSeconds: Double, attempted: Int, failed: Int)

/** One closed-loop pass over a workload's fixed call list. Each failed
  * check is one problem; an op's own `failed` counts what it reported
  * failing itself (series a job call could not fit), so none counts twice.
  */
final case class Pass(ops: Seq[Op], problems: Seq[String]) {
  def seconds: Double = ops.map(_.seconds).sum
  def failed: Int = ops.map(_.failed).sum + problems.size
  def cpuSeconds: Double = ops.map(_.cpuSeconds).sum
}

/** What a traced pass measured: per-layer metrics and its own checks. */
final case class Traced(layers: Map[String, Double], attempted: Int, failed: Int,
    problems: Seq[String])

/** A workload: inputs registered with the program, a warm-up, timed
  * passes, and a traced pass that yields the per-layer metrics.
  */
trait Workload {
  def register(): Unit
  def pass(check: Boolean): Pass
  def traced(spark: SparkSession): Traced

  /** One untimed pass, so the timed passes run warm; for the job
    * workloads it also leaves the outputs in place, so timed calls take
    * the nightly-rerun overwrite path.
    */
  def warmUp(): Unit = pass(check = false)

  /** Warm-up passes before the first timed one. */
  def warmUpPasses: Int
}

object Workload {
  def seconds[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU seconds this process (driver and local executors) has used. */
  def cpuSeconds(): Double = os.getProcessCpuTime / 1e9

  /** (rows, xxhash64/bit_xor over every column) — graft.Bench's consume. */
  def digest(df: DataFrame): (Long, Long) = {
    val r = df.select(xxhash64(df.columns.toIndexedSeq.map(c => col(s"`$c`")): _*).as("h"))
      .agg(count(lit(1)), bit_xor(col("h"))).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Median driver-side ProphetLike.fit time over the given series, in ms. */
  def fitMsPerSeries(series: Seq[Array[(Long, Double)]]): Double = {
    val reps = 5
    median(series.map { pts =>
      ProphetLike.fit(pts) // untimed: JIT
      median((1 to reps).map(_ => seconds(ProphetLike.fit(pts))._2 * 1000))
    })
  }

  /** (metric, points) of a long (metric, ds, y) frame, collected. */
  def collectSeries(long: DataFrame): Seq[Array[(Long, Double)]] =
    long.filter(col("y").isNotNull).collect().toSeq
      .groupBy(_.getString(0)).toSeq.sortBy(_._1).map { case (_, rows) =>
        rows.map(r => (r.getDate(1).toLocalDate.toEpochDay, r.getDouble(2)))
          .sortBy(_._1).toArray
      }
}

/** The forecast-job workloads: ForecastJob over a generated catalog.
  *
  * `forecastDays` maps each table the job should forecast to its number
  * of distinct history days; `skipped` names the tables it should skip.
  */
final class JobWorkload(
    spark: SparkSession,
    dir: String,
    forecastDays: Map[String, Long],
    skipped: Set[String],
    series: Int,
    withBacktest: Boolean) extends Workload {
  import Workload._

  private val Interval = 30
  private val Horizon = 30
  private val Period = 15
  private val Initial = 90

  private var catalog: ParquetCatalog = _

  // passes shorten by 5-20 % each until about the fourth
  val warmUpPasses = 3
  private def job = new ForecastJob(catalog, interval = Interval)

  def register(): Unit = {
    catalog = new ParquetCatalog(spark, dir)
    catalog.listTables().foreach(catalog.schemaOf)
  }

  private def outputs(name: String => String): Map[String, (Long, Long)] =
    forecastDays.keys.toSeq.sorted.map { t =>
      val out = name(t)
      t -> (if (catalog.tableExists(out)) digest(catalog.load(out)) else (-1L, 0L))
    }.toMap

  private def op(name: String, body: => JobSummary): (Op, JobSummary) = {
    val cpu0 = cpuSeconds()
    val (s, sec) = seconds(body)
    val cpu = cpuSeconds() - cpu0
    System.err.println(f"[perfbench] $name $sec%.2fs cpu $cpu%.2fs")
    (Op(name, sec, cpu, series, s.failedSeries.size), s)
  }

  def pass(check: Boolean): Pass = {
    val problems = ArrayBuffer[String]()
    val ops = ArrayBuffer[Op]()
    def summaryCheck(call: String, s: JobSummary): Unit = if (check) {
      val sk = s.skipped.map(_._1).toSet
      if (sk != skipped)
        problems += s"$call skipped ${sk.toSeq.sorted.mkString(",")}, expected " +
          skipped.toSeq.sorted.mkString(",")
    }
    if (!withBacktest) {
      val (runOp, runSum) = op("forecast", job.run())
      ops += runOp
      summaryCheck("run", runSum)
      val runOut = if (check) outputs(TableNames.forecastName) else Map.empty
      if (check) runOut.foreach { case (t, (rows, _)) =>
        if (rows != forecastDays(t) + Interval)
          problems += s"run wrote $rows rows for $t, expected ${forecastDays(t) + Interval}"
      }
      val (uOp, uSum) = op("forecast_unioned", job.runUnioned())
      ops += uOp
      summaryCheck("runUnioned", uSum)
      if (check) {
        val unionOut = outputs(TableNames.forecastName)
        runOut.foreach { case (t, d) =>
          if (unionOut(t) != d) problems += s"runUnioned output for $t differs from run"
        }
      }
    } else {
      val (bOp, bSum) = op("backtest", job.backtest(Horizon, Period, Initial))
      ops += bOp
      summaryCheck("backtest", bSum)
      val btOut = if (check) outputs(TableNames.backtestName) else Map.empty
      if (check) btOut.foreach { case (t, (rows, _)) =>
        if (rows <= 0) problems += s"backtest wrote no rows for $t"
      }
      val (buOp, buSum) = op("backtest_unioned", job.backtestUnioned(Horizon, Period, Initial))
      ops += buOp
      summaryCheck("backtestUnioned", buSum)
      if (check) {
        val buOut = outputs(TableNames.backtestName)
        btOut.foreach { case (t, d) =>
          if (buOut(t) != d) problems += s"backtestUnioned output for $t differs from backtest"
        }
      }
    }
    Pass(ops.toSeq, problems.toSeq)
  }

  /** The front half of ForecastJob's per-table loop, replayed with a span
    * per layer call: listTables -> load -> normalizeDate/isEmpty/melt.
    * Calls `fit(table, metrics, long)` for every table the job would fit.
    */
  private def replayTables(tr: Tracer, outName: String => String)(
      fit: (String, Seq[String], DataFrame) => Unit): Unit = {
    val eligible = tr.span("catalog.list")(catalog.listTables()).filterNot(TableNames.isJobOutput)
    val byOutput = eligible.groupBy(outName)
    val candidates = eligible.filter(t => byOutput(outName(t)).head == t)
    candidates.foreach { t =>
      val raw = tr.span("catalog.load")(catalog.load(t))
      if (raw.columns.contains("date")) {
        val df = SeriesOps.normalizeDate(raw)
        val metrics = SeriesOps.numericMetricColumns(df.schema)
        if (metrics.nonEmpty && !tr.span("series.probe")(SeriesOps.isEmpty(df)))
          fit(t, metrics, SeriesOps.melt(df, metrics).withColumn("table", lit(t)))
      }
    }
  }

  /** ForecastJob.run() replayed: ... -> ForecastEngine.forecast -> toWide
    * -> writeTable. Returns the outputs written.
    */
  private def replayRun(tr: Tracer): Seq[String] = {
    val written = ArrayBuffer[String]()
    replayTables(tr, TableNames.forecastName) { (t, metrics, long) =>
      val fc = ForecastEngine.forecast(long, Interval, onlyFuture = false).cache()
      try {
        tr.span("forecast.fit")(fc.select("metric").distinct().collect())
        val out = TableNames.forecastName(t)
        tr.span("forecast.pivot_write") {
          val wide = ForecastOutput.toWide(fc, metrics)
          catalog.tableExists(out)
          tr.span("catalog.write")(catalog.writeTable(out, wide, sortCol = "date"))
        }
        written += out
      } finally fc.unpersist()
    }
    written.toSeq
  }

  /** ForecastJob.backtest() replayed: ... -> Backtest.crossValidate ->
    * writeTable. Returns the outputs written.
    */
  private def replayBacktest(tr: Tracer): Seq[String] = {
    val written = ArrayBuffer[String]()
    replayTables(tr, TableNames.backtestName) { (t, _, long) =>
      val bt = Backtest.crossValidate(long, Horizon, Period, Initial).toDF()
        .select(col("metric"), col("cutoff"), col("n"),
          round(col("mae"), 6).as("mae"),
          round(col("rmse"), 6).as("rmse"),
          round(col("coverage"), 6).as("coverage"),
          round(col("mae_naive"), 6).as("mae_naive"))
        .cache()
      try {
        val evaluated = tr.span("forecast.fit")(bt.select("metric").distinct().collect())
        if (evaluated.nonEmpty) {
          val out = TableNames.backtestName(t)
          catalog.tableExists(out)
          tr.span("catalog.write")(catalog.writeTable(out, bt, sortCol = "cutoff"))
          written += out
        }
      } finally bt.unpersist()
    }
    written.toSeq
  }

  private def fileStats(out: String): (Long, Long) = {
    val p = new Path(catalog.tablePath(out))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.listStatus(p).filter(_.getPath.getName.startsWith("part-"))
    (files.length.toLong, files.map(_.getLen).sum)
  }

  /** The workload's timed calls, in order, each with a span name. */
  private def calls: Seq[(String, () => JobSummary)] =
    if (withBacktest) Seq(
      "job.backtest" -> (() => job.backtest(Horizon, Period, Initial)),
      "job.backtestUnioned" -> (() => job.backtestUnioned(Horizon, Period, Initial)))
    else Seq("job.run" -> (() => job.run()), "job.runUnioned" -> (() => job.runUnioned()))

  def traced(spark: SparkSession): Traced = {
    val problems = ArrayBuffer[String]()
    // untraced reference: the run() output the replay must match, and
    // one untraced pass over the timed calls before the traced one and
    // one after it, so JIT warm-up drift cancels in the overhead share
    if (withBacktest) job.run() // the warm-up passes have no run() here
    val (runSum, _) = seconds(job.run())
    val runOut = outputs(TableNames.forecastName)
    def untracedPass() = calls.map { case (_, call) => seconds(call())._2 }.sum
    val untracedBefore = untracedPass()
    val btOut = if (withBacktest) outputs(TableNames.backtestName) else Map.empty[String, (Long, Long)]

    // the program's own calls, each in one span
    val gc0 = Main.gcSeconds()
    val ct = new Tracer(spark.sparkContext)
    ct.start()
    val sums = calls.map { case (n, call) => ct.span(n)(call()) }
    val ctJobs = ct.stop()
    val callJobs = ct.allSpans.map(s => ctJobs.filter(_.span == s.id))
    val callGcS = Main.gcSeconds() - gc0
    val untracedS = (untracedBefore + untracedPass()) / 2

    // the layer split comes from replays, checked against the real calls
    val gc1 = Main.gcSeconds()
    val tr = new Tracer(spark.sparkContext)
    tr.start()
    val runWritten = tr.span("replay.run")(replayRun(tr))
    if (outputs(TableNames.forecastName) != runOut)
      problems += "run replay outputs differ from ForecastJob.run()"
    val btWritten = if (withBacktest) tr.span("replay.backtest")(replayBacktest(tr)) else Nil
    if (withBacktest && outputs(TableNames.backtestName) != btOut)
      problems += "backtest replay outputs differ from ForecastJob.backtest()"
    val jobs = tr.stop()
    val gcS = callGcS + Main.gcSeconds() - gc1

    val spans = tr.allSpans
    def named(n: String) = spans.filter(_.name == n)
    def jobsOf(n: String) = { val ids = named(n).map(_.id).toSet; jobs.filter(j => ids(j.span)) }
    val callSpans = ct.allSpans
    val looked = sums.map(s => s.successful.size + s.skipped.size).sum
    val files = (runWritten ++ btWritten).map(fileStats)
    val fitJobs = jobsOf("forecast.fit")
    val sample = forecastDays.keys.toSeq.sorted.take(3).flatMap { t =>
      val df = SeriesOps.normalizeDate(catalog.load(t))
      val ms = SeriesOps.numericMetricColumns(df.schema).take(2)
      collectSeries(SeriesOps.melt(df, ms))
    }
    // one backtest row per (metric, cutoff) fit
    val backtestFits = btOut.values.map(_._1).sum
    Traced(Map(
      "job.spark_jobs" -> callJobs.map(_.size).sum.toDouble,
      "job.jobs_per_table" -> callJobs.map(_.size).sum.toDouble / math.max(1, looked),
      "job.driver_gap_s" -> callSpans.zip(callJobs).map { case (s, js) =>
        Tracer.gapSeconds(s.startMs, s.endMs, js) }.sum,
      "catalog.load_s" -> named("catalog.load").map(_.seconds).sum,
      "catalog.load_jobs" -> jobsOf("catalog.load").size.toDouble,
      "catalog.write_s" -> named("catalog.write").map(_.seconds).sum,
      "catalog.write_jobs" -> jobsOf("catalog.write").size.toDouble,
      "catalog.files_written" -> files.map(_._1).sum.toDouble,
      "catalog.bytes_written" -> files.map(_._2).sum.toDouble,
      "series.probe_s" -> named("series.probe").map(_.seconds).sum,
      "series.probe_jobs" -> jobsOf("series.probe").size.toDouble,
      "forecast.fits" -> ((series - runSum.failedSeries.size) + backtestFits).toDouble,
      "forecast.fit_ms_per_series" -> fitMsPerSeries(sample),
      "forecast.fit_task_s" -> fitJobs.map(_.taskRunMs).sum / 1000.0,
      "forecast.shuffle_write_bytes" -> fitJobs.map(_.shuffleWriteBytes).sum.toDouble,
      "forecast.pivot_write_s" -> named("forecast.pivot_write").map(_.seconds).sum,
      "spark.gc_s" -> gcS,
      "trace.overhead_share" -> (callSpans.map(_.seconds).sum - untracedS) / untracedS
    ), series, problems.size, problems.toSeq)
  }
}

/** The query workload: a fixed list of registered SparkEntry queries over
  * a generated fixture directory, consumed like graft.Bench. `expected`
  * holds each query's committed (rows, hash); a None hash checks rows only.
  */
final class QueryWorkload(
    spark: SparkSession,
    dir: String,
    expected: Seq[(String, Option[Long], Option[Long])]) extends Workload {
  import Workload._

  private val registry = SparkEntry.queries

  // after the cold pass, passes shorten by about 5 % each
  val warmUpPasses = 2
  val names: Seq[String] = expected.map(_._1)
  private val want = expected.map(e => e._1 -> (e._2, e._3)).toMap
  val seen = scala.collection.mutable.LinkedHashMap[String, (Long, Long)]()

  def register(): Unit = {
    Fixtures.registerAll(spark, dir)
    Fixtures.TableNames.foreach(n => spark.table(n).schema)
  }

  private def release(): Unit = {
    graft.operators.CacheScope.release(spark)
    spark.catalog.clearCache()
  }

  /** One query, in spans when traced: (construct s, execute+consume s,
    * (rows, hash)).
    */
  private def one(name: String, tr: Option[Tracer]): (Double, Double, (Long, Long)) = {
    def spanned[T](n: String)(body: => T): T = tr.fold(body)(_.span(n)(body))
    val (df, c) = seconds(spanned("queries.construct")(registry(name)(spark, dir)))
    val (d, e) = seconds(spanned("queries.exec")(digest(df)))
    release()
    (c, e, d)
  }

  /** One query, timed and checked: its op and, if it failed or its
    * result does not match the record, the problem.
    */
  private def attempt(n: String, tr: Option[Tracer], check: Boolean): (Op, Option[String]) =
    try {
      val cpu0 = cpuSeconds()
      val (c, e, d) = one(n, tr)
      val cpu = cpuSeconds() - cpu0
      if (tr.isEmpty) System.err.println(f"[perfbench] $n%-28s construct $c%.3fs exec $e%.3fs")
      val (rows, hash) = want(n)
      val problem =
        if (tr.nonEmpty && seen.get(n).exists(_ != d)) Some(s"$n traced result differs from untraced")
        else if (check && (rows.exists(_ != d._1) || hash.exists(_ != d._2)))
          Some(s"$n gave rows=${d._1} hash=${d._2}, expected " +
            s"rows=${rows.getOrElse("-")} hash=${hash.getOrElse("-")}")
        else None
      if (tr.isEmpty) seen(n) = d
      (Op(n, c + e, cpu, 1, 0), problem)
    } catch {
      case NonFatal(ex) =>
        release()
        (Op(n, 0.0, 0.0, 1, 0), Some(s"$n failed${if (tr.nonEmpty) " traced" else ""}: " +
          s"${ex.getClass.getSimpleName}: ${String.valueOf(ex.getMessage).take(200)}"))
    }

  def pass(check: Boolean): Pass = {
    val done = names.map(attempt(_, None, check))
    Pass(done.map(_._1), done.flatMap(_._2))
  }

  def traced(spark: SparkSession): Traced = {
    // untraced passes before and after the traced one, so JIT warm-up
    // drift cancels in the overhead share
    val untraced = names.map(attempt(_, None, check = true))
    val gc0 = Main.gcSeconds()
    val tr = new Tracer(spark.sparkContext)
    tr.start()
    val traced = names.map(attempt(_, Some(tr), check = true))
    val jobs = tr.stop()
    val gcS = Main.gcSeconds() - gc0
    val after = names.map(attempt(_, None, check = true))
    // a query counts once, however many of its checks failed
    val bad = names.indices.map(i => Seq(untraced(i), traced(i), after(i)).flatMap(_._2).distinct)
      .filter(_.nonEmpty)
    val untracedS = (untraced ++ after).map(_._1.seconds).sum / 2
    val tracedS = traced.map(_._1.seconds).sum
    val spans = tr.allSpans
    def of(n: String) = {
      val ids = spans.filter(_.name == n).map(_.id).toSet
      (spans.filter(_.name == n).map(_.seconds).sum, jobs.filter(j => ids(j.span)))
    }
    val (constructS, constructJobs) = of("queries.construct")
    val (execS, execJobs) = of("queries.exec")
    val all = constructJobs ++ execJobs
    val fx = Fixtures.table(spark, dir, "orders")
    val daily = Bucketize.orders(fx)
    val sample = collectSeries(SeriesOps.melt(daily, Seq("order_count", "revenue")))
    Traced(Map(
      "queries.construct_s" -> constructS,
      "queries.exec_s" -> execS,
      "queries.construct_jobs" -> constructJobs.size.toDouble,
      "queries.exec_jobs" -> execJobs.size.toDouble,
      "queries.stages" -> all.map(_.stages).sum.toDouble,
      "queries.tasks" -> all.map(_.tasks).sum.toDouble,
      "queries.shuffle_write_bytes" -> all.map(_.shuffleWriteBytes).sum.toDouble,
      "queries.spill_bytes" -> all.map(_.spillBytes).sum.toDouble,
      "forecast.fit_ms_per_series" -> fitMsPerSeries(sample),
      "spark.gc_s" -> gcS,
      "trace.overhead_share" -> (tracedS - untracedS) / untracedS
    ), names.size, bad.size, bad.flatten)
  }
}
