package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{bit_xor, col, xxhash64}

/** The benchmark's JVM side. perfbench/run.py generates the inputs,
  * builds this package and starts it; this prints one line,
  * `PERFBENCH {json}`, with the run's metrics, counts and checks.
  *
  * usage: perfbench.Main --workload W --input DIR --spec FILE --seconds S
  *          --trace 0|1 --cores N [--record 1]
  *
  * The spec file holds tab-separated lines: for the job workloads
  * `forecast <table> <days>`, `skipped <table>` and `series <n>`; for
  * query_mix `query <name> <rows|-> <hash|->`.
  */
object Main {
  final case class Args(workload: String, input: String, spec: String, seconds: Double,
      trace: Boolean, cores: Int, record: Boolean)

  private def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("input"), m("spec"), m("seconds").toDouble,
      m("trace") == "1", m("cores").toInt, m.get("record").contains("1"))
  }

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum / 1000.0

  /** local[cores] with one shuffle partition per core, as the repo's
    * specs run the job; query_mix then applies graft.Bench's tuning.
    */
  private def session(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** graft.Bench's contention probe (xxhash64 + bit_xor over a fixed
    * spark.range), sized for a few cores: median of 3 timed runs.
    */
  private def probe(spark: SparkSession, cores: Int): Double = Workload.seconds {
    spark.range(0L, 64000000L, 1L, cores).select(bit_xor(xxhash64(col("id")))).collect()
  }._2

  private def calibrate(spark: SparkSession, cores: Int): Double =
    Workload.median((1 to 3).map(_ => probe(spark, cores)))

  /** Quiet median of [[calibrate]] on a 4-core x86-64 VM at local[4]. */
  private val CalibFloor = 0.30

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val spec = Files.readAllLines(Paths.get(a.spec)).asScala.toSeq
      .filter(_.nonEmpty).map(_.split("\t").toSeq)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

    val spark = session(a.cores)
    val bootS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    probe(spark, a.cores) // untimed: JIT-compiles the probe, as graft.Bench does
    val calibStart = calibrate(spark, a.cores)

    val workload: Workload = a.workload match {
      case "query_mix" =>
        spark.conf.set("spark.sql.shuffle.partitions",
          graft.Tuning.shufflePartitionsFor(a.input, a.cores).toString)
        graft.Tuning.applySessionTuning(spark)
        graft.Tuning.applyScanSpread(spark, a.input, a.cores)
        new QueryWorkload(spark, a.input, spec.collect { case Seq("query", n, r, h) =>
          (n, Option(r).filter(_ != "-").map(_.toLong), Option(h).filter(_ != "-").map(_.toLong))
        })
      case w =>
        new JobWorkload(spark, a.input,
          spec.collect { case Seq("forecast", t, d) => t -> d.toLong }.toMap,
          spec.collect { case Seq("skipped", t) => t }.toSet,
          spec.collect { case Seq("series", n) => n.toInt }.head,
          withBacktest = w == "catalog_wide_backtest")
    }

    // set-up: register the inputs three times (median), then the warm-up
    // passes: JIT compilation shortens each of the first few passes
    val registerS = Workload.median((1 to 3).map(_ => Workload.seconds(workload.register())._2))
    val (_, warmS) = Workload.seconds((1 to workload.warmUpPasses).foreach(_ => workload.warmUp()))
    val setupS = bootS + registerS + warmS
    System.err.println(f"[perfbench] boot $bootS%.2fs register $registerS%.2fs warm-up $warmS%.2fs")

    val out = new StringBuilder
    def num(v: Double): String =
      if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
    def str(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => " "
      case c => c.toString
    } + "\""

    if (a.trace) {
      val t = workload.traced(spark)
      t.problems.foreach(p => System.err.println(s"[perfbench] CHECK FAILED: $p"))
      val calibEnd = calibrate(spark, a.cores)
      val all = t.layers + ("host.calib_factor" -> math.max(calibStart, calibEnd) / CalibFloor)
      out ++= "{\"trace\":true,\"setup_s\":" + num(setupS) +
        ",\"attempted\":" + t.attempted + ",\"failed\":" + t.failed +
        ",\"problems\":[" + t.problems.take(20).map(str).mkString(",") + "]" +
        ",\"layers\":{" +
        all.toSeq.sortBy(_._1).map { case (k, v) => str(k) + ":" + num(v) }.mkString(",") + "}}"
    } else {
      // passes until --seconds of timed calls; untimed output checks do not count
      var done = Vector(workload.pass(check = true))
      while (done.map(_.seconds).sum < a.seconds)
        done :+= workload.pass(check = a.workload == "query_mix")
      val calibEnd = calibrate(spark, a.cores)
      val ops = done.flatMap(_.ops)
      val problems = done.flatMap(_.problems).distinct
      problems.foreach(p => System.err.println(s"[perfbench] CHECK FAILED: $p"))
      def opMedian(n: String) = Workload.median(ops.filter(_.name == n).map(_.seconds))
      val opNames = ops.map(_.name).distinct
      val seen = workload match {
        case q: QueryWorkload => q.seen.map { case (k, (r, h)) =>
          str(k) + ":[" + r + "," + h + "]" }.mkString("{", ",", "}")
        case _ => "{}"
      }
      out ++= "{\"trace\":false" +
        ",\"attempted\":" + ops.map(_.attempted).sum +
        ",\"failed\":" + done.map(_.failed).sum +
        ",\"setup_s\":" + num(setupS) +
        ",\"boot_s\":" + num(bootS) + ",\"register_s\":" + num(registerS) +
        ",\"warmup_s\":" + num(warmS) +
        ",\"pass_s\":" + num(Workload.median(done.map(_.seconds))) +
        ",\"pass_cpu_s\":" + num(Workload.median(done.map(_.cpuSeconds))) +
        ",\"pass_all_s\":[" + done.map(p => num(p.seconds)).mkString(",") + "]" +
        ",\"op_p50_s\":" + num(Workload.median(ops.map(_.seconds))) +
        ",\"op_samples\":" + ops.size +
        ",\"op_median_s\":{" + opNames.map(n => str(n) + ":" + num(opMedian(n))).mkString(",") + "}" +
        ",\"calib\":{\"start\":" + num(calibStart) + ",\"end\":" + num(calibEnd) +
        ",\"factor\":" + num(math.max(calibStart, calibEnd) / CalibFloor) + "}" +
        ",\"problems\":[" + problems.take(20).map(str).mkString(",") + "]" +
        (if (a.record) ",\"seen\":" + seen else "") + "}"
    }
    println("PERFBENCH " + out)
    spark.stop()
  }
}
