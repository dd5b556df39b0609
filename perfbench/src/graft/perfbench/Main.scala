package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM entry point (run it through `perfbench/run.py`,
  * which builds graft and this package from source first):
  *
  * {{{
  * graft.perfbench.Main --workload ask_zipf|index_maintain --seed N
  *                      --seconds S --trace 0|1 --data DIR --work DIR --state DIR
  * graft.perfbench.Main --selftest
  * }}}
  *
  * Prints human-readable lines (the box, every metric by name with its
  * unit, and with `--trace 1` the span table), then as its last line one
  * JSON object with the keys `correct`, `attempted`, `failed` and
  * `metrics`. Exits 1 if any operation or output check failed. */
object Main {

  val Workloads = Seq("ask_zipf", "index_maintain")

  /** The five end-to-end slots every workload fills (see BENCHMARK.json):
    * set-up, the p50 and tail of its user-facing request, its sustained
    * rate, and the heap it keeps resident. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "latency_ms" -> "ms", "tail_ms" -> "ms",
    "rate_per_s" -> "1/s", "resident_mb" -> "MB")

  final case class Metric(name: String, value: Double, unit: String, note: String = "")

  /** What one run knows: its inputs, its session, its trace, and the
    * outcome ledger every operation and output check writes to. */
  final class Run(val workload: String, val seed: Long, val seconds: Int,
                  val spark: SparkSession, val trace: Trace,
                  val dataDir: String, val workDir: String, val stateDir: String,
                  val nproc: Int) {
    var attempted = 0L
    var failed = 0L
    val failures = mutable.ArrayBuffer.empty[String]
    val endToEnd = mutable.LinkedHashMap.empty[String, Metric]
    val named = mutable.ArrayBuffer.empty[Metric]
    val layers = mutable.LinkedHashMap.empty[String, Metric]

    /** Count one operation; a failed one is also counted failed. */
    def op(ok: Boolean, what: => String): Unit = {
      attempted += 1
      if (!ok) { failed += 1; if (failures.length < 20) failures += what }
    }
    /** An output check is an operation of its own. */
    def check(ok: Boolean, what: => String): Unit = op(ok, s"check failed: $what")

    def e2e(name: String, value: Double, note: String = ""): Unit = {
      val unit = EndToEnd.find(_._1 == name).map(_._2)
        .getOrElse(sys.error(s"not an end-to-end metric: $name"))
      endToEnd(name) = Metric(name, value, unit, note)
    }
    /** A metric under the workload's own name (ask_p50_ms, insert_s, ...). */
    def metric(name: String, value: Double, unit: String, note: String = ""): Unit =
      named += Metric(name, value, unit, note)
    def layer(name: String, value: Double, unit: String, note: String = ""): Unit =
      layers(name) = Metric(name, value, unit, note)
  }

  private val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  def phase(name: String): Unit =
    System.err.println(f"perfbench phase $name at ${(System.currentTimeMillis() - jvmStartMs) / 1e3}%.2f s")

  def main(args: Array[String]): Unit = {
    phase("main")
    if (args.contains("--selftest")) { SelfTest.main(Array.empty); return }
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String): String = opts.getOrElse(k, usage(s"missing --$k"))
    val workload = opt("workload")
    if (!Workloads.contains(workload)) usage(s"unknown workload '$workload'")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toInt
    val traced = opt("trace") match {
      case "0" => false
      case "1" => true
      case o => usage(s"--trace must be 0 or 1, not '$o'")
    }
    val dataDir = opt("data")
    val workDir = opt("work")
    val stateDir = opt("state")
    val nproc = Runtime.getRuntime.availableProcessors()

    // the session is the program's first set-up step; input generation
    // happens inside each workload, before its set-up clock resumes
    val startNs = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName(s"perfbench-$workload")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - startNs) / 1e9
    phase("session")
    val run = new Run(workload, seed, seconds, spark, new Trace(traced, spark.sparkContext),
      dataDir, workDir, stateDir, nproc)
    println(s"perfbench workload=$workload seed=$seed seconds=$seconds trace=${if (traced) 1 else 0}")

    val outcome = scala.util.Try {
      workload match {
        case "ask_zipf" => AskZipf.run(run, sessionS)
        case "index_maintain" => IndexMaintain.run(run, sessionS)
      }
    }
    outcome.failed.foreach { e =>
      e.printStackTrace()
      run.op(ok = false, s"workload aborted: $e")
    }
    phase("workload")
    val sparkWork = if (traced) Report.fillLayers(run) else Map.empty[String, Report.SparkSum]
    val box = if (outcome.isSuccess) Some(Box.record(spark, nproc)) else None
    phase("box")
    spark.stop()
    phase("stopped")

    box.foreach(b => println(b.line))
    run.named.foreach(m => println(f"metric ${m.name}%-34s ${fmt(m.value)}%14s ${m.unit}%-6s ${m.note}"))
    run.endToEnd.values.foreach(m =>
      println(f"end_to_end ${m.name}%-30s ${fmt(m.value)}%14s ${m.unit}%-6s ${m.note}"))
    if (traced) {
      Report.printLayers(run, sparkWork)
      Report.writeSpans(run)
    }
    val wanted: Seq[(String, String)] =
      if (traced) Report.PerLayer else EndToEnd
    val complete = outcome.isSuccess && wanted.forall { case (n, _) =>
      if (traced) run.layers.contains(n) else run.endToEnd.contains(n) }
    if (!complete) run.op(ok = false, "not every metric was measured")
    run.failures.foreach(f => println(s"FAILED $f"))
    val ratio = if (run.attempted == 0) 1.0 else run.failed.toDouble / run.attempted
    println(f"failed_ratio ${fmt(ratio)} (${run.failed} of ${run.attempted} operations and checks)")
    box.foreach(b => println(Report.resultJson(run, b)))

    val metrics = wanted.flatMap { case (n, u) =>
      val m = if (traced) run.layers.get(n) else run.endToEnd.get(n)
      m.map(x => s""""$n":{"value":${num(x.value)},"unit":"$u"}""")
    }
    val correct = run.failed == 0
    println(s"""{"correct":$correct,"attempted":${math.max(1L, run.attempted)},""" +
      s""""failed":${run.failed},"metrics":{${metrics.mkString(",")}}}""")
    System.out.flush()
    System.exit(if (correct) 0 else 1)
  }

  private def usage(msg: String): Nothing = {
    System.err.println(s"perfbench: $msg\nusage: --workload ${Workloads.mkString("|")} " +
      "--seed N --seconds S --trace 0|1 --data DIR --work DIR --state DIR")
    System.exit(2)
    throw new IllegalStateException(msg)
  }

  def fmt(x: Double): String =
    if (x.isInfinite || x.isNaN) x.toString
    else if (math.abs(x) >= 100) f"$x%.1f" else f"$x%.4f"

  /** A JSON number with every digit the double carries. */
  def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "null" else java.lang.Double.toString(x)
}
