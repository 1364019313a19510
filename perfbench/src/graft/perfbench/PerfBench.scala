package graft.perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** One timed operation: its kind and name, latency, whether its output
  * checked out, and the units of work it completed (rows, docs, queries). */
final case class Sample(kind: String, name: String, ms: Double, ok: Boolean,
    work: Double)

/** One workload of the benchmark. `stage` builds the inputs and
  * fixtures under a fresh directory (repeated during set-up, the last
  * staging is used), `cold` is the untimed first pass, `pass` one timed
  * pass over the workload's fixed operation list. */
trait Workload {
  def stage(dir: String): Unit
  def cold(): Unit
  def pass(): Seq[Sample]
  /** the kinds of sample the latency metrics are taken over */
  def opKinds: Set[String]
  /** work units per second, from the timed window's samples */
  def throughput(samples: Seq[Sample]): Double
  /** end-of-run output checks: (attempted, failed) */
  def finalCheck(): (Int, Int) = (0, 0)
  /** workload-specific per-layer metrics of the traced window */
  def layerMetrics(): Map[String, Double] = Map.empty
}

/** Several workloads run as one: staged side by side, each pass runs
  * every part's pass in turn. */
final class Composite(parts: Seq[Workload]) extends Workload {
  def stage(dir: String): Unit =
    parts.zipWithIndex.foreach { case (w, i) => w.stage(s"$dir/part$i") }
  def cold(): Unit = parts.foreach(_.cold())
  def pass(): Seq[Sample] = parts.flatMap(_.pass())
  def opKinds: Set[String] = parts.flatMap(_.opKinds).toSet
  /** operations per second of operation time */
  def throughput(samples: Seq[Sample]): Double = {
    val ops = samples.filter(s => opKinds(s.kind))
    ops.size / math.max(1e-9, ops.map(_.ms).sum / 1e3)
  }
  override def finalCheck(): (Int, Int) = {
    val r = parts.map(_.finalCheck()); (r.map(_._1).sum, r.map(_._2).sum)
  }
  override def layerMetrics(): Map[String, Double] =
    parts.flatMap(_.layerMetrics()).toMap
}

/** Runs one workload of the benchmark in one JVM and writes its raw
  * result as JSON. Usage:
  * {{{ PerfBench <workload> <seed> <seconds> <trace 0|1> <workDir> <out.json> }}}
  * The Python front end (`perfbench/run.py`) builds, launches, runs the
  * oracle check and prints the result line. */
object PerfBench {

  def now(): Long = System.nanoTime()
  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** set-up stages the inputs this many times; the median counts */
  val Stagings = 2

  var tracer: Option[Tracer] = None

  /** a benchmark span around a call into `layer` (no-op untraced) */
  def span[A](layer: String, name: String)(f: => A): A =
    tracer match { case Some(t) => t.span(layer, name)(f); case None => f }

  /** one timed operation: a new trace operation and the span bounding it */
  def op[A](name: String)(f: => A): A = {
    tracer.foreach(_.beginOp())
    span("op", name)(f)
  }

  /** every operation starts from a cold cache */
  def isolate(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    graft.util.DfCache.release(spark)
  }

  def session(workDir: String): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors().toString
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$workDir/chk")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.size
    if (n == 0) 0.0 else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest percentile with at least ten samples beyond it:
    * (value, percentile, sample count). Below 21 samples that
    * percentile would not lie above the median, so the maximum is
    * reported instead, as percentile 100. */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val s = xs.sorted; val n = s.size
    if (n == 0) (0.0, 0.0, 0)
    else if (n < 21) (s.last, 100.0, n)
    else (s(n - 11), 100.0 * (n - 10) / n, n)
  }

  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(0.0)

  def rmrf(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(f => Files.delete(f))
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 6,
      "usage: PerfBench <workload> <seed> <seconds> <trace> <workDir> <out.json>")
    val Array(name, seedS, secondsS, traceS, workDir, outPath) = args
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val t0Ms = System.currentTimeMillis()
    val t0 = now()
    val spark = session(workDir)
    val sessionS = secs(t0)
    // the fewest timed passes: each operation's timing is steady only
    // at its best of a few (three for the operators' sub-second
    // queries, two daemon cycles of ~15 s); a fixed count keeps a slow
    // pass from cutting the samples of a run
    val (wl: Workload, minPasses) = name match {
      case "operators" => (new Composite(Seq(
        new QueryWorkload(spark, seed, workDir),
        new StreamingWorkload(spark, seed, workDir))), 3)
      case "daemon" => (new DaemonWorkload(spark, seed, workDir), 2)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    // ---- set-up: staging repeated into fresh dirs, then the cold pass
    val stagings = (1 to Stagings).map { i =>
      val dir = s"$workDir/stage$i"
      val t = now(); wl.stage(dir); secs(t)
    }
    val tc = now(); wl.cold(); val coldS = secs(tc)
    val setupS = sessionS + median(stagings) + coldS

    // ---- timed window: whole passes until `seconds` have elapsed and
    // at least `minPasses` have run
    if (traceS == "1") { tracer = Some(new Tracer(spark)); tracer.get.start() }
    val samples = mutable.ArrayBuffer.empty[Sample]
    val passWalls = mutable.ArrayBuffer.empty[Double]
    val w0 = now()
    while (passWalls.size < minPasses || secs(w0) < seconds) {
      val tp = now()
      samples ++= wl.pass()
      passWalls += secs(tp)
    }
    val windowS = secs(w0)
    val traced = tracer.map { t =>
      val opSpans = t.allSpans.filter(_.layer == "op")
      // the rollup first: a workload's layer metrics may run more work
      val r = t.rollup(opSpans)
      val layers = r ++ wl.layerMetrics()
      t.stop(); (layers, t.allSpans)
    }
    val tk = now()
    val (chkAttempted, chkFailed) = wl.finalCheck()
    val checkS = secs(tk)
    val sparkVersion = spark.version
    spark.stop()
    val bootS = (t0Ms - java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    // each operation at its fastest over the window's passes (the
    // min-of-N protocol of graft.Bench), so a burst of interference
    // from outside the program hits one sample, not the result
    val best = samples.groupBy(_.name).values.map(ss => ss.minBy(_.ms)).toSeq
    val ops = best.filter(s => wl.opKinds(s.kind)).map(_.ms)
    val (tailV, tailP, tailN) = tail(ops)
    val metrics = Map(
      "setup_s" -> setupS,
      "suite_s" -> best.map(_.ms).sum / 1e3,
      "op_p50_ms" -> median(ops),
      "op_tail_ms" -> tailV,
      "work_per_s" -> wl.throughput(best),
      "peak_rss_mb" -> peakRssMb())
    def byName[A](f: Seq[Sample] => A) =
      samples.groupBy(_.name).map { case (k, ss) => k -> f(ss.toSeq) }
    val result = Map(
      "workload" -> name, "seed" -> seed, "spark" -> sparkVersion,
      "jvm" -> sys.props("java.vm.version"), "window_s" -> windowS,
      "passes" -> passWalls.size,
      "attempted" -> (samples.size + chkAttempted),
      "failed" -> (samples.count(!_.ok) + chkFailed),
      "tail" -> Map("percentile" -> tailP, "samples" -> tailN),
      "setup" -> Map("session_s" -> sessionS, "stagings_s" -> stagings, "cold_s" -> coldS),
      "boot_s" -> bootS, "check_s" -> checkS,
      "per_op_ms" -> byName(_.map(_.ms)),
      "failed_ops" -> byName(_.count(!_.ok)).filter(_._2 > 0),
      "metrics" -> metrics,
      "layers" -> traced.map(_._1).orNull,
      "spans" -> traced.map(_._2).getOrElse(Nil))
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
    val json = mapper.writeValueAsString(result)
    Files.write(Paths.get(outPath), json.getBytes("UTF-8"))
  }
}
