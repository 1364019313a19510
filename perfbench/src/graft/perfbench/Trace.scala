package graft.perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One span recorded by the benchmark around a call into a module's
  * public functions: `layer` names the module, `op` the operation it
  * belongs to (spans of one operation share it), times are epoch ms. */
final case class Span(id: Int, parent: Int, op: Int, layer: String,
    name: String, startMs: Long, endMs: Long)

/** Everything the traced run records from outside the program: the
  * benchmark's own spans, a registered SparkListener (jobs, stages,
  * tasks), QueryExecution tracker phases, codegen compile metrics and
  * Hadoop FileSystem statistics. Spans and samples stay in memory and
  * are rolled up once, after the timed window. */
final class Tracer(spark: SparkSession) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Int]
  private var nextId = 1
  private var curOp = 0

  def beginOp(): Unit = { curOp += 1 }

  def span[A](layer: String, name: String)(f: => A): A = {
    val id = nextId; nextId += 1
    val parent = open.headOption.getOrElse(0)
    open.push(id)
    val t0 = System.currentTimeMillis()
    try f finally {
      open.pop()
      spans.synchronized {
        spans += Span(id, parent, curOp, layer, name, t0, System.currentTimeMillis())
      }
    }
  }

  // ---- Spark listener --------------------------------------------
  private final case class StageRec(callsite: String, endMs: Long, wallMs: Long,
      tasks: Int, runMs: Long, cpuNs: Long, gcMs: Long, deserMs: Long,
      shufR: Long, shufW: Long, spill: Long, inBytes: Long, inRows: Long,
      skew: Double)
  private val jobs = mutable.ArrayBuffer.empty[(Long, Long)]
  private val jobStart = mutable.Map.empty[Int, Long]
  private val stageOwner = mutable.Map.empty[Int, String]
  private val stages = mutable.ArrayBuffer.empty[StageRec]
  private val taskTimes = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobStart(e.jobId) = e.time
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobStart.remove(e.jobId).foreach(s => jobs += ((s, e.time)))
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.OwnerKey)))
        .foreach(o => stageOwner(e.stageInfo.stageId) = o)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskInfo != null)
        taskTimes.getOrElseUpdate((e.stageId, e.stageAttemptId),
          mutable.ArrayBuffer.empty) += e.taskInfo.duration
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val m = si.taskMetrics
      val times = taskTimes.remove((si.stageId, si.attemptNumber()))
        .map(_.sorted).getOrElse(mutable.ArrayBuffer.empty[Long])
      val skew =
        if (times.size < 2) 1.0
        else times.last.toDouble / math.max(1L, times(times.size / 2))
      val owner = stageOwner.remove(si.stageId).getOrElse("bench")
      val wall = (for (a <- si.submissionTime; b <- si.completionTime)
        yield b - a).getOrElse(0L)
      val end = si.completionTime.getOrElse(0L)
      stages += (if (m == null) StageRec(callsite(si.details, owner), end, wall,
          si.numTasks, 0, 0, 0, 0, 0, 0, 0, 0, 0, skew)
        else StageRec(callsite(si.details, owner), end, wall, si.numTasks,
          m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
          m.executorDeserializeTime, m.shuffleReadMetrics.totalBytesRead,
          m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled,
          m.inputMetrics.bytesRead, m.inputMetrics.recordsRead, skew))
    }
  }

  /** The innermost graft source file outside the benchmark that
    * triggered the stage, from the stage's long-form call site; stages
    * the benchmark triggers itself go to the operation's `owner`. */
  private def callsite(details: String, owner: String): String =
    Option(details).toSeq.flatMap(_.split("\n")).map(_.trim)
      .find(l => l.startsWith("graft.") && !l.startsWith("graft.perfbench."))
      .flatMap { l =>
        val i = l.lastIndexOf('('); val j = l.indexOf(".scala", i)
        if (i >= 0 && j > i) Some(l.substring(i + 1, j)) else None
      }.getOrElse(owner)

  private val phases = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val qeListener = new QueryExecutionListener {
    private def add(qe: QueryExecution): Unit = phases.synchronized {
      qe.tracker.phases.foreach { case (p, s) => phases(p) += s.durationMs / 1e3 }
    }
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = add(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = add(qe)
  }

  private def codegen(): (Long, Double) = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getSnapshot.getMean * h.getCount / 1e3)
  }
  private def fsStats(): Map[String, Long] = {
    val it = org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics.iterator()
    val acc = mutable.Map.empty[String, Long].withDefaultValue(0L)
    while (it.hasNext) {
      val st = it.next().getLongStatistics
      while (st.hasNext) { val s = st.next(); acc(s.getName) += s.getValue }
    }
    acc.toMap.withDefaultValue(0L)
  }

  /** a Hadoop FileSystem statistic's growth since the window opened */
  def fsDelta(k: String): Double = (fsStats()(k) - fs0(k)).toDouble

  private var cg0 = (0L, 0.0)
  private var fs0 = Map.empty[String, Long].withDefaultValue(0L)

  def start(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    reset()
  }

  /** Forget everything recorded so far (set-up work is not traced). */
  def reset(): Unit = {
    org.apache.spark.PerfBenchBus.drain(spark.sparkContext)
    jobs.clear(); stages.clear(); taskTimes.clear(); stageOwner.clear()
    phases.synchronized(phases.clear()); spans.clear()
    cg0 = codegen(); fs0 = fsStats()
  }

  def stop(): Unit = {
    org.apache.spark.PerfBenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  def allSpans: Seq[Span] = spans.toSeq

  /** Jobs whose start falls in [a, b] and the part of [a, b] with no
    * job running (driver-only time), in ms. */
  def jobsIn(a: Long, b: Long): (Int, Long) = {
    val in = jobs.filter { case (s, _) => s >= a && s <= b }
    val iv = jobs.map { case (s, e) => (math.max(s, a), math.min(e, b)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var covered = 0L; var cur = (0L, -1L)
    iv.foreach { case (s, e) =>
      if (s > cur._2) { if (cur._2 > cur._1) covered += cur._2 - cur._1; cur = (s, e) }
      else cur = (cur._1, math.max(cur._2, e))
    }
    if (cur._2 > cur._1) covered += cur._2 - cur._1
    (in.size, math.max(0L, (b - a) - covered))
  }

  /** Per-operation rollup of the traced window; `opSpans` are the spans
    * that bound each operation. */
  def rollup(opSpans: Seq[Span]): Map[String, Double] = {
    org.apache.spark.PerfBenchBus.drain(spark.sparkContext)
    val n = math.max(1, opSpans.size).toDouble
    // stages that completed inside an operation; work the benchmark
    // does between operations (checks, extra probes) is not charged
    val stages = this.stages.filter(st =>
      opSpans.exists(o => st.endMs >= o.startMs && st.endMs <= o.endMs))
    val out = mutable.LinkedHashMap.empty[String, Double]
    val build = spans.filter(_.layer == "operators")
    out("operators.build_s") = build.map(s => s.endMs - s.startMs).sum / 1e3 / n
    out("operators.build_jobs") = build.map(s => jobsIn(s.startMs, s.endMs)._1).sum / n
    out("plans.analysis_s") = phases("analysis") / n
    out("plans.optimization_s") = phases("optimization") / n
    out("plans.planning_s") = phases("planning") / n
    val cg = codegen()
    out("codegen.compiles") = (cg._1 - cg0._1) / n
    out("codegen.compile_s") = math.max(0.0, cg._2 - cg0._2) / n
    val wall = opSpans.map(s => s.endMs - s.startMs).sum.toDouble
    val gaps = opSpans.map(s => jobsIn(s.startMs, s.endMs))
    out("exec.jobs") = gaps.map(_._1).sum / n
    out("exec.stages") = stages.size / n
    out("exec.tasks") = stages.map(_.tasks).sum / n
    out("exec.job_wall_s") = (wall - gaps.map(_._2).sum) / 1e3 / n
    out("exec.task_run_s") = stages.map(_.runMs).sum / 1e3 / n
    out("exec.task_cpu_s") = stages.map(_.cpuNs).sum / 1e9 / n
    out("exec.gc_s") = stages.map(_.gcMs).sum / 1e3 / n
    out("exec.deser_s") = stages.map(_.deserMs).sum / 1e3 / n
    out("exec.driver_gap_s") = gaps.map(_._2).sum / 1e3 / n
    out("exec.busy_frac") = if (wall > 0) 1.0 - gaps.map(_._2).sum / wall else 0.0
    val sk = stages.map(_.skew).sorted
    out("exec.skew") = if (sk.isEmpty) 0.0 else sk(sk.size / 2)
    out("shuffle.read_bytes") = stages.map(_.shufR).sum / n
    out("shuffle.write_bytes") = stages.map(_.shufW).sum / n
    out("spill.bytes") = stages.map(_.spill).sum / n
    out("sources.input_bytes") = stages.map(_.inBytes).sum / n
    out("sources.input_rows") = stages.map(_.inRows).sum / n
    val byFile = stages.groupBy(_.callsite).map { case (f, ss) =>
      f -> ss.map(_.wallMs).sum / 1e3 / n }
    Tracer.callsiteFiles.foreach { f =>
      out(s"callsite.$f.stage_s") = byFile.getOrElse(f, 0.0) }
    out("callsite.other.stage_s") =
      byFile.filter { case (f, _) => !Tracer.callsiteFiles.contains(f) }.values.sum
    out("fs.bytes_written") = fsDelta("bytesWritten") / n
    out("fs.bytes_read") = fsDelta("bytesRead") / n
    out.toMap
  }
}

object Tracer {
  /** Local property naming the source file that defines the running
    * operation (e.g. `Relational` for a query from that registry). */
  val OwnerKey = "perfbench.owner"

  /** Source files whose stage time the rollup reports by name (the rest
    * goes to `other`); stages the benchmark triggers itself are charged
    * to the file that defines the operation. */
  val callsiteFiles: Seq[String] = Seq("Relational", "SessionOps",
    "LakehouseOps", "TextOps", "VectorOps", "ScaleOps", "GraphOps",
    "Multimodal", "EventStreams", "Automation", "IncrementalLoader",
    "VersionedTable", "MaterializedAgg", "RetrievalView", "VectorIndex")
}
