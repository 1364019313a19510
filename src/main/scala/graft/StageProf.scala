package graft

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Per-stage profiler: `runMain graft.StageProf <name> [sfDir]` runs
  * one query (after a warm run) with a listener that prints, for every
  * stage of the timed run: wall span, task count, total task time,
  * shuffle read/write bytes and the stage name — the "which stage is
  * slow" view of the Spark UI (§7.1) for a headless sandbox. */
object StageProf {

  private case class St(name: String, submitted: Long)

  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("q98_pagerank")
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000L).selectExpr("sum(id)").collect()

    // warm run (JIT/codegen/page cache), not profiled
    SparkEntry.queries(name)(spark, sfDir).count()
    spark.catalog.clearCache()
    graft.util.DfCache.release(spark)

    val rows = mutable.ArrayBuffer[String]()
    val taskAgg = mutable.Map[Int, mutable.ArrayBuffer[(Long, Long)]]()
    val t0 = new java.util.concurrent.atomic.AtomicLong(0L)
    val listener = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null) taskAgg.synchronized {
          taskAgg.getOrElseUpdate(t.stageId, mutable.ArrayBuffer()) +=
            ((t.taskMetrics.executorRunTime,
              t.taskMetrics.peakExecutionMemory))
        }
      override def onJobStart(j: SparkListenerJobStart): Unit =
        rows.synchronized {
          rows += f"JOB ${j.jobId}%3d start +${(j.time - t0.get) / 1e3}%8.3f s"
        }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        val i = s.stageInfo
        val m = i.taskMetrics
        val span = (for {a <- i.completionTime; b <- i.submissionTime}
          yield (a - b) / 1e3).getOrElse(-1.0)
        rows.synchronized {
          rows += (f"STAGE ${i.stageId}%4d span=$span%7.3f s " +
            f"tasks=${i.numTasks}%4d taskTime=${m.executorRunTime / 1e3}%8.3f s " +
            f"gc=${m.jvmGCTime / 1e3}%7.3f s " +
            f"deser=${m.executorDeserializeTime / 1e3}%7.3f s " +
            f"cpu=${m.executorCpuTime / 1e9}%8.3f s " +
            f"sr=${m.shuffleReadMetrics.totalBytesRead}%12d " +
            f"sw=${m.shuffleWriteMetrics.bytesWritten}%12d  ${i.name.take(90)}")
        }
      }
    }
    t0.set(System.currentTimeMillis())
    spark.sparkContext.addSparkListener(listener)
    import org.apache.spark.metrics.source.CodegenMetrics
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val t = System.nanoTime()
    SparkEntry.queries(name)(spark, sfDir).count()
    val sec = (System.nanoTime() - t) / 1e9
    println(s"CODEGEN compiles=" +
      s"${CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0} " +
      s"(session total ${CodegenMetrics.METRIC_COMPILATION_TIME.getCount})")
    spark.sparkContext.removeSparkListener(listener)
    Thread.sleep(500) // let the listener bus drain
    rows.foreach(println)
    taskAgg.toSeq.sortBy(_._1).foreach { case (sid, ts) =>
      val d = ts.map(_._1).sorted
      if (d.nonEmpty && d.last > 100)
        println(f"TASKS stage=$sid%4d n=${d.length}%4d " +
          f"min=${d.head / 1e3}%6.3f med=${d(d.length / 2) / 1e3}%6.3f " +
          f"max=${d.last / 1e3}%6.3f s peakMem=${ts.map(_._2).max}%12d")
    }
    println(f"PROF $name total=$sec%.3f s (warm, profiled run)")
    spark.stop()
  }
}
