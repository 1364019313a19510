package graft.perfbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import graft.streaming.EventStreams

/** Every EventStreams operator drains a staged event stream (and, for
  * the interval join, a matching order stream) with
  * `Trigger.AvailableNow` into the noop sink from a fresh checkpoint.
  * One operation is one operator's drain; the check is that every
  * staged input row was read. */
final class StreamingWorkload(spark: SparkSession, seed: Long, workDir: String)
    extends Workload {

  private var dir = ""
  private var nRows = 0L
  private var run = 0
  private val rps = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  private val state = mutable.ArrayBuffer.empty[(Long, Long)]

  def opKinds: Set[String] = Set("drain")

  def stage(d: String): Unit = {
    if (dir.nonEmpty) PerfBench.rmrf(dir)
    PerfBench.rmrf(d)
    val ev = new SeededData(seed).events(spark, StreamingWorkload.Events, 1000L)
      .select("event_id", "ts", "user_id", "event_type", "value")
      .withColumn("ts", col("ts").cast("timestamp"))
    ev.repartition(4).write.parquet(s"$d/events")
    ev.select(col("event_id").as("order_id"), col("ts"), col("user_id"),
        col("value").as("amount"))
      .repartition(4).write.parquet(s"$d/orders")
    nRows = spark.read.parquet(s"$d/events").count()
    dir = d
  }

  private def events: DataFrame = EventStreams.readEventStream(spark, s"$dir/events")
  private def orders: DataFrame = spark.readStream
    .schema("order_id BIGINT, ts TIMESTAMP, user_id BIGINT, amount DOUBLE")
    .parquet(s"$dir/orders")

  /** (name, build, number of input streams): the stream-stream interval
    * join, the slowest operator of the streaming module */
  private val ops: Seq[(String, () => DataFrame, Int)] = Seq(
    ("interval_join", () => EventStreams.intervalJoin(events, orders), 2))

  /** one drain: (seconds, rows read, state rows, state bytes) */
  private def drain(name: String, build: () => DataFrame): (Double, Long, Long, Long) = {
    run += 1
    val chk = s"$workDir/chk/${name}_$run"
    val t0 = PerfBench.now()
    val q = PerfBench.span("streaming", name)(build()).writeStream.format("noop")
      .option("checkpointLocation", chk)
      .outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val s = PerfBench.secs(t0)
    val progress = q.recentProgress
    val rows = progress.map(_.numInputRows).sum
    val last = progress.lastOption.toSeq.flatMap(_.stateOperators)
    PerfBench.rmrf(chk)
    (s, rows, last.map(_.numRowsTotal).sum, last.map(_.memoryUsedBytes).sum)
  }

  def cold(): Unit = ops.foreach { case (n, b, _) => drain(n, b) }

  def pass(): Seq[Sample] = ops.map { case (name, build, streams) =>
    PerfBench.isolate(spark)
    spark.sparkContext.setLocalProperty(Tracer.OwnerKey, "EventStreams")
    val (s, rows, stRows, stMem) = PerfBench.op(name)(drain(name, build))
    rps.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += nRows * streams / s
    state += ((stRows, stMem))
    Sample("drain", name, s * 1e3, rows == nRows * streams, (nRows * streams).toDouble)
  }

  /** input rows per second of drain time */
  def throughput(samples: Seq[Sample]): Double = {
    val ds = samples.filter(_.kind == "drain")
    ds.map(_.work).sum / math.max(1e-9, ds.map(_.ms).sum / 1e3)
  }

  override def layerMetrics(): Map[String, Double] =
    StreamingWorkload.opNames.map(n =>
      s"streaming.$n.rows_per_s" -> rps.get(n).map(_.max).getOrElse(0.0)
    ).toMap ++ Map(
      "streaming.state_rows" -> PerfBench.median(state.map(_._1.toDouble).toSeq),
      "streaming.state_mem_bytes" -> PerfBench.median(state.map(_._2.toDouble).toSeq))
}

object StreamingWorkload {
  /** staged events per stream */
  val Events = 2000L
  val opNames: Seq[String] = Seq("interval_join")
}
