package graft.perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.lakehouse._
import graft.operators.VectorIndex

/** The curation daemon with writes beside reads. Each pass lands one
  * corpus drop, runs `Automation.tick()` (a seeded SurveyGen drop,
  * corpus dedup, the retrieval fold, ANN tombstones, the catalog
  * commit, tick history and scheduled compaction), then serves
  * `Serves` `graft_hybrid` calls and one dashboard SQL query over the
  * live survey table. One operation is one serving call. */
final class DaemonWorkload(spark: SparkSession, seed: Long, workDir: String)
    extends Workload {
  import DaemonWorkload._

  private var dir = ""
  private var auto: Automation = _
  private var nextDrop = 0
  private var ticks = 0
  private var docsDropped = 0L
  private var kept = 0L
  private var dropped = 0L
  private var dropBytes = 0L
  private val layer = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  private val rnd = new scala.util.Random(seed)
  private def rec(k: String, v: Double): Unit =
    layer.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v

  def opKinds: Set[String] = Set("serve")

  private def corpusCfg(d: String) = Automation.CorpusDedupConfig(
    srcDir = s"$d/drops", rawTableDir = s"$d/raw", registryDir = s"$d/creg",
    corpusDir = s"$d/corpus", postingsDir = s"$d/postings",
    annIndexPath = Some(s"$d/idx"), annVacuumEvery = 4,
    retrievalDir = Some(s"$d/rx"), retrievalCompactEvery = 4)

  def stage(d: String): Unit = {
    if (dir.nonEmpty) PerfBench.rmrf(dir)
    PerfBench.rmrf(d)
    val gen = new SeededData(seed)
    val nDocs = DocsPerDrop * MaxDrops
    // the doc-keyed ANN index (vec_id = doc_id) plus probe-only vectors
    VectorIndex.build(gen.embeddings(spark, nDocs + Probes), s"$d/idx", k = 4, iters = 2)
    gen.documents(spark, nDocs)
      .select(col("doc_id"), col("text"), col("lang"), col("source"),
        (col("doc_id") / DocsPerDrop).cast("int").as("drop"))
      .repartition(col("drop")).write.partitionBy("drop").json(s"$d/staged")
    Seq("drops", "arrivals").foreach(s => Files.createDirectories(Paths.get(s"$d/$s")))
    dir = d
    nextDrop = 0; ticks = 0; docsDropped = 0; kept = 0; dropped = 0; dropBytes = 0
    auto = new Automation(spark, Automation.Config(
      srcDir = s"$d/arrivals", tableDir = s"$d/survey", registryDir = s"$d/sreg",
      rowsPerDrop = SurveyRows, generate = true, seedBase = seed.toInt,
      compactEvery = 4, historyDir = Some(s"$d/hist"),
      catalog = Some(Automation.CatalogConfig(s"$d/cat")),
      corpusDedup = Some(corpusCfg(d))))
    graft.functions.GraftFunctions.registerTableFunctions(spark)
  }

  /** land the next staged corpus drop, then run one daemon tick */
  private def tick(): (Double, Long) = {
    require(nextDrop < MaxDrops, s"all $MaxDrops staged drops consumed")
    val part = Files.list(Paths.get(s"$dir/staged/drop=$nextDrop")).toArray
      .map(_.asInstanceOf[java.nio.file.Path])
      .find(_.getFileName.toString.startsWith("part-")).get
    dropBytes += Files.size(part)
    Files.move(part, Paths.get(s"$dir/drops/drop_$nextDrop.json"),
      StandardCopyOption.ATOMIC_MOVE)
    nextDrop += 1
    val t0 = PerfBench.now()
    val r = PerfBench.op("tick")(PerfBench.span("lakehouse", "tick")(auto.tick()))
    val s = PerfBench.secs(t0)
    ticks += 1
    val docs = r.corpus.map(c => c.kept + c.dropped).getOrElse(0L)
    r.corpus.foreach { c => kept += c.kept; dropped += c.dropped }
    docsDropped += DocsPerDrop
    (s, docs)
  }

  private def terms(): String =
    Seq.fill(3)(Vocab(rnd.nextInt(Vocab.size))).mkString(" ")
  private def probe(): Long = DocsPerDrop * MaxDrops + rnd.nextInt(Probes)
  /** serving call i's (terms, probe id), the same request in every cycle;
    * call 0 is the cold pass's warm-up */
  private lazy val requests = (0 to Serves).map(_ => (terms(), probe()))

  private def serve(i: Int): Sample = {
    val (t, p) = requests(i)
    spark.sparkContext.setLocalProperty(Tracer.OwnerKey, "RetrievalView")
    val t0 = PerfBench.now()
    val n = PerfBench.op("graft_hybrid")(spark.sql(
      s"SELECT * FROM graft_hybrid('$dir/rx', '$dir/idx', '$t', $p, 10)").collect().length)
    val ms = PerfBench.secs(t0) * 1e3
    Sample("serve", s"graft_hybrid_$i", ms, n > 0 && n <= 10, 1.0)
  }

  private def dashboard(): Sample = {
    spark.sparkContext.setLocalProperty(Tracer.OwnerKey, "VersionedTable")
    val t0 = PerfBench.now()
    val rows = PerfBench.op("dashboard") {
      VersionedTable.read(spark, s"$dir/survey").createOrReplaceTempView("survey")
      spark.sql("SELECT customer_type, satisfaction, count(*) AS n, " +
        "avg(departure_delay) AS delay FROM survey GROUP BY 1, 2").collect()
    }
    val ms = PerfBench.secs(t0) * 1e3
    rec("sql.dash_ms", ms)
    Sample("dash", "dashboard", ms, rows.map(_.getLong(2)).sum == ticks.toLong * SurveyRows, 1.0)
  }

  private def cycle(): Seq[Sample] = {
    PerfBench.isolate(spark)
    spark.sparkContext.setLocalProperty(Tracer.OwnerKey, "Automation")
    val (s, docs) = tick()
    Sample("tick", "tick", s * 1e3, docs == DocsPerDrop, docs.toDouble) +:
      ((1 to Serves).map(serve) :+ dashboard())
  }

  /** the bootstrap tick (the retrieval index must exist before serving
    * starts), one serving call and the dashboard */
  def cold(): Unit = { tick(); serve(0); dashboard() }
  def pass(): Seq[Sample] = cycle()

  /** documents curated per second of tick time */
  def throughput(samples: Seq[Sample]): Double = {
    val ts = samples.filter(_.kind == "tick")
    ts.map(_.work).sum / math.max(1e-9, ts.map(_.ms).sum / 1e3)
  }

  override def layerMetrics(): Map[String, Double] = {
    val t = PerfBench.tracer.get
    val tickSpans = t.allSpans.filter(s => s.layer == "lakehouse")
    val serveSpans = t.allSpans.filter(s => s.layer == "op" && s.name == "graft_hybrid")
    val n = math.max(1, tickSpans.size).toDouble
    val tj = tickSpans.map(s => t.jobsIn(s.startMs, s.endMs))
    val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(dir),
      spark.sparkContext.hadoopConfiguration)
    def du(p: String): Long = {
      val path = new org.apache.hadoop.fs.Path(p)
      if (fs.exists(path)) fs.getContentSummary(path).getLength else 0L
    }
    // live data files: the current version's, or a flat table's files
    val live = Seq("survey", "corpus").map { tb =>
      val root = s"$dir/$tb"
      val lens = VersionedTable.currentVersion(spark, root) match {
        case Some(_) => VersionedTable.currentFiles(spark, root).map(f =>
          fs.getFileStatus(new org.apache.hadoop.fs.Path(s"$root/$f")).getLen)
        case None =>
          val it = fs.listFiles(new org.apache.hadoop.fs.Path(root), true)
          Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
            .filter(_.getPath.getName.endsWith(".parquet")).map(_.getLen).toSeq
      }
      (lens.size, lens.sum)
    }
    // the two halves of a hybrid call on their own, on the live index
    // once the window has closed, so no operation is charged for them
    (1 to Serves).foreach { _ =>
      val (q, p) = (terms(), probe())
      val tl = PerfBench.now()
      RetrievalView.search(spark, s"$dir/rx",
        spark.createDataFrame(q.split(" ").toSeq.map(("q", _))).toDF("query_id", "term"), 10)
        .collect()
      rec("serve.lexical_ms", PerfBench.secs(tl) * 1e3)
      val td = PerfBench.now()
      VectorIndex.search(spark, s"$dir/idx",
        VectorIndex.probeById(spark, s"$dir/idx", Seq(p)), 8, 10).collect()
      rec("serve.dense_ms", PerfBench.secs(td) * 1e3)
    }
    def med(k: String) = layer.get(k).map(v => PerfBench.median(v.toSeq)).getOrElse(0.0)
    Map(
      "lakehouse.tick_jobs" -> tj.map(_._1).sum / n,
      "lakehouse.tick_driver_s" -> tj.map(_._2).sum / 1e3 / n,
      "lakehouse.write_amp" -> t.fsDelta("bytesWritten") / math.max(1L, dropBytes),
      "lakehouse.space_amp" -> (du(s"$dir/survey") + du(s"$dir/corpus")).toDouble /
        math.max(1L, live.map(_._2).sum),
      "lakehouse.live_files" -> live.map(_._1).sum.toDouble,
      "serve.lexical_ms" -> med("serve.lexical_ms"),
      "serve.dense_ms" -> med("serve.dense_ms"),
      "serve.jobs" -> serveSpans.map(s => t.jobsIn(s.startMs, s.endMs)._1).sum /
        math.max(1, serveSpans.size).toDouble,
      "sql.dash_ms" -> med("sql.dash_ms"))
  }

  /** Every drop registered once, survey rows equal the generated rows,
    * kept + dropped equals the docs dropped, and the maintained
    * retrieval index serves exactly what a one-shot fold of the
    * published corpus serves. */
  override def finalCheck(): (Int, Int) = {
    def okPaths(reg: String): Seq[String] = LoadRegistry.read(spark, reg)
      .filter(col("status") === "ok").select("path").collect().map(_.getString(0)).toSeq
    val survey = okPaths(s"$dir/sreg"); val corpus = okPaths(s"$dir/creg")
    val checks = Seq(
      "survey drops registered once" ->
        (survey.size == ticks && survey.distinct.size == ticks),
      "corpus drops registered once" ->
        (corpus.size == nextDrop && corpus.distinct.size == nextDrop),
      "survey rows = generated rows" ->
        (VersionedTable.read(spark, s"$dir/survey").count() == ticks.toLong * SurveyRows),
      "kept + dropped = docs dropped" -> (kept + dropped == docsDropped),
      "retrieval = one-shot fold" -> retrievalMatches())
    checks.filterNot(_._2).foreach(c => System.err.println(s"[perfbench] daemon check failed: ${c._1}"))
    (checks.size, checks.count(!_._2))
  }

  private def retrievalMatches(): Boolean = {
    val fresh = s"$dir/rx_oneshot"
    val published = VersionedTable.read(spark, s"$dir/corpus").select("doc_id", "text")
    RetrievalView.update(spark, fresh, published, 0L)
    Vocab.take(1).forall { term =>
      val q = spark.createDataFrame(Seq(("q", term))).toDF("query_id", "term")
      def top(root: String) = RetrievalView.search(spark, root, q, 20)
        .select("doc_id", "score").collect().map(r => (r.getLong(0), r.get(1).toString)).toSet
      top(s"$dir/rx") == top(fresh)
    }
  }
}

object DaemonWorkload {
  val DocsPerDrop = 40
  val MaxDrops = 8
  val SurveyRows = 200L
  val Serves = 4
  val Probes = 32
  val Vocab: Seq[String] = Seq("spark", "join", "query", "data", "table",
    "stream", "vector", "merge", "window", "filter", "batch", "order")
}
