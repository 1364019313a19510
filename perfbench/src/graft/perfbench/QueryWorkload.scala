package graft.perfbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import graft.operators._

/** A fixed list of headline queries over seeded data at sf0.01. Each
  * operation is one query: cache
  * isolation, `SparkEntry.queries(name)(spark, dir)` (the operator
  * build, eager cuts and loop rounds included), then `count()`.
  * The cold pass writes every result as parquet for the DuckDB oracle
  * check and records row counts; every timed run must reproduce them. */
final class QueryWorkload(spark: SparkSession, seed: Long, workDir: String)
    extends Workload {
  import QueryWorkload._

  private var dir = ""
  private val counts = scala.collection.mutable.Map.empty[String, Long]
  val outDir = s"$workDir/results"

  def opKinds: Set[String] = Set("query")

  def stage(d: String): Unit = {
    PerfBench.rmrf(d)
    new SeededData(seed).write(spark, Sf, d, graft.Tables.all)
    dir = d
  }

  def cold(): Unit = {
    PerfBench.rmrf(outDir)
    queries.foreach { q =>
      PerfBench.isolate(spark)
      spark.sparkContext.setLocalProperty(Tracer.OwnerKey, owner(q))
      graft.SparkEntry.queries(q)(spark, dir)
        .write.mode("overwrite").parquet(s"$outDir/$q")
      counts(q) = spark.read.parquet(s"$outDir/$q").count()
    }
    val oracles = graft.SparkEntry.oracleSql.filter { case (k, _) => queries.contains(k) }
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
    Files.write(Paths.get(s"$outDir/oracle_sql.json"), mapper.writeValueAsBytes(oracles))
    Files.write(Paths.get(s"$workDir/sf_dir"), dir.getBytes("UTF-8"))
  }

  def pass(): Seq[Sample] = queries.map { q =>
    PerfBench.isolate(spark)
    spark.sparkContext.setLocalProperty(Tracer.OwnerKey, owner(q))
    val t0 = PerfBench.now()
    val n = try PerfBench.op(q) {
      val df = PerfBench.span("operators", q)(graft.SparkEntry.queries(q)(spark, dir))
      df.count()
    } catch { case e: Exception =>
      System.err.println(s"[perfbench] $q failed: ${e.getMessage}"); -1L
    }
    Sample("query", q, PerfBench.secs(t0) * 1e3, n == counts(q), 1.0)
  }

  def throughput(samples: Seq[Sample]): Double = {
    val qs = samples.filter(_.kind == "query")
    qs.size / math.max(1e-9, qs.map(_.ms).sum / 1e3)
  }
}

object QueryWorkload {

  private val registries = Seq(
    "Relational" -> Relational.queries.keySet,
    "SessionOps" -> SessionOps.queries.keySet,
    "LakehouseOps" -> LakehouseOps.queries.keySet,
    "TextOps" -> TextOps.queries.keySet,
    "VectorOps" -> VectorOps.queries.keySet,
    "ScaleOps" -> ScaleOps.queries.keySet,
    "GraphOps" -> GraphOps.queries.keySet,
    "Multimodal" -> Multimodal.queries.keySet)

  /** One headline query per operator registry (TypedOps has none in the
    * headline list): the registry's first headline query whose DuckDB oracle
    * answers within a second on this data, so the output check fits
    * the run (the n-gram similarity oracles of q31/q32 take ~12 s).
    * TextOps contributes q76_decontaminate, the dedup family's PPJoin
    * path, instead of the trivial q61_stratified_sample. The analytics
    * registries (planning, codegen, scheduling, scans) sit beside the
    * iterative, kernel-heavy curation ones (many jobs per query,
    * lineage cuts, loop rounds). */
  val queries: Seq[String] = Seq(
    "q01_pricing_summary", "q21_cdc_latest", "q34_ann_cosine",
    "q35_ann_lsh", "q50_sessionize", "q76_decontaminate", "q98_pagerank",
    "q266_image_meta")
  val Sf = 0.01

  /** the registry (source file) that defines query `q` */
  def owner(q: String): String =
    registries.find(_._2.contains(q)).map(_._1).getOrElse("other")
}
