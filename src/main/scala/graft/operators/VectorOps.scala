package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables

/** Vector/similarity operators over the `embeddings` table
  * (64-dim float vectors).
  *
  * Determinism note: double dot products are accumulation-order
  * dependent, so cross-engine parity routes each elementwise product
  * through a DECIMAL(28,12) accumulator (exact sum) and casts the
  * exact total to double. Scalar sqrt/division afterwards are IEEE
  * deterministic. The cost is one exact decimal sum per pair — still
  * codegen'd, still a single pass.
  *
  * Scale shape: probes are a small broadcast side; the big side is
  * scanned once with no shuffle before the per-pair aggregation. For
  * the banded/bucketed scale path see `q35_ann_lsh` in ScaleOps.
  */
object VectorOps {

  type QFn = (SparkSession, String) => DataFrame

  private val DecDot = DecimalType(28, 12)


  /** Per-vector L2 norms, exact-decimal accumulated — in-row via the
    * dot_product_dec12 kernel (r14): bit-identical to the former
    * explode→cast→decimal-sum pipeline (same per-element scale-12
    * HALF_UP rounding, exact sum, one double conversion) without the
    * per-element explode, the vec-keyed aggregate exchange, or the
    * decimal buffer churn. (A vector with NO contributing elements
    * was absent before and is a null norm now; every consumer sits
    * behind joins/filters both forms fail.) */
  private def norms(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"),
      sqrt(graft.functions.GraftFunctions.dotProductDec12(
        col("embedding"), col("embedding"))).as("nrm"))

  /** Cosine-threshold verification of candidate pairs, two-phase:
    *
    * Phase 1 — fast filter: join the candidate ids to the embedding
    * table (both joins broadcast while the vectors fit a build side,
    * sort-merge beyond) and score each pair IN-ROW with the native
    * codegen `cosine_sim` expression (~3·64 FLOPs/pair, one generated
    * loop, no interpreted HOFs, and — critically — NO driver
    * materialization of the embedding matrix: the arrays never leave
    * their rows, so the filter scales to any table size). The
    * threshold gets a 1e-6 safety margin, far above the ~1e-13
    * double-vs-exact error bound, so no true pair can be dropped —
    * and the filter runs in the same codegen stage as the join, so
    * non-survivors are never materialized.
    *
    * Phase 2 — exact recompute: survivors (a tiny set) go through the
    * DECIMAL-accumulated dot + exact norms, and the exact cosine
    * applies the real threshold — so the output is bit-identical to
    * the all-exact computation (and the DuckDB oracle).
    *
    * Shared by the exact all-pairs join (q46) and the LSH candidate
    * path (ScaleOps q47), mirroring the TextOps.verifyJaccard
    * pattern. */
  private[operators] def verifyCosine(emb: DataFrame, cand: DataFrame,
      t: Double): DataFrame = {
    val ea = emb.select(col("vec_id").as("vec_a"), col("embedding").as("fa"))
    val eb = emb.select(col("vec_id").as("vec_b"), col("embedding").as("fb"))
    val survivors = cand.select(col("vec_a"), col("vec_b"))
      .join(ea, Seq("vec_a")).join(eb, Seq("vec_b"))
      .filter(graft.functions.GraftFunctions.cosineSim(col("fa"), col("fb")) >= t - 1e-6)
      .select("vec_a", "vec_b")
    exactCosine(emb, survivors, t)
  }

  /** Exact-decimal cosine for candidate pairs with the final
    * threshold; codegen shapes (posexplode → partial-agg decimal dot,
    * norms joined per side). Norms are one scan+partial-agg over the
    * table — measured FASTER than semi-joining down to the candidate
    * vectors first (the distinct+semi-join shuffles cost more than
    * the scan whenever phase 1 already reads the table, which every
    * caller here does). */
  private def exactCosine(emb: DataFrame, cand: DataFrame,
      t: Double): DataFrame = {
    val nrm = norms(emb)
    val ea = emb.select(col("vec_id").as("vec_a"), col("embedding").as("ea"))
    val eb = emb.select(col("vec_id").as("vec_b"), col("embedding").as("eb"))
    cand.join(ea, Seq("vec_a")).join(eb, Seq("vec_b"))
      // in-row exact-decimal dot (r14): replaces a 64-way posexplode +
      // pair-keyed decimal aggregate per candidate — same scale-12
      // per-product rounding, exact sum, one double conversion (see
      // DotProductDec12), so the value is bit-identical to the
      // exploded form the oracle evaluates
      .select(col("vec_a"), col("vec_b"),
        graft.functions.GraftFunctions.dotProductDec12(
          col("ea"), col("eb")).as("dot"))
      .join(broadcast(nrm.select(col("vec_id").as("vec_a"), col("nrm").as("na"))),
        Seq("vec_a"))
      .join(broadcast(nrm.select(col("vec_id").as("vec_b"), col("nrm").as("nb"))),
        Seq("vec_b"))
      .withColumn("cosine", col("dot") / (col("na") * col("nb")))
      .filter(col("cosine") >= t)
      .select("vec_a", "vec_b", "cosine")
  }

  /** Exact all-pairs candidate generation: a broadcast inequality
    * self-join — O(n²) pairs with the whole id column on the build
    * side. This is the DECLARED exact baseline whose output the LSH
    * path must reproduce; it is only affordable for small
    * collections, which is why external callers go through
    * [[cosinePairs]]'s size guard instead. */
  private[operators] def exactPairs(emb: DataFrame, t: Double): DataFrame = {
    val ids = emb.select(col("vec_id").as("vec_a"))
    val cand = ids.join(broadcast(emb.select(col("vec_id").as("vec_b"))),
      col("vec_a") < col("vec_b"))
    verifyCosine(emb, cand, t)
  }

  /** THE entry point for embedding-cosine near-dup pairs: dispatches
    * on collection size. At or below `exactLimit` rows the exact
    * O(n²) baseline runs (its cartesian candidate build is fine for
    * a test set and a footgun beyond — the 100k default keeps the
    * broadcast build side in the tens of MB); above it, the banded
    * random-hyperplane LSH path generates candidates with an
    * O(n·bands) shuffle instead. Both end in the same exact-decimal
    * verify, and the spec pins that they produce the same pair set,
    * so the dispatch is a pure plan-shape decision. `cacheKey` names
    * the LSH band cache (defaults to the input's semantic hash). */
  def cosinePairs(emb: DataFrame, t: Double,
      exactLimit: Long = 100000L, cacheKey: String = ""): DataFrame = {
    if (emb.count() <= exactLimit) exactPairs(emb, t)
    else ScaleOps.cosinePairsLsh(emb, t,
      if (cacheKey.nonEmpty) cacheKey
      else s"cosinePairs:${emb.queryExecution.analyzed.semanticHash()}")
  }

  /** Embedding-cosine near-duplicate pairs, exact: every pair with
    * cosine ≥ 0.4 — [[exactPairs]] as a query, the baseline the
    * LSH-bucketed scale path (q47 in ScaleOps) must reproduce. */
  private val q46: QFn = (s, d) => exactPairs(Tables.embeddings(s, d), 0.4)
  /** The exact all-pairs SQL at threshold `t` — q46's oracle, and
    * (at 0.7) the oracle that pins the selective LSH profile's
    * recall to 1 (ScaleOps q64). */
  private[operators] def cosinePairsSql(t: Double): String =
    s"""WITH el AS (
      |  SELECT vec_id, unnest(embedding) AS x,
      |         unnest(range(1, len(embedding)+1)) AS i
      |  FROM embeddings),
      |nrm AS (
      |  SELECT vec_id, SQRT(CAST(SUM(CAST(
      |      CAST(x AS DOUBLE) * CAST(x AS DOUBLE) AS DECIMAL(28,12)))
      |      AS DOUBLE)) AS nrm
      |  FROM el GROUP BY vec_id),
      |dots AS (
      |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
      |    CAST(SUM(CAST(CAST(a.x AS DOUBLE) * CAST(b.x AS DOUBLE)
      |      AS DECIMAL(28,12))) AS DOUBLE) AS dot
      |  FROM el a JOIN el b ON a.i = b.i AND a.vec_id < b.vec_id
      |  GROUP BY 1, 2)
      |SELECT vec_a, vec_b, dot / (na.nrm * nb.nrm) AS cosine
      |FROM dots
      |JOIN nrm na ON na.vec_id = vec_a
      |JOIN nrm nb ON nb.vec_id = vec_b
      |WHERE dot / (na.nrm * nb.nrm) >= $t""".stripMargin

  private val q46Sql = cosinePairsSql(0.4)

  /** Brute-force cosine top-k: for each probe vector (vec_id < 5),
    * the 3 nearest neighbors by cosine similarity. Same two-phase
    * shape as verifyCosine — ONLY the probe side (a handful of
    * vectors) is broadcast; the big side streams through a codegen
    * `cosine_sim` scoring pass in its own partitions, so the plan is
    * a single map-stage scan of the collection regardless of its
    * size. Everything within 1e-6 of each probe's 3rd-best (a
    * superset of the exact top-3, since double vs exact cosine
    * differ by ≤ ~1e-13) is recomputed exactly and re-ranked, so the
    * output is bit-identical to the oracle. */
  private val q34: QFn = (s, d) => {
    val emb = Tables.embeddings(s, d)
    val scored = emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("ne"))
      .join(broadcast(emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("probe_id"), col("embedding").as("pe"))),
        col("probe_id") =!= col("neighbor_id"))
      .select(col("probe_id"), col("neighbor_id"),
        graft.functions.GraftFunctions.cosineSim(col("pe"), col("ne")).as("dcos"))
    val w = Window.partitionBy("probe_id")
      .orderBy(col("dcos").desc, col("neighbor_id").asc)
    val ranked = scored.withColumn("rnk", row_number().over(w))
    val third = ranked.filter(col("rnk") === 3)
      .select(col("probe_id"), col("dcos").as("third"))
    val cand = ranked.join(broadcast(third), Seq("probe_id"))
      .filter(col("dcos") >= col("third") - 1e-6)
      .select(col("probe_id"), col("neighbor_id"))
    exactTopK(emb, cand, 3)
  }

  /** Exact-decimal top-k rerank of ANN candidates: (probe_id,
    * neighbor_id) pairs → decimal-exact cosine → row_number top-k per
    * probe. The shared tail of q34 (margin-filtered brute force) and
    * q86 (PQ-ADC candidates): the final ranking semantics are
    * identical, so ANY candidate generator that covers the true top-k
    * reproduces the exact oracle output bit for bit. */
  private[operators] def exactTopK(emb: DataFrame, cand: DataFrame,
      k: Int): DataFrame = {
    val w2 = Window.partitionBy("probe_id")
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    exactCosine(emb, cand // no threshold: rank below
        .select(col("probe_id").as("vec_a"), col("neighbor_id").as("vec_b")),
        -2.0)
      .select(col("vec_a").as("probe_id"), col("vec_b").as("neighbor_id"),
        col("cosine"))
      .withColumn("rnk", row_number().over(w2))
      .filter(col("rnk") <= k)
      .select("probe_id", "neighbor_id", "rnk", "cosine")
  }
  private val q34Sql =
    """WITH el AS (
      |  SELECT vec_id, unnest(embedding) AS x,
      |         unnest(range(1, len(embedding)+1)) AS i
      |  FROM embeddings),
      |nrm AS (
      |  SELECT vec_id, SQRT(CAST(SUM(CAST(
      |      CAST(x AS DOUBLE) * CAST(x AS DOUBLE) AS DECIMAL(28,12)))
      |      AS DOUBLE)) AS nrm
      |  FROM el GROUP BY vec_id),
      |dots AS (
      |  SELECT p.vec_id AS probe_id, e.vec_id AS neighbor_id,
      |    CAST(SUM(CAST(CAST(p.x AS DOUBLE) * CAST(e.x AS DOUBLE)
      |      AS DECIMAL(28,12))) AS DOUBLE) AS dot
      |  FROM el p JOIN el e ON p.i = e.i AND p.vec_id <> e.vec_id
      |  WHERE p.vec_id < 5
      |  GROUP BY 1, 2),
      |cos AS (
      |  SELECT probe_id, neighbor_id, dot / (np.nrm * nn.nrm) AS cosine
      |  FROM dots
      |  JOIN nrm np ON np.vec_id = probe_id
      |  JOIN nrm nn ON nn.vec_id = neighbor_id)
      |SELECT probe_id, neighbor_id, rnk, cosine FROM (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
      |      ORDER BY cosine DESC, neighbor_id ASC) AS rnk
      |  FROM cos) t
      |WHERE rnk <= 3""".stripMargin

  /** Per-label embedding statistics: count, exact-accumulated mean
    * norm, mean first component — the profile pass before clustering. */
  private val q40: QFn = (s, d) => {
    val emb = Tables.embeddings(s, d)
    val nrm = norms(emb)
    emb.join(nrm, Seq("vec_id"))
      .groupBy("label")
      .agg(
        count(lit(1)).as("n"),
        // norms are full-mantissa doubles whose decimal cast can differ
        // by 1ulp@1e-12 between engines; round the final mean at 1e-6
        // where the accumulated difference (~1e-13) cannot reach
        round(sum(col("nrm").cast(DecDot)).cast("double") / count(lit(1)), 6).as("avg_norm"),
        (sum(element_at(col("embedding"), 1).cast("double").cast(DecDot))
          .cast("double") / count(lit(1))).as("avg_first"))
  }
  private val q40Sql =
    """WITH nrm AS (
      |  SELECT vec_id, SQRT(CAST(SUM(CAST(
      |      CAST(x AS DOUBLE) * CAST(x AS DOUBLE) AS DECIMAL(28,12)))
      |      AS DOUBLE)) AS nrm
      |  FROM (SELECT vec_id, unnest(embedding) AS x FROM embeddings) t
      |  GROUP BY vec_id)
      |SELECT label, COUNT(*) AS n,
      |  ROUND(CAST(SUM(CAST(nrm AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*), 6)
      |    AS avg_norm,
      |  CAST(SUM(CAST(CAST(embedding[1] AS DOUBLE) AS DECIMAL(28,12)))
      |    AS DOUBLE) / COUNT(*) AS avg_first
      |FROM embeddings JOIN nrm USING (vec_id)
      |GROUP BY label""".stripMargin

  /** q93: FILTERED exact top-k — q34's brute force restricted to an
    * allowed neighbor set (even labels ≈ half the collection): the
    * training-pipeline shape "nearest neighbors among lang = 'en'".
    * PRE-filtered (the scan streams only allowed vectors), same
    * two-phase margin + exact-decimal rerank, so the output is
    * bit-identical to the oracle. The index-backed scale path is
    * `VectorIndex.searchPQ(..., allowed = …)`, spec-pinned against
    * this exact baseline. */
  private val q93: QFn = (s, d) => {
    val emb = Tables.embeddings(s, d)
    val scored = emb.filter(col("label") % 2 === 0)
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("ne"))
      .join(broadcast(emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("probe_id"), col("embedding").as("pe"))),
        col("probe_id") =!= col("neighbor_id"))
      .select(col("probe_id"), col("neighbor_id"),
        graft.functions.GraftFunctions.cosineSim(col("pe"), col("ne")).as("dcos"))
    val w = Window.partitionBy("probe_id")
      .orderBy(col("dcos").desc, col("neighbor_id").asc)
    val ranked = scored.withColumn("rnk", row_number().over(w))
    val third = ranked.filter(col("rnk") === 3)
      .select(col("probe_id"), col("dcos").as("third"))
    val cand = ranked.join(broadcast(third), Seq("probe_id"))
      .filter(col("dcos") >= col("third") - 1e-6)
      .select(col("probe_id"), col("neighbor_id"))
    exactTopK(emb, cand, 3)
  }
  private val q93Sql =
    """WITH lab AS (
      |  SELECT vec_id FROM embeddings WHERE label % 2 = 0),
      |el AS (
      |  SELECT vec_id, unnest(embedding) AS x,
      |         unnest(range(1, len(embedding)+1)) AS i
      |  FROM embeddings),
      |nrm AS (
      |  SELECT vec_id, SQRT(CAST(SUM(CAST(
      |      CAST(x AS DOUBLE) * CAST(x AS DOUBLE) AS DECIMAL(28,12)))
      |      AS DOUBLE)) AS nrm
      |  FROM el GROUP BY vec_id),
      |dots AS (
      |  SELECT p.vec_id AS probe_id, e.vec_id AS neighbor_id,
      |    CAST(SUM(CAST(CAST(p.x AS DOUBLE) * CAST(e.x AS DOUBLE)
      |      AS DECIMAL(28,12))) AS DOUBLE) AS dot
      |  FROM el p JOIN el e ON p.i = e.i AND p.vec_id <> e.vec_id
      |  JOIN lab ON lab.vec_id = e.vec_id
      |  WHERE p.vec_id < 5
      |  GROUP BY 1, 2),
      |cos AS (
      |  SELECT probe_id, neighbor_id, dot / (np.nrm * nn.nrm) AS cosine
      |  FROM dots
      |  JOIN nrm np ON np.vec_id = probe_id
      |  JOIN nrm nn ON nn.vec_id = neighbor_id)
      |SELECT probe_id, neighbor_id, rnk, cosine FROM (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
      |      ORDER BY cosine DESC, neighbor_id ASC) AS rnk
      |  FROM cos) t
      |WHERE rnk <= 3""".stripMargin

  /** q143: HYBRID RETRIEVAL with RECIPROCAL-RANK FUSION — the
    * standard RAG serving pattern: a lexical BM25 top-10 (exactly
    * q132's ranked list) and a dense cosine top-10 (exact-decimal
    * rerank, q34's tail at k=10) fuse per query by
    * RRF(d) = Σ 1/(60 + rank_list(d)) (Cormack & Clarke SIGIR'09),
    * full-outer on the item so a doc ranked by only one modality
    * still scores. Scale shape: both lists are top-k-bounded (the
    * fusion join touches ≤ 2k rows per query, never a corpus), the
    * probe set broadcasts, and the fused window ranks ≤ 2k rows per
    * query. Determinism: ranks are ints, the RRF term is one fixed
    * IEEE expression, ordering tiebreaks on doc_id, score rounds to
    * 6 dp only at output. */
  private val q143: QFn = (s, d) => {
    import s.implicits._
    val text = graft.operators.TextOps.queries("q132_bm25")(s, d)
      .select(col("query_id"), col("doc_id"), col("rnk").as("rt"))
    val emb = Tables.embeddings(s, d)
    val cand = emb.select(col("vec_id").as("neighbor_id"))
      .crossJoin(broadcast(emb.filter(col("vec_id") < 3)
        .select(col("vec_id").as("probe_id"))))
      .filter(col("probe_id") =!= col("neighbor_id"))
      .select("probe_id", "neighbor_id")
    val dense = exactTopK(emb, cand, 10)
    val mapping = Seq(("q1", 0L), ("q2", 1L), ("q3", 2L))
      .toDF("query_id", "probe_id")
    val vr = dense.join(broadcast(mapping), Seq("probe_id"))
      .select(col("query_id"), col("neighbor_id").as("doc_id"),
        col("rnk").as("rv"))
    val fused = text.join(vr, Seq("query_id", "doc_id"), "full_outer")
      .select(col("query_id"), col("doc_id"),
        (coalesce(lit(1.0) / (lit(60) + col("rt")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(60) + col("rv")), lit(0.0))).as("rrf"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("rrf").desc, col("doc_id").asc)
    fused.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 10)
      .select(col("query_id"), col("doc_id"), col("rnk"),
        round(col("rrf"), 6).as("rrf_score"))
  }
  private val q143Sql =
    s"""WITH text_ranks AS (
       |  SELECT query_id, doc_id, rnk AS rt
       |  FROM (${graft.operators.TextOps.q132Sql}) tq),
       |el AS (
       |  SELECT vec_id, unnest(embedding) AS x,
       |         unnest(range(1, len(embedding)+1)) AS i
       |  FROM embeddings),
       |nrm AS (
       |  SELECT vec_id, SQRT(CAST(SUM(CAST(
       |      CAST(x AS DOUBLE) * CAST(x AS DOUBLE) AS DECIMAL(28,12)))
       |      AS DOUBLE)) AS nrm
       |  FROM el GROUP BY vec_id),
       |dots AS (
       |  SELECT p.vec_id AS probe_id, e.vec_id AS neighbor_id,
       |    CAST(SUM(CAST(CAST(p.x AS DOUBLE) * CAST(e.x AS DOUBLE)
       |      AS DECIMAL(28,12))) AS DOUBLE) AS dot
       |  FROM el p JOIN el e ON p.i = e.i AND p.vec_id <> e.vec_id
       |  WHERE p.vec_id < 3
       |  GROUP BY 1, 2),
       |cos AS (
       |  SELECT probe_id, neighbor_id, dot / (np.nrm * nn.nrm) AS cosine
       |  FROM dots
       |  JOIN nrm np ON np.vec_id = probe_id
       |  JOIN nrm nn ON nn.vec_id = neighbor_id),
       |dense AS (
       |  SELECT probe_id, neighbor_id, rnk FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
       |        ORDER BY cosine DESC, neighbor_id ASC) AS rnk
       |    FROM cos) t
       |  WHERE rnk <= 10),
       |m(query_id, probe_id) AS (VALUES ('q1', 0), ('q2', 1), ('q3', 2)),
       |vec_ranks AS (
       |  SELECT m.query_id, neighbor_id AS doc_id, rnk AS rv
       |  FROM dense JOIN m USING (probe_id)),
       |fused AS (
       |  SELECT query_id, doc_id,
       |    COALESCE(CAST(1 AS DOUBLE) / (60 + rt), CAST(0 AS DOUBLE)) +
       |    COALESCE(CAST(1 AS DOUBLE) / (60 + rv), CAST(0 AS DOUBLE))
       |      AS rrf
       |  FROM text_ranks FULL JOIN vec_ranks USING (query_id, doc_id))
       |SELECT query_id, doc_id,
       |  CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY rrf DESC, doc_id ASC) AS INTEGER) AS rnk,
       |  ROUND(rrf, 6) AS rrf_score
       |FROM fused
       |QUALIFY rnk <= 10""".stripMargin

  /** q238: EMBEDDING-NORM OUTLIER screen — the defective-vector DQ
    * gate a 100 TB embedding pipeline runs before indexing (a
    * truncated read or an all-zeros encode shows up as a norm far off
    * the population): global median + MAD of the vector norms, count
    * of modified-z outliers (0.6745·|x−med|/MAD > 3.5, the q104
    * screen pointed at vectors), min/max norm. Scale shape: norms are
    * one map-side-partial aggregate per vector (q40's exact-decimal
    * discipline); median/MAD run through `RankOps.groupedPercentiles`
    * (single synthetic group — prefix-sum ranks, never a value
    * buffer); the final pass is one broadcast of two scalars +
    * a 1-row aggregate. Hash-exact. */
  private val q238: QFn = (s, d) => {
    val nrm = norms(Tables.embeddings(s, d))
      .withColumn("grp", lit(1))
    val med = RankOps.groupedPercentiles(nrm, "grp", "nrm",
        Seq("vec_id"), Seq(0.5))
      .select(col("pv").as("med"))
    val dev = nrm.crossJoin(broadcast(med))
      .withColumn("ad", abs(col("nrm") - col("med")))
    val mad = RankOps.groupedPercentiles(dev, "grp", "ad",
        Seq("vec_id"), Seq(0.5))
      .select(col("pv").as("mad"))
    dev.crossJoin(broadcast(mad))
      .agg(count(lit(1)).as("n_vectors"),
        round(min(col("med")), 6).as("median_norm"),
        round(min(col("mad")), 6).as("mad_norm"),
        sum(when(lit(0.6745) * col("ad") / col("mad") > 3.5, 1L)
          .otherwise(0L)).as("n_outliers"),
        round(min(col("nrm")), 6).as("min_norm"),
        round(max(col("nrm")), 6).as("max_norm"))
  }
  private val q238Sql =
    """WITH nrm AS (
      |  SELECT vec_id, SQRT(CAST(SUM(CAST(
      |      CAST(x AS DOUBLE) * CAST(x AS DOUBLE) AS DECIMAL(28,12)))
      |      AS DOUBLE)) AS nrm
      |  FROM (SELECT vec_id, unnest(embedding) AS x FROM embeddings) t
      |  GROUP BY vec_id),
      |med AS (SELECT quantile_cont(nrm, 0.5) AS med FROM nrm),
      |dev AS (
      |  SELECT nrm, ABS(nrm - med) AS ad, med FROM nrm, med),
      |mad AS (SELECT quantile_cont(ad, 0.5) AS mad FROM dev)
      |SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors,
      |  ROUND(MIN(med), 6) AS median_norm,
      |  ROUND(MIN(mad), 6) AS mad_norm,
      |  CAST(SUM(CASE WHEN 0.6745 * ad / mad > 3.5 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_outliers,
      |  ROUND(MIN(nrm), 6) AS min_norm,
      |  ROUND(MAX(nrm), 6) AS max_norm
      |FROM dev, mad""".stripMargin

  val queries: Map[String, QFn] = Map(
    "q34_ann_cosine" -> q34,
    "q40_embedding_stats" -> q40,
    "q46_cosine_pairs" -> q46,
    "q93_ann_filtered" -> q93,
    "q143_hybrid_rrf" -> q143,
    "q238_embedding_norm_outliers" -> q238)

  val oracleSql: Map[String, String] = Map(
    "q34_ann_cosine" -> q34Sql,
    "q40_embedding_stats" -> q40Sql,
    "q46_cosine_pairs" -> q46Sql,
    "q93_ann_filtered" -> q93Sql,
    "q143_hybrid_rrf" -> q143Sql,
    "q238_embedding_norm_outliers" -> q238Sql)
}
