package graft.lakehouse

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Incrementally-maintained BM25 retrieval index — the maintained-view
  * form of `q132_bm25`, for the corpus that GROWS batch by batch (the
  * crawl/curation shape): each fold appends the batch's postings and
  * doc-length rows as idempotent single objects and folds the
  * vocabulary statistics (df per term, doc/token totals) into KB-to-
  * vocabulary-sized [[MaterializedAgg]] state, so indexing cost per
  * batch is O(batch) — never a corpus re-tokenization — and a search
  * is the standard postings traversal: query terms + idf broadcast
  * onto the postings scan, one per-(query, doc) decimal aggregate,
  * top-k per query.
  *
  * Exactly-once by monotonic `batchId` (the [[MaterializedAgg.foldBatch]]
  * protocol): postings/dl objects are NAMED by the id (a crashed
  * attempt's object is reused, never duplicated) and both stat folds
  * record the id inside their own committed state — every crash
  * window replays idempotently, and a re-delivered batch folds
  * nothing. Fold order makes the `tot` fold the completion marker:
  * [[update]] probes it first, so a fully-folded batch short-circuits.
  *
  * Search is BIT-IDENTICAL to the batch `q132_bm25` once the same
  * documents have been folded (any batch split, any order) — both
  * paths score through the ONE shared
  * [[graft.operators.TextOps.bm25TopK]] definition and the maintained
  * statistics are exact integer/decimal folds (spec-pinned).
  *
  * Assumes `idCol` is unique across folded batches (the curated-
  * corpus invariant — exact dedup runs upstream); re-folding the same
  * doc under two batch ids would double its df contributions.
  */
object RetrievalView {

  private val dfSpec = MaterializedAgg.Spec(keys = Seq("term"), sums = Nil)
  private val totSpec =
    MaterializedAgg.Spec(keys = Seq("hast"), sums = Seq("dl"))

  private def fsOf(spark: SparkSession, path: String) =
    org.apache.hadoop.fs.FileSystem.get(new java.net.URI(path),
      spark.sparkContext.hadoopConfiguration)

  /** Publish `df` as the ONE object `<dir>/batch-<id>.parquet`
    * ([[graft.util.AtomicPut.publishParquet]]: an existing target is a
    * crashed attempt's completed publish — reused). */
  private def publishObject(spark: SparkSession, df: DataFrame,
      dir: String, id: Long): Unit =
    graft.util.AtomicPut.publishParquet(fsOf(spark, dir), df,
      new Path(s"$dir/_staging/batch-$id"), new Path(dir, s"batch-$id.parquet"))

  /** Fold one document batch into the index at `root`. Returns false
    * when `batchId` was already fully folded (re-delivery). */
  def update(spark: SparkSession, root: String, docsBatch: DataFrame,
      batchId: Long, textCol: String = "text",
      idCol: String = "doc_id", keepVersions: Int = 1): Boolean = {
    // tot folds LAST, so its recorded id == "this batch is complete"
    if (VersionedTable.lastFoldedBatch(spark, s"$root/tot")
        .exists(_ >= batchId)) return false
    val (tf, dl) = graft.operators.TextOps.bm25Index(docsBatch,
      textCol, idCol)
    // postings publish TERM-SORTED: every row group then carries a
    // tight term min/max, so a search's pushed `term IN (…)` filter
    // row-group-skips the (corpus-sized) postings scan down to the
    // query vocabulary
    publishObject(spark,
      tf.coalesce(1).sortWithinPartitions("term", "doc_id"),
      s"$root/postings", batchId)
    publishObject(spark, dl, s"$root/dl", batchId)
    // df = one row per distinct (doc, term) — exactly the postings
    // rows, so the keyed count folds the per-term document frequency
    MaterializedAgg.foldBatch(spark, s"$root/df",
      spark.read.parquet(s"$root/postings/batch-$batchId.parquet")
        .select("term"), dfSpec, batchId, keepVersions)
    // doc totals keyed by has-tokens: nDocs = Σ cnt over both keys,
    // avgdl = the true-key sum/count (matching q132, whose dl frame
    // excludes zero-token docs while nDocs counts every doc)
    val perDoc = docsBatch.select(col(idCol).as("doc_id")).distinct()
      .join(spark.read.parquet(s"$root/dl/batch-$batchId.parquet"),
        Seq("doc_id"), "left")
      .select(col("dl").isNotNull.as("hast"),
        coalesce(col("dl"), lit(0L)).as("dl"))
    MaterializedAgg.foldBatch(spark, s"$root/tot", perDoc, totSpec,
      batchId, keepVersions)
    true
  }

  /** The LIVE object set of a postings/dl dir under the compaction
    * protocol: the newest `_compact-<id>` MARKER (a zero-byte object
    * whose single PUT is compaction's atomic visibility point) claims
    * every batch id ≤ id — the live set is that marker's
    * `compact-<id>-p*.parquet` parts plus every `batch-i.parquet`
    * with i > id. Parts without their marker are a crashed attempt
    * and are ignored; `batch-i` objects at or below the marker are
    * superseded and ignored (kept until [[vacuumCompacted]]). */
  private def liveFiles(spark: SparkSession, dir: String): Seq[String] = {
    val fs = fsOf(spark, dir)
    val p = new Path(dir)
    if (!fs.exists(p)) return Nil
    val names = fs.listStatus(p).map(_.getPath.getName)
    val compactId = names.collect {
      case n if n.startsWith("_compact-") => n.stripPrefix("_compact-").toLong
    }.sorted.lastOption
    val live = names.filter { n =>
      val isBatch = n.startsWith("batch-") && n.endsWith(".parquet")
      val batchId = if (isBatch)
        n.stripPrefix("batch-").stripSuffix(".parquet").toLong else -1L
      compactId match {
        case None => isBatch
        case Some(c) =>
          (isBatch && batchId > c) ||
            (n.startsWith(s"compact-$c-p") && n.endsWith(".parquet"))
      }
    }
    live.sorted.map(n => s"$dir/$n").toSeq
  }

  private def readLive(spark: SparkSession, dir: String): DataFrame = {
    val files = liveFiles(spark, dir)
    require(files.nonEmpty, s"no live retrieval objects under $dir")
    spark.read.parquet(files: _*)
  }

  // ---- document removal: EXACT retraction ------------------------

  private def tombstoneFiles(spark: SparkSession, root: String,
      maxId: Option[Long]): Seq[String] = {
    val dir = s"$root/tombstones"
    val fs = fsOf(spark, dir)
    val p = new Path(dir)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).map(_.getPath.getName)
      .filter(n => n.startsWith("batch-") && n.endsWith(".parquet"))
      .filter(n => maxId.forall(m =>
        n.stripPrefix("batch-").stripSuffix(".parquet").toLong <= m))
      .sorted.map(n => s"$dir/$n").toSeq
  }

  /** Pending-removal doc ids (compaction consumes them; None = none). */
  private def tombstoneIds(spark: SparkSession, root: String,
      maxId: Option[Long] = None): Option[DataFrame] = {
    val fs = tombstoneFiles(spark, root, maxId)
    if (fs.isEmpty) None
    else Some(spark.read.parquet(fs: _*).select("doc_id").distinct())
  }

  private def dropTombstoned(spark: SparkSession, root: String,
      rows: DataFrame): DataFrame =
    tombstoneIds(spark, root).fold(rows)(t =>
      rows.join(broadcast(t), Seq("doc_id"), "left_anti"))

  /** REMOVE documents from the maintained index — the retroactive-
    * curation path (a decontamination or takedown lands AFTER the
    * docs were folded): publishes the ids as a tombstone object and
    * RETRACTS exactly the statistics rows those docs once contributed
    * (their live postings rows → negative per-term df counts; their
    * dl rows → negative doc/length totals), folded through
    * [[MaterializedAgg.foldPartialBatch]] — counts and decimal sums
    * subtract exactly, so after the fold `search` is BIT-IDENTICAL to
    * an index that never folded those docs (postings/dl rows
    * tombstone-filter out of every scan; `compact` later purges them
    * physically and consumes the tombstones). Idempotent by the SAME
    * monotonic batch-id ledger as [[update]] (the tot fold is the
    * completion marker; a re-delivered id retracts nothing), and
    * already-removed ids in a LATER remove batch contribute nothing
    * (they are excluded before the retraction is derived, so a doc
    * can never retract twice). Zero-token docs carry no searchable
    * trace (no postings, no dl row) — removing one only leaves its
    * +1 in the untokenized nDocs bucket, documented here. Runs in
    * the single-maintenance-writer window like compact/vacuum. */
  def remove(spark: SparkSession, root: String, docIds: DataFrame,
      batchId: Long, idCol: String = "doc_id",
      keepVersions: Int = 1): Boolean = {
    if (VersionedTable.lastFoldedBatch(spark, s"$root/tot")
        .exists(_ >= batchId)) return false
    val want = docIds.select(col(idCol).as("doc_id")).na.drop().distinct()
    val fresh = tombstoneIds(spark, root, Some(batchId - 1))
      .fold(want)(p => want.join(p, Seq("doc_id"), "left_anti"))
    publishObject(spark, fresh, s"$root/tombstones", batchId)
    // derive the EXACT contributed rows from the published id set (so
    // a crash replay retracts the identical partial)
    val ids = spark.read
      .parquet(s"$root/tombstones/batch-$batchId.parquet")
    val dec = graft.util.Exact.Dec
    val negDf = readLive(spark, s"$root/postings")
      .join(ids, Seq("doc_id"), "left_semi")
      .groupBy("term").agg((count(lit(1)) * lit(-1L)).as("cnt"))
    MaterializedAgg.foldPartialBatch(spark, s"$root/df", negDf, dfSpec,
      batchId, keepVersions)
    val negTot = readLive(spark, s"$root/dl")
      .join(ids, Seq("doc_id"), "left_semi")
      .groupBy(lit(true).as("hast"))
      .agg((count(lit(1)) * lit(-1L)).as("cnt"),
        sum(col("dl").cast(dec) * lit(-1)).cast(
          org.apache.spark.sql.types.DecimalType(38, 6)).as("dec_dl"))
    MaterializedAgg.foldPartialBatch(spark, s"$root/tot", negTot, totSpec,
      batchId, keepVersions)
    true
  }

  /** COMPACT the per-batch postings/dl objects into range-partitioned
    * sorted object sets — the maintenance pass that keeps `search`
    * linear in data, not in fold count (10k daily folds = 10k tiny
    * objects per dir; a scan's task-per-file floor and footer reads
    * dominate long before the data does). Postings re-sort GLOBALLY by
    * (term, doc_id) via a range repartition, so each output object
    * covers a disjoint term range — file-level AND row-group-level
    * stats both prune a searched term — and dl sorts by doc_id the
    * same way. Output width is SIZE-DERIVED (input bytes /
    * `maxPartitionBytes`), so compaction parallelism and object count
    * scale with the corpus, never with fold count.
    *
    * Crash-safe and idempotent: parts stage under hidden names, are
    * renamed to `compact-<id>-p<k>.parquet`, and become visible only
    * when the zero-byte `_compact-<id>` MARKER lands (one PUT — the
    * same single-object-visibility primitive the whole store rides).
    * A crash before the marker leaves ignored orphans that a re-run
    * overwrites; a re-run after the marker is a no-op (returns
    * false). Folds may continue after compaction — new `batch-i`
    * objects (i > id) ride alongside the compact set until the next
    * pass. */
  def compact(spark: SparkSession, root: String,
      upToMax: Option[Long] = None): Boolean = {
    // `upToMax` CAPS the claim: a catalog-pinned reader serves batch
    // objects and tombstones at its pinned fold point b, and a
    // compact marker with id > b makes searchAt refuse (the marker's
    // claim supersedes objects the pin still needs) — so the daemon
    // passes the MINIMUM pinned fold point and compaction trails the
    // catalog retention instead of breaking it. Consistency for pins
    // ABOVE the claim is free: every tombstone the claim consumes has
    // ledger id ≤ the claim ≤ the pin, so the pin already saw its
    // retraction; the purged rows were invisible to it anyway.
    val upTo = upToMax.foldLeft(
      VersionedTable.lastFoldedBatch(spark, s"$root/tot")
        .getOrElse(return false))(math.min)
    if (upTo <= 0L) return false // pinned state predates every fold
    // pending removals PURGE during the rewrite — remove() already
    // retracted their statistics, so dropping their physical rows
    // changes no search result; the tombstones are consumed once both
    // dirs' markers land. Every tombstone id rides the shared tot
    // ledger, so they are all ≤ upTo by construction.
    val tIds = tombstoneIds(spark, root, Some(upTo))
    var did = false
    for ((dir, sortCols) <- Seq(
        s"$root/postings" -> Seq("term", "doc_id"),
        s"$root/dl" -> Seq("doc_id"))) {
      val fs = fsOf(spark, dir)
      // an equal-or-newer claim already covers this dir (a capped
      // re-run after an uncapped pass must not rewrite backwards)
      val claimed = fs.exists(new Path(dir)) &&
        fs.listStatus(new Path(dir)).exists { st =>
          val nm = st.getPath.getName
          nm.startsWith("_compact-") &&
            nm.stripPrefix("_compact-").toLong >= upTo
        }
      if (!claimed) {
        // claim only ids ≤ upTo: a fold landing batch-(upTo+1) while
        // this pass runs must stay OUTSIDE the marker's claim or its
        // rows would count twice (once compacted, once as the live
        // batch object)
        val files = liveFiles(spark, dir).filter { f =>
          val nm = new Path(f).getName
          !nm.startsWith("batch-") ||
            nm.stripPrefix("batch-").stripSuffix(".parquet").toLong <= upTo
        }
        // a single live object still rewrites when tombstones are
        // pending — the purge IS the point of that pass
        if (files.size > 1 || (tIds.isDefined && files.nonEmpty)) {
          val df = tIds.fold(spark.read.parquet(files: _*))(t =>
            spark.read.parquet(files: _*)
              .join(broadcast(t), Seq("doc_id"), "left_anti"))
          val bytes = files.map(f => fs.getFileStatus(new Path(f)).getLen).sum
          val maxPart = spark.sessionState.conf.filesMaxPartitionBytes
          val width = math.max(1, math.ceil(bytes.toDouble / maxPart).toInt)
          val stageDir = new Path(s"$dir/_staging/compact-$upTo")
          df.repartitionByRange(width, sortCols.map(col): _*)
            .sortWithinPartitions(sortCols.map(col): _*)
            .write.mode(SaveMode.Overwrite).parquet(stageDir.toString)
          val parts = fs.listStatus(stageDir)
            .filter(_.getPath.getName.startsWith("part-"))
            .sortBy(_.getPath.getName)
          parts.zipWithIndex.foreach { case (st, k) =>
            val target = new Path(dir, s"compact-$upTo-p$k.parquet")
            if (fs.exists(target)) fs.delete(target, false) // crashed attempt
            require(fs.rename(st.getPath, target),
              s"compact rename ${st.getPath} -> $target failed")
          }
          fs.create(new Path(dir, s"_compact-$upTo")).close() // visibility
          fs.delete(stageDir, true)
          did = true
        }
      }
    }
    // consume tombstones only once BOTH dirs' upTo markers exist (the
    // physical rows are then provably purged); a crash before this
    // point leaves tombstones that keep filtering already-absent rows
    // (harmless) until the next pass consumes them
    if (tIds.isDefined &&
        Seq(s"$root/postings", s"$root/dl").forall(d =>
          fsOf(spark, d).exists(new Path(d, s"_compact-$upTo")))) {
      val fs = fsOf(spark, root)
      tombstoneFiles(spark, root, Some(upTo))
        .foreach(f => fs.delete(new Path(f), false))
    }
    did
  }

  /** Delete objects SUPERSEDED by the newest compaction marker —
    * batch objects the marker claims and older compact generations —
    * once older than `olderThanMs` (the same time-based reader-grace
    * bargain `VersionedTable.vacuum` strikes). */
  def vacuumCompacted(spark: SparkSession, root: String,
      olderThanMs: Long = 0L): Int = {
    val now = System.currentTimeMillis()
    var n = 0
    for (dir <- Seq(s"$root/postings", s"$root/dl")) {
      val fs = fsOf(spark, dir)
      val p = new Path(dir)
      if (fs.exists(p)) {
        val st = fs.listStatus(p)
        val compactId = st.map(_.getPath.getName).collect {
          case nm if nm.startsWith("_compact-") =>
            nm.stripPrefix("_compact-").toLong
        }.sorted.lastOption
        compactId.foreach { c =>
          st.foreach { s0 =>
            val nm = s0.getPath.getName
            val superseded =
              (nm.startsWith("batch-") && nm.endsWith(".parquet") &&
                nm.stripPrefix("batch-").stripSuffix(".parquet").toLong <= c) ||
              (nm.startsWith("compact-") && nm.endsWith(".parquet") &&
                !nm.startsWith(s"compact-$c-p")) ||
              (nm.startsWith("_compact-") &&
                nm.stripPrefix("_compact-").toLong < c)
            if (superseded && now - s0.getModificationTime >= olderThanMs) {
              fs.delete(s0.getPath, false); n += 1
            }
          }
        }
      }
    }
    n
  }

  /** HYBRID retrieval over the two MAINTAINED indexes — the RAG
    * serving pattern end-to-end on lakehouse state: the BM25 view at
    * `root` produces the lexical top-`kEach` per query, the persisted
    * [[graft.operators.VectorIndex]] at `annPath` produces the dense
    * top-`kEach` per probe (partition-pruned IVF, tombstones
    * honored), and `mapping` (query_id, probe_id) pairs them so
    * reciprocal-rank fusion RRF(d) = Σ 1/(60 + rank) scores the
    * union — a doc found by only one modality still ranks (the q143
    * fusion semantics, served from incremental state instead of
    * corpus recomputation). Both lists are top-k-bounded, so the
    * fusion join touches ≤ 2·kEach rows per query at any corpus
    * size. */
  def searchHybrid(spark: SparkSession, root: String, annPath: String,
      qterms: DataFrame, probes: DataFrame, mapping: DataFrame,
      k: Int = 10, nprobe: Int = 8, kEach: Int = 10): DataFrame =
    fuseRrf(
      search(spark, root, qterms, kEach),
      graft.operators.VectorIndex
        .search(spark, annPath, probes, nprobe, kEach)
        .join(broadcast(mapping), Seq("probe_id")), k)

  /** The ONE RRF fusion both hybrid entry points share: lexical
    * (query_id, doc_id, rnk) ⊕ dense (query_id, neighbor_id, rnk) →
    * top-k per query by RRF(d) = Σ 1/(60 + rank), doc_id tiebreaks,
    * full-outer so single-modality docs still score; both inputs are
    * top-k-bounded, so fusion touches ≤ 2·kEach rows per query. */
  private def fuseRrf(lexRaw: DataFrame, denseRaw: DataFrame,
      k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lex = lexRaw
      .select(col("query_id"), col("doc_id"), col("rnk").as("rt"))
    val dense = denseRaw
      .select(col("query_id"), col("neighbor_id").as("doc_id"),
        col("rnk").as("rv"))
    val fused = lex.join(dense, Seq("query_id", "doc_id"), "full_outer")
      .select(col("query_id"), col("doc_id"),
        (coalesce(lit(1.0) / (lit(60) + col("rt")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(60) + col("rv")), lit(0.0))).as("rrf"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("rrf").desc, col("doc_id").asc)
    fused.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("doc_id"), col("rnk"),
        round(col("rrf"), 6).as("rrf_score"))
  }

  /** [[searchHybrid]] for the SQL console: ONE query whose lexical
    * half is `terms` and whose dense probe is given BY vec_id — the
    * embedding resolves from the ANN index's own lists
    * ([[graft.operators.VectorIndex.probeById]]; raw IVF only). This
    * is what the `graft_hybrid` TVF serves: the full RAG serving
    * path — maintained BM25 + partition-pruned ANN + RRF fusion —
    * from a console, one call. */
  def searchHybridById(spark: SparkSession, root: String,
      annPath: String, terms: Seq[String], probeId: Long, k: Int = 10,
      nprobe: Int = 8, kEach: Int = 10): DataFrame = {
    import spark.implicits._
    require(terms.nonEmpty, "searchHybridById: empty term list")
    val qterms = terms.map(("q", _)).toDF("query_id", "term")
    val probes = graft.operators.VectorIndex
      .probeById(spark, annPath, Seq(probeId))
    val mapping = Seq(("q", probeId)).toDF("query_id", "probe_id")
    searchHybrid(spark, root, annPath, qterms, probes, mapping,
      k, nprobe, kEach)
  }

  /** [[searchHybrid]] AT A CATALOG SNAPSHOT — the pinned form of the
    * headline RAG serving call: the lexical half serves through
    * [[searchAt]] (the pinned tot version, with its retention
    * refusals), the dense half searches `annRootPinned` — pass
    * `VectorIndex.generationRoot(path, snapshot.tables("ann")._2)`,
    * the generation the snapshot pinned (generation dirs persist
    * until `vacuumGenerations`, the same retention contract).
    * Tombstones WITHIN an ANN generation are not versioned — a
    * mid-tick `remove` is visible to pinned dense readers (documented:
    * tombstones only ever shrink results, the monotone-curation
    * direction). */
  def searchHybridAt(spark: SparkSession, root: String,
      totVersion: Long, annRootPinned: String, qterms: DataFrame,
      probes: DataFrame, mapping: DataFrame, k: Int = 10,
      nprobe: Int = 8, kEach: Int = 10): DataFrame =
    fuseRrf(
      searchAt(spark, root, totVersion, qterms, kEach),
      graft.operators.VectorIndex
        .search(spark, annRootPinned, probes, nprobe, kEach)
        .join(broadcast(mapping), Seq("probe_id")), k)

  /** BM25 top-`k` documents per query over everything folded so far.
    * `qterms` is a (query_id, term) frame. */
  def search(spark: SparkSession, root: String, qterms: DataFrame,
      k: Int = 10): DataFrame = {
    require(VersionedTable.currentVersion(spark, s"$root/tot").isDefined,
      s"no folded retrieval state at $root — fold a batch " +
        "(RetrievalView.update) before searching")
    val tot = MaterializedAgg.read(spark, s"$root/tot", totSpec)
      .select(col("hast"), col("cnt"), col("sum_dl")).collect()
    val nDocs = tot.map(_.getLong(1)).sum
    val withTok = tot.find(_.getBoolean(0))
    require(withTok.isDefined && nDocs > 0,
      s"retrieval state at $root has no tokenized documents")
    val avgdl = withTok.get.getDouble(2) / withTok.get.getLong(1)
    val df = MaterializedAgg.read(spark, s"$root/df", dfSpec)
      .select(col("term"), col("cnt").as("df"))
    // the query vocabulary is tiny — collect it and PUSH the IN
    // filter into the postings scan, where the term-sorted batch
    // objects' row-group stats skip everything but the query terms
    // (the broadcast semi-join alone never reaches the parquet reader)
    val terms = qterms.select("term").distinct()
      .collect().map(_.getString(0)).toSeq
    graft.operators.TextOps.bm25TopK(
      dropTombstoned(spark, root, readLive(spark, s"$root/postings")
        .filter(col("term").isin(terms: _*))),
      dropTombstoned(spark, root, readLive(spark, s"$root/dl")),
      df, nDocs, avgdl, qterms, k)
  }

  /** BM25 top-`k` AT A PINNED STATE — the catalog-snapshot serving
    * path. `totVersion` is a RETAINED version of `$root/tot` (what a
    * [[Catalog.Snapshot]] pins as "retrieval_tot"); the search serves
    * EXACTLY the folds that version had seen, even while new batches
    * keep landing. The pinned version's stamped fold point b selects
    * the postings/dl objects (compact base + per-batch objects with
    * id ≤ b) and the tombstone set (ids ≤ b); the companion df state
    * resolves through the shared batch-id coordinate
    * ([[VersionedTable.versionForBatch]]).
    *
    * RETENTION CONTRACT — refused loudly, never served misaligned:
    * (1) the tot/df versions must still be retained (fold with a
    * keepVersions that covers the snapshot window — the daemon uses
    * the catalog's `keep`); (2) no `_compact-<id>` marker with
    * id > b may exist (a later compaction consumed tombstones and
    * supersedes batch objects the pin still needs) — run compaction
    * on a cadence that trails the catalog retention, exactly like
    * table keepVersions trails the longest reader. */
  def searchAt(spark: SparkSession, root: String, totVersion: Long,
      qterms: DataFrame, k: Int = 10): DataFrame = {
    val b = VersionedTable
      .lastFoldedBatchAt(spark, s"$root/tot", totVersion)
      .getOrElse(throw new IllegalStateException(
        s"tot version $totVersion of $root is not retained or carries " +
          "no fold marker — widen the fold keepVersions to cover " +
          "snapshot readers"))
    val tot = MaterializedAgg
      .readVersion(spark, s"$root/tot", totSpec, totVersion)
      .select(col("hast"), col("cnt"), col("sum_dl")).collect()
    val nDocs = tot.map(_.getLong(1)).sum
    val withTok = tot.find(_.getBoolean(0))
    require(withTok.isDefined && nDocs > 0,
      s"pinned retrieval state at $root@$totVersion has no tokenized docs")
    val avgdl = withTok.get.getDouble(2) / withTok.get.getLong(1)
    val dfV = VersionedTable.versionForBatch(spark, s"$root/df", b)
      .getOrElse(throw new IllegalStateException(
        s"no retained df version at fold point $b under $root — " +
          "widen the fold keepVersions to cover snapshot readers"))
    val df = MaterializedAgg
      .readVersion(spark, s"$root/df", dfSpec, dfV)
      .select(col("term"), col("cnt").as("df"))
    val terms = qterms.select("term").distinct()
      .collect().map(_.getString(0)).toSeq
    def pinnedTombstones(rows: DataFrame): DataFrame =
      tombstoneIds(spark, root, Some(b)).fold(rows)(t =>
        rows.join(broadcast(t), Seq("doc_id"), "left_anti"))
    graft.operators.TextOps.bm25TopK(
      pinnedTombstones(readLiveAt(spark, s"$root/postings", b)
        .filter(col("term").isin(terms: _*))),
      pinnedTombstones(readLiveAt(spark, s"$root/dl", b)),
      df, nDocs, avgdl, qterms, k)
  }

  /** [[readLive]] restricted to the pinned fold point: refuses when a
    * LATER compaction superseded the pin (its marker claims batches
    * past b and consumed tombstones ≤ its id — serving from the old
    * base would silently resurrect removed docs or drop folds). */
  private def readLiveAt(spark: SparkSession, dir: String,
      b: Long): DataFrame = {
    val fs = fsOf(spark, dir)
    val p = new Path(dir)
    require(fs.exists(p), s"no retrieval objects under $dir")
    val names = fs.listStatus(p).map(_.getPath.getName)
    val markers = names.collect {
      case n if n.startsWith("_compact-") =>
        n.stripPrefix("_compact-").toLong
    }.sorted
    require(markers.forall(_ <= b),
      s"compaction ${markers.max} superseded the pinned fold point $b " +
        s"under $dir — snapshot readers need a compaction cadence " +
        "that trails catalog retention")
    val base = markers.lastOption
    val live = names.filter { n =>
      val isBatch = n.startsWith("batch-") && n.endsWith(".parquet")
      val id = if (isBatch)
        n.stripPrefix("batch-").stripSuffix(".parquet").toLong else -1L
      base match {
        case None => isBatch && id <= b
        case Some(c) =>
          (isBatch && id > c && id <= b) ||
            (n.startsWith(s"compact-$c-p") && n.endsWith(".parquet"))
      }
    }
    require(live.nonEmpty, s"no live retrieval objects ≤ $b under $dir")
    spark.read.parquet(live.sorted.map(n => s"$dir/$n").toSeq: _*)
  }
}
