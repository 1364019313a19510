package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Persisted IVF index: the lakehouse-native form of q49's in-memory
  * IVF search.
  *
  * `build` trains coarse centroids (KMeansVec), assigns every vector
  * to its nearest centroid, and writes the inverted lists as a
  * parquet table PARTITIONED BY centroid id, with the centroid matrix
  * alongside. `search` loads only the centroid matrix (k×d — KB),
  * routes each probe to its `nprobe` nearest centroids, and scans
  * ONLY those list partitions — the partition filter prunes at
  * planning time, so a 100 TB index reads `nprobe/k` of its bytes per
  * query batch. Build cost is paid once; every subsequent search is a
  * pruned scan, the same economics as [[graft.lakehouse.Bucketing]].
  *
  * GENERATIONS: an index root may carry `_gens/gen-<N>` marker
  * objects; the live data dirs then sit under `<path>/g<N>` for the
  * highest N, and a flat legacy index (no markers) lives at `path`
  * itself. [[retrain]] builds a complete NEW generation beside the
  * live one and commits it by creating the next marker — a
  * SINGLE-OBJECT write, atomic on every store (the VersionedTable
  * manifest discipline applied to the index): searches see the old
  * geometry until the marker lands and the new one after, never a
  * half-built mix. A crashed retrain leaves an unmarked `g<N>` dir
  * that stays invisible and is overwritten by the next attempt.
  * `_batches` (streaming exactly-once markers) stays at the TOP
  * level, above generations: a retrain rebuilds from content that
  * already contains every folded batch, so a replayed batch id must
  * keep folding to nothing in the new generation too. Every public
  * entry point resolves the live root first; resolution inside a
  * generation dir is the identity (a `g<N>` dir never holds `_gens`),
  * so internal reuse of the public predicates stays correct.
  */
object VectorIndex {

  /** Resolve the LIVE data root of the index at `path`: the highest
    * committed generation dir, or `path` itself for flat/legacy
    * layouts (and for brand-new paths about to be built). */
  private[operators] def dataRoot(spark: SparkSession, path: String): String = {
    val fs = fsOf(spark, path)
    val gens = new org.apache.hadoop.fs.Path(s"$path/_gens")
    if (!fs.exists(gens)) path
    else {
      val ns = fs.listStatus(gens).toSeq.map(_.getPath.getName)
        .filter(_.startsWith("gen-")).map(_.stripPrefix("gen-").toLong)
      if (ns.isEmpty) path else s"$path/g${ns.max}"
    }
  }

  /** Committed generation number (0 = flat/legacy layout) — the
    * index's ATOMIC state pin: a catalog snapshot records it and
    * serves searches from [[generationRoot]] even after a retrain
    * flips the live root (until [[vacuumGenerations]] reclaims it —
    * the same retention contract as table keepVersions). */
  def generation(spark: SparkSession, path: String): Long =
    currentGen(spark, path)

  /** The root serving generation `gen`: `path` itself for the flat
    * layout (gen 0), the generation dir otherwise. Resolution inside
    * a generation dir is the identity, so every search/read entry
    * point accepts the returned root directly. */
  def generationRoot(path: String, gen: Long): String =
    if (gen == 0L) path else s"$path/g$gen"

  /** Committed generation number (0 = flat/legacy layout). */
  private[operators] def currentGen(spark: SparkSession, path: String): Long = {
    val fs = fsOf(spark, path)
    val gens = new org.apache.hadoop.fs.Path(s"$path/_gens")
    if (!fs.exists(gens)) 0L
    else fs.listStatus(gens).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("gen-")).map(_.stripPrefix("gen-").toLong)
      .foldLeft(0L)(math.max)
  }

  /** Train k centroids (on KMeansVec's bounded hash-rank sample —
    * never `iters` full scans) and persist inverted lists + centroids
    * under `path` (`lists/` partitioned by cent_id, `centroids/`).
    * The assignment pass still covers every vector. */
  def build(emb: DataFrame, path: String, k: Int, iters: Int = 5,
      trainSample: Int = 0): Unit = {
    val spark = emb.sparkSession
    val cents = KMeansVec.train(emb, k, iters, trainSample)
    buildWith(emb, path, KMeansVec.centroidsDF(spark, cents))
    writeParams(spark, dataRoot(spark, path), Seq(
      "kind" -> "ivf", "k" -> k.toString, "iters" -> iters.toString,
      "trainSample" -> trainSample.toString))
  }

  /** Persist an index with PRE-TRAINED centroids (shared by [[build]]
    * and useful to reuse one trained model across tables). */
  def buildWith(emb: DataFrame, path: String, centDf: DataFrame): Unit = {
    val rt = dataRoot(emb.sparkSession, path)
    assign(emb, centDf)
      .write.mode("overwrite").partitionBy("cent_id").parquet(s"$rt/lists")
    centDf.write.mode("overwrite").parquet(s"$rt/centroids")
  }

  /** Whether a built index (trained centroids) exists under `path`. */
  def exists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(
      s"${dataRoot(spark, path)}/centroids/_SUCCESS")
    fsOf(spark, path).exists(p)
  }

  /** Whether the index at `path` has the PQ layout (codebook +
    * compressed code lists) rather than raw inverted lists. */
  def isPQ(spark: SparkSession, path: String): Boolean =
    fsOf(spark, path).exists(new org.apache.hadoop.fs.Path(
      s"${dataRoot(spark, path)}/codebook/_SUCCESS"))

  /** Incremental append: route new vectors to the EXISTING trained
    * centroids and append their inverted-list rows — an incremental
    * load extends the index without retraining or rewriting the old
    * lists (only the touched cent_id partitions gain files). The
    * result is identical to batch-assigning old∪new against the same
    * centroids (spec-pinned), because assignment is per-row. */
  def add(spark: SparkSession, path: String, newVecs: DataFrame): Unit = {
    val rt = dataRoot(spark, path)
    val centDf = spark.read.parquet(s"$rt/centroids")
    assign(newVecs, centDf)
      .write.mode("append").partitionBy("cent_id").parquet(s"$rt/lists")
    unremove(spark, rt, newVecs)
  }

  /** Exactly-once form of [[add]] for streaming/replayed feeds: the
    * batch's list rows land under DETERMINISTIC per-centroid object
    * names (`lists/cent_id=c/batch-<id>-p0.parquet` — the
    * `repartition(cent_id)` puts each centroid's rows in exactly one
    * task, so one object per touched centroid, identical across
    * replays of the same batch), and the `_batches/batch-<id>` marker
    * lands LAST as the commit point. A crash anywhere inside replays
    * idempotently: staged-but-unrenamed work is invisible, a
    * half-renamed attempt's objects are REPLACED by the rerun (same
    * rows — Structured Streaming re-delivers the same batch), and a
    * marked batch returns false without touching the index. Returns
    * true when the batch folded.
    *
    * GENERATION-FLIP safety: an `_batches_intent/batch-<id>` object
    * lands BEFORE any index mutation and clears only after the commit
    * marker. [[retrain]] refuses while an unmarked intent exists —
    * otherwise a batch that crashed after renaming its list objects
    * (but before its marker) would have those rows captured by the
    * rebuild AND re-folded by the replay against the new generation,
    * duplicating them. The replay clears the intent, unblocking
    * retrain. */
  def addIdempotent(spark: SparkSession, path: String,
      newVecs: DataFrame, batchId: Long): Boolean = {
    val fs = fsOf(spark, path)
    // the batch ledger lives ABOVE generations: a retrain's rebuild
    // already contains every folded batch, so replayed ids must keep
    // no-oping against the new generation too
    val marker = new org.apache.hadoop.fs.Path(s"$path/_batches/batch-$batchId")
    val intent =
      new org.apache.hadoop.fs.Path(s"$path/_batches_intent/batch-$batchId")
    if (fs.exists(marker)) {
      // crash window between marker and intent-clear: finish the clear
      if (fs.exists(intent)) fs.delete(intent, false)
      return false
    }
    fs.mkdirs(intent.getParent)
    fs.create(intent, true).close() // in-flight: blocks retrain
    val rt = dataRoot(spark, path)
    val centDf = spark.read.parquet(s"$rt/centroids")
    val stage = new org.apache.hadoop.fs.Path(s"$rt/_staging/add-$batchId")
    assign(newVecs, centDf).repartition(col("cent_id"))
      .write.mode("overwrite").partitionBy("cent_id").parquet(stage.toString)
    fs.listStatus(stage)
      .filter(_.getPath.getName.startsWith("cent_id=")).foreach { d =>
        val cent = d.getPath.getName
        val parts = fs.listStatus(d.getPath)
          .filter(_.getPath.getName.startsWith("part-"))
          .sortBy(_.getPath.getName)
        parts.zipWithIndex.foreach { case (p, i) =>
          val target = new org.apache.hadoop.fs.Path(
            s"$rt/lists/$cent/batch-$batchId-p$i.parquet")
          fs.mkdirs(target.getParent)
          if (fs.exists(target)) fs.delete(target, false) // crashed attempt
          require(fs.rename(p.getPath, target),
            s"add rename ${p.getPath} -> $target failed")
        }
      }
    fs.delete(stage, true)
    unremove(spark, rt, newVecs)
    fs.mkdirs(marker.getParent)
    fs.create(marker).close() // commit point: batch folded exactly once
    fs.delete(intent, false) // folded: retrain may proceed
    true
  }

  /** Consolidate FRAGMENTED inverted-list partitions — the
    * maintenance pass for streamed ingestion: [[addIdempotent]] lands
    * one object per touched centroid per batch, so 10k daily batches
    * leave each partition with thousands of tiny objects and every
    * search pays a task-per-file floor and footer reads. Partitions
    * holding ≥ `minFiles` data files rewrite into one consolidated
    * object each; the rest are untouched (cost follows fragmentation,
    * not index size). Same crash-safe shape as [[vacuumTombstones]]:
    * staged rewrite, committed worklist, per-partition delete+rename
    * swap, resumable mid-swap. Batch markers are untouched — a
    * replayed batch id still folds nothing after compaction. Like
    * vacuum, runs in the single-maintenance-writer window (no
    * concurrent adds mid-swap). Returns the partitions rewritten. */
  def compactLists(spark: SparkSession, path: String,
      minFiles: Int = 4): Long = {
    val fs = fsOf(spark, path)
    val rt = dataRoot(spark, path)
    val sub = if (isPQ(spark, path)) "codes" else "lists"
    val subDir = new org.apache.hadoop.fs.Path(s"$rt/$sub")
    if (!fs.exists(subDir)) return 0L
    val stage = s"$rt/_listcompact_stage"
    val affectedFile = new org.apache.hadoop.fs.Path(s"$stage/_affected")
    val affected: Seq[Long] =
      if (fs.exists(affectedFile)) {
        // crashed mid-swap: resume from the committed worklist
        graft.util.AtomicPut.readUtf8(fs, affectedFile)
          .split("\n").toSeq.filter(_.nonEmpty).map(_.toLong)
      } else {
        val hit = fs.listStatus(subDir).toSeq
          .filter(st => st.isDirectory &&
            st.getPath.getName.startsWith("cent_id="))
          .filter(d => fs.listStatus(d.getPath)
            .count(s0 => s0.isFile &&
              s0.getPath.getName.endsWith(".parquet")) >= minFiles)
          .map(_.getPath.getName.stripPrefix("cent_id=").toLong)
        if (hit.nonEmpty) {
          fs.delete(new org.apache.hadoop.fs.Path(stage), true)
          spark.read.parquet(subDir.toString)
            .filter(col("cent_id").isin(hit: _*))
            .repartition(col("cent_id")) // one object per partition
            .write.partitionBy("cent_id").parquet(stage)
          val out = fs.create(affectedFile, true)
          try out.write(hit.mkString("\n").getBytes("UTF-8"))
          finally out.close()
        }
        hit
      }
    affected.foreach { c =>
      val dst = new org.apache.hadoop.fs.Path(s"$rt/$sub/cent_id=$c")
      val src = new org.apache.hadoop.fs.Path(s"$stage/cent_id=$c")
      // swap ONLY while the staged src exists: every compacted
      // partition stages ≥1 row, so a missing src means a prior
      // (crashed) run already renamed it in — deleting dst then
      // would destroy the swapped-in consolidated data
      if (fs.exists(src)) {
        fs.delete(dst, true)
        require(fs.rename(src, dst),
          s"compact swap failed for partition cent_id=$c")
      }
    }
    fs.delete(new org.apache.hadoop.fs.Path(stage), true)
    affected.size.toLong
  }

  // ---- tombstones: logical deletes from a built index --------------
  //
  // The FAISS remove_ids analog at lakehouse economics: removing a
  // vector from a partitioned inverted-list store should not rewrite
  // list partitions inline — a REMOVE is one tiny parquet append to
  // `tombstones/`, searches pre-filter the (broadcast) tombstone set
  // BEFORE top-k (so k live results still return), and
  // [[vacuumTombstones]] later rewrites ONLY the affected cent_id
  // partitions. The corpus-curation shape: dedup/decontamination
  // delete documents daily; their vectors must vanish from ANN
  // results immediately, while the index rewrite happens on the
  // maintenance schedule.

  /** Fetch probes BY ID from the index's own inverted lists:
    * (vec_id, embedding) for each LIVE id (tombstoned ids resolve to
    * nothing). Raw-IVF only — a PQ index's lists store codes, not
    * embeddings (refused loudly; pass explicit probe vectors there).
    * The SQL hybrid/dense console surfaces resolve user-given ids
    * through this; the scan is index-wide but projects two columns
    * and filters on vec_id row-group stats. */
  def probeById(spark: SparkSession, path: String,
      ids: Seq[Long]): DataFrame = {
    require(!isPQ(spark, path),
      s"index at $path is PQ — its lists store codes, not embeddings; " +
        "resolve the probe vector from the full-precision table instead")
    val rt = dataRoot(spark, path)
    dropTombstoned(spark, rt, spark.read.parquet(s"$rt/lists")
      .filter(col("vec_id").isin(ids: _*)))
      .select(col("vec_id"), col("embedding"))
  }

  /** Logically delete `ids` (a vec_id frame) from the index at
    * `path`: subsequent [[search]]/[[searchPQ]] calls never return
    * them. O(ids) — no list partition is touched. Re-[[add]]ing a
    * removed vec_id un-removes it. */
  def remove(spark: SparkSession, path: String, ids: DataFrame): Unit = {
    val rt = dataRoot(spark, path)
    ids.select(col("vec_id")).na.drop().distinct()
      .write.mode("append").parquet(s"$rt/tombstones")
    invalidateLiveCount(spark, rt)
  }

  private def fsOf(spark: SparkSession, path: String) =
    org.apache.hadoop.fs.FileSystem.get(new java.net.URI(path),
      spark.sparkContext.hadoopConfiguration)

  // the tombstone helpers take the RESOLVED data root (callers hold it
  // already); tombstones are per-generation state — a retrain excludes
  // them from its rebuild, so a fresh generation starts clean
  private[operators] def tombstones(spark: SparkSession,
      root: String): Option[DataFrame] = {
    val dir = new org.apache.hadoop.fs.Path(s"$root/tombstones")
    if (fsOf(spark, root).exists(dir))
      Some(spark.read.parquet(dir.toString))
    else None
  }

  /** Drop tombstoned rows from a list/code stream (no-op when the
    * index has no tombstones). Pre-top-k, like the `allowed` filter. */
  private def dropTombstoned(spark: SparkSession, root: String,
      rows: DataFrame): DataFrame =
    tombstones(spark, root).fold(rows)(t =>
      rows.join(broadcast(t.select("vec_id").distinct()),
        Seq("vec_id"), "left_anti"))

  /** Re-adding a removed vec_id revives it: drop its tombstone. The
    * tombstone set is small by contract (pending-vacuum deletes), so
    * the rewrite collects it driver-side — never the lists. */
  private def unremove(spark: SparkSession, root: String,
      newVecs: DataFrame): Unit =
    tombstones(spark, root).foreach { t =>
      import spark.implicits._
      val keep = t.select("vec_id").distinct()
        .join(newVecs.select("vec_id").distinct(), Seq("vec_id"), "left_anti")
        .collect().map(_.getLong(0)).toSeq
      val dir = new org.apache.hadoop.fs.Path(s"$root/tombstones")
      val fs = fsOf(spark, root)
      if (keep.isEmpty) { fs.delete(dir, true); () }
      else {
        val tmp = s"$root/_tombstones_new"
        keep.toDF("vec_id").coalesce(1).write.mode("overwrite").parquet(tmp)
        fs.delete(dir, true)
        require(fs.rename(new org.apache.hadoop.fs.Path(tmp), dir),
          s"tombstone rewrite swap failed for $root")
      }
      invalidateLiveCount(spark, root)
    }

  /** Materialize tombstones: rewrite ONLY the cent_id partitions that
    * hold tombstoned rows, then clear the tombstone set. Idempotent
    * across crashes — the staged rewrite commits `_affected` (the
    * partition worklist) before any partition is touched, so a re-run
    * RESUMES the swap from the existing stage instead of recomputing
    * from half-swapped lists; tombstones clear last, so searches stay
    * correct through every window. Single-writer, like the builds.
    * Returns the number of tombstoned ids materialized. */
  def vacuumTombstones(spark: SparkSession, path: String): Long = {
    import spark.implicits._
    val fs = fsOf(spark, path)
    val rt = dataRoot(spark, path)
    val t = tombstones(spark, rt).getOrElse(return 0L)
    val sub = if (isPQ(spark, path)) "codes" else "lists"
    val stage = s"$rt/_vacuum_stage"
    val affectedFile = new org.apache.hadoop.fs.Path(s"$stage/_affected")
    val staged = fs.exists(affectedFile)
    val tIds = t.select("vec_id").distinct()
    val n = tIds.count()
    // worklist lines: "<c>" = staged rows exist (delete+rename swap),
    // "<c>:empty" = fully-tombstoned partition (deletion IS the
    // rewrite). The distinction is COMMITTED with the worklist so a
    // crashed-mid-swap resume can tell "src consumed by a completed
    // swap — keep dst" apart from "delete-only partition — deleting
    // dst is idempotent"; without it, resume would re-delete
    // already-swapped consolidated partitions and lose their rows.
    val affected: Seq[(Long, Boolean)] =
      if (staged) {
        // crashed mid-swap: resume from the committed worklist
        graft.util.AtomicPut.readUtf8(fs, affectedFile)
          .split("\n").toSeq.filter(_.nonEmpty).map { l =>
            val e = l.endsWith(":empty")
            (l.stripSuffix(":empty").toLong, e)
          }
      } else {
        val all = spark.read.parquet(s"$rt/$sub")
        // partition-column type inference reads cent_id back as int
        val hit = all.join(broadcast(tIds), Seq("vec_id"), "left_semi")
          .select(col("cent_id").cast("long")).distinct()
          .collect().map(_.getLong(0)).toSeq
        if (hit.isEmpty) Nil
        else {
          fs.delete(new org.apache.hadoop.fs.Path(stage), true)
          all.filter(col("cent_id").isin(hit: _*))
            .join(broadcast(tIds), Seq("vec_id"), "left_anti")
            .write.partitionBy("cent_id").parquet(stage)
          val stagedDirs = fs.listStatus(
            new org.apache.hadoop.fs.Path(stage))
            .filter(_.getPath.getName.startsWith("cent_id="))
            .map(_.getPath.getName.stripPrefix("cent_id=").toLong).toSet
          val lines = hit.map(c => (c, !stagedDirs.contains(c)))
          val out = fs.create(affectedFile, true)
          try out.write(lines.map { case (c, e) =>
            if (e) s"$c:empty" else s"$c" }.mkString("\n")
            .getBytes("UTF-8"))
          finally out.close()
          lines
        }
      }
    affected.foreach { case (c, empty) =>
      val dst = new org.apache.hadoop.fs.Path(s"$rt/$sub/cent_id=$c")
      val src = new org.apache.hadoop.fs.Path(s"$stage/cent_id=$c")
      if (empty) {
        fs.delete(dst, true) // deletion IS the rewrite; idempotent
      } else if (fs.exists(src)) {
        fs.delete(dst, true)
        require(fs.rename(src, dst),
          s"vacuum swap failed for partition cent_id=$c")
      } // else: a prior run's completed swap consumed src — keep dst
    }
    fs.delete(new org.apache.hadoop.fs.Path(s"$rt/tombstones"), true)
    fs.delete(new org.apache.hadoop.fs.Path(stage), true)
    n
  }

  // ---- retrain: commit a freshly-fitted geometry atomically --------

  /** RETRAIN the index from its own current contents: re-fit
    * centroids/codebooks on what the index holds TODAY and commit the
    * result as a new generation with one marker write (atomic on
    * every store — searches see old geometry until the flip, new
    * after, never a mix). This is the answer to centroid drift:
    * [[add]]/[[addPQ]] never retrain, so an index bootstrapped on an
    * early slice serves every later vector through frozen geometry —
    * routing quality decays as the corpus grows or shifts.
    *
    * `source` is the FULL-PRECISION vector table (vec_id, embedding,
    * label) — the rebuild input is `source` SEMI-JOINED to the ids
    * the live generation actually serves, minus tombstones. The live
    * id set — not raw `source` — is authoritative: curation deletes
    * that were already vacuumed out of the lists no longer appear in
    * any id list, and rebuilding from the raw table would silently
    * RESURRECT them. The new generation starts with no tombstones
    * (its input already excludes them); `_batches` markers persist
    * above generations, so replayed streaming batches keep no-oping.
    *
    * `build` writes a complete index at the staged path it is given —
    * pass the same `VectorIndex.build`/`buildPQ` call the index was
    * created with (the daemon derives it from its config). Crash
    * windows: before the marker lands the staged `g<N>` dir is
    * invisible and the next attempt deletes and rewrites it. Runs in
    * the single-maintenance-writer window like vacuum/compact.
    * Returns the committed generation number. */
  def retrain(spark: SparkSession, path: String, source: DataFrame,
      build: (DataFrame, String) => Unit): Long = {
    require(exists(spark, path), s"no index at $path to retrain")
    val fs = fsOf(spark, path)
    // refuse while a streaming add is in flight (unmarked intent): its
    // renamed-but-unmarked list objects would be captured by this
    // rebuild AND re-folded by the batch's replay against the new
    // generation — duplicated rows. Intents whose marker landed are
    // just a crashed clear; sweep them and continue.
    val intentsDir = new org.apache.hadoop.fs.Path(s"$path/_batches_intent")
    if (fs.exists(intentsDir)) {
      val listed = fs.listStatus(intentsDir).toSeq.map(_.getPath)
      val (swept, pending) = listed.partition(p => fs.exists(
        new org.apache.hadoop.fs.Path(s"$path/_batches/${p.getName}")))
      require(pending.isEmpty,
        s"retrain refused: in-flight streaming add(s) " +
          s"${pending.map(_.getName).mkString(",")} at $path — their replay " +
          "must fold (clearing the intent) before a generation flip, or the " +
          "rebuild+replay would duplicate their rows")
      // sweep ONLY the individually listed marker-completed intents —
      // never the directory: a concurrent addIdempotent may create its
      // intent between this listing and the delete, and that intent
      // must survive so the NEXT retrain attempt still sees the
      // in-flight add (streamed adds are explicitly concurrent with
      // maintenance; deleting the dir re-opened the duplication window)
      swept.foreach(p => fs.delete(p, false))
    }
    val rt = dataRoot(spark, path)
    val sub = if (isPQ(spark, path)) "codes" else "lists"
    val live = dropTombstoned(spark, rt,
      spark.read.parquet(s"$rt/$sub").select("vec_id")).distinct()
    val survivors = source.join(live, Seq("vec_id"), "left_semi")
    val next = currentGen(spark, path) + 1L
    val stageRoot = s"$path/g$next"
    fs.delete(new org.apache.hadoop.fs.Path(stageRoot), true) // crashed try
    build(survivors, stageRoot)
    require(fs.exists(new org.apache.hadoop.fs.Path(
      s"$stageRoot/centroids/_SUCCESS")),
      s"retrain build left no complete index at $stageRoot")
    val marker = new org.apache.hadoop.fs.Path(s"$path/_gens/gen-$next")
    fs.mkdirs(marker.getParent)
    fs.create(marker, true).close() // commit point: generation flips live
    next
  }

  /** The index's recorded build parameters ([[build]]/[[buildPQ]]
    * write a `_params` file beside the data they commit), read from
    * the LIVE generation. Empty for indexes built before params were
    * recorded or assembled via the `*With` model-reuse entry points. */
  def params(spark: SparkSession, path: String): Map[String, String] =
    paramsAt(spark, dataRoot(spark, path))

  /** [[params]] against an already-resolved generation root. */
  private def paramsAt(spark: SparkSession,
      root: String): Map[String, String] = {
    val fs = fsOf(spark, root)
    val p = new org.apache.hadoop.fs.Path(s"$root/_params")
    if (!fs.exists(p)) Map.empty
    else graft.util.AtomicPut.readUtf8(fs, p)
      .split("\n").toSeq.filter(_.contains("="))
      .map { l => val i = l.indexOf('='); l.take(i) -> l.drop(i + 1) }
      .toMap
  }

  /** In-process caches for the two per-search metadata counts the
    * default-pool path needs (r12 ADVICE: the rf=0 default paid a
    * cents.count() job plus, when `n_live` was absent, a full live
    * codes-scan count on EVERY search). Keyed by the resolved data
    * root — a generation flip changes the key, so retrained indexes
    * never read a stale entry; in-place mutations evict explicitly
    * via [[invalidateLiveCount]]. Bounded: one entry per open index
    * root in this JVM. */
  private val liveCountCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  private val centCountCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  /** Serializes every `_params` read-modify-write in this JVM (r12
    * ADVICE: concurrent default-pool searches raced the unsynchronized
    * RMW — worst case a lost or stale `n_live`, and a same-JVM reader
    * could even observe a torn file mid-create). Cross-process writers
    * remain last-wins on a whole file, which for a derived count is
    * stale-not-corrupt. */
  private val paramsLock = new Object

  /** Drop the cached live-vector count after any index mutation —
    * the next default-pool search re-derives and re-records it. */
  private def invalidateLiveCount(spark: SparkSession, root: String): Unit = {
    liveCountCache.remove(root)
    centCountCache.remove(root)
    paramsLock.synchronized {
      val ps = paramsAt(spark, root)
      if (ps.contains("n_live")) writeParams(spark, root,
        (ps - "n_live").toSeq)
    }
  }

  /** POOL-SCALED default rerank factor (r11 verdict item 3). The
    * AnnRecallBench headline: the exact-rerank pool must track the
    * expected CELL population — rf·k ≈ 3·n/nlist — because as cells
    * grow, quantization-noise competitors EVICT true neighbors from
    * a fixed-size ADC pool (measured: at 200 k vectors even rf=32
    * collapsed clustered recall@10 to 0.40; the scaled pool restores
    * 0.97). The index knows n and nlist at search time, so the
    * DEFAULT derives them: nlist from the centroid table, n from the
    * `n_live` param (lazily counted from the live code lists on
    * first use and re-derived after any add/remove/rebuild). The
    * pool is capped at 8192 candidates per probe for rerank latency;
    * callers that pass an explicit `rerankFactor` OWN the recall
    * consequences — an undersized fixed pool is the documented
    * silent-recall-collapse trap this default exists to close. */
  def poolScaledRerankFactor(spark: SparkSession, path: String,
      k: Int, nlist: Long): Int = {
    require(k > 0, s"k must be positive, got $k")
    val rt = dataRoot(spark, path)
    val n: Long = Option(liveCountCache.get(rt)).map(_.longValue)
      .getOrElse {
        val fromParams = paramsAt(spark, rt).get("n_live").map(_.toLong)
        val c = fromParams.getOrElse {
          val counted = dropTombstoned(spark, rt,
            spark.read.parquet(s"$rt/codes").select("vec_id")).count()
          paramsLock.synchronized {
            writeParams(spark, rt, (paramsAt(spark, rt) +
              ("n_live" -> counted.toString)).toSeq)
          }
          counted
        }
        liveCountCache.put(rt, c)
        c
      }
    val targetPool = math.ceil(3.0 * n / math.max(nlist, 1L)).toLong
    val rf = math.ceil(targetPool.toDouble / k).toLong
    val capRf = math.max(4L, 8192L / k)
    math.max(4L, math.min(rf, capRf)).toInt
  }

  private def writeParams(spark: SparkSession, root: String,
      kv: Seq[(String, String)]): Unit = {
    val fs = fsOf(spark, root)
    val out = fs.create(
      new org.apache.hadoop.fs.Path(s"$root/_params"), true)
    try out.write(kv.map { case (k, v) => s"$k=$v" }.mkString("\n")
      .getBytes("UTF-8"))
    finally out.close()
  }

  /** [[retrain]] driven by the index's OWN recorded `_params` — the
    * self-describing form: no caller has to remember (or can get
    * wrong) the k/m/ksub/layout the index was built with. This is
    * what the `graft_ann_retrain` SQL proc issues. Refuses loudly on
    * an index with no recorded params. */
  def retrainAuto(spark: SparkSession, path: String,
      source: DataFrame): Long = {
    val ps = params(spark, path)
    // `contains("kind")`, not nonEmpty: a default-pool search records
    // the derived `n_live` count into _params, which must not make a
    // buildWith-assembled index look retrainable
    require(ps.contains("kind"),
      s"no recorded build params at $path (index predates recorded " +
        "params or was assembled via buildWith/buildPQWith) — call " +
        "retrain(...) with an explicit build function instead")
    val k = ps("k").toInt
    val iters = ps("iters").toInt
    val ts = ps.getOrElse("trainSample", "0").toInt
    ps("kind") match {
      case "ivf" =>
        retrain(spark, path, source,
          (df, p) => build(df, p, k, iters, ts))
      case "ivfpq" =>
        retrain(spark, path, source, (df, p) =>
          buildPQ(df, p, k, ps("m").toInt, ps("ksub").toInt, iters,
            residual = ps("residual").toBoolean,
            packed = ps("packed").toBoolean,
            opq = ps("opq").toBoolean, trainSample = ts))
      case other =>
        throw new IllegalArgumentException(
          s"unknown index kind '$other' recorded at $path")
    }
  }

  /** Delete SUPERSEDED generation data: every committed `g<M>` below
    * the live one, plus the flat legacy dirs once a generation has
    * taken over. Separate from [[retrain]] so readers mid-scan on the
    * old geometry get a grace window (call it on the maintenance
    * cadence, like tombstone vacuum). Returns roots deleted. */
  def vacuumGenerations(spark: SparkSession, path: String,
      keepFrom: Long = Long.MaxValue): Long = {
    val fs = fsOf(spark, path)
    val cur = currentGen(spark, path)
    if (cur == 0L) return 0L
    // retention floor: generations >= keepFrom stay even though
    // superseded — a retained CATALOG snapshot may pin them for
    // searchHybridAt/generationRoot serving (pass
    // Catalog.minPinnedVersion; the default keeps only the current
    // generation, the single-writer no-catalog behavior)
    val below = math.min(cur, keepFrom)
    var n = 0L
    (1L until below).foreach { m =>
      val d = new org.apache.hadoop.fs.Path(s"$path/g$m")
      if (fs.exists(d)) { fs.delete(d, true); n += 1 }
    }
    // generation 0 IS the flat legacy layout — pinned means kept
    if (below < 1L) return n
    val legacy = Seq("lists", "codes", "centroids", "codebook", "rotation",
      "tombstones", "_residual", "_packed", "_rotation", "_staging",
      "_vacuum_stage", "_listcompact_stage", "_tombstones_new", "_params")
    val hadFlat = legacy.exists(s =>
      fs.exists(new org.apache.hadoop.fs.Path(s"$path/$s")))
    legacy.foreach { s =>
      val d = new org.apache.hadoop.fs.Path(s"$path/$s")
      if (fs.exists(d)) fs.delete(d, true)
    }
    if (hadFlat) n += 1
    n
  }

  /** Nearest-centroid assignment (cosine, index tiebreak) — the
    * shared inverted-list builder. max_by aggregation over the n·k
    * scored rows instead of a row_number window (which would
    * shuffle-and-sort all n·k rows); struct(sim, -cent_id) reproduces
    * the (sim desc, cent_id asc) tiebreak.
    *
    * The aggregate carries ONLY narrow columns — the wide embedding/
    * label columns re-join on vec_id afterwards (one linear
    * sort-merge join on n rows). Round-11 100-TB-shape fix: carrying
    * `first(embedding)` through the n·k aggregate put an ARRAY in the
    * aggregation buffer, which bars codegen HashAggregate; the
    * ObjectHashAggregate fallback sort-aggregates once a partition
    * passes 128 keys, so every n·k scored row — embedding array
    * included — went through a sorter (measured: an 81-minute single
    * task at n=200 k, nlist=447; invisible at the old nlist=10 test
    * scale). Narrow buffers keep the fallback sort to ~24-byte rows
    * when it fires at all. */
  private def assign(emb: DataFrame, centDf: DataFrame): DataFrame = {
    // widen BEFORE the k-way fan-out: scan-sized input splits are k×
    // too coarse for the scored pass (util.Partitioning doc)
    val best = graft.util.Partitioning
      .widenForExplosion(emb.select("vec_id", "embedding"))
      .join(broadcast(centDf), col("vec_id").isNotNull)
      .withColumn("sim",
        graft.functions.GraftFunctions.cosineSim(col("embedding"), col("cvec")))
      .select("vec_id", "sim", "cent_id")
      .groupBy("vec_id")
      .agg(max_by(col("cent_id"), struct(col("sim"), -col("cent_id"))).as("cent_id"))
    emb.join(best, Seq("vec_id"))
      .select(col("vec_id"), col("embedding"), col("label"), col("cent_id"))
  }

  // ---- IVF-PQ: code-compressed inverted lists ----------------------

  /** Persist an IVF-PQ index: coarse centroids route like [[build]],
    * but the inverted lists store PRODUCT-QUANTIZED CODES
    * ([[VectorPQ]]) instead of raw vectors — m ints per vector vs d
    * floats (m=16 on 64-dim floats → 16× smaller lists before
    * encoding tricks). At 100 TB of embeddings this is the difference
    * between inverted lists that page-cache and lists that don't; the
    * full-precision table stays cold and is touched only by the
    * final rerank join. */
  def buildPQ(emb: DataFrame, path: String, k: Int, m: Int, ksub: Int,
      iters: Int = 5, residual: Boolean = false, packed: Boolean = false,
      opq: Boolean = false, trainSample: Int = 0): Unit = {
    val spark = emb.sparkSession
    // OPQ is a pre-transform: learn R on the bounded sample, rotate
    // the corpus in-row (native dot products), and run the WHOLE
    // existing pipeline — coarse routing, residual, codebooks, packing
    // — in rotated space. Cosine/euclidean rankings are rotation-
    // invariant, so routing quality is unchanged and the final exact
    // rerank stays on the RAW embeddings (VectorOps.exactTopK).
    val (table, rot) =
      if (opq) {
        val r = VectorOPQ.trainRotation(emb, m, ksub,
          trainSample = trainSample)
        (emb.withColumn("embedding",
          VectorOPQ.rotateCol(r, col("embedding"))), Some(r))
      } else (emb, None)
    val cents = KMeansVec.centroidsDF(spark,
      KMeansVec.train(table, k, iters, trainSample))
    // residual form trains the codebooks on v − centroid: what the
    // codes must reconstruct is the within-cell offset, which has far
    // less variance than raw vectors — more recall per bit, the
    // standard production refinement (Jégou §IV). Both trainers run
    // on bounded hash-rank samples — and the residual path samples
    // BEFORE residualizing, so only sample-many vectors are ever
    // centroid-assigned for training (the inner re-sample is then the
    // identity on the same hash-lowest set).
    val codebook =
      if (residual) {
        val n = VectorPQ.sampleSize(ksub, trainSample)
        VectorPQ.train(residualView(KMeansVec.hashSample(table, n), cents),
          m, ksub, iters, n)
      } else VectorPQ.train(table, m, ksub, iters, trainSample)
    buildPQWith(emb, path, cents, codebook, residual, packed, rot)
    writeParams(spark, dataRoot(spark, path), Seq(
      "kind" -> "ivfpq", "k" -> k.toString, "m" -> m.toString,
      "ksub" -> ksub.toString, "iters" -> iters.toString,
      "residual" -> residual.toString, "packed" -> packed.toString,
      "opq" -> opq.toString, "trainSample" -> trainSample.toString))
  }

  /** (vec_id, embedding = v − its coarse centroid, cent_id): the
    * residual table, computed in-row by the codegen `vec_sub`. */
  private def residualView(emb: DataFrame, centDf: DataFrame): DataFrame =
    assign(emb, centDf)
      .join(broadcast(centDf), Seq("cent_id"))
      .select(col("vec_id"),
        graft.functions.GraftFunctions.vecSub(col("embedding"), col("cvec"))
          .as("embedding"),
        col("cent_id"))

  private def hasMarker(spark: SparkSession, path: String,
      name: String): Boolean =
    org.apache.hadoop.fs.FileSystem
      .get(new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
      .exists(new org.apache.hadoop.fs.Path(s"$path/$name"))

  private def setMarker(spark: SparkSession, path: String, name: String,
      on: Boolean): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem
      .get(new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    val p = new org.apache.hadoop.fs.Path(s"$path/$name")
    if (on) fs.create(p, true).close() else fs.delete(p, false)
  }

  private def isResidual(spark: SparkSession, path: String): Boolean =
    hasMarker(spark, path, "_residual")

  private def isPacked(spark: SparkSession, path: String): Boolean =
    hasMarker(spark, path, "_packed")

  /** The shared route-assign (+ residual) → encode → partitioned
    * codes-write pipeline of [[buildPQWith]] and [[addPQ]] — one
    * definition, so incremental adds can never encode differently
    * from batch builds. */
  private def writeCodes(emb: DataFrame, root: String, centDf: DataFrame,
      codebook: DataFrame, residual: Boolean, packed: Boolean,
      mode: String): Unit = {
    val table =
      if (residual) residualView(emb, centDf)
      else assign(emb, centDf).select("vec_id", "embedding", "cent_id")
    val plain = table.select("vec_id", "cent_id")
      .join(VectorPQ.encode(table.select("vec_id", "embedding"), codebook),
        Seq("vec_id"))
    // packed layout: two 4-bit codes per signed byte — the list rows
    // shrink to half width on disk AND through every downstream scan
    val coded =
      if (packed) {
        val m = codebook.agg(max(col("sub_id"))).head.getInt(0) + 1
        plain.select(col("vec_id"),
          VectorPQ.packCodes(col("codes"), m).as("codes"), col("cent_id"))
      } else plain.select("vec_id", "codes", "cent_id")
    coded.write.mode(mode).partitionBy("cent_id").parquet(s"$root/codes")
    invalidateLiveCount(emb.sparkSession, root)
  }

  /** [[buildPQ]] with pre-trained models (shared by incremental adds
    * and cross-table reuse). `packed` stores the 4-bit nibble-pair
    * layout (ksub ≤ 16) — half the list bytes, identical search.
    * `rotation` is the OPQ matrix the models were trained under;
    * `emb` arrives RAW and is rotated here, so callers reusing stored
    * models never rotate twice. (Like the _residual/_packed markers,
    * an in-place rebuild is not crash-atomic — a rebuild that must
    * publish atomically goes through [[retrain]]'s generation flip.) */
  def buildPQWith(emb: DataFrame, path: String, centDf: DataFrame,
      codebook: DataFrame, residual: Boolean = false,
      packed: Boolean = false,
      rotation: Option[Array[Array[Double]]] = None): Unit = {
    val spark = emb.sparkSession
    val rt = dataRoot(spark, path)
    val table = rotation.map(r => emb.withColumn("embedding",
      VectorOPQ.rotateCol(r, col("embedding")))).getOrElse(emb)
    writeCodes(table, rt, centDf, codebook, residual, packed, "overwrite")
    centDf.write.mode("overwrite").parquet(s"$rt/centroids")
    codebook.write.mode("overwrite").parquet(s"$rt/codebook")
    setMarker(spark, rt, "_residual", residual)
    setMarker(spark, rt, "_packed", packed)
    rotation match {
      case Some(r) => VectorOPQ.rotationDF(spark, r)
        .write.mode("overwrite").parquet(s"$rt/rotation")
      case None => fsOf(spark, path)
        .delete(new org.apache.hadoop.fs.Path(s"$rt/rotation"), true)
    }
    setMarker(spark, rt, "_rotation", rotation.isDefined)
  }

  /** Incremental append to a PQ index: route + encode new vectors
    * with the EXISTING models (residual layouts re-derive residuals
    * against the stored centroids); only the touched cent_id
    * partitions gain files (assignment and encoding are per-row, so
    * the result equals a batch rebuild with the same models —
    * spec-pinned). */
  // an EXPLICIT marker like _residual/_packed — detecting the
  // rotation off the committer's rotation/_SUCCESS would silently
  // read as "no rotation" on object-store committers configured not
  // to write success files, and an unrotated probe against a rotated
  // index is a silent recall collapse, not an error
  private def hasRotation(spark: SparkSession, path: String): Boolean =
    hasMarker(spark, path, "_rotation")

  /** Rotate `df`'s embedding with the index's stored OPQ matrix when
    * one exists — the shared entry transform of adds and searches. */
  private def applyRotation(spark: SparkSession, path: String,
      df: DataFrame): DataFrame =
    if (hasRotation(spark, path))
      df.withColumn("embedding", VectorOPQ.rotateCol(
        VectorOPQ.loadRotation(spark, s"$path/rotation"), col("embedding")))
    else df

  def addPQ(spark: SparkSession, path: String, newVecs: DataFrame): Unit = {
    val rt = dataRoot(spark, path)
    writeCodes(applyRotation(spark, rt, newVecs), rt,
      spark.read.parquet(s"$rt/centroids"),
      spark.read.parquet(s"$rt/codebook"),
      isResidual(spark, rt), isPacked(spark, rt), "append")
    unremove(spark, rt, newVecs)
  }

  /** IVF-PQ search: route each probe to `nprobe` centroids, ADC-rank
    * ONLY the routed code partitions (partition-pruned scan of the
    * compressed lists — the raw vectors never stream), then
    * exact-decimal rerank the top `k·rerankFactor` candidates against
    * `emb` (the cold full-precision table). Output
    * (probe_id, neighbor_id, rnk, cosine) like [[search]].
    *
    * `allowed` makes it a FILTERED search — top-k among the vectors in
    * the given (vec_id) set only (the training-pipeline shape "nearest
    * neighbors among lang = 'en'"). The filter applies to the code
    * stream BEFORE ADC ranking (pre-filter, not post-filter: a
    * selective predicate cannot silently empty the top-k), so its cost
    * rides the routed scan. With a very selective filter, widen
    * `nprobe` — the allowed vectors may concentrate in few cells.
    *
    * `rerankFactor = 0` (the DEFAULT) derives the exact-rerank pool
    * from the index via [[poolScaledRerankFactor]] — rf·k ≈ 3·n/nlist,
    * the measured rule that holds recall across corpus scale. Pass an
    * explicit value only when you own the recall/latency trade (a
    * fixed pool that undershoots the cell size is a SILENT recall
    * collapse at scale, not an error). */
  def searchPQ(spark: SparkSession, path: String, probes: DataFrame,
      emb: DataFrame, nprobe: Int, k: Int, rerankFactor: Int = 0,
      allowed: Option[DataFrame] = None): DataFrame = {
    val cos = graft.functions.GraftFunctions.cosineSim _
    val rt = dataRoot(spark, path)
    val cents = spark.read.parquet(s"$rt/centroids")
    val rfEff =
      if (rerankFactor > 0) rerankFactor
      else poolScaledRerankFactor(spark, path, k,
        // nlist is immutable per data root (a retrain flips the
        // generation and hence the key) — count once per JVM, not a
        // Spark job per search
        Option(centCountCache.get(rt)).map(_.longValue).getOrElse {
          val c = cents.count(); centCountCache.put(rt, c); c
        })
    val codebook = spark.read.parquet(s"$rt/codebook")
    val wProbe = Window.partitionBy("probe_id")
      .orderBy(col("sim").desc, col("cent_id").asc)
    // OPQ indexes route and ADC-rank in rotated space (rotate the
    // probes; centroids/codes are already rotated); the final exact
    // rerank below stays on the RAW embeddings — cosine is rotation-
    // invariant, so the two spaces rank consistently
    val probesEff = applyRotation(spark, rt, probes)
    val routed = probesEff
      .select(col("vec_id").as("probe_id"), col("embedding").as("pe"))
      .join(broadcast(cents), col("probe_id").isNotNull)
      .withColumn("sim", cos(col("pe"), col("cvec")))
      .withColumn("rk", row_number().over(wProbe))
      .filter(col("rk") <= nprobe)
      .select(col("probe_id"), col("cent_id"), col("pe"), col("cvec"))
    val wanted = routed.select("cent_id").distinct()
      .collect().map(_.getLong(0))
    // packed layouts scan half the list bytes; the nibble unmask
    // happens per exploded row inside the ADC stream (builtins, no
    // interpreted HOF) — the downstream join sees identical codes
    val packedM =
      if (isPacked(spark, rt))
        Some(codebook.agg(max(col("sub_id"))).head.getInt(0) + 1)
      else None
    val codesAll = dropTombstoned(spark, rt,
      spark.read.parquet(s"$rt/codes")
        .filter(col("cent_id").isin(wanted.toSeq: _*)))
    val codesAllowed = allowed.fold(codesAll)(a =>
      codesAll.join(a.select("vec_id"), Seq("vec_id"), "left_semi"))
    val codes = codesAllowed
      .join(routed.select("probe_id", "cent_id"), Seq("cent_id"))
      .filter(col("probe_id") =!= col("vec_id"))
    val cand =
      if (isResidual(spark, rt)) {
        // each routed centroid sees a DIFFERENT probe residual, so the
        // LUT keys on (probe, cent) — still |probes|·nprobe·m·ksub
        // rows, KBs — and candidates join their own slice
        val lut = VectorPQ.lutKeyed(
          routed.select(col("probe_id"), col("cent_id"),
            graft.functions.GraftFunctions.vecSub(col("pe"), col("cvec"))
              .as("embedding")),
          Seq("probe_id", "cent_id"), codebook)
        VectorPQ.adcTopKWith(lut,
          codes.select("probe_id", "cent_id", "vec_id", "codes"),
          Seq("probe_id", "cent_id"), k * rfEff, packedM)
      } else VectorPQ.adcTopK(probesEff,
        codes.select("probe_id", "vec_id", "codes"), codebook,
        k * rfEff, packedM)
    VectorOps.exactTopK(emb, cand, k)
  }

  /** Top-k cosine neighbors for each probe vector, scanning only the
    * `nprobe` nearest centroid partitions per probe. `allowed`
    * restricts the candidate set (pre-filter) like [[searchPQ]]. */
  def search(spark: SparkSession, path: String, probes: DataFrame,
      nprobe: Int, k: Int, allowed: Option[DataFrame] = None): DataFrame = {
    // codegen cosine — the HOF dot is interpreted, ~100× slower
    val cos = graft.functions.GraftFunctions.cosineSim _
    val rt = dataRoot(spark, path)
    val cents = spark.read.parquet(s"$rt/centroids")
    // route each probe to its nprobe nearest centroids (tiny cross)
    val wProbe = Window.partitionBy("probe_id")
      .orderBy(col("sim").desc, col("cent_id").asc)
    val routed = probes
      .select(col("vec_id").as("probe_id"), col("embedding").as("pe"))
      .join(broadcast(cents), col("probe_id").isNotNull)
      .withColumn("sim", cos(col("pe"), col("cvec")))
      .withColumn("rk", row_number().over(wProbe))
      .filter(col("rk") <= nprobe)
      .select(col("probe_id"), col("pe"), col("cent_id"))
    val wanted = routed.select("cent_id").distinct()
      .collect().map(_.getLong(0))
    // partition-pruned scan: only the routed centroid lists are read
    val listsAll = dropTombstoned(spark, rt,
      spark.read.parquet(s"$rt/lists")
        .filter(col("cent_id").isin(wanted.toSeq: _*)))
    val lists = allowed.fold(listsAll)(a =>
      listsAll.join(a.select("vec_id"), Seq("vec_id"), "left_semi"))
    val wTop = Window.partitionBy("probe_id")
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    routed.join(lists, Seq("cent_id"))
      .filter(col("probe_id") =!= col("vec_id"))
      .withColumn("cosine", cos(col("pe"), col("embedding")))
      .select(col("probe_id"), col("vec_id").as("neighbor_id"), col("cosine"))
      .withColumn("rnk", row_number().over(wTop))
      .filter(col("rnk") <= k)
      .select(col("probe_id"), col("neighbor_id"), col("rnk"),
        round(col("cosine"), 6).as("cosine"))
  }
}
