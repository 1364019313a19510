package graft.lakehouse

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Batch incremental ingestion — the Spark-native equivalent of the
  * reference's poll-and-refresh loop (`check_lakehouse.py:100-160`):
  * discover source files, skip the ones the registry already marks
  * loaded, append the rest to the lakehouse table, and record every
  * attempt. Source format is pluggable (csv with header, json-lines,
  * or any schema'd DataSource format) — the staging/publish/registry
  * machinery is format-agnostic.
  *
  * Differences from the reference, on purpose:
  *  - registry-based dedup instead of newest-mtime polling (mtime
  *    races lose files; a registry is exactly-once per path),
  *  - the load itself is a distributed CSV→parquet append, not a
  *    stored-procedure call,
  *  - per-file failure is recorded as `failed` and does not abort the
  *    batch (matches `is_apply=0` rows in the reference registry).
  *
  * Discovery lists file *names* only (metadata, small even at 100 TB
  * file counts); the data path never touches the driver.
  */
object IncrementalLoader {

  final case class LoadResult(loaded: Seq[String], skipped: Seq[String],
                              failed: Seq[String],
                              quarantined: Seq[(String, Seq[String])] = Nil)

  /** Deterministic publish tag for a source path — the table file a
    * load of `f` publishes is `ingest-<tag>.snappy.parquet`, which
    * lets downstream consumers (e.g. the automation's index
    * maintenance) read back exactly the rows a load pass landed. */
  def publishedTag(f: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(f.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Table file name a load of source path `f` publishes. */
  def publishedName(f: String): String =
    s"ingest-${publishedTag(f)}.snappy.parquet"

  /** Discover files under `srcDir` matching `suffix`. */
  def discover(spark: SparkSession, srcDir: String,
               suffix: String = ".csv"): Seq[String] = {
    val fs = FileSystem.get(new java.net.URI(srcDir),
      spark.sparkContext.hadoopConfiguration)
    val p = new Path(srcDir)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(suffix))
      .map(_.getPath.toUri.getPath)
      .sorted
  }

  /** One incremental load pass: new files → append → registry.
    *
    * The append is IDEMPOTENT under crashes: each source file's batch
    * is written to a hidden `_staging` subdir (parquet readers ignore
    * underscore paths), then published into the table as ONE object
    * under a name derived deterministically from the source path — a
    * single-object move appears atomically on posix, hdfs, and
    * object stores alike (it is multi-file directory renames that are
    * non-atomic on S3-class stores). A crash mid-write leaves only
    * invisible staging files; a crash after publish but before the
    * registry records `ok` makes the next run find the target already
    * published and reuse it — never duplicating, never deleting live
    * rows. (A bare `mode(Append)` here left half-written part files
    * visible in the table and duplicated rows on retry.) */
  def run(spark: SparkSession, srcDir: String, tableDir: String,
          registryDir: String, schema: StructType,
          format: String = "csv",
          audit: Option[DataFrame => Seq[String]] = None,
          keepVersions: Int = 1,
          optimistic: Boolean = false): LoadResult = {
    val all = discover(spark, srcDir, suffix = s".$format")
    val settled = LoadRegistry.settledPaths(spark, registryDir)
      .collect().map(_.getString(0)).toSet
    val (skip, fresh) = all.partition(settled.contains)

    val fs = FileSystem.get(new java.net.URI(tableDir),
      spark.sparkContext.hadoopConfiguration)
    // version-aware: if the table has been rewritten into a
    // VersionedTable (retention/compaction/upsert), publish into the
    // CURRENT version dir — an append to the root would be invisible
    // to versioned reads. Flat tables keep publishing to the root.
    // FILE-LIST (delta-manifest) tables — file-granular compaction or
    // SQL DML landed — can't take in-place appends at all (invisible
    // to manifest readers), so each batch becomes an appendDelta
    // commit instead: same one-PUT-per-batch visibility, same
    // deterministic in-version file name for crash idempotence.
    val isDelta = VersionedTable.currentVersion(spark, tableDir).exists(v =>
      VersionedTable.filesOf(spark, tableDir, v).nonEmpty)
    val liveDir =
      if (isDelta) null else VersionedTable.appendablePath(spark, tableDir)
    val results = fresh.map { f =>
      try {
        val reader = spark.read.schema(schema)
        val df = format match {
          case "csv"  => reader.option("header", "true").csv(f)
          case "json" => reader.json(f) // JSON-lines, one object per line
          case other  => reader.format(other).load(f)
        }
        // the audit half of write-audit-publish: the batch is gated
        // BEFORE anything becomes visible — a rejected drop never
        // reaches the table, and quarantine is terminal (the registry
        // keeps it from retrying; the source file stays for triage)
        val bad = audit.map(_(df)).getOrElse(Nil)
        if (bad.nonEmpty) {
          (f, LoadRegistry.StatusQuarantined, df.count(), bad)
        } else if (isDelta) {
          val n = df.count()
          // a crash between the manifest PUT and the registry write
          // re-runs this load: the current manifest already references
          // this source's deterministic file name → no second append
          val already = VersionedTable.currentFiles(spark, tableDir)
            .exists(_.endsWith(s"/${publishedName(f)}"))
          if (!already) {
            // optimistic: multi-writer cooperation — a racing loader's
            // commit rebases this one (staged bytes reused), and a race
            // on the SAME source file no-ops by deterministic name
            if (optimistic)
              VersionedTable.appendDeltaOptimistic(spark, tableDir,
                keepVersions, dedupeNewByName = true)(writeNamed(fs, df, f))
            else
              VersionedTable.appendDelta(spark, tableDir,
                keepVersions)(writeNamed(fs, df, f))
          }
          (f, LoadRegistry.StatusOk, n, Nil)
        } else {
          // an existing target is a crashed attempt's publish of this
          // exact content (source-path-deterministic name): reused, never
          // deleted and renamed again. n comes from the object's footer,
          // so the source is parsed once.
          val target = new Path(liveDir, publishedName(f))
          graft.util.AtomicPut.publishParquet(fs, df,
            new Path(s"$tableDir/_staging/${publishedTag(f)}"), target)
          (f, LoadRegistry.StatusOk,
            graft.util.AtomicPut.parquetRows(fs, target), Nil)
        }
      } catch {
        // a declared table CHECK constraint rejected the batch: the
        // refusal is DETERMINISTIC (same drop → same violation), so it
        // quarantines like an audit rejection — terminal in the
        // registry, never retried, source file kept for triage.
        // Plain failures stay transient (retried next tick).
        case e: VersionedTable.ConstraintViolatedException =>
          (f, LoadRegistry.StatusQuarantined, 0L, e.violations)
        case e: Exception =>
          (f, LoadRegistry.StatusFailed, 0L, Nil)
      }
    }
    if (results.nonEmpty)
      LoadRegistry.record(spark, registryDir,
        results.map { case (f, st, n, _) => (f, st, n) })
    LoadResult(
      loaded = results.collect { case (f, LoadRegistry.StatusOk, _, _) => f },
      skipped = skip,
      failed = results.collect { case (f, LoadRegistry.StatusFailed, _, _) => f },
      quarantined = results.collect {
        case (f, LoadRegistry.StatusQuarantined, _, bad) => (f, bad)
      })
  }

  /** Write `df` into a VersionedTable stage dir as the one file named
    * [[publishedName]]`(f)` — the deterministic name crash replays and
    * optimistic rebases recognise. */
  private def writeNamed(fs: FileSystem, df: DataFrame, f: String)(
      stage: String): Unit = {
    val part = graft.util.AtomicPut.writeOnePart(fs, df, new Path(stage))
    require(fs.rename(part, new Path(stage, publishedName(f))),
      s"rename $part -> ${publishedName(f)} failed")
  }

  // ---- branch-gated loads: whole-load write–audit–publish ----------
  //
  // `run`'s audit gates each DROP; a branch gates the whole LOAD —
  // every fresh file of the tick (or several ticks) lands as isolated
  // appends on one branch, the auditor reads the UNION (cross-batch
  // checks: day-level row counts, reconciliation against a control
  // total, distribution drift), and exactly one publish makes the
  // whole load visible atomically — or one discard returns every file
  // to the fresh pool. Registry statuses carry the lifecycle:
  // staged (settled while the branch lives) → ok on publish /
  // released on discard (count precedence keeps the log append-only).

  /** Load every fresh drop into branch `branch` of the table (created
    * from main's current version when absent). Per-file
    * crash-idempotent: each file's rows land under its deterministic
    * published name, so a replay after a crash between the branch
    * append and the registry write finds the name in the branch
    * manifest and skips. CHECK-constraint refusals quarantine
    * terminally, exactly like [[run]]. Nothing touches main. */
  def runToBranch(spark: SparkSession, srcDir: String, tableDir: String,
      registryDir: String, schema: StructType, format: String = "csv",
      branch: String = "ingest"): LoadResult = {
    val all = discover(spark, srcDir, suffix = s".$format")
    val settled = LoadRegistry.settledPaths(spark, registryDir)
      .collect().map(_.getString(0)).toSet
    val (skip, fresh) = all.partition(settled.contains)
    val fs = FileSystem.get(new java.net.URI(tableDir),
      spark.sparkContext.hadoopConfiguration)
    if (fresh.nonEmpty &&
        !VersionedTable.branches(spark, tableDir).contains(branch))
      VersionedTable.createBranch(spark, tableDir, branch)
    val results = fresh.map { f =>
      try {
        val reader = spark.read.schema(schema)
        val df = format match {
          case "csv"  => reader.option("header", "true").csv(f)
          case "json" => reader.json(f)
          case other  => reader.format(other).load(f)
        }
        val n = df.count()
        val already = VersionedTable.branchFiles(spark, tableDir, branch)
          .exists(_.endsWith(s"/${publishedName(f)}"))
        if (!already)
          VersionedTable.appendToBranchWith(spark, tableDir, branch)(
            writeNamed(fs, df, f))
        (f, LoadRegistry.StatusStaged, n, Seq.empty[String])
      } catch {
        case e: VersionedTable.ConstraintViolatedException =>
          (f, LoadRegistry.StatusQuarantined, 0L, e.violations)
        case _: Exception =>
          (f, LoadRegistry.StatusFailed, 0L, Seq.empty[String])
      }
    }
    if (results.nonEmpty)
      LoadRegistry.record(spark, registryDir,
        results.map { case (f, st, n, _) => (f, st, n) })
    LoadResult(
      loaded = results.collect {
        case (f, LoadRegistry.StatusStaged, _, _) => f },
      skipped = skip,
      failed = results.collect {
        case (f, LoadRegistry.StatusFailed, _, _) => f },
      quarantined = results.collect {
        case (f, LoadRegistry.StatusQuarantined, _, bad) => (f, bad)
      })
  }

  /** The staged-but-unpublished paths a discard would release (and a
    * publish would flip `ok`): staged-count > released-count, no `ok`
    * row yet. */
  private def stagedPaths(spark: SparkSession,
      registryDir: String): Seq[String] = {
    import org.apache.spark.sql.functions.{col, count, when}
    LoadRegistry.read(spark, registryDir)
      .groupBy("path")
      .agg(
        count(when(col("status") === LoadRegistry.StatusOk, 1)).as("n_ok"),
        count(when(col("status") === LoadRegistry.StatusStaged, 1)).as("n_s"),
        count(when(col("status") === LoadRegistry.StatusReleased, 1))
          .as("n_r"))
      .filter(col("n_ok") === 0 && col("n_s") > col("n_r"))
      .select("path").collect().map(_.getString(0)).toSeq
  }

  /** Split staged registry paths into (already ON MAIN, genuinely
    * staged). A path lands on main only via a branch publish, so a
    * staged row whose deterministic published name appears in main's
    * current file set is the orphan of a publish that crashed before
    * recording `ok` — its rows are LIVE and must never return to the
    * fresh pool (a release would double-load them). */
  private def partitionByPublished(spark: SparkSession, tableDir: String,
      staged: Seq[String]): (Seq[String], Seq[String]) = {
    if (staged.isEmpty) return (Nil, Nil)
    val onMain: Seq[String] =
      if (VersionedTable.currentVersion(spark, tableDir).isEmpty) Nil
      else VersionedTable.currentFiles(spark, tableDir)
    staged.partition(p =>
      onMain.exists(_.endsWith(s"/${publishedName(p)}")))
  }

  /** The row counts the staged rows recorded, per path — carried
    * forward when a path flips `ok`, so the registry invariant
    * (`status = ok` rows carry the load's true n_rows, consumers read
    * max(n_rows) per path) holds across BOTH load flows, direct run()
    * and branch publish, instead of branch-published paths reading 0. */
  private def stagedRowCounts(spark: SparkSession, registryDir: String,
      paths: Seq[String]): Map[String, Long] = {
    if (paths.isEmpty) return Map.empty
    import org.apache.spark.sql.functions.{col, max}
    LoadRegistry.read(spark, registryDir)
      .filter(col("status") === LoadRegistry.StatusStaged &&
        col("path").isin(paths: _*))
      .groupBy("path").agg(max(col("n_rows")).as("n_rows"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  /** PUBLISH the staged branch: the whole audited load flips visible
    * in one commit, then the staged registry rows flip `ok`
    * (publish-then-record — a crash between leaves the paths settled
    * as staged, which is correct: the data IS in main, and the
    * orphan reconciliation below flips them `ok` on the next call). */
  def publishStagedBranch(spark: SparkSession, tableDir: String,
      registryDir: String, branch: String = "ingest",
      keepVersions: Int = 1, force: Boolean = false): Long = {
    val staged = stagedPaths(spark, registryDir)
    // reconcile orphans of a prior crashed publish BEFORE this one:
    // their rows are already live on main
    val (orphaned, live) = partitionByPublished(spark, tableDir, staged)
    val counts = stagedRowCounts(spark, registryDir, staged)
    if (orphaned.nonEmpty)
      LoadRegistry.record(spark, registryDir,
        orphaned.map(p => (p, LoadRegistry.StatusOk, counts.getOrElse(p, 0L))))
    val v = VersionedTable.publishBranch(spark, tableDir, branch,
      keepVersions, force)
    if (live.nonEmpty)
      LoadRegistry.record(spark, registryDir,
        live.map(p => (p, LoadRegistry.StatusOk, counts.getOrElse(p, 0L))))
    v
  }

  /** DISCARD the staged branch: record `released` FIRST (a crash
    * before the drop re-stages the already-present files as a no-op
    * next tick — never loses them), then drop the branch. Every
    * released file returns to the fresh pool — EXCEPT orphans of a
    * publish that crashed before recording `ok`: those rows are live
    * on main (detected by published name), so they flip `ok` here
    * instead of being released into a second load. */
  def discardStagedBranch(spark: SparkSession, tableDir: String,
      registryDir: String, branch: String = "ingest"): Seq[String] = {
    val staged = stagedPaths(spark, registryDir)
    val (orphaned, toRelease) =
      partitionByPublished(spark, tableDir, staged)
    val counts = stagedRowCounts(spark, registryDir, staged)
    if (orphaned.nonEmpty)
      LoadRegistry.record(spark, registryDir,
        orphaned.map(p => (p, LoadRegistry.StatusOk, counts.getOrElse(p, 0L))))
    if (toRelease.nonEmpty)
      LoadRegistry.record(spark, registryDir,
        toRelease.map(p => (p, LoadRegistry.StatusReleased, 0L)))
    VersionedTable.dropBranch(spark, tableDir, branch)
    toRelease
  }
}
