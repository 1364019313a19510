package graft.lakehouse

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, expr, lit, regexp_extract, struct, sum, when}
import org.apache.spark.sql.types.{DataType, StructType}

/** Crash-safe table commits without a table format: versioned data
  * directories + single-object commit manifests.
  *
  * The reference gets transactional table swaps for free from its
  * database (check_lakehouse.py:139-160); a parquet lakehouse on an
  * object-store mount (lakehouse_setup.sh:36 mounts the bucket via
  * s3fs) has to build them. The protocol must therefore not lean on
  * atomic directory rename: S3-class stores implement rename as a
  * non-atomic copy+delete, so any rename-as-visibility scheme has a
  * window where a reader sees a half-copied table. Visibility here is
  * a SINGLE OBJECT WRITE — atomic on every object store (one PUT) and
  * every filesystem — and data directories never move at all:
  *
  * {{{
  * root/
  *   _commits/3      <- manifest: its existence commits version 3
  *   _v-3/ ...       <- version 3's parquet + _SUCCESS (never renamed)
  *   _v-4/ ...       <- in-flight write, invisible until _commits/4
  * }}}
  *
  *  1. write version N's data directly into its final dir `_v-N`;
  *  2. verify the writer completed (`_SUCCESS`);
  *  3. create `_commits/N` — one object; its existence IS the commit;
  *  4. prune superseded versions and their manifests.
  *
  * A crash before (3) leaves `_v-N` unreferenced and invisible — the
  * previous version stays current; a crash during (3) either created
  * the manifest (committed — the data was already complete) or didn't
  * (not committed); a crash during (4) leaves orphans that the next
  * successful commit prunes. At every step, `read` serves a complete
  * table. Readers racing a prune should read through a small version
  * retention window at real scale (prune keeps only the current
  * version here; widen by skipping (4) for the last K versions).
  *
  * Both dir names are underscore-prefixed WITHOUT an `=`: Spark hides
  * `_foo` paths from directory scans only when the name has no `=`
  * (`_v=3`-style names partition-discover as a `_v` column!), so
  * `_v-N` / `_commits` are invisible to a flat `read(root)` while an
  * explicitly-addressed `_v-N` still reads normally.
  *
  * A root without `_commits` is a flat, never-committed table (the
  * loaders' appendable paths write those): its parquet files read as
  * version 0 and the first commit supersedes them. Single writer (the
  * automation daemon); readers in other processes are safe at any
  * crash point.
  *
  * ==Manifest format==
  *
  * `_commits/N` is UTF-8 text, one record per line, fields separated
  * by tabs. Text fields are escaped (`\` → `\\`, tab → `\t`,
  * newline → `\n`); `\N` marks a NULL stat. The first line is the
  * header `N` (informational). Then come sections in this fixed order,
  * each sorted by line and left out when empty:
  *
  * {{{
  * d  <data dir>                                 optimistic attempt dir (default _v-N)
  * h  <logical StructType json> <dropped name>…  ALTERed logical schema + tombstones
  * k  <name> <predicate SQL>                     CHECK constraint
  * s  <file> <rows> <col> <min> <max> <nulls>    per-file, per-column stats
  * b  <file> <col> <bits> <k> <base64 bitset>    per-file, per-column bloom
  * dv <file> <dv parquet ref> <deleted rows>     positional deletion vector
  * ed <ed parquet ref> <seq> <k1,k2,…> <count>   equality delete (count = key tuples)
  * f  <file>                                     the version's data-file list
  * }}}
  *
  * File keys are root-relative `<verdir>/<name>`, except the bare
  * names whole-dir commits give their own stats and blooms. A version
  * without `f` lines is its data dir. The manifest's existence is the
  * commit: an empty body (a PUT torn mid-write) publishes version N
  * with no payload. [[Manifest]] is the one codec for this format.
  */
object VersionedTable {

  private val HiddenVer = "^_v-(\\d+)$".r
  private val AttemptVer = "^_v-(\\d+)-w.*$".r

  /** A concurrent writer published this version first. Extends
    * IllegalStateException so pre-existing double-writer detection
    * call sites keep their contract; [[commitOptimistic]] catches it
    * to rebase and retry. */
  final class CommitConflictException(msg: String, cause: Throwable)
    extends IllegalStateException(msg, cause)

  private def fsOf(spark: SparkSession, path: String): FileSystem =
    FileSystem.get(new java.net.URI(path), spark.sparkContext.hadoopConfiguration)

  private def commitsDir(root: String) = new Path(s"$root/_commits")

  /** Highest committed version: max manifest under `_commits`; None
    * for a never-committed table. */
  def currentVersion(spark: SparkSession, root: String): Option[Long] = {
    val fs = fsOf(spark, root)
    val cd = commitsDir(root)
    if (!fs.exists(cd)) None else listedVersions(fs, root).maxOption
  }

  // ---- the manifest codec ------------------------------------------

  /** One parsed `_commits/N` object: a field per line tag of the
    * manifest format (see the object doc). `version` is the header (0
    * for an empty body); sequences keep their section's line order. */
  private[graft] final case class Manifest(
      version: Long,
      dataDir: Option[String] = None,
      schema: Option[(StructType, Seq[String])] = None,
      constraints: Seq[(String, String)] = Nil,
      stats: Seq[FileStat] = Nil,
      blooms: Map[(String, String), (Int, Int, java.util.BitSet)] = Map.empty,
      dvs: Map[String, (String, Long)] = Map.empty,
      eqDeletes: Seq[EqDelete] = Nil,
      files: Seq[String] = Nil) {

    /** The data dir name: the `d` pointer (optimistic commits stage in
      * attempt-unique dirs), else the conventional `_v-N`. */
    def dir: String = dataDir.getOrElse(s"_v-$version")

    /** A stat/bloom key as a root-relative ref: bare names (whole-dir
      * commits) live in [[dir]]. */
    def rel(key: String): String = if (key.contains('/')) key else s"$dir/$key"

    /** Every root-relative object ref that pins its parent dir: data
      * files and the dv/ed sidecars. */
    def refs: Seq[String] = files ++ dvs.values.map(_._1) ++ eqDeletes.map(_.ref)

    def logical: Option[StructType] = schema.map(_._1)
  }

  private[graft] object Manifest {

    def parse(body: String): Manifest = {
      val rows = body.split("\n").toSeq.map(_.split("\t", -1).toSeq)
      def tagged(tag: String) = rows.collect { case `tag` +: fields => fields }
      def opt(v: String) = if (v == NullMark) None else Some(unesc(v))
      val statRows = tagged("s").collect { case Seq(f, n, c, mn, mx, nu) =>
        (unesc(f), n.toLong, unesc(c), opt(mn), opt(mx), nu.toLong)
      }
      Manifest(
        version = rows.headOption.flatMap(_.head.toLongOption).getOrElse(0L),
        dataDir = tagged("d").collectFirst { case Seq(d) => unesc(d) },
        schema = tagged("h").collectFirst { case json +: dropped =>
          (DataType.fromJson(unesc(json)).asInstanceOf[StructType],
            dropped.map(unesc))
        },
        constraints = tagged("k").collect { case Seq(n, p) => (unesc(n), unesc(p)) },
        stats = statRows.groupBy(t => (t._1, t._2)).map { case ((f, n), ts) =>
          FileStat(f, n, ts.map(t => t._3 -> t._4).toMap,
            ts.map(t => t._3 -> t._5).toMap, ts.map(t => t._3 -> t._6).toMap)
        }.toSeq.sortBy(_.file),
        blooms = tagged("b").collect { case Seq(f, c, bits, k, b64) =>
          (unesc(f), unesc(c)) -> (bits.toInt, k.toInt,
            java.util.BitSet.valueOf(java.util.Base64.getDecoder.decode(b64)))
        }.toMap,
        dvs = tagged("dv").collect { case Seq(f, ref, n) =>
          unesc(f) -> (unesc(ref), n.toLong)
        }.toMap,
        eqDeletes = tagged("ed").collect { case Seq(ref, seq, keys, n) =>
          EqDelete(unesc(ref), seq.toLong, keys.split(",").toSeq.map(unesc),
            n.toLong)
        },
        files = tagged("f").collect { case Seq(f) => unesc(f) })
    }

    def render(m: Manifest): String = {
      def line(fields: String*) = fields.mkString("\t")
      def opt(v: Option[String]) = v.map(esc).getOrElse(NullMark)
      val sections = Seq(
        m.dataDir.toSeq.map(d => line("d", esc(d))),
        m.schema.toSeq.map { case (s, dropped) =>
          line("h" +: esc(s.json) +: dropped.map(esc): _*)
        },
        m.constraints.map { case (n, p) => line("k", esc(n), esc(p)) },
        m.stats.flatMap(s => s.min.keys.map(c => line("s", esc(s.file),
          s.rows.toString, esc(c), opt(s.min(c)), opt(s.max(c)),
          s.nulls(c).toString))),
        m.blooms.toSeq.map { case ((f, c), (bits, k, bs)) =>
          line("b", esc(f), esc(c), bits.toString, k.toString,
            java.util.Base64.getEncoder.encodeToString(bs.toByteArray))
        },
        m.dvs.toSeq.map { case (f, (ref, n)) =>
          line("dv", esc(f), esc(ref), n.toString)
        },
        m.eqDeletes.map(e => line("ed", esc(e.ref), e.seq.toString,
          e.keyCols.map(esc).mkString(","), e.count.toString)),
        m.files.map(f => line("f", esc(f))))
      (m.version.toString +: sections.flatMap(_.sorted)).mkString("\n")
    }
  }

  private def esc(s: String): String = s
    .replace("\\", "\\\\").replace("\t", "\\t").replace("\n", "\\n")
  private def unesc(s: String): String = {
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case '\\' => sb.append('\\'); i += 2
          case 't'  => sb.append('\t'); i += 2
          case 'n'  => sb.append('\n'); i += 2
          case o    => sb.append(o); i += 2
        }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }
  private val NullMark = "\\N"

  /** Version `n`'s manifest, fetched in ONE object read; None when no
    * `_commits/n` exists. The object's name is the version. */
  private def manifest(fs: FileSystem, root: String, n: Long): Option[Manifest] = {
    val p = new Path(commitsDir(root), n.toString)
    if (!fs.exists(p)) None
    else Some(Manifest.parse(graft.util.AtomicPut.readUtf8(fs, p)).copy(version = n))
  }

  /** [[manifest]], or an empty one (whole-dir `_v-n`) when absent. */
  private def manifestOf(fs: FileSystem, root: String, n: Long): Manifest =
    manifest(fs, root, n).getOrElse(Manifest(n))

  private def manifestOf(spark: SparkSession, root: String, n: Long): Manifest =
    manifestOf(fsOf(spark, root), root, n)

  /** Version `n`'s manifest for a READ: one that is missing under an
    * existing `_commits` dir was PRUNED, and must fail loudly — never
    * fall back to its version-dir listing. On a delta table that
    * listing is a PARTIAL snapshot (carried files live in older dirs),
    * and a silent partial read would corrupt every consumer diffing
    * versions (CDC `changes`, the streaming source, mirrors). Widen
    * `keepVersions` to cover the longest reader/consumer lag instead. */
  private def readable(spark: SparkSession, root: String, n: Long): Manifest = {
    val fs = fsOf(spark, root)
    manifest(fs, root, n).getOrElse {
      if (fs.exists(commitsDir(root)))
        throw new IllegalStateException(
          s"version $n of $root is not retained (its manifest " +
            "was pruned) — widen keepVersions to cover this reader")
      Manifest(n)
    }
  }

  /** The current version's manifest, for a read. */
  private def currentManifest(spark: SparkSession, root: String): Manifest =
    readable(spark, root, currentVersion(spark, root).getOrElse(
      throw new IllegalStateException(s"$root has no committed version")))

  /** Directory `read` resolves: the current version's data dir, or
    * `root` itself for a pre-versioning flat table. */
  def currentPath(spark: SparkSession, root: String): String =
    currentVersion(spark, root) match {
      case Some(n) => s"$root/${manifestOf(spark, root, n).dir}"
      case None => root
    }

  /** The explicit data-file list a version's manifest carries
    * (ROOT-relative `f` lines — written by [[commitDelta]]), or None
    * for a conventional whole-dir version. When present, the list IS
    * the version's data: files may live in several retained version
    * dirs, which is what lets a commit carry untouched files forward
    * by reference instead of copying table-sized bytes. */
  def filesOf(spark: SparkSession, root: String,
      version: Long): Option[Seq[String]] =
    Some(manifestOf(spark, root, version).files).filter(_.nonEmpty)

  /** The current version's data files as ROOT-relative paths — the
    * carried-file input of a [[commitDelta]]. Manifest f-lines when
    * present, else a listing of the version dir. */
  def currentFiles(spark: SparkSession, root: String): Seq[String] = {
    val version = currentVersion(spark, root).getOrElse(
      throw new IllegalStateException(s"$root has no committed version"))
    filesAt(spark, root, version)
  }

  /** [[currentFiles]] for an arbitrary RETAINED version — the carried
    * set a [[rollback]] re-references. */
  def filesAt(spark: SparkSession, root: String,
      version: Long): Seq[String] =
    filesIn(fsOf(spark, root), root, manifestOf(spark, root, version))

  /** A manifest's data files: its `f` list, else its dir's listing. */
  private def filesIn(fs: FileSystem, root: String, m: Manifest): Seq[String] =
    if (m.files.nonEmpty) m.files
    else fs.listStatus(new Path(s"$root/${m.dir}")).toSeq
      .filter(st => st.isFile && isDataFile(st.getPath.getName))
      .map(st => s"${m.dir}/${st.getPath.getName}")

  /** Delete sidecar objects (positional `dv-`, equality `ed-`): a
    * VISIBLE leaf name (Spark's file index silently drops `_`/`.`-
    * prefixed leaves, so a hidden name would be unreadable) that
    * data-file listings exclude. */
  private def isDvFile(name: String): Boolean =
    (name.startsWith("dv-") || name.startsWith("ed-")) &&
      name.endsWith(".parquet")

  private def isDataFile(name: String): Boolean =
    !name.startsWith("_") && !name.startsWith(".") && !isDvFile(name)

  def read(spark: SparkSession, root: String): DataFrame =
    currentVersion(spark, root) match {
      case Some(n) => readVersion(spark, root, n)
      case None => spark.read.parquet(root)
    }

  /** The live dir for IN-PLACE single-object appends (the incremental
    * loaders' visibility model: dir scan = table). Refuses file-list
    * (delta) versions, where an in-place append would be INVISIBLE to
    * readers resolving the manifest's file list — those tables append
    * through [[appendDelta]] instead. */
  def appendablePath(spark: SparkSession, root: String): String =
    currentVersion(spark, root).map(manifestOf(spark, root, _)) match {
      case Some(m) =>
        require(m.files.isEmpty,
          s"version ${m.version} of $root is a file-list (delta) commit: " +
            "in-place appends are invisible to its readers — use appendDelta")
        s"$root/${m.dir}"
      case None => root
    }

  /** Crash-safe commit of the next version. `writer` receives the
    * version's (hidden, final) data dir and must produce a complete
    * parquet write there (Spark's committer emits `_SUCCESS` last).
    * Returns the new version number.
    *
    * `keepVersions` is the prune retention window: the newest K
    * versions (data + manifest) survive the commit, so a reader that
    * resolved version N-1 just before this commit can still finish
    * its scan — at real scale, set it to cover the longest reader.
    * The default keeps only the new current version (tightest
    * storage, single-process semantics).
    *
    * `statsCols` names columns whose per-FILE min/max are collected
    * into the commit manifest (one distributed aggregate over the
    * fresh version, grouped by `input_file_name`): the Iceberg-style
    * data-skipping index. [[readPruned]] then plans a scan from the
    * manifest alone — no directory listing, no parquet footer reads —
    * keeping only files whose range can satisfy the predicate. At
    * 100 TB the listing+footer pass is the cold-start cost this
    * removes; pair with `Bucketing.writeRangePartitioned`/
    * `writeZOrdered` inside `writer` so file ranges are actually
    * tight. The manifest's EXISTENCE is still the commit; stats are
    * payload (an empty manifest is still a valid commit).
    *
    * SINGLE-WRITER path: two RACING plain commits are detected at the
    * manifest PUT (the loser throws), but both stage into the SAME
    * hidden `_v-<next>` dir first — on local/HDFS the second writer's
    * ErrorIfExists probe fails fast, while on OBJECT STORES
    * directories are implicit, so the probes can both pass and the
    * winner's version can carry the loser's part files (caught by the
    * mock-store catalog race spec). Racing writers on one table must
    * use [[commitOptimistic]]/[[appendDeltaOptimistic]], whose
    * attempt-unique staging closes exactly this. */
  def commit(spark: SparkSession, root: String, keepVersions: Int = 1,
             statsCols: Seq[String] = Nil, bloomCols: Seq[String] = Nil,
             bloomBits: Int = 8192, bloomHashes: Int = 4)
            (writer: String => Unit): Long =
    commitGated(spark, root, keepVersions, statsCols, bloomCols,
      bloomBits, bloomHashes, None)(writer)

  /** Audit gate failed: the staged version was discarded and the
    * table still serves its previous version — nothing published. */
  final class AuditFailedException(val violations: Seq[String])
    extends RuntimeException(
      s"audit failed, commit not published:\n  ${violations.mkString("\n  ")}")

  /** A declared CHECK constraint rejected the write: the staged data
    * was discarded and the table still serves its previous version. */
  final class ConstraintViolatedException(val violations: Seq[String])
    extends RuntimeException(
      s"CHECK constraint violated, commit not published:\n  " +
        violations.mkString("\n  "))

  /** Declared CHECK constraints of the current version:
    * (name, predicate SQL). Empty for unconstrained tables. */
  def constraintsOf(spark: SparkSession, root: String): Seq[(String, String)] =
    currentVersion(spark, root)
      .map(v => manifestOf(spark, root, v).constraints).getOrElse(Nil)

  /** Evaluate every constraint in ONE aggregate pass over `df` (the
    * DataQuality shape — map-side partials, never one job per rule):
    * a row passes a CHECK when the predicate is TRUE or NULL (the SQL
    * standard's unknown-passes rule). Returns human-readable
    * violation strings, empty when all hold. */
  private def constraintViolations(df: DataFrame,
      cs: Seq[(String, String)]): Seq[String] = {
    if (cs.isEmpty) return Nil
    val aggs = cs.zipWithIndex.map { case ((_, p), i) =>
      coalesce(sum(when(!coalesce(expr(p).cast("boolean"), lit(true)),
        1L).otherwise(0L)), lit(0L)).as(s"v$i")
    }
    val row = df.agg(aggs.head, aggs.tail: _*).head
    cs.zipWithIndex.collect { case ((n, p), i) if row.getLong(i) > 0 =>
      s"CHECK `$n` ($p): ${row.getLong(i)} violating row(s)"
    }
  }

  /** Enforce `cs` on `df`; on violation delete `stage` and refuse —
    * the single-object commit point means readers never saw it. */
  private def enforceConstraints(fs: FileSystem, stage: Path,
      df: DataFrame, cs: Seq[(String, String)]): Unit = {
    val bad = constraintViolations(df, cs)
    if (bad.nonEmpty) {
      fs.delete(stage, true)
      throw new ConstraintViolatedException(bad)
    }
  }

  /** ADD CONSTRAINT … CHECK (predicate): validates the EXISTING table
    * in one aggregate pass (a declaration the data already violates
    * refuses — adding it would make every later commit unexplainably
    * fail), then lands the declaration as a METADATA-ONLY delta commit
    * (every file carried by reference, one manifest PUT — the ALTER
    * shape, instant at any table size). From then on EVERY write path
    * — full commits, delta appends, DML, MoR upserts, streaming
    * batches, optimistic commits — checks the rows it writes and
    * refuses violating batches atomically; carried files are never
    * re-scanned (the whole table holds by induction). A row passes
    * when the predicate is TRUE or NULL (SQL's unknown-passes rule).
    * The analog of Delta's table CHECK constraints, re-expressed on
    * the manifest protocol. */
  def addConstraint(spark: SparkSession, root: String, name: String,
      predicate: String, keepVersions: Int = 1): Long = {
    require(name.nonEmpty && !name.exists(c => c == '\t' || c == '\n'),
      s"bad constraint name: `$name`")
    val prev = constraintsOf(spark, root)
    require(!prev.exists(_._1.equalsIgnoreCase(name)),
      s"constraint `$name` already exists on $root")
    // parse eagerly: an unparseable predicate must fail THIS DDL, not
    // the next innocent commit
    spark.sessionState.sqlParser.parseExpression(predicate)
    val bad = constraintViolations(read(spark, root), Seq(name -> predicate))
    if (bad.nonEmpty) throw new ConstraintViolatedException(
      bad.map(_ + " in the existing data — constraint not added"))
    commitDelta(spark, root, currentFiles(spark, root), keepVersions,
      constraintsOverride = Some(prev :+ (name -> predicate)))(_ => ())
  }

  /** Replace the table's WHOLE constraint set in one metadata-only
    * commit — the `CREATE [OR REPLACE] TABLE … CONSTRAINT … CHECK`
    * form, where the statement declares the complete definition.
    * Validates every predicate against the current data in ONE
    * aggregate pass (trivially empty for a fresh CREATE). */
  def setConstraints(spark: SparkSession, root: String,
      cs: Seq[(String, String)], keepVersions: Int = 1): Long = {
    require(cs.map(_._1.toLowerCase).distinct.size == cs.size,
      s"duplicate constraint names in ${cs.map(_._1)}")
    cs.foreach { case (n, p) =>
      require(n.nonEmpty && !n.exists(c => c == '\t' || c == '\n'),
        s"bad constraint name: `$n`")
      spark.sessionState.sqlParser.parseExpression(p)
    }
    val bad = constraintViolations(read(spark, root), cs)
    if (bad.nonEmpty) throw new ConstraintViolatedException(
      bad.map(_ + " in the existing data — constraints not set"))
    commitDelta(spark, root, currentFiles(spark, root), keepVersions,
      constraintsOverride = Some(cs))(_ => ())
  }

  /** DROP CONSTRAINT: one metadata-only delta commit without the
    * named declaration. `ifExists` no-ops (returning the current
    * version) when absent; otherwise absence refuses. */
  def dropConstraint(spark: SparkSession, root: String, name: String,
      ifExists: Boolean = false, keepVersions: Int = 1): Long = {
    val prev = constraintsOf(spark, root)
    if (!prev.exists(_._1.equalsIgnoreCase(name))) {
      if (ifExists) return currentVersion(spark, root).getOrElse(
        throw new IllegalStateException(s"$root has no committed version"))
      throw new IllegalArgumentException(
        s"no constraint `$name` on $root")
    }
    commitDelta(spark, root, currentFiles(spark, root), keepVersions,
      constraintsOverride =
        Some(prev.filterNot(_._1.equalsIgnoreCase(name))))(_ => ())
  }

  /** Top-level column names a constraint predicate references. */
  private def constraintRefs(spark: SparkSession, p: String): Seq[String] =
    spark.sessionState.sqlParser.parseExpression(p).collect {
      case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
        a.nameParts.head
    }

  /** DROP/RENAME COLUMN refuses while a CHECK constraint references
    * the column (the Delta rule): the declaration would silently go
    * stale — the operator must drop or re-declare it explicitly. */
  private def requireUnconstrained(spark: SparkSession, root: String,
      colName: String, verb: String): Unit = {
    // for a nested path, refuse when a constraint references the ROOT
    // column — predicate analysis resolves getField through the top
    // name, so any `meta.x` predicate reports `meta` (conservative:
    // protects every subfield under a referenced struct)
    val rootSeg = colName.split("\\.").head
    constraintsOf(spark, root).foreach { case (n, p) =>
      require(!constraintRefs(spark, p).exists(r =>
        r.equalsIgnoreCase(colName) || r.equalsIgnoreCase(rootSeg)),
        s"cannot $verb column `$colName` on $root: CHECK constraint " +
          s"`$n` ($p) references it — drop the constraint first")
    }
  }

  /** WRITE-AUDIT-PUBLISH commit: like [[commit]], but between the
    * completed stage write and the manifest PUT, `audit` inspects the
    * staged (still-invisible) data — typically
    * `DataQuality.violations(_, checks)`. A non-empty violation list
    * DELETES the staged dir and throws [[AuditFailedException]]; the
    * single-object commit point means readers can never observe the
    * rejected data at any point in the window. This is the WAP
    * pattern without a branch mechanism: the hidden unpublished
    * version dir IS the audit branch, and the manifest PUT is the
    * fast-forward. */
  def commitAudited(spark: SparkSession, root: String,
      keepVersions: Int = 1, statsCols: Seq[String] = Nil,
      bloomCols: Seq[String] = Nil)
      (writer: String => Unit)
      (audit: DataFrame => Seq[String]): Long =
    commitGated(spark, root, keepVersions, statsCols, bloomCols,
      8192, 4, Some(audit))(writer)

  private def commitGated(spark: SparkSession, root: String,
      keepVersions: Int, statsCols: Seq[String], bloomCols: Seq[String],
      bloomBits: Int, bloomHashes: Int,
      audit: Option[DataFrame => Seq[String]])
      (writer: String => Unit): Long = {
    val fs = fsOf(spark, root)
    // `_commits` exists before any data lands, so resolution runs
    // through manifests from this commit's first write on
    fs.mkdirs(commitsDir(root))
    val base = currentVersion(spark, root)
    val next = base.getOrElse(0L) + 1L
    val data = new Path(s"$root/_v-$next")
    fs.delete(data, true) // leftovers of a crashed attempt
    writer(data.toString)
    require(fs.exists(new Path(data, "_SUCCESS")),
      s"writer did not complete a parquet commit under $data")
    audit.foreach { a =>
      val bad = a(spark.read.parquet(data.toString))
      if (bad.nonEmpty) {
        fs.delete(data, true)
        throw new AuditFailedException(bad)
      }
    }
    // declared CHECK constraints persist across FULL rewrites (unlike
    // the logical-schema h-line, they are declarative intent, never
    // derivable from the data) and gate every row this commit writes
    val cs = base.map(v => manifestOf(fs, root, v).constraints).getOrElse(Nil)
    if (cs.nonEmpty)
      enforceConstraints(fs, data, spark.read.parquet(data.toString), cs)
    // THE commit point: one object's existence flips visibility
    publishManifest(fs, root, Manifest(next, constraints = cs,
      stats = collectFileStats(spark, Seq(data.toString), statsCols,
        relKeys = false),
      blooms = collectFileBlooms(spark, Seq(data.toString), bloomCols,
        bloomBits, bloomHashes, relKeys = false)))
    // prune data dirs and manifests older than the retention window,
    // and pre-versioning flat files (unreachable once versioned)
    prune(fs, root, next - math.max(1, keepVersions))
    next
  }

  /** FILE-GRANULAR (copy-on-write) commit: version `N+1` = `carried`
    * files of earlier versions, REFERENCED not copied, plus whatever
    * `writer` adds under the new `_v-(N+1)` dir. The manifest gains
    * `f\t<root-relative path>` lines enumerating the version's exact
    * file set; readers resolve those instead of a directory scan.
    *
    * This is what makes mutation cost follow the AFFECTED data, not
    * the table: a DELETE touching 2 of 10 000 files rewrites 2 files
    * and re-references 9 998 (at 100 TB, the difference between a
    * seconds-long surgical commit and a full-table rewrite). The
    * commit point is unchanged — one manifest PUT — so every crash
    * window of [[commit]] carries over verbatim: an unpublished
    * `_v-(N+1)` is invisible, and carried files belong to RETAINED
    * older versions, which [[prune]] and [[vacuum]] keep alive for as
    * long as any retained manifest references them.
    *
    * `carried` entries are root-relative `<verdir>/<name>` refs —
    * [[currentFiles]] produces them. `writer` MAY write nothing (a
    * pure drop/carry commit, e.g. a delete confined to whole files);
    * if it writes, the parquet commit must complete (`_SUCCESS`).
    * Stats/blooms for carried files are COPIED from the previous
    * manifest when present (no re-scan); files the previous manifest
    * carried no stats for are re-scanned when `statsCols` asks for
    * stats, and pruning treats stat-less files conservatively either
    * way. Single-writer, like [[commit]].
    *
    * `statsFrom` names the version whose manifest seeds the carried
    * files' stats/blooms (default: the current version). A
    * [[rollback]] carries files of an OLDER version, so its skipping
    * index lives in that version's manifest, not the current one. */
  def commitDelta(spark: SparkSession, root: String, carried: Seq[String],
      keepVersions: Int = 1, statsCols: Seq[String] = Nil,
      bloomCols: Seq[String] = Nil, bloomBits: Int = 8192,
      bloomHashes: Int = 4, statsFrom: Option[Long] = None,
      dv: Seq[(String, String, Long)] = Nil,
      edOverride: Option[Seq[EqDelete]] = None,
      schemaOverride: Option[(StructType, Seq[String])] = None,
      constraintsOverride: Option[Seq[(String, String)]] = None)
      (writer: String => Unit): Long = {
    val fs = fsOf(spark, root)
    fs.mkdirs(commitsDir(root))
    carried.foreach { r =>
      require(r.nonEmpty && !r.startsWith("/") && !r.contains("..") &&
        r.count(_ == '/') == 1,
        s"carried ref must be a root-relative <verdir>/<file> path: $r")
    }
    val base = currentVersion(spark, root)
    // carried refs into an UNCOMMITTED table are the adoption
    // bootstrap (immutable objects published out-of-band — e.g. the
    // daemon's corpus batch objects — become version 1 by reference,
    // zero copy); each ref must already exist, so a typo'd root or a
    // phantom ref still fails loudly instead of committing a
    // manifest over nothing
    if (base.isEmpty) carried.foreach { r =>
      require(fs.exists(new Path(s"$root/$r")),
        s"carried ref into an uncommitted table must already exist: $root/$r")
    }
    val next = base.getOrElse(0L) + 1L
    val stage = new Path(s"$root/_v-$next")
    fs.delete(stage, true)
    writer(stage.toString)
    // ensure the version dir exists even for a write-nothing delta —
    // batch markers and data-dir resolution expect it
    fs.mkdirs(stage)
    val newNames = fs.listStatus(stage).toSeq
      .filter(st => st.isFile && isDataFile(st.getPath.getName))
      .map(_.getPath.getName).sorted
    if (newNames.nonEmpty)
      require(fs.exists(new Path(stage, "_SUCCESS")),
        s"writer did not complete a parquet commit under $stage")
    val newRefs = newNames.map(n => s"_v-$next/$n")
    val all = carried ++ newRefs
    require(all.nonEmpty,
      "empty delta commit: nothing carried and nothing written")
    publishDelta(spark, fs, root, base, next, stage, None, newNames,
      carried, all, statsCols, bloomCols, bloomBits, bloomHashes,
      statsFrom, dv, edOverride, schemaOverride, constraintsOverride,
      keepVersions)
  }

  /** The shared tail of [[commitDelta]] and [[appendDeltaOptimistic]]:
    * constraint gate on the staged batch, manifest payload assembly
    * (carried stats/blooms/dv/ed/schema), the arbitration PUT, and the
    * retention sweep. `dataDirName` names a non-default staging dir
    * (the optimistic path's attempt-unique dir) via the manifest's `d`
    * pointer. */
  private def publishDelta(spark: SparkSession, fs: FileSystem,
      root: String, base: Option[Long], next: Long, stage: Path,
      dataDirName: Option[String], newNames: Seq[String],
      carried: Seq[String], all: Seq[String], statsCols: Seq[String],
      bloomCols: Seq[String], bloomBits: Int, bloomHashes: Int,
      statsFrom: Option[Long], dv: Seq[(String, String, Long)],
      edOverride: Option[Seq[EqDelete]],
      schemaOverride: Option[(StructType, Seq[String])],
      constraintsOverride: Option[Seq[(String, String)]],
      keepVersions: Int): Long = {

    // the manifest every carried section comes from, fetched once
    val prev = statsFrom.orElse(base).map(v => manifestOf(fs, root, v))
    // CHECK constraints: carried forward (or replaced by add/drop);
    // enforced on the NEW files only — carried files passed when they
    // were committed, so the whole table holds by induction and a
    // delta append stays O(batch) even on a constrained 100 TB table
    val cs = constraintsOverride.getOrElse(prev.toSeq.flatMap(_.constraints))
    if (cs.nonEmpty && newNames.nonEmpty) {
      val newDf = spark.read.parquet(newNames.map(n => s"$stage/$n"): _*)
      // a schema-evolution append can land files that LACK a
      // constrained column — extend the batch with typed nulls from
      // the table's logical schema so predicates evaluate under the
      // documented NULL-passes rule instead of dying mid-commit as an
      // unresolved column; a predicate over a column the TABLE does
      // not know either still refuses, with a clear message
      val aligned = prev.fold(newDf)(m => withLogicalNulls(spark, root, m, newDf))
      try enforceConstraints(fs, stage, aligned, cs)
      catch {
        case e: org.apache.spark.sql.AnalysisException =>
          fs.delete(stage, true)
          throw new IllegalArgumentException(
            "constraint/schema mismatch: a CHECK predicate did not " +
              s"analyze against the batch schema " +
              s"(${aligned.schema.map(_.name).mkString(", ")}) — " +
              e.getMessage, e)
      }
    }

    // carried files' stats/blooms are COPIED forward under their
    // root-relative keys even when no columns are requested — carrying
    // the skipping index is free; only the files this commit touches
    // need (re)scanning, and stat-less files read conservatively anyway
    val isCarried = carried.toSet
    val prevStats = prev.toSeq.flatMap(m =>
      m.stats.map(s => s.copy(file = m.rel(s.file)))).filter(s => isCarried(s.file))
    val prevBlooms = prev.toSeq.flatMap(m => m.blooms.map { case ((f, c), b) =>
      (m.rel(f), c) -> b
    }).filter { case ((f, _), _) => isCarried(f) }.toMap
    // explicit new-file paths, not the stage dir: the stage may also
    // hold a visible dv sidecar with a different schema
    val newFiles = newNames.map(n => s"$stage/$n")
    val statted = prevStats.map(_.file).toSet
    val stats = prevStats ++ collectFileStats(spark,
      carried.filterNot(statted).map(r => s"$root/$r") ++ newFiles,
      statsCols, relKeys = true)
    val blooms = prevBlooms ++ collectFileBlooms(spark,
      carried.filter(r => bloomCols.exists(c => !prevBlooms.contains((r, c))))
        .map(r => s"$root/$r") ++ newFiles,
      bloomCols, bloomBits, bloomHashes, relKeys = true)
    // deletion vectors: carried files keep their vector (a commit that
    // re-references a file must re-reference its hidden deletes —
    // dropping it would RESURRECT deleted rows); rewritten files'
    // vectors drop (the rewrite read was DV-applied, so the new bytes
    // are purged); explicit `dv` entries override.
    val dvs = prev.toSeq.flatMap(_.dvs).filter { case (f, _) => isCarried(f) }
      .toMap ++ dv.map { case (f, ref, c) => f -> (ref, c) }
    // equality deletes: carried by default (a commit that keeps a file
    // in an ED's scope must keep the ED — dropping it would resurrect
    // deleted keys), but scope-FILTERED: an ED whose seq covers no
    // file in the new manifest is garbage (every file it applied to
    // was rewritten through an ED-applied read) and drops
    // automatically, so full rewrites and complete compactions
    // self-clean. `edOverride` replaces the carry set outright
    // (deleteByKey adds one; resolveEqualityDeletes drops them all).
    val oldest = all.map(refSeq).min
    val eds = edOverride.getOrElse(prev.toSeq.flatMap(_.eqDeletes))
      .filter(_.seq >= oldest)
    // logical schema: an explicit override (ALTER) wins; else a delta
    // commit CARRIES the previous declaration — its files are carried
    // too, so the mapping they need must survive with them
    val schema = schemaOverride.orElse(prev.flatMap(_.schema))
    publishManifest(fs, root, Manifest(next, dataDirName, schema, cs, stats,
      blooms, dvs, eds, all))
    prune(fs, root, next - math.max(1, keepVersions))
    next
  }

  /** Append-only delta: new version = every current file (by
    * reference) + whatever `writer` adds — O(batch) work however big
    * the table is, with full commit semantics (manifest PUT, time
    * travel, retention). */
  def appendDelta(spark: SparkSession, root: String, keepVersions: Int = 1,
      statsCols: Seq[String] = Nil, bloomCols: Seq[String] = Nil)
      (writer: String => Unit): Long =
    commitDelta(spark, root, currentFiles(spark, root), keepVersions,
      statsCols, bloomCols)(writer)

  /** OPTIMISTIC append — [[appendDelta]]'s multi-writer form, the
    * append twin of [[commitOptimistic]]: the batch stages ONCE in an
    * attempt-UNIQUE hidden dir (racing appenders can never touch each
    * other's bytes — the shared `_v-<next>` stage dir is exactly what
    * makes plain concurrent appendDelta unsafe), then races the
    * manifest PUT; the LOSER rebases by recomputing the carried file
    * set from the NEW current version — the staged bytes are reused,
    * so a retry costs one manifest assembly, not a rewrite. Committed
    * history is a serial chain of appends: with N racing appenders,
    * all N batches land, each exactly once.
    *
    * REFUSES while the current version carries equality deletes:
    * their version-seq scoping cannot order a file staged before the
    * winning version number was known (the delete could wrongly mask
    * the concurrent append's rows) — `resolveEqualityDeletes` first.
    * Deletion vectors are unaffected (they scope to their own files,
    * carried by ref).
    *
    * `dedupeNewByName = true` adds the loader's idempotence guard AT
    * THE ARBITRATION: when a rebase finds every staged file's NAME
    * already referenced by the new current version (deterministic
    * published names ⇒ same name = same batch, the IncrementalLoader
    * contract), the append no-ops and returns the current version —
    * two daemons racing the SAME source file land it exactly once
    * instead of twice under different dirs. */
  def appendDeltaOptimistic(spark: SparkSession, root: String,
      keepVersions: Int = 1, statsCols: Seq[String] = Nil,
      bloomCols: Seq[String] = Nil, maxRetries: Int = 5,
      dedupeNewByName: Boolean = false)
      (writer: String => Unit): Long = {
    val fs = fsOf(spark, root)
    fs.mkdirs(commitsDir(root))
    var staged: Option[(Path, Seq[String])] = None
    var attempt = 0
    while (true) {
      val base = currentVersion(spark, root)
      val baseM = base.map(manifestOf(fs, root, _))
      baseM.foreach { m =>
        require(m.eqDeletes.isEmpty,
          s"appendDeltaOptimistic refuses on $root: version ${m.version} " +
            "carries equality deletes, whose version-seq scoping cannot " +
            "order a concurrently staged append — resolveEqualityDeletes first")
      }
      val next = base.getOrElse(0L) + 1L
      val (stage, newNames) = staged.getOrElse {
        val dn =
          s"_v-$next-w${java.util.UUID.randomUUID().toString.take(8)}"
        val sp = new Path(s"$root/$dn")
        writer(sp.toString)
        fs.mkdirs(sp) // write-nothing deltas still need the dir
        val names = fs.listStatus(sp).toSeq
          .filter(st => st.isFile && isDataFile(st.getPath.getName))
          .map(_.getPath.getName).sorted
        if (names.nonEmpty)
          require(fs.exists(new Path(sp, "_SUCCESS")),
            s"writer did not complete a parquet commit under $sp")
        val t = (sp, names)
        staged = Some(t)
        t
      }
      val carried = baseM.map(filesIn(fs, root, _)).getOrElse(Nil)
      if (dedupeNewByName && newNames.nonEmpty &&
          newNames.forall(n => carried.exists(_.endsWith(s"/$n")))) {
        // a racing appender already landed this exact batch (same
        // deterministic names) — idempotent no-op, stage reclaimed
        fs.delete(stage, true)
        return currentVersion(spark, root).getOrElse(next - 1)
      }
      val newRefs = newNames.map(n => s"${stage.getName}/$n")
      val all = carried ++ newRefs
      require(all.nonEmpty,
        "empty delta commit: nothing carried and nothing written")
      try
        return publishDelta(spark, fs, root, base, next, stage,
          Some(stage.getName), newNames, carried, all, statsCols,
          bloomCols, 8192, 4, None, Nil, None, None, None, keepVersions)
      catch {
        case e: CommitConflictException =>
          attempt += 1
          if (attempt > maxRetries) { fs.delete(stage, true); throw e }
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** The top-level dirs the manifests of `versions` keep alive: each
    * version's data dir plus every dir its file, dv and ed refs point
    * into — the liveness rule [[prune]], [[dropBranch]] and [[vacuum]]
    * share. */
  private def liveDirs(fs: FileSystem, root: String,
      versions: Seq[Long]): Set[String] =
    versions.flatMap { n =>
      val m = manifestOf(fs, root, n)
      m.dir +: m.refs.map(_.takeWhile(_ != '/'))
    }.toSet

  private def listedVersions(fs: FileSystem, root: String): Seq[Long] =
    fs.listStatus(commitsDir(root)).toSeq.flatMap(_.getPath.getName.toLongOption)

  /** Remove versions (data + manifest) at or below `cutoff`, stale
    * staging dirs, losing/crashed optimistic attempt dirs whose target
    * version is superseded, and pre-versioning flat files. A dir below
    * the cutoff SURVIVES while any retained manifest still references
    * files inside it (delta commits carry files forward by reference);
    * once every referencing manifest is itself pruned, a later sweep
    * reclaims it. TAGGED versions are pinned: their manifest (and so
    * their files) survives any cutoff until the tag is dropped. */
  private def prune(fs: FileSystem, root: String, cutoff: Long): Unit = {
    val pinned = taggedVersions(fs, root).values.toSet
    val referenced = liveDirs(fs, root,
      listedVersions(fs, root).filter(n => n > cutoff || pinned(n)))
    fs.listStatus(new Path(root)).foreach { st =>
      val name = st.getPath.getName
      name match {
        case _ if referenced.contains(name) => ()
        case HiddenVer(n) if n.toLong <= cutoff => fs.delete(st.getPath, true)
        // an attempt dir below the cutoff is either a pruned winner or
        // a loser/crash leftover for a version someone else won —
        // never the live table, never an in-flight attempt (those
        // target versions > cutoff)
        case AttemptVer(n) if n.toLong <= cutoff => fs.delete(st.getPath, true)
        case _ if st.isFile => fs.delete(st.getPath, false)
        case _ => ()
      }
    }
    fs.listStatus(commitsDir(root)).foreach { st =>
      st.getPath.getName.toLongOption
        .filter(n => n <= cutoff && !pinned(n))
        .foreach(_ => fs.delete(st.getPath, false))
    }
  }

  /** Read a specific retained version (time travel within the
    * retention window). Rows hidden by the version's deletion vectors
    * (merge-on-read deletes — see [[deleteWhere]]) or equality
    * deletes (see [[deleteByKey]]) are filtered out; a version with
    * neither takes the plain-scan fast path. */
  def readVersion(spark: SparkSession, root: String, version: Long): DataFrame =
    readAt(spark, root, readable(spark, root, version))

  private def readAt(spark: SparkSession, root: String, m: Manifest): DataFrame =
    if (m.dvs.isEmpty && m.eqDeletes.isEmpty) {
      val base = rawRead(spark, root, m)
      m.logical.fold(base)(projectLogical(base, _))
    } else // scanWithRefs projects to the logical schema itself
      scanWithRefs(spark, root, m).drop(DvFileCol, DvPosCol)

  /** The physical scan of a version — deleted-but-not-purged rows
    * INCLUDED. The input of every DV-aware consumer. */
  private def rawRead(spark: SparkSession, root: String, m: Manifest): DataFrame =
    if (m.files.nonEmpty) reader(spark, m).parquet(m.files.map(f => s"$root/$f"): _*)
    else reader(spark, m).parquet(s"$root/${m.dir}")

  /** An evolved table's file set is schema-MIXED (files predating an
    * ADD/RENAME lack the new physical column), so its scans read under
    * the explicit physical union schema — footer-inferred schemas
    * would make the scan depend on WHICH file Spark sampled. */
  private def reader(spark: SparkSession, m: Manifest) =
    m.logical.fold(spark.read)(s => spark.read.schema(physicalReadSchema(s)))

  // ---- merge-on-read deletion vectors ------------------------------
  //
  // A DELETE that touches a sliver of rows across many files should
  // not pay a file rewrite per touched file: a MoR delete publishes a
  // deletion VECTOR — one tiny parquet of (file, pos) physical row
  // positions — plus the usual single manifest PUT. Readers anti-join
  // the scan against the vector on (`_metadata.file_path` suffix,
  // `_metadata.row_index`); the vector parquet is small, so the join
  // broadcasts and the scan stays vectorized. Data files are carried
  // by reference, byte-untouched, with their stats/blooms intact
  // (physical min/max remain valid conservative bounds over the
  // visible subset). Compaction / CoW rewrites purge vectors for the
  // files they rewrite; commits that carry a file forward carry its
  // vector line with it, so appends never resurrect deleted rows.

  private[graft] val DvFileCol = "_graft_dv_file"
  private[graft] val DvPosCol = "_graft_dv_pos"
  private val FileRefRe = "([^/]+/[^/]+)$"

  /** The deletion vectors a version's manifest carries:
    * root-relative data-file ref -> (dv-parquet ref, deleted rows). */
  def deleteVectors(spark: SparkSession, root: String,
      version: Long): Map[String, (String, Long)] =
    manifestOf(spark, root, version).dvs

  /** The (file, pos) rows of a version's vectors, or None when it has
    * none. Rows for files absent from a given scan simply never match
    * the anti-join, so one frame serves every partial scan. */
  private def dvRowsDf(spark: SparkSession, root: String,
      dv: Map[String, (String, Long)]): Option[DataFrame] =
    if (dv.isEmpty) None
    else {
      val refs = dv.values.map(_._1).toSeq.distinct.map(r => s"$root/$r")
      Some(spark.read.parquet(refs: _*)
        .select(col("file").as("_dv_file"), col("pos").as("_dv_pos")))
    }

  private def antiDv(scan: DataFrame, rows: DataFrame): DataFrame =
    scan.join(rows, scan(DvFileCol) === rows("_dv_file") &&
      scan(DvPosCol) === rows("_dv_pos"), "left_anti")

  // ---- merge-on-read equality deletes ------------------------------
  //
  // The positional vector above needs a table scan at COMMIT time (to
  // find the row positions); an equality delete moves that scan to
  // read/maintenance time: the commit just publishes the KEY VALUES —
  // the shape CDC ingestion needs, where a micro-batch of upserts
  // must land in O(batch) regardless of table size. Scoping is by
  // SEQUENCE: a file ref `_v-N/...` encodes the version dir it was
  // written in, and an equality delete with seq S applies only to
  // files with N <= S — so a key re-inserted AFTER the delete lands
  // in a younger dir and stays visible, with zero extra bookkeeping
  // (Iceberg's sequence-number rule, re-expressed on dir-encoded
  // refs). Readers apply a broadcast anti-join on the key columns
  // plus the seq guard. `resolveEqualityDeletes` converts EDs to a
  // positional vector in one scan (restoring metadata-exact counts);
  // rewrites read ED-applied, so a fully-rewritten table self-cleans
  // through commitDelta's scope filter.

  /** One equality-delete manifest line: `ref` is the root-relative
    * key-tuple parquet, `seq` the version whose files it applies to
    * (refs in dirs <= seq), `count` the number of distinct key tuples
    * published, NOT rows deleted — the commit never scans the data,
    * so the row count is unknowable. */
  final case class EqDelete(ref: String, seq: Long,
      keyCols: Seq[String], count: Long)

  /** The equality deletes a version's manifest carries. */
  def equalityDeletes(spark: SparkSession, root: String,
      version: Long): Seq[EqDelete] =
    manifestOf(spark, root, version).eqDeletes

  /** The version-dir sequence a root-relative file ref was written
    * at; refs outside a `_v-N` dir read as 0 (oldest — always in
    * scope). */
  private[graft] def refSeq(ref: String): Long = ref.takeWhile(_ != '/') match {
    case HiddenVer(n) => n.toLong
    case _ => 0L
  }

  /** Column twin of [[refSeq]] over a [[DvFileCol]]-style ref. */
  private def refSeqCol(ref: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = {
    val digits = regexp_extract(ref, "^_v-(\\d+)/", 1)
    when(digits === "", lit(0L)).otherwise(digits.cast("long"))
  }

  /** All of a version's published key tuples as `_ed_<col>` columns
    * plus `_ed_seq` — the broadcast side of the read-path anti-join. */
  private def edFrame(spark: SparkSession, root: String,
      eds: Seq[EqDelete]): DataFrame = {
    val keyCols = eds.head.keyCols
    eds.map(e => spark.read.parquet(s"$root/${e.ref}")
        .select(keyCols.map(c => col(c).as(s"_ed_$c")): _*)
        .withColumn("_ed_seq", lit(e.seq)))
      .reduce(_ unionByName _)
  }

  private def edCond(scan: DataFrame, edf: DataFrame,
      keyCols: Seq[String]): org.apache.spark.sql.Column =
    keyCols.map(c => scan(c) === edf(s"_ed_$c")).reduce(_ && _) &&
      refSeqCol(scan(DvFileCol)) <= edf("_ed_seq")

  /** Drop the rows a version's equality deletes hide. Null key
    * values never equal anything, so null-keyed data rows always
    * survive (and [[deleteByKey]] never publishes null tuples). */
  private def antiEd(scan: DataFrame, spark: SparkSession, root: String,
      eds: Seq[EqDelete]): DataFrame =
    if (eds.isEmpty) scan
    else {
      val edf = edFrame(spark, root, eds)
      scan.join(org.apache.spark.sql.functions.broadcast(edf),
        edCond(scan, edf, eds.head.keyCols), "left_anti")
    }

  /** The complement: the visible rows the equality deletes WILL hide
    * — what [[resolveEqualityDeletes]] turns into positions. */
  private def semiEd(scan: DataFrame, spark: SparkSession, root: String,
      eds: Seq[EqDelete]): DataFrame = {
    val edf = edFrame(spark, root, eds)
    scan.join(org.apache.spark.sql.functions.broadcast(edf),
      edCond(scan, edf, eds.head.keyCols), "left_semi")
  }

  /** The VISIBLE rows of a version, with the hidden position-key
    * columns [[DvFileCol]] (root-relative file ref) / [[DvPosCol]]
    * (physical row index) riding along — what MoR mutation and
    * file-granular CoW DML plan from. Filters/joins preserve the
    * hidden columns; a caller's projection must not drop them. */
  private[graft] def scanWithRefs(spark: SparkSession, root: String,
      version: Long): DataFrame =
    scanWithRefs(spark, root, readable(spark, root, version))

  private def scanWithRefs(spark: SparkSession, root: String,
      m: Manifest): DataFrame = {
    val scanned = antiEd(dvApplied(spark, root, m,
      withRefs(rawRead(spark, root, m))), spark, root, m.eqDeletes)
    // evolved tables: consumers filter/pick on LOGICAL names (a MoR
    // DELETE's predicate must see a renamed column's pre-rename
    // values), so project here — keeping the hidden DV key columns
    m.logical.fold(scanned)(
      projectLogical(scanned, _, extra = Seq(DvFileCol, DvPosCol)))
  }

  private[graft] def scanWithRefs(spark: SparkSession,
      root: String): DataFrame =
    scanWithRefs(spark, root, currentVersion(spark, root).getOrElse(
      throw new IllegalStateException(s"$root has no committed version")))

  /** `scan` keyed by [[DvFileCol]] / [[DvPosCol]]. */
  private def withRefs(scan: DataFrame): DataFrame = scan
    .withColumn(DvFileCol, regexp_extract(col("_metadata.file_path"), FileRefRe, 1))
    .withColumn(DvPosCol, col("_metadata.row_index"))

  /** A keyed scan minus the rows `m`'s deletion vectors hide. */
  private def dvApplied(spark: SparkSession, root: String, m: Manifest,
      keyed: DataFrame): DataFrame =
    dvRowsDf(spark, root, m.dvs).fold(keyed)(antiDv(keyed, _))

  /** Read a subset of a version's files with its deletion vectors
    * AND equality deletes applied — the partial-scan form every
    * pruned/boundary read uses (plain scan when the version carries
    * neither). */
  private[graft] def readFilesWithDv(spark: SparkSession, root: String,
      version: Long, absFiles: Seq[String]): DataFrame =
    readFilesWithDv(spark, root, manifestOf(spark, root, version), absFiles)

  private def readFilesWithDv(spark: SparkSession, root: String,
      m: Manifest, absFiles: Seq[String]): DataFrame = {
    val raw = reader(spark, m).parquet(absFiles: _*)
    val visible =
      if (m.dvs.isEmpty && m.eqDeletes.isEmpty) raw
      else antiEd(dvApplied(spark, root, m, withRefs(raw)), spark, root,
        m.eqDeletes).drop(DvFileCol, DvPosCol)
    m.logical.fold(visible)(projectLogical(visible, _))
  }

  /** Publish `df` as ONE parquet object `name` inside `dir` (staged
    * write, single-part coalesce, rename into place). */
  private def writeSingleObject(spark: SparkSession, df: DataFrame,
      dir: String, name: String): Unit = {
    val fs = fsOf(spark, dir)
    val tmp = new Path(dir, "_dv_stage")
    df.coalesce(1).write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    val part = fs.listStatus(tmp).map(_.getPath)
      .find(p => p.getName.startsWith("part-") && p.getName.endsWith(".parquet"))
      .getOrElse(throw new IllegalStateException(s"no part file under $tmp"))
    require(fs.rename(part, new Path(dir, name)),
      s"publish $part -> $dir/$name failed")
    fs.delete(tmp, true)
  }

  /** MERGE-ON-READ mutation core: hide the visible rows `pick`
    * selects behind a deletion vector and append `extra` as new data
    * files, in ONE commit — every current data file is carried by
    * reference (stats/blooms ride over byte-identical), the new
    * vector consolidates all prior vector rows plus the fresh
    * positions into a single object, and visibility is the usual one
    * manifest PUT. At 100 TB a delete touching 0.1% of rows in 10 000
    * files costs one position-sized parquet + one PUT, not 10 000
    * file rewrites. `pick` transforms the [[scanWithRefs]] frame and
    * must return a SUBSET of its rows with the hidden key columns
    * intact (filters and semi-joins qualify). Returns rows hidden. */
  def deleteAndAppend(spark: SparkSession, root: String,
      keepVersions: Int = 1, statsCols: Seq[String] = Nil,
      bloomCols: Seq[String] = Nil)(
      pick: DataFrame => DataFrame,
      extra: Option[DataFrame]): Long = {
    val m = currentManifest(spark, root)
    hideAndAppend(spark, root, m, keepVersions, statsCols,
      bloomCols, pick(scanWithRefs(spark, root, m)), extra, None)
  }

  /** Shared MoR commit tail: `picked` (a [[scanWithRefs]]-shaped
    * frame) hides behind the consolidated positional vector, `extra`
    * appends, `edOverride` optionally replaces the equality-delete
    * carry set ([[resolveEqualityDeletes]] passes Some(Nil) — its
    * vector subsumes them). */
  private def hideAndAppend(spark: SparkSession, root: String,
      m: Manifest, keepVersions: Int, statsCols: Seq[String],
      bloomCols: Seq[String], picked: DataFrame,
      extra: Option[DataFrame],
      edOverride: Option[Seq[EqDelete]]): Long = {
    val version = m.version
    val files = filesIn(fsOf(spark, root), root, m)
    val dv = m.dvs
    val newDel = picked
      .select(col(DvFileCol).as("file"), col(DvPosCol).as("pos"))
      .persist()
    try {
      val perFile = newDel.groupBy("file").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val hidden = perFile.values.sum
      if (hidden == 0L && extra.isEmpty && edOverride.isEmpty) return 0L
      val dvRef = s"_v-${version + 1}/dv-${version + 1}.parquet"
      val counts = files.flatMap { f =>
        val c = dv.get(f).map(_._2).getOrElse(0L) + perFile.getOrElse(f, 0L)
        if (c > 0) Some((f, dvRef, c)) else None
      }
      commitDelta(spark, root, files, keepVersions, statsCols,
          bloomCols, dv = counts, edOverride = edOverride) { stage =>
        extra.foreach(_.write.parquet(stage))
        if (counts.nonEmpty) {
          val all = dvRowsDf(spark, root, dv).fold(newDel)(prev =>
            prev.select(col("_dv_file").as("file"),
              col("_dv_pos").as("pos")).unionByName(newDel))
          writeSingleObject(spark, all, stage,
            s"dv-${version + 1}.parquet")
        }
      }
      hidden
    } finally { newDel.unpersist(false); () }
  }

  /** MERGE-ON-READ DELETE: rows where `cond` is TRUE disappear from
    * every read path (reads, pruned scans, point lookups, metadata
    * counts, CDC) without touching a single data file — the
    * metadata-priced twin of the file-granular CoW DELETE. Vectors
    * are purged back to plain files by compaction, any full rewrite,
    * or [[Maintenance.purgeDeletes]]. Returns rows deleted. */
  def deleteWhere(spark: SparkSession, root: String,
      cond: org.apache.spark.sql.Column, keepVersions: Int = 1,
      statsCols: Seq[String] = Nil, bloomCols: Seq[String] = Nil): Long =
    deleteAndAppend(spark, root, keepVersions, statsCols, bloomCols)(
      _.filter(cond), None)

  /** The equality-delete commit core: publish `keys`' distinct
    * non-null key tuples as an `ed-` sidecar scoped to the CURRENT
    * files, optionally append `extra` as new data files (which land
    * in the next version dir — ABOVE the scope, so an upsert's fresh
    * rows are never hidden by its own delete), stamp a streaming
    * batch marker. O(keys + extra) — the table is never scanned. */
  private def edCommit(spark: SparkSession, root: String,
      keys: DataFrame, keyCols: Seq[String], keepVersions: Int,
      statsCols: Seq[String], bloomCols: Seq[String],
      extra: Option[DataFrame], batchId: Option[Long]): Long = {
    require(keyCols.nonEmpty &&
      keyCols.forall(c => !c.contains(",") && !c.contains("\t")),
      s"bad equality-delete key columns: $keyCols")
    val version = currentVersion(spark, root).getOrElse(
      throw new IllegalStateException(s"$root has no committed version"))
    // streaming redelivery after a crash: the marker committed with
    // the state, so the same batch folds exactly once
    if (batchId.exists(id => lastFoldedBatch(spark, root).exists(_ >= id)))
      return 0L
    val m = readable(spark, root, version)
    val prevEds = m.eqDeletes
    prevEds.headOption.foreach(e => require(e.keyCols == keyCols,
      s"equality-delete key mismatch: table uses ${e.keyCols.mkString(",")}" +
        s", got ${keyCols.mkString(",")}"))
    // appended files must carry the table's exact column set: the
    // version scan unions files by name, so a drifted CDC batch would
    // corrupt reads silently (use Maintenance.alignAppend shapes for
    // schema evolution, then upsert)
    extra.foreach { e =>
      val tbl = readAt(spark, root, m).columns.map(_.toLowerCase).toSet
      val got = e.columns.map(_.toLowerCase).toSet
      require(got == tbl,
        s"upsert batch schema drift: batch has ${got.toSeq.sorted
          .mkString(",")}, table has ${tbl.toSeq.sorted.mkString(",")}")
    }
    val clean = keys.select(keyCols.map(col): _*).na.drop("any").distinct()
    val n = clean.count()
    if (n == 0 && extra.isEmpty) return 0L
    val files = filesIn(fsOf(spark, root), root, m)
    val edRef = s"_v-${version + 1}/ed-${version + 1}.parquet"
    val newEd =
      if (n > 0) Seq(EqDelete(edRef, version, keyCols, n)) else Nil
    commitDelta(spark, root, files, keepVersions, statsCols, bloomCols,
        edOverride = Some(prevEds ++ newEd)) { stage =>
      extra.foreach(_.write.parquet(stage))
      if (n > 0)
        writeSingleObject(spark, clean, stage, s"ed-${version + 1}.parquet")
      batchId.foreach { id =>
        fsOf(spark, root).create(new Path(stage, s"_batch-$id"), true).close()
      }
    }
    n
  }

  /** EQUALITY DELETE: rows whose key tuple appears in `keys` (and
    * that were committed at or before the current version) disappear
    * from every read path — WITHOUT scanning the table: the commit
    * publishes only the key tuples themselves, O(keys) however big
    * the table is. The price moves to reads (a broadcast anti-join
    * per scan) and to metadata counts (ED-scoped files fall back to
    * boundary scans) until [[resolveEqualityDeletes]] converts the
    * keys to a positional vector, or a rewrite materializes them.
    * Null key tuples are dropped (null never equals anything). All
    * equality deletes on a table must share one key-column set.
    * Returns the number of distinct key tuples published. */
  def deleteByKey(spark: SparkSession, root: String, keys: DataFrame,
      keyCols: Seq[String], keepVersions: Int = 1,
      statsCols: Seq[String] = Nil, bloomCols: Seq[String] = Nil): Long =
    edCommit(spark, root, keys, keyCols, keepVersions, statsCols,
      bloomCols, None, None)

  /** MERGE-ON-READ UPSERT: one commit that equality-deletes `batch`'s
    * keys (hiding any older image) and appends `batch` as fresh data
    * files (in the next version dir — above the delete's scope, so
    * the new images stay visible). O(batch) commit cost regardless of
    * table size: THE landing shape for CDC ingestion at 100 TB, where
    * a positional MERGE would scan the table per micro-batch. The
    * batch must be null-key-free and unique per key (the latest image
    * per key — refused otherwise, like [[Maintenance.upsert]]).
    * `batchId` makes a streaming redelivery fold exactly once. */
  def upsertByKey(spark: SparkSession, root: String, batch: DataFrame,
      keyCols: Seq[String], keepVersions: Int = 1,
      statsCols: Seq[String] = Nil, bloomCols: Seq[String] = Nil,
      batchId: Option[Long] = None): Long = {
    val total = batch.count()
    if (total == 0) return 0L
    val distinctKeys = batch.select(keyCols.map(col): _*)
      .na.drop("any").distinct().count()
    require(distinctKeys == total,
      s"upsertByKey batch must be unique and non-null per key " +
        s"(${keyCols.mkString(",")}): $total rows, $distinctKeys distinct keys")
    edCommit(spark, root, batch, keyCols, keepVersions, statsCols,
      bloomCols, Some(batch), batchId)
  }

  /** Convert every equality delete into the positional vector in ONE
    * scan: the matched visible rows' (file, pos) merge into the
    * consolidated `dv-` sidecar and the `ed` lines drop — reads stop
    * paying the key-join, metadata counts are exact again, and
    * [[Maintenance.purgeDeletes]] can then rewrite just the vectored
    * files. The background half of the equality-delete bargain.
    * Returns rows converted (0 = no EDs, no commit). */
  def resolveEqualityDeletes(spark: SparkSession, root: String,
      keepVersions: Int = 1, statsCols: Seq[String] = Nil,
      bloomCols: Seq[String] = Nil): Long = {
    val version = currentVersion(spark, root).getOrElse(return 0L)
    val m = readable(spark, root, version)
    if (m.eqDeletes.isEmpty) return 0L
    val visible = dvApplied(spark, root, m, withRefs(rawRead(spark, root, m)))
    hideAndAppend(spark, root, m, keepVersions, statsCols,
      bloomCols, semiEd(visible, spark, root, m.eqDeletes), None, Some(Nil))
  }

  // ---- named tags (snapshot pins) -----------------------------------

  private def tagsDir(root: String) = new Path(s"$root/_tags")

  /** All tags fs-level: name → pinned version. Non-numeric tag files
    * (a crashed partial write) are ignored — a tag PUT is one small
    * object, so in practice the file either exists complete or not. */
  private def taggedVersions(fs: FileSystem, root: String): Map[String, Long] = {
    val td = tagsDir(root)
    if (!fs.exists(td)) return Map.empty
    fs.listStatus(td).toSeq.filter(_.isFile).flatMap { st =>
      graft.util.AtomicPut.readUtf8(fs, st.getPath).trim.toLongOption
        .map(st.getPath.getName -> _)
    }.toMap
  }

  /** Pin `version` (default: current) under a NAME that survives the
    * retention window: [[prune]] never removes a tagged version's
    * manifest, and the manifest keeps every file it references alive
    * (the liveness rule reads and [[vacuum]] already follow) — so a
    * tag is a durable named snapshot at zero copy cost, the
    * Iceberg-tag shape. One small-object PUT, create-if-absent unless
    * `replace` (same arbitration primitive as the commit manifest).
    * Returns the pinned version. */
  def tag(spark: SparkSession, root: String, name: String,
      version: Option[Long] = None, replace: Boolean = false): Long = {
    require(name.nonEmpty && !name.contains('/') && !name.startsWith(".") &&
      name != "_SUCCESS", s"bad tag name: '$name'")
    val fs = fsOf(spark, root)
    val v = version.orElse(currentVersion(spark, root)).getOrElse(
      throw new IllegalStateException(s"$root has no committed version"))
    require(fs.exists(new Path(commitsDir(root), v.toString)),
      s"version $v of $root is not retained — nothing to pin")
    fs.mkdirs(tagsDir(root))
    if (replace) {
      // replace is a deliberate single-writer move, not an arbitration
      val out = fs.create(new Path(tagsDir(root), name), true)
      try out.write(v.toString.getBytes("UTF-8")) finally out.close()
    } else {
      try graft.util.AtomicPut.putIfAbsent(
        fs, new Path(tagsDir(root), name), v.toString)
      catch {
        case e: java.io.IOException => throw new IllegalStateException(
          s"tag '$name' already exists on $root (pass replace=true to move it)", e)
      }
    }
    v
  }

  /** The version a tag pins, if the tag exists. */
  def tagVersion(spark: SparkSession, root: String, name: String): Option[Long] =
    taggedVersions(fsOf(spark, root), root).get(name)

  /** All tags: name → pinned version. */
  def tags(spark: SparkSession, root: String): Map[String, Long] =
    taggedVersions(fsOf(spark, root), root)

  /** Time travel by name. */
  def readTag(spark: SparkSession, root: String, name: String): DataFrame =
    tagVersion(spark, root, name) match {
      case Some(v) => readVersion(spark, root, v)
      case None => throw new IllegalStateException(
        s"no tag '$name' on $root")
    }

  /** Remove a tag. The version it pinned stays retained until the
    * NEXT commit's prune sweep (or [[vacuum]]) reclaims it — dropping
    * a pin never deletes bytes by itself. Returns whether it existed. */
  def dropTag(spark: SparkSession, root: String, name: String): Boolean =
    fsOf(spark, root).delete(new Path(tagsDir(root), name), false)

  /** ROLLBACK as a forward commit: the new current version references
    * exactly `toVersion`'s file set — history is never rewritten (the
    * bad versions stay readable within retention for forensics), no
    * data bytes are copied (the files are re-referenced, file-list
    * style), and the skipping stats/blooms ride over from
    * `toVersion`'s manifest. The commit point is the usual single
    * manifest PUT. `toVersion` must still be retained — pin releases
    * with [[tag]] if rollback targets must outlive the window. */
  def rollback(spark: SparkSession, root: String, toVersion: Long,
      keepVersions: Int = 1): Long = {
    val fs = fsOf(spark, root)
    require(fs.exists(new Path(commitsDir(root), toVersion.toString)),
      s"version $toVersion of $root is not retained — cannot roll back to it")
    commitDelta(spark, root, filesAt(spark, root, toVersion),
      keepVersions, statsFrom = Some(toVersion))(_ => ())
  }

  /** Roll back to the version a tag pins. */
  def rollbackTo(spark: SparkSession, root: String, name: String,
      keepVersions: Int = 1): Long =
    rollback(spark, root, tagVersion(spark, root, name).getOrElse(
      throw new IllegalStateException(s"no tag '$name' on $root")),
      keepVersions)

  // ---- named branches: write–audit–publish on an isolated ref ------
  //
  // The TRUE WAP form ([[commitAudited]] is the branchless shortcut):
  // a branch snapshots main's current file set zero-copy into its own
  // ref, takes APPENDS in isolation (staged under branch-scoped
  // `_v-b-<name>-<k>` dirs that main's readers never resolve), is
  // audited by reading the REF (main stays live and untouched the
  // whole time), and publishes as ONE file-list commit on main — the
  // usual single-manifest PUT, so the audited data flips visible
  // atomically. The branch's BASE manifest is pinned with an internal
  // tag, so retention sweeps on main can't prune the schema /
  // constraints / stats the branch resolves against, however long the
  // audit takes. Single-writer per branch (manifest create-if-absent,
  // like [[commit]]); appends enforce the base version's CHECK
  // constraints batch-locally, so publish stays O(1) by the same
  // induction as [[commitDelta]].
  //
  // Scope: branches take APPENDS (the WAP shape — stage a load, audit
  // it, publish). Branching a version carrying merge-on-read deletes
  // refuses (purge/compact first); branch-side DML is not offered —
  // audit failures DROP the branch, they don't edit it.

  private def branchesDir(root: String) = new Path(s"$root/_branches")
  private def branchPin(name: String) = s"_branch_$name"
  private val BranchName = "^[A-Za-z0-9_]+$".r
  private val BaseLine = "^base\t(\\d+)$".r

  /** (base version, head seq, root-relative files) of a branch. Its
    * manifest is a main manifest body whose header line is
    * `base\t<base version>`; the codec reads its `f` lines. */
  private def branchState(fs: FileSystem, root: String,
      name: String): Option[(Long, Long, Seq[String])] = {
    val bd = new Path(branchesDir(root), name)
    if (!fs.exists(bd)) return None
    fs.listStatus(bd).toSeq.flatMap(_.getPath.getName.toLongOption)
      .maxOption.map { h =>
        val body = graft.util.AtomicPut.readUtf8(fs, new Path(bd, h.toString))
        val base = body.linesIterator.collectFirst { case BaseLine(b) => b.toLong }
          .getOrElse(throw new IllegalStateException(
            s"branch '$name' manifest $h on $root lacks a base line"))
        (base, h, Manifest.parse(body).files)
      }
  }

  private def writeBranchManifest(fs: FileSystem, root: String,
      name: String, seq: Long, base: Long, files: Seq[String]): Unit = {
    val bd = new Path(branchesDir(root), name)
    fs.mkdirs(bd)
    val body = Manifest.render(Manifest(seq, files = files))
    try graft.util.AtomicPut.putIfAbsent(fs, new Path(bd, seq.toString),
      s"base\t$base" + body.dropWhile(_ != '\n'))
    catch {
      case e: java.io.IOException => throw new CommitConflictException(
        s"branch '$name' seq $seq on $root already exists — " +
          "a concurrent branch writer won", e)
    }
  }

  /** Create branch `name` from main's current version: a zero-copy
    * ref to its exact file set, plus an internal pin tag holding the
    * base manifest (schema, constraints, stats) against retention
    * sweeps for the branch's whole life. Returns the base version. */
  def createBranch(spark: SparkSession, root: String,
      name: String): Long = {
    require(BranchName.findFirstIn(name).isDefined,
      s"bad branch name '$name' — use [A-Za-z0-9_]+")
    val fs = fsOf(spark, root)
    val base = currentVersion(spark, root).getOrElse(
      throw new IllegalStateException(s"$root has no committed version"))
    require(!fs.exists(new Path(branchesDir(root), name)),
      s"branch '$name' already exists on $root")
    val m = manifestOf(fs, root, base)
    require(m.dvs.isEmpty && m.eqDeletes.isEmpty,
      s"version $base of $root carries merge-on-read deletes — " +
        "purgeDeletes/compact before branching")
    tag(spark, root, branchPin(name), Some(base))
    writeBranchManifest(fs, root, name, 1L, base, filesIn(fs, root, m))
    base
  }

  /** All branches: name → (base version, head seq). */
  def branches(spark: SparkSession, root: String): Map[String, (Long, Long)] = {
    val fs = fsOf(spark, root)
    val bd = branchesDir(root)
    if (!fs.exists(bd)) Map.empty
    else fs.listStatus(bd).toSeq.filter(_.isDirectory).flatMap { d =>
      branchState(fs, root, d.getPath.getName)
        .map(s => d.getPath.getName -> (s._1, s._2))
    }.toMap
  }

  /** A branch head's root-relative file refs (the branch analog of
    * [[currentFiles]] — loaders probe it for already-staged
    * deterministic names on crash replay). */
  def branchFiles(spark: SparkSession, root: String,
      name: String): Seq[String] =
    branchState(fsOf(spark, root), root, name).map(_._3).getOrElse(
      throw new IllegalStateException(s"no branch '$name' on $root"))

  /** Read a branch head — the AUDIT surface: main's logical schema at
    * the (pinned) base version projects over the branch's file set,
    * exactly as a main read would after publish. */
  def readBranch(spark: SparkSession, root: String,
      name: String): DataFrame = {
    val (base, _, files) = branchState(fsOf(spark, root), root, name)
      .getOrElse(throw new IllegalStateException(s"no branch '$name' on $root"))
    // the base carries no merge-on-read deletes (createBranch refuses
    // them), so this is the base's logical projection over `files`
    readFilesWithDv(spark, root, manifestOf(spark, root, base),
      files.map(f => s"$root/$f"))
  }

  /** Append a batch to a branch: data stages under the branch-scoped
    * `_v-b-<name>-<seq>` dir (invisible to main), the base version's
    * CHECK constraints enforce on the batch (violations refuse and
    * delete the stage — same contract as [[commitDelta]]), and the
    * branch ref advances by one manifest create-if-absent. Returns
    * the new branch seq. */
  def appendToBranch(spark: SparkSession, root: String, name: String,
      df: DataFrame): Long =
    appendToBranchWith(spark, root, name)(stage =>
      df.write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(stage))

  /** [[appendToBranch]] with caller-controlled file layout: `writer`
    * receives the stage dir and must complete a parquet write there
    * (it may rename parts to deterministic names — the
    * crash-idempotence lever `IncrementalLoader` uses). */
  def appendToBranchWith(spark: SparkSession, root: String,
      name: String)(writer: String => Unit): Long = {
    val fs = fsOf(spark, root)
    val (base, head, files) = branchState(fs, root, name).getOrElse(
      throw new IllegalStateException(s"no branch '$name' on $root"))
    val next = head + 1L
    // the dir name carries a UNIQUE suffix beyond the seq: a later
    // branch GENERATION (drop/publish + re-create) restarts seqs at 1,
    // and a bare `_v-b-<name>-<seq>` would collide with — and delete —
    // a published prior generation's live data dir
    val stage = new Path(s"$root/_v-b-$name-$next-" +
      java.util.UUID.randomUUID().toString.take(8))
    fs.delete(stage, true)
    writer(stage.toString)
    val newNames = fs.listStatus(stage).toSeq
      .filter(st => st.isFile && isDataFile(st.getPath.getName))
      .map(_.getPath.getName).sorted
    require(newNames.nonEmpty, "empty branch append")
    val m = manifestOf(fs, root, base)
    if (m.constraints.nonEmpty) enforceConstraints(fs, stage,
      withLogicalNulls(spark, root, m,
        spark.read.parquet(newNames.map(n => s"$stage/$n"): _*)), m.constraints)
    writeBranchManifest(fs, root, name, next, base,
      files ++ newNames.map(n => s"${stage.getName}/$n"))
    next
  }

  /** PUBLISH a branch onto main: one file-list commit referencing the
    * branch head's exact file set (base files by reference, branch
    * appends in place — zero copy, stats of the base files carried
    * from the base manifest), refusing when main advanced past the
    * branch base (the branch would silently drop those commits; pass
    * `force = true` for replace semantics). The branch ref and its
    * pin are consumed; the published `_v-b-*` dirs survive because
    * main's manifest now references them. Returns main's new version. */
  def publishBranch(spark: SparkSession, root: String, name: String,
      keepVersions: Int = 1, force: Boolean = false): Long = {
    val fs = fsOf(spark, root)
    val (base, _, files) = branchState(fs, root, name).getOrElse(
      throw new IllegalStateException(s"no branch '$name' on $root"))
    val cur = currentVersion(spark, root).getOrElse(base)
    require(force || cur == base,
      s"main advanced past branch '$name' base ($base -> $cur) — " +
        "its commits would vanish from the published snapshot; " +
        "re-create the branch from current, or pass force=true " +
        "for replace semantics")
    val v = commitDelta(spark, root, files, keepVersions,
      statsFrom = Some(base))(_ => ())
    fs.delete(new Path(branchesDir(root), name), true)
    dropTag(spark, root, branchPin(name))
    v
  }

  /** Drop a branch: delete its ref, release its base pin, and delete
    * its staged `_v-b-<name>-*` dirs unless a retained MAIN manifest
    * references them (a published branch's dirs are live data).
    * Returns whether the branch existed. */
  def dropBranch(spark: SparkSession, root: String,
      name: String): Boolean = {
    require(BranchName.findFirstIn(name).isDefined,
      s"bad branch name '$name' — use [A-Za-z0-9_]+")
    val fs = fsOf(spark, root)
    val bd = new Path(branchesDir(root), name)
    if (!fs.exists(bd)) return false
    fs.delete(bd, true)
    dropTag(spark, root, branchPin(name))
    val referenced = liveDirs(fs, root, listedVersions(fs, root))
    fs.listStatus(new Path(root)).toSeq.foreach { st =>
      val nm = st.getPath.getName
      if (nm.startsWith(s"_v-b-$name-") && !referenced.contains(nm))
        fs.delete(st.getPath, true)
    }
    true
  }

  /** The retained version log as a DataFrame — (version, committed_at
    * = manifest mtime, n_files, delta = file-list commit, data_dir,
    * tags). Metadata-only: one `_commits` listing + one listing per
    * whole-dir version; file-list versions count their f-lines. A
    * never-committed (flat) table has no log → empty. SQL surface:
    * `graft_history('root')`. */
  def history(spark: SparkSession, root: String): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("version", LongType, nullable = false),
      StructField("committed_at", TimestampType),
      StructField("n_files", LongType, nullable = false),
      StructField("delta", BooleanType, nullable = false),
      StructField("data_dir", StringType),
      StructField("tags", ArrayType(StringType), nullable = false)))
    val fs = fsOf(spark, root)
    val cd = commitsDir(root)
    if (!fs.exists(cd))
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], schema)
    val byVersion = taggedVersions(fs, root).toSeq.groupBy(_._2)
      .map { case (v, ts) => v -> ts.map(_._1).sorted }
    val rows = fs.listStatus(cd).toSeq
      .flatMap(st => st.getPath.getName.toLongOption
        .map(n => (n, st.getModificationTime)))
      .sortBy(_._1)
      .map { case (n, mtime) =>
        val m = manifestOf(fs, root, n)
        val dir = new Path(s"$root/${m.dir}")
        val nFiles =
          if (m.files.isEmpty && !fs.exists(dir)) 0L
          else filesIn(fs, root, m).size.toLong
        Row(n, new java.sql.Timestamp(mtime), nFiles, m.files.nonEmpty,
          m.dir, byVersion.getOrElse(n, Seq.empty))
      }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), schema)
  }

  // ---- data-skipping stats (Iceberg-style manifest payload) --------

  /** Per-file stats carried in a commit manifest. `min`/`max` are the
    * stringified column values (None = the file is all-NULL for that
    * column → never pruned); `nulls` is the per-column null count. */
  final case class FileStat(file: String, rows: Long,
      min: Map[String, Option[String]], max: Map[String, Option[String]],
      nulls: Map[String, Long])

  /** Key a scanned file: delta commits (`relKeys`) use the
    * root-relative `<verdir>/<name>` form so references across
    * version dirs stay unambiguous; whole-dir commits keep the bare
    * name. */
  private def fileKey(abs: String, relKeys: Boolean): String = {
    val p = new Path(abs)
    if (relKeys) s"${p.getParent.getName}/${p.getName}" else p.getName
  }

  /** One distributed aggregate over `sources`: per-file row count plus
    * min/max/null count of `cols`. Only the file-count-sized stat
    * table reaches the driver. */
  private def collectFileStats(spark: SparkSession, sources: Seq[String],
      cols: Seq[String], relKeys: Boolean): Seq[FileStat] = {
    import org.apache.spark.sql.functions.{count, input_file_name, max, min, lit}
    if (cols.isEmpty || sources.isEmpty) return Nil
    val aggs = cols.flatMap(c =>
      Seq(min(col(c)).cast("string").as(s"min_$c"),
        max(col(c)).cast("string").as(s"max_$c"),
        count(col(c)).as(s"nn_$c"))) :+
      count(lit(1)).as("_rows")
    val rows = spark.read.parquet(sources: _*)
      .withColumn("_file", input_file_name())
      .groupBy("_file").agg(aggs.head, aggs.tail: _*)
      .collect()
    rows.toSeq.map { r =>
      val n = r.getAs[Long]("_rows")
      FileStat(fileKey(r.getAs[String]("_file"), relKeys), n,
        cols.map(c => c -> Option(r.getAs[String](s"min_$c"))).toMap,
        cols.map(c => c -> Option(r.getAs[String](s"max_$c"))).toMap,
        cols.map(c => c -> (n - r.getAs[Long](s"nn_$c"))).toMap)
    }
  }

  /** Per-file, per-column bloom filters for POINT-lookup pruning —
    * the index min/max ranges cannot provide when values scatter
    * across files (high-cardinality ids, hashes): a range overlaps
    * almost every file, a bloom rules most of them out. One
    * distributed aggregate per bloomed column: k bit positions per
    * non-null value via the builtin `xxhash64(value, j)` (j = hash
    * index), `collect_set` of the ≤`bits` positions per file, driver
    * packs them into a BitSet. Size: bits/8 bytes per (file, col) —
    * KBs per thousand files. */
  private def collectFileBlooms(spark: SparkSession, sources: Seq[String],
      cols: Seq[String], bits: Int, k: Int, relKeys: Boolean)
      : Map[(String, String), (Int, Int, java.util.BitSet)] = {
    import org.apache.spark.sql.functions.{explode, input_file_name, lit,
      pmod, sequence, xxhash64, collect_set}
    if (cols.isEmpty || sources.isEmpty) return Map.empty
    require(bits > 0 && bits % 8 == 0, s"bloomBits=$bits must be byte-sized")
    require(k >= 1 && k <= 16, s"bloomHashes=$k out of range")
    val df = spark.read.parquet(sources: _*)
      .withColumn("_file", input_file_name())
    cols.flatMap { c =>
      df.filter(col(c).isNotNull)
        .select(col("_file"), col(c).as("_v"),
          explode(sequence(lit(0), lit(k - 1))).as("_j"))
        .select(col("_file"),
          pmod(xxhash64(col("_v"), col("_j")), lit(bits.toLong))
            .cast("int").as("_bit"))
        .groupBy("_file").agg(collect_set(col("_bit")).as("_bits"))
        .collect()
        .map { r =>
          val bs = new java.util.BitSet(bits)
          r.getSeq[Int](1).foreach(bs.set)
          (fileKey(r.getString(0), relKeys), c) -> (bits, k, bs)
        }
    }.toMap
  }

  /** The blooms a version's manifest carries:
    * (file, col) → (bits, k, bitset). */
  def manifestBlooms(spark: SparkSession, root: String, version: Long)
      : Map[(String, String), (Int, Int, java.util.BitSet)] =
    manifestOf(spark, root, version).blooms

  /** The driver-side twin of the write-side `xxhash64(value, j)` bit:
    * the SAME builtin hash evaluated on a literal cast to the
    * column's type, so membership checks see exactly the bits the
    * manifest recorded. */
  private def bloomBit(value: Any, dt: org.apache.spark.sql.types.DataType,
      j: Int, bits: Int): Int = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, Literal, XxHash64}
    val internal = Cast(Literal(value), dt, Some("UTC")).eval(null)
    val h = XxHash64(Seq(Literal(internal, dt), Literal(j)), 42L)
      .eval(null).asInstanceOf[Long]
    java.lang.Math.floorMod(h, bits.toLong).toInt
  }

  /** A planner's inputs, from ONE fetch of the current manifest (which
    * must carry stats): the manifest; its file universe — the file
    * list when present (delta commits), else the files its stats name
    * — each with its stats (None = stat-less, planned conservatively);
    * and the table schema. */
  private def planInputs(spark: SparkSession, root: String)
      : (Manifest, Seq[(String, Option[FileStat])], StructType) = {
    val m = currentManifest(spark, root)
    require(m.stats.nonEmpty,
      s"version ${m.version} of $root carries no file stats")
    val byFile = m.stats.map(s => s.file -> s).toMap
    val universe = if (m.files.nonEmpty) m.files else m.stats.map(_.file)
    (m, universe.map(f => f -> byFile.get(f)), readAt(spark, root, m).schema)
  }

  /** False only when `f`'s bloom for `c` rules `value` out; a file
    * without one is kept (sound, never silently wrong). */
  private def bloomMayContain(m: Manifest, f: String, c: String,
      value: Any, dt: DataType): Boolean =
    m.blooms.get((f, c)).forall { case (bits, k, bs) =>
      (0 until k).forall(j => bs.get(bloomBit(value, dt, j, bits)))
    }

  /** Point-lookup file pruning: keep only files whose bloom MAY
    * contain `value` (files without a bloom for `colName` are kept
    * conservatively — so the result is always sound, never silently
    * wrong). Where min/max ranges overlap everywhere, this is the
    * planner a needle-in-100-TB id lookup needs. */
  def prunedFilesEq(spark: SparkSession, root: String, colName: String,
      value: Any): Seq[String] =
    prunedEq(spark, root, colName, value)._2

  private def prunedEq(spark: SparkSession, root: String, colName: String,
      value: Any): (Manifest, Seq[String]) = {
    val (m, universe, schema) = planInputs(spark, root)
    val dt = schema(colName).dataType
    (m, universe.map(_._1).filter(bloomMayContain(m, _, colName, value, dt))
      .map(f => s"$root/${m.rel(f)}"))
  }

  /** [[prunedFilesEq]] + read + the exact equality filter: the
    * manifest-planned point lookup. */
  def readPointLookup(spark: SparkSession, root: String, colName: String,
      value: Any): DataFrame = {
    val (m, files) = prunedEq(spark, root, colName, value)
    val base =
      if (files.isEmpty) readAt(spark, root, m).limit(0)
      else readFilesWithDv(spark, root, m, files)
    val dt = base.schema(colName).dataType
    base.filter(col(colName) === lit(value).cast(dt))
  }

  /** The file stats a version's manifest carries (empty for manifests
    * committed without `statsCols`). */
  def manifestStats(spark: SparkSession, root: String,
      version: Long): Seq[FileStat] =
    manifestOf(spark, root, version).stats

  /** Metadata-first range COUNT: `count(*)` for `lower <= col <=
    * upper` where files FULLY CONTAINED in the bound (min ≥ lower,
    * max ≤ upper, null count known) are answered from the manifest
    * alone — `rows − nulls`, zero IO — and only files STRADDLING a
    * boundary are scanned with the exact predicate. On a
    * range-clustered layout that is ≤2 boundary files regardless of
    * table size: the aggregate-pushdown-to-metadata shape table
    * formats serve. Returns (count, filesScanned). */
  def countWhere(spark: SparkSession, root: String, colName: String,
      lower: Any, upper: Any): (Long, Int) =
    countWhereAll(spark, root, Seq((colName, lower, upper)))

  /** Conjunction form of [[countWhere]]: `count(*)` for an N-D box
    * (every `lower <= col <= upper` bound at once) — the consumer
    * shape for z-ordered layouts, where both interleaved columns
    * carry tight per-file extents. A file answers from metadata alone
    * when it is fully contained in EVERY bound and at most ONE of the
    * bounded columns has nulls in it (per-column null counts compose
    * exactly only then: count = rows − that column's nulls; with two
    * null-bearing columns the overlap is unknowable from per-column
    * stats, so the file conservatively joins the boundary scan).
    * Stat-less files are never metadata-answered: all-null stats →
    * overlap, never contained. Returns (count, filesScanned). */
  def countWhereAll(spark: SparkSession, root: String,
      bounds: Seq[(String, Any, Any)]): (Long, Int) = {
    require(bounds.nonEmpty, "at least one (col, lower, upper) bound")
    val (m, universe, schema) = planInputs(spark, root)
    import spark.implicits._
    val cols = bounds.map(_._1)
    // deletion vectors: stats describe the PHYSICAL file, so a
    // fully-contained dv'd file answers rows − deleted only when every
    // bounded column is null-free in it (per-file stats can't say how
    // deleted and null rows overlap); the ≤1-null composition rule
    // below collapses to exactly that. Otherwise it joins the boundary
    // scan, which is DV-applied.
    def dvCount(f: String): Long = m.dvs.get(m.rel(f)).map(_._2).getOrElse(0L)
    // equality deletes hide an UNKNOWN number of rows per scoped file
    // (the commit never counted them), so any file in ED scope must
    // take the boundary scan — which is ED-applied, keeping the total
    // exact at the price the ED commit deferred.
    def edScoped(f: String): Boolean =
      m.eqDeletes.exists(e => refSeq(m.rel(f)) <= e.seq)
    val st = universe.map { case (f, s) =>
      (f, s.map(_.rows),
        cols.map(c => s.flatMap(_.min.getOrElse(c, None))),
        cols.map(c => s.flatMap(_.max.getOrElse(c, None))),
        cols.map(c => s.flatMap(_.nulls.get(c))), dvCount(f), edScoped(f))
    }.toDF("file", "rows", "mns", "mxs", "nulls", "deleted", "ed")
    val dims = bounds.zipWithIndex.map { case ((c, lo, hi), i) =>
      val dt = schema(c).dataType
      val mn = col("mns").getItem(i); val mx = col("mxs").getItem(i)
      val overlap = mn.isNull || mx.isNull ||
        (mx.cast(dt) >= lit(lo) && mn.cast(dt) <= lit(hi))
      val contained = mn.isNotNull && mx.isNotNull &&
        col("nulls").getItem(i).isNotNull &&
        mn.cast(dt) >= lit(lo) && mx.cast(dt) <= lit(hi)
      (overlap, contained)
    }
    val parts = st.filter(dims.map(_._1).reduce(_ && _))
      .select(col("file"), col("rows"), col("nulls"), col("deleted"),
        (col("rows").isNotNull && !col("ed") &&
          dims.map(_._2).reduce(_ && _)).as("full"))
      .collect()
    val (meta, boundary) = parts.partition { r =>
      r.getAs[Boolean]("full") &&
        r.getAs[Seq[Long]]("nulls").count(_ > 0L) <=
          (if (r.getAs[Long]("deleted") > 0L) 0 else 1)
    }
    val metaCount = meta
      .map(r => r.getAs[Long]("rows") - r.getAs[Seq[Long]]("nulls").sum -
        r.getAs[Long]("deleted")).sum
    val files = boundary.map(r => s"$root/${m.rel(r.getAs[String]("file"))}")
    val scanned =
      if (files.isEmpty) 0L
      else readFilesWithDv(spark, root, m, files.toSeq)
        .filter(bounds.map { case (c, lo, hi) =>
          val dt = schema(c).dataType
          col(c).cast(dt) >= lit(lo) && col(c).cast(dt) <= lit(hi)
        }.reduce(_ && _))
        .count()
    (metaCount + scanned, files.length)
  }

  /** Data-skipping scan: plan the file list for `lower <= col <=
    * upper` FROM THE MANIFEST ALONE — no directory listing, no parquet
    * footer reads (the cold-start cost of a 100 TB scan). A file is
    * kept iff its [min, max] range can intersect the bound (all-NULL
    * or stat-less files are kept conservatively); the comparison runs
    * through Spark casts in the table's own column type, so numeric,
    * date and string bounds all compare correctly. Pair with the
    * range-clustered / z-ordered writers so ranges are tight. The
    * caller still applies the exact row-level filter. */
  def prunedFiles(spark: SparkSession, root: String, colName: String,
      lower: Any, upper: Any): Seq[String] =
    prunedFilesWhere(spark, root, Seq((colName, lower, upper)))

  /** Conjunction form: keep files whose ranges can intersect EVERY
    * `(col, lower, upper)` bound — the consumer shape for z-ordered
    * layouts, where a 2-D box prunes on both interleaved columns.
    * POINT-width bounds (lower == upper) additionally consult the
    * manifest blooms when the column carries them, so an equality
    * inside a box prunes like [[prunedFilesEq]] — range and bloom
    * skipping compose in one planner. */
  def prunedFilesWhere(spark: SparkSession, root: String,
      bounds: Seq[(String, Any, Any)]): Seq[String] =
    prunedWhere(spark, root, bounds)._2

  private def prunedWhere(spark: SparkSession, root: String,
      bounds: Seq[(String, Any, Any)]): (Manifest, Seq[String]) = {
    require(bounds.nonEmpty, "at least one (col, lower, upper) bound")
    val (m, universe, schema) = planInputs(spark, root)
    import spark.implicits._
    val cols = bounds.map(_._1)
    val st = universe.map { case (f, s) =>
      (f, cols.map(c => s.flatMap(_.min.getOrElse(c, None))),
        cols.map(c => s.flatMap(_.max.getOrElse(c, None))))
    }.toDF("file", "mns", "mxs")
    val keep = bounds.zipWithIndex.map { case ((c, lo, hi), i) =>
      val dt = schema(c).dataType
      val mn = col("mns").getItem(i)
      val mx = col("mxs").getItem(i)
      mn.isNull || mx.isNull ||
        (mx.cast(dt) >= lit(lo) && mn.cast(dt) <= lit(hi))
    }.reduce(_ && _)
    val ranged = st.filter(keep)
      .select("file").collect().map(_.getString(0)).toSeq
    val points = bounds.filter { case (_, lo, hi) => lo == hi }
    (m, ranged.filter(f => points.forall { case (c, v, _) =>
      bloomMayContain(m, f, c, v, schema(c).dataType)
    }).map(f => s"$root/${m.rel(f)}"))
  }

  /** [[prunedFiles]] + read: the manifest-planned range scan. */
  def readPruned(spark: SparkSession, root: String, colName: String,
      lower: Any, upper: Any): DataFrame =
    readPrunedWhere(spark, root, Seq((colName, lower, upper)))

  /** [[prunedFilesWhere]] + read: the conjunction range scan. */
  def readPrunedWhere(spark: SparkSession, root: String,
      bounds: Seq[(String, Any, Any)]): DataFrame = {
    val (m, files) = prunedWhere(spark, root, bounds)
    // an empty plan still carries the table's schema
    if (files.isEmpty) readAt(spark, root, m).limit(0)
    else readFilesWithDv(spark, root, m, files)
  }

  /** CDC feed between two retained versions (both inside the
    * `keepVersions` time-travel window) — the change-data capture a
    * table FORMAT would serve from stored change files, recovered here
    * by snapshot difference, so downstream incremental consumers
    * (index maintenance, MaterializedAgg backfills, replication) can
    * ask "what changed between v_a and v_b" without replaying loads.
    *
    * Full-row multiset diff via `exceptAll` — ONE shuffle per side on
    * the row hash, no driver materialization, scales like any
    * aggregate. With `keyCols` the diff rows are further classified
    * Delta-CDF-style: a changed key present on both sides emits
    * `update_preimage` (old row) + `update_postimage` (new row);
    * one-sided keys emit `insert` / `delete`. Key membership is
    * decided by semi-joins against the OTHER side's diff keys — only
    * changed rows ever join, so the classification cost follows the
    * change volume, not the table size. */
  def changes(spark: SparkSession, root: String, fromV: Long, toV: Long,
      keyCols: Seq[String] = Nil): DataFrame = {
    val from0 = readVersion(spark, root, fromV)
    val to = readVersion(spark, root, toV)
    // an ALTER between the versions makes the schemas differ; diff
    // under the TO version's logical schema (renames resolved through
    // their recorded pre-names, adds null-backfilled, widens cast) so
    // a metadata-only ALTER commit is an EMPTY change batch instead
    // of an analysis error mid-stream
    val from =
      if (from0.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
          to.schema.fields.map(f => (f.name, f.dataType)).toSeq) from0
      else {
        val logical = manifestSchema(spark, root, toV).getOrElse(to.schema)
        alignToLogical(from0, logical)
      }
    val added = to.exceptAll(from)
    val removed = from.exceptAll(to)
    if (keyCols.isEmpty)
      added.withColumn("_change_type", lit("insert"))
        .unionByName(removed.withColumn("_change_type", lit("delete")))
    else {
      val addedKeys = added.select(keyCols.map(col): _*).distinct()
      val removedKeys = removed.select(keyCols.map(col): _*).distinct()
      added.join(removedKeys, keyCols, "left_semi")
        .withColumn("_change_type", lit("update_postimage"))
        .unionByName(added.join(removedKeys, keyCols, "left_anti")
          .withColumn("_change_type", lit("insert")))
        .unionByName(removed.join(addedKeys, keyCols, "left_semi")
          .withColumn("_change_type", lit("update_preimage")))
        .unionByName(removed.join(addedKeys, keyCols, "left_anti")
          .withColumn("_change_type", lit("delete")))
    }
  }

  /** Manifest creation: a single-object write (one PUT on an object
    * store; create+close elsewhere). Its EXISTENCE is the commit —
    * the content (the version number) is informational — so even the
    * worst crash inside this call (file present, content unwritten)
    * commits a version whose data is already complete.
    *
    * `overwrite = false` doubles as conflict DETECTION: two writers
    * racing to the same next version can only create its manifest
    * once, so the loser fails loudly here instead of both believing
    * they committed. This catches the accidental-second-daemon case;
    * it is not full multi-writer safety (the loser may already have
    * overwritten the shared staged data dir before failing — true
    * multi-writer needs per-writer staging names; the deployment
    * model remains single-writer). A crashed attempt never conflicts
    * with its own retry: if the manifest exists, that commit
    * SUCCEEDED — data completes before the manifest — so the retry
    * computes the next version. */
  private def publishManifest(fs: FileSystem, root: String,
      m: Manifest): Unit =
    try graft.util.AtomicPut.putIfAbsent(
      fs, new Path(commitsDir(root), m.version.toString), Manifest.render(m))
    catch {
      case e: java.io.IOException => throw new CommitConflictException(
        s"concurrent commit detected: version ${m.version} of $root was " +
          "published by another writer", e)
    }

  /** OPTIMISTIC-CONCURRENCY commit: the multi-writer form. Each
    * attempt computes the new table contents FROM the current version
    * (None for an uncreated table), stages them in an attempt-UNIQUE
    * hidden dir — two racing writers can never touch each other's
    * bytes — and then tries to take the next version number; the
    * manifest's create-if-absent is the arbitration (one PUT — the
    * same single-object primitive the whole protocol rides, so this is
    * object-store safe end to end). The loser REBASES: re-reads the
    * now-current version, recomputes, and retries against the next
    * number. Readers resolve the winner's dir through the manifest's
    * `d` pointer, so visibility remains exactly one object write.
    *
    * Serializability: a writer only ever publishes version base+1
    * computed from base, and version numbers are taken exactly once —
    * so committed history is a serial chain of read-modify-writes
    * (the lost-update anomaly plain `commit` has under two daemons
    * cannot happen). Losing attempt dirs are removed by their own
    * retry, or — after a crash — by any later commit's prune sweep. */
  def commitOptimistic(spark: SparkSession, root: String,
      keepVersions: Int = 1, statsCols: Seq[String] = Nil,
      maxRetries: Int = 5)
      (compute: Option[DataFrame] => DataFrame): Long = {
    val fs = fsOf(spark, root)
    fs.mkdirs(commitsDir(root))
    var attempt = 0
    while (true) {
      val base = currentVersion(spark, root)
      val next = base.getOrElse(0L) + 1L
      val dirName = s"_v-$next-w${java.util.UUID.randomUUID().toString.take(8)}"
      val data = new Path(s"$root/$dirName")
      compute(base.map(_ => read(spark, root)))
        .write.mode(SaveMode.Overwrite).parquet(data.toString)
      require(fs.exists(new Path(data, "_SUCCESS")),
        s"writer did not complete a parquet commit under $data")
      // constraints gate and carry exactly as in the plain commit; a
      // violating attempt never reaches the manifest race
      val cs = base.map(v => manifestOf(fs, root, v).constraints).getOrElse(Nil)
      if (cs.nonEmpty)
        enforceConstraints(fs, data, spark.read.parquet(data.toString), cs)
      val stats = collectFileStats(spark, Seq(data.toString), statsCols,
        relKeys = false)
      try {
        publishManifest(fs, root,
          Manifest(next, Some(dirName), constraints = cs, stats = stats))
        prune(fs, root, next - math.max(1, keepVersions))
        return next
      } catch {
        case e: CommitConflictException =>
          fs.delete(data, true) // our attempt lost; its bytes are ours alone
          attempt += 1
          if (attempt > maxRetries) throw e
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Age-thresholded ORPHAN VACUUM — the cleanup [[prune]] cannot do.
    * Each commit's prune sweep removes versions superseded past the
    * retention window, but a crashed writer's in-flight leftovers
    * target versions ABOVE that cutoff: an optimistic loser that died
    * before deleting its attempt dir, or a plain commit that crashed
    * after writing `_v-N` but before its manifest when no later commit
    * ever lands. Those dirs are invisible to readers (underscore
    * names, unreferenced by any manifest) but hold real bytes forever.
    *
    * A dir is deleted iff it is (a) a versioning-internal name
    * (`_v-N`, `_v-N-w*` attempt, `_v-b-*` branch stage), (b)
    * referenced by NO retained manifest or branch — the manifest set
    * is the ground truth for liveness, exactly as in reads — and (c)
    * older than `olderThanMs`. Age is the safety gate against deleting
    * a LIVE writer's in-flight attempt (its dir is younger than any
    * sane threshold; Delta/Iceberg vacuum make the same time-based
    * bargain). A table with no `_commits` has no manifest-determined
    * liveness, so it vacuums nothing. Returns the deleted paths. */
  def vacuum(spark: SparkSession, root: String,
      olderThanMs: Long): Seq[String] = {
    val fs = fsOf(spark, root)
    val rootP = new Path(root)
    val cd = commitsDir(root)
    if (!fs.exists(rootP) || !fs.exists(cd)) return Seq.empty
    val referenced = liveDirs(fs, root, listedVersions(fs, root)) ++
      // live branches' refs pin their staged `_v-b-*` dirs (and any
      // base dirs their manifests carry) exactly like main manifests
      branches(spark, root).keys.toSeq
        .flatMap(b => branchState(fs, root, b).toSeq
          .flatMap(_._3.map(_.takeWhile(_ != '/'))))
    val cutoff = System.currentTimeMillis() - olderThanMs
    val victims = fs.listStatus(rootP).toSeq.filter { st =>
      val name = st.getPath.getName
      val internal = name match {
        case HiddenVer(_) => true
        case AttemptVer(_) => true
        // a crashed dropBranch's orphan stage dirs (no branch ref, no
        // manifest reference) age out here like any other orphan
        case _ => name.startsWith("_v-b-")
      }
      internal && !referenced.contains(name) &&
        st.getModificationTime < cutoff
    }
    victims.foreach(st => fs.delete(st.getPath, true))
    victims.map(_.getPath.toString)
  }

  // ---- exactly-once micro-batch markers ----------------------------
  // The shared protocol of every maintained view (MaterializedAgg,
  // SketchView, QuantileView, SetSketch): the folded batch id is a
  // marker file INSIDE the version dir, so it commits atomically with
  // the state (the manifest publishes after the dir is complete), and
  // a crash-redelivered micro-batch sees its own id and no-ops.

  private val BatchMarker = "^_batch-(-?\\d+)$".r

  /** Highest micro-batch id stamped into the CURRENT version. */
  def lastFoldedBatch(spark: SparkSession, root: String): Option[Long] = {
    if (currentVersion(spark, root).isEmpty) return None
    lastFoldedBatchAt(spark, root,
      currentVersion(spark, root).get)
  }

  /** [[lastFoldedBatch]] at an arbitrary RETAINED version — the
    * snapshot-pinned FOLD POINT: each fold stamps its batch marker
    * inside its own version dir, so resolving which batches a pinned
    * view version contains is one listing (catalog snapshot readers
    * use this to serve time-travel searches over maintained views). */
  def lastFoldedBatchAt(spark: SparkSession, root: String,
      version: Long): Option[Long] = {
    val fs = fsOf(spark, root)
    val dir = new Path(s"$root/${manifestOf(fs, root, version).dir}")
    if (!fs.exists(dir)) return None
    fs.listStatus(dir).toSeq.flatMap(st => st.getPath.getName match {
      case BatchMarker(n) => Some(n.toLong)
      case _ => None
    }).maxOption
  }

  /** The newest RETAINED version whose stamped fold point is ≤
    * `batchId` — how a snapshot reader finds the companion view
    * version matching a pinned one (two maintained views sharing the
    * monotonic batch-id coordinate, e.g. RetrievalView's df beside
    * its pinned tot). None when retention no longer covers the pin —
    * callers refuse loudly rather than serve a misaligned state. */
  def versionForBatch(spark: SparkSession, root: String,
      batchId: Long): Option[Long] = {
    val fs = fsOf(spark, root)
    val cd = commitsDir(root)
    if (!fs.exists(cd)) return None
    listedVersions(fs, root).sorted(Ordering[Long].reverse)
      .find(v => lastFoldedBatchAt(spark, root, v).exists(_ <= batchId))
  }

  /** Stamp a micro-batch id into a version dir mid-commit (call from
    * inside a [[commit]] writer, after the state is written). */
  def stampBatch(spark: SparkSession, stageDir: String,
      batchId: Long): Unit =
    fsOf(spark, stageDir)
      .create(new Path(stageDir, s"_batch-$batchId"), true).close()

  // ---- schema evolution (metadata-only ALTER) ----------------------
  //
  // The table's LOGICAL schema can diverge from the parquet files'
  // physical one: ADD / DROP / RENAME COLUMN (and a safe type widen)
  // are each ONE manifest PUT that carries every data file by
  // reference — at 100 TB the difference between an instant DDL and a
  // full-table rewrite. The manifest gains the `h` line: the logical
  // StructType and the dropped physical names.
  //
  // Read model: files are scanned under the PHYSICAL UNION schema
  // (logical fields plus each field's pre-rename names, absent
  // columns nulled by the parquet reader), then projected to the
  // logical schema — a renamed field reads
  // `coalesce(newName, oldName…)`, which is correct for ANY mix of
  // pre- and post-rename files because each file has exactly one of
  // the names. Pre-rename names ride in the field metadata
  // (`graft.prev`, newest write name first is the field name itself);
  // physical names of DROPPED fields are tombstoned on the h-line so
  // a later ADD cannot recycle a name whose stale bytes still exist
  // in carried files. Writers (INSERT / MERGE / compaction / CoW
  // rewrites) align to the logical schema, so every REWRITTEN file
  // converges to logical = physical; a FULL rewrite commit drops the
  // h-line entirely and the table self-heals to a plain one.

  /** Field-metadata key holding a column's pre-rename physical names. */
  private val PrevKey = "graft.prev"

  private[graft] def prevNames(f: org.apache.spark.sql.types.StructField): Seq[String] =
    if (f.metadata.contains(PrevKey))
      f.metadata.getStringArray(PrevKey).toSeq
    else Nil

  /** The logical schema a version's manifest declares (plus dropped-
    * name tombstones), if the table has been ALTERed. */
  def manifestSchema(spark: SparkSession, root: String,
      version: Long): Option[StructType] =
    manifestOf(spark, root, version).logical

  /** Physical names no longer reachable from the logical schema —
    * refused for re-ADD/RENAME targets (stale bytes survive in
    * carried files). */
  def droppedNames(spark: SparkSession, root: String,
      version: Long): Seq[String] =
    manifestOf(spark, root, version).schema.map(_._2).getOrElse(Nil)

  /** The union scan schema: every logical field at its logical type,
    * plus each field's pre-rename physical names (same type — renames
    * never retype). Files lacking a column null it (standard parquet
    * behavior under an explicit read schema). */
  private[graft] def physicalReadSchema(s: StructType): StructType = {
    // recursive: a renamed STRUCT SUBFIELD adds its pre-name as a
    // sibling INSIDE the struct's read schema; files lacking a nested
    // subfield null it (parquet schema-clipping is nested-aware)
    def expand(st: StructType): StructType = {
      val deep = st.fields.map { f =>
        f.dataType match {
          case inner: StructType =>
            org.apache.spark.sql.types.StructField(f.name, expand(inner),
              f.nullable, f.metadata)
          case _ => f
        }
      }
      val extra = deep.flatMap(f =>
        prevNames(f).filterNot(p => st.fieldNames.contains(p))
          .map(p => org.apache.spark.sql.types.StructField(p, f.dataType)))
      StructType(deep.map(f =>
        org.apache.spark.sql.types.StructField(f.name, f.dataType,
          f.nullable)) ++ extra)
    }
    expand(s)
  }

  /** True when `st` (recursively) holds a renamed subfield — the only
    * case the logical projection must REBUILD a struct value by
    * coalescing sub-sources; nested adds/drops are already handled by
    * the clipped read schema. */
  private def hasNestedRename(st: StructType): Boolean =
    st.fields.exists(f => prevNames(f).nonEmpty || (f.dataType match {
      case inner: StructType => hasNestedRename(inner)
      case _ => false
    }))

  /** Metadata-free copy (cast targets must not carry graft.prev). */
  private def cleanType(dt: DataType): DataType = dt match {
    case st: StructType => StructType(st.fields.map(f =>
      org.apache.spark.sql.types.StructField(f.name,
        cleanType(f.dataType), f.nullable)))
    case other => other
  }

  /** Project a physical-union scan to the logical schema: renamed
    * fields coalesce newest-name-first (each file carries exactly one
    * of the names), recursively through structs — a struct holding a
    * renamed subfield is REBUILT member-by-member, with whole-struct
    * nulls preserved (struct() of null members is a non-null struct).
    * `extra` appends hidden passthrough columns (the MoR DV keys). */
  private def projectLogical(df: DataFrame, s: StructType,
      extra: Seq[String] = Nil): DataFrame = {
    def resolve(src: Column, f: org.apache.spark.sql.types.StructField): Column =
      f.dataType match {
        case inner: StructType if hasNestedRename(inner) =>
          val members = inner.fields.toSeq.map { g =>
            val srcs = (g.name +: prevNames(g)).map(n => src.getField(n))
            val c = if (srcs.size == 1) srcs.head else coalesce(srcs: _*)
            resolve(c, g).as(g.name)
          }
          when(src.isNull, lit(null).cast(cleanType(inner)))
            .otherwise(struct(members: _*))
        case _ => src
      }
    val cols = s.fields.toSeq.map { f =>
      val sources = f.name +: prevNames(f)
      val c =
        if (sources.size == 1) col(s"`${f.name}`")
        else coalesce(sources.map(n => col(s"`$n`")): _*)
      resolve(c, f).as(f.name)
    } ++ extra.map(col)
    df.select(cols: _*)
  }

  /** The current logical schema: the manifest's declared one, or the
    * physical schema for never-ALTERed tables (metadata stripped so
    * ALTER starts from a clean slate). */
  private def logicalSchemaOf(spark: SparkSession, root: String,
      m: Manifest): (StructType, Seq[String]) =
    m.schema.getOrElse {
      val phys = rawRead(spark, root, m).schema
      (StructType(phys.fields.map(f =>
        org.apache.spark.sql.types.StructField(f.name, f.dataType,
          f.nullable))), Nil)
    }

  /** `df` plus a typed NULL column for every logical column it lacks. */
  private def withLogicalNulls(spark: SparkSession, root: String,
      m: Manifest, df: DataFrame): DataFrame = {
    val have = df.columns.map(_.toLowerCase).toSet
    logicalSchemaOf(spark, root, m)._1.fields
      .filterNot(f => have(f.name.toLowerCase))
      .foldLeft(df)((d, f) => d.withColumn(f.name, lit(null).cast(f.dataType)))
  }

  /** Metadata-only schema change: ONE delta commit carrying every
    * current file by reference, whose manifest declares the new
    * logical schema. `xform` receives (current logical schema,
    * tombstoned names) and returns the new pair. */
  def alterSchema(spark: SparkSession, root: String, keepVersions: Int = 1)
      (xform: (StructType, Seq[String]) => (StructType, Seq[String])): Long = {
    val v = currentVersion(spark, root).getOrElse(throw
      new IllegalStateException(s"$root has no committed version to ALTER"))
    val m = readable(spark, root, v)
    val (cur, dropped) = logicalSchemaOf(spark, root, m)
    val (next, nextDropped) = xform(cur, dropped)
    commitDelta(spark, root, filesIn(fsOf(spark, root), root, m), keepVersions,
      schemaOverride = Some((next, nextDropped)))(_ => ())
  }

  private def allNamesInUse(s: StructType, dropped: Seq[String]): Set[String] =
    (s.fields.flatMap(f => f.name +: prevNames(f)) ++ dropped)
      .map(_.toLowerCase).toSet

  // ---- nested paths: `meta.width` addresses subfield `width` of
  // struct column `meta`, any depth. The SAME h-line carries nested
  // evolution — the logical StructType serializes nested metadata,
  // the physical read schema expands pre-names inside structs, and
  // the logical projection rebuilds renamed structs member-wise.
  // Tombstones for nested names are recorded as dotted paths.

  /** Split a dotted column path; a plain name has an empty parent. */
  private def splitPath(name: String): (Seq[String], String) = {
    val parts = name.split("\\.").toSeq
    require(parts.nonEmpty && parts.forall(_.nonEmpty),
      s"bad column path `$name`")
    (parts.init, parts.last)
  }

  /** Rewrite the struct level `path` addresses inside `s` with
    * `edit`; every segment must name a struct-typed field. */
  private def rewriteAt(s: StructType, path: Seq[String],
      context: String)(edit: StructType => StructType): StructType =
    path match {
      case Seq() => edit(s)
      case head +: rest =>
        val i = s.fields.indexWhere(_.name.equalsIgnoreCase(head))
        if (i < 0) GraftSchemaError(s"no column `$head` on $context")
        val f = s.fields(i)
        val inner = f.dataType match {
          case st: StructType => st
          case other => GraftSchemaError(
            s"`$head` on $context is ${other.simpleString}, not a struct")
        }
        StructType(s.fields.updated(i,
          org.apache.spark.sql.types.StructField(f.name,
            rewriteAt(inner, rest, context)(edit), f.nullable, f.metadata)))
    }

  /** Names in use at one struct level: live + pre-rename there, plus
    * the leaf of every dotted tombstone under `parent`. */
  private def namesInUseAt(s: StructType, dropped: Seq[String],
      parent: Seq[String]): Set[String] = {
    val prefix = parent.mkString(".").toLowerCase match {
      case "" => ""
      case p => p + "."
    }
    val localTombs = dropped.map(_.toLowerCase)
      .filter(d => d.startsWith(prefix) && !d.stripPrefix(prefix).contains('.'))
      .map(_.stripPrefix(prefix))
    allNamesInUse(s, Nil) ++ localTombs
  }

  /** ALTER TABLE … ADD COLUMN: appears as NULL in every existing row,
    * writable from the next INSERT on. Refuses any name ever used
    * physically (live, pre-rename, or dropped) — stale bytes in
    * carried files must not resurface under a recycled name. A dotted
    * `name` (`meta.extra`) adds a SUBFIELD to the addressed struct,
    * with the collision check scoped to that struct level. */
  def addColumn(spark: SparkSession, root: String, name: String,
      dataType: DataType, keepVersions: Int = 1): Long = {
    val (parent, leaf) = splitPath(name)
    alterSchema(spark, root, keepVersions) { (s, dropped) =>
      (rewriteAt(s, parent, root) { inner =>
        require(!namesInUseAt(inner, dropped, parent)
            .contains(leaf.toLowerCase),
          s"column name `$name` is already in use (live, pre-rename, or " +
            s"dropped) on $root — pick a fresh name")
        StructType(inner.fields :+
          org.apache.spark.sql.types.StructField(leaf, dataType))
      }, dropped)
    }
  }

  /** ALTER TABLE … DROP COLUMN: metadata-only; the bytes stay in the
    * files (unread) until rewrites purge them. The column's physical
    * names are tombstoned against recycling (dotted paths for nested
    * subfields). */
  def dropColumn(spark: SparkSession, root: String, name: String,
      keepVersions: Int = 1): Long = {
    requireUnconstrained(spark, root, name, "drop")
    val (parent, leaf) = splitPath(name)
    alterSchema(spark, root, keepVersions) { (s, dropped) =>
      var tombs = Seq.empty[String]
      val next = rewriteAt(s, parent, root) { inner =>
        val f = inner.fields.find(_.name.equalsIgnoreCase(leaf)).getOrElse(
          GraftSchemaError(s"no column `$name` on $root"))
        require(inner.fields.length > 1,
          if (parent.isEmpty) s"cannot drop the only column of $root"
          else s"cannot drop the only subfield of `${parent.mkString(".")}` " +
            s"on $root — drop the struct column instead")
        val prefix = parent.map(p => s"$p.").mkString
        tombs = (f.name +: prevNames(f)).map(n => s"$prefix$n")
        StructType(inner.fields.filterNot(_ eq f))
      }
      (next, (dropped ++ tombs).distinct)
    }
  }

  /** ALTER TABLE … RENAME COLUMN: metadata-only; old files keep the
    * bytes under the old name, and reads coalesce newest-first. New
    * writes use the new name. A dotted `from` renames a struct
    * SUBFIELD (`to` is the bare new leaf name); old files' structs
    * resolve through the member-wise rebuild in the logical
    * projection. */
  def renameColumn(spark: SparkSession, root: String, from: String,
      to: String, keepVersions: Int = 1): Long = {
    requireUnconstrained(spark, root, from, "rename")
    require(!to.contains('.'),
      s"rename target `$to` must be a bare name — the field stays in " +
        "its struct (moving between structs is a data rewrite)")
    val (parent, leaf) = splitPath(from)
    alterSchema(spark, root, keepVersions) { (s, dropped) =>
      (rewriteAt(s, parent, root) { inner =>
        val f = inner.fields.find(_.name.equalsIgnoreCase(leaf)).getOrElse(
          GraftSchemaError(s"no column `$from` on $root"))
        require(!namesInUseAt(inner, dropped, parent)
            .contains(to.toLowerCase),
          s"rename target `$to` is already in use (live, pre-rename, or " +
            s"dropped) on $root")
        val md = new org.apache.spark.sql.types.MetadataBuilder()
          .putStringArray(PrevKey, (f.name +: prevNames(f)).toArray).build()
        StructType(inner.fields.map(x =>
          if (x eq f)
            org.apache.spark.sql.types.StructField(to, f.dataType,
              f.nullable, md)
          else x))
      }, dropped)
    }
  }

  /** Widenings Spark 4's vectorized parquet reader performs in-scan,
    * so a metadata-only retype stays a zero-rewrite commit. */
  private val SafeWiden: Set[(DataType, DataType)] = {
    import org.apache.spark.sql.types._
    Set((ByteType, ShortType), (ByteType, IntegerType),
      (ByteType, LongType), (ShortType, IntegerType),
      (ShortType, LongType), (IntegerType, LongType),
      (FloatType, DoubleType), (IntegerType, DoubleType),
      (ByteType, DoubleType), (ShortType, DoubleType))
  }

  /** ALTER TABLE … ALTER COLUMN TYPE, restricted to reader-performed
    * widenings (int→long, float→double, …): metadata-only, existing
    * files read at the wide type in the vectorized scan. Anything
    * else must rewrite (`rewrite` + cast) instead. A dotted `name`
    * widens a struct SUBFIELD (the nested reader widens in-scan the
    * same way). */
  def widenColumn(spark: SparkSession, root: String, name: String,
      to: DataType, keepVersions: Int = 1): Long = {
    val (parent, leaf) = splitPath(name)
    alterSchema(spark, root, keepVersions) { (s, dropped) =>
      (rewriteAt(s, parent, root) { inner =>
        val f = inner.fields.find(_.name.equalsIgnoreCase(leaf)).getOrElse(
          GraftSchemaError(s"no column `$name` on $root"))
        require(SafeWiden.contains((f.dataType, to)),
          s"${f.dataType.simpleString} -> ${to.simpleString} is not a " +
            "reader-safe widening; use rewrite() with a cast instead")
        StructType(inner.fields.map(x =>
          if (x eq f)
            org.apache.spark.sql.types.StructField(f.name, to, f.nullable,
              f.metadata)
          else x))
      }, dropped)
    }
  }

  private def GraftSchemaError(msg: String): Nothing =
    throw new IllegalArgumentException(msg)

  /** Adopt another table's logical schema line — the CDC-mirror
    * consumer of schema evolution: a mirror's files were written
    * under the source's HISTORICAL logical names (cold-start snapshot
    * + shape-preserving upserts), so the source's rename mapping
    * applies to the mirror's own files verbatim, and adopting the
    * line is the only correct propagation (the post-ALTER CDC frame
    * alone cannot distinguish a rename from a drop+add). Tombstones
    * merge with the mirror's own. Metadata-only: one delta commit
    * carrying every file. Refuses when the source has no schema line
    * (a full source rewrite discarded the mapping — rewrite the
    * mirror too). */
  def adoptSchema(spark: SparkSession, root: String, fromRoot: String,
      fromVersion: Long, keepVersions: Int = 1): Long = {
    val (s, dropped) = manifestOf(spark, fromRoot, fromVersion).schema
      .getOrElse(throw new IllegalStateException(
        s"$fromRoot@$fromVersion declares no logical schema to adopt — " +
          "its mapping was discarded by a full rewrite; rewrite this " +
          "mirror to converge instead"))
    alterSchema(spark, root, keepVersions) { (_, ownDropped) =>
      (s, (ownDropped ++ dropped).distinct)
    }
  }

  /** AUTO-EVOLVING append — the automation-side consumer of schema
    * evolution: accept a drifted batch by evolving the LOGICAL schema
    * (new batch columns ADD as nullable; batch-widened types widen
    * when the reader can serve them in-scan) and appending the batch
    * aligned to the evolved schema, all in ONE delta commit (schema
    * line + new files + carried refs behind a single manifest PUT —
    * no intermediate version where the column exists but its first
    * batch doesn't). Batch columns MISSING from the table null-fill
    * on alignment (never dropped from the schema); name recycling
    * (tombstoned/pre-rename names) and non-widenable retypes refuse
    * loudly — silent coercion is how drifted feeds corrupt tables.
    * The no-drift case stays a plain [[appendDelta]] (no h-line, no
    * evolved read path). */
  def appendDeltaEvolve(spark: SparkSession, root: String,
      batch: DataFrame, keepVersions: Int = 1,
      statsCols: Seq[String] = Nil, bloomCols: Seq[String] = Nil): Long = {
    val v = currentVersion(spark, root).getOrElse(
      return commit(spark, root, keepVersions, statsCols, bloomCols) { st =>
        batch.write.mode(SaveMode.Overwrite).parquet(st)
      })
    val m = readable(spark, root, v)
    val (cur, dropped) = logicalSchemaOf(spark, root, m)
    val used = allNamesInUse(cur, dropped)
    val curByName = cur.fields.map(f => f.name.toLowerCase -> f).toMap
    val widened = cur.fields.map { f =>
      batch.schema.fields.find(_.name.equalsIgnoreCase(f.name)) match {
        case Some(b) if b.dataType == f.dataType => f
        case Some(b) if SafeWiden.contains((f.dataType, b.dataType)) =>
          // batch is wider: widen the table (metadata-only, in-scan)
          org.apache.spark.sql.types.StructField(f.name, b.dataType,
            f.nullable, f.metadata)
        case Some(b) if SafeWiden.contains((b.dataType, f.dataType)) =>
          f // batch is safely narrower: lossless cast on align
        case Some(b) =>
          GraftSchemaError(s"batch column `${f.name}` has incompatible " +
            s"type ${b.dataType.simpleString} (table: " +
            s"${f.dataType.simpleString}) — silent coercion is how " +
            "drifted feeds corrupt tables; fix the feed or rewrite")
        case None => f // absent in batch: null-fills on align
      }
    }
    val fresh = batch.schema.fields
      .filterNot(b => curByName.contains(b.name.toLowerCase))
    fresh.foreach(b => require(!used.contains(b.name.toLowerCase),
      s"batch column `${b.name}` collides with a pre-rename or dropped " +
        s"physical name on $root — rename the feed column"))
    val evolved = StructType(widened ++ fresh.map(b =>
      org.apache.spark.sql.types.StructField(b.name, b.dataType)))
    val changed = evolved.fields.map(f => (f.name, f.dataType)).toSeq !=
      cur.fields.map(f => (f.name, f.dataType)).toSeq
    val aligned = batch.select(evolved.fields.toSeq.map { f =>
      if (batch.columns.exists(_.equalsIgnoreCase(f.name)))
        col(s"`${f.name}`").cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }: _*)
    commitDelta(spark, root, filesIn(fsOf(spark, root), root, m),
      keepVersions, statsCols, bloomCols,
      schemaOverride =
        if (changed || m.schema.nonEmpty) Some((evolved, dropped))
        else None) { st =>
      aligned.write.mode(SaveMode.Overwrite).parquet(st)
    }
  }

  /** Project an OLDER version's frame onto a newer logical schema:
    * renamed fields resolve through their recorded pre-names, absent
    * fields null-backfill, widened fields cast — recursively through
    * structs (a nested rename/add between the two versions rebuilds
    * the struct member-wise from whichever physical names the old
    * frame carries). The cross-ALTER CDC alignment ([[changes]]). */
  private def alignToLogical(df: DataFrame, s: StructType): DataFrame = {
    def alignField(src: Column, srcType: DataType,
        f: org.apache.spark.sql.types.StructField): Column =
      (f.dataType, srcType) match {
        case (want: StructType, have: StructType) =>
          val members = want.fields.toSeq.map { g =>
            val hit = (g.name +: prevNames(g)).flatMap(n =>
              have.fields.find(_.name.equalsIgnoreCase(n)))
            val c = hit match {
              case Seq() => lit(null).cast(cleanType(g.dataType))
              case hs =>
                val cs = hs.map(h => alignField(src.getField(h.name),
                  h.dataType, g))
                if (cs.size == 1) cs.head else coalesce(cs: _*)
            }
            c.as(g.name)
          }
          when(src.isNull, lit(null).cast(cleanType(want)))
            .otherwise(struct(members: _*))
        case (want, _) => src.cast(want)
      }
    val have = df.schema.fields
    df.select(s.fields.toSeq.map { f =>
      val present = (f.name +: prevNames(f))
        .flatMap(n => have.find(_.name.equalsIgnoreCase(n)))
      val c = present match {
        case Seq() => lit(null).cast(cleanType(f.dataType))
        case hs =>
          val cs = hs.map(h => alignField(col(s"`${h.name}`"), h.dataType, f))
          if (cs.size == 1) cs.head else coalesce(cs: _*)
      }
      c.as(f.name)
    }: _*)
  }

  /** Read-transform-commit: the crash-safe form of every table
    * rewrite (retention, compaction, upsert). */
  def rewrite(spark: SparkSession, root: String, keepVersions: Int = 1,
              statsCols: Seq[String] = Nil, bloomCols: Seq[String] = Nil)
             (f: DataFrame => DataFrame): Long =
    commit(spark, root, keepVersions, statsCols, bloomCols) { stage =>
      f(read(spark, root)).write.mode(SaveMode.Overwrite).parquet(stage)
    }

  /** Create (or replace) the table content as a new version. */
  def init(spark: SparkSession, root: String, df: DataFrame,
           keepVersions: Int = 1, statsCols: Seq[String] = Nil): Long =
    commit(spark, root, keepVersions, statsCols) { stage =>
      df.write.mode(SaveMode.Overwrite).parquet(stage)
    }

  /** The newest version whose manifest was committed at or before
    * `epochMillis` — the `TIMESTAMP AS OF` resolution rule (manifest
    * creation IS the commit, so its mtime is the commit time). Only
    * RETAINED versions resolve; None when every retained commit is
    * younger. */
  def versionAsOfTimestamp(spark: SparkSession, root: String,
      epochMillis: Long): Option[Long] = {
    val fs = fsOf(spark, root)
    val cd = commitsDir(root)
    if (!fs.exists(cd)) return None
    fs.listStatus(cd).toSeq
      .flatMap(st => st.getPath.getName.toLongOption
        .filter(_ => st.getModificationTime <= epochMillis))
      .maxOption
  }

  /** [[init]] as a FILE-LIST (delta-manifest) commit: the created
    * table's manifests carry explicit file refs, so every later
    * append — incl. [[IncrementalLoader]] batches — lands as its own
    * `appendDelta` VERSION instead of an in-place object publish.
    * That per-batch version history is what CDC consumers (the
    * streaming source, `ChangeFeed` drains, daemon mirror/cdcAgg
    * ticks) diff; pair with a `keepVersions` covering their lag. */
  def initDelta(spark: SparkSession, root: String, df: DataFrame,
      keepVersions: Int = 1, statsCols: Seq[String] = Nil,
      bloomCols: Seq[String] = Nil): Long =
    commitDelta(spark, root, Nil, keepVersions, statsCols, bloomCols) {
      stage => df.write.mode(SaveMode.Overwrite).parquet(stage)
    }
}
