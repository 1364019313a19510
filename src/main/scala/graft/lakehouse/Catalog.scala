package graft.lakehouse

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Multi-table ATOMIC commits: a catalog whose versions pin a
  * consistent (table → version) map, flipped with ONE single-object
  * PUT — the cross-table transaction the per-table commit protocol
  * cannot give (Iceberg gets this from a catalog with multi-table
  * commit support; Delta historically does not have it at all).
  * The reference automates several MySQL tables behind one schema
  * (`check_lakehouse.py:139-160` loads every changed table in one
  * pass) where cross-table consistency is the database's job; here
  * the engine IS the store, so the catalog supplies it.
  *
  * Layout: `catRoot/_catalog/<N>` — one text object per catalog
  * version, lines `t\t<name>\t<tableRoot>\t<tableVersion>`. The
  * object's EXISTENCE is the commit (the VersionedTable manifest
  * discipline applied one level up); [[graft.util.AtomicPut]] is the
  * arbitration — genuinely atomic create-if-absent per scheme (local
  * link(2), HDFS namenode create-exclusive, object-store conditional
  * PUT) — so two racing transactions can never both publish the same
  * catalog version, and readers never observe a torn mapping.
  *
  * Transaction protocol ([[commitAll]]):
  *   1. every staged write commits a NEW VERSION on its own table —
  *      durable, crash-safe, but INVISIBLE to catalog readers, who
  *      resolve table versions only through the catalog;
  *   2. one catalog PUT publishes the full map: every table of the
  *      previous snapshot carries over at its pinned version, the
  *      written tables advance to their new versions.
  * A crash between 1 and 2 leaves the catalog serving the OLD
  * snapshot of every table — consistent, nothing half-visible; the
  * orphaned table versions are ordinary retained history and age out
  * through each table's own `keepVersions` sweep. A reader holding
  * snapshot N keeps a consistent multi-table view even while
  * transactions land, as long as each table's retention covers the
  * longest reader (the same contract single-table readers already
  * have).
  *
  * Snapshot isolation across tables: [[read]] resolves name → pinned
  * version through the CURRENT catalog version, taken once per
  * [[Snapshot]]; two reads through one snapshot can never mix
  * transaction boundaries. Time travel: [[snapshotAsOf]] re-serves
  * any retained catalog version.
  *
  * Scale: a catalog version is one KB-sized object regardless of
  * data volume; the flip is O(1); table data is never copied. The
  * deployment model is single-writer per CATALOG (racing writers are
  * detected, the loser's table versions become orphaned history) —
  * same as the per-table protocol.
  */
object Catalog {

  /** One staged table write inside a transaction: `write` must
    * commit a new version on `root` (any VersionedTable commit path —
    * commit / commitDelta / appendDelta / DML helpers) and return the
    * committed version number. */
  final case class TableWrite(name: String, root: String,
      write: () => Long)

  /** A pinned, immutable multi-table view: table name →
    * (tableRoot, tableVersion) as of one catalog version. */
  final case class Snapshot(version: Long,
      tables: Map[String, (String, Long)]) {
    def read(spark: SparkSession, name: String): DataFrame = {
      val (root, v) = tables.getOrElse(name,
        throw new IllegalArgumentException(
          s"table '$name' not in catalog snapshot $version " +
            s"(has: ${tables.keys.toSeq.sorted.mkString(", ")})"))
      VersionedTable.readVersion(spark, root, v)
    }
  }

  /** Another transaction published this catalog version first. */
  final class CatalogConflictException(msg: String, cause: Throwable)
    extends IllegalStateException(msg, cause)

  private def fsOf(spark: SparkSession, path: String): FileSystem =
    FileSystem.get(new java.net.URI(path),
      spark.sparkContext.hadoopConfiguration)

  private def catDir(catRoot: String) = new Path(s"$catRoot/_catalog")

  /** Highest committed catalog version, if any. */
  def currentVersion(spark: SparkSession, catRoot: String): Option[Long] = {
    val fs = fsOf(spark, catRoot)
    val cd = catDir(catRoot)
    if (!fs.exists(cd)) None
    else fs.listStatus(cd).toSeq
      .flatMap(st => st.getPath.getName.toLongOption).maxOption
  }

  /** The current snapshot; None before the first transaction. */
  def current(spark: SparkSession, catRoot: String): Option[Snapshot] =
    currentVersion(spark, catRoot).map(snapshotAsOf(spark, catRoot, _))

  /** Every RETAINED catalog version, ascending — what [[prune]] has
    * left. Maintenance that deletes artifact state an old snapshot
    * pins (e.g. ANN generation vacuum) must sweep this list first:
    * anything a retained version still references is not garbage. */
  def retainedVersions(spark: SparkSession, catRoot: String): Seq[Long] = {
    val fs = fsOf(spark, catRoot)
    val cd = catDir(catRoot)
    if (!fs.exists(cd)) Nil
    else fs.listStatus(cd).toSeq
      .flatMap(st => st.getPath.getName.toLongOption).sorted
  }

  /** The minimum version a RETAINED snapshot pins for the table rooted
    * at `tableRoot` (by root, not name — robust to renames). None when
    * no retained snapshot pins it: nothing constrains vacuum. */
  def minPinnedVersion(spark: SparkSession, catRoot: String,
      tableRoot: String): Option[Long] =
    retainedVersions(spark, catRoot)
      .flatMap(v => snapshotAsOf(spark, catRoot, v).tables.values
        .collect { case (root, ver) if root == tableRoot => ver })
      .minOption

  /** Re-serve a retained catalog version (multi-table time travel).
    *
    * Torn objects are RETRYABLE, not authoritative: on filesystems
    * where AtomicPut falls back to write-after-create (no hard links),
    * a reader can catch the object mid-write. Every published object
    * carries a `h\t<tableCount>` header, so a truncation — whether
    * mid-line (parse failure) or at a line boundary (silently fewer
    * tables) — is detected and re-read briefly before failing loudly.
    * A body without a valid header, the empty body included, is always
    * torn: that is the created-but-unwritten window. */
  def snapshotAsOf(spark: SparkSession, catRoot: String,
      version: Long): Snapshot = {
    val fs = fsOf(spark, catRoot)
    val p = new Path(catDir(catRoot), version.toString)
    require(fs.exists(p),
      s"catalog version $version of $catRoot does not exist")
    var lastErr = "unreadable"
    (0 until 20).foreach { _ =>
      parseCatalog(graft.util.AtomicPut.readUtf8(fs, p)) match {
        case Right(tables) => return Snapshot(version, tables)
        case Left(err) => lastErr = err; Thread.sleep(25)
      }
    }
    throw new IllegalStateException(
      s"catalog object $p stayed torn across retries ($lastErr) — " +
        "the writer likely crashed mid-PUT on a no-hardlink filesystem")
  }

  /** Right(tables) for a whole object; Left(reason) for a torn one.
    * A body whose first line is not a whole `h\t<count>` header —
    * including "" and a truncated prefix like "h" — is TORN: the
    * created-but-unwritten window on filesystems without hard links
    * looks exactly like that, and serving it as an authoritative
    * empty snapshot would erase every table from readers' view. */
  private def parseCatalog(
      body: String): Either[String, Map[String, (String, Long)]] = {
    val lines = body.split("\n").toSeq
    val expected = lines.headOption.getOrElse("").split("\t") match {
      case Array("h", n) if n.toIntOption.isDefined => n.toInt
      case _ => return Left(s"torn header '${body.take(16)}'")
    }
    val parsed = lines.tail.map { line =>
      line.split("\t") match {
        case Array("t", name, root, v) => v.toLongOption match {
          case Some(ver) => name -> (root, ver)
          case None => return Left(s"torn line '$line'")
        }
        case _ => return Left(s"torn line '$line'")
      }
    }
    if (parsed.size != expected)
      Left(s"header says $expected tables, object carries ${parsed.size}")
    else Right(parsed.toMap)
  }

  /** Read one table at its catalog-pinned version (current snapshot).
    * For several consistent reads, take [[current]] ONCE and read
    * through the snapshot. */
  def read(spark: SparkSession, catRoot: String, name: String): DataFrame =
    current(spark, catRoot).getOrElse(throw new IllegalStateException(
      s"catalog $catRoot has no committed snapshot")).read(spark, name)

  /** Atomic multi-table transaction. Runs every staged write (each
    * commits a new version on its own table), then flips the catalog
    * with one PUT: previous snapshot's tables carry over pinned,
    * written tables advance. Returns the published snapshot.
    *
    * If any write throws, nothing is published — the catalog still
    * serves the previous snapshot of every table, and versions
    * committed by earlier writes in the list are invisible orphaned
    * history (aged out by their tables' own retention). If the
    * catalog PUT loses a race, throws [[CatalogConflictException]]
    * with the same orphan semantics. */
  def commitAll(spark: SparkSession, catRoot: String,
      writes: Seq[TableWrite]): Snapshot = {
    require(writes.nonEmpty, "empty transaction")
    require(writes.map(_.name).distinct.size == writes.size,
      s"duplicate table names in transaction: ${writes.map(_.name)}")
    val prev = current(spark, catRoot)
    val committed = writes.map(w => w.name -> (w.root, w.write()))
    val nextV = prev.map(_.version + 1).getOrElse(0L)
    val tables = prev.map(_.tables).getOrElse(Map.empty) ++ committed.toMap
    publish(spark, catRoot, nextV, tables)
    Snapshot(nextV, tables)
  }

  /** Register (or re-pin) tables at their CURRENT versions without
    * writing data — brings pre-existing tables under the catalog. */
  def register(spark: SparkSession, catRoot: String,
      tables: Seq[(String, String)]): Snapshot = {
    require(tables.nonEmpty, "nothing to register")
    val pinned = tables.map { case (name, root) =>
      val v = VersionedTable.currentVersion(spark, root).getOrElse(
        throw new IllegalArgumentException(
          s"table '$name' at $root has no committed version"))
      name -> (root, v)
    }
    val prev = current(spark, catRoot)
    val nextV = prev.map(_.version + 1).getOrElse(0L)
    val all = prev.map(_.tables).getOrElse(Map.empty) ++ pinned.toMap
    publish(spark, catRoot, nextV, all)
    Snapshot(nextV, all)
  }

  private def publish(spark: SparkSession, catRoot: String, n: Long,
      tables: Map[String, (String, Long)]): Unit = {
    val fs = fsOf(spark, catRoot)
    fs.mkdirs(catDir(catRoot))
    // `h\t<count>` header lets readers detect a torn object (see
    // snapshotAsOf) — truncation at any point breaks header arity,
    // line arity, or the count
    val body = (s"h\t${tables.size}" +: tables.toSeq.sortBy(_._1)
      .map { case (name, (root, v)) => s"t\t$name\t$root\t$v" })
      .mkString("\n")
    // the catalog object's CONTENT is the commit (unlike the manifest,
    // whose existence alone commits), so the PUT must be atomic in
    // both arbitration AND content — AtomicPut guarantees exactly that
    try graft.util.AtomicPut.putIfAbsent(
      fs, new Path(catDir(catRoot), n.toString), body)
    catch {
      case e: java.io.IOException => throw new CatalogConflictException(
        s"concurrent transaction detected: catalog version $n of " +
          s"$catRoot was published by another writer", e)
    }
  }

  /** Drop retained catalog versions older than the newest `keep`
    * (table data is untouched — table retention is per-table). */
  def prune(spark: SparkSession, catRoot: String, keep: Int = 2): Unit = {
    require(keep >= 1, "keep at least the current catalog version")
    val fs = fsOf(spark, catRoot)
    val cd = catDir(catRoot)
    if (fs.exists(cd)) {
      val vs = fs.listStatus(cd).toSeq
        .flatMap(st => st.getPath.getName.toLongOption).sorted
      vs.dropRight(keep).foreach(v =>
        fs.delete(new Path(cd, v.toString), false))
    }
  }

  /** The snapshot as a relation — (catalog_version, table, root,
    * version) — backing the `graft_catalog` TVF. Pass `asOf` to serve
    * a RETAINED older catalog version (multi-table time travel from
    * SQL). */
  def asDataFrame(spark: SparkSession, catRoot: String,
      asOf: Option[Long] = None): DataFrame = {
    val snap = asOf.map(snapshotAsOf(spark, catRoot, _))
      .orElse(current(spark, catRoot)).getOrElse(
      throw new IllegalStateException(
        s"catalog $catRoot has no committed snapshot"))
    import spark.implicits._
    snap.tables.toSeq.sortBy(_._1)
      .map { case (name, (root, v)) => (snap.version, name, root, v) }
      .toDF("catalog_version", "table", "root", "version")
  }
}
