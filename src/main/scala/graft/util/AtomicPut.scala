package graft.util

import java.nio.charset.StandardCharsets
import java.nio.file.{FileAlreadyExistsException, Files, Paths, StandardOpenOption}

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SaveMode}

/** Conditional-PUT capability for object stores: atomically create the
  * object iff absent (the `If-None-Match: *` contract of S3 / GCS /
  * ABFS), with WHOLE-CONTENT visibility — a reader sees either nothing
  * or the complete body, never a prefix. Implementations wrap the
  * store's native conditional write (e.g. an S3 client's
  * `putObject(..., ifNoneMatch = "*")`); the library ships the seam
  * and its race semantics (spec-pinned on a mock store), deployments
  * plug their client. */
trait ConditionalPut {
  /** True = created (this caller won); false = an object already
    * exists at `path`. Must be atomic under concurrent callers:
    * exactly one of N racing puts returns true. */
  def putIfNoneMatch(path: Path, bytes: Array[Byte]): Boolean
}

/** THE single-object arbitration primitive the whole commit protocol
  * rides: atomically create `path` with `bytes` iff it does not
  * already exist. Exactly one of N racing writers succeeds; every
  * loser gets a [[org.apache.hadoop.fs.FileAlreadyExistsException]]
  * (an `IOException`, so existing conflict mapping at the call sites
  * is unchanged).
  *
  * Why this exists: Hadoop's `RawLocalFileSystem.create(path,
  * overwrite = false)` is CHECK-THEN-CREATE — an `exists()` probe
  * followed by a plain open — so on `file:` two threads can both pass
  * the probe, both "win" the same version number, and the second
  * truncates the first's content (observed as the catalog-race
  * property flake). Per scheme:
  *
  *  - `file:` — write the full content to a same-directory temp file
  *    (fsync'd), then `link(2)` it to the final name via
  *    `Files.createLink`, which the kernel makes atomic-exclusive
  *    (EEXIST if present). Readers therefore NEVER observe a partial
  *    object, and arbitration is a single atomic syscall. The parent
  *    directory is fsync'd best-effort so the name itself is durable.
  *    Filesystems without hard links fall back to `CREATE_NEW`
  *    (O_CREAT|O_EXCL): arbitration stays atomic, but content becomes
  *    visible write-then-close (HDFS semantics) — a reader in that
  *    window can observe a present-but-partial object, which is why
  *    catalog/manifest READERS treat torn objects as retryable, never
  *    authoritative.
  *  - `hdfs:`/`viewfs:` (real namenode-arbitrated creates) —
  *    `fs.create(path, overwrite = false)` IS atomic there; content
  *    becomes visible at close.
  *  - object stores (`s3a:`, `gs:`, `abfs:`, …) — `create(false)` on
  *    most FileSystem adapters is an exists-probe then a plain PUT:
  *    the exact check-then-create race this class exists to close. So
  *    the object-store path is NOT trusted by default: register a
  *    [[ConditionalPut]] backend for the scheme (the store-native
  *    `If-None-Match` write), or explicitly opt in to the adapter's
  *    `create(false)` via the Hadoop conf flag
  *    `graft.atomicput.trustCreateExclusive` when the deployment has
  *    verified its adapter maps it to a conditional PUT. Anything else
  *    fails loudly rather than silently racing.
  */
object AtomicPut {

  /** Hadoop conf key: set true to trust `fs.create(overwrite=false)`
    * to be atomic on schemes outside the known-safe set. */
  val TrustCreateExclusiveKey = "graft.atomicput.trustCreateExclusive"

  /** Schemes whose `create(overwrite=false)` is arbitrated by a real
    * metadata service and safe as-is. */
  private val NamenodeArbitrated = Set("hdfs", "viewfs")

  private val backends =
    new java.util.concurrent.ConcurrentHashMap[String, ConditionalPut]()

  /** Register the conditional-PUT backend serving `scheme` (e.g.
    * "s3a"). Subsequent [[putIfAbsent]] calls on that scheme route
    * through it. Returns any previously registered backend. */
  def register(scheme: String, backend: ConditionalPut): Option[ConditionalPut] =
    Option(backends.put(scheme, backend))

  def unregister(scheme: String): Unit = backends.remove(scheme)

  def putIfAbsent(fs: FileSystem, path: Path, body: String): Unit =
    putIfAbsent(fs, path, body.getBytes(StandardCharsets.UTF_8))

  def putIfAbsent(fs: FileSystem, path: Path, bytes: Array[Byte]): Unit = {
    val scheme = fs.getScheme
    if (scheme == "file") putIfAbsentLocal(fs, path, bytes)
    else Option(backends.get(scheme)) match {
      case Some(backend) =>
        if (!backend.putIfNoneMatch(path, bytes))
          throw new org.apache.hadoop.fs.FileAlreadyExistsException(
            s"$path already exists (conditional PUT lost)")
      case None if NamenodeArbitrated(scheme) ||
          fs.getConf.getBoolean(TrustCreateExclusiveKey, false) =>
        val out = fs.create(path, false) // atomic at the namenode / store
        try out.write(bytes) finally out.close()
      case None =>
        throw new UnsupportedOperationException(
          s"AtomicPut has no atomic arbitration for scheme '$scheme': " +
            s"create(overwrite=false) is check-then-create on most " +
            s"object-store adapters. Register a ConditionalPut backend " +
            s"for '$scheme' (store-native If-None-Match) or set " +
            s"$TrustCreateExclusiveKey=true if the adapter is verified " +
            s"to map create(false) to a conditional PUT.")
    }
  }

  /** Publish `df` as the ONE parquet object `target`: one part file
    * written under `stage`, then renamed onto `target` (a single-object
    * move appears atomically on posix, hdfs and object stores). An
    * existing `target` is a crashed attempt's completed publish: it is
    * reused and `df` is not evaluated. Returns true iff this call
    * published. */
  def publishParquet(fs: FileSystem, df: DataFrame, stage: Path,
      target: Path): Boolean = {
    if (fs.exists(target)) return false
    val part = writeOnePart(fs, df, stage)
    fs.mkdirs(target.getParent)
    require(fs.rename(part, target), s"publish $part -> $target failed")
    fs.delete(stage, true)
    true
  }

  /** Write `df` as one parquet part file under the directory `stage`
    * (replacing whatever was there) and return that part's path. */
  def writeOnePart(fs: FileSystem, df: DataFrame, stage: Path): Path = {
    df.coalesce(1).write.mode(SaveMode.Overwrite).parquet(stage.toString)
    fs.listStatus(stage).find(_.getPath.getName.startsWith("part-"))
      .getOrElse(throw new IllegalStateException(s"no part file under $stage"))
      .getPath
  }

  /** Row count of the parquet object at `path`, from its footer alone:
    * no Spark job, no column read. */
  def parquetRows(fs: FileSystem, path: Path): Long = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(path, fs.getConf))
    try r.getRecordCount finally r.close()
  }

  /** The whole object at `path` as UTF-8 text: the read side of the
    * small metadata objects graft publishes (manifests, tags, leases,
    * catalog and index pointers). The caller checks existence. */
  def readUtf8(fs: FileSystem, path: Path): String = {
    val in = fs.open(path)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
  }

  private def putIfAbsentLocal(fs: FileSystem, path: Path,
      bytes: Array[Byte]): Unit = {
    val target = Paths.get(path.toUri.getPath)
    val dir = target.getParent
    Files.createDirectories(dir)
    val tmp = dir.resolve(
      s".${target.getFileName}.put-${java.util.UUID.randomUUID()}")
    try {
      val ch = java.nio.channels.FileChannel.open(tmp,
        StandardOpenOption.WRITE, StandardOpenOption.CREATE_NEW)
      try {
        val buf = java.nio.ByteBuffer.wrap(bytes)
        while (buf.hasRemaining) ch.write(buf)
        ch.force(true) // content durable BEFORE the name appears
      } finally ch.close()
      try Files.createLink(target, tmp) // link(2): atomic, EEXIST if present
      catch {
        case _: UnsupportedOperationException =>
          // no-hardlink filesystem: O_CREAT|O_EXCL still arbitrates
          // atomically; content visibility reverts to write-then-close
          // (readers must treat torn objects as retryable — see class doc)
          val c2 = java.nio.channels.FileChannel.open(target,
            StandardOpenOption.WRITE, StandardOpenOption.CREATE_NEW)
          try {
            val buf = java.nio.ByteBuffer.wrap(bytes)
            while (buf.hasRemaining) c2.write(buf)
            c2.force(true)
          } finally c2.close()
      }
      fsyncDir(dir)
    } catch {
      case e: FileAlreadyExistsException =>
        throw new org.apache.hadoop.fs.FileAlreadyExistsException(
          s"$path already exists: ${e.getMessage}")
    } finally Files.deleteIfExists(tmp)
  }

  /** fsync the directory so the new NAME survives a crash; best-effort
    * (not all JVMs/filesystems allow opening a directory). */
  private def fsyncDir(dir: java.nio.file.Path): Unit =
    try {
      val ch = java.nio.channels.FileChannel.open(dir,
        StandardOpenOption.READ)
      try ch.force(true) finally ch.close()
    } catch { case _: Exception => () }
}
