package graft

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, FileNotFoundException, IOException, OutputStream}
import java.net.URI
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs._
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

import graft.util.ConditionalPut

/** In-memory S3-shaped object store: a flat key → whole-object map.
  * Reads are whole-object (a reader never sees a prefix — object
  * stores give read-after-PUT whole-content visibility), writes become
  * visible atomically at close, and `putIfNoneMatch` is the store's
  * native conditional PUT (`If-None-Match: *`) — the ONLY atomic
  * arbitration the store offers. Plain `create(overwrite = false)` on
  * the FileSystem adapter below is deliberately exists-probe-then-PUT
  * (what s3a really does), so any code relying on it for arbitration
  * races — exactly the behavior AtomicPut's scheme gate exists to keep
  * out of production. */
final class InMemoryObjectStore {
  private[graft] val objects = new ConcurrentHashMap[String, Array[Byte]]()
  private val gets = new ConcurrentHashMap[String, AtomicLong]()

  /** Store-native conditional PUT: atomic, one winner. */
  def putIfNoneMatch(key: String, bytes: Array[Byte]): Boolean =
    objects.putIfAbsent(key, bytes.clone()) == null

  def put(key: String, bytes: Array[Byte]): Unit =
    objects.put(key, bytes.clone())

  /** Whole-object GET; counted per key (see [[getCount]]). */
  def get(key: String): Option[Array[Byte]] = {
    gets.computeIfAbsent(key, _ => new AtomicLong()).incrementAndGet()
    Option(objects.get(key)).map(_.clone())
  }

  /** GETs issued for `key` so far, present or not. */
  def getCount(key: String): Long =
    Option(gets.get(key)).map(_.get).getOrElse(0L)

  /** Object size without fetching it (a HEAD request; not a GET). */
  def head(key: String): Option[Int] = Option(objects.get(key)).map(_.length)

  def delete(key: String): Boolean = objects.remove(key) != null

  def exists(key: String): Boolean = objects.containsKey(key)

  def keys(prefix: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    objects.keySet().asScala.filter(_.startsWith(prefix)).toSeq.sorted
  }

  /** Atomic single-key move: arbitrates on the SOURCE (the loser's
    * remove finds nothing). Real stores that only offer copy+delete
    * must route arbitration through [[putIfNoneMatch]] instead. */
  def move(src: String, dst: String): Boolean = {
    val v = objects.remove(src)
    if (v == null) false
    else { objects.put(dst, v); true }
  }
}

object MockObjectStore {
  /** One store per URI authority ("bucket"), so tests isolate by
    * bucket name and Hadoop's FileSystem cache can't cross streams. */
  private val buckets = new ConcurrentHashMap[String, InMemoryObjectStore]()

  def bucket(name: String): InMemoryObjectStore =
    buckets.computeIfAbsent(name, _ => new InMemoryObjectStore)

  def dropBucket(name: String): Unit = buckets.remove(name)

  /** The [[ConditionalPut]] backend a deployment would build over its
    * S3 client — here over the mock store. */
  def conditionalPut: ConditionalPut = new ConditionalPut {
    def putIfNoneMatch(path: Path, bytes: Array[Byte]): Boolean = {
      val u = path.toUri
      bucket(u.getAuthority).putIfNoneMatch(
        u.getPath.stripPrefix("/"), bytes)
    }
  }
}

/** Hadoop FileSystem adapter over [[InMemoryObjectStore]] with
  * honest object-store semantics:
  *  - flat keys; directories are implicit prefixes (mkdirs is a no-op)
  *  - `create(path, overwrite = false)` is CHECK-THEN-CREATE (an
  *    exists probe, then a plain PUT at close) — NOT atomic, like s3a
  *    without conditional-write support
  *  - content of a create becomes visible atomically at close
  *    (whole-object PUT); open() reads a whole-object snapshot
  *  - rename of a single object is an atomic move; rename of a
  *    "directory" moves every key under the prefix (not atomic as a
  *    whole, like any object store)
  * Registered for tests via
  * `conf.set("fs.mock3a.impl", classOf[MockS3FileSystem].getName)`. */
class MockS3FileSystem extends FileSystem {
  private var fsUri: URI = _
  private var store: InMemoryObjectStore = _
  private var workDir: Path = _

  override def initialize(name: URI, conf: Configuration): Unit = {
    super.initialize(name, conf)
    setConf(conf)
    fsUri = URI.create(s"mock3a://${name.getAuthority}")
    store = MockObjectStore.bucket(name.getAuthority)
    workDir = new Path(s"mock3a://${name.getAuthority}/")
  }

  override def getScheme: String = "mock3a"
  override def getUri: URI = fsUri

  private def key(p: Path): String =
    makeQualified(p).toUri.getPath.stripPrefix("/")

  override def open(f: Path, bufferSize: Int): FSDataInputStream =
    store.get(key(f)) match {
      case Some(bytes) =>
        new FSDataInputStream(new SeekableByteArrayInputStream(bytes))
      case None => throw new FileNotFoundException(f.toString)
    }

  override def create(f: Path, permission: FsPermission,
      overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream = {
    val k = key(f)
    // honest adapter: the no-overwrite guard is a separate exists probe
    if (!overwrite && store.exists(k))
      throw new FileAlreadyExistsException(f.toString)
    val buf = new ByteArrayOutputStream()
    val out: OutputStream = new OutputStream {
      override def write(b: Int): Unit = buf.write(b)
      override def write(b: Array[Byte], off: Int, len: Int): Unit =
        buf.write(b, off, len)
      override def close(): Unit = store.put(k, buf.toByteArray) // PUT
    }
    new FSDataOutputStream(out, null)
  }

  override def append(f: Path, bufferSize: Int,
      progress: Progressable): FSDataOutputStream =
    throw new IOException("object stores do not append")

  override def rename(src: Path, dst: Path): Boolean = {
    val sk = key(src); val dk = key(dst)
    if (store.exists(sk)) {
      // renaming INTO an existing directory moves the object under it
      val target =
        if (isDirKey(dk)) s"$dk/${src.getName}" else dk
      if (store.exists(target)) false else store.move(sk, target)
    } else if (isDirKey(sk)) {
      val under = store.keys(sk + "/")
      if (under.isEmpty) false
      else {
        val base = if (isDirKey(dk)) s"$dk/${src.getName}" else dk
        under.forall(k => store.move(k, base + k.stripPrefix(sk)))
      }
    } else false
  }

  private def isDirKey(k: String): Boolean =
    k.isEmpty || store.keys(k + "/").nonEmpty

  override def delete(f: Path, recursive: Boolean): Boolean = {
    val k = key(f)
    if (store.exists(k)) store.delete(k)
    else {
      val under = store.keys(k + "/")
      if (under.isEmpty) false
      else if (!recursive) throw new IOException(s"$f: dir not empty")
      else { under.foreach(store.delete); true }
    }
  }

  override def listStatus(f: Path): Array[FileStatus] = {
    val k = key(f)
    if (store.exists(k)) Array(getFileStatus(f))
    else {
      val prefix = if (k.isEmpty) "" else k + "/"
      val under = store.keys(prefix)
      if (under.isEmpty && !k.isEmpty)
        throw new FileNotFoundException(f.toString)
      val children = under.map(_.stripPrefix(prefix).split("/", 2)(0))
        .distinct.sorted
      children.map { c =>
        getFileStatus(new Path(makeQualified(f), c))
      }.toArray
    }
  }

  override def setWorkingDirectory(dir: Path): Unit = workDir = dir
  override def getWorkingDirectory: Path = workDir
  override def mkdirs(f: Path, permission: FsPermission): Boolean = true

  override def getFileStatus(f: Path): FileStatus = {
    val k = key(f)
    store.head(k) match {
      case Some(size) =>
        new FileStatus(size, false, 1, 64 << 20, 0L, makeQualified(f))
      case None =>
        if (k.isEmpty || store.keys(k + "/").nonEmpty)
          new FileStatus(0, true, 1, 64 << 20, 0L, makeQualified(f))
        else throw new FileNotFoundException(f.toString)
    }
  }
}

/** Whole-object snapshot input stream with seek support (parquet
  * footers read by seeking). */
private class SeekableByteArrayInputStream(bytes: Array[Byte])
    extends ByteArrayInputStream(bytes)
    with Seekable with PositionedReadable {
  override def seek(pos: Long): Unit = {
    if (pos < 0 || pos > bytes.length) throw new IOException(s"seek $pos")
    this.pos = pos.toInt
  }
  override def getPos: Long = pos.toLong
  override def seekToNewSource(targetPos: Long): Boolean = false
  override def read(position: Long, buffer: Array[Byte], offset: Int,
      length: Int): Int = {
    if (position >= bytes.length) return -1
    val n = math.min(length, bytes.length - position.toInt)
    System.arraycopy(bytes, position.toInt, buffer, offset, n)
    n
  }
  override def readFully(position: Long, buffer: Array[Byte],
      offset: Int, length: Int): Unit = {
    if (read(position, buffer, offset, length) < length)
      throw new IOException("readFully past EOF")
  }
  override def readFully(position: Long, buffer: Array[Byte]): Unit =
    readFully(position, buffer, 0, buffer.length)
}
