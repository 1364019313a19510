package graft.sources

import scala.collection.mutable

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.execution.datasources.HadoopFsRelation
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

import graft.util.AtomicPut

/** READ-ONLY Delta Lake compatibility reader (r10 verdict item 6 —
  * the single most user-visible interop gap: a user adopting this
  * engine almost certainly has existing Delta tables).
  *
  * Implements the PUBLISHED Delta transaction-log protocol
  * (github.com/delta-io/delta PROTOCOL.md): the table state is the
  * latest classic checkpoint parquet (`%020d.checkpoint.parquet`,
  * single- or multi-part, discovered from the `_last_checkpoint`
  * pointer and cross-checked against the directory listing — the
  * protocol says the pointer may be stale) plus a replay of the JSON
  * commits after it (`_delta_log/%020d.json`, one action per line:
  * `add` registers a data file with its partition values, `remove`
  * tombstones one, the LAST `metaData` wins, `protocol` gates reader
  * compatibility). Tables whose early JSON history was checkpoint-
  * truncated — which is MOST mature Delta tables, since writers
  * checkpoint every 10 commits and log-cleanup deletes old JSON —
  * read through the checkpoint. Zero new dependencies: jackson
  * (already on Spark's classpath) parses the log, the checkpoint is
  * a plain parquet file Spark already reads, and each checkpoint row
  * is re-serialized to JSON so ONE action interpreter handles both
  * log forms.
  *
  * Spark-first partition handling, single-relation plan: Delta data
  * files do NOT contain their partition columns — values live in the
  * log's `add.partitionValues`. The whole file set becomes ONE
  * `HadoopFsRelation` over a log-backed [[FileIndex]] whose
  * `PartitionDirectory` rows carry the typed partition values
  * (`Cast` from the protocol's string serialization). Catalyst's
  * file-source strategy pushes partition-column predicates into
  * `listFiles`, so pruning is O(#partitions) METADATA work inside one
  * scan node — the plan itself is O(1) in partition count (the r11
  * per-tuple-union shape was O(#partitions) analyzer work on every
  * query; a daily-partitioned 10-year table is a 3,650-way union).
  * Driver memory is O(#live files), the same bound as the log replay
  * itself. `add.path` is an RFC 2396 URI per the protocol and is
  * DECODED when resolved against the table root (raw strings stay
  * the add/remove map keys so replay is byte-exact).
  *
  * Supported: reader-version-1 tables (add/remove/metaData/protocol/
  * commitInfo/txn), partitioned or not, schema evolution across
  * commits, `asOfVersion` time travel (at, before, and after a
  * checkpoint), classic single- and multi-part checkpoints,
  * checkpoint-truncated JSON history; and of the reader-version-3
  * feature set (r12 verdict items 1-2 — Databricks-written tables
  * have had these on by default for years): DELETION VECTORS
  * (inline / UUID-relative / absolute storage, RoaringBitmapArray
  * portable bitmaps decoded on executors, applied as a `_metadata`
  * (file_path, row_index) anti-join — the [[IcebergCompat]] MoR
  * shape), COLUMN MAPPING in both `name` and `id` modes (physical-
  * name scan projected back to logical names; id-mode files carry
  * physical names too, per the protocol), TIMESTAMPNTZ columns, and
  * V2 CHECKPOINTS (round 13 — the last reader-3 default-on feature:
  * UUID-named json/parquet top-level file with checkpointMetadata,
  * file actions inline or fanned out into `_sidecars/` parquet files;
  * a referenced-but-missing sidecar is a loud torn-checkpoint error,
  * and a classic checkpoint at the same version is preferred when
  * both exist). NOT supported (throws loudly rather than
  * mis-reading): any other unimplemented reader feature.
  */
object DeltaCompat {

  private val mapper = new ObjectMapper()

  /** A deletion-vector descriptor exactly as the protocol's
    * `add.deletionVector` struct carries it: `storageType` `u` (file
    * under the table root named by a z85 UUID, optional random
    * prefix), `i` (the DV bytes inline, z85), or `p` (absolute path);
    * `offset` locates the DV inside an on-disk file; `sizeInBytes` is
    * the serialized bitmap length; `cardinality` the deleted-row
    * count. */
  final case class DvDescriptor(storageType: String, pathOrInlineDv: String,
      offset: Option[Int], sizeInBytes: Int, cardinality: Long) {
    /** The protocol's unique DV id — the add/remove pairing key
      * component (a file whose DV is rewritten is removed under the
      * OLD id and re-added under the NEW one, in the same commit). */
    def uniqueId: String =
      offset.fold(storageType + pathOrInlineDv)(o =>
        s"$storageType$pathOrInlineDv@$o")
  }

  final case class AddFile(path: String, partitionValues: Map[String, String],
      size: Long, modificationTime: Long,
      dv: Option[DvDescriptor] = None)

  /** The base protocol line [[writeTable]] emits and [[checkpoint]]
    * falls back to for pre-feature tables. */
  private val BaseProtocolLine =
    """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}"""

  final case class Snapshot(version: Long, schema: StructType,
      partitionColumns: Seq[String], files: Seq[AddFile],
      configuration: Map[String, String] = Map.empty,
      protocolJson: String = BaseProtocolLine)

  /** A usable checkpoint at one version: a COMPLETE classic part set,
    * or a v2 UUID-named top-level file (json or parquet) whose file
    * actions may live inline or in `_sidecars/` parquet files. */
  private sealed trait CpRef
  private final case class ClassicCp(parts: Seq[Path]) extends CpRef
  private final case class V2Cp(path: Path, isJson: Boolean) extends CpRef

  /** Mutable log-replay state shared by the checkpoint and JSON
    * paths: one action interpreter, two transports. */
  private final class ReplayState {
    var schema: StructType = null
    var partCols: Seq[String] = Seq.empty
    var configuration: Map[String, String] = Map.empty
    // the latest protocol action, verbatim — a checkpoint of this
    // snapshot must re-emit it (writing the base version-1 line for a
    // DV/column-mapped table would downgrade the table's contract)
    var protocolJson: String = BaseProtocolLine
    // keyed by (RAW path string exactly as written in the log,
    // deletion-vector uniqueId) — the protocol's file identity. A
    // DV rewrite emits remove(path, oldDv) + add(path, newDv) in ONE
    // commit; keying on the pair makes replay order-independent
    // within it (path-only keying would let the remove kill the new
    // add). Decode happens only at Path-resolution time, so pairing
    // is byte-exact regardless of how the writer encoded.
    val files: mutable.LinkedHashMap[(String, String), AddFile] =
      mutable.LinkedHashMap[(String, String), AddFile]()
  }

  /** Parse an `add.deletionVector` / `remove.deletionVector` struct;
    * None when the field is absent or JSON-null. */
  private def parseDv(parent: JsonNode): Option[DvDescriptor] =
    Option(parent.get("deletionVector")).filterNot(_.isNull).map { d =>
      val st = d.get("storageType").asText
      require(st == "u" || st == "i" || st == "p",
        s"unknown deletionVector storageType '$st'")
      DvDescriptor(st, d.get("pathOrInlineDv").asText,
        Option(d.get("offset")).filterNot(_.isNull).map(_.asInt),
        d.get("sizeInBytes").asInt,
        Option(d.get("cardinality")).filterNot(_.isNull)
          .map(_.asLong).getOrElse(-1L))
    }

  /** Apply one action (a parsed JSON-log line, or a checkpoint row
    * re-serialized to JSON). `fromCheckpoint` skips `remove`: a
    * checkpoint's removes are expired tombstones retained for vacuum,
    * not state transitions. */
  private def applyAction(node: JsonNode, st: ReplayState,
      fromCheckpoint: Boolean): Unit = {
    if (node.has("protocol")) {
      checkProtocol(node.get("protocol"))
      val pn = mapper.createObjectNode()
      pn.set[JsonNode]("protocol", node.get("protocol"))
      st.protocolJson = mapper.writeValueAsString(pn)
    }
    if (node.has("metaData")) {
      val md = node.get("metaData")
      val fmt = Option(md.get("format")).flatMap(f =>
        Option(f.get("provider"))).map(_.asText).getOrElse("parquet")
      require(fmt == "parquet", s"unsupported data format: $fmt")
      st.configuration = Option(md.get("configuration")).map { c =>
        val it = c.fieldNames()
        val m = mutable.LinkedHashMap[String, String]()
        while (it.hasNext) {
          val k = it.next()
          m += k -> (if (c.get(k).isNull) null else c.get(k).asText)
        }
        m.toMap
      }.getOrElse(Map.empty)
      val mapping =
        st.configuration.getOrElse("delta.columnMapping.mode", "none")
      // name and id mapped tables both REQUIRE physicalName per field
      // (the protocol), and Delta's id-mode files carry the physical
      // names too — so both modes read via physical-name projection
      require(mapping == "none" || mapping == "name" || mapping == "id",
        s"unknown column mapping mode '$mapping'")
      st.schema = DataType.fromJson(md.get("schemaString").asText)
        .asInstanceOf[StructType]
      st.partCols = Option(md.get("partitionColumns")).map(pc =>
        (0 until pc.size).map(pc.get(_).asText)).getOrElse(Seq.empty)
    }
    if (node.has("add")) {
      val a = node.get("add")
      val dv = parseDv(a)
      val pv = Option(a.get("partitionValues")).map { o =>
        val it = o.fieldNames()
        val m = mutable.LinkedHashMap[String, String]()
        while (it.hasNext) {
          val k = it.next()
          // null partition value = JSON null (protocol: missing
          // data encodes as null)
          m += k -> (if (o.get(k).isNull) null else o.get(k).asText)
        }
        m.toMap
      }.getOrElse(Map.empty[String, String])
      val path = a.get("path").asText
      val size = Option(a.get("size")).filterNot(_.isNull)
        .map(_.asLong).getOrElse(-1L)
      val mtime = Option(a.get("modificationTime")).filterNot(_.isNull)
        .map(_.asLong).getOrElse(0L)
      st.files += (path, dv.fold("")(_.uniqueId)) ->
        AddFile(path, pv, size, mtime, dv)
    }
    if (node.has("remove") && !fromCheckpoint) {
      val r = node.get("remove")
      st.files -= ((r.get("path").asText, parseDv(r).fold("")(_.uniqueId)))
    }
  }

  /** Replay the log (latest usable checkpoint + JSON commits) up to
    * `asOfVersion` (inclusive; None = latest) and return the table
    * snapshot. */
  def snapshot(spark: SparkSession, tablePath: String,
      asOfVersion: Option[Long] = None): Snapshot = {
    val logDir = new Path(tablePath, "_delta_log")
    val fs = logDir.getFileSystem(
      spark.sessionState.newHadoopConf())
    require(fs.exists(logDir), s"not a Delta table (no _delta_log): $tablePath")
    val versionRe = """(\d{20})\.json""".r
    val cpSingleRe = """(\d{20})\.checkpoint\.parquet""".r
    val cpMultiRe = """(\d{20})\.checkpoint\.(\d{10})\.(\d{10})\.parquet""".r
    // v2 checkpoints (the v2Checkpoint reader feature): UUID-named
    // top-level file, json or parquet, with file actions inline or in
    // _sidecars/ parquet files
    val cpV2Re = """(\d{20})\.checkpoint\.([0-9a-fA-F-]{36})\.(json|parquet)""".r
    val listing = fs.listStatus(logDir).toSeq
    val jsons = listing.flatMap { s =>
      s.getPath.getName match {
        case versionRe(v) => Some(v.toLong -> s.getPath)
        case _ => None
      }
    }.toMap
    // classic checkpoints, keeping only COMPLETE part sets (protocol:
    // a multi-part checkpoint is unusable unless all N parts exist)
    val cpParts = mutable.Map[Long, mutable.Map[Int, Path]]()
    val cpTotal = mutable.Map[Long, Int]()
    val cpV2 = mutable.Map[Long, (Path, Boolean)]() // path, isJson
    listing.foreach { s =>
      s.getPath.getName match {
        case cpSingleRe(v) =>
          cpParts.getOrElseUpdate(v.toLong, mutable.Map()) += 1 -> s.getPath
          cpTotal(v.toLong) = 1
        case cpMultiRe(v, part, total) =>
          cpParts.getOrElseUpdate(v.toLong, mutable.Map()) +=
            part.toInt -> s.getPath
          cpTotal(v.toLong) = total.toInt
        case cpV2Re(v, _, fmt) =>
          // multiple writers may race UUID checkpoints at one version;
          // all are complete by construction — pick deterministically
          val cand = (s.getPath, fmt == "json")
          cpV2.get(v.toLong) match {
            case Some((p, _)) if p.getName >= s.getPath.getName => ()
            case _ => cpV2(v.toLong) = cand
          }
        case _ => ()
      }
    }
    // completeness = every index 1..total PRESENT, not a size match:
    // a malformed set with the right count but wrong part indices
    // (e.g. parts 1 and 3 of 2) is unusable and must be SKIPPED like
    // a stale pointer, not crash the whole snapshot. A classic set and
    // a v2 file at the same version are both valid per the spec —
    // prefer the classic one (one read, no sidecar fan-out).
    val checkpoints: Map[Long, CpRef] = (cpParts.toMap.collect {
      case (v, parts) if (1 to cpTotal(v)).forall(parts.contains) =>
        v -> (ClassicCp((1 to cpTotal(v)).map(parts(_))): CpRef)
    }: Map[Long, CpRef]) ++
      cpV2.view.filterKeys(v => !cpParts.get(v).exists(p =>
        cpTotal.get(v).exists(t => (1 to t).forall(p.contains))))
        .mapValues { case (p, isJson) => V2Cp(p, isJson): CpRef }.toMap
    // `_last_checkpoint` is a pointer the protocol allows to be stale
    // or to name a checkpoint mid-write; parse it (it is the fast
    // path on object stores where LIST is expensive) but trust only
    // pointers whose checkpoint files are actually complete
    val lastCpFile = new Path(logDir, "_last_checkpoint")
    val lastCpHint: Option[Long] =
      if (!fs.exists(lastCpFile)) None
      else try {
        Some(mapper.readTree(AtomicPut.readUtf8(fs, lastCpFile))
          .get("version").asLong)
          .filter(checkpoints.contains)
      } catch { case scala.util.control.NonFatal(_) => None }

    val allVersions = jsons.keySet ++ checkpoints.keySet
    require(allVersions.nonEmpty, s"no JSON commits or checkpoints in $logDir")
    val reachable = allVersions.filter(v => asOfVersion.forall(v <= _))
    require(reachable.nonEmpty,
      s"no log state in $logDir at or below version ${asOfVersion.get} — " +
        "the early JSON history was checkpoint-truncated past it")
    val target = reachable.max
    // base = newest usable checkpoint ≤ target with contiguous JSON
    // after it (the `_last_checkpoint` hint first — on a real table
    // it IS the answer); fall back to pure-JSON replay from 0
    val cpCandidates =
      (lastCpHint.toSeq ++ checkpoints.keys.toSeq.sorted.reverse)
        .filter(v => v <= target &&
          ((v + 1) to target).forall(jsons.contains))
    val base: Option[Long] = cpCandidates.headOption
    require(base.isDefined || (0L to target).forall(jsons.contains),
      s"cannot reconstruct version $target of $tablePath: the JSON log " +
        s"is checkpoint-truncated (earliest JSON ${jsons.keySet.minOption
          .getOrElse("none")}) and no complete checkpoint ≤ $target " +
        s"covers the gap (checkpoints at ${checkpoints.keySet.toSeq.sorted
          .mkString("[", ",", "]")})")

    val st = new ReplayState
    base.foreach { cpV =>
      checkpoints(cpV) match {
        case ClassicCp(parts) =>
          // one parquet read; each row is one action struct —
          // re-serialize to JSON (toJSON omits null fields) and reuse
          // the interpreter. Driver-side collect is O(#live files),
          // the replay state's own bound. A classic-NAMED file must
          // not smuggle v2 columns (the spec ties layout to naming).
          val cp = spark.read.parquet(parts.map(_.toString): _*)
          require(!cp.columns.contains("checkpointMetadata") &&
            !cp.columns.contains("sidecar"),
            s"classic-named checkpoint $cpV carries v2 action columns " +
              "(protocol violation)")
          cp.toJSON.collect().foreach { line =>
            applyAction(mapper.readTree(line), st, fromCheckpoint = true)
          }
        case V2Cp(path, isJson) =>
          // v2: the top-level file carries protocol/metaData/
          // checkpointMetadata plus either inline file actions or
          // `sidecar` references; sidecars are parquet under
          // `_delta_log/_sidecars/` holding the add/remove actions.
          // A missing sidecar is a TORN checkpoint — loud, like a
          // missing JSON commit (unlike an incomplete classic part
          // set, nothing in the naming reveals it up front).
          val topLines: Seq[String] =
            if (isJson) AtomicPut.readUtf8(fs, path).linesIterator
              .filter(_.trim.nonEmpty).toSeq
            else spark.read.parquet(path.toString).toJSON.collect().toSeq
          var sawCpMeta = false
          val sidecars = mutable.ArrayBuffer[Path]()
          val sidecarDir = new Path(logDir, "_sidecars")
          topLines.foreach { line =>
            val node = mapper.readTree(line)
            if (node.has("checkpointMetadata") &&
                !node.get("checkpointMetadata").isNull) {
              val declared = node.get("checkpointMetadata").get("version")
              require(declared != null && declared.asLong == cpV,
                s"v2 checkpoint $path declares version " +
                  s"${Option(declared).map(_.asLong).orNull}, name says $cpV")
              sawCpMeta = true
            } else if (node.has("sidecar") && !node.get("sidecar").isNull) {
              sidecars += resolvePath(sidecarDir,
                node.get("sidecar").get("path").asText)
            } else applyAction(node, st, fromCheckpoint = true)
          }
          require(sawCpMeta,
            s"v2 checkpoint $path has no checkpointMetadata action " +
              "(protocol violation)")
          sidecars.foreach { sc =>
            require(fs.exists(sc),
              s"v2 checkpoint $path references missing sidecar $sc " +
                "(torn checkpoint)")
          }
          // mergeSchema: sidecars are written independently, so one
          // without (say) any file-backed DV lacks the offset field —
          // first-file schema would silently null it out of the rest
          if (sidecars.nonEmpty)
            spark.read.option("mergeSchema", "true")
              .parquet(sidecars.toSeq.map(_.toString): _*)
              .toJSON.collect().foreach { line =>
                applyAction(mapper.readTree(line), st, fromCheckpoint = true)
              }
      }
      require(st.schema != null,
        s"checkpoint $cpV of $tablePath has no metaData row")
    }
    for (v <- (base.fold(0L)(_ + 1L)) to target; p = jsons(v)) {
      val in = fs.open(p)
      val content = try {
        val bos = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](8192)
        var n = in.read(buf)
        while (n != -1) { bos.write(buf, 0, n); n = in.read(buf) }
        bos.toString("UTF-8")
      } finally in.close()
      content.linesIterator.filter(_.trim.nonEmpty).foreach { line =>
        applyAction(mapper.readTree(line), st, fromCheckpoint = false)
      }
    }
    require(st.schema != null, s"no metaData action in the log of $tablePath")
    Snapshot(target, st.schema, st.partCols, st.files.values.toSeq,
      st.configuration, st.protocolJson)
  }

  /** Reader features this reader actually implements; anything else
    * in a reader-version-3 table's `readerFeatures` rejects loudly. */
  /** `vacuumProtocolCheck` exists to force VACUUM implementations to
    * honor the writer protocol before deleting files; the published
    * spec requires nothing of pure readers, so a read-only engine
    * supports it by construction (Databricks enables it by default —
    * rejecting it would refuse real tables for no reason). */
  private val SupportedReaderFeatures =
    Set("deletionVectors", "columnMapping", "timestampNtz",
      "v2Checkpoint", "vacuumProtocolCheck")

  private def checkProtocol(p: JsonNode): Unit = {
    val reader = Option(p.get("minReaderVersion")).map(_.asInt).getOrElse(1)
    if (reader >= 3) {
      val feats = Option(p.get("readerFeatures")).map(f =>
        (0 until f.size).map(f.get(_).asText).toSet).getOrElse(Set.empty)
      val unsupported = feats -- SupportedReaderFeatures
      // v2Checkpoint / sidecars and future features stay rejected
      require(unsupported.isEmpty,
        s"unsupported Delta reader features: ${unsupported.mkString(", ")}" +
          s" (implemented: ${SupportedReaderFeatures.toSeq.sorted.mkString(", ")})")
    } else require(reader <= 2,
      s"unsupported minReaderVersion $reader")
    // reader version 2 tables are column-mapping CAPABLE; mapping is
    // handled by physical-name projection either way
  }

  /** Resolve an add/remove `path` against the table root. Per
    * PROTOCOL.md the field is an RFC 2396 URI (percent-encoded),
    * relative to the table root unless absolute — decode BEFORE
    * touching the filesystem (a raw `new Path(rel)` reads the wrong
    * file, or none, whenever a name contains a space/'%'/unicode).
    * Illegal URIs (some writers emit raw paths) fall back to the
    * literal string. */
  private[sources] def resolvePath(root: Path, rel: String): Path = {
    val uri =
      try new java.net.URI(rel)
      catch { case _: java.net.URISyntaxException => null }
    if (uri == null) {
      val p = new Path(rel)
      if (p.isAbsolute) p else new Path(root, p)
    } else if (uri.isAbsolute) new Path(uri)
    else {
      // decoded relative path; the 3-arg Path ctor skips URI
      // re-parsing so ':' or '%' in decoded names stay literal
      val p = new Path(null, null, uri.getPath)
      if (p.isAbsolute) p else new Path(root, p)
    }
  }

  /** The PHYSICAL column name of a schema field under the snapshot's
    * column mapping mode. Both `name` and `id` mapped tables carry
    * `delta.columnMapping.physicalName` on every field (the protocol
    * requires it), and Delta's id-mode parquet files store the
    * physical names too — so one physical-name projection serves both
    * modes. */
  private def physName(snap: Snapshot)(f: org.apache.spark.sql.types.StructField): String = {
    val mode = snap.configuration.getOrElse("delta.columnMapping.mode", "none")
    if (mode == "none") f.name
    else {
      require(f.metadata.contains("delta.columnMapping.physicalName"),
        s"column-mapped table ('$mode') but field '${f.name}' carries no " +
          "delta.columnMapping.physicalName metadata (protocol violation)")
      f.metadata.getString("delta.columnMapping.physicalName")
    }
  }

  /** The single-scan relation over a snapshot's data files, columns
    * under their PHYSICAL names, `_metadata` still resolvable (the DV
    * anti-join and the MoR delete writer both key on it). */
  private def baseRelation(spark: SparkSession, tablePath: String,
      snap: Snapshot): DataFrame = {
    val pn = physName(snap) _
    val partSet = snap.partitionColumns.toSet
    val dataSchema = StructType(
      snap.schema.filterNot(f => partSet(f.name))
        .map(f => org.apache.spark.sql.types.StructField(
          pn(f), f.dataType, f.nullable)))
    // add.partitionValues keys are PHYSICAL names under column mapping
    val partitionSchema = StructType(snap.partitionColumns.map { c =>
      val f = snap.schema(c)
      org.apache.spark.sql.types.StructField(pn(f), f.dataType, f.nullable)
    })
    val root = new Path(tablePath)
    val qualified = root.getFileSystem(
      spark.sessionState.newHadoopConf()).makeQualified(root)
    val metaFiles = snap.files.map(f => MetaDataFile(
      resolvePath(qualified, f.path), f.size, f.modificationTime,
      f.partitionValues))
    val index = new MetaFileIndex(spark, root, partitionSchema, metaFiles)
    val relation = HadoopFsRelation(index, partitionSchema, dataSchema,
      None, new ParquetFileFormat(), Map.empty[String, String])(spark)
    spark.baseRelationToDataFrame(relation)
  }

  /** Resolve a DV descriptor to what the decode task needs: for `i`
    * the payload IS the z85 bytes; for `u` the file is
    * `[prefix/]deletion_vector_<uuid>.bin` under the table root (the
    * descriptor's last 20 chars are the z85 UUID, anything before is
    * the random prefix); `p` is an absolute path. */
  private def dvFileOrInline(qualifiedRoot: Path, d: DvDescriptor): String =
    d.storageType match {
      case "i" => d.pathOrInlineDv
      case "p" => d.pathOrInlineDv
      case "u" =>
        require(d.pathOrInlineDv.length >= 20,
          s"malformed 'u' deletionVector path '${d.pathOrInlineDv}'")
        val (prefix, uuidZ) =
          d.pathOrInlineDv.splitAt(d.pathOrInlineDv.length - 20)
        val ub = graft.util.Z85.decode(uuidZ, 16)
        val bb = java.nio.ByteBuffer.wrap(ub)
        val uuid = new java.util.UUID(bb.getLong, bb.getLong)
        val dir = if (prefix.isEmpty) qualifiedRoot
          else new Path(qualifiedRoot, prefix)
        new Path(dir, s"deletion_vector_$uuid.bin").toString
    }

  /** Read one DV's bitmap bytes out of an on-disk DV file: version
    * byte 1 at offset 0, then at `offset` a 4-byte BIG-endian data
    * size (must equal the descriptor's sizeInBytes), the bitmap
    * bytes, and a 4-byte big-endian CRC-32 of them — verified, so a
    * torn vector can never read as "fewer deleted rows". Runs on
    * EXECUTORS (one task per DV). */
  private[sources] def readDvBytes(conf: org.apache.hadoop.conf.Configuration,
      file: String, offset: Int, sizeInBytes: Int): Array[Byte] = {
    val p = new Path(file)
    val in = p.getFileSystem(conf).open(p)
    try {
      val ver = in.read()
      require(ver == 1, s"unsupported DV file format version $ver in $file")
      in.seek(offset.toLong)
      val dataSize = in.readInt() // big-endian, like the spec's writer
      require(dataSize == sizeInBytes,
        s"DV at $file@$offset declares $dataSize bytes, descriptor says " +
          s"$sizeInBytes")
      val bytes = new Array[Byte](dataSize)
      in.readFully(bytes)
      val crc = in.readInt()
      val c = new java.util.zip.CRC32(); c.update(bytes)
      require(crc == c.getValue.toInt,
        s"DV checksum mismatch at $file@$offset")
      bytes
    } finally in.close()
  }

  /** Read the table as a DataFrame: ONE parquet relation over a
    * log-backed FileIndex carrying the partition spec; partition-
    * column predicates prune file listings inside the single scan
    * node (plan size independent of partition count). Deletion
    * vectors apply as an anti-join on Spark's own
    * `_metadata.(file_path, row_index)` scan columns — the same MoR
    * shape as [[IcebergCompat.read]]'s positional deletes, with the
    * per-file bitmaps DECODED ON EXECUTORS (one flatMap task per DV,
    * so a 100-TB table's millions of deleted positions never
    * materialize on the driver). Column-mapped tables scan under
    * physical names and project back to logical ones. */
  def read(spark: SparkSession, tablePath: String,
      asOfVersion: Option[Long] = None): DataFrame = {
    val snap = snapshot(spark, tablePath, asOfVersion)
    require(snap.files.nonEmpty || snap.schema.nonEmpty,
      s"empty snapshot for $tablePath")
    if (snap.files.isEmpty) {
      // empty table: zero-row frame with the declared schema
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], snap.schema)
    }
    val pn = physName(snap) _
    val base = baseRelation(spark, tablePath, snap)
    val outCols = snap.schema.map(f => col(pn(f)).as(f.name))
    val dvFiles = snap.files.filter(_.dv.isDefined)
    if (dvFiles.isEmpty) base.select(outCols: _*)
    else {
      import spark.implicits._
      val root = new Path(tablePath)
      val qualified = root.getFileSystem(
        spark.sessionState.newHadoopConf()).makeQualified(root)
      // one spec row per DV: the scan's _metadata.file_path form of
      // the data file + where its bitmap lives
      val specs: Seq[(String, String, String, Int, Int)] =
        dvFiles.map { f =>
          val d = f.dv.get
          (org.apache.spark.paths.SparkPath.fromPath(
            resolvePath(qualified, f.path)).urlEncoded,
            d.storageType, dvFileOrInline(qualified, d),
            d.offset.getOrElse(-1), d.sizeInBytes)
        }
      val hconf = new org.apache.spark.util.SerializableConfiguration(
        spark.sessionState.newHadoopConf())
      val dels = spark.createDataset(specs)
        .flatMap { case (fp, st, payload, off, size) =>
          val bytes =
            if (st == "i") graft.util.Z85.decode(payload, size)
            else readDvBytes(hconf.value, payload, off, size)
          graft.util.RoaringBitmapArray.decode(bytes).map(pos => (fp, pos))
        }
        .toDF("_dv_del_fp", "_dv_del_pos")
      base
        .withColumn("_dv_fp", col("_metadata.file_path"))
        .withColumn("_dv_pos", col("_metadata.row_index"))
        .join(dels, col("_dv_fp") === col("_dv_del_fp") &&
          col("_dv_pos") === col("_dv_del_pos"), "left_anti")
        .select(outCols: _*)
    }
  }

  /** Materialize a DataFrame as a MINIMAL protocol-valid Delta table:
    * Spark writes the parquet data files (partitioned layout if
    * `partitionBy` is set — Spark's `k=v/` dir convention is Delta's),
    * then one version-0 commit (protocol + metaData + adds) describes
    * them. Reader-version-1 only, single snapshot — an export/fixture
    * writer (real Delta readers can open the result), NOT a
    * transactional writer: no appends, no concurrent-commit
    * arbitration (that is `VersionedTable`'s job on its own format).
    * Partition dir names unescape via Spark's own Hive-path rules
    * (URLDecoder would corrupt a literal '+' to a space); emitted
    * `add.path` fields are URI-encoded per the protocol. */
  def writeTable(df: DataFrame, tablePath: String,
      partitionBy: Seq[String] = Nil, columnMapping: Boolean = false): Unit = {
    val spark = df.sparkSession
    // name-mode column mapping: parquet files (and partition dirs)
    // carry PHYSICAL names; the metaData schema keeps the logical
    // names with the protocol's physicalName/id metadata per field
    val physOf: Map[String, String] =
      if (!columnMapping) df.columns.map(c => c -> c).toMap
      else df.columns.zipWithIndex.map { case (c, i) =>
        c -> s"col-${i + 1}" }.toMap
    val physDf =
      if (!columnMapping) df
      else df.toDF(df.columns.map(physOf): _*)
    val physPartBy = partitionBy.map(physOf)
    val w = physDf.write.mode("overwrite")
    (if (physPartBy.nonEmpty) w.partitionBy(physPartBy: _*) else w)
      .parquet(tablePath)
    val root = new Path(tablePath)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    // enumerate data files; partition values parse from the k=v dirs
    val it = fs.listFiles(root, true)
    val adds = mutable.ArrayBuffer[String]()
    while (it.hasNext) {
      val st = it.next()
      val name = st.getPath.getName
      if (name.endsWith(".parquet") && !name.startsWith("_")) {
        val rel = st.getPath.toString
          .stripPrefix(fs.makeQualified(root).toString).stripPrefix("/")
        val pv = rel.split('/').dropRight(1).collect {
          case seg if seg.contains('=') =>
            val Array(k, v) = seg.split("=", 2)
            val dec = ExternalCatalogUtils.unescapePathName(v)
            val vJson =
              if (dec == ExternalCatalogUtils.DEFAULT_PARTITION_NAME) "null"
              else mapper.writeValueAsString(dec)
            s"${mapper.writeValueAsString(k)}:$vJson"
        }.mkString(",")
        val uriPath = new java.net.URI(null, null, rel, null).toASCIIString
        adds += s"""{"add":{"path":${mapper.writeValueAsString(uriPath)},""" +
          s""""partitionValues":{$pv},""" +
          s""""size":${st.getLen},"modificationTime":${st.getModificationTime},""" +
          """"dataChange":true}}"""
      }
    }
    require(adds.nonEmpty, s"no data files written under $tablePath")
    val metaSchema =
      if (!columnMapping) df.schema
      else StructType(df.schema.fields.zipWithIndex.map { case (f, i) =>
        f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata)
          .putString("delta.columnMapping.physicalName", physOf(f.name))
          .putLong("delta.columnMapping.id", i + 1L)
          .build())
      })
    val hasNtz = df.schema.exists(_.dataType ==
      org.apache.spark.sql.types.TimestampNTZType)
    // the protocol line the TABLE needs: base v1, reader-2 for column
    // mapping, reader-3 + named features when timestampNtz is present
    val protoLine =
      if (hasNtz) {
        val feats = (if (columnMapping) Seq("columnMapping") else Nil) :+
          "timestampNtz"
        val fj = feats.map(f => s""""$f"""").mkString(",")
        s"""{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
          s""""readerFeatures":[$fj],"writerFeatures":[$fj]}}"""
      } else if (columnMapping)
        """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}"""
      else BaseProtocolLine
    val cfgJson =
      if (!columnMapping) "{}"
      else s"""{"delta.columnMapping.mode":"name",""" +
        s""""delta.columnMapping.maxColumnId":"${df.schema.size}"}"""
    val schemaJson = metaSchema.json.replace("\\", "\\\\").replace("\"", "\\\"")
    // metaData.partitionColumns lists LOGICAL names; the adds'
    // partitionValues keys parsed from the dirs are physical already
    val partJson = partitionBy.map(c => s""""$c"""").mkString(",")
    val lines = Seq(
      protoLine,
      s"""{"metaData":{"id":"graft-${math.abs(tablePath.hashCode)}","format":{"provider":"parquet","options":{}},"schemaString":"$schemaJson","partitionColumns":[$partJson],"configuration":$cfgJson,"createdTime":0}}""") ++ adds
    val logDir = new Path(root, "_delta_log")
    fs.mkdirs(logDir)
    val out = fs.create(new Path(logDir, f"${0L}%020d.json"), true)
    try out.write(lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    finally out.close()
    // Spark's own _SUCCESS marker is harmless but not a Delta file
  }

  private def dvNode(d: DvDescriptor)
      : com.fasterxml.jackson.databind.node.ObjectNode = {
    val n = mapper.createObjectNode()
    n.put("storageType", d.storageType)
    n.put("pathOrInlineDv", d.pathOrInlineDv)
    d.offset.foreach(o => n.put("offset", o))
    n.put("sizeInBytes", d.sizeInBytes)
    n.put("cardinality", d.cardinality)
    n
  }

  /** MINIMAL merge-on-read DELETE via DELETION VECTORS — no data file
    * is rewritten: every current row matching `predicate` joins the
    * per-file deleted-position bitmaps, each affected file is
    * `remove`d under its OLD DV id and re-`add`ed with the NEW one
    * (positions are CUMULATIVE — a superseding DV carries the union,
    * per the protocol: one vector per file, vectors do not stack),
    * and one new JSON commit publishes it with the deletionVectors
    * reader/writer feature protocol. Small vectors inline
    * (storageType `i`), larger ones pack into ONE
    * `deletion_vector_<uuid>.bin` under the table root (storageType
    * `u`, multiple DVs per file at their offsets — the spec layout:
    * version byte, then per DV a 4-byte big-endian size, the bitmap,
    * and a CRC-32). Fixture/export grade like [[writeTable]]:
    * single-writer, no concurrent-commit arbitration. Returns the new
    * version. */
  def writeDeletionVectors(spark: SparkSession, tablePath: String,
      predicate: org.apache.spark.sql.Column,
      inlineThreshold: Int = 64): Long = {
    val snap = snapshot(spark, tablePath)
    val pn = physName(snap) _
    val root = new Path(tablePath)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val qualified = fs.makeQualified(root)
    // scan-form file_path -> the RAW add.path key of the log
    val scanToRaw: Map[String, String] = snap.files.map { f =>
      org.apache.spark.paths.SparkPath.fromPath(
        resolvePath(qualified, f.path)).urlEncoded -> f.path
    }.toMap
    val base = baseRelation(spark, tablePath, snap)
    val outCols = snap.schema.map(f => col(pn(f)).as(f.name))
    // positions of every matching row (already-deleted rows included:
    // the new vector is the union either way)
    val matches = base
      .withColumn("_dv_fp", col("_metadata.file_path"))
      .withColumn("_dv_pos", col("_metadata.row_index"))
      .select((outCols :+ col("_dv_fp") :+ col("_dv_pos")): _*)
      .filter(predicate)
      .select("_dv_fp", "_dv_pos")
      .collect() // fixture-grade: O(matched rows) on the driver
      .groupBy(r => scanToRaw(r.getString(0)))
      .view.mapValues(_.map(_.getLong(1))).toMap
    val hconf = spark.sessionState.newHadoopConf()
    // per affected file: union with the existing vector, re-encode;
    // files whose union equals their current vector are NO-OPS (every
    // matched row was already deleted) and are left untouched — a
    // rewrite would churn a new DV id for identical content
    val newVectors: Seq[(AddFile, Array[Byte])] =
      snap.files.filter(f => matches.contains(f.path)).flatMap { f =>
        val old: Array[Long] = f.dv.fold(Array.empty[Long]) { d =>
          val bytes =
            if (d.storageType == "i")
              graft.util.Z85.decode(d.pathOrInlineDv, d.sizeInBytes)
            else readDvBytes(hconf, dvFileOrInline(qualified, d),
              d.offset.getOrElse(-1), d.sizeInBytes)
          graft.util.RoaringBitmapArray.decode(bytes)
        }
        val union = (old ++ matches(f.path)).distinct.sorted
        if (union.length == old.length) None
        else Some(f -> graft.util.RoaringBitmapArray.encode(union))
      }
    require(newVectors.nonEmpty,
      s"predicate matched no live rows of $tablePath — nothing to delete")
    // pack every over-threshold vector into one on-disk DV file
    val fileBacked = newVectors.filter(_._2.length > inlineThreshold)
    val fileDescriptors: Map[String, DvDescriptor] =
      if (fileBacked.isEmpty) Map.empty
      else {
        // deterministic UUID from the packed content (reproducible fixtures)
        val digest = java.security.MessageDigest.getInstance("MD5")
        fileBacked.foreach { case (f, b) =>
          digest.update(f.path.getBytes("UTF-8")); digest.update(b) }
        val uuid = java.util.UUID.nameUUIDFromBytes(digest.digest())
        val bos = new java.io.ByteArrayOutputStream()
        val dos = new java.io.DataOutputStream(bos)
        dos.writeByte(1) // DV file format version
        val descs = fileBacked.map { case (f, bytes) =>
          val off = bos.size()
          dos.writeInt(bytes.length) // big-endian
          dos.write(bytes)
          val c = new java.util.zip.CRC32(); c.update(bytes)
          dos.writeInt(c.getValue.toInt)
          val ub = java.nio.ByteBuffer.allocate(16)
            .putLong(uuid.getMostSignificantBits)
            .putLong(uuid.getLeastSignificantBits).array()
          f.path -> DvDescriptor("u", graft.util.Z85.encode(ub),
            Some(off), bytes.length, -1L)
        }
        dos.flush()
        val out = fs.create(
          new Path(qualified, s"deletion_vector_$uuid.bin"), true)
        try out.write(bos.toByteArray) finally out.close()
        descs.toMap
      }
    val commitLines = newVectors.flatMap { case (f, bytes) =>
      val nDel = graft.util.RoaringBitmapArray.decode(bytes).length.toLong
      val desc = fileDescriptors.getOrElse(f.path,
        DvDescriptor("i", graft.util.Z85.encode(bytes), None,
          bytes.length, nDel)).copy(cardinality = nDel)
      val rm = mapper.createObjectNode()
      val rmo = rm.putObject("remove")
      rmo.put("path", f.path)
      rmo.put("deletionTimestamp", 1L)
      rmo.put("dataChange", true)
      f.dv.foreach(d => rmo.set[JsonNode]("deletionVector", dvNode(d)))
      val ad = mapper.createObjectNode()
      val ado = ad.putObject("add")
      ado.put("path", f.path)
      val pvo = ado.putObject("partitionValues")
      f.partitionValues.foreach { case (k, v) =>
        if (v == null) pvo.putNull(k) else pvo.put(k, v)
      }
      ado.put("size", f.size)
      ado.put("modificationTime", f.modificationTime)
      ado.put("dataChange", true)
      ado.set[JsonNode]("deletionVector", dvNode(desc))
      Seq(mapper.writeValueAsString(rm), mapper.writeValueAsString(ad))
    }
    // UNION the feature into the table's own protocol — emitting only
    // ["deletionVectors"] on a column-mapped/NTZ table would strip
    // those capabilities from the protocol other readers honor
    val protoLine = protocolWithFeatures(snap.protocolJson,
      Seq("deletionVectors"))
    val newV = snap.version + 1
    val out = fs.create(
      new Path(new Path(root, "_delta_log"), f"$newV%020d.json"), true)
    try out.write((protoLine +: commitLines)
      .mkString("", "\n", "\n").getBytes("UTF-8"))
    finally out.close()
    newV
  }

  /** Write a classic single-part checkpoint parquet for `version`
    * (default: latest) plus the `_last_checkpoint` pointer — the
    * maintenance step that lets log-cleanup delete old JSON commits
    * (and the reason a reader MUST understand checkpoints). Row
    * layout per PROTOCOL.md's checkpoint schema: one action struct
    * per row (`protocol` / `metaData` / one `add` per live file),
    * null elsewhere; expired tombstones are vacuum bookkeeping and a
    * fresh snapshot has none to persist. */
  def checkpoint(spark: SparkSession, tablePath: String,
      version: Option[Long] = None): Long = {
    import spark.implicits._
    val snap = snapshot(spark, tablePath, version)
    val (headLines, addLines) = snapshotActionLines(snap, tablePath)
    val actionLines = headLines ++ addLines
    // JSON-lines → one struct row per action, written as ONE parquet
    // file (a checkpoint must be self-consistent; one part suffices
    // for the file counts this writer targets)
    val df = spark.read.json(actionLines.toDS())
    val logDir = new Path(tablePath, "_delta_log")
    val fs = logDir.getFileSystem(spark.sessionState.newHadoopConf())
    val dest = new Path(logDir, f"${snap.version}%020d.checkpoint.parquet")
    writeOneParquet(spark, df, dest,
      new Path(logDir, s".cp_staging_${snap.version}"))
    val ptr = fs.create(new Path(logDir, "_last_checkpoint"), true)
    try ptr.write(
      s"""{"version":${snap.version},"size":${actionLines.size}}"""
        .getBytes("UTF-8"))
    finally ptr.close()
    snap.version
  }

  /** The checkpoint action lines of a snapshot: (protocol + metaData,
    * one `add` per live file). The protocol is the table's OWN (a
    * DV/column-mapped table must not be downgraded to the base
    * version by its checkpoint). */
  private def snapshotActionLines(snap: Snapshot, tablePath: String)
      : (Seq[String], Seq[String]) = {
    val mdNode = mapper.createObjectNode()
    val md = mdNode.putObject("metaData")
    md.put("id", s"graft-${math.abs(tablePath.hashCode)}")
    md.putObject("format").put("provider", "parquet")
      .putObject("options")
    md.put("schemaString", snap.schema.json)
    val pcArr = md.putArray("partitionColumns")
    snap.partitionColumns.foreach(pcArr.add)
    val cfgNode = md.putObject("configuration")
    snap.configuration.foreach { case (k, v) =>
      if (v == null) cfgNode.putNull(k) else cfgNode.put(k, v)
    }
    md.put("createdTime", 0L)
    val addLines = snap.files.map { f =>
      val n = mapper.createObjectNode()
      val a = n.putObject("add")
      a.put("path", f.path)
      val pvo = a.putObject("partitionValues")
      f.partitionValues.foreach { case (k, v) =>
        if (v == null) pvo.putNull(k) else pvo.put(k, v)
      }
      a.put("size", f.size)
      a.put("modificationTime", f.modificationTime)
      a.put("dataChange", true)
      f.dv.foreach(d => a.set[JsonNode]("deletionVector", dvNode(d)))
      mapper.writeValueAsString(n)
    }
    (Seq(snap.protocolJson, mapper.writeValueAsString(mdNode)), addLines)
  }

  /** Stage-and-rename a DataFrame into exactly one parquet file. */
  private def writeOneParquet(spark: SparkSession, df: DataFrame,
      dest: Path, staging: Path): Unit = {
    val fs = dest.getFileSystem(spark.sessionState.newHadoopConf())
    df.coalesce(1).write.mode("overwrite").parquet(staging.toString)
    val part = fs.listStatus(staging).map(_.getPath)
      .find(_.getName.endsWith(".parquet"))
      .getOrElse(sys.error(s"staging produced no parquet: $staging"))
    fs.delete(dest, false)
    require(fs.rename(part, dest), s"rename $part -> $dest failed")
    fs.delete(staging, true)
  }

  /** The table's protocol line upgraded to reader-3 with `add`ed
    * features UNIONED into the existing set — NEVER replacing it: a
    * DV commit on a column-mapped table that emitted only
    * ["deletionVectors"] would strip the mapping capability other
    * readers key off (round-13 composition find). Legacy reader-2
    * maps to its implied columnMapping capability. */
  private def protocolWithFeatures(protocolJson: String,
      add: Seq[String]): String = {
    val p = mapper.readTree(protocolJson).get("protocol")
    val reader = Option(p.get("minReaderVersion")).map(_.asInt).getOrElse(1)
    val existing: Seq[String] =
      if (reader >= 3)
        Option(p.get("readerFeatures")).map(f =>
          (0 until f.size).map(f.get(_).asText)).getOrElse(Nil)
      else if (reader == 2) Seq("columnMapping")
      else Nil
    val feats = (existing ++ add).distinct
    val fj = feats.map(f => s""""$f"""").mkString(",")
    s"""{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
      s""""readerFeatures":[$fj],"writerFeatures":[$fj]}}"""
  }

  /** Write a V2 CHECKPOINT for `version` (default: latest): a
    * UUID-named top-level file (`json` or `parquet` per `format`)
    * carrying protocol + metaData + checkpointMetadata, with the file
    * actions fanned out into `numSidecars` parquet files under
    * `_delta_log/_sidecars/` (0 = inline in the top-level file — both
    * layouts are spec-valid), plus the `_last_checkpoint` pointer.
    * The emitted protocol is upgraded to declare the `v2Checkpoint`
    * feature, as the spec requires of any table that has one. The
    * UUID derives from the content so fixtures reproduce. */
  def checkpointV2(spark: SparkSession, tablePath: String,
      version: Option[Long] = None, numSidecars: Int = 1,
      format: String = "parquet"): Long = {
    import spark.implicits._
    require(format == "parquet" || format == "json",
      s"v2 checkpoint format must be json or parquet, got $format")
    require(numSidecars >= 0, s"numSidecars must be >= 0, got $numSidecars")
    val snap = snapshot(spark, tablePath, version)
    val (headLines0, addLines) = snapshotActionLines(snap, tablePath)
    val headLines = protocolWithFeatures(snap.protocolJson,
      Seq("v2Checkpoint")) +: headLines0.tail
    val logDir = new Path(tablePath, "_delta_log")
    val fs = logDir.getFileSystem(spark.sessionState.newHadoopConf())
    val digest = java.security.MessageDigest.getInstance("MD5")
    (headLines ++ addLines).foreach(l => digest.update(l.getBytes("UTF-8")))
    val uuid = java.util.UUID.nameUUIDFromBytes(digest.digest())
    val cpMetaLine =
      s"""{"checkpointMetadata":{"version":${snap.version}}}"""
    val sidecarLines: Seq[String] =
      if (numSidecars == 0 || addLines.isEmpty) Nil
      else {
        val scDir = new Path(logDir, "_sidecars")
        fs.mkdirs(scDir)
        val groups = addLines.zipWithIndex
          .groupBy(_._2 % numSidecars).toSeq.sortBy(_._1)
          .map(_._2.map(_._1))
        groups.zipWithIndex.map { case (lines, i) =>
          val dest = new Path(scDir, s"$uuid-$i.parquet")
          writeOneParquet(spark, spark.read.json(lines.toDS()), dest,
            new Path(scDir, s".sc_staging_$uuid-$i"))
          val len = fs.getFileStatus(dest).getLen
          s"""{"sidecar":{"path":"$uuid-$i.parquet","sizeInBytes":$len,""" +
            s""""modificationTime":0}}"""
        }
      }
    val inlineAdds = if (numSidecars == 0) addLines else Nil
    val topLines = headLines ++ Seq(cpMetaLine) ++ sidecarLines ++ inlineAdds
    val dest = new Path(logDir,
      f"${snap.version}%020d.checkpoint.$uuid.$format")
    if (format == "json") {
      val out = fs.create(dest, true)
      try out.write(topLines.mkString("", "\n", "\n").getBytes("UTF-8"))
      finally out.close()
    } else writeOneParquet(spark, spark.read.json(topLines.toDS()), dest,
      new Path(logDir, s".cpv2_staging_$uuid"))
    // size = total ACTIONS in the checkpoint: the top-level lines plus
    // the sidecar-resident file actions (inline layouts already carry
    // them in topLines — counting both would double-report)
    val sizeActions = topLines.size +
      (if (sidecarLines.nonEmpty) addLines.size else 0)
    val ptr = fs.create(new Path(logDir, "_last_checkpoint"), true)
    try ptr.write(
      s"""{"version":${snap.version},"size":$sizeActions}"""
        .getBytes("UTF-8"))
    finally ptr.close()
    snap.version
  }
}
