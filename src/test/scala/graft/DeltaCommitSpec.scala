package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import graft.lakehouse.VersionedTable

/** File-granular (copy-on-write) commits: `commitDelta`/`appendDelta`
  * — versions that REFERENCE untouched files and write only new ones,
  * so mutation cost follows affected data, not table size. */
class DeltaCommitSpec extends SparkSpec {

  private def fs(root: String) =
    org.apache.hadoop.fs.FileSystem.get(new java.net.URI(root),
      spark.sparkContext.hadoopConfiguration)

  private def initTable(prefix: String, files: Int = 4,
      statsCols: Seq[String] = Nil, bloomCols: Seq[String] = Nil): String = {
    val root = tmpDir(prefix) + "/t"
    val df = spark.range(0, 4000).toDF("k")
      .select(col("k"), (col("k") % 97L).as("v"),
        (col("k") * 2654435761L % 99991L).as("id"))
    VersionedTable.commit(spark, root, keepVersions = 8,
      statsCols = statsCols, bloomCols = bloomCols) { stage =>
      df.repartitionByRange(files, col("k"))
        .sortWithinPartitions("k").write.parquet(stage)
    }
    root
  }

  test("appendDelta: new version references old files, copies nothing") {
    import spark.implicits._
    val root = initTable("deltaapp")
    val v1Files = VersionedTable.currentFiles(spark, root)
    assert(v1Files.size == 4 && v1Files.forall(_.startsWith("_v-1/")))
    val v2 = VersionedTable.appendDelta(spark, root, keepVersions = 8) {
      stage => Seq((9001L, 1L, 1L), (9002L, 2L, 2L)).toDF("k", "v", "id")
        .coalesce(1).write.parquet(stage)
    }
    assert(v2 == 2L)
    // the new dir holds ONLY the appended file(s)
    val v2Own = fs(root).listStatus(new Path(s"$root/_v-2")).toSeq
      .filter(st => st.isFile && !st.getPath.getName.startsWith("_"))
    assert(v2Own.size == 1, "append copied more than the batch")
    // the manifest's file list spans both dirs
    val refs = VersionedTable.filesOf(spark, root, 2L).get
    assert(refs.count(_.startsWith("_v-1/")) == 4)
    assert(refs.count(_.startsWith("_v-2/")) == 1)
    // read = old ∪ new; time travel still serves v1
    assert(VersionedTable.read(spark, root).count() == 4002)
    assert(VersionedTable.read(spark, root)
      .filter(col("k") >= 9000L).count() == 2)
    assert(VersionedTable.readVersion(spark, root, 1L).count() == 4000)
  }

  test("commitDelta drop-only: carried subset, no writer output") {
    val root = initTable("deltadrop")
    val files = VersionedTable.currentFiles(spark, root)
    // drop one whole file (range boundaries are sample-approximate, so
    // derive expectations from the file's actual contents)
    val dropped = spark.read.parquet(s"$root/${files.head}")
    val droppedKs = dropped.select("k").collect().map(_.getLong(0)).toSet
    val keep = files.tail
    val v2 = VersionedTable.commitDelta(spark, root, keep,
      keepVersions = 8) { _ => () }
    assert(v2 == 2L)
    val left = VersionedTable.read(spark, root)
    assert(left.count() == 4000L - droppedKs.size)
    assert(left.filter(col("k").isin(droppedKs.toSeq.take(50): _*))
      .count() == 0)
  }

  test("commitDelta rewrite: replace one file, carry the rest; exact result") {
    val root = initTable("deltarw")
    val files = VersionedTable.currentFiles(spark, root)
    val (affected, kept) = files.partition(_ == files.head)
    val affectedDf = spark.read.parquet(affected.map(f => s"$root/$f"): _*)
    val affKs = affectedDf.select("k").collect().map(_.getLong(0))
    val affOdd = affKs.count(_ % 2L == 1L)
    VersionedTable.commitDelta(spark, root, kept, keepVersions = 8) { stage =>
      affectedDf.filter(col("k") % 2L === 0L)
        .write.parquet(stage)
    }
    val got = VersionedTable.read(spark, root)
    // odd rows of the affected file are gone, everything else untouched
    assert(got.count() == 4000L - affOdd)
    val gotKs = got.select("k").collect().map(_.getLong(0)).toSet
    assert(affKs.filter(_ % 2L == 1L).forall(!gotKs.contains(_)))
    assert(affKs.filter(_ % 2L == 0L).forall(gotKs.contains))
  }

  test("delta commits carry stats + blooms; skipping stays exact and selective") {
    import spark.implicits._
    val root = initTable("deltastats", statsCols = Seq("k"),
      bloomCols = Seq("id"))
    VersionedTable.appendDelta(spark, root, keepVersions = 8,
      statsCols = Seq("k"), bloomCols = Seq("id")) { stage =>
      Seq((9001L, 1L, 77777L)).toDF("k", "v", "id")
        .coalesce(1).write.parquet(stage)
    }
    val st = VersionedTable.manifestStats(spark, root, 2L)
    assert(st.size == 5, s"expected stats for all 5 files, got ${st.size}")
    assert(st.forall(_.min.contains("k")))
    // carried stats are byte-identical copies, not rescans
    val v1 = VersionedTable.manifestStats(spark, root, 1L)
      .map(s => s"_v-1/${s.file}" -> s).toMap
    st.filter(_.file.startsWith("_v-1/")).foreach { s =>
      val o = v1(s.file)
      assert(s.min == o.min && s.max == o.max && s.rows == o.rows)
    }
    // range pruning over the composite version: exact and a strict subset
    val pruned = VersionedTable.prunedFiles(spark, root, "k", 100L, 200L)
    assert(pruned.size < 5 && pruned.nonEmpty)
    val got = VersionedTable.readPruned(spark, root, "k", 100L, 200L)
      .filter(col("k").between(100L, 200L)).count()
    assert(got == 101L)
    // bloom point lookup reaches into BOTH dirs
    assert(VersionedTable.readPointLookup(spark, root, "id", 77777L)
      .count() == 1L)
    val anyV1Id = VersionedTable.readVersion(spark, root, 1L)
      .select("id").head.getLong(0)
    assert(VersionedTable.readPointLookup(spark, root, "id", anyV1Id)
      .count() >= 1L)
    // the sequence goes on until its manifests carry every line tag: a
    // constraint, an optimistic `d` pointer, a deletion vector, an
    // ALTER `h` line and an equality delete
    VersionedTable.addConstraint(spark, root, "k_nonneg", "k >= 0",
      keepVersions = 8)
    VersionedTable.appendDeltaOptimistic(spark, root, keepVersions = 8,
      statsCols = Seq("k"), bloomCols = Seq("id")) { stage =>
      Seq((9002L, 2L, 88888L)).toDF("k", "v", "id")
        .coalesce(1).write.parquet(stage)
    }
    VersionedTable.deleteWhere(spark, root, col("k") === 5L,
      keepVersions = 8)
    VersionedTable.addColumn(spark, root, "note",
      org.apache.spark.sql.types.StringType, keepVersions = 8)
    VersionedTable.deleteByKey(spark, root, Seq(7L).toDF("k"), Seq("k"),
      keepVersions = 8)
    assert(VersionedTable.read(spark, root).count() == 4000L)
    // every manifest re-renders to its exact bytes
    val bodies = fs(root).listStatus(new Path(s"$root/_commits")).toSeq
      .map(st => graft.util.AtomicPut.readUtf8(fs(root), st.getPath))
    assert(bodies.size == 7)
    bodies.foreach { b =>
      val m = VersionedTable.Manifest.parse(b)
      assert(VersionedTable.Manifest.render(m) == b, s"re-render of\n$b")
    }
    val tags = bodies.flatMap(_.split("\n").tail.map(_.takeWhile(_ != '\t')))
    assert(tags.toSet == Set("d", "h", "k", "s", "b", "dv", "ed", "f"))
  }

  test("appendDelta without statsCols still copies carried stats; new file scans conservatively") {
    import spark.implicits._
    val root = initTable("deltacons", statsCols = Seq("k"))
    VersionedTable.appendDelta(spark, root, keepVersions = 8) { stage =>
      Seq((50L, 1L, 1L)).toDF("k", "v", "id") // k=50 also lives in file 1
        .coalesce(1).write.parquet(stage)
    }
    val st = VersionedTable.manifestStats(spark, root, 2L)
    assert(st.size == 4, "carried stats lost or new file unexpectedly scanned")
    // the stat-less new file is kept conservatively by every planner
    val pruned = VersionedTable.prunedFiles(spark, root, "k", 3000L, 3100L)
    assert(pruned.exists(_.contains("_v-2/")),
      "stat-less file was wrongly pruned")
    assert(VersionedTable.readPruned(spark, root, "k", 40L, 60L)
      .filter(col("k").between(40L, 60L)).count() == 22L)
    // countWhere: stat-less file joins the boundary scan, count exact
    val (cnt, scanned) = VersionedTable.countWhere(spark, root, "k", 40L, 60L)
    assert(cnt == 22L, s"countWhere=$cnt")
    assert(scanned >= 1)
  }

  test("prune keeps referenced dirs alive; a full rewrite releases them") {
    import spark.implicits._
    val root = initTable("deltaprune")
    // keepVersions = 1: v1's manifest goes, but its DIR must survive —
    // v2 references its files
    VersionedTable.appendDelta(spark, root, keepVersions = 1) { stage =>
      Seq((9001L, 1L, 1L)).toDF("k", "v", "id")
        .coalesce(1).write.parquet(stage)
    }
    val f = fs(root)
    assert(!f.exists(new Path(s"$root/_commits/1")), "manifest 1 retained")
    assert(f.exists(new Path(s"$root/_v-1")), "referenced dir deleted!")
    assert(VersionedTable.read(spark, root).count() == 4001)
    // a full (dir-based) rewrite drops the references → next prune
    // reclaims both old dirs
    VersionedTable.rewrite(spark, root, keepVersions = 1)(df => df)
    assert(!f.exists(new Path(s"$root/_v-1")), "_v-1 outlived its references")
    assert(!f.exists(new Path(s"$root/_v-2")), "_v-2 outlived its references")
    assert(VersionedTable.read(spark, root).count() == 4001)
  }

  test("vacuum spares dirs referenced by delta manifests") {
    import spark.implicits._
    val root = initTable("deltavac")
    VersionedTable.appendDelta(spark, root, keepVersions = 1) { stage =>
      Seq((9001L, 1L, 1L)).toDF("k", "v", "id")
        .coalesce(1).write.parquet(stage)
    }
    // _v-1 is old enough to vacuum by age but still referenced
    val deleted = VersionedTable.vacuum(spark, root, olderThanMs = -1L)
    assert(!deleted.exists(_.contains("_v-1")),
      s"vacuum deleted a referenced dir: $deleted")
    assert(VersionedTable.read(spark, root).count() == 4001)
  }

  test("crash window: staged delta without manifest is invisible; retry lands") {
    import spark.implicits._
    val root = initTable("deltacrash")
    val carried = VersionedTable.currentFiles(spark, root)
    // simulate a crash AFTER staging, BEFORE the manifest PUT
    val stage = new Path(s"$root/_v-2")
    Seq((9001L, 1L, 1L)).toDF("k", "v", "id")
      .coalesce(1).write.parquet(stage.toString)
    assert(VersionedTable.currentVersion(spark, root).contains(1L))
    assert(VersionedTable.read(spark, root).count() == 4000)
    // the retry replays the same delta and commits
    val v2 = VersionedTable.appendDelta(spark, root, keepVersions = 8) {
      s => Seq((9001L, 1L, 1L)).toDF("k", "v", "id")
        .coalesce(1).write.parquet(s)
    }
    assert(v2 == 2L)
    assert(VersionedTable.read(spark, root).count() == 4001)
  }

  test("changes() works across a delta commit (CDC over file-list versions)") {
    import spark.implicits._
    val root = initTable("deltacdc")
    val files = VersionedTable.currentFiles(spark, root)
    val droppedRows = spark.read.parquet(s"$root/${files.head}").count()
    // drop the first file AND add two rows in one delta
    VersionedTable.commitDelta(spark, root, files.tail,
      keepVersions = 8) { stage =>
      Seq((9001L, 1L, 1L), (9002L, 2L, 2L)).toDF("k", "v", "id")
        .coalesce(1).write.parquet(stage)
    }
    val byType = VersionedTable.changes(spark, root, 1L, 2L)
      .groupBy("_change_type").count().collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(byType == Map("insert" -> 2L, "delete" -> droppedRows))
  }

  test("in-place append paths refuse delta-manifest tables loudly") {
    import spark.implicits._
    val root = initTable("deltaguard")
    VersionedTable.appendDelta(spark, root, keepVersions = 8) { stage =>
      Seq((9001L, 1L, 1L)).toDF("k", "v", "id")
        .coalesce(1).write.parquet(stage)
    }
    val e = intercept[IllegalArgumentException] {
      VersionedTable.appendablePath(spark, root)
    }
    assert(e.getMessage.contains("appendDelta"))
  }

  test("tags pin versions through pruning; dropTag releases on the next sweep") {
    val root = initTable("tagpin")
    assert(VersionedTable.tag(spark, root, "baseline") == 1L)
    // keepVersions = 1 → only the newest version normally survives
    (2 to 4).foreach { i =>
      VersionedTable.rewrite(spark, root, keepVersions = 1)(
        _.filter(col("k") < 1000L * i))
    }
    assert(VersionedTable.currentVersion(spark, root).contains(4L))
    // the tagged manifest (and the files it references) survived
    assert(fs(root).exists(new Path(s"$root/_commits/1")))
    assert(!fs(root).exists(new Path(s"$root/_commits/2")))
    assert(VersionedTable.readTag(spark, root, "baseline").count() == 4000)
    assert(VersionedTable.tags(spark, root) == Map("baseline" -> 1L))
    // immutable unless replace; replace moves the pin
    intercept[IllegalStateException] {
      VersionedTable.tag(spark, root, "baseline")
    }
    assert(VersionedTable.tag(spark, root, "baseline",
      replace = true) == 4L)
    // un-pinned version 1 is reclaimed by the next commit's sweep
    VersionedTable.rewrite(spark, root, keepVersions = 1)(df => df)
    assert(!fs(root).exists(new Path(s"$root/_commits/1")))
    assert(!fs(root).exists(new Path(s"$root/_v-1")))
    // a tag on a pruned version refuses loudly
    intercept[IllegalArgumentException] {
      VersionedTable.tag(spark, root, "gone", version = Some(2L))
    }
    // dropTag: pin removed, no bytes deleted until the next sweep
    assert(VersionedTable.dropTag(spark, root, "baseline"))
    assert(!VersionedTable.dropTag(spark, root, "baseline"))
    assert(VersionedTable.tags(spark, root).isEmpty)
    assert(fs(root).exists(new Path(s"$root/_commits/4")))
  }

  test("rollback: forward commit re-referencing the target's files, stats carried") {
    val root = initTable("rollb", statsCols = Seq("k"))
    val v1 = VersionedTable.read(spark, root).collect()
      .map(_.toString).sorted.toSeq
    VersionedTable.rewrite(spark, root, keepVersions = 8,
      statsCols = Seq("k"))(_.filter(col("k") < 100L)) // the "bad" commit
    assert(VersionedTable.read(spark, root).count() == 100)
    val v3 = VersionedTable.rollback(spark, root, 1L, keepVersions = 8)
    assert(v3 == 3L)
    // content is exactly version 1's; history was not rewritten
    assert(VersionedTable.read(spark, root).collect()
      .map(_.toString).sorted.toSeq == v1)
    assert(VersionedTable.readVersion(spark, root, 2L).count() == 100)
    // zero data bytes copied: the rollback version dir holds no data
    // files, every f-line points into _v-1
    val own = fs(root).listStatus(new Path(s"$root/_v-3")).toSeq
      .filter(st => st.isFile && !st.getPath.getName.startsWith("_"))
    assert(own.isEmpty, "rollback copied data bytes")
    val refs = VersionedTable.filesOf(spark, root, 3L).get
    assert(refs.nonEmpty && refs.forall(_.startsWith("_v-1/")))
    // the skipping index rode over from version 1's manifest
    val stats = VersionedTable.manifestStats(spark, root, 3L)
    assert(stats.size == refs.size && stats.forall(_.min.contains("k")))
    val pruned = VersionedTable.prunedFiles(spark, root, "k", 0L, 10L)
    assert(pruned.size < refs.size, "manifest skipping dead after rollback")
    // rollbackTo by tag name
    VersionedTable.tag(spark, root, "good", version = Some(3L))
    VersionedTable.rewrite(spark, root, keepVersions = 8)(
      _.filter(col("k") < 1L))
    assert(VersionedTable.rollbackTo(spark, root, "good") == 5L)
    assert(VersionedTable.read(spark, root).count() == 4000)
  }

  test("history + graft_history: the retained version log with tags") {
    val root = initTable("hist")
    VersionedTable.appendDelta(spark, root, keepVersions = 8) { stage =>
      import spark.implicits._
      Seq((9001L, 1L, 1L)).toDF("k", "v", "id")
        .coalesce(1).write.parquet(stage)
    }
    VersionedTable.tag(spark, root, "v1-pin", version = Some(1L))
    val h = VersionedTable.history(spark, root)
      .orderBy("version").collect()
    assert(h.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(h(0).getLong(2) == 4 && !h(0).getBoolean(3)) // 4 files, whole-dir
    assert(h(1).getLong(2) == 5 && h(1).getBoolean(3))  // 4 carried + 1 new
    assert(h(0).getSeq[String](5) == Seq("v1-pin") &&
      h(1).getSeq[String](5).isEmpty)
    assert(h.forall(_.getTimestamp(1) != null))
    // same log through SQL
    val viaSql = spark.sql(
      s"SELECT version, n_files, delta, tags FROM graft_history('$root') " +
        "ORDER BY version").collect()
    assert(viaSql.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(viaSql(0).getSeq[String](3) == Seq("v1-pin"))
    // legacy/uncommitted table → empty log, not an error
    assert(VersionedTable.history(spark, tmpDir("histnone")).count() == 0)
  }

  test("compactSmallFiles packs only the small files, carries the rest by reference") {
    import spark.implicits._
    val root = initTable("smallpack", statsCols = Seq("k"))
    // three tiny ingestion files on top of four right-sized ones
    (1 to 3).foreach { i =>
      graft.lakehouse.VersionedTable.appendDelta(spark, root,
        keepVersions = 8) { stage =>
        Seq((9000L + i, 1L, 1L)).toDF("k", "v", "id")
          .coalesce(1).write.parquet(stage)
      }
    }
    val before = VersionedTable.read(spark, root).collect()
      .map(_.toString).sorted.toSeq
    val sized = VersionedTable.currentFiles(spark, root).map(f =>
      f -> fs(root).getFileStatus(new Path(s"$root/$f")).getLen)
    val bigFiles = sized.filter(_._1.startsWith("_v-1/"))
    // tiny 1-row files sit well below the 1000-row initial files
    val thresh = bigFiles.map(_._2).min
    assert(sized.filterNot(_._1.startsWith("_v-1/")).forall(_._2 < thresh))
    val (packed, written) = graft.lakehouse.Maintenance.compactSmallFiles(
      spark, root, smallFileBytes = thresh, sortCol = Some("k"),
      statsCols = Seq("k"), keepVersions = 8)
    assert(packed == 3 && written == 1)
    // content identical; the four big files carried by reference
    assert(VersionedTable.read(spark, root).collect()
      .map(_.toString).sorted.toSeq == before)
    val refs = VersionedTable.filesOf(spark, root,
      VersionedTable.currentVersion(spark, root).get).get
    assert(refs.count(_.startsWith("_v-1/")) == 4)
    assert(refs.size == 5)
    // skipping index covers every file: carried stats rode over, the
    // packed file was scanned fresh
    val stats = VersionedTable.manifestStats(spark, root,
      VersionedTable.currentVersion(spark, root).get)
    assert(stats.size == 5 && stats.forall(_.min.contains("k")))
    // a single sub-threshold file (the packed one) is nothing to
    // merge → no new version
    val v = VersionedTable.currentVersion(spark, root).get
    assert(graft.lakehouse.Maintenance.compactSmallFiles(spark, root,
      smallFileBytes = thresh) == ((1, 0)))
    assert(VersionedTable.currentVersion(spark, root).contains(v))
  }

  test("incremental load into a delta-manifest table commits appendDeltas, idempotently") {
    import graft.lakehouse.{IncrementalLoader, LoadRegistry, SurveyGen}
    val root = tmpDir("deltaload")
    val src = s"$root/arrivals"; val table = s"$root/t"
    new java.io.File(src).mkdirs()
    val schema = SurveyGen.generate(spark, 1, seed = 1).schema
    // flat load first, then a delta commit flips the table file-list
    SurveyGen.writeArrival(spark, src, "d1.csv", 60, seed = 31)
    IncrementalLoader.run(spark, src, table, s"$root/reg", schema)
    VersionedTable.init(spark, table,
      spark.read.parquet(table), keepVersions = 8)
    VersionedTable.appendDelta(spark, table, keepVersions = 8)(_ => ())
    assert(VersionedTable.filesOf(spark, table,
      VersionedTable.currentVersion(spark, table).get).nonEmpty)
    intercept[IllegalArgumentException] { // in-place append still refuses
      VersionedTable.appendablePath(spark, table)
    }
    // fresh drops load as appendDelta commits
    SurveyGen.writeArrival(spark, src, "d2.csv", 25, seed = 33)
    SurveyGen.writeArrival(spark, src, "d3.csv", 15, seed = 35)
    val r = IncrementalLoader.run(spark, src, table, s"$root/reg", schema)
    assert(r.loaded.size == 2 && r.skipped.size == 1)
    assert(VersionedTable.read(spark, table).count() == 100)
    val refs = VersionedTable.currentFiles(spark, table)
    assert(refs.count(_.contains("/ingest-")) >= 2)
    // crash window: registry write lost after the manifest PUT → the
    // rerun sees the deterministic file names already referenced in
    // the CURRENT manifest, no dupes. (d1 predates the delta flip —
    // its identity lives in the registry, not the manifest — so drop
    // it from discovery: rewrites can't intervene inside the window
    // the name-check guards, single-writer.)
    assert(new java.io.File(s"$src/d1.csv").delete())
    val r2 = IncrementalLoader.run(spark, src, table, s"$root/reg2", schema)
    assert(r2.loaded.size == 2) // fresh registry → d2/d3 look fresh
    assert(VersionedTable.read(spark, table).count() == 100,
      "delta re-load duplicated rows")
  }

  test("tick: file-granular compaction composes with the next tick's load") {
    import graft.lakehouse.Automation
    val root = tmpDir("autosmall")
    new java.io.File(s"$root/arrivals").mkdirs()
    val cfg = Automation.Config(
      srcDir = s"$root/arrivals", tableDir = s"$root/t",
      registryDir = s"$root/reg", rowsPerDrop = 80,
      compactEvery = 2, compactClusterBy = Some("id"),
      compactSmallFileBytes = Some(64L << 20)) // everything is "small"
    val auto = new Automation(spark, cfg)
    // tick 2's compaction migrates the flat table into versioning
    // (full rewrite); tick 4's is file-granular and flips the table to
    // a file-list manifest; tick 5's load must then land as an
    // appendDelta commit — the full integration loop
    val reports = auto.runLoop(intervalMillis = 5, maxTicks = 5)
    assert(reports.size == 5)
    assert(reports.forall(_.load.loaded.size == 1), "a load failed after compaction")
    assert(reports(1).compacted.isDefined && reports(3).compacted.isDefined)
    assert(VersionedTable.read(spark, s"$root/t").count() == 400)
    assert(VersionedTable.currentFiles(spark, s"$root/t")
      .exists(_.contains("/ingest-")), "tick-5 load did not land as a delta")
  }

  test("empty delta commit refuses; carry-into-uncommitted refuses") {
    val root = tmpDir("deltaempty") + "/t"
    intercept[IllegalArgumentException] {
      VersionedTable.commitDelta(spark, root, Nil)(_ => ())
    }
    intercept[IllegalArgumentException] {
      VersionedTable.commitDelta(spark, root, Seq("_v-1/x.parquet"))(_ => ())
    }
    // bad refs refused
    val t = initTable("deltabadref")
    intercept[IllegalArgumentException] {
      VersionedTable.commitDelta(spark, t, Seq("/abs/path.parquet"))(_ => ())
    }
    intercept[IllegalArgumentException] {
      VersionedTable.commitDelta(spark, t, Seq("../escape.parquet"))(_ => ())
    }
  }
}
