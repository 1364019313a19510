package graft

import org.apache.spark.sql.functions._
import graft.lakehouse.{Catalog, VersionedTable}

/** Multi-table atomic commits through the catalog: snapshot
  * isolation across tables, crash-window consistency, time travel,
  * conflict arbitration. */
class CatalogSpec extends SparkSpec {
  import spark.implicits._

  private def writeVersion(root: String, ids: Seq[Int]): Long =
    VersionedTable.commit(spark, root, keepVersions = 10) { dir =>
      ids.toDF("id").write.parquet(dir)
    }

  test("commitAll flips every table with one catalog version") {
    val base = tmpDir("cat-basic")
    val cat = s"$base/cat"
    val (ta, tb) = (s"$base/a", s"$base/b")

    val s1 = Catalog.commitAll(spark, cat, Seq(
      Catalog.TableWrite("a", ta, () => writeVersion(ta, Seq(1, 2))),
      Catalog.TableWrite("b", tb, () => writeVersion(tb, Seq(10)))))
    assert(s1.version == 0)
    assert(Catalog.read(spark, cat, "a").count() == 2)
    assert(Catalog.read(spark, cat, "b").count() == 1)

    // second transaction touches only `a`; `b` carries over pinned
    val s2 = Catalog.commitAll(spark, cat, Seq(
      Catalog.TableWrite("a", ta, () => writeVersion(ta, Seq(1, 2, 3)))))
    assert(s2.version == 1)
    assert(Catalog.read(spark, cat, "a").count() == 3)
    assert(Catalog.read(spark, cat, "b").count() == 1)
    assert(s2.tables("b") == s1.tables("b"))
  }

  test("crash between table commits and catalog flip leaves the old snapshot consistent") {
    val base = tmpDir("cat-crash")
    val cat = s"$base/cat"
    val (ta, tb) = (s"$base/a", s"$base/b")
    Catalog.commitAll(spark, cat, Seq(
      Catalog.TableWrite("a", ta, () => writeVersion(ta, Seq(1))),
      Catalog.TableWrite("b", tb, () => writeVersion(tb, Seq(1)))))

    // simulate the crash window: both tables commit new versions,
    // the catalog PUT never happens
    writeVersion(ta, Seq(1, 2))
    writeVersion(tb, Seq(1, 2))

    // catalog readers still see the OLD snapshot of BOTH tables —
    // never one new + one old
    val snap = Catalog.current(spark, cat).get
    assert(snap.read(spark, "a").count() == 1)
    assert(snap.read(spark, "b").count() == 1)
    // direct table reads DO see the orphaned versions (they are
    // ordinary retained history)
    assert(VersionedTable.read(spark, ta).count() == 2)

    // the retried transaction publishes past the orphans
    val s2 = Catalog.commitAll(spark, cat, Seq(
      Catalog.TableWrite("a", ta, () => writeVersion(ta, Seq(1, 2, 3))),
      Catalog.TableWrite("b", tb, () => writeVersion(tb, Seq(1, 2, 3)))))
    assert(s2.read(spark, "a").count() == 3)
    assert(s2.read(spark, "b").count() == 3)
  }

  test("a held snapshot stays consistent while transactions land (snapshot isolation)") {
    val base = tmpDir("cat-iso")
    val cat = s"$base/cat"
    val (ta, tb) = (s"$base/a", s"$base/b")
    Catalog.commitAll(spark, cat, Seq(
      Catalog.TableWrite("a", ta, () => writeVersion(ta, Seq(1))),
      Catalog.TableWrite("b", tb, () => writeVersion(tb, Seq(1)))))
    val held = Catalog.current(spark, cat).get

    Catalog.commitAll(spark, cat, Seq(
      Catalog.TableWrite("a", ta, () => writeVersion(ta, (1 to 5))),
      Catalog.TableWrite("b", tb, () => writeVersion(tb, (1 to 5)))))

    // the held snapshot reads the transaction-0 versions of both
    assert(held.read(spark, "a").count() == 1)
    assert(held.read(spark, "b").count() == 1)
    // current reads transaction-1 versions of both
    val now = Catalog.current(spark, cat).get
    assert(now.read(spark, "a").count() == 5)
    assert(now.read(spark, "b").count() == 5)
    // time travel re-serves the old boundary
    val tt = Catalog.snapshotAsOf(spark, cat, held.version)
    assert(tt.tables == held.tables)
  }

  test("failed write publishes nothing; catalog conflict is detected") {
    val base = tmpDir("cat-fail")
    val cat = s"$base/cat"
    val ta = s"$base/a"
    Catalog.commitAll(spark, cat, Seq(
      Catalog.TableWrite("a", ta, () => writeVersion(ta, Seq(1)))))

    intercept[RuntimeException] {
      Catalog.commitAll(spark, cat, Seq(
        Catalog.TableWrite("a", ta, () => writeVersion(ta, Seq(1, 2))),
        Catalog.TableWrite("boom", s"$base/boom",
          () => throw new RuntimeException("writer died"))))
    }
    // nothing published: catalog still serves version 0 of `a`
    val snap = Catalog.current(spark, cat).get
    assert(snap.version == 0)
    assert(snap.read(spark, "a").count() == 1)

    // racing transaction: another writer publishes catalog version 1
    // INSIDE our window (after we read current=0, while our table
    // writes run) — the loser's catalog PUT must fail loudly
    intercept[Catalog.CatalogConflictException] {
      Catalog.commitAll(spark, cat, Seq(
        Catalog.TableWrite("a", ta, () => {
          val fs = org.apache.hadoop.fs.FileSystem.get(
            new java.net.URI(cat), spark.sparkContext.hadoopConfiguration)
          fs.create(new org.apache.hadoop.fs.Path(s"$cat/_catalog/1"),
            false).close()
          writeVersion(ta, Seq(1, 2))
        })))
    }
  }

  test("register pins pre-existing tables; prune drops old catalog versions only") {
    val base = tmpDir("cat-reg")
    val cat = s"$base/cat"
    val ta = s"$base/a"
    writeVersion(ta, Seq(1, 2, 3))
    val s0 = Catalog.register(spark, cat, Seq("a" -> ta))
    assert(s0.read(spark, "a").count() == 3)

    Catalog.commitAll(spark, cat, Seq(
      Catalog.TableWrite("a", ta, () => writeVersion(ta, (1 to 4)))))
    Catalog.commitAll(spark, cat, Seq(
      Catalog.TableWrite("a", ta, () => writeVersion(ta, (1 to 5)))))
    Catalog.prune(spark, cat, keep = 1)
    intercept[IllegalArgumentException] {
      Catalog.snapshotAsOf(spark, cat, 0)
    }
    // current snapshot unaffected; table data untouched
    assert(Catalog.current(spark, cat).get.read(spark, "a").count() == 5)

    // unknown table name refuses loudly
    intercept[IllegalArgumentException] {
      Catalog.current(spark, cat).get.read(spark, "nope")
    }
  }

  test("torn catalog objects are retryable, never authoritative: " +
      "truncated and headerless bodies fail loudly after retries") {
    val cat = tmpDir("cat-torn")
    val t1 = tmpDir("cat-torn-t1")
    writeVersion(t1, 1 to 5)
    val snap = Catalog.commitAll(spark, cat,
      Seq(Catalog.TableWrite("a", t1, () => writeVersion(t1, 6 to 9))))
    // the published object carries the h-header and round-trips
    assert(Catalog.snapshotAsOf(spark, cat, snap.version)
      .tables.contains("a"))
    val dir = java.nio.file.Paths.get(s"$cat/_catalog")
    val obj = dir.resolve(snap.version.toString)
    val whole = new String(java.nio.file.Files.readAllBytes(obj), "UTF-8")
    assert(whole.startsWith("h\t1\n"), s"header missing: $whole")
    // torn mid-line: header says 1 table, body truncated inside the line
    java.nio.file.Files.write(dir.resolve("7"),
      whole.take(whole.length - 4).getBytes("UTF-8"))
    val e1 = intercept[IllegalStateException] {
      Catalog.snapshotAsOf(spark, cat, 7L)
    }
    assert(e1.getMessage.contains("torn"), e1.getMessage)
    // torn at a line boundary: count mismatch is caught even though
    // every surviving line parses
    java.nio.file.Files.write(dir.resolve("8"),
      "h\t2\nt\tonly\t/r\t3".getBytes("UTF-8"))
    val e2 = intercept[IllegalStateException] {
      Catalog.snapshotAsOf(spark, cat, 8L)
    }
    assert(e2.getMessage.contains("torn"), e2.getMessage)
    // a body without the header is torn too, even when every table
    // line parses: a header-line truncation looks exactly like that
    java.nio.file.Files.write(dir.resolve("9"),
      s"t\tnohead\t$t1\t1".getBytes("UTF-8"))
    val e3 = intercept[IllegalStateException] {
      Catalog.snapshotAsOf(spark, cat, 9L)
    }
    assert(e3.getMessage.contains("torn"), e3.getMessage)
  }

  test("created-but-unwritten catalog objects are TORN, not an " +
      "authoritative empty snapshot (ADVICE r9): header prefixes fail " +
      "loudly, a zero-byte body included") {
    val cat = tmpDir("cat-prefix")
    val t1 = tmpDir("cat-prefix-t1")
    writeVersion(t1, 1 to 3)
    Catalog.commitAll(spark, cat,
      Seq(Catalog.TableWrite("a", t1, () => writeVersion(t1, 4 to 6))))
    val dir = java.nio.file.Paths.get(s"$cat/_catalog")
    // "h" — truncation before the header's tab, exactly the
    // created-but-unwritten window on no-hardlink filesystems. Before
    // the fix this parsed as a legacy object with ZERO tables and
    // silently erased every table from the reader's view.
    java.nio.file.Files.write(dir.resolve("5"), "h".getBytes("UTF-8"))
    val e1 = intercept[IllegalStateException] {
      Catalog.snapshotAsOf(spark, cat, 5L)
    }
    assert(e1.getMessage.contains("torn"), e1.getMessage)
    // arbitrary garbage first line is torn too
    java.nio.file.Files.write(dir.resolve("6"), "x\ty".getBytes("UTF-8"))
    val e2 = intercept[IllegalStateException] {
      Catalog.snapshotAsOf(spark, cat, 6L)
    }
    assert(e2.getMessage.contains("torn"), e2.getMessage)
    // a zero-byte body that STAYS zero-byte across the retry loop is
    // a PUT that never wrote — torn, never an empty snapshot
    java.nio.file.Files.write(dir.resolve("7"), Array.emptyByteArray)
    val e3 = intercept[IllegalStateException] {
      Catalog.snapshotAsOf(spark, cat, 7L)
    }
    assert(e3.getMessage.contains("torn"), e3.getMessage)
    // ...and a writer finishing the PUT mid-retry wins: start a
    // reader against "h", complete the object concurrently, the
    // reader returns the completed snapshot instead of failing
    java.nio.file.Files.write(dir.resolve("8"), "h".getBytes("UTF-8"))
    val done = new java.util.concurrent.atomic.AtomicReference[Catalog.Snapshot]
    val reader = new Thread(() =>
      done.set(Catalog.snapshotAsOf(spark, cat, 8L)))
    reader.start()
    Thread.sleep(120) // a few 25ms retry beats
    java.nio.file.Files.write(dir.resolve("8"),
      s"h\t1\nt\tlate\t$t1\t1".getBytes("UTF-8"))
    reader.join(10000)
    assert(done.get != null && done.get.tables.get("late")
      .exists(_._2 == 1L), s"got ${done.get}")
  }

  test("graft_catalog TVF serves the snapshot as SQL") {
    val base = tmpDir("cat-tvf")
    val cat = s"$base/cat"
    val (ta, tb) = (s"$base/a", s"$base/b")
    Catalog.commitAll(spark, cat, Seq(
      Catalog.TableWrite("a", ta, () => writeVersion(ta, Seq(1))),
      Catalog.TableWrite("b", tb, () => writeVersion(tb, Seq(1, 2)))))
    graft.functions.GraftFunctions.registerTableFunctions(spark)
    val rows = spark.sql(s"SELECT * FROM graft_catalog('$cat') ORDER BY 2")
      .collect()
    assert(rows.length == 2)
    assert(rows.map(_.getString(1)).toSeq == Seq("a", "b"))
    assert(rows.forall(_.getLong(0) == 0L))
    // second transaction advances only `a`; the optional version arg
    // time-travels the whole pin set from SQL
    Catalog.commitAll(spark, cat, Seq(
      Catalog.TableWrite("a", ta, () => writeVersion(ta, Seq(7, 8, 9)))))
    val v0 = spark.sql(
      s"SELECT * FROM graft_catalog('$cat', 0) ORDER BY 2").collect()
    assert(v0.map(r => (r.getString(1), r.getLong(3))).toSeq ==
      spark.sql(s"SELECT * FROM graft_catalog('$cat') ORDER BY 2")
        .collect().map(r => (r.getString(1), r.getLong(3))).toSeq
        .map { case ("a", v) => ("a", v - 1); case other => other },
      "the pinned v0 must show table a one version behind current")
  }

  test("automation tick publishes corpus + retrieval + ANN + tick " +
      "history under ONE catalog flip; a crashed PUT leaves the " +
      "whole pre-tick snapshot; replay converges") {
    import graft.lakehouse.Automation
    import graft.operators.VectorIndex
    val root = tmpDir("catatick")
    val cat = s"$root/cat"
    // a doc-keyed ANN index (vec_id = doc_id) for the curation link
    val emb = Tables.embeddings(spark, sfDir)
    val docVecs = emb.filter(col("vec_id") < 20)
      .join(Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 11L), (4L, 12L))
        .toDF("vec_id", "new_id"), "vec_id")
      .select(col("new_id").as("vec_id"), col("embedding"), col("label"))
      .unionByName(emb.filter(col("vec_id") >= 100 && col("vec_id") < 120))
    val idx = s"$root/idx"
    VectorIndex.build(docVecs, idx, k = 3, iters = 3)
    val cc = Automation.CorpusDedupConfig(
      srcDir = s"$root/drops", rawTableDir = s"$root/raw",
      registryDir = s"$root/reg", corpusDir = s"$root/corpus",
      postingsDir = s"$root/postings",
      annIndexPath = Some(idx), retrievalDir = Some(s"$root/rx"))
    val auto = new Automation(spark, Automation.Config(
      srcDir = s"$root/arrivals", tableDir = s"$root/survey",
      registryDir = s"$root/sreg", generate = false,
      corpusDedup = Some(cc), historyDir = Some(s"$root/hist"),
      catalog = Some(Automation.CatalogConfig(cat))))
    new java.io.File(s"$root/drops").mkdirs()
    new java.io.File(s"$root/arrivals").mkdirs()
    def drop(name: String, lines: Seq[String]): Unit =
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$root/drops/$name"),
        lines.mkString("\n").getBytes("UTF-8"))
    val textA = (1 to 30).map(i => s"alpha$i").mkString(" ")
    val textB = (1 to 30).map(i => s"beta$i").mkString(" ")
    drop("d1.json", Seq(
      s"""{"doc_id": 1, "text": "$textA", "lang": "en", "source": "s"}""",
      s"""{"doc_id": 2, "text": "$textB", "lang": "en", "source": "s"}"""))
    auto.tick()
    val snap0 = Catalog.current(spark, cat).get
    assert(snap0.version == 0L)
    assert(snap0.tables.keySet ==
      Set("corpus", "retrieval_tot", "ann", "ticks"))
    assert(snap0.read(spark, "corpus").select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
    assert(snap0.read(spark, "ticks").count() == 1L)
    assert(snap0.tables("ann")._2 == 0L) // flat index = generation 0
    // ---- CRASH INJECTION: die BETWEEN the corpus commit and the
    // catalog PUT. The transaction's writes run in order (corpus
    // first, tick-history last, then the PUT); an unreadable manifest
    // injected at the history table's next version makes the LAST
    // write throw — the corpus has already advanced, the PUT never
    // runs. Exactly the window the catalog closes for readers. ------
    drop("d2.json", Seq(
      s"""{"doc_id": 3, "text": "${(1 to 30).map(i => s"g$i").mkString(" ")}", "lang": "en", "source": "s"}"""))
    val histV = VersionedTable.currentVersion(spark, s"$root/hist").get
    val poison = java.nio.file.Paths.get(
      s"$root/hist/_commits/${histV + 1}")
    java.nio.file.Files.write(poison, Array.empty[Byte])
    intercept[Exception] { auto.tick() }
    java.nio.file.Files.delete(poison)
    // the catalog still serves the ENTIRE pre-tick pin set: the
    // corpus table advanced underneath (orphan history to catalog
    // readers), but a snapshot reader sees none of it
    assert(Catalog.currentVersion(spark, cat) == Some(0L))
    val mid = Catalog.current(spark, cat).get
    assert(mid.tables == snap0.tables,
      "mid-crash pins must be exactly the pre-tick snapshot's")
    assert(mid.read(spark, "corpus")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 2L),
      "mid-crash catalog readers must see the pre-tick corpus")
    assert(VersionedTable.read(spark, s"$root/corpus").count() == 3L,
      "the artifact itself DID advance (invisible orphan history)")
    // ---- replay: idempotent re-run converges ----------------------
    auto.tick() // nothing pending; pins the advanced artifacts
    val snap1 = Catalog.current(spark, cat).get
    assert(snap1.read(spark, "corpus").select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L),
      "post-replay snapshot sees the advanced corpus")
    assert(snap1.tables.keySet ==
      Set("corpus", "retrieval_tot", "ann", "ticks"))
    assert(snap1.read(spark, "ticks").count() == 2L,
      "every COMPLETED tick's history row is pinned (the crashed " +
        "tick left no row — its commit is what the poison killed)")
    // the PRE-tick snapshot stays consistently readable (retention
    // covers it): multi-table time travel at tick granularity
    val back = Catalog.snapshotAsOf(spark, cat, 0L)
    assert(back.read(spark, "corpus").count() == 2L)
    // the retrieval pin is SERVEABLE, not just observational: a
    // pre-tick snapshot's pinned tot version searches exactly the
    // tick-1 corpus, even though the live index has folded tick 2's
    import graft.lakehouse.RetrievalView
    val q = Seq(("q", "alpha1"), ("q", "g3")).toDF("query_id", "term")
    assert(RetrievalView.searchAt(spark, s"$root/rx",
      snap0.tables("retrieval_tot")._2, q, 5)
      .select("doc_id").collect().map(_.getLong(0)).toSet == Set(1L),
      "the pre-tick pin must not see the crashed tick's fold")
    assert(RetrievalView.searchAt(spark, s"$root/rx",
      snap1.tables("retrieval_tot")._2, q, 5)
      .select("doc_id").collect().map(_.getLong(0)).toSet ==
      Set(1L, 3L), "the post-tick pin serves both folds")
    // the ANN pin resolves to a searchable root
    val annRoot = VectorIndex.generationRoot(
      snap1.tables("ann")._1, snap1.tables("ann")._2)
    assert(VectorIndex.search(spark, annRoot,
      docVecs.filter(col("vec_id") === 1L), nprobe = 3, k = 2)
      .count() == 2L)
    // the PINNED hybrid serving call: lexical at the pinned tot +
    // dense at the pinned generation ≡ the live call while no tick
    // is in flight (both halves resolve the same state)
    val probes = docVecs.filter(col("vec_id") === 1L)
    val mapping = Seq(("q", 1L)).toDF("query_id", "probe_id")
    val pinnedHy = RetrievalView.searchHybridAt(spark, s"$root/rx",
      snap1.tables("retrieval_tot")._2, annRoot, q, probes, mapping,
      k = 5, nprobe = 3).collect().map(_.toString).sorted.toSeq
    assert(pinnedHy.nonEmpty)
    assert(pinnedHy == RetrievalView.searchHybrid(spark, s"$root/rx",
      idx, q, probes, mapping, k = 5, nprobe = 3)
      .collect().map(_.toString).sorted.toSeq,
      "pinned hybrid ≡ live hybrid at a quiescent tick boundary")
    // graft_catalog reflects the tick boundary
    graft.functions.GraftFunctions.registerTableFunctions(spark)
    val tvf = spark.sql(
      s"SELECT * FROM graft_catalog('$cat') ORDER BY 2").collect()
    assert(tvf.length == 4 && tvf.forall(_.getLong(0) == 1L))
  }

  test("ANN generation vacuum respects the catalog retention floor: " +
      "a retained snapshot's pinned generation survives retrain; it " +
      "vacuums only after its pinning snapshots prune out") {
    import graft.operators.VectorIndex
    val root = tmpDir("genfloor")
    val cat = s"$root/cat"
    val idx = s"$root/idx"
    val vecs = Tables.embeddings(spark, sfDir).filter(col("vec_id") < 80)
    VectorIndex.build(vecs, idx, k = 3, iters = 3)
    val probes = vecs.filter(col("vec_id") === 1L)
    // snapshot v0 pins the FLAT layout (generation 0)
    Catalog.commitAll(spark, cat, Seq(Catalog.TableWrite("ann", idx,
      () => VectorIndex.generation(spark, idx))))
    assert(Catalog.current(spark, cat).get.tables("ann")._2 == 0L)
    // retrain flips generation 1; vacuum AT THE FLOOR keeps the
    // pinned flat layout fully searchable
    VectorIndex.retrain(spark, idx, vecs,
      (df, p) => VectorIndex.build(df, p, k = 3, iters = 3))
    val floor0 = Catalog.minPinnedVersion(spark, cat, idx)
    assert(floor0 == Some(0L))
    assert(VectorIndex.vacuumGenerations(spark, idx, floor0.get) == 0L)
    val g0root = VectorIndex.generationRoot(idx, 0L)
    assert(VectorIndex.search(spark, g0root, probes, nprobe = 3, k = 2)
      .count() == 2L, "the pinned flat generation must stay searchable")
    // new snapshot pins generation 1; pruning to keep=1 drops v0 —
    // the floor advances and the flat layout becomes garbage
    Catalog.commitAll(spark, cat, Seq(Catalog.TableWrite("ann", idx,
      () => VectorIndex.generation(spark, idx))))
    Catalog.prune(spark, cat, keep = 1)
    val floor1 = Catalog.minPinnedVersion(spark, cat, idx)
    assert(floor1 == Some(1L))
    assert(VectorIndex.vacuumGenerations(spark, idx, floor1.get) >= 1L)
    val lfs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(root), spark.sparkContext.hadoopConfiguration)
    assert(!lfs.exists(new org.apache.hadoop.fs.Path(s"$idx/lists")),
      "unpinned flat layout vacuums once no snapshot needs it")
    assert(VectorIndex.search(spark,
      VectorIndex.generationRoot(idx, 1L), probes, nprobe = 3, k = 2)
      .count() == 2L)
    // a root the catalog never pinned is unconstrained
    assert(Catalog.minPinnedVersion(spark, cat, s"$root/other").isEmpty)
  }

  test("daemon retrain under a catalog keeps snapshot-pinned ANN " +
      "generations serveable (searchHybridAt over the old snapshot)") {
    import graft.lakehouse.{Automation, RetrievalView}
    import graft.operators.VectorIndex
    val root = tmpDir("genfloortick")
    val cat = s"$root/cat"
    val idx = s"$root/idx"
    // vector drops: vec_id doubles as doc_id for the curation link
    val emb = Tables.embeddings(spark, sfDir)
    new java.io.File(s"$root/varr").mkdirs()
    def vdrop(name: String, lo: Int, hi: Int): Unit = {
      val tmp = s"$root/_tmp_$name"
      emb.filter(col("vec_id") >= lo && col("vec_id") < hi)
        .coalesce(1).write.mode("overwrite").json(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.startsWith("part-")).get
      java.nio.file.Files.move(part.toPath,
        new java.io.File(s"$root/varr", s"$name.json").toPath)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
    val cc = Automation.CorpusDedupConfig(
      srcDir = s"$root/drops", rawTableDir = s"$root/raw",
      registryDir = s"$root/reg", corpusDir = s"$root/corpus",
      postingsDir = s"$root/postings",
      annIndexPath = Some(idx), retrievalDir = Some(s"$root/rx"),
      // compaction fires the same tick the retrain does: its claim
      // must trail the catalog floor or snap0's lexical half refuses
      retrievalCompactEvery = 2)
    val auto = new Automation(spark, Automation.Config(
      srcDir = s"$root/arrivals", tableDir = s"$root/survey",
      registryDir = s"$root/sreg", generate = false,
      corpusDedup = Some(cc), historyDir = Some(s"$root/hist"),
      vectorIndex = Some(Automation.VectorIndexConfig(
        srcDir = s"$root/varr", tableDir = s"$root/vt",
        registryDir = s"$root/vreg", indexPath = idx,
        schema = emb.schema, k = 3, iters = 3, retrainEvery = 2)),
      catalog = Some(Automation.CatalogConfig(cat, keep = 8))))
    new java.io.File(s"$root/drops").mkdirs()
    new java.io.File(s"$root/arrivals").mkdirs()
    val textA = (1 to 30).map(i => s"alpha$i").mkString(" ")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$root/drops/d1.json"),
      s"""{"doc_id": 1, "text": "$textA", "lang": "en", "source": "s"}"""
        .getBytes("UTF-8"))
    vdrop("v1", 0, 60)
    auto.tick() // tick 1: bootstrap (flat = generation 0), pin it
    val snap0 = Catalog.current(spark, cat).get
    assert(snap0.tables("ann")._2 == 0L)
    vdrop("v2", 60, 120)
    auto.tick() // tick 2: retrainEvery fires → generation 1
    assert(VectorIndex.generation(spark, idx) == 1L)
    val snap1 = Catalog.current(spark, cat).get
    assert(snap1.tables("ann")._2 == 1L)
    // the OLD snapshot's pinned generation was NOT vacuumed (the
    // catalog still retains v0) and the full pinned hybrid call
    // serves through it
    val probes = emb.filter(col("vec_id") === 1L)
    val q = Seq(("q", "alpha1")).toDF("query_id", "term")
    val mapping = Seq(("q", 1L)).toDF("query_id", "probe_id")
    val oldAnnRoot = VectorIndex.generationRoot(
      snap0.tables("ann")._1, snap0.tables("ann")._2)
    val hy = RetrievalView.searchHybridAt(spark, s"$root/rx",
      snap0.tables("retrieval_tot")._2, oldAnnRoot, q, probes, mapping,
      k = 5, nprobe = 3)
    assert(hy.count() > 0,
      "snapshot-pinned hybrid serving must survive a daemon retrain")
    // once the pinning snapshots prune out, the next retrain's vacuum
    // collects the old generation
    Catalog.prune(spark, cat, keep = 1)
    vdrop("v3", 120, 180)
    auto.tick() // tick 3: no retrain
    vdrop("v4", 180, 240)
    auto.tick() // tick 4: retrain → generation 2; floor is now 1
    val lfs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(root), spark.sparkContext.hadoopConfiguration)
    assert(!lfs.exists(new org.apache.hadoop.fs.Path(s"$idx/lists")),
      "flat generation 0 vacuums once unpinned")
    assert(lfs.exists(new org.apache.hadoop.fs.Path(s"$idx/g1")) ||
      Catalog.minPinnedVersion(spark, cat, idx).exists(_ >= 2L),
      "generation 1 survives while a retained snapshot pins it")
  }
}
