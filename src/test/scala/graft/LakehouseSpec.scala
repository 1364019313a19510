package graft

import org.apache.spark.sql.functions._
import graft.lakehouse._

/** Specs for the automation components (the reference's core loop:
  * generate → detect → load → register → maintain). */
class LakehouseSpec extends SparkSpec {

  test("survey generator is deterministic and matches the reference domain") {
    val a = SurveyGen.generate(spark, 1000, seed = 7).collect()
    val b = SurveyGen.generate(spark, 1000, seed = 7).collect()
    assert(a.map(_.toString).toSeq == b.map(_.toString).toSeq)
    val df = SurveyGen.generate(spark, 1000, seed = 7)
    assert(df.columns.toSeq == Seq("id", "customer_type", "travel_type",
      "departure_delay", "baggage_handling", "satisfaction"))
    val delays = df.agg(min("departure_delay"), max("departure_delay")).head
    assert(delays.getInt(0) >= 0 && delays.getInt(1) < 1600)
    val sat = df.select("satisfaction").distinct().collect().map(_.getString(0)).toSet
    assert(sat == Set("Neutral or Dissatisfied", "Satisfied"))
  }

  test("end-to-end automation loop: generate -> incremental load -> query -> retention") {
    import org.apache.spark.sql.functions._
    val root = tmpDir("graft-e2e")
    val src = s"$root/arrivals"; val table = s"$root/survey"
    val registry = s"$root/registry"
    new java.io.File(src).mkdirs()
    val schema = SurveyGen.generate(spark, 1, seed = 1).schema

    // minute-1 drop arrives (datagen.py make_data equivalent)
    SurveyGen.writeArrival(spark, src, "datagen_202401010000.csv", 500, seed = 1)
    val r1 = IncrementalLoader.run(spark, src, table, registry, schema)
    assert(r1.loaded.size == 1 && r1.skipped.isEmpty)

    // minute-2 drop arrives; first file must NOT reload
    SurveyGen.writeArrival(spark, src, "datagen_202401010001.csv", 300, seed = 2)
    val r2 = IncrementalLoader.run(spark, src, table, registry, schema)
    assert(r2.loaded.size == 1 && r2.skipped.size == 1)

    // analytics over the loaded lakehouse table (commondb-style SQL)
    spark.read.parquet(table).createOrReplaceTempView("survey_e2e")
    val (res, _) = SqlRunner.query(spark,
      "SELECT satisfaction, COUNT(*) AS n FROM survey_e2e GROUP BY 1")
    assert(res.agg(sum("n")).head.getLong(0) == 800)

    // registry reflects both loads with row counts
    val reg = LoadRegistry.read(spark, registry)
    assert(reg.count() == 2)
    assert(reg.agg(sum("n_rows")).head.getLong(0) == 800)

    // retention: nothing young enough to delete; then everything
    assert(Maintenance.expireFiles(spark, src, days = 1).isEmpty)
    assert(Maintenance.expireFiles(spark, src, days = 0).size == 2)
  }

  test("automation daemon: scheduler loop generates, loads, retains, stops cleanly") {
    val root = tmpDir("auto")
    new java.io.File(s"$root/arrivals").mkdirs()
    val cfg = Automation.Config(
      srcDir = s"$root/arrivals", tableDir = s"$root/t",
      registryDir = s"$root/registry", rowsPerDrop = 100,
      retainEvery = 2, retentionDays = 0)
    val auto = new Automation(spark, cfg)
    // two ticks through the real scheduler entry point
    val reports = auto.runLoop(intervalMillis = 10, maxTicks = 2)
    assert(reports.size == 2)
    assert(reports.forall(r => r.generated.isDefined && r.load.loaded.size == 1))
    assert(spark.read.parquet(s"$root/t").count() == 200)
    assert(LoadRegistry.read(spark, s"$root/registry").count() == 2)
    // retention fired on the retainEvery-th tick (days=0 expires all)
    assert(reports(0).expired.isEmpty && reports(1).expired.size == 2)
    // clean shutdown: stop() ends an unbounded loop after its tick
    val auto2 = new Automation(spark, cfg.copy(generate = false))
    val t = new Thread(() => { auto2.runLoop(intervalMillis = 5); () })
    t.start(); Thread.sleep(300); auto2.stop(); t.join(30000)
    assert(!t.isAlive)
  }

  test("automation tick history: one durable metrics row per completed tick") {
    val root = tmpDir("autohist")
    new java.io.File(s"$root/arrivals").mkdirs()
    val cfg = Automation.Config(
      srcDir = s"$root/arrivals", tableDir = s"$root/t",
      registryDir = s"$root/registry", rowsPerDrop = 50,
      retainEvery = 2, retentionDays = 0, compactEvery = 3,
      historyDir = Some(s"$root/hist"))
    val auto = new Automation(spark, cfg)
    val reports = (1 to 3).map(_ => auto.tick())
    val hist = VersionedTable.read(spark, s"$root/hist")
      .orderBy("tick").collect()
    assert(hist.length == 3)
    // counters mirror the reports; wall time covers real work
    reports.zip(hist).foreach { case (r, row) =>
      assert(row.getAs[Long]("tick") == r.tick)
      assert(row.getAs[Int]("files_loaded") == r.load.loaded.size)
      assert(row.getAs[Int]("files_expired") == r.expired.size)
      assert(row.getAs[Long]("wall_ms") >= 0L)
    }
    // NULL = stage not scheduled that tick, distinct from "fired, 0"
    assert(hist(0).isNullAt(hist(0).fieldIndex("compacted")))
    assert(!hist(2).isNullAt(hist(2).fieldIndex("compacted")))
    assert(hist.forall(_.isNullAt(hist(0).fieldIndex("corpus_kept"))))
    // the SQL surface: trend one-liners over the TVF
    graft.functions.GraftFunctions.registerTableFunctions(spark)
    val viaSql = spark.sql(
      s"SELECT count(*) AS n, sum(files_loaded) AS fl " +
      s"FROM graft_ticks('$root/hist')").head()
    assert(viaSql.getLong(0) == 3L)
    assert(viaSql.getLong(1) == reports.map(_.load.loaded.size).sum)
  }

  test("automation tick maintains the persisted IVF index incrementally") {
    import graft.operators.VectorIndex
    val root = tmpDir("autoidx")
    new java.io.File(s"$root/arrivals").mkdirs()
    new java.io.File(s"$root/varr").mkdirs()
    val emb = Tables.embeddings(spark, sfDir)
    // JSON-lines vector drops (arrays don't fit CSV), one file each
    def drop(name: String, lo: Int, hi: Int): Unit = {
      val tmp = s"$root/_tmp_$name"
      emb.filter(col("vec_id") >= lo && col("vec_id") < hi)
        .coalesce(1).write.mode("overwrite").json(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.startsWith("part-")).get
      java.nio.file.Files.move(part.toPath,
        new java.io.File(s"$root/varr", s"$name.json").toPath)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
    val cfg = Automation.Config(
      srcDir = s"$root/arrivals", tableDir = s"$root/t",
      registryDir = s"$root/reg", generate = false,
      vectorIndex = Some(Automation.VectorIndexConfig(
        srcDir = s"$root/varr", tableDir = s"$root/vt",
        registryDir = s"$root/vreg", indexPath = s"$root/idx",
        schema = emb.schema, compactListsEvery = 2)))
    val auto = new Automation(spark, cfg)
    drop("d1", 0, 60)
    val r1 = auto.tick() // bootstrap: trains centroids on the first drop
    assert(r1.vecLoad.exists(_.loaded.size == 1))
    assert(VectorIndex.exists(spark, s"$root/idx"))
    drop("d2", 60, 120)
    val r2 = auto.tick() // incremental: add() — no retrain
    assert(r2.vecLoad.exists(_.loaded.size == 1))
    assert(spark.read.parquet(s"$root/idx/lists").count() ==
      VersionedTable.read(spark, s"$root/vt").count())
    drop("d3r", 120, 180); auto.tick()
    drop("d4r", 180, 240); auto.tick() // tick 4: compactListsEvery fires

    // after >=2 ticks: search is identical to a batch rebuild over ALL
    // loaded vectors with the same trained centroid model
    val probes = emb.filter(col("vec_id") < 5)
    val viaTicks = VectorIndex.search(spark, s"$root/idx", probes,
      nprobe = 2, k = 3).collect().map(_.toString).sorted.toSeq
    VectorIndex.buildWith(VersionedTable.read(spark, s"$root/vt"),
      s"$root/idx_batch", spark.read.parquet(s"$root/idx/centroids"))
    val viaBatch = VectorIndex.search(spark, s"$root/idx_batch", probes,
      nprobe = 2, k = 3).collect().map(_.toString).sorted.toSeq
    assert(viaTicks.nonEmpty && viaTicks == viaBatch)
    // compactListsEvery=2 fired on tick 2: no partition carries the
    // per-tick fragmentation (≥ the compaction threshold of files)
    val lfs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(root), spark.sparkContext.hadoopConfiguration)
    val perPart = lfs.listStatus(
        new org.apache.hadoop.fs.Path(s"$root/idx/lists")).toSeq
      .filter(_.getPath.getName.startsWith("cent_id="))
      .map(d => lfs.listStatus(d.getPath)
        .count(_.getPath.getName.endsWith(".parquet")))
    assert(perPart.forall(_ < 4),
      s"tick compaction left fragmented partitions: $perPart")

    // PQ-compressed twin: same drops through a pq-configured tick —
    // bootstrap trains both models, the second tick routes+encodes
    val pqRoot = tmpDir("autoidxpq")
    new java.io.File(s"$pqRoot/arrivals").mkdirs()
    val pqCfg = Automation.Config(
      srcDir = s"$pqRoot/arrivals", tableDir = s"$pqRoot/t",
      registryDir = s"$pqRoot/reg", generate = false,
      vectorIndex = Some(Automation.VectorIndexConfig(
        srcDir = s"$root/varr", tableDir = s"$pqRoot/vt",
        registryDir = s"$pqRoot/vreg", indexPath = s"$pqRoot/idx",
        schema = emb.schema, pq = Some((16, 16)),
        // the full production storage config: residual codebooks,
        // 4-bit packed lists, OPQ rotation — incremental ticks must
        // dispatch all three off the on-disk markers
        pqResidual = true, pqPacked = true, pqOpq = true)))
    val pqAuto = new Automation(spark, pqCfg)
    pqAuto.tick() // bootstrap: trains rotation + centroids + codebooks
    drop("d3", 120, 150)
    pqAuto.tick() // incremental: addPQ with the stored models
    assert(spark.read.parquet(s"$pqRoot/idx/codes").count() ==
      VersionedTable.read(spark, s"$pqRoot/vt").count())
    val viaPqTicks = VectorIndex.searchPQ(spark, s"$pqRoot/idx", probes,
      VersionedTable.read(spark, s"$pqRoot/vt"), nprobe = 2, k = 3)
      .collect().map(_.toString).sorted.toSeq
    VectorIndex.buildPQWith(VersionedTable.read(spark, s"$pqRoot/vt"),
      s"$pqRoot/idx_batch", spark.read.parquet(s"$pqRoot/idx/centroids"),
      spark.read.parquet(s"$pqRoot/idx/codebook"),
      residual = true, packed = true,
      rotation = Some(graft.operators.VectorOPQ.loadRotation(spark,
        s"$pqRoot/idx/rotation")))
    val viaPqBatch = VectorIndex.searchPQ(spark, s"$pqRoot/idx_batch",
      probes, VersionedTable.read(spark, s"$pqRoot/vt"), nprobe = 2, k = 3)
      .collect().map(_.toString).sorted.toSeq
    assert(viaPqTicks.nonEmpty && viaPqTicks == viaPqBatch)
  }

  test("vector-index bootstrap defers below minBootstrapVectors — " +
      "a tiny first drop cannot freeze the centroid geometry") {
    import graft.operators.VectorIndex
    val root = tmpDir("autoidxboot")
    new java.io.File(s"$root/arrivals").mkdirs()
    new java.io.File(s"$root/varr").mkdirs()
    val emb = Tables.embeddings(spark, sfDir)
    def drop(name: String, lo: Int, hi: Int): Unit = {
      val tmp = s"$root/_tmp_$name"
      emb.filter(col("vec_id") >= lo && col("vec_id") < hi)
        .coalesce(1).write.mode("overwrite").json(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.startsWith("part-")).get
      java.nio.file.Files.move(part.toPath,
        new java.io.File(s"$root/varr", s"$name.json").toPath)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
    val auto = new Automation(spark, Automation.Config(
      srcDir = s"$root/arrivals", tableDir = s"$root/t",
      registryDir = s"$root/reg", generate = false,
      vectorIndex = Some(Automation.VectorIndexConfig(
        srcDir = s"$root/varr", tableDir = s"$root/vt",
        registryDir = s"$root/vreg", indexPath = s"$root/idx",
        schema = emb.schema, minBootstrapVectors = 50))))
    drop("d1", 0, 3) // 3 vectors: below the floor
    val r1 = auto.tick()
    assert(r1.vecLoad.exists(_.loaded.size == 1))
    assert(!VectorIndex.exists(spark, s"$root/idx"),
      "bootstrap must defer: k-means on a 3-vector drop would freeze " +
        "a degenerate geometry forever")
    drop("d2", 3, 70) // floor met across BOTH drops
    auto.tick()
    assert(VectorIndex.exists(spark, s"$root/idx"))
    // the deferred tick's rows are in the index too — the bootstrap
    // build reads the whole loaded table, not just the triggering drop
    assert(spark.read.parquet(s"$root/idx/lists").count() == 70L)
    assert(spark.read.parquet(s"$root/idx/lists")
      .filter(col("vec_id") < 3).count() == 3,
      "deferred first-drop vectors must be indexed")
    val probes = emb.filter(col("vec_id") < 3)
    val hits = VectorIndex.search(spark, s"$root/idx", probes,
      nprobe = 8, k = 1)
    assert(hits.groupBy("probe_id").count().count() == 3,
      "deferred first-drop vectors must be searchable probes")
  }

  test("bootstrap floor gates on the load registry's recorded row " +
      "counts — no per-tick table scan") {
    import graft.operators.VectorIndex
    val root = tmpDir("autoidxreg")
    new java.io.File(s"$root/arrivals").mkdirs()
    new java.io.File(s"$root/varr").mkdirs()
    val emb = Tables.embeddings(spark, sfDir)
    def drop(name: String, lo: Int, hi: Int): Unit = {
      val tmp = s"$root/_tmp_$name"
      emb.filter(col("vec_id") >= lo && col("vec_id") < hi)
        .coalesce(1).write.mode("overwrite").json(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.startsWith("part-")).get
      java.nio.file.Files.move(part.toPath,
        new java.io.File(s"$root/varr", s"$name.json").toPath)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
    val auto = new Automation(spark, Automation.Config(
      srcDir = s"$root/arrivals", tableDir = s"$root/t",
      registryDir = s"$root/reg", generate = false,
      vectorIndex = Some(Automation.VectorIndexConfig(
        srcDir = s"$root/varr", tableDir = s"$root/vt",
        registryDir = s"$root/vreg", indexPath = s"$root/idx",
        schema = emb.schema, k = 2, minBootstrapVectors = 50))))
    drop("d1", 0, 3)
    auto.tick()
    assert(!VectorIndex.exists(spark, s"$root/idx"))
    // the floor decision reads the REGISTRY's summed n_rows, never a
    // table count: a backfill row recorded out of band (47 rows)
    // pushes the registry total to the floor while the table itself
    // holds only 4 vectors — bootstrap fires on the next loaded tick
    LoadRegistry.record(spark, s"$root/vreg",
      Seq(("manual-backfill", LoadRegistry.StatusOk, 47L)))
    drop("d2", 3, 4)
    auto.tick()
    assert(VectorIndex.exists(spark, s"$root/idx"),
      "3 + 47 (registry backfill) + 1 >= 50: the registry-derived " +
        "floor must fire the bootstrap")
    assert(spark.read.parquet(s"$root/idx/lists").count() == 4L,
      "the build still reads the real table contents")
  }

  test("vector-index retrain tick: geometry refits and flips atomically, " +
      "vacuumed drops never resurrect") {
    import spark.implicits._
    import graft.operators.VectorIndex
    val root = tmpDir("autoidxrt")
    new java.io.File(s"$root/arrivals").mkdirs()
    new java.io.File(s"$root/varr").mkdirs()
    val emb = Tables.embeddings(spark, sfDir)
    def drop(name: String, lo: Int, hi: Int): Unit = {
      val tmp = s"$root/_tmp_$name"
      emb.filter(col("vec_id") >= lo && col("vec_id") < hi)
        .coalesce(1).write.mode("overwrite").json(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.startsWith("part-")).get
      java.nio.file.Files.move(part.toPath,
        new java.io.File(s"$root/varr", s"$name.json").toPath)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
    val auto = new Automation(spark, Automation.Config(
      srcDir = s"$root/arrivals", tableDir = s"$root/t",
      registryDir = s"$root/reg", generate = false,
      vectorIndex = Some(Automation.VectorIndexConfig(
        srcDir = s"$root/varr", tableDir = s"$root/vt",
        registryDir = s"$root/vreg", indexPath = s"$root/idx",
        schema = emb.schema, k = 6, retrainEvery = 2))))
    drop("d1", 0, 40)
    auto.tick() // bootstrap: centroids fitted to the first 40 only
    val bootCents = spark.read.parquet(s"$root/idx/centroids")
      .collect().map(_.toString).sorted.toSeq
    // a curation drop, fully VACUUMED before the retrain — the
    // resurrect trap: the loaded table still holds this row
    VectorIndex.remove(spark, s"$root/idx", Seq(7L).toDF("vec_id"))
    assert(VectorIndex.vacuumTombstones(spark, s"$root/idx") == 1L)
    drop("d2", 40, 120)
    auto.tick() // tick 2: add, then retrainEvery fires + gen vacuum
    // the flip committed generation 1 and vacuumed the flat legacy
    assert(new java.io.File(s"$root/idx/_gens/gen-1").exists())
    assert(!new java.io.File(s"$root/idx/lists").exists(),
      "superseded flat layout must be vacuumed by the tick")
    // geometry REFIT on today's content (0..120 minus the drop) — not
    // the frozen 40-vector bootstrap sample
    val newCents = spark.read.parquet(s"$root/idx/g1/centroids")
      .collect().map(_.toString).sorted.toSeq
    assert(newCents != bootCents, "retrain must refit the centroids")
    // vacuumed drop stays dropped; everything else serves — search
    // equals a fresh build on the live survivor set
    val probes = emb.filter(col("vec_id") < 5)
    val viaTick = VectorIndex.search(spark, s"$root/idx", probes,
      nprobe = 6, k = 3).collect().map(_.toString).sorted.toSeq
    val refPath = s"$root/idx_ref"
    VectorIndex.build(VersionedTable.read(spark, s"$root/vt")
      .filter(col("vec_id") =!= 7L), refPath, k = 6, iters = 3)
    val viaRef = VectorIndex.search(spark, refPath, probes,
      nprobe = 6, k = 3).collect().map(_.toString).sorted.toSeq
    assert(viaTick.nonEmpty && viaTick == viaRef)
    assert(viaTick.count(_.contains(",7,")) == 0)
    // later ticks keep adding through the NEW generation
    drop("d3", 120, 160)
    auto.tick()
    val after = VectorIndex.search(spark, s"$root/idx",
      emb.filter(col("vec_id") === 130L), nprobe = 6, k = 1)
    assert(after.count() == 1L, "post-retrain adds must land in the live generation")
  }

  test("materialized aggregate: incremental folds equal a full recompute") {
    val root = tmpDir("magg") + "/v"
    val spec = MaterializedAgg.Spec(
      keys = Seq("event_type"), sums = Seq("value"))
    val ev = Tables.events(spark, sfDir)
    val batches = Seq(
      ev.filter(col("event_id") % 3 === 0),
      ev.filter(col("event_id") % 3 === 1),
      ev.filter(col("event_id") % 3 === 2))
    batches.foreach(b => MaterializedAgg.update(spark, root, b, spec))
    val view = MaterializedAgg.read(spark, root, spec)
      .collect().map(_.toString).sorted.toSeq
    // bit-identical to aggregating all batches from scratch (same
    // exact decimal accumulator)
    val full = ev.groupBy("event_type")
      .agg(count(lit(1)).as("cnt"),
        graft.util.Exact.dsum(col("value")).as("sum_value"))
      .withColumn("avg_value", col("sum_value") / col("cnt"))
      .select("event_type", "cnt", "sum_value", "avg_value")
      .collect().map(_.toString).sorted.toSeq
    assert(view == full && view.nonEmpty)
    // the state is versioned: one commit per batch, current = 3
    assert(VersionedTable.currentVersion(spark, root).contains(3L))
    // HLL-maintained approx distinct: sketches union across folds
    // (register-max merge ≡ a from-scratch sketch), users overlap
    // across batches so naive count-summing would overcount
    val droot = tmpDir("maggd") + "/v"
    val dspec = MaterializedAgg.Spec(
      keys = Seq("event_type"), sums = Nil, distincts = Seq("user_id"))
    batches.foreach(b => MaterializedAgg.update(spark, droot, b, dspec))
    val est = MaterializedAgg.read(spark, droot, dspec)
      .collect().map(r => (r.getString(0), r.getLong(2))).toMap
    val exact = ev.groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(est.keySet == exact.keySet)
    exact.foreach { case (k, n) =>
      assert(math.abs(est(k) - n).toDouble / n < 0.05,
        s"$k: est ${est(k)} vs exact $n")
    }
    // and the maintained sketch estimate equals a from-scratch sketch
    val scratch = ev.groupBy("event_type")
      .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"))).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(est == scratch)
  }

  test("automation tick maintains the materialized view incrementally") {
    val root = tmpDir("autoagg")
    new java.io.File(s"$root/arrivals").mkdirs()
    val spec = MaterializedAgg.Spec(
      keys = Seq("satisfaction"), sums = Seq("departure_delay"))
    val cfg = Automation.Config(
      srcDir = s"$root/arrivals", tableDir = s"$root/t",
      registryDir = s"$root/reg", rowsPerDrop = 80,
      aggView = Some(Automation.AggViewConfig(s"$root/view", spec)),
      freqSketch = Some(Automation.SketchViewConfig(s"$root/freq",
        SketchView.Spec(column = "customer_type"))),
      quantView = Some(Automation.QuantileViewConfig(s"$root/quant",
        QuantileView.Spec(column = "departure_delay"))),
      setSketch = Some(Automation.SetSketchConfig(s"$root/kmv",
        graft.operators.SetSketch.ViewSpec("customer_type",
          xxhash64(col("id")), k = 64))))
    new Automation(spark, cfg).runLoop(intervalMillis = 5, maxTicks = 2)
    val view = MaterializedAgg.read(spark, s"$root/view", spec)
      .collect().map(_.toString).sorted.toSeq
    val full = spark.read.parquet(s"$root/t")
      .groupBy("satisfaction")
      .agg(count(lit(1)).as("cnt"),
        graft.util.Exact.dsum(col("departure_delay").cast("double"))
          .as("sum_departure_delay"))
      .withColumn("avg_departure_delay",
        col("sum_departure_delay") / col("cnt"))
      .collect().map(_.toString).sorted.toSeq
    assert(view == full && view.nonEmpty)
    // the tick-maintained frequency sketch ≡ one built over the table
    val maintained = SketchView.current(spark, s"$root/freq").get
    val table = spark.read.parquet(s"$root/t")
    assert(maintained.totalCount() == table.count())
    val scratch = table.stat.countMinSketch("customer_type",
      0.0005, 0.99, 42)
    table.select("customer_type").distinct().collect().foreach { r =>
      assert(maintained.estimateCount(r.getString(0)) ==
        scratch.estimateCount(r.getString(0)))
    }
    // the tick-maintained quantile sketch ≡ one built over the table
    val qspec = QuantileView.Spec(column = "departure_delay")
    val scratchQ = tmpDir("autoquant-scratch")
    QuantileView.update(spark, scratchQ, table, qspec)
    def qstate(r: String) = QuantileView.state(spark, r).get
      .collect().map(x => (x.getInt(0), x.getLong(1), x.getLong(2))).toSet
    assert(qstate(s"$root/quant") == qstate(scratchQ))
    assert(QuantileView.quantile(spark, s"$root/quant", qspec, 0.5).isDefined)
    // the tick-maintained KMV view ≡ one built over the table
    val kspec = graft.operators.SetSketch.ViewSpec("customer_type",
      xxhash64(col("id")), k = 64)
    val kmvScratch = table
      .filter(col("customer_type").isNotNull)
      .groupBy(col("customer_type").cast("string").as("seg"))
      .agg(graft.operators.SetSketch.kmvAgg(xxhash64(col("id")), 64).as("sk"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1).toSeq).toMap
    assert(graft.operators.SetSketch.read(spark, s"$root/kmv")
      .map { case (s, v) => s -> v.toSeq } == kmvScratch)
  }

  test("streaming materialized view folds each batch exactly once") {
    import spark.implicits._
    val src = tmpDir("savsrc")
    val root = tmpDir("savview") + "/v"
    val ckpt = tmpDir("savckpt") + "/c"
    val spec = MaterializedAgg.Spec(
      keys = Seq("satisfaction"), sums = Seq("departure_delay"))
    SurveyGen.writeArrival(spark, src, "d1.csv", 60, 31)
    val q1 = StreamingLoader.runAggView(spark, src, root, ckpt,
      SurveyGen.schema, spec)
    q1.awaitTermination(60000)
    assert(MaterializedAgg.read(spark, root, spec)
      .agg(sum("cnt")).head.getLong(0) == 60)

    // crash-redelivery simulation: re-folding the stream's own last
    // batch id (what a restart after a mid-commit crash does) is a
    // no-op — the id committed atomically with the state
    val lastId = MaterializedAgg.lastFoldedBatch(spark, root).get
    assert(!MaterializedAgg.foldBatch(spark, root,
      SurveyGen.generate(spark, 40, seed = 32), spec, lastId))
    assert(MaterializedAgg.read(spark, root, spec)
      .agg(sum("cnt")).head.getLong(0) == 60)

    // restart the stream with a new drop: checkpoint resumes, the new
    // batch gets the next id and folds
    SurveyGen.writeArrival(spark, src, "d2.csv", 25, 33)
    val q2 = StreamingLoader.runAggView(spark, src, root, ckpt,
      SurveyGen.schema, spec)
    q2.awaitTermination(60000)
    assert(MaterializedAgg.read(spark, root, spec)
      .agg(sum("cnt")).head.getLong(0) == 85)
  }

  test("optimistic commit: loser rebases on conflict, history stays serial") {
    import spark.implicits._
    val root = tmpDir("optimistic")
    VersionedTable.init(spark, root,
      Seq((1L, "base")).toDF("id", "v"), keepVersions = 10)
    var calls = 0
    val v = VersionedTable.commitOptimistic(spark, root, keepVersions = 10) {
      cur =>
        calls += 1
        if (calls == 1) {
          // a second writer lands between our snapshot and our publish
          VersionedTable.rewrite(spark, root, keepVersions = 10)(df =>
            df.union(Seq((2L, "writer-b")).toDF("id", "v")))
        }
        cur.get.union(Seq((3L, s"writer-a-try$calls")).toDF("id", "v"))
    }
    // first attempt lost version 2 to writer B and REBASED: the retry
    // recomputed from B's table, so B's row survives (no lost update)
    assert(calls == 2)
    assert(v == 3L)
    val rows = VersionedTable.read(spark, root)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(rows == Set((1L, "base"), (2L, "writer-b"),
      (3L, "writer-a-try2")))
    // time travel resolves both conventional and pointer manifests
    assert(VersionedTable.readVersion(spark, root, 2).count() == 2)
    assert(VersionedTable.readVersion(spark, root, 3).count() == 3)
    val names = new java.io.File(root).listFiles().map(_.getName).toSet
    assert(names.count(_.matches("_v-3-w.*")) == 1) // winner, manifest-pointed
    assert(!names.exists(_.matches("_v-2-w.*"))) // loser removed by its retry
    // CDC across the contested versions sees exactly the two inserts
    val diff = VersionedTable.changes(spark, root, 1, 3, Seq("id"))
    assert(diff.filter(col("_change_type") === "insert").count() == 2)
    // uncreated table: compute receives None, first version lands as 1
    val fresh = tmpDir("optfresh")
    val v1 = VersionedTable.commitOptimistic(spark, fresh) { cur =>
      assert(cur.isEmpty)
      Seq((9L, "first")).toDF("id", "v")
    }
    assert(v1 == 1L && VersionedTable.read(spark, fresh).count() == 1)
  }

  test("vacuum: old unreferenced orphans removed, live/retained/young spared") {
    import spark.implicits._
    val root = tmpDir("vacuum")
    VersionedTable.init(spark, root, Seq((1L, "a")).toDF("id", "v"),
      keepVersions = 10)
    VersionedTable.rewrite(spark, root, keepVersions = 10)(df =>
      df.union(Seq((2L, "b")).toDF("id", "v")))
    // synthesize every orphan class a crash can leave: an optimistic
    // loser's attempt dir and a plain commit that died pre-manifest
    def mkOrphan(name: String): java.io.File = {
      val d = new java.io.File(root, name)
      d.mkdirs()
      val f = new java.io.File(d, "part-junk.parquet")
      java.nio.file.Files.write(f.toPath, Array[Byte](1, 2, 3))
      d
    }
    val old = System.currentTimeMillis() - 48L * 3600 * 1000
    val loser = mkOrphan("_v-9-wdeadbeef")
    val crashed = mkOrphan("_v-7")
    Seq(loser, crashed).foreach { d =>
      d.listFiles().foreach(_.setLastModified(old)); d.setLastModified(old)
    }
    // a RETAINED old version must survive on age alone: age the v1 dir
    val v1dir = new java.io.File(
      VersionedTable.readVersion(spark, root, 1).inputFiles.head
        .stripPrefix("file:")).getParentFile
    v1dir.setLastModified(old)
    // young in-flight attempt (a live writer): spared by the age gate
    val young = mkOrphan("_v-9-wfresh001")

    val deleted = VersionedTable.vacuum(spark, root, 3600 * 1000L)
    assert(deleted.map(p => new org.apache.hadoop.fs.Path(p).getName).toSet ==
      Set("_v-9-wdeadbeef", "_v-7"))
    assert(!loser.exists() && !crashed.exists())
    assert(young.exists() && v1dir.exists())
    // the table and its time-travel window are untouched
    assert(VersionedTable.read(spark, root).count() == 2)
    assert(VersionedTable.readVersion(spark, root, 1).count() == 1)
    // a second vacuum finds nothing; a never-committed table (no
    // `_commits`) vacuums nothing
    assert(VersionedTable.vacuum(spark, root, 3600 * 1000L).isEmpty)
    val flat = tmpDir("vacuum-flat")
    new java.io.File(flat, "_v-1").mkdirs()
    assert(VersionedTable.vacuum(spark, flat, 0L).isEmpty)
  }

  test("sketch view: maintained CMS ≡ from-scratch, streaming folds exactly once") {
    import org.apache.spark.util.sketch.CountMinSketch
    def bytes(c: CountMinSketch): Array[Byte] = {
      val b = new java.io.ByteArrayOutputStream(); c.writeTo(b); b.toByteArray
    }
    val root = tmpDir("sketchroot")
    val spec = SketchView.Spec(column = "term")
    def termsOf(parity: Int) = Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 2 === parity)
      .select(explode(split(trim(col("text")), "\\s+")).as("term"))
      .filter(length(col("term")) > 0)
    SketchView.update(spark, root, termsOf(0), spec)
    SketchView.update(spark, root, termsOf(1), spec)
    val maintained = SketchView.current(spark, root).get
    // counter matrices are sums ⇒ the two-batch fold is bit-identical
    // to one sketch built over the whole stream
    val scratch = termsOf(0).unionAll(termsOf(1))
      .stat.countMinSketch("term", spec.eps, spec.confidence, spec.seed)
    assert(java.util.Arrays.equals(bytes(maintained), bytes(scratch)))
    // overestimate-only within the ε·N bound on the top terms
    val exact = termsOf(0).unionAll(termsOf(1)).groupBy("term").count()
      .orderBy(col("count").desc, col("term")).limit(10).collect()
    val n = maintained.totalCount()
    val ests = SketchView.estimate(spark, root,
      exact.map(_.getString(0)).toSeq)
    exact.foreach { r =>
      val est = ests(r.getString(0))
      assert(est >= r.getLong(1), s"${r.getString(0)} underestimated")
      assert(est - r.getLong(1) <= math.ceil(spec.eps * n).toLong * 2,
        s"${r.getString(0)}: est=$est exact=${r.getLong(1)} n=$n")
    }
    // DataFrame-valued estimates ≡ the driver-side map, term table
    // annotated in place (no shuffle), null terms → 0
    import spark.implicits._
    val termTable = termsOf(0).unionAll(termsOf(1)).distinct()
      .withColumn("tag", length(col("term")))
      .unionByName(Seq((null: String, 0))
        .toDF("term", "tag").select(col("term"), col("tag")))
    val annotated = SketchView.estimateAll(spark, root, termTable, "term")
    assert(annotated.columns.toSeq == Seq("term", "tag", "est_count"))
    val annMap = annotated.filter(col("term").isNotNull)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    val direct = SketchView.estimate(spark, root, annMap.keys.toSeq)
    assert(annMap == direct)
    assert(annotated.filter(col("term").isNull)
      .head.getLong(2) == 0L)
    // before any fold: all zeros, schema preserved
    val empty = SketchView.estimateAll(spark, tmpDir("sketchnone"),
      termTable.limit(3), "term")
    assert(empty.collect().forall(_.getLong(2) == 0L))

    // streaming form: AvailableNow folds, exactly-once by batch id
    val src = tmpDir("sketchsrc"); val ckpt = tmpDir("sketchckpt")
    val sroot = tmpDir("sketchsroot")
    val sspec = SketchView.Spec(column = "customer_type")
    SurveyGen.writeArrival(spark, src, "d1.csv", 60, 31)
    SketchView.runStream(spark, src, sroot, ckpt, SurveyGen.schema, sspec)
      .awaitTermination(60000)
    assert(SketchView.current(spark, sroot).get.totalCount() == 60)
    // crash-redelivery: re-folding the last batch id is a no-op
    val lastId = MaterializedAgg.lastFoldedBatch(spark, sroot).get
    assert(!SketchView.foldBatch(spark, sroot,
      SurveyGen.generate(spark, 40, seed = 32), sspec, lastId))
    assert(SketchView.current(spark, sroot).get.totalCount() == 60)
    // restart with a new drop: checkpoint resumes, next id folds
    SurveyGen.writeArrival(spark, src, "d2.csv", 25, 33)
    SketchView.runStream(spark, src, sroot, ckpt, SurveyGen.schema, sspec)
      .awaitTermination(60000)
    assert(SketchView.current(spark, sroot).get.totalCount() == 85)
  }

  test("quantile view: relative-error bound, order-independent folds, streaming exactly once") {
    import spark.implicits._
    val spec = QuantileView.Spec(column = "o_totalprice", alpha = 0.01)
    val orders = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_totalprice").cast("double"))

    // three folds over disjoint slices, one deliberately repartitioned:
    // integer bucket counts add, so the maintained state is
    // BIT-IDENTICAL to a from-scratch build over the union — the same
    // contract as the HLL and CMS members of the family
    val root = tmpDir("qview")
    QuantileView.update(spark, root,
      orders.filter(col("o_orderkey") % 3 === 0), spec)
    QuantileView.update(spark, root,
      orders.filter(col("o_orderkey") % 3 === 1).repartition(7), spec)
    QuantileView.update(spark, root,
      orders.filter(col("o_orderkey") % 3 === 2), spec)
    val scratchRoot = tmpDir("qview-scratch")
    QuantileView.update(spark, scratchRoot, orders, spec)
    def stateSet(r: String) = QuantileView.state(spark, r).get
      .collect().map(x => (x.getInt(0), x.getLong(1), x.getLong(2))).toSet
    assert(stateSet(root) == stateSet(scratchRoot))

    // the DDSketch guarantee: every quantile within alpha relative
    // error of the exact rank-ceil(q*n) value
    val exactVals = orders.select("o_totalprice")
      .collect().map(_.getDouble(0)).sorted
    val batch = QuantileView.quantiles(spark, root, spec,
      Seq(0.01, 0.1, 0.5, 0.9, 0.99))
    for (q <- Seq(0.01, 0.1, 0.5, 0.9, 0.99)) {
      val est = QuantileView.quantile(spark, root, spec, q).get
      val ex = exactVals(math.max(0,
        math.ceil(q * exactVals.length).toInt - 1))
      val rel = math.abs(est - ex) / math.abs(ex)
      info(f"q=$q%.2f exact=$ex%.2f est=$est%.2f rel=$rel%.5f")
      assert(rel <= spec.alpha * 1.05, s"q=$q rel error $rel > alpha")
      // the one-read batch form agrees with the per-q form
      assert(batch(q).contains(est))
    }

    // alpha drift guard: the state's own marker refuses folds and
    // reads at another gamma instead of being silently wrong
    assert(QuantileView.storedAlpha(spark, root).contains(0.01))
    val drifted = QuantileView.Spec(column = "o_totalprice", alpha = 0.05)
    intercept[IllegalArgumentException] {
      QuantileView.update(spark, root, orders, drifted)
    }
    intercept[IllegalArgumentException] {
      QuantileView.quantile(spark, root, drifted, 0.5)
    }
    // SQL surface: graft_quantiles reads alpha from the marker and
    // serves (q, value) rows == the programmatic batch form
    val viaSql = spark.sql(
      s"SELECT q, value FROM graft_quantiles('$root', 0.1, 0.5, 0.9)")
      .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    for (q <- Seq(0.1, 0.5, 0.9))
      assert(batch(q).contains(viaSql(q)), s"q=$q: $viaSql vs $batch")

    // signs and zeros: mirrored negative buckets, exact zero counts,
    // nulls skipped
    val mixed = Seq(-100.0, -10.0, -1.0, 0.0, 0.0, 1.0, 10.0, 100.0)
      .map(Option(_)).:+(None: Option[Double]).toDF("v")
    val mspec = QuantileView.Spec(column = "v", alpha = 0.01)
    val mroot = tmpDir("qview-mixed")
    QuantileView.update(spark, mroot, mixed, mspec)
    val med = QuantileView.quantile(spark, mroot, mspec, 0.5).get
    assert(med == 0.0, s"median of symmetric data: $med")
    val lo = QuantileView.quantile(spark, mroot, mspec, 0.25).get
    assert(math.abs(lo - (-10.0)) <= 10.0 * 0.011, s"q25: $lo")
    assert(QuantileView.quantile(spark, mroot, mspec, 0.0).get < 0)
    assert(QuantileView.quantile(spark, tmpDir("qview-none"), mspec,
      0.5).isEmpty)

    // streaming: AvailableNow folds exactly once; crash-redelivery of
    // the last batch id is a no-op; restart folds only the new drop
    val src = tmpDir("qvsrc"); val ckpt = tmpDir("qvckpt")
    val sroot = tmpDir("qvsroot")
    val sspec = QuantileView.Spec(column = "departure_delay")
    SurveyGen.writeArrival(spark, src, "d1.csv", 60, 41)
    QuantileView.runStream(spark, src, sroot, ckpt, SurveyGen.schema, sspec)
      .awaitTermination(60000)
    def totalCnt() = QuantileView.state(spark, sroot).get
      .agg(sum("cnt")).head.getLong(0)
    val afterFirst = totalCnt()
    val lastId = MaterializedAgg.lastFoldedBatch(spark, sroot).get
    assert(!QuantileView.foldBatch(spark, sroot,
      SurveyGen.generate(spark, 40, seed = 42), sspec, lastId))
    assert(totalCnt() == afterFirst)
    SurveyGen.writeArrival(spark, src, "d2.csv", 25, 43)
    QuantileView.runStream(spark, src, sroot, ckpt, SurveyGen.schema, sspec)
      .awaitTermination(60000)
    assert(totalCnt() == afterFirst + 25)
  }

  test("automation tick curates the corpus: near-dups vs history dropped exactly once") {
    val root = tmpDir("corpusauto")
    val cc = Automation.CorpusDedupConfig(
      srcDir = s"$root/drops", rawTableDir = s"$root/raw",
      registryDir = s"$root/reg", corpusDir = s"$root/corpus",
      postingsDir = s"$root/postings")
    val auto = new Automation(spark, Automation.Config(
      srcDir = s"$root/arrivals", tableDir = s"$root/survey",
      registryDir = s"$root/sreg", generate = false, corpusDedup = Some(cc)))
    new java.io.File(s"$root/drops").mkdirs()
    new java.io.File(s"$root/arrivals").mkdirs()
    def drop(name: String, lines: Seq[String]): Unit =
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$root/drops/$name"),
        lines.mkString("\n").getBytes("UTF-8"))
    val textA = (1 to 30).map(i => s"alpha$i").mkString(" ")
    val textB = (1 to 30).map(i => s"beta$i").mkString(" ")
    val textC = (1 to 30).map(i => s"gamma$i").mkString(" ")
    drop("d1.json", Seq(
      s"""{"doc_id": 1, "text": "$textA", "lang": "en", "source": "s"}""",
      s"""{"doc_id": 2, "text": "$textB", "lang": "en", "source": "s"}"""))
    val r1 = auto.tick()
    assert(r1.corpus.get.kept == 2 && r1.corpus.get.dropped == 0)
    // tick 2: a near-rewrite of A (appended word — exact fingerprints
    // would MISS it), an exact re-crawl of B under a new id, a
    // genuinely new doc C, and a near-rewrite of C in the SAME drop
    // (the within-batch near-dup case)
    drop("d2.json", Seq(
      s"""{"doc_id": 11, "text": "$textA zz", "lang": "en", "source": "s"}""",
      s"""{"doc_id": 12, "text": "$textB", "lang": "en", "source": "s"}""",
      s"""{"doc_id": 13, "text": "$textC", "lang": "en", "source": "s"}""",
      s"""{"doc_id": 14, "text": "$textC yy", "lang": "en", "source": "s"}"""))
    val r2 = auto.tick()
    assert(r2.corpus.get.kept == 1 && r2.corpus.get.dropped == 3)
    val corpus = spark.read.parquet(s"$root/corpus/data").select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(corpus == Seq(1L, 2L, 13L))
    // idle tick: nothing new to process
    val r3 = auto.tick()
    assert(r3.corpus.get.batches == 0)
    // crash replay: lose d2's done marker — the batch reprocesses but
    // the already-published objects are reused, so the corpus is
    // unchanged, and the report counts the published object ({13} kept)
    val d2Tag = IncrementalLoader.publishedTag(
      new org.apache.hadoop.fs.Path(s"$root/drops/d2.json").toUri.getPath)
    assert(new java.io.File(s"$root/corpus/_done/done-$d2Tag").delete())
    val r4 = auto.tick()
    assert(r4.corpus.get.batches == 1)
    assert(r4.corpus.get.kept == 1 && r4.corpus.get.dropped == 3,
      s"replay report ${r4.corpus.get}")
    val corpus2 = spark.read.parquet(s"$root/corpus/data").select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(corpus2 == corpus)
    // the incrementally-folded (gram, df) view matches a from-scratch
    // aggregate of the published postings (no batch lost or doubled
    // on the clean path)
    val viewDf = MaterializedAgg.read(spark, cc.gramDfDir,
      MaterializedAgg.Spec(Seq("gram"), Nil))
      .select("gram", "cnt").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val recount = spark.read.parquet(s"$root/postings")
      .groupBy("gram").count().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(viewDf == recount && viewDf.nonEmpty)
  }

  test("corpus tick job count: the curated plan runs once per batch") {
    val root = tmpDir("corpusjobs")
    val cc = Automation.CorpusDedupConfig(
      srcDir = s"$root/drops", rawTableDir = s"$root/raw",
      registryDir = s"$root/reg", corpusDir = s"$root/corpus",
      postingsDir = s"$root/postings")
    val auto = new Automation(spark, Automation.Config(
      srcDir = s"$root/arrivals", tableDir = s"$root/survey",
      registryDir = s"$root/sreg", generate = false, corpusDedup = Some(cc)))
    new java.io.File(s"$root/drops").mkdirs()
    new java.io.File(s"$root/arrivals").mkdirs()
    def drop(name: String, texts: Seq[(Int, String)]): Unit =
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$root/drops/$name"),
        texts.map { case (id, t) =>
          s"""{"doc_id": $id, "text": "$t", "lang": "en", "source": "s"}"""
        }.mkString("\n").getBytes("UTF-8"))
    def words(w: String) = (1 to 30).map(i => s"$w$i").mkString(" ")
    drop("d1.json", Seq(1 -> words("alpha"), 2 -> words("beta")))
    auto.tick() // history: corpus, postings and the gram-df view exist
    drop("d2.json", Seq(11 -> s"${words("alpha")} zz", 12 -> words("gamma"),
      13 -> words("delta")))
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    // AQE off: adaptive execution splits one action into several
    // query-stage jobs, which would make the count nondeterministic
    val key = "spark.sql.adaptive.enabled"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    spark.sparkContext.addSparkListener(listener)
    val r = try {
      val r = auto.tick()
      var last = -1; var same = 0
      while (same < 3) {
        Thread.sleep(100)
        val now = jobs.get()
        if (now == last) same += 1 else { same = 0; last = now }
      }
      r
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      spark.conf.set(key, prev)
    }
    assert(r.corpus.get.kept == 2 && r.corpus.get.dropped == 1)
    // one evaluation of the curated plan (the corpus write) instead of
    // five (count + write for the corpus and for the postings object,
    // and the gram-df fold's input), and row counts from parquet
    // footers: 26 jobs, against 68 when every publish and the fold
    // re-ran the plan
    assert(jobs.get() <= 32, s"corpus tick ran ${jobs.get()} jobs")
  }

  test("curation blob dedup: re-uploaded and re-encoded images drop " +
      "against the fingerprint history; crash replay idempotent") {
    import spark.implicits._
    val root = tmpDir("blobdedup")
    val cc = Automation.CorpusDedupConfig(
      srcDir = s"$root/drops", rawTableDir = s"$root/raw",
      registryDir = s"$root/reg", corpusDir = s"$root/corpus",
      postingsDir = s"$root/postings",
      schema = org.apache.spark.sql.types.StructType.fromDDL(
        "doc_id BIGINT, text STRING, lang STRING, source STRING, " +
          "payload BINARY"),
      format = "parquet",
      blobDedup = Some(Automation.BlobDedupConfig(
        column = "payload", modality = "image", fpDir = s"$root/blobfp")))
    val auto = new Automation(spark, Automation.Config(
      srcDir = s"$root/arrivals", tableDir = s"$root/survey",
      registryDir = s"$root/sreg", generate = false,
      corpusDedup = Some(cc)))
    new java.io.File(s"$root/drops").mkdirs()
    new java.io.File(s"$root/arrivals").mkdirs()
    def png(seed: Long): Array[Byte] =
      operators.ImageCodec.encodePng(seed, 12, 10)
    // DISTINCT texts everywhere: the text stages must keep every doc,
    // so any drop below is the blob stage's alone
    def text(tag: String): String =
      (1 to 30).map(i => s"$tag$i").mkString(" ")
    def drop(name: String,
        rows: Seq[(Long, String, Array[Byte])]): Unit = {
      val staging = s"$root/stage"
      rows.toDF("doc_id", "text", "payload")
        .withColumn("lang", lit("en")).withColumn("source", lit("s"))
        .select("doc_id", "text", "lang", "source", "payload")
        .coalesce(1).write.mode("overwrite").parquet(staging)
      val f = new java.io.File(staging).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(f.toPath,
        java.nio.file.Paths.get(s"$root/drops/$name"))
    }
    drop("d1.parquet", Seq(
      (1L, text("alpha"), png(100)), (2L, text("beta"), png(200))))
    val r1 = auto.tick()
    assert(r1.corpus.get.kept == 2 && r1.corpus.get.dropped == 0)
    // tick 2, all-new texts: a BYTE-IDENTICAL re-upload of image 100,
    // a RE-ENCODE of image 200 (decode → re-encode: new bytes, same
    // pixels — only a PERCEPTUAL fingerprint catches it), a fresh
    // image, and a same-batch twin of the fresh image (within-batch
    // case: the larger id loses)
    val reenc = operators.ImageCodec.toPng(
      operators.ImageCodec.decode(png(200)))
    drop("d2.parquet", Seq(
      (11L, text("gamma"), png(100)),
      (12L, text("delta"), reenc),
      (13L, text("epsil"), png(300)),
      (14L, text("zetaa"), png(300))))
    val r2 = auto.tick()
    assert(r2.corpus.get.kept == 1 && r2.corpus.get.dropped == 3,
      r2.corpus.toString)
    def corpusIds() = spark.read.parquet(s"$root/corpus/data")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(corpusIds() == Seq(1L, 2L, 13L))
    // the fingerprint history mirrors the published corpus exactly
    val fps = spark.read.parquet(s"$root/blobfp")
      .select("bfp").collect().map(_.getLong(0)).toSeq
    assert(fps.length == 3 && fps.distinct.length == 3)
    // crash replay: lose the tick-2 done marker — the batch
    // reprocesses, published objects are reused, nothing doubles
    val done = new java.io.File(s"$root/corpus/_done").listFiles()
      .filter(_.getName.startsWith("done-")).maxBy(_.getName)
    assert(done.delete())
    val r3 = auto.tick()
    assert(r3.corpus.get.batches == 1)
    assert(corpusIds() == Seq(1L, 2L, 13L))
    assert(spark.read.parquet(s"$root/blobfp").count() == 3L)
  }

  test("curation blob dedup maxHamming=3: flipped-bit re-encodes drop " +
      "against history AND within-batch; exact twins still drop") {
    import spark.implicits._
    val root = tmpDir("blobdeduphamming")
    val cc = Automation.CorpusDedupConfig(
      srcDir = s"$root/drops", rawTableDir = s"$root/raw",
      registryDir = s"$root/reg", corpusDir = s"$root/corpus",
      postingsDir = s"$root/postings",
      schema = org.apache.spark.sql.types.StructType.fromDDL(
        "doc_id BIGINT, text STRING, lang STRING, source STRING, " +
          "payload BINARY"),
      format = "parquet",
      blobDedup = Some(Automation.BlobDedupConfig(
        column = "payload", modality = "image", fpDir = s"$root/blobfp",
        maxHamming = 3)))
    val auto = new Automation(spark, Automation.Config(
      srcDir = s"$root/arrivals", tableDir = s"$root/survey",
      registryDir = s"$root/sreg", generate = false,
      corpusDedup = Some(cc)))
    new java.io.File(s"$root/drops").mkdirs()
    new java.io.File(s"$root/arrivals").mkdirs()
    def png(seed: Long): Array[Byte] =
      operators.ImageCodec.encodePng(seed, 12, 10)
    // the perturbed re-encode: same perceptual content, dHash exactly
    // `flips` bits away — the class the exact (maxHamming=0) stage is
    // blind to (pinned by the sibling test's reenc case being
    // byte-new but pixel-identical; here the PIXELS change too)
    def perturbed(seed: Long, flips: Int): Array[Byte] =
      operators.ImageCodec.encodePngReencoded(seed, 12, 10, flips)
    def text(tag: String): String =
      (1 to 30).map(i => s"$tag$i").mkString(" ")
    def drop(name: String,
        rows: Seq[(Long, String, Array[Byte])]): Unit = {
      val staging = s"$root/stage"
      rows.toDF("doc_id", "text", "payload")
        .withColumn("lang", lit("en")).withColumn("source", lit("s"))
        .select("doc_id", "text", "lang", "source", "payload")
        .coalesce(1).write.mode("overwrite").parquet(staging)
      val f = new java.io.File(staging).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(f.toPath,
        java.nio.file.Paths.get(s"$root/drops/$name"))
    }
    drop("d1.parquet", Seq(
      (1L, text("alpha"), png(100)), (2L, text("beta"), png(200))))
    val r1 = auto.tick()
    assert(r1.corpus.get.kept == 2 && r1.corpus.get.dropped == 0)
    // tick 2, all-new texts: a 2-bit-flipped RE-ENCODED upload of
    // image 100 (history hamming case — exact equality misses it), a
    // byte-identical re-upload of 200 (hamming 0 must still drop), a
    // fresh image, and a 1-bit-flipped re-encode of the fresh image
    // in the SAME batch (within-batch hamming case: larger id loses)
    drop("d2.parquet", Seq(
      (11L, text("gamma"), perturbed(100, 2)),
      (12L, text("delta"), png(200)),
      (13L, text("epsil"), png(300)),
      (14L, text("zetaa"), perturbed(300, 1))))
    val r2 = auto.tick()
    assert(r2.corpus.get.kept == 1 && r2.corpus.get.dropped == 3,
      r2.corpus.toString)
    def corpusIds() = spark.read.parquet(s"$root/corpus/data")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(corpusIds() == Seq(1L, 2L, 13L))
    val fps = spark.read.parquet(s"$root/blobfp")
      .select("bfp").collect().map(_.getLong(0)).toSeq
    assert(fps.length == 3 && fps.distinct.length == 3)
    // crash replay stays idempotent on the hamming path
    val done = new java.io.File(s"$root/corpus/_done").listFiles()
      .filter(_.getName.startsWith("done-")).maxBy(_.getName)
    assert(done.delete())
    val r3 = auto.tick()
    assert(r3.corpus.get.batches == 1)
    assert(corpusIds() == Seq(1L, 2L, 13L))
    assert(spark.read.parquet(s"$root/blobfp").count() == 3L)
  }

  test("automation tick resamples the corpus by maintained DSIR weights") {
    import org.apache.spark.sql.functions.col
    val root = tmpDir("corpusdsir")
    val cc = Automation.CorpusDedupConfig(
      srcDir = s"$root/drops", rawTableDir = s"$root/raw",
      registryDir = s"$root/reg", corpusDir = s"$root/corpus",
      postingsDir = s"$root/postings", dsirTargetLang = Some("en"))
    val auto = new Automation(spark, Automation.Config(
      srcDir = s"$root/arrivals", tableDir = s"$root/survey",
      registryDir = s"$root/sreg", generate = false, corpusDedup = Some(cc)))
    new java.io.File(s"$root/drops").mkdirs()
    new java.io.File(s"$root/arrivals").mkdirs()
    def drop(name: String, lines: Seq[String]): Unit =
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$root/drops/$name"),
        lines.mkString("\n").getBytes("UTF-8"))
    // en and fr vocabularies are DISJOINT, so the importance ratio is
    // decisive: en docs get logw >> 0 (rate clips to 1 — always kept),
    // fr docs logw << 0 (rate ≈ 0 — always dropped); texts are all
    // distinct so the dedup stages pass everything through
    def enDoc(id: Int) = (1 to 40).map(i => s"en${id}w$i").mkString(" ")
    def frDoc(id: Int) = (1 to 40).map(i => s"fr${id}w$i").mkString(" ")
    drop("d1.json", Seq(
      s"""{"doc_id": 1, "text": "${enDoc(1)}", "lang": "en", "source": "s"}""",
      s"""{"doc_id": 2, "text": "${frDoc(2)}", "lang": "fr", "source": "s"}""",
      s"""{"doc_id": 3, "text": "${enDoc(3)}", "lang": "en", "source": "s"}"""))
    val r1 = auto.tick()
    assert(r1.corpus.get.kept == 2 && r1.corpus.get.dropped == 1)
    assert(spark.read.parquet(s"$root/corpus/data").select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L))
    // the maintained model folded ALL survivors (pre-resample): both
    // vocabularies count, with ct covering only the en slice
    val m1 = graft.operators.DsirView.model(spark, cc.dsirModelDir)
      .agg(org.apache.spark.sql.functions.sum("cr"),
        org.apache.spark.sql.functions.sum("ct")).head
    assert(m1.getLong(0) == 120L && m1.getLong(1) == 80L)
    // tick 2: the model keeps folding and the decision stays decisive
    drop("d2.json", Seq(
      s"""{"doc_id": 11, "text": "${frDoc(11)}", "lang": "fr", "source": "s"}""",
      s"""{"doc_id": 12, "text": "${enDoc(12)}", "lang": "en", "source": "s"}"""))
    val r2 = auto.tick()
    assert(r2.corpus.get.kept == 1 && r2.corpus.get.dropped == 1)
    assert(spark.read.parquet(s"$root/corpus/data").select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L, 12L))
    val m2 = graft.operators.DsirView.model(spark, cc.dsirModelDir)
      .agg(org.apache.spark.sql.functions.sum("cr"),
        org.apache.spark.sql.functions.sum("ct")).head
    assert(m2.getLong(0) == 200L && m2.getLong(1) == 120L)
    // near-dup history mirrors the PUBLISHED corpus, not the scored
    // batch: the dropped fr docs left no postings behind
    val postDocs = spark.read.parquet(s"$root/postings")
      .select("hist_id").distinct()
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(postDocs == Seq(1L, 3L, 12L))
  }

  test("curation drops tombstone the linked ANN index the same tick; " +
      "scheduled vacuum materializes; crash replay idempotent") {
    import spark.implicits._
    import graft.operators.VectorIndex
    val root = tmpDir("corpusannidx")
    val emb = Tables.embeddings(spark, sfDir)
    // index whose vec_ids ARE the corpus doc ids: remap six base
    // vectors onto the ids the drops below use; filler ids 100..139
    // keep enough live neighbors for a full-k search after the drops
    val mapping = Seq((0L, 1L), (1L, 2L), (2L, 11L), (3L, 12L),
      (4L, 13L), (5L, 14L)).toDF("vec_id", "new_id")
    val docVecs = emb.join(mapping, "vec_id")
      .select(col("new_id").as("vec_id"), col("embedding"), col("label"))
    val vecs = docVecs.unionByName(
      emb.filter(col("vec_id") >= 100 && col("vec_id") < 140))
    val idx = s"$root/idx"
    VectorIndex.buildPQ(vecs, idx, k = 4, m = 16, ksub = 16, iters = 3)
    val cc = Automation.CorpusDedupConfig(
      srcDir = s"$root/drops", rawTableDir = s"$root/raw",
      registryDir = s"$root/reg", corpusDir = s"$root/corpus",
      postingsDir = s"$root/postings",
      annIndexPath = Some(idx), annVacuumEvery = 3)
    val auto = new Automation(spark, Automation.Config(
      srcDir = s"$root/arrivals", tableDir = s"$root/survey",
      registryDir = s"$root/sreg", generate = false, corpusDedup = Some(cc)))
    new java.io.File(s"$root/drops").mkdirs()
    new java.io.File(s"$root/arrivals").mkdirs()
    def drop(name: String, lines: Seq[String]): Unit =
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$root/drops/$name"),
        lines.mkString("\n").getBytes("UTF-8"))
    val textA = (1 to 30).map(i => s"alpha$i").mkString(" ")
    val textB = (1 to 30).map(i => s"beta$i").mkString(" ")
    val textC = (1 to 30).map(i => s"gamma$i").mkString(" ")
    drop("d1.json", Seq(
      s"""{"doc_id": 1, "text": "$textA", "lang": "en", "source": "s"}""",
      s"""{"doc_id": 2, "text": "$textB", "lang": "en", "source": "s"}"""))
    val r1 = auto.tick()
    assert(r1.corpus.get.kept == 2 && r1.corpus.get.annRemoved == 0)
    def doneMarkers(): Set[String] = new java.io.File(s"$root/corpus/_done")
      .listFiles().map(_.getName).filter(_.startsWith("done-")).toSet
    val tick1Markers = doneMarkers()
    // tick 2: 11 = near-rewrite of A, 12 = exact dup of B, 13 = new,
    // 14 = within-batch near-dup of 13 → drops {11, 12, 14}
    drop("d2.json", Seq(
      s"""{"doc_id": 11, "text": "$textA zz", "lang": "en", "source": "s"}""",
      s"""{"doc_id": 12, "text": "$textB", "lang": "en", "source": "s"}""",
      s"""{"doc_id": 13, "text": "$textC", "lang": "en", "source": "s"}""",
      s"""{"doc_id": 14, "text": "$textC yy", "lang": "en", "source": "s"}"""))
    val r2 = auto.tick()
    assert(r2.corpus.get.dropped == 3 && r2.corpus.get.annRemoved == 3)
    assert(r2.corpus.get.annVacuumed == 0, "vacuum is on the tick-3 cadence")
    // SAME tick: the dropped docs' vectors are tombstoned (no code
    // partition touched yet) and searches never return them — with a
    // full k of live neighbors still coming back
    assert(new java.io.File(s"$idx/tombstones").exists())
    assert(spark.read.parquet(s"$idx/codes")
      .filter(col("vec_id").isin(11L, 12L, 14L)).count() == 3,
      "tombstone phase must not rewrite list partitions")
    val probes = vecs.filter(col("vec_id").isin(1L, 13L))
    val hits = VectorIndex.searchPQ(spark, idx, probes, vecs,
      nprobe = 4, k = 3)
    assert(hits.filter(col("neighbor_id").isin(11L, 12L, 14L)).count() == 0,
      "dropped docs must vanish from ANN results the tick they drop")
    assert(hits.groupBy("probe_id").count().collect()
      .forall(_.getLong(1) == 3L), "full k live results per probe")
    // materialize NOW: the plan reads tombstone files the scheduled
    // vacuum below deletes
    val hitRows = hits.collect().map(_.toString).sorted.toSeq
    // crash replay: lose tick-2's done marker — the batch reprocesses
    // (tombstones re-append; reads dedup), then the tick-3 scheduled
    // vacuum materializes exactly the 3 distinct ids and clears the set
    val d2Marker = (doneMarkers() -- tick1Markers).head
    assert(new java.io.File(s"$root/corpus/_done/$d2Marker").delete())
    val r3 = auto.tick()
    assert(r3.corpus.get.batches == 1 && r3.corpus.get.annRemoved == 3)
    assert(r3.corpus.get.annVacuumed == 3)
    assert(!new java.io.File(s"$idx/tombstones").exists())
    assert(spark.read.parquet(s"$idx/codes")
      .filter(col("vec_id").isin(11L, 12L, 14L)).count() == 0,
      "vacuum must physically drop the tombstoned codes")
    val hits2 = VectorIndex.searchPQ(spark, idx, probes, vecs,
      nprobe = 4, k = 3)
    assert(hits2.collect().map(_.toString).sorted.toSeq == hitRows,
      "vacuum must not change search results")
    // the replayed batch reused its published objects: corpus unchanged
    assert(spark.read.parquet(s"$root/corpus/data").select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 13L))
  }

  test("DSIR stage keeps zero-token survivors (left join, neutral rate) " +
      "and an all-empty first batch defers the model") {
    import org.apache.spark.sql.functions.col
    val root = tmpDir("corpusdsir0")
    val cc = Automation.CorpusDedupConfig(
      srcDir = s"$root/drops", rawTableDir = s"$root/raw",
      registryDir = s"$root/reg", corpusDir = s"$root/corpus",
      postingsDir = s"$root/postings", dsirTargetLang = Some("en"))
    val auto = new Automation(spark, Automation.Config(
      srcDir = s"$root/arrivals", tableDir = s"$root/survey",
      registryDir = s"$root/sreg", generate = false, corpusDedup = Some(cc)))
    new java.io.File(s"$root/drops").mkdirs()
    new java.io.File(s"$root/arrivals").mkdirs()
    def drop(name: String, lines: Seq[String]): Unit =
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$root/drops/$name"),
        lines.mkString("\n").getBytes("UTF-8"))
    // tick 1: the ONLY doc tokenizes empty — the unfolded model must
    // not crash the tick, and the doc rides through at neutral weight
    drop("d1.json", Seq(
      s"""{"doc_id": 1, "text": "   ", "lang": "en", "source": "s"}"""))
    val r1 = auto.tick()
    assert(r1.corpus.get.kept == 1 && r1.corpus.get.dropped == 0)
    assert(!graft.operators.DsirView.hasState(spark, cc.dsirModelDir))
    // tick 2: a real en doc folds the model; a second zero-token doc
    // in the same batch gets NO score row — the left join must keep it
    // (importance resampling, not a hard filter)
    val en = (1 to 40).map(i => s"enw$i").mkString(" ")
    drop("d2.json", Seq(
      s"""{"doc_id": 2, "text": "$en", "lang": "en", "source": "s"}""",
      s"""{"doc_id": 3, "text": "\\t ", "lang": "en", "source": "s"}"""))
    val r2 = auto.tick()
    assert(r2.corpus.get.kept == 2 && r2.corpus.get.dropped == 0,
      "zero-token survivor must not be silently dropped by the DSIR join")
    assert(spark.read.parquet(s"$root/corpus/data").select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L))
    // the guard refuses loudly on a model that only ever folded
    // zero-token batches (sums are null) instead of NPE-ing
    val emptyRoot = s"$root/m0"
    graft.operators.DsirView.update(spark, emptyRoot,
      spark.read.parquet(s"$root/corpus/data").filter(col("doc_id") < 0), "en")
    intercept[IllegalArgumentException] {
      graft.operators.DsirView.score(spark, emptyRoot,
        spark.read.parquet(s"$root/corpus/data"))
    }
  }

  test("RetrievalView: incremental BM25 folds ≡ the batch q132 " +
      "bit-for-bit; re-delivery folds nothing; unfolded root refuses") {
    val root = tmpDir("retrv") + "/ix"
    val docs = Tables.documents(spark, sfDir)
    val qterms = graft.operators.TextOps.bm25Queries(spark)
    // three batches, mixed partitionings — the maintained statistics
    // must fold to exactly the batch q132's global tf/df/dl/avgdl
    assert(RetrievalView.update(spark, root,
      docs.filter(col("doc_id") % 3 === 0), 1L))
    assert(RetrievalView.update(spark, root,
      docs.filter(col("doc_id") % 3 === 1).repartition(7), 2L))
    assert(RetrievalView.update(spark, root,
      docs.filter(col("doc_id") % 3 === 2), 3L))
    val search = RetrievalView.search(spark, root, qterms, k = 10)
    val got = search.collect().map(_.toString).sorted.toSeq
    val want = graft.SparkEntry.queries("q132_bm25")(spark, sfDir)
      .collect().map(_.toString).sorted.toSeq
    assert(got.nonEmpty && got == want,
      "maintained index must reproduce the batch BM25 exactly")
    // the query-vocabulary IN filter reaches the postings parquet
    // scan — the row-group-skipping lever over term-sorted objects
    assert(search.queryExecution.executedPlan.toString
      .contains("PushedFilters: [In(term"),
      "term filter must push into the postings scan")
    // re-delivered batch id folds nothing and changes nothing
    assert(!RetrievalView.update(spark, root,
      docs.filter(col("doc_id") % 3 === 1), 2L))
    assert(RetrievalView.search(spark, root, qterms, k = 10)
      .collect().map(_.toString).sorted.toSeq == got)
    // the SQL surface: graft_bm25 serves the q1 list from the console
    val sqlHits = spark.sql(
      s"SELECT * FROM graft_bm25('$root', 'spark join merge')")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val q1 = RetrievalView.search(spark, root,
      graft.operators.TextOps.bm25Queries(spark)
        .filter(col("query_id") === "q1"), k = 10)
      .collect().map(r => (r.getLong(1), r.getInt(2))).toSet
    assert(sqlHits == q1, s"graft_bm25 $sqlHits != library $q1")
    // ...and the compaction proc
    val pc = SqlRunner.callProc(spark, "graft_retrieval_compact",
      Seq(root))._1.head()
    assert(pc.getBoolean(0) && pc.getLong(1) > 0, pc.toString)
    assert(spark.sql(
      s"SELECT * FROM graft_bm25('$root', 'spark join merge')")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet == q1,
      "SQL search must survive compaction")
    // an unfolded root refuses loudly instead of scoring nothing
    intercept[IllegalArgumentException] {
      RetrievalView.search(spark, tmpDir("retrv-none") + "/ix", qterms)
    }
  }

  test("RetrievalView.remove: exact retraction — search ≡ an index " +
      "that never folded the docs; compaction purges and consumes " +
      "tombstones") {
    import spark.implicits._
    val root = tmpDir("retrvrm") + "/ix"
    val docs = Tables.documents(spark, sfDir)
    val qterms = graft.operators.TextOps.bm25Queries(spark)
    assert(RetrievalView.update(spark, root,
      docs.filter(col("doc_id") % 2 === 0), 1L))
    assert(RetrievalView.update(spark, root,
      docs.filter(col("doc_id") % 2 === 1), 2L))
    def results(r: String) = RetrievalView.search(spark, r, qterms, k = 10)
      .collect().map(_.toString).sorted.toSeq
    // victims: two docs currently IN the results, so the removal is
    // visible, plus one doc outside them (stats-only effect)
    val hits = RetrievalView.search(spark, root, qterms, k = 10)
      .select("doc_id").collect().map(_.getLong(0)).distinct
    val victims = hits.take(2).toSeq :+ 4L
    assert(RetrievalView.remove(spark, root, victims.toDF("doc_id"), 3L))
    val after = results(root)
    assert(victims.take(2).forall(v =>
      !after.exists(_.contains(s",$v,"))), "removed docs must vanish")
    // BIT-IDENTICAL to an index that never folded the victims: df,
    // nDocs, avgdl all retracted exactly, not just rows filtered
    val ref1 = tmpDir("retrvrm-ref1") + "/ix"
    assert(RetrievalView.update(spark, ref1,
      docs.filter(!col("doc_id").isin(victims: _*)), 1L))
    assert(after == results(ref1))
    // re-delivered remove id retracts nothing
    assert(!RetrievalView.remove(spark, root, victims.toDF("doc_id"), 3L))
    assert(results(root) == after)
    // a LATER remove repeating an already-removed id must not
    // double-retract it
    val more = Seq(victims.head, 6L)
    assert(RetrievalView.remove(spark, root, more.toDF("doc_id"), 4L))
    val gone = (victims ++ more).distinct
    val ref2 = tmpDir("retrvrm-ref2") + "/ix"
    assert(RetrievalView.update(spark, ref2,
      docs.filter(!col("doc_id").isin(gone: _*)), 1L))
    val after2 = results(root)
    assert(after2 == results(ref2))
    // compaction PURGES the tombstoned rows physically and consumes
    // the tombstones; search is unchanged
    assert(RetrievalView.compact(spark, root))
    assert(results(root) == after2)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(root), spark.sparkContext.hadoopConfiguration)
    val tdir = new org.apache.hadoop.fs.Path(s"$root/tombstones")
    assert(!fs.exists(tdir) || fs.listStatus(tdir)
      .forall(!_.getPath.getName.startsWith("batch-")),
      "compaction must consume the tombstones it purged")
    assert(RetrievalView.vacuumCompacted(spark, root) > 0)
    assert(spark.read.parquet(s"$root/dl")
      .filter(col("doc_id").isin(gone: _*)).count() == 0,
      "purged rows must be physically gone from the compacted objects")
    // the SQL proc drives the same retraction
    val (pr, _) = SqlRunner.callProc(spark, "graft_retrieval_remove",
      Seq(root, "8", "5"))
    assert(pr.head.getBoolean(0))
    val ref3 = tmpDir("retrvrm-ref3") + "/ix"
    assert(RetrievalView.update(spark, ref3,
      docs.filter(!col("doc_id").isin(gone :+ 8L: _*)), 1L))
    assert(results(root) == results(ref3))
  }

  test("RetrievalView.compact: marker-gated object consolidation — " +
      "search identical through compaction, post-compact folds, crash " +
      "orphans, and vacuum") {
    import org.apache.hadoop.fs.Path
    val root = tmpDir("retrvc") + "/ix"
    val docs = Tables.documents(spark, sfDir)
    val qterms = graft.operators.TextOps.bm25Queries(spark)
    val want = graft.SparkEntry.queries("q132_bm25")(spark, sfDir)
      .collect().map(_.toString).sorted.toSeq
    assert(RetrievalView.update(spark, root,
      docs.filter(col("doc_id") % 3 === 0), 1L))
    assert(RetrievalView.update(spark, root,
      docs.filter(col("doc_id") % 3 === 1), 2L))
    // compact claims batches 1-2; search over compact + nothing else
    assert(RetrievalView.compact(spark, root))
    assert(!RetrievalView.compact(spark, root), "re-compact must no-op")
    // fold AFTER compaction: the new batch rides alongside the
    // compact set until the next pass
    assert(RetrievalView.update(spark, root,
      docs.filter(col("doc_id") % 3 === 2), 3L))
    val got = RetrievalView.search(spark, root, qterms, k = 10)
      .collect().map(_.toString).sorted.toSeq
    assert(got == want, "compacted index must reproduce the batch BM25")
    // a crashed attempt's orphan parts (no marker) are invisible
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(root), spark.sparkContext.hadoopConfiguration)
    val orphan = new Path(s"$root/postings/compact-99-p0.parquet")
    val out = fs.create(orphan); out.write(Array[Byte](1, 2, 3)); out.close()
    assert(RetrievalView.search(spark, root, qterms, k = 10)
      .collect().map(_.toString).sorted.toSeq == want,
      "orphan compact parts without a marker must be ignored")
    fs.delete(orphan, false)
    // second compact claims batch 3 into a new generation; vacuum
    // removes the superseded batch objects and the old generation
    assert(RetrievalView.compact(spark, root))
    assert(RetrievalView.vacuumCompacted(spark, root) > 0)
    val names = fs.listStatus(new Path(s"$root/postings"))
      .map(_.getPath.getName)
    assert(!names.exists(_.startsWith("batch-")),
      s"superseded batch objects must vacuum: ${names.toSeq}")
    assert(names.count(_.startsWith("_compact-")) == 1,
      s"old generations must vacuum: ${names.toSeq}")
    val post = RetrievalView.search(spark, root, qterms, k = 10)
    assert(post.collect().map(_.toString).sorted.toSeq == want,
      "search must survive vacuum on the live generation")
    // term pushdown still reaches the compacted, range-sorted objects
    assert(post.queryExecution.executedPlan.toString
      .contains("PushedFilters: [In(term"))
  }

  test("streaming retrieval view: AvailableNow micro-batches fold the " +
      "BM25 index exactly once across a restart; search ≡ batch q132") {
    val root = tmpDir("retrstream")
    val src = s"$root/drops"; val ckpt = s"$root/ckpt"
    val ix = s"$root/ix"
    new java.io.File(src).mkdirs()
    val docs = Tables.documents(spark, sfDir)
    def drop(name: String, cond: org.apache.spark.sql.Column): Unit = {
      val tmp = s"$root/_tmp_$name"
      docs.filter(cond).coalesce(1).write.mode("overwrite").json(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.startsWith("part-")).get
      java.nio.file.Files.move(part.toPath,
        new java.io.File(src, s"$name.json").toPath)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
    drop("d1", col("doc_id") % 2 === 0)
    StreamingLoader.runRetrievalView(spark, src, ix, ckpt, docs.schema)
      .awaitTermination(120000)
    drop("d2", col("doc_id") % 2 === 1)
    // restart: the checkpoint resumes past d1 — folding it twice would
    // double its df contributions and move every idf
    StreamingLoader.runRetrievalView(spark, src, ix, ckpt, docs.schema)
      .awaitTermination(120000)
    val qterms = graft.operators.TextOps.bm25Queries(spark)
    val got = RetrievalView.search(spark, ix, qterms, k = 10)
      .collect().map(_.toString).sorted.toSeq
    val want = graft.SparkEntry.queries("q132_bm25")(spark, sfDir)
      .collect().map(_.toString).sorted.toSeq
    assert(got.nonEmpty && got == want)
  }

  test("streaming ANN adds: AvailableNow micro-batches fold into the " +
      "built index exactly once across a restart; search ≡ one-shot " +
      "assignment of the full set") {
    import graft.operators.VectorIndex
    val root = tmpDir("annstream")
    val src = s"$root/drops"; val ckpt = s"$root/ckpt"
    val idx = s"$root/idx"; val ref = s"$root/ref"
    new java.io.File(src).mkdirs()
    val emb = Tables.embeddings(spark, sfDir)
    val seed = emb.filter(col("vec_id") < 60)
    VectorIndex.build(seed, idx, k = 4, iters = 3)
    // reference: the SAME centroids assigned over the full set in one
    // shot — streamed adds must reproduce its search results exactly
    VectorIndex.buildWith(emb.filter(col("vec_id") < 140),
      ref, spark.read.parquet(s"$idx/centroids"))
    def drop(name: String, cond: org.apache.spark.sql.Column): Unit = {
      val tmp = s"$root/_tmp_$name"
      emb.filter(cond).coalesce(1).write.mode("overwrite").json(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.startsWith("part-")).get
      java.nio.file.Files.move(part.toPath,
        new java.io.File(src, s"$name.json").toPath)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
    drop("d1", col("vec_id") >= 60 && col("vec_id") < 100)
    StreamingLoader.runVectorIndexAdd(spark, src, idx, ckpt, emb.schema)
      .awaitTermination(120000)
    drop("d2", col("vec_id") >= 100 && col("vec_id") < 140)
    // restart: the checkpoint resumes past d1 — re-adding it would
    // duplicate its inverted-list rows and corrupt every search
    StreamingLoader.runVectorIndexAdd(spark, src, idx, ckpt, emb.schema)
      .awaitTermination(120000)
    val probes = emb.filter(col("vec_id").isin(0L, 65L, 120L))
    def hits(path: String) =
      VectorIndex.search(spark, path, probes, nprobe = 4, k = 5)
        .collect().map(_.toString).sorted.toSeq
    val got = hits(idx)
    assert(got.nonEmpty && got == hits(ref),
      "streamed index must equal the one-shot assignment")
    // a replayed batch id folds nothing and changes nothing
    assert(!VectorIndex.addIdempotent(spark, idx,
      emb.filter(col("vec_id") >= 60 && col("vec_id") < 100), 0L))
    assert(hits(idx) == got)
    // no duplicate list rows slipped in
    val lists = spark.read.parquet(s"$idx/lists")
    assert(lists.count() == lists.select("vec_id").distinct().count())
  }

  test("searchHybrid: RRF over the maintained BM25 view and the " +
      "persisted ANN index equals a driver-side fusion of the two lists") {
    import spark.implicits._
    import graft.operators.VectorIndex
    val root = tmpDir("hybrid")
    val rx = s"$root/rx"; val idx = s"$root/idx"
    val docs = Tables.documents(spark, sfDir)
    val emb = Tables.embeddings(spark, sfDir)
    assert(RetrievalView.update(spark, rx, docs, 1L))
    VectorIndex.build(emb, idx, k = 4, iters = 3)
    val qterms = graft.operators.TextOps.bm25Queries(spark)
    val probes = emb.filter(col("vec_id") < 3)
    val mapping = Seq(("q1", 0L), ("q2", 1L), ("q3", 2L))
      .toDF("query_id", "probe_id")
    val got = RetrievalView.searchHybrid(spark, rx, idx, qterms, probes,
      mapping, k = 10, nprobe = 4, kEach = 10)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2),
        r.getDouble(3)))
    // independent fusion from the two constituent searches
    val lex = RetrievalView.search(spark, rx, qterms, k = 10)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getInt(2))
      .toMap
    val mp = Map(0L -> "q1", 1L -> "q2", 2L -> "q3")
    val dense = VectorIndex.search(spark, idx, probes, nprobe = 4, k = 10)
      .collect().map(r => (mp(r.getLong(0)), r.getLong(1)) -> r.getInt(2))
      .toMap
    val want = (lex.keySet ++ dense.keySet).toSeq.map { key =>
      val rrf = lex.get(key).map(r => 1.0 / (60 + r)).getOrElse(0.0) +
        dense.get(key).map(r => 1.0 / (60 + r)).getOrElse(0.0)
      (key._1, key._2, rrf)
    }.groupBy(_._1).flatMap { case (_, rows) =>
      rows.sortBy(t => (-t._3, t._2)).take(10).zipWithIndex
        .map { case ((q, d, s), i) =>
          (q, d, i + 1, BigDecimal(s)
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) }
    }.toSet
    assert(got.toSet == want, s"hybrid mismatch:\n got ${got.toSet}\nwant $want")
    // every query returns full k from a corpus this size
    assert(got.groupBy(_._1).values.forall(_.size == 10))
  }

  test("RetrievalView.searchAt: a pinned tot version serves exactly " +
      "the folds it had seen; compaction past the pin refuses") {
    import spark.implicits._
    val rx = tmpDir("rxat") + "/rx"
    val docs = Tables.documents(spark, sfDir)
    assert(RetrievalView.update(spark, rx,
      docs.filter(col("doc_id") < 200), 1L, keepVersions = 8))
    val v1 = VersionedTable.currentVersion(spark, s"$rx/tot").get
    val qterms = graft.operators.TextOps.bm25Queries(spark)
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    val wantAt1 = rows(RetrievalView.search(spark, rx, qterms, 10))
    assert(RetrievalView.update(spark, rx,
      docs.filter(col("doc_id") >= 200 && col("doc_id") < 400), 2L,
      keepVersions = 8))
    val nowBoth = rows(RetrievalView.search(spark, rx, qterms, 10))
    assert(nowBoth != wantAt1, "batch 2 must change the live results")
    // the pin time-travels: BIT-identical to the single-batch state,
    // even while the live index keeps folding
    assert(rows(RetrievalView.searchAt(spark, rx, v1, qterms, 10))
      == wantAt1)
    // a removal AFTER the pin (tombstone batch 3) must not leak into
    // the pinned state either — its tombstones carry a later id
    val victim = docs.filter(col("doc_id") < 200)
      .select("doc_id").limit(1).head().getLong(0)
    assert(RetrievalView.remove(spark, rx, Seq(victim).toDF("doc_id"),
      3L, keepVersions = 8))
    assert(rows(RetrievalView.searchAt(spark, rx, v1, qterms, 10))
      == wantAt1,
      "a post-pin removal must not rewrite snapshot history")
    // the SQL twin serves the same pinned state
    graft.functions.GraftFunctions.registerTableFunctions(spark)
    val oneQ = qterms.filter(col("query_id") ===
      qterms.select("query_id").head().getString(0))
    val qTermStr = oneQ.select("term").collect()
      .map(_.getString(0)).mkString(" ")
    assert(spark.sql(s"SELECT * FROM graft_bm25_at('$rx', $v1, " +
        s"'$qTermStr', 10)").collect().map(_.toString).sorted.toSeq ==
      RetrievalView.searchAt(spark, rx, v1,
        oneQ.select(lit("q").as("query_id"), col("term")), 10)
        .select("doc_id", "rnk", "score").collect()
        .map(_.toString).sorted.toSeq,
      "graft_bm25_at must equal the library searchAt")
    // CAPPED compaction (the daemon's catalog floor): claiming only
    // up to batch 2 leaves every pin at fold point >= 2 serveable —
    // the pinned results are BIT-identical reading the compact base
    val v2 = VersionedTable.versionForBatch(spark, s"$rx/tot", 2L).get
    val wantAt2 = rows(RetrievalView.searchAt(spark, rx, v2, qterms, 10))
    assert(RetrievalView.compact(spark, rx, upToMax = Some(2L)))
    assert(rows(RetrievalView.searchAt(spark, rx, v2, qterms, 10))
      == wantAt2,
      "a pin at the claim's fold point must survive capped compaction")
    // re-running with a LOWER cap is a no-op (never rewrites backwards)
    assert(!RetrievalView.compact(spark, rx, upToMax = Some(1L)))
    // a pin BELOW the claim is the refusal case the floor prevents
    intercept[IllegalArgumentException] {
      RetrievalView.searchAt(spark, rx, v1, qterms, 10).collect()
    }
    // compaction past the pin consumed tombstones / supersedes batch
    // objects the pin needs — refused loudly, never served misaligned
    assert(RetrievalView.compact(spark, rx))
    intercept[IllegalArgumentException] {
      RetrievalView.searchAt(spark, rx, v2, qterms, 10).collect()
    }
    // the live search is unaffected by the refusals
    assert(RetrievalView.search(spark, rx, qterms, 10).count() > 0)
  }

  test("graft_hybrid TVF: the SQL console serves the full hybrid " +
      "path ≡ the library call, tombstones honored") {
    import spark.implicits._
    import graft.operators.VectorIndex
    val root = tmpDir("hybridsql")
    val rx = s"$root/rx"; val idx = s"$root/idx"
    val docs = Tables.documents(spark, sfDir)
    val emb = Tables.embeddings(spark, sfDir)
    assert(RetrievalView.update(spark, rx, docs, 1L))
    VectorIndex.build(emb, idx, k = 4, iters = 3)
    // query: doc 7's own terms, probe = vector 7 (self-retrieval)
    val terms = docs.filter(col("doc_id") === 7L).head()
      .getAs[String]("text").trim.split("\\s+").toSeq
      .filter(_.nonEmpty).distinct.take(6)
    val want = RetrievalView.searchHybridById(spark, rx, idx, terms,
      probeId = 7L, k = 10, nprobe = 4)
      .collect().map(r => (r.getLong(1), r.getInt(2), r.getDouble(3)))
      .sortBy(_._2).toSeq
    graft.functions.GraftFunctions.registerTableFunctions(spark)
    def viaSql(): Seq[(Long, Int, Double)] = spark.sql(
      s"SELECT * FROM graft_hybrid('$rx', '$idx', " +
        s"'${terms.mkString(" ")}', 7, 10, 4) ORDER BY rnk").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
    val got = viaSql()
    assert(got == want, s"SQL ≠ library:\n got $got\nwant $want")
    assert(got.size == 10, "full k from a corpus this size")
    // RRF ties (docs found by exactly one modality at equal rank)
    // break by doc_id ascending — pinned through the SQL surface
    val byScore = got.groupBy(_._3).values.filter(_.size > 1)
    byScore.foreach { grp =>
      val sorted = grp.sortBy(_._2)
      assert(sorted.map(_._1) == sorted.map(_._1).sorted,
        s"tiebreak must be doc_id asc within equal rrf: $grp")
    }
    // tombstone exclusion rides through SQL: removing the probed
    // vector drops it from the DENSE half; probeById refuses it as a
    // probe too (it is no longer a live vector)
    VectorIndex.remove(spark, idx, Seq(9L).toDF("vec_id"))
    val after = spark.sql(
      s"SELECT * FROM graft_hybrid('$rx', '$idx', " +
        s"'${terms.mkString(" ")}', 7, 10, 4)").collect()
    // doc 9 can now only appear through the lexical half; its dense
    // rank contribution is gone, so its fused score can only shrink
    val beforeScore = got.find(_._1 == 9L).map(_._3)
    val afterScore = after.find(_.getLong(0) == 9L).map(_.getDouble(2))
    (beforeScore, afterScore) match {
      case (Some(b), Some(a)) => assert(a <= b + 1e-12)
      case _ => // 9 absent from one/both top-k lists — fine
    }
    assert(VectorIndex.probeById(spark, idx, Seq(9L)).count() == 0,
      "a tombstoned id resolves to no probe")
  }

  test("VectorIndex.compactLists: fragmented streamed partitions " +
      "consolidate; search identical, replay markers intact") {
    import graft.operators.VectorIndex
    val idx = tmpDir("annlc") + "/idx"
    val emb = Tables.embeddings(spark, sfDir)
    VectorIndex.build(emb.filter(col("vec_id") < 40), idx, k = 3, iters = 3)
    (0 until 4).foreach { i =>
      assert(VectorIndex.addIdempotent(spark, idx,
        emb.filter(col("vec_id") >= 40 + i * 20 &&
          col("vec_id") < 60 + i * 20), i.toLong))
    }
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(idx), spark.sparkContext.hadoopConfiguration)
    def nFiles: Int = fs.listStatus(
        new org.apache.hadoop.fs.Path(s"$idx/lists")).toSeq
      .filter(_.getPath.getName.startsWith("cent_id="))
      .map(d => fs.listStatus(d.getPath)
        .count(s0 => s0.getPath.getName.endsWith(".parquet"))).sum
    val before = nFiles
    val probes = emb.filter(col("vec_id").isin(0L, 50L, 110L))
    def hits = VectorIndex.search(spark, idx, probes, nprobe = 3, k = 5)
      .collect().map(_.toString).sorted.toSeq
    val want = hits
    assert(VectorIndex.compactLists(spark, idx, minFiles = 2) > 0)
    assert(nFiles < before, s"no consolidation: $before -> $nFiles")
    assert(hits == want, "search must be identical through compaction")
    // idempotent re-run; batch markers still absorb replays
    assert(VectorIndex.compactLists(spark, idx, minFiles = 2) == 0L)
    assert(!VectorIndex.addIdempotent(spark, idx,
      emb.filter(col("vec_id") >= 40 && col("vec_id") < 60), 0L))
    assert(hits == want)
  }

  test("VectorIndex.compactLists: crash between two swaps, resume " +
      "from the worklist — no rows lost") {
    import graft.operators.VectorIndex
    val idx = tmpDir("annlcrash") + "/idx"
    val emb = Tables.embeddings(spark, sfDir)
    VectorIndex.build(emb.filter(col("vec_id") < 40), idx, k = 3, iters = 3)
    (0 until 4).foreach { i =>
      assert(VectorIndex.addIdempotent(spark, idx,
        emb.filter(col("vec_id") >= 40 + i * 20 &&
          col("vec_id") < 60 + i * 20), i.toLong))
    }
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(idx), spark.sparkContext.hadoopConfiguration)
    val totalBefore = spark.read.parquet(s"$idx/lists").count()
    // reproduce the exact on-disk state of a run killed between two
    // swaps: stage written, worklist committed, FIRST partition's
    // swap complete (its staged src CONSUMED by the rename)
    val affected = fs.listStatus(
        new org.apache.hadoop.fs.Path(s"$idx/lists")).toSeq
      .filter(d => d.isDirectory && d.getPath.getName.startsWith("cent_id="))
      .filter(d => fs.listStatus(d.getPath)
        .count(_.getPath.getName.endsWith(".parquet")) >= 2)
      .map(_.getPath.getName.stripPrefix("cent_id=").toLong).sorted
    assert(affected.size >= 2,
      s"crash window needs >=2 fragmented partitions, got $affected")
    val stage = s"$idx/_listcompact_stage"
    spark.read.parquet(s"$idx/lists")
      .filter(col("cent_id").isin(affected: _*))
      .repartition(col("cent_id"))
      .write.partitionBy("cent_id").parquet(stage)
    val out = fs.create(
      new org.apache.hadoop.fs.Path(s"$stage/_affected"), true)
    out.write(affected.mkString("\n").getBytes("UTF-8")); out.close()
    val c0 = affected.head
    fs.delete(new org.apache.hadoop.fs.Path(s"$idx/lists/cent_id=$c0"), true)
    assert(fs.rename(
      new org.apache.hadoop.fs.Path(s"$stage/cent_id=$c0"),
      new org.apache.hadoop.fs.Path(s"$idx/lists/cent_id=$c0")))
    // ---- crash here; resume must keep c0's swapped-in data --------
    assert(VectorIndex.compactLists(spark, idx, minFiles = 2) ==
      affected.size.toLong)
    assert(spark.read.parquet(s"$idx/lists").count() == totalBefore,
      "resume deleted an already-swapped partition's rows")
    affected.foreach { c =>
      assert(fs.listStatus(
          new org.apache.hadoop.fs.Path(s"$idx/lists/cent_id=$c"))
        .count(_.getPath.getName.endsWith(".parquet")) == 1,
        s"partition $c not consolidated")
    }
  }

  test("VectorIndex.vacuumTombstones: crash mid-swap — resume keeps " +
      "swapped partitions, still empties fully-tombstoned ones") {
    import spark.implicits._
    import graft.operators.VectorIndex
    val idx = tmpDir("annvtcrash") + "/idx"
    val emb = Tables.embeddings(spark, sfDir).filter(col("vec_id") < 90)
    VectorIndex.build(emb, idx, k = 3, iters = 3)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(idx), spark.sparkContext.hadoopConfiguration)
    val byCent = spark.read.parquet(s"$idx/lists")
      .select(col("cent_id").cast("long"), col("vec_id")).collect()
      .groupBy(_.getLong(0))
      .map { case (c, rs) => c -> rs.map(_.getLong(1)).sorted.toSeq }
      .toSeq.sortBy(_._1)
    assert(byCent.size == 3 && byCent.forall(_._2.nonEmpty))
    // partition 0: EVERY row tombstoned (delete-only, ":empty" line);
    // partitions 1 and 2: one row each
    val (cFull, fullIds) = byCent.head
    val tombs = fullIds ++ byCent.tail.map(_._2.head)
    VectorIndex.remove(spark, idx, tombs.toDF("vec_id"))
    // stage exactly as vacuumTombstones does, commit the worklist
    val stage = s"$idx/_vacuum_stage"
    val hit = byCent.map(_._1)
    spark.read.parquet(s"$idx/lists")
      .filter(col("cent_id").isin(hit: _*))
      .join(broadcast(tombs.toDF("vec_id")), Seq("vec_id"), "left_anti")
      .write.partitionBy("cent_id").parquet(stage)
    val out = fs.create(
      new org.apache.hadoop.fs.Path(s"$stage/_affected"), true)
    out.write(hit.map(c => if (c == cFull) s"$c:empty" else s"$c")
      .mkString("\n").getBytes("UTF-8")); out.close()
    // partition 1's swap completed before the crash (src consumed)
    val cDone = byCent(1)._1
    fs.delete(new org.apache.hadoop.fs.Path(s"$idx/lists/cent_id=$cDone"),
      true)
    assert(fs.rename(
      new org.apache.hadoop.fs.Path(s"$stage/cent_id=$cDone"),
      new org.apache.hadoop.fs.Path(s"$idx/lists/cent_id=$cDone")))
    // ---- crash here; resume -----------------------------------------
    assert(VectorIndex.vacuumTombstones(spark, idx) == tombs.size.toLong)
    assert(!fs.exists(
      new org.apache.hadoop.fs.Path(s"$idx/lists/cent_id=$cFull")),
      "fully-tombstoned partition must still delete on resume")
    val liveAfter = spark.read.parquet(s"$idx/lists")
      .select("vec_id").collect().map(_.getLong(0)).sorted.toSeq
    val wantLive = byCent.flatMap(_._2).filterNot(tombs.contains).sorted
    assert(liveAfter == wantLive,
      "resume must keep the already-swapped partition's live rows " +
        "and drop exactly the tombstoned ids")
    assert(!fs.exists(
      new org.apache.hadoop.fs.Path(s"$idx/tombstones")))
  }

  test("VectorIndex.retrain refuses while a streaming add is in " +
      "flight; the batch's replay clears the intent and unblocks it") {
    import graft.operators.VectorIndex
    val idx = tmpDir("annintent") + "/idx"
    val emb = Tables.embeddings(spark, sfDir)
    VectorIndex.build(emb.filter(col("vec_id") < 60), idx, k = 3, iters = 3)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(idx), spark.sparkContext.hadoopConfiguration)
    // a completed add leaves no intent: retrain proceeds
    assert(VectorIndex.addIdempotent(spark, idx,
      emb.filter(col("vec_id") >= 60 && col("vec_id") < 80), 1L))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"$idx/_batches_intent/batch-1")))
    assert(VectorIndex.retrainAuto(spark, idx, emb) == 1L)
    // CRASH INJECTION: batch 7 renamed its objects but died before
    // its marker — exactly the state addIdempotent leaves mid-fold
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$idx/_batches_intent"))
    fs.create(new org.apache.hadoop.fs.Path(
      s"$idx/_batches_intent/batch-7"), true).close()
    val e = intercept[IllegalArgumentException] {
      VectorIndex.retrain(spark, idx, emb,
        (df, p) => VectorIndex.build(df, p, k = 3, iters = 3))
    }
    assert(e.getMessage.contains("batch-7"),
      s"refusal must name the in-flight batch: ${e.getMessage}")
    // the stream's replay folds the batch, clearing the intent
    assert(VectorIndex.addIdempotent(spark, idx,
      emb.filter(col("vec_id") >= 80 && col("vec_id") < 100), 7L))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"$idx/_batches_intent/batch-7")))
    val probes = emb.filter(col("vec_id").isin(85L))
    // the replayed batch's rows are searchable exactly once
    val got = VectorIndex.search(spark, idx, probes, nprobe = 3, k = 5)
      .collect()
    assert(got.map(_.toString).distinct.length == got.length,
      "no duplicate neighbors after intent-gated replay")
    assert(VectorIndex.retrainAuto(spark, idx, emb) == 2L)
    // a marked-but-uncleared intent (crash between marker and clear)
    // is swept, not refused
    fs.create(new org.apache.hadoop.fs.Path(
      s"$idx/_batches_intent/batch-7"), true).close()
    assert(VectorIndex.retrainAuto(spark, idx, emb) == 3L)
    // the sweep deletes each marker-completed intent INDIVIDUALLY
    // (never the directory — a concurrent add's fresh intent must
    // survive it), so the dir may remain, empty
    val intentsDir = new org.apache.hadoop.fs.Path(
      s"$idx/_batches_intent")
    assert(!fs.exists(intentsDir) ||
      fs.listStatus(intentsDir).isEmpty,
      "marker-completed intents must be swept")
  }

  test("corpus tick folds published batches into the maintained " +
      "retrieval index; replay leaves it bit-identical") {
    import spark.implicits._
    val root = tmpDir("corpusretr")
    val cc = Automation.CorpusDedupConfig(
      srcDir = s"$root/drops", rawTableDir = s"$root/raw",
      registryDir = s"$root/reg", corpusDir = s"$root/corpus",
      postingsDir = s"$root/postings",
      retrievalDir = Some(s"$root/rx"),
      retrievalCompactEvery = 1)
    val auto = new Automation(spark, Automation.Config(
      srcDir = s"$root/arrivals", tableDir = s"$root/survey",
      registryDir = s"$root/sreg", generate = false, corpusDedup = Some(cc)))
    new java.io.File(s"$root/drops").mkdirs()
    new java.io.File(s"$root/arrivals").mkdirs()
    def drop(name: String, lines: Seq[String]): Unit =
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$root/drops/$name"),
        lines.mkString("\n").getBytes("UTF-8"))
    val textA = (1 to 30).map(i => s"alpha$i").mkString(" ")
    val textB = (1 to 30).map(i => s"beta$i").mkString(" ")
    val textC = (1 to 30).map(i => s"gamma$i").mkString(" ")
    drop("d1.json", Seq(
      s"""{"doc_id": 1, "text": "$textA", "lang": "en", "source": "s"}""",
      s"""{"doc_id": 2, "text": "$textB", "lang": "en", "source": "s"}"""))
    auto.tick()
    drop("d2.json", Seq(
      s"""{"doc_id": 12, "text": "$textB", "lang": "en", "source": "s"}""",
      s"""{"doc_id": 13, "text": "$textC", "lang": "en", "source": "s"}"""))
    auto.tick()
    // published corpus = {1, 2, 13}; the tick-maintained index must
    // equal a one-shot fold of exactly the published corpus
    val qterms = Seq(("q1", "alpha1"), ("q1", "beta2"), ("q2", "gamma3"))
      .toDF("query_id", "term")
    val got = RetrievalView.search(spark, s"$root/rx", qterms, k = 10)
      .collect().map(_.toString).sorted.toSeq
    RetrievalView.update(spark, s"$root/rx-oneshot",
      spark.read.parquet(s"$root/corpus/data"), 1L)
    val want = RetrievalView.search(spark, s"$root/rx-oneshot", qterms,
      k = 10).collect().map(_.toString).sorted.toSeq
    assert(got.nonEmpty && got == want)
    // lost-marker replay: the batch reprocesses under its PERSISTED
    // sequence id, so the exactly-once fold absorbs it
    val done = new java.io.File(s"$root/corpus/_done").listFiles()
      .filter(_.getName.startsWith("done-"))
    assert(done.nonEmpty)
    done.foreach(f => assert(f.delete()))
    auto.tick()
    assert(RetrievalView.search(spark, s"$root/rx", qterms, k = 10)
      .collect().map(_.toString).sorted.toSeq == got)
    // retrievalCompactEvery=1: the tick consolidated the per-batch
    // objects into a marker-gated compact generation and vacuumed the
    // superseded ones — search above already proved bit-stability
    val pnames = new java.io.File(s"$root/rx/postings").listFiles()
      .map(_.getName)
    assert(pnames.exists(_.startsWith("_compact-")), pnames.toSeq.toString)
    assert(!pnames.exists(_.startsWith("batch-")),
      s"superseded batch objects must vacuum: ${pnames.toSeq}")
  }

  test("corpus tick model gate: classifier-dropped docs never reach " +
      "the corpus and count as curation drops") {
    import spark.implicits._
    val root = tmpDir("corpusmodel")
    // train the quality model: corpus docs vs deterministic noise
    val docs = Tables.documents(spark, sfDir)
    val noiseText = concat_ws(" ", transform(sequence(lit(1), lit(30)),
      i => concat(lit("nz"), substring(md5(concat(
        col("doc_id").cast("string"), lit("_"), i.cast("string"))), 1, 6))))
    val neg = docs.select((col("doc_id") + 1000000L).as("doc_id"),
      noiseText.as("text"))
    val labeled = docs.select(col("doc_id"), col("text"))
      .withColumn("label", lit(1.0))
      .unionByName(neg.withColumn("label", lit(0.0)))
    graft.operators.QualityModel.train(labeled, s"$root/model")
    val cc = Automation.CorpusDedupConfig(
      srcDir = s"$root/drops", rawTableDir = s"$root/raw",
      registryDir = s"$root/reg", corpusDir = s"$root/corpus",
      postingsDir = s"$root/postings",
      modelGate = Some((s"$root/model", 0.5)))
    val auto = new Automation(spark, Automation.Config(
      srcDir = s"$root/arrivals", tableDir = s"$root/survey",
      registryDir = s"$root/sreg", generate = false, corpusDedup = Some(cc)))
    new java.io.File(s"$root/drops").mkdirs()
    new java.io.File(s"$root/arrivals").mkdirs()
    val good1 = docs.filter(col("doc_id") === 1L).head().getAs[String]("text")
    val good2 = docs.filter(col("doc_id") === 2L).head().getAs[String]("text")
    val junk = (1 to 30).map(i => s"nz${i}xq${i * 7}zz").mkString(" ")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$root/drops/d1.json"),
      Seq(
        s"""{"doc_id": 1, "text": ${ujsonStr(good1)}, "lang": "en", "source": "s"}""",
        s"""{"doc_id": 2, "text": ${ujsonStr(good2)}, "lang": "en", "source": "s"}""",
        s"""{"doc_id": 3, "text": ${ujsonStr(junk)}, "lang": "en", "source": "s"}""")
        .mkString("\n").getBytes("UTF-8"))
    val r = auto.tick()
    assert(r.corpus.get.kept == 2 && r.corpus.get.dropped == 1,
      r.corpus.toString)
    assert(spark.read.parquet(s"$root/corpus/data").select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L),
      "the gated doc must never reach the corpus")
  }

  test("quality-model retrain tick: the classifier re-fits on the " +
      "curation-derived weak labels and flips atomically on cadence") {
    import spark.implicits._
    import graft.operators.QualityModel
    val root = tmpDir("corpusmrt")
    val docs = Tables.documents(spark, sfDir)
    val noiseText = concat_ws(" ", transform(sequence(lit(1), lit(30)),
      i => concat(lit("nz"), substring(md5(concat(
        col("doc_id").cast("string"), lit("_"), i.cast("string"))), 1, 6))))
    val neg0 = docs.select((col("doc_id") + 1000000L).as("doc_id"),
      noiseText.as("text"))
    QualityModel.train(docs.select(col("doc_id"), col("text"))
      .withColumn("label", lit(1.0))
      .unionByName(neg0.withColumn("label", lit(0.0))), s"$root/model")
    val cc = Automation.CorpusDedupConfig(
      srcDir = s"$root/drops", rawTableDir = s"$root/raw",
      registryDir = s"$root/reg", corpusDir = s"$root/corpus",
      postingsDir = s"$root/postings",
      modelGate = Some((s"$root/model", 0.5)),
      modelRetrainEvery = 2)
    val auto = new Automation(spark, Automation.Config(
      srcDir = s"$root/arrivals", tableDir = s"$root/survey",
      registryDir = s"$root/sreg", generate = false,
      corpusDedup = Some(cc), historyDir = Some(s"$root/hist")))
    new java.io.File(s"$root/drops").mkdirs()
    new java.io.File(s"$root/arrivals").mkdirs()
    def goodText(id: Long) =
      docs.filter(col("doc_id") === id).head().getAs[String]("text")
    def junk(seed: Int) =
      (1 to 30).map(i => s"nz${seed}xq${i * 7}zz").mkString(" ")
    def drop(name: String, rows: Seq[(Long, String)]): Unit =
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$root/drops/$name"),
        rows.map { case (id, t) =>
          s"""{"doc_id": $id, "text": ${ujsonStr(t)}, "lang": "en", "source": "s"}"""
        }.mkString("\n").getBytes("UTF-8"))
    drop("d1.json", Seq(1L -> goodText(1L), 2L -> goodText(2L),
      3L -> junk(3)))
    val r1 = auto.tick()
    assert(r1.corpus.get.kept == 2 && r1.corpus.get.dropped == 1)
    assert(r1.corpus.get.modelGen.isEmpty, "cadence is every 2 ticks")
    assert(QualityModel.generation(spark, s"$root/model") == 0L)
    // tick 2: the re-fit fires — positives = curated corpus sample,
    // negatives = docs curation dropped; one marker flips gen 1 live
    drop("d2.json", Seq(4L -> goodText(4L), 5L -> junk(5)))
    val r2 = auto.tick()
    assert(r2.corpus.get.kept == 1 && r2.corpus.get.dropped == 1)
    assert(r2.corpus.get.modelGen.contains(1L), r2.corpus.toString)
    assert(QualityModel.generation(spark, s"$root/model") == 1L)
    // the superseded flat model is NOT vacuumed at its own flip — an
    // out-of-daemon scorer that resolved it mid-flip gets one full
    // retrain cadence of grace; the NEXT retrain tick collects it
    assert(new java.io.File(s"$root/model/weights").exists(),
      "grace window: the just-superseded model survives its flip")
    // the RETRAINED model still separates: good docs pass, junk gates
    val probe = Seq((100L, goodText(6L)), (101L, junk(9)))
      .toDF("doc_id", "text")
    val p = QualityModel.score(spark, s"$root/model", probe).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(p(100L) >= 0.5 && p(101L) < 0.5, p.toString)
    // tick 3: off-cadence, no re-fit
    drop("d3.json", Seq(6L -> goodText(6L)))
    assert(auto.tick().corpus.get.modelGen.isEmpty)
    // tick 4: cadence again → generation 2; the PREVIOUS retrain's
    // superseded state (the flat model) has had its grace window and
    // vacuums before this flip — generation 1 now starts its own
    drop("d4.json", Seq(7L -> goodText(7L), 8L -> junk(8)))
    assert(auto.tick().corpus.get.modelGen.contains(2L))
    assert(QualityModel.generation(spark, s"$root/model") == 2L)
    assert(!new java.io.File(s"$root/model/weights").exists(),
      "the next retrain collects the generation superseded last time")
    assert(new java.io.File(s"$root/model/g1").exists(),
      "the generation THIS retrain superseded keeps its grace window")
    // the tick history records which ticks flipped a model generation
    graft.functions.GraftFunctions.registerTableFunctions(spark)
    val gens = spark.sql("SELECT tick, model_gen FROM " +
      s"graft_ticks('$root/hist') ORDER BY tick").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None
        else Some(r.getLong(1))))
    assert(gens.toSeq == Seq(1L -> None, 2L -> Some(1L), 3L -> None,
      4L -> Some(2L)), gens.mkString(","))
    // gated docs never reached the corpus through all four ticks
    assert(spark.read.parquet(s"$root/corpus/data").select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 2L, 4L, 6L, 7L))
  }

  private def ujsonStr(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  test("curation tick with EVERYTHING on: DSIR drops vanish from ANN " +
      "and never reach the retrieval index; survivors searchable in both") {
    import spark.implicits._
    import graft.operators.VectorIndex
    val root = tmpDir("corpusall")
    val emb = Tables.embeddings(spark, sfDir)
    // vectors for the corpus doc ids 1, 2, 3, 11, 12 + filler
    val mapping = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 11L), (4L, 12L))
      .toDF("vec_id", "new_id")
    val vecs = emb.join(mapping, "vec_id")
      .select(col("new_id").as("vec_id"), col("embedding"), col("label"))
      .unionByName(emb.filter(col("vec_id") >= 100 && col("vec_id") < 140))
    val idx = s"$root/idx"
    VectorIndex.build(vecs, idx, k = 4, iters = 3)
    val cc = Automation.CorpusDedupConfig(
      srcDir = s"$root/drops", rawTableDir = s"$root/raw",
      registryDir = s"$root/reg", corpusDir = s"$root/corpus",
      postingsDir = s"$root/postings",
      dsirTargetLang = Some("en"),
      annIndexPath = Some(idx), annVacuumEvery = 0,
      retrievalDir = Some(s"$root/rx"))
    val auto = new Automation(spark, Automation.Config(
      srcDir = s"$root/arrivals", tableDir = s"$root/survey",
      registryDir = s"$root/sreg", generate = false, corpusDedup = Some(cc)))
    new java.io.File(s"$root/drops").mkdirs()
    new java.io.File(s"$root/arrivals").mkdirs()
    def drop(name: String, lines: Seq[String]): Unit =
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$root/drops/$name"),
        lines.mkString("\n").getBytes("UTF-8"))
    def enDoc(id: Int) = (1 to 40).map(i => s"en${id}w$i").mkString(" ")
    def frDoc(id: Int) = (1 to 40).map(i => s"fr${id}w$i").mkString(" ")
    // tick 1: 1 and 3 are en (kept), 2 is fr (DSIR-dropped)
    drop("d1.json", Seq(
      s"""{"doc_id": 1, "text": "${enDoc(1)}", "lang": "en", "source": "s"}""",
      s"""{"doc_id": 2, "text": "${frDoc(2)}", "lang": "fr", "source": "s"}""",
      s"""{"doc_id": 3, "text": "${enDoc(3)}", "lang": "en", "source": "s"}"""))
    val r1 = auto.tick()
    assert(r1.corpus.get.kept == 2 && r1.corpus.get.dropped == 1)
    assert(r1.corpus.get.annRemoved == 1, "the DSIR drop must tombstone ANN")
    // tick 2: 11 fr (dropped), 12 en (kept)
    drop("d2.json", Seq(
      s"""{"doc_id": 11, "text": "${frDoc(11)}", "lang": "fr", "source": "s"}""",
      s"""{"doc_id": 12, "text": "${enDoc(12)}", "lang": "en", "source": "s"}"""))
    val r2 = auto.tick()
    assert(r2.corpus.get.kept == 1 && r2.corpus.get.annRemoved == 1)
    // ANN: dropped docs (2, 11) gone from search, full k live
    val probes = vecs.filter(col("vec_id").isin(1L, 3L))
    val hits = VectorIndex.search(spark, idx, probes, nprobe = 4, k = 3)
    assert(hits.filter(col("neighbor_id").isin(2L, 11L)).count() == 0)
    assert(hits.groupBy("probe_id").count().collect()
      .forall(_.getLong(1) == 3L))
    // retrieval: survivors searchable, dropped docs never indexed
    val qEn = Seq(("k", "en1w5"), ("k", "en12w7")).toDF("query_id", "term")
    val gotEn = RetrievalView.search(spark, s"$root/rx", qEn, k = 10)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(gotEn == Set(1L, 12L), gotEn.toString)
    val qFr = Seq(("k", "fr2w5"), ("k", "fr11w3")).toDF("query_id", "term")
    assert(RetrievalView.search(spark, s"$root/rx", qFr, k = 10)
      .count() == 0, "DSIR-dropped docs must never reach the index")
    // crash replay of tick 2: every coupling stays bit-stable
    val done = new java.io.File(s"$root/corpus/_done").listFiles()
      .filter(_.getName.startsWith("done-"))
    done.foreach(f => assert(f.delete()))
    auto.tick()
    assert(RetrievalView.search(spark, s"$root/rx", qEn, k = 10)
      .select("doc_id").collect().map(_.getLong(0)).toSet == Set(1L, 12L))
    assert(spark.read.parquet(s"$root/corpus/data").select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L, 12L))
  }

  test("QuantileView.clip winsorizes a batch against the maintained state") {
    import spark.implicits._
    val root = tmpDir("qclip") + "/m"
    val spec = QuantileView.Spec(column = "v", alpha = 0.01)
    QuantileView.update(spark, root,
      (1 to 1000).map(i => (i.toLong, i.toDouble)).toDF("k", "v"), spec)
    val batch = Seq((1L, -1e9), (2L, 500.0), (3L, 1e9)).toDF("k", "v")
    val out = QuantileView.clip(spark, root, batch, spec).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // outliers clip to the sketch's p05/p95 (within α=1% of 50/950);
    // in-range values pass through untouched
    assert(math.abs(out(1L) - 50.0) <= 0.01 * 50.0 + 1e-9, out(1L).toString)
    assert(math.abs(out(3L) - 950.0) <= 0.01 * 950.0 + 1e-9, out(3L).toString)
    assert(out(2L) == 500.0)
    // clipping against an unfolded root refuses loudly
    intercept[IllegalStateException] {
      QuantileView.clip(spark, tmpDir("qclip2") + "/m", batch, spec)
    }
  }

  test("graft_load proc: one registry-deduped load pass from the SQL " +
      "console, idempotent on the second call") {
    val root = tmpDir("loadproc")
    new java.io.File(s"$root/src").mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$root/src/a.json"),
      Seq("""{"id": 1}""", """{"id": 2}""").mkString("\n")
        .getBytes("UTF-8"))
    val r1 = SqlRunner.callProc(spark, "graft_load",
      Seq(s"$root/src", s"$root/t", s"$root/reg", "id BIGINT", "json"))
      ._1.collect()(0)
    assert(r1.getLong(0) == 1L && r1.getLong(2) == 0L,
      s"first pass: $r1")
    assert(spark.read.parquet(s"$root/t").count() == 2L)
    // second call skips the settled file — the check_files twin
    val r2 = SqlRunner.callProc(spark, "graft_load",
      Seq(s"$root/src", s"$root/t", s"$root/reg", "id BIGINT", "json"))
      ._1.collect()(0)
    assert(r2.getLong(0) == 0L && r2.getLong(1) == 1L,
      s"second pass: $r2")
    assert(spark.read.parquet(s"$root/t").count() == 2L)
  }

  test("graft_audit proc runs a DQ spec over the current version") {
    import spark.implicits._
    val root = tmpDir("auditproc") + "/t"
    VersionedTable.init(spark, root,
      Seq((1L, Some(10L), "a"), (2L, None, "b"), (2L, Some(200L), "zz"))
        .toDF("k", "v", "s"))
    val bad = SqlRunner.callProc(spark, "graft_audit", Seq(root,
      "not_null:v;unique:k;in_range:v,0,100;in_set:s,a,b;min_rows:10"))
      ._1.collect().map(_.getString(0))
    // every declared rule fires on this crafted table
    assert(bad.exists(_.startsWith("not_null")), bad.mkString("|"))
    assert(bad.exists(_.startsWith("unique")), bad.mkString("|"))
    assert(bad.exists(_.startsWith("in_range")), bad.mkString("|"))
    assert(bad.exists(_.startsWith("in_set")), bad.mkString("|"))
    assert(bad.exists(_.startsWith("min_rows")), bad.mkString("|"))
    // a satisfied spec returns zero rows; unknown checks refuse loudly
    assert(SqlRunner.callProc(spark, "graft_audit",
      Seq(root, "min_rows:1"))._1.count() == 0)
    intercept[IllegalArgumentException] {
      SqlRunner.callProc(spark, "graft_audit", Seq(root, "bogus:x"))
    }
    // in_set values containing the grammar's delimiters escape as
    // \, and \; — "a" and "b" pass, "zz" still fires
    val esc = SqlRunner.callProc(spark, "graft_audit",
      Seq(root, """in_set:s,a,b,x\,y,p\;q"""))._1.collect()
      .map(_.getString(0))
    assert(esc.length == 1 && esc.head.startsWith("in_set"),
      esc.mkString("|"))
    // a malformed number names the offending spec, not a bare
    // NumberFormatException out of a multi-check string
    val e = intercept[IllegalArgumentException] {
      SqlRunner.callProc(spark, "graft_audit",
        Seq(root, "min_rows:1;in_range:v,zero,100"))
    }
    assert(e.getMessage.contains("in_range:v,zero,100"), e.getMessage)
  }

  test("automation tick compacts the table on schedule") {
    val root = tmpDir("autocmp")
    new java.io.File(s"$root/arrivals").mkdirs()
    val cfg = Automation.Config(
      srcDir = s"$root/arrivals", tableDir = s"$root/t",
      registryDir = s"$root/reg", rowsPerDrop = 50,
      compactEvery = 2, compactClusterBy = Some("id"),
      compactStatsCols = Seq("departure_delay"),
      compactBloomCols = Seq("id"),
      vacuumEvery = 2, vacuumAgeMs = 3600 * 1000L)
    // a crashed writer's leftover from "yesterday": the scheduled
    // vacuum must reclaim it; the table itself must be untouched
    val orphan = new java.io.File(s"$root/t", "_v-99-wcrashed")
    orphan.mkdirs()
    orphan.setLastModified(System.currentTimeMillis() - 48L * 3600 * 1000)
    val auto = new Automation(spark, cfg)
    val reports = auto.runLoop(intervalMillis = 5, maxTicks = 2)
    // tick 1: no compaction; tick 2: compacts the two ingest files
    assert(reports(0).compacted.isEmpty && reports(1).compacted.contains(1))
    // tick 1: no vacuum; tick 2: the aged orphan is reclaimed
    assert(reports(0).vacuumed.isEmpty)
    assert(reports(1).vacuumed.exists(_.endsWith("_v-99-wcrashed")))
    assert(!orphan.exists())
    assert(VersionedTable.currentVersion(spark, s"$root/t").isDefined)
    assert(VersionedTable.read(spark, s"$root/t").count() == 100)
    val cur = new java.io.File(VersionedTable.currentPath(spark, s"$root/t"))
    assert(cur.listFiles().count(_.getName.endsWith(".parquet")) == 1)
    // scheduled compaction refreshed the data-skipping stats — for
    // the cluster key AND the configured extra stats column, so the
    // multi-column consumers (countWhereAll/readPrunedWhere) can plan
    // boxes off the freshly compacted manifest
    val v = VersionedTable.currentVersion(spark, s"$root/t").get
    val stats = VersionedTable.manifestStats(spark, s"$root/t", v)
    assert(stats.nonEmpty && stats.forall(_.min.contains("id")))
    assert(stats.forall(_.min.contains("departure_delay")))
    val (n, scanned) = VersionedTable.countWhereAll(spark, s"$root/t",
      Seq(("id", Long.MinValue, Long.MaxValue),
        ("departure_delay", -10000, 10000)))
    assert(n == 100L && scanned == 0,
      s"metadata-only box count failed: n=$n scanned=$scanned")
    // ...and per-file blooms for the configured point-lookup column
    assert(VersionedTable.manifestBlooms(spark, s"$root/t", v).nonEmpty)
    assert(VersionedTable.readPointLookup(spark, s"$root/t", "id", 1L)
      .count() == VersionedTable.read(spark, s"$root/t")
      .filter(col("id") === 1L).count())
  }

  test("sql runner: query, ddl, multi-statement script, and named procs") {
    SqlRunner.registerTables(spark, sfDir)
    val (res, secs) = SqlRunner.query(spark,
      "SELECT COUNT(*) AS n FROM orders")
    assert(res.head.getLong(0) > 0 && secs >= 0.0)

    val dsecs = SqlRunner.ddl(spark,
      "CREATE OR REPLACE TEMP VIEW big_orders AS " +
        "SELECT * FROM orders WHERE o_totalprice > 100000")
    assert(dsecs >= 0.0)
    assert(spark.table("big_orders").count() > 0)

    val (last, _) = SqlRunner.script(spark,
      """CREATE OR REPLACE TEMP VIEW o97 AS
        |  SELECT * FROM orders WHERE year(o_orderdate) = 1997;
        |SELECT o_orderstatus, COUNT(*) AS n FROM o97 GROUP BY o_orderstatus
        |""".stripMargin)
    assert(last.isDefined && last.get.count() > 0)

    SqlRunner.registerProc("top_customers") { (s, args) =>
      s.sql(s"SELECT o_custkey, COUNT(*) AS n FROM orders " +
        s"GROUP BY o_custkey ORDER BY n DESC, o_custkey LIMIT ${args.head}")
    }
    val (out, _) = SqlRunner.callProc(spark, "top_customers", Seq("5"))
    assert(out.count() == 5)
  }

  test("bucketed tables co-locate: the join plans with zero exchanges") {
    val orders = Tables.orders(spark, sfDir)
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val customer = Tables.customer(spark, sfDir)
      .select("c_custkey", "c_name")
      .withColumnRenamed("c_custkey", "o_custkey")
    Bucketing.writeBucketed(orders, "b_orders", "o_custkey", 4)
    Bucketing.writeBucketed(customer, "b_customer", "o_custkey", 4)
    // force a shuffled-join plan decision (no broadcast, no AQE
    // re-plan) so the assertion targets the bucketing alone
    val conf = spark.conf
    val prevBroadcast = conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = conf.get("spark.sql.adaptive.enabled")
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.enabled", "false")
      val joined = Bucketing.coLocatedJoin(spark, "b_orders", "b_customer",
        "o_custkey")
      val exchanges = joined.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(exchanges.isEmpty, joined.queryExecution.executedPlan.treeString)
      assert(joined.count() == orders.count()) // every order has a customer
    } finally {
      conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
      conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_customer")
    }
  }

  test("partitioned layout prunes: a year filter reads only that year's files") {
    import org.apache.spark.sql.functions._
    val dir = tmpDir("graft-part")
    val orders = Tables.orders(spark, sfDir)
      .withColumn("order_year", year(col("o_orderdate")))
    Bucketing.writePartitioned(orders, s"$dir/orders", "order_year")
    val all = Bucketing.readPartitioned(spark, s"$dir/orders")
    val one = all.filter(col("order_year") === 1997)
    // collect() drives THIS dataset's QueryExecution (count() would
    // build a separate one and leave these metrics untouched)
    assert(one.collect().length ==
      orders.filter(col("order_year") === 1997).count())
    val scan = one.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scan.nonEmpty)
    assert(scan.head.partitionFilters.nonEmpty, scan.head.toString)
    // post-execution metric: only the matching partition's files read
    val pruned = scan.head.metrics("numFiles").value
    all.collect()
    val scanAll = all.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(pruned > 0 && pruned < scanAll.head.metrics("numFiles").value,
      s"pruned=$pruned")
  }

  test("range-clustered layout: files carry disjoint key ranges in order") {
    import org.apache.spark.sql.functions.{input_file_name, min => fmin, max => fmax}
    val dir = tmpDir("rangepart") + "/t"
    Bucketing.writeRangePartitioned(
      Tables.events(spark, sfDir), dir, "event_id", files = 8)
    val perFile = spark.read.parquet(dir)
      .groupBy(input_file_name().as("f"))
      .agg(fmin("event_id").as("lo"), fmax("event_id").as("hi"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(perFile.length == 8)
    // each file's range is internally consistent and disjoint from
    // the next — the property row-group min/max skipping relies on
    perFile.foreach { case (lo, hi) => assert(lo <= hi) }
    perFile.sliding(2).foreach {
      case Array((_, hi1), (lo2, _)) => assert(hi1 < lo2)
      case _ => ()
    }
    // content unchanged by the re-layout
    assert(spark.read.parquet(dir).count() ==
      Tables.events(spark, sfDir).count())
  }

  test("z-order layout: files carry tight extents on BOTH columns") {
    import org.apache.spark.sql.functions.{input_file_name, min => fmin, max => fmax}
    val events = Tables.events(spark, sfDir)
    val zdir = tmpDir("zord") + "/t"
    val ldir = tmpDir("zlin") + "/t"
    Bucketing.writeZOrdered(events, zdir, "user_id", "event_id", files = 16)
    Bucketing.writeRangePartitioned(events, ldir, "event_id", files = 16)
    assert(spark.read.parquet(zdir).count() == events.count())
    // per-file user_id extents: a narrow user_id box query can skip
    // files whose [min,max] miss it. Under the event_id-linear layout
    // user_id is scattered, so (almost) every file overlaps any box;
    // z-order bounds both dimensions.
    def overlapping(dir: String, lo: Long, hi: Long): Long =
      spark.read.parquet(dir)
        .groupBy(input_file_name())
        .agg(fmin("user_id").as("mn"), fmax("user_id").as("mx"))
        .filter(col("mx") >= lo && col("mn") <= hi)
        .count()
    val Array(uLo, uHi) = {
      val mm = events.agg(fmin("user_id"), fmax("user_id")).head
      val span = mm.getLong(1) - mm.getLong(0)
      Array(mm.getLong(0), mm.getLong(0) + span / 8) // narrow box: 1/8 of the range
    }
    val zHit = overlapping(zdir, uLo, uHi)
    val linHit = overlapping(ldir, uLo, uHi)
    assert(zHit < linHit, s"z-order files hit=$zHit vs linear=$linHit")
  }

  test("3-column z-order bounds every dimension; n=2 matches the pair form") {
    import org.apache.spark.sql.functions.{input_file_name, min => fmin, max => fmax}
    import spark.implicits._
    // deterministic 3-D data: all three dims scattered vs each other
    val df = (0 until 4096).map { i =>
      (i.toLong, ((i * 2654435761L) % 4096L + 4096L) % 4096L,
        ((i * 40503L) % 4096L + 4096L) % 4096L)
    }.toDF("x", "y", "z")
    val zdir = tmpDir("z3") + "/t"
    val ldir = tmpDir("z3lin") + "/t"
    Bucketing.writeZOrdered(df, zdir, Seq("x", "y", "z"), files = 27)
    Bucketing.writeRangePartitioned(df, ldir, "x", files = 27)
    assert(spark.read.parquet(zdir).count() == 4096)
    // a narrow box on EACH non-sort dimension overlaps fewer files
    // under the 3-D interleave than under the x-linear layout
    def hits(dir: String, c: String, lo: Long, hi: Long): Long =
      spark.read.parquet(dir).groupBy(input_file_name())
        .agg(fmin(c).as("mn"), fmax(c).as("mx"))
        .filter(col("mx") >= lo && col("mn") <= hi).count()
    Seq("y", "z").foreach { c =>
      val zh = hits(zdir, c, 0L, 4096L / 8)
      val lh = hits(ldir, c, 0L, 4096L / 8)
      assert(zh < lh, s"dim $c: z3 hit=$zh vs linear=$lh")
    }
    // the generalized interleave reproduces the 2-column ladder's
    // layout exactly (same z-values, same range clustering)
    val a = Bucketing.zorderLayout(df, "x", "y", files = 9)
      .collect().map(_.toSeq).toSet
    val b = Bucketing.zorderLayout(df, Seq("x", "y"), files = 9)
      .collect().map(_.toSeq).toSet
    assert(a == b)
  }

  test("incremental loader: loads new files once, skips on re-run, records failures") {
    val src = tmpDir("src")
    val table = tmpDir("table") + "/t"
    val reg = tmpDir("reg") + "/r"
    val f1 = SurveyGen.writeArrival(spark, src, "datagen_202401010000.csv", 100, 1)
    val f2 = SurveyGen.writeArrival(spark, src, "datagen_202401010001.csv", 50, 2)

    val r1 = IncrementalLoader.run(spark, src, table, reg, SurveyGen.schema)
    assert(r1.loaded.toSet == Set(f1, f2) && r1.skipped.isEmpty)
    assert(spark.read.parquet(table).count() == 150)

    // second pass: nothing new → nothing loaded, everything skipped
    val r2 = IncrementalLoader.run(spark, src, table, reg, SurveyGen.schema)
    assert(r2.loaded.isEmpty && r2.skipped.toSet == Set(f1, f2))
    assert(spark.read.parquet(table).count() == 150)

    // a third file arrives → only it is loaded
    val f3 = SurveyGen.writeArrival(spark, src, "datagen_202401010002.csv", 25, 3)
    val r3 = IncrementalLoader.run(spark, src, table, reg, SurveyGen.schema)
    assert(r3.loaded == Seq(f3) && spark.read.parquet(table).count() == 175)

    // registry recorded every attempt as ok
    val regRows = LoadRegistry.read(spark, reg).collect()
    assert(regRows.length == 3 && regRows.forall(_.getString(1) == "ok"))
  }

  test("streaming loader: exactly-once across restarts via checkpoint") {
    val src = tmpDir("ssrc")
    val table = tmpDir("stable") + "/t"
    val ckpt = tmpDir("sckpt") + "/c"
    SurveyGen.writeArrival(spark, src, "drop1.csv", 100, 11)
    SurveyGen.writeArrival(spark, src, "drop2.csv", 50, 12)
    val q1 = StreamingLoader.runAvailableNow(spark, src, table, ckpt, SurveyGen.schema)
    q1.awaitTermination(60000)
    assert(spark.read.parquet(table).count() == 150)

    // restart with a new file: only the new one is ingested
    SurveyGen.writeArrival(spark, src, "drop3.csv", 25, 13)
    val q2 = StreamingLoader.runAvailableNow(spark, src, table, ckpt, SurveyGen.schema)
    q2.awaitTermination(60000)
    assert(spark.read.parquet(table).count() == 175)
  }

  test("versioned streaming loader: crash-safe batches, exactly once") {
    import spark.implicits._
    val src = tmpDir("vssrc")
    val root = tmpDir("vstable") + "/t"
    val ckpt = tmpDir("vsckpt") + "/c"
    SurveyGen.writeArrival(spark, src, "drop1.csv", 100, 21)
    SurveyGen.writeArrival(spark, src, "drop2.csv", 50, 22)
    val q1 = StreamingLoader.runVersionedAvailableNow(
      spark, src, root, ckpt, SurveyGen.schema)
    q1.awaitTermination(60000)
    assert(VersionedTable.read(spark, root).count() == 150)

    // a maintenance rewrite migrates the table to the manifest layout
    Maintenance.compactVersioned(spark, root, targetFileBytes = 1L << 30)
    assert(VersionedTable.currentVersion(spark, root).contains(1L))

    // crash WINDOW 1 — partial stage, nothing published: restart
    // re-delivers the same batch id; the stage is replaced and the
    // batch lands exactly once
    val garbage = new java.io.File(s"$root/_streaming-stage/90")
    garbage.mkdirs()
    java.nio.file.Files.writeString(
      new java.io.File(garbage, "part-00000.parquet").toPath, "junk")
    assert(VersionedTable.read(spark, root).count() == 150) // stage invisible
    StreamingLoader.commitBatch(
      SurveyGen.generate(spark, 25, seed = 23), root, batchId = 90)
    assert(VersionedTable.read(spark, root).count() == 175)

    // crash WINDOW 2 — published but not checkpointed: the restart
    // re-delivers the batch; the existing target makes it a no-op
    StreamingLoader.commitBatch(
      SurveyGen.generate(spark, 25, seed = 23), root, batchId = 90)
    assert(VersionedTable.read(spark, root).count() == 175)

    // restart with a new drop: the checkpoint skips old files, the new
    // batch publishes INTO the current version dir
    SurveyGen.writeArrival(spark, src, "drop3.csv", 10, 24)
    val q2 = StreamingLoader.runVersionedAvailableNow(
      spark, src, root, ckpt, SurveyGen.schema)
    q2.awaitTermination(60000)
    assert(VersionedTable.read(spark, root).count() == 185)
  }

  test("row-level retention keeps only rows in the window") {
    val dir = tmpDir("ret") + "/t"
    Tables.events(spark, sfDir).write.parquet(dir)
    val cutoff = java.sql.Timestamp.valueOf("2024-01-15 00:00:00")
    val kept = Maintenance.expireRows(spark, dir, dir + "_tmp", "ts", cutoff)
    val after = spark.read.parquet(dir)
    assert(after.count() == kept)
    assert(after.filter(col("ts") < lit(cutoff)).count() == 0)
    assert(kept > 0)
  }

  test("compaction reduces file count and preserves data") {
    val dir = tmpDir("cmp") + "/t"
    Tables.events(spark, sfDir).repartition(16).write.parquet(dir)
    val before = spark.read.parquet(dir)
    val beforeCnt = before.count()
    val beforeSum = before.agg(sum("event_id")).head.getLong(0)
    val filesBefore = new java.io.File(dir).listFiles().count(_.getName.endsWith(".parquet"))
    Maintenance.compact(spark, dir, dir + "_tmp", targetFileBytes = 1L << 30)
    val after = spark.read.parquet(dir)
    val filesAfter = new java.io.File(dir).listFiles().count(_.getName.endsWith(".parquet"))
    assert(filesAfter < filesBefore && filesAfter == 1)
    assert(after.count() == beforeCnt)
    assert(after.agg(sum("event_id")).head.getLong(0) == beforeSum)
  }

  test("upsert: matched rows replaced, unmatched inserted, rest untouched") {
    import spark.implicits._
    val dir = tmpDir("ups") + "/t"
    Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("k", "name", "v").write.parquet(dir)
    val changes = Seq((2L, "b2", 99.0), (4L, "d", 40.0)).toDF("k", "name", "v")
    Maintenance.upsert(spark, dir, dir + "_tmp", changes, Seq("k"))
    val out = spark.read.parquet(dir).orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    assert(out == Seq((1L, "a", 10.0), (2L, "b2", 99.0), (3L, "c", 30.0), (4L, "d", 40.0)))
  }

  test("versioned table: readable through a crash at every commit step") {
    import spark.implicits._
    val root = tmpDir("vt") + "/t"
    val v1 = VersionedTable.init(spark, root, Seq((1L, "a"), (2L, "b")).toDF("k", "s"))
    assert(v1 == 1 && VersionedTable.read(spark, root).count() == 2)
    assert(new java.io.File(s"$root/_commits/1").exists())

    // crash DURING the next write: partial data dir, no manifest —
    // the table still serves version 1
    val partial = new java.io.File(s"$root/_v-2"); partial.mkdirs()
    java.nio.file.Files.writeString(
      new java.io.File(partial, "part-00000.parquet").toPath, "garbage")
    assert(VersionedTable.currentVersion(spark, root).contains(1L))
    assert(VersionedTable.read(spark, root).count() == 2)

    // crash AFTER the write completed (data + _SUCCESS) but BEFORE
    // the manifest: still invisible. This is exactly the window where
    // rename-as-visibility on an object store (rename = non-atomic
    // copy+delete) would expose a half-copied version — here the data
    // never moves and only the manifest object flips visibility.
    org.apache.commons.io.FileUtils.deleteDirectory(partial)
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "s")
      .write.parquet(s"$root/_v-2")
    assert(VersionedTable.currentVersion(spark, root).contains(1L))
    assert(VersionedTable.read(spark, root).count() == 2)

    // crash DURING manifest creation: worst case is an EMPTY manifest
    // — existence alone commits, and the data was already complete
    java.nio.file.Files.createFile(new java.io.File(s"$root/_commits/2").toPath)
    assert(VersionedTable.currentVersion(spark, root).contains(2L))
    assert(VersionedTable.read(spark, root).count() == 3)

    // crash BEFORE the prune left the superseded version on disk —
    // read resolves the newer; the next commit heals all leftovers
    assert(new java.io.File(s"$root/_v-1").exists())
    val v3 = VersionedTable.rewrite(spark, root)(_.filter(col("k") =!= 3L))
    assert(v3 == 3 && VersionedTable.read(spark, root).count() == 2)
    assert(!new java.io.File(s"$root/_v-1").exists())
    assert(!new java.io.File(s"$root/_v-2").exists())
    assert(!new java.io.File(s"$root/_commits/1").exists())
    assert(!new java.io.File(s"$root/_commits/2").exists())
    assert(new java.io.File(s"$root/_commits/3").exists())
  }

  test("versioned table: retention window keeps readable old versions") {
    import spark.implicits._
    val root = tmpDir("vtk") + "/t"
    VersionedTable.init(spark, root, Seq((1L, "a")).toDF("k", "s"),
      keepVersions = 2)
    VersionedTable.rewrite(spark, root, keepVersions = 2)(
      _.withColumn("s", lit("b")))
    VersionedTable.rewrite(spark, root, keepVersions = 2)(
      _.withColumn("s", lit("c")))
    // newest two versions retained (a reader mid-scan on v2 survives
    // the v3 commit), older pruned
    assert(VersionedTable.currentVersion(spark, root).contains(3L))
    assert(!new java.io.File(s"$root/_v-1").exists())
    assert(new java.io.File(s"$root/_v-2").exists())
    assert(VersionedTable.read(spark, root).head.getString(1) == "c")
    assert(VersionedTable.readVersion(spark, root, 2).head.getString(1) == "b")
  }

  test("graft_version table function: SQL time travel over versioned tables") {
    import spark.implicits._
    val root = tmpDir("vttvf") + "/t"
    VersionedTable.init(spark, root, Seq((1L, "a")).toDF("k", "s"),
      keepVersions = 2)
    VersionedTable.rewrite(spark, root, keepVersions = 2)(
      _.withColumn("s", lit("b")))
    // current version through plain SQL (parser + injected TVF)
    val cur = spark.sql(s"SELECT s FROM graft_version('$root')")
      .collect().map(_.getString(0)).toSeq
    assert(cur == Seq("b"))
    // explicit version = time travel within the retention window
    val old = spark.sql(s"SELECT s FROM graft_version('$root', 1)")
      .collect().map(_.getString(0)).toSeq
    assert(old == Seq("a"))
    // joins like any relation, through the SqlRunner surface
    val joined = SqlRunner.query(spark,
      s"""SELECT cur.k, old.s AS old_s, cur.s AS new_s
         |FROM graft_version('$root') cur
         |JOIN graft_version('$root', 1) old ON cur.k = old.k""".stripMargin)
    assert(joined._1.collect().map(_.toString).toSeq == Seq("[1,a,b]"))
    // CDC between the two versions, straight from SQL: the k=1 row
    // changed s from a to b → one preimage + one postimage
    val cdc = spark.sql(
      s"""SELECT _change_type, s FROM graft_changes('$root', 1, 2, 'k')
         |ORDER BY _change_type""".stripMargin)
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(cdc == Seq(("update_postimage", "b"), ("update_preimage", "a")))
    // unkeyed form: plain multiset diff
    val plain = spark.sql(
      s"SELECT _change_type FROM graft_changes('$root', 1, 2)")
      .collect().map(_.getString(0)).sorted.toSeq
    assert(plain == Seq("delete", "insert"))
  }

  test("graft_pruned table function: SQL range scan planned from the manifest") {
    import spark.implicits._
    val root = tmpDir("vtprunetvf") + "/t"
    val df = spark.range(0, 10000).toDF("k").withColumn("v", col("k") * 3)
    VersionedTable.commit(spark, root, statsCols = Seq("k")) { stage =>
      df.repartitionByRange(8, col("k")).sortWithinPartitions("k")
        .write.parquet(stage)
    }
    val viaTvf = spark.sql(
      s"SELECT k, v FROM graft_pruned('$root', 'k', 2000, 2500)")
    // semantically the plain range query over the versioned table...
    val viaFull = spark.sql(
      s"SELECT k, v FROM graft_version('$root') WHERE k BETWEEN 2000 AND 2500")
    assert(viaTvf.collect().map(_.toString).sorted.toSeq ==
      viaFull.collect().map(_.toString).sorted.toSeq)
    assert(viaTvf.count() == 501)
    // ...but planned over a strict subset of the files
    assert(viaTvf.inputFiles.length < viaFull.inputFiles.length)
    // aggregates over the TVF behave like any relation
    val agg = SqlRunner.query(spark,
      s"SELECT SUM(v) AS sv FROM graft_pruned('$root', 'k', 0, 99)")
    assert(agg._1.head.getLong(0) == (0L until 100L).map(_ * 3).sum)
  }

  test("manifest file stats prune a range scan from the manifest alone") {
    import spark.implicits._
    val root = tmpDir("vtstats") + "/t"
    val df = spark.range(0, 10000).toDF("k")
      .withColumn("v", col("k") * 2)
    // range-clustered files → disjoint per-file k ranges in the stats
    VersionedTable.commit(spark, root, statsCols = Seq("k")) { stage =>
      df.repartitionByRange(8, col("k")).sortWithinPartitions("k")
        .write.parquet(stage)
    }
    val stats = VersionedTable.manifestStats(spark, root, 1L)
    assert(stats.size == 8)
    assert(stats.forall(s => s.min("k").isDefined && s.rows > 0))
    // a narrow range hits a strict subset of files
    val files = VersionedTable.prunedFiles(spark, root, "k", 1000L, 1500L)
    assert(files.nonEmpty && files.size < 8, files.toString)
    // pruned scan + exact filter ≡ full scan + exact filter
    val pruned = VersionedTable.readPruned(spark, root, "k", 1000L, 1500L)
      .filter(col("k").between(1000L, 1500L))
      .collect().map(_.toString).sorted.toSeq
    val full = VersionedTable.read(spark, root)
      .filter(col("k").between(1000L, 1500L))
      .collect().map(_.toString).sorted.toSeq
    assert(pruned == full && pruned.size == 501)
    // a stats-less commit refuses to plan a pruned scan (loudly, not
    // by silently scanning everything)
    VersionedTable.rewrite(spark, root, keepVersions = 2)(identity)
    val err = intercept[IllegalArgumentException] {
      VersionedTable.prunedFiles(spark, root, "k", 0L, 1L)
    }
    assert(err.getMessage.contains("no file stats"))
    // scheduled compaction doubles as the skipping-index refresh:
    // range-clustered files + fresh stats → pruning works again
    val nFiles = Maintenance.compactVersioned(spark, root,
      targetFileBytes = 16L << 10, sortCol = Some("k"),
      statsCols = Seq("k"))
    if (nFiles > 1) {
      val again = VersionedTable.prunedFiles(spark, root, "k", 1000L, 1500L)
      assert(again.nonEmpty && again.size < nFiles, s"$nFiles -> $again")
    }
  }

  test("countWhere answers range counts from the manifest, scanning only boundaries") {
    import spark.implicits._
    val root = tmpDir("vtcnt") + "/t"
    val df = spark.range(0, 10000).toDF("k")
      .withColumn("v", when(col("k") % 10 === 0, lit(null)).otherwise(col("k")))
    VersionedTable.commit(spark, root, statsCols = Seq("k", "v")) { stage =>
      df.repartitionByRange(8, col("k")).sortWithinPartitions("k")
        .write.parquet(stage)
    }
    // full range: every file fully contained → zero files scanned
    val (all, s0) = VersionedTable.countWhere(spark, root, "k", 0L, 9999L)
    assert(all == 10000L && s0 == 0)
    // narrow range: interior files metadata-counted, ≤2 boundary scans
    val (narrow, s1) = VersionedTable.countWhere(spark, root, "k", 1000L, 8999L)
    assert(narrow == 8000L && s1 <= 2, s"scanned $s1")
    // null-bearing column: nulls never counted, still metadata-only
    val (nn, s2) = VersionedTable.countWhere(spark, root, "v", 0L, 9999L)
    assert(nn == 9000L && s2 == 0)
  }

  test("countWhereAll: metadata-only N-D box counts, boundary-only scans") {
    import spark.implicits._
    val root = tmpDir("vtcnta") + "/t"
    val df = spark.range(0, 10000).toDF("k")
      .withColumn("v", when(col("k") % 10 === 0, lit(null)).otherwise(col("k")))
      .withColumn("u", when(col("k") % 7 === 0, lit(null)).otherwise(col("k")))
      .withColumn("w", col("k") % 100)
    VersionedTable.commit(spark, root, statsCols = Seq("k", "v", "u", "w")) {
      stage =>
        df.repartitionByRange(8, col("k")).sortWithinPartitions("k")
          .write.parquet(stage)
    }
    // full box on two null-free columns: every file metadata-counted
    val (all, s0) = VersionedTable.countWhereAll(spark, root,
      Seq(("k", 0L, 9999L), ("w", 0L, 99L)))
    assert(all == 10000L && s0 == 0)
    // narrow k, full w: interior files from metadata, ≤2 boundary scans
    val (narrow, s1) = VersionedTable.countWhereAll(spark, root,
      Seq(("k", 1000L, 8999L), ("w", 0L, 99L)))
    assert(narrow == 8000L && s1 <= 2, s"scanned $s1")
    // ONE null-bearing column composes exactly from per-column stats
    val (nv, s2) = VersionedTable.countWhereAll(spark, root,
      Seq(("k", 0L, 9999L), ("v", 0L, 9999L)))
    assert(nv == 9000L && s2 == 0)
    // TWO null-bearing columns cannot (their overlap is unknowable):
    // the files fall back to an exact scan — correctness over metadata
    val want = df.filter(col("v").isNotNull && col("u").isNotNull).count()
    val (uv, s3) = VersionedTable.countWhereAll(spark, root,
      Seq(("v", 0L, 9999L), ("u", 0L, 9999L)))
    assert(uv == want && s3 == 8, s"count $uv vs $want, scanned $s3")

    // SQL surface: the same box count through the table function,
    // with files_scanned exposed as the did-it-touch-data knob
    val sqlRow = spark.sql(
      s"SELECT cnt, files_scanned FROM graft_count_where('$root', " +
        "'k', 1000, 8999, 'w', 0, 99)").head
    assert(sqlRow.getLong(0) == 8000L && sqlRow.getInt(1) <= 2)

    // z-ordered layout: a narrow 2-D box scans only the box-straddling
    // files and still counts exactly
    val zroot = tmpDir("vtcntz") + "/t"
    val zdf = spark.range(0, 20000).toDF("i")
      .select((col("i") % 141).as("x"), (col("i") % 133).as("y"),
        col("i").as("payload"))
    VersionedTable.commit(spark, zroot, statsCols = Seq("x", "y")) { stage =>
      Bucketing.writeZOrdered(zdf, stage, "x", "y", files = 16)
    }
    val box = Seq(("x", 10L, 30L), ("y", 40L, 60L))
    val zwant = VersionedTable.read(spark, zroot)
      .filter(col("x").between(10L, 30L) && col("y").between(40L, 60L))
      .count()
    val (zcnt, s4) = VersionedTable.countWhereAll(spark, zroot, box)
    val zfiles = VersionedTable.manifestStats(spark, zroot, 1L).size
    assert(zcnt == zwant && zcnt > 0)
    assert(s4 < zfiles, s"scanned $s4 of $zfiles")
  }

  test("z-order compaction restores 2-D box pruning on an ingestion-scattered table") {
    import spark.implicits._
    val root = tmpDir("zcompact") + "/t"
    // ingestion order scatters both dims: every file's [min,max] on x
    // AND y covers nearly the whole domain -> no box pruning at all
    val df = spark.range(0, 20000).toDF("i")
      .select((col("i") * 2654435761L % 141L).as("x"),
        (col("i") * 40503L % 133L).as("y"), col("i").as("payload"))
    VersionedTable.commit(spark, root, statsCols = Seq("x", "y")) { st =>
      df.repartition(16).write.parquet(st)
    }
    val box = Seq(("x", 10L, 30L), ("y", 40L, 60L))
    val want = VersionedTable.read(spark, root)
      .filter(col("x").between(10L, 30L) && col("y").between(40L, 60L))
      .count()
    val (c0, scanned0) = VersionedTable.countWhereAll(spark, root, box)
    assert(c0 == want)
    // the scattered layout scans essentially everything
    assert(scanned0 >= 14, s"expected no pruning, scanned $scanned0")
    // z-order compaction: one maintenance call, same rows, and the
    // SAME box now prunes to the straddling minority
    graft.lakehouse.Maintenance.compactVersioned(spark, root,
      targetFileBytes = 16L << 10, zorderCols = Some(("x", "y")))
    val v = VersionedTable.currentVersion(spark, root).get
    val zfiles = VersionedTable.manifestStats(spark, root, v).size
    assert(zfiles >= 8, s"compaction produced only $zfiles files")
    val (c1, scanned1) = VersionedTable.countWhereAll(spark, root, box)
    assert(c1 == want)
    assert(scanned1 < zfiles / 2,
      s"z-order left $scanned1 of $zfiles scanning")
    // the daemon path drives the same layout
    assert(VersionedTable.read(spark, root).count() == 20000)
  }

  test("manifest blooms prune point lookups where min/max ranges cannot") {
    import spark.implicits._
    val root = tmpDir("vtbloom") + "/t"
    // values SCATTERED across files by hash: every file's [min, max]
    // covers nearly the whole domain, so range pruning keeps
    // everything — the bloom is the only thing that can say no
    val df = spark.range(0, 20000).toDF("i")
      .select((col("i") * 2654435761L % 1000003L).as("id"),
        concat(lit("u"), (col("i") % 4096).cast("string")).as("tag"),
        col("i").as("payload"))
    VersionedTable.commit(spark, root, statsCols = Seq("id"),
      bloomCols = Seq("id", "tag")) { stage =>
        df.repartition(16).write.parquet(stage)
      }
    val nFiles = VersionedTable.manifestStats(spark, root, 1L).size
    assert(nFiles == 16)
    assert(VersionedTable.manifestBlooms(spark, root, 1L).size == 32)
    // range pruning is useless on this layout (sanity of the setup)
    assert(VersionedTable.prunedFiles(spark, root, "id", 500000L, 500100L)
      .size == nFiles)

    // soundness: every present value's lookup finds EXACTLY its rows
    val sample = df.limit(50).collect()
    sample.foreach { r =>
      val id = r.getLong(0)
      val want = df.filter(col("id") === id).count()
      val got = VersionedTable.readPointLookup(spark, root, "id", id)
      assert(got.count() == want, s"id=$id")
    }
    // string column: same contract through the cast/hash parity
    val tag = sample.head.getString(1)
    assert(VersionedTable.readPointLookup(spark, root, "tag", tag).count() ==
      df.filter(col("tag") === tag).count())

    // selectivity: absent values prune to (almost) nothing — with
    // bits=8192, k=4 and ~1250 values/file the per-file fpp is well
    // under 5%, so probing 40 absent ids averages ≪ 1 file each
    val absentHits = (1 to 40).map { i =>
      VersionedTable.prunedFilesEq(spark, root, "id",
        2000000L + i).size
    }.sum
    info(s"absent-id files kept across 40 probes: $absentHits / ${40 * nFiles}")
    assert(absentHits < 40 * nFiles / 4,
      s"bloom not selective: $absentHits")
    // files without a bloom for the column are kept conservatively
    assert(VersionedTable.prunedFilesEq(spark, root, "payload", 7L)
      .size == nFiles)
    // SQL surface: the same lookup through the table function
    val id0 = sample.head.getLong(0)
    assert(spark.sql(s"SELECT * FROM graft_lookup('$root', 'id', $id0)")
      .count() == df.filter(col("id") === id0).count())
    assert(spark.sql(
      s"SELECT * FROM graft_lookup('$root', 'tag', '$tag')")
      .count() == df.filter(col("tag") === tag).count())
  }

  test("point-width box bounds compose bloom pruning with range pruning") {
    import spark.implicits._
    val root = tmpDir("vtbloombox") + "/t"
    // ids hash-scattered (range pruning keeps everything), payload
    // monotone (range pruning works) — a box of (id = v, payload
    // range) exercises BOTH planners in one prunedFilesWhere call
    val df = spark.range(0, 20000).toDF("i")
      .select((col("i") * 2654435761L % 1000003L).as("id"),
        col("i").as("payload"))
    VersionedTable.commit(spark, root, statsCols = Seq("id", "payload"),
      bloomCols = Seq("id")) { stage =>
        df.repartition(16).write.parquet(stage)
      }
    val nFiles = VersionedTable.manifestStats(spark, root, 1L).size
    val present = df.limit(5).collect().map(r => (r.getLong(0), r.getLong(1)))

    present.foreach { case (id, pay) =>
      // a point-width id bound prunes AT LEAST as hard as
      // prunedFilesEq: the box planner also applies the id range
      // stats, which can rule out a bloom false positive
      val box = Seq(("id", id, id), ("payload", 0L, 20000L))
      val got = VersionedTable.prunedFilesWhere(spark, root, box).toSet
      val eq = VersionedTable.prunedFilesEq(spark, root, "id", id).toSet
      assert(got.subsetOf(eq), s"id=$id: box pruning kept a file the bloom excluded")
      assert(got.size < nFiles, s"id=$id kept all $nFiles files")
      // and the planned scan still answers exactly
      val rows = VersionedTable.readPrunedWhere(spark, root, box)
        .filter(col("id") === id).count()
      assert(rows == df.filter(col("id") === id).count(), s"id=$id")
      // the payload range composes: a box excluding the row's payload
      // band can prune below the bloom's file set
      val narrow = VersionedTable.prunedFilesWhere(spark, root,
        Seq(("id", id, id), ("payload", pay, pay + 10L)))
      assert(narrow.toSet.subsetOf(got))
    }
    // absent ids: bloom says no almost everywhere
    val absentKept = (1 to 20).map { i =>
      VersionedTable.prunedFilesWhere(spark, root,
        Seq(("id", 2000000L + i, 2000000L + i))).size
    }.sum
    assert(absentKept < 20 * nFiles / 4, s"not selective: $absentKept")
    // a RANGE-width id bound must NOT consult the bloom (membership
    // of a range can't be tested bit-wise) — it plans exactly like
    // the pure range planner
    val r = present.head._1
    assert(VersionedTable.prunedFilesWhere(spark, root,
      Seq(("id", r, r + 1L))).toSet ==
      VersionedTable.prunedFiles(spark, root, "id", r, r + 1L).toSet)
    // bloomless column with a point bound: conservative
    assert(VersionedTable.prunedFilesWhere(spark, root,
      Seq(("payload", 7L, 7L))).size ==
      VersionedTable.prunedFiles(spark, root, "payload", 7L, 7L).size)
  }

  test("manifest stats prune a 2-D box over a z-ordered layout") {
    import spark.implicits._
    val root = tmpDir("vtz") + "/t"
    // two independent dimensions — the layout z-orders both, so a
    // narrow box prunes on the CONJUNCTION of the two stat ranges
    val df = spark.range(0, 20000).toDF("i")
      .select((col("i") % 141).as("x"), (col("i") % 133).as("y"),
        col("i").as("payload"))
    VersionedTable.commit(spark, root, statsCols = Seq("x", "y")) { stage =>
      Bucketing.writeZOrdered(df, stage, "x", "y", files = 16)
    }
    val box = Seq(("x", 10L, 30L), ("y", 40L, 60L))
    val files = VersionedTable.prunedFilesWhere(spark, root, box)
    val all = VersionedTable.manifestStats(spark, root, 1L).size
    assert(files.nonEmpty && files.size < all, s"$all -> ${files.size}")
    // conjunction ⊆ each single-column pruning
    val xOnly = VersionedTable.prunedFiles(spark, root, "x", 10L, 30L)
    assert(files.toSet.subsetOf(xOnly.toSet))
    val got = VersionedTable.readPrunedWhere(spark, root, box)
      .filter(col("x").between(10L, 30L) && col("y").between(40L, 60L))
      .collect().map(_.toString).sorted.toSeq
    val want = VersionedTable.read(spark, root)
      .filter(col("x").between(10L, 30L) && col("y").between(40L, 60L))
      .collect().map(_.toString).sorted.toSeq
    assert(got == want && got.nonEmpty)
  }

  test("versioned table: changes() classifies insert/update/delete between versions") {
    import spark.implicits._
    val root = tmpDir("vtcdc") + "/t"
    VersionedTable.init(spark, root,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "s"), keepVersions = 3)
    // v2: update k=2, delete k=3, insert k=4, keep k=1 untouched
    VersionedTable.rewrite(spark, root, keepVersions = 3) { df =>
      df.filter(col("k") =!= 3L)
        .withColumn("s", when(col("k") === 2L, lit("B")).otherwise(col("s")))
        .unionByName(Seq((4L, "d")).toDF("k", "s"))
    }
    val keyed = VersionedTable.changes(spark, root, 1L, 2L, Seq("k"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .sortBy(t => (t._1, t._3)).toSeq
    assert(keyed == Seq(
      (2L, "B", "update_postimage"), (2L, "b", "update_preimage"),
      (3L, "c", "delete"), (4L, "d", "insert")))
    // unkeyed: the same rows as a plain insert/delete multiset diff
    val flat = VersionedTable.changes(spark, root, 1L, 2L)
      .groupBy("_change_type").count().collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(flat == Map("insert" -> 2L, "delete" -> 2L))
  }

  test("versioned table: a racing writer's commit fails loudly") {
    import spark.implicits._
    val root = tmpDir("vtrace") + "/t"
    VersionedTable.init(spark, root, Seq((1L, "a")).toDF("k", "s"))
    // another writer publishes version 2 between our version
    // computation and our manifest create — simulate by pre-creating
    // the manifest our commit will try to claim
    val err = intercept[IllegalStateException] {
      VersionedTable.commit(spark, root) { stage =>
        java.nio.file.Files.createFile(
          new java.io.File(s"$root/_commits/2").toPath) // the racer wins
        Seq((9L, "x")).toDF("k", "s").write.parquet(stage)
      }
    }
    assert(err.getMessage.contains("concurrent commit"))
    // the racer's (empty-manifest) commit is current; ours never landed
    assert(VersionedTable.currentVersion(spark, root).contains(2L))
  }

  test("versioned table: migrates a legacy flat dir on first commit") {
    import spark.implicits._
    val root = tmpDir("vtm") + "/t"
    Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v").write.parquet(root)
    // pre-migration reads fall back to the flat dir
    assert(VersionedTable.currentVersion(spark, root).isEmpty)
    assert(VersionedTable.read(spark, root).count() == 2)
    VersionedTable.rewrite(spark, root)(_.filter(col("k") === 1L))
    assert(VersionedTable.currentVersion(spark, root).contains(1L))
    assert(VersionedTable.read(spark, root).count() == 1)
    // legacy flat files were pruned after the commit
    assert(!new java.io.File(root).listFiles().exists(_.getName.endsWith(".parquet")))
  }

  test("versioned maintenance twins: retention, compaction, upsert") {
    import spark.implicits._
    val root = tmpDir("vmt") + "/t"
    VersionedTable.init(spark, root, Tables.events(spark, sfDir))
    val cutoff = java.sql.Timestamp.valueOf("2024-01-15 00:00:00")
    val kept = Maintenance.expireRowsVersioned(spark, root, "ts", cutoff)
    val after = VersionedTable.read(spark, root)
    assert(after.count() == kept && kept > 0)
    assert(after.filter(col("ts") < lit(cutoff)).count() == 0)

    val n = Maintenance.compactVersioned(spark, root, targetFileBytes = 1L << 30)
    assert(n == 1 && VersionedTable.read(spark, root).count() == kept)

    val root2 = tmpDir("vmu") + "/t"
    VersionedTable.init(spark, root2,
      Seq((1L, "a"), (2L, "b")).toDF("k", "name"))
    Maintenance.upsertVersioned(spark, root2,
      Seq((2L, "b2"), (3L, "c")).toDF("k", "name"), Seq("k"))
    val out = VersionedTable.read(spark, root2).orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(out == Seq((1L, "a"), (2L, "b2"), (3L, "c")))
  }

  test("replaceDir crash window heals via recoverDir") {
    import spark.implicits._
    val dir = tmpDir("rcv") + "/t"
    Seq((1L, "new")).toDF("k", "s").write.parquet(dir + "_tmp")
    // simulate the crash point: live already rotated to backup, tmp
    // not yet renamed in — the live dir is missing
    Seq((1L, "old")).toDF("k", "s").write.parquet(dir + "_backup")
    assert(!new java.io.File(dir).exists())
    assert(Maintenance.recoverDir(spark, dir + "_tmp", dir).contains("tmp"))
    assert(spark.read.parquet(dir).head.getString(1) == "new")
    assert(!new java.io.File(dir + "_backup").exists())

    // without a complete tmp, recovery restores the backup
    val dir2 = tmpDir("rcv2") + "/t"
    Seq((1L, "old")).toDF("k", "s").write.parquet(dir2 + "_backup")
    assert(Maintenance.recoverDir(spark, dir2 + "_tmp", dir2).contains("backup"))
    assert(spark.read.parquet(dir2).head.getString(1) == "old")
  }

  test("incremental loader ingests json-lines sources through the same machinery") {
    val root = tmpDir("jload")
    val src = s"$root/arrivals"; val table = s"$root/t"
    val registry = s"$root/registry"
    new java.io.File(src).mkdirs()
    // one JSON-lines drop, written the same single-file way CSVs are
    val rows = SurveyGen.generate(spark, 120, seed = 9)
    val tmp = s"$src/_tmp_json"
    rows.coalesce(1).write.mode("overwrite").json(tmp)
    val part = new java.io.File(tmp).listFiles()
      .find(_.getName.startsWith("part-")).get
    java.nio.file.Files.move(part.toPath,
      new java.io.File(src, "drop_0001.json").toPath)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    val r = IncrementalLoader.run(spark, src, table, registry,
      SurveyGen.schema, format = "json")
    assert(r.loaded.size == 1 && r.failed.isEmpty)
    assert(spark.read.parquet(table).count() == 120)
    // re-run skips via the registry, same as csv
    val r2 = IncrementalLoader.run(spark, src, table, registry,
      SurveyGen.schema, format = "json")
    assert(r2.loaded.isEmpty && r2.skipped.size == 1)
  }

  test("incremental load retry after a lost registry does not duplicate rows") {
    val root = tmpDir("idem")
    val src = s"$root/arrivals"; val table = s"$root/t"
    val registry = s"$root/registry"
    new java.io.File(src).mkdirs()
    val schema = SurveyGen.generate(spark, 1, seed = 1).schema
    SurveyGen.writeArrival(spark, src, "datagen_202401010000.csv", 200, seed = 3)
    val r1 = IncrementalLoader.run(spark, src, table, registry, schema)
    assert(r1.loaded.size == 1)
    assert(spark.read.parquet(table).count() == 200)
    // crash-after-publish-before-registry: the load happened but the
    // registry never recorded it — the retry must replace, not append
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(registry))
    val r2 = IncrementalLoader.run(spark, src, table, registry, schema)
    assert(r2.loaded.size == 1)
    assert(spark.read.parquet(table).count() == 200)
  }

  test("incremental loads stay visible after a versioned table rewrite") {
    val root = tmpDir("vload")
    val src = s"$root/arrivals"; val table = s"$root/t"
    val registry = s"$root/registry"
    new java.io.File(src).mkdirs()
    val schema = SurveyGen.generate(spark, 1, seed = 1).schema
    SurveyGen.writeArrival(spark, src, "datagen_202401010000.csv", 100, seed = 5)
    IncrementalLoader.run(spark, src, table, registry, schema)
    assert(VersionedTable.read(spark, table).count() == 100)
    // a maintenance rewrite migrates the table to versioned layout...
    Maintenance.compactVersioned(spark, table, targetFileBytes = 1L << 30)
    assert(VersionedTable.currentVersion(spark, table).contains(1L))
    // ...and the next load publishes INTO the current version, so
    // versioned reads see old + new rows
    SurveyGen.writeArrival(spark, src, "datagen_202401010001.csv", 50, seed = 6)
    val r = IncrementalLoader.run(spark, src, table, registry, schema)
    assert(r.loaded.size == 1)
    assert(VersionedTable.read(spark, table).count() == 150)
  }

  test("schema evolution: additive columns align with null fill") {
    import spark.implicits._
    val base = Seq((1L, "x")).toDF("id", "name")
    val incoming = Seq((2L, "y", 5.0)).toDF("id", "name", "score")
    val merged = Maintenance.alignAppend(base, incoming)
    assert(merged.columns.toSeq == Seq("id", "name", "score"))
    val rows = merged.orderBy("id").collect()
    assert(rows(0).isNullAt(2) && rows(1).getDouble(2) == 5.0)
  }

  test("schema evolution: differing numeric types widen like SQL UNION") {
    import spark.implicits._
    val base = Seq((1, 10)).toDF("id", "v")            // int, int
    val incoming = Seq((2L, 2.5, "z")).toDF("id", "v", "tag") // long, double, new col
    val merged = Maintenance.alignAppend(base, incoming)
    val types = merged.schema.map(f => f.name -> f.dataType.simpleString).toMap
    assert(types("id") == "bigint" && types("v") == "double" &&
      types("tag") == "string")
    val rows = merged.orderBy("id").collect()
    assert(rows(0).getLong(0) == 1L && rows(0).getDouble(1) == 10.0 &&
      rows(0).isNullAt(2))
    assert(rows(1).getDouble(1) == 2.5 && rows(1).getString(2) == "z")
  }

  test("DataQuality.violations: every check type, one aggregate pass, clean batch empty") {
    import spark.implicits._
    import graft.lakehouse.DataQuality._
    val df = Seq(
      (1L, Some("a"), 10.0, "en"),
      (2L, Some("b"), 20.0, "en"),
      (2L, None, 99.0, "xx"), // dup id, null name, out-of-range v, bad lang
      (4L, Some("d"), 30.0, "de")
    ).toDF("id", "name", "v", "lang")
    val checks = Seq(
      NotNull(Seq("name")), Unique(Seq("id")), InRange("v", 0.0, 50.0),
      InSet("lang", Seq("en", "de")), MinRows(10),
      MaxNullFraction("name", 0.1))
    val bad = violations(df, checks)
    assert(bad.size == 6, s"expected all six to fire: $bad")
    assert(bad.exists(_.startsWith("not_null(name): 1")))
    assert(bad.exists(_.startsWith("unique(id): 1")))
    assert(bad.exists(_.startsWith("in_range(v, 0.0, 50.0): 1")))
    assert(bad.exists(_.startsWith("in_set(lang): 1")))
    assert(bad.exists(_.startsWith("min_rows(10): batch has only 4")))
    assert(bad.exists(_.startsWith("max_null_fraction(name")))
    // clean batch → no violations (nulls allowed where not checked)
    val clean = Seq((1L, Some("a"), 10.0, "en"), (2L, Some("b"), 20.0, "de"))
      .toDF("id", "name", "v", "lang")
    assert(violations(clean, checks.filterNot(_.isInstanceOf[MinRows])).isEmpty)
    assert(violations(clean, Nil).isEmpty)
  }

  test("commitAudited: write-audit-publish — a dirty stage never becomes visible") {
    import spark.implicits._
    import graft.lakehouse.DataQuality
    val root = tmpDir("wap") + "/t"
    VersionedTable.init(spark, root,
      Seq((1L, "a"), (2L, "b")).toDF("id", "name"), keepVersions = 4)
    val checks = Seq(DataQuality.NotNull(Seq("name")),
      DataQuality.Unique(Seq("id")))
    // clean commit publishes
    val v2 = VersionedTable.commitAudited(spark, root, keepVersions = 4) {
      stage => Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "name")
        .write.parquet(stage)
    }(DataQuality.violations(_, checks))
    assert(v2 == 2L && VersionedTable.read(spark, root).count() == 3)
    // dirty commit: audit rejects, stage deleted, table untouched
    val e = intercept[VersionedTable.AuditFailedException] {
      VersionedTable.commitAudited(spark, root, keepVersions = 4) {
        stage => Seq((1L, "a"), (1L, null), (3L, "c")).toDF("id", "name")
          .write.parquet(stage)
      }(DataQuality.violations(_, checks))
    }
    assert(e.violations.size == 2)
    assert(VersionedTable.currentVersion(spark, root).contains(2L))
    assert(VersionedTable.read(spark, root).count() == 3)
    val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(root),
      spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$root/_v-3")),
      "rejected stage dir left behind")
    // the next clean commit reuses the freed version number
    val v3 = VersionedTable.commitAudited(spark, root, keepVersions = 4) {
      stage => Seq((9L, "z")).toDF("id", "name").write.parquet(stage)
    }(DataQuality.violations(_, checks))
    assert(v3 == 3L)
  }

  test("loader audit gate quarantines bad drops terminally; good drops load") {
    import graft.lakehouse.DataQuality
    val root = tmpDir("quarantine")
    val src = s"$root/arrivals"; val table = s"$root/t"
    new java.io.File(src).mkdirs()
    val schema = SurveyGen.generate(spark, 1, seed = 1).schema
    SurveyGen.writeArrival(spark, src, "good.csv", 50, seed = 1)
    // a truncated drop: header only, zero rows
    val badFile = new java.io.File(src, "bad.csv")
    java.nio.file.Files.writeString(badFile.toPath,
      schema.fieldNames.mkString(",") + "\n")
    val audit = Some((df: org.apache.spark.sql.DataFrame) =>
      DataQuality.violations(df, Seq(DataQuality.MinRows(10))))
    val r1 = IncrementalLoader.run(spark, src, table, s"$root/reg", schema,
      audit = audit)
    assert(r1.loaded.size == 1 && r1.quarantined.size == 1)
    assert(r1.quarantined.head._1.endsWith("bad.csv"))
    assert(r1.quarantined.head._2.head.startsWith("min_rows(10)"))
    assert(spark.read.parquet(table).count() == 50)
    // quarantine is terminal: the rerun skips it (no audit re-run)
    val r2 = IncrementalLoader.run(spark, src, table, s"$root/reg", schema,
      audit = audit)
    assert(r2.loaded.isEmpty && r2.quarantined.isEmpty &&
      r2.skipped.size == 2)
    // registry records the quarantine for triage
    val reg = LoadRegistry.read(spark, s"$root/reg")
    assert(reg.filter(org.apache.spark.sql.functions.col("status") ===
      LoadRegistry.StatusQuarantined).count() == 1)
    // daemon wiring: a tick with auditChecks quarantines the same way
    val cfg = Automation.Config(
      srcDir = src, tableDir = table, registryDir = s"$root/reg",
      generate = false, auditChecks = Seq(DataQuality.MinRows(10)))
    val bad2 = new java.io.File(src, "bad2.csv")
    java.nio.file.Files.writeString(bad2.toPath,
      schema.fieldNames.mkString(",") + "\n")
    val reports = new Automation(spark, cfg).runLoop(
      intervalMillis = 5, maxTicks = 1)
    assert(reports.head.load.quarantined.size == 1)
    assert(spark.read.parquet(table).count() == 50)
  }

  test("built-in SQL procs drive tag/rollback/vacuum/compact from a console") {
    import spark.implicits._
    val root = tmpDir("sqlproc") + "/t"
    VersionedTable.init(spark, root,
      (1L to 100L).toDF("k").repartition(4), keepVersions = 4)
    // snapshot, break the table, roll back by tag — all through procs
    val (t1, _) = SqlRunner.callProc(spark, "graft_tag", Seq(root, "good"))
    assert(t1.head.getLong(1) == 1L)
    VersionedTable.rewrite(spark, root, keepVersions = 4)(_.filter($"k" < 5))
    assert(VersionedTable.read(spark, root).count() == 4)
    val (rb, _) = SqlRunner.callProc(spark, "graft_rollback",
      Seq(root, "good", "4"))
    assert(rb.head.getLong(0) == 3L)
    assert(VersionedTable.read(spark, root).count() == 100)
    // numeric rollback target also accepted
    val (rb2, _) = SqlRunner.callProc(spark, "graft_rollback",
      Seq(root, "2", "4"))
    assert(rb2.head.getLong(0) == 4L &&
      VersionedTable.read(spark, root).count() == 4)
    // compact: everything is "small" → packs into one file
    SqlRunner.callProc(spark, "graft_rollback", Seq(root, "good", "4"))
    val (cp, _) = SqlRunner.callProc(spark, "graft_compact",
      Seq(root, (64L << 20).toString, "k"))
    assert(cp.head.getLong(1) >= 1L)
    assert(VersionedTable.read(spark, root).count() == 100)
    val (dt, _) = SqlRunner.callProc(spark, "graft_drop_tag", Seq(root, "good"))
    assert(dt.head.getBoolean(1))
    val (vc, _) = SqlRunner.callProc(spark, "graft_vacuum", Seq(root, "0"))
    assert(vc.head.getLong(0) >= 0L)
  }

  test("file-level retention deletes only stale files") {
    val dir = tmpDir("exp")
    val fresh = new java.io.File(dir, "fresh.csv")
    val stale = new java.io.File(dir, "stale.csv")
    java.nio.file.Files.writeString(fresh.toPath, "a\n")
    java.nio.file.Files.writeString(stale.toPath, "b\n")
    stale.setLastModified(System.currentTimeMillis() - 10L * 24 * 3600 * 1000)
    val deleted = Maintenance.expireFiles(spark, dir, days = 7)
    assert(deleted == Seq("stale.csv"))
    assert(fresh.exists() && !stale.exists())
  }

  test("daemon CDC consumer ticks: keyed mirror and retraction aggregate follow the table") {
    import spark.implicits._
    val root = tmpDir("autocdc")
    new java.io.File(s"$root/arrivals").mkdirs()
    def arrive(name: String, rows: Seq[(Long, String, Int)]): Unit = {
      val body = rows.map { case (id, ct, delay) =>
        s"$id,$ct,Business,$delay,3,satisfied"
      }.mkString("\n")
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$root/arrivals/$name"),
        (s"id,customer_type,travel_type,departure_delay," +
          s"baggage_handling,satisfaction\n" + body).getBytes("UTF-8"))
      ()
    }
    // delta-manifest table => every load is its own CDC-visible
    // version; retention must cover the consumers' one-tick lag
    VersionedTable.initDelta(spark, s"$root/t",
      Seq((1L, "Loyal", "Business", 10, 3, "satisfied"))
        .toDF("id", "customer_type", "travel_type", "departure_delay",
          "baggage_handling", "satisfaction")
        .select(col("id"), col("customer_type"), col("travel_type"),
          col("departure_delay").cast("int"),
          col("baggage_handling").cast("int"), col("satisfaction")),
      keepVersions = 16)
    val spec = MaterializedAgg.Spec(Seq("customer_type"),
      Seq("departure_delay"))
    val cfg = Automation.Config(
      srcDir = s"$root/arrivals", tableDir = s"$root/t",
      registryDir = s"$root/reg", generate = false,
      loadKeepVersions = 16,
      mirror = Some(Automation.MirrorConfig(s"$root/mirror", Seq("id"),
        keepVersions = 4)),
      cdcAgg = Some(Automation.CdcAggConfig(s"$root/aggv", spec)))
    val auto = new Automation(spark, cfg)
    arrive("d1.csv", Seq((2L, "Loyal", 5), (3L, "disloyal", 7)))
    val r1 = auto.tick()
    assert(r1.mirrored.nonEmpty && r1.cdcSynced.nonEmpty)
    def tableLatest: Set[(Long, String, Int)] =
      VersionedTable.read(spark, s"$root/t")
        .select("id", "customer_type", "departure_delay").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    def mirrorRows: Set[(Long, String, Int)] =
      VersionedTable.read(spark, s"$root/mirror")
        .select("id", "customer_type", "departure_delay").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    assert(mirrorRows == tableLatest)
    // two more drops in one tick (two versions), incl. nothing-new tick
    arrive("d2.csv", Seq((4L, "Loyal", 2)))
    arrive("d3.csv", Seq((5L, "disloyal", 9)))
    val r2 = auto.tick()
    assert(r2.mirrored.nonEmpty)
    assert(mirrorRows == tableLatest && mirrorRows.size == 5)
    val r3 = auto.tick() // caught up: consumers no-op
    assert(r3.mirrored.isEmpty && r3.cdcSynced.isEmpty)
    // retraction view equals a from-scratch aggregate at every point
    val got = CdcAggView.read(spark, s"$root/aggv", spec)
      .select("customer_type", "cnt", "sum_departure_delay").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    val want = VersionedTable.read(spark, s"$root/t")
      .groupBy("customer_type")
      .agg(count(lit(1)).as("cnt"),
        sum(col("departure_delay").cast("double")).as("s"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .toSet
    assert(got == want, s"got=$got want=$want")
  }

  test("daemon tick propagates a source ALTER to the mirror (evolveSchema)") {
    import spark.implicits._
    val root = tmpDir("autoevo")
    new java.io.File(s"$root/none").mkdirs()
    VersionedTable.initDelta(spark, s"$root/t",
      Seq((1L, "a", 10), (2L, "b", 20)).toDF("id", "s", "v"),
      keepVersions = 16)
    val cfg = Automation.Config(
      srcDir = s"$root/none", tableDir = s"$root/t",
      registryDir = s"$root/reg", generate = false,
      loadKeepVersions = 16,
      mirror = Some(Automation.MirrorConfig(s"$root/mirror", Seq("id"),
        keepVersions = 4, evolveSchema = true)))
    val auto = new Automation(spark, cfg)
    auto.tick() // cold-start snapshot
    assert(VersionedTable.read(spark, s"$root/mirror").columns.toSeq
      == Seq("id", "s", "v"))
    // upstream schema change + keyed upsert between ticks
    VersionedTable.renameColumn(spark, s"$root/t", "s", "label",
      keepVersions = 16)
    VersionedTable.upsertByKey(spark, s"$root/t",
      Seq((2L, "B", 21), (3L, "c", 30)).toDF("id", "label", "v"),
      Seq("id"), keepVersions = 16)
    val r = auto.tick()
    assert(r.mirrored.nonEmpty)
    val m = VersionedTable.read(spark, s"$root/mirror")
    assert(m.columns.toSeq == Seq("id", "label", "v"))
    assert(m.orderBy("id").collect().map(r0 =>
      (r0.getLong(0), r0.getString(1), r0.getInt(2))).toSeq
      == Seq((1L, "a", 10), (2L, "B", 21), (3L, "c", 30)))
  }

  test("reading a pruned delta version fails loudly instead of partial-reading") {
    import spark.implicits._
    val root = tmpDir("prunedread") + "/t"
    VersionedTable.initDelta(spark, root, Seq((1L, "a")).toDF("k", "s"))
    VersionedTable.appendDelta(spark, root) { st =>
      Seq((2L, "b")).toDF("k", "s").write.parquet(st)
    } // keepVersions=1: version 1's manifest pruned, its DIR still
      // referenced (carried file) — the partial-listing trap
    val e = intercept[IllegalStateException] {
      VersionedTable.readVersion(spark, root, 1L).count()
    }
    assert(e.getMessage.contains("not retained"))
    assert(VersionedTable.read(spark, root).count() == 2)
  }

  test("retrain intent sweep deletes only the LISTED marker-completed " +
      "intents — an intent created mid-retrain survives and guards " +
      "the next attempt") {
    import graft.operators.VectorIndex
    import org.apache.spark.sql.functions.col
    val idx = tmpDir("annintent") + "/idx"
    val emb = Tables.embeddings(spark, sfDir)
    VectorIndex.build(emb.filter(col("vec_id") < 40), idx, k = 3, iters = 3)
    assert(VectorIndex.addIdempotent(spark, idx,
      emb.filter(col("vec_id") >= 40 && col("vec_id") < 60), 0L))
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(idx), spark.sparkContext.hadoopConfiguration)
    // simulate the marker-landed-but-intent-clear-crashed window for
    // batch 0: its intent exists AND its marker exists
    val intent0 = new org.apache.hadoop.fs.Path(s"$idx/_batches_intent/batch-0")
    fs.mkdirs(intent0.getParent)
    fs.create(intent0, true).close()
    val lateIntent =
      new org.apache.hadoop.fs.Path(s"$idx/_batches_intent/batch-99")
    // retrain sweeps intent0 (marker-completed), then runs build —
    // during which a concurrent addIdempotent lands ITS intent; the
    // old dir-delete sweep would have erased it had it landed between
    // the listing and the delete, re-opening the duplication window
    VectorIndex.retrain(spark, idx, emb.filter(col("vec_id") < 60),
      (src, stage) => {
        fs.create(lateIntent, true).close()
        VectorIndex.build(src, stage, k = 3, iters = 3)
      })
    assert(!fs.exists(intent0), "marker-completed intent not swept")
    assert(fs.exists(lateIntent),
      "an intent created after the sweep listing must survive the sweep")
    // and it still guards: the next retrain refuses while it is pending
    val e = intercept[IllegalArgumentException] {
      VectorIndex.retrain(spark, idx, emb.filter(col("vec_id") < 60),
        (src, stage) => VectorIndex.build(src, stage, k = 3, iters = 3))
    }
    assert(e.getMessage.contains("batch-99"))
  }

  test("Lease: tight-loop mutual exclusion, wrong-owner release refused, " +
      "TTL breaks a stale holder") {
    import org.apache.hadoop.fs.Path
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI("file:///"), spark.sparkContext.hadoopConfiguration)
    val dir = tmpDir("lease")
    (0 until 100).foreach { round =>
      val lp = new Path(s"$dir/l-$round")
      val barrier = new java.util.concurrent.CyclicBarrier(4)
      val won = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
      val ts = (0 until 4).map { i =>
        new Thread(() => {
          barrier.await()
          if (Lease.acquire(fs, lp, s"d$i", ttlMs = 60000)) won.add(i)
        })
      }
      ts.foreach(_.start()); ts.foreach(_.join())
      assert(won.size == 1, s"round $round: ${won.size} lease holders")
      val w = won.peek()
      // wrong owner cannot release; right owner can
      assert(!Lease.release(fs, lp, s"d${(w + 1) % 4}"))
      assert(Lease.holder(fs, lp).exists(_._1 == s"d$w"))
      assert(Lease.release(fs, lp, s"d$w"))
      assert(Lease.holder(fs, lp).isEmpty)
    }
    // stale-break: a holder past TTL is usurped; a live one is not
    val lp = new Path(s"$dir/stale")
    assert(Lease.acquire(fs, lp, "dead", ttlMs = 60000))
    assert(!Lease.acquire(fs, lp, "challenger", ttlMs = 60000),
      "a live lease must hold")
    Thread.sleep(30)
    assert(Lease.acquire(fs, lp, "challenger", ttlMs = 20),
      "an expired lease must break")
    assert(Lease.holder(fs, lp).exists(_._1 == "challenger"))
  }

  test("Lease stale-break is exclusive on file://: challengers that " +
      "observe the same expired lease never both acquire") {
    import org.apache.hadoop.fs.Path
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI("file:///"), spark.sparkContext.hadoopConfiguration)
    val dir = tmpDir("lease-break")
    (0 until 100).foreach { round =>
      val lp = new Path(s"$dir/stale-$round")
      graft.util.AtomicPut.putIfAbsent(fs, lp,
        s"dead\t${System.currentTimeMillis() - 100000}")
      val barrier = new java.util.concurrent.CyclicBarrier(4)
      val won = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
      val ts = (0 until 4).map { i =>
        new Thread(() => {
          barrier.await()
          if (Lease.acquire(fs, lp, s"c$i", ttlMs = 50)) won.add(i)
        })
      }
      ts.foreach(_.start()); ts.foreach(_.join())
      // the round-8 unconditional delete-then-create pair let B's
      // delete remove A's fresh lease → both held; the rename-
      // arbitrated break admits at most one
      assert(won.size <= 1,
        s"round $round: ${won.size} challengers hold after a stale break")
      won.forEach { i =>
        assert(Lease.holder(fs, lp).exists(_._1 == s"c$i"),
          s"round $round: lease object does not name the winner")
      }
    }
  }

  test("two daemons under a tick lease: concurrent ticks cooperate — " +
      "every drop loads exactly once, skipped ticks report leaseSkipped") {
    import org.apache.spark.sql.functions.col
    val root = tmpDir("twodaemon")
    new java.io.File(s"$root/arrivals").mkdirs()
    val cfg = Automation.Config(
      srcDir = s"$root/arrivals", tableDir = s"$root/t",
      registryDir = s"$root/reg", generate = false,
      lease = Some(Automation.LeaseConfig(s"$root/lease",
        ttlMs = 60000)))
    val d1 = new Automation(spark, cfg)
    val d2 = new Automation(spark, cfg)
    // tick() loads with SurveyGen.schema — drop valid survey CSVs
    def surveyDrop(name: String, ids: Seq[Int]): Unit =
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$root/arrivals/$name.csv"),
        ("answer_id,member_id,survey_id,answer,reg_date" +:
          ids.map(i => s"$i,${i % 7},${i % 3},${i % 5},2024-01-0${i % 9 + 1}"))
          .mkString("\n").getBytes("UTF-8"))
    surveyDrop("a", 1 to 40)
    surveyDrop("b", 41 to 70)
    val reports =
      new java.util.concurrent.ConcurrentLinkedQueue[Automation.TickReport]()
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val threads = Seq(d1, d2).map { d =>
      new Thread(() => {
        barrier.await()
        (0 until 3).foreach(_ => reports.add(d.tick()))
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    import scala.jdk.CollectionConverters._
    val rs = reports.asScala.toSeq
    // exactly-once: 70 rows total, one ok registry row per path
    assert(spark.read.parquet(s"$root/t").count() == 70L,
      "rows lost or duplicated across daemons")
    val okPerPath = LoadRegistry.read(spark, s"$root/reg")
      .filter(col("status") === LoadRegistry.StatusOk)
      .groupBy("path").count().collect().map(_.getLong(1))
    assert(okPerPath.nonEmpty && okPerPath.forall(_ == 1L),
      s"registry not exactly-once: ${okPerPath.toSeq}")
    // each drop loaded by exactly one held tick
    assert(rs.flatMap(_.load.loaded).size == 2,
      s"loads: ${rs.map(_.load.loaded)}")
    // concurrency actually exercised the lease at least once, OR the
    // interleaving fully serialized (both legal; never both load)
    assert(rs.count(_.leaseSkipped) + rs.count(!_.leaseSkipped) == 6)
  }

  test("branch publish/discard carry the staged rows' n_rows into the " +
      "ok/orphan registry records instead of 0") {
    import org.apache.spark.sql.functions.{col, max}
    import spark.implicits._
    val root = tmpDir("brnrows")
    val src = s"$root/src"; val tbl = s"$root/t"; val reg = s"$root/reg"
    new java.io.File(src).mkdirs()
    VersionedTable.commit(spark, tbl, keepVersions = 8) { d =>
      Seq(0L).toDF("id").coalesce(1).write.parquet(d) }
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$src/a.json"),
      Seq("""{"id": 1}""", """{"id": 2}""", """{"id": 3}""")
        .mkString("\n").getBytes("UTF-8"))
    val schema = org.apache.spark.sql.types.StructType.fromDDL("id BIGINT")
    IncrementalLoader.runToBranch(spark, src, tbl, reg, schema, "json")
    IncrementalLoader.publishStagedBranch(spark, tbl, reg)
    val okRows = LoadRegistry.read(spark, reg)
      .filter(col("status") === LoadRegistry.StatusOk)
      .agg(max("n_rows")).collect()(0).getLong(0)
    assert(okRows == 3L,
      s"publish must carry the staged row count forward, got $okRows")
    // discard path: stage a second file, discard — if a crashed
    // publish left orphans they flip ok with the true count (here the
    // released row keeps 0, but the max-per-path invariant holds)
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$src/b.json"),
      Seq("""{"id": 4}""").mkString("\n").getBytes("UTF-8"))
    IncrementalLoader.runToBranch(spark, src, tbl, reg, schema, "json")
    IncrementalLoader.discardStagedBranch(spark, tbl, reg)
    val perPath = LoadRegistry.read(spark, reg)
      .filter(col("status") === LoadRegistry.StatusOk)
      .groupBy("path").agg(max("n_rows").as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(perPath.values.forall(_ > 0L),
      s"every ok path must carry its true row count: $perPath")
  }
}
