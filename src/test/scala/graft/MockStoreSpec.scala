package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CyclicBarrier}

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.functions.col

import graft.lakehouse.{Automation, Lease, LoadRegistry}
import graft.util.AtomicPut

/** Object-store deployment story, spec'd against the in-memory mock
  * store (round-9 item): AtomicPut must REFUSE schemes whose
  * `create(false)` is check-then-create, the registered ConditionalPut
  * backend must arbitrate atomically with whole-content visibility,
  * and the daemon protocol stack (lease, registry, versioned commits)
  * must run end-to-end over the store with exactly-once results. */
class MockStoreSpec extends SparkSpec {

  private def mockFs(bucket: String): FileSystem = {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.mock3a.impl", classOf[MockS3FileSystem].getName)
    FileSystem.get(new java.net.URI(s"mock3a://$bucket/"), conf)
  }

  test("AtomicPut refuses an object-store scheme with no registered " +
      "backend, and accepts it under the explicit trust flag") {
    AtomicPut.unregister("mock3a")
    val fs = mockFs("gate")
    intercept[UnsupportedOperationException] {
      AtomicPut.putIfAbsent(fs, new Path("mock3a://gate/k"), "v")
    }
    // explicit opt-in: deployment has verified its adapter
    fs.getConf.setBoolean(AtomicPut.TrustCreateExclusiveKey, true)
    try {
      AtomicPut.putIfAbsent(fs, new Path("mock3a://gate/k"), "v")
      intercept[java.io.IOException] {
        AtomicPut.putIfAbsent(fs, new Path("mock3a://gate/k"), "v2")
      }
    } finally fs.getConf.setBoolean(AtomicPut.TrustCreateExclusiveKey, false)
  }

  test("conditional-PUT backend: exactly one of 8 racing writers wins " +
      "each of 200 rounds; losers throw; content is the winner's whole " +
      "body; readers never see a prefix") {
    AtomicPut.register("mock3a", MockObjectStore.conditionalPut)
    val fs = mockFs("race")
    val store = MockObjectStore.bucket("race")
    val writers = 8
    (0 until 200).foreach { round =>
      val p = new Path(s"mock3a://race/obj-$round")
      val barrier = new CyclicBarrier(writers)
      val won = new ConcurrentLinkedQueue[Int]()
      val lost = new ConcurrentLinkedQueue[Int]()
      val threads = (0 until writers).map { i =>
        new Thread(() => {
          barrier.await()
          try { AtomicPut.putIfAbsent(fs, p, s"w$i-" * 64); won.add(i) }
          catch { case _: java.io.IOException => lost.add(i) }
        })
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      assert(won.size == 1, s"round $round: winners=${won.size}")
      assert(lost.size == writers - 1)
      val body = new String(store.get(s"obj-$round").get, "UTF-8")
      assert(body == s"w${won.peek()}-" * 64,
        s"round $round: torn or foreign content")
    }
  }

  test("Lease over the mock store: 4 challengers per round, exactly one " +
      "holds; stale-break is exclusive under concurrent challengers") {
    AtomicPut.register("mock3a", MockObjectStore.conditionalPut)
    val fs = mockFs("lease")
    (0 until 50).foreach { round =>
      val lp = new Path(s"mock3a://lease/l-$round")
      val barrier = new CyclicBarrier(4)
      val won = new ConcurrentLinkedQueue[Int]()
      val ts = (0 until 4).map { i =>
        new Thread(() => {
          barrier.await()
          if (Lease.acquire(fs, lp, s"d$i", ttlMs = 60000)) won.add(i)
        })
      }
      ts.foreach(_.start()); ts.foreach(_.join())
      assert(won.size == 1, s"round $round: ${won.size} holders")
    }
    // concurrent STALE-BREAK: plant an expired lease, race 4 breakers —
    // the round-8 delete-then-create pair let two challengers both
    // hold; the rename-arbitrated break must leave at most one.
    (0 until 50).foreach { round =>
      val lp = new Path(s"mock3a://lease/stale-$round")
      AtomicPut.putIfAbsent(fs, lp,
        s"dead\t${System.currentTimeMillis() - 100000}")
      val barrier = new CyclicBarrier(4)
      val won = new ConcurrentLinkedQueue[Int]()
      val ts = (0 until 4).map { i =>
        new Thread(() => {
          barrier.await()
          if (Lease.acquire(fs, lp, s"c$i", ttlMs = 50)) won.add(i)
        })
      }
      ts.foreach(_.start()); ts.foreach(_.join())
      assert(won.size <= 1, s"round $round: ${won.size} challengers " +
        "broke the same stale lease and both hold")
      // and the lease object, if present, names the winner
      won.forEach { i =>
        assert(Lease.holder(fs, lp).exists(_._1 == s"c$i"))
      }
    }
  }

  test("release is exclusive: an overrunning holder cannot delete a " +
      "usurper's fresh lease out from under it") {
    AtomicPut.register("mock3a", MockObjectStore.conditionalPut)
    val fs = mockFs("rel")
    val lp = new Path("mock3a://rel/lease")
    // holder acquires, overruns its TTL, a challenger usurps
    assert(Lease.acquire(fs, lp, "slow", ttlMs = 10))
    Thread.sleep(30)
    // the challenger judges staleness by ITS ttl: 30ms-old lease, 20ms ttl
    assert(Lease.acquire(fs, lp, "usurper", ttlMs = 20))
    // the overrunning holder's release must NOT remove the new lease
    assert(!Lease.release(fs, lp, "slow"))
    assert(Lease.holder(fs, lp).exists(_._1 == "usurper"),
      "usurper's lease was deleted out from under it")
    assert(Lease.release(fs, lp, "usurper"))
  }

  test("catalog multi-table transactions on the mock object store: " +
      "commitAll flips atomically through the conditional PUT, racing " +
      "transactions serialize or conflict, snapshots time-travel") {
    AtomicPut.register("mock3a", MockObjectStore.conditionalPut)
    mockFs("cat")
    import org.apache.spark.sql.functions.lit
    import graft.lakehouse.{Catalog, VersionedTable}
    val cat = "mock3a://cat/warehouse"
    val t1 = "mock3a://cat/t1"; val t2 = "mock3a://cat/t2"
    def write(root: String, n: Int): Long =
      VersionedTable.commit(spark, root, keepVersions = 8) { dir =>
        spark.range(n).withColumn("v", lit(n))
          .coalesce(1).write.parquet(dir)
      }
    val s0 = Catalog.commitAll(spark, cat, Seq(
      Catalog.TableWrite("a", t1, () => write(t1, 3)),
      Catalog.TableWrite("b", t2, () => write(t2, 5))))
    assert(s0.read(spark, "a").count() == 3)
    assert(s0.read(spark, "b").count() == 5)
    // second transaction advances ONE table; the other carries over
    val s1 = Catalog.commitAll(spark, cat, Seq(
      Catalog.TableWrite("a", t1, () => write(t1, 7))))
    assert(s1.read(spark, "a").count() == 7)
    assert(s1.read(spark, "b").count() == 5)
    // the held snapshot still serves the OLD consistent view
    assert(s0.read(spark, "a").count() == 3)
    // time travel re-serves it from the store
    assert(Catalog.snapshotAsOf(spark, cat, s0.version)
      .read(spark, "a").count() == 3)
    // racing transactions: RACING writers must use the attempt-unique
    // commitOptimistic path on a shared table — on an object store,
    // racing PLAIN commits can interleave part files in the shared
    // `_v-<next>` stage dir because directories are implicit and
    // ErrorIfExists is an exists-probe (the exact hazard
    // commitOptimistic's attempt-unique staging closes; this spec
    // originally raced plain commits and CAUGHT the 10+11-row merge).
    // The conditional PUT then serializes the transactions or the
    // loser gets a conflict — never a torn/lost mapping.
    val errs = new ConcurrentLinkedQueue[Throwable]()
    val barrier = new CyclicBarrier(2)
    val threads = (0 until 2).map { i =>
      new Thread(() => {
        barrier.await()
        try Catalog.commitAll(spark, cat, Seq(
          Catalog.TableWrite("a", t1, () =>
            VersionedTable.commitOptimistic(spark, t1, keepVersions = 8) {
              _ => spark.range(10 + i).withColumn("v", lit(10 + i))
                .coalesce(1)
            })))
        catch { case e: Throwable => errs.add(e) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errs.size <= 1, s"at most one loser: ${errs.size}")
    // the loser may lose at either arbitration layer — the TABLE
    // manifest PUT (inside write()) or the CATALOG PUT — both leave
    // the loser unpublished and the catalog consistent
    errs.forEach(e => assert(
      e.isInstanceOf[Catalog.CatalogConflictException] ||
        e.isInstanceOf[VersionedTable.CommitConflictException],
      e.toString))
    val cur = Catalog.current(spark, cat).get
    val n = cur.read(spark, "a").count()
    assert(n == 10L || n == 11L, s"current 'a' must be a winner's: $n")
  }

  test("VersionedTable.read of a file-list version with a deletion " +
      "vector fetches its _commits object exactly once") {
    AtomicPut.register("mock3a", MockObjectStore.conditionalPut)
    mockFs("onefetch")
    import graft.lakehouse.VersionedTable
    val root = "mock3a://onefetch/t"
    VersionedTable.initDelta(spark, root,
      spark.range(0, 100).toDF("k").coalesce(2), statsCols = Seq("k"))
    VersionedTable.deleteWhere(spark, root, col("k") < 10L)
    val v = VersionedTable.currentVersion(spark, root).get
    assert(VersionedTable.filesOf(spark, root, v).nonEmpty)
    assert(VersionedTable.deleteVectors(spark, root, v).nonEmpty)
    val store = MockObjectStore.bucket("onefetch")
    val before = store.getCount(s"t/_commits/$v")
    val df = VersionedTable.read(spark, root)
    assert(store.getCount(s"t/_commits/$v") - before == 1L,
      "read fetched the manifest more than once")
    assert(df.count() == 90L)
  }

  test("two daemons over the mock store: concurrent leased ticks load " +
      "every drop exactly once into a versioned table on mock3a://") {
    AtomicPut.register("mock3a", MockObjectStore.conditionalPut)
    mockFs("e2e") // force scheme registration in the hadoop conf
    val local = tmpDir("mock-e2e-arrivals")
    new java.io.File(s"$local/arrivals").mkdirs()
    val root = "mock3a://e2e"
    val cfg = Automation.Config(
      srcDir = s"$local/arrivals", tableDir = s"$root/t",
      registryDir = s"$root/reg", generate = false,
      lease = Some(Automation.LeaseConfig(s"$root/lease", ttlMs = 60000)))
    val d1 = new Automation(spark, cfg)
    val d2 = new Automation(spark, cfg)
    def surveyDrop(name: String, ids: Seq[Int]): Unit =
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$local/arrivals/$name.csv"),
        ("answer_id,member_id,survey_id,answer,reg_date" +:
          ids.map(i => s"$i,${i % 7},${i % 3},${i % 5},2024-01-0${i % 9 + 1}"))
          .mkString("\n").getBytes("UTF-8"))
    surveyDrop("a", 1 to 40)
    surveyDrop("b", 41 to 70)
    val reports =
      new ConcurrentLinkedQueue[Automation.TickReport]()
    val barrier = new CyclicBarrier(2)
    val threads = Seq(d1, d2).map { d =>
      new Thread(() => {
        barrier.await()
        (0 until 3).foreach(_ => reports.add(d.tick()))
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    import scala.jdk.CollectionConverters._
    val rs = reports.asScala.toSeq
    assert(spark.read.parquet(s"$root/t").count() == 70L,
      "rows lost or duplicated across daemons on the object store")
    val okPerPath = LoadRegistry.read(spark, s"$root/reg")
      .filter(col("status") === LoadRegistry.StatusOk)
      .groupBy("path").count().collect().map(_.getLong(1))
    assert(okPerPath.nonEmpty && okPerPath.forall(_ == 1L),
      s"registry not exactly-once: ${okPerPath.toSeq}")
    assert(rs.flatMap(_.load.loaded).size == 2,
      s"loads: ${rs.map(_.load.loaded)}")
  }
}
