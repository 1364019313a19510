package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import graft.operators._

/** Randomized properties over the operators whose correctness rests on
  * subtle bounds (the PPJoin filter chain, two-pass prefix sums, band
  * arithmetic) — ScalaCheck drives the cases, each evaluated as a real
  * Spark job on local data. Case counts are small: every case is a
  * distributed run, and the point is adversarial structure, not volume.
  */
class PropertySpec extends SparkSpec {

  private def check(p: Prop, cases: Int): Unit = {
    // explicit seed so a flake is REPLAYABLE: rerun with
    // -Dgraft.sc.seed=<printed value> to reproduce the exact cases
    val seed = sys.props.get("graft.sc.seed").map(_.toLong)
      .getOrElse(new java.util.Random().nextLong())
    val res = SCTest.check(
      SCTest.Parameters.default
        .withMinSuccessfulTests(cases)
        .withMaxDiscardRatio(10f)
        .withInitialSeed(org.scalacheck.rng.Seed(seed)),
      p)
    assert(res.passed, s"[graft.sc.seed=$seed] ${res.status.toString}")
  }

  test("property: countWhereAll equals the exact box count on any layout") {
    import spark.implicits._
    import graft.lakehouse.VersionedTable
    // adversarial structure: random values WITH nulls in both bounded
    // columns (the ≤1-null-column metadata rule must degrade to a
    // scan, never to a wrong count), random file partitioning (so
    // containment/straddle/miss classes all occur), random box bounds
    // (possibly empty or inverted)
    val genRow = for {
      a <- Gen.frequency((4, Gen.chooseNum(-50L, 50L).map(Option(_))),
        (1, Gen.const(Option.empty[Long])))
      b <- Gen.frequency((4, Gen.chooseNum(-50L, 50L).map(Option(_))),
        (1, Gen.const(Option.empty[Long])))
    } yield (a, b)
    val genCase = for {
      n <- Gen.chooseNum(1, 60)
      rows <- Gen.listOfN(n, genRow)
      parts <- Gen.chooseNum(1, 5)
      lo1 <- Gen.chooseNum(-60L, 60L); w1 <- Gen.chooseNum(-5L, 60L)
      lo2 <- Gen.chooseNum(-60L, 60L); w2 <- Gen.chooseNum(-5L, 60L)
      sorted <- Gen.oneOf(true, false)
    } yield (rows, parts, lo1, lo1 + w1, lo2, lo2 + w2, sorted)
    val prop = Prop.forAll(genCase) {
      case (rows, parts, lo1, hi1, lo2, hi2, sorted) =>
        val df = rows.zipWithIndex.map { case ((a, b), i) =>
          (i.toLong, a.map(Long.box).orNull, b.map(Long.box).orNull)
        }.toDF("id", "a", "b")
          .select(col("id"), col("a").cast("long"), col("b").cast("long"))
        val root = tmpDir("propcnt") + "/t"
        VersionedTable.commit(spark, root, statsCols = Seq("a", "b")) {
          stage =>
            val laid =
              if (sorted)
                df.repartitionByRange(parts, col("a"))
                  .sortWithinPartitions("a")
              else df.repartition(parts)
            laid.write.parquet(stage)
        }
        val (got, scanned) = VersionedTable.countWhereAll(spark, root,
          Seq(("a", lo1, hi1), ("b", lo2, hi2)))
        val want = df.filter(col("a").between(lo1, hi1) &&
          col("b").between(lo2, hi2)).count()
        val nFiles = VersionedTable.manifestStats(spark, root, 1L).size
        got == want && scanned <= nFiles
    }
    check(prop, cases = 25)
  }

  test("property: manifest skipping never changes results — pruned " +
      "graft scan ≡ full scan + filter on any predicate and layout") {
    import spark.implicits._
    import org.apache.spark.sql.Column
    import graft.lakehouse.VersionedTable
    // adversarial structure: random nullable values, random file
    // partitioning (containment/straddle/miss/all-null files all
    // occur), and random PUSHABLE predicates — every leaf below maps
    // to a source filter the ManifestSkipping oracle actually
    // evaluates against per-file stats and blooms, composed under
    // AND/OR/NOT. Soundness bar: the pruned scan may read fewer
    // files, never different rows.
    sealed trait P
    case class CmpA(op: Int, v: Long) extends P // = < <= > >=
    case class InA(vs: List[Long]) extends P
    case object NullA extends P
    case object NotNullA extends P
    case class EqS(v: String) extends P
    case class StartsS(pfx: String) extends P
    case class EqId(v: Long) extends P // bloom point-lookup path
    case class And(l: P, r: P) extends P
    case class Or(l: P, r: P) extends P
    case class Neg(x: P) extends P
    def render(p: P): Column = p match {
      case CmpA(0, v) => col("a") === v
      case CmpA(1, v) => col("a") < v
      case CmpA(2, v) => col("a") <= v
      case CmpA(3, v) => col("a") > v
      case CmpA(_, v) => col("a") >= v
      case InA(vs)    => col("a").isin(vs: _*)
      case NullA      => col("a").isNull
      case NotNullA   => col("a").isNotNull
      case EqS(v)     => col("s") === v
      case StartsS(x) => col("s").startsWith(x)
      case EqId(v)    => col("id") === v
      case And(l, r)  => render(l) && render(r)
      case Or(l, r)   => render(l) || render(r)
      case Neg(x)     => !render(x)
    }
    val genLeaf: Gen[P] = Gen.frequency(
      (4, for { op <- Gen.chooseNum(0, 4); v <- Gen.chooseNum(-45L, 45L) }
        yield CmpA(op, v)),
      (2, Gen.chooseNum(1, 4).flatMap(n =>
        Gen.listOfN(n, Gen.chooseNum(-45L, 45L))).map(InA(_))),
      (1, Gen.const(NullA)),
      (1, Gen.const(NotNullA)),
      (2, Gen.oneOf("ant", "bee", "cat", "dog", "zzz").map(EqS(_))),
      (1, Gen.oneOf("a", "b", "c", "d", "z").map(StartsS(_))),
      (2, Gen.chooseNum(0L, 70L).map(EqId(_))))
    def genP(depth: Int): Gen[P] =
      if (depth == 0) genLeaf
      else Gen.frequency(
        (3, genLeaf),
        (2, Gen.zip(genP(depth - 1), genP(depth - 1))
          .map { case (l, r) => And(l, r) }),
        (2, Gen.zip(genP(depth - 1), genP(depth - 1))
          .map { case (l, r) => Or(l, r) }),
        (1, genP(depth - 1).map(Neg(_))))
    val genRow = for {
      a <- Gen.frequency((4, Gen.chooseNum(-40L, 40L).map(Option(_))),
        (1, Gen.const(Option.empty[Long])))
      s <- Gen.frequency((4, Gen.oneOf("ant", "bee", "cat", "dog", "eel")
        .map(Option(_))), (1, Gen.const(Option.empty[String])))
    } yield (a, s)
    val genCase = for {
      n <- Gen.chooseNum(1, 60)
      rows <- Gen.listOfN(n, genRow)
      parts <- Gen.chooseNum(1, 5)
      sorted <- Gen.oneOf(true, false)
      pred <- genP(2)
    } yield (rows, parts, sorted, pred)
    val prop = Prop.forAll(genCase) { case (rows, parts, sorted, pred) =>
      val df = rows.zipWithIndex.map { case ((a, s), i) =>
        (i.toLong, a.map(Long.box).orNull, s.orNull)
      }.toDF("id", "a", "s")
        .select(col("id"), col("a").cast("long"), col("s"))
      val root = tmpDir("propskip") + "/t"
      VersionedTable.commit(spark, root,
        statsCols = Seq("a", "s"), bloomCols = Seq("id")) { stage =>
        val laid =
          if (sorted) df.repartitionByRange(parts, col("a"))
            .sortWithinPartitions("a")
          else df.repartition(parts)
        laid.write.parquet(stage)
      }
      val c = render(pred)
      val got = spark.read.format("graft").load(root).filter(c)
        .collect().map(_.toString).sorted.toSeq
      val want = df.filter(c).collect().map(_.toString).sorted.toSeq
      got == want
    }
    check(prop, cases = 30)
  }

  test("property: random NESTED alter/append sequences equal the " +
      "in-memory schema model") {
    import graft.lakehouse.VersionedTable
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    // abstract ops interpreted against the live state (indices mod
    // current arity; fresh names from a deterministic counter, so
    // every generated sequence is valid): add/rename/drop a SUBFIELD
    // of struct column m, or append rows under the current logical
    // schema — including whole-struct-null and partial rows. The
    // model is a plain map rowId → Option[subfield values]; reads
    // after ANY prefix must reproduce it exactly (mixed-generation
    // files, member-wise rename rebuild, null preservation).
    sealed trait Op
    case class AddSub(seed: Int) extends Op
    case class RenameSub(seed: Int) extends Op
    case class DropSub(seed: Int) extends Op
    case class Append(rows: List[(Boolean, List[Option[Long]])]) extends Op
    val genOp: Gen[Op] = Gen.frequency(
      (2, Gen.chooseNum(0, 999).map(AddSub(_))),
      (2, Gen.chooseNum(0, 999).map(RenameSub(_))),
      (1, Gen.chooseNum(0, 999).map(DropSub(_))),
      (4, Gen.chooseNum(1, 3).flatMap(n => Gen.listOfN(n, Gen.zip(
        Gen.frequency((5, Gen.const(false)), (1, Gen.const(true))),
        Gen.listOfN(4, Gen.frequency(
          (3, Gen.chooseNum(-99L, 99L).map(Option(_))),
          (1, Gen.const(Option.empty[Long]))))).map {
        case (isNull, vs) => (isNull, vs) })).map(Append(_))))
    val genCase = Gen.chooseNum(4, 8).flatMap(n => Gen.listOfN(n, genOp))
    val prop = Prop.forAll(genCase) { ops =>
      val root = tmpDir("propnest") + "/t"
      var fields = Vector("f0")
      var fresh = 1
      var nextRow = 2L
      // model: rowId → None (null struct) | Some(name → Option[value])
      var model = Map[Long, Option[Map[String, Option[Long]]]](
        0L -> Some(Map("f0" -> Some(10L))), 1L -> None)
      def schema = StructType(Seq(StructField("k", LongType),
        StructField("m", StructType(fields.map(f =>
          StructField(f, LongType))))))
      def mkDf(rows: Seq[(Long, Option[Map[String, Option[Long]]])]) =
        spark.createDataFrame(
          spark.sparkContext.parallelize(rows.map { case (k, m) =>
            Row(k, m.map(vals => Row(fields.map(f =>
              vals.getOrElse(f, None).map(Long.box).orNull): _*)).orNull)
          }, 1), schema)
      VersionedTable.init(spark, root,
        mkDf(model.toSeq.sortBy(_._1)), keepVersions = 40)
      ops.foreach {
        case AddSub(_) =>
          val n = s"f$fresh"; fresh += 1
          VersionedTable.addColumn(spark, root, s"m.$n", LongType,
            keepVersions = 40)
          fields = fields :+ n // existing rows: absent key = null
        case RenameSub(seed) =>
          val from = fields(seed % fields.size)
          val to = s"f$fresh"; fresh += 1
          VersionedTable.renameColumn(spark, root, s"m.$from", to,
            keepVersions = 40)
          fields = fields.map(f => if (f == from) to else f)
          model = model.view.mapValues(_.map(m =>
            m.map { case (k, v) => (if (k == from) to else k) -> v }))
            .toMap
        case DropSub(seed) if fields.size > 1 =>
          val victim = fields(seed % fields.size)
          VersionedTable.dropColumn(spark, root, s"m.$victim",
            keepVersions = 40)
          fields = fields.filterNot(_ == victim)
          model = model.view.mapValues(_.map(_ - victim)).toMap
        case DropSub(_) => () // single subfield: dropping refuses
        case Append(rows) =>
          val staged = rows.map { case (isNull, vs) =>
            val k = nextRow; nextRow += 1
            val m = if (isNull) None
              else Some(fields.zipWithIndex.map { case (f, i) =>
                f -> vs.lift(i).flatten }.toMap)
            (k, m)
          }
          VersionedTable.appendDelta(spark, root, keepVersions = 40) {
            stage => mkDf(staged).write.parquet(stage) }
          model = model ++ staged.map { case (k, m) => k -> m }
      }
      val got = VersionedTable.read(spark, root).collect().map { r =>
        val k = r.getLong(r.fieldIndex("k"))
        val mi = r.fieldIndex("m")
        val m =
          if (r.isNullAt(mi)) None
          else {
            val sr = r.getStruct(mi)
            Some(fields.map { f =>
              val i = sr.fieldIndex(f)
              f -> (if (sr.isNullAt(i)) None else Some(sr.getLong(i)))
            }.toMap)
          }
        k -> m
      }.toMap
      // normalize the model the same way: every live field present
      val want = model.view.mapValues(_.map(m =>
        fields.map(f => f -> m.getOrElse(f, None)).toMap)).toMap
      got == want
    }
    check(prop, cases = 8)
  }

  test("property: RetrievalView search is invariant to batch split and " +
      "fold order of the same corpus") {
    import spark.implicits._
    import graft.lakehouse.RetrievalView
    // random small corpora over a tiny vocabulary (dense collisions),
    // random partition into 1-4 batches — the maintained statistics
    // must fold to the same index regardless of how the corpus was
    // split, pinned by search equality against a one-shot fold
    val vocab = Vector("ant", "bee", "cat", "dog", "elk", "fox", "gnu")
    val genDoc = for {
      n <- Gen.chooseNum(0, 12)
      ws <- Gen.listOfN(n, Gen.oneOf(vocab))
    } yield ws.mkString(" ")
    val genCase = for {
      n <- Gen.chooseNum(2, 14)
      docs <- Gen.listOfN(n, genDoc)
      cuts <- Gen.listOfN(n, Gen.chooseNum(0, 3))
    } yield (docs, cuts)
    val qterms = Seq(("q1", "ant"), ("q1", "bee"), ("q2", "cat"),
      ("q2", "gnu")).toDF("query_id", "term")
    val prop = Prop.forAll(genCase) { case (docs0, cuts0) =>
      // one doc always tokenizes non-empty, so search never refuses
      val docs = "ant bee cat" :: docs0
      val cuts = 0 :: cuts0
      val rows = docs.zipWithIndex.map { case (t, i) =>
        (i.toLong, t, "en", "s")
      }
      def df(sel: Seq[(Long, String, String, String)]) =
        sel.toDF("doc_id", "text", "lang", "source")
      val split = tmpDir("propretr") + "/a"
      val oneShot = tmpDir("propretr") + "/b"
      val groups = rows.zip(cuts).groupBy(_._2).toSeq.sortBy(_._1)
        .map(_._2.map(_._1))
      groups.zipWithIndex.foreach { case (g, i) =>
        RetrievalView.update(spark, split, df(g), i + 1L)
      }
      RetrievalView.update(spark, oneShot, df(rows), 1L)
      val a = RetrievalView.search(spark, split, qterms, k = 20)
        .collect().map(_.toString).sorted.toSeq
      val b = RetrievalView.search(spark, oneShot, qterms, k = 20)
        .collect().map(_.toString).sorted.toSeq
      a == b
    }
    check(prop, cases = 12)
  }

  test("property: MoR delete/upsert op sequences equal the multiset model") {
    import spark.implicits._
    import graft.lakehouse.{Maintenance, VersionedTable}
    // adversarial structure: positional deletes (scan-time positions),
    // equality deletes (seq-scoped keys), upserts (delete + append in
    // one commit), plain appends (can re-insert a deleted key ABOVE an
    // ED's scope), and resolve/purge (tier conversions that must be
    // invisible) interleave in random order — the visible rows must
    // always equal a trivial in-memory multiset model, and metadata
    // counts must stay exact through every tier combination
    sealed trait Op
    case class Append(rows: List[(Long, Long)]) extends Op
    case class DeleteRange(lo: Long, hi: Long) extends Op
    case class DeleteKeys(ks: List[Long]) extends Op
    case class Upsert(rows: Map[Long, Long]) extends Op
    case object Resolve extends Op
    case object Purge extends Op
    val genRows = Gen.chooseNum(1, 6).flatMap(n => Gen.listOfN(n,
      Gen.zip(Gen.chooseNum(0L, 30L), Gen.chooseNum(0L, 99L))))
    val genOp: Gen[Op] = Gen.frequency(
      (3, genRows.map(Append(_))),
      (3, Gen.zip(Gen.chooseNum(0L, 30L), Gen.chooseNum(0L, 15L))
        .map { case (lo, w) => DeleteRange(lo, lo + w) }),
      (3, Gen.chooseNum(1, 5).flatMap(n =>
        Gen.listOfN(n, Gen.chooseNum(0L, 30L))).map(DeleteKeys(_))),
      (3, genRows.map(rs => Upsert(rs.toMap))),
      (1, Gen.const(Resolve)),
      (1, Gen.const(Purge)))
    val genCase = for {
      init <- Gen.listOfN(12,
        Gen.zip(Gen.chooseNum(0L, 30L), Gen.chooseNum(0L, 99L)))
      parts <- Gen.chooseNum(1, 3)
      ops <- Gen.chooseNum(2, 5).flatMap(n => Gen.listOfN(n, genOp))
    } yield (init, parts, ops)
    val prop = Prop.forAll(genCase) { case (init, parts, ops) =>
      val root = tmpDir("propmor") + "/t"
      VersionedTable.commit(spark, root, keepVersions = 99,
        statsCols = Seq("k"), bloomCols = Seq("k")) { stage =>
        init.toDF("k", "v").repartition(parts).write.parquet(stage)
      }
      var model: List[(Long, Long)] = init
      ops.foreach {
        case Append(rows) =>
          VersionedTable.appendDelta(spark, root, keepVersions = 99) { st =>
            rows.toDF("k", "v").coalesce(1).write.parquet(st)
          }
          model = model ++ rows
        case DeleteRange(lo, hi) =>
          VersionedTable.deleteWhere(spark, root,
            col("k").between(lo, hi), keepVersions = 99)
          model = model.filterNot { case (k, _) => k >= lo && k <= hi }
        case DeleteKeys(ks) =>
          VersionedTable.deleteByKey(spark, root, ks.toDF("k"),
            Seq("k"), keepVersions = 99)
          model = model.filterNot { case (k, _) => ks.contains(k) }
        case Upsert(rows) =>
          VersionedTable.upsertByKey(spark, root, rows.toList.toDF("k", "v"),
            Seq("k"), keepVersions = 99)
          model = model.filterNot { case (k, _) => rows.contains(k) } ++ rows
        case Resolve =>
          VersionedTable.resolveEqualityDeletes(spark, root, keepVersions = 99)
        case Purge =>
          Maintenance.purgeDeletes(spark, root, keepVersions = 99,
            statsCols = Seq("k"))
      }
      val got = VersionedTable.read(spark, root).select("k", "v")
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toList
      val (cnt, _) = VersionedTable.countWhere(spark, root, "k", 5L, 20L)
      got == model.sorted &&
        cnt == model.count { case (k, _) => k >= 5L && k <= 20L }
    }
    check(prop, cases = 8)
  }

  test("property: streak interval-merge is arrival-order independent") {
    // the streaming streaks state folds days one at a time in ARRIVAL
    // order (duplicates, gaps, bridges); the result must always equal
    // the islands of the sorted distinct day set — else a reordered
    // micro-batch would change a user's streak stats
    val genDays = Gen.chooseNum(1, 30).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(0L, 20L)))
    val prop = Prop.forAll(genDays) { days =>
      val folded = days.foldLeft(List.empty[(Long, Long)])(
        graft.streaming.EventStreams.insertDay).sorted
      val expected = days.distinct.sorted
        .foldLeft(List.empty[(Long, Long)]) {
          case ((s, e) :: tail, d) if d == e + 1 => (s, d) :: tail
          case (acc, d) => (d, d) :: acc
        }.reverse
      folded == expected
    }
    check(prop, cases = 200)
  }

  test("property: native as-of join equals the composed form on duplicate timestamps") {
    import spark.implicits._
    // the native merge's subtle edge is TIES: duplicate right
    // timestamps under one key (tiebreak decides), duplicate left
    // timestamps, keys with no match at all — tiny domains make all
    // three dense in every case
    val genLeft = Gen.chooseNum(1, 10).flatMap(n => Gen.listOfN(n,
      Gen.zip(Gen.chooseNum(0L, 3L), Gen.chooseNum(0L, 6L))))
    val genRight = Gen.chooseNum(1, 10).flatMap(n => Gen.listOfN(n,
      Gen.zip(Gen.chooseNum(0L, 3L), Gen.chooseNum(0L, 6L))))
    val prop = Prop.forAll(Gen.zip(genLeft, genRight)) {
      case (lRows, rRows) =>
        val left = lRows.zipWithIndex
          .map { case ((k, t), i) => (i.toLong, k, t) }
          .toDF("lid", "k", "t").repartition(3)
        val right = rRows.zipWithIndex
          .map { case ((k, rt), j) => (j.toLong, k, rt) }
          .toDF("rid", "rk", "rt").repartition(2)
        val native = graft.plans.AsOf.join(left, right,
            col("k"), col("rk"), col("t"), col("rt"),
            tiebreak = Some(col("rid")))
          .select("lid", "rid", "rt")
        val w = org.apache.spark.sql.expressions.Window.partitionBy("lid")
          .orderBy(col("rt").desc, col("rid").desc)
        val composed = left
          .join(right, col("rk") === col("k") && col("rt") <= col("t"), "left")
          .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
          .select("lid", "rid", "rt")
        def key(r: org.apache.spark.sql.Row): (Long, Long, Long) =
          (r.getLong(0),
            if (r.isNullAt(1)) Long.MinValue else r.getLong(1),
            if (r.isNullAt(2)) Long.MinValue else r.getLong(2))
        val n = native.collect().map(key).sorted
        val c = composed.collect().map(key).sorted
        n.sameElements(c)
    }
    check(prop, cases = 20)
  }

  test("property: OPQ rotation is orthogonal on degenerate vector sets") {
    import spark.implicits._
    // adversarial structure for the Jacobi/Procrustes path: tiny
    // samples, duplicated vectors, zero vectors, constant components
    // — rank-deficient covariances force the Gram-Schmidt completion
    val genVec = Gen.frequency(
      (4, Gen.listOfN(8, Gen.chooseNum(-5, 5).map(_.toDouble / 2))),
      (1, Gen.const(List.fill(8)(0.0))),
      (1, Gen.const(List.fill(8)(1.0))))
    val genSet = for {
      n <- Gen.chooseNum(2, 12)
      vs <- Gen.listOfN(n, genVec)
      dup <- Gen.oneOf(true, false)
    } yield if (dup) vs ++ vs.take(2) else vs
    val prop = Prop.forAll(genSet) { vs =>
      val emb = vs.zipWithIndex
        .map { case (v, i) => (i.toLong, v.map(_.toFloat).toArray) }
        .toDF("vec_id", "embedding")
      val r = VectorOPQ.trainRotation(emb, m = 4, ksub = 2, sweeps = 2,
        lloydIters = 2, trainSample = 100)
      val d = r.length
      // exactly orthogonal even when singular values vanish
      (0 until d).forall { i =>
        (0 until d).forall { j =>
          val dot = (0 until d).map(k => r(i)(k) * r(j)(k)).sum
          math.abs(dot - (if (i == j) 1.0 else 0.0)) < 1e-8
        }
      }
    }
    check(prop, cases = 20)
  }

  test("property: 4-bit pack/unpack round-trips any code array") {
    import spark.implicits._
    val genCodes = for {
      half <- Gen.chooseNum(1, 8)
      cs <- Gen.listOfN(half * 2, Gen.chooseNum(0, 15))
    } yield cs
    val prop = Prop.forAll(Gen.chooseNum(1, 6).flatMap(k =>
      Gen.listOfN(k, genCodes))) { rows =>
      // group by m: pack/unpack must round-trip per arity
      rows.groupBy(_.length).forall { case (m, grp) =>
        val df = grp.zipWithIndex.map { case (cs, i) => (i.toLong, cs) }
          .toDF("vec_id", "codes")
        val back = df
          .select(col("vec_id"),
            VectorPQ.unpackCodes(VectorPQ.packCodes(col("codes"), m), m)
              .as("codes"))
          .collect().map(r => r.getLong(0) -> r.getSeq[Int](1).toList)
          .toMap
        grp.zipWithIndex.forall { case (cs, i) => back(i.toLong) == cs }
      }
    }
    check(prop, cases = 15)
  }

  test("property: q31 PPJoin pairs equal brute-force trigram Jaccard") {
    import spark.implicits._
    // small vocab → dense shingle sharing → the prefix/count/positional
    // filters all engage; doc sizes straddle the size-ratio boundary
    val vocab = Vector("a", "b", "c", "d", "e", "f")
    val genDoc = for {
      n <- Gen.chooseNum(1, 12)
      ws <- Gen.listOfN(n, Gen.oneOf(vocab))
    } yield ws.mkString(" ")
    val genCorpus = Gen.chooseNum(2, 8).flatMap(k => Gen.listOfN(k, genDoc))
    val prop = Prop.forAll(genCorpus) { texts =>
      val docs = texts.zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val dir = tmpDir("prop31")
      docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val got = TextOps.queries("q31_ngram_jaccard")(spark, dir)
        .collect().map(r => ((r.getLong(0), r.getLong(1)),
          math.round(r.getDouble(2) * 1e9))).toMap
      // brute force from the same word sequences, string trigrams
      def grams(t: String): Set[String] = {
        val w = t.trim.split("\\s+").toSeq
        if (w.size < 3) Set.empty
        else w.sliding(3).map(_.mkString(" ")).toSet
      }
      val gs = texts.map(grams).zipWithIndex
      val want = (for {
        (ga, i) <- gs; (gb, j) <- gs
        if i < j && ga.nonEmpty && gb.nonEmpty
        inter = (ga & gb).size
        jac = inter.toDouble / (ga.size + gb.size - inter)
        if jac >= 0.5
      } yield ((i.toLong, j.toLong), math.round(jac * 1e9))).toMap
      got == want
    }
    check(prop, cases = 15)
  }

  test("property: grouped prefix sums equal the window formulation") {
    import spark.implicits._
    val genRows = for {
      n <- Gen.chooseNum(1, 40)
      rows <- Gen.listOfN(n, for {
        g <- Gen.oneOf("g1", "g2", "g3")
        v <- Gen.chooseNum(0L, 100L)
      } yield (g, v))
    } yield rows.zipWithIndex.map { case ((g, v), i) => (g, i.toLong, v) }
    val prop = Prop.forAll(genRows) { rows =>
      val df = rows.toDF("g", "ord", "v")
      val got = RankOps.withGroupedPrefixSum(df, Seq("g"), Seq("ord"),
        valueCol = "v", sumCol = "s", partitions = 3)
        .select("g", "ord", "s").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("g").orderBy("ord")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      val want = df.withColumn("s", coalesce(sum("v").over(w), lit(0L)))
        .select("g", "ord", "s").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      got == want
    }
    check(prop, cases = 12)
  }

  test("property: dot_product_dec12 equals sum(cast(a*b as " +
      "decimal(28,12))) on NaN, ±Inf, overflowing, null and empty inputs") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types.{ArrayType, DecimalType, DoubleType}
    import graft.functions.{DotProductDec12, GraftFunctions}
    // every way the cast yields null: NaN, ±Inf, |a·b| ≥ 1e16 (1e8·1e8
    // lands exactly on the bound), null elements; plus ordinary values
    // with long decimal expansions and unequal lengths (min(len) rule)
    val genElem: Gen[Option[Double]] = Gen.frequency(
      (6, Gen.chooseNum(-1000000, 1000000).map(i => Some(i / 997.0))),
      (1, Gen.const(None)),
      (1, Gen.oneOf(Double.NaN, Double.PositiveInfinity,
        Double.NegativeInfinity).map(Some(_))),
      (2, Gen.oneOf(1e8, -1e8, 99999999.99, 1.5e8, 3e15, 1e16).map(Some(_))))
    val genVec: Gen[List[Option[Double]]] =
      Gen.chooseNum(0, 6).flatMap(Gen.listOfN(_, genElem))
    val genCase = Gen.chooseNum(1, 25)
      .flatMap(Gen.listOfN(_, Gen.zip(genVec, genVec)))
    val fixed = List[(List[Option[Double]], List[Option[Double]])](
      (Nil, Nil), (Nil, List(Some(1.0))),
      (List(Some(Double.NaN)), List(Some(1.0))),
      (List(Some(Double.PositiveInfinity), Some(2.0)),
        List(Some(1.0), Some(0.5))),
      (List(Some(1e8), Some(0.1)), List(Some(1e8), Some(0.3))),
      (List(None, Some(1e16)), List(Some(1.0), Some(1.0))))
    def arrLit(v: List[Option[Double]]) = Literal(new GenericArrayData(
      v.map(_.map(Double.box).orNull).toArray[Any]), ArrayType(DoubleType))
    val prop = Prop.forAll(genCase) { generated =>
      val pairs = fixed ++ generated
      // repartitioned so the kernel runs in generated code, not in the
      // optimizer's interpreted local-relation folding
      val df = pairs.zipWithIndex
        .map { case ((a, b), i) => (i.toLong, a, b) }
        .toDF("id", "a", "b").repartition(2)
      val got = df.select(col("id"),
          GraftFunctions.dotProductDec12(col("a"), col("b")))
        .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
      val want = df.select(col("id"), col("b"),
          posexplode(col("a")).as(Seq("i", "x")))
        .groupBy("id")
        .agg(sum((col("x") * get(col("b"), col("i")))
          .try_cast(DecimalType(28, 12))).cast("double"))
        .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
      val interpreted = pairs.indices.map { i =>
        i.toLong -> Option(DotProductDec12(arrLit(pairs(i)._1), arrLit(pairs(i)._2))
          .eval())
      }.toMap
      val bad = pairs.indices.map(_.toLong).filter { i =>
        val w = want.getOrElse(i, None)
        got(i) != w || interpreted(i) != w
      }
      Prop.propBoolean(bad.isEmpty) :| bad.map(i =>
        s"${pairs(i.toInt)}: codegen ${got(i)} interpreted " +
          s"${interpreted(i)} sql ${want.getOrElse(i, None)}").mkString("; ")
    }
    check(prop, cases = 30)
  }

  test("property: banded range join equals the naive range join (incl. negatives)") {
    import spark.implicits._
    val genCase = for {
      nl <- Gen.chooseNum(1, 15)
      nr <- Gen.chooseNum(1, 15)
      ls <- Gen.listOfN(nl, Gen.chooseNum(-500L, 500L))
      rs <- Gen.listOfN(nr, Gen.chooseNum(-500L, 500L))
      lower <- Gen.chooseNum(-50L, 50L)
      width <- Gen.chooseNum(1L, 120L)
    } yield (ls, rs, lower, lower + width)
    val prop = Prop.forAll(genCase) { case (ls, rs, lower, upper) =>
      val left = ls.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        .toDF("lid", "lv")
      val right = rs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        .toDF("rid", "rv")
      val got = JoinOps.bandedRangeJoin(left, right, "lv", "rv", lower, upper)
        .select("lid", "rid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val want = (for {
        (lv, li) <- ls.zipWithIndex; (rv, ri) <- rs.zipWithIndex
        if rv >= lv + lower && rv <= lv + upper
      } yield (li.toLong, ri.toLong)).toSet
      got == want
    }
    check(prop, cases = 20)
  }

  test("property: native as-of join equals the reference semantics on duplicate timestamps") {
    import spark.implicits._
    // few keys + a tiny timestamp domain → heavy duplicate-(key, time)
    // collisions, the adversarial case for the streaming-merge exec's
    // one-row buffer and the tiebreak ordering
    val genCase = for {
      nl <- Gen.chooseNum(1, 20)
      nr <- Gen.chooseNum(0, 20)
      ls <- Gen.listOfN(nl, Gen.zip(Gen.chooseNum(1L, 3L), Gen.chooseNum(0L, 8L)))
      rs <- Gen.listOfN(nr, Gen.zip(Gen.chooseNum(1L, 3L), Gen.chooseNum(0L, 8L)))
    } yield (ls, rs)
    val prop = Prop.forAll(genCase) { case (ls, rs) =>
      val left = ls.zipWithIndex
        .map { case ((k, t), i) => (i.toLong, k, t) }.toDF("lid", "lk", "lt")
      val right = rs.zipWithIndex
        .map { case ((k, t), i) => (i.toLong, k, t) }.toDF("rid", "rk", "rt")
      val got = graft.plans.AsOf.join(left, right,
        col("lk"), col("rk"), col("lt"), col("rt"),
        tiebreak = Some(col("rid")))
        .select("lid", "rid").collect()
        .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
        .toSet
      // reference: per left row, the right row of the same key with
      // the greatest rt <= lt, ties by greatest rid; none → null
      val want = ls.zipWithIndex.map { case ((lk, lt), li) =>
        val m = rs.zipWithIndex
          .filter { case ((rk, rt), _) => rk == lk && rt <= lt }
          .sortBy { case ((_, rt), ri) => (rt, ri) }
          .lastOption.map(_._2.toLong).getOrElse(-1L)
        (li.toLong, m)
      }.toSet
      got == want
    }
    check(prop, cases = 15)
  }

  test("property: RankOps.groupedPercentiles implements the documented " +
      "v_lo + (v_hi - v_lo)*frac contract bit-for-bit (the DuckDB " +
      "quantile_cont form) and agrees with percentile() to the ULP") {
    import spark.implicits._
    // NOTE (found BY this property): Spark's percentile() aggregate
    // interpolates as lo*(1-f) + hi*f, which can differ from the
    // lo + (hi-lo)*f form by one ULP on adversarial values. The
    // library's parity target is the ORACLE (DuckDB quantile_cont,
    // the lo + (hi-lo)*f form) — q16/q85/q104/q236/q238 pin that
    // hash-exactly — so the bit-for-bit assertion here is against a
    // hand-rolled reference of the documented contract, and the
    // percentile() comparison allows 1-ULP-scale drift.
    val genCase = for {
      n <- Gen.chooseNum(1, 80)
      rows <- Gen.listOfN(n, Gen.zip(Gen.chooseNum(1, 4),
        Gen.chooseNum(-10000, 10000)))
      ps <- Gen.someOf(Seq(0.0, 0.1, 0.25, 0.5, 0.75, 0.9, 1.0))
        .suchThat(_.nonEmpty)
    } yield (rows, ps.toSeq.sorted)
    val prop = Prop.forAll(genCase) { case (rows, ps) =>
      val df = rows.zipWithIndex
        .map { case ((g, v), i) => (s"g$g", v / 100.0, i.toLong) }
        .toDF("grp", "v", "id")
      val got = graft.operators.RankOps
        .groupedPercentiles(df, "grp", "v", Seq("id"), ps)
        .collect().map(r => (r.getString(0), r.getDouble(1)) ->
          r.getDouble(2)).toMap
      val ref: Map[(String, Double), Double] = rows.groupBy(_._1)
        .flatMap { case (g, grp) =>
          val sorted = grp.map(_._2 / 100.0).sorted
          ps.map { p =>
            val h = (sorted.size - 1).toDouble * p
            val lo = sorted(h.toInt)
            val hi = sorted(math.ceil(h).toInt)
            val frac = h - math.floor(h)
            (s"g$g", p) -> (lo + (hi - lo) * frac)
          }
        }
      val aggs = ps.map(p => expr(s"percentile(v, $p)").as(s"p$p"))
      val spk = df.groupBy("grp").agg(aggs.head, aggs.tail: _*)
        .collect().flatMap { r =>
          ps.zipWithIndex.map { case (p, i) =>
            (r.getString(0), p) -> r.getDouble(i + 1) }
        }.toMap
      // drift bound between the two algebraically-equal interpolation
      // forms must scale with the INPUT magnitude, not the result's:
      // lo + (hi-lo)*f vs lo*(1-f) + hi*f each accumulate ≲3 roundings
      // of input-sized intermediates, and cancellation can make the
      // result arbitrarily smaller than the inputs (observed: 5 ULP of
      // a 0.38 result from 3.7-sized inputs — a correct outcome that a
      // result-relative 4-ULP bound flagged, r10 suite flake)
      val inMax = rows.groupBy(_._1).map { case (g, grp) =>
        s"g$g" -> grp.map(r => math.abs(r._2 / 100.0)).max
      }
      got == ref && got.forall { case (k @ (g, _), v) =>
        val s = spk(k)
        v == s || math.abs(v - s) <= 8 * math.ulp(inMax(g) max 1e-300)
      }
    }
    check(prop, cases = 20)
  }

  test("property: FORWARD as-of with TOLERANCE equals the reference " +
      "rule across random directions, tolerances, and duplicate " +
      "timestamps") {
    import spark.implicits._
    val genCase = for {
      nl <- Gen.chooseNum(1, 20)
      nr <- Gen.chooseNum(0, 20)
      ls <- Gen.listOfN(nl, Gen.zip(Gen.chooseNum(1L, 3L), Gen.chooseNum(0L, 8L)))
      rs <- Gen.listOfN(nr, Gen.zip(Gen.chooseNum(1L, 3L), Gen.chooseNum(0L, 8L)))
      fwd <- Gen.oneOf(true, false)
      tol <- Gen.frequency((2, Gen.const(Option.empty[Long])),
        (3, Gen.chooseNum(0L, 6L).map(Option(_))))
    } yield (ls, rs, fwd, tol)
    val prop = Prop.forAll(genCase) { case (ls, rs, fwd, tol) =>
      val left = ls.zipWithIndex
        .map { case ((k, t), i) => (i.toLong, k, t) }.toDF("lid", "lk", "lt")
      val right = rs.zipWithIndex
        .map { case ((k, t), i) => (i.toLong, k, t) }.toDF("rid", "rk", "rt")
      val got = graft.plans.AsOf.join(left, right,
        col("lk"), col("rk"), col("lt"), col("rt"),
        tiebreak = Some(col("rid")), forward = fwd, tolerance = tol)
        .select("lid", "rid").collect()
        .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
        .toSet
      // reference: backward = greatest (rt, rid) with rt <= lt and
      // lt - rt <= tol; forward = smallest (rt, rid) with rt >= lt
      // and rt - lt <= tol; none → null
      val want = ls.zipWithIndex.map { case ((lk, lt), li) =>
        val cand = rs.zipWithIndex.filter { case ((rk, rt), _) =>
          rk == lk &&
            (if (fwd) rt >= lt && tol.forall(rt - lt <= _)
             else rt <= lt && tol.forall(lt - rt <= _))
        }.sortBy { case ((_, rt), ri) => (rt, ri) }
        val m =
          if (fwd) cand.headOption.map(_._2.toLong).getOrElse(-1L)
          else cand.lastOption.map(_._2.toLong).getOrElse(-1L)
        (li.toLong, m)
      }.toSet
      got == want
    }
    check(prop, cases = 25)
  }

  test("property: NEAREST as-of (the q264 two-merge composition) " +
      "equals the reference rule across duplicate timestamps and ties") {
    import spark.implicits._
    val genCase = for {
      nl <- Gen.chooseNum(1, 20)
      nr <- Gen.chooseNum(0, 20)
      ls <- Gen.listOfN(nl, Gen.zip(Gen.chooseNum(1L, 3L), Gen.chooseNum(0L, 8L)))
      rs <- Gen.listOfN(nr, Gen.zip(Gen.chooseNum(1L, 3L), Gen.chooseNum(0L, 8L)))
    } yield (ls, rs)
    val prop = Prop.forAll(genCase) { case (ls, rs) =>
      val left = ls.zipWithIndex
        .map { case ((k, t), i) => (i.toLong, k, t) }.toDF("lid", "lk", "lt")
      val right = rs.zipWithIndex
        .map { case ((k, t), i) => (i.toLong, k, t) }.toDF("rid", "rk", "rt")
      // the q264 composition: backward merge + forward merge + argmin
      // with ties to the backward side
      val back = graft.plans.AsOf.join(left, right,
          col("lk"), col("rk"), col("lt"), col("rt"),
          tiebreak = Some(col("rid")))
        .select(col("lid"), col("lt"), col("rid").as("b_rid"),
          col("rt").as("b_rt"))
      val fwd = graft.plans.AsOf.join(left, right,
          col("lk"), col("rk"), col("lt"), col("rt"),
          tiebreak = Some(col("rid")), forward = true)
        .select(col("lid").as("f_lid"), col("rid").as("f_rid"),
          col("rt").as("f_rt"))
      val useB = col("f_rid").isNull || (col("b_rid").isNotNull &&
        (col("lt") - col("b_rt")) <= (col("f_rt") - col("lt")))
      val got = back.join(fwd, col("lid") === col("f_lid"))
        .select(col("lid"),
          when(useB, col("b_rid")).otherwise(col("f_rid")).as("rid"))
        .collect()
        .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
        .toSet
      // reference: nearest |rt - lt| over all same-key rows; distance
      // tie → the backward side (rt <= lt); within backward greatest
      // (rt, rid), within forward smallest (rt, rid); none → null
      val want = ls.zipWithIndex.map { case ((lk, lt), li) =>
        val cand = rs.zipWithIndex.filter { case ((rk, _), _) => rk == lk }
        val m =
          if (cand.isEmpty) -1L
          else {
            val best = cand.map { case ((_, rt), ri) =>
              val fwdSide = rt > lt
              val dist = math.abs(rt - lt)
              // order: distance, then backward-preferred, then the
              // side's own key rule (backward largest = -rid asc;
              // forward smallest = rid asc)
              ((dist, if (fwdSide) 1 else 0,
                if (fwdSide) ri.toLong else -ri.toLong), ri.toLong)
            }.minBy(_._1)
            best._2
          }
        (li.toLong, m)
      }.toSet
      got == want
    }
    check(prop, cases = 25)
  }

  test("property: LSH pair mining is sound; every high-cosine pair is found") {
    import spark.implicits._
    // Soundness is deterministic (the exact verify runs on every
    // candidate); recall at cosine ≥ 0.9 is probabilistic per band but
    // the 16-band miss probability there is < 1e-9 — far below
    // ScalaCheck noise. Pairs in [t, 0.9) are NOT asserted found:
    // that is the genuine LSH recall curve, pinned to 1 only where the
    // oracle-backed q47/q64 equalities pin it on real data.
    val caseId = new java.util.concurrent.atomic.AtomicInteger(0)
    val genCase = for {
      n <- Gen.chooseNum(8, 20)
      dim <- Gen.oneOf(8, 16)
      flat <- Gen.listOfN(n * dim, Gen.chooseNum(-1000, 1000))
      nDup <- Gen.chooseNum(1, 3)
    } yield (n, dim, flat, nDup)
    val prop = Prop.forAll(genCase) { case (n, dim, flat, nDup) =>
      val vecs: Vector[Array[Float]] = flat.map(_ / 1000.0f).grouped(dim)
        .toVector.take(n).map { g =>
          val a = g.toArray
          a(0) = a(0) + (if (a(0) >= 0) 0.5f else -0.5f) // no zero vectors
          a
        }
      // planted near-dups: tiny last-coordinate perturbation ⇒ cosine
      // ≈ 0.9999 — squarely in the certain-recall regime
      val dups = (0 until math.min(nDup, vecs.size)).map { i =>
        val c = vecs(i).clone(); c(dim - 1) += 0.001f; (1000L + i, c)
      }
      val all = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) } ++ dups
      def cos(a: Array[Float], b: Array[Float]): Double = {
        var d = 0.0; var na = 0.0; var nb = 0.0; var k = 0
        while (k < a.length) {
          d += a(k).toDouble * b(k); na += a(k).toDouble * a(k)
          nb += b(k).toDouble * b(k); k += 1
        }
        d / math.sqrt(na * nb)
      }
      val byId = all.toMap
      val t = 0.5
      // exactLimit = 0 forces the LSH path through the public guard
      val out = VectorOps.cosinePairs(all.toDF("vec_id", "embedding"), t,
          exactLimit = 0L, cacheKey = s"lsh-prop:${caseId.incrementAndGet()}")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val ids = all.map(_._1)
      val expectHigh = (for {
        a <- ids; b <- ids if a < b
        if cos(byId(a), byId(b)) >= 0.9
      } yield (a, b)).toSet
      val unsound = out.filter { case (a, b) => cos(byId(a), byId(b)) < t - 1e-6 }
      (Prop.propBoolean(unsound.isEmpty) :| s"unsound pairs: $unsound") &&
        (Prop.propBoolean(expectHigh.subsetOf(out))
          :| s"missed high-cosine pairs: ${expectHigh -- out}")
    }
    check(prop, 10)
  }

  test("property: normalize_text is idempotent and whitespace-canonical") {
    import graft.functions.NormalizeText
    import org.apache.spark.unsafe.types.UTF8String
    val genStr = Gen.listOfN(12, Gen.frequency(
      (5, Gen.alphaNumChar),
      (2, Gen.oneOf(' ', '\t', '\n')),
      (2, Gen.oneOf('É', 'ü', 'ñ', 'Ç', 'à')),
      (1, Gen.oneOf('!', '.', '\\'))
    )).map(_.mkString)
    val prop = Prop.forAll(genStr) { s =>
      val once = NormalizeText.normalize(UTF8String.fromString(s)).toString
      val twice = NormalizeText.normalize(UTF8String.fromString(once)).toString
      val wsCanonical = !once.exists(c => c == '\t' || c == '\n') &&
        !once.contains("  ") && once == once.trim
      twice == once && wsCanonical
    }
    check(prop, cases = 200)
  }

  test("property: QuantileView within alpha of the exact rank value on any data") {
    import spark.implicits._
    import graft.lakehouse.QuantileView
    // adversarial value lines: mixed signs, zeros, huge magnitude
    // spreads, duplicates — and a random quantile per case
    val genVal = Gen.frequency(
      (4, Gen.chooseNum(-1e6, 1e6)),
      (1, Gen.const(0.0)),
      (1, Gen.chooseNum(-1.0, 1.0).map(_ * 1e-6)),
      (1, Gen.oneOf(-1e9, 1e9)))
    val genCase = for {
      n <- Gen.chooseNum(1, 60)
      vs <- Gen.listOfN(n, genVal)
      q <- Gen.chooseNum(0.0, 1.0)
    } yield (vs, q)
    val spec = QuantileView.Spec(column = "v", alpha = 0.02)
    val prop = Prop.forAll(genCase) { case (vs, q) =>
      val root = tmpDir("prop-qv")
      // fold in two arbitrary halves to exercise the merge path
      val (a, b) = vs.splitAt(vs.length / 2)
      if (a.nonEmpty) QuantileView.update(spark, root, a.toDF("v"), spec)
      QuantileView.update(spark, root, b.toDF("v"), spec)
      val est = QuantileView.quantile(spark, root, spec, q).get
      val sorted = vs.sorted
      val exact = sorted(math.max(0, math.ceil(q * vs.length).toInt - 1))
      // |v̂ − v| ≤ α·|v| (+ulp headroom); exact zeros are exact
      if (exact == 0.0) est == 0.0
      else math.abs(est - exact) <= spec.alpha * 1.05 * math.abs(exact)
    }
    check(prop, cases = 30)
  }

  test("property: native as-of join equals the reference rule on duplicate-timestamp data") {
    import spark.implicits._
    // adversarial structure: few keys (collisions), few distinct
    // timestamps (exact duplicates on BOTH sides), null-extension
    // (keys with no eligible right row), and a tiebreak column so the
    // expected row is unique
    val genLeft = Gen.chooseNum(1, 25).flatMap(n => Gen.listOfN(n, for {
      k <- Gen.chooseNum(0L, 4L); t <- Gen.chooseNum(0L, 8L)
    } yield (k, t)))
    val genRight = Gen.chooseNum(0, 25).flatMap(n => Gen.listOfN(n, for {
      k <- Gen.chooseNum(0L, 4L); t <- Gen.chooseNum(0L, 8L)
      v <- Gen.chooseNum(0L, 999L)
    } yield (k, t, v)))
    val prop = Prop.forAll(Gen.zip(genLeft, genRight)) {
      case (ls, rs) =>
        val l = ls.zipWithIndex.map { case ((k, t), i) => (i.toLong, k, t) }
          .toDF("lid", "k", "t")
        val r = rs.zipWithIndex.map { case ((k, t, v), j) =>
          (j.toLong, k, t, v)
        }.toDF("rid", "rk", "rt", "rv")
        val got = graft.plans.AsOf.join(l, r, col("k"), col("rk"),
            col("t"), col("rt"), tiebreak = Some(col("rid")))
          .select("lid", "rid").collect()
          .map(x => (x.getLong(0), if (x.isNullAt(1)) -1L else x.getLong(1)))
          .toSet
        // reference rule, computed directly: per left row the right
        // row with max (rt, rid) among rk = k && rt <= t
        val want = ls.zipWithIndex.map { case ((k, t), i) =>
          val m = rs.zipWithIndex
            .filter { case ((rk, rt, _), _) => rk == k && rt <= t }
            .sortBy { case ((_, rt, _), j) => (rt, j.toLong) }
            .lastOption.map(_._2.toLong).getOrElse(-1L)
          (i.toLong, m)
        }.toSet
        got == want
    }
    check(prop, cases = 30)
  }

  test("property: random ALTER/append sequences equal a driver-side model") {
    import spark.implicits._
    import graft.lakehouse.VersionedTable
    import org.apache.spark.sql.types.LongType
    // stateful model check for schema evolution: apply a random
    // sequence of ADD / RENAME / DROP / APPEND to both the versioned
    // table and an in-driver model, comparing the full logical
    // relation after EVERY op — adversarial structure is the
    // interleaving (rename-then-append mixes file generations,
    // add-then-rename chains pre-name lists, drop mid-sequence
    // exercises projection pruning), not data volume.
    val genSeed = for {
      kinds <- Gen.listOfN(6, Gen.chooseNum(0, 3))
      idxs <- Gen.listOfN(6, Gen.chooseNum(0, 97))
      vals <- Gen.listOfN(24, Gen.frequency(
        (4, Gen.chooseNum(-99L, 99L).map(Option(_))),
        (1, Gen.const(Option.empty[Long]))))
    } yield (kinds, idxs, vals)
    val prop = Prop.forAll(genSeed) { case (kinds, idxs, vals) =>
      val root = tmpDir("sevoprop") + "/t"
      var cols = Vector("v1", "v2")
      var fresh = 0
      def freshName(pfx: String): String = { fresh += 1; s"$pfx$fresh" }
      var nextK = 100L
      var model = Vector(
        (1L, Map("v1" -> Option(10L), "v2" -> Option(20L))),
        (2L, Map("v1" -> Option(11L), "v2" -> Option.empty[Long])))
      VersionedTable.initDelta(spark, root,
        Seq((1L, Option(10L), Option(20L)), (2L, Option(11L), None))
          .toDF("k", "v1", "v2"),
        keepVersions = 64)
      var vi = 0
      def nextVal(): Option[Long] = { vi += 1; vals((vi - 1) % vals.size) }
      def agree(): Prop = {
        val t = VersionedTable.read(spark, root)
        val colsOk = t.columns.toSeq == ("k" +: cols)
        val got = t.collect().map { r =>
          (r.getLong(0), cols.zipWithIndex.map { case (c, j) =>
            c -> Option(r.get(j + 1)).map(_.asInstanceOf[Long])
          }.toMap)
        }.sortBy(_._1).toVector
        val want = model.sortBy(_._1)
        Prop(colsOk && got == want) :| s"cols=${t.columns.toSeq} got=$got want=$want"
      }
      val steps = kinds.zip(idxs).map { case (kind, idx) =>
        kind match {
          case 0 =>
            val c = freshName("a")
            VersionedTable.addColumn(spark, root, c, LongType, 64)
            cols :+= c
            model = model.map { case (k, m) =>
              (k, m + (c -> Option.empty[Long])) }
          case 1 =>
            val at = idx % cols.size
            val from = cols(at); val to = freshName("r")
            VersionedTable.renameColumn(spark, root, from, to, 64)
            cols = cols.updated(at, to)
            model = model.map { case (k, m) =>
              (k, (m - from) + (to -> m(from))) }
          case 2 if cols.size >= 2 =>
            val at = idx % cols.size
            val dead = cols(at)
            VersionedTable.dropColumn(spark, root, dead, 64)
            cols = cols.patch(at, Nil, 1)
            model = model.map { case (k, m) => (k, m - dead) }
          case _ =>
            val rows = (1 to 2).map { _ =>
              nextK += 1
              (nextK, cols.map(c => c -> nextVal()).toMap)
            }
            val batch = rows.map { case (k, m) =>
              org.apache.spark.sql.Row.fromSeq(
                k +: cols.map(c => m(c).map(Long.box).orNull))
            }
            val schema = org.apache.spark.sql.types.StructType(
              org.apache.spark.sql.types.StructField("k", LongType) +:
                cols.map(c =>
                  org.apache.spark.sql.types.StructField(c, LongType)))
            val df = spark.createDataFrame(
              spark.sparkContext.parallelize(batch, 1), schema)
            VersionedTable.appendDelta(spark, root, 64) { st =>
              df.write.parquet(st)
            }
            model = model ++ rows
        }
        agree()
      }
      steps.reduce(_ && _)
    }
    check(prop, 8)
  }

  test("property: z-order is monotone in each dimension with the others fixed") {
    import spark.implicits._
    import graft.lakehouse.Bucketing
    // the defining Morton property: fixing all other coordinates, the
    // curve position grows with the remaining one — so files=1 layout
    // order must be ascending in the varied column (any interleave
    // bug that scrambles lanes or clobbers the sign bit breaks this)
    val genCase = for {
      n <- Gen.chooseNum(2, 4) // column count
      vary <- Gen.chooseNum(0, n - 1)
      fixed <- Gen.listOfN(n, Gen.chooseNum(0L, 1000L))
      // spaced values: distinct 16-bit buckets, so the order check
      // never trips over a bucket collision's arbitrary tie order
      xs <- Gen.nonEmptyListOf(Gen.chooseNum(0L, 60L))
        .map(_.distinct.map(_ * 1000L))
    } yield (n, vary, fixed, xs)
    val prop = Prop.forAll(genCase) { case (n, vary, fixed, xs) =>
      val cols = (0 until n).map(i => s"c$i")
      val rows = xs.map(x => org.apache.spark.sql.Row.fromSeq(
        (0 until n).map(i => if (i == vary) x else fixed(i))))
      val schema = org.apache.spark.sql.types.StructType(cols.map(c =>
        org.apache.spark.sql.types.StructField(c,
          org.apache.spark.sql.types.LongType)))
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 3), schema)
      val ordered = Bucketing.zorderLayout(df, cols, files = 1)
        .collect().map(_.getLong(vary))
      ordered.sameElements(ordered.sorted)
    }
    check(prop, 8)
  }

  test("property: DSIR model folds are order- and split-independent") {
    import spark.implicits._
    import graft.operators.DsirView
    val genWord = Gen.listOfN(3, Gen.oneOf('a', 'b', 'c', 'd')).map(_.mkString)
    val genDoc = for {
      nw <- Gen.chooseNum(1, 8)
      ws <- Gen.listOfN(nw, genWord)
      lang <- Gen.oneOf("en", "fr")
    } yield (ws.mkString(" "), lang)
    val genCase = for {
      nd <- Gen.chooseNum(2, 10)
      docs <- Gen.listOfN(nd, genDoc)
      cuts <- Gen.listOfN(nd, Gen.chooseNum(0, 2)) // batch assignment
    } yield (docs, cuts)
    val prop = Prop.forAll(genCase) { case (docs, cuts) =>
      val df = docs.zipWithIndex.map { case ((t, l), i) =>
        (i.toLong, t, l, "s", 0L) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
      val scratch = tmpDir("dsirp0") + "/m"
      DsirView.update(spark, scratch, df)
      val folded = tmpDir("dsirp1") + "/m"
      // fold batch 2, then 0, then 1 — order ≠ id order
      Seq(2, 0, 1).foreach { b =>
        val ids = cuts.zipWithIndex.collect { case (c, i) if c == b => i.toLong }
        if (ids.nonEmpty)
          DsirView.update(spark, folded,
            df.filter(col("doc_id").isin(ids: _*)))
      }
      def m(root: String) = DsirView.model(spark, root).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted.toSeq
      m(folded) == m(scratch)
    }
    check(prop, 6)
  }

  test("property: BPE segmentation conserves words and compresses monotonically") {
    import spark.implicits._
    import graft.operators.BpeTrainer
    // random corpora over a small alphabet: repeated subword structure
    // guarantees learnable merges; the invariants must hold regardless
    val genWord = for {
      n <- Gen.chooseNum(1, 6)
      cs <- Gen.listOfN(n, Gen.oneOf('a', 'b', 'c'))
    } yield cs.mkString
    val genCase = for {
      nw <- Gen.chooseNum(3, 25)
      ws <- Gen.listOfN(nw, genWord)
      k <- Gen.chooseNum(1, 8)
    } yield (ws, k)
    val prop = Prop.forAll(genCase) { case (ws, k) =>
      val docs = Seq((1L, ws.mkString(" "))).toDF("doc_id", "text")
      val merges = BpeTrainer.train(docs, numMerges = k)
      val base = BpeTrainer.segment(docs, Nil).head
      val seg = BpeTrainer.segment(docs, merges).head
      // zero merges: one token per character; merges only compress;
      // the word count is invariant under any merge table
      base.getAs[Long]("n_tokens") == ws.map(_.length).sum.toLong &&
        base.getAs[Long]("n_words") == ws.length.toLong &&
        seg.getAs[Long]("n_words") == ws.length.toLong &&
        seg.getAs[Long]("n_tokens") <= base.getAs[Long]("n_tokens") &&
        seg.getAs[Long]("n_tokens") >= ws.length.toLong
    }
    check(prop, 8)
  }

  test("property: CHECK constraint accepts exactly the batches the model accepts") {
    import spark.implicits._
    import graft.lakehouse.VersionedTable
    // adversarial structure: random threshold, random batches mixing
    // nulls (must PASS — SQL's unknown-passes rule), boundary values
    // (exactly T must refuse for `v > T`), and clean rows; the table
    // must hold exactly the union of accepted batches afterwards
    val genCase = for {
      t <- Gen.chooseNum(-10L, 10L)
      init <- Gen.listOfN(4, Gen.frequency(
        (3, Gen.chooseNum(1L, 30L).map(d => Option(t + d))),
        (1, Gen.const(Option.empty[Long]))))
      batches <- Gen.listOfN(4, Gen.listOfN(3, Gen.frequency(
        (3, Gen.chooseNum(-5L, 5L).map(d => Option(t + d))),
        (1, Gen.const(Option.empty[Long])))))
    } yield (t, init, batches)
    val prop = Prop.forAll(genCase) { case (t, init, batches) =>
      val root = tmpDir("ckprop") + "/t"
      VersionedTable.init(spark, root,
        init.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("k", "v"),
        keepVersions = 64)
      VersionedTable.addConstraint(spark, root, "thr", s"v > $t", 64)
      var expected = init
      batches.zipWithIndex.foreach { case (b, bi) =>
        val ok = b.forall(v => v.isEmpty || v.get > t)
        val df = b.zipWithIndex
          .map { case (v, i) => (100L * (bi + 1) + i, v) }.toDF("k", "v")
        try {
          VersionedTable.appendDelta(spark, root, 64) { st =>
            df.write.parquet(st)
          }
          assert(ok, s"violating batch $b accepted at threshold $t")
          expected = expected ++ b
        } catch {
          case _: VersionedTable.ConstraintViolatedException =>
            assert(!ok, s"clean batch $b refused at threshold $t")
        }
      }
      val got = VersionedTable.read(spark, root).select("v")
        .collect().map(r => Option(r.get(0)).map(_.asInstanceOf[Long]))
      got.sorted.sameElements(expected.sorted)
    }
    check(prop, 6)
  }

  test("property: retrieval view folds/compaction/vacuum keep search " +
      "equal to the one-shot index under random op sequences") {
    import graft.lakehouse.RetrievalView
    val docs = Tables.documents(spark, sfDir)
    val qterms = graft.operators.TextOps.bm25Queries(spark)
    def batch(i: Int) = docs.filter(col("doc_id") % 3 === i.toLong)
    // reference results for each folded-prefix set, from one-shot roots
    val refRoot = tmpDir("proprx-ref")
    val refs: Map[Int, Seq[String]] = (1 to 3).map { n =>
      val r = s"$refRoot/$n"
      (0 until n).foreach(i => RetrievalView.update(spark, r, batch(i),
        i.toLong + 1))
      n -> RetrievalView.search(spark, r, qterms, k = 10)
        .collect().map(_.toString).sorted.toSeq
    }.toMap
    // ops: 0 = fold next batch, 1 = re-deliver a random folded id,
    // 2 = compact, 3 = compact + vacuum
    val genOps = Gen.listOfN(6, Gen.chooseNum(0, 3))
    var caseId = 0
    val prop = Prop.forAll(genOps) { ops =>
      caseId += 1
      val root = tmpDir(s"proprx$caseId") + "/ix"
      var folded = 0
      RetrievalView.update(spark, root, batch(0), 1L); folded = 1
      ops.foreach { op =>
        op match {
          case 0 if folded < 3 =>
            RetrievalView.update(spark, root, batch(folded),
              folded.toLong + 1)
            folded += 1
          case 1 =>
            val id = 1L + (caseId + folded) % folded
            assert(!RetrievalView.update(spark, root,
              batch((id - 1).toInt), id), "re-delivery must fold nothing")
          case 2 => RetrievalView.compact(spark, root)
          case 3 =>
            if (RetrievalView.compact(spark, root)) ()
            RetrievalView.vacuumCompacted(spark, root)
          case _ => ()
        }
        val got = RetrievalView.search(spark, root, qterms, k = 10)
          .collect().map(_.toString).sorted.toSeq
        assert(got == refs(folded),
          s"search diverged after ops $ops at folded=$folded")
      }
      true
    }
    check(prop, 6)
  }

  test("property: streamed ANN adds/replays/compaction keep search " +
      "equal to the one-shot assignment under random op sequences") {
    import graft.operators.VectorIndex
    val emb = Tables.embeddings(spark, sfDir)
    def batch(i: Int) = emb.filter(col("vec_id") >= 40 + i * 20 &&
      col("vec_id") < 60 + i * 20)
    val probes = emb.filter(col("vec_id").isin(0L, 45L, 95L))
    // shared centroids + per-prefix reference search results
    val refRoot = tmpDir("propann-ref")
    VectorIndex.build(emb.filter(col("vec_id") < 40), s"$refRoot/0",
      k = 3, iters = 3)
    val cents = spark.read.parquet(s"$refRoot/0/centroids")
    val refs: Map[Int, Seq[String]] = (0 to 3).map { n =>
      val r = s"$refRoot/u$n"
      VectorIndex.buildWith(emb.filter(col("vec_id") < 40 + n * 20),
        r, cents)
      n -> VectorIndex.search(spark, r, probes, nprobe = 3, k = 5)
        .collect().map(_.toString).sorted.toSeq
    }.toMap
    // ops: 0 = add next batch, 1 = replay a random folded id,
    // 2 = compactLists
    val genOps = Gen.listOfN(5, Gen.chooseNum(0, 2))
    var caseId = 0
    val prop = Prop.forAll(genOps) { ops =>
      caseId += 1
      val idx = tmpDir(s"propann$caseId") + "/idx"
      VectorIndex.buildWith(emb.filter(col("vec_id") < 40), idx, cents)
      var folded = 0
      ops.foreach { op =>
        op match {
          case 0 if folded < 3 =>
            assert(VectorIndex.addIdempotent(spark, idx, batch(folded),
              folded.toLong))
            folded += 1
          case 1 if folded > 0 =>
            val id = (caseId + folded) % folded
            assert(!VectorIndex.addIdempotent(spark, idx, batch(id),
              id.toLong), "replay must fold nothing")
          case 2 => VectorIndex.compactLists(spark, idx, minFiles = 2)
          case _ => ()
        }
        val got = VectorIndex.search(spark, idx, probes, nprobe = 3, k = 5)
          .collect().map(_.toString).sorted.toSeq
        assert(got == refs(folded),
          s"search diverged after ops $ops at folded=$folded")
      }
      true
    }
    check(prop, 6)
  }

  test("property: index generation lifecycle tracks a live-id model " +
      "under random add/remove/vacuum/retrain sequences") {
    import graft.operators.VectorIndex
    import spark.implicits._
    val emb = Tables.embeddings(spark, sfDir)
    def batch(i: Int) = emb.filter(col("vec_id") >= 40 + i * 20 &&
      col("vec_id") < 60 + i * 20)
    val batchIds = (0 to 2).map(i => (40 + i * 20).toLong until
      (60 + i * 20).toLong).map(_.toSet)
    // probe id OUTSIDE the corpus: search excludes self-matches, so a
    // real vec_id as probe would hide itself from the membership oracle
    val probe = emb.filter(col("vec_id") === 0L)
      .select(lit(-1L).as("vec_id"), col("embedding"))
    // membership oracle through the PUBLIC search surface: probing
    // every list with k >> corpus returns exactly the live ids
    def liveIds(path: String): Set[Long] =
      VectorIndex.search(spark, path, probe, nprobe = 3, k = 10000)
        .select("neighbor_id").as[Long].collect().toSet
    // ops: 0 = add next batch, 1 = remove a live id, 2 = vacuum
    // tombstones, 3 = retrainAuto (geometry refit + generation flip),
    // 4 = vacuum superseded generations
    val genOps = Gen.listOfN(6, Gen.chooseNum(0, 4))
    var caseId = 0
    val prop = Prop.forAll(genOps) { ops =>
      caseId += 1
      val idx = tmpDir(s"propgen$caseId") + "/idx"
      VectorIndex.build(emb.filter(col("vec_id") < 40), idx,
        k = 3, iters = 3)
      var model = (0L until 40L).toSet
      var folded = 0
      var gen = 0L
      ops.foreach { op =>
        op match {
          case 0 if folded < 3 =>
            VectorIndex.add(spark, idx, batch(folded))
            model ++= batchIds(folded)
            folded += 1
          case 1 if model.nonEmpty =>
            val victim = model.toSeq.sorted.apply(
              (caseId * 7 + folded) % model.size)
            VectorIndex.remove(spark, idx, Seq(victim).toDF("vec_id"))
            model -= victim
          case 2 => VectorIndex.vacuumTombstones(spark, idx)
          case 3 =>
            val g = VectorIndex.retrainAuto(spark, idx, emb)
            assert(g == gen + 1, "generations must commit sequentially")
            gen = g
          case 4 => VectorIndex.vacuumGenerations(spark, idx)
          case _ => ()
        }
        assert(liveIds(idx) == model,
          s"live set diverged after ops $ops (gen=$gen folded=$folded)")
      }
      true
    }
    check(prop, 6)
  }

  test("property: branch lifecycle tracks an in-memory model under " +
      "random op sequences") {
    import graft.lakehouse.VersionedTable
    import spark.implicits._
    // ops: 0 = append to branch, 1 = append to main, 2 = publish
    // (force), 3 = drop + recreate branch. The model: main is a set
    // of longs; the branch is a set snapshotted at create and grown
    // by branch appends; publish replaces main with the branch set.
    val genOps = Gen.listOfN(6, Gen.chooseNum(0, 3))
    var caseId = 0
    val prop = Prop.forAll(genOps) { ops =>
      caseId += 1
      val root = tmpDir(s"propbr$caseId") + "/t"
      var next = 1000L
      VersionedTable.commit(spark, root) { stage =>
        Seq(1L, 2L).toDF("k").coalesce(1).write.parquet(stage)
      }
      var mainModel = Set(1L, 2L)
      VersionedTable.createBranch(spark, root, "b")
      var branchModel = mainModel
      ops.foreach { op =>
        next += 1
        op match {
          case 0 =>
            VersionedTable.appendToBranch(spark, root, "b",
              Seq(next).toDF("k"))
            branchModel += next
          case 1 =>
            VersionedTable.appendDelta(spark, root, keepVersions = 8) {
              stage => Seq(next).toDF("k").coalesce(1).write.parquet(stage)
            }
            mainModel += next
          case 2 =>
            VersionedTable.publishBranch(spark, root, "b", force = true)
            mainModel = branchModel
            VersionedTable.createBranch(spark, root, "b")
            branchModel = mainModel
          case _ =>
            VersionedTable.dropBranch(spark, root, "b")
            VersionedTable.createBranch(spark, root, "b")
            branchModel = mainModel
        }
        val gotMain = VersionedTable.read(spark, root)
          .collect().map(_.getLong(0)).toSet
        val gotBranch = VersionedTable.readBranch(spark, root, "b")
          .collect().map(_.getLong(0)).toSet
        assert(gotMain == mainModel,
          s"main $gotMain != model $mainModel after ops $ops")
        assert(gotBranch == branchModel,
          s"branch $gotBranch != model $branchModel after ops $ops")
      }
      true
    }
    check(prop, 8)
  }

  test("property: catalog commit/read/prune/race interleavings match " +
      "a serializable in-memory model") {
    import spark.implicits._
    import graft.lakehouse.{Catalog, VersionedTable}
    val names = Seq("a", "b", "c")
    // ops: 0 = commitAll over a random table subset, 1 = prune,
    // 2 = snapshotAsOf spot-check, 3 = RACING commitAll pair (two
    // threads, same catalog — create-exclusive arbitration must
    // admit one OR serialize both, never corrupt the mapping)
    val genOp: Gen[(Int, Int, Int)] = for {
      kind <- Gen.frequency((5, 0), (2, 1), (3, 2), (2, 3))
      sub <- Gen.chooseNum(1, 7) // bitmask over the 3 tables
      keep <- Gen.chooseNum(1, 3)
    } yield (kind, sub, keep)
    val genCase = Gen.chooseNum(4, 9).flatMap(n => Gen.listOfN(n, genOp))
    val prop = Prop.forAll(genCase) { ops =>
      val base = tmpDir("cat-prop")
      val cat = s"$base/cat"
      def tw(name: String, rows: Seq[Int]): Catalog.TableWrite =
        Catalog.TableWrite(name, s"$base/$name", () =>
          VersionedTable.commit(spark, s"$base/$name",
            keepVersions = 30) { dir =>
            rows.toDF("id").coalesce(1).write.parquet(dir)
          })
      // MODEL: catalog version → (table → expected id set); prune
      // trims the low versions
      var history = Map.empty[Long, Map[String, Set[Int]]]
      var nextRow = 0
      var prunedBelow = 0L
      def fresh(n: Int): Seq[Int] = { nextRow += 1; (1 to n).map(_ + nextRow * 100) }
      ops.foreach { case (kind, sub0, keep0) =>
        // the shrinker is free to leave the generator's domain
        // (sub=0 once produced an empty transaction whose `require`
        // masked the true counterexample) — clamp back into it so
        // every shrunk case is still a valid interleaving
        val sub = if ((sub0 & 7) == 0) 1 else sub0 & 7
        val keep = math.max(1, math.min(3, keep0))
        val cur: Map[String, Set[Int]] =
          history.maxByOption(_._1).map(_._2).getOrElse(Map.empty)
        kind match {
          case 0 =>
            val subset = names.zipWithIndex.collect {
              case (n, i) if (sub & (1 << i)) != 0 => n }
            val rows = subset.map(n => n -> fresh(2 + (sub % 3))).toMap
            val snap = Catalog.commitAll(spark, cat,
              subset.map(n => tw(n, rows(n))))
            history += snap.version ->
              (cur ++ rows.map { case (n, r) => n -> r.toSet })
          case 1 =>
            Catalog.prune(spark, cat, keep)
            if (history.nonEmpty) {
              val vs = history.keys.toSeq.sorted
              prunedBelow = math.max(prunedBelow,
                vs.dropRight(keep).lastOption.map(_ + 1).getOrElse(prunedBelow))
            }
          case 2 =>
            val retained = history.keys.filter(_ >= prunedBelow)
            retained.foreach { v =>
              val snap = Catalog.snapshotAsOf(spark, cat, v)
              history(v).foreach { case (n, wantIds) =>
                val got = snap.read(spark, n).collect()
                  .map(_.getInt(0)).toSet
                assert(got == wantIds,
                  s"asOf($v).$n: $got != $wantIds after $ops")
              }
            }
          case _ =>
            // RACE: two transactions on distinct tables from two
            // threads. The create-exclusive PUT admits one (loser
            // throws CatalogConflictException, its table version
            // becomes invisible orphan history) or — if timing fully
            // serialized them — both land, the second carrying the
            // first's pin. Never both fail, never a torn mapping.
            val rowsA = fresh(2); val rowsB = fresh(3)
            val outcomes = new java.util.concurrent.ConcurrentHashMap[
              String, Either[Throwable, Catalog.Snapshot]]()
            val threads = Seq(("a", rowsA), ("b", rowsB)).map {
              case (n, r) => new Thread(() => {
                val res =
                  try Right(Catalog.commitAll(spark, cat, Seq(tw(n, r))))
                  catch {
                    case e: Catalog.CatalogConflictException => Left(e)
                  }
                outcomes.put(n, res)
              })
            }
            threads.foreach(_.start()); threads.foreach(_.join())
            val wins = Seq("a" -> rowsA, "b" -> rowsB).flatMap {
              case (n, r) => outcomes.get(n) match {
                case Right(s) => Some((n, r, s))
                case Left(_) => None
              }
            }.sortBy(_._3.version)
            assert(wins.nonEmpty, s"both racers failed after $ops")
            // serializable: apply the winners in version order — each
            // advanced exactly its own table over the then-current map
            wins.foreach { case (n, r, s) =>
              val prev = history.maxByOption(_._1).map(_._2)
                .getOrElse(Map.empty)
              history += s.version -> (prev + (n -> r.toSet))
            }
        }
        // invariant after EVERY op: the current snapshot equals the
        // model's newest retained version
        history.maxByOption(_._1).foreach { case (v, want) =>
          val snap = Catalog.current(spark, cat).get
          assert(snap.version == v, s"version ${snap.version} != $v")
          want.foreach { case (n, ids) =>
            assert(snap.read(spark, n).collect().map(_.getInt(0)).toSet
              == ids, s"table $n diverged after $ops")
          }
        }
      }
      true
    }
    check(prop, 10)
  }

  test("property: pinned retrieval reads equal a from-scratch fold " +
      "of the pinned live set; compaction-superseded pins refuse") {
    import spark.implicits._
    import graft.lakehouse.{RetrievalView, VersionedTable}
    def text(i: Long) = s"w${i % 7} common t$i x${i % 3}"
    // ops: fold n new docs / remove the smallest live doc / compact
    // (+vacuum) / PIN the current tot version
    val genOp: Gen[(String, Int)] = Gen.frequency(
      (5, Gen.chooseNum(1, 4).map(n => ("fold", n))),
      (2, Gen.const(("remove", 0))),
      (2, Gen.const(("compact", 0))),
      // the daemon's catalog-floor form: claim capped at a random
      // fraction of the ledger — pins at/above the cap must keep
      // serving bit-identically, pins below must refuse
      (2, Gen.chooseNum(0, 100).map(pct => ("compactcap", pct))),
      (4, Gen.const(("pin", 0))))
    val genCase = Gen.chooseNum(4, 8).flatMap(n => Gen.listOfN(n, genOp))
    val prop = Prop.forAll(genCase) { ops =>
      val rx = tmpDir("rxprop") + "/rx"
      val qterms = Seq(("q", "common"), ("q", "w1"), ("q", "t3"))
        .toDF("query_id", "term")
      var nextDoc = 0L; var nextBatch = 0L; var maxMarker = 0L
      var live = Set.empty[Long]; var anyFold = false
      // pins: (totVersion, live set at pin, fold point at pin)
      var pins = List.empty[(Long, Set[Long], Long)]
      ops.foreach {
        case ("fold", n) =>
          val ids = (1 to n).map(_ => { nextDoc += 1; nextDoc })
          nextBatch += 1
          assert(RetrievalView.update(spark, rx,
            ids.map(i => (i, text(i))).toDF("doc_id", "text"),
            nextBatch, keepVersions = 32))
          live ++= ids; anyFold = true
        case ("remove", _) if live.nonEmpty =>
          val victim = live.min
          nextBatch += 1
          assert(RetrievalView.remove(spark, rx,
            Seq(victim).toDF("doc_id"), nextBatch, keepVersions = 32))
          live -= victim
        case ("compact", _) if anyFold =>
          if (RetrievalView.compact(spark, rx)) {
            RetrievalView.vacuumCompacted(spark, rx)
            maxMarker = nextBatch
          }
        case ("compactcap", pct) if anyFold =>
          val cap = nextBatch * pct / 100
          if (RetrievalView.compact(spark, rx, upToMax = Some(cap))) {
            RetrievalView.vacuumCompacted(spark, rx)
            maxMarker = math.max(maxMarker, cap)
          }
        case ("pin", _) if anyFold =>
          pins ::= ((VersionedTable
            .currentVersion(spark, s"$rx/tot").get, live, nextBatch))
        case _ => ()
      }
      pins.foreach { case (v, liveAtPin, pinB) =>
        if (maxMarker > pinB) {
          // a later compaction consumed tombstones / superseded batch
          // objects the pin needs — must refuse, never serve wrong
          val refused =
            try { RetrievalView.searchAt(spark, rx, v, qterms, 10)
              .collect(); false }
            catch { case _: IllegalArgumentException |
                         _: IllegalStateException => true }
          assert(refused,
            s"pin $pinB superseded by compaction $maxMarker must refuse")
        } else if (liveAtPin.nonEmpty) {
          val twin = tmpDir("rxtwin") + "/rx"
          assert(RetrievalView.update(spark, twin,
            liveAtPin.toSeq.sorted.map(i => (i, text(i)))
              .toDF("doc_id", "text"), 1L))
          val got = RetrievalView.searchAt(spark, rx, v, qterms, 10)
            .collect().map(_.toString).sorted.toSeq
          val want = RetrievalView.search(spark, twin, qterms, 10)
            .collect().map(_.toString).sorted.toSeq
          assert(got == want,
            s"pin@$v (docs $liveAtPin) diverged from the from-scratch " +
              s"twin after ops $ops:\n got $got\nwant $want")
        }
      }
      true
    }
    check(prop, 8)
  }

  test("property: packSequences equals the in-memory concatenate-and-cut " +
      "model for any docs, lengths, groups, seqLen, and layout") {
    import spark.implicits._
    // adversarial structure: empty docs, single-token docs, docs
    // longer than several sequences, multiple groups, random
    // partitioning — the model is the obvious serial algorithm:
    // per group, concatenate ids in doc_id order, cut every L
    val genDoc = for {
      n <- Gen.frequency((1, Gen.const(0)), (6, Gen.chooseNum(1, 23)))
      g <- Gen.oneOf("s1", "s2", "s3")
    } yield (n, g)
    val genCase = for {
      docs <- Gen.chooseNum(1, 14).flatMap(k => Gen.listOfN(k, genDoc))
      l <- Gen.chooseNum(1, 9)
      parts <- Gen.chooseNum(1, 5)
    } yield (docs, l, parts)
    val prop = Prop.forAll(genCase) { case (docSpecs, l, parts) =>
      val rows = docSpecs.zipWithIndex.map { case ((n, g), i) =>
        val ids = Array.tabulate(n)(j => (i * 100 + j + 1))
        (i.toLong, ids, n.toLong, g)
      }
      val enc = rows.toDF("doc_id", "ids", "n_tokens", "source")
        .repartition(parts)
      val got = BpeTrainer.packSequences(enc, l, Seq("source"))
        .collect()
        .map(r => ((r.getString(0), r.getLong(1)),
          (r.getSeq[Int](2).toList, r.getLong(4))))
        .toMap
      // the serial model
      val want = rows.groupBy(_._4).flatMap { case (g, ds) =>
        val stream = ds.sortBy(_._1).flatMap { case (id, ids, _, _) =>
          ids.map(x => (id, x)) }
        stream.grouped(l).zipWithIndex.map { case (chunk, k) =>
          ((g, k.toLong),
            (chunk.map(_._2).toList, chunk.map(_._1).distinct.size.toLong))
        }
      }
      assert(got == want,
        s"specs=$docSpecs L=$l parts=$parts\n got $got\nwant $want")
      true
    }
    check(prop, 12)
  }

  test("property: the manifest codec round-trips adversarial text — " +
      "parse(render(m)) == m") {
    import graft.lakehouse.VersionedTable.{EqDelete, FileStat, Manifest}
    import org.apache.spark.sql.types._
    // every text field mixes the characters the codec escapes or marks:
    // tab, newline, backslash, the literal NULL marker, non-ASCII
    val genText = Gen.frequency(
      (2, Gen.alphaNumStr.map(_.take(8))),
      (5, Gen.chooseNum(0, 6).flatMap(n => Gen.listOfN(n, Gen.oneOf(
        "\t", "\n", "\\", "\\N", "\\t", "é", "日本", "ß", " ", ",",
        "a", "Z", "_v-3/part-0.parquet"))).map(_.mkString)))
    val genName = genText.filter(_.nonEmpty)
    def distinctOf[A](g: Gen[A], max: Int) =
      Gen.chooseNum(0, max).flatMap(Gen.listOfN(_, g)).map(_.distinct)
    // sections are sorted by rendered line, so a generated manifest is
    // canonical when each sequence already is
    def inLineOrder[A](xs: Seq[A])(one: A => Manifest): Seq[A] =
      xs.sortBy(x => Manifest.render(one(x)))
    val genSchema = for {
      names <- distinctOf(genName, 4).suchThat(_.nonEmpty)
      fields <- Gen.sequence[Seq[StructField], StructField](names.map(n =>
        for {
          dt <- Gen.oneOf[DataType](LongType, StringType, DoubleType,
            StructType(Seq(StructField("x", IntegerType))))
          nullable <- Gen.oneOf(true, false)
          prev <- distinctOf(genName, 2)
        } yield StructField(n, dt, nullable,
          if (prev.isEmpty) Metadata.empty
          else new MetadataBuilder()
            .putStringArray("graft.prev", prev.toArray).build())))
      dropped <- Gen.listOf(genText).map(_.take(3))
    } yield (StructType(fields), dropped)
    val genStat = for {
      file <- genText
      rows <- Gen.chooseNum(0L, Long.MaxValue)
      cols <- distinctOf(genText, 3).suchThat(_.nonEmpty)
      ranges <- Gen.listOfN(cols.size, Gen.zip(Gen.option(genText),
        Gen.option(genText), Gen.chooseNum(0L, 1000L)))
    } yield FileStat(file, rows,
      cols.zip(ranges.map(_._1)).toMap, cols.zip(ranges.map(_._2)).toMap,
      cols.zip(ranges.map(_._3)).toMap)
    val genBloom = for {
      file <- genText; c <- genText
      bits <- Gen.oneOf(8, 64, 8192); k <- Gen.chooseNum(1, 16)
      set <- Gen.listOf(Gen.chooseNum(0, bits - 1))
    } yield {
      val bs = new java.util.BitSet(bits)
      set.foreach(bs.set)
      (file, c) -> (bits, k, bs)
    }
    val genEd = for {
      ref <- genText; seq <- Gen.chooseNum(0L, 1L << 40)
      keys <- distinctOf(genName.map(_.replace(",", "")).filter(_.nonEmpty),
        3).suchThat(_.nonEmpty)
      count <- Gen.chooseNum(0L, 1L << 40)
    } yield EqDelete(ref, seq, keys, count)
    val genManifest = for {
      version <- Gen.chooseNum(1L, Long.MaxValue)
      dataDir <- Gen.option(genText)
      schema <- Gen.option(genSchema)
      constraints <- distinctOf(Gen.zip(genName, genText), 3)
      stats <- distinctOf(genStat, 4)
      blooms <- distinctOf(genBloom, 4)
      dvs <- distinctOf(Gen.zip(genText, Gen.zip(genText,
        Gen.chooseNum(0L, 1L << 40))), 4)
      eds <- distinctOf(genEd, 3)
      files <- distinctOf(genText, 6)
    } yield Manifest(version, dataDir, schema,
      inLineOrder(constraints)(c => Manifest(0, constraints = Seq(c))),
      stats.groupBy(_.file).values.map(_.head).toSeq.sortBy(_.file),
      blooms.toMap, dvs.toMap,
      inLineOrder(eds)(e => Manifest(0, eqDeletes = Seq(e))),
      inLineOrder(files)(f => Manifest(0, files = Seq(f))))
    val prop = Prop.forAll(genManifest) { m =>
      val back = Manifest.parse(Manifest.render(m))
      assert(back == m, s"\n  rendered ${Manifest.render(m)}\n  parsed $back")
      true
    }
    check(prop, 300)
  }
}
