package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, JoinedRow}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, DataType, DateType,
  LongType, NumericType, StringType, TimestampNTZType, TimestampType}
import org.apache.spark.unsafe.types.UTF8String

/** Exact global ranking WITHOUT a single-reducer window.
  *
  * `Window.orderBy(...)` with no partition spec sends every row to
  * one task — the classic 100-TB serialization point. The scalable
  * equivalent: range-repartition on the sort key (partitions carry
  * disjoint, ordered key ranges), sort within each partition, then
  * `zipWithIndex` — Spark's two-pass global index: one job counts
  * rows per partition, the offsets are broadcast, and a second pass
  * adds the partition offset to each local index. Only the
  * numPartitions-sized count array ever reaches the driver, and no
  * task sees more than its partition.
  */
object RankOps {

  /** `partitions <= 0` means "follow the session": the same
    * spark.sql.shuffle.partitions every other exchange in the job
    * uses, so the rank pass scales with the cluster instead of a
    * hardcoded constant. */
  private def resolvePartitions(df: DataFrame, partitions: Int): Int =
    if (partitions > 0) partitions
    else df.sparkSession.sessionState.conf.numShufflePartitions

  /** Group-cardinality bound for [[withGroupedPrefixSum]]'s driver
    * offset map (per partition AND total). The operator's contract is
    * K-SIZED GROUPS (nations, segments, event types, distinct measure
    * values): pass 1 collects one (group → total) entry per group per
    * overlapping partition, so a high-cardinality group key (e.g.
    * group = doc_id over a billion docs) would OOM the DRIVER — the
    * silent failure mode this guard converts into a loud refusal at
    * task time, before anything is collected. Raise deliberately via
    * the conf when a caller has certified the cardinality. */
  val MaxGroupsKey = "spark.graft.rankops.maxGroupsPerPartition"
  private def maxGroups(df: DataFrame): Int =
    df.sparkSession.conf.get(MaxGroupsKey, "100000").toInt

  /** Append a 1-based global rank in `sortCols` order. `sortCols`
    * must be a total order (add a unique tiebreak) for the rank to be
    * deterministic. (The rank pass itself runs through `df.rdd` —
    * rows leave codegen/columnar land for the two passes; callers
    * re-enter Dataset land with the returned DataFrame.) */
  def withGlobalRank(df: DataFrame, sortCols: Seq[Column],
      rankCol: String, partitions: Int = 0): DataFrame = {
    val spark = df.sparkSession
    val sorted = df.repartitionByRange(resolvePartitions(df, partitions),
        sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
    val schema = sorted.schema.add(rankCol, LongType, nullable = false)
    // InternalRow passes (r14): `df.rdd` deserialized every field into
    // a boxed GenericRow and rebuilt a Row per output row — measured
    // ~30 µs/row across the RankOps family. toRdd keeps UnsafeRows;
    // the copy() is one buffer memcpy (the sorter reuses row buffers,
    // so rows held past the iterator step MUST be copied), and the
    // appended rank rides a JoinedRow.
    val ranked = org.apache.spark.sql.graftbridge.Bridge
      .internalRows(sorted).zipWithIndex().map { case (r, i) =>
        new JoinedRow(r.copy(),
          new GenericInternalRow(Array[Any](i + 1L))): InternalRow
      }
    org.apache.spark.sql.graftbridge.Bridge
      .fromInternalRows(spark, ranked, schema)
  }

  /** Append the EXCLUSIVE running sum of `valueCol` (long) within each
    * `groupCols` group, ordered by `orderCols` — the distributed form
    * of `sum(v) OVER (PARTITION BY g ORDER BY o ROWS UNBOUNDED
    * PRECEDING TO 1 PRECEDING)`, without ever serializing a group
    * into one reducer (the scale hazard when one group dominates:
    * a per-source unbounded window puts a 10 TB source through a
    * single task). Same two-pass shape as [[withGlobalRank]]:
    * range-repartition on (group, order) so partitions hold disjoint
    * ordered slices, count each partition's per-group token total
    * (pass 1 — only a partitions×groups-sized list reaches the
    * driver, and range partitioning means each partition overlaps at
    * most two groups' boundaries), broadcast the exclusive partition
    * offsets, then add the local running sum (pass 2). `groupCols ++
    * orderCols` must be a total order for determinism; nulls in
    * `valueCol` contribute 0, as SUM ignores them. */
  def withGroupedPrefixSum(df: DataFrame, groupCols: Seq[String],
      orderCols: Seq[String], valueCol: String, sumCol: String,
      partitions: Int = 0): DataFrame = {
    val spark = df.sparkSession
    val sortCols = (groupCols ++ orderCols).map(col)
    val sorted = df.repartitionByRange(resolvePartitions(df, partitions),
        sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
    val schema = sorted.schema
    val gIdx = groupCols.map(schema.fieldIndex).toArray
    val gTypes: Array[DataType] = gIdx.map(schema(_).dataType)
    // keys are lifted off the reused row buffer and compared by value:
    // only atomic types survive that (an array/struct/map would stay
    // buffer-backed, a binary key would compare by reference)
    groupCols.zip(gTypes).foreach { case (c, dt) =>
      require(atomicKey(dt),
        s"withGroupedPrefixSum group key '$c' has type ${dt.simpleString}; " +
          "only numeric, string, boolean, date and timestamp keys are " +
          "supported")
    }
    val vIdx = schema.fieldIndex(valueCol)
    // InternalRow passes (r14): `df.rdd` boxed every field of every
    // row into a GenericRow — measured ~30 µs/row across the RankOps
    // family, dwarfing the actual prefix arithmetic. toRdd keeps the
    // physical UnsafeRows; group-key fields are extracted (strings
    // copied out of the reused row buffer), the long value reads
    // primitive. One lineage → both passes see identical partitioning.
    val rdd = org.apache.spark.sql.graftbridge.Bridge.internalRows(sorted)
    // a group key materialized OFF the reused row buffer (UTF8String
    // contents are copied via toString; primitives box once)
    def keyOf(r: InternalRow): Seq[Any] = {
      val k = new Array[Any](gIdx.length)
      var i = 0
      while (i < gIdx.length) {
        k(i) =
          if (r.isNullAt(gIdx(i))) null
          else gTypes(i) match {
            case StringType => r.getUTF8String(gIdx(i)).toString
            case dt => r.get(gIdx(i), dt)
          }
        i += 1
      }
      k.toSeq
    }
    val limit = maxGroups(df)
    // pass 1: per-partition per-group totals, in partition order. Each
    // task refuses LOUDLY past the group-cardinality bound — range
    // partitioning on (group, order) lays G groups over P partitions
    // at ~G/P distinct groups per partition, so the hazardous caller
    // (group cardinality ~ row count) trips this long before the
    // driver materializes anything.
    val partTotals = rdd.mapPartitionsWithIndex { (pid, it) =>
      val m = scala.collection.mutable.LinkedHashMap.empty[Seq[Any], Long]
      it.foreach { r =>
        val k = keyOf(r)
        val v = if (r.isNullAt(vIdx)) 0L else r.getLong(vIdx)
        m.get(k) match {
          case Some(cur) => m.update(k, cur + v)
          case None =>
            if (m.size >= limit) throw new IllegalStateException(
              s"withGroupedPrefixSum(group=${groupCols.mkString(",")}) " +
                s"exceeded $limit distinct groups in partition $pid — the " +
                "driver offset map would scale with data, not the model. " +
                "This operator's contract is K-sized group cardinality " +
                "(nations/segments/distinct measure values); for per-entity " +
                "prefix sums use a window keyed on the entity instead, or " +
                s"raise $MaxGroupsKey deliberately after certifying the " +
                "cardinality")
            m.update(k, v)
        }
      }
      Iterator.single((pid, m.toList))
    }.collect()
    // belt-and-braces: the SUM across partitions is what the driver
    // actually holds. Contiguous range partitioning gives ≈ G + (P−1)
    // entries (one extra per group spanning a partition boundary), so
    // the honest total bound is limit + P — NOT limit·P, which the
    // per-partition check already implies.
    val totalEntries = partTotals.iterator.map(_._2.size.toLong).sum
    require(totalEntries <= limit.toLong + partTotals.length,
      s"withGroupedPrefixSum offset map has $totalEntries entries across " +
        s"${partTotals.length} partitions — over the $MaxGroupsKey bound " +
        s"($limit); the group key's cardinality scales with data, not the " +
        "model. Use an entity-keyed window or raise the conf deliberately")
    val running = scala.collection.mutable.Map.empty[Seq[Any], Long]
    val offsets: Map[(Int, Seq[Any]), Long] =
      partTotals.sortBy(_._1).iterator.flatMap { case (pid, groups) =>
        groups.map { case (k, tot) =>
          val o = running.getOrElse(k, 0L)
          running.update(k, o + tot)
          ((pid, k), o)
        }
      }.toMap
    val bc = spark.sparkContext.broadcast(offsets)
    // pass 2: local running sums seeded by the partition offsets; the
    // appended sum rides a JoinedRow over a copy() of the (reused)
    // physical row — one buffer memcpy instead of full re-boxing
    val out = rdd.mapPartitionsWithIndex { (pid, it) =>
      val cum = scala.collection.mutable.Map.empty[Seq[Any], Long]
      it.map { r =>
        val k = keyOf(r)
        val cur = cum.getOrElse(k, bc.value.getOrElse((pid, k), 0L))
        val v = if (r.isNullAt(vIdx)) 0L else r.getLong(vIdx)
        cum.update(k, cur + v)
        new JoinedRow(r.copy(),
          new GenericInternalRow(Array[Any](cur))): InternalRow
      }
    }
    org.apache.spark.sql.graftbridge.Bridge.fromInternalRows(
      spark, out, schema.add(sumCol, LongType, nullable = false))
  }

  // StringType matches the binary collation only: a collated string
  // key would group by bytes where SQL groups by collation
  private def atomicKey(dt: DataType): Boolean = dt match {
    case _: NumericType | StringType | BooleanType | DateType |
         TimestampType | TimestampNTZType => true
    case _ => false
  }

  /** SQL NTILE(k) bucket from a 1-based global rank over n rows:
    * the first n mod k buckets take ⌈n/k⌉ rows, the rest ⌊n/k⌋.
    * Matches NTILE in Spark and DuckDB. (The double divisions are
    * exact here: an exactly-divisible integer quotient divides to
    * the exact integer double, and a non-integer true quotient sits
    * ≥ 1/divisor away from the next integer — far beyond an ulp —
    * so the truncating cast equals integer division.) */
  def ntileFromRank(rank: Column, n: Long, k: Int): Column = {
    require(k > 0 && n >= 0)
    val q = n / k
    val rem = n % k
    val big = lit(rem * (q + 1)) // rows living in the ⌈n/k⌉-sized buckets
    val qBig = lit((q + 1).toDouble)
    val qSmall = lit((if (q == 0) 1 else q).toDouble)
    when(rank <= big, ((rank - 1) / qBig).cast("long") + 1)
      .otherwise(lit(rem) + ((rank - 1 - big) / qSmall).cast("long") + 1)
      .cast("int")
  }

  /** Exact interpolated per-group percentiles WITHOUT `percentile()`'s
    * per-group value buffering (q85/q104/q236's engine): grouped
    * prefix-sum ranks ([[withGroupedPrefixSum]], distributed
    * two-pass), a broadcast probe table of the lo/hi ranks each
    * (group, p) needs, and `v_lo + (v_hi − v_lo)·frac` reproducing
    * DuckDB `quantile_cont`'s double arithmetic BIT-FOR-BIT — the
    * oracle contract (property-pinned). Spark's own `percentile()`
    * interpolates as `lo·(1−f) + hi·f`, which can differ from this
    * form by one ULP on adversarial values (found by the property);
    * on the oracle-checked data the two agree, which is why q16's
    * `percentile()` form shares oracles with this one. No group ever
    * buffers its values
    * in one reducer, so a group outgrowing executor memory cannot OOM
    * the plan. `tieCols` must complete a total order within the group
    * for deterministic ranks (ties in `valueCol` itself are
    * value-interchangeable, so the percentile is deterministic either
    * way). Returns (g, p, pv) with pv UNROUNDED double. */
  def groupedPercentiles(df: DataFrame, groupCol: String,
      valueCol: String, tieCols: Seq[String],
      ps: Seq[Double]): DataFrame = {
    // synthetic count/rank columns use generated names so an input
    // column literally named "one"/"rank0" is never clobbered (a
    // collision would silently rank over the constant 1L)
    val oneCol = "__gp_one"
    val rankCol = "__gp_rank0"
    require(!df.columns.contains(oneCol) && !df.columns.contains(rankCol),
      s"groupedPercentiles reserves the column names $oneCol/$rankCol")
    val ranked = withGroupedPrefixSum(
      df.withColumn(oneCol, lit(1L)), Seq(groupCol),
      valueCol +: tieCols, valueCol = oneCol, sumCol = rankCol)
    val probes = ranked.groupBy(col(groupCol).as("gp"))
      .agg(count(lit(1)).as("n"))
      .select(col("gp"), explode(array(ps.map(lit): _*)).as("p"), col("n"))
      .withColumn("h", (col("n") - 1).cast("double") * col("p"))
      .withColumn("frac", col("h") - floor(col("h")).cast("double"))
      .select(col("gp"), col("p"), col("frac"), explode(array(
        struct(floor(col("h")).cast("long").as("want"), lit("lo").as("role")),
        struct(ceil(col("h")).cast("long").as("want"), lit("hi").as("role"))))
        .as("w"))
      .select(col("gp"), col("p"), col("frac"),
        col("w.want").as("want"), col("w.role").as("role"))
    ranked.select(col(groupCol).as("g"), col(rankCol),
        col(valueCol).as("v"))
      .join(broadcast(probes),
        col("g") === col("gp") && col(rankCol) === col("want"))
      .groupBy("g", "p", "frac")
      .agg(max(when(col("role") === "lo", col("v"))).as("v_lo"),
        max(when(col("role") === "hi", col("v"))).as("v_hi"))
      .select(col("g"), col("p"),
        (col("v_lo") + (col("v_hi") - col("v_lo")) * col("frac"))
          .as("pv"))
  }
}
