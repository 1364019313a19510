package graft

import graft.operators.RankOps

/** Cardinality guard on RankOps' driver offset map (round-10, VERDICT
  * r9 finding 2): `withGroupedPrefixSum` collects one entry per group
  * per overlapping partition, so its contract is K-SIZED group
  * cardinality — a caller passing a data-sized group key (doc_id,
  * user_id) must be refused LOUDLY instead of silently OOMing the
  * driver at scale. Plus the groupedPercentiles reserved-name guard
  * (ADVICE r9): an input column literally named "one" used to be
  * clobbered by the synthetic count column. */
class RankOpsGuardSpec extends SparkSpec {
  import spark.implicits._

  test("withGroupedPrefixSum refuses a data-sized group key past " +
      "spark.graft.rankops.maxGroupsPerPartition") {
    spark.conf.set(RankOps.MaxGroupsKey, "100")
    try {
      val df = spark.range(2000)
        .select($"id".as("g"), $"id".as("ord"), ($"id" % 7).as("v"))
      val e = intercept[org.apache.spark.SparkException] {
        RankOps.withGroupedPrefixSum(df, Seq("g"), Seq("ord"), "v", "ps")
          .count()
      }
      val msg = e.getMessage + Option(e.getCause).fold("")(_.getMessage)
      assert(msg.contains("maxGroupsPerPartition") ||
        msg.contains("distinct groups"), msg)
    } finally spark.conf.unset(RankOps.MaxGroupsKey)
  }

  test("withGroupedPrefixSum still serves K-sized groups under the " +
      "default bound (the 12 existing callers' contract)") {
    val df = spark.range(10000)
      .select(($"id" % 25).as("g"), $"id".as("ord"), org.apache.spark.sql
        .functions.lit(1L).as("v"))
    val out = RankOps.withGroupedPrefixSum(df, Seq("g"), Seq("ord"), "v", "ps")
    // exclusive prefix sum of 1s within each group = 0..n-1
    assert(out.count() == 10000)
    val maxPs = out.agg(org.apache.spark.sql.functions.max("ps"))
      .head.getLong(0)
    assert(maxPs == 10000 / 25 - 1)
  }

  test("withGroupedPrefixSum refuses a non-atomic group key instead " +
      "of mis-grouping it") {
    val df = spark.range(20).select(
      org.apache.spark.sql.functions.array($"id" % 3).as("g"),
      $"id".as("ord"), org.apache.spark.sql.functions.lit(1L).as("v"))
    val e = intercept[IllegalArgumentException] {
      RankOps.withGroupedPrefixSum(df, Seq("g"), Seq("ord"), "v", "ps")
    }
    assert(e.getMessage.contains("group key 'g' has type array<bigint>"),
      e.getMessage)
  }

  test("groupedPercentiles refuses inputs carrying its reserved " +
      "synthetic names instead of silently clobbering them") {
    val bad = spark.range(100)
      .select(($"id" % 4).as("g"), $"id".cast("double").as("v"),
        $"id".as("__gp_one"))
    val e = intercept[IllegalArgumentException] {
      RankOps.groupedPercentiles(bad, "g", "v", Seq("__gp_one"), Seq(0.5))
    }
    assert(e.getMessage.contains("__gp_one"), e.getMessage)
    // and a column named plain "one" (the ADVICE scenario) now passes
    // through UNHARMED: percentiles are computed over v, not over 1L
    val one = spark.range(101)
      .select(org.apache.spark.sql.functions.lit(0).as("g"),
        $"id".cast("double").as("one"), $"id".as("tie"))
    val p = RankOps.groupedPercentiles(one, "g", "one", Seq("tie"), Seq(0.5))
      .head
    assert(p.getDouble(2) == 50.0, p.toString)
  }
}
