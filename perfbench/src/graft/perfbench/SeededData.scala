package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The benchmark's input generator: the ten-table schema of
  * [[graft.ScaleGen]] (TPC-H-ish star + events + documents +
  * embeddings), with the workload seed mixed into every value hash, so
  * `--seed` alone determines the inputs and two seeds give two
  * independent datasets of the same shape and size. Marginals follow
  * ScaleGen: uniform keys, exponential event values, a Heaps-style
  * document vocabulary with ~5 % planted near-duplicates, unit-norm
  * 64-d embeddings with 0.5 % planted near-duplicates. */
final class SeededData(seed: Long) {

  private def h(tag: String, cols: Column*): Column =
    xxhash64((lit(tag) +: lit(seed) +: cols): _*)
  private def u(tag: String, cols: Column*): Column =
    pmod(h(tag, cols: _*), lit(1000000000L)).cast("double") / 1e9
  private def uk(tag: String, n: Long, cols: Column*): Column =
    pmod(h(tag, cols: _*), lit(n))
  private def pick(tag: String, vals: Seq[String], cols: Column*): Column =
    element_at(array(vals.map(lit): _*),
      (uk(tag, vals.size, cols: _*) + 1).cast("int"))
  private def gauss(tag: String, cols: Column*): Column = {
    val u1 = u(tag + ":u1", cols: _*) + lit(1e-12)
    val u2 = u(tag + ":u2", cols: _*)
    sqrt(lit(-2.0) * log(u1)) * cos(lit(2.0 * math.Pi) * u2)
  }
  private def day(tag: String, span: Int): Column =
    date_add(to_date(lit("1995-01-01")), uk(tag, span, col("id")).cast("int"))
      .cast("timestamp_ntz")

  private val vocab = Seq(
    "key", "agg", "row", "scan", "slow", "fast", "table", "value",
    "part", "hash", "merge", "batch", "spark", "line", "sort",
    "window", "customer", "query", "big", "the", "a", "data",
    "column", "join", "small", "group", "vector", "stream", "order",
    "filter")

  def tables(s: SparkSession, sz: graft.ScaleGen.Sizes): Map[String, DataFrame] = {
    import s.implicits._
    val id = col("id")
    Map(
      "region" -> Seq((0, "AFRICA"), (1, "AMERICA"), (2, "ASIA"),
        (3, "EUROPE"), (4, "MIDDLE EAST")).toDF("r_regionkey", "r_name"),
      "nation" -> s.range(25).select(id.cast("int").as("n_nationkey"),
        concat(lit("NATION_"), id).as("n_name"),
        (id % 5).cast("int").as("n_regionkey")),
      "supplier" -> s.range(sz.supplier).select(id.as("s_suppkey"),
        format_string("Supplier#%09d", id).as("s_name"),
        uk("s_nat", 25, id).cast("int").as("s_nationkey"),
        round(lit(-1000.0) + u("s_bal", id) * 11000.0, 2).as("s_acctbal")),
      "customer" -> s.range(sz.customer).select(id.as("c_custkey"),
        format_string("Customer#%09d", id).as("c_name"),
        uk("c_nat", 25, id).cast("int").as("c_nationkey"),
        round(lit(-1000.0) + u("c_bal", id) * 11000.0, 2).as("c_acctbal"),
        pick("c_seg", Seq("AUTOMOBILE", "BUILDING", "FURNITURE",
          "HOUSEHOLD", "MACHINERY"), id).as("c_mktsegment")),
      "part" -> s.range(sz.part).select(id.as("p_partkey"),
        concat(pick("p_adj", Seq("small", "red", "blue", "hot", "large",
          "green", "cold", "dark"), id), lit(" "),
          pick("p_noun", Seq("ring", "widget", "bolt", "gear", "gizmo",
            "cog", "washer", "pin"), id)).as("p_name"),
        concat(lit("Brand#"), uk("p_brand", 25, id) + 1).as("p_brand"),
        pick("p_type", Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
          "STANDARD"), id).as("p_type"),
        (uk("p_size", 50, id) + 1).cast("int").as("p_size"),
        round(lit(900.0) + u("p_price", id) * 99.9, 2).as("p_retailprice")),
      "orders" -> s.range(sz.orders).select(id.as("o_orderkey"),
        uk("o_cust", sz.customer, id).as("o_custkey"),
        pick("o_status", Seq("F", "O", "P"), id).as("o_orderstatus"),
        round(lit(1000.0) + u("o_total", id) * 499000.0, 2).as("o_totalprice"),
        day("o_date", 2404).as("o_orderdate"),
        pick("o_prio", Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
          "4-NOT SPECIFIED", "5-LOW"), id).as("o_orderpriority")),
      "lineitem" -> s.range(sz.lineitem).select(
        uk("l_ord", sz.orders, id).as("l_orderkey"),
        uk("l_part", sz.part, id).as("l_partkey"),
        uk("l_supp", sz.supplier, id).as("l_suppkey"),
        (uk("l_line", 7, id) + 1).cast("int").as("l_linenumber"),
        (uk("l_qty", 50, id) + 1).cast("double").as("l_quantity"),
        round(lit(900.0) + u("l_price", id) * 104100.0, 2).as("l_extendedprice"),
        (uk("l_disc", 11, id).cast("double") / 100.0).as("l_discount"),
        (uk("l_tax", 9, id).cast("double") / 100.0).as("l_tax"),
        pick("l_rf", Seq("A", "N", "R"), id).as("l_returnflag"),
        pick("l_ls", Seq("F", "O"), id).as("l_linestatus"),
        day("l_ship", 2500).as("l_shipdate")),
      "events" -> events(s, sz.events, sz.users),
      "documents" -> documents(s, sz.documents),
      "embeddings" -> embeddings(s, sz.embeddings))
  }

  /** 30 days of Jan 2024 at microsecond grain, exponential values */
  def events(s: SparkSession, n: Long, users: Long): DataFrame = {
    val id = col("id")
    s.range(n).select(id.as("event_id"),
      timestamp_micros(lit(1704067200000000L) +
        (u("e_ts", id) * 30.0 * 86400e6).cast("long"))
        .cast("timestamp_ntz").as("ts"),
      uk("e_user", users, id).as("user_id"),
      pick("e_type", Seq("click", "error", "purchase", "signup", "view"), id)
        .as("event_type"),
      round(least(lit(-50.0) * log(lit(1.0) - u("e_val", id)), lit(499.99))
        + 0.01, 2).as("value"),
      concat(lit("{\"k\": "), uk("e_k", 100, id), lit("}")).as("props"))
  }

  /** ~95 % base docs, ~5 % near-duplicates of a base doc with ~1/20 of
    * words mutated; 40 % of words from a 30-word head, 60 % from a
    * tail of n/5 synthetic words. Ids start at `firstId`. */
  def documents(s: SparkSession, n: Long, firstId: Long = 0L): DataFrame = {
    val nBase = math.max(1L, (n * 0.95).toLong)
    val tailSize = math.max(50L, n / 5)
    val vocabArr = array(vocab.map(lit): _*)
    val rel = col("id") - firstId
    val isDup = rel >= nBase
    val eff = when(isDup, uk("d_parent", nBase, col("id")) + firstId)
      .otherwise(col("id"))
    def word(tag: String, idc: Column, p: Column): Column =
      when(u(tag + ":h", idc, p) < 0.4,
        element_at(vocabArr, (uk(tag + ":b", vocab.size, idc, p) + 1).cast("int")))
        .otherwise(concat(lit("w"), uk(tag + ":t", tailSize, idc, p)))
    val words = transform(sequence(lit(0), (uk("d_len", 51, eff) + 40).cast("int") - 1),
      p => when(isDup && uk("d_mut", 20, col("id"), p) === 0,
        word("d_mw", col("id"), p)).otherwise(word("d_w", eff, p)))
    s.range(firstId, firstId + n).select(col("id").as("doc_id"),
        array_join(words, " ").as("text"),
        pick("d_lang", Seq("en", "en", "en", "de", "es", "fr", "zh"), col("id"))
          .as("lang"),
        concat(lit("src"), uk("d_src", 20, col("id"))).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  /** unit-norm 64-d Gaussian vectors, random labels, 0.5 % near-dups */
  def embeddings(s: SparkSession, n: Long): DataFrame = {
    val nBase = math.max(1L, (n * 0.995).toLong)
    val isDup = col("id") >= nBase
    val eff = when(isDup, uk("v_parent", nBase, col("id"))).otherwise(col("id"))
    val raw = transform(sequence(lit(0), lit(63)), j =>
      gauss("v_g", eff, j) +
        when(isDup, gauss("v_noise", col("id"), j) * 0.05).otherwise(lit(0.0)))
    val norm = sqrt(aggregate(raw, lit(0.0), (a, x) => a + x * x))
    s.range(n).select(col("id").as("vec_id"),
      transform(raw, x => (x / norm).cast("float")).as("embedding"),
      uk("v_label", 10, col("id")).cast("int").as("label"))
  }

  /** write `names` as single parquet files `<dir>/<name>.parquet` (the
    * layout of the reference test data, which the DuckDB oracle reads) */
  def write(s: SparkSession, sf: Double, dir: String, names: Seq[String]): Unit = {
    val all = tables(s, graft.ScaleGen.sizes(sf))
    names.foreach { n =>
      val tmp = Paths.get(s"$dir/_$n")
      all(n).coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = Files.list(tmp).toArray.map(_.asInstanceOf[Path])
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.move(part, Paths.get(s"$dir/$n.parquet"))
      PerfBench.rmrf(tmp.toString)
    }
  }
}
