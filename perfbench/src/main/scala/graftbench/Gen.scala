package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Writes the TPC-H-ish parquet tables the benchmark's entries read (the
  * schemas of the repository's test data) into `dir`, at scale factor `sf`
  * (sf 0.1: 15k customers, 150k orders, 600k line items).
  *
  * Every value is a hash of (table, column, row number), so the tables
  * are identical whatever the partitioning; they do not depend on the
  * run's seed, which keeps the analytics fingerprints fixed. */
object Gen {

  private val Salt = 42L

  /** A non-negative pseudo-random long for (column tag, row id). */
  private def h(tag: String): Column =
    pmod(xxhash64(lit(tag), col("id"), lit(Salt)), lit(Long.MaxValue))

  private def pick(tag: String, xs: Seq[String]): Column =
    element_at(array(xs.map(lit): _*), (pmod(h(tag), lit(xs.size.toLong)) + 1).cast("int"))

  private def uniform(tag: String, lo: Long, hi: Long): Column =
    pmod(h(tag), lit(hi - lo + 1)) + lit(lo)

  private val Words = Seq("spark", "graph", "node", "edge", "query", "scan",
    "sort", "hash", "join", "agg", "window", "stream", "batch", "table",
    "column", "row", "key", "value", "filter", "group", "merge", "part",
    "line", "order", "data", "fast", "slow", "big", "small", "a", "vector",
    "index", "shard", "page", "cache", "plan")

  /** Writes the tables named in `only`. */
  def write(spark: SparkSession, dir: String, sf: Double, only: Seq[String]): Unit = {
    // one file per table, as in the repository's test data: the graph
    // store writes one file per bucket per input partition
    def rows(n: Long): DataFrame = spark.range(0, math.max(n, 1L), 1, 1).toDF()
    def save(name: String, df: => DataFrame): Unit =
      if (only.contains(name))
        df.write.mode("overwrite").parquet(s"$dir/$name.parquet")

    val nCust = (150000 * sf).toLong
    val nOrd = (1500000 * sf).toLong
    val nLine = (6000000 * sf).toLong
    val nPart = (200000 * sf).toLong // line items reference parts by key only
    val nEvents = (1000000 * sf).toLong
    val nUsers = math.max(10L, (20000 * sf).toLong)
    val nDocs = (50000 * sf).toLong
    val nEmb = (20000 * sf).toLong

    save("region", rows(5).select(col("id").cast("int").as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE",
        "MIDDLE EAST").map(lit): _*), (col("id") + 1).cast("int")).as("r_name")))
    save("nation", rows(25).select(col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"),
      (col("id") % 5).cast("int").as("n_regionkey")))
    save("customer", rows(nCust).select(col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      uniform("c_nat", 0, 24).cast("int").as("c_nationkey"),
      (uniform("c_bal", -99999, 999999) / 100.0).as("c_acctbal"),
      pick("c_seg", Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
        "MACHINERY")).as("c_mktsegment")))
    save("orders", rows(nOrd).select(col("id").as("o_orderkey"),
      uniform("o_cust", 0, nCust - 1).as("o_custkey"),
      pick("o_st", Seq("O", "F", "P")).as("o_orderstatus"),
      (uniform("o_tp", 100000, 50000000) / 100.0).as("o_totalprice"),
      timestamp_seconds(lit(694224000L) + uniform("o_dt", 0, 2400) * 86400)
        .as("o_orderdate"),
      pick("o_pr", Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
        "5-LOW")).as("o_orderpriority")))
    save("lineitem", rows(nLine).select(
      uniform("l_ord", 0, nOrd - 1).as("l_orderkey"),
      uniform("l_part", 0, nPart - 1).as("l_partkey"),
      uniform("l_supp", 0, math.max(nCust / 15, 1) - 1).as("l_suppkey"),
      uniform("l_ln", 1, 7).cast("int").as("l_linenumber"),
      uniform("l_q", 1, 50).cast("double").as("l_quantity"),
      (uniform("l_ep", 90000, 10000000) / 100.0).as("l_extendedprice"),
      (uniform("l_di", 0, 10) / 100.0).as("l_discount"),
      (uniform("l_tx", 0, 8) / 100.0).as("l_tax"),
      pick("l_rf", Seq("A", "N", "R")).as("l_returnflag"),
      pick("l_ls", Seq("O", "F")).as("l_linestatus"),
      timestamp_seconds(lit(694224000L) + uniform("l_sd", 0, 2500) * 86400)
        .as("l_shipdate")))
    save("events", rows(nEvents).select(col("id").as("event_id"),
      timestamp_micros(lit(1704067200000000L) +
        uniform("e_ts", 0, 30L * 86400 * 1000000)).as("ts"),
      uniform("e_user", 0, nUsers - 1).as("user_id"),
      pick("e_ty", Seq("view", "click", "purchase", "error", "search"))
        .as("event_type"),
      (uniform("e_v", 0, 50000) / 100.0).as("value"),
      format_string("{\"k\": %d}", uniform("e_k", 0, 99)).as("props")))
    val text = concat_ws(" ", transform(sequence(lit(1),
      uniform("d_len", 8, 60).cast("int")), i =>
      element_at(array(Words.map(lit): _*), (pmod(xxhash64(col("id"), i,
        lit(Salt)), lit(Words.size.toLong)) + 1).cast("int"))))
    save("documents", rows(nDocs).select(col("id").as("doc_id"),
      text.as("text"), pick("d_lang", Seq("en", "de", "fr", "zh")).as("lang"),
      concat(lit("src"), uniform("d_src", 0, 9)).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long")))
    save("embeddings", rows(nEmb).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(63)), i =>
        ((pmod(xxhash64(col("id"), i, lit(Salt)), lit(20001L)) - 10000) /
          50000.0).cast("float")).as("embedding"),
      uniform("v_lab", 0, 9).cast("int").as("label")))
  }
}
