package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded synthetic versions of the ten parquet tables the analytics
  * registry reads (a TPC-H-like star schema plus `events`, `documents`
  * and `embeddings`), with the fixture column names, types and value
  * ranges. Every value is a hash of (row id, seed, column), so the same
  * seed and scale give the same tables whatever the partitioning.
  * One table is one parquet directory `<dir>/<name>.parquet`. Dates are
  * time-zone-naive like the fixtures'; `events.ts` is a session (UTC)
  * timestamp, because the event queries take `unix_micros` of it. */
object TableGen {

  private def h(seed: Long, salt: Int, cols: Column*): Column =
    xxhash64((lit(seed) +: lit(salt) +: cols): _*)

  /** Uniform integer in [0, n). */
  private def int(seed: Long, salt: Int, n: Long, cols: Column*): Column =
    pmod(h(seed, salt, cols: _*), lit(n))

  /** Uniform double in [0, 1). */
  private def unit(seed: Long, salt: Int, cols: Column*): Column =
    int(seed, salt, 1000000007L, cols: _*) / lit(1000000007.0)

  private def pick(seed: Long, salt: Int, vals: Seq[String],
      cols: Column*): Column =
    element_at(array(vals.map(lit): _*),
      (int(seed, salt, vals.size, cols: _*) + 1).cast("int"))

  private def money(u: Column, lo: Double, hi: Double): Column =
    round(lit(lo) + u * (hi - lo), 2)

  private def day(from: String, days: Int, u: Column): Column =
    (to_timestamp(lit(from)) + make_dt_interval(
      floor(u * days).cast("int"), lit(0), lit(0), lit(0))).cast("timestamp_ntz")

  private val Vocab = Seq("a", "the", "key", "agg", "row", "scan", "slow",
    "fast", "table", "value", "part", "hash", "merge", "batch", "spark",
    "line", "sort", "window", "order", "data", "column", "join", "small",
    "big", "customer", "query", "filter", "group", "stream", "index")

  def write(spark: SparkSession, dir: String, seed: Long, sf: Double): Map[String, Long] = {
    def n(base: Double): Long = math.max(1L, math.round(base * sf))
    val nCust = n(150000); val nSupp = n(10000); val nPart = n(200000)
    val nOrd = n(1500000); val nLine = n(6000000); val nEv = n(1000000)
    val nDoc = n(50000); val nVec = n(50000)
    val id = col("id")
    def save(name: String, df: DataFrame): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")

    save("region", spark.range(5).select(id.cast("int").as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE",
        "MIDDLE EAST").map(lit): _*), (id + 1).cast("int")).as("r_name")))
    save("nation", spark.range(25).select(id.cast("int").as("n_nationkey"),
      concat(lit("NATION_"), id).as("n_name"),
      (id % 5).cast("int").as("n_regionkey")))
    save("customer", spark.range(nCust).select(id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"),
      int(seed, 1, 25, id).cast("int").as("c_nationkey"),
      money(unit(seed, 2, id), -999.99, 9999.99).as("c_acctbal"),
      pick(seed, 3, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
        "MACHINERY"), id).as("c_mktsegment")))
    save("supplier", spark.range(nSupp).select(id.as("s_suppkey"),
      format_string("Supplier#%09d", id).as("s_name"),
      int(seed, 4, 25, id).cast("int").as("s_nationkey"),
      money(unit(seed, 5, id), -999.99, 9999.99).as("s_acctbal")))
    save("part", spark.range(nPart).select(id.as("p_partkey"),
      concat_ws(" ",
        pick(seed, 6, Seq("small", "large", "red", "blue", "hot", "cold",
          "old", "new"), id),
        pick(seed, 7, Seq("ring", "widget", "bolt", "gear", "anvil", "rod",
          "plate", "gizmo"), id)).as("p_name"),
      concat(lit("Brand#"), int(seed, 8, 25, id) + 1).as("p_brand"),
      pick(seed, 9, Seq("ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL",
        "MEDIUM"), id).as("p_type"),
      (int(seed, 10, 50, id) + 1).cast("int").as("p_size"),
      round(lit(900.0) + (id % 1000) / 10.0, 2).as("p_retailprice")))
    save("orders", spark.range(nOrd).select(id.as("o_orderkey"),
      int(seed, 11, nCust, id).as("o_custkey"),
      pick(seed, 12, Seq("F", "O", "P"), id).as("o_orderstatus"),
      money(unit(seed, 13, id), 1000.0, 500000.0).as("o_totalprice"),
      day("1995-01-01", 2404, unit(seed, 14, id)).as("o_orderdate"),
      pick(seed, 15, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
        "5-LOW"), id).as("o_orderpriority")))
    // Line numbers 1..7 within an order; ~4 lines per order on average.
    save("lineitem", spark.range(nLine).select(
      int(seed, 16, nOrd, id).as("l_orderkey"),
      int(seed, 17, nPart, id).as("l_partkey"),
      int(seed, 18, nSupp, id).as("l_suppkey"),
      (int(seed, 19, 7, id) + 1).cast("int").as("l_linenumber"),
      (int(seed, 20, 50, id) + 1).cast("double").as("l_quantity"),
      money(unit(seed, 21, id), 900.0, 105000.0).as("l_extendedprice"),
      (int(seed, 22, 11, id) / 100.0).as("l_discount"),
      (int(seed, 23, 9, id) / 100.0).as("l_tax"),
      pick(seed, 24, Seq("A", "N", "R"), id).as("l_returnflag"),
      pick(seed, 25, Seq("F", "O"), id).as("l_linestatus"),
      day("1995-01-02", 2498, unit(seed, 26, id)).as("l_shipdate")))
    save("events", spark.range(nEv).select(id.as("event_id"),
      (to_timestamp(lit("2024-01-01")) + make_dt_interval(lit(0), lit(0),
        lit(0), floor(unit(seed, 27, id) * 30 * 86400 * 1e6) / 1e6))
        .as("ts"),
      int(seed, 28, math.max(1L, n(15000)), id).as("user_id"),
      pick(seed, 29, Seq("click", "signup", "error", "view", "purchase"), id)
        .as("event_type"),
      money(unit(seed, 30, id), 0.01, 490.02).as("value"),
      format_string("{\"k\": %d}", int(seed, 31, 100, id)).as("props")))
    // Every fifth document is a near-copy of the one before it (one word
    // in ten redrawn), so the dedup and similarity families find pairs,
    // also between the held-out batch (doc_id % 10 = 0) and the corpus.
    val src = when(id % 5 === 0 && id > 0, id - 1).otherwise(id)
    val words = transform(
      sequence(lit(1L), int(seed, 32, 80, src) + 8),
      i => element_at(array(Vocab.map(lit): _*), (pmod(xxhash64(lit(seed),
        lit(33), when(i % 10 === 0, id).otherwise(src), i),
        lit(Vocab.size.toLong)) + 1).cast("int")))
    save("documents", spark.range(nDoc).select(id.as("doc_id"),
      array_join(words, " ").as("text"),
      pick(seed, 34, Seq("en", "en", "en", "de", "es", "fr"), id).as("lang"),
      concat(lit("src"), int(seed, 35, 20, id)).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long")))
    // Ten labelled clusters on the unit sphere in 64 dimensions.
    val label = int(seed, 36, 10, id)
    val raw = transform(sequence(lit(0), lit(63)), j =>
      unit(seed, 37, label, j) - lit(0.5) +
        (unit(seed, 38, id, j) - lit(0.5)) * lit(0.6))
    save("embeddings", spark.range(nVec)
      .select(id.as("vec_id"), raw.as("raw"), label.cast("int").as("label"))
      .select(col("vec_id"), transform(col("raw"), x => (x / sqrt(
        aggregate(col("raw"), lit(0.0), (acc, y) => acc + y * y)))
        .cast("float")).as("embedding"), col("label")))
    Map("customer" -> nCust, "supplier" -> nSupp, "part" -> nPart,
      "orders" -> nOrd, "lineitem" -> nLine, "events" -> nEv,
      "documents" -> nDoc, "embeddings" -> nVec)
  }
}
