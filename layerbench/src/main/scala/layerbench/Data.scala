package layerbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Seeded generator of the benchmark's input tables: TPC-H-shaped
 * `lineitem`, `orders` and `customer`, an `events` stream and an
 * LLM-pipeline corpus (`documents`, `embeddings`), with the column names
 * and types the library's queries expect.
 *
 * Every value is a hash of (seed, row key, column tag), so one seed always
 * yields the same rows regardless of partitioning. `lineitem` is emitted
 * in `l_orderkey` order with `files` contiguous key ranges, the layout a
 * range-clustered writer produces, so stats skipping has ranges to prune.
 */
final class Data(spark: SparkSession, seed: Long) {

  private def h(tag: Int, keys: Column*): Column =
    xxhash64((lit(seed) +: lit(tag) +: keys): _*)

  /** Uniform integer in [0, m). */
  private def u(m: Long, tag: Int, keys: Column*): Column =
    pmod(h(tag, keys: _*), lit(m))

  private def pick(values: Seq[String], tag: Int, keys: Column*): Column =
    element_at(array(values.map(lit): _*), (u(values.size, tag, keys: _*) + 1).cast("int"))

  /** Day-granular timestamp in [1995-01-01, +2500 days). */
  private def day(tag: Int, keys: Column*): Column =
    timestamp_seconds(lit(788918400L) + u(2500, tag, keys: _*) * 86400)

  private val segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val eventTypes = Seq("click", "view", "purchase", "signup", "error")
  private val words = Seq("a", "the", "data", "table", "row", "column", "scan", "join",
    "agg", "sort", "hash", "merge", "batch", "stream", "window", "filter", "query",
    "value", "key", "part", "line", "order", "customer", "group", "vector", "spark",
    "fast", "slow", "big", "small")

  /** Lineitem rows for orders [fromOrder, untilOrder): 1-7 lines per order
    * (about 4 on average), clustered by `l_orderkey` in `files` ranges. */
  def lineitem(fromOrder: Long, untilOrder: Long, files: Int, parts: Long,
      supps: Long): DataFrame = {
    val o = col("id")
    spark.range(fromOrder, untilOrder, 1, files)
      .select(o.as("l_orderkey"),
        explode(sequence(lit(1), (u(7, 1, o) + 1).cast("int"))).as("l_linenumber"))
      .select(
        col("l_orderkey"),
        u(parts, 2, col("l_orderkey"), col("l_linenumber")).as("l_partkey"),
        u(supps, 3, col("l_orderkey"), col("l_linenumber")).as("l_suppkey"),
        col("l_linenumber"),
        (u(50, 4, col("l_orderkey"), col("l_linenumber")) + 1).cast("double").as("l_quantity"),
        ((u(50, 4, col("l_orderkey"), col("l_linenumber")) + 1) *
          (u(100000, 5, col("l_orderkey"), col("l_linenumber")) + 90000) / 100.0)
          .as("l_extendedprice"),
        (u(11, 6, col("l_orderkey"), col("l_linenumber")) / 100.0).as("l_discount"),
        (u(9, 7, col("l_orderkey"), col("l_linenumber")) / 100.0).as("l_tax"),
        pick(Seq("A", "N", "R"), 8, col("l_orderkey"), col("l_linenumber")).as("l_returnflag"),
        pick(Seq("F", "O"), 9, col("l_orderkey"), col("l_linenumber")).as("l_linestatus"),
        day(10, col("l_orderkey"), col("l_linenumber")).as("l_shipdate"))
  }

  def orders(n: Long, customers: Long, files: Int): DataFrame = {
    val k = col("id")
    spark.range(0, n, 1, files).select(
      k.as("o_orderkey"),
      u(customers, 11, k).as("o_custkey"),
      pick(Seq("F", "O", "P"), 12, k).as("o_orderstatus"),
      (u(50000000, 13, k) / 100.0 + 1000).as("o_totalprice"),
      day(14, k).as("o_orderdate"),
      pick(priorities, 15, k).as("o_orderpriority"))
  }

  def customer(n: Long): DataFrame = {
    val k = col("id")
    spark.range(0, n, 1, 1).select(
      k.as("c_custkey"),
      concat(lit("Customer#"), lpad(k.cast("string"), 9, "0")).as("c_name"),
      u(25, 16, k).cast("int").as("c_nationkey"),
      (u(1100000, 17, k) / 100.0 - 1000).as("c_acctbal"),
      pick(segments, 18, k).as("c_mktsegment"))
  }

  /** One event every ~13 s from 2024-01-01 with a 0-11 s jitter. */
  def events(n: Long, files: Int): DataFrame = {
    val k = col("id")
    spark.range(0, n, 1, files).select(
      k.as("event_id"),
      timestamp_micros(lit(1704067200000000L) + k * 13000000L + u(11000000, 26, k)).as("ts"),
      u(1000, 27, k).as("user_id"),
      pick(eventTypes, 28, k).as("event_type"),
      (u(10000, 29, k) / 100.0).as("value"),
      concat(lit("{\"k\": "), u(100, 30, k).cast("string"), lit("}")).as("props"))
  }

  /** Documents of 20-80 words. One in `dupEvery` repeats an earlier
    * document's text exactly, and one in `dupEvery` repeats it with its
    * last word replaced, so exact and near-duplicate dedup both find work. */
  def documents(n: Long, dupEvery: Int): DataFrame = {
    val k = col("id")
    val wordsArr = array(words.map(lit): _*)
    // the source doc: itself, or an earlier doc for duplicates
    val kind = u(dupEvery.toLong, 31, k)
    val src = when(kind === 0 && k > 0, u(1L << 40, 32, k) % k)
      .when(kind === 1 && k > 0, u(1L << 40, 33, k) % k).otherwise(k)
    def text(s: Column): Column = {
      val len = (u(61, 34, s) + 20).cast("int")
      array_join(transform(sequence(lit(1), len),
        i => element_at(wordsArr, (pmod(xxhash64(lit(seed), lit(35), s, i),
          lit(words.size.toLong)) + 1).cast("int"))), " ")
    }
    val base = spark.range(0, n, 1, 4).select(k, src.as("src"), kind.as("kind"))
    val t = text(col("src"))
    val body = when(col("kind") === 1 && col("id") > 0,
      concat(regexp_replace(t, " [a-z]+$", ""), lit(" zzz"))).otherwise(t)
    base.select(
      col("id").as("doc_id"),
      body.as("text"),
      pick(Seq("en", "de", "fr", "es", "zh"), 36, col("id")).as("lang"),
      concat(lit("src"), (u(10, 37, col("id"))).cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  /** `dim`-wide float vectors with values in [-0.5, 0.5). */
  def embeddings(n: Long, dim: Int): DataFrame = {
    val k = col("id")
    spark.range(0, n, 1, 2).select(
      k.as("vec_id"),
      transform(sequence(lit(1), lit(dim)),
        i => ((pmod(xxhash64(lit(seed), lit(38), k, i), lit(1000000L)) / 1000000.0) - 0.5)
          .cast("float")).as("embedding"),
      u(10, 39, k).cast("int").as("label"))
  }
}
