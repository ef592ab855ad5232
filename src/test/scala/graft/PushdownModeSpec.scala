package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.delta._

/**
 * Port of the reference's `pushdown_filters` mode matrix
 * (delta_scan.cpp:14-44, test/sql/generated/file_skipping_params.test):
 * the four modes toggle the CONSTANT (WHERE-clause stats skipping) and
 * DYNAMIC (join-derived re-prune) paths independently, never change
 * results, and the pushdown log carries exactly the enabled event types —
 * the same `filter_type` assertions the reference makes over
 * `delta_filter_pushdown_log()`.
 */
class PushdownModeSpec extends AnyFunSuite {
  import TestSpark._

  /** The reference matrix's query shape: one constant WHERE conjunct plus
    * one join whose key set is only knowable at runtime. Returns the count
    * and the pushdown events recorded for the scan. */
  private def run(mode: String): (Long, Set[String]) = {
    val p = Fixtures.delta(spark, sfDir, "lineitem", Fixtures.Plain)
    val fact = DeltaTable.forPath(spark, p)
      .withScanOptions(ScanOptions(pushdownMode = mode)).toDF
    // runtime-only narrow dim (constraint propagation can't turn this
    // length predicate into a static key range — the dynamic path must)
    val dim = Fixtures.readParquet(spark, sfDir, "orders")
      .filter(length(col("o_orderkey").cast("string")) === 1)
      .select(col("o_orderkey"))
    spark.conf.set("spark.graft.dynamicFilePruning.minFactBytes", "0")
    try {
      GraftMetrics.clear()
      val n = fact.where(col("l_quantity") > 10)
        .join(dim, fact("l_orderkey") === dim("o_orderkey")).count()
      val types = GraftMetrics.pushdownLog(spark).collect()
        .map(_.getAs[String]("filterType")).toSet
      (n, types)
    } finally spark.conf.unset("spark.graft.dynamicFilePruning.minFactBytes")
  }

  test("mode matrix: per-mode event types match the reference's log, " +
       "results identical across all four modes") {
    val counts = Seq(
      ScanOptions.All, ScanOptions.ConstantOnly,
      ScanOptions.DynamicOnly, ScanOptions.NoneMode).map { m =>
      val (n, types) = run(m)
      m match {
        case ScanOptions.All =>
          assert(types.contains("constant"), s"all: $types")
          assert(types.contains("dynamic"), s"all: $types")
        case ScanOptions.ConstantOnly =>
          assert(types.contains("constant"), s"constant_only: $types")
          assert(!types.contains("dynamic"), s"constant_only: $types")
        case ScanOptions.DynamicOnly =>
          assert(!types.contains("constant"), s"dynamic_only: $types")
          assert(types.contains("dynamic"), s"dynamic_only: $types")
        case _ =>
          assert(!types.contains("constant") && !types.contains("dynamic"),
            s"none: $types")
      }
      n
    }
    assert(counts.distinct.size == 1, s"results differ across modes: $counts")
    assert(counts.head > 0)
  }

  test("delta_filter_pushdown_log() SQL surface mirrors the reference macro") {
    val p = Fixtures.delta(spark, sfDir, "lineitem", Fixtures.Plain)
    GraftMetrics.clear()
    DeltaTable.forPath(spark, p).toDF.where(col("l_orderkey") < 50).count()
    val rows = spark.sql(
      "SELECT filter_type, files_before, files_after FROM delta_filter_pushdown_log()")
      .collect()
    assert(rows.exists(r => r.getString(0) == "constant" &&
      r.getInt(2) < r.getInt(1)),
      s"expected a shrinking constant event: ${rows.mkString(";")}")
    // the optional literal arg filters by path substring
    assert(spark.sql(
      "SELECT count(*) FROM delta_filter_pushdown_log('no-such-table-xyz')")
      .collect()(0).getLong(0) == 0)
  }

  test("unknown mode errors loudly (reference FromString parity)") {
    intercept[IllegalArgumentException](ScanOptions(pushdownMode = "sometimes"))
    intercept[IllegalArgumentException](ScanOptions.parse("sometimes"))
  }

  test("format read accepts mode strings and boolean back-compat values") {
    val p = Fixtures.delta(spark, sfDir, "nation", Fixtures.Plain)
    val expected = spark.read.format("graftdelta").load(p).count()
    Seq("all", "constant_only", "dynamic_only", "none", "true", "false")
      .foreach { m =>
        val n = spark.read.format("graftdelta")
          .option("pushdownFilters", m).load(p).count()
        assert(n == expected, s"mode $m changed results: $n vs $expected")
      }
  }

  test("pushdown log keeps only the newest Capacity events") {
    GraftMetrics.clear()
    val extra = 5
    (0 until GraftMetrics.Capacity + extra).foreach { i =>
      GraftMetrics.record(PushdownEvent("cap-test", "none", "", i, i))
    }
    val kept = GraftMetrics.pushdownLog(spark).collect().map(_.getAs[Int]("filesBefore"))
    GraftMetrics.clear()
    assert(kept.toSeq == (extra until GraftMetrics.Capacity + extra))
  }
}
