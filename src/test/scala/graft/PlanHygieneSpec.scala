package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.delta._

/** Plan-shape assertions: the things that make 100 TB viable must be
  * visible in the physical plan, not assumed — filter pushdown to parquet,
  * partition-filter classification, broadcast joins for dims, and absence
  * of shuffles in scan-local paths (regression guard for the scale
  * properties SURVEY.md §4 promises). */
class PlanHygieneSpec extends AnyFunSuite {
  import TestSpark._

  private def executedPlan(df: org.apache.spark.sql.DataFrame): SparkPlan = {
    df.collect() // force AQE final plan
    df.queryExecution.executedPlan
  }
  private def formatted(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)

  test("delta scan pushes data filters into the parquet reader") {
    val p = Fixtures.delta(spark, sfDir, "lineitem", Fixtures.Plain)
    val df = DeltaTable.forPath(spark, p).toDF
      .where(col("l_orderkey") < 50 && col("l_quantity") > 10)
      .select(col("l_orderkey"), col("l_quantity"))
    val plan = formatted(df)
    assert(plan.contains("PushedFilters:"), plan)
    assert(plan.contains("LessThan(l_orderkey,50)"), plan)
    // column pruning: only the 2 projected columns in ReadSchema
    assert(plan.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"), plan)
  }

  test("partition filters prune files (not evaluated row-wise)") {
    val p = Fixtures.delta(spark, sfDir, "lineitem", Fixtures.Part)
    GraftMetrics.clear()
    val df = DeltaTable.forPath(spark, p).toDF
      .where(col("l_returnflag") === "R")
    df.collect()
    val ev = GraftMetrics.pushdownLog(spark).collect()
    assert(ev.nonEmpty)
    val last = ev.last
    assert(last.getAs[Int]("filesAfter") < last.getAs[Int]("filesBefore"),
      s"partition pruning did not reduce files: $last")
  }

  test("generated-column partition pruning: base-column filters prune year partitions") {
    import org.apache.spark.sql.types.MetadataBuilder
    val src = Fixtures.readParquet(spark, sfDir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
    val genMeta = new MetadataBuilder()
      .putString("delta.generationExpression", "year(o_orderdate)").build()
    val p = java.nio.file.Files.createTempDirectory("graft-genprune").toString + "/t"
    val withYear = src
      .withColumn("o_year", expr("CAST(year(o_orderdate) AS BIGINT)"))
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
        col("o_year").as("o_year", genMeta))
    graft.delta.DeltaWriter.append(spark, withYear, p, partitionBy = Seq("o_year"))

    GraftMetrics.clear()
    val df = DeltaTable.forPath(spark, p).toDF
      .where(col("o_orderdate") >= "1996-01-01" && col("o_orderdate") < "1997-01-01")
    val n = df.count()
    val expected = src.where(col("o_orderdate") >= "1996-01-01" &&
      col("o_orderdate") < "1997-01-01").count()
    assert(n == expected, s"pruned scan returned $n rows, want $expected")

    val ev = GraftMetrics.pushdownLog(spark).collect()
    assert(ev.exists(_.getAs[String]("filterType") == "generated"),
      s"no generated-pruning event: ${ev.mkString(";")}")
    val const = ev.filter(_.getAs[String]("filterType") == "constant")
    assert(const.nonEmpty && const.last.getAs[Int]("filesAfter") <
      const.last.getAs[Int]("filesBefore"),
      s"derived partition filter did not prune files: ${const.mkString(";")}")

    // equality and IN also derive
    GraftMetrics.clear()
    DeltaTable.forPath(spark, p).toDF
      .where(col("o_orderdate") === "1995-06-15").count()
    assert(GraftMetrics.pushdownLog(spark).collect()
      .exists(_.getAs[String]("filterType") == "generated"))
  }

  test("unfiltered count(*) is answered from metadata — no scan, DV-aware") {
    val p = Fixtures.delta(spark, sfDir, "supplier", Fixtures.Plain)
    val t = DeltaTable.forPath(spark, p)
    val df = t.toDF.groupBy().count()
    val optimized = df.queryExecution.optimizedPlan
    assert(optimized.collectLeaves().forall(
      _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]),
      s"count(*) must not scan:\n$optimized")
    val expected = Fixtures.readParquet(spark, sfDir, "supplier").count()
    assert(df.collect()(0).getLong(0) == expected)
    // spark.sql COUNT(*) over an attached view takes the same path
    t.attach("meta_count_t")
    val viaSql = spark.sql("SELECT count(*) AS n FROM meta_count_t")
    assert(viaSql.queryExecution.optimizedPlan.collectLeaves().forall(
      _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]))
    assert(viaSql.collect()(0).getLong(0) == expected)

    // DV table: count subtracts the deletion-vector cardinalities
    val dv = Fixtures.delta(spark, sfDir, "supplier", Fixtures.Dv)
    val dvt = DeltaTable.forPath(spark, dv)
    val dvCount = dvt.toDF.groupBy().count()
    assert(dvCount.queryExecution.optimizedPlan.collectLeaves().forall(
      _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]),
      "DV cardinality is metadata — the rewrite must still fire")
    assert(dvCount.collect()(0).getLong(0) == dvt.toDF.where(lit(true)).count())

    // a filter bails to the real scan (and still answers correctly)
    val filtered = t.toDF.where(col("s_nationkey") > 5).groupBy().count()
    assert(!filtered.queryExecution.optimizedPlan.collectLeaves().forall(
      _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]))
  }

  test("unfiltered MIN/MAX/COUNT(col) answer from metadata; DVs, strings " +
       "and filters bail to the real scan") {
    def isLocal(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.optimizedPlan.collectLeaves().forall(
        _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
    val p = Fixtures.delta(spark, sfDir, "supplier", Fixtures.Plain)
    val t = DeltaTable.forPath(spark, p)
    val df = t.toDF.agg(min(col("s_suppkey")).as("mn"),
      max(col("s_suppkey")).as("mx"), count(col("s_suppkey")).as("c"),
      count(lit(1)).as("n"))
    assert(isLocal(df), s"min/max must not scan:\n${df.queryExecution.optimizedPlan}")
    val src = Fixtures.readParquet(spark, sfDir, "supplier")
    val exp = src.agg(min(col("s_suppkey")), max(col("s_suppkey")),
      count(col("s_suppkey")), count(lit(1))).collect()(0)
    assert(df.collect()(0) == exp)

    // a STRING data column's stats may be truncated bounds — min/max bails…
    assert(!isLocal(t.toDF.agg(min(col("s_name")).as("mn"))))
    // …but count(col) needs only numRecords/nullCount — any type rewrites
    val cName = t.toDF.agg(count(col("s_name")).as("c"))
    assert(isLocal(cName), s"count(string col) must not scan:\n${cName.queryExecution.optimizedPlan}")
    assert(cName.collect()(0).getLong(0) ==
      src.agg(count(col("s_name"))).collect()(0).getLong(0))
    // a filter disqualifies the rewrite
    assert(!isLocal(t.toDF.where(col("s_suppkey") > 5)
      .agg(max(col("s_suppkey")).as("mx"))))
    // DVs could have deleted the extreme row — min/max bails…
    val dvt = DeltaTable.forPath(spark,
      Fixtures.delta(spark, sfDir, "supplier", Fixtures.Dv))
    val dvMin = dvt.toDF.agg(min(col("s_suppkey")).as("mn"))
    assert(!isLocal(dvMin))
    // …but still answers right through the scan
    assert(dvMin.collect()(0).getLong(0) ==
      src.where(col("s_suppkey") % 10 =!= 7).agg(min(col("s_suppkey")))
        .collect()(0).getLong(0))
    // the DV-filtered surface still rewrites count(*) (cardinality is
    // metadata); the RAW physical relation's non-rewrite is asserted in
    // MetadataAggSpec (package-private surface)
    assert(isLocal(dvt.toDF.groupBy().count()))

    // PARTITION column extremes come from typed partitionValues — exact
    // for strings too (the scan injects these very values)
    val pp = Fixtures.delta(spark, sfDir, "supplier", Fixtures.Part)
    val pdf = DeltaTable.forPath(spark, pp).toDF.agg(
      min(col("s_nationkey")).as("mn"), max(col("s_nationkey")).as("mx"),
      count(col("s_nationkey")).as("c"))
    assert(isLocal(pdf), s"partition min/max must not scan:\n${pdf.queryExecution.optimizedPlan}")
    assert(pdf.collect()(0) == src.agg(min(col("s_nationkey")),
      max(col("s_nationkey")), count(col("s_nationkey"))).collect()(0))

    // type-widened history: old files wrote INT stats under the widened
    // LONG schema — integral decode still exact
    val wp = Fixtures.delta(spark, sfDir, "supplier", Fixtures.Widen)
    val wdf = DeltaTable.forPath(spark, wp).toDF.agg(
      min(col("s_suppkey")).as("mn"), max(col("s_suppkey")).as("mx"))
    assert(isLocal(wdf), s"widened min/max must not scan:\n${wdf.queryExecution.optimizedPlan}")
    assert(wdf.collect()(0) == src.agg(min(col("s_suppkey")),
      max(col("s_suppkey"))).collect()(0))
  }

  test("GROUP BY partition column answers from the file list — DV-exact " +
       "per-group liveness; grouping by a data column keeps the scan") {
    def isLocal(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.optimizedPlan.collectLeaves().forall(
        _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
    val src = Fixtures.readParquet(spark, sfDir, "supplier")
    // partitioned table + DV DELETE: per-group counts stay exact because
    // every row of a file shares its partition tuple and the DV
    // cardinality is protocol metadata
    val p = java.nio.file.Files.createTempDirectory("graft-gmeta").toString + "/t"
    DeltaWriter.append(spark, src, p, partitionBy = Seq("s_nationkey"))
    DeltaTable.forPath(spark, p).delete(col("s_suppkey") % 3 === 1)
    val t = DeltaTable.forPath(spark, p)
    val df = t.toDF.groupBy(col("s_nationkey")).agg(count(lit(1)).as("n"))
      .orderBy(col("s_nationkey"))
    assert(isLocal(df),
      s"grouped count must not scan:\n${df.queryExecution.optimizedPlan}")
    val exp = src.where(col("s_suppkey") % 3 =!= 1)
      .groupBy(col("s_nationkey")).agg(count(lit(1)).as("n"))
      .orderBy(col("s_nationkey")).collect().toSeq
    assert(df.collect().toSeq == exp, "grouped metadata counts must be DV-exact")
    // DISTINCT over the partition column is the same rewrite
    val d = t.toDF.select(col("s_nationkey")).distinct()
    assert(isLocal(d), s"DISTINCT partition col must not scan:\n${d.queryExecution.optimizedPlan}")
    assert(d.collect().map(_.getInt(0)).sorted.toSeq ==
      exp.map(_.getInt(0)).sorted.toSeq)
    // grouping by a DATA column keeps the real scan (and stays right)
    val byData = t.toDF.groupBy(col("s_name")).agg(count(lit(1)).as("n"))
    assert(!isLocal(byData))
  }

  test("small dimension joins broadcast (no shuffle of the fact side)") {
    RelationalQueries.ensureViews(spark, sfDir)
    val df = spark.table("customer")
      .join(Fixtures.readParquet(spark, sfDir, "nation"),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name")).agg(count(lit(1)))
    val plan = executedPlan(df).toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
  }

  /** Live rows of the DV fixture from plain parquet: the fixture deletes
    * `l_orderkey % 10 = 7`. */
  private def dvOracle = Fixtures.readParquet(spark, sfDir, "lineitem")
    .filter(!(col("l_orderkey") % 10 === 7))

  test("DV scan keeps a single stage up to the aggregate (no extra shuffle)") {
    val p = Fixtures.delta(spark, sfDir, "lineitem", Fixtures.Dv)
    // column aggregates, NOT count(*) alone: the metadata-only count
    // rewrite would otherwise answer from the log and skip the scan
    def agg(d: org.apache.spark.sql.DataFrame) =
      d.agg(round(sum(col("l_quantity")), 2), count(col("l_quantity")))
    val df = agg(DeltaTable.forPath(spark, p).toDF)
    val plan = executedPlan(df).toString
    // the dv filter must not introduce a join
    assert(!plan.contains("Join"), plan.take(2000))
    // deleted rows are dropped inside the reader: the scan's format
    // filters each file by the deletion vector its listing carries
    val formats = df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation => r.relation
    }
    assert(formats.nonEmpty && formats.forall {
      case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
        h.fileFormat match {
          case f: GraftParquetFileFormat => f.dropsDeletedRows
          case _ => false
        }
      case _ => false
    }, df.queryExecution.optimizedPlan.toString)
    assert(df.collect()(0) == agg(dvOracle).collect()(0))
  }

  test("every read surface plans one reader-applied relation, no DV filter or renaming project") {
    import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference}
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, Project}
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    spark.conf.set("spark.sql.catalog.graft", "graft.delta.GraftCatalog")
    Seq(("lineitem", Fixtures.Dv), ("nation", Fixtures.Part),
        ("nation", Fixtures.Mapped)).foreach { case (table, variant) =>
      val p = Fixtures.delta(spark, sfDir, table, variant)
      val t = DeltaTable.forPath(spark, p)
      val schema = t.snapshot.schema.fieldNames.toSeq
      val view = s"surface_${variant.name}"
      GraftCatalog.attach(view, p)
      val surfaces = Seq(
        "toDF" -> t.toDF,
        "toDF(version)" -> t.toDF(t.version),
        "toDFAtTimestamp" -> t.toDFAtTimestamp(System.currentTimeMillis()),
        "delta_scan" -> spark.sql(s"SELECT * FROM delta_scan('$p')"),
        "catalog" -> spark.sql(s"SELECT * FROM graft.$view"),
        "format" -> spark.read.format("graftdelta").load(p))
      surfaces.foreach { case (name, df) =>
        val plan = df.queryExecution.analyzed
        val what = s"$name over ${variant.name} $table:\n$plan"
        val relations = plan.collect { case r: LogicalRelation => r.relation }
        assert(relations.length == 1 && (relations.head match {
          case h: HadoopFsRelation => h.location.isInstanceOf[GraftFileIndex] &&
            h.fileFormat.isInstanceOf[GraftParquetFileFormat]
          case _ => false
        }), what)
        assert(plan.collect { case f: Filter => f }.isEmpty, what)
        // only attribute pass-through (and the catalog's same-name
        // re-aliasing onto its own exprIds): no rename, no cast
        assert(plan.collect { case pr: Project => pr }.forall(_.projectList.forall {
          case _: AttributeReference => true
          case Alias(a: AttributeReference, n) => a.name == n
          case _ => false
        }), what)
        // HadoopFsRelation order (partition columns last) for the format;
        // the table's schema order everywhere else
        if (name == "format") assert(df.columns.toSeq.sorted == schema.sorted, what)
        else assert(df.columns.toSeq == schema, what)
      }
      GraftCatalog.detach(view)
    }
  }

  test("registered-source DV scan keeps columnar batches (atomic schema)") {
    val p = Fixtures.delta(spark, sfDir, "lineitem", Fixtures.Dv)
    val df = spark.read.format("graftdelta").load(p)
    // correctness: the live rows of the plain parquet
    assert(df.count() == dvOracle.count() && df.count() > 0)
    // plan: the scan emits batches — a ColumnarToRow (or a columnar scan
    // node) must be present; r2 regressed to row-at-a-time for the whole
    // table whenever any file carried a DV
    val plan = executedPlan(df.select(sum(col("l_quantity")))).toString
    // since r17 the columnar partial agg may consume the batches directly
    // (no ColumnarToRow at all — the MOST columnar outcome); either node
    // proves the scan emitted batches
    assert(plan.contains("ColumnarToRow") ||
        (plan.contains("GraftColumnarPartialAgg") && plan.contains("Batched: true")),
      s"DV scan through registered source lost columnar batches:\n${plan.take(3000)}")
  }

  test("dynamic file re-pruning: join-derived bounds shrink the file list") {
    val p = Fixtures.delta(spark, sfDir, "lineitem", Fixtures.Plain)
    val fact = DeltaTable.forPath(spark, p).toDF
    // dim filter NOT statically inferable as a key range (Catalyst's
    // constraint propagation handles plain `o_orderkey < 40` itself; the
    // dynamic path earns its keep when only the RUNTIME key set is narrow)
    val dim = Fixtures.readParquet(spark, sfDir, "orders")
      .filter(length(col("o_orderkey").cast("string")) === 1)
      .select(col("o_orderkey"))
    // test fixture is tiny — drop the production "fact must be big" gate.
    // try/finally: a failed assertion must not leak minFactBytes=0 (or a
    // disabled rule) into every later test in the shared session.
    spark.conf.set("spark.graft.dynamicFilePruning.minFactBytes", "0")
    try {
      GraftMetrics.clear()
      val joined = fact.join(dim, fact("l_orderkey") === dim("o_orderkey"))
        .agg(count(lit(1)).as("n"), round(sum(col("l_extendedprice")), 2).as("s"))
      val row = joined.collect()(0)
      // correctness unchanged vs an undynamic plan
      spark.conf.set("spark.graft.dynamicFilePruning", "false")
      val expected = try {
        fact.join(dim, fact("l_orderkey") === dim("o_orderkey"))
          .agg(count(lit(1)).as("n"), round(sum(col("l_extendedprice")), 2).as("s"))
          .collect()(0)
      } finally spark.conf.set("spark.graft.dynamicFilePruning", "true")
      assert(row == expected)
      // a `dynamic` pushdown event fired and shrank the candidate files
      val dyn = GraftMetrics.pushdownLog(spark).collect()
        .filter(_.getAs[String]("filterType") == "dynamic")
      assert(dyn.nonEmpty, "no dynamic pushdown event recorded")
      assert(dyn.exists(r => r.getAs[Int]("filesAfter") < r.getAs[Int]("filesBefore")),
        s"dynamic pruning did not shrink files: ${dyn.mkString(";")}")
    } finally {
      spark.conf.unset("spark.graft.dynamicFilePruning.minFactBytes")
      spark.conf.set("spark.graft.dynamicFilePruning", "true")
    }
  }

  test("top-k window rank keeps a partial WindowGroupLimit below the shuffle") {
    // q_window_rank partitions its window by c_mktsegment (5 distinct
    // values). Scale safety rests on the PARTIAL WindowGroupLimit running
    // map-side BEFORE the hash exchange: each input partition forwards at
    // most k rows per segment, so the 5-key final stage sees ~5·P rows, not
    // the whole fact table. Regression-guard that plan shape.
    RelationalQueries.ensureViews(spark, sfDir)
    val df = spark.sql(RelationalQueries.sql("q_window_rank"))
    val plan = df.queryExecution.executedPlan.toString
    val partialIdx = plan.indexOf("WindowGroupLimit")
    assert(plan.contains("Partial") && plan.contains("Final") && partialIdx >= 0,
      s"expected two-phase WindowGroupLimit:\n${plan.take(3000)}")
    // the Partial phase must sit BELOW the exchange (later in tree order)
    val exchangeIdx = plan.indexOf("Exchange hashpartitioning")
    val lastWgl = plan.lastIndexOf("WindowGroupLimit")
    assert(exchangeIdx >= 0 && lastWgl > exchangeIdx,
      s"partial WindowGroupLimit not below the shuffle:\n${plan.take(3000)}")
  }

  test("q18 aggregates lineitem BELOW the join and broadcasts the survivors") {
    // the r4 plan joined orders⋈lineitem first, shuffling the full fact
    // join output; the rewrite groups lineitem (HAVING applied) under the
    // join's build side, which then broadcasts. Guard that shape.
    RelationalQueries.ensureViews(spark, sfDir)
    val df = spark.sql(RelationalQueries.sql("q18_large_orders"))
    val plan = executedPlan(df).toString
    val joinIdx = plan.indexOf("BroadcastHashJoin")
    val aggIdx = plan.indexOf("HashAggregate")
    assert(joinIdx >= 0, s"q18 join did not broadcast:\n${plan.take(3000)}")
    assert(aggIdx > joinIdx,
      s"lineitem aggregate is not under the join (agg-before-join lost):\n${plan.take(3000)}")
  }

  test("centroids aggregate elementwise sums; explode runs on the tiny result") {
    // the r4 plan posexploded every element before the shuffle (64× volume);
    // now a codegen'd HashAggregate of per-element sums runs below and the
    // Generate sits above it, exploding only |labels| rows
    val emb = Fixtures.readParquet(spark, sfDir, "embeddings")
    val df = graft.pipeline.Similarity.centroids(emb)
    val plan = executedPlan(df).toString
    val genIdx = plan.indexOf("Generate")
    val aggIdx = plan.indexOf("HashAggregate")
    assert(aggIdx >= 0, s"no aggregate in centroids plan:\n${plan.take(3000)}")
    assert(genIdx >= 0 && genIdx < aggIdx,
      s"explode is below the aggregate (shuffle inflation is back):\n${plan.take(3000)}")
  }

  test("scan reports log-derived size for cost estimation") {
    val p = Fixtures.delta(spark, sfDir, "lineitem", Fixtures.Plain)
    val snap = DeltaTable.forPath(spark, p).snapshot
    assert(snap.sizeInBytes > 0)
    assert(snap.numRecordsEstimate.contains(
      Fixtures.readParquet(spark, sfDir, "lineitem").count()))
  }
}
