package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.pipeline.Dedup

/** VERDICT r19 #4: attack the pair-DISTINCT floor in dedup_jaccard_pairs
  * from the one angle the r19 probes did NOT try — shrink the number of
  * pair-row EXCHANGES rather than the per-row key bytes (the (id_a,id_b)
  * key is already two longs; any re-encoding is wider in UnsafeRow terms:
  * 2 longs = 8B null bits + 16B values, one binary(16) = 8 + 8 offset/len
  * + 16 payload).
  *
  * Shape A (committed): candidates .distinct() — partial agg, exchange on
  * (id_a,id_b), final agg — then verifyPairs repartitions by id_a: the
  * pair rows cross TWO exchanges (map-side-combined pairs, then distinct
  * pairs again).
  * Shape B (probe): repartition(p, id_a) FIRST, then dropDuplicates:
  * HashPartitioning(id_a) satisfies ClusteredDistribution(id_a, id_b), so
  * the planner runs ONE complete aggregate with no second exchange, and
  * the verify join reuses the id_a partitioning — pair rows cross ONE
  * exchange. The trade: the one exchange carries the RAW pre-distinct
  * multiset (no map-side combine), so B wins only if one raw shuffle is
  * cheaper than (combine + shuffle + final + reshuffle).
  *
  * Interleaved same-window A/B, min-of-2 per round, full-pipeline rows
  * too (the decision statistic). Run:
  * SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt "Test/runMain graft.JaccardDistinctProbe"
  */
object JaccardDistinctProbe {
  def main(args: Array[String]): Unit = {
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    RelationalQueries.ensureViews(spark, dir)
    val docs = spark.table("documents")
    val p = spark.sessionState.conf.numShufflePartitions

    def time(label: String, df: => DataFrame): Double = {
      spark.sparkContext.setJobDescription(s"probe: $label")
      var best = Double.MaxValue
      for (_ <- 0 until 2) {
        val t0 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        best = math.min(best, (System.nanoTime() - t0) / 1e9)
      }
      best
    }

    // shared pipeline prefix (identical to Dedup.jaccardPairsDfCapped)
    val sh = Dedup.shingles(docs)
    val hsh = sh.select(col("doc_id"), xxhash64(col("s")).as("s"))
    val cold = hsh.groupBy(col("s")).agg(count(lit(1)).as("df"))
      .where(col("df") <= 100).select(col("s"))
    val shc = hsh.join(cold, Seq("s"))
    def rawPairs: DataFrame = shc.as("a").join(shc.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
    val sets = hsh.groupBy(col("doc_id"))
      .agg(sort_array(collect_set(col("s"))).as("ss"))

    def verify(cands: DataFrame, repartitionFirst: Boolean): DataFrame = {
      val inter = graft.functions.GraftFunctions
        .sortedIntersectCount(col("sa.ss"), col("sb.ss"))
      val c = if (repartitionFirst) cands.repartition(p, col("id_a")) else cands
      c.join(sets.as("sa"), col("id_a") === col("sa.doc_id"))
        .join(sets.as("sb"), col("id_b") === col("sb.doc_id"))
        .select(col("id_a"), col("id_b"), inter.as("inter"),
          (size(col("sa.ss")) + size(col("sb.ss"))).cast("long").as("szsum"))
        .select(col("id_a"), col("id_b"), col("inter"),
          (col("szsum") - col("inter")).as("uni"))
        .where(col("inter") * 7 >= col("uni") * 2)
        .orderBy(col("id_a"), col("id_b"))
    }

    // A: committed shape — distinct() then verify's repartition(id_a)
    def candsA: DataFrame = rawPairs.distinct()
    def fullA: DataFrame = verify(candsA, repartitionFirst = true)
    // B: one exchange — repartition(id_a) then exchange-free dedup
    def candsB: DataFrame =
      rawPairs.repartition(p, col("id_a")).dropDuplicates("id_a", "id_b")
    def fullB: DataFrame = verify(candsB, repartitionFirst = false)

    // result identity (cheap, sf-independent): same pair set both ways
    val ra = fullA.collect().map(_.toString).toSeq
    val rb = fullB.collect().map(_.toString).toSeq
    println(s"[probe] identity: A==${ra.length} rows, B==${rb.length} rows, " +
      s"equal=${ra == rb}")
    // plan shape evidence: count exchanges below each candidate distinct
    def exchanges(df: DataFrame): Int = {
      df.queryExecution.executedPlan.execute().count()
      PlanShuffles.count(df.queryExecution.executedPlan)
    }
    println(s"[probe] exchanges: candsA=${exchanges(candsA)} candsB=${exchanges(candsB)}")

    // interleaved rounds
    for (r <- 1 to 4) {
      val ca = time("cands A (distinct)", candsA)
      val cb = time("cands B (repart+dedup)", candsB)
      val fa = time("FULL A", fullA)
      val fb = time("FULL B", fullB)
      println(f"[probe] round $r: candsA=$ca%.3f candsB=$cb%.3f " +
        f"fullA=$fa%.3f fullB=$fb%.3f")
    }
    spark.stop()
  }
}
