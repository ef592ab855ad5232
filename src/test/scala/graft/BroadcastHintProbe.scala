package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** r20 scaling finding: at x300 the forced /*+ BROADCAST(o) */ in
  * q3_join / q5_multi_join serializes — the hinted side is
  * customer⋈orders (a FILTERED FACT join that grows with SF), and the
  * BroadcastExchange collect+build runs single-threaded on the driver
  * (~8 s of the 10.7 s wall at x300; 8-vs-32-core ratios 1.25 / 1.03
  * where true scalers read 2.1-3.7). A/B: hint vs no-hint (AQE decides) at
  * x10 (the scale the hint was tuned at, r17) and x300.
  * Run: sbt "Test/runMain graft.BroadcastHintProbe <dirA> [dirB ...]"
  */
object BroadcastHintProbe {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (24L * 1024 * 1024).toString)
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes",
        (1L * 1024 * 1024).toString)
      .config("spark.sql.files.maxPartitionBytes", (16L * 1024 * 1024).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def time(df: => DataFrame): Double = {
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }

    val variant = sys.env.getOrElse("GRAFT_HINT_B", "SHUFFLE_HASH(o)")
    for (dir <- args) {
      RelationalQueries.ensureViews(spark, dir)
      for (q <- Seq("q3_join", "q5_multi_join")) {
        val hinted = RelationalQueries.sql(q)
        val alt = hinted.replaceAll("BROADCAST\\(o\\)",
          java.util.regex.Matcher.quoteReplacement(variant))
        require(alt != hinted, s"$q: hint not found")
        def dfA: DataFrame = spark.sql(hinted)
        def dfB: DataFrame = spark.sql(alt)
        // identity (cheap: few output rows)
        val same = dfA.collect().map(_.toString).toSeq ==
          dfB.collect().map(_.toString).toSeq
        time(dfA); time(dfB) // warm both plan shapes
        for (r <- 1 to 2) {
          val a = math.min(time(dfA), time(dfA))
          val b = math.min(time(dfB), time(dfB))
          println(f"[probe] $dir%s $q round $r: BROADCAST=$a%.3f $variant%s=$b%.3f same=$same")
        }
      }
    }
    spark.stop()
  }
}
