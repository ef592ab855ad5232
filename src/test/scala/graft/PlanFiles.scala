package graft

import java.nio.file.{Files, Paths}
import java.nio.charset.StandardCharsets

/** The plan-dump main. For each named query it renders the
  * `.explain("formatted")` plan and the post-execution (AQE-final) plan,
  * once with the columnar partial-agg tier disabled (`<q>_before.txt`) and
  * once enabled (`<q>_after.txt`). The tier anchors at runtime (AQE applies
  * physical rules per stage), so the executed plan is captured after
  * driving the query's own plan through an RDD count. An output directory
  * of `-` prints the plans instead of writing files. The session is
  * [[Bench.buildSession]]'s; the data is SPARK_GRAFT_SF_DIR (default
  * /root/testdata/sf0.01).
  * Run: sbt "Test/runMain graft.PlanFiles plans/r19 dedup_exact dedup_exact_hash64" */
object PlanFiles {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: PlanFiles <outDir | -> <query>...")
    val toStdout = args(0) == "-"
    val outDir = Paths.get(args(0))
    if (!toStdout) Files.createDirectories(outDir)
    val names = args.drop(1).toSeq
    val spark = Bench.buildSession()
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    for (n <- names; (tier, suffix) <- Seq("false" -> "before", "true" -> "after")) {
      spark.conf.set("spark.graft.columnar.partialAgg", tier)
      val df = SparkEntry.queries(n)(spark, dir)
      val pre = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      df.queryExecution.executedPlan.execute().count()
      val post = df.queryExecution.executedPlan.toString
      val body =
        s"== $n (spark.graft.columnar.partialAgg=$tier) ==\n\n" +
        "---- pre-execution explain(formatted) ----\n" + pre +
        "\n---- executed plan (post-AQE) ----\n" + post + "\n"
      if (toStdout) println(body)
      else Files.write(outDir.resolve(s"${n}_$suffix.txt"), body.getBytes(StandardCharsets.UTF_8))
      println(s"[planfiles] ${n}_$suffix (tier=$tier, " +
        s"GraftColumnarPartialAgg=${post.contains("GraftColumnarPartialAgg")})")
    }
    spark.stop()
  }
}
