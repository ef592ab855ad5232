package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.delta._

/** A MERGE source that changes between evaluations, like a
  * non-deterministic expression or files rewritten while the MERGE runs:
  * it counts how often each source key is evaluated, and drops the keys in
  * `dropKeys` in the `dropAt`-th evaluation. An object, because local-mode
  * tasks run in the driver JVM. */
object SourceProbe {
  private val seen = new ConcurrentHashMap[Long, AtomicInteger]()
  @volatile private var dropAt = 0
  @volatile private var dropKeys = Set.empty[Long]

  def reset(at: Int, keys: Set[Long]): Unit = {
    seen.clear(); dropAt = at; dropKeys = keys
  }
  def keep(k: Long): Boolean = {
    val n = seen.computeIfAbsent(k, _ => new AtomicInteger).incrementAndGet()
    !(n == dropAt && dropKeys(k))
  }
  def evaluations: Map[Long, Int] = seen.asScala.map { case (k, n) => k -> n.get }.toMap
}

/** Every MERGE entry point evaluates its source once, keeps the table
  * consistent whichever evaluation a changing source changes in, and
  * releases what it persisted. */
class MergeSourceSpec extends AnyFunSuite {
  import TestSpark._

  private val keep = udf((k: Long) => SourceProbe.keep(k)).asNondeterministic()

  /** keys 0..99, v = "old" */
  private def table(cdf: Boolean): String = {
    val dir = java.nio.file.Files.createTempDirectory("merge-source").toString + "/t"
    DeltaWriter.append(spark,
      spark.range(100).select(col("id").as("k"), lit("old").as("v")).repartition(2), dir,
      configuration = if (cdf) Map("delta.enableChangeDataFeed" -> "true") else Map.empty)
    dir
  }

  private def contents(dir: String): Seq[(Long, String)] =
    DeltaTable.forPath(spark, dir).toDF.select(col("k"), col("v")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq

  private def sqlMerge(dir: String, src: DataFrame, clauses: String) = {
    spark.conf.set("spark.sql.catalog.graft", "graft.delta.GraftCatalog")
    GraftCatalog.attach("merge_source_t", dir)
    src.createOrReplaceTempView("merge_source_s")
    spark.sql("MERGE INTO graft.merge_source_t t USING merge_source_s s " +
      s"ON t.k = s.k $clauses").collect()(0)
  }

  /** Upsert-shaped entry points: (rows updated, rows inserted). */
  private val upserts: Seq[(String, (String, DataFrame) => (Long, Long))] = Seq(
    "builder MERGE" -> { (dir, src) =>
      val (u, _, i) = DeltaTable.forPath(spark, dir).merge(src, "k")
        .whenMatchedUpdateAll().whenNotMatchedInsertAll().execute()
      (u, i)
    },
    "upsert" -> ((dir, src) => DeltaTable.forPath(spark, dir).upsert(src, Seq("k"))),
    "SQL MERGE" -> { (dir, src) =>
      val r = sqlMerge(dir, src,
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
      (r.getLong(0), r.getLong(1))
    })

  /** Delete-only entry points: rows deleted. */
  private val deletes: Seq[(String, (String, DataFrame) => Long)] = Seq(
    "mergeDelete" -> ((dir, src) =>
      DeltaMerge.mergeDelete(spark, DeltaLog.forPath(spark, dir), src, Seq("k"))),
    "builder delete-only MERGE" -> ((dir, src) =>
      DeltaTable.forPath(spark, dir).merge(src, "k").whenMatchedDelete().execute()._2),
    "SQL delete-only MERGE" -> ((dir, src) =>
      sqlMerge(dir, src, "WHEN MATCHED THEN DELETE").getLong(0)))

  private val matchedKeys = (90L until 100L).toSet

  /** Runs `merge` with the source dropping the matched keys in evaluation
    * 1, 2, ... until an evaluation no source row reached; `check` gets the
    * table directory after each run. */
  private def everyEvaluation(what: String, cdf: Boolean)(merge: String => Unit)
      (check: String => Unit): Unit = {
    var at = 1
    var reached = true
    while (reached && at <= 8) {
      val dir = table(cdf)
      SourceProbe.reset(at, matchedKeys)
      withClue(s"$what, cdf=$cdf, dropping in evaluation $at: ") {
        merge(dir)
        check(dir)
        val evals = SourceProbe.evaluations
        assert(evals.nonEmpty && evals.values.forall(_ == 1),
          s"source evaluated more than once per row: ${evals.toSeq.sorted}")
        reached = evals.values.exists(_ >= at)
      }
      at += 1
    }
  }

  test("the MERGE source is evaluated once; a changing source cannot corrupt the table") {
    for (cdf <- Seq(false, true)) {
      for ((name, run) <- upserts) {
        var counts = (0L, 0L)
        everyEvaluation(name, cdf) { dir =>
          val src = spark.range(90, 110).select(col("id").as("k"), lit("new").as("v"))
            .where(keep(col("k")))
          counts = run(dir, src)
        } { dir =>
          val after = contents(dir)
          assert(after.size == 110 && after.map(_._1).distinct.size == 110,
            s"rows lost or duplicated: ${after.size} rows")
          assert(counts == ((after.count { case (k, v) => k < 100 && v == "new" }.toLong,
            after.count(_._1 >= 100).toLong)), s"returned $counts")
        }
      }
      for ((name, run) <- deletes) {
        var deleted = 0L
        everyEvaluation(name, cdf) { dir =>
          deleted = run(dir, spark.range(90, 110).select(col("id").as("k"))
            .where(keep(col("k"))))
        } { dir =>
          val after = contents(dir)
          assert(after.map(_._1).distinct.size == after.size, "rows duplicated")
          assert(after.size + deleted == 100, s"returned $deleted, ${after.size} rows left")
        }
      }
    }
  }

  test("a MERGE releases what it persisted, when it commits and when a guard refuses") {
    val persisted = spark.sparkContext.getPersistentRDDs.keySet
    val dir = table(cdf = false)
    DeltaTable.forPath(spark, dir).merge(
      spark.range(95, 105).select(col("id").as("k"), lit("new").as("v")), "k")
      .whenMatchedUpdateAll().whenNotMatchedInsertAll().execute()
    assert(spark.sparkContext.getPersistentRDDs.keySet == persisted)
    val e = intercept[IllegalStateException] {
      DeltaTable.forPath(spark, dir).upsert(
        spark.range(3).union(spark.range(3)).select(col("id").as("k"), lit("dup").as("v")),
        Seq("k"))
    }
    assert(e.getMessage.contains("MERGE refused"), e.getMessage)
    assert(spark.sparkContext.getPersistentRDDs.keySet == persisted)
  }

  test("delete-only MERGE: one cardinality rule; refusals name the logical key") {
    // duplicate source keys 0 and 1: an unconditional WHEN MATCHED DELETE
    // is exempt from the guards and deletes each matched row once
    val dupKeys = spark.range(5).union(spark.range(2)).select(col("id").as("k"))
    for ((name, run) <- deletes) withClue(s"$name: ") {
      val dir = table(cdf = false)
      assert(run(dir, dupKeys) == 5)
      assert(contents(dir).map(_._1).sorted == (5L until 100L))
    }
    // every other shape keeps the guards
    val dir = table(cdf = false)
    val refusals = Seq(
      intercept[IllegalStateException] {
        DeltaTable.forPath(spark, dir).merge(dupKeys, "k").whenMatchedDelete("t.k > 0").execute()
      },
      intercept[IllegalStateException] {
        DeltaTable.forPath(spark, dir).upsert(dupKeys.withColumn("v", lit("dup")), Seq("k"))
      })
    refusals.foreach { e =>
      assert(e.getMessage.startsWith("MERGE refused: source has more than one row for key k="),
        e.getMessage)
    }
    DeltaWriter.append(spark, spark.range(1).select(col("id").as("k"), lit("twin").as("v")), dir)
    val target = intercept[IllegalStateException] {
      DeltaTable.forPath(spark, dir).merge(
        spark.range(1).select(col("id").as("k"), lit("new").as("v")), "k")
        .whenMatchedUpdateAll().execute()
    }
    assert(target.getMessage == "MERGE refused: matched target has 2 rows for key k=0",
      target.getMessage)
    assert(contents(dir).size == 101, "a refused MERGE must not commit")
  }
}
