package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.delta._

/** Spark jobs per DML kind on a 40k-row table, with the change data feed
  * off and on. The counts are pinned, so a change that adds a pass over
  * the data to a DML kind fails here. A write is one job: its files'
  * stats are collected in the writing tasks, never by reading them back,
  * and a DML's deletion vectors are built in one job. */
class DmlJobsSpec extends AnyFunSuite {
  import TestSpark._

  private def rows(from: Long, until: Long) =
    spark.range(from, until).select(col("id").as("k"), (col("id") % 97).as("v"))

  /** 10 keys that match and 10 that do not. */
  private def upsertSource = rows(39990, 40010).withColumn("v", lit(-1L))
  private def deleteKeys = rows(0, 10).select(col("k"))

  private val ops: Seq[(String, String => Any)] = Seq(
    "10-row append" -> (dir => DeltaWriter.append(spark, rows(40000, 40010), dir)),
    "DELETE" -> (dir => DeltaTable.forPath(spark, dir).delete(col("k") < 10)),
    "UPDATE" -> (dir => DeltaTable.forPath(spark, dir)
      .update(col("k") < 10, Map("v" -> lit(-1L)))),
    "upsert" -> (dir => DeltaTable.forPath(spark, dir).upsert(upsertSource, Seq("k"))),
    "builder MERGE" -> (dir => DeltaTable.forPath(spark, dir).merge(upsertSource, "k")
      .whenMatchedUpdateAll().whenNotMatchedInsertAll().execute()),
    "mergeDelete" -> (dir => DeltaMerge.mergeDelete(spark,
      DeltaLog.forPath(spark, dir), deleteKeys, Seq("k"))),
    "builder delete-only MERGE" -> (dir => DeltaTable.forPath(spark, dir)
      .merge(deleteKeys, "k").whenMatchedDelete().execute()))

  /** (plain, change data feed on) */
  private val pinned: Map[String, (Int, Int)] = Map(
    "10-row append" -> ((1, 1)),
    "DELETE" -> ((1, 2)),
    "UPDATE" -> ((2, 3)),
    "upsert" -> ((7, 8)),
    "builder MERGE" -> ((7, 8)),
    "mergeDelete" -> ((2, 4)),
    "builder delete-only MERGE" -> ((2, 4)))

  test("Spark jobs per DML kind, change data feed off and on") {
    val counted = ops.map { case (name, op) =>
      val perMode = Seq(false, true).map { cdf =>
        val dir = java.nio.file.Files.createTempDirectory("dmljobs").toString + "/t"
        DeltaWriter.append(spark, rows(0, 40000).repartition(4), dir,
          configuration =
            if (cdf) Map("delta.enableChangeDataFeed" -> "true") else Map.empty)
        SparkJobs.during(op(dir)).size
      }
      name -> ((perMode(0), perMode(1)))
    }.toMap
    val table = ops.map { case (name, _) =>
      f"$name%-26s ${counted(name)._1}%3d / ${counted(name)._2}%3d" }.mkString("\n")
    info("jobs (plain / CDF):\n" + table)
    assert(counted == pinned, "\n" + table)
  }
}
