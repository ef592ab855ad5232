package graft.delta

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.{CountingFileSystem, TestSpark}

/** Writes put their files in place: a write that fails, in a task or on
  * the driver, leaves no new version and no parquet file the snapshot does
  * not reference; a write renames nothing outside `_delta_log` and makes no
  * staging dir. */
class InPlaceWriteSpec extends AnyFunSuite {
  import TestSpark._

  private def tmpTable(): String = Files.createTempDirectory("graft-inplace").toString + "/t"

  /** Parquet files under the table root, outside `_delta_log`. */
  private def parquetFiles(path: String): Set[String] = {
    val s = Files.walk(java.nio.file.Paths.get(path))
    try s.iterator().asScala.map(_.toString)
      .filter(p => p.endsWith(".parquet") && !p.contains("/_delta_log/")).toSet
    finally s.close()
  }

  /** Runs `write`, which must fail with a message containing `expected`,
    * and checks the table at `path` is exactly as before. */
  private def assertLeavesNothing(path: String, expected: String)(write: => Any): Unit = {
    DeltaLog.clearCache()
    val before = DeltaLog.forPath(spark, path).update().version
    val e = intercept[Exception](write)
    val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).toSeq
    assert(messages.exists(_.contains(expected)), messages.mkString("\n"))
    // a task of the failed job may still be running: judge the table once
    // it has ended
    val deadline = System.currentTimeMillis() + 30000
    while (spark.sparkContext.statusTracker.getExecutorInfos.exists(_.numRunningTasks > 0) &&
        System.currentTimeMillis() < deadline) Thread.sleep(50)
    DeltaLog.clearCache()
    val snap = DeltaLog.forPath(spark, path).update()
    assert(snap.version == before, "a failed write committed")
    assert(parquetFiles(path) == snap.allFiles.map(f => snap.absolutePath(f).toUri.getPath).toSet,
      "a failed write left files behind")
  }

  private def table(schema: StructType, rows: Seq[Row],
      configuration: Map[String, String] = Map.empty): String = {
    val path = tmpTable()
    DeltaWriter.append(spark, spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema),
      path, configuration = configuration)
    path
  }

  private def frame(schema: StructType, rows: Seq[Row], parts: Int): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, parts), schema)

  test("a top-level NOT NULL violation leaves no file") {
    val schema = StructType(Seq(StructField("id", LongType, nullable = false),
      StructField("v", StringType)))
    val path = table(schema, Seq(Row(1L, "a"), Row(2L, "b")))
    val bad = StructType(schema.fields.map(_.copy(nullable = true)))
    assertLeavesNothing(path, "NOT NULL constraint violated for column: id") {
      DeltaWriter.append(spark, frame(bad, Seq(Row(3L, "c"), Row(null, "d"), Row(5L, "e")), 3), path)
    }
  }

  test("a nested NOT NULL violation leaves no file") {
    val inner = StructType(Seq(StructField("a", IntegerType, nullable = false)))
    val schema = StructType(Seq(StructField("id", LongType), StructField("s", inner)))
    val path = table(schema, Seq(Row(1L, Row(1)), Row(2L, null)))
    val bad = StructType(Seq(StructField("id", LongType),
      StructField("s", StructType(Seq(StructField("a", IntegerType))))))
    assertLeavesNothing(path, "NOT NULL constraint violated for nested column: s.a") {
      DeltaWriter.append(spark, frame(bad, Seq(Row(3L, Row(3)), Row(4L, Row(null))), 2), path)
    }
  }

  test("a CHECK violation in the write task leaves no file") {
    val schema = StructType(Seq(StructField("id", LongType), StructField("v", LongType)))
    val path = table(schema, Seq(Row(1L, 1L)),
      configuration = Map("delta.constraints.positive" -> "v > 0"))
    assertLeavesNothing(path, "CHECK positive violated") {
      DeltaWriter.append(spark, spark.range(0, 400, 1, 4)
        .select(col("id"), when(col("id") === 399, -1L).otherwise(col("id") + 1).as("v")), path)
    }
  }

  test("a task that throws mid-file leaves no file") {
    val path = tmpTable()
    DeltaWriter.append(spark, spark.range(0, 10).toDF(), path)
    // one task: its partly written file is the task's to delete
    val boom = udf((x: Long) => { if (x == 150) throw new IllegalStateException("boom"); x })
    assertLeavesNothing(path, "boom") {
      DeltaWriter.append(spark, spark.range(0, 300, 1, 1).select(boom(col("id")).as("id")), path)
    }
    // four tasks: three commit their files before the last one fails
    val late = udf((x: Long) => {
      if (x == 399) { Thread.sleep(1500); throw new IllegalStateException("late boom") }
      x
    })
    assertLeavesNothing(path, "late boom") {
      DeltaWriter.append(spark, spark.range(0, 400, 1, 4).select(late(col("id")).as("id")), path)
    }
    assert(DeltaTable.forPath(spark, path).toDF.count() == 10)
  }

  test("a task still writing when another task fails leaves no file") {
    val path = tmpTable()
    DeltaWriter.append(spark, spark.range(0, 10).toDF(), path)
    // partition 0 fails at once. Partition 1 sleeps through the cancel's
    // interrupt, then (reading no interruptible input) writes and commits
    // its file after the job has failed
    def sleepThrough(ms: Long): Unit = {
      val end = System.currentTimeMillis() + ms
      while (System.currentTimeMillis() < end)
        try Thread.sleep(math.max(1L, end - System.currentTimeMillis()))
        catch { case _: InterruptedException => () }
    }
    val schema = StructType(Seq(StructField("id", LongType)))
    val rows = spark.sparkContext.parallelize(Seq(0, 1), 2).mapPartitionsWithIndex { (i, _) =>
      if (i == 0) throw new IllegalStateException("fails at once")
      sleepThrough(1500)
      Iterator.tabulate(100)(j => Row(j.toLong))
    }
    assertLeavesNothing(path, "fails at once") {
      DeltaWriter.append(spark, spark.createDataFrame(rows, schema), path)
    }
    assert(DeltaTable.forPath(spark, path).toDF.count() == 10)
  }

  test("an append and an UPDATE rename nothing outside _delta_log and stage nothing") {
    CountingFileSystem.register(spark)
    val local = tmpTable()
    DeltaWriter.append(spark, spark.range(0, 100).select(col("id"), (col("id") % 4).as("g")),
      local, partitionBy = Seq("g"))
    val path = s"${CountingFileSystem.Scheme}://$local"
    CountingFileSystem.calls.clear()
    DeltaWriter.append(spark, spark.range(100, 140).select(col("id"), (col("id") % 4).as("g")),
      path)
    DeltaTable.forPath(spark, path).update(col("id") < 10, Map("id" -> (col("id") + 1000)))
    val calls = CountingFileSystem.calls.asScala.toSeq
    assert(calls.exists { case (op, p) => op == "create" && p.getName.endsWith(".parquet") },
      "the writes did not go through the counting filesystem")
    val renames = calls.collect { case ("rename", p) if !p.toString.contains("/_delta_log/") => p }
    assert(renames.isEmpty, s"renames outside _delta_log: $renames")
    val staging = calls.collect { case (_, p) if p.toString.contains("tmp-stage-") => p }
    assert(staging.isEmpty, s"staging paths: $staging")
    DeltaLog.clearCache()
    assert(DeltaTable.forPath(spark, local).toDF.count() == 140)
  }
}
