package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StringType
import org.scalatest.funsuite.AnyFunSuite

import graft.delta._

/** The change feed and the streaming source read table files through the
  * snapshot's reader: logical names on a column-mapped table whose files
  * predate a column add, and partition columns typed by the table rather
  * than inferred from directory names. Each expectation is computed from
  * the same rows written to plain parquet. */
class ChangeFeedReadSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Rows as a multiset of strings, column order as given. */
  private def bag(df: DataFrame, cols: Seq[String]): Map[Seq[String], Int] =
    df.select(cols.map(c => col(c).cast(StringType)): _*).collect().toSeq
      .map(r => r.toSeq.map(v => if (v == null) null else v.toString))
      .groupBy(identity).map { case (k, v) => k -> v.size }

  /** The plain-parquet oracle: `df` written once and read back. */
  private def plain(df: DataFrame): DataFrame = {
    val p = tmpDir("graft-cfr-oracle") + "/o"
    df.write.parquet(p)
    spark.read.parquet(p)
  }

  /** Name-mode table across ADD COLUMN: 40 rows, upgrade, add `note`, an
    * append of 5 rows carrying it, then a DV DELETE of `id % 4 = 0`.
    * Returns the table path and the oracle of every row written. */
  private def mappedTable(partitioned: Boolean): (String, DataFrame) = {
    val path = tmpDir("graft-cfr-mapped") + "/t"
    val base = (0 until 40).map(i => (i.toLong, s"g${i % 2}", i * 10)).toDF("id", "g", "v")
    val extra = (40 until 45).map(i => (i.toLong, s"g${i % 2}", i * 10, s"n$i"))
      .toDF("id", "g", "v", "note")
    DeltaWriter.append(spark, base, path,
      partitionBy = if (partitioned) Seq("g") else Nil)                  // v0
    val t = DeltaTable.forPath(spark, path)
    t.upgradeToColumnMapping()                                          // v1
    t.addColumns(org.apache.spark.sql.types.StructField("note", StringType))  // v2
    DeltaWriter.append(spark, extra, path)                              // v3
    t.delete(col("id") % 4 === 0)                                       // v4: DVs
    DeltaLog.clearCache()
    val snap = DeltaLog.forPath(spark, path).update()
    assert(snap.version == 4 && snap.columnMappingMode == "name")
    assert(snap.hasDeletionVectors)
    assert(snap.physicalName(snap.schema("note")) != "note",
      "ADD COLUMN kept the logical name")
    (path, plain(base.withColumn("note", lit(null).cast(StringType)).unionByName(extra)))
  }

  for (partitioned <- Seq(false, true)) {
    val layout = if (partitioned) "partitioned" else "unpartitioned"

    test(s"CDF on a column-mapped table across ADD COLUMN ($layout)") {
      val (path, written) = mappedTable(partitioned)
      val cols = Seq("id", "g", "v", "note", "_change_type", "_commit_version")
      val expected = written.filter(col("id") < 40)
        .withColumn("_change_type", lit("insert")).withColumn("_commit_version", lit(0L))
        .unionByName(written.filter(col("id") >= 40)
          .withColumn("_change_type", lit("insert")).withColumn("_commit_version", lit(3L)))
        .unionByName(written.filter(col("id") % 4 === 0)
          .withColumn("_change_type", lit("delete")).withColumn("_commit_version", lit(4L)))
      val feed = DeltaTable.forPath(spark, path).changes(0, 4)
      assert(feed.columns.toSeq == Seq("id", "g", "v", "note",
        "_change_type", "_commit_version", "_commit_timestamp"))
      assert(bag(feed, cols) == bag(expected, cols))
    }

    test(s"stream on a column-mapped table across ADD COLUMN ($layout)") {
      val (path, written) = mappedTable(partitioned)
      // one version per micro-batch: the v0 batch reads only files written
      // before `note` existed, so it must read the column as null
      val out = tmpDir("graft-cfr-out")
      val q = spark.readStream.format("graftdelta")
        .option("ignoreChanges", "true").option("maxVersionsPerTrigger", "1")
        .load(path)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", tmpDir("graft-cfr-ck"))
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val cols = Seq("id", "g", "v", "note")
      assert(bag(spark.read.parquet(out), cols) == bag(written, cols))
    }
  }

  for (cdf <- Seq(false, true)) {
    test(s"CDF keeps the table's STRING partition type and values (writer CDF $cdf)") {
      val path = tmpDir("graft-cfr-part") + "/t"
      val rows = (0 until 30).map(i => (i.toLong, f"${i % 3}%03d")).toDF("id", "region")
      val fresh = (100 until 105).map(i => (i.toLong, "002")).toDF("id", "region")
      DeltaWriter.append(spark, rows, path, partitionBy = Seq("region"),
        configuration = Map("delta.enableChangeDataFeed" -> cdf.toString))  // v0
      val t = DeltaTable.forPath(spark, path)
      t.delete(col("id") % 5 === 0)                                     // v1: DVs
      t.overwrite(fresh, replaceWhere = Some(col("region") === "002"))  // v2
      DeltaLog.clearCache()
      val feed = DeltaTable.forPath(spark, path).changes(0, 2)
      assert(feed.schema("region").dataType == StringType)

      val written = plain(rows.unionByName(fresh))
      val live1 = written.filter(col("id") < 30 && col("id") % 5 =!= 0)
      def typed(df: DataFrame, tpe: String, v: Long) =
        df.withColumn("_change_type", lit(tpe)).withColumn("_commit_version", lit(v))
      val expected = typed(written.filter(col("id") < 30), "insert", 0)
        .unionByName(typed(written.filter(col("id") < 30 && col("id") % 5 === 0), "delete", 1))
        .unionByName(typed(live1.filter(col("region") === "002"), "delete", 2))
        .unionByName(typed(written.filter(col("id") >= 100), "insert", 2))
      val cols = Seq("id", "region", "_change_type", "_commit_version")
      assert(bag(feed, cols) == bag(expected, cols))
      assert(feed.select("region").distinct().as[String].collect().toSet ==
        Set("000", "001", "002"))
    }
  }

  test("a remove without partition values reads them from its Hive path") {
    val path = tmpDir("graft-cfr-rm") + "/t"
    val rows = Seq((1L, "000"), (2L, "001")).toDF("id", "region")
    DeltaWriter.append(spark, rows, path, partitionBy = Seq("region"))  // v0
    DeltaTable.forPath(spark, path).delete(col("region") === "001")    // v1
    DeltaLog.clearCache()
    val log = DeltaLog.forPath(spark, path)
    // this library's removes carry the removed file's partition values and
    // size (extendedFileMetadata)
    val removes = log.readCommit(1).flatMap(_.remove)
    val removed = log.readCommit(0).flatMap(_.add)
      .filter(_.partitionValues == Map("region" -> "001"))
    assert(removes.map(r => (r.path, r.partitionValues, r.size)) ==
      removed.map(a => (a.path, Some(a.partitionValues), Some(a.size))))
    // rewrite v1 as a writer that records neither would have left it
    val commit = java.nio.file.Paths.get(path, "_delta_log", f"${1}%020d.json")
    val lines = java.nio.file.Files.readAllLines(commit).asScala.map { line =>
      val n = ActionJson.mapper.readTree(line)
      Option(n.get("remove")).foreach { case r: ObjectNode =>
        r.remove(java.util.List.of("partitionValues", "size", "extendedFileMetadata"))
      }
      ActionJson.mapper.writeValueAsString(n)
    }
    log.fs.delete(log.commitFile(1), false)
    LogStore.write(log.fs, log.commitFile(1), lines.mkString("", "\n", "\n"))
    DeltaLog.clearCache()
    val bare = DeltaLog.forPath(spark, path).readCommit(1).flatMap(_.remove)
    assert(bare.nonEmpty && bare.forall(r => r.partitionValues.isEmpty && r.size.isEmpty))
    val feed = DeltaTable.forPath(spark, path).changes(1, 1)
    assert(feed.select("id", "region", "_change_type").collect().toSeq ==
      Seq(Row(2L, "001", "delete")))
  }
}
