package graft.delta

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.{Fixtures, TestSpark}

/** The per-file stats a write used to compute by reading its files back:
  * one grouped aggregate of [[DeltaWriter.statColumns]] over the files,
  * grouped by `_metadata.file_path`. */
object StatsOracle {

  /** The stats JSON of each of `files` (keyed by decoded path), from the
    * files' own bytes under `snap`'s physical schema. */
  def statsByFile(spark: SparkSession, snap: Snapshot, files: Seq[AddFile]): Map[String, String] = {
    val physical = StructType(snap.schema.fields.map(snap.physicalField))
    val partCols = snap.physicalPartitionSchema.fieldNames.toSeq
    val cols = DeltaWriter.statColumns(physical, partCols, snap.metadata.configuration)
    val dataSchema = StructType(physical.fields.filterNot(f => partCols.contains(f.name)))
    val rows = spark.read.schema(dataSchema)
      .parquet(files.map(f => snap.absolutePath(f).toString): _*)
      .groupBy(col("_metadata.file_path").as("file"))
      .agg(count(lit(1)).as("n"), cols.map(_.agg): _*)
      .collect()
    // keyed by file name: part names are unique, and unlike the directory
    // names they need no escaping
    val byFile = rows.map { r =>
      new Path(r.getString(0)).getName ->
        DeltaWriter.fileStats(cols, r.getLong(1), (2 until r.length).map(r.get)).toJson
    }.toMap
    // an empty file has no group
    files.map(f => f.decodedPath ->
      byFile.getOrElse(new Path(f.decodedPath).getName, """{"numRecords":0}""")).toMap
  }
}

/** Every write's `AddFile.stats` equals the read-back oracle's JSON for the
  * same file, and its `partitionValues` equal the values its Hive path
  * names, across the types, layouts and table modes the writer serves. */
class StatsIdentitySpec extends AnyFunSuite {
  import TestSpark._

  private def tmpTable(): String = Files.createTempDirectory("graft-stats-id").toString + "/t"

  /** Checks every file of the table at `path` that carries no deletion
    * vector and is not in `skip`; returns the files checked. */
  private def assertIdentical(path: String, skip: Set[String] = Set.empty): Seq[AddFile] = {
    DeltaLog.clearCache()
    val snap = DeltaLog.forPath(spark, path).update()
    val files = snap.allFiles.filter(f => f.deletionVector.isEmpty && !skip(f.path))
    assert(files.nonEmpty, s"no file to check in $path")
    val oracle = StatsOracle.statsByFile(spark, snap, files)
    val partKeys = snap.physicalPartitionSchema.fieldNames.toSeq
    files.foreach { f =>
      assert(f.stats.contains(oracle(f.decodedPath)), s"stats of ${f.path}")
      assert(f.partitionValues ==
        DeltaWriter.partitionValuesFromPath(f.decodedPath, partKeys), s"partition of ${f.path}")
    }
    files
  }

  private def withConf[A](key: String, value: String)(body: => A): A = {
    spark.conf.set(key, value)
    try body finally spark.conf.unset(key)
  }

  test("every stats-supported type, NaN and infinities, null-only and empty-string columns") {
    val path = tmpTable()
    val df = spark.sql("""
      SELECT id,
        CAST(id AS TINYINT) ti, CAST(id AS SMALLINT) si, CAST(id AS INT) i,
        CAST(id + 0.5 AS FLOAT) f,
        CASE id % 4 WHEN 0 THEN double('NaN') WHEN 1 THEN double('Infinity')
          WHEN 2 THEN double('-Infinity') ELSE id + 0.25 END d,
        format_string('val-%s', id) s,
        DATE'1992-01-01' + CAST(id AS INT) dt,
        CAST(id * 1.5 AS DECIMAL(12,2)) dec,
        TIMESTAMP'2020-01-01 00:00:00' + make_interval(0,0,0,CAST(id AS INT),0,0,id * 0.000001) ts,
        CAST(TIMESTAMP'2020-01-01 00:00:00' + make_interval(0,0,0,CAST(id AS INT)) AS TIMESTAMP_NTZ) tsn,
        id % 2 = 0 AS b,
        CAST(NULL AS STRING) nul,
        '' AS empty,
        IF(id % 3 = 0, NULL, id) sparse
      FROM range(0, 40)""").repartition(4)
    DeltaWriter.append(spark, df, path)
    // one file whose double column is all NaN and whose `sparse` is null
    DeltaWriter.append(spark, df.limit(1).withColumn("d", lit(Double.NaN))
      .withColumn("sparse", lit(null).cast(LongType)).coalesce(1), path)
    assert(assertIdentical(path).size == 5)
    val last = DeltaLog.forPath(spark, path).update().allFiles
      .flatMap(_.stats).filter(_.startsWith("""{"numRecords":1,"""))
    assert(last.size == 1)
    // NaN bounds are not written: the all-NaN column has no min or max
    val one = ActionJson.mapper.readTree(last.head)
    assert(!one.get("minValues").has("d") && !one.get("maxValues").has("d"), last.head)
  }

  test("nested structs with NOT NULL children") {
    val path = tmpTable()
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("s", StructType(Seq(
        StructField("a", IntegerType, nullable = false),
        StructField("b", StringType),
        StructField("c", StructType(Seq(StructField("x", IntegerType))))))),
      StructField("t", StructType(Seq(StructField("u", DateType, nullable = false))),
        nullable = false)))
    val rows = (0 until 30).map { i =>
      Row(i.toLong,
        if (i % 5 == 0) null else Row(i, if (i % 2 == 0) null else s"b$i", Row(i * 2)),
        Row(java.sql.Date.valueOf(s"2024-01-${1 + i % 28}")))
    }
    DeltaWriter.append(spark,
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema), path)
    assertIdentical(path)
  }

  test("dataSkippingNumIndexedCols 0, 2 and -1, a NOT NULL column past the cap") {
    val schema = StructType(Seq(
      StructField("a", LongType), StructField("b", StringType),
      StructField("s", StructType(Seq(StructField("x", IntegerType), StructField("y", StringType)))),
      StructField("c", DoubleType), StructField("nn", LongType, nullable = false)))
    val rows = (0 until 20).map(i =>
      Row(i.toLong, s"v$i", Row(i, s"y$i"), i * 0.5, i.toLong * 3))
    for (n <- Seq("0", "2", "-1")) {
      val path = tmpTable()
      DeltaWriter.append(spark,
        spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema), path,
        configuration = Map("delta.dataSkippingNumIndexedCols" -> n))
      val stats = assertIdentical(path).flatMap(_.stats)
      // the NOT NULL column keeps its null count under every cap
      assert(stats.forall(_.contains(""""nn":0""")), s"cap $n: $stats")
    }
  }

  test("partitioned write: null, space, %, = and / values, date and timestamp partitions") {
    val path = tmpTable()
    val values = Seq(null, "", "a b", "50%", "k=v", "x/y", "plain")
    import spark.implicits._
    val frame = values.zipWithIndex.flatMap { case (p, i) =>
      (0 until 3).map(j => (i * 10L + j, p, j % 2))
    }.toDF("id", "p", "j")
      .withColumn("d", expr("DATE'2024-01-01' + j"))
      .withColumn("t", expr("TIMESTAMP'2024-01-02 03:04:00' + make_interval(0,0,0,0,0,0,j)"))
      .drop("j")
    DeltaWriter.append(spark, frame, path, partitionBy = Seq("p", "d", "t"))
    val files = assertIdentical(path)
    assert(files.map(_.partitionValues("p")).toSet ==
      Set(null, "a b", "50%", "k=v", "x/y", "plain"))
    assert(files.map(_.partitionValues("d")).toSet == Set("2024-01-01", "2024-01-02"))
    assert(files.map(_.partitionValues("t")).toSet ==
      Set("2024-01-02 03:04:00", "2024-01-02 03:04:01"))
    val back = DeltaTable.forPath(spark, path).toDF
    assert(back.count() == frame.count())
    assert(back.where(col("p").isNull).count() == 6)
  }

  test("name- and id-mapped tables") {
    val named = tmpTable()
    DeltaWriter.append(spark, spark.range(0, 30).select(col("id"),
      (col("id") % 3).as("g"), format_string("n%s", col("id")).as("n")), named,
      partitionBy = Seq("g"))
    val t = DeltaTable.forPath(spark, named)
    t.upgradeToColumnMapping()
    t.addColumns(StructField("note", StringType))
    val before = DeltaLog.forPath(spark, named).update().allFiles.map(_.path).toSet
    DeltaWriter.append(spark, spark.range(30, 60).select(col("id"),
      (col("id") % 3).as("g"), format_string("n%s", col("id")).as("n"),
      format_string("note%s", col("id")).as("note")), named)
    val snap = DeltaLog.forPath(spark, named).update()
    assert(snap.columnMappingMode == "name")
    val checked = assertIdentical(named, skip = before)
    assert(checked.forall(_.stats.exists(_.contains(snap.physicalName(snap.schema("note"))))))

    val idMapped = tmpTable()
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(Fixtures.delta(spark, sfDir, "nation", Fixtures.MappedId)),
      new java.io.File(idMapped))
    DeltaLog.clearCache()
    val idBefore = DeltaLog.forPath(spark, idMapped).update().allFiles.map(_.path).toSet
    val src = DeltaTable.forPath(spark, idMapped).toDF
    DeltaWriter.append(spark, src.withColumn("n_nationkey", col("n_nationkey") + 100)
      .repartition(2), idMapped)
    assert(DeltaLog.forPath(spark, idMapped).update().columnMappingMode == "id")
    assertIdentical(idMapped, skip = idBefore)
  }

  test("a maxRecordsPerFile split, unpartitioned and partitioned") {
    withConf("spark.sql.files.maxRecordsPerFile", "7") {
      val flat = tmpTable()
      DeltaWriter.append(spark, spark.range(0, 20).toDF().coalesce(1), flat)
      assert(assertIdentical(flat).flatMap(_.parsedStats.flatMap(_.numRecords)).sorted ==
        Seq(6L, 7L, 7L))
      val parted = tmpTable()
      DeltaWriter.append(spark, spark.range(0, 40).select(col("id"),
        (col("id") % 2).as("g")).coalesce(1), parted, partitionBy = Seq("g"))
      val files = assertIdentical(parted)
      assert(files.size == 6)
      files.groupBy(_.partitionValues("g")).foreach { case (_, fs) =>
        assert(fs.flatMap(_.parsedStats.flatMap(_.numRecords)).sorted == Seq(6L, 7L, 7L))
      }
    }
  }

  test("a row-tracked UPDATE") {
    val path = tmpTable()
    DeltaWriter.append(spark, spark.range(0, 40).select(col("id"),
      (col("id") % 5).as("v")).repartition(2), path,
      configuration = Map("delta.enableRowTracking" -> "true"))
    DeltaTable.forPath(spark, path).update(col("id") < 10, Map("v" -> lit(-1L)))
    val snap = DeltaLog.forPath(spark, path).update()
    val (mid, _) = RowTracking.materializedNames(snap.metadata).get
    val rewritten = assertIdentical(path).filter(_.stats.exists(_.contains(""""v":-1""")))
    assert(rewritten.nonEmpty)
    assert(rewritten.forall(f => !f.stats.get.contains(mid)))
  }
}
