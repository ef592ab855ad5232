package graft.delta

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.datasources.{FileFormat, FilePartition, PartitionedFile}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.{Fixtures, TestSpark}

/** Each listed file carries its deletion vector to the task that scans it:
  * through file splits, percent-encoded log paths and CDF's resolved diffs,
  * and a file that arrives without its handle fails the read. */
class DvReadSpec extends AnyFunSuite {
  import TestSpark._

  private def tmpTable(): String =
    Files.createTempDirectory("graft-dvread").toString + "/t"

  private def withConf[A](key: String, value: String)(body: => A): A = {
    spark.conf.set(key, value)
    try body finally spark.conf.unset(key)
  }

  /** The `PartitionedFile`s Spark planned for the scan of `df`. */
  private def splits(df: DataFrame): Seq[PartitionedFile] =
    df.queryExecution.sparkPlan.collect { case s: FileSourceScanExec => s }
      .flatMap(_.inputRDD.partitions.toSeq.flatMap(_.asInstanceOf[FilePartition].files))

  private def assertSameRows(got: DataFrame, want: DataFrame): Unit = {
    assert(got.count() == want.count())
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("every split of a DV'd file carries its handle: survivors match the parquet oracle") {
    val src = Fixtures.readParquet(spark, sfDir, "lineitem")
    val path = tmpTable()
    // small row groups, so each file's rows spread over several splits
    withConf("parquet.block.size", "16384") {
      DeltaWriter.append(spark, src.repartitionByRange(4, col("l_orderkey")), path)
    }
    DeltaTable.forPath(spark, path).delete(col("l_orderkey") % 10 === 7)
    val snap = DeltaLog.forPath(spark, path).update()
    assert(snap.allFiles.forall(_.deletionVector.isDefined))
    val conf = spark.sessionState.newHadoopConf()
    val rowGroups = snap.allFiles.map { f =>
      val in = ParquetFileReader.open(HadoopInputFile.fromPath(snap.absolutePath(f), conf))
      try in.getRowGroups.size finally in.close()
    }
    assert(rowGroups.forall(_ > 1), s"row groups per file: $rowGroups")
    withConf("spark.sql.files.maxPartitionBytes", "8192") {
      val df = snap.toDF
      val parts = splits(df)
      assert(parts.size > snap.allFiles.size, s"${parts.size} splits of ${snap.allFiles.size} files")
      assert(parts.forall(_.otherConstantMetadataColumnValues.get(GraftFileIndex.DvKey)
        .exists(_.isInstanceOf[DvSlot])))
      assertSameRows(df, src.filter(!(col("l_orderkey") % 10 === 7)))
    }
  }

  test("a DV'd file whose name holds a space and a '%' reads its survivors") {
    val src = Fixtures.readParquet(spark, sfDir, "nation")
    val path = tmpTable()
    DeltaWriter.append(spark, src.coalesce(1), path)
    val Seq(f) = DeltaLog.forPath(spark, path).update().allFiles
    // rename the data file and reference it percent-encoded, as a foreign
    // writer's log does
    Files.move(Paths.get(path, f.decodedPath), Paths.get(path, "a b%c.parquet"))
    val commit = Paths.get(path, "_delta_log", f"${0L}%020d.json")
    val log = new String(Files.readAllBytes(commit), UTF_8)
    val ref = "\"path\":\"" + f.path + "\""
    assert(log.contains(ref))
    Files.write(commit, log.replace(ref, "\"path\":\"a%20b%25c.parquet\"").getBytes(UTF_8))
    DeltaLog.clearCache()
    assert(DeltaLog.forPath(spark, path).update().allFiles.map(_.decodedPath) ==
      Seq("a b%c.parquet"))
    DeltaTable.forPath(spark, path).delete(col("n_nationkey") % 3 === 1)
    val t = DeltaTable.forPath(spark, path)
    assert(t.snapshot.allFiles.map(_.path) == Seq("a%20b%25c.parquet"))
    assert(t.snapshot.allFiles.forall(_.deletionVector.isDefined))
    assertSameRows(t.toDF, src.filter(!(col("n_nationkey") % 3 === 1)))
  }

  test("changes() over DV-growth commits emits exactly each diff's rows as deletes") {
    val src = Fixtures.readParquet(spark, sfDir, "orders")
    val path = tmpTable()
    DeltaWriter.append(spark, src.repartitionByRange(3, col("o_orderkey")), path) // v0
    val t = DeltaTable.forPath(spark, path)
    t.delete(col("o_orderkey") % 5 === 0)                                        // v1
    t.delete(col("o_orderkey") % 5 === 1 || col("o_orderkey") % 5 === 0)         // v2
    val files = DeltaLog.forPath(spark, path).update().allFiles
    assert(files.size == 3 && files.forall(_.deletionVector.isDefined))
    def deletes(v: Long): DataFrame = {
      val cdf = DeltaTable.forPath(spark, path).changes(v, v)
      assert(cdf.where(col("_change_type") =!= "delete").isEmpty)
      cdf.select(src.columns.map(col).toIndexedSeq: _*)
    }
    assertSameRows(deletes(1), src.where(col("o_orderkey") % 5 === 0))
    // the second commit grows each file's bitmap: only the growth is new
    assertSameRows(deletes(2), src.where(col("o_orderkey") % 5 === 1))
  }

  test("a filtering read of a file that arrives without its handle fails") {
    val snap = DeltaLog.forPath(spark, Fixtures.delta(spark, sfDir, "lineitem", Fixtures.Dv))
      .update()
    val rel = snap.relation(ScanOptions(), RowSelection.Live, Nil)
    val format = rel.fileFormat.asInstanceOf[GraftParquetFileFormat]
    assert(format.dropsDeletedRows)
    val read = format.buildReaderWithPartitionValues(spark, rel.dataSchema,
      rel.partitionSchema, rel.dataSchema, Nil,
      Map(FileFormat.OPTION_RETURNING_BATCH -> "false"), spark.sessionState.newHadoopConf())
    val f = snap.allFiles.find(_.deletionVector.isDefined).get
    val bare = PartitionedFile(InternalRow.empty, SparkPath.fromPath(snap.absolutePath(f)),
      0L, f.size, fileSize = f.size)
    val e = intercept[IllegalStateException](read(bare))
    assert(e.getMessage.contains("no deletion-vector handle"), e.getMessage)
    // the same split with its handle reads exactly the file's live rows
    val dv = f.deletionVector.get
    val handled = bare.copy(
      otherConstantMetadataColumnValues = Map(GraftFileIndex.DvKey -> DvSlot(dv)))
    assert(read(handled).size.toLong ==
      f.parsedStats.flatMap(_.numRecords).get - dv.cardinality)
  }

  test("a DV-filtering reader ships no Hadoop conf in its closure") {
    val snap = DeltaLog.forPath(spark, Fixtures.delta(spark, sfDir, "lineitem", Fixtures.Dv))
      .update()
    val rel = snap.relation(ScanOptions(), RowSelection.Live, Nil)
    assert(rel.fileFormat.asInstanceOf[GraftParquetFileFormat].dropsDeletedRows)
    val conf = spark.sessionState.newHadoopConf()
    val read = rel.fileFormat.buildReaderWithPartitionValues(spark, rel.dataSchema,
      rel.partitionSchema, rel.dataSchema, Nil,
      Map(FileFormat.OPTION_RETURNING_BATCH -> "false"), conf)
    def javaBytes(o: AnyRef): Int = {
      val bytes = new java.io.ByteArrayOutputStream
      val out = new java.io.ObjectOutputStream(bytes)
      try out.writeObject(o) finally out.close()
      bytes.size
    }
    // every task deserializes the reader; the conf is broadcast once
    val readerBytes = javaBytes(read)
    val confBytes = javaBytes(new org.apache.spark.util.SerializableConfiguration(conf))
    assert(readerBytes < confBytes, s"reader $readerBytes B, session conf $confBytes B")
  }
}
