package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.delta._

/**
 * Broad DML over many files: DV build + WRITE must happen on executors
 * (multi-DV files, one per partition-group of bitmaps), with the driver
 * handling only descriptors — the 100 TB shape where a DELETE touches
 * 10⁵-10⁶ files and a driver-serialized write would be the bottleneck.
 */
class BroadDeleteSpec extends AnyFunSuite {
  import TestSpark._

  private def tmpTable(): String =
    java.nio.file.Files.createTempDirectory("graft-broad").toString + "/t"

  test("DELETE across 100+ files writes shared multi-DV files, merges on re-delete") {
    val src = Fixtures.readParquet(spark, sfDir, "lineitem")
    val total = src.count()
    val path = tmpTable()
    DeltaWriter.append(spark, src.repartition(120), path)
    val log = DeltaLog.forPath(spark, path)
    assert(log.update().fileCount >= 100, s"need ≥100 files, got ${log.update().fileCount}")

    val expectDel = src.filter(col("l_orderkey") % 3 === 0).count()
    val deleted = DeltaTable.forPath(spark, path).delete(col("l_orderkey") % 3 === 0)
    assert(deleted == expectDel)
    assert(DeltaTable.forPath(spark, path).toDF.count() == total - expectDel)

    // the affected adds carry "u" descriptors that SHARE DV files: far
    // fewer physical .bin files than affected files, frames addressed by
    // offset — proof the write was batched per partition, not per file
    val snap = DeltaLog.forPath(spark, path).update()
    val withDv = snap.allFiles.filter(_.deletionVector.isDefined)
    assert(withDv.size >= 100, s"expected ≥100 DV'd files, got ${withDv.size}")
    val dvFiles = withDv.map(_.deletionVector.get.pathOrInlineDv).distinct
    assert(dvFiles.size < withDv.size / 2,
      s"${withDv.size} affected files map to ${dvFiles.size} DV files — not batched")
    val binFiles = new java.io.File(path).listFiles()
      .filter(_.getName.startsWith("deletion_vector_"))
    assert(binFiles.length == dvFiles.size)
    // non-initial offsets present (multi-frame files)
    assert(withDv.flatMap(_.deletionVector.get.offset).exists(_ > 1))

    // per-descriptor positioned reads return exactly the right bitmaps:
    // total DV cardinality == deleted rows
    assert(withDv.map(_.deletionVector.get.cardinality).sum == expectDel)
    val probed = withDv.take(5).map { f =>
      DeletionVectorStore.read(log, f.deletionVector.get).cardinality
    }
    assert(probed == withDv.take(5).map(_.deletionVector.get.cardinality))

    // second broad delete MERGES with the existing DVs on executors
    val expectDel2 = src.filter(col("l_orderkey") % 3 =!= 0)
      .filter(col("l_linenumber") === 1).count()
    val deleted2 = DeltaTable.forPath(spark, path).delete(col("l_linenumber") === 1)
    // rows matching both predicates were already gone; only new ones count
    assert(deleted2 == expectDel2, s"expected $expectDel2 newly deleted, got $deleted2")
    val want = src.filter(col("l_orderkey") % 3 =!= 0).filter(col("l_linenumber") =!= 1)
    val got = DeltaTable.forPath(spark, path).toDF
    assert(got.count() == want.count())
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("a DELETE that matches only deleted rows lands no commit") {
    val path = tmpTable()
    DeltaWriter.append(spark, spark.range(100).select(col("id").as("k")), path)
    val t = DeltaTable.forPath(spark, path)
    assert(t.delete(col("k") < 10) == 10)
    val v = DeltaLog.forPath(spark, path).update().version
    // a remove + re-add of an unchanged file would be a data change with
    // no changed row, which a plain stream on the table refuses
    assert(t.delete(col("k") < 10) == 0)
    assert(DeltaLog.forPath(spark, path).update().version == v)
    assert(t.toDF.count() == 90)
  }
}
