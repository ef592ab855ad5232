package graft.delta

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.{Fixtures, TestSpark}

/**
 * Package-private edges of the metadata-only MIN/MAX/COUNT rewrite
 * ([[MetadataOnlyCount]]): the protocol `tightBounds` guard, DV-carrying
 * adds flagged wide on our own DML path, and the raw (non-DV-filtering)
 * relation's count(*) staying a real scan. The user-facing plan shapes
 * live in PlanHygieneSpec; the oracle rows are delta_minmax_meta/_part.
 */
class MetadataAggSpec extends AnyFunSuite {
  import TestSpark._

  private val sfDir = "/root/testdata/sf0.001"

  private def add(statsJson: String,
      dv: Option[DeletionVectorDescriptor] = None) =
    AddFile("f.parquet", Map.empty, 1L, 0L, stats = Some(statsJson),
      deletionVector = dv)

  test("tightBounds=false stats never serve exact answers (min/max OR count)") {
    val wide = add(
      """{"numRecords":10,"minValues":{"k":1},"maxValues":{"k":9},""" +
        """"nullCount":{"k":0},"tightBounds":false}""")
    assert(ColumnFacts.fileFacts("k", isPartition = false, LongType,
      needExtremes = true)(wide).isEmpty, "wide-bound min/max served as exact")
    assert(ColumnFacts.fileFacts("k", isPartition = false, LongType,
      needExtremes = false)(wide).isEmpty, "wide-bound nullCount served as exact")
    // absent or true → exact
    val tight = add(
      """{"numRecords":10,"minValues":{"k":1},"maxValues":{"k":9},"nullCount":{"k":2}}""")
    assert(ColumnFacts.fileFacts("k", isPartition = false, LongType,
      needExtremes = true)(tight).contains((8L, 1L, 9L)))
  }

  test("a DV-carrying add bails, and OUR DML stamps its stats wide") {
    val dv = DeletionVectorDescriptor("u", "ab" * 10, None, 40, 2)
    val carried = add(
      """{"numRecords":10,"minValues":{"k":1},"maxValues":{"k":9},"nullCount":{"k":0}}""",
      dv = Some(dv))
    assert(ColumnFacts.fileFacts("k", isPartition = false, LongType,
      needExtremes = true)(carried).isEmpty)

    // end-to-end: DELETE attaches DVs — the re-emitted adds must carry
    // tightBounds=false so FOREIGN metadata-only readers bail too
    val path = java.nio.file.Files.createTempDirectory("graft-magg").toString + "/t"
    DeltaWriter.append(spark,
      Fixtures.readParquet(spark, sfDir, "supplier").repartition(2), path)
    val log = DeltaLog.forPath(spark, path)
    DeltaTable.forPath(spark, path).delete(col("s_suppkey") % 7 === 3)
    val dvAdds = log.update().allFiles.filter(_.deletionVector.isDefined)
    assert(dvAdds.nonEmpty)
    dvAdds.foreach { f =>
      assert(f.parsedStats.exists(_.tightBounds.contains(false)),
        s"DV-carrying add kept tight stats: ${f.stats}")
    }
  }

  test("raw physical relation on a DV table: count(*) keeps the real scan " +
       "(it counts deleted rows)") {
    val p = Fixtures.delta(spark, sfDir, "supplier", Fixtures.Dv)
    val snap = DeltaLog.forPath(spark, p).update()
    val src = Fixtures.readParquet(spark, sfDir, "supplier")
    val rawCount = snap.relationDF(rows = RowSelection.All).groupBy().count()
    assert(!rawCount.queryExecution.optimizedPlan.collectLeaves().forall(
      _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]),
      s"raw-relation count must scan:\n${rawCount.queryExecution.optimizedPlan}")
    assert(rawCount.collect()(0).getLong(0) == src.count(),
      "raw relation must count physical rows (deleted included)")
  }
}
