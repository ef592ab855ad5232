package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.delta._

/** Writer-side protocol gating: a commit must never land on a table whose
  * writer contract this engine can't honor (the write-side twin of the
  * reader gate — reference mirrors only the column-mapping write rejection,
  * test/sql/generated/writing/append/basic_append.test:74+; this is the
  * general form over minWriterVersion / writerFeatures / appendOnly /
  * invariants). */
class WriterGateSpec extends AnyFunSuite {
  import TestSpark._

  private def tmpTable(): String =
    Files.createTempDirectory("graft-wgate").toString + "/t"

  private def region = Fixtures.readParquet(spark, sfDir, "region")

  /** Append a raw protocol line as a new commit (foreign-writer stance). */
  private def patchProtocol(path: String, line: String): Unit = {
    val log = DeltaLog.forPath(spark, path)
    val v = log.update().version + 1
    Files.write(Paths.get(path, "_delta_log", f"$v%020d.json"),
      (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    DeltaLog.clearCache()
  }

  test("appendOnly forbids DELETE/UPDATE/MERGE; append and OPTIMIZE stay legal") {
    val path = tmpTable()
    DeltaWriter.append(spark, region, path,
      configuration = Map("delta.appendOnly" -> "true"))
    val t = DeltaTable.forPath(spark, path)
    intercept[UnsupportedTableFeatureException] {
      t.delete(col("r_regionkey") === 0)
    }
    intercept[UnsupportedTableFeatureException] {
      t.update(col("r_regionkey") === 0, Map("r_name" -> lit("X")))
    }
    intercept[UnsupportedTableFeatureException] {
      t.upsert(region, Seq("r_regionkey"))
    }
    // appends are the point of an append-only table
    DeltaWriter.append(spark, region, path)
    // OPTIMIZE's removes are dataChange=false rewrites — legal per protocol
    DeltaTable.forPath(spark, path).optimize(smallFileThreshold = 64L * 1024 * 1024)
    assert(DeltaTable.forPath(spark, path).toDF.count() == 2 * region.count())
  }

  test("unknown writer feature rejects every write kind, reads still fine") {
    val path = tmpTable()
    DeltaWriter.append(spark, region, path)
    patchProtocol(path,
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":7,"writerFeatures":["icebergCompatV9"]}}""")
    val n = DeltaTable.forPath(spark, path).toDF.count() // read path unaffected
    assert(n == region.count())
    val e = intercept[UnsupportedTableFeatureException] {
      DeltaWriter.append(spark, region, path)
    }
    assert(e.getMessage.contains("icebergCompatV9"))
    intercept[UnsupportedTableFeatureException] {
      DeltaTable.forPath(spark, path).delete(col("r_regionkey") === 0)
    }
    intercept[UnsupportedTableFeatureException] {
      DeltaTable.forPath(spark, path).optimize()
    }
  }

  test("minWriterVersion above ours rejects writes, not reads") {
    val path = tmpTable()
    DeltaWriter.append(spark, region, path)
    patchProtocol(path, """{"protocol":{"minReaderVersion":1,"minWriterVersion":8}}""")
    assert(DeltaTable.forPath(spark, path).toDF.count() == region.count())
    val e = intercept[UnsupportedTableFeatureException] {
      DeltaWriter.append(spark, region, path)
    }
    assert(e.getMessage.contains("minWriterVersion=8"))
  }

  test("declared column invariants refuse writes (never enforced here)") {
    import org.apache.spark.sql.types.MetadataBuilder
    val path = tmpTable()
    val inv = new MetadataBuilder()
      .putString("delta.invariants",
        """{"expression":{"expression":"r_regionkey >= 0"}}""").build()
    val withInv = region.select(col("r_regionkey").as("r_regionkey", inv), col("r_name"))
    DeltaWriter.append(spark, withInv, path) // CREATE is fine (no prior contract)
    val e = intercept[UnsupportedTableFeatureException] {
      DeltaWriter.append(spark, region, path)
    }
    assert(e.getMessage.contains("invariant"))
    // our own writer-feature set (deletionVectors upgrade) still writes
    val p2 = tmpTable()
    DeltaWriter.append(spark, region, p2)
    DeltaTable.forPath(spark, p2).delete(col("r_regionkey") === 0)
    DeltaWriter.append(spark, region, p2) // protocol is now (3,7) with DV feature
    assert(DeltaTable.forPath(spark, p2).toDF.count() == 2 * region.count() - 1)
  }

  test("row-tracked rewrite emits no stats for materialized row-id columns") {
    val path = tmpTable()
    DeltaWriter.append(spark, region, path,
      configuration = Map("delta.enableRowTracking" -> "true"))
    DeltaWriter.append(spark, region, path) // 2 files so OPTIMIZE has work
    DeltaTable.forPath(spark, path).optimize(smallFileThreshold = 64L * 1024 * 1024)
    val log = DeltaLog.forPath(spark, path)
    val snap = log.update()
    val (mid, mver) = RowTracking.materializedNames(snap.metadata).get
    // the rewritten files carry the materialized COLUMNS but their stats
    // must cover only table-schema leaves (ADVICE r9 #4)
    val rewritten = snap.allFiles.filter(_.stats.isDefined)
    assert(rewritten.nonEmpty)
    rewritten.foreach { f =>
      val s = f.stats.get
      assert(!s.contains(mid) && !s.contains(mver),
        s"materialized row-id columns leaked into stats: $s")
      assert(s.contains("numRecords"))
      assert(s.contains("r_regionkey"), s"table-column stats missing: $s")
    }
  }

  test("append and overwrite both refuse a table with non-nullable array elements") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("a", ArrayType(IntegerType, containsNull = false))))
    def frame = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(1L, Seq(1, 2))), 1), schema)
    val path = tmpTable()
    // creating such a table is fine; writes to it are refused
    DeltaWriter.append(spark, frame, path)
    val refusals = Seq[(String, () => Any)](
      "append" -> (() => DeltaWriter.append(spark, frame, path)),
      "overwrite" -> (() => DeltaWriter.overwrite(spark, frame, path)))
    refusals.foreach { case (kind, write) =>
      val e = intercept[UnsupportedOperationException](write())
      assert(e.getMessage.contains("non-nullable array elements"), s"$kind: ${e.getMessage}")
      DeltaLog.clearCache()
      assert(DeltaLog.forPath(spark, path).update().version == 0, s"$kind landed a version")
    }
  }
}
