package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.delta.{DeltaLog, DeltaTable, DeltaWriter, RowTracking, UnsupportedTableFeatureException}

class RowTrackingSpec extends AnyFunSuite {
  import TestSpark._

  private def freshDir(): String =
    java.nio.file.Files.createTempDirectory("rowtrack").toString + "/t"

  private val rtConf = Map("delta.enableRowTracking" -> "true")

  test("appends assign contiguous fresh row ids and advance the mark") {
    val dir = freshDir()
    val src = Fixtures.readParquet(spark, sfDir, "nation")
      .select(col("n_nationkey"), col("n_name"))
    DeltaWriter.append(spark, src, dir, configuration = rtConf)
    DeltaWriter.append(spark, src, dir)

    val snap = DeltaLog.forPath(spark, dir).update()
    assert(snap.protocol.writerFeatures.exists(_.contains("rowTracking")))
    val n = src.count()
    assert(RowTracking.highWaterMark(snap) == 2 * n - 1)
    snap.allFiles.foreach { f =>
      assert(f.baseRowId.isDefined && f.defaultRowCommitVersion.isDefined, f)
    }

    // read-side: row ids are exactly 0 .. 2n-1, each id once
    val ids = DeltaTable.forPath(spark, dir).toDFWithVirtualColumns
      .select(col("row_id")).collect().map(_.getLong(0)).sorted
    assert(ids.toSeq == (0L until 2 * n).toSeq)
    // commit version tracks which append created the row
    val vers = DeltaTable.forPath(spark, dir).toDFWithVirtualColumns
      .groupBy(col("row_commit_version")).count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(vers == Map(0L -> n, 1L -> n), vers.toString)
  }

  test("row ids survive DV deletes and UPDATE rewrites") {
    val dir = freshDir()
    val src = Fixtures.readParquet(spark, sfDir, "nation")
      .select(col("n_nationkey"), col("n_name"))
    DeltaWriter.append(spark, src, dir, configuration = rtConf)
    val t = DeltaTable.forPath(spark, dir)
    val before = t.toDFWithVirtualColumns
      .select(col("n_nationkey").cast("long"), col("row_id")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    t.delete(col("n_nationkey") % 2 === 0)
    DeltaLog.clearCache()
    val after = DeltaTable.forPath(spark, dir).toDFWithVirtualColumns
      .select(col("n_nationkey").cast("long"), col("row_id")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(after.nonEmpty && after.keySet.forall(_ % 2 == 1))
    after.foreach { case (k, id) =>
      assert(before(k) == id, s"row id of surviving row $k changed: ${before(k)} -> $id")
    }

    // UPDATE preserves the updated row's stable id (materialized into the
    // rewritten image) and stamps the UPDATE's commit version
    val preId = DeltaTable.forPath(spark, dir).toDFWithVirtualColumns
      .filter(col("n_nationkey") === 1).select(col("row_id")).collect()(0).getLong(0)
    val updV = DeltaTable.forPath(spark, dir)
      .update(col("n_nationkey") === 1, Map("n_name" -> lit("renamed")))
    assert(updV == 1L, s"expected 1 updated row, got $updV")
    DeltaLog.clearCache()
    val postRow = DeltaTable.forPath(spark, dir).toDFWithVirtualColumns
      .filter(col("n_nationkey") === 1)
      .select(col("n_name"), col("row_id"), col("row_commit_version")).collect()(0)
    assert(postRow.getString(0) == "renamed")
    assert(postRow.getLong(1) == preId, "UPDATE changed the stable row id")
    assert(postRow.getLong(2) ==
      DeltaLog.forPath(spark, dir).update().version,
      "updated row must carry the UPDATE's commit version")
  }

  test("MERGE keeps updated rows' ids, inserted rows get fresh unique ids") {
    val dir = freshDir()
    val src = Fixtures.readParquet(spark, sfDir, "nation")
      .select(col("n_nationkey"), col("n_name"))
    DeltaWriter.append(spark, src, dir, configuration = rtConf)
    val n = src.count()
    def ids(): Map[Long, Long] =
      DeltaTable.forPath(spark, dir).toDFWithVirtualColumns
        .select(col("n_nationkey").cast("long"), col("row_id")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val before = ids()
    // source: update keys 0..4, insert keys 100..102
    val source = src.filter(col("n_nationkey") < 5)
      .withColumn("n_name", concat(lit("upd_"), col("n_name")))
      .unionByName(spark.range(100, 103)
        .select(col("id").cast("int").as("n_nationkey"), lit("new").as("n_name")))
    DeltaTable.forPath(spark, dir).merge(source, "n_nationkey")
      .whenMatchedUpdateAll().whenNotMatchedInsertAll().execute()
    DeltaLog.clearCache()
    val after = ids()
    // updated + untouched rows keep their ids
    before.foreach { case (k, id) => assert(after(k) == id, s"key $k id changed") }
    // inserted rows: fresh ids, no collision with anything
    val inserted = after.filter(_._1 >= 100).values.toSet
    assert(inserted.size == 3)
    assert(inserted.forall(_ > before.values.max), s"inserted ids not fresh: $inserted")
    assert(after.values.toSet.size == after.size, "duplicate row ids after MERGE")
  }

  test("OPTIMIZE preserves row ids by materializing them; repeat rewrites stable") {
    val dir = freshDir()
    val src = Fixtures.readParquet(spark, sfDir, "nation")
      .select(col("n_nationkey"), col("n_name"))
    // two small files → compaction candidates
    DeltaWriter.append(spark, src.filter(col("n_nationkey") < 10), dir,
      configuration = rtConf)
    DeltaWriter.append(spark, src.filter(col("n_nationkey") >= 10), dir)
    def idsByKey(): Map[Long, (Long, Long)] =
      DeltaTable.forPath(spark, dir).toDFWithVirtualColumns
        .select(col("n_nationkey").cast("long"), col("row_id"),
          col("row_commit_version")).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val before = idsByKey()
    assert(before.nonEmpty)

    val res = graft.delta.Optimize.compact(spark, DeltaLog.forPath(spark, dir))
    assert(res.filesRemoved == 2 && res.filesAdded >= 1)
    DeltaLog.clearCache()
    val snap1 = DeltaLog.forPath(spark, dir).update()
    // materialized column names minted into the configuration
    val names = RowTracking.materializedNames(snap1.metadata)
    assert(names.isDefined, snap1.metadata.configuration.toString)
    assert(idsByKey() == before, "row ids changed across OPTIMIZE")

    // DV-delete, then a SECOND rewrite — must read the ids the first
    // rewrite materialized, not re-derive from baseRowId
    DeltaTable.forPath(spark, dir).delete(col("n_nationkey") % 2 === 0)
    DeltaLog.clearCache()
    val afterDelete = idsByKey()
    afterDelete.foreach { case (k, v) => assert(before(k) == v) }
    graft.delta.Optimize.compact(spark, DeltaLog.forPath(spark, dir))
    DeltaLog.clearCache()
    val afterSecond = idsByKey()
    assert(afterSecond == afterDelete,
      s"ids changed across second OPTIMIZE: $afterSecond vs $afterDelete")
    // high-water mark only ever advances
    assert(RowTracking.highWaterMark(DeltaLog.forPath(spark, dir).update()) >=
      RowTracking.highWaterMark(snap1))
  }

  test("ZORDER preserves row ids on a row-tracked table") {
    val dir = freshDir()
    val src = Fixtures.readParquet(spark, sfDir, "customer")
      .select(col("c_custkey"), col("c_acctbal"), col("c_nationkey"))
    DeltaWriter.append(spark, src.repartition(3), dir, configuration = rtConf)
    def ids(): Map[Long, Long] =
      DeltaTable.forPath(spark, dir).toDFWithVirtualColumns
        .select(col("c_custkey").cast("long"), col("row_id")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val before = ids()
    graft.delta.Optimize.zorder(spark, DeltaLog.forPath(spark, dir),
      Seq("c_custkey", "c_acctbal"))
    DeltaLog.clearCache()
    assert(ids() == before, "row ids changed across ZORDER")
  }

  test("dataSkippingNumIndexedCols caps min/max stats but never NOT NULL enforcement") {
    import org.apache.spark.sql.types._
    val dir = freshDir()
    // 5 columns, cap at 2: min/max only for the first two leaves
    val wide = spark.range(10).select(
      col("id").as("a"), (col("id") * 2).as("b"), (col("id") * 3).as("c"),
      (col("id") * 4).as("d"), concat(lit("x"), col("id")).as("e"))
    DeltaWriter.append(spark, wide.coalesce(1), dir,
      configuration = Map("delta.dataSkippingNumIndexedCols" -> "2"))
    // second append so stats collection runs under the EXISTING table conf
    DeltaWriter.append(spark, wide.coalesce(1), dir)
    val adds = DeltaLog.forPath(spark, dir).update().allFiles
    adds.flatMap(_.stats).foreach { s =>
      val node = graft.delta.ActionJson.mapper.readTree(s)
      val mins = node.get("minValues")
      assert(mins.has("a") && mins.has("b") && !mins.has("c") && !mins.has("e"),
        s"min stats must stop after 2 indexed cols: $s")
    }
    // NOT NULL columns beyond the cap still enforce
    val dir2 = freshDir()
    val schema = StructType(Seq(
      StructField("a", LongType, nullable = true),
      StructField("b", LongType, nullable = true),
      StructField("c", LongType, nullable = true),
      StructField("z", LongType, nullable = false)))
    val ok = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(org.apache.spark.sql.Row(1L, 2L, 3L, 4L))), schema)
    DeltaWriter.append(spark, ok, dir2,
      configuration = Map("delta.dataSkippingNumIndexedCols" -> "2"))
    val bad = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(org.apache.spark.sql.Row(1L, 2L, 3L, null))),
      StructType(schema.fields.map(_.copy(nullable = true))))
    intercept[Exception] { DeltaWriter.append(spark, bad, dir2) }
  }

  test("column defaults fill omitted columns and stamp the writer feature") {
    import org.apache.spark.sql.types._
    val dir = freshDir()
    val defMeta = new MetadataBuilder().putString("CURRENT_DEFAULT", "42").build()
    val seeded = Fixtures.readParquet(spark, sfDir, "region")
      .select(col("r_regionkey"), lit(7L).as("score", defMeta))
    DeltaWriter.append(spark, seeded, dir)
    val snap = DeltaLog.forPath(spark, dir).update()
    assert(snap.protocol.writerFeatures.exists(_.contains("allowColumnDefaults")))
    // omit `score` → default expression fills
    DeltaWriter.append(spark,
      Fixtures.readParquet(spark, sfDir, "region").select(col("r_regionkey")), dir)
    val got = DeltaTable.forPath(spark, dir).toDF
      .groupBy(col("score")).count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.keySet == Set(7L, 42L) && got(7L) == got(42L), got.toString)
  }

  test("auto-checkpoint fires every delta.checkpointInterval commits") {
    val dir = freshDir()
    val row = Fixtures.readParquet(spark, sfDir, "region").limit(1)
    DeltaWriter.append(spark, row, dir,
      configuration = Map("delta.checkpointInterval" -> "5"))
    (1 to 5).foreach(_ => DeltaWriter.append(spark, row, dir))
    val log = DeltaLog.forPath(spark, dir)
    assert(log.fs.exists(log.checkpointFile(5L)),
      "commit 5 must have auto-checkpointed (interval 5)")
    assert(!log.fs.exists(log.checkpointFile(3L)))
    // and the table replays correctly from it
    DeltaLog.clearCache()
    assert(graft.delta.DeltaTable.forPath(spark, dir).toDF.count() == 6)

    // interval 0 disables
    val dir2 = freshDir()
    DeltaWriter.append(spark, row, dir2,
      configuration = Map("delta.checkpointInterval" -> "0"))
    (1 to 10).foreach(_ => DeltaWriter.append(spark, row, dir2))
    val log2 = DeltaLog.forPath(spark, dir2)
    assert(!log2.fs.exists(log2.checkpointFile(10L)))
  }

  test("enabling row tracking via ALTER on a non-empty table is refused") {
    val dir = freshDir()
    DeltaWriter.append(spark,
      Fixtures.readParquet(spark, sfDir, "region"), dir)
    val e = intercept[UnsupportedOperationException] {
      graft.delta.Alter.setProperties(spark, DeltaLog.forPath(spark, dir),
        Map("delta.enableRowTracking" -> "true"))
    }
    assert(e.getMessage.contains("baseRowId"))
  }

  test("enabling row tracking via ALTER on an EMPTY table upgrades the protocol") {
    import org.apache.spark.sql.types._
    val dir = freshDir()
    val src = Fixtures.readParquet(spark, sfDir, "region")
    DeltaWriter.append(spark, src.limit(0), dir) // empty table, legacy protocol
    graft.delta.Alter.setProperties(spark, DeltaLog.forPath(spark, dir),
      Map("delta.enableRowTracking" -> "true"))
    val snap = DeltaLog.forPath(spark, dir).update()
    // the SAME commit must advertise the writer features — appends write
    // baseRowId + the rowTracking domainMetadata, which foreign writers
    // only honor under minWriterVersion 7
    assert(snap.protocol.minWriterVersion == 7)
    val wf = snap.protocol.writerFeatures.getOrElse(Nil)
    assert(wf.contains("rowTracking") && wf.contains("domainMetadata"), wf.toString)
    DeltaWriter.append(spark, src.limit(4), dir)
    val after = DeltaLog.forPath(spark, dir).update()
    // the pre-existing ZERO-row file needs no id; every row-bearing file does
    assert(after.allFiles
      .filter(f => !f.parsedStats.flatMap(_.numRecords).contains(0L))
      .forall(_.baseRowId.isDefined))
    assert(RowTracking.highWaterMark(after) == 3L)
  }

  test("ADD COLUMNS with a default on a legacy table stamps allowColumnDefaults") {
    import org.apache.spark.sql.types._
    val dir = freshDir()
    DeltaWriter.append(spark,
      Fixtures.readParquet(spark, sfDir, "region").select(col("r_regionkey")), dir)
    val before = DeltaLog.forPath(spark, dir).update()
    assert(!before.protocol.writerFeatures.exists(_.contains("allowColumnDefaults")))
    val defMeta = new MetadataBuilder().putString("CURRENT_DEFAULT", "99").build()
    graft.delta.Alter.addColumns(spark, DeltaLog.forPath(spark, dir),
      Seq(StructField("score", LongType, nullable = true, defMeta)))
    val snap = DeltaLog.forPath(spark, dir).update()
    assert(snap.protocol.minWriterVersion == 7)
    assert(snap.protocol.writerFeatures.exists(_.contains("allowColumnDefaults")),
      snap.protocol.toString)
    // legacy-implied features carried through the upgrade, per spec
    assert(snap.protocol.writerFeatures.exists(_.contains("appendOnly")))
    // and the default actually fills on the next write
    DeltaWriter.append(spark,
      Fixtures.readParquet(spark, sfDir, "region").select(col("r_regionkey")).limit(2), dir)
    val got = DeltaTable.forPath(spark, dir).toDF
      .filter(col("score") === 99).count()
    assert(got == 2, s"default fill produced $got rows")
  }

  test("checkpoints preserve baseRowId and old checkpoints still decode") {
    val dir = freshDir()
    val src = Fixtures.readParquet(spark, sfDir, "region")
    DeltaWriter.append(spark, src, dir, configuration = rtConf)
    DeltaWriter.append(spark, src, dir)
    val log = DeltaLog.forPath(spark, dir)
    graft.delta.Checkpoints.writeCheckpoint(log, log.update())
    DeltaLog.clearCache()
    val replayed = DeltaLog.forPath(spark, dir).update()
    assert(replayed.allFiles.forall(_.baseRowId.isDefined),
      "checkpoint must carry baseRowId through")
    assert(RowTracking.highWaterMark(replayed) == 2 * src.count() - 1)
    // and the table still scans
    assert(DeltaTable.forPath(spark, dir).toDF.count() == 2 * src.count())
  }

  test("overwrite assigns fresh ids past the mark (old ids never reused)") {
    val dir = freshDir()
    val src = Fixtures.readParquet(spark, sfDir, "region")
    DeltaWriter.append(spark, src, dir, configuration = rtConf)
    val n = src.count()
    DeltaWriter.overwrite(spark, src.limit(2).coalesce(1), dir)
    DeltaLog.clearCache()
    val ids = DeltaTable.forPath(spark, dir).toDFWithVirtualColumns
      .select(col("row_id")).collect().map(_.getLong(0)).sorted
    assert(ids.toSeq == Seq(n, n + 1),
      s"overwrite rows must get fresh ids past the mark: ${ids.toSeq}")
  }

  test("plain upsert assigns baseRowId on a row-tracked table") {
    // the plain-upsert fast path commits its own adds: leaving them bare
    // (no baseRowId / hwm domain update) is a rowTracking protocol
    // violation — readers would compute null row ids for those files
    val dir = freshDir()
    val src = Fixtures.readParquet(spark, sfDir, "nation")
      .select(col("n_nationkey"), col("n_name"))
    DeltaWriter.append(spark, src, dir, configuration = rtConf)
    val maxBefore = DeltaTable.forPath(spark, dir).toDFWithVirtualColumns
      .agg(max(col("row_id"))).collect()(0).getLong(0)
    val source = src.filter(col("n_nationkey") < 3)
      .withColumn("n_name", concat(lit("u_"), col("n_name")))
      .unionByName(spark.range(200, 203)
        .select(col("id").cast("int").as("n_nationkey"), lit("new").as("n_name")))
    DeltaTable.forPath(spark, dir).upsert(source, Seq("n_nationkey"))
    DeltaLog.clearCache()
    val snap = DeltaTable.forPath(spark, dir).snapshot
    assert(snap.allFiles.forall(_.baseRowId.isDefined),
      "upsert committed adds without baseRowId on a row-tracked table")
    val after = DeltaTable.forPath(spark, dir).toDFWithVirtualColumns
      .select(col("n_nationkey").cast("long"), col("row_id")).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    assert(after.forall(_._2 >= 0), "null/negative row id after upsert")
    assert(after.map(_._2).toSet.size == after.length,
      "duplicate row ids after upsert")
    // inserted rows are new rows: fresh ids past the pre-upsert mark
    // (replaced rows keep their ids, see the next test)
    assert(after.filter(_._1 >= 200).forall(_._2 > maxBefore),
      "inserted rows must take fresh ids past the mark")
  }

  test("upsert keeps the stable row ids of updated rows") {
    val dir = freshDir()
    val src = Fixtures.readParquet(spark, sfDir, "nation")
      .select(col("n_nationkey"), col("n_name"))
    DeltaWriter.append(spark, src, dir, configuration = rtConf)
    def ids(): Map[Long, Long] =
      DeltaTable.forPath(spark, dir).toDFWithVirtualColumns
        .select(col("n_nationkey").cast("long"), col("row_id")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val before = ids()
    DeltaTable.forPath(spark, dir).upsert(src.filter(col("n_nationkey") < 5)
      .withColumn("n_name", concat(lit("upd_"), col("n_name"))), Seq("n_nationkey"))
    DeltaLog.clearCache()
    val after = ids()
    before.foreach { case (k, id) => assert(after(k) == id, s"key $k id changed") }
  }

  test("MERGE on a row-tracked CDF table: change feed stays id-free") {
    // the write path materializes the row-id column into insert frames;
    // the CDF frames must NOT carry it — a mixed UPDATE+INSERT merge
    // would fail the strict change-data union, and an insert-only merge
    // would pollute _change_data's schema for foreign readers
    val dir = freshDir()
    val src = Fixtures.readParquet(spark, sfDir, "nation")
      .select(col("n_nationkey"), col("n_name"))
    DeltaWriter.append(spark, src, dir,
      configuration = rtConf + ("delta.enableChangeDataFeed" -> "true"))
    val source = src.filter(col("n_nationkey") < 4)
      .withColumn("n_name", concat(lit("m_"), col("n_name")))
      .unionByName(spark.range(300, 302)
        .select(col("id").cast("int").as("n_nationkey"), lit("ins").as("n_name")))
    DeltaTable.forPath(spark, dir).merge(source, "n_nationkey")
      .whenMatchedUpdateAll().whenNotMatchedInsertAll().execute()
    DeltaLog.clearCache()
    val feed = DeltaTable.forPath(spark, dir).changes(1, 1)
    assert(feed.columns.toSet ==
      Set("n_nationkey", "n_name", "_change_type", "_commit_version",
        "_commit_timestamp"),
      s"CDF schema polluted: ${feed.columns.mkString(",")}")
    val byType = feed.groupBy(col("_change_type")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType("insert") == 2 && byType("update_preimage") == 4 &&
      byType("update_postimage") == 4, s"unexpected feed counts: $byType")
  }
}
