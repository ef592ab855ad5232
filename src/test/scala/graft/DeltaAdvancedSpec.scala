package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.delta._
import graft.delta.DvCodec.Bitmap64

class DeltaAdvancedSpec extends AnyFunSuite {
  import TestSpark._

  private def tmpTable(): String =
    java.nio.file.Files.createTempDirectory("graft-adv-test").toString + "/t"

  test("batch CDF options: timestamp boundaries pick the right version window") {
    val dir = tmpTable()
    val src = Fixtures.readParquet(spark, sfDir, "region")
    DeltaWriter.append(spark, src.limit(1), dir)
    Thread.sleep(30)
    val betweenMillis = System.currentTimeMillis()
    Thread.sleep(30)
    DeltaWriter.append(spark, src.limit(2), dir)
    val log = DeltaLog.forPath(spark, dir)
    // startingTimestamp between the commits resolves to the SECOND commit;
    // endingTimestamp between them resolves to the FIRST
    assert(log.firstVersionAtOrAfter(betweenMillis) == 1L)
    assert(log.versionAtTimestamp(betweenMillis) == 0L)
    val changed = spark.read.format("graftdelta")
      .option("readChangeFeed", "true")
      .option("startingTimestamp", betweenMillis.toString)
      .load(dir)
    assert(changed.count() == 2, "only the second commit's two inserts")
    intercept[IllegalArgumentException] {
      spark.read.format("graftdelta").option("readChangeFeed", "true").load(dir)
        .count() // no starting boundary
    }
  }

  test("type widening: INT32 files read under the widened LONG schema") {
    val p = Fixtures.delta(spark, sfDir, "lineitem", Fixtures.Widen)
    val t = DeltaTable.forPath(spark, p)
    assert(t.snapshot.schema("l_orderkey").dataType ==
      org.apache.spark.sql.types.LongType)
    val src = Fixtures.readParquet(spark, sfDir, "lineitem")
    // every row present — both the INT32-written half and the LONG half
    assert(t.toDF.count() == src.count())
    val sums = t.toDF.agg(sum(col("l_orderkey"))).collect()(0).getLong(0)
    val srcSum = src.agg(sum(col("l_orderkey"))).collect()(0).getLong(0)
    assert(sums == srcSum)
    // registered source reads the widened table too
    assert(spark.read.format("graftdelta").load(p).count() == src.count())
  }

  test("variant column round-trips through write, log schema, and scan") {
    val p = Fixtures.delta(spark, sfDir, "documents", Fixtures.VariantV)
    val t = DeltaTable.forPath(spark, p)
    assert(t.snapshot.metadata.schemaString.contains("variant"))
    val back = t.toDF
      .select(col("doc_id"),
        expr("variant_get(payload, '$.n_chars', 'long')").as("n"))
    val src = Fixtures.readParquet(spark, sfDir, "documents")
      .select(col("doc_id"), col("n_chars").cast("long").as("n"))
    assert(back.exceptAll(src).isEmpty && src.exceptAll(back).isEmpty)
  }

  test("CDF table: cdc actions and _change_data files ignored on plain read") {
    val p = Fixtures.delta(spark, sfDir, "nation", Fixtures.Cdf)
    val t = DeltaTable.forPath(spark, p)
    assert(t.snapshot.metadata.configuration
      .get("delta.enableChangeDataFeed").contains("true"))
    // no change file ever enters the snapshot's file list
    assert(!t.snapshot.allFiles.exists(_.decodedPath.contains("_change_data")))
    val src = Fixtures.readParquet(spark, sfDir, "nation")
    assert(t.toDF.count() == src.count())
    assert(spark.read.format("graftdelta").load(p).count() == src.count())
    // the change feed reads the cdc file: its count is the rows it holds
    val cdcFeed = t.changes(2, 2)
    assert(cdcFeed.count() == 3 && cdcFeed.collect().length == 3)
  }

  test("CDF changes(): inserts per version, rewrites skipped, DV deletes derived") {
    val src = Fixtures.readParquet(spark, sfDir, "region")
      .select("r_regionkey", "r_name")
    val path = tmpTable()
    DeltaWriter.append(spark, src.filter(col("r_regionkey") < 2), path)
    DeltaWriter.append(spark, src.filter(col("r_regionkey") >= 2), path)
    val t = DeltaTable.forPath(spark, path)
    val cdf = t.changes(0, 1)
    assert(cdf.count() == src.count())
    assert(cdf.filter(col("_change_type") =!= "insert").count() == 0)
    // per-version attribution matches what each commit added
    assert(cdf.filter(col("_commit_version") === 0).count() ==
      src.filter(col("r_regionkey") < 2).count())
    // OPTIMIZE rewrite (dataChange=false) adds a version but NO changes
    t.optimize(smallFileThreshold = 64L * 1024 * 1024)
    val v2 = DeltaTable.forPath(spark, path).version
    assert(v2 == 2)
    assert(DeltaTable.forPath(spark, path).changes(0, v2).count() == src.count())
    // a DV-encoded delete yields exactly its bitmap-diff rows as deletes
    DeltaTable.forPath(spark, path).delete(col("r_regionkey") === 0)
    val dels = DeltaTable.forPath(spark, path).changes(3, 3)
    // count() scans: a DV-growth frame keeps only bitmap rows, which no
    // log statistic counts
    assert(dels.count() == dels.collect().length)
    assert(dels.filter(col("_change_type") =!= "delete").count() == 0)
    assert(dels.select(col("r_regionkey").cast("long"))
      .collect().map(_.getLong(0)).toSeq == Seq(0L))
    // a second delete on the SAME file reports only the new diff
    DeltaTable.forPath(spark, path).delete(col("r_regionkey") === 1)
    val dels2 = DeltaTable.forPath(spark, path).changes(4, 4)
    assert(dels2.select(col("r_regionkey").cast("long"))
      .collect().map(_.getLong(0)).toSeq == Seq(1L))
    // full range reconciles: inserts minus deletes = live rows
    val all = DeltaTable.forPath(spark, path).changes(0, 4)
    assert(all.filter(col("_change_type") === "insert").count() == src.count())
    assert(all.filter(col("_change_type") === "delete").count() == 2)
    assert(DeltaTable.forPath(spark, path).toDF.count() == src.count() - 2)
  }

  test("CDF changes(): UPDATE emits delete diffs + inserted images; restore refused") {
    val src = Fixtures.readParquet(spark, sfDir, "supplier")
      .select("s_suppkey", "s_name", "s_acctbal")
    val path = tmpTable()
    DeltaWriter.append(spark, src, path)
    val nUpd = DeltaTable.forPath(spark, path)
      .update(col("s_suppkey") % 7 === 0, Map("s_acctbal" -> lit(0.0)))
    val cdf = DeltaTable.forPath(spark, path).changes(1, 1)
    assert(cdf.count() == cdf.collect().length)
    // the update's preimages surface as deletes, postimages as inserts
    assert(cdf.filter(col("_change_type") === "delete").count() == nUpd)
    assert(cdf.filter(col("_change_type") === "insert").count() == nUpd)
    assert(cdf.filter(col("_change_type") === "insert")
      .filter(col("s_acctbal") =!= 0.0).count() == 0)
    // deleting EVERYTHING leaves pure removes carrying the last DV; the
    // feed lists exactly the still-live preimages
    val live = DeltaTable.forPath(spark, path).toDF.count()
    DeltaTable.forPath(spark, path).delete(lit(true))
    val wipe = DeltaTable.forPath(spark, path).changes(2, 2)
    assert(wipe.filter(col("_change_type") =!= "delete").count() == 0)
    assert(wipe.count() == live)
    assert(wipe.collect().length == live)
    // RESTORE re-adds the update's files as fresh adds, one carrying its
    // DV: the feed inserts exactly their live rows
    DeltaTable.forPath(spark, path).restore(1)
    val back = DeltaTable.forPath(spark, path).changes(3, 3)
    assert(DeltaLog.forPath(spark, path).readCommit(3).flatMap(_.add)
      .exists(_.deletionVector.isDefined))
    assert(back.filter(col("_change_type") =!= "insert").count() == 0)
    assert(back.count() == live && back.collect().length == live)
    // a hand-forged DV SHRINK (row restore) refuses loudly
    val log = DeltaLog.forPath(spark, path)
    val snapActs = log.readCommit(1)
    val restored = snapActs.flatMap(_.add).find(_.deletionVector.isDefined)
    restored.foreach { a =>
      val v = log.update().version + 1
      val lines = Seq(
        graft.delta.ActionJson.toJson(Action(RemoveFile(a.path,
          Some(System.currentTimeMillis()), dataChange = true, a.deletionVector))),
        graft.delta.ActionJson.toJson(Action(a.copy(deletionVector = None))))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(path, "_delta_log", f"$v%020d.json"),
        lines.mkString("", "\n", "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      DeltaLog.clearCache()
      val ex = intercept[UnsupportedOperationException] {
        DeltaTable.forPath(spark, path).changes(v, v).count()
      }
      assert(ex.getMessage.contains("restore"))
    }
  }

  test("many-add snapshot: 20k-file synthetic log replays, parallel prune exact") {
    val dir = java.nio.file.Files.createTempDirectory("graft-many-add").toString + "/t"
    SyntheticLog.build(spark, dir, 20000) // > parallel threshold (8192)
    val snap = DeltaLog.forPath(spark, dir).update()
    assert(snap.allFiles.size == 20000)
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, GreaterThanOrEqual, LessThanOrEqual, Literal}
    val k = AttributeReference("k", org.apache.spark.sql.types.LongType, nullable = true)()
    val filters = Seq(
      GreaterThanOrEqual(k, Literal(100000000L)),
      LessThanOrEqual(k, Literal(100099999L)))
    val pruned = FileSkipping.prune(snap.allFiles, snap.dataSchema, filters)
    assert(pruned.size == 10, s"got ${pruned.size}")
    // exactly the files whose [min,max] intersects the bounds (checkpoint
    // decode order is partition order, so compare as sets)
    assert(pruned.map(_.path).toSet ==
      (10000 until 10010).map(i => s"part-$i.parquet").toSet)
  }

  test("z85 codec matches the ZeroMQ reference vector and round-trips UUIDs") {
    val refBytes = Array(0x86, 0x4f, 0xd2, 0x6f, 0xb5, 0x59, 0xf7, 0x5b).map(_.toByte)
    assert(DvCodec.z85Encode(refBytes) == "HelloWorld")
    assert(DvCodec.z85Decode("HelloWorld").sameElements(refBytes))
    val uuid = java.util.UUID.fromString("0c9a1f2b-3d4e-4f60-8a7b-1c2d3e4f5a6b")
    assert(DvCodec.z85ToUuid(DvCodec.uuidToZ85(uuid)) == uuid)
  }

  test("DV bitmap round-trips through the portable format incl. >32-bit rows") {
    val values = Seq(0L, 1L, 77L, 100000L, (1L << 32) + 5L, (1L << 33) + 123L)
    val bm = Bitmap64.fromValues(values)
    assert(bm.cardinality == values.size)
    val back = DvCodec.deserialize(DvCodec.serialize(bm))
    values.foreach(v => assert(back.contains(v), s"missing $v"))
    assert(!back.contains(2L) && !back.contains((1L << 32) + 6L))
    // file framing with CRC
    val (fileBytes, offset, size) = DvCodec.frameSingle(DvCodec.serialize(bm))
    assert(size == DvCodec.serialize(bm).length)
    val data = DvCodec.readFramed(fileBytes, offset)
    assert(DvCodec.deserialize(data).cardinality == values.size)
  }

  test("delete via deletion vectors filters rows; matches parquet oracle") {
    val src = Fixtures.readParquet(spark, sfDir, "lineitem")
    val path = tmpTable()
    DeltaWriter.append(spark, src.repartitionByRange(4, col("l_orderkey")), path)
    val t = DeltaTable.forPath(spark, path)
    val n = t.delete(col("l_orderkey") % 10 === 7)
    val expected = src.filter(col("l_orderkey") % 10 === 7).count()
    assert(n == expected, s"deleted $n, expected $expected")
    val got = t.toDF.count()
    assert(got == src.count() - expected)
    // values, not just counts
    val s1 = t.toDF.agg(sum("l_extendedprice")).collect()(0).getDouble(0)
    val s2 = src.filter(!(col("l_orderkey") % 10 === 7))
      .agg(sum("l_extendedprice")).collect()(0).getDouble(0)
    assert(math.abs(s1 - s2) / math.abs(s2) < 1e-12)
    // second delete unions into existing DVs
    val n2 = t.delete(col("l_orderkey") % 10 === 8)
    assert(t.toDF.count() == src.filter(!(col("l_orderkey") % 10).isin(7, 8)).count())
    // deleting already-deleted rows is a no-op
    assert(t.delete(col("l_orderkey") % 10 === 7) == 0L)
    // listFiles reports deletes
    val lf = t.listFiles()
    assert(lf.where(col("have_deletes")).count() > 0)
    assert(lf.agg(sum("delete_count")).collect()(0).getLong(0) == n + n2)
  }

  test("delete that empties a file removes it from the snapshot") {
    val src = Fixtures.readParquet(spark, sfDir, "region")
    val path = tmpTable()
    DeltaWriter.append(spark, src.repartition(2), path)
    val t = DeltaTable.forPath(spark, path)
    val before = t.snapshot.allFiles.size
    t.delete(lit(true))
    assert(t.snapshot.allFiles.isEmpty, "all files should be removed")
    assert(t.toDF.count() == 0)
    assert(before > 0)
  }

  test("schema evolution: mergeSchema adds a column, old files read as null") {
    val src = Fixtures.readParquet(spark, sfDir, "orders")
    val path = tmpTable()
    DeltaWriter.append(spark, src.filter(col("o_orderkey") % 2 === 0), path)
    // non-merge append with extra column still rejected
    intercept[Exception] {
      DeltaWriter.append(spark, src.withColumn("bonus", lit(1L)), path)
    }
    DeltaWriter.append(spark,
      src.filter(col("o_orderkey") % 2 === 1).withColumn("bonus", col("o_orderkey") % 7),
      path, mergeSchema = true)
    val t = DeltaTable.forPath(spark, path)
    assert(t.snapshot.schema.fieldNames.contains("bonus"))
    val nulls = t.toDF.where(col("bonus").isNull).count()
    assert(nulls == src.filter(col("o_orderkey") % 2 === 0).count())
    val sums = t.toDF.agg(sum("bonus")).collect()(0).getLong(0)
    val expect = src.filter(col("o_orderkey") % 2 === 1)
      .agg(sum(col("o_orderkey") % 7)).collect()(0).getLong(0)
    assert(sums == expect)
  }

  test("column mapping (name mode): logical names and filters on read") {
    val path = Fixtures.delta(spark, sfDir, "nation", Fixtures.Mapped)
    val t = DeltaTable.forPath(spark, path)
    val src = Fixtures.readParquet(spark, sfDir, "nation")
    assert(t.toDF.columns.toSeq == src.columns.toSeq)
    assert(t.toDF.count() == src.count())
    // filter on a logical column works (pushed down against physical names)
    val got = t.toDF.where(col("n_regionkey") === 0).count()
    assert(got == src.where(col("n_regionkey") === 0).count())
    // writes/DML to mapped tables are covered by DeltaSurfaceSpec on a
    // COPY — this shared fixture must stay read-only
  }

  test("DELETE of 10^6+ rows builds bitmaps executor-side (no index collect)") {
    val path = tmpTable()
    val n = 2000000L
    val df = spark.range(n).toDF("id")
      .withColumn("v", col("id") % 1000)
    DeltaWriter.append(spark, df.repartition(4), path)
    val t = DeltaTable.forPath(spark, path)
    val deleted = t.delete(col("id") % 2 === 0)
    assert(deleted == n / 2)
    assert(t.toDF.count() == n / 2)
    assert(t.toDF.agg(min("id")).collect()(0).getLong(0) == 1L)
    // the DVs really carry ~10^6 entries
    val dvCount = t.listFiles().agg(sum("delete_count")).collect()(0).getLong(0)
    assert(dvCount == n / 2)
  }

  test("time travel across a delete sees pre-delete data") {
    val src = Fixtures.readParquet(spark, sfDir, "supplier")
    val path = tmpTable()
    DeltaWriter.append(spark, src, path)
    val t = DeltaTable.forPath(spark, path)
    t.delete(col("s_suppkey") % 2 === 0)
    assert(t.toDF(versionAsOf = 0).count() == src.count())
    assert(t.toDF.count() == src.filter(col("s_suppkey") % 2 === 1).count())
  }

  test("CDF and generated columns stamp their writer features at create and ALTER") {
    import org.apache.spark.sql.types._
    // create with CDF enabled
    val d1 = tmpTable()
    DeltaWriter.append(spark, Fixtures.readParquet(spark, sfDir, "region"), d1,
      configuration = Map("delta.enableChangeDataFeed" -> "true"))
    val p1 = DeltaLog.forPath(spark, d1).update().protocol
    assert(p1.writerFeatures.exists(_.contains("changeDataFeed")), p1.toString)
    // enable CDF via ALTER on a legacy table
    val d2 = tmpTable()
    DeltaWriter.append(spark, Fixtures.readParquet(spark, sfDir, "region"), d2)
    Alter.setProperties(spark, DeltaLog.forPath(spark, d2),
      Map("delta.enableChangeDataFeed" -> "true"))
    val p2 = DeltaLog.forPath(spark, d2).update().protocol
    assert(p2.writerFeatures.exists(_.contains("changeDataFeed")), p2.toString)
    // create with a generated column
    val d3 = tmpTable()
    val genMeta = new MetadataBuilder()
      .putString("delta.generationExpression", "r_regionkey * 2").build()
    DeltaWriter.append(spark,
      Fixtures.readParquet(spark, sfDir, "region")
        .withColumn("dbl", col("r_regionkey") * 2)
        .select(col("r_regionkey"), col("r_name"), col("dbl").as("dbl", genMeta)),
      d3)
    val p3 = DeltaLog.forPath(spark, d3).update().protocol
    assert(p3.writerFeatures.exists(_.contains("generatedColumns")), p3.toString)
    // add a generated column to a legacy table
    val d4 = tmpTable()
    DeltaWriter.append(spark,
      Fixtures.readParquet(spark, sfDir, "region").select(col("r_regionkey")), d4)
    Alter.addColumns(spark, DeltaLog.forPath(spark, d4),
      Seq(StructField("dbl", LongType, nullable = true, genMeta)))
    val p4 = DeltaLog.forPath(spark, d4).update().protocol
    assert(p4.writerFeatures.exists(_.contains("generatedColumns")), p4.toString)
  }

  test("DESCRIBE HISTORY carries operationMetrics per operation type") {
    val dir = tmpTable()
    val src = Fixtures.readParquet(spark, sfDir, "nation")
      .select(col("n_nationkey"), col("n_name"))
    DeltaWriter.append(spark, src, dir)                                   // v0 WRITE
    val t = DeltaTable.forPath(spark, dir)
    t.delete(col("n_nationkey") % 5 === 0)                                // v1 DELETE
    t.update(col("n_nationkey") === 1, Map("n_name" -> lit("x")))         // v2 UPDATE
    DeltaLog.clearCache()
    val hist = DeltaTable.forPath(spark, dir).history().collect()
      .map(r => r.getAs[Long]("version") ->
        (r.getAs[String]("operation"),
         r.getAs[Map[String, String]]("operationMetrics"))).toMap
    val (op0, m0) = hist(0L)
    assert(op0 == "WRITE" && m0("numOutputRows") == src.count().toString &&
      m0("numFiles").toInt >= 1, m0.toString)
    val (op1, m1) = hist(1L)
    assert(op1 == "DELETE" &&
      m1("numDeletedRows") == src.filter(col("n_nationkey") % 5 === 0).count().toString,
      m1.toString)
    val (op2, m2) = hist(2L)
    assert(op2 == "UPDATE" && m2("numUpdatedRows") == "1", m2.toString)
    // SQL face serializes the map as JSON
    spark.conf.set("spark.sql.catalog.graft", "graft.delta.GraftCatalog")
    GraftCatalog.attach("hist_t", dir)
    val sqlRow = spark.sql("CALL graft.history('hist_t')")
      .filter(col("version") === 1).collect()(0)
    assert(sqlRow.getAs[String]("operation_metrics").contains("numDeletedRows"))
  }

  test("TIMESTAMP_NTZ and VARIANT columns stamp reader+writer type features") {
    import org.apache.spark.sql.types._
    // create with a variant column
    val d1 = tmpTable()
    DeltaWriter.append(spark,
      spark.sql("""SELECT id, parse_json('{"a":1}') AS v FROM range(3)"""), d1)
    val p1 = DeltaLog.forPath(spark, d1).update().protocol
    assert(p1.minReaderVersion == 3, p1.toString)
    assert(p1.readerFeatures.exists(_.contains("variantType")), p1.toString)
    assert(p1.writerFeatures.exists(_.contains("variantType")), p1.toString)
    // create with a TIMESTAMP_NTZ column
    val d2 = tmpTable()
    DeltaWriter.append(spark,
      spark.sql("SELECT id, TIMESTAMP_NTZ'2024-01-01 00:00:00' AS ts FROM range(3)"), d2)
    val p2 = DeltaLog.forPath(spark, d2).update().protocol
    assert(p2.readerFeatures.exists(_.contains("timestampNtz")) &&
      p2.writerFeatures.exists(_.contains("timestampNtz")), p2.toString)
    // mergeSchema evolution adding a variant column to a legacy table
    val d3 = tmpTable()
    DeltaWriter.append(spark, spark.range(3).toDF("id"), d3)
    assert(DeltaLog.forPath(spark, d3).update().protocol.readerFeatures.isEmpty)
    DeltaWriter.append(spark,
      spark.sql("""SELECT id, parse_json('{"b":2}') AS v FROM range(3, 6)"""), d3,
      mergeSchema = true)
    val p3 = DeltaLog.forPath(spark, d3).update().protocol
    assert(p3.minReaderVersion == 3 &&
      p3.readerFeatures.exists(_.contains("variantType")) &&
      p3.writerFeatures.exists(_.contains("variantType")), p3.toString)
    // ADD COLUMNS introducing TIMESTAMP_NTZ
    val d4 = tmpTable()
    DeltaWriter.append(spark, spark.range(3).toDF("id"), d4)
    Alter.addColumns(spark, DeltaLog.forPath(spark, d4),
      Seq(StructField("ts", TimestampNTZType, nullable = true)))
    val p4 = DeltaLog.forPath(spark, d4).update().protocol
    assert(p4.readerFeatures.exists(_.contains("timestampNtz")) &&
      p4.writerFeatures.exists(_.contains("timestampNtz")), p4.toString)
  }

  test("liquid clustering: CLUSTER BY records columns, OPTIMIZE re-clusters " +
       "and stamps clusteringProvider") {
    val dir = tmpTable()
    val src = Fixtures.readParquet(spark, sfDir, "customer")
      .select(col("c_custkey"), col("c_acctbal"), col("c_mktsegment"))
    DeltaWriter.append(spark, src.repartition(4), dir)
    Clustering.clusterBy(spark, DeltaLog.forPath(spark, dir),
      Seq("c_custkey", "c_acctbal"))
    val snap = DeltaLog.forPath(spark, dir).update()
    assert(Clustering.columns(snap) == Seq("c_custkey", "c_acctbal"))
    assert(snap.protocol.writerFeatures.exists(f =>
      f.contains("clustering") && f.contains("domainMetadata")), snap.protocol.toString)
    val res = Clustering.optimize(spark, DeltaLog.forPath(spark, dir))
    assert(res.filesRemoved == 4 && res.filesAdded >= 1)
    DeltaLog.clearCache()
    val after = DeltaLog.forPath(spark, dir).update()
    assert(after.allFiles.forall(_.clusteringProvider.contains("liquid")),
      after.allFiles.map(_.clusteringProvider).toString)
    // content identical, and the rewrite tightened per-file c_custkey bounds:
    // files must now be disjoint on the leading clustered column
    val got = DeltaTable.forPath(spark, dir).toDF
    assert(got.count() == src.count())
    assert(got.exceptAll(src).isEmpty && src.exceptAll(got).isEmpty)
    // provider survives a checkpoint round-trip
    Checkpoints.checkpoint(DeltaLog.forPath(spark, dir))
    new java.io.File(dir, "_delta_log/00000000000000000000.json").delete()
    new java.io.File(dir, "_delta_log/00000000000000000001.json").delete()
    DeltaLog.clearCache()
    val replayed = DeltaLog.forPath(spark, dir).update()
    assert(replayed.allFiles.forall(_.clusteringProvider.contains("liquid")),
      "clusteringProvider lost through checkpoint")
    assert(Clustering.columns(replayed) == Seq("c_custkey", "c_acctbal"))
  }

  // ---- DV known-answer tests: every expected byte below was produced by
  // an INDEPENDENT implementation (python: struct + zlib.crc32 + a
  // from-scratch Z85 encoder), assembled straight from the public specs —
  // ZeroMQ RFC 32/Z85, RoaringFormatSpec, and the Delta protocol's
  // "Deletion Vector Format". Decoding bytes the codec did not produce
  // breaks the encode/decode symmetry that round-trip tests can't.

  private def hex(s: String): Array[Byte] =
    s.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray

  /** Portable RoaringBitmapArray for rows {1,2,3, 2^32+1}: magic LE, count
    * i64 LE, then per part [key i32 LE][RoaringFormatSpec 32-bit bitmap
    * with SERIAL_COOKIE_NO_RUNCONTAINER=12346]. */
  private val katPortableHex =
    "d1d339640200000000000000000000003a3000000100000000000200100000000100" +
    "02000300010000003a3000000100000000000000100000000100"
  private val katRows = Set(1L, 2L, 3L, (1L << 32) | 1L)

  test("DV file with MULTIPLE framed vectors reads at a non-initial offset") {
    // foreign writers pack several DVs per .bin file; the descriptor's
    // offset selects the frame. Build a two-frame file by hand and read
    // the SECOND frame through the store.
    import java.nio.ByteBuffer
    val bm1 = Bitmap64.fromValues(Seq(1L, 2L))
    val bm2 = Bitmap64.fromValues(Seq(7L, 8L, 9L))
    def frame(data: Array[Byte]): Array[Byte] = {
      val crc = new java.util.zip.CRC32; crc.update(data)
      val bb = ByteBuffer.allocate(4 + data.length + 4)
      bb.putInt(data.length); bb.put(data); bb.putInt(crc.getValue.toInt)
      bb.array()
    }
    val d1 = DvCodec.serialize(bm1)
    val d2 = DvCodec.serialize(bm2)
    val file = Array(1.toByte) ++ frame(d1) ++ frame(d2)
    val dir = java.nio.file.Files.createTempDirectory("graft-multidv")
    val p = dir.resolve("deletion_vector_multi.bin")
    java.nio.file.Files.write(p, file)
    val offset2 = 1 + 4 + d1.length + 4
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val got2 = DvCodec.deserialize(DvCodec.readFramed(
      java.nio.file.Files.readAllBytes(p), offset2))
    assert(got2.cardinality == 3 && got2.contains(7L) && got2.contains(9L) &&
      !got2.contains(1L))
    val got1 = DvCodec.deserialize(DvCodec.readFramed(
      java.nio.file.Files.readAllBytes(p), 1))
    assert(got1.cardinality == 2 && got1.contains(1L))
  }

  test("concurrent commits on a row-tracked table conflict loudly, never reuse ids") {
    val dir = tmpTable()
    val src = Fixtures.readParquet(spark, sfDir, "region")
      .select(col("r_regionkey"), col("r_name"))
    DeltaWriter.append(spark, src, dir,
      configuration = Map("delta.enableRowTracking" -> "true"))
    // stage an OPTIMIZE-like competitor: write a commit advancing the
    // high-water mark at the version UPDATE will target
    val log = DeltaLog.forPath(spark, dir)
    val snap = log.update()
    val hwm = RowTracking.highWaterMark(snap)
    LogStore.write(log.fs, log.commitFile(snap.version + 1),
      Seq(
        Action(CommitInfo(System.currentTimeMillis(), "OPTIMIZE")),
        Action(DomainMetadata(RowTracking.DomainName,
          s"""{"rowIdHighWaterMark":${hwm + 100}}""", removed = false)))
        .map(ActionJson.toJson).mkString("", "\n", "\n"))
    // a commit staged against the STALE snapshot must CONFLICT on the
    // domain-metadata winner (rebasing over it would regress the mark) —
    // driven at the ConflictChecker level, where the race is controllable
    val e = intercept[Exception] {
      ConflictChecker.commit(log, Some(snap), "UPDATE", Nil,
        scope = ConflictChecker.ReadScope.FilesOnly)
    }
    assert(e.getMessage.contains("domain metadata"), e.getMessage)
    // the mark from the winner is intact
    DeltaLog.clearCache()
    assert(RowTracking.highWaterMark(DeltaLog.forPath(spark, dir).update()) == hwm + 100)
  }

  test("DV KAT: z85 codec matches the ZeroMQ RFC test vector") {
    val bytes = Array(0x86, 0x4f, 0xd2, 0x6f, 0xb5, 0x59, 0xf7, 0x5b).map(_.toByte)
    assert(DvCodec.z85Encode(bytes) == "HelloWorld")
    assert(DvCodec.z85Decode("HelloWorld").sameElements(bytes))
  }

  test("DV KAT: hand-assembled portable bitmap bytes decode to the expected rows") {
    val bm = DvCodec.deserialize(hex(katPortableHex))
    assert(bm.cardinality == 4)
    katRows.foreach(r => assert(bm.contains(r), s"row $r missing"))
    assert(!bm.contains(0L) && !bm.contains(4L) && !bm.contains(1L << 32))
    // and our encoder emits the magic + count + key framing byte-for-byte
    // (container payloads may legally differ, e.g. run encoding, so only
    // the 12-byte array header is asserted against the spec literal)
    val enc = DvCodec.serialize(bm)
    assert(enc.take(12).sameElements(hex(katPortableHex).take(12)))
    assert(DvCodec.deserialize(enc).cardinality == 4)
  }

  test("DV KAT: framed DV file with independently-computed CRC32 reads back") {
    val frame = hex(
      "010000003c" + katPortableHex + "38896a26") // ver 1, size BE, data, crc BE
    val data = DvCodec.readFramed(frame, 1)
    assert(data.sameElements(hex(katPortableHex)))
    assert(DvCodec.deserialize(data).cardinality == 4)
    // corrupting one payload byte must fail the CRC check loudly
    val bad = frame.clone(); bad(10) = (bad(10) ^ 1).toByte
    assertThrows[IllegalArgumentException](DvCodec.readFramed(bad, 1))
  }

  test("DV KAT: inline 'i' descriptor with foreign-encoded z85 payload decodes") {
    val inline = "^Bg9^0SSi20000000000iXQKl0rr91000625c8Xg0rrf30@@u40025l0003100000000Mg00031"
    val dv = DeletionVectorDescriptor("i", inline, None, 60, 4)
    val bm = DeletionVectorStore.read(
      new org.apache.hadoop.fs.Path("/nonexistent"),
      org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration),
      dv)
    assert(bm.cardinality == 4)
    katRows.foreach(r => assert(bm.contains(r)))
  }

  test("DV KAT: 'u' descriptor z85 uuid resolves to the spec'd file name") {
    val u = java.util.UUID.fromString("00112233-4455-6677-8899-aabbccddeeff")
    val z = "01*zhl@^&yH)+oP+?.Z!" // independent z85 of the 16 BE uuid bytes
    assert(DvCodec.uuidToZ85(u) == z)
    assert(DvCodec.z85ToUuid(z) == u)
    val p = DeletionVectorStore.resolvePath(
      new org.apache.hadoop.fs.Path("/tbl"),
      DeletionVectorDescriptor("u", s"ab$z", Some(1), 60, 4))
    assert(p.toString == s"/tbl/ab/deletion_vector_$u.bin")
  }

  test("checkpoint-only log (every commit JSON cleaned) still opens at the checkpoint") {
    val dir = tmpTable()
    val src = Fixtures.readParquet(spark, sfDir, "region")
    DeltaWriter.append(spark, src, dir)
    DeltaWriter.append(spark, src, dir) // v1 doubles every row
    val log = DeltaLog.forPath(spark, dir)
    val ckptV = Checkpoints.checkpoint(log)
    assert(ckptV == 1L)
    (0L to ckptV).foreach { v =>
      java.nio.file.Files.delete(java.nio.file.Paths.get(
        dir, "_delta_log", f"$v%020d.json"))
    }
    DeltaLog.clearCache()
    // delta's metadata-cleanup steady state: _last_checkpoint + checkpoint
    // parquet, zero commit JSONs — update(), snapshotAt and tableExists
    // must all treat the checkpoint as the (only) source of truth
    val fresh = DeltaLog.forPath(spark, dir)
    assert(fresh.tableExists)
    assert(fresh.update().version == ckptV)
    assert(DeltaTable.forPath(spark, dir).toDF.count() == 2 * src.count())
    assert(fresh.snapshotAt(ckptV).version == ckptV)
  }

  test("stale cached snapshot + retention-cleaned tail rebuilds from the checkpoint") {
    val dir = tmpTable()
    val src = Fixtures.readParquet(spark, sfDir, "region")
    DeltaWriter.append(spark, src, dir) // v0
    val stale = DeltaLog.forPath(spark, dir)
    assert(stale.update().version == 0L) // pins cachedLatest at v0
    // a SECOND writer advances the table to v3, checkpoints, and a
    // retention cleaner removes every commit JSON the checkpoint covers —
    // the stale instance (still caching v0) must rebuild from the
    // checkpoint instead of incrementally replaying a tail that is gone
    DeltaLog.clearCache() // drops the global handle; `stale` lives on
    (1 to 3).foreach(_ => DeltaWriter.append(spark, src, dir))
    val fresh = DeltaLog.forPath(spark, dir)
    assert(Checkpoints.checkpoint(fresh) == 3L)
    (0L to 3L).foreach { v =>
      java.nio.file.Files.delete(java.nio.file.Paths.get(
        dir, "_delta_log", f"$v%020d.json"))
    }
    val snap = stale.update()
    assert(snap.version == 3L)
    assert(DeltaTable.forPath(spark, dir).toDF.count() == 4 * src.count())
  }

  test("DV delete lands on files whose log paths are URL-encoded (space in name)") {
    // a DELETE over a foreign table whose add paths need URL decoding:
    // hits arrive keyed by the scan's encoded URI, facts by decoded path —
    // the join must agree or the delete dies on the unknown-file guard
    val src = ForeignFixtures.inline(spark, sfDir)
    val dir = tmpTable()
    val hconf = spark.sessionState.newHadoopConf()
    val sp = new org.apache.hadoop.fs.Path(src)
    val dp = new org.apache.hadoop.fs.Path(dir)
    org.apache.hadoop.fs.FileUtil.copy(
      sp.getFileSystem(hconf), sp, dp.getFileSystem(hconf), dp, false, hconf)
    val before = DeltaTable.forPath(spark, dir).toDF
      .filter(col("n_nationkey") % 3 === 1).count() // slice in "file b.parquet"
    assert(before > 0)
    DeltaTable.forPath(spark, dir)
      .delete(col("n_nationkey") % 3 === 1) // hits ONLY the encoded-name file
    val after = DeltaTable.forPath(spark, dir).toDF
    assert(after.filter(col("n_nationkey") % 3 === 1).count() == 0)
    assert(after.count() > 0, "delete must not wipe the other files")
  }
}
