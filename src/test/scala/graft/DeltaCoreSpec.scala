package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.delta._

object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sfDir = "/root/testdata/sf0.001"

  /** Thresholds that make every checkpoint-backed snapshot eager (an
    * in-memory file list) or lazy (adds kept in the checkpoint parquet). */
  val snapshotPaths: Seq[(String, Long)] = Seq("eager" -> Long.MaxValue, "lazy" -> 1L)

  /** Run `body` with `spark.graft.lazySnapshot.minActions` set, on fresh
    * DeltaLog handles; always restore (the shared session outlives it). */
  def withLazyThreshold[A](minActions: Long)(body: => A): A = {
    DeltaLog.clearCache()
    spark.conf.set("spark.graft.lazySnapshot.minActions", minActions.toString)
    try body
    finally {
      spark.conf.unset("spark.graft.lazySnapshot.minActions")
      DeltaLog.clearCache()
    }
  }
}

class DeltaCoreSpec extends AnyFunSuite {
  import TestSpark._

  private def tmpTable(): String =
    java.nio.file.Files.createTempDirectory("graft-delta-test").toString + "/t"

  test("append + read back round-trips against parquet oracle") {
    val src = Fixtures.readParquet(spark, sfDir, "lineitem")
    val path = tmpTable()
    val v = DeltaWriter.append(spark, src.repartition(3), path)
    assert(v == 0L)
    val back = DeltaTable.forPath(spark, path).toDF
    assert(back.schema.fieldNames.toSeq == src.schema.fieldNames.toSeq)
    assert(back.count() == src.count())
    val s1 = back.agg(sum("l_extendedprice")).collect()(0).getDouble(0)
    val s2 = src.agg(sum("l_extendedprice")).collect()(0).getDouble(0)
    assert(math.abs(s1 - s2) / math.max(1.0, math.abs(s2)) < 1e-12)
  }

  test("writeStatsAsStruct checkpoints carry typed stats + partition values") {
    val src = Fixtures.readParquet(spark, sfDir, "nation")
    val path = tmpTable()
    DeltaWriter.append(spark, src.filter(col("n_nationkey") < 20), path,
      partitionBy = Seq("n_regionkey"),
      configuration = Map("delta.checkpoint.writeStatsAsStruct" -> "true"))
    DeltaWriter.append(spark, src.filter(col("n_nationkey") >= 20), path,
      partitionBy = Seq("n_regionkey"))
    Checkpoints.checkpoint(DeltaLog.forPath(spark, path))
    val cp = spark.read.parquet(
      path + "/_delta_log/00000000000000000001.checkpoint.parquet")
    val addT = cp.schema("add").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(addT.fieldNames.contains("stats_parsed"), addT.fieldNames.mkString(","))
    assert(addT.fieldNames.contains("partitionValues_parsed"))
    val rows = cp.where(col("add").isNotNull).select(
      col("add.stats_parsed.numRecords").as("n"),
      col("add.stats_parsed.minValues.n_nationkey").as("lo"),
      col("add.stats_parsed.maxValues.n_nationkey").as("hi"),
      col("add.stats_parsed.nullCount.n_nationkey").as("nulls"),
      col("add.partitionValues_parsed.n_regionkey").as("pv"),
      col("add.partitionValues")("n_regionkey").as("pvStr")).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      // min/max/partition leaves keep the TABLE's types (int here)
      assert(r.getLong(0) > 0, "numRecords must parse from the JSON stats")
      assert(r.getAs[Number](1).longValue <= r.getAs[Number](2).longValue,
        s"min>max: $r")
      assert(r.getLong(3) == 0L)
      assert(r.getAs[Number](4).longValue.toString == r.getString(5),
        s"typed partition value disagrees with the string map: $r")
    }
    // our own reader still decodes + skips normally from this checkpoint
    DeltaLog.clearCache()
    java.nio.file.Files.delete(java.nio.file.Paths.get(path, "_delta_log",
      "00000000000000000000.json"))
    val snap = DeltaTable.forPath(spark, path).snapshot
    assert(snap.allFiles.forall(_.stats.nonEmpty))
    assert(DeltaTable.forPath(spark, path).toDF.count() == src.count())
  }

  test("multi-commit append reconciles; checkpoint + incremental replay") {
    val src = Fixtures.readParquet(spark, sfDir, "orders")
    val path = tmpTable()
    DeltaWriter.append(spark, src.filter(col("o_orderkey") % 2 === 0), path)
    Checkpoints.checkpoint(DeltaLog.forPath(spark, path))
    DeltaWriter.append(spark, src.filter(col("o_orderkey") % 2 === 1), path)
    val t = DeltaTable.forPath(spark, path)
    assert(t.version == 1L)
    assert(t.toDF.count() == src.count())
    // time travel to v0
    assert(t.toDF(versionAsOf = 0).count() == src.filter(col("o_orderkey") % 2 === 0).count())
    // checkpoint actually used: delete the v0 json and re-read fresh
    DeltaLog.clearCache()
    java.nio.file.Files.delete(java.nio.file.Paths.get(path, "_delta_log",
      "00000000000000000000.json"))
    val t2 = DeltaTable.forPath(spark, path)
    assert(t2.toDF.count() == src.count())
  }

  test("partitioned write + partition pruning via FileIndex") {
    val src = Fixtures.readParquet(spark, sfDir, "lineitem")
    val path = tmpTable()
    DeltaWriter.append(spark, src, path, partitionBy = Seq("l_returnflag"))
    val t = DeltaTable.forPath(spark, path)
    val snap = t.snapshot
    assert(snap.metadata.partitionColumns == Seq("l_returnflag"))
    assert(snap.allFiles.forall(_.partitionValues.contains("l_returnflag")))
    GraftMetrics.clear()
    val got = t.toDF.filter(col("l_returnflag") === "R").count()
    val want = src.filter(col("l_returnflag") === "R").count()
    assert(got == want)
    val ev = GraftMetrics.pushdownLog(spark).collect()
    assert(ev.nonEmpty && ev.exists(r =>
      r.getAs[Int]("filesAfter") < r.getAs[Int]("filesBefore")))
    // whole table still right (partition values injected, not read from files)
    assert(t.toDF.count() == src.count())
  }

  test("stats-based file skipping prunes files for selective predicates") {
    val src = Fixtures.readParquet(spark, sfDir, "lineitem")
    val path = tmpTable()
    DeltaWriter.append(spark, src.repartitionByRange(5, col("l_orderkey")), path)
    val t = DeltaTable.forPath(spark, path)
    assert(t.snapshot.allFiles.size == 5)
    GraftMetrics.clear()
    val maxKey = src.agg(max("l_orderkey")).collect()(0).getLong(0)
    val got = t.toDF.filter(col("l_orderkey") === maxKey).count()
    val want = src.filter(col("l_orderkey") === maxKey).count()
    assert(got == want)
    val ev = GraftMetrics.pushdownLog(spark).collect()
    assert(ev.exists(r => r.getAs[Int]("filesAfter") == 1),
      s"expected skip to 1 file, got ${ev.mkString(";")}")
  }

  test("idempotent txn append skips duplicate writes") {
    val src = Fixtures.readParquet(spark, sfDir, "region")
    val path = tmpTable()
    val v0 = DeltaWriter.append(spark, src, path, txnAppId = Some("app1"), txnVersion = Some(1L))
    val v1 = DeltaWriter.append(spark, src, path, txnAppId = Some("app1"), txnVersion = Some(1L))
    assert(v0 == 0L && v1 == 0L)
    val t = DeltaTable.forPath(spark, path)
    assert(t.toDF.count() == src.count())
    assert(t.getTransactionVersion("app1").contains(1L))
    // higher txn version appends
    DeltaWriter.append(spark, src, path, txnAppId = Some("app1"), txnVersion = Some(2L))
    assert(t.toDF.count() == 2 * src.count())
  }

  test("listFiles / domainMetadata / history metadata surfaces") {
    val src = Fixtures.readParquet(spark, sfDir, "nation")
    val path = tmpTable()
    DeltaWriter.append(spark, src.repartition(2), path)
    val t = DeltaTable.forPath(spark, path)
    val lf = t.listFiles().collect()
    assert(lf.length == 2)
    assert(lf.map(_.getAs[Long]("cardinality")).sum == src.count())
    assert(t.domainMetadata().collect().isEmpty)
    val h = t.history().collect()
    assert(h.length == 1 && h(0).getAs[String]("operation") == "WRITE")
  }

  test("multi-part checkpoint round-trips; replay after dropping early json") {
    val src = Fixtures.readParquet(spark, sfDir, "orders")
    val path = tmpTable()
    DeltaWriter.append(spark, src.filter(col("o_orderkey") % 2 === 0).repartition(5), path)
    DeltaWriter.append(spark, src.filter(col("o_orderkey") % 2 === 1).repartition(5), path)
    val log = DeltaLog.forPath(spark, path)
    // 10 add actions + protocol + metadata = 12 → 4-per-part forces 3 parts
    Checkpoints.checkpoint(log, maxActionsPerPart = 4)
    val parts = new java.io.File(path, "_delta_log").listFiles()
      .map(_.getName).filter(n => n.contains(".checkpoint.") && n.endsWith(".parquet"))
    assert(parts.length >= 3, s"expected multi-part checkpoint, got ${parts.mkString(",")}")
    // force replay from the checkpoint alone
    DeltaLog.clearCache()
    java.nio.file.Files.delete(java.nio.file.Paths.get(path, "_delta_log",
      "00000000000000000000.json"))
    val t = DeltaTable.forPath(spark, path)
    assert(t.toDF.count() == src.count())
    val s1 = t.toDF.agg(sum("o_totalprice")).collect()(0).getDouble(0)
    val s2 = src.agg(sum("o_totalprice")).collect()(0).getDouble(0)
    assert(math.abs(s1 - s2) / math.abs(s2) < 1e-12)
  }

  test("expired-log cleanup reclaims pre-checkpoint JSONs, state survives") {
    val src = Fixtures.readParquet(spark, sfDir, "nation")
    val path = tmpTable()
    DeltaWriter.append(spark, src.filter(col("n_nationkey") < 10), path)   // v0
    DeltaWriter.append(spark, src.filter(col("n_nationkey") >= 10), path)  // v1
    val log = DeltaLog.forPath(spark, path)
    Checkpoints.checkpoint(log)                                            // cp @ v1
    DeltaWriter.append(spark, src.limit(3), path)                          // v2
    // retention parsing
    assert(Checkpoints.parseRetentionMs(Some("interval 2 days")) == 2L * 86400000)
    assert(Checkpoints.parseRetentionMs(Some("interval 1 hour")) == 3600000L)
    assert(Checkpoints.parseRetentionMs(Some("12345")) == 12345L)
    assert(Checkpoints.parseRetentionMs(None) == 30L * 86400000)
    // a fresh checkpoint deletes nothing under the 30-day default
    assert(new java.io.File(path, "_delta_log/00000000000000000000.json").exists())
    // cleanup with a 1s retention, evaluated 1 minute in the future:
    // v0 is below the checkpoint AND expired → reclaimed; v1 (the
    // checkpoint version) and v2 survive
    val n = Checkpoints.cleanUpExpiredLogs(log,
      Map("delta.logRetentionDuration" -> "interval 1 second"),
      nowMs = System.currentTimeMillis() + 60000)
    assert(n == 1, s"expected 1 reclaimed file, got $n")
    assert(!new java.io.File(path, "_delta_log/00000000000000000000.json").exists())
    assert(new java.io.File(path, "_delta_log/00000000000000000001.json").exists())
    DeltaLog.clearCache()
    val t = DeltaTable.forPath(spark, path)
    assert(t.version == 2L)
    assert(t.toDF.count() == src.count() + 3)
    // history older than retention is no longer addressable
    intercept[Exception] { t.toDF(0L).count() }
  }

  test("expired-log cleanup is prefix-safe: a fresh v0 shields later expired commits") {
    val src = Fixtures.readParquet(spark, sfDir, "nation")
    val path = tmpTable()
    DeltaWriter.append(spark, src.limit(5), path)  // v0
    DeltaWriter.append(spark, src.limit(3), path)  // v1
    DeltaWriter.append(spark, src.limit(2), path)  // v2
    val log = DeltaLog.forPath(spark, path)
    Checkpoints.checkpoint(log)                    // cp @ v2
    // age ONLY v1 (mtime skew: copies, clock drift). v0 stays fresh, so
    // the expired prefix is empty — nothing may be deleted, else replay
    // to v1/v2 from JSON would cross a hole.
    val v1 = new java.io.File(path, "_delta_log/00000000000000000001.json")
    assert(v1.setLastModified(System.currentTimeMillis() - 90L * 86400000))
    val n = Checkpoints.cleanUpExpiredLogs(log,
      Map("delta.logRetentionDuration" -> "interval 30 days"))
    assert(n == 0, s"non-prefix deletion: reclaimed $n files")
    assert(v1.exists())
  }

  test("gapped log fails loudly instead of replaying through the hole") {
    for ((_, minActions) <- snapshotPaths) withLazyThreshold(minActions) {
      val src = Fixtures.readParquet(spark, sfDir, "nation")
      val path = tmpTable()
      DeltaWriter.append(spark, src.limit(5), path)                       // v0
      DeltaWriter.append(spark, src.limit(3), path)                       // v1
      // v2 re-emits metaData — exactly the shape that let a gapped replay
      // "succeed" silently before the contiguity guard
      Alter.setProperties(spark, DeltaLog.forPath(spark, path), Map("foo.bar" -> "1")) // v2
      DeltaWriter.append(spark, src.limit(2), path)                       // v3
      assert(new java.io.File(path, "_delta_log/00000000000000000001.json").delete())
      DeltaLog.clearCache()
      val e = intercept[IllegalStateException] {
        DeltaTable.forPath(spark, path).toDF.count()
      }
      assert(e.getMessage.contains("missing"), e.getMessage)
    }
  }

  test("crashed re-checkpoint: mixed multi-part set without pointer is ignored") {
    for ((_, minActions) <- snapshotPaths) withLazyThreshold(minActions) {
      val src = Fixtures.readParquet(spark, sfDir, "orders")
      val path = tmpTable()
      DeltaWriter.append(spark, src.filter(col("o_orderkey") % 2 === 0).repartition(5), path)
      DeltaWriter.append(spark, src.filter(col("o_orderkey") % 2 === 1).repartition(5), path)
      val log = DeltaLog.forPath(spark, path)
      Checkpoints.checkpoint(log, maxActionsPerPart = 4)
      // Simulate a crash mid-way through a same-part-count re-checkpoint: the
      // writer has retracted `_last_checkpoint` and renamed SOME new parts in
      // (part 2 ends up holding part 1's rows — possibly dropping/duplicating
      // the metaData or add actions). The set is complete BY NAME (same `of`),
      // so only the retracted pointer distinguishes it from a good checkpoint.
      val parts = new java.io.File(path, "_delta_log").listFiles()
        .filter(_.getName.matches(raw"\d{20}\.checkpoint\.\d{10}\.\d{10}\.parquet"))
        .sortBy(_.getName)
      assert(parts.length >= 3)
      java.nio.file.Files.copy(parts(0).toPath, parts(1).toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      // keep Hadoop LocalFileSystem's checksum sidecar consistent with the copy
      def crc(f: java.io.File) = new java.io.File(f.getParent, "." + f.getName + ".crc")
      if (crc(parts(0)).exists())
        java.nio.file.Files.copy(crc(parts(0)).toPath, crc(parts(1)).toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      val logDir = new java.io.File(path, "_delta_log")
      new java.io.File(logDir, "_last_checkpoint").delete()
      new java.io.File(logDir, "._last_checkpoint.crc").delete()
      DeltaLog.clearCache()
      // the mixed multi-part set must be ignored (WARN + JSON replay), not
      // silently accepted with lost/duplicated actions
      val t = DeltaTable.forPath(spark, path)
      assert(t.toDF.count() == src.count())

      // and a completed re-checkpoint (pointer present, counts consistent)
      // is used again: drop v0's commit json and re-read from the checkpoint
      Checkpoints.checkpoint(DeltaLog.forPath(spark, path), maxActionsPerPart = 4)
      DeltaLog.clearCache()
      new java.io.File(logDir, "00000000000000000000.json").delete()
      new java.io.File(logDir, ".00000000000000000000.json.crc").delete()
      assert(DeltaTable.forPath(spark, path).toDF.count() == src.count())
    }
  }

  test("protocol gating: unsupported reader feature fails loudly on read") {
    val src = Fixtures.readParquet(spark, sfDir, "region")
    val path = tmpTable()
    DeltaWriter.append(spark, src, path)
    def writeCommit(v: Long, line: String): Unit =
      java.nio.file.Files.write(
        java.nio.file.Paths.get(path, "_delta_log", f"$v%020d.json"),
        (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // a protocol upgrade to features we DO implement keeps the table readable
    writeCommit(1,
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
        """"readerFeatures":["deletionVectors","timestampNtz"],""" +
        """"writerFeatures":["deletionVectors"]}}""")
    DeltaLog.clearCache()
    assert(DeltaTable.forPath(spark, path).toDF.count() == src.count())
    // an upgrade to a feature we do NOT implement fails loudly, naming it
    writeCommit(2,
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
        """"readerFeatures":["collations-preview"],"writerFeatures":["collations-preview"]}}""")
    DeltaLog.clearCache()
    val ex = intercept[UnsupportedTableFeatureException] {
      DeltaTable.forPath(spark, path).toDF.count()
    }
    assert(ex.getMessage.contains("collations-preview"))
    // ... as does a reader version beyond the spec'd feature-table range
    writeCommit(3, """{"protocol":{"minReaderVersion":9,"minWriterVersion":9}}""")
    DeltaLog.clearCache()
    val ex2 = intercept[UnsupportedTableFeatureException] {
      DeltaTable.forPath(spark, path).toDF.count()
    }
    assert(ex2.getMessage.contains("minReaderVersion=9"))
    // time travel to a version BEFORE the upgrade still reads (the gate
    // applies per-snapshot protocol, not latest-version protocol)
    DeltaLog.clearCache()
    assert(DeltaTable.forPath(spark, path).toDF(1).count() == src.count())
  }

  test("CHECK constraints and generated columns enforce on write") {
    val src = Fixtures.readParquet(spark, sfDir, "region")
      .select("r_regionkey", "r_name")
    val path = tmpTable()
    DeltaWriter.append(spark, src, path,
      configuration = Map("delta.constraints.key_nonneg" -> "r_regionkey >= 0"))
    val n0 = DeltaTable.forPath(spark, path).toDF.count()
    // a conforming append passes
    DeltaWriter.append(spark, src.withColumn("r_regionkey",
      (col("r_regionkey") + 100).cast("int")), path)
    assert(DeltaTable.forPath(spark, path).toDF.count() == 2 * n0)
    // a violating append fails loudly, naming the constraint, and rolls back
    val ex = intercept[Exception] {
      DeltaWriter.append(spark, src.withColumn("r_regionkey",
        (col("r_regionkey") - 100).cast("int")), path)
    }
    assert(ex.getMessage.contains("key_nonneg") ||
      Option(ex.getCause).exists(_.getMessage.contains("key_nonneg")), ex.getMessage)
    assert(DeltaTable.forPath(spark, path).toDF.count() == 2 * n0)

    // generated column: omitted → derived; supplied-but-wrong → rejected
    import org.apache.spark.sql.types.MetadataBuilder
    val gpath = tmpTable()
    val genMeta = new MetadataBuilder()
      .putString("delta.generationExpression", "r_regionkey * 10").build()
    val withGen = src.withColumn("tenfold", (col("r_regionkey") * 10).cast("int"))
      .select(col("r_regionkey"), col("r_name"), col("tenfold").as("tenfold", genMeta))
    DeltaWriter.append(spark, withGen, gpath)
    DeltaWriter.append(spark, src, gpath) // tenfold omitted: writer derives
    val got = DeltaTable.forPath(spark, gpath).toDF
    assert(got.count() == 2 * n0)
    assert(got.filter(col("tenfold") =!= col("r_regionkey") * 10).count() == 0)
    val ex2 = intercept[Exception] {
      DeltaWriter.append(spark, src.withColumn("tenfold", lit(7).cast("int")), gpath)
    }
    assert(ex2.getMessage.contains("generated column") ||
      Option(ex2.getCause).exists(_.getMessage.contains("generated column")), ex2.getMessage)
  }

  test("NOT NULL enforcement rejects violating appends") {
    import org.apache.spark.sql.types._
    val src = Fixtures.readParquet(spark, sfDir, "region")
    val path = tmpTable()
    // create table whose schema marks r_name non-nullable
    val strict = StructType(Seq(
      StructField("r_regionkey", IntegerType, nullable = true),
      StructField("r_name", StringType, nullable = false)))
    val df0 = spark.createDataFrame(src.collect().toIndexedSeq.asJava, strict)
    DeltaWriter.append(spark, df0, path)
    val bad = src.withColumn("r_name",
      when(col("r_regionkey") === 0, lit(null: String)).otherwise(col("r_name")))
    intercept[Exception] {
      DeltaWriter.append(spark, bad, path)
    }
    // failed write must not leave data behind
    assert(DeltaTable.forPath(spark, path).toDF.count() == src.count())
  }

  implicit class ListAsJava[A](l: Seq[A]) {
    def asJava: java.util.List[A] = {
      val out = new java.util.ArrayList[A]()
      l.foreach(out.add)
      out
    }
  }
}
