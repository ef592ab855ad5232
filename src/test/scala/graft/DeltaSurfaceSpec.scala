package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.delta._

/** API-surface tests: registered data source, virtual columns, and the
  * all-primitive-types round trip (the DAT all_primitive_types analog,
  * reference test/sql/dat/all.test). */
class DeltaSurfaceSpec extends AnyFunSuite {
  import TestSpark._

  private def tmpTable(): String =
    java.nio.file.Files.createTempDirectory("graft-surface").toString + "/t"

  test("""spark.read.format("graftdelta") resolves by short name with versionAsOf""") {
    val src = Fixtures.readParquet(spark, sfDir, "nation")
    val path = tmpTable()
    DeltaWriter.append(spark, src.filter(col("n_nationkey") < 10), path)
    DeltaWriter.append(spark, src.filter(col("n_nationkey") >= 10), path)
    val full = spark.read.format("graftdelta").load(path)
    assert(full.count() == src.count())
    val v0 = spark.read.format("graftdelta").option("versionAsOf", 0).load(path)
    assert(v0.count() == src.filter(col("n_nationkey") < 10).count())
    // pushdown still works through the registered source
    assert(full.where(col("n_nationkey") === 3).count() == 1)
    // DV tables read through the registered source with deleted rows
    // filtered: row-for-row the live rows of the plain parquet (the
    // fixture deletes l_orderkey % 10 = 7)
    val dvPath = Fixtures.delta(spark, sfDir, "lineitem", Fixtures.Dv)
    val viaSource = spark.read.format("graftdelta").load(dvPath)
    val live = Fixtures.readParquet(spark, sfDir, "lineitem")
      .filter(!(col("l_orderkey") % 10 === 7))
    assert(viaSource.count() == live.count() && viaSource.count() > 0)
    assert(viaSource.exceptAll(live).isEmpty && live.exceptAll(viaSource).isEmpty)
  }

  test("graft catalog: SQL-only access, path idents, VERSION AS OF, pushdown") {
    spark.conf.set("spark.sql.catalog.graft", "graft.delta.GraftCatalog")
    val p = Fixtures.delta(spark, sfDir, "lineitem", Fixtures.Multi)
    GraftCatalog.attach("li_multi", p)
    val src = Fixtures.readParquet(spark, sfDir, "lineitem")
    // attached name
    val n = spark.sql("SELECT count(*) AS n FROM graft.li_multi").collect()(0).getLong(0)
    assert(n == src.count())
    // time travel
    val v1 = spark.sql("SELECT count(*) AS n FROM graft.li_multi VERSION AS OF 1")
      .collect()(0).getLong(0)
    assert(v1 == src.filter(col("l_orderkey") % 3 <= 1).count())
    // path identifier, no attach needed
    val byPath = spark.sql(s"SELECT count(*) AS n FROM graft.`$p`").collect()(0).getLong(0)
    assert(byPath == n)
    // the full scan machinery rides along: stats skipping fires through SQL
    GraftMetrics.clear()
    spark.sql("SELECT count(*) FROM graft.li_multi WHERE l_orderkey < 10").collect()
    val ev = GraftMetrics.pushdownLog(spark).collect()
    assert(ev.exists(r => r.getAs[Int]("filesAfter") < r.getAs[Int]("filesBefore")),
      "catalog-path scan did not stats-skip")
  }

  test("graft catalog: CALL procedures run maintenance from pure SQL") {
    spark.conf.set("spark.sql.catalog.graft", "graft.delta.GraftCatalog")
    val src = Fixtures.readParquet(spark, sfDir, "nation")
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
    val p = java.nio.file.Files.createTempDirectory("graft-proc").toString + "/t"
    DeltaWriter.append(spark, src.repartition(4), p)
    DeltaTable.forPath(spark, p).delete(col("n_nationkey") % 5 === 0)
    val expectAfterDelete = DeltaTable.forPath(spark, p).toDF.count()

    // OPTIMIZE via CALL: rewrites the 4 small files + DV into one
    val opt = spark.sql(s"CALL graft.optimize('$p')").collect()(0)
    assert(opt.getAs[Int]("files_removed") == 4 && opt.getAs[Int]("files_added") >= 1)
    // RESTORE via CALL (named arg): back to v0, before the delete
    val res = spark.sql(s"CALL graft.restore(`table` => '$p', version => 0)").collect()(0)
    assert(res.getAs[Long]("version") == 3)
    DeltaLog.clearCache()
    assert(DeltaTable.forPath(spark, p).toDF.count() == src.count())
    // CLONE via CALL, then VACUUM the source with defaults overridden
    val cp = java.nio.file.Files.createTempDirectory("graft-proc").toString + "/c"
    spark.sql(s"CALL graft.clone('$p', '$cp')").collect()
    assert(DeltaTable.forPath(spark, cp).toDF.count() == src.count())
    val vac = spark.sql(
      s"CALL graft.vacuum('$p', retention_ms => 0, force => true)").collect()(0)
    assert(vac.getAs[Int]("files_deleted") > 0)
    DeltaLog.clearCache()
    assert(DeltaTable.forPath(spark, p).toDF.count() == src.count())
    // HISTORY via CALL: one row per commit, latest first, real operations
    val hist = spark.sql(s"CALL graft.history('$p')").collect()
    assert(hist.length == DeltaLog.forPath(spark, p).listCommitVersions().length)
    assert(hist.head.getAs[Long]("version") > hist.last.getAs[Long]("version"))
    val ops = hist.map(_.getAs[String]("operation")).toSet
    assert(ops.contains("DELETE") && ops.contains("OPTIMIZE"), ops)
    // DETAIL via CALL + the API face: layout/size/protocol facts agree
    // with the log
    val det = spark.sql(s"CALL graft.detail('$p')").collect()(0)
    val snapNow = DeltaLog.forPath(spark, p).update()
    assert(det.getAs[Long]("version") == snapNow.version)
    assert(det.getAs[Long]("num_files") == snapNow.allFiles.size.toLong)
    assert(det.getAs[Long]("size_in_bytes") == snapNow.allFiles.map(_.size).sum)
    val detDf = DeltaTable.forPath(spark, p).detail().collect()(0)
    assert(detDf.getAs[String]("format") == "delta")
    assert(detDf.getAs[Long]("num_files") == snapNow.allFiles.size.toLong)
    assert(detDf.getAs[Int]("min_reader_version") == snapNow.protocol.minReaderVersion)
    // an unknown procedure fails loudly
    intercept[Exception] { spark.sql(s"CALL graft.nope('$p')").collect() }
    assert(expectAfterDelete < src.count())
  }

  test("SQL UPDATE and MERGE route through the DV machinery") {
    spark.conf.set("spark.sql.catalog.graft", "graft.delta.GraftCatalog")
    val src = Fixtures.readParquet(spark, sfDir, "supplier")
      .select(col("s_suppkey"), col("s_name"), col("s_nationkey"), col("s_acctbal"))
    val p = java.nio.file.Files.createTempDirectory("graft-sqldml").toString + "/t"
    DeltaWriter.append(spark, src, p)
    GraftCatalog.attach("dml_t", p)

    // UPDATE ... WHERE: returns rows_updated; values change; others don't
    val toHit = src.filter(col("s_nationkey") === 3).count()
    val upd = spark.sql(
      "UPDATE graft.dml_t SET s_acctbal = s_acctbal + 1000 WHERE s_nationkey = 3")
      .collect()(0).getLong(0)
    assert(upd == toHit && toHit > 0)
    DeltaLog.clearCache()
    val afterUpd = spark.sql("SELECT round(sum(s_acctbal),2) FROM graft.dml_t")
      .collect()(0).getDouble(0)
    val expected = src.agg(round(sum(col("s_acctbal") +
      when(col("s_nationkey") === 3, 1000.0).otherwise(0.0)), 2)).collect()(0).getDouble(0)
    assert(math.abs(afterUpd - expected) < 0.01, s"$afterUpd vs $expected")

    // MERGE: half the rows mutated + some brand-new keys, canonical upsert
    src.filter(col("s_suppkey") % 2 === 0)
      .withColumn("s_acctbal", lit(-5.0))
      .union(src.filter(col("s_suppkey") < 3)
        .withColumn("s_suppkey", col("s_suppkey") + 1000000))
      .createOrReplaceTempView("dml_source")
    val mergeRow = spark.sql(
      """MERGE INTO graft.dml_t t USING dml_source s
        |ON t.s_suppkey = s.s_suppkey
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect()(0)
    DeltaLog.clearCache()
    val evens = src.filter(col("s_suppkey") % 2 === 0).count()
    val news = src.filter(col("s_suppkey") < 3).count()
    assert(mergeRow.getLong(0) == evens && mergeRow.getLong(1) == news,
      s"got $mergeRow, want ($evens, $news)")
    assert(spark.sql("SELECT count(*) FROM graft.dml_t WHERE s_acctbal = -5.0")
      .collect()(0).getLong(0) == evens)
    assert(spark.sql("SELECT count(*) FROM graft.dml_t").collect()(0).getLong(0)
      == src.count() + news)

    // update-only MERGE (no NOT MATCHED clause): new keys are NOT inserted
    val before = spark.sql("SELECT count(*) FROM graft.dml_t").collect()(0).getLong(0)
    src.limit(5).withColumn("s_suppkey", col("s_suppkey") + 2000000)
      .withColumn("s_acctbal", lit(7.0))
      .createOrReplaceTempView("dml_source2")
    val m2 = spark.sql(
      """MERGE INTO graft.dml_t t USING dml_source2 s
        |ON t.s_suppkey = s.s_suppkey
        |WHEN MATCHED THEN UPDATE SET *""".stripMargin).collect()(0)
    DeltaLog.clearCache()
    assert(m2.getLong(0) == 0 && m2.getLong(1) == 0)
    assert(spark.sql("SELECT count(*) FROM graft.dml_t").collect()(0).getLong(0) == before)

    // WHEN MATCHED THEN DELETE: tombstone-list deletion via semi join
    spark.sql("SELECT * FROM graft.dml_t WHERE s_suppkey % 3 = 1")
      .createOrReplaceTempView("dml_tombstones")
    val delHit = spark.sql("SELECT count(*) FROM graft.dml_t WHERE s_suppkey % 3 = 1")
      .collect()(0).getLong(0)
    val m3 = spark.sql(
      """MERGE INTO graft.dml_t t USING dml_tombstones s
        |ON t.s_suppkey = s.s_suppkey
        |WHEN MATCHED THEN DELETE""".stripMargin).collect()(0).getLong(0)
    DeltaLog.clearCache()
    assert(m3 == delHit && delHit > 0, s"deleted $m3, expected $delHit")
    assert(spark.sql("SELECT count(*) FROM graft.dml_t WHERE s_suppkey % 3 = 1")
      .collect()(0).getLong(0) == 0)

    // unsupported shapes fail loudly, not half-run
    val e = intercept[Exception] { spark.sql(
      """MERGE INTO graft.dml_t t USING dml_source s
        |ON t.s_suppkey > s.s_suppkey
        |WHEN MATCHED THEN UPDATE SET *""".stripMargin) }
    assert(e.getMessage.contains("conjunction of equalities"))

    // differently-named join keys would silently join on the wrong column
    // in the by-name upsert engine — refused, not mis-executed
    val eN = intercept[Exception] { spark.sql(
      """MERGE INTO graft.dml_t t USING dml_source s
        |ON t.s_suppkey = s.s_nationkey
        |WHEN MATCHED THEN UPDATE SET *""".stripMargin) }
    assert(eN.getMessage.contains("share a name"), eN.getMessage)

    // UPDATE through a filtered view must NOT silently hit the base table
    spark.sql("SELECT * FROM graft.dml_t WHERE s_nationkey = 1")
      .createOrReplaceTempView("dml_view")
    intercept[Exception] {
      spark.sql("UPDATE dml_view SET s_acctbal = 0")
    }

    // duplicate-key targets make 'replace matched with source' ambiguous
    val dupP = java.nio.file.Files.createTempDirectory("graft-dup").toString + "/t"
    DeltaWriter.append(spark, src.union(src.limit(3)), dupP)
    GraftCatalog.attach("dup_t", dupP)
    src.limit(5).createOrReplaceTempView("dup_src")
    val eD = intercept[Exception] { spark.sql(
      """MERGE INTO graft.dup_t t USING dup_src s
        |ON t.s_suppkey = s.s_suppkey
        |WHEN MATCHED THEN UPDATE SET *""".stripMargin).collect() }
    assert(eD.getMessage.contains("MERGE refused"), eD.getMessage)
    DeltaLog.clearCache()
    assert(DeltaTable.forPath(spark, dupP).toDF.count() == src.count() + 3,
      "refused merge must not have committed")
  }

  test("SQL MERGE clause conditions: CDC apply, partial SET, conditional INSERT") {
    spark.conf.set("spark.sql.catalog.graft", "graft.delta.GraftCatalog")
    import spark.implicits._
    val p = java.nio.file.Files.createTempDirectory("graft-mrgcond").toString + "/t"
    DeltaWriter.append(spark,
      Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0), (4L, "d", 40.0))
        .toDF("id", "name", "v"), p)
    GraftCatalog.attach("cdc_t", p)

    // canonical CDC apply: op column drives delete vs upsert; deleted ops
    // must NOT be inserted when unmatched
    Seq((2L, "b2", 21.0, "U"), (3L, "c", 30.0, "D"), (5L, "e", 50.0, "U"),
      (6L, "x", 60.0, "D"))
      .toDF("id", "name", "v", "op").createOrReplaceTempView("cdc_src")
    val r = spark.sql(
      """MERGE INTO graft.cdc_t t USING cdc_src s
        |ON t.id = s.id
        |WHEN MATCHED AND s.op = 'D' THEN DELETE
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED AND s.op <> 'D' THEN INSERT *""".stripMargin)
      .collect()(0)
    DeltaLog.clearCache()
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((1L, 1L, 1L)), s"counts $r")
    val after = spark.sql("SELECT id, name, v FROM graft.cdc_t ORDER BY id")
      .collect().map(x => (x.getLong(0), x.getString(1), x.getDouble(2))).toSeq
    assert(after == Seq((1L, "a", 10.0), (2L, "b2", 21.0), (4L, "d", 40.0),
      (5L, "e", 50.0)), s"state $after")

    // partial SET keeps unassigned TARGET columns (never widened to SET *)
    Seq((1L, "IGNORED", 111.0, "U")).toDF("id", "name", "v", "op")
      .createOrReplaceTempView("cdc_src2")
    val r2 = spark.sql(
      """MERGE INTO graft.cdc_t t USING cdc_src2 s
        |ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET v = s.v + 1""".stripMargin).collect()(0)
    DeltaLog.clearCache()
    assert(r2.getLong(0) == 1)
    val row1 = spark.sql("SELECT name, v FROM graft.cdc_t WHERE id = 1").collect()(0)
    assert(row1.getString(0) == "a" && row1.getDouble(1) == 112.0,
      s"partial SET clobbered unassigned columns: $row1")

    // expression assignment referencing BOTH sides
    Seq((2L, "z", 5.0, "U")).toDF("id", "name", "v", "op")
      .createOrReplaceTempView("cdc_src3")
    spark.sql(
      """MERGE INTO graft.cdc_t t USING cdc_src3 s
        |ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET v = t.v + s.v""".stripMargin).collect()
    DeltaLog.clearCache()
    assert(spark.sql("SELECT v FROM graft.cdc_t WHERE id = 2")
      .collect()(0).getDouble(0) == 26.0)

    // conditional DELETE with a keys+flags-only source (no table columns)
    Seq((4L, "D"), (5L, "K")).toDF("id", "op").createOrReplaceTempView("cdc_src4")
    val r4 = spark.sql(
      """MERGE INTO graft.cdc_t t USING cdc_src4 s
        |ON t.id = s.id
        |WHEN MATCHED AND s.op = 'D' THEN DELETE""".stripMargin).collect()(0)
    DeltaLog.clearCache()
    assert(r4.getLong(1) == 1, s"conditional delete $r4")
    assert(spark.sql("SELECT count(*) FROM graft.cdc_t WHERE id = 4")
      .collect()(0).getLong(0) == 0)
    assert(spark.sql("SELECT count(*) FROM graft.cdc_t WHERE id = 5")
      .collect()(0).getLong(0) == 1)

    // WHEN NOT MATCHED BY SOURCE: conditional DELETE + UPDATE of target
    // rows with no source match (state here: 1->(a,112.0), 2->(b2,26.0),
    // 5->(e,50.0))
    Seq((2L, "z", 100.0, "U")).toDF("id", "name", "v", "op")
      .createOrReplaceTempView("cdc_src5")
    val r5 = spark.sql(
      """MERGE INTO graft.cdc_t t USING cdc_src5 s
        |ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET v = s.v
        |WHEN NOT MATCHED BY SOURCE AND t.v > 60 THEN DELETE
        |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET name = concat(t.name, '!')
        |""".stripMargin).collect()(0)
    DeltaLog.clearCache()
    assert((r5.getLong(0), r5.getLong(1), r5.getLong(2)) == ((2L, 1L, 0L)),
      s"by-source counts $r5")
    val after5 = spark.sql("SELECT id, name, v FROM graft.cdc_t ORDER BY id")
      .collect().map(x => (x.getLong(0), x.getString(1), x.getDouble(2))).toSeq
    assert(after5 == Seq((2L, "b2", 100.0), (5L, "e!", 50.0)), s"state $after5")

    // by-source expressions may reference TARGET columns only — Spark's
    // analyzer already refuses `s.*` there (resolves by-source actions
    // against the target alone); our sided() check is the backstop
    val e = intercept[Exception] { spark.sql(
      """MERGE INTO graft.cdc_t t USING cdc_src s
        |ON t.id = s.id
        |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET name = s.name""".stripMargin) }
    assert(e.getMessage.contains("TARGET columns") ||
      e.getMessage.contains("UNRESOLVED_COLUMN"), e.getMessage)
  }

  test("symlink manifest Hive-escapes special partition values") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-manifest-esc").toString + "/t"
    val src = Seq((1L, "a/b=c:d%e"), (2L, "plain")).toDF("id", "seg")
    DeltaWriter.append(spark, src, dir, partitionBy = Seq("seg"))
    assert(DeltaTable.forPath(spark, dir).generateSymlinkManifest() == 2)
    val root = new java.io.File(dir, "_symlink_format_manifest")
    val dirs = root.listFiles().filter(_.isDirectory).map(_.getName).sorted
    // '/', '=', ':', '%' all escape — one unambiguous directory per value
    assert(dirs.toSeq == Seq("seg=a%2Fb%3Dc%3Ad%25e", "seg=plain"), dirs.mkString(","))
    dirs.foreach { d =>
      assert(new java.io.File(new java.io.File(root, d), "manifest").isFile)
    }
  }

  test("symlink manifest lists exactly the live files; DV tables refuse") {
    spark.conf.set("spark.sql.catalog.graft", "graft.delta.GraftCatalog")
    val dir = java.nio.file.Files.createTempDirectory("graft-manifest").toString + "/t"
    val src = Fixtures.readParquet(spark, sfDir, "supplier")
      .select(col("s_suppkey"), col("s_name"), col("s_nationkey"))
    DeltaWriter.append(spark, src, dir, partitionBy = Seq("s_nationkey"))
    val t = DeltaTable.forPath(spark, dir)
    val n = t.generateSymlinkManifest()
    assert(n == src.select("s_nationkey").distinct().count(),
      "one manifest per partition")
    // reading exactly the manifest-listed parquet files reproduces the table
    val root = new java.io.File(dir, "_symlink_format_manifest")
    val listed = new scala.collection.mutable.ArrayBuffer[String]
    def walk(f: java.io.File): Unit =
      if (f.isDirectory) f.listFiles.foreach(walk)
      else if (f.getName == "manifest")
        listed ++= scala.io.Source.fromFile(f).getLines()
    walk(root)
    assert(listed.nonEmpty && listed.forall(_.endsWith(".parquet")))
    val viaManifest = spark.read.parquet(listed.toSeq.map(_.stripPrefix("file:")): _*)
    assert(viaManifest.count() == src.count())
    // SQL face
    GraftCatalog.attach("manifest_t", dir)
    val viaSql = spark.sql("CALL graft.generate('manifest_t')").collect()
    assert(viaSql(0).getInt(0) == n)

    // DV tables refuse: a symlink reader would resurrect deleted rows
    // (unpartitioned copy: the tiny per-partition files above would be
    // whole-file deletes, which produce removes, not DVs)
    val dvDir = java.nio.file.Files.createTempDirectory("graft-manifest-dv").toString + "/t"
    DeltaWriter.append(spark, src.coalesce(1), dvDir)
    DeltaTable.forPath(spark, dvDir).delete(col("s_suppkey") % 5 === 0)
    graft.delta.DeltaLog.clearCache()
    val e = intercept[IllegalArgumentException] {
      DeltaTable.forPath(spark, dvDir).generateSymlinkManifest()
    }
    assert(e.getMessage.contains("deletion"))
  }

  test("appends and overwrites to column-mapped tables write physical names") {
    import org.apache.spark.sql.types._
    for (variant <- Seq(Fixtures.Mapped, Fixtures.MappedId)) {
      // fresh copy of the mapped fixture so mutations don't leak
      val fixture = Fixtures.delta(spark, sfDir, "nation", variant)
      val p = java.nio.file.Files.createTempDirectory("graft-cmw").toString + "/t"
      org.apache.commons.io.FileUtils.copyDirectory(
        new java.io.File(fixture), new java.io.File(p))
      DeltaLog.clearCache()

      val before = DeltaTable.forPath(spark, p).toDF
      val n0 = before.count()
      val extra = before.limit(7)
        .withColumn("n_nationkey", col("n_nationkey") + 1000)

      // logical-name append lands under PHYSICAL parquet names
      DeltaWriter.append(spark, extra, p)
      DeltaLog.clearCache()
      val t = DeltaTable.forPath(spark, p).toDF
      assert(t.count() == n0 + 7, s"$variant count")
      assert(t.filter(col("n_nationkey") >= 1000).count() == 7)
      // the staged file's parquet schema must NOT contain logical names
      val newest = new java.io.File(p).listFiles()
        .filter(f => f.getName.endsWith(".parquet"))
        .maxBy(_.lastModified())
      val fileCols = spark.read.parquet(newest.toString).columns.toSet
      assert(!fileCols.contains("n_nationkey"),
        s"$variant staged logical names: $fileCols")

      // ALTER ADD COLUMNS mints a physical name + id and appends work
      spark.conf.set("spark.sql.catalog.graft", "graft.delta.GraftCatalog")
      DeltaTable.forPath(spark, p)
        .addColumns(StructField("note", StringType, nullable = true))
      DeltaLog.clearCache()
      val snap = DeltaLog.forPath(spark, p).update()
      val noteField = snap.schema("note")
      assert(noteField.metadata.contains("delta.columnMapping.physicalName"))
      assert(noteField.metadata.contains("delta.columnMapping.id"))
      DeltaWriter.append(spark, extra.withColumn("note", lit("x"))
        .withColumn("n_nationkey", col("n_nationkey") + 1000), p)
      DeltaLog.clearCache()
      val t2 = DeltaTable.forPath(spark, p).toDF
      assert(t2.filter(col("note") === "x").count() == 7, s"$variant note")
      assert(t2.filter(col("note").isNull).count() == n0 + 7)

      // overwrite keeps the mapping intact
      DeltaWriter.overwrite(spark,
        before.withColumn("note", lit("ow")), p)
      DeltaLog.clearCache()
      assert(DeltaTable.forPath(spark, p).toDF
        .filter(col("note") === "ow").count() == n0, s"$variant overwrite")

      // row-level DML rides the same physical staging: UPDATE + DELETE
      val updN = DeltaTable.forPath(spark, p).update(
        col("n_nationkey") === 0, Map("note" -> lit("upd")))
      DeltaLog.clearCache()
      assert(updN == 1, s"$variant update count")
      assert(DeltaTable.forPath(spark, p).toDF
        .filter(col("note") === "upd").count() == 1)
      val delN = DeltaTable.forPath(spark, p).delete(col("n_nationkey") === 1)
      DeltaLog.clearCache()
      assert(delN == 1, s"$variant delete count")
      assert(DeltaTable.forPath(spark, p).toDF
        .filter(col("n_nationkey") === 1).count() == 0)
      assert(DeltaTable.forPath(spark, p).toDF.count() == n0 - 1, s"$variant final")

      // CDF on a MAPPED table: cdc files are keyed physically on disk but
      // changes() must surface LOGICAL names
      DeltaTable.forPath(spark, p)
        .setProperties(Map("delta.enableChangeDataFeed" -> "true"))
      DeltaLog.clearCache()
      val t3 = DeltaTable.forPath(spark, p)
      val v = t3.version
      t3.delete(col("n_nationkey") === 2)
      DeltaLog.clearCache()
      val ch = DeltaTable.forPath(spark, p).changes(v + 1, v + 1)
        .select(col("n_nationkey"), col("_change_type")).collect()
        .map(r => (r.getInt(0), r.getString(1))).toSet
      assert(ch == Set((2, "delete")), s"$variant mapped CDF: $ch")
    }
  }

  test("mapped tables: STRUCT column mints unique ids and nested physical names") {
    import org.apache.spark.sql.types._
    for (variant <- Seq(Fixtures.Mapped, Fixtures.MappedId)) {
      val fixture = Fixtures.delta(spark, sfDir, "nation", variant)
      val p = java.nio.file.Files.createTempDirectory("graft-cms").toString + "/t"
      org.apache.commons.io.FileUtils.copyDirectory(
        new java.io.File(fixture), new java.io.File(p))
      DeltaLog.clearCache()
      val fieldIdKey = "spark.sql.parquet.fieldId.write.enabled"
      val confBefore = spark.conf.getOption(fieldIdKey)

      // ALTER ADD a struct-typed column: every nested field must get its
      // OWN physical name + id, all ids unique across the schema
      DeltaTable.forPath(spark, p).addColumns(
        StructField("info", StructType(Seq(
          StructField("a", IntegerType, nullable = true),
          StructField("b", StringType, nullable = true))), nullable = true))
      DeltaLog.clearCache()
      val snap = DeltaLog.forPath(spark, p).update()
      def allIds(dt: DataType): Seq[Long] = dt match {
        case st: StructType => st.fields.toSeq.flatMap { f =>
          (if (f.metadata.contains("delta.columnMapping.id"))
            Seq(f.metadata.getLong("delta.columnMapping.id")) else Nil) ++
            allIds(f.dataType)
        }
        case ArrayType(e, _) => allIds(e)
        case MapType(k, v, _) => allIds(k) ++ allIds(v)
        case _ => Nil
      }
      val ids = allIds(snap.schema)
      assert(ids.distinct.size == ids.size, s"$variant duplicate mapping ids: $ids")
      val infoField = snap.schema("info")
      val nested = infoField.dataType.asInstanceOf[StructType]
      assert(nested.fields.forall(_.metadata.contains("delta.columnMapping.physicalName")),
        s"$variant nested fields missing physicalName")
      assert(snap.metadata.configuration("delta.columnMapping.maxColumnId").toLong
        == ids.max, s"$variant maxColumnId")

      // append rows carrying the struct; parquet must contain PHYSICAL
      // nested names, read-back must be logical
      val before = DeltaTable.forPath(spark, p).toDF
      val n0 = before.count()
      val extra = before.limit(3)
        .withColumn("n_nationkey", col("n_nationkey") + 5000)
        .withColumn("info", struct(
          (col("n_nationkey") % 100).cast("int").as("a"), lit("hi").as("b")))
      DeltaWriter.append(spark, extra, p)
      DeltaLog.clearCache()
      val t = DeltaTable.forPath(spark, p).toDF
      assert(t.filter(col("info").isNotNull).count() == 3, s"$variant struct rows")
      assert(t.filter(col("info.b") === "hi").count() == 3, s"$variant nested read")
      assert(t.schema("info").dataType.asInstanceOf[StructType].fieldNames.toSeq
        == Seq("a", "b"), s"$variant logical nested names")
      // raw parquet: nested names must be the minted physical ones
      val newest = new java.io.File(p).listFiles()
        .filter(_.getName.endsWith(".parquet")).maxBy(_.lastModified())
      val rawSchema = spark.read.parquet(newest.toString).schema
      val physInfo = snap.physicalName(infoField)
      val rawInfo = rawSchema(physInfo).dataType.asInstanceOf[StructType]
      val expectedNested = nested.fields.map(
        _.metadata.getString("delta.columnMapping.physicalName")).toSet
      assert(rawInfo.fieldNames.toSet == expectedNested,
        s"$variant raw nested names ${rawInfo.fieldNames.toSet} != $expectedNested")

      // nested UPDATE (DV rewrite path) keeps physical staging consistent
      val updN = DeltaTable.forPath(spark, p).update(
        col("n_nationkey") === 5000 + before.limit(3)
          .select(min(col("n_nationkey"))).collect()(0).getInt(0),
        Map("info" -> struct(lit(77).as("a"), lit("upd").as("b"))))
      DeltaLog.clearCache()
      assert(updN == 1, s"$variant nested update count")
      assert(DeltaTable.forPath(spark, p).toDF
        .filter(col("info.b") === "upd" && col("info.a") === 77).count() == 1,
        s"$variant nested update readback")
      assert(DeltaTable.forPath(spark, p).toDF.count() == n0 + 3)

      // the fieldId write conf must not leak from any of the above writes
      assert(spark.conf.getOption(fieldIdKey) == confBefore,
        s"$variant leaked $fieldIdKey")
    }
  }

  test("CDF write path: DML emits authoritative _change_data files") {
    import spark.implicits._
    val src = Seq((0L, "a"), (1L, "b"), (2L, "c"), (3L, "d"))
      .toDF("id", "name")
    val p = java.nio.file.Files.createTempDirectory("graft-cdf-w").toString + "/t"
    DeltaWriter.append(spark, src, p,
      configuration = Map("delta.enableChangeDataFeed" -> "true"))

    val t = DeltaTable.forPath(spark, p)
    t.update(col("id") === 1, Map("name" -> lit("B2")))          // v1
    t.delete(col("id") === 2)                                    // v2
    t.upsert(Seq((0L, "a9"), (100L, "new")).toDF("id", "name"),
      Seq("id"))                                                 // v3
    DeltaLog.clearCache()

    assert(new java.io.File(s"$p/_change_data").exists(),
      "_change_data dir must exist")

    val ch = DeltaTable.forPath(spark, p).changes(1, 3)
      .select(col("id"), col("name"), col("_change_type"), col("_commit_version"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSet
    // update_preimage/postimage can ONLY come from cdc files — the
    // derivation fallback emits insert/delete alone
    assert(ch.contains((1L, "b", "update_preimage", 1L)), ch)
    assert(ch.contains((1L, "B2", "update_postimage", 1L)), ch)
    assert(ch.contains((2L, "c", "delete", 2L)), ch)
    assert(ch.contains((0L, "a", "update_preimage", 3L)), ch)
    assert(ch.contains((0L, "a9", "update_postimage", 3L)), ch)
    assert(ch.contains((100L, "new", "insert", 3L)), ch)
    assert(ch.size == 6, ch)

    // the table itself reads correctly after all of it
    val state = DeltaTable.forPath(spark, p).toDF
      .select(col("id"), col("name")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(state == Set((0L, "a9"), (1L, "B2"), (3L, "d"), (100L, "new")))

    // mergeDelete also feeds CDF
    DeltaTable.forPath(spark, p) // refresh
    graft.delta.DeltaMerge.mergeDelete(spark,
      DeltaLog.forPath(spark, p), Seq(3L).toDF("id"), Seq("id"))  // v4
    DeltaLog.clearCache()
    val ch4 = DeltaTable.forPath(spark, p).changes(4, 4)
      .select(col("id"), col("_change_type")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(ch4 == Set((3L, "delete")), ch4)
  }

  test("UPDATE moving rows across partitions lands them in the right partition") {
    val src = Fixtures.readParquet(spark, sfDir, "supplier")
      .select(col("s_suppkey"), col("s_name"), col("s_nationkey"))
    val p = java.nio.file.Files.createTempDirectory("graft-part-upd").toString + "/t"
    DeltaWriter.append(spark, src, p, partitionBy = Seq("s_nationkey"))
    val srcNation = src.agg(min(col("s_nationkey"))).collect()(0).getInt(0)
    val moved = src.filter(col("s_nationkey") === srcNation).count()
    assert(moved > 0)

    // move that nation's suppliers to nation 99 (a brand-new partition)
    val n = DeltaTable.forPath(spark, p).update(col("s_nationkey") === srcNation,
      Map("s_nationkey" -> lit(99)))
    assert(n == moved)
    DeltaLog.clearCache()
    val t = DeltaTable.forPath(spark, p).toDF
    assert(t.filter(col("s_nationkey") === srcNation).count() == 0)
    assert(t.filter(col("s_nationkey") === 99).count() == moved)
    assert(t.count() == src.count())
    // partition pruning on the NEW partition actually prunes (the moved
    // rows live in a real s_nationkey=99 directory, not a mislabeled one)
    val files = new java.io.File(p).listFiles().map(_.getName)
    assert(files.exists(_.startsWith("s_nationkey=99")), files.mkString(","))
    // total content equals the logical expectation
    val expect = src.withColumn("s_nationkey",
      when(col("s_nationkey") === srcNation, 99).otherwise(col("s_nationkey")))
    assert(t.select("s_suppkey", "s_name", "s_nationkey")
      .exceptAll(expect).isEmpty)
  }

  test("UPDATE/MERGE enforce CHECK constraints and recompute generated columns") {
    import org.apache.spark.sql.types._
    val src = Fixtures.readParquet(spark, sfDir, "region")
      .select(col("r_regionkey"), col("r_name"))
    val p = java.nio.file.Files.createTempDirectory("graft-dml-ck").toString + "/t"
    DeltaWriter.append(spark, src, p)
    val t0 = DeltaTable.forPath(spark, p)
    t0.addCheckConstraint("key_bound", "r_regionkey < 100")
    // generated column added via metadata: lower(r_name)
    val genField = StructField("r_lower", StringType, nullable = true,
      metadata = new MetadataBuilder()
        .putString("delta.generationExpression", "lower(r_name)").build())
    t0.addColumns(genField)
    DeltaLog.clearCache()
    // backfill: update with no-op assignment recomputes r_lower
    val t1 = DeltaTable.forPath(spark, p)
    t1.update(col("r_regionkey") >= 0, Map("r_name" -> col("r_name")))
    DeltaLog.clearCache()
    assert(DeltaTable.forPath(spark, p).toDF
      .filter(col("r_lower") =!= lower(col("r_name"))).count() == 0)
    assert(DeltaTable.forPath(spark, p).toDF
      .filter(col("r_lower").isNull).count() == 0)

    // UPDATE breaking the CHECK constraint must refuse the whole commit
    val before = DeltaTable.forPath(spark, p).toDF.count()
    intercept[Exception] {
      DeltaTable.forPath(spark, p).update(col("r_regionkey") === 0,
        Map("r_regionkey" -> lit(500L)))
    }
    DeltaLog.clearCache()
    assert(DeltaTable.forPath(spark, p).toDF.count() == before)
    assert(DeltaTable.forPath(spark, p).toDF
      .filter(col("r_regionkey") === 500).count() == 0)

    // generated column follows an UPDATE of its source column
    DeltaTable.forPath(spark, p).update(col("r_regionkey") === 1,
      Map("r_name" -> lit("RENAMED")))
    DeltaLog.clearCache()
    val renamed = DeltaTable.forPath(spark, p).toDF
      .filter(col("r_regionkey") === 1).select(col("r_lower")).collect()
    assert(renamed.forall(_.getString(0) == "renamed"))

    // MERGE source may omit the generated column (engine computes it);
    // a source that LIES about it is refused
    val okSrc = src.limit(2).withColumn("r_name", lit("Merged"))
    DeltaTable.forPath(spark, p).upsert(okSrc, Seq("r_regionkey"))
    DeltaLog.clearCache()
    assert(DeltaTable.forPath(spark, p).toDF
      .filter(col("r_name") === "Merged" && col("r_lower") === "merged")
      .count() == 2)
    intercept[Exception] {
      DeltaTable.forPath(spark, p).upsert(
        okSrc.withColumn("r_lower", lit("WRONG")), Seq("r_regionkey"))
    }
  }

  test("nested struct evolution: alter-add, old-shape append, mergeSchema") {
    import org.apache.spark.sql.types._
    spark.conf.set("spark.sql.catalog.graft", "graft.delta.GraftCatalog")
    val src = Fixtures.readParquet(spark, sfDir, "nation")
      .select(col("n_nationkey").as("id"),
        struct(col("n_name").as("a"), col("n_regionkey").as("b")).as("info"))
    val p = java.nio.file.Files.createTempDirectory("graft-nested").toString + "/t"
    DeltaWriter.append(spark, src, p)
    val n = src.count()

    // nested ADD COLUMNS via SQL: info gains c; old files read NULL
    GraftCatalog.attach("nested_t", p)
    spark.sql("ALTER TABLE graft.nested_t ADD COLUMNS (info.c STRING)")
    DeltaLog.clearCache()
    val evolved = DeltaTable.forPath(spark, p).toDF
    assert(evolved.schema("info").dataType.asInstanceOf[StructType]
      .fieldNames.toSeq == Seq("a", "b", "c"))
    assert(evolved.filter(col("info.c").isNotNull).count() == 0)

    // OLD-shape append (struct without c) still works: null-filled
    DeltaWriter.append(spark, src, p)
    DeltaLog.clearCache()
    assert(DeltaTable.forPath(spark, p).toDF.count() == 2 * n)
    assert(DeltaTable.forPath(spark, p).toDF
      .filter(col("info.c").isNotNull).count() == 0)

    // NEW-shape append fills c for its rows only
    val withC = src.withColumn("info",
      struct(col("info.a").as("a"), col("info.b").as("b"),
        upper(col("info.a")).as("c")))
    DeltaWriter.append(spark, withC, p)
    DeltaLog.clearCache()
    assert(DeltaTable.forPath(spark, p).toDF
      .filter(col("info.c").isNotNull).count() == n)

    // mergeSchema evolves the struct from the DATA side: info gains d
    val withD = withC.withColumn("info",
      struct(col("info.a").as("a"), col("info.b").as("b"),
        col("info.c").as("c"), lit(7L).as("d")))
    DeltaWriter.append(spark, withD, p, mergeSchema = true)
    DeltaLog.clearCache()
    val afterMerge = DeltaTable.forPath(spark, p).toDF
    assert(afterMerge.schema("info").dataType.asInstanceOf[StructType]
      .fieldNames.toSeq == Seq("a", "b", "c", "d"))
    assert(afterMerge.filter(col("info.d") === 7L).count() == n)
    // ...but WITHOUT mergeSchema a data-side new field is refused
    val withE = withD.withColumn("info",
      struct(col("info.a").as("a"), col("info.b").as("b"),
        col("info.c").as("c"), col("info.d").as("d"), lit(true).as("e")))
    intercept[IllegalArgumentException] { DeltaWriter.append(spark, withE, p) }

    // adding under a non-struct path is refused loudly
    val e = intercept[Exception] {
      spark.sql("ALTER TABLE graft.nested_t ADD COLUMNS (id.x STRING)")
    }
    assert(e.getMessage.contains("not a struct"))

    // nested-field SQL UPDATE: SET info.c rebuilds the struct via withField
    val odd = spark.sql("SELECT count(*) FROM graft.nested_t WHERE id % 2 = 1")
      .collect()(0).getLong(0)
    val nUpd = spark.sql(
      """UPDATE graft.nested_t SET info.c = upper(info.a)
        |WHERE id % 2 = 1""".stripMargin).collect()(0).getLong(0)
    DeltaLog.clearCache()
    assert(nUpd == odd && odd > 0)
    assert(spark.sql(
      """SELECT count(*) FROM graft.nested_t
        |WHERE id % 2 = 1 AND info.c = upper(info.a)""".stripMargin)
      .collect()(0).getLong(0) == odd)
    // untouched sibling fields survive the rebuild
    assert(spark.sql(
      "SELECT count(*) FROM graft.nested_t WHERE info.a IS NULL")
      .collect()(0).getLong(0) == 0)
  }

  test("alter table: add columns, properties, check constraints") {
    import org.apache.spark.sql.types._
    spark.conf.set("spark.sql.catalog.graft", "graft.delta.GraftCatalog")
    val src = Fixtures.readParquet(spark, sfDir, "nation")
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
    val p = java.nio.file.Files.createTempDirectory("graft-alter").toString + "/t"
    DeltaWriter.append(spark, src, p)

    // ADD COLUMNS (API): old files read null; appends accept the column
    DeltaTable.forPath(spark, p).addColumns(StructField("score", DoubleType))
    DeltaLog.clearCache()
    val withCol = DeltaTable.forPath(spark, p).toDF
    assert(withCol.schema.fieldNames.contains("score"))
    assert(withCol.filter(col("score").isNotNull).count() == 0)
    DeltaWriter.append(spark, src.withColumn("score", lit(1.5)), p)
    DeltaLog.clearCache()
    assert(DeltaTable.forPath(spark, p).toDF
      .filter(col("score") === 1.5).count() == src.count())
    // duplicate / non-nullable adds are refused
    intercept[IllegalArgumentException] {
      DeltaTable.forPath(spark, p).addColumns(StructField("score", DoubleType))
    }

    // CHECK constraint: existing data verified, future writes enforced
    DeltaTable.forPath(spark, p).addCheckConstraint("key_range", "n_nationkey < 1000")
    val bad = src.withColumn("n_nationkey", col("n_nationkey") + 5000)
      .withColumn("score", lit(0.0))
    intercept[Exception] { DeltaWriter.append(spark, bad, p) }
    // adding a constraint existing rows violate is refused
    val e = intercept[IllegalStateException] {
      DeltaTable.forPath(spark, p).addCheckConstraint("impossible", "n_nationkey < 0")
    }
    assert(e.getMessage.contains("violate"))
    DeltaTable.forPath(spark, p).dropCheckConstraint("key_range")
    DeltaWriter.append(spark, bad, p) // now accepted

    // properties via SQL ALTER TABLE through the catalog
    GraftCatalog.attach("alter_t", p)
    spark.sql("ALTER TABLE graft.alter_t SET TBLPROPERTIES ('delta.appendOnly'='true')")
    DeltaLog.clearCache()
    // SHOW TBLPROPERTIES surfaces the live configuration
    val shown = spark.sql("SHOW TBLPROPERTIES graft.alter_t").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(shown.get("delta.appendOnly").contains("true"), shown.toString)
    intercept[Exception] {
      DeltaTable.forPath(spark, p).delete(col("n_nationkey") === 1)
    }
    spark.sql("ALTER TABLE graft.alter_t UNSET TBLPROPERTIES ('delta.appendOnly')")
    DeltaLog.clearCache()
    assert(DeltaTable.forPath(spark, p).delete(col("n_nationkey") === 1) > 0)
    // SQL ADD COLUMNS through the catalog
    spark.sql("ALTER TABLE graft.alter_t ADD COLUMNS (note STRING)")
    DeltaLog.clearCache()
    assert(DeltaTable.forPath(spark, p).toDF.schema.fieldNames.contains("note"))
    // unsupported change shape is refused loudly
    intercept[Exception] {
      spark.sql("ALTER TABLE graft.alter_t RENAME COLUMN note TO note2")
    }
  }

  test("graft catalog: CREATE TABLE / INSERT INTO / INSERT OVERWRITE / CTAS") {
    spark.conf.set("spark.sql.catalog.graft", "graft.delta.GraftCatalog")
    val base = java.nio.file.Files.createTempDirectory("graft-sqlddl").toString
    val p = s"$base/t"

    // CREATE TABLE with LOCATION: version 0, empty, schema as declared
    spark.sql(s"CREATE TABLE graft.sql_t (k BIGINT, v STRING) LOCATION '$p'")
    DeltaLog.clearCache()
    assert(DeltaTable.forPath(spark, p).version == 0)
    assert(DeltaTable.forPath(spark, p).toDF.count() == 0)

    // INSERT INTO appends; INSERT by position aligns names
    spark.sql("INSERT INTO graft.sql_t VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    spark.sql("INSERT INTO graft.sql_t SELECT 4, 'd'")
    assert(spark.sql("SELECT count(*) FROM graft.sql_t").collect()(0).getLong(0) == 4)

    // INSERT OVERWRITE replaces everything, atomically, with time travel
    spark.sql("INSERT OVERWRITE graft.sql_t VALUES (9, 'z')")
    assert(spark.sql("SELECT k FROM graft.sql_t").collect().map(_.getLong(0)).toSeq == Seq(9))
    assert(spark.sql("SELECT count(*) FROM graft.sql_t VERSION AS OF 2")
      .collect()(0).getLong(0) == 4)

    // CTAS: schema inferred from the query, rows written in the same stmt
    val p2 = s"$base/t2"
    spark.sql(
      s"CREATE TABLE graft.sql_t2 LOCATION '$p2' AS SELECT k * 10 AS k10 FROM graft.sql_t")
    assert(spark.sql("SELECT k10 FROM graft.sql_t2").collect()(0).getLong(0) == 90)

    // partitioned create + static-partition overwrite → replaceWhere
    val p3 = s"$base/t3"
    spark.sql(
      s"CREATE TABLE graft.sql_t3 (k BIGINT, part STRING) PARTITIONED BY (part) LOCATION '$p3'")
    spark.sql("INSERT INTO graft.sql_t3 VALUES (1, 'x'), (2, 'y')")
    spark.sql("INSERT OVERWRITE graft.sql_t3 PARTITION (part='x') (k) VALUES (100)")
    DeltaLog.clearCache()
    val rows = spark.sql("SELECT k, part FROM graft.sql_t3 ORDER BY k").collect()
    assert(rows.map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((2L, "y"), (100L, "x")))

    // SQL DELETE FROM with a pushable predicate rides the DV delete path
    spark.sql("INSERT INTO graft.sql_t VALUES (10, 'k'), (11, 'm')")
    spark.sql("DELETE FROM graft.sql_t WHERE k >= 10 AND v = 'k'")
    DeltaLog.clearCache()
    assert(spark.sql("SELECT k FROM graft.sql_t ORDER BY k").collect()
      .map(_.getLong(0)).toSeq == Seq(9L, 11L))
    // TRUNCATE TABLE = delete-all through the same path
    spark.sql("TRUNCATE TABLE graft.sql_t")
    DeltaLog.clearCache()
    assert(spark.sql("SELECT count(*) FROM graft.sql_t").collect()(0).getLong(0) == 0)

    // writes to a time-travel relation are refused
    intercept[Exception] {
      spark.sql("INSERT INTO graft.sql_t VERSION AS OF 1 VALUES (0, 'no')")
    }
    // CREATE without LOCATION on a name identifier is refused loudly
    intercept[Exception] {
      spark.sql("CREATE TABLE graft.noloc (k BIGINT)")
    }
  }

  test("graft catalog: per-session resolution (no SparkSession.active leakage)") {
    val src = Fixtures.readParquet(spark, sfDir, "region")
    def tmp(): String =
      java.nio.file.Files.createTempDirectory("graft-cat-test").toString + "/t"
    val pA = tmp(); val pB = tmp()
    DeltaWriter.append(spark, src.limit(2), pA)
    DeltaWriter.append(spark, src, pB)
    // two sessions bind the SAME catalog/table name to DIFFERENT paths via
    // per-session catalog options; each must resolve its own binding even
    // though both catalogs live in one JVM
    val s1 = spark.newSession()
    val s2 = spark.newSession()
    s1.conf.set("spark.sql.catalog.graftx", "graft.delta.GraftCatalog")
    s2.conf.set("spark.sql.catalog.graftx", "graft.delta.GraftCatalog")
    s1.conf.set("spark.sql.catalog.graftx.table.t", pA)
    s2.conf.set("spark.sql.catalog.graftx.table.t", pB)
    val n1 = s1.sql("SELECT count(*) AS n FROM graftx.t").collect()(0).getLong(0)
    val n2 = s2.sql("SELECT count(*) AS n FROM graftx.t").collect()(0).getLong(0)
    assert(n1 == 2, s"session 1 read $n1 rows, expected 2")
    assert(n2 == src.count(), s"session 2 read $n2 rows, expected ${src.count()}")
  }

  /** Inputs of the virtual-column tests: a 3-file supplier table, and
    * copies of the column-mapped supplier fixtures (name and id mode). */
  private def virtualColumnInputs(): Seq[(String, String)] = {
    val plain = tmpTable()
    DeltaWriter.append(spark,
      Fixtures.readParquet(spark, sfDir, "supplier").repartition(3), plain)
    ("plain" -> plain) +: Seq(Fixtures.Mapped, Fixtures.MappedId).map { variant =>
      val p = tmpTable()
      org.apache.commons.io.FileUtils.copyDirectory(
        new java.io.File(Fixtures.delta(spark, sfDir, "supplier", variant)),
        new java.io.File(p))
      variant.name -> p
    }
  }

  test("virtual columns: filename, file_row_number, delta_file_number") {
    val src = Fixtures.readParquet(spark, sfDir, "supplier")
    for ((input, path) <- virtualColumnInputs()) {
      val t = DeltaTable.forPath(spark, path)
      val nFiles = t.snapshot.allFiles.size
      if (input == "plain") assert(nFiles == 3)
      val df = t.toDFWithVirtualColumns
      val rows = df.agg(
        countDistinct(col("delta_file_number")).as("nf"),
        countDistinct(col("filename")).as("nn"),
        count(lit(1)).as("n")).collect()(0)
      assert(rows.getAs[Long]("nf") == nFiles, input)
      assert(rows.getAs[Long]("nn") == nFiles, input)
      assert(rows.getAs[Long]("n") == src.count(), input)
      // row numbers are dense per file
      val perFile = df.groupBy(col("delta_file_number"))
        .agg(count(lit(1)).as("n"), max(col("file_row_number")).as("mx"))
        .collect()
      perFile.foreach(r => assert(r.getAs[Long]("mx") == r.getAs[Long]("n") - 1, input))
      // virtual columns survive deletes (DV-filtered rows excluded)
      t.delete(col("s_suppkey") % 2 === 0)
      val after = t.toDFWithVirtualColumns
      assert(after.count() == src.filter(col("s_suppkey") % 2 === 1).count(), input)
    }
  }

  test("virtual columns on a DV table: survivors keep (filename, file_row_number)") {
    for ((input, path) <- virtualColumnInputs()) {
      val t = DeltaTable.forPath(spark, path)
      def positions(df: org.apache.spark.sql.DataFrame): Map[Long, (String, Long)] =
        df.select(col("s_suppkey"), col("filename"), col("file_row_number")).collect()
          .map(r => r.getAs[Number](0).longValue -> (r.getString(1), r.getLong(2))).toMap
      val before = positions(t.toDFWithVirtualColumns)
      // two deletes: the second reads `_metadata.row_index` through a scan
      // that already drops the first one's rows inside the reader
      t.delete(col("s_suppkey") % 3 === 0)
      t.delete(col("s_suppkey") % 5 === 0)
      assert(t.snapshot.hasDeletionVectors, input)
      val afterDf = t.toDFWithVirtualColumns
      val after = positions(afterDf)
      val survivors = before.filter { case (k, _) => k % 3 != 0 && k % 5 != 0 }
      assert(after == survivors, input)
      // a narrow projection (row index alone) reads the same positions
      assert(afterDf.select(col("file_row_number")).collect().map(_.getLong(0)).sorted.toSeq ==
        survivors.values.map(_._2).toSeq.sorted, input)
    }
  }

  test("pushdown_filters toggle: identical results, skipping disabled") {
    val p = Fixtures.delta(spark, sfDir, "lineitem", Fixtures.Plain)
    val t = DeltaTable.forPath(spark, p)
    val pred = col("l_orderkey") < 100
    GraftMetrics.clear()
    val on = t.toDF.filter(pred).count()
    val off = t.withScanOptions(ScanOptions(pushdownFilters = false))
      .toDF.filter(pred).count()
    assert(on == off && on > 0)
    val ev = GraftMetrics.pushdownLog(spark).collect()
    assert(ev.exists(r => r.getAs[Int]("filesAfter") < r.getAs[Int]("filesBefore")),
      "expected at least one skipping event with pushdown on")
    assert(ev.exists(r => r.getAs[Int]("filesAfter") == r.getAs[Int]("filesBefore")),
      "expected no skipping with pushdown off")
  }

  test("all primitive + nested types round-trip through write and scan") {
    val df = spark.sql(
      """SELECT
        | CAST(id AS TINYINT) AS c_tinyint,
        | CAST(id * 100 AS SMALLINT) AS c_smallint,
        | CAST(id * 100000 AS INT) AS c_int,
        | id * 10000000000 AS c_bigint,
        | CAST(id AS FLOAT) / 3.0f AS c_float,
        | CAST(id AS DOUBLE) / 7.0d AS c_double,
        | CAST(CAST(id AS DECIMAL(10,3)) / 7 AS DECIMAL(10,3)) AS c_decimal,
        | concat('str_', id) AS c_string,
        | CAST(concat('bin_', id) AS BINARY) AS c_binary,
        | id % 2 = 0 AS c_bool,
        | date_add(DATE '2020-01-01', CAST(id AS INT)) AS c_date,
        | timestampadd(HOUR, CAST(id AS INT), TIMESTAMP '2020-06-01 12:00:00') AS c_ts,
        | array(id, id + 1) AS c_array,
        | map('k', id) AS c_map,
        | named_struct('a', id, 'b', concat('s', id)) AS c_struct,
        | IF(id = 3, NULL, id) AS c_nullable
        |FROM range(0, 50)""".stripMargin)
    val path = tmpTable()
    DeltaWriter.append(spark, df.repartitionByRange(2, col("c_int")), path)
    val back = DeltaTable.forPath(spark, path).toDF
    assert(back.schema == df.schema)
    assert(back.count() == 50)
    // set ops reject MAP columns — compare maps as sorted entry arrays
    def comparable(d: org.apache.spark.sql.DataFrame) =
      d.withColumn("c_map", map_entries(col("c_map")))
    assert(comparable(back).exceptAll(comparable(df)).isEmpty &&
      comparable(df).exceptAll(comparable(back)).isEmpty)
    // stats-based skipping works on date columns
    GraftMetrics.clear()
    assert(back.where(col("c_date") === java.sql.Date.valueOf("2020-01-05")).count() == 1)
    val ev = GraftMetrics.pushdownLog(spark).collect()
    assert(ev.exists(r => r.getAs[Int]("filesAfter") == 1),
      s"date skip: ${ev.mkString(";")}")
    // nested stat tree: filters on struct fields skip files too
    GraftMetrics.clear()
    assert(back.where(col("c_struct.a") === 5L).count() == 1)
    val ev2 = GraftMetrics.pushdownLog(spark).collect()
    assert(ev2.exists(r => r.getAs[Int]("filesAfter") == 1),
      s"nested skip: ${ev2.mkString(";")}")
  }

  test("timestampAsOf resolves the latest version at or before the instant") {
    import graft.delta.{DeltaLog, DeltaWriter}
    val path = java.nio.file.Files.createTempDirectory("graft-tsasof").toString + "/t"
    val src = Fixtures.readParquet(spark, sfDir, "region")
    DeltaWriter.append(spark, src, path)                       // v0
    Thread.sleep(15)  // commitInfo stamps millis; keep versions distinct
    DeltaWriter.append(spark, src, path)                       // v1
    Thread.sleep(15)
    DeltaWriter.append(spark, src, path)                       // v2
    val t0 = DeltaTable.forPath(spark, path)
    val ts = t0.history().orderBy(col("version"))
      .select("timestamp").collect().map(_.getLong(0))
    val n = src.count()

    def countAt(tsMillis: Long): Long =
      spark.read.format("graftdelta").option("timestampAsOf", tsMillis)
        .load(path).count()
    assert(countAt(ts(0)) == n)            // exactly v0's instant → v0
    assert(countAt(ts(1)) == 2 * n)        // v1's instant → v1
    assert(countAt(System.currentTimeMillis() + 60000) == 3 * n) // future → latest
    // between v0 and v1 → still v0
    if (ts(1) > ts(0) + 1) assert(countAt(ts(0) + 1) == n)
    // before the first commit → loud error
    val e = intercept[Exception] { countAt(ts(0) - 10000) }
    assert(e.getMessage.contains("predates"))
    // mutually exclusive with versionAsOf
    intercept[IllegalArgumentException] {
      spark.read.format("graftdelta").option("timestampAsOf", ts(0))
        .option("versionAsOf", 0).load(path).count()
    }

    // SQL: TIMESTAMP AS OF through the catalog (DSv2 passes micros)
    spark.conf.set("spark.sql.catalog.graft", "graft.delta.GraftCatalog")
    graft.delta.GraftCatalog.attach("ts_t", path)
    val lit = new java.sql.Timestamp(ts(1)).toString
    val got = spark.sql(s"SELECT count(*) AS n FROM graft.ts_t TIMESTAMP AS OF '$lit'")
      .collect()(0).getLong(0)
    assert(got == 2 * n, s"catalog TIMESTAMP AS OF got $got")
  }

  test("""df.write.format("graftdelta"): all four SaveModes + partitionBy + replaceWhere""") {
    val src = Fixtures.readParquet(spark, sfDir, "nation")
    val path = tmpTable()

    // default mode is ErrorIfExists: first save creates...
    src.filter(col("n_regionkey") < 2).write.format("graftdelta")
      .partitionBy("n_regionkey").save(path)
    val snap = DeltaLog.forPath(spark, path).update()
    assert(snap.metadata.partitionColumns == Seq("n_regionkey"))
    // ...second save refuses
    intercept[Exception] { src.write.format("graftdelta").save(path) }
    // Ignore: existing table → silent no-op
    src.write.format("graftdelta").mode("ignore").save(path)
    assert(spark.read.format("graftdelta").load(path).count()
      == src.filter(col("n_regionkey") < 2).count())
    // Append
    src.filter(col("n_regionkey") >= 2).write.format("graftdelta")
      .mode("append").save(path)
    val full = spark.read.format("graftdelta").load(path)
    assert(full.count() == src.count())
    assert(full.exceptAll(src).isEmpty && src.exceptAll(full).isEmpty)
    // Overwrite with replaceWhere: swap out one partition only
    val repl = src.filter(col("n_regionkey") === 3)
      .withColumn("n_name", lit("REPLACED"))
    repl.write.format("graftdelta").mode("overwrite")
      .option("replaceWhere", "n_regionkey = 3").save(path)
    val after = spark.read.format("graftdelta").load(path)
    assert(after.count() == src.count())
    assert(after.where(col("n_regionkey") === 3 && col("n_name") =!= "REPLACED").count() == 0)
    assert(after.where(col("n_regionkey") =!= 3 && col("n_name") === "REPLACED").count() == 0)
    // full Overwrite
    src.limit(5).write.format("graftdelta").mode("overwrite").save(path)
    assert(spark.read.format("graftdelta").load(path).count() == 5)
  }

  test("fluent merge builder: CDC apply, expression SET, by-source, refusals") {
    val src = Fixtures.readParquet(spark, sfDir, "supplier")
      .select(col("s_suppkey"), col("s_nationkey"), col("s_acctbal"))
    val path = tmpTable()
    DeltaWriter.append(spark, src, path)
    val n = src.count()

    // CDC feed: delete keys 0-1, bump acctbal for 2-3, insert 100-101
    val changes = src.where(col("s_suppkey") <= 3)
      .withColumn("op", when(col("s_suppkey") <= 1, "D").otherwise("U"))
      .unionByName(src.where(col("s_suppkey") <= 1)
        .withColumn("s_suppkey", col("s_suppkey") + 100)
        .withColumn("op", lit("I")))
    val (upd, del, ins) = DeltaTable.forPath(spark, path)
      .merge(changes, "s_suppkey")
      .whenMatchedDelete("s.op = 'D'")
      .whenMatchedUpdate(Map("s_acctbal" -> "t.s_acctbal + s.s_acctbal"), "s.op = 'U'")
      .whenNotMatchedInsertAll("s.op <> 'D'")
      .execute()
    assert(del == 2 && upd == 2 && ins == 2, s"(u=$upd d=$del i=$ins)")
    val after = DeltaTable.forPath(spark, path).toDF
    assert(after.count() == n) // -2 deleted +2 inserted
    assert(after.where(col("s_suppkey") <= 1).count() == 0)
    val bumped = after.where(col("s_suppkey") === 2).select("s_acctbal")
      .collect()(0).getDouble(0)
    val orig = src.where(col("s_suppkey") === 2).select("s_acctbal")
      .collect()(0).getDouble(0)
    assert(math.abs(bumped - 2 * orig) < 1e-9)

    // by-source: rows absent from the feed get flagged via an expression
    // SET; the feed covers keys 2,3,100,101
    val feed2 = after.where(col("s_suppkey").isin(2, 3, 100, 101))
    val (u2, d2, _) = DeltaTable.forPath(spark, path)
      .merge(feed2, "s_suppkey")
      .whenMatchedUpdateAll()
      .whenNotMatchedBySourceDelete("t.s_suppkey >= 8 AND t.s_suppkey < 100")
      .whenNotMatchedBySourceUpdate(Map("s_acctbal" -> "t.s_acctbal * 0"))
      .execute()
    val after2 = DeltaTable.forPath(spark, path).toDF
    assert(after2.where(col("s_suppkey") >= 8 && col("s_suppkey") < 100).count() == 0)
    // survivors outside the feed are zeroed
    assert(after2.where(!col("s_suppkey").isin(2, 3, 100, 101)
      && col("s_acctbal") =!= 0.0).count() == 0)
    // 4 matched UPDATE-ALL rows + 4 by-source zeroed rows (keys 4-7)
    assert(u2 == 8 && d2 > 0, s"(u=$u2 d=$d2)")

    // bare names in a two-sided clause are refused loudly
    val e = intercept[IllegalArgumentException] {
      DeltaTable.forPath(spark, path).merge(feed2, "s_suppkey")
        .whenMatchedUpdate(Map("s_acctbal" -> "s_acctbal + 1"))
    }
    assert(e.getMessage.contains("ambiguous"))
  }

  test("column-mapping upgrade, RENAME COLUMN and DROP COLUMN (API + SQL)") {
    val src = Fixtures.readParquet(spark, sfDir, "supplier")
    val path = tmpTable()
    DeltaWriter.append(spark, src, path)

    // rename without mapping → loud refusal pointing at the upgrade
    val e0 = intercept[IllegalArgumentException] {
      DeltaTable.forPath(spark, path).renameColumn("s_acctbal", "bal")
    }
    assert(e0.getMessage.contains("column mapping"))

    // upgrade is metadata-only: physical names == original names
    DeltaTable.forPath(spark, path).upgradeToColumnMapping()
    val snapU = DeltaLog.forPath(spark, path).update()
    assert(snapU.columnMappingMode == "name")
    assert(snapU.schema.fields.forall(f =>
      f.metadata.getString("delta.columnMapping.physicalName") == f.name))
    assert(snapU.protocol.minReaderVersion >= 2 && snapU.protocol.minWriterVersion >= 5)
    assert(DeltaTable.forPath(spark, path).toDF.count() == src.count())

    // rename: old files keep resolving; appends under the new logical name
    // land physically under the OLD name
    DeltaTable.forPath(spark, path).renameColumn("s_acctbal", "bal")
    val renamed = DeltaTable.forPath(spark, path).toDF
    assert(renamed.columns.contains("bal") && !renamed.columns.contains("s_acctbal"))
    assert(renamed.agg(round(sum(col("bal")), 2)).collect()(0).getDouble(0) ==
      src.agg(round(sum(col("s_acctbal")), 2)).collect()(0).getDouble(0))
    DeltaWriter.append(spark,
      src.limit(10).withColumnRenamed("s_acctbal", "bal"), path)
    assert(DeltaTable.forPath(spark, path).toDF.count() == src.count() + 10)
    // parquet on disk must carry the PHYSICAL (original) name
    assert(spark.read.parquet(path).columns.contains("s_acctbal"))

    // drop, then re-add the same logical name: fresh physical name, so the
    // dropped data must NOT resurrect
    DeltaTable.forPath(spark, path).dropColumn("s_name")
    assert(!DeltaTable.forPath(spark, path).toDF.columns.contains("s_name"))
    DeltaTable.forPath(spark, path).addColumns(
      org.apache.spark.sql.types.StructField("s_name",
        org.apache.spark.sql.types.StringType))
    val readd = DeltaTable.forPath(spark, path).toDF
    assert(readd.columns.contains("s_name"))
    assert(readd.where(col("s_name").isNotNull).count() == 0,
      "dropped column data resurrected through a re-added logical name")

    // refusals: duplicate target name; constraint-referenced column
    intercept[IllegalArgumentException] {
      DeltaTable.forPath(spark, path).renameColumn("bal", "s_suppkey")
    }
    DeltaTable.forPath(spark, path).addCheckConstraint("bal_pos", "bal > -10000")
    val e1 = intercept[IllegalArgumentException] {
      DeltaTable.forPath(spark, path).renameColumn("bal", "bal2")
    }
    assert(e1.getMessage.contains("bal_pos"))
    intercept[IllegalArgumentException] {
      DeltaTable.forPath(spark, path).dropColumn("bal")
    }

    // SQL paths through the catalog
    spark.conf.set("spark.sql.catalog.graft", "graft.delta.GraftCatalog")
    GraftCatalog.attach("rdrop_t", path)
    spark.sql("ALTER TABLE graft.rdrop_t RENAME COLUMN s_nationkey TO nat")
    spark.sql("ALTER TABLE graft.rdrop_t DROP COLUMN s_name")
    val viaSql = spark.table("graft.rdrop_t")
    assert(viaSql.columns.contains("nat") && !viaSql.columns.contains("s_name"))
    // SET TBLPROPERTIES upgrade path on a fresh table
    val p2 = tmpTable()
    DeltaWriter.append(spark, src.limit(20), p2)
    DeltaTable.forPath(spark, p2).setProperties(
      Map("delta.columnMapping.mode" -> "name"))
    assert(DeltaLog.forPath(spark, p2).update().columnMappingMode == "name")
    DeltaTable.forPath(spark, p2).renameColumn("s_name", "supplier_name")
    assert(DeltaTable.forPath(spark, p2).toDF.columns.contains("supplier_name"))

    // ALTER TABLE ... RENAME TO: the attached name moves, the path doesn't
    spark.sql("ALTER TABLE graft.rdrop_t RENAME TO rdrop_t2")
    assert(spark.table("graft.rdrop_t2").columns.contains("nat"))
    intercept[Exception] { spark.table("graft.rdrop_t").collect() }
  }
}
