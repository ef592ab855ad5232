package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.delta._

class OptimizeSpec extends AnyFunSuite {
  import TestSpark._

  private def tmpTable(): String =
    java.nio.file.Files.createTempDirectory("graft-opt").toString + "/t"

  test("vacuum reclaims unreferenced files but never live data or DVs") {
    val src = Fixtures.readParquet(spark, sfDir, "supplier")
    val path = tmpTable()
    DeltaWriter.append(spark, src.repartition(4), path)
    val t = DeltaTable.forPath(spark, path)
    // DV delete keeps the file but writes a deletion_vector_*.bin
    t.delete(col("s_suppkey") % 10 === 3)
    val expect = DeltaTable.forPath(spark, path).toDF.count()
    // optimize rewrites everything: originals become tombstones
    DeltaTable.forPath(spark, path).optimize(smallFileThreshold = 64L * 1024 * 1024)
    def dataFiles(): Seq[java.io.File] =
      new java.io.File(path).listFiles().toSeq
        .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
    val before = dataFiles().size
    // young tombstones survive a retention-respecting vacuum
    assert(DeltaTable.forPath(spark, path).vacuum().filesDeleted == 0)
    assert(dataFiles().size == before)
    // sub-floor retention without force is refused (retentionDurationCheck)
    intercept[IllegalArgumentException] {
      DeltaTable.forPath(spark, path).vacuum(retentionMs = 0L)
    }
    // an in-flight append's staging dir is never entered
    val staged = new java.io.File(path, "tmp-stage-test/part-0.parquet")
    staged.getParentFile.mkdirs()
    java.nio.file.Files.writeString(staged.toPath, "inflight")
    // dry run counts the reclaimable set without touching anything
    val dry = DeltaTable.forPath(spark, path)
      .vacuum(retentionMs = 0L, force = true, dryRun = true)
    assert(dry.filesDeleted > 0 && dataFiles().size == before,
      "dry run must not delete")
    // zero-retention vacuum (forced) reclaims the tombstones...
    val r = DeltaTable.forPath(spark, path).vacuum(retentionMs = 0L, force = true)
    assert(staged.exists(), "vacuum must not delete in-flight staged files")
    staged.delete()
    assert(r.filesDeleted == dry.filesDeleted && r.bytesReclaimed == dry.bytesReclaimed)
    assert(r.filesDeleted > 0 && r.bytesReclaimed > 0)
    assert(dataFiles().size == before - r.filesDeleted)
    // ...and the CURRENT snapshot still reads completely
    DeltaLog.clearCache()
    assert(DeltaTable.forPath(spark, path).toDF.count() == expect)
    // no live file was touched: every referenced path still exists
    val snap = DeltaTable.forPath(spark, path).snapshot
    snap.allFiles.foreach { f =>
      assert(new java.io.File(snap.absolutePath(f).toUri.getPath).exists(), f.path)
    }
  }

  test("vacuum reclaims orphan multi-DV files from failed task attempts, " +
       "never referenced ones") {
    val src = Fixtures.readParquet(spark, sfDir, "supplier")
    val path = tmpTable()
    DeltaWriter.append(spark, src.repartition(4), path)
    val t = DeltaTable.forPath(spark, path)
    t.delete(col("s_suppkey") % 10 === 3) // live DV file(s)
    val expect = DeltaTable.forPath(spark, path).toDF.count()
    // a failed/speculative executor attempt leaves its multi-DV file in the
    // table root, never collected, never in `moved` — the documented leak
    // path; it must be reclaimable as an ordinary unreferenced file
    val orphan = new java.io.File(path,
      s"deletion_vector_${java.util.UUID.randomUUID}.bin")
    java.nio.file.Files.write(orphan.toPath, Array[Byte](1, 2, 3, 4))
    val liveDvs = new java.io.File(path).listFiles().toSeq
      .filter(f => f.getName.startsWith("deletion_vector_") && f != orphan)
    assert(liveDvs.nonEmpty)
    val r = DeltaTable.forPath(spark, path).vacuum(retentionMs = 0L, force = true)
    assert(r.filesDeleted >= 1)
    assert(!orphan.exists(), "orphan DV file survived vacuum")
    liveDvs.foreach(f => assert(f.exists(), s"live DV deleted: ${f.getName}"))
    DeltaLog.clearCache()
    assert(DeltaTable.forPath(spark, path).toDF.count() == expect)
  }

  test("vacuum never enters hidden metadata dirs (symlink manifests survive)") {
    // a Presto/Trino symlink manifest is never in the live file set yet is
    // current metadata for the latest snapshot — a vacuum that walks into
    // _-prefixed dirs deletes it once past retention, silently breaking
    // every external reader
    val src = Fixtures.readParquet(spark, sfDir, "region")
    val path = tmpTable()
    DeltaWriter.append(spark, src, path)
    val manifest = new java.io.File(path, "_symlink_format_manifest/manifest")
    manifest.getParentFile.mkdirs()
    java.nio.file.Files.writeString(manifest.toPath, "file:/x/part-0.parquet")
    manifest.setLastModified(System.currentTimeMillis() - 30L * 24 * 3600 * 1000)
    DeltaTable.forPath(spark, path).vacuum(retentionMs = 0L, force = true)
    assert(manifest.exists(), "vacuum must not delete symlink manifests")
  }

  test("optimize compacts small files; data and time travel preserved") {
    val src = Fixtures.readParquet(spark, sfDir, "lineitem")
    val path = tmpTable()
    DeltaWriter.append(spark, src.repartition(8), path)
    val t = DeltaTable.forPath(spark, path)
    assert(t.snapshot.allFiles.size == 8)
    val r = t.optimize()
    assert(r.filesRemoved == 8 && r.filesAdded < 8 && r.filesAdded >= 1)
    assert(t.snapshot.allFiles.size == r.filesAdded)
    assert(t.toDF.count() == src.count())
    val s1 = t.toDF.agg(sum("l_extendedprice")).collect()(0).getDouble(0)
    val s2 = src.agg(sum("l_extendedprice")).collect()(0).getDouble(0)
    assert(math.abs(s1 - s2) / math.abs(s2) < 1e-12)
    // pre-optimize version still readable with the original file layout
    assert(t.toDF(versionAsOf = 0).count() == src.count())
    // idempotent: second optimize is a no-op commit-wise
    val r2 = t.optimize()
    assert(r2.filesRemoved == 0 && r2.version == r.version)
  }

  test("optimize purges deletion vectors by rewriting") {
    val src = Fixtures.readParquet(spark, sfDir, "orders")
    val path = tmpTable()
    DeltaWriter.append(spark, src.repartition(4), path)
    val t = DeltaTable.forPath(spark, path)
    t.delete(col("o_orderkey") % 5 === 0)
    assert(t.snapshot.hasDeletionVectors)
    val expected = src.filter(!(col("o_orderkey") % 5 === 0)).count()
    assert(t.toDF.count() == expected)
    val r = t.optimize()
    assert(r.filesRemoved > 0)
    assert(!t.snapshot.hasDeletionVectors, "DVs should be gone after rewrite")
    assert(t.toDF.count() == expected)
    // scans now need no DV filter at all; listFiles shows no deletes
    assert(t.listFiles().where(col("have_deletes")).count() == 0)
  }

  test("update rewrites matched rows in one commit; values correct") {
    val src = Fixtures.readParquet(spark, sfDir, "customer")
    val path = tmpTable()
    DeltaWriter.append(spark, src.repartition(3), path)
    val t = DeltaTable.forPath(spark, path)
    val vBefore = t.version
    val n = t.update(col("c_mktsegment") === "BUILDING",
      Map("c_acctbal" -> (col("c_acctbal") + 1000.0),
        "c_name" -> concat(col("c_name"), lit("_u"))))
    assert(n == src.where(col("c_mktsegment") === "BUILDING").count())
    assert(t.version == vBefore + 1, "update must be a single commit")
    assert(t.toDF.count() == src.count(), "row count unchanged")
    val updated = t.toDF.where(col("c_mktsegment") === "BUILDING")
    assert(updated.where(!col("c_name").endsWith("_u")).count() == 0)
    val others = t.toDF.where(col("c_mktsegment") =!= "BUILDING")
    val othersSrc = src.where(col("c_mktsegment") =!= "BUILDING")
    assert(others.exceptAll(othersSrc).isEmpty, "non-matched rows untouched")
    // update of already-updated rows only touches live images
    val n2 = t.update(col("c_name").endsWith("_u"),
      Map("c_acctbal" -> lit(0.0)))
    assert(n2 == n)
    assert(t.toDF.where(col("c_acctbal") === 0.0).count() == n)
    assert(t.toDF.count() == src.count())
    // no-match update is a no-op, no version bump
    val v = t.version
    assert(t.update(col("c_custkey") === -1, Map("c_acctbal" -> lit(1.0))) == 0L)
    assert(t.version == v)
  }

  test("upsert replaces matched keys and inserts new rows in one commit") {
    val src = Fixtures.readParquet(spark, sfDir, "region")
    val path = tmpTable()
    DeltaWriter.append(spark, src, path)
    val t = DeltaTable.forPath(spark, path)
    val vBefore = t.version
    // source: modify regions 0/1, add regions 100/101
    val modified = src.where(col("r_regionkey") <= 1)
      .withColumn("r_name", concat(col("r_name"), lit("_v2")))
    val added = src.limit(2)
      .withColumn("r_regionkey", col("r_regionkey") + 100)
      .withColumn("r_name", lit("NEW"))
    val (updated, inserted) = t.upsert(modified.union(added), Seq("r_regionkey"))
    assert(updated == 2 && inserted == 2, s"got ($updated, $inserted)")
    assert(t.version == vBefore + 1)
    assert(t.toDF.count() == src.count() + 2)
    assert(t.toDF.where(col("r_name").endsWith("_v2")).count() == 2)
    assert(t.toDF.where(col("r_regionkey") <= 1 && !col("r_name").endsWith("_v2")).count() == 0)
    assert(t.toDF.where(col("r_name") === "NEW").count() == 2)
    // upserting the same source again replaces its own earlier images
    val (u2, i2) = t.upsert(modified.union(added), Seq("r_regionkey"))
    assert(u2 == 4 && i2 == 0)
    assert(t.toDF.count() == src.count() + 2)
  }

  test("optimize respects partitions") {
    val src = Fixtures.readParquet(spark, sfDir, "customer")
    val path = tmpTable()
    DeltaWriter.append(spark, src.repartition(3), path,
      partitionBy = Seq("c_mktsegment"))
    val t = DeltaTable.forPath(spark, path)
    val before = t.snapshot.allFiles.size
    val r = t.optimize()
    assert(t.toDF.count() == src.count())
    // every remaining file still carries its partition value
    assert(t.snapshot.allFiles.forall(_.partitionValues.contains("c_mktsegment")))
    // partition pruning still works post-optimize
    val got = t.toDF.where(col("c_mktsegment") === "BUILDING").count()
    assert(got == src.where(col("c_mktsegment") === "BUILDING").count())
    assert(before >= r.filesAdded)
  }

  test("optimize WHERE bounds the rewrite to matching partitions") {
    val src = Fixtures.readParquet(spark, sfDir, "customer")
    val path = tmpTable()
    DeltaWriter.append(spark, src.repartition(3), path,
      partitionBy = Seq("c_mktsegment"))
    val t = DeltaTable.forPath(spark, path)
    def seg(f: graft.delta.AddFile) = f.partitionValues.get("c_mktsegment")
    val before = t.snapshot.allFiles
    val beforeOther = before.filterNot(seg(_).contains("BUILDING")).map(_.path).toSet
    val beforeBuilding = before.count(seg(_).contains("BUILDING"))
    assert(beforeBuilding > 1, "fixture must start with multiple BUILDING files")
    val r = t.optimize(where = Some(col("c_mktsegment") === "BUILDING"))
    graft.delta.DeltaLog.clearCache()
    val t2 = DeltaTable.forPath(spark, path)
    val after = t2.snapshot.allFiles
    // untouched partitions keep their exact files; BUILDING was compacted
    assert(after.filterNot(seg(_).contains("BUILDING")).map(_.path).toSet == beforeOther)
    assert(r.filesRemoved == beforeBuilding && r.filesAdded > 0)
    assert(after.count(seg(_).contains("BUILDING")) < beforeBuilding)
    assert(t2.toDF.count() == src.count())
    // a non-partition column in WHERE fails resolution loudly
    intercept[Exception] { t2.optimize(where = Some(col("c_acctbal") > 0)) }
    // and WHERE on an unpartitioned table is refused
    val p2 = tmpTable()
    DeltaWriter.append(spark, src.limit(10), p2)
    intercept[IllegalArgumentException] {
      DeltaTable.forPath(spark, p2).optimize(where = Some(col("c_custkey") > 0))
    }
  }

  test("optimize and zorder rewrite column-mapped tables physically") {
    for (variant <- Seq(Fixtures.Mapped, Fixtures.MappedId)) {
      val fixture = Fixtures.delta(spark, sfDir, "nation", variant)
      val p = java.nio.file.Files.createTempDirectory("graft-optmap").toString + "/t"
      org.apache.commons.io.FileUtils.copyDirectory(
        new java.io.File(fixture), new java.io.File(p))
      graft.delta.DeltaLog.clearCache()
      val t = DeltaTable.forPath(spark, p)
      // small appends + a DV so compaction has real work
      val base = t.toDF
      DeltaWriter.append(spark, base.limit(3)
        .withColumn("n_nationkey", col("n_nationkey") + 100), p)
      t.delete(col("n_nationkey") === 1)
      graft.delta.DeltaLog.clearCache()
      val want = DeltaTable.forPath(spark, p).toDF.collect().toSet
      val r = DeltaTable.forPath(spark, p).optimize()
      assert(r.filesAdded > 0, s"$variant: optimize found nothing to rewrite")
      graft.delta.DeltaLog.clearCache()
      val t2 = DeltaTable.forPath(spark, p)
      assert(t2.toDF.collect().toSet == want, s"$variant content after optimize")
      assert(t2.snapshot.allFiles.forall(_.deletionVector.isEmpty),
        s"$variant: optimize must purge DVs")
      // rewritten parquet must carry PHYSICAL names, not logical
      val newest = new java.io.File(p).listFiles()
        .filter(_.getName.endsWith(".parquet")).maxBy(_.lastModified())
      assert(!spark.read.parquet(newest.toString).columns.contains("n_nationkey"),
        s"$variant: optimize staged logical column names")
      // zorder on the mapped table keeps content + physical layout
      val rz = t2.zorder(Seq("n_nationkey"))
      assert(rz.filesAdded > 0)
      graft.delta.DeltaLog.clearCache()
      assert(DeltaTable.forPath(spark, p).toDF.collect().toSet == want,
        s"$variant content after zorder")
    }
  }

  test("zorder clusters files so skipping prunes on every listed column") {
    // two independent uniform dims: random row order makes every file's
    // (a, b) min/max span ~the full domain, so NO filter can skip anything
    val n = 80000
    val src = spark.range(n.toLong)
      .select(col("id"),
        (xxhash64(col("id")) % 1000).cast("long").as("a"),
        (xxhash64(col("id"), lit(7)) % 1000).cast("long").as("b"))
      .orderBy(xxhash64(col("id"), lit(99))) // shuffle row order
    val path = tmpTable()
    DeltaWriter.append(spark, src.repartition(8), path)

    // edge slice: the top ~5% of either dimension — a z-rectangle a file
    // can actually exclude (mid-domain slices straddle the coarse top
    // bits of every file's Morton range)
    def filesScanned(c: String): Int = {
      GraftMetrics.clear()
      DeltaLog.clearCache()
      val t = DeltaTable.forPath(spark, path)
      t.toDF.where(col(c) >= 900).agg(count(lit(1))).collect()
      val ev = GraftMetrics.pushdownLog(spark).collect()
        .filter(_.getAs[String]("path").contains(path))
      ev.map(_.getAs[Int]("filesAfter")).min
    }
    val expectTotal = n
    val expectA = src.where(col("a") >= 900).count()
    assert(filesScanned("a") == 8, "pre-zorder: random layout defeats skipping")
    assert(filesScanned("b") == 8)

    val r = DeltaTable.forPath(spark, path).zorder(Seq("a", "b"), maxRowsPerFile = 4000)
    assert(r.filesRemoved == 8 && r.filesAdded > 1)
    // identical rows, on the current version AND through time travel
    DeltaLog.clearCache()
    val t2 = DeltaTable.forPath(spark, path)
    assert(t2.toDF.count() == expectTotal)
    assert(t2.toDF.where(col("a") >= 900).count() == expectA)
    assert(t2.toDF(versionAsOf = 0).count() == expectTotal)
    // tight per-file stats on BOTH dimensions now prune
    val sa = filesScanned("a")
    val sb = filesScanned("b")
    assert(sa < r.filesAdded, s"zorder must prune on a (scanned $sa/${r.filesAdded})")
    assert(sb < r.filesAdded, s"zorder must prune on b (scanned $sb/${r.filesAdded})")
    // a partition-constant or unknown column is rejected
    intercept[IllegalArgumentException] {
      DeltaTable.forPath(spark, path).zorder(Seq("nope"))
    }
  }

  test("a 4-column numeric ZORDER computes every column's bounds in one aggregate") {
    val src = spark.range(20000L).select(col("id"),
      (col("id") % 97).as("a"), (col("id") % 89).cast("double").as("b"),
      (col("id") % 83).cast("int").as("c"), (col("id") % 79).as("d"))
    /** The jobs a ZORDER by `cols` runs on a fresh copy of `src`. */
    def jobs(cols: Seq[String]): Seq[String] = {
      val path = tmpTable()
      DeltaWriter.append(spark, src.repartition(4), path)
      val started = SparkJobs.during(DeltaTable.forPath(spark, path).zorder(cols))
      assert(DeltaTable.forPath(spark, path).toDF.count() == 20000)
      started
    }
    // one bounds aggregate whatever the column count: a job per column
    // would add three to the 4-column run
    val one = jobs(Seq("a"))
    val four = jobs(Seq("a", "b", "c", "d"))
    assert(four.size == one.size, s"\n1 column: $one\n4 columns: $four")
  }

  test("overwrite replaces content atomically; replaceWhere scopes it") {
    val src = Fixtures.readParquet(spark, sfDir, "nation")
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
    val path = tmpTable()
    DeltaWriter.append(spark, src, path)

    // full overwrite: only the evens remain; v0 still time-travels
    val v1 = DeltaWriter.overwrite(spark, src.filter(col("n_nationkey") % 2 === 0), path)
    assert(v1 == 1)
    DeltaLog.clearCache()
    val t = DeltaTable.forPath(spark, path)
    assert(t.toDF.count() == src.filter(col("n_nationkey") % 2 === 0).count())
    assert(t.toDF(versionAsOf = 0).count() == src.count())

    // replaceWhere: replace region-1 rows with a recoded copy, keep the rest
    val recoded = src.filter(col("n_nationkey") % 2 === 0 && col("n_regionkey") === 1)
      .withColumn("n_name", lower(col("n_name")))
    val v2 = DeltaWriter.overwrite(spark, recoded, path,
      replaceWhere = Some(col("n_regionkey") === 1))
    assert(v2 == 2)
    DeltaLog.clearCache()
    val after = DeltaTable.forPath(spark, path).toDF
    val expectKeep = src.filter(col("n_nationkey") % 2 === 0 && col("n_regionkey") =!= 1)
    assert(after.filter(col("n_regionkey") =!= 1).count() == expectKeep.count())
    assert(after.filter(col("n_regionkey") === 1).collect()
      .forall(_.getAs[String]("n_name").forall(c => !c.isUpper)))

    // a row OUTSIDE the replaceWhere predicate refuses the whole write
    val bad = intercept[Exception] {
      DeltaWriter.overwrite(spark, src.limit(5), path,
        replaceWhere = Some(col("n_regionkey") === 1))
    }
    assert(bad.getMessage.contains("replaceWhere") ||
      bad.getCause != null && bad.getCause.getMessage.contains("replaceWhere"))
    // failed write must not have committed
    DeltaLog.clearCache()
    assert(DeltaTable.forPath(spark, path).version == 2)

    // schema mismatch is rejected (no silent mergeSchema on overwrite)
    intercept[IllegalArgumentException] {
      DeltaWriter.overwrite(spark, src.withColumn("extra", lit(1)), path)
    }
  }

  test("dynamic partition overwrite replaces only the touched partitions") {
    val src = Fixtures.readParquet(spark, sfDir, "nation")
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
    val path = tmpTable()
    DeltaWriter.append(spark, src, path, partitionBy = Seq("n_regionkey"))

    // incoming data touches only region 1 — other partitions must survive
    val recoded = src.filter(col("n_regionkey") === 1)
      .withColumn("n_name", lower(col("n_name")))
    val v = DeltaWriter.overwrite(spark, recoded, path, dynamicPartitions = true)
    DeltaLog.clearCache()
    val after = DeltaTable.forPath(spark, path).toDF
    assert(after.count() == src.count())
    assert(after.filter(col("n_regionkey") =!= 1).count() ==
      src.filter(col("n_regionkey") =!= 1).count())
    assert(after.filter(col("n_regionkey") === 1).collect()
      .forall(_.getAs[String]("n_name").forall(c => !c.isUpper)))
    // prior version still time-travels
    assert(DeltaTable.forPath(spark, path).toDF(versionAsOf = v - 1)
      .filter(col("n_regionkey") === 1).collect()
      .exists(_.getAs[String]("n_name").exists(_.isUpper)))

    // writer-option surface: history records OVERWRITE PARTITIONS
    val ops = DeltaTable.forPath(spark, path).history()
      .select("operation").collect().map(_.getString(0))
    assert(ops.contains("OVERWRITE PARTITIONS"), ops.mkString(","))

    // unpartitioned table refuses dynamic mode
    val flat = tmpTable()
    DeltaWriter.append(spark, src, flat)
    intercept[IllegalArgumentException] {
      DeltaWriter.overwrite(spark, src, flat, dynamicPartitions = true)
    }
  }

  test("shallow clone references source files; clones evolve independently") {
    val src = Fixtures.readParquet(spark, sfDir, "nation")
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
    val srcPath = tmpTable()
    DeltaWriter.append(spark, src.repartition(3), srcPath)
    // DV state must travel: delete %5==0 in the source before cloning
    DeltaTable.forPath(spark, srcPath).delete(col("n_nationkey") % 5 === 0)
    val expect = DeltaTable.forPath(spark, srcPath).toDF
      .orderBy(col("n_nationkey")).collect().toSeq

    val clonePath = tmpTable()
    val r = DeltaTable.forPath(spark, srcPath).shallowClone(clonePath)
    assert(r.filesAdded == 3)
    // zero data copied: the clone dir holds only the log
    assert(!new java.io.File(clonePath).listFiles()
      .exists(f => f.getName.endsWith(".parquet")))
    val c = DeltaTable.forPath(spark, clonePath)
    assert(c.toDF.orderBy(col("n_nationkey")).collect().toSeq == expect)

    // clone-side DELETE: source unchanged
    c.delete(col("n_regionkey") === 1)
    DeltaLog.clearCache()
    assert(DeltaTable.forPath(spark, srcPath).toDF
      .orderBy(col("n_nationkey")).collect().toSeq == expect)
    assert(DeltaTable.forPath(spark, clonePath).toDF
      .filter(col("n_regionkey") === 1).count() == 0)
    // clone-side OPTIMIZE rewrites into clone-local files, rows preserved
    val before = DeltaTable.forPath(spark, clonePath).toDF
      .orderBy(col("n_nationkey")).collect().toSeq
    DeltaTable.forPath(spark, clonePath).optimize(smallFileThreshold = 64L * 1024 * 1024)
    DeltaLog.clearCache()
    val afterOpt = DeltaTable.forPath(spark, clonePath)
    assert(afterOpt.toDF.orderBy(col("n_nationkey")).collect().toSeq == before)
    assert(afterOpt.snapshot.allFiles.forall(f =>
      !new org.apache.hadoop.fs.Path(f.decodedPath).isAbsolute),
      "post-optimize the clone owns its files")
    // source-side append after the clone: clone must NOT see it
    DeltaWriter.append(spark, src.limit(5), srcPath)
    DeltaLog.clearCache()
    assert(DeltaTable.forPath(spark, clonePath).toDF
      .orderBy(col("n_nationkey")).collect().toSeq == before)
    // cloning onto an existing table is refused
    intercept[IllegalArgumentException] {
      DeltaTable.forPath(spark, srcPath).shallowClone(clonePath)
    }
  }

  test("restore rolls the table back to an earlier version's exact state") {
    val src = Fixtures.readParquet(spark, sfDir, "nation")
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
    val path = tmpTable()
    // v0: evens, v1: odds, v2: DV delete of %5==0, v3: append dupe evens
    DeltaWriter.append(spark, src.filter(col("n_nationkey") % 2 === 0), path)
    DeltaWriter.append(spark, src.filter(col("n_nationkey") % 2 === 1), path)
    DeltaTable.forPath(spark, path).delete(col("n_nationkey") % 5 === 0)
    DeltaWriter.append(spark, src.filter(col("n_nationkey") % 2 === 0), path)
    val t = DeltaTable.forPath(spark, path)
    assert(t.version == 3)
    val v1Rows = t.toDF(versionAsOf = 1).orderBy(col("n_nationkey")).collect().toSeq

    // restore to v1: drops the DV state and the dupe append in ONE commit
    val r = t.restore(1)
    assert(r.version == 4)
    DeltaLog.clearCache()
    val t2 = DeltaTable.forPath(spark, path)
    assert(t2.version == 4)
    assert(t2.toDF.orderBy(col("n_nationkey")).collect().toSeq == v1Rows)
    // history is intact: v3 still answers as it did pre-restore
    assert(t2.toDF(versionAsOf = 3).count() ==
      v1Rows.size - src.filter(col("n_nationkey") % 5 === 0).count() +
        src.filter(col("n_nationkey") % 2 === 0).count())
    // no-op restore to the current version commits nothing
    assert(t2.restore(4).filesAdded == 0)
    assert(DeltaTable.forPath(spark, path).version == 4)
    // restoring past a vacuum that reclaimed the needed files fails loudly
    DeltaTable.forPath(spark, path).optimize(smallFileThreshold = 64L * 1024 * 1024)
    DeltaTable.forPath(spark, path).vacuum(retentionMs = 0L, force = true)
    val err = intercept[IllegalStateException] {
      DeltaTable.forPath(spark, path).restore(3)
    }
    assert(err.getMessage.contains("vacuumed"))
    // out-of-range version is rejected
    intercept[IllegalArgumentException] {
      DeltaTable.forPath(spark, path).restore(99)
    }
  }
}
