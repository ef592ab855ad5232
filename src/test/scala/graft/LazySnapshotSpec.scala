package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.delta._

/** Dataset-backed snapshots (LazySnapshot): past the configured checkpoint
  * size, the file list must stay OUT of driver memory for scans — pruning
  * ships to executors and only survivors collect — while every read and
  * maintenance surface stays value-identical to the eager path. */
class LazySnapshotSpec extends AnyFunSuite {
  import TestSpark._

  private def tmpTable(): String =
    java.nio.file.Files.createTempDirectory("graft-lazy").toString + "/t"

  /** Run `body` with the lazy threshold lowered so small test tables
    * qualify; always restore (the shared session outlives the test). */
  private def withLowThreshold[A](body: => A): A = {
    spark.conf.set("spark.graft.lazySnapshot.minActions", "10")
    try body finally spark.conf.unset("spark.graft.lazySnapshot.minActions")
  }

  test("checkpointed table reads lazily: pruned scans never materialize") {
    val src = Fixtures.readParquet(spark, sfDir, "lineitem")
    val path = tmpTable()
    DeltaWriter.append(spark, src.repartitionByRange(16, col("l_orderkey")), path)
    DeltaTable.forPath(spark, path).checkpoint()
    DeltaLog.clearCache()
    withLowThreshold {
      val snap = DeltaLog.forPath(spark, path).update()
      assert(snap.isInstanceOf[LazySnapshot], "expected the Dataset-backed path")
      val lazySnap = snap.asInstanceOf[LazySnapshot]
      // a selective scan (range-partitioned files → stats skip) is exact
      val got = snap.toDF.where(col("l_orderkey") < 100)
        .agg(count(lit(1)).as("n"), round(sum(col("l_extendedprice")), 2).as("s"))
        .collect()(0)
      val want = src.where(col("l_orderkey") < 100)
        .agg(count(lit(1)).as("n"), round(sum(col("l_extendedprice")), 2).as("s"))
        .collect()(0)
      assert(got == want)
      assert(!lazySnap.materializedFull,
        "a pruned scan must not collect the full file list")
      // estimates come from distributed aggregates, not a full collect
      assert(snap.numRecordsEstimate.contains(src.count()))
      assert(snap.sizeInBytes > 0)
      assert(!lazySnap.materializedFull)
      // an UNfiltered scan still answers exactly (full list is inherent)
      assert(snap.toDF.count() == src.count())
      // metadata-only MIN/MAX folds file stats on EXECUTORS: one small
      // job over the checkpoint-backed list, never a driver collect
      val mm = snap.toDF.agg(min(col("l_orderkey")).as("mn"),
        max(col("l_orderkey")).as("mx"), count(col("l_orderkey")).as("c"))
      assert(mm.queryExecution.optimizedPlan.collectLeaves().forall(
        _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]),
        s"lazy min/max must not scan:\n${mm.queryExecution.optimizedPlan}")
      assert(mm.collect()(0) == src.agg(min(col("l_orderkey")),
        max(col("l_orderkey")), count(col("l_orderkey"))).collect()(0))
      assert(!lazySnap.materializedFull,
        "metadata min/max must not collect the full file list")
    }
  }

  test("grouped metadata count over a partition column folds partials on " +
       "executors (no file-list materialization)") {
    val src = Fixtures.readParquet(spark, sfDir, "supplier")
    val path = tmpTable()
    DeltaWriter.append(spark, src, path, partitionBy = Seq("s_nationkey"))
    DeltaTable.forPath(spark, path).checkpoint()
    DeltaLog.clearCache()
    withLowThreshold {
      val snap = DeltaLog.forPath(spark, path).update()
      assert(snap.isInstanceOf[LazySnapshot], "expected the lazy path")
      val lazySnap = snap.asInstanceOf[LazySnapshot]
      val df = snap.toDF.groupBy(col("s_nationkey")).agg(count(lit(1)).as("n"))
        .orderBy(col("s_nationkey"))
      assert(df.queryExecution.optimizedPlan.collectLeaves().forall(
        _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]),
        s"lazy grouped count must not scan:\n${df.queryExecution.optimizedPlan}")
      assert(df.collect().toSeq ==
        src.groupBy(col("s_nationkey")).agg(count(lit(1)).as("n"))
          .orderBy(col("s_nationkey")).collect().toSeq)
      assert(!lazySnap.materializedFull,
        "grouped metadata count must not collect the full file list")
    }
  }

  test("JSON tail reconciles over the checkpoint: adds and DV removes") {
    val src = Fixtures.readParquet(spark, sfDir, "supplier")
    val path = tmpTable()
    DeltaWriter.append(spark, src.repartition(8), path)
    DeltaTable.forPath(spark, path).checkpoint()
    // post-checkpoint tail: one append + one DV delete
    DeltaWriter.append(spark,
      src.withColumn("s_suppkey", col("s_suppkey") + 100000), path)
    DeltaTable.forPath(spark, path).delete(col("s_suppkey") % 10 === 3)
    DeltaLog.clearCache()
    withLowThreshold {
      val snap = DeltaLog.forPath(spark, path).update()
      assert(snap.isInstanceOf[LazySnapshot])
      val expect = 2 * src.count() - 2 * src.where(col("s_suppkey") % 10 === 3).count()
      assert(snap.toDF.count() == expect)
      // each listed file carries its own deletion vector to the reader —
      // scanning a DV-carrying lazy table must not materialize the
      // stats-bearing file list on the driver
      assert(!snap.asInstanceOf[LazySnapshot].materializedFull,
        "DV-table scan materialized the full file list")
      // eager path agrees exactly
      spark.conf.set("spark.graft.lazySnapshot.minActions", Long.MaxValue.toString)
      DeltaLog.clearCache()
      val eager = DeltaLog.forPath(spark, path).update()
      assert(!eager.isInstanceOf[LazySnapshot])
      assert(eager.toDF.count() == expect)
      val a = snap.toDF.orderBy(col("s_suppkey")).collect().toSeq
      val b = eager.toDF.orderBy(col("s_suppkey")).collect().toSeq
      assert(a == b)
    }
  }

  test("the first filtered count over a checkpointed DV table runs a pinned job count") {
    val src = Fixtures.readParquet(spark, sfDir, "lineitem")
    val path = tmpTable()
    DeltaWriter.append(spark, src.repartitionByRange(16, col("l_orderkey")), path)
    DeltaTable.forPath(spark, path).delete(col("l_linenumber") === 1)
    DeltaTable.forPath(spark, path).checkpoint()
    DeltaLog.clearCache()
    withLowThreshold {
      val snap = DeltaLog.forPath(spark, path).update()
      assert(snap.isInstanceOf[LazySnapshot])
      var n = 0L
      val jobs = graft.SparkJobs.during {
        n = snap.toDF.where(col("l_orderkey") < 100).count()
      }
      assert(n == src.where(col("l_orderkey") < 100 && col("l_linenumber") =!= 1).count())
      // two snapshot folds (the file summary, the scan's survivors, which
      // carry their own deletion vectors), then the count's two
      // query-stage jobs
      assert(jobs.size == 4, jobs.mkString("\n"))
      assert(jobs.count(_.startsWith("collect at LazySnapshot.scala")) == 2, jobs.mkString("\n"))
      assert(snap.hasDeletionVectors)
      assert(!snap.asInstanceOf[LazySnapshot].materializedFull)
    }
  }

  test("byte-size guard: a big-by-bytes checkpoint goes lazy at any action count") {
    val path = java.nio.file.Files.createTempDirectory("graft-lazybytes").toString + "/t"
    val src = Fixtures.readParquet(spark, sfDir, "supplier")
      .select(col("s_suppkey"), col("s_name"))
    DeltaWriter.append(spark, src, path)
    Checkpoints.checkpoint(DeltaLog.forPath(spark, path))
    DeltaLog.clearCache()
    // few actions (far below minActions) but a 1-byte size threshold:
    // few-files-huge-stats tables must not materialize on the driver
    spark.conf.set("spark.graft.lazySnapshot.minBytes", "1")
    try {
      val snap = DeltaLog.forPath(spark, path).update()
      assert(snap.isInstanceOf[LazySnapshot],
        s"byte threshold ignored: ${snap.getClass.getSimpleName}")
      assert(snap.toDF.count() == src.count())
    } finally {
      spark.conf.unset("spark.graft.lazySnapshot.minBytes")
      DeltaLog.clearCache()
    }
  }

  test("DELETE through a lazy snapshot never materializes the file list") {
    val src = Fixtures.readParquet(spark, sfDir, "lineitem")
    val path = tmpTable()
    DeltaWriter.append(spark, src.repartitionByRange(16, col("l_orderkey")), path)
    DeltaTable.forPath(spark, path).checkpoint()
    DeltaLog.clearCache()
    withLowThreshold {
      val log = DeltaLog.forPath(spark, path)
      val snap = log.update()
      assert(snap.isInstanceOf[LazySnapshot])
      val lazySnap = snap.asInstanceOf[LazySnapshot]
      val total = src.count()
      val hit = src.where(col("l_orderkey") < 100).count()
      assert(hit > 0)
      // the per-file facts must come from the hit scan's own listing of
      // surviving files: a driver-side materialization on a 10⁶-file
      // table would undo the executor-side DV write this path exists for
      val deleted = DeltaDelete.delete(spark, log, col("l_orderkey") < 100)
      assert(deleted == hit)
      assert(!lazySnap.materializedFull,
        "DELETE materialized the full file list on the driver")
      DeltaLog.clearCache()
      assert(DeltaTable.forPath(spark, path).toDF.count() == total - hit)
    }
  }

  test("maintenance surfaces still work (materialize lazily, stay exact)") {
    val src = Fixtures.readParquet(spark, sfDir, "lineitem")
    val path = tmpTable()
    DeltaWriter.append(spark, src.repartition(8), path)
    DeltaTable.forPath(spark, path).checkpoint()
    DeltaLog.clearCache()
    withLowThreshold {
      val t = DeltaTable.forPath(spark, path)
      assert(t.snapshot.isInstanceOf[LazySnapshot])
      assert(t.listFiles().count() == t.snapshot.fileCount)
      val r = t.optimize(smallFileThreshold = 64L * 1024 * 1024)
      assert(r.filesRemoved > 0)
      assert(DeltaTable.forPath(spark, path).toDF.count() == src.count())
    }
  }

  test("log tail over a checkpoint-backed table stays lazy") {
    val src = Fixtures.readParquet(spark, sfDir, "lineitem")
    val path = tmpTable()
    DeltaWriter.append(spark,
      src.where(col("l_orderkey") % 2 === 0)
        .repartitionByRange(16, col("l_orderkey")), path) // v0
    DeltaTable.forPath(spark, path).checkpoint()
    DeltaWriter.append(spark, src.where(col("l_orderkey") % 2 === 1), path) // v1
    // stage v1 OUTSIDE the log: it now exists only as a log-tail entry
    val side = java.nio.file.Files.createTempDirectory("graft-lazy-tail")
    val c1 = java.nio.file.Paths.get(path, "_delta_log", f"${1L}%020d.json")
    val staged = side.resolve(c1.getFileName)
    java.nio.file.Files.move(c1, staged)
    DeltaLog.clearCache()
    withLowThreshold {
      val log = DeltaLog.forPath(spark, path)
      val snap = log.snapshotWithLogTail(
        Seq(new org.apache.hadoop.fs.Path(staged.toString)))
      // the base is checkpoint-backed; folding the tail must NOT
      // materialize the checkpoint's file list on the driver
      assert(snap.isInstanceOf[LazySnapshot],
        s"log-tail fold dropped to the eager path: ${snap.getClass}")
      assert(snap.version == 1)
      val got = snap.toDF.where(col("l_orderkey") < 100)
        .agg(count(lit(1)).as("n"), round(sum(col("l_extendedprice")), 2).as("s"))
        .collect()(0)
      val want = src.where(col("l_orderkey") < 100)
        .agg(count(lit(1)).as("n"), round(sum(col("l_extendedprice")), 2).as("s"))
        .collect()(0)
      assert(got == want)
      assert(!snap.asInstanceOf[LazySnapshot].materializedFull,
        "a pruned log-tail scan must not collect the full file list")
      assert(snap.toDF.count() == src.count())
    }
  }
}
