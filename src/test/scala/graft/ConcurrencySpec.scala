package graft

import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.delta._

/** Commit-protocol behavior under contention: version collisions must be
  * detected atomically; blind appends retry; nothing is lost or doubled
  * (reference conflict semantics: delta_transaction.cpp:464-488). */
class ConcurrencySpec extends AnyFunSuite {
  import TestSpark._

  test("LogStore PUT-if-absent: second writer of a version loses") {
    val dir = java.nio.file.Files.createTempDirectory("logstore").toString
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val target = new org.apache.hadoop.fs.Path(dir, "00000000000000000001.json")
    LogStore.write(fs, target, "first\n")
    intercept[CommitConflictException] {
      LogStore.write(fs, target, "second\n")
    }
    val content = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "00000000000000000001.json")))
    assert(content == "first\n")
  }

  test("concurrent blind appends all land via retry; no rows lost") {
    val src = Fixtures.readParquet(spark, sfDir, "region").cache()
    src.count()
    val path = java.nio.file.Files.createTempDirectory("conc").toString + "/t"
    DeltaWriter.append(spark, src, path) // create
    val pool = Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val futures = (1 to 4).map { _ =>
        Future(DeltaWriter.append(spark, src, path))
      }
      val versions = Await.result(Future.sequence(futures), 5.minutes)
      assert(versions.toSet.size == 4, s"versions not distinct: $versions")
      val t = DeltaTable.forPath(spark, path)
      assert(t.toDF.count() == 5 * src.count())
      assert(t.version == 4L)
    } finally pool.shutdown()
  }

  // -- optimistic conflict resolution (ConflictChecker): a commit built
  //    against a stale snapshot rebases over logically-disjoint winners
  //    and fails loudly on overlapping ones --

  /** Two-file supplier table: file 0 holds s_suppkey < 5, file 1 the rest
    * (sf0.001 supplier has keys 0-9; the split gives per-file min/max
    * stats the checker can prove disjointness with). */
  private def twoFileTable(): (String, DeltaLog) = {
    val src = Fixtures.readParquet(spark, sfDir, "supplier")
    val path = java.nio.file.Files.createTempDirectory("confchk").toString + "/t"
    DeltaWriter.append(spark, src.filter(col("s_suppkey") < 5).coalesce(1), path)
    DeltaWriter.append(spark, src.filter(col("s_suppkey") >= 5).coalesce(1), path)
    // one serial DV delete so the protocol is already at the DV floor:
    // a FIRST-ever DV delete carries a protocol-upgrade action, which
    // rightly conflicts with everything (delta-spark semantics); the
    // steady state is what the rebase tests exercise
    DeltaTable.forPath(spark, path).delete(col("s_suppkey") === 4)
    (path, DeltaLog.forPath(spark, path))
  }

  /** Actions that touch the live file `path` without changing the table:
    * a dataChange=false remove and re-add of it. */
  private def touching(base: Snapshot, path: String): Seq[Action] = {
    val live = base.allFiles.filter(_.path == path)
    require(live.nonEmpty, s"$path is not live at version ${base.version}")
    live.flatMap(f => Seq(
      Action(RemoveFile(f.path, Some(System.currentTimeMillis()),
        dataChange = false, f.deletionVector)),
      Action(f.copy(dataChange = false))))
  }

  test("ConflictChecker prunes a column-mapped table's winners by physical stats") {
    // fresh copy of the mapped fixture: the predicate resolves under
    // logical names, the winners' stats are keyed by physical names
    val fixture = Fixtures.delta(spark, sfDir, "nation", Fixtures.Mapped)
    val path = java.nio.file.Files.createTempDirectory("confchk-mapped").toString + "/t"
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(fixture), new java.io.File(path))
    DeltaLog.clearCache()
    val log = DeltaLog.forPath(spark, path)
    val rows = DeltaTable.forPath(spark, path).toDF
    val base = log.update()
    val pred = ConflictChecker.resolve(base, col("n_nationkey") < 5)
    // disjoint winner → rebase
    DeltaWriter.append(spark,
      rows.limit(3).withColumn("n_nationkey", col("n_nationkey") + 1000), path)
    val v = ConflictChecker.commit(log, Some(base), "DELETE", Nil,
      scope = ConflictChecker.ReadScope.Predicate(pred))
    assert(v == base.version + 2, s"expected rebase past the winner, got $v")
    // winner inside the predicate range → conflict
    val base2 = log.update()
    DeltaWriter.append(spark, rows.where(col("n_nationkey") < 2), path)
    val e = intercept[CommitConflictException] {
      ConflictChecker.commit(log, Some(base2), "DELETE", Nil,
        scope = ConflictChecker.ReadScope.Predicate(pred))
    }
    assert(e.getMessage.contains("may match"))
  }

  test("ConflictChecker rebases over stats-disjoint winners, fails on overlap") {
    val src = Fixtures.readParquet(spark, sfDir, "supplier")
    val (path, log) = twoFileTable()
    val base = log.update()
    // the s_suppkey<5 file — the single add of version 0
    val fileA = log.readCommit(0L).flatMap(_.add).head.path

    // winner: append rows with s_suppkey >= 50000 (disjoint from < 5)
    DeltaWriter.append(spark,
      src.limit(20).withColumn("s_suppkey", col("s_suppkey") + 50000), path) // v2

    // predicate-scoped commit built against v1: winner's add stats prove
    // disjointness → rebase lands it at v3
    val pred = ConflictChecker.resolve(base, col("s_suppkey") < 5)
    assert(pred.isDefined, "predicate resolution failed")
    val v = ConflictChecker.commit(log, Some(base), "DELETE", touching(base, fileA),
      scope = ConflictChecker.ReadScope.Predicate(pred))
    assert(v == base.version + 2, s"expected rebase past the winner, got $v")

    // winner INSIDE the predicate range → conflict
    val base2 = log.update()
    DeltaWriter.append(spark,
      src.limit(5).withColumn("s_suppkey", col("s_suppkey") % 5), path)
    val e = intercept[CommitConflictException] {
      ConflictChecker.commit(log, Some(base2), "DELETE", touching(base2, fileA),
        scope = ConflictChecker.ReadScope.Predicate(pred))
    }
    assert(e.getMessage.contains("may match"))

    // whole-table scope: ANY concurrent data change conflicts
    val base3 = log.update()
    DeltaWriter.append(spark,
      src.limit(5).withColumn("s_suppkey", col("s_suppkey") + 90000), path)
    intercept[CommitConflictException] {
      ConflictChecker.commit(log, Some(base3), "MERGE", touching(base3, fileA),
        scope = ConflictChecker.ReadScope.WholeTable)
    }

    // files-only scope (compaction): the same winner rebases fine...
    val base4 = log.update()
    DeltaWriter.append(spark,
      src.limit(5).withColumn("s_suppkey", col("s_suppkey") + 95000), path)
    val v4 = ConflictChecker.commit(log, Some(base4), "OPTIMIZE", touching(base4, fileA),
      scope = ConflictChecker.ReadScope.FilesOnly)
    assert(v4 == log.update().version)

    // ...but a winner that REMOVED a touched file is always fatal
    val base5 = log.update()
    DeltaTable.forPath(spark, path).delete(col("s_suppkey") === 1) // DVs fileA
    val e5 = intercept[CommitConflictException] {
      ConflictChecker.commit(log, Some(base5), "OPTIMIZE", touching(base5, fileA),
        scope = ConflictChecker.ReadScope.FilesOnly)
    }
    assert(e5.getMessage.contains("removed file"))
  }

  test("concurrent disjoint-predicate DELETEs on separate files both land") {
    val (path, log) = twoFileTable()
    val before = DeltaTable.forPath(spark, path).toDF.count()
    val lowHits = DeltaTable.forPath(spark, path).toDF
      .where(col("s_suppkey") < 3).count()
    val highHits = DeltaTable.forPath(spark, path).toDF
      .where(col("s_suppkey") >= 7).count()
    assert(lowHits > 0 && highHits > 0)
    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val f1 = Future(DeltaTable.forPath(spark, path).delete(col("s_suppkey") < 3))
      val f2 = Future(DeltaTable.forPath(spark, path).delete(col("s_suppkey") >= 7))
      val (d1, d2) = Await.result(f1.zip(f2), 5.minutes)
      assert(d1 == lowHits && d2 == highHits)
      DeltaLog.clearCache()
      val after = DeltaTable.forPath(spark, path).toDF
      assert(after.count() == before - lowHits - highHits)
      assert(after.where(col("s_suppkey") < 3 || col("s_suppkey") >= 7).count() == 0)
    } finally pool.shutdown()
  }
}
