package graft.delta

import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, BoundReference, EqualTo, GreaterThanOrEqual, Literal}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.LongType
import org.scalatest.funsuite.AnyFunSuite

import graft.{CountingFileSystem, SparkJobs, TestSpark}

/** Snapshot resolution: one `_delta_log` listing per resolve, the eager and
  * the checkpoint-backed (lazy) snapshot agree on all table state, a log
  * tail extends a checkpoint-only log, and a long-lived reader's version
  * cache stays bounded. */
class SnapshotResolveSpec extends AnyFunSuite {
  import TestSpark._

  private def tmpTable(): String = Files.createTempDirectory("graft-resolve").toString + "/t"

  private def rows(lo: Long, hi: Long) =
    spark.range(lo, hi).select(col("id"), (col("id") % 2).as("p")).coalesce(1)

  test("one _delta_log listing per resolve: cold, poll after a commit, no change") {
    CountingFileSystem.register(spark)
    for ((name, minActions) <- snapshotPaths) withLazyThreshold(minActions) {
      val path = tmpTable()
      DeltaWriter.append(spark, rows(0, 10), path)
      DeltaWriter.append(spark, rows(10, 20), path)
      Checkpoints.checkpoint(DeltaLog.forPath(spark, path))
      val reader = DeltaLog.forPath(spark, s"${CountingFileSystem.Scheme}://$path")
      def listings(resolve: => Snapshot): (Snapshot, Int) = {
        CountingFileSystem.calls.clear()
        val snap = resolve
        (snap, CountingFileSystem.count("listStatus", "_delta_log"))
      }
      val (cold, c1) = listings(reader.update())
      assert(cold.isInstanceOf[LazySnapshot] == (name == "lazy"), name)
      DeltaWriter.append(spark, rows(20, 30), path)
      val (polled, c2) = listings(reader.update())
      assert(polled.version == cold.version + 1)
      val (same, c3) = listings(reader.update())
      assert(same eq polled)
      assert((c1, c2, c3) == (1, 1, 1),
        s"$name: _delta_log listings cold/poll/no-change = $c1/$c2/$c3")
      assert(reader.update().toDF.count() == 30)
    }
  }

  test("a cold resolve over a single-part checkpoint runs one Spark job") {
    val path = tmpTable()
    DeltaWriter.append(spark, rows(0, 10), path)
    DeltaWriter.append(spark, rows(10, 20), path)
    Checkpoints.checkpoint(DeltaLog.forPath(spark, path))
    DeltaWriter.append(spark, rows(20, 30), path)
    DeltaLog.clearCache()
    var snap: Snapshot = null
    val jobs = SparkJobs.during { snap = DeltaLog.forPath(spark, path).update() }
    assert(!snap.isInstanceOf[LazySnapshot])
    assert(snap.version == 2 && snap.allFiles.size == 3)
    // the checkpoint's schema comes from its footer: no inference job
    assert(jobs.size == 1, jobs.mkString("\n"))
    assert(snap.toDF.count() == 30)
  }

  /** All table state a snapshot carries, keyed so the two paths compare
    * regardless of file-list order. `asCheckpointed` sets every file
    * action's `dataChange` false, as a checkpoint writes it: the flag is
    * the carrying commit's, so a replay of JSON commits and a read of a
    * checkpoint written over them differ in it alone. */
  private def state(s: Snapshot, asCheckpointed: Boolean = false) = (
    s.version,
    s.allFiles.map(f => f.path -> f.copy(dataChange = f.dataChange && !asCheckpointed)).toMap,
    Checkpoints.liveTombstones(s)
      .map(r => r.path -> r.copy(dataChange = r.dataChange && !asCheckpointed)).toMap,
    s.setTransactions,
    s.domainMetadata.map(d => d.domain -> d).toMap,
    s.protocol,
    s.metadata)

  /** Every table-level fact a snapshot folds from its file list, keyed
    * so the two paths compare regardless of file-list order. */
  private def facts(s: Snapshot) = {
    val keeper = FileSkipping.keeper(s.physicalDataSchema,
      Seq(GreaterThanOrEqual(AttributeReference("id", LongType)(), Literal(25L))))
    val pIsOne = EqualTo(BoundReference(0, LongType, nullable = true), Literal(1L))
    (s.fileCount, s.sizeInBytes, s.hasDeletionVectors,
      s.numRecordsEstimate, s.exactRowCount,
      s.exactColumnFacts("id", isPartition = false, LongType, needExtremes = true),
      s.exactColumnFacts("p", isPartition = true, LongType, needExtremes = true),
      s.partitionLiveFacts(Seq("p")).map(_.toMap),
      s.scanCandidates(keeper, Some(pIsOne)).map(f => f.path -> f).toMap)
  }

  /** The two paths agree on every fact and on all state; the lazy one
    * folds its facts without materializing its file list. */
  private def assertAgree(eager: Snapshot, lzy: Snapshot, clue: String,
      asCheckpointed: Boolean = false): Unit = {
    val lazyFacts = facts(lzy)
    lzy match {
      case l: LazySnapshot => assert(!l.materializedFull, s"$clue: a fact materialized the list")
      case _ =>
    }
    assert(lazyFacts == facts(eager), clue)
    assert(state(lzy, asCheckpointed) == state(eager, asCheckpointed), clue)
  }

  /** Resolves `path` at `v` on fresh log handles under each threshold,
    * asserts the two agree, and returns the lazy threshold's snapshot. */
  private def agreeAt(path: String, v: Long, clue: String = ""): Snapshot = {
    val Seq(eager, lzy) = snapshotPaths.map { case (_, minActions) =>
      withLazyThreshold(minActions)(DeltaLog.forPath(spark, path).snapshotAt(v))
    }
    assert(!eager.isInstanceOf[LazySnapshot], s"$clue v$v")
    assertAgree(eager, lzy, s"$clue v$v")
    lzy
  }

  test("eager and checkpoint-backed snapshots agree at every version") {
    val path = tmpTable()
    val table = DeltaTable.forPath(spark, path)
    def log = DeltaLog.forPath(spark, path)
    /** Compares the two paths at `v`; `lazyExpected` pins which path the
      * lazy threshold actually takes there. */
    def compare(v: Long, lazyExpected: Boolean): Unit =
      assert(agreeAt(path, v).isInstanceOf[LazySnapshot] == lazyExpected, s"v$v")
    // every commit below lands at the next version; the table's own
    // checkpoints are the two explicit ones
    val steps: Seq[(String, () => Unit)] = Seq(
      "append, struct-stats config" -> (() => DeltaWriter.append(spark, rows(0, 20), path,
        partitionBy = Seq("p"),
        configuration = Map("delta.checkpoint.writeStatsAsStruct" -> "true"))),
      "append with txn" -> (() => DeltaWriter.append(spark, rows(20, 40), path,
        txnAppId = Some("app"), txnVersion = Some(1L))),
      "DV delete (DV re-add)" -> (() => table.delete(col("id") % 5 === 0)),
      "set domain" -> (() => table.setDomainMetadata("d1", "{}")),
      "remove domain" -> (() => table.setDomainMetadata("d1", "{}", removed = true)),
      "remove a file" -> (() => {
        val f = log.update().allFiles.minBy(_.path)
        ConflictChecker.commit(log, Some(log.update()), "MANUAL REMOVE", Seq(Action(
          RemoveFile(f.path, Some(System.currentTimeMillis()), deletionVector = f.deletionVector))))
      }),
      "re-add the same path" -> (() => {
        val gone = log.update().tombstones.maxBy(_.deletionTimestamp)
        val f = log.snapshotAt(log.update().version - 1).allFiles.find(_.path == gone.path).get
        ConflictChecker.commit(log, Some(log.update()), "MANUAL ADD", Seq(Action(f)))
      }),
      "DV delete on a DV file" -> (() => table.delete(col("id") % 7 === 0)),
      "add a file without stats" -> (() => {
        val f = log.update().allFiles.minBy(_.path)
        val suffix = "-nostats.parquet"
        Files.copy(Paths.get(path, f.decodedPath),
          Paths.get(path, f.decodedPath.stripSuffix(".parquet") + suffix))
        ConflictChecker.commit(log, Some(log.update()), "MANUAL ADD", Seq(Action(f.copy(
          path = f.path.stripSuffix(".parquet") + suffix, stats = None, deletionVector = None))))
      }),
      "append" -> (() => DeltaWriter.append(spark, rows(40, 50), path)))
    steps.zipWithIndex.foreach { case ((what, step), v) =>
      step()
      assert(log.update().version == v, what)
      if (v == 1) Checkpoints.checkpoint(log) // single part, struct stats
      if (v == 6) Checkpoints.checkpoint(log, maxActionsPerPart = 2) // multi-part
      // the tip at each version, while _last_checkpoint names the newest
      // checkpoint below it: the lazy threshold takes the lazy path
      if (v >= 1) compare(v, lazyExpected = true)
    }
    assert(Files.list(Paths.get(path, "_delta_log"))
      .filter(_.getFileName.toString.matches(raw"0+6\.checkpoint\.\d+\.\d+\.parquet")).count() > 1)
    // every version of the finished log: below v6 the only checkpoint is
    // one the pointer no longer names, so both thresholds replay eagerly
    (0L to 9L).foreach(v => compare(v, lazyExpected = v >= 6))

    // a log tail over either path: v9 served from outside the log
    val c9 = Paths.get(path, "_delta_log", f"${9L}%020d.json")
    val tail = Files.createTempDirectory("graft-resolve-tail").resolve(c9.getFileName)
    Files.move(c9, tail)
    val Seq(eager, lzy) = snapshotPaths.map { case (_, minActions) =>
      withLazyThreshold(minActions)(
        DeltaLog.forPath(spark, path).snapshotWithLogTail(Seq(new Path(tail.toString))))
    }
    assert(lzy.isInstanceOf[LazySnapshot] && !eager.isInstanceOf[LazySnapshot])
    assertAgree(eager, lzy, "log tail")
    assert(eager.version == 9)
    assert(lzy.toDF.count() == eager.toDF.count())
  }

  /** Seeds of the random-history property below, fixed in advance. A seed
    * that once failed stays in this list as a regression case. */
  private val historySeeds = Seq(3L, 17L, 2024L)

  test("seeded random histories: eager and checkpoint-backed snapshots agree at every version") {
    for (seed <- historySeeds) {
      val rnd = new scala.util.Random(seed)
      val path = tmpTable()
      val table = DeltaTable.forPath(spark, path)
      def log = DeltaLog.forPath(spark, path)
      var next = 0L
      def batch(n: Int) = {
        val lo = next
        next += n
        spark.range(lo, lo + n).select(col("id"), (col("id") % 3).as("p"))
          .coalesce(1 + rnd.nextInt(2))
      }
      DeltaWriter.append(spark, batch(12), path, partitionBy = Seq("p"))
      val kinds: Seq[(String, () => Unit)] = Seq(
        "append" -> (() => DeltaWriter.append(spark, batch(4 + rnd.nextInt(8)), path)),
        "replaceWhere" -> (() => {
          val inPart = col("p") === rnd.nextInt(3)
          DeltaWriter.overwrite(spark, batch(9).where(inPart), path, replaceWhere = Some(inPart))
        }),
        "DV delete" -> (() => {
          val m = 2 + rnd.nextInt(4)
          table.delete(col("id") % m === rnd.nextInt(m))
        }),
        "stats-less add" -> (() => {
          val files = log.update().allFiles.sortBy(_.path)
          val f = files(rnd.nextInt(files.size))
          val suffix = s"-nostats-${rnd.nextInt(1 << 30)}.parquet"
          Files.copy(Paths.get(path, f.decodedPath),
            Paths.get(path, f.decodedPath.stripSuffix(".parquet") + suffix))
          ConflictChecker.commit(log, Some(log.update()), "MANUAL ADD", Seq(Action(f.copy(
            path = f.path.stripSuffix(".parquet") + suffix, stats = None, deletionVector = None))))
        }),
        "checkpoint" -> (() => Checkpoints.checkpoint(log)),
        "multi-part checkpoint" -> (() => Checkpoints.checkpoint(log, maxActionsPerPart = 2)))
      // every kind twice, in a seeded order
      val history = rnd.shuffle(kinds ++ kinds)
      var lazyTips = 0
      history.zipWithIndex.foreach { case ((what, step), i) =>
        step()
        if (agreeAt(path, log.update().version, s"seed $seed step $i ($what)")
          .isInstanceOf[LazySnapshot]) lazyTips += 1
      }
      (0L to log.update().version).foreach(v => agreeAt(path, v, s"seed $seed"))
      assert(lazyTips > 0, s"seed $seed: no tip took the lazy path")
    }
  }

  /** `_last_checkpoint`'s (version, recorded action count). */
  private def pointer(path: String): (Long, Long) = {
    val (v, size) = DeltaLog.forPath(spark, path).lastCheckpointInfo().get
    (v, size.get)
  }

  /** Rows in the checkpoint files at `v` of the log: the classic parts, or
    * a V2 manifest (its sidecars live elsewhere). */
  private def checkpointRows(path: String, v: Long): Long = {
    val files = new java.io.File(path, "_delta_log").listFiles().map(_.getName)
      .filter(n => n.startsWith(f"$v%020d.checkpoint.") && n.endsWith(".parquet"))
      .map(n => s"$path/_delta_log/$n")
    assert(files.nonEmpty, s"no checkpoint at v$v")
    spark.read.parquet(files.toIndexedSeq: _*).count()
  }

  test("a checkpoint-backed snapshot writes single-part, multi-part and V2 " +
       "checkpoints without collecting its file list") {
    val path = tmpTable()
    val table = DeltaTable.forPath(spark, path)
    DeltaWriter.append(spark, rows(0, 20), path, partitionBy = Seq("p"))    // v0
    table.delete(col("id") % 5 === 0)                                        // v1: DVs
    DeltaWriter.append(spark, rows(20, 40), path,
      txnAppId = Some("app"), txnVersion = Some(1L))                         // v2
    Checkpoints.checkpoint(DeltaLog.forPath(spark, path))                    // cp@v2
    /** After `commit`, checkpoints the lazy tip (the last checkpoint plus
      * a JSON tail), then resolves the new checkpoint cold on both paths. */
    def lazyCheckpoint(form: String, maxActionsPerPart: Int, v2: Boolean = false)(
        commit: => Unit): Unit = {
      commit
      // the state to reproduce, replayed before the new checkpoint exists
      val want = withLazyThreshold(Long.MaxValue)(DeltaLog.forPath(spark, path).update())
      withLazyThreshold(1L) {
        val log = DeltaLog.forPath(spark, path)
        val tip = log.update()
        assert(tip.isInstanceOf[LazySnapshot], form)
        Checkpoints.checkpoint(log, maxActionsPerPart)
        assert(!tip.asInstanceOf[LazySnapshot].materializedFull,
          s"$form: the checkpoint write collected the file list")
      }
      assert(pointer(path) == ((want.version, checkpointRows(path, want.version))), form)
      for ((name, minActions) <- snapshotPaths) {
        val cold = withLazyThreshold(minActions)(DeltaLog.forPath(spark, path).update())
        assert(cold.isInstanceOf[LazySnapshot] == (name == "lazy" && !v2), s"$form, $name")
        assertAgree(want, cold, s"$form, $name", asCheckpointed = true)
      }
    }
    lazyCheckpoint("single-part", 500000) {
      table.delete(col("p") === 1 && col("id") >= 20)                       // v3: a tombstone
    }
    lazyCheckpoint("multi-part", 2) { table.setDomainMetadata("d1", "{}") }  // v4
    assert(new java.io.File(path, "_delta_log").list()
      .count(_.matches(raw"0+4\.checkpoint\.\d+\.\d+\.parquet")) > 1)
    lazyCheckpoint("V2", 2, v2 = true) {                                     // v5
      Alter.setProperties(spark, DeltaLog.forPath(spark, path),
        Map("delta.checkpointPolicy" -> "v2"))
    }
    assert(DeltaLog.forPath(spark, path).listUuidManifests().map(_._1) == Seq(5L))
  }

  test("a re-checkpoint at the lazy tip's own version leaves the tip readable") {
    val path = tmpTable()
    DeltaWriter.append(spark, rows(0, 10), path)
    DeltaWriter.append(spark, rows(10, 20), path)
    Checkpoints.checkpoint(DeltaLog.forPath(spark, path))                   // single part at v1
    withLazyThreshold(1L) {
      val log = DeltaLog.forPath(spark, path)
      assert(log.update().isInstanceOf[LazySnapshot])
      Checkpoints.checkpoint(log, maxActionsPerPart = 2)                     // parts replace it
      assert(!new java.io.File(path, f"_delta_log/${1L}%020d.checkpoint.parquet").exists())
      assert(pointer(path) == ((1L, checkpointRows(path, 1L))))
      assert(log.update().toDF.where(col("id") >= 15).count() == 5)
      assert(log.update().toDF.count() == 20)
    }
  }

  test("the writer's next resolve folds its own commit onto the cached tip: no Spark job") {
    val path = tmpTable()
    DeltaWriter.append(spark, rows(0, 10), path)
    DeltaWriter.append(spark, rows(10, 20), path)
    val log = DeltaLog.forPath(spark, path)
    Checkpoints.checkpoint(log)                                             // cp@v1
    DeltaWriter.append(spark, rows(20, 30), path)                           // v2
    var snap: Snapshot = null
    val jobs = SparkJobs.during { snap = log.update() }
    assert(jobs.isEmpty, jobs.mkString("\n"))
    assert(snap.version == 2)
    // exactly the listed log
    DeltaLog.clearCache()
    assert(state(snap, asCheckpointed = true) ==
      state(DeltaLog.forPath(spark, path).update(), asCheckpointed = true))
  }

  test("a log tail extends a log whose commits the checkpoint covers are gone") {
    val path = tmpTable()
    (0L until 3L).foreach(i => DeltaWriter.append(spark, rows(i, i + 1), path)) // v0..v2
    Checkpoints.checkpoint(DeltaLog.forPath(spark, path))                      // cp@v2
    DeltaWriter.append(spark, rows(3, 4), path)                                // v3
    val logDir = Paths.get(path, "_delta_log")
    val tail = Files.createTempDirectory("graft-resolve-tail").resolve(f"${3L}%020d.json")
    Files.move(logDir.resolve(tail.getFileName.toString), tail)
    (0L to 2L).foreach(v => Files.delete(logDir.resolve(f"$v%020d.json")))
    DeltaLog.clearCache()
    val log = DeltaLog.forPath(spark, path)
    assert(log.update().version == 2)
    val snap = log.snapshotWithLogTail(Seq(new Path(tail.toString)))
    assert(snap.version == 3)
    assert(snap.toDF.count() == 4)
  }

  test("a reader polling a table written elsewhere keeps one cached snapshot") {
    val path = tmpTable()
    DeltaWriter.append(spark, rows(0, 1), path)
    val reader = DeltaLog.forPath(spark.newSession(), path)
    assert(reader.update().version == 0)
    (1L to 20L).foreach { v =>
      DeltaWriter.append(spark, rows(v, v + 1), path)
      assert(reader.update().version == v)
    }
    assert(reader.versionCache.size <= 1,
      s"version cache holds ${reader.versionCache.size} snapshots after 20 polls")
    assert(reader.snapshotAt(20L) eq reader.update())
  }
}
