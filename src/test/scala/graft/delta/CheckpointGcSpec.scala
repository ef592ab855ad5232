package graft.delta

import org.scalatest.funsuite.AnyFunSuite

import graft.{Fixtures, TestSpark}

/**
 * Checkpoint lifecycle: remove-tombstone retention inside checkpoints
 * (protocol `delta.deletedFileRetentionDuration` contract) and V2
 * (uuid-manifest + `_sidecars`) garbage collection — a long-lived
 * `delta.checkpointPolicy=v2` table must not accumulate superseded
 * manifests and orphaned sidecar parquets without bound.
 */
class CheckpointGcSpec extends AnyFunSuite {
  import TestSpark._

  private def tmpTable(): String =
    java.nio.file.Files.createTempDirectory("graft-cpgc").toString + "/t"

  private def region = Fixtures.readParquet(spark, sfDir, "region")

  private val FortyDaysMs = 40L * 24 * 3600 * 1000

  test("classic checkpoint retains unexpired remove tombstones; " +
       "0-retention drops them") {
    val path = tmpTable()
    DeltaWriter.append(spark, region, path)
    DeltaTable.forPath(spark, path).overwrite(region.limit(3)) // removes v0's files
    val log = DeltaLog.forPath(spark, path)
    Checkpoints.checkpoint(log)
    val v = log.update().version
    val acts = log.readCheckpoint(v)
    val removes = acts.flatMap(_.remove)
    assert(removes.nonEmpty, "checkpoint dropped unexpired tombstones")
    // replay THROUGH the checkpoint alone still yields correct state and
    // keeps the tombstones addressable (VACUUM reads their timestamps)
    val logDir = new java.io.File(path, "_delta_log")
    (0L until v).foreach(i => new java.io.File(logDir, f"$i%020d.json").delete())
    DeltaLog.clearCache()
    val log2 = DeltaLog.forPath(spark, path)
    assert(DeltaTable.forPath(spark, path).toDF.count() == 3)
    assert(log2.update().tombstones.nonEmpty)

    // a table configured to retain nothing writes no tombstones
    val p0 = tmpTable()
    DeltaWriter.append(spark, region, p0,
      configuration = Map("delta.deletedFileRetentionDuration" -> "interval 0 seconds"))
    DeltaTable.forPath(spark, p0).overwrite(region.limit(2))
    val l0 = DeltaLog.forPath(spark, p0)
    Checkpoints.checkpoint(l0)
    assert(l0.readCheckpoint(l0.update().version).flatMap(_.remove).isEmpty)
  }

  test("under a 0 retention a remove stamped in the checkpoint's own millisecond expires") {
    val path = tmpTable()
    DeltaWriter.append(spark, region, path,
      configuration = Map("delta.deletedFileRetentionDuration" -> "interval 0 seconds"))
    DeltaTable.forPath(spark, path).overwrite(region.limit(2))
    val snap = DeltaLog.forPath(spark, path).update()
    val stamps = snap.tombstones.flatMap(_.deletionTimestamp)
    assert(stamps.nonEmpty)
    // the cutoff equals the newest stamp: delta-spark keeps only removes
    // strictly newer than the cutoff
    assert(Checkpoints.liveTombstones(snap, nowMs = stamps.max).isEmpty)
  }

  test("checkpoints written from a LazySnapshot keep checkpoint-held " +
       "tombstones (no one-cycle-early expiry on huge tables)") {
    val path = tmpTable()
    DeltaWriter.append(spark, region, path)                      // v0
    DeltaTable.forPath(spark, path).overwrite(region.limit(3))  // v1: tombstones
    val log = DeltaLog.forPath(spark, path)
    Checkpoints.checkpoint(log)                                  // cp@v1 holds them
    val removedPaths = log.readCheckpoint(log.update().version)
      .flatMap(_.remove).map(_.path).toSet
    assert(removedPaths.nonEmpty)
    DeltaWriter.append(spark, region.limit(2), path)             // v2: JSON tail
    DeltaLog.clearCache()
    spark.conf.set("spark.graft.lazySnapshot.minActions", "1")
    try {
      val log2 = DeltaLog.forPath(spark, path)
      val snap = log2.update()
      assert(snap.isInstanceOf[LazySnapshot], "expected the lazy path")
      // the base checkpoint's unexpired tombstones surface on the snapshot…
      assert(removedPaths.subsetOf(snap.tombstones.map(_.path).toSet),
        s"lazy snapshot lost checkpoint tombstones: ${snap.tombstones.map(_.path)}")
      // …and survive into the NEXT checkpoint, written FROM the lazy snap
      Checkpoints.writeCheckpoint(log2, snap)
      val second = log2.readCheckpoint(snap.version).flatMap(_.remove)
      assert(removedPaths.subsetOf(second.map(_.path).toSet),
        "second checkpoint (from LazySnapshot) dropped retained tombstones")
      // checkpoint file actions are normalized per protocol guidance
      assert(second.forall(!_.dataChange), "checkpoint removes keep dataChange=true")
      assert(log2.readCheckpoint(snap.version).flatMap(_.add).forall(!_.dataChange))
    } finally {
      spark.conf.unset("spark.graft.lazySnapshot.minActions")
      DeltaLog.clearCache()
    }
  }

  test("lazy build expires tombstones under the FINAL metadata: a tail " +
       "commit that lengthens retention protects checkpoint-held tombstones") {
    val path = tmpTable()
    DeltaWriter.append(spark, region, path,                      // v0: 1s retention
      configuration = Map("delta.deletedFileRetentionDuration" -> "interval 1 seconds"))
    DeltaTable.forPath(spark, path).overwrite(region.limit(3))  // v1: tombstones
    val log = DeltaLog.forPath(spark, path)
    Checkpoints.checkpoint(log)                                  // cp@v1 (age≈0 < 1s)
    val removedPaths = log.readCheckpoint(log.update().version)
      .flatMap(_.remove).map(_.path).toSet
    assert(removedPaths.nonEmpty)
    Thread.sleep(1500) // now EXPIRED under the checkpoint-era 1s window
    // v2 (JSON tail): retention extended to 7 days — the final metadata
    // protects those tombstones again
    Alter.setProperties(spark, log,
      Map("delta.deletedFileRetentionDuration" -> "interval 7 days"))
    DeltaLog.clearCache()
    spark.conf.set("spark.graft.lazySnapshot.minActions", "1")
    try {
      val snap = DeltaLog.forPath(spark, path).update()
      assert(snap.isInstanceOf[LazySnapshot], "expected the lazy path")
      // cutting with the checkpoint-era window would drop these
      assert(removedPaths.subsetOf(snap.tombstones.map(_.path).toSet),
        s"lazy build expired tombstones under stale retention: " +
          s"${snap.tombstones.map(_.path)}")
    } finally {
      spark.conf.unset("spark.graft.lazySnapshot.minActions")
      DeltaLog.clearCache()
    }
  }

  test("v2 checkpoint carries tombstones in sidecars and GC reclaims " +
       "superseded manifests + unreferenced sidecars") {
    val path = tmpTable()
    DeltaWriter.append(spark, region, path,
      configuration = Map("delta.checkpointPolicy" -> "v2",
        "delta.enableExpiredLogCleanup" -> "false"))
    DeltaTable.forPath(spark, path).overwrite(region.limit(4))
    val log = DeltaLog.forPath(spark, path)
    Checkpoints.checkpoint(log)                      // v2 layout, 1st manifest
    assert(log.readCheckpoint(log.update().version).flatMap(_.remove).nonEmpty,
      "v2 checkpoint dropped tombstones")
    val firstManifests = log.listUuidManifests()
    assert(firstManifests.size == 1)
    val firstSidecars = log.manifestSidecarPaths(firstManifests.head._2)
    assert(firstSidecars.nonEmpty)

    DeltaWriter.append(spark, region, path)
    Checkpoints.checkpoint(log)                      // 2nd manifest supersedes
    val all = log.listUuidManifests()
    assert(all.size == 2)
    val latest = all.filterNot(_._2 == firstManifests.head._2).head
    val latestSidecars = log.manifestSidecarPaths(latest._2).map(_.toUri.getPath).toSet

    // nothing is young enough to reclaim at real `now`…
    Checkpoints.cleanUpExpiredLogs(log, log.update().metadata.configuration)
    assert(log.listUuidManifests().size == 2)
    // …but 40 days later the superseded manifest and its sidecars go
    val n = Checkpoints.cleanUpExpiredLogs(log, log.update().metadata.configuration,
      nowMs = System.currentTimeMillis() + FortyDaysMs)
    assert(n > 0)
    val left = log.listUuidManifests()
    assert(left.map(_._2) == Seq(latest._2), s"surviving manifests: $left")
    val fs = log.fs
    firstSidecars.foreach { p =>
      if (!latestSidecars.contains(p.toUri.getPath))
        assert(!fs.exists(p), s"orphaned sidecar survived GC: $p")
    }
    latestSidecars.foreach(p =>
      assert(fs.exists(new org.apache.hadoop.fs.Path(p)), s"live sidecar deleted: $p"))
    // replay from the surviving v2 checkpoint alone stays green
    DeltaLog.clearCache()
    assert(DeltaTable.forPath(spark, path).toDF.count() == 4 + region.count())
  }

  test("unreadable manifest disables sidecar GC (fail-safe), manifests kept") {
    val path = tmpTable()
    DeltaWriter.append(spark, region, path,
      configuration = Map("delta.checkpointPolicy" -> "v2",
        "delta.enableExpiredLogCleanup" -> "false"))
    val log = DeltaLog.forPath(spark, path)
    Checkpoints.checkpoint(log)
    DeltaWriter.append(spark, region, path)
    Checkpoints.checkpoint(log)
    // corrupt the LATEST manifest: its refs become unknowable, so no
    // sidecar may be reclaimed (deleting a live one corrupts replay)
    val latestV = log.listUuidManifests().map(_._1).max
    val latest = log.listUuidManifests().filter(_._1 == latestV).head._2
    val sidecarsBefore = {
      val d = new java.io.File(path, "_delta_log/_sidecars")
      d.listFiles().map(_.getName).toSet
    }
    val fs = log.fs
    val out = fs.create(latest, true)
    out.write("not parquet".getBytes); out.close()
    Checkpoints.cleanUpExpiredLogs(log, Map.empty,
      nowMs = System.currentTimeMillis() + FortyDaysMs)
    val sidecarsAfter = {
      val d = new java.io.File(path, "_delta_log/_sidecars")
      d.listFiles().map(_.getName).toSet
    }
    assert(sidecarsAfter == sidecarsBefore,
      "sidecar GC ran despite an unreadable manifest")
  }

  test("expired .cptmp staging dirs from crashed attempts are swept") {
    val path = tmpTable()
    DeltaWriter.append(spark, region, path)
    val log = DeltaLog.forPath(spark, path)
    Checkpoints.checkpoint(log)
    val orphan = new java.io.File(path, "_delta_log/.cptmp-deadbeef")
    orphan.mkdirs()
    java.nio.file.Files.write(new java.io.File(orphan, "part-0.parquet").toPath,
      Array[Byte](1, 2, 3))
    Checkpoints.cleanUpExpiredLogs(log, Map.empty) // young: kept
    assert(orphan.isDirectory)
    Checkpoints.cleanUpExpiredLogs(log, Map.empty,
      nowMs = System.currentTimeMillis() + FortyDaysMs)
    assert(!orphan.exists())
  }
}
