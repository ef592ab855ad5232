package graft.delta

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, LongType,
  MapType, Metadata, StructField, StructType}

/**
 * Checkpointing: consolidate the reconciled snapshot state into
 * `NNNNNNNNNNNNNNNNNNNN.checkpoint.parquet` (or, above
 * `maxActionsPerPart`, a multi-part
 * `NNN….checkpoint.<i>.<n>.parquet` set) plus the `_last_checkpoint`
 * pointer, idempotently — the analog of `CHECKPOINT tbl`
 * (reference src/storage/delta_transaction_manager.cpp:54-74; test
 * test/sql/main/writing/checkpoint.test:28-56).
 *
 * Scale: a 100 TB table has millions of add actions; one part file (and
 * the repartition(1) writing it) becomes both a write bottleneck and an
 * unsplittable read — parts keep the checkpoint write/read parallel.
 */
object Checkpoints {

  /** Write a checkpoint at the snapshot's version. Idempotent: re-running
    * at the same version overwrites the same content. Afterwards, expired
    * log entries are reclaimed per `delta.logRetentionDuration` unless
    * `delta.enableExpiredLogCleanup` is false (delta-spark contract). */
  def checkpoint(log: DeltaLog, maxActionsPerPart: Int = 500000): Long = {
    val snap = log.update()
    writeCheckpoint(log, snap, maxActionsPerPart)
    if (snap.metadata.configuration
        .getOrElse("delta.enableExpiredLogCleanup", "true")
        .trim.equalsIgnoreCase("true"))
      cleanUpExpiredLogs(log, snap.metadata.configuration)
    snap.version
  }

  /** Parse a `delta.logRetentionDuration`-style value: "interval N
    * days|hours|minutes|seconds" (delta-spark's CalendarInterval strings)
    * or a plain millisecond count. Unparseable → `defaultMs` (30 days,
    * the log-retention default; deleted-file retention passes 7 days). */
  private[graft] def parseRetentionMs(s: Option[String],
      defaultMs: Long = 30L * 24 * 60 * 60 * 1000): Long = {
    s.map(_.trim.toLowerCase) match {
      case None => defaultMs
      case Some(v) =>
        val iv = raw"(?:interval\s+)?(\d+)\s*(day|hour|minute|second|week)s?".r
        v match {
          case iv(n, unit) =>
            val ms = unit match {
              case "week" => 7L * 24 * 3600 * 1000
              case "day" => 24L * 3600 * 1000
              case "hour" => 3600L * 1000
              case "minute" => 60L * 1000
              case "second" => 1000L
            }
            n.toLong * ms
          case _ => v.toLongOption.getOrElse(defaultMs)
        }
    }
  }

  /** Remove tombstones a checkpoint must RETAIN: the protocol keeps
    * removes within `delta.deletedFileRetentionDuration` (default 1 week)
    * so engines can still reason about recently deleted files — and
    * VACUUM can honor their deletion timestamps — once the commit JSONs
    * that carried them are cleaned up. A remove stamped exactly at the
    * cutoff has expired, and one without a deletionTimestamp is treated as
    * old, both matching delta-spark. */
  private[delta] def liveTombstones(snap: Snapshot,
      nowMs: Long = System.currentTimeMillis()): Seq[RemoveFile] = {
    val cutoff = nowMs - parseRetentionMs(
      snap.metadata.configuration.get("delta.deletedFileRetentionDuration"),
      defaultMs = 7L * 24 * 3600 * 1000)
    snap.tombstones.filter(_.deletionTimestamp.getOrElse(0L) > cutoff)
  }

  /**
   * Metadata retention: delete commit JSONs (and superseded checkpoint
   * files) that are BOTH below the latest complete checkpoint and older
   * than `delta.logRetentionDuration` (default 30 days). The latest
   * checkpoint plus every later JSON always survives, so the current
   * state and recent time travel are untouched; history older than the
   * retention window stops being addressable — the protocol's contract,
   * and the only thing that stops a 100 TB table's log growing without
   * bound.
   *
   * @return number of log files deleted
   */
  def cleanUpExpiredLogs(log: DeltaLog, config: Map[String, String],
      nowMs: Long = System.currentTimeMillis()): Int = {
    val fs = log.fs
    val listing = log.listing()
    if (listing.checkpoints.isEmpty) return 0
    val cp = listing.checkpoints.lastKey
    val cutoff = nowMs - parseRetentionMs(config.get("delta.logRetentionDuration"))
    var deleted = 0
    // Prefix-safe: delete only a CONTIGUOUS run of expired commits from the
    // low end. Per-file mtime alone is not monotone in version (clock skew,
    // copies); deleting a mid-range commit while an older one survives
    // would leave a gap that a later replay could silently read through
    // (delta-spark's BufferingLogDeletionIterator solves the same hazard).
    val candidates = listing.commits.takeWhile(_ < cp)
    val expiredPrefix = candidates.takeWhile { v =>
      val f = log.commitFile(v)
      fs.exists(f) && fs.getFileStatus(f).getModificationTime < cutoff
    }
    expiredPrefix.foreach { v =>
      if (fs.delete(log.commitFile(v), false)) deleted += 1
    }
    // classic checkpoints below the latest one are superseded the same way
    listing.checkpoints.rangeUntil(cp).values.flatMap(_.parts).foreach { f =>
      if (f.getModificationTime < cutoff && fs.delete(f.getPath, false)) deleted += 1
    }
    // V2 (uuid-manifest) checkpoints: expired manifests below the latest
    // checkpoint are superseded; after dropping them, reclaim `_sidecars`
    // parquets no SURVIVING manifest references — each manifest enumerates
    // its sidecars, so the live set is exact. The mtime cutoff additionally
    // shields an IN-FLIGHT attempt's sidecars (renamed into place before
    // their manifest exists) and fresh crash orphans; long-expired orphans
    // from crashed attempts are reclaimed here, by design.
    val manifests = listing.manifests
    manifests.filter(_._1 < cp).foreach { case (_, m) =>
      if (fs.exists(m) && fs.getFileStatus(m).getModificationTime < cutoff &&
          fs.delete(m, false)) deleted += 1
    }
    // only a sidecar past the cutoff may go, so the manifests' references
    // (one Spark job per parquet manifest) are read only when one is
    val sidecarDir = new Path(log.logPath, "_sidecars")
    val expiredSidecars =
      if (manifests.isEmpty || !fs.exists(sidecarDir)) Nil
      else fs.listStatus(sidecarDir).toSeq
        .filter(st => !st.isDirectory && st.getModificationTime < cutoff)
    // an unreadable manifest leaves the references unknown: GC nothing,
    // since deleting a sidecar a live checkpoint still needs would corrupt
    // replay, while keeping garbage merely wastes bytes
    if (expiredSidecars.nonEmpty) scala.util.Try(log.listUuidManifests()
        .flatMap(m => log.manifestSidecarPaths(m._2).map(_.toUri.getPath)).toSet).fold(
      e => DeltaLog.log.warn(s"unreadable sidecar refs in ${log.logPath}: skipping sidecar GC", e),
      referenced => expiredSidecars.foreach { st =>
        if (!referenced.contains(st.getPath.toUri.getPath) &&
            fs.delete(st.getPath, false)) deleted += 1
      })
    // crashed checkpoint attempts leave `.cptmp-*` staging dirs; expired
    // ones are abandoned by definition (a live attempt is seconds old)
    fs.listStatus(log.logPath).filter(st => st.isDirectory &&
        st.getPath.getName.startsWith(".cptmp-") &&
        st.getModificationTime < cutoff)
      .foreach { st => if (fs.delete(st.getPath, true)) deleted += 1 }
    if (deleted > 0) log.invalidateCache()
    deleted
  }

  def writeCheckpoint(log: DeltaLog, snap: Snapshot,
      maxActionsPerPart: Int = 500000): Unit = {
    require(maxActionsPerPart > 0, "maxActionsPerPart must be positive")
    if (snap.metadata.configuration.get("delta.checkpointPolicy")
        .exists(_.trim.equalsIgnoreCase("v2")))
      writeV2Checkpoint(log, snap, maxActionsPerPart)
    else writeClassicCheckpoint(log, snap, maxActionsPerPart)
  }

  /** What a checkpoint at the snapshot's version holds, in either layout:
    * the non-file actions, and the file actions ([[Snapshot.addsDataset]]
    * plus the live tombstones) for executors to write, so no writer
    * collects the file list; `fileCount` counts them from snapshot facts. */
  private final case class ActionSet(nonFile: Seq[Action], files: DataFrame, fileCount: Long)

  private def actionSet(snap: Snapshot): ActionSet = {
    // file actions are normalized to dataChange=false per the protocol's
    // checkpoint guidance (delta-spark does the same); change detection
    // always reads the COMMIT JSONs, never checkpoint state
    val tombstones = liveTombstones(snap).map(r => Action(r.copy(dataChange = false)))
    val files = snap.addsDataset.toDF()
      .withColumn("add", col("add").withField("dataChange", lit(false)))
      .union(snap.log.spark.createDataset(tombstones)(DeltaLog.actionEncoder).toDF())
    ActionSet(
      Seq(Action(snap.protocol), Action(snap.metadata)) ++
        snap.setTransactions.map { case (app, v) => Action(SetTransaction(app, v, None)) } ++
        snap.domainMetadata.map(Action(_)),
      files, snap.fileCount + tombstones.size)
  }

  private def partCount(actions: Long, maxActionsPerPart: Int): Int =
    math.max(1L, (actions + maxActionsPerPart - 1L) / maxActionsPerPart).toInt

  /** Writes `df` as `n` parquet files into a fresh `.cptmp-` directory —
    * through no shuffle when one file is enough — and returns the
    * directory and its files in name order. */
  private def writeParts(log: DeltaLog, df: DataFrame, n: Int): (Path, Seq[Path]) = {
    val tmpDir = new Path(log.logPath, s".cptmp-${java.util.UUID.randomUUID}")
    (if (n == 1) df.coalesce(1) else df.repartition(n))
      .write.mode(SaveMode.Overwrite).parquet(tmpDir.toString)
    (tmpDir, log.fs.listStatus(tmpDir).map(_.getPath)
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName).toSeq)
  }

  /** V2 checkpoint (`delta.checkpointPolicy=v2`, reader feature
    * `v2Checkpoint`): file actions go to `_delta_log/_sidecars/<uuid>
    * .parquet` files; a uuid-named manifest `<v>.checkpoint.<uuid>.parquet`
    * holds protocol/metaData/txn/domainMetadata plus `checkpointMetadata`
    * and one `sidecar` pointer per sidecar file. Unlike classic multi-part
    * sets, every file is attempt-unique — a crashed re-checkpoint can
    * never leave a mixed set, so no pointer-retraction dance is needed;
    * `_last_checkpoint` is written last, pure optimization. */
  private def writeV2Checkpoint(log: DeltaLog, snap: Snapshot,
      maxActionsPerPart: Int): Unit = {
    import org.apache.spark.sql.Row
    val spark = log.spark
    val fs = log.fs
    val set = actionSet(snap)

    // sidecars: the file actions in parts of at most maxActionsPerPart,
    // one uuid-named parquet each (add/remove columns only, per protocol)
    val sidecarDir = new Path(log.logPath, "_sidecars")
    fs.mkdirs(sidecarDir)
    val (tmpDir, parts) = writeParts(log, set.files.select(col("add"), col("remove")),
      partCount(set.fileCount, maxActionsPerPart))
    val sidecarInfos = parts.map { part =>
      val name = s"${java.util.UUID.randomUUID}.parquet"
      val target = new Path(sidecarDir, name)
      if (!fs.rename(part, target))
        throw new IllegalStateException(s"Failed to move sidecar to $target")
      (name, fs.getFileStatus(target).getLen)
    }

    // manifest: non-file actions + checkpointMetadata + sidecar pointers
    val base = spark.createDataset(set.nonFile)(DeltaLog.actionEncoder).toDF()
      .withColumn("checkpointMetadata",
        lit(null).cast("struct<version:bigint>"))
      .withColumn("sidecar",
        lit(null).cast("struct<path:string,sizeInBytes:bigint>"))
    val schema = base.schema
    def rowWith(field: String, value: Row): Row =
      Row.fromSeq(schema.fields.toIndexedSeq.map(f => if (f.name == field) value else null))
    val extraRows = rowWith("checkpointMetadata", Row(snap.version)) +:
      sidecarInfos.map { case (p, sz) => rowWith("sidecar", Row(p, sz)) }
    val manifestDF =
      base.unionByName(spark.createDataFrame(java.util.List.of(extraRows: _*), schema))
    val (tmpManifest, written) = writeParts(log, manifestDF, 1)
    require(written.length == 1, s"expected 1 manifest part, got ${written.length}")
    val manifestTarget = new Path(log.logPath,
      f"${snap.version}%020d.checkpoint.${java.util.UUID.randomUUID}.parquet")
    if (!fs.rename(written.head, manifestTarget))
      throw new IllegalStateException(s"Failed to move manifest to $manifestTarget")
    fs.delete(tmpDir, true)
    fs.delete(tmpManifest, true)
    // v2 semantics for `size`: actions IN the manifest (readers must not
    // compare it against sidecar contents — ours already exempts uuid
    // manifests from the count check)
    LogStore.overwrite(fs, new Path(log.logPath, "_last_checkpoint"),
      s"""{"version":${snap.version},"size":${set.nonFile.size + 1 + sidecarInfos.size}}""")
  }

  private def writeClassicCheckpoint(log: DeltaLog, snap: Snapshot,
      maxActionsPerPart: Int): Unit = {
    val set = actionSet(snap)
    // counted before any file is replaced: a lazy snapshot's adds may be
    // the very checkpoint this one replaces
    val size = set.nonFile.size + set.fileCount
    val all = log.spark.createDataset(set.nonFile)(DeltaLog.actionEncoder).toDF()
      .union(set.files)
    val out =
      if (snap.metadata.configuration
          .getOrElse("delta.checkpoint.writeStatsAsStruct", "false")
          .trim.equalsIgnoreCase("true")) withStructStats(all, snap)
      else all
    val (tmpDir, written) = writeParts(log, out, partCount(size, maxActionsPerPart))
    require(written.nonEmpty, s"No checkpoint part file in $tmpDir")
    val fs = log.fs

    // Crash-safe re-checkpoint ordering: retract the `_last_checkpoint`
    // pointer FIRST, then rename the new parts into place (deleting only a
    // colliding name just before its rename), then sweep stale files and
    // finally re-write the pointer. Multi-part part names are fixed by the
    // protocol (no attempt-unique suffix possible), so a crash mid-rename
    // during a same-part-count re-checkpoint can leave a MIXED set that is
    // complete BY NAME; the reader therefore only trusts a multi-part set
    // when the pointer names it with a matching action count — with the
    // pointer retracted, a crash degrades to JSON replay, never to a
    // silently-wrong snapshot. Single-part checkpoints are a single atomic
    // rename and stay usable without the pointer.
    val k = written.length
    val pointer = new Path(log.logPath, "_last_checkpoint")
    if (fs.exists(pointer)) fs.delete(pointer, false)
    val targets =
      if (k == 1) Seq(log.checkpointFile(snap.version))
      else (1 to k).map(i => log.checkpointPartFile(snap.version, i, k))
    val replaced = written.zip(targets).map { case (part, target) =>
      val existed = fs.delete(target, false)
      if (!fs.rename(part, target))
        throw new IllegalStateException(s"Failed to move checkpoint to $target")
      existed
    }.contains(true)
    // sweep leftovers from a prior checkpoint shape (e.g. old part count)
    val prefix = f"${snap.version}%020d.checkpoint"
    val targetNames = targets.map(_.getName).toSet
    val stale = fs.listStatus(log.logPath).map(_.getPath)
      .filter(p => p.getName.startsWith(prefix) && p.getName.endsWith(".parquet")
        && !targetNames.contains(p.getName))
    stale.foreach(p => fs.delete(p, false))
    // a cached LazySnapshot may read the files just replaced or swept
    if (replaced || stale.nonEmpty) log.invalidateCache()
    fs.delete(tmpDir, true)
    val partsField = if (k == 1) "" else s""","parts":$k"""
    LogStore.overwrite(fs, pointer,
      s"""{"version":${snap.version},"size":$size$partsField}""")
  }

  /** `delta.checkpoint.writeStatsAsStruct`: add typed
    * `add.stats_parsed` (min/max/nullCount trees) and, on partitioned
    * tables, `add.partitionValues_parsed` (typed partition values)
    * ALONGSIDE the JSON string forms — the protocol's struct checkpoint
    * layout, so engines that only read the struct form (the reference's
    * DAT `stats_as_struct` corpus) still get file skipping from our
    * checkpoints. Keys are PHYSICAL names on column-mapped tables, same
    * as the stats strings. Our own reader keeps using the JSON form. */
  private[delta] def withStructStats(df: DataFrame, snap: Snapshot): DataFrame = {
    import org.apache.spark.sql.functions.{from_json, struct, when}
    val dataS =
      if (snap.columnMappingMode == "none") snap.dataSchema
      else snap.physicalDataSchema
    // min/max trees keep the leaf type where stats exist for it; nullCount
    // mirrors the same leaves as longs (arrays/maps/binary/variant carry no
    // bounds in the JSON stats, so they are absent from the struct too)
    def tree(dt: DataType, leaf: DataType => Option[DataType]): Option[DataType] =
      dt match {
        case st: StructType =>
          val fs = st.fields.flatMap(f => tree(f.dataType, leaf)
            .map(t => StructField(f.name, t, nullable = true, Metadata.empty)))
          if (fs.isEmpty) None else Some(StructType(fs.toIndexedSeq))
        case _: ArrayType | _: MapType | BinaryType => None
        case other if other.typeName == "variant" => None
        case other => leaf(other)
      }
    val mm = tree(dataS, dt => Some(dt))
    val cnt = tree(dataS, _ => Some(LongType))
    val statsSchema = StructType(
      Seq(StructField("numRecords", LongType)) ++
        mm.map(StructField("minValues", _)) ++
        mm.map(StructField("maxValues", _)) ++
        cnt.map(StructField("nullCount", _)))
    val addFields = df.schema("add").dataType.asInstanceOf[StructType].fieldNames
    val partS =
      if (snap.columnMappingMode == "none") snap.partitionSchema
      else snap.physicalPartitionSchema
    val pvParsed =
      if (partS.isEmpty) None
      else Some(struct(partS.fields.toIndexedSeq.map { f =>
        col("add.partitionValues")(f.name).cast(f.dataType).as(f.name)
      }: _*))
    val newAdd = when(col("add").isNotNull, struct(
      addFields.toIndexedSeq.map(n => col(s"add.`$n`").as(n)) ++
        Seq(from_json(col("add.stats"), statsSchema).as("stats_parsed")) ++
        pvParsed.map(_.as("partitionValues_parsed")): _*))
    df.withColumn("add", newAdd)
  }
}
