package graft.delta

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/**
 * OPTIMIZE: bin-pack small files and purge deletion vectors by rewriting —
 * beyond the reference's own surface, but the maintenance operation that
 * keeps a 100 TB table scannable (small-file problem: every file is a task
 * + an object-store request; DVs tax every scan with bitmap probes).
 *
 * Semantics: per partition, files smaller than `smallFileThreshold` or
 * carrying a DV are rewritten into files of `maxRowsPerFile` rows (or
 * `delta.targetFileSize` bytes, when set); the commit removes the
 * originals and adds the compacted files with dataChange=false (readers
 * of any version see identical rows — time travel across the OPTIMIZE is
 * preserved).
 */
object Optimize {

  final case class Result(version: Long, filesRemoved: Int, filesAdded: Int)

  final case class VacuumResult(filesDeleted: Int, bytesReclaimed: Long)

  /** Retention floor below which vacuum refuses without `force`: a short
    * window silently breaks concurrent readers pinned to older versions
    * (Delta's retentionDurationCheck, same default). */
  val MinRetentionMs: Long = 7L * 24 * 3600 * 1000

  /**
   * VACUUM: physically delete data files under the table root that the
   * CURRENT snapshot no longer references and whose tombstone (or file
   * modification time, when no remove action names them) is older than
   * `retentionMs`. Time travel to versions needing those files stops
   * working — same contract as Delta's VACUUM.
   *
   * `retentionMs` below [[MinRetentionMs]] requires `force = true`
   * (mirror of Delta's retentionDurationCheck): an aggressive window
   * deletes files a concurrent reader's pinned snapshot still needs.
   * A write's files sit in place before its commit; the retention window
   * protects them (as in delta-spark). Old `tmp-stage-*` dirs are skipped.
   *
   * Scale notes: the referenced-set is the snapshot file list (already on
   * the driver for planning) plus DV files; the candidate listing is one
   * recursive enumeration of the table root — O(#files) driver work with
   * no data read, the same cost profile as any snapshot load.
   */
  def vacuum(spark: SparkSession, log: DeltaLog,
      retentionMs: Long = MinRetentionMs,
      force: Boolean = false,
      dryRun: Boolean = false): VacuumResult = {
    require(retentionMs >= 0, s"vacuum: negative retention $retentionMs")
    require(force || retentionMs >= MinRetentionMs,
      s"vacuum: retention ${retentionMs}ms is below the ${MinRetentionMs}ms " +
        "safety floor and may delete files concurrent readers still need; " +
        "pass force=true to override (Delta's retentionDurationCheck analog)")
    val snap = log.update()
    val fs = log.fs
    val root = log.tablePath
    val now = System.currentTimeMillis()
    val live: Set[String] = (snap.allFiles.map(f => snap.absolutePath(f).toUri.getPath) ++
      snap.allFiles.flatMap(_.deletionVector).flatMap { dv =>
        if (dv.storageType == "i") None
        else Some(DeletionVectorStore.resolvePath(root, dv).toUri.getPath)
      }).toSet
    // tombstone timestamps from the log (removes name their deletion time)
    val removedAt: Map[String, Long] = log.listCommitVersions().flatMap { v =>
      log.readCommit(v).flatMap(_.remove).map { r =>
        new Path(root, r.decodedPath).toUri.getPath ->
          r.deletionTimestamp.getOrElse(0L)
      }
    }.toMap
    var deleted = 0
    var bytes = 0L
    def walk(dir: Path): Unit = fs.listStatus(dir).foreach { st =>
      val name = st.getPath.getName
      if (st.isDirectory) {
        // tmp-stage-*: an earlier writer's staging dir. Hidden dirs (_delta_log,
        // _symlink_format_manifest, ...) are metadata a vacuum must never
        // touch — their files are not in `live` yet still current (e.g. a
        // symlink manifest for Presto/Trino readers). _change_data is the
        // one hidden dir vacuum DOES clean (CDF files age out with the
        // same retention); partition dirs contain '=' and are never hidden.
        val hidden = (name.startsWith("_") || name.startsWith(".")) &&
          name != "_change_data" && !name.contains("=")
        if (!hidden && !name.startsWith("tmp-stage-")) walk(st.getPath)
      } else if (!name.startsWith("_") && !name.startsWith(".")) {
        val p = st.getPath.toUri.getPath
        val cutoffBase = removedAt.getOrElse(p, st.getModificationTime)
        if (!live.contains(p) && now - cutoffBase >= retentionMs) {
          // dry run (VACUUM ... DRY RUN analog): count candidates only
          if (dryRun) { bytes += st.getLen; deleted += 1 }
          else {
            bytes += st.getLen
            if (fs.delete(st.getPath, false)) deleted += 1 else bytes -= st.getLen
          }
        }
      }
    }
    walk(root)
    VacuumResult(deleted, bytes)
  }

  /**
   * Shallow CLONE (delta-spark's `CREATE TABLE ... SHALLOW CLONE src`):
   * create an independent table at `targetPath` whose version-0 commit
   * references the SOURCE's data files by absolute path — zero data is
   * copied, so cloning a 100 TB table is one metadata commit. The clone
   * then evolves independently: appends/DELETEs/OPTIMIZE land under the
   * clone root and never touch source files (a rewrite tombstones the
   * absolute-path add and writes new files locally).
   *
   * Relative deletion vectors are re-anchored as absolute ("p"-storage)
   * descriptors so the clone's row-level state matches the source snapshot.
   *
   * Caveat (same as delta-spark): VACUUM on the source does not know about
   * clones — reclaiming source files a clone still references breaks that
   * clone. Clone from a snapshot you retain, or deep-copy via overwrite.
   */
  def shallowClone(spark: SparkSession, log: DeltaLog, targetPath: String,
      versionAsOf: Option[Long] = None): Result = {
    val snap = versionAsOf.map(log.snapshotAt).getOrElse(log.update())
    val tgtLog = DeltaLog.forPath(spark, targetPath)
    require(!tgtLog.tableExists, s"clone target already a delta table: $targetPath")
    require(tgtLog.tablePath.toUri.getPath != log.tablePath.toUri.getPath,
      "clone target must differ from the source")

    val now = System.currentTimeMillis()
    val adds = snap.allFiles.map { f =>
      val abs = snap.absolutePath(f).toUri.getPath
      val dv = f.deletionVector.map { d =>
        if (d.storageType == "u")
          d.copy(storageType = "p",
            // the encoded URI string (toUri.toString, not getPath): "p"
            // is read as a URI on both this engine and delta-spark, so a
            // special character in the source dir must arrive encoded
            pathOrInlineDv = DeletionVectorStore.resolvePath(log.tablePath, d)
              .toUri.toString)
        else d // "i" inline / "p" absolute travel as-is
      }
      f.copy(
        path = abs.split('/').map(seg => java.net.URLEncoder.encode(seg,
          java.nio.charset.StandardCharsets.UTF_8).replace("+", "%20")).mkString("/"),
        deletionVector = dv,
        modificationTime = now)
    }
    tgtLog.fs.mkdirs(tgtLog.tablePath)
    // the adds keep the source's row ids (the row-id domain is copied),
    // so they ride as plain actions, not as fresh `adds`
    ConflictChecker.commit(tgtLog, None, "CLONE",
      Seq(Action(snap.protocol),
        Action(snap.metadata.copy(
          id = java.util.UUID.randomUUID.toString,
          createdTime = Some(now)))) ++
      snap.domainMetadata.map(Action(_)) ++
      adds.map(Action(_)),
      params = Map(
        "source" -> log.tablePath.toString,
        "sourceVersion" -> snap.version.toString,
        "filesAdded" -> adds.size.toString))
    Result(0L, 0, adds.size)
  }

  /**
   * RESTORE TABLE ... TO VERSION AS OF v (delta-spark's RESTORE, beyond
   * the reference's read-only surface): one commit that re-adds every file
   * of the target snapshot the current version dropped and removes every
   * file added since — after it, the latest version answers exactly like
   * version `targetVersion`, while the full history (including the
   * restore itself) stays time-travelable.
   *
   * Files are reconciled by (path, DV id): a file whose deletion vector
   * changed since the target version is re-added with its old DV (the
   * row-level state is part of what's being restored). Metadata (schema,
   * configuration) is reset to the target's when it differs. Re-added
   * files must still exist on disk — a VACUUM may have reclaimed them, in
   * which case restore fails loudly rather than commit dangling adds.
   *
   * Scale notes: driver work is two in-memory file-list diffs (the same
   * lists snapshot planning already holds) plus one existence probe per
   * re-added file; no data is read or written — restore of a 100 TB table
   * is a metadata-only commit.
   */
  /** RESTORE TABLE ... TO TIMESTAMP AS OF: resolve via the same commit-
    * timestamp rule time travel uses (ICT-aware), then restore by
    * version. */
  def restoreToTimestamp(spark: SparkSession, log: DeltaLog, tsMillis: Long): Result =
    restore(spark, log, log.versionAtTimestamp(tsMillis))

  def restore(spark: SparkSession, log: DeltaLog, targetVersion: Long): Result = {
    val snap = log.update()
    require(targetVersion >= 0 && targetVersion <= snap.version,
      s"restore: version $targetVersion outside [0, ${snap.version}]")
    // restore removes rows with dataChange=true: full writer gate incl.
    // appendOnly (same class as DELETE)
    ProtocolGate.validateWrite(snap, "RESTORE")
    if (targetVersion == snap.version) return Result(snap.version, 0, 0)
    val target = log.snapshotAt(targetVersion)

    def key(f: AddFile): (String, String) =
      (f.decodedPath, f.deletionVector.map(_.uniqueId).getOrElse(""))
    val curByKey = snap.allFiles.map(f => key(f) -> f).toMap
    val tgtByKey = target.allFiles.map(f => key(f) -> f).toMap
    val toAdd = tgtByKey.collect { case (k, f) if !curByKey.contains(k) => f }.toSeq
    val toRemove = curByKey.collect { case (k, f) if !tgtByKey.contains(k) => f }.toSeq

    val vacuumed = toAdd.filterNot(f => log.fs.exists(snap.absolutePath(f)))
    if (vacuumed.nonEmpty)
      throw new IllegalStateException(
        s"restore: ${vacuumed.size} file(s) of version $targetVersion no longer " +
          s"exist (vacuumed?); first: ${vacuumed.head.decodedPath}")

    val now = System.currentTimeMillis()
    val mdReset =
      if (snap.metadata.schemaString != target.metadata.schemaString ||
          snap.metadata.configuration != target.metadata.configuration ||
          snap.metadata.partitionColumns != target.metadata.partitionColumns)
        Seq(Action(target.metadata))
      else Nil
    // restore reads the table state it diffs against: a concurrent commit
    // is a conflict, not a retry. Re-added files keep their row ids, so
    // they ride as plain actions, not as fresh `adds`.
    val v = ConflictChecker.commit(log, Some(snap), "RESTORE",
      mdReset ++
        toRemove.map(f => Action(f.removed(now))) ++
        toAdd.map(f => Action(f.copy(dataChange = true, modificationTime = now))),
      params = Map(
        "version" -> targetVersion.toString,
        "filesAdded" -> toAdd.size.toString,
        "filesRemoved" -> toRemove.size.toString),
      maxAttempts = 1)
    Result(v, toRemove.size, toAdd.size)
  }

  /** Files selected by an `OPTIMIZE/ZORDER ... WHERE <partition predicate>`
    * scope. The predicate is evaluated by Spark itself over the files'
    * TYPED partition values (logical names — physical keys are translated
    * on column-mapped tables); referencing a non-partition column fails
    * resolution loudly. At 100 TB this is what makes maintenance runnable
    * at all: you compact the partitions a backfill touched, not the table. */
  private def partitionScope(spark: SparkSession, snap: Snapshot,
      where: Option[org.apache.spark.sql.Column], what: String): AddFile => Boolean =
    where match {
      case None => _ => true
      case Some(pred) =>
        import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
        val logical = snap.partitionSchema
        require(logical.nonEmpty, s"$what WHERE requires a partitioned table")
        val physical = snap.physicalPartitionSchema
        val files = snap.allFiles.toIndexedSeq
        val rows = files.zipWithIndex.map { case (f, i) =>
          org.apache.spark.sql.Row.fromSeq(
            i.toLong +: physical.fields.toSeq.map(pf =>
              f.partitionValues.getOrElse(pf.name, null)))
        }
        val strSchema = StructType(StructField("__idx", LongType) +:
          logical.fields.toSeq.map(f => StructField(f.name, StringType)))
        val jRows = new java.util.ArrayList[org.apache.spark.sql.Row](rows.size)
        rows.foreach(jRows.add)
        val typed = spark.createDataFrame(jRows, strSchema).select(
          col("__idx") +: logical.fields.toIndexedSeq.map(f =>
            col(s"`${f.name}`").cast(f.dataType).as(f.name)): _*)
        val kept = typed.filter(pred).select("__idx").collect()
          .map(_.getLong(0)).toSet
        val keepPaths = files.zipWithIndex.collect {
          case (f, i) if kept(i.toLong) => f.decodedPath }.toSet
        f => keepPaths.contains(f.decodedPath)
    }

  /**
   * The id-stable rewrite OPTIMIZE and ZORDER share: read the live rows of
   * `files`, lay them out with `repack`, write them through the write step
   * [[DeltaWriter.write]] with dataChange=false and commit the removes and
   * adds in one version. Readers of any version see identical rows — time
   * travel across the rewrite is preserved. On a row-tracked table each
   * row carries its stable id and commit version in the materialized
   * columns (the first rewrite mints their names, and its commit records
   * them); the new files get fresh baseRowIds, never read for a row whose
   * id is materialized.
   *
   * @param params commitInfo params beyond the file counts
   * @param scope/maxAttempts the commit's conflict handling
   * @param clusteringProvider stamped on the adds (liquid clustering)
   */
  private def rewrite(spark: SparkSession, log: DeltaLog, snap: Snapshot,
      files: Seq[AddFile], params: Map[String, String],
      scope: ConflictChecker.ReadScope, maxAttempts: Int,
      clusteringProvider: Option[String] = None)(repack: DataFrame => DataFrame): Result = {
    // scoped snapshot over just the files being rewritten: same scan path
    // as toDF (DV filtering, partition values, logical order)
    val scoped = new Snapshot(log, snap.version, snap.protocol, snap.metadata,
      files, snap.setTransactions, snap.domainMetadata)
    val ids = RowTracking.rewriteColumns(snap)
    val rows = ids.fold(scoped.toDF)(RowTracking.preservedRowsDF(scoped, _))
    val minted = ids.flatMap(_.minted)
    ConflictChecker.staging(log) { staged =>
      val adds = DeltaWriter.write(spark, log, Some(snap), snap.schema, repack(rows),
        snap.metadata.partitionColumns,
        // post-mint: the FIRST id-materializing rewrite already exempts
        // the minted columns from stats
        minted.getOrElse(snap.metadata).configuration, staged,
        passThrough = ids.toSeq.flatMap(c =>
          Seq(RowTracking.idField(c.id), RowTracking.idField(c.version))),
        dataChange = false, clusteringProvider = clusteringProvider)
      val now = System.currentTimeMillis()
      val v = ConflictChecker.commit(log, Some(snap), "OPTIMIZE",
        minted.map(Action(_)).toSeq ++
          files.map(f => Action(f.removed(now, dataChange = false))),
        params = params ++ Map("filesRemoved" -> files.size.toString,
          "filesAdded" -> adds.size.toString),
        metrics = Map(
          "numRemovedFiles" -> files.size.toString,
          "numAddedFiles" -> adds.size.toString,
          "numRemovedBytes" -> files.map(_.size).sum.toString,
          "numAddedBytes" -> adds.map(_.size).sum.toString),
        adds = adds, staged = staged, scope = scope, maxAttempts = maxAttempts)
      Result(v, files.size, adds.size)
    }
  }

  /** OPTIMIZE as one [[rewrite]]: a concurrent commit conflicts only when
    * it touches a file being rewritten. */
  def compact(
      spark: SparkSession,
      log: DeltaLog,
      smallFileThreshold: Long = 32L * 1024 * 1024,
      maxRowsPerFile: Long = 8L * 1024 * 1024,
      where: Option[org.apache.spark.sql.Column] = None): Result = {
    val snap = log.update()
    // removes here are dataChange=false, so appendOnly does not apply —
    // but version/feature support still must hold before committing
    ProtocolGate.validateWrite(snap, "OPTIMIZE")

    val inScope = partitionScope(spark, snap, where, "OPTIMIZE")
    val candidates = snap.allFiles.filter(f => inScope(f) &&
      (f.size < smallFileThreshold || f.deletionVector.isDefined))
    // nothing to do: one clean small file per partition is already optimal
    val byPartition = candidates.groupBy(_.partitionValues)
      .filter { case (_, fs) => fs.size > 1 || fs.exists(_.deletionVector.isDefined) }
    if (byPartition.isEmpty) return Result(snap.version, 0, 0)
    val toRewrite = byPartition.values.flatten.toSeq

    // delta.targetFileSize (bytes) takes precedence over the row cap when
    // set — size output files by byte volume like delta-spark's OPTIMIZE
    val numFiles = snap.metadata.configuration.get("delta.targetFileSize")
      .flatMap(_.trim.toLongOption).filter(_ > 0) match {
      case Some(target) =>
        math.max(1L, toRewrite.map(_.size).sum / target + 1).toInt
      case None => math.max(1L,
        toRewrite.map(f => f.parsedStats.flatMap(_.numRecords).getOrElse(0L)).sum
          / maxRowsPerFile + 1).toInt
    }
    val partCols = snap.metadata.partitionColumns
    rewrite(spark, log, snap, toRewrite, Map.empty,
      ConflictChecker.ReadScope.FilesOnly, maxAttempts = 10) { rows =>
      if (partCols.nonEmpty) rows.repartition(numFiles, partCols.map(col): _*)
      else rows.repartition(numFiles)
    }
  }

  /**
   * OPTIMIZE ... ZORDER BY (cols): rewrite the table's data files
   * clustered on the Morton interleave of the given columns, so per-file
   * min/max stats become tight on EVERY listed column and stats-based
   * file skipping works for filters on any of them (a plain sort gives
   * that for its leading column only). One [[rewrite]] of every file.
   *
   * Shape: one small agg for global per-column min/max (bucket scaling),
   * then one range-repartition + within-partition sort on the z-key and
   * a rewrite — the same two-exchange cost as any global sort of the
   * table, which is the floor for re-clustering 100 TB. Bucket codes are
   * 16-bit min/max-scaled ranks (numeric/date/timestamp; strings use
   * their first two bytes), interleaved by a codegen'd expression.
   *
   * Z-ordering by a partition column is rejected: its value is constant
   * within every file already.
   */
  def zorder(
      spark: SparkSession,
      log: DeltaLog,
      cols: Seq[String],
      maxRowsPerFile: Long = 8L * 1024 * 1024,
      /** stamped on the rewritten adds (liquid-clustered OPTIMIZE) */
      clusteringProvider: Option[String] = None): Result = {
    import org.apache.spark.sql.functions.{coalesce, conv, floor, greatest,
      hex, least, lit, max, min, struct, substring}
    val snap = log.update()
    ProtocolGate.validateWrite(snap, "OPTIMIZE")
    val partCols = snap.metadata.partitionColumns
    require(cols.nonEmpty && cols.size <= 4,
      s"zorder takes 1-4 columns, got ${cols.size}")
    cols.foreach { c =>
      require(snap.schema.fieldNames.contains(c), s"zorder: no such column $c")
      require(!partCols.contains(c),
        s"zorder: $c is a partition column (constant per file already)")
    }
    val toRewrite = snap.allFiles
    if (toRewrite.isEmpty) return Result(snap.version, 0, 0)
    val numFiles = math.max(1L,
      toRewrite.map(f => f.parsedStats.flatMap(_.numRecords).getOrElse(0L)).sum
        / maxRowsPerFile + 1).toInt

    // a concurrent commit conflicts: the rewrite re-clusters every file
    rewrite(spark, log, snap, toRewrite, Map("zorderBy" -> cols.mkString(",")),
      ConflictChecker.ReadScope.WholeTable, maxAttempts = 1, clusteringProvider) { rows =>
      // 16-bit bucket code per column: min/max-scaled rank for orderable
      // types; first-two-bytes code for strings; null → 0
      def numericBucket(c: String, lo: Double, hi: Double) =
        if (hi <= lo) lit(0)
        else least(lit(65535), greatest(lit(0),
          floor((col(c).cast("double") - lit(lo)) * 65535.0 / (hi - lo)).cast("int")))
      // every numeric column's (min, max) in one aggregate job
      val numeric = cols.filter(c =>
        snap.schema(c).dataType != org.apache.spark.sql.types.StringType)
      val bounds: Map[String, org.apache.spark.sql.Row] =
        if (numeric.isEmpty) Map.empty
        else {
          val aggs = numeric.map(c =>
            struct(min(col(c).cast("double")), max(col(c).cast("double"))))
          val r = rows.agg(aggs.head, aggs.tail: _*).head()
          numeric.indices.map(i => numeric(i) -> r.getStruct(i)).toMap
        }
      val bucketCols = cols.map { c =>
        snap.schema(c).dataType match {
          case org.apache.spark.sql.types.StringType =>
            coalesce(
              conv(hex(substring(col(c).cast("binary"), 1, 2)), 16, 10).cast("int"),
              lit(0))
          case _ =>
            val mm = bounds(c)
            if (mm.isNullAt(0)) lit(0)
            else numericBucket(c, mm.getDouble(0), mm.getDouble(1))
        }
      }
      val zKey = graft.functions.ZOrderCode.zOrderCode(bucketCols)
      rows.withColumn("__z", zKey)
        .repartitionByRange(numFiles, (partCols.map(col) :+ col("__z")): _*)
        .sortWithinPartitions((partCols.map(col) :+ col("__z")): _*)
        .drop("__z")
    }
  }
}
