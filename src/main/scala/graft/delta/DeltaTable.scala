package graft.delta

import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * User-facing table handle — the Spark analog of the reference's
 * `ATTACH ... (TYPE delta)` catalog surface plus its metadata table
 * functions (src/delta_extension.cpp:21-93; src/storage/delta_catalog.cpp;
 * src/functions/delta_metadata_scan.cpp; src/functions/delta_domain_metadata.cpp).
 *
 * - `toDF()` / `toDF(versionAsOf)` ≈ `delta_scan(path)` / `AT (VERSION => n)`
 * - `attach(name)` ≈ ATTACH: registers a temp view
 * - `pin()` ≈ PIN_SNAPSHOT: a handle fixed at the current version
 * - `listFiles` ≈ `delta_list_files` / `delta_metadata`
 * - `domainMetadata` ≈ `delta_domain_metadata`
 * - `getTransactionVersion` ≈ `delta_get_transaction_version`
 */
class DeltaTable private (val spark: SparkSession, val log: DeltaLog,
    pinnedVersion: Option[Long] = None,
    scanOptions: ScanOptions = ScanOptions()) {

  def snapshot: Snapshot =
    pinnedVersion.map(log.snapshotAt).getOrElse(log.update())

  def version: Long = snapshot.version

  def toDF: DataFrame = snapshot.toDF(scanOptions)

  /** Time travel (`AT (VERSION => n)` / `versionAsOf`). */
  def toDF(versionAsOf: Long): DataFrame =
    log.snapshotAt(versionAsOf).toDF(scanOptions)

  /** Time travel by timestamp (`timestampAsOf` / `TIMESTAMP AS OF`):
    * latest commit at or before `tsMillis`. */
  def toDFAtTimestamp(tsMillis: Long): DataFrame =
    log.snapshotAt(log.versionAtTimestamp(tsMillis)).toDF(scanOptions)

  /** `pushdown_filters` toggle analog (reference delta_scan.cpp:14-44). */
  def withScanOptions(options: ScanOptions): DeltaTable =
    new DeltaTable(spark, log, pinnedVersion, options)

  /** Virtual-columns scan (reference §2.1 #9: `filename`,
    * `file_row_number`, `delta_file_number`): the file ordinal comes from
    * the snapshot's file list as a literal map (codegen'd `element_at`,
    * no join). */
  def toDFWithVirtualColumns: DataFrame = {
    import org.apache.spark.sql.functions._
    val snap = snapshot
    val mapArgs = snap.allFiles.zipWithIndex.flatMap { case (f, i) =>
      val p = snap.absolutePath(f)
      Seq(p.toString -> i, p.toUri.getPath -> i)
    }.distinctBy(_._1).flatMap { case (p, i) => Seq(lit(p), lit(i)) }
    // materialized row-id columns (written by id-stable rewrites) join the
    // read schema when configured; files lacking them read null
    val matNames = RowTracking.materializedNames(snap.metadata)
    val base = snap.relationDF(extraDataCols =
      matNames.toSeq.flatMap { case (mid, mver) =>
        Seq(org.apache.spark.sql.types.StructField(mid,
              org.apache.spark.sql.types.LongType, nullable = true),
            org.apache.spark.sql.types.StructField(mver,
              org.apache.spark.sql.types.LongType, nullable = true))
      })
    // row tracking: row id = materialized value if present, else fresh id
    // baseRowId + i — path→literal maps (codegen'd element_at), no join
    val rowIdCols =
      if (!snap.allFiles.exists(_.baseRowId.isDefined)) Nil
      else {
        def pathMap(value: AddFile => Option[Long]) = map(snap.allFiles.flatMap { f =>
          val p = snap.absolutePath(f)
          value(f).toSeq.flatMap(v =>
            Seq(p.toString -> v, p.toUri.getPath -> v))
        }.distinctBy(_._1).flatMap { case (p, v) => Seq(lit(p), lit(v)) }
          .toIndexedSeq: _*)
        val freshId = element_at(pathMap(_.baseRowId), col("_metadata.file_path")) +
          col("_metadata.row_index")
        val freshVer = element_at(pathMap(_.defaultRowCommitVersion),
          col("_metadata.file_path"))
        matNames match {
          case Some((mid, mver)) => Seq(
            coalesce(col(s"`$mid`"), freshId).as("row_id"),
            coalesce(col(s"`$mver`"), freshVer).as("row_commit_version"))
          case None => Seq(freshId.as("row_id"), freshVer.as("row_commit_version"))
        }
      }
    base.select(
      (snap.schema.fieldNames.map(col) ++ Seq(
        col("_metadata.file_path").as("filename"),
        col("_metadata.row_index").as("file_row_number"),
        element_at(map(mapArgs.toIndexedSeq: _*), col("_metadata.file_path"))
          .as("delta_file_number")) ++ rowIdCols).toIndexedSeq: _*)
  }

  /** ATTACH analog: register as a temp view (optionally pinned). */
  def attach(name: String, pinSnapshot: Boolean = false): DeltaTable = {
    val t = if (pinSnapshot) pin() else this
    t.toDF.createOrReplaceTempView(name)
    t
  }

  /** PIN_SNAPSHOT analog: handle frozen at the current (or given) version. */
  def pin(): DeltaTable = new DeltaTable(spark, log, Some(snapshot.version), scanOptions)
  def at(version: Long): DeltaTable = new DeltaTable(spark, log, Some(version), scanOptions)

  /** `delta_list_files`/`delta_metadata` analog: one row per live data file
    * (schema mirrors delta_metadata_scan.cpp:17-148). */
  def listFiles(version: Option[Long] = None): DataFrame = {
    import spark.implicits._
    val s = version.map(log.snapshotAt).getOrElse(snapshot)
    s.allFiles.map { f =>
      (f.decodedPath, f.parsedStats.flatMap(_.numRecords),
        f.partitionValues.map { case (k, v) => (k, Option(v)) },
        f.deletionVector.isDefined,
        f.deletionVector.map(_.cardinality).getOrElse(0L))
    }.toDF("data_file", "cardinality", "partitions", "have_deletes", "delete_count")
  }

  /** `delta_domain_metadata` analog. */
  def domainMetadata(version: Option[Long] = None): DataFrame = {
    import spark.implicits._
    val s = version.map(log.snapshotAt).getOrElse(snapshot)
    s.domainMetadata.map(d => (d.domain, d.configuration))
      .toDF("domain", "configuration")
  }

  /** `delta_get_transaction_version` analog. */
  def getTransactionVersion(appId: String): Option[Long] =
    snapshot.setTransactions.get(appId)

  /** `delta_set_transaction_version` analog (reference
    * idempotency_helpers.cpp:67-151 + commit-time verification,
    * delta_transaction.cpp:411-470): record an application's transaction
    * version with compare-and-set semantics. With `expected = Some(e)`,
    * the commit happens only if the table currently records `e` for
    * `appId` (`Some(None)` = must record NOTHING yet); a mismatch is an
    * ERROR, matching the reference — the caller's idempotency assumption
    * is broken, silence would hide lost updates. With `expected = None`
    * the set is unconditional. The check re-runs after every version
    * conflict, so the CAS is atomic under concurrent writers.
    *
    * @return the commit version that recorded the new transaction version
    */
  def setTransactionVersion(appId: String, newVersion: Long,
      expected: Option[Option[Long]] = None): Long = {
    var attempt = 0
    while (true) {
      val snap = log.update()
      ProtocolGate.validateWrite(snap, "SET TRANSACTION")
      for (e <- expected) {
        val cur = snap.setTransactions.get(appId)
        if (cur != e) throw new IllegalStateException(
          s"delta_set_transaction_version: app '$appId' expected " +
            s"${e.map(_.toString).getOrElse("<none>")} but table records " +
            s"${cur.map(_.toString).getOrElse("<none>")} (lost update?)")
      }
      try {
        return ConflictChecker.commit(log, Some(snap), "SET TRANSACTION",
          Seq(Action(SetTransaction(appId, newVersion,
            Some(System.currentTimeMillis())))),
          params = Map("appId" -> appId), maxAttempts = 1)
      } catch {
        case _: CommitConflictException if attempt < 10 => attempt += 1
      }
    }
    -1L // unreachable
  }

  /** DESCRIBE DETAIL analog (delta-spark `DeltaTable.detail()`): one row
    * of table-level facts — identity, layout, size, protocol. File counts
    * and bytes come from the snapshot's add list (already in memory for
    * planning; on ≥10⁶-add tables the Dataset-backed snapshot computes
    * them distributed). */
  def detail(): DataFrame = {
    import spark.implicits._
    val s = snapshot
    val files = s.allFiles
    Seq((
      "delta",
      s.metadata.id,
      s.metadata.name.getOrElse(""),
      log.tablePath.toString,
      s.metadata.createdTime.getOrElse(0L),
      s.version,
      files.size.toLong,
      files.map(_.size).sum,
      s.metadata.partitionColumns,
      s.metadata.configuration,
      s.protocol.minReaderVersion,
      s.protocol.minWriterVersion,
      s.protocol.readerFeatures.getOrElse(Nil),
      s.protocol.writerFeatures.getOrElse(Nil)))
      .toDF("format", "id", "name", "location", "created_at", "version",
        "num_files", "size_in_bytes", "partition_columns", "properties",
        "min_reader_version", "min_writer_version", "reader_features",
        "writer_features")
  }

  /** Hive partition-path escaping (the rule Hive's FileUtils.escapePathName
    * and Spark's ExternalCatalogUtils apply): '/', '=', '%', ':' etc. in a
    * partition key or value become %XX so the directory layout stays
    * unambiguous for Presto/Trino/Athena. */
  private def escapePathName(s: String): String = {
    def needsEscaping(c: Char): Boolean =
      c < ' ' || c == '\u007F' || "\"#%'*/:=?\\{[]^".indexOf(c) >= 0
    if (!s.exists(needsEscaping)) s
    else s.flatMap(c => if (needsEscaping(c)) f"%%${c.toInt}%02X" else c.toString)
  }

  /**
   * Symlink-format manifest generation (delta-spark
   * `GENERATE symlink_format_manifest` analog): writes
   * `_symlink_format_manifest/[partition dirs/]manifest` files listing the
   * snapshot's live data files as absolute URIs, one per line — the layout
   * Presto/Trino/Athena external tables consume. Partitioned tables get
   * one manifest per partition directory. Tables carrying deletion vectors
   * refuse: a symlink reader would resurrect deleted rows.
   *
   * @return number of manifest files written
   */
  def generateSymlinkManifest(): Int = {
    val s = snapshot
    require(!s.hasDeletionVectors,
      "cannot generate a symlink manifest for a table with deletion " +
        "vectors: external readers would resurrect deleted rows")
    val fs = log.fs
    val root = new org.apache.hadoop.fs.Path(log.tablePath, "_symlink_format_manifest")
    if (fs.exists(root)) fs.delete(root, true)
    val partCols = s.metadata.partitionColumns
    val groups = s.allFiles.groupBy { f =>
      if (partCols.isEmpty) ""
      else partCols.map { c =>
        // partitionValues is keyed by PHYSICAL name; the directory layout
        // external readers (Presto/Trino/Athena) see uses LOGICAL names
        val k = s.physicalPartitionSchema.fieldNames
          .find(_.equalsIgnoreCase(c)).getOrElse(c)
        val v = f.partitionValues.get(k) match {
          case Some(null) | None => "__HIVE_DEFAULT_PARTITION__"
          case Some(x) => escapePathName(x)
        }
        s"${escapePathName(c)}=$v"
      }.mkString("/")
    }
    groups.foreach { case (dir, files) =>
      val target = if (dir.isEmpty) new org.apache.hadoop.fs.Path(root, "manifest")
        else new org.apache.hadoop.fs.Path(new org.apache.hadoop.fs.Path(root, dir), "manifest")
      val content = files.map(f => s.absolutePath(f).toUri.toString)
        .sorted.mkString("", "\n", "\n")
      LogStore.overwrite(fs, target, content)
    }
    groups.size
  }

  /** Commit history (latest first; `CALL graft.history` is the SQL face
    * of the same [[DeltaLog.commitHistory]]). */
  def history(): DataFrame = {
    import spark.implicits._
    log.commitHistory()
      .toDF("version", "timestamp", "operation", "engineInfo",
        "operationMetrics")
  }

  def append(df: DataFrame, partitionBy: Seq[String] = Nil,
      txnAppId: Option[String] = None, txnVersion: Option[Long] = None): Long =
    DeltaWriter.append(spark, df, log.tablePath.toString, partitionBy,
      txnAppId = txnAppId, txnVersion = txnVersion)

  /** `CHECKPOINT tbl` analog. */
  def checkpoint(): Long = Checkpoints.checkpoint(log)

  /**
   * Change-data-feed read over commits `startVersion..endVersion`
   * (inclusive) — the `table_changes` analog. Emits the protocol's CDF
   * columns `_change_type`, `_commit_version`, `_commit_timestamp`.
   *
   * Sources, per version: explicit `cdc` actions when the writer produced
   * `_change_data` files (they carry `_change_type` per row); otherwise the
   * row-level changes are DERIVED from the commit's dataChange actions:
   *  - fresh adds → `insert` rows (minus any rows its DV already deletes);
   *  - a remove/re-add pair differing only by deletion vector → `delete`
   *    rows for exactly the bitmap DIFF (new DV ∖ old DV), read from the
   *    still-present file — so DELETE/UPDATE commits encoded as DV growth
   *    produce a complete feed (VERDICT r4 #2);
   *  - a pure remove → `delete` rows for the file's still-live rows (all
   *    rows minus its last DV), read from the removed file (valid until
   *    VACUUM).
   * `dataChange=false` actions (OPTIMIZE rewrites, compactions) are
   * SKIPPED per protocol: a rewrite is not a change. A same-path re-add
   * that SHRINKS the DV (row restore) has no change-type here and is
   * rejected loudly. A foreign copy-on-write commit (remove file X + add
   * file Y) is emitted as full-file delete+insert — an over-approximation
   * of its row-level net change, documented rather than guessed at (the
   * reference reads CDF tables only as plain tables and never derives a
   * feed at all, test/sql/dat/all.test:197-206).
   * Every frame reads through [[Snapshot.relation]] under this handle's
   * snapshot: logical names on column-mapped tables, partition columns
   * typed by the table (a removed file's values come from the log, else
   * its Hive path), and files that predate a column add read it as null.
   */
  def changes(startVersion: Long, endVersion: Long): DataFrame = {
    require(startVersion <= endVersion,
      s"changes: startVersion $startVersion > endVersion $endVersion")
    val have = log.listCommitVersions().toSet
    val versions = (startVersion to endVersion).filter(have.contains)
    require(versions.nonEmpty,
      s"changes: no commits in [$startVersion,$endVersion] for ${log.tablePath}")
    val feed = changeFeed(versions)
    require(feed.isDefined,
      s"changes: no dataChange actions in [$startVersion,$endVersion]")
    feed.get
  }

  /** [[changes]] over the given commit versions, reading each commit file
    * once; None when none of them changes a row. Every frame is a
    * [[Snapshot.relation]] over the version's files under this handle's
    * snapshot metadata, so column mapping, deletion vectors and the
    * table's partition types apply as in [[toDF]]. */
  private[delta] def changeFeed(versions: Seq[Long]): Option[DataFrame] = {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.functions.{col, lit}
    import org.apache.spark.sql.types.{StringType, StructField}
    import graft.delta.DvCodec.Bitmap64
    val snap = snapshot
    val partKeys = snap.physicalPartitionSchema.fieldNames.toSeq
    def dvBitmap(d: Option[DeletionVectorDescriptor]): Bitmap64 =
      d.map(dv => DeletionVectorStore.read(log, dv)).getOrElse(Bitmap64.empty)
    /** A pure remove as a readable file: partition values and size from
      * the log when the writer recorded them, else from its Hive path and
      * the file itself. */
    def removedFile(v: Long, r: RemoveFile): AddFile = {
      val pv = r.partitionValues.getOrElse(
        DeltaWriter.partitionValuesFromPath(r.decodedPath, partKeys))
      partKeys.find(k => !pv.contains(k)).foreach { k =>
        throw new IllegalStateException(
          s"changes: version $v of ${log.tablePath} removes ${r.decodedPath} " +
            s"with no value for partition column $k in the log or its path")
      }
      val size = r.size.getOrElse(log.fs.getFileStatus(
        Snapshot.absolutePathOf(log.tablePath.toString, r.decodedPath)).getLen)
      AddFile(r.path, pv, size, modificationTime = 0L, deletionVector = r.deletionVector)
    }
    val frames = versions.flatMap { v =>
      val acts = log.readCommit(v)
      // ICT-aware: the stamped _commit_timestamp must agree with the
      // timestamp rule the CDF boundaries select versions by (a commit's
      // monotonicity-clamped inCommitTimestamp can differ from its
      // wall-clock commitInfo.timestamp — rows must never appear
      // timestamped before the boundary that admitted them)
      val ts = acts.flatMap(_.commitInfo).headOption
        .map(ci => ci.inCommitTimestamp.getOrElse(ci.timestamp)).getOrElse(0L)
      def read(files: Seq[(AddFile, Option[DvHandle])], rows: RowSelection,
          changeType: Column, extra: Seq[StructField] = Nil): Option[DataFrame] =
        if (files.isEmpty) None
        else Some(snap.relationDF(rows = rows, extraDataCols = extra, files = Some(files))
          .select(snap.schema.fieldNames.map(n => col(s"`$n`")).toIndexedSeq ++ Seq(
            changeType.as("_change_type"), lit(v).as("_commit_version"),
            lit(ts).as("_commit_timestamp")): _*))
      val cdcFiles = acts.flatMap(_.cdc)
      if (cdcFiles.nonEmpty) {
        // cdc files are authoritative for the version's row-level changes
        // and carry `_change_type` per row
        read(cdcFiles.map(c => AddFile(c.path, c.partitionValues, c.size, 0L) -> None),
          RowSelection.All, col("_change_type"),
          Seq(StructField("_change_type", StringType, nullable = true))).toSeq
      } else {
        val allAdds = acts.flatMap(_.add)
        val adds = allAdds.filter(_.dataChange)
        val removes = acts.flatMap(_.remove).filter(_.dataChange)
        // a foreign DV re-add may carry a stale dataChange=false, so the
        // re-add side is matched over ALL adds, not just dataChange ones
        val addByPath = allAdds.map(a => a.decodedPath -> a).toMap
        val (readds, pureRemoves) = removes.partition(r => addByPath.contains(r.decodedPath))
        val readdedPaths = readds.map(_.decodedPath).toSet
        val freshAdds = adds.filterNot(a => readdedPaths.contains(a.decodedPath))

        // delete rows from DV growth: new DV ∖ old DV per re-added file
        val dvDiffs = readds.flatMap { r =>
          val a = addByPath(r.decodedPath)
          val oldDv = dvBitmap(r.deletionVector)
          val newDv = dvBitmap(a.deletionVector)
          val restored = Bitmap64.andNot(oldDv, newDv)
          if (restored.cardinality > 0 || (a.deletionVector.isEmpty && r.deletionVector.isEmpty))
            throw new UnsupportedOperationException(
              s"changes: version $v of ${log.tablePath} re-adds " +
                s"${r.decodedPath} without growing its deletion vector " +
                "(row restore or in-place rewrite); CDF cannot be derived " +
                "soundly — enable CDF on the writer")
          val diff = Bitmap64.andNot(newDv, oldDv)
          if (diff.cardinality > 0) Some(a -> Some(ResolvedDv(diff): DvHandle)) else None
        }
        Seq(
          // fresh adds insert their live rows (minus any DV they carry)
          read(freshAdds.map(a => a -> a.deletionVector.map(DvSlot)),
            RowSelection.Live, lit("insert")),
          read(dvDiffs, RowSelection.Deleted, lit("delete")),
          // a pure remove deletes the file's still-LIVE rows (minus last DV)
          read(pureRemoves.map(r => removedFile(v, r) -> r.deletionVector.map(DvSlot)),
            RowSelection.Live, lit("delete"))
        ).flatten
      }
    }
    frames.reduceOption(_.union(_))
  }

  /** DELETE via deletion vectors (beyond the reference's own surface,
    * which rejects DELETE — src/storage/delta_catalog.cpp:102-117). */
  def delete(condition: org.apache.spark.sql.Column): Long =
    DeltaDelete.delete(spark, log, condition)

  /** OPTIMIZE: bin-pack small files + purge deletion vectors by rewrite. */
  /** VACUUM: delete unreferenced data files older than the retention
    * window; time travel past them stops working (Delta's contract).
    * Retention below [[Optimize.MinRetentionMs]] requires `force=true`. */
  def vacuum(retentionMs: Long = Optimize.MinRetentionMs,
      force: Boolean = false, dryRun: Boolean = false): Optimize.VacuumResult =
    Optimize.vacuum(spark, log, retentionMs, force, dryRun)

  /** ALTER TABLE ADD COLUMNS (nullable; old files read them as null). */
  def addColumns(cols: org.apache.spark.sql.types.StructField*): Long =
    Alter.addColumns(spark, log, cols)

  /** ALTER TABLE SET TBLPROPERTIES. */
  def setProperties(props: Map[String, String]): Long =
    Alter.setProperties(spark, log, props)

  /** ALTER TABLE UNSET TBLPROPERTIES (IF EXISTS semantics). */
  def unsetProperties(keys: String*): Long =
    Alter.unsetProperties(spark, log, keys)

  /** Fluent MERGE builder (delta-spark `merge(...).whenMatched...` API
    * shape): equi-merge on `keyCols`, clauses in call order; see
    * [[MergeBuilder]]. */
  def merge(source: DataFrame, keyCols: String*): MergeBuilder =
    new MergeBuilder(this, source, keyCols)

  /** Upgrade to column mapping, name mode: metadata-only, zero rewrites
    * (see [[Alter.upgradeToColumnMapping]]); unlocks rename/drop column. */
  def upgradeToColumnMapping(): Long = Alter.upgradeToColumnMapping(spark, log)

  /** ALTER TABLE RENAME COLUMN (dotted path for nested fields); requires
    * column mapping — metadata-only, files untouched. */
  def renameColumn(path: String, newName: String): Long =
    Alter.renameColumn(spark, log, path.split('.').toSeq, newName)

  /** ALTER TABLE DROP COLUMN (dotted path for nested fields); requires
    * column mapping — metadata-only, data stays in files unreferenced. */
  def dropColumn(path: String): Long =
    Alter.dropColumn(spark, log, path.split('.').toSeq)

  /** ALTER TABLE ADD CONSTRAINT name CHECK (sql) — existing rows are
    * verified first; future writes enforce it in the write pass. */
  def addCheckConstraint(name: String, sql: String): Long =
    Alter.addCheckConstraint(spark, log, name, sql)

  /** ALTER TABLE DROP CONSTRAINT name. */
  def dropCheckConstraint(name: String): Long =
    Alter.dropCheckConstraint(spark, log, name)

  /** Shallow-clone this table's pinned-or-latest snapshot to `targetPath`
    * — one metadata-only commit referencing the source's files by absolute
    * path (see [[Optimize.shallowClone]]). */
  def shallowClone(targetPath: String): Optimize.Result =
    Optimize.shallowClone(spark, log, targetPath, pinnedVersion)

  /** Atomically replace the table's content (delta-spark
    * `mode("overwrite")` analog); with `replaceWhere`, only rows matching
    * the predicate are replaced (see [[DeltaWriter.overwrite]]). */
  def overwrite(df: DataFrame,
      replaceWhere: Option[org.apache.spark.sql.Column] = None): Long =
    DeltaWriter.overwrite(spark, df, log.tablePath.toString, replaceWhere)

  /** RESTORE to an earlier version: one metadata-only commit after which
    * the latest version answers exactly like `version` (see
    * [[Optimize.restore]]). */
  def restore(version: Long): Optimize.Result =
    Optimize.restore(spark, log, version)

  /** RESTORE to the version that was latest at `tsMillis` (same timestamp
    * resolution as `timestampAsOf`). */
  def restoreToTimestamp(tsMillis: Long): Optimize.Result =
    Optimize.restore(spark, log, log.versionAtTimestamp(tsMillis))

  def optimize(smallFileThreshold: Long = 32L * 1024 * 1024,
      where: Option[org.apache.spark.sql.Column] = None): Optimize.Result =
    Optimize.compact(spark, log, smallFileThreshold, where = where)

  /** OPTIMIZE ... ZORDER BY: re-cluster data files on the Morton
    * interleave of `cols` so stats-based skipping prunes on any of them. */
  def zorder(cols: Seq[String],
      maxRowsPerFile: Long = 8L * 1024 * 1024): Optimize.Result =
    Optimize.zorder(spark, log, cols, maxRowsPerFile)

  /** UPDATE: soft-delete matched rows (DV) + re-append updated images in
    * one commit (beyond the reference's surface). */
  def update(condition: org.apache.spark.sql.Column,
      assignments: Map[String, org.apache.spark.sql.Column]): Long =
    DeltaUpdate.update(spark, log, condition, assignments)

  /** MERGE-style upsert on key columns: source replaces matched rows,
    * inserts the rest. Returns (rowsUpdated, rowsInserted). */
  def upsert(source: DataFrame, keyCols: Seq[String]): (Long, Long) =
    DeltaMerge.upsert(spark, log, source, keyCols)

  /** Record/overwrite a domainMetadata entry (write side of
    * `delta_domain_metadata`). The commit declares the `domainMetadata`
    * writer feature when the table does not yet. */
  def setDomainMetadata(domain: String, configuration: String,
      removed: Boolean = false): Long = {
    val snap = log.update()
    ProtocolGate.validateWrite(snap, "SET DOMAIN METADATA")
    ConflictChecker.commit(log, Some(snap), "SET DOMAIN METADATA",
      Alter.featureUpgrade(snap.protocol, Seq("domainMetadata")).map(Action(_)).toSeq :+
        Action(DomainMetadata(domain, configuration, removed)),
      params = Map("domain" -> domain), maxAttempts = 1)
  }
}

object DeltaTable {
  def forPath(spark: SparkSession, path: String): DeltaTable =
    new DeltaTable(spark, DeltaLog.forPath(spark, path))
}
