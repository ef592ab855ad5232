package graft.delta

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.delta.DvCodec.Bitmap64

/** Where one listed file's deletion bitmap comes from. It travels with the
  * file: [[GraftFileIndex.listFiles]] puts it in the file's metadata, Spark
  * copies that into each `PartitionedFile` of the file, and the task that
  * scans the file resolves it ([[GraftParquetFileFormat]]), as the
  * reference installs each file's selection vector when its reader opens
  * the file (delta_multi_file_reader.cpp:162-230). */
sealed abstract class DvHandle extends Serializable {
  /** The bitmap; `fs` is only asked for when a stored DV file is read. */
  def bitmap(tablePath: org.apache.hadoop.fs.Path,
      fs: => org.apache.hadoop.fs.FileSystem): Bitmap64
}

/** A file's stored deletion vector: only the descriptor crosses the wire,
  * and the scanning task reads the bitmap; inline ("i") DVs decode with no
  * IO. */
final case class DvSlot(descriptor: DeletionVectorDescriptor) extends DvHandle {
  override def bitmap(tablePath: org.apache.hadoop.fs.Path,
      fs: => org.apache.hadoop.fs.FileSystem): Bitmap64 =
    DeletionVectorStore.read(tablePath,
      if (descriptor.storageType == "i") null else fs, descriptor)
}

/** An already-resolved bitmap (CDF's DV-growth diffs). */
final case class ResolvedDv(resolved: Bitmap64) extends DvHandle {
  override def bitmap(tablePath: org.apache.hadoop.fs.Path,
      fs: => org.apache.hadoop.fs.FileSystem): Bitmap64 = resolved
}

/** Mutable 64-bit roaring bitmap builder — the per-file aggregation buffer
  * of the executor-side DV build ([[DeltaDelete.dvActions]]). */
final class DvBitmapBuffer extends Serializable {
  val parts: scala.collection.mutable.SortedMap[Int, org.roaringbitmap.RoaringBitmap] =
    scala.collection.mutable.SortedMap.empty
  def add(v: Long): Unit = {
    require(v >= 0, s"negative row index $v")
    parts.getOrElseUpdate((v >>> 32).toInt, new org.roaringbitmap.RoaringBitmap).add(v.toInt)
  }
  def mergeIn(o: DvBitmapBuffer): DvBitmapBuffer = {
    o.parts.foreach { case (k, bm) =>
      parts.get(k) match {
        case Some(mine) => mine.or(bm)
        case None => parts.put(k, bm)
      }
    }
    this
  }
  def toBitmap: Bitmap64 =
    Bitmap64(scala.collection.immutable.SortedMap.from(parts))
}

/**
 * DELETE via deletion vectors — beyond the reference's own surface (it
 * rejects DELETE, src/storage/delta_catalog.cpp:102-117) but required for
 * producing and round-tripping DV tables, and a first-class operator for
 * pipeline curation at scale.
 */
object DeltaDelete {

  /** Affected files per DV-build task: a broad DML over 10⁵ files writes
    * ~100 multi-DV files in parallel, a narrow one writes one. */
  private val FilesPerDvTask = 1024

  /** Build the remove+re-add-with-DV actions for the physical rows in
    * `hitRows` (columns p = file path, i = row index). Shared by DELETE,
    * UPDATE, MERGE and `replaceWhere`. Returns (actions, newly-deleted row
    * count). DV files written along the way are appended to `moved` (when
    * given) so a failed commit can reclaim them.
    *
    * Scale shape: ONE Spark job. The per-file facts (existing DV,
    * `numRecords`) are the files the hit scan itself listed on the driver
    * — the [[GraftFileIndex]] listing of the hit plan's relation over
    * `snap`, after partition and stats skipping (a [[LazySnapshot]] lists
    * only survivors, so the table's file list never materializes) — and
    * ship as one broadcast. Hits are keyed by their decoded path and
    * folded into one bitmap per file with a map-side combine; each reduce
    * task ORs in the file's existing DV and writes its files' bitmaps as
    * multi-DV files, so the driver receives only descriptors, never a
    * bitmap (delta-spark's shape). A hit in a file the listing lacks fails
    * the job in its map stage, before any DV file is written. */
  private[delta] def dvActions(log: DeltaLog, snap: Snapshot,
      hitRows: DataFrame,
      moved: scala.collection.mutable.ArrayBuffer[org.apache.hadoop.fs.Path] = null)
      : (Seq[Action], Long) = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val spark = log.spark
    val tablePathStr = log.tablePath.toString
    val hits = hitRows.select(col("p"), col("i").cast("long"))
    // planning the hits lists the scanned files: facts are read after it
    val hitRdd = hits.queryExecution.toRdd
    val candidates: Map[String, AddFile] = hits.queryExecution.analyzed
      .collectWithSubqueries { case l: LogicalRelation => l.relation }
      .flatMap {
        case HadoopFsRelation(idx: GraftFileIndex, _, _, _, _, _)
            if idx.metadataSnapshot.exists(_ eq snap) => idx.listedFiles
        case _ => Nil
      }
      .map(f => Snapshot.absolutePathOf(tablePathStr, f.decodedPath).toUri.getPath -> f)
      .toMap
    val facts = spark.sparkContext.broadcast(candidates.map { case (k, f) =>
      k -> ((f.deletionVector, f.parsedStats.flatMap(_.numRecords))) })
    val conf = spark.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(spark.sessionState.newHadoopConf()))
    val partitioner = new org.apache.spark.HashPartitioner(math.max(1, math.min(
      hitRdd.getNumPartitions, (candidates.size + FilesPerDvTask - 1) / FilesPerDvTask)))
    // per affected file: (path key, newly deleted rows, the written DV
    // file and descriptor; None when every row is now deleted)
    val results = try hitRdd.mapPartitions { rows =>
      val known = facts.value
      // `_metadata.file_path` is a url-encoded URI string
      // ("file:/…/file%20b.parquet" for a file named with a space), the
      // facts key by the DECODED path: java.net.URI decodes the escapes
      // (Hadoop's Path would keep "%20" literally). Once per distinct path
      // per task; the row's string is reused by the scan, so it is copied.
      val decoded = new java.util.HashMap[org.apache.spark.unsafe.types.UTF8String, String]
      rows.map { r =>
        val raw = r.getUTF8String(0)
        var p = decoded.get(raw)
        if (p == null) {
          p = try new java.net.URI(raw.toString).getPath
            catch { case _: java.net.URISyntaxException =>
              new org.apache.hadoop.fs.Path(raw.toString).toUri.getPath }
          // never a silently skipped delete
          if (!known.contains(p)) throw new IllegalStateException(s"hit in unknown file $p")
          decoded.put(raw.clone(), p)
        }
        (p, r.getLong(1))
      }
    }.aggregateByKey(new DvBitmapBuffer, partitioner)(
      (b, i) => { b.add(i); b }, _ mergeIn _
    ).mapPartitions { files =>
      val known = facts.value
      val tp = new org.apache.hadoop.fs.Path(tablePathStr)
      lazy val fs = tp.getFileSystem(conf.value.value)
      val out = scala.collection.mutable.ArrayBuffer
        .empty[(String, Long, Option[(String, DeletionVectorDescriptor)])]
      // one multi-DV file per task (rotated at ~16 MB so no single file
      // grows unbounded under a very broad delete). A FAILED or
      // speculative task attempt may leave its multi-DV file orphaned in
      // the table root (it was never collected, so neither the commit nor
      // `moved` knows it): orphans are unreferenced by every snapshot and
      // are reclaimed by VACUUM once past retention — bounded garbage,
      // same contract as an orphaned parquet from a failed write task.
      val pend = scala.collection.mutable.ArrayBuffer.empty[(String, Array[Byte], Long, Long)]
      var pendBytes = 0L
      def flush(): Unit = if (pend.nonEmpty) {
        val (file, descs) = DeletionVectorStore.writeMany(tp, fs,
          pend.map(_._2).toSeq, pend.map(_._3).toSeq)
        pend.indices.foreach { i =>
          out += ((pend(i)._1, pend(i)._4, Some((file.toString, descs(i)))))
        }
        pend.clear(); pendBytes = 0L
      }
      files.foreach { case (p, buf) =>
        val (existingDv, numRecords) = known(p)
        val fresh = buf.toBitmap
        val existing = existingDv.map(DeletionVectorStore.read(tp, fs, _))
        val merged = existing.fold(fresh)(Bitmap64.or(_, fresh))
        val newly = merged.cardinality - existing.map(_.cardinality).getOrElse(0L)
        // every hit was deleted already: the file is unchanged, and a
        // remove + re-add of it would be a data change with no changed row
        if (newly == 0) ()
        // fully deleted → plain remove, no DV to write
        else if (numRecords.contains(merged.cardinality)) out += ((p, newly, None))
        else {
          val bytes = DvCodec.serialize(merged)
          pend += ((p, bytes, merged.cardinality, newly))
          pendBytes += bytes.length
          if (pendBytes >= 16L * 1024 * 1024) flush()
        }
      }
      flush()
      out.iterator
    }.collect() finally { facts.destroy(); conf.destroy() }
    if (results.isEmpty) return (Nil, 0L)

    if (moved != null)
      results.flatMap(_._3.map(_._1)).distinct
        .foreach(f => moved += new org.apache.hadoop.fs.Path(f))
    val now = System.currentTimeMillis()
    val actions = results.toSeq.flatMap { case (p, _, dv) =>
      val f = candidates(p)
      // file still has live rows → re-add with the merged DV. dataChange
      // is set explicitly: `f` may be replayed from an OPTIMIZE commit
      // (dataChange=false), but THIS commit deletes rows — copying the
      // stale flag would hide the change from CDF/streaming consumers
      Action(f.removed(now)) +: dv.toSeq.map { case (_, d) =>
        Action(f.copy(deletionVector = Some(d), dataChange = true,
          stats = wideBoundsStats(f.stats)))
      }
    }
    (actions, results.map(_._2).sum)
  }

  /** Stats carried onto a DV-carrying add are no longer exact — the DV may
    * have removed the extreme or the null rows. Per the protocol these
    * must be flagged `tightBounds: false` (min/max/nullCount become
    * bounds; numRecords stays the exact PHYSICAL count). Foreign engines
    * key metadata-only answers on this flag, and so does our own
    * MetadataOnlyCount. Unparseable stats pass through unchanged. */
  private def wideBoundsStats(stats: Option[String]): Option[String] =
    stats.map { s =>
      try {
        val n = ActionJson.mapper.readTree(s)
        n match {
          case o: com.fasterxml.jackson.databind.node.ObjectNode =>
            o.put("tightBounds", false)
            ActionJson.mapper.writeValueAsString(o)
          case _ => s
        }
      } catch { case _: Exception => s }
    }

  private[delta] def protocolUpgradeActions(snap: Snapshot): Seq[Action] = {
    val p = snap.protocol
    // deletionVectors is never legacy-implied: presence means an explicit
    // feature entry on both sides
    if (p.readerFeatures.exists(_.contains("deletionVectors")) &&
        p.writerFeatures.exists(_.contains("deletionVectors"))) Nil
    else {
      // MERGE into the existing protocol — replacing it wholesale would
      // silently drop features the table already advertises (rowTracking,
      // identityColumns, inCommitTimestamp, …), a protocol corruption
      // foreign writers would then violate
      val legacyImpliedW =
        if (p.writerFeatures.isDefined) Nil
        else ProtocolGate.legacyImpliedWriterFeatures(p.minWriterVersion)
      val legacyImpliedR =
        if (p.readerFeatures.isDefined) Nil
        else ProtocolGate.legacyImpliedReaderFeatures(p.minReaderVersion)
      Seq(Action(Protocol(3, 7,
        Some((p.readerFeatures.getOrElse(Nil) ++ legacyImpliedR :+
          "deletionVectors").distinct),
        Some((p.writerFeatures.getOrElse(Nil) ++ legacyImpliedW :+
          "deletionVectors").distinct))))
    }
  }

  /**
   * The tail DELETE, UPDATE and MERGE share, in one staging scope: write
   * the new row images `rows` (logical columns, plus the materialized
   * row-id column `ids` names on a row-tracked table) through the write
   * step [[DeltaWriter.write]], soft-delete the `hits` (file path `p`,
   * row index `i`), stage the change data and land ONE commit. Nothing
   * commits when no row was deleted, unless `force`.
   *
   * @param ids the materialized row-id columns on a row-tracked table;
   *   the rows carry the id column only (see [[RowTracking.rewriteColumns]])
   * @param changes the change-data frame (logical columns plus
   *   `_change_type`), built only when the change data feed is on and the
   *   operation commits
   * @param metrics the commitInfo metrics, given the rows newly deleted
   *   and the deletion vectors added
   * @return the rows newly deleted, replaced rows included
   */
  private[delta] def rewrite(spark: SparkSession, log: DeltaLog, snap: Snapshot,
      op: String, hits: Option[DataFrame], rows: Option[DataFrame],
      changes: => DataFrame,
      ids: Option[RowTracking.RewriteColumns] = None,
      actions: Seq[Action] = Nil,
      params: Map[String, String],
      metrics: (Long, Int) => Map[String, String],
      scope: => ConflictChecker.ReadScope,
      force: Boolean = false): Long =
    ConflictChecker.staging(log) { staged =>
      val minted = ids.flatMap(_.minted)
      val adds = rows.fold(Seq.empty[AddFile])(DeltaWriter.write(spark, log, Some(snap),
        snap.schema, _, snap.metadata.partitionColumns,
        minted.getOrElse(snap.metadata).configuration, staged,
        passThrough = ids.map(c => RowTracking.idField(c.id)).toSeq))
      val (dvActs, deleted) =
        hits.fold((Seq.empty[Action], 0L))(dvActions(log, snap, _, staged))
      if (deleted > 0 || force) {
        val cdcLines =
          if (!Cdc.enabled(snap)) Nil
          else Cdc.writeChangeData(spark, log, snap, changes,
            snap.metadata.partitionColumns, staged)
        // optimistic concurrency: rebase over winners disjoint under
        // `scope` (see ConflictChecker) — conflicts remain loud errors
        ConflictChecker.commit(log, Some(snap), op,
          minted.map(Action(_)).toSeq ++
            (if (dvActs.nonEmpty) protocolUpgradeActions(snap) else Nil) ++ actions ++ dvActs,
          params = params,
          metrics = metrics(deleted, dvActs.count(_.add.exists(_.deletionVector.isDefined))),
          adds = adds, cdc = cdcLines, staged = staged, scope = scope)
      }
      deleted
    }

  /**
   * Soft-delete rows matching `condition`: per affected file, write a new
   * DV (union with any existing one), commit remove+add. Files whose rows
   * are all deleted are removed outright.
   *
   * @return number of rows deleted
   */
  def delete(spark: SparkSession, log: DeltaLog, condition: Column): Long = {
    val snap = log.update()
    ProtocolGate.validateWrite(snap, "DELETE")
    rewrite(spark, log, snap, "DELETE",
      // deleted rows kept: already-deleted matches union away
      hits = Some(snap.relationDF(rows = RowSelection.All).where(condition)
        .select(col("_metadata.file_path").as("p"), col("_metadata.row_index").as("i"))),
      rows = None,
      // CDF: the newly deleted rows are the LIVE matches (already-deleted
      // rows union into the bitmap as no-ops and must not re-emit)
      changes = Cdc.typed(snap.relationDF().where(condition), "delete"),
      params = Map("predicate" -> condition.toString),
      metrics = (n, dvs) => Map(
        "numDeletedRows" -> n.toString, "numDeletionVectorsAdded" -> dvs.toString),
      scope = ConflictChecker.ReadScope.Predicate(ConflictChecker.resolve(snap, condition)))
  }
}

/**
 * MERGE: one clause engine behind the builder, SQL MERGE, `upsert` and
 * `mergeDelete` — beyond the reference, whose catalog rejects all DML
 * (src/storage/delta_catalog.cpp:102-117).
 *
 * Scale shape: the source is read ONCE, into one tagged relation,
 * persisted for the duration of the operation when more than one consumer
 * reads it: target ⋈ source on the merge keys, with the join type the
 * clause kinds need and an `__action` column naming the clause each row
 * takes. One aggregate over it enforces
 * the cardinality guards and counts every clause before any file is
 * written; the written rows, the change data and the replaced/deleted
 * (file, row) set are filters and projections of it. A source that
 * changes between evaluations (a non-deterministic expression, files
 * rewritten during the MERGE) is therefore seen the same by every
 * consumer. Driver traffic stays bounded: one aggregate row, the DV file
 * list, per-file add stats.
 */
object DeltaMerge {

  /** Source rows replace key-matched live target rows (their stable row
    * ids kept on row-tracked tables) and, with `insertNotMatched`, the
    * other source rows are inserted — one commit. With a txn (the
    * streaming sink's foreachBatch), a batch already recorded for the
    * app id is a no-op.
    * @return (rowsUpdated, rowsInserted) */
  def upsert(spark: SparkSession, log: DeltaLog, source: DataFrame,
      keyCols: Seq[String], insertNotMatched: Boolean = true,
      txnAppId: Option[String] = None,
      txnVersion: Option[Long] = None): (Long, Long) = {
    val (updated, _, inserted) = mergeClauses(spark, log, source, keyCols,
      Seq(MergeClause(None, isDelete = false, Nil)),
      if (insertNotMatched) Some((None, Nil)) else None,
      txn = for (app <- txnAppId; v <- txnVersion) yield (app, v))
    (updated, inserted)
  }

  /** MERGE ... WHEN MATCHED THEN DELETE: soft-delete target rows whose
    * key appears in `source` (the tombstone-list pattern — drop every
    * doc id a dedup pass condemned). The source needs only the keys.
    * @return rows deleted */
  def mergeDelete(spark: SparkSession, log: DeltaLog, source: DataFrame,
      keyCols: Seq[String]): Long =
    mergeClauses(spark, log, source, keyCols,
      Seq(MergeClause(None, isDelete = true, Nil)), None)._2

  /** One WHEN MATCHED / WHEN NOT MATCHED BY SOURCE clause: optional
    * condition and UPDATE assignments are Columns over the merge join's
    * PREFIXED columns (`__t_<col>` = target side, `__s_<col>` = source
    * side — the SQL rewrite tags each attribute's side, so `t.x`/`s.x`
    * stay unambiguous even though both relations share names). Empty
    * assignments on an UPDATE clause mean SET * (every column from the
    * source row). The FIRST clause whose condition holds wins per row,
    * SQL order. */
  case class MergeClause(cond: Option[Column], isDelete: Boolean,
      assignments: Seq[(String, Column)])

  /**
   * MERGE with clause conditions and expression assignments — e.g. the
   * CDC-apply shape `WHEN MATCHED AND s.op='D' THEN DELETE` +
   * `WHEN MATCHED THEN UPDATE SET *` + conditional INSERT. Unassigned
   * columns of a partial UPDATE keep the TARGET value (a partial SET is
   * never widened to SET *); generated columns not assigned are
   * recomputed from the final row, and SET * and INSERT * take them from the
   * source row (filled in when the source omits them).
   *
   * Cardinality guards (refused before any file is written): a source key
   * has at most one source row, and a matched key at most one target row.
   * The one exemption, delta-spark's: a MERGE whose only clause is an
   * unconditional WHEN MATCHED DELETE deletes every matched target row
   * once, whatever the source holds.
   *
   * @param notMatched None = no INSERT clause; Some((cond, assignments)) —
   *   empty assignments = INSERT * (condition may reference SOURCE only).
   * @param bySource WHEN NOT MATCHED BY SOURCE clauses — applied to TARGET
   *   rows whose merge key has no source match; conditions/assignments may
   *   reference TARGET columns only.
   * @param txn (app id, version) recorded by the commit; a MERGE whose
   *   version the table already holds for that app is a no-op.
   * @return (rowsUpdated, rowsDeleted, rowsInserted)
   */
  def mergeClauses(spark: SparkSession, log: DeltaLog, source: DataFrame,
      keyCols: Seq[String], matched: Seq[MergeClause],
      notMatched: Option[(Option[Column], Seq[(String, Column)])],
      bySource: Seq[MergeClause] = Nil,
      txn: Option[(String, Long)] = None): (Long, Long, Long) = {
    val snap = log.update()
    ProtocolGate.validateWrite(snap, "MERGE")
    require(keyCols.nonEmpty, "merge keys required")
    require(matched.nonEmpty || notMatched.isDefined || bySource.nonEmpty,
      "MERGE needs at least one clause")
    if (txn.exists { case (app, v) => snap.setTransactions.get(app).exists(_ >= v) })
      return (0L, 0L, 0L)
    val schemaCols = snap.schema.fieldNames.toSeq

    // SET * / INSERT * write whole source rows — only then must the source
    // carry every table column (a conditional-DELETE tombstone list may be
    // keys + flags only)
    val needAllSourceCols =
      matched.exists(cl => !cl.isDelete && cl.assignments.isEmpty) ||
      notMatched.exists(_._2.isEmpty)
    val genFilled =
      if (needAllSourceCols)
        DeltaWriter.fillMissing("delta.generationExpression", snap.schema, source)
      else source
    if (needAllSourceCols) {
      val missing = schemaCols.filterNot(c =>
        genFilled.columns.exists(_.equalsIgnoreCase(c)))
      require(missing.isEmpty,
        s"MERGE source must carry every table column for SET */INSERT *; missing ${missing.sorted}")
    }
    val missingKeys = keyCols.filterNot(k =>
      genFilled.columns.exists(_.equalsIgnoreCase(k)))
    require(missingKeys.isEmpty, s"source lacks merge key(s): ${missingKeys.mkString(", ")}")

    // prefix EVERY source column (incl. extras like a CDC op flag, which
    // only clause conditions see); `__srow` identifies a source row (null
    // on a target-only row of an outer join)
    val sPref = genFilled.select((genFilled.columns.toIndexedSeq.map(c =>
      col(s"`$c`").as(s"__s_$c")) :+ monotonically_increasing_id().as("__srow")): _*)
    // row-tracked tables: updated images keep their stable id via the
    // materialized id column; inserted rows get fresh ids from the new
    // file's baseRowId (their materialized slot stays null)
    val ids = RowTracking.rewriteColumns(snap)
    val tPref = snap.relationDF(extraDataCols = ids.map(c => RowTracking.idField(c.id)).toSeq)
      .select((schemaCols.map(c => col(s"`$c`").as(s"__t_$c")) ++ Seq(
        col("_metadata.file_path").as("__file"),
        col("_metadata.row_index").as("__row")) ++
        ids.map(c => RowTracking.preservedIdCol(snap, c.id).as("__rowid")))
        .toIndexedSeq: _*)
    val joinCond = keyCols.map(c => col(s"`__t_$c`") === col(s"`__s_$c`")).reduce(_ && _)

    // action numbers: matched clause i → i, the insert → insertAt (a
    // clause that never holds when there is none), by-source clause j →
    // insertAt + 1 + j; null = no clause applies (the target row stays, the
    // source row is not written)
    val insertAt = matched.length
    val bySourceAt = insertAt + 1
    val clauses = ((matched :+ notMatched.fold(MergeClause(Some(lit(false)), isDelete = false, Nil)) {
      case (c, asg) => MergeClause(c, isDelete = false, asg) }) ++ bySource).toIndexedSeq
    val updates = clauses.indices.filter(a => a != insertAt && !clauses(a).isDelete)
    val deletes = clauses.indices.filter(a => clauses(a).isDelete)
    def firstHolding(from: Int, until: Int): Column =
      (from until until).foldRight(lit(null).cast("int")) { (a, rest) =>
        clauses(a).cond match {
          case Some(c) => when(coalesce(c, lit(false)), lit(a)).otherwise(rest)
          case None => lit(a) // unconditional: later clauses unreachable
        }
      }
    // the join type follows the clause kinds. The guard exemption needs
    // each matched target row once: a semi join. Otherwise every source row
    // is kept (the source guard sees them all, inserts take the unmatched
    // ones), and by-source clauses keep every target row too.
    val exempt = notMatched.isEmpty && bySource.isEmpty &&
      matched.map(c => (c.cond, c.isDelete)) == Seq((None, true))
    val joinType =
      if (exempt) "left_semi" else if (bySource.nonEmpty) "full_outer" else "right_outer"
    val matchedRow = col("__srow").isNotNull && col("__file").isNotNull
    val action =
      if (exempt) lit(0)
      else when(matchedRow, firstHolding(0, insertAt))
        .when(col("__file").isNull, firstHolding(insertAt, bySourceAt))
        .otherwise(firstHolding(bySourceAt, clauses.length))
    // an outer join that keeps every source row can only broadcast the
    // target, and a broadcast copy of the target stays in driver memory
    // until the context cleaner runs: sort-merge instead, as for any large
    // target. The semi join keeps Spark's choice (a small source broadcasts).
    val joined = tPref.join(if (exempt) sPref else sPref.hint("merge"), joinCond, joinType)
      .withColumn("__action", action)
    // persisted when read more than once, so every consumer sees the same
    // source rows; released on every exit path
    val tagged = if (exempt && !Cdc.enabled(snap)) joined else joined.persist()
    try {
      // both cardinality guards and every clause's count in one aggregate,
      // before any file is written: per source key (target-only rows share
      // the null key) a violation rank — 2 = several source rows, 1 =
      // several matched target rows — then the worst rank and the totals
      val counts: IndexedSeq[Long] =
        if (exempt) IndexedSeq.fill(clauses.length)(0L)
        else {
          val matchedRows = count(when(matchedRow, lit(1)))
          val r = tagged
            .groupBy(keyCols.map(c => when(col("__srow").isNotNull, col(s"`__s_$c`")).as(c)): _*)
            .agg(when(min(col("__srow")) < max(col("__srow")), 2)
                .when(matchedRows > 1, 1).otherwise(0).as("__v"),
              (matchedRows.as("__n") +: clauses.indices.map(a =>
                count(when(col("__action") === a, lit(1))).as(s"__c$a"))): _*)
            .agg(max(struct((Seq("__v", "__n") ++ keyCols).map(c => col(s"`$c`")): _*)),
              clauses.indices.map(a => coalesce(sum(col(s"__c$a")), lit(0L))): _*)
            .collect()(0)
          val worst = r.getStruct(0)
          if (worst != null && worst.getInt(0) > 0)
            throw new IllegalStateException("MERGE refused: " +
              (if (worst.getInt(0) == 2) "source has more than one row"
               else s"matched target has ${worst.getLong(1)} rows") + " for key " +
              keyCols.indices.map(i => s"${keyCols(i)}=${worst.get(2 + i)}").mkString(", "))
          clauses.indices.map(a => r.getLong(1 + a))
        }
      val updated = updates.map(counts).sum
      val inserted = counts(insertAt)

      /** A written row under LOGICAL names: an assigned column takes the
        * clause expression, an unassigned one keeps the target value
        * (updates); empty assignments take the whole source row. A
        * generated column not assigned recomputes from the final values.
        * Row-tracked tables add the id column: an update keeps the
        * target row's id, an insert gets a fresh one. */
      def image(a: Int): DataFrame = {
        val asg = clauses(a).assignments
        val fromTarget = a != insertAt
        val base = tagged.where(col("__action") === a).select((schemaCols.map { c =>
          asg.find(_._1.equalsIgnoreCase(c)) match {
            case Some((_, v)) => v.as(c)
            case None if asg.isEmpty => col(s"`__s_$c`").as(c)
            case None if fromTarget => col(s"`__t_$c`").as(c)
            case None => throw new IllegalArgumentException(
              s"INSERT assignments must cover every column; missing $c")
          }
        } ++ ids.map(c =>
          (if (fromTarget) col("__rowid") else lit(null).cast("long")).as(c.id)
        )).toIndexedSeq: _*)
        if (asg.isEmpty) base
        else DeltaWriter.fillMissing("delta.generationExpression", snap.schema, base,
          refill = c => !asg.exists(_._1.equalsIgnoreCase(c)))
      }
      val images = (updates ++ Seq(insertAt).filter(_ => notMatched.isDefined))
        .map(a => a -> image(a))
      def changes: DataFrame = {
        val logical = schemaCols.map(c => col(s"`$c`"))
        def targetRows(as: Seq[Int]) = tagged.where(col("__action").isin(as: _*))
          .select(schemaCols.map(c => col(s"`__t_$c`").as(c)): _*)
        (Cdc.typed(targetRows(deletes), "delete") +:
          Cdc.typed(targetRows(updates), "update_preimage") +:
          images.map { case (a, img) => Cdc.typed(img.select(logical: _*),
            if (a == insertAt) "insert" else "update_postimage") })
          .reduce(_ unionByName _)
      }
      val replaced = DeltaDelete.rewrite(spark, log, snap, "MERGE",
        hits = Option.when(exempt || updated + deletes.map(counts).sum > 0)(
          tagged.where(col("__action") =!= insertAt)
            .select(col("__file").as("p"), col("__row").as("i"))),
        rows = Option.when(updated + inserted > 0)(images.map(_._2).reduce(_ unionByName _)),
        changes = changes, ids = ids,
        actions = txn.toSeq.map { case (app, v) =>
          Action(SetTransaction(app, v, Some(System.currentTimeMillis()))) },
        params = Map("keys" -> keyCols.mkString(","),
          "matchedClauses" -> matched.length.toString),
        metrics = (n, _) => Map(
          "numTargetRowsUpdated" -> updated.toString,
          "numTargetRowsDeleted" -> (n - updated).toString,
          "numTargetRowsInserted" -> inserted.toString),
        // MERGE reads the whole target key set: any concurrent data
        // change conflicts; disjoint winners (txn markers, compactions)
        // rebase
        scope = ConflictChecker.ReadScope.WholeTable,
        force = inserted > 0 || txn.isDefined)
      (updated, replaced - updated, inserted)
    } finally tagged.unpersist()
  }
}

/**
 * UPDATE via deletion vectors + rewrite: matching live rows are
 * soft-deleted from their files and re-appended with assignments applied,
 * in ONE commit — beyond the reference's surface (it rejects UPDATE,
 * src/storage/delta_catalog.cpp:102-117), but table stakes for pipeline
 * curation (fix a label, redact a span) at scale.
 */
object DeltaUpdate {

  /** @return number of rows updated */
  def update(spark: SparkSession, log: DeltaLog, condition: Column,
      assignments: Map[String, Column]): Long = {
    val snap = log.update()
    ProtocolGate.validateWrite(snap, "UPDATE")
    val bad = assignments.keys.filterNot(snap.schema.fieldNames.contains)
    require(bad.isEmpty, s"unknown columns in SET: ${bad.mkString(", ")}")
    val idCols = Identity.identityCols(snap.schema).map(_.field.name.toLowerCase).toSet
    val idHit = assignments.keys.filter(k => idCols.contains(k.toLowerCase))
    if (idHit.nonEmpty)
      throw new UnsupportedOperationException(
        s"UPDATE cannot assign identity column(s) ${idHit.mkString(", ")}")

    // row-tracked tables: the rewritten images carry each row's stable id
    // in the materialized id column; the commit version intentionally
    // stays unmaterialized — the updated row's row_commit_version falls
    // back to the new file's defaultRowCommitVersion, i.e. THIS commit,
    // per protocol
    val ids = RowTracking.rewriteColumns(snap)
    // live rows only: resurrecting already-deleted rows would be corruption
    val matched = snap.relationDF(extraDataCols = ids.map(c => RowTracking.idField(c.id)).toSeq)
      .where(condition)

    // new row images, in logical column order. Generated columns NOT
    // explicitly SET are recomputed from their expressions (an update to a
    // source column must not leave a stale derived value); explicitly-SET
    // generated columns and CHECK constraints are enforced by the same
    // write checks appends use — row-level DML must not be a constraint
    // bypass.
    val assigned = matched.select((snap.schema.fields.map { f =>
      assignments.get(f.name).map(_.as(f.name)).getOrElse(col(s"`${f.name}`"))
    } ++ ids.map(c => RowTracking.preservedIdCol(snap, c.id).as(c.id))).toIndexedSeq: _*)
    // second phase so generation expressions see POST-assignment values
    val newRows = DeltaWriter.fillMissing("delta.generationExpression", snap.schema,
      assigned, refill = !assignments.contains(_))
    val cols = snap.schema.fieldNames.map(c => col(s"`$c`")).toIndexedSeq
    DeltaDelete.rewrite(spark, log, snap, "UPDATE",
      hits = Some(matched.select(
        col("_metadata.file_path").as("p"), col("_metadata.row_index").as("i"))),
      rows = Some(newRows), ids = ids,
      // CDF: pre-assignment matches + their new images, one cdc stage
      changes = Cdc.typed(matched.select(cols: _*), "update_preimage")
        .unionByName(Cdc.typed(newRows.select(cols: _*), "update_postimage")),
      params = Map("predicate" -> condition.toString),
      metrics = (n, _) => Map("numUpdatedRows" -> n.toString),
      // row-tracked: any concurrent commit may have assigned ids from
      // the same high-water mark — conflict instead of rebasing
      scope =
        if (RowTracking.enabled(snap)) ConflictChecker.ReadScope.WholeTable
        else ConflictChecker.ReadScope.Predicate(ConflictChecker.resolve(snap, condition)))
  }
}
