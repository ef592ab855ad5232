package graft.delta

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, DataType}
import org.apache.spark.unsafe.types.UTF8String

import graft.delta.DvCodec.Bitmap64

/**
 * Deletion-vector registry for reads — the input of the Spark equivalent
 * of the reference's in-scan `DeltaDeleteFilter`
 * (src/functions/delta_scan/delta_multi_file_reader.cpp:24-48), which
 * [[GraftParquetFileFormat]] applies inside the reader.
 *
 * Scale design: no join, no shuffle — the registry ships once per
 * executor via a Broadcast and each row does an O(1) bitmap probe. This
 * preserves the scan's partitioning exactly like the reference's
 * selection-vector approach preserves DuckDB's pipelines.
 */
object DeletionVectors {

  /** Per-file DV registry, keyed by every path rendering a scan may
    * produce. EVERY file is registered (DV-less files map to null) so
    * probes can FAIL CLOSED: a scanned path that matches no registered
    * rendering is an error, never a silent "not deleted" that would
    * resurrect rows whose path merely percent-encodes differently.
    *
    * The registry carries DESCRIPTORS, not bitmaps: the driver reads no
    * DV bytes at all. Each executor reads + memoizes only the bitmaps of
    * files it actually scans ([[DvSlot.bitmap]]) — on a 100 TB table with
    * pervasive DVs the driver would otherwise serially fetch 10⁵ bitmap
    * files before the first task could run. */
  def registry(snapshot: Snapshot): Map[String, DvHandle] = {
    val tablePath = snapshot.log.tablePath.toString
    val conf = new SerializableHadoopConf(
      snapshot.log.spark.sessionState.newHadoopConf())
    // (path, descriptor) pairs only: on a LazySnapshot this collects a
    // distributed PROJECTION of the checkpoint-backed file list — never
    // the stats-bearing AddFiles (the registry is inherently O(#files),
    // but descriptor pairs are ~10× smaller than full file entries and
    // the driver-side list materialization is avoided entirely)
    snapshot.dvRegistryPairs.flatMap { case (decodedPath, dv) =>
      val slot = dv.map(d => new DvSlot(d, tablePath, conf)).orNull
      val p = Snapshot.absolutePathOf(tablePath, decodedPath)
      Seq(p.toString -> slot, p.toUri.getPath -> slot, p.toUri.toString -> slot)
    }.toMap
  }
}

/** Hadoop Configuration with Java serialization (the stock class is not
  * serializable; broadcasts of DV slots need it on executors). */
final class SerializableHadoopConf(@transient var value: org.apache.hadoop.conf.Configuration)
  extends Serializable {
  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    value.write(out)
  }
  private def readObject(in: java.io.ObjectInputStream): Unit = {
    in.defaultReadObject()
    value = new org.apache.hadoop.conf.Configuration(false)
    value.readFields(in)
  }
}

/** A probe-able deletion bitmap in a broadcast registry. */
sealed abstract class DvHandle extends Serializable {
  def bitmap: Bitmap64
}

/** An already-resolved bitmap (CDF diff probes build these directly). */
final class ResolvedDv(bm: Bitmap64) extends DvHandle {
  override def bitmap: Bitmap64 = bm
}

/** Broadcast handle for one file's deletion vector: only the DESCRIPTOR
  * crosses the wire; the bitmap is read and memoized on first probe.
  * Broadcast values are shared per executor JVM, so each executor reads
  * each scanned file's bitmap at most once; inline ("i") DVs decode
  * locally with no IO. */
final class DvSlot(
    val descriptor: DeletionVectorDescriptor,
    tablePath: String,
    conf: SerializableHadoopConf) extends DvHandle {
  @transient @volatile private var cached: Bitmap64 = _
  override def bitmap: Bitmap64 = {
    var b = cached
    if (b == null) synchronized {
      b = cached
      if (b == null) {
        val p = new org.apache.hadoop.fs.Path(tablePath)
        b = DeletionVectorStore.read(p,
          if (descriptor.storageType == "i") null else p.getFileSystem(conf.value),
          descriptor)
        cached = b
      }
    }
    b
  }
}

/** Per-task memoized (file → bitmap) resolver: rows arrive clustered by
  * file, so the common case is a byte-equality check on the previous path
  * — no per-row String allocation or map lookup. */
class DvLookupCache extends Serializable {
  private var lastPath: UTF8String = _
  private var lastBitmap: Bitmap64 = _
  private var map: Map[String, DvHandle] = _
  def deleted(bc: Broadcast[Map[String, DvHandle]], path: UTF8String, idx: Long): Boolean = {
    if (lastPath == null || !lastPath.equals(path)) {
      if (map == null) map = bc.value
      lastPath = path.clone()
      lastBitmap = map.get(path.toString) match {
        case Some(slot) => if (slot == null) null else slot.bitmap
        case None => throw new IllegalStateException(
          s"scanned file not in the snapshot's DV registry (path rendering mismatch?): $path")
      }
    }
    lastBitmap != null && lastBitmap.contains(idx)
  }
}

/** (file_path, row_index) ∈ deletion vectors? O(1) broadcast bitmap probe,
  * with real codegen so the scan's WholeStageCodegen span stays intact. */
case class DvRowDeleted(
    left: Expression,
    right: Expression,
    dvs: Broadcast[Map[String, DvHandle]])
  extends BinaryExpression {
  override def dataType: DataType = BooleanType

  @transient private lazy val interpretedCache = new DvLookupCache

  override def nullSafeEval(path: Any, idx: Any): Any =
    interpretedCache.deleted(dvs, path.asInstanceOf[UTF8String], idx.asInstanceOf[Long])

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val bcRef = ctx.addReferenceObj("dvsBc", dvs, "org.apache.spark.broadcast.Broadcast")
    val cache = ctx.addMutableState("graft.delta.DvLookupCache", "dvCache",
      v => s"$v = new graft.delta.DvLookupCache();")
    nullSafeCodeGen(ctx, ev, (p, i) =>
      s"${ev.value} = $cache.deleted($bcRef, $p, $i);")
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): DvRowDeleted =
    copy(left = l, right = r)
  override def prettyName: String = "dv_row_deleted"
}

/** Mutable 64-bit roaring bitmap builder — the per-file aggregation buffer
  * for executor-side DV construction. */
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

/** Typed aggregator building one serialized (portable-format) bitmap per
  * file ON THE EXECUTORS: rows never leave their partitions un-compressed
  * and the driver receives only one small byte array per affected file —
  * a DELETE touching 10⁹ rows ships bitmaps, not 10⁹ longs. */
object DvBitmapAgg
    extends org.apache.spark.sql.expressions.Aggregator[(String, Long), DvBitmapBuffer, Array[Byte]] {
  import org.apache.spark.sql.{Encoder, Encoders}
  override def zero: DvBitmapBuffer = new DvBitmapBuffer
  override def reduce(b: DvBitmapBuffer, v: (String, Long)): DvBitmapBuffer = { b.add(v._2); b }
  override def merge(a: DvBitmapBuffer, b: DvBitmapBuffer): DvBitmapBuffer = a.mergeIn(b)
  override def finish(b: DvBitmapBuffer): Array[Byte] = DvCodec.serialize(b.toBitmap)
  override def bufferEncoder: Encoder[DvBitmapBuffer] = Encoders.javaSerialization[DvBitmapBuffer]
  override def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
}

/** One affected file's aggregated bitmap joined to its snapshot entry —
  * the input row of the executor-side DV build. `f` is None for a hit in a
  * file the snapshot doesn't know (fail loudly, never drop). */
private[delta] final case class DvBuildInput(
    p: String,
    dv: Array[Byte],
    f: Option[AddFile])

/** What the driver gets back per affected file: the file's snapshot entry
  * plus a DESCRIPTOR (or a fully-deleted marker), never a bitmap. Results
  * are O(#affected files) — the action assembly needs no table-wide
  * lookup. */
private[delta] final case class DvBuildResult(
    f: AddFile,
    fullyDeleted: Boolean,
    newlyDeleted: Long,
    dvFile: Option[String],
    storageType: Option[String],
    pathOrInlineDv: Option[String],
    offset: Option[Int],
    sizeInBytes: Option[Int],
    cardinality: Option[Long])

/**
 * DELETE via deletion vectors — beyond the reference's own surface (it
 * rejects DELETE, src/storage/delta_catalog.cpp:102-117) but required for
 * producing and round-tripping DV tables, and a first-class operator for
 * pipeline curation at scale.
 */
object DeltaDelete {

  /** Build the remove+re-add-with-DV actions for the physical rows in
    * `hitRows` (columns p = file path, i = row index). Shared by DELETE
    * and UPDATE. Returns (actions, newly-deleted row count). DV files
    * written along the way are appended to `moved` (when given) so a
    * failed commit can reclaim them.
    *
    * Scale shape: one shuffle keyed by file path; bitmaps are built,
    * MERGED with any existing DV, and WRITTEN as multi-DV files entirely
    * on executors — the driver receives only small descriptor rows, never
    * a bitmap. A DELETE/MERGE touching 10⁵–10⁶ files at 100 TB therefore
    * writes its DVs with full cluster parallelism instead of funneling
    * every bitmap through one process (delta-spark's shape). */
  private[delta] def dvActions(log: DeltaLog, snap: Snapshot,
      hitRows: org.apache.spark.sql.DataFrame,
      moved: scala.collection.mutable.ArrayBuffer[org.apache.hadoop.fs.Path] = null)
      : (Seq[Action], Long) = {
    import org.apache.spark.sql.Encoders
    val spark = log.spark
    val tupEnc = Encoders.tuple(Encoders.STRING, Encoders.scalaLong)
    // canonical path rendering = DECODED URI path: `_metadata.file_path`
    // is a url-encoded URI string ("file:/…/file%20b.parquet" for a file
    // named with a space — foreign writers URL-encode log paths), while
    // the snapshot facts below key by the DECODED path. java.net.URI
    // decodes the escapes; Hadoop's Path would keep "%20" as literal
    // characters and a DELETE hitting such a file would fail the
    // unknown-file guard. Fall back to Path for a non-URI string.
    val hitsDf = hitRows
      .select(col("p"), col("i"))
      .as[(String, Long)](tupEnc)
      .map { pi: (String, Long) =>
        val decoded =
          try new java.net.URI(pi._1).getPath
          catch { case _: java.net.URISyntaxException =>
            new org.apache.hadoop.fs.Path(pi._1).toUri.getPath }
        (decoded, pi._2) }(tupEnc)
      .groupByKey(_._1)(Encoders.STRING)
      .agg(DvBitmapAgg.toColumn.name("dv"))
      .toDF("p", "dv")

    // Per-file facts, DISTRIBUTED: derived from the Dataset-backed file
    // list (LazySnapshot streams its checkpoint parquet; eager snapshots
    // wrap their in-memory list) and joined to the hits as a real join —
    // the driver never re-renders the whole table's file facts into a
    // local relation. On a 10⁶-file LazySnapshot table a single-row DELETE
    // previously cost an O(#table-files) driver materialization here.
    val tablePathStr = log.tablePath.toString
    val factEnc = Encoders.tuple(Encoders.STRING, Encoders.product[AddFile])
    val factsDf = snap.filesDataset.map { f =>
      (Snapshot.absolutePathOf(tablePathStr, f.decodedPath).toUri.getPath, f)
    }(factEnc).toDF("k", "f")

    val inputEnc = Encoders.product[DvBuildInput]
    // right outer from facts preserves every hit: one with no fact row
    // (f null) is a hit in a file the snapshot doesn't know — loud failure
    // downstream, never a silently skipped delete. Spark cannot broadcast
    // the preserved side of an outer join, so at scale this is a shuffled
    // join — facts O(#table-files) but fully distributed (same order as
    // any metadata pass; AQE may still broadcast facts when small).
    val inputDs = factsDf.join(hitsDf, factsDf("k") === hitsDf("p"), "right")
      .select(hitsDf("p"), col("dv"), col("f"))
      .as[DvBuildInput](inputEnc)

    val conf = new SerializableHadoopConf(spark.sessionState.newHadoopConf())
    val results: Array[DvBuildResult] = inputDs.mapPartitions { it =>
      val tp = new org.apache.hadoop.fs.Path(tablePathStr)
      lazy val fs = tp.getFileSystem(conf.value)
      val out = scala.collection.mutable.ArrayBuffer.empty[DvBuildResult]
      // one multi-DV file per partition (rotated at ~16 MB so no single
      // file grows unbounded under a very broad delete). A FAILED or
      // speculative task attempt may leave its multi-DV file orphaned in
      // the table root (it was never collected, so neither the commit nor
      // `moved` knows it): orphans are unreferenced by every snapshot and
      // are reclaimed by VACUUM once past retention — bounded garbage,
      // same contract as an orphaned parquet from a failed write task.
      val pend = scala.collection.mutable.ArrayBuffer.empty[(AddFile, Array[Byte], Long, Long)]
      var pendBytes = 0L
      def flush(): Unit = if (pend.nonEmpty) {
        val (file, descs) = DeletionVectorStore.writeMany(tp, fs,
          pend.map(_._2).toSeq, pend.map(_._3).toSeq)
        pend.indices.foreach { i =>
          val d = descs(i)
          out += DvBuildResult(pend(i)._1, fullyDeleted = false, pend(i)._4,
            Some(file.toString), Some(d.storageType), Some(d.pathOrInlineDv),
            d.offset, Some(d.sizeInBytes), Some(d.cardinality))
        }
        pend.clear(); pendBytes = 0L
      }
      it.foreach { in =>
        val af = in.f.getOrElse(throw new IllegalStateException(
          s"hit in unknown file ${in.p}"))
        val fresh = DvCodec.deserialize(in.dv)
        val existing = af.deletionVector.map(DeletionVectorStore.read(tp, fs, _))
        val merged = existing match {
          case Some(e) => Bitmap64.or(e, fresh)
          case None => fresh
        }
        val newly = merged.cardinality - existing.map(_.cardinality).getOrElse(0L)
        if (af.parsedStats.flatMap(_.numRecords).contains(merged.cardinality)) {
          // fully deleted → plain remove, no DV to write
          out += DvBuildResult(af, fullyDeleted = true, newly,
            None, None, None, None, None, None)
        } else {
          val bytes = DvCodec.serialize(merged)
          pend += ((af, bytes, merged.cardinality, newly))
          pendBytes += bytes.length
          if (pendBytes >= 16L * 1024 * 1024) flush()
        }
      }
      flush()
      out.iterator
    }(Encoders.product[DvBuildResult]).collect()
    if (results.isEmpty) return (Nil, 0L)

    if (moved != null)
      results.flatMap(_.dvFile).distinct
        .foreach(f => moved += new org.apache.hadoop.fs.Path(f))
    var deletedRows = 0L
    val actions = scala.collection.mutable.ArrayBuffer.empty[Action]
    val now = System.currentTimeMillis()
    results.foreach { r =>
      val f = r.f
      deletedRows += r.newlyDeleted
      actions += Action(RemoveFile(f.path, Some(now),
        dataChange = true, f.deletionVector))
      if (!r.fullyDeleted) {
        // file still has live rows → re-add with the merged DV. dataChange
        // is set explicitly: `f` may be replayed from an OPTIMIZE commit
        // (dataChange=false), but THIS commit deletes rows — copying the
        // stale flag would hide the change from CDF/streaming consumers
        val desc = DeletionVectorDescriptor(r.storageType.get,
          r.pathOrInlineDv.get, r.offset, r.sizeInBytes.get, r.cardinality.get)
        actions += Action(f.copy(deletionVector = Some(desc), dataChange = true,
          stats = wideBoundsStats(f.stats)))
      }
    }
    (actions.toSeq, deletedRows)
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
   * Soft-delete rows matching `condition`: per affected file, write a new
   * DV (union with any existing one), commit remove+add. Files whose rows
   * are all deleted are removed outright.
   *
   * @return number of rows deleted
   */
  def delete(spark: SparkSession, log: DeltaLog, condition: Column): Long = {
    val snap = log.update()
    ProtocolGate.validateWrite(snap, "DELETE")
    // deleted rows kept: already-deleted matches union away
    val hitRows = snap.relationDF(dropDeleted = false).where(condition)
      .select(col("_metadata.file_path").as("p"), col("_metadata.row_index").as("i"))
    ConflictChecker.staging(log) { staged =>
      // CDF: the newly deleted rows are the LIVE matches (already-deleted
      // rows union into the bitmap as no-ops and must not re-emit)
      val cdcLines =
        if (!Cdc.enabled(snap)) Nil
        else Cdc.writeChangeData(spark, log, snap,
          Cdc.typed(snap.relationDF().where(condition), "delete"),
          snap.metadata.partitionColumns, staged)
      val (actions, deletedRows) = dvActions(log, snap, hitRows, staged)
      // optimistic concurrency: rebase over logically-disjoint winners
      // (see ConflictChecker) — conflicts remain loud errors
      if (actions.nonEmpty)
        ConflictChecker.commit(log, Some(snap), "DELETE",
          protocolUpgradeActions(snap) ++ actions,
          params = Map("predicate" -> condition.toString),
          metrics = Map(
            "numDeletedRows" -> deletedRows.toString,
            "numDeletionVectorsAdded" ->
              actions.count(_.add.exists(_.deletionVector.isDefined)).toString),
          cdc = cdcLines, staged = staged,
          scope = ConflictChecker.ReadScope.Predicate(
            ConflictChecker.resolve(snap, condition)))
      deletedRows
    }
  }
}

/**
 * MERGE-style upsert: source rows replace key-matched live target rows
 * (soft-deleted via DV) and unmatched source rows are inserted — one
 * commit. The scale shape is one equi-join of the target scan against the
 * source keyed on the merge keys (broadcast when the source is small),
 * plus one write of |source| rows.
 */
object DeltaMerge {

  /** @return (rowsUpdated, rowsInserted) */
  def upsert(spark: SparkSession, log: DeltaLog, source: DataFrame,
      keyCols: Seq[String], insertNotMatched: Boolean = true,
      txnAppId: Option[String] = None,
      txnVersion: Option[Long] = None): (Long, Long) = {
    val snap = log.update()
    ProtocolGate.validateWrite(snap, "MERGE")
    require(keyCols.nonEmpty, "merge keys required")
    // idempotent merge (streaming foreachBatch replay): a batch already
    // recorded for this appId dedupes to a no-op before any work
    for (app <- txnAppId; v <- txnVersion; cur <- snap.setTransactions.get(app)
         if cur >= v) {
      return (0L, 0L)
    }
    val schemaCols = snap.schema.fieldNames.toSeq
    // a source may omit generated columns (the engine computes them);
    // everything else must match. withWriteChecks is applied AFTER the
    // update-only semi filter so only rows that will actually be written
    // are validated — MERGE is a write path, not a constraint bypass, but
    // a never-written source row must not abort it either.
    val genFilled = DeltaWriter.fillGenerated(Some(snap), source)
    require(genFilled.columns.map(_.toLowerCase).toSet == schemaCols.map(_.toLowerCase).toSet,
      s"source schema must match table: ${schemaCols.sorted}")
    val aligned0 = genFilled.select(schemaCols.map(c => col(s"`$c`")): _*)

    val live = snap.relationDF()
    // update-only MERGE (no WHEN NOT MATCHED clause): write only source
    // rows whose key exists in the target — a semi join, not a collect
    val alignedKeyed =
      if (insertNotMatched) aligned0
      else {
        val tkeys = live.select(keyCols.map(c => col(s"`$c`")): _*).distinct()
        aligned0.join(tkeys,
          keyCols.map(c => aligned0(s"`$c`") === tkeys(s"`$c`")).reduce(_ && _),
          "left_semi")
      }
    val aligned = DeltaWriter.withWriteChecks(alignedKeyed, snap.schema,
      snap.metadata.configuration, log.tablePath.toString)

    // MERGE precondition (the SQL-standard ambiguity guards): each key
    // matches at most one target row and appears at most once in the
    // source — otherwise "replace matched rows with the source row" would
    // silently shrink or duplicate the table. Two bounded aggregates
    // (first offending key only), refused BEFORE any file is written.
    val keys = aligned.select(keyCols.map(c => col(s"`$c`")): _*).distinct()
    def firstDupKey(d: DataFrame, what: String): Unit = {
      val dup = d.groupBy(keyCols.map(c => col(s"`$c`")): _*)
        .agg(count(lit(1)).as("n")).where(col("n") > 1).limit(1).collect()
      if (dup.nonEmpty)
        throw new IllegalStateException(
          s"MERGE refused: $what has ${dup(0).getLong(keyCols.length)} rows " +
            s"for key ${keyCols.zipWithIndex.map { case (c, i) => s"$c=${dup(0).get(i)}" }.mkString(", ")}")
    }
    firstDupKey(aligned0, "source")
    firstDupKey(live.join(keys,
      keyCols.map(c => live(s"`$c`") === keys(s"`$c`")).reduce(_ && _),
      "left_semi").select(keyCols.map(c => col(s"`$c`")): _*), "target")

    // target physical rows whose key appears in the source → soft-delete
    val hitRows = live
      .join(keys, keyCols.map(c => live(s"`$c`") === keys(s"`$c`")).reduce(_ && _),
        "left_semi")
      .select(col("_metadata.file_path").as("p"), col("_metadata.row_index").as("i"))

    ConflictChecker.staging(log) { staged =>
      val (stage, stageSchema, stagePartCols, stageOpts) =
        DeltaWriter.toPhysical(spark, snap, aligned, snap.metadata.partitionColumns)
      val adds = DeltaWriter.writeFiles(spark, log, stage, stageSchema,
        stagePartCols, staged, stageOpts, configuration = snap.metadata.configuration)
      // CDF: replaced target rows (preimage), their source replacements
      // (postimage), and non-matching source rows (insert) — one stage
      val cdcLines =
        if (!Cdc.enabled(snap)) Nil
        else {
          val cols = snap.schema.fieldNames.map(c => col(s"`$c`")).toIndexedSeq
          val tkeys = live.select(keyCols.map(c => col(s"`$c`")): _*).distinct()
          def srcJoin(tpe: String): DataFrame = Cdc.typed(
            aligned.join(tkeys,
              keyCols.map(c => aligned(s"`$c`") === tkeys(s"`$c`")).reduce(_ && _),
              tpe), if (tpe == "left_semi") "update_postimage" else "insert")
          val pre = Cdc.typed(live.join(keys,
              keyCols.map(c => live(s"`$c`") === keys(s"`$c`")).reduce(_ && _),
              "left_semi").select(cols: _*), "update_preimage")
          Cdc.writeChangeData(spark, log, snap,
            pre.unionByName(srcJoin("left_semi")).unionByName(srcJoin("left_anti")),
            snap.metadata.partitionColumns, staged)
        }
      val (dvActs, replacedRows) = DeltaDelete.dvActions(log, snap, hitRows, staged)
      // source row count from the write's own per-file stats — recomputing
      // the source (a second full pass) doubled MERGE's source cost
      val perFile = adds.map(_.parsedStats.flatMap(_.numRecords))
      val sourceRows =
        if (perFile.forall(_.isDefined)) perFile.flatten.sum
        else aligned.count()
      val txnActs = for (app <- txnAppId.toSeq; v <- txnVersion.toSeq)
        yield Action(SetTransaction(app, v, Some(System.currentTimeMillis())))
      // MERGE reads the whole target key set: any concurrent data change
      // conflicts; disjoint winners (txn markers, compactions) rebase
      ConflictChecker.commit(log, Some(snap), "MERGE",
        (if (dvActs.nonEmpty) DeltaDelete.protocolUpgradeActions(snap) else Nil) ++
          txnActs ++ dvActs,
        params = Map("keys" -> keyCols.mkString(",")),
        adds = adds, cdc = cdcLines, staged = staged)
      (replacedRows, sourceRows - replacedRows)
    }
  }

  /** One WHEN MATCHED clause for [[mergeClauses]]: optional condition and
    * UPDATE assignments are Columns over the merge join's PREFIXED columns
    * (`__t_<col>` = target side, `__s_<col>` = source side — the SQL
    * rewrite tags each attribute's side, so `t.x`/`s.x` stay unambiguous
    * even though both relations share names). Empty assignments on an
    * UPDATE clause mean SET * (every column from the source row). The
    * FIRST clause whose condition holds wins per row, SQL order. */
  case class MergeClause(cond: Option[Column], isDelete: Boolean,
      assignments: Seq[(String, Column)])

  /**
   * General MERGE with clause conditions and expression assignments — the
   * CDC-apply surface (`WHEN MATCHED AND s.op='D' THEN DELETE` +
   * `WHEN MATCHED THEN UPDATE SET *` + conditional INSERT) the plain
   * [[upsert]] cannot express. Beyond the reference (its catalog rejects
   * all DML, src/storage/delta_catalog.cpp:102-117).
   *
   * Scale shape: target and source meet in ONE inner equi-join on the
   * merge keys with both sides' columns prefixed (`__t_`/`__s_`); clause
   * selection is a codegen'd when-chain over that join; unmatched inserts
   * are one anti join. Unassigned columns of a partial UPDATE keep the
   * TARGET value (SQL semantics — a partial SET is never widened to
   * SET *), and generated columns not explicitly assigned are recomputed
   * from the final row. Driver traffic stays bounded: one clause-count
   * aggregate, the DV file list, per-file add stats.
   *
   * @param notMatched None = no INSERT clause; Some((cond, assignments)) —
   *   empty assignments = INSERT * (condition may reference SOURCE only).
   * @param bySource WHEN NOT MATCHED BY SOURCE clauses — applied to TARGET
   *   rows whose merge key has no source match (one anti join on the key
   *   set); conditions/assignments may reference TARGET columns only.
   * @return (rowsUpdated, rowsDeleted, rowsInserted)
   */
  def mergeClauses(spark: SparkSession, log: DeltaLog, source: DataFrame,
      keyCols: Seq[String], matched: Seq[MergeClause],
      notMatched: Option[(Option[Column], Seq[(String, Column)])],
      bySource: Seq[MergeClause] = Nil): (Long, Long, Long) = {
    val snap = log.update()
    ProtocolGate.validateWrite(snap, "MERGE")
    require(keyCols.nonEmpty, "merge keys required")
    require(matched.nonEmpty || notMatched.isDefined || bySource.nonEmpty,
      "MERGE needs at least one clause")
    val schemaCols = snap.schema.fieldNames.toSeq

    // SET * / INSERT * write whole source rows — only then must the source
    // carry every table column (a conditional-DELETE tombstone list may be
    // keys + flags only)
    val needAllSourceCols =
      matched.exists(cl => !cl.isDelete && cl.assignments.isEmpty) ||
      notMatched.exists(_._2.isEmpty)
    val genFilled =
      if (needAllSourceCols) DeltaWriter.fillGenerated(Some(snap), source) else source
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
    // only clause conditions see)
    val sPref = genFilled.select(
      genFilled.columns.toIndexedSeq.map(c => col(s"`$c`").as(s"__s_$c")): _*)
    // row-tracked tables: updated images keep their stable id via the
    // materialized id column; inserted rows get fresh ids from the new
    // file's baseRowId (their materialized slot stays null)
    val rtEnabled = RowTracking.enabled(snap)
    val (mdAction, matNames) =
      if (!rtEnabled) (None, None)
      else {
        val (md, names, minted) = RowTracking.ensureMaterializedNames(snap.metadata)
        (if (minted) Some(md) else None, Some(names))
      }
    val extraCols = matNames.toSeq.map { case (mid, _) =>
      org.apache.spark.sql.types.StructField(mid,
        org.apache.spark.sql.types.LongType, nullable = true) }
    val live = snap.relationDF(extraDataCols = extraCols)
    val tPref = live.select((schemaCols.map(c => col(s"`$c`").as(s"__t_$c")) ++ Seq(
      col("_metadata.file_path").as("__file"),
      col("_metadata.row_index").as("__row")) ++
      matNames.toSeq.map { case (mid, _) =>
        RowTracking.preservedIdCol(snap, mid).as("__rowid") }).toIndexedSeq: _*)
    val joinCond = keyCols.map(c => col(s"`__t_$c`") === col(s"`__s_$c`")).reduce(_ && _)
    val joined = tPref.join(sPref, joinCond, "inner")

    // MERGE cardinality guards (same contract as upsert): refuse BEFORE
    // any file is written, first offending key only
    def firstDup(d: DataFrame, cols: Seq[String], what: String): Unit = {
      val dup = d.groupBy(cols.map(c => col(s"`$c`")): _*)
        .agg(count(lit(1)).as("n")).where(col("n") > 1).limit(1).collect()
      if (dup.nonEmpty)
        throw new IllegalStateException(
          s"MERGE refused: $what has ${dup(0).getLong(cols.length)} rows for key " +
            cols.zipWithIndex.map { case (c, i) => s"$c=${dup(0).get(i)}" }.mkString(", "))
    }
    firstDup(sPref, keyCols.map(c => s"__s_$c"), "source")
    firstDup(joined, keyCols.map(c => s"__t_$c"), "matched target")

    // first matching clause per row (SQL order; null = no clause applies,
    // the target row stays and the source row is not written)
    val actionCol = matched.zipWithIndex.foldRight(lit(null).cast("int")) {
      case ((cl, i), rest) => cl.cond match {
        case Some(c) => when(coalesce(c, lit(false)), lit(i)).otherwise(rest)
        case None => lit(i) // unconditional: later clauses unreachable
      }
    }
    val acted = joined.withColumn("__action", actionCol)

    val actionCounts: Map[Int, Long] = acted.groupBy(col("__action"))
      .agg(count(lit(1)).as("n")).collect()
      .collect { case r if !r.isNullAt(0) => r.getInt(0) -> r.getLong(1) }.toMap

    // WHEN NOT MATCHED BY SOURCE: target rows whose key set has no source
    // match (one anti join); clause chain sees only __t_ columns. Each
    // target row appears at most once here, so no cardinality guard.
    val bsActed: Option[DataFrame] =
      if (bySource.isEmpty) None
      else {
        val tUnmatched = tPref.join(
          sPref.select(keyCols.map(c => col(s"`__s_$c`")): _*).distinct(),
          joinCond, "left_anti")
        val bsActionCol = bySource.zipWithIndex.foldRight(lit(null).cast("int")) {
          case ((cl, i), rest) => cl.cond match {
            case Some(c) => when(coalesce(c, lit(false)), lit(i)).otherwise(rest)
            case None => lit(i)
          }
        }
        Some(tUnmatched.withColumn("__action", bsActionCol))
      }
    val bsCounts: Map[Int, Long] = bsActed match {
      case None => Map.empty
      case Some(d) => d.groupBy(col("__action")).agg(count(lit(1)).as("n")).collect()
        .collect { case r if !r.isNullAt(0) => r.getInt(0) -> r.getLong(1) }.toMap
    }

    val updatedRows = matched.zipWithIndex.collect {
      case (cl, i) if !cl.isDelete => actionCounts.getOrElse(i, 0L) }.sum +
      bySource.zipWithIndex.collect {
        case (cl, i) if !cl.isDelete => bsCounts.getOrElse(i, 0L) }.sum
    val deletedRows = matched.zipWithIndex.collect {
      case (cl, i) if cl.isDelete => actionCounts.getOrElse(i, 0L) }.sum +
      bySource.zipWithIndex.collect {
        case (cl, i) if cl.isDelete => bsCounts.getOrElse(i, 0L) }.sum

    /** Final-row projection under LOGICAL names: assigned columns take the
      * clause expression, unassigned keep the target value (updates) —
      * empty assignments = whole source row. Generated columns not
      * explicitly assigned recompute from the final values. */
    def projectRow(d: DataFrame, asg: Seq[(String, Column)], fromTarget: Boolean,
        withId: Boolean = false): DataFrame = {
      val idCol =
        if (!withId) Nil
        else matNames.toSeq.map { case (mid, _) =>
          if (fromTarget) col("__rowid").as(mid)
          else lit(null).cast("long").as(mid) // insert: fresh id from baseRowId
        }
      val base = d.select((schemaCols.map { c =>
        asg.find(_._1.equalsIgnoreCase(c)) match {
          case Some((_, v)) => v.as(c)
          case None if asg.isEmpty => col(s"`__s_$c`").as(c)
          case None if fromTarget => col(s"`__t_$c`").as(c)
          case None => throw new IllegalArgumentException(
            s"INSERT assignments must cover every column; missing $c")
        }
      } ++ idCol).toIndexedSeq: _*)
      snap.schema.fields.foldLeft(base) { (b, f) =>
        if (f.metadata.contains("delta.generationExpression") &&
            !asg.exists(_._1.equalsIgnoreCase(f.name)))
          b.withColumn(f.name,
            expr(f.metadata.getString("delta.generationExpression")).cast(f.dataType))
        else b
      }
    }
    val updateWrites = matched.zipWithIndex.collect { case (cl, i) if !cl.isDelete =>
      projectRow(acted.where(col("__action") === i), cl.assignments,
        fromTarget = true, withId = rtEnabled)
    } ++ bsActed.toSeq.flatMap { d =>
      bySource.zipWithIndex.collect { case (cl, i) if !cl.isDelete =>
        projectRow(d.where(col("__action") === i), cl.assignments,
          fromTarget = true, withId = rtEnabled)
      }
    }
    val unmatched = sPref.join(
      tPref.select(keyCols.map(c => col(s"`__t_$c`")): _*).distinct(),
      joinCond, "left_anti")
    val insertWrites = notMatched.toSeq.map { case (condOpt, asg) =>
      val base = condOpt.map(c => unmatched.where(coalesce(c, lit(false))))
        .getOrElse(unmatched)
      projectRow(base, asg, fromTarget = false, withId = rtEnabled)
    }
    val toWrite = (updateWrites ++ insertWrites).reduceOption(_ unionByName _)
      .map(w => DeltaWriter.withWriteChecks(w, snap.schema,
        snap.metadata.configuration, log.tablePath.toString))

    val hitRows = (acted.where(col("__action").isNotNull)
      .select(col("__file").as("p"), col("__row").as("i")) +:
      bsActed.toSeq.map(_.where(col("__action").isNotNull)
        .select(col("__file").as("p"), col("__row").as("i"))))
      .reduce(_ union _)

    ConflictChecker.staging(log) { staged =>
      val adds = toWrite match {
        case Some(w) =>
          val (stage, stageSchema, stagePartCols, stageOpts) =
            DeltaWriter.toPhysical(spark, snap, w,
              snap.metadata.partitionColumns, extraCols)
          DeltaWriter.writeFiles(spark, log, stage, stageSchema,
            stagePartCols, staged, stageOpts, configuration = snap.metadata.configuration)
        case None => Nil
      }
      val cdcLines =
        if (!Cdc.enabled(snap)) Nil
        else {
          val parts = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
          matched.zipWithIndex.foreach { case (cl, i) =>
            val rows = acted.where(col("__action") === i)
            val tgtVals = rows.select(schemaCols.map(c => col(s"`__t_$c`").as(c)): _*)
            if (cl.isDelete) parts += Cdc.typed(tgtVals, "delete")
            else {
              parts += Cdc.typed(tgtVals, "update_preimage")
              parts += Cdc.typed(
                projectRow(rows, cl.assignments, fromTarget = true), "update_postimage")
            }
          }
          bsActed.foreach { d =>
            bySource.zipWithIndex.foreach { case (cl, i) =>
              val rows = d.where(col("__action") === i)
              val tgtVals = rows.select(schemaCols.map(c => col(s"`__t_$c`").as(c)): _*)
              if (cl.isDelete) parts += Cdc.typed(tgtVals, "delete")
              else {
                parts += Cdc.typed(tgtVals, "update_preimage")
                parts += Cdc.typed(
                  projectRow(rows, cl.assignments, fromTarget = true), "update_postimage")
              }
            }
          }
          insertWrites.foreach { w =>
            // CDF frames carry LOGICAL schema columns only: drop the
            // materialized row-id column the row-tracked WRITE path adds
            // (withId above) — update/delete frames don't have it, so the
            // strict unionByName below would throw, and an insert-only
            // MERGE would pollute _change_data with the id column
            val clean = matNames.toSeq.foldLeft(w) { case (d, (mid, _)) => d.drop(mid) }
            parts += Cdc.typed(clean, "insert")
          }
          if (parts.isEmpty) Nil
          else Cdc.writeChangeData(spark, log, snap,
            parts.reduce(_ unionByName _), snap.metadata.partitionColumns, staged)
        }
      val (dvActs, _) = DeltaDelete.dvActions(log, snap, hitRows, staged)
      if (dvActs.isEmpty && adds.isEmpty) (0L, 0L, 0L)
      else {
        val perFile = adds.map(_.parsedStats.flatMap(_.numRecords))
        val writtenRows =
          if (perFile.forall(_.isDefined)) perFile.flatten.sum
          else toWrite.map(_.count()).getOrElse(0L)
        val insertedRows = writtenRows - updatedRows
        ConflictChecker.commit(log, Some(snap), "MERGE",
          mdAction.map(Action(_)).toSeq ++
            (if (dvActs.nonEmpty) DeltaDelete.protocolUpgradeActions(snap) else Nil) ++
            dvActs,
          params = Map("keys" -> keyCols.mkString(","),
            "matchedClauses" -> matched.length.toString),
          metrics = Map(
            "numTargetRowsUpdated" -> updatedRows.toString,
            "numTargetRowsDeleted" -> deletedRows.toString,
            "numTargetRowsInserted" -> insertedRows.toString),
          adds = adds, cdc = cdcLines, staged = staged)
        (updatedRows, deletedRows, insertedRows)
      }
    }
  }

  /** MERGE ... WHEN MATCHED THEN DELETE: soft-delete target rows whose
    * key appears in `source` (the tombstone-list pattern — drop every
    * doc id a dedup pass condemned). One semi join keyed on the merge
    * keys → DV actions; nothing driver-side scales with row count.
    * @return rows deleted */
  def mergeDelete(spark: SparkSession, log: DeltaLog, source: DataFrame,
      keyCols: Seq[String]): Long = {
    val snap = log.update()
    ProtocolGate.validateWrite(snap, "MERGE")
    require(keyCols.nonEmpty, "merge keys required")
    val missing = keyCols.filterNot(k =>
      source.columns.exists(_.equalsIgnoreCase(k)))
    require(missing.isEmpty, s"source lacks merge key(s): ${missing.mkString(", ")}")

    val live = snap.relationDF()
    val keys = source.select(keyCols.map(c => col(s"`$c`")): _*).distinct()
    val matchedLive = live
      .join(keys, keyCols.map(c => live(s"`$c`") === keys(s"`$c`")).reduce(_ && _),
        "left_semi")
    val hitRows = matchedLive
      .select(col("_metadata.file_path").as("p"), col("_metadata.row_index").as("i"))
    ConflictChecker.staging(log) { staged =>
      val cdcLines =
        if (!Cdc.enabled(snap)) Nil
        else {
          val cols = snap.schema.fieldNames.map(c => col(s"`$c`")).toIndexedSeq
          Cdc.writeChangeData(spark, log, snap,
            Cdc.typed(matchedLive.select(cols: _*), "delete"),
            snap.metadata.partitionColumns, staged)
        }
      val (dvActs, deletedRows) = DeltaDelete.dvActions(log, snap, hitRows, staged)
      if (dvActs.nonEmpty)
        ConflictChecker.commit(log, Some(snap), "MERGE",
          DeltaDelete.protocolUpgradeActions(snap) ++ dvActs,
          params = Map("keys" -> keyCols.mkString(","), "matched" -> "delete"),
          cdc = cdcLines, staged = staged)
      deletedRows
    }
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
    // in the materialized id column (names minted on first rewrite); the
    // commit version intentionally stays unmaterialized — the updated
    // row's row_commit_version falls back to the new file's
    // defaultRowCommitVersion, i.e. THIS commit, per protocol
    val rtEnabled = RowTracking.enabled(snap)
    val (mdAction, matNames) =
      if (!rtEnabled) (None, None)
      else {
        val (md, names, minted) = RowTracking.ensureMaterializedNames(snap.metadata)
        (if (minted) Some(md) else None, Some(names))
      }
    val extraCols = matNames.toSeq.map { case (mid, _) =>
      org.apache.spark.sql.types.StructField(mid,
        org.apache.spark.sql.types.LongType, nullable = true) }

    // live rows only: resurrecting already-deleted rows would be corruption
    val live = snap.relationDF(extraDataCols = extraCols)
    val matched = live.where(condition)

    // new row images, in logical column order. Generated columns NOT
    // explicitly SET are recomputed from their expressions (an update to a
    // source column must not leave a stale derived value); explicitly-SET
    // generated columns and CHECK constraints are enforced below by the
    // same write pass appends use — row-level DML must not be a constraint
    // bypass.
    val assigned = matched.select((snap.schema.fields.map { f =>
      assignments.get(f.name).map(_.as(f.name)).getOrElse(col(s"`${f.name}`"))
    } ++ matNames.toSeq.map { case (mid, _) =>
      RowTracking.preservedIdCol(snap, mid).as(mid) }).toIndexedSeq: _*)
    // second phase so generation expressions see POST-assignment values
    val newRows0 = snap.schema.fields.foldLeft(assigned) { (d, f) =>
      if (f.metadata.contains("delta.generationExpression") &&
          !assignments.contains(f.name))
        d.withColumn(f.name, org.apache.spark.sql.functions.expr(
          f.metadata.getString("delta.generationExpression")).cast(f.dataType))
      else d
    }
    val newRows = DeltaWriter.withWriteChecks(newRows0, snap.schema,
      snap.metadata.configuration, log.tablePath.toString)

    ConflictChecker.staging(log) { staged =>
      val (stage, stageSchema, stagePartCols, stageOpts) =
        DeltaWriter.toPhysical(spark, snap, newRows,
          snap.metadata.partitionColumns, extraCols)
      val adds = DeltaWriter.writeFiles(spark, log, stage, stageSchema,
        stagePartCols, staged, stageOpts,
            // post-mint config: the FIRST id-materializing rewrite must
            // already exempt the minted columns from stats
            configuration = mdAction.map(_.configuration)
              .getOrElse(snap.metadata.configuration))
      // CDF: pre-assignment matches + their new images, one cdc stage
      val cdcLines =
        if (!Cdc.enabled(snap)) Nil
        else {
          val cols = snap.schema.fieldNames.map(c => col(s"`$c`")).toIndexedSeq
          Cdc.writeChangeData(spark, log, snap,
            Cdc.typed(matched.select(cols: _*), "update_preimage")
              .unionByName(Cdc.typed(newRows.select(cols: _*), "update_postimage")),
            snap.metadata.partitionColumns, staged)
        }
      val hitRows = matched.select(
        col("_metadata.file_path").as("p"), col("_metadata.row_index").as("i"))
      val (dvActs, updatedRows) = DeltaDelete.dvActions(log, snap, hitRows, staged)
      if (updatedRows > 0L)
        ConflictChecker.commit(log, Some(snap), "UPDATE",
          mdAction.map(Action(_)).toSeq ++
            DeltaDelete.protocolUpgradeActions(snap) ++ dvActs,
          params = Map("predicate" -> condition.toString),
          metrics = Map("numUpdatedRows" -> updatedRows.toString),
          adds = adds, cdc = cdcLines, staged = staged,
          // row-tracked: any concurrent commit may have assigned ids from
          // the same high-water mark — conflict instead of rebasing
          scope =
            if (rtEnabled) ConflictChecker.ReadScope.WholeTable
            else ConflictChecker.ReadScope.Predicate(
              ConflictChecker.resolve(snap, condition)))
      updatedRows
    }
  }
}
