package graft.delta

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.datasources.HadoopFsRelation
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** Which rows of each listed file a [[Snapshot.relation]] read emits,
  * given the file's deletion bitmap. */
private[delta] sealed trait RowSelection
private[delta] object RowSelection {
  /** Rows outside the bitmap: the table's live rows. */
  case object Live extends RowSelection
  /** Every row, bitmaps ignored (a DML that unions new deletes into the
    * existing bitmaps). */
  case object All extends RowSelection
  /** Only the bitmap's rows (CDF's delete rows of a DV-growth commit). */
  case object Deleted extends RowSelection
}

object Snapshot {
  /** THE canonical decoded-path → absolute-Path rule (absolute paths pass
    * through; relative ones resolve against the table root). A pure
    * function of strings so executor-side closures can use it without
    * capturing a Snapshot; every site that renders file-list paths for
    * matching against `_metadata.file_path` MUST go through this — a
    * second copy that drifts makes a DML's row hits silently stop
    * matching their files. */
  private[delta] def absolutePathOf(tablePath: String, decodedPath: String): Path = {
    val p = new Path(decodedPath)
    if (p.isAbsolute) p else new Path(new Path(tablePath), p)
  }

  /** The in-memory executor of a [[FileFold]]: sequential below
    * [[FileSkipping.ParallelThreshold]], else contiguous chunks folded on
    * the common fork-join pool and merged in list order (`parsedStats` is
    * a thread-safe lazy val; each chunk folds into its own partial). */
  private[delta] def fold[P](files: Seq[AddFile], f: FileFold[P]): P =
    if (files.size < FileSkipping.ParallelThreshold) FileFold.run(f, files.iterator)
    else {
      val arr = files.toArray
      val chunks = 4 * java.util.concurrent.ForkJoinPool.getCommonPoolParallelism.max(1)
      val step = (arr.length + chunks - 1) / chunks
      java.util.stream.IntStream.range(0, chunks).parallel()
        .mapToObj[Any](i => FileFold.run(f, arr.view.slice(i * step, (i + 1) * step).iterator))
        .toArray.iterator.map(_.asInstanceOf[P]).reduceLeft(f.merge)
    }
}

/**
 * Immutable table state at one log version — the analog of the reference's
 * resolved `DeltaMultiFileList` (snapshot version, schema, file list with
 * per-file metadata; reference
 * src/include/functions/delta_scan/delta_multi_file_list.hpp:56-166).
 */
class Snapshot(
    @transient val log: DeltaLog,
    val version: Long,
    val protocol: Protocol,
    val metadata: Metadata,
    filesEager: Seq[AddFile],
    val setTransactions: Map[String, Long],
    val domainMetadata: Seq[DomainMetadata],
    /** Remove tombstones still in replay scope (latest action per path is
      * a remove). Carried so checkpoints retain them within
      * `delta.deletedFileRetentionDuration` — foreign engines (and VACUUM)
      * must still see recent deletions once older commit JSONs are cleaned
      * up, per protocol. [[LazySnapshot]] carries the base checkpoint's
      * tombstones plus its JSON-tail removes, like the eager replay; the
      * retention filter applies when a checkpoint is written
      * ([[Checkpoints.liveTombstones]]). */
    val tombstones: Seq[RemoveFile] = Nil) {

  /** The full reconciled file list. Every table-level fact below is one
    * [[FileFold]] run by [[fold]], so it never needs this list whole;
    * [[LazySnapshot]] materializes it only for the callers that do
    * (maintenance operations, unfiltered scans). */
  def allFiles: Seq[AddFile] = filesEager

  /** The live adds as add actions for executors to write (checkpoints):
    * built from the in-memory list on each call, so the snapshot keeps no
    * encoded copy; [[LazySnapshot]] reads its checkpoint parquet. */
  private[graft] def addsDataset: Dataset[Action] =
    log.spark.createDataset(allFiles.map(Action(_)))(DeltaLog.actionEncoder)

  /** Runs one fact's fold over the file list: in memory here, on
    * executors in [[LazySnapshot]]. */
  private[delta] def fold[P](f: FileFold[P]): P = Snapshot.fold(allFiles, f)

  private lazy val summary: FileFold.Summary = fold(FileFold.Summary)
  lazy val fileCount: Long = summary.files
  lazy val sizeInBytes: Long = summary.bytes
  lazy val hasDeletionVectors: Boolean = summary.hasDvs

  private lazy val records: Option[(Long, Long)] = fold(FileFold.Records)

  /** Σ per-file numRecords, as the reference's GetCardinality
    * (delta_multi_file_list.cpp:1046-1071); it counts deleted rows too.
    * None if any file lacks stats. */
  lazy val numRecordsEstimate: Option[Long] = records.map(_._1)

  /** EXACT live row count from metadata alone: Σ per-file numRecords minus
    * Σ deletion-vector cardinalities — both protocol-authoritative. None
    * if any file lacks numRecords (foreign writers may omit stats).
    * Powers the metadata-only `count(*)` rewrite ([[MetadataOnlyCount]]). */
  lazy val exactRowCount: Option[Long] = records.map { case (n, deleted) => n - deleted }

  /** Scan-time candidate files after stats skipping + partition pruning,
    * in list order. `statsKeeper` is [[FileSkipping.keeper]]'s serializable
    * per-file decision; `partitionBound` is the partition predicate bound
    * POSITIONALLY against [[physicalPartitionSchema]]. A filtered call is
    * one [[FileFold.Candidates]] fold, so a [[LazySnapshot]] collects only
    * the survivors; an unfiltered one is [[allFiles]]. */
  private[graft] def scanCandidates(
      statsKeeper: Option[AddFile => Boolean],
      partitionBound: Option[org.apache.spark.sql.catalyst.expressions.Expression])
      : Seq[AddFile] =
    candidates(statsKeeper, partitionBound) match {
      case Some(c) => fold(c).files.toVector
      case None => allFiles
    }

  /** [[scanCandidates]]' filter over an explicit in-memory file list. */
  private[delta] def filterFiles(files: Seq[AddFile],
      statsKeeper: Option[AddFile => Boolean],
      partitionBound: Option[org.apache.spark.sql.catalyst.expressions.Expression])
      : Seq[AddFile] =
    candidates(statsKeeper, partitionBound) match {
      case Some(c) => Snapshot.fold(files, c).files.toVector
      case None => files
    }

  private def candidates(statsKeeper: Option[AddFile => Boolean],
      partitionBound: Option[org.apache.spark.sql.catalyst.expressions.Expression])
      : Option[FileFold.Candidates] =
    if (statsKeeper.isEmpty && partitionBound.isEmpty) None
    else Some(new FileFold.Candidates(statsKeeper, partitionBound, physicalPartitionSchema))

  def schema: StructType = metadata.schema
  def partitionSchema: StructType = metadata.partitionSchema
  def dataSchema: StructType = metadata.dataSchema

  // ---- column mapping (name + id mode; reference delta_utils.hpp:300-311) --

  def columnMappingMode: String =
    metadata.configuration.getOrElse("delta.columnMapping.mode", "none")

  /** Physical (parquet) name of a logical field. */
  def physicalName(f: org.apache.spark.sql.types.StructField): String =
    if (columnMappingMode == "none") f.name
    else if (f.metadata.contains("delta.columnMapping.physicalName"))
      f.metadata.getString("delta.columnMapping.physicalName")
    else f.name

  /** Physical rendition of a logical field: physical name, plus — in id
    * mode — `parquet.field.id` metadata so Spark's parquet reader resolves
    * the column by field id (reference reads parquet field ids the same
    * way, delta_utils.hpp:300-311). Recurses through struct/array/map —
    * the column-mapping protocol renames every NESTED struct field too
    * (fields without minted metadata keep their logical names). */
  private[delta] def physicalField(
      f: org.apache.spark.sql.types.StructField): org.apache.spark.sql.types.StructField = {
    val renamed = f.copy(name = physicalName(f), dataType = physicalType(f.dataType))
    if (columnMappingMode == "id" && f.metadata.contains("delta.columnMapping.id")) {
      val m = new org.apache.spark.sql.types.MetadataBuilder()
        .withMetadata(renamed.metadata)
        .putLong("parquet.field.id", f.metadata.getLong("delta.columnMapping.id"))
        .build()
      renamed.copy(metadata = m)
    } else renamed
  }

  /** [[physicalField]] applied to every nested struct field of a type. */
  private[delta] def physicalType(dt: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types.{ArrayType, MapType}
    dt match {
      case st: StructType => StructType(st.fields.map(physicalField))
      case ArrayType(e, n) => ArrayType(physicalType(e), n)
      case MapType(k, v, n) => MapType(physicalType(k), physicalType(v), n)
      case other => other
    }
  }

  @transient private lazy val physicalNames: Map[String, String] =
    dataSchema.fields.map(f => f.name -> physicalName(f)).toMap

  /** A filter over LOGICAL data columns with its attributes renamed to the
    * log's physical names, the keys of per-file stats. */
  private[delta] def physicalFilter(
      e: org.apache.spark.sql.catalyst.expressions.Expression)
      : org.apache.spark.sql.catalyst.expressions.Expression = e.transform {
    case a: org.apache.spark.sql.catalyst.expressions.AttributeReference
        if physicalNames.contains(a.name) =>
      a.withName(physicalNames(a.name))
  }

  /** Data/partition schemas under physical names (what parquet + the log's
    * partitionValues/stats are keyed by). */
  private[delta] def physicalDataSchema: StructType =
    StructType(dataSchema.fields.map(physicalField))
  private[delta] def physicalPartitionSchema: StructType =
    StructType(partitionSchema.fields.map(physicalField))

  def absolutePath(f: AddFile): Path =
    Snapshot.absolutePathOf(log.tablePath.toString, f.decodedPath)

  /** EXACT (nonNullCount, min, max) for one column from metadata alone
    * ([[ColumnFacts.Fold]]). Powers the metadata-only MIN/MAX/COUNT(col)
    * rewrite ([[MetadataOnlyCount]]). */
  private[delta] def exactColumnFacts(key: String, isPartition: Boolean,
      dt: org.apache.spark.sql.types.DataType,
      needExtremes: Boolean): Option[(Long, Any, Any)] =
    fold(new ColumnFacts.Fold(key, isPartition, dt, needExtremes))

  /** EXACT live row counts per raw partition-value tuple of `keys`
    * ([[ColumnFacts.PartitionLive]]). Powers the GROUP-BY-partition
    * metadata rewrite ([[MetadataOnlyCount]]); the result is
    * O(#distinct partition tuples), never O(#files). */
  private[delta] def partitionLiveFacts(keys: Seq[String])
      : Option[Seq[(Seq[String], Long)]] =
    fold(new ColumnFacts.PartitionLive(keys)).map(_.toSeq)

  /**
   * The scan surface: a DataFrame over a custom FileIndex, so Catalyst gets
   * predicate/projection pushdown, partition pruning, and our stats-based
   * file skipping for free (the Spark-side equivalent of delta_scan's
   * injected MultiFileReader, reference delta_scan.cpp:83-121). Only the
   * column ORDER is restored on top of [[relation]]: a HadoopFsRelation
   * puts partition columns last.
   */
  def toDF: DataFrame = toDF(ScanOptions())

  def toDF(options: ScanOptions): DataFrame = {
    val df = relationDF(options)
    if (df.columns.sameElements(schema.fieldNames)) df
    else df.select(schema.fieldNames.map(n => col(s"`$n`")).toIndexedSeq: _*)
  }

  /** V1 BaseRelation for `spark.read.format("graftdelta")`: [[relation]]
    * as is (data columns, then partition columns). */
  def asRelation: org.apache.spark.sql.sources.BaseRelation = asRelation(ScanOptions())

  def asRelation(options: ScanOptions): org.apache.spark.sql.sources.BaseRelation =
    relation(options, RowSelection.Live, Nil)

  /** THE read path of every snapshot scan: LOGICAL column names, with
    * deletion vectors and column mapping (name + id mode) applied INSIDE
    * the reader by [[GraftParquetFileFormat]], mirroring the reference's
    * in-scan multi-file reader (delta_multi_file_reader.cpp:24-48,162-230).
    * `_metadata` stays reachable (the DML paths locate rows by
    * file_path/row_index).
    *
    * @param rows          which rows of each file: live, all, or only the
    *                      bitmap's
    * @param extraDataCols extra physical pass-through columns (nullable;
    *                      files lacking them read null) — the materialized
    *                      row-id columns a row-tracked rewrite preserves,
    *                      a change file's `_change_type`
    * @param files         an explicit file list read under this snapshot's
    *                      metadata instead of the snapshot's own files
    *                      (change feed, stream batches), each with the
    *                      bitmap `rows` applies to it; partition values
    *                      come from each AddFile */
  private[delta] def relation(options: ScanOptions, rows: RowSelection,
      extraDataCols: Seq[org.apache.spark.sql.types.StructField],
      files: Option[Seq[(AddFile, Option[DvHandle])]] = None): HadoopFsRelation = {
    val spark = log.spark
    val logicalToPhysical = dataSchema.fields.map(f => f.name -> physicalField(f)).toMap
    // whether some listed file may carry a bitmap: then every listed file
    // must carry its handle, and the reader fails on one that does not
    val dvFilter = rows != RowSelection.All &&
      files.fold(hasDeletionVectors)(_.exists(_._2.isDefined))
    HadoopFsRelation(
      location = new GraftFileIndex(spark, this, options, files = files),
      partitionSchema = partitionSchema,
      dataSchema = StructType(dataSchema.fields ++ extraDataCols),
      bucketSpec = None,
      fileFormat = new GraftParquetFileFormat(logicalToPhysical, log.tablePath.toString,
        dvFilter, keepDeleted = rows == RowSelection.Deleted,
        fieldIdMode = columnMappingMode == "id"),
      options = Map.empty)(spark)
  }

  /** [[relation]] as a DataFrame (data columns, then partition columns). */
  private[delta] def relationDF(options: ScanOptions = ScanOptions(),
      rows: RowSelection = RowSelection.Live,
      extraDataCols: Seq[org.apache.spark.sql.types.StructField] = Nil,
      files: Option[Seq[(AddFile, Option[DvHandle])]] = None): DataFrame =
    log.spark.baseRelationToDataFrame(relation(options, rows, extraDataCols, files))
}
