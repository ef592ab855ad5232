package graft.delta

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{GraftColumnBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types._
import org.apache.spark.util.SerializableConfiguration

/**
 * Delta-aware parquet FileFormat: the scan core behind every snapshot read
 * ([[Snapshot.relation]]), doing inside the reader what the
 * reference's multi-file reader does inside its scan
 * (src/functions/delta_scan/delta_multi_file_reader.cpp:24-48 applies the
 * deletion-vector row filter; :162-230 maps physical parquet columns back
 * to logical names):
 *
 *  - **Column mapping** (name and id mode): the relation exposes LOGICAL
 *    names; before delegating to the stock parquet reader this format
 *    rewrites the data/required schemas and pushed filters to PHYSICAL
 *    names (and, in id mode, attaches `parquet.field.id` metadata +
 *    enables field-id resolution). Output rows are positional, so no
 *    rename is needed on the way back.
 *  - **Deletion vectors**: the required schema is extended with Spark's
 *    internal row-index column (populated split-safely by the parquet
 *    readers from row-group metadata, so it stays correct under page
 *    skipping and file splits); each row's index is probed against the
 *    file's bitmap and dropped if deleted, then the extra column is
 *    projected away. Each task takes the bitmap's [[DvHandle]] from its
 *    `PartitionedFile`, where [[GraftFileIndex]] put it (null when the
 *    file has none), and reads a stored DV itself. The probe FAILS
 *    CLOSED: a file without the handle raises rather than resurrecting
 *    deleted rows. With `keepDeleted` the probe is inverted: only the
 *    bitmap's rows pass (CDF's delete rows), and a file without a bitmap
 *    is not read at all.
 *
 * Scale: only the scanned files' handles reach the executors, and each
 * split of a file reads that file's bitmap; the probe is O(1) per row with
 * no join or shuffle, preserving scan partitioning.
 */
class GraftParquetFileFormat(
    logicalToPhysical: Map[String, StructField],
    /** The table root stored deletion vectors resolve against. */
    tablePath: String,
    /** Whether this read filters rows by the listed files' bitmaps: some
      * listed file may carry one. */
    dvFilter: Boolean,
    keepDeleted: Boolean,
    fieldIdMode: Boolean) extends ParquetFileFormat {

  /** Whether this reader drops DV-deleted rows. */
  def dropsDeletedRows: Boolean = dvFilter && !keepDeleted

  /** Whether this reader emits only the bitmaps' rows. */
  def keepsOnlyDeletedRows: Boolean = keepDeleted

  private def isMapped: Boolean = logicalToPhysical.exists {
    case (l, p) => l != p.name || fieldIdMode
  }

  // DV filtering keeps COLUMNAR output (r2 dropped to rows for the whole
  // table when ANY file carried a DV — a 10k-file table with one DV'd file
  // read everything row-at-a-time): batches from DV-less files pass
  // through untouched, and only batches that actually contain deleted rows
  // are compacted (survivor copy). Falls back to rows for non-atomic
  // schemas the compactor can't copy, and under off-heap vectors: the
  // scan's generated code casts data columns to the off-heap class, and
  // the compactor copies on-heap.
  override def supportBatch(sparkSession: SparkSession, schema: StructType): Boolean =
    (!filtersRows || (DvBatchFilter.allAtomic(schema) &&
      !sparkSession.sessionState.conf.offHeapColumnVectorEnabled)) &&
      super.supportBatch(sparkSession, schema)

  private def filtersRows: Boolean = dvFilter || keepDeleted

  // Distinct formats must not compare equal (ParquetFileFormat.equals is
  // class-based): exchange/scan reuse would otherwise conflate two tables'
  // row selections or mappings.
  override def equals(other: Any): Boolean = other match {
    case g: GraftParquetFileFormat => g eq this
    case _ => false
  }
  override def hashCode(): Int = System.identityHashCode(this)

  /** Physical rendition of a requested field: physical name + field-id
    * metadata, but the REQUESTED dataType/nullability (nested pruning may
    * have trimmed the struct). Nested struct fields rename metadata-driven
    * — pruned schemas keep each field's `delta.columnMapping.*` metadata,
    * so the trimmed shape still renames correctly. */
  private def toPhysical(f: StructField): StructField = {
    val top = logicalToPhysical.get(f.name)
      .map(p => f.copy(name = p.name, metadata = p.metadata))
      .getOrElse(f)
    top.copy(dataType = physType(top.dataType))
  }

  private def physType(dt: DataType): DataType = dt match {
    case st: StructType => StructType(st.fields.map(physNested))
    case ArrayType(e, n) => ArrayType(physType(e), n)
    case MapType(k, v, n) => MapType(physType(k), physType(v), n)
    case other => other
  }

  private def physNested(f: StructField): StructField = {
    val named =
      if (f.metadata.contains("delta.columnMapping.physicalName"))
        f.copy(name = f.metadata.getString("delta.columnMapping.physicalName"))
      else f
    val stamped =
      if (fieldIdMode && f.metadata.contains("delta.columnMapping.id"))
        named.copy(metadata = new MetadataBuilder().withMetadata(named.metadata)
          .putLong("parquet.field.id", f.metadata.getLong("delta.columnMapping.id"))
          .build())
      else named
    stamped.copy(dataType = physType(stamped.dataType))
  }

  /** Rename a (possibly dotted nested) filter attribute to physical form:
    * walk the LOGICAL data schema segment by segment, renaming each via
    * its mapping metadata. Unresolvable paths fall back to a head-only
    * rename — parquet pushdown is advisory, an unmatched name is simply
    * not pushed and Spark re-applies the filter above. */
  private def renameAttr(dataSchema: StructType, a: String): String = {
    def walk(dt: DataType, segs: List[String]): Option[List[String]] = segs match {
      case Nil => Some(Nil)
      case s :: rest => dt match {
        case st: StructType => st.fields.find(_.name == s).flatMap { f =>
          val phys =
            if (f.metadata.contains("delta.columnMapping.physicalName"))
              f.metadata.getString("delta.columnMapping.physicalName")
            else logicalToPhysical.get(f.name).map(_.name).getOrElse(f.name)
          walk(f.dataType, rest).map(phys :: _)
        }
        case _ => None
      }
    }
    walk(dataSchema, a.split('.').toList) match {
      case Some(renamed) => renamed.mkString(".")
      case None =>
        val i = a.indexOf('.')
        val (head, rest) = if (i < 0) (a, "") else (a.substring(0, i), a.substring(i))
        logicalToPhysical.get(head).map(_.name + rest).getOrElse(a)
    }
  }

  /** Pushed filters under physical names; unsupported shapes are dropped
    * (parquet pushdown is advisory — Spark re-applies row filters above). */
  private def renameFilter(schema: StructType)(f: Filter): Option[Filter] = {
    def renameAttr(a: String): String = this.renameAttr(schema, a)
    val renameFilter = this.renameFilter(schema) _
    f match {
    case sources.EqualTo(a, v) => Some(sources.EqualTo(renameAttr(a), v))
    case sources.EqualNullSafe(a, v) => Some(sources.EqualNullSafe(renameAttr(a), v))
    case sources.GreaterThan(a, v) => Some(sources.GreaterThan(renameAttr(a), v))
    case sources.GreaterThanOrEqual(a, v) => Some(sources.GreaterThanOrEqual(renameAttr(a), v))
    case sources.LessThan(a, v) => Some(sources.LessThan(renameAttr(a), v))
    case sources.LessThanOrEqual(a, v) => Some(sources.LessThanOrEqual(renameAttr(a), v))
    case sources.In(a, vs) => Some(sources.In(renameAttr(a), vs))
    case sources.IsNull(a) => Some(sources.IsNull(renameAttr(a)))
    case sources.IsNotNull(a) => Some(sources.IsNotNull(renameAttr(a)))
    case sources.StringStartsWith(a, v) => Some(sources.StringStartsWith(renameAttr(a), v))
    case sources.StringEndsWith(a, v) => Some(sources.StringEndsWith(renameAttr(a), v))
    case sources.StringContains(a, v) => Some(sources.StringContains(renameAttr(a), v))
    case sources.And(l, r) =>
      for { l2 <- renameFilter(l); r2 <- renameFilter(r) } yield sources.And(l2, r2)
    case sources.Or(l, r) =>
      for { l2 <- renameFilter(l); r2 <- renameFilter(r) } yield sources.Or(l2, r2)
    case sources.Not(c) => renameFilter(c).map(sources.Not(_))
    case other => None
  } }

  override def buildReaderWithPartitionValues(
      sparkSession: SparkSession,
      dataSchema: StructType,
      partitionSchema: StructType,
      requiredSchema: StructType,
      filters: Seq[Filter],
      options: Map[String, String],
      hadoopConf: Configuration): PartitionedFile => Iterator[InternalRow] = {

    val physData = StructType(dataSchema.fields.map(toPhysical))
    val physRequired = StructType(requiredSchema.fields.map(toPhysical))
    val physFilters =
      if (isMapped) filters.flatMap(renameFilter(dataSchema)) else filters
    // ParquetReadSupport reads this flag from the task hadoopConf (built
    // from the session conf BEFORE this method runs); resolution by field
    // id only applies to schemas carrying `parquet.field.id` metadata
    if (fieldIdMode)
      hadoopConf.setBoolean("spark.sql.parquet.fieldId.read.enabled", true)

    if (!filtersRows)
      return super.buildReaderWithPartitionValues(sparkSession, physData,
        partitionSchema, physRequired, physFilters, options, hadoopConf)

    val rowIdxName = GraftColumnBridge.parquetRowIndexTempColumnName
    // _metadata.row_index requests already inject the temp column;
    // reuse it rather than creating a duplicate
    val existingIdx = physRequired.fieldNames.indexOf(rowIdxName)
    // nullable=true is required: the parquet readers special-case the
    // temp column by NAME and generate it, but a non-nullable field
    // first trips the missing-required-column check
    val withIdx =
      if (existingIdx >= 0) physRequired
      else StructType(physRequired.fields :+
        StructField(rowIdxName, LongType, nullable = true))
    val idxOrdinal = if (existingIdx >= 0) existingIdx else physRequired.length
    val dropIdxColumn = existingIdx < 0

    val delegate = super.buildReaderWithPartitionValues(sparkSession,
      physData, partitionSchema, withIdx, physFilters, options, hadoopConf)

    val nOut = requiredSchema.length + partitionSchema.length
    // delegate row layout: withIdx ++ partition values
    val inFields = withIdx.fields ++ partitionSchema.fields
    // whether the delegate hands out ColumnarBatches: the scan node
    // decided it over its whole output (incl. `_metadata`) and super
    // obeys that option, not a recomputation over this reader's schema
    val returningBatch =
      options.get(FileFormat.OPTION_RETURNING_BATCH).contains("true")
    // locals, so the closure captures no field of this format
    val keepDeleted = this.keepDeleted
    val root = new Path(tablePath)
    // broadcast once per scan, as ParquetFileFormat does: a conf captured
    // in the closure would travel, and deserialize, with every task
    val conf = sparkSession.sparkContext.broadcast(new SerializableConfiguration(hadoopConf))

    (pf: PartitionedFile) => {
      val bm = pf.otherConstantMetadataColumnValues.get(GraftFileIndex.DvKey) match {
        case Some(h: DvHandle) => h.bitmap(root, root.getFileSystem(conf.value.value))
        case Some(null) => null
        case _ => throw new IllegalStateException(
          s"scanned file carries no deletion-vector handle: ${pf.filePath}")
      }
      // no bitmap, so no row to keep: the file is not opened
      if (keepDeleted && bm == null) Iterator.empty
      else if (returningBatch) {
        val keep = inFields.indices.filter(i => !dropIdxColumn || i != idxOrdinal).toArray
        val outTypes = keep.map(i => inFields(i).dataType)
        // elements are really ColumnarBatch (batch contract); keep the
        // lambda param erased so scalac doesn't insert an InternalRow cast
        delegate(pf).asInstanceOf[Iterator[AnyRef]].map { r =>
          val batch = r.asInstanceOf[org.apache.spark.sql.vectorized.ColumnarBatch]
          DvBatchFilter.filterBatch(batch, bm, keepDeleted, idxOrdinal, keep,
            outTypes): AnyRef
        }.asInstanceOf[Iterator[InternalRow]]
      } else {
        val rows = delegate(pf)
        val filtered =
          if (bm == null) rows
          else rows.filter(r => bm.contains(r.getLong(idxOrdinal)) == keepDeleted)
        if (!dropIdxColumn) filtered
        else {
          val proj = UnsafeProjection.create(
            inFields.zipWithIndex.collect {
              case (f, i) if i != idxOrdinal =>
                BoundReference(i, f.dataType, f.nullable)
            }.toIndexedSeq)
          assert(inFields.length - 1 == nOut)
          filtered.map(proj)
        }
      }
    }
  }
}
