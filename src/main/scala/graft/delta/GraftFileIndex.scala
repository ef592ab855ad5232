package graft.delta

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, AttributeReference, BoundReference, Expression, Predicate}
import org.apache.spark.sql.execution.datasources.{FileIndex, FileStatusWithMetadata, PartitionDirectory}
import org.apache.spark.sql.types.StructType

/**
 * Custom `FileIndex` over a Delta snapshot — the integration point where
 * Catalyst's pushed-down filters meet the log-derived file list, exactly as
 * the reference's `ComplexFilterPushdown`/partition info meet
 * `DeltaMultiFileList` (src/functions/delta_scan/delta_multi_file_list.cpp:
 * 856-886; partition handling delta_multi_file_reader.cpp:120-160).
 *
 * - `partitionFilters` → per-file partition-value pruning (file-level
 *   partition pruning; Spark never reads partition columns from parquet,
 *   they are injected as constants from `PartitionDirectory.values`).
 * - `dataFilters` → stats-based file skipping (FileSkipping).
 * - Each listed file carries its deletion-vector handle in its metadata
 *   ([[GraftFileIndex.DvKey]]), as the reference's file list carries each
 *   file's selection vector (`DeltaFileMetaData.selection_vector`,
 *   delta_multi_file_list.hpp:38).
 * - No filesystem listing happens here at all: the file list, sizes and
 *   modification times come from the log. At 100 TB this is the difference
 *   between one log replay and millions of object-store LIST/HEAD calls.
 */
/** Scan pushdown mode — the `pushdown_filters` option of `delta_scan`
  * (reference delta_scan.cpp:14-44): `none` / `all` / `constant_only` /
  * `dynamic_only`, toggling the constant (WHERE-clause stats skipping +
  * generated-column derivation) and dynamic (join-derived re-prune) paths
  * independently. Stats skipping is redundant with the row-level filters
  * Spark keeps in the plan, so no mode changes results, only how many
  * files are scheduled. (The reference's `pushdown_partition_info` has no
  * safe Spark analog: a FileIndex MUST honor partition filters because
  * Spark prunes them from row filtering.) */
final case class ScanOptions(pushdownMode: String = ScanOptions.All) {
  require(ScanOptions.Modes.contains(pushdownMode),
    s"pushdown_filters mode must be one of ${ScanOptions.Modes.mkString(", ")}: $pushdownMode")
  def constantEnabled: Boolean =
    pushdownMode == ScanOptions.All || pushdownMode == ScanOptions.ConstantOnly
  def dynamicEnabled: Boolean =
    pushdownMode == ScanOptions.All || pushdownMode == ScanOptions.DynamicOnly
  /** Back-compat boolean view (true = any pushdown enabled). */
  def pushdownFilters: Boolean = pushdownMode != ScanOptions.NoneMode
}

object ScanOptions {
  val NoneMode = "none"
  val All = "all"
  val ConstantOnly = "constant_only"
  val DynamicOnly = "dynamic_only"
  val Modes: Set[String] = Set(NoneMode, All, ConstantOnly, DynamicOnly)
  /** Back-compat constructor: the pre-r11 boolean toggle. */
  def apply(pushdownFilters: Boolean): ScanOptions =
    new ScanOptions(if (pushdownFilters) All else NoneMode)
  /** Parse a user-facing option value: boolean strings map to all/none,
    * otherwise the value must be a mode name (reference delta_scan.cpp:14-28
    * errors on unknown modes the same way). */
  def parse(value: String): ScanOptions = value.trim.toLowerCase match {
    case "true" => new ScanOptions(All)
    case "false" => new ScanOptions(NoneMode)
    case m => new ScanOptions(m)
  }
}

class GraftFileIndex(spark: SparkSession, snapshot: Snapshot,
    options: ScanOptions = ScanOptions(),
    /** Runtime (join-derived) filter thunks, evaluated lazily at the first
      * listFiles call — by then subordinate jobs are legal, making this the
      * Spark analog of the reference's dynamic filter re-prune
      * (delta_multi_file_list.cpp:989-1021). */
    dynamicThunks: Seq[() => Seq[Expression]] = Nil,
    /** An explicit file list read under the snapshot's metadata, each file
      * with its bitmap handle (see [[Snapshot.relation]]); None lists the
      * snapshot's own files, each with its own deletion vector. */
    files: Option[Seq[(AddFile, Option[DvHandle])]] = None,
    /** What [[listFiles]] returned, by log path; shared with the copies
      * [[withDynamicThunk]] makes. */
    listed: java.util.concurrent.ConcurrentHashMap[String, AddFile] =
      new java.util.concurrent.ConcurrentHashMap[String, AddFile]) extends FileIndex {

  def withDynamicThunk(t: () => Seq[Expression]): GraftFileIndex =
    new GraftFileIndex(spark, snapshot, options, dynamicThunks :+ t, files, listed)

  /** Every file a listing of this index (or of a pruning copy) returned:
    * the files a plan over it scanned, after partition and stats
    * skipping. A DML's deletion-vector build takes its per-file facts
    * from here ([[DeltaDelete.dvActions]]). */
  private[delta] def listedFiles: Iterable[AddFile] = listed.values.asScala

  /** The snapshot whose log facts describe exactly the listed files — the
    * [[MetadataOnlyCount]] rewrites' input. None for an explicit file
    * list: its rows are not the snapshot's, so those rewrites bail. */
  private[delta] def metadataSnapshot: Option[Snapshot] =
    if (files.isEmpty) Some(snapshot) else None

  /** Evaluated once; a failing thunk degrades to no dynamic pruning. */
  @transient private lazy val dynamicFilters: Seq[Expression] =
    dynamicThunks.flatMap(t =>
      try t() catch { case scala.util.control.NonFatal(_) => Nil })

  override def rootPaths: Seq[Path] = Seq(snapshot.log.tablePath)
  // the relation exposes LOGICAL names; the log's partitionValues and
  // stats keys are PHYSICAL, so filters are renamed before stats lookups
  override def partitionSchema: StructType = snapshot.partitionSchema
  override def refresh(): Unit = ()
  override def sizeInBytes: Long = files.fold(snapshot.sizeInBytes)(_.map(_._1.size).sum)
  override def inputFiles: Array[String] =
    files.fold(snapshot.allFiles)(_.map(_._1)).map(f => snapshot.absolutePath(f).toString).toArray

  /** The explicit list's handles by log path (a commit adds a path once). */
  @transient private lazy val explicitHandles: Map[String, DvHandle] =
    files.fold(Map.empty[String, DvHandle])(_.map { case (f, h) => f.path -> h.orNull }.toMap)

  override def listFiles(
      partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    // 1. stats-based skipping on data filters (physical stats names)
    val statsKeeper =
      if (options.constantEnabled)
        FileSkipping.keeper(snapshot.physicalDataSchema,
          dataFilters.map(snapshot.physicalFilter))
      else None
    // 1b. generated-column partition pruning: filters on the BASE column
    //     of a monotonic generation expression imply partition filters
    //     (delta-spark OptimizeGeneratedColumn analog) — `WHERE ts >= L`
    //     prunes `PARTITIONED BY (year(ts))` partitions. Derived from
    //     CONSTANT filters, so it follows the constant toggle.
    val derivedPartFilters =
      if (!options.constantEnabled) Nil
      else GeneratedPruning.derive(spark, snapshot, dataFilters)
    if (derivedPartFilters.nonEmpty)
      GraftMetrics.record(PushdownEvent(
        snapshot.log.tablePath.toString, "generated",
        derivedPartFilters.map(_.sql).mkString(" AND "),
        filesBefore, -1))
    val allPartFilters = partitionFilters ++ derivedPartFilters
    // 2. partition predicate, bound POSITIONALLY against the partition
    //    schema (row construction looks values up by the LOG's physical
    //    keys, so logical exposure stays consistent)
    val partitionBound: Option[Expression] =
      if (allPartFilters.isEmpty || partitionSchema.isEmpty) None
      else {
        val partAttrs: Seq[Attribute] = partitionSchema.fields.toSeq.map(f =>
          AttributeReference(f.name, f.dataType, f.nullable)())
        Some(allPartFilters.reduce(And).transform {
          case a: AttributeReference =>
            val idx = partAttrs.indexWhere(p => p.name.equalsIgnoreCase(a.name))
            if (idx >= 0) BoundReference(idx, partAttrs(idx).dataType, partAttrs(idx).nullable)
            else a
        })
      }
    // one pass over the snapshot's state — in-memory filter for regular
    // snapshots, executor-side Dataset filter + survivor collect for
    // checkpoint-backed LazySnapshots (10⁶+ adds never hit the driver)
    val afterPartition = files match {
      case Some(fs) => snapshot.filterFiles(fs.map(_._1), statsKeeper, partitionBound)
      case None => snapshot.scanCandidates(statsKeeper, partitionBound)
    }
    // event typing mirrors the reference's log (file_skipping_params.test):
    // `constant` only when the constant path is ENABLED and had filters to
    // push; a disabled-or-filterless listing records `none` (observability
    // of files scheduled — the reference logs nothing here, and specs that
    // port its per-mode assertions filter on constant/dynamic types)
    GraftMetrics.record(PushdownEvent(
      snapshot.log.tablePath.toString,
      if (options.constantEnabled && dataFilters.nonEmpty) "constant" else "none",
      (dataFilters ++ partitionFilters).map(_.sql).mkString(" AND "),
      filesBefore, afterPartition.size))
    // 3. dynamic (join-derived) stats re-prune — bounds computed at runtime
    val afterDynamic =
      if (dynamicThunks.isEmpty || !options.dynamicEnabled) afterPartition
      else {
        val dyn = dynamicFilters.map(snapshot.physicalFilter)
        if (dyn.isEmpty) afterPartition
        else {
          val pruned = FileSkipping.prune(afterPartition, snapshot.physicalDataSchema, dyn)
          GraftMetrics.record(PushdownEvent(
            snapshot.log.tablePath.toString, "dynamic",
            dyn.map(_.sql).mkString(" AND "),
            afterPartition.size, pruned.size))
          pruned
        }
      }
    afterDynamic.foreach(f => listed.put(f.path, f))
    // 4. group by partition values → PartitionDirectory
    afterDynamic
      .groupBy(_.partitionValues)
      .map { case (pv, files) =>
        PartitionDirectory(
          PartitionUtil.internalRow(pv, snapshot.physicalPartitionSchema),
          files.map(fileStatus))
      }.toSeq
  }

  private def filesBefore: Int = files.fold(snapshot.fileCount.toInt)(_.size)

  /** The file with its deletion-vector handle (null when it has none):
    * Spark copies the metadata into every `PartitionedFile` split from it. */
  private def fileStatus(f: AddFile): FileStatusWithMetadata = {
    val handle =
      if (files.isEmpty) f.deletionVector.map(DvSlot).orNull
      else explicitHandles(f.path)
    FileStatusWithMetadata(
      new FileStatus(f.size, false, 1, 128L * 1024 * 1024, f.modificationTime,
        snapshot.absolutePath(f)),
      Map(GraftFileIndex.DvKey -> handle))
  }
}

object GraftFileIndex {
  /** The key of a listed file's [[DvHandle]] in its metadata, which Spark
    * copies into `PartitionedFile.otherConstantMetadataColumnValues`. No
    * `_metadata` field has this name, so Spark never reads it. */
  private[delta] val DvKey = "graft_deletion_vector"
}

/** One pushdown/skipping event — analog of the reference's structured
  * `delta.FilterPushdown` log + EXPLAIN "Scanning Files: x/y"
  * (delta_multi_file_list.cpp:888-987). */
final case class PushdownEvent(
    path: String, filterType: String, filters: String,
    filesBefore: Int, filesAfter: Int)

/** Process-wide pushdown observability, queryable as a DataFrame — the
  * Spark analog of `delta_filter_pushdown_log()` (src/delta_macros.cpp:14-97).
  * Holds the newest [[Capacity]] events: every listing records one, so an
  * unbounded log would grow for the life of the session. */
object GraftMetrics {
  val Capacity = 10000
  private val events = new java.util.ArrayDeque[PushdownEvent]()
  def record(e: PushdownEvent): Unit = events.synchronized {
    if (events.size == Capacity) events.removeFirst()
    events.addLast(e)
  }
  def clear(): Unit = events.synchronized(events.clear())
  def pushdownLog(spark: SparkSession): DataFrame = {
    import spark.implicits._
    events.synchronized(events.asScala.toVector).toDF()
  }
}
