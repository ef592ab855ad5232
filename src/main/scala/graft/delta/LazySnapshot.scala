package graft.delta

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.catalyst.expressions.{Expression, Predicate}
import org.apache.spark.sql.functions.{col, sum}

/**
 * Checkpoint-backed snapshot for VERY large tables (10⁶-10⁷ add actions —
 * the shape of a real 100 TB table): the file list stays in the checkpoint
 * parquet as a typed Dataset and is never fully materialized on the driver
 * for scans. Planning ships the stats-skipping keeper and the partition
 * predicate to executors and collects only the surviving AddFiles — the
 * driver's memory is O(#matching files), not O(#table files).
 *
 * The small post-checkpoint JSON tail is reconciled driver-side by the
 * same [[LogReplay]] as the eager path: a tail add SHADOWS the checkpoint
 * entry for its path, a tail remove deletes it.
 *
 * Maintenance operations (OPTIMIZE, VACUUM, listFiles, DV registry) still
 * use [[allFiles]], which materializes lazily — they are O(#files) by
 * nature. `delta-kernel`-style engines make the same split: scans stream
 * the checkpoint, maintenance reads it whole.
 */
private[graft] class LazySnapshot(
    log: DeltaLog,
    version: Long,
    protocol: Protocol,
    metadata: Metadata,
    private[delta] val checkpointPaths: Seq[Path],
    private[delta] val tailAdds: Seq[AddFile],
    /** Paths a post-checkpoint add or remove touched: their checkpoint
      * entries are dead. */
    private[delta] val shadowed: Set[String],
    setTransactions: Map[String, Long],
    domainMetadata: Seq[DomainMetadata],
    tombstones: Seq[RemoveFile])
  extends Snapshot(log, version, protocol, metadata, Nil,
    setTransactions, domainMetadata, tombstones) {

  /** The live adds as add actions, typed by the shared
    * [[DeltaLog.actionEncoder]]: checkpoint adds (decoded like the eager
    * path's checkpoint actions) minus shadowed paths, plus the tail's own
    * adds. Every row's `add` is set. */
  @transient private[graft] lazy val addsDataset: Dataset[Action] = {
    val spark = log.spark
    val dead = shadowed // small; serialized into the closure
    val base = DeltaLog.actionFrame(DeltaLog.readParquet(spark, checkpointPaths))
      .where(col("add").isNotNull)
      .as[Action](DeltaLog.actionEncoder)
      .filter((a: Action) => !dead.contains(a.add.get.decodedPath))
    if (tailAdds.isEmpty) base
    else base.union(spark.createDataset(tailAdds.map(Action(_)))(DeltaLog.actionEncoder))
  }

  /** Diagnostics: whether a full driver-side materialization ever happened
    * (scans should never trigger one). */
  @volatile private[graft] var materializedFull: Boolean = false

  /** DV registry input as a distributed projection collect: descriptor
    * pairs only, never the stats-bearing AddFiles. */
  override private[delta] def dvRegistryPairs
      : Seq[(String, Option[DeletionVectorDescriptor])] =
    addsDataset.rdd.map { a => val f = a.add.get; (f.decodedPath, f.deletionVector) }
      .collect().toSeq

  override lazy val allFiles: Seq[AddFile] = {
    materializedFull = true
    addsDataset.collect().toSeq.flatMap(_.add)
  }

  override lazy val fileCount: Long = addsDataset.count()

  override lazy val sizeInBytes: Long =
    addsDataset.agg(sum(col("add.size"))).collect()(0).getLong(0)

  /** Distributed Σ numRecords: (sum, files-without-stats) per partition. */
  override lazy val numRecordsEstimate: Option[Long] = {
    val (total, missing) = addsDataset
      .mapPartitions { it =>
        var s = 0L; var miss = 0L
        it.foreach(a => a.add.get.parsedStats.flatMap(_.numRecords) match {
          case Some(n) => s += n
          case None => miss += 1
        })
        Iterator((s, miss))
      }(Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong))
      .collect().foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
    if (missing == 0) Some(total) else None
  }

  override lazy val hasDeletionVectors: Boolean =
    !addsDataset.where(col("add.deletionVector").isNotNull).isEmpty

  /** Distributed grouped live counts: executor-side partial sums keyed by
    * the escaped partition tuple, merged on the driver — partials are
    * O(#distinct tuples), never the file list. */
  override private[delta] def partitionLiveFacts(keys: Seq[String])
      : Option[Seq[(Seq[String], Long)]] = {
    val fn = ColumnFacts.partitionLiveRow(keys) _
    val partials = addsDataset.mapPartitions { it =>
      var bail = false
      val acc = scala.collection.mutable.LinkedHashMap.empty[String, Long]
      // short-circuit on bail: no point decoding the rest of a 10⁶-add
      // checkpoint partition just to emit the sentinel
      while (it.hasNext && !bail) {
        fn(it.next().add.get) match {
          case None => bail = true
          case Some((vals, live)) =>
            val k = ColumnFacts.encodeKey(vals)
            acc.update(k, acc.getOrElse(k, 0L) + live)
        }
      }
      if (bail) Iterator((null: String, 0L))
      else acc.iterator.map { case (k, v) => (k, v) }
    }(Encoders.tuple(Encoders.STRING, Encoders.scalaLong)).collect()
    if (partials.exists(_._1 == null)) return None
    val acc = scala.collection.mutable.LinkedHashMap.empty[Seq[String], Long]
    partials.foreach { case (k, v) =>
      val vals = ColumnFacts.decodeKey(k)
      acc.update(vals, acc.getOrElse(vals, 0L) + v)
    }
    Some(acc.toSeq)
  }

  /** Distributed per-partition fold of the metadata MIN/MAX/COUNT(col)
    * contributions; partial extremes cross the wire as round-trip strings
    * (one small job instead of an O(#files) driver materialization). */
  override private[delta] def exactColumnFacts(key: String, isPartition: Boolean,
      dt: org.apache.spark.sql.types.DataType,
      needExtremes: Boolean): Option[(Long, Any, Any)] = {
    val fn = ColumnFacts.fileFacts(key, isPartition, dt, needExtremes) _
    val partials = addsDataset.mapPartitions { it =>
      val fold = new ColumnFacts.Fold(dt)
      while (it.hasNext && !fold.bailed) fold.add(fn(it.next().add.get))
      Iterator(fold.result match {
        case None => (1L, 0L, null: String, null: String)
        case Some((c, mn, mx)) =>
          (0L, c, ColumnFacts.encode(dt, mn), ColumnFacts.encode(dt, mx))
      })
    }(Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong,
      Encoders.STRING, Encoders.STRING)).collect()
    val fold = new ColumnFacts.Fold(dt)
    partials.foreach { case (bail, c, mn, mx) =>
      fold.add(if (bail != 0L) None
        else Some((c, ColumnFacts.decode(dt, mn), ColumnFacts.decode(dt, mx))))
    }
    fold.result
  }

  override lazy val exactRowCount: Option[Long] = {
    val (total, missing) = addsDataset
      .mapPartitions { it =>
        var s = 0L; var miss = 0L
        it.foreach { a =>
          val f = a.add.get
          f.parsedStats.flatMap(_.numRecords) match {
            case Some(n) => s += n - f.deletionVector.map(_.cardinality).getOrElse(0L)
            case None => miss += 1
          }
        }
        Iterator((s, miss))
      }(Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong))
      .collect().foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
    if (missing == 0) Some(total) else None
  }

  override private[graft] def scanCandidates(
      statsKeeper: Option[AddFile => Boolean],
      partitionBound: Option[Expression]): Seq[AddFile] = {
    if (statsKeeper.isEmpty && partitionBound.isEmpty)
      // unfiltered scan: the full list is needed for PartitionDirectory
      // construction either way — same cost every FileIndex pays
      return allFiles
    val pSchema = physicalPartitionSchema // local copies: never capture `this`
    val keep = statsKeeper
    val bound = partitionBound
    addsDataset.mapPartitions { it =>
      val pred = bound.map(Predicate.createInterpreted)
      it.filter { a =>
        val f = a.add.get
        keep.forall(_(f)) &&
          pred.forall(_.eval(PartitionUtil.internalRow(f.partitionValues, pSchema)))
      }
    }(DeltaLog.actionEncoder).collect().toSeq.flatMap(_.add)
  }
}
