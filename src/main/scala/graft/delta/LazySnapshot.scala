package graft.delta

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions.col

/**
 * Checkpoint-backed snapshot for VERY large tables (10⁶-10⁷ add actions —
 * the shape of a real 100 TB table): the file list stays in the checkpoint
 * parquet as a typed Dataset ([[addsDataset]]) and is never fully
 * materialized on the driver for scans or table facts.
 *
 * The class differs from [[Snapshot]] only in where a [[FileFold]] runs:
 * [[fold]] runs each fact on executors, one partial per partition, and
 * merges the partials on the driver. So every fact (counts, sizes, row and
 * column facts, the scan's surviving files, which carry their own deletion
 * vectors to the reader) keeps its one definition, and the driver holds the
 * partials: O(#matching files) for a pruned scan, O(#partition tuples)
 * for the grouped metadata rewrite, never O(#table files) of full entries.
 *
 * The small post-checkpoint JSON tail is reconciled driver-side by the
 * same [[LogReplay]] as the eager path: a tail add SHADOWS the checkpoint
 * entry for its path, a tail remove deletes it.
 *
 * [[allFiles]] materializes the whole list, and only its own callers pay
 * for it: maintenance operations (OPTIMIZE, VACUUM, listFiles) and
 * unfiltered scans, which are O(#files) by nature. A checkpoint write is
 * not one of them: executors write [[addsDataset]] into the new checkpoint
 * ([[Checkpoints]]). `delta-kernel`-style engines make the same split:
 * scans stream the checkpoint, maintenance reads it whole.
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

  /** Checkpoint adds (decoded like the eager path's checkpoint actions)
    * minus shadowed paths, plus the tail's own adds. */
  @transient private[graft] override lazy val addsDataset: Dataset[Action] = {
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

  override lazy val allFiles: Seq[AddFile] = {
    materializedFull = true
    addsDataset.collect().toSeq.flatMap(_.add)
  }

  /** One partial per partition of [[addsDataset]], merged in partition
    * order on the driver: one Spark job, and only the partials cross the
    * wire. */
  override private[delta] def fold[P](f: FileFold[P]): P =
    addsDataset.rdd
      .mapPartitions(it => Iterator[Any](FileFold.run(f, it.map(_.add.get))))
      .collect().iterator.map(_.asInstanceOf[P]).reduceOption(f.merge).getOrElse(f.zero)
}
