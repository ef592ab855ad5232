package graft.delta

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField}

/**
 * Change-data-feed WRITE path (`delta.enableChangeDataFeed`): row-level
 * DML writes its change rows as parquet under `_change_data/` and emits
 * `cdc` actions in the same commit, per the protocol's Change Data Files
 * section. Readers (ours — DeltaTable.changes — and foreign engines) then
 * take the cdc files as authoritative instead of deriving changes from
 * add/remove/DV diffs. Insert-only commits (blind appends) omit cdc files
 * per protocol — readers derive inserts from the adds directly.
 *
 * The reference never writes CDF (its catalog rejects all DML); this is
 * interop surface for tables OTHER engines will read.
 *
 * Scale shape: change rows are written by executors exactly like data
 * files (same partitioning), one commit; nothing driver-side scales with
 * row count.
 */
object Cdc {

  val DIR = "_change_data"

  def enabled(snap: Snapshot): Boolean =
    snap.metadata.configuration.get("delta.enableChangeDataFeed")
      .exists(_.equalsIgnoreCase("true"))

  /**
   * Write `changeDf` (table columns + `_change_type`) in place under
   * `_change_data/` and return the raw `cdc` action JSON lines for the
   * commit. Written files are tracked in `staged` so a failed commit
   * cleans them up with the data files.
   */
  private[delta] def writeChangeData(
      spark: SparkSession,
      log: DeltaLog,
      snap: Snapshot,
      changeDf0: DataFrame,
      partCols0: Seq[String],
      staged: ArrayBuffer[Path]): Seq[String] = {
    // column-mapped tables: change files are keyed physically like data
    // files (incl. field ids in id mode); _change_type stays literal (a
    // metadata column, never mapped)
    val (changeDf, _, partCols, writeOpts) = DeltaWriter.toPhysical(Some(snap), snap.schema,
      changeDf0, partCols0, Seq(StructField("_change_type", StringType)))
    InPlaceWrite(spark, changeDf, new Path(log.tablePath, DIR), partCols, writeOpts,
      snap.metadata.configuration, Nil, staged).map { w =>
      ActionJson.toJson(Action(AddCDCFile(s"$DIR/${DeltaWriter.encodePath(w.path)}",
        w.partitionValues, w.size)))
    }
  }

  /** `changeDf` column layout: the table's columns plus `_change_type`. */
  private[delta] def typed(df: DataFrame, changeType: String): DataFrame =
    df.withColumn("_change_type", lit(changeType))
}
