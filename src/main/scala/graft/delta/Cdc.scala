package graft.delta

import java.util.UUID

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Change-data-feed WRITE path (`delta.enableChangeDataFeed`): row-level
 * DML stages its change rows as parquet under `_change_data/` and emits
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
   * Stage `changeDf` (table columns + `_change_type`) under
   * `_change_data/` and return the raw `cdc` action JSON lines for the
   * commit. Moved files are tracked in `moved` so a failed commit cleans
   * them up with the data files.
   */
  private[delta] def writeChangeData(
      spark: SparkSession,
      log: DeltaLog,
      snap: Snapshot,
      changeDf0: DataFrame,
      partCols0: Seq[String],
      moved: ArrayBuffer[Path]): Seq[String] = {
    // column-mapped tables: change files are keyed physically like data
    // files (incl. nested struct renames via the positional cast);
    // _change_type stays literal (a metadata column, never mapped).
    // id mode: change files must carry field ids like data files —
    // enabled per-write via a writer option, never session conf
    val writeOpts =
      if (snap.columnMappingMode == "id")
        Map("spark.sql.parquet.fieldId.write.enabled" -> "true")
      else Map.empty[String, String]
    val (changeDf, partCols) =
      if (snap.columnMappingMode == "none") (changeDf0, partCols0)
      else {
        val proj = changeDf0.select((snap.schema.fields.map { f =>
          val pf = snap.physicalField(f)
          val c = org.apache.spark.sql.functions.col(s"`${f.name}`")
          val cc = if (pf.dataType == f.dataType) c else c.cast(pf.dataType)
          cc.as(pf.name, pf.metadata)
        } :+ org.apache.spark.sql.functions.col("_change_type")).toIndexedSeq: _*)
        (proj, partCols0.map(c => snap.physicalName(
          snap.schema.fields.find(_.name.equalsIgnoreCase(c)).get)))
      }
    val fs = log.fs
    val staging = new Path(log.tablePath, s"tmp-stage-cdc-${UUID.randomUUID}")
    try {
      changeDf.write.mode("overwrite").options(writeOpts).partitionBy(partCols: _*)
        .parquet(staging.toString)
      val staged = DeltaWriter.listRecursive(fs, staging)
        .filter(_.getName.endsWith(".parquet"))
      staged.map { sf =>
        val rel = DeltaWriter.relativize(staging, sf)
        val target = new Path(new Path(log.tablePath, DIR), rel)
        fs.mkdirs(target.getParent)
        if (!fs.rename(sf, target))
          throw new IllegalStateException(s"Failed to move $sf -> $target")
        moved += target
        ActionJson.toJson(Action(AddCDCFile(s"$DIR/${DeltaWriter.encodePath(rel)}",
          DeltaWriter.partitionValuesFromPath(rel, partCols), fs.getFileStatus(target).getLen)))
      }.toSeq
    } finally {
      try fs.delete(staging, true) catch { case _: Exception => () }
    }
  }

  /** `changeDf` column layout: the table's columns plus `_change_type`. */
  private[delta] def typed(df: DataFrame, changeType: String): DataFrame =
    df.withColumn("_change_type", lit(changeType))
}
