package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.delta._

/** Spark jobs per write kind on a 40k-row, 4-file table, with the change
  * data feed off and on. The counts are pinned, so a change that adds a
  * pass over the data to a write kind fails here, printing each kind's job
  * call sites. A write is one job: its files' stats are collected in the
  * writing tasks, never by reading them back, and a DML's deletion vectors
  * are built in one job. A checkpoint is one job per file set it writes,
  * and a commit keeps the snapshot it extends, so the next write over a
  * checkpointed table re-reads no checkpoint. */
class DmlJobsSpec extends AnyFunSuite {
  import TestSpark._

  private def rows(from: Long, until: Long) =
    spark.range(from, until).select(col("id").as("k"), (col("id") % 97).as("v"))

  /** 10 keys that match and 10 that do not. */
  private def upsertSource = rows(39990, 40010).withColumn("v", lit(-1L))
  private def deleteKeys = rows(0, 10).select(col("k"))

  /** A write kind: `run` is counted; the table is built (partitioned by
    * `p = k % 4` when `partitioned`, under `conf`) and `prep` runs first,
    * uncounted. */
  private case class Op(name: String, run: String => Any,
      partitioned: Boolean = false, conf: Map[String, String] = Map.empty,
      prep: String => Any = _ => ())

  private def log(dir: String) = DeltaLog.forPath(spark, dir)

  private val ops: Seq[Op] = Seq(
    Op("10-row append", dir => DeltaWriter.append(spark, rows(40000, 40010), dir)),
    Op("DELETE", dir => DeltaTable.forPath(spark, dir).delete(col("k") < 10)),
    Op("UPDATE", dir => DeltaTable.forPath(spark, dir)
      .update(col("k") < 10, Map("v" -> lit(-1L)))),
    Op("upsert", dir => DeltaTable.forPath(spark, dir).upsert(upsertSource, Seq("k"))),
    Op("builder MERGE", dir => DeltaTable.forPath(spark, dir).merge(upsertSource, "k")
      .whenMatchedUpdateAll().whenNotMatchedInsertAll().execute()),
    Op("mergeDelete", dir => DeltaMerge.mergeDelete(spark, log(dir), deleteKeys, Seq("k"))),
    Op("builder delete-only MERGE", dir => DeltaTable.forPath(spark, dir)
      .merge(deleteKeys, "k").whenMatchedDelete().execute()),
    Op("OPTIMIZE", dir => Optimize.compact(spark, log(dir))),
    Op("2-column ZORDER", dir => Optimize.zorder(spark, log(dir), Seq("k", "v"))),
    Op("full overwrite", dir => DeltaWriter.overwrite(spark, rows(0, 10), dir)),
    Op("replaceWhere", dir => DeltaWriter.overwrite(spark, rows(0, 10), dir,
      replaceWhere = Some(col("k") < 10))),
    Op("dynamic-partition overwrite", dir => DeltaWriter.overwrite(spark,
      rows(0, 10).withColumn("p", lit(1L)), dir, dynamicPartitions = true),
      partitioned = true),
    // versions 1 and 2 land before the counted append, which commits
    // version 3 and writes the checkpoint
    Op("append + auto-checkpoint", dir => DeltaWriter.append(spark, rows(40000, 40010), dir),
      conf = Map("delta.checkpointInterval" -> "3"),
      prep = dir => (1 to 2).foreach(_ => DeltaWriter.append(spark, rows(40000, 40010), dir))),
    // the counted append builds on the snapshot the process's own last
    // commit extended, over a checkpoint: no checkpoint re-read
    Op("append after own commit", dir => DeltaWriter.append(spark, rows(40000, 40010), dir),
      prep = dir => {
        Checkpoints.checkpoint(log(dir))
        DeltaWriter.append(spark, rows(40000, 40010), dir)
      }),
    Op("single-part checkpoint", dir => Checkpoints.checkpoint(log(dir)),
      prep = dir => DeltaWriter.append(spark, rows(40000, 40010), dir)),
    Op("V2 checkpoint", dir => Checkpoints.checkpoint(log(dir)),
      conf = Map("delta.checkpointPolicy" -> "v2"),
      prep = dir => DeltaWriter.append(spark, rows(40000, 40010), dir)))

  /** (plain, change data feed on) */
  private val pinned: Map[String, (Int, Int)] = Map(
    "10-row append" -> ((1, 1)),
    "DELETE" -> ((1, 2)),
    "UPDATE" -> ((2, 3)),
    "upsert" -> ((7, 8)),
    "builder MERGE" -> ((7, 8)),
    "mergeDelete" -> ((2, 4)),
    "builder delete-only MERGE" -> ((2, 4)),
    "OPTIMIZE" -> ((2, 2)),
    "2-column ZORDER" -> ((4, 4)),
    "full overwrite" -> ((1, 1)),
    "replaceWhere" -> ((2, 2)),
    "dynamic-partition overwrite" -> ((1, 1)),
    "append + auto-checkpoint" -> ((2, 2)),
    "append after own commit" -> ((1, 1)),
    "single-part checkpoint" -> ((1, 1)),
    "V2 checkpoint" -> ((2, 2)))

  test("Spark jobs per DML kind, change data feed off and on") {
    val sites = ops.map { op =>
      val perMode = Seq(false, true).map { cdf =>
        val dir = java.nio.file.Files.createTempDirectory("dmljobs").toString + "/t"
        val base = rows(0, 40000)
        DeltaWriter.append(spark,
          (if (op.partitioned) base.withColumn("p", col("k") % 4) else base).repartition(4),
          dir, partitionBy = if (op.partitioned) Seq("p") else Nil,
          configuration = op.conf ++
            (if (cdf) Map("delta.enableChangeDataFeed" -> "true") else Map.empty))
        op.prep(dir)
        SparkJobs.during(op.run(dir))
      }
      op.name -> ((perMode(0), perMode(1)))
    }.toMap
    val counted = sites.map { case (name, (plain, cdf)) => name -> ((plain.size, cdf.size)) }
    val table = ops.map(op =>
      f"${op.name}%-28s ${counted(op.name)._1}%3d / ${counted(op.name)._2}%3d").mkString("\n")
    info("jobs (plain / CDF):\n" + table)
    def calls = ops.filter(op => counted(op.name) != pinned(op.name)).map { op =>
      val (plain, cdf) = sites(op.name)
      s"${op.name}\n  plain: ${plain.mkString(", ")}\n  CDF:   ${cdf.mkString(", ")}"
    }.mkString("\n")
    assert(counted == pinned, "\n" + table + "\njob call sites of the kinds off their pin:\n" + calls)
  }
}
