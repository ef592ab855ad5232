package graft.delta

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The deletion-vector build of every DML places each hit in a file of
  * the snapshot, or fails before it writes anything. */
class DvActionsSpec extends AnyFunSuite {
  import TestSpark._

  private def dvFiles(path: String): Seq[String] = {
    val s = Files.list(Paths.get(path))
    try s.iterator().asScala.map(_.getFileName.toString)
      .filter(n => n.startsWith("deletion_vector_") && n.endsWith(".bin")).toSeq
    finally s.close()
  }

  test("a hit in a parquet file the snapshot lacks fails loudly and leaves nothing") {
    import spark.implicits._
    val path = Files.createTempDirectory("graft-dvactions").toString + "/t"
    DeltaWriter.append(spark, spark.range(0, 1000).toDF().repartition(4), path)
    val log = DeltaLog.forPath(spark, path)
    val snap = log.update()
    // hits in every file of the table, plus one in a file no log names
    val known = snap.relationDF(rows = RowSelection.All).where(col("id") % 100 === 0)
      .select(col("_metadata.file_path").as("p"), col("_metadata.row_index").as("i"))
    val ghost = s"file:$path/part-00000-${java.util.UUID.randomUUID}.c000.snappy.parquet"
    val staged = ArrayBuffer.empty[Path]
    val e = intercept[Exception](DeltaDelete.dvActions(log, snap,
      known.unionByName(Seq((ghost, 0L)).toDF("p", "i")), staged))
    val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).toSeq
    assert(messages.exists(_.contains("hit in unknown file")), messages.mkString("\n"))
    assert(staged.isEmpty)
    assert(dvFiles(path).isEmpty, dvFiles(path))
    DeltaLog.clearCache()
    val after = DeltaLog.forPath(spark, path).update()
    assert(after.version == snap.version)
    assert(after.toDF.count() == 1000)

    // the same hits without the stray row build one DV per file
    val (actions, deleted) = DeltaDelete.dvActions(log, snap, known, staged)
    assert(deleted == 10)
    assert(actions.flatMap(_.add).map(_.path).toSet == snap.allFiles.map(_.path).toSet)
    assert(actions.flatMap(_.add).forall(_.deletionVector.isDefined))
    assert(staged.map(_.getName).toSet == dvFiles(path).toSet && staged.nonEmpty)
  }
}
