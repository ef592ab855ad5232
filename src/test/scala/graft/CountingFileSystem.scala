package graft

import java.net.URI
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataOutputStream, FileStatus, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.SparkSession

/** The local filesystem under a private scheme that records every
  * listStatus/create/rename/delete it serves as (operation, path).
  * Address a table as `s"${CountingFileSystem.Scheme}://$absolutePath"`
  * after [[CountingFileSystem.register]]. Each call passes through
  * [[observe]] before it runs, so a subclass under its own scheme can also
  * fail the k-th call of an operation (crash-point injection). */
class CountingFileSystem extends RawLocalFileSystem {
  override def getScheme: String = CountingFileSystem.Scheme
  override def getUri: URI = URI.create(s"$getScheme:///")

  protected def observe(op: String, p: Path): Unit = CountingFileSystem.calls.add(op -> p)

  override def listStatus(f: Path): Array[FileStatus] = {
    observe("listStatus", f); super.listStatus(f)
  }
  override def create(f: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream = {
    observe("create", f); super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    observe("create", f)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    observe("rename", src); super.rename(src, dst)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    observe("delete", f); super.delete(f, recursive)
  }
}

object CountingFileSystem {
  val Scheme = "graftcount"
  val calls = new ConcurrentLinkedQueue[(String, Path)]()

  def register(spark: SparkSession): Unit =
    spark.sparkContext.hadoopConfiguration
      .set(s"fs.$Scheme.impl", classOf[CountingFileSystem].getName)

  /** Calls of `op` on a path whose last component is `name`. */
  def count(op: String, name: String): Int =
    calls.asScala.count { case (o, p) => o == op && p.getName == name }
}
