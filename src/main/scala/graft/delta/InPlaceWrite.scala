package graft.delta

import java.io.FileNotFoundException
import java.util.UUID
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{JobContext, TaskAttemptContext}
import org.apache.spark.SparkContext
import org.apache.spark.internal.io.FileCommitProtocol.TaskCommitMessage
import org.apache.spark.internal.io.{FileCommitProtocol, FileNameSpec}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd, SparkListenerTaskStart}
import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge, SparkSession, classic}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Attribute, BoundReference, Cast, JoinedRow, MutableProjection, SpecificInternalRow, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, DeclarativeAggregate}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LocalRelation}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.{FileFormatWriter, WriteJobStatsTracker, WriteTaskStats, WriteTaskStatsTracker}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StringType

/** One written parquet file: its path under the write's root (Hive-escaped
  * partition dirs, not URL-encoded), partition values, size, modification
  * time, row count and the values of the write's stats aggregates. */
private[delta] final case class WrittenFile(path: String, partitionValues: Map[String, String],
    size: Long, modificationTime: Long, numRecords: Long, stats: Seq[Any])

/**
 * One Spark job that writes a frame as parquet at its final paths under
 * `root` and returns every file with its stats — the analog of the
 * reference's parquet COPY, whose WRITTEN_FILE_STATISTICS rows come from
 * the copy itself (delta_insert.cpp:114-247). [[InPlaceCommitProtocol]]
 * writes the files in place (no staging dir, no rename) and
 * [[FileStatsTracker]] aggregates their stats in the writing task, so no
 * file is read back.
 */
private[delta] object InPlaceWrite {

  /**
   * @param stats aggregates over the written rows (partition columns
   *   excluded); each file's values come back in this order
   * @param staged the [[ConflictChecker.staging]] buffer: each task's files
   *   join it as the task commits, so a write that fails afterwards (in
   *   another task, a constraint, the commit) deletes them again
   */
  def apply(spark: SparkSession, df: DataFrame, root: Path, partCols: Seq[String],
      writeOptions: Map[String, String], tableConf: Map[String, String],
      stats: Seq[Column], staged: ArrayBuffer[Path]): Seq[WrittenFile] = {
    // delta.enableVariantShredding governs the PHYSICAL variant layout both
    // ways: Spark 4.1 shreds variant writes by default, which would put
    // shredded files into tables advertising only variantType, a layout
    // spec-conformant foreign readers may refuse. The toggle is set on a
    // cloneSession() fork, so concurrent variant writes to tables with
    // opposite settings cannot race each other's layout through the
    // caller's session conf.
    val toWrite =
      if (!ProtocolGate.typeFeatures(df.schema).contains("variantType")) df
      else {
        val ws = GraftColumnBridge.cloneSession(spark)
        Seq("spark.sql.variant.writeShredding.enabled", "spark.sql.variant.inferShreddingSchema")
          .foreach(ws.conf.set(_, DeltaWriter.shreddingEnabled(tableConf).toString))
        GraftColumnBridge.ofRows(ws, df.queryExecution.analyzed)
      }
    val output = toWrite.queryExecution.analyzed.output
    val partAttrs = partCols.map(c => output.find(_.name.equalsIgnoreCase(c)).getOrElse(
      throw new IllegalArgumentException(s"unknown partition column $c")))
    val dataAttrs = output.filterNot(a => partAttrs.exists(_.exprId == a.exprId))
    val aggs = if (stats.isEmpty) Nil else
      GraftColumnBridge.ofRows(spark, LocalRelation(dataAttrs)).agg(stats.head, stats.tail: _*)
        .queryExecution.analyzed.collectFirst { case a: Aggregate => a }.get
        .aggregateExpressions.map(_.collectFirst {
          case ae: AggregateExpression => ae.aggregateFunction.asInstanceOf[DeclarativeAggregate]
        }.get)
    val tracker = new FileStatsTracker(dataAttrs, partAttrs, aggs,
      spark.conf.get("spark.sql.session.timeZone"))
    val committer = new InPlaceCommitProtocol(root.toString, partCols.size,
      spark.sparkContext, staged)
    // hadoop conf and options as InsertIntoHadoopFsRelationCommand builds
    // them (id-mode field ids ride the options)
    val qe = toWrite.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("parquet write")) {
      FileFormatWriter.write(toWrite.sparkSession.asInstanceOf[classic.SparkSession],
        qe.executedPlan, new ParquetFileFormat, committer,
        FileFormatWriter.OutputSpec(root.toString, Map.empty, output),
        toWrite.sparkSession.sessionState.newHadoopConfWithOptions(writeOptions), partAttrs,
        bucketSpec = None, statsTrackers = Seq(tracker), options = writeOptions)
    }
    val byName = tracker.files.map(f => f.name -> f).toMap
    val toScala = aggs.map(a => CatalystTypeConverters.createToScalaConverter(a.dataType))
    committer.committed.sortBy(_.path).toSeq.map { c =>
      val t = byName(new Path(c.path).getName)
      WrittenFile(c.path, t.partitionValues, c.size, c.modificationTime, t.numRecords,
        aggs.indices.map(i => toScala(i)(t.values.get(i, aggs(i).dataType))))
    }
  }

  /** A committed file, as its task reports it. */
  final case class Committed(path: String, size: Long, modificationTime: Long)

  /** A file's partition values, row count and aggregate values. */
  final case class FileResult(name: String, partitionValues: Map[String, String],
      numRecords: Long, values: UnsafeRow)
  final case class TaskFiles(files: Seq[FileResult]) extends WriteTaskStats
}

/**
 * Commit protocol that writes every file at its final
 * `<partition dir>/part-<split>-<token>-<uuid>.parquet` path (the shape of
 * delta-spark's `DelayedCommitProtocol`): the Delta commit, not a file
 * move, makes a file visible. A task commit reports each file's relative
 * path, size and modification time, and [[onTaskCommit]] adds it to
 * `staged` on the driver; a task abort deletes the task's files; job
 * commit touches no file.
 *
 * A task of a failed job may still commit its file after the job failed,
 * and Spark drops that commit message. So the job abort waits until every
 * task of the write has ended ([[WriteTasks]]) and then deletes every file
 * named with the write's `token`.
 */
private[delta] final class InPlaceCommitProtocol(
    root: String, partitionDepth: Int,
    @transient private val sc: SparkContext,
    @transient private val staged: ArrayBuffer[Path])
  extends FileCommitProtocol with Serializable {
  import InPlaceWrite.Committed

  private val token = UUID.randomUUID.toString
  @transient private[delta] val committed = ArrayBuffer.empty[Committed]
  @transient private var taskFiles: ArrayBuffer[String] = _
  @transient private var tasks: WriteTasks = _

  override def setupJob(job: JobContext): Unit = {
    tasks = new WriteTasks(sc.getLocalProperty(SQLExecution.EXECUTION_ID_KEY))
    sc.addSparkListener(tasks)
  }

  override def commitJob(job: JobContext, taskCommits: Seq[TaskCommitMessage]): Unit =
    sc.removeSparkListener(tasks)

  override def abortJob(job: JobContext): Unit = {
    try tasks.awaitEnded(sc) finally sc.removeSparkListener(tasks)
    val fs = new Path(root).getFileSystem(job.getConfiguration)
    // the write's files sit `partitionDepth` partition dirs below the root
    def sweep(dir: Path, depth: Int): Unit = fs.listStatus(dir).foreach { st =>
      val name = st.getPath.getName
      if (st.isDirectory) { if (depth > 0 && name.contains("=")) sweep(st.getPath, depth - 1) }
      else if (name.contains(token)) fs.delete(st.getPath, false)
    }
    try sweep(new Path(root), partitionDepth) catch { case _: FileNotFoundException => () }
  }

  override def setupTask(task: TaskAttemptContext): Unit = taskFiles = ArrayBuffer.empty

  override def newTaskTempFile(task: TaskAttemptContext, dir: Option[String],
      spec: FileNameSpec): String = {
    val split = task.getTaskAttemptID.getTaskID.getId
    val name = f"${spec.prefix}part-$split%05d-$token-${UUID.randomUUID}${spec.suffix}"
    val rel = dir.fold(name)(d => s"$d/$name")
    taskFiles += rel
    new Path(root, rel).toString
  }

  override def commitTask(task: TaskAttemptContext): TaskCommitMessage = {
    val fs = new Path(root).getFileSystem(task.getConfiguration)
    new TaskCommitMessage(taskFiles.toSeq.map { rel =>
      val st = fs.getFileStatus(new Path(root, rel))
      Committed(rel, st.getLen, st.getModificationTime)
    })
  }

  override def abortTask(task: TaskAttemptContext): Unit = {
    val fs = new Path(root).getFileSystem(task.getConfiguration)
    taskFiles.foreach(rel =>
      try fs.delete(new Path(root, rel), false) catch { case NonFatal(_) => () })
  }

  override def onTaskCommit(msg: TaskCommitMessage): Unit =
    msg.obj.asInstanceOf[Seq[Committed]].foreach { c =>
      staged += new Path(root, c.path)
      committed += c
    }
}

/** The running tasks of the Spark jobs one SQL execution starts, counted
  * from the listener bus. */
private final class WriteTasks(executionId: String) extends SparkListener {
  private val stages = ConcurrentHashMap.newKeySet[Int]()
  private val running = new AtomicInteger

  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (Option(e.properties).exists(_.getProperty(SQLExecution.EXECUTION_ID_KEY) == executionId))
      e.stageIds.foreach(stages.add)
  override def onTaskStart(e: SparkListenerTaskStart): Unit =
    if (stages.contains(e.stageId)) running.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (stages.contains(e.stageId)) running.decrementAndGet()

  /** Wait, at most two minutes, until every task started so far has
    * ended. A failed job's tasks have all been started (and their starts
    * posted) by the time the job's failure returns. */
  def awaitEnded(sc: SparkContext): Unit = {
    val deadline = System.currentTimeMillis() + 120000
    try GraftColumnBridge.drainListenerBus(sc) catch { case NonFatal(_) => () }
    while (running.get > 0 && System.currentTimeMillis() < deadline) Thread.sleep(20)
  }
}

/**
 * Per-file partition values, row count and stats aggregates, computed in
 * the task that writes the file (the shape of delta-spark's
 * `DeltaJobStatisticsTracker`): each aggregate's buffer is initialized on
 * `newFile`, updated by its `DeclarativeAggregate` update expressions on
 * every `newRow` and evaluated on `closeFile`. Partition values are the
 * strings Spark names the partition directory after (empty → null, as the
 * Hive default partition reads back).
 */
private[delta] final class FileStatsTracker(dataAttrs: Seq[Attribute],
    partAttrs: Seq[Attribute], aggs: Seq[DeclarativeAggregate], timeZoneId: String)
  extends WriteJobStatsTracker {
  import InPlaceWrite.{FileResult, TaskFiles}

  /** Every file of the job, on the driver once the job committed. */
  @transient private[delta] var files: Seq[FileResult] = Nil

  override def newTaskInstance(): WriteTaskStatsTracker = new Task
  override def processStats(stats: Seq[WriteTaskStats], jobCommitTime: Long): Unit =
    files = stats.flatMap(_.asInstanceOf[TaskFiles].files)

  private final class Task extends WriteTaskStatsTracker {
    private val bufferAttrs = aggs.flatMap(_.aggBufferAttributes)
    private val init = MutableProjection.create(aggs.flatMap(_.initialValues))
    private val update =
      MutableProjection.create(aggs.flatMap(_.updateExpressions), bufferAttrs ++ dataAttrs)
    private val result = UnsafeProjection.create(aggs.map(_.evaluateExpression), bufferAttrs)
    private val partStrings = UnsafeProjection.create(partAttrs.zipWithIndex.map {
      case (a, i) => Cast(BoundReference(i, a.dataType, nullable = true), StringType, Some(timeZoneId))
    })
    private val joined = new JoinedRow
    private var partition = Map.empty[String, String]
    private final class Open(val partition: Map[String, String], val buffer: InternalRow) {
      var rows = 0L
    }
    private val open = mutable.HashMap.empty[String, Open]
    private val done = ArrayBuffer.empty[FileResult]

    override def newPartition(values: InternalRow): Unit = {
      val s = partStrings(values)
      partition = partAttrs.indices.map(i => partAttrs(i).name ->
        Option(s.getUTF8String(i)).map(_.toString).filter(_.nonEmpty).orNull).toMap
    }

    override def newFile(path: String): Unit = open(path) = new Open(partition,
      init.target(new SpecificInternalRow(bufferAttrs.map(_.dataType))).apply(InternalRow.empty))

    override def newRow(path: String, row: InternalRow): Unit = {
      val f = open(path)
      f.rows += 1
      if (aggs.nonEmpty) update.target(f.buffer).apply(joined(f.buffer, row))
    }

    override def closeFile(path: String): Unit = open.remove(path).foreach(f =>
      done += FileResult(new Path(path).getName, f.partition, f.rows, result(f.buffer).copy()))

    override def getFinalStats(taskCommitTime: Long): WriteTaskStats = {
      open.keys.toSeq.foreach(closeFile)
      TaskFiles(done.toSeq)
    }
  }
}
