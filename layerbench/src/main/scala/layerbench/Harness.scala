package layerbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.delta.{DeltaLog, GraftFileIndex, GraftMetrics, Snapshot}
import graft.plans.GraftColumnarPartialAggExec

/**
 * What every workload shares: timed ops with answer checks, the traced
 * extras that run after an op (outside its timing), and file helpers.
 *
 * An op is timed from the first call into the library to the last. Its
 * answer is checked after the measured phase against answers computed
 * without the Delta layer; an op that throws or answers wrongly counts as
 * failed, and its time is left out of every latency.
 */
final class Harness(val spark: SparkSession, val seed: Long, val root: Path) {
  val trace = new Trace
  val counters = new Counters
  val records = mutable.ArrayBuffer.empty[OpRecord]
  val rng = new scala.util.Random(seed)

  def traced: Boolean = trace.enabled

  /** Runs one timed op. Returns its result and seconds, or None if it
    * threw. The answer check is kept with the op's record and runs after
    * the measured phase, once the expected answers have been computed. */
  def op[T](kind: String)(body: => T)(check: T => Option[String]): Option[(T, Double)] = {
    trace.nextOp()
    val t0 = System.nanoTime()
    val result = try Right(trace(s"bench.$kind")(body)) catch { case NonFatal(e) => Left(e) }
    val secs = (System.nanoTime() - t0) / 1e9
    afterOp()
    records += new OpRecord(kind, secs, traced, result match {
      case Left(e) => () => Some(e.toString)
      case Right(r) => () => check(r)
    })
    result.toOption.map(r => (r, secs))
  }

  // ---------------- snapshot layer ----------------

  private val lastSnapshot = mutable.Map.empty[DeltaLog, Snapshot]
  private val resolved = mutable.ArrayBuffer.empty[(DeltaLog, Snapshot)]

  /** `update()` on `log`; traced runs time it as a cold or cached resolve. */
  def resolve(log: DeltaLog, cold: Boolean = false): Snapshot = {
    val t0 = System.nanoTime()
    val snap = trace("snapshot.update")(log.update())
    if (traced) {
      counters.sample(if (cold) "snapshot.cold_s" else "snapshot.poll_s",
        (System.nanoTime() - t0) / 1e9)
      for (prev <- lastSnapshot.get(log) if !cold)
        counters.add(if (prev eq snap) "snapshot.hits" else "snapshot.misses", 1)
      resolved += ((log, snap))
    }
    if (!cold) lastSnapshot(log) = snap
    snap
  }

  def deltaDF(path: String): DataFrame = resolve(DeltaLog.forPath(spark, path)).toDF

  /** Per-op bookkeeping outside the timing: snapshot shape of what the op
    * resolved, and the pushdown log, which is read (when traced) and
    * cleared after every op so it cannot grow with the run. */
  private def afterOp(): Unit = {
    if (traced) {
      resolved.foreach { case (log, snap) =>
        counters.sample("snapshot.files", snap.fileCount.toDouble)
        counters.sample("snapshot.json_tail",
          (snap.version - log.lastCheckpointVersion().getOrElse(-1L)).toDouble)
        counters.add("scan.dv_rows_dropped",
          snap.allFiles.flatMap(_.deletionVector).map(_.cardinality).sum.toDouble)
      }
      val events = GraftMetrics.pushdownLog(spark).collect()
      counters.sample("jvm.pushdown_log_len", events.length.toDouble)
      events.foreach(r => counters.add(s"planning.pushdown_events.${r.getAs[String]("filterType")}", 1))
    }
    resolved.clear()
    GraftMetrics.clear()
  }

  // ---------------- planning, scan and operator layers ----------------

  /** Plans `df` and collects it, as two spans. */
  def collect(df: DataFrame): Seq[Seq[Any]] = {
    trace("planning.plan") {
      val t0 = System.nanoTime()
      df.queryExecution.executedPlan
      if (traced) counters.sample("planning.plan_s", (System.nanoTime() - t0) / 1e9)
    }
    trace("operators.execute")(df.collect()).toSeq.map(_.toSeq)
  }

  /** Traced extras for an executed query: scan-node metrics, the tier
    * marker, and a direct `listFiles` with each Delta scan's filters
    * (under AQE listing runs inside execution, so only a direct call can
    * time it). */
  def scanExtras(df: DataFrame): Unit = if (traced) {
    val plan = df.queryExecution.executedPlan
    val nodes = Plans.nodes(plan)
    if (nodes.exists(_.isInstanceOf[GraftColumnarPartialAggExec]))
      counters.add("operators.tier_fired", 1)
    nodes.collect { case s: org.apache.spark.sql.execution.FileSourceScanExec => s }.foreach { s =>
      counters.add("scan.s", Plans.metric(s, "scanTime") / 1e3)
      counters.add("scan.rows", Plans.metric(s, "numOutputRows").toDouble)
      s.relation.location match {
        case idx: GraftFileIndex =>
          counters.add("planning.files_total", idx.inputFiles.length.toDouble)
          counters.add("planning.files_read", Plans.metric(s, "numFiles").toDouble)
          counters.add("planning.bytes_read", Plans.metric(s, "filesSize").toDouble)
          val t0 = System.nanoTime()
          trace("extra.list_files")(idx.listFiles(s.partitionFilters, s.dataFilters))
          counters.sample("planning.list_s", (System.nanoTime() - t0) / 1e9)
        case _ =>
      }
    }
    GraftMetrics.clear()
  }

  // ---------------- commit layer ----------------

  private val seenDvFiles = mutable.Set.empty[String]

  /** Traced extras for a write that moved `log` from `before` to `after`. */
  def commitExtras(log: DeltaLog, before: Long, after: Long): Unit = if (traced) {
    counters.sample("commit.versions_per_op", (after - before).toDouble)
    (before + 1 to after).foreach { v =>
      val actions = log.readCommit(v)
      counters.add("commit.log_bytes", log.fs.getFileStatus(log.commitFile(v)).getLen.toDouble)
      counters.add("commit.actions", actions.size.toDouble)
      val adds = actions.flatMap(_.add)
      val removed = actions.flatMap(_.remove).map(_.decodedPath).toSet
      val fresh = adds.filterNot(a => removed.contains(a.decodedPath))
      counters.add("commit.files_added", fresh.size.toDouble)
      counters.add("commit.data_bytes", fresh.map(_.size).sum.toDouble)
      val readded = adds.map(_.decodedPath).toSet
      counters.add("commit.files_rewritten", removed.count(p => !readded.contains(p)).toDouble)
      val newDvs = adds.flatMap(_.deletionVector).filter(_.storageType == "u")
        .filterNot(d => seenDvFiles.contains(d.uniqueId)).distinctBy(_.uniqueId)
      seenDvFiles ++= newDvs.map(_.uniqueId)
      counters.add("commit.dv_files_written", newDvs.map(_.pathOrInlineDv).distinct.size.toDouble)
      counters.add("commit.dv_bytes_written", newDvs.map(_.sizeInBytes.toLong).sum.toDouble)
    }
  }

  // ---------------- answers and files ----------------

  def withTierOff[T](body: => T): T = {
    val key = "spark.graft.columnar.partialAgg"
    spark.conf.set(key, "false")
    try body finally spark.conf.set(key, "true")
  }

  def dir(name: String): String = root.resolve(name).toString
}

/** One timed op. An op that threw or answered wrongly is failed; its time
  * is left out of every latency, and so is its round. */
final class OpRecord(val kind: String, val secs: Double, val traced: Boolean,
    check: () => Option[String]) {
  private var checks = List(check)
  def addCheck(c: () => Option[String]): Unit = checks ::= c
  lazy val error: Option[String] = checks.reverseIterator.map { c =>
    try c() catch { case NonFatal(e) => Some(s"check threw $e") }
  }.collectFirst { case Some(e) => e }
}

object Harness {
  /** None when equal; doubles agree to 1e-9 relative, other values exactly. */
  def diff(got: Seq[Seq[Any]], want: Seq[Seq[Any]]): Option[String] = {
    def same(a: Any, b: Any): Boolean = (a, b) match {
      case (x: Double, y: Double) => x == y || math.abs(x - y) <= 1e-9 * math.max(1.0, math.abs(y))
      case (x: Float, y: Float) => same(x.toDouble, y.toDouble)
      case _ => a == b
    }
    if (got.size != want.size) Some(s"${got.size} rows, expected ${want.size}")
    else got.zip(want).zipWithIndex.collectFirst {
      case ((g, w), i) if g.size != w.size || !g.zip(w).forall { case (a, b) => same(a, b) } =>
        s"row $i is ${g.mkString("[", ",", "]")}, expected ${w.mkString("[", ",", "]")}"
    }
  }

  def bytesUnder(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
  }
}
