package layerbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.BusDrain
import org.apache.spark.sql.SparkSession

import graft.GraftExtensions
import graft.delta.{DeltaLog, DeltaTable}

/**
 * Benchmark JVM: one workload, one seed, one closed-loop client.
 *
 * {{{
 *   Main --workload olap_read --seed 1 --seconds 10 --trace 0 --dir <scratch> --out <result.json>
 * }}}
 *
 * Set-up builds the workload's tables three times; `setup_s` is the
 * median, and the measured rounds run on the last build. The measured phase
 * then runs a fixed number of rounds, sized from `--seconds` by a fixed
 * rate, never by the statistics it reports. With `--trace 1`
 * every other round is traced: the traced rounds give the per-layer counts
 * and self times, and traced against untraced rounds the tracing overhead.
 */
object Main {
  /** Measured rounds per requested second, fixed in advance. */
  private val roundsPerSecond = 0.375
  private val setupBuilds = 3
  /** Stop early rather than overrun the caller's time limit. */
  private val deadlineSeconds = 140

  /** One round: its timed seconds (None if an op threw), whether it was
    * traced, and the records of its ops. */
  final case class RoundRecord(secs: Option[Double], traced: Boolean, ops: Seq[OpRecord]) {
    def ok: Boolean = secs.isDefined && ops.forall(_.error.isEmpty)
  }

  def main(args: Array[String]): Unit = {
    val started = System.nanoTime()
    def elapsed = (System.nanoTime() - started) / 1e9
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opts("workload")
    require(Workload.names.contains(name), s"unknown workload $name")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    val traceMode = opts("trace") == "1"
    val root = Paths.get(opts("dir")).toAbsolutePath
    val cores = Runtime.getRuntime.availableProcessors()

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("layerbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", root.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", root.resolve("warehouse").toString)
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val listener = new StageListener
    spark.sparkContext.addSparkListener(listener)

    val h = new Harness(spark, seed, root)
    val w = Workload(name, h)
    // whole rotations, so every op kind runs equally often
    val rounds = w.rotation * math.max(1, math.ceil(seconds * roundsPerSecond / w.rotation).toInt)
    def runRound(i: Int): RoundRecord = {
      val first = h.records.size
      val secs = w.round(i)
      RoundRecord(secs, h.traced, h.records.drop(first).toSeq)
    }
    val sessionAt = elapsed

    // set-up: static tables once, then the workload's own tables three
    // times; the measured rounds run on the last build. No warm-up round:
    // each op kind's median absorbs its first, slower run.
    w.buildStatic()
    val setup = (0 until setupBuilds).map { b =>
      val t0 = System.nanoTime()
      w.build(h.dir(s"build$b"))
      (System.nanoTime() - t0) / 1e9
    }
    val measured = h.dir(s"build${setupBuilds - 1}")
    w.begin(measured)
    val setupAt = elapsed

    System.gc()
    val gc0 = gcMillis
    BusDrain(spark.sparkContext)
    val stages0 = listener.snapshot
    val done = ArrayBuffer.empty[RoundRecord]
    while (done.size < rounds && elapsed < deadlineSeconds) {
      // every other whole rotation, starting with the second, so traced
      // and untraced rounds run the same mix of op kinds
      h.trace.enabled = traceMode && (done.size / w.rotation) % 2 == 1
      done += runRound(done.size)
    }
    h.trace.enabled = false
    if (done.size < rounds) System.err.println(s"[layerbench] deadline: ran ${done.size} of $rounds rounds")
    BusDrain(spark.sparkContext)
    val stageDelta = listener.snapshot.zip(stages0).map { case (a, b) => (a - b).toDouble }
    val gcSeconds = (gcMillis - gc0) / 1e3
    val measuredAt = elapsed

    // after timing: answers, stored bytes, live heap
    val failures = h.records.filter(_.error.isDefined)
    failures.take(5).foreach(r =>
      System.err.println(s"[layerbench] op ${r.kind} failed: ${r.error.get.take(400)}"))
    val attempted = h.records.size
    val failed = failures.size
    describeTables(spark, Seq(h.dir("static"), measured))
    val stored = w.tables.map(t => Harness.bytesUnder(s"$measured/$t")).sum.toDouble
    val plain = w.tables.map { t =>
      val out = h.dir(s"plain-$t")
      DeltaTable.forPath(spark, s"$measured/$t").toDF.coalesce(1).write.parquet(out)
      Harness.bytesUnder(out)
    }.sum
    val heapMb = liveHeapMb()

    val ok = done.filter(_.ok)
    val untraced = ok.filterNot(_.traced).flatMap(_.secs).toSeq
    val traced = ok.filter(_.traced).flatMap(_.secs).toSeq
    val latency = ok.flatMap(_.ops).groupBy(_.kind).map { case (k, rs) => k -> rs.map(_.secs).toSeq }
    val endToEnd = Seq(
      ("setup_s", "s", Stats.median(setup)),
      ("round_s.p50", "s", typicalRound(ok.filterNot(_.traced).toSeq)),
      ("stored_bytes_ratio", "ratio", stored / plain),
      ("heap_live_mb", "MB", heapMb))
    val overhead = typicalRound(ok.filter(_.traced).toSeq) / typicalRound(ok.filterNot(_.traced).toSeq)
    val metrics =
      if (traceMode) new Report(h, done.size, traced, untraced, latency, attempted, failed,
        stageDelta, gcSeconds, overhead).perLayer
      else endToEnd

    val correct = failures.isEmpty && untraced.nonEmpty
    println(f"[layerbench] $name seed=$seed rounds=${done.size} ok_rounds=${ok.size} " +
      f"attempted=$attempted failed=$failed " +
      f"phases(s): session=$sessionAt%.1f setup=${setupAt - sessionAt}%.1f " +
      f"measure=${measuredAt - setupAt}%.1f after=${elapsed - measuredAt}%.1f")
    println(f"[layerbench] setup builds(s): ${setup.map(s => f"$s%.2f").mkString(" ")}; " +
      f"rounds(s): ${untraced.map(s => f"$s%.2f").mkString(" ")}")
    latency.toSeq.sortBy(_._1).foreach { case (k, xs) =>
      println(f"[layerbench] op $k%-16s p50 ${Stats.median(xs)}%.4f s  n=${xs.size}")
    }
    metrics.foreach { case (m, unit, v) => println(f"[layerbench] $m%-36s $v%.6g $unit") }
    if (traceMode) h.trace.write(opts("spans"))
    val json = metrics.map { case (m, unit, v) =>
      s""""$m": {"value": ${jsonNumber(v)}, "unit": "$unit"}"""
    }.mkString("{", ", ", "}")
    Files.writeString(Paths.get(opts("out")),
      s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": $json}""")
    spark.stop()
  }

  /** The time of a typical round: each op kind's median latency, weighted
    * by how often a round runs it (a kind in a rotation runs every n-th
    * round). Robust to a slow round, and fair to rotations. */
  private def typicalRound(rounds: Seq[RoundRecord]): Double =
    if (rounds.isEmpty) 0.0
    else rounds.flatMap(_.ops).groupBy(_.kind).values
      .map(rs => Stats.median(rs.map(_.secs)) * rs.size).sum / rounds.size

  /** One line per Delta table at the end of the run: its size and log. */
  private def describeTables(spark: SparkSession, dirs: Seq[String]): Unit =
    for (d <- dirs; t <- Option(new java.io.File(d).listFiles).toSeq.flatten.sortBy(_.getName)
         if new java.io.File(t, "_delta_log").isDirectory) {
      val log = DeltaLog.forPath(spark, t.getPath)
      val snap = log.update()
      println(s"[layerbench] table ${t.getName}: version ${snap.version}, " +
        s"${snap.fileCount} files, ${snap.sizeInBytes} bytes, ${snap.exactRowCount.getOrElse(-1L)} rows, " +
        s"last checkpoint ${log.lastCheckpointVersion().getOrElse(-1L)}")
    }

  private def jsonNumber(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)

  private def gcMillis: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  private def liveHeapMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}

/** The per-layer metrics of a traced run. */
final class Report(h: Harness, rounds: Int, traced: Seq[Double], untraced: Seq[Double],
    latency: Map[String, Seq[Double]], attempted: Int, failed: Int,
    stages: Seq[Double], gcSeconds: Double, traceOverhead: Double) {
  private val c = h.counters
  private val tracedRounds = math.max(1, traced.size)
  private def perRound(n: String) = c.sum(n) / tracedRounds
  private def lat(op: String*) = op.flatMap(o => latency.getOrElse(o, Nil))
  private def ratio(a: Double, b: Double) = if (b == 0) 0.0 else a / b

  def perLayer: Seq[(String, String, Double)] = {
    val self = h.trace.selfSeconds
    val latencies = Seq(
      "append_s" -> lat("append"), "poll_read_s" -> lat("poll_read"),
      "cold_read_s" -> lat("cold_read"),
      "dml_s" -> lat("dml_delete", "dml_update", "dml_merge"), "dv_read_s" -> lat("dv_read"))
      .flatMap { case (n, xs) =>
        Seq((s"$n.p50", "s", Stats.median(xs)), (s"$n.tail", "s", Stats.tail(xs)))
      }
    val pushdown = Seq("constant", "none", "dynamic", "generated").map(k =>
      (s"planning.pushdown_events.$k", "count", perRound(s"planning.pushdown_events.$k")))
    latencies ++ Seq(
      ("round_s.tail", "s", Stats.tail(untraced)),
      ("fail_ratio", "ratio", ratio(failed, attempted)),
      ("samples.rounds", "count", untraced.size.toDouble),
      ("samples.tail_pct", "%", Stats.tailPct(untraced.size)),
      ("snapshot.cold_s", "s", c.median("snapshot.cold_s")),
      ("snapshot.poll_s", "s", c.median("snapshot.poll_s")),
      ("snapshot.json_tail", "count", c.median("snapshot.json_tail")),
      ("snapshot.files", "count", c.median("snapshot.files")),
      ("snapshot.checkpoints_written", "count", c.sum("snapshot.checkpoints_written")),
      ("snapshot.checkpoint_stall_s", "s",
        if (c.values("append_ckpt_s").isEmpty) 0.0
        else c.median("append_ckpt_s") - c.median("append_plain_s")),
      ("snapshot.cache_hit_ratio", "ratio",
        ratio(c.sum("snapshot.hits"), c.sum("snapshot.hits") + c.sum("snapshot.misses"))),
      ("planning.plan_s", "s", c.median("planning.plan_s")),
      ("planning.list_s", "s", c.median("planning.list_s")),
      ("planning.files_total", "count", perRound("planning.files_total")),
      ("planning.files_read", "count", perRound("planning.files_read")),
      ("planning.bytes_read", "bytes", perRound("planning.bytes_read")),
      ("planning.skip_ratio", "ratio",
        if (c.sum("planning.files_total") == 0) 0.0
        else 1 - c.sum("planning.files_read") / c.sum("planning.files_total"))) ++
      pushdown ++ Seq(
      ("scan.s", "s", perRound("scan.s")),
      ("scan.rows", "count", perRound("scan.rows")),
      ("scan.dv_rows_dropped", "count", perRound("scan.dv_rows_dropped")),
      ("scan.parquet_twin_s", "s", c.median("scan.parquet_twin_s")),
      ("scan.delta_overhead_s", "s", c.median("scan.delta_overhead_s")),
      ("operators.stage_s", "s", stages(0) / 1e9 / rounds),
      ("operators.task_cpu_s", "s", stages(1) / 1e9 / rounds),
      ("operators.shuffle_write_bytes", "bytes", stages(2) / rounds),
      ("operators.shuffle_read_bytes", "bytes", stages(3) / rounds),
      ("operators.spill_bytes", "bytes", stages(4) / rounds),
      ("operators.tier_fired", "count", perRound("operators.tier_fired")),
      ("commit.log_bytes", "bytes", perRound("commit.log_bytes")),
      ("commit.data_bytes", "bytes", perRound("commit.data_bytes")),
      ("commit.files_added", "count", perRound("commit.files_added")),
      ("commit.actions", "count", perRound("commit.actions")),
      ("commit.versions_per_op", "count", c.median("commit.versions_per_op")),
      ("commit.delete_s", "s", Stats.median(lat("dml_delete"))),
      ("commit.update_s", "s", Stats.median(lat("dml_update"))),
      ("commit.merge_s", "s", Stats.median(lat("dml_merge"))),
      ("commit.dv_files_written", "count", perRound("commit.dv_files_written")),
      ("commit.dv_bytes_written", "bytes", perRound("commit.dv_bytes_written")),
      ("commit.files_rewritten", "count", perRound("commit.files_rewritten")),
      ("pipeline.exact_s", "s", Stats.median(lat("exact"))),
      ("pipeline.jaccard_s", "s", Stats.median(lat("jaccard"))),
      ("pipeline.minhash_s", "s", Stats.median(lat("minhash"))),
      ("pipeline.ann_s", "s", Stats.median(lat("ann"))),
      ("pipeline.pairs_out", "count", perRound("pipeline.pairs_out")),
      ("jvm.gc_s", "s", gcSeconds / rounds),
      ("jvm.code_cache_mb", "MB", codeCacheMb),
      ("jvm.pushdown_log_len", "count", Stats.median(c.values("jvm.pushdown_log_len"))),
      ("trace.overhead_ratio", "ratio", traceOverhead)) ++
      Seq("bench", "snapshot", "planning", "operators", "commit", "pipeline").map(l =>
        (s"self_s.$l", "s", self.getOrElse(l, 0.0) / tracedRounds))
  }

  private def codeCacheMb: Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getName.toLowerCase.contains("code")).map(_.getUsage.getUsed).sum / 1048576.0
}
