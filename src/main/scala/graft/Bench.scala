package graft

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.JsonNodeFactory
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.delta.{ActionJson, DeltaLog, DeltaTable}

/**
 * Benchmark main. Every pass runs one protocol,
 * [[measure]]: a fixed number of interleaved (reference, Spark) rounds per
 * row, reported as the median, min and IQR of the Spark seconds and of
 * the per-round ratios, with failed rounds excluded and counted.
 *
 *  - headline: the headline queries on SPARK_GRAFT_SF_DIR, Spark only.
 *  - x30 (SPARK_GRAFT_SCALE, default 30; 0 or 1 skips it and the samples):
 *    the rows of `graft/x30-rows.txt` over synthetic N× data. Each Spark
 *    round follows the same query's DuckDB run over the same data
 *    (tools/duckdb_paired.py, at Spark's core count), so both ends of a
 *    ratio come from one host window.
 *  - x100_sample / x300_sample: the same pairing over 100× and 300× dirs in
 *    which only the named fact tables replicate.
 *  - snapshot90: the 90-commit log-replay micro, Spark only.
 *
 * Fixtures are built before timing, and each row runs once on each side,
 * untimed, before its rounds. Stdout is three JSON lines: `total`,
 * `headline`, then the small `headline_core` last, so a bounded tail
 * capture keeps it whole. The same lines land in bench-rounds/latest.json
 * and the last one in bench-headline.json, under SPARK_GRAFT_BENCH_OUT
 * (default: the working directory).
 *
 * Other modes:
 *  - `--one <dir> <query>…` prints `[one] <query> <median sec> …` per query.
 *  - `--ab <conf.key>:<a>,<b> <dir> <query>…` runs the rounds with the two
 *    values of one session conf as the two sides, alternating which side
 *    runs first, and prints each side's median and IQR and the wins.
 */
object Bench {
  /** Rounds per row in every pass: fixed in advance, never widened by what
    * the rounds read. */
  val Rounds = 5

  /** Headline set: delta scan + heavy relational + pipeline operators. */
  private val headlineRows = Seq(
    "q1_agg", "delta_scan_agg", "delta_dv_scan", "delta_partition_prune",
    "q3_join", "q5_multi_join", "q_window_rank", "q_events_hourly",
    "q_sessionize", "q_correlated_subquery", "dedup_exact", "dedup_jaccard_pairs",
    "dedup_minhash_pairs", "ann_cosine_topk", "emb_centroids",
    "text_token_stats", "multimodal_features", "delta_snapshot_replay",
    "q_variant_json", "q9_profit_by_nation", "q18_large_orders",
    "q6_selective_filter", "delta_dv_delete")

  /** The x30 paired rows, read from the resource the tools read too. The
    * dedup pair queries are not among them: replicated docs are near-dups
    * by construction, so pair output explodes artificially.
    * `delta_dv_delete` is the DML row (restore + DV DELETE + survivor
    * aggregate), paired with a materialized anti-join on the DuckDB side. */
  private val scaleRows: Seq[String] = {
    val src = scala.io.Source.fromResource("graft/x30-rows.txt")
    try src.getLines().map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).toList
    finally src.close()
  }

  /** A sampled scale point: `rows` over a `factor`× dir in which only
    * `tables` replicate (every other table stays at base size). */
  private final case class Sample(factor: Int, rows: Seq[String], tables: Set[String])
  private val x100 = Sample(100, Seq("dedup_exact", "emb_centroids", "q_events_hourly",
    "q1_agg", "q18_large_orders", "q_sessionize", "q3_join", "delta_scan_agg"),
    Set("documents", "embeddings", "events", "lineitem", "orders", "customer"))
  private val x300 = Sample(300, Seq("q1_agg", "q_sessionize"), Set("lineitem", "events"))

  /** Spark's core count: SPARK_GRAFT_CPUS, else every available core. The
    * paired DuckDB side runs at the same count. */
  private val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").flatMap(_.toIntOption)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  // ---------------------------------------------------------------------
  // The protocol

  /** One round of one row: the reference side's seconds (DuckDB's in the
    * paired passes, side A's in an A/B; None when it has no timing) and
    * Spark's (None when the run threw). */
  final case class Round(ref: Option[Double], spark: Option[Double])

  final case class Stats(median: Double, min: Double, iqr: Double)

  object Stats {
    /** Quartiles interpolate linearly between ranks, so the median of an
      * even count is the mean of the middle two. */
    def of(xs: Seq[Double]): Option[Stats] =
      if (xs.isEmpty) None
      else {
        val s = xs.sorted.toIndexedSeq
        def q(p: Double): Double = {
          val pos = p * (s.size - 1)
          val lo = pos.toInt
          s(lo) + (s(math.min(lo + 1, s.size - 1)) - s(lo)) * (pos - lo)
        }
        Some(Stats(q(0.5), s.head, q(0.75) - q(0.25)))
      }
  }

  /** A row's statistics over its successful rounds only: a failed Spark
    * round's time-to-failure must not read as a fast run. */
  final case class RowResult(spark: Option[Stats], ref: Option[Stats],
      ratio: Option[Stats], failedRounds: Int, rounds: Seq[Round]) {
    def failed: Boolean = spark.isEmpty
  }

  object RowResult {
    def of(rounds: Seq[Round]): RowResult = {
      val ok = rounds.filter(_.spark.isDefined)
      RowResult(Stats.of(ok.flatMap(_.spark)), Stats.of(ok.flatMap(_.ref)),
        Stats.of(ok.collect { case Round(Some(d), Some(t)) if d > 0 => t / d }),
        rounds.size - ok.size, rounds)
    }
  }

  /** A pass's rows in run order, and the totals the output reports. */
  final case class Pass(rows: ListMap[String, RowResult]) {
    /** Each row's Spark median; rows without a successful round are left
      * out (they are `failed`). */
    def medians: ListMap[String, Double] =
      rows.collect { case (n, RowResult(Some(t), _, _, _, _)) => n -> t.median }
    def failed: Seq[String] = rows.collect { case (n, r) if r.failed => n }.toSeq
    def total: Double = medians.values.sum

    /** Paired rows whose DuckDB median disagrees with the idle baseline
      * (bench-baselines/xN_duckdb.json) by more than 3×: a burst that slows
      * only the side-runner would flatter the ratio. */
    def suspect(idle: Map[String, Double]): Seq[String] = rows.collect {
      case (n, RowResult(Some(_), Some(d), _, _, _)) if idle.get(n).exists(b =>
        d.median / math.max(b, 1e-9) > 3.0 || b / math.max(d.median, 1e-9) > 3.0) => n
    }.toSeq

    /** Spark over DuckDB, median sums over the paired rows not suspect. */
    def pairedRatio(idle: Map[String, Double]): Option[Double] = {
      val sus = suspect(idle).toSet
      val paired = rows.toSeq.collect {
        case (n, RowResult(Some(t), Some(d), _, _, _)) if !sus(n) => (t.median, d.median)
      }
      if (paired.isEmpty) None
      else Some(paired.map(_._1).sum / math.max(paired.map(_._2).sum, 1e-9))
    }

    /** Spark's medians over the idle baseline, on the rows both cover. */
    def vsIdleRatio(idle: Map[String, Double]): Option[Double] = {
      val covered = medians.toSeq.filter { case (n, _) => idle.contains(n) }
      if (covered.isEmpty) None
      else Some(covered.map(_._2).sum / math.max(covered.map(c => idle(c._1)).sum, 1e-9))
    }
  }

  /** The one bench protocol. Per row: one untimed run of each side, then
    * [[Rounds]] rounds of (ref, spark); with `alternate`, every second round
    * runs Spark first. [[Rounds]] is the only loop bound: nothing a round
    * reads decides how many rounds run. A side that throws is a missing
    * timing. */
  def measure(rows: Seq[String], ref: String => Option[Double],
      spark: String => Double, alternate: Boolean = false): Pass =
    Pass(rows.map { name =>
      def side[A](what: String)(run: => Option[A]): Option[A] =
        try run catch { case NonFatal(e) =>
          System.err.println(s"[bench] $name ($what) failed: ${e.getMessage}")
          None
        }
      def refSide() = side("reference")(ref(name))
      def sparkSide() = side("spark")(Some(spark(name)))
      refSide(); sparkSide()
      name -> RowResult.of((0 until Rounds).map { i =>
        if (alternate && i % 2 == 1) { val t = sparkSide(); Round(refSide(), t) }
        else { val d = refSide(); Round(d, sparkSide()) }
      })
    }.to(ListMap))

  private def seconds(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  /** The Spark side: one noop-sink execution of query `name` over `dir`. */
  private def query(spark: SparkSession, dir: String)(name: String): Double =
    seconds(SparkEntry.queries(name)(spark, dir).write.format("noop").mode("overwrite").save())

  // ---------------------------------------------------------------------
  // Paired DuckDB side-runner (the dev oracle over the same data, spawned
  // as a subprocess; without python or duckdb the rounds run unpaired).

  private final class DuckRunner(dataDir: String, sqlPath: String, threads: Int) {
    private var proc: Process = _
    private var toDuck: java.io.PrintWriter = _
    private var fromDuck: java.io.BufferedReader = _
    val available: Boolean =
      try {
        val pb = new ProcessBuilder(
          "python3", "tools/duckdb_paired.py", dataDir, sqlPath, threads.toString)
        pb.redirectError(ProcessBuilder.Redirect.INHERIT)
        proc = pb.start()
        toDuck = new java.io.PrintWriter(proc.getOutputStream, true)
        fromDuck = new java.io.BufferedReader(
          new java.io.InputStreamReader(proc.getInputStream))
        readLine(60000).contains("READY")
      } catch { case _: Exception => false }

    private def readLine(ms: Long): Option[String] = {
      val deadline = System.currentTimeMillis + ms
      while (!fromDuck.ready() && System.currentTimeMillis < deadline && proc.isAlive)
        Thread.sleep(25)
      if (fromDuck.ready()) Option(fromDuck.readLine()) else None
    }

    /** Timed seconds for `name`'s oracle SQL, run now (the runner warms
      * and then times it; the timed number is returned). */
    def time(name: String): Option[Double] =
      if (!available || !proc.isAlive) None
      else try {
        toDuck.println(name)
        readLine(600000).flatMap { line =>
          val parts = line.split('\t')
          if (parts.length == 3 && parts(0) == name) parts(2).toDoubleOption
          else None
        }
      } catch { case _: Exception => None }

    def close(): Unit =
      try if (proc != null && proc.isAlive) { toDuck.println("EXIT"); proc.destroy() }
      catch { case _: Exception => () }
  }

  /** The oracle SQL map (the one Verify dumps), for the side-runner. */
  private lazy val oracleSqlFile: String = {
    val path = Files.createTempFile("graft-oracle", ".json")
    path.toFile.deleteOnExit()
    val node = ActionJson.mapper.createObjectNode()
    SparkEntry.oracleSql.foreach { case (k, v) => node.put(k, v) }
    Files.writeString(path, ActionJson.mapper.writeValueAsString(node))
    path.toString
  }

  /** The rows over `dir`, each Spark round paired with DuckDB's. */
  private def pairedPass(spark: SparkSession, dir: String, rows: Seq[String]): Pass = {
    RelationalQueries.ensureViews(spark, dir)
    val duck = new DuckRunner(dir, oracleSqlFile, cpus)
    if (!duck.available)
      System.err.println(s"[bench] duckdb side-runner unavailable over $dir: rounds unpaired")
    try measure(rows.filter(SparkEntry.queries.contains), duck.time, query(spark, dir))
    finally duck.close()
  }

  /** The 90-commit snapshot-replay micro, the overhead the reference itself
    * micro-benchmarks (benchmark/micro/snapshot_performance over
    * tpch_sf1_90commits/lineitem), over the checkpoint-free 90-JSON
    * lineitem log: `no_pin` pays a full log replay inside each timing,
    * `pin` resolves the snapshot once and reuses it, and the `_filter`
    * forms add the reference's IS NOT NULL predicate. */
  private def snapshot90(spark: SparkSession, sfDir: String): Pass = {
    val p = Fixtures.delta(spark, sfDir, "lineitem", Fixtures.Many90)
    val log = DeltaLog.forPath(spark, p)
    val pinned = DeltaTable.forPath(spark, p).pin()
    def count(name: String): Double = seconds {
      val df =
        if (name.startsWith("pin")) pinned.toDF
        else { log.invalidateCache(); DeltaTable.forPath(spark, p).toDF }
      val rows =
        if (name.endsWith("_filter")) df.filter(col("l_orderkey").isNotNull).count()
        else df.count()
      require(rows > 0, "snapshot90 count must be positive")
    }
    measure(Seq("no_pin", "no_pin_filter", "pin", "pin_filter"), _ => None, count)
  }

  // ---------------------------------------------------------------------
  // Session and host facts

  /** The one session factory of the bench and the dev mains. */
  def buildSession(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      // dims and dim-scale intermediates (a pruned 300k-row customer, the
      // customer⋈orders key set) broadcast instead of shuffling the fact
      // side — the right call on a 128 GiB-executor cluster too. 24 MB and
      // not higher: the projection-ratio size estimate of the FACT table's
      // pruned columns (~27 MB at x10) must stay ABOVE the threshold, or
      // the planner builds a hash table over the fact side — backwards at
      // any scale. AQE also demotes SMJ→BHJ under this threshold at
      // runtime when the built side's shuffle stats come in small.
      .config("spark.sql.autoBroadcastJoinThreshold", (24L * 1024 * 1024).toString)
      // coalesce post-shuffle partitions toward the advisory size instead
      // of keeping parallelism-many tiny partitions: at bench scale most
      // shuffles carry a few MB and per-partition overhead dominates
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      // ... but size the advisory for CPU-bound codegen'd joins, not bulk
      // IO: the default 64 MB coalesced the x10 lineitem⋈orders SMJ input
      // (119 MB) onto 2 of 32 cores. 1 MB keeps ~all cores busy once a
      // shuffle carries real volume while still collapsing the few-KB
      // ones; interleaved A/B (4MB vs 1MB at x10, 32 cores):
      // q18 1.01→0.84s, q3 1.15→0.55s, q9 0.65→0.54s, q1/q_window/events
      // unchanged, q5 0.66→0.72s (the one small regression). Cluster
      // equivalent: advisory ≈ stage input / total cores.
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes",
        (1L * 1024 * 1024).toString)
      // split scans finer than the 128 MB default: the x10 files are
      // ~12 MB, so default packing leaves cores idle on the scan wave.
      // 16 MB ≈ input / cores here (A/B: q1 0.64→0.47s, joins unchanged;
      // 8 MB regressed q3 — per-task overhead wins below ~16 MB). Cluster
      // equivalent: size splits so scan tasks ≈ a small multiple of cores.
      .config("spark.sql.files.maxPartitionBytes", (16L * 1024 * 1024).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def loadavg1m(): Double =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.split(" ")(0).toDouble
    catch { case _: Exception => -1.0 }

  private final case class JvmHealth(codeCacheUsedMb: Long, codeCacheMaxMb: Long,
      codeCachePeakFrac: Double, jitCompileMs: Long)

  /** The code cache over the segmented CodeHeap pools: when it fills, the
    * JIT disables itself and every later plan runs interpreted. */
  private def jvmHealth(): JvmHealth = {
    val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.startsWith("CodeHeap") || p.getName == "Code Cache")
    val max = pools.map(p => math.max(p.getUsage.getMax, 0L)).sum
    JvmHealth(pools.map(_.getUsage.getUsed).sum >> 20, max >> 20,
      if (max > 0) pools.map(_.getPeakUsage.getUsed).sum.toDouble / max else 0.0,
      Option(ManagementFactory.getCompilationMXBean).map(_.getTotalCompilationTime).getOrElse(-1L))
  }

  /** The idle DuckDB baseline for the same scale data (written by
    * tools/x10_baseline.py): the DuckDB thread count it ran at and its
    * per-query seconds. */
  private[graft] final case class IdleBaseline(threads: Int, queries: Map[String, Double]) {
    /** The seconds a paired run at `t` DuckDB threads is compared against:
      * none when the baseline ran at another count, as `suspect` and
      * `vs_idle_ratio` would then compare unequal parallelism. */
    def at(t: Int): Map[String, Double] = if (t == threads) queries else Map.empty
  }

  /** None when the baseline file is absent or unreadable; a file without a
    * `threads` field compares against no thread count. */
  private def idleBaseline(factor: Int): Option[IdleBaseline] =
    try {
      val root = ActionJson.mapper.readTree(
        new java.io.File(s"bench-baselines/x${factor}_duckdb.json"))
      val q = root.get("queries")
      Some(IdleBaseline(root.path("threads").asInt(-1),
        q.fieldNames.asScala.map(k => k -> q.get(k).asDouble).toMap))
    } catch { case NonFatal(_) => None }

  // ---------------------------------------------------------------------
  // Output

  /** The `total` line: the base-sf pass, snapshot90 and host facts. */
  private final case class TotalLine(metric: String = "total", value: Double, unit: String = "sec",
      queries: ListMap[String, Double], failed: Seq[String], sf: String, cpus: Int,
      rounds: Int, loadavgStart: Double, loadavgEnd: Double, jvmHealth: JvmHealth,
      rows: ListMap[String, RowResult], snapshot90: Option[ListMap[String, RowResult]],
      snapshot90ReplayOverheadSec: Option[Double], duckdbBaseline: Option[IdleBaseline])

  /** The `headline` line; its scalars alone are the `headline_core` line.
    * `x30Total` is the scale pass's total at `scaleFactor`× (30 unless
    * SPARK_GRAFT_SCALE sets another factor); `queries` are its rows'
    * medians. `suspect` is empty and `vsIdleRatio` absent when
    * `idleBaselineThreads` differs from `duckdbThreads`. */
  private final case class HeadlineLine(metric: String, scaleFactor: Int, x30Total: Double,
      pairedRatio: Option[Double], vsIdleRatio: Option[Double], duckdbThreads: Int,
      idleBaselineThreads: Option[Int], suspect: Seq[String], failed: Seq[String],
      queries: Option[ListMap[String, Double]] = None,
      rows: Option[ListMap[String, RowResult]] = None,
      x100Sample: Option[ListMap[String, RowResult]] = None,
      x300Sample: Option[ListMap[String, RowResult]] = None) {
    def core: HeadlineLine = HeadlineLine("headline_core", scaleFactor, x30Total,
      pairedRatio, vsIdleRatio, duckdbThreads, idleBaselineThreads, suspect, failed)
  }

  private val nodes = JsonNodeFactory.instance

  /** A result value as JSON: a case class becomes an object of its fields
    * (snake_case names, None fields left out), a map an object, a sequence
    * an array, a double rounded to the millisecond. */
  private[graft] def json(v: Any): JsonNode = v match {
    case Some(x) => json(x)
    case None => nodes.nullNode()
    case d: Double =>
      if (d.isNaN || d.isInfinite) nodes.nullNode() else nodes.numberNode(math.round(d * 1000) / 1000.0)
    case i: Int => nodes.numberNode(i)
    case l: Long => nodes.numberNode(l)
    case b: Boolean => nodes.booleanNode(b)
    case s: String => nodes.textNode(s)
    case m: collection.Map[_, _] => fields(m.iterator.map { case (k, x) => k.toString -> x })
    case xs: Iterable[_] =>
      val a = nodes.arrayNode()
      xs.foreach(x => a.add(json(x)))
      a
    case p: Product =>
      fields(p.productElementNames.map(_.replaceAll("([A-Z])", "_$1").toLowerCase)
        .zip(p.productIterator))
  }

  private def fields(kvs: Iterator[(String, Any)]): JsonNode = {
    val o = nodes.objectNode()
    kvs.foreach { case (k, x) => if (x != None) o.set[JsonNode](k, json(x)) }
    o
  }

  // ---------------------------------------------------------------------
  // Modes

  private def oneMode(dir: String, qs: Seq[String]): Unit = {
    val spark = buildSession()
    RelationalQueries.ensureViews(spark, dir)
    measure(qs.distinct.filter(SparkEntry.queries.contains), _ => None, query(spark, dir))
      .rows.foreach {
        case (n, RowResult(Some(s), _, _, failedRounds, _)) =>
          println(f"[one] $n ${s.median}%.3f min ${s.min}%.3f iqr ${s.iqr}%.3f failed_rounds $failedRounds")
        case (n, _) => println(s"[one] $n failed")
      }
    spark.stop()
  }

  private val AbSpec = raw"([^:]+):([^,]*),(.*)".r

  private def abMode(spec: String, dir: String, qs: Seq[String]): Unit = {
    val (key, a, b) = spec match {
      case AbSpec(k, x, y) => (k, x, y)
      case _ => sys.error(s"--ab wants <conf.key>:<a>,<b>, got $spec")
    }
    val spark = buildSession()
    RelationalQueries.ensureViews(spark, dir)
    def under(v: String)(n: String): Double = { spark.conf.set(key, v); query(spark, dir)(n) }
    measure(qs.distinct.filter(SparkEntry.queries.contains),
      n => Some(under(a)(n)), under(b), alternate = true).rows.foreach { case (n, r) =>
        println(abLine(n, s"$key=$a", s"$key=$b", r.rounds))
      }
    spark.stop()
  }

  /** One `--ab` result line. The two sides are symmetric: each side's
    * statistics are over every round in which it succeeded, whatever the
    * other side did; wins count the rounds in which both succeeded. */
  private[graft] def abLine(name: String, a: String, b: String, rounds: Seq[Round]): String = {
    def show(xs: Seq[Option[Double]]) =
      Stats.of(xs.flatten).fold("failed")(x => f"median ${x.median}%.3f iqr ${x.iqr}%.3f")
    def wins(faster: (Double, Double) => Boolean) =
      rounds.count { case Round(Some(x), Some(y)) => faster(x, y); case _ => false }
    s"[ab] $name A($a) ${show(rounds.map(_.ref))} | B($b) ${show(rounds.map(_.spark))} | " +
      s"wins A ${wins(_ < _)} B ${wins(_ > _)} | " +
      s"failed rounds A ${rounds.count(_.ref.isEmpty)} B ${rounds.count(_.spark.isEmpty)}"
  }

  def main(args: Array[String]): Unit = args.toList match {
    case "--one" :: dir :: qs => oneMode(dir, qs)
    case "--ab" :: spec :: dir :: qs => abMode(spec, dir, qs)
    case Nil => run()
    case _ => sys.error(
      "usage: Bench | Bench --one <dir> <query>… | Bench --ab <conf.key>:<a>,<b> <dir> <query>…")
  }

  private def run(): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val scaleFactor = sys.env.get("SPARK_GRAFT_SCALE").flatMap(_.toIntOption).getOrElse(30)
    val loadStart = loadavg1m()
    val spark = buildSession()
    RelationalQueries.ensureViews(spark, sfDir)
    val base = measure(headlineRows.filter(SparkEntry.queries.contains), _ => None,
      query(spark, sfDir))

    def attempt(what: String)(pass: => Pass): Option[Pass] =
      try Some(pass) catch { case NonFatal(e) =>
        System.err.println(s"[bench] $what pass failed: ${e.getMessage}")
        None
      }
    val scaled =
      if (scaleFactor <= 1) None
      else attempt(s"x$scaleFactor")(
        pairedPass(spark, SyntheticScale.ensure(spark, sfDir, scaleFactor), scaleRows))
    def sample(s: Sample): Option[ListMap[String, RowResult]] =
      if (scaleFactor <= 1 || s.factor <= scaleFactor) None
      else attempt(s"x${s.factor}")(pairedPass(spark,
        SyntheticScale.ensure(spark, sfDir, s.factor, replicateOnly = Some(s.tables)), s.rows))
        .map(_.rows)
    val (x100Sample, x300Sample) = (sample(x100), sample(x300))
    val snap = attempt("snapshot90")(snapshot90(spark, sfDir))
    val baseline = idleBaseline(scaleFactor)
    val idle = baseline.fold(Map.empty[String, Double])(_.at(cpus))

    val total = TotalLine(value = base.total, queries = base.medians, failed = base.failed,
      sf = sfDir, cpus = cpus, rounds = Rounds, loadavgStart = loadStart,
      loadavgEnd = loadavg1m(), jvmHealth = jvmHealth(), rows = base.rows,
      snapshot90 = snap.map(_.rows),
      snapshot90ReplayOverheadSec = snap.map(s =>
        s.medians.getOrElse("no_pin", Double.NaN) - s.medians.getOrElse("pin", Double.NaN)),
      duckdbBaseline = baseline)
    val headline = scaled.map(s => HeadlineLine("headline", scaleFactor, s.total,
      s.pairedRatio(idle), s.vsIdleRatio(idle), cpus, baseline.map(_.threads),
      s.suspect(idle), s.failed,
      Some(s.medians), Some(s.rows), x100Sample, x300Sample))
    val lines = (Seq(total) ++ headline ++ headline.map(_.core))
      .map(l => ActionJson.mapper.writeValueAsString(json(l)))

    val out = Paths.get(sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", ".")).toAbsolutePath
    try {
      Files.createDirectories(out.resolve("bench-rounds"))
      Files.write(out.resolve("bench-rounds/latest.json"),
        lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
      if (headline.isDefined)
        Files.write(out.resolve("bench-headline.json"),
          (lines.last + "\n").getBytes(StandardCharsets.UTF_8))
      System.err.println(s"[bench] artifacts under $out")
    } catch { case NonFatal(e) =>
      System.err.println(s"[bench] artifact write under $out failed: ${e.getMessage}")
    }
    lines.foreach(println)
    spark.stop()
  }
}
