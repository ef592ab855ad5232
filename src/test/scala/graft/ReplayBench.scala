package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, GreaterThanOrEqual, LessThanOrEqual, Literal}
import org.apache.spark.sql.types.{LongType, StringType, StructType}

import graft.delta._

/**
 * Many-file-scale snapshot micro-bench: replay a synthetic log whose
 * checkpoint carries N add actions (default 1M — the shape of a ~100 TB
 * table) and stats-prune it, timing both. The checkpoint is GENERATED
 * DISTRIBUTED (a Spark job writes the parts; the driver never materializes
 * N actions while building), exercising the same multi-part decode path
 * real snapshots use. Run: sbt "Test/runMain graft.ReplayBench [n]"
 */
object ReplayBench {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(1000000)
    val spark = TestSpark.spark
    val dir = java.nio.file.Files.createTempDirectory("graft-replay-bench").toString + "/t"
    val path = SyntheticLog.build(spark, dir, n)

    // selective bounds over the synthetic per-file ranges → ~10 files survive
    val k = AttributeReference("k", LongType, nullable = true)()
    val lo = (n / 2).toLong * 10000L
    val filters = Seq(
      GreaterThanOrEqual(k, Literal(lo)),
      LessThanOrEqual(k, Literal(lo + 99999L)))

    // ---- Dataset-backed (lazy) path: the driver never materializes the
    // file list; the stats keeper ships to executors, survivors collect.
    // A threshold of 1 makes any checkpoint-backed log lazy ----
    spark.conf.set("spark.graft.lazySnapshot.minActions", "1")
    DeltaLog.clearCache()
    val log = DeltaLog.forPath(spark, path)
    var t0 = System.nanoTime()
    val snap = log.update()
    val lazyBuildMs = (System.nanoTime() - t0) / 1e6
    val isLazy = snap.isInstanceOf[LazySnapshot]
    t0 = System.nanoTime()
    val keeper = FileSkipping.keeper(snap.dataSchema, filters)
    val prunedLazy = snap.scanCandidates(keeper, None)
    val lazyPruneMs = (System.nanoTime() - t0) / 1e6
    require(prunedLazy.size == 10, s"expected 10 surviving files, got ${prunedLazy.size}")
    t0 = System.nanoTime()
    snap.scanCandidates(keeper, None)
    val lazyPruneWarmMs = (System.nanoTime() - t0) / 1e6
    val stayedLazy = snap match {
      case l: LazySnapshot => !l.materializedFull
      case _ => false
    }

    // ---- eager path (driver-side Seq state), for comparison ----
    spark.conf.set("spark.graft.lazySnapshot.minActions", Long.MaxValue.toString)
    DeltaLog.clearCache()
    val log2 = DeltaLog.forPath(spark, path)
    t0 = System.nanoTime()
    val esnap = log2.update()
    val replayMs = (System.nanoTime() - t0) / 1e6
    require(esnap.allFiles.size == n, s"${esnap.allFiles.size} != $n")
    t0 = System.nanoTime()
    val pruned = FileSkipping.prune(esnap.allFiles, esnap.dataSchema, filters)
    val pruneMs = (System.nanoTime() - t0) / 1e6
    require(pruned.size == 10, s"expected 10 surviving files, got ${pruned.size}")
    // second prune: stats JSON now parsed (the steady-state planning cost)
    t0 = System.nanoTime()
    FileSkipping.prune(esnap.allFiles, esnap.dataSchema, filters)
    val pruneWarmMs = (System.nanoTime() - t0) / 1e6

    println(f"""{"n_adds":$n,"lazy_snapshot":$isLazy,"lazy_stayed_unmaterialized":$stayedLazy,"lazy_build_sec":${lazyBuildMs / 1000}%.3f,"lazy_prune_cold_sec":${lazyPruneMs / 1000}%.3f,"lazy_prune_warm_sec":${lazyPruneWarmMs / 1000}%.3f,"eager_replay_sec":${replayMs / 1000}%.3f,"eager_prune_cold_sec":${pruneMs / 1000}%.3f,"eager_prune_warm_sec":${pruneWarmMs / 1000}%.3f}""")
    spark.stop()
  }
}

/** Synthetic many-add Delta log: commit 0 (protocol+metadata JSON) + an
  * 8-part checkpoint of N adds with per-file k-range stats, written by a
  * distributed job. */
object SyntheticLog {
  def build(spark: org.apache.spark.sql.SparkSession, dir: String, n: Int): String = {
    val logPath = new Path(dir, "_delta_log")
    val fs = logPath.getFileSystem(spark.sessionState.newHadoopConf())
    fs.mkdirs(logPath)
    val schema = new StructType().add("k", LongType).add("v", StringType)
    val meta = Metadata(id = "synthetic", schemaString = schema.json)
    val commit0 = Seq(Action(Protocol()), Action(meta)).map(ActionJson.toJson)
    LogStore.write(fs, new Path(logPath, f"${0L}%020d.json"), commit0.mkString("", "\n", "\n"))

    val enc = Encoders.product[Action]
    val parts = 8
    val adds = spark.range(n.toLong).map { i =>
      Action(add = Some(AddFile(
        path = s"part-$i.parquet", partitionValues = Map.empty,
        size = 100L * 1024 * 1024, modificationTime = 0L, dataChange = true,
        stats = Some(s"""{"numRecords":10000,"minValues":{"k":${i * 10000}},""" +
          s""""maxValues":{"k":${i * 10000 + 9999}},"nullCount":{"k":0}}"""))))
    }(enc)
    // a real checkpoint carries protocol + metadata alongside the adds
    val actions = spark.createDataset(Seq(Action(Protocol()), Action(meta)))(enc)
      .union(adds)
    val tmp = new Path(logPath, ".synth-tmp")
    actions.repartition(parts).write.mode("overwrite").parquet(tmp.toString)
    val written = fs.listStatus(tmp).map(_.getPath)
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    written.zipWithIndex.foreach { case (p, i) =>
      val target = new Path(logPath,
        f"${0L}%020d.checkpoint.${i + 1}%010d.${written.length}%010d.parquet")
      require(fs.rename(p, target), s"rename $p failed")
    }
    fs.delete(tmp, true)
    LogStore.overwrite(fs, new Path(logPath, "_last_checkpoint"),
      s"""{"version":0,"size":${n + 2},"parts":${written.length}}""")
    dir
  }
}
