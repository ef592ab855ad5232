package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.delta.{DeltaLog, DeltaTable}
import graft.streaming.StreamingOps

class StreamingSpec extends AnyFunSuite {
  import TestSpark._

  private lazy val eventsBatch = Fixtures.readNormalized(spark, sfDir, "events")

  test("streaming windowed counts equal the batch computation") {
    // stage the (micros-normalized) events as a streaming source dir
    val srcDir = java.nio.file.Files.createTempDirectory("stream-src").toString
    eventsBatch.coalesce(2).write.mode("overwrite").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema

    val stream = spark.readStream.schema(schema).parquet(srcDir)
    val q = StreamingOps.windowedCounts(stream)
      .writeStream.format("memory").queryName("win_counts")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()

    val streamed = spark.table("win_counts")
      .select(col("window.start").as("h"), col("event_type"), col("n"), col("v"))
    val batch = eventsBatch
      .groupBy(window(col("ts"), "1 hour")("start").as("h"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("v"))
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("windowedCounts accepts a TIMESTAMP_NTZ event-time source") {
    // regression: the events fixture can surface ts as TIMESTAMP_NTZ
    // (parquet isAdjustedToUTC=false); watermarking NTZ raw throws
    // EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE.
    val srcDir = java.nio.file.Files.createTempDirectory("stream-src-ntz").toString
    eventsBatch.limit(2000)
      .withColumn("ts", col("ts").cast("timestamp_ntz"))
      .coalesce(1).write.mode("overwrite").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    assert(schema("ts").dataType == org.apache.spark.sql.types.TimestampNTZType)

    val stream = spark.readStream.schema(schema).parquet(srcDir)
    val q = StreamingOps.windowedCounts(stream)
      .writeStream.format("memory").queryName("win_counts_ntz")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    assert(spark.table("win_counts_ntz").count() > 0)
  }

  test("streaming session windows equal the batch session_window result") {
    val srcDir = java.nio.file.Files.createTempDirectory("stream-sess").toString
    // multiple files => multiple micro-batches => cross-batch session merges
    eventsBatch.repartition(4).write.mode("overwrite").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema

    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir)
    val q = StreamingOps.sessionWindowAgg(stream)
      .writeStream.format("memory").queryName("sess_win")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()

    val streamed = spark.table("sess_win")
    val batch = StreamingOps.sessionWindowAgg(eventsBatch)
    assert(streamed.count() == batch.count(),
      s"streamed ${streamed.count()} sessions vs batch ${batch.count()}")
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty,
      "cross-micro-batch session merges must converge to the batch result")
  }

  test("foreachBatch streaming into delta is exactly-once under replay") {
    val srcDir = java.nio.file.Files.createTempDirectory("stream-src2").toString
    eventsBatch.limit(1000).coalesce(4).write.mode("overwrite").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    val target = java.nio.file.Files.createTempDirectory("stream-delta").toString + "/t"

    val q1 = StreamingOps.streamIntoDelta(spark, srcDir, schema, target,
      appId = "stream-test", maxFilesPerTrigger = 2)
    q1.awaitTermination()
    val afterFirst = DeltaTable.forPath(spark, target).toDF.count()
    assert(afterFirst == 1000L, s"got $afterFirst")

    // replay the whole stream from scratch (fresh checkpoint location):
    // same batch ids → idempotent txn versions suppress every batch
    val q2 = StreamingOps.streamIntoDelta(spark, srcDir, schema, target,
      appId = "stream-test", maxFilesPerTrigger = 2)
    q2.awaitTermination()
    assert(DeltaTable.forPath(spark, target).toDF.count() == 1000L,
      "replayed batches must dedupe to no-ops")
  }

  test("streaming upsert (CDC apply) is last-batch-wins and replay-idempotent") {
    import spark.implicits._
    val srcDir = java.nio.file.Files.createTempDirectory("stream-ups-src")
    def writeBatch(i: Int, keys: Range): Unit = {
      val stage = java.nio.file.Files.createTempDirectory("stream-ups-b").toString
      keys.map(k => (k.toLong, i, s"v$i-$k")).toDF("k", "batch", "payload")
        .coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      val dest = srcDir.resolve(f"batch$i%02d.parquet")
      java.nio.file.Files.move(part.toPath, dest)
      // deterministic batch order: FileStreamSource orders by timestamp
      java.nio.file.Files.setLastModifiedTime(dest,
        java.nio.file.attribute.FileTime.fromMillis(1700000000000L + i * 60000L))
    }
    writeBatch(0, 0 until 10)   // keys 0..9  -> batch 0
    writeBatch(1, 5 until 15)   // keys 5..14 -> batch 1 overwrites 5..9
    writeBatch(2, 0 until 5)    // keys 0..4  -> batch 2 overwrites 0..4
    val schema = spark.read.parquet(srcDir.toString).schema
    val target = java.nio.file.Files.createTempDirectory("stream-ups-t").toString + "/t"

    val q = StreamingOps.streamUpsertIntoDelta(spark, srcDir.toString, schema,
      target, keyCols = Seq("k"), appId = "ups-test")
    q.awaitTermination()
    graft.delta.DeltaLog.clearCache()
    def state() = DeltaTable.forPath(spark, target).toDF
      .select(col("k"), col("batch")).orderBy(col("k"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
    val expected = (0L until 5L).map(_ -> 2) ++ (5L until 15L).map(_ -> 1)
    assert(state() == expected, s"got ${state()}")

    // replay from scratch (fresh checkpoint): same batch ids -> all no-ops
    val q2 = StreamingOps.streamUpsertIntoDelta(spark, srcDir.toString, schema,
      target, keyCols = Seq("k"), appId = "ups-test")
    q2.awaitTermination()
    graft.delta.DeltaLog.clearCache()
    assert(state() == expected, "replayed upsert batches must dedupe to no-ops")
    assert(DeltaTable.forPath(spark, target).toDF.count() == 15)
  }

  test("stateful sessionize matches batch per-user aggregation") {
    import spark.implicits._
    val src = eventsBatch.where(col("user_id") < 50)
      .select(col("user_id"), col("event_type"), col("value"))
    val srcDir = java.nio.file.Files.createTempDirectory("stream-src3").toString
    src.coalesce(1).write.mode("overwrite").parquet(srcDir)

    val stream = spark.readStream.schema(src.schema).parquet(srcDir)
      .as[StreamingOps.UserEvent]
    val q = StreamingOps.sessionize(stream)
      .writeStream.format("memory").queryName("sessions")
      .outputMode("update").start()
    try q.processAllAvailable() finally q.stop()

    // latest state per user (update mode emits per batch; single batch here)
    val got = spark.table("sessions")
      .groupBy(col("user_id")).agg(max(col("events")).as("events"))
    val want = src.groupBy(col("user_id")).agg(count(lit(1)).as("events"))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("extensions register native expressions for SQL") {
    import org.apache.spark.sql.SparkSession
    val prev = spark // force init of the shared session first
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s2 = SparkSession.builder()
        .master("local[2]")
        .config("spark.ui.enabled", "false")
        .withExtensions(new GraftExtensions)
        .getOrCreate()
      val r = s2.sql(
        "SELECT simhash64(array('a','b')) AS sh, rolling_fingerprint('hello world hello', 5) AS fp")
        .collect()(0)
      assert(r.getLong(0) != 0L)
      assert(r.getLong(1) != 0L)
    } finally {
      SparkSession.setDefaultSession(prev)
      SparkSession.setActiveSession(prev)
    }
  }

  test("delta streaming source delivers appends incrementally, exactly once") {
    import graft.delta.DeltaWriter
    val path = java.nio.file.Files.createTempDirectory("stream-dsrc").toString + "/t"
    val ckpt = java.nio.file.Files.createTempDirectory("stream-dsrc-ck").toString
    val outDir = java.nio.file.Files.createTempDirectory("stream-dsrc-out").toString
    val base = eventsBatch.select("event_id", "event_type", "value")
    DeltaWriter.append(spark, base.limit(100), path)                 // v0
    DeltaWriter.append(spark, base.limit(250).exceptAll(base.limit(100)), path) // v1

    def runOnce(): Unit = {
      val q = spark.readStream.format("graftdelta").load(path)
        .writeStream.format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    def delivered(): Long = spark.read.parquet(outDir).count()
    runOnce()
    assert(delivered() == 250)

    // new appends after the checkpoint → only the delta arrives
    DeltaWriter.append(spark, base.limit(300).exceptAll(base.limit(250)), path) // v2
    runOnce()
    assert(delivered() == 300)
    // re-running with nothing new delivers nothing
    runOnce()
    assert(delivered() == 300)

    // a DELETE-carrying version refuses a plain stream (fail-closed) ...
    DeltaTable.forPath(spark, path).delete(col("event_id") % 7 === 0)
    DeltaWriter.append(spark, base.limit(320).exceptAll(base.limit(300)), path)
    val failed = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      runOnce()
    }
    def mentions(t: Throwable): Boolean =
      t != null && (Option(t.getMessage).exists(_.contains("ignoreChanges"))
        || mentions(t.getCause))
    assert(mentions(failed))

    // ... and ignoreChanges=true streams the adds across it
    val ckpt2 = java.nio.file.Files.createTempDirectory("stream-dsrc-ck2").toString
    val out2 = java.nio.file.Files.createTempDirectory("stream-dsrc-out2").toString
    val q2 = spark.readStream.format("graftdelta")
      .option("ignoreChanges", "true").load(path)
      .writeStream.format("parquet")
      .option("path", out2)
      .option("checkpointLocation", ckpt2)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q2.awaitTermination()
    // all five appends' rows (the DV delete is ignored by contract)
    assert(spark.read.parquet(out2).count() == 320)
  }

  test("maxFilesPerTrigger splits a many-file commit across micro-batches, " +
       "exactly once") {
    import graft.delta.DeltaWriter
    val path = java.nio.file.Files.createTempDirectory("stream-mft").toString + "/t"
    val ckpt = java.nio.file.Files.createTempDirectory("stream-mft-ck").toString
    val outDir = java.nio.file.Files.createTempDirectory("stream-mft-out").toString
    val base = eventsBatch.select("event_id", "event_type", "value")
    // v0: ONE commit with 8 files; v1: 3 more files
    DeltaWriter.append(spark, base.limit(200).repartition(8), path)
    DeltaWriter.append(spark,
      base.limit(260).exceptAll(base.limit(200)).repartition(3), path)

    var batches = 0
    val q = spark.readStream.format("graftdelta")
      .option("maxFilesPerTrigger", "2").load(path)
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        batches += 1
        df.write.mode("append").parquet(outDir)
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val out = spark.read.parquet(outDir)
    // exactly-once: 260 distinct rows, no duplicates, no loss
    assert(out.count() == 260, s"delivered ${out.count()}")
    assert(out.select("event_id").distinct().count() == 260)
    // 11 files at 2 per micro-batch → at least 6 batches (the cap binds
    // WITHIN the 8-file commit, not only at version boundaries)
    assert(batches >= 6, s"cap did not split the commit: $batches batches")

    // restart with nothing new: no re-delivery across the FileOffset
    var redelivered = 0L
    val q2 = spark.readStream.format("graftdelta")
      .option("maxFilesPerTrigger", "2").load(path)
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        redelivered += df.count()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q2.awaitTermination()
    assert(redelivered == 0L, s"restart re-delivered $redelivered rows")
  }

  test("file-capped stream consumes metadata-only commits: the offset " +
       "advances past a data-file-free tail") {
    import graft.delta.{DeltaWriter, DeltaLog}
    val path = java.nio.file.Files.createTempDirectory("stream-meta").toString + "/t"
    val ckpt = java.nio.file.Files.createTempDirectory("stream-meta-ck").toString
    val base = eventsBatch.select("event_id", "event_type", "value")
    DeltaWriter.append(spark, base.limit(50).repartition(2), path) // v0: data
    def drain(): Unit = {
      val q = spark.readStream.format("graftdelta")
        .option("maxFilesPerTrigger", "1").load(path)
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (_: org.apache.spark.sql.DataFrame, _: Long) => () }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    drain() // consumes v0
    // v1: metadata-only commit (no data files) — under a file-granular cap
    // the planner must still mark it consumed, or AvailableNow runs replan
    // it forever
    DeltaTable.forPath(spark, path).setProperties(Map("graft.test" -> "1"))
    assert(DeltaLog.forPath(spark, path).update().version == 1L)
    drain()
    val offsets = new java.io.File(ckpt, "offsets").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toInt)
    val last = new String(
      java.nio.file.Files.readAllBytes(offsets.last.toPath))
    assert(last.contains("\"version\":1"),
      s"offset never advanced past the metadata-only commit: $last")
  }

  test("maxBytesPerTrigger composes with maxFilesPerTrigger: the tighter " +
       "bound wins; CDF streams stay version-granular under both caps") {
    import graft.delta.{DeltaWriter, DeltaLog}
    val path = java.nio.file.Files.createTempDirectory("stream-mbt").toString + "/t"
    val base = eventsBatch.select("event_id", "event_type", "value")
    // v0: ONE commit of 8 roughly-equal files
    DeltaWriter.append(spark, base.limit(400).repartition(8), path,
      configuration = Map("delta.enableChangeDataFeed" -> "true"))
    val sizes = DeltaLog.forPath(spark, path).update().allFiles.map(_.size)
    assert(sizes.size == 8)
    val oneFile = sizes.max

    def run(opts: Map[String, String]): Long = {
      var batches = 0L
      val reader = opts.foldLeft(spark.readStream.format("graftdelta")) {
        case (r, (k, v)) => r.option(k, v)
      }
      val q = reader.load(path).writeStream
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("stream-mbt-ck").toString)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          if (df.count() > 0) batches += 1
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      batches
    }
    // byte cap ~1.5 files is TIGHTER than the 4-file cap → ~2 files/batch
    val byteBound = run(Map(
      "maxFilesPerTrigger" -> "4",
      "maxBytesPerTrigger" -> (oneFile * 3 / 2).toString))
    assert(byteBound >= 4, s"byte cap did not bind: $byteBound batches")
    // 1-file cap is TIGHTER than a huge byte cap → 8 batches
    val fileBound = run(Map(
      "maxFilesPerTrigger" -> "1", "maxBytesPerTrigger" -> "1g"))
    assert(fileBound == 8, s"file cap did not bind under a loose byte cap: $fileBound")
    // CDF: unit of change is the VERSION — both caps present, one batch
    val cdf = run(Map(
      "readChangeFeed" -> "true", "startingVersion" -> "0",
      "maxFilesPerTrigger" -> "1",
      "maxBytesPerTrigger" -> (oneFile / 2).toString))
    assert(cdf == 1, s"CDF stream must stay version-granular under caps: $cdf")
  }

  test("watermark-bounded dedup drops in-window duplicates with expiring state") {
    val srcDir = java.nio.file.Files.createTempDirectory("stream-wmdd").toString
    // double-deliver the first 500 events (same event_id, same ts) — the
    // duplicate arrives within any watermark window of the original
    val base = eventsBatch.limit(1000).select("event_id", "ts", "event_type", "value")
    base.coalesce(2).write.mode("overwrite").parquet(srcDir)
    base.limit(500).coalesce(1).write.mode("append").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    val target = java.nio.file.Files.createTempDirectory("stream-wmdd-t").toString + "/t"

    val q = StreamingOps.streamDedupWithinWatermarkIntoDelta(
      spark, srcDir, schema, target, dedupCols = Seq("event_id"),
      watermark = "365 days") // all testdata ts fall within one window
    q.awaitTermination()
    val out = DeltaTable.forPath(spark, target).toDF
    assert(out.count() == 1000L,
      s"in-watermark duplicates must be dropped, got ${out.count()}")
    assert(out.select("event_id").distinct().count() == 1000L)
  }

  test("delta stream source: startingTimestamp selects the right first version") {
    import graft.delta.DeltaWriter
    val path = java.nio.file.Files.createTempDirectory("stream-sts").toString + "/t"
    val base = eventsBatch.select("event_id", "event_type", "value")
    DeltaWriter.append(spark, base.limit(50), path) // v0
    Thread.sleep(30)
    val between = System.currentTimeMillis()
    Thread.sleep(30)
    DeltaWriter.append(spark, base.limit(80).exceptAll(base.limit(50)), path) // v1

    val out = java.nio.file.Files.createTempDirectory("stream-sts-out").toString
    val q = spark.readStream.format("graftdelta")
      .option("startingTimestamp", between.toString).load(path)
      .writeStream.format("parquet")
      .option("path", out)
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("stream-sts-ck").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(spark.read.parquet(out).count() == 30,
      "only the post-timestamp commit's rows stream")
    intercept[Exception] {
      spark.readStream.format("graftdelta")
        .option("startingVersion", "0")
        .option("startingTimestamp", between.toString).load(path)
        .writeStream.format("noop")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        .awaitTermination()
    }
  }

  test("AvailableNow drains in rate-limited micro-batches, then stops") {
    import graft.delta.DeltaWriter
    val path = java.nio.file.Files.createTempDirectory("stream-anow").toString + "/t"
    val ckpt = java.nio.file.Files.createTempDirectory("stream-anow-ck").toString
    val outDir = java.nio.file.Files.createTempDirectory("stream-anow-out").toString
    val base = eventsBatch.select("event_id", "event_type", "value")
    DeltaWriter.append(spark, base.limit(50), path)                               // v0
    DeltaWriter.append(spark, base.limit(100).exceptAll(base.limit(50)), path)    // v1
    DeltaWriter.append(spark, base.limit(150).exceptAll(base.limit(100)), path)   // v2
    val q = spark.readStream.format("graftdelta")
      .option("maxVersionsPerTrigger", "1").load(path)
      .writeStream.format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination() // true AvailableNow: terminates after draining
    assert(spark.read.parquet(outDir).count() == 150)
    // one micro-batch per version — the rate limit really paced the drain
    val batchesWithRows = q.recentProgress.count(_.numInputRows > 0)
    assert(batchesWithRows == 3,
      s"expected 3 rate-limited batches, saw $batchesWithRows " +
        q.recentProgress.map(p => s"${p.batchId}:${p.numInputRows}").mkString(","))
  }

  test("delta stream source reads added columns as null and fails loudly " +
       "on a dropped or renamed column") {
    import graft.delta.DeltaWriter
    import org.apache.spark.sql.types.{LongType, StructField}
    for (change <- Seq("drop", "rename")) {
      val path = java.nio.file.Files.createTempDirectory("stream-schema").toString + "/t"
      val table = DeltaTable.forPath(spark, path)
      /** Rows [lo, hi) under the table's current columns: every column is
        * a bigint, `id` itself. */
      def append(lo: Long, hi: Long): Unit = DeltaWriter.append(spark,
        spark.range(lo, hi).select(DeltaLog.forPath(spark, path).update().schema
          .fieldNames.toIndexedSeq.map(n => col("id").as(n)): _*), path)
      DeltaWriter.append(spark, spark.range(0, 5).select(col("id"), col("id").as("a")), path)
      table.setProperties(Map("delta.columnMapping.mode" -> "name"))
      table.addColumns(StructField("c", LongType))
      append(5, 8)
      val sink = s"stream_schema_$change"
      val q = spark.readStream.format("graftdelta").load(path)
        .writeStream.format("memory").queryName(sink).start()
      try {
        q.processAllAvailable()
        // the files that predate the added column read it as null
        assert(spark.table(sink).count() == 8)
        assert(spark.table(sink).where(col("c").isNull).count() == 5)
        // an additive change keeps the running stream readable
        table.addColumns(StructField("d", LongType))
        append(8, 10)
        q.processAllAvailable()
        assert(spark.table(sink).count() == 10)
        val changed =
          if (change == "drop") table.dropColumn("a") else table.renameColumn("a", "a2")
        val failed = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
          q.processAllAvailable()
        }
        val cause = Iterator.iterate[Throwable](failed)(_.getCause).takeWhile(_ != null)
          .collectFirst { case e: IllegalStateException => e }
        assert(cause.exists(e => e.getMessage.contains("column `a`") &&
          e.getMessage.contains(s"version $changed") &&
          e.getMessage.contains("non-additive")), s"$change: $failed")
        assert(spark.table(sink).count() == 10)
      } finally q.stop()
    }
  }

  test("CDF streaming source delivers row-level inserts and deletes") {
    import graft.delta.DeltaWriter
    val path = java.nio.file.Files.createTempDirectory("stream-cdf").toString + "/t"
    val ckpt = java.nio.file.Files.createTempDirectory("stream-cdf-ck").toString
    val outDir = java.nio.file.Files.createTempDirectory("stream-cdf-out").toString
    val base = eventsBatch.select("event_id", "event_type", "value").limit(200)
    DeltaWriter.append(spark, base.limit(120), path)                       // v0
    DeltaWriter.append(spark, base.exceptAll(base.limit(120)), path)       // v1
    DeltaTable.forPath(spark, path).delete(col("event_id") % 5 === 0)      // v2 (DV)

    def runOnce(): Unit = {
      val q = spark.readStream.format("graftdelta")
        .option("readChangeFeed", "true").load(path)
        .writeStream.format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    runOnce()
    val feed = spark.read.parquet(outDir)
    val deleted = base.where(col("event_id") % 5 === 0).count()
    assert(feed.where(col("_change_type") === "insert").count() == 200)
    assert(feed.where(col("_change_type") === "delete").count() == deleted)
    // the feed must reconstruct the table: inserts minus deletes
    assert(feed.where(col("_change_type") === "insert").count()
      - feed.where(col("_change_type") === "delete").count()
      == DeltaTable.forPath(spark, path).toDF.count())
    // incremental: a later delete arrives alone on the next run
    DeltaTable.forPath(spark, path).delete(col("event_id") % 7 === 1)      // v3
    runOnce()
    val feed2 = spark.read.parquet(outDir)
    assert(feed2.where(col("_change_type") === "insert").count() == 200,
      "no re-delivered inserts")
    assert(feed2.where(col("_change_type") === "delete"
      && col("_commit_version") === 3).count() > 0)
    assert(feed2.where(col("_change_type") === "insert").count()
      - feed2.where(col("_change_type") === "delete").count()
      == DeltaTable.forPath(spark, path).toDF.count())
  }

  test("native sink: writeStream.format(graftdelta) is exactly-once across restarts") {
    val srcDir = java.nio.file.Files.createTempDirectory("sink-src").toString
    val rows = eventsBatch.select("event_id", "event_type", "value").limit(900)
    rows.repartition(3).write.mode("overwrite").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    val target = java.nio.file.Files.createTempDirectory("sink-delta").toString + "/t"
    val ckpt = java.nio.file.Files.createTempDirectory("sink-ck").toString

    def runOnce(): Unit = {
      val q = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(srcDir)
        .writeStream.format("graftdelta")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start(target)
      q.awaitTermination()
    }
    runOnce()
    val t = DeltaTable.forPath(spark, target)
    assert(t.toDF.count() == 900)
    // multiple micro-batches → multiple commits, each txn-marked
    assert(DeltaLog.forPath(spark, target).update().version >= 2)
    // restart over the same checkpoint: nothing new upstream → no dupes
    // force a real replay: drop the engine's last sink-commit marker so the
    // restart re-delivers the final micro-batch; the sink's txnVersion
    // check must turn the duplicate into a no-op
    val commits = new java.io.File(s"$ckpt/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toLong)
    assert(commits.length >= 2)
    // drop the Hadoop-local .crc shadow too, or the re-commit's rename
    // trips over the stale checksum and aborts the restarted query
    val crc = new java.io.File(commits.last.getParent, s".${commits.last.getName}.crc")
    if (crc.exists()) crc.delete()
    assert(commits.last.delete())
    runOnce()
    assert(DeltaTable.forPath(spark, target).toDF.count() == 900)
    assert(rows.exceptAll(t.toDF).isEmpty && t.toDF.exceptAll(rows).isEmpty)
  }

  test("native sink: Complete mode rewrites the aggregate each trigger") {
    val srcDir = java.nio.file.Files.createTempDirectory("sink-src-c").toString
    val rows = eventsBatch.select("event_id", "event_type", "value").limit(500)
    rows.coalesce(2).write.mode("overwrite").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    val target = java.nio.file.Files.createTempDirectory("sink-delta-c").toString + "/t"
    val ckpt = java.nio.file.Files.createTempDirectory("sink-ck-c").toString

    val q = spark.readStream.schema(schema).parquet(srcDir)
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      .writeStream.format("graftdelta")
      .outputMode("complete")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start(target)
    q.awaitTermination()

    val got = DeltaTable.forPath(spark, target).toDF
    val want = rows.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("native sink: Update mode is refused loudly") {
    val srcDir = java.nio.file.Files.createTempDirectory("sink-src-u").toString
    eventsBatch.select("event_id", "value").limit(10)
      .coalesce(1).write.mode("overwrite").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    val target = java.nio.file.Files.createTempDirectory("sink-delta-u").toString + "/t"
    val ckpt = java.nio.file.Files.createTempDirectory("sink-ck-u").toString
    val ex = intercept[Exception] {
      val q = spark.readStream.schema(schema).parquet(srcDir)
        .groupBy(col("event_id")).agg(count(lit(1)).as("n"))
        .writeStream.format("graftdelta")
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start(target)
      q.awaitTermination()
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(ex).exists(_.isInstanceOf[UnsupportedOperationException]))
  }
}
