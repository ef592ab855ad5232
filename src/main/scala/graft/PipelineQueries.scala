package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.{Curation, Dedup, IncrementalDedup, Multimodal, Sampling, Similarity, TextOps}

/**
 * LLM-data-pipeline operator queries (beyond-reference surface per
 * BASELINE.json): dedup, similarity search, text analysis, multimodal.
 * Fact tables come through the Delta scan (RelationalQueries.ensureViews).
 *
 * Oracle notes: every query here is oracle-checked. The probabilistic
 * operators (MinHash/SimHash/LSH/IVF/fingerprints/multimodal) hash with
 * md5 and project with integer arithmetic precisely so the DuckDB oracle
 * can re-derive the SAME candidates bit-for-bit; the repetitive oracle SQL
 * (64 simhash bit sums, 32 minhash aggregates, hyperplane literals) is
 * GENERATED below from the same parameters the Spark operators use.
 * Float-threshold comparisons are integer-ized (Jaccard: 7·|∩| ≥ 2·|∪|)
 * or rounded identically on both sides (cosine, quality). Integer sums
 * are CAST to BIGINT in the SQL because DuckDB's sum() returns HUGEINT
 * while Spark returns BIGINT and the driver's value-hash is typed.
 */
object PipelineQueries {

  private def docs(s: SparkSession, dir: String): DataFrame = {
    RelationalQueries.ensureViews(s, dir); s.table("documents")
  }
  private def emb(s: SparkSession, dir: String): DataFrame = {
    RelationalQueries.ensureViews(s, dir); s.table("embeddings")
  }
  private def events(s: SparkSession, dir: String): DataFrame = {
    RelationalQueries.ensureViews(s, dir); s.table("events")
  }

  /** Runs the availableNow events→delta stream once per sf dir (4 staged
    * source files × maxFilesPerTrigger=1 = 4 real micro-batches, each an
    * idempotent txn commit) and returns the sink table path. */
  private def streamedEvents(s: SparkSession, dir: String): String = synchronized {
    import java.nio.file.{Files, Paths}
    val key = dir.stripSuffix("/").replaceAll("[^A-Za-z0-9.]", "_")
    val root = sys.props.getOrElse("graft.fixture.dir", "/tmp/graft-fixtures")
    val target = s"$root/stream-s1/$key/events_delta"
    val marker = Paths.get(target, "_GRAFT_READY")
    if (Files.exists(marker)) return target
    Seq(target, s"$root/stream-s1/$key/events_src").foreach { d =>
      val p = Paths.get(d)
      if (Files.exists(p)) {
        import scala.jdk.CollectionConverters._
        Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)
      }
    }
    val srcDir = s"$root/stream-s1/$key/events_src"
    // stage the source as 4 files so the file-stream source produces 4
    // genuine micro-batches (ts stays raw long nanos end to end)
    Fixtures.readParquet(s, dir, "events").repartition(4)
      .write.mode("overwrite").parquet(srcDir)
    val schema = s.read.parquet(srcDir).schema
    val q = graft.streaming.StreamingOps.streamIntoDelta(
      s, srcDir, schema, target, appId = s"stream-ingest-$key")
    q.awaitTermination()
    graft.delta.DeltaLog.clearCache()
    Files.createFile(marker)
    target
  }

  /** Native-sink streaming fixture: the same 4-file events source drained
    * by `writeStream.format("graftdelta")` (V1 StreamSinkProvider path —
    * [[graft.delta.DeltaStreamSink]]) instead of foreachBatch; Append mode
    * commits txnVersion=batchId per micro-batch for exactly-once. */
  private def streamedSinkEvents(s: SparkSession, dir: String): String = synchronized {
    import java.nio.file.{Files, Paths}
    val key = dir.stripSuffix("/").replaceAll("[^A-Za-z0-9.]", "_")
    val root = sys.props.getOrElse("graft.fixture.dir", "/tmp/graft-fixtures")
    val target = s"$root/stream-sink1/$key/events_delta"
    val marker = Paths.get(target, "_GRAFT_READY")
    if (Files.exists(marker)) return target
    Seq(target, s"$root/stream-sink1/$key/events_src",
        s"$root/stream-sink1/$key/ckpt").foreach { d =>
      val p = Paths.get(d)
      if (Files.exists(p)) {
        import scala.jdk.CollectionConverters._
        Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)
      }
    }
    val srcDir = s"$root/stream-sink1/$key/events_src"
    Fixtures.readParquet(s, dir, "events").repartition(4)
      .write.mode("overwrite").parquet(srcDir)
    val schema = s.read.parquet(srcDir).schema
    val q = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir)
      .writeStream.format("graftdelta")
      .option("checkpointLocation", s"$root/stream-sink1/$key/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start(target)
    q.awaitTermination()
    graft.delta.DeltaLog.clearCache()
    Files.createFile(marker)
    target
  }

  /** Streaming CDC-apply fixture: supplier rows split into 3 overlapping
    * key-batches (nationkey tiers, deterministic file order by modTime),
    * stream-UPSERTED into a Delta target — later batches overwrite
    * earlier rows per s_suppkey, txnVersion=batchId makes replay no-ops.
    * Returns the target path; the oracle recomputes last-batch-wins in
    * SQL from the same tier rule. */
  private def streamedUpsert(s: SparkSession, dir: String): String = synchronized {
    import java.nio.file.{Files, Paths}
    val key = dir.stripSuffix("/").replaceAll("[^A-Za-z0-9.]", "_")
    val root = sys.props.getOrElse("graft.fixture.dir", "/tmp/graft-fixtures")
    val target = s"$root/stream-s1/$key/upsert_delta"
    val marker = Paths.get(target, "_GRAFT_READY")
    if (Files.exists(marker)) return target
    Seq(target, s"$root/stream-s1/$key/upsert_src").foreach { d =>
      val p = Paths.get(d)
      if (Files.exists(p)) {
        import scala.jdk.CollectionConverters._
        Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)
      }
    }
    val srcDir = s"$root/stream-s1/$key/upsert_src"
    val supplier = Fixtures.readParquet(s, dir, "supplier")
      .select(col("s_suppkey"), col("s_nationkey"), col("s_acctbal"))
    // batch 0: ALL suppliers at acctbal 0; batch 1: nation < 15 at +1000;
    // batch 2: nation < 5 at +2000 — overlapping keys, deterministic tiers
    val batches = Seq(
      supplier.withColumn("s_acctbal", lit(0.0)),
      supplier.where(col("s_nationkey") < 15).withColumn("s_acctbal", lit(1000.0)),
      supplier.where(col("s_nationkey") < 5).withColumn("s_acctbal", lit(2000.0)))
    batches.zipWithIndex.foreach { case (b, i) =>
      val stage = Files.createTempDirectory("graft-ups-b").toString
      b.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      val dest = Paths.get(srcDir, f"batch$i%02d.parquet")
      Files.createDirectories(dest.getParent)
      Files.move(part.toPath, dest)
      Files.setLastModifiedTime(dest,
        java.nio.file.attribute.FileTime.fromMillis(1700000000000L + i * 60000L))
    }
    val schema = s.read.parquet(srcDir).schema
    val q = graft.streaming.StreamingOps.streamUpsertIntoDelta(
      s, srcDir, schema, target, keyCols = Seq("s_suppkey"),
      appId = s"stream-upsert-$key")
    q.awaitTermination()
    graft.delta.DeltaLog.clearCache()
    Files.createFile(marker)
    target
  }

  /** Builds (once per sf dir) a 3-append Delta events table, streams it
    * through the graftdelta SOURCE (AvailableNow → parquet sink), and
    * returns the sink dir. The sink contents must equal the batch table —
    * proof the version-offset source delivers every append exactly once. */
  private def streamedSourceRead(s: SparkSession, dir: String): String = synchronized {
    import java.nio.file.{Files, Paths}
    val key = dir.stripSuffix("/").replaceAll("[^A-Za-z0-9.]", "_")
    val root = sys.props.getOrElse("graft.fixture.dir", "/tmp/graft-fixtures")
    val out = s"$root/stream-s1/$key/events_source_out"
    val marker = Paths.get(out, "_GRAFT_READY")
    if (Files.exists(marker)) return out
    val tbl = s"$root/stream-s1/$key/events_delta_3append"
    val ck = s"$root/stream-s1/$key/events_source_ck"
    Seq(out, tbl, ck).foreach { d =>
      val p = Paths.get(d)
      if (Files.exists(p)) {
        import scala.jdk.CollectionConverters._
        Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)
      }
    }
    val ev = Fixtures.readParquet(s, dir, "events")
    (0 until 3).foreach { i =>   // three real versions
      graft.delta.DeltaWriter.append(s,
        ev.where(pmod(col("event_id"), lit(3)) === i), tbl)
    }
    graft.delta.DeltaLog.clearCache()
    val q = s.readStream.format("graftdelta").load(tbl)
      .writeStream.format("parquet")
      .option("path", out)
      .option("checkpointLocation", ck)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    Files.createFile(marker)
    out
  }

  /** Runs the deduplicating stream once per sf dir: the source is staged
    * with EVERY event duplicated across 4 files, so the stateful
    * dropDuplicates must suppress re-deliveries across micro-batches for
    * the sink to match the batch oracle over the ORIGINAL events. */
  private def streamedDedupEvents(s: SparkSession, dir: String): String = synchronized {
    import java.nio.file.{Files, Paths}
    val key = dir.stripSuffix("/").replaceAll("[^A-Za-z0-9.]", "_")
    val root = sys.props.getOrElse("graft.fixture.dir", "/tmp/graft-fixtures")
    val target = s"$root/stream-s1/$key/events_dedup_delta"
    val marker = Paths.get(target, "_GRAFT_READY")
    if (Files.exists(marker)) return target
    Seq(target, s"$root/stream-s1/$key/events_dedup_src").foreach { d =>
      val p = Paths.get(d)
      if (Files.exists(p)) {
        import scala.jdk.CollectionConverters._
        Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)
      }
    }
    val srcDir = s"$root/stream-s1/$key/events_dedup_src"
    val ev = Fixtures.readNormalized(s, dir, "events") // ts nanos → micros
    // at-least-once upstream: every event delivered twice, spread across
    // 4 files = 4 micro-batches (duplicates mostly land in DIFFERENT
    // batches — the cross-batch state is what's being proven)
    ev.union(ev).repartition(4).write.mode("overwrite").parquet(srcDir)
    val schema = s.read.parquet(srcDir).schema
    val q = graft.streaming.StreamingOps.streamDedupIntoDelta(
      s, srcDir, schema, target, dedupCols = Seq("event_id"),
      appId = s"stream-dedup-$key")
    q.awaitTermination()
    graft.delta.DeltaLog.clearCache()
    Files.createFile(marker)
    target
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- text analysis ---
    // min/max(string) group-by: vanilla Spark can only SORT-aggregate a
    // string buffer (per-partition sort of the whole scan); the columnar
    // tier's object accumulators hash-aggregate it (measured 2.0x at
    // x100, OPTIMIZATION_r19.md) — this row keeps that rewrite oracle-gated
    "q_str_minmax" -> ((s, dir) =>
      docs(s, dir).groupBy(col("lang"), col("source"))
        .agg(min(col("text")).as("min_text"), max(col("text")).as("max_text"),
          count(lit(1)).as("n"))
        .orderBy(col("lang"), col("source"))),
    "text_token_stats" -> ((s, dir) => TextOps.tokenStats(docs(s, dir))),
    "text_bpe_tokens" -> ((s, dir) =>
      docs(s, dir).groupBy(col("lang"))
        .agg(sum(TextOps.subwordCount(col("text"))).as("subtoks"))
        .orderBy(col("lang"))),
    "text_quality" -> ((s, dir) => TextOps.qualityStats(docs(s, dir))),
    // PII scrubbing: deterministic synthetic PII is injected per doc, then
    // redacted — the oracle applies the identical portable regexes, so a
    // scrub that misses (or over-matches) fails the compare
    "text_pii_scrub" -> ((s, dir) => {
      val pii = docs(s, dir).withColumn("txt",
        concat(col("text"),
          lit(" contact user"), col("doc_id"), lit("@example.com"),
          lit(" or 555-123-4567 ssn 123-45-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
      pii.select(col("doc_id"), TextOps.scrubPii(col("txt")).as("scrubbed"),
          col("txt"))
        .agg(
          count(when(col("scrubbed").contains("[EMAIL]"), 1)).as("emails"),
          count(when(col("scrubbed").contains("[PHONE]"), 1)).as("phones"),
          count(when(col("scrubbed").contains("[SSN]"), 1)).as("ssns"),
          sum(length(col("txt")) - length(col("scrubbed"))).as("chars_redacted"))
    }),
    "text_langid" -> ((s, dir) =>
      docs(s, dir).groupBy(TextOps.langId(col("text")).as("pred"))
        .agg(count(lit(1)).as("n")).orderBy(col("pred"))),
    "text_fingerprint" -> ((s, dir) => {
      val d = docs(s, dir)
      d.select(col("doc_id"), TextOps.fingerprintMd5(col("text")).as("fp"))
        .join(TextOps.simhashHexAgg(d, col("doc_id"), col("text")), Seq("doc_id"))
        .orderBy(col("doc_id"))
    }),
    "text_vocab_topk" -> ((s, dir) =>
      TextOps.vocabTopK(docs(s, dir)).orderBy(col("cnt").desc, col("token"))),
    "text_tfidf_topk" -> ((s, dir) =>
      TextOps.tfIdfTopK(docs(s, dir))
        .where(col("doc_id") < 500)
        .orderBy(col("doc_id"), col("rk"))),

    // --- corpus curation (chunking / decontamination / sharding / LM) ---
    "text_chunks" -> ((s, dir) => Curation.chunk(docs(s, dir))),
    "text_decontaminate" -> ((s, dir) => Curation.decontaminate(docs(s, dir))),
    "text_decontaminate_bloom" -> ((s, dir) => Curation.decontaminateBloom(docs(s, dir))),
    "shard_token_budget" -> ((s, dir) => Curation.shardByTokenBudget(docs(s, dir))),
    "text_unigram_surprisal" -> ((s, dir) =>
      Curation.unigramSurprisal(docs(s, dir))),
    "text_repetition" -> ((s, dir) => Curation.repetitionFlags(docs(s, dir))),
    "curation_verdict" -> ((s, dir) => Curation.verdict(docs(s, dir))),

    // --- session windows (native Spark session_window operator; the
    //     oracle re-derives the same sessions as a gap-islands window,
    //     proving the operator's merge semantics = diff >= gap) ---
    "q_session_window" -> ((s, dir) =>
      events(s, dir)
        .groupBy(col("user_id"), session_window(col("ts"), "8 hours").as("w"))
        .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("v"))
        .select(col("user_id"), col("w.start").as("session_start"),
          col("w.end").as("session_end"), col("n_events"), col("v"))
        .orderBy(col("user_id"), col("session_start"))),

    // --- dedup ---
    "dedup_exact" -> ((s, dir) => Dedup.exact(docs(s, dir))),
    "dedup_exact_hash64" -> ((s, dir) => Dedup.exactByHash64(docs(s, dir))),
    "dedup_exact_norm" -> ((s, dir) => Dedup.exactNormalized(docs(s, dir))),
    "dedup_jaccard_pairs" -> ((s, dir) => Dedup.jaccardPairsDfCapped(docs(s, dir))),
    "dedup_minhash_pairs" -> ((s, dir) => Dedup.minhashPairs(docs(s, dir))),
    "dedup_simhash_pairs" -> ((s, dir) => Dedup.simhashPairs(docs(s, dir))),
    "dedup_substring_spans" -> ((s, dir) => Dedup.substringSpans(docs(s, dir))),
    "dedup_substring_pairs" -> ((s, dir) => Dedup.substringPairs(docs(s, dir))),
    // incremental: the corpus (doc_id%10<8) is represented ONLY by its
    // persisted Delta window index (two maintenance commits); the batch
    // (doc_id%10>=8) dedups against the index without re-reading corpus
    // text — the daily-ingest shape of a standing 100 TB corpus
    "dedup_incremental" -> ((s, dir) => {
      val idx = IncrementalDedup.ensureIndex(s, dir)
      IncrementalDedup.dedupAgainstIndex(
        docs(s, dir).where(IncrementalDedup.batchFilter),
        graft.delta.DeltaTable.forPath(s, idx).toDF)
    }),

    // --- similarity search ---
    "ann_cosine_topk" -> ((s, dir) => Similarity.bruteForceTopK(emb(s, dir), 0L, 10)),
    "ann_int8_topk" -> ((s, dir) => Similarity.int8TopK(emb(s, dir), 0L, 10)),
    "ann_pairs_block" -> ((s, dir) => Similarity.pairsAboveThreshold(emb(s, dir), 200L, 0.25)),
    "ann_lsh_topk" -> ((s, dir) => Similarity.lshTopK(emb(s, dir), 0L, 10)),
    "ann_ivf_topk" -> ((s, dir) => Similarity.ivfTopKSeeded(emb(s, dir), 0L, 10)),
    "ann_pq_topk" -> ((s, dir) => Similarity.pqTopK(emb(s, dir), 0L, 10)),
    "emb_centroids" -> ((s, dir) => Similarity.centroids(emb(s, dir))),

    // --- near-dup cluster canonicalization (drop-list materialization) ---
    "dedup_canonical" -> ((s, dir) =>
      Dedup.canonicalize(Dedup.jaccardPairsDfCapped(docs(s, dir)))),
    "emb_near_dup_lsh" -> ((s, dir) =>
      // banded multi-table LSH (k=3 planes × 6 tables): recall ~0.69 for
      // sim-0.2 pairs vs ~0.01 for one 8-plane table; the oracle embeds
      // the same 18 plane literals and the same band structure
      Similarity.lshNearDupPairsBanded(emb(s, dir), minSim = 0.2)),
    "emb_near_dup_clusters" -> ((s, dir) =>
      // same banded pair graph → min-label fixpoint (connected
      // components): the embedding-side drop-list, keep_id per vector
      Dedup.canonicalize(
        Similarity.lshNearDupPairsBanded(emb(s, dir), minSim = 0.2))
        .select(col("doc_id").as("vec_id"), col("keep_id"))
        .orderBy(col("vec_id"))),

    // --- streaming: availableNow micro-batch ingest → exactly-once delta
    //     sink, then aggregate the SINK — the stream result must equal the
    //     batch oracle over the same source (end-to-end streaming proof) ---
    "stream_ingest_agg" -> ((s, dir) => {
      val target = streamedEvents(s, dir)
      graft.delta.DeltaTable.forPath(s, target).toDF
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("v"))
        .orderBy(col("event_type"))
    }),

    // --- NATIVE streaming sink (writeStream.format("graftdelta"), the V1
    //     StreamSinkProvider path): same end-to-end proof via the public
    //     writer API instead of foreachBatch ---
    "stream_sink_agg" -> ((s, dir) => {
      val target = streamedSinkEvents(s, dir)
      graft.delta.DeltaTable.forPath(s, target).toDF
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("v"))
        .orderBy(col("event_type"))
    }),

    // --- streaming UPSERT sink (CDC apply): 3 overlapping key-batches
    //     MERGEd in file order; final state = last-batch-wins per key ---
    "stream_upsert_agg" -> ((s, dir) => {
      val target = streamedUpsert(s, dir)
      graft.delta.DeltaTable.forPath(s, target).toDF
        .groupBy(col("s_acctbal"))
        .agg(count(lit(1)).as("n"), sum(col("s_suppkey")).as("sum_key"))
        .orderBy(col("s_acctbal"))
    }),

    // --- streaming SOURCE: version-offset readStream over a 3-append
    //     delta table → parquet sink; sink equals the batch table ---
    "stream_source_agg" -> ((s, dir) => {
      val out = streamedSourceRead(s, dir)
      s.read.parquet(out)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("v"))
        .orderBy(col("event_type"))
    }),

    // --- streaming DEDUP ingest: duplicated-delivery source → stateful
    //     dropDuplicates across micro-batches → exactly-once delta sink;
    //     the sink must equal the batch aggregate of the ORIGINAL events ---
    "stream_dedup_agg" -> ((s, dir) => {
      val target = streamedDedupEvents(s, dir)
      graft.delta.DeltaTable.forPath(s, target).toDF
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("v"))
        .orderBy(col("event_type"))
    }),

    // --- deterministic sampling (training-data selection) ---
    "sample_deterministic" -> ((s, dir) =>
      Sampling.deterministicSample(docs(s, dir), col("doc_id"), pct = 20)
        .select(col("doc_id"), col("lang")).orderBy(col("doc_id"))),
    "sample_stratified" -> ((s, dir) =>
      Sampling.stratifiedSample(docs(s, dir), col("lang"), col("doc_id"), n = 20)
        .select(col("lang"), col("doc_id")).orderBy(col("lang"), col("doc_id"))),

    // --- multimodal ---
    "multimodal_features" -> ((s, dir) => Multimodal.mediaFeatures(docs(s, dir))),

    // REAL image decode: genuine P6 PPM payloads, batched pure-JVM parse
    // on executors, integer features the oracle re-derives pixel-by-pixel
    // from the generation formula — a wrong header offset or channel
    // de-interleave fails the hash gate
    "multimodal_ppm_decode" -> ((s, dir) => Multimodal.ppmFeatures(docs(s, dir))),

    // REAL compressed-image decode: genuine PNG bitstreams (JDK ImageIO
    // encode AND decode — real DEFLATE round-trip), pixel-exact oracle
    // re-deriving every feature from the generation formula; a wrong
    // channel order, row stride or alpha handling fails the hash gate
    "multimodal_png_decode" -> ((s, dir) => Multimodal.pngFeatures(docs(s, dir))),

    // REAL decode → nearest-neighbor RESIZE (the normalize-to-model-input
    // step) → integer checksum over the resized raster; the oracle
    // re-derives every point-sampled source pixel from the formula
    "multimodal_png_resize" -> ((s, dir) => Multimodal.pngResize(docs(s, dir))),

    // REAL audio decode: genuine RIFF/WAVE 16-bit PCM payloads (incl.
    // LIST chunks the parser must skip), sample-exact oracle
    "multimodal_wav_decode" -> ((s, dir) => Multimodal.wavFeatures(docs(s, dir))),

    // REAL audio decode, 24-bit STEREO: per-channel feature rows over
    // 24-bit little-endian PCM — the sign-extension + de-interleave path
    // 16-bit mono never exercises; sample-exact oracle
    "multimodal_wav24_stereo" -> ((s, dir) => Multimodal.wavChannelFeatures(docs(s, dir))),

    // REAL video decode + frame sampling: genuine YUV4MPEG2 streams
    // (tag-order-varying headers), every-2nd-frame luma stats,
    // pixel-exact oracle
    "multimodal_y4m_frames" -> ((s, dir) => Multimodal.y4mFrameSample(docs(s, dir))))

  // ======================================================================
  // Oracle SQL generation — mirrors of the Spark operators in DuckDB's
  // dialect, built from the SAME parameters (plane literals, band counts,
  // stopword/profile lists) so the two engines can't drift apart.
  // ======================================================================

  /** Value 0-15 of hex char at 1-based position expr `i` of md5-hex `h`. */
  private def hv(h: String, i: String): String =
    s"(CASE WHEN ascii(substr($h, CAST($i AS INT), 1)) >= 97" +
      s" THEN ascii(substr($h, CAST($i AS INT), 1)) - 87" +
      s" ELSE ascii(substr($h, CAST($i AS INT), 1)) - 48 END)"

  private def sqlList(xs: Seq[String]): String =
    xs.map(w => "'" + w.replace("'", "''") + "'").mkString("[", ", ", "]")

  /** Word-3-gram shingle CTEs (toks, sh) over `documents` — the same
    * shingle definition as Dedup.shingles. */
  private val shingleCtes =
    """toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents),
      |sh AS (SELECT DISTINCT doc_id, s FROM (
      |   SELECT doc_id, unnest(list_transform(range(1, greatest(len(t)-1, 1)),
      |     i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
      |   FROM toks) raw WHERE s <> '')""".stripMargin

  /** Exact set-verify tail shared by jaccard/minhash oracles: candidates
    * (ia, ib) -> (id_a, id_b, inter, uni) with 7·|∩| ≥ 2·|∪|. */
  private val verifyTail =
    """sets AS (SELECT doc_id, list(s) AS ss FROM sh GROUP BY doc_id),
      |v AS (SELECT ia, ib, len(list_intersect(sa.ss, sb.ss)) AS inter,
      |        len(sa.ss) + len(sb.ss) - len(list_intersect(sa.ss, sb.ss)) AS uni
      |      FROM cand JOIN sets sa ON sa.doc_id = ia JOIN sets sb ON sb.doc_id = ib)
      |SELECT ia AS id_a, ib AS id_b, CAST(inter AS BIGINT) AS inter, CAST(uni AS BIGINT) AS uni
      |FROM v WHERE inter * 7 >= uni * 2 ORDER BY id_a, id_b""".stripMargin

  /** df-capped inverted-index candidate CTEs (cold, shc, cand) —
    * mirrors Dedup.jaccardPairs(maxDf = 100). */
  private val jaccardCandCtes =
    """cold AS (SELECT s FROM sh GROUP BY s HAVING count(*) <= 100),
      |shc AS (SELECT sh.doc_id, sh.s FROM sh JOIN cold USING (s)),
      |cand AS (SELECT DISTINCT a.doc_id AS ia, b.doc_id AS ib
      |         FROM shc a JOIN shc b ON a.s = b.s AND a.doc_id < b.doc_id)""".stripMargin

  private val jaccardSql =
    s"WITH $shingleCtes,\n$jaccardCandCtes,\n$verifyTail"

  /** Substring/span dedup oracles — 8-token windows, stride 1, mirroring
    * Dedup.substringSpans / substringPairs (window = 8, maxDf = 100,
    * minShared = 2). DuckDB list slices are INCLUSIVE (t[i:i+7] is 8
    * tokens) and range() is end-EXCLUSIVE (i runs 1..len-7), matching
    * Spark's inclusive sequence(0, size-8) of slice(t, i+1, 8). */
  private val windowCtes =
    """toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents),
      |w AS (SELECT doc_id, i - 1 AS pos, array_to_string(t[i:i+7], ' ') AS s
      |      FROM (SELECT doc_id, t, unnest(range(1, greatest(len(t) - 6, 1))) AS i
      |            FROM toks WHERE len(t) >= 8) r)""".stripMargin

  private val substringSpansSql =
    s"""WITH $windowCtes,
       |dfs AS (SELECT s, count(*) AS df FROM (SELECT DISTINCT doc_id, s FROM w) dw GROUP BY s),
       |mark AS (SELECT w.doc_id, w.pos, (dfs.df >= 2) AS isdup FROM w JOIN dfs USING (s)),
       |runs AS (SELECT doc_id, max(run) AS max_dup_run FROM (
       |    SELECT doc_id, rk, count(*) AS run FROM (
       |      SELECT doc_id, pos, pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS rk
       |      FROM mark WHERE isdup) g GROUP BY doc_id, rk) rr GROUP BY doc_id),
       |per AS (SELECT doc_id, count(*) AS total_windows,
       |               sum(CASE WHEN isdup THEN 1 ELSE 0 END) AS dup_windows
       |        FROM mark GROUP BY doc_id)
       |SELECT d.doc_id,
       |  CAST(coalesce(per.total_windows, 0) AS BIGINT) AS total_windows,
       |  CAST(coalesce(per.dup_windows, 0) AS BIGINT) AS dup_windows,
       |  CAST(coalesce(runs.max_dup_run, 0) AS BIGINT) AS max_dup_run
       |FROM documents d
       |LEFT JOIN per ON d.doc_id = per.doc_id
       |LEFT JOIN runs ON d.doc_id = runs.doc_id
       |ORDER BY d.doc_id""".stripMargin

  private val substringPairsSql =
    s"""WITH $windowCtes,
       |dw AS (SELECT DISTINCT doc_id, s FROM w),
       |cold AS (SELECT s FROM dw GROUP BY s HAVING count(*) BETWEEN 2 AND 100),
       |wc AS (SELECT dw.doc_id, dw.s FROM dw JOIN cold USING (s)),
       |cand AS (SELECT DISTINCT a.doc_id AS ia, b.doc_id AS ib
       |         FROM wc a JOIN wc b ON a.s = b.s AND a.doc_id < b.doc_id),
       |sets AS (SELECT doc_id, list(s) AS ss FROM dw GROUP BY doc_id)
       |SELECT ia AS id_a, ib AS id_b,
       |  CAST(len(list_intersect(sa.ss, sb.ss)) AS BIGINT) AS shared_windows
       |FROM cand JOIN sets sa ON sa.doc_id = ia JOIN sets sb ON sb.doc_id = ib
       |WHERE len(list_intersect(sa.ss, sb.ss)) >= 2
       |ORDER BY id_a, id_b""".stripMargin

  /** Incremental-dedup oracle — mirrors IncrementalDedup.dedupAgainstIndex
    * (window = 8, maxDf = 100) over the deterministic corpus/batch split
    * (doc_id % 10 < 8 vs >= 8). The oracle recomputes the corpus windows
    * relationally; the Spark side reads them from the persisted Delta
    * index — identical results prove the index IS the corpus. */
  private val incrementalSql =
    s"""WITH $windowCtes,
       |dw AS (SELECT DISTINCT doc_id, s FROM w),
       |corpus AS (SELECT * FROM dw WHERE doc_id % 10 < 8),
       |batch AS (SELECT * FROM dw WHERE doc_id % 10 >= 8),
       |member AS (SELECT DISTINCT s FROM corpus),
       |per AS (SELECT b.doc_id, count(*) AS total_windows,
       |               sum(CASE WHEN m.s IS NOT NULL THEN 1 ELSE 0 END) AS dup_windows
       |        FROM batch b LEFT JOIN member m USING (s) GROUP BY b.doc_id),
       |cold AS (SELECT s FROM corpus GROUP BY s HAVING count(*) <= 100),
       |shared AS (SELECT b.doc_id AS bid, c.doc_id AS cid, count(*) AS shared
       |           FROM batch b
       |           JOIN (SELECT corpus.* FROM corpus JOIN cold USING (s)) c USING (s)
       |           GROUP BY b.doc_id, c.doc_id),
       |best AS (SELECT bid, cid, shared,
       |                row_number() OVER (PARTITION BY bid ORDER BY shared DESC, cid) AS rn
       |         FROM shared)
       |SELECT d.doc_id,
       |  CAST(coalesce(per.total_windows, 0) AS BIGINT) AS total_windows,
       |  CAST(coalesce(per.dup_windows, 0) AS BIGINT) AS dup_windows,
       |  b.cid AS best_match,
       |  CAST(coalesce(b.shared, 0) AS BIGINT) AS shared_windows
       |FROM (SELECT doc_id FROM documents WHERE doc_id % 10 >= 8) d
       |LEFT JOIN per ON d.doc_id = per.doc_id
       |LEFT JOIN (SELECT * FROM best WHERE rn = 1) b ON d.doc_id = b.bid
       |ORDER BY d.doc_id""".stripMargin

  /** MinHash oracle — 32 min-md5 aggregates + 8 band buckets, mirroring
    * Dedup.minhashPairs(numHashes = 32, bandSize = 4). */
  private val minhashSql = {
    val numHashes = 32
    val bandSize = 4
    val mins = (0 until numHashes)
      .map(i => s"min(md5('$i:' || s)) AS mh_$i").mkString(",\n  ")
    val bands = (0 until numHashes / bandSize).map { b =>
      val cat = (b * bandSize until (b + 1) * bandSize).map(i => s"mh_$i").mkString(" || ")
      s"SELECT doc_id, $b AS band, md5($cat) AS bh FROM sig"
    }.mkString("\n  UNION ALL ")
    s"""WITH $shingleCtes,
       |sig AS (SELECT doc_id,
       |  $mins
       |  FROM sh GROUP BY doc_id),
       |banded AS (
       |  $bands),
       |cand AS (SELECT DISTINCT a.doc_id AS ia, b.doc_id AS ib
       |         FROM banded a JOIN banded b
       |         ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
       |$verifyTail""".stripMargin
  }

  /** Connected-component canonicalization oracle: transitive closure over
    * the jaccard pair graph (recursive CTE), keep_id = min reachable id —
    * the fixpoint Dedup.canonicalize converges to. */
  private val canonicalSql =
    s"""WITH RECURSIVE $shingleCtes,
       |$jaccardCandCtes,
       |sets AS (SELECT doc_id, list(s) AS ss FROM sh GROUP BY doc_id),
       |pairs AS (SELECT ia, ib FROM (
       |    SELECT ia, ib, len(list_intersect(sa.ss, sb.ss)) AS inter,
       |           len(sa.ss) + len(sb.ss) - len(list_intersect(sa.ss, sb.ss)) AS uni
       |    FROM cand JOIN sets sa ON sa.doc_id = ia JOIN sets sb ON sb.doc_id = ib)
       |  WHERE inter * 7 >= uni * 2),
       |nbrs AS (SELECT ia AS n, ib AS m FROM pairs UNION ALL SELECT ib, ia FROM pairs),
       |reach AS (
       |  SELECT n AS doc_id, n AS r FROM (SELECT DISTINCT n FROM nbrs)
       |  UNION
       |  SELECT nbrs.n AS doc_id, reach.r FROM reach JOIN nbrs ON nbrs.m = reach.doc_id)
       |SELECT doc_id, min(r) AS keep_id FROM reach GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Composed curation verdict oracle: the near-dup (canonicalization),
    * contamination (5-gram), repetition (bigram) and length signals in ONE
    * query — mirrors Curation.verdict's fixed reason order. Every flag is
    * a concrete boolean (IS NOT NULL / direct comparison), so OR-logic has
    * no three-valued surprises. */
  private val curationVerdictSql =
    s"""WITH RECURSIVE $shingleCtes,
       |$jaccardCandCtes,
       |sets AS (SELECT doc_id, list(s) AS ss FROM sh GROUP BY doc_id),
       |pairs AS (SELECT ia, ib FROM (
       |    SELECT ia, ib, len(list_intersect(sa.ss, sb.ss)) AS inter,
       |           len(sa.ss) + len(sb.ss) - len(list_intersect(sa.ss, sb.ss)) AS uni
       |    FROM cand JOIN sets sa ON sa.doc_id = ia JOIN sets sb ON sb.doc_id = ib)
       |  WHERE inter * 7 >= uni * 2),
       |nbrs AS (SELECT ia AS n, ib AS m FROM pairs UNION ALL SELECT ib, ia FROM pairs),
       |reach AS (
       |  SELECT n AS doc_id, n AS r FROM (SELECT DISTINCT n FROM nbrs)
       |  UNION
       |  SELECT nbrs.n AS doc_id, reach.r FROM reach JOIN nbrs ON nbrs.m = reach.doc_id),
       |dup AS (SELECT doc_id FROM (
       |    SELECT doc_id, min(r) AS keep_id FROM reach GROUP BY doc_id)
       |  WHERE keep_id <> doc_id),
       |bg AS (SELECT doc_id, unnest(list_transform(range(1, greatest(len(t), 1)),
       |      i -> t[i] || ' ' || t[i+1])) AS b FROM toks),
       |bg2 AS (SELECT doc_id, b FROM bg WHERE len(string_split(b, ' ')) = 2),
       |bcnt AS (SELECT doc_id, b, count(*) AS c FROM bg2 GROUP BY doc_id, b),
       |rep AS (SELECT doc_id FROM (
       |    SELECT doc_id, max(c) AS top_n, sum(c) AS total_n FROM bcnt GROUP BY doc_id)
       |  WHERE top_n * 20 >= total_n AND total_n >= 20),
       |ng5 AS (SELECT DISTINCT doc_id, s5 FROM (
       |   SELECT doc_id, unnest(list_transform(range(1, greatest(len(t)-3, 1)),
       |     i -> t[i]||' '||t[i+1]||' '||t[i+2]||' '||t[i+3]||' '||t[i+4])) AS s5
       |   FROM toks) raw WHERE len(string_split(s5,' ')) = 5),
       |bench AS (SELECT DISTINCT s5 FROM ng5 WHERE doc_id % 31 = 0),
       |contam AS (SELECT DISTINCT ng5.doc_id FROM ng5 JOIN bench USING (s5)
       |           WHERE ng5.doc_id % 31 <> 0),
       |v AS (SELECT d.doc_id,
       |  (dup.doc_id IS NOT NULL) AS f_dup,
       |  (contam.doc_id IS NOT NULL) AS f_contam,
       |  (rep.doc_id IS NOT NULL) AS f_rep,
       |  (d.n_chars < 50) AS f_short
       |  FROM documents d LEFT JOIN dup ON d.doc_id = dup.doc_id
       |  LEFT JOIN contam ON d.doc_id = contam.doc_id
       |  LEFT JOIN rep ON d.doc_id = rep.doc_id)
       |SELECT doc_id,
       |  (NOT (f_dup OR f_contam OR f_rep OR f_short)) AS keep,
       |  concat_ws(',', CASE WHEN f_dup THEN 'dup' END,
       |    CASE WHEN f_contam THEN 'contam' END,
       |    CASE WHEN f_rep THEN 'rep' END,
       |    CASE WHEN f_short THEN 'short' END) AS reasons
       |FROM v ORDER BY doc_id""".stripMargin

  /** SimHash signature CTE body: per-doc 64-bit simhash as 16 hex chars
    * from md5 token hashes — mirrors TextOps.simhashHexAgg. Yields
    * `SELECT doc_id, <sig> AS sh FROM ...` over `documents`. */
  private val simhashSigSql = {
    val nibbles = (0 until 16).map(i => hv("h", (i + 1).toString) + s" AS v$i").mkString(",\n    ")
    val bitSums = (0 until 64).map(b => s"sum((v${b / 4} >> ${b % 4}) & 1) AS b$b").mkString(",\n    ")
    val sig = (0 until 16).map { i =>
      val v = (0 until 4)
        .map(j => s"(CASE WHEN 2 * b${4 * i + j} > n THEN ${1 << j} ELSE 0 END)")
        .mkString(" + ")
      s"substr('0123456789abcdef', $v + 1, 1)"
    }.mkString(" ||\n    ")
    s"""SELECT doc_id,
       |    $sig AS sh
       |FROM (
       |  SELECT doc_id, count(*) AS n,
       |    $bitSums
       |  FROM (SELECT doc_id,
       |    $nibbles
       |    FROM (SELECT doc_id, md5(unnest(string_split_regex(trim(text), '\\s+'))) AS h
       |          FROM documents))
       |  GROUP BY doc_id)""".stripMargin
  }

  /** Hamming distance between two 16-hex-char sigs (SQL expr). */
  private def hammingSql(a: String, b: String): String =
    (1 to 16).map(i => s"bit_count(xor(${hv(a, i.toString)}, ${hv(b, i.toString)}))")
      .mkString(" + ")

  private val simhashPairsSql =
    s"""WITH sig AS ($simhashSigSql),
       |ch AS (SELECT doc_id, sh, unnest(range(0, 4)) AS c FROM sig),
       |ch2 AS (SELECT doc_id, sh, c, substr(sh, CAST(c * 4 + 1 AS INT), 4) AS cv FROM ch),
       |cand AS (SELECT DISTINCT a.doc_id AS ia, b.doc_id AS ib, a.sh AS sha, b.sh AS shb
       |         FROM ch2 a JOIN ch2 b
       |         ON a.c = b.c AND a.cv = b.cv AND a.doc_id < b.doc_id)
       |SELECT id_a, id_b, hamming FROM (
       |  SELECT ia AS id_a, ib AS id_b,
       |    CAST(${hammingSql("sha", "shb")} AS BIGINT) AS hamming
       |  FROM cand)
       |WHERE hamming <= 3 ORDER BY id_a, id_b""".stripMargin

  private val fingerprintSql =
    s"""WITH fp AS (SELECT doc_id,
       |    list_min(list_transform(range(1, greatest(length(text) - 15, 1) + 1),
       |      i -> md5(substr(text, CAST(i AS INT), 16)))) AS fp
       |  FROM documents),
       |sig AS ($simhashSigSql)
       |SELECT fp.doc_id, fp.fp, sig.sh FROM fp JOIN sig USING (doc_id) ORDER BY doc_id""".stripMargin

  private val langidSql = {
    val profs = TextOps.langProfiles.toSeq.sortBy(_._1)
    val scores = profs.map { case (lang, words) =>
      s"len(list_intersect(toks, ${sqlList(words)})) AS s_$lang"
    }.mkString(",\n    ")
    val g = profs.map(p => s"s_${p._1}").mkString("greatest(", ", ", ")")
    // ties pick the lexicographically-last language (Spark's struct max)
    val pick = profs.map(_._1).sorted.reverse.dropRight(1)
      .map(l => s"WHEN s_$l = g THEN '$l'")
      .mkString("CASE ", " ", s" ELSE '${profs.map(_._1).min}' END")
    s"""WITH t AS (SELECT list_distinct(string_split_regex(trim(lower(text)), '\\s+')) AS toks
       |  FROM documents),
       |s AS (SELECT
       |    $scores
       |  FROM t)
       |SELECT pred, count(*) AS n FROM (
       |  SELECT $pick AS pred FROM (SELECT *, $g AS g FROM s))
       |GROUP BY pred ORDER BY pred""".stripMargin
  }

  private val qualitySql = {
    val stops = sqlList(TextOps.englishStopwords)
    s"""WITH t AS (SELECT lang, text, n_chars,
       |    string_split_regex(trim(text), '\\s+') AS toks FROM documents),
       |q AS (SELECT lang,
       |  CASE WHEN len(toks) > 0
       |       THEN len(list_intersect(list_distinct(toks), $stops)) * 1.0 / len(toks)
       |       ELSE 0.0 END AS stop_ratio,
       |  round(least(n_chars / 500.0, 1.0) * 0.3
       |      + (length(regexp_replace(text, '[^a-z]', '', 'g')) * 1.0 / n_chars) * 0.5
       |      + (CASE WHEN (CASE WHEN len(toks) > 0 THEN n_chars * 1.0 / len(toks) ELSE 0.0 END)
       |              BETWEEN 3 AND 12 THEN 1.0 ELSE 0.5 END) * 0.2, 4) AS quality
       |  FROM t)
       |SELECT lang, count(*) AS n, round(avg(stop_ratio), 4) AS stop_ratio,
       |  round(avg(quality), 4) AS quality
       |FROM q GROUP BY lang ORDER BY lang""".stripMargin
  }

  /** Embeddings CTEs (e, b): double vector, floor(x·1000) quantization,
    * Rademacher-plane sign buckets — mirrors Similarity.lshBucket with the
    * SAME plane literals (generated from the same seed). */
  private def lshBucketCtes(numPlanes: Int, seed: Long): String = {
    val planes = Similarity.radPlanes(numPlanes, 64, seed)
    val bucket = planes.zipWithIndex.map { case (p, i) =>
      val lits = p.mkString("[", ", ", "]")
      s"(CASE WHEN list_sum(list_transform(range(1, 65), j -> q[j] * ($lits)[j])) >= 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString("\n    + ")
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
       |    list_transform(CAST(embedding AS DOUBLE[]), x -> CAST(floor(x * 1000.0) AS BIGINT)) AS q
       |  FROM embeddings),
       |b AS (SELECT vec_id, v,
       |    $bucket AS bucket
       |  FROM e)""".stripMargin
  }

  /** PQ + exact re-rank oracle — mirrors Similarity.pqTopK(m=8, K=32,
    * cand=50): data-seeded codebook, struct-min code assignment (ties →
    * smallest cid, the same (d, cid) ordering as Spark's array_min), ADC
    * candidate scoring, exact integer re-rank. */
  private val annPqTopkSql = {
    val (m, k, sub, cand, qid, topk) = (8, 32, 8, 50, 0, 10)
    val subcols = (0 until m).map(j =>
      s"list_sum(list_transform(range(1,${sub + 1}), i -> " +
        s"(z.q[${j * sub}+i]-c.q[${j * sub}+i])*(z.q[${j * sub}+i]-c.q[${j * sub}+i]))) AS d$j")
      .mkString(",\n  ")
    val codecols = (0 until m).map(j =>
      s"(min({'d': d$j, 'cid': cid})).cid AS c$j").mkString(",\n  ")
    val joins = (0 until m).map(j => s"JOIN qd q$j ON q$j.cid = codes.c$j").mkString("\n")
    val addist = (0 until m).map(j => s"q$j.d$j").mkString(" + ")
    val dcols = (0 until m).map(j => s"d$j").mkString(", ")
    s"""WITH z AS (SELECT vec_id,
       |    list_transform(embedding::DOUBLE[], x -> CAST(floor(x*1000) AS BIGINT)) AS q
       |  FROM embeddings),
       |cent AS (SELECT vec_id AS cid, q FROM z ORDER BY vec_id LIMIT $k),
       |sub AS (SELECT z.vec_id, c.cid,
       |  $subcols
       |  FROM z, cent c),
       |codes AS (SELECT vec_id,
       |  $codecols
       |  FROM sub GROUP BY vec_id),
       |qd AS (SELECT cid, $dcols FROM sub WHERE vec_id = $qid),
       |cands AS (SELECT codes.vec_id, CAST($addist AS BIGINT) AS adist FROM codes
       |$joins
       |  WHERE codes.vec_id <> $qid ORDER BY adist, codes.vec_id LIMIT $cand),
       |qv AS (SELECT q FROM z WHERE vec_id = $qid)
       |SELECT c2.vec_id,
       |  CAST(list_sum(list_transform(range(1,65), i -> (z.q[i]-qv.q[i])*(z.q[i]-qv.q[i]))) AS BIGINT) AS d2
       |FROM cands c2 JOIN z ON z.vec_id = c2.vec_id, qv
       |ORDER BY d2, c2.vec_id LIMIT $topk""".stripMargin
  }

  private val annLshTopkSql =
    s"""WITH ${lshBucketCtes(6, 42L)},
       |qv AS (SELECT v, bucket FROM b WHERE vec_id = 0)
       |SELECT b.vec_id, round(list_cosine_similarity(b.v, qv.v), 4) AS sim
       |FROM b, qv
       |WHERE b.vec_id <> 0 AND bit_count(xor(b.bucket, qv.bucket)) <= 1
       |ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin

  /** BANDED near-dup oracle mirroring Similarity.lshNearDupPairsBanded
    * (k=3 planes × 6 tables, same 18 plane literals, same band slices):
    * per-table bucket index → per-table bucket join → DISTINCT candidate
    * pairs → exact cosine verify. Integer-quantized projections keep the
    * buckets bit-identical across engines. */
  private val embNearDupCtes = {
    val k = 3; val tables = 6
    val planes = Similarity.radPlanes(k * tables, 64, 42L)
    def bucketExpr(t: Int): String =
      (0 until k).map { i =>
        val lits = planes(t * k + i).mkString("[", ", ", "]")
        s"(CASE WHEN list_sum(list_transform(range(1, 65), j -> q[j] * ($lits)[j])) >= 0 THEN ${1L << i} ELSE 0 END)"
      }.mkString("\n    + ")
    val index = (0 until tables).map { t =>
      s"SELECT vec_id, $t AS tbl,\n    ${bucketExpr(t)} AS bucket FROM e"
    }.mkString("\n  UNION ALL\n  ")
    s"""e AS (SELECT vec_id,
       |    list_transform(CAST(embedding AS DOUBLE[]), x -> CAST(floor(x * 1000.0) AS BIGINT)) AS q
       |  FROM embeddings),
       |v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |idx AS (
       |  $index),
       |cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
       |  FROM idx a JOIN idx b
       |    ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
       |vpairs AS (SELECT id_a, id_b,
       |    round(list_cosine_similarity(va.v, vb.v), 4) AS sim
       |  FROM cand JOIN v va ON id_a = va.vec_id JOIN v vb ON id_b = vb.vec_id
       |  WHERE round(list_cosine_similarity(va.v, vb.v), 4) >= 0.2)""".stripMargin
  }

  private val embNearDupSql =
    s"""WITH $embNearDupCtes
       |SELECT id_a, id_b, sim FROM vpairs ORDER BY id_a, id_b""".stripMargin

  /** Connected components over the banded-LSH verified pair graph:
    * keep_id = min reachable vec_id (recursive CTE) — the fixpoint
    * Dedup.canonicalize converges to on the same pairs. */
  private val embNearDupClustersSql =
    s"""WITH RECURSIVE $embNearDupCtes,
       |nbrs AS (SELECT id_a AS n, id_b AS m FROM vpairs
       |  UNION ALL SELECT id_b, id_a FROM vpairs),
       |reach AS (
       |  SELECT n AS doc_id, n AS r FROM (SELECT DISTINCT n FROM nbrs)
       |  UNION
       |  SELECT nbrs.n AS doc_id, reach.r FROM reach JOIN nbrs ON nbrs.m = reach.doc_id)
       |SELECT doc_id AS vec_id, min(r) AS keep_id
       |FROM reach GROUP BY doc_id ORDER BY vec_id""".stripMargin

  /** Seeded-IVF oracle: cells = vectors with vec_id < 16, exact integer L2
    * assignment (ties → lower cell id), probe the 4 cells nearest the
    * query — mirrors Similarity.ivfTopKSeeded. */
  private val annIvfTopkSql =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
       |    list_transform(CAST(embedding AS DOUBLE[]), x -> CAST(floor(x * 1000.0) AS BIGINT)) AS q
       |  FROM embeddings),
       |sd AS (SELECT vec_id AS cid, cq FROM (SELECT vec_id, q AS cq FROM e WHERE vec_id < 16)),
       |dist AS (SELECT e.vec_id, sd.cid,
       |    CAST(list_sum(list_transform(range(1, 65),
       |      j -> (e.q[j] - sd.cq[j]) * (e.q[j] - sd.cq[j]))) AS BIGINT) AS d
       |  FROM e, sd),
       |asn AS (SELECT vec_id, struct_extract(min({'d': d, 'c': cid}), 'c') AS cell
       |  FROM dist GROUP BY vec_id),
       |qd AS (SELECT sd.cid,
       |    CAST(list_sum(list_transform(range(1, 65),
       |      j -> (qq.q[j] - sd.cq[j]) * (qq.q[j] - sd.cq[j]))) AS BIGINT) AS d
       |  FROM sd, (SELECT q FROM e WHERE vec_id = 0) qq),
       |probe AS (SELECT cid FROM qd ORDER BY d, cid LIMIT 4)
       |SELECT e.vec_id, round(list_cosine_similarity(e.v,
       |    (SELECT v FROM e WHERE vec_id = 0)), 4) AS sim
       |FROM e JOIN asn ON asn.vec_id = e.vec_id
       |WHERE asn.cell IN (SELECT cid FROM probe) AND e.vec_id <> 0
       |ORDER BY sim DESC, e.vec_id LIMIT 10""".stripMargin

  /** Multimodal oracle: re-derives the md5-chain payload bytes from hex
    * chars and aggregates the same features — mirrors
    * Multimodal.syntheticMedia + decodeStub. */
  private val multimodalSql =
    s"""WITH d AS (SELECT doc_id, CAST(256 + doc_id % 128 AS BIGINT) AS len FROM documents),
       |blk AS (SELECT doc_id, len, unnest(range(0, CAST(ceil(len / 16.0) AS BIGINT))) AS b FROM d),
       |hx AS (SELECT doc_id, len, b, md5(concat(doc_id, ':', b)) AS h FROM blk),
       |byt AS (SELECT doc_id, len, b * 16 + p AS pos,
       |    ${hv("h", "2*p+1")} * 16 + ${hv("h", "2*p+2")} AS v
       |  FROM hx CROSS JOIN (SELECT unnest(range(0, 16)) AS p) pp)
       |SELECT doc_id, len AS media_len,
       |  CAST((sum(v) * 100) // len AS BIGINT) AS mean_byte_x100,
       |  count(*) FILTER (WHERE v < 16) AS hist0,
       |  count(*) FILTER (WHERE v >= 240) AS hist15
       |FROM byt WHERE pos < len
       |GROUP BY doc_id, len ORDER BY doc_id""".stripMargin

  /** PPM oracle: re-derives every pixel from the shared formula
    * v(c) = (doc_id·31 + p·7 + c·13) mod 256 over the doc's W×H raster
    * (W = 16 + id%16, H = 16 + id%8; max raster 31·23 = 713 px) and
    * aggregates the same integer features the decoder extracts —
    * mirrors Multimodal.syntheticPpm/decodePpm/ppmFeatures. */
  private val multimodalPpmSql =
    """WITH dims AS (SELECT doc_id, CAST(16 + doc_id % 16 AS BIGINT) AS w,
      |    CAST(16 + doc_id % 8 AS BIGINT) AS h FROM documents),
      |px AS (SELECT d.doc_id, d.w, d.h, s.p
      |  FROM dims d JOIN (SELECT unnest(range(0, 713)) AS p) s ON s.p < d.w * d.h),
      |sums AS (SELECT doc_id, w, h,
      |    CAST(sum((doc_id*31 + p*7) % 256) * 100 // (w*h) AS BIGINT) AS mean_r_x100,
      |    CAST(sum((doc_id*31 + p*7 + 13) % 256) * 100 // (w*h) AS BIGINT) AS mean_g_x100,
      |    CAST(sum((doc_id*31 + p*7 + 26) % 256) * 100 // (w*h) AS BIGINT) AS mean_b_x100
      |  FROM px GROUP BY doc_id, w, h),
      |th AS (SELECT d.doc_id,
      |    CAST(sum(
      |        ((d.doc_id*31 + (((g.i // 4) * d.h // 4) * d.w + (g.i % 4) * d.w // 4)*7) % 256)
      |    + 2*((d.doc_id*31 + (((g.i // 4) * d.h // 4) * d.w + (g.i % 4) * d.w // 4)*7 + 13) % 256)
      |    + 3*((d.doc_id*31 + (((g.i // 4) * d.h // 4) * d.w + (g.i % 4) * d.w // 4)*7 + 26) % 256)
      |      ) AS BIGINT) AS thumb_sum
      |  FROM dims d CROSS JOIN (SELECT unnest(range(0, 16)) AS i) g
      |  GROUP BY d.doc_id)
      |SELECT s.doc_id, s.w, s.h, s.mean_r_x100, s.mean_g_x100, s.mean_b_x100,
      |  th.thumb_sum
      |FROM sums s JOIN th ON s.doc_id = th.doc_id
      |ORDER BY s.doc_id""".stripMargin

  /** PNG oracle: re-derives every pixel from the shared formula
    * v(c) = (doc_id·23 + p·5 + c·17) mod 256 over the doc's W×H raster
    * (W = 12 + id%12, H = 12 + id%6; max raster 23·17 = 391 px) and
    * aggregates the same integer features the ImageIO decode path
    * extracts — PNG is lossless, so decoded pixels are bit-exact against
    * the formula. edge_sum covers the top row (p = x, x &lt; W) and left
    * column (p = y·W, 1 ≤ y &lt; H) — mirrors
    * Multimodal.syntheticImage/decodeImage/pngFeatures. */
  private val multimodalPngSql =
    """WITH dims AS (SELECT doc_id, CAST(12 + doc_id % 12 AS BIGINT) AS w,
      |    CAST(12 + doc_id % 6 AS BIGINT) AS h FROM documents),
      |px AS (SELECT d.doc_id, d.w, d.h, s.p
      |  FROM dims d JOIN (SELECT unnest(range(0, 391)) AS p) s ON s.p < d.w * d.h),
      |sums AS (SELECT doc_id, w, h,
      |    CAST(sum((doc_id*23 + p*5) % 256) * 100 // (w*h) AS BIGINT) AS mean_r_x100,
      |    CAST(sum((doc_id*23 + p*5 + 17) % 256) * 100 // (w*h) AS BIGINT) AS mean_g_x100,
      |    CAST(sum((doc_id*23 + p*5 + 34) % 256) * 100 // (w*h) AS BIGINT) AS mean_b_x100
      |  FROM px GROUP BY doc_id, w, h),
      |ed AS (SELECT d.doc_id, x.x AS p FROM dims d
      |    JOIN (SELECT unnest(range(0, 23)) AS x) x ON x.x < d.w
      |  UNION ALL
      |  SELECT d.doc_id, y.y * d.w AS p FROM dims d
      |    JOIN (SELECT unnest(range(1, 17)) AS y) y ON y.y < d.h),
      |eg AS (SELECT doc_id, CAST(sum(
      |      ((doc_id*23 + p*5) % 256)
      |  + 2*((doc_id*23 + p*5 + 17) % 256)
      |  + 3*((doc_id*23 + p*5 + 34) % 256)) AS BIGINT) AS edge_sum
      |  FROM ed GROUP BY doc_id)
      |SELECT s.doc_id, s.w, s.h, s.mean_r_x100, s.mean_g_x100, s.mean_b_x100,
      |  eg.edge_sum
      |FROM sums s JOIN eg ON s.doc_id = eg.doc_id
      |ORDER BY s.doc_id""".stripMargin

  /** PNG-resize oracle: re-derives the 8×8 nearest-neighbor point sample
    * — target (tx,ty) reads source pixel p = ⌊ty·H/8⌋·W + ⌊tx·W/8⌋ —
    * and checksums r + 2g + 3b from the shared pixel formula. Mirrors
    * Multimodal.resizeNearest/pngResize. */
  private val multimodalPngResizeSql =
    """WITH dims AS (SELECT doc_id, CAST(12 + doc_id % 12 AS BIGINT) AS w,
      |    CAST(12 + doc_id % 6 AS BIGINT) AS h FROM documents),
      |cell AS (SELECT d.doc_id,
      |    CAST(floor(tys.ty * d.h / 8) AS BIGINT) * d.w
      |      + CAST(floor(txs.tx * d.w / 8) AS BIGINT) AS p
      |  FROM dims d
      |  CROSS JOIN (SELECT unnest(range(0, 8)) AS ty) tys
      |  CROSS JOIN (SELECT unnest(range(0, 8)) AS tx) txs)
      |SELECT doc_id, CAST(8 AS BIGINT) AS rw, CAST(8 AS BIGINT) AS rh,
      |  CAST(sum(
      |      ((doc_id*23 + p*5) % 256)
      |  + 2*((doc_id*23 + p*5 + 17) % 256)
      |  + 3*((doc_id*23 + p*5 + 34) % 256)) AS BIGINT) AS rsum
      |FROM cell GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Y4M oracle: re-derives every sampled frame's luma plane from the
    * shared formula v(f,p) = (doc_id·17 + f·101 + p·3) mod 256 — frames
    * 4 + id%5 (every 2nd sampled), luma plane (8+id%8)·2 × (8+id%4)·2 —
    * mirrors Multimodal.syntheticY4m/decodeY4m/y4mFrameSample. */
  private val multimodalY4mSql =
    """WITH d AS (SELECT doc_id,
      |    CAST((8 + doc_id % 8) * 2 AS BIGINT) AS w,
      |    CAST((8 + doc_id % 4) * 2 AS BIGINT) AS h,
      |    CAST(4 + doc_id % 5 AS BIGINT) AS nf FROM documents),
      |fr AS (SELECT d.doc_id, d.w, d.h, d.nf, f.f
      |  FROM d JOIN (SELECT unnest(range(0, 8)) AS f) f
      |    ON f.f < d.nf AND f.f % 2 = 0),
      |px AS (SELECT fr.doc_id, fr.w, fr.h, fr.nf, fr.f,
      |    (fr.doc_id*17 + fr.f*101 + p.p*3) % 256 AS v
      |  FROM fr JOIN (SELECT unnest(range(0, 660)) AS p) p ON p.p < fr.w * fr.h)
      |SELECT doc_id, w, h, nf AS n_frames,
      |  CAST(count(DISTINCT f) AS BIGINT) AS n_sampled,
      |  CAST(sum(v) AS BIGINT) AS luma_sum,
      |  CAST(max(v) AS BIGINT) AS luma_max
      |FROM px GROUP BY doc_id, w, h, nf ORDER BY doc_id""".stripMargin

  /** WAV oracle: re-derives every PCM sample from the shared formula
    * v(i) = ((doc_id·37 + i·11) mod 4001) − 2000 over the doc's
    * n = 256 + id%256 samples and aggregates the same integer features —
    * mirrors Multimodal.syntheticWav/decodeWav/wavFeatures. */
  private val multimodalWavSql =
    """WITH d AS (SELECT doc_id, CAST(256 + doc_id % 256 AS BIGINT) AS n FROM documents),
      |sm AS (SELECT d.doc_id, s.i, ((d.doc_id*37 + s.i*11) % 4001) - 2000 AS v
      |  FROM d JOIN (SELECT unnest(range(0, 512)) AS i) s ON s.i < d.n),
      |zc AS (SELECT doc_id, i, v,
      |    lag(v) OVER (PARTITION BY doc_id ORDER BY i) AS pv FROM sm)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_samples,
      |  CAST(sum(abs(v)) AS BIGINT) AS sum_abs,
      |  CAST(max(abs(v)) AS BIGINT) AS peak,
      |  CAST(count(*) FILTER (WHERE i > 0 AND ((pv < 0) <> (v < 0))) AS BIGINT)
      |    AS zero_crossings
      |FROM zc GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** 24-bit stereo WAV oracle: re-derives every PCM sample from the
    * shared formula v(i, ch) = ((doc_id·37 + i·11 + ch·10007) mod
    * 4000001) − 2000000 over n = 200 + id%200 frames × 2 channels —
    * values up to ±2,000,000 overflow 16 bits, so a decoder that fails
    * 24-bit sign extension or channel de-interleave cannot pass. Mirrors
    * Multimodal.syntheticWav24Stereo/decodeWav/wavChannelFeatures. */
  private val multimodalWav24Sql =
    """WITH d AS (SELECT doc_id, CAST(200 + doc_id % 200 AS BIGINT) AS n FROM documents),
      |sm AS (SELECT d.doc_id, c.c, s.i,
      |    ((d.doc_id*37 + s.i*11 + c.c*10007) % 4000001) - 2000000 AS v
      |  FROM d CROSS JOIN (SELECT unnest(range(0, 2)) AS c) c
      |  JOIN (SELECT unnest(range(0, 400)) AS i) s ON s.i < d.n),
      |zc AS (SELECT doc_id, c, i, v,
      |    lag(v) OVER (PARTITION BY doc_id, c ORDER BY i) AS pv FROM sm)
      |SELECT doc_id, CAST(c AS BIGINT) AS channel,
      |  CAST(count(*) AS BIGINT) AS n_samples,
      |  CAST(sum(abs(v)) AS BIGINT) AS sum_abs,
      |  CAST(max(abs(v)) AS BIGINT) AS peak,
      |  CAST(count(*) FILTER (WHERE i > 0 AND ((pv < 0) <> (v < 0))) AS BIGINT)
      |    AS zero_crossings
      |FROM zc GROUP BY doc_id, c ORDER BY doc_id, channel""".stripMargin

  // benchmark decontamination: 5-gram overlap vs the doc_id%31==0
  // pseudo-benchmark; word-count guard drops short-doc partial grams on
  // both engines (NULL-concat in DuckDB, concat_ws null-skip in Spark).
  // Shared by text_decontaminate and its bloom-prefiltered variant — the
  // prefilter is approximate but the verify join is exact, so both
  // queries answer the SAME oracle.
  private val decontaminateSql =
    """WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents),
      |ng AS (SELECT DISTINCT doc_id, s FROM (
      |   SELECT doc_id, unnest(list_transform(range(1, greatest(len(t)-3, 1)),
      |     i -> t[i]||' '||t[i+1]||' '||t[i+2]||' '||t[i+3]||' '||t[i+4])) AS s
      |   FROM toks) raw WHERE len(string_split(s,' ')) = 5),
      |bench AS (SELECT DISTINCT s FROM ng WHERE doc_id % 31 = 0),
      |hits AS (SELECT ng.doc_id, ng.s FROM ng JOIN bench USING (s)
      |         WHERE ng.doc_id % 31 <> 0)
      |SELECT doc_id, CAST(count(DISTINCT s) AS BIGINT) AS n_shared
      |FROM hits GROUP BY doc_id ORDER BY doc_id""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "text_pii_scrub" ->
      """WITH pii AS (
        |  SELECT doc_id,
        |    text || ' contact user' || doc_id || '@example.com' ||
        |      ' or 555-123-4567 ssn 123-45-' ||
        |      lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS txt
        |  FROM documents),
        |scr AS (
        |  SELECT doc_id, txt,
        |    regexp_replace(
        |      regexp_replace(
        |        regexp_replace(txt, '[0-9]{3}-[0-9]{2}-[0-9]{4}', '[SSN]', 'g'),
        |        '[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}', '[PHONE]', 'g'),
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g') AS scrubbed
        |  FROM pii)
        |SELECT count(*) FILTER (scrubbed LIKE '%[EMAIL]%') AS emails,
        |  count(*) FILTER (scrubbed LIKE '%[PHONE]%') AS phones,
        |  count(*) FILTER (scrubbed LIKE '%[SSN]%') AS ssns,
        |  CAST(sum(length(txt) - length(scrubbed)) AS BIGINT) AS chars_redacted
        |FROM scr""".stripMargin,
    "q_str_minmax" ->
      """SELECT lang, source, min(text) AS min_text, max(text) AS max_text,
        | CAST(count(*) AS BIGINT) AS n
        |FROM documents GROUP BY lang, source ORDER BY lang, source""".stripMargin,
    "text_token_stats" ->
      """SELECT lang, count(*) AS n,
        | CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS toks,
        | round(avg(length(regexp_replace(text, '[^a-z]', '', 'g')) * 1.0 / n_chars), 4) AS alpha_ratio
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "text_bpe_tokens" ->
      """SELECT lang,
        | CAST(sum(list_sum(list_transform(string_split_regex(trim(text), '\s+'),
        |   w -> cast(ceil(length(w)/4.0) AS BIGINT)))) AS BIGINT) AS subtoks
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "text_quality" -> qualitySql,
    "text_langid" -> langidSql,
    "text_fingerprint" -> fingerprintSql,
    // vocab: identical tokenization (trim→lower→\s+ split), ties by token
    "text_vocab_topk" ->
      """SELECT token, CAST(count(*) AS BIGINT) AS cnt FROM (
        |  SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
        |  FROM documents) t
        |WHERE length(token) > 0
        |GROUP BY token ORDER BY cnt DESC, token LIMIT 50""".stripMargin,
    // tf-idf: integer-quantized score floor(tf*ln(N/df)*100) — raw doubles
    // differ in the last ulp between libm implementations
    "text_tfidf_topk" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
        |  FROM documents),
        |tok2 AS (SELECT doc_id, token FROM tok WHERE length(token) > 0),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok2 GROUP BY doc_id, token),
        |dfreq AS (SELECT token, count(DISTINCT doc_id) AS df FROM tok2 GROUP BY token),
        |n AS (SELECT count(*) AS n FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.token,
        |    CAST(floor(tf.tf * ln(n.n * 1.0 / dfreq.df) * 100) AS BIGINT) AS score
        |  FROM tf, dfreq, n WHERE tf.token = dfreq.token),
        |ranked AS (
        |  SELECT doc_id, token, score,
        |    CAST(row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, token)
        |      AS BIGINT) AS rk
        |  FROM scored)
        |SELECT doc_id, rk, token, score FROM ranked
        |WHERE rk <= 3 AND doc_id < 500
        |ORDER BY doc_id, rk""".stripMargin,
    // sliding-window chunking: 120-char windows, stride 100; chunk count
    // via pure integer arithmetic so both engines agree on every edge
    "text_chunks" ->
      """WITH d AS (SELECT doc_id, text,
        |    (greatest(length(text)-120,0)+99)//100 + 1 AS nc FROM documents),
        |e AS (SELECT doc_id, text, unnest(range(0, nc)) AS chunk_id FROM d)
        |SELECT doc_id, chunk_id,
        |  md5(substr(text, CAST(chunk_id*100+1 AS INT), 120)) AS h,
        |  CAST(length(substr(text, CAST(chunk_id*100+1 AS INT), 120)) AS BIGINT) AS n
        |FROM e ORDER BY doc_id, chunk_id""".stripMargin,
    // benchmark decontamination: 5-gram overlap vs the doc_id%31==0
    // pseudo-benchmark; word-count guard drops short-doc partial grams on
    // both engines (NULL-concat in DuckDB, concat_ws null-skip in Spark)
    "text_decontaminate" -> decontaminateSql,
    // bloom-prefiltered variant: prefilter is approximate, the verify join
    // is exact, so the ORACLE IS IDENTICAL to text_decontaminate
    "text_decontaminate_bloom" -> decontaminateSql,
    // token-budget sharding: shard = exclusive-prefix-tokens div 2000 in
    // doc_id order (the oracle's single window equals the distributed
    // two-level prefix sum exactly)
    "shard_token_budget" ->
      """WITH t AS (SELECT doc_id,
        |    len(string_split_regex(trim(text),'\s+')) AS nt FROM documents),
        |c AS (SELECT doc_id, nt, coalesce(sum(nt) OVER (ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),0) AS bef FROM t)
        |SELECT CAST(bef//2000 AS BIGINT) AS shard, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(nt) AS BIGINT) AS toks,
        |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,
    // unigram surprisal: per-word log integer-quantized BEFORE the doc
    // sum, so accumulation is exact 64-bit on both engines
    "text_unigram_surprisal" ->
      """WITH tok AS (SELECT doc_id,
        |    unnest(string_split_regex(trim(lower(text)),'\s+')) AS token FROM documents),
        |tok2 AS (SELECT doc_id, token FROM tok WHERE length(token) > 0),
        |cnt AS (SELECT token, count(*) AS c FROM tok2 GROUP BY token),
        |tot AS (SELECT sum(c) AS t FROM cnt),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok2 GROUP BY doc_id, token)
        |SELECT doc_id, CAST(sum(tf * CAST(floor(ln(t/c)*1000) AS BIGINT)) AS BIGINT) AS surprisal
        |FROM tf JOIN cnt USING (token), tot GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // Gopher-style repetition filter: most-frequent-bigram share >= 1/20
    // with a 20-bigram floor; all-integer threshold
    "text_repetition" ->
      """WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents),
        |bg AS (SELECT doc_id, unnest(list_transform(range(1, greatest(len(t), 1)),
        |      i -> t[i] || ' ' || t[i+1])) AS b FROM toks),
        |bg2 AS (SELECT doc_id, b FROM bg WHERE len(string_split(b, ' ')) = 2),
        |cnt AS (SELECT doc_id, b, count(*) AS c FROM bg2 GROUP BY doc_id, b),
        |agg AS (SELECT doc_id, max(c) AS top_n, sum(c) AS total_n FROM cnt GROUP BY doc_id)
        |SELECT doc_id, CAST(top_n AS BIGINT) AS top_n, CAST(total_n AS BIGINT) AS total_n
        |FROM agg WHERE top_n * 20 >= total_n AND total_n >= 20
        |ORDER BY doc_id""".stripMargin,
    // session_window semantics: windows [ts, ts+gap) merge while they
    // overlap, i.e. a NEW session starts iff gap-to-previous >= 8h (the
    // q_sessionize islands variant uses strict >; both are exercised);
    // session_end = last event ts + gap
    "q_session_window" ->
      """WITH g AS (SELECT user_id, event_id, ts, value,
        |  CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |         OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) >= INTERVAL 8 HOUR
        |       THEN 1 ELSE 0 END AS new_s
        |  FROM events),
        |s AS (SELECT user_id, event_id, ts, value,
        |  sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM g)
        |SELECT user_id, min(ts) AS session_start,
        |  max(ts) + INTERVAL 8 HOUR AS session_end,
        |  CAST(count(*) AS BIGINT) AS n_events, round(sum(value),2) AS v
        |FROM s GROUP BY user_id, sid ORDER BY user_id, session_start""".stripMargin,
    "dedup_exact" ->
      """SELECT min(doc_id) AS doc_id, count(*) AS copies
        |FROM documents GROUP BY md5(text) ORDER BY doc_id""".stripMargin,
    // xxhash64 grouping: DuckDB cannot replicate Spark's hash VALUES, but
    // the hash never leaves the plan — grouping by the 64-bit hash equals
    // grouping by text itself absent a collision (odds ~n²/2⁶⁵; none at
    // this corpus), so the emitted (doc_id, copies) pairs compare exactly
    "dedup_exact_hash64" ->
      """SELECT min(doc_id) AS doc_id, count(*) AS copies
        |FROM documents GROUP BY text ORDER BY doc_id""".stripMargin,
    "dedup_exact_norm" ->
      """SELECT min(doc_id) AS doc_id, count(*) AS copies
        |FROM documents GROUP BY md5(lower(regexp_replace(text, '\s+', ' ', 'g')))
        |ORDER BY doc_id""".stripMargin,
    "dedup_jaccard_pairs" -> jaccardSql,
    "dedup_minhash_pairs" -> minhashSql,
    "dedup_simhash_pairs" -> simhashPairsSql,
    "dedup_substring_spans" -> substringSpansSql,
    "dedup_substring_pairs" -> substringPairsSql,
    "dedup_incremental" -> incrementalSql,
    "dedup_canonical" -> canonicalSql,
    "curation_verdict" -> curationVerdictSql,
    "ann_cosine_topk" ->
      """WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
        |SELECT vec_id, round(list_cosine_similarity(embedding::DOUBLE[], qv), 4) AS sim
        |FROM embeddings, q WHERE vec_id <> 0
        |ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin,
    // int8-quantized ANN: floor(x*127/max|x|) per vector, cosine on the
    // quantized integers (scales cancel) — exact 64-bit until the final
    // division, so the ranking is engine-portable
    "ann_int8_topk" ->
      """WITH z AS (
        |  SELECT vec_id,
        |    list_transform(embedding::DOUBLE[],
        |      x -> CAST(floor(x * 127 / greatest(list_max(
        |        list_transform(embedding::DOUBLE[], y -> abs(y))), 1e-30)) AS DOUBLE)) AS q
        |  FROM embeddings),
        |qv AS (SELECT q AS qq FROM z WHERE vec_id = 0)
        |SELECT z.vec_id, round(list_cosine_similarity(z.q, qv.qq), 4) AS sim
        |FROM z, qv WHERE z.vec_id <> 0
        |ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin,
    "ann_pairs_block" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 200)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  round(list_cosine_similarity(a.v, b.v), 4) AS sim
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |WHERE round(list_cosine_similarity(a.v, b.v), 4) >= 0.25
        |ORDER BY id_a, id_b""".stripMargin,
    "ann_lsh_topk" -> annLshTopkSql,
    "ann_ivf_topk" -> annIvfTopkSql,
    "ann_pq_topk" -> annPqTopkSql,
    "emb_near_dup_lsh" -> embNearDupSql,
    "emb_near_dup_clusters" -> embNearDupClustersSql,
    "emb_centroids" ->
      """SELECT label, i, round(avg(embedding[i]), 4) AS v
        |FROM embeddings, range(1, 65) r(i)
        |GROUP BY label, i ORDER BY label, i""".stripMargin,
    "multimodal_features" -> multimodalSql,
    "multimodal_ppm_decode" -> multimodalPpmSql,
    "multimodal_png_decode" -> multimodalPngSql,
    "multimodal_png_resize" -> multimodalPngResizeSql,
    "multimodal_wav_decode" -> multimodalWavSql,
    "multimodal_wav24_stereo" -> multimodalWav24Sql,
    "multimodal_y4m_frames" -> multimodalY4mSql,
    // streaming ingest: the delta SINK must equal the batch aggregate of
    // the SOURCE — DuckDB recomputes from the original events parquet
    "stream_ingest_agg" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        | round(sum(value), 2) AS v
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // native streaming sink: identical contract to stream_ingest_agg —
    // the delta table the sink produced must equal the batch aggregate
    "stream_sink_agg" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        | round(sum(value), 2) AS v
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // streaming CDC apply: last-batch-wins per supplier key, recomputed
    // from the same nationkey tier rule the fixture batches encode
    "stream_upsert_agg" ->
      """SELECT acctbal AS s_acctbal, CAST(count(*) AS BIGINT) AS n,
        | CAST(sum(s_suppkey) AS BIGINT) AS sum_key
        |FROM (SELECT s_suppkey,
        |        CASE WHEN s_nationkey < 5 THEN 2000.0
        |             WHEN s_nationkey < 15 THEN 1000.0
        |             ELSE 0.0 END AS acctbal
        |      FROM supplier)
        |GROUP BY acctbal ORDER BY acctbal""".stripMargin,
    // streaming source: the parquet sink fed by the version-offset stream
    // must equal the batch aggregate of the table's rows
    "stream_source_agg" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        | round(sum(value), 2) AS v
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // dedup ingest: the doubled-delivery source must collapse back to the
    // original events exactly
    "stream_dedup_agg" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        | round(sum(value), 2) AS v
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // deterministic sampling: identical md5-bucket / md5-order selection
    "sample_deterministic" ->
      """SELECT doc_id, lang FROM documents
        |WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 20
        |ORDER BY doc_id""".stripMargin,
    "sample_stratified" ->
      """SELECT lang, doc_id FROM (
        |  SELECT lang, doc_id, row_number() OVER (
        |    PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        |  FROM documents) t
        |WHERE rk <= 20 ORDER BY lang, doc_id""".stripMargin)
}
