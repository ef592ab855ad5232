package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Deduplication operators over the `documents` table: exact (hash-group),
 * exact-normalized, n-gram Jaccard, MinHash+LSH and SimHash near-dup.
 *
 * Scale design (100 TB): every operator is a constant number of shuffles
 * keyed on content hashes / shingles / band buckets — no driver-side
 * loops (canonicalize's fixpoint check is one count per round), no
 * all-pairs materialization. Candidate generation is bounded:
 * - jaccard: inverted-index join over shingles with a document-frequency
 *   cap, so a boilerplate shingle shared by B docs can't contribute B²
 *   candidate rows;
 * - minhash: banded signature buckets;
 * - simhash: 16-bit chunk pigeonhole buckets.
 * All candidates are then exact-verified against per-doc shingle sets, so
 * reported pairs are always true pairs (exact precision).
 */
object Dedup {
  // Shadows functions.md5 with the thread-local-digest variant (identical
  // hex output; Spark's Md5 builds a MessageDigest per row via provider
  // reflection, which degrades badly in long-lived sessions).
  private def md5(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    graft.functions.GraftFunctions.md5(c)

  // Grouping-key-only digest: the key is dropped from every exact-dedup
  // output, so the raw 16-byte form replaces the 32-char hex (no hex
  // encode + String + UTF8String re-encode per row, half the key bytes
  // through the agg map) with identical grouping semantics.
  private def md5Bin(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    graft.functions.GraftFunctions.md5Binary(c)

  /** Exact dedup: one surviving doc_id per distinct text (md5 key). */
  def exact(docs: DataFrame): DataFrame =
    docs.groupBy(md5Bin(col("text")).as("h"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("copies"))
      .select(col("doc_id"), col("copies"))
      .orderBy(col("doc_id"))

  /** Exact dedup keyed on xxhash64(text): at corpus scale the 64-bit key
    * shuffles 8 bytes instead of the full text (or a 16-byte digest) —
    * the standard trade (collision odds ~n²/2⁶⁵). The hash computes in
    * the columnar tier's key path off the parquet vector. */
  def exactByHash64(docs: DataFrame): DataFrame =
    docs.groupBy(xxhash64(col("text")).as("h"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("copies"))
      .select(col("doc_id"), col("copies"))
      .orderBy(col("doc_id"))

  /** Exact dedup after normalization (lowercase, collapsed whitespace). */
  def exactNormalized(docs: DataFrame): DataFrame =
    docs.groupBy(md5Bin(lower(regexp_replace(col("text"), "\\s+", " "))).as("h"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("copies"))
      .select(col("doc_id"), col("copies"))
      .orderBy(col("doc_id"))

  /** Distinct word-3-gram shingles per doc: (doc_id, s). */
  def shingles(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), TextOps.tokens(col("text")).as("t"))
      .select(col("doc_id"), explode(expr(
        "array_distinct(transform(sequence(0, greatest(size(t)-3, 0)), " +
          "i -> concat_ws(' ', t[i], t[i+1], t[i+2])))")).as("s"))
      .where(col("s") =!= "")

  /** Shingles under a 64-bit hash key: narrower shuffle + cheaper join
    * comparisons than raw strings (collision odds ~2^-64 per pair —
    * the standard trade at corpus scale). */
  private def hashedShingles(docs: DataFrame): DataFrame =
    shingles(docs).select(col("doc_id"), xxhash64(col("s")).as("s"))

  /** One-exchange candidate dedup (r20, guide §2.4 "remove shuffles
    * outright"): repartition the raw (id_a, id_b) pair multiset by id_a
    * FIRST, then deduplicate — HashPartitioning(id_a) satisfies the
    * aggregate's ClusteredDistribution(id_a, id_b) (equal pairs share
    * id_a), so the planner runs ONE complete aggregate with no second
    * exchange, and the verify join consumes the id_a partitioning the
    * repartition already established. The pair rows cross ONE exchange
    * instead of two-to-three (.distinct()'s partial→exchange→final, then
    * verify's repartition): duplicate pairs come from DIFFERENT shingle/
    * band partitions, so .distinct()'s map-side combine could never merge
    * them anyway — the raw multiset crossed the wire either way, plus the
    * deduped set a second time. Skew exposure: the exchange is keyed on
    * id_a alone and runs BEFORE deduplication, so a hot document's whole
    * raw candidate multiset (every duplicate pair it forms, across all
    * bands) lands in one partition; before, only its deduped pairs did
    * (at verify). Measured (interleaved same-window A/B at sf0.1,
    * recorded in OPTIMIZATION_r20.md): candidates 0.95-1.37 s → 0.72-1.05 s,
    * full row 1.35-1.66 s → 1.09-1.17 s; identical pair sets. */
  private def dedupPairs(raw: DataFrame): DataFrame = {
    val p = raw.sparkSession.sessionState.conf.numShufflePartitions
    raw.repartition(p, col("id_a")).dropDuplicates("id_a", "id_b")
  }

  /** Exact-verify candidate pairs against per-doc shingle sets: two
    * hash-joins moving one set array per doc (no re-explode into
    * |pairs|·|shingles| rows), integer-only threshold 7·|∩| ≥ 2·|∪|.
    *
    * Plan shape matters more than it looks here (measured 17.5s → ~1s at
    * sf0.1 across three defects):
    * - |∩| is a codegen'd linear merge over SORTED arrays
    *   ([[graft.functions.SortedIntersectCount]]) — `array_intersect`
    *   builds a hash set per call, and Catalyst pushes the threshold into
    *   the join condition where it evaluates the intersect up to 3× per
    *   candidate pair;
    * - `cands` arrives repartitioned by id_a from [[dedupPairs]] (an
    *   explicit user repartition, which AQE's byte-based coalescing keeps
    *   at p partitions): candidate pairs are ~9 bytes/row but thousands
    *   of compare-ops/row, so coalescing would otherwise collapse the
    *   verify onto ONE task;
    * - the final orderBy's range-sampling pass re-executes its child, so
    *   that repartition exchange also caps the re-run at the (cheap,
    *   parallel) dedup+verify rather than the whole candidate join. */
  private def verifyPairs(cands: DataFrame, sets: DataFrame): DataFrame = {
    val inter = graft.functions.GraftFunctions
      .sortedIntersectCount(col("sa.ss"), col("sb.ss"))
    cands
      .join(sets.as("sa"), col("id_a") === col("sa.doc_id"))
      .join(sets.as("sb"), col("id_b") === col("sb.doc_id"))
      .select(col("id_a"), col("id_b"), inter.as("inter"),
        (size(col("sa.ss")) + size(col("sb.ss"))).cast("long").as("szsum"))
      .select(col("id_a"), col("id_b"), col("inter"),
        (col("szsum") - col("inter")).as("uni"))
      .where(col("inter") * 7 >= col("uni") * 2)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Per-doc shingle sets for [[verifyPairs]] — ASCENDING sort is the
    * [[graft.functions.SortedIntersectCount]] input contract. */
  private def shingleSets(sh: DataFrame): DataFrame =
    sh.groupBy(col("doc_id")).agg(sort_array(collect_set(col("s"))).as("ss"))

  /**
   * Exact n-gram Jaccard similar pairs with J ≥ 2/7, via inverted-index
   * join on shingles. Shingles with document frequency > `maxDf` are
   * dropped from the INDEX ONLY (boilerplate phrases would otherwise
   * contribute |df|² candidate rows — quadratic at corpus scale); the
   * Jaccard values themselves are computed exactly from the FULL shingle
   * sets. A pair is missed only if it shares nothing but >maxDf
   * boilerplate shingles — such pairs are the minhash path's job.
   */
  def jaccardPairs(docs: DataFrame, maxDf: Int = Int.MaxValue): DataFrame =
    jaccardPairsDfCapped(docs, maxDf)

  /** The df-capped scale path (cap surfaced in the name — callers opting
    * into reduced recall do so explicitly; the exact-named [[jaccardPairs]]
    * defaults to no cap). */
  def jaccardPairsDfCapped(docs: DataFrame, maxDf: Int = 100): DataFrame = {
    // the shingle scan is deliberately repeated per branch rather than
    // materialized through the set aggregate: deriving the inverted index
    // from collect_set output puts the doc_id shuffle on the critical
    // path ahead of candidate generation (measured 3.0s → 4.3s at sf0.1
    // when tried; the branches pipeline in parallel as written)
    val sh = hashedShingles(docs)
    val cold = sh.groupBy(col("s")).agg(count(lit(1)).as("df"))
      .where(col("df") <= maxDf).select(col("s"))
    val shc = sh.join(cold, Seq("s"))
    val cands = dedupPairs(shc.as("a").join(shc.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b")))
    verifyPairs(cands, shingleSets(sh))
  }

  /** Per-doc MinHash signature: `numHashes` min-md5-hex strings over raw
    * shingles (hash i of shingle s = md5("i:" || s)). md5 keeps the
    * signature reproducible by any engine (the DuckDB oracle re-derives
    * the same bands); one aggregation with map-side combine. */
  def minhashSignatures(docs: DataFrame, numHashes: Int = 32): DataFrame = {
    val sh = shingles(docs)
    val mins = (0 until numHashes).map(i =>
      min(md5(concat(lit(s"$i:"), col("s")))).as(s"mh_$i"))
    sh.groupBy(col("doc_id"))
      .agg(mins.head, mins.tail: _*)
  }

  /**
   * MinHash+LSH near-dup candidates, exact-verified: band the signature
   * (bandSize hashes per band, band key = md5 of the concatenated band),
   * bucket-join on (band, bandHash), then verify candidates with exact
   * Jaccard ≥ 2/7 from full shingle sets. Probabilistic recall, exact
   * precision (reported pairs are all true pairs).
   */
  def minhashPairs(docs: DataFrame, numHashes: Int = 32, bandSize: Int = 4): DataFrame = {
    // ONE shingling + ONE per-doc aggregation computes both the minhash
    // signature (min over md5 strings) and the verify-side sorted hash
    // set — the two would otherwise each re-tokenize the corpus
    val sh = shingles(docs)
    val mins = (0 until numHashes).map(i =>
      min(md5(concat(lit(s"$i:"), col("s")))).as(s"mh_$i"))
    val aggs = mins :+ sort_array(collect_set(xxhash64(col("s")))).as("ss")
    val sigAndSet = sh.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
    val numBands = numHashes / bandSize
    val bandCols = (0 until numBands).map(b =>
      md5(concat((b * bandSize until (b + 1) * bandSize).map(i => col(s"mh_$i")): _*)))
    val banded = sigAndSet.select(col("doc_id"),
      posexplode(array(bandCols: _*)).as(Seq("band", "bh")))
    val cands = dedupPairs(banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b")))
    verifyPairs(cands, sigAndSet.select(col("doc_id"), col("ss")))
  }

  /**
   * Cluster canonicalization: map every doc in a near-dup pair graph to
   * its cluster representative (min doc_id), by min-label propagation over
   * the pair edges iterated TO FIXPOINT — each round is one distributed
   * join+min; the driver only checks a changed-count per round (converges
   * in ≤ graph-diameter rounds; near-dup clusters are shallow, so
   * typically 2-4). Lineage is truncated per round: with `checkpointDir`
   * set, via RELIABLE `Dataset.checkpoint()` (survives executor loss —
   * the right choice on a real cluster); otherwise via `localCheckpoint`
   * (executor-local blocks — fine on a single node, lineage lost with an
   * executor). NOTE: the reliable mode calls `setCheckpointDir`, an
   * APPLICATION-LEVEL setting on the shared SparkContext — callers opting
   * in own that setting. Superseded round checkpoints are deleted as soon
   * as the next round materializes (Spark's own cleaner only reclaims
   * them on GC with cleanCheckpoints=true), so storage stays O(2 rounds),
   * not O(maxIters).
   *
   * @param pairs (id_a, id_b) edges with id_a < id_b
   * @param checkpointDir reliable checkpoint directory (HDFS/object store
   *   on a cluster); None → localCheckpoint
   * @return (doc_id, keep_id): rows with doc_id != keep_id are the drop list
   */
  def canonicalize(pairs: DataFrame, maxIters: Int = 50,
      checkpointDir: Option[String] = None): DataFrame = {
    checkpointDir.foreach(pairs.sparkSession.sparkContext.setCheckpointDir)
    def truncate(df: DataFrame): DataFrame =
      if (checkpointDir.isDefined) df.checkpoint() else df.localCheckpoint()
    // reliable-checkpoint file of a checkpoint()-ed Dataset (for eager
    // cleanup of superseded rounds); None in localCheckpoint mode
    def ckptFile(df: DataFrame): Option[String] =
      if (checkpointDir.isEmpty) None
      else df.queryExecution.analyzed.collectFirst {
        case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.getCheckpointFile
      }.flatten
    def deleteCkpt(file: Option[String]): Unit = file.foreach { f =>
      try {
        val p = new org.apache.hadoop.fs.Path(f)
        p.getFileSystem(pairs.sparkSession.sparkContext.hadoopConfiguration)
          .delete(p, true)
      } catch { case scala.util.control.NonFatal(_) => () }
    }
    val edges = pairs.select(col("id_a"), col("id_b"))
    // symmetric neighbor list: (node, neighbor)
    val nbrs = truncate(
      edges.select(col("id_a").as("n"), col("id_b").as("m"))
        .union(edges.select(col("id_b").as("n"), col("id_a").as("m"))))
    var labels = truncate(nbrs.select(col("n")).distinct()
      .select(col("n").as("doc_id"), col("n").as("keep_id")))
    var converged = false
    var it = 0
    while (!converged && it < maxIters) {
      // each node adopts the min label among itself and its neighbors
      val viaNbr = nbrs
        .join(labels, nbrs("m") === labels("doc_id"))
        .select(nbrs("n").as("doc_id"), col("keep_id"))
      val next = truncate(labels.union(viaNbr)
        .groupBy(col("doc_id")).agg(min(col("keep_id")).as("keep_id")))
      converged = next.as("x").join(labels.as("y"),
          col("x.doc_id") === col("y.doc_id"))
        .where(col("x.keep_id") =!= col("y.keep_id"))
        .isEmpty
      deleteCkpt(ckptFile(labels)) // superseded by `next` — reclaim now
      labels = next
      it += 1
    }
    val result = labels.orderBy(col("doc_id"))
    // the neighbor list is no longer referenced once the fixpoint is out
    deleteCkpt(ckptFile(nbrs))
    result
  }

  /** Fixed-width token windows, stride 1: (doc_id, pos, s) with 0-based
    * pos and s = `window` consecutive whitespace tokens joined by ' '.
    * The guard keeps short docs out of `sequence` (Spark's
    * sequence(1, 0) yields a DESCENDING range, not an empty one). */
  def tokenWindows(docs: DataFrame, window: Int = 8): DataFrame =
    docs.select(col("doc_id"), TextOps.tokens(col("text")).as("t"))
      .select(col("doc_id"), posexplode(expr(
        s"CASE WHEN size(t) >= $window THEN transform(sequence(0, size(t)-$window), " +
          s"i -> array_join(slice(t, i+1, $window), ' ')) ELSE array() END"))
        .as(Seq("pos", "s")))

  /**
   * Substring/span-level dedup, per-document summary — the scalable
   * approximation of suffix-array span dedup (fixed-width token-window
   * hashing, the standard training-data-pipeline shape): a window is
   * DUPLICATED if it occurs in ≥ 2 distinct documents, and consecutive
   * duplicated windows form a span. Returns per doc (total_windows,
   * dup_windows, max_dup_run) — max_dup_run w is a shared span of
   * w+window-1 tokens, the remove-this-span signal.
   *
   * Scale shape (100 TB): window df is ONE hash-agg keyed on the window
   * (map-side combine collapses stride-1 repeats early); the mark join is
   * keyed on the same column; the run-length pass is one doc_id-keyed
   * window function (pos − row_number, the standard gaps-and-islands
   * trick) — no self-join, no all-pairs, nothing driver-side.
   */
  def substringSpans(docs: DataFrame, window: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = tokenWindows(docs, window)
    // df over DISTINCT (doc, window): a window repeated inside one doc is
    // only a duplicate if some OTHER doc carries it too
    val dfs = w.select(col("doc_id"), col("s")).distinct()
      .groupBy(col("s")).agg(count(lit(1)).as("df"))
    val mark = w.join(dfs, Seq("s"))
      .select(col("doc_id"), col("pos"), (col("df") >= 2).as("isdup"))
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val runs = mark.where(col("isdup"))
      .withColumn("rk", col("pos") - row_number().over(byDoc))
      .groupBy(col("doc_id"), col("rk")).agg(count(lit(1)).as("run"))
      .groupBy(col("doc_id")).agg(max(col("run")).as("max_dup_run"))
    val per = mark.groupBy(col("doc_id")).agg(
      count(lit(1)).as("total_windows"),
      sum(when(col("isdup"), 1L).otherwise(0L)).as("dup_windows"))
    // short docs have zero windows — they must still appear (zeros), or
    // the drop-list consumer silently loses them
    docs.select(col("doc_id"))
      .join(per, Seq("doc_id"), "left")
      .join(runs, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("total_windows"), lit(0L)).as("total_windows"),
        coalesce(col("dup_windows"), lit(0L)).as("dup_windows"),
        coalesce(col("max_dup_run"), lit(0L)).as("max_dup_run"))
      .orderBy(col("doc_id"))
  }

  /**
   * Substring-sharing pairs: documents sharing ≥ `minShared` distinct
   * `window`-token windows, with the exact shared count. Inverted-index
   * candidate generation (windows with 2 ≤ df ≤ `maxDf` — the lower
   * bound prunes the ~95% singleton windows before the self-join, the
   * upper bound stops boilerplate from going quadratic, same cap design
   * as [[jaccardPairsDfCapped]]); candidates exact-verified against full
   * per-doc window sets via the sorted-merge intersect (no re-explode).
   */
  def substringPairs(docs: DataFrame, window: Int = 8, maxDf: Int = 100,
      minShared: Int = 2): DataFrame = {
    val w = tokenWindows(docs, window)
      .select(col("doc_id"), xxhash64(col("s")).as("s")).distinct()
    val cold = w.groupBy(col("s")).agg(count(lit(1)).as("df"))
      .where(col("df") >= 2 && col("df") <= maxDf).select(col("s"))
    val wc = w.join(cold, Seq("s"))
    val cands = dedupPairs(wc.as("a").join(wc.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b")))
    val sets = w.groupBy(col("doc_id"))
      .agg(sort_array(collect_set(col("s"))).as("ss"))
    cands
      .join(sets.as("sa"), col("id_a") === col("sa.doc_id"))
      .join(sets.as("sb"), col("id_b") === col("sb.doc_id"))
      .select(col("id_a"), col("id_b"),
        graft.functions.GraftFunctions
          .sortedIntersectCount(col("sa.ss"), col("sb.ss"))
          .cast("long").as("shared_windows"))
      .where(col("shared_windows") >= minShared)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** SimHash near-dup pairs with hamming distance ≤ `maxHamming` (≤ 3 by
    * default): pigeonhole on four 16-bit chunks (any pair within distance
    * 3 shares ≥ 1 exact chunk), bucket-join per chunk, verify hamming on
    * the full signature. Signatures are md5-based hex strings
    * ([[TextOps.simhashHexAgg]]) so the oracle reproduces them; chunks are
    * 4-hex-char substrings. */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3): DataFrame = {
    val withSig = TextOps.simhashHexAgg(docs, col("doc_id"), col("text"))
    val chunked = withSig.select(col("doc_id"), col("sh"),
      posexplode(array((0 until 4).map(c =>
        substring(col("sh"), c * 4 + 1, 4)): _*)).as(Seq("chunk", "cv")))
    chunked.as("a").join(chunked.as("b"),
        col("a.chunk") === col("b.chunk") && col("a.cv") === col("b.cv") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        TextOps.hammingHex(col("a.sh"), col("b.sh")).as("hamming"))
      .distinct()
      .where(col("hamming") <= maxHamming)
      .orderBy(col("id_a"), col("id_b"))
  }
}
