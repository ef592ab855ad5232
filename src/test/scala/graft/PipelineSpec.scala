package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline._
import graft.functions.TextHash

class PipelineSpec extends AnyFunSuite {
  import TestSpark._

  private lazy val docs = Fixtures.readParquet(spark, sfDir, "documents")
  private lazy val emb = Fixtures.readParquet(spark, sfDir, "embeddings")

  test("minhash-LSH pairs are a subset of exact jaccard pairs with good recall") {
    val exact = Dedup.jaccardPairs(docs).select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashPairs(docs).select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact), "LSH-verified pairs must all be true pairs")
    if (exact.nonEmpty) {
      val recall = lsh.size.toDouble / exact.size
      assert(recall >= 0.5, s"recall $recall too low (lsh=${lsh.size}, exact=${exact.size})")
    }
  }

  test("df-capped jaccard pairs ⊆ uncapped; equal when no shingle tops the cap") {
    // regression net for any future candidate-generation restructure (an
    // r19 posting-list variant was tried and reverted after a same-window
    // A/B showed no local win — see OPTIMIZATION_r19.md): the capped path
    // may only LOSE pairs whose every shared shingle exceeds the cap
    val capped = Dedup.jaccardPairsDfCapped(docs, 100)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val uncapped = Dedup.jaccardPairs(docs)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped.subsetOf(uncapped))
    val overCap = Dedup.shingles(docs).select(col("doc_id"), col("s")).distinct()
      .groupBy("s").count().where(col("count") > 100).count()
    if (overCap == 0) assert(capped === uncapped)
  }

  test("one-exchange pair dedup: repartition(id_a) + dropDuplicates adds no shuffle") {
    // r20 optimization: Dedup.dedupPairs relies on HashPartitioning(id_a)
    // satisfying the dedup aggregate's ClusteredDistribution(id_a, id_b)
    // (equal pairs share id_a), so the aggregate plans COMPLETE with no
    // exchange of its own — pair rows cross exactly ONE shuffle. If a
    // Spark upgrade stops recognizing the subset-satisfies rule, the pair
    // pipelines silently regress to two/three exchanges; this pins it.
    import spark.implicits._
    val raw = (1L to 1000L).flatMap(i => Seq((i % 50, i % 20), (i % 50, i % 20)))
      .toDF("id_a", "id_b")
    val deduped = raw.repartition(8, col("id_a")).dropDuplicates("id_a", "id_b")
    deduped.write.format("noop").mode("overwrite").save()
    val shuffles = PlanShuffles.count(deduped.queryExecution.executedPlan)
    assert(shuffles === 1,
      s"expected exactly one exchange, got $shuffles:\n${deduped.queryExecution.executedPlan}")
    // and the dedup semantics are plain distinct
    assert(deduped.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq ===
      raw.distinct().collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq)
  }

  test("lower_alpha_count matches length(regexp_replace) incl. unicode and nulls") {
    val rows = Seq(
      "hello World 42!", "ÀÉîöü żółć", "混合 mixed 文本 text", "",
      "abcdefghijklmnopqrstuvwxyz", "ABC", "aéz中b", null)
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(org.apache.spark.sql.Row(_))),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("t",
          org.apache.spark.sql.types.StringType, nullable = true))))
    val got = df.select(
      graft.functions.GraftFunctions.lowerAlphaCount(col("t")).as("fast"),
      length(regexp_replace(col("t"), "[^a-z]", "")).cast("long").as("ref"))
      .collect()
    got.foreach { r =>
      assert(r.isNullAt(0) === r.isNullAt(1))
      if (!r.isNullAt(0)) assert(r.getLong(0) === r.getLong(1))
    }
    // and over real corpus text, where the oracle equivalence must hold
    val agg = docs.select(
      sum(graft.functions.GraftFunctions.lowerAlphaCount(col("text"))).as("fast"),
      sum(length(regexp_replace(col("text"), "[^a-z]", "")).cast("long")).as("ref"))
      .collect()(0)
    assert(agg.getLong(0) === agg.getLong(1))
  }

  test("simhash: identical docs collide, near-identical docs are close") {
    val t1 = "the quick brown fox jumps over the lazy dog again and again".split(" ")
    val t2 = "the quick brown fox jumps over the lazy cat again and again".split(" ")
    val h1 = TextHash.simhash64(t1.iterator.map(_.getBytes("UTF-8")))
    val h1b = TextHash.simhash64(t1.iterator.map(_.getBytes("UTF-8")))
    val h2 = TextHash.simhash64(t2.iterator.map(_.getBytes("UTF-8")))
    assert(h1 == h1b)
    val hamming = java.lang.Long.bitCount(h1 ^ h2)
    assert(hamming <= 16, s"one-word change moved $hamming bits")
    // expression path agrees with the direct implementation
    import spark.implicits._
    val viaExpr = Seq(t1.mkString(" ")).toDF("text")
      .select(TextOps.simhash(col("text"))).collect()(0).getLong(0)
    assert(viaExpr == h1)
  }

  test("simhash pairs on documents are symmetric-free and hamming-bounded") {
    val pairs = Dedup.simhashPairs(docs, maxHamming = 10).collect()
    pairs.foreach { r =>
      assert(r.getAs[Long]("id_a") < r.getAs[Long]("id_b"))
      assert(r.getAs[Long]("hamming") <= 10)
    }
  }

  test("md5 simhash signature: identical docs collide, sensitivity is bounded") {
    import spark.implicits._
    val t1 = "the quick brown fox jumps over the lazy dog again and again"
    val t2 = "the quick brown fox jumps over the lazy cat again and again"
    val sigs = TextOps.simhashHexAgg(
      Seq((1L, t1), (2L, t1), (3L, t2)).toDF("doc_id", "text"),
      col("doc_id"), col("text")).orderBy("doc_id").collect()
    assert(sigs.length == 3)
    val Array(s1, s1b, s2) = sigs.map(_.getString(1))
    assert(s1.length == 16 && s1.matches("[0-9a-f]{16}"))
    assert(s1 == s1b, "identical docs must collide")
    val hamming = s1.zip(s2).map { case (a, b) =>
      java.lang.Integer.bitCount(Integer.parseInt(a.toString, 16) ^ Integer.parseInt(b.toString, 16))
    }.sum
    assert(hamming > 0 && hamming <= 16, s"one-word change moved $hamming bits")
  }

  test("language id discriminates real multilingual text") {
    import spark.implicits._
    val samples = Seq(
      ("the cat is on the mat and it was good for all of that", "en"),
      ("der hund ist nicht auf der couch und das ist gut", "de"),
      ("el perro es bueno y la casa es grande por las noches", "es"),
      ("le chien est dans la maison et les chats pas du tout", "fr"),
      ("我 是 一 个 人 这 是 我 的 家 和 不 少 人", "zh"))
    val got = samples.toDF("text", "expected")
      .withColumn("pred", TextOps.langId(col("text")))
      .collect()
    got.foreach(r => assert(r.getAs[String]("pred") == r.getAs[String]("expected"),
      s"misidentified: ${r}"))
  }

  test("fingerprint is deterministic and text-sensitive") {
    val fp1 = docs.select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp"))
      .orderBy("doc_id").collect().map(_.getLong(1))
    val fp2 = docs.select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp"))
      .orderBy("doc_id").collect().map(_.getLong(1))
    assert(fp1.sameElements(fp2))
    assert(fp1.distinct.length > 1)
  }

  test("lsh topk returns k structurally-valid neighbors; recall sane") {
    val brute = Similarity.bruteForceTopK(emb, 0L, 10).collect()
      .map(_.getAs[Long]("vec_id")).toSet
    val lsh = Similarity.lshTopK(emb, 0L, 10).collect()
    assert(lsh.length <= 10 && lsh.nonEmpty)
    lsh.foreach(r => assert(r.getAs[Double]("sim") <= 1.0001 && r.getAs[Double]("sim") >= -1.0001))
    val recall = lsh.map(_.getAs[Long]("vec_id")).count(brute.contains) / 10.0
    info(s"lsh recall@10 = $recall (candidates pruned by bucket)")
  }

  test("int8-quantized topk tracks the full-precision ranking closely") {
    val brute = Similarity.bruteForceTopK(emb, 0L, 10).collect()
      .map(_.getAs[Long]("vec_id")).toSet
    val q = Similarity.int8TopK(emb, 0L, 10).collect()
    assert(q.length == 10)
    q.foreach(r => assert(r.getAs[Double]("sim") <= 1.0001 && r.getAs[Double]("sim") >= -1.0001))
    val recall = q.map(_.getAs[Long]("vec_id")).count(brute.contains) / 10.0
    info(s"int8 recall@10 vs full precision = $recall")
    assert(recall >= 0.7, s"int8 quantization recall too low: $recall")
    // quantization is deterministic: two runs agree exactly
    val again = Similarity.int8TopK(emb, 0L, 10).collect()
    assert(q.map(_.toString).sameElements(again.map(_.toString)))
  }

  test("pq topk: exact re-rank recovers most true neighbors; deterministic") {
    // ground truth on the same quantized grid PQ uses (L2 on floor(x*1000))
    val z = emb.select(col("vec_id"), Similarity.quantize(col("embedding")).as("q"))
    val qv = z.where(col("vec_id") === 0L).select(col("q")).head().getSeq[Long](0).toArray
    val exact = z.where(col("vec_id") =!= 0L)
      .select(col("vec_id"),
        aggregate(zip_with(col("q"), typedlit(qv.toSeq), (x, y) => (x - y) * (x - y)),
          lit(0L), (a, x) => a + x).as("d2"))
      .orderBy(col("d2"), col("vec_id")).limit(10)
      .collect().map(_.getLong(0)).toSet
    val pq = Similarity.pqTopK(emb, 0L, 10).collect()
    assert(pq.length == 10)
    val recall = pq.map(_.getAs[Long]("vec_id")).count(exact.contains) / 10.0
    info(s"pq+rerank recall@10 = $recall (32x code compression, ADC candidates)")
    assert(recall >= 0.5, s"pq recall too low: $recall")
    val again = Similarity.pqTopK(emb, 0L, 10).collect()
    assert(pq.map(_.toString).sameElements(again.map(_.toString)))
  }

  test("ivf topk: deterministic, k results, bounded candidate scan") {
    val r1 = Similarity.ivfTopK(emb, 0L, 10).collect()
    val r2 = Similarity.ivfTopK(emb, 0L, 10).collect()
    assert(r1.length == 10)
    assert(r1.map(_.toString).sameElements(r2.map(_.toString)), "must be deterministic")
    val brute = Similarity.bruteForceTopK(emb, 0L, 10).collect()
      .map(_.getAs[Long]("vec_id")).toSet
    val recall = r1.map(_.getAs[Long]("vec_id")).count(brute.contains) / 10.0
    info(s"ivf recall@10 = $recall (nprobe=4 of 16 cells)")
    // probing 4/16 cells must scan fewer candidates than the corpus
    val centroids = Similarity.trainCentroids(emb, 16)
    val cells = emb.select(Similarity.ivfCell(
        col("embedding").cast("array<double>"), centroids).as("cell"))
      .groupBy("cell").count().collect()
    assert(cells.length > 1, "quantizer must split the corpus")
  }

  test("VectorSumAgg reads array<float> natively, bit-identical to the cast path") {
    // centroids() now feeds the raw float[] column to the aggregate (no
    // per-row cast allocation); (double) promotion at element read must
    // produce the exact sums the old cast-to-array<double> path did
    val native = Similarity.centroids(emb.limit(500)).collect()
    val cast = emb.limit(500)
      .select(col("label"), col("embedding").cast("array<double>").as("e"))
      .groupBy(col("label"))
      .agg(graft.functions.VectorSumAgg.vectorSum(col("e"), 64).as("s"),
        count(lit(1)).as("n"))
      .select(col("label"), (posexplode(col("s"))).as(Seq("pos", "x")), col("n"))
      .select(col("label"), (col("pos") + 1).as("i"),
        round(col("x") / col("n"), 4).as("v"))
      .orderBy(col("label"), col("i"))
      .collect()
    assert(native.length == cast.length && native.length > 0)
    native.zip(cast).foreach { case (a, b) => assert(a == b) }
  }

  test("multimodal feature extraction is deterministic, batched, complete") {
    val f1 = Multimodal.mediaFeatures(docs.limit(100)).collect()
    val f2 = Multimodal.mediaFeatures(docs.limit(100)).collect()
    assert(f1.length == 100)
    assert(f1.map(_.toString).sameElements(f2.map(_.toString)))
    f1.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      assert(r.getAs[Long]("media_len") == 256 + (id % 128))
      assert(r.getAs[Long]("mean_byte_x100") > 0)
    }
  }

  test("ivf seeded topk: deterministic, k results, cells partition the corpus") {
    val r1 = Similarity.ivfTopKSeeded(emb, 0L, 10).collect()
    val r2 = Similarity.ivfTopKSeeded(emb, 0L, 10).collect()
    assert(r1.length == 10)
    assert(r1.map(_.toString).sameElements(r2.map(_.toString)), "must be deterministic")
    val brute = Similarity.bruteForceTopK(emb, 0L, 10).collect()
      .map(_.getAs[Long]("vec_id")).toSet
    val recall = r1.map(_.getAs[Long]("vec_id")).count(brute.contains) / 10.0
    info(s"ivf-seeded recall@10 = $recall (nprobe=4 of 16 cells)")
  }

  test("canonicalize maps pair chains to min-id representatives") {
    import spark.implicits._
    // chain 1-2, 2-3, 3-4 plus isolated pair 10-11
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("id_a", "id_b")
    val got = Dedup.canonicalize(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
    // end-to-end over real near-dup pairs
    val clusters = Dedup.canonicalize(Dedup.jaccardPairs(docs))
    clusters.collect().foreach(r =>
      assert(r.getAs[Long]("keep_id") <= r.getAs[Long]("doc_id")))
  }

  test("PPM decode is a real parser: round-trip, comments, loud failures") {
    // round-trip incl. the comment-carrying header variant (id % 5 == 0)
    Seq(5L, 7L, 31L).foreach { id =>
      val (w, h, rgb) = Multimodal.decodePpm(Multimodal.syntheticPpm(id))
      assert(w == 16 + (id % 16).toInt && h == 16 + (id % 8).toInt)
      assert(rgb.length == w * h * 3)
    }
    // a PPM assembled by hand (any netpbm writer's layout) decodes exactly
    val hand = "P6\n# hand-written\n2 1\n255\n".getBytes("US-ASCII") ++
      Array[Byte](1, 2, 3, 4, 5, 6)
    val (w2, h2, rgb2) = Multimodal.decodePpm(hand)
    assert(w2 == 2 && h2 == 1 && rgb2.toSeq == Seq[Byte](1, 2, 3, 4, 5, 6))
    // loud failures: wrong magic, truncated raster, bad maxval
    intercept[IllegalArgumentException](
      Multimodal.decodePpm("P5\n1 1\n255\n!".getBytes("US-ASCII")))
    intercept[IllegalArgumentException](
      Multimodal.decodePpm("P6\n4 4\n255\nxy".getBytes("US-ASCII")))
    intercept[IllegalArgumentException](
      Multimodal.decodePpm("P6\n1 1\n65535\n??????".getBytes("US-ASCII")))
    // Int-wrap guard: absurd dims die loudly instead of slipping a short
    // raster past the truncation check (37838^2*3 wraps positive)
    intercept[IllegalArgumentException](
      Multimodal.decodePpm(("P6\n37838 37838\n255\n" + "x" * 1024).getBytes("US-ASCII")))
    // distributed features equal a driver-side brute force for sample docs
    val got = Multimodal.ppmFeatures(docs.limit(20)).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("mean_r_x100"), r.getAs[Long]("thumb_sum"))).toMap
    got.keys.foreach { id =>
      val (w, h, rgb) = Multimodal.decodePpm(Multimodal.syntheticPpm(id))
      val n = w * h
      val sr = (0 until n).map(p => (rgb(p * 3) & 0xff).toLong).sum
      assert(got(id)._1 == sr * 100 / n)
    }
  }

  test("PNG decode is bit-exact through real DEFLATE; garbage rejected loudly") {
    // encode → ImageIO decode round-trip: every pixel equals the
    // generation formula v(c) = (id·23 + p·5 + c·17) % 256 — PNG is
    // lossless, so any channel-order/stride/alpha bug shows up exactly
    Seq(4L, 11L, 23L).foreach { id =>
      val (w, h, argb) = Multimodal.decodeImage(Multimodal.syntheticImage(id, "png"))
      assert(w == 12 + (id % 12).toInt && h == 12 + (id % 6).toInt)
      (0 until w * h).foreach { p =>
        val exp = ((id * 23 + p * 5) % 256, (id * 23 + p * 5 + 17) % 256,
          (id * 23 + p * 5 + 34) % 256)
        val v = argb(p)
        assert(((v >> 16) & 0xff, (v >> 8) & 0xff, v & 0xff) == exp, s"pixel $p")
      }
    }
    // undecodable bytes die loudly (no ImageIO reader claims them)
    intercept[IllegalArgumentException](
      Multimodal.decodeImage("not an image at all".getBytes("US-ASCII")))
    intercept[IllegalArgumentException](Multimodal.decodeImage(Array[Byte]()))
    // distributed PNG features equal a driver-side brute force
    val got = Multimodal.pngFeatures(docs.limit(12)).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("mean_g_x100"), r.getAs[Long]("edge_sum"))).toMap
    got.keys.foreach { id =>
      val (w, h, argb) = Multimodal.decodeImage(Multimodal.syntheticImage(id, "png"))
      val n = w * h
      val sg = (0 until n).map(p => ((argb(p) >> 8) & 0xff).toLong).sum
      def rgb123(p: Int): Long = {
        val v = argb(p)
        ((v >> 16) & 0xff) + 2L * ((v >> 8) & 0xff) + 3L * (v & 0xff)
      }
      val edge = (0 until w).map(rgb123).sum +
        (1 until h).map(y => rgb123(y * w)).sum
      assert(got(id) == ((sg * 100 / n, edge)), s"doc $id")
    }
  }

  test("nearest-neighbor resize samples the exact point-sample pixels") {
    // hand raster: 4x2, pixel value = its own index — resize to 2x2 must
    // pick indices (0,2) from row 0 and (4,6) from row 1
    val src = Array.tabulate(8)(identity)
    assert(Multimodal.resizeNearest(src, 4, 2, 2, 2).toSeq == Seq(0, 2, 4, 6))
    // upscale repeats source pixels (1x1 -> 3x3 all the same)
    assert(Multimodal.resizeNearest(Array(7), 1, 1, 3, 3).toSeq == Seq.fill(9)(7))
    intercept[IllegalArgumentException](
      Multimodal.resizeNearest(Array(1), 1, 1, 0, 3))
    // distributed PNG resize equals a driver-side brute force
    val got = Multimodal.pngResize(docs.limit(10)).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("rsum")).toMap
    got.keys.foreach { id =>
      val (w, h, argb) = Multimodal.decodeImage(Multimodal.syntheticImage(id, "png"))
      val small = Multimodal.resizeNearest(argb, w, h, 8, 8)
      val expect = small.map(v =>
        ((v >> 16) & 0xff) + 2L * ((v >> 8) & 0xff) + 3L * (v & 0xff)).sum
      assert(got(id) == expect, s"doc $id")
    }
  }

  test("JPEG decodes for real, within lossy-codec tolerance bands") {
    // JPEG is lossy: dims must be exact, per-channel means within a few
    // units of the formula (DCT quantization shifts individual pixels but
    // barely moves the mean) — the bands a cross-engine pipeline can
    // actually promise
    val rows = Multimodal.imageFeatures(docs.limit(10), "jpg").collect()
    assert(rows.length == 10)
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val (w, h) = (12 + (id % 12), 12 + (id % 6))
      assert(r.getAs[Long]("w") == w && r.getAs[Long]("h") == h)
      val n = w * h
      Seq(0, 17, 34).zip(Seq("mean_r_x100", "mean_g_x100", "mean_b_x100"))
        .foreach { case (coff, cname) =>
          val exact = (0L until n).map(p => (id * 23 + p * 5 + coff) % 256).sum * 100 / n
          val gotMean = r.getAs[Long](cname)
          assert(math.abs(gotMean - exact) <= 800, // ≤8 byte-units of drift
            s"doc $id $cname: got $gotMean, formula $exact")
        }
    }
  }

  test("WAV decode is a real RIFF parser: chunk walk, round-trip, loud failures") {
    // round-trip incl. the LIST-chunk-carrying variant (id % 3 == 0)
    Seq(3L, 7L).foreach { id =>
      val pcm = Multimodal.decodeWav(Multimodal.syntheticWav(id))
      assert(pcm.channels == 1 && pcm.bits == 16)
      assert(pcm.samples.length == 256 + (id % 256).toInt)
    }
    // loud failures: wrong magic, truncated data chunk
    intercept[IllegalArgumentException](
      Multimodal.decodeWav("AIFFxxxx".getBytes("US-ASCII")))
    val truncated = Multimodal.syntheticWav(1L).dropRight(10)
    intercept[IllegalArgumentException](Multimodal.decodeWav(truncated))
    // an undersized fmt chunk must die loudly, not underflow the buffer
    val tinyFmt = java.nio.ByteBuffer.allocate(22)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .put("RIFF".getBytes("US-ASCII")).putInt(14)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(2).putShort(1).array()
    intercept[IllegalArgumentException](Multimodal.decodeWav(tinyFmt))
    // features equal a driver-side brute force for sample docs
    val got = Multimodal.wavFeatures(docs.limit(10)).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("sum_abs"), r.getAs[Long]("zero_crossings"))).toMap
    got.keys.foreach { id =>
      val s = Multimodal.decodeWav(Multimodal.syntheticWav(id)).samples
      val sumAbs = s.map(v => math.abs(v.toLong)).sum
      val zc = (1 until s.length).count(i => (s(i - 1) < 0) != (s(i) < 0)).toLong
      assert(got(id) == ((sumAbs, zc)))
    }
  }

  test("WAV decode covers 8/24/32-bit and stereo de-interleave exactly") {
    // 24-bit STEREO fixture round-trip: values past int16 range prove the
    // sign extension, interleave order proves the channel walk
    Seq(3L, 8L).foreach { id =>
      val pcm = Multimodal.decodeWav(Multimodal.syntheticWav24Stereo(id))
      assert(pcm.channels == 2 && pcm.bits == 24)
      assert(pcm.nFrames == 200 + (id % 200).toInt)
      (0 until pcm.nFrames).foreach { f =>
        (0 to 1).foreach { ch =>
          val expect = (((id * 37 + f * 11 + ch * 10007) % 4000001) - 2000000).toInt
          assert(pcm.samples(f * 2 + ch) == expect, s"frame $f ch $ch")
        }
      }
    }
    // hand-assembled 8-bit mono: spec's unsigned-with-128-offset encoding
    val wav8 = java.nio.ByteBuffer.allocate(48)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .put("RIFF".getBytes("US-ASCII")).putInt(40).put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(1).putInt(8000).putInt(8000).putShort(1).putShort(8)
      .put("data".getBytes("US-ASCII")).putInt(4)
      .put(128.toByte).put(0.toByte).put(255.toByte).put(129.toByte)
      .array()
    val p8 = Multimodal.decodeWav(wav8)
    assert(p8.bits == 8 && p8.samples.toSeq == Seq(0, -128, 127, 1))
    // hand-assembled 32-bit mono: full-range values survive
    val wav32 = java.nio.ByteBuffer.allocate(52)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .put("RIFF".getBytes("US-ASCII")).putInt(44).put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(1).putInt(8000).putInt(32000).putShort(4).putShort(32)
      .put("data".getBytes("US-ASCII")).putInt(8)
      .putInt(Int.MinValue).putInt(Int.MaxValue)
      .array()
    val p32 = Multimodal.decodeWav(wav32)
    assert(p32.bits == 32 &&
      p32.samples.toSeq == Seq(Int.MinValue, Int.MaxValue))
    // unsupported layouts still die loudly: float PCM, 12-bit
    val float32 = java.nio.ByteBuffer.allocate(48)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .put("RIFF".getBytes("US-ASCII")).putInt(40).put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(3).putShort(1).putInt(8000).putInt(32000).putShort(4).putShort(32)
      .put("data".getBytes("US-ASCII")).putInt(4).putInt(0)
      .array()
    intercept[IllegalArgumentException](Multimodal.decodeWav(float32))
    // per-channel distributed features equal a driver-side brute force
    val got = Multimodal.wavChannelFeatures(docs.limit(8)).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("channel")) ->
        (r.getAs[Long]("sum_abs"), r.getAs[Long]("peak"),
          r.getAs[Long]("zero_crossings"))).toMap
    got.keys.foreach { case (id, ch) =>
      val pcm = Multimodal.decodeWav(Multimodal.syntheticWav24Stereo(id))
      val s = (0 until pcm.nFrames).map(f => pcm.samples(f * 2 + ch.toInt))
      val sumAbs = s.map(v => math.abs(v.toLong)).sum
      val peak = s.map(v => math.abs(v.toLong)).max
      val zc = (1 until s.length).count(i => (s(i - 1) < 0) != (s(i) < 0)).toLong
      assert(got((id, ch)) == ((sumAbs, peak, zc)), s"doc $id ch $ch")
    }
  }

  test("Y4M decode is a real parser: tag-order headers, frame walk, loud failures") {
    // round-trip across both header tag orders (id parity switches them)
    Seq(2L, 3L).foreach { id =>
      val (w, h, frames) = Multimodal.decodeY4m(Multimodal.syntheticY4m(id))
      assert(w == (8 + (id % 8).toInt) * 2 && h == (8 + (id % 4).toInt) * 2)
      assert(frames.length == 4 + (id % 5).toInt)
      frames.foreach(f => assert(f.length == w * h))
    }
    // a hand-assembled stream with unknown X tags decodes (format contract)
    val hand = ("YUV4MPEG2 W2 H2 F25:1 Xcustom C420\nFRAME\n".getBytes("US-ASCII") ++
      Array.fill[Byte](4 + 2)(7))
    val (w2, h2, fr2) = Multimodal.decodeY4m(hand)
    assert(w2 == 2 && h2 == 2 && fr2.length == 1 && fr2.head.forall(_ == 7))
    // loud failures: bad magic, unsupported colourspace, truncated frame
    intercept[IllegalArgumentException](
      Multimodal.decodeY4m("MPEG4\n".getBytes("US-ASCII")))
    intercept[IllegalArgumentException](
      Multimodal.decodeY4m("YUV4MPEG2 W2 H2 C444\nFRAME\nxxxxxxxxxxxx".getBytes("US-ASCII")))
    intercept[IllegalArgumentException](
      Multimodal.decodeY4m("YUV4MPEG2 W2 H2\nFRAME\nxx".getBytes("US-ASCII")))
    // Int-wrap guard: 65536x65536 would wrap ySize to 0 and skip the
    // truncation check entirely — must die on the dims instead
    intercept[IllegalArgumentException](
      Multimodal.decodeY4m("YUV4MPEG2 W65536 H65536\nFRAME\nxxxx".getBytes("US-ASCII")))
    // distributed frame-sampling equals a driver-side brute force
    val got = Multimodal.y4mFrameSample(docs.limit(10)).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_sampled"), r.getAs[Long]("luma_sum"))).toMap
    got.keys.foreach { id =>
      val (_, _, frames) = Multimodal.decodeY4m(Multimodal.syntheticY4m(id))
      val sampled = frames.indices.filter(_ % 2 == 0)
      val sum = sampled.map(f => frames(f).map(b => (b & 0xff).toLong).sum).sum
      assert(got(id) == ((sampled.size.toLong, sum)))
    }
  }

  test("canonicalize with a reliable checkpoint dir (cluster-safe lineage)") {
    import spark.implicits._
    // localCheckpoint loses lineage with an executor; on a real cluster the
    // caller passes a reliable dir and each round persists via
    // Dataset.checkpoint() — same fixpoint, recoverable blocks
    val dir = java.nio.file.Files.createTempDirectory("graft-canon-ckpt").toString
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val got = Dedup.canonicalize(pairs, checkpointDir = Some(dir)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
    // checkpoint data actually landed in the reliable dir
    def files(f: java.io.File): Int =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(files).sum).getOrElse(0)
      else 1
    assert(files(new java.io.File(dir)) > 0,
      "reliable checkpoint dir is empty — checkpoint() did not run")
  }

  test("banded lsh near-dup pairs are exact-cosine verified with recall >= 0.5") {
    val pairs = Similarity.lshNearDupPairsBanded(emb, minSim = 0.2).collect()
    pairs.foreach { r =>
      assert(r.getAs[Long]("id_a") < r.getAs[Long]("id_b"))
      assert(r.getAs[Double]("sim") >= 0.2)
    }
    // precision: every banded pair within the exact block is a true pair;
    // recall: the bands must catch >= 0.5 of the block's true pairs
    // (expected 1-(1-p^3)^6 ~ 0.69 at sim 0.2)
    val exact = Similarity.pairsAboveThreshold(emb, 200L, 0.2).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    val lshInBlock = pairs
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")))
      .filter { case (a, b) => a < 200 && b < 200 }.toSet
    assert(lshInBlock.subsetOf(exact))
    val recall = if (exact.isEmpty) 1.0 else lshInBlock.size.toDouble / exact.size
    info(s"banded lsh near-dup: ${pairs.length} pairs; block recall $recall")
    assert(recall >= 0.5, s"banded recall $recall below floor " +
      s"(caught ${lshInBlock.size} of ${exact.size} block pairs)")
  }

  test("deterministic sampling: stable, unbiased-ish, shuffle-free") {
    val s1 = Sampling.deterministicSample(docs, col("doc_id"), pct = 20)
    val s2 = Sampling.deterministicSample(docs, col("doc_id"), pct = 20)
    // identical selection on every run (the whole point vs df.sample)
    assert(s1.collect().map(_.getAs[Long]("doc_id")).toSet ==
      s2.collect().map(_.getAs[Long]("doc_id")).toSet)
    val total = docs.count().toDouble
    val got = s1.count().toDouble
    assert(got / total > 0.10 && got / total < 0.30,
      s"20% hash sample selected ${got / total}")
    // a filter, not a shuffle: no Exchange in the plan
    val plan = s1.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), "deterministicSample must not shuffle")
    // nested sampling property: a 10% sample is a subset of the 20% sample
    val s10 = Sampling.deterministicSample(docs, col("doc_id"), pct = 10)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(s10.subsetOf(s1.collect().map(_.getAs[Long]("doc_id")).toSet))
  }

  test("stratified sampling caps every label at n, deterministically") {
    val out = Sampling.stratifiedSample(docs, col("lang"), col("doc_id"), n = 20)
    val perLabel = out.groupBy("lang").count().collect()
    perLabel.foreach(r => assert(r.getAs[Long]("count") <= 20))
    // labels with >= 20 docs are filled exactly
    val totals = docs.groupBy("lang").count().collect()
      .map(r => r.getAs[String]("lang") -> r.getAs[Long]("count")).toMap
    perLabel.foreach { r =>
      val lang = r.getAs[String]("lang")
      if (totals(lang) >= 20) assert(r.getAs[Long]("count") == 20)
    }
    val again = Sampling.stratifiedSample(docs, col("lang"), col("doc_id"), n = 20)
    assert(out.exceptAll(again).isEmpty && again.exceptAll(out).isEmpty)
  }

  test("dedup exact finds planted duplicates") {
    import spark.implicits._
    val planted = docs.select("doc_id", "text")
      .union(docs.select(col("doc_id") + 100000, col("text")).limit(5))
    val out = Dedup.exact(planted.withColumnRenamed("doc_id", "doc_id"))
    val copies = out.agg(sum(when(col("copies") > 1, 1).otherwise(0))).collect()(0).getLong(0)
    assert(copies == 5, s"expected 5 duplicate groups, got $copies")
  }

  test("substring span dedup: planted shared span, short docs, pair counts") {
    import spark.implicits._
    // docs 1 and 2 share a 12-token span; with 8-token windows the shared
    // FULLY-INSIDE windows are the 12-8+1 = 5 consecutive ones (boundary
    // windows mix in surrounding tokens and differ between the docs)
    val span = (1 to 12).map(i => s"span$i").mkString(" ")
    val rows = Seq(
      (1L, s"alpha beta gamma delta $span epsilon zeta"),
      (2L, s"$span one two three four five six seven"),
      (3L, "tiny doc"), // < 8 tokens: zero windows, must still appear
      (4L, "totally unrelated words nine ten eleven twelve thirteen"))
    val df = rows.toDF("doc_id", "text")
    val spansOut = Dedup.substringSpans(df).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(spansOut(1L) === ((11L, 5L, 5L))) // 18 tokens; dup run at pos 4..8
    assert(spansOut(2L) === ((12L, 5L, 5L))) // 19 tokens; dup run at pos 0..4
    assert(spansOut(3L) === ((0L, 0L, 0L)))
    assert(spansOut(4L) === ((1L, 0L, 0L))) // exactly 8 tokens: one window
    val pairs = Dedup.substringPairs(df).collect()
    assert(pairs.length === 1)
    assert(pairs(0).getLong(0) === 1L && pairs(0).getLong(1) === 2L)
    assert(pairs(0).getLong(2) === 5L)
    // corpus-level: every doc accounts for max(0, tokens-7) windows
    val corpus = Dedup.substringSpans(docs)
    val expect = docs.select(col("doc_id"),
      greatest(size(TextOps.tokens(col("text"))) - 7, lit(0)).cast("long").as("e"))
    val mismatch = corpus.join(expect, Seq("doc_id"))
      .where(col("total_windows") =!= col("e")).count()
    assert(mismatch === 0L)
  }
}
