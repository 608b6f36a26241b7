package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.ops._

/** Behavioral tests for the LLM-pipeline operators: planted near-
  * duplicates must be found (recall), clean corpora must not explode into
  * false candidates (precision sanity), ANN recall vs brute force, and
  * multimodal plumbing shape.
  */
class OpsSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = {
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.getDefaultSession.foreach(_.stop())
    SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.extensions", "graft.GraftSparkExtensions")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
  }

  import scala.jdk.CollectionConverters._

  override def beforeAll(): Unit = spark.sparkContext.setLogLevel("WARN")
  override def afterAll(): Unit = spark.stop()

  private def docsDF(rows: Seq[(Long, String)]) = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    spark.createDataFrame(
      rows.map(r => org.apache.spark.sql.Row(r._1, r._2)).asJava, schema)
  }

  private val base =
    "the quick brown fox jumps over the lazy dog while the cat sleeps near the warm fire place tonight"

  test("minhash finds planted near-duplicates and skips unrelated docs") {
    val nearDup = base.replace("quick", "rapid") // 1-word edit
    val unrelated = "completely different content about spark query engines and distributed columnar storage systems"
    val docs = docsDF(Seq(1L -> base, 2L -> nearDup, 3L -> unrelated))
    val dups = Dedup.nearDuplicates(docs, "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(dups.contains((1L, 2L)), "planted near-dup not found")
    assert(!dups.exists(p => p._1 == 3L || p._2 == 3L), "unrelated doc flagged")
  }

  test("minhash jaccard verification matches exact set jaccard") {
    val docs = docsDF(Seq(1L -> base, 2L -> base)) // identical
    val dups = Dedup.nearDuplicates(docs, "doc_id", "text", threshold = 0.99)
    val row = dups.collect().head
    assert(row.getDouble(2) === 1.0)
  }

  test("LSH-only near-dup output is a verified subset of the exact cascade") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Dedup.nearDuplicatesExact(
      docs, "doc_id", "text", threshold = 0.7, includeMinHashCandidates = false))
    val lsh = pairs(Dedup.nearDuplicatesLsh(docs, "doc_id", "text", threshold = 0.7))
    assert(lsh.subsetOf(exact), s"LSH emitted false pairs: ${lsh -- exact}")
    // precision is exact by construction; recall on the fixture's planted
    // near-dups (J >= ~0.85) should be essentially complete
    if (exact.nonEmpty)
      assert(lsh.size.toDouble / exact.size >= 0.8,
        s"LSH recall collapsed: ${lsh.size}/${exact.size}")
  }

  test("simhash: identical docs distance 0; near-dups small; unrelated far") {
    val nearDup = base.replace("quick", "rapid")
    val unrelated = "completely different content about spark query engines and distributed columnar storage systems"
    val docs = docsDF(Seq(1L -> base, 2L -> base, 3L -> nearDup, 4L -> unrelated))
    val sigs = Dedup.simHash(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(1L) === sigs(2L))
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(sigs(1L), sigs(3L)) < hamming(sigs(1L), sigs(4L)),
      "near-dup should be closer than unrelated")
    val pairs = Dedup.simHashDuplicates(docs, "doc_id", "text", maxHamming = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((1L, 2L)))
  }

  test("char-ngram jaccard flags near-identical docs") {
    val docs = docsDF(Seq(1L -> base, 2L -> (base + " extra"), 3L -> "zzz qqq xxx www vvv uuu ttt sss"))
    val dups = Dedup.ngramJaccardDuplicates(docs, "doc_id", "text", n = 5, threshold = 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(dups === Set((1L, 2L)))
  }

  test("native cosine kernel: interpreted == codegen == manual") {
    import spark.implicits._
    val df = Seq(
      (1L, Array(1f, 2f, 3f), Array(1f, 2f, 3f)),
      (2L, Array(1f, 0f, 0f), Array(0f, 1f, 0f)),
      (3L, Array(1f, 2f, 0f), Array(2f, 4f, 0f))).toDF("id", "a", "b")
    val out = df.select(col("id"), Similarity.cosine(col("a"), col("b")).as("sim"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(out(1L) - 1.0) < 1e-12)
    assert(math.abs(out(2L)) < 1e-12)
    assert(math.abs(out(3L) - 1.0) < 1e-12)
    // dot
    val d = df.select(Similarity.dot(col("a"), col("b")).as("d")).collect().map(_.getDouble(0))
    assert(d.toSeq === Seq(14.0, 0.0, 10.0))
  }

  test("LSH ANN achieves high recall vs brute force on fixture embeddings") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val corpus = emb.select(col("vec_id").as("c_id"), col("embedding").as("c_vec"))
    val exact = Similarity.bruteForceTopK(queries, corpus, 5)
      .select("q_id", "c_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // bits=2 → 4 buckets → ~25% of corpus scanned per query; recall of the
    // top-5 should still be decent because neighbors share sign patterns.
    val approx = Similarity.lshTopK(queries, corpus, 5, dim = 64, bits = 2)
      .select("q_id", "c_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.3, s"LSH recall too low: $recall")
    // every query's self-match must survive (same bucket by construction)
    assert((0L until 20L).forall(q => approx.contains((q, q))), "self-match lost")
  }

  test("IVF ANN achieves high recall vs brute force on fixture embeddings") {
    import org.apache.spark.sql.functions.col
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val corpus = emb.select(col("vec_id").as("c_id"), col("embedding").as("c_vec"))
    val exact = graft.ops.Similarity.bruteForceTopK(queries, corpus, 5)
      .select("q_id", "c_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = graft.ops.Similarity.ivfTopK(queries, corpus, 5, nlist = 8, nprobe = 4)
      .select("q_id", "c_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.7, s"IVF recall $recall below 0.7")
    // probing ALL cells must reproduce the exact result
    val full = graft.ops.Similarity.ivfTopK(queries, corpus, 5, nlist = 8, nprobe = 8)
      .select("q_id", "c_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full === exact)
  }

  test("SQ8 quantized ANN: codes in range, reconstruction close, high recall") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val corpus = emb.select(col("vec_id").as("c_id"), col("embedding").as("c_vec"))
    val (lo, span) = Similarity.sqBounds(corpus, "c_vec")
    assert(lo.length === 64 && span.forall(_ > 0))
    // codes clamp to [0, 255]
    val codes = corpus.select(Similarity.sqEncode(col("c_vec"), lo, span).as("k"))
    val outOfRange = codes
      .select(explode(col("k")).as("c")).filter(col("c") < 0 || col("c") > 255)
    assert(outOfRange.count() === 0)
    // 8-bit reconstruction error per dimension is bounded by span/255/2
    // (+ float slack)
    val maxErr = corpus
      .select(col("c_vec").cast("array<double>").as("v"),
        Similarity.sqDecode(Similarity.sqEncode(col("c_vec"), lo, span), lo, span)
          .as("r"))
      .select(explode(arrays_zip(col("v"), col("r"))).as("p"))
      .select(abs(col("p.v") - col("p.r")).as("e"))
      .agg(max(col("e"))).head().getDouble(0)
    assert(maxErr <= span.max / 255.0 / 2.0 + 1e-6, s"reconstruction error $maxErr")
    // rerank recovers the exact top-k almost everywhere
    val exact = Similarity.bruteForceTopK(queries, corpus, 5)
      .select("q_id", "c_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.sqTopK(queries, corpus, 5, refine = 4)
      .select("q_id", "c_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.9, s"SQ8 recall $recall below 0.9")
    // self-match always survives (reconstruction error can't displace a
    // perfect-similarity candidate out of a 4k-deep refine cut here)
    assert((0L until 10L).forall(q => approx.contains((q, q))), "self-match lost")
    // IVF-SQ composition: probing ALL cells makes the cell layer a no-op,
    // so the result must equal plain SQ's (same bounds, same cascade)
    val centroids = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").cast("int").as("cell"), col("embedding").as("centroid"))
    val ivfSqAll = Similarity.ivfSqTopK(queries, corpus, centroids,
      5, nprobe = 8, refine = 4)
      .select("q_id", "c_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ivfSqAll === approx, "nprobe=nlist IVF-SQ must equal flat SQ")
    // partial probing keeps decent recall on the fixture
    val ivfSq = Similarity.ivfSqTopK(queries, corpus, centroids,
      5, nprobe = 4, refine = 4)
      .select("q_id", "c_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert((exact & ivfSq).size.toDouble / exact.size >= 0.6)
    // plan shape: the query/centroid sides are BROADCAST (tiny by
    // contract) — a shuffling or cartesian plan here would shuffle the
    // corpus per query at scale
    val plan = Similarity.ivfSqTopK(queries, corpus, centroids, 5, nprobe = 4)
      .queryExecution.executedPlan.toString
    assert(plan.contains("Broadcast"), plan.take(2000))
    assert(!plan.contains("CartesianProduct"),
      "corpus-side cartesian product in the ANN plan")
  }

  test("lang-id is deterministic and quality score stays within [0,1]") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val prof = TextOps.profile(docs)
    val bad = prof.filter(col("quality") < 0 || col("quality") > 1).count()
    assert(bad === 0)
    val langs = prof.select("pred_lang").distinct().collect().map(_.getString(0)).toSet
    assert(langs.subsetOf(Set("en", "de", "fr", "es", "zh", "und")))
    // deterministic across runs
    val again = TextOps.profile(docs).groupBy("pred_lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val first = prof.groupBy("pred_lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(again === first)
  }

  test("multimodal: payload/meta schema, batched decode, frame sampling") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(50)
    val assets = Multimodal.toAssets(docs)
    assert(assets.schema("payload").dataType.typeName === "binary")
    assert(assets.schema("meta").dataType.typeName === "struct")
    val feats = Multimodal.extractFeatures(assets, dim = 16).cache()
    assert(feats.count() === 50)
    val f = feats.filter(col("asset_id") === 0).collect().head.features
    assert(f.length === 16)
    assert(math.abs(f.sum - 1.0f) < 1e-3, "histogram must be L1-normalized")
    // decode is deterministic
    val f2 = Multimodal.extractFeatures(assets, dim = 16)
      .filter(col("asset_id") === 0).collect().head.features
    assert(f.toSeq === f2.toSeq)
    val frames = Multimodal.sampleFrames(assets, frameBytes = 64, stride = 4)
    assert(frames.columns.toSeq === Seq("asset_id", "frame_no", "frame_bytes"))
    assert(frames.count() > 0)
    assert(frames.filter(col("frame_no") % 4 =!= 0).count() === 0, "stride not applied")
    // png/bmp payloads are REAL images: the decoded-pixel histogram must
    // equal the histogram of the deterministic pixel generator exactly
    // (lossless round-trip), for both codecs
    for (id <- Seq(0L, 1L)) { // doc 0 → png, doc 1 → bmp
      val fmt = assets.filter(col("asset_id") === id)
        .collect().head.meta.format
      assert(fmt === (if (id == 0) "png" else "bmp"))
      val got = feats.filter(col("asset_id") === id).collect().head.features
      val expected = new Array[Float](16)
      for (y <- 0 until Multimodal.IMG_H; x <- 0 until Multimodal.IMG_W)
        expected(Multimodal.pixelValue(id, x, y) % 16) +=
          1f / (Multimodal.IMG_W * Multimodal.IMG_H)
      assert(got.toSeq === expected.toSeq,
        s"$fmt decode must reproduce the generator histogram")
    }
    // wav payloads are REAL RIFF/WAVE PCM (JDK sampled-audio): the
    // decoded-amplitude histogram must equal the deterministic sample
    // generator's histogram exactly (16-bit lossless round-trip); all
    // counts are multiples of 1/64, so float equality is exact
    val wavId = 2L
    assert(assets.filter(col("asset_id") === wavId)
      .collect().head.meta.format === "wav")
    val gotW = feats.filter(col("asset_id") === wavId).collect().head.features
    val expW = new Array[Float](16)
    for (i <- 0 until Multimodal.WAV_SAMPLES)
      expW(Multimodal.sampleValue(wavId, i) * 16 / 65536) +=
        1f / Multimodal.WAV_SAMPLES
    assert(gotW.toSeq === expW.toSeq,
      "wav decode must reproduce the generator histogram")
    feats.unpersist()
  }

  test("multimodal resize: nearest-neighbor keeps even pixels at 8x8 -> 4x4, " +
    "round-trips losslessly, non-images pass through") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(20)
    val assets = Multimodal.toAssets(docs)
    val resized = Multimodal.resizeAssets(assets, 4, 4).collect()
    resized.filter(a => a.meta.format == "png" || a.meta.format == "bmp")
      .foreach { a =>
        assert(a.meta.width === 4 && a.meta.height === 4)
        // mean gray of the resized image == mean over even-coordinate
        // source pixels from the deterministic generator
        val expect = (for (y <- 0 until 4; x <- 0 until 4)
          yield Multimodal.pixelValue(a.asset_id, 2 * x, 2 * y)).sum / 16.0
        assert(Multimodal.meanGray(a.payload) === expect,
          s"asset ${a.asset_id} (${a.meta.format})")
      }
    // non-image assets pass through untouched
    val orig = assets.collect().map(a => a.asset_id -> a).toMap
    resized.filter(a => a.meta.format != "png" && a.meta.format != "bmp")
      .foreach { a =>
        assert(a.payload.toSeq === orig(a.asset_id).payload.toSeq)
        assert(a.meta === orig(a.asset_id).meta)
      }
    assert(resized.exists(a => a.meta.format == "png") &&
      resized.exists(a => a.meta.format == "wav"))
  }

  test("perceptual hashes: real decode matches the generator formula, " +
    "exact dups collapse cross-format, near dups merge to the min rep") {
    import spark.implicits._
    // ids 0/4/256 → png, 1/257 → bmp; 256·31 ≡ 0 (mod 256) so id+256 is a
    // pixel-identical image (the mirror case), id 4 differs by a gray
    // offset that moves the dHash wrap positions (the near-dup case)
    val ids = Seq(0L, 1L, 4L, 256L, 257L)
    val assets = ids.map { id =>
      val fmt = if (id % 4 == 0) "png" else "bmp"
      Multimodal.Asset(id, Multimodal.encodeImage(id, fmt),
        Multimodal.AssetMeta(fmt, Multimodal.IMG_W, Multimodal.IMG_H, 0L))
    }.toDS()
    // the hand-computed spec, straight from the generator formula
    def handHash(id: Long): (Array[Int], Int) = {
      val bands = new Array[Int](4)
      var ph = 0
      for (y <- 0 until 8; x <- 0 until 8)
        if (Multimodal.pixelValue(id, x, y) < Multimodal.pixelValue(id, (x + 1) % 8, y))
          bands(y / 2) |= 1 << ((y % 2) * 8 + x)
      for (u <- 0 until 4; v <- 0 until 4; if u != 0 || v != 0) {
        var c = 0L
        for (yy <- 0 until 8; xx <- 0 until 8)
          c += Multimodal.pixelValue(id, xx, yy) *
            Multimodal.DctC(u)(xx) * Multimodal.DctC(v)(yy)
        if (c > 0) ph |= 1 << (u * 4 + v - 1)
      }
      (bands, ph)
    }
    val got = Multimodal.perceptualHashes(assets).collect()
      .map(r => r.getLong(0) ->
        (Array(r.getInt(2), r.getInt(3), r.getInt(4), r.getInt(5)), r.getInt(6)))
      .toMap
    ids.foreach { id =>
      val (eb, ep) = handHash(id)
      assert(got(id)._1.toSeq === eb.toSeq, s"dHash bands of asset $id")
      assert(got(id)._2 === ep, s"pHash of asset $id")
    }
    assert(got(0L)._1.toSeq === got(256L)._1.toSeq && got(0L)._2 === got(256L)._2,
      "id+256 must be hash-identical")
    val canon = Multimodal.imageNearDupCanon(
      Multimodal.perceptualHashes(assets), maxHamming = 6).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // 0/1/256/257 share the no-wraparound hash (cross-format exact dup
    // group: png 0 catches bmp 1's recompression) → rep 0, n_exact 4
    Seq(0L, 1L, 256L, 257L).foreach { id =>
      assert(canon(id)._1 === 0L, s"rep of $id")
      assert(canon(id)._3 === 4L, s"n_exact of $id")
    }
    assert(canon(4L)._1 === 4L, "id 4 is its own exact group")
    // canon of rep 4 follows the hand-computed Hamming distance to rep 0
    val d = got(0L)._1.zip(got(4L)._1)
      .map { case (a, b) => Integer.bitCount(a ^ b) }.sum
    assert(canon(4L)._2 === (if (d <= 6) 0L else 4L),
      s"one-step canon under hand Hamming $d")
    // (and in this fixture the offsets DO land within the threshold)
    assert(d <= 6 && canon(4L)._2 === 0L)
  }

  test("audio fingerprints: real decode matches the generator profile, " +
    "exact dups collapse, bucket-mates within Chebyshev merge") {
    import spark.implicits._
    // 65538 = 2 + 2^16 → sample-identical clip to id 2 (the mirror
    // case); 6 differs by a small gain offset (the near-dup case)
    val ids = Seq(2L, 6L, 65538L)
    val assets = ids.map(id => Multimodal.Asset(id, Multimodal.encodeWav(id),
      Multimodal.AssetMeta("wav", Multimodal.WAV_RATE.toInt,
        Multimodal.WAV_SAMPLES, 0L))).toDS()
    def hand(id: Long): (Array[Long], Long, Long) = {
      val s = new Array[Long](8)
      for (i <- 0 until Multimodal.WAV_SAMPLES)
        s(i / (Multimodal.WAV_SAMPLES / 8)) += Multimodal.sampleValue(id, i)
      var dh = 0L; var sig = 0L
      for (f <- 0 until 8) {
        if (s(f) < s((f + 1) % 8)) dh |= 1L << f
        sig |= (s(f) >> 15) << (4 * f)
      }
      (s, dh, sig)
    }
    val fps = Multimodal.audioFingerprints(assets)
    val got = fps.collect().map(r => r.getLong(0) ->
      (((1 to 8).map(i => r.getLong(i)).toArray, r.getLong(9), r.getLong(10)))).toMap
    ids.foreach { id =>
      val (es, edh, esig) = hand(id)
      assert(got(id)._1.toSeq === es.toSeq, s"profile of $id")
      assert(got(id)._2 === edh && got(id)._3 === esig, s"keys of $id")
    }
    assert(got(2L)._1.toSeq === got(65538L)._1.toSeq)
    val canon = Multimodal.audioNearDupCanon(fps, maxDelta = 4096L).collect()
      .map(r => r.getLong(0) -> ((r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(canon(65538L)._1 === 2L && canon(65538L)._3 === 2L,
      "identical clips must share a representative")
    // id 6's expected canon follows the hand-computed bucket + Chebyshev
    val (s2, dh2, sg2) = hand(2L)
    val (s6, dh6, sg6) = hand(6L)
    val cheb = s2.zip(s6).map { case (a, b) => math.abs(a - b) }.max
    val expect6 = if (dh2 == dh6 && sg2 == sg6 && cheb <= 4096L) 2L else 6L
    assert(canon(6L)._2 === expect6, s"canon of 6 under cheb=$cheb")
  }

  test("audio fingerprints: sig32 nibbles stay masked on clips longer " +
    "than 64 samples (round-12 advisory: unmasked energies bleed into " +
    "the adjacent nibble)") {
    import spark.implicits._
    // 128 samples, frame 0 saturated at 65535: its frame sum is
    // 16*65535 = 2^20, so (sum >> 15) = 32 > 15 — without the mask this
    // bleeds a bit into frame 1's nibble, corrupting the bucket key
    val n = 128
    def sample(i: Int): Int = if (i < n / 8) 65535 else (i * 997) % 65536
    val pcm = new Array[Byte](n * 2)
    for (i <- 0 until n) {
      val s = sample(i) - 32768
      pcm(2 * i) = (s & 0xFF).toByte
      pcm(2 * i + 1) = ((s >> 8) & 0xFF).toByte
    }
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
    val out = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
    val assets = Seq(Multimodal.Asset(1L, out.toByteArray,
      Multimodal.AssetMeta("wav", 8000, n, 0L))).toDS()
    val r = Multimodal.audioFingerprints(assets).collect().head
    val hand = new Array[Long](8)
    for (i <- 0 until n) hand(i / (n / 8)) += sample(i)
    assert((1 to 8).map(r.getLong).toSeq === hand.toSeq, "frame profile")
    assert((hand(0) >> 15) > 15,
      "fixture must exceed the nibble range (the pre-mask bleed case)")
    val sig = r.getLong(10)
    val expect = (0 until 8).map(f => ((hand(f) >> 15) & 0xFL) << (4 * f))
      .reduce(_ | _)
    assert(sig === expect, "sig32 must pack MASKED nibbles")
    // every nibble decodes back to its own frame's masked energy — the
    // bleed would corrupt the nibble above a saturated frame
    for (f <- 0 until 8)
      assert(((sig >> (4 * f)) & 0xFL) === ((hand(f) >> 15) & 0xFL),
        s"nibble $f")
  }

  test("audio resample: decimation keeps even frames, halves the rate, " +
    "round-trips losslessly, non-audio passes through") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(20)
    val assets = Multimodal.toAssets(docs)
    val res = Multimodal.resampleAssets(assets, stride = 2).collect()
    res.filter(_.meta.format == "wav").foreach { a =>
      assert(a.meta.width === Multimodal.WAV_RATE.toInt / 2)
      assert(a.meta.height === Multimodal.WAV_SAMPLES / 2)
      // mean amplitude == mean of the generator at even sample indices
      val expect = (0 until Multimodal.WAV_SAMPLES / 2)
        .map(i => Multimodal.sampleValue(a.asset_id, 2 * i).toLong).sum
        .toDouble / (Multimodal.WAV_SAMPLES / 2)
      assert(Multimodal.meanAmplitude(a.payload) === expect,
        s"asset ${a.asset_id}")
    }
    val orig = assets.collect().map(a => a.asset_id -> a).toMap
    res.filter(_.meta.format != "wav").foreach { a =>
      assert(a.payload.toSeq === orig(a.asset_id).payload.toSeq)
    }
    assert(res.exists(_.meta.format == "wav"))
  }

  test("unigram fit: hand-computed canonical corpus, char-conservation " +
    "invariant, determinism") {
    import org.apache.spark.sql.functions.{col, explode, length, lower, split, sum => fsum}
    // corpus "ab ab b": words ab(2), b(1); seed a:2 ab:2 b:3 (tot 7, V 3)
    // round 1 quantized logs: a,ab -1203973  b -916291
    //   viterbi("ab"): "ab" (-1203973) beats "a|b" (-2120264) -> counts ab:2 b:1
    // round 2 (tot 3, V 3): a -1791759  ab -693147  b -1098612, same split
    val tiny = docsDF(Seq((1L, "ab ab"), (2L, "b")))
    val fit = graft.ops.TextOps.unigramFit(tiny, "text",
      seedExtra = 40, maxPieceLen = 3, emRounds = 2, maxWordLen = 30)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(fit === Map(
      "a" -> ((0L, -1791759L)),
      "ab" -> ((2L, -693147L)),
      "b" -> ((1L, -1098612L))))
    // a segmentation PARTITIONS each word: total piece chars must equal
    // total chars of the fitted words, on a real corpus
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val out = graft.ops.TextOps.unigramFit(docs, "text")
    val pieceChars = out.select(fsum(col("cnt") * length(col("piece"))))
      .collect().head.getLong(0)
    val wordChars = docs
      .select(explode(split(lower(col("text")), "\\s+")).as("w"))
      .filter(col("w") =!= "" && length(col("w")) <= 30)
      .select(fsum(length(col("w")).cast("long")))
      .collect().head.getLong(0)
    assert(pieceChars === wordChars, "piece chars must partition word chars")
    // deterministic across runs
    val again = graft.ops.TextOps.unigramFit(docs, "text")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted
    val first = out.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted
    assert(again.toSeq === first.toSeq)
  }

  test("kneser-ney trigram: matches an independent reference and is " +
    "exactly normalized over the vocabulary") {
    import org.apache.spark.sql.functions.{col, pmod}
    val texts = Seq("a b a b c", "a b c a", "b c a b", "c c a b a")
    val docs = docsDF(texts.zipWithIndex.map { case (t, i) => (i.toLong, t) })
      .withColumn("source", pmod(col("doc_id"), org.apache.spark.sql.functions.lit(2)))
    val got = graft.ops.TextOps.knTrigramScores(docs, "source", "text")
      .collect()
      .map(r => (r.getString(1), r.getString(2), r.getString(3)) ->
        math.exp(r.getDouble(5)))
      .toMap
    // independent reference, straight from Chen & Goodman's interpolated
    // form with continuation counts
    val D = 0.75
    val events = texts.flatMap { t =>
      val ts = t.split(" ").toSeq
      val us = Seq("<s>", "<s>") ++ ts
      ts.indices.map(i => (us(i), us(i + 1), ts(i)))
    }
    val c3 = events.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val c2 = c3.groupBy { case ((u, v, _), _) => (u, v) }
      .view.mapValues(m => (m.values.sum, m.size.toLong)).toMap
    val mid = c3.keys.toSeq.map { case (_, v, w) => (v, w) }
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val midv = mid.groupBy(_._1._1)
      .view.mapValues(m => (m.values.sum, m.size.toLong)).toMap
    val uni = mid.keys.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val unitot = mid.size.toLong
    def p(u: String, v: String, w: String): Double = {
      val (cc2, n1p) = c2((u, v))
      val (midctx, midn1) = midv(v)
      math.max(c3.getOrElse((u, v, w), 0L) - D, 0.0) / cc2 +
        (D * n1p / cc2) *
          (math.max(mid.getOrElse((v, w), 0L) - D, 0.0) / midctx +
            (D * midn1 / midctx) * (uni.getOrElse(w, 0L).toDouble / unitot))
    }
    assert(got.nonEmpty)
    got.foreach { case ((u, v, w), pk) =>
      assert(pk > 0 && pk <= 1, s"P($w|$u,$v)=$pk out of range")
      assert(math.abs(pk - p(u, v, w)) < 1e-9, s"P($w|$u,$v): got $pk ref ${p(u, v, w)}")
    }
    // EXACT normalization: for every observed context, the probabilities
    // of all vocabulary words (observed continuations carry the whole
    // unigram mass) sum to 1 — the property that separates real KN from
    // an ad-hoc backoff
    val vocab = c3.keys.map(_._3).toSeq.distinct
    c2.keys.foreach { case (u, v) =>
      val s = vocab.map(w => p(u, v, w)).sum
      assert(math.abs(s - 1.0) < 1e-9, s"context ($u,$v) mass $s")
    }
  }

  test("bpe tokens: contractions, digits, punctuation, empty text") {
    import org.apache.spark.sql.functions.col
    val df = docsDF(Seq(
      (1L, "It's 42 degrees, really!"),
      (2L, ""),
      (3L, "   "),
      (4L, "don't stop")))
    val toks = df.select(col("doc_id"),
      graft.ops.TextOps.bpeTokens(col("text")).as("t")).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(toks(1L) === Seq("it", "'s", " 42", " degrees", ",", " really", "!"))
    assert(toks(2L) === Seq())
    assert(toks(3L) === Seq()) // whitespace-only yields no tokens
    assert(toks(4L) === Seq("don", "'t", " stop"))
  }

  test("rolling fingerprint: deterministic, normalization-invariant, empty-safe") {
    import org.apache.spark.sql.functions.col
    val df = docsDF(Seq(
      (1L, "Hello,  World!"),
      (2L, "hello world"), // same normalized form as doc 1
      (3L, "hello worlds"),
      (4L, "")))
    val fps = df.select(col("doc_id"),
      graft.ops.TextOps.rollingFingerprint(col("text")).as("fp")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fps(1L) === fps(2L))
    assert(fps(2L) !== fps(3L))
    assert(fps(4L) === 0L)
    // manual check of the polynomial: "ab" → (((0*31+97)%p)*31+98)%p
    val manual = (97L * 31 + 98) % 1000000007L
    val ab = docsDF(Seq((9L, "ab")))
      .select(graft.ops.TextOps.rollingFingerprint(col("text"))).collect().head.getLong(0)
    assert(ab === manual)
  }

  test("exact dedup keeps min id per group") {
    val docs = docsDF(Seq(1L -> "aaa", 5L -> "aaa", 3L -> "bbb"))
    val out = Dedup.exactDedup(docs, "doc_id", col("text"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(out === Set(("aaa", 1L, 2L), ("bbb", 3L, 1L)))
  }

  test("connected components: chains, cliques, singleton pairs, empty") {
    import spark.implicits._
    // threshold 0 forces the distributed alternating-star path; the
    // default exercises the driver union-find fast path — both must agree
    for (threshold <- Seq(0L, 1L << 20)) {
      def cc(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
        val df = pairs.toDF("a", "b")
        Dedup.connectedComponents(df, "a", "b",
          smallGraphEdgeThreshold = threshold)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      }
      // a long chain (worst case for naive propagation) + a separate clique
      val chain = (1L to 9L).sliding(2).map(s => (s(1), s(0))).toSeq
      val clique = Seq((20L, 21L), (21L, 22L), (20L, 22L))
      val got = cc(chain ++ clique)
      assert((1L to 9L).forall(n => got(n) == 1L))
      assert(Seq(20L, 21L, 22L).forall(n => got(n) == 20L))
      // disjoint pair + duplicate/reversed edges collapse
      val got2 = cc(Seq((5L, 6L), (6L, 5L), (5L, 6L), (8L, 7L)))
      assert(got2 === Map(5L -> 5L, 6L -> 5L, 7L -> 7L, 8L -> 7L))
      // empty edge set
      assert(cc(Nil).isEmpty)
    }
  }

  test("connected components and pagerank: results survive a re-planning " +
    "write, and releasePersisted drains every retained block") {
    import spark.implicits._
    // other suites/tests may hold their own caches — assert no NEW blocks
    val before = spark.sparkContext.getPersistentRDDs.keySet
    def leaked: Set[Int] =
      (spark.sparkContext.getPersistentRDDs.keySet -- before).toSet
    val chain = (1L to 40L).sliding(2).map(s => (s(0), s(1))).toSeq
    for (threshold <- Seq(0L, 1L << 20)) {
      Materialize.scoped {
        val out = Dedup.connectedComponents(chain.toDF("a", "b"), "a", "b",
          smallGraphEdgeThreshold = threshold)
        if (threshold > 0)
          // driver union-find path: nothing retained at all
          assert(leaked.isEmpty, s"driver path leaked blocks: $leaked")
        // The result must survive a WRITE — DataFrameWriter re-plans the
        // query (fresh QueryExecution, no shuffle-output reuse), which is
        // exactly how Verify/Bench consume it. The distributed path's
        // fixpoint edges must still be pinned when it runs.
        out.write.format("noop").mode("overwrite").save()
        val got = out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got.size === 40 && (1L to 40L).forall(n => got(n) == 1L))
      }
      // the distributed path's fixpoint pin lives until its scope ends —
      // the lifecycle every harness runs a query in — then nothing remains
      assert(leaked.isEmpty, s"blocks survive the scope " +
        s"(threshold=$threshold): $leaked")
    }
    // 30 iterations: without the every-5-rounds plan cut the logical
    // plan doubles per iteration and analysis alone would dwarf the test
    val cycle = Seq(("a", "b", 1.0), ("b", "c", 1.0), ("c", "a", 1.0))
      .toDF("src", "dst", "p")
    val pr = Analytics.pageRank(cycle, 0.85, iterations = 30)
    // same re-plan shape: the final ranks ride the LAST cut's pin,
    // which must outlive the call
    pr.write.format("noop").mode("overwrite").save()
    val ranks = pr.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    ranks.values.foreach(v => assert(math.abs(v - 1.0 / 3) < 1e-9))
    // no scope is open here: the pins sit in the thread's outermost
    // scope, which releasePersisted drains (the perfbench suite's path)
    Dedup.releasePersisted()
    assert(leaked.isEmpty, s"pageRank blocks survive releasePersisted: $leaked")
  }

  test("equi-depth histogram matches SQL NTILE semantics incl. remainders") {
    import spark.implicits._
    // n=10, k=4 → NTILE sizes 3,3,2,2 with exact inclusive bounds
    val df = (1 to 10).map(i => ("g", i.toLong)).toDF("g", "v")
    val h = Quantiles.equiDepthHistogram(df, Seq("g"), "v", Seq("v"), 4)
      .orderBy("bucket").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(h.toSeq === Seq((1L, 3L, 1L, 3L), (2L, 3L, 4L, 6L),
      (3L, 2L, 7L, 8L), (4L, 2L, 9L, 10L)))
    // n < k: the first n buckets get one row each, the rest are empty
    val tiny = (1 to 3).map(i => ("g", i.toLong)).toDF("g", "v")
    val th = Quantiles.equiDepthHistogram(tiny, Seq("g"), "v", Seq("v"), 8)
      .orderBy("bucket").collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(th.toSeq === Seq((1L, 1L), (2L, 1L), (3L, 1L)))
  }

  test("withGroupRank keeps NULL group keys (null-safe offsets join)") {
    import spark.implicits._
    // NULL is a legitimate group under GROUP BY / NTILE semantics; the
    // offsets join must not drop it (plain equality would).
    val df = Seq(
      (Some("a"), 3L), (Some("a"), 1L), (None, 2L), (None, 5L), (None, 1L))
      .toDF("g", "v")
    val out = Quantiles.withGroupRank(df, Seq("g"), Seq("v"))
      .select("g", "v", "__rn", "__n")
      .collect()
      .map(r => (Option(r.getString(0)), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.length === 5, "rows with NULL group keys must survive")
    val nulls = out.filter(_._1.isEmpty).sortBy(_._2)
    assert(nulls.map(_._3).toSeq === Seq(1L, 2L, 3L), "NULL group ranks 1..3")
    assert(nulls.forall(_._4 == 3L), "NULL group size is 3")
    val as = out.filter(_._1.contains("a")).sortBy(_._2)
    assert(as.map(_._3).toSeq === Seq(1L, 2L) && as.forall(_._4 == 2L))
  }

  test("withGroupRank ranks are window-exact with payload columns (pinned partitioning)") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // Payload columns beyond (group ++ order) used to let column pruning
    // give the internal offsets branch a DIFFERENT range exchange than
    // the ranked branch; without exchange reuse each sampled its own
    // boundaries and the broadcast offsets scrambled the global ranks
    // (caught as a run-to-run-flaky consecutive-rank self-join: 9,256 of
    // 9,995 pairings wrong in one execution). The frame is now
    // localCheckpoint-pinned so both branches read ONE partitioning;
    // this pins rank == row_number for a payload-carrying input.
    val df = (1 to 2000).map { i =>
      (s"g${i % 3}", (i * 7919) % 2000, s"payload-$i", i.toLong)
    }.toDF("g", "v", "payload", "u").repartition(1)
    val ranked = Quantiles.withGroupRank(df, Seq("g"), Seq("v"))
      .select(col("g"), col("v"), col("u"), col("__rn"))
    val w = Window.partitionBy(col("g")).orderBy(col("v"))
    val truth = df.select(col("g"), col("v"), col("u").as("wu"),
      row_number().over(w).cast("long").as("wrn"))
    val joined = ranked.join(truth, Seq("g", "v"))
    assert(joined.count() === 2000)
    assert(joined.filter(col("__rn") =!= col("wrn") ||
      col("u") =!= col("wu")).count() === 0,
      "withGroupRank must equal the window rank row-for-row")
    graft.ops.Dedup.releasePersisted()
  }

  test("interaction/temporal edges: rank-join path equals the window path") {
    import spark.implicits._
    // The size gate picks the per-type window below one task-wave of
    // input and the consecutive-rank self-join above it (no ≤ #types-key
    // window at scale); both spellings must produce the SAME edge sets.
    val ev = (1 to 5000).map { i =>
      (i.toLong, new java.sql.Timestamp(1600000000000L + (i * 7919L) % 100000000L),
        (i * 31L) % 97, s"t${i % 4}")
    }.toDF("event_id", "ts", "user_id", "event_type").repartition(3)
    def run[A](mode: String)(f: => A): A = {
      sys.props("graft.edges.rankJoin") = mode
      try f finally sys.props.remove("graft.edges.rankJoin")
    }
    val wE = run("never")(Analytics.interactionEdges(
      ev, "user_id", "event_type", "ts", "event_id").collect().toSet)
    val rE = run("always")(Analytics.interactionEdges(
      ev, "user_id", "event_type", "ts", "event_id").collect().toSet)
    assert(wE === rE, "undirected edge sets must match across the gate")
    assert(wE.nonEmpty)
    val wT = run("never")(Analytics.temporalEdges(
      ev, "user_id", "event_type", "ts", "event_id").collect().toSet)
    val rT = run("always")(Analytics.temporalEdges(
      ev, "user_id", "event_type", "ts", "event_id").collect().toSet)
    assert(wT === rT, "temporal edge sets must match across the gate")
    graft.ops.Dedup.releasePersisted()
  }

  test("contamination screen flags docs overlapping the benchmark pool") {
    val bench = docsDF(Seq(1L -> base))
    val corpus = docsDF(Seq(
      10L -> base,                                   // full copy: max overlap
      11L -> base.replace("quick", "slow"),          // near copy: still > threshold
      12L -> "completely unrelated words about engines and parquet tables here"))
    val out = Dedup.contaminationScreen(corpus, bench, "doc_id", "text",
      n = 3, minOverlap = 5L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.contains(10L) && out.contains(11L) && !out.contains(12L))
    // a full copy shares every shingle
    assert(out(10L) === base.split(" ").length - 2)
  }

  test("deterministic sampling: stable keys, fraction accuracy, threshold codec") {
    import spark.implicits._
    assert(Sampling.fractionThreshold(0.5) === "8000")
    assert(Sampling.fractionThreshold(0.0625) === "1000")
    assert(Sampling.fractionThreshold(0.0) === "0000")
    val ids = (1L to 4000L).toDF("id")
    val kept = ids.filter(Sampling.bernoulli(col("id"), 0.25))
      .as[Long].collect().toSet
    // ~25% within a loose band, and EXACTLY the same set on a second run
    assert(kept.size > 800 && kept.size < 1200, s"got ${kept.size}")
    val again = ids.filter(Sampling.bernoulli(col("id"), 0.25)).as[Long].collect().toSet
    assert(again === kept)
    // fraction 1.0 keeps everything
    assert(ids.filter(Sampling.bernoulli(col("id"), 1.0)).count() === 4000L)
  }

  test("token-budget packing: shards respect the budget boundary per stratum") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a", 40L), (2L, "a", 40L), (3L, "a", 40L), (4L, "a", 40L),
      (10L, "b", 90L), (11L, "b", 90L), (12L, "b", 30L))
      .toDF("doc_id", "src", "w")
    val out = Packing.packByBudget(docs, "src", "doc_id", "w", budget = 100L)
      .collect().map(r => (r.getLong(0), r.getLong(3))).toMap
    // a: before = 0,40,80,120 → shards 0,0,0,1
    assert(out(1L) === 0L && out(2L) === 0L && out(3L) === 0L && out(4L) === 1L)
    // b: before = 0,90,180 → shards 0,0,1
    assert(out(10L) === 0L && out(11L) === 0L && out(12L) === 1L)
  }

  test("repetition signals: unique ratio, top-token fraction, dup bigrams") {
    val docs = docsDF(Seq(
      1L -> "a b c d",            // all unique
      2L -> "a a a b",            // top token 3/4, uniq 2/4
      3L -> "x y x y x y",        // bigram "x y"/"y x" repeats
      4L -> "solo"))              // single token: no bigrams
    val out = docs.select(col("doc_id"),
      TextOps.uniqueTokenRatio(col("text")).as("u"),
      TextOps.topTokenFraction(col("text")).as("t"),
      TextOps.dupBigramFraction(col("text")).as("d"))
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2), r.getDouble(3)))).toMap
    assert(out(1L) === ((1.0, 0.25, 0.0)))
    assert(out(2L) === ((0.5, 0.75, 1.0 - 2.0 / 3.0)))
    // doc 3: 6 tokens, 2 distinct; top "x" 3/6; bigrams 5 with 2 distinct
    assert(out(3L) === ((2.0 / 6.0, 0.5, 1.0 - 2.0 / 5.0)))
    assert(out(4L) === ((1.0, 1.0, 0.0)))
  }

  test("block boilerplate: shared blocks removed, order kept, all-boiler → null") {
    // 4-token blocks; "HDR1 HDR2 HDR3 HDR4" is a shared header block.
    val hdr = "h1 h2 h3 h4"
    val docs = docsDF(Seq(
      1L -> s"$hdr a b c d e f g h",
      2L -> s"$hdr p q r s",
      3L -> hdr, // only the boilerplate block
      4L -> "u v w x y z")) // untouched (no shared block)
    val out = Dedup.blockBoilerplate(docs, "doc_id", "text", blockTokens = 4, minDf = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), Option(r.getString(3))))).toMap
    assert(out(1L)._1 === 3L && out(1L)._2 === 1L)
    assert(out(2L) === ((2L, 1L, Some(md5Hex("p q r s")))))
    assert(out(3L) === ((1L, 1L, None))) // everything removed
    assert(out(4L)._2 === 0L &&
      out(4L)._3 === Some(md5Hex("u v w x y z")))
    // doc 1: kept blocks join in document order
    assert(out(1L)._3 === Some(md5Hex("a b c d e f g h")))
  }

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("pii redaction: counts per class, placeholders in output, clean text untouched") {
    val docs = docsDF(Seq(
      1L -> "reach me at jane.doe@corp.example.org or 555-0123 from 192.168.1.77",
      2L -> "no pii here at all"))
    val out = TextOps.piiProfile(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    assert(out(1L)._1 === 1L && out(1L)._2 === 1L && out(1L)._3 === 1L)
    assert(out(1L)._4 ===
      md5Hex("reach me at <EMAIL> or <PHONE> from <IP>"))
    assert(out(2L) === ((0L, 0L, 0L, md5Hex("no pii here at all"))))
  }

  test("semantic dedup: within-cell duplicates marked, survivors kept, cross-cell ignored") {
    import org.apache.spark.sql.types._
    val vecSchema = StructType(Seq(
      StructField("id", LongType), StructField("vec", ArrayType(FloatType))))
    def v(xs: Float*) = xs.toArray
    // cell 0 ≈ (1,0), cell 1 ≈ (0,1). ids 1,2 near-identical in cell 0;
    // id 3 also cell 0 but orthogonal-ish; id 4 alone in cell 1 and
    // SIMILAR in cosine to 1/2 — must stay kept (cross-cell is ignored).
    val rows = Seq(
      (1L, v(1f, 0.05f)), (2L, v(0.99f, 0.06f)), (3L, v(0.7f, -0.7f)),
      (4L, v(0.8f, 0.75f)))
    val vectors = spark.createDataFrame(
      rows.map(r => org.apache.spark.sql.Row(r._1, r._2)).asJava, vecSchema)
    val centSchema = StructType(Seq(
      StructField("cell", IntegerType), StructField("centroid", ArrayType(FloatType))))
    val cents = spark.createDataFrame(Seq(
      org.apache.spark.sql.Row(0, v(1f, -0.2f)),
      org.apache.spark.sql.Row(1, v(0.6f, 1f))).asJava, centSchema)
    val out = Similarity.semanticDuplicates(vectors, cents, threshold = 0.95)
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), Option(r.get(2)).map(_.asInstanceOf[Long]), r.getBoolean(3)))).toMap
    assert(out(1L) === ((0, None, true))) // min id survives
    assert(out(2L) === ((0, Some(1L), false))) // dup of 1 within cell 0
    assert(out(3L)._3, "dissimilar same-cell vector must be kept")
    assert(out(4L) === ((1, None, true))) // alone in its cell
  }

  test("native char-ngram kernel matches the declarative formulation") {
    import spark.implicits._
    // multi-byte chars make byte offsets ≠ char offsets: the kernel must
    // slice on CHAR boundaries exactly like substring()
    val texts = Seq(
      "hello world, a plain ascii document",
      "héllo wörld — naïve café résumé", // 2-byte chars
      "日本語のテキストです、五文字グラム", // 3-byte chars
      "mix 日本 and ascii ✓ plus emoji 🎉🎊 ok", // incl. 4-byte surrogates
      "tiny", // shorter than n → whole text
      "exact", // exactly n
      "", // empty
      "aaaaaaaaaa") // heavy dedup
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val declarative = df.select(col("doc_id"), array_distinct(
      transform(sequence(lit(0), greatest(length(col("text")) - 5, lit(0))),
        i => substring(col("text"), lit(1) + i, lit(5)))).as("fset"))
    val native = df.select(col("doc_id"), Dedup.charNgrams(col("text"), 5).as("fset"))
    val d = declarative.orderBy("doc_id").as[(Long, Seq[String])].collect()
    val n = native.orderBy("doc_id").as[(Long, Seq[String])].collect()
    d.zip(n).foreach { case ((id, ds), (_, ns)) =>
      assert(ds === ns, s"doc $id: declarative=$ds native=$ns")
    }
  }

  test("hll distinct: accuracy envelope and duplication invariance") {
    import spark.implicits._
    val n = 2000
    val distinct = (0 until n).map(i => ("g", s"user_$i")).toDF("g", "v")
    // every value appears 3×: a sketch over a multiset must equal the
    // sketch over its distinct support
    val dup = distinct.union(distinct).union(distinct)
    val est = Sketches.hllDistinct(distinct, Seq("g"), "v", p = 8)
      .collect().head.getDouble(1)
    val estDup = Sketches.hllDistinct(dup, Seq("g"), "v", p = 8)
      .collect().head.getDouble(1)
    assert(est === estDup, "HLL must be duplication-invariant")
    // m=256 ⇒ relative std error ≈ 1.04/√256 = 6.5%; 4σ envelope
    assert(math.abs(est - n) / n < 0.26, s"estimate $est too far from $n")
  }

  test("hll registers: rho exact at power-of-two boundaries, max combinable") {
    import spark.implicits._
    // register/rho arithmetic is string-exact (bin()), not float log2:
    // every row must satisfy 1 ≤ rho ≤ 53 at p=8 and the register id
    // must be the hash's top 8 bits
    val regs = Sketches.hllRegisters(
      (0 until 500).map(i => ("g", i.toString)).toDF("g", "v"), Seq("g"), "v", p = 8)
      .collect()
    assert(regs.nonEmpty)
    regs.foreach { r =>
      val (reg, mx) = (r.getLong(1), r.getInt(2))
      assert(reg >= 0 && reg < 256, s"register $reg out of range")
      assert(mx >= 1 && mx <= 53, s"rho $mx out of range")
    }
  }

  test("kmv distinct: exact below k, estimate envelope above k, dup-invariant") {
    import spark.implicits._
    val small = (0 until 40).map(i => ("s", s"v$i")).toDF("g", "v")
    val big = (0 until 5000).map(i => ("b", s"v$i")).toDF("g", "v")
    val smallEst = Sketches.kmvDistinct(small, Seq("g"), "v", k = 64)
      .collect().head.getDouble(1)
    assert(smallEst === 40.0, "below k the sketch IS the exact distinct count")
    val bigEst = Sketches.kmvDistinct(big, Seq("g"), "v", k = 64)
      .collect().head.getDouble(1)
    // KMV relative std error ≈ 1/√(k−2) ≈ 12.7%; 4σ envelope
    assert(math.abs(bigEst - 5000) / 5000 < 0.51, s"estimate $bigEst too far from 5000")
    val dupEst = Sketches.kmvDistinct(big.union(big), Seq("g"), "v", k = 64)
      .collect().head.getDouble(1)
    assert(bigEst === dupEst, "KMV must be duplication-invariant")
  }

  test("misra-gries heavy hitters: exact regime, MG guarantees, SQL function") {
    import spark.implicits._
    // EXACT regime: capacity >= distinct count — counters are true counts
    val skew = (0 until 1000).flatMap { i =>
      val item = s"k${i % 10}"
      Seq.fill(10 - (i % 10))(item) // k0 heaviest ... k9 lightest
    }.toDF("v")
    val exact = Sketches.heavyHitters(skew, "v", capacity = 16, topK = 5)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val truth = skew.groupBy("v").count()
      .orderBy(col("count").desc, col("v")).limit(5)
      .collect().map(_.getLong(1))
    assert(exact.map(_._2).toSeq === truth.toSeq, "exact-regime counts differ")
    assert(exact.map(_._3).toSeq === Seq(1L, 2L, 3L, 4L, 5L))
    // APPROXIMATE regime: capacity below the distinct count. MG
    // guarantees: every item with freq > N/(cap+1) is reported (given
    // topK = capacity), and reported counters never overcount / undercount
    // by more than N/(cap+1).
    val n = 20000
    val cap = 20
    val zipf = (0 until n).map { i =>
      // skewed: item j covers ~ n/2^(j+1) rows, plus a long uniform tail
      val r = i % 1024
      val item = if (r < 512) "h0" else if (r < 768) "h1" else if (r < 896) "h2"
        else s"t${i % 97}"
      item
    }.toDF("v").repartition(8)
    val trueCounts = zipf.groupBy("v").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val bound = n.toDouble / (cap + 1)
    val summary = Sketches.heavyHitters(zipf, "v", capacity = cap, topK = cap)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val reported = summary.map(_._1).toSet
    trueCounts.foreach { case (item, c) =>
      if (c > bound) assert(reported.contains(item),
        s"heavy item $item (freq $c > $bound) missing from the summary")
    }
    summary.foreach { case (item, c) =>
      val t = trueCounts(item)
      assert(c <= t, s"$item overcounted: $c > $t")
      assert(t - c <= bound + 1e-9, s"$item undercounted past the bound: $t - $c")
    }
    // SQL registration
    skew.createOrReplaceTempView("mg_input")
    val viaSql = spark.sql(
      "SELECT graft_heavy_hitters(v, 16, 3) AS hh FROM mg_input")
      .selectExpr("inline(hh)")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(viaSql.map(_._2).toSeq === truth.take(3).toSeq)
  }

  test("kll quantile sketch: exact regime, approximate rank error, SQL function") {
    import spark.implicits._
    // EXACT regime: capacity >= group count — the sketch never compacts
    // and reports percentile_disc exactly (smallest value whose
    // cumulative count reaches ceil(p*n)).
    val probs = Seq(0.25, 0.5, 0.75, 0.95)
    val small = (1 to 400).map(i => ("g", i.toDouble)).toDF("g", "v")
      .repartition(8)
    val exact = Sketches.groupQuantiles(small, Seq("g"), "v", 512, probs)
      .collect().head.getSeq[Double](1)
    assert(exact === Seq(100.0, 200.0, 300.0, 380.0),
      s"exact-regime quantiles differ: $exact")
    // APPROXIMATE regime: capacity far below N. KLL rank error should
    // stay a small multiple of N/capacity; check estimated quantiles'
    // true rank is within 6*N/capacity of the target rank.
    val n = 50000
    val cap = 128
    val bigVals = (0 until n).map { i =>
      // non-uniform (quadratic) so equal-rank != equal-value
      val x = (i * 2654435761L % n).toDouble / n
      x * x * 1000.0
    }
    val big = bigVals.map(("g", _)).toDF("g", "v").repartition(16)
    val approx = Sketches.groupQuantiles(big, Seq("g"), "v", cap, probs)
      .collect().head.getSeq[Double](1)
    val sortedVals = bigVals.sorted
    val tol = 6.0 * n / cap
    probs.zip(approx).foreach { case (p, est) =>
      val rank = sortedVals.count(_ <= est)
      val target = math.ceil(p * n)
      assert(math.abs(rank - target) <= tol,
        s"p=$p: estimate $est has rank $rank, target $target (tol $tol)")
    }
    // Duplication doubles every weight but must not move the quantiles
    // beyond the same rank tolerance.
    val dup = Sketches.groupQuantiles(big.union(big), Seq("g"), "v", cap, probs)
      .collect().head.getSeq[Double](1)
    probs.zip(dup).foreach { case (p, est) =>
      val rank = sortedVals.count(_ <= est)
      assert(math.abs(rank - math.ceil(p * n)) <= tol,
        s"dup p=$p: rank $rank drifted past tolerance")
    }
    // exact regime is partition-invariant: merges of uncompacted buffers
    // stay uncompacted while the group fits in capacity
    val byParts = Seq(1, 4, 16).map(p =>
      Sketches.groupQuantiles(small.repartition(p), Seq("g"), "v", 512, probs)
        .collect().head.getSeq[Double](1).toSeq)
    assert(byParts.distinct.size === 1,
      s"exact-regime results must not depend on partitioning: $byParts")
    // SQL registration
    small.createOrReplaceTempView("kll_input")
    val viaSql = spark.sql(
      """SELECT graft_kll_quantiles(v, 512,
        |  array(CAST(0.5 AS DOUBLE), CAST(0.95 AS DOUBLE))) AS qs
        |FROM kll_input""".stripMargin)
      .collect().head.getSeq[Double](0)
    assert(viaSql === Seq(200.0, 380.0))
  }

  test("temperature mix: quota sums to ~budget, flattening upsamples " +
    "low-resource sources, alpha=1 is proportional") {
    import spark.implicits._
    // 3 sources with sizes 1000 / 100 / 10
    val df = ((0 until 1000).map(i => (i.toLong, "big")) ++
      (1000 until 1100).map(i => (i.toLong, "mid")) ++
      (1100 until 1110).map(i => (i.toLong, "small"))).toDF("id", "src")
    val kept = Sampling.temperatureMix(df, col("id"), col("src"),
      alpha = 0.5, budget = 200L)
      .groupBy("src").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // quotas: n^0.5 = 31.62/10/3.16, Z = 44.78 → 141/45/14 — but a quota
    // above the source's size caps at the source (sampling is without
    // replacement), so 'small' contributes all 10 of its docs
    assert(kept === Map("big" -> 141L, "mid" -> 45L, "small" -> 10L), kept)
    // keep-RATE increases as source size decreases (alpha < 1)
    val rate = Map("big" -> kept("big") / 1000.0, "mid" -> kept("mid") / 100.0,
      "small" -> kept("small") / 10.0)
    assert(rate("small") > rate("mid") && rate("mid") > rate("big"), rate.toString)
    // alpha = 1: proportional to natural shares
    val prop = Sampling.temperatureMix(df, col("id"), col("src"),
      alpha = 1.0, budget = 111L)
      .groupBy("src").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(prop("big") === 100L && prop("mid") === 10L && prop("small") === 1L, prop)
    // deterministic: same call, same rows
    val a = Sampling.temperatureMix(df, col("id"), col("src"), 0.5, 200L)
      .select("id").collect().map(_.getLong(0)).toSet
    val b = Sampling.temperatureMix(df, col("id"), col("src"), 0.5, 200L)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(a === b)
  }

  test("band join: boundary inclusivity and bucket-crossing pairs") {
    import spark.implicits._
    // width = hi − lo = 100; right rows sit at bucket boundaries and at
    // the exact lo/hi offsets — the exact-integer bucketing must keep
    // every qualifying pair, including ones whose buckets differ
    val left = Seq((1L, 1000L, "L1"), (2L, 950L, "L2")).toDF("k", "t", "lv")
    val right = Seq(
      (1L, 1000L, "eq"), // == t+lo → excluded (strict lower bound)
      (1L, 1001L, "in1"), // just inside
      (1L, 1100L, "hi"), // == t+hi → included (inclusive upper bound)
      (1L, 1101L, "out"), // just above hi → excluded
      (2L, 1049L, "xb"), // crosses the 10xx/11xx bucket edge from 950
      (2L, 951L, "in2"))
      .toDF("k", "rt", "rv")
    val out = BandJoin.bandJoin(left, right, Seq("k"), "t", "rt", lo = 0L, hi = 100L)
      .select("lv", "rv").as[(String, String)].collect().toSet
    assert(out === Set(("L1", "in1"), ("L1", "hi"), ("L2", "xb"), ("L2", "in2")))
  }

  test("salted join equals plain join, including hot keys and misses") {
    import spark.implicits._
    // key 7 is hot (80% of probe rows); key 99 has no build match
    val probe = ((1 to 80).map(i => (7L, i.toDouble)) ++
      Seq((1L, 1.0), (2L, 2.0), (99L, 3.0))).toDF("k", "v")
    val build = Seq((7L, "hot"), (1L, "a"), (2L, "b"), (3L, "unused")).toDF("k", "tag")
    val salted = SkewJoin.saltedJoin(probe, build, Seq("k"), col("v"), buckets = 4)
      .select("k", "v", "tag").as[(Long, Double, String)].collect().sorted
    val plain = probe.join(build, "k")
      .select("k", "v", "tag").as[(Long, Double, String)].collect().sorted
    assert(salted === plain)
    assert(salted.length === 82) // 80 hot + 2 singles; key 99 dropped
  }

  test("bm25: multi-term docs outrank single-term, rare terms outweigh common") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta"), // both query terms
      (2L, "alpha alpha alpha common common"), // common term only, high tf
      (3L, "beta common filler words here"), // rare term only
      (4L, "common filler words only here"), // neither... 'common' not queried
      (5L, "alpha common filler words here")) // common term once
      .toDF("doc_id", "text")
    // 'alpha' appears in 3 docs, 'beta' in 2 → beta is rarer
    val out = Bm25.bm25TopK(docs, "doc_id", "text", Seq("alpha", "beta"), k = 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(out.head._1 === 1L, s"doc with both terms must rank first, got ${out.toSeq}")
    val byDoc = out.toMap
    assert(byDoc(3L) > byDoc(5L), "rare term (beta) must outweigh one common hit")
    assert(!byDoc.contains(4L), "doc matching no query term must not appear")
  }

  test("hybrid retrieval: RRF fuses the BM25 and cosine lists; a doc on " +
    "one list only gets that list's reciprocal rank") {
    import spark.implicits._
    val docs = Seq(
      (1L, "spark join hash spark"),
      (2L, "hash table"),
      (3L, "unrelated words entirely"),
      (4L, "spark spark spark")).toDF("doc_id", "text")
    val vecs = Seq(
      (1L, Array(1f, 0f)), (2L, Array(0f, 1f)),
      (3L, Array(0.9f, 0.1f)), (4L, Array(-1f, 0f))).toDF("vec_id", "embedding")
    val out = Similarity.hybridTopK(docs, "doc_id", "text",
      vecs, "vec_id", "embedding",
      queryTerms = Seq("spark", "hash"), queryVec = Array(1f, 0f),
      k = 4, poolSize = 4)
      .collect().map(r => r.getLong(0) -> r.getDouble(1))
    val m = out.toMap
    // doc 3 matches NO query term: only the cosine list ranks it (rank 2
    // behind doc 1), so its fused score is exactly 1/(60+2)
    assert(m(3L) === BigDecimal(1.0 / 62).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    // doc 1 leads both lists → strictly the top fused score
    assert(out.head._1 === 1L)
    assert(m(1L) > m(3L) && m.size === 4)
  }

  test("round-10 op plan shapes: no cartesian/BNLJ legs; the cosine leg " +
    "broadcasts; ANN top-k pre-cuts per partition") {
    import spark.implicits._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    def planOf(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.executedPlan.toString
    val lm = planOf(TextOps.bigramLmScore(docs, "doc_id", "text"))
    assert(!lm.contains("CartesianProduct") &&
      !lm.contains("BroadcastNestedLoopJoin"), lm)
    val nov = planOf(TextOps.ngramNovelty(docs, "doc_id", "text"))
    assert(!nov.contains("CartesianProduct") &&
      !nov.contains("BroadcastNestedLoopJoin"), nov)
    val qv = emb.filter(col("vec_id") === 0)
      .select("embedding").head.getSeq[Float](0).toArray
    val hy = planOf(Similarity.hybridTopK(docs, "doc_id", "text",
      emb, "vec_id", "embedding", Seq("hash"), qv, k = 5, poolSize = 10))
    // the corpus×queries scoring leg must be a broadcast of the 1-row
    // query set, never a shuffled cartesian of the corpus
    assert(hy.contains("BroadcastExchange") && !hy.contains("CartesianProduct"), hy)
    // two-phase top-k: the first window ranks within (input partition,
    // query) so the global per-query window only sees the pre-cut rows
    val bf = planOf(Similarity.bruteForceTopK(
      emb.limit(3).select(col("vec_id").as("q_id"), col("embedding").as("q_vec")),
      emb.select(col("vec_id").as("c_id"), col("embedding").as("c_vec")), k = 5))
    assert(bf.contains("SPARK_PARTITION_ID") || bf.contains("spark_partition_id"), bf)
  }

  test("remove_intervals: native pass is bit-identical to the fold, " +
    "overlaps merge, boundary spans truncate") {
    import spark.implicits._
    val L = 5
    val cases: Seq[(String, Seq[Int])] = Seq(
      ("abcdefghijklmnopqrst", Seq(0)),            // removal at start
      ("abcdefghijklmnopqrst", Seq(15)),           // removal reaching the end
      ("abcdefghijklmnopqrst", Seq(18)),           // span past the end
      ("abcdefghijklmnopqrst", Seq(2, 4, 6)),      // overlapping chain
      ("abcdefghijklmnopqrst", Seq(0, 5, 10, 15)), // back-to-back full cover
      ("abcdefghijklmnopqrst", Seq(3, 12)),        // disjoint
      ("abc", Seq(0)),                             // shorter than a span
      ("abcdefghijklmnopqrst", Seq()))             // empty starts
    val df = cases.toDF("text", "__starts")
      .withColumn("__starts", col("__starts").cast("array<int>"))
    val native = df.select(org.apache.spark.sql.GraftSqlBridge.column(
        graft.functions.RemoveIntervals(
          org.apache.spark.sql.GraftSqlBridge.expression(col("text")),
          org.apache.spark.sql.GraftSqlBridge.expression(col("__starts")), L))
        .as("c")).collect().map(_.getString(0))
    val fold = df.selectExpr(Dedup.intervalMergeFoldSql(L) + " AS c")
      .collect().map(_.getString(0))
    cases.zip(native.zip(fold)).foreach { case ((t, st), (n, f)) =>
      assert(n === f, s"text '$t' starts $st")
    }
    assert(native(5) === "abcijklrst",
      "disjoint removals keep the gaps") // [3,8) and [12,17) removed
  }

  test("md5_grams: native pass is bit-identical to the relational spelling") {
    import spark.implicits._
    val texts = Seq("", "abc", "abcde", "abcdef",
      "the quick brown fox jumps over the lazy dog")
    for (l <- Seq(1, 5)) {
      val df = texts.toDF("text")
      val native = df.select(org.apache.spark.sql.GraftSqlBridge.column(
          graft.functions.Md5Grams(
            org.apache.spark.sql.GraftSqlBridge.expression(col("text")), l)).as("g"))
        .collect().map(_.getSeq[String](0))
      val rel = df.selectExpr(Dedup.md5GramsSql(l) + " AS g")
        .collect().map(_.getSeq[String](0))
      native.zip(rel).zip(texts).foreach { case ((n, r), t) =>
        assert(n === r, s"L=$l text '$t'")
      }
    }
  }

  test("winnowing: native expression is bit-identical to the HOF spelling") {
    import spark.implicits._
    val texts = Seq(
      "", "a", "abcd", "abcde", "abcdef",
      "the quick brown fox jumps over the lazy dog",
      "aaaaaaaaaaaaaaaaaaaa",
      "abcabcabcabcabcabc",
      (0 until 400).map(i => ('a' + (i * 7 % 26)).toChar).mkString)
    for ((k, w) <- Seq((5, 4), (3, 2), (1, 1), (7, 5))) {
      val native = texts.toDF("text")
        .select(TextOps.winnowing(col("text"), k, w).as("f"))
        .collect().map(_.getSeq[org.apache.spark.sql.Row](0)
          .map(r => (r.getInt(0), r.getLong(1))))
      val hof = texts.toDF("text")
        .select(TextOps.winnowingHof(col("text"), k, w).as("f"))
        .collect().map(_.getSeq[org.apache.spark.sql.Row](0)
          .map(r => (r.getInt(0), r.getLong(1))))
      native.zip(hof).zip(texts).foreach { case ((n, h), t) =>
        assert(n === h, s"k=$k w=$w text='${t.take(30)}'")
      }
    }
  }

  test("winnowing: shared substrings >= k+w-1 share a fingerprint; " +
    "density and determinism hold") {
    import spark.implicits._
    val shared = "zqxwvutsrqponm" // 14 chars >= k+w-1 = 8
    val docs = Seq(
      (1L, "prefix one " + shared + " tail a"),
      (2L, "another beginning " + shared + " different end"),
      (3L, "totally unrelated content here")).toDF("doc_id", "text")
    val fps = docs.select(col("doc_id"),
      TextOps.winnowing(col("text"), k = 5, w = 4).as("fps"))
      .select(col("doc_id"), explode(col("fps")).as("f"))
      .select(col("doc_id"), col("f.fp").as("fp"))
      .as[(Long, Long)].collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet)
    // the winnowing guarantee: docs 1 and 2 share >= 1 fingerprint from
    // the common substring; doc 3 shares none with either
    assert((fps(1L) & fps(2L)).nonEmpty)
    assert((fps(1L) & fps(3L)).isEmpty && (fps(2L) & fps(3L)).isEmpty)
    // deterministic across evaluations
    val again = docs.select(TextOps.winnowing(col("text"), 5, 4).as("f"))
      .select(aggregate(col("f"), lit(0L), (a, x) => a + x.getField("fp")))
      .as[Long].collect().sorted
    val first = docs.select(TextOps.winnowing(col("text"), 5, 4).as("f"))
      .select(aggregate(col("f"), lit(0L), (a, x) => a + x.getField("fp")))
      .as[Long].collect().sorted
    assert(again.toSeq === first.toSeq)
  }

  test("keep-best dedup retains the highest-quality cluster member and " +
    "every singleton") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val docs = Seq(
      (1L, base),
      (2L, base + " extended with more text"), // same cluster, longer
      (3L, base + " extended"),                // same cluster, middle
      (4L, "completely different content with no shared shingles at all"))
      .toDF("doc_id", "text")
    val kept = Dedup.dedupKeepBest(docs, "doc_id", "text",
      quality = octet_length(col("text")).cast("long"), threshold = 0.5)
      .select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq === Seq(2L, 4L), kept.toSeq)
    // quality ties break to the SMALLER id
    val tied = Seq((7L, base), (5L, base), (9L, base)).toDF("doc_id", "text")
    val keptTied = Dedup.dedupKeepBest(tied, "doc_id", "text",
      quality = lit(1L), threshold = 0.5).select("doc_id").as[Long].collect()
    assert(keptTied.toSeq === Seq(5L))
  }

  test("bigram LM score: repeated text outranks atypical transitions; " +
    "identical docs score identically") {
    import spark.implicits._
    val docs = Seq((1L, "a b a b"), (2L, "a b a b"), (3L, "x y"))
      .toDF("doc_id", "text")
    val out = TextOps.bigramLmScore(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(out(1L) === out(2L))
    assert(out(1L)._1 === 4L && out(3L)._1 === 2L)
    assert(out(1L)._2 > out(3L)._2,
      "corpus-typical transitions must outscore one-off ones")
  }

  test("ngram novelty: shared text scores 0, unique text scores 1") {
    import spark.implicits._
    val docs = Seq((1L, "abcdefgh"), (2L, "abcdefgh"), (3L, "zQwXyUvT"))
      .toDF("doc_id", "text")
    val out = TextOps.ngramNovelty(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(out(1L) === 0.0 && out(2L) === 0.0 && out(3L) === 1.0)
  }

  test("bpe merge induction: canonical corpus learns (e,s),(es,t),(l,o); " +
    "greedy non-overlapping pass") {
    import spark.implicits._
    // Sennrich's example distribution: low x5, lower x2, newest x6, widest x3
    val corpus = (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")).mkString(" ")
    val merges = TextOps.bpeMerges(Seq(corpus).toDF("text"), "text", numMerges = 3)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    // (e,s) and (s,t) tie at 9 — lexicographic smallest wins; the merged
    // 'es' then pairs with 't'; (l,o)/(o,w) tie at 7 → (l,o)
    assert(merges.toSeq === Seq(
      (1L, "e", "s", 9L), (2L, "es", "t", 9L), (3L, "l", "o", 7L)), merges.toSeq)
    // greedy left-to-right: "aaa" merges once per pass, no overlap
    val aaa = TextOps.bpeMerges(Seq("aaa").toDF("text"), "text", numMerges = 2)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(aaa.toSeq === Seq((1L, "a", "a", 2L), (2L, "aa", "a", 1L)), aaa.toSeq)
  }

  test("bpe encode: delimited replace equals the merge fold, chains merges, " +
    "flattens words in order") {
    import spark.implicits._
    // reference implementation: per-merge non-overlapping left-to-right
    // pass over the symbol list (Sennrich semantics, as bpeMerges applies)
    def refEncode(word: String, merges: Seq[(String, String)]): Seq[String] = {
      var syms: Seq[String] = word.map(_.toString)
      for ((l, r) <- merges) {
        val out = Seq.newBuilder[String]
        var i = 0
        while (i < syms.length) {
          if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
            out += (l + r); i += 2
          } else { out += syms(i); i += 1 }
        }
        syms = out.result()
      }
      syms
    }
    val merges = Seq("t" -> "h", "th" -> "e", "a" -> "a", "i" -> "n")
    val words = Seq("the", "theater", "aaa", "aaaa", "aaaaa", "thin",
      "ththe", "a", "in", "xthax")
    val got = words.toDF("text")
      .select(TextOps.bpeEncodeTokens(col("text"), merges).as("toks"))
      .collect().map(_.getSeq[String](0))
    words.zip(got).foreach { case (w, g) =>
      val e = refEncode(w, merges)
      assert(g.toSeq === e, s"word '$w': got $g want $e")
      assert(g.mkString("") === w, s"word '$w': tokens must concatenate back")
    }
    // multi-word document: per-word encodes flattened in order; merges
    // never cross a word boundary; uppercase folds; whitespace collapses
    val doc = Seq("The THEATER  aaa\tthin").toDF("text")
      .select(TextOps.bpeEncodeTokens(col("text"), merges).as("toks"))
      .collect().head.getSeq[String](0)
    assert(doc.toSeq ===
      Seq("the", "theater", "aaa", "thin").flatMap(refEncode(_, merges)))
    // round-trip with a FITTED table: encoding the training corpus with
    // bpeMerges' own table reproduces the fold exactly
    val corpus = (Seq.fill(5)("low") ++ Seq.fill(6)("newest")).mkString(" ")
    val fitted = TextOps.bpeMerges(Seq(corpus).toDF("text"), "text", numMerges = 3)
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq
    val enc = Seq("newest lowest").toDF("text")
      .select(TextOps.bpeEncodeTokens(col("text"), fitted).as("toks"))
      .collect().head.getSeq[String](0)
    assert(enc.toSeq ===
      Seq("newest", "lowest").flatMap(refEncode(_, fitted)))
  }

  test("plan shapes: PQ/IVF-PQ scans broadcast the query side, the " +
    "classifier broadcasts vocab/centroids, no cartesian on corpus-sized pairs") {
    import spark.implicits._
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val corpus = emb.select(col("vec_id").as("c_id"), col("embedding").as("c_vec"))
    val pq = Similarity.pqTopK(queries, corpus, dim = 64, k = 3, m = 4, ks = 8)
    val pqPlan = pq.queryExecution.executedPlan.toString
    assert(pqPlan.contains("BroadcastNestedLoopJoin") ||
      pqPlan.contains("BroadcastExchange"),
      "the PQ code scan must broadcast the LUT-carrying query side")
    val centroids = emb.filter(col("vec_id") < 4)
      .select(col("vec_id").cast("int").as("cell"), col("embedding").as("centroid"))
    val ivfpq = Similarity.ivfPqTopK(queries, corpus, centroids, dim = 64,
      k = 3, m = 4, ks = 8, nprobe = 2)
    val ivfPlan = ivfpq.queryExecution.executedPlan.toString
    assert(ivfPlan.contains("BroadcastExchange"),
      "IVF-PQ must broadcast centroids and probed query cells")
    assert(!ivfPlan.contains("CartesianProduct"),
      "no unhinted cartesian in the IVF-PQ cascade")
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val cls = Classify.tfidfNearestCentroid(docs, "doc_id", "text", "source",
      vocabSize = 20, seedPerClass = 5)
    val clsPlan = cls.queryExecution.executedPlan.toString
    assert(clsPlan.contains("BroadcastExchange"),
      "the classifier must broadcast vocabulary and centroid tables")
    assert(!clsPlan.contains("CartesianProduct"),
      "no cartesian in the classifier cascade")
  }

  test("triangle counts: K4 yields 3 per vertex, squares and pendants none, " +
    "hub wedges stay at low-degree centers") {
    import spark.implicits._
    // K4 on 1..4 (4 triangles, 3 per vertex) + square 5-6-7-8 (none) +
    // pendant 4-9
    val edges = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (5L, 6L), (6L, 7L), (7L, 8L), (5L, 8L),
      (4L, 9L)).toDF("a", "b")
    val got = Analytics.triangleCounts(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L), got.toString)
    // star + one rim edge: hub 0 has degree 10 but exactly one triangle
    val star = ((1L to 10L).map(i => (0L, i)) :+ ((1L, 2L))).toDF("a", "b")
    val s2 = Analytics.triangleCounts(star)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(s2 === Map(0L -> 1L, 1L -> 1L, 2L -> 1L), s2.toString)
  }

  test("gopher rules: thresholds fire per rule, empty text fails closed") {
    import spark.implicits._
    val good = (("the be to of and that have with " +
      Seq.fill(6)("alpha beta gamma delta epsil zeta eta").mkString(" ")))
    val docs = Seq(
      (1L, good),                          // passes everything
      (2L, "short text"),                  // word_count fails (< 50)
      (3L, good + " ####################"),// hash ratio pushed over 0.1
      (4L, ""),                            // empty: fails closed
      (5L, good.split(" ").map("- " + _).mkString("\n")) // all bullet lines
    ).toDF("doc_id", "text")
    val f = TextOps.gopherFilter(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getBoolean(r.fieldIndex("pass_word_count")),
          r.getBoolean(r.fieldIndex("pass_hash_ratio")),
          r.getBoolean(r.fieldIndex("pass_bullet_lines")),
          r.getBoolean(r.fieldIndex("kept")))).toMap
    assert(f(1L) === ((true, true, true, true)), f(1L).toString)
    assert(f(2L)._1 === false && f(2L)._4 === false)
    assert(f(3L)._2 === false, "20 hashes over 50 words must trip the ratio")
    assert(f(4L)._4 === false, "empty text fails closed")
    assert(f(5L)._3 === false, "all-bullet doc trips the line rule")
  }

  test("decayed engagement: exact halving per window, horizon anchored " +
    "at the max timestamp") {
    import spark.implicits._
    val day = 86400000000L
    val t0 = 1700000000000000L
    val ev = Seq(
      (1L, t0 + 21 * day, 8.0),   // horizon: weight 1
      (1L, t0 + 14 * day, 8.0),   // one 7-day window back: weight 1/2
      (1L, t0, 8.0),              // three windows back: weight 1/8
      (2L, t0 + 21 * day - 1, 4.0) // just inside window 0
    ).toDF("user_id", "us", "value")
      .withColumn("ts", timestamp_micros(col("us")))
    val got = Analytics.decayedEngagement(ev, "user_id", "ts", "value", 7)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got(1L) === ((3L, 8.0 + 4.0 + 1.0)), got.toString)
    assert(got(2L) === ((1L, 4.0)), got.toString)
  }

  test("degree assortativity: stars are disassortative, cliques degree-uniform") {
    import spark.implicits._
    val star = (1L to 5L).map(i => (0L, i)).toDF("a", "b")
    val rStar = Analytics.degreeAssortativity(star).collect().head.getDouble(1)
    assert(rStar < -0.99, s"star graph must be strongly disassortative: $rStar")
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
      .toDF("a", "b")
    val rK4 = Analytics.degreeAssortativity(k4).collect().head
    assert(rK4.getLong(0) === 6L)
    assert(rK4.isNullAt(1),
      "degree-uniform graph reports an undefined (null) correlation")
  }

  test("clustering coefficients: cliques at 1.0, cycles at 0.0, " +
    "pendants excluded") {
    import spark.implicits._
    val edges = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L), // K4
      (5L, 6L), (6L, 7L), (7L, 8L), (5L, 8L),                     // C4
      (4L, 9L)).toDF("a", "b")                                    // pendant 9
    val got = Analytics.clusteringCoefficients(edges)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(3))).toMap
    assert(got(1L) === ((3L, 1.0)) && got(2L) === ((3L, 1.0)) &&
      got(3L) === ((3L, 1.0)), got.toString)
    assert(got(4L) === ((4L, 0.5)), "vertex 4: 3 triangles over C(4,2)=6 pairs")
    Seq(5L, 6L, 7L, 8L).foreach(v => assert(got(v)._2 === 0.0, s"cycle $v"))
    assert(!got.contains(9L), "degree-1 pendant has no coefficient")
  }

  test("k-core peeling: K4 survives 2-core, pendant chain peels away, " +
    "cascading removals propagate across rounds") {
    import spark.implicits._
    // K4 (1-4) + a chain 4-5-6-7 hanging off it: the chain has degree
    // <= 2, peels over successive rounds; K4 keeps degree 3
    val edges = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (5L, 6L), (6L, 7L)).toDF("a", "b")
    val core3 = Analytics.kCoreMembers(edges, k = 3, rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core3 === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L), core3.toString)
    // k=2: round 1 drops 7 (deg 1); round 2 drops 6; round 3 drops 5 —
    // the cascade needs all three rounds
    val core2 = Analytics.kCoreMembers(edges, k = 2, rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core2.keySet === Set(1L, 2L, 3L, 4L), core2.toString)
  }

  test("zipf fit: an exact power-law corpus fits slope ~ -1") {
    import spark.implicits._
    // token t_i appears floor(2000 / i) times, i = 1..50 — an exact
    // 1/rank distribution (up to integer truncation)
    val text = (1 to 50).flatMap(i => Seq.fill(2000 / i)(f"t$i%03d")).mkString(" ")
    val fit = TextOps.zipfFit(Seq(text).toDF("text"), "text", topN = 50)
      .collect().head
    assert(fit.getLong(0) === 50L)
    val slope = fit.getDouble(1)
    assert(slope > -1.05 && slope < -0.95, s"slope $slope should be ~ -1")
    val intercept = fit.getDouble(2)
    assert(math.abs(intercept - math.log(2000.0)) < 0.15,
      s"intercept $intercept should be ~ ln 2000")
  }

  test("tfidf nearest centroid: separable classes classify perfectly, " +
    "off-vocabulary docs stay unscored, ties break to the smaller label") {
    import spark.implicits._
    val docs = ((0 until 20).map(i =>
        (i.toLong, s"apple banana cherry fruit filler$i", "fruit")) ++
      (20 until 40).map(i =>
        (i.toLong, s"gear motor piston engine filler$i", "machine")) ++
      Seq((40L, "zzz qqq xxx", "fruit"))).toDF("doc_id", "text", "source")
    val rep = Classify.tfidfNearestCentroid(
      docs, "doc_id", "text", "source", vocabSize = 8, seedPerClass = 5)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(rep("fruit") === ((21L, 20L, 20L)),
      s"fruit: ${rep("fruit")} (doc 40 has no vocabulary token)")
    assert(rep("machine") === ((20L, 20L, 20L)), s"machine: ${rep("machine")}")
    // a doc equidistant from two identical centroids goes to the
    // lexicographically smaller class
    val tied = Seq(
      (0L, "alpha beta", "c1"), (1L, "alpha beta", "c2"),
      (2L, "alpha beta", "c2")).toDF("doc_id", "text", "source")
    val t2 = Classify.tfidfNearestCentroid(
      tied, "doc_id", "text", "source", vocabSize = 4, seedPerClass = 2)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(t2("c1") === ((1L, 1L, 1L)), s"c1 wins ties: $t2")
    assert(t2("c2") === ((2L, 2L, 0L)), s"c2 docs tie to c1: $t2")
  }

  test("char entropy: known distributions, matches explode-groupBy, " +
    "degenerate and empty text") {
    import spark.implicits._
    val docs = Seq("aabb", "abcd", "aaaa", "", "a",
      "the quick brown fox", "aabbaabb").toDF("text")
    val got = docs.select(TextOps.charEntropy(col("text")).as("h"))
      .collect().map(_.getDouble(0))
    assert(math.abs(got(0) - 1.0) < 1e-9, s"aabb: ${got(0)}")
    assert(math.abs(got(1) - 2.0) < 1e-9, s"abcd: ${got(1)}")
    assert(got(2) === 0.0, "aaaa is zero-entropy")
    assert(got(3) === 0.0, "empty text is zero-entropy")
    assert(got(4) === 0.0, "single char is zero-entropy")
    assert(math.abs(got(7 - 1) - 1.0) < 1e-9, s"aabbaabb: ${got(6)}")
    // cross-check the fold against the relational formulation
    val rel = docs.filter(length(col("text")) > 0)
      .select(monotonically_increasing_id().as("id"), col("text"))
      .select(col("id"), explode(split(col("text"), "")).as("c"))
      .groupBy("id", "c").agg(count(lit(1)).cast("double").as("cnt"))
      .groupBy("id").agg(
        (log2(sum(col("cnt"))) -
          sum(col("cnt") * log2(col("cnt"))) / sum(col("cnt"))).as("h"))
      .orderBy("id").collect().map(_.getDouble(1))
    val foldVals = docs.filter(length(col("text")) > 0)
      .select(TextOps.charEntropy(col("text")).as("h"))
      .collect().map(_.getDouble(0))
    rel.zip(foldVals).foreach { case (r, f) =>
      assert(math.abs(r - f) < 1e-9, s"fold $f vs relational $r")
    }
    // the native expression is bit-identical to the HOF fold spelling
    val hof = docs.select(TextOps.charEntropyHof(col("text")).as("h"))
      .collect().map(_.getDouble(0))
    val native = docs.select(TextOps.charEntropy(col("text")).as("h"))
      .collect().map(_.getDouble(0))
    hof.zip(native).foreach { case (h, n) =>
      assert(h === n, s"native $n must equal the fold $h exactly")
    }
  }

  test("pca: top component recovers the dominant direction, deterministic, " +
    "lambda approximates the top variance") {
    import spark.implicits._
    // points spread along the (1,1,0,0)/sqrt(2) diagonal with small noise
    // in the second axis pair: pc1 must align with the diagonal and order
    // the points by their diagonal coordinate
    val pts = (0 until 40).map { i =>
      val tpos = (i - 20).toDouble
      (i.toLong, Array(tpos.toFloat, tpos.toFloat,
        (i % 3 - 1).toFloat * 0.1f, (i % 5 - 2).toFloat * 0.1f))
    }
    val df = pts.toDF("id", "vec")
    val (means, pc, lambda) = Pca.fitPc1(df, "vec", dim = 4, iters = 3)
    assert(math.abs(math.abs(pc(0)) - math.abs(pc(1))) < 0.01 &&
      math.abs(pc(0)) > 0.69 && math.abs(pc(2)) < 0.05 && math.abs(pc(3)) < 0.05,
      s"pc1 should align with the diagonal: ${pc.toSeq}")
    assert(math.abs(pc.map(x => x * x).sum - 1.0) < 1e-6, "pc1 is unit length")
    // lambda ~ variance along the diagonal = 2 * var(tpos)
    val varT = pts.map(p => p._2(0).toDouble).map(x => x * x).sum / 40.0
    assert(math.abs(lambda - 2 * varT) / (2 * varT) < 0.05,
      s"lambda $lambda vs expected ~${2 * varT}")
    // projections order by the diagonal coordinate (up to global sign)
    val scores = Pca.pc1(df, "id", "vec", dim = 4, iters = 3)
      .orderBy(col("id")).collect().map(_.getDouble(1))
    val diffs = scores.sliding(2).map(p => p(1) - p(0)).toSeq
    assert(diffs.forall(_ > 0) || diffs.forall(_ < 0),
      "pc1 scores must be monotone in the diagonal coordinate")
    // bit-deterministic across runs
    val again = Pca.pc1(df, "id", "vec", dim = 4, iters = 3)
      .orderBy(col("id")).collect().map(_.getDouble(1))
    assert(scores.toSeq === again.toSeq)
  }

  test("deterministic k-means: seed recovery, tie-to-lower-cell, summary") {
    import spark.implicits._
    val pts = Seq(
      (0L, Array(0f, 0f)), (1L, Array(0.1f, 0f)),
      (2L, Array(5f, 5f)), (3L, Array(5.1f, 5f))).toDF("id", "vec")
    // seeds are points 0 and 1 (both in the left blob); after one update
    // the right blob pulls cluster 1's centroid over and the second
    // assignment separates the blobs exactly
    val assigned = KMeans.assign(pts, "id", "vec", k = 2, iterations = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(assigned(0L) === assigned(1L))
    assert(assigned(2L) === assigned(3L))
    assert(assigned(0L) !== assigned(2L))
    val sum = KMeans.summary(pts, "id", "vec", k = 2, iterations = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(sum.map(_._2).sorted.toSeq === Seq(2L, 2L))
    assert(sum.forall(_._3 < 1.0), "within-cluster mean distance stays blob-sized")
    // identical points at a centroid tie: the lower cell id wins
    val tied = Seq((0L, Array(1f, 1f)), (1L, Array(1f, 1f))).toDF("id", "vec")
    val t = KMeans.assign(tied, "id", "vec", k = 2, iterations = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(t(0L) === 0L && t(1L) === 0L)
  }

  test("k-center coreset: farthest-point order, ties to lower id, seed dist 0") {
    import spark.implicits._
    val pts = Seq(
      (0L, Array(0f, 0f)), (1L, Array(10f, 0f)), (2L, Array(0f, 10f)),
      (3L, Array(10f, 10f)), (4L, Array(5f, 5f))).toDF("id", "vec")
    val got = KMeans.kCenters(pts, "id", "vec", k = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // seed 0 at origin; farthest is 3 (d2=200); then 1 and 2 tie at 100
    // -> lower id first
    assert(got.toSeq === Seq(
      (1L, 0L, 0.0), (2L, 3L, 200.0), (3L, 1L, 100.0), (4L, 2L, 100.0)),
      got.toSeq.toString)
    val again = KMeans.kCenters(pts, "id", "vec", k = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq === again.toSeq, "deterministic")
  }

  test("asof join: inclusive boundary, per-key isolation, no-match → null") {
    import org.apache.spark.sql.types._
    val lSchema = StructType(Seq(StructField("k", LongType),
      StructField("t", LongType), StructField("lv", StringType)))
    val rSchema = StructType(Seq(StructField("k", LongType),
      StructField("rt", LongType), StructField("rv", StringType)))
    val left = spark.createDataFrame(Seq(
      org.apache.spark.sql.Row(1L, 10L, "a"), // after r@5 → x
      org.apache.spark.sql.Row(1L, 5L, "b"), // equal ts → inclusive → x
      org.apache.spark.sql.Row(1L, 3L, "c"), // before any right → null
      org.apache.spark.sql.Row(2L, 10L, "d"), // key 2: matches y, never x
      org.apache.spark.sql.Row(3L, 10L, "e")) // key with no right rows
      .asJava, lSchema)
    val right = spark.createDataFrame(Seq(
      org.apache.spark.sql.Row(1L, 5L, "x"),
      org.apache.spark.sql.Row(2L, 7L, "y"),
      org.apache.spark.sql.Row(2L, 2L, "z")) // superseded by y at t=10
      .asJava, rSchema)
    val out = AsofJoin.asofJoin(left, right, Seq("k"), "t", "rt", Seq("rv"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> Option(r.getString(3))).toMap
    assert(out((1L, 10L)) === Some("x"))
    assert(out((1L, 5L)) === Some("x")) // rightTime ≤ leftTime is inclusive
    assert(out((1L, 3L)) === None)
    assert(out((2L, 10L)) === Some("y")) // most recent, not just any
    assert(out((3L, 10L)) === None) // key never seen on the right
    // left columns pass through verbatim
    val cols = AsofJoin.asofJoin(left, right, Seq("k"), "t", "rt", Seq("rv")).columns
    assert(cols.toSeq === Seq("k", "t", "lv", "rv"))
  }

  test("directional asof: forward, nearest, ties to backward") {
    import org.apache.spark.sql.types._
    val lSchema = StructType(Seq(StructField("k", LongType),
      StructField("t", LongType), StructField("lv", StringType)))
    val rSchema = StructType(Seq(StructField("k", LongType),
      StructField("rt", LongType), StructField("rv", StringType)))
    val left = spark.createDataFrame(Seq(
      org.apache.spark.sql.Row(1L, 10L, "a"), // between 5 and 12
      org.apache.spark.sql.Row(1L, 3L, "b"), // before all rights
      org.apache.spark.sql.Row(1L, 20L, "c"), // after all rights
      org.apache.spark.sql.Row(1L, 8L, "d"), // |8-5|=3 == |12-8|... no: 3 vs 4 → back
      org.apache.spark.sql.Row(2L, 6L, "e")) // equidistant 5/7 → tie → back
      .asJava, lSchema)
    val right = spark.createDataFrame(Seq(
      org.apache.spark.sql.Row(1L, 5L, "x"),
      org.apache.spark.sql.Row(1L, 12L, "y"),
      org.apache.spark.sql.Row(2L, 5L, "p"),
      org.apache.spark.sql.Row(2L, 7L, "q"))
      .asJava, rSchema)
    def run(dir: String) = AsofJoin.asofJoinDirected(
        left, right, Seq("k"), "t", "rt", Seq("rv"), dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> Option(r.getString(3)))
      .toMap
    val fwd = run("forward")
    assert(fwd((1L, 10L)) === Some("y")) // earliest at-or-after
    assert(fwd((1L, 3L)) === Some("x"))
    assert(fwd((1L, 20L)) === None) // nothing after → null
    assert(fwd((2L, 6L)) === Some("q"))
    val near = run("nearest")
    assert(near((1L, 10L)) === Some("y")) // |10−12| < |10−5|
    assert(near((1L, 8L)) === Some("x")) // |8−5| < |12−8|
    assert(near((1L, 3L)) === Some("x")) // only forward exists
    assert(near((1L, 20L)) === Some("y")) // only backward exists
    assert(near((2L, 6L)) === Some("p")) // equidistant → backward wins
    // backward direction delegates to the classic walk
    val back = run("backward")
    assert(back((1L, 10L)) === Some("x") && back((1L, 3L)) === None)
    // audit column carries the matched right time
    val ts = AsofJoin.asofJoinDirected(
        left, right, Seq("k"), "t", "rt", Seq("rv"), "nearest")
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (if (r.isNullAt(4)) None else Some(r.getLong(4)))).toMap
    assert(ts((2L, 6L)) === Some(5L) && ts((1L, 10L)) === Some(12L) &&
      ts((1L, 8L)) === Some(5L))
  }

  test("bounded shortest paths: longer-but-cheaper beats direct, hop cap binds") {
    import spark.implicits._
    // 1→4 direct w=10; 1→2→3→4 w=1+1+1=3 (cheaper, 3 hops); node 5 at
    // 3 hops only via the expensive prefix (10+1=11), improving to 4
    // once the cheap 4-hop path fits; parallel edge 1→2 w=9 must lose
    // to w=1
    val edges = Seq(
      (1L, 4L, 10L), (1L, 2L, 1L), (1L, 2L, 9L), (2L, 3L, 1L),
      (3L, 4L, 1L), (4L, 5L, 1L))
      .toDF("src", "dst", "w")
    val seeds = Seq(1L).toDF("seed")
    val out = graft.ops.Analytics.boundedShortestPaths(edges, seeds, maxHops = 3)
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(out === Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L, 5L -> 11L))
    val four = graft.ops.Analytics.boundedShortestPaths(edges, seeds, maxHops = 4)
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(four(5L) === 4L && four(4L) === 3L)
  }

  test("temporal reachability: decreasing-time paths rejected, earliest arrival kept") {
    import spark.implicits._
    // 1→2@10, 1→2@15 (arrival must be the min, 10), 2→3@5 (static BFS
    // would reach 3; temporally ILLEGAL: 5 < arrival 10), 2→4@20 (ok),
    // 4→5@18 (illegal from arrival 20), 4→5@25 (ok at hop 3)
    val edges = Seq(
      (1L, 2L, 10L), (1L, 2L, 15L), (2L, 3L, 5L),
      (2L, 4L, 20L), (4L, 5L, 18L), (4L, 5L, 25L))
      .toDF("src", "dst", "t")
    val seeds = Seq(1L).toDF("seed")
    val out = graft.ops.Analytics.temporalReachability(edges, seeds, maxHops = 3)
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(out === Map(1L -> -1L, 2L -> 10L, 4L -> 20L, 5L -> 25L))
    // hop cap: with 2 hops node 5 is out of range
    val two = graft.ops.Analytics.temporalReachability(edges, seeds, maxHops = 2)
      .collect().map(_.getLong(1)).toSet
    assert(two === Set(1L, 2L, 4L))
  }

  test("asof: null payloads stay attributed to the matched row; null left cols survive nearest") {
    import org.apache.spark.sql.types._
    val lSchema = StructType(Seq(StructField("k", LongType),
      StructField("t", LongType), StructField("lv", StringType)))
    val rSchema = StructType(Seq(StructField("k", LongType),
      StructField("rt", LongType), StructField("rv", StringType)))
    // the matched (most recent ≤) right row carries a NULL payload:
    // the output must report THAT row's null, never an older non-null
    // value (per-column independent folds would smear rows together)
    val left = spark.createDataFrame(Seq(
      org.apache.spark.sql.Row(1L, 10L, "a"),
      org.apache.spark.sql.Row(1L, 4L, null)) // null NON-key left column
      .asJava, lSchema)
    val right = spark.createDataFrame(Seq(
      org.apache.spark.sql.Row(1L, 1L, "old"),
      org.apache.spark.sql.Row(1L, 5L, null))
      .asJava, rSchema)
    val back = AsofJoin.asofJoin(left, right, Seq("k"), "t", "rt", Seq("rv"))
      .collect().map(r => r.getLong(1) -> Option(r.getString(3))).toMap
    assert(back(10L) === None, "matched row rt=5 has a null payload")
    assert(back(4L) === Some("old"))
    // nearest keeps the left row whose non-key column is NULL (the
    // re-join is null-safe) and audits the matched time consistently
    val near = AsofJoin.asofJoinDirected(
        left, right, Seq("k"), "t", "rt", Seq("rv"), "nearest")
      .collect().map(r => r.getLong(1) ->
        ((Option(r.getString(2)), Option(r.getString(3)), r.getLong(4)))).toMap
    assert(near.keySet === Set(10L, 4L), "null left column must not drop the row")
    assert(near(4L)._3 === 5L) // |4−5| < |4−1| → the rt=5 (null-payload) row
    assert(near(4L)._2 === None)
  }

  private def eventsDF(rows: Seq[(Long, String, Long)]) = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("ts", TimestampType)))
    spark.createDataFrame(rows.map(r => org.apache.spark.sql.Row(
      r._1, r._2, java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(r._3))))
      .asJava, schema)
  }

  test("funnel counts ordered progression only") {
    val ev = eventsDF(Seq(
      (1L, "view", 10L), (1L, "click", 20L), (1L, "purchase", 30L), // full funnel
      (2L, "click", 10L), (2L, "view", 20L), (2L, "purchase", 30L), // click BEFORE view: needs a later click
      (3L, "view", 10L), (3L, "click", 20L), // stops at click
      (4L, "purchase", 5L), // purchase alone: no view → reaches nothing
      (5L, "view", 10L), (5L, "click", 10L))) // same-ts chain counts
    val out = Analytics.funnel(ev, "user_id", "event_type", "ts",
      Seq("view", "click", "purchase"))
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    // view: users 1,2,3,5 reach stage 0; click after view: 1,3,5; purchase after: 1
    assert(out === Map("view" -> 4L, "click" -> 3L, "purchase" -> 1L))
  }

  test("retention cohorts bucket by absolute week of first event") {
    val week = 7L * 24 * 3600
    val ev = eventsDF(Seq(
      (1L, "view", 1L), (1L, "view", week + 1L), (1L, "view", 3 * week + 1L),
      (2L, "view", 1L),
      (3L, "view", week + 2L), (3L, "view", week + 5L))) // same week twice → one row
    val out = Analytics.retentionCohorts(ev, "user_id", "ts")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(out === Map(
      (0L, 0L) -> 2L,  // users 1,2 in cohort week 0
      (0L, 1L) -> 1L,  // user 1 active next week
      (0L, 3L) -> 1L,  // user 1 again at offset 3
      (1L, 0L) -> 1L)) // user 3's cohort is week 1, distinct within week
  }

  test("count-min sketch estimates upper-bound true frequencies exactly without collisions") {
    val ev = eventsDF((1 to 40).map(i => (i.toLong % 4, "view", i.toLong)))
    val sketch = Sketches.cmsSketch(ev, "user_id", d = 3, w = 512)
    // sketch state is bounded: at most d*w cells, here ≤ distinct keys × d
    assert(sketch.count() <= 3 * 512)
    val probes = ev.select(col("user_id")).distinct()
    val est = Sketches.cmsEstimate(sketch, probes, "user_id", d = 3, w = 512)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // 4 keys into 512 buckets with 3 independent rows: no full collision
    assert(est === Map(0L -> 10L, 1L -> 10L, 2L -> 10L, 3L -> 10L))
  }

  test("cms estimate never underestimates under forced collisions") {
    val ev = eventsDF((1 to 100).map(i => (i.toLong, "view", i.toLong)))
    val sketch = Sketches.cmsSketch(ev, "user_id", d = 2, w = 4) // heavy collisions
    val est = Sketches.cmsEstimate(sketch,
      ev.select(col("user_id")).distinct(), "user_id", d = 2, w = 4)
      .collect().map(r => r.getLong(1))
    assert(est.forall(_ >= 1L)) // true count is 1 for every key
  }

  test("pmi pairs rank co-occurring words with exact counts") {
    val docs = docsDF(Seq(
      (1L, "alpha beta gamma"), (2L, "alpha beta"), (3L, "alpha beta"),
      (4L, "alpha gamma"), (5L, "delta")))
    val out = Analytics.pmiPairs(docs, "doc_id", "text", vocabSize = 10, topK = 5)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(out(("alpha", "beta")) === 3L)
    assert(out(("alpha", "gamma")) === 2L)
    assert(out(("beta", "gamma")) === 1L)
    // PMI sign sanity: alpha+beta co-occur more than independence predicts
    val pmi = Analytics.pmiPairs(docs, "doc_id", "text", vocabSize = 10, topK = 5)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(3)).toMap
    // P(alpha,beta)=3/5, P(alpha)=4/5, P(beta)=3/5 → PMI = ln(0.6/0.48) > 0
    assert(pmi(("alpha", "beta")) > 0.0)
  }

  test("incremental CDF maintenance equals full recompute") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("k", StringType), StructField("v", DoubleType),
      StructField("_change_type", StringType)))
    def df(rows: Seq[(String, Double, String)]) = spark.createDataFrame(
      rows.map(r => org.apache.spark.sql.Row(r._1, r._2, r._3)).asJava, schema)
    // base state: a:{1,2}, b:{10}
    val base = df(Seq(("a", 1.0, "insert"), ("a", 2.0, "insert"), ("b", 10.0, "insert")))
      .drop("_change_type")
    // changes: delete a:1; update b:10→12 (pre+post pair); insert c:5;
    // insert+delete d (group appears then vanishes — must not emit)
    val changes = df(Seq(
      ("a", 1.0, "delete"),
      ("b", 10.0, "update_preimage"), ("b", 12.0, "update_postimage"),
      ("c", 5.0, "insert"),
      ("d", 7.0, "insert"), ("d", 7.0, "delete")))
    val out = Incremental.maintainAggregate(base, changes, Seq("k"), Seq("v"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(out === Map("a" -> (1L, 2.0), "b" -> (1L, 12.0), "c" -> (1L, 5.0)))
  }

  test("incremental maintenance equals recompute on randomized change streams") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("k", StringType), StructField("v", DoubleType),
      StructField("_change_type", StringType)))
    def df(rows: Seq[(String, Double, String)]) = spark.createDataFrame(
      rows.map(r => org.apache.spark.sql.Row(r._1, r._2, r._3)).asJava, schema)
    val keys = Vector("a", "b", "c", "d")
    val rnd = new scala.util.Random(12345)
    for (_ <- 1 to 3) {
      // live-row simulator guarantees deletes/updates target existing rows
      var live = Vector.tabulate(50)(_ =>
        (keys(rnd.nextInt(keys.size)), rnd.nextInt(100).toDouble))
      val base = live
      val changes = scala.collection.mutable.ArrayBuffer.empty[(String, Double, String)]
      for (_ <- 1 to 120) rnd.nextInt(3) match {
        case 0 =>
          val r = (keys(rnd.nextInt(keys.size)), rnd.nextInt(100).toDouble)
          live :+= r; changes += ((r._1, r._2, "insert"))
        case 1 if live.nonEmpty =>
          val i = rnd.nextInt(live.size); val r = live(i)
          live = live.patch(i, Nil, 1); changes += ((r._1, r._2, "delete"))
        case 2 if live.nonEmpty =>
          val i = rnd.nextInt(live.size); val r = live(i)
          val post = (r._1, rnd.nextInt(100).toDouble)
          live = live.updated(i, post)
          changes += ((r._1, r._2, "update_preimage"))
          changes += ((post._1, post._2, "update_postimage"))
        case _ => ()
      }
      val maintained = Incremental.maintainAggregate(
        df(base.map(r => (r._1, r._2, "insert"))).drop("_change_type"),
        df(changes.toSeq), Seq("k"), Seq("v"))
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
      val recomputed = Incremental.aggregateState(
        df(live.map(r => (r._1, r._2, "insert"))).drop("_change_type"), Seq("k"), Seq("v"))
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
      assert(maintained === recomputed)
    }
  }

  test("bloom semi-join is exactly the plain semi-join") {
    import spark.implicits._
    val probe = (1L to 500L).map(i => (i, s"p$i")).toDF("k", "tag")
    val build = Seq(3L, 7L, 250L, 499L, 999L).toDF("bk") // 999 not in probe
    val got = BloomJoin.bloomSemiJoin(probe, build, "k", "bk", expectedItems = 10L)
      .select("k").as[Long].collect().sorted
    assert(got === Array(3L, 7L, 250L, 499L))
  }

  test("weighted sample: deterministic, exact k, heavy weights dominate") {
    import spark.implicits._
    val df = (1L to 100L).map(i => (i, if (i == 7L) 1e6 else 1.0)).toDF("id", "w")
    val s1 = Sampling.weightedSample(df, col("id"), col("w"), 5)
      .select("id").as[Long].collect().sorted
    val s2 = Sampling.weightedSample(df, col("id"), col("w"), 5)
      .select("id").as[Long].collect().sorted
    assert(s1.toSeq === s2.toSeq, "content-addressed draws must be stable")
    assert(s1.length === 5)
    assert(s1.contains(7L), "a million-fold weight must win a race slot")
    // k beyond the population returns everything
    assert(Sampling.weightedSample(df, col("id"), col("w"), 500).count() === 100L)
  }

  test("token chunks cover the doc with the configured stride and sizes") {
    import spark.implicits._
    val docs = Seq((1L, (1 to 10).map(i => s"t$i").mkString(" "))).toDF("doc_id", "text")
    val spans = docs
      .select(explode(TextOps.tokenChunks(TextOps.tokens(col("text")), 4, 3)).as("c"))
      .select("c.chunk_idx", "c.n_tok", "c.first_tok")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(spans.toSeq === Seq((0L, 4L, "t1"), (1L, 4L, "t4"), (2L, 4L, "t7"), (3L, 1L, "t10")))
  }

  test("pagerank: uniform on cycles, sinks outrank sources, mass conserved") {
    import spark.implicits._
    // 3-cycle: power iteration fixes the uniform distribution exactly
    val cycle = Seq(("a", "b", 1.0), ("b", "c", 1.0), ("c", "a", 1.0))
      .toDF("src", "dst", "p")
    val cr = Analytics.pageRank(cycle, 0.85, 3)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    cr.values.foreach(v => assert(math.abs(v - 1.0 / 3) < 1e-12))
    // star into b: b must outrank a (fed by b) which outranks c (teleport only)
    val star = Seq(("a", "b", 1.0), ("c", "b", 1.0), ("b", "a", 1.0))
      .toDF("src", "dst", "p")
    val sr = Analytics.pageRank(star, 0.85, 3)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(sr("b") > sr("a") && sr("a") > sr("c"))
    assert(sr.values.sum <= 1.0 + 1e-12) // row-stochastic edges: no mass created
    // plan shape: every join against the 1-row count frame broadcasts —
    // a SortMergeJoin/shuffle there would gate each iteration on a
    // needless exchange of the full rank frame
    val plan = Analytics.pageRank(star, 0.85, 3).queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"count-frame join must broadcast, got:\n$plan")
  }

  test("event transitions are row-normalized per source") {
    import spark.implicits._
    val ev = Seq(
      (1L, 1L, "x"), (2L, 1L, "y"), (3L, 1L, "x"), (4L, 1L, "z"),
      (5L, 2L, "x"), (6L, 2L, "y")).toDF("event_id", "user_id", "event_type")
      .withColumn("ts", col("event_id").cast("timestamp"))
    val edges = Analytics.eventTransitions(ev, "user_id", "event_type", "ts", "event_id")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    // from x: x→y twice (users 1 and 2), x→z once
    assert(math.abs(edges(("x", "y")) - 2.0 / 3) < 1e-12)
    assert(math.abs(edges(("x", "z")) - 1.0 / 3) < 1e-12)
    assert(math.abs(edges(("y", "x")) - 1.0) < 1e-12) // user 1: y→x
    assert(!edges.contains(("y", "z")) && !edges.contains(("z", "x")))
  }

  test("unigram surprisal is ln(V) on a uniform-vocabulary corpus") {
    import spark.implicits._
    // every token occurs exactly twice over a 4-token corpus: p = 1/2
    val docs = Seq((1L, "a b"), (2L, "a b")).toDF("doc_id", "text")
    val rows = TextOps.unigramSurprisal(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(1), r.getDouble(2)))
    assert(rows.length === 2)
    rows.foreach { case (n, s) =>
      assert(n === 2L)
      assert(math.abs(s - math.log(2.0)) < 1e-12)
    }
  }

  test("incremental dedup admits exactly the non-dup batch docs") {
    import spark.implicits._
    // corpus: two docs that are near-dups of EACH OTHER (must stay
    // untouched — corpus is never deduped against itself) plus one
    // unrelated doc; batch: a corpus dup, a batch-batch dup chain, and
    // a clean doc.
    val mk = (s: Seq[String]) => s.mkString(" ")
    val base = (0 until 20).map(i => s"w$i")
    val corpus = Seq(
      (1L, mk(base)), (2L, mk(base :+ "x")), (3L, mk((100 until 120).map(i => s"v$i")))
    ).toDF("doc_id", "text")
    val batch = Seq(
      (11L, mk(base :+ "y")),                        // dup of corpus 1/2
      (12L, mk((200 until 220).map(i => s"u$i"))),   // clean, dup of 13
      (13L, mk((200 until 220).map(i => s"u$i") :+ "z")), // dup of 12 (larger id → dropped)
      (14L, mk((300 until 320).map(i => s"t$i")))    // clean
    ).toDF("doc_id", "text")
    val admitted = Dedup.incrementalDedup(corpus, batch, "doc_id", "text", 0.7)
      .select("doc_id").as[Long].collect().sorted
    assert(admitted === Array(12L, 14L))
    // brute-force equivalence on the same inputs: a batch doc survives
    // iff no corpus partner and no smaller-id batch partner ≥ threshold
    val all = corpus.union(batch)
    val pairs = Dedup.nearDuplicatesExact(all, "doc_id", "text", 0.7,
      includeMinHashCandidates = false)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val batchIds = Set(11L, 12L, 13L, 14L)
    val expected = batchIds.filterNot(b => pairs.exists { case (x, y) =>
      (y == b && (x < 10L || x < b)) || (x == b && y < 10L)
    }).toSeq.sorted
    assert(admitted.toSeq === expected)
  }

  test("sequence packing: windows account for every token, fragments counted") {
    import spark.implicits._
    val docs = Seq(
      ("s1", 1L, 6L), ("s1", 2L, 10L), ("s1", 3L, 3L), // 19 tokens → 8|8|3
      ("s2", 4L, 4L), ("s2", 5L, 4L)                   // 8 tokens → one full window
    ).toDF("source", "doc_id", "n_tokens")
    val out = Packing.packSequences(docs, "source", "doc_id", "n_tokens", seqLen = 8L)
      .orderBy("source", "seq_id")
      .as[(String, Long, Long, Long, Long)].collect()
    // s1: w0 = doc1(6) + doc2(2 of 10) ⇒ 2 docs, 1 fragment, 8 tokens
    //     w1 = doc2(8 of 10)          ⇒ 1 doc, 1 fragment, 8 tokens
    //     w2 = doc2? no — 6+10=16 exactly 2 windows; doc3 starts at 16 ⇒ w2: doc3 only
    assert(out === Array(
      ("s1", 0L, 2L, 1L, 8L),
      ("s1", 1L, 1L, 1L, 8L),
      ("s1", 2L, 1L, 0L, 3L),
      ("s2", 0L, 2L, 0L, 8L)))
    // conservation: per-stratum token totals survive packing exactly
    val totals = Packing.packSequences(docs, "source", "doc_id", "n_tokens", 8L)
      .groupBy("source").sum("seq_tokens")
      .as[(String, Long)].collect().toMap
    assert(totals === Map("s1" -> 19L, "s2" -> 8L))
  }

  test("importance scoring ranks target-domain docs on top") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val target = docs.filter(col("lang") === "en")
    val top = Sampling.importanceScore(docs, target, "doc_id", "text", k = 30)
      .collect()
    assert(top.length === 30)
    // deterministic across runs
    val again = Sampling.importanceScore(docs, target, "doc_id", "text", k = 30)
      .collect()
    assert(top.map(_.getLong(0)).toSeq === again.map(_.getLong(0)).toSeq)
    // docs scored by en-likeness must be ENRICHED in the target language
    // vs the corpus base rate (the synthetic corpus shares much vocabulary
    // across langs, so perfect separation is not expected)
    val topIds = top.map(_.getLong(0)).toSet
    val enShare = docs.filter(col("doc_id").isin(topIds.toSeq: _*))
      .filter(col("lang") === "en").count().toDouble / topIds.size
    val baseRate = target.count().toDouble / docs.count()
    assert(enShare > baseRate,
      s"top-30 en share ${enShare} does not beat base rate ${baseRate}")
  }

  test("exact substring dedup agrees with a brute-force reference") {
    // brute-force reference: for every L-gram occurrence, mark removal
    // unless it is the gram's globally first (doc, pos) occurrence; a
    // char survives iff no covering occurrence is marked
    def reference(rows: Seq[(Long, String)], L: Int): Map[Long, String] = {
      val occ = for {
        (id, text) <- rows
        p <- 0 to text.length - L
      } yield (text.substring(p, p + L), id, p)
      val first = occ.groupBy(_._1).map { case (g, os) =>
        g -> os.map(o => (o._2, o._3)).min
      }
      val dup = occ.groupBy(_._1).collect { case (g, os) if os.size > 1 => g }.toSet
      val removed = occ.collect {
        case (g, id, p) if dup(g) && first(g) != ((id, p)) => (id, p)
      }
      rows.map { case (id, text) =>
        val dropChar = Array.fill(text.length)(false)
        removed.filter(_._1 == id).foreach { case (_, p) =>
          (p until math.min(p + L, text.length)).foreach(dropChar(_) = true)
        }
        id -> text.zipWithIndex.collect {
          case (c, i) if !dropChar(i) => c
        }.mkString
      }.toMap
    }
    val L = 12
    val shared = "ABCDEFGHIJKLMNOPQR" // 18 chars: one duplicated span
    val rows = Seq(
      (1L, s"aaa $shared bbb unique text one zzz"),
      (2L, s"ccc $shared ddd other words here yy"), // later copy → removed
      (3L, "totally unrelated document body xx"),
      (4L, "xx " + shared.take(L - 1) + " short overlap only"), // < L, kept
      (5L, "tiny")) // shorter than L
    val expect = reference(rows, L)
    val got = Dedup.exactSubstringDedup(docsDF(rows), "doc_id", "text", minLen = L)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got === expect)
    // the first occurrence (doc 1) keeps its span, the copy (doc 2) lost it
    assert(got(1L).contains(shared))
    assert(!got(2L).contains(shared))
    assert(got(3L) === rows(2)._2)
    assert(got(5L) === "tiny")
    // within-one-doc repeats: second copy removed, first kept
    val selfRep = Seq((9L, "PREFIX 0123456789AB middle 0123456789AB SUFFIX"))
    val cleaned = Dedup.exactSubstringDedup(docsDF(selfRep), "doc_id", "text", minLen = L)
      .collect().head.getString(1)
    assert(cleaned === reference(selfRep, L)(9L))
    assert(cleaned.indexOf("0123456789AB") >= 0 &&
      cleaned.indexOf("0123456789AB") === cleaned.lastIndexOf("0123456789AB"))
    // the rolling-hash scale path produces the IDENTICAL result (the
    // hash only names grams; the dedup itself is exact), including on
    // multi-byte text where byte and char positions diverge
    val uni = rows :+ (6L, "héllo wörld héllo wörld padding ééé") :+
      (7L, "τhe grεek öf it τhe grεek öf it!")
    val md5Out = Dedup.exactSubstringDedup(docsDF(uni), "doc_id", "text", minLen = L)
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    val rollOut = Dedup.exactSubstringDedup(docsDF(uni), "doc_id", "text", minLen = L,
      gramHash = "rolling")
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(rollOut === md5Out)
  }

  test("label propagation: two cliques with one bridge settle into two " +
    "communities; ties go to the smallest label") {
    import spark.implicits._
    // K4 on 1..4 and K4 on 11..14, bridged by 4-11
    val edges = (Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (11L, 12L), (11L, 13L), (11L, 14L), (12L, 13L), (12L, 14L), (13L, 14L),
      (4L, 11L))).toDF("a", "b")
    val got = Analytics.labelPropagation(edges, rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.keySet === Set(1L, 2L, 3L, 4L, 11L, 12L, 13L, 14L))
    // the left clique converges to label 1; the right clique's members
    // all see each other plus the bridge, the smallest-label tie-break
    // keeps the right side on its own minimum
    assert(got(1L) === 1L && got(2L) === 1L && got(3L) === 1L)
    assert(Set(12L, 13L, 14L).map(got).size === 1, got.toString)
    assert(got(12L) !== got(2L), "cliques must not merge across the bridge")
    // determinism: a rerun is identical
    val again = Analytics.labelPropagation(edges, rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again === got)
  }

  test("volume anomalies: a spike day z-scores against its trailing window, " +
    "warm-up days and flat series are not scored") {
    import spark.implicits._
    val ts = (day: Int, i: Int) =>
      java.sql.Timestamp.valueOf(f"2024-01-$day%02d 00:00:${i % 60}%02d")
    // type A: 10/day for days 1..7, then 30 on day 8 (a spike);
    // type B: constant 5/day (zero variance -> never scored)
    val rows =
      (for (d <- 1 to 7; i <- 0 until 10) yield ("A", ts(d, i))) ++
        (for (i <- 0 until 30) yield ("A", ts(8, i))) ++
        (for (d <- 1 to 8; i <- 0 until 5) yield ("B", ts(d, i)))
    val ev = rows.toDF("event_type", "ts")
    val got = Analytics.countAnomalies(ev, "event_type", "ts",
      trailing = 7, minTrail = 3).collect()
    assert(got.forall(_.getString(0) == "A"), "flat B must not be scored")
    // day 8's trailing window is seven constant days — zero variance, so
    // even the spike day is unscorable until some trailing day varies
    assert(!got.exists(_.getDate(1).toString == "2024-01-08"))
    // perturb one trailing day (one extra event on day 2): now the spike
    // z-scores against a tiny but nonzero sd
    val ev2 = (rows :+ (("A", ts(2, 59)))).toDF("event_type", "ts")
    val got2 = Analytics.countAnomalies(ev2, "event_type", "ts",
      trailing = 7, minTrail = 3).collect()
      .map(r => r.getDate(1).toString -> r.getDouble(4)).toMap
    assert(got2.contains("2024-01-08"))
    assert(got2("2024-01-08") > 5.0, s"spike z must be large: $got2")
  }

  test("inter-arrival regularity: a metronomic user flags, a bursty user " +
    "does not, sparse users are skipped") {
    import spark.implicits._
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val mk = (u: Long, offsMs: Seq[Long]) =>
      offsMs.zipWithIndex.map { case (o, i) =>
        (u, new java.sql.Timestamp(t0 + o), (u * 1000 + i)) }
    // user 1: exact 60 s ticks; user 2: bursts (1 s gaps, then an hour);
    // user 3: only 3 events (below minEvents=5)
    val rows = mk(1L, (0 until 10).map(_ * 60000L)) ++
      mk(2L, Seq(0L, 1000L, 2000L, 3000L, 3600000L, 3601000L, 3602000L, 7200000L)) ++
      mk(3L, Seq(0L, 60000L, 120000L))
    val ev = rows.toDF("user_id", "ts", "event_id")
    val got = Analytics.interArrivalRegularity(ev, "user_id", "ts", "event_id",
      minEvents = 5, cvThreshold = 0.5)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(3), r.getBoolean(4))).toMap
    assert(got.keySet === Set(1L, 2L), s"user 3 below minEvents: $got")
    assert(got(1L)._1 === 10L)
    assert(got(1L)._2 === 0.0 && got(1L)._3, s"metronome cv=0: ${got(1L)}")
    assert(got(2L)._2 > 1.0 && !got(2L)._3, s"bursty cv>1: ${got(2L)}")
  }

  test("negative edge samples: never a real edge or self-loop, per-node " +
    "budget respected, fully deterministic") {
    import spark.implicits._
    // path graph 1-2-3-4-5 plus chord 2-4
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (2L, 4L))
      .toDF("a", "b")
    val real = Set((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (2L, 4L))
    val got = Analytics.negativeEdgeSamples(edges, perNode = 2, draws = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    got.foreach { case (u, v, _) =>
      assert(u !== v, s"self loop $u")
      val c = (math.min(u, v), math.max(u, v))
      assert(!real.contains(c), s"real edge sampled: $c")
    }
    val perNode = got.groupBy(_._1).view.mapValues(_.length).toMap
    assert(perNode.values.forall(_ <= 2), perNode.toString)
    assert(got.groupBy(_._1).forall { case (_, rows) =>
      rows.map(_._3).sorted.toSeq == (1L to rows.length).toSeq },
      "draw indices must be 1..k per node")
    val again = Analytics.negativeEdgeSamples(edges, perNode = 2, draws = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.sorted.toSeq === again.sorted.toSeq)
  }

  test("centroid drift: identical groups at distance 0, orthogonal " +
    "clusters at sqrt(2), quantization exact on binary fractions") {
    import spark.implicits._
    val vecs = Seq(
      (Array(1.0f, 0.0f), 0), (Array(1.0f, 0.0f), 0),
      (Array(0.0f, 1.0f), 1), (Array(0.0f, 1.0f), 1),
      (Array(1.0f, 0.0f), 2)).toDF("embedding", "label")
    val got = Similarity.centroidDrift(vecs, "embedding", "label")
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(got((0, 2)) === 0.0, "identical centroids")
    assert(got((0, 1)) === math.sqrt(2.0).round6, got.toString)
    assert(got((1, 2)) === got((0, 1)))
  }

  private implicit class R6(d: Double) {
    def round6: Double =
      BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  test("incremental IVF index: maintained state equals full rebuild; " +
    "insert-then-delete nets to absent, same-version delete+insert to present") {
    import spark.implicits._
    val v = (x: Float, y: Float) => Array(x, y)
    val centroids = Seq((0, v(1f, 0f)), (1, v(0f, 1f)))
      .toDF("cell", "centroid")
    // base: ids 1 (near cell 0), 2 (near cell 1)
    val base = Seq((1L, v(0.9f, 0.1f)), (2L, v(0.1f, 0.9f)))
      .toDF("c_id", "c_vec")
    val index0 = Similarity.assignCells(base, centroids)
      .select(col("c_id"), col("cell"))
    // changes: id 3 inserted v1 then deleted v2 (absent);
    // id 2 updated v1 to flip cells; id 4 delete+insert in v2 (replace
    // style, insert wins); id 1 deleted v2
    val changes = Seq(
      (3L, v(1f, 0f), "insert", 1L),
      (2L, v(0.1f, 0.9f), "update_preimage", 1L),
      (2L, v(0.9f, 0.1f), "update_postimage", 1L),
      (3L, v(1f, 0f), "delete", 2L),
      (4L, v(0f, 1f), "delete", 2L),
      (4L, v(0.2f, 0.8f), "insert", 2L),
      (1L, v(0.9f, 0.1f), "delete", 2L)
    ).toDF("c_id", "c_vec", "_change_type", "_commit_version")
    val maintained = Incremental.maintainIvfIndex(index0, changes, centroids)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // final state: id 2 at (0.9,0.1) -> cell 0; id 4 at (0.2,0.8) -> cell 1
    val finalState = Seq((2L, v(0.9f, 0.1f)), (4L, v(0.2f, 0.8f)))
      .toDF("c_id", "c_vec")
    val rebuilt = Similarity.assignCells(finalState, centroids)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(maintained === rebuilt, s"maintained=$maintained rebuilt=$rebuilt")
    assert(maintained === Map(2L -> 0, 4L -> 1), maintained.toString)
  }

  test("hard negatives: same-label vectors never surface; nearest " +
    "different-label wins rank 1") {
    import spark.implicits._
    // query label 0 at [1,0]; same-label twin at [1,0.01] must NOT
    // appear; different-label [0.9,0.1] (closer) beats [0,1] (far)
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f), 0),
      (1L, Array(1.0f, 0.01f), 0),
      (2L, Array(0.9f, 0.1f), 1),
      (3L, Array(0.0f, 1.0f), 2)).toDF("vec_id", "embedding", "label")
    val queries = vecs.filter(col("vec_id") === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"),
        col("label").as("q_label"))
    val corpus = vecs.select(col("vec_id").as("c_id"),
      col("embedding").as("c_vec"), col("label").as("c_label"))
    val got = Similarity.hardNegatives(queries, corpus, k = 2)
      .orderBy(col("rank")).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getInt(3)))
    assert(got.toSeq === Seq((1L, 2L, 1), (2L, 3L, 2)), got.mkString(","))
  }

  test("mojibake repair: every table entry round-trips, composites fix in " +
    "one pass, clean text is untouched") {
    import spark.implicits._
    val rows = TextOps.mojibakeMap.zipWithIndex.map { case ((bad, good), i) =>
      (i.toLong, s"x${bad}y", s"x${good}y")
    } ++ Seq(
      (100L, "CafÃ© â€” the naÃ¯ve touristâ€™s guide",
        "Café — the naïve tourist’s guide"),
      (101L, "plain ascii stays put", "plain ascii stays put"))
    val df = rows.toDF("id", "dirty", "want")
    val got = df.select(col("id"), TextOps.fixMojibake(col("dirty")).as("f"),
        col("want"))
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getString(2)))
    got.foreach { case (id, (f, want)) => assert(f === want, s"entry $id") }
  }

  test("retrieval metrics: MRR is the reciprocal first-relevant rank, " +
    "NDCG matches the hand-computed discounted sum, no-relevant gives 0") {
    import spark.implicits._
    // query 0 (label 0) ranks: 1=c1(label 1, irrelevant), 2=c2(label 0),
    // 3=c3(label 0); query 10 (label 9) has no relevant at all
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f), 0),
      (1L, Array(0.99f, 0.14f), 1),
      (2L, Array(0.97f, 0.24f), 0),
      (3L, Array(0.94f, 0.34f), 0),
      (10L, Array(0.0f, 1.0f), 9)).toDF("vec_id", "embedding", "label")
    val q = vecs.filter(col("vec_id").isin(0L, 10L))
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"),
        col("label").as("q_label"))
    val c = vecs.select(col("vec_id").as("c_id"),
      col("embedding").as("c_vec"), col("label").as("c_label"))
    val got = Similarity.retrievalMetrics(q, c, k = 3)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
    val log2 = (x: Double) => math.log(x) / math.log(2.0)
    val dcg = 1.0 / log2(3.0) + 1.0 / log2(4.0)
    val idcg = 1.0 / log2(2.0) + 1.0 / log2(3.0)
    assert(got(0L)._1 === 2L && got(0L)._2 === 2L)
    assert(got(0L)._3 === 0.5)
    assert(got(0L)._4 === (dcg / idcg).round6, got.toString)
    assert(got(10L) === ((0L, 0L, 0.0, 0.0)), got.toString)
  }

  test("knn label audit: a mislabeled point inside a foreign cluster is " +
    "suspect, cluster members are not") {
    import spark.implicits._
    // cluster A around [1,0] labeled 0 — except vec 2, labeled 7
    // (planted mislabel); cluster B around [0,1] labeled 1
    val vecs = (Seq(
      (0L, Array(1.00f, 0.00f), 0), (1L, Array(0.99f, 0.01f), 0),
      (2L, Array(0.98f, 0.02f), 7), (3L, Array(0.97f, 0.03f), 0),
      (4L, Array(0.96f, 0.04f), 0),
      (5L, Array(0.00f, 1.00f), 1), (6L, Array(0.01f, 0.99f), 1),
      (7L, Array(0.02f, 0.98f), 1), (8L, Array(0.03f, 0.97f), 1),
      (9L, Array(0.04f, 0.96f), 1))).toDF("vec_id", "embedding", "label")
    val q = vecs.select(col("vec_id").as("q_id"),
      col("embedding").as("q_vec"), col("label").as("q_label"))
    val c = vecs.select(col("vec_id").as("c_id"),
      col("embedding").as("c_vec"), col("label").as("c_label"))
    val audit = Similarity.knnLabelAudit(q, c, k = 4)
      .collect().map(r => r.getLong(0) ->
        (r.getInt(2), r.getBoolean(3))).toMap
    assert(audit(2L) === ((0, true)), "planted mislabel must be suspect")
    assert(Seq(0L, 1L, 3L, 4L).forall(audit(_) == ((0, false))), audit.toString)
    assert(Seq(5L, 6L, 7L, 8L, 9L).forall(audit(_) == ((1, false))), audit.toString)
  }

  test("partition invariance: LPA, edit-distance dedup, and knn audit " +
    "results do not depend on input partitioning") {
    import spark.implicits._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val edges = Seq((1L, 2L), (2L, 3L), (4L, 5L), (5L, 6L), (6L, 4L),
      (3L, 7L), (8L, 9L)).toDF("a", "b")
    def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    assert(canon(Analytics.labelPropagation(edges.repartition(1), 3)) ===
      canon(Analytics.labelPropagation(edges.repartition(7), 3)))
    assert(canon(Dedup.editDistanceNearDup(docs.repartition(1), "doc_id", "text")) ===
      canon(Dedup.editDistanceNearDup(docs.repartition(7), "doc_id", "text")))
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    def audit(parts: Int) = {
      val v = emb.repartition(parts)
      Similarity.knnLabelAudit(
        v.filter(col("vec_id") < 20).select(col("vec_id").as("q_id"),
          col("embedding").as("q_vec"), col("label").as("q_label")),
        v.select(col("vec_id").as("c_id"), col("embedding").as("c_vec"),
          col("label").as("c_label")), k = 5)
    }
    assert(canon(audit(1)) === canon(audit(7)))
  }

  test("new-wave op plan shapes: LPA/edit-distance/anomaly joins stay " +
    "hash-partitioned, MMR broadcasts candidate keys into the corpus scan") {
    import spark.implicits._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    def planOf(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.executedPlan.toString
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("a", "b")
    val lpa = planOf(Analytics.labelPropagation(edges, rounds = 2))
    assert(!lpa.contains("CartesianProduct") &&
      !lpa.contains("BroadcastNestedLoopJoin"), lpa.take(2000))
    val ed = planOf(Dedup.editDistanceNearDup(docs, "doc_id", "text"))
    assert(!ed.contains("CartesianProduct") &&
      !ed.contains("BroadcastNestedLoopJoin"), ed.take(2000))
    // MMR: the only nested-loop leg is the intended
    // crossJoin(broadcast(queries)) of the pool build; the candidate-key
    // joins against the corpus must be broadcast-hash, never a shuffle
    // of the corpus on c_id
    val queries = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val corpus = emb.select(col("vec_id").as("c_id"), col("embedding").as("c_vec"))
    val mmr = planOf(Similarity.mmrTopK(queries, corpus, poolSize = 4, k = 2))
    assert(mmr.contains("BroadcastHashJoin"), mmr.take(2000))
    assert(!mmr.contains("CartesianProduct"), mmr.take(2000))
    // OOV: vocabulary cut is a distributed top-N (TakeOrdered), never a
    // single-partition global window; the vocab join broadcasts
    val oov = planOf(TextOps.oovRate(docs, "source", "text", vocabSize = 5))
    assert(oov.contains("TakeOrderedAndProject"), oov.take(2000))
    assert(oov.contains("Broadcast"), oov.take(2000))
  }

  test("oov rate: vocabulary boundary is (count desc, token asc); per-source " +
    "rates count occurrences outside it") {
    import spark.implicits._
    // counts: a=3, c=3, b=1 -> top-2 vocab = {a, c} (tie a<c irrelevant,
    // boundary cuts b); s1 has 1/3 oov, s2 none
    val docs = Seq(("s1", "a a b"), ("s2", "a c c c")).toDF("source", "text")
    val got = TextOps.oovRate(docs, "source", "text", vocabSize = 2)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(got("s1") === ((3L, 1L, (1.0 / 3.0).round6)), got.toString)
    assert(got("s2") === ((4L, 0L, 0.0)), got.toString)
  }

  test("mmr: an exact duplicate of the top hit is displaced by a diverse " +
    "candidate; ties in the first pick go to the smallest id") {
    import spark.implicits._
    val q = Seq((0L, Array(1.0f, 0.0f, 0.0f))).toDF("q_id", "q_vec")
    // a (id 1) and b (id 2) identical, rel ~0.9; c (id 3) mirrored,
    // rel ~0.9 but only 0.62 similar to a -> MMR round 2 must pick c
    val corpus = Seq(
      (1L, Array(0.9f, 0.436f, 0.0f)),
      (2L, Array(0.9f, 0.436f, 0.0f)),
      (3L, Array(0.9f, -0.436f, 0.0f))).toDF("c_id", "c_vec")
    val got = Similarity.mmrTopK(q, corpus, poolSize = 3, k = 3, lambda = 0.7)
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(got === Map(1L -> 1L, 2L -> 3L, 3L -> 2L), got.toString)
    // pure relevance top-3 would have ranked the duplicate second
    val pure = Similarity.bruteForceTopK(q, corpus, 3)
      .collect().map(r => r.getLong(3) -> r.getLong(1)).toMap
    assert(pure === Map(1L -> 1L, 2L -> 2L, 3L -> 3L), pure.toString)
  }

  test("edit-distance near-dup: light edits found across a bucket boundary, " +
    "each pair exactly once, unrelated docs excluded") {
    import spark.implicits._
    val a = "alpha " + "x" * 73            // len 79: buckets {1, 2}
    val b = "alpha " + "x" * 69 + "yyyyy"  // len 80: buckets {2, 3}; dist 5-6
    val far = "alpha " + "z" * 76          // same block, distance > maxDist
    val other = "alpha " + "w" * 494       // different band entirely
    val w1diff = "beta " + "x" * 74        // len 79 near-dup of a, but the
                                           // first token was edited: the
                                           // block misses it BY CONTRACT
    val docs = Seq((1L, a), (2L, b), (3L, far), (4L, other), (5L, w1diff))
      .toDF("doc_id", "text")
    val got = Dedup.editDistanceNearDup(docs, "doc_id", "text",
      prefixLen = 80, maxDist = 20, bandWidth = 40).collect()
    assert(got.length === 1, got.mkString(","))
    val r = got.head
    assert((r.getLong(0), r.getLong(1)) === ((1L, 2L)))
    // 4 tail subs + 1 insert, give or take alignment
    assert(r.getLong(2) <= 6L && r.getLong(2) >= 5L, r.getLong(2).toString)
  }

  test("paragraph dedup: first arrival kept across and within docs, " +
    "masks ordered, reassembled text drops only duplicates") {
    import spark.implicits._
    val pA = "the quick brown fox jumps over the lazy dog today"
    val pA2 = "the quick brown fox jumps over the lazy dog tonight" // ~0.78
    val pB = "completely different second paragraph about databases and storage"
    val pC = "a third unique paragraph mentioning streams and watermarks here"
    val docs = Seq(
      (1L, s"$pA\n\n$pB"),
      (2L, s"$pA2\n\n$pC"),   // first para near-dups doc 1's first
      (3L, s"$pC\n\n$pC")     // intra-doc repeat: second copy dropped
    ).toDF("doc_id", "text")
    val got = Dedup.paragraphDedup(docs, "doc_id", "text", threshold = 0.7)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3), r.getString(4)))).toMap
    assert(got(1L) === ((2L, 2L, "11", s"$pA $pB")))
    // doc 2 loses its first paragraph to doc 1's earlier unit id; but
    // doc 3's pC copies lose to DOC 2's pC (smaller unit id), so doc 2
    // keeps pC
    assert(got(2L) === ((2L, 1L, "01", pC)))
    assert(got(3L) === ((2L, 0L, "00", "")))
  }

  test("token windows segment into fixed-size chunks with a short tail") {
    import spark.implicits._
    val text = (1 to 45).map(i => s"w$i").mkString(" ")
    val got = Seq(Tuple1(text)).toDF("text")
      .select(Dedup.tokenWindows(20)(col("text")).as("p"))
      .collect().head.getSeq[String](0)
    assert(got.length === 3)
    assert(got(0).split(" ").length === 20 && got(0).startsWith("w1 "))
    assert(got(1).split(" ").length === 20 && got(1).startsWith("w21 "))
    assert(got(2) === (41 to 45).map(i => s"w$i").mkString(" "))
  }

  test("char-ngram lang id separates genuinely distinct classes and " +
    "reports exact test/pred/correct counts") {
    import spark.implicits._
    // two synthetic "languages" with disjoint character distributions
    val docs = (0L until 30L).map { i =>
      if (i % 2 == 0) (i, "aa", s"aaa bab abba baab aabb babb ab$i")
      else (i, "zz", s"zzz yzy zyyz yzzy zzyy yzzz zy$i")
    }.toDF("doc_id", "lang", "text")
    val got = Classify.charNgramLangId(docs, "doc_id", "text", "lang",
      n = 3, vocabSize = 50, trainPerClass = 5)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // 15 docs per class, 5 train each → 10 test each, all correct
    assert(got("aa") === ((10L, 10L, 10L)))
    assert(got("zz") === ((10L, 10L, 10L)))
    // model tables are broadcast; no cartesian on corpus-sized frames
    val plan = Classify.charNgramLangId(docs, "doc_id", "text", "lang",
      n = 3, vocabSize = 50, trainPerClass = 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastExchange"))
  }

  test("unimax water-fills a budget under epoch caps") {
    import spark.implicits._
    // groups with capacities a=1, b=5, c=5 (size per row), epochs=1
    val df = (Seq.fill(1)("a") ++ Seq.fill(5)("b") ++ Seq.fill(5)("c"))
      .zipWithIndex.map { case (g, i) => (g, i.toLong) }.toDF("g", "id")
    def alloc(budget: Double, epochs: Double): Map[String, (Double, Double)] =
      Sampling.unimaxAllocation(df, Seq("g"), lit(1L), budget, epochs)
        .collect().map(r => r.getString(0) ->
          ((r.getDouble(2), r.getDouble(3)))).toMap
    // budget 7 of 11: a capped at 1, b/c split the rest at level 3
    val m = alloc(7.0, 1.0)
    assert(m("a") === ((1.0, 1.0)))
    assert(m("b") === ((3.0, 0.6)))
    assert(m("c") === ((3.0, 0.6)))
    // budget beyond all caps: everyone gets cap (epochs = maxEpochs)
    val full = alloc(100.0, 2.0)
    assert(full("a") === ((2.0, 2.0)))
    assert(full("b") === ((10.0, 2.0)))
    // zero budget: zero allocation everywhere
    val zero = alloc(0.0, 1.0)
    assert(zero.values.forall(_._1 === 0.0))
    // epoch cap binds before the fair share: budget 9, cap 2 epochs on a
    // means a gets 2 (its full 2-epoch corpus), b/c split 7 at 3.5
    val capped = alloc(9.0, 2.0)
    assert(capped("a") === ((2.0, 2.0)))
    assert(capped("b") === ((3.5, 0.7)))
  }

  test("adamic-adar scores non-adjacent pairs by selective common friends") {
    import spark.implicits._
    // path graph 1-2-3 plus star center 4 connected to 1,3,5:
    //   edges: (1,2),(2,3),(1,4),(3,4),(4,5)
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 4L), (3L, 4L), (4L, 5L))
      .toDF("a", "b")
    val got = Analytics.adamicAdar(edges, maxHubDegree = 10, minCommon = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    // (1,3): common neighbors 2 (deg 2) and 4 (deg 3) →
    //   1/ln2 + 1/ln3 = 2.352934
    assert(got((1L, 3L))._1 === 2L)
    assert(math.abs(got((1L, 3L))._2 - (1 / math.log(2) + 1 / math.log(3))) < 1e-5)
    // (1,5) and (3,5): via 4 only
    assert(got((1L, 5L)) === ((1L, BigDecimal(1 / math.log(3))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)))
    // adjacent pairs are screened out
    assert(!got.contains((1L, 2L)) && !got.contains((1L, 4L)))
    // hub exclusion: capping at deg 2 removes center 4 (deg 3) — (1,5)
    // and (3,5) disappear; wedges at deg-2 centers 1, 2, 3 remain
    val noHub = Analytics.adamicAdar(edges, maxHubDegree = 2, minCommon = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(noHub === Set((1L, 3L), (2L, 4L)))
  }

  test("unimax properties: budget conservation, caps, fairness (100 random instances)") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    import spark.implicits._
    val genSizes = Gen.nonEmptyListOf(Gen.chooseNum(1, 50)).map(_.take(8))
    (0 until 100).foreach { i =>
      val sizes = genSizes.pureApply(Gen.Parameters.default, Seed(i.toLong))
      val budgetFrac =
        Gen.chooseNum(0.0, 1.5).pureApply(Gen.Parameters.default, Seed(i + 7L))
      val epochs = 1.0 + (i % 3)
      val df = sizes.zipWithIndex
        .flatMap { case (n, g) => (0 until n).map(r => (s"g$g", r.toLong)) }
        .toDF("g", "id")
      val totalCap = sizes.sum.toDouble * epochs
      val budget = budgetFrac * sizes.sum
      val rows = Sampling.unimaxAllocation(df, Seq("g"), lit(1L), budget, epochs)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      // every allocation within [0, cap]
      rows.foreach { case (g, cap, a) =>
        assert(a >= -1e-6 && a <= cap * epochs + 1e-6, s"i=$i $g cap=$cap a=$a")
      }
      // budget conservation: sum alloc == min(budget, total cap), within
      // output rounding (4dp per group)
      val total = rows.map(_._3).sum
      assert(math.abs(total - math.min(budget, totalCap)) < 1e-3 * rows.length + 1e-6,
        s"i=$i sizes=$sizes budget=$budget total=$total")
      // fairness: any group below its cap gets >= any other group's
      // allocation (the water level), within rounding
      val uncapped = rows.filter { case (_, cap, a) => a < cap * epochs - 1e-6 }
      if (uncapped.nonEmpty) {
        val level = uncapped.map(_._3).min
        rows.foreach { case (g, _, a) =>
          assert(a <= level + 1e-3, s"i=$i $g a=$a level=$level")
        }
      }
    }
  }

  test("unigram viterbi matches exhaustive best segmentation with the " +
    "smallest-last-piece tie-break (300 random instances)") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val alpha = "abc"
    (0 until 300).foreach { i =>
      def gen[A](g: Gen[A], salt: Long): A =
        g.pureApply(Gen.Parameters.default, Seed(i * 1000L + salt))
      val word = gen(Gen.stringOfN(gen(Gen.chooseNum(1, 10), 1),
        Gen.oneOf(alpha.toSeq)), 2)
      // vocab: every char (always feasible) + a few random 2-3 grams,
      // quantized negative integer log-probs
      val grams = gen(Gen.listOfN(5,
        Gen.stringOfN(gen(Gen.chooseNum(2, 3), 3), Gen.oneOf(alpha.toSeq))), 4)
      val pieces = (alpha.map(_.toString) ++ grams).distinct.map { p =>
        p -> -gen(Gen.chooseNum(100000L, 9000000L), p.hashCode.toLong)
      }
      val lp = pieces.toMap
      val model = new graft.functions.UnigramModel(
        pieces.map(_._1).toArray, pieces.map(_._2).toArray, 3)
      def logp(p: String) = lp.getOrElse(p, model.MissingLp)
      // exhaustive DP over all segmentations (memoized best prefix score)
      val n = word.length
      val best = new Array[Long](n + 1)
      for (j <- 1 to n)
        best(j) = (1 to math.min(3, j))
          .map(k => best(j - k) + logp(word.substring(j - k, j))).max
      // canonical optimum: from the right, smallest k achieving the best
      val expect = scala.collection.mutable.ArrayBuffer.empty[String]
      var pos = n
      while (pos > 0) {
        val k = (1 to math.min(3, pos))
          .find(k => best(pos - k) + logp(word.substring(pos - k, pos)) == best(pos))
          .get
        expect.prepend(word.substring(pos - k, pos))
        pos -= k
      }
      val got = model.segment(
        org.apache.spark.unsafe.types.UTF8String.fromString(word))
        .map(_.toString).toSeq
      assert(got === expect.toSeq, s"i=$i word=$word vocab=$pieces")
      assert(got.mkString === word, s"i=$i segmentation must partition")
    }
  }

  test("winnowing overlap: verbatim containment pairs, unrelated docs " +
    "don't pair, df-cap kills boilerplate fingerprints") {
    val shared =
      "the winnowing guarantee selects shared fingerprints from long common spans"
    val docs = docsDF(Seq(
      (1L, shared),
      (2L, shared + " with extra trailing content appended here"),
      (3L, "completely different text about nothing relevant whatsoever okay")))
    val out = graft.ops.TextOps.winnowingOverlap(
      docs, "doc_id", "text", minOverlap = 0.5).collect()
    val pairs = out.map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    assert(pairs.contains((1L, 2L)),
      s"containment pair missing: ${out.mkString(",")}")
    assert(pairs((1L, 2L)) >= 0.5)
    assert(!pairs.keySet.exists(p => p._1 == 3L || p._2 == 3L),
      "unrelated doc must not pair")
    // the same text in 3 docs with dfCap=2: every shared fingerprint's
    // df exceeds the cap, so the boilerplate cut leaves no pairs at all
    val many = docsDF(Seq((1L, shared), (2L, shared), (3L, shared)))
    assert(graft.ops.TextOps.winnowingOverlap(
      many, "doc_id", "text", dfCap = 2).collect().isEmpty)
  }

  test("aho-corasick matches a naive scan on random strings (200 instances)") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    import spark.implicits._
    val genText = Gen.listOfN(60, Gen.oneOf('a', 'b', 'c')).map(_.mkString)
    val genPat = Gen.chooseNum(1, 4).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf('a', 'b', 'c')).map(_.mkString))
    def naive(text: String, p: String): Long =
      (0 to text.length - p.length).count(i => text.startsWith(p, i)).toLong
    val cases = (0 until 200).map { i =>
      val t = genText.pureApply(Gen.Parameters.default, Seed(i.toLong))
      val ps = (0 until 5).map(j =>
        genPat.pureApply(Gen.Parameters.default, Seed(i * 10L + j))).distinct
      (t, ps)
    }
    // one spark job per distinct pattern-set size class is wasteful;
    // evaluate the expression directly through a single-row frame each
    cases.foreach { case (t, ps) =>
      val got = Seq(Tuple1(t)).toDF("text")
        .select(TextOps.ahoCounts(col("text"), ps))
        .collect().head.getSeq[Long](0)
      val want = ps.map(p => naive(t, p))
      assert(got === want, s"text=$t pats=$ps")
    }
  }

  test("ttl admission re-admits after the window and evicts idle state") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    implicit val sqlCtx = spark.sqlContext
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    val in = MemoryStream[(Long, Int, String, java.sql.Timestamp)]
    val verdicts = in.toDS()
      .withWatermark("_4", "0 seconds")
      .groupByKey(r => (r._2, r._3))
      .flatMapGroupsWithState[Long, (Long, Boolean)](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(
        Dedup.ttlAdmit(ttlMs = 100000L))
      .toDF("id", "fresh")
    val q = verdicts.writeStream.format("memory").queryName("ttl_sink")
      .outputMode("append").start()
    try {
      // phase 1: buckets b0..b4 at t=10..14s
      in.addData((0 until 5).map(i => (i.toLong, 0, s"b$i", ts(10 + i))): _*)
      q.processAllAvailable()
      // phase 2: b0 again at t=50s (gap 40s < 100s: rejected) and fresh
      // buckets c0..c4 at t=500s (watermark jumps past b*'s timeouts)
      in.addData((100L, 0, "b0", ts(50)))
      q.processAllAvailable()
      in.addData((200 until 205).map(i =>
        (i.toLong, 0, s"c${i - 200}", ts(500 + i - 200))): _*)
      q.processAllAvailable()
      // phase 3: b0 at t=600s — more than 100s after its last arrival:
      // admitted AGAIN (whether or not its state entry survived)
      in.addData((300L, 0, "b0", ts(600)))
      q.processAllAvailable()
      // one more batch so pending event-time timeouts get processed
      in.addData((400L, 0, "d0", ts(700)))
      q.processAllAvailable()
      val got = spark.table("ttl_sink")
        .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
      assert((0 until 5).forall(i => got(i.toLong)), "phase-1 all fresh")
      assert(!got(100L), "40s-gap re-arrival rejected")
      assert((200 until 205).forall(i => got(i.toLong)), "new buckets fresh")
      assert(got(300L), "post-TTL re-arrival admitted")
      // EVICTION: b1..b4 idle since t<=14s and c*'s timeouts not yet due
      // — state must hold well under the 11 distinct buckets ever seen
      val stateRows = q.lastProgress.stateOperators.apply(0).numRowsTotal
      assert(stateRows <= 7, s"state rows $stateRows — eviction not firing")
    } finally q.stop()
  }

  test("lsh calibration concentrates planted near-dups at zero error") {
    import spark.implicits._
    // 20 base docs + a shifted near-copy of each (high true Jaccard)
    val base = (0L until 20L).map { i =>
      (i, (0 until 30).map(w => s"w${(i * 31 + w * 7) % 211}").mkString(" "))
    }
    val copies = base.map { case (i, t) =>
      (i + 100L, t.split(" ").drop(1).mkString(" ") + " tail" + i)
    }
    val docs = (base ++ copies).toDF("doc_id", "text")
    val rep = Dedup.lshCalibration(docs, "doc_id", "text")
      .collect().map(r => r.getDouble(0) -> r.getLong(1)).toMap
    // the 20 planted pairs have Jaccard ~0.9; their estimate must land
    // within one bucket of truth
    val nearZero = rep.filter { case (b, _) => math.abs(b) <= 0.1 }
      .values.sum
    assert(nearZero >= 20L, rep.toString)
  }

  test("interval overlap join equals the naive predicate join exactly") {
    import spark.implicits._
    // adversarial: boundaries exactly on bucket edges, intervals spanning
    // 0..4 buckets, touching-but-not-overlapping pairs, empty intervals
    val rows = Seq(
      ("u", 1L, 0L, 10L), ("u", 2L, 10L, 20L),   // touch at 10: no overlap
      ("u", 3L, 5L, 35L), ("u", 4L, 19L, 21L),    // spans buckets; inner
      ("u", 5L, 30L, 30L),                        // empty interval
      ("u", 6L, 29L, 31L), ("v", 7L, 0L, 100L),   // other key
      ("v", 8L, 99L, 101L), ("v", 9L, 100L, 110L))
    val iv = rows.toDF("k", "id", "s", "e")
    val a = iv.select(col("k"), col("id").as("a_id"),
      col("s").as("a_s"), col("e").as("a_e"))
    val b = iv.select(col("k"), col("id").as("b_id"),
      col("s").as("b_s"), col("e").as("b_e"))
    val got = IntervalJoin.overlapJoin(a, b, Seq("k"),
        "a_s", "a_e", "b_s", "b_e", bucketWidth = 10L)
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = a.join(b, Seq("k"))
      .filter(col("a_id") < col("b_id") &&
        col("a_s") < col("b_e") && col("b_s") < col("a_e") &&
        col("a_e") > col("a_s") && col("b_e") > col("b_s"))
      .select(col("a_id"), col("b_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === want)
    assert(want === Set((1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L), (3L, 6L),
      (7L, 8L), (8L, 9L)))
    // randomized cross-check: 300 variable-length intervals, two keys
    val rnd = (0L until 300L).map { i =>
      val s = (i * 7919) % 1000
      ("k" + (i % 2), i, s, s + 1 + (i * 104729) % 97)
    }.toDF("k", "id", "s", "e")
    val ra = rnd.select(col("k"), col("id").as("a_id"),
      col("s").as("a_s"), col("e").as("a_e"))
    val rb = rnd.select(col("k"), col("id").as("b_id"),
      col("s").as("b_s"), col("e").as("b_e"))
    val g2 = IntervalJoin.overlapJoin(ra, rb, Seq("k"),
        "a_s", "a_e", "b_s", "b_e", bucketWidth = 37L)
      .filter(col("a_id") < col("b_id")).count()
    val w2 = ra.join(rb, Seq("k"))
      .filter(col("a_id") < col("b_id") &&
        col("a_s") < col("b_e") && col("b_s") < col("a_e")).count()
    assert(g2 === w2 && g2 > 0)
    // pre-epoch (negative) interval bounds: the exact floor-division
    // bucketing must not misplace negative-coordinate intervals
    val neg = (0L until 100L).map { i =>
      val s = (i * 7919) % 500 - 250
      ("k", i, s, s + 1 + (i * 104729) % 61)
    }.toDF("k", "id", "s", "e")
    val na = neg.select(col("k"), col("id").as("a_id"),
      col("s").as("a_s"), col("e").as("a_e"))
    val nb = neg.select(col("k"), col("id").as("b_id"),
      col("s").as("b_s"), col("e").as("b_e"))
    val g3 = IntervalJoin.overlapJoin(na, nb, Seq("k"),
        "a_s", "a_e", "b_s", "b_e", bucketWidth = 29L)
      .filter(col("a_id") < col("b_id")).count()
    val w3 = na.join(nb, Seq("k"))
      .filter(col("a_id") < col("b_id") &&
        col("a_s") < col("b_e") && col("b_s") < col("a_e")).count()
    assert(g3 === w3 && g3 > 0)
  }

  test("bounded-heap top-k aggregate equals the window spelling exactly") {
    import spark.implicits._
    // adversarial: heavy ties, k larger than some groups, many partitions
    val df = (0L until 500L).map(i => (s"g${i % 7}", i % 13, i))
      .toDF("g", "score", "id").repartition(16)
    val got = Sketches.topKPerGroup(df, Seq("g"), "score", "id", k = 5)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    val want = df.withColumn("rank",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("g"))
          .orderBy(col("score").desc, col("id"))))
      .filter(col("rank") <= 5)
      .select(col("g"), col("id"), col("score").cast("long"),
        col("rank").cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(got === want)
    // groups smaller than k return all their rows
    val tiny = Seq(("a", 1L, 1L), ("a", 2L, 2L), ("b", 9L, 3L))
      .toDF("g", "score", "id")
    assert(Sketches.topKPerGroup(tiny, Seq("g"), "score", "id", 5).count() === 3)
    // map-side partials: the plan carries a partial_graft_top_k before
    // the exchange (the whole point vs a window sort)
    val plan = Sketches.topKPerGroup(df, Seq("g"), "score", "id", 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_graft_top_k"), plan)
  }

  test("stride interleaving consumes every source evenly across any prefix") {
    import spark.implicits._
    // sources of very different sizes: 120 / 40 / 8
    val df = (Seq.fill(120)("big") ++ Seq.fill(40)("mid") ++ Seq.fill(8)("tiny"))
      .zipWithIndex.map { case (s, i) => (s, i.toLong) }.toDF("src", "id")
    val order = Sampling.interleaveByStride(df, "src", "id")
      .orderBy(col("stride_key"), col("src"), col("id"))
      .select(col("src")).collect().map(_.getString(0))
    assert(order.length === 168)
    val sizes = Map("big" -> 120.0, "mid" -> 40.0, "tiny" -> 8.0)
    // fairness invariant of start-time fair queuing: after any prefix of
    // length m, each source has been consumed within 1 item of its
    // proportional share m * n_s / N
    (1 to 168).foreach { m =>
      val seen = order.take(m).groupBy(identity).view.mapValues(_.length).toMap
      sizes.foreach { case (s, n) =>
        val share = m * n / 168.0
        val got = seen.getOrElse(s, 0).toDouble
        assert(math.abs(got - share) <= 1.0 + 1e-9,
          s"prefix $m source $s got $got share $share")
      }
    }
  }

  test("epoch expansion emits floor copies plus a fractional hash share") {
    import spark.implicits._
    val df = (0L until 200L).map(i => (i, "g")).toDF("id", "g")
    // epochs = 2.5: every id twice, ~half a third time, content-addressed
    val out = Sampling.epochExpand(df.withColumn("e", lit(2.5)), "id", col("e"))
    val n = out.count()
    assert(n >= 2 * 200 && n <= 3 * 200)
    val frac = (n - 400).toDouble / 200
    assert(frac > 0.3 && frac < 0.7, s"fractional share $frac")
    // deterministic: the same ids get the extra copy on every run
    val extras1 = out.groupBy(col("id")).count().filter(col("count") === 3)
      .collect().map(_.getLong(0)).sorted
    val out2 = Sampling.epochExpand(df.withColumn("e", lit(2.5)), "id", col("e"))
    val extras2 = out2.groupBy(col("id")).count().filter(col("count") === 3)
      .collect().map(_.getLong(0)).sorted
    assert(extras1.sameElements(extras2))
    // copy_id is 1..n per id
    val bad = out.groupBy(col("id"))
      .agg(count(lit(1)).as("n"), max(col("copy_id")).as("m"),
        min(col("copy_id")).as("lo"))
      .filter(col("n") =!= col("m") || col("lo") =!= 1).count()
    assert(bad === 0)
    // zero target drops the row entirely
    val z = Sampling.epochExpand(df.withColumn("e", lit(0.0)), "id", col("e"))
    assert(z.count() === 0)
  }

  test("aho-corasick counts all pattern occurrences in one pass") {
    import spark.implicits._
    // the classic fail-link corpus: he / she / his / hers
    val pats = Seq("he", "she", "his", "hers")
    val got = Seq(Tuple1("ushers shehis")).toDF("text")
      .select(TextOps.ahoCounts(col("text"), pats))
      .collect().head.getSeq[Long](0)
    // "ushers": she@1, he@2, hers@2 ; " shehis": she@7, he@8, his@10
    assert(got === Seq(2L, 2L, 1L, 1L))
    // self-overlapping pattern: "aa" occurs 3 times in "aaaa"
    val ov = Seq(Tuple1("aaaa")).toDF("text")
      .select(TextOps.ahoCounts(col("text"), Seq("aa", "aaaa")))
      .collect().head.getSeq[Long](0)
    assert(ov === Seq(3L, 1L))
    // no hits and null propagate correctly
    val none = Seq(Tuple1("zzz")).toDF("text")
      .select(TextOps.ahoCounts(col("text"), pats))
      .collect().head.getSeq[Long](0)
    assert(none === Seq(0L, 0L, 0L, 0L))
    val n = Seq(Tuple1(Option.empty[String])).toDF("text")
      .select(TextOps.ahoCounts(col("text"), pats)).collect().head
    assert(n.isNullAt(0))
    // stays inside whole-stage codegen over a real source
    val plan = spark.range(4)
      .select(TextOps.ahoCounts(col("id").cast("string"), pats))
      .queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project"), plan)
  }

  test("nfc normalization composes, is idempotent, and fast-paths ascii") {
    import spark.implicits._
    val rows = Seq(
      ("é", "é"),       // combining acute → é
      ("Å", "Å"),       // combining ring → Å
      ("Ω", "Ω"),        // OHM → GREEK OMEGA singleton
      ("plain ascii", "plain ascii"),
      ("é", "é")         // already composed: unchanged
    ).toDF("raw", "want")
    val got = rows.select(col("want"),
      TextOps.nfcNormalize(col("raw")).as("got")).collect()
    got.foreach(r => assert(r.getString(1) === r.getString(0)))
    // null in, null out
    val n = Seq(Tuple1(Option.empty[String])).toDF("raw")
      .select(TextOps.nfcNormalize(col("raw"))).collect().head
    assert(n.isNullAt(0))
    // whole-stage codegen keeps the expression in the compiled path
    // (over a non-local source — ConvertToLocalRelation folds local data)
    val plan = spark.range(4)
      .select(TextOps.nfcNormalize(
        concat(lit("éx"), col("id").cast("string"))))
      .queryExecution.executedPlan.toString
    // "*(1)" marks the whole-stage-codegen'd stage in simpleString form
    assert(plan.contains("*(1) Project"), plan)
  }

  test("NB quality classifier matches an independent driver-side replay") {
    import org.apache.spark.sql.functions._
    // gopher-passing docs need >=50 words, mean len 3-10, >=2 stopwords,
    // >=80% alphabetic; fails are short. Mixed so the train split
    // (id%5==0) carries both classes.
    val good = (("the quick brown fox jumps over and rests " * 6) +
      "that have with more calm words here now").trim
    val bad = "tiny### doc... ###"
    val rows = (0L until 20L).map(i =>
      (i, if (i % 3 == 0) good + s" tail$i" else bad + s" x$i"))
    val docs = docsDF(rows)
    val dim = 64
    val got = graft.ops.Classify.nbQualityHashed(docs, "doc_id", "text",
      dim = dim, trainMod = 5)
      .collect().map(r => (r.getBoolean(0), r.getBoolean(1),
        r.getLong(2), r.getLong(3))).toSet

    // independent replay: labels via the (separately pinned) rule pack,
    // everything downstream re-derived in plain Scala
    val labels = graft.ops.TextOps.gopherFilter(docs, "doc_id", "text")
      .select(col("doc_id"), col("kept")).collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    def toks(t: String): Seq[String] =
      t.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
    def bucket(tok: String): Int = {
      val cps = tok.codePoints().toArray
      var h = 0L
      cps.indices.foreach(k => h += (cps(k) + 1L) * (k + 1))
      (h % dim).toInt
    }
    def q(x: Double): Long = math.floor(x * 1e6 + 0.5).toLong
    val byDoc = rows.map { case (id, t) =>
      (id, labels(id), toks(t).map(bucket).groupBy(identity)
        .map { case (b, o) => b -> o.size.toLong })
    }
    val train = byDoc.filter(_._1 % 5 == 0)
    val nPassTok = train.filter(_._2).flatMap(_._3.values).sum
    val nFailTok = train.filterNot(_._2).flatMap(_._3.values).sum
    val nP = train.count(_._2).toLong
    val nF = train.count(!_._2).toLong
    def cnt(lab: Boolean, b: Int): Long =
      train.filter(_._2 == lab).flatMap(_._3.get(b)).sum
    def lik(lab: Boolean, b: Int): Long = {
      val (n, tot) = if (lab) (cnt(true, b), nPassTok) else (cnt(false, b), nFailTok)
      q(math.log((n + 1).toDouble / (tot + dim)))
    }
    val prP = q(math.log(nP.toDouble / (nP + nF)))
    val prF = q(math.log(nF.toDouble / (nP + nF)))
    val expect = byDoc.filter(_._1 % 5 != 0).map { case (_, lab, fs) =>
      val sp = fs.map { case (b, c) => c * lik(true, b) }.sum + prP
      val sf = fs.map { case (b, c) => c * lik(false, b) }.sum + prF
      (lab, sp > sf, sp - sf)
    }.groupBy(x => (x._1, x._2)).map { case ((l, p), xs) =>
      (l, p, xs.size.toLong, xs.map(_._3).sum)
    }.toSet
    assert(got === expect)

    // the held-out majority must agree with the rules (distillation works)
    val agree = got.filter(x => x._1 == x._2).map(_._3).sum
    val total = got.map(_._3).sum
    assert(agree * 2 > total, s"distillation fidelity too low: $agree/$total")

    // plan: model joins broadcast, no cartesian
    val plan = graft.ops.Classify.nbQualityHashed(docs, "doc_id", "text",
      dim = dim, trainMod = 5).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastExchange"), "model join must broadcast")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("batch perceptron matches an independent driver-side replay") {
    import org.apache.spark.sql.functions._
    val good = (("the quick brown fox jumps over and rests " * 6) +
      "that have with more calm words here now").trim
    val bad = "tiny### doc... ###"
    val rows = (0L until 20L).map(i =>
      (i, if (i % 3 == 0) good + s" tail$i" else bad + s" x$i"))
    val docs = docsDF(rows)
    val dim = 64
    val iters = 3
    val got = graft.ops.Classify.perceptronQualityHashed(docs, "doc_id", "text",
      dim = dim, trainMod = 5, iters = iters)
      .collect().map(r => (r.getBoolean(0), r.getBoolean(1),
        r.getLong(2), r.getLong(3))).toSet

    // independent replay: plain-Scala batch perceptron over the same
    // hashed features and rule labels
    val labels = graft.ops.TextOps.gopherFilter(docs, "doc_id", "text")
      .select(col("doc_id"), col("kept")).collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    def bucket(tok: String): Int = {
      val cps = tok.codePoints().toArray
      var h = 0L
      cps.indices.foreach(k => h += (cps(k) + 1L) * (k + 1))
      (h % dim).toInt
    }
    val byDoc = rows.map { case (id, t) =>
      (id, labels(id),
        t.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
          .map(bucket).groupBy(identity)
          .map { case (b, o) => b -> o.size.toLong })
    }
    val train = byDoc.filter(_._1 % 5 == 0)
      .map { case (id, lab, fs) => (id, if (lab) 1L else -1L, fs) }
    var w = Map.empty[Int, Long]
    (1 to iters).foreach { _ =>
      val mis = train.filter { case (_, y, fs) =>
        y * fs.map { case (b, c) => c * w.getOrElse(b, 0L) }.sum <= 0
      }
      mis.foreach { case (_, y, fs) =>
        fs.foreach { case (b, c) => w = w.updated(b, w.getOrElse(b, 0L) + y * c) }
      }
    }
    val expect = byDoc.filter(_._1 % 5 != 0).map { case (_, lab, fs) =>
      val m = fs.map { case (b, c) => c * w.getOrElse(b, 0L) }.sum
      (lab, m > 0, m)
    }.groupBy(x => (x._1, x._2)).map { case ((l, p), xs) =>
      (l, p, xs.size.toLong, xs.map(_._3).sum)
    }.toSet
    assert(got === expect)

    // the held-out majority must agree with the rules
    val agree = got.filter(x => x._1 == x._2).map(_._3).sum
    assert(agree * 2 > got.map(_._3).sum, s"fidelity too low: $got")
  }

  test("DSIR selection ranks target-like raw docs first, rank-threshold plan") {
    import org.apache.spark.sql.functions._
    // target docs (ids 100+) speak "alpha beta gamma"; raw docs 0-19:
    // ids 0-4 echo the target vocabulary, 5-19 speak something else —
    // the top-5 selection must be exactly the echoers
    val target = (100L until 110L).map(i => (i, "alpha beta gamma delta alpha beta"))
    val rawLike = (0L until 5L).map(i => (i, "alpha beta gamma alpha beta gamma"))
    val rawOther = (5L until 20L).map(i => (i, "zig zag zork quux flux blorb"))
    val docs = docsDF(target ++ rawLike ++ rawOther)
    val sel = graft.ops.Sampling.dsirSelect(docs, "doc_id", "text",
      isTarget = col("doc_id") >= 100L, dim = 64, keepFrac = 0.25)
    val ids = sel.collect().map(_.getLong(0)).toSet
    assert(ids === (0L until 5L).toSet, s"selected $ids")

    // weights are exact integers and strictly higher for the echoers
    val all = graft.ops.Sampling.dsirSelect(docs, "doc_id", "text",
      isTarget = col("doc_id") >= 100L, dim = 64, keepFrac = 1.0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((0L until 5L).map(all).min > (5L until 20L).map(all).max)

    // plan: rank-threshold selection — no Int-capped orderBy().limit()
    // (GlobalLimit / TakeOrderedAndProject funnel K through the driver
    // merge), broadcast model join, no cartesian
    val plan = sel.queryExecution.executedPlan.toString
    assert(!plan.contains("TakeOrderedAndProject") && !plan.contains("GlobalLimit"),
      s"selection must be rank-threshold, not a driver-merged top-K:\n$plan")
    assert(plan.contains("BroadcastExchange"), "model join must broadcast")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("video signatures: constant-width chain_hash buckets mirrors " +
    "exactly and never grows with the per-container sample count") {
    import org.apache.spark.sql.functions._
    val ids = (0L until 20L).map(Tuple1(_))
    val docs = spark.createDataFrame(ids).toDF("doc_id")
    def sigs(base: Int) = graft.ops.Multimodal.videoSignatures(
      graft.ops.Multimodal.videoAssets(docs, contentKeys = 5,
        baseSamples = base))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val small = sigs(4)
    val big = sigs(512)
    for (m <- Seq(small, big)) {
      // 64 hex chars at EVERY sample count — the chain never leaks into
      // the key
      assert(m.values.forall(h => h.length == 64 &&
        h.forall(c => c.isDigit || ('a' to 'f').contains(c))))
      // mirrors (same doc_id % 5) share the hash; distinct keys differ
      for (a <- 0L until 20L; b <- 0L until 20L)
        assert((m(a) == m(b)) === (a % 5 == b % 5), s"assets $a vs $b")
    }
    // different sample counts are different content: hashes must differ
    assert((0L until 5L).forall(i => small(i) != big(i)))
  }

  test("in-document line dedup keeps first occurrences in order") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val cases = Seq(
      ("nav\nbody one\nnav\nbody two\nnav", "nav\nbody one\nbody two"),
      ("a\na\na", "a"),
      ("only", "only"),
      ("x\ny\nz", "x\ny\nz"),
      // dedup is EXACT per line: whitespace variants are distinct lines
      ("l \nl", "l \nl"))
    val got = cases.map(_._1).toDF("t")
      .select(graft.ops.TextOps.dedupLines(col("t")).as("d"))
      .collect().map(_.getString(0))
    assert(got.toSeq === cases.map(_._2))
  }

  test("gopher repetition rules: hand-computed n-gram char masses, " +
    "microunit quantization, paper-threshold verdicts") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // doc 1: "a b a b a b" — 2-grams: [a b, b a, a b, b a, a b], top
    // 2-gram mass = 3·len("a b") = 9 over 11 joined chars; every 2/3/
    // 4-gram duplicates heavily, 5-grams are [a b a b a, b a b a b]
    // (each once → dup5 = 0), so top2 = floor(9/11·1e6+0.5) = 818182 >
    // 200000 → rejected
    // doc 2: all-distinct words → every metric 0 → kept
    // doc 3: one word — shorter than every n → no grams → kept
    val texts = Map(
      1L -> "a b a b a b",
      2L -> "one two three four five six seven",
      3L -> "solo",
      9L -> "p q r s t p q r s t p q r s t",
      // long clean doc: unique words keep every metric small → kept
      11L -> (1 to 60).map(i => s"w$i").mkString(" "))
    val docs = texts.toSeq.map { case (id, t) => (id, t) }.toDF("doc_id", "text")
    val r = graft.ops.TextOps.gopherRepetitionReport(docs, "doc_id", "text")
      .collect().map(row => row.getLong(0) -> row).toMap

    // driver-side replay of the definition (occurrence mass, microunits)
    def masses(text: String, n: Int): Map[String, Long] = {
      val ws = text.split("\\s+").filter(_.nonEmpty).toSeq
      if (ws.size < n) Map.empty
      else ws.sliding(n).map(_.mkString(" ")).toSeq.groupBy(identity)
        .map { case (g, occ) => g -> occ.size.toLong * g.length }
    }
    def micro(num: Long, text: String): Long = {
      val chars = text.split("\\s+").filter(_.nonEmpty).mkString(" ").length
      if (chars == 0) 0L else math.floor(num.toDouble / chars * 1e6 + 0.5).toLong
    }
    def topM(t: String, n: Int) = micro(masses(t, n).values.maxOption.getOrElse(0L), t)
    def dupM(t: String, n: Int) = micro(
      masses(t, n).collect { case (g, m) if m / g.length >= 2 => m }.sum, t)
    texts.foreach { case (id, t) =>
      (2 to 4).foreach(n => assert(
        r(id).getAs[Long](s"top${n}_micro") === topM(t, n), s"doc $id top$n"))
      (5 to 10).foreach(n => assert(
        r(id).getAs[Long](s"dup${n}_micro") === dupM(t, n), s"doc $id dup$n"))
    }
    // hand-pinned anchors: doc 1's top 2-gram "a b" occurs 3x, mass
    // 3·3 = 9 over 11 joined chars
    assert(r(1L).getAs[Long]("top2_micro") === math.floor(9.0 / 11 * 1e6 + 0.5).toLong)
    // doc 9's duplicated 5-grams: "p q r s t" 3x (27) + four wrap
    // variants 2x each (72) = 99 over 29 chars
    assert(r(9L).getAs[Long]("dup5_micro") === math.floor(99.0 / 29 * 1e6 + 0.5).toLong)
    // verdicts: heavy repetition rejected; the 60-unique-word doc kept;
    // the one-word doc (no grams) kept
    assert(!r(1L).getAs[Boolean]("kept") && !r(9L).getAs[Boolean]("kept"))
    assert(r(11L).getAs[Boolean]("kept") && r(3L).getAs[Boolean]("kept"))
  }

  test("RepetitionStats kernel: hash-count triple equals a driver-side " +
    "sorted-run replay on randomized token arrays (ties, no-grams, n=1)") {
    import org.apache.spark.unsafe.types.UTF8String
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    // reference: the exact semantics the declarative run fold had —
    // (cnt, charlen)-lexicographic max over distinct grams, Σ cnt·len
    // for cnt ≥ 2
    def ref(toks: Seq[String], n: Int): (Long, Long, Long) = {
      if (toks.size < n) return (0L, 0L, 0L)
      val counts = toks.sliding(n).map(_.mkString(" ")).toSeq
        .groupBy(identity).toSeq
        .map { case (g, o) => (o.size.toLong, g.length.toLong) }
      val (tc, tl) = counts.max
      (tc, tl, counts.collect { case (c, l) if c >= 2 => c * l }.sum)
    }
    def kernel(toks: Seq[String], n: Int): (Long, Long, Long) = {
      val arr = graft.functions.TextKernels.repetitionStats(
        new GenericArrayData(toks.map(UTF8String.fromString).toArray[Any]), n)
      (arr.getLong(0), arr.getLong(1), arr.getLong(2))
    }
    val rnd = new scala.util.Random(421701)
    val vocab = Seq("a", "bb", "ccc", "xxxxxxxxxx", "y")
    val cases = Seq.fill(60)(Seq.fill(rnd.nextInt(24))(
      vocab(rnd.nextInt(vocab.size)))) ++
      Seq(Seq.empty[String], Seq("solo"), Seq("a", "b", "a", "b", "a", "b"))
    for (toks <- cases; n <- 1 to 6)
      assert(kernel(toks, n) === ref(toks, n), s"toks=$toks n=$n")
  }

  test("source overlap: exact jaccard matches hand-computed sets and the " +
    "minhash estimate matches a driver-side replay of the md5 family") {
    import org.apache.spark.sql.functions._
    // 3 sources built from word pools with KNOWN 3-shingle overlap:
    // srcA and srcB share one doc's text exactly; srcC shares nothing
    val tA = "a b c d e f"   // shingles: abc bcd cde def (4)
    val tB = "a b c d x y"   // shingles: abc bcd cdx dxy (4), shares 2 with A
    val tC = "p q r s t u"   // 4 shingles, disjoint
    import spark.implicits._
    // the duplicate (4L, "A") doc changes nothing set-wise
    val docs = Seq((1L, "A", tA), (2L, "B", tB), (3L, "C", tC), (4L, "A", tA))
      .toDF("doc_id", "source", "text")
    val got = graft.ops.Dedup.sourceOverlap(docs, "source", "text")
      .orderBy("source_a", "source_b")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3), r.getLong(4), r.getDouble(5)))
    assert(got.map(t => (t._1, t._2, t._5, t._6)).toSeq === Seq(
      ("A", "B", 2L, 0.333333), // |∩|=2, |∪|=6, rounded at 6 digits
      ("A", "C", 0L, 0.0),
      ("B", "C", 0L, 0.0)))

    // replay the portable family driver-side: h1/h2 = md5 hex substrings
    // (1,12)/(13,12), coordinate j = min(h1 + j*h2) over the source's
    // shingle union
    def md5hex(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    def shingles3(t: String): Set[String] =
      t.split(" ").sliding(3).map(_.mkString(" ")).toSet
    def sig(sh: Set[String]): Seq[Long] = (0 until 32).map { j =>
      sh.map { s =>
        val h = md5hex(s)
        java.lang.Long.parseLong(h.substring(0, 12), 16) +
          j * java.lang.Long.parseLong(h.substring(12, 24), 16)
      }.min
    }
    def agree(a: Set[String], b: Set[String]): Long =
      sig(a).zip(sig(b)).count { case (x, y) => x == y }.toLong
    val bySrc = Map("A" -> shingles3(tA), "B" -> shingles3(tB), "C" -> shingles3(tC))
    got.foreach { case (sa, sb, nAgree, est, _, _) =>
      val want = agree(bySrc(sa), bySrc(sb))
      assert(nAgree === want, s"$sa-$sb n_agree")
      assert(est === math.rint(want / 32.0 * 1e6) / 1e6, s"$sa-$sb est")
    }
  }

  test("html extraction: hand-written pages extract exactly the " +
    "hand-identified content blocks") {
    import graft.ops.Html
    // a realistic page with every parser trap: raw-text script containing
    // literal markup, attribute values containing '>', comments, entities
    // (named, decimal, hex), uppercase tags, self-closing, inline tags
    // that must NOT split blocks, nested links
    val page =
      """<!DOCTYPE html><HTML><head><title>Ignore me entirely</title>
        |<script type="text/javascript">if (1 < 2) document.write("<p>fake block</p>");</script>
        |<style>.x > p { color: red }</style></head>
        |<body>
        |<nav><a href="/">Home</a> <a href="/a">Archive</a> <a href="/b">Tags</a></nav>
        |<div class="hero" data-x="a > b">
        |  <p>The <b>quick</b> brown fox jumps over the lazy dog today</p>
        |  <p>Short one</p>
        |  <p>M&amp;M&#39;s &lt;cost&gt; &#x34;0 cents per bag in bulk</p>
        |</div>
        |<ul><li>First item of a list that has six words extra</li></ul>
        |<!-- <p>commented out</p> -->
        |<footer><a href="/tos">Terms</a> <a href="/p">Privacy</a> contact us</footer>
        |</body></HTML>""".stripMargin
    val (content, m) = Html.extract(page)
    val lines = content.split("\n").toSeq
    assert(lines === Seq(
      "The quick brown fox jumps over the lazy dog today",
      "M&M's <cost> 40 cents per bag in bulk",
      "First item of a list that has six words extra"),
      s"extracted:\n$content")
    // blocks: nav(3w ld=1), fox(10w), Short one(2w), M&M(8w), li(10w),
    // footer(4w, 2 linked -> ld=0.5 > 1/3 dropped)
    assert(m.nBlocks === 6 && m.nContentBlocks === 3)
    assert(m.totalWords === 3 + 10 + 2 + 8 + 10 + 4)
    assert(m.contentWords === 10 + 8 + 10)

    // link-density boundary: <= 1/3 keeps, above drops
    val boundary =
      """<p><a href="/x">two linked</a> and four plain words</p>
        |<p><a href="/y">three linked words</a> and three plain</p>""".stripMargin
    val (c2, m2) = Html.extract(boundary)
    assert(c2 === "two linked and four plain words", c2)
    assert(m2.nContentBlocks === 1 && m2.totalWords === 12)
  }

  test("html extraction: malformed input is total — never throws, " +
    "plausible text still extracted") {
    import graft.ops.Html
    val cases = Seq(
      "", "<", "<p", "<p attr='unterminated", "plain text with no markup at all here",
      "<p>unclosed paragraph with seven words inside it",
      "<script>never closed raw text", "&#xZZ; &unknown; &amp",
      "<a>link never closed then words words words words words",
      "</p></div></a> stray closers then six more plain words here",
      "<>empty tag<> and <1invalid> angle uses with six words")
    cases.foreach { h =>
      val (c, m) = Html.extract(h) // must not throw
      assert(m.totalWords >= 0 && c != null)
    }
    // unclosed <p>: the tail is still a block
    assert(Html.extract("<p>unclosed paragraph with seven words inside it")._1
      === "unclosed paragraph with seven words inside it")
    // unclosed <a> poisons only link accounting, not totality: all words
    // linked -> dropped by density
    assert(Html.extract(
      "<a>link never closed then words words words words words")._1 === "")
    // a close-tag PREFIX inside script raw text must not end script mode
    // ("</scriptHandler" is not "</script" per the HTML name-boundary
    // rule) — the JS after it must never leak into content
    val sneaky = "<script>if(a</scriptHandler)x=1;</script>" +
      "<p>genuine content of seven plain words here</p>"
    assert(Html.extract(sneaky)._1 ===
      "genuine content of seven plain words here")
    // non-BMP numeric entities expand to a surrogate pair, not a
    // truncated char
    val emoji = Html.extract("<p>smile &#x1F600; wide and four more words</p>")._1
    assert(emoji === "smile 😀 wide and four more words")
    assert(Html.extract("<p>bad &#1114112; ref and four more words</p>")._1
      === "bad &#1114112; ref and four more words") // out of range: literal
  }

  test("html mirror pages extract to the ORIGINAL page's exact content " +
    "(boilerplate-invariance: different chrome + sloppy whitespace)") {
    import graft.ops.Html
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog and then naps " +
        "while twelve more words arrive to fill a second paragraph nicely " +
        "plus a few extra tail words here",
      "a b c d e f g h i j")
    texts.zipWithIndex.foreach { case (t, i) =>
      val id = i.toLong * 7 // mirror-eligible ids
      val (orig, _) = Html.extract(Html.pageFor(id, t))
      val (mirror, _) = Html.extract(Html.mirrorPageFor(id, t))
      assert(orig === mirror, s"doc $id content must be chrome-invariant")
      assert(orig.nonEmpty)
      // no chrome word from EITHER page leaks into content
      Seq("Home", "Contact", "Impressum", "Datenschutz", "kaufen",
        "Privacy", "copyright", "AGB", "Mirror", "Doc").foreach { w =>
        assert(!orig.contains(w), s"chrome word $w leaked")
      }
    }
  }

  test("html fixture round-trip: generator pages extract to exactly the " +
    "formula the oracle replays") {
    import org.apache.spark.sql.functions._
    import graft.ops.Html
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .limit(60)
    val got = Html.extractPages(Html.pages(docs))
      .select("doc_id", "content_words", "total_words", "n_blocks",
        "n_content_blocks")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getInt(3), r.getInt(4))).toMap
    docs.select(col("doc_id").cast("long"), col("text")).collect().foreach { r =>
      val (id, text) = (r.getLong(0), r.getString(1))
      val n = text.trim.split("\\s+").count(_.nonEmpty)
      val sizes = (0 until math.ceil(n / 8.0).toInt)
        .map(p => (p, math.min(8, n - 8 * p)))
      val kept = sizes.filter { case (p, sz) => sz >= 5 && p % 5 != 4 }
      val ads = if (id % 3 == 0) 1 else 0
      val expect = (kept.map(_._2.toLong).sum,
        n.toLong + 13 + 4 * ads,
        sizes.size + 3 + ads, kept.size)
      assert(got(id) === expect, s"doc $id (n=$n)")
    }
  }

  test("DSIR rank-threshold selection breaks weight ties by smaller id, " +
    "matching the orderBy(weight desc, id).limit(k) spelling exactly") {
    import org.apache.spark.sql.functions._
    // all raw docs share ONE text (every weight identical) — selection
    // inside the tie must be exactly the k = 0.25·40 = 10 smallest ids
    val target = (100L until 105L).map(i => (i, "alpha beta gamma"))
    val raw = (0L until 40L).map(i => (i, "alpha beta"))
    val docs = docsDF(target ++ raw)
    val sel = graft.ops.Sampling.dsirSelect(docs, "doc_id", "text",
      isTarget = col("doc_id") >= 100L, dim = 64, keepFrac = 0.25)
      .collect().map(_.getLong(0)).toSet
    assert(sel === (0L until 10L).toSet, s"tie-break must pick smallest ids: $sel")
  }

  test("URL canonicalizer: RFC 3986 normalization + crawl conventions " +
    "against hand-canonicalized cases") {
    val c = graft.functions.UrlKernels.canonicalize _
    // scheme+host lowercase, www strip, default port, fragment drop
    assert(c("HTTP://WWW.Example.COM:80/index.html#top") ===
      "http://example.com/index.html")
    // https default port + trailing FQDN dot
    assert(c("https://Sub.Example.org.:443/a") === "https://sub.example.org/a")
    // non-default port kept
    assert(c("http://example.com:8080/a") === "http://example.com:8080/a")
    // dot segments (RFC 3986 §5.2.4 shapes)
    assert(c("http://h/a/b/c/./../../g") === "http://h/a/g")
    assert(c("http://h/a/../../x") === "http://h/x")
    assert(c("http://h/a/b/..") === "http://h/a/")
    // empty path -> /
    assert(c("http://example.com") === "http://example.com/")
    // duplicate slashes collapse (crawl convention)
    assert(c("http://h//a///b") === "http://h/a/b")
    // percent: unreserved decoded, reserved escape UPPERCASED (never
    // decoded — %2F would change path structure), malformed kept literal
    assert(c("http://h/%7euser/%2fpath/%zz") === "http://h/~user/%2Fpath/%zz")
    // query: bytewise sort, tracking params dropped, empties dropped
    assert(c("http://h/p?b=2&a=1&utm_source=x&fbclid=1") === "http://h/p?a=1&b=2")
    assert(c("http://h/p?utm_campaign=x") === "http://h/p")
    // userinfo and IPv6 literals pass through (IPv6 hex lowercased,
    // default port still recognized after the bracket)
    assert(c("http://user:pw@Example.com/a") === "http://user:pw@example.com/a")
    assert(c("http://[2001:DB8::1]:80/a") === "http://[2001:db8::1]/a")
    // not a URL -> unchanged
    assert(c("not a url") === "not a url")
    // review findings (r15 mid-round pass):
    // a percent-ESCAPED tracking key must decode first, then be dropped —
    // the old order kept it and broke idempotence
    assert(c("http://h/p?%75tm_source=x&a=1") === "http://h/p?a=1")
    // an empty port is elided (RFC 3986 §6.2.3: host: ≡ host)
    assert(c("http://example.com:/a") === "http://example.com/a")
    // idempotence (the q212 fixture pins it across the whole noise grid)
    val once = c("HTTPS://WWW.H.com/a/./b//c/../d?z=1&y=2&utm_x=3#f")
    assert(once === "https://h.com/a/b/d?y=2&z=1")
    assert(c(once) === once)
  }

  test("URL reference resolution: RFC 3986 §5.4 normal examples " +
    "(composed with canonicalization, as the link pipeline applies it)") {
    val base = "http://a/b/c/d;p?q"
    def r(ref: String) = graft.functions.UrlKernels.canonicalize(
      graft.functions.UrlKernels.resolve(base, ref))
    assert(r("g") === "http://a/b/c/g")
    assert(r("./g") === "http://a/b/c/g")
    assert(r("g/") === "http://a/b/c/g/")
    assert(r("/g") === "http://a/g")
    assert(r("//g") === "http://g/")
    assert(r("?y") === "http://a/b/c/d;p?y")
    assert(r("g/../h") === "http://a/b/c/h")
    assert(r("../g") === "http://a/b/g")
    assert(r("../../g") === "http://a/g")
    assert(r("") === "http://a/b/c/d;p?q")
    assert(r("#s") === "http://a/b/c/d;p?q")
    // a ref with its own scheme is already absolute (no // required)
    assert(r("mailto:x@y") === "mailto:x@y")
    // r15 review finding: a base fragment opening right after the
    // authority must not swallow the resolved ref
    assert(graft.functions.UrlKernels.resolve("https://example.com#frag", "/a")
      === "https://example.com/a")
    assert(graft.functions.UrlKernels.resolve("http://a/b#frag", "g")
      === "http://a/g")
  }

  test("HTML link extraction: all planted anchors in order, script-string " +
    "traps excluded, quoting/case/entity forms handled") {
    val H = graft.ops.Html
    // even id: protocol-relative partner link present
    assert(H.links(H.linkPageFor(6L, "one two three")) === Vector(
      "/", "/about",
      "HTTPS://Host0.Example.COM:443/ref/6?utm_source=feed&x=1#s",
      "//Host1.example.com/pp",
      "../sibling1", "/q?a=1&b=2"))
    // odd id: no partner link; absolute target rotates
    assert(H.links(H.linkPageFor(3L, "x")) === Vector(
      "/", "/about",
      "HTTPS://Host4.Example.COM:443/ref/3?utm_source=feed&x=1#s",
      "../sibling3", "/q?a=1&b=2"))
    // raw-text trap: the script body's <a href="/trap"> must never leak
    assert(!H.links(H.linkPageFor(1L, "x")).exists(_.contains("trap")))
    // unquoted href + data-href non-attribute must not match
    assert(H.links("<a href=/u>x</a> <b data-href=\"/no\">y</b>") ===
      Vector("/u"))
    // r15 review finding: a literal "href=" INSIDE another attribute's
    // quoted value must not be mistaken for the anchor target
    assert(H.links("<a title=\"see href=/fake here\" href=\"/real\">x</a>") ===
      Vector("/real"))
    assert(H.links("<a alt='href=/x' rel=nofollow>y</a>") === Vector.empty)
  }

  test("robots.txt: UA group selection past a block-all decoy, " +
    "longest-match precedence, wildcard+anchor, crawl-delay") {
    val R = graft.ops.Robots
    // h=1 fixture: Disallow /q; Allow /q?a=; Disallow /*/sibling3$; delay 2
    val txt = R.robotsFixtureFor(1L)
    val (rules, delay) = R.parse(txt, "graftcrawler/1.0")
    assert(delay === 2)
    val blob = R.compile(rules)
    assert(R.allowed(blob, "/"))
    assert(R.allowed(blob, "/about"))
    assert(R.allowed(blob, "/ref/5?x=1"), "host1 has no /ref/ rule")
    assert(!R.allowed(blob, "/q"), "Disallow /q")
    assert(R.allowed(blob, "/q?a=1&b=2"), "Allow /q?a= is LONGER than /q")
    assert(!R.allowed(blob, "/q?b=2"), "only Disallow /q matches here")
    assert(!R.allowed(blob, "/d/sibling3"), "wildcard+anchor blocks")
    assert(R.allowed(blob, "/d/sibling30"), "$ anchors the END")
    assert(R.allowed(blob, "/d/sibling2"))
    // the decoy group IS selected for its own agent
    val (decoy, _) = R.parse(txt, "graftbot/2.0")
    assert(!R.allowed(R.compile(decoy), "/anything"))
    // no matching group and no * group: everything allowed, no delay
    val (none, d0) = R.parse(txt, "randombot")
    assert(R.allowed(R.compile(none), "/q") && d0 === 0)
    // '*' group applies when nothing specific matches
    val (sr, _) = R.parse("User-agent: *\nDisallow: /x\n", "randombot")
    assert(!R.allowed(R.compile(sr), "/x/y") && R.allowed(R.compile(sr), "/y"))
    // equal-length Allow/Disallow tie resolves to Allow (RFC 9309 §2.2.2)
    val (tr, _) = R.parse("User-agent: *\nDisallow: /p\nAllow: /p\n", "bot")
    assert(R.allowed(R.compile(tr), "/p/z"))
  }

  test("canonicalLinkOf: WHATWG rel token list, case-insensitive, decoys " +
    "and commented/script-string links never leak, first wins") {
    val H = graft.ops.Html
    assert(H.canonicalLinkOf(
      "<html><head><link rel=\"canonical\" href=\"/real\"></head></html>")
      === Some("/real"))
    // rel is a token LIST and case-insensitive
    assert(H.canonicalLinkOf(
      "<link rel=\"Canonical nofollow\" href=\"/c\">") === Some("/c"))
    // stylesheet decoy and rel-less link must not match
    assert(H.canonicalLinkOf(
      "<link rel=\"stylesheet\" href=\"/css\"><link href=\"/x\">") === None)
    // a literal rel=canonical inside a comment or a script string is dead
    assert(H.canonicalLinkOf(
      "<!-- <link rel=\"canonical\" href=\"/dead\"> -->" +
      "<script>var s='<link rel=\"canonical\" href=\"/js\">';</script>")
      === None)
    // first canonical wins (the duplicate-canonical pathology)
    assert(H.canonicalLinkOf(
      "<link rel=canonical href=/first><link rel=canonical href=/second>")
      === Some("/first"))
    // entity-decoded href, single quotes
    assert(H.canonicalLinkOf(
      "<link rel='canonical' href='/p?a=1&amp;b=2'>") === Some("/p?a=1&b=2"))
  }

  test("resolveRedirects: pointer doubling lands exact hop counts; " +
    "cycles, tails into cycles, and over-cap chains report unresolved") {
    import spark.implicits._
    // chain a→b→c→T (3 hops), cycle x→y→x, tail t→x, long chain
    // l0→l1→…→l9→LT (10 hops > cap 8)
    val chain = Seq("a" -> "b", "b" -> "c", "c" -> "T")
    val cycle = Seq("x" -> "y", "y" -> "x", "t" -> "x")
    val long = (0 until 9).map(i => s"l$i" -> s"l${i + 1}") :+ ("l9" -> "LT")
    val edges = (chain ++ cycle ++ long).toDF("src", "dst")
    val got = graft.ops.Crawl.resolveRedirects(edges, "src", "dst", maxHops = 8)
      .collect().map(r => r.getString(0) ->
        (Option(r.getString(1)), Option(r.get(2)).map(_.asInstanceOf[Long])))
      .toMap
    graft.ops.Dedup.releasePersisted()
    assert(got("a") === (Some("T"), Some(3L)))
    assert(got("b") === (Some("T"), Some(2L)))
    assert(got("c") === (Some("T"), Some(1L)))
    assert(got("x") === (None, None), "2-cycle member must not resolve")
    assert(got("y") === (None, None))
    assert(got("t") === (None, None), "tail INTO a cycle must not resolve")
    assert(got("l9") === (Some("LT"), Some(1L)))
    assert(got("l2") === (Some("LT"), Some(8L)), "length exactly = cap resolves")
    assert(got("l1") === (None, None), "length 9 > cap 8 is unresolved")
    assert(got("l0") === (None, None))
    // a NON-FUNCTIONAL log (same src observed with two targets) must
    // reduce to one deterministic row per source (min dst), never fan
    // out through the doubling rounds
    val messy = Seq("a" -> "c", "a" -> "b").toDF("src", "dst")
    val m = graft.ops.Crawl.resolveRedirects(messy, "src", "dst", maxHops = 8)
      .collect()
    graft.ops.Dedup.releasePersisted()
    assert(m.count(_.getString(0) == "a") === 1, "one row per source url")
    assert(m.find(_.getString(0) == "a").get.getString(1) === "b",
      "deterministic min target wins")
  }

  test("neighborhoodFunction exact path: hand graph lands exact per-hop " +
    "pair counts and goes constant past the diameter") {
    import spark.implicits._
    // chain 0-1-2-3 plus the disconnected pair 4-5
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L), (4L, 5L)).toDF("a", "b")
    val got = graft.ops.Analytics.neighborhoodFunction(edges, maxHops = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // h=0: 6 nodes; h=1: 2+3+3+2 +2+2 = 14; h=2: 3+4+4+3+2+2 = 18;
    // h=3: chain complete (4x4) + pair (2x2) = 20; h=4: constant
    assert(got === Map(0L -> 6L, 1L -> 14L, 2L -> 18L, 3L -> 20L,
      4L -> 20L), got.toString)
  }

  test("neighborhoodFunction gate-lifted HyperBall path: per-hop summed " +
    "estimates within 15% of exact on a 512-node chorded ring") {
    import spark.implicits._
    val n = 512L
    val ring = spark.range(n).select(col("id").as("a"),
      pmod(col("id") + 1, lit(n)).as("b"))
    val chords = spark.range(n).select(col("id").as("a"),
      pmod(col("id") * 7 + 3, lit(n)).as("b"))
      .filter(col("a") =!= col("b"))
    val edges = ring.unionByName(chords)
    val exact = graft.ops.Analytics.neighborhoodFunction(edges, maxHops = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val est = graft.ops.Analytics.neighborhoodFunction(edges, maxHops = 3,
        exactNodeThreshold = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (h <- 0L to 3L) {
      val rel = math.abs(est(h) - exact(h)).toDouble / exact(h)
      assert(rel < 0.15, s"hop $h: est=${est(h)} exact=${exact(h)} rel=$rel")
    }
    // balls only grow under max-merge, but the HLL estimator dips
    // slightly at the LC/raw crossover — near-monotone, 3% tolerance
    assert((0L until 3L).forall(h => est(h) <= est(h + 1) * 1.03),
      est.toString)
  }

  test("robots accessVerdict: RFC 9309 access-result classes incl. the " +
    "redirect class and the cache-TTL boundary") {
    import spark.implicits._
    val rows = Seq((200, 1), (200, 24), (200, 25), (301, 1), (404, 1),
      (410, 1), (500, 1), (503, 30)).toDF("status", "age")
    val got = rows.select(col("status"), col("age"),
        graft.ops.Robots.accessVerdict(col("status"), col("age")).as("c"))
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getString(2)).toMap
    assert(got((200, 1)) === "policy")
    assert(got((200, 24)) === "policy", "the 24 h TTL boundary is inclusive")
    assert(got((200, 25)) === "expired_cached")
    assert(got((301, 1)) === "redirect")
    assert(got((404, 1)) === "allow_all", "a 404 robots.txt is NOT a disallow")
    assert(got((410, 1)) === "allow_all")
    assert(got((500, 1)) === "disallow_all", "unreachable = complete disallow")
    assert(got((503, 30)) === "disallow_all")
  }

  test("robots policy join gate: hinted and un-hinted strategies produce " +
    "identical verdicts (broadcast is size-gated, the CC edge-gate pattern)") {
    import spark.implicits._
    val R = graft.ops.Robots
    val docs = (0L until 200L).map(d => (d, s"body $d")).toDF("doc_id", "text")
    val links = graft.ops.Html.extractLinks(graft.ops.Html.linkPages(docs))
    val targets = links.select(
        graft.ops.Urls.canonicalizeUrl(
          graft.ops.Urls.resolveUrl(col("base_url"), col("href"))).as("t"))
      .select(graft.ops.Urls.canonicalHost(col("t")).as("host"),
        R.canonicalPath(col("t")).as("path"))
    val pol = R.compilePolicies(R.fixturePolicyDim(spark), "host", "txt",
      "graftcrawler/1.0")
    val hinted = R.policyVerdicts(targets, pol) // 7 hosts ≤ default gate
    val unhinted = R.policyVerdicts(targets, pol, broadcastHostGate = 0L)
    val keys = Seq("host", "path", "crawl_delay", "allowed")
    val a = hinted.groupBy(keys.map(col): _*).count()
    val b = unhinted.groupBy(keys.map(col): _*).count()
    assert(a.count() === b.count())
    assert(a.join(b, keys :+ "count").count() === a.count(),
      "verdict multisets must be identical across join strategies")
    // below the gate the hint is real: the executed plan broadcasts
    assert(hinted.queryExecution.executedPlan.toString
      .contains("BroadcastHashJoin"))
    // a host with no compiled policy is DEFAULT-ALLOWED with delay 0
    // (RFC 9309: no robots.txt means everything allowed) — it must
    // appear in the output, not vanish through an inner join
    val orphan = Seq(("norobots.example.net", "/any/path"))
      .toDF("host", "path")
    val got = R.policyVerdicts(orphan, pol).collect()
    assert(got.length === 1)
    assert(got.head.getAs[Boolean]("allowed") === true)
    assert(got.head.getAs[Int]("crawl_delay") === 0)
  }

  test("assignWorkers: sorted round-robin = distributed LPT approximation " +
    "(balanced counts, heaviest items spread first)") {
    import spark.implicits._
    val items = Seq(("a", 10L), ("b", 9L), ("c", 8L), ("d", 1L), ("e", 1L))
      .toDF("host", "load")
    val got = graft.ops.Packing.assignWorkers(items, "load", "host", k = 2)
      .collect().map(r => r.getAs[String]("host") -> r.getAs[Long]("worker")).toMap
    // rank by (load desc, host asc): a,b,c,d,e -> workers 0,1,0,1,0
    assert(got === Map("a" -> 0L, "b" -> 1L, "c" -> 0L, "d" -> 1L, "e" -> 0L))
    // per-worker item counts within 1 of each other at any k
    for (k <- Seq(2, 3, 4)) {
      val counts = graft.ops.Packing.assignWorkers(items, "load", "host", k)
        .groupBy("worker").count().collect().map(_.getLong(1))
      assert(counts.max - counts.min <= 1, s"k=$k: ${counts.toSeq}")
    }
  }

  test("canonicalHost skips userinfo and keeps IPv6 literals whole") {
    import spark.implicits._
    val hosts = Seq(
      "http://user:pw@example.com/a",
      "http://[2001:db8::1]:8080/a",
      "https://host3.example.com:8080/p?a=1",
      "http://h/p?x=@y")
      .toDF("u")
      .select(graft.ops.Urls.canonicalHost(col("u")))
      .collect().map(_.getString(0)).toSeq
    assert(hosts === Seq("example.com", "[2001:db8::1]", "host3.example.com", "h"))
  }

  test("gopher top-gram metric reports the MOST FREQUENT gram's mass, not " +
    "the max-mass gram (Rae et al. Table A1; r14 advisory)") {
    // "a b" occurs 3x (len 3, mass 9); "xxxxxxxxxx yyyyyyyyyy" occurs 2x
    // (len 21, mass 42). The paper rule selects the most frequent bigram
    // — mass 9 — while the old max(cnt*len) reading picked mass 42.
    val text = "a b a b a b xxxxxxxxxx yyyyyyyyyy q xxxxxxxxxx yyyyyyyyyy"
    val docs = docsDF(Seq(1L -> text))
    val chars = text.split("\\s+").filter(_.nonEmpty).mkString(" ").length
    val row = graft.ops.TextOps.gopherRepetitionReport(docs, "doc_id", "text")
      .select("top2_micro").collect().head
    val expected = math.floor(9.0 / chars * 1e6 + 0.5).toLong
    assert(row.getLong(0) === expected,
      s"top2 must be the most-frequent bigram's mass (9/$chars), got ${row.getLong(0)}")
  }

  test("q211 line dedup drops zero-token documents (r14 advisory: " +
    "sequence(0,-1) phantom chunks)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("q211_zero").toString
    Seq(
      (1L, "en", "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"),
      (2L, "en", ""),
      (3L, "en", "   \t  \n "),
      (4L, "de", "eins zwei drei vier funf sechs sieben acht"))
      .toDF("doc_id", "lang", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("q211_line_dedup")(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out === Map("en" -> 1L, "de" -> 1L),
      s"empty/whitespace-only docs must contribute no rows (oracle drops them): $out")
  }

  test("fetch triage sniff: magic before BOM before meta before UTF-8 " +
    "scan before cp1252 fallback; strict UTF-8 validation edges") {
    import java.nio.charset.StandardCharsets._
    val S = graft.ops.Sniff
    // binary magic
    assert(S.sniff(Array(0x1F.toByte, 0x8B.toByte, 1, 2))._1 === "gzip")
    assert(S.sniff("%PDF-1.4 junk".getBytes(US_ASCII))._1 === "pdf")
    assert(S.sniff(Array(0x89.toByte, 'P', 'N', 'G', 13, 10, 26, 10))._1 === "png")
    // BOMs win over meta
    val bomU8 = Array[Byte](0xEF.toByte, 0xBB.toByte, 0xBF.toByte) ++
      "<html charset=lies>é</html>".getBytes(UTF_8)
    assert(S.sniff(bomU8) === ("html", "utf-8", 27L))
    val bom16 = Array[Byte](0xFF.toByte, 0xFE.toByte) ++
      "<p>x</p>".getBytes(UTF_16LE)
    assert(S.sniff(bom16) === ("html", "utf-16le", 8L))
    // meta declaration (ASCII-level scan works whatever the body bytes)
    val latin = "<meta charset='iso-8859-1'>café".getBytes(ISO_8859_1)
    assert(S.sniff(latin) === ("html", "iso-8859-1", 31L))
    // clean multibyte UTF-8 without BOM or meta
    assert(S.sniff("héllo".getBytes(UTF_8)) === ("text", "utf-8", 5L))
    // invalid UTF-8 falls back to windows-1252
    assert(S.sniff("café".getBytes(ISO_8859_1)) ===
      ("text", "windows-1252", 4L))
    // validator edges: overlongs, stray continuation, surrogates, >10FFFF
    assert(!S.validUtf8(Array(0xC0.toByte, 0xAF.toByte)), "overlong 2-byte")
    assert(!S.validUtf8(Array(0x80.toByte)), "stray continuation")
    assert(!S.validUtf8(Array(0xE0.toByte, 0x80.toByte, 0x80.toByte)), "overlong 3-byte")
    assert(!S.validUtf8(Array(0xED.toByte, 0xA0.toByte, 0x80.toByte)), "surrogate")
    assert(!S.validUtf8(Array(0xF5.toByte, 0x80.toByte, 0x80.toByte, 0x80.toByte)), "beyond U+10FFFF")
    assert(!S.validUtf8("é".getBytes(UTF_8).take(1)), "truncated sequence")
    assert(S.validUtf8("naïve 😀 text".getBytes(UTF_8)))
    // leading whitespace before '<' still classifies html
    assert(S.sniff("  \n <div>x</div>".getBytes(US_ASCII))._1 === "html")
  }

  test("plan pins: URL/PSL kernels stay inside one whole-stage codegen " +
    "span with zero exchanges; the sitemap discovery delta is a real " +
    "anti-join, never a nested-loop product") {
    import spark.implicits._
    val U = graft.ops.Urls
    // non-local source so ConvertToLocalRelation can't fold the plan
    val kernels = spark.range(1000)
      .select(U.canonicalizeUrl(U.noisyUrl(col("id"))).as("c"))
      .select(U.registrableDomain(U.canonicalHost(col("c"))).as("d"))
    val kPlan = kernels.queryExecution.executedPlan.toString
    assert(kPlan.contains("*(1)"), s"kernels must codegen: $kPlan")
    assert(!kPlan.contains("Exchange"), s"row-local kernels must not shuffle: $kPlan")
    val docs = (0L until 70L).map(d => (d, s"text $d")).toDF("doc_id", "text")
    val dPlan = graft.ops.Sitemaps.fixtureDiscoveryReport(docs)
      .queryExecution.executedPlan.toString
    assert(dPlan.contains("LeftAnti"), s"discovery delta must be an anti-join: $dPlan")
    assert(!dPlan.contains("NestedLoop") && !dPlan.contains("Cartesian"),
      s"anti-join must be hash/merge, never a product: $dPlan")
  }

  test("second review pass: commented-out markup never poisons sitemap " +
    "framing or charset detection; quoted '>' keeps the in-tag state; " +
    "BOM-less declared utf-16 maps to utf-8 (WHATWG)") {
    import java.nio.charset.StandardCharsets._
    // a commented </url> inside a body must not end the entry
    assert(graft.ops.Sitemaps.parse(
      "<urlset><url><!-- </url> --><loc>https://a.com/x</loc></url></urlset>")
      .map(_.loc) === Vector("https://a.com/x"))
    // a commented <url> block stays invisible (carried behavior)
    assert(graft.ops.Sitemaps.parse(
      "<urlset><!-- <url><loc>https://no.com/</loc></url> -->" +
        "<url><loc>https://a.com/y</loc></url></urlset>")
      .map(_.loc) === Vector("https://a.com/y"))
    val S = graft.ops.Sniff
    // commented-out legacy meta must not beat the real declaration
    assert(S.sniff(("<!-- <meta charset=\"iso-8859-1\"> -->" +
      "<meta charset=\"utf-8\">héllo").getBytes(UTF_8))._2 === "utf-8")
    // an attribute value containing '>' does not end the tag for the
    // in-tag test: the later charset in the SAME tag still wins
    assert(S.sniff("<meta data-x=\"a>b\" charset=\"iso-8859-1\">café"
      .getBytes(ISO_8859_1))._2 === "iso-8859-1")
    // declared utf-16 without a BOM is ASCII-readable by construction:
    // WHATWG maps it to utf-8 and the body decodes readably
    val u16 = S.sniff("<meta charset=\"utf-16\">hello".getBytes(US_ASCII))
    assert(u16 === ("html", "utf-8", 28L))
  }

  test("review findings: charset word in prose/attribute never poisons " +
    "the verdict; undecodable declared charsets fall through the " +
    "cascade consistently") {
    import java.nio.charset.StandardCharsets._
    val S = graft.ops.Sniff
    // prose mentioning "charset" (review finding: bare-word match)
    assert(S.sniff("charset problems with café text".getBytes(ISO_8859_1)) ===
      ("text", "windows-1252", 31L))
    // accept-charset attribute is not a declaration
    assert(S.sniff("<form accept-charset=\"latin1\">café</form>"
      .getBytes(ISO_8859_1))._2 === "windows-1252")
    // a later REAL declaration still wins past earlier prose
    assert(S.sniff("charset talk <meta charset=\"iso-8859-1\">café"
      .getBytes(ISO_8859_1))._2 === "iso-8859-1")
    // unknown declared name: verdict reports the decode that actually
    // ran, not the bogus name (review finding)
    val fantasy = S.sniff("<meta charset=\"x-fantasy\">café".getBytes(ISO_8859_1))
    assert(fantasy._2 === "windows-1252" && fantasy._3 === 30L)
  }

  test("review findings: unclosed <a> implicitly closes at the next " +
    "anchor (HTML5), never pinning link depth or merging anchors") {
    val H = graft.ops.Html
    // legacy <a name> never closed: later anchors still pair correctly
    assert(H.linksWithText(
      "<a name=\"s1\">Section<p><a href=\"/x\">one</a> <a href=\"/y\">two</a>") ===
      Vector("/x" -> "one", "/y" -> "two"))
    // back-to-back unclosed href anchors: each keeps its own text
    assert(H.linksWithText("<a href=\"/x\">one <a href=\"/y\">two</a>") ===
      Vector("/x" -> "one", "/y" -> "two"))
    // a stray </a> is a no-op
    assert(H.linksWithText("</a><a href=\"/z\">z</a>") === Vector("/z" -> "z"))
  }

  test("review findings: a <url> entry missing its close tag neither " +
    "swallows well-formed siblings nor matches </urlset>") {
    val S = graft.ops.Sitemaps
    val broken =
      "<urlset><url><loc>https://a.com/1</loc>" + // missing </url>
        "<url><loc>https://a.com/2</loc></url></urlset>"
    assert(S.parse(broken).map(_.loc) ===
      Vector("https://a.com/1", "https://a.com/2"))
    // no </url> at all: the entry ends at </urlset>, loc intact
    val tail = "<urlset><url><loc>https://a.com/3</loc></urlset>"
    assert(S.parse(tail).map(_.loc) === Vector("https://a.com/3"))
  }

  test("WARC parse: byte-exact framing past multi-byte payloads, header " +
    "case-insensitivity, 404 status, unframeable-record magic skip, " +
    "lying Content-Length, junk tolerance") {
    val W = graft.ops.Warc
    import java.nio.charset.StandardCharsets.UTF_8
    // fixture file with the é trap (d=30: %10==0 two-byte é, %3==0 so a
    // request record FOLLOWS the multi-byte response)
    val recs30 = W.parse(W.warcFixtureFor(30L))
    assert(recs30.map(_.warcType) === Vector("response", "request"),
      "char-counting framing would lose the trailing request record")
    assert(recs30.head.status === 200)
    assert(recs30.head.bodyBytes === 50 + 30 % 101 + 2, "body counts OCTETS")
    assert(recs30.head.targetUri === "https://host2.example.com/d/30/page")
    assert(recs30.head.date === "2024-01-01T00:00:30Z")
    // 404 every 9th doc
    assert(W.parse(W.warcFixtureFor(9L)).head.status === 404)
    // header names are case-insensitive
    val lower = ("warc/1.0\r\n".replace("warc", "WARC") +
      "warc-type: response\r\ncontent-length: 5\r\n\r\nab\r\nc\r\n\r\n").getBytes(UTF_8)
    val lowRecs = W.parse(lower)
    assert(lowRecs.size === 1 && lowRecs.head.warcType === "response")
    // missing Content-Length: skip to the next magic, keep the rest
    val missing = ("WARC/1.0\r\nWARC-Type: response\r\n\r\npayload" +
      new String(W.warcFixtureFor(1L), UTF_8)).getBytes(UTF_8)
    assert(W.parse(missing).map(_.warcType) === Vector("response"))
    assert(W.parse(missing).head.bodyBytes === 50 + 1)
    // lying (over-long) Content-Length: record dropped, no crash
    val lying = "WARC/1.0\r\nWARC-Type: response\r\nContent-Length: 99999\r\n\r\nx".getBytes(UTF_8)
    assert(W.parse(lying) === Vector.empty)
    // junk before/after records is ignored
    val junk = "garbage ".getBytes(UTF_8) ++ W.warcFixtureFor(2L) ++ " trailing".getBytes(UTF_8)
    assert(W.parse(junk).map(_.warcType) === Vector("response"))
    assert(W.parse("no records here".getBytes(UTF_8)) === Vector.empty)
  }

  test("WARC responseBodies: byte-exact body slice + declared " +
    "Content-Type header; composed sniff flags the planted " +
    "gzip-as-text/html pathology") {
    val W = graft.ops.Warc
    // d=16: d%4=0 -> declared octet-stream; d%6=4 -> gzip body
    val Vector((uri16, ct16, body16)) = W.responseBodies(W.triageWarcFixtureFor(16L))
    assert(uri16 === "https://host2.example.com/t/16")
    assert(ct16 === "application/octet-stream")
    assert(graft.ops.Sniff.sniff(body16)._1 === "gzip")
    // d=10: declared text/html (10%4=2) but body is gzip (10%6=4) — the
    // planted mismatch
    val Vector((_, ct10, body10)) = W.responseBodies(W.triageWarcFixtureFor(10L))
    assert(ct10 === "text/html" && graft.ops.Sniff.sniff(body10)._1 === "gzip")
    // d=1: text/html declared, utf-16le html body — byte-exact slice
    // must keep the BOM so the sniff sees it
    val Vector((_, ct1, body1)) = W.responseBodies(W.triageWarcFixtureFor(1L))
    assert(ct1 === "text/html")
    assert(graft.ops.Sniff.sniff(body1) === ("html", "utf-16le",
      "<html><body>doc 1</body></html>".length.toLong))
    // the q225 fixture (no Content-Type on requests, body after headers)
    val fromCensus = W.responseBodies(W.warcFixtureFor(3L))
    assert(fromCensus.size === 1 && fromCensus.head._2 === "text/html")
    assert(fromCensus.head._3.length === 50 + 3)
  }

  test("PSL kernel: longest rule, wildcard, exception-wins, implicit-* " +
    "fallback, suffix-only hosts, case insensitivity") {
    import org.apache.spark.unsafe.types.UTF8String.{fromString => u}
    val P = graft.functions.PslKernels
    def ps(h: String) = P.publicSuffix(u(h)).toString
    def rd(h: String) = P.registrableDomain(u(h)).toString
    // longest matching rule: co.uk beats uk
    assert(ps("a.blog.co.uk") === "co.uk" && rd("a.blog.co.uk") === "blog.co.uk")
    assert(ps("x.ac.uk") === "ac.uk" && rd("b.x.ac.uk") === "x.ac.uk")
    // plain gTLD; www is an ordinary label
    assert(rd("www.site5.com") === "site5.com")
    // private-domain entry: each github.io user is a separate site
    assert(ps("cdn.u3.github.io") === "github.io" &&
      rd("cdn.u3.github.io") === "u3.github.io")
    // wildcard *.ck: any single label + ck is a suffix
    assert(ps("a.x1.y2.ck") === "y2.ck" && rd("a.x1.y2.ck") === "x1.y2.ck")
    // exception !www.ck beats the wildcard: www.ck is registrable
    assert(ps("b0.www.ck") === "ck" && rd("b0.www.ck") === "www.ck")
    assert(rd("www.ck") === "www.ck")
    // unknown TLD: implicit * rule
    assert(ps("internal.corp.lan") === "lan" && rd("internal.corp.lan") === "corp.lan")
    // a host that IS a public suffix has no registrable domain
    assert(rd("co.uk") === "" && rd("github.io") === "" && rd("com") === "")
    // case-insensitive
    assert(rd("WWW.Site5.COM") === "site5.com")
  }

  test("linksWithText: anchor text captured entity-decoded and collapsed; " +
    "inline tags inside the anchor keep the text; href-less anchors " +
    "yield no pair; raw-text traps stay out") {
    val H = graft.ops.Html
    assert(H.linksWithText("<a href=\"/x\">Hello &amp; <b>world</b></a>") ===
      Vector("/x" -> "Hello & world"))
    assert(H.linksWithText("<p><a href='/a'>one</a> mid <a href=/b>two  words</a></p>") ===
      Vector("/a" -> "one", "/b" -> "two words"))
    // no href: no pair (but an outer anchor still owns its text)
    assert(H.linksWithText("<a name=\"x\">plain</a>") === Vector.empty)
    // unterminated trailing anchor keeps what it captured
    assert(H.linksWithText("<a href=\"/t\">tail text") ===
      Vector("/t" -> "tail text"))
    // script-string anchor must not leak
    assert(H.linksWithText(
      "<script>var s = \"<a href=\\\"/trap\\\">no</a>\";</script>" +
        "<a href=\"/real\">yes</a>") === Vector("/real" -> "yes"))
    // the link fixture's anchors carry their formula texts
    val got = H.linksWithText(H.linkPageFor(8L, "w1 w2 w3")).toMap
    assert(got.values.toSet.contains("read more 8"))
    assert(got.values.toSet.intersect(Set("Home", "About", "prev", "search"))
      .size === 4)
  }

  test("sitemap parse: urlset entries, entity decode, image:loc trap, " +
    "whitespace trim, missing fields, loc-less entries dropped") {
    val S = graft.ops.Sitemaps
    val xml =
      """<?xml version="1.0" encoding="UTF-8"?>
        |<!-- a comment with a fake <url><loc>https://no.example.com/</loc></url> -->
        |<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
        |  <url>
        |    <loc>https://a.example.com/p?x=1&amp;y=2</loc>
        |    <lastmod>2024-03-05</lastmod>
        |    <changefreq>daily</changefreq>
        |    <priority>0.8</priority>
        |    <image:image><image:loc>https://a.example.com/i.png</image:loc></image:image>
        |  </url>
        |  <url><loc>  https://b.example.com/q  </loc></url>
        |  <url><changefreq>weekly</changefreq></url>
        |</urlset>""".stripMargin
    val got = S.parse(xml)
    assert(got.size === 2, s"loc-less entry dropped, comment ignored: $got")
    assert(got(0) === S.Entry("url", "https://a.example.com/p?x=1&y=2",
      "2024-03-05", "daily", "0.8"))
    assert(got(1) === S.Entry("url", "https://b.example.com/q", null, null, null))
  }

  test("sitemap parse: sitemapindex children; junk files parse empty; " +
    "self-closing tags skipped") {
    val S = graft.ops.Sitemaps
    val idx =
      """<sitemapindex>
        |  <sitemap><loc>https://h.example.com/s1.xml</loc>
        |    <lastmod>2024-01-02</lastmod></sitemap>
        |  <sitemap>
        |    <loc>https://h.example.com/s2.xml</loc>
        |  </sitemap>
        |  <sitemap/>
        |</sitemapindex>""".stripMargin
    val got = S.parse(idx)
    assert(got.map(_.kind).toSet === Set("sitemap"))
    assert(got.map(_.loc) === Vector("https://h.example.com/s1.xml",
      "https://h.example.com/s2.xml"))
    assert(got(0).lastmod === "2024-01-02" && got(1).lastmod === null)
    assert(S.parse("not xml at all") === Vector.empty)
    assert(S.parse("<html><body><a href='/x'>y</a></body></html>") === Vector.empty)
  }

  test("decodeXmlEntities: named, numeric, hex, non-BMP, unknown and " +
    "unterminated kept literal") {
    val S = graft.ops.Sitemaps
    assert(S.decodeXmlEntities("a&amp;b&lt;c&gt;d&quot;e&apos;f") ===
      "a&b<c>d\"e'f")
    assert(S.decodeXmlEntities("x&#65;y&#x42;z") === "xAyBz")
    assert(S.decodeXmlEntities("g&#x1F600;h") === "g😀h")
    assert(S.decodeXmlEntities("keep &nbsp; and &unterminated") ===
      "keep &nbsp; and &unterminated")
    assert(S.decodeXmlEntities("no entities") === "no entities")
  }

  test("recrawl estimator: microunit floors sit far from integer " +
    "boundaries across the whole (n<=64, x<n) space, and the codegen " +
    "column agrees with the scala replay") {
    import spark.implicits._
    for (n <- 1 to 64; x <- 0 until n) {
      val v = -1e6 * math.log((n - x + 0.5) / (n + 0.5))
      val fr = v - math.floor(v)
      assert(v == 0.0 || math.min(fr, 1 - fr) > 1e-7,
        s"n=$n x=$x lands within libm slack of a floor boundary: $v")
    }
    val grid = (for (n <- 3 to 7; x <- 0 until n) yield (n.toLong, x.toLong))
      .toDF("n", "x")
    val got = grid.select(col("n"), col("x"),
        graft.ops.Crawl.changeRateMicro(col("n"), col("x")).as("lm"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    for (((n, x), lm) <- got) {
      val expected = math.floor(-1e6 * math.log((n - x + 0.5) / (n + 0.5))).toLong
      assert(lm === expected, s"n=$n x=$x")
      assert(x > 0 || lm === 0L, "never-changed URLs estimate exactly 0")
    }
  }

  test("recrawlReport: hand history lands in the right revisit buckets") {
    import spark.implicits._
    // lambda_micro: (4,0)=0 -> revisit 30 (cold); (4,4)=2197224 -> 1 (hot);
    // (6,1)=167054 -> 5 (warm); (3,1)=336472 -> 2 (hot)
    val hist = Seq(
      ("h1", "u1", 4L, 0L), ("h1", "u2", 4L, 4L),
      ("h2", "u3", 6L, 1L), ("h2", "u4", 3L, 1L))
      .toDF("host", "url", "n", "x")
    val got = graft.ops.Crawl.recrawlReport(hist, "host", "url", "n", "x")
      .orderBy("host").collect()
    val h1 = got(0); val h2 = got(1)
    assert(h1.getAs[Long]("n_urls") === 2 && h1.getAs[Long]("n_hot") === 1 &&
      h1.getAs[Long]("n_warm") === 0 && h1.getAs[Long]("n_cold") === 1)
    assert(h1.getAs[Long]("revisit_budget") === 31)
    assert(h2.getAs[Long]("n_hot") === 1 && h2.getAs[Long]("n_warm") === 1 &&
      h2.getAs[Long]("n_cold") === 0)
    val lm64 = math.floor(-1e6 * math.log((6 - 1 + 0.5) / (6 + 0.5))).toLong
    val lm31 = math.floor(-1e6 * math.log((3 - 1 + 0.5) / (3 + 0.5))).toLong
    assert(h2.getAs[Long]("lambda_mass") === lm64 + lm31)
  }

  test("trapReport: the planted calendar-trap host flags; clean hosts " +
    "sit at exactly ratio 1e6") {
    import spark.implicits._
    val docs = (0L until 100L).map(d => (d, s"text $d")).toDF("doc_id", "text")
    val got = graft.ops.Crawl.trapReport(
        graft.ops.Crawl.fixtureFetchLog(docs), "url", "content")
      .collect().map(r => r.getAs[String]("host") ->
        (r.getAs[Long]("n_urls"), r.getAs[Long]("n_contents"),
          r.getAs[Long]("ratio_micro"), r.getAs[Boolean]("trap"))).toMap
    // doc ids 0..99: m = doc_id, host m%7; host3 logical urls = |{m: m%7==3}|
    val host3Urls = (0L until 100L).count(_ % 7 == 3)
    val traps = (0L until 100L).count(_ % 4 == 1) // all land on host3
    val (u3, c3, r3, t3) = got("host3.example.com")
    assert(u3 === host3Urls + traps, "trap URLs are canonical-unique per doc")
    assert(c3 === host3Urls + 3, "traps serve only 3 distinct contents")
    assert(r3 === math.floor(1000000.0 * u3 / c3).toLong && t3,
      s"host3 must flag: ratio=$r3")
    for ((h, (u, c, r, t)) <- got if h != "host3.example.com") {
      assert(u === c && r === 1000000L && !t, s"$h must not flag")
    }
  }

  test("sitemap discovery report: per-host census matches the formula " +
    "replay incl. the anti-join delta on a small corpus") {
    import spark.implicits._
    val n = 70L
    val docs = (0L until n).map(d => (d, s"text $d")).toDF("doc_id", "text")
    val got = graft.ops.Sitemaps.fixtureDiscoveryReport(docs)
      .collect().map(r => r.getAs[String]("host") -> r).toMap
    // formula replay in plain scala
    val frontier = (0L until n).flatMap { d =>
      val h = d % 7
      Seq(s"https://host$h.example.com/",
        s"https://host$h.example.com/about",
        s"https://host${(d + 1) % 7}.example.com/ref/${d % 23}?x=1",
        s"https://host$h.example.com/d/sibling${d % 5}",
        s"https://host$h.example.com/q?a=1&b=2") ++
        (if (d % 2 == 0) Seq(s"https://host${(d + 2) % 7}.example.com/pp")
         else Seq.empty)
    }.toSet
    for (h <- 0L until 7L) {
      val urlDocs = (0L until n).filter(d => d % 7 == h && d % 5 != 0)
      val idxDocs = (0L until n).filter(d => d % 7 == h && d % 5 == 0)
      val entries = urlDocs.flatMap(d => Seq(
        s"https://host$h.example.com/ref/${d % 23}?x=1",
        s"https://host$h.example.com/s/${d % 13}",
        s"https://host$h.example.com/about"))
      val row = got(s"host$h.example.com")
      assert(row.getAs[Long]("n_entries") === entries.size)
      assert(row.getAs[Long]("n_children") === 2L * idxDocs.size)
      assert(row.getAs[Long]("n_new") === entries.count(!frontier.contains(_)),
        s"host $h discovery delta")
      assert(row.getAs[Long]("n_daily") === urlDocs.count(_ % 3 == 0))
      assert(row.getAs[Long]("prio_tenths") ===
        urlDocs.map(d => (1 + d % 9) + 5 + 5).sum)
      val lastmod = urlDocs.map(d =>
        java.time.LocalDate.of(2024, 1, 1).plusDays(d % 365)).max
      assert(row.getAs[java.sql.Date]("latest_lastmod").toLocalDate === lastmod)
    }
  }
}
