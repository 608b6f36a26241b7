package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{CosineSimilarityFloat, DotProductFloat}

/** Similarity search over embedding columns (`Array[Float]`).
  *
  * Two paths:
  *  - [[bruteForceTopK]] — exact: broadcast the (small) query set against
  *    the corpus; the inner product is the codegen'd
  *    [[graft.functions.CosineSimilarityFloat]] kernel; top-k via a window
  *    partitioned BY QUERY (never a global sort).
  *  - [[lshTopK]] — approximate scale path: random-hyperplane LSH buckets
  *    corpus + queries; only same/multi-probe buckets are scored. At 1000
  *    executors this turns an O(Q×N) scan into an O(Q×N/2^bits × probes)
  *    bucket join keyed by the signature.
  */
object Similarity {

  import org.apache.spark.sql.GraftSqlBridge.{column, expression}

  def cosine(a: Column, b: Column): Column =
    column(CosineSimilarityFloat(expression(a), expression(b)))

  def dot(a: Column, b: Column): Column =
    column(DotProductFloat(expression(a), expression(b)))

  /** Two-phase per-query top-k over a scored frame: cut to k per (input
    * partition, query) first, THEN rank globally. A single global
    * `Window.partitionBy(q_id)` would shuffle the ENTIRE scored corpus
    * into |queries| reducers — a single-reducer hotspot whenever the
    * query set is small (the common ANN shape: few queries, huge
    * corpus). The pre-cut keeps every reducer's input ≤ partitions·k
    * rows and is lossless: the global top-k is a subset of the union of
    * per-partition top-ks, and both phases use the same deterministic
    * (sim desc, c_id) order.
    */
  private def topKPerQuery(scored: DataFrame, k: Int,
      simCol: String = "sim"): DataFrame = {
    val pre = scored
      .withColumn("__pid", spark_partition_id())
      .withColumn("__r0", row_number().over(Window
        .partitionBy(col("__pid"), col("q_id"))
        .orderBy(col(simCol).desc, col("c_id"))))
      .filter(col("__r0") <= k).drop("__pid", "__r0")
    pre.withColumn("rank", row_number().over(Window
      .partitionBy(col("q_id")).orderBy(col(simCol).desc, col("c_id"))))
      .filter(col("rank") <= k)
  }

  /** Exact cosine top-k: every query row scored against every corpus row.
    * `queries` must be broadcast-sized (it is hinted); ties broken by
    * corpus id for determinism.
    */
  def bruteForceTopK(
      queries: DataFrame, // (q_id, q_vec)
      corpus: DataFrame, // (c_id, c_vec)
      k: Int): DataFrame = {
    val scored = corpus.crossJoin(broadcast(queries))
      .withColumn("sim", cosine(col("q_vec"), col("c_vec")))
    topKPerQuery(scored, k)
      .select(col("q_id"), col("c_id"), col("sim"), col("rank").cast("long").as("rank"))
  }

  /** Deterministic random hyperplanes (seeded), as literal arrays — no
    * data-dependent state, so plans are reproducible across runs.
    */
  def hyperplanes(dim: Int, bits: Int, seed: Long = 42L): Seq[Array[Float]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(bits)(Array.fill(dim)((rnd.nextGaussian()).toFloat))
  }

  /** Sign-bit signature of `vec` under the hyperplanes. */
  def lshSignature(vec: Column, planes: Seq[Array[Float]]): Column =
    planes.zipWithIndex.map { case (p, i) =>
      val plane = lit(p).cast("array<float>")
      when(dot(vec, plane) >= 0, shiftleft(lit(1L), i)).otherwise(lit(0L))
    }.reduce(_.bitwiseOR(_))

  /** Approximate top-k: score only corpus rows whose LSH bucket matches
    * the query's (single-probe). Recall is tunable via `bits`; with b bits
    * buckets hold ~N/2^b rows.
    */
  def lshTopK(
      queries: DataFrame, // (q_id, q_vec)
      corpus: DataFrame, // (c_id, c_vec)
      k: Int,
      dim: Int,
      bits: Int = 8,
      seed: Long = 42L): DataFrame = {
    val planes = hyperplanes(dim, bits, seed)
    val cb = corpus.withColumn("bucket", lshSignature(col("c_vec"), planes))
    val qb = queries.withColumn("bucket", lshSignature(col("q_vec"), planes))
    val scored = cb.join(broadcast(qb), Seq("bucket"))
      .withColumn("sim", cosine(col("q_vec"), col("c_vec")))
    topKPerQuery(scored, k)
      .select(col("q_id"), col("c_id"), col("sim"), col("rank").cast("long").as("rank"))
  }

  // ------------------------------------------------- deterministic sign-LSH

  /** Banded sign-bit signature: band `b` packs the sign bits
    * (`component > 0`) of dimensions `[b*bandBits, (b+1)*bandBits)`.
    * Axis-aligned hyperplane LSH: pure comparisons, zero float
    * arithmetic, so the bucketing is bit-for-bit reproducible in any
    * engine (the DuckDB oracle recomputes it) — unlike the seeded
    * random hyperplanes of [[lshSignature]], whose dot products depend
    * on engine-private float summation. Banding (agree on ANY band)
    * gives multi-probe-style recall, and finer per-band buckets avoid
    * the quadratic blowup of few coarse buckets at scale.
    */
  def signBands(vec: Column, bands: Int, bandBits: Int): Column =
    array((0 until bands).map { b =>
      struct(lit(b).as("band"),
        (0 until bandBits).map { d =>
          when(vec.getItem(b * bandBits + d) > 0f, lit(1 << d)).otherwise(lit(0))
        }.reduce(_ + _).as("bh"))
    }: _*)

  /** Approximate top-k with deterministic sign-band buckets: corpus rows
    * sharing ≥ 1 band with the query are scored with the exact codegen'd
    * cosine kernel; window top-k per query.
    */
  def signLshTopK(
      queries: DataFrame, // (q_id, q_vec)
      corpus: DataFrame, // (c_id, c_vec)
      k: Int,
      bands: Int = 4,
      bandBits: Int = 4): DataFrame = {
    val qb = queries.select(col("q_id"),
      explode(signBands(col("q_vec"), bands, bandBits)).as("bucket"))
    val cb = corpus.select(col("c_id"),
      explode(signBands(col("c_vec"), bands, bandBits)).as("bucket"))
    val candIds = cb.join(broadcast(qb), Seq("bucket"))
      .select("q_id", "c_id").distinct()
    val scored = candIds
      .join(corpus, "c_id")
      .join(broadcast(queries), "q_id")
      .withColumn("sim", cosine(col("q_vec"), col("c_vec")))
    topKPerQuery(scored, k)
      .select(col("q_id"), col("c_id"), col("sim"), col("rank").cast("long").as("rank"))
  }

  /** Embedding near-dup pairs with deterministic sign-band candidates:
    * pairs sharing ≥ 1 band, verified with exact cosine ≥ threshold.
    * The candidate rule is engine-reproducible, so the full output is
    * oracle-checkable; recall follows the banded-LSH tradeoff.
    */
  def signEmbeddingDuplicates(
      vectors: DataFrame, // (id, vec)
      threshold: Double = 0.9,
      bands: Int = 4,
      bandBits: Int = 4): DataFrame = {
    val bk = vectors.select(col("id"),
      explode(signBands(col("vec"), bands, bandBits)).as("bucket"))
    val candIds = bk.select(col("id").as("id_a"), col("bucket"))
      .join(bk.select(col("id").as("id_b"), col("bucket")), Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    candIds
      .join(vectors.select(col("id").as("id_a"), col("vec").as("vec_a")), Seq("id_a"))
      .join(vectors.select(col("id").as("id_b"), col("vec").as("vec_b")), Seq("id_b"))
      .withColumn("sim", cosine(col("vec_a"), col("vec_b")))
      .filter(col("sim") >= threshold)
      .select("id_a", "id_b", "sim")
  }

  // --------------------------------------------------------------- IVF ANN

  /** IVF (inverted-file) ANN — the centroid-quantized scale path: a
    * k-means coarse quantizer (`nlist` cells, fixed seed) partitions the
    * corpus into cells; each query probes only its `nprobe` nearest
    * cells and scores those rows with the exact codegen'd cosine kernel.
    * At 1000 executors this reads `nprobe/nlist` of the corpus per query
    * — the classic IVF-Flat layout — and the cell assignment is a plain
    * column (partition/bucket it for locality at rest). Training cost is
    * one k-means over (a sample of) the corpus, done once per index.
    */
  def ivfTopK(
      queries: DataFrame, // (q_id, q_vec)
      corpus: DataFrame, // (c_id, c_vec)
      k: Int,
      nlist: Int = 16,
      nprobe: Int = 4,
      seed: Long = 42L): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector

    val trainable = corpus
      .withColumn("features", array_to_vector(col("c_vec").cast("array<double>")))
    val model = new KMeans().setK(nlist).setSeed(seed).setFeaturesCol("features")
      .fit(trainable)
    // Centroids are tiny (nlist × dim) — a broadcast-literal table.
    val centroids = model.clusterCenters.zipWithIndex.map { case (c, i) =>
      (i, c.toArray.map(_.toFloat))
    }
    val centroidDF = corpus.sparkSession.createDataFrame(centroids.toSeq)
      .toDF("cell", "centroid")

    val assigned = model.transform(trainable)
      .select(col("c_id"), col("c_vec"), col("prediction").as("cell"))

    probeAndScore(queries, assigned, centroidDF, k, nprobe)
  }

  /** Squared L2 distance via the codegen'd dot kernel. */
  private def d2(v: Column, c: Column): Column =
    dot(v, v) - lit(2.0) * dot(v, c) + dot(c, c)

  /** IVF-Flat with a FIXED centroid table `(cell, centroid)` — the
    * deterministic variant the driver gate oracles: k-means training isn't
    * engine-reproducible, but with given centroids the assignment
    * (nearest centroid by L2, ties to the lower cell) and the probe/score
    * path are exactly [[ivfTopK]]'s. Assignment is a map-side-combinable
    * `min(struct(d2, cell))` aggregate over a broadcast centroid cross —
    * one corpus shuffle, no window over the full corpus.
    */
  def ivfTopKWithCentroids(
      queries: DataFrame, // (q_id, q_vec)
      corpus: DataFrame, // (c_id, c_vec)
      centroids: DataFrame, // (cell, centroid)
      k: Int,
      nprobe: Int): DataFrame =
    probeAndScore(queries, assignCells(corpus, centroids), centroids, k, nprobe)

  /** Nearest-centroid cell assignment (L2, ties to the lower cell) —
    * one map-side-combinable `min(struct(d2, cell))` aggregate over a
    * broadcast centroid cross. Factored out so incremental index
    * maintenance ([[Incremental.maintainIvfIndex]]) assigns only
    * changed rows with the identical rule.
    */
  def assignCells(
      corpus: DataFrame, // (c_id, c_vec)
      centroids: DataFrame): DataFrame = // (cell, centroid)
    corpus.crossJoin(broadcast(centroids))
      .withColumn("dd", d2(col("c_vec"), col("centroid")))
      .groupBy(col("c_id"))
      .agg(
        min(struct(col("dd"), col("cell"))).getField("cell").as("cell"),
        first(col("c_vec")).as("c_vec"))

  /** Shared IVF probe/score: each query ranks the centroids (broadcast
    * nested loop over a tiny table), keeps its nprobe nearest cells, and
    * scores only those cells' corpus rows with the exact cosine kernel.
    */
  private def probeAndScore(
      queries: DataFrame, // (q_id, q_vec)
      assigned: DataFrame, // (c_id, c_vec, cell)
      centroids: DataFrame, // (cell, centroid)
      k: Int,
      nprobe: Int): DataFrame = {
    val qCells = queries.crossJoin(broadcast(centroids))
      .withColumn("dd", d2(col("q_vec"), col("centroid")))
      .withColumn("cr", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("dd"), col("cell"))))
      .filter(col("cr") <= nprobe)
      .select(col("q_id"), col("q_vec"), col("cell"))

    val scored = assigned.join(broadcast(qCells), Seq("cell"))
      .withColumn("sim", cosine(col("q_vec"), col("c_vec")))
    topKPerQuery(scored, k)
      .select(col("q_id"), col("c_id"), col("sim"), col("rank").cast("long").as("rank"))
  }

  // ----------------------------------------------------- semantic dedup

  /** SemDeDup (Abbas et al., arXiv:2303.09540): cluster-scoped semantic
    * deduplication. Vectors are assigned to their nearest centroid (same
    * fixed-centroid assignment as [[ivfTopKWithCentroids]] — L2, ties to
    * the lower cell); within each cell every pair is scored with the
    * exact cosine kernel, and a vector is a DUPLICATE when some
    * lower-id vector in its cell has cosine ≥ `threshold` with it. Each
    * duplicate reports the minimum such neighbor as `dup_of`; survivors
    * (`kept = true`) form the deduplicated corpus.
    *
    * Shape at 100 TB: the all-pairs scan is WITHIN-CELL only — cell
    * population is corpus/nlist by construction (size the centroid count
    * so cells fit comfortably in a task), so the join is a bucket
    * equi-join on `cell` with bounded fan-out, never a global cross
    * join. Assignment is one broadcast-centroid pass + a map-side-
    * combinable min-aggregate; the output is one row per vector.
    */
  def semanticDuplicates(
      vectors: DataFrame, // (id, vec)
      centroids: DataFrame, // (cell, centroid)
      threshold: Double): DataFrame = {
    val assigned = vectors.crossJoin(broadcast(centroids))
      .withColumn("dd", d2(col("vec"), col("centroid")))
      .groupBy(col("id"))
      .agg(
        min(struct(col("dd"), col("cell"))).getField("cell").as("cell"),
        first(col("vec")).as("vec"))
    val a = assigned.select(col("id").as("id_a"), col("vec").as("vec_a"), col("cell"))
    val b = assigned.select(col("id").as("id_b"), col("vec").as("vec_b"), col("cell"))
    val dupOf = a.join(b, Seq("cell"))
      .filter(col("id_a") < col("id_b"))
      .filter(cosine(col("vec_a"), col("vec_b")) >= threshold)
      .groupBy(col("id_b").as("id"))
      .agg(min(col("id_a")).as("dup_of"))
    assigned.select(col("id"), col("cell"))
      .join(dupOf, Seq("id"), "left")
      .withColumn("kept", col("dup_of").isNull)
  }

  // ------------------------------------------------- scalar quantization

  /** Per-dimension quantization bounds learned in ONE aggregation pass:
    * `(lo, span)` per dimension, `span = max-lo` (1.0 when the dimension
    * is constant, so the encode divide is always defined). The result is
    * 2·dim doubles — literal-broadcast scale, never a shuffle consumer.
    * Map-side combinable: posexplode → groupBy(pos) min/max.
    */
  def sqBounds(corpus: DataFrame, vecCol: String): (Array[Double], Array[Double]) = {
    val rows = corpus
      .select(posexplode(col(vecCol).cast("array<double>")).as(Seq("pos", "v")))
      .groupBy(col("pos")).agg(min(col("v")).as("lo"), max(col("v")).as("hi"))
      .collect()
    val d = rows.map(_.getInt(0)).max + 1
    val lo = new Array[Double](d)
    val span = new Array[Double](d)
    rows.foreach { r =>
      val i = r.getInt(0)
      lo(i) = r.getDouble(1)
      val s = r.getDouble(2) - r.getDouble(1)
      span(i) = if (s == 0.0) 1.0 else s
    }
    (lo, span)
  }

  /** SQ8 encode: one uint8 code per dimension,
    * `clamp(round((x - lo)/span * 255), 0, 255)` — 4x smaller than
    * float32 at rest, and exactly the arithmetic a relational engine
    * reproduces (the driver oracle is bit-identical on the codes).
    */
  def sqEncode(vec: Column, lo: Array[Double], span: Array[Double]): Column = {
    val loL = lit(lo)
    val spanL = lit(span)
    transform(vec.cast("array<double>"), (x, i) =>
      least(greatest(
        round((x - element_at(loL, i + 1)) / element_at(spanL, i + 1) * 255.0),
        lit(0.0)), lit(255.0)).cast("int"))
  }

  /** Reconstruction `lo + code·span/255` — the asymmetric-distance
    * operand (query stays float; candidates are decoded from codes).
    */
  def sqDecode(codes: Column, lo: Array[Double], span: Array[Double]): Column = {
    val loL = lit(lo)
    val spanL = lit(span)
    transform(codes, (c, i) =>
      element_at(loL, i + 1) +
        c.cast("double") * element_at(spanL, i + 1) / 255.0)
  }

  /** SQ8 approximate top-k (FAISS `ScalarQuantizer` layout; the scalar
    * baseline of Jégou et al., "Product Quantization for Nearest Neighbor
    * Search", IEEE TPAMI 2011): the corpus is scanned as uint8 CODES —
    * 4x fewer bytes than float32 — scoring each query against the
    * RECONSTRUCTED vectors, keeping `refine·k` candidates per query, then
    * reranking exactly on the original float vectors.
    *
    * 100 TB shape: training is one map-side-combinable min/max pass;
    * bounds are 2·dim literal doubles. The codes column is what you'd
    * store at rest (alongside or instead of the raw vectors) — the
    * candidate scan reads 1/4 the bytes, and composes with the IVF cell
    * layout ([[ivfTopKWithCentroids]]) for the sub-linear read: cells
    * prune WHICH rows are scanned, codes shrink HOW MUCH each scanned row
    * costs. The rerank join touches only `refine·k` originals per query.
    */
  /** IVF-SQ8: the FAISS `IVF,SQ8` layout — cells prune WHICH rows are
    * scanned (nprobe/nlist of the corpus per query), codes shrink HOW
    * MUCH each scanned row costs (uint8 reconstruction scoring), exact
    * rerank on the refine·k survivors. Fixed centroids keep the whole
    * cascade engine-reproducible (same contract as
    * [[ivfTopKWithCentroids]]); SQ bounds are trained on the FULL corpus
    * in one pass — per-cell bounds would complicate the oracle for a
    * negligible quantization-error win at 8 bits.
    */
  def ivfSqTopK(
      queries: DataFrame, // (q_id, q_vec)
      corpus: DataFrame, // (c_id, c_vec)
      centroids: DataFrame, // (cell, centroid)
      k: Int,
      nprobe: Int,
      refine: Int = 4): DataFrame = {
    val (lo, span) = sqBounds(corpus, "c_vec")
    val assigned = corpus.crossJoin(broadcast(centroids))
      .withColumn("dd", d2(col("c_vec"), col("centroid")))
      .groupBy(col("c_id"))
      .agg(
        min(struct(col("dd"), col("cell"))).getField("cell").as("cell"),
        first(col("c_vec")).as("c_vec"))
      .withColumn("recon",
        sqDecode(sqEncode(col("c_vec"), lo, span), lo, span).cast("array<float>"))
    val qCells = queries.crossJoin(broadcast(centroids))
      .withColumn("dd", d2(col("q_vec"), col("centroid")))
      .withColumn("cr", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("dd"), col("cell"))))
      .filter(col("cr") <= nprobe)
      .select(col("q_id"), col("q_vec"), col("cell"))
    val approx = assigned.join(broadcast(qCells), Seq("cell"))
      .withColumn("asim", cosine(col("q_vec"), col("recon")))
    val candidates = topKPerQuery(approx, k * refine, simCol = "asim")
      .drop("rank")
    topKPerQuery(
      candidates.withColumn("sim", cosine(col("q_vec"), col("c_vec"))), k)
      .select(col("q_id"), col("c_id"), col("sim"), col("rank").cast("long").as("rank"))
  }

  def sqTopK(
      queries: DataFrame, // (q_id, q_vec)
      corpus: DataFrame, // (c_id, c_vec)
      k: Int,
      refine: Int = 4): DataFrame = {
    val (lo, span) = sqBounds(corpus, "c_vec")
    val encoded = corpus.withColumn("codes", sqEncode(col("c_vec"), lo, span))
    // approximate pass: float kernel over the reconstruction (same
    // rounding class as the exact kernel; candidate cut has a refine-k
    // safety margin, ties broken by id)
    val approx = encoded
      .withColumn("recon", sqDecode(col("codes"), lo, span).cast("array<float>"))
      .crossJoin(broadcast(queries))
      .withColumn("asim", cosine(col("q_vec"), col("recon")))
    // the candidate cut and the final rerank both go through the
    // two-phase top-k (see topKPerQuery) — the code scan's output must
    // never funnel into |queries| reducers
    val candidates = topKPerQuery(approx, k * refine, simCol = "asim")
      .drop("rank")
    // exact rerank on the original vectors the candidates carried along
    topKPerQuery(
      candidates.withColumn("sim", cosine(col("q_vec"), col("c_vec"))), k)
      .select(col("q_id"), col("c_id"), col("sim"), col("rank").cast("long").as("rank"))
  }

  // ------------------------------------------------ product quantization

  /** Per-subspace PQ codebooks (Jégou et al., "Product Quantization for
    * Nearest Neighbor Search", IEEE TPAMI 2011 §II): the vector is split
    * into `m` contiguous subvectors and each subspace gets its own
    * `ks`-centroid codebook from ONE deterministic Lloyd step — seeds are
    * the first `ks` corpus vectors by id (sliced per subspace), one
    * argmin assignment (squared L2, ties to the lower centroid), one
    * quantized-mean update (sums rounded to 4 before the divide, means to
    * 6 — the [[KMeans]] discipline, so an external engine replays the
    * training bit-for-bit). A subspace cluster that lost every member
    * keeps its seed.
    *
    * Scale shape: training is m codegen argmin passes + m map-side-
    * combinable groupBy(cluster, dim) aggregations; the returned codebook
    * is m·ks·(dim/m) doubles of driver state — literal-broadcast scale.
    * At 100 TB you would train on a corpus sample; the encode/score path
    * below is what runs over the full corpus.
    */
  def pqCodebooks(
      corpus: DataFrame, // (c_id, c_vec)
      dim: Int,
      m: Int,
      ks: Int): Array[Array[Array[Double]]] = {
    require(dim % m == 0, s"dim $dim must divide into $m subspaces")
    val dsub = dim / m
    val seeds = corpus.orderBy(col("c_id")).limit(ks)
      .select(col("c_vec").cast("array<double>"))
      .collect().map(_.getSeq[Double](0).toArray)
    (0 until m).map { s =>
      val sv = slice(col("c_vec").cast("array<double>"), s * dsub + 1, dsub)
      val sub = corpus.select(sv.as("sv"))
      val seedSubs = seeds.map(_.slice(s * dsub, (s + 1) * dsub))
      val dists = seedSubs.zipWithIndex.map { case (c, j) =>
        struct(round(aggregate(
          zip_with(col("sv"), lit(c), (a, b) => (a - b) * (a - b)),
          lit(0.0), (acc, x) => acc + x), 8).as("d"), lit(j).as("c"))
      }
      val updated = sub
        .withColumn("cluster", array_min(array(dists.toIndexedSeq: _*)).getField("c"))
        .select(col("cluster"), posexplode(col("sv")).as(Seq("dim", "v")))
        .groupBy(col("cluster"), col("dim"))
        .agg((round(sum(col("v")), 4) / count(lit(1))).as("m"))
        .groupBy(col("cluster"))
        .agg(aggregate(
          array_sort(collect_list(struct(col("dim"), col("m")))),
          array().cast("array<double>"),
          (acc, x) => concat(acc, array(round(x.getField("m"), 6)))).as("centroid"))
        .collect().map(r => r.getInt(0) -> r.getSeq[Double](1).toArray).toMap
      (0 until ks).map(j => updated.getOrElse(j, seedSubs(j))).toArray
    }.toArray
  }

  /** PQ encode as a pure codegen expression — each subvector becomes the
    * id of its nearest subspace centroid (ties to the lower id), so a
    * dim-float vector stores as m small ints. No shuffle: the corpus is
    * scanned once with literal codebooks.
    */
  def pqEncode(vec: Column, codebooks: Array[Array[Array[Double]]]): Column = {
    val m = codebooks.length
    val dsub = codebooks(0)(0).length
    array((0 until m).map { s =>
      val sv = slice(vec.cast("array<double>"), s * dsub + 1, dsub)
      val dists = codebooks(s).zipWithIndex.map { case (c, j) =>
        struct(round(aggregate(
          zip_with(sv, lit(c), (a, b) => (a - b) * (a - b)),
          lit(0.0), (acc, x) => acc + x), 8).as("d"), lit(j).as("c"))
      }
      array_min(array(dists.toIndexedSeq: _*)).getField("c")
    }: _*)
  }

  /** Asymmetric-distance lookup table for one query side: flat
    * `m·ks`-double array in (subspace-major, centroid) order, entry =
    * squared L2 between the query's subvector and that subspace centroid
    * (rounded to 8, the same grid the encode argmin uses).
    */
  private def pqLut(qVec: Column, codebooks: Array[Array[Array[Double]]]): Column = {
    val dsub = codebooks(0)(0).length
    array(codebooks.toIndexedSeq.zipWithIndex.flatMap { case (cb, s) =>
      val sv = slice(qVec.cast("array<double>"), s * dsub + 1, dsub)
      cb.toIndexedSeq.map { c =>
        round(aggregate(
          zip_with(sv, lit(c), (a, b) => (a - b) * (a - b)),
          lit(0.0), (acc, x) => acc + x), 8)
      }
    }: _*)
  }

  /** PQ-ADC approximate top-k (Jégou et al. 2011 §III): corpus rows are
    * scanned as m-int CODES; each query carries its m·ks-entry LUT and a
    * candidate's approximate distance is m table lookups summed in
    * subspace order (left fold — replayable), no per-dimension arithmetic
    * at scan time. The `refine·k` nearest by ADC are reranked with the
    * exact cosine kernel on the original vectors.
    *
    * 100 TB shape: the scan reads m ints per row instead of dim floats
    * (16x fewer bytes at dim=64/m=4 before encoding width), the LUT is
    * computed once per query (m·ks doubles, broadcast with the query),
    * both ranking passes go through the two-phase top-k so the code scan
    * never funnels into |queries| reducers, and the rerank touches only
    * refine·k originals per query. Composes with the IVF cell layout the
    * same way [[ivfSqTopK]] does.
    */
  def pqTopK(
      queries: DataFrame, // (q_id, q_vec)
      corpus: DataFrame, // (c_id, c_vec)
      dim: Int,
      k: Int,
      m: Int = 4,
      ks: Int = 8,
      refine: Int = 4): DataFrame = {
    val codebooks = pqCodebooks(corpus, dim, m, ks)
    val encoded = corpus.withColumn("codes", pqEncode(col("c_vec"), codebooks))
    val qWithLut = queries.withColumn("lut", pqLut(col("q_vec"), codebooks))
    val scored = encoded.crossJoin(broadcast(qWithLut))
      // ADC: fold the code array in subspace order; entries are on the
      // round-8 grid so the 4-term fold is reproducible, and the round-6
      // output quantizes any residual last-ulp noise away from the cut
      .withColumn("adist", round(aggregate(
        transform(col("codes"), (c, i) => element_at(col("lut"), i * ks + c + 1)),
        lit(0.0), (acc, x) => acc + x), 6))
      .withColumn("asim", -col("adist"))
    val candidates = topKPerQuery(scored, k * refine, simCol = "asim")
      .drop("rank")
    topKPerQuery(
      candidates.withColumn("sim", cosine(col("q_vec"), col("c_vec"))), k)
      .select(col("q_id"), col("c_id"), col("sim"), col("rank").cast("long").as("rank"))
  }

  /** IVF-PQ (Jégou et al. 2011 §IV — the composed FAISS `IVF,PQ`
    * layout), with PQ over cell RESIDUALS as the paper prescribes: cells
    * prune WHICH rows each query scans (nprobe/nlist of the corpus),
    * residual PQ codes shrink HOW MUCH each scanned row costs (m table
    * lookups), exact rerank on the refine·k survivors. The codebooks are
    * trained on `vec − centroid(cell(vec))` — residuals concentrate
    * around the origin, which is why the composition quantizes better
    * than PQ on raw vectors — and the ADC lookup table is built per
    * (query, probed cell) from the query's residual against that cell.
    * Fixed centroids keep the whole cascade engine-reproducible (same
    * contract as [[ivfTopKWithCentroids]]).
    */
  def ivfPqTopK(
      queries: DataFrame, // (q_id, q_vec)
      corpus: DataFrame, // (c_id, c_vec)
      centroids: DataFrame, // (cell, centroid)
      dim: Int,
      k: Int,
      m: Int = 4,
      ks: Int = 8,
      nprobe: Int = 2,
      refine: Int = 4): DataFrame = {
    val assigned = corpus.crossJoin(broadcast(centroids))
      .withColumn("dd", d2(col("c_vec"), col("centroid")))
      .groupBy(col("c_id"))
      .agg(
        min(struct(col("dd"), col("cell"))).getField("cell").as("cell"),
        first(col("c_vec")).as("c_vec"))
      .join(broadcast(centroids), Seq("cell"))
      .withColumn("r_vec", zip_with(
        col("c_vec").cast("array<double>"), col("centroid").cast("array<double>"),
        (a, b) => a - b))
    val codebooks = pqCodebooks(
      assigned.select(col("c_id"), col("r_vec").as("c_vec")), dim, m, ks)
    val encoded = assigned
      .withColumn("codes", pqEncode(col("r_vec"), codebooks))
      .drop("r_vec", "centroid")
    val qCells = queries.crossJoin(broadcast(centroids))
      .withColumn("dd", d2(col("q_vec"), col("centroid")))
      .withColumn("cr", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("dd"), col("cell"))))
      .filter(col("cr") <= nprobe)
      .withColumn("lut", pqLut(zip_with(
        col("q_vec").cast("array<double>"), col("centroid").cast("array<double>"),
        (a, b) => a - b), codebooks))
      .select(col("q_id"), col("q_vec"), col("cell"), col("lut"))
    val scored = encoded.join(broadcast(qCells), Seq("cell"))
      .withColumn("adist", round(aggregate(
        transform(col("codes"), (c, i) => element_at(col("lut"), i * ks + c + 1)),
        lit(0.0), (acc, x) => acc + x), 6))
      .withColumn("asim", -col("adist"))
    val candidates = topKPerQuery(scored, k * refine, simCol = "asim")
      .drop("rank")
    topKPerQuery(
      candidates.withColumn("sim", cosine(col("q_vec"), col("c_vec"))), k)
      .select(col("q_id"), col("c_id"), col("sim"), col("rank").cast("long").as("rank"))
  }

  /** Hybrid retrieval: a BM25 keyword list fused with an embedding-cosine
    * list by Reciprocal Rank Fusion (Cormack et al., SIGIR'09):
    * `rrf(d) = Σ_list 1/(k0 + rank_list(d))`, a list that missed the doc
    * contributing nothing. RRF needs only the two top-`poolSize` RANK
    * lists — the expensive legs stay the existing shuffle-free BM25 scan
    * and the broadcast cosine plan; the fusion itself is one outer join
    * over ≤ 2·poolSize rows, so at 100 TB the cost IS the two retrievers.
    *
    * Ranks are deterministic (score desc, id) and the fused score uses
    * exact integer-denominator divisions, so an external engine replays
    * the fusion bit-for-bit given the same lists.
    */
  def hybridTopK(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      vectors: DataFrame, // (id, vec): dense embeddings aligned with idCol
      vecIdCol: String,
      vecCol: String,
      queryTerms: Seq[String],
      queryVec: Array[Float],
      k: Int = 10,
      poolSize: Int = 20,
      k0: Int = 60): DataFrame = {
    val bm = Bm25.bm25TopK(docs, idCol, textCol, queryTerms, poolSize)
      // bm25TopK returns the ordered top list; re-derive the rank as a
      // column (poolSize rows — the single-partition window is bounded)
      .withColumn("r_bm",
        row_number().over(Window.orderBy(col("score").desc, col("doc_id"))))
      .select(col("doc_id"), col("r_bm"))
    val spark = docs.sparkSession
    val queries = spark.range(1).select(lit(0L).as("q_id"),
      lit(queryVec).cast("array<float>").as("q_vec"))
    val cos = bruteForceTopK(queries,
      vectors.select(col(vecIdCol).as("c_id"), col(vecCol).as("c_vec")), poolSize)
      .select(col("c_id").as("doc_id"), col("rank").as("r_cos"))
    bm.join(cos, Seq("doc_id"), "full_outer")
      .withColumn("rrf", round(
        coalesce(lit(1.0) / (lit(k0) + col("r_bm")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(k0) + col("r_cos")), lit(0.0)), 6))
      .orderBy(col("rrf").desc, col("doc_id"))
      .limit(k)
      .select(col("doc_id"), col("rrf"))
  }

  /** Maximal Marginal Relevance (Carbonell & Goldstein, SIGIR'98)
    * diversified top-k: from each query's `poolSize` most-relevant
    * candidates, greedily pick k — the first by pure relevance, each
    * next by `λ·rel − (1−λ)·max-sim-to-already-picked`. The classic
    * redundancy killer for retrieval-augmented sampling: near-identical
    * top hits collapse to one representative.
    *
    * Every greedy round is distributed: the per-query argmax folds into
    * one `max(struct(score, -id))` aggregate (no window over the
    * candidate set), the picked item joins back against the bounded
    * within-pool pairwise-similarity frame (≤ poolSize² rows per query,
    * built once), and the running max-sim updates with a `greatest`.
    * Ties break toward the smallest candidate id, so the selection is
    * exactly replayable — the oracle unrolls the same k rounds in SQL.
    */
  def mmrTopK(
      queries: DataFrame, // (q_id, q_vec)
      corpus: DataFrame, // (c_id, c_vec)
      poolSize: Int = 8,
      k: Int = 3,
      lambda: Double = 0.7): DataFrame = {
    require(k >= 1 && k <= poolSize && k <= 8, s"k=$k pool=$poolSize")
    require(lambda > 0.0 && lambda <= 1.0, s"lambda=$lambda")
    val cand = bruteForceTopK(queries, corpus, poolSize)
      .select(col("q_id"), col("c_id"), col("sim").as("rel"))
    // explicit broadcast: the candidate-key frame is |queries|·poolSize
    // rows but DERIVED (no planner stats), so without the hint the
    // static threshold never fires and the corpus would shuffle on c_id
    val withVec = corpus.join(
      broadcast(cand.select(col("q_id"), col("c_id"))), Seq("c_id"))
    val ps = withVec.select(col("q_id"), col("c_id"), col("c_vec").as("__va"))
      .join(withVec.select(col("q_id"), col("c_id").as("d_id"),
        col("c_vec").as("__vb")), Seq("q_id"))
      .filter(col("c_id") =!= col("d_id"))
      .select(col("q_id"), col("c_id"), col("d_id"),
        cosine(col("__va"), col("__vb")).as("s"))
    // -inf, not 0: the running max-similarity must be the RAW maximum
    // (greatest(-inf, s) = s), or a negative similarity to the first
    // pick would be clamped and the engine would diverge from the MMR
    // definition (and from the oracle) whenever pairwise sims go
    // negative. The first round scores on rel alone and never reads ms.
    var remaining = cand.withColumn("ms", lit(Double.NegativeInfinity))
    var out: DataFrame = null
    for (i <- 1 to k) {
      val score =
        if (i == 1) col("rel")
        else lit(lambda) * col("rel") - lit(1.0 - lambda) * col("ms")
      val sel = remaining.withColumn("__sc", score)
        .groupBy(col("q_id"))
        .agg(max(struct(col("__sc").as("sc"), (-col("c_id")).as("nc"))).as("__b"))
        .select(col("q_id"), (-col("__b.nc")).as("c_id"))
      val picked = sel.join(cand, Seq("q_id", "c_id"))
        .select(col("q_id"), lit(i.toLong).as("rank"), col("c_id"), col("rel"))
      out = if (out == null) picked else out.union(picked)
      if (i < k) {
        remaining = remaining
          .join(sel.withColumnRenamed("c_id", "d_id"), Seq("q_id"))
          .filter(col("c_id") =!= col("d_id"))
          .join(ps, Seq("q_id", "c_id", "d_id"))
          .select(col("q_id"), col("c_id"), col("rel"),
            greatest(col("ms"), col("s")).as("ms"))
      }
    }
    out.select(col("q_id"), col("rank"), col("c_id"),
      round(col("rel"), 3).as("rel"))
  }

  /** Hard-negative mining for contrastive training: for each query, the
    * k most-similar corpus vectors whose LABEL DIFFERS (the negatives a
    * random sampler would almost never surface). Same broadcast-queries
    * scan shape as [[bruteForceTopK]] — the label filter runs before
    * the top-k cut, so negatives never crowd out of the pool.
    */
  def hardNegatives(
      queries: DataFrame, // (q_id, q_vec, q_label)
      corpus: DataFrame, // (c_id, c_vec, c_label)
      k: Int): DataFrame = {
    val scored = corpus.crossJoin(broadcast(queries))
      .filter(col("c_label") =!= col("q_label"))
      .withColumn("sim", cosine(col("q_vec"), col("c_vec")))
    topKPerQuery(scored, k)
      .select(col("q_id"), col("rank").cast("long").as("rank"),
        col("c_id"), col("c_label"), round(col("sim"), 3).as("sim"))
  }

  /** ANN recall report: per-query recall@k of an approximate top-k
    * against the exact brute-force top-k — the measurement that turns
    * "approximate" into a number. Both sides arrive as (q_id, c_id)
    * rank lists; recall = |approx ∩ exact| / |exact| per query. One
    * inner join on (q_id, c_id) + two bounded aggregates.
    */
  def recallReport(
      approx: DataFrame, // (q_id, c_id, ...)
      exact: DataFrame): DataFrame = { // (q_id, c_id, ...)
    val hits = approx.select(col("q_id"), col("c_id"))
      .join(exact.select(col("q_id"), col("c_id")), Seq("q_id", "c_id"))
      .groupBy(col("q_id")).agg(count(lit(1)).as("__hit"))
    exact.groupBy(col("q_id")).agg(count(lit(1)).as("__n"))
      .join(hits, Seq("q_id"), "left")
      .select(col("q_id"),
        coalesce(col("__hit"), lit(0L)).as("n_hits"),
        col("__n").as("n_exact"),
        round(coalesce(col("__hit"), lit(0L)).cast("double") / col("__n"), 6)
          .as("recall"))
  }

  /** Pairwise centroid-drift matrix between labeled embedding groups —
    * the embedding-space health check (did two sources/epochs land in
    * the same region, did a class collapse into another). Centroids
    * accumulate as FLOOR-quantized integer sums (floor(x·2^20) — exact
    * in both engines, no round-half ties, partition-order independent),
    * so the per-dimension means and the final L2 distances are
    * identical doubles everywhere.
    *
    * Shape at scale: one posexplode scan into a (label, dim) combinable
    * aggregate — labels·dim cells of state, corpus-size independent;
    * the pairwise matrix is labels² · dim joined on the dim key.
    */
  def centroidDrift(
      vectors: DataFrame,
      vecCol: String,
      labelCol: String,
      scale: Long = 1L << 20): DataFrame = {
    val cells = vectors
      .select(col(labelCol).as("lbl"),
        posexplode(col(vecCol).cast("array<double>")).as(Seq("i", "x")))
      .groupBy(col("lbl"), col("i"))
      .agg(count(lit(1)).as("n"),
        sum(floor(col("x") * scale).cast("long")).as("q"))
      .select(col("lbl"), col("i"),
        (col("q").cast("double") / (col("n") * scale)).as("m"))
    val a = cells.select(col("lbl").as("label_a"), col("i"), col("m").as("ma"))
    val b = cells.select(col("lbl").as("label_b"), col("i"), col("m").as("mb"))
    a.join(b, Seq("i"))
      .filter(col("label_a") < col("label_b"))
      .groupBy(col("label_a"), col("label_b"))
      .agg(round(sqrt(sum((col("ma") - col("mb")) * (col("ma") - col("mb")))), 6)
        .as("dist"))
  }

  /** Retrieval-quality metrics over label relevance — MRR and NDCG@k
    * per query, treating corpus items sharing the query's label as
    * relevant (self excluded): the standing evaluation loop for the
    * ANN/retrieval family. NDCG uses the retrieved-set ideal (the R
    * relevant hits of the top-k re-ranked to the front), so every
    * number is self-contained in the top-k list and exactly replayable.
    * log2 discounts are ln(i+1)/ln(2) in both engines.
    *
    * Shape at scale: the broadcast-queries top-k scan (the measured
    * [[bruteForceTopK]] plan — swap in any ANN variant's top-k for its
    * recall curve) plus one bounded per-query aggregate over k rows.
    */
  def retrievalMetrics(
      queries: DataFrame, // (q_id, q_vec, q_label)
      corpus: DataFrame, // (c_id, c_vec, c_label)
      k: Int): DataFrame = {
    val scored = corpus.crossJoin(broadcast(queries))
      .filter(col("c_id") =!= col("q_id"))
      .withColumn("sim", cosine(col("q_vec"), col("c_vec")))
    val top = topKPerQuery(scored, k)
      .withColumn("rel",
        when(col("c_label") === col("q_label"), 1).otherwise(0))
    val ln2 = math.log(2.0)
    top.groupBy(col("q_id"))
      .agg(
        sum(col("rel")).cast("long").as("n_rel"),
        min(when(col("rel") === 1, col("rank"))).cast("long").as("__fr"),
        sum(col("rel").cast("double") /
          (log(col("rank") + lit(1.0)) / lit(ln2))).as("__dcg"))
      .withColumn("mrr", round(coalesce(
        lit(1.0) / col("__fr"), lit(0.0)), 6))
      .withColumn("__idcg",
        when(col("n_rel") === 0, lit(0.0)).otherwise(
          expr("aggregate(sequence(1L, n_rel), 0.0d, " +
            "(a, i) -> a + 1.0d / (ln(i + 1.0d) / ln(2.0d)))")))
      .withColumn("ndcg", when(col("n_rel") === 0, lit(0.0))
        .otherwise(round(col("__dcg") / col("__idcg"), 6)))
      .select(col("q_id"), col("n_rel"),
        coalesce(col("__fr"), lit(0L)).as("first_rel_rank"),
        col("mrr"), col("ndcg"))
  }

  /** kNN label audit (the Confident-Learning-style mislabel screen):
    * for each query vector, the majority label among its k nearest
    * corpus neighbors (self excluded; ties toward the smaller label);
    * `suspect` marks vectors whose own label disagrees with their
    * neighborhood. The per-query majority folds into one
    * `max(struct(freq, -label))` aggregate — no second window.
    */
  def knnLabelAudit(
      queries: DataFrame, // (q_id, q_vec, q_label)
      corpus: DataFrame, // (c_id, c_vec, c_label)
      k: Int): DataFrame = {
    val scored = corpus.crossJoin(broadcast(queries))
      .filter(col("c_id") =!= col("q_id"))
      .withColumn("sim", cosine(col("q_vec"), col("c_vec")))
    val nn = topKPerQuery(scored, k)
    nn.groupBy(col("q_id"), col("q_label"), col("c_label"))
      .agg(count(lit(1)).as("__f"))
      .groupBy(col("q_id"), col("q_label"))
      .agg(max(struct(col("__f").as("f"),
        (-col("c_label")).as("nl"))).as("__b"))
      .select(col("q_id").as("vec_id"), col("q_label").as("label"),
        (-col("__b.nl")).cast("int").as("knn_label"))
      .withColumn("suspect", col("knn_label") =!= col("label"))
  }

  /** Truncation (Matryoshka) retrieval-quality audit (Kusupati et al.,
    * "Matryoshka Representation Learning", NeurIPS 2022): per query, the
    * cosine top-1 neighbor on the FULL vector vs on its `dims`-prefix
    * truncation — the measurement behind serving embeddings at a
    * fraction of their stored width. One broadcast-query scored scan
    * carries both similarities; each top-1 goes through the lossless
    * partition pre-cut (no per-query reducer hotspot). Self-matches are
    * excluded; ties break to the smaller corpus id on both rankings.
    */
  def truncationAgreement(
      queries: DataFrame, // (q_id, q_vec)
      corpus: DataFrame, // (c_id, c_vec)
      dims: Int): DataFrame = {
    require(dims > 0, s"dims must be positive, got $dims")
    val scored = corpus.crossJoin(broadcast(queries))
      .filter(col("c_id") =!= col("q_id"))
      .withColumn("sim", cosine(col("q_vec"), col("c_vec")))
      .withColumn("sim_t",
        cosine(slice(col("q_vec"), 1, dims), slice(col("c_vec"), 1, dims)))
    val fullTop = topKPerQuery(scored, 1)
      .select(col("q_id"), col("c_id").as("full_top1"),
        round(col("sim"), 4).as("sim_full"))
    val truncTop = topKPerQuery(scored, 1, "sim_t")
      .select(col("q_id"), col("c_id").as("trunc_top1"),
        round(col("sim_t"), 4).as("sim_trunc"))
    fullTop.join(truncTop, "q_id")
      .select(col("q_id"), col("full_top1"), col("trunc_top1"),
        (col("full_top1") === col("trunc_top1")).as("agree"),
        col("sim_full"), col("sim_trunc"))
  }
}
