package graft
package queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.queries.Layer._
import graft.queries.QueryHelpers._

/** Embedding and multimodal operators: exact and approximate nearest
  * neighbours (LSH, IVF, SQ, PQ), PCA, k-means, retrieval metrics, and
  * image, audio and video features and dedup.
  */
object VectorQueries {
  val specs: Seq[QuerySpec] = Seq(
    // Beyond-reference: exact cosine top-3 neighbors for the first 5
    // query vectors — codegen'd native kernel + per-query window top-k;
    // DuckDB list_cosine_similarity is the oracle.
    QuerySpec("q29_cosine_topk", Plain, (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val corpus = emb.select(col("vec_id").as("c_id"), col("embedding").as("c_vec"))
      graft.ops.Similarity.bruteForceTopK(queries, corpus, 3)
        .withColumn("sim", round(col("sim"), 3))
    },
      """SELECT q_id, c_id, round(sim, 3) AS sim, rank FROM (
           SELECT q.vec_id AS q_id, c.vec_id AS c_id,
             list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                    CAST(c.embedding AS DOUBLE[])) AS sim,
             CAST(row_number() OVER (PARTITION BY q.vec_id
               ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                               CAST(c.embedding AS DOUBLE[])) DESC, c.vec_id)
               AS BIGINT) AS rank
           FROM embeddings q CROSS JOIN embeddings c
           WHERE q.vec_id < 5)
         WHERE rank <= 3"""),

    // Beyond-reference: ANN via deterministic banded sign-bit LSH —
    // candidates share ≥ 1 of 4 four-bit sign bands with the query, then
    // exact cosine top-3. The bucketing uses only float comparisons, so
    // the DuckDB oracle replicates it exactly (seeded-hyperplane LSH
    // stays as the spec-tested alternative in Similarity.lshTopK).
    QuerySpec("q30_ann_lsh", Plain, (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val corpus = emb.select(col("vec_id").as("c_id"), col("embedding").as("c_vec"))
      graft.ops.Similarity.signLshTopK(queries, corpus, 3)
        .withColumn("sim", round(col("sim"), 3))
    },
      """WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS e, embedding AS f
                    FROM embeddings WHERE vec_id < 5),
         c AS (SELECT vec_id AS c_id, CAST(embedding AS DOUBLE[]) AS e, embedding AS f
               FROM embeddings),
         cand AS (
           SELECT q_id, c_id, list_cosine_similarity(q.e, c.e) AS sim
           FROM q CROSS JOIN c
           WHERE ((q.f[1]>0)=(c.f[1]>0) AND (q.f[2]>0)=(c.f[2]>0)
                  AND (q.f[3]>0)=(c.f[3]>0) AND (q.f[4]>0)=(c.f[4]>0))
              OR ((q.f[5]>0)=(c.f[5]>0) AND (q.f[6]>0)=(c.f[6]>0)
                  AND (q.f[7]>0)=(c.f[7]>0) AND (q.f[8]>0)=(c.f[8]>0))
              OR ((q.f[9]>0)=(c.f[9]>0) AND (q.f[10]>0)=(c.f[10]>0)
                  AND (q.f[11]>0)=(c.f[11]>0) AND (q.f[12]>0)=(c.f[12]>0))
              OR ((q.f[13]>0)=(c.f[13]>0) AND (q.f[14]>0)=(c.f[14]>0)
                  AND (q.f[15]>0)=(c.f[15]>0) AND (q.f[16]>0)=(c.f[16]>0)))
         SELECT q_id, c_id, round(sim, 3) AS sim, rank FROM (
           SELECT q_id, c_id, sim,
             CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id) AS BIGINT) AS rank
           FROM cand)
         WHERE rank <= 3"""),

    // Beyond-reference: multimodal pipeline — binary payloads + metadata
    // struct → per-partition batched decode → per-format aggregation.
    // png/bmp payloads are REAL encoded images (JDK ImageIO) and wav
    // payloads REAL RIFF/WAVE PCM (JDK sampled audio) whose decoded
    // histograms the oracle recomputes from the deterministic pixel /
    // sample generators (lossless codecs make decode(encode) the
    // identity); only mp4 stays opaque bytes under the byte-histogram
    // stub. Features are de-normalized back to integer sample counts
    // (exact in float) so the hash compare is bitwise-stable.
    QuerySpec("q31_multimodal_features", Plain, (s, dir) => {
      val assets = graft.ops.Multimodal.toAssets(t(s, dir, "documents"))
      val feats = graft.ops.Multimodal.extractFeatures(assets, dim = 16)
      val npix = (graft.ops.Multimodal.IMG_W * graft.ops.Multimodal.IMG_H).toLong
      feats.toDF()
        .join(assets.toDF().select(col("asset_id"), col("meta.nBytes").as("nb")), "asset_id")
        .withColumn("denom",
          when(col("format").isin("png", "bmp"), lit(npix))
            .when(col("format") === "wav",
              lit(graft.ops.Multimodal.WAV_SAMPLES.toLong))
            .otherwise(greatest(col("nb"), lit(1L))))
        .groupBy(col("format"))
        .agg(count(lit(1)).as("n_assets"),
          sum(round(element_at(col("features"), 1) * col("denom")))
            .cast("long").as("f0_count"))
    },
      """SELECT format, count(*) AS n_assets, CAST(sum(cnt0) AS BIGINT) AS f0_count FROM (
           SELECT CASE CAST(doc_id % 4 AS INT)
                    WHEN 0 THEN 'png' WHEN 1 THEN 'bmp' WHEN 2 THEN 'wav'
                    ELSE 'mp4' END AS format,
             CASE WHEN doc_id % 4 IN (0, 1) THEN
               len(list_filter(flatten(list_transform(range(0, 8),
                 y -> list_transform(range(0, 8),
                   x -> (doc_id * 31 + x * 7 + y * 13) % 256))),
                 v -> v % 16 = 0))
             WHEN doc_id % 4 = 2 THEN
               len(list_filter(range(0, 64),
                 i -> (doc_id * 31 + i * 7) % 65536 // 4096 = 0))
             ELSE
               len(list_filter(range(1, octet_length(encode(text)) + 1),
                 i -> substr(hex(encode(text)), CAST(2 * i AS INT), 1) = '0'))
             END AS cnt0
           FROM documents)
         GROUP BY format"""),

    // Beyond-reference: embedding near-dup pairs via deterministic
    // sign-band candidates + exact cosine verify — fully oracle-checked.
    // (The fixture's max pairwise cosine is ~0.51, so the threshold is
    // 0.45 to exercise a non-empty result.)
    QuerySpec("q32_embedding_dedup", Plain, (s, dir) => {
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      graft.ops.Similarity.signEmbeddingDuplicates(emb, threshold = 0.45)
        .select(col("id_a"), col("id_b"), round(col("sim"), 3).as("sim"))
    },
      """WITH v AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS e, embedding AS f
                    FROM embeddings)
         SELECT a.id AS id_a, b.id AS id_b,
           round(list_cosine_similarity(a.e, b.e), 3) AS sim
         FROM v a JOIN v b ON a.id < b.id
         WHERE (((a.f[1]>0)=(b.f[1]>0) AND (a.f[2]>0)=(b.f[2]>0)
                 AND (a.f[3]>0)=(b.f[3]>0) AND (a.f[4]>0)=(b.f[4]>0))
             OR ((a.f[5]>0)=(b.f[5]>0) AND (a.f[6]>0)=(b.f[6]>0)
                 AND (a.f[7]>0)=(b.f[7]>0) AND (a.f[8]>0)=(b.f[8]>0))
             OR ((a.f[9]>0)=(b.f[9]>0) AND (a.f[10]>0)=(b.f[10]>0)
                 AND (a.f[11]>0)=(b.f[11]>0) AND (a.f[12]>0)=(b.f[12]>0))
             OR ((a.f[13]>0)=(b.f[13]>0) AND (a.f[14]>0)=(b.f[14]>0)
                 AND (a.f[15]>0)=(b.f[15]>0) AND (a.f[16]>0)=(b.f[16]>0)))
           AND list_cosine_similarity(a.e, b.e) >= 0.45"""),

    // Beyond-reference: IVF-Flat ANN over a FIXED coarse quantizer — the
    // first 4 corpus vectors serve as deterministic centroids (k-means
    // training isn't engine-reproducible; the probe/score path is shared
    // with the trained ivfTopK), each query probes its 2 nearest cells by
    // L2, exact cosine top-3 within the probed cells. DuckDB replicates
    // the assignment (ties to the lower cell) and probing exactly.
    QuerySpec("q41_ann_ivf", Plain, (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val corpus = emb.select(col("vec_id").as("c_id"), col("embedding").as("c_vec"))
      val centroids = emb.filter(col("vec_id") < 4)
        .select(col("vec_id").cast("int").as("cell"), col("embedding").as("centroid"))
      graft.ops.Similarity.ivfTopKWithCentroids(queries, corpus, centroids,
        k = 3, nprobe = 2)
        .withColumn("sim", round(col("sim"), 3))
    },
      """WITH cent AS (SELECT CAST(vec_id AS INT) AS cell,
                        CAST(embedding AS DOUBLE[]) AS ce
                      FROM embeddings WHERE vec_id < 4),
         c AS (SELECT vec_id AS c_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS e
               FROM embeddings WHERE vec_id < 5),
         assigned AS (
           SELECT c_id, e, cell FROM (
             SELECT c.c_id, c.e, cent.cell,
               row_number() OVER (PARTITION BY c.c_id
                 ORDER BY list_distance(c.e, cent.ce), cent.cell) AS ar
             FROM c CROSS JOIN cent)
           WHERE ar = 1),
         probes AS (
           SELECT q_id, e, cell FROM (
             SELECT q.q_id, q.e, cent.cell,
               row_number() OVER (PARTITION BY q.q_id
                 ORDER BY list_distance(q.e, cent.ce), cent.cell) AS cr
             FROM q CROSS JOIN cent)
           WHERE cr <= 2),
         scored AS (
           SELECT p.q_id, a.c_id, list_cosine_similarity(p.e, a.e) AS sim
           FROM assigned a JOIN probes p ON a.cell = p.cell)
         SELECT q_id, c_id, round(sim, 3) AS sim, rank FROM (
           SELECT q_id, c_id, sim,
             CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id)
               AS BIGINT) AS rank
           FROM scored)
         WHERE rank <= 3"""),

    // Beyond-reference: SemDeDup — cluster-scoped semantic dedup over
    // embeddings with FIXED centroids (vec_id<8, the q41 determinism
    // trick): within-cell pairs only, exact cosine, keep the min-id
    // survivor per duplicate group. τ=0.45 sits ≥1e-3 from every pair at
    // the gate SF, so float-vs-double kernels can't flip a verdict.
    QuerySpec("q54_semantic_dedup", Plain, (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val centroids = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").cast("int").as("cell"), col("embedding").as("centroid"))
      graft.ops.Similarity.semanticDuplicates(
        emb.select(col("vec_id").as("id"), col("embedding").as("vec")),
        centroids, threshold = 0.45)
        .select(col("id").as("vec_id"), col("cell"), col("dup_of"), col("kept"))
    },
      """WITH cent AS (SELECT CAST(vec_id AS INT) AS cell,
                        CAST(embedding AS DOUBLE[]) AS ce
                      FROM embeddings WHERE vec_id < 8),
         v AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         assigned AS (
           SELECT id, e, cell FROM (
             SELECT v.id, v.e, cent.cell,
               row_number() OVER (PARTITION BY v.id
                 ORDER BY list_distance(v.e, cent.ce), cent.cell) AS ar
             FROM v CROSS JOIN cent) WHERE ar = 1),
         dup AS (
           SELECT b.id AS id, min(a.id) AS dup_of
           FROM assigned a JOIN assigned b ON a.cell = b.cell AND a.id < b.id
           WHERE list_cosine_similarity(a.e, b.e) >= 0.45
           GROUP BY b.id)
         SELECT s.id AS vec_id, s.cell, d.dup_of, d.dup_of IS NULL AS kept
         FROM assigned s LEFT JOIN dup d ON s.id = d.id"""),

    // Beyond-reference: SQ8 scalar-quantized ANN — per-dimension [lo,hi]
    // bounds learned in one pass, each float32 stored as a uint8 code (4x
    // smaller candidate scan), asymmetric scoring on the reconstruction,
    // exact rerank on the refine·k survivors. Codes are bit-identical in
    // DuckDB (same round/clamp arithmetic), so the oracle replays the
    // whole quantize → score → rerank cascade.
    QuerySpec("q111_sq_ann", Plain, (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val corpus = emb.select(col("vec_id").as("c_id"), col("embedding").as("c_vec"))
      graft.ops.Similarity.sqTopK(queries, corpus, k = 3, refine = 4)
        .withColumn("sim", round(col("sim"), 3))
    },
      // same quantize -> asymmetric score -> refine cut -> exact rerank
      // cascade; codes are bit-identical (same round/clamp arithmetic on
      // the same float->double casts)
      """WITH c AS (SELECT vec_id AS c_id, CAST(embedding AS DOUBLE[]) AS e
                    FROM embeddings),
         q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS e
               FROM embeddings WHERE vec_id < 5),
         flat AS (SELECT c_id, unnest(e) AS v, generate_subscripts(e, 1) AS i
                  FROM c),
         dims AS (SELECT i, min(v) AS lo,
                    CASE WHEN max(v) = min(v) THEN 1.0
                         ELSE max(v) - min(v) END AS span
                  FROM flat GROUP BY i),
         recon AS (
           SELECT c_id,
             list(lo + least(greatest(round((v - lo)/span*255.0), 0), 255)
                    * span / 255.0 ORDER BY i) AS r
           FROM flat JOIN dims USING (i) GROUP BY c_id),
         cand AS (
           SELECT q_id, c_id FROM (
             SELECT q.q_id, recon.c_id,
               row_number() OVER (PARTITION BY q.q_id
                 ORDER BY list_cosine_similarity(q.e, recon.r) DESC, recon.c_id)
                 AS ar
             FROM recon CROSS JOIN q)
           WHERE ar <= 12),
         exact AS (
           SELECT cand.q_id, cand.c_id,
             list_cosine_similarity(q.e, c.e) AS sim
           FROM cand JOIN q USING (q_id) JOIN c USING (c_id))
         SELECT q_id, c_id, round(sim, 3) AS sim, rank FROM (
           SELECT q_id, c_id, sim,
             CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id)
               AS BIGINT) AS rank
           FROM exact)
         WHERE rank <= 3"""),

    // Beyond-reference: IVF-SQ8 — the composed FAISS layout. Cells prune
    // WHICH rows each query scans (nprobe/nlist of the corpus), SQ8 codes
    // shrink HOW MUCH each scanned row costs, exact rerank on the
    // refine·k survivors. The oracle replays assignment, probing,
    // quantization, and both ranking passes.
    QuerySpec("q114_ivf_sq_ann", Plain, (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val corpus = emb.select(col("vec_id").as("c_id"), col("embedding").as("c_vec"))
      val centroids = emb.filter(col("vec_id") < 4)
        .select(col("vec_id").cast("int").as("cell"), col("embedding").as("centroid"))
      graft.ops.Similarity.ivfSqTopK(queries, corpus, centroids,
        k = 3, nprobe = 2, refine = 4)
        .withColumn("sim", round(col("sim"), 3))
    },
      // IVF assignment/probing (as q41) composed with the SQ8 quantize ->
      // approx score -> refine cut -> exact rerank cascade (as q111)
      """WITH cent AS (SELECT CAST(vec_id AS INT) AS cell,
                        CAST(embedding AS DOUBLE[]) AS ce
                      FROM embeddings WHERE vec_id < 4),
         c AS (SELECT vec_id AS c_id, CAST(embedding AS DOUBLE[]) AS e
               FROM embeddings),
         q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS e
               FROM embeddings WHERE vec_id < 5),
         flat AS (SELECT c_id, unnest(e) AS v, generate_subscripts(e, 1) AS i
                  FROM c),
         dims AS (SELECT i, min(v) AS lo,
                    CASE WHEN max(v) = min(v) THEN 1.0
                         ELSE max(v) - min(v) END AS span
                  FROM flat GROUP BY i),
         recon AS (
           SELECT c_id,
             list(lo + least(greatest(round((v - lo)/span*255.0), 0), 255)
                    * span / 255.0 ORDER BY i) AS r
           FROM flat JOIN dims USING (i) GROUP BY c_id),
         assigned AS (
           SELECT c_id, cell FROM (
             SELECT c.c_id, cent.cell,
               row_number() OVER (PARTITION BY c.c_id
                 ORDER BY list_distance(c.e, cent.ce), cent.cell) AS ar
             FROM c CROSS JOIN cent)
           WHERE ar = 1),
         probes AS (
           SELECT q_id, cell FROM (
             SELECT q.q_id, cent.cell,
               row_number() OVER (PARTITION BY q.q_id
                 ORDER BY list_distance(q.e, cent.ce), cent.cell) AS cr
             FROM q CROSS JOIN cent)
           WHERE cr <= 2),
         cand AS (
           SELECT q_id, c_id FROM (
             SELECT p.q_id, a.c_id,
               row_number() OVER (PARTITION BY p.q_id
                 ORDER BY list_cosine_similarity(q.e, recon.r) DESC, a.c_id)
                 AS ar
             FROM assigned a
             JOIN probes p ON a.cell = p.cell
             JOIN q USING (q_id)
             JOIN recon ON recon.c_id = a.c_id)
           WHERE ar <= 12),
         exact AS (
           SELECT cand.q_id, cand.c_id,
             list_cosine_similarity(q.e, c.e) AS sim
           FROM cand JOIN q USING (q_id) JOIN c USING (c_id))
         SELECT q_id, c_id, round(sim, 3) AS sim, rank FROM (
           SELECT q_id, c_id, sim,
             CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id)
               AS BIGINT) AS rank
           FROM exact)
         WHERE rank <= 3"""),

    // Beyond-reference: hybrid retrieval — the BM25 keyword list (q66's
    // shuffle-free corpus scan) fused with the embedding-cosine list
    // (q29's broadcast plan) by Reciprocal Rank Fusion. Both rank lists
    // and the integer-denominator fusion are engine-reproducible, so the
    // oracle replays retrieval AND fusion exactly.
    QuerySpec("q119_hybrid_retrieval", Plain, (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val qv = emb.filter(col("vec_id") === 0)
        .select(col("embedding")).head.getSeq[Float](0).toArray
      graft.ops.Similarity.hybridTopK(
        t(s, dir, "documents"), "doc_id", "text",
        emb, "vec_id", "embedding",
        queryTerms = Seq("hash", "join", "spark"), queryVec = qv,
        k = 10, poolSize = 20)
    },
      """WITH toks AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
                      FROM documents),
         dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM toks GROUP BY doc_id),
         stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                     CAST(sum(dl) AS BIGINT) AS tot_dl FROM dl),
         tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf FROM toks
                WHERE tok IN ('hash', 'join', 'spark') GROUP BY doc_id, tok),
         df AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY tok),
         scored AS (
           SELECT tf.doc_id, tf.tok,
             ln(CAST(1 AS DOUBLE) +
                (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + CAST(0.5 AS DOUBLE)) /
                (CAST(df AS DOUBLE) + CAST(0.5 AS DOUBLE)))
             * (CAST(tf AS DOUBLE) * (CAST(1.2 AS DOUBLE) + 1)) /
               (CAST(tf AS DOUBLE) + CAST(1.2 AS DOUBLE) *
                 (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE) * CAST(dl AS DOUBLE) /
                   (CAST(tot_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))) AS contrib
           FROM tf, df, dl, stats
           WHERE tf.tok = df.tok AND tf.doc_id = dl.doc_id),
         summed AS (
           SELECT doc_id,
             round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list(contrib ORDER BY tok)), (a, b) -> a + b), 4) AS score
           FROM scored GROUP BY doc_id),
         bm AS (SELECT doc_id,
                  CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS r_bm
                FROM (SELECT doc_id, score FROM summed
                      ORDER BY score DESC, doc_id LIMIT 20)),
         q AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
         cos AS (SELECT doc_id,
                   CAST(row_number() OVER (ORDER BY sim DESC, doc_id) AS BIGINT) AS r_cos
                 FROM (SELECT e.vec_id AS doc_id,
                         list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                           CAST(q.embedding AS DOUBLE[])) AS sim
                       FROM embeddings e, q
                       ORDER BY sim DESC, doc_id LIMIT 20))
         SELECT COALESCE(bm.doc_id, cos.doc_id) AS doc_id,
           round(COALESCE(CAST(1 AS DOUBLE) / (60 + r_bm), 0) +
                 COALESCE(CAST(1 AS DOUBLE) / (60 + r_cos), 0), 6) AS rrf
         FROM bm FULL OUTER JOIN cos ON bm.doc_id = cos.doc_id
         ORDER BY rrf DESC, doc_id LIMIT 10"""),

    // Beyond-reference: deterministic Lloyd k-means over the embedding
    // corpus — the semantic-clustering step curation pipelines cut
    // cluster quotas on. Seeded by the first k vectors, argmin ties to
    // the lower cell, centroid coordinates quantized after each update —
    // so the oracle replays both iterations and the per-cluster summary
    // exactly.
    QuerySpec("q120_kmeans_curation", Plain, (s, dir) => {
      graft.ops.KMeans.summary(
        t(s, dir, "embeddings").select(col("vec_id"), col("embedding")),
        "vec_id", "embedding", k = 4, iterations = 2)
        .select(col("cluster"), col("n"), col("mean_dist"))
    },
      """WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
                    FROM embeddings),
         seed AS (SELECT CAST(id AS INT) AS cluster, v FROM e ORDER BY id LIMIT 4),
         d1 AS (SELECT e.id, s.cluster,
                  round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                    list_transform(range(1, 65),
                      i -> (e.v[i] - s.v[i]) * (e.v[i] - s.v[i]))),
                    (x, y) -> x + y), 8) AS d
                FROM e, seed s),
         a1 AS (SELECT id, cluster FROM (
                  SELECT id, cluster,
                    row_number() OVER (PARTITION BY id ORDER BY d, cluster) AS rn
                  FROM d1) WHERE rn = 1),
         u AS (SELECT a1.cluster, dim.i AS dim,
                 round(round(sum(e.v[dim.i]), 4) / count(*), 6) AS m
               FROM a1 JOIN e USING (id)
                 CROSS JOIN (SELECT unnest(range(1, 65)) AS i) dim
               GROUP BY a1.cluster, dim.i),
         c2 AS (SELECT cluster, list(m ORDER BY dim) AS v FROM u GROUP BY cluster),
         d2 AS (SELECT e.id, c.cluster,
                  round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                    list_transform(range(1, 65),
                      i -> (e.v[i] - c.v[i]) * (e.v[i] - c.v[i]))),
                    (x, y) -> x + y), 8) AS d
                FROM e, c2 c),
         a2 AS (SELECT id, cluster FROM (
                  SELECT id, cluster,
                    row_number() OVER (PARTITION BY id ORDER BY d, cluster) AS rn
                  FROM d2) WHERE rn = 1),
         uf AS (SELECT a2.cluster, dim.i AS dim,
                  round(round(sum(e.v[dim.i]), 4) / count(*), 6) AS m
                FROM a2 JOIN e USING (id)
                  CROSS JOIN (SELECT unnest(range(1, 65)) AS i) dim
                GROUP BY a2.cluster, dim.i),
         cf AS (SELECT cluster, list(m ORDER BY dim) AS v FROM uf GROUP BY cluster),
         dist AS (SELECT a2.id, a2.cluster,
                    round(sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                      list_transform(range(1, 65),
                        i -> (e.v[i] - c.v[i]) * (e.v[i] - c.v[i]))),
                      (x, y) -> x + y)), 6) AS dd
                  FROM a2 JOIN e USING (id) JOIN cf c ON a2.cluster = c.cluster)
         SELECT CAST(cluster AS BIGINT) AS cluster, CAST(count(*) AS BIGINT) AS n,
           round(avg(dd), 4) AS mean_dist
         FROM dist GROUP BY cluster"""),

    // Beyond-reference: PQ-ADC ANN (Jégou et al. 2011) — per-subspace
    // codebooks from one deterministic Lloyd step, corpus encoded to
    // m-int codes (pure codegen, no shuffle), asymmetric-distance
    // scoring via per-query lookup tables (m table reads per candidate,
    // no per-dimension arithmetic at scan time), exact rerank on the
    // refine·k survivors. The oracle replays training, encoding, LUT,
    // ADC fold, and both ranking passes.
    QuerySpec("q128_pq_ann", Plain, (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val corpus = emb.select(col("vec_id").as("c_id"), col("embedding").as("c_vec"))
      graft.ops.Similarity.pqTopK(queries, corpus, dim = 64,
        k = 3, m = 4, ks = 8, refine = 4)
        .withColumn("sim", round(col("sim"), 3))
    },
      // PQ: per-subspace one-step Lloyd (seed = first 8 sliced vectors,
      // round-8 argmin ties to lower id, quantized-mean update as q120),
      // encode = per-subspace argmin against the trained codebook, ADC =
      // LUT join + ordered list fold, then the q111-style refine cut and
      // exact cosine rerank
      """WITH c AS (SELECT vec_id AS c_id, CAST(embedding AS DOUBLE[]) AS e
                    FROM embeddings),
         q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS e
               FROM embeddings WHERE vec_id < 5),
         sdim AS (SELECT CAST(unnest(range(4)) AS INT) AS s),
         seeds AS (SELECT CAST(row_number() OVER (ORDER BY c_id) - 1 AS INT) AS j, e
                   FROM (SELECT c_id, e FROM c ORDER BY c_id LIMIT 8)),
         sseeds AS (SELECT s, j,
                      list_slice(e, CAST(s*16+1 AS INT), CAST(s*16+16 AS INT)) AS sv
                    FROM seeds, sdim),
         subs AS (SELECT c_id, s,
                    list_slice(e, CAST(s*16+1 AS INT), CAST(s*16+16 AS INT)) AS sv
                  FROM c, sdim),
         d1 AS (SELECT sub.c_id, sub.s, sd.j,
                  round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                    list_transform(range(1, 17),
                      i -> (sub.sv[i]-sd.sv[i])*(sub.sv[i]-sd.sv[i]))),
                    (x, y) -> x + y), 8) AS d
                FROM subs sub JOIN sseeds sd ON sub.s = sd.s),
         a1 AS (SELECT c_id, s, j FROM (
                  SELECT c_id, s, j,
                    row_number() OVER (PARTITION BY c_id, s ORDER BY d, j) AS rn
                  FROM d1) WHERE rn = 1),
         upd AS (SELECT a1.s, a1.j, dim.i,
                   round(round(sum(sub.sv[dim.i]), 4) / count(*), 6) AS mcoord
                 FROM a1 JOIN subs sub ON a1.c_id = sub.c_id AND a1.s = sub.s
                   CROSS JOIN (SELECT CAST(unnest(range(1, 17)) AS INT) AS i) dim
                 GROUP BY a1.s, a1.j, dim.i),
         updl AS (SELECT s, j, list(mcoord ORDER BY i) AS sv
                  FROM upd GROUP BY s, j),
         cb AS (SELECT sd.s, sd.j, COALESCE(u.sv, sd.sv) AS sv
                FROM sseeds sd LEFT JOIN updl u ON sd.s = u.s AND sd.j = u.j),
         encd AS (SELECT sub.c_id, sub.s, cb.j,
                    round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                      list_transform(range(1, 17),
                        i -> (sub.sv[i]-cb.sv[i])*(sub.sv[i]-cb.sv[i]))),
                      (x, y) -> x + y), 8) AS d
                  FROM subs sub JOIN cb ON sub.s = cb.s),
         codes AS (SELECT c_id, s, j FROM (
                     SELECT c_id, s, j,
                       row_number() OVER (PARTITION BY c_id, s ORDER BY d, j) AS rn
                     FROM encd) WHERE rn = 1),
         qsubs AS (SELECT q_id, s,
                     list_slice(e, CAST(s*16+1 AS INT), CAST(s*16+16 AS INT)) AS sv
                   FROM q, sdim),
         lut AS (SELECT qs.q_id, qs.s, cb.j,
                   round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                     list_transform(range(1, 17),
                       i -> (qs.sv[i]-cb.sv[i])*(qs.sv[i]-cb.sv[i]))),
                     (x, y) -> x + y), 8) AS ld
                 FROM qsubs qs JOIN cb ON qs.s = cb.s),
         adist AS (SELECT l.q_id, cd.c_id,
                     round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                       list(l.ld ORDER BY l.s)), (x, y) -> x + y), 6) AS ad
                   FROM codes cd JOIN lut l ON cd.s = l.s AND cd.j = l.j
                   GROUP BY l.q_id, cd.c_id),
         cand AS (SELECT q_id, c_id FROM (
                    SELECT q_id, c_id,
                      row_number() OVER (PARTITION BY q_id ORDER BY ad, c_id) AS ar
                    FROM adist) WHERE ar <= 12),
         exact AS (SELECT cand.q_id, cand.c_id,
                     list_cosine_similarity(q.e, c.e) AS sim
                   FROM cand JOIN q USING (q_id) JOIN c USING (c_id))
         SELECT q_id, c_id, round(sim, 3) AS sim, rank FROM (
           SELECT q_id, c_id, sim,
             CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id)
               AS BIGINT) AS rank
           FROM exact)
         WHERE rank <= 3"""),

    // Beyond-reference: IVF-PQ over cell RESIDUALS (the composed FAISS
    // layout, Jégou et al. 2011 §IV): cells prune WHICH rows are scanned
    // (nprobe/nlist), residual PQ codes shrink HOW MUCH each scanned row
    // costs (m table lookups via a per-(query, cell) LUT), exact rerank
    // on refine·k survivors. The oracle replays assignment, residuals,
    // codebook training, encoding, probing, ADC, and both rankings.
    QuerySpec("q130_ivf_pq_ann", Plain, (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val corpus = emb.select(col("vec_id").as("c_id"), col("embedding").as("c_vec"))
      val centroids = emb.filter(col("vec_id") < 4)
        .select(col("vec_id").cast("int").as("cell"), col("embedding").as("centroid"))
      graft.ops.Similarity.ivfPqTopK(queries, corpus, centroids, dim = 64,
        k = 3, m = 4, ks = 8, nprobe = 2, refine = 4)
        .withColumn("sim", round(col("sim"), 3))
    },
      // IVF-PQ: q114's assignment/probing composed with q128's PQ cascade,
      // but trained/encoded on per-cell RESIDUALS (vec - assigned centroid)
      // and scored with a per-(query, probed-cell) residual LUT
      """WITH cent AS (SELECT CAST(vec_id AS INT) AS cell,
                        CAST(embedding AS DOUBLE[]) AS ce
                      FROM embeddings WHERE vec_id < 4),
         c AS (SELECT vec_id AS c_id, CAST(embedding AS DOUBLE[]) AS e
               FROM embeddings),
         q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS e
               FROM embeddings WHERE vec_id < 5),
         sdim AS (SELECT CAST(unnest(range(4)) AS INT) AS s),
         assigned AS (SELECT c_id, cell FROM (
                        SELECT c.c_id, cent.cell,
                          row_number() OVER (PARTITION BY c.c_id
                            ORDER BY list_distance(c.e, cent.ce), cent.cell) AS ar
                        FROM c CROSS JOIN cent) WHERE ar = 1),
         resid AS (SELECT a.c_id,
                     list_transform(range(1, 65), i -> c.e[i] - cent.ce[i]) AS r
                   FROM assigned a JOIN c USING (c_id)
                     JOIN cent ON a.cell = cent.cell),
         seeds AS (SELECT CAST(row_number() OVER (ORDER BY c_id) - 1 AS INT) AS j, r
                   FROM (SELECT c_id, r FROM resid ORDER BY c_id LIMIT 8)),
         sseeds AS (SELECT s, j,
                      list_slice(r, CAST(s*16+1 AS INT), CAST(s*16+16 AS INT)) AS sv
                    FROM seeds, sdim),
         subs AS (SELECT c_id, s,
                    list_slice(r, CAST(s*16+1 AS INT), CAST(s*16+16 AS INT)) AS sv
                  FROM resid, sdim),
         d1 AS (SELECT sub.c_id, sub.s, sd.j,
                  round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                    list_transform(range(1, 17),
                      i -> (sub.sv[i]-sd.sv[i])*(sub.sv[i]-sd.sv[i]))),
                    (x, y) -> x + y), 8) AS d
                FROM subs sub JOIN sseeds sd ON sub.s = sd.s),
         a1 AS (SELECT c_id, s, j FROM (
                  SELECT c_id, s, j,
                    row_number() OVER (PARTITION BY c_id, s ORDER BY d, j) AS rn
                  FROM d1) WHERE rn = 1),
         upd AS (SELECT a1.s, a1.j, dim.i,
                   round(round(sum(sub.sv[dim.i]), 4) / count(*), 6) AS mcoord
                 FROM a1 JOIN subs sub ON a1.c_id = sub.c_id AND a1.s = sub.s
                   CROSS JOIN (SELECT CAST(unnest(range(1, 17)) AS INT) AS i) dim
                 GROUP BY a1.s, a1.j, dim.i),
         updl AS (SELECT s, j, list(mcoord ORDER BY i) AS sv
                  FROM upd GROUP BY s, j),
         cb AS (SELECT sd.s, sd.j, COALESCE(u.sv, sd.sv) AS sv
                FROM sseeds sd LEFT JOIN updl u ON sd.s = u.s AND sd.j = u.j),
         encd AS (SELECT sub.c_id, sub.s, cb.j,
                    round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                      list_transform(range(1, 17),
                        i -> (sub.sv[i]-cb.sv[i])*(sub.sv[i]-cb.sv[i]))),
                      (x, y) -> x + y), 8) AS d
                  FROM subs sub JOIN cb ON sub.s = cb.s),
         codes AS (SELECT c_id, s, j FROM (
                     SELECT c_id, s, j,
                       row_number() OVER (PARTITION BY c_id, s ORDER BY d, j) AS rn
                     FROM encd) WHERE rn = 1),
         probes AS (SELECT q_id, cell FROM (
                      SELECT q.q_id, cent.cell,
                        row_number() OVER (PARTITION BY q.q_id
                          ORDER BY list_distance(q.e, cent.ce), cent.cell) AS cr
                      FROM q CROSS JOIN cent) WHERE cr <= 2),
         qresid AS (SELECT p.q_id, p.cell,
                      list_transform(range(1, 65), i -> q.e[i] - cent.ce[i]) AS r
                    FROM probes p JOIN q USING (q_id)
                      JOIN cent ON p.cell = cent.cell),
         qsubs AS (SELECT q_id, cell, s,
                     list_slice(r, CAST(s*16+1 AS INT), CAST(s*16+16 AS INT)) AS sv
                   FROM qresid, sdim),
         lut AS (SELECT qs.q_id, qs.cell, qs.s, cb.j,
                   round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                     list_transform(range(1, 17),
                       i -> (qs.sv[i]-cb.sv[i])*(qs.sv[i]-cb.sv[i]))),
                     (x, y) -> x + y), 8) AS ld
                 FROM qsubs qs JOIN cb ON qs.s = cb.s),
         adist AS (SELECT l.q_id, cd.c_id,
                     round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                       list(l.ld ORDER BY l.s)), (x, y) -> x + y), 6) AS ad
                   FROM codes cd JOIN assigned a ON cd.c_id = a.c_id
                     JOIN lut l ON a.cell = l.cell AND cd.s = l.s AND cd.j = l.j
                   GROUP BY l.q_id, cd.c_id),
         cand AS (SELECT q_id, c_id FROM (
                    SELECT q_id, c_id,
                      row_number() OVER (PARTITION BY q_id ORDER BY ad, c_id) AS ar
                    FROM adist) WHERE ar <= 12),
         exact AS (SELECT cand.q_id, cand.c_id,
                     list_cosine_similarity(q.e, c.e) AS sim
                   FROM cand JOIN q USING (q_id) JOIN c USING (c_id))
         SELECT q_id, c_id, round(sim, 3) AS sim, rank FROM (
           SELECT q_id, c_id, sim,
             CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id)
               AS BIGINT) AS rank
           FROM exact)
         WHERE rank <= 3"""),

    // Beyond-reference: PCA top-component projection — quantized-sum
    // mean/covariance passes (map-side-combinable, dim^2 cells of
    // shuffled state whatever the corpus size), deterministic power
    // iteration (fixed start, fixed 3 iterations, round-8 matvecs) on
    // the collected dim^2 matrix, then one codegen projection scan. The
    // oracle replays the fit and the projection exactly.
    QuerySpec("q131_pca_projection", Plain, (s, dir) => {
      graft.ops.Pca.pc1(
        t(s, dir, "embeddings").select(col("vec_id"), col("embedding")),
        "vec_id", "embedding", dim = 64, iters = 3)
        .orderBy(col("pc1").desc, col("vec_id"))
        .limit(10)
    },
      // PCA: quantized mean/cov (sum->4, mean->6, cov->8), power iteration
      // from v0 = 1/sqrt(64) (exactly 0.125) with round-8 matvec + norm
      // per iteration, Rayleigh lambda from the last iteration, round-4
      // projection — every fold in ascending index order, as the engine
      """WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
                    FROM embeddings),
         flat AS (SELECT id, generate_subscripts(v, 1) AS i, unnest(v) AS x
                  FROM e),
         mu AS (SELECT i, round(round(sum(x), 4) / count(*), 6) AS m
                FROM flat GROUP BY i),
         mul AS (SELECT list(m ORDER BY i) AS m FROM mu),
         cent AS (SELECT id, i, x - mu.m AS cx FROM flat JOIN mu USING (i)),
         cov AS (SELECT a.i AS i, b.i AS j,
                   round(round(sum(a.cx * b.cx), 4) / count(*), 8) AS c
                 FROM cent a JOIN cent b USING (id) GROUP BY a.i, b.i),
         covl AS (SELECT i, list(c ORDER BY j) AS r FROM cov GROUP BY i),
         covm AS (SELECT list(r ORDER BY i) AS rows FROM covl),
         v0 AS (SELECT list_transform(range(1, 65),
                  i -> round(1.0/sqrt(64.0), 8)) AS v),
         w1 AS (SELECT list_transform(range(1, 65), i ->
                  round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                    list_transform(range(1, 65), j -> rows[i][j] * v[j])),
                    (x, y) -> x + y), 8)) AS w
                FROM covm, v0),
         v1 AS (SELECT list_transform(w, x -> round(x / sqrt(round(
                  list_reduce(list_prepend(CAST(0 AS DOUBLE),
                    list_transform(w, y -> y*y)), (x2, y2) -> x2 + y2),
                  8)), 8)) AS v
                FROM w1),
         w2 AS (SELECT list_transform(range(1, 65), i ->
                  round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                    list_transform(range(1, 65), j -> rows[i][j] * v[j])),
                    (x, y) -> x + y), 8)) AS w
                FROM covm, v1),
         v2 AS (SELECT list_transform(w, x -> round(x / sqrt(round(
                  list_reduce(list_prepend(CAST(0 AS DOUBLE),
                    list_transform(w, y -> y*y)), (x2, y2) -> x2 + y2),
                  8)), 8)) AS v
                FROM w2),
         w3 AS (SELECT list_transform(range(1, 65), i ->
                  round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                    list_transform(range(1, 65), j -> rows[i][j] * v[j])),
                    (x, y) -> x + y), 8)) AS w
                FROM covm, v2),
         v3 AS (SELECT list_transform(w, x -> round(x / sqrt(round(
                  list_reduce(list_prepend(CAST(0 AS DOUBLE),
                    list_transform(w, y -> y*y)), (x2, y2) -> x2 + y2),
                  8)), 8)) AS v
                FROM w3),
         lam AS (SELECT round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                   list_transform(range(1, 65), i -> v2.v[i] * w3.w[i])),
                   (x, y) -> x + y), 6) AS lambda1
                 FROM v2, w3)
         SELECT id AS vec_id,
           round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
             list_transform(range(1, 65), i -> (e.v[i] - mul.m[i]) * v3.v[i])),
             (x, y) -> x + y), 4) AS pc1,
           lambda1
         FROM e, mul, v3, lam
         ORDER BY pc1 DESC, vec_id LIMIT 10"""),

    // Beyond-reference: multimodal RESIZE — real ImageIO decode,
    // explicit nearest-neighbor sampling (output (x,y) reads source
    // (x·W/w', y·H/h') — no interpolation), lossless re-encode. 8x8 →
    // 4x4 keeps exactly the even-coordinate pixels, so the oracle
    // recomputes each resized image's mean gray straight from the
    // deterministic pixel generator.
    QuerySpec("q135_multimodal_resize", Plain, (s, dir) => {
      val s2 = s
      import s2.implicits._
      val assets = graft.ops.Multimodal.toAssets(t(s, dir, "documents"))
        .filter(a => a.meta.format == "png" || a.meta.format == "bmp")
      val resized = graft.ops.Multimodal.resizeAssets(assets, 4, 4)
      resized.map(a => (a.asset_id, a.meta.format, a.meta.width, a.meta.height,
          graft.ops.Multimodal.meanGray(a.payload)))
        .toDF("asset_id", "format", "width", "height", "mean_gray")
        .select(col("asset_id"), col("format"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          round(col("mean_gray"), 4).as("mean_gray"))
    },
      // 8x8 -> 4x4 nearest-neighbor keeps pixels at even coordinates:
      // gray(x', y') = (id*31 + 14x' + 26y') mod 256 from the generator
      """WITH img AS (SELECT doc_id AS asset_id,
                        CASE WHEN doc_id % 4 = 0 THEN 'png' ELSE 'bmp' END
                          AS format
                      FROM documents WHERE doc_id % 4 IN (0, 1)),
         px AS (SELECT asset_id, format,
                  (asset_id * 31 + 14 * xs.x + 26 * ys.y) % 256 AS g
                FROM img,
                  (SELECT unnest(range(4)) AS x) xs,
                  (SELECT unnest(range(4)) AS y) ys)
         SELECT asset_id, format, CAST(4 AS BIGINT) AS width,
           CAST(4 AS BIGINT) AS height,
           round(CAST(sum(g) AS DOUBLE) / 16.0, 4) AS mean_gray
         FROM px GROUP BY asset_id, format"""),

    // Beyond-reference: greedy k-center coreset (Gonzalez 1985) — the
    // deterministic diversity-selection step (2-approx covering
    // radius): seed at the smallest id, then repeatedly take the point
    // farthest (round-8 squared L2, ties to lower id) from its nearest
    // selected center. Each round is one codegen min-over-centers scan
    // + one argmax aggregate; the driver holds only k vectors.
    QuerySpec("q137_kcenter_coreset", Plain, (s, dir) => {
      graft.ops.KMeans.kCenters(
        t(s, dir, "embeddings").select(col("vec_id"), col("embedding")),
        "vec_id", "embedding", k = 6)
        .select(col("rank"), col("id").as("vec_id"), col("sel_dist"))
    },
      // five chained farthest-point rounds; min-dist maintained by
      // least(previous, dist-to-new-center), every dist on the round-8
      // grid, argmax ties to the lower id
      """WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
                    FROM embeddings),
         c1 AS (SELECT v FROM e WHERE id = (SELECT min(id) FROM e)),
         d1 AS (SELECT e.id, round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                  list_transform(range(1, 65),
                    i -> (e.v[i]-c1.v[i])*(e.v[i]-c1.v[i]))),
                  (x, y) -> x + y), 8) AS d
                FROM e, c1),
         f2 AS (SELECT id, d FROM (SELECT id, d,
                  row_number() OVER (ORDER BY d DESC, id) AS rn FROM d1)
                WHERE rn = 1),
         c2 AS (SELECT e.v FROM e JOIN f2 ON e.id = f2.id),
         d2 AS (SELECT dp.id, least(dp.d,
                  round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                    list_transform(range(1, 65),
                      i -> (e.v[i]-c2.v[i])*(e.v[i]-c2.v[i]))),
                    (x, y) -> x + y), 8)) AS d
                FROM d1 dp JOIN e ON dp.id = e.id, c2),
         f3 AS (SELECT id, d FROM (SELECT id, d,
                  row_number() OVER (ORDER BY d DESC, id) AS rn FROM d2)
                WHERE rn = 1),
         c3 AS (SELECT e.v FROM e JOIN f3 ON e.id = f3.id),
         d3 AS (SELECT dp.id, least(dp.d,
                  round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                    list_transform(range(1, 65),
                      i -> (e.v[i]-c3.v[i])*(e.v[i]-c3.v[i]))),
                    (x, y) -> x + y), 8)) AS d
                FROM d2 dp JOIN e ON dp.id = e.id, c3),
         f4 AS (SELECT id, d FROM (SELECT id, d,
                  row_number() OVER (ORDER BY d DESC, id) AS rn FROM d3)
                WHERE rn = 1),
         c4 AS (SELECT e.v FROM e JOIN f4 ON e.id = f4.id),
         d4 AS (SELECT dp.id, least(dp.d,
                  round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                    list_transform(range(1, 65),
                      i -> (e.v[i]-c4.v[i])*(e.v[i]-c4.v[i]))),
                    (x, y) -> x + y), 8)) AS d
                FROM d3 dp JOIN e ON dp.id = e.id, c4),
         f5 AS (SELECT id, d FROM (SELECT id, d,
                  row_number() OVER (ORDER BY d DESC, id) AS rn FROM d4)
                WHERE rn = 1),
         c5 AS (SELECT e.v FROM e JOIN f5 ON e.id = f5.id),
         d5 AS (SELECT dp.id, least(dp.d,
                  round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                    list_transform(range(1, 65),
                      i -> (e.v[i]-c5.v[i])*(e.v[i]-c5.v[i]))),
                    (x, y) -> x + y), 8)) AS d
                FROM d4 dp JOIN e ON dp.id = e.id, c5),
         f6 AS (SELECT id, d FROM (SELECT id, d,
                  row_number() OVER (ORDER BY d DESC, id) AS rn FROM d5)
                WHERE rn = 1)
         SELECT CAST(1 AS BIGINT) AS rank,
           (SELECT min(id) FROM e) AS vec_id, CAST(0.0 AS DOUBLE) AS sel_dist
         UNION ALL SELECT 2, id, round(d, 6) FROM f2
         UNION ALL SELECT 3, id, round(d, 6) FROM f3
         UNION ALL SELECT 4, id, round(d, 6) FROM f4
         UNION ALL SELECT 5, id, round(d, 6) FROM f5
         UNION ALL SELECT 6, id, round(d, 6) FROM f6"""),

    // Beyond-reference: MMR diversified retrieval (Carbonell 1998) —
    // greedy λ·rel − (1−λ)·max-sim over the top-8 pool, k=3 picks per
    // query; every greedy round is one aggregate + bounded joins.
    QuerySpec("q151_mmr_retrieval", Plain, (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val corpus = emb.select(col("vec_id").as("c_id"), col("embedding").as("c_vec"))
      graft.ops.Similarity.mmrTopK(queries, corpus,
        poolSize = 8, k = 3, lambda = 0.7)
    },
      // three unrolled greedy rounds over the top-8 pool; argmax with
      // (score DESC, id ASC) matches max(struct(score, -id)); the λ
      // arithmetic is forced to DOUBLE so 1.0-0.7 folds to the same bits
      """WITH cand AS (
           SELECT * FROM (
             SELECT q.vec_id AS q_id, c.vec_id AS c_id,
               list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                 CAST(c.embedding AS DOUBLE[])) AS rel,
               row_number() OVER (PARTITION BY q.vec_id
                 ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                   CAST(c.embedding AS DOUBLE[])) DESC, c.vec_id) AS rn
             FROM embeddings q CROSS JOIN embeddings c
             WHERE q.vec_id < 5)
           WHERE rn <= 8),
         ps AS (SELECT a.q_id, a.c_id, b.c_id AS d_id,
                  list_cosine_similarity(CAST(va.embedding AS DOUBLE[]),
                    CAST(vb.embedding AS DOUBLE[])) AS s
                FROM cand a JOIN cand b ON a.q_id = b.q_id AND a.c_id <> b.c_id
                JOIN embeddings va ON va.vec_id = a.c_id
                JOIN embeddings vb ON vb.vec_id = b.c_id),
         s1 AS (SELECT q_id, c_id, rel FROM cand
                QUALIFY row_number() OVER (PARTITION BY q_id
                  ORDER BY rel DESC, c_id) = 1),
         m1 AS (SELECT c.q_id, c.c_id, c.rel, ps.s AS ms
                FROM cand c JOIN s1 ON c.q_id = s1.q_id AND c.c_id <> s1.c_id
                JOIN ps ON ps.q_id = c.q_id AND ps.c_id = c.c_id
                  AND ps.d_id = s1.c_id),
         s2 AS (SELECT q_id, c_id, rel FROM m1
                QUALIFY row_number() OVER (PARTITION BY q_id
                  ORDER BY CAST(0.7 AS DOUBLE) * rel -
                    (CAST(1.0 AS DOUBLE) - CAST(0.7 AS DOUBLE)) * ms DESC,
                    c_id) = 1),
         m2 AS (SELECT m1.q_id, m1.c_id, m1.rel, greatest(m1.ms, ps.s) AS ms
                FROM m1 JOIN s2 ON m1.q_id = s2.q_id AND m1.c_id <> s2.c_id
                JOIN ps ON ps.q_id = m1.q_id AND ps.c_id = m1.c_id
                  AND ps.d_id = s2.c_id),
         s3 AS (SELECT q_id, c_id, rel FROM m2
                QUALIFY row_number() OVER (PARTITION BY q_id
                  ORDER BY CAST(0.7 AS DOUBLE) * rel -
                    (CAST(1.0 AS DOUBLE) - CAST(0.7 AS DOUBLE)) * ms DESC,
                    c_id) = 1)
         SELECT q_id, CAST(1 AS BIGINT) AS rank, c_id, round(rel, 3) AS rel
           FROM s1
         UNION ALL
         SELECT q_id, CAST(2 AS BIGINT) AS rank, c_id, round(rel, 3) AS rel
           FROM s2
         UNION ALL
         SELECT q_id, CAST(3 AS BIGINT) AS rank, c_id, round(rel, 3) AS rel
           FROM s3"""),

    // Beyond-reference: REAL audio resample — RIFF/WAVE PCM decoded via
    // the JDK sampled-audio stack, decimated by 2 (explicit frame
    // sampling, the audio twin of q135's nearest-neighbor resize),
    // re-encoded, and re-decoded for the mean-amplitude witness the
    // oracle recomputes from the deterministic sample generator.
    QuerySpec("q153_audio_resample", Plain, (s, dir) => {
      import s.implicits._
      val assets = graft.ops.Multimodal.toAssets(t(s, dir, "documents"))
      graft.ops.Multimodal.resampleAssets(assets, stride = 2)
        .filter(col("meta.format") === "wav")
        .map(a => (a.asset_id, a.meta.height.toLong,
          graft.ops.Multimodal.meanAmplitude(a.payload)))
        .toDF("asset_id", "n_frames", "m")
        .select(col("asset_id"), col("n_frames"),
          round(col("m"), 4).as("mean_amp"))
    },
      // every kept frame of the decimated wav is sample u(2i) of the
      // deterministic generator; the mean is an exact integer sum over a
      // power-of-two divisor
      """SELECT doc_id AS asset_id, CAST(32 AS BIGINT) AS n_frames,
           round(CAST(list_sum(list_transform(range(0, 32),
             i -> (doc_id * 31 + i * 14) % 65536)) AS DOUBLE) / 32, 4)
             AS mean_amp
         FROM documents WHERE doc_id % 4 = 2"""),

    // Beyond-reference: hard-negative mining for contrastive training —
    // per query the 3 most-similar vectors with a DIFFERENT label;
    // broadcast-queries scan, label filter before the top-k cut.
    QuerySpec("q154_hard_negatives", Plain, (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"),
          col("label").as("q_label"))
      val corpus = emb.select(col("vec_id").as("c_id"),
        col("embedding").as("c_vec"), col("label").as("c_label"))
      graft.ops.Similarity.hardNegatives(queries, corpus, k = 3)
    },
      // same cross-join + rank spelling as q29, label-filtered before the
      // rank cut
      """SELECT q_id, rank, c_id, c_label, round(sim, 3) AS sim FROM (
           SELECT q.vec_id AS q_id, c.vec_id AS c_id, c.label AS c_label,
             list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                    CAST(c.embedding AS DOUBLE[])) AS sim,
             CAST(row_number() OVER (PARTITION BY q.vec_id
               ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                 CAST(c.embedding AS DOUBLE[])) DESC, c.vec_id)
               AS BIGINT) AS rank
           FROM embeddings q CROSS JOIN embeddings c
           WHERE q.vec_id < 5 AND c.label <> q.label)
         WHERE rank <= 3"""),

    // Beyond-reference: kNN label audit (Confident-Learning-style
    // mislabel screen) — majority label among the 5 nearest neighbors,
    // suspect where the neighborhood disagrees with the stored label.
    QuerySpec("q155_knn_label_audit", Plain, (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 50)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"),
          col("label").as("q_label"))
      val corpus = emb.select(col("vec_id").as("c_id"),
        col("embedding").as("c_vec"), col("label").as("c_label"))
      graft.ops.Similarity.knnLabelAudit(queries, corpus, k = 5)
    },
      // top-5 neighborhood (self excluded), then the majority label with
      // (freq DESC, label ASC) — the same tie-break as max(struct(f, -l))
      """WITH nn AS (
           SELECT * FROM (
             SELECT q.vec_id AS q_id, q.label AS q_label, c.label AS c_label,
               row_number() OVER (PARTITION BY q.vec_id
                 ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                   CAST(c.embedding AS DOUBLE[])) DESC, c.vec_id) AS rn
             FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
             WHERE q.vec_id < 50)
           WHERE rn <= 5),
         f AS (SELECT q_id, q_label, c_label, count(*) AS f
               FROM nn GROUP BY 1, 2, 3),
         m AS (SELECT q_id, q_label, c_label FROM f
               QUALIFY row_number() OVER (PARTITION BY q_id
                 ORDER BY f DESC, c_label) = 1)
         SELECT q_id AS vec_id, q_label AS label, c_label AS knn_label,
           c_label <> q_label AS suspect
         FROM m"""),

    // Beyond-reference: INCREMENTAL ANN-index maintenance from a Change
    // Data Feed — a CDF-enabled embeddings table is appended to and
    // row-level-deleted; the IVF cell index refreshes from the changes
    // alone (net-effect fold per id, nearest-centroid assignment of the
    // survivors), O(changes) never O(corpus). The deleted set includes
    // rows APPENDED in the range (insert-then-delete nets to absent),
    // which the oracle's final-state assignment confirms.
    QuerySpec("q156_incremental_ann_index", Fixture, (s, dir) => {
      val path = s"${graft.log.SharedFixtures.shareRoot(dir)}/scratch_ivf_cdf"
      val emb = t(s, dir, "embeddings").filter(col("vec_id") < 300)
      val centroids = t(s, dir, "embeddings").filter(col("vec_id") < 4)
        .select(col("vec_id").cast("int").as("cell"),
          col("embedding").as("centroid"))
      graft.log.TableBuilder.create(s,
        emb.filter(col("vec_id") % 3 =!= 2).repartition(2), path,
        name = "scratch_ivf_cdf",
        configuration = Map("enableChangeDataFeed" -> "true"))
      graft.log.TableBuilder.append(s,
        emb.filter(col("vec_id") % 3 === 2).repartition(2), path,
        timestamp = 1000L)
      graft.log.TableBuilder.deleteWhere(s, path, col("vec_id") % 7 === 0,
        timestamp = 2000L)
      graft.log.GraftLog.invalidateListing(path)
      val base = s.read.format("graft").option("path", path)
        .option("versionAsOf", "0").load()
        .select(col("vec_id").as("c_id"), col("embedding").as("c_vec"))
      val index0 = graft.ops.Similarity.assignCells(base, centroids)
        .select(col("c_id"), col("cell"))
      val changes = graft.log.GraftCDF.tableChanges(s, path, 1)
        .select(col("vec_id").as("c_id"), col("embedding").as("c_vec"),
          col("_change_type"), col("_commit_version"))
      graft.ops.Incremental.maintainIvfIndex(index0, changes, centroids)
        .select(col("c_id"), col("cell").cast("int").as("cell"))
    },
      // the maintained index must equal nearest-centroid assignment over
      // the FINAL table state: rows below 300 surviving the %7 delete —
      // including that ids appended in v1 then deleted in v2 are absent
      """WITH cent AS (SELECT CAST(vec_id AS INT) AS cell,
                         CAST(embedding AS DOUBLE[]) AS ce
                       FROM embeddings WHERE vec_id < 4),
         c AS (SELECT vec_id AS c_id, CAST(embedding AS DOUBLE[]) AS e
               FROM embeddings WHERE vec_id < 300 AND vec_id % 7 <> 0)
         SELECT c_id, cell FROM (
           SELECT c.c_id, cent.cell,
             row_number() OVER (PARTITION BY c.c_id
               ORDER BY list_distance(c.e, cent.ce), cent.cell) AS ar
           FROM c CROSS JOIN cent)
         WHERE ar = 1"""),

    // Beyond-reference: embedding-space centroid-drift matrix — pairwise
    // L2 between per-label centroids from floor-quantized integer sums
    // (exact, partition-order independent); labels·dim cells of state,
    // corpus-size independent.
    QuerySpec("q158_centroid_drift", Plain, (s, dir) => {
      graft.ops.Similarity.centroidDrift(
        t(s, dir, "embeddings"), "embedding", "label")
    },
      // per-(label, dim) floor-quantized integer sums into exact means,
      // then the pairwise L2 matrix
      """WITH cells AS (
           SELECT label AS lbl, i,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(floor(e[CAST(i AS INT)] * 1048576) AS BIGINT))
               AS BIGINT) AS q
           FROM (SELECT label, CAST(embedding AS DOUBLE[]) AS e
                 FROM embeddings),
                (SELECT unnest(range(1, 65)) AS i)
           GROUP BY label, i),
         m AS (SELECT lbl, i, CAST(q AS DOUBLE) / (n * 1048576) AS m
               FROM cells)
         SELECT a.lbl AS label_a, b.lbl AS label_b,
           round(sqrt(sum((a.m - b.m) * (a.m - b.m))), 6) AS dist
         FROM m a JOIN m b ON a.i = b.i AND a.lbl < b.lbl
         GROUP BY a.lbl, b.lbl"""),

    // Beyond-reference: retrieval-quality metrics — per-query MRR and
    // NDCG@10 with label relevance over the cosine top-k; the standing
    // evaluation loop for the ANN/retrieval family.
    QuerySpec("q162_retrieval_metrics", Plain, (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 50)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"),
          col("label").as("q_label"))
      val corpus = emb.select(col("vec_id").as("c_id"),
        col("embedding").as("c_vec"), col("label").as("c_label"))
      graft.ops.Similarity.retrievalMetrics(queries, corpus, k = 10)
    },
      // same top-k spelling as q155; DCG/IDCG via ln(i+1)/ln(2) on both
      // sides, NDCG against the retrieved-set ideal
      """WITH top AS (
           SELECT * FROM (
             SELECT q.vec_id AS q_id, q.label AS q_label, c.label AS c_label,
               CAST(row_number() OVER (PARTITION BY q.vec_id
                 ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                   CAST(c.embedding AS DOUBLE[])) DESC, c.vec_id)
                 AS BIGINT) AS rank
             FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
             WHERE q.vec_id < 50)
           WHERE rank <= 10),
         m AS (SELECT q_id,
             CAST(sum(CASE WHEN c_label = q_label THEN 1 ELSE 0 END)
               AS BIGINT) AS n_rel,
             min(CASE WHEN c_label = q_label THEN rank END) AS fr,
             sum(CASE WHEN c_label = q_label
                 THEN 1.0 / (ln(rank + 1.0) / ln(2.0)) ELSE 0.0 END) AS dcg
           FROM top GROUP BY q_id)
         SELECT q_id, n_rel,
           CAST(coalesce(fr, 0) AS BIGINT) AS first_rel_rank,
           round(coalesce(1.0 / fr, 0.0), 6) AS mrr,
           CASE WHEN n_rel = 0 THEN 0.0 ELSE
             round(dcg / list_sum(list_transform(range(1, n_rel + 1),
               i -> 1.0 / (ln(i + 1.0) / ln(2.0)))), 6) END AS ndcg
         FROM m"""),

    // Beyond-reference: ANN recall report — per-query recall@10 of the
    // deterministic fixed-centroid IVF (nprobe=2 of 4 cells) against
    // brute force; the number that justifies the probe fraction.
    QuerySpec("q163_ann_recall", Plain, (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 20)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val corpus = emb.select(col("vec_id").as("c_id"), col("embedding").as("c_vec"))
      val centroids = emb.filter(col("vec_id") < 4)
        .select(col("vec_id").cast("int").as("cell"),
          col("embedding").as("centroid"))
      val approx = graft.ops.Similarity.ivfTopKWithCentroids(
        queries, corpus, centroids, k = 10, nprobe = 2)
      val exact = graft.ops.Similarity.bruteForceTopK(queries, corpus, 10)
      graft.ops.Similarity.recallReport(approx, exact)
    },
      // q41's IVF spelling (assignment + 2-cell probe) and q29's brute
      // spelling at k=10, joined into per-query recall
      """WITH cent AS (SELECT CAST(vec_id AS INT) AS cell,
                         CAST(embedding AS DOUBLE[]) AS ce
                       FROM embeddings WHERE vec_id < 4),
         c AS (SELECT vec_id AS c_id, CAST(embedding AS DOUBLE[]) AS e
               FROM embeddings),
         q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS e
               FROM embeddings WHERE vec_id < 20),
         assigned AS (
           SELECT c_id, e, cell FROM (
             SELECT c.c_id, c.e, cent.cell,
               row_number() OVER (PARTITION BY c.c_id
                 ORDER BY list_distance(c.e, cent.ce), cent.cell) AS ar
             FROM c CROSS JOIN cent)
           WHERE ar = 1),
         probes AS (
           SELECT q_id, e, cell FROM (
             SELECT q.q_id, q.e, cent.cell,
               row_number() OVER (PARTITION BY q.q_id
                 ORDER BY list_distance(q.e, cent.ce), cent.cell) AS cr
             FROM q CROSS JOIN cent)
           WHERE cr <= 2),
         approx AS (
           SELECT q_id, c_id FROM (
             SELECT p.q_id, a.c_id,
               row_number() OVER (PARTITION BY p.q_id
                 ORDER BY list_cosine_similarity(p.e, a.e) DESC, a.c_id)
                 AS rank
             FROM assigned a JOIN probes p ON a.cell = p.cell)
           WHERE rank <= 10),
         exact AS (
           SELECT q_id, c_id FROM (
             SELECT q.q_id, c.c_id,
               row_number() OVER (PARTITION BY q.q_id
                 ORDER BY list_cosine_similarity(q.e, c.e) DESC, c.c_id)
                 AS rank
             FROM q CROSS JOIN c)
           WHERE rank <= 10),
         hits AS (SELECT a.q_id, count(*) AS h
                  FROM approx a JOIN exact x
                    ON a.q_id = x.q_id AND a.c_id = x.c_id
                  GROUP BY a.q_id),
         base AS (SELECT q_id, count(*) AS n FROM exact GROUP BY q_id)
         SELECT b.q_id, CAST(coalesce(h.h, 0) AS BIGINT) AS n_hits,
           CAST(b.n AS BIGINT) AS n_exact,
           round(CAST(coalesce(h.h, 0) AS DOUBLE) / b.n, 6) AS recall
         FROM base b LEFT JOIN hits h ON h.q_id = b.q_id"""),

    // Beyond-reference: SQ8 codec QUALITY report — per-dimension code
    // mass (integer-exact across engines) and reconstruction MSE of the
    // q111 scalar quantizer; the fidelity report a team reads before
    // switching the serving index to 4x-smaller codes. One posexplode +
    // per-dim agg; bounds are the same 2·dim literal broadcast q111 uses.
    QuerySpec("q175_sq8_error", Plain, (s, dir) => {
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").as("v"))
      val (lo, span) = graft.ops.Similarity.sqBounds(emb, "v")
      val loL = lit(lo)
      val spanL = lit(span)
      emb.select(posexplode(col("v").cast("array<double>")).as(Seq("pos", "x")))
        .withColumn("__lo", element_at(loL, col("pos") + 1))
        .withColumn("__span", element_at(spanL, col("pos") + 1))
        .withColumn("code", least(greatest(
          round((col("x") - col("__lo")) / col("__span") * 255.0),
          lit(0.0)), lit(255.0)).cast("long"))
        .withColumn("rec",
          col("__lo") + col("code").cast("double") * col("__span") / 255.0)
        .groupBy(col("pos"))
        .agg(sum(col("code")).as("code_sum"),
          round(avg((col("x") - col("rec")) * (col("x") - col("rec"))), 12)
            .as("mse"))
    },
      // same bounds, clamp, and round-half-up; code sums are integer-exact
      """WITH x AS (SELECT vec_id,
             unnest(CAST(embedding AS DOUBLE[])) AS x,
             CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS pos
           FROM embeddings),
         b AS (SELECT pos, min(x) AS lo,
                 CASE WHEN max(x) = min(x) THEN 1.0
                      ELSE max(x) - min(x) END AS span
               FROM x GROUP BY pos),
         c AS (SELECT x.pos, x.x, b.lo, b.span,
                 CAST(least(greatest(
                   round((x.x - b.lo) / b.span * 255.0), 0.0), 255.0)
                   AS BIGINT) AS code
               FROM x JOIN b USING (pos)),
         r AS (SELECT pos, code, x,
                 lo + code * span / 255.0 AS rec FROM c)
         SELECT pos, CAST(sum(code) AS BIGINT) AS code_sum,
           round(avg((x - rec) * (x - rec)), 12) AS mse
         FROM r GROUP BY pos"""),

    // Beyond-reference: Matryoshka truncation audit — per-query cosine
    // top-1 agreement between the full 64-dim embedding and its 16-dim
    // prefix; the go/no-go number for serving truncated vectors.
    QuerySpec("q176_matryoshka_top1", Plain, (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 30)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val c = emb.select(col("vec_id").as("c_id"), col("embedding").as("c_vec"))
      graft.ops.Similarity.truncationAgreement(q, c, dims = 16)
    },
      // full-width and 16-prefix cosine rankings, self excluded, ties to
      // the smaller corpus id
      """WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS e
                    FROM embeddings WHERE vec_id < 30),
         c AS (SELECT vec_id AS c_id, CAST(embedding AS DOUBLE[]) AS e
               FROM embeddings),
         scored AS (SELECT q_id, c_id,
             list_cosine_similarity(q.e, c.e) AS sim,
             list_cosine_similarity(q.e[1:16], c.e[1:16]) AS sim_t
           FROM q CROSS JOIN c WHERE q_id <> c_id),
         f AS (SELECT q_id, c_id AS full_top1, round(sim, 4) AS sim_full,
                 row_number() OVER (PARTITION BY q_id
                   ORDER BY sim DESC, c_id) AS rk
               FROM scored),
         t AS (SELECT q_id, c_id AS trunc_top1, round(sim_t, 4) AS sim_trunc,
                 row_number() OVER (PARTITION BY q_id
                   ORDER BY sim_t DESC, c_id) AS rk
               FROM scored)
         SELECT f.q_id, f.full_top1, t.trunc_top1,
           f.full_top1 = t.trunc_top1 AS agree, f.sim_full, t.sim_trunc
         FROM f JOIN t USING (q_id) WHERE f.rk = 1 AND t.rk = 1"""),

    // Beyond-reference: CLUSTER KEYWORDS (the BERTopic recipe, Grootendorst
    // 2022 — the datamap/topic-labeling step after semantic clustering):
    // q120's deterministic k-means assigns docs to cells via the linked
    // embedding ids, then per-cluster c-TF-IDF (tf(t,c) · ln(1 + A/f(t)),
    // A = avg tokens per class) names each cluster with its top-5 terms.
    // Vocabulary-scale aggs + the window over a (cluster, vocab)-sized
    // frame; the corpus is touched once per Lloyd pass + once to tokenize.
    QuerySpec("q184_cluster_keywords", Plain, (s, dir) => {
      val assign = graft.ops.KMeans.assign(
        t(s, dir, "embeddings").select(col("vec_id"), col("embedding")),
        "vec_id", "embedding", k = 4, iterations = 2)
      val toks = t(s, dir, "documents")
        .join(assign.withColumnRenamed("vec_id", "doc_id"), "doc_id")
        .select(col("cluster"),
          explode(split(lower(col("text")), "\\s+")).as("tok"))
        .filter(col("tok") =!= "")
      val ctf = toks.groupBy(col("cluster"), col("tok"))
        .agg(count(lit(1)).as("tf"))
      val corpusF = toks.groupBy(col("tok")).agg(count(lit(1)).as("f"))
      val avgA = toks.agg((count(lit(1)).cast("double") / 4.0).as("__A"))
      ctf.join(corpusF, "tok").crossJoin(broadcast(avgA))
        .withColumn("score",
          round(col("tf") * log(lit(1.0) + col("__A") / col("f")), 6))
        .withColumn("rank", row_number().over(
          Window.partitionBy(col("cluster"))
            .orderBy(col("score").desc, col("tok"))))
        .filter(col("rank") <= 5)
        .select(col("cluster"), col("rank").cast("long").as("rank"),
          col("tok"), col("score"))
    },
      // q120's two-iteration Lloyd replay through a2, then c-TF-IDF with
      // the same quantization and (score desc, tok) cut
      """WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
                    FROM embeddings),
         seed AS (SELECT CAST(id AS INT) AS cluster, v FROM e ORDER BY id LIMIT 4),
         d1 AS (SELECT e.id, s.cluster,
                  round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                    list_transform(range(1, 65),
                      i -> (e.v[i] - s.v[i]) * (e.v[i] - s.v[i]))),
                    (x, y) -> x + y), 8) AS d
                FROM e, seed s),
         a1 AS (SELECT id, cluster FROM (
                  SELECT id, cluster,
                    row_number() OVER (PARTITION BY id ORDER BY d, cluster) AS rn
                  FROM d1) WHERE rn = 1),
         u AS (SELECT a1.cluster, dim.i AS dim,
                 round(round(sum(e.v[dim.i]), 4) / count(*), 6) AS m
               FROM a1 JOIN e USING (id)
                 CROSS JOIN (SELECT unnest(range(1, 65)) AS i) dim
               GROUP BY a1.cluster, dim.i),
         c2 AS (SELECT cluster, list(m ORDER BY dim) AS v FROM u GROUP BY cluster),
         d2 AS (SELECT e.id, c.cluster,
                  round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                    list_transform(range(1, 65),
                      i -> (e.v[i] - c.v[i]) * (e.v[i] - c.v[i]))),
                    (x, y) -> x + y), 8) AS d
                FROM e, c2 c),
         a2 AS (SELECT id, cluster FROM (
                  SELECT id, cluster,
                    row_number() OVER (PARTITION BY id ORDER BY d, cluster) AS rn
                  FROM d2) WHERE rn = 1),
         toks AS (SELECT a2.cluster, t.tok FROM a2
                  JOIN (SELECT doc_id,
                          unnest(string_split_regex(lower(text), '\s+')) AS tok
                        FROM documents) t ON t.doc_id = a2.id
                  WHERE t.tok <> ''),
         ctf AS (SELECT cluster, tok, CAST(count(*) AS BIGINT) AS tf
                 FROM toks GROUP BY 1, 2),
         cfr AS (SELECT tok, CAST(count(*) AS BIGINT) AS f
                 FROM toks GROUP BY 1),
         aa AS (SELECT count(*) / 4.0 AS A FROM toks),
         scored AS (SELECT cluster, tok,
                      round(tf * ln(1 + (SELECT A FROM aa) / f), 6) AS score
                    FROM ctf JOIN cfr USING (tok)),
         r AS (SELECT cluster, tok, score,
                 row_number() OVER (PARTITION BY cluster
                   ORDER BY score DESC, tok) AS rank
               FROM scored)
         SELECT CAST(cluster AS BIGINT) AS cluster, CAST(rank AS BIGINT) AS rank,
           tok, score
         FROM r WHERE rank <= 5"""),

    // Beyond-reference: PERCEPTUAL-HASH IMAGE NEAR-DUP — the
    // mirror/recompression screen for the image side of a crawl: REAL
    // ImageIO decode → integer dHash (4×16-bit LSH bands) + integer-DCT
    // pHash per asset, exact-hash collapse by groupBy (no pairs on the
    // mirrored-image hot case), then banded LSH + Hamming ≤ 6 verify
    // over the distinct-hash REPRESENTATIVES only. The oracle recomputes
    // both hashes in SQL from the deterministic pixel generator (the
    // codecs are lossless, so decoded pixels == generator output) and
    // replays the identical cascade.
    QuerySpec("q189_image_phash_dedup", Plain, (s, dir) => {
      val assets = graft.ops.Multimodal.toAssets(t(s, dir, "documents"))
      graft.ops.Multimodal.imageNearDupCanon(
        graft.ops.Multimodal.perceptualHashes(assets), maxHamming = 6)
        .select(col("asset_id"), col("rep_id"), col("canon_id"),
          col("n_exact"), col("phash").cast("long").as("phash"))
    },
      // hashes recomputed from the deterministic pixel generator
      // (pixel = (id·31 + 7x + 13y) mod 256; lossless codecs ⇒ decoded
      // pixels are identical), integer DCT table inlined from the SAME
      // Scala constant the engine uses, then the identical exact-collapse
      // → band-join → Hamming ≤ 6 → min-neighbor canon cascade
      s"""WITH img AS (SELECT doc_id FROM documents WHERE doc_id % 4 IN (0, 1)),
         px AS (SELECT doc_id, x, y,
                  CAST((doc_id*31 + x*7 + y*13) % 256 AS BIGINT) AS p
                FROM img, range(8) t1(x), range(8) t2(y)),
         bits AS (SELECT a.doc_id, a.x, a.y,
                    CASE WHEN a.p < b.p THEN 1 ELSE 0 END AS bit
                  FROM px a JOIN px b
                    ON a.doc_id = b.doc_id AND b.x = (a.x+1) % 8 AND b.y = a.y),
         bands AS (SELECT doc_id, y//2 AS band,
                     CAST(sum(bit * (1::BIGINT << ((y%2)*8 + x))) AS BIGINT) AS v
                   FROM bits GROUP BY 1, 2),
         h AS (SELECT doc_id,
                 max(CASE WHEN band=0 THEN v END) AS b0,
                 max(CASE WHEN band=1 THEN v END) AS b1,
                 max(CASE WHEN band=2 THEN v END) AS b2,
                 max(CASE WHEN band=3 THEN v END) AS b3
               FROM bands GROUP BY doc_id),
         ct(k, i, c) AS (VALUES ${dctTableSql}),
         dct AS (SELECT px.doc_id, tu.k AS u, tv.k AS v2,
                   CAST(sum(px.p * tu.c * tv.c) AS BIGINT) AS coeff
                 FROM px JOIN ct tu ON tu.i = px.x JOIN ct tv ON tv.i = px.y
                 WHERE tu.k < 4 AND tv.k < 4 AND NOT (tu.k = 0 AND tv.k = 0)
                 GROUP BY 1, 2, 3),
         ph AS (SELECT doc_id, CAST(sum(CASE WHEN coeff > 0
                    THEN (1::BIGINT << (u*4 + v2 - 1)) ELSE 0 END) AS BIGINT)
                  AS phash
                FROM dct GROUP BY doc_id),
         reps AS (SELECT b0, b1, b2, b3, min(doc_id) AS rep_id,
                    count(*) AS n_members
                  FROM h GROUP BY 1, 2, 3, 4),
         rb AS (SELECT rep_id, 0 AS band, b0 AS v FROM reps
                UNION ALL SELECT rep_id, 1, b1 FROM reps
                UNION ALL SELECT rep_id, 2, b2 FROM reps
                UNION ALL SELECT rep_id, 3, b3 FROM reps),
         cand AS (SELECT DISTINCT a.rep_id AS lo, b.rep_id AS hi
                  FROM rb a JOIN rb b
                    ON a.band = b.band AND a.v = b.v AND a.rep_id < b.rep_id),
         ham AS (SELECT c.lo, c.hi,
                   bit_count(xor(ra.b0, rs.b0)) + bit_count(xor(ra.b1, rs.b1)) +
                   bit_count(xor(ra.b2, rs.b2)) + bit_count(xor(ra.b3, rs.b3)) AS d
                 FROM cand c JOIN reps ra ON ra.rep_id = c.lo
                             JOIN reps rs ON rs.rep_id = c.hi),
         mrg AS (SELECT hi AS rep_id, min(lo) AS canon
                 FROM ham WHERE d <= 6 GROUP BY hi)
         SELECT h.doc_id AS asset_id, r.rep_id,
           coalesce(m.canon, r.rep_id) AS canon_id,
           CAST(r.n_members AS BIGINT) AS n_exact, ph.phash
         FROM h JOIN reps r USING (b0, b1, b2, b3) JOIN ph USING (doc_id)
         LEFT JOIN mrg m ON m.rep_id = r.rep_id"""),

    // Beyond-reference: AUDIO perceptual near-dup — q189's cascade for
    // the sound side: real JDK sampled-audio PCM decode → 8-frame
    // integer energy profile, gain-invariant adjacent-difference bits +
    // 4-bit coarse energies as the bucket keys, exact-profile collapse
    // first, Chebyshev-distance verify over representatives. The oracle
    // recomputes the profile from the deterministic sample generator
    // (lossless codec ⇒ decoded samples == generator output).
    QuerySpec("q193_audio_phash_dedup", Plain, (s, dir) => {
      val assets = graft.ops.Multimodal.toAssets(t(s, dir, "documents"))
      graft.ops.Multimodal.audioNearDupCanon(
        graft.ops.Multimodal.audioFingerprints(assets), maxDelta = 4096L)
    },
      // profile recomputed from the sample generator (u(i) = (id·31+7i)
      // mod 2^16), then the identical collapse → bucket → Chebyshev chain
      """WITH wav AS (SELECT doc_id FROM documents WHERE doc_id % 4 = 2),
         u AS (SELECT doc_id, i // 8 AS f,
                 CAST((doc_id*31 + i*7) % 65536 AS BIGINT) AS u
               FROM wav, range(64) t(i)),
         prof AS (SELECT doc_id, f, CAST(sum(u) AS BIGINT) AS s
                  FROM u GROUP BY 1, 2),
         fp AS (SELECT doc_id,
                  max(CASE WHEN f=0 THEN s END) AS s0,
                  max(CASE WHEN f=1 THEN s END) AS s1,
                  max(CASE WHEN f=2 THEN s END) AS s2,
                  max(CASE WHEN f=3 THEN s END) AS s3,
                  max(CASE WHEN f=4 THEN s END) AS s4,
                  max(CASE WHEN f=5 THEN s END) AS s5,
                  max(CASE WHEN f=6 THEN s END) AS s6,
                  max(CASE WHEN f=7 THEN s END) AS s7
                FROM prof GROUP BY doc_id),
         fp2 AS (SELECT *,
                   CAST((CASE WHEN s0 < s1 THEN 1 ELSE 0 END)
                      + (CASE WHEN s1 < s2 THEN 2 ELSE 0 END)
                      + (CASE WHEN s2 < s3 THEN 4 ELSE 0 END)
                      + (CASE WHEN s3 < s4 THEN 8 ELSE 0 END)
                      + (CASE WHEN s4 < s5 THEN 16 ELSE 0 END)
                      + (CASE WHEN s5 < s6 THEN 32 ELSE 0 END)
                      + (CASE WHEN s6 < s7 THEN 64 ELSE 0 END)
                      + (CASE WHEN s7 < s0 THEN 128 ELSE 0 END) AS BIGINT)
                     AS dhash8,
                   CAST(((s0 >> 15) & 15) + (((s1 >> 15) & 15) << 4)
                      + (((s2 >> 15) & 15) << 8) + (((s3 >> 15) & 15) << 12)
                      + (((s4 >> 15) & 15) << 16) + (((s5 >> 15) & 15) << 20)
                      + (((s6 >> 15) & 15) << 24)
                      + (((s7 >> 15) & 15) << 28) AS BIGINT) AS sig32
                 FROM fp),
         reps AS (SELECT s0, s1, s2, s3, s4, s5, s6, s7,
                    min(doc_id) AS rep_id, count(*) AS n_exact,
                    max(dhash8) AS dhash8, max(sig32) AS sig32
                  FROM fp2 GROUP BY 1, 2, 3, 4, 5, 6, 7, 8),
         mrg AS (SELECT b.rep_id AS rep_id, min(a.rep_id) AS canon
                 FROM reps a JOIN reps b
                   ON a.dhash8 = b.dhash8 AND a.sig32 = b.sig32
                   AND a.rep_id < b.rep_id
                   AND greatest(abs(a.s0-b.s0), abs(a.s1-b.s1),
                                abs(a.s2-b.s2), abs(a.s3-b.s3),
                                abs(a.s4-b.s4), abs(a.s5-b.s5),
                                abs(a.s6-b.s6), abs(a.s7-b.s7)) <= 4096
                 GROUP BY b.rep_id)
         SELECT f.doc_id AS asset_id, f.dhash8, f.sig32, r.rep_id,
           coalesce(m.canon, r.rep_id) AS canon_id,
           CAST(r.n_exact AS BIGINT) AS n_exact
         FROM fp2 f JOIN reps r USING (s0, s1, s2, s3, s4, s5, s6, s7)
         LEFT JOIN mrg m ON m.rep_id = r.rep_id"""),

    // Beyond-reference: CROSS-MODAL dedup confirmation — the crawl-page
    // rule "a text near-dup pair is a TRUE mirror when the pages' images
    // perceptually agree": q27's exact text cascade produces the
    // candidate pairs, q189's perceptual canon attributes each side's
    // image, and the verdict column separates image-confirmed mirrors
    // from text-coincidence pairs and text-only pairs (a side without an
    // image asset). Two broadcast-scale attribution joins on top of the
    // cascades — the q187 composition pattern across modalities.
    QuerySpec("q194_multimodal_dedup", Plain, (s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = graft.ops.Dedup.nearDuplicatesExact(
        docs, "doc_id", "text", threshold = 0.7,
        includeMinHashCandidates = false)
      val canon = graft.ops.Multimodal.imageNearDupCanon(
        graft.ops.Multimodal.perceptualHashes(
          graft.ops.Multimodal.toAssets(docs)), maxHamming = 6)
        .select(col("asset_id"), col("canon_id"))
      pairs
        .join(canon.select(col("asset_id").as("id_a"),
          col("canon_id").as("canon_a")), Seq("id_a"), "left")
        .join(canon.select(col("asset_id").as("id_b"),
          col("canon_id").as("canon_b")), Seq("id_b"), "left")
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"),
          when(col("canon_a").isNull || col("canon_b").isNull, "text_only")
            .when(col("canon_a") === col("canon_b"), "confirmed")
            .otherwise("contradicted").as("verdict"))
    },
      // q27's all-pairs text truth left-joined to the q189 dHash canon
      // (recomputed from the pixel generator), same verdict CASE
      """WITH sets AS (
           SELECT doc_id, list_distinct(
             CASE WHEN len(string_split(text, ' ')) < 3 THEN [text]
                  ELSE list_transform(range(1, len(string_split(text, ' ')) - 1),
                         i -> array_to_string(list_slice(string_split(text, ' '),
                                CAST(i AS INT), CAST(i + 2 AS INT)), ' '))
             END) AS fset
           FROM documents),
         tp AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             round(len(list_intersect(a.fset, b.fset))::DOUBLE /
                   len(list_distinct(a.fset || b.fset))::DOUBLE, 4) AS jaccard
           FROM sets a JOIN sets b ON a.doc_id < b.doc_id
           WHERE len(list_intersect(a.fset, b.fset))::DOUBLE /
                 len(list_distinct(a.fset || b.fset))::DOUBLE >= 0.7),
         img AS (SELECT doc_id FROM documents WHERE doc_id % 4 IN (0, 1)),
         px AS (SELECT doc_id, x, y,
                  CAST((doc_id*31 + x*7 + y*13) % 256 AS BIGINT) AS p
                FROM img, range(8) t1(x), range(8) t2(y)),
         bits AS (SELECT a.doc_id, a.x, a.y,
                    CASE WHEN a.p < b.p THEN 1 ELSE 0 END AS bit
                  FROM px a JOIN px b
                    ON a.doc_id = b.doc_id AND b.x = (a.x+1) % 8 AND b.y = a.y),
         bands AS (SELECT doc_id, y//2 AS band,
                     CAST(sum(bit * (1::BIGINT << ((y%2)*8 + x))) AS BIGINT) AS v
                   FROM bits GROUP BY 1, 2),
         h AS (SELECT doc_id,
                 max(CASE WHEN band=0 THEN v END) AS b0,
                 max(CASE WHEN band=1 THEN v END) AS b1,
                 max(CASE WHEN band=2 THEN v END) AS b2,
                 max(CASE WHEN band=3 THEN v END) AS b3
               FROM bands GROUP BY doc_id),
         reps AS (SELECT b0, b1, b2, b3, min(doc_id) AS rep_id
                  FROM h GROUP BY 1, 2, 3, 4),
         rb AS (SELECT rep_id, 0 AS band, b0 AS v FROM reps
                UNION ALL SELECT rep_id, 1, b1 FROM reps
                UNION ALL SELECT rep_id, 2, b2 FROM reps
                UNION ALL SELECT rep_id, 3, b3 FROM reps),
         cand AS (SELECT DISTINCT a.rep_id AS lo, b.rep_id AS hi
                  FROM rb a JOIN rb b
                    ON a.band = b.band AND a.v = b.v AND a.rep_id < b.rep_id),
         ham AS (SELECT c.lo, c.hi,
                   bit_count(xor(ra.b0, rs.b0)) + bit_count(xor(ra.b1, rs.b1)) +
                   bit_count(xor(ra.b2, rs.b2)) + bit_count(xor(ra.b3, rs.b3)) AS d
                 FROM cand c JOIN reps ra ON ra.rep_id = c.lo
                             JOIN reps rs ON rs.rep_id = c.hi),
         mrg AS (SELECT hi AS rep_id, min(lo) AS canon
                 FROM ham WHERE d <= 6 GROUP BY hi),
         canon AS (SELECT h.doc_id AS asset_id,
                     coalesce(m.canon, r.rep_id) AS canon_id
                   FROM h JOIN reps r USING (b0, b1, b2, b3)
                   LEFT JOIN mrg m ON m.rep_id = r.rep_id)
         SELECT tp.id_a, tp.id_b, tp.jaccard,
           CASE WHEN ca.canon_id IS NULL OR cb.canon_id IS NULL
                  THEN 'text_only'
                WHEN ca.canon_id = cb.canon_id THEN 'confirmed'
                ELSE 'contradicted' END AS verdict
         FROM tp LEFT JOIN canon ca ON ca.asset_id = tp.id_a
                 LEFT JOIN canon cb ON cb.asset_id = tp.id_b"""),

    // Beyond-reference: STREAMING PERCEPTUAL image dedup admission —
    // q152's first-arrival state machine with the image cascade's dHash
    // bands as the buckets: assets decode IN-STREAM (stateless
    // mapPartitions, the real-codec shape), each image enters its four
    // 16-bit band buckets, and an image is admitted iff it is the first
    // arrival in EVERY band — the crawl-frontier screen that drops a
    // mirrored image before it is ever stored. Version order = doc_id
    // order in this fixture (the q152 argument), so the oracle replays
    // admission as min-id-per-bucket over the generator-derived bands.
    QuerySpec("q198_stream_image_dedup", Streaming, (s, dir) => {
      import s.implicits._
      graft.log.SharedFixtures.ensure(s, dir)
      val path = graft.log.GraftCatalog.location(
        s"${graft.log.SharedFixtures.SHARE}.documents_versioned")
      val sink = "graft_q198_sink"
      s.catalog.dropTempView(sink)
      val src = s.readStream.format("graft").option("path", path)
        .option("startingVersion", "0")
        .option("maxFilesPerTrigger", "2").load()
      val buckets = graft.ops.Multimodal.perceptualHashes(
        graft.ops.Multimodal.toAssets(src))
        .select(col("asset_id").as("doc_id"),
          posexplode(array(col("b0"), col("b1"), col("b2"), col("b3")))
            .as(Seq("band", "v")))
        .as[(Long, Int, Int)]
      val verdicts = buckets
        .groupByKey(r => (r._2, r._3))
        .flatMapGroupsWithState[Long, (Long, Boolean)](
          org.apache.spark.sql.streaming.OutputMode.Append(),
          org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout) {
          case (_, rows, state) =>
            graft.ops.Incremental.admitFirstArrival(rows.map(_._1).toArray, state)
        }
        .toDF("doc_id", "first_in_bucket")
      val q = verdicts.writeStream.format("memory").queryName(sink)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      drain(q)
      s.table(sink).groupBy(col("doc_id"))
        .agg(min(col("first_in_bucket")).as("admitted"),
          count(when(col("first_in_bucket"), 1)).as("n_first"))
    },
      // bands from the pixel generator, admission = first id per (band,
      // value) bucket in version (= doc_id) order, admitted iff first in
      // all four
      """WITH img AS (SELECT doc_id FROM documents WHERE doc_id % 4 IN (0, 1)),
         px AS (SELECT doc_id, x, y,
                  CAST((doc_id*31 + x*7 + y*13) % 256 AS BIGINT) AS p
                FROM img, range(8) t1(x), range(8) t2(y)),
         bits AS (SELECT a.doc_id, a.x, a.y,
                    CASE WHEN a.p < b.p THEN 1 ELSE 0 END AS bit
                  FROM px a JOIN px b
                    ON a.doc_id = b.doc_id AND b.x = (a.x+1) % 8 AND b.y = a.y),
         bands AS (SELECT doc_id, y//2 AS band,
                     CAST(sum(bit * (1::BIGINT << ((y%2)*8 + x))) AS BIGINT) AS v
                   FROM bits GROUP BY 1, 2),
         firsts AS (SELECT band, v, min(doc_id) AS first_id
                    FROM bands GROUP BY band, v)
         SELECT b.doc_id,
           CAST(min(CASE WHEN b.doc_id = f.first_id THEN 1 ELSE 0 END) AS BOOLEAN)
             AS admitted,
           CAST(sum(CASE WHEN b.doc_id = f.first_id THEN 1 ELSE 0 END) AS BIGINT)
             AS n_first
         FROM bands b JOIN firsts f ON f.band = b.band AND f.v = b.v
         GROUP BY b.doc_id"""),

    // Beyond-reference: ISO-BMFF (mp4) CONTAINER manifest + mirror
    // detection without a codec — the structural layer under the one
    // remaining multimodal stub. Every doc becomes a REAL mp4 container
    // (ftyp + chunked mdat + full moov sample tables, 256+ samples —
    // the realistic count); parsing resolves per-sample absolute byte
    // ranges through stsc/stco/stsz/stts and signs each sample's mdat
    // range. Assets sharing a content key are re-muxed mirrors; grouping
    // by sha-256 OF the ordered signature chain finds them — a CONSTANT-
    // WIDTH (64-char) shuffle key at any sample count, where the raw
    // chain would be a multi-KB key on a real 10³–10⁵-sample container.
    // The chain only exists transiently inside the per-asset aggregation
    // (keyed by asset_id, fixed width); if any offset in the chunk-
    // mapping composition were wrong, the signatures (recomputed by the
    // oracle from the generator formula alone) would not hash-match.
    // Plan: two map-side-combinable aggregations, zero joins — candidate
    // volume bounded by distinct container content, the q189/q193
    // representative posture.
    QuerySpec("q199_video_container_dedup", Plain, (s, dir) => {
      val manifest = graft.ops.Multimodal.videoManifest(
        graft.ops.Multimodal.videoAssets(t(s, dir, "documents"),
          baseSamples = 256))
      val perAsset = manifest
        .groupBy(col("asset_id"))
        .agg(
          countDistinct(col("track_id")).as("n_tracks"),
          min(col("codec")).as("codec"),
          min(col("timescale")).as("timescale"),
          count(lit(1)).as("n_samples"),
          sum(col("sample_bytes")).as("total_bytes"),
          sum(col("sample_ticks")).as("total_ticks"),
          sum(col("signature")).as("sig_sum"),
          sort_array(collect_list(struct(col("sample_idx"), col("signature"))))
            .as("chain"))
        .withColumn("chain_hash", sha2(concat_ws(",", expr(
          """transform(chain, x -> concat(cast(x.sample_idx as string),
            |':', cast(x.signature as string)))""".stripMargin)), 256))
        .drop("chain")
      perAsset.groupBy(col("chain_hash"))
        .agg(min(col("asset_id")).as("group_id"),
          count(lit(1)).as("n_assets"),
          first(col("n_tracks")).as("n_tracks"),
          first(col("codec")).as("codec"),
          first(col("timescale")).as("timescale"),
          first(col("n_samples")).as("n_samples"),
          first(col("total_bytes")).as("total_bytes"),
          first(col("total_ticks")).as("total_ticks"),
          first(col("sig_sum")).as("sig_sum"))
        .drop("chain_hash")
        .orderBy(col("group_id"))
    },
      // container replay from the IsoBmff generator formula: content key
      // k = doc_id % 50; nSamples = 4 + k%5; size(i) = 16 + (k*7+i*13)%17;
      // byte(i,j) = (k*31+i*17+j*7)%256; signature = sum (byte+1)*(j+1);
      // mirror groups = equal ordered signature chains. Track metadata
      // literals pin the moov parse (1 'dtrm' video track, timescale 600,
      // 100 ticks/sample).
      """WITH ck AS (SELECT doc_id, doc_id % 50 AS k FROM documents),
         keys AS (SELECT DISTINCT k FROM ck),
         samp AS (SELECT k, unnest(range(256 + (k % 5))) AS i FROM keys),
         sized AS (SELECT k, i, CAST(16 + ((k*7 + i*13) % 17) AS BIGINT) AS sz
                   FROM samp),
         bytes AS (SELECT k, i, sz, unnest(range(sz)) AS j FROM sized),
         sig AS (SELECT k, i, any_value(sz) AS sz,
                   CAST(sum((((k*31 + i*17 + j*7) % 256) + 1) * (j + 1)) AS BIGINT) AS fp
                 FROM bytes GROUP BY k, i),
         perk AS (SELECT k,
                    sha256(string_agg(CAST(i AS VARCHAR) || ':' ||
                      CAST(fp AS VARCHAR), ',' ORDER BY i)) AS chain_hash,
                    CAST(count(*) AS BIGINT) AS n_samples,
                    CAST(sum(sz) AS BIGINT) AS total_bytes,
                    CAST(count(*) * 100 AS BIGINT) AS total_ticks,
                    CAST(sum(fp) AS BIGINT) AS sig_sum
                  FROM sig GROUP BY k),
         assets AS (SELECT c.doc_id AS asset_id, p.chain_hash, p.n_samples,
                      p.total_bytes, p.total_ticks, p.sig_sum
                    FROM ck c JOIN perk p ON p.k = c.k)
         SELECT CAST(min(asset_id) AS BIGINT) AS group_id,
                CAST(count(*) AS BIGINT) AS n_assets,
                CAST(1 AS BIGINT) AS n_tracks,
                'dtrm' AS codec,
                CAST(600 AS BIGINT) AS timescale,
                any_value(n_samples) AS n_samples,
                any_value(total_bytes) AS total_bytes,
                any_value(total_ticks) AS total_ticks,
                any_value(sig_sum) AS sig_sum
         FROM assets GROUP BY chain_hash ORDER BY group_id"""),

    // Beyond-reference: STREAMING video-mirror admission — the q198
    // first-arrival state machine with the ISO-BMFF container signature
    // as the bucket: assets are encoded and PARSED in-stream (stateless
    // mapPartitions, the real-container shape; 256+ samples per
    // container), each container enters one bucket keyed by the sha-256
    // of its ordered sample-signature chain — a CONSTANT-WIDTH state-
    // store key at any sample count (the raw chain would grow the state
    // key multi-KB on real containers) — and an asset is admitted iff
    // it is the bucket's first arrival — the crawl-frontier screen that
    // drops a re-uploaded video before its frames are ever stored, no
    // codec involved. Version order = doc_id order in this fixture, so
    // the oracle replays admission as min-doc_id per content key.
    QuerySpec("q203_stream_video_dedup", Streaming, (s, dir) => {
      import s.implicits._
      graft.log.SharedFixtures.ensure(s, dir)
      val path = graft.log.GraftCatalog.location(
        s"${graft.log.SharedFixtures.SHARE}.documents_versioned")
      val sink = "graft_q203_sink"
      s.catalog.dropTempView(sink)
      val src = s.readStream.format("graft").option("path", path)
        .option("startingVersion", "0")
        .option("maxFilesPerTrigger", "2").load()
      val buckets = graft.ops.Multimodal.videoSignatures(
        graft.ops.Multimodal.videoAssets(src.select(col("doc_id")),
          baseSamples = 256))
        .select(col("asset_id").as("doc_id"), col("chain_hash").as("bucket"))
        .as[(Long, String)]
      val verdicts = buckets
        .groupByKey(_._2)
        .flatMapGroupsWithState[Long, (Long, Boolean)](
          org.apache.spark.sql.streaming.OutputMode.Append(),
          org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout) {
          case (_, groupRows, state) =>
            graft.ops.Incremental.admitFirstArrival(groupRows.map(_._1).toArray, state)
        }
        .toDF("doc_id", "admitted")
      val q = verdicts.writeStream.format("memory").queryName(sink)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      drain(q)
      s.table(sink).groupBy(col("admitted"))
        .agg(count(lit(1)).as("n_assets"), min(col("doc_id")).as("min_id"))
    },
      // container mirror buckets are the content keys (doc_id % 50 — the
      // 50 distinct chains are pinned one-to-one by q199); version order =
      // doc_id order, so first-arrival admission = min doc_id per key
      """WITH ck AS (SELECT doc_id, doc_id % 50 AS k FROM documents),
         firsts AS (SELECT k, min(doc_id) AS first_id FROM ck GROUP BY k)
         SELECT (c.doc_id = f.first_id) AS admitted,
                CAST(count(*) AS BIGINT) AS n_assets,
                CAST(min(c.doc_id) AS BIGINT) AS min_id
         FROM ck c JOIN firsts f USING (k) GROUP BY 1""")
  )
}
