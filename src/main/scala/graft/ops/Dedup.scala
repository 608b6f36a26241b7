package graft.ops

import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators: exact, MinHash+LSH, SimHash, and n-gram
  * Jaccard verification.
  *
  * Scale design (the whole point of these shapes at 100 TB):
  *  - never a cross join — candidate generation is always a *bucket
  *    equi-join* (LSH band hash / SimHash chunk), so Spark shuffles on the
  *    bucket key and AQE handles residual skew;
  *  - signatures are computed with map-side partial aggregation
  *    (`groupBy(doc).agg(min...)` over exploded features);
  *  - verification (exact Jaccard / Hamming) runs only on candidate
  *    pairs, joined back to per-doc feature sets.
  */
object Dedup {

  // ------------------------------------------------------------------ exact

  /** Keep one representative (min id) per exact content group. */
  def exactDedup(docs: DataFrame, idCol: String, keyCol: Column): DataFrame =
    docs.groupBy(keyCol.as("dedup_key"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("group_size"))

  // ---------------------------------------------------------------- minhash

  /** Word n-gram shingles of the whitespace-tokenized text. Documents
    * shorter than `n` tokens contribute their full text as one shingle.
    */
  def shingles(text: Column, n: Int = 3): Column =
    // bind the token array once per row (lambda variable): a shared
    // split() Column would be re-inlined — and re-evaluated on the
    // interpreted HOF path — once per produced shingle
    element_at(transform(array(split(text, " ")), ts =>
      when(size(ts) < n, array(text)).otherwise(
        transform(sequence(lit(0), size(ts) - n),
          i => concat_ws(" ", slice(ts, i + 1, lit(n)))))), 1)

  /** One seeded 64-bit hash family member. */
  private def seededHash(c: Column, seed: Int): Column =
    xxhash64(lit(seed), c)

  /** MinHash signature columns `h0..h{k-1}` per document — one shuffle,
    * map-side combinable (`min` is associative).
    */
  def minHashSignatures(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      numHashes: Int = 32): DataFrame = {
    val exploded = docs
      .select(col(idCol), explode(shingles(col(textCol), shingleSize)).as("__sh"))
    val aggs = (0 until numHashes).map(j => min(seededHash(col("__sh"), j)).as(s"h$j"))
    exploded.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** LSH banding: docs agreeing on ALL hashes within any band become
    * candidates. Returns distinct pairs `(id_a < id_b)`.
    */
  def minHashCandidates(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      numHashes: Int = 32,
      bands: Int = 8): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val rows = numHashes / bands
    val sigs = minHashSignatures(docs, idCol, textCol, shingleSize, numHashes)
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        xxhash64((b * rows until (b + 1) * rows).map(j => col(s"h$j")): _*).as("bh"))
    }
    val buckets = sigs.select(col(idCol), explode(array(bandCols: _*)).as("bucket"))
    val a = buckets.select(col(idCol).as("id_a"), col("bucket"))
    val b = buckets.select(col(idCol).as("id_b"), col("bucket"))
    a.join(b, Seq("bucket")).filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  /** Exact Jaccard similarity over distinct shingle sets for given pairs. */
  def jaccardVerify(
      pairs: DataFrame, // columns id_a, id_b
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3): DataFrame = {
    val sets = docs.select(col(idCol).as("__id"),
      array_distinct(shingles(col(textCol), shingleSize)).as("__set"))
    pairs
      .join(sets.select(col("__id").as("id_a"), col("__set").as("set_a")), Seq("id_a"))
      .join(sets.select(col("__id").as("id_b"), col("__set").as("set_b")), Seq("id_b"))
      .withColumn("jaccard",
        size(array_intersect(col("set_a"), col("set_b"))).cast("double") /
          size(array_union(col("set_a"), col("set_b"))).cast("double"))
      .select("id_a", "id_b", "jaccard")
  }

  /** Full MinHash near-dup pipeline: candidates → Jaccard ≥ threshold.
    * Probabilistic recall (a qualifying pair can miss every band); use
    * [[nearDuplicatesExact]] when the output must be exactly complete.
    */
  def nearDuplicates(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.7,
      shingleSize: Int = 3,
      numHashes: Int = 32,
      bands: Int = 8): DataFrame = {
    val cands = minHashCandidates(docs, idCol, textCol, shingleSize, numHashes, bands)
    jaccardVerify(cands, docs, idCol, textCol, shingleSize)
      .filter(col("jaccard") >= threshold)
  }

  // --------------------------------------------------------- prefix filter

  /** Provably complete Jaccard-join candidates via prefix filtering
    * (the AllPairs/PPJoin family, Bayardo et al., WWW'07): order every
    * document's feature set by global frequency (rarest first — any fixed
    * total order is correct, rarity minimizes candidates); two sets with
    * Jaccard ≥ t MUST share a feature among the first
    * `n - ceil(t·n) + 1` features of each side. Unlike banded MinHash
    * this never misses a qualifying pair, and it is still a bucket
    * equi-join on the feature (never all-pairs): the classic exact
    * set-similarity-join shape at scale.
    *
    * `sets` needs columns (id, fset: array of distinct features).
    */
  // Float-safe ⌈t·n⌉: t·n can land an ulp above the true integer value
  // (e.g. 0.55·20 ⇒ 11.000000000000002), which would shorten the prefix
  // by one and break completeness; the epsilon shift never crosses a
  // genuine non-integer boundary for any plausible n.
  private def ceilSafe(x: Column): Column = ceil(x - lit(1e-9))

  /** Per-corpus feature tables shared by candidate generation and
    * verification: the exploded (id, set size, feature) rows, and the
    * distinct-feature dictionary with global frequency and a dense long
    * code. Codes make verification compare longs instead of strings.
    *
    * The dense code is a DISTRIBUTED global rank by (freq, feature):
    * range-partition the distinct features, rank within each partition
    * (the window is per-partition, never a single global task), and add
    * per-partition row-count offsets via a ≤-numPartitions-row broadcast.
    * Codes are deterministic (pure function of the rank order, wherever
    * the range boundaries fall), so recomputation in different DAG
    * branches assigns identical codes — required because verification
    * joins the code table on both pair sides.
    */
  private[graft] def featureTables(sets: DataFrame): (DataFrame, DataFrame) = {
    // The exploded feature table feeds several consumers (dictionary,
    // prefix ranking, verification codes, MinHash signatures) in
    // different DAG branches. It is deliberately NOT persisted: explode
    // over the scanned corpus is pure codegen and recomputes faster than
    // a cache materializes (measured 14.2s → 17.4s WITH persist on the
    // ngram pipeline at sf0.1); identical shuffle subtrees still dedup
    // via Spark's exchange reuse.
    // Columns beside id/fset (e.g. the incremental path's __new tag)
    // ride through the explode untouched.
    val passthrough = sets.columns.filter(c => c != "id" && c != "fset").map(col).toSeq
    val exploded = sets.select(
      col("id") +: passthrough :+
        size(col("fset")).as("__n") :+ explode(col("fset")).as("__f"): _*)
    val base = exploded.groupBy(col("__f")).agg(count(lit(1)).as("__freq"))
    val nParts = sets.sparkSession.sessionState.conf.numShufflePartitions
    val parts = base.repartitionByRange(nParts, col("__freq"), col("__f"))
      .withColumn("__pid", spark_partition_id())
    val ranked = parts.withColumn("__local",
      row_number().over(Window.partitionBy(col("__pid")).orderBy(col("__freq"), col("__f"))))
    // Per-partition code offsets = exclusive prefix sum of partition row
    // counts. Computed over one collect_list row (≤ nParts structs) with
    // higher-order functions — no global window, no driver round-trip.
    val offsets = ranked.groupBy(col("__pid")).agg(count(lit(1)).as("__c"))
      .agg(array_sort(collect_list(struct(col("__pid"), col("__c")))).as("__pcs"))
      .select(explode(expr(
        """transform(__pcs, (p, i) -> struct(
          |  p.__pid as __pid,
          |  aggregate(slice(__pcs, 1, i), 0L, (acc, x) -> acc + x.__c) as __off))"""
          .stripMargin)).as("__po"))
      .select(col("__po.__pid").as("__pid"), col("__po.__off").as("__off"))
    // Deliberately NOT persisted either (measured: caching the dict
    // serializes the DAG behind a materialization job and defeats
    // exchange reuse between branches — first-run latency nearly doubles;
    // identical shuffle subtrees already dedup via ReusedExchange).
    val dict = ranked.join(broadcast(offsets), "__pid")
      .select(col("__f"), col("__freq"), (col("__off") + col("__local")).as("__code"))
    (exploded, dict)
  }

  /** Per-doc SORTED code arrays — ONE aggregation serving BOTH candidate
    * generation and verification. The ascending code order IS the
    * rarest-first (freq, feature) order (codes are global ranks of that
    * exact ordering), so a prefix of the sorted array is the PPJoin
    * prefix — no per-row window rank, no second dictionary join on the
    * verify side, and the candidate join key becomes a LONG instead of a
    * feature string (cheaper hash, compare, and shuffle bytes).
    */
  private[graft] def codedSets(sets: DataFrame): DataFrame = {
    val (exploded, dict) = featureTables(sets)
    codedSetsFromFeatures(exploded, dict)
  }

  private[graft] def codedSetsFromFeatures(
      exploded: DataFrame, dict: DataFrame): DataFrame = {
    val tagged = exploded.columns.contains("__new")
    val aggs = Seq(
      sort_array(collect_list(col("__code"))).as("__codes"),
      first(col("__n")).as("__n")) ++
      (if (tagged) Seq(first(col("__new")).as("__new")) else Nil)
    // PINNED: index prefix, probe prefix, and both verification sides
    // consume this frame — exchange reuse alone would still recompute the
    // per-doc collect+sort four times (measured 9.0 s -> 2.6 s on the
    // sf0.1 char-ngram pipeline). Unlike the exploded table (codegen,
    // cheaper to recompute than cache), the aggregated arrays are the
    // expensive artifact worth keeping.
    Materialize.pin(exploded.join(dict.select(col("__f"), col("__code")), "__f")
      .groupBy(col("id"))
      .agg(aggs.head, aggs.tail: _*))
  }

  /** Release the calling thread's current [[Materialize]] scope: every
    * pin made there so far (the code arrays above among them). Callers
    * that run queries back to back on one thread call it between them.
    */
  def releasePersisted(): Unit = Materialize.releaseScope()

  /** The (index, probe) prefix tables SLICED from the sorted code arrays
    * (same contract as the former window-ranked variant): `__f` is the
    * code at 1-based in-doc rank `__rn`; index/probe lengths follow the
    * asymmetric PPJoin lemma (see [[prefixJoin]]).
    */
  private[graft] def prefixTables(
      codes: DataFrame, threshold: Double): (DataFrame, DataFrame) = {
    require(threshold > 0.0 && threshold <= 1.0, s"threshold in (0,1], got $threshold")
    val tagged = codes.columns.contains("__new")
    def cut(len: Column): DataFrame = {
      val keep = Seq(col("id"), col("__n")) ++
        (if (tagged) Seq(col("__new")) else Nil)
      codes.select(keep :+
        posexplode(slice(col("__codes"), lit(1), len.cast("int"))).as(Seq("__p", "__f")): _*)
        .withColumn("__rn", col("__p") + 1).drop("__p")
    }
    val probeLen = col("__n") - ceilSafe(col("__n") * lit(threshold)) + 1
    val indexLen = col("__n") -
      ceilSafe(col("__n") * lit(2.0 * threshold / (1.0 + threshold))) + 1
    (cut(indexLen), cut(probeLen))
  }

  /** Exact Jaccard straight over the sorted code arrays: |A∩B| via the
    * native codegen merge walk ([[graft.functions.SortedLongIntersectCount]]),
    * |A∪B| = n_a + n_b − |A∩B|.
    */
  private[graft] def codedVerifyFromCodes(
      pairs: DataFrame, codes: DataFrame, threshold: Double): DataFrame = {
    val intersectCount = org.apache.spark.sql.GraftSqlBridge.column(
      graft.functions.SortedLongIntersectCount(
        org.apache.spark.sql.GraftSqlBridge.expression(col("__ca")),
        org.apache.spark.sql.GraftSqlBridge.expression(col("__cb"))))
    pairs.select("id_a", "id_b")
      .join(codes.select(col("id").as("id_a"),
        col("__codes").as("__ca"), col("__n").as("__sa")), "id_a")
      .join(codes.select(col("id").as("id_b"),
        col("__codes").as("__cb"), col("__n").as("__sb")), "id_b")
      .withColumn("__o", intersectCount.cast("double"))
      .withColumn("jaccard", col("__o") / (col("__sa") + col("__sb") - col("__o")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Candidate pairs after the AllPairs/PPJoin filter cascade. All three
    * prunings preserve exact completeness:
    *  - prefix filter: two sets with Jaccard ≥ t must share a feature in
    *    each side's first n−⌈t·n⌉+1 features under a fixed global order
    *    (rarest first — rarity minimizes candidates);
    *  - length filter: J ≤ min(n)/max(n), so require min(n) ≥ t·max(n);
    *  - positional filter, applied PER JOINED ROW before any shuffle: at a
    *    shared feature with in-doc ranks (rn_a, rn_b), every further
    *    shared feature ranks after it in BOTH docs (positions follow the
    *    same global order), so overlap ≤ 1 + min(n_a−rn_a, n_b−rn_b);
    *    rows where that bound < α = ⌈t/(1+t)·(n_a+n_b)⌉ can never witness
    *    a qualifying pair. Completeness: a pair with overlap O ≥ α keeps
    *    its FIRST-match row, whose bound is ≥ O. Filtering before the
    *    pair-level distinct (instead of aggregating min-position structs
    *    and filtering per pair) kills the frequent-feature rows — which
    *    sit late in prefixes precisely because the order is rarest-first —
    *    on the map side, before they cost a shuffle.
    */
  /** The candidate join is ASYMMETRIC (PPJoin indexing prefix, Xiao et
    * al. WWW'08): order docs by (n, id); for a qualifying pair with
    * x ≺ y, α ≥ ⌈t/(1+t)·(n_x+n_y)⌉ ≥ ⌈2t/(1+t)·n_x⌉ (n_y ≥ n_x) and
    * α ≥ ⌈t·n_y⌉ (length filter gives n_x ≥ t·n_y), so by the classic
    * prefix lemma (|A∩B| ≥ α ⟹ the (n−α+1)-prefixes intersect) the pair
    * shares a feature inside x's INDEX prefix n_x − ⌈2t/(1+t)·n_x⌉ + 1
    * (shorter) and y's PROBE prefix n_y − ⌈t·n_y⌉ + 1. Joining short ×
    * long instead of long × long shrinks the bucket join roughly by the
    * prefix-ratio and drops the id_a<id_b half-filter.
    */
  /** The feature-bucketed candidate join over prepared prefix tables.
    * `index`/`probe` may be filtered subsets of [[prefixTables]]'
    * output — completeness then holds for exactly the pairs whose
    * (n, id)-smaller side is in `index` and larger side in `probe`.
    */
  private[graft] def prefixJoin(
      index: DataFrame, probe: DataFrame, threshold: Double,
      pairFilter: Column = lit(true)): DataFrame = {
    val tagged = index.columns.contains("__new")
    def side(df: DataFrame, s: String) = df.select(
      Seq(col("id").as(s"id_$s"), col("__f"),
        col("__rn").as(s"__rn_$s"), col("__n").as(s"__n_$s")) ++
        (if (tagged) Seq(col("__new").as(s"__new_$s")) else Nil): _*)
    side(index, "x").join(side(probe, "y"), Seq("__f"))
      // caller-supplied pair pruning over the joined row (e.g. the
      // incremental path's "at least one side is new"), applied
      // map-side before any further work
      .filter(pairFilter)
      // x strictly precedes y in the (n, id) order
      .filter(col("__n_x") < col("__n_y") ||
        (col("__n_x") === col("__n_y") && col("id_x") < col("id_y")))
      // length filter: J ≤ min/max ⟹ require n_x ≥ t·n_y
      .filter(col("__n_x").cast("double") >=
        lit(threshold) * col("__n_y").cast("double") - lit(1e-9))
      // positional filter at this shared feature (overlap ≤ 1 + min of
      // the remaining suffixes — exact, see class doc)
      .filter(lit(1) + least(col("__n_x") - col("__rn_x"), col("__n_y") - col("__rn_y")) >=
        ceilSafe(lit(threshold / (1.0 + threshold)) * (col("__n_x") + col("__n_y"))))
      .select(least(col("id_x"), col("id_y")).as("id_a"),
        greatest(col("id_x"), col("id_y")).as("id_b"))
      .distinct()
  }

  /** COMPLETE near-dup pairs: exactly every pair with shingle-Jaccard ≥
    * threshold. Candidates = prefix-filter (completeness guarantee),
    * optionally ∪ MinHash-LSH bands (`includeMinHashCandidates` — the
    * probabilistic generator is redundant for completeness since the
    * prefix filter alone is provably complete and verification applies
    * the exact metric; the union exists to exercise both generators in
    * one pipeline and costs one extra signature pass + band join).
    */
  def nearDuplicatesExact(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.7,
      shingleSize: Int = 3,
      numHashes: Int = 32,
      bands: Int = 8,
      includeMinHashCandidates: Boolean = true): DataFrame = {
    // pinned: the shingle-set frame feeds the dictionary aggregate AND
    // the code join (plus the optional MinHash band pass)
    val sets = Materialize.pin(Par.widen(docs).select(col(idCol).as("id"),
      array_distinct(shingles(col(textCol), shingleSize)).as("fset")))
    val (exploded, dict) = featureTables(sets)
    val codes = codedSetsFromFeatures(exploded, dict)
    val (index, probe) = prefixTables(codes, threshold)
    val prefix = prefixJoin(index, probe, threshold).select("id_a", "id_b")
    // MinHash over the SAME exploded feature table (min over the
    // distinct set is exactly the MinHash definition) — the probabilistic
    // band path rides the shared subtree instead of re-shingling.
    val cands =
      if (includeMinHashCandidates)
        prefix.union(minHashCandidatesFromFeatures(exploded, numHashes, bands)).distinct()
      else prefix
    codedVerifyFromCodes(cands, codes, threshold)
  }

  /** Paragraph segmentation for prose corpora: split on blank lines
    * (the RefinedWeb/CCNet paragraph unit), trimmed, empties dropped.
    */
  val blankLineParagraphs: Column => Column = text =>
    filter(transform(split(text, "\\n{2,}"), p => trim(p)), p => p =!= "")

  /** Paragraph segmentation for single-line corpora: consecutive
    * windows of `w` whitespace tokens (the last window may be shorter).
    */
  def tokenWindows(w: Int): Column => Column = { text =>
    require(w >= 1, s"window size $w")
    val toks = split(text, " ")
    when(size(toks) === 0, array().cast("array<string>"))
      .otherwise(transform(
        sequence(lit(0),
          ceil(size(toks).cast("double") / lit(w.toDouble)).cast("int") - 1),
        i => array_join(slice(toks, i * w + 1, lit(w)), " ")))
  }

  /** PARAGRAPH-level near-dup removal with document reassembly — the
    * sub-document dedup real pipelines run between doc-level near-dup
    * and substring dedup (RefinedWeb §"line-wise corrections" / CCNet
    * paragraph hashing, generalized from exact hashes to Jaccard ≥
    * `threshold`):
    *
    *  1. segment every document into paragraph units (`paragraphs`;
    *     blank-line split by default, [[tokenWindows]] for single-line
    *     corpora), unit id = docId·1024 + paragraph index;
    *  2. run the EXACT coded-sets cascade ([[nearDuplicatesExact]]'s
    *     machinery — prefix-filter candidates are provably complete,
    *     verification is exact shingle Jaccard) at paragraph
    *     granularity;
    *  3. drop every unit with a duplicate at a smaller unit id (first
    *     arrival wins — the q94 admission rule, which also removes
    *     within-document boilerplate repeats);
    *  4. reassemble per document: kept/dropped mask in paragraph order
    *     plus the text rebuilt from the kept paragraphs.
    *
    * 100 TB shape: the unit table is a constant factor over the corpus
    * (paragraphs per doc), every stage is the same bucketed cascade the
    * doc-level dedup runs (no all-pairs leg), and reassembly is one
    * groupBy(docId) over (pidx, flag, paragraph) triples.
    *
    * Returns (doc_id, n_paras, n_kept, kept_mask, text_kept).
    */
  def paragraphDedup(
      docs: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.7, shingleSize: Int = 3,
      paragraphs: Column => Column = blankLineParagraphs): DataFrame = {
    // pinned: the unit table feeds the whole dedup cascade AND the final
    // reassembly join
    val units = Materialize.pin(Par.widen(docs)
      .select(col(idCol).cast("long").as("__did"),
        posexplode(paragraphs(col(textCol))).as(Seq("__pidx", "__para")))
      // unit ids pack (doc, paragraph) into one long join key — cheaper
      // to hash/shuffle than a struct, and trivially SQL-replayable.
      // 1024 paragraphs/doc is a segmentation-unit bound, not a doc-size
      // bound (split coarser for monster docs); the guard keeps a
      // violation loud instead of silently aliasing unit ids.
      .withColumn("id", col("__did") * lit(1024L) + col("__pidx")))
    val sets = units.select(col("id"),
      array_distinct(shingles(col("__para"), shingleSize)).as("fset"))
    val (exploded, dict) = featureTables(sets)
    val codes = codedSetsFromFeatures(exploded, dict)
    val (index, probe) = prefixTables(codes, threshold)
    val pairs = codedVerifyFromCodes(
      prefixJoin(index, probe, threshold).select("id_a", "id_b"),
      codes, threshold)
    // first arrival wins: a unit is dropped iff some smaller-id unit is
    // its near-duplicate (id_a < id_b by construction in prefixJoin)
    val dropped = pairs.select(col("id_b").as("id")).distinct()
      .withColumn("__dup", lit(true))
    units
      .filter(assert_true(col("__pidx") < lit(1024L),
        lit("paragraphDedup: >1024 paragraphs in one document")).isNull)
      .join(dropped, Seq("id"), "left")
      .withColumn("__keep", col("__dup").isNull)
      .groupBy(col("__did").as("doc_id"))
      .agg(
        count(lit(1)).as("n_paras"),
        sum(when(col("__keep"), 1L).otherwise(0L)).as("n_kept"),
        array_sort(collect_list(struct(col("__pidx"),
          when(col("__keep"), "1").otherwise("0").as("__m"),
          when(col("__keep"), col("__para")).otherwise(lit(null)).as("__p"))))
          .as("__rows"))
      .select(col("doc_id"), col("n_paras"), col("n_kept"),
        array_join(transform(col("__rows"), r => r.getField("__m")), "")
          .as("kept_mask"),
        array_join(filter(transform(col("__rows"), r => r.getField("__p")),
          p => p.isNotNull), " ").as("text_kept"))
  }

  /** PROBABILISTIC near-dup pairs: MinHash-LSH band candidates ONLY,
    * verified with exact Jaccard. Output ⊆ [[nearDuplicatesExact]] —
    * precision is exact (every emitted pair truly ≥ threshold), recall
    * follows the 1-(1-J^r)^b band curve. This is the scale path when the
    * complete prefix-filter index is too expensive; benched separately so
    * each candidate generator's cost is attributed honestly.
    */
  def nearDuplicatesLsh(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.7,
      shingleSize: Int = 3,
      numHashes: Int = 32,
      bands: Int = 8): DataFrame = {
    val sets = Par.widen(docs).select(col(idCol).as("id"),
      array_distinct(shingles(col(textCol), shingleSize)).as("fset"))
    val (exploded, dict) = featureTables(sets)
    codedVerifyFromCodes(minHashCandidatesFromFeatures(exploded, numHashes, bands),
      codedSetsFromFeatures(exploded, dict), threshold)
  }

  /** Cross-engine-reproducible hash family for MinHash via DOUBLE
    * HASHING (Kirsch-Mitzenmacher 2006: h_j = h1 + j*h2 approximates an
    * independent family): ONE md5 per shingle yields h1 (hex digits
    * 1-12) and h2 (digits 13-24) - 48 uniform bits each, so
    * h1 + 31*h2 < 2^54 never overflows a signed 64-bit value in ANY
    * engine (DuckDB errors on BIGINT overflow rather than wrapping).
    * 32 family members for one digest instead of 32 digests - measured
    * 11.2 s -> ~6 s on the sf0.1 bench - and the DuckDB oracle replays
    * the exact banding. [[seededHash]] (xxhash64) remains the fast
    * engine-private family for production runs.
    */
  private[graft] def portableH(c: Column, from: Int): Column =
    conv(substring(md5(c), from, 12), 16, 10).cast("long")

  /** [[nearDuplicatesLsh]] with the portable md5 hash family and decimal
    * string band keys, so an EXTERNAL engine can replay candidate
    * generation bit-for-bit (this is the oracle-checked driver query).
    * Same scale shape — banded equi-join candidates, exact coded-Jaccard
    * verify; recall follows the same 1-(1-J^r)^b curve (a different hash
    * family draws a possibly different miss set than xxhash64).
    */
  def nearDuplicatesLshPortable(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.7,
      shingleSize: Int = 3,
      numHashes: Int = 32,
      bands: Int = 8): DataFrame = {
    // pinned: the shingle-set frame feeds the signature aggregate, the
    // dictionary aggregate, and the code join
    val sets = Materialize.pin(Par.widen(docs).select(col(idCol).as("id"),
      array_distinct(shingles(col(textCol), shingleSize)).as("fset")))
    val sigs = portableSignatures(sets, numHashes)
    val cands = portableBandCandidates(sigs, numHashes, bands)
    val (exploded, dict) = featureTables(sets)
    codedVerifyFromCodes(cands, codedSetsFromFeatures(exploded, dict), threshold)
  }

  /** Pairwise SOURCE-overlap matrix — which dumps/crawl snapshots
    * overlap, and by how much — WITHOUT any doc-pair join. Two halves,
    * both from ONE shingle scan:
    *
    *  - SKETCH: a k-coordinate MinHash signature per SOURCE (min over
    *    every member doc's shingles = the signature of the source's
    *    shingle-set UNION, because min distributes over union), then the
    *    tiny #sources-row table self-joins and J(A,B) is estimated as
    *    the fraction of agreeing coordinates (Broder 1997). O(corpus)
    *    scan + O(sources²·k) reduce — the doc-pair spelling is
    *    quadratic in CORPUS size, this is quadratic only in the source
    *    count.
    *  - EXACT: per-shingle source sets (bounded by the source count, so
    *    the per-shingle pair expansion is ≤ sources² — safe by
    *    construction at any corpus size) → exact |A∩B| and set sizes →
    *    exact Jaccard next to the estimate, making estimator error
    *    visible in the report itself. At very large source counts drop
    *    this half and keep the sketch.
    *
    * Portable md5 double-hash family (the q93/q180 family), so any
    * engine replays every coordinate bit-for-bit.
    */
  def sourceOverlap(
      docs: DataFrame,
      sourceCol: String,
      textCol: String,
      shingleSize: Int = 3,
      numHashes: Int = 32): DataFrame = {
    val sets = Par.widen(docs).select(col(sourceCol).as("id"),
      array_distinct(shingles(col(textCol), shingleSize)).as("fset"))
    val sigs = portableSignatures(sets, numHashes)
    val a = sigs.select(col("id").as("source_a") +:
      (0 until numHashes).map(j => col(s"h$j").as(s"__a$j")): _*)
    val b = sigs.select(col("id").as("source_b") +:
      (0 until numHashes).map(j => col(s"h$j").as(s"__b$j")): _*)
    val est = a.join(broadcast(b), col("source_a") < col("source_b"))
      .withColumn("n_agree", (0 until numHashes)
        .map(j => when(col(s"__a$j") === col(s"__b$j"), 1L).otherwise(0L))
        .reduce(_ + _))
      .select(col("source_a"), col("source_b"), col("n_agree"),
        round(col("n_agree").cast("double") / numHashes, 6).as("est_jaccard"))

    val memb = sets.select(col("id"), explode(col("fset")).as("__sh")).distinct()
    val sizes = memb.groupBy(col("id")).agg(count(lit(1)).as("__n"))
    val inter = memb.groupBy(col("__sh"))
      .agg(sort_array(collect_set(col("id"))).as("__ss"))
      .select(explode(expr(
        """flatten(transform(__ss, (x, i) ->
          |  transform(slice(__ss, i + 2, size(__ss)), y -> struct(x as a, y as b))))"""
          .stripMargin)).as("__p"))
      .groupBy(col("__p.a").as("source_a"), col("__p.b").as("source_b"))
      .agg(count(lit(1)).as("n_shared"))

    est.join(inter, Seq("source_a", "source_b"), "left")
      .na.fill(0L, Seq("n_shared"))
      .join(broadcast(sizes.select(col("id").as("source_a"), col("__n").as("__na"))),
        Seq("source_a"))
      .join(broadcast(sizes.select(col("id").as("source_b"), col("__n").as("__nb"))),
        Seq("source_b"))
      .select(col("source_a"), col("source_b"), col("n_agree"),
        col("est_jaccard"), col("n_shared"),
        round(col("n_shared").cast("double") /
          (col("__na") + col("__nb") - col("n_shared")), 6).as("jaccard"))
  }

  /** One wide row per doc: h0..h{n-1} portable minhash coordinates. */
  private[graft] def portableSignatures(sets: DataFrame, numHashes: Int): DataFrame = {
    val shingled = sets.select(col("id"), explode(col("fset")).as("__sh"))
      .select(col("id"),
        portableH(col("__sh"), 1).as("__h1"), portableH(col("__sh"), 13).as("__h2"))
    val aggs = (0 until numHashes)
      .map(j => min(col("__h1") + lit(j.toLong) * col("__h2")).as(s"h$j"))
    shingled.groupBy(col("id")).agg(aggs.head, aggs.tail: _*)
  }

  /** Distinct banded candidate pairs (id_a < id_b) from wide signatures. */
  private[graft] def portableBandCandidates(
      sigs: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val rows = numHashes / bands
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        concat_ws(",", (b * rows until (b + 1) * rows)
          .map(j => col(s"h$j").cast("string")): _*).as("bh"))
    }
    val buckets = sigs.select(col("id"), explode(array(bandCols: _*)).as("bucket"))
    val a = buckets.select(col("id").as("id_a"), col("bucket"))
    val b = buckets.select(col("id").as("id_b"), col("bucket"))
    a.join(b, Seq("bucket")).filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  /** MinHash ESTIMATOR CALIBRATION — the measurement behind a (bands,
    * rows) choice: over the LSH candidate pairs, compare the signature
    * estimate (fraction of agreeing minhash coordinates, the unbiased
    * Jaccard estimator of Broder 1997) against the EXACT coded-set
    * Jaccard, bucketed by signed error at 0.1 resolution. A calibrated
    * family concentrates near 0; systematic bias or a broken hash family
    * shows up immediately. Estimates are exact multiples of 1/numHashes
    * and the exact Jaccard is an integer ratio, so every number here is
    * engine-reproducible bit-for-bit (portable md5 double-hash family).
    */
  def lshCalibration(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      numHashes: Int = 32,
      bands: Int = 8): DataFrame = {
    // pinned twice: `sets` feeds the signature aggregate AND the
    // dictionary/code branch; `sigs` feeds candidate banding AND both
    // sides of the estimate join (3 consumers — per-stage metrics showed
    // the md5 signature aggregate executing three times). The estimate
    // joins onto the verified pairs (one row per candidate either way),
    // so the candidates are built once and no pair-level join remains.
    val sets = Materialize.pin(Par.widen(docs).select(col(idCol).as("id"),
      array_distinct(shingles(col(textCol), shingleSize)).as("fset")))
    val sigs = Materialize.pin(portableSignatures(sets, numHashes))
    val (exploded, dict) = featureTables(sets)
    val exact = codedVerifyFromCodes(portableBandCandidates(sigs, numHashes, bands),
      codedSetsFromFeatures(exploded, dict), threshold = 0.0)
    val sigA = sigs.select(col("id").as("id_a") +:
      (0 until numHashes).map(j => col(s"h$j").as(s"__a$j")): _*)
    val sigB = sigs.select(col("id").as("id_b") +:
      (0 until numHashes).map(j => col(s"h$j").as(s"__b$j")): _*)
    exact.join(sigA, "id_a").join(sigB, "id_b")
      .withColumn("__est", (0 until numHashes)
        .map(j => when(col(s"__a$j") === col(s"__b$j"), 1).otherwise(0))
        .reduce(_ + _).cast("double") / numHashes)
      .groupBy(round(col("__est") - col("jaccard"), 1).as("err_bucket"))
      .agg(count(lit(1)).as("n_pairs"),
        round(avg(col("__est")), 6).as("avg_est"),
        round(avg(col("jaccard")), 6).as("avg_jaccard"))
  }

  /** LSH band candidates from an exploded (id, __f) feature table. */
  private def minHashCandidatesFromFeatures(
      exploded: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val rows = numHashes / bands
    val aggs = (0 until numHashes).map(j => min(seededHash(col("__f"), j)).as(s"h$j"))
    val sigs = exploded.groupBy(col("id")).agg(aggs.head, aggs.tail: _*)
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        xxhash64((b * rows until (b + 1) * rows).map(j => col(s"h$j")): _*).as("bh"))
    }
    val buckets = sigs.select(col("id"), explode(array(bandCols: _*)).as("bucket"))
    val a = buckets.select(col("id").as("id_a"), col("bucket"))
    val b = buckets.select(col("id").as("id_b"), col("bucket"))
    a.join(b, Seq("bucket")).filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  // ---------------------------------------------------------------- simhash

  /** 64-bit SimHash over token hashes: bit j is the sign of the sum of
    * ±1 contributions. 64 `sum` aggregates — wide but fully map-side
    * combinable, one shuffle by doc id.
    */
  /** INCREMENTAL near-dup admission — the shape a continuously-ingesting
    * training-data pipeline actually runs: admit only the `batch` docs
    * that are not near-duplicates (shingle-Jaccard ≥ threshold) of any
    * `corpus` doc or of a smaller-id batch doc. Returns the admitted
    * `batch` rows unchanged.
    *
    * The corpus is NEVER paired with itself: the PPJoin prefix join runs
    * bipartite — (all × new-probe) ∪ (new-index × old-probe) — so the
    * quadratic corpus self-join that dominates full re-dedup never
    * happens; corpus features only participate as equi-join buckets.
    * Determinism: candidates are the provably-complete prefix filter and
    * verification is exact, so the admitted set is exactly defined by
    * the drop rule (dup of corpus, or of a smaller batch id) — no LSH
    * recall curve in the result. Ids must be unique across BOTH inputs.
    *
    * At 100 TB the remaining per-batch cost is the global feature
    * dictionary over corpus ∪ batch (two scans + one shuffle); a
    * deployment that runs this daily would persist the corpus dictionary
    * and prefix index at rest and union only the batch delta — the
    * bipartite join core here is unchanged under that split.
    */
  def incrementalDedup(
      corpus: DataFrame,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.7,
      shingleSize: Int = 3): DataFrame = {
    def prep(df: DataFrame, isNew: Boolean) = Par.widen(df).select(
      col(idCol).as("id"),
      array_distinct(shingles(col(textCol), shingleSize)).as("fset"),
      lit(isNew).as("__new"))
    val bSets = prep(batch, isNew = true)
    val sets = prep(corpus, isNew = false).unionByName(bSets)
    val codes = codedSets(sets)
    val (index, probe) = prefixTables(codes, threshold)
    // ONE feature-bucketed join over the union with a map-side
    // "≥ one side is new" pair filter — measured 5.9 s vs 7.0 s at
    // sf0.1 for the two-bipartite-join formulation, which pays the
    // ranked subtree and both join shuffles twice; the corpus×corpus
    // rows the single join generates die in the filter before costing
    // a shuffle, exactly like the positional filter's map-side
    // discipline. (Full re-dedup q27 is 5.7 s at the same scale: the
    // incremental win is NOT this one-shot cost — it is that the
    // corpus side never pairs with itself, and that a deployment
    // persisting the corpus dictionary+prefix index pays only the
    // batch delta per run.)
    val cands = prefixJoin(index, probe, threshold,
      pairFilter = col("__new_x") || col("__new_y"))
    val verified = codedVerifyFromCodes(cands, codes, threshold)
    // orientation recovery on the (small) verified output: id_a < id_b,
    // so a batch-batch pair drops id_b (keep-min-id), a corpus-batch
    // pair drops whichever side is the batch doc
    val newIds = bSets.select(col("id"), lit(true).as("__nn"))
    val drops = verified
      .join(newIds.select(col("id").as("id_a"), col("__nn").as("__na")), Seq("id_a"), "left")
      .join(newIds.select(col("id").as("id_b"), col("__nn").as("__nb")), Seq("id_b"), "left")
      .select(when(coalesce(col("__nb"), lit(false)), col("id_b"))
        .otherwise(col("id_a")).as("__drop"))
      .distinct()
    batch.join(drops, batch(idCol) === drops("__drop"), "left_anti")
  }

  def simHash(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tok = Par.widen(docs).select(col(idCol), explode(split(col(textCol), " ")).as("__t"))
      .withColumn("__h", xxhash64(col("__t")))
    val bitSums = (0 until 64).map { j =>
      sum(when(shiftright(col("__h"), j).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"b$j")
    }
    val sums = tok.groupBy(col(idCol)).agg(bitSums.head, bitSums.tail: _*)
    val sig = (0 until 64).map { j =>
      when(col(s"b$j") > 0, shiftleft(lit(1L), j)).otherwise(lit(0L))
    }.reduce(_.bitwiseOR(_))
    sums.select(col(idCol), sig.as("simhash"))
  }

  /** Cross-engine-reproducible 32-bit SimHash: the per-token hash bits
    * are the top bit of each of the 32 md5 hex nibbles (genuine uniform
    * bits of the digest), so ANY engine with `md5` can recompute the
    * signature bit-for-bit — no engine-private hash like xxhash64. Used
    * by the oracle-checked driver query; [[simHash]] (xxhash64, 64-bit)
    * remains the cheaper production path.
    */
  def simHashPortable(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tok = Par.widen(docs).select(col(idCol), explode(split(col(textCol), " ")).as("__t"))
      .withColumn("__h", md5(col("__t").cast("binary")))
    val bitSums = (0 until 32).map { j =>
      sum(when(conv(substring(col("__h"), j + 1, 1), 16, 10).cast("int") >= 8, 1)
        .otherwise(-1)).as(s"b$j")
    }
    val sums = tok.groupBy(col(idCol)).agg(bitSums.head, bitSums.tail: _*)
    val sig = (0 until 32).map { j =>
      when(col(s"b$j") > 0, shiftleft(lit(1L), j)).otherwise(lit(0L))
    }.reduce(_.bitwiseOR(_))
    sums.select(col(idCol), sig.as("simhash"))
  }

  /** Candidate pairs within Hamming ≤ `maxHamming` of a `widthBits`-bit
    * signature column, via chunk buckets: the signature splits into
    * `maxHamming + 1` chunks, so any pair within the radius must agree on
    * at least one chunk (pigeonhole) — recall is guaranteed for the
    * REQUESTED radius. More chunks ⇒ wider buckets ⇒ more candidates:
    * the inherent cost of a larger radius.
    */
  private def chunkedHammingPairs(
      sigs: DataFrame, // (idCol, simhash)
      idCol: String,
      widthBits: Int,
      maxHamming: Int): DataFrame = {
    val numChunks = maxHamming + 1
    require(maxHamming >= 0 && widthBits / numChunks >= 2,
      s"maxHamming=$maxHamming leaves chunks of < 2 bits for a $widthBits-bit signature")
    val baseWidth = widthBits / numChunks
    val extra = widthBits % numChunks // first `extra` chunks get one more bit
    val starts = (0 until numChunks).scanLeft(0) { (acc, c) =>
      acc + baseWidth + (if (c < extra) 1 else 0)
    }
    val chunkCols = (0 until numChunks).map { c =>
      val width = baseWidth + (if (c < extra) 1 else 0)
      val mask = if (width == 64) -1L else (1L << width) - 1
      struct(lit(c).as("chunk"),
        shiftright(col("simhash"), starts(c)).bitwiseAND(mask).as("ch")).as(s"c$c")
    }
    val buckets = sigs.select(col(idCol), col("simhash"),
      explode(array(chunkCols: _*)).as("bucket"))
    val a = buckets.select(col(idCol).as("id_a"), col("simhash").as("sh_a"), col("bucket"))
    val b = buckets.select(col(idCol).as("id_b"), col("simhash").as("sh_b"), col("bucket"))
    a.join(b, Seq("bucket")).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** SimHash (64-bit xxhash) near-dup pairs with Hamming ≤ `maxHamming`. */
  def simHashDuplicates(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3): DataFrame =
    chunkedHammingPairs(simHash(docs, idCol, textCol), idCol, 64, maxHamming)

  /** Portable-SimHash (32-bit md5-derived) near-dup pairs — output is
    * exactly every pair within the radius and recomputable by any engine
    * with md5 (the DuckDB oracle recomputes it).
    */
  def simHashPortableDuplicates(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3): DataFrame =
    chunkedHammingPairs(simHashPortable(docs, idCol, textCol), idCol, 32, maxHamming)

  // ----------------------------------------------------- char-ngram jaccard

  /** Distinct character n-gram set. */
  /** Distinct character n-grams via the single-pass native kernel
    * ([[graft.functions.CharNgramsDistinct]]). The declarative
    * `array_distinct(transform(sequence(...), substring))` equivalent is
    * O(len²) per document (UTF8String.substring re-scans char offsets) —
    * it made ngram generation, not joins, the pipeline bottleneck.
    */
  def charNgrams(text: Column, n: Int = 5): Column =
    org.apache.spark.sql.GraftSqlBridge.column(
      graft.functions.CharNgramsDistinct(
        org.apache.spark.sql.GraftSqlBridge.expression(text), n))

  /** Character-level n-gram Jaccard near-dup pairs. Candidates come from
    * prefix filtering over the SAME char-ngram feature space, so the
    * output is exactly every pair with ngram-Jaccard ≥ threshold (no
    * recall loss, no pairwise blowup).
    */
  def ngramJaccardDuplicates(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 5,
      threshold: Double = 0.6): DataFrame = {
    // pinned: the ngram-set frame feeds the dictionary aggregate and the
    // code join
    val sets = Materialize.pin(Par.widen(docs)
      .select(col(idCol).as("id"), charNgrams(col(textCol), n).as("fset")))
    val codes = codedSets(sets)
    val (index, probe) = prefixTables(codes, threshold)
    codedVerifyFromCodes(prefixJoin(index, probe, threshold), codes, threshold)
  }

  // ------------------------------------------------ contamination screen

  /** Benchmark-contamination screening: corpus documents sharing at least
    * `minOverlap` distinct word n-gram shingles with ANY document of the
    * benchmark set (the decontamination step every training pipeline runs
    * against its eval suites).
    *
    * Shape at 100 TB: the benchmark shingle pool is eval-suite-sized
    * (thousands of docs) — broadcast it; the corpus side is one explode →
    * broadcast-hash semi-join → per-doc count, so the corpus is scanned
    * once with NO shuffle of corpus rows (the count groups by doc id,
    * map-side combinable).
    */
  def contaminationScreen(
      corpus: DataFrame,
      benchmark: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      minOverlap: Long = 5L): DataFrame = {
    val pool = benchmark
      .select(explode(array_distinct(shingles(col(textCol), n))).as("sh"))
      .distinct()
    val corpusShingles = corpus.select(col(idCol).as("id"),
      explode(array_distinct(shingles(col(textCol), n))).as("sh"))
    corpusShingles.join(broadcast(pool), "sh")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_shared")) // shingles are pre-distinct per doc
      .filter(col("n_shared") >= minOverlap)
  }

  // --------------------------------------------------- block boilerplate

  /** Block-level boilerplate removal (the CCNet/RefinedWeb line-dedup
    * family, on fixed-size token blocks since training corpora are often
    * newline-stripped): a block whose content appears in ≥ `minDf`
    * DISTINCT documents is boilerplate (headers, navigation chrome,
    * license banners); every document is rewritten without its
    * boilerplate blocks, preserving block order.
    *
    * Returns one row per document: `(doc_id, n_blocks, n_boiler,
    * clean_fp)` where `clean_fp` is the md5 of the cleaned text (null
    * when every block was removed).
    *
    * Shape at 100 TB: the block table is explode-only (corpus scanned
    * once); document frequency is a two-level `groupBy` over the md5
    * block hash — pre-`distinct` per doc, then a map-side-combinable
    * count — so the shuffle carries 16-byte hashes, never block text;
    * the df table joins back by hash (a shuffle equi-join — the
    * boilerplate set is corpus-scale, NOT broadcastable); reassembly is
    * one `collect_list(struct(pos, …))` + `sort_array` per doc. No
    * window over the corpus, no driver round-trip, heavy-hitter hashes
    * (the boilerplate itself) are exactly what AQE skew-join splits.
    */
  def blockBoilerplate(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      blockTokens: Int = 10,
      minDf: Long = 2L): DataFrame = {
    require(blockTokens > 0 && minDf >= 2, s"blockTokens=$blockTokens minDf=$minDf")
    // bind the token array once per row (lambda variable): a shared
    // Column inlines, so slicing `toks` inside the per-block transform
    // would re-split the text once per block — O(blocks·tokens) per doc
    val toks = split(col(textCol), " ")
    val blocksArr = element_at(transform(array(toks), ts => {
      val nBlocks = ceil(size(ts).cast("double") / lit(blockTokens.toDouble)).cast("int")
      transform(sequence(lit(1), nBlocks), i =>
        concat_ws(" ", slice(ts, (i - 1) * blockTokens + 1, lit(blockTokens))))
    }), 1)
    val blocks = docs
      .select(col(idCol).as("doc_id"), posexplode(blocksArr).as(Seq("pos", "block")))
      .withColumn("__bh", md5(col("block")))
    val df = blocks.select(col("doc_id"), col("__bh")).distinct()
      .groupBy(col("__bh")).agg(count(lit(1)).as("__df"))
    blocks.join(df, "__bh")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_blocks"),
        sum(when(col("__df") >= minDf, 1L).otherwise(0L)).as("n_boiler"),
        // collect_list drops nulls, so boilerplate blocks vanish here;
        // sort_array on (pos, block) structs restores document order.
        sort_array(collect_list(
          when(col("__df") < minDf, struct(col("pos"), col("block"))))).as("__kept"))
      .withColumn("clean_fp",
        when(size(col("__kept")) === 0, lit(null).cast("string"))
          .otherwise(md5(array_join(
            transform(col("__kept"), k => k.getField("block")), " "))))
      .drop("__kept")
  }

  // ------------------------------------------------- connected components

  /** Connected components over near-duplicate pair edges: every node gets
    * the MINIMUM id reachable from it as its `component` label, turning
    * pairwise near-dup output into dedup clusters (pick one survivor per
    * component).
    *
    * Algorithm: alternating large-star / small-star (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14) — each round
    * is two bucket equi-join + min-aggregate passes, and the edge set
    * converges in O(log^2 n) rounds regardless of component diameter, so
    * a 100M-node duplicate graph needs ~dozens of shuffles, not
    * O(diameter) like naive label propagation. Each round's edge set is
    * pinned ([[Materialize.pin]]) — without the cut, Catalyst re-analyzes
    * a plan that doubles per round and planning time explodes long before
    * data size matters.
    *
    * Convergence is detected by a per-round (count, xor-of-hash)
    * signature and then CONFIRMED exactly (one anti-join on the terminal
    * round only), so a 2⁻⁶⁴ signature collision between different
    * consecutive edge sets cannot terminate the loop early — the
    * returned labeling is exact, not probabilistic.
    */
  /** Near-dup dedup that keeps the BEST copy per duplicate cluster — the
    * representative-selection rule real pipelines use (keep the longest /
    * highest-quality duplicate, not the smallest id). Exact near-dup
    * pairs → connected components → one argmax(`quality`, ties to the
    * smaller id) per component; docs in no cluster pass through. Returns
    * the kept docs unchanged.
    *
    * Scale shape: everything is the measured-sublinear cascade plus one
    * map-side-combinable struct-max per component and two anti-joins —
    * nothing new shuffles at corpus scale.
    */
  def dedupKeepBest(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      quality: Column,
      threshold: Double = 0.7,
      shingleSize: Int = 3): DataFrame = {
    val pairs = nearDuplicatesExact(docs, idCol, textCol, threshold, shingleSize,
      includeMinHashCandidates = false)
    val comps = connectedComponents(pairs, "id_a", "id_b") // (node, component)
    val scored = comps.join(
      docs.select(col(idCol).cast("long").as("node"), quality.as("__q")), "node")
    // struct-max on (quality, -id): highest quality wins, ties to the
    // SMALLER id — deterministic without a per-component sort
    val best = scored.groupBy(col("component"))
      .agg(max(struct(col("__q").as("__q"), (-col("node")).as("__negid"))).as("__b"))
      .select((-col("__b.__negid")).as("keep_id"))
    val dropIds = comps.select(col("node"))
      .join(best, comps("node") === best("keep_id"), "left_anti")
    docs.join(dropIds, docs(idCol) === dropIds("node"), "left_anti")
  }

  /** Alternating-star round count of the LAST distributed
    * [[connectedComponents]] run on this driver (0 after a driver-path
    * run) — probe telemetry: the edge-axis scale probe reports time AND
    * rounds so per-round linearity is separable from round-count growth.
    */
  @volatile private[graft] var lastCcRounds: Int = 0

  /** Connected components `(node, component)` of the undirected graph
    * `pairs(srcCol, dstCol)`, component = the smallest node id in it.
    * Two paths, chosen by the edge count the method takes anyway: at or
    * below `smallGraphEdgeThreshold` a driver union-find over the
    * collected edges, above it distributed alternating-star rounds (0
    * forces the distributed path; tests and ScaleProbe's
    * `cc_edges_*` probes pass it). Measured, driver → distributed, s:
    *  - graft.Bench at sf0.1 (local[4], median of 3 runs, each best of
    *    2 passes): q43 3.51 → 9.07, q124 4.26 → 9.23, q126 4.04 → 9.44;
    *  - ScaleProbe k=4 (`q43_dedup_clusters`, four salted copies of
    *    sf0.1, 1,908 graph nodes; median of 3 runs): 7.86 → 27.79.
    */
  def connectedComponents(
      pairs: DataFrame,
      srcCol: String,
      dstCol: String,
      maxIter: Int = 50,
      smallGraphEdgeThreshold: Long = 1L << 20): DataFrame = {
    // Undirected simple edges u != v (self loops are implicit in the
    // star operations).
    var edges = pairs
      .select(col(srcCol).cast("long").as("u"), col(dstCol).cast("long").as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .transform(Materialize.pin)

    // Small-graph fast path: near-dup edge sets are usually FAR smaller
    // than the corpus (dedup pairs, not documents). Below the threshold
    // (default 1M edges ≈ 16 MB — the same order as a broadcast side),
    // a driver union-find with path compression answers in O(E α(E))
    // instead of O(log² n) distributed rounds whose per-round scheduling
    // dominates at this size. The alternating-star path below remains
    // the algorithm for graphs that exceed the threshold — exactly the
    // size-gated driver/cluster split `broadcast()` makes.
    val edgeCount = edges.count()
    if (edgeCount <= smallGraphEdgeThreshold) {
      val es = edges.collect().map(r => (r.getLong(0), r.getLong(1)))
      Materialize.release(edges) // collected
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        var root = x
        while (parent.getOrElse(root, root) != root) root = parent.getOrElse(root, root)
        var cur = x // path compression
        while (parent.getOrElse(cur, cur) != root) {
          val next = parent.getOrElse(cur, cur); parent(cur) = root; cur = next
        }
        root
      }
      es.foreach { case (u, v) =>
        val (ru, rv) = (find(u), find(v))
        if (ru != rv) parent(math.max(ru, rv)) = math.min(ru, rv)
      }
      val nodeSet = es.flatMap(e => Seq(e._1, e._2)).distinct
      val minOfRoot = scala.collection.mutable.HashMap.empty[Long, Long]
      nodeSet.foreach { n =>
        val r = find(n)
        minOfRoot(r) = math.min(minOfRoot.getOrElse(r, n), n)
      }
      val spark = pairs.sparkSession
      import spark.implicits._
      Dedup.lastCcRounds = 0
      return nodeSet.toSeq.map(n => (n, minOfRoot(find(n))))
        .toDF("node", "component")
    }

    def sym(e: DataFrame): DataFrame =
      e.select(col("u"), col("v")).union(e.select(col("v").as("u"), col("u").as("v")))

    // large-star: every neighbor v > u links to min(N(u) ∪ {u})
    def largeStar(e: DataFrame): DataFrame = {
      val s = sym(e)
      val m = s.groupBy("u").agg(least(min(col("v")), first(col("u"))).as("m"))
      s.join(m, "u")
        .filter(col("v") > col("u") && col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
        .distinct()
    }

    // small-star: neighbors v <= u (plus u itself) link to the min
    def smallStar(e: DataFrame): DataFrame = {
      val s = sym(e).filter(col("v") < col("u"))
      val m = s.groupBy("u").agg(min(col("v")).as("m"))
      val linked = s.join(m, "u")
        .select(col("v").as("u"), col("m").as("v"))
        .union(m.select(col("u"), col("m").as("v")))
      linked.filter(col("u") =!= col("v")).distinct()
    }

    // convergence SIGNAL: (count, order-independent hash-xor) signature —
    // one aggregate per round, no collect of edge data (xor never
    // overflows under ANSI arithmetic, unlike a hash sum). The signature
    // alone is probabilistic (two DIFFERENT consecutive edge sets could
    // collide at ~2⁻⁶⁴/round), so a match only TRIGGERS the exact check
    // below — convergence is never declared on the hash alone.
    def signature(e: DataFrame): (Long, Long) = {
      val row = e.agg(
        count(lit(1)).as("n"),
        coalesce(expr("bit_xor(xxhash64(u, v))"), lit(0L)).as("h")).head()
      (row.getLong(0), row.getLong(1))
    }

    var sig = signature(edges)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      // the signature aggregate is the action that builds the pin, so
      // each round costs ONE job (a separate build job per round would
      // double the round overhead on small graphs, where scheduling
      // dominates)
      val next = Materialize.pin(smallStar(largeStar(edges)))
      val nextSig = signature(next)
      if (nextSig == sig) {
        // exact confirmation, terminal round only: equal counts (from the
        // signature) + empty (next \ prev) ⟹ set equality — one extra
        // anti-join job at the fixpoint, zero cost on every other round
        converged = next.join(edges, Seq("u", "v"), "left_anti").isEmpty
      }
      Materialize.release(edges)
      edges = next
      sig = nextSig
      iter += 1
    }
    if (!converged) {
      Materialize.release(edges)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds")
    }
    Dedup.lastCcRounds = iter

    // At the fixpoint the edge set IS the star graph: every non-minimum
    // node has exactly one edge to its component minimum, and each
    // minimum appears only as a v — so the labeling needs ONLY the final
    // edges, no separate node table. The groupBy(min) form is robust to
    // any duplicate u rows and ends in a shuffle, which matters below.
    val labeled = edges.select(col("u").as("node"), col("v").as("component"))
      .union(edges.select(col("v").as("node"), col("v").as("component")))
      .groupBy(col("node")).agg(min(col("component")).as("component"))
    // the FIXPOINT edge set stays in the caller's scope: the caller's
    // action may re-plan the query (a DataFrameWriter builds a fresh
    // QueryExecution), and the re-planned stages read it again
    labeled
  }

  // ------------------------------------------------- exact substring dedup

  /** EXACT substring deduplication (the ExactSubstr procedure of Lee et
    * al., "Deduplicating Training Data Makes Language Models Better",
    * ACL 2022 — re-shaped from their suffix-array tool into distributed
    * relational form): every character that lies inside a substring of
    * length ≥ `minLen` occurring MORE THAN ONCE in the corpus is removed,
    * except the substring's globally FIRST occurrence (min (doc, pos)),
    * which is kept — so exactly one copy of every long duplicated span
    * survives, across documents and within one.
    *
    * Equivalence used: a character is inside a duplicated substring of
    * length ≥ L  ⇔  it is covered by some duplicated L-gram. So the op
    * needs only fixed-width L-gram occurrences, never the suffix array:
    *  1. explode (doc, pos, md5(L-gram)) — O(total chars) rows, the
    *     shuffle carries a fixed-width hash, not the gram text;
    *  2. per gram: occurrence count + global first occurrence (one
    *     map-side-combinable aggregation);
    *  3. non-first occurrences of duplicated grams become removal
    *     intervals [pos, pos+L); per doc they are sorted and folded with
    *     one `aggregate` higher-order function — interval merge + string
    *     rebuild in a single codegen pass, no per-character rows.
    * Every stage is a bucket shuffle or a per-doc fold: the same
    * O(chars) work a 100 TB deployment distributes; a production build
    * would swap the md5 gram hash for a rolling hash (O(1)/char instead
    * of O(L)/char) — md5 keeps the pipeline replayable by any engine,
    * which is what the oracle checks.
    */
  def exactSubstringDedup(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      minLen: Int = 50,
      gramHash: String = "md5"): DataFrame = {
    val L = minLen
    val base = Par.widen(docs).select(col(idCol).as("id"), col(textCol).as("text"))
    // gram identity: "md5" is engine-portable (the oracle replays it);
    // "rolling" is the scale path — ONE O(n) Karp–Rabin pass per doc
    // (native codegen expression) instead of O(n·L) md5-over-substring
    // work, with identical downstream semantics (the dedup is exact in
    // either case; the hash only names the gram)
    val gramArray = gramHash match {
      case "md5" =>
        // native pass ([[graft.functions.Md5Grams]]), bit-identical to
        // the relational spelling in [[md5GramsSql]] (equivalence-tested)
        GraftSqlBridge.column(graft.functions.Md5Grams(
          GraftSqlBridge.expression(col("text")), L))
      case "rolling" =>
        GraftSqlBridge.column(graft.functions.RollingHashes(
          GraftSqlBridge.expression(col("text")), L))
      case other => throw new IllegalArgumentException(s"unknown gramHash $other")
    }
    val grams = base
      .select(col("id"), col("text"), posexplode(gramArray).as(Seq("pos", "g")))
      .select(col("id"), col("pos"), col("g"))
    val stats = grams.groupBy(col("g")).agg(
      count(lit(1)).as("__c"),
      min(struct(col("id"), col("pos"))).as("__first"))
    val removals = grams.join(stats, "g")
      .filter(col("__c") > 1 &&
        !(struct(col("id"), col("pos")) <=> col("__first")))
      .groupBy(col("id"))
      .agg(sort_array(collect_list(col("pos"))).as("__starts"))
    base.join(removals, Seq("id"), "left")
      .withColumn("cleaned",
        when(col("__starts").isNull, col("text")).otherwise(
          // native O(n) pass ([[graft.functions.RemoveIntervals]]);
          // the relational fold it is equivalence-tested against lives
          // in [[intervalMergeFoldSql]]
          GraftSqlBridge.column(graft.functions.RemoveIntervals(
            GraftSqlBridge.expression(col("text")),
            GraftSqlBridge.expression(col("__starts")), L))))
      .select(col("id").as(idCol), col("cleaned"),
        (length(col("text")) - length(col("cleaned"))).cast("long").as("removed_chars"))
  }

  /** The relational md5-gram spelling [[graft.functions.Md5Grams]]
    * replaced in the hot path — retained as the executable
    * specification the native expression is equivalence-tested against
    * (OpsSpec). Expects a `text` column.
    */
  private[graft] def md5GramsSql(L: Int): String =
    s"""CASE WHEN length(text) < $L THEN array()
        ELSE transform(sequence(0, length(text) - $L),
               i -> md5(substring(text, i + 1, $L))) END"""

  /** The relational interval-merge fold [[graft.functions.RemoveIntervals]]
    * replaced in the hot path — retained as the executable specification
    * the native expression is equivalence-tested against (OpsSpec).
    * Expects columns `text` and `__starts`.
    */
  private[graft] def intervalMergeFoldSql(L: Int): String =
    s"""aggregate(__starts,
          named_struct('kept', cast('' as string), 'cur', 0),
          (st, s) -> named_struct(
            'kept', CASE WHEN s > st.cur
              THEN concat(st.kept, substring(text, st.cur + 1, s - st.cur))
              ELSE st.kept END,
            'cur', greatest(st.cur, s + $L)),
          st -> concat(st.kept,
            substring(text, st.cur + 1, length(text) - st.cur)))"""

  /** ROW-LOCAL MinHash band buckets — the streaming-safe variant of
    * [[minHashCandidates]]'s banding: every per-document value folds
    * inside the row (distinct shingles → per-seed min-hash → band
    * digest), so the computation is a pure projection with NO groupBy —
    * legal on an unbounded stream, where [[minHashSignatures]]'s
    * shingle-explode + groupBy would become a streaming aggregation.
    *
    * The hash family is the md5-split double-hash h₁(sh) + j·h₂(sh)
    * (h₁/h₂ = the two 48-bit halves of md5), deliberately chosen over
    * xxhash64 because an external SQL engine can replay it bit-for-bit
    * — bucket identity IS the admission semantics downstream, unlike
    * the batch cascade where a jaccard verify launders any hash-family
    * difference. Band digest = the comma-joined row hashes in seed
    * order.
    *
    * Returns one row per (id, band 0..bands-1, bh digest).
    */
  def streamBandBuckets(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      numHashes: Int = 32,
      bands: Int = 8): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val rows = numHashes / bands
    // bind the (h1, h2) pairs once per row; each of the 32 seeds then
    // re-scans only precomputed longs, not 64 md5 evaluations/shingle
    val pairs = element_at(transform(
      array(array_distinct(shingles(col(textCol), shingleSize))), fs =>
        transform(fs, sh => struct(
          conv(substring(md5(sh), 1, 12), 16, 10).cast("long").as("h1"),
          conv(substring(md5(sh), 13, 12), 16, 10).cast("long").as("h2")))), 1)
    val mins = element_at(transform(array(pairs), ps =>
      transform(sequence(lit(0), lit(numHashes - 1)), j =>
        array_min(transform(ps, p =>
          p.getField("h1") + j * p.getField("h2"))))), 1)
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        concat_ws(",", (b * rows until (b + 1) * rows).map(j =>
          element_at(col("__hs"), j + 1).cast("string")): _*).as("bh"))
    }
    docs.withColumn("__hs", mins)
      .select(col(idCol), explode(array(bandCols: _*)).as("__b"))
      .select(col(idCol), col("__b.band").as("band"), col("__b.bh").as("bh"))
  }

  /** TTL'd streaming admission state function for LSH band buckets:
    * admit an arrival iff its bucket is unseen OR last seen more than
    * `ttlMs` of EVENT time ago; state per bucket is one long (last-seen
    * millis), with the event-time timeout set to lastSeen + ttl so the
    * state store physically holds only buckets active within one TTL
    * window. Evicting expired state is SEMANTICALLY FREE under this
    * rule — a post-TTL arrival is admitted whether or not the entry
    * still exists — which is what makes unbounded-stream dedup state
    * bounded without changing any decision (the q185 oracle replays
    * every verdict as a plain lag window). Rows within a micro-batch
    * are processed in (event time, id) order.
    */
  def ttlAdmit(ttlMs: Long): (
      (Int, String),
      Iterator[(Long, Int, String, java.sql.Timestamp)],
      org.apache.spark.sql.streaming.GroupState[Long]) => Iterator[(Long, Boolean)] = {
    case (_, rows, state) =>
      if (state.hasTimedOut) { state.remove(); Iterator.empty }
      else {
        val sorted = rows.toArray.sortBy(r => (r._4.getTime, r._1))
        var last = state.getOption.getOrElse(Long.MinValue)
        val out = sorted.map { r =>
          val t = r._4.getTime
          val admit = last == Long.MinValue || t - last > ttlMs
          // MONOTONE state: a row older than the newest seen (possible
          // only under out-of-order cross-batch arrival inside the
          // watermark slack) must not regress `last`. The rule actually
          // enforced is "gap to the newest sighting SEEN SO FAR" — under
          // out-of-order cross-batch arrival this can differ from a
          // strict in-order replay (a late row is judged against a
          // newer sighting than an in-order replay would have seen, and
          // it never extends the suppression window itself); within a
          // batch, the sort above restores event order.
          if (t > last) last = t
          (r._1, admit)
        }
        state.update(last)
        state.setTimeoutTimestamp(last + ttlMs + 1)
        out.iterator
      }
  }

  /** Edit-distance near-duplicate pairs under (length-band, first-token)
    * blocking — the record-linkage classic: pairs whose PREFIXES (first
    * `prefixLen` chars) are within Levenshtein distance `maxDist`,
    * restricted to documents that share their first whitespace token
    * and whose lengths differ by at most `bandWidth`. The length bound
    * is sound (a necessary condition for full-string distance ≤
    * bandWidth); the first-token key is the standard cheap CONTENT key
    * that splits hot length buckets — without it every same-length pair
    * is a candidate and the verify goes quadratic in corpus size (a
    * pair whose very first token was edited evades this block; a second
    * pass keyed differently recovers those, the usual multi-pass
    * blocking discipline). Each document enters its length bucket and
    * the next one up, so every pair within `bandWidth` shares a bucket;
    * candidates are deduped BEFORE the Levenshtein verify, and the
    * verify is Spark's codegen banded `levenshtein(l, r, threshold)` —
    * O(prefixLen·maxDist) per pair, no UDF.
    */
  def editDistanceNearDup(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      prefixLen: Int = 80,
      maxDist: Int = 20,
      bandWidth: Int = 40): DataFrame = {
    require(prefixLen > 0 && maxDist >= 0 && bandWidth > 0,
      s"$prefixLen/$maxDist/$bandWidth")
    val base = Par.widen(docs).select(col(idCol).as("__id"),
      substring(col(textCol), 1, prefixLen).as("__p"),
      split(col(textCol), " ").getItem(0).as("__w1"),
      length(col(textCol)).cast("long").as("__len"))
    val bucketed = base
      .withColumn("__bkt", explode(array(
        expr(s"__len div $bandWidth"), expr(s"__len div $bandWidth + 1"))))
    val l = bucketed.select(col("__bkt"), col("__w1"), col("__id").as("id_a"),
      col("__p").as("__pa"), col("__len").as("__la"))
    val r = bucketed.select(col("__bkt"), col("__w1"), col("__id").as("id_b"),
      col("__p").as("__pb"), col("__len").as("__lb"))
    l.join(r, Seq("__bkt", "__w1"))
      .filter(col("id_a") < col("id_b") &&
        abs(col("__la") - col("__lb")) <= bandWidth)
      .select(col("id_a"), col("id_b"), col("__pa"), col("__pb"))
      .distinct()
      // banded DP: cost O(prefixLen·maxDist), returns -1 past the bound
      .withColumn("dist", levenshtein(col("__pa"), col("__pb"), maxDist))
      .filter(col("dist") >= 0 && col("dist") <= maxDist)
      .select(col("id_a"), col("id_b"), col("dist").cast("long").as("dist"))
  }
}
