package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-mix construction operators: deterministic sampling and
  * token-budget shard packing.
  *
  * Both are built for the 100 TB shape: sampling is a pure per-row
  * predicate (no shuffle, no RNG state, stable under retries/re-runs —
  * content-addressed like the reference's file-id hashing), packing is a
  * per-partition window (parallel across strata, never a global sort).
  */
object Sampling {

  /** Stable 16-bit bucket of a key: first 4 hex chars of md5. Compared as
    * STRINGS — fixed-length lowercase hex orders identically to its
    * numeric value, so any engine reproduces the sample exactly.
    */
  def hashBucket(key: Column): Column = substring(md5(key.cast("string")), 1, 4)

  /** 4-digit lowercase-hex threshold for a fraction in [0,1); 1.0 is
    * short-circuited by [[bernoulli]].
    */
  def fractionThreshold(fraction: Double): String = {
    require(fraction >= 0 && fraction <= 1, s"fraction $fraction outside [0,1]")
    f"${math.round(fraction * 65536).min(65535)}%04x"
  }

  /** Deterministic Bernoulli keep-predicate: true for ~`fraction` of keys,
    * the SAME keys on every run, engine, and cluster size.
    */
  def bernoulli(key: Column, fraction: Double): Column =
    if (fraction >= 1.0) lit(true)
    else hashBucket(key) < lit(fractionThreshold(fraction))

  /** Deterministic EPOCH SHUFFLE — the step after curation in a training
    * pipeline: permute the corpus into `numShards` shards with a
    * seed-keyed md5 order, so every epoch (seed) is a different but
    * REPRODUCIBLE permutation regardless of engine, cluster size, or
    * partitioning. The permutation key is `md5(seed || ":" || id)`:
    * the shard is a key bucket and the within-shard position is the
    * key's rank — at scale this is exactly one hash-bucket shuffle plus
    * per-shard local sorts (shards are the parallel unit; no global
    * sort), the shape a 100 TB shard-writing job needs.
    */
  def epochShuffle(
      df: DataFrame,
      idCol: String,
      seed: String,
      numShards: Int): DataFrame = {
    require(numShards > 0, s"numShards must be positive, got $numShards")
    val key = md5(concat(lit(seed + ":"), col(idCol).cast("string")))
    val shard = pmod(conv(substring(key, 1, 4), 16, 10).cast("long"), lit(numShards))
    df.withColumn("__key", key)
      .withColumn("shard", shard)
      .withColumn("pos", row_number().over(
        Window.partitionBy(col("shard")).orderBy(col("__key"), col(idCol))).cast("long"))
      .drop("__key")
  }

  /** Stratified deterministic sample: per-stratum fractions with a
    * default for unlisted strata. Pure column predicate — composes with
    * any scan, no shuffle, partial-aggregate-friendly downstream.
    */
  def stratifiedKeep(
      key: Column,
      stratum: Column,
      fractions: Map[String, Double],
      default: Double): Column =
    fractions.foldRight(bernoulli(key, default)) { case ((s, f), acc) =>
      when(stratum === s, bernoulli(key, f)).otherwise(acc)
    }

  /** Deterministic uniform in (0,1] from a key: 13 hex chars of md5 (52
    * bits — exactly representable in a double) scaled, then shifted away
    * from 0 so ln() below is always finite. Content-addressed like
    * [[bernoulli]]: same key ⇒ same draw on every engine.
    */
  def uniform01(key: Column): Column =
    (conv(substring(md5(key.cast("string")), 1, 13), 16, 10).cast("double") + 1.0) /
      lit(math.pow(16.0, 13))

  /** Weighted-sampling race key (Efraimidis–Spirakis, IPL 2006): the k
    * rows with the LARGEST `u^(1/w)` — equivalently, by monotonicity, the
    * SMALLEST `−ln(u)/w` — form an exact weighted sample without
    * replacement. The draw u is content-addressed, so the sample is
    * deterministic and engine-reproducible.
    *
    * 100 TB shape: a pure per-row expression; the top-k by this key is
    * `TakeOrderedAndProject` (per-partition heads + one tiny merge),
    * never a global sort — weighted corpus sampling at scan speed.
    */
  def weightedRaceKey(key: Column, weight: Column): Column =
    -log(uniform01(key)) / weight

  /** The k-row weighted sample itself (weights must be positive). */
  def weightedSample(df: DataFrame, key: Column, weight: Column, k: Int): DataFrame =
    df.withColumn("__race", weightedRaceKey(key, weight))
      .orderBy(col("__race"))
      .limit(k)
      .drop("__race")

  /** Temperature-based source mixing (mT5, Xue et al., arXiv:2010.11934
    * §3.1 — the standard multilingual/multi-source rebalancing):
    * per-source sampling mass `p_s ∝ n_s^alpha`, alpha in (0,1]
    * flattening the size distribution so low-resource sources are
    * upsampled relative to their natural share. Each source keeps its
    * `round(budget·p_s)` smallest content-addressed draws — an
    * exact-size, engine-reproducible selection.
    *
    * 100 TB shape: ONE count aggregate (source cardinality is small by
    * construction — languages/domains), quotas as a broadcast when-chain
    * literal, then one per-source window over content-addressed draws.
    * No global sort, no second pass over the data.
    */
  def temperatureMix(
      df: DataFrame,
      key: Column,
      source: Column,
      alpha: Double,
      budget: Long): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0,1], got $alpha")
    val counts = df.groupBy(source.as("__src")).agg(count(lit(1)).as("__n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).sortBy(_._1)
    val weights = counts.map { case (s, n) => s -> math.pow(n.toDouble, alpha) }
    val z = weights.map(_._2).sum
    val quota = weights.map { case (s, w) => s -> math.round(budget * w / z) }
    val quotaCol = quota.foldLeft(lit(0L)) { case (acc, (s, q)) =>
      when(source === lit(s), lit(q)).otherwise(acc)
    }
    df.withColumn("__draw", uniform01(key))
      .withColumn("__rk", row_number().over(
        Window.partitionBy(source).orderBy(col("__draw"), key)))
      .filter(col("__rk") <= quotaCol)
      .drop("__draw", "__rk")
  }

  /** Per-stratum weighted sample: k race winners within every stratum
    * (one window partitioned by stratum — parallel across strata, the
    * same shape as [[Packing.packByBudget]]).
    */
  def stratifiedWeightedSample(
      df: DataFrame, key: Column, weight: Column, stratum: Column, k: Int): DataFrame =
    df.withColumn("__race", weightedRaceKey(key, weight))
      .withColumn("__rk",
        row_number().over(Window.partitionBy(stratum).orderBy(col("__race"))))
      .filter(col("__rk") <= k)
      .drop("__race", "__rk")

  /** DSIR-style importance scoring for target-domain data selection (Xie
    * et al., "Data Selection for Language Models via Importance
    * Resampling", NeurIPS 2023): score every corpus document by the mean
    * log-likelihood ratio of its tokens under hashed unigram models of a
    * TARGET set vs the corpus —
    * `avg_tok ln( p_target(bucket(tok)) / p_corpus(bucket(tok)) )` with
    * add-one smoothing over `buckets` hash buckets. High scores = "looks
    * like the target domain"; selection is the top-`k` by
    * (rounded score desc, id) — rounding before ordering makes the cut
    * engine-reproducible despite float summation order.
    *
    * The bucket hash is PORTABLE (first 8 md5 hex chars mod `buckets`),
    * so any engine replays the exact scores — the same md5 trick the
    * sketch oracles use.
    *
    * Shape at 100 TB: both unigram models are `buckets`-sized aggregates
    * (map-side combinable counts, broadcast back as bucket→logratio
    * maps); scoring is explode → broadcast-hash join → per-doc avg (one
    * shuffle on doc id); the top-k is Spark's distributed TakeOrdered.
    * The target set is eval-suite/domain-sized — its scan is the cheap
    * side.
    */
  def importanceScore(
      corpus: DataFrame,
      target: DataFrame,
      idCol: String,
      textCol: String,
      buckets: Int = 1024,
      k: Int = 50): DataFrame = {
    require(buckets > 0 && k > 0, s"buckets=$buckets k=$k")
    def toks(df: DataFrame, cols: Column*): DataFrame =
      df.select(cols :+ explode(split(col(textCol), " ")).as("__tok"): _*)
        .withColumn("__b",
          conv(substring(md5(col("__tok")), 1, 8), 16, 10).cast("long") % buckets)
    val corpusToks = toks(corpus, col(idCol).as("id"))
    // corpus bucket counts feed BOTH the denominator model and the doc
    // scores; both are tiny aggregates — recompute beats a persist here
    // for the same exchange-reuse reason the dedup cascade documents
    val cCnt = corpusToks.groupBy(col("__b")).agg(count(lit(1)).as("__c"))
    val tCnt = toks(target).groupBy(col("__b")).agg(count(lit(1)).as("__t"))
    val cTot = corpusToks.count()
    val tTot = target.select(explode(split(col(textCol), " "))).count()
    // full bucket domain so buckets absent from either side still smooth
    val domain = corpus.sparkSession.range(buckets).select(col("id").as("__b"))
    val logratio = domain
      .join(tCnt, Seq("__b"), "left").join(cCnt, Seq("__b"), "left")
      .select(col("__b"),
        (log((coalesce(col("__t"), lit(0L)) + 1.0) / (tTot + buckets)) -
          log((coalesce(col("__c"), lit(0L)) + 1.0) / (cTot + buckets))).as("__lr"))
    corpusToks.join(broadcast(logratio), "__b")
      .groupBy(col("id"))
      .agg(round(avg(col("__lr")), 3).as("score"))
      .orderBy(col("score").desc, col("id"))
      .limit(k)
  }

  /** Proportional source INTERLEAVING (stride scheduling / start-time
    * fair queuing, Waldspurger & Weihl OSDI'94): the i-th row (1-based,
    * ordered by `orderCol` within its source) of a source holding n_s
    * rows gets global key `(i - 0.5) / n_s` — sorting by the key
    * consumes every source evenly across the epoch, so a mid-epoch
    * checkpoint has seen each source in its corpus proportion instead of
    * whatever order the files arrived in. Deterministic, no RNG.
    *
    * Shape at 100 TB: one per-source rank window (parallel across
    * sources) + the key as a sort/shard column — the global order is
    * realized by range-partitioned shard writing, never a single-reducer
    * sort; ties break (source, id).
    */
  def interleaveByStride(
      df: DataFrame,
      sourceCol: String,
      orderCol: String): DataFrame = {
    val w = Window.partitionBy(col(sourceCol)).orderBy(col(orderCol))
    val n = Window.partitionBy(col(sourceCol))
    df.withColumn("__i", row_number().over(w).cast("double"))
      .withColumn("__n", count(lit(1)).over(n).cast("double"))
      .withColumn("stride_key", (col("__i") - 0.5) / col("__n"))
      .drop("__i", "__n")
  }

  /** Realize fractional epoch targets as an actual oversampled stream:
    * each row is emitted `floor(epochs)` times plus one more for a
    * content-addressed `frac(epochs)` share of ids — so the realized
    * per-group epoch count converges to the target with zero RNG state,
    * reproducibly across engines and cluster sizes (the [[uniform01]]
    * draw). Rows with a zero target are dropped. The `copy_id` column
    * (1-based) distinguishes repeats downstream (e.g. epoch-aware
    * shuffling). Pure per-row explode — no shuffle, output volume =
    * exactly the training stream being built.
    */
  def epochExpand(df: DataFrame, idCol: String, epochs: Column): DataFrame = {
    val whole = floor(epochs).cast("long")
    val extra = when(uniform01(col(idCol)) < (epochs - floor(epochs)), 1L)
      .otherwise(0L)
    df.withColumn("__n", whole + extra)
      .filter(col("__n") > 0)
      .withColumn("copy_id", explode(sequence(lit(1L), col("__n"))))
      .drop("__n")
  }

  /** UniMax budget allocation (Chung et al. 2023, "UniMax: Fairer and
    * More Effective Language Sampling for Large-Scale Multilingual
    * Pretraining"): distribute a total token `budget` across groups
    * (languages/domains) as equally as possible, never giving a group
    * more than `maxEpochs` passes over its own corpus. This is exactly
    * water-filling with per-group cap `maxEpochs * capacity`: groups
    * whose cap is below the fair share get their cap, the rest split the
    * remainder evenly at a common water level.
    *
    * Closed form, not the paper's sequential loop: with caps sorted
    * ascending (index i, prefix sum cum_i), the candidate level
    * L_i = (B - cum_{i-1}) / (n - i + 1); the first i with cap_i >= L_i
    * is the first uncapped group and L_{i*} is the water level. Two
    * global windows over the GROUP table (size = #groups, thousands at
    * most — never the corpus, which is reduced by one map-side-combinable
    * agg first), so the single-partition window sort is immaterial at
    * any corpus scale.
    *
    * Output: one row per group with capacity, allocated tokens, and
    * realized epochs (alloc / capacity).
    */
  def unimaxAllocation(
      df: DataFrame,
      groupCols: Seq[String],
      sizeCol: Column,
      budget: Double,
      maxEpochs: Double): DataFrame = {
    require(budget >= 0, s"budget must be non-negative, got $budget")
    require(maxEpochs > 0, s"maxEpochs must be positive, got $maxEpochs")
    val gc = groupCols.map(col)
    val caps = df.groupBy(gc: _*)
      .agg(sum(sizeCol.cast("double")).as("capacity"))
      .withColumn("__cap", col("capacity") * maxEpochs)
    // Deterministic total order: cap ascending, group cols as tie-break.
    val order = col("__cap") +: gc
    val wRank = Window.orderBy(order: _*)
    val wAll = Window.orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val ranked = caps
      .withColumn("__i", row_number().over(wRank).cast("double"))
      .withColumn("__n", count(lit(1)).over(wAll).cast("double"))
      .withColumn("__cumPrev",
        coalesce(sum(col("__cap")).over(
          Window.orderBy(order: _*).rowsBetween(Window.unboundedPreceding, -1)),
          lit(0.0)))
      .withColumn("__level", (lit(budget) - col("__cumPrev")) /
        (col("__n") - col("__i") + 1.0))
      // Water level = candidate level at the FIRST uncapped group (later
      // candidates under-count because their prefix already charges full
      // caps past the level); null when the budget covers every cap
      // (then everyone gets its cap).
      .withColumn("__istar",
        min(when(col("__cap") >= col("__level"), col("__i"))).over(wAll))
      .withColumn("__lstar",
        max(when(col("__i") === col("__istar"), col("__level"))).over(wAll))
    ranked.select(
      (gc :+ col("capacity").cast("long").as("n_tokens")) ++ Seq(
        round(when(col("__lstar").isNull, col("__cap"))
          .otherwise(least(col("__cap"), col("__lstar"))), 4).as("alloc_tokens"),
        round(when(col("__lstar").isNull, col("__cap"))
          .otherwise(least(col("__cap"), col("__lstar"))) / col("capacity"), 6)
          .as("epochs")): _*)
  }

  /** DSIR-style data selection (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): score every RAW doc by
    * the log-likelihood ratio of its hashed-token features under the
    * target-domain vs raw feature distributions, and keep the top
    * `keepFrac` of raw docs — the "select web data that looks like the
    * target domain" primitive production mixes are built on.
    *
    * Deterministic end to end with the classifier machinery's integer
    * micronats: per-bucket log-ratios quantize via floor(x·1e6+0.5), so
    * a doc's weight is an exact integer sum (partitioning- and
    * addition-order-free) and a SQL oracle replays selection exactly
    * (ties broken by smaller id).
    *
    * Shape at 100 TB: one tokenize+hash scan (the target flag rides the
    * explode — no label join), two O(dim) count tables collected at
    * model scale, one broadcast model join, and a RANK-THRESHOLD
    * selection: an exact distributed rank over (weight desc, id) via
    * [[Quantiles.withGroupRank]] (range-partitioned local ranks +
    * broadcast prefix offsets), then keep rank <= K. K never funnels
    * through one partition or the driver, so selection scales to
    * K ~ 10^9 (keepFrac of a 100 TB corpus) with no Int-range ceiling —
    * the driver only ever sees the <= numShufflePartitions-row offset
    * table, so its cost is FLAT in K.
    */
  def dsirSelect(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      isTarget: Column,
      dim: Int = 1024,
      keepFrac: Double = 0.1): DataFrame = {
    val base = docs.select(col(idCol).as("id"), col(textCol).as("text"),
      isTarget.as("tgt"))
    val feats = base
      .select(col("id"), col("tgt"),
        explode(split(lower(col("text")), "\\s+")).as("tok"))
      .filter(col("tok") =!= "")
      .withColumn("b", graft.ops.Classify.tokenBucket(col("tok"), dim))
      .groupBy(col("id"), col("tgt"), col("b"))
      .agg(count(lit(1)).as("cnt"))
      .transform(Materialize.pin) // feeds the count collect, the scoring pass, and K

    val tot = feats.agg(
      sum(when(col("tgt"), col("cnt")).otherwise(0L)),
      sum(when(!col("tgt"), col("cnt")).otherwise(0L))).first()
    val nT = Option(tot.get(0)).map(_.asInstanceOf[Long]).getOrElse(0L)
    val nR = Option(tot.get(1)).map(_.asInstanceOf[Long]).getOrElse(0L)
    require(nT > 0 && nR > 0, s"both slices need tokens (target=$nT raw=$nR)")

    def quantL(nb: Column, n: Long): Column =
      floor(log((nb + 1).cast("double") / (n + dim).toDouble) * 1e6 + 0.5)
        .cast("long")
    val model = feats.groupBy(col("b"))
      .agg(sum(when(col("tgt"), col("cnt")).otherwise(0L)).as("ct"),
        sum(when(!col("tgt"), col("cnt")).otherwise(0L)).as("cr"))
      .select(col("b"),
        (quantL(col("ct"), nT) - quantL(col("cr"), nR)).as("lr"))

    val nRawDocs = base.filter(!col("tgt")).count()
    val k = math.max(1L, math.floor(keepFrac * nRawDocs).toLong)

    val weights = feats.filter(!col("tgt"))
      .join(broadcast(model), Seq("b")) // every corpus bucket is in the model
      .groupBy(col("id"))
      .agg(sum(col("cnt") * col("lr")).as("weight"))
    // rank-threshold selection: exact global rank under
    // (weight desc, id asc) — __negw is safe to negate because weight is
    // an integer-micronat sum far from Long.MinValue — then keep
    // rank <= K. No orderBy().limit() (Int-capped, driver-merged) and no
    // single-partition window anywhere.
    Quantiles.withGroupRank(
      weights.withColumn("__negw", -col("weight")),
      groupCols = Seq.empty, orderCols = Seq("__negw", "id"))
      .filter(col("__rn") <= k)
      .select(col("id").as(idCol), col("weight"))
  }
}

/** Greedy token-budget shard packing: within each stratum (ordered
  * deterministically), a document's shard is `floor(tokens-before / budget)`
  * — every shard holds ~budget tokens of consecutive docs. Windows are
  * PER STRATUM, so packing parallelizes across strata and never needs a
  * global sort; at 100 TB the stratum (source, date, ...) is the unit of
  * shard locality anyway.
  */
object Packing {

  def packByBudget(
      df: DataFrame,
      stratumCol: String,
      orderCol: String,
      weightCol: String,
      budget: Long): DataFrame = {
    val w = Window.partitionBy(col(stratumCol)).orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    df.withColumn("__before", coalesce(sum(col(weightCol)).over(w), lit(0L)))
      .withColumn("shard", floor(col("__before") / budget).cast("long"))
      .drop("__before")
  }

  /** Concat-and-chunk SEQUENCE packing — the standard LLM pretraining
    * batch shape: within each stratum, documents are concatenated in
    * `orderCol` order and the token stream is cut into fixed `seqLen`
    * context windows; a document may straddle window boundaries (no
    * padding waste, unlike whole-doc packing in [[packByBudget]]).
    * Emits one row per (stratum, seq_id): how many documents contribute
    * tokens to the window, how many of them are fragments of documents
    * that straddle a boundary, and the window's token count (= seqLen
    * except the stratum's final partial window).
    *
    * Pure window-cumsum + explode over per-doc window ranges — each doc
    * expands to exactly its straddle count, so output work is
    * O(tokens / seqLen), per-stratum parallel, no global sort, all
    * codegen. Zero-weight docs contribute no tokens and are dropped.
    */
  def packSequences(
      df: DataFrame,
      stratumCol: String,
      orderCol: String,
      weightCol: String,
      seqLen: Long): DataFrame = {
    require(seqLen > 0, s"seqLen must be positive, got $seqLen")
    val w = Window.partitionBy(col(stratumCol)).orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    df.filter(col(weightCol) > 0)
      .withColumn("__start", coalesce(sum(col(weightCol)).over(w), lit(0L)))
      .withColumn("__end", col("__start") + col(weightCol)) // exclusive
      .withColumn("__first", floor(col("__start") / seqLen).cast("long"))
      .withColumn("__last", floor((col("__end") - 1) / seqLen).cast("long"))
      .select(col(stratumCol), col("__start"), col("__end"),
        col("__first"), col("__last"),
        explode(sequence(col("__first"), col("__last"))).as("seq_id"))
      .withColumn("__tok", least(col("__end"), (col("seq_id") + 1) * seqLen) -
        greatest(col("__start"), col("seq_id") * seqLen))
      .groupBy(col(stratumCol), col("seq_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("__first") < col("__last"), 1L).otherwise(0L)).as("n_fragments"),
        sum(col("__tok")).as("seq_tokens"))
  }

  /** Sorted round-robin load assignment — the distributed approximation
    * of LPT (longest-processing-time-first) bin packing: items ranked by
    * load DESC through [[Quantiles.withGroupRank]] (range-partitioned
    * local ranks + broadcast prefix offsets — NO single-partition
    * window, so the rank survives millions of items), then
    * `worker = (rank - 1) % k`. Guarantees per-worker item counts
    * within 1 of each other and the classic sorted-greedy makespan
    * behavior; `tieCol` must be unique so the assignment is
    * deterministic.
    */
  def assignWorkers(items: DataFrame, loadCol: String, tieCol: String,
      k: Int): DataFrame = {
    require(k >= 1, s"worker count must be >= 1, got $k")
    val prepped = items.withColumn("__g", lit(1))
      .withColumn("__negload", -col(loadCol))
    Quantiles.withGroupRank(prepped, Seq("__g"), Seq("__negload", tieCol))
      .withColumn("worker", (col("__rn") - 1) % k)
      .drop("__g", "__negload", "__rn", "__n")
  }

}
