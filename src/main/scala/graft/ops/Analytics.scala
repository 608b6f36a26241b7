package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-analytics operators: conversion funnels, retention cohorts, and
  * word co-occurrence (PMI) — the product-analytics family layered on the
  * same engine (beyond-reference, alongside sessionization/as-of in
  * [[AsofJoin]]).
  *
  * All three are written so an external SQL engine can replay them
  * bit-for-bit (integer encodings; floats only in a final rounded
  * column), and all three aggregate with map-side-combinable shapes.
  */
object Analytics {

  /** Ordered conversion funnel: for each user, how far through `stages`
    * did they progress, where stage k+1 must occur at-or-after the first
    * time stage k was reached.
    *
    * Single pass over events — no per-stage self-joins: each relevant
    * event is encoded as `ts_micros * 8 + stage_idx` (one long), the
    * per-user encoded list is sorted, and a left fold counts stage
    * progression ("the next needed stage index appears"). Equal
    * timestamps order by stage index, so a view+click at the same micro
    * still chains. Per-user state is the event list — bounded by that
    * user's relevant events, grouped on the user key (the natural
    * 100 TB partitioning; no global structure).
    *
    * Returns one row per stage: (stage, stage_idx, n_users reaching it).
    */
  def funnel(
      events: DataFrame,
      userCol: String,
      typeCol: String,
      tsCol: String,
      stages: Seq[String]): DataFrame = {
    require(stages.nonEmpty && stages.size < 8, "1..7 stages (3-bit encoding)")
    require(stages.distinct.size == stages.size, "stages must be distinct")
    val idx = stages.zipWithIndex.foldLeft(lit(-1L)) { case (acc, (s, i)) =>
      when(col(typeCol) === s, lit(i.toLong)).otherwise(acc)
    }
    val reached = events
      .filter(col(typeCol).isin(stages: _*))
      .select(col(userCol), (unix_micros(col(tsCol)) * 8 + idx).as("__e"))
      .groupBy(col(userCol))
      .agg(aggregate(array_sort(collect_list(col("__e"))), lit(0L),
        (acc, x) => acc + when(pmod(x, lit(8)) === acc, 1L).otherwise(0L))
        .as("__reached"))
    val stageName = stages.zipWithIndex.foldLeft(lit(null: String)) {
      case (acc, (s, i)) => when(col("stage_idx") === i, lit(s)).otherwise(acc)
    }
    reached
      .filter(col("__reached") > 0)
      .select(explode(sequence(lit(0L), col("__reached") - 1)).as("stage_idx"))
      .groupBy(col("stage_idx"))
      .agg(count(lit(1)).as("n_users"))
      .select(stageName.as("stage"), col("stage_idx"), col("n_users"))
  }

  /** Weekly retention cohorts: users grouped by the week of their first
    * event; for each (cohort week, week offset) the number of distinct
    * users active that week.
    *
    * Weeks are absolute integer indexes (`floor(epoch_micros / week)`) so
    * every engine derives identical labels. Two shuffles, both on the
    * user key: the first-event aggregate, then the events⨝first join —
    * co-partitioned, so at scale the join is a zero-extra-shuffle merge
    * of two child exchanges on the same key.
    */
  def retentionCohorts(
      events: DataFrame,
      userCol: String,
      tsCol: String): DataFrame = {
    val weekMicros = 7L * 24 * 3600 * 1000000L
    val first = events.groupBy(col(userCol))
      .agg(min(unix_micros(col(tsCol))).as("__t0"))
    events
      .select(col(userCol), unix_micros(col(tsCol)).as("__t"))
      .join(first, userCol)
      .select(col(userCol),
        // integral `div`, not floor(double /): exact at week boundaries
        expr(s"__t0 div $weekMicros").as("cohort_week"),
        (expr(s"__t div $weekMicros") - expr(s"__t0 div $weekMicros"))
          .as("week_offset"))
      .distinct()
      .groupBy(col("cohort_week"), col("week_offset"))
      .agg(count(lit(1)).as("n_users"))
  }

  /** Pointwise mutual information over word pairs co-occurring in a
    * document, restricted to the `vocabSize` most frequent words (ties
    * broken lexically). PMI = ln(P(a,b) / (P(a)·P(b))) with document-level
    * probabilities, rounded so cross-engine `ln` agreement is safe.
    *
    * Scale shape: the vocabulary is a tiny broadcast (top-N by document
    * frequency via TakeOrderedAndProject); the corpus is scanned once,
    * reduced to (doc, vocab-word) pairs BEFORE the per-document self-join,
    * so the quadratic step is bounded by vocabSize² per document, not by
    * document length.
    */
  def pmiPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      vocabSize: Int = 100,
      topK: Int = 20): DataFrame = {
    val words = docs
      .select(col(idCol).as("__id"),
        explode(split(lower(col(textCol)), " ")).as("__w"))
      .filter(col("__w") =!= "")
      .distinct()
    val df = words.groupBy(col("__w")).agg(count(lit(1)).as("__df"))
    val vocab = df.orderBy(col("__df").desc, col("__w")).limit(vocabSize)
    val inVocab = words.join(broadcast(vocab), "__w")
    val nDocs = docs.select(countDistinct(col(idCol)).as("__n"))
    val pairs = inVocab.as("a")
      .join(inVocab.as("b"),
        col("a.__id") === col("b.__id") && col("a.__w") < col("b.__w"))
      .groupBy(col("a.__w").as("word_a"), col("b.__w").as("word_b"))
      .agg(count(lit(1)).as("n_pair"),
        first(col("a.__df")).as("__dfa"), first(col("b.__df")).as("__dfb"))
    pairs.crossJoin(broadcast(nDocs))
      .select(col("word_a"), col("word_b"), col("n_pair"),
        round(log(col("n_pair").cast("double") * col("__n") /
          (col("__dfa").cast("double") * col("__dfb"))), 4).as("pmi"))
      .orderBy(col("n_pair").desc, col("word_a"), col("word_b"))
      .limit(topK)
  }

  /** Row-normalized transition edges of the per-user event sequence:
    * `(src, dst, p)` where p = (count of src→dst steps) / (total steps
    * leaving src). Consecutive-step extraction is a per-user window (lag
    * over (ts, tiebreaker)) — partitioned by user, so sequence assembly
    * scales horizontally; the normalization is two map-side-combinable
    * aggregates.
    */
  def eventTransitions(
      events: DataFrame,
      userCol: String,
      typeCol: String,
      tsCol: String,
      tieCol: String): DataFrame = {
    val w = Window.partitionBy(col(userCol)).orderBy(col(tsCol), col(tieCol))
    val steps = events
      .withColumn("__src", lag(col(typeCol), 1).over(w))
      .filter(col("__src").isNotNull)
      .select(col("__src").as("src"), col(typeCol).as("dst"))
    val counts = steps.groupBy(col("src"), col("dst")).agg(count(lit(1)).as("__c"))
    val outTotals = counts.groupBy(col("src")).agg(sum(col("__c")).as("__tot"))
    counts.join(outTotals, "src")
      .select(col("src"), col("dst"),
        (col("__c").cast("double") / col("__tot").cast("double")).as("p"))
  }

  /** Temporal interaction graph: an undirected edge between users whose
    * events are CONSECUTIVE within the same event type (ordered by ts
    * then the tiebreaker) — the "who acts right after whom" projection
    * that avoids the bipartite per-type clique blowup (a shared-type
    * projection makes every hub type quadratic; adjacency keeps edge
    * count <= event count by construction). Edges are canonicalized
    * (a < b) and deduped. The per-type window is bounded by type
    * cardinality; at 100 TB one would sub-partition hot types by time
    * range first.
    */
  /** A window partitioned by event TYPE has ≤ #types distinct keys, so
    * the whole corpus funnels through a handful of sort tasks — at
    * 100 TB a straggler by construction (guide §2.5). Above the gate the
    * per-type lag is therefore spelled as a CONSECUTIVE-RANK SELF-JOIN:
    * withGroupRank assigns the identical total order (range-partitioned
    * local ranks + broadcast prefix offsets, no single-partition
    * window), and joining rank ↔ rank−1 within the type IS lag — the
    * inner join drops each type's first row exactly like the window's
    * isNotNull filter; (ts, tie) is a total order per type (tie is the
    * unique event id) so the pairing is bit-identical (OpsSpec pins both
    * paths equal). Below the gate — the input scan fits one task wave,
    * so the largest type sorts in one task anyway — the plain window is
    * cheaper (the rank spelling costs two extra exchanges plus a pinned
    * materialization; measured +0.5-1 s per graph query at sf0.1).
    * Override via -Dgraft.edges.rankJoin=always|never (the CC
    * smallGraphEdgeThreshold precedent) for gate-lifted verification.
    */
  private def useRankJoinEdges(events: DataFrame): Boolean =
    sys.props.get("graft.edges.rankJoin") match {
      case Some("always") => true
      case Some("never")  => false
      case _ =>
        !events.isStreaming &&
          events.queryExecution.toRdd.getNumPartitions >
            events.sparkSession.sparkContext.defaultParallelism
    }

  private def lagPairs(
      events: DataFrame,
      userCol: String,
      typeCol: String,
      tsCol: String,
      tieCol: String): DataFrame = {
    if (useRankJoinEdges(events)) {
      val ranked = graft.ops.Quantiles.withGroupRank(
        events.select(col(typeCol).as("__g"), col(tsCol).as("__ts"),
          col(tieCol).as("__tie"), col(userCol).as("__u")),
        Seq("__g"), Seq("__ts", "__tie"))
        .select(col("__g"), col("__rn"), col("__u"), col("__ts"))
      val prev = ranked.select(col("__g").as("__pg"),
        (col("__rn") + 1).as("__prn"), col("__u").as("__prev"))
      // null-safe on the group key: the window path partitions NULL types
      // into a real partition and emits their lag pairs; a plain-equality
      // join would silently drop them and the two sides of the size gate
      // would disagree (r16 advisory). <=> matches withGroupRank's own
      // offsets join.
      ranked.join(prev,
          ranked("__g") <=> prev("__pg") && ranked("__rn") === prev("__prn"))
        .select(col("__prev"), col("__u"), col("__ts"))
    } else {
      val w = Window.partitionBy(col(typeCol)).orderBy(col(tsCol), col(tieCol))
      events
        .withColumn("__prev", lag(col(userCol), 1).over(w))
        .filter(col("__prev").isNotNull)
        .select(col("__prev"), col(userCol).as("__u"), col(tsCol).as("__ts"))
    }
  }

  def interactionEdges(
      events: DataFrame,
      userCol: String,
      typeCol: String,
      tsCol: String,
      tieCol: String): DataFrame = {
    lagPairs(events, userCol, typeCol, tsCol, tieCol)
      .filter(col("__prev") =!= col("__u"))
      .select(
        least(col("__prev"), col("__u")).as("a"),
        greatest(col("__prev"), col("__u")).as("b"))
      .distinct()
  }

  /** Directed TEMPORAL interaction edges `(src, dst, t)` — the same
    * per-type lag derivation as [[interactionEdges]], but keeping
    * direction (earlier actor → later actor) and the later event's
    * time in epoch micros. Distinct triples: repeated contacts at
    * different times are distinct temporal edges (they enable
    * different onward paths).
    */
  def temporalEdges(
      events: DataFrame,
      userCol: String,
      typeCol: String,
      tsCol: String,
      tieCol: String): DataFrame = {
    // Same gated lag spelling as [[interactionEdges]] (see
    // [[useRankJoinEdges]]): identical pairs either side of the gate.
    lagPairs(events, userCol, typeCol, tsCol, tieCol)
      .filter(col("__prev") =!= col("__u"))
      .select(col("__prev").as("src"), col("__u").as("dst"),
        unix_micros(col("__ts")).as("t"))
      .distinct()
  }

  /** Time-respecting reachability (earliest-arrival BFS; the temporal
    * path semantics of Holme & Saramäki, "Temporal networks", Physics
    * Reports 519, 2012): the nodes reachable from each seed within
    * `maxHops` edges along paths whose edge times never decrease — the
    * influence/contagion primitive a static BFS gets WRONG (a path
    * through an edge that fired before you arrived is not a real
    * path).
    *
    * Min-arrival relaxation is sound AND complete for this semantics:
    * an earlier arrival at a node permits a superset of the onward
    * edges (`edge.t ≥ arrival` is monotone), so keeping one row per
    * (seed, node) — the earliest arrival — loses nothing. Each round
    * is one equi-join frontier expansion + a min-merge (map-side
    * combinable); each round is pinned, which cuts the plan (the CC/ANF
    * discipline); the rounds build in the caller's one action and stay in
    * the caller's scope. State is O(seeds × reached nodes), never walks.
    *
    * Returns `(seed, node, t)` — earliest arrival in micros, `t = −1`
    * for the seed itself (sorts before every real timestamp, so the
    * seed admits all first edges).
    */
  def temporalReachability(
      edges: DataFrame,
      seeds: DataFrame,
      maxHops: Int): DataFrame = {
    require(maxHops >= 0, "maxHops must be non-negative")
    var dist = seeds.select(col("seed"),
      col("seed").as("node"), lit(-1L).as("t"))
    (1 to maxHops).foreach { _ =>
      val e = edges.select(col("src"), col("dst"), col("t").as("__et"))
      val expanded = dist.join(e,
          dist("node") === e("src") && e("__et") >= dist("t"))
        .select(dist("seed"), e("dst").as("node"), col("__et").as("t"))
      dist = Materialize.pin(dist.unionByName(expanded)
        .groupBy(col("seed"), col("node")).agg(min(col("t")).as("t")))
    }
    dist
  }

  /** Bounded-hop single-source shortest paths from a seed set over
    * weighted directed edges `(src, dst, w)` — `maxHops` rounds of
    * min-plus (Bellman–Ford) relaxation: each round one equi-join
    * frontier expansion + a min-merge (map-side combinable), pinned per
    * round as in [[temporalReachability]]. Parallel edges are pre-reduced
    * to their cheapest weight (sound for shortest paths). State is
    * O(seeds × reached nodes); returns `(seed, node, cost)` with `cost = 0` for the seed
    * itself. Exact integer costs — partitioning/order independent.
    */
  def boundedShortestPaths(
      edges: DataFrame,
      seeds: DataFrame,
      maxHops: Int): DataFrame = {
    require(maxHops >= 0, "maxHops must be non-negative")
    val e = edges.groupBy(col("src"), col("dst"))
      .agg(min(col("w")).as("__w"))
    var dist = seeds.select(col("seed"),
      col("seed").as("node"), lit(0L).as("cost"))
    (1 to maxHops).foreach { _ =>
      val expanded = dist.join(e, dist("node") === e("src"))
        .select(dist("seed"), e("dst").as("node"),
          (dist("cost") + col("__w")).as("cost"))
      dist = Materialize.pin(dist.unionByName(expanded)
        .groupBy(col("seed"), col("node")).agg(min(col("cost")).as("cost")))
    }
    dist
  }

  /** Per-vertex triangle participation counts over an undirected edge
    * set `(a, b)` (deduped, a != b) — the degree-oriented formulation
    * (Suri & Vassilvitskii, WWW'11): orient every edge from the
    * (degree, id)-smaller endpoint to the larger, build wedges only at
    * each edge's SOURCE, and close them against the oriented edge set.
    * Each triangle is found exactly once, and a vertex's oriented
    * out-degree is O(sqrt(|E|)) whatever its raw degree — hubs become
    * destinations, never wedge centers, so the wedge join's fan-out is
    * bounded and skew-safe at any scale. Pure equi-joins + one
    * map-side-combinable corner count; nothing is collected.
    */
  def triangleCounts(edges: DataFrame): DataFrame = {
    val und = edges.select(col("a"), col("b"))
    val deg = und.select(explode(array(col("a"), col("b"))).as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("deg"))
    val withDeg = und
      .join(deg.select(col("v").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("v").as("b"), col("deg").as("db")), "b")
    val orient = withDeg.select(
      when(struct(col("da"), col("a")) < struct(col("db"), col("b")),
        struct(col("a").as("src"), col("b").as("dst"), col("db").as("dd")))
        .otherwise(struct(col("b").as("src"), col("a").as("dst"), col("da").as("dd")))
        .as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"), col("e.dd").as("dd"))
    val e1 = orient.select(col("src").as("u"), col("dst").as("v"), col("dd").as("dv"))
    val e2 = orient.select(col("src").as("u"), col("dst").as("w"), col("dd").as("dw"))
    val wedges = e1.join(e2, Seq("u"))
      .filter(struct(col("dv"), col("v")) < struct(col("dw"), col("w")))
      .select(col("u"), col("v"), col("w"))
    val triangles = wedges.join(
      orient.select(col("src").as("v"), col("dst").as("w")), Seq("v", "w"))
    triangles
      .select(explode(array(col("u"), col("v"), col("w"))).as("user_id"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_triangles"))
  }

  /** Degree assortativity (Newman, PRL 2002): the Pearson correlation
    * of endpoint degrees over all directed edge instances — positive
    * when high-degree vertices attach to each other (social shape),
    * negative for hub-and-spoke. All sums are of INTEGER degree
    * products (exact in double far past any realistic edge count), so
    * the only float arithmetic is the final closed form — deterministic
    * to the last ulp, rounded at output.
    */
  def degreeAssortativity(edges: DataFrame): DataFrame = {
    val e = edges.select(col("a").as("u"), col("b").as("v"))
      .union(edges.select(col("b").as("u"), col("a").as("v")))
    val deg = e.groupBy(col("u")).agg(count(lit(1)).as("d"))
    val j = e
      .join(deg.select(col("u"), col("d").as("du")), "u")
      .join(deg.select(col("u").as("v"), col("d").as("dv")), "v")
    j.agg(
        count(lit(1)).as("m"),
        sum(col("du").cast("double")).as("sx"),
        sum(col("dv").cast("double")).as("sy"),
        sum((col("du") * col("dv")).cast("double")).as("sxy"),
        sum((col("du") * col("du")).cast("double")).as("sxx"),
        sum((col("dv") * col("dv")).cast("double")).as("syy"))
      .select(
        (col("m") / 2).cast("long").as("n_edges"),
        // when-guarded: a degree-uniform graph has zero degree variance
        // and the correlation is undefined (ANSI would raise on the
        // double division); report null there
        when(
          col("m") * col("sxx") - col("sx") * col("sx") > 0 &&
            col("m") * col("syy") - col("sy") * col("sy") > 0,
          round((col("m") * col("sxy") - col("sx") * col("sy")) /
            (sqrt(col("m") * col("sxx") - col("sx") * col("sx")) *
              sqrt(col("m") * col("syy") - col("sy") * col("sy"))), 4))
          .as("assortativity"))
  }

  /** Time-decayed engagement score per user: Σ value·2^(−w) where `w`
    * counts whole half-life windows between the event and the corpus
    * horizon (integer `div`, so the decay factor is an EXACT power of
    * two in every engine — no transcendental drift). The recency-
    * weighted activity metric behind engagement ranking and sample
    * freshness weighting; one broadcast of the 1-row horizon and a
    * map-side-combinable sum.
    */
  def decayedEngagement(
      events: DataFrame,
      userCol: String,
      tsCol: String,
      valueCol: String,
      halfLifeDays: Int = 7): DataFrame = {
    val us = unix_micros(col(tsCol))
    val horizon = events.agg(max(us).as("__tmax"))
    val win = halfLifeDays.toLong * 86400000000L
    events.crossJoin(broadcast(horizon))
      .withColumn("__w", expr(s"(__tmax - unix_micros($tsCol)) div ${win}L"))
      .withColumn("__d", col(valueCol) * pow(lit(2.0), -col("__w").cast("double")))
      .groupBy(col(userCol))
      .agg(count(lit(1)).as("n_events"), round(sum(col("__d")), 4).as("score"))
  }

  /** Local clustering coefficient per vertex: `2·T(v) / (deg(v)·
    * (deg(v)−1))` for vertices with degree ≥ 2 — how close each
    * vertex's neighborhood is to a clique, the standard small-world
    * diagnostic next to triangle counts. Reuses [[triangleCounts]]'s
    * degree-oriented machinery; one extra degree join.
    */
  def clusteringCoefficients(edges: DataFrame): DataFrame = {
    val tri = triangleCounts(edges)
    val deg = edges.select(explode(array(col("a"), col("b"))).as("user_id"))
      .groupBy(col("user_id")).agg(count(lit(1)).as("degree"))
    deg.filter(col("degree") >= 2)
      .join(tri, Seq("user_id"), "left")
      .withColumn("n_triangles", coalesce(col("n_triangles"), lit(0L)))
      .withColumn("clustering", round(
        lit(2.0) * col("n_triangles") /
          (col("degree") * (col("degree") - 1)), 6))
  }

  /** k-core peeling over an undirected edge set `(a, b)` — `rounds`
    * FIXED rounds of "drop every vertex whose current degree < k"
    * (fixed rounds, not a convergence test, keep the result exactly
    * replayable; each round only ever shrinks the edge set, and on
    * graphs of bounded degeneracy a handful of rounds reaches the true
    * k-core). Returns the surviving vertices with their degree in the
    * final peeled edge set.
    *
    * Shape at scale: per round one map-side-combinable degree count +
    * two semi-joins on the vertex key — edges and degrees stay
    * DataFrames end-to-end, nothing is collected; the per-round pin
    * below also cuts the plan, so many rounds stay cheap to plan.
    */
  def kCoreMembers(edges: DataFrame, k: Int, rounds: Int = 3): DataFrame = {
    require(k >= 1 && rounds >= 1, s"k=$k rounds=$rounds")
    // ONE edge shuffle for the whole peel: hash-partition the
    // symmetrized edge set by u up front. Every round's degree count is
    // then a partitioning-reusing aggregation (no exchange), and the
    // u-side survivor filter joins on the same partitioning; only the
    // v-side filter can need data movement, and the keep set is
    // vertex-scale (AQE broadcasts it at any realistic density). This
    // cut the round cost from ~3 full-plan stages to ~1 (q139 measured
    // 6.3 s -> see BASELINE; output identical).
    var e = edges.select(col("a").as("u"), col("b").as("v"))
      .union(edges.select(col("b").as("u"), col("a").as("v")))
      .repartition(col("u"))
    // pin each round's edge set: every round reads its input twice
    // (degree count + join input) and lazily re-deriving it would
    // re-run ALL prior rounds each time — ~2^rounds recomputation
    // (measured: q139 6.9 s lazy vs ~1 s persisted at sf0.1). The
    // previous round's pin releases as soon as the next is built.
    var cur = e
    for (_ <- 1 to rounds) {
      val prev = cur
      cur = Materialize.pin(e)
      cur.count()
      Materialize.release(prev)
      val keep = cur.groupBy(col("u")).agg(count(lit(1)).as("d"))
        .filter(col("d") >= k).select(col("u").as("kv"))
      e = cur.join(keep.withColumnRenamed("kv", "u"), Seq("u"), "left_semi")
        .join(keep.withColumnRenamed("kv", "v"), Seq("v"), "left_semi")
    }
    // the final (unpinned) round reads the last pinned round twice
    e.groupBy(col("u").as("user_id")).agg(count(lit(1)).as("core_degree"))
  }

  /** PageRank over a weighted edge DataFrame `(src, dst, p)` by FIXED-
    * iteration power method: rank₀ = 1/N; rankₖ₊₁(v) = (1−d)/N +
    * d·Σ_{(u,v)} rankₖ(u)·p(u,v). Fixed iterations (not convergence-
    * tested) keep the result exactly reproducible by any engine — the
    * driver oracle replays the same three joins in SQL.
    *
    * Shape at scale: ranks and edges stay DataFrames end-to-end — each
    * iteration is one equi-join on the src key plus one map-side-
    * combinable groupBy on dst; nothing is collected, so the same code
    * ranks a 5-node event-type graph and a 100M-node item-transition
    * graph (where the join shuffles co-partition by key across
    * iterations). Dangling nodes (no out-edges) evaporate their mass, the
    * standard simplification when the graph is known to have out-edges
    * everywhere; callers with dangling nodes add self-loops first.
    */
  def pageRank(edges: DataFrame, damping: Double = 0.85, iterations: Int = 3): DataFrame = {
    val nodes = edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node"))).distinct()
    val n = broadcast(nodes.agg(count(lit(1)).as("__n")))
    var ranks = nodes.crossJoin(n).select(col("node"), (lit(1.0) / col("__n")).as("rank"))
    // Plan cut every CUT iterations: without it the logical plan (and
    // Catalyst analysis time) doubles per iteration — fine at the fixed 3
    // the oracle queries use, pathological at 20+. Same discipline as
    // Dedup.connectedComponents; each cut releases the previous one, and
    // the last stays in the caller's scope (the caller's action may
    // re-plan the query and read it again).
    val CUT = 5
    var cut = ranks
    for (i <- 1 to iterations) {
      val contrib = edges.join(ranks, edges("src") === ranks("node"))
        .groupBy(col("dst").as("node"))
        .agg(sum(col("rank") * col("p")).as("__in"))
      // re-assert the hint at the use site: a hint node inside a reused
      // plan fragment can be folded away by later rules — the 1-row count
      // frame must ALWAYS broadcast, never shuffle
      ranks = nodes.join(contrib, Seq("node"), "left").crossJoin(broadcast(n))
        .select(col("node"),
          (lit(1.0 - damping) / col("__n") +
            lit(damping) * coalesce(col("__in"), lit(0.0))).as("rank"))
      if (i % CUT == 0 && i < iterations) {
        ranks = Materialize.pin(ranks)
        ranks.count()
        Materialize.release(cut)
        cut = ranks
      }
    }
    ranks
  }

  /** Synchronous label propagation (Raghavan et al. 2007) over an
    * undirected edge set `(a, b)` — community detection by FIXED
    * `rounds` of "adopt the most frequent label among your neighbors",
    * ties broken toward the SMALLEST label. Labels start as the node
    * ids, every update is synchronous (round k+1 reads only round k's
    * labels), and the tie-break is total, so the result is exactly
    * replayable by any engine — no randomized visit order, no
    * convergence test.
    *
    * Shape at scale: each round is one equi-join of the (symmetrized)
    * edge list against the label frame on the neighbor key plus two
    * map-side-combinable aggregates — the (node, label) frequency
    * count, then the per-node argmax folded into a single
    * `max(struct(freq, -label))` so no window over the full node set is
    * ever needed. Nothing is collected; at many rounds one would cut
    * lineage every few rounds (the [[pageRank]] discipline) — the fixed
    * handful the oracle replays needs none.
    */
  def labelPropagation(edges: DataFrame, rounds: Int = 3): DataFrame = {
    require(rounds >= 1 && rounds <= 8, s"rounds=$rounds (oracle unrolls)")
    val e = edges.select(col("a").as("u"), col("b").as("v"))
      .union(edges.select(col("b").as("u"), col("a").as("v")))
    var labels = e.select(col("u").as("node")).distinct()
      .select(col("node"), col("node").as("label"))
    for (_ <- 1 to rounds) {
      val freq = e.join(labels, e("v") === labels("node"))
        .groupBy(col("u"), col("label"))
        .agg(count(lit(1)).as("__f"))
      labels = freq
        .groupBy(col("u").as("node"))
        .agg(max(struct(col("__f").as("f"), (-col("label")).as("nl"))).as("__b"))
        .select(col("node"), (-col("__b.nl")).as("label"))
    }
    labels.select(col("node").as("user_id"), col("label").as("community"))
  }

  /** Volume-anomaly detection over per-(group, day) event counts: each
    * day's count is z-scored against the TRAILING `trailing` rows
    * (current day excluded), flagging pipeline-health breaks — a feed
    * that doubled, a source that went dark. Mean and variance come from
    * the exact integer window sums (Σn, Σn², k) in closed form, so both
    * engines compute the identical IEEE doubles — no dependence on a
    * streaming-variance recurrence whose update order could differ.
    * Days with fewer than `minTrail` trailing rows or zero variance are
    * not scored (insufficient history).
    *
    * Shape at scale: one map-side-combinable (group, day) count, then a
    * per-group ordered window — partitioned by group key, frame bounded
    * at `trailing` rows, no global ordering anywhere.
    */
  def countAnomalies(
      events: DataFrame,
      groupCol: String,
      tsCol: String,
      trailing: Int = 7,
      minTrail: Int = 3): DataFrame = {
    require(trailing >= minTrail && minTrail >= 2, s"$trailing/$minTrail")
    val daily = events
      .groupBy(col(groupCol).as("grp"), to_date(col(tsCol)).as("day"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("grp")).orderBy(col("day"))
      .rowsBetween(-trailing, -1)
    daily
      .withColumn("__k", count(col("n")).over(w))
      .withColumn("__s", sum(col("n")).over(w))
      .withColumn("__s2", sum(col("n") * col("n")).over(w))
      .filter(col("__k") >= minTrail &&
        col("__k") * col("__s2") > col("__s") * col("__s"))
      .withColumn("__mean", col("__s").cast("double") / col("__k"))
      .withColumn("__sd", sqrt(
        (col("__k") * col("__s2") - col("__s") * col("__s")).cast("double") /
          (col("__k") * (col("__k") - lit(1)))))
      .select(col("grp").as(groupCol), col("day"), col("n"),
        round(col("__mean"), 6).as("trail_mean"),
        round((col("n") - col("__mean")) / col("__sd"), 6).as("zscore"))
  }

  /** Deterministic negative-edge sampling for link-prediction training
    * data: for each vertex, `perNode` non-neighbors drawn by
    * content-addressed hashing — draw j of vertex u targets the vertex
    * at rank (md5(u:j:seed) mod |V|) in the node-ordered vertex list,
    * self-loops and REAL edges are rejected, per-(u,v) duplicates
    * collapse to the smallest draw, and the first `perNode` survivors
    * by draw index win. Every step is replayable by an external engine
    * (md5 ranks, no RNG state), and every step is distributed: the
    * vertex ranking is the range-partition + broadcast-offsets rank
    * (never a single-partition window), the rank→vertex resolution is
    * an equi-join, and rejection is one anti-join on the canonical
    * edge key.
    */
  def negativeEdgeSamples(
      edges: DataFrame,
      perNode: Int = 2,
      draws: Int = 8,
      seed: String = "neg1"): DataFrame = {
    require(perNode >= 1 && draws >= perNode, s"$perNode/$draws")
    val verts = edges.select(col("a").as("node"))
      .union(edges.select(col("b").as("node"))).distinct()
    val ranked = Quantiles.withGroupRank(
      verts.withColumn("__g", lit(1)), Seq("__g"), Seq("node"))
      .select(col("node"), col("__rn"), col("__n"))
    val proposals = ranked.select(col("node"), col("__n"))
      .withColumn("j", explode(sequence(lit(1), lit(draws))))
      .withColumn("r", pmod(
        conv(substring(md5(concat_ws(":",
          col("node"), col("j"), lit(seed))), 1, 12), 16, 10).cast("long"),
        col("__n")) + 1)
    val targeted = proposals
      .join(ranked.select(col("__rn").as("r"), col("node").as("neg")), Seq("r"))
      .filter(col("neg") =!= col("node"))
      .groupBy(col("node"), col("neg")).agg(min(col("j")).as("j"))
    val real = edges.select(
      least(col("a"), col("b")).as("ca"),
      greatest(col("a"), col("b")).as("cb")).distinct()
    targeted
      .withColumn("ca", least(col("node"), col("neg")))
      .withColumn("cb", greatest(col("node"), col("neg")))
      .join(real, Seq("ca", "cb"), "left_anti")
      .withColumn("__k", row_number().over(
        Window.partitionBy(col("node")).orderBy(col("j"))))
      .filter(col("__k") <= perNode)
      .select(col("node").as("user_id"), col("neg").as("negative"),
        col("__k").cast("long").as("draw"))
  }

  /** Inter-arrival regularity per actor — the bot/scraper heuristic:
    * humans burst, schedulers tick. For each user with at least
    * `minEvents` events, the coefficient of variation (stddev/mean) of
    * the gaps between consecutive events; `cv` below `cvThreshold`
    * flags metronomic actors. Gaps are floored to whole SECONDS so the
    * squared sums stay well inside Long even for year-long gaps over
    * millions of events (µs² overflows 2⁶³ at a one-hour gap — and
    * Spark would wrap silently where the oracle promotes to HUGEINT);
    * all moments come from exact integer sums (Σg, Σg², k) in closed
    * form — both engines produce the identical doubles.
    *
    * Shape at scale: a per-user lag window (the user key is the natural
    * partitioning) and one map-side-combinable aggregate; no state
    * beyond a user's own event row count anywhere.
    */
  def interArrivalRegularity(
      events: DataFrame,
      userCol: String,
      tsCol: String,
      tieCol: String,
      minEvents: Int = 5,
      cvThreshold: Double = 0.5): DataFrame = {
    require(minEvents >= 3, s"minEvents=$minEvents")
    val w = Window.partitionBy(col(userCol)).orderBy(col(tsCol), col(tieCol))
    val gaps = events
      // FLOOR division, not `div`: div truncates toward zero while the
      // oracle's // floors toward -inf — they disagree on pre-epoch
      // timestamps. |micros| < 2^53 so the double floor is exact.
      .withColumn("__t",
        floor(expr(s"unix_micros($tsCol)") / lit(1000000.0)).cast("long"))
      .withColumn("__g", col("__t") - lag(col("__t"), 1).over(w))
      .filter(col("__g").isNotNull)
    gaps.groupBy(col(userCol).as("user_id"))
      .agg(count(lit(1)).as("__k"), sum(col("__g")).as("__s"),
        sum(col("__g") * col("__g")).as("__s2"))
      // zero-variance actors are kept (cv = 0 — the perfect metronome);
      // only a zero MEAN gap (all events in the same second) is
      // unscorable
      .filter(col("__k") >= minEvents - 1 && col("__s") > 0)
      .withColumn("__mean", col("__s").cast("double") / col("__k"))
      .withColumn("__sd", sqrt(
        (col("__k") * col("__s2") - col("__s") * col("__s")).cast("double") /
          (col("__k") * (col("__k") - lit(1)))))
      .select(col("user_id"), (col("__k") + 1).as("n_events"),
        round(col("__mean"), 6).as("mean_gap_s"),
        round(col("__sd") / col("__mean"), 6).as("cv"),
        (col("__sd") / col("__mean") < cvThreshold).as("metronomic"))
  }

  /** Adamic–Adar link prediction (Adamic & Adar, Social Networks 2003)
    * over an undirected deduped edge set `(a, b)`: for each NON-adjacent
    * candidate pair sharing at least `minCommon` neighbors, the score is
    * sum over common neighbors z of 1 / ln(deg(z)) — common friends
    * count more when they are selective.
    *
    * Scale shape: wedges are generated per CENTER z, which is quadratic
    * in deg(z) — so centers above `maxHubDegree` are excluded (standard
    * practice: a hub's 1/ln(deg) contribution is near-constant noise and
    * its wedge set is the whole quadratic blowup; the paper's signal
    * lives in low-degree commons). Scores still use the TRUE degree of
    * each kept center. Everything is equi-joins + one pair aggregation;
    * the existing-edge screen is a left-anti join on the canonical
    * (u < v) key. Degree-1 centers form no wedges, so ln(deg) is never
    * zero.
    */
  def adamicAdar(
      edges: DataFrame,
      maxHubDegree: Int = 64,
      minCommon: Int = 2): DataFrame = {
    // canonicalize per row (free — no shuffle) so a reversed (b, a)
    // input row can't slip past the adjacency anti-join below; edges
    // stored BOTH ways would still double-count degrees, so the dedup
    // part of the input contract stays with the caller.
    // PINNED: the canonical edge set feeds the union (twice) and the
    // final anti-join — per-stage metrics showed the upstream edge
    // derivation executing three times (3 × ~0.5 s serial).
    val und = Materialize.pin(edges.select(
      least(col("a"), col("b")).as("a"), greatest(col("a"), col("b")).as("b")))
    val dir = und.union(und.select(col("b").as("a"), col("a").as("b")))
      .select(col("a").as("z"), col("b").as("x"))
    val deg = dir.groupBy(col("z")).agg(count(lit(1)).as("deg"))
    // deg-1 centers cannot form a wedge — excluded up front so the
    // 1/ln(deg) weight is ANSI-safe (ln(1) = 0) and no work is wasted.
    // PINNED: both sides of the wedge self-join consume it.
    val adj = Materialize.pin(dir.join(
        deg.filter(col("deg") <= maxHubDegree && col("deg") >= 2), "z")
      .withColumn("w", lit(1.0) / log(col("deg").cast("double"))))
    // The probe side is EXPLICITLY hash-exchanged on the center: the
    // edge frame is task-wave-tiny at fixture scale, so AQE coalesces it
    // to one partition and the broadcast wedge join then generates EVERY
    // wedge in ONE task (measured: a single 2.8 s map task writing the
    // whole 20 MB wedge stream — guide §2.5, the classic single-partition
    // straggler). An explicit numPartitions blocks AQE coalescing; wedge
    // generation (the quadratic term) spreads over the cluster, keyed by
    // center so hot centers stay bounded by the maxHubDegree cap.
    val nParts = edges.sparkSession.sessionState.conf.numShufflePartitions
    val wedges = adj.select(col("z"), col("x").as("u"), col("w"))
      .repartition(nParts, col("z"))
      .join(adj.select(col("z"), col("x").as("v")), "z")
      .filter(col("u") < col("v"))
    val scored = wedges.groupBy(col("u"), col("v"))
      .agg(count(lit(1)).as("n_common"), sum(col("w")).as("__s"))
      .filter(col("n_common") >= minCommon)
    scored.join(und,
        scored("u") === und("a") && scored("v") === und("b"), "left_anti")
      .select(col("u"), col("v"), col("n_common"),
        round(col("__s"), 6).as("aa_score"))
  }

  // ----------------------------------------------- neighborhood function

  /** Exact/sketch split for [[neighborhoodFunction]], overridable via
    * -Dgraft.anf.exactNodeThreshold (0 forces the HyperBall sketch path
    * — the accuracy-pinned verification mode; unlike the CC gate lift,
    * the two paths are NOT bit-equal, the sketch carries bounded HLL
    * error, so the lift is pinned by OpsSpec error bounds, not by the
    * oracle). The default is deliberately LOW: exact ANF is
    * O(Σ_v |ball(v)| · deg) ≈ n²·d̄ join rows per hop — on a
    * well-connected 1,500-node graph that is already ~10⁸ rows a hop
    * (measured: 53 s at sf0.1 under a 64k gate), while HyperBall does
    * the same graph in seconds at ~13% error. 512 nodes keeps the
    * exact path where exactness is cheap and the answer is
    * fixture-sized.
    */
  def defaultAnfNodeGate: Long =
    sys.props.get("graft.anf.exactNodeThreshold").map(_.toLong)
      .getOrElse(1L << 9)

  /** Neighborhood function N(h) = Σ_v |{w : dist(v, w) ≤ h}| per hop —
    * the quantity behind effective-diameter and reachability profiling
    * (Palmer/Gibbons/Faloutsos "ANF", KDD'02; Boldi, Rosa & Vigna
    * "HyperANF", WWW'11). Two paths behind a node-count gate (the
    * [[Dedup.connectedComponents]] pattern):
    *
    *  - EXACT (nodes ≤ gate): iterative frontier expansion of the
    *    distinct (v, w) reach set — one equi-join + distinct per hop,
    *    pinned per round, early-constant once the diameter is
    *    reached. State is O(reachable pairs): exact and right at
    *    fixture scale, quadratic in the worst case — hence the gate.
    *  - HYPERBALL (above the gate): one 64-register HyperLogLog per
    *    node (b = 6; md5-seeded node hash, engine-independent),
    *    max-merged along edges each hop — O(nodes × 64 bytes) state at
    *    ANY graph size and O(maxHops) rounds, the 100 TB plan. N(h) is
    *    the rounded sum of per-node HLL estimates (~13% per-node error
    *    at m = 64; OpsSpec pins the summed error against the exact
    *    path on a gate-lifted fixture).
    *
    * Input: undirected edges (a, b). Output: (hop, n_pairs) for
    * hop = 0..maxHops, hop 0 counting the nodes themselves. Isolated
    * nodes (no edges) are out of frame on both paths.
    */
  def neighborhoodFunction(edges: DataFrame, maxHops: Int = 4,
      exactNodeThreshold: Long = defaultAnfNodeGate): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val sym = edges.select(col("a").cast("long").as("u"),
      col("b").cast("long").as("v")).filter(col("u") =!= col("v"))
    // the counts are collected, so every pin below lives in this scope
    val counts = Materialize.scoped {
      val both = Materialize.pin( // consumed once per hop
        sym.union(sym.select(col("v").as("u"), col("u").as("v"))).distinct())
      // pinned: the gate count and the per-path seed share ONE distinct
      // computation; a forced-sketch gate (<= 0) skips the count job
      // entirely
      val nodes = Materialize.pin(both.select(col("u").as("v")).distinct())
      if (exactNodeThreshold > 0 && nodes.count() <= exactNodeThreshold)
        exactAnf(both, nodes, maxHops)
      else hyperBallAnf(both, nodes, maxHops)
    }
    counts.toDF("hop", "n_pairs")
  }

  /** Exact BFS over (v, w) pairs, FRONTIER-expanded: each hop joins
    * only the pairs discovered LAST hop against the edge set (never the
    * whole reach set — the standard delta-BFS cut that matters once
    * balls saturate), anti-joins out already-known pairs, and unions
    * the disjoint remainder without a distinct. Early-constant once a
    * hop discovers nothing. Each hop's count builds the previous hop's
    * reach set, so the pins that set was made from are released then.
    */
  private def exactAnf(both: DataFrame, nodes: DataFrame,
      maxHops: Int): Seq[(Long, Long)] = {
    var reach = Materialize.pin(nodes.select(col("v"), col("v").as("w")))
    var frontier = reach
    var total = reach.count()
    val out = scala.collection.mutable.ArrayBuffer((0L, total))
    var growing = true
    var stale = Seq.empty[DataFrame] // the pins `reach` is made from
    for (h <- 1 to maxHops) {
      if (growing) {
        val grown = frontier
          .join(both.select(col("u").as("w"), col("v").as("x")), "w")
          .select(col("v"), col("x").as("w")).distinct()
        val newPairs = Materialize.pin(grown.join(reach, Seq("v", "w"), "left_anti"))
        val nNew = newPairs.count() // also builds `reach`, which the anti-join reads
        stale.foreach(Materialize.release)
        stale = Seq(reach, newPairs)
        // disjoint by the anti-join and internally distinct: plain union
        reach = Materialize.pin(reach.union(newPairs))
        frontier = newPairs
        growing = nNew > 0
        total += nNew
        out += ((h.toLong, total))
      } else out += ((h.toLong, total))
    }
    out.toSeq
  }

  /** Initial HyperBall registers for one node: md5 of the big-endian id
    * (engine-independent, no JVM hashCode), low 6 bits pick the
    * register, ρ = leading-zero rank of the remaining 58 bits + 1.
    */
  private[graft] def initRegs(v: Long): Array[Byte] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val d = md.digest(java.nio.ByteBuffer.allocate(8).putLong(v).array())
    var h = 0L
    var i = 0
    while (i < 8) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
    val j = (h & 63L).toInt
    val w = h >>> 6
    val rho =
      (if (w == 0L) 59 else java.lang.Long.numberOfLeadingZeros(w) - 5).toByte
    val r = new Array[Byte](64)
    r(j) = rho
    r
  }

  private[graft] def maxRegs(x: Array[Byte], y: Array[Byte]): Array[Byte] = {
    val r = new Array[Byte](64)
    var i = 0
    while (i < 64) { r(i) = if (x(i) >= y(i)) x(i) else y(i); i += 1 }
    r
  }

  /** Standard HLL estimator at m = 64 with the linear-counting
    * small-range correction. NOTE: the LC→raw crossover (around
    * cardinality ~160 at m = 64) makes the estimate locally
    * NON-monotone in the register state — a ball growing past the
    * crossover can report a slightly smaller estimate than the hop
    * before, so summed N(h) values are near-monotone, not strictly so;
    * consumers wanting N(maxHops) must select it by hop, never by max.
    */
  private[graft] def hllEstimate(r: Array[Byte]): Double = {
    var sum = 0.0
    var zeros = 0
    var i = 0
    while (i < 64) {
      sum += java.lang.Math.scalb(1.0, -r(i))
      if (r(i) == 0) zeros += 1
      i += 1
    }
    val e = (0.7213 / (1.0 + 1.079 / 64)) * 64.0 * 64.0 / sum
    if (e <= 2.5 * 64 && zeros > 0) 64.0 * math.log(64.0 / zeros) else e
  }

  private def hyperBallAnf(both: DataFrame, nodes: DataFrame,
      maxHops: Int): Seq[(Long, Long)] = {
    val spark = both.sparkSession
    import spark.implicits._
    var regs = Materialize.pin(nodes.select(col("v")).as[Long]
      .map(v => (v, graft.ops.Analytics.initRegs(v))).toDF("node", "r"))
    // per-node estimates quantized to integer MICROUNITS before the sum:
    // long addition is associative, so N(h) is bit-stable across task
    // orders (r16 review finding: a double reduce(_+_) could flip the
    // rounded total by 1 between runs near an x.5 boundary)
    def census(rs: DataFrame): Long = {
      val micro = rs.select(col("r")).as[Array[Byte]]
        .map(r => math.round(graft.ops.Analytics.hllEstimate(r) * 1e6))
        .toDF("m")
        .agg(coalesce(sum(col("m")), lit(0L))).head().getLong(0)
      math.round(micro / 1e6)
    }
    val out = scala.collection.mutable.ArrayBuffer((0L, census(regs)))
    for (h <- 1 to maxHops) {
      val contrib = regs
        .join(both.select(col("u").as("node"), col("v").as("nbr")), "node")
        .select(col("nbr").as("node"), col("r"))
        .unionByName(regs)
        .as[(Long, Array[Byte])]
      val next = Materialize.pin(contrib.groupByKey(_._1)
        .reduceGroups((x, y) => (x._1, graft.ops.Analytics.maxRegs(x._2, y._2)))
        .map(_._2).toDF("node", "r"))
      out += ((h.toLong, census(next))) // builds `next`
      Materialize.release(regs)
      regs = next
    }
    out.toSeq
  }
}
