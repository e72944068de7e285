package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Iterative graph analytics over edge lists — the fixed-iteration
  * complement to [[Dedup.connectedComponents]]'s converge-until-stable
  * pointer jumping.
  *
  * PageRank here is FIXED-POINT INTEGER arithmetic end to end: ranks are
  * scaled by 1e9 and every per-iteration step is integer division + an
  * order-free integer sum, so the result is a pure function of the graph —
  * bit-identical across engines, partitionings, and retries. (A double-
  * accumulated PageRank cannot be oracle-gated: float sums are
  * order-dependent.) Truncation error is bounded by out-degree rounding,
  * ~1e-9·deg per node per iteration — irrelevant for ranking, essential for
  * determinism.
  *
  * Scale shape: each iteration is ONE equi-join of the rank vector with the
  * edge list on src (both sides hash-partitioned on their join key) plus ONE
  * aggregation shuffle on dst. Degrees are computed once. At 100 TB the edge
  * list is the big side; pre-partitioning edges by src lets every iteration
  * reuse that layout (Exchange reuse), and the rank vector — one long per
  * node — is the only thing that moves.
  */
object Graph {

  /** Scaled rank space: 1.0 == 1e9. */
  val Scale = 1000000000L

  /** `iters` rounds of damped PageRank (d = 0.85) over a DIRECTED edge list
    * with no dangling nodes (callers symmetrize undirected graphs; every
    * node must appear as a source). Returns (node, rank_scaled).
    *
    * r_{k+1}(v) = (0.15·Scale) div N  +  (85 · Σ_{u→v} r_k(u) div deg(u)) div 100
    *
    * — all `div` are truncating integer division (Spark `div` == DuckDB `//`
    * on non-negative operands).
    *
    * Every `checkpointEvery` rounds the rank vector is `localCheckpoint`ed
    * and the previous checkpoint released (blocking) — without it the plan
    * chains one join per iteration, Catalyst re-optimizes the whole deepening
    * chain each round, and long runs (tens of iterations) slow superlinearly.
    * Checkpoint blocks are one long per node; the last one outlives the call
    * (same documented residual as the persisted edge relation). Results are
    * checkpoint-placement independent: each round is pure integer algebra.
    * (kmeansRefine needs no such knob: its centroids collect to the driver
    * each round and re-assignment re-projects from the SAME base relation
    * with literal arrays, so its plan depth is constant by construction.)
    */
  def pagerank(edges: DataFrame, srcCol: String, dstCol: String, iters: Int,
      checkpointEvery: Int = 8): DataFrame = {
    require(iters >= 1, "pagerank needs at least one iteration")
    require(checkpointEvery >= 1, "checkpointEvery must be positive")
    // Persist the edge list NARROW — (src, dst) only — and PRE-PARTITIONED
    // on src, the key every iteration's contribution join probes (r17):
    // previously the cache carried deg per edge row (wider shuffle bytes,
    // guide §2.3) and held the distinct's hash(src, dst) partitioning
    // because the deg attach was a broadcast join, so EVERY iteration
    // re-exchanged the full edge relation by src (seen in the r17 plan
    // dump). Now the per-rank degree divide happens on the NODE-sized rank
    // vector before the edge join, the cached edge side enters every
    // iteration's join exchange-free (guide §2.4), and the only edge-domain
    // movement per iteration is the inflow aggregation. Partition count
    // comes from spark.sql.shuffle.partitions (session-scoped,
    // scale-adaptive), not a literal. Stays cached for the caller's
    // lifetime like connectedComponents' labels (documented residual).
    val e0 = edges.select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .distinct()
    val eC = e0.repartition(col("src"))
      .transform(Residuals.persist)
    val degC = eC.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .transform(Residuals.persist)
    // Fixpoint-session execution was TRIED AND REVERTED here (r18): AQE
    // off collapsed 23 stage-jobs to 13, but the per-iteration rank join
    // statically plans as sort-merge (an aggregate output's size estimate
    // is its input's), where AQE's runtime stats convert it to broadcast —
    // measured 3.37 -> 5.12 s min-of-3 at sf0.1 (ppr 3.69 -> 5.28).
    // Stage-job latency is the smaller cost; AQE stays on for this loop.
    val e = eC
    val deg = degC
    // every node appears as a src (no dangling): nodes == distinct srcs
    val n = deg.count()
    val base = (Scale * 15L / 100L) / n // exact: both factors integer literals

    val nodes = deg.select(col("src").as("node"))
    var ranks = nodes.select(col("node"), lit(Scale / n).as("rank"))
    var lastCk: Option[DataFrame] = None
    for (i <- 1 to iters) {
      val contrib = e
        .join(ranks.withColumnRenamed("node", "src")
          .join(deg, "src")
          .select(col("src"), expr("rank div deg").as("c")), "src")
        .select(col("dst"), col("c"))
        .groupBy(col("dst"))
        .agg(sum(col("c")).as("inflow"))
      // left join from the node universe: a node with out-edges but no
      // in-edges keeps its base-rank row (inflow 0) instead of vanishing
      // and taking its outgoing contributions with it
      ranks = nodes
        .join(contrib.withColumnRenamed("dst", "node"), Seq("node"), "left")
        .select(col("node"),
          (lit(base) + expr("85 * coalesce(inflow, CAST(0 AS BIGINT)) div 100")).as("rank"))
      if (i % checkpointEvery == 0 && i < iters) {
        val ck = Checkpoints.truncate(ranks) // eager: materialized before release
        lastCk.foreach(Dedup.releaseCheckpoint)
        lastCk = Some(ck)
        ranks = ck
      }
    }
    lastCk.foreach(ck => Residuals.register(() => Dedup.releaseCheckpoint(ck)))
    ranks.select(col("node"), col("rank").as("rank_scaled"))
  }

  /** Personalized PageRank: teleport mass restarts ONLY onto the seed set —
    * the "relevance to these documents/users" ranking behind graph-based
    * curation (expand a trusted seed corpus along a similarity/interaction
    * graph). Identical integer fixed-point algebra to [[pagerank]]; the only
    * change is the restart vector: seeds carry base (0.15·Scale) div |S| and
    * start with Scale div |S|, everything else starts (and restarts) at 0.
    * Same per-iteration shape (one equi-join + one agg shuffle), same
    * checkpointEvery lineage truncation. */
  def pagerankPersonalized(
      edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, seedCol: String, iters: Int,
      checkpointEvery: Int = 8): DataFrame = {
    require(iters >= 1, "needs at least one iteration")
    // narrow (src, dst) cache pre-partitioned on the per-iteration join
    // key; degree divide rides the node-sized rank vector — see [[pagerank]]
    val e0 = edges.select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .distinct()
    val eC = e0.repartition(col("src"))
      .transform(Residuals.persist)
    val degC = eC.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .transform(Residuals.persist)
    // fixpoint-session execution tried and reverted — see [[pagerank]]
    // (AQE's runtime broadcast of the rank join beats the stage-job
    // savings; measured r18)
    val e = eC
    val deg = degC
    val s = seeds.select(col(seedCol).cast("long").as("node")).distinct()
    val nSeeds = s.count()
    require(nSeeds > 0, "seed set must be non-empty")
    val base = (Scale * 15L / 100L) / nSeeds
    // seed flag rides on the node universe (broadcast: seed sets are small
    // relative to the graph by definition of "personalized")
    val nodes = deg.select(col("src").as("node"))
      .join(broadcast(s.withColumn("__seed", lit(1L))), Seq("node"), "left")
      .select(col("node"), coalesce(col("__seed"), lit(0L)).as("is_seed"))
    var ranks = nodes.select(col("node"),
      (col("is_seed") * lit(Scale / nSeeds)).as("rank"))
    var lastCk: Option[DataFrame] = None
    for (i <- 1 to iters) {
      val contrib = e
        .join(ranks.withColumnRenamed("node", "src")
          .join(deg, "src")
          .select(col("src"), expr("rank div deg").as("c")), "src")
        .select(col("dst"), col("c"))
        .groupBy(col("dst"))
        .agg(sum(col("c")).as("inflow"))
      ranks = nodes
        .join(contrib.withColumnRenamed("dst", "node"), Seq("node"), "left")
        .select(col("node"),
          (col("is_seed") * lit(base)
            + expr("85 * coalesce(inflow, CAST(0 AS BIGINT)) div 100")).as("rank"))
      if (i % checkpointEvery == 0 && i < iters) {
        val ck = Checkpoints.truncate(ranks)
        lastCk.foreach(Dedup.releaseCheckpoint)
        lastCk = Some(ck)
        ranks = ck
      }
    }
    lastCk.foreach(ck => Residuals.register(() => Dedup.releaseCheckpoint(ck)))
    ranks.select(col("node"), col("rank").as("rank_scaled"))
  }

  /** Exact per-node triangle counts via DEGENERACY ORIENTATION — the trick
    * that makes distributed triangle counting survive skew. Every undirected
    * edge is oriented from its smaller endpoint to its larger under the
    * (degree, id) total order; a triangle a–b–c then materializes exactly
    * once, as the wedge s→t1, t1→t2 closed by s→t2. Out-degree under this
    * orientation is O(√m) for ANY graph (arboricity bound), so the
    * wedge-generation join fanout Σ outdeg² stays bounded even when a
    * celebrity node's raw degree² would explode — orienting by plain node id
    * instead would leave a hub with millions of out-neighbors.
    *
    * Scale shape: two equi-joins (wedge build on the middle node, closure
    * probe on the (s,t) pair) over the oriented edge relation, persisted
    * once and reused by all three roles. Everything is integer/equi-join —
    * exactly oracle-expressible. Returns (node, n_triangles) for nodes in
    * at least one triangle. */
  def triangles(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val und = normalizedUnd(edges, srcCol, dstCol)
    val deg = undDegrees(und)
    trianglesFromUnd(und, deg)
  }

  /** The normalized undirected edge relation (a < b, deduped, self-loops
    * dropped) every undirected operator starts from — exposed so compound
    * operators ([[clusteringCoeff]]) derive it ONCE instead of re-scanning
    * and re-deduping the input per sub-operator. */
  private[operators] def normalizedUnd(edges: DataFrame,
      srcCol: String, dstCol: String): DataFrame = {
    val e0 = edges
      .select(col(srcCol).cast("long").as("u"), col(dstCol).cast("long").as("v"))
      .filter(col("u") =!= col("v"))
    e0.select(least(col("u"), col("v")).as("a"), greatest(col("u"), col("v")).as("b"))
      .distinct()
  }

  /** Node degrees of a [[normalizedUnd]] relation: (n, deg). */
  private[operators] def undDegrees(und: DataFrame): DataFrame =
    und.select(col("a").as("n")).union(und.select(col("b").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("deg"))

  private def trianglesFromUnd(und: DataFrame, deg: DataFrame): DataFrame = {
    val oriented = und
      .join(deg.select(col("n").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("n").as("b"), col("deg").as("db")), "b")
      .select(
        when(col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")),
          struct(col("a").as("s"), col("b").as("t")))
          .otherwise(struct(col("b").as("s"), col("a").as("t"))).as("e"))
      .select(col("e.s").as("s"), col("e.t").as("t"))
      .transform(Residuals.persist)
    val e1 = oriented.as("e1")
    val e2 = oriented.as("e2")
    val e3 = oriented.as("e3")
    val tri = e1.join(e2, col("e1.t") === col("e2.s"))
      .join(e3, col("e1.s") === col("e3.s") && col("e2.t") === col("e3.t"))
      .select(col("e1.s").as("x"), col("e1.t").as("y"), col("e2.t").as("z"))
    tri.select(explode(array(col("x"), col("y"), col("z"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_triangles"))
  }

  /** `rounds` rounds of k-core peeling: each round computes degrees over the
    * surviving symmetrized edge set, drops every node with degree < k, and
    * removes edges touching dropped nodes. The bounded-iteration form of
    * k-core decomposition (same contract as [[pagerank]]'s fixed `iters`):
    * run to a fixed round count for oracle parity, or keep applying rounds
    * until the edge count stops changing for the true core — each extra
    * round is one degree aggregation + two semi-joins on the shrinking
    * relation, so cost DEcreases per round. Returns the surviving (node,
    * deg) pairs after the final round.
    *
    * Scale shape per round: one map-side-combined count keyed on the node
    * and two left-semi equi-joins of the edge relation against the
    * (node-count-sized) keep set; the edge relation is persisted per round
    * and released after use, `checkpointEvery` truncates lineage on long
    * peels. */
  def kCoreRounds(edges: DataFrame, srcCol: String, dstCol: String,
      k: Int, rounds: Int, checkpointEvery: Int = 8): DataFrame = {
    require(k >= 1 && rounds >= 1)
    val e0 = edges
      .select(col(srcCol).cast("long").as("a"), col(dstCol).cast("long").as("b"))
      .filter(col("a") =!= col("b"))
    // loop relation kept partitioned on a (r17): the degree aggregation and
    // the first semi-join both key on a, so each round's only edge-domain
    // exchanges are the b-side semi-join and the re-partition — down from
    // three (groupBy + both semi-joins) on an unaligned cache
    var cur = e0.union(e0.select(col("b").as("a"), col("a").as("b"))).distinct()
      .repartition(col("a"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var lastCk: Option[DataFrame] = None
    for (i <- 1 to rounds) {
      val keep = cur.groupBy(col("a")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k).select(col("a"))
      val next = cur
        .join(keep, Seq("a"), "left_semi")
        .join(keep.withColumnRenamed("a", "b"), Seq("b"), "left_semi")
        .select(col("a"), col("b"))
        .repartition(col("a"))
      val nextP =
        if (i % checkpointEvery == 0 && i < rounds) {
          val ck = Checkpoints.truncate(next)
          lastCk.foreach(Dedup.releaseCheckpoint)
          lastCk = Some(ck)
          ck
        } else next.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      nextP.count() // materialize before releasing the parent cache
      cur.unpersist()
      cur = nextP
    }
    val fin = cur
    Residuals.register(() => fin.unpersist(blocking = false))
    lastCk.foreach(ck => Residuals.register(() => Dedup.releaseCheckpoint(ck)))
    cur.groupBy(col("a").as("node")).agg(count(lit(1)).as("deg"))
  }

  /** `rounds` SYNCHRONOUS rounds of label propagation (community detection):
    * every node starts labeled with its own id; each round it adopts the
    * most frequent label among its neighbors, ties broken by SMALLEST label
    * — fully deterministic, so a fixed round count is exactly
    * oracle-checkable (asynchronous/randomized LPA is not). Communities
    * emerge as labels flood dense regions; unlike
    * [[Dedup.connectedComponents]] this does NOT converge to components —
    * majority voting stops at sparse cuts.
    *
    * Scale shape per round: ONE equi-join of the node-sized label vector
    * with the symmetrized edge list + two aggregations (neighbor-label
    * counts, then per-node argmax via `min(struct(-count, label))` — a
    * plain map-side-combinable aggregate, no window over the corpus). Edge
    * relation persisted once; same per-round cost slot as [[pagerank]]. */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
      rounds: Int): DataFrame = {
    require(rounds >= 1, "need at least one round")
    val e0 = edges
      .select(col(srcCol).cast("long").as("a"), col(dstCol).cast("long").as("b"))
      .filter(col("a") =!= col("b"))
    // cached pre-partitioned on x — the label join key every round (r17).
    // Fixpoint-session execution tried and REVERTED (r18): jobs 16 -> 8
    // but 0.87 -> 2.46 s — the worst case of the static-SMJ effect (the
    // label vector joins + double aggregation all lose their runtime
    // broadcasts); AQE stays on for this loop.
    val adj = e0.union(e0.select(col("b").as("a"), col("a").as("b"))).distinct()
      .select(col("a").as("v"), col("b").as("x"))
      .repartition(col("x"))
      .transform(Residuals.persist)
    var labels = adj.select(col("v").as("node")).distinct()
      .select(col("node"), col("node").as("label"))
    for (_ <- 1 to rounds) {
      labels = adj
        .join(labels.select(col("node").as("x"), col("label")), "x")
        .groupBy(col("v"), col("label")).agg(count(lit(1)).as("c"))
        .groupBy(col("v"))
        .agg(min(struct((-col("c")).as("nc"), col("label").as("label"))).as("m"))
        .select(col("v").as("node"), col("m.label").as("label"))
    }
    labels
  }

  /** `rounds` rounds of HITS (Kleinberg hubs & authorities) over a DIRECTED
    * edge list: auth(v) = Σ_{u→v} hub(u), hub(u) = Σ_{u→v} auth(v), each
    * renormalized to ∞-norm 10⁶ by truncating integer division after every
    * half-step — the directed complement to [[pagerank]] (a good hub points
    * AT good content; a good authority is pointed at BY good hubs; PageRank
    * conflates the two roles). All integer arithmetic from the all-ones
    * hub start, so a fixed round count is exactly oracle-checkable.
    * Returns (node, kind ∈ hub/auth, score_scaled); a node appearing on
    * both edge sides gets both rows.
    *
    * Scale shape per half-step: one equi-join of the node-sized score
    * vector with the persisted edge list + one map-combinable aggregation +
    * an O(1) max collect. Scores ≤ deg·10⁶, the ×10⁶ renormalization stays
    * in BIGINT while max in-degree < ~9·10⁶. */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
      rounds: Int = 2): DataFrame = {
    require(rounds >= 1, "need at least one round")
    // cached pre-partitioned on src (r17): the auth half-step joins on src
    // every round. The dst-partitioned TWIN (sccDecompose eB pattern, r17
    // verdict #5) was TRIED AND REVERTED r18: 2.73 -> 4.51 s min-of-3 at
    // sf0.1 (jobs 28 -> 32) — at bench scale AQE broadcasts the NODE-sized
    // score vector at runtime, so the edge relation never actually
    // re-exchanges for the dst join and the twin is a pure extra
    // edge-sized cache build + materialization barrier. (Fixpoint-session
    // execution also tried, also slower: 4.47 s — same static-SMJ effect
    // as pagerank.) On a 100 TB graph whose score vector exceeds the
    // broadcast cap the twin becomes the right shape — revisit with the
    // recorded numbers if hits ever runs at that scale.
    val e = edges
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .distinct()
      .repartition(col("src"))
      .transform(Residuals.persist)
    var hub = e.select(col("src").as("node")).distinct()
      .select(col("node"), lit(1000000L).as("h"))
    var auth: DataFrame = null
    // Each half-step's aggregate is persisted BEFORE its max collect: the
    // collect materializes the cache, the normalization select and the next
    // half-step's join then read it instead of replaying the whole score
    // lineage per action (unpersisted, the 2-round chain re-executed its
    // joins ~10x across the four collects + final read — measured 12.4 s vs
    // ~1 s cached at sf0.1). Last round's caches outlive the call — the
    // same documented residual as pagerank's persisted edge relation.
    val live = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def materialize(df: DataFrame): DataFrame = {
      val p = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      live += p
      p
    }
    def releaseOld(): Unit = {
      // keep the two newest (current auth + hub sums); release the rest
      while (live.length > 2) { live.remove(0).unpersist() }
    }
    for (_ <- 1 to rounds) {
      val a0 = materialize(
        e.join(hub.select(col("node").as("src"), col("h")), "src")
          .groupBy(col("dst")).agg(sum(col("h")).as("s")))
      val am = a0.agg(max(col("s"))).head().getLong(0)
      require(am > 0, "empty graph")
      auth = a0.select(col("dst").as("node"), expr(s"s * 1000000 div $am").as("a"))
      val h0 = materialize(
        e.join(auth.select(col("node").as("dst"), col("a")), "dst")
          .groupBy(col("src")).agg(sum(col("a")).as("s")))
      val hm = h0.agg(max(col("s"))).head().getLong(0)
      hub = h0.select(col("src").as("node"), expr(s"s * 1000000 div $hm").as("h"))
      releaseOld()
    }
    live.foreach(p => Residuals.register(() => p.unpersist(blocking = false)))
    hub.select(col("node"), lit("hub").as("kind"), col("h").as("score_scaled"))
      .unionByName(auth.select(col("node"), lit("auth").as("kind"), col("a").as("score_scaled")))
  }

  /** Link prediction over an undirected graph: for every NON-adjacent node
    * pair (a < b) sharing at least `minCommon` neighbors, the common-neighbor
    * count and the Adamic–Adar score Σ_w 1/ln(deg(w)) over the shared
    * neighbors w — the classic "friend of a friend" candidate generator
    * behind graph-expansion corpus curation (seed documents → co-cited
    * candidates) and recommendation recall.
    *
    * Exactness: ln(deg) is quantized to 1e-6 BEFORE use (`qln = floor(ln·1e6
    * + 0.5)` — libm parity on integer inputs, the BM25/LM-fit precedent) and
    * each neighbor contributes the INTEGER `1e12 div qln`, so the per-pair
    * score is an order-free integer sum: `aa_scaled` ≈ AA · 1e6, truncation
    * < 1 per term. Any common neighbor has deg ≥ 2, so qln ≥ 693147 > 0.
    *
    * Scale shape: the wedge fanout through an intermediate w is deg(w)² —
    * the same quadratic every triangle/co-occurrence job has. `maxDeg` caps
    * the intermediate degree (the stopword cut of graphs: a hub shared by
    * everyone predicts nothing and dominates the fanout); with the cap the
    * self-join is bounded by maxDeg·|E| rows regardless of skew, and the
    * two joins are plain equi-joins on w — broadcast-free, AQE-skew-safe.
    * Returns (node_a, node_b, cn, aa_scaled). */
  def linkPredict(edges: DataFrame, srcCol: String, dstCol: String,
      minCommon: Long = 1L, maxDeg: Long = Long.MaxValue): DataFrame = {
    require(minCommon >= 1, "minCommon must be positive")
    val e0 = edges
      .select(col(srcCol).cast("long").as("a"), col(dstCol).cast("long").as("b"))
      .filter(col("a") =!= col("b"))
    val und = e0
      .select(least(col("a"), col("b")).as("a"), greatest(col("a"), col("b")).as("b"))
      .distinct()
      .transform(Residuals.persist)
    // cached pre-partitioned on w — shared by the degree agg and both wedge
    // legs, all keyed on w (r17; the jaccardSimilarity shape)
    val adj = und.union(und.select(col("b").as("a"), col("a").as("b")))
      .select(col("a").as("w"), col("b").as("x"))
      .repartition(col("w"))
      .transform(Residuals.persist)
    val deg = adj.groupBy(col("w")).agg(count(lit(1)).as("deg"))
    // per-intermediate Adamic–Adar term, hub-capped before the self-join.
    // deg >= 2: a degree-1 node can never be a COMMON neighbor (its single
    // wedge is killed by the na < nb filter), and excluding it here also
    // keeps qln > 0 — ANSI would otherwise raise on `div qln(1) = 0` now
    // that the cached-adj plan evaluates the term once per degree row
    val mids = adj.join(deg.filter(col("deg") >= 2 && col("deg") <= maxDeg), "w")
      .withColumn("qln", floor(log(col("deg").cast("double")) * 1e6 + lit(0.5)).cast("long"))
      .withColumn("aa_term", expr("1000000000000 div qln"))
      .select(col("w"), col("x"), col("aa_term"))
    val wedges = mids.select(col("w"), col("x").as("na"), col("aa_term"))
      .join(mids.select(col("w"), col("x").as("nb")), "w")
      .filter(col("na") < col("nb"))
    val out = wedges
      .join(und.select(col("a").as("na"), col("b").as("nb")), Seq("na", "nb"), "left_anti")
      .groupBy(col("na").as("node_a"), col("nb").as("node_b"))
      .agg(count(lit(1)).as("cn"), sum(col("aa_term")).as("aa_scaled"))
      .filter(col("cn") >= minCommon)
    out
  }

  /** Neighborhood-Jaccard link prediction: for every non-adjacent pair
    * (a < b) sharing at least `minCommon` neighbors,
    * `jac = |N(a)∩N(b)| / |N(a)∪N(b)|` in 1e-6 fixed point — the
    * size-normalized complement of [[linkPredict]]'s raw common-neighbor
    * count (a hub pair with 3 shared neighbors out of 500 is a weaker
    * signal than a leaf pair with 3 of 4). `|N(a)∪N(b)| = deg(a)+deg(b)−cn`
    * needs only the per-node degree relation, so the union is never
    * materialized.
    *
    * Exactness: `jac_micro = cn·1e6 div (deg_a+deg_b−cn)` — one truncating
    * integer division of exact counts; the denominator is ≥ cn ≥ 1 for any
    * pair this operator emits. cn·1e6 binds at cn ~ 9.2e12 — beyond any
    * real node degree.
    *
    * Scale shape: identical to [[linkPredict]] (wedge equi-joins bounded by
    * maxDeg·|E|, anti-join against the edge list); the degree join adds two
    * broadcast-sized probes against the node-domain degree relation.
    * Returns (node_a, node_b, cn, deg_a, deg_b, jac_micro). */
  def jaccardSimilarity(edges: DataFrame, srcCol: String, dstCol: String,
      minCommon: Long = 1L, maxDeg: Long = Long.MaxValue): DataFrame = {
    require(minCommon >= 1, "minCommon must be positive")
    val e0 = edges
      .select(col(srcCol).cast("long").as("a"), col(dstCol).cast("long").as("b"))
      .filter(col("a") =!= col("b"))
    val und = e0
      .select(least(col("a"), col("b")).as("a"), greatest(col("a"), col("b")).as("b"))
      .distinct()
      .transform(Residuals.persist)
    // cached pre-partitioned on w: the degree join, BOTH wedge self-join
    // legs and the degree aggregation all key on w, so everything from here
    // to the pair aggregation is exchange-free on the edge side (r17)
    val adj = und.union(und.select(col("b").as("a"), col("a").as("b")))
      .select(col("a").as("w"), col("b").as("x"))
      .repartition(col("w"))
      .transform(Residuals.persist)
    val deg = adj.groupBy(col("w")).agg(count(lit(1)).as("deg"))
      .transform(Residuals.persist)
    val mids = adj.join(deg.filter(col("deg") <= maxDeg), "w").select(col("w"), col("x"))
    val wedges = mids.select(col("w"), col("x").as("na"))
      .join(mids.select(col("w"), col("x").as("nb")), "w")
      .filter(col("na") < col("nb"))
    wedges
      .join(und.select(col("a").as("na"), col("b").as("nb")), Seq("na", "nb"), "left_anti")
      .groupBy(col("na"), col("nb"))
      .agg(count(lit(1)).as("cn"))
      .filter(col("cn") >= minCommon)
      // degrees of the ENDPOINTS (uncapped — the cap only bounds wedge
      // fanout through intermediates, union size uses true degrees)
      .join(deg.select(col("w").as("na"), col("deg").as("deg_a")), "na")
      .join(deg.select(col("w").as("nb"), col("deg").as("deg_b")), "nb")
      .select(col("na").as("node_a"), col("nb").as("node_b"), col("cn"),
        col("deg_a"), col("deg_b"),
        expr("cn * 1000000 div (deg_a + deg_b - cn)").as("jac_micro"))
  }

  /** Local clustering coefficient per node:
    * `cc = 2·triangles(v) / (deg(v)·(deg(v)−1))` in 1e-6 fixed point — the
    * per-node "are my neighbors connected" gauge whose average
    * distinguishes social graphs from random ones; pure composition of
    * [[triangles]] (degeneracy-oriented, O(√m) wedge bound) with one
    * degree aggregate. Degree-0/1 nodes score 0 (no possible wedge), as do
    * triangle-free nodes. Returns (node, deg, n_triangles, cc_micro). */
  def clusteringCoeff(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    // derive the normalized edge set and degrees ONCE; the triangle count
    // reuses both instead of re-scanning/re-deduping the input
    val und = normalizedUnd(edges, srcCol, dstCol)
      .transform(Residuals.persist)
    val deg0 = undDegrees(und)
      .transform(Residuals.persist)
    val deg = deg0.select(col("n").as("node"), col("deg"))
    val tri = trianglesFromUnd(und, deg0)
    deg.join(tri, Seq("node"), "left")
      .withColumn("n_triangles", coalesce(col("n_triangles"), lit(0L)))
      .withColumn("cc_micro",
        when(col("deg") >= 2,
          expr("2 * n_triangles * 1000000 div (deg * (deg - 1))")).otherwise(lit(0L)))
      .select(col("node"), col("deg"), col("n_triangles"), col("cc_micro"))
  }

  /** Degree assortativity of an undirected graph: the Pearson correlation of
    * the degrees at the two ends of an edge — positive for hub-to-hub social
    * graphs, negative for hub-and-spoke (star-shaped) topologies; the
    * one-number "is my similarity graph clustered or centralized" monitor.
    *
    * Computed as [[Features.linearFit]]'s slope over the SYMMETRIZED edge
    * list's endpoint-degree pairs: with both orientations present, x and y
    * have identical marginals (sx = sy, sxx = syy), so the regression slope
    * cov/var(x) IS the correlation coefficient exactly — one aggregate pass,
    * integer power sums, fixed-point `slope_micro` = r·1e6. Overflow per
    * linearFit's documented bound: n·maxDeg < ~3e6 with degrees as the
    * variables; degree-cap hubs upstream on larger graphs.
    *
    * Scale shape: one distinct, one degree aggregation, two equi-joins of
    * the edge list with the node-sized degree relation, one scalar
    * aggregate. Returns the single fit row (n = 2·|E|). */
  def assortativity(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val e0 = edges
      .select(col(srcCol).cast("long").as("a"), col(dstCol).cast("long").as("b"))
      .filter(col("a") =!= col("b"))
    val und = e0
      .select(least(col("a"), col("b")).as("a"), greatest(col("a"), col("b")).as("b"))
      .distinct()
    val adj = und.union(und.select(col("b").as("a"), col("a").as("b")))
    val deg = adj.groupBy(col("a").as("w")).agg(count(lit(1)).as("deg"))
    val pairs = adj
      .join(deg.select(col("w").as("a"), col("deg").as("deg_a")), "a")
      .join(deg.select(col("w").as("b"), col("deg").as("deg_b")), "b")
    Features.linearFit(pairs, "deg_a", "deg_b")
  }

  /** Newman modularity contributions of a community assignment: per label,
    * the node count, the intra-community edge count m_c, the degree mass
    * d_c, and the fixed-point contribution
    * `q_micro = (4·m·m_c − d_c²)·1e6 div (4·m²)` — summing q_micro over
    * labels gives Q·1e6 (up to one truncation per community). The quality
    * gauge for [[labelPropagation]]'s output: near 0 ⇒ the partition is no
    * better than random, toward 1 ⇒ dense communities, sparse cuts.
    *
    * All integer: m from one count, per-label sums, one truncating division.
    * Overflow: the binding term is the ×1e6 SCALED numerator
    * `(4·m·m_c − d_c²)·10⁶` — BIGINT-safe while m < ~1.5e6 undirected
    * edges (the unscaled products alone would allow ~1.5e9); beyond that,
    * pre-scale m_c/d_c/m by a common power of two (Q is scale-invariant) —
    * truncation error stays ≤ 1e-6 per community. Unlabeled endpoints
    * (labels is expected
    * to cover every node [[labelPropagation]] saw) drop their edges from
    * m_c/d_c, never crash.
    *
    * Scale shape: one distinct, two broadcast-sized joins of the edge list
    * against the node-label relation, two aggregations on label. */
  def modularity(edges: DataFrame, srcCol: String, dstCol: String,
      labels: DataFrame, nodeCol: String = "node", labelCol: String = "label"): DataFrame = {
    val e0 = edges
      .select(col(srcCol).cast("long").as("a"), col(dstCol).cast("long").as("b"))
      .filter(col("a") =!= col("b"))
    val und = e0
      .select(least(col("a"), col("b")).as("a"), greatest(col("a"), col("b")).as("b"))
      .distinct()
      .transform(Residuals.persist)
    val lab = labels.select(col(nodeCol).cast("long").as("node"), col(labelCol).as("label"))
    // total undirected edge count, carried as a broadcast 1-row relation
    val m = und.agg(count(lit(1)).as("m"))
    val adj = und.union(und.select(col("b").as("a"), col("a").as("b")))
    // degree mass and node count per community
    val dSum = adj.groupBy(col("a")).agg(count(lit(1)).as("deg"))
      .join(lab.withColumnRenamed("node", "a"), "a")
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_nodes"), sum(col("deg")).as("d_sum"))
    // intra-community edges: both endpoints carry the same label
    val mIn = und
      .join(lab.select(col("node").as("a"), col("label").as("la")), "a")
      .join(lab.select(col("node").as("b"), col("label").as("lb")), "b")
      .filter(col("la") === col("lb"))
      .groupBy(col("la").as("label")).agg(count(lit(1)).as("m_in"))
    dSum.join(mIn, Seq("label"), "left")
      .withColumn("m_in", coalesce(col("m_in"), lit(0L)))
      .crossJoin(broadcast(m))
      .withColumn("q_micro",
        expr("(4 * m * m_in - d_sum * d_sum) * 1000000 div (4 * m * m)"))
      .select(col("label"), col("n_nodes"), col("m_in"), col("d_sum"), col("q_micro"))
  }

  /** `rounds` rounds of multi-source BFS over an undirected graph: hop
    * distance from the nearest seed, for every node reached within `rounds`
    * hops — the frontier expansion behind "within-k-hops of the seed
    * corpus" curation and blast-radius queries. Deterministic by
    * construction (min over an integer relation per round), so a fixed
    * round count is exactly oracle-checkable.
    *
    * Scale shape per round: one equi-join of the reached relation with the
    * persisted adjacency + one min-aggregation — the same shape as
    * [[labelPropagation]]. The reached relation only grows by the frontier;
    * rounds bound the output radius, not the input. */
  def bfsHops(edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, seedCol: String, rounds: Int): DataFrame = {
    require(rounds >= 1, "need at least one round")
    val e0 = edges
      .select(col(srcCol).cast("long").as("a"), col(dstCol).cast("long").as("b"))
      .filter(col("a") =!= col("b"))
    val und = e0
      .select(least(col("a"), col("b")).as("a"), greatest(col("a"), col("b")).as("b"))
      .distinct()
    // cached pre-partitioned on x — the frontier join key every round
    // (r17). Fixpoint-session execution tried and REVERTED (r18): jobs
    // 20 -> 9 but 0.99 -> 1.43 s — the frontier joins statically plan as
    // sort-merge where AQE broadcasts the frontier at runtime (the
    // pagerank measurement, same shape).
    val adj = und.union(und.select(col("b").as("a"), col("a").as("b")))
      .select(col("a").as("v"), col("b").as("x"))
      .repartition(col("x"))
      .transform(Residuals.persist)
    var dist = seeds.select(col(seedCol).cast("long").as("node")).distinct()
      .withColumn("dist", lit(0L))
    for (_ <- 1 to rounds) {
      val prop = adj
        .join(dist.select(col("node").as("x"), col("dist")), "x")
        .select(col("v").as("node"), (col("dist") + 1).as("dist"))
      // per-round persist — dist is read twice per round (union + next
      // propagation), so lineage otherwise replays ~2^rounds times
      dist = dist.union(prop).groupBy(col("node")).agg(min(col("dist")).as("dist"))
        .transform(Residuals.persist)
    }
    dist
  }

  /** Strongly-connected-component membership of the minimum-id pivot in a
    * DIRECTED graph — the Fleischer/Hendrickson/Pinar forward-backward
    * kernel (the building block distributed SCC decompositions recurse on):
    * SCC(pivot) = forward-reachable(pivot) ∩ backward-reachable(pivot).
    * Directedness is the whole point — [[bfsHops]] symmetrizes and so sees
    * weakly-connected reach; this is the operator that tells a one-way
    * citation chain from a genuine cycle (link farms, circular supply
    * chains, mutual-follow cores).
    *
    * Both reachability passes are `rounds`-bounded frontier expansions
    * (min-dist semiring, same per-round shape as [[bfsHops]]: one
    * equi-join on the persisted edge relation + one min-agg), so the
    * result is exactly "the pivot's SCC restricted to members within
    * `rounds` hops each way" — a pure function of the data, which is what
    * makes it oracle-checkable; size `rounds` to the expected cycle
    * diameter. Output: (node, fw_dist, bw_dist) for members, pivot at
    * (0, 0). */
  def sccPivot(edges: DataFrame, srcCol: String, dstCol: String,
      rounds: Int): DataFrame = {
    require(rounds >= 1, "need at least one round")
    // persisted as-built BY MEASUREMENT (r17): both an a-partitioned cache
    // and a dual a/b-partitioned pair were tried and benched SLOWER on the
    // gate fixture — the rounds-bounded probe's frontier joins are
    // node-tiny, so the extra build exchange/materializations never repay;
    // at 100 TB with deep horizons revisit the partitioned twins.
    // Both reach loops run in the fixpoint session (r18): frontier joins
    // and min-aggs move node-sized relations only, and with no mid-loop
    // action the whole forward+backward expansion executes as one job
    // under AQE-off instead of ~2 stage-jobs per round per direction.
    val fx = Fixpoint.session(edges.sparkSession)
    val e = Fixpoint.lift(fx, edges
      .select(col(srcCol).cast("long").as("a"), col(dstCol).cast("long").as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
      .transform(Residuals.persist))
    val adjFw = e.select(col("a").as("x"), col("b").as("v"))
    val adjBw = e.select(col("b").as("x"), col("a").as("v"))
    val pivotRow = e.agg(least(min(col("a")), min(col("b"))).as("p")).head()
    require(!pivotRow.isNullAt(0),
      "sccPivot: no non-self-loop edges — the graph has no pivot to expand from")
    val pivot = pivotRow.getLong(0)
    // Two independent rounds-bounded frontier expansions (forward along
    // src→dst, backward along dst→src) — they share no state, so the final
    // join evaluates both 5-deep stage chains in parallel. Per-round
    // persist: dist is read twice per round (union + next propagation), so
    // lineage otherwise replays ~2^rounds times. (A folded single-frontier
    // variant tagged by direction was tried and measured SLOWER — it
    // serializes the two chains that here run concurrently.)
    def reach(adj: DataFrame): DataFrame = {
      var dist = e.sparkSession.range(1).select(lit(pivot).as("node"), lit(0L).as("dist"))
      for (_ <- 1 to rounds) {
        val prop = adj
          .join(dist.select(col("node").as("x"), col("dist")), "x")
          .select(col("v").as("node"), (col("dist") + 1).as("dist"))
        dist = dist.union(prop).groupBy(col("node")).agg(min(col("dist")).as("dist"))
          .transform(Residuals.persist)
      }
      dist
    }
    val fw = reach(adjFw)
    val bw = reach(adjBw)
    fw.select(col("node"), col("dist").as("fw_dist"))
      .join(bw.select(col("node"), col("dist").as("bw_dist")), "node")
  }

  /** FULL strongly-connected-component decomposition of a directed graph:
    * every node (endpoint of a non-self-loop edge) labeled with the MINIMUM
    * id of its SCC — [[sccPivot]] extended from one component to the whole
    * graph, so a citation/link graph decomposes completely. Orzan-style
    * forward-coloring with trimming, all color classes processed in
    * parallel per round:
    *
    *  1. TRIM to fixpoint: a remaining node with no in-edge or no out-edge
    *     inside the remaining subgraph cannot sit on a cycle — labeled a
    *     singleton SCC immediately (kills DAG tails/chains in
    *     diameter-many cheap rounds instead of one pivot each).
    *  2. COLOR to fixpoint: color(v) = min id that forward-reaches v
    *     (including v). Every color class contains its root's whole SCC.
    *  3. BACKWARD MARK to fixpoint: from every color root simultaneously,
    *     walk edges backwards WITHIN the color class; marked nodes are
    *     exactly SCC(root) — labeled and removed.
    *
    * Each outer round labels one SCC per color class plus every trimmed
    * singleton, so outer rounds are bounded by the SCC-DAG depth of the
    * graph (NOT the SCC count); both inner fixpoints are bounded by the
    * remaining subgraph's diameter. Exceeding either bound raises loudly.
    *
    * Determinism: both fixpoints are min/set monotone over integer
    * relations — a pure function of the graph, hash-exact across engines
    * (the [[pagerank]] contract). Convergence detection: Σcolor strictly
    * decreases until the coloring fixpoint — summed as decimal(38,0), NOT
    * long: hash-derived 63-bit node ids overflow a long sum at scale, and
    * a long sum is mode-dependent there (ANSI — pinned true in every graft
    * session — raises mid-fixpoint; non-ANSI wraps silently, which could
    * fake convergence). The decimal sum cannot overflow at any reachable
    * scale, so the probe is correct in EITHER mode; the mark set grows
    * until its fixpoint.
    *
    * Scale shape per inner round: one equi-join of the (node-sized)
    * color/mark relation against the persisted remaining edge relation +
    * one min/distinct aggregation — the [[bfsHops]] shape, materialized
    * by ONE job per round (lazy truncation fused with the convergence
    * probe). Any failure — including the non-convergence raises — releases
    * every live checkpoint before propagating ([[Dedup.componentsCore]]'s
    * cleanup contract). At 100 TB the edge relation dominates and is
    * touched once per inner round via its persisted partitioning; the
    * node-sized relations are the only things that move; set
    * [[Checkpoints.ReliableConf]] so generations survive executor loss. */
  def sccDecompose(edges: DataFrame, srcCol: String, dstCol: String,
      maxOuterRounds: Int = 20, maxPropRounds: Int = 60): DataFrame = {
    require(maxOuterRounds >= 1, "need at least one outer round")
    require(maxPropRounds >= 1, "need at least one propagation round")
    val spark = edges.sparkSession
    // EVERY loop-carried relation is checkpoint-truncated EAGERLY each
    // generation: persist alone caches data but keeps the logical plan,
    // and a fixpoint step whose next plan embeds the previous one two or
    // three times grows the analyzed tree EXPONENTIALLY in rounds (driver
    // OOM at any data size — measured). Checkpoint truncates the plan to
    // the cached blocks; the old generation is released only after the new
    // one is materialized.
    // truncation materializes inside the caller's probe action, so a
    // fixpoint round costs ONE job (advance + convergence probe fused)
    def advanceWith[T](old: DataFrame, next: DataFrame)(probe: DataFrame => T): (DataFrame, T) = {
      val n = Checkpoints.truncate(next, eager = false)
      // a probe failure must not strand the half-materialized generation
      val r = try probe(n) catch {
        case t: Throwable => Dedup.releaseCheckpoint(n); throw t
      }
      Dedup.releaseCheckpoint(old)
      (n, r)
    }
    // checkpointed pre-partitioned on a (r17): every trim round's a-side
    // semi-join and subE's build probe a — partitioned truncation makes the
    // edge side of those joins exchange-free every round (guide §2.4; the
    // LogicalRDD a checkpoint produces preserves outputPartitioning)
    val e = Checkpoints.truncate(edges
      .select(col(srcCol).cast("long").as("a"), col(dstCol).cast("long").as("b"))
      .filter(col("a") =!= col("b"))
      .distinct().repartition(col("a")))
    Residuals.register(() => Dedup.releaseCheckpoint(e))
    // b-partitioned twin (one cache-to-cache reshuffle): together with e's
    // a-partitioning it makes every trim round's edge joins exchange-free
    // on the edge side — trim rounds then move ONLY node-sized relations,
    // at any scale (r17)
    val eB = Checkpoints.truncate(e.repartition(col("b")))
    Residuals.register(() => Dedup.releaseCheckpoint(eB))
    var remaining = Checkpoints.truncate(e.select(col("a").as("node"))
      .union(e.select(col("b").as("node"))).distinct(), eager = false)
    var nRemaining = remaining.count() // materializes + probes in one job
    // labeled components accumulate as LIVE checkpoints and union ONCE at
    // the end (r17): re-truncating a growing labels relation every time a
    // component landed cost one eager job per append and re-copied all
    // prior labels; the deferred union is a flat plan over ≤ 2·outer
    // LogicalRDD leaves, and the generations stay alive exactly as long as
    // the result needs them (released via Residuals / the failure path)
    val comps = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    // live checkpoint handles for the failure path: any throw (including
    // the non-convergence requires) must release them or a long-lived
    // session strands their storage (Dedup.componentsCore's contract)
    var subE: DataFrame = null
    var color: DataFrame = null
    var ce: DataFrame = null
    var mark: DataFrame = null
    var trimStart: DataFrame = null
    var outer = 0
    try {
      while (nRemaining > 0) {
        outer += 1
        require(outer <= maxOuterRounds,
          s"sccDecompose: $nRemaining nodes unlabeled after $maxOuterRounds pivot " +
            "rounds — raise maxOuterRounds (bound ~ the graph's SCC-DAG depth)")
        // current subgraph = e filtered to the given remaining generation:
        // remaining shrinks monotonically, so one semi-join pair against
        // the latest generation is equivalent to the full trim cascade —
        // constant plan depth with NO per-round edge checkpoint
        def subOf(rem: DataFrame): DataFrame = e
          .join(rem.withColumnRenamed("node", "a"), Seq("a"), "left_semi")
          .join(rem.withColumnRenamed("node", "b"), Seq("b"), "left_semi")
        // cyclic (nodes with BOTH an out-edge to a remaining node and an
        // in-edge from one) ⊆ rem by construction, so it IS the next
        // remaining. Reformulated EDGE-EXCHANGE-FREE (r17): instead of
        // materializing the induced subgraph (whose b-side semi-join
        // re-shuffled the edge relation every round), probe each
        // pre-partitioned edge cache with the node-sized rem once —
        // n ∈ rem is cyclic iff n→x exists with x ∈ rem (eB probed by b)
        // and y→n exists with y ∈ rem (e probed by a). Equivalent to
        // srcs(sub) ∩ dsts(sub): an edge endpoint inside rem with its
        // other endpoint inside rem is exactly a subgraph edge. Every
        // exchange in a trim round is now node-sized, at any scale.
        def cyclicOf(rem: DataFrame): DataFrame = {
          val hasOut = eB.join(rem.withColumnRenamed("node", "b"), Seq("b"), "left_semi")
            .select(col("a").as("node")).distinct()
          val hasIn = e.join(rem.withColumnRenamed("node", "a"), Seq("a"), "left_semi")
            .select(col("b").as("node")).distinct()
          rem.join(hasOut, Seq("node"), "left_semi")
            .join(hasIn, Seq("node"), "left_semi")
        }
        // ---- 1. trim to fixpoint ----------------------------------------
        // ONE job per round (lazy cyclic + count); singleton labels are
        // derived once after the fixpoint as trimStart \ remaining
        trimStart = remaining
        val nTrimStart = nRemaining
        var trimming = true
        var it = 0
        while (trimming && nRemaining > 0) {
          it += 1
          require(it <= maxPropRounds,
            s"sccDecompose: trim did not converge in $maxPropRounds rounds")
          val cyclic = Checkpoints.truncate(cyclicOf(remaining), eager = false)
          val nCyclic = cyclic.count()
          if (nCyclic == nRemaining) {
            Dedup.releaseCheckpoint(cyclic)
            trimming = false
          } else {
            if (remaining ne trimStart) Dedup.releaseCheckpoint(remaining)
            remaining = cyclic
            nRemaining = nCyclic
          }
        }
        if (nRemaining < nTrimStart) {
          // eager: its parents (trimStart, this remaining generation) are
          // released before the final union is consumed
          val singles = Checkpoints.truncate(
            trimStart.join(remaining, Seq("node"), "left_anti")
              .select(col("node"), col("node").as("scc")))
          comps += singles
        }
        if (trimStart ne remaining) Dedup.releaseCheckpoint(trimStart)
        trimStart = null
        if (nRemaining > 0) {
          // materialize the trimmed edge set once, PRE-PARTITIONED on a —
          // the color propagation's probe key every round (r17)
          subE = Checkpoints.truncate(subOf(remaining).repartition(col("a")))
          // ---- 2. forward min-color propagation to fixpoint --------------
          // Σcolor as decimal(38,0), NOT long: with hash-derived 63-bit ids
          // a long sum overflows, and what happens then is MODE-dependent —
          // ANSI (pinned true in every graft session) raises mid-fixpoint,
          // non-ANSI wraps silently into possible false convergence. The
          // decimal sum is exact and mode-independent.
          def colorSumOf(df: DataFrame): java.math.BigDecimal =
            df.agg(sum(col("color").cast("decimal(38,0)"))).head().getDecimal(0)
          color = Checkpoints.truncate(
            remaining.select(col("node"), col("node").as("color")), eager = false)
          var colorSum = colorSumOf(color)
          var converged = false
          it = 0
          while (!converged) {
            it += 1
            require(it <= maxPropRounds,
              s"sccDecompose: coloring did not converge in $maxPropRounds rounds " +
                "— raise maxPropRounds (bound ~ log of the remaining subgraph's diameter)")
            val prop = subE
              .join(color.select(col("node").as("a"), col("color")), "a")
              .select(col("b").as("node"), col("color"))
            // pointer-jumping shortcut (r16): color(v) is a node that REACHES
            // v, and reachability is transitive, so color(color(v)) also
            // reaches v — composing the color map with itself doubles the
            // propagation horizon, turning O(diameter) rounds into
            // O(log diameter). One extra node-domain self-join per round
            // (colors are remaining-node ids, so every value has a row).
            val jump = color
              .join(color.select(col("node").as("color"), col("color").as("c2")), "color")
              .select(col("node"), col("c2").as("color"))
            val (nc, nextSum) = advanceWith(color, color.union(prop).union(jump)
              .groupBy(col("node")).agg(min(col("color")).as("color")))(colorSumOf)
            color = nc
            converged = nextSum.compareTo(colorSum) == 0 // per-node mins only decrease
            colorSum = nextSum
          }
          // ---- 3. backward mark from every color root, within the class --
          // deliberately the GROW-A-SET shape, not a min fold: the mark set
          // starts at the roots (few rows) and only ever touches marked
          // rows + one-hop fringes, so each round is far cheaper than an
          // all-class-nodes fold — and SCC diameters are small in practice,
          // so the O(log) jump that would need the fold doesn't pay here
          // (measured r16: the folded backward pass cost ~15% suite-cell
          // time on the gate fixture; the forward loop keeps its jump
          // because the forward horizon is the whole remaining subgraph).
          // class-edge relation pre-partitioned on b — the mark join's probe
          // key every round (r17)
          ce = Checkpoints.truncate(subE
            .join(color.select(col("node").as("a"), col("color").as("ca")), "a")
            .join(color.select(col("node").as("b"), col("color").as("cb")), "b")
            .filter(col("ca") === col("cb"))
            .select(col("a"), col("b"))
            .repartition(col("b")))
          mark = Checkpoints.truncate(color.filter(col("node") === col("color"))
            .select(col("node"), col("color").as("scc")), eager = false)
          var nMark = mark.count()
          converged = false
          it = 0
          while (!converged) {
            it += 1
            require(it <= maxPropRounds,
              s"sccDecompose: backward mark did not converge in $maxPropRounds rounds")
            // marked rows always carry scc == color(node) (roots by
            // definition, propagated rows inherit through same-color edges),
            // so the plain b-join cannot cross classes
            val prop = ce
              .join(mark.select(col("node").as("b"), col("scc")), "b")
              .select(col("a").as("node"), col("scc"))
            val (nm, n2) = advanceWith(mark, mark.union(prop).distinct())(_.count())
            mark = nm
            converged = n2 == nMark // the mark set only grows
            nMark = n2
          }
          val (nr, nRem) = advanceWith(remaining,
            remaining.join(mark, Seq("node"), "left_anti"))(_.count())
          remaining = nr
          nRemaining = nRem
          comps += mark // stays a live checkpoint until the result is consumed
          mark = null
          Dedup.releaseCheckpoint(ce); ce = null
          Dedup.releaseCheckpoint(color); color = null
          Dedup.releaseCheckpoint(subE); subE = null
        }
      }
    } catch {
      case t: Throwable =>
        (Seq(subE, color, ce, mark, trimStart, remaining).filter(_ ne null)
          ++ comps).foreach(Dedup.releaseCheckpoint)
        throw t
    }
    Dedup.releaseCheckpoint(remaining)
    val fin =
      if (comps.isEmpty) spark.range(0).select(col("id").as("node"), col("id").as("scc"))
      else comps.reduce(_ union _)
    comps.foreach(c => Residuals.register(() => Dedup.releaseCheckpoint(c)))
    fin
  }

  /** Hierarchy flattening by POINTER DOUBLING: every node of a parent-child
    * forest (BOM part explosions, org charts, category taxonomies, reply
    * threads) resolves to its (root, level) in O(log depth) rounds — the
    * shape that survives deep chains where the naive walk-one-level-per-
    * round join (and a recursive CTE on a single node) needs `depth`
    * passes. Each round joins the ancestor relation to itself: a pointer
    * at distance d composes with the ancestor's own pointer at distance
    * d', yielding distance d + d' — roots carry a self-pointer at distance
    * 0, so converged chains absorb. After `doublings` rounds every node
    * within depth 2^doublings is fully resolved; any node whose pointer
    * has NOT reached a root raises loudly (deeper tree than provisioned —
    * or a CYCLE, which pointer composition would otherwise inflate
    * silently forever). NULL parent and self-parent both mark roots.
    *
    * Shape: one self equi-join on the node key per round (skew-free — the
    * key is unique), log₂(depth) rounds total. Output: (node, root,
    * level). */
  def flattenHierarchy(nodes: DataFrame, idCol: String, parentCol: String,
      doublings: Int = 5): DataFrame = {
    require(doublings >= 1 && doublings <= 40, "doublings must be in [1, 40]")
    var anc = nodes.select(col(idCol).cast("long").as("node"),
      coalesce(col(parentCol).cast("long"), col(idCol).cast("long")).as("anc"))
      .withColumn("d", when(col("anc") === col("node"), 0L).otherwise(1L))
      .transform(Residuals.persist)
    val roots = anc.filter(col("d") === 0L).select(col("node").as("anc"))
    for (i <- 1 to doublings) {
      // persist each round: both sides of the next self-join read this
      // relation — unpersisted lineage would replay doubly per round
      // (exponential in doublings), the pagerank iteration contract.
      // A parent id with NO node row would silently VANISH from an inner
      // self-join (the pointer has nothing to compose with) — round 1 is
      // therefore a LEFT join with a plan-embedded raise on the unmatched
      // side (validation rides the join the loop already pays for; a
      // separate upfront distinct+join cost 3x the whole operator, r12
      // bench lesson). Rounds 2+ compose only already-validated ancestor
      // ids, so the inner join is lossless there by construction.
      val right = anc.select(col("node").as("j"), col("anc").as("anc2"), col("d").as("d2"))
      anc = (if (i == 1)
        anc.join(right, col("anc") === col("j"), "left")
          .select(col("node"),
            when(col("j").isNull,
              raise_error(concat(lit("flattenHierarchy: node "), col("node").cast("string"),
                lit(" references a parent with no node row — dangling pointer"))))
              .otherwise(col("anc2")).as("anc"),
            (col("d") + coalesce(col("d2"), lit(0L))).as("d"))
      else
        anc.join(right, col("anc") === col("j"))
          .select(col("node"), col("anc2").as("anc"), (col("d") + col("d2")).as("d")))
        .transform(Residuals.persist)
    }
    val unresolved = when(col("r").isNull,
      raise_error(concat(lit("flattenHierarchy: node "), col("node").cast("string"),
        lit(" did not reach a root — deepen doublings or break the cycle"))))
    anc.join(roots.withColumn("r", lit(1L)), Seq("anc"), "left")
      .select(col("node"), unresolved.otherwise(col("anc")).as("root"),
        col("d").as("level"))
  }

  /** Core decomposition by synchronous h-index iteration (Lü et al. 2016,
    * "The H-index of a network node"): start from `c₀(v) = deg(v)` and
    * repeat `c_{r+1}(v) = H({c_r(u) : u ∈ N(v)})`, where H is the h-index —
    * the largest h such that at least h neighbors currently score ≥ h. The
    * fixpoint of this local rule is EXACTLY the coreness (the largest k for
    * which v survives in the k-core), computed without the global peeling
    * order the sequential algorithm needs — which is what makes it a
    * shuffle-bounded distributed plan instead of a serial peel.
    *
    * `rounds` is fixed (the [[labelPropagation]]/[[hits]] contract): each
    * round is one equi-join of the adjacency against the current scores plus
    * one per-node window pass — `h = max(min(c_rank, rank))` over neighbors
    * sorted by (score desc, neighbor asc) — so the r-round state is exact
    * and oracle-expressible. Scores are monotonically non-increasing and
    * lower-bounded by coreness, so any round count is a safe upper-bound
    * estimate; convergence needs rounds proportional to the graph's
    * information-propagation radius (a spec pins fixpoint == true peeled
    * coreness on a clique-plus-tail graph).
    *
    * Scale shape: per round, one shuffle on the neighbor key and one window
    * partitioned BY NODE (never a global sort); the score relation is
    * node-domain-sized and persisted per round — both sides of the next
    * join read it, the pointer-doubling lineage contract. Returns
    * (node, coreness). */
  def coreness(edges: DataFrame, srcCol: String, dstCol: String,
      rounds: Int = 4): DataFrame = {
    require(rounds >= 1, "need at least one h-index round")
    val und = normalizedUnd(edges, srcCol, dstCol)
      .transform(Residuals.persist)
    // cached pre-partitioned on x — the score join key every round (r17);
    // h-index rounds in the fixpoint session (r18): the score relation is
    // node-sized, no mid-loop action (the per-round window's input is the
    // edge-sized neighbor join, so this one is borderline — kept on the
    // measured win of the round-18 optimisation notes, in git history)
    val fx = Fixpoint.session(edges.sparkSession)
    val adj = Fixpoint.lift(fx,
      und.select(col("a").as("w"), col("b").as("x"))
        .union(und.select(col("b").as("w"), col("a").as("x")))
        .repartition(col("x"))
        .transform(Residuals.persist))
    var c = Fixpoint.lift(fx,
      undDegrees(und).select(col("n").as("node"), col("deg").as("c"))
        .transform(Residuals.persist))
    val byScore = org.apache.spark.sql.expressions.Window
      .partitionBy(col("w")).orderBy(col("c").desc, col("x").asc)
    for (_ <- 1 to rounds) {
      c = adj
        .join(c.select(col("node").as("x"), col("c")), "x")
        .withColumn("rk", row_number().over(byScore).cast("long"))
        .groupBy(col("w").as("node"))
        .agg(max(least(col("c"), col("rk"))).as("c"))
        .transform(Residuals.persist)
    }
    c.select(col("node"), col("c").as("coreness"))
  }

  /** True coreness by sequential peeling — the O(V+E) driver-side textbook
    * algorithm, here ONLY as the spec's ground truth for [[coreness]]'s
    * fixpoint (never run at scale: it collects the whole graph). */
  private[graft] def corenessByPeeling(und: Seq[(Long, Long)]): Map[Long, Long] = {
    val adj = scala.collection.mutable.Map.empty[Long, scala.collection.mutable.Set[Long]]
    und.foreach { case (a, b) =>
      adj.getOrElseUpdate(a, scala.collection.mutable.Set.empty) += b
      adj.getOrElseUpdate(b, scala.collection.mutable.Set.empty) += a
    }
    val core = scala.collection.mutable.Map.empty[Long, Long]
    val deg = scala.collection.mutable.Map(adj.toSeq.map { case (n, s) => n -> s.size }: _*)
    var k = 0L
    while (deg.nonEmpty) {
      val peelable = deg.filter(_._2 <= k).keys.toSeq
      if (peelable.isEmpty) k += 1
      else peelable.foreach { v =>
        core(v) = k
        deg.remove(v)
        // neighbors already peeled are absent from deg — guard suffices
        adj(v).foreach { u => if (deg.contains(u)) deg(u) = deg(u) - 1 }
      }
    }
    core.toMap
  }

  /** Harmonic closeness centrality for a seed set — "how reachable is the
    * rest of the graph from here": H(seed) = Σ_{v≠seed} 1/dist(seed, v),
    * the variant that handles disconnected graphs gracefully (unreachable
    * nodes contribute exact 0 instead of poisoning the mean the classic
    * closeness formula suffers). Terms are the INTEGER `10⁶ div dist`, so
    * the centrality is an order-free integer sum — exactly comparable
    * across engines and partitionings.
    *
    * Unlike [[bfsHops]] (min-dist to the NEAREST seed), the frontier state
    * here is keyed (seed, node) — per-seed distances — so the fanout is
    * seeds × reach, which is why this is a SEED-SET operator, not an
    * all-nodes one (exact all-pairs closeness is O(n·m); sample seeds, or
    * use the hop-bounded result as the centrality estimate — `rounds`
    * bounds the horizon and makes the result a pure function of the data,
    * the sccPivot contract). Per round: one equi-join on the persisted
    * symmetrized edge relation + one min-agg, state persisted per round
    * (the pointer-doubling lineage lesson). Output per seed:
    * (seed, n_reached, harmonic_micro) — n_reached excludes the seed
    * itself. */
  def harmonicCloseness(edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, seedCol: String, rounds: Int): DataFrame = {
    require(rounds >= 1, "need at least one round")
    val e0 = edges
      .select(col(srcCol).cast("long").as("a"), col(dstCol).cast("long").as("b"))
      .filter(col("a") =!= col("b"))
    val und = e0
      .select(least(col("a"), col("b")).as("a"), greatest(col("a"), col("b")).as("b"))
      .distinct()
    // cached pre-partitioned on x — the frontier join key every round
    // (r17); per-seed frontier loop in the fixpoint session (r18):
    // (seed, node)-sized exchanges only, no mid-loop action
    val fx = Fixpoint.session(edges.sparkSession)
    val adj = Fixpoint.lift(fx,
      und.union(und.select(col("b").as("a"), col("a").as("b")))
        .select(col("a").as("v"), col("b").as("x"))
        .repartition(col("x"))
        .transform(Residuals.persist))
    var dist = Fixpoint.lift(fx,
      seeds.select(col(seedCol).cast("long").as("seed")).distinct()
        .select(col("seed"), col("seed").as("node"), lit(0L).as("dist"))
        .transform(Residuals.persist))
    for (_ <- 1 to rounds) {
      val prop = adj
        .join(dist.select(col("seed"), col("node").as("x"), col("dist")), "x")
        .select(col("seed"), col("v").as("node"), (col("dist") + 1).as("dist"))
      dist = dist.union(prop)
        .groupBy(col("seed"), col("node")).agg(min(col("dist")).as("dist"))
        .transform(Residuals.persist)
    }
    dist.filter(col("dist") > 0)
      .groupBy(col("seed"))
      .agg(count(lit(1)).as("n_reached"),
        sum(expr("1000000 div dist")).as("harmonic_micro"))
  }

  /** Bounded-round k-TRUSS peeling — the EDGE-density analog of [[kCore]]
    * (a node survives k-core by having enough neighbors; an edge survives
    * the k-truss by sitting in ≥ k−2 triangles, i.e. its endpoints share
    * enough common neighborhood). The truss isolates cohesive cores that
    * degree alone can't: a hub-and-spoke star has high core numbers but no
    * triangles, while a community clique is all triangles — the community/
    * spam-core detector on similarity and interaction graphs.
    *
    * Each round recomputes per-edge support over the SURVIVING subgraph
    * via the degeneracy-oriented triangle enumeration ([[triangles]]'
    * wedge-bound trick, O(√m) fanout per node) and drops edges below
    * k−2. Fixed `rounds` for oracle parity (the [[coreness]] contract;
    * supports only DECREASE as edges drop, so each extra round is cheaper
    * than the last); the loop-carried edge set is checkpoint-TRUNCATED per
    * round — its plan would otherwise nest one full triangle-enumeration
    * tree per round (the betweennessSeeds plan-growth lesson). Returns the
    * surviving edges with their support recomputed on the FINAL subgraph. */
  def kTruss(edges: DataFrame, srcCol: String, dstCol: String, k: Int,
      rounds: Int): DataFrame = {
    require(k >= 3, "k-truss needs k >= 3 (edges must sit in k - 2 triangles)")
    require(rounds >= 1 && rounds <= 8, "rounds in [1, 8] — fixed-round contract")
    def ck(df: DataFrame): DataFrame = {
      val c = Checkpoints.truncate(df)
      Residuals.register(() => Dedup.releaseCheckpoint(c))
      c
    }
    def support(und: DataFrame): DataFrame = {
      val deg = undDegrees(und)
      val oriented = und
        .join(deg.select(col("n").as("a"), col("deg").as("da")), "a")
        .join(deg.select(col("n").as("b"), col("deg").as("db")), "b")
        .select(
          when(col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")),
            struct(col("a").as("s"), col("b").as("t")))
            .otherwise(struct(col("b").as("s"), col("a").as("t"))).as("e"))
        .select(col("e.s").as("s"), col("e.t").as("t"))
        .transform(Residuals.persist) // three self-join legs read it per call
      val e1 = oriented.as("e1")
      val e2 = oriented.as("e2")
      val e3 = oriented.as("e3")
      e1.join(e2, col("e1.t") === col("e2.s"))
        .join(e3, col("e1.s") === col("e3.s") && col("e2.t") === col("e3.t"))
        .select(col("e1.s").as("x"), col("e1.t").as("y"), col("e2.t").as("z"))
        .select(explode(array(
          struct(least(col("x"), col("y")).as("a"), greatest(col("x"), col("y")).as("b")),
          struct(least(col("x"), col("z")).as("a"), greatest(col("x"), col("z")).as("b")),
          struct(least(col("y"), col("z")).as("a"), greatest(col("y"), col("z")).as("b")))).as("e"))
        .select(col("e.a").as("a"), col("e.b").as("b"))
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("support"))
    }
    var und = ck(normalizedUnd(edges, srcCol, dstCol))
    for (_ <- 1 to rounds) {
      und = ck(und.join(support(und), Seq("a", "b"), "left")
        .filter(coalesce(col("support"), lit(0L)) >= k - 2)
        .select(col("a"), col("b")))
    }
    und.join(support(und), Seq("a", "b"), "left")
      .select(col("a"), col("b"), coalesce(col("support"), lit(0L)).as("support"))
  }

  /** Hop-bounded multi-source WEIGHTED shortest paths (Bellman-Ford over
    * the min-plus semiring): dist(v) = cheapest weighted path from any
    * seed within `rounds` edges — the cost-propagation axis [[bfsHops]]'s
    * unit hops can't express (supply-chain latency, toll routing, weighted
    * similarity graphs). Nonnegative integer weights keep every relaxation
    * exact; a round is one equi-join on the persisted weighted edge
    * relation + one min-agg (identical shape to bfsHops, so the same
    * per-round persist contract), and `rounds` bounds the hop horizon,
    * making the result a pure function of the data (paths longer than
    * `rounds` edges are not considered — size it to the graph's weighted
    * diameter in hops). Negative weights refuse loudly (min-plus with
    * negative edges needs n−1 rounds AND cycle detection). */
  def shortestPaths(edges: DataFrame, srcCol: String, dstCol: String,
      weightCol: String, seeds: DataFrame, seedCol: String,
      rounds: Int): DataFrame = {
    require(rounds >= 1, "need at least one round")
    // cached pre-partitioned on x — the relaxation join key every round
    // (r17). Fixpoint-session execution tried and REVERTED (r18): jobs
    // 25 -> 11 but 1.16 -> 1.54 s (the bfsHops/pagerank static-SMJ shape).
    val adj = edges
      .select(col(srcCol).cast("long").as("x"), col(dstCol).cast("long").as("v"),
        col(weightCol).cast("long").as("w"))
      .filter(col("x") =!= col("v"))
      .groupBy(col("x"), col("v")).agg(min(col("w")).as("w"))
      .repartition(col("x"))
      .transform(Residuals.persist)
    require(adj.filter(col("w") < 0).isEmpty,
      "shortestPaths: negative edge weights are not supported")
    var dist = seeds.select(col(seedCol).cast("long").as("node")).distinct()
      .withColumn("dist", lit(0L))
    for (_ <- 1 to rounds) {
      val prop = adj
        .join(dist.select(col("node").as("x"), col("dist")), "x")
        .select(col("v").as("node"), (col("dist") + col("w")).as("dist"))
      dist = dist.union(prop).groupBy(col("node")).agg(min(col("dist")).as("dist"))
        .transform(Residuals.persist)
    }
    dist
  }

  /** Hop-bounded seed-set betweenness centrality (Brandes): forward BFS
    * from every seed accumulating shortest-path COUNTS σ per level, then
    * the backward dependency pass δ(u) = Σ_w σ_u·(1e6 + δ_w) div σ_w over
    * shortest-path-DAG edges (w one level deeper) — each term is a
    * truncating integer division quantized BEFORE the order-free sum, so
    * the whole centrality is a pure integer function of the graph (the
    * documented fixed-point quantization of Brandes' σu/σw·(1+δw)).
    * bc_micro(v) = Σ over seeds s≠v of δ_s(v) — the bridge/bottleneck
    * centrality [[harmonicCloseness]]'s reach-sum can't see (a node on
    * every shortest path scores high even with average distance).
    *
    * Seed-set + hop bound make it O(seeds × reach) like harmonicCloseness
    * — exact all-pairs betweenness is O(n·m) by definition; sample seeds.
    * Per round (both directions): one equi-join against the persisted
    * edge relation + one grouped sum; levels persist per round, `rounds`
    * ≤ 8 keeps the linear plan growth in bfsHops territory. σ fits a
    * long for any graph whose per-level path multiplicity stays below
    * ~2^50 — true for bounded-degree graphs at these hop counts;
    * σ-overflow on adversarial dense graphs would need bigint σ.
    *
    * The frontier/visited/delta relations broadcast only while the
    * accumulated visited set stays under `maxBroadcastRows` (counts are
    * free — every level is checkpoint-materialized anyway); past the cap
    * the joins fall back to shuffles, trading round latency for driver
    * safety on high-seed-count × high-reach graphs (r14 ADVICE: the
    * unconditional hint would ship a seeds×reach relation to the
    * driver). */
  def betweennessSeeds(edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, seedCol: String, rounds: Int,
      maxBroadcastRows: Long = 10000000L): DataFrame = {
    require(rounds >= 1 && rounds <= 8,
      "rounds in [1, 8] — plan depth grows linearly per hop")
    // cached pre-partitioned on u — both the forward expansion and the
    // dependency back-propagation probe the edge relation on its renamed
    // u side every round (r17)
    val e = edges
      .select(col(srcCol).cast("long").as("u"), col(dstCol).cast("long").as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .repartition(col("u"))
      .transform(Residuals.persist)
    val s0 = seeds.select(col(seedCol).cast("long").as("s")).distinct()
    // loop-carried frames are checkpoint-TRUNCATED, not just persisted:
    // level r's plan embeds the visited union of ALL prior levels, so the
    // logical tree grows exponentially in rounds — execution is deduped by
    // the cache but analysis/rendering is O(tree) (measured: 17 s of
    // TreeNode.generateTreeString at sf0.1 with persist-only). Truncation
    // keeps every plan one join deep. (The sccDecompose lesson, applied to
    // a fixed-round loop.)
    def ck(df: DataFrame): DataFrame = {
      val c = Checkpoints.truncate(df)
      Residuals.register(() => Dedup.releaseCheckpoint(c))
      c
    }
    var levels = Vector(
      ck(s0.select(col("s"), col("s").as("node"), lit(1L).as("sigma"))))
    var visited = levels(0).select(col("s"), col("node"))
    var visitedRows = levels(0).count()
    // the frontier/visited/delta relations are seed-set-sized by the
    // operator's contract — broadcast them explicitly while they fit
    // (persisted frames carry no stats, so AQE would SMJ these tiny sides
    // against the persisted edge relation every round); counts come off
    // checkpoint-materialized frames, so tracking the size is one cheap
    // cached scan per round
    def maybeBcast(df: DataFrame): DataFrame =
      if (visitedRows <= maxBroadcastRows) broadcast(df) else df
    for (_ <- 1 to rounds) {
      val cand = levels.last
        .join(e.withColumnRenamed("u", "node"), Seq("node"))
        .groupBy(col("s"), col("v").as("node"))
        .agg(sum(col("sigma")).as("sigma"))
      val nf = ck(cand.join(maybeBcast(visited), Seq("s", "node"), "left_anti")
        .select(col("s"), col("node"), col("sigma")))
      levels = levels :+ nf
      visited = visited.union(nf.select(col("s"), col("node")))
      visitedRows += nf.count()
    }
    var deltas = Vector.fill[DataFrame](rounds + 1)(null)
    deltas = deltas.updated(rounds, levels(rounds).withColumn("delta", lit(0L)))
    // (level r is already truncated; the zero-delta projection stays shallow)
    for (r <- (rounds - 1) to 0 by -1) {
      val next = deltas(r + 1).select(col("s"), col("node").as("w"),
        col("sigma").as("sigma_w"), col("delta").as("delta_w"))
      val contrib = levels(r)
        .join(e.withColumnRenamed("u", "node").withColumnRenamed("v", "w"), Seq("node"))
        .join(maybeBcast(next), Seq("s", "w"))
        .select(col("s"), col("node"),
          expr("sigma * (1000000 + delta_w) div sigma_w").as("term"))
        .groupBy(col("s"), col("node")).agg(sum(col("term")).as("dsum"))
      deltas = deltas.updated(r,
        ck(levels(r).join(maybeBcast(contrib), Seq("s", "node"), "left")
          .select(col("s"), col("node"), col("sigma"),
            coalesce(col("dsum"), lit(0L)).as("delta"))))
    }
    deltas.map(_.select(col("s"), col("node"), col("delta")))
      .reduce(_ unionByName _)
      .filter(col("node") =!= col("s"))
      .groupBy(col("node")).agg(sum(col("delta")).as("bc_micro"))
  }

  /** Deterministic random-walk corpus (DeepWalk/node2vec's data step): one
    * `walkLen`-step walk from every node, where step k from node v picks
    * neighbor number `md5(start:seed:k:v) mod outdeg(v)` in dst order — a
    * seeded hash draw instead of an RNG, so the walk corpus is a pure
    * function of the graph (reproducible across runs AND engines; the
    * weightedSample hash-priority precedent applied to graph traversal).
    * Dead-end nodes simply end their walk (inner degree join).
    *
    * Shape: neighbor ranks materialize once (row_number per src — the
    * standard adjacency-with-rank relation, persisted); each step is ONE
    * equi-join of the walk frontier against it on (node, rank) — never a
    * fan-out over the neighborhood, because the rank to fetch is computed
    * BEFORE the join. walkLen is a fixed small constant (≤ 16 enforced) so
    * linear plan growth stays in bfsHops territory; the output is
    * walkLen+1 frontier generations unioned. */
  def randomWalks(edges: DataFrame, srcCol: String, dstCol: String,
      walkLen: Int = 5, seed: Long = 42L): DataFrame = {
    require(walkLen >= 1 && walkLen <= 16,
      "walkLen in [1, 16] — each step adds one join to the plan")
    val e = edges
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .distinct()
    val perSrc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("src")).orderBy(col("dst"))
    // The per-step join keys on (node, idx) BOTH — and co-partitioning
    // requires ALL join keys as the hash keys
    // (spark.sql.requireAllClusterKeysForCoPartition, default true), so
    // the node-partitioned window output was RE-EXCHANGED by (node, idx)
    // every step: walkLen edge-relation shuffles per query (r17 "not yet
    // optimized" #3). Persisting the ranked adjacency PRE-PARTITIONED on
    // (node, idx) makes the edge side of every step join exchange-free;
    // only the walk frontier (one row per start node) moves per step.
    val rankedC = e
      .withColumn("idx", row_number().over(perSrc).cast("long"))
      .select(col("src").as("node"), col("idx"), col("dst"))
      .repartition(col("node"), col("idx"))
      .transform(Residuals.persist)
    val degsC = rankedC.groupBy(col("node")).agg(count(lit(1)).as("deg"))
      .transform(Residuals.persist)
    // walk steps in the fixpoint session (r18): the frontier is node-sized,
    // there is no mid-loop action, and the walkLen-deep join chain
    // executes as one job with AQE off — see [[Fixpoint]]
    val fx = Fixpoint.session(edges.sparkSession)
    val ranked = Fixpoint.lift(fx, rankedC)
    val degs = Fixpoint.lift(fx, degsC)
    var cur = degs.select(col("node").as("start"), lit(0L).as("step"), col("node"))
    var out = cur
    for (k <- 1 to walkLen) {
      cur = cur
        .join(degs, Seq("node"))
        .withColumn("idx", expr(
          s"CAST(conv(substring(md5(concat(CAST(start AS STRING), ':$seed:$k:', " +
            "CAST(node AS STRING))), 1, 15), 16, 10) AS BIGINT) % deg + 1"))
        .join(ranked, Seq("node", "idx"))
        .select(col("start"), lit(k.toLong).as("step"), col("dst").as("node"))
      out = out.unionByName(cur)
    }
    out
  }
}
