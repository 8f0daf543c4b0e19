package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Iterative graph operators — the reference's PageRank pipeline
  * (its only iterative / graph-shaped workload), Spark-first.
  *
  * Reference semantics (cited, not copied):
  *  - step 1 adjacency build: Step1Mapper.java:27-30, Step1Reducer.java:18-27
  *  - step 2 contribution + damping (1-d) + d*Σ: Step2Mapper.java:30-38,
  *    Step2Reducer.java:17-42; driver loop PageRank.java:33-96
  *  - step 3 global desc sort by rank: Step3Mapper.java:78-94,
  *    SortFloatComparator.java:17-22
  *
  * Two deliberate departures from the reference, both for scale:
  *  1. Convergence is a joined scalar L1 diff (one aggregated long back to
  *     the driver per iteration), NOT the reference's read-the-entire-rank-
  *     file-into-a-driver-HashMap (PageRank.java:196-216) — that driver
  *     round-trip is O(|V|) driver memory and dies at 100 TB.
  *  2. Arithmetic is 10^12 fixed-point int64, not float. Float summation is
  *     order-dependent, so ranks would differ between partition layouts
  *     (and between engines). Integer math is exact and order-independent:
  *     the same input graph yields bit-identical ranks on 1 core or 1000
  *     executors — and in the DuckDB oracle. share = rank div outdeg;
  *     rank' = (1-d)*S + (d_pct * Σshare) div 100. Headroom: the damped
  *     term computes d_pct·Σshare BEFORE the div, and in the worst case
  *     (star graph funneling all mass to one node) Σshare ≈ |V|·Scale,
  *     so 85·|V|·10^12 < 2^63 bounds the safe worst-case at |V| ≈ 10^5.
  *     Graphs with non-pathological in-degree mass (no node receiving a
  *     constant fraction of total rank) support ~10^6+; for larger
  *     graphs lower Scale (every power of 10 buys 10× more nodes).
  *     Past-headroom graphs FAIL LOUDLY, never wrap: the session contract
  *     pins ANSI mode (GraftSession.configure), so the damped
  *     multiplication throws ARITHMETIC_OVERFLOW the moment any node's
  *     in-mass exceeds the bound — spec-pinned with a 130k-spoke star
  *     graph in GraphOpsSpec.
  */
object GraphOps {

  /** Fixed-point scale: 1 rank unit = 10^12. */
  val Scale: Long = 1000000000000L

  /** Largest id span for which the encoded int64 pair key
    * a·idSpan + b is overflow-free: the worst value is idSpan² − 1,
    * so idSpan must stay ≤ floor(√(2^63)) = 3037000498. Graphs with
    * larger ids (snowflake-style 64-bit) take the two-column-key
    * branch in [[triangleKernel]] / [[linkPredict]] instead of
    * throwing under the ANSI contract.
    */
  private[graft] val EncodedPairMaxSpan: Long = 3037000498L

  /** Broadcast budget in bytes = the session's
    * `spark.sql.autoBroadcastJoinThreshold` (honors "10MB"-style byte
    * strings and the -1 disable sentinel). The graph operators size their
    * per-node vectors against THIS, so turning broadcasts down/off for a
    * cluster turns the graph loops' broadcasts down/off with it.
    */
  private[graft] def broadcastBudget(spark: org.apache.spark.sql.SparkSession): Long = {
    val raw = spark.conf
      .get("spark.sql.autoBroadcastJoinThreshold", "10MB").trim
    if (raw.startsWith("-")) -1L
    else org.apache.spark.network.util.JavaUtils.byteStringAsBytes(raw)
  }

  /** Adaptive broadcast guard shared by every graph loop: a per-node
    * int64 vector (node + payload ≈ `bytesPerRow`) is broadcast only if
    * `rows × bytesPerRow` fits the session broadcast budget. `explicit`
    * (the per-operator `bcast*` parameter) always wins when supplied —
    * the caller who KNOWS the graph shape keeps the override — but the
    * default no longer assumes the vector fits: a 10^9-node graph now
    * selects the shuffled plan automatically instead of dying at plan
    * time on a ~16 GB broadcast. `rows` is the vector's row count: in the
    * iterative loops it is observed on the job that checkpointed the
    * vector ([[checkpointRound]]), elsewhere it is one aggregated count
    * of the persisted vector; it is not evaluated when `explicit` is set.
    */
  private[graft] def decideBroadcast(explicit: Option[Boolean], rows: => Long,
                                     budget: Long,
                                     bytesPerRow: Long = 16L): Boolean =
    explicit.getOrElse(budget > 0 && rows * bytesPerRow <= budget)

  /** One graph-loop round as ONE Spark action: `frame` is eagerly
    * localCheckpointed under `Dataset.observe`, so the scalars the
    * driver needs from the round (its row count for the next broadcast
    * guard, a normalizing max, a convergence count) arrive from the
    * same job instead of a second action over the checkpoint. Then
    * `superseded` (a checkpoint returned here earlier, or a persisted
    * frame) is released: the round that read it is now materialized.
    * Returns the checkpointed frame and the observed int64 scalars —
    * the row count at index 0, then `scalars` in order.
    */
  private def checkpointRound(frame: DataFrame, superseded: Option[DataFrame],
                              scalars: Column*): (DataFrame, IndexedSeq[Long]) = {
    val obs = Observation()
    val named = (count(lit(1)) +: scalars).zipWithIndex
      .map { case (c, i) => c.as(s"s$i") }
    val cp = frame.observe(obs, named.head, named.tail: _*)
      .localCheckpoint(true)
    superseded.foreach(release)
    val got = obs.get
    (cp, named.indices.map(i => got(s"s$i").asInstanceOf[Long]))
  }

  /** Free a frame a loop pinned. A localCheckpoint has no CacheManager
    * entry, so its blocks are dropped through the checkpointed RDD
    * under its plan; anything else is a persisted frame.
    */
  private def release(df: DataFrame): Unit = df.queryExecution.logical match {
    case r: LogicalRDD => r.rdd.unpersist(blocking = false)
    case _ => df.unpersist()
  }

  /** Distinct endpoints of the edge list. */
  def nodes(edges: DataFrame): DataFrame =
    edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node")))
      .distinct()

  /** Deterministic synthetic edge list from lineitem (FIXTURES.md §C):
    * src = l_orderkey mod m, dst = l_partkey mod m, self-loops dropped.
    */
  def edgesFromLineitem(lineitem: DataFrame, mod: Int = 997): DataFrame =
    lineitem.select(
        (col("l_orderkey") % mod).as("src"),
        (col("l_partkey") % mod).as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()

  /** Deterministic synthetic WEIGHTED directed edge list from lineitem —
    * the [[edgesFromLineitem]] discipline with a data-derived weight
    * column: w = min(l_linenumber) over the rows collapsing to each
    * (src, dst) pair. Integer min is order-independent and identical in
    * DuckDB, so weighted-graph oracles replay the same derivation.
    */
  def weightedEdgesFromLineitem(lineitem: DataFrame, mod: Int): DataFrame =
    lineitem.select(
        (col("l_orderkey") % mod).as("src"),
        (col("l_partkey") % mod).as("dst"),
        col("l_linenumber"))
      .filter(col("src") =!= col("dst"))
      .groupBy("src", "dst").agg(min("l_linenumber").cast("long").as("w"))

  /** Nodes with no incoming edges — their rank is the damping base every
    * iteration, so it is computed ONCE and unioned in per step instead of
    * left-joining the whole node set against the contribution sums.
    */
  private def noInNodes(edges: DataFrame): DataFrame =
    nodes(edges).join(edges.select(col("dst").as("node")).distinct(),
      Seq("node"), "left_anti")

  /** One PageRank iteration: explode contributions along edges, re-sum per
    * target, apply damping. `ew` = edges with outdegree attached; `noIn` =
    * precomputed nodes without in-edges (their rank is the constant
    * damping base — unioned in, no join). `bcastRanks` broadcasts the rank
    * vector into the edge join — the right plan whenever |V| fits an
    * executor (the rank table is 16 B/node; even 10^8 nodes ≈ 1.6 GB), so
    * the big edge table never shuffles for the join and the only exchange
    * per iteration is the contribution re-aggregation keyed on dst. For
    * graphs whose rank vector exceeds broadcast budget, pass false to
    * fall back to a shuffled join. Vs the previous formulation (left-join
    * of the full node set against broadcast sums) this removes one
    * broadcast barrier and one join per iteration.
    */
  private def step(ew: DataFrame, noIn: DataFrame, ranks: DataFrame,
                   dampPct: Int, bcastRanks: Boolean): DataFrame = {
    val r = if (bcastRanks) broadcast(ranks) else ranks
    val base = (100L - dampPct) * (Scale / 100)
    val contrib = ew.join(r, ew("src") === r("node"))
      .select(ew("dst").as("node"), expr("rank_fp div deg").as("share"))
    contrib.groupBy("node").agg(sum("share").as("c"))
      .select(col("node"),
        (lit(base) + expr(s"($dampPct * c) div 100")).as("rank_fp"))
      .union(noIn.select(col("node"), lit(base).as("rank_fp")))
  }

  /** Fixed-iteration PageRank (deterministic, oracle-checkable).
    * Output: (node, rank_fp: int64 fixed-point, rank: double), globally
    * sorted rank desc — the reference's step-3 contract.
    *
    * The rank lineage is cut with a persist every `persistEvery`
    * iterations: a deeply nested unmaterialized chain of broadcast-join
    * steps makes every replan/re-optimization pass over the whole chain
    * (measured 2-3× slower end-to-end at 10 deep), and on a real cluster
    * unbounded lineage is a failure-recovery hazard. The cached rank
    * vector is |V| rows — 16 B/node — so the segments are cheap to hold.
    */
  def pageRankFixed(edges: DataFrame, iters: Int, dampPct: Int = 85,
                    bcastRanks: Option[Boolean] = None,
                    persistEvery: Int = 3): DataFrame = {
    require(iters >= 1 && dampPct >= 0 && dampPct <= 100 && persistEvery >= 1)
    val e = edges
    val deg = e.groupBy("src").agg(count(lit(1)).as("deg"))
    // Reused every iteration — persist so the scan+distinct+join runs once.
    val ew = e.join(deg, "src").persist(StorageLevel.MEMORY_AND_DISK)
    val noIn = noInNodes(e).persist(StorageLevel.MEMORY_AND_DISK)
    val n0 = nodes(e).persist(StorageLevel.MEMORY_AND_DISK)
    // |V| is constant across iterations, so the broadcast-vs-shuffle
    // decision is made ONCE from one aggregated count of the node set.
    val bc = decideBroadcast(bcastRanks, n0.count(),
      broadcastBudget(e.sparkSession))
    var ranks = n0.select(col("node"), lit(Scale).as("rank_fp"))
    for (i <- 1 to iters) {
      ranks = step(ew, noIn, ranks, dampPct, bc)
      if (i % persistEvery == 0 && i < iters)
        ranks = ranks.persist(StorageLevel.MEMORY_AND_DISK)
    }
    ranks.select(col("node"), col("rank_fp"),
        (col("rank_fp").cast("double") / lit(Scale.toDouble)).as("rank"))
      .orderBy(col("rank_fp").desc, col("node"))
  }

  /** PageRank WARM-STARTED from a persisted rank vector — the
    * incremental-graph companion to [[pageRankFixed]] and the graph
    * tier's entry in the persisted-artifact family: a nightly batch
    * appends edges, re-ranking runs a few rounds from yesterday's
    * persisted vector over the grown edge set instead of the full
    * budget from scratch (on power-law graphs a handful of warm rounds
    * re-converges the mass the new edges move; the full-rebuild cadence
    * is periodic, exactly like the dedup index's snapshot re-mine).
    * Nodes absent from the prior (brand-new pages) start at the cold
    * init [[Scale]]. Same int64 fixed-point per-round contract, so the
    * result is bit-identical to unrolling base-rounds + warm-rounds —
    * which is what the oracle replays. One keyed exchange per round.
    */
  def pageRankWarmStart(edges: DataFrame, prior: DataFrame, iters: Int,
                        dampPct: Int = 85,
                        bcastRanks: Option[Boolean] = None,
                        persistEvery: Int = 3): DataFrame = {
    require(iters >= 1 && dampPct >= 0 && dampPct <= 100 && persistEvery >= 1)
    val e = edges
    val deg = e.groupBy("src").agg(count(lit(1)).as("deg"))
    val ew = e.join(deg, "src").persist(StorageLevel.MEMORY_AND_DISK)
    val noIn = noInNodes(e).persist(StorageLevel.MEMORY_AND_DISK)
    val n0 = nodes(e).persist(StorageLevel.MEMORY_AND_DISK)
    val bc = decideBroadcast(bcastRanks, n0.count(),
      broadcastBudget(e.sparkSession))
    var ranks = n0.join(prior.select("node", "rank_fp"), Seq("node"), "left")
      .select(col("node"),
        coalesce(col("rank_fp"), lit(Scale)).as("rank_fp"))
    for (i <- 1 to iters) {
      ranks = step(ew, noIn, ranks, dampPct, bc)
      if (i % persistEvery == 0 && i < iters)
        ranks = ranks.persist(StorageLevel.MEMORY_AND_DISK)
    }
    ranks.select(col("node"), col("rank_fp"),
        (col("rank_fp").cast("double") / lit(Scale.toDouble)).as("rank"))
      .orderBy(col("rank_fp").desc, col("node"))
  }

  /** Weighted PageRank over a general DIRECTED weighted edge list
    * (src, dst, w: int64 > 0) — the companion to [[ssspWeighted]] on the
    * same real-user graph shape: weights arrive as a COLUMN, not a
    * synthesized function. Each node's rank splits across its out-arcs
    * proportionally to weight: share(u→v) = (rank_fp(u) · w) div
    * wdeg(u), wdeg = Σ outgoing w — integer arithmetic throughout, so
    * ranks stay bit-identical across partitionings and engines (the
    * [[pageRankFixed]] discipline; with uniform weights the two
    * operators coincide, spec-pinned).
    *
    * Scale shape is [[pageRankFixed]]'s exactly: the rank vector
    * (16 B/node) broadcasts into the edge join under the adaptive guard
    * — the weighted edge list itself never shuffles for the join; the
    * only per-iteration exchange is the contribution re-aggregation
    * keyed on dst. Lineage is persist-cut every `persistEvery` rounds.
    *
    * Headroom: the share numerator is rank_fp·w BEFORE the div, so the
    * worst case tightens from the unweighted bound by max(w):
    * max(w)·|V|·Scale < 2^63. Enforced with one aggregated max at
    * entry (BigInt check — the guard itself cannot overflow); ANSI mode
    * still backstops any in-loop concentration overflow loudly.
    */
  def pageRankWeighted(wEdges: DataFrame, iters: Int, dampPct: Int = 85,
                       bcastRanks: Option[Boolean] = None,
                       persistEvery: Int = 3): DataFrame = {
    require(iters >= 1 && dampPct >= 0 && dampPct <= 100 && persistEvery >= 1)
    val wdeg = wEdges.groupBy("src").agg(sum("w").as("wdeg"))
    val ew = wEdges.join(wdeg, "src").persist(StorageLevel.MEMORY_AND_DISK)
    val noIn = noInNodes(wEdges).persist(StorageLevel.MEMORY_AND_DISK)
    val n0 = nodes(wEdges).persist(StorageLevel.MEMORY_AND_DISK)
    val nNodes = n0.count()
    val maxW = wEdges.agg(max("w")).head().getLong(0)
    require(maxW >= 1, s"edge weights must be positive (max=$maxW)")
    require(BigInt(maxW) * nNodes * Scale < BigInt(Long.MaxValue),
      s"max(w)=$maxW at |V|=$nNodes exceeds int64 fixed-point headroom; " +
        "lower GraphOps.Scale or rescale weights")
    val bc = decideBroadcast(bcastRanks, nNodes, broadcastBudget(wEdges.sparkSession))
    val base = (100L - dampPct) * (Scale / 100)
    var ranks = n0.select(col("node"), lit(Scale).as("rank_fp"))
    for (i <- 1 to iters) {
      val r = if (bc) broadcast(ranks) else ranks
      val contrib = ew.join(r, ew("src") === r("node"))
        .select(ew("dst").as("node"), expr("(rank_fp * w) div wdeg").as("share"))
      ranks = contrib.groupBy("node").agg(sum("share").as("c"))
        .select(col("node"),
          (lit(base) + expr(s"($dampPct * c) div 100")).as("rank_fp"))
        .union(noIn.select(col("node"), lit(base).as("rank_fp")))
      if (i % persistEvery == 0 && i < iters)
        ranks = ranks.persist(StorageLevel.MEMORY_AND_DISK)
    }
    ranks.select(col("node"), col("rank_fp"),
        (col("rank_fp").cast("double") / lit(Scale.toDouble)).as("rank"))
      .orderBy(col("rank_fp").desc, col("node"))
  }

  /** Connected components by min-label propagation — the dedup-cluster
    * primitive: near-dup PAIRS (from MinHash/SimHash/embedding LSH) become
    * CLUSTERS, and each cluster's minimum doc id is the canonical
    * representative a curation pipeline keeps.
    *
    * Per iteration every node takes the min of its own label and its
    * neighbors' labels; the fixed point assigns every node its
    * component's minimum id — a property of the graph only, independent
    * of iteration count or partitioning, so the result is deterministic
    * and oracle-checkable (DuckDB recursive CTE computes the same min
    * reachable id). Convergence is a driver-side scalar (count of
    * changed labels), same pattern as pageRankConverged — no per-node
    * driver state.
    *
    * Iterations needed = component diameter: near-dup clusters are
    * near-cliques (diameter 1-2), so 3-4 rounds close. For graphs with
    * long chains swap in star-contraction (doubles label reach per
    * round); the join/agg shape below is unchanged. If `maxIters` is
    * exhausted before the fixed point the op THROWS instead of returning
    * silently-wrong labels (a diameter-49 chain is already pathological
    * for near-dup data; raise maxIters or contract stars for such
    * graphs).
    *
    * `edges`: (a, b) undirected pairs. Output: (node, cluster) for every
    * node appearing in an edge. The label table is 16 B/node — broadcast
    * into the edge join for the same reason as the PageRank rank vector.
    */
  def connectedComponents(edges: DataFrame, maxIters: Int = 50,
                          bcastLabels: Option[Boolean] = None): DataFrame = {
    // Persist the input FIRST: the bidirectional union references the
    // edge subplan twice, and when edges are themselves the output of an
    // expensive pipeline (MinHash pair generation) each branch would
    // re-run it end-to-end.
    val e = edges.persist(StorageLevel.MEMORY_AND_DISK)
    val und = e.select(col("a").as("u"), col("b").as("v"))
      .union(e.select(col("b").as("u"), col("a").as("v")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var lbl = und.select(col("u").as("node")).distinct()
      .select(col("node"), col("node").as("cluster"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // |V| is fixed for the whole propagation — one count decides the path.
    val bc = decideBroadcast(bcastLabels, lbl.count(),
      broadcastBudget(edges.sparkSession))
    var pinned = lbl
    var it = 0
    var converged = false
    while (it < maxIters && !converged) {
      val l = if (bc) broadcast(lbl) else lbl
      val nbrMin = und.join(l, und("u") === l("node"))
        .groupBy(und("v").as("node")).agg(min("cluster").as("nmin"))
      // localCheckpoint (eager) truncates the LOGICAL lineage each round:
      // with persist alone the analyzed plan still nests every earlier
      // iteration, so planning + cache-lookup cost grows per round
      // (measured 0.7→1.1→2.3 s/iter; flat ~0.4 s with checkpointing).
      // The label table is |V| rows, so the checkpointed state is tiny;
      // on a cluster where executor loss matters, swap in reliable
      // checkpoint(), same call site.
      // prev rides the update row, so the convergence count is observed
      // on the checkpoint job itself — no per-round next ⋈ lbl join and
      // no second action.
      val (next, stats) = checkpointRound(lbl.join(nbrMin, Seq("node"), "left")
        .select(col("node"),
          least(col("cluster"), coalesce(col("nmin"), col("cluster"))).as("cluster"),
          col("cluster").as("prev")),
        Some(pinned), count(when(col("cluster") =!= col("prev"), 1)))
      pinned = next
      lbl = next.select("node", "cluster")
      it += 1
      converged = stats(1) == 0L
    }
    // The final labels are checkpoint-backed, so the inputs can be freed
    // here instead of leaking cache entries for the session's lifetime.
    und.unpersist()
    e.unpersist()
    if (!converged) throw new IllegalStateException(
      s"connectedComponents did not converge in $maxIters iterations " +
        "(component diameter exceeds maxIters); raise maxIters or " +
        "pre-contract long chains")
    lbl
  }

  /** Community detection by synchronous label propagation (LPA) — the
    * mode-label sibling of [[connectedComponents]]: where CC takes the
    * MIN of neighbor labels (yielding reachability classes), LPA takes
    * the PLURALITY label over the closed neighborhood {self} ∪
    * neighbors, so densely interconnected groups lock onto one label
    * while sparse bridges between them don't carry it over — the
    * standard near-linear community baseline (Raghavan et al. 2007).
    *
    * Determinism (the property plain LPA lacks): updates are
    * synchronous (every node recomputes from the SAME previous label
    * vector — no sequential/random order), and the plurality election
    * is totally ordered by (count desc, label asc) via one min(struct)
    * aggregate. Including the self-label both regularizes oscillation
    * (the lazy-dynamics trick) and makes round 0 well-defined. The
    * fixed point is a function of the graph alone, so a DuckDB oracle
    * replays the identical rounds; runs past the fixed point are
    * no-ops, which is what lets the oracle unroll a fixed round count
    * ≥ the convergence round ([[ssspWeighted]]'s contract). If
    * `maxRounds` arrives before the fixed point the op THROWS — never
    * silently-wrong communities (the [[connectedComponents]]
    * discipline).
    *
    * Scale shape, per round: the label vector (16 B/node) broadcasts
    * into the symmetric-edge join under the adaptive guard
    * ([[decideBroadcast]]) — the edge list never shuffles for it; the
    * candidate counts and plurality election are two node-keyed int64
    * aggs; convergence is one aggregated driver-side scalar; lineage
    * is cut per round with eager localCheckpoint. Rounds are
    * O(community mixing time) — small for the cohesive groups LPA
    * targets.
    *
    * Input: directed edge list (src, dst); de-duplicated undirected
    * internally, self-loops dropped. Output: (node, community) for
    * every node with ≥ 1 edge.
    */
  def labelPropagation(edges: DataFrame, maxRounds: Int = 20,
                       bcastLabels: Option[Boolean] = None): DataFrame = {
    require(maxRounds >= 1)
    val e = edges.filter(col("src") =!= col("dst"))
    val sym = e.select(col("src").as("u"), col("dst").as("v"))
      .union(e.select(col("dst").as("u"), col("src").as("v")))
      .distinct()
      .localCheckpoint(true)
    val (lbl0, init) = checkpointRound(sym.select(col("u").as("node")).distinct()
      .select(col("node"), col("node").as("community")), None)
    var pinned = lbl0
    var lbl = lbl0
    val bc = decideBroadcast(bcastLabels, init(0),
      broadcastBudget(edges.sparkSession))
    var round = 0
    var converged = false
    while (round < maxRounds && !converged) {
      round += 1
      val l = if (bc) broadcast(lbl) else lbl
      // Closed-neighborhood label multiset: one row per (neighbor
      // label arriving over an edge) plus the node's own label.
      // The self-vote row carries the node's previous label through
      // both aggregation levels (exactly one non-null prev per node),
      // so the convergence count is observed on the checkpoint job —
      // no per-round next ⋈ lbl join, no second action. Vote counts
      // and the election are unchanged.
      val cand = sym.join(l, sym("u") === l("node"))
        .select(sym("v").as("node"), l("community"),
          lit(null).cast("long").as("prev"))
        .union(lbl.select(col("node"), col("community"),
          col("community").as("prev")))
        .groupBy("node", "community")
        .agg(count(lit(1)).as("c"), max("prev").as("prev"))
      // Plurality election, totally ordered: min over (-count, label)
      // structs ≡ (count desc, label asc) — one agg, no window.
      val (next, stats) = checkpointRound(cand
        .groupBy("node").agg(min(struct((-col("c")).as("nc"),
          col("community").as("community"))).as("m"),
          max("prev").as("prev"))
        .select(col("node"), col("m.community").as("community"), col("prev")),
        Some(pinned), count(when(col("community") =!= col("prev"), 1)))
      pinned = next
      lbl = next.select("node", "community")
      converged = stats(1) == 0L
    }
    release(sym)
    if (!converged) throw new IllegalStateException(
      s"labelPropagation did not reach a fixed point in $maxRounds rounds; " +
        "raise maxRounds (or the graph oscillates beyond the lazy damping)")
    lbl
  }

  /** WEIGHTED label propagation — [[labelPropagation]] with the vote
    * multiset weighted by edge weight (the q_pagerank_weighted /
    * q_sssp_weighted user-graph shape: weights arrive as a COLUMN):
    * label score at a node = Σ w over incident edges carrying that
    * label, plus the self-label at weight 1 (the same lazy-damping
    * regularizer), elected by the (score desc, label asc) total order.
    * Directed input (src, dst, w) is collapsed to an undirected simple
    * weighted graph — min(w) per unordered pair, the engine-portable
    * collapse [[weightedEdgesFromLineitem]] pins. Same broadcast and
    * lineage-cut discipline as the unweighted op.
    *
    * FIXED-ROUND contract, not fixpoint-or-throw: under weighted
    * votes the unit self-vote no longer damps simultaneous swaps, and
    * synchronous weighted LPA settles into stable 2-cycles on sparse
    * graphs (measured on the fixture: changed-count constant forever;
    * parity-alternating updates merely move the cycle inside each
    * parity class). The ecosystem's answer is the same one GraphX /
    * GraphFrames ship: run exactly `rounds` synchronous rounds and
    * return that state — fully deterministic (total-order election,
    * no RNG), so a DuckDB oracle unrolling the same `rounds` lands on
    * the identical labeling whether or not a fixed point exists. The
    * unweighted [[labelPropagation]] keeps its stronger
    * fixpoint-or-throw contract (unit votes + lazy damping converge
    * there, spec-pinned).
    */
  def labelPropagationWeighted(wEdges: DataFrame, rounds: Int = 10,
                               bcastLabels: Option[Boolean] = None): DataFrame = {
    require(rounds >= 1)
    val und = wEdges.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"), col("w"))
      .groupBy("a", "b").agg(min("w").as("w"))
    val sym = und.select(col("a").as("u"), col("b").as("v"), col("w"))
      .union(und.select(col("b").as("u"), col("a").as("v"), col("w")))
      .localCheckpoint(true)
    var lbl = sym.select(col("u").as("node")).distinct()
      .select(col("node"), col("node").as("community"))
      .localCheckpoint(true)
    val bc = decideBroadcast(bcastLabels, lbl.count(),
      broadcastBudget(wEdges.sparkSession))
    for (_ <- 1 to rounds) {
      val l = if (bc) broadcast(lbl) else lbl
      val cand = sym.join(l, sym("u") === l("node"))
        .select(sym("v").as("node"), l("community"), sym("w"))
        .union(lbl.select(col("node"), col("community"), lit(1L).as("w")))
        .groupBy("node", "community").agg(sum("w").as("s"))
      lbl = cand
        .groupBy("node").agg(min(struct((-col("s")).as("ns"),
          col("community").as("community"))).as("m"))
        .select(col("node"), col("m.community").as("community"))
        .localCheckpoint(true)
    }
    lbl
  }

  /** Modularity of a community assignment over the undirected simple
    * graph — the quality metric that makes [[labelPropagation]]'s output
    * judgeable (the graph twin of k-means inertia): per community c,
    * e_c = intra-community edge count, d_c = Σ member degrees, and the
    * contribution q_c = e_c/m − (d_c/(2m))²; Q = Σ q_c. All inputs are
    * exact int64 (one endpoint-label join + two keyed aggs; the label
    * vector broadcasts under the adaptive guard); the contributions are
    * terminal IEEE expressions of exact integers, engine-identical.
    * Output: (community, n_nodes, intra_edges, deg_sum, q_contrib).
    */
  def modularity(edges: DataFrame, labels: DataFrame,
                 bcastLabels: Option[Boolean] = None): DataFrame = {
    val und = edges.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val bc = decideBroadcast(bcastLabels, labels.count(),
      broadcastBudget(edges.sparkSession))
    val l = if (bc) broadcast(labels) else labels
    val la = l.select(col("node").as("a"), col("community").as("ca"))
    val lb = l.select(col("node").as("b"), col("community").as("cb"))
    val m = und.count()
    val intra = und.join(la, "a").join(lb, "b")
      .filter(col("ca") === col("cb"))
      .groupBy(col("ca").as("community"))
      .agg(count(lit(1)).as("intra_edges"))
    val degs = und.select(explode(array(col("a"), col("b"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("deg"))
      .join(l, "node")
      .groupBy("community")
      .agg(count(lit(1)).as("n_nodes"), sum("deg").as("deg_sum"))
    degs.join(intra, Seq("community"), "left")
      .select(col("community"), col("n_nodes"),
        coalesce(col("intra_edges"), lit(0L)).as("intra_edges"),
        col("deg_sum"),
        (coalesce(col("intra_edges"), lit(0L)).cast("double") / m -
          (col("deg_sum").cast("double") / (2.0 * m)) *
          (col("deg_sum").cast("double") / (2.0 * m))).as("q_contrib"))
  }

  /** Convergence-driven PageRank: iterate until the L1 rank diff (in
    * fixed-point units) drops below `tolFp` or `maxIters` is hit.
    * Convergence is tested every `checkEvery` iterations: each check
    * materializes the current ranks (cache) and ships ONE aggregated
    * long to the driver — no per-node driver state, and only
    * maxIters/checkEvery driver round-trips. The L1 is measured across
    * the whole block (diffs shrink geometrically, so the block diff
    * upper-bounds the last per-iteration diff — the test is
    * conservative); the loop may overshoot convergence by up to
    * checkEvery−1 iterations, which only tightens the result. Returns
    * (final ranks sorted desc, iterations run).
    */
  def pageRankConverged(edges: DataFrame, maxIters: Int, tolFp: Long,
                        dampPct: Int = 85, bcastRanks: Option[Boolean] = None,
                        checkEvery: Int = 3): (DataFrame, Int) = {
    require(checkEvery >= 1)
    val e = edges
    val deg = e.groupBy("src").agg(count(lit(1)).as("deg"))
    val ew = e.join(deg, "src").persist(StorageLevel.MEMORY_AND_DISK)
    val noIn = noInNodes(e).persist(StorageLevel.MEMORY_AND_DISK)
    val n0 = nodes(e).persist(StorageLevel.MEMORY_AND_DISK)
    val bc = decideBroadcast(bcastRanks, n0.count(),
      broadcastBudget(e.sparkSession))
    var ranks = n0.select(col("node"), lit(Scale).as("rank_fp"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var it = 0
    var converged = false
    while (it < maxIters && !converged) {
      val block = math.min(checkEvery, maxIters - it)
      var next = ranks
      for (_ <- 1 to block) next = step(ew, noIn, next, dampPct, bc)
      next = next.persist(StorageLevel.MEMORY_AND_DISK)
      val prev0 = ranks.withColumnRenamed("rank_fp", "prev_fp")
      val prev = if (bc) broadcast(prev0) else prev0
      val diff = next.join(prev, "node")
        .agg(sum(abs(col("rank_fp") - col("prev_fp"))).as("l1"))
        .head().getLong(0)
      ranks.unpersist()
      ranks = next
      it += block
      converged = diff < tolFp
    }
    (ranks.select(col("node"), col("rank_fp"),
        (col("rank_fp").cast("double") / lit(Scale.toDouble)).as("rank"))
      .orderBy(col("rank_fp").desc, col("node")), it)
  }

  /** Degree distribution — the graph-profiling pass run before choosing
    * a partitioning/broadcast strategy: undirected degree per node,
    * re-aggregated to (degree, n_nodes). Two keyed int64 aggs; at most
    * max-degree rows out at any graph size.
    */
  def degreeDistribution(edges: DataFrame): DataFrame =
    edges.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()
      .select(explode(array(col("a"), col("b"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("degree"))
      .groupBy("degree").agg(count(lit(1)).as("n_nodes"))

  /** Per-node triangle counts via the degree-ordered node-iterator —
    * the classic O(m^1.5) triangle algorithm (Schank/Wagner; the shape
    * behind every distributed triangle count since MR "Counting
    * Triangles in Massive Graphs"). Each undirected edge is oriented
    * from its (degree, id)-smaller endpoint to the larger, so every
    * vertex's out-degree is O(√m) regardless of skew — a star graph's
    * hub gets ALL edges pointed at it and generates zero wedges, which
    * is what makes wedge generation bounded at 100 TB where the naive
    * u-centered enumeration explodes on hot vertices. Wedges (u→v, u→w)
    * with (deg,id)-ordered v < w close iff the oriented edge v→w exists
    * — each triangle counted exactly once, then exploded to its three
    * corners for per-node counts.
    *
    * Shuffle shape: degree agg (int64 rows), one broadcastable degree
    * attach, wedge self-join keyed on u, closing equi-join keyed on
    * (v, w), final count agg — every exchange carries only node-id/deg
    * int64s. `edges`: (src, dst) directed or undirected; self-loops and
    * duplicate/reciprocal pairs collapse. Output: (node, n_tri) for
    * nodes in ≥1 triangle.
    *
    * `bcastDeg`: the degree table is 16 B/node — broadcastable to
    * ~10^8 nodes, but a 10^9-node graph (plausible at a 100 TB edge
    * list) would be a ~16 GB broadcast that dies at plan time. Pass
    * false to fall back to a shuffled degree attach (two extra
    * int64-only exchanges, same result) — the same escape hatch
    * `pageRankFixed`/`connectedComponents` carry for their vectors.
    */
  def triangleCounts(edges: DataFrame,
                     bcastDeg: Option[Boolean] = None): DataFrame =
    triangleKernel(edges, bcastDeg)._3

  /** The triangle computation with its internals exposed:
    * (und, deg, tri) — the de-duplicated undirected edge set, the
    * undirected degree table, and the per-node triangle counts, where
    * und and deg are the SAME persisted DataFrames the triangle pass
    * used. Compositions over triangles + degrees
    * ([[clusteringCoefficient]]) reuse them instead of re-running the
    * distinct + degree agg scans.
    */
  private[graft] def triangleKernel(edges: DataFrame,
      bcastDeg: Option[Boolean]): (DataFrame, DataFrame, DataFrame) = {
    val und = edges.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val deg = und.select(col("a").as("node"))
      .union(und.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // (deg, id) total order orients each edge; broadcast the degree
    // table (16 B/node) so the edge list never shuffles to attach it —
    // unless |V|·16 B exceeds the session broadcast budget (or the
    // caller overrides), in which case the attach shuffles. One
    // aggregated pass supplies both the broadcast decision (|V|) and
    // the id span for the encoded closing key below.
    val degStats = deg.agg(count(lit(1)), max("node")).head()
    val bc = decideBroadcast(bcastDeg, degStats.getLong(0),
      broadcastBudget(edges.sparkSession))
    val idSpan = // empty graph ⇒ max is null; any span works (no rows)
      (if (degStats.isNullAt(1)) 0L else degStats.getLong(1)) + 1L
    val hint: DataFrame => DataFrame =
      if (bc) broadcast else _.hint("shuffle_hash")
    val da = hint(deg.select(col("node").as("a"), col("deg").as("da")))
    val db = hint(deg.select(col("node").as("b"), col("deg").as("db")))
    val oriented = und.join(da, "a").join(db, "b")
      .select(when(col("da") < col("db") ||
          (col("da") === col("db") && col("a") < col("b")),
          struct(col("a").as("lo"), col("b").as("hi"), col("db").as("hd")))
        .otherwise(
          struct(col("b").as("lo"), col("a").as("hi"), col("da").as("hd")))
        .as("e"))
      .select(col("e.lo").as("lo"), col("e.hi").as("hi"), col("e.hd").as("hd"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // Wedges (u→v, u→w), (deg,id)-ordered v < w, generated from each
    // center's SORTED out-adjacency array (sort_array over (hd, hi)
    // structs IS the (deg, id) order): one exchange keyed on u
    // replaces the former o1×o2 self-join's exchange + two sorts, each
    // wedge emitted exactly once, and the closing pair travels as ONE
    // encoded int64 v·idSpan + w (§2.3 narrower types — out-degrees
    // are O(√m) by the orientation, so arrays stay small at any
    // scale). The tiny post-agg array frame is re-spread before the
    // explode: AQE's byte-based coalescing cannot see the ~deg²
    // generator fan-out and would serialize wedge generation.
    val centers = oriented
      .groupBy(col("lo").as("u"))
      .agg(sort_array(collect_list(struct(col("hd"), col("hi")))).as("ns"))
      .repartition(edges.sparkSession.sessionState.conf.numShufflePartitions)
    // Closing join shuffled-hash by hint: the build side is the
    // oriented edge list (one key per edge), the probe side the ~Σdeg²
    // wedge stream — a sort-merge join here would pay an
    // O(wedges log wedges) sort for nothing.
    // Key width is a plan-build-time branch: the encoded int64
    // v·idSpan + w needs idSpan² < 2^63; a graph with ids past
    // ~3.04·10⁹ (snowflake-style 64-bit ids) falls back to the
    // two-column (v, w) key instead of refusing to run — zero cost in
    // the common case ([[EncodedPairMaxSpan]]).
    val closed =
      if (idSpan <= EncodedPairMaxSpan) {
        val wedges = centers.select(col("u"), explode(expr(
          s"""if(size(ns) < 2, array(),
                flatten(transform(sequence(1, size(ns) - 1), i ->
                  transform(slice(ns, i + 1, size(ns) - i), y ->
                    element_at(ns, i).hi * ${idSpan}L + y.hi))))""")).as("vw"))
        val closing = oriented
          .select((col("lo") * idSpan + col("hi")).as("vw"))
          .hint("shuffle_hash")
        wedges.join(closing, Seq("vw"))
          .select(col("u"), expr(s"vw div ${idSpan}L").as("v"),
            (col("vw") % idSpan).as("w"))
      } else {
        val wedges = centers.select(col("u"), explode(expr(
          """if(size(ns) < 2, array(),
                flatten(transform(sequence(1, size(ns) - 1), i ->
                  transform(slice(ns, i + 1, size(ns) - i), y ->
                    struct(element_at(ns, i).hi AS v, y.hi AS w)))))"""))
            .as("vw"))
          .select(col("u"), col("vw.v").as("v"), col("vw.w").as("w"))
        val closing = oriented
          .select(col("lo").as("v"), col("hi").as("w")).hint("shuffle_hash")
        wedges.join(closing, Seq("v", "w"))
      }
    val tri = closed
      .select(explode(array(col("u"), col("v"), col("w"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_tri"))
    (und, deg, tri)
  }

  /** Persist the base snapshot's TOTAL triangle count — the artifact
    * half of incremental triangle maintenance ([[triangleIncrement]]):
    * one int64 row per snapshot; the expensive degree-ordered wedge
    * enumeration over the full graph runs exactly here.
    */
  def writeTriangleBase(edges: DataFrame, path: String): Unit =
    triangleCounts(edges)
      .agg(coalesce(expr("sum(n_tri) div 3"), lit(0L)).as("t_base"))
      .write.mode("overwrite").parquet(path)

  /** Incremental triangle counting on edge arrivals — the delta rule
    * for the graph's most quadratic statistic: with G the base simple
    * graph (canonical a<b pairs), D a DISJOINT batch of new edges, and
    * T(G) read from the persisted artifact,
    *
    *   T(G∪D) = T(G) + t1 + t2 + t3
    *
    * partitioned by how many delta edges each new triangle contains —
    * each category counted exactly once by construction: t1 = Δ-edge
    * (u,v) closed by a base wedge (two joins of D against the base
    * adjacency — work O(|D|·deg), the base wedge space is NEVER
    * re-enumerated); t2 = Δ-Δ wedge (its unique meeting vertex) closed
    * by one base-edge lookup; t3 = triangles wholly inside D (the
    * standard kernel on the tiny batch). Output: one row
    * (t_base, t1, t2, t3, t_total), all exact int64 — the oracle
    * re-enumerates the union with per-triangle delta-edge tags and must
    * land on the same partition.
    *
    * HUB EXPOSURE (the t1 term's cost contract): t1 joins each delta
    * edge against the FULL base adjacency of both endpoints —
    * O(Σ_{(u,v)∈D} deg(u)+deg(v)) — with no analogue of
    * [[linkPredict]]'s deg ≤ 256 wedge cap, because capping here would
    * silently UNDERCOUNT triangles (the count is exact by contract,
    * and the oracle pins it). On power-law graphs one delta edge
    * touching a supernode therefore pays that node's full degree;
    * callers maintaining truly hub-heavy graphs should pre-split such
    * batches (route supernode-incident edges to the periodic snapshot
    * rebuild, which pays the kernel's degree-ordered cost once)
    * rather than expect the delta rule to absorb them.
    */
  def triangleIncrement(base: DataFrame, delta: DataFrame,
                        basePath: String): DataFrame = {
    val spark = base.sparkSession
    val gsym = base.select(col("a").as("u"), col("b").as("v"))
      .union(base.select(col("b").as("u"), col("a").as("v")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val d = delta.select(col("a").as("du"), col("b").as("dv"))
    val t1 = d
      .join(gsym.select(col("u").as("du"), col("v").as("w")), "du")
      .join(gsym.select(col("u").as("dv"), col("v").as("w")),
        Seq("dv", "w"))
      .agg(count(lit(1)).as("t1"))
    val dsym = delta.select(col("a").as("x"), col("b").as("y"))
      .union(delta.select(col("b").as("x"), col("a").as("y")))
    val wedges = dsym.as("p")
      .join(dsym.as("q"),
        col("p.x") === col("q.x") && col("p.y") < col("q.y"))
      .select(col("p.y").as("y"), col("q.y").as("z"))
    val t2 = wedges
      .select(least(col("y"), col("z")).as("a"),
        greatest(col("y"), col("z")).as("b"))
      .join(base, Seq("a", "b"))
      .agg(count(lit(1)).as("t2"))
    val t3 = triangleCounts(
        delta.select(col("a").as("src"), col("b").as("dst")))
      .agg(coalesce(expr("sum(n_tri) div 3"), lit(0L)).as("t3"))
    spark.read.parquet(basePath)
      .crossJoin(t1).crossJoin(t2).crossJoin(t3)
      .select(col("t_base"), col("t1"), col("t2"), col("t3"),
        (col("t_base") + col("t1") + col("t2") + col("t3"))
          .as("t_total"))
  }

  /** Local clustering coefficient — lcc(v) = 2·tri(v) / (deg(v)·(deg(v)−1))
    * on the de-duplicated undirected simple graph, for every node with
    * deg ≥ 2 (where the ratio is defined; triangle-free nodes report 0).
    * The "how clique-like is each neighborhood" profile that separates
    * community cores from pure hubs — degree alone can't.
    *
    * Composition, not a new algorithm: triangles AND degrees come from
    * ONE [[triangleKernel]] call (degree-ordered wedges, O(√m)
    * out-degree bound — the part that must survive 100 TB), so the
    * distinct + degree-agg scans the triangle pass already persisted
    * are reused, not recomputed, and the composition adds only the
    * node-id join and one division. Both int64 inputs are exact, so
    * the one IEEE division at the end is deterministic across engines
    * and partitionings. Exchanges carry only (node, count) int64 rows;
    * `bcastDeg` passes through to the kernel's degree attach.
    */
  def clusteringCoefficient(edges: DataFrame,
                            bcastDeg: Option[Boolean] = None): DataFrame = {
    val (_, deg, tri) = triangleKernel(edges, bcastDeg)
    deg.filter(col("deg") >= 2)
      .join(tri, Seq("node"), "left")
      .select(col("node"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"),
        col("deg"),
        ((coalesce(col("n_tri"), lit(0L)) * 2).cast("double") /
          (col("deg") * (col("deg") - 1)).cast("double")).as("lcc"))
  }

  /** k-core decomposition by parallel peeling: repeatedly delete ALL
    * nodes of current degree < k (and their edges) until a fixpoint —
    * what remains is the maximal subgraph where every node keeps ≥ k
    * neighbors, the standard cohesion filter before community/triangle
    * analysis prunes the long degree-1 tail.
    *
    * Each round is two int64-only exchanges (degree count + two
    * left-semi restrictions on the survivor set); the edge payload
    * never widens. Rounds are O(peeling depth), not O(V): every round
    * removes every currently-underdegreed node at once. Same scale
    * discipline as [[connectedComponents]]: eager localCheckpoint
    * truncates lineage per round, convergence is a driver-side scalar
    * (the one sanctioned driver action), and non-convergence throws
    * rather than returning a half-peeled subgraph. The survivor set is
    * joined, not broadcast — it starts at |V| and can stay huge.
    *
    * Input: directed edge list (src, dst); de-duplicated undirected
    * internally. Output: (node, deg) for every k-core member, deg
    * being its degree INSIDE the core (≥ k by construction).
    */
  def kCore(edges: DataFrame, k: Int, maxIters: Int = 40): DataFrame = {
    val (und0, init) = checkpointRound(edges.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct(), None)
    var und = und0
    var nEdges = init(0)
    var it = 0
    var converged = false
    while (it < maxIters && !converged) {
      val deg = und.select(col("a").as("node"))
        .union(und.select(col("b").as("node")))
        .groupBy("node").agg(count(lit(1)).as("deg"))
      val keep = deg.filter(col("deg") >= k).select("node")
      val (next, stats) = checkpointRound(und
        .join(keep.withColumnRenamed("node", "a"), Seq("a"), "left_semi")
        .join(keep.withColumnRenamed("node", "b"), Seq("b"), "left_semi"),
        Some(und))
      val nNext = stats(0)
      converged = nNext == nEdges
      und = next
      nEdges = nNext
      it += 1
    }
    if (!converged) throw new IllegalStateException(
      s"kCore did not reach a fixpoint in $maxIters rounds; " +
        "raise maxIters (peeling depth exceeds the cap)")
    und.select(col("a").as("node")).union(und.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
  }

  /** Single-source BFS shortest-path levels over the undirected view of
    * the edge list: (node, dist) for every node within `maxDepth` hops
    * of `source`, dist = minimum hop count. Frontier expansion, one
    * round per level — the distributed BFS shape: each round joins the
    * current frontier against the edge list, then anti-joins the
    * visited set so a node is labeled exactly once, at its first
    * (= minimum) depth. Rounds are O(eccentricity), not O(V).
    *
    * Scale: the frontier is broadcast into the edge join by default
    * (it is a set of int64s — even a 10^8-node frontier is ~800 MB,
    * and real frontiers are far smaller), so the big edge table never
    * shuffles for the probe; pass `bcastFrontier = false` to fall back
    * to a shuffled join when a frontier could exceed broadcast budget
    * (the [[pageRankFixed]] `bcastRanks` discipline). The visited set
    * is joined, not broadcast — it grows toward |V|. Each round
    * localCheckpoints the new frontier and visited set: lineage
    * truncation per round, same as [[connectedComponents]]. The
    * per-round emptiness check is an aggregated driver-side scalar —
    * the sanctioned convergence pattern.
    */
  def bfsLevels(edges: DataFrame, source: Long, maxDepth: Int,
                bcastFrontier: Option[Boolean] = None): DataFrame = {
    require(maxDepth >= 0)
    val spark = edges.sparkSession
    import spark.implicits._
    val budget = broadcastBudget(spark)
    val sym = edges.filter(col("src") =!= col("dst"))
      .select(col("src"), col("dst"))
      .union(edges.filter(col("src") =!= col("dst"))
        .select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .localCheckpoint(true)
    var visited = Seq((source, 0)).toDF("node", "dist")
      .localCheckpoint(true)
    var frontier = visited.select("node")
    var pinnedFrontier = Option.empty[DataFrame]
    // The frontier grows and shrinks per level, so the broadcast
    // decision is re-made per round from the frontier size observed on
    // its checkpoint job (the count doubles as the emptiness test).
    var frontierRows = 1L
    var depth = 0
    var exhausted = false
    while (depth < maxDepth && !exhausted) {
      depth += 1
      val bc = decideBroadcast(bcastFrontier, frontierRows, budget,
        bytesPerRow = 8L)
      val f = if (bc) broadcast(frontier) else frontier
      val (next, stats) = checkpointRound(sym.join(f, sym("src") === f("node"))
        .select(sym("dst").as("node")).distinct()
        .join(visited, Seq("node"), "left_anti"), pinnedFrontier)
      pinnedFrontier = Some(next)
      frontierRows = stats(0)
      if (frontierRows == 0L) exhausted = true
      else {
        visited = checkpointRound(visited
          .union(next.select(col("node"), lit(depth).as("dist"))),
          Some(visited))._1
        frontier = next
      }
    }
    pinnedFrontier.foreach(release)
    release(sym)
    visited
  }

  /** Single-source shortest paths over nonnegative integer edge
    * weights: Bellman-Ford rounds — each round min-merges the current
    * distance vector with every one-edge relaxation, so after round r
    * the vector holds exact shortest distances using ≤ r hops. Edge
    * weight is the symmetric pure function ((src + dst) % 9) + 1 of
    * the undirected pair (deterministic across engines and layouts).
    * Runs to the fixpoint and THROWS if `maxRounds` arrives first: the
    * oracle unrolls the same rounds as materialized CTEs, and unrolled
    * rounds past the fixpoint are no-ops, so convergence is the
    * contract that keeps both engines identical (the
    * [[connectedComponents]] fixpoint-or-throw discipline).
    *
    * Scale: `bcastDist` broadcasts the 16 B/node distance vector into
    * the edge join — the big edge list never shuffles, and the only
    * exchange per round is the min re-aggregation keyed on node; pass
    * false past broadcast budget for a shuffled join (the
    * [[pageRankFixed]] `bcastRanks` escape hatch). Each round
    * localCheckpoints the merged vector (per-round lineage
    * truncation); the per-round improvement count is an aggregated
    * driver-side scalar — the sanctioned convergence pattern.
    * Output: (node, dist) for every node reachable from `source`.
    */
  def sssp(edges: DataFrame, source: Long, maxRounds: Int,
           bcastDist: Option[Boolean] = None): DataFrame = {
    val sym = edges.filter(col("src") =!= col("dst"))
      .select(col("src"), col("dst"))
      .union(edges.filter(col("src") =!= col("dst"))
        .select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .select(col("src"), col("dst"),
        (((col("src") + col("dst")) % 9) + 1).as("w"))
    ssspWeighted(sym, source, maxRounds, bcastDist)
  }

  /** General weighted single-source shortest paths: `edges` is a
    * DIRECTED edge list carrying its own nonnegative integer weight
    * column `(src, dst, w)` — a real user's first graph — where [[sssp]]
    * above is the fixture-weighted symmetric convenience wrapper.
    * Bellman-Ford min-merge rounds, fixpoint-or-throw, exactly as
    * documented on [[sssp]].
    *
    * Per round the work is ONE keyed exchange and ONE action: the relax
    * rows are unioned with the current vector tagged by origin, and the
    * min-merge aggregate carries BOTH the new distance and the old
    * distance (min over origin-tagged rows) through the same groupBy, so
    * improvement count is observed on the job that checkpoints the
    * round output ([[checkpointRound]]) — no second join, no second
    * exchange, no second action. The same observation returns the
    * vector row count, which feeds the
    * adaptive broadcast guard for the NEXT round ([[decideBroadcast]]):
    * the distance vector grows toward |V| as the frontier expands, so a
    * graph whose reachable set outgrows the broadcast budget flips to
    * the shuffled join mid-run instead of dying at plan time.
    */
  def ssspWeighted(edges: DataFrame, source: Long, maxRounds: Int,
                   bcastDist: Option[Boolean] = None): DataFrame = {
    require(maxRounds >= 1)
    val spark = edges.sparkSession
    import spark.implicits._
    val budget = broadcastBudget(spark)
    val e = edges.select(col("src"), col("dst"), col("w"))
      .localCheckpoint(true)
    var dist = Seq((source, 0L)).toDF("node", "dist").localCheckpoint(true)
    var pinned = dist
    var distRows = 1L
    var converged = false
    var round = 0
    while (!converged && round < maxRounds) {
      round += 1
      val bc = decideBroadcast(bcastDist, distRows, budget)
      val dd = if (bc) broadcast(dist) else dist
      val relax = e.join(dd, e("src") === dd("node"))
        .select(e("dst").as("node"), (dd("dist") + e("w")).as("dist"),
          lit(0).as("isold"))
      val (merged, stats) = checkpointRound(dist
        .select(col("node"), col("dist"), lit(1).as("isold"))
        .union(relax)
        .groupBy("node").agg(
          min("dist").as("dist"),
          min(when(col("isold") === 1, col("dist"))).as("od")),
        Some(pinned),
        count(when(col("od").isNull || col("dist") < col("od"), lit(1))))
      // A round with no improvement reproduces the vector exactly, so
      // the merged checkpoint replaces it either way.
      pinned = merged
      dist = merged.select("node", "dist")
      distRows = stats(0)
      converged = stats(1) == 0L
    }
    release(e)
    if (!converged)
      throw new IllegalStateException(
        s"sssp did not reach a fixpoint in $maxRounds rounds")
    dist
  }

  /** HITS fixed-point scale for hub/authority scores. Smaller than
    * [[Scale]] because each round multiplies a degree-sum by the scale
    * before the normalizing div: worst term maxdeg · HitsScale² must
    * stay under 2^63 → maxdeg < 9.2·10^6 at 10^6 scale (any real web
    * graph after the usual supernode capping; past that, drop a digit).
    */
  val HitsScale: Long = 1000000L

  /** HITS hubs/authorities (Kleinberg 1999) over a directed edge list —
    * fixed `iters` mutual-reinforcement rounds with MAX-normalization
    * instead of L2: dividing by the round's max score keeps every
    * intermediate an exact int64 (the [[pageRankFixed]] fixed-point
    * discipline), converges to the same principal direction, and makes
    * the result bit-identical across partitionings and engines. Each
    * round: a(v) = Σ_{u→v} h(u), rescaled to [0, HitsScale]; then
    * h(u) = Σ_{u→v} a(v), rescaled. Nodes without in-links hold
    * authority 0; without out-links, hub 0.
    *
    * Scale shape: ONE Spark action per half-round ([[checkpointRound]]).
    * The round's raw sums (node, raw) are localCheckpointed, and the
    * same job observes their max and row count. The max normalizes the
    * scores as a literal — raw · HitsScale div max, 0 everywhere when
    * the max is 0 — and the row count is the next round's
    * [[decideBroadcast]] input, so the score vector (≤ 16 B/node)
    * broadcasts into the edge join and edges never shuffle; the only
    * corpus exchange per half-round is the keyed re-aggregation.
    * The first authority round is in-degree × HitsScale (every hub
    * starts at HitsScale), with no join. A node absent from a round's
    * raw sums scores 0 there, and the score vectors are never filtered,
    * so the authority sums cover every edge target and the hub sums
    * every edge source: one final full outer join (missing side 0)
    * restores the whole node set. Superseded checkpoints and the
    * pinned edges are released as the loop goes; only the last two
    * checkpoints, which back the returned frame, stay pinned.
    */
  def hitsFixed(edges: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1)
    val owned = edges.storageLevel == StorageLevel.NONE
    val e = if (owned) edges.persist(StorageLevel.MEMORY_AND_DISK) else edges
    val budget = broadcastBudget(e.sparkSession)
    case class Half(cp: DataFrame, scores: DataFrame, rows: Long)
    def settle(raw: DataFrame, prev: Option[Half], scoreCol: String): Half = {
      val (cp, stats) = checkpointRound(raw, prev.map(_.cp),
        coalesce(max("raw"), lit(0L)))
      val mraw = stats(1)
      val score =
        if (mraw == 0L) lit(0L) else expr(s"(raw * ${HitsScale}L) div ${mraw}L")
      Half(cp, cp.select(col("node"), score.as(scoreCol)), stats(0))
    }
    def sumOver(from: Half, scoreCol: String, joinKey: String,
                outKey: String): DataFrame = {
      val r = if (decideBroadcast(None, from.rows, budget)) broadcast(from.scores)
        else from.scores
      e.join(r, e(joinKey) === r("node"))
        .groupBy(e(outKey).as("node")).agg(sum(scoreCol).as("raw"))
    }
    var auth = settle(e.groupBy(col("dst").as("node"))
      .agg((count(col("src")) * HitsScale).as("raw")), None, "a_fp")
    var hub = settle(sumOver(auth, "a_fp", "dst", "src"), None, "h_fp")
    for (_ <- 2 to iters) {
      auth = settle(sumOver(hub, "h_fp", "src", "dst"), Some(auth), "a_fp")
      hub = settle(sumOver(auth, "a_fp", "dst", "src"), Some(hub), "h_fp")
    }
    if (owned) e.unpersist()
    val a = coalesce(col("a_fp"), lit(0L))
    val h = coalesce(col("h_fp"), lit(0L))
    auth.scores.join(hub.scores, Seq("node"), "full_outer")
      .select(col("node"), a.as("a_fp"), h.as("h_fp"),
        (a.cast("double") / HitsScale.toDouble).as("auth"),
        (h.cast("double") / HitsScale.toDouble).as("hub"))
      .orderBy(col("a_fp").desc, col("node"))
  }

  /** Personalized PageRank — the [[pageRankFixed]] loop with teleport
    * mass restricted to the seed set (node % seedMod = 0): ranks answer
    * "importance as seen FROM the seeds", the query behind related-page
    * and topic-conditioned crawl ranking. base(v) = (100−damp)% · Scale
    * for seeds, 0 otherwise; non-seed rank arrives only through
    * in-links, so mass decays through dangling nodes exactly as the
    * push-style formulation prescribes — deterministic int64 fixed
    * point throughout. One keyed exchange per round (the contribution
    * re-sum); rank vector broadcasts under the guard; node set left-
    * joins the sums (the varying base forbids the no-in-union shortcut
    * pageRankFixed uses).
    */
  def personalizedPageRank(edges: DataFrame, iters: Int, seedMod: Int,
                           dampPct: Int = 85,
                           bcastRanks: Option[Boolean] = None,
                           persistEvery: Int = 3): DataFrame = {
    require(iters >= 1 && seedMod >= 1 && dampPct >= 0 && dampPct <= 100)
    val e = edges
    val deg = e.groupBy("src").agg(count(lit(1)).as("deg"))
    val ew = e.join(deg, "src").persist(StorageLevel.MEMORY_AND_DISK)
    val n0 = nodes(e).persist(StorageLevel.MEMORY_AND_DISK)
    val bc = decideBroadcast(bcastRanks, n0.count(),
      broadcastBudget(e.sparkSession))
    val base = (100L - dampPct) * (Scale / 100)
    val baseOf = when(col("node") % seedMod === 0, base).otherwise(0L)
    var ranks = n0.select(col("node"), baseOf.as("rank_fp"))
    for (i <- 1 to iters) {
      val r = if (bc) broadcast(ranks) else ranks
      val sums = ew.join(r, ew("src") === r("node"))
        .select(ew("dst").as("node"),
          expr("rank_fp div deg").as("share"))
        .groupBy("node").agg(sum("share").as("c"))
      ranks = n0.join(sums, Seq("node"), "left")
        .select(col("node"),
          (baseOf + expr(s"($dampPct * coalesce(c, 0L)) div 100"))
            .as("rank_fp"))
      if (i % persistEvery == 0 && i < iters)
        ranks = ranks.persist(StorageLevel.MEMORY_AND_DISK)
    }
    ranks.select(col("node"), col("rank_fp"),
        (col("rank_fp").cast("double") / Scale.toDouble).as("rank"))
      .orderBy(col("rank_fp").desc, col("node"))
  }

  /** Common-neighbor link prediction over the symmetrized graph: for
    * every non-adjacent pair reachable through a shared neighbor,
    * cn = |N(a) ∩ N(b)| and Jaccard = cn / |N(a) ∪ N(b)| (exact ppm
    * via int64 floor-div), top `k` by (cn desc, jacc desc, a, b) — a
    * deterministic total order, so the limit is stable. The candidate
    * generation is the triangle wedge join (never all pairs): cost
    * Σ_w deg(w)², the standard bound, with the same sparse-modulus
    * fixture q_triangle uses. TakeOrderedAndProject caps the result
    * driver-side at k rows.
    */
  def linkPredict(edges: DataFrame, k: Int,
                  maxNbrDeg: Long = 256L): DataFrame = {
    val undAll = edges.select(col("src").as("a"), col("dst").as("b"))
      .union(edges.select(col("dst").as("a"), col("src").as("b")))
      .filter(col("a") =!= col("b")).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    // Hub cap — the supernode guard every production common-neighbor
    // job carries: neighbor SETS are restricted to members of degree
    // ≤ maxNbrDeg (a shared hub connects everything to everything and
    // carries no signal, while contributing deg² wedges — the skew
    // that kills the join at scale). Degrees, wedges, and Jaccard all
    // run on the pruned sets, so the semantics stay coherent:
    // "similarity of non-hub neighborhoods".
    val fullDeg = undAll.groupBy("b").agg(count(lit(1)).as("bdeg"))
    val und = undAll.join(fullDeg.filter(col("bdeg") <= maxNbrDeg), "b")
      .select("a", "b").persist(StorageLevel.MEMORY_AND_DISK)
    val deg = und.groupBy("a").agg(count(lit(1)).as("deg"))
    // Wedge pairs from per-center SORTED adjacency arrays (bounded by
    // the hub cap, so each array is ≤ maxNbrDeg entries): one exchange
    // keyed on the wedge center replaces the former self-join's two
    // exchanges + sort-merge, and each unordered pair (a < b) is
    // emitted exactly once, ENCODED as one int64 key a·idSpan + b —
    // the (a, b) two-column group-by/anti-join key narrowed to eight
    // bytes (§2.3 narrower types) for the ~Σdeg² aggregation that
    // dominates this operator. idSpan is derived from the data's max
    // id + 1 (one aggregated scalar over the persisted edge set), so
    // the encoding is collision-free for any id domain.
    val idSpan = { // empty graph ⇒ max is null; any span works (no rows)
      val r = undAll.agg(max(greatest(col("a"), col("b")))).head()
      (if (r.isNullAt(0)) 0L else r.getLong(0)) + 1L
    }
    // The center-array frame is tiny post-agg, so AQE coalesces it —
    // but the explode below multiplies rows ~Σdeg²/|centers|-fold, so
    // byte-sized coalescing would serialize the pair generation onto a
    // few tasks (the generator blind spot of advisory sizing, same at
    // any scale). Re-spread it to the configured shuffle parallelism
    // before exploding.
    val centerArrays = und.groupBy(col("b").as("w"))
      .agg(sort_array(collect_list(col("a"))).as("ns"))
      .repartition(und.sparkSession.sessionState.conf.numShufflePartitions)
    // Key width is a plan-build-time branch (the triangleKernel rule):
    // the encoded int64 needs idSpan² < 2^63; past
    // [[EncodedPairMaxSpan]] the pair travels as a two-column key
    // instead of refusing to run. Zero cost in the common case.
    val cand =
      if (idSpan <= EncodedPairMaxSpan) {
        val pairKeys = centerArrays.select(explode(expr(
          // size < 2 ⇒ no pairs (sequence(1, 0) would DESCEND to index 0)
          s"""if(size(ns) < 2, array(),
                flatten(transform(sequence(1, size(ns) - 1), i ->
                  transform(slice(ns, i + 1, size(ns) - i), y ->
                    element_at(ns, i) * ${idSpan}L + y))))""")).as("ab"))
        val adjKeys = undAll.filter(col("a") < col("b"))
          .select((col("a") * idSpan + col("b")).as("ab"))
        pairKeys.groupBy("ab").agg(count(lit(1)).as("cn"))
          .join(adjKeys, Seq("ab"), "left_anti")
          .select(expr(s"ab div ${idSpan}L").as("a"),
            (col("ab") % idSpan).as("b"), col("cn"))
      } else {
        val pairKeys = centerArrays.select(explode(expr(
          """if(size(ns) < 2, array(),
                flatten(transform(sequence(1, size(ns) - 1), i ->
                  transform(slice(ns, i + 1, size(ns) - i), y ->
                    struct(element_at(ns, i) AS a, y AS b)))))""")).as("ab"))
          .select(col("ab.a").as("a"), col("ab.b").as("b"))
        val adjPairs = undAll.filter(col("a") < col("b"))
        pairKeys.groupBy("a", "b").agg(count(lit(1)).as("cn"))
          .join(adjPairs, Seq("a", "b"), "left_anti")
      }
    cand
      .join(deg.withColumnsRenamed(Map("a" -> "a", "deg" -> "dega")), "a")
      .join(deg.withColumnsRenamed(Map("a" -> "b", "deg" -> "degb")), "b")
      .select(col("a"), col("b"), col("cn"),
        expr("(1000000 * cn) div (dega + degb - cn)").as("jacc_ppm"))
      .orderBy(col("cn").desc, col("jacc_ppm").desc, col("a"), col("b"))
      .limit(k)
  }
}
