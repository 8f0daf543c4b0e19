package graft

import org.apache.spark.sql.functions._
import graft.ops.{AggOps, GraphOps}

class GraphOpsSpec extends SparkSpec {
  import spark.implicits._

  /** Independent reference model: same fixed-point recurrence computed
    * with plain Scala collections (no Spark, no SQL).
    */
  private def model(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    val e = edges.distinct
    val nodes = e.flatMap(t => Seq(t._1, t._2)).distinct
    val deg = e.groupBy(_._1).map { case (s, es) => s -> es.size.toLong }
    var rank = nodes.map(_ -> GraphOps.Scale).toMap
    for (_ <- 1 to iters) {
      val sums = e.groupBy(_._2).map { case (dst, in) =>
        dst -> in.map { case (s, _) => rank(s) / deg(s) }.sum
      }
      rank = nodes.map(n => n -> (150000000000L + 85L * sums.getOrElse(n, 0L) / 100L)).toMap
    }
    rank
  }

  test("pageRankFixed matches an independent fixed-point model") {
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 1L), (4L, 3L))
    val df = edges.toDF("src", "dst")
    val got = GraphOps.pageRankFixed(df, 10).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === model(edges, 10))
  }

  test("pageRankFixed output is sorted desc and includes sink-only nodes") {
    val df = Seq((1L, 2L), (3L, 2L)).toDF("src", "dst") // 2 has no outlinks
    val rows = GraphOps.pageRankFixed(df, 3).collect()
    assert(rows.map(_.getLong(0)).toSet === Set(1L, 2L, 3L))
    val ranks = rows.map(_.getLong(1))
    assert(ranks.sorted.reverse.sameElements(ranks))
    // node 2 receives from both sources; 1 and 3 receive nothing → base.
    assert(rows.last.getLong(1) === 150000000000L)
  }

  test("pageRankFixed is deterministic across partition layouts") {
    val edges = GraphOps.edgesFromLineitem(Tables.lineitem(spark, sfDir), 97)
    val a = GraphOps.pageRankFixed(edges, 5).collect().toSeq
    val b = GraphOps.pageRankFixed(edges.repartition(7), 5).collect().toSeq
    assert(a === b)
  }

  test("past-headroom graphs fail loudly (ANSI overflow), never wrap") {
    // Star graph funneling all mass into node 0: Σshare at node 0 is
    // |V|·Scale, and 85·|V|·10^12 overflows int64 at |V| ≈ 1.08·10^5 —
    // the documented worst-case bound. 130k spokes is past it; the
    // damped multiplication must throw, not wrap to a wrong rank.
    val star = spark.range(1, 130001)
      .select(col("id").as("src"), lit(0L).as("dst"))
    val e = intercept[Exception] { GraphOps.pageRankFixed(star, 1).collect() }
    def chain(t: Throwable): Seq[Throwable] =
      Option(t).toSeq.flatMap(x => x +: chain(x.getCause))
    assert(chain(e).exists(t =>
      t.toString.toLowerCase.contains("overflow")), s"unexpected: $e")
  }

  test("pageRankConverged stops once the L1 diff is below tolerance") {
    val df = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst") // symmetric: ranks stay 1.0
    val (ranks, iters) = GraphOps.pageRankConverged(df, 50, tolFp = 1000L)
    assert(iters < 50)
    assert(ranks.collect().map(_.getLong(1)).forall(r => math.abs(r - GraphOps.Scale) < 1000000L))
  }

  test("connectedComponents labels every node with its component minimum") {
    // Components: {1,2,3,9} (chain 9-3, 3-2, 2-1), {5,6}, {7,8}; node 4 absent.
    val edges = Seq((2L, 1L), (3L, 2L), (9L, 3L), (5L, 6L), (8L, 7L))
      .toDF("a", "b")
    val got = GraphOps.connectedComponents(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 9L -> 1L,
      5L -> 5L, 6L -> 5L, 7L -> 7L, 8L -> 7L))
  }

  test("connectedComponents matches a union-find model on random graphs") {
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 8) {
      val n = 2 + rnd.nextInt(14)
      val nodes = (0 until n).map(_ => rnd.nextInt(1000).toLong).distinct
      val m = 1 + rnd.nextInt(nodes.size * 2)
      val edges = (0 until m).map { _ =>
        (nodes(rnd.nextInt(nodes.size)), nodes(rnd.nextInt(nodes.size)))
      }.filter(e => e._1 != e._2).distinct
      if (edges.nonEmpty) {
        // Union-find reference model.
        val parent = scala.collection.mutable.Map[Long, Long]()
        def find(x: Long): Long = {
          val p = parent.getOrElse(x, x)
          if (p == x) x else { val r = find(p); parent(x) = r; r }
        }
        edges.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        val members = edges.flatMap(e => Seq(e._1, e._2)).distinct
        val want = members
          .map(v => v -> members.filter(u => find(u) == find(v)).min).toMap
        val got = GraphOps.connectedComponents(edges.toDF("a", "b")).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got === want, s"trial=$trial edges=$edges")
      }
    }
  }

  test("connectedComponents throws rather than returning unconverged labels") {
    val chain = (0L until 6L).sliding(2).map(s => (s.head, s.last)).toSeq
      .toDF("a", "b") // diameter-5 path needs ~6 rounds
    intercept[IllegalStateException] {
      GraphOps.connectedComponents(chain, maxIters = 2).collect()
    }
    // and converges fine with headroom
    val ok = GraphOps.connectedComponents(chain).collect()
    assert(ok.map(_.getLong(1)).toSet === Set(0L))
  }

  test("connectedComponents is deterministic across partition layouts") {
    val edges = Seq((10L, 20L), (20L, 30L), (40L, 50L), (30L, 40L), (60L, 70L))
      .toDF("a", "b")
    val a = GraphOps.connectedComponents(edges).collect().toSet
    val b = GraphOps.connectedComponents(edges.repartition(7)).collect().toSet
    assert(a === b)
    assert(a.map(_.getLong(1)) === Set(10L, 60L))
  }

  test("triangleCounts: K4 has 4 triangles, 3 per node; pendant has none") {
    // K4 on {1,2,3,4} with noisy input: self-loop, duplicate, reciprocal
    // pair — all must collapse. Pendant 4-5 joins no triangle.
    val edges = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (2L, 1L), (1L, 2L), (3L, 3L), (4L, 5L)
    ).toDF("src", "dst")
    val got = GraphOps.triangleCounts(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    // total triangles = Σ n_tri / 3 = 4
    assert(got.values.sum === 12L)
  }

  test("degreeDistribution collapses duplicates and counts undirected degree") {
    val edges = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (2L, 1L), (3L, 3L), (4L, 5L) // reciprocal, self-loop, pendant
    ).toDF("src", "dst")
    val got = GraphOps.degreeDistribution(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // K4: nodes 1,2,3 degree 3; node 4 degree 4 (pendant); node 5 degree 1
    assert(got === Map(3L -> 3L, 4L -> 1L, 1L -> 1L))
  }

  test("triangleCounts is deterministic across partition layouts") {
    val edges = Tables.lineitem(spark, sfDir)
      .select((col("l_orderkey") % 101).as("src"),
        (col("l_partkey") % 101).as("dst"))
    val a = GraphOps.triangleCounts(edges).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val b = GraphOps.triangleCounts(edges.repartition(7)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(a === b)
    assert(a.nonEmpty)
  }

  /** Plan audit that recurses into InMemoryRelation cached plans (the
    * degree attach lives inside the persisted `oriented` segment) and
    * unwraps AQE roots.
    */
  private def planText(p: org.apache.spark.sql.execution.SparkPlan): String = {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val root = p match {
      case a: AdaptiveSparkPlanExec => a.inputPlan
      case other => other
    }
    val sb = new StringBuilder(root.toString)
    root.foreach {
      case s: InMemoryTableScanExec => sb.append(planText(s.relation.cachedPlan))
      case a: AdaptiveSparkPlanExec => sb.append(planText(a.inputPlan))
      case _ => ()
    }
    sb.toString
  }

  test("triangleCounts shuffled-degree fallback (bcastDeg=false) matches broadcast path") {
    // The 10^9-node escape hatch: degree attach via shuffled join must
    // produce bit-identical counts, and its plan must not broadcast deg.
    val edges = Tables.lineitem(spark, sfDir)
      .select((col("l_orderkey") % 101).as("src"),
        (col("l_partkey") % 101).as("dst"))
    spark.catalog.clearCache()
    val sh = GraphOps.triangleCounts(edges, bcastDeg = Some(false))
    // The degree attach must honor the shuffle hint (other joins at
    // fixture scale may still auto-broadcast — that's fine).
    val plan = planText(sh.queryExecution.executedPlan)
    assert(plan.contains("ShuffledHashJoin"),
      s"bcastDeg=false must plan a shuffled degree attach:\n$plan")
    val got = sh.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    spark.catalog.clearCache()
    val bc = GraphOps.triangleCounts(edges).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === bc)
    assert(got.nonEmpty)
  }

  test("bfsLevels labels each node at its minimum depth, capped by maxDepth") {
    import spark.implicits._
    // Path 1-2-3-4 with mixed edge directions (BFS is undirected) plus a
    // disconnected component {5,6} that must never appear.
    val edges = Seq((1L, 2L), (3L, 2L), (3L, 4L), (5L, 6L)).toDF("src", "dst")
    val got = GraphOps.bfsLevels(edges, 1L, maxDepth = 2)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got === Map(1L -> 0, 2L -> 1, 3L -> 2)) // 4 is 3 hops: cut off
    val full = GraphOps.bfsLevels(edges, 1L, maxDepth = 8,
        bcastFrontier = Some(false))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(full === Map(1L -> 0, 2L -> 1, 3L -> 2, 4L -> 3))
  }

  test("sssp finds weighted shortest paths, light multi-hop beats heavy edge") {
    import spark.implicits._
    // Weights are ((src+dst)%9)+1: (1,2)=4 (2,3)=6 (1,3)=5 (3,4)=8
    // (1,10)=3 (10,4)=6. Node 4: direct-ish route via 3 costs 5+8=13,
    // the lighter 2-hop route via 10 costs 3+6=9 — the case BFS hop
    // counting gets wrong. Disconnected {7,8} must never appear.
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (1L, 10L),
      (10L, 4L), (7L, 8L)).toDF("src", "dst")
    val want = Map(1L -> 0L, 2L -> 4L, 3L -> 5L, 10L -> 3L, 4L -> 9L)
    val got = GraphOps.sssp(edges, 1L, maxRounds = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === want)
    // Shuffled-join fallback is bit-identical to the broadcast path.
    val fb = GraphOps.sssp(edges, 1L, maxRounds = 8, bcastDist = Some(false))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fb === want)
    // A round budget below the fixpoint hop count must throw, not
    // return a silently-unconverged vector.
    assertThrows[IllegalStateException] {
      GraphOps.sssp(edges, 1L, maxRounds = 1).collect()
    }
  }

  test("kCore keeps exactly the maximal k-degree subgraph, cascading peels") {
    import spark.implicits._
    // 4-clique {1,2,3,4} + chain 4-5-6: at k=3 the chain must peel in
    // cascade (6 first, then 5 exposes as degree-1) and the clique
    // survives with in-core degree 3 each.
    val clique = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
    val edges = (clique ++ Seq((4L, 5L), (5L, 6L))).toDF("src", "dst")
    val got = GraphOps.kCore(edges, 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    // k above the clique degree empties the core.
    assert(GraphOps.kCore(edges, 4).count() === 0L)
  }

  test("adaptive broadcast guard: decision honors budget, override, and disable") {
    // Unit contract of the shared helper behind every bcast* default.
    assert(GraphOps.decideBroadcast(Some(true), sys.error("not evaluated"),
      budget = -1L))
    assert(!GraphOps.decideBroadcast(Some(false), sys.error("not evaluated"),
      budget = Long.MaxValue))
    assert(GraphOps.decideBroadcast(None, 1000L, budget = 16001L))
    assert(!GraphOps.decideBroadcast(None, 1001L, budget = 16000L))
    assert(!GraphOps.decideBroadcast(None, 1L, budget = -1L)) // -1 disables
  }

  test("adaptive broadcast guard: a vector past budget auto-selects the shuffled plan") {
    // The 100x foot-gun the guard retires: with NO explicit override, a
    // node vector that exceeds the session broadcast budget must flip
    // the degree attach to the shuffled plan automatically (simulated by
    // shrinking the budget under the fixture's ~100-node vector), and
    // the default budget must still pick the broadcast attach.
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.get(key)
    val edges = Tables.lineitem(spark, sfDir)
      .select((col("l_orderkey") % 101).as("src"),
        (col("l_partkey") % 101).as("dst"))
    try {
      spark.catalog.clearCache()
      spark.conf.set(key, "64")
      val auto = GraphOps.triangleCounts(edges)
      val plan = planText(auto.queryExecution.executedPlan)
      // The degree attach is the guarded join; the closing join is
      // ALWAYS shuffled-hash by design (its probe side is the wedge
      // stream), so the assertions pin the BroadcastHashJoin count of
      // the attach rather than the mere presence of a shuffled join.
      assert(!plan.contains("BroadcastHashJoin"),
        s"past-budget vector must auto-select a shuffled degree attach:\n$plan")
      assert(plan.contains("ShuffledHashJoin"),
        s"past-budget vector must auto-select a shuffled degree attach:\n$plan")
      val got = auto.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      spark.catalog.clearCache()
      spark.conf.set(key, saved)
      val bc = GraphOps.triangleCounts(edges)
      val bcPlan = planText(bc.queryExecution.executedPlan)
      assert(bcPlan.contains("BroadcastHashJoin"),
        s"in-budget vector must keep the broadcast degree attach:\n$bcPlan")
      assert(bc.collect().map(r => (r.getLong(0), r.getLong(1))).toSet === got)
    } finally spark.conf.set(key, saved)
  }

  test("ssspWeighted: directed user-supplied weights, direction respected") {
    import spark.implicits._
    // Directed: 1→2 (w1), 2→3 (w1), 1→3 (w5): the 2-hop light path wins.
    // 4→1 points AT the source, so 4 must stay unreachable.
    val e = Seq((1L, 2L, 1L), (2L, 3L, 1L), (1L, 3L, 5L), (4L, 1L, 1L))
      .toDF("src", "dst", "w")
    val got = GraphOps.ssspWeighted(e, 1L, maxRounds = 6)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 0L, 2L -> 1L, 3L -> 2L))
    // Shuffled fallback is bit-identical.
    val fb = GraphOps.ssspWeighted(e, 1L, maxRounds = 6,
        bcastDist = Some(false))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fb === got)
  }

  test("pageRankWeighted with uniform weights equals pageRankFixed") {
    import spark.implicits._
    val edges = GraphOps.edgesFromLineitem(Tables.lineitem(spark, sfDir), 97)
    val uni = edges.select(col("src"), col("dst"), lit(1L).as("w"))
    val got = GraphOps.pageRankWeighted(uni, 5).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = GraphOps.pageRankFixed(edges, 5).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === want)
    // Weights steer mass: 1→2 carries 9× the weight of 1→3, so after one
    // round node 2 must outrank node 3 (equal under uniform weights).
    val skew = Seq((1L, 2L, 9L), (1L, 3L, 1L)).toDF("src", "dst", "w")
    val r1 = GraphOps.pageRankWeighted(skew, 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r1(2L) > r1(3L))
    // share = (Scale·w) div wdeg: 9/10 and 1/10 of the damped unit mass.
    assert(r1(2L) === 150000000000L + 85L * (GraphOps.Scale * 9 / 10) / 100L)
    assert(r1(3L) === 150000000000L + 85L * (GraphOps.Scale / 10) / 100L)
  }

  test("pageRankWeighted rejects nonpositive weights and headroom overruns") {
    import spark.implicits._
    val bad = Seq((1L, 2L, 0L)).toDF("src", "dst", "w")
    intercept[IllegalArgumentException] {
      GraphOps.pageRankWeighted(bad, 1).collect()
    }
    // max(w)·|V|·Scale ≥ 2^63 must be refused at entry (BigInt check),
    // not left to wrap inside the loop.
    val huge = Seq((1L, 2L, Long.MaxValue / GraphOps.Scale))
      .toDF("src", "dst", "w")
    intercept[IllegalArgumentException] {
      GraphOps.pageRankWeighted(huge, 1).collect()
    }
  }

  test("clusteringCoefficient: triangle-with-pendant has the textbook lccs") {
    import spark.implicits._
    // Triangle 1-2-3 plus pendant 3-4: deg(1)=deg(2)=2 lcc=1,
    // deg(3)=3 lcc=2·1/(3·2)=1/3, node 4 deg=1 → excluded.
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L)).toDF("src", "dst")
    val got = GraphOps.clusteringCoefficient(e).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(got === Map(
      1L -> ((1L, 2L, 1.0)), 2L -> ((1L, 2L, 1.0)),
      3L -> ((1L, 3L, 1.0 / 3.0))))
    // Triangle-free node of degree ≥ 2 reports an explicit 0, not a gap.
    val path = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val p = GraphOps.clusteringCoefficient(path).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(p === Map(2L -> 0.0))
  }

  test("labelPropagation equals connectedComponents on a triangle-free graph") {
    import spark.implicits._
    // Two components, both triangle-free (a path and a star): the closed-
    // neighborhood plurality degenerates to min-label spread, so the LPA
    // fixed point is exactly the CC labeling.
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L),
      (10L, 11L), (10L, 12L), (10L, 13L)).toDF("src", "dst")
    val lpa = GraphOps.labelPropagation(e, maxRounds = 20).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val cc = GraphOps.connectedComponents(
        e.select(col("src").as("a"), col("dst").as("b"))).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lpa === cc)
    assert(lpa === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 10L))
  }

  test("labelPropagation separates two cliques joined by one bridge") {
    import spark.implicits._
    // Two 4-cliques {1..4} and {11..14} bridged by 4-11: plurality
    // labeling keeps each clique on its own min label — the community
    // structure CC cannot see (CC would merge everything into one).
    def clique(ids: Seq[Long]) =
      for (a <- ids; b <- ids if a < b) yield (a, b)
    val e = (clique(Seq(1L, 2L, 3L, 4L)) ++
      clique(Seq(11L, 12L, 13L, 14L)) :+ ((4L, 11L))).toDF("src", "dst")
    val got = GraphOps.labelPropagation(e, maxRounds = 20).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      11L -> 11L, 12L -> 11L, 13L -> 11L, 14L -> 11L))
  }

  test("labelPropagation throws rather than returning pre-fixpoint labels") {
    import spark.implicits._
    // A 6-path needs ~5 rounds to settle; a 1-round budget must throw.
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))
      .toDF("src", "dst")
    intercept[IllegalStateException] {
      GraphOps.labelPropagation(e, maxRounds = 1).collect()
    }
  }

  test("labelPropagation is deterministic across partition layouts") {
    val edges = GraphOps.edgesFromLineitem(Tables.lineitem(spark, sfDir), 97)
    val a = GraphOps.labelPropagation(edges, 30).collect().toSeq.sortBy(_.getLong(0))
    val b = GraphOps.labelPropagation(edges.repartition(7), 30).collect()
      .toSeq.sortBy(_.getLong(0))
    assert(a === b)
  }

  test("labelPropagationWeighted: heavy edge outvotes light plurality; " +
      "uniform weights equal the unweighted op") {
    import spark.implicits._
    // Node 3's neighbors: 9 over a w=5 edge, 1 and 2 over w=1 edges.
    // Weighted election after one round: score(9)=5 beats
    // score(1)=score(2)=score(3 self)=1 — the unweighted op would
    // tie-break to label 1 instead.
    val e = Seq((9L, 3L, 5L), (1L, 3L, 1L), (2L, 3L, 1L))
      .toDF("src", "dst", "w")
    val one = GraphOps.labelPropagationWeighted(e, rounds = 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(one(3L) === 9L)
    // Uniform weights: identical to the unweighted op once it has
    // converged within the same round budget.
    def clique(ids: Seq[Long]) = for (a <- ids; b <- ids if a < b) yield (a, b)
    val cl = (clique(Seq(1L, 2L, 3L, 4L)) ++
      clique(Seq(11L, 12L, 13L, 14L)) :+ ((4L, 11L)))
    val wu = cl.map { case (a, b) => (a, b, 1L) }.toDF("src", "dst", "w")
    val got = GraphOps.labelPropagationWeighted(wu, rounds = 20).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val unw = GraphOps.labelPropagation(cl.toDF("src", "dst"), 20).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === unw)
  }

  test("modularity: two bridged triangles score the textbook contributions") {
    import spark.implicits._
    // Triangles {1,2,3} and {4,5,6} + bridge (3,4): m=7; each community
    // has 3 intra edges and degree sum 7 → q_c = 3/7 - (7/14)^2.
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 5L), (5L, 6L),
      (6L, 4L), (3L, 4L)).toDF("src", "dst")
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 4L),
      (6L, 4L)).toDF("node", "community")
    val got = GraphOps.modularity(e, labels).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    val exp = 3.0 / 7 - (7.0 / 14) * (7.0 / 14)
    assert(got(1L) === ((3L, 3L, 7L, exp)))
    assert(got(4L) === ((3L, 3L, 7L, exp)))
  }

  test("aggState merge equals the from-scratch aggregate, any split") {
    val li = Tables.lineitem(spark, sfDir)
    val direct = AggOps.aggStateView(
      AggOps.aggState(li, "l_returnflag", "l_quantity"), "l_returnflag")
      .collect().map(r => r.getString(0) -> r.toSeq.tail).toMap
    val merged = AggOps.aggStateView(
      AggOps.mergeAggStates(
        AggOps.aggState(li.filter(col("l_orderkey") % 2 === 0),
          "l_returnflag", "l_quantity"),
        AggOps.aggState(li.filter(col("l_orderkey") % 2 =!= 0),
          "l_returnflag", "l_quantity"),
        "l_returnflag"), "l_returnflag")
      .collect().map(r => r.getString(0) -> r.toSeq.tail).toMap
    assert(merged === direct)
  }

  test("hitsFixed: one hand-computed max-norm round; and an " +
      "independent model at depth") {
    // 1->2, 3->2, 2->4: after round 1, authority max-norms on node 2.
    val edges = Seq((1L, 2L), (3L, 2L), (2L, 4L)).toDF("src", "dst")
    val s = GraphOps.HitsScale
    val got1 = GraphOps.hitsFixed(edges, 1).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got1(2L) === ((s, s / 2)))       // a: 2S/2S; h: a(4)=S/2 max-normed
    assert(got1(4L) === ((s / 2, 0L)))      // a: S/2S; no out-links
    assert(got1(1L) === ((0L, s)))          // no in-links; h: a(2)=S
    assert(got1(3L) === ((0L, s)))
    // Depth: independent Scala-collections model, 5 rounds.
    def modelHits(es: Seq[(Long, Long)], iters: Int) = {
      val ns = es.flatMap(t => Seq(t._1, t._2)).distinct
      var h = ns.map(_ -> s).toMap
      var a = Map.empty[Long, Long]
      for (_ <- 1 to iters) {
        val ar = ns.map(n => n -> es.filter(_._2 == n)
          .map(e => h(e._1)).sum).toMap
        val am = ar.values.max
        a = ar.map { case (n, v) => n -> (if (am == 0) 0L else v * s / am) }
        val hr = ns.map(n => n -> es.filter(_._1 == n)
          .map(e => a(e._2)).sum).toMap
        val hm = hr.values.max
        h = hr.map { case (n, v) => n -> (if (hm == 0) 0L else v * s / hm) }
      }
      ns.map(n => n -> ((a(n), h(n)))).toMap
    }
    val es5 = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 1L), (4L, 3L),
      (4L, 2L))
    val got5 = GraphOps.hitsFixed(es5.toDF("src", "dst"), 5).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got5 === modelHits(es5, 5))
    // Shuffled path: with broadcasts disabled the score vector joins
    // the edges through a shuffle, with the same rows.
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.get(key)
    try {
      spark.conf.set(key, "-1")
      val shuffled = GraphOps.hitsFixed(es5.toDF("src", "dst"), 5)
      assert(!planText(shuffled.queryExecution.executedPlan)
        .contains("BroadcastHashJoin"))
      val got5s = shuffled.collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      assert(got5s === got5)
      assert(got5s === modelHits(es5, 5))
    } finally spark.conf.set(key, saved)
  }

  /** Waits until the listener bus has delivered every posted event. */
  private def drainListenerBus(): Unit = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }

  /** `body`'s result and the number of Spark jobs it started. */
  private def countJobs[T](body: => T): (T, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    drainListenerBus()
    spark.sparkContext.addSparkListener(l)
    try {
      val out = body
      drainListenerBus()
      (out, jobs.get)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("graph loops spend one Spark action per round, and hitsFixed " +
      "leaves only its two final checkpoints pinned") {
    val edges = GraphOps.edgesFromLineitem(Tables.lineitem(spark, sfDir))
    val sc = spark.sparkContext
    val pinnedBefore = sc.getPersistentRDDs.keySet
    val (hits, hitsJobs) = countJobs(GraphOps.hitsFixed(edges, 8).collect())
    assert(hits.nonEmpty)
    // 16 half-rounds: a score broadcast, the re-aggregation's shuffle
    // and the checkpoint itself, plus the final join and sort.
    assert(hitsJobs <= 3 * 16 + 10, s"hitsFixed(edges, 8) ran $hitsJobs jobs")
    val left = sc.getPersistentRDDs.keySet -- pinnedBefore
    assert(left.size <= 2, s"hitsFixed left ${left.size} RDDs pinned")
    // kCore on a 4-clique with a 6-node tail: k = 2 peels the tail one
    // node per round (7 rounds with the fixpoint check).
    import spark.implicits._
    val clique = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
    val tail = (4L to 9L).map(a => (a, a + 1))
    val kEdges = (clique ++ tail).toDF("src", "dst")
    val (core, coreJobs) = countJobs(GraphOps.kCore(kEdges, 2).collect())
    assert(core.map(_.getLong(0)).toSet === Set(1L, 2L, 3L, 4L))
    assert(coreJobs <= 3 * 7 + 8, s"kCore ran $coreJobs jobs")
    info(s"jobs: hitsFixed $hitsJobs, kCore $coreJobs")
  }

  test("personalizedPageRank: seeds carry the base, non-seed no-in " +
      "nodes stay 0; seedless teleport decays mass") {
    // seeds = even nodes; node 1 (odd) has in-links only from 2.
    val edges = Seq((2L, 1L), (1L, 3L), (4L, 1L), (3L, 4L))
      .toDF("src", "dst")
    val got = GraphOps.personalizedPageRank(edges, 6, 2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val base = 150000000000L
    // seeds hold at least the teleport base
    assert(got(2L) >= base && got(4L) >= base)
    // non-seed with in-links accumulates rank but no base
    assert(got(1L) > 0L)
    // node 2 has no in-links at all -> exactly the base
    assert(got(2L) === base)
    // independent model
    def model(iters: Int): Map[Long, Long] = {
      val es = Seq((2L, 1L), (1L, 3L), (4L, 1L), (3L, 4L))
      val ns = es.flatMap(t => Seq(t._1, t._2)).distinct
      val deg = es.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
      var r = ns.map(n => n -> (if (n % 2 == 0) base else 0L)).toMap
      for (_ <- 1 to iters) {
        val sums = es.groupBy(_._2).map { case (d, in) =>
          d -> in.map { case (srcN, _) => r(srcN) / deg(srcN) }.sum }
        r = ns.map(n => n ->
          ((if (n % 2 == 0) base else 0L) +
            85L * sums.getOrElse(n, 0L) / 100L)).toMap
      }
      r
    }
    assert(got === model(6))
  }

  test("pageRankWarmStart: resuming from a persisted vector equals " +
      "one longer cold run") {
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 1L), (4L, 3L))
      .toDF("src", "dst")
    val prior = GraphOps.pageRankFixed(edges, 7).select("node", "rank_fp")
    val warm = GraphOps.pageRankWarmStart(edges, prior, 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val cold = GraphOps.pageRankFixed(edges, 10).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(warm === cold)
    // a node absent from the prior starts at the cold init
    val grown = edges.union(Seq((5L, 3L)).toDF("src", "dst"))
    val w2 = GraphOps.pageRankWarmStart(grown, prior, 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // node 5 has no in-links: after one round it holds the damping base
    assert(w2(5L) === 150000000000L)
  }

  test("noveltyStats: first occurrence by id order, copies score 0") {
    import graft.ops.DedupOps
    val docs = Seq(
      (1L, "a1 a2 a3 a4 a5 a6 a7 a8 a9"),   // 2 grams, both novel
      (2L, "a1 a2 a3 a4 a5 a6 a7 a8 a9"),   // full copy -> 0
      // shares gram a1..a8 with doc 1, adds one new gram b
      (3L, "b0 a1 a2 a3 a4 a5 a6 a7 a8"),
      (4L, "x1 x2")                          // < 8 words -> absent
    ).toDF("doc_id", "text")
    val got = DedupOps.noveltyStats(docs).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got(1L) === ((2L, 2L, 1000000L)))
    assert(got(2L) === ((2L, 0L, 0L)))
    assert(got(3L) === ((2L, 1L, 500000L)))
    assert(!got.contains(4L))
  }

  test("linkPredict: cycle diagonals found with exact Jaccard, " +
      "adjacent pairs excluded") {
    // 4-cycle 1-2-3-4-1: only non-adjacent pairs are the diagonals.
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L))
      .toDF("src", "dst")
    val got = GraphOps.linkPredict(edges, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    // diagonals share BOTH other nodes: cn=2, jacc = 2/(2+2-2) = 1
    assert(got === Map((1L, 3L) -> ((2L, 1000000L)),
      (2L, 4L) -> ((2L, 1000000L))))
  }

  test("linkPredict hub cap: wedges through a supernode are pruned") {
    // star: hub 9 -> leaves 1..5 (hub degree 5)
    val star = (1L to 5L).map(l => (9L, l)).toDF("src", "dst")
    // cap admits the hub: every leaf pair shares it (cn = 1)
    val open = GraphOps.linkPredict(star, 100, maxNbrDeg = 5L).collect()
    assert(open.length === 10) // C(5,2) leaf pairs
    open.foreach(r => assert(r.getLong(2) === 1L))
    // cap excludes the hub: neighbor sets empty, no candidates at all
    assert(GraphOps.linkPredict(star, 100, maxNbrDeg = 2L).isEmpty)
  }
}
