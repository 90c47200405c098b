package graft

import graft.core.Tables
import graft.operators.Graph

/** Fixed-point PageRank: the distributed iteration must equal the in-JVM
  * integer reference exactly (same micro-unit arithmetic), and the rank
  * order must reflect the graph structure. */
class GraphSpec extends SparkTestBase {
  import spark.implicits._

  test("pagerank equals the in-JVM fixed-point reference on a hand-built graph") {
    // star (hub 1 ↔ leaves 2..6) + a 3-cycle (10,11,12) + a pendant pair
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L), (1L, 6L),
      (10L, 11L), (11L, 12L), (12L, 10L), (20L, 21L))
    val got = Graph.pageRankOf(spark, edges.toDF("src", "dst"))
      .as[(Long, Long)].collect().toMap
    val want = Graph.pageRankLocal(edges)
    assert(got === want)
    // the hub out-ranks every leaf; cycle nodes are symmetric
    assert(got(1L) > got(2L))
    assert(Seq(2L, 3L, 4L, 5L, 6L).map(got).distinct.size === 1)
    assert(Seq(10L, 11L, 12L).map(got).distinct.size === 1)
    assert(got(20L) === got(21L))
  }

  test("pagerank is deterministic and never loses the base mass") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 3L))
      .toDF("src", "dst")
    val a = Graph.pageRankOf(spark, edges).as[(Long, Long)].collect().toMap
    val b = Graph.pageRankOf(spark, edges).as[(Long, Long)].collect().toMap
    assert(a === b)
    // every node's rank >= the (1-d) base mass; integer floors only ever
    // shave mass, so no rank exceeds scale * n either
    a.values.foreach { r =>
      assert(r >= Graph.PrBase && r <= Graph.PrScale * a.size)
    }
  }

  test("triangle counts on hand-built co-membership groups") {
    val mem = Seq(
      (100L, 1L), (100L, 2L), (100L, 3L), // K3 → triangle {1,2,3}
      // triangle {3,4,5} assembled from three 2-member groups
      (101L, 3L), (101L, 4L), (102L, 4L), (102L, 5L), (103L, 3L), (103L, 5L),
      // 4-cycle 6-7-8-9 with no chord → zero triangles
      (104L, 6L), (104L, 7L), (105L, 7L), (105L, 8L),
      (106L, 8L), (106L, 9L), (107L, 6L), (107L, 9L),
    ).toDF("gk", "node")
    val got = Graph.triangleCountsOf(spark, mem)
      .as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 2L, 4L -> 1L, 5L -> 1L))
  }

  test("basket rules: support filter, exact integer confidence and lift, both directions") {
    val mem = Seq(
      (1L, 10L), (1L, 20L), (1L, 30L),  // A,B,C together once
      (2L, 10L), (2L, 20L),             // A,B again ×2 → s_AB = 3
      (3L, 10L), (3L, 20L),
      (4L, 30L), (4L, 40L),             // C,D once → below min support
      (5L, 50L),                        // singleton basket
    ).toDF("gk", "node")
    val got = Graph.basketRulesOf(spark, mem)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    // s_A = s_B = 3, N = 5 → conf = 3/3 = 1.0; lift = 3·5·1000/(3·3) = 1666
    assert(got === Set(
      (10L, 20L, 3L, 1000000L, 1666L),
      (20L, 10L, 3L, 1000000L, 1666L),
    ))
  }

  test("K4 yields three triangles per node; duplicate memberships don't double-count") {
    val mem = Seq(
      (1L, 1L), (1L, 2L), (1L, 3L), (1L, 4L),
      (2L, 1L), (2L, 2L), // repeats edge 1-2: edge set must stay distinct
    ).toDF("gk", "node")
    val got = Graph.triangleCountsOf(spark, mem)
      .as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  test("pathological baskets are dropped before any pair expansion") {
    // one organic triangle basket + one mega-group over BasketCap: the
    // mega-group must contribute ZERO edges/rules (guard against the
    // quadratic per-group expansion the skew rehearsal plants)
    val mega = (1 to (Graph.BasketCap.toInt + 1)).map(i => (999L, 10000L + i))
    val mem = (Seq((1L, 1L), (1L, 2L), (1L, 3L),
      (2L, 1L), (2L, 2L), (3L, 1L), (3L, 2L), (3L, 3L)) ++ mega)
      .toDF("gk", "node")
    val tri = Graph.triangleCountsOf(spark, mem)
      .as[(Long, Long)].collect().toMap
    assert(tri.keySet === Set(1L, 2L, 3L)) // no mega-group node appears
    val rules = Graph.basketRulesOf(spark, mem)
      .select("antecedent").as[Long].collect()
    assert(rules.forall(_ < 10000L))
    // cap boundary: a group AT the cap still expands
    val atCap = (1 to Graph.BasketCap.toInt).map(i => (5L, 20000L + i))
    val mem2 = (atCap ++ Seq((6L, 20001L), (6L, 20002L))).toDF("gk", "node")
    val e = Graph.basketRulesOf(spark, mem2)
      .select("antecedent").as[Long].collect()
    assert(e.nonEmpty) // pair (20001, 20002) reaches support 2 via gk 5+6
  }

  test("components: HashMin labels a hand-built multi-component graph correctly") {
    // path 1-2-3-4 (one component, min 1), pair {10,11}, triangle {20,21,22}
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L),
      (10L, 11L), (20L, 21L), (21L, 22L), (20L, 22L)).toDF("u", "v")
    val got = Graph.componentsOf(spark, edges).as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L))
  }

  test("components: HashMin equals union-find on the corpus co-purchase graph") {
    import org.apache.spark.sql.functions.col
    val edges = Graph.supportPairs(spark,
        graft.core.Tables.lineitem(spark, sf)
          .select(col("l_orderkey").as("gk"), col("l_partkey").as("node")))
      .select(col("a").as("u"), col("b").as("v"))
      .localCheckpoint()
    val hashMin = Graph.componentsOf(spark, edges)
      .as[(Long, Long)].collect().toMap
    assert(hashMin === Graph.componentsLocal(edges.as[(Long, Long)].collect().toSeq))
    assert(hashMin.nonEmpty)
  }

  test("components: converges exactly at the CcIters diameter bound") {
    // 13-node path 1-2-…-13: diameter 12 = CcIters — label 1 reaches node
    // 13 on the final round and the fixpoint probe sees a stable labeling
    val edges = (1L to 12L).map(i => (i, i + 1)).toDF("u", "v")
    val got = Graph.componentsOf(spark, edges).as[(Long, Long)].collect().toMap
    assert(got === (1L to 13L).map(_ -> 1L).toMap)
  }

  test("components: paths wider than CcIters get exact labels in more blocks, RDDs freed") {
    // 14-node path: diameter 13 > CcIters = 12 — after one block node 14
    // still holds label 2, so the probe runs a second block; the 64-node
    // path needs six
    import org.apache.spark.sql.execution.LogicalRDD
    for (n <- Seq(14L, 64L)) {
      val edges = (1L until n).map(i => (i, i + 1)).toDF("u", "v")
      val persisted = spark.sparkContext.getPersistentRDDs.keySet
      val out = Graph.componentsOf(spark, edges)
      assert(out.as[(Long, Long)].collect().toMap === (1L to n).map(_ -> 1L).toMap)
      // every RDD the loop persisted (placed pairs, degrees) is released;
      // only the sealed result stays, until its owner drops it
      out.queryExecution.analyzed.foreach {
        case r: LogicalRDD => r.rdd.unpersist(blocking = true)
        case _ =>
      }
      assert(spark.sparkContext.getPersistentRDDs.keySet === persisted, s"$n-node path")
    }
  }

  test("kcore: peeling cascades and reports in-core degrees exactly") {
    // K4 {1,2,3,4}; 5 looks 3-core-worthy (deg 3: edges to 1,2,7) but its
    // pendant neighbor 7 peels first, dropping 5 to degree 2 → cascade
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (5L, 1L), (5L, 2L), (5L, 7L), (6L, 1L)).toDF("u", "v")
    val got = Graph.kcoreOf(spark, edges).as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  test("kcore: fixed-round peel reaches its fixpoint on the corpus graph") {
    import org.apache.spark.sql.functions.{col, min => smin}
    val edges = Graph.supportPairs(spark,
        graft.core.Tables.lineitem(spark, sf)
          .select(col("l_orderkey").as("gk"), col("l_partkey").as("node")))
      .select(col("a").as("u"), col("b").as("v"))
      .localCheckpoint()
    val core = Graph.kcoreOf(spark, edges).as[(Long, Long)].collect().toSet
    // fixpoint ⇒ every survivor holds ≥ K edges inside the core (an
    // unconverged peel would leave a sub-K degree behind) …
    core.foreach { case (_, d) => assert(d >= Graph.KcoreK) }
    // … and an extra peel round changes nothing
    val extra = Graph.kcoreOf(spark, edges, Graph.KcoreIters + 1)
      .as[(Long, Long)].collect().toSet
    assert(extra === core)
  }

  test("DOULION estimate: deterministic, internally consistent, error bounded vs exact") {
    import org.apache.spark.sql.functions.sum
    val approx = Graph.triangleCountApprox(spark, sf)
      .as[(Long, Long, Long, Long)].collect()
    assert(approx.length === 1)
    val (nEdges, nSampled, sampledTri, est) = approx.head
    // estimator internals: p = 1/TriSampleMod of edges survive the coin
    // (binomial band), and the estimate is exactly the 1/p^3 scale-up
    assert(est === sampledTri * Graph.TriSampleMod * Graph.TriSampleMod *
      Graph.TriSampleMod)
    val p = 1.0 / Graph.TriSampleMod
    assert(math.abs(nSampled - nEdges * p) < 5 * math.sqrt(nEdges * p * (1 - p)),
      s"edge coin is biased: $nSampled of $nEdges kept")
    // error bound vs the exact count (the HLL-sketch discipline): DOULION
    // variance gives σ ≈ sqrt(T/p³ + extra wedge terms); on this corpus a
    // 35% relative band holds with wide margin for any healthy estimator
    val exact = Graph.triangleCounts(spark, sf)
      .agg(sum("n_triangles")).as[Long].head() / 3L
    val relErr = math.abs(est - exact).toDouble / exact
    info(s"exact=$exact est=$est relErr=$relErr " +
      s"(sampled $nSampled/$nEdges edges, $sampledTri triangles)")
    assert(relErr < 0.35, s"estimate $est vs exact $exact (relErr $relErr)")
    // deterministic: the md5 coin makes re-runs bit-identical
    val again = Graph.triangleCountApprox(spark, sf)
      .as[(Long, Long, Long, Long)].collect()
    assert(again.head === approx.head)
  }

  test("degree histogram: buckets reconcile with an in-JVM recount") {
    import spark.implicits._
    val got = Graph.degreeHistogram(spark, sf)
      .as[(String, Int, Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    val edges = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(($"l_partkey" * 2).as[Long], ($"l_suppkey" * 2 + 1).as[Long])
      .collect()
    val und = edges.flatMap { case (p, s) => Seq((p, s), (s, p)) }.distinct
    val want = und.groupBy(_._1).toSeq.map { case (node, nb) =>
      (if (node % 2 == 0) "part" else "supplier", nb.length.toLong)
    }.groupBy { case (side, deg) =>
      (side, (63 - java.lang.Long.numberOfLeadingZeros(deg)).toInt)
    }.map { case (k, vs) => k -> (vs.size.toLong, vs.map(_._2).sum) }
    assert(got === want)
    // buckets respect their own ranges
    Graph.degreeHistogram(spark, sf)
      .as[(String, Int, Long, Long, Long, Long)].collect()
      .foreach { case (_, b, _, sumDeg, lo, hi) =>
        assert(lo === (1L << b) && hi === (1L << (b + 1)) - 1)
        assert(sumDeg >= lo, "sum of degrees can't be below one node at lo")
      }
  }

  test("label propagation equals the in-JVM plurality reference; partition-invariant") {
    // two dense cliques joined by one bridge edge: LPA must separate them
    val k1 = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
    val k2 = for (a <- 10L to 13L; b <- (a + 1) to 13L) yield (a, b)
    val edges = (k1 ++ k2 :+ ((4L, 10L))).toSeq
    val want = Graph.labelPropagationLocal(edges)
    def run(parts: Int) =
      Graph.labelPropagationOf(spark,
        edges.toDF("src", "dst").repartition(parts))
        .as[(Long, Long)].collect().toMap
    val got = run(2)
    assert(got === want)
    assert(run(7) === got)
    // each clique converges to ONE label, and the two differ
    assert(Seq(1L, 2L, 3L).map(got).distinct.size === 1)
    assert(Seq(10L, 11L, 12L, 13L).map(got).distinct.size === 1)
    assert(got(1L) !== got(11L))
  }

  test("personalized pagerank: mass concentrates at seeds, zero off-component") {
    val out = Graph.personalizedPageRank(spark, sf)
      .as[(Long, Long)].collect().toMap
    // every emitted rank is positive by contract, and at least one seed
    // node (part-side, partkey % PprSeedMod == 0) carries the teleport base
    assert(out.values.forall(_ > 0))
    val seeds = out.keys.filter(n =>
      n % 2 == 0 && (n / 2) % Graph.PprSeedMod == 0)
    assert(seeds.nonEmpty)
    // a seed's rank includes its own teleport mass: it must exceed the
    // global minimum emitted rank
    assert(seeds.map(out).max > out.values.min)
    // determinism
    val again = Graph.personalizedPageRank(spark, sf)
      .as[(Long, Long)].collect().toMap
    assert(again === out)
  }

  test("personalized pagerank equals the in-JVM seeded reference on a hand-built graph") {
    // seeds 0 and 100 (even, half ≡ 0 mod PprSeedMod): a star with a tail
    // around 0, a path from 100, and a seedless path that gets no mass
    val edges = Seq((0L, 1L), (0L, 3L), (0L, 5L), (5L, 7L),
      (100L, 102L), (102L, 104L), (104L, 106L), (11L, 13L), (13L, 15L))
    val seeds = edges.flatMap { case (a, b) => Seq(a, b) }.filter(Graph.isSeed).toSet
    assert(seeds === Set(0L, 100L))
    val got = Graph.personalizedPageRankOf(spark, edges.toDF("src", "dst"))
      .as[(Long, Long)].collect().toMap
    assert(got === Graph.pageRankLocal(edges, Some(seeds)))
    // the seedless component is omitted; each seed out-ranks its neighbors
    assert(got.keySet === Set(0L, 1L, 3L, 5L, 7L, 100L, 102L, 104L, 106L))
    assert(Seq(1L, 3L, 5L).forall(n => got(0L) > got(n)))
    assert(got(100L) > got(102L))
  }

  test("fixpoint kernel: a state missing an edge source fails loudly, naming the node") {
    val loop = new Graph.Loop(spark)
    val g = loop.place(spark.sparkContext.parallelize(
      Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L))))
    val partial = g.init(n => n).filter(_._1 != 3L) // node 3 has no state
    val ex = intercept[Exception] {
      Graph.messages(g, partial, "spec")((x, _) => x).collect()
    }
    val cause = Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null)
      .collectFirst { case e: IllegalStateException => e }
    assert(cause.exists(_.getMessage.contains("node 3 has an edge but no state")),
      s"expected a loud miss, got $ex")
    // BFS's reached-only state is the declared exception: a miss sends nothing
    val sent = Graph.messages(g, partial, "spec", reachedOnly = true)((x, _) => x)
      .collect().toSet
    assert(sent === Set((2L, 1L), (1L, 2L), (3L, 2L)))
    Seq(g.pairs, g.deg).foreach(_.unpersist())
  }

  test("bfs layers: exact hop distances on a hand path; horizon bound honored") {
    // path 0-2-4-6-...: node 0 is the only seed (0/2 % 50 == 0); node 2k
    // sits k hops away. Use part-side ids (even) so the seed rule applies.
    val path = (0L until 9L).map(k => (2 * k, 2 * (k + 1))).toSeq
    val got = graft.operators.Graph.bfsLayersOf(spark,
      path.toDF("src", "dst")).as[(Long, Long)].collect().toMap
    // nodes within BfsMaxHops hops carry their exact distance
    (0 to Graph.BfsMaxHops).foreach { k =>
      assert(got(2L * k) === k.toLong, s"node ${2 * k}")
    }
    // beyond the horizon: absent BY CONTRACT
    assert(!got.contains(2L * (Graph.BfsMaxHops + 1)))
  }

  test("hits equals the in-JVM integer reference; breadth orders the scores") {
    // bipartite: hub 1 points at 3 auths, hub 2 at 1; auth 10 pointed at
    // by both hubs, 11/12 by hub 1 only
    val edges = Seq((1L, 10L), (1L, 11L), (1L, 12L), (2L, 10L))
    val got = Graph.hitsOf(spark, edges.toDF("src", "dst"))
      .as[(Long, String, Long)].collect()
      .map { case (n, k, v) => (n, k) -> v }.toMap
    val (hub, auth) = Graph.hitsLocal(edges)
    assert(got === (hub.map { case (n, v) => (n, "hub") -> v } ++
      auth.map { case (n, v) => (n, "authority") -> v }))
    // the 3-out hub dominates; the doubly-cited auth dominates; the top
    // score of each side is exactly the scale (max normalization)
    assert(got((1L, "hub")) === Graph.PrScale)
    assert(got((1L, "hub")) > got((2L, "hub")))
    assert(got((10L, "authority")) === Graph.PrScale)
    assert(got((10L, "authority")) > got((11L, "authority")))
    assert(got((11L, "authority")) === got((12L, "authority")))
  }

  test("random walks: every step follows an edge, walk population is exact") {
    val out = Graph.randomWalks(spark, sf)
      .as[(Long, Long, Long)].collect()
    val byWalk = out.groupBy(_._1)
    // seed catalog: part-side nodes with partkey % PprSeedMod == 0; each
    // seed starts WalksPerSeed walks and the symmetric graph never
    // dead-ends, so every walk has exactly WalkSteps+1 positions
    assert(byWalk.nonEmpty)
    byWalk.foreach { case (w, rows) =>
      assert(rows.length === Graph.WalkSteps + 1, s"walk $w")
      assert(rows.map(_._2).sorted === (0L to Graph.WalkSteps).toArray,
        s"walk $w steps")
      // step 0 is the seed the walk id encodes
      val seed = w / Graph.WalksPerSeed
      assert(rows.find(_._2 == 0L).get._3 === seed)
    }
    // each consecutive (step k → k+1) hop is a real graph edge
    val edges = Tables.lineitem(spark, sf)
      .select(($"l_partkey" * 2).as("src"), ($"l_suppkey" * 2 + 1).as("dst"))
      .as[(Long, Long)].collect()
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }.toSet
    byWalk.values.foreach { rows =>
      val seq = rows.sortBy(_._2).map(_._3)
      seq.sliding(2).foreach { case Array(a, b) =>
        assert(edges.contains((a, b)), s"hop $a -> $b not an edge")
      }
    }
    // determinism: the draw is a pure hash of (walk, step, node)
    val again = Graph.randomWalks(spark, sf).as[(Long, Long, Long)].collect()
    assert(again.sorted === out.sorted)
  }

  test("adamic-adar: rare centers outweigh hubs, terms snap exactly") {
    // square 1-2-3-4 plus pendant 5 on 2: pair (1,3) shares centers
    // {2 (deg 3), 4 (deg 2)}; pair (2,4) shares {1, 3} (both deg 2)
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (2L, 5L))
    val got = Graph.adamicAdarOf(spark, edges.toDF("src", "dst"))
      .as[(Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    val t2 = math.round(1e6 / math.log(2.0)) // deg-2 center term: 1442695
    val t3 = math.round(1e6 / math.log(3.0)) // deg-3 center term: 910239
    assert(got.keySet === Set((1L, 3L), (2L, 4L)))
    assert(got((1L, 3L)) === ((2L, t3 + t2)))
    assert(got((2L, 4L)) === ((2L, 2 * t2)))
    // the all-rare-centers pair outscores the hub-assisted one: AA's
    // defining property vs plain common-neighbor counting
    assert(got((2L, 4L))._2 > got((1L, 3L))._2)
  }

  test("modularity: two disjoint cliques score the textbook Q = 1/2") {
    // two disjoint triangles; LPA trivially labels each its own community
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (11L, 12L), (12L, 13L), (11L, 13L))
    val got = Graph.modularityOf(spark, edges.toDF("src", "dst"))
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(got.length === 2)
    got.foreach { case (_, nNodes, eIn, dSum, q) =>
      assert(nNodes === 3L)
      assert(eIn === 3L)     // each triangle's 3 internal edges
      assert(dSum === 6L)    // 3 nodes × degree 2
      // e_c/m − (d_c/2m)² = 3/6 − (6/12)² = 1/4 per community
      assert(q === 250000L)
    }
    // total Q = 1/2 — the classic two-equal-cliques modularity
    assert(got.map(_._5).sum === 500000L)
  }

  test("jaccard neighbors: exact scores on a hand graph; hub centers add no pairs") {
    // square 1-2-3-4 (neighbors(1)={2,4}, neighbors(3)={2,4} → J(1,3)=1)
    // plus a pendant 5 on 2: neighbors(2)={1,3,5}, neighbors(4)={1,3}
    // → J(2,4) = 2/3
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (2L, 5L))
    val got = Graph.jaccardNeighborsOf(spark, edges.toDF("src", "dst"))
      .as[(Long, Long, Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r).toMap
    assert(got.keySet === Set((1L, 3L), (2L, 4L)))
    assert(got((1L, 3L))._6 === Graph.PrScale)        // identical sets
    assert(got((2L, 4L))._3 === 2L)                   // common = {1, 3}
    assert(got((2L, 4L))._6 === 2L * Graph.PrScale / 3L)
    // a center above the cap contributes no candidate pairs: star hub 100
    // with JaccCenterCap+1 leaves yields nothing (leaves share only the hub)
    val star = (1L to (Graph.JaccCenterCap + 1).toLong).map(k => (100L, 200L + k))
    val none = Graph.jaccardNeighborsOf(spark, star.toDF("src", "dst"))
    assert(none.count() === 0L)
  }
}
