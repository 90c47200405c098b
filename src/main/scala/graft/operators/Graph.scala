package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.{HashPartitioner, Partition, Partitioner, TaskContext}
import org.apache.spark.rdd.RDD
import scala.collection.mutable.LongMap
import graft.core.Tables

/** Link-graph analytics over the reference's web-link graph.
  *
  * The reverse-web-link-graph app (reference `applications/rwlg-maple.py`,
  * `applications/rwlg-juice.py`) is the reference's only graph workload:
  * its data model is an edge list and its one query is edge reversal +
  * adjacency gather ([[TextOps.rwlgDataFrame]]). PageRank is the canonical
  * next query a link-graph user runs — the centrality score CommonCrawl-
  * scale corpus curation uses as a document-quality prior — and the
  * operator class (iterative message passing to a fixpoint) is the one
  * near-dup clustering runs too: [[Dedup.dedupClusters]] labels its
  * clusters with this file's connected components ([[componentsOf]]).
  *
  * Arithmetic is FIXED-POINT integer end-to-end (the [[Similarity]] IVF
  * Lloyd-means precedent): ranks are BIGINT micro-units, per-edge
  * contributions are integer division by out-degree, and the damping
  * step is the integer rational 85/100 — so Spark and the DuckDB twin
  * agree bit-for-bit at every iteration, with no float-association or
  * round-half knife edge anywhere.
  *
  * Scale shape: the iterative operators (PageRank, PPR, HashMin CC, BFS,
  * LPA, HITS, random walks) run on one RDD message-passing kernel — flat
  * edges placed once, one map-side-combined shuffle per round (the kernel
  * note below); the rest are DataFrame plans. Driver traffic is a scalar
  * at most (HITS's max, the CC convergence probe's count) — no collect
  * anywhere.
  */
object Graph {

  /** Fixed-point scale: 1.0 rank unit = 1,000,000 micro-units. */
  val PrScale = 1000000L
  /** Damping d = 0.85 as the integer rational 85/100. */
  val PrDamp = 85L
  /** Per-node base mass (1 − d) · scale = 150,000 micro-units. */
  val PrBase: Long = PrScale * (100L - PrDamp) / 100L
  /** Fixed iteration count — PageRank's standard convergence horizon for
    * graphs this diameter; a fixed count (not an epsilon test) keeps the
    * oracle replayable as a finite CTE chain. */
  val PrIters = 10

  /** The part → supplier link list every link-graph query reads: node ids
    * namespaced into one keyspace arithmetically — part k → 2k, supplier
    * k → 2k+1 — because partkeys and suppkeys overlap as raw integers; an
    * 8-byte key beats string labels in the shuffle. */
  private def partSupplierEdges(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, d)
      .select(($"l_partkey" * 2).as("src"), ($"l_suppkey" * 2 + 1).as("dst"))
  }

  /** Order baskets as a (gk, node) membership frame: order → part. */
  private def orderBaskets(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, d).select($"l_orderkey".as("gk"), $"l_partkey".as("node"))
  }

  /** The symmetric distinct (src, dst) frame of a directed edge frame,
    * persisted for the fan-out reuse of [[jaccardNeighborsOf]],
    * [[adamicAdarOf]] and [[modularityOf]] (their cache contract). A
    * columnar cache, NOT a localCheckpoint: a checkpoint pins DESERIALIZED
    * rows (~100 B/row — 3.6 GB of an 8 GiB heap at sf3, the measured OOM),
    * where the cache holds the same edges in compressed pages and spills
    * cleanly. */
  private def undirected(e0: DataFrame): DataFrame =
    e0.select("src", "dst").union(e0.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().persist()

  /** The oracles' twin of [[partSupplierEdges]]: the link list `li` and
    * its symmetric distinct closure `und(src, dst)`. MATERIALIZED because
    * every consumer reads `und` more than once (degrees, edges, nodes). */
  private val undCte: String =
    """li AS (SELECT 2 * l_partkey AS p, 2 * l_suppkey + 1 AS s FROM lineitem),
      |und AS MATERIALIZED (SELECT p AS src, s AS dst FROM li UNION SELECT s, p FROM li)"""
      .stripMargin

  /** The seed catalog of [[personalizedPageRank]], [[bfsLayers]] and
    * [[randomWalks]]: part-side nodes whose partkey is ≡ 0 mod
    * [[PprSeedMod]] — pure node-id arithmetic, so no seed frame rides the
    * rounds (an even node halves exactly, matching the oracle's `//`). */
  private[graft] def isSeed(n: Long): Boolean = n % 2 == 0 && (n / 2) % PprSeedMod == 0

  /** [[isSeed]] as a DuckDB predicate over the node column `c`. */
  private def seedSql(c: String): String = s"$c % 2 = 0 AND ($c // 2) % $PprSeedMod = 0"

  // ------------------------------------------- the message-passing kernel
  // Every iterative operator here (PageRank, PPR, HashMin CC, BFS, LPA,
  // HITS, random walks) repeats one round: each node sends a message along
  // its edges and the messages are reduced by destination. The rounds run
  // at the RDD layer — as Catalyst queries each round paid plan analysis,
  // AQE re-planning and a checkpoint barrier for microseconds of
  // arithmetic (OPTIMIZATION_r11.md). The FLAT (src, dst) pairs are placed
  // once on a fixed HashPartitioner and persisted; a round streams them
  // against a per-partition hash map of the current state (both sides are
  // co-partitioned, so the "join" is one map lookup per edge), and its one
  // shuffle is a map-side-combined reduceByKey on the SAME partitioner,
  // whose output is co-partitioned for the next round. A whole loop is one
  // job at the materializing action.
  //
  // Why flat streamed edges: the state maps hold one entry per node and
  // the edges only stream past them, so per-task memory is O(nodes in
  // partition), never O(max degree). Nothing in the family grows with one
  // node's degree — a celebrity hub costs edges streamed, not an
  // allocation, where a per-node neighbor array would be one task's OOM.
  //
  // The partition count is spark.sql.shuffle.partitions, the scale knob
  // every DataFrame shuffle here uses.

  /** One fixpoint run's shared setup: the loop partitioner and every RDD
    * the loop holds across rounds (persisted, spillable) — see
    * [[Loop.run]]. */
  private[graft] final class Loop(s: SparkSession) {
    val part = new HashPartitioner(
      s.conf.get("spark.sql.shuffle.partitions", "200").toInt)
    private val held = scala.collection.mutable.ArrayBuffer.empty[RDD[_]]

    /** Persist an RDD the loop reads across rounds, until the run ends. */
    def hold[T](rdd: RDD[T]): RDD[T] = {
      held += rdd
      rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

    /** Flat (src, dst) pairs placed by src, with each src's distinct
      * out-degree — narrow: the count runs on the pairs' own partitioner. */
    def place(pairs: RDD[(Long, Long)]): Placed = {
      val placed = hold(pairs.partitionBy(part))
      new Placed(placed, hold(placed.mapValues(_ => 1L).reduceByKey(part, _ + _)), part)
    }
  }

  private[graft] object Loop {
    /** Run one fixpoint loop: `body` builds the result on a fresh [[Loop]],
      * the result is materialized eagerly (so the caller's action replays
      * none of the loop), and everything the loop held is released on
      * every exit, a throw included. */
    def run(s: SparkSession)(body: Loop => DataFrame): DataFrame = {
      val loop = new Loop(s)
      try body(loop).localCheckpoint()
      finally loop.held.foreach(_.unpersist(false))
    }
  }

  /** Flat (src, dst) pairs placed by src on a loop's partitioner, and each
    * src's out-degree, co-partitioned with them — the node universe every
    * loop initializes its state from. */
  private[graft] final class Placed(val pairs: RDD[(Long, Long)],
      val deg: RDD[(Long, Long)], val part: HashPartitioner) {
    /** The initial state `f(node)` of every node, co-partitioned. */
    def init(f: Long => Long): RDD[(Long, Long)] =
      deg.mapPartitions(_.map { case (n, _) => (n, f(n)) }, preservesPartitioning = true)
  }

  /** `prev` declared as placed by `part`, moving no data — for keyed rows
    * that already sit where `part` puts their keys. */
  private final class PlacedBy[K, V](prev: RDD[(K, V)], part: Partitioner)
      extends RDD[(K, V)](prev) {
    override val partitioner: Option[Partitioner] = Some(part)
    override protected def getPartitions: Array[Partition] = firstParent[(K, V)].partitions
    override def compute(split: Partition, context: TaskContext): Iterator[(K, V)] =
      firstParent[(K, V)].iterator(split, context)
  }

  /** The symmetric distinct flat pairs of a directed edge frame: ONE scan
    * explodes both directions and the dedup is a Tungsten DF `distinct`
    * (a per-key set combiner at the RDD layer was measured slower: its
    * shuffle carries Java-serialized boxed sets instead of flat longs). */
  private def distinctSymPairs(e0: DataFrame): RDD[(Long, Long)] = {
    val s = e0.sparkSession
    import s.implicits._
    val (a, b) = (e0.columns(0), e0.columns(1))
    e0.selectExpr(
        s"explode(array(struct(CAST($a AS BIGINT) AS s, CAST($b AS BIGINT) AS d), " +
          s"struct(CAST($b AS BIGINT) AS s, CAST($a AS BIGINT) AS d))) AS e")
      .select($"e.s", $"e.d").distinct()
      .as[(Long, Long)].rdd
  }

  /** The round primitive of every loop: stream the placed edges against
    * per-partition maps of `state` (and of the degrees, `withDeg`) and
    * send `msg(state(src), deg(src))` to each edge's dst. With `self`,
    * every node also sends its own state to itself, so a min-reduce
    * carries it forward with no per-round join. The state must cover
    * every edge source, and a miss throws naming the node — except with
    * `reachedOnly` (BFS's distance map holds reached nodes only), where a
    * source without state sends nothing. Callers reduce the messages on
    * `g.part`, map-side combined, so a hub's incoming messages are folded
    * per map partition, never funneled raw into one task. */
  private[graft] def messages(g: Placed, state: RDD[(Long, Long)], what: String,
      withDeg: Boolean = false, self: Boolean = false,
      reachedOnly: Boolean = false)(msg: (Long, Long) => Long): RDD[(Long, Long)] =
    g.pairs.zipPartitions(g.deg, state) { (eIt, dIt, sIt) =>
      val sm = stateMap(sIt, what)
      val dm = if (withDeg) stateMap(dIt, what) else null
      val edges = if (reachedOnly) eIt.filter(e => sm.contains(e._1)) else eIt
      val sent = edges.map { case (u, v) => (v, msg(sm(u), if (withDeg) dm(u) else 0L)) }
      if (self) sent ++ sm.iterator else sent
    }

  /** Drain a partition's (node, value) pairs into a Long-keyed map — the
    * per-partition state view, O(nodes in partition), with no key boxing
    * per lookup. Looking up a node the map lacks throws, naming the node:
    * a boxed java.util.HashMap lookup would unbox the missing null to a
    * silent 0. */
  private def stateMap(it: Iterator[(Long, Long)], what: String): LongMap[Long] = {
    val m = new LongMap[Long]((u: Long) => throw new IllegalStateException(
      s"$what: node $u has an edge but no state; the state must cover every edge source"))
    it.foreach { case (k, v) => m.update(k, v) }
    m
  }

  /** PageRank over the RWLG edge set made symmetric: lineitem's
    * (part → supplier) link list, both directions, so rank actually
    * propagates (the raw edge list is bipartite one-way — supplier ranks
    * would freeze after two rounds). */
  def pageRank(s: SparkSession, d: String): DataFrame =
    pageRankOf(s, partSupplierEdges(s, d))

  /** [[pageRank]] over an arbitrary directed edge frame (src, dst): the
    * damped-rank loop with teleport mass on every node. */
  private[graft] def pageRankOf(s: SparkSession, e0: DataFrame): DataFrame = {
    import s.implicits._
    dampedRanks(s, e0, PrIters, _ => true)(_.toDF("node", "rank_micros"))
  }

  /** The damped-rank loop of [[pageRankOf]] and [[personalizedPageRankOf]]:
    * `iters` rounds of `r ← t(n)·(1−d)·S + d · Σ_in (r_src div deg_src)`
    * from `r₀ = t(n)·S`, in micro-units, where t(n) is 1 if `teleport(n)`
    * and 0 otherwise — global PageRank teleports to every node, PPR to its
    * seeds only. The graph is symmetric, so every node receives a sum each
    * round and the state keeps covering the node set with no join. Scala
    * `/` ≡ SQL `div` on this all-positive domain: the output is
    * bit-identical to the unrolled-CTE oracle. */
  private def dampedRanks(s: SparkSession, e0: DataFrame, iters: Int,
      teleport: Long => Boolean)(out: RDD[(Long, Long)] => DataFrame): DataFrame = {
    Loop.run(s) { loop =>
      val g = loop.place(distinctSymPairs(e0))
      var ranks = g.init(n => if (teleport(n)) PrScale else 0L)
      for (_ <- 1 to iters)
        ranks = messages(g, ranks, "pagerank", withDeg = true)(_ / _)
          .reduceByKey(g.part, _ + _)
          .mapPartitions(_.map { case (n, c) =>
            (n, (if (teleport(n)) PrBase else 0L) + PrDamp * c / 100)
          }, preservesPartitioning = true)
      out(ranks)
    }
  }

  /** In-JVM reference of [[dampedRanks]], for specs: the exact integer
    * arithmetic on an adjacency map — global PageRank, or with `seeds` the
    * personalized form (teleport on the seeds only, [[PprIters]] rounds).
    * Zero-rank nodes are omitted, as the operators emit them (only the
    * personalized form has any). */
  private[graft] def pageRankLocal(edges: Seq[(Long, Long)],
      seeds: Option[Set[Long]] = None): Map[Long, Long] = {
    val und = edges.flatMap { case (a, b) => Seq((a, b), (b, a)) }.distinct
    val out = und.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val deg = out.view.mapValues(_.size.toLong).toMap
    val nodes = out.keySet
    val teleport = seeds.getOrElse(nodes)
    var r = nodes.map(n => n -> (if (teleport(n)) PrScale else 0L)).toMap
    for (_ <- 1 to seeds.fold(PrIters)(_ => PprIters)) {
      val c = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
      for (n <- nodes; d <- out(n)) c(d) += r(n) / deg(n)
      r = nodes.map(n => n -> ((if (teleport(n)) PrBase else 0L) + PrDamp * c(n) / 100L)).toMap
    }
    r.filter(_._2 > 0)
  }

  /** DuckDB twin of [[dampedRanks]]: `iters` damped-sum rounds as an
    * unrolled CTE chain (`r0 … rN`), teleport gated on `teleport` (a
    * predicate over `node`), every step in BIGINT micro-units with `//`
    * matching Spark's `div` on the all-positive domain. Sums are cast back
    * from DuckDB's HUGEINT so the output column is BIGINT on both sides.
    * Zero-rank nodes are dropped (only PPR has any: a global rank is at
    * least the base mass). */
  private def dampedRanksOracle(iters: Int, teleport: String, out: String): String = {
    val rounds = (1 to iters).map { k =>
      s"""r$k AS MATERIALIZED (SELECT n.node,
         |    CAST(CASE WHEN n.tp THEN $PrBase ELSE 0 END
         |      + ($PrDamp * coalesce(s.c, 0)) // 100 AS BIGINT) AS r
         |  FROM nodes n LEFT JOIN (
         |    SELECT ed.dst AS node, CAST(sum(p.r // ed.outdeg) AS BIGINT) AS c
         |    FROM ed JOIN r${k - 1} p ON ed.src = p.node GROUP BY ed.dst) s
         |  USING (node))""".stripMargin
    }.mkString(",\n")
    s"""WITH $undCte,
       |deg AS (SELECT src, count(*) AS outdeg FROM und GROUP BY src),
       |ed AS MATERIALIZED (SELECT u.src, u.dst, d.outdeg
       |  FROM und u JOIN deg d USING (src)),
       |nodes AS MATERIALIZED (SELECT node, $teleport AS tp
       |  FROM (SELECT DISTINCT src AS node FROM und)),
       |r0 AS (SELECT node, CAST(CASE WHEN tp THEN $PrScale ELSE 0 END AS BIGINT) AS r
       |  FROM nodes),
       |$rounds
       |SELECT node, r AS $out FROM r$iters WHERE r > 0""".stripMargin
  }

  /** DuckDB twin of [[pageRank]]. */
  val pageRankOracle: String = dampedRanksOracle(PrIters, "TRUE", "rank_micros")

  // ------------------------------------------------------ triangle counting
  /** Per-node triangle counts over the part co-purchase graph (parts
    * linked when one order contains both) — the local-clustering signal
    * a link-graph curation pass reads next after centrality
    * ([[pageRank]]): triangle-dense neighborhoods are communities,
    * triangle-free high-degree nodes are spam hubs.
    *
    * The co-purchase projection is bounded: an organic order holds ≤ 7
    * lineitems (≤ 21 pairs), and pathological groups are dropped by the
    * shared [[BasketCap]] guard — so the expansion stays linear in
    * `lineitem` whatever the scale AND whatever one bad basket does.
    *
    * Triangle enumeration uses DEGREE ORIENTATION (the MapReduce scheme
    * of Suri & Vassilvitskii, WWW'11) in the EDGE-ITERATOR form: each
    * undirected edge points from its lower-(degree, id) endpoint to the
    * higher one, out-adjacency is gathered into one sorted array per
    * node, and each oriented edge (u,v) closes its triangles IN-ROW via
    * `array_intersect(adj(u), adj(v))` — every common out-neighbor w is
    * the apex of exactly one triangle {u,v,w}. Orientation bounds every
    * adjacency array at O(√m) even on power-law graphs, and the wedge
    * set — O(m^1.5) rows that a join-based closure would materialize
    * and shuffle (the first draft of this operator did, at 20+ s for a
    * 0.9M-edge graph) — never exists: the only shuffled frames are the
    * edge list and the |V|-row adjacency table, and AQE broadcasts the
    * latter when it fits. Every join key is an 8-byte long; no driver
    * traffic.
    *
    * Output: (node, n_triangles) for every node in ≥ 1 triangle; counts
    * are exact so the brute-force oracle hash-matches. */
  def triangleCounts(s: SparkSession, d: String): DataFrame =
    triangleCountsOf(s, orderBaskets(s, d))

  /** [[triangleCounts]] over an arbitrary (gk, node) membership frame:
    * nodes sharing a group key become edges; triangles are counted on
    * the resulting distinct undirected edge set. */
  private[graft] def triangleCountsOf(s: SparkSession, mem0: DataFrame): DataFrame = {
    import s.implicits._
    val closed = orientedClosure(s, canonicalEdges(s, mem0)
      .localCheckpoint()) // reused three times below (wedge ×2 + closure)
    // credit u and v with k triangles each, every apex w with one
    closed.selectExpr(
        "explode(concat(" +
          "array(struct(src AS node, k AS c), struct(dst AS node, k AS c)), " +
          "transform(common, w -> struct(w AS node, 1L AS c)))) AS x")
      .groupBy($"x.node".as("node"))
      .agg(sum($"x.c").as("n_triangles"))
  }

  /** Canonical undirected edge set (u < v by id) of a (gk, node)
    * membership frame: nodes sharing a group key become edges;
    * over-[[BasketCap]] groups dropped before the expansion. */
  private def canonicalEdges(s: SparkSession, mem0: DataFrame): DataFrame = {
    import s.implicits._
    // the supportPairs gather-and-explode shape (no membership self-join)
    groupPairs(mem0).select($"p.a".as("u"), $"p.b".as("v")).distinct()
  }

  /** Degree-oriented edge-iterator closure over a canonical (u < v) edge
    * set: one row per oriented pivot edge that owns ≥ 1 triangle, with
    * `common` = its apex list and `k` = |common| — shared by the exact
    * per-node counter and the DOULION estimator. */
  private def orientedClosure(s: SparkSession, e: DataFrame): DataFrame = {
    import s.implicits._
    val deg = e.select($"u".as("n")).unionAll(e.select($"v".as("n")))
      .groupBy($"n").agg(count(lit(1)).as("dg"))
    // orient low-(deg, id) → high-(deg, id); ties can't happen on id
    val oriented = e
      .join(deg.select($"n".as("u"), $"dg".as("du")), "u")
      .join(deg.select($"n".as("v"), $"dg".as("dv")), "v")
      .select(
        when($"du" < $"dv" || ($"du" === $"dv" && $"u" < $"v"), $"u")
          .otherwise($"v").as("src"),
        when($"du" < $"dv" || ($"du" === $"dv" && $"u" < $"v"), $"v")
          .otherwise($"u").as("dst"))
    val orientedCk = oriented.localCheckpoint()
    // per-node out-adjacency (degree-bounded by the orientation); the
    // edge (u,v) owns triangle {u,v,w} iff w is an out-neighbor of BOTH
    val adj = orientedCk.groupBy($"src".as("n"))
      .agg(sort_array(collect_list($"dst")).as("nbrs"))
    // sorted-merge intersect: both adjacency arrays are sorted
    // distinct by construction (sort_array over the distinct oriented edge
    // set), so the per-edge intersection is a two-pointer merge in codegen
    // — array_intersect built a hash set per row for the same answer
    orientedCk
      .join(adj.select($"n".as("src"), $"nbrs".as("nu")), "src")
      .join(adj.select($"n".as("dst"), $"nbrs".as("nv")), "dst")
      .withColumn("common",
        org.apache.spark.sql.graft.GraftFunctions.sortedIntersect($"nu", $"nv"))
      .withColumn("k", size($"common").cast("long"))
      .filter($"k" > 0L)
  }

  // ------------------------------------------- approximate triangle count
  /** DOULION edge-sampling denominator: each edge survives with
    * p = 1/[[TriSampleMod]], so a triangle survives with p³ and the
    * unbiased estimate is `sampled · TriSampleMod³` (Tsourakakis,
    * Kang, Miller & Faloutsos, KDD'09). */
  val TriSampleMod = 4L

  /** The 100 TB mode of [[triangleCounts]]: exact enumeration is
    * intrinsically Ω(m·d̄) however it is oriented, so at cluster scale a
    * triangle-density monitor runs DOULION — sparsify the edge set by a
    * DETERMINISTIC per-edge hash coin (md5 of the canonical edge key, the
    * [[Sampling]] split discipline: replayable in any engine, stable
    * across re-runs, uncorrelated with ids), count triangles on the ~p
    * fraction that survives at ~p² of the exact closure cost, and scale
    * by 1/p³. One output row: exact edge counts on both sides of the
    * coin, the sampled triangle count, and the unbiased estimate —
    * every column integer and DuckDB-replayable, so the gate hash-matches
    * the ESTIMATOR itself while GraphSpec bounds its error against the
    * exact count (the HLL-sketch discipline). */
  def triangleCountApprox(s: SparkSession, d: String): DataFrame =
    triangleCountApproxOf(s, orderBaskets(s, d))

  /** [[triangleCountApprox]] over an arbitrary (gk, node) membership frame. */
  private[graft] def triangleCountApproxOf(s: SparkSession, mem0: DataFrame): DataFrame = {
    import s.implicits._
    val e = canonicalEdges(s, mem0).localCheckpoint() // counted + sampled
    val sampled = e.filter(
        expr(s"CAST(conv(substring(md5(concat('tri:', CAST(u AS STRING), ':', " +
          s"CAST(v AS STRING))), 1, 8), 16, 10) AS BIGINT) % $TriSampleMod = 0")
      ).localCheckpoint() // reused three times by the closure
    val tri = orientedClosure(s, sampled)
      .agg(coalesce(sum($"k"), lit(0L)).as("n_sampled_triangles"))
    e.agg(count(lit(1)).as("n_edges"))
      .crossJoin(broadcast(sampled.agg(count(lit(1)).as("n_sampled_edges"))))
      .crossJoin(broadcast(tri))
      .select($"n_edges", $"n_sampled_edges", $"n_sampled_triangles",
        ($"n_sampled_triangles" * lit(TriSampleMod * TriSampleMod * TriSampleMod))
          .as("est_triangles"))
  }

  /** DuckDB twin of [[triangleCountApprox]]: the same md5-coin edge
    * sample, brute a&lt;b&lt;c enumeration on the survivors (the
    * [[triangleCountsOracle]] join shape), same 1/p³ scale-up. */
  lazy val triangleCountApproxOracle: String =
    s"""WITH $memCte,
       |e AS (SELECT DISTINCT x.node AS u, y.node AS v
       |  FROM mem x JOIN mem y ON x.gk = y.gk AND x.node < y.node),
       |smp AS (SELECT u, v FROM e
       |  WHERE CAST(('0x' || substr(md5('tri:' || CAST(u AS VARCHAR) || ':' ||
       |    CAST(v AS VARCHAR)), 1, 8)) AS BIGINT) % $TriSampleMod = 0),
       |tri AS (SELECT count(*) AS c
       |  FROM smp e1 JOIN smp e2 ON e1.v = e2.u
       |  JOIN smp e3 ON e3.u = e1.u AND e3.v = e2.v)
       |SELECT (SELECT CAST(count(*) AS BIGINT) FROM e) AS n_edges,
       |  (SELECT CAST(count(*) AS BIGINT) FROM smp) AS n_sampled_edges,
       |  CAST(c AS BIGINT) AS n_sampled_triangles,
       |  CAST(c * ${TriSampleMod * TriSampleMod * TriSampleMod} AS BIGINT) AS est_triangles
       |FROM tri""".stripMargin

  // ------------------------------------------------- market-basket rules
  /** Minimum pair support for an association rule — pairs seen together
    * in fewer baskets are noise, and the filter is what keeps the rule
    * table small relative to the pair expansion. */
  val BasketMinSupport = 2L

  /** Market-basket association rules over order baskets: for every part
    * pair co-purchased in ≥ [[BasketMinSupport]] orders, both directed
    * rules a→b with confidence = s_ab/s_a and lift = s_ab·N/(s_a·s_b) —
    * the frequent-itemset primitive (Agrawal & Srikant, VLDB'94) at the
    * pair level.
    *
    * Ratios are INTEGER (micros/millis via `div`), so the DuckDB twin is
    * bit-exact. BIGINT headroom: `s_ab·N·1000` overflows only past
    * ~10¹⁵ basket-pair mass (s_ab·N > 9.2·10¹⁵) — trillion-order
    * corpora switch this one product to DECIMAL(38,0).
    *
    * Scale shape: the pair expansion is per-order bounded (≤ 21 rows per
    * order, the [[triangleCounts]] projection), map-side combined into
    * (a,b) support counts and support-filtered BEFORE any join; item
    * supports join back on 8-byte part keys (co-partitioned shuffle
    * joins — the support table is |parts|-sized and NOT broadcast by
    * design), and the order total is a 1-row scalar subquery. */
  def basketRules(s: SparkSession, d: String): DataFrame =
    basketRulesOf(s, orderBaskets(s, d))

  /** Pathological-basket cap: a group (order/basket/page) with more than
    * this many distinct members is DROPPED before any pair expansion.
    * The co-occurrence projection is quadratic PER GROUP — one bot cart,
    * ETL-merged mega-order, or boilerplate hub with 3M members expands to
    * ~10¹² pairs and DOSes the whole job (the skew rehearsal
    * plants exactly this: 50 % of lineitems on ONE order). Every serious
    * basket miner caps transaction length for the same reason; 64 is far
    * above any organic basket on this schema (≤ 7) while turning the
    * adversarial group into one filtered row. Applied IDENTICALLY in
    * every engine path and DuckDB twin, so results are unchanged on
    * organic data and the cap itself is oracle-verified. */
  val BasketCap = 64L

  /** Distinct (gk, node) membership with over-[[BasketCap]] groups
    * removed — the shared guard in front of every pair expansion. The
    * group-size aggregate is map-side combined and the semi-join back is
    * AQE-broadcastable (|groups| rows), so the guard costs one bounded
    * pass, not a shuffle of the expansion it prevents. */
  private def cappedMembership(s: SparkSession, mem0: DataFrame): DataFrame = {
    import s.implicits._
    val mem = mem0.distinct()
    val ok = mem.groupBy($"gk").agg(count(lit(1)).as("n"))
      .filter($"n" <= BasketCap).select($"gk")
    mem.join(ok, "gk")
  }

  /** Support-filtered co-occurrence pairs (a &lt; b, s_ab ≥
    * [[BasketMinSupport]]) of a (gk, node) membership frame — the shared
    * projection under [[basketRules]], [[components]] and [[kcore]]. The
    * per-group pair expansion is bounded by [[BasketCap]] (≤ 21 rows per
    * organic order on this schema; pathological groups dropped) and
    * map-side combined into support counts, so the support filter prunes
    * the edge set BEFORE any downstream join. */
  private[graft] def supportPairs(s: SparkSession, mem0: DataFrame): DataFrame = {
    import s.implicits._
    // one gather instead of the membership self-join (measured
    // 3.7 s → 2.4 s warm at sf0.1, identical output): the sorted distinct
    // member array per group IS the capped membership — the cap filters
    // on its size, and the ≤ C(cap,2) ordered pairs explode in-row
    // through codegen higher-order functions, so the only shuffles are
    // the group gather and the (a, b) count
    groupPairs(mem0)
      .groupBy($"p.a".as("a"), $"p.b".as("b"))
      .agg(count(lit(1)).as("s_ab"))
      .filter($"s_ab" >= BasketMinSupport)
  }

  /** Shared gather-and-explode pair expansion: one row per ordered
    * (a &lt; b) member pair per ≤ [[BasketCap]]-sized group, as a struct
    * column `p`. The [[cappedMembership]] semantics (distinct members,
    * over-cap groups dropped) expressed without the self-join.
    *
    * The gather is the CAPPED aggregate (`graft_capped_set`): its
    * buffer never holds more than [[BasketCap]]+1 distinct members, so a
    * pathological mega-group (one basket with 10⁷ members at 100 TB) can
    * no longer balloon an aggregation buffer before the size filter drops
    * it — for groups at or under the cap the result is bit-identical to
    * `sort_array(collect_set(node))` (PropertySpec pins both halves). */
  private def groupPairs(mem0: DataFrame): DataFrame = {
    val s = mem0.sparkSession
    import s.implicits._
    mem0.groupBy($"gk")
      .agg(org.apache.spark.sql.graft.GraftFunctions
        .cappedSortedSet($"node", BasketCap.toInt).as("ms"))
      .filter(size($"ms").between(2, BasketCap.toInt))
      .selectExpr(
        "explode(flatten(transform(ms, (x, i) -> " +
          "transform(slice(ms, i + 2, size(ms) - i - 1), " +
          "y -> struct(x AS a, y AS b))))) AS p")
  }

  /** Shared oracle fragment: capped distinct membership (`mem`, the
    * [[cappedMembership]] twin) and the support-filtered pairs `pr(a, b,
    * s_ab)` with a &lt; b and s_ab ≥ [[BasketMinSupport]].
    * MATERIALIZED: the iterated-CTE consumers ([[componentsOracle]],
    * [[kcoreOracle]]) reference their previous round more than once, and
    * DuckDB inlines plain CTEs — without materialization the unrolled
    * chain expands exponentially. */
  private lazy val memCte: String =
    s"""mem0 AS (SELECT DISTINCT l_orderkey AS gk, l_partkey AS node FROM lineitem),
       |ok AS (SELECT gk FROM mem0 GROUP BY gk HAVING count(*) <= $BasketCap),
       |mem AS MATERIALIZED (SELECT mem0.* FROM mem0 JOIN ok USING (gk))""".stripMargin

  private lazy val supportPairsCtes: String =
    s"""$memCte,
       |pr AS MATERIALIZED (SELECT x.node AS a, y.node AS b, count(*) AS s_ab
       |  FROM mem x JOIN mem y ON x.gk = y.gk AND x.node < y.node
       |  GROUP BY 1, 2 HAVING count(*) >= $BasketMinSupport)""".stripMargin

  /** [[basketRules]] over an arbitrary (gk, node) membership frame. */
  private[graft] def basketRulesOf(s: SparkSession, mem0: DataFrame): DataFrame = {
    import s.implicits._
    // item supports and the basket total count over the SAME capped
    // membership the pair expansion sees, so confidence/lift stay
    // internally consistent when a pathological basket is dropped
    val mem = cappedMembership(s, mem0)
    val pairs = supportPairs(s, mem0)
    val item = mem.groupBy($"node").agg(count(lit(1)).as("s_i"))
    val tot = mem.agg(countDistinct($"gk").as("n_baskets"))
    val both = pairs.select($"a".as("antecedent"), $"b".as("consequent"), $"s_ab")
      .unionAll(pairs.select($"b".as("antecedent"), $"a".as("consequent"), $"s_ab"))
    both
      .join(item.select($"node".as("antecedent"), $"s_i".as("s_a")), "antecedent")
      .join(item.select($"node".as("consequent"), $"s_i".as("s_c")), "consequent")
      .crossJoin(broadcast(tot))
      .select($"antecedent", $"consequent", $"s_ab",
        expr("(s_ab * 1000000) div s_a").as("conf_micros"),
        expr("(s_ab * n_baskets * 1000) div (s_a * s_c)").as("lift_milli"))
  }

  /** DuckDB twin of [[basketRules]]. */
  lazy val basketRulesOracle: String =
    s"""WITH $memCte,
      |pr AS (SELECT x.node AS a, y.node AS b, count(*) AS s_ab
      |  FROM mem x JOIN mem y ON x.gk = y.gk AND x.node < y.node
      |  GROUP BY 1, 2 HAVING count(*) >= $BasketMinSupport),
      |it AS (SELECT node, count(*) AS s_i FROM mem GROUP BY node),
      |t AS (SELECT count(DISTINCT gk) AS n_baskets FROM mem),
      |bo AS (SELECT a AS antecedent, b AS consequent, s_ab FROM pr
      |  UNION ALL SELECT b, a, s_ab FROM pr)
      |SELECT bo.antecedent, bo.consequent, bo.s_ab,
      |  CAST((bo.s_ab * 1000000) // ia.s_i AS BIGINT) AS conf_micros,
      |  CAST((bo.s_ab * t.n_baskets * 1000) // (ia.s_i * ic.s_i) AS BIGINT) AS lift_milli
      |FROM bo
      |JOIN it ia ON ia.node = bo.antecedent
      |JOIN it ic ON ic.node = bo.consequent
      |CROSS JOIN t""".stripMargin

  /** DuckDB twin of [[triangleCounts]]: brute id-ordered enumeration
    * e(a,b) ⋈ e(b,c) ⋈ e(a,c) with a < b < c — a different join order
    * than the engine's degree orientation, but the identical triangle
    * SET, so per-node counts hash-match. */
  lazy val triangleCountsOracle: String =
    s"""WITH $memCte,
      |e AS (SELECT DISTINCT x.node AS u, y.node AS v
      |  FROM mem x JOIN mem y ON x.gk = y.gk AND x.node < y.node),
      |tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
      |  FROM e e1 JOIN e e2 ON e1.v = e2.u
      |  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
      |n AS (SELECT a AS node FROM tri
      |  UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri)
      |SELECT node, count(*) AS n_triangles FROM n GROUP BY node""".stripMargin

  // ---------------------------------------------------- connected components
  /** HashMin block length: [[componentsOf]] runs its rounds in blocks of
    * CcIters until a probe round moves no label, and [[componentsOracle]]
    * unrolls exactly CcIters rounds — a finite CTE chain. */
  val CcIters = 12

  /** Connected components of the support-filtered part co-purchase graph
    * (edges = part pairs bought together in ≥ [[BasketMinSupport]] orders):
    * every node labeled with the minimum node id of its component. The
    * component structure of a thresholded co-occurrence graph is the
    * catalog-clustering / related-items primitive, and the dedup pipeline
    * runs the same operator over near-dup edges ([[Dedup.dedupClusters]]).
    *
    * Algorithm: synchronous HashMin label propagation (the Pregel CC
    * baseline) — `lbl ← min(lbl, min over neighbors lbl)` per round, the
    * [[minRelaxation]] loop with the label itself as the message, run to
    * its fixpoint. HashMin needs O(diameter) rounds, where alternating star
    * contraction (Kiveris et al., SoCC'14) needs O(log n); star
    * contraction is not shipped because it pays a count job every round
    * (and a set-difference job on count plateaus), where a HashMin block
    * is one job — measured slower on both sf0.1 graphs (co-purchase: 1.7–
    * 1.9 s vs 0.8–0.9 s; near-dup cluster edges: 0.57–0.73 s vs 0.50–0.57
    * s, 4 cores), each of which converges within one block. */
  def components(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    componentsOf(s, supportPairs(s, orderBaskets(s, d))
      .select($"a".as("u"), $"b".as("v")))
  }

  /** [[components]] over an arbitrary edge frame (its first two columns,
    * either orientation; a self-loop (x, x) labels x). Exact on any
    * diameter, and bit-identical to the unrolled-CTE oracle on graphs of
    * diameter ≤ [[CcIters]].
    *
    * The fixpoint: after each block of [[CcIters]] rounds, one probe
    * round asks whether any label still falls, and while one does another
    * block runs. Labels are node ids that only fall and are bounded below
    * by the component minimum, so the loop ends after at most
    * ⌈diameter / CcIters⌉ + 1 blocks, with no round cap. A block and its
    * probe are one job; later jobs reuse the earlier blocks' shuffle
    * output. */
  private[graft] def componentsOf(s: SparkSession, e0: DataFrame): DataFrame = {
    import s.implicits._
    Loop.run(s) { loop =>
      val g = loop.place(distinctSymPairs(e0))
      def hashMin(lbl: RDD[(Long, Long)], rounds: Int) =
        minRelaxation(g, lbl, rounds, "components")(l => l)
      def falling(lbl: RDD[(Long, Long)]) =
        hashMin(lbl, 1).join(lbl).values.filter { case (next, l) => next < l }.count() > 0
      var lbl = hashMin(g.init(n => n), CcIters)
      while (falling(lbl)) lbl = hashMin(lbl, CcIters)
      lbl.toDF("node", "component")
    }
  }

  /** In-JVM union-find reference of [[componentsOf]], for specs: every
    * edge endpoint labeled with its component's minimum (a union keeps
    * the smaller root, so each root is its set's minimum). */
  private[graft] def componentsLocal(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    for ((a, b) <- edges) {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(n => n -> find(n)).toMap
  }

  /** The min-relaxation loop of HashMin [[componentsOf]] and
    * [[bfsLayersOf]]: `rounds` rounds of `x ← min(x, min over neighbors
    * step(x_nbr))`. Each node's own value rides the same min shuffle as a
    * self-message, so there is no per-round join. */
  private def minRelaxation(g: Placed, x0: RDD[(Long, Long)], rounds: Int,
      what: String, reachedOnly: Boolean = false)(
      step: Long => Long): RDD[(Long, Long)] =
    (1 to rounds).foldLeft(x0) { (x, _) =>
      messages(g, x, what, self = true, reachedOnly = reachedOnly)((v, _) => step(v))
        .reduceByKey(g.part, math.min(_: Long, _: Long))
    }

  /** DuckDB twin of [[minRelaxation]]: `rounds` unrolled MATERIALIZED
    * rounds `x1 … xN` over `ed(src, dst)` from `x0(node, x)`, each the min
    * of a node's own value and `step` (an expression over the neighbor's
    * `p.x`); each round is referenced twice, carry and relax. */
  private def minRelaxationOracle(rounds: Int, step: String): String =
    (1 to rounds).map { k =>
      s"""x$k AS MATERIALIZED (SELECT node, CAST(min(x) AS BIGINT) AS x FROM (
         |    SELECT node, x FROM x${k - 1}
         |    UNION ALL
         |    SELECT ed.dst AS node, $step AS x
         |    FROM ed JOIN x${k - 1} p ON ed.src = p.node) GROUP BY node)""".stripMargin
    }.mkString(",\n")

  /** DuckDB twin of [[components]]: [[CcIters]] HashMin rounds over the
    * symmetric support pairs, every node starting as its own label. It
    * equals the engine only while the graph's diameter is ≤ [[CcIters]]:
    * on a wider graph the engine runs further blocks to the exact labels,
    * so the width shows up as a Verify MISMATCH of this 12-round oracle,
    * not as an engine throw. */
  lazy val componentsOracle: String =
    s"""WITH $supportPairsCtes,
       |ed AS MATERIALIZED (SELECT a AS src, b AS dst FROM pr UNION SELECT b, a FROM pr),
       |x0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS x FROM ed),
       |${minRelaxationOracle(CcIters, "p.x")}
       |SELECT node, x AS component FROM x$CcIters""".stripMargin

  // ----------------------------------------------------------------- k-core
  /** Core order for [[kcore]]: the 3-core — the standard "dense enough to
    * be a community, sparse enough to keep most real nodes" cut. */
  val KcoreK = 3L
  /** Fixed peel rounds — the [[PrIters]] discipline: deterministic,
    * oracle-replayable; GraphSpec asserts the peel has actually reached its
    * fixpoint on the test corpora (a further round changes nothing). */
  val KcoreIters = 8

  /** K-core extraction over the support-filtered co-purchase graph: peel
    * nodes of degree &lt; [[KcoreK]] for [[KcoreIters]] synchronous rounds
    * (removing a node removes its edges, which can drop neighbors below K
    * — hence iteration), then report every surviving node with its in-core
    * degree. The k-core is the classic dense-substructure filter: spam-hub
    * removal in link graphs, community cores in co-occurrence graphs
    * (Seidman 1983's coreness, restricted to the fixed-k membership
    * question, which is the form with a finite-CTE twin).
    *
    * Scale shape: each round is one map-side-combined degree aggregate
    * (≤ 2 rows shuffled per edge) plus two semi-join-shaped equi-joins of
    * the edge list against the ≤ |V|-row survivor set — no pair expansion
    * anywhere past the shared [[supportPairs]] projection; lineage cut
    * every second round. Rounds are O(peel depth), bounded by the fixed
    * count on any scale. */
  def kcore(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    kcoreOf(s, supportPairs(s, orderBaskets(s, d))
      .select($"a".as("u"), $"b".as("v")))
  }

  /** [[kcore]] over an arbitrary canonical (u, v) edge frame. */
  private[graft] def kcoreOf(s: SparkSession, e0: DataFrame,
                             iters: Int = KcoreIters): DataFrame = {
    import s.implicits._
    var edges = e0.select($"u", $"v").localCheckpoint()
    for (k <- 1 to iters) {
      val deg = edges.select($"u".as("n")).unionAll(edges.select($"v".as("n")))
        .groupBy($"n").agg(count(lit(1)).as("dg"))
      val keep = deg.filter($"dg" >= KcoreK).select($"n")
      edges = edges
        .join(keep.select($"n".as("u")), "u")
        .join(keep.select($"n".as("v")), "v")
        .select($"u", $"v")
      if (k % 2 == 0 || k == iters) edges = edges.localCheckpoint()
    }
    edges.select($"u".as("node")).unionAll(edges.select($"v".as("node")))
      .groupBy($"node").agg(count(lit(1)).as("core_degree"))
  }

  /** DuckDB twin of [[kcore]]: the same [[KcoreIters]] peel rounds as an
    * unrolled CTE chain (`e0 … e8`), BIGINT degrees throughout. */
  lazy val kcoreOracle: String = {
    val iters = (1 to KcoreIters).map { k =>
      s"""s$k AS MATERIALIZED (SELECT node FROM (
         |    SELECT u AS node FROM e${k - 1} UNION ALL SELECT v FROM e${k - 1})
         |  GROUP BY node HAVING count(*) >= $KcoreK),
         |e$k AS MATERIALIZED (SELECT e.u, e.v FROM e${k - 1} e
         |  JOIN s$k a ON a.node = e.u JOIN s$k b ON b.node = e.v)""".stripMargin
    }.mkString(",\n")
    s"""WITH $supportPairsCtes,
       |e0 AS MATERIALIZED (SELECT a AS u, b AS v FROM pr),
       |$iters
       |SELECT node, CAST(count(*) AS BIGINT) AS core_degree FROM (
       |  SELECT u AS node FROM e$KcoreIters
       |  UNION ALL SELECT v FROM e$KcoreIters)
       |GROUP BY node""".stripMargin
  }

  // ---------------------------------------------- degree distribution
  /** Log₂-bucketed degree histogram of the part–supplier graph, split by
    * bipartite side — the diagnostic run BEFORE committing to a graph
    * algorithm: a heavy power-law tail says the adjacency-gather and
    * pair-expansion operators need their caps (BasketCap, the
    * degree-oriented triangle closure), and the side split shows WHICH
    * side carries the hubs. Buckets are the integer-exact bit-length
    * log₂ of the distinct-neighbor degree (the
    * [[Corpus.lengthHistogram]] idiom — no float log at power-of-two
    * edges), with inclusive power-of-two ranges.
    *
    * Scale shape: one distinct over the symmetric edge list (the same
    * first shuffle every Graph operator pays), one map-side-combined
    * degree count, then a ≤ 2·64-row aggregate. */
  def degreeHistogram(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val raw = partSupplierEdges(s, d)
    val und = raw.select($"src", $"dst")
      .union(raw.select($"dst".as("src"), $"src".as("dst")))
      .distinct()
    und.groupBy($"src").agg(count(lit(1)).as("deg"))
      .select(
        when($"src" % 2 === 0, "part").otherwise("supplier").as("side"),
        $"deg",
        (length(bin($"deg")) - 1).as("bucket"))
      .groupBy($"side", $"bucket")
      .agg(count(lit(1)).as("n_nodes"), sum($"deg").as("sum_degree"))
      .withColumn("lo_deg", expr("shiftleft(1L, bucket)"))
      .withColumn("hi_deg", expr("shiftleft(1L, bucket + 1) - 1"))
      .orderBy($"side", $"bucket")
  }

  /** DuckDB twin of [[degreeHistogram]] — same symmetric distinct edge
    * set, bit-length bucket, shift-built ranges. */
  val degreeHistogramOracle: String =
    s"""WITH $undCte,
      |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg
      |  FROM und GROUP BY src),
      |b AS (SELECT CASE WHEN src % 2 = 0 THEN 'part' ELSE 'supplier' END AS side,
      |    deg, CAST(length(bin(deg)) AS INT) - 1 AS bucket FROM deg)
      |SELECT side, bucket, CAST(count(*) AS BIGINT) AS n_nodes,
      |  CAST(sum(deg) AS BIGINT) AS sum_degree,
      |  (CAST(1 AS BIGINT) << bucket) AS lo_deg,
      |  (CAST(1 AS BIGINT) << (bucket + 1)) - 1 AS hi_deg
      |FROM b GROUP BY side, bucket
      |ORDER BY side, bucket""".stripMargin

  // ------------------------------------------------- label propagation (LPA)
  /** Fixed synchronous LPA rounds — the [[PrIters]] contract:
    * a pure function of the input, replayable as a finite CTE chain. */
  val LpaIters = 6

  /** Community detection by synchronous label propagation (Raghavan et
    * al. 2007) over the part–supplier link graph ([[pageRank]]'s
    * symmetric edge set): every node starts as its own label; each round
    * it adopts the label carried by the PLURALITY of its neighbors, ties
    * broken toward the smallest label — the deterministic variant
    * (vanilla LPA breaks ties randomly and is not a function of its
    * input; a correctness-gated engine cannot ship that).
    *
    * Scale shape: per round, the kernel's round with the neighbor's label
    * as the message, then two map-side-combined shuffles with flat Long
    * values — a count keyed on (node, label) and the plurality reduce
    * keyed on node (no window, no sort). O(diameter)-free: the round count
    * is FIXED, and communities stabilize in a handful of rounds on
    * small-world graphs (Raghavan's observation, independent of |V|).
    *
    * Output: (node, community) for every node, community = converged
    * plurality label. */
  def labelPropagation(s: SparkSession, d: String): DataFrame =
    labelPropagationOf(s, partSupplierEdges(s, d))

  /** [[labelPropagation]] over an arbitrary directed edge frame
    * (src, dst): symmetrizes, dedups, then runs [[LpaIters]] plurality
    * rounds. */
  private[graft] def labelPropagationOf(s: SparkSession, e0: DataFrame): DataFrame = {
    import s.implicits._
    Loop.run(s) { loop =>
      val g = loop.place(distinctSymPairs(e0))
      var lab = g.init(n => n)
      for (_ <- 1 to LpaIters) {
        // count neighbor labels by (node, label), then the deterministic
        // plurality — max count, tie toward the smallest label — reduced
        // by node (a per-key label→count map combiner was measured 2×
        // slower: per-partition-per-key boxed HashMaps dominate the
        // serializer)
        lab = messages(g, lab, "label propagation")((l, _) => l)
          .map((_, 1L))
          .reduceByKey(_ + _)
          .map { case ((n, l), c) => (n, (l, c)) }
          .reduceByKey(g.part, (a, b) =>
            if (a._2 > b._2 || (a._2 == b._2 && a._1 < b._1)) a else b)
          .mapValues(_._1)
      }
      lab.toDF("node", "community")
    }
  }

  /** In-JVM reference of the same deterministic LPA, for specs. */
  private[graft] def labelPropagationLocal(
      edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val und = edges.flatMap { case (a, b) => Seq((a, b), (b, a)) }.distinct
    val nbrs = und.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    var lab = nbrs.keySet.map(n => n -> n).toMap
    for (_ <- 1 to LpaIters) {
      lab = nbrs.map { case (n, ns) =>
        val cnt = ns.groupBy(lab).view.mapValues(_.size.toLong)
        n -> cnt.toSeq.minBy { case (l, c) => (-c, l) }._1
      }
    }
    lab
  }

  /** The LPA chain shared by [[labelPropagationOracle]] and
    * [[modularityOracle]]: [[LpaIters]] unrolled MATERIALIZED rounds
    * `l1 … lN` (each round is referenced by the next round's count AND
    * carried forward; un-materialized, DuckDB 1.0 re-inlines the whole
    * history per reference), plurality by row_number ORDER BY cnt DESC,
    * lab ASC. */
  private val lpaCtes: String = {
    val iters = (1 to LpaIters).map { k =>
      s"""l$k AS MATERIALIZED (SELECT node, lab FROM (
         |    SELECT c.node, c.lab,
         |      row_number() OVER (PARTITION BY c.node
         |        ORDER BY c.cnt DESC, c.lab ASC) AS rk
         |    FROM (SELECT ed.dst AS node, p.lab, count(*) AS cnt
         |          FROM ed JOIN l${k - 1} p ON ed.src = p.node
         |          GROUP BY ed.dst, p.lab) c) WHERE rk = 1)""".stripMargin
    }.mkString(",\n")
    s"""$undCte,
       |ed AS MATERIALIZED (SELECT src, dst FROM und),
       |nodes AS (SELECT DISTINCT src AS node FROM und),
       |l0 AS MATERIALIZED (SELECT node, node AS lab FROM nodes),
       |$iters""".stripMargin
  }

  /** DuckDB twin of [[labelPropagation]]. */
  val labelPropagationOracle: String =
    s"""WITH $lpaCtes
       |SELECT node, lab AS community FROM l$LpaIters""".stripMargin

  // --------------------------------------------- personalized PageRank (PPR)
  /** PPR iteration count — shorter horizon than global PageRank: the
    * personalized vector concentrates mass near the seeds and the tail
    * contributions vanish under integer truncation well before 10. */
  val PprIters = 8
  /** Seed selector: part-side nodes whose partkey is ≡ 0 mod [[PprSeedMod]]. */
  val PprSeedMod = 50L

  /** Personalized PageRank from a seed set (Jeh & Widom 2003; the
    * related-items / trust-propagation primitive): identical damped-sum
    * iteration to [[pageRank]] except the teleport mass (1−d)·scale
    * lands ONLY on seed nodes ([[isSeed]]) — rank measures proximity to
    * the seed set instead of global centrality. Integer micro-units end
    * to end ([[PrScale]]/[[PrDamp]]), so the fixed-point iterate is
    * bit-exact on any partitioning and the oracle is an unrolled CTE
    * chain.
    *
    * Scale shape: the [[dampedRanks]] loop, one map-side-combined sum
    * shuffle per round. Output keeps only nodes with non-zero rank (the
    * reached set), so sink emission is proportional to the seed
    * neighborhood, not |V|. */
  def personalizedPageRank(s: SparkSession, d: String): DataFrame =
    personalizedPageRankOf(s, partSupplierEdges(s, d))

  /** [[personalizedPageRank]] over an arbitrary directed edge frame
    * (src, dst), seeded by [[isSeed]]. */
  private[graft] def personalizedPageRankOf(s: SparkSession, e0: DataFrame): DataFrame = {
    import s.implicits._
    dampedRanks(s, e0, PprIters, isSeed)(_.filter(_._2 > 0).toDF("node", "ppr_micros"))
  }

  /** DuckDB twin of [[personalizedPageRank]]. */
  val personalizedPageRankOracle: String =
    dampedRanksOracle(PprIters, seedSql("node"), "ppr_micros")

  // ---------------------------------------------- multi-source BFS layers
  /** BFS hop bound — a fixed round count, the [[PrIters]] contract: output
    * distances are exact for every node within [[BfsMaxHops]] of a seed,
    * and nodes farther out are absent BY CONTRACT (documented bounded
    * reach, the production shape for "N-hop neighborhood of a seed
    * catalog" queries). */
  val BfsMaxHops = 6

  /** Multi-source BFS over the part–supplier graph: hop distance from
    * the [[isSeed]] seed set ([[personalizedPageRank]]'s seeds, so the two
    * operators describe the same neighborhoods — one by mass, one by
    * hops). Iterative min-relaxation: dist ← min(dist, min over neighbors
    * dist+1), [[BfsMaxHops]] rounds.
    *
    * Scale shape: the [[minRelaxation]] loop, one map-side-combined min
    * shuffle per round; the distance state only ever holds REACHED nodes,
    * so early rounds send and shuffle frontier-sized message sets, not
    * |E|. */
  def bfsLayers(s: SparkSession, d: String): DataFrame =
    bfsLayersOf(s, partSupplierEdges(s, d))

  /** [[bfsLayers]] over an arbitrary directed edge frame (src, dst). */
  private[graft] def bfsLayersOf(s: SparkSession, e0: DataFrame): DataFrame = {
    import s.implicits._
    Loop.run(s) { loop =>
      val g = loop.place(distinctSymPairs(e0))
      val seeds = g.init(_ => 0L).filter { case (n, _) => isSeed(n) }
      minRelaxation(g, seeds, BfsMaxHops, "bfs layers", reachedOnly = true)(_ + 1)
        .toDF("node", "hops")
    }
  }

  /** DuckDB twin of [[bfsLayers]]. */
  val bfsLayersOracle: String =
    s"""WITH $undCte,
       |ed AS MATERIALIZED (SELECT src, dst FROM und),
       |x0 AS (SELECT DISTINCT src AS node, CAST(0 AS BIGINT) AS x FROM und
       |  WHERE ${seedSql("src")}),
       |${minRelaxationOracle(BfsMaxHops, "p.x + 1")}
       |SELECT node, x AS hops FROM x$BfsMaxHops""".stripMargin

  // ------------------------------------------------ HITS hubs & authorities
  /** HITS iteration count — like [[LpaIters]], a fixed horizon so the
    * operator is a pure function of the input with a finite CTE twin;
    * hub/authority orderings stabilize within a few rounds on graphs
    * this diameter. */
  val HitsIters = 4

  /** HITS (Kleinberg 1999) over the DIRECTED part → supplier link list —
    * the second classic link-analysis score after [[pageRank]], and the
    * one that actually fits a bipartite catalog: parts are pure hubs
    * (they only point), suppliers pure authorities (they only get pointed
    * at), so the two mutually-recursive scores measure breadth of
    * sourcing (hub) and breadth of demand (authority).
    *
    * Arithmetic is integer micro-units with a MAX-normalization after
    * every half-step: `score ← raw · 10⁶ div max(raw)` — the max (not
    * the L2 norm HITS papers use) keeps every operation in BIGINT with
    * no square root, and rescaling by any positive constant preserves
    * HITS' fixpoint direction, which is all the score means. Headroom
    * contract: raw = Σ of ≤10⁶-bounded scores over in-degree, so
    * `raw · 10⁶` fits int64 while max in-degree ≤ ~9·10⁶ — beyond that a
    * deployment halves the scale constant (documented, not silently
    * saturated).
    *
    * Scale shape: the directed edges placed twice — by src for the
    * hub→authority half-step, by dst for the way back — and per half-step
    * the kernel's round, one map-side-combined sum shuffle, and one tiny
    * `max` action for the normalization constant. */
  def hits(s: SparkSession, d: String): DataFrame =
    hitsOf(s, partSupplierEdges(s, d))

  /** [[hits]] over an arbitrary directed edge frame (src, dst). */
  private[graft] def hitsOf(s: SparkSession, e0: DataFrame): DataFrame = {
    import s.implicits._
    Loop.run(s) { loop =>
      val ed = loop.hold(e0.select($"src", $"dst").distinct().as[(Long, Long)].rdd)
      val bySrc = loop.place(ed)
      val byDst = loop.place(ed.map(_.swap))
      def halfStep(g: Placed, score: RDD[(Long, Long)]): RDD[(Long, Long)] = {
        // raw is consumed twice (the max action, then the normalize) — both
        // reads hit the same reduceByKey shuffle output, so stage reuse
        // makes the second read a shuffle-file replay, not a recomputation
        val raw = messages(g, score, "hits")((x, _) => x).reduceByKey(g.part, _ + _)
        val mx = raw.values.max()
        raw.mapValues(v => v * PrScale / mx)
      }
      var hub = bySrc.init(_ => PrScale)
      var auth: RDD[(Long, Long)] = null
      for (_ <- 1 to HitsIters) {
        auth = halfStep(bySrc, hub) // keyed by dst
        hub = halfStep(byDst, auth) // keyed by src
      }
      val out = hub.map { case (n, sc) => (n, "hub", sc) }
        .union(auth.map { case (n, sc) => (n, "authority", sc) })
        .toDF("node", "kind", "score_micros")
      out
    }
  }

  /** In-JVM reference of the same integer HITS, for specs. */
  private[graft] def hitsLocal(
      edges: Seq[(Long, Long)]): (Map[Long, Long], Map[Long, Long]) = {
    val ed = edges.distinct
    val out = ed.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val in = ed.map(_.swap).groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    var hub = out.keySet.map(_ -> PrScale).toMap
    var auth = Map.empty[Long, Long]
    def norm(m: Map[Long, Long]): Map[Long, Long] = {
      val mx = m.values.max
      m.view.mapValues(v => v * PrScale / mx).toMap
    }
    for (_ <- 1 to HitsIters) {
      auth = norm(in.view.mapValues(_.map(hub).sum).toMap)
      hub = norm(out.view.mapValues(_.map(auth).sum).toMap)
    }
    (hub, auth)
  }

  /** DuckDB twin of [[hits]]: [[HitsIters]] unrolled rounds, two
    * MATERIALIZED CTEs per half-step (raw sum, then max-normalized),
    * all-BIGINT with `//` matching `div` on the positive domain. */
  val hitsOracle: String = {
    val iters = (1 to HitsIters).map { k =>
      s"""ar$k AS MATERIALIZED (SELECT ed.dst AS node,
         |    CAST(sum(p.score) AS BIGINT) AS raw
         |  FROM ed JOIN h${k - 1} p ON ed.src = p.node GROUP BY ed.dst),
         |a$k AS MATERIALIZED (SELECT node,
         |    CAST((raw * $PrScale) // (SELECT max(raw) FROM ar$k) AS BIGINT) AS score
         |  FROM ar$k),
         |hr$k AS MATERIALIZED (SELECT ed.src AS node,
         |    CAST(sum(p.score) AS BIGINT) AS raw
         |  FROM ed JOIN a$k p ON ed.dst = p.node GROUP BY ed.src),
         |h$k AS MATERIALIZED (SELECT node,
         |    CAST((raw * $PrScale) // (SELECT max(raw) FROM hr$k) AS BIGINT) AS score
         |  FROM hr$k)""".stripMargin
    }.mkString(",\n")
    s"""WITH ed AS MATERIALIZED (SELECT DISTINCT 2 * l_partkey AS src,
       |    2 * l_suppkey + 1 AS dst FROM lineitem),
       |h0 AS (SELECT src AS node, CAST($PrScale AS BIGINT) AS score
       |  FROM (SELECT DISTINCT src FROM ed)),
       |$iters
       |SELECT node, 'hub' AS kind, score AS score_micros FROM h$HitsIters
       |UNION ALL
       |SELECT node, 'authority' AS kind, score AS score_micros FROM a$HitsIters""".stripMargin
  }

  // ------------------------------------------------ random-walk corpus (DeepWalk)
  /** Walk length in steps (nodes emitted per walk = steps + 1). */
  val WalkSteps = 6
  /** Walks started per seed node. */
  val WalksPerSeed = 2

  /** Deterministic random-walk corpus over the symmetric part–supplier
    * graph — the DeepWalk / node2vec TRAINING-DATA generator (Perozzi et
    * al. 2014): truncated walks from a seed catalog become the
    * "sentences" a skip-gram embedding trains on. Randomness is the
    * salted-md5-prefix hash of (walk, step, current node) — the
    * [[Sampling.trainTestSplitOf]] identity-hash discipline — so the
    * corpus is a pure function of the graph: re-running, re-partitioning
    * or re-sharding regenerates byte-identical walks, and the DuckDB twin
    * replays them exactly (vanilla samplers use rand() and are
    * unverifiable).
    *
    * Each step selects neighbor rank `h % degree` from the CURRENT
    * node's adjacency ranked by neighbor id — a uniform draw over
    * neighbors because the md5 prefix is equidistributed far above any
    * realistic degree.
    *
    * Scale shape: the rank-indexed FLAT adjacency (one sorted shuffle of
    * the symmetric edge list placed by src, built ONCE and persisted —
    * never a per-node array, so a celebrity hub spills through the
    * shuffle sorter instead of allocating) is the only super-linear
    * structure; each step streams it against the
    * |seeds|·[[WalksPerSeed]]-row frontier's per-partition map with the
    * rank equality as the residual predicate — frontier-sized shuffles,
    * [[WalkSteps]] rounds, no driver traffic. */
  def randomWalks(s: SparkSession, d: String): DataFrame =
    randomWalksOf(s, partSupplierEdges(s, d))

  /** [[randomWalks]] over an arbitrary directed edge frame (src, dst):
    * symmetrizes, ranks each node's neighbors, then walks from the
    * [[isSeed]] seed catalog. */
  private[graft] def randomWalksOf(s: SparkSession, e0: DataFrame): DataFrame = {
    import s.implicits._
    Loop.run(s) { loop =>
      val part = loop.part
      // RANK-INDEXED flat adjacency (src, (dst, rnk)) — rnk = position of
      // dst among src's ascending neighbors, exactly the oracle's
      // row_number()-1. Built by ONE sorted shuffle placed by src (it spills
      // through the shuffle sorter, never a per-node array) and a streaming
      // per-run counter. bySrc places each (src, dst) key where `part`
      // places src, so the Long-keyed rows it yields are declared under
      // `part` itself.
      val bySrc = new Partitioner {
        override def numPartitions: Int = part.numPartitions
        override def getPartition(key: Any): Int =
          part.getPartition(key.asInstanceOf[(Long, Long)]._1)
      }
      val ranked = loop.hold(new PlacedBy(distinctSymPairs(e0)
        .map(p => (p, ()))
        .repartitionAndSortWithinPartitions(bySrc)
        .mapPartitions { it =>
          var curSrc = Long.MinValue
          var rnk = -1
          it.map { case ((u, v), _) =>
            if (u != curSrc) { curSrc = u; rnk = 0 } else rnk += 1
            (u, (v, rnk))
          }
        }, part))
      // degrees per node: last rank of each run + 1, streamed — one row per
      // node, placed like ranked so it zips with it
      val deg = loop.hold(ranked.mapPartitions({ it =>
        new Iterator[(Long, Long)] {
          private val base = it.buffered
          override def hasNext: Boolean = base.hasNext
          override def next(): (Long, Long) = {
            val (u, (_, r0)) = base.next()
            var last = r0
            while (base.hasNext && base.head._1 == u) last = base.next()._2._2
            (u, last + 1L)
          }
        }
      }, preservesPartitioning = true))
      // frontier keyed by current node, placed like ranked; each step
      // shuffles only the |seeds|·WalksPerSeed-row frontier
      var frontier = deg.mapPartitions(_.collect {
        case (n, _) if isSeed(n) =>
          Iterator.range(0, WalksPerSeed)
            .map(w => (n, n * WalksPerSeed + w)).toSeq
      }.flatten, preservesPartitioning = true)
      var visited = frontier
        .map { case (cur, walkId) => (walkId, 0L, cur) }
      for (k <- 1 to WalkSteps) {
        val step = k // avoid capturing the loop var reference in the closure
        // The per-step neighbor draw: salted-md5-prefix of (walk_id, step,
        // cur) as a non-negative BIGINT, modulo degree — byte-identical to
        // the SQL form the DuckDB twin replays: md5 of the UTF-8 string
        // `walk:<id>:<step>:<cur>`, first 8 hex chars parsed base-16
        // (always < 2³², so non-negative). The digest instance and each
        // walker's drawn TARGET RANK are computed once per partition per
        // step, not per edge or per row; the edge stream then only compares
        // its running rank against the precomputed target.
        frontier = ranked.zipPartitions(deg, frontier) { (eIt, dIt, fIt) =>
          val dm = stateMap(dIt, "random walks")
          val md = java.security.MessageDigest.getInstance("MD5")
          // cur -> walkers at cur as (walkId, targetRank) — frontier-sized
          val fm = new java.util.HashMap[Long, java.util.ArrayList[(Long, Int)]]()
          fIt.foreach { case (cur, walkId) =>
            md.reset()
            val hex = md.digest(s"walk:$walkId:$step:$cur"
                .getBytes(java.nio.charset.StandardCharsets.UTF_8))
              .take(4).map(b => f"$b%02x").mkString
            val target = (java.lang.Long.parseLong(hex, 16) % dm(cur)).toInt
            var l = fm.get(cur)
            if (l == null) { l = new java.util.ArrayList[(Long, Int)](); fm.put(cur, l) }
            l.add((walkId, target))
          }
          eIt.flatMap { case (u, (v, rnk)) =>
            val l = fm.get(u)
            if (l == null) Iterator.empty
            else {
              var i = 0
              var out = List.empty[(Long, Long)]
              while (i < l.size()) {
                val (walkId, target) = l.get(i)
                if (target == rnk) out = (v, walkId) :: out
                i += 1
              }
              out.iterator
            }
          }
        // part places Long node keys exactly where bySrc placed the
        // (src, dst)-keyed adjacency rows: both are the node hash modulo
        // the loop partition count, so the next step's zip stays aligned
        }.partitionBy(part)
        // frontier is consumed twice (next step's zip + the visited union):
        // it is a ShuffledRDD, so the second read replays shuffle files —
        // no recomputation (deliberate reliance on stage reuse)
        visited = visited.union(
          frontier.map { case (cur, walkId) => (walkId, k.toLong, cur) })
      }
      visited.toDF("walk_id", "step", "node")
    }
  }

  /** DuckDB twin of [[randomWalks]] — ranked adjacency via the same
    * partitioned window, [[WalkSteps]] unrolled MATERIALIZED frontier
    * joins replaying the identical md5 draw. */
  val randomWalksOracle: String = {
    val iters = (1 to WalkSteps).map { k =>
      s"""w$k AS MATERIALIZED (SELECT w.walk_id, a.dst AS cur
         |  FROM w${k - 1} w JOIN adj a ON a.src = w.cur
         |    AND a.rnk = CAST(('0x' || substr(md5('walk:' ||
         |      CAST(w.walk_id AS VARCHAR) || ':' || '$k' || ':' ||
         |      CAST(w.cur AS VARCHAR)), 1, 8)) AS BIGINT) % a.deg)""".stripMargin
    }.mkString(",\n")
    val outs = (1 to WalkSteps).map { k =>
      s"SELECT walk_id, CAST($k AS BIGINT) AS step, cur AS node FROM w$k"
    }.mkString("\nUNION ALL\n")
    s"""WITH $undCte,
       |adj AS MATERIALIZED (SELECT src, dst,
       |    row_number() OVER (PARTITION BY src ORDER BY dst) - 1 AS rnk,
       |    count(*) OVER (PARTITION BY src) AS deg
       |  FROM und),
       |seeds AS (SELECT DISTINCT src AS node FROM und WHERE ${seedSql("src")}),
       |w0 AS MATERIALIZED (SELECT node * $WalksPerSeed + w AS walk_id,
       |    node AS cur
       |  FROM seeds, (SELECT unnest(range($WalksPerSeed)) AS w)),
       |$iters
       |SELECT walk_id, CAST(0 AS BIGINT) AS step, cur AS node FROM w0
       |UNION ALL
       |$outs""".stripMargin
  }

  // ------------------------------------- neighbor-Jaccard link prediction
  /** Wedge-center degree cap: centers with more distinct neighbors than
    * this contribute NO candidate pairs — the [[BasketCap]] contract
    * restated for link prediction. Dropping celebrity centers is the
    * standard move (a hub shared by everyone carries no signal about any
    * particular pair) and is what bounds the wedge expansion to
    * O(|centers| · cap²) instead of a hub-degree quadratic. */
  val JaccCenterCap = 64
  /** Minimum shared-neighbor count for a reported pair. */
  val JaccMinCommon = 2

  /** Neighbor-Jaccard link prediction over the symmetric part–supplier
    * graph (Liben-Nowell &amp; Kleinberg 2003): for node pairs sharing
    * ≥ [[JaccMinCommon]] neighbors, the Jaccard coefficient of their
    * neighbor sets in integer micros — the classic "who should be
    * connected but isn't / which two catalog entries are substitutes"
    * feature. Candidates come from wedge expansion through shared
    * centers of degree ≤ [[JaccCenterCap]], and the INTERSECTION count
    * is over those same ≤ cap centers — a shared hub above the cap
    * contributes to neither candidacy nor `common` (the deliberate
    * hub-exclusion estimator: a neighbor shared by everyone carries no
    * signal, so its omission BIASES scores down only for hub-coupled
    * pairs). Degrees in the DENOMINATOR are the full uncapped
    * distinct-neighbor degrees. So the emitted score is exactly
    * |Γ≤cap(a)∩Γ≤cap(b)| / (|Γ(a)|+|Γ(b)|−|Γ≤cap(a)∩Γ≤cap(b)|) — the
    * documented estimator, NOT the full-set Jaccard for pairs that also
    * share a >cap hub ([[adamicAdar]]'s n_common/aa_micros restrict the
    * same way; the oracle mirrors the computation term for term).
    *
    * Scale shape: one distinct edge shuffle, one degree aggregate, the
    * capped wedge self-join (per-center ≤ cap² pair rows, map-side
    * expanded), one (a, b) count aggregate, two broadcast-sized degree
    * joins. No global window, no driver traffic. */
  def jaccardNeighbors(s: SparkSession, d: String): DataFrame =
    jaccardNeighborsOf(s, partSupplierEdges(s, d))

  /** [[jaccardNeighbors]] over an arbitrary directed edge frame.
    *
    * Cache contract (here, [[adamicAdarOf]], [[modularityOf]]): the edge
    * frame is `persist()`ed and intentionally NOT unpersisted — the
    * returned frame is lazy, so releasing before the caller's action
    * would forfeit the reuse the cache exists for. The gates clear it
    * (`Bench`/`Verify` run `catalog.clearCache()` after each query); a
    * long-lived embedding session must do the same between queries or
    * the cached edges outlive their run. */
  private[graft] def jaccardNeighborsOf(s: SparkSession, e0: DataFrame): DataFrame = {
    import s.implicits._
    val und = undirected(e0)
    val deg = und.groupBy($"src".as("n")).agg(count(lit(1)).as("deg"))
    val small = deg.filter($"deg" <= JaccCenterCap).select($"n".as("c"))
    val capped = und.join(small, und("src") === small("c"))
      .select($"c", $"dst".as("nb"))
    val pairs = capped.as("x").join(capped.as("y"),
        col("x.c") === col("y.c") && col("x.nb") < col("y.nb"))
      .groupBy(col("x.nb").as("a"), col("y.nb").as("b"))
      .agg(count(lit(1)).as("common"))
      .filter($"common" >= JaccMinCommon)
    pairs
      .join(deg.select($"n".as("a"), $"deg".as("deg_a")), "a")
      .join(deg.select($"n".as("b"), $"deg".as("deg_b")), "b")
      .select($"a", $"b", $"common", $"deg_a", $"deg_b",
        expr(s"(common * ${PrScale}L) div (deg_a + deg_b - common)")
          .as("jaccard_micros"))
  }

  // ---------------------------------------------- community modularity
  /** Modularity report of the [[labelPropagation]] communities — the
    * quality score that tells a user whether the LPA run found real
    * structure or noise (Newman 2004: Q = Σ_c [e_c/m − (d_c/2m)²];
    * Q → 0 means no better than random, ≥ 0.3 is conventionally
    * "real"). The evaluation-report pattern ([[Similarity]]'s
    * ann_recall_report class): ship the algorithm AND the meter that
    * judges its output.
    *
    * Per community: node count, internal UNDIRECTED edge count e_c,
    * degree mass d_c, and the Q contribution in integer micros — each
    * division snapped to integers identically on both engines; the
    * d_c² · 10⁶ product rides DECIMAL(38,0)/HUGEINT (d_c can reach 2m,
    * so the square crosses int64 at ~3·10⁶ undirected edges — the
    * [[graft.operators.Profiling.correlations]] headroom discipline).
    * Global Q = the exact integer sum of the rows.
    *
    * Scale shape: the LPA rounds dominate ([[labelPropagationOf]]);
    * modularity itself is two label joins against the edge list, one
    * count aggregate per community, one broadcast single-row m. */
  def modularity(s: SparkSession, d: String): DataFrame =
    modularityOf(s, partSupplierEdges(s, d))

  /** [[modularity]] over an arbitrary directed edge frame (src, dst). */
  private[graft] def modularityOf(s: SparkSession, e0: DataFrame): DataFrame = {
    import s.implicits._
    val und = undirected(e0) // m2, degrees and the internal-edge filter
    val lab = labelPropagationOf(s, e0)
    val m2 = und.agg(count(lit(1)).as("m2")) // = 2m (both directions)
    val deg = und.groupBy($"src".as("node")).agg(count(lit(1)).as("deg"))
    val byComm = lab.join(deg, "node")
      .groupBy($"community")
      .agg(count(lit(1)).as("n_nodes"), sum($"deg").as("d_sum"))
    // internal edges: both endpoints labeled c, counted once (src < dst)
    val internal = und.filter($"src" < $"dst")
      .join(lab.select($"node".as("src"), $"community".as("ca")), "src")
      .join(lab.select($"node".as("dst"), $"community".as("cb")), "dst")
      .filter($"ca" === $"cb")
      .groupBy($"ca".as("community")).agg(count(lit(1)).as("e_in"))
    byComm.join(internal, Seq("community"), "left")
      .select($"community", $"n_nodes", $"d_sum",
        coalesce($"e_in", lit(0L)).as("e_in"))
      .crossJoin(broadcast(m2))
      .select($"community", $"n_nodes", $"e_in", $"d_sum",
        expr("""(e_in * 2000000L div m2) -
               |CAST((CAST(d_sum AS DECIMAL(38,0)) * d_sum * 1000000)
               |     div (CAST(m2 AS DECIMAL(38,0)) * m2) AS BIGINT)"""
          .stripMargin.replace("\n", " ")).as("q_contrib_micros"))
  }

  /** DuckDB twin of [[modularity]] — the [[labelPropagationOracle]]
    * chain extended with the same integer-snapped Q arithmetic
    * (HUGEINT squares mirror the DECIMAL(38,0) side). */
  val modularityOracle: String =
    s"""WITH $lpaCtes,
       |lab AS MATERIALIZED (SELECT node, lab AS community FROM l$LpaIters),
       |m2 AS (SELECT CAST(count(*) AS BIGINT) AS m2 FROM und),
       |deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS deg
       |  FROM und GROUP BY src),
       |bycomm AS (SELECT b.community, CAST(count(*) AS BIGINT) AS n_nodes,
       |    CAST(sum(d.deg) AS BIGINT) AS d_sum
       |  FROM lab b JOIN deg d USING (node) GROUP BY b.community),
       |internal AS (SELECT a.community, CAST(count(*) AS BIGINT) AS e_in
       |  FROM und u
       |  JOIN lab a ON a.node = u.src JOIN lab b ON b.node = u.dst
       |  WHERE u.src < u.dst AND a.community = b.community
       |  GROUP BY a.community)
       |SELECT c.community, c.n_nodes, coalesce(i.e_in, 0) AS e_in, c.d_sum,
       |  CAST((coalesce(i.e_in, 0) * 2000000) // m.m2
       |    - (CAST(c.d_sum AS HUGEINT) * c.d_sum * 1000000)
       |      // (CAST(m.m2 AS HUGEINT) * m.m2) AS BIGINT) AS q_contrib_micros
       |FROM bycomm c LEFT JOIN internal i USING (community), m2 m""".stripMargin

  // ---------------------------------------- Adamic–Adar link prediction
  /** Adamic–Adar scores over the same capped wedge candidates as
    * [[jaccardNeighbors]] (Adamic &amp; Adar 2003): AA(a,b) =
    * Σ_{c ∈ Γ(a)∩Γ(b), deg c ≤ [[JaccCenterCap]]} 1/ln(deg c) — shared
    * RARE centers count more than shared hubs, the refinement Jaccard
    * can't express (it weighs all common neighbors equally). The sum —
    * and n_common — run over ≤ cap-degree shared centers only, the same
    * hub exclusion as [[jaccardNeighbors]]' intersection (a >cap hub's
    * omitted term is the SMALLEST possible, ≤ 10⁶/ln(cap), so the
    * exclusion trims exactly the terms AA already discounts hardest).
    * Shipping both scores over one candidate set is the standard
    * link-prediction feature pair.
    *
    * Float discipline: each center's 10⁶/ln(deg) term is one exact-int
    * →double cast + ln + divide (identical IEEE ops both engines),
    * snapped to integer micros BEFORE the per-pair sum — the
    * [[graft.operators.Profiling.entropy]] per-term-snap idiom, so the
    * sum is exact integer arithmetic with no association-order edge.
    * deg(c) ≥ 2 for every wedge center by construction (a degree-1
    * center has no pair), so ln never sees 1.
    *
    * Scale shape: identical to [[jaccardNeighbors]] — the capped wedge
    * expansion with the center's full degree carried on each pair row,
    * then one map-side-combined (a, b) sum. */
  def adamicAdar(s: SparkSession, d: String): DataFrame =
    adamicAdarOf(s, partSupplierEdges(s, d))

  /** [[adamicAdar]] over an arbitrary directed edge frame. */
  private[graft] def adamicAdarOf(s: SparkSession, e0: DataFrame): DataFrame = {
    import s.implicits._
    val und = undirected(e0)
    val deg = und.groupBy($"src".as("n")).agg(count(lit(1)).as("deg"))
    val capped = und.join(deg.filter($"deg" <= JaccCenterCap)
        .select($"n".as("c"), $"deg".as("cdeg")), und("src") === col("c"))
      .select($"c", $"cdeg", $"dst".as("nb"))
    capped.as("x").join(capped.as("y"),
        col("x.c") === col("y.c") && col("x.nb") < col("y.nb"))
      .select(col("x.nb").as("a"), col("y.nb").as("b"),
        expr("CAST(round(1000000 / ln(CAST(x.cdeg AS DOUBLE))) AS BIGINT)")
          .as("term"))
      .groupBy($"a", $"b")
      .agg(count(lit(1)).as("n_common"), sum($"term").as("aa_micros"))
      .filter($"n_common" >= JaccMinCommon)
  }

  /** DuckDB twin of [[adamicAdar]] — same capped wedges, same per-term
    * micro snap before the integer sum. */
  val adamicAdarOracle: String =
    s"""WITH $undCte,
       |deg AS MATERIALIZED (SELECT src AS n, CAST(count(*) AS BIGINT) AS deg
       |  FROM und GROUP BY src),
       |capped AS MATERIALIZED (SELECT u.src AS c, d.deg AS cdeg, u.dst AS nb
       |  FROM und u JOIN deg d ON d.n = u.src AND d.deg <= $JaccCenterCap)
       |SELECT x.nb AS a, y.nb AS b, CAST(count(*) AS BIGINT) AS n_common,
       |  CAST(sum(CAST(round(1000000 / ln(CAST(x.cdeg AS DOUBLE))) AS BIGINT))
       |    AS BIGINT) AS aa_micros
       |FROM capped x JOIN capped y ON x.c = y.c AND x.nb < y.nb
       |GROUP BY x.nb, y.nb HAVING count(*) >= $JaccMinCommon""".stripMargin

  /** DuckDB twin of [[jaccardNeighbors]] — same capped wedge expansion,
    * full-degree denominators, integer-micro division. */
  val jaccardNeighborsOracle: String =
    s"""WITH $undCte,
       |deg AS MATERIALIZED (SELECT src AS n, CAST(count(*) AS BIGINT) AS deg
       |  FROM und GROUP BY src),
       |capped AS MATERIALIZED (SELECT u.src AS c, u.dst AS nb
       |  FROM und u JOIN deg d ON d.n = u.src AND d.deg <= $JaccCenterCap),
       |pairs AS (SELECT x.nb AS a, y.nb AS b, CAST(count(*) AS BIGINT) AS common
       |  FROM capped x JOIN capped y ON x.c = y.c AND x.nb < y.nb
       |  GROUP BY x.nb, y.nb HAVING count(*) >= $JaccMinCommon)
       |SELECT p.a, p.b, p.common, da.deg AS deg_a, db.deg AS deg_b,
       |  CAST((p.common * $PrScale) // (da.deg + db.deg - p.common) AS BIGINT)
       |    AS jaccard_micros
       |FROM pairs p JOIN deg da ON da.n = p.a JOIN deg db ON db.n = p.b""".stripMargin
}
