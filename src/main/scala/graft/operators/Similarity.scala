package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.graft.GraftFunctions.dot
import graft.core.Tables
import graft.functions.Hashing

/** Approximate-nearest-neighbor search and embedding diagnostics over the
  * `embeddings` table (`Array[Float]`, dim 64).
  *
  * Every ANN query is one shape — a CANDIDATE SOURCE feeding ONE exact
  * cosine re-rank and top-k, the filter-then-verify unit of thresholded
  * similarity search. The sources:
  *
  *   - brute force ([[annBruteTopK]]): every corpus vector — the exact
  *     baseline and the recall truth;
  *   - sign-LSH ([[annLshTopK]]): vectors sharing a signature band;
  *   - IVF ([[annIvfTopK]]): vectors in the query's probed k-means cells;
  *   - PQ and IVF+PQ ([[annPqTopK]], [[annIvfPqTopK]]): the ADC shortlist
  *     over 8-byte codes, optionally restricted to the probed cells;
  *   - filtered search and hard-negative mining ([[annFilteredTopK]],
  *     [[annHardNegatives]] and their brute truths): a source narrowed by
  *     a label relation (`=` or `<>`) before the re-rank.
  *
  * Why one kernel: the re-rank is the only place a neighbor's rank is
  * decided, so every leg shares ONE rank tail — (round(sim, 6) DESC,
  * vec_id ASC), in the engine ([[topK]]) and in the DuckDB twins
  * ([[rerankSql]]). A float tie can then never order neighbors differently
  * in the engine and its oracle, and an approximate leg differs from its
  * truth only in which candidates it found, never in how it ranked them.
  *
  * 100 TB shape: brute force is O(Q·N) dot products and only exists for
  * verification/small Q; the index sources bound the candidate stream
  * (band buckets, probed cells, ADC shortlists) before any full-precision
  * vector moves.
  */
object Similarity {

  val NumQueries = 5
  val TopK = 10

  private[operators] type Vecs = Dataset[(Long, Array[Double])]

  /** The (vec_id, v: array<double>) frame of a (vec_id, embedding) frame —
    * the one embedding decode, also read by Dedup's cosine legs;
    * [[annRecallReport]] persists it once for all its legs. */
  private[operators] def vecsOf(emb: DataFrame): Vecs = {
    import emb.sparkSession.implicits._
    emb.select($"vec_id", $"embedding".cast("array<double>").as("v"))
      .as[(Long, Array[Double])]
  }

  private def vecsOf(s: SparkSession, d: String): Vecs = vecsOf(Tables.embeddings(s, d))

  private def labelsOf(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d).select("vec_id", "label")

  /** (vec_id, v, norm) of a vector frame. */
  private[operators] def withNormOf(s: SparkSession, vecs: Vecs): DataFrame = {
    import s.implicits._
    vecs.toDF("vec_id", "v").withColumn("norm", sqrt(dot($"v", $"v")))
  }

  /** A label relation narrowing a candidate source: a vector stays a
    * candidate of a query iff their labels are equal (`same`) or differ. */
  private final case class LabelFilter(labels: DataFrame, same: Boolean) {
    def holds(a: Column, b: Column): Column = if (same) a === b else a =!= b
  }

  /** The first [[NumQueries]] vectors of a normed frame, as the query side. */
  private def queriesOf(e: DataFrame, extra: Column*): DataFrame =
    e.filter(col("vec_id") < NumQueries).select(Seq(col("vec_id").as("query_id"),
      col("v").as("qv"), col("norm").as("qnorm")) ++ extra: _*)

  private def cosine: Column = dot(col("qv"), col("v")) / (col("qnorm") * col("norm"))

  /** THE rank tail of every leg: per query, the [[TopK]] best
    * (query_id, vec_id, sim) rows by (round(sim, 6) DESC, vec_id ASC) —
    * rounding first so float noise can never reorder a tie against the
    * oracle ([[rerankSql]] is its twin). */
  private def topK(scored: DataFrame): DataFrame = {
    import scored.sparkSession.implicits._
    val w = Window.partitionBy($"query_id")
      .orderBy(round($"sim", 6).desc, $"vec_id".asc)
    scored.withColumn("rank", row_number().over(w))
      .filter($"rank" <= TopK)
      .select($"query_id", $"vec_id".as("neighbor_id"), $"rank",
        round($"sim", 4).as("cos_sim"))
  }

  /** The brute source and its scorer in one join: every corpus vector
    * against the [[NumQueries]]-row broadcast query side, narrowed by
    * `filter`. Unfiltered and `<>` this is a BroadcastNestedLoopJoin BY
    * DESIGN (no equi-key exists); `=` makes the label a hash-join key, so
    * each vector scores only against same-label queries. */
  private def bruteOn(s: SparkSession, vecs: Vecs,
      filter: Option[LabelFilter]): DataFrame = {
    import s.implicits._
    val norm = withNormOf(s, vecs)
    val e = filter.fold(norm)(f => norm.join(f.labels, "vec_id"))
    val q = queriesOf(e, filter.map(_ => $"label".as("qlabel")).toSeq: _*)
    val notSelf = $"vec_id" =!= $"query_id"
    topK(e.join(broadcast(q), filter.fold(notSelf)(_.holds($"label", $"qlabel") && notSelf))
      .withColumn("sim", cosine))
  }

  /** Exact cosine re-rank of (query_id, vec_id) candidate pairs, top-k. */
  private def rerankOn(s: SparkSession, vecs: Vecs, cands: DataFrame): DataFrame = {
    val norm = withNormOf(s, vecs)
    topK(cands.join(norm, "vec_id").join(broadcast(queriesOf(norm)), "query_id")
      .withColumn("sim", cosine))
  }

  /** DuckDB twin of a candidate source: `cand(query_id, vec_id)` = the
    * pairs of `from` (corpus vector `c`, query `q`), self-pairs dropped,
    * narrowed by the label relation `rel` (`=` or `<>`) when given. */
  private def candSql(from: String, c: String, q: String,
      rel: Option[String] = None): String = {
    val (join, where) = rel.fold(("", "")) { op =>
      (s"\n  JOIN embeddings l ON l.vec_id = $c JOIN embeddings ql ON ql.vec_id = $q",
        s" AND l.label $op ql.label")
    }
    s"""cand AS (SELECT DISTINCT $q AS query_id, $c AS vec_id
       |  FROM $from$join
       |  WHERE $c <> $q$where)""".stripMargin
  }

  /** DuckDB twin of [[vecsOf]]: the decoded corpus as CTE `e(vec_id, v)`. */
  private def vecCte: String =
    "e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)"

  /** DuckDB twin of [[withNormOf]] over `e`: CTE `name(vec_id, v, norm)`. */
  private def normCte(name: String): String =
    s"$name AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS norm FROM e)"

  /** [[vecCte]] and its norms `n(vec_id, v, norm)`: the cosine twins' prefix. */
  private[operators] def normedVecCtes: String = s"$vecCte,\n${normCte("n")}"

  /** DuckDB twin of [[rerankOn]] + [[topK]]: exact cosine re-rank of the
    * candidate CTE `cand` over the corpus CTE `e(vec_id, v)`, and the one
    * rank tail. The statement's last CTEs and its final SELECT. */
  private def rerankSql(cand: String): String =
    s"""${normCte("n")},
       |q AS (SELECT vec_id AS query_id, v AS qv, norm AS qnorm FROM n
       |      WHERE vec_id < $NumQueries),
       |scored AS (SELECT c.query_id, c.vec_id,
       |    list_dot_product(q.qv, n.v) / (q.qnorm * n.norm) AS sim
       |  FROM $cand c JOIN n ON n.vec_id = c.vec_id JOIN q ON q.query_id = c.query_id),
       |ranked AS (SELECT query_id, vec_id, sim,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY round(sim, 6) DESC, vec_id ASC) AS rank
       |  FROM scored)
       |SELECT query_id, vec_id AS neighbor_id, rank, round(sim, 4) AS cos_sim
       |FROM ranked WHERE rank <= $TopK""".stripMargin

  /** DuckDB twin of [[bruteOn]]: every (query, vector) pair is a candidate. */
  private def bruteSql(rel: Option[String]): String =
    s"""WITH $vecCte,
       |${candSql(s"e c JOIN e q ON q.vec_id < $NumQueries", "c.vec_id", "q.vec_id", rel)},
       |${rerankSql("cand")}""".stripMargin

  /** Exact brute-force cosine top-k for the first [[NumQueries]] vectors. */
  def annBruteTopK(s: SparkSession, d: String): DataFrame =
    bruteOn(s, vecsOf(s, d), None)

  val annBruteTopKOracle: String = bruteSql(None)

  /** Int8 embedding quantization: per-vector absmax scaling to [-127,127]
    * — 4x storage reduction for the embedding column (the difference
    * between 100 TB and 25 TB of vectors). Returns (vec_id, scale,
    * qvec int8[]); dequantize(x) = x * scale. Reconstruction error is
    * bounded by scale/2 per component (asserted in SimilaritySpec, along
    * with top-k stability under quantization). */
  def quantizeEmbeddings(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    vecsOf(s, d)
      .map { case (id, v) =>
        var m = 0.0
        var i = 0
        while (i < v.length) { val a = math.abs(v(i)); if (a > m) m = a; i += 1 }
        val scale = if (m == 0.0) 1.0 else m / 127.0
        val q = new Array[Byte](v.length)
        i = 0
        while (i < v.length) {
          // round half AWAY FROM ZERO (matches DuckDB/C round(); Scala's
          // math.round rounds half toward +inf and diverges on negative
          // exact halves — e.g. -63.5 → -63 vs -64)
          val x = v(i) / scale
          q(i) = (if (x >= 0) math.floor(x + 0.5) else math.ceil(x - 0.5)).toByte
          i += 1
        }
        (id, scale, q)
      }
      .toDF("vec_id", "scale", "qvec")
  }

  /** Scalar-column digest of [[quantizeEmbeddings]] for the external
    * correctness gate: per vector, the rounded scale plus dim / sum / min /
    * max / L1 of the int8 components — deterministic arithmetic DuckDB
    * reproduces exactly (see [[quantizeStatsOracle]]), so the quantization
    * is hash-checked, not just row-counted. (The qvec itself is binary and
    * array-typed outputs crash the gate's canonicalizer.) */
  def quantizeStats(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    quantizeEmbeddings(s, d)
      .as[(Long, Double, Array[Byte])]
      .map { case (id, scale, q) =>
        var sum = 0L; var l1 = 0L
        var mn = Int.MaxValue; var mx = Int.MinValue
        var i = 0
        while (i < q.length) {
          val x = q(i).toInt
          sum += x; l1 += math.abs(x)
          if (x < mn) mn = x
          if (x > mx) mx = x
          i += 1
        }
        (id, scale, q.length.toLong, sum, mn, mx, l1)
      }
      .toDF("vec_id", "scale_raw", "dim", "q_sum", "q_min", "q_max", "q_l1")
      .select($"vec_id", round($"scale_raw", 6).as("scale_r"), $"dim",
        $"q_sum", $"q_min", $"q_max", $"q_l1")
  }

  val quantizeStatsOracle: String =
    s"""WITH $vecCte,
      |m AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS mx FROM e),
      |sc AS (SELECT vec_id, v,
      |  CASE WHEN mx = 0 THEN 1.0 ELSE mx / 127.0 END AS scale FROM m),
      |q AS (SELECT vec_id, scale,
      |  list_transform(v, x -> CAST(round(x / scale) AS INT)) AS qv FROM sc)
      |SELECT vec_id, round(scale, 6) AS scale_r, CAST(len(qv) AS BIGINT) AS dim,
      | CAST(list_sum(qv) AS BIGINT) AS q_sum,
      | CAST(list_min(qv) AS INT) AS q_min, CAST(list_max(qv) AS INT) AS q_max,
      | CAST(list_sum(list_transform(qv, x -> abs(x))) AS BIGINT) AS q_l1
      |FROM q""".stripMargin

  /** Sign-LSH bucketed ANN: 16-bit signatures, candidates = vectors sharing
    * any 4-bit signature band with the query, exact re-rank of candidates.
    * SimilaritySpec measures recall@k against [[annBruteTopK]]. */
  val SigBits = 16
  val BandBits = 4
  val NumBands: Int = SigBits / BandBits

  def signatures(s: SparkSession, d: String): DataFrame =
    signaturesOf(s, vecsOf(s, d))

  private def signaturesOf(s: SparkSession, vecs: Vecs): DataFrame = {
    import s.implicits._
    val planes = Hashing.hyperplanes(SigBits, 64)
    vecs.map { case (id, v) => (id, Hashing.signSignature(v, planes)) }
      .toDF("vec_id", "sig")
  }

  /** IVF-style bucketed ANN: [[IvfCells]] centroids refined by
    * [[IvfLloydIters]] spherical Lloyd iterations (seeded by deterministic
    * k-means++ over a mix64 sample), every vector assigned to its nearest centroid
    * (inverted file), queries probe their [[IvfProbes]] nearest cells,
    * exact re-rank within the probed cells only.
    *
    * Scale shape: each Lloyd iteration is one broadcast-centroid
    * assignment pass + one two-phase mean aggregation — the centroid
    * table itself is [[IvfCells]] rows, so the per-iteration collect is
    * constant-size. The candidate join is an equi-join on cell id; cells
    * bound the re-rank work to ~nprobe/ncells of the corpus. Per-cell
    * means are per-partition (vector-sum, count) partials merged per cell
    * — no task ever materializes a cell's rows (a cell holds ~1/ncells of
    * the corpus: buffering it is an executor OOM at 100×). The partials
    * accumulate in FIXED-POINT (see [[IvfFixedScale]]), so the centroids
    * are bit-deterministic regardless of partition merge order — which is
    * what lets [[annIvfTopKOracle]] be an exact DuckDB twin instead of a
    * rows-only check. */
  /** Cell count k. The GATE default is 16 (the oracle-matched shape: the
    * DuckDB twins interpolate this same value, so engine and oracle always
    * agree within one JVM). At deploy k scales with the corpus — k ≈
    * n/⟨target cell size⟩ — because both the IVF probe cost and SemDeDup's
    * Σ|cell|² pair cost are quadratic in cell size at FIXED k; the scale
    * rehearsal overrides via `GRAFT_IVF_CELLS` to demonstrate the linear
    * path (SCALE_r5.md). Above [[SeedGreedyMax]] the k-means++ greedy
    * (O(16·k³) driver work) is replaced by a distributed hash-uniform
    * seed sample — the Lloyd/assignment stages are k-independent per row
    * and need no change. */
  val IvfCells: Int = sys.env.get("GRAFT_IVF_CELLS").map(_.toInt).getOrElse(16)
  val IvfProbes = 4
  val IvfLloydIters = 3

  /** Above this k, seeding switches from exact greedy farthest-first
    * (O(16·k³) driver work — measured 26× the rest of the query at k=320)
    * to the distributed hash-uniform sample; see [[lloydCentroids]]. */
  val SeedGreedyMax = 64

  /** Fixed-point scale for the Lloyd mean accumulation: each unit-vector
    * component is quantized to floor(u·2^30 + 0.5) and summed as a Long —
    * integer addition commutes, so the per-cell sums (and therefore the
    * centroids, the assignments, and the final top-k) cannot drift with
    * partition merge order the way float partials did. 2^30 keeps the
    * quantization at ~1e-9 per component (far below any cluster
    * boundary — recall is unchanged, SimilaritySpec) while leaving
    * 2^63/2^30 = 2^33 ≈ 8.6e9 rows of Long headroom per cell. The
    * multiply by a power of two is exact in IEEE double, so the quantized
    * value — and hence the whole pipeline — is reproducible in any engine
    * with the same doubles, which the DuckDB twin exploits. */
  val IvfFixedScale: Double = (1L << 30).toDouble

  private def cosTo(planes: Array[(Long, Array[Double])], v: Array[Double]): Array[(Long, Double)] =
    planes.map { case (cid, c) =>
      var dot = 0.0; var nc = 0.0; var nv = 0.0; var i = 0
      while (i < v.length) { dot += c(i) * v(i); nc += c(i) * c(i); nv += v(i) * v(i); i += 1 }
      (cid, dot / (math.sqrt(nc) * math.sqrt(nv)))
    }

  private def nearestCell(cs: Array[(Long, Array[Double])], v: Array[Double]): Long =
    cosTo(cs, v).maxBy { case (cid, sim) => (sim, -cid) }._1

  /** The `n` cells nearest to `v`: cosine DESC, smaller cell id on ties. */
  private def probeRing(cs: Array[(Long, Array[Double])], v: Array[Double],
      n: Int): Array[Long] =
    cosTo(cs, v).sortBy { case (cid, sim) => (-sim, cid) }.take(n).map(_._1)

  /** Every corpus vector's nearest cell, (vec_id, cell), under broadcast
    * centroids. */
  private def assignCells(s: SparkSession, vecs: Vecs,
      centroids: Array[(Long, Array[Double])]): DataFrame = {
    import s.implicits._
    val bc = s.sparkContext.broadcast(centroids)
    vecs.map { case (id, v) => (id, nearestCell(bc.value, v)) }.toDF("vec_id", "cell")
  }

  /** The fixed-point mean `Aggregator` shared by the IVF Lloyd passes and
    * the PQ codebook training: per-partition (Long-sum, count) partials
    * per cell, quantized at [[IvfFixedScale]] so the mean is independent
    * of partition merge order (integer addition commutes; float partials
    * don't). Encoders come from the caller's `import s.implicits._`. */
  private def fixedMeanAgg(implicit
      be: org.apache.spark.sql.Encoder[(Array[Long], Long)],
      oe: org.apache.spark.sql.Encoder[Array[Double]]):
      org.apache.spark.sql.expressions.Aggregator[
        Array[Double], (Array[Long], Long), Array[Double]] =
    new org.apache.spark.sql.expressions.Aggregator[
        Array[Double], (Array[Long], Long), Array[Double]] {
      def zero: (Array[Long], Long) = (Array.emptyLongArray, 0L)
      def reduce(b: (Array[Long], Long), v: Array[Double]): (Array[Long], Long) = {
        val acc = if (b._1.length == 0) new Array[Long](v.length) else b._1
        var i = 0
        while (i < v.length) {
          acc(i) += math.floor(v(i) * IvfFixedScale + 0.5).toLong
          i += 1
        }
        (acc, b._2 + 1)
      }
      def merge(x: (Array[Long], Long), y: (Array[Long], Long)): (Array[Long], Long) =
        if (x._1.length == 0) y
        else if (y._1.length == 0) x
        else {
          val acc = x._1
          var i = 0
          while (i < acc.length) { acc(i) += y._1(i); i += 1 }
          (acc, x._2 + y._2)
        }
      def finish(r: (Array[Long], Long)): Array[Double] = {
        val out = new Array[Double](r._1.length)
        var i = 0
        while (i < out.length) {
          out(i) = (r._1(i).toDouble / r._2.toDouble) / IvfFixedScale
          i += 1
        }
        out
      }
      def bufferEncoder: org.apache.spark.sql.Encoder[(Array[Long], Long)] = be
      def outputEncoder: org.apache.spark.sql.Encoder[Array[Double]] = oe
    }

  /** Lloyd-refined centroids: assign → per-cell mean, [[IvfLloydIters]]
    * times. Empty cells keep their previous centroid.
    *
    * The mean is a typed `Aggregator` (per-partition partials + per-cell
    * merge — the map-side-combine shape): a task holds one running
    * (sum, count) buffer per cell it sees, never a cell's row set. The
    * sums are fixed-point Longs ([[IvfFixedScale]]) so the result is
    * independent of partition merge order. */
  private def lloydCentroids(s: SparkSession, vecs: Vecs): Array[(Long, Array[Double])] = {
    import s.implicits._
    val meanAgg = fixedMeanAgg
    // seeding: k-means++ farthest-first over a DETERMINISTIC random sample
    // — the 16×IvfCells vectors with the smallest mix64(vec_id) (splitmix64
    // scrambles ids, so this is NOT "first rows"; adjacent/correlated ids
    // are equally likely anywhere in the sample). The sample plans as
    // TakeOrderedAndProject — bounded top-k per partition + merge, constant
    // driver traffic — and the greedy spread runs on the driver over
    // sample×cells pairs (constant work AT GATE k). Farthest-first beats a
    // bare random 16: it cannot seed two centroids inside one dense cluster.
    //
    // LARGE k ([[SeedGreedyMax]] <): the greedy loop is O(16·k³) dist
    // evaluations on ONE driver thread — the r5 scale rehearsal measured
    // it dominating the whole query 26:1 at k=320 — so big-k seeding takes
    // the k smallest-mix64 vectors directly (hash-uniform over the corpus,
    // the same TakeOrdered plan, zero driver quadratics) and lets the
    // Lloyd passes shape the layout; the oracle-matched gate path (k=16)
    // keeps greedy farthest-first bit-for-bit.
    val sample = vecs
      .map { case (id, v) => (Hashing.mix64(id), id, v) }
      .orderBy("_1").limit(if (IvfCells <= SeedGreedyMax) 16 * IvfCells else IvfCells)
      .collect().sortBy(_._1).map { case (_, id, v) => (id, v) }
    def cosDist(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      1.0 - dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val chosen: Seq[(Long, Array[Double])] =
      if (IvfCells > SeedGreedyMax) sample.toSeq
      else {
        val acc = scala.collection.mutable.ArrayBuffer(sample.head)
        while (acc.length < math.min(IvfCells, sample.length)) {
          // farthest point from its nearest chosen center (ties → smaller id)
          val next = sample.filterNot(p => acc.exists(_._1 == p._1))
            .maxBy { case (id, v) => (acc.map(c => cosDist(c._2, v)).min, -id) }
          acc += next
        }
        acc.toSeq
      }
    var centroids = chosen.toArray.sortBy(_._1)
      .zipWithIndex.map { case ((_, v), i) => (i.toLong, v) }
    for (_ <- 1 to IvfLloydIters) {
      val bc = s.sparkContext.broadcast(centroids)
      val means = vecs
        // spherical k-means: average UNIT vectors — assignment is by
        // cosine, so each point should pull the centroid by direction
        // only; raw means let long vectors dominate the cell direction
        .map { case (_, v) =>
          var n = 0.0; var i = 0
          while (i < v.length) { n += v(i) * v(i); i += 1 }
          val inv = if (n == 0.0) 0.0 else 1.0 / math.sqrt(n)
          val u = new Array[Double](v.length)
          i = 0
          while (i < v.length) { u(i) = v(i) * inv; i += 1 }
          (nearestCell(bc.value, u), u)
        }
        .groupByKey(_._1)
        .mapValues(_._2)
        .agg(meanAgg.toColumn)
        .collect().toMap // IvfCells rows — constant-size driver traffic
      centroids = centroids.map { case (cid, old) => (cid, means.getOrElse(cid, old)) }
    }
    centroids
  }

  // --- shared DuckDB-twin builders: [[annIvfTopKOracle]] and
  // [[semanticDedupOracle]] reuse the corpus-to-cell CTE chain below ---
  // ordered left-to-right fold over the 64 components (bit-parity with
  // the JVM accumulation loops)
  private def fold(t: String): String =
      s"list_reduce(list_prepend(0.0, list_transform(range(64), j -> $t)), (a, x) -> a + x)"
  private def dotf(a: String, b: String): String = fold(s"$a[j+1] * $b[j+1]")
  private def n2f(a: String): String = fold(s"$a[j+1] * $a[j+1]")
  // splitmix64 over HUGEINT — the one shared construction ([[Dedup.SqlU64]])
  private val U = Dedup.SqlU64.U
  private def mix(x: String): String = Dedup.SqlU64.mix(x)
    private val mixU = mix("CAST(vec_id AS HUGEINT)")
    private val mixSigned =
      s"""CAST(CASE WHEN $mixU >= CAST(9223372036854775808 AS HUGEINT)
         | THEN $mixU - $U ELSE $mixU END AS BIGINT)""".stripMargin
    private val S = "1073741824.0" // 2^30 = IvfFixedScale, exact in double
    // one Lloyd pass: assign to nearest centroid (unit vectors), fixed-
    // point per-cell mean, empty cells keep the previous centroid
    private def lloydPass(k: Int): String =
      s"""a$k AS MATERIALIZED (SELECT vec_id, cell FROM (
         |    SELECT un.vec_id, cc.cid AS cell,
         |      row_number() OVER (PARTITION BY un.vec_id
         |        ORDER BY ${dotf("cc.cv", "un.uv")} / (cc.cn * un.un) DESC, cc.cid ASC) AS rk
         |    FROM un CROSS JOIN c${k - 1}n cc) WHERE rk = 1),
         |m$k AS MATERIALIZED (SELECT a.cell, t.j,
         |    CAST(sum(CAST(floor(un.uv[t.j + 1] * $S + 0.5) AS BIGINT)) AS BIGINT) AS sq,
         |    count(*) AS cnt
         |  FROM a$k a JOIN un USING (vec_id), unnest(range(64)) AS t(j)
         |  GROUP BY a.cell, t.j),
         |g$k AS MATERIALIZED (SELECT cell AS cid,
         |    list((CAST(sq AS DOUBLE) / CAST(cnt AS DOUBLE)) / $S ORDER BY j) AS mv
         |  FROM m$k GROUP BY cell),
         |c$k AS MATERIALIZED (SELECT c.cid, coalesce(g.mv, c.cv) AS cv
         |  FROM c${k - 1} c LEFT JOIN g$k g USING (cid)),
         |c${k}n AS MATERIALIZED (SELECT cid, cv, sqrt(${n2f("cv")}) AS cn FROM c$k)""".stripMargin
    private val passes = (1 to IvfLloydIters).map(lloydPass).mkString(",\n")

  /** Seeding CTEs, mirroring the engine's [[SeedGreedyMax]] branch: gate k
    * uses greedy farthest-first over the 16·k sample (recursive `sel`);
    * large k takes the k smallest-mix64 vectors directly — same split as
    * `lloydCentroids`, so the oracle stays an exact twin under a
    * `GRAFT_IVF_CELLS` override instead of silently diverging. */
  private def seedCtes: String = seedCtesFiltered("")

  /** [[seedCtes]] with an optional WHERE on the TRAINING vector set (the
    * drift report trains on a corpus half); "" = the byte-identical
    * historical chain. */
  private def seedCtesFiltered(trainWhere: String): String =
    if (IvfCells <= SeedGreedyMax)
      s"""smp AS MATERIALIZED (SELECT vec_id, v, m FROM
         |  (SELECT vec_id, v, $mixSigned AS m FROM e$trainWhere) ORDER BY m LIMIT ${16 * IvfCells}),
         |-- all pairwise sample cos-dists, precomputed WITHOUT correlation:
         |-- DuckDB lambdas cannot capture correlated outer columns, so the
         |-- recursive step below only does list_contains lookups over this
         |-- sd must stay NON-materialized: DuckDB 1.0 returns NULL from a
         |-- correlated subquery inside a recursive CTE when the scanned
         |-- CTE is MATERIALIZED (seeds collapse after step 1 — measured;
         |-- an alias over a materialized twin inherits the bug). Every
         |-- other member of this chain is materialized, which is what
         |-- collapsed the 34 s inlining blowup to ~3 s.
         |sd AS (SELECT a.vec_id AS ida, b.vec_id AS idb,
         |    1.0 - ${dotf("a.v", "b.v")} / (sqrt(${n2f("a.v")}) * sqrt(${n2f("b.v")})) AS dist
         |  FROM smp a JOIN smp b ON a.vec_id <> b.vec_id),
         |sel AS (
         |  SELECT 1 AS step, [s0.vec_id] AS ids
         |  FROM (SELECT vec_id FROM smp ORDER BY m LIMIT 1) s0
         |  UNION ALL
         |  SELECT s.step + 1,
         |    list_append(s.ids, (
         |      SELECT d.idb FROM sd d
         |      WHERE list_contains(s.ids, d.ida) AND NOT list_contains(s.ids, d.idb)
         |      GROUP BY d.idb ORDER BY min(d.dist) DESC, d.idb ASC LIMIT 1))
         |  FROM sel s
         |  WHERE s.step < least($IvfCells, (SELECT count(*) FROM smp))
         |),
         |ch AS MATERIALIZED (SELECT unnest(ids) AS id
         |  FROM (SELECT ids FROM sel ORDER BY step DESC LIMIT 1)),
         |c0 AS MATERIALIZED (SELECT row_number() OVER (ORDER BY ch.id) - 1 AS cid, p.v AS cv
         |  FROM ch JOIN smp p ON p.vec_id = ch.id)""".stripMargin
    else
      s"""smp AS MATERIALIZED (SELECT vec_id, v, m FROM
         |  (SELECT vec_id, v, $mixSigned AS m FROM e$trainWhere) ORDER BY m LIMIT $IvfCells),
         |-- big-k branch (engine's SeedGreedyMax): seeds are the k
         |-- smallest-mix64 vectors themselves, cells numbered by vec_id
         |c0 AS MATERIALIZED (SELECT row_number() OVER (ORDER BY p.vec_id) - 1 AS cid, p.v AS cv
         |  FROM smp p)""".stripMargin

  /** Shared CTE chain: raw embeddings → deterministic sample → k-means++
    * seeds → [[IvfLloydIters]] Lloyd passes → `asg` = (vec_id, cell), the
    * corpus cell assignment. Everything through `asg` is common to the
    * IVF top-k twin and the SemDeDup twin; suffix CTEs differ. */
  private def ivfCorpusCtes: String = ivfCorpusCtesTrainedOn("")

  /** [[ivfCorpusCtes]] with an optional WHERE restricting which vectors
    * TRAIN the codebook (sample, seeds, Lloyd means); `asg` still assigns
    * the WHOLE corpus under the trained centroids — exactly the engine's
    * `lloydCentroids(filtered)` + assign-all split. "" reproduces the
    * historical chain byte-for-byte (every existing oracle unchanged). */
  private def ivfCorpusCtesTrainedOn(trainWhere: String): String =
    s"""WITH RECURSIVE e AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |${seedCtesFiltered(trainWhere)},
       |c0n AS MATERIALIZED (SELECT cid, cv, sqrt(${n2f("cv")}) AS cn FROM c0),
       |u0 AS MATERIALIZED (SELECT vec_id, v, ${n2f("v")} AS n2 FROM e$trainWhere),
       |u AS (SELECT vec_id,
       |    list_transform(v, x -> x * (CASE WHEN n2 = 0 THEN 0.0 ELSE 1.0 / sqrt(n2) END)) AS uv
       |  FROM u0),
       |un AS MATERIALIZED (SELECT vec_id, uv, sqrt(${n2f("uv")}) AS un FROM u),
       |$passes,
       |vv AS MATERIALIZED (SELECT vec_id, v, sqrt(${n2f("v")}) AS vn FROM e),
       |asg AS MATERIALIZED (SELECT vec_id, cell FROM (
       |    SELECT vv.vec_id, cc.cid AS cell,
       |      row_number() OVER (PARTITION BY vv.vec_id
       |        ORDER BY ${dotf("cc.cv", "vv.v")} / (cc.cn * vv.vn) DESC, cc.cid ASC) AS rk
       |    FROM vv CROSS JOIN c${IvfLloydIters}n cc) WHERE rk = 1)""".stripMargin

  /** DuckDB twin of [[annIvfTopK]] — exact, because every stage is now
    * deterministic and reproducible from the parquet alone:
    *
    *   - the sample is the [[IvfCells]]·16 vectors with the smallest
    *     SIGNED mix64(vec_id) (splitmix64 inlined as HUGEINT arithmetic,
    *     64×64 multiplies split into 32-bit halves as in the LSH oracle;
    *     signed conversion because the JVM orders Longs);
    *   - k-means++ farthest-first seeding precomputes all pairwise sample
    *     cos-dists uncorrelated (DuckDB lambdas cannot capture correlated
    *     outer columns), then a recursive CTE carries the chosen-id list,
    *     each step picking max (min cos-dist to chosen, then smallest id)
    *     via a list_contains-filtered GROUP BY ... ORDER BY ... LIMIT 1;
    *   - [[IvfLloydIters]] Lloyd passes are unrolled CTE chains: assign =
    *     row_number over (sim DESC, cid ASC) = 1 — exactly the JVM's
    *     maxBy((sim, -cid)) — and the mean is the SAME fixed-point
    *     arithmetic as the engine: floor(u·2^30 + 0.5) summed as BIGINT,
    *     then (CAST(sum AS DOUBLE) / count) / 2^30;
    *   - sign-critical dots (assignment, probes, seeding) are ORDERED
    *     left-to-right folds matching the JVM loops bit-for-bit (the LSH
    *     oracle's rule: a last-ulp difference at an argmax boundary flips
    *     a cell assignment); only the re-rank uses list_dot_product,
    *     where the brute oracle already proved parity and ranking rounds
    *     to 6dp first. */
  val annIvfTopKOracle: String = s"${ivfCandSql(IvfProbes)},\n${rerankSql("cand")}"

  /** DuckDB twin of the IVF candidate source: the [[ivfCorpusCtes]]
    * replay, each query's `probes` nearest cells (`pr`, the same
    * (sim DESC, cid ASC) order as [[probeRing]]), then the corpus vectors
    * assigned to them, narrowed by `rel`. */
  private def ivfCandSql(probes: Int, rel: Option[String] = None): String =
    s"""$ivfCorpusCtes,
       |pr AS (SELECT query_id, cell FROM (
       |    SELECT vv.vec_id AS query_id, cc.cid AS cell,
       |      row_number() OVER (PARTITION BY vv.vec_id
       |        ORDER BY ${dotf("cc.cv", "vv.v")} / (cc.cn * vv.vn) DESC, cc.cid ASC) AS rk
       |    FROM vv CROSS JOIN c${IvfLloydIters}n cc WHERE vv.vec_id < $NumQueries)
       |  WHERE rk <= $probes),
       |${candSql("asg a JOIN pr p USING (cell)", "a.vec_id", "p.query_id", rel)}""".stripMargin

  def annIvfTopK(s: SparkSession, d: String): DataFrame = {
    val vecs = vecsOf(s, d)
    ivfOn(s, vecs, lloydCentroids(s, vecs), IvfProbes, None)
  }

  /** The IVF source: the corpus vectors assigned to each query's `probes`
    * nearest cells, narrowed by `filter` BEFORE the re-rank (pre-filtering:
    * no top-k slot goes to a vector the filter would discard). One
    * |V|-row assignment frame, [[NumQueries]]-row broadcast probes and
    * query labels; candidates are pruned before any full-precision vector
    * moves. */
  private def ivfOn(s: SparkSession, vecs: Vecs,
      centroids: Array[(Long, Array[Double])], probes: Int,
      filter: Option[LabelFilter]): DataFrame = {
    import s.implicits._
    val ring = vecs.filter(_._1 < NumQueries).flatMap { case (qid, v) =>
      probeRing(centroids, v, probes).map((qid, _))
    }.toDF("query_id", "cell")
    val pairs = assignCells(s, vecs, centroids).join(broadcast(ring), "cell")
      .filter($"vec_id" =!= $"query_id")
    val cands = filter.fold(pairs) { f =>
      val qlab = f.labels.filter($"vec_id" < NumQueries)
        .select($"vec_id".as("query_id"), $"label".as("qlabel"))
      pairs.join(f.labels, "vec_id").join(broadcast(qlab), "query_id")
        .filter(f.holds($"label", $"qlabel"))
    }
    rerankOn(s, vecs, cands.select($"query_id", $"vec_id").distinct())
  }

  /** DuckDB twin of [[annLshTopK]] — deterministic end to end: the
    * hyperplanes are a fixed splitmix64 stream (inlined below via
    * `Double.toString`, which round-trips exactly), and every plane dot is
    * an ORDERED left-to-right fold matching the JVM loop bit-for-bit, so
    * the sign of each plane dot — the only place a last-ulp difference
    * could flip anything — is identical. */
  val annLshTopKOracle: String = {
    val planeRows = Hashing.hyperplanes(SigBits, 64).zipWithIndex.map {
      case (row, p) =>
        row.map(_.toString).mkString(s"($p, [", ", ", "]::DOUBLE[])")
    }.mkString(",\n")
    val mask = (1 << BandBits) - 1
    s"""WITH $vecCte,
       |planes(p, pv) AS (VALUES $planeRows),
       |sigbit AS (SELECT vec_id, p,
       |    CASE WHEN list_reduce(list_prepend(0.0,
       |        list_transform(range(64), j -> v[j+1] * pv[j+1])), (a, x) -> a + x) > 0
       |         THEN 1 ELSE 0 END AS bit
       |  FROM e CROSS JOIN planes),
       |sig AS (SELECT vec_id, CAST(sum(bit * (1 << p)) AS INT) AS sig
       |        FROM sigbit GROUP BY vec_id),
       |bands AS (SELECT vec_id, b, (sig // (1 << ($BandBits * b))) % ${mask + 1} AS chunk
       |  FROM sig, unnest(range($NumBands)) AS t(b)),
       |qb AS (SELECT vec_id AS query_id, b, chunk FROM bands WHERE vec_id < $NumQueries),
       |${candSql("bands JOIN qb ON bands.b = qb.b AND bands.chunk = qb.chunk",
            "bands.vec_id", "qb.query_id")},
       |${rerankSql("cand")}""".stripMargin
  }

  def annLshTopK(s: SparkSession, d: String): DataFrame = lshOn(s, vecsOf(s, d))

  /** The LSH source: vectors sharing a (band, chunk) bucket with a query
    * — an equi-join on the bucket, never a cross join. */
  private def lshOn(s: SparkSession, vecs: Vecs): DataFrame = {
    import s.implicits._
    val bands = Dedup.bandChunks(signaturesOf(s, vecs), "vec_id", "sig", NumBands, BandBits)
    val qBands = bands.filter($"vec_id" < NumQueries)
      .select($"vec_id".as("query_id"), $"band", $"chunk")
    val cands = bands.join(broadcast(qBands), Seq("band", "chunk"))
      .filter($"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id").distinct()
    rerankOn(s, vecs, cands)
  }

  // ------------------------------------------------------------- SemDeDup
  /** Cosine threshold for semantic duplicates. The paper works at ~0.95+
    * on real text embeddings; the synthetic gate corpus's similarity mass
    * sits lower (pseudo-random vectors), so the gate threshold matches
    * the exact-pair verifier's ([[graft.operators.Dedup.embeddingPairs]],
    * cos >= 0.35) — the MECHANISM under test is cell-blocked pruning, not
    * the embedding model. */
  val SemDedupTau = 0.35

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic near-dup
    * PRUNING via k-means cells + within-cell cosine — the scale path that
    * replaces the O(n²) all-pairs verifier for embedding dedup. Reuses
    * [[lloydCentroids]] (deterministic k-means++ seeds, fixed-point Lloyd
    * means), assigns every vector to its nearest cell, and compares pairs
    * ONLY within a cell: cost is Σ|cell|² — the paper's own cost model —
    * with k chosen ∝ corpus size at deploy (k ≈ n/⟨cell⟩; here the gate's
    * [[IvfCells]]).
    *
    * Drop rule (keep-first, matching the engine's exact/span dedup
    * convention and deterministic, where the paper keeps the example
    * farthest from the centroid): a vector is DROPPED iff some same-cell
    * vector with a SMALLER id has cosine >= [[SemDedupTau]] to it. Output
    * is the drop list: (vec_id, kept_id = smallest such neighbor, cell,
    * cos to kept_id) — `antijoin embeddings` on vec_id = the surviving
    * corpus. Cross-cell near-dups (split by a cell boundary) are missed
    * BY DESIGN — that is SemDeDup's recall/cost trade; the exact verifier
    * bounds the loss at gate scale (SimilaritySpec).
    *
    * 100 TB shape: centroids broadcast (k vectors, constant); one shuffle
    * on `cell`; within-cell self-join is bounded by the cell-size cap the
    * k choice implies. No driver-side pairwise anything. */
  def semanticDedup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val vecs = vecsOf(s, d)
    val e = withNormOf(s, vecs).join(assignCells(s, vecs, lloydCentroids(s, vecs)), "vec_id")
    val a = e.select($"cell", $"vec_id".as("a_id"), $"v".as("va"), $"norm".as("na"))
    val b = e.select($"cell", $"vec_id".as("b_id"), $"v".as("vb"), $"norm".as("nb"))
    a.join(b, Seq("cell")).filter($"a_id" < $"b_id")
      .withColumn("sim", dot($"va", $"vb") / ($"na" * $"nb"))
      .filter($"sim" >= SemDedupTau)
      .groupBy($"b_id".as("vec_id"), $"cell")
      // canonical keeper = min-struct aggregate on (a_id, sim): a_id is
      // unique within the group, so this is "smallest kept neighbor" with
      // its cosine — map-side combined, no window over the pair set
      .agg(min(struct($"a_id", $"sim")).as("k"))
      .select($"vec_id", $"k.a_id".as("kept_id"), $"cell",
        round($"k.sim", 4).as("cos_sim"))
  }

  /** DuckDB twin of [[semanticDedup]]: the shared [[ivfCorpusCtes]] chain
    * through `asg`, then within-cell pairs on `list_dot_product` (parity
    * with the codegen'd dot proven by the brute/pair oracles), the same
    * keep-first min-struct rule via row_number over (a_id ASC). */
  val semanticDedupOracle: String =
    s"""$ivfCorpusCtes,
       |${normCte("nn")},
       |w AS (SELECT nn.vec_id, nn.v, nn.norm, asg.cell FROM nn JOIN asg USING (vec_id)),
       |prs AS (SELECT b.vec_id AS vec_id, a.vec_id AS a_id, a.cell,
       |    list_dot_product(a.v, b.v) / (a.norm * b.norm) AS sim
       |  FROM w a JOIN w b ON a.cell = b.cell AND a.vec_id < b.vec_id
       |  WHERE list_dot_product(a.v, b.v) / (a.norm * b.norm) >= $SemDedupTau),
       |best AS (SELECT vec_id, a_id, cell, sim,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY a_id ASC) AS rk
       |  FROM prs)
       |SELECT vec_id, a_id AS kept_id, cell, round(sim, 4) AS cos_sim
       |FROM best WHERE rk = 1""".stripMargin

  // --------------------------------------- random-projection dim reduction
  /** Output dimensionality of the random-projection reduction. */
  val RpDims = 16

  /** Seed for the reduction plane family — independent of the sign-LSH
    * signature planes (default seed), the multi-hash hygiene rule. */
  val RpSeed = 0x5eedface1L

  /** Johnson–Lindenstrauss random-projection reduction 64 → [[RpDims]]:
    * every embedding dotted onto [[RpDims]] fixed pseudo-random
    * hyperplanes ([[Hashing.hyperplanes]], seeded — the projection is a
    * pure function of the data, reproducible on any cluster). The cheap
    * first stage before clustering / coarse ANN when the full dimension
    * is too expensive: inner products are preserved in expectation
    * (E[p_j²] = 1/3 for uniform [-1,1) components, so
    * 3/[[RpDims]] · ⟨Rx, Ry⟩ estimates ⟨x, y⟩ — SimilaritySpec measures
    * the realized distortion).
    *
    * Output is (vec_id, comp, value_micros): the projected component in
    * INTEGER micros — `floor(dot·10⁶ + 0.5)` of a dot accumulated in
    * ascending index order is bit-reproducible in any engine with IEEE
    * doubles (floor never consults a decimal rendering, so the
    * round-half knife edge class cannot occur; the DuckDB twin folds the
    * identical sequence).
    *
    * Scale shape: map-only — the plane matrix is a [[RpDims]]×64
    * compile-time-ish constant in the task closure; no shuffle, no
    * state, ×[[RpDims]] rows out. */
  def reduceEmbeddings(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val planes = Hashing.hyperplanes(RpDims, 64, RpSeed)
    vecsOf(s, d)
      .flatMap { case (id, v) =>
        Iterator.tabulate(planes.length) { p =>
          val pv = planes(p)
          val n = math.min(pv.length, v.length)
          var dot = 0.0
          var j = 0
          while (j < n) { dot += v(j) * pv(j); j += 1 }
          (id, p, math.floor(dot * 1e6 + 0.5).toLong)
        }
      }
      .toDF("vec_id", "comp", "value_micros")
  }

  /** DuckDB twin of [[reduceEmbeddings]]: the plane family inlined as
    * literal VALUES rows (the [[annLshTopKOracle]] technique), the dot
    * folded in the same ascending order, the same floor-to-micros. */
  val reduceEmbeddingsOracle: String = {
    val planeRows = Hashing.hyperplanes(RpDims, 64, RpSeed).zipWithIndex.map {
      case (row, p) =>
        row.map(_.toString).mkString(s"($p, [", ", ", "]::DOUBLE[])")
    }.mkString(",\n")
    s"""WITH $vecCte,
       |planes(p, pv) AS (VALUES $planeRows)
       |SELECT vec_id, p AS comp,
       |  CAST(floor(list_reduce(list_prepend(0.0,
       |    list_transform(range(64), j -> v[j+1] * pv[j+1])), (a, x) -> a + x)
       |    * 1000000.0 + 0.5) AS BIGINT) AS value_micros
       |FROM e CROSS JOIN planes""".stripMargin
  }

  // ------------------------------------------------ product quantization
  /** Product-quantization geometry (Jégou, Douze & Schmid, TPAMI 2011):
    * the 64-dim vector splits into [[PqSub]] contiguous 8-dim subspaces,
    * each with its own [[PqK]]-centroid codebook, so a vector compresses
    * to [[PqSub]] nibble-sized codes — 256 bytes of float32 down to 8
    * bytes, the difference between an ANN index that fits in executor
    * memory at 100 TB and one that doesn't. */
  val PqSub = 8
  val PqDim = 8
  val PqK = 16
  val PqIters = 2

  /** PQ codebook training + corpus encoding: per-subspace k-means
    * (classic L2 over RAW subvectors), then each vector's code word and
    * its reconstruction error.
    *
    * Determinism is the [[annIvfTopK]] discipline end-to-end: seeds are
    * the [[PqK]] smallest-signed-mix64(vec_id) vectors (one
    * TakeOrderedAndProject, constant driver traffic), assignment
    * tie-breaks to the smaller centroid id, and the Lloyd means
    * accumulate in [[IvfFixedScale]] fixed point ([[fixedMeanAgg]]) so
    * no stage depends on partition merge order — which is what lets the
    * DuckDB twin replay training bit-for-bit and hash-match the emitted
    * codes.
    *
    * Scale shape: each Lloyd pass is ONE pass over the corpus into a
    * [[PqSub]]·[[PqK]]-row (128-row) aggregate — map-side combined,
    * constant driver traffic — and encoding is a map-only pass under a
    * broadcast codebook (8 KiB). Nothing shuffles the vectors
    * themselves, at any corpus size. */
  def pqCodes(s: SparkSession, d: String): DataFrame = pqCodesOf(s, vecsOf(s, d))

  /** Nearest centroid of one subspace's codebook: L2² accumulated in
    * ascending component order (the oracle's fold order); strict `<`
    * keeps the smaller cid on ties. Returns (cid, dist²). */
  private def nearestSubCell(
      cbS: Array[Array[Double]], v: Array[Double], sub: Int): (Int, Double) = {
    var best = 0; var bestD = Double.MaxValue; var cid = 0
    while (cid < cbS.length) {
      var dd = 0.0; var i = 0
      while (i < PqDim) {
        val df = v(sub * PqDim + i) - cbS(cid)(i); dd += df * df; i += 1
      }
      if (dd < bestD) { bestD = dd; best = cid }
      cid += 1
    }
    (best, bestD)
  }

  /** The code word of `v`: its nearest codebook entry per subspace. */
  private def encode(cb: Array[Array[Array[Double]]], v: Array[Double]): Array[Int] =
    Array.tabulate(PqSub)(sub => nearestSubCell(cb(sub), v, sub)._1)

  /** A query's ADC distance table: L2² of its subvector `sub` to codebook
    * entry `cid`, accumulated in ascending component order. */
  private def adcTable(cb: Array[Array[Array[Double]]],
      qv: Array[Double]): Array[Array[Double]] =
    Array.tabulate(PqSub, cb(0).length) { (sub, cid) =>
      var dd = 0.0; var i = 0
      while (i < PqDim) {
        val df = qv(sub * PqDim + i) - cb(sub)(cid)(i); dd += df * df; i += 1
      }
      dd
    }

  /** Codebook training: seeds + [[PqIters]] fixed-point Lloyd passes.
    * Returns cb(sub)(cid)(comp). */
  private[graft] def pqTrain(s: SparkSession,
      vecs: Dataset[(Long, Array[Double])]): Array[Array[Array[Double]]] = {
    import s.implicits._
    val meanAgg = fixedMeanAgg
    // seeds: centroid j of EVERY subspace comes from the j-th seed vector
    // (numbered by vec_id, the big-k IVF convention)
    val seeds = vecs.map { case (id, v) => (Hashing.mix64(id), id, v) }
      .orderBy("_1").limit(PqK)
      .collect().sortBy(_._2).map(_._3)
    var cb: Array[Array[Array[Double]]] =
      Array.tabulate(PqSub, seeds.length) { (sub, cid) =>
        java.util.Arrays.copyOfRange(seeds(cid), sub * PqDim, (sub + 1) * PqDim)
      }
    for (_ <- 1 to PqIters) {
      val bcb = s.sparkContext.broadcast(cb)
      // one corpus pass → 128-row fixed-point mean table; empty cells
      // keep their previous centroid
      val means = vecs.flatMap { case (_, v) =>
        (0 until PqSub).map { sub =>
          (sub * 64 + nearestSubCell(bcb.value(sub), v, sub)._1,
            java.util.Arrays.copyOfRange(v, sub * PqDim, (sub + 1) * PqDim))
        }
      }.groupByKey(_._1).mapValues(_._2).agg(meanAgg.toColumn)
        .collect().toMap
      cb = Array.tabulate(PqSub, cb(0).length) { (sub, cid) =>
        means.getOrElse(sub * 64 + cid, cb(sub)(cid))
      }
    }
    cb
  }

  /** Emits the code word as ONE BIGINT (`codes_packed` =
    * Σ code(sub) << 4·sub): with [[PqK]] = 16 each code is a nibble, so
    * the whole [[PqSub]]-subspace word is 32 bits — the same 8-byte
    * physical layout a 100 TB PQ index stores per vector, and a scalar
    * the correctness gate can canonicalize (a raw `array<long>` column
    * crashed the driver's pandas lex-sort in r7). */
  private[graft] def pqCodesOf(s: SparkSession,
      vecs: Dataset[(Long, Array[Double])]): DataFrame = {
    import s.implicits._
    val bcb = s.sparkContext.broadcast(pqTrain(s, vecs))
    vecs.map { case (id, v) =>
      var packed = 0L
      var err = 0.0
      var sub = 0
      while (sub < PqSub) {
        val (c, dd) = nearestSubCell(bcb.value(sub), v, sub)
        packed |= c.toLong << (4 * sub)
        err += dd
        sub += 1
      }
      (id, packed, err)
    }.toDF("vec_id", "codes_packed", "err")
      .select($"vec_id", $"codes_packed", round($"err", 6).as("err6"))
  }

  /** DuckDB twin of [[pqCodes]] — the [[annIvfTopKOracle]] replay
    * technique applied per subspace: subvectors by list slice, L2² as an
    * ORDERED 8-component fold (bit-parity with the JVM loop — a last-ulp
    * difference at an argmin boundary would flip a code), unrolled Lloyd
    * passes with the same fixed-point means, and the per-vector error
    * summed in subspace order before the 6dp round. */
  /** Ordered 8-component L2² fold — bit-parity with the JVM loop in
    * [[nearestSubCell]]. */
  private def pqL2f(a: String, b: String): String =
    s"list_reduce(list_prepend(0.0, list_transform(range($PqDim), " +
      s"i -> ($a[i+1] - $b[i+1]) * ($a[i+1] - $b[i+1]))), (a, x) -> a + x)"

  /** Shared PQ CTE chain: embeddings → seeds → per-subspace codebooks
    * through [[PqIters]] Lloyd passes → `fin` = (vec_id, sub, cell,
    * dist), the final per-subspace assignment. Prefix of
    * [[pqCodesOracle]] and [[annPqTopKOracle]]. */
  private def pqCtes: String = "WITH " + pqCtesBody("")

  /** [[pqCtes]] with every CTE name prefixed by `x` — lets the composed
    * IVF+PQ twin ([[annIvfPqTopKOracle]]) inline this training chain next
    * to [[ivfCorpusCtes]] without name collisions (both chains define
    * e/smp/a1/m1/g1). Returns the CTE list WITHOUT the leading WITH. */
  private def pqCtesBody(x: String): String = {
    val S = "1073741824.0" // 2^30 = IvfFixedScale, exact in double
    def l2f(a: String, b: String): String = pqL2f(a, b)
    val passes = (1 to PqIters).map { k =>
      s"""${x}a$k AS MATERIALIZED (SELECT vec_id, sub, cell FROM (
         |    SELECT su.vec_id, su.sub, cb.cid AS cell,
         |      row_number() OVER (PARTITION BY su.vec_id, su.sub
         |        ORDER BY ${l2f("su.sv", "cb.cv")} ASC, cb.cid ASC) AS rk
         |    FROM ${x}sub su JOIN ${x}cb${k - 1} cb ON cb.sub = su.sub) WHERE rk = 1),
         |${x}m$k AS MATERIALIZED (SELECT a.sub, a.cell, t.j,
         |    CAST(sum(CAST(floor(su.sv[t.j + 1] * $S + 0.5) AS BIGINT)) AS BIGINT) AS sq,
         |    count(*) AS cnt
         |  FROM ${x}a$k a JOIN ${x}sub su ON su.vec_id = a.vec_id AND su.sub = a.sub,
         |       unnest(range($PqDim)) AS t(j)
         |  GROUP BY a.sub, a.cell, t.j),
         |${x}g$k AS MATERIALIZED (SELECT sub, cell AS cid,
         |    list((CAST(sq AS DOUBLE) / CAST(cnt AS DOUBLE)) / $S ORDER BY j) AS mv
         |  FROM ${x}m$k GROUP BY sub, cell),
         |${x}cb$k AS MATERIALIZED (SELECT c.sub, c.cid, coalesce(g.mv, c.cv) AS cv
         |  FROM ${x}cb${k - 1} c LEFT JOIN ${x}g$k g ON g.sub = c.sub AND g.cid = c.cid)""".stripMargin
    }.mkString(",\n")
    s"""${x}e AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |${x}smp AS MATERIALIZED (SELECT vec_id, v FROM
       |  (SELECT vec_id, v, $mixSigned AS m FROM ${x}e) ORDER BY m LIMIT $PqK),
       |${x}sub AS MATERIALIZED (SELECT vec_id, t.sub AS sub,
       |    v[($PqDim * t.sub + 1):($PqDim * t.sub + $PqDim)] AS sv
       |  FROM ${x}e, unnest(range($PqSub)) AS t(sub)),
       |${x}cb0 AS MATERIALIZED (SELECT t.sub AS sub, s.cid,
       |    s.v[($PqDim * t.sub + 1):($PqDim * t.sub + $PqDim)] AS cv
       |  FROM (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v FROM ${x}smp) s,
       |       unnest(range($PqSub)) AS t(sub)),
       |$passes,
       |${x}fin AS MATERIALIZED (SELECT vec_id, sub, cell, dist FROM (
       |    SELECT su.vec_id, su.sub, cb.cid AS cell,
       |      ${l2f("su.sv", "cb.cv")} AS dist,
       |      row_number() OVER (PARTITION BY su.vec_id, su.sub
       |        ORDER BY ${l2f("su.sv", "cb.cv")} ASC, cb.cid ASC) AS rk
       |    FROM ${x}sub su JOIN ${x}cb$PqIters cb ON cb.sub = su.sub) WHERE rk = 1)""".stripMargin
  }

  val pqCodesOracle: String =
    s"""$pqCtes,
       |agg AS (SELECT vec_id,
       |    CAST(sum(cell * (1 << (4 * sub))) AS BIGINT) AS codes_packed,
       |    list(dist ORDER BY sub) AS dl
       |  FROM fin GROUP BY vec_id)
       |SELECT vec_id, codes_packed,
       |  round(list_reduce(list_prepend(0.0, dl), (a, x) -> a + x), 6) AS err6
       |FROM agg""".stripMargin

  // ------------------------------------------- PQ asymmetric-distance ANN
  /** ADC shortlist size: candidates surviving the compressed-domain scan
    * into the exact re-rank — 5× the emitted [[TopK]]. */
  val AdcShortlist = 50

  /** PQ ANN search by ASYMMETRIC DISTANCE (Jégou et al. 2011 §IV): each
    * query precomputes a [[PqSub]]×[[PqK]] distance table against the
    * trained codebooks; every corpus vector's approximate L2² is then
    * [[PqSub]] table LOOKUPS on its 8-byte code — no float vector is
    * touched during the scan. The [[AdcShortlist]] best per query go
    * through the exact cosine re-rank, same output contract as the other
    * `ann_*` entries.
    *
    * Scale shape: the scan reads CODES (8 bytes/vector, 32× smaller than
    * the float column) under a broadcast distance table (5 queries ×
    * 128 doubles); shortlisting is a per-partition top-k merge
    * (row_number → TopKPerKey rewrite), and only [[AdcShortlist]] rows
    * per query ever rejoin the full-precision vectors. This is the
    * memory-bound regime ANN actually runs in at 100 TB — the IVF cell
    * scan bounds WHICH vectors are scored; PQ bounds the BYTES each
    * scoring touches.
    *
    * Determinism: the ADC sum runs in ascending-subspace order (the
    * [[pqCodesOf]] err discipline) so shortlist ranks are bit-exact
    * reproducible in the DuckDB twin; the re-rank rounds like the brute
    * oracle. */
  def annPqTopK(s: SparkSession, d: String): DataFrame = {
    val vecs = vecsOf(s, d)
    adcOn(s, vecs, pqTrain(s, vecs), None)
  }

  /** The ADC source of [[annPqTopK]] and, with `ivf` centroids,
    * [[annIvfPqTopK]]: ONE corpus pass finds each vector's IVF cell and,
    * only if some query probes it (every query, without `ivf`), encodes
    * the vector once and ADC-scores it against those queries — [[PqSub]]
    * table lookups in ascending-subspace order, so the shortlist ranks
    * are bit-exact in the DuckDB twin. The [[AdcShortlist]] best per
    * query feed the exact re-rank. */
  private def adcOn(s: SparkSession, vecs: Vecs, cb: Array[Array[Array[Double]]],
      ivf: Option[Array[(Long, Array[Double])]]): DataFrame = {
    import s.implicits._
    // per query: its probed cells and ADC table — one constant-size broadcast
    val qside = vecs.filter(_._1 < NumQueries).collect().sortBy(_._1).map {
      case (qid, qv) => (qid, ivf.map(probeRing(_, qv, IvfProbes).toSet), adcTable(cb, qv))
    }
    val bIvf = s.sparkContext.broadcast(ivf)
    val bcb = s.sparkContext.broadcast(cb)
    val bq = s.sparkContext.broadcast(qside)
    val adc = vecs.flatMap { case (id, v) =>
      val cell = bIvf.value.fold(-1L)(nearestCell(_, v))
      lazy val codes = encode(bcb.value, v)
      bq.value.iterator
        .filter { case (qid, cells, _) => qid != id && cells.forall(_.contains(cell)) }
        .map { case (qid, _, tbl) =>
          var dist = 0.0; var sub = 0
          while (sub < PqSub) { dist += tbl(sub)(codes(sub)); sub += 1 }
          (qid, id, dist)
        }
    }.toDF("query_id", "vec_id", "adc")
    val w = Window.partitionBy($"query_id").orderBy($"adc".asc, $"vec_id".asc)
    rerankOn(s, vecs, adc.withColumn("rk", row_number().over(w))
      .filter($"rk" <= AdcShortlist).select($"query_id", $"vec_id"))
  }

  // --------------------------------------------------- IVF+PQ composed ANN
  /** The PRODUCTION ANN shape at 100 TB — IVF and PQ composed (Jégou et
    * al. 2011 §V, the IVFADC system): the IVF cell scan bounds WHICH
    * vectors are scored (each query touches its [[IvfProbes]] probed
    * cells, ~nprobe/ncells of the corpus), ADC on the PQ codes bounds the
    * BYTES each scoring touches (8-byte codes under a broadcast distance
    * table, no float vector read during the scan), and only the
    * [[AdcShortlist]] ADC-best candidates per query rejoin the
    * full-precision vectors for the exact re-rank. Same output contract
    * as every other `ann_*` entry.
    *
    * ONE corpus pass does assignment + encoding + scoring: each vector
    * finds its IVF cell, and only if some query probes that cell is it
    * PQ-encoded (lazily, once) and ADC-scored against exactly those
    * queries. Both trainings ride the fixed-point disciplines of their
    * standalone twins ([[lloydCentroids]], [[pqTrain]]), so the DuckDB
    * twin replays the whole composition bit-for-bit. */
  def annIvfPqTopK(s: SparkSession, d: String): DataFrame = {
    val vecs = vecsOf(s, d)
    adcOn(s, vecs, pqTrain(s, vecs), Some(lloydCentroids(s, vecs)))
  }

  /** DuckDB twin of the ADC source: the query distance tables as one
    * (query, sub, cid) join against the trained codebooks of the PQ chain
    * (CTE prefix `p` beside the IVF chain), the ADC sum as an ORDERED
    * subspace fold (bit-parity with the JVM loop) — with `ivf`, only over
    * the IVF `cand` pairs — and the [[AdcShortlist]] best per query as
    * `short(query_id, vec_id)`. */
  private def adcShortSql(ivf: Boolean): String = {
    val x = if (ivf) "p" else ""
    val inCand =
      if (ivf) "\n  JOIN cand c ON c.query_id = d.query_id AND c.vec_id = f.vec_id" else ""
    s"""qv AS (SELECT vec_id AS query_id, v FROM e WHERE vec_id < $NumQueries),
       |qsub AS (SELECT query_id, t.sub AS sub,
       |    v[($PqDim * t.sub + 1):($PqDim * t.sub + $PqDim)] AS qsv
       |  FROM qv, unnest(range($PqSub)) AS t(sub)),
       |dt AS (SELECT q.query_id, q.sub, cb.cid, ${pqL2f("q.qsv", "cb.cv")} AS dist
       |  FROM qsub q JOIN ${x}cb$PqIters cb ON cb.sub = q.sub),
       |adcl AS (SELECT d.query_id, f.vec_id, list(d.dist ORDER BY f.sub) AS dl
       |  FROM ${x}fin f JOIN dt d ON d.sub = f.sub AND d.cid = f.cell$inCand
       |  WHERE f.vec_id <> d.query_id
       |  GROUP BY d.query_id, f.vec_id),
       |short AS (SELECT query_id, vec_id FROM (
       |    SELECT query_id, vec_id, row_number() OVER (PARTITION BY query_id
       |      ORDER BY list_reduce(list_prepend(0.0, dl), (a, x) -> a + x) ASC,
       |               vec_id ASC) AS rk
       |    FROM adcl) WHERE rk <= $AdcShortlist)""".stripMargin
  }

  /** DuckDB twin of [[annIvfPqTopK]]: the IVF candidate source, the
    * `p`-prefixed [[pqCtesBody]] training replay, the ADC shortlist over
    * the IVF candidates, and the exact re-rank. */
  val annIvfPqTopKOracle: String =
    s"""${ivfCandSql(IvfProbes)},
       |${pqCtesBody("p")},
       |${adcShortSql(ivf = true)},
       |${rerankSql("short")}""".stripMargin

  // ------------------------------------------------------- filtered ANN
  /** Probe depth for [[annFilteredTopK]]: filtered search probes DEEPER
    * than unfiltered ([[IvfProbes]] ×2) because the predicate thins every
    * probed cell — the standard production counter to filter-induced
    * recall loss (cf. the filtered-search mode of any deployed vector
    * store: pre-filter the candidate stream, widen the scan). */
  val FilteredProbes: Int = IvfProbes * 2

  /** Metadata-filtered ANN — the production "vector search WHERE ..."
    * shape: each query retrieves its cosine top-k among corpus vectors
    * sharing the query's `label` (category-restricted search). The
    * predicate is applied to the IVF candidate stream BEFORE the exact
    * re-rank (pre-filtering: no top-k slot is wasted on a vector the
    * filter would discard — post-filtering k results would return fewer),
    * and the probe ring is widened to [[FilteredProbes]] to compensate
    * for the thinned cells.
    *
    * Scale shape: identical to [[annIvfTopK]] — the label column rides
    * the same |V|-row assignment frame (one scan), the query-side labels
    * are a [[NumQueries]]-row broadcast, and the filter prunes candidates
    * before the re-rank join touches any full-precision vector. */
  def annFilteredTopK(s: SparkSession, d: String): DataFrame = {
    val vecs = vecsOf(s, d)
    ivfOn(s, vecs, lloydCentroids(s, vecs), FilteredProbes,
      Some(LabelFilter(labelsOf(s, d), same = true)))
  }

  /** DuckDB twin of [[annFilteredTopK]]: the IVF candidate source with the
    * widened probe ring and the same-label relation. */
  val annFilteredTopKOracle: String =
    s"${ivfCandSql(FilteredProbes, Some("="))},\n${rerankSql("cand")}"

  /** EXACT filtered ground truth for [[annFilteredTopK]] — brute-force
    * cosine top-k restricted to same-label vectors (the "vector search
    * WHERE ..." answer with no index error). Two jobs: the gate oracles
    * it directly, and [[annRecallReport]]'s `filtered` leg measures the
    * widened-probe index against it — the recall story a probe-ring /
    * predicate-thinning trade-off needs a monitor for.
    *
    * Scale shape: same as [[annBruteTopK]] — the broadcast side is the
    * [[NumQueries]]-row query set; the label equality rides the join as
    * an equi-key (a hash join on label with the id inequality as a
    * residual), so each corpus vector scores only against same-label
    * queries. */
  def annFilteredBruteTopK(s: SparkSession, d: String): DataFrame =
    bruteOn(s, vecsOf(s, d), Some(LabelFilter(labelsOf(s, d), same = true)))

  val annFilteredBruteTopKOracle: String = bruteSql(Some("="))

  // -------------------------------------------------- hard-negative mining
  /** Hard-negative mining — the contrastive-training data op: for each
    * query vector, the cosine top-k corpus vectors that do NOT share the
    * query's `label`. These are the "looks similar, is different"
    * examples a contrastive or reranker training run pairs against each
    * anchor (the in-batch-negatives upgrade every embedding-model recipe
    * ships); the mining query is exactly filtered ANN with the predicate
    * NEGATED, so the operator reuses the [[annFilteredTopK]] machinery:
    * IVF candidate stream, label predicate BEFORE the exact re-rank,
    * probe ring widened to [[FilteredProbes]] to counter predicate
    * thinning (here the filter removes the query's own class — usually
    * the densest region of its probe ring, so the widening matters
    * more, not less, than in the equality case).
    *
    * Scale shape: identical to [[annFilteredTopK]] — |V|-row assignment
    * frame, [[NumQueries]]-row broadcast query labels, candidates pruned
    * before any full-precision vector moves. */
  def annHardNegatives(s: SparkSession, d: String): DataFrame = {
    val vecs = vecsOf(s, d)
    ivfOn(s, vecs, lloydCentroids(s, vecs), FilteredProbes,
      Some(LabelFilter(labelsOf(s, d), same = false)))
  }

  /** DuckDB twin of [[annHardNegatives]]: [[annFilteredTopKOracle]] with
    * the label relation negated. */
  val annHardNegativesOracle: String =
    s"${ivfCandSql(FilteredProbes, Some("<>"))},\n${rerankSql("cand")}"

  /** EXACT hard-negative ground truth — brute-force cosine top-k among
    * DIFFERENT-label vectors ([[annFilteredBruteTopK]] with the label
    * predicate negated). The gate oracles it directly and SimilaritySpec
    * measures [[annHardNegatives]]' recall against it — the negated
    * predicate keeps most of the corpus eligible, so the broadcast join
    * carries the inequality as a residual over the [[NumQueries]]-row
    * build side exactly like the unfiltered brute baseline. */
  def annHardNegBruteTopK(s: SparkSession, d: String): DataFrame =
    bruteOn(s, vecsOf(s, d), Some(LabelFilter(labelsOf(s, d), same = false)))

  val annHardNegBruteTopKOracle: String = bruteSql(Some("<>"))

  // ---------------------------------------------- contrastive triplet table
  /** Contrastive-training triplet assembly — the op that turns a labeled,
    * embedded corpus into ready-to-train rows (the FaceNet/triplet-loss
    * and sentence-transformers supervised-batch recipe, Schroff et al.
    * 2015 + the standard hard-negative mining practice): per anchor
    * (query doc), ONE hardest positive — the nearest SAME-label vector,
    * [[annFilteredTopK]] rank 1 — and the top [[ContrastiveNegatives]]
    * hard negatives — the nearest DIFFERENT-label vectors,
    * [[annHardNegatives]]. One flat row per (anchor, role, pair): the
    * shape a training loader consumes directly. Anchors with NO same-
    * label candidate in their probe ring emit nothing (a triplet without
    * a positive is untrainable — negatives are semi-joined on the
    * surviving anchor set).
    *
    * Scale shape: both legs are the volume-flat IVF candidate paths
    * (probed cells bound the candidate stream regardless of corpus
    * size); the semi-join runs on the |Q|-row positive set; output is
    * ≤ |Q|·(1 + [[ContrastiveNegatives]]) rows. */
  val ContrastiveNegatives = 4

  def contrastiveTriplets(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val pos = annFilteredTopK(s, d).filter($"rank" === 1)
      .select($"query_id".as("anchor_id"), lit("pos").as("role"),
        $"neighbor_id".as("pair_id"), $"rank", $"cos_sim")
    val neg = annHardNegatives(s, d).filter($"rank" <= ContrastiveNegatives)
      .select($"query_id".as("anchor_id"), lit("neg").as("role"),
        $"neighbor_id".as("pair_id"), $"rank", $"cos_sim")
    neg.join(broadcast(pos.select($"anchor_id")), Seq("anchor_id"),
        "left_semi")
      .unionAll(pos)
  }

  /** DuckDB twin of [[contrastiveTriplets]]: the two leg oracles as
    * derived tables, rank-cut and semi-joined identically. */
  lazy val contrastiveTripletsOracle: String =
    s"""WITH pos AS (SELECT query_id AS anchor_id, 'pos' AS role,
       |    neighbor_id AS pair_id, rank, cos_sim
       |  FROM ($annFilteredTopKOracle) WHERE rank = 1),
       |neg AS (SELECT query_id AS anchor_id, 'neg' AS role,
       |    neighbor_id AS pair_id, rank, cos_sim
       |  FROM ($annHardNegativesOracle)
       |  WHERE rank <= $ContrastiveNegatives)
       |SELECT n.* FROM neg n WHERE n.anchor_id IN (SELECT anchor_id FROM pos)
       |UNION ALL
       |SELECT * FROM pos""".stripMargin

  // -------------------------------------------------- k-means cluster map
  /** Per-cluster profile of the k-means cells [[lloydCentroids]] trains —
    * the corpus "data map" a curation team reads before deciding what to
    * upsample or prune (the SemDeDup/SeaL cluster-inspection step): for
    * every cell, its population, the dominant `label`, and the label
    * purity in exact integer millis. Low-purity cells flag embedding-space
    * regions where the labeling disagrees with the geometry.
    *
    * Scale shape: one corpus scan assigns cells under the broadcast
    * codebook (k centroids, constant size), then two map-side-combined
    * aggregates — (cell, label) counts and a per-cell argmax via one
    * |cells·labels|-row window. Nothing here grows super-linearly. */
  def clusterProfile(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val vecs = vecsOf(s, d)
    val labeled = assignCells(s, vecs, lloydCentroids(s, vecs))
      .join(labelsOf(s, d), "vec_id")
    val cl = labeled.groupBy($"cell", $"label").agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy($"cell").orderBy($"cnt".desc, $"label".asc)
    cl.withColumn("rk", row_number().over(w))
      .withColumn("n_vectors", sum($"cnt").over(Window.partitionBy($"cell")))
      .filter($"rk" === 1)
      .select($"cell", $"n_vectors", $"label".as("top_label"),
        $"cnt".as("top_label_n"),
        expr("(cnt * 1000) div n_vectors").as("purity_milli"))
  }

  /** DuckDB twin of [[clusterProfile]]: the [[ivfCorpusCtes]] training +
    * assignment replay, then the same count/argmax/purity arithmetic. */
  val clusterProfileOracle: String =
    s"""$ivfCorpusCtes,
       |lab AS (SELECT vec_id, label FROM embeddings),
       |cl AS (SELECT a.cell, l.label, count(*) AS cnt
       |  FROM asg a JOIN lab l USING (vec_id) GROUP BY 1, 2),
       |tot AS (SELECT cell, CAST(sum(cnt) AS BIGINT) AS n_vectors
       |  FROM cl GROUP BY cell),
       |rk AS (SELECT cell, label, cnt,
       |    row_number() OVER (PARTITION BY cell
       |      ORDER BY cnt DESC, label ASC) AS rk
       |  FROM cl)
       |SELECT r.cell, t.n_vectors, r.label AS top_label,
       |  CAST(r.cnt AS BIGINT) AS top_label_n,
       |  CAST((r.cnt * 1000) // t.n_vectors AS BIGINT) AS purity_milli
       |FROM rk r JOIN tot t USING (cell) WHERE r.rk = 1""".stripMargin

  // ------------------------------------------- embedding drift report
  /** Embedding-distribution drift report — the index-staleness monitor a
    * similarity deployment runs on every ingest: train the IVF codebook
    * on the REFERENCE snapshot, assign BOTH the reference and the new
    * batch under it, and report the per-cell population-share shift (the
    * population-stability-index input table; a cell whose share moved is
    * an embedding-space region the new data over/under-fills — retrain
    * the index, or investigate the upstream shift, before recall decays
    * silently). The gate harness stands in even vec_ids for the
    * reference and odd for the ingest batch (the framing is synthetic,
    * the train-on-reference/assign-both machinery is the real thing —
    * the multimodal stub discipline); shares and deltas are exact
    * integer micros.
    *
    * Scale shape: one Lloyd training over the reference half (the
    * volume-flat [[lloydCentroids]] path), one assign-all corpus scan
    * under the broadcast codebook, one (cell, half) count aggregate —
    * output |cells| rows whatever the corpus. */
  def embedDriftReport(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val vecs = vecsOf(s, d)
    val assigned = assignCells(s, vecs, lloydCentroids(s, vecs.filter(_._1 % 2 == 0)))
    val h = assigned.groupBy($"cell").agg(
      sum(when($"vec_id" % 2 === 0, 1L).otherwise(0L)).as("n_train"),
      sum(when($"vec_id" % 2 =!= 0, 1L).otherwise(0L)).as("n_ingest"))
    val t = h.agg(sum($"n_train").as("t_train"),
      sum($"n_ingest").as("t_ingest"))
    h.crossJoin(broadcast(t))
      .select($"cell", $"n_train", $"n_ingest",
        expr("n_train * 1000000L div t_train").as("train_share_micros"),
        expr("n_ingest * 1000000L div t_ingest").as("ingest_share_micros"),
        expr("n_ingest * 1000000L div t_ingest - n_train * 1000000L div t_train")
          .as("delta_micros"))
      .orderBy($"cell")
  }

  /** DuckDB twin of [[embedDriftReport]]: the [[ivfCorpusCtesTrainedOn]]
    * chain with training restricted to even vec_ids, then the same
    * count/share algebra. */
  lazy val embedDriftReportOracle: String =
    s"""${ivfCorpusCtesTrainedOn(" WHERE vec_id % 2 = 0")},
       |h AS (SELECT cell,
       |    CAST(sum(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
       |    CAST(sum(CASE WHEN vec_id % 2 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_ingest
       |  FROM asg GROUP BY cell),
       |t AS (SELECT CAST(sum(n_train) AS BIGINT) AS t_train,
       |    CAST(sum(n_ingest) AS BIGINT) AS t_ingest FROM h)
       |SELECT cell, n_train, n_ingest,
       |  n_train * 1000000 // t_train AS train_share_micros,
       |  n_ingest * 1000000 // t_ingest AS ingest_share_micros,
       |  n_ingest * 1000000 // t_ingest - n_train * 1000000 // t_train
       |    AS delta_micros
       |FROM h, t ORDER BY cell""".stripMargin

  // ------------------------------------------- cluster labeling (c-TF-IDF)
  /** Top characteristic terms per k-means cell — the cluster LABELING
    * half of the data map ([[clusterProfile]] says how big/pure each
    * cell is; this says what is IN it, the table an Atlas-style corpus
    * map renders next to each cluster). Class-based tf·idf (the BERTopic
    * c-TF-IDF shape, Grootendorst 2022, arXiv:2203.05794 — public): pool
    * each cell's member documents into one pseudo-document, score terms
    * by cell-term frequency × ln(C / cells-containing-term), keep the
    * top [[ClusterTermsK]] per cell. A term every cell contains scores
    * exactly 0 (ln 1) — corpus boilerplate labels nothing.
    *
    * Scale shape: one corpus scan assigns cells under the broadcast
    * codebook; the token stream joins the |V|-row assignment on doc_id
    * (the one corpus-sized equi shuffle) into a two-phase (cell, term)
    * count; the cell-df table is vocabulary-bounded (corpus-
    * proportional — no broadcast hint, AQE sizes the join, the
    * [[Corpus.tfidfTopTerms]] discipline); C is one broadcast scalar.
    * Output ≤ |cells|·[[ClusterTermsK]] rows whatever the corpus. */
  val ClusterTermsK = 5

  def clusterTerms(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val vecs = vecsOf(s, d)
    val assigned = assignCells(s, vecs, lloydCentroids(s, vecs)).toDF("doc_id", "cell")
    val toks = Tables.documents(s, d).select($"doc_id",
      explode(TextOps.tokens).as("word"))
    val tf = toks.join(assigned, "doc_id")
      .groupBy($"cell", $"word").agg(count(lit(1)).as("tf"))
    val dfc = tf.groupBy($"word").agg(count(lit(1)).as("df_cells"))
    val nc = assigned.agg(countDistinct($"cell").cast("double").as("n_cells"))
    val w = Window.partitionBy($"cell").orderBy($"sx".desc, $"word".asc)
    tf.join(dfc, "word").crossJoin(broadcast(nc))
      .withColumn("score", $"tf" * log($"n_cells" / $"df_cells"))
      .withColumn("sx", expr("cast(round(score * 10000) as bigint)"))
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= ClusterTermsK)
      .select($"cell", $"word", $"tf", $"rank", round($"score", 4).as("ctfidf"))
  }

  /** DuckDB twin of [[clusterTerms]]: the [[ivfCorpusCtes]] training +
    * assignment replay, the [[Corpus.bm25TopKOracle]] tokenizer, the same
    * c-TF-IDF algebra and ×10⁴ integer rank. */
  lazy val clusterTermsOracle: String =
    s"""$ivfCorpusCtes,
       |tok AS (SELECT doc_id,
       |    unnest(${TextOps.tokensSql}) AS word
       |  FROM documents),
       |ct AS (SELECT a.cell, t.word, count(*) AS tf
       |  FROM tok t JOIN asg a ON a.vec_id = t.doc_id GROUP BY 1, 2),
       |dfc AS (SELECT word, count(*) AS df_cells FROM ct GROUP BY word),
       |nc AS (SELECT CAST(count(DISTINCT cell) AS DOUBLE) AS n_cells FROM asg),
       |sc AS (SELECT ct.cell, ct.word, ct.tf,
       |    ct.tf * ln(nc.n_cells / dfc.df_cells) AS score
       |  FROM ct JOIN dfc USING (word) CROSS JOIN nc),
       |rk AS (SELECT cell, word, tf, score,
       |    row_number() OVER (PARTITION BY cell
       |      ORDER BY CAST(round(score * 10000) AS BIGINT) DESC, word ASC) AS rank
       |  FROM sc)
       |SELECT cell, word, CAST(tf AS BIGINT) AS tf, rank,
       |  round(score, 4) AS ctfidf
       |FROM rk WHERE rank <= $ClusterTermsK""".stripMargin

  // -------------------------------------------- margin-based bitext mining
  /** Even vec_ids below this bound form the mining query batch. */
  val BitextQueries = 32
  /** Neighborhood depth for the margin denominators. */
  val BitextK = 4
  /** Accept threshold on the (4-dp rounded) ratio margin. */
  val BitextMarginThreshold = 1.02

  /** Margin-based parallel-pair mining (Artetxe & Schwenk 2019,
    * "Margin-based Parallel Corpus Mining with Multilingual Sentence
    * Embeddings" — the CCMatrix/LASER recipe): for each source-side
    * vector, its best target-side neighbor scored by the RATIO margin —
    * cos(x,y) normalized by the mean of both vectors' k-NN
    * neighborhoods, margin(x,y) = 2·cos(x,y) / (avgₖ(x) + avgₖ(y)) —
    * instead of raw cosine, because hubness makes absolute cosine
    * incomparable across vectors (a hub scores high against everything;
    * dividing by its neighborhood mean cancels that). Pairs at or above
    * [[BitextMarginThreshold]] are accepted. The even/odd vec_id halves
    * stand in for the two languages (framing synthetic, the
    * forward-kNN / backward-kNN / margin machinery real — the
    * [[embedDriftReport]] stance).
    *
    * Output: one row per source query — mined pair, cosine, margin,
    * accept flag. Both margin denominators come from the SAME scored
    * frame (queries × target half): forward top-k per src, backward
    * top-k per tgt over the query batch, so the corpus is touched once.
    *
    * Scale shape: the scored frame is |Q|-bounded × target half
    * (broadcast queries, the brute-leg shape — production swaps in the
    * [[annIvfTopK]] probe ring for the same algebra); the backward
    * window partitions carry exactly |Q| rows each; the join back is
    * keyed on the TopK-bounded results. Acceptance compares the 4-dp
    * ROUNDED margin so the threshold can never split an ulp. */
  def bitextMarginPairs(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = withNormOf(s, vecsOf(s, d))
    val x = e.filter($"vec_id" % 2 === 0 && $"vec_id" < BitextQueries)
      .select($"vec_id".as("src_id"), $"v".as("xv"), $"norm".as("xnorm"))
    val y = e.filter($"vec_id" % 2 === 1)
      .select($"vec_id".as("tgt_id"), $"v".as("yv"), $"norm".as("ynorm"))
    // BroadcastNestedLoopJoin by design: build side is the bounded query
    // batch; every target vector scores against each (the brute leg)
    val scored = y.crossJoin(broadcast(x))
      .withColumn("sim", dot($"xv", $"yv") / ($"xnorm" * $"ynorm"))
      .select($"src_id", $"tgt_id", $"sim")
    val wf = Window.partitionBy($"src_id")
      .orderBy(round($"sim", 6).desc, $"tgt_id".asc)
    val wb = Window.partitionBy($"tgt_id")
      .orderBy(round($"sim", 6).desc, $"src_id".asc)
    val ranked = scored
      .withColumn("fr", row_number().over(wf))
      .withColumn("br", row_number().over(wb))
    // neighborhood means over INTEGER micros, not avg() over doubles:
    // a double sum's association order is partition-dependent in Spark
    // and differs from DuckDB's, and exactly at a 4-dp rounding boundary
    // that ulp could flip both the hash and the accept flag (the knScore
    // risk class). Summing round(sim·10⁶) as BIGINT is associative and
    // exact on both engines; the one division per group is a fixed
    // per-row double op.
    def microMean(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      sum(round(c * 1000000).cast("long")) / (count(lit(1)) * 1000000.0)
    val dx = ranked.filter($"fr" <= BitextK)
      .groupBy($"src_id").agg(microMean($"sim").as("dx"))
    val dy = ranked.filter($"br" <= BitextK)
      .groupBy($"tgt_id").agg(microMean($"sim").as("dy"))
    ranked.filter($"fr" === 1)
      .join(dx, "src_id").join(dy, "tgt_id")
      .withColumn("margin", round(lit(2) * $"sim" / ($"dx" + $"dy"), 4))
      .select($"src_id", $"tgt_id", round($"sim", 4).as("cos_sim"),
        $"margin", ($"margin" >= BitextMarginThreshold).as("accepted"))
      .orderBy($"src_id")
  }

  /** DuckDB twin of [[bitextMarginPairs]] — same halves, same windows,
    * identical left-associated margin expression. */
  val bitextMarginPairsOracle: String =
    s"""WITH $normedVecCtes,
       |x AS (SELECT vec_id AS src_id, v AS xv, norm AS xnorm FROM n
       |  WHERE vec_id % 2 = 0 AND vec_id < $BitextQueries),
       |y AS (SELECT vec_id AS tgt_id, v AS yv, norm AS ynorm FROM n
       |  WHERE vec_id % 2 = 1),
       |sc AS (SELECT src_id, tgt_id,
       |    list_dot_product(xv, yv) / (xnorm * ynorm) AS sim
       |  FROM y CROSS JOIN x),
       |rk AS (SELECT src_id, tgt_id, sim,
       |    row_number() OVER (PARTITION BY src_id
       |      ORDER BY round(sim, 6) DESC, tgt_id ASC) AS fr,
       |    row_number() OVER (PARTITION BY tgt_id
       |      ORDER BY round(sim, 6) DESC, src_id ASC) AS br
       |  FROM sc),
       |dx AS (SELECT src_id,
       |    sum(CAST(round(sim * 1000000) AS BIGINT)) / (count(*) * 1000000.0)
       |      AS dx
       |  FROM rk WHERE fr <= $BitextK GROUP BY src_id),
       |dy AS (SELECT tgt_id,
       |    sum(CAST(round(sim * 1000000) AS BIGINT)) / (count(*) * 1000000.0)
       |      AS dy
       |  FROM rk WHERE br <= $BitextK GROUP BY tgt_id)
       |SELECT rk.src_id, rk.tgt_id, round(rk.sim, 4) AS cos_sim,
       |  round(2 * rk.sim / (dx.dx + dy.dy), 4) AS margin,
       |  round(2 * rk.sim / (dx.dx + dy.dy), 4) >= $BitextMarginThreshold
       |    AS accepted
       |FROM rk JOIN dx USING (src_id) JOIN dy USING (tgt_id)
       |WHERE fr = 1 ORDER BY rk.src_id""".stripMargin

  // ---------------------------------------------- ANN index-quality report
  /** Recall report for the approximate ANN indexes (IVF, IVF+PQ, LSH,
    * PQ) against the exact brute-force top-k, plus the FILTERED index
    * against the filtered brute truth — the index-quality metric a
    * similarity deployment monitors continuously (an index whose recall
    * drifts after an embedding-model update is silently corrupting every
    * downstream dedup and retrieval pass; the filtered leg additionally
    * watches the probe-ring-widening vs predicate-thinning trade-off).
    * One row per method with the matched/expected counts and recall in
    * exact integer micros.
    *
    * Scale shape: each leg is an equi-join of two TopK-bounded result
    * sets (≤ NumQueries·TopK rows each) into a single-row count — the
    * expensive corpus-touching work happens once inside each
    * already-oracled index query; the report itself joins only their
    * outputs. */
  def annRecallReport(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    withRecallLegs(s, d) { legs =>
      legs.map { case (method, leg, truth) =>
        val pairs = truth.select($"query_id", $"neighbor_id")
        leg.select($"query_id", $"neighbor_id")
          .join(pairs, Seq("query_id", "neighbor_id"))
          .agg(count(lit(1)).as("n_matched"))
          .crossJoin(broadcast(pairs.agg(count(lit(1)).as("n_expected"))))
          .select(lit(method).as("method"), $"n_matched", $"n_expected",
            expr("(n_matched * 1000000) div n_expected").as("recall_micros"))
      }.reduce(_ unionAll _).localCheckpoint()
    }
  }

  /** The report's legs as (method, leg, truth), handed to `f` while their
    * shared corpus-side inputs live. Run separately, the legs would scan
    * the embeddings once each, train the SAME IVF centroids four times and
    * the SAME PQ codebooks twice; here the decoded vectors are persisted
    * and each deterministic training runs once (bit-identical inputs, so
    * bit-identical codebooks and unchanged leg rows — SimilaritySpec pins
    * every leg to its standalone query). The brute truth feeds four legs,
    * so it is materialized once. `f` must materialize what it keeps: the
    * vectors are released when it returns or throws. */
  private[graft] def withRecallLegs[A](s: SparkSession, d: String)(
      f: Seq[(String, DataFrame, DataFrame)] => A): A = {
    val vecs = vecsOf(s, d).persist()
    try {
      val centroids = lloydCentroids(s, vecs)
      val cb = pqTrain(s, vecs)
      val brute = bruteOn(s, vecs, None).localCheckpoint()
      // the filtered legs measure against their own brute truths — the
      // unfiltered truth would punish an index for honoring the predicate
      val same = Some(LabelFilter(labelsOf(s, d), same = true))
      val other = Some(LabelFilter(labelsOf(s, d), same = false))
      f(Seq(
        ("ivf", ivfOn(s, vecs, centroids, IvfProbes, None), brute),
        ("ivfpq", adcOn(s, vecs, cb, Some(centroids)), brute),
        ("lsh", lshOn(s, vecs), brute),
        ("pq", adcOn(s, vecs, cb, None), brute),
        ("filtered", ivfOn(s, vecs, centroids, FilteredProbes, same), bruteOn(s, vecs, same)),
        ("hardneg", ivfOn(s, vecs, centroids, FilteredProbes, other), bruteOn(s, vecs, other))))
    } finally vecs.unpersist(false)
  }

  /** DuckDB twin of [[annRecallReport]] — the six index oracles and
    * their truth oracles as derived tables (nested WITH), joined on
    * (query, neighbor) exactly as the engine legs. `lazy` because it
    * composes [[annPqTopKOracle]], declared further down the object —
    * an eager val would capture null during object initialization. */
  lazy val annRecallReportOracle: String = {
    def legVs(method: String, oracle: String, truth: String): String =
      s"""SELECT '$method' AS method,
         |  (SELECT count(*) FROM ($oracle) a JOIN ($truth) b
         |     USING (query_id, neighbor_id)) AS n_matched,
         |  (SELECT count(*) FROM ($truth)) AS n_expected""".stripMargin
    def leg(method: String, oracle: String): String =
      legVs(method, oracle, annBruteTopKOracle)
    val legs = Seq(
      leg("ivf", annIvfTopKOracle),
      leg("ivfpq", annIvfPqTopKOracle),
      leg("lsh", annLshTopKOracle),
      leg("pq", annPqTopKOracle),
      legVs("filtered", annFilteredTopKOracle, annFilteredBruteTopKOracle),
      legVs("hardneg", annHardNegativesOracle, annHardNegBruteTopKOracle)
    ).mkString("\nUNION ALL\n")
    s"""SELECT method, CAST(n_matched AS BIGINT) AS n_matched,
       |  CAST(n_expected AS BIGINT) AS n_expected,
       |  CAST((n_matched * 1000000) // n_expected AS BIGINT) AS recall_micros
       |FROM ($legs)""".stripMargin
  }

  /** DuckDB twin of [[annPqTopK]]: the [[pqCtes]] training replay, the
    * query distance tables as one (query, sub, cid) join, the ADC sum as
    * an ORDERED subspace fold (bit-parity with the JVM loop), and the
    * exact re-rank of the shortlist exactly as the IVF/LSH twins. */
  val annPqTopKOracle: String =
    s"""$pqCtes,
       |${adcShortSql(ivf = false)},
       |${rerankSql("short")}""".stripMargin

  // ------------------------------------------- power iteration (top PC)
  /** Power-iteration rounds. Fixed (not convergence-tested) so the
    * output is a pure function of the input — the CcIters discipline. */
  val PowerIters = 8
  /** Weight-vector scale: w components live in [−1000, 1000]. */
  val PowerScale = 1000L
  /** Embedding quantization scale for the integer Gram products. */
  val PowerQuant = 1000L

  /** Dominant principal direction of the embedding corpus by power
    * iteration on the Gram matrix — w ← (XᵀX)·w, renormalized each
    * round — in EXACT integer arithmetic end to end: embeddings quantize
    * to round(x·1000) once, each round computes per-row scores
    * s = qᵀw and component sums c = Σ q·s in BIGINT, and the
    * renormalization is c·1000 div max|c| (truncating division —
    * identical in Spark `div`, Scala `/`, and DuckDB `//`). No float
    * ever enters, so the result is bit-identical on any engine and any
    * partitioning — the property a 1000-executor run cannot otherwise
    * promise for an iterative numeric. XᵀX is PSD, so the dominant
    * eigenvalue is positive and the iterate never sign-flips; the
    * all-ones start has nonzero overlap with the top eigenvector almost
    * surely. This is the spectral half of the embedding diagnostics
    * (next to [[clusterProfile]]'s k-means view): the direction the
    * corpus is most stretched along, e.g. the axis a PCA-whitening or
    * an ANN rotation would remove first. What K rounds promise is the
    * fixed-K ITERATE, contracted toward the top eigenvector by
    * (λ₂/λ₁)^K — on a near-degenerate spectrum that is not yet the
    * eigenvector itself (SimilaritySpec pins the iterate against its
    * double twin and the Rayleigh quotient's monotone climb; a
    * production caller with a flat spectrum raises K, which costs one
    * bounded aggregate per extra round).
    *
    * Scale shape (r11): the quantized vectors are scanned once and
    * persisted; each round is ONE shuffle-free treeAggregate over them —
    * per row the score s = q·w and its rank-one update q·s fold into a
    * 64-long accumulator, partials tree-combine, and exactly 64 longs
    * reach the driver per round (the BPE-merge-table class of bounded
    * driver traffic; the old per-round Catalyst aggregate brought the
    * same 64 longs but paid per-round planning, a posexplode shuffle and
    * a collect job — measured 2.5 s → ~1 s at sf0.1). Scala `/` matches
    * the oracle's `//` on negatives (both truncate toward zero). BIGINT
    * headroom: |c| ≤ N·64·quant²·scale ≈ 6.4e13 per 1e6 rows — at
    * extreme corpus sizes the component sum moves to DECIMAL(38,0)
    * (the [[Corpus.epochPlan]] precedent). */
  def powerIteration(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val dim = 64
    val qr = Tables.embeddings(s, d).select(
        expr(s"""transform(CAST(embedding AS ARRAY<DOUBLE>),
                 |x -> CAST(round(x * $PowerQuant) AS BIGINT))""".stripMargin)
          .as("q"))
      .as[Array[Long]].rdd
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def component(w: Array[Long]): Array[Long] =
      qr.treeAggregate(new Array[Long](dim))(
        (acc, q) => {
          var sc = 0L; var i = 0
          while (i < dim) { sc += q(i) * w(i); i += 1 }
          i = 0
          while (i < dim) { acc(i) += q(i) * sc; i += 1 }
          acc
        },
        (a, b) => { var i = 0; while (i < dim) { a(i) += b(i); i += 1 }; a })
    var w = Array.fill(dim)(PowerScale)
    for (_ <- 1 until PowerIters) {
      val c = component(w)
      val m = math.max(c.map(math.abs).max, 1L)
      w = c.map(x => x * PowerScale / m)
    }
    val c = component(w)
    val m = math.max(c.map(math.abs).max, 1L)
    qr.unpersist(false)
    c.zipWithIndex
      .map { case (x, pos) => (pos, x * PowerScale / m) }
      .toSeq.toDF("pos", "w")
      .orderBy($"pos")
  }

  /** DuckDB twin of [[powerIteration]] — the same quantization and the
    * [[PowerIters]] rounds unrolled as materialized CTEs (the
    * componentsOracle discipline); `//` matches Spark's truncating
    * `div` on negatives (both round toward zero). */
  val powerIterationOracle: String = {
    val rounds = (1 to PowerIters).map { r =>
      val prev = if (r == 1) "w0" else s"w${r - 1}"
      s"""s$r AS MATERIALIZED (SELECT ex.vec_id,
         |    CAST(sum(ex.qi * w.w) AS BIGINT) AS s
         |  FROM ex JOIN $prev w ON w.pos = ex.pos GROUP BY ex.vec_id),
         |c$r AS MATERIALIZED (SELECT ex.pos,
         |    CAST(sum(ex.qi * s.s) AS BIGINT) AS c
         |  FROM ex JOIN s$r s ON s.vec_id = ex.vec_id GROUP BY ex.pos),
         |w$r AS MATERIALIZED (SELECT pos,
         |    (c * $PowerScale) // greatest(m.m, 1) AS w
         |  FROM c$r, (SELECT max(abs(c)) AS m FROM c$r) m)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (SELECT vec_id,
       |    list_transform(embedding,
       |      x -> CAST(round(CAST(x AS DOUBLE) * $PowerQuant) AS BIGINT)) AS q
       |  FROM embeddings),
       |ex AS MATERIALIZED (SELECT vec_id, t.j AS pos, q[t.j + 1] AS qi
       |  FROM e, unnest(range(64)) AS t(j)),
       |w0 AS (SELECT t.j AS pos, CAST($PowerScale AS BIGINT) AS w
       |  FROM unnest(range(64)) AS t(j)),
       |$rounds
       |SELECT pos, w FROM w$PowerIters ORDER BY pos""".stripMargin
  }

  // ------------------------------------------- Matryoshka truncation report
  /** Prefix dimensions evaluated by [[matryoshkaReport]]; the last entry
    * is the full width (its row is the internal control: recall 10⁶,
    * delta 0). */
  val MrlDims: Seq[Int] = Seq(8, 16, 32, 64)

  /** Matryoshka truncation-quality report (Kusupati et al. 2022, MRL):
    * how much ANN quality survives truncating the embedding to its
    * first-d prefix — the sizing table a deployment reads before
    * choosing a cheap prefix index over the full vectors. Per prefix
    * width: recall@[[TopK]] of the truncated brute ranking against the
    * full-width truth, and the mean |Δcosine| over the truth pairs, both
    * in integer micros (each cosine is snapped to micros BEFORE the
    * subtraction, so the deltas are integer arithmetic with no float-
    * association edge; ranking uses the [[annBruteTopK]] round-6dp +
    * vec_id total order).
    *
    * Scale shape: per width one brute scoring pass (broadcast
    * [[NumQueries]]-row query side over the corpus — the annBrute
    * class, BY DESIGN for an offline eval report; a production index
    * swaps in the IVF probe ring per width), each checkpointed and
    * reused by the rank leg and the delta leg; output is
    * |[[MrlDims]]| rows. */
  def matryoshkaReport(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val base = vecsOf(s, d).toDF("vec_id", "v0")
    def scoredAt(dim: Int): DataFrame = {
      val e = base.select($"vec_id", slice($"v0", 1, dim).as("v"))
        .withColumn("norm", sqrt(dot($"v", $"v")))
      val q = e.filter($"vec_id" < NumQueries)
        .select($"vec_id".as("query_id"), $"v".as("qv"), $"norm".as("qnorm"))
      e.join(broadcast(q), $"vec_id" =!= $"query_id")
        .select($"query_id", $"vec_id".as("neighbor_id"),
          (dot($"qv", $"v") / expr("nullif(qnorm * norm, 0.0d)")).as("sim"))
    }
    def topk(scored: DataFrame): DataFrame = {
      val w = Window.partitionBy($"query_id")
        .orderBy(round($"sim", 6).desc, $"neighbor_id".asc)
      scored.withColumn("rank", row_number().over(w)).filter($"rank" <= TopK)
    }
    val truth = topk(scoredAt(MrlDims.last))
      .select($"query_id", $"neighbor_id",
        expr("CAST(round(sim * 1000000) AS BIGINT)").as("sim_micros_full"))
      .localCheckpoint()
    MrlDims.map { dim =>
      val sc = scoredAt(dim).localCheckpoint() // feeds the rank + delta legs
      val ov = topk(sc).join(truth, Seq("query_id", "neighbor_id"))
        .agg(count(lit(1)).as("overlap"))
      val dl = sc.select($"query_id", $"neighbor_id",
          expr("CAST(round(sim * 1000000) AS BIGINT)").as("sim_micros"))
        .join(truth, Seq("query_id", "neighbor_id"))
        .agg(sum(abs($"sim_micros" - $"sim_micros_full")).as("delta_sum"),
          count(lit(1)).as("n"))
      ov.crossJoin(dl).select(lit(dim).as("dim"),
        expr(s"CAST((overlap * 1000000) div ${NumQueries * TopK} AS BIGINT)")
          .as("recall_micros"),
        expr("CAST(delta_sum div n AS BIGINT)").as("avg_abs_delta_micros"))
    }.reduce(_ unionAll _)
  }

  /** DuckDB twin of [[matryoshkaReport]] — per width the same sliced
    * brute scoring, round-6dp ranking, micro-snapped deltas. */
  val matryoshkaReportOracle: String = {
    val dims = MrlDims.map { d =>
      s"""e$d AS MATERIALIZED (SELECT vec_id, list_slice(v, 1, $d) AS v,
         |    sqrt(list_dot_product(list_slice(v, 1, $d), list_slice(v, 1, $d)))
         |      AS norm FROM e),
         |s$d AS MATERIALIZED (SELECT q.vec_id AS query_id,
         |    n.vec_id AS neighbor_id,
         |    list_dot_product(q.v, n.v) / nullif(q.norm * n.norm, 0) AS sim
         |  FROM e$d n CROSS JOIN (SELECT * FROM e$d WHERE vec_id < $NumQueries) q
         |  WHERE n.vec_id <> q.vec_id),
         |t$d AS MATERIALIZED (SELECT query_id, neighbor_id,
         |    CAST(round(sim * 1000000) AS BIGINT) AS sim_micros
         |  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
         |      ORDER BY round(sim, 6) DESC, neighbor_id ASC) AS rk FROM s$d)
         |  WHERE rk <= $TopK)""".stripMargin
    }.mkString(",\n")
    val rows = MrlDims.map { d =>
      s"""SELECT $d AS dim,
         |  CAST((SELECT count(*) FROM t$d x
         |      JOIN t${MrlDims.last} f USING (query_id, neighbor_id))
         |    * 1000000 // ${NumQueries * TopK} AS BIGINT) AS recall_micros,
         |  CAST((SELECT sum(abs(CAST(round(s.sim * 1000000) AS BIGINT)
         |        - f.sim_micros)) // count(*)
         |      FROM s$d s JOIN t${MrlDims.last} f USING (query_id, neighbor_id))
         |    AS BIGINT) AS avg_abs_delta_micros""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH $vecCte,
       |$dims
       |$rows""".stripMargin
  }
}
