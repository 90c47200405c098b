package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftFunctions
import graft.core.Tables

/** Deduplication operator family over the `documents` table — exact,
  * n-gram Jaccard, winnowing, MinHash-LSH, SimHash, span, paragraph and
  * embedding dedup plus the decontamination passes — each with its 100 TB
  * shape stated inline.
  *
  * The set-Jaccard near-dup operators share ONE kernel: a CANDIDATE SOURCE
  * feeds ONE exact verifier, the filter-then-verify unit of thresholded
  * similarity search.
  *
  *   - **Candidate sources** (each keeps its own recall contract): the
  *     df-pruned inverted index ([[prunedIndexOf]]; n-gram Jaccard and
  *     winnowing), MinHash band buckets ([[lshBandsOf]]; MinHash-LSH and the
  *     clustering edges) and the fixed-size eval side of those buckets,
  *     broadcast (fuzzy decontamination).
  *   - **One verifier** ([[jaccardTail]]): every candidate carries the
  *     exact intersection `c` of its two FULL element sets — from the gram
  *     arrays on the LSH legs, as rare count plus hot add-back on the
  *     pruned index — and is kept iff c / (na + nb − c) reaches the
  *     threshold, scored by [[ratio4]]. Emitted scores are exact by
  *     construction; two sources differ only in which pairs they find.
  *   - **One identical-copy collapse** ([[collapseCopies]]): byte-identical
  *     docs become their min-doc_id md5 representative before any index or
  *     band is built; [[Copies.expand]] restores the copy pairs where the
  *     output is pairs.
  *
  * The DuckDB twins compose the same pieces: [[collapseCtes]] /
  * [[expandCollapsedSql]], [[prunedCandCtes]] and [[scoredPairsCtes]], so
  * a threshold, cap or score change is one edit in each engine.
  *
  * Scale doctrine: anything pairwise is *blocked* first (pruned index,
  * LSH bands, SimHash bands) so the shuffle key is the block id and
  * candidate generation is an equi-join, never a cross join. Exact
  * pairwise forms exist here as oracles/verifiers for the probabilistic
  * paths.
  */
object Dedup {

  /** Absolute ceiling on the MOSS df-prune cap of [[prunedIndexOf]].
    * A pure 1%-of-corpus cap is quadratic (bucket joins cost (0.01n)2);
    * worse, even a LOOSE absolute ceiling leaves a quadratic TRANSITION
    * regime — fingerprints whose df sits just under the ceiling triple
    * their df at 3x the corpus and their Sigma-df2 join volume grows 9x
    * until they finally cross it (measured: 14s -> 103s at sf1 -> sf3
    * under a 256 ceiling). 64 keeps per-fingerprint join work trivial
    * (<= 4k rows) while costing nothing detectable in recall: a
    * jac >= 0.5 pair shares a third of its fingerprint union, and the
    * discriminative fingerprints (word-boundary-spanning windows, rare
    * phrases) have single-digit df. One constant, interpolated into the
    * Scala cap AND its DuckDB twin, so they cannot drift. */
  val DfCapCeiling = 64L

  /** Jaccard floor of the symmetric word-3-gram near-dup pairs (n-gram,
    * MinHash-LSH and the closure oracles' pair graph). */
  val NearDupJaccard = 0.5

  // ----------------------------------------------------- near-dup kernel
  /** The collapse half of the identical-copy guard: the docs passing
    * `eligible`, grouped by md5(text), each group's minimum doc_id its
    * representative. [[Copies.members]] maps every eligible doc to its
    * rep, [[Copies.reps]] holds the representatives' own rows of `docs`.
    *
    * Why: with the absolute [[DfCapCeiling]], a cluster of more than ~64
    * identical copies makes every one of its index keys hot, so all pairs
    * inside it silently vanish from a pruned index; and m copies share all
    * [[MinHashBands]] band buckets, m²/2 LSH candidates. Collapsing first
    * bounds every cluster's contribution to ONE doc; identical text ⇒
    * identical element set, so a rep's pairs and scores are every copy's.
    * `eligible` keeps docs that can never pair (no grams / shorter than
    * the shingle) out, preserving the node universe. The shuffle carries
    * (128-bit digest, id), never the document text. DuckDB twin:
    * [[collapseCtes]]. */
  private[operators] def collapseCopies(docs: DataFrame, eligible: Column): Copies = {
    val s = docs.sparkSession
    import s.implicits._
    val withH = docs.filter(eligible).select($"doc_id", md5($"text").as("h"))
    val groups = withH.groupBy($"h").agg(min($"doc_id").as("rep"))
    Copies(withH.join(groups, "h").select($"doc_id", $"rep"),
      docs.join(groups.select($"rep".as("doc_id")), Seq("doc_id"), "left_semi"))
  }

  /** The result of [[collapseCopies]]: (doc_id, rep) for every eligible
    * doc, and the representative docs. */
  private[operators] final case class Copies(members: DataFrame, reps: DataFrame) {
    /** The expansion half: rep pairs (doc_a, doc_b, `score`) back to copy
      * pairs, plus each group's clique at score 1.0 — output-bound, those
      * pairs ARE the result. DuckDB twin: [[expandCollapsedSql]]. */
    def expand(repPairs: DataFrame, score: String): DataFrame = {
      import members.sparkSession.implicits._
      repPairs
        .join(members.select($"rep".as("doc_a"), $"doc_id".as("ma")), "doc_a")
        .join(members.select($"rep".as("doc_b"), $"doc_id".as("mb")), "doc_b")
        .select(least($"ma", $"mb").as("doc_a"),
          greatest($"ma", $"mb").as("doc_b"), col(score))
        .union(members.as("a").join(members.as("b"),
            $"a.rep" === $"b.rep" && $"a.doc_id" < $"b.doc_id")
          .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"),
            lit(1.0).as(score)))
    }
  }

  /** DuckDB twin of [[collapseCopies]]: the `wg`/`grp`/`mem`/`repdocs` CTE
    * prologue (no leading `WITH`, no trailing comma). `eligibleWhere`
    * mirrors the `eligible` predicate. */
  private[graft] def collapseCtes(eligibleWhere: String): String =
    s"""wg AS (SELECT doc_id, md5(text) AS h FROM documents
       |  WHERE $eligibleWhere),
       |grp AS (SELECT h, min(doc_id) AS rep FROM wg GROUP BY h),
       |mem AS (SELECT w.doc_id, g.rep FROM wg w JOIN grp g USING (h)),
       |repdocs AS (SELECT d.doc_id, d.text
       |  FROM documents d SEMI JOIN grp ON d.doc_id = grp.rep)""".stripMargin

  /** DuckDB twin of [[Copies.expand]]: the final SELECT over a rep-pair
    * CTE named `rp` with score column `score`. */
  private[graft] def expandCollapsedSql(score: String): String =
    s"""SELECT least(ma.doc_id, mb.doc_id) AS doc_a,
       |       greatest(ma.doc_id, mb.doc_id) AS doc_b, $score
       |FROM rp JOIN mem ma ON ma.rep = rp.doc_a JOIN mem mb ON mb.rep = rp.doc_b
       |UNION ALL
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, 1.0 AS $score
       |FROM mem a JOIN mem b ON a.rep = b.rep AND a.doc_id < b.doc_id""".stripMargin

  /** The df-pruned inverted index (MOSS's "too common to be interesting"
    * rule) over a (doc_id, els) frame, `els` the non-empty array of the
    * doc's distinct elements — word 3-grams or winnowing fingerprints.
    * Returns the rare-index candidates with their rare-shared count
    * (doc_a, doc_b, c_rare), the hot element set (el) and the exploded
    * index (doc_id, el) they were pruned against.
    *
    * An element is hot when its df exceeds max(16, 1% of docs), capped at
    * [[DfCapCeiling]]: the per-element self-join bucket is then bounded by
    * the cap, so a hot stop-gram can never make the join quadratic on a
    * skewed corpus (asserted on a planted hot-gram corpus in DedupSpec),
    * and the hot set is small by construction, hence broadcast. The doc
    * count is a one-row aggregate crossJoined in (the scalar-subquery
    * shape, as in tf-idf) — part of the one plan, no driver-side count().
    * DuckDB twin: [[prunedCandCtes]]. */
  private def prunedIndexOf(sets: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val s = sets.sparkSession
    import s.implicits._
    val nd = sets.agg(count(lit(1)).as("ndocs"))
    val els = sets.select($"doc_id", explode($"els").as("el"))
    val hot = els.groupBy($"el").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nd))
      .filter($"df" > least(greatest(lit(16L), ($"ndocs" / 100).cast("long")),
        lit(DfCapCeiling)))
      .select($"el")
    val rare = els.join(broadcast(hot), Seq("el"), "left_anti")
    val rarePairs = rare.as("a").join(rare.as("b"),
        $"a.el" === $"b.el" && $"a.doc_id" < $"b.doc_id")
      .groupBy($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"))
      .agg(count(lit(1)).as("c_rare"))
    (rarePairs, hot, els)
  }

  /** Near-dup pairs (doc_a, doc_b, `score`) of the pruned index, exact
    * under the prune: c = c_rare + |hot(a) ∩ hot(b)| is the full-set
    * intersection at pruned-index cost (per-doc hot sets are small by
    * construction), verified by [[jaccardTail]].
    *
    * A pair sharing ONLY hot elements is never a candidate — at jac ≥ 0.5
    * a pair shares a third of its union, so requiring one rare shared
    * element loses essentially nothing (TextSpec bounds recall against the
    * unpruned truth). The residual blind spot, inherent to MOSS
    * df-pruning: a cluster of more than the cap of NEAR-identical (not
    * byte-identical) docs makes its shared elements hot; the LSH path has
    * no such blind spot and is the recall authority there.
    *
    * The element-set frame is cached once: it feeds the doc count, the
    * index, the hot sets and the sizes (MEMORY_AND_DISK and evictable, so
    * it borrows, never starves, execution memory). Sets, not the exploded
    * frame, so a size is `size(els)` and the doc count a row count — no
    * per-doc aggregate, no extra shuffle. */
  private[operators] def prunedJaccardPairsOf(
      sets0: DataFrame, minJac: Double, score: String): DataFrame = {
    val s = sets0.sparkSession
    import s.implicits._
    val sets = sets0.cache()
    val (rarePairs, hot, els) = prunedIndexOf(sets)
    val hotSets = els.join(broadcast(hot), Seq("el"))
      .groupBy($"doc_id").agg(collect_set($"el").as("hs"))
    val sizes = sets.select($"doc_id", size($"els").as("n"))
    jaccardTail(rarePairs
      .join(sizes.select($"doc_id".as("doc_a"), $"n".as("na")), "doc_a")
      .join(sizes.select($"doc_id".as("doc_b"), $"n".as("nb")), "doc_b")
      .join(hotSets.select($"doc_id".as("doc_a"), $"hs".as("ha")), Seq("doc_a"), "left")
      .join(hotSets.select($"doc_id".as("doc_b"), $"hs".as("hb")), Seq("doc_b"), "left")
      .withColumn("c", $"c_rare" + when($"ha".isNull || $"hb".isNull, 0)
        .otherwise(size(array_intersect($"ha", $"hb")))), minJac, score)
  }

  /** The LSH legs of the kernel: `candsOf` turns the (doc_id, bucket) band
    * table of `docs` into candidate (doc_a, doc_b) pairs, each verified on
    * the full gram sets by [[jaccardTail]] into (doc_a, doc_b, jac). The
    * gram frame is cached once: it is read to minhash and again to verify. */
  private def lshJaccardPairsOf(docs: DataFrame, minJac: Double)(
      candsOf: DataFrame => DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val grams = gramsOf(docs).cache()
    jaccardTail(candsOf(lshBandsOf(grams))
      .join(grams.select($"doc_id".as("doc_a"), $"grams".as("ga")), "doc_a")
      .join(grams.select($"doc_id".as("doc_b"), $"grams".as("gb")), "doc_b")
      .select($"doc_a", $"doc_b", size(array_intersect($"ga", $"gb")).as("c"),
        size($"ga").as("na"), size($"gb").as("nb")), minJac, "jac")
  }

  /** THE verifier of every set-Jaccard leg: (doc_a, doc_b, c, na, nb) rows
    * — c the exact intersection of the two full element sets, na/nb their
    * sizes — kept iff c / (na + nb − c) ≥ `minJac` and scored by
    * [[ratio4]] as `score`. DuckDB twin: [[scoredPairsCtes]]. */
  private def jaccardTail(pairs: DataFrame, minJac: Double, score: String): DataFrame =
    pairs.filter(col("c") / (col("na") + col("nb") - col("c")) >= minJac)
      .select(col("doc_a"), col("doc_b"), ratio4("c", "na + nb - c").as(score))

  /** DuckDB twin of [[prunedIndexOf]]: CTEs nd/hot/rare/cand over the CTE
    * `src(doc_id, <el>)`, ending in `cand(doc_a, doc_b)`. */
  private[operators] def prunedCandCtes(src: String, el: String): String =
    s"""nd AS (SELECT count(DISTINCT doc_id) AS n FROM $src),
       |hot AS (SELECT $el FROM $src GROUP BY $el
       |  HAVING count(*) > (SELECT least(greatest(16, n // 100), $DfCapCeiling) FROM nd)),
       |rare AS (SELECT x.doc_id, x.$el FROM $src x ANTI JOIN hot h ON x.$el = h.$el),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM rare a JOIN rare b ON a.$el = b.$el AND a.doc_id < b.doc_id)""".stripMargin

  /** DuckDB twin of [[jaccardTail]] with its intersection: `${p}inter`
    * counts the shared `el`s of every `${p}cand(doc_a, doc_b)` pair in the
    * CTE `${p}src(doc_id, el)`, and `out(doc_a, doc_b, score)` keeps and
    * scores it against the sizes `${p}sz(doc_id, n)`. Every name is
    * prefixed by `p`, so a composed oracle can hoist two copies. */
  private[operators] def scoredPairsCtes(p: String, src: String, el: String,
      minJac: Double, score: String, out: String): String =
    s"""${p}inter AS (SELECT c.doc_a, c.doc_b, count(*) AS c
       |  FROM ${p}cand c JOIN $p$src a ON a.doc_id = c.doc_a
       |              JOIN $p$src b ON b.doc_id = c.doc_b AND a.$el = b.$el
       |  GROUP BY 1, 2),
       |$p$out AS (SELECT doc_a, doc_b, ${ratio4Sql("c", "sa.n + sb.n - c")} AS $score
       |  FROM ${p}inter JOIN ${p}sz sa ON sa.doc_id = doc_a JOIN ${p}sz sb ON sb.doc_id = doc_b
       |  WHERE c / (sa.n + sb.n - c) >= $minJac)""".stripMargin

  // --------------------------------------------- knife-edge-free ratios
  /** 4dp round-half-up of the INTEGER rational num/den, in pure integer
    * arithmetic (the Multimodal idiom): `round()`-ing the double quotient
    * is a knife edge — Spark rounds the exact binary value via BigDecimal
    * HALF_UP while DuckDB rounds a scaled double, and the two disagree by
    * the 4th decimal's ulp whenever the true rational lands on x.xxxx5
    * (any denominator dividing 20000, e.g. a gram-set union of 160).
    * Integer division of identical integers is identical everywhere; the
    * SQL twin is [[ratio4Sql]]. `num`/`den` are SQL sub-expressions over
    * in-scope columns. */
  private[operators] def ratio4(num: String, den: String): Column =
    expr(s"(($num) * 20000 + ($den)) div (($den) * 2)") / 10000.0

  /** DuckDB twin of [[ratio4]]. */
  private[operators] def ratio4Sql(num: String, den: String): String =
    s"((($num) * 20000 + ($den)) // (($den) * 2)) / 10000.0"

  /** Distinct word-3-gram shingles per doc, via the native codegen'd
    * WordGrams expression (semantics asserted equal to the DuckDB oracle's
    * list-lambda form in ExpressionsSpec; the interpreted lambda tree it
    * replaces was ~10× slower because Catalyst re-evaluates it per filter
    * and join side). */
  private def gramsOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), GraftFunctions.wordGrams(col("text"), 3).as("grams"))
      .filter(size(col("grams")) > 0)

  /** [[gramsOf]] as the kernel's (doc_id, els) element-set frame. */
  private def gramSetsOf(docs: DataFrame): DataFrame =
    gramsOf(docs).select(col("doc_id"), col("grams").as("els"))

  /** Docs with at least one word 3-gram: the only ones that can pair. */
  private def gramBearing: Column = size(GraftFunctions.wordGrams(col("text"), 3)) > 0

  // ------------------------------------------------------------ exact dedup
  /** Exact dedup by full text: hash-groupBy on the text (at scale: on
    * md5(text) so the shuffle carries a 128-bit key, not the document).
    * Input is documents ∪ a doc_id-shifted copy, so the op provably
    * collapses duplicates (the base table has none). */
  def exactDedup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d).select($"doc_id", $"text")
    val dup  = docs.select(($"doc_id" + 100000L).as("doc_id"), $"text")
    docs.union(dup)
      .groupBy(md5($"text").as("text_md5"))
      .agg(min($"doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
  }

  val exactDedupOracle: String =
    """SELECT md5(text) AS text_md5, min(doc_id) AS keep_id, count(*) AS n_copies
      |FROM (SELECT doc_id, text FROM documents
      |      UNION ALL SELECT doc_id + 100000, text FROM documents) u
      |GROUP BY md5(text)""".stripMargin

  // --------------------------------------------------- exact n-gram Jaccard
  /** Near-dup pairs: word-3-gram Jaccard ≥ [[NearDupJaccard]], MOSS-shaped
    * — the kernel's pruned-index leg over gram elements: identical copies
    * collapsed ([[collapseCopies]]), candidates from the df-pruned gram
    * index, exact full-set scores ([[prunedJaccardPairsOf]]), copy pairs
    * restored. Unguarded, any identical cluster larger than the df cap
    * vanished from this operator's output while [[minhashLshPairsOf]]
    * still emitted it — breaking the LSH == exact parity the clustering
    * oracle rests on. The DuckDB oracle replicates the collapse and the
    * prune exactly. */
  def ngramJaccardPairs(s: SparkSession, d: String): DataFrame =
    ngramJaccardPairsOf(Tables.documents(s, d))

  /** [[ngramJaccardPairs]] over an arbitrary (doc_id, text) frame. */
  private[graft] def ngramJaccardPairsOf(docs: DataFrame): DataFrame = {
    val copies = collapseCopies(docs, gramBearing)
    copies.expand(prunedJaccardPairsOf(
      gramSetsOf(copies.reps), NearDupJaccard, "jac"), "jac")
  }

  /** Candidate (doc_a, doc_b) pairs from the df-pruned gram index —
    * exposed so the hot-gram boundedness is directly assertable. */
  private[graft] def ngramCandidates(docs: DataFrame): DataFrame =
    prunedIndexOf(gramSetsOf(docs))._1.select("doc_a", "doc_b")

  val ngramJaccardOracle: String =
    s"""WITH ${collapseCtes(s"len(${TextOps.tokensSql}) >= 3")},
      |${gramCtesFrom("repdocs", "")},
      |${prunedCandCtes("g", "gram")},
      |${scoredPairsCtes("", "g", "gram", NearDupJaccard, "jac", "rp")}
      |${expandCollapsedSql("jac")}""".stripMargin

  // ------------------------------------------------------------ MinHash LSH
  /** MinHash signatures (128 perms) + banded LSH (32 bands × 4 rows →
    * s-curve threshold ≈ 0.42) + exact verification of candidates.
    *
    * Scale path: signature computation is embarrassingly parallel; banding
    * turns candidate generation into an equi-join on (band, bucket) — the
    * only shuffle keys — so no cross join ever materializes. Verification
    * joins gram arrays for candidate pairs only.
    *
    * Probabilistic recall (≈0.87 at j=0.5, →1 as j→1) → rows-only oracle;
    * DedupSpec asserts precision/recall against [[ngramJaccardPairs]]. */
  val MinHashPerms = 128
  val MinHashBands = 32
  val MinHashRowsPerBand: Int = MinHashPerms / MinHashBands

  /** (doc_id, sig) via the native codegen'd [[org.apache.spark.sql.graft
    * .MinHashSignature]] expression — stays in Tungsten rows end to end
    * (no Dataset encoder round-trip in the map-side scan). Single source
    * of the signature construction: both the public form and the LSH
    * pipeline go through here, so they cannot drift. */
  private def signaturesOf(grams: DataFrame): DataFrame =
    grams.select(col("doc_id"), GraftFunctions.minhash(col("grams"), MinHashPerms).as("sig"))

  def minhashSignatures(s: SparkSession, d: String): DataFrame =
    signaturesOf(gramsOf(Tables.documents(s, d)))

  /** The one MinHash banding step: (doc_id, bucket), each doc's
    * [[MinHashBands]] band hashes via the native LshBandBuckets expression
    * (the band index is baked into each hash, so the bucket alone is the
    * join key). */
  private def lshBandsOf(grams: DataFrame): DataFrame =
    signaturesOf(grams).select(col("doc_id"),
      explode(GraftFunctions.lshBuckets(col("sig"), MinHashBands)).as("bucket"))

  def minhashLshPairs(s: SparkSession, d: String): DataFrame =
    minhashLshPairsOf(Tables.documents(s, d))

  /** [[minhashLshPairs]] over an arbitrary documents frame
    * (doc_id, text) — the form [[dedupClusters]]'s identical-copy guard
    * and the planted-duplicate specs compose on. The kernel's LSH leg with
    * the symmetric candidate source: docs sharing a band bucket.
    *
    * NOTE the m² caveat: a cluster of m IDENTICAL documents shares all
    * [[MinHashBands]] band buckets, so candidate generation alone is
    * m²/2 pairs — unavoidable here because those pairs (jac = 1.0) ARE
    * the operator's output. Callers that only need *connectivity* (the
    * clustering path) must collapse identical copies to one
    * representative first — [[clusterEdges]] does exactly that. */
  def minhashLshPairsOf(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    lshJaccardPairsOf(docs, NearDupJaccard) { bands =>
      bands.as("a").join(bands.as("b"),
          $"a.bucket" === $"b.bucket" && $"a.doc_id" < $"b.doc_id")
        .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"))
        .distinct()
    }
  }

  /** DuckDB twin of [[minhashLshPairs]] — the operator is DETERMINISTIC
    * (fixed splitmix64 seed stream), so "probabilistic recall" never meant
    * "unverifiable": the twin replicates FNV-1a per gram, all
    * [[MinHashPerms]] signature minima, the per-band bucket fold, the
    * bucket equi-join, and the exact jaccard verification. splitmix64 is
    * inlined as mod-2^64 HUGEINT arithmetic with the 64×64-bit multiply
    * split into 32-bit halves (a full product would overflow INT128);
    * the seed and band-init constants are generated HERE from
    * [[graft.functions.Hashing]], so oracle and engine cannot drift.
    * Signature minima are taken over the SIGNED 64-bit forms — the JVM
    * compares Longs (`h < sig(j)`), and unsigned minima select different
    * signatures for ~half of all (doc, permutation) cells, which shifts
    * band buckets and flips candidate pairs near the recall threshold
    * (the same signed-minima trap the winnow oracle documents). */
  /** SQL builders for exact 64-bit unsigned arithmetic in DuckDB (HUGEINT
    * intermediates, explicit mod-2^64): every oracle that must replicate
    * the engine's fnv1a64 → splitmix64 hash family bit-for-bit composes
    * from these — MinHash-LSH, sign-LSH ANN, and the Bloom filter. */
  private[operators] object SqlU64 {
    val U = "CAST(18446744073709551616 AS HUGEINT)" // 2^64

    /** (a * c) mod 2^64 with `a` a HUGEINT in [0, 2^64): 32-bit limbs so no
      * intermediate exceeds HUGEINT range. */
    def mul(a: String, c: Long): String = {
      val bh = c >>> 32
      val bl = c & 0xFFFFFFFFL
      s"((( ($a) * $bl ) % $U + ((( ($a) * $bh ) % 4294967296) * 4294967296)) % $U)"
    }

    /** splitmix64 finalizer — twin of [[graft.functions.Hashing.mix64]]. */
    def mix(x: String): String = {
      val s1 = s"((($x) + CAST(11400714819323198485 AS HUGEINT)) % $U)"
      val x1 = s"(xor($s1, $s1 // (1::HUGEINT << 30)))"
      val s2 = mul(x1, 0xbf58476d1ce4e5b9L)
      val x2 = s"(xor($s2, $s2 // (1::HUGEINT << 27)))"
      val s3 = mul(x2, 0x94d049bb133111ebL)
      s"xor($s3, $s3 // (1::HUGEINT << 31))"
    }

    /** A Long rendered as its unsigned HUGEINT literal. */
    def uns(l: Long): String =
      s"CAST(${java.lang.Long.toUnsignedString(l)} AS HUGEINT)"

    /** vocab/vbytes/fnv CTE chain: distinct `gram`s of CTE `src` hashed to
      * unsigned-64 `h` by fnv1a64 over UTF-8 bytes (via hex expansion) —
      * twin of [[graft.functions.Hashing.fnv1a64]]. Emits CTEs `vocab`,
      * `vb`, `vbytes`, `fnv(gram, h)`. */
    def fnvCtes(src: String): String = fnvCtesPrefixed(src, "")

    /** [[fnvCtes]] with every CTE name prefixed — lets a composed oracle
      * hoist two hash chains into ONE top-level WITH list (DuckDB 1.0
      * drops MATERIALIZED hints on CTEs nested inside a derived table,
      * so composition must hoist, not nest). */
    def fnvCtesPrefixed(src: String, p: String): String =
      s"""${p}vocab AS (SELECT DISTINCT gram FROM $src),
         |${p}vb AS (SELECT gram, hex(encode(gram)) AS hx FROM ${p}vocab),
         |${p}vbytes AS (SELECT gram, list_transform(range(length(hx) // 2),
         |    i -> CAST(16 * (strpos('0123456789ABCDEF', hx[2*i+1]) - 1)
         |         + (strpos('0123456789ABCDEF', hx[2*i+2]) - 1) AS HUGEINT)) AS bs FROM ${p}vb),
         |${p}fnv AS (SELECT gram, list_reduce(list_prepend(CAST(14695981039346656037 AS HUGEINT), bs),
         |    (h, c) -> ((h - (h % 256) + xor(CAST(h % 256 AS BIGINT), CAST(c AS BIGINT)))
         |               * 1099511628211) % $U) AS h FROM ${p}vbytes)""".stripMargin
  }

  /** CTE body of [[minhashLshOracle]] with every CTE name prefixed by
    * `p`, ending in `${p}pairs(doc_a, doc_b, jac)`. Composed oracles
    * (the sketch-recall report) HOIST this into their own top-level WITH
    * instead of nesting it as a derived table: DuckDB 1.0 silently drops
    * the MATERIALIZED hints on CTEs inside a nested subquery, which
    * re-inlines the signature chain ~6× (measured 30 s vs 6 s at
    * sf0.01). Returns the CTE list WITHOUT the leading WITH. */
  private def minhashLshCtes(p: String): String = {
    import SqlU64.{U, mix, uns}
    val seedList = graft.functions.Hashing.seeds(MinHashPerms)
      .map(uns).mkString("[", ", ", "]")
    val initList = (0 until MinHashBands)
      .map(b => graft.functions.Hashing.mix64(0x9E3779B97F4A7C15L + b))
      .map(uns).mkString("[", ", ", "]")
    val r = MinHashRowsPerBand
    /** Unrolled band fold: h_i = mix64(h_{i-1} XOR sig[r·b+i]) over the
      * band's r signature slots, one chained CTE per step so every mix
      * is a plain (CSE-friendly) column expression — bit-identical to
      * the list_reduce it replaces (per-element lambda dispatch cost
      * ~100 µs around each splitmix64: ~6 s at sf0.01 for 64k mixes,
      * ~1 s unrolled); the last step (`${p}buckets`) is MATERIALIZED so
      * the candidate self-join evaluates the chain once, not twice. */
    def bandChain(r: Int, initList: String): String = {
      def u(e: String) =
        s"CASE WHEN $e < 0 THEN CAST($e AS HUGEINT) + $U ELSE CAST($e AS HUGEINT) END"
      val exp = (1 to r).map(i => s"${u(s"sig[$r*t.b+$i]")} AS e$i").mkString(",\n|    ")
      val b0 =
        s"""${p}bx0 AS (SELECT doc_id, t.b AS b, ($initList)[t.b+1] AS h0,
           |    $exp
           |  FROM ${p}siglist, unnest(range($MinHashBands)) AS t(b))""".stripMargin
      val steps = (1 to r).map { i =>
        val carry = (i + 1 to r).map(j => s"e$j").mkString(", ")
        val sel = if (carry.isEmpty) "" else s", $carry"
        val name = if (i == r) s"${p}buckets AS MATERIALIZED" else s"${p}bx$i AS"
        val out = if (i == r) "bucket" else s"h$i"
        s"""$name (SELECT doc_id${if (i == r) "" else ", b"},
           |    ${mix(s"xor(h${i - 1}, e$i)")} AS $out$sel
           |  FROM ${p}bx${i - 1})""".stripMargin
      }
      (b0 +: steps).mkString(",\n")
    }
    s"""${gramCtesFrom("documents", p)},
       |${SqlU64.fnvCtesPrefixed(s"${p}g", p)},
       |${p}gh AS (SELECT g.doc_id, f.h FROM ${p}g g JOIN ${p}fnv f USING (gram)),
       |${p}seeds AS (SELECT i AS k, ($seedList)[i+1] AS s
       |          FROM unnest(range($MinHashPerms)) AS t(i)),
       |-- mix cost is per (DISTINCT gram hash x seed), not per (doc, gram)
       |-- occurrence: splitmix64 over HUGEINT limbs costs ~10 us per call
       |-- in DuckDB, so the oracle collapses to the vocabulary before
       |-- mixing (identical minima: min over duplicated values) and the
       |-- doc join pays only cheap join rows
       |${p}vm AS MATERIALIZED (SELECT vh.h, seeds.k, ${mix("xor(vh.h, seeds.s)")} AS mx
       |  FROM (SELECT DISTINCT h FROM ${p}fnv) vh CROSS JOIN ${p}seeds seeds),
       |${p}sigs AS (SELECT gh.doc_id, vm.k, min(CAST(CASE
       |    WHEN mx >= CAST(9223372036854775808 AS HUGEINT) THEN mx - $U
       |    ELSE mx END AS BIGINT)) AS m
       |  FROM ${p}gh gh JOIN ${p}vm vm USING (h) GROUP BY gh.doc_id, vm.k),
       |${p}siglist AS (SELECT doc_id, list(m ORDER BY k) AS sig FROM ${p}sigs GROUP BY doc_id),
       |${bandChain(r, initList)},
       |${p}cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM ${p}buckets a JOIN ${p}buckets b ON a.bucket = b.bucket AND a.doc_id < b.doc_id),
       |${scoredPairsCtes(p, "g", "gram", NearDupJaccard, "jac", "pairs")}""".stripMargin
  }

  val minhashLshOracle: String =
    s"""WITH ${minhashLshCtes("")}
       |SELECT doc_a, doc_b, jac FROM pairs""".stripMargin

  // -------------------------------------------------- near-dup clustering
  /** Connected components over the near-dup pair graph: every document in
    * a component is labeled with the component's minimum doc_id — the
    * "keep one representative per duplicate cluster" step of a dedup
    * pipeline (pair lists alone over-delete on transitive chains a~b~c).
    *
    * 100 TB shape on both axes:
    *   - **edges** come from [[minhashLshPairs]] (banded LSH candidates,
    *     exact-verified) — never the quadratic all-pairs join. LSH-vs-exact
    *     pair parity at test scale is asserted in DedupSpec, so the DuckDB
    *     oracle (recursive-CTE closure over the exact pairs) sees an
    *     identical graph.
    *   - **labels** come from the one connected-components operator,
    *     [[Graph.componentsOf]]: HashMin on the message-passing kernel, run
    *     to its fixpoint in blocks of [[Graph.CcIters]] rounds — a
    *     chain-shaped component costs more blocks, never a wrong label.
    *   - **identical copies never reach LSH** ([[clusterEdges]]): m copies
    *     of one document share all 32 band buckets, so unguarded candidate
    *     generation is m²/2 pairs per identical cluster (1,000 copies →
    *     ~500k candidates). Copies are collapsed to their md5
    *     representative first (one shuffle keyed on the 128-bit digest);
    *     only representatives enter LSH, and each copy contributes exactly
    *     one copy→rep edge — connectivity, and therefore cluster labels,
    *     are unchanged (a copy's near-dups are its rep's near-dups:
    *     identical text ⇒ identical gram set). Asserted on a planted
    *     1,000-copy corpus in DedupSpec. */
  def dedupClusters(s: SparkSession, d: String): DataFrame =
    dedupClustersOf(Tables.documents(s, d))

  /** [[dedupClusters]] over an arbitrary (doc_id, text) frame. */
  def dedupClustersOf(docs: DataFrame): DataFrame =
    clustersOf(clusterEdges(docs))

  /** Cluster labels of an undirected (src, dst) edge frame: (doc_id,
    * cluster = min node of its component) for every node incident to a
    * non-self-loop edge. Self-loops are dropped before the edges are
    * placed, since [[Graph.componentsOf]] would label an isolated (x, x). */
  private[graft] def clustersOf(edges: DataFrame): DataFrame = {
    import edges.sparkSession.implicits._
    Graph.componentsOf(edges.sparkSession, edges.filter($"src" =!= $"dst"))
      .toDF("doc_id", "cluster")
  }

  /** Near-dup graph edges with the identical-copy guard: the collapse
    * half alone ([[collapseCopies]]), LSH pairs among representatives, plus
    * one copy→rep edge per duplicate copy. Edge count is |rep LSH pairs| +
    * |copies| — linear in copies, never quadratic (the planted-duplicate
    * spec asserts this count directly). Scoped to GRAM-BEARING documents:
    * identical gram-less copies are no near-dups, and the DuckDB closure
    * oracle's gram CTE drops them too. */
  private[graft] def clusterEdges(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val copies = collapseCopies(docs, gramBearing)
    minhashLshPairsOf(copies.reps).select($"doc_a".as("src"), $"doc_b".as("dst"))
      .union(copies.members.filter($"doc_id" =!= $"rep")
        .select($"doc_id".as("src"), $"rep".as("dst")))
  }

  /** DuckDB twin of [[gramsOf]]: the `t/g/sz` CTE chain over the docs of
    * `src` — tokens, distinct word 3-grams per doc, gram count per doc —
    * with every CTE name prefixed by `p`, so a consumer whose WITH chain
    * already claims `t`/`g`/`sz` can splice a second copy. */
  private[operators] def gramCtesFrom(src: String, p: String): String =
    s"""${p}t AS (SELECT doc_id,
       |    ${TextOps.tokensSql} AS toks
       |  FROM $src),
       |${p}g AS (SELECT doc_id, unnest(list_distinct(list_transform(
       |    range(len(toks) - 2),
       |    i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]))) AS gram
       |  FROM ${p}t WHERE len(toks) >= 3),
       |${p}sz AS (SELECT doc_id, count(*) AS n FROM ${p}g GROUP BY doc_id)""".stripMargin

  /** Shared oracle fragments — the gram chain over `documents`, the
    * [[NearDupJaccard]] pair predicate, and transitive-closure SQL that
    * every closure-based oracle (clusters, keep-list, keep-best, curation
    * pipeline) composes from. Its pairs are counted straight off the gram
    * self-join, not through [[scoredPairsCtes]]: that tail re-joins a
    * DISTINCT candidate CTE, and over every gram-sharing pair the extra
    * pass outgrows a 4 GB DuckDB pool at sf0.1 where this form fits. */
  private[operators] val gramCtes: String = gramCtesFrom("documents", "")

  private[operators] val closureCtes: String =
    s"""$gramCtes,
      |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
      |  FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |pairs AS (
      |  SELECT doc_a, doc_b
      |  FROM inter JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b
      |  WHERE c / (sa.n + sb.n - c) >= $NearDupJaccard),
      |sym AS (
      |  SELECT doc_a AS a, doc_b AS b FROM pairs
      |  UNION SELECT doc_b, doc_a FROM pairs
      |  UNION SELECT doc_a, doc_a FROM pairs
      |  UNION SELECT doc_b, doc_b FROM pairs),
      |reach(x, y) AS (
      |  SELECT a, b FROM sym
      |  UNION
      |  SELECT r.x, s.b FROM reach r JOIN sym s ON r.y = s.a)""".stripMargin

  private[operators] val clustersCte: String =
    "clusters AS (SELECT x AS doc_id, min(y) AS cluster FROM reach GROUP BY x)"

  val dedupClustersOracle: String =
    s"""WITH RECURSIVE $closureCtes
       |SELECT x AS doc_id, min(y) AS cluster FROM reach GROUP BY x""".stripMargin

  // ------------------------------------------------------- dedup keep-list
  /** The dedup pipeline's final product: every document labeled with its
    * cluster and a `keep` flag (true iff it IS the cluster representative
    * — the minimum doc_id — or belongs to no near-dup cluster at all).
    * Downstream training jobs filter `keep`; the drop set is the
    * complement. One left join of documents against the (small) cluster
    * labels — broadcastable at any corpus scale since labels only exist
    * for documents that had a near-dup. */
  def keepList(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val clusters = dedupClusters(s, d)
    Tables.documents(s, d).select($"doc_id")
      .join(clusters, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"cluster", $"doc_id").as("cluster"),
        (coalesce($"cluster", $"doc_id") === $"doc_id").as("keep"))
  }

  val keepListOracle: String =
    s"""WITH RECURSIVE $closureCtes,
       |$clustersCte
       |SELECT d.doc_id,
       |  coalesce(c.cluster, d.doc_id) AS cluster,
       |  (coalesce(c.cluster, d.doc_id) = d.doc_id) AS keep
       |FROM documents d LEFT JOIN clusters c ON d.doc_id = c.doc_id""".stripMargin

  // ------------------------------------------------- eval decontamination
  /** Benchmark-contamination scan: training documents whose word-3-gram
    * sets are substantially contained in an evaluation document's — the
    * decontamination pass every pre-training pipeline runs before
    * shipping a corpus. Eval set here: doc_id < [[EvalSetSize]] (a
    * stand-in for a benchmark suite; the shape, not the id rule, is the
    * operator). Emits (train_doc, eval_doc, overlap, containment) for
    * containment = |g(train) ∩ g(eval)| / |g(train)| >= [[ContaminationMin]].
    *
    * Scale shape: the eval side is FIXED-size by definition (benchmark
    * suites don't grow with the corpus), so its gram index is explicitly
    * `broadcast()` — the same justified-hint class as nation/region.
    * Candidate generation is an equi-join on the gram; the train side
    * streams map-side against the broadcast, so the corpus never
    * shuffles for this scan at all. */
  val EvalSetSize = 50L
  val ContaminationMin = 0.3

  def contamination(s: SparkSession, d: String): DataFrame =
    contaminationOf(Tables.documents(s, d), EvalSetSize)

  /** [[contamination]] over an arbitrary frame / eval prefix (the scale
    * rehearsal's exact-baseline knob). */
  private[graft] def contaminationOf(docs: DataFrame, evalMax: Long): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val g = gramsOf(docs)
      .select($"doc_id", size($"grams").as("n"), explode($"grams").as("gram"))
    val evalG = g.filter($"doc_id" < evalMax)
      .select($"doc_id".as("eval_doc"), $"gram")
    val trainG = g.filter($"doc_id" >= evalMax)
      .select($"doc_id".as("train_doc"), $"n", $"gram")
    trainG.join(broadcast(evalG), "gram")
      .groupBy($"train_doc", $"eval_doc")
      .agg(count(lit(1)).as("overlap"), max($"n").as("n_train"))
      .filter($"overlap" / $"n_train" >= ContaminationMin)
      .select($"train_doc", $"eval_doc", $"overlap",
        ratio4("overlap", "n_train").as("containment"))
  }

  val contaminationOracle: String = "WITH " + gramCtes + ",\n" +
    s"""ov AS (SELECT tr.doc_id AS train_doc, ev.doc_id AS eval_doc, count(*) AS overlap
       |  FROM g tr JOIN g ev ON tr.gram = ev.gram
       |  WHERE tr.doc_id >= $EvalSetSize AND ev.doc_id < $EvalSetSize
       |  GROUP BY 1, 2)
       |SELECT train_doc, eval_doc, overlap,
       |  ${ratio4Sql("overlap", "s.n")} AS containment
       |FROM ov JOIN sz s ON s.doc_id = train_doc
       |WHERE overlap / s.n >= $ContaminationMin""".stripMargin

  // --------------------------------------------- bloom decontamination
  /** [[contamination]]'s 100 TB-eval variant: when the eval side is itself
    * too large to broadcast as a raw gram index (a full benchmark-suite
    * union, or a holdout SPLIT that grows with the corpus), its grams are
    * folded into a FIXED-size Bloom bitmap — 2^[[BloomLog2m]] bits =
    * 128 KiB at the default, regardless of eval cardinality — and every
    * training document is scored map-side by the fraction of its grams the
    * filter contains. Emits (train_doc, n_grams, n_hit, hit_rate) for
    * hit_rate >= [[BloomHitMin]].
    *
    * Scale shape: the build side is ONE typed single-row aggregation —
    * each task ORs the positions it sees into its own 128 KiB bitmap
    * buffer (map-side partials), and the final merge ORs one buffer per
    * task — so the only shuffled bytes are nTasks × 128 KiB. The probe is
    * `crossJoin(broadcast(1-row bitmap))` — the same census-exempted
    * scalar-subquery shape as tf-idf — so the corpus never shuffles and
    * the probe stays map-side
    * ([[org.apache.spark.sql.graft.BloomContains]]). (A first cut built
    * the dense array declaratively as `transform(sequence(0, words-1),
    * w -> coalesce(m[w], 0))` over a `map_from_entries` row — correct,
    * but `GetMapValue` is a LINEAR scan per lookup, and 16k lookups ×
    * 16k-entry map = 134M interpreted comparisons on one thread: 8.2 s
    * of the query's 9 s. The Aggregator build measures 0.3 s.)
    *
    * Determinism: positions come from the SAME fnv1a64 → splitmix64 seed
    * stream as MinHash (`mix64(fnv1a64(gram) ^ seed(i)) & (2^log2m - 1)`),
    * so the filter contents — INCLUDING its false positives — are
    * bit-reproducible across JVMs, and the DuckDB twin replicates the
    * probe exactly: "probabilistic" again does not mean "unverifiable". */
  val BloomK = 5
  val BloomLog2m = 20
  val BloomHitMin = 0.3

  def bloomContamination(s: SparkSession, d: String): DataFrame =
    bloomContaminationOf(Tables.documents(s, d), EvalSetSize, BloomK, BloomLog2m)

  /** [[bloomContamination]] over an arbitrary (doc_id, text) frame with a
    * chosen eval prefix and filter geometry. Size `log2m` to the eval
    * side: FP ≈ (1 − e^(−k·n/m))^k at k=5, so 2^20 bits hold ~10k grams
    * at FP ≈ 2e-7 and ~100k at ≈ 8e-3; 2^24 (2 MiB — still trivially
    * broadcastable) holds ~500k grams at ≈ 4e-5 and ~1.5M at ≈ 0.7%.
    * Past that, grow log2m (2^27 = 16 MiB carries ~10M grams at <1%) —
    * an underprovisioned filter inflates hit_rate toward 1 on CLEAN docs
    * and over-drops training data. */
  private[graft] def bloomContaminationOf(
      docs: DataFrame, evalMax: Long, k: Int, log2m: Int): DataFrame =
    bloomProbeOf(docs, bloomBitmapOf(docs, evalMax, k, log2m),
      evalMax, k, log2m)

  /** The BUILD half: the 1-row `bloom` bitmap frame over the eval prefix
    * of `docs`. Also consumed standalone by the streaming admission
    * filter ([[graft.streaming.EventStream.streamingDecontaminateBatch]]),
    * whose static side this is. */
  private[graft] def bloomBitmapOf(
      docs: DataFrame, evalMax: Long, k: Int, log2m: Int): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    bloomBitmapOfGrams(
      gramsOf(docs).filter($"doc_id" < evalMax)
        .select(explode($"grams").as("gram")),
      k, log2m)
  }

  /** [[bloomBitmapOf]]'s build core over a bare (gram STRING) frame —
    * split out so CorpusSpec can load a filter with a KNOWN gram count
    * and measure the realized FP rate against the sizing curve above. */
  private[graft] def bloomBitmapOfGrams(
      grams: DataFrame, k: Int, log2m: Int): DataFrame = {
    val s = grams.sparkSession
    import s.implicits._
    val nWords = 1 << (log2m - 6)
    // resolved here, not in the Aggregator's body: `s.implicits` there
    // would make the task-shipped class capture the session
    val bitsEnc = implicitly[org.apache.spark.sql.Encoder[Array[Long]]]
    // empty-array zero is the no-rows-seen sentinel (the meanAgg idiom) —
    // a task that saw no eval grams ships 0 bytes, not 128 KiB of zeros
    val bloomAgg = new org.apache.spark.sql.expressions.Aggregator[
        Long, Array[Long], Array[Long]] {
      def zero: Array[Long] = Array.emptyLongArray
      def reduce(b: Array[Long], pos: Long): Array[Long] = {
        val acc = if (b.length == 0) new Array[Long](nWords) else b
        acc((pos >>> 6).toInt) |= 1L << (pos & 63L).toInt
        acc
      }
      def merge(x: Array[Long], y: Array[Long]): Array[Long] =
        if (x.length == 0) y
        else if (y.length == 0) x
        else {
          var i = 0
          while (i < x.length) { x(i) |= y(i); i += 1 }
          x
        }
      def finish(r: Array[Long]): Array[Long] =
        if (r.length == 0) new Array[Long](nWords) else r
      def bufferEncoder: org.apache.spark.sql.Encoder[Array[Long]] = bitsEnc
      def outputEncoder: org.apache.spark.sql.Encoder[Array[Long]] = bitsEnc
    }
    grams
      .select(explode(
        GraftFunctions.bloomPositions($"gram", k, log2m)).as("pos"))
      .as[Long]
      .select(bloomAgg.toColumn.name("bloom"))
      .toDF()
  }

  /** The PROBE half: score every non-eval doc of `docs` (batch OR
    * streaming — the probe is stateless and map-side, so the same code
    * serves both) against a 1-row `bloom` bitmap frame. */
  private[graft] def bloomProbeOf(docs: DataFrame, bitmap: DataFrame,
      evalMax: Long, k: Int, log2m: Int): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    gramsOf(docs).filter($"doc_id" >= evalMax)
      .crossJoin(broadcast(bitmap))
      .select($"doc_id".as("train_doc"),
        size($"grams").cast("long").as("n_grams"),
        size(filter($"grams", gm =>
          GraftFunctions.bloomContains($"bloom", gm, k, log2m)))
          .cast("long").as("n_hit"))
      .filter($"n_hit" / $"n_grams" >= BloomHitMin)
      .select($"train_doc", $"n_grams", $"n_hit",
        ratio4("n_hit", "n_grams").as("hit_rate"))
  }

  /** DuckDB twin of [[bloomContamination]]: replays the position stream
    * (fnv → k seeded splitmix64 mixes, mod 2^log2m) through [[SqlU64]],
    * builds the eval position SET (a bitmap and a distinct-set are the
    * same predicate), and declares a gram "contained" iff all
    * [[BloomK]] of its positions are present — false positives and all. */
  val bloomContaminationOracle: String = {
    import SqlU64.{mix, uns}
    val seedList = graft.functions.Hashing.seeds(BloomK)
      .map(uns).mkString("[", ", ", "]")
    val m = 1L << BloomLog2m
    s"""WITH $gramCtes,
       |${SqlU64.fnvCtes("g")},
       |seeds AS (SELECT i AS k, ($seedList)[i+1] AS s
       |          FROM unnest(range($BloomK)) AS t(i)),
       |pos AS (SELECT f.gram, ${mix("xor(f.h, seeds.s)")} % $m AS p
       |  FROM fnv f CROSS JOIN seeds),
       |epos AS (SELECT DISTINCT p.p FROM g JOIN pos p USING (gram)
       |  WHERE g.doc_id < $EvalSetSize),
       |hit AS (SELECT p.gram FROM pos p LEFT JOIN epos e ON p.p = e.p
       |  GROUP BY p.gram HAVING count(*) = count(e.p))
       |SELECT g.doc_id AS train_doc, max(s.n) AS n_grams,
       |  count(h.gram) AS n_hit,
       |  ${ratio4Sql("count(h.gram)", "max(s.n)")} AS hit_rate
       |FROM g JOIN sz s USING (doc_id) LEFT JOIN hit h ON g.gram = h.gram
       |WHERE g.doc_id >= $EvalSetSize
       |GROUP BY 1
       |HAVING count(h.gram) / max(s.n) >= $BloomHitMin""".stripMargin
  }

  // --------------------------------------------------------------- SimHash
  /** 64-bit SimHash per doc (bit-majority over token hashes), near-dup
    * pairs via 4×16-bit band blocking + Hamming distance <= 6. Banding
    * guarantees recall for Hamming <= 3 (pigeonhole: 4 bands, <= 3 differing
    * bits → one band intact) and is a high-recall heuristic to 6. */
  /** Via the native codegen'd SimHash64 expression (same bit-majority
    * formula as [[Hashing.simhash64]], asserted equal in ExpressionsSpec). */
  def simhashes(s: SparkSession, d: String): DataFrame =
    simhashesOf(Tables.documents(s, d))

  private[graft] def simhashesOf(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs.select($"doc_id", GraftFunctions.simhash64(TextOps.tokens).as("simhash"))
  }

  /** Max distinct simhash values a (band, chunk) bucket may hold before it
    * is excluded from candidate generation — see [[simhashValuePairs]]. */
  val SimhashBucketCap = 256L

  /** (key, band, chunk) rows: the integer signature column `sig` cut into
    * `bands` chunks of `bits` bits — the banding of SimHash (here) and of
    * sign-LSH ([[Similarity.annLshTopK]]); two signatures share a bucket
    * in a band iff they agree on all of its bits. */
  private[graft] def bandChunks(df: DataFrame, key: String, sig: String,
      bands: Int, bits: Int): DataFrame =
    df.select(col(key), explode(expr(s"transform(sequence(0, ${bands - 1}), " +
        s"b -> named_struct('band', b, 'chunk', ($sig >> (b * $bits)) & ${(1L << bits) - 1}))"))
        .as("bb"))
      .select(col(key), col("bb.band"), col("bb.chunk"))

  /** Near-dup SIMHASH VALUE pairs: band-join over DISTINCT 64-bit values,
    * with TWO hot-bucket guards. Emits (sh_a, sh_b, hamming) with
    * sh_a < sh_b and 0 < hamming <= 6.
    *
    *   - **identical docs**: m documents sharing one simhash contribute a
    *     single row per band (distinct values), so an identical-document
    *     cluster can never blow up the band join (asserted bounded on a
    *     planted 1,000-copy corpus in DedupSpec).
    *   - **saturated buckets** ([[SimhashBucketCap]]): simhash bits are
    *     bit-MAJORITY votes, so their distribution concentrates — on a
    *     150k-doc rehearsal corpus one 16-bit band had only 1,145 distinct
    *     chunk values (hottest bucket: 1,238 signatures), making the band
    *     join Σ|bucket|² ≈ 100M rows, quadratic in corpus size. Buckets
    *     with more than the cap's distinct values are excluded from
    *     candidate generation: a block shared by hundreds of signatures
    *     carries no discriminative signal, while a genuine hamming ≤ 6
    *     pair still surfaces through its well-distributed bands (the
    *     hamming ≤ 3 pigeonhole guarantee is now conditional on at least
    *     one intact band landing in a cold bucket — on the rehearsal
    *     corpus the low band's hottest bucket held 15 values, so in
    *     practice nothing is lost; the cold-bucket set is itself bounded
    *     by 4·2^16 rows, hence broadcastable forever). The DuckDB oracle
    *     replicates the cap exactly. */
  private[graft] def simhashValuePairs(sh: DataFrame): DataFrame = {
    import sh.sparkSession.implicits._
    val bands = bandChunks(sh.select($"simhash").distinct(), "simhash", "simhash", 4, 16)
    val cold = bands.groupBy($"band", $"chunk")
      .agg(count(lit(1)).as("n")).filter($"n" <= SimhashBucketCap)
      .select($"band", $"chunk")
    val cool = bands.join(broadcast(cold), Seq("band", "chunk"), "left_semi")
    cool.as("a").join(cool.as("b"),
        $"a.band" === $"b.band" && $"a.chunk" === $"b.chunk" &&
          $"a.simhash" < $"b.simhash")
      .select($"a.simhash".as("sh_a"), $"b.simhash".as("sh_b"))
      .distinct()
      .withColumn("hamming",
        bit_count($"sh_a".bitwiseXOR($"sh_b")).cast("int"))
      .filter($"hamming" <= 6)
  }

  def simhashPairs(s: SparkSession, d: String): DataFrame =
    simhashPairsOf(simhashes(s, d))

  /** Doc-level near-dup pairs from [[simhashValuePairs]]: re-attach doc
    * ids to the (small) value-pair set, then add equal-simhash doc pairs
    * through ONE output-bound equi-join on the value (those pairs are the
    * operator's own output — hamming 0 — so the work is linear in the
    * result, with no ×4 band amplification and no distinct over m² rows). */
  private[graft] def simhashPairsOf(sh: DataFrame): DataFrame = {
    import sh.sparkSession.implicits._
    val crossPairs = simhashValuePairs(sh)
      .join(sh.select($"doc_id".as("id_a"), $"simhash".as("sh_a")), "sh_a")
      .join(sh.select($"doc_id".as("id_b"), $"simhash".as("sh_b")), "sh_b")
      .select(least($"id_a", $"id_b").as("doc_a"),
        greatest($"id_a", $"id_b").as("doc_b"), $"hamming")
    val equalPairs = sh.as("a").join(sh.as("b"),
        $"a.simhash" === $"b.simhash" && $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"),
        lit(0).cast("int").as("hamming"))
    crossPairs.union(equalPairs)
  }

  /** DuckDB twin of [[simhashPairs]], end to end: FNV-1a 64 per vocabulary
    * token (byte fold over `hex(encode(w))` nibbles, mod-2^64 HUGEINT
    * arithmetic — verified bit-equal to [[graft.functions.Hashing.fnv1a64]]),
    * per-doc bit-majority signature, the same 4×16-bit band blocking over
    * DISTINCT values, Hamming ≤ 6 via `bit_count(xor(...))` on the signed
    * 64-bit forms, plus the equal-simhash doc pairs at hamming 0. Banding
    * is replicated — not just the Hamming predicate — because a ≤ 6 pair
    * with no intact band is (by design) NOT in the operator's output. */
  val simhashPairsOracle: String = {
    val U = "CAST(18446744073709551616 AS HUGEINT)" // 2^64
    s"""WITH t AS (SELECT doc_id,
       |    ${TextOps.tokensSql} AS toks
       |  FROM documents),
       |tok AS (SELECT doc_id, unnest(toks) AS w FROM t),
       |vocab AS (SELECT DISTINCT w FROM tok),
       |vb AS (SELECT w, hex(encode(w)) AS hx FROM vocab),
       |vbytes AS (SELECT w, list_transform(range(length(hx) // 2),
       |    i -> CAST(16 * (strpos('0123456789ABCDEF', hx[2*i+1]) - 1)
       |         + (strpos('0123456789ABCDEF', hx[2*i+2]) - 1) AS HUGEINT)) AS bs FROM vb),
       |fnv AS (SELECT w, list_reduce(list_prepend(CAST(14695981039346656037 AS HUGEINT), bs),
       |    (h, c) -> ((h - (h % 256) + xor(CAST(h % 256 AS BIGINT), CAST(c AS BIGINT)))
       |               * 1099511628211) % $U) AS h FROM vbytes),
       |dh AS (SELECT tok.doc_id, list(f.h) AS hs FROM tok JOIN fnv f USING (w)
       |       GROUP BY tok.doc_id),
       |sigs AS (SELECT doc_id, CAST(list_sum(list_transform(range(64), j ->
       |    CASE WHEN 2 * len(list_filter(hs,
       |           h -> (h // (1::HUGEINT << CAST(j AS INT))) % 2 = 1)) > len(hs)
       |         THEN (1::HUGEINT << CAST(j AS INT)) ELSE 0::HUGEINT END)) AS HUGEINT) AS sig
       |  FROM dh),
       |sh AS MATERIALIZED (SELECT d.doc_id, coalesce(s.sig, 0::HUGEINT) AS sig
       |       FROM documents d LEFT JOIN sigs s USING (doc_id)),
       |""".stripMargin + simhashBandTailSql
  }

  /** The band/cap/Hamming tail of [[simhashPairsOracle]], reusable by any
    * oracle that materializes an `sh(doc_id, sig HUGEINT)` CTE (the
    * multimodal perceptual-hash twin shares it verbatim): DISTINCT-value
    * 4×16-bit banding, the [[SimhashBucketCap]] exclusion, Hamming ≤ 6 on
    * the signed forms, and the equal-signature doc pairs at hamming 0. */
  // lazy: referenced by simhashPairsOracle above during object init
  private[graft] lazy val simhashBandTailSql: String = {
    val U = "CAST(18446744073709551616 AS HUGEINT)" // 2^64
    s"""vals AS MATERIALIZED (SELECT DISTINCT sig FROM sh),
       |bands AS (SELECT sig, b, (sig // (1::HUGEINT << (16 * b))) % 65536 AS chunk
       |          FROM vals, (SELECT unnest([0, 1, 2, 3]) AS b) bs),
       |cold AS (SELECT b, chunk FROM bands GROUP BY b, chunk
       |         HAVING count(*) <= $SimhashBucketCap),
       |cool AS MATERIALIZED (SELECT bands.* FROM bands SEMI JOIN cold
       |         ON bands.b = cold.b AND bands.chunk = cold.chunk),
       |cand AS (SELECT DISTINCT a.sig AS ua, b.sig AS ub
       |         FROM cool a JOIN cool b
       |           ON a.b = b.b AND a.chunk = b.chunk AND a.sig < b.sig),
       |sgn AS (SELECT sig, CAST(CASE WHEN sig >= CAST(9223372036854775808 AS HUGEINT)
       |         THEN sig - $U ELSE sig END AS BIGINT) AS ss FROM vals),
       |vp AS (SELECT ua, ub, CAST(bit_count(xor(sa.ss, sb.ss)) AS INT) AS hamming
       |       FROM cand JOIN sgn sa ON sa.sig = ua JOIN sgn sb ON sb.sig = ub
       |       WHERE bit_count(xor(sa.ss, sb.ss)) <= 6)
       |SELECT least(x.doc_id, y.doc_id) AS doc_a,
       |       greatest(x.doc_id, y.doc_id) AS doc_b, hamming
       |FROM vp JOIN sh x ON x.sig = vp.ua JOIN sh y ON y.sig = vp.ub
       |UNION ALL
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, 0 AS hamming
       |FROM sh a JOIN sh b ON a.sig = b.sig AND a.doc_id < b.doc_id""".stripMargin
  }

  // ------------------------------------------------- duplicate-span dedup
  /** Substring-level exact dedup (the Lee et al., "Deduplicating Training
    * Data Makes Language Models Better" shape): find every maximal text
    * span whose content also occurs elsewhere in the corpus (another doc
    * OR another position of the same doc), emit (doc_id, span_start,
    * span_end, span_len) — the spans a training pipeline drops while
    * keeping the rest of the document.
    *
    * Formulation (suffix arrays don't distribute; this is the shuffle
    * formulation of the same predicate):
    *   1. every position's [[SpanK]]-char Rabin-Karp rolling hash, via the
    *      codegen'd graft_rollhash + posexplode — (doc, pos, h), linear in
    *      corpus size;
    *   2. hashes with >= 2 occurrences globally mark duplicated k-grams
    *      (the grouped (h → count) aggregate is map-side combined; the
    *      shuffle key is the 8-byte hash, never text);
    *   3. per doc, overlapping/adjacent duplicated k-gram intervals
    *      [pos, pos+k) merge into maximal spans — islands via a
    *      partitioned window (prefix-max of interval ends), bounded by
    *      document length.
    *
    * A shared span of length L >= k yields L-k+1 shared k-grams, so the
    * merged island reconstructs the FULL duplicated span exactly; spans
    * shorter than k are by definition not duplicates at this granularity.
    * 64-bit hash equality stands in for substring equality (collision odds
    * ~n²/2^65 — negligible at any corpus size where n² < 2^60; Lee et al.
    * use exact suffix arrays, this is the blocked/hashed variant).
    * Fully deterministic → DuckDB-oracled (positions + hash fold mod 2^64
    * replicated in SQL). */
  val SpanK = 24

  def duplicateSpans(s: SparkSession, d: String): DataFrame =
    duplicateSpansOf(Tables.documents(s, d))

  private[graft] def duplicateSpansOf(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val pos = positionalHashes(docs)
    val dup = pos.groupBy($"h").agg(count(lit(1)).as("n")).filter($"n" >= 2)
      .select($"h")
    islandSpans(pos.join(dup, "h").select($"doc_id", $"pos"))
      .select($"doc_id", $"span_start", $"span_end",
        ($"span_end" - $"span_start").as("span_len"))
  }

  /** (doc_id, pos, h) for every [[SpanK]]-char position of every doc. */
  private def positionalHashes(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs.select($"doc_id",
      posexplode(org.apache.spark.sql.graft.GraftFunctions
        .rollingHashes($"text", SpanK)).as(Seq("pos", "h")))
  }

  /** Merge duplicated k-gram start positions into maximal disjoint spans
    * [span_start, span_end): a new island starts where pos > max end of
    * all previous intervals in the doc (ends are pos+k, monotone in pos
    * here since all intervals share length k — the prefix-max form stays
    * correct even if that ever changes). */
  private def islandSpans(dupPos: DataFrame): DataFrame = {
    import dupPos.sparkSession.implicits._
    import org.apache.spark.sql.expressions.Window
    val byDoc = Window.partitionBy($"doc_id").orderBy($"pos")
    val prevEnd = max($"pos" + lit(SpanK)).over(
      byDoc.rowsBetween(Window.unboundedPreceding, -1))
    dupPos
      .withColumn("new_island",
        when(prevEnd.isNull || $"pos" > prevEnd, 1).otherwise(0))
      .withColumn("island", sum($"new_island").over(byDoc))
      .groupBy($"doc_id", $"island")
      .agg(min($"pos").as("span_start"), (max($"pos") + lit(SpanK)).as("span_end"))
      .select($"doc_id", $"span_start", $"span_end")
  }

  /** The PRODUCT form of span dedup (what a training pipeline actually
    * writes out): every duplicated span removed EXCEPT its canonical
    * first occurrence — Lee et al.'s ExactSubstr keep-one rule. A k-gram
    * occurrence is redundant iff some occurrence of the same hash exists
    * at a strictly smaller (doc_id, pos); redundant positions merge into
    * spans which are then CUT from the text, and the cleaned documents
    * are emitted as (doc_id, clean_text, n_dropped_chars).
    *
    * Shape: the canonical occurrence per hash is a `min(struct(doc, pos))`
    * AGGREGATE (map-side combined) joined back — NOT a window over the
    * hash partition, which would funnel every occurrence of one hot
    * k-gram (boilerplate separators, license headers) into a single
    * straggler task; span assembly is per-doc segment slicing via a
    * builtin `transform` over the (tiny, sorted) span array — no
    * per-char work, no UDF.
    * Positions are UTF-16 unit offsets (the JVM's charAt basis) while
    * `substring` counts codepoints; equal for all BMP text — the corpus
    * invariant already relied on by the winnow/span oracles. */
  def spanCleanedDocs(s: SparkSession, d: String): DataFrame =
    spanCleanedDocsOf(Tables.documents(s, d))

  private[graft] def spanCleanedDocsOf(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val pos = positionalHashes(docs)
    val canon = pos.groupBy($"h")
      .agg(min(struct($"doc_id", $"pos")).as("c"), count(lit(1)).as("n"))
      .filter($"n" >= 2)
      .select($"h", $"c.doc_id".as("c_doc"), $"c.pos".as("c_pos"))
    val redundant = pos.join(canon, "h")
      .filter(!($"doc_id" === $"c_doc" && $"pos" === $"c_pos"))
      .select($"doc_id", $"pos")
    val spans = islandSpans(redundant)
    val spanArrs = spans.groupBy($"doc_id")
      .agg(sort_array(collect_list(struct(
        $"span_start".as("s"), $"span_end".as("e")))).as("spans"))
    docs.join(spanArrs, Seq("doc_id"), "left")
      .withColumn("clean_text", when($"spans".isNull, $"text").otherwise(
        expr("""array_join(transform(sequence(0, size(spans)), i ->
          substring(text,
            (CASE WHEN i = 0 THEN 0 ELSE element_at(spans, i).e END) + 1,
            (CASE WHEN i = size(spans) THEN length(text)
                  ELSE element_at(spans, i + 1).s END)
              - (CASE WHEN i = 0 THEN 0 ELSE element_at(spans, i).e END))), '')""")))
      .select($"doc_id", $"clean_text",
        (length($"text") - length($"clean_text")).as("n_dropped_chars"))
  }

  /** DuckDB twin of [[spanCleanedDocs]]: same positional hashes, the
    * keep-first rule as a row_number window over the hash (equivalent to
    * the engine's min-struct aggregate: rn > 1 ⟺ not the (doc, pos)
    * minimum), same island merge, and the same gap-slicing reconstruction
    * via list_transform. */
  val spanCleanedDocsOracle: String =
    s"""WITH $spanPosCtes,
       |red AS (SELECT doc_id, pos FROM (
       |    SELECT doc_id, pos,
       |      row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
       |    FROM ph) WHERE rn > 1),
       |${spanIslandCtes("red")},
       |agg AS (SELECT doc_id, list_sort(list({'s': s, 'e': e})) AS sps
       |  FROM sp GROUP BY doc_id),
       |cleaned AS (SELECT d.doc_id, d.text,
       |    CASE WHEN a.sps IS NULL THEN d.text ELSE
       |      array_to_string(list_transform(range(len(a.sps) + 1), i ->
       |        substring(d.text,
       |          (CASE WHEN i = 0 THEN 0 ELSE a.sps[i].e END) + 1,
       |          (CASE WHEN i = len(a.sps) THEN length(d.text)
       |                ELSE a.sps[i+1].s END)
       |            - (CASE WHEN i = 0 THEN 0 ELSE a.sps[i].e END))), '')
       |    END AS clean_text
       |  FROM documents d LEFT JOIN agg a USING (doc_id))
       |SELECT doc_id, clean_text,
       |  length(text) - length(clean_text) AS n_dropped_chars
       |FROM cleaned""".stripMargin

  /** Shared span-oracle fragments — ONE copy of the positional Rabin-Karp
    * fold and of the island-merge SQL, composed by both span twins (the
    * `winnowCtes` pattern), so a SpanK or hash-basis change cannot
    * desynchronize them. */
  // def, not val: referenced by oracle vals both before and after this
  // point in declaration order (a val would still be null for the earlier
  // one at object init)
  private def spanPosCtes: String = {
    val U = "CAST(18446744073709551616 AS HUGEINT)" // 2^64
    s"""cp AS (SELECT doc_id,
       |    list_transform(range(length(text)), i -> CAST(unicode(text[i+1]) AS HUGEINT)) AS cs
       |  FROM documents WHERE length(text) >= $SpanK),
       |ph AS (SELECT doc_id, i AS pos,
       |    list_reduce(list_prepend(0::HUGEINT, cs[i+1:i+$SpanK]),
       |      (h, c) -> (h * 1000003 + c) % $U) AS h
       |  FROM cp, unnest(range(len(cs) - ${SpanK - 1})) AS t(i))""".stripMargin
  }

  /** Island merge over a (doc_id, pos) CTE named `src` → CTEs isl/grp/sp
    * with sp = (doc_id, s, e) merged spans. */
  private def spanIslandCtes(src: String): String =
    s"""isl AS (SELECT doc_id, pos,
       |    CASE WHEN max(pos + $SpanK) OVER (PARTITION BY doc_id ORDER BY pos
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
       |         OR pos > max(pos + $SpanK) OVER (PARTITION BY doc_id ORDER BY pos
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
       |         THEN 1 ELSE 0 END AS new_island
       |  FROM $src),
       |grp AS (SELECT doc_id, pos,
       |    sum(new_island) OVER (PARTITION BY doc_id ORDER BY pos) AS island
       |  FROM isl),
       |sp AS (SELECT doc_id, min(pos) AS s, max(pos) + $SpanK AS e
       |  FROM grp GROUP BY doc_id, island)""".stripMargin

  /** DuckDB twin: same positional hashes (HUGEINT fold mod 2^64 — sign
    * never matters here, only equality), same >= 2 global-occurrence rule,
    * same prefix-max island merge. Positions are 0-based in both. */
  val duplicateSpansOracle: String =
    s"""WITH $spanPosCtes,
       |dup AS (SELECT h FROM ph GROUP BY h HAVING count(*) >= 2),
       |dp AS (SELECT p.doc_id, p.pos FROM ph p SEMI JOIN dup d ON p.h = d.h),
       |${spanIslandCtes("dp")}
       |SELECT doc_id, s AS span_start, e AS span_end, e - s AS span_len
       |FROM sp""".stripMargin

  // ----------------------------------------------------- paragraph dedup
  /** MassiveText-style exact PARAGRAPH dedup (Rae et al. 2021, Gopher
    * §A.1.2): split each page on newlines, keep only the globally FIRST
    * occurrence of every paragraph (ordered by (page_id, idx)), drop all
    * later occurrences, and reassemble the cleaned page — the
    * delimiter-aligned middle ground between [[exactDedup]] (whole doc)
    * and [[spanCleanedDocs]] (arbitrary substrings).
    *
    * Shape: the canonical occurrence per paragraph is a
    * `min(struct(page_id, idx))` AGGREGATE joined back on `md5(para)` —
    * the [[spanCleanedDocsOf]] idiom: map-side combined, no window over
    * the paragraph partition (a boilerplate paragraph duplicated m times
    * would funnel into one straggler task), and the shuffle carries
    * 16-byte digests, never paragraph text twice. Reassembly is a
    * per-page sort + join over that page's own (tiny) kept list.
    * Whitespace-only paragraphs are structure, not content — always kept,
    * never canonical-checked (else every blank line after the first would
    * vanish corpus-wide).
    *
    * The corpus documents are single-line, so the GATE input composes
    * pages FROM them ([[paragraphPages]]): even pages pair docs
    * (2k, 2k+1), odd pages pair (2k-1, 2k), each joined by '\n' — every
    * document's text appears in exactly two pages, so keep-first has real
    * work on every row and the expected drop set is fully determined
    * (the [[exactDedup]] planted-input precedent). */
  def paragraphDedup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    paragraphCleanedPagesOf(
      paragraphPages(Tables.documents(s, d).select($"doc_id", $"text")))
  }

  /** Even/odd offset pairing of consecutive docs into newline-joined
    * pages: page 2k = docs (2k, 2k+1), page 2k+1 = docs (2k-1, 2k). */
  private[graft] def paragraphPages(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val a = docs.select(expr("(doc_id div 2) * 2").as("page_id"),
      $"doc_id", $"text")
    val b = docs.select(expr("((doc_id + 1) div 2) * 2 + 1").as("page_id"),
      $"doc_id", $"text")
    a.union(b).groupBy($"page_id")
      .agg(array_join(transform(
        array_sort(collect_list(struct($"doc_id", $"text"))),
        x => x("text")), "\n").as("text"))
  }

  /** [[paragraphDedup]] over an arbitrary (page_id, text) frame. Emits
    * (page_id, n_paras, n_kept, clean_text); a page whose every paragraph
    * was dropped is emitted with n_kept = 0 and empty clean_text. */
  private[graft] def paragraphCleanedPagesOf(pages: DataFrame): DataFrame = {
    import pages.sparkSession.implicits._
    val paras = pages
      .select($"page_id", posexplode(split($"text", "\n")).as(Seq("idx", "para")))
      .withColumn("h", md5($"para"))
    val canon = paras.groupBy($"h")
      .agg(min(struct($"page_id", $"idx")).as("first"))
    paras.join(canon, "h")
      .withColumn("keep",
        (struct($"page_id", $"idx") === $"first") || trim($"para") === "")
      .groupBy($"page_id")
      .agg(count(lit(1)).as("n_paras"),
        sum(when($"keep", 1L).otherwise(0L)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(when($"keep", struct($"idx", $"para")))),
          x => x("para")), "\n").as("clean_text"))
  }

  /** DuckDB twin of [[paragraphDedup]]: same page composition, keep-first
    * as a row_number window over the paragraph text (equivalent to the
    * engine's min-struct aggregate — rn = 1 ⟺ the (page_id, idx)
    * minimum), same always-keep rule for whitespace-only paragraphs. */
  val paragraphDedupOracle: String =
    """WITH pa AS (SELECT 2 * (doc_id // 2) AS page_id, doc_id, text FROM documents),
      |pb AS (SELECT 2 * ((doc_id + 1) // 2) + 1 AS page_id, doc_id, text FROM documents),
      |pages AS (SELECT page_id, string_agg(text, chr(10) ORDER BY doc_id) AS text
      |  FROM (SELECT * FROM pa UNION ALL SELECT * FROM pb) u GROUP BY page_id),
      |pl AS (SELECT page_id, string_split(text, chr(10)) AS ps FROM pages),
      |paras AS (SELECT page_id, i AS idx, ps[i+1] AS para
      |  FROM pl, unnest(range(len(ps))) AS t(i)),
      |ranked AS (SELECT page_id, idx, para,
      |    row_number() OVER (PARTITION BY para ORDER BY page_id, idx) AS rn
      |  FROM paras),
      |flagged AS (SELECT page_id, idx, para,
      |    (rn = 1 OR trim(para) = '') AS keep FROM ranked)
      |SELECT page_id, count(*) AS n_paras,
      |  count(*) FILTER (WHERE keep) AS n_kept,
      |  coalesce(string_agg(para, chr(10) ORDER BY idx) FILTER (WHERE keep), '')
      |    AS clean_text
      |FROM flagged GROUP BY page_id""".stripMargin

  // ----------------------------------------------------- embedding near-dup
  /** Exact embedding-cosine near-dup pairs (cosine >= 0.35).
    *
    * Shape: a Spark-managed `broadcast()` nested-loop join — the build
    * side is the (bounded) vector table, the stream side scans it per row
    * inside whole-stage codegen via the native [[org.apache.spark.sql
    * .graft.ArrayDotProduct]] expression. No driver-side materialization:
    * Spark builds and ships the broadcast relation itself, so the driver
    * heap is never the limit and the plan contains no driver-fed
    * ExistingRDD. (An earlier form `collect()`ed the matrix to work
    * around interpreted `zip_with`/`aggregate` higher-order functions —
    * the codegen'd dot product removes that need.)
    *
    * Exact pairwise is only valid for bounded N by definition — the
    * 100 TB path is LSH blocking ([[Similarity]]) with this as the
    * candidate verifier. Dot products accumulate left-to-right in double,
    * matching the DuckDB oracle's `list_dot_product` bit-for-bit. */
  def embeddingPairs(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.graft.GraftFunctions.dot
    val vecs = Similarity.withNormOf(s, Similarity.vecsOf(Tables.embeddings(s, d)))
    val a = vecs.select($"vec_id".as("vec_a"), $"v".as("va"), $"norm".as("na"))
    val b = vecs.select($"vec_id".as("vec_b"), $"v".as("vb"), $"norm".as("nb"))
    a.join(broadcast(b), $"vec_a" < $"vec_b")
      .withColumn("sim", dot($"va", $"vb") / ($"na" * $"nb"))
      .filter($"sim" >= 0.35)
      .select($"vec_a", $"vec_b", round($"sim", 4).as("cos_sim"))
  }

  val embeddingPairsOracle: String =
    s"""WITH ${Similarity.normedVecCtes}
      |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
      |  round(list_dot_product(a.v, b.v) / (a.norm * b.norm), 4) AS cos_sim
      |FROM n a JOIN n b ON a.vec_id < b.vec_id
      |WHERE list_dot_product(a.v, b.v) / (a.norm * b.norm) >= 0.35""".stripMargin

  // -------------------------------------------- duplication-aware weights
  /** SoftDeDup-style sampling weights: instead of HARD-dropping duplicated
    * documents ([[keepList]]), DOWN-WEIGHT each document by how much of it
    * is duplicated elsewhere in the corpus — the soft-deduplication recipe
    * (SoftDedup, ACL 2024): training keeps every document but samples
    * common content proportionally less, so boilerplate-heavy near-dups
    * lose mass without a cliff at the dedup threshold.
    *
    * Commonness basis: the document's winnowing fingerprints
    * ([[TextOps.winnowFingerprintsOf]] — the same MOSS sketch the
    * near-dup candidates use), `n_dup_fps` = how many appear in ≥ 2
    * documents. The weight is the integer rational
    * `weight_micros = 10⁶ · n_fps / (n_fps + n_dup_fps)` — 1.0 for a
    * fully-unique document, 0.5 floor when every fingerprint is shared
    * (integer division on BIGINTs: bit-exact in both engines, no
    * round-half knife edge). Documents too short to fingerprint
    * (< k chars) have no defined commonness and are omitted — the
    * consumer's emptiness policy, as with [[Corpus.lmBits]].
    *
    * Scale shape: distinct (doc, fp) → fp document-frequency (two-phase
    * count, map-side combined) → join back on fp (hot boilerplate
    * fingerprints are the case AQE's skew-join split handles) → per-doc
    * count aggregate. The shuffle carries 8-byte
    * fingerprints, never text; no windows, no driver traffic. */
  def softDedupWeights(s: SparkSession, d: String): DataFrame =
    softDedupWeightsOf(Tables.documents(s, d))

  /** [[softDedupWeights]] over an arbitrary (doc_id, text) frame. */
  private[graft] def softDedupWeightsOf(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val fps = graft.operators.TextOps
      .winnowFingerprintsOf(docs).distinct()
    val dfq = fps.groupBy($"fingerprint").agg(count(lit(1)).as("df"))
    fps.join(dfq, "fingerprint")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_fps"),
        sum(when($"df" >= 2, 1L).otherwise(0L)).as("n_dup_fps"))
      .withColumn("weight_micros",
        expr("(1000000 * n_fps) div (n_fps + n_dup_fps)"))
  }

  /** DuckDB twin: the shared winnowing CTEs, distinct (doc, fp), df per
    * fp, same integer-rational weight (`//` ≡ `div` on the positive
    * domain; counts cast from HUGEINT so both sides emit BIGINT). */
  // lazy: TextOps's own init references Dedup (ratio4Sql), so an eager
  // val here would read TextOps.winnowCtes as null when TextOps
  // initializes first (object-init cycle)
  lazy val softDedupWeightsOracle: String =
    s"""WITH ${graft.operators.TextOps.winnowCtes},
       |u AS (SELECT DISTINCT doc_id, fp FROM fps),
       |dfq AS (SELECT fp, count(*) AS df FROM u GROUP BY fp)
       |SELECT u.doc_id, count(*) AS n_fps,
       |  CAST(count(*) FILTER (WHERE dfq.df >= 2) AS BIGINT) AS n_dup_fps,
       |  (1000000 * count(*)) //
       |    (count(*) + count(*) FILTER (WHERE dfq.df >= 2)) AS weight_micros
       |FROM u JOIN dfq USING (fp) GROUP BY u.doc_id""".stripMargin

  // ------------------------------------------- quality-aware canonicals
  /** Quality-aware canonical selection: [[keepList]] keeps each near-dup
    * cluster's MINIMUM doc_id — deterministic but arbitrary. Production
    * curation keeps each cluster's BEST document instead (the highest
    * quality score), so deduplication removes redundancy without also
    * discarding the best-written copy. Same cluster labels
    * ([[dedupClusters]]), same output contract as [[keepList]]
    * (doc_id, cluster, keep), different canonical rule:
    * argmax by (quality sx DESC, doc_id ASC).
    *
    * The argmax is a `min(struct(-sx, doc_id))` AGGREGATE over the
    * cluster — map-side combined, no window over the cluster partition
    * (the [[paragraphDedup]] idiom: a 10⁶-member boilerplate cluster
    * funnels one struct per map partition, not 10⁶ rows into one task).
    * Quality is the integer-space sx ([[TextOps.qualitySxOf]]) so the
    * comparison can never hit the float knife edge; ties break to the
    * smaller doc_id, making the canonical unique and both engines'
    * argmax identical. Unclustered documents keep themselves. */
  def keepBest(s: SparkSession, d: String): DataFrame =
    keepBestOf(Tables.documents(s, d))

  /** [[keepBest]] over an arbitrary (doc_id, text, source) frame. */
  private[graft] def keepBestOf(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val clusters = dedupClustersOf(docs)
    val sx = graft.operators.TextOps.qualitySxOf(docs)
    val labeled = docs.select($"doc_id")
      .join(clusters, Seq("doc_id"), "left")
      .select($"doc_id", coalesce($"cluster", $"doc_id").as("cluster"))
      .join(sx, "doc_id")
    val best = labeled.groupBy($"cluster")
      .agg(min(struct((-$"sx").as("nsx"), $"doc_id")).as("b"))
      .select($"cluster", $"b.doc_id".as("best_id"))
    labeled.join(best, "cluster")
      .select($"doc_id", $"cluster", ($"doc_id" === $"best_id").as("keep"))
  }

  // ------------------------------------------- fuzzy decontamination
  /** Eval near-twin detector: the fuzzy-dedup-against-the-test-set pass
    * (the GPT-3/Llama appendix recipe) — training documents that are
    * symmetric NEAR-DUPLICATES of an eval document, n-gram Jaccard ≥
    * [[FuzzyContamJaccard]]. Emits (train_doc, eval_doc, jac).
    *
    * Relation to [[contamination]]: J ≤ containment always (the Jaccard
    * union ≥ either side), so at equal thresholds this flags a SUBSET of
    * the containment scan — the near-twins worth hard-dropping outright,
    * vs containment's broader gram-leakage report (which also catches an
    * eval doc embedded in a larger training doc, where J is diluted).
    * What the fuzzy pass buys at scale is the CANDIDATE structure: the
    * broadcast is 32 band hashes per eval doc instead of its full gram
    * index — constant-factor smaller per doc, and candidate matching is
    * one equi-join on an 8-byte bucket instead of per-gram intersection
    * counting across the whole corpus.
    *
    * Shape: the [[minhashLshPairs]] machinery made ASYMMETRIC — band
    * bucket hashes on both sides, but the eval side is FIXED-size by
    * definition (benchmark suites don't grow with the corpus), so its
    * band table is explicitly `broadcast()`: the training corpus streams
    * map-side against it, never shuffling for candidate generation at
    * all (the [[contamination]] broadcast class). Candidates are then
    * exact-verified on full gram sets, so every emitted score is exact
    * and the DuckDB twin is the bounded train×eval Jaccard join — the
    * operator hash-matches like its symmetric parent (banding at
    * J ≥ 0.5 with 32 bands recovers candidates with recall measured 1.0,
    * TextSpec/DedupSpec precedent). */
  val FuzzyContamJaccard = 0.5

  def fuzzyContamination(s: SparkSession, d: String): DataFrame =
    fuzzyContaminationOf(Tables.documents(s, d), EvalSetSize)

  /** [[fuzzyContamination]] over an arbitrary frame / eval prefix: the
    * kernel's LSH leg with the broadcast eval-side candidate source. */
  private[graft] def fuzzyContaminationOf(
      docs: DataFrame, evalMax: Long): DataFrame = {
    import docs.sparkSession.implicits._
    lshJaccardPairsOf(docs, FuzzyContamJaccard) { bands =>
      bands.filter($"doc_id" >= evalMax).select($"doc_id".as("doc_a"), $"bucket")
        .join(broadcast(bands.filter($"doc_id" < evalMax)
          .select($"doc_id".as("doc_b"), $"bucket")), "bucket")
        .select($"doc_a", $"doc_b").distinct()
    }.select($"doc_a".as("train_doc"), $"doc_b".as("eval_doc"), $"jac")
  }

  /** DuckDB twin: exact symmetric Jaccard over the bounded train×eval
    * gram join — the fuzzy candidates are recall machinery, the emitted
    * set is exactly this. */
  val fuzzyContaminationOracle: String =
    s"""WITH $gramCtes,
       |cand AS (SELECT DISTINCT tr.doc_id AS doc_a, ev.doc_id AS doc_b
       |  FROM g tr JOIN g ev ON tr.gram = ev.gram
       |  WHERE tr.doc_id >= $EvalSetSize AND ev.doc_id < $EvalSetSize),
       |${scoredPairsCtes("", "g", "gram", FuzzyContamJaccard, "jac", "fz")}
       |SELECT doc_a AS train_doc, doc_b AS eval_doc, jac FROM fz""".stripMargin

  // ------------------------------------------------- ingest-batch dedup
  /** Incremental-ingest admission check: before a NEW crawl batch joins
    * the corpus, score each batch document by how much of its content the
    * EXISTING corpus already carries — |g(doc) ∩ g(existing)| / |g(doc)|
    * over word-3-grams — and flag `is_dup` at ≥ [[IngestDupMin]]. This is
    * the incremental form of deduplication: a production pipeline never
    * re-deduplicates 100 TB per crawl; it gates each increment against
    * what is already there. Batch stand-in rule: doc_id ≡ [[IngestResidue]]
    * (mod [[IngestMod]]) — the shape, not the id rule, is the operator
    * (the [[contamination]] convention).
    *
    * Scale shape: the BATCH is small by definition (one crawl increment),
    * so its (doc, gram) pairs are explicitly `broadcast()` and the
    * existing corpus streams map-side against them — the corpus is
    * SCANNED but never shuffled. Only the hit pairs (bounded by the batch
    * gram count) shuffle for the distinct + per-doc count. The dup flag
    * compares in integer space (2·known ≥ n) — no round-half knife edge.
    * Batch docs too short to gram (< 3 tokens) are omitted — the
    * [[Corpus.lmBits]] emptiness policy. */
  val IngestMod = 10L
  val IngestResidue = 7L
  /** Flag threshold 0.5, applied as the integer comparison 2·known ≥ n. */
  val IngestDupMin = 0.5

  def ingestBatchDedup(s: SparkSession, d: String): DataFrame =
    ingestBatchDedupOf(Tables.documents(s, d))

  /** [[ingestBatchDedup]] over an arbitrary (doc_id, text) frame. */
  private[graft] def ingestBatchDedupOf(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val g = gramsOf(docs)
    val isBatch = $"doc_id" % IngestMod === IngestResidue
    val batchPairs = g.filter(isBatch)
      .select($"doc_id".as("b_doc"), explode($"grams").as("gram"))
    val existing = g.filter(!isBatch).select(explode($"grams").as("gram"))
    val hits = existing
      .join(broadcast(batchPairs), "gram")
      .select($"b_doc", $"gram").distinct()
      .groupBy($"b_doc").agg(count(lit(1)).as("n_known"))
    g.filter(isBatch).select($"doc_id", size($"grams").as("n_grams"))
      .join(hits.withColumnRenamed("b_doc", "doc_id"), Seq("doc_id"), "left")
      .withColumn("n_known", coalesce($"n_known", lit(0L)))
      .select($"doc_id", $"n_grams", $"n_known",
        ratio4("n_known", "n_grams").as("known_ratio"),
        ($"n_known" * 2 >= $"n_grams").as("is_dup"))
  }

  /** DuckDB twin: the shared gram CTEs, known-gram counts against the
    * existing side's distinct gram union, same integer-space flag. */
  val ingestBatchDedupOracle: String = "WITH " + gramCtes + ",\n" +
    s"""kn AS (SELECT b.doc_id, count(DISTINCT b.gram) AS n_known
       |  FROM g b JOIN (SELECT DISTINCT gram FROM g
       |                 WHERE doc_id % $IngestMod <> $IngestResidue) e
       |    USING (gram)
       |  WHERE b.doc_id % $IngestMod = $IngestResidue
       |  GROUP BY b.doc_id)
       |SELECT s.doc_id, s.n AS n_grams,
       |  CAST(coalesce(kn.n_known, 0) AS BIGINT) AS n_known,
       |  ${ratio4Sql("coalesce(kn.n_known, 0)", "s.n")} AS known_ratio,
       |  (2 * coalesce(kn.n_known, 0) >= s.n) AS is_dup
       |FROM sz s LEFT JOIN kn ON kn.doc_id = s.doc_id
       |WHERE s.doc_id % $IngestMod = $IngestResidue""".stripMargin

  // ---------------------------------------- semantic decontamination
  /** Embedding-space eval contamination: training vectors whose cosine
    * similarity to ANY eval vector reaches [[SemanticContamMin]] — the
    * semantic complement of the lexical decontamination family
    * ([[contamination]] exact grams / [[bloomContamination]] /
    * [[fuzzyContamination]] near-twins): paraphrases and translations of
    * an eval item share no word n-grams at all, and only an embedding
    * scan catches them. Emits (train_vec, eval_vec, cos_sim) — the audit
    * pairs, not just a flag, so a human can review each hit.
    *
    * Eval set: vec_id < [[EvalSetSize]] (the decontamination family's
    * shared stand-in rule; the shape, not the id rule, is the operator).
    *
    * Scale shape: the eval side is FIXED-size by definition (benchmark
    * suites don't grow with the corpus), so it is explicitly
    * `broadcast()` and the training corpus streams map-side against it —
    * the [[contamination]] broadcast class. Per-vector cost is
    * |eval| · dim codegen'd dot products ([[org.apache.spark.sql.graft.ArrayDotProduct]]);
    * unlike the all-pairs [[embeddingPairs]] verifier this is linear in
    * the corpus, so the broadcast NLJ IS the scale path here. For eval
    * sets too large to scan densely, [[Similarity.annLshTopK]]'s banded
    * candidates compose in front (the fuzzy-pass structure). */
  val SemanticContamMin = 0.35

  def semanticContamination(s: SparkSession, d: String): DataFrame =
    semanticContaminationOf(Tables.embeddings(s, d), EvalSetSize)

  /** [[semanticContamination]] over an arbitrary (vec_id, embedding)
    * frame / eval prefix (the scale rehearsal's knob). */
  private[graft] def semanticContaminationOf(
      vecs0: DataFrame, evalMax: Long): DataFrame = {
    val s = vecs0.sparkSession
    import s.implicits._
    import org.apache.spark.sql.graft.GraftFunctions.dot
    val vecs = Similarity.withNormOf(s, Similarity.vecsOf(vecs0))
    val ev = vecs.filter($"vec_id" < evalMax)
      .select($"vec_id".as("eval_vec"), $"v".as("ve"), $"norm".as("ne"))
    val tr = vecs.filter($"vec_id" >= evalMax)
      .select($"vec_id".as("train_vec"), $"v".as("vt"), $"norm".as("nt"))
    tr.crossJoin(broadcast(ev))
      .withColumn("sim", dot($"vt", $"ve") / ($"nt" * $"ne"))
      .filter($"sim" >= SemanticContamMin)
      .select($"train_vec", $"eval_vec", round($"sim", 4).as("cos_sim"))
  }

  /** DuckDB twin: `list_dot_product` accumulates left-to-right in double
    * exactly like the engine's codegen'd dot ([[embeddingPairs]]
    * precedent), so the 4dp cosines agree bit-for-bit. */
  val semanticContaminationOracle: String =
    s"""WITH ${Similarity.normedVecCtes}
       |SELECT t.vec_id AS train_vec, ev.vec_id AS eval_vec,
       |  round(list_dot_product(t.v, ev.v) / (t.norm * ev.norm), 4) AS cos_sim
       |FROM n t JOIN n ev ON t.vec_id >= $EvalSetSize AND ev.vec_id < $EvalSetSize
       |WHERE list_dot_product(t.v, ev.v) / (t.norm * ev.norm)
       |  >= $SemanticContamMin""".stripMargin

  /** DuckDB twin: the recursive-closure cluster labels + the shared
    * quality CTEs (prefixed `q` — the gram CTEs already claim `t`), best
    * per cluster via the same (−sx, doc_id) minimum. */
  lazy val keepBestOracle: String =
    s"""WITH RECURSIVE $closureCtes,
       |$clustersCte,
       |${graft.operators.TextOps.qualityCtesPrefixed("q")},
       |sx AS (SELECT doc_id, CAST(round(quality_score * 10000) AS BIGINT) AS sx
       |  FROM qsc),
       |lab AS (SELECT d.doc_id, coalesce(c.cluster, d.doc_id) AS cluster, sx.sx
       |  FROM documents d
       |  LEFT JOIN clusters c ON d.doc_id = c.doc_id
       |  JOIN sx ON sx.doc_id = d.doc_id),
       |bs AS (SELECT cluster, max(sx) AS msx FROM lab GROUP BY cluster),
       |best AS (SELECT lab.cluster, min(lab.doc_id) AS best_id
       |  FROM lab JOIN bs ON lab.cluster = bs.cluster AND lab.sx = bs.msx
       |  GROUP BY lab.cluster)
       |SELECT lab.doc_id, lab.cluster,
       |  (lab.doc_id = best.best_id) AS keep
       |FROM lab JOIN best USING (cluster)""".stripMargin

  // ------------------------------------------- contamination report rollup
  /** Per-document contamination REPORT: the four decontamination passes'
    * verdicts (exact gram containment, Bloom probe, MinHash fuzzy
    * near-twin, embedding-cosine semantic) rolled into one row per
    * flagged document plus an agreement count — the artifact a release
    * review actually reads, and the cross-method disagreement surface
    * (a doc flagged semantically but by no lexical pass is a paraphrase;
    * lexically but not semantically, boilerplate). `train_vec` ids are
    * the documents' ids by the corpus convention (embeddings row i
    * embeds document i).
    *
    * Scale shape: each pass emits only its FLAGGED set (tiny vs the
    * corpus), and the rollup is three full outer joins over those sets —
    * the corpus-sized work happens once inside each already-oracled
    * pass, nothing new is quadratic, and the report is bounded by the
    * union of flags. */
  def contaminationReport(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    def flagged(df: DataFrame, idCol: String, flag: String): DataFrame =
      df.select(col(idCol).cast("long").as("doc_id")).distinct()
        .withColumn(flag, lit(true))
    flagged(contamination(s, d), "train_doc", "f_exact")
      .join(flagged(bloomContamination(s, d), "train_doc", "f_bloom"),
        Seq("doc_id"), "full")
      .join(flagged(fuzzyContamination(s, d), "train_doc", "f_fuzzy"),
        Seq("doc_id"), "full")
      .join(flagged(semanticContamination(s, d), "train_vec", "f_semantic"),
        Seq("doc_id"), "full")
      .select($"doc_id",
        coalesce($"f_exact", lit(false)).as("f_exact"),
        coalesce($"f_bloom", lit(false)).as("f_bloom"),
        coalesce($"f_fuzzy", lit(false)).as("f_fuzzy"),
        coalesce($"f_semantic", lit(false)).as("f_semantic"))
      .withColumn("n_methods",
        ($"f_exact".cast("int") + $"f_bloom".cast("int") +
          $"f_fuzzy".cast("int") + $"f_semantic".cast("int")).cast("long"))
  }

  /** DuckDB twin of [[contaminationReport]]: the four already-pinned
    * oracles as derived tables (nested WITH), full-outer-joined on the
    * coalescing USING key. */
  val contaminationReportOracle: String = {
    def leg(oracle: String, idCol: String, flag: String): String =
      s"(SELECT DISTINCT CAST($idCol AS BIGINT) AS doc_id, true AS $flag FROM ($oracle))"
    s"""SELECT doc_id,
       |  coalesce(f_exact, false) AS f_exact,
       |  coalesce(f_bloom, false) AS f_bloom,
       |  coalesce(f_fuzzy, false) AS f_fuzzy,
       |  coalesce(f_semantic, false) AS f_semantic,
       |  CAST(coalesce(CAST(f_exact AS INT), 0) + coalesce(CAST(f_bloom AS INT), 0)
       |     + coalesce(CAST(f_fuzzy AS INT), 0) + coalesce(CAST(f_semantic AS INT), 0)
       |    AS BIGINT) AS n_methods
       |FROM ${leg(contaminationOracle, "train_doc", "f_exact")} ex
       |FULL JOIN ${leg(bloomContaminationOracle, "train_doc", "f_bloom")} bl USING (doc_id)
       |FULL JOIN ${leg(fuzzyContaminationOracle, "train_doc", "f_fuzzy")} fz USING (doc_id)
       |FULL JOIN ${leg(semanticContaminationOracle, "train_vec", "f_semantic")} sm USING (doc_id)""".stripMargin
  }

  // ------------------------------------------- sketch-vs-exact recall report
  /** Jaccard thresholds for the recall sweep, in ×10⁴ integer micros of
    * the 4-dp rounded pair jaccard (threshold comparison can never split
    * an ulp). 5000 = both operators' own emission floor. */
  val SketchRecallThresholds: Seq[Int] = Seq(5000, 6000, 7000, 8000, 9000, 10000)

  /** The dedup-quality monitor — [[Similarity.annRecallReport]]'s sibling
    * for the near-dup family: per jaccard threshold, how many true pairs
    * the exact df-pruned n-gram path ([[ngramJaccardPairs]]) and the
    * banded MinHash-LSH path ([[minhashLshPairs]]) each emit, their
    * overlap, and each side's exclusive find. Both paths verify
    * candidates with the EXACT jaccard, so disagreement is purely
    * CANDIDATE GENERATION — each side's documented blind spot made
    * measurable: LSH's s-curve misses borderline-jaccard pairs
    * (recall ≈ 0.87 at j = 0.5, → 1 as j → 1), while the MOSS df-prune
    * misses pairs inside large near-identical clusters whose shared
    * grams went hot. The table an operator reads before trusting either
    * path alone at a new corpus shape.
    *
    * Scale shape: both legs are the already-shipped operators (their
    * scale stories apply verbatim); the report adds one full-outer join
    * on the pair key and a |thresholds|-bounded aggregate over the
    * exploded flags. Deterministic: both legs are md5/FNV-seeded. */
  def sketchRecallReport(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
    def micros(df: DataFrame, flag: String) = df.select($"doc_a", $"doc_b",
      expr("CAST(round(jac * 10000) AS BIGINT)").as(flag))
    val joined = micros(ngramJaccardPairsOf(docs), "jx_exact")
      .join(micros(minhashLshPairsOf(docs), "jx_lsh"),
        Seq("doc_a", "doc_b"), "full_outer")
    joined.crossJoin(broadcast(SketchRecallThresholds.toDF("t_micros")))
      .groupBy($"t_micros")
      .agg(
        sum(when($"jx_exact" >= $"t_micros", 1L).otherwise(0L)).as("n_exact"),
        sum(when($"jx_lsh" >= $"t_micros", 1L).otherwise(0L)).as("n_lsh"),
        sum(when($"jx_exact" >= $"t_micros" && $"jx_lsh" >= $"t_micros", 1L)
          .otherwise(0L)).as("n_common"))
      .select($"t_micros", $"n_exact", $"n_lsh", $"n_common",
        ($"n_exact" - $"n_common").as("only_exact"),
        ($"n_lsh" - $"n_common").as("only_lsh"),
        expr("CASE WHEN n_exact = 0 THEN 1000000L " +
          "ELSE n_common * 1000000L div n_exact END").as("lsh_recall_micros"))
      .orderBy($"t_micros")
  }

  /** DuckDB twin of [[sketchRecallReport]] — both shipped oracles as
    * derived tables (the [[contaminationReportOracle]] nesting idiom),
    * same integer-micros sweep. */
  val sketchRecallReportOracle: String = {
    val ts = SketchRecallThresholds.mkString("[", ", ", "]")
    s"""WITH exact_p AS MATERIALIZED (SELECT doc_a, doc_b,
       |    CAST(round(jac * 10000) AS BIGINT) AS jx_exact
       |  FROM ($ngramJaccardOracle)),
       |-- the LSH leg is HOISTED (prefixed CTEs), not nested: DuckDB 1.0
       |-- drops MATERIALIZED hints inside a derived table, re-inlining
       |-- the signature chain ~6x (30 s vs 6 s measured at sf0.01)
       |${minhashLshCtes("mh_")},
       |lsh_p AS MATERIALIZED (SELECT doc_a, doc_b,
       |    CAST(round(jac * 10000) AS BIGINT) AS jx_lsh
       |  FROM mh_pairs),
       |j AS (SELECT coalesce(e.doc_a, l.doc_a) AS doc_a,
       |    coalesce(e.doc_b, l.doc_b) AS doc_b, e.jx_exact, l.jx_lsh
       |  FROM exact_p e FULL JOIN lsh_p l
       |    ON e.doc_a = l.doc_a AND e.doc_b = l.doc_b),
       |sweep AS (SELECT j.*, t.t_micros
       |  FROM j CROSS JOIN (SELECT unnest($ts) AS t_micros) t),
       |agg AS (SELECT t_micros,
       |    CAST(sum(CASE WHEN jx_exact >= t_micros THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
       |    CAST(sum(CASE WHEN jx_lsh >= t_micros THEN 1 ELSE 0 END) AS BIGINT) AS n_lsh,
       |    CAST(sum(CASE WHEN jx_exact >= t_micros AND jx_lsh >= t_micros
       |      THEN 1 ELSE 0 END) AS BIGINT) AS n_common
       |  FROM sweep GROUP BY t_micros)
       |SELECT t_micros, n_exact, n_lsh, n_common,
       |  n_exact - n_common AS only_exact,
       |  n_lsh - n_common AS only_lsh,
       |  CASE WHEN n_exact = 0 THEN 1000000
       |       ELSE n_common * 1000000 // n_exact END AS lsh_recall_micros
       |FROM agg ORDER BY t_micros""".stripMargin
  }

  // ----------------------------------------- entity resolution (record linkage)
  /** Maximum edit distance for an ER candidate pair to be reported as a
    * match. */
  val ErMaxDist = 1

  /** Blocked entity resolution over the customer master — record linkage
    * (Fellegi &amp; Sunter 1969; Christen 2012's blocking survey): find
    * customer records that are probably the SAME real-world entity under
    * a typo'd name. The pipeline shape every MDM / CRM dedup runs:
    * block on cheap structured attributes, generate candidates, score
    * with an edit distance.
    *
    * Matching contract: candidates share (c_nationkey, c_mktsegment) and
    * the SAME name length, and match when Levenshtein ≤ [[ErMaxDist]] —
    * i.e. a single-character typo (substitution); insert/delete variants
    * are a different blocking design, excluded BY CONTRACT. Integer-exact
    * edit distance, identical DP in Spark and DuckDB, no similarity
    * float anywhere.
    *
    * Scale shape — the deletion-neighborhood candidate join (SymSpell's
    * trick), NOT the in-block quadratic: every record emits one key per
    * character position — (block, len, position, name with that
    * position deleted) — and two same-length names share a key IFF they
    * differ in at most that one position. The candidate set is therefore
    * provably EXACTLY the Hamming ≤ 1 set (no misses, no extras beyond
    * identical names), whatever the block-size distribution — immune to
    * the constant-prefix degeneration that kills half-key splitting on
    * ID-shaped names ("Customer#…" shares its first half corpus-wide).
    * Cost is len·n keyed rows and per-key fan-out = the size of one
    * wildcard cluster, so the join tracks near-duplicate DENSITY, not
    * the block-size square. The first cut of this operator compared
    * every in-block pair: 363 s at sf1 (90 M Levenshtein calls over
    * 1,200-record blocks); this form does the identical output in
    * seconds. The Levenshtein is computed ONCE per deduped candidate as
    * the final verification. */
  def erBlockedMatches(s: SparkSession, d: String): DataFrame =
    erBlockedMatchesOf(Tables.customer(s, d))

  private[graft] def erBlockedMatchesOf(cust: DataFrame): DataFrame = {
    val s = cust.sparkSession
    import s.implicits._
    val keyed = cust
      .select($"c_custkey", $"c_name", $"c_nationkey", $"c_mktsegment")
      .withColumn("len", length($"c_name"))
      .select($"c_custkey", $"c_name", $"c_nationkey", $"c_mktsegment", $"len",
        explode(expr("sequence(1, len)")).as("pos"))
      .withColumn("variant", expr(
        "concat(substring(c_name, 1, pos - 1), substring(c_name, pos + 1))"))
    def side(p: String) = keyed.select($"c_custkey".as(s"${p}_key"),
      $"c_name".as(s"${p}_name"), $"c_nationkey".as("nationkey"),
      $"c_mktsegment".as("segment"), $"len", $"pos", $"variant")
    side("a").join(side("b"),
        Seq("nationkey", "segment", "len", "pos", "variant"))
      .filter($"a_key" < $"b_key")
      .select($"a_key", $"b_key", $"a_name", $"b_name",
        $"nationkey", $"segment")
      .distinct() // identical names share every positional key — once
      .withColumn("lev_dist", levenshtein($"a_name", $"b_name").cast("long"))
      .filter($"lev_dist" <= ErMaxDist)
      .select($"a_key", $"b_key", $"nationkey", $"segment", $"lev_dist")
  }

  /** DuckDB twin of [[erBlockedMatches]] — the definitional in-block
    * quadratic (the slow truth the pigeonhole join must equal): same
    * block key, same length-equality contract, canonical order, integer
    * Levenshtein threshold. */
  val erBlockedMatchesOracle: String =
    s"""SELECT a.c_custkey AS a_key, b.c_custkey AS b_key,
       |  a.c_nationkey AS nationkey, a.c_mktsegment AS segment,
       |  CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS lev_dist
       |FROM customer a JOIN customer b
       |  ON a.c_nationkey = b.c_nationkey
       |  AND a.c_mktsegment = b.c_mktsegment
       |  AND length(a.c_name) = length(b.c_name)
       |  AND a.c_custkey < b.c_custkey
       |WHERE levenshtein(a.c_name, b.c_name) <= $ErMaxDist""".stripMargin
}
