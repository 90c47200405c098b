package graft

import graft.operators.{Corpus, Dedup}

class CorpusSpec extends SparkTestBase {
  import spark.implicits._

  test("source stats partition the corpus: doc counts sum to the table size") {
    val stats = Corpus.sourceStats(spark, sf)
    val total = stats.select("n_docs").as[Long].collect().sum
    assert(total === graft.core.Tables.documents(spark, sf).count())
  }

  test("mix weights: normalized to 1, monotone in source size, flattened by alpha<1") {
    val rows = Corpus.mixWeights(spark, sf)
      .select("n_docs", "weight").as[(Long, Double)].collect()
    assert(math.abs(rows.map(_._2).sum - 1.0) < 1e-3)
    // alpha=0.7 damps the spread: max/min weight ratio < max/min doc ratio
    val (maxN, minN) = (rows.map(_._1).max, rows.map(_._1).min)
    val (maxW, minW) = (rows.map(_._2).max, rows.map(_._2).min)
    if (minN > 0 && minW > 0 && maxN > minN)
      assert(maxW / minW < maxN.toDouble / minN)
    // bigger source never gets a smaller weight
    rows.sortBy(_._1).sliding(2).foreach {
      case Array((_, w1), (_, w2)) => assert(w1 <= w2 + 1e-9)
      case _ =>
    }
  }

  test("tfidf top terms: <= k per doc, contiguous ranks, scores descend") {
    val rows = Corpus.tfidfTopTerms(spark, sf)
      .select("doc_id", "rank", "tfidf").as[(Long, Int, Double)].collect()
    rows.groupBy(_._1).foreach { case (doc, rs) =>
      assert(rs.length <= Corpus.TfidfTopK, s"doc $doc has ${rs.length} terms")
      assert(rs.map(_._2).sorted.toSeq === (1 to rs.length), s"doc $doc ranks")
      val byRank = rs.sortBy(_._2).map(_._3)
      byRank.sliding(2).foreach {
        case Array(a, b) => assert(a >= b - 1e-9, s"doc $doc scores not descending")
        case _ =>
      }
    }
  }

  test("contamination: orientation and threshold hold; self-contained eval prefix excluded") {
    val rows = Dedup.contamination(spark, sf)
      .select("train_doc", "eval_doc", "containment").as[(Long, Long, Double)].collect()
    assert(rows.nonEmpty, "sf corpus is known to contain contaminated pairs")
    rows.foreach { case (t, e, c) =>
      assert(t >= Dedup.EvalSetSize && e < Dedup.EvalSetSize)
      assert(c >= Dedup.ContaminationMin && c <= 1.0 + 1e-9)
    }
  }

  test("bloom contamination: rate dominates exact union-containment, no false negatives") {
    import org.apache.spark.sql.functions._
    // exact per-train-doc fraction of grams present in the eval gram UNION —
    // the bloom can only ADD (false positives), never subtract
    val g = graft.core.Tables.documents(spark, sf)
      .select($"doc_id",
        org.apache.spark.sql.graft.GraftFunctions.wordGrams($"text", 3).as("grams"))
      .filter(size($"grams") > 0)
      .select($"doc_id", explode($"grams").as("gram"))
    val evalGrams = g.filter($"doc_id" < Dedup.EvalSetSize)
      .select("gram").distinct().withColumn("hitx", lit(1))
    val exact = g.filter($"doc_id" >= Dedup.EvalSetSize)
      .join(evalGrams, Seq("gram"), "left")
      .groupBy($"doc_id")
      .agg((count($"hitx") / count(lit(1))).as("exact_rate"))
      .as[(Long, Double)].collect().toMap
    val bloom = Dedup.bloomContamination(spark, sf)
      .select("train_doc", "hit_rate").as[(Long, Double)].collect().toMap
    assert(bloom.nonEmpty, "sf corpus is known to contain contaminated docs")
    bloom.foreach { case (d, r) =>
      assert(d >= Dedup.EvalSetSize)
      assert(r >= Dedup.BloomHitMin && r <= 1.0 + 1e-9)
      assert(r >= exact(d) - 1e-3, s"doc $d bloom rate $r below exact ${exact(d)}")
    }
    exact.collect { case (d, r) if r >= Dedup.BloomHitMin => d }.foreach { d =>
      assert(bloom.contains(d), s"exact-contaminated doc $d missing from bloom flags")
    }
  }

  test("bloom filter realized FP rate at load matches the sizing curve; overload over-drops") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.graft.GraftFunctions
    // the sizing curve at Dedup.bloomContaminationOf is ANALYTIC — this
    // test loads a real 2^20-bit filter and measures the curve's two
    // regimes: the documented ~100k-gram load (predicted FP ≈ 8e-3) and a
    // 10x overload (predicted FP ≈ 0.96), where every CLEAN doc's
    // hit_rate crosses BloomHitMin — the over-drop failure mode of an
    // underprovisioned filter
    val k = Dedup.BloomK
    val log2m = Dedup.BloomLog2m
    val m = (1L << log2m).toDouble
    val nProbes = 100000L
    def predictedFp(n: Long): Double = math.pow(1 - math.exp(-k * n / m), k)
    def realizedFp(n: Long): Double = {
      // member/probe grams live in disjoint string spaces, so every probe
      // hit is a genuine false positive
      val members = spark.range(n).select(concat(lit("member_"), $"id").as("gram"))
      val bitmap = Dedup.bloomBitmapOfGrams(members, k, log2m)
      val misses = members.crossJoin(broadcast(bitmap))
        .filter(!GraftFunctions.bloomContains($"bloom", $"gram", k, log2m)).count()
      assert(misses === 0L, s"bloom must have ZERO false negatives (load $n)")
      val fps = spark.range(nProbes)
        .select(concat(lit("probe_"), $"id").as("gram"))
        .crossJoin(broadcast(bitmap))
        .filter(GraftFunctions.bloomContains($"bloom", $"gram", k, log2m)).count()
      fps.toDouble / nProbes
    }
    val (fp1, pred1) = (realizedFp(100000L), predictedFp(100000L))
    assert(fp1 >= pred1 / 2 && fp1 <= pred1 * 2,
      s"realized FP $fp1 outside 2x of predicted $pred1 at 100k grams")
    val (fp2, pred2) = (realizedFp(1000000L), predictedFp(1000000L))
    assert(fp2 >= pred2 / 2 && fp2 <= math.min(1.0, pred2 * 2),
      s"realized FP $fp2 outside 2x of predicted $pred2 at 1M grams")
    assert(fp2 > Dedup.BloomHitMin,
      "overloaded filter must demonstrate the over-drop regime: FP above the flag threshold")
  }

  test("unigram-LM bits/token: hand-computed probabilities, empty doc omitted") {
    import graft.operators.Corpus
    // corpus "a a b" + "b c": c(a)=2 c(b)=2 c(c)=1, N=5, V=3 ->
    // p(a)=p(b)=3/8, p(c)=2/8 with add-one smoothing
    val docs = Seq((1L, "a a b"), (2L, "b c"), (3L, "")).toDF("doc_id", "text")
    val got = Corpus.lmBitsOf(docs)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    def bits(p: Double) = -(math.log(p) / math.log(2))
    def r4(x: Double) = BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got(1L) === ((1L, 3L, r4((bits(3 / 8.0) * 2 + bits(3 / 8.0)) / 3))))
    assert(got(2L) === ((2L, 2L, r4((bits(3 / 8.0) + bits(2 / 8.0)) / 2))))
    assert(!got.contains(3L)) // zero tokens -> no defined score
    // a common-token doc must score strictly fewer bits than a rare-token doc
    assert(got(1L)._3 < got(2L)._3)
  }

  test("ccnet buckets: per-lang quartile split, head scores below tail, modes agree") {
    val docs = graft.core.Tables.documents(spark, sf)
    val got = Corpus.ccnetBucketsOf(docs, exact = true)
      .select("doc_id", "lang", "bits_per_token", "bucket")
      .as[(Long, String, Double, String)].collect()
    assert(got.nonEmpty)
    got.groupBy(_._2).foreach { case (lang, rows) =>
      val byBucket = rows.groupBy(_._4).view.mapValues(_.map(_._3)).toMap
      // every bucket label is one of the three
      assert(byBucket.keySet.subsetOf(Set("head", "middle", "tail")), s"$lang labels")
      // ordering: max(head) <= min(middle-or-tail) etc — the cut points
      // partition the score line
      for (h <- byBucket.get("head"); m <- byBucket.get("middle"))
        assert(h.max <= m.min, s"$lang: head above middle")
      for (m <- byBucket.get("middle"); t <- byBucket.get("tail"))
        assert(m.max <= t.min, s"$lang: middle above tail")
      // quartile mass: head and tail each get >= ~15% of the language
      // (exact 25% only without ties; ties at the cut inflate head/tail)
      val n = rows.length.toDouble
      if (n >= 20) {
        assert(byBucket.getOrElse("head", Array.empty[Double]).length / n >= 0.15, s"$lang head mass")
        assert(byBucket.getOrElse("tail", Array.empty[Double]).length / n >= 0.15, s"$lang tail mass")
      }
    }
    // the one-pass approx mode: approx_percentile returns a MEMBER value
    // where exact `percentile` interpolates between two members, so a doc
    // whose score sits inside that gap can legitimately flip ONE step at a
    // cut. Assert the honest contract: >= 99% agreement, and any flip is
    // adjacent (head<->middle or middle<->tail, never head<->tail)
    val approx = Corpus.ccnetBucketsOf(docs, exact = false)
      .select("doc_id", "bucket").as[(Long, String)].collect().toMap
    val exactM = got.map(r => r._1 -> r._4).toMap
    val flips = exactM.collect {
      case (id, b) if approx(id) != b => (id, b, approx(id))
    }
    assert(flips.size <= math.max(1, exactM.size / 100),
      s"approx mode diverged on ${flips.size}/${exactM.size} docs: $flips")
    flips.foreach { case (id, a, b) =>
      assert(Set(a, b) != Set("head", "tail"),
        s"doc $id jumped two buckets ($a -> $b): not a cut-boundary artifact")
    }
  }

  test("BM25 top-k: hand-computed score, length normalization, IDF rarity, no-hit omitted") {
    // query = (spark, vector, query); "query" never occurs — a dead query
    // term must not perturb anything. N=5 docs, avgdl = (3+6+2+2+2)/5 = 3.
    val docs = Seq(
      (0L, "spark spark filter"),                          // tf(spark)=2, dl=3
      (1L, "spark filter filter filter filter filter"),    // tf=1, dl=6
      (2L, "vector filter"),                               // rare term, dl=2
      (3L, "filter filter"),                               // no query term
      (4L, "spark filter")                                 // tf=1, dl=2
    ).toDF("doc_id", "text")
    val got = Corpus.bm25TopKOf(docs)
      .as[(Long, Double)].collect()
    val byDoc = got.toMap
    assert(!byDoc.contains(3L), "doc with no query term must not score")
    assert(got.map(_._1).toSet == Set(0L, 1L, 2L, 4L))
    // hand-computed doc 0: df(spark)=3 of N=5 →
    // idf = ln((5-3+0.5)/(3+0.5)+1); tf=2, dl=3=avgdl →
    // s = idf * 2*(k1+1) / (2 + k1*(0.25+0.75)) = idf * 4.4 / 3.2
    val (k1, b) = (Corpus.Bm25K1, Corpus.Bm25B)
    def r4(x: Double) = BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val idfSpark = math.log((5 - 3 + 0.5) / (3 + 0.5) + 1)
    assert(byDoc(0L) === r4(idfSpark * (2 * (k1 + 1)) / (2 + k1 * (1 - b + b * 3.0 / 3.0))))
    // length normalization: same tf(spark)=1, dl 2 vs 6 — shorter doc wins
    assert(byDoc(4L) > byDoc(1L), "shorter doc with equal tf must score higher")
    // IDF: vector (df=1) vs spark (df=3), same tf=1 and same dl=2 — the
    // rarer term carries the higher score
    assert(byDoc(2L) > byDoc(4L), "rarer query term must outrank commoner one")
    // output arrives in rank order: ×10⁴ integer desc, doc_id tie-break
    val ranks = got.map { case (id, s) => (math.round(s * 10000), -id) }
    assert(ranks.sameElements(ranks.sortBy { case (bx, nid) => (-bx, -nid) }),
      "rows must arrive in (score desc, doc_id asc) rank order")
    assert(got.length <= Corpus.Bm25TopK)
    // the per-query path (hybrid's lexical leg): a two-query term frame
    // over the same corpus. Query 0 = doc 0 asks (spark, vector); query 2
    // = doc 2 asks (filter, spark). df is corpus-wide: spark 3, vector 1,
    // filter 5. Each (query, doc) score is the hand formula summed over
    // the query's terms; a doc never scores against its own query
    val terms = Seq((0L, "spark"), (0L, "vector"), (2L, "filter"), (2L, "spark"))
      .toDF("query_id", "word")
    val perQuery = Corpus.hybridLexOf(docs, terms)
      .select("query_id", "doc_id", "bm25").as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    val dl = Map(0L -> 3.0, 1L -> 6.0, 2L -> 2.0, 3L -> 2.0, 4L -> 2.0)
    val tf = Map(
      0L -> Map("spark" -> 2, "filter" -> 1), 1L -> Map("spark" -> 1, "filter" -> 5),
      2L -> Map("vector" -> 1, "filter" -> 1), 3L -> Map("filter" -> 2),
      4L -> Map("spark" -> 1, "filter" -> 1))
    val df = Map("spark" -> 3, "vector" -> 1, "filter" -> 5)
    def w(word: String, doc: Long): Double = tf(doc).get(word).fold(0.0) { t =>
      math.log((5 - df(word) + 0.5) / (df(word) + 0.5) + 1) *
        (t * (k1 + 1)) / (t + k1 * (1 - b + b * dl(doc) / 3.0))
    }
    val queries = Map(0L -> Seq("spark", "vector"), 2L -> Seq("filter", "spark"))
    val want = for {
      (q, ws) <- queries; doc <- dl.keys
      if doc != q && ws.exists(tf(doc).contains)
    } yield (q, doc) -> r4(ws.map(w(_, doc)).sum)
    assert(perQuery.keySet === want.keySet)
    want.foreach { case (k, v) => assert(perQuery(k) === v, s"(query, doc) = $k") }
    assert(!perQuery.contains((0L, 0L)) && !perQuery.contains((2L, 2L)),
      "a query doc must not retrieve itself")
  }

  test("DSIR weights: target-token docs outrank, hand-computed ratio, empty doc omitted") {
    import org.apache.spark.sql.functions._
    // target slice (src0) speaks "wiki"; the rest speaks "web". A doc made
    // of the target's token must get a strictly higher importance weight
    // than a doc made of the background's token.
    val docs = Seq(
      (0L, "wiki wiki", "src0"), (1L, "wiki web", "src0"),
      (2L, "web web", "srcX"), (3L, "web web", "srcX"),
      (4L, "wiki", "srcX"), (5L, "web", "srcX"), (6L, "", "srcX")
    ).toDF("doc_id", "text", "source")
    val got = Corpus.dsirWeightsOf(docs)
      .select("doc_id", "n_tokens", "dsir_logw")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(!got.contains(6L), "zero-token doc must be omitted")
    // hand-computed: tokens N=10; wiki count 4 (3 in the target slice),
    // web count 6 (1 in the target slice), target slice N_tgt=4. B=1024
    // buckets; wiki and web land in distinct buckets (md5-spread), so
    // lr(tok) = ln(((c_tgt+1)/(4+B)) / ((c_all+1)/(10+B)))
    val B = Corpus.DsirBuckets.toDouble
    def lr(cTgt: Long, cAll: Long) =
      math.log(((cTgt + 1) / (4 + B)) / ((cAll + 1) / (10 + B)))
    def r4(x: Double) = BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val (lrWiki, lrWeb) = (lr(3, 4), lr(1, 6))
    assert(got(4L)._3 === r4(lrWiki))
    assert(got(5L)._3 === r4(lrWeb))
    assert(got(0L)._3 === r4(2 * lrWiki))
    assert(lrWiki > lrWeb, "target-distinctive token must carry the higher log-ratio")
    assert(got(0L)._3 > got(2L)._3, "all-target doc must outrank all-background doc")
    // negative-zero normalization: a weight that rounds to zero must come
    // out as +0.0 (sf1 surfaced DuckDB −0.0 vs Spark +0.0 on two docs; the
    // `+ 0.0` in operator and oracle pins both to +0.0)
    got.values.filter(_._3 == 0.0).foreach { r =>
      assert(1.0 / r._3 == Double.PositiveInfinity,
        s"doc ${r._1}: dsir_logw is −0.0, normalization regressed")
    }
    // the model table the scoring join broadcasts is bounded by B buckets
    // regardless of corpus size — the operator's 100 TB contract
    val nBuckets = docs.filter(length($"text") > 0)
      .select(explode(split($"text", " ")).as("w"))
      .select((conv(substring(md5($"w"), 1, 8), 16, 10).cast("long") % Corpus.DsirBuckets).as("b"))
      .distinct().count()
    assert(nBuckets <= Corpus.DsirBuckets)
  }

  test("cross-source overlap: shared >=23-char substring links sources, disjoint stay unlinked") {
    // winnowing guarantee (k=8, w=16): any shared substring of length
    // >= w + k - 1 = 23 yields a shared fingerprint. srcA and srcB share a
    // 40-char run; srcC is character-disjoint from both (digits vs letters)
    // so it can share no 8-gram, hence no fingerprint.
    val shared = "the quick brown fox jumps over the lazy dog today"
    val docs = Seq(
      (0L, s"alpha beta gamma $shared", "srcA"),
      (1L, s"$shared delta epsilon zeta", "srcB"),
      (2L, "0123456789 9876543210 1029384756 5647382910", "srcC")
    ).toDF("doc_id", "text", "source")
    val got = Corpus.crossSourceOverlapOf(docs)
      .select("source_a", "source_b", "n_shared", "containment")
      .as[(String, String, Long, Double)].collect()
    val byPair = got.map(r => (r._1, r._2) -> r).toMap
    assert(byPair.contains(("srcA", "srcB")), "sources sharing a long run must be linked")
    val (_, _, nShared, containment) = byPair(("srcA", "srcB"))
    assert(nShared >= 1)
    assert(containment > 0 && containment <= 1.0 + 1e-9)
    assert(!byPair.contains(("srcA", "srcC")) && !byPair.contains(("srcB", "srcC")),
      "character-disjoint source must share no fingerprint")
    // pairs are canonical (a < b) and unique
    got.foreach { case (a, b, _, _) => assert(a < b) }
    assert(got.map(r => (r._1, r._2)).distinct.length === got.length)
  }

  test("token budget: largest-remainder seats, exact sum, zero-mass source omitted") {
    // toks: a=(40+3)/4=10, b=11, c=5 → total 26; floors 384615/423076/192307
    // leave 2 seats; remainders 10/24/18 seat b then c
    val docs = Seq(("a", 40L), ("b", 41L), ("c", 19L), ("z", 0L))
      .toDF("source", "n_chars")
    val got = Corpus.tokenBudgetOf(docs)
      .select("source", "toks", "alloc_tokens", "epochs_milli")
      .as[(String, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(got.keySet === Set("a", "b", "c"), "zero-mass source must be omitted")
    assert(got("a") === (("a", 10L, 384615L, 38461500L)))
    assert(got("b") === (("b", 11L, 423077L, 38461545L)))
    assert(got("c") === (("c", 5L, 192308L, 38461600L)))
    assert(got.values.map(_._3).sum === Corpus.BudgetTokens,
      "allocations must sum exactly to the budget")
  }

  test("token budget on the sf corpus sums exactly to the budget with proportional shares") {
    val rows = Corpus.tokenBudget(spark, sf)
      .select("toks", "alloc_tokens").as[(Long, Long)].collect()
    assert(rows.map(_._2).sum === Corpus.BudgetTokens)
    val tot = rows.map(_._1).sum.toDouble
    rows.foreach { case (toks, alloc) =>
      val ideal = Corpus.BudgetTokens * toks / tot
      assert(math.abs(alloc - ideal) <= 1.0,
        s"largest-remainder allocation must sit within one seat of the ideal share")
    }
  }

  test("epoch plan: uniform round 1 RE-SATURATES a source, round 2 takes the excess") {
    // toks: s=10, l=100, m=40 → tot 150, budget 300, share0 100
    // caps 30/300/120 → round 0: 30(capped)/100/100; surplus 70, 2 unsat.
    // Uniform round 1 (+35 each): m's headroom is only 20 → m caps at 120
    //   and 15 tokens stay in the pool — the re-saturation case a single
    //   round loses (old single-round plan gave l=163, m=106, sum 299).
    // Uniform round 2: surplus 15, 1 unsat → l += 15 → 150. Sum = 300 EXACT.
    val docs = Seq(("s", 40L), ("l", 397L), ("m", 157L)).toDF("source", "n_chars")
    val got = Corpus.epochPlanOf(docs)
      .as[(String, Long, Long, Long, Boolean)].collect().map(r => r._1 -> r).toMap
    assert(got("s") === (("s", 10L, 30L, 3000L, true)))
    assert(got("l") === (("l", 100L, 150L, 1500L, false)))
    assert(got("m") === (("m", 40L, 120L, 3000L, true)))
    assert(got.values.map(_._3).sum === 300L, "multi-round water-fill is exact")
  }

  test("epoch plan: flooring stall resolved by the proportional mop + remainder finish") {
    // toks: a=60, b=65, c=5 → tot 130, budget 260, share0 86
    // caps 180/195/15 → round 0: 86/86/15(capped); surplus 73, 2 unsat.
    // Uniform round 1 (+36 each): a=122, b=122; surplus 1.
    // Uniform round 2: 1 div 2 = 0 — the flooring STALL a uniform-only
    //   water-fill never escapes. Proportional mop: 1*58//131 = 1*73//131
    //   = 0, still stalled. Largest-remainder finish: residual 1 goes to
    //   the deepest headroom (b, head 73) → b=123. Sum = 260 EXACT.
    val docs = Seq(("a", 240L), ("b", 260L), ("c", 20L)).toDF("source", "n_chars")
    val got = Corpus.epochPlanOf(docs)
      .as[(String, Long, Long, Long, Boolean)].collect().map(r => r._1 -> r).toMap
    assert(got("a") === (("a", 60L, 122L, 2033L, false)))
    assert(got("b") === (("b", 65L, 123L, 1892L, false)))
    assert(got("c") === (("c", 5L, 15L, 3000L, true)))
    assert(got.values.map(_._3).sum === 260L, "remainder finish exhausts the budget")
  }

  test("epoch plan on the sf corpus: invariants hold for every source") {
    val rows = Corpus.epochPlan(spark, sf)
      .as[(String, Long, Long, Long, Boolean)].collect()
    assert(rows.nonEmpty)
    val budget = Corpus.EpochBudgetFactor * rows.map(_._2).sum
    val capacity = Corpus.EpochCap * rows.map(_._2).sum
    assert(rows.map(_._3).sum === math.min(budget, capacity),
      "multi-round water-fill must exhaust the budget exactly")
    rows.foreach { case (src, toks, alloc, epochs, capped) =>
      assert(alloc <= Corpus.EpochCap * toks, s"$src exceeds the repetition cap")
      assert(epochs === 1000L * alloc / toks, s"$src epoch arithmetic")
      assert(epochs <= 1000L * Corpus.EpochCap)
      assert(capped === (alloc == Corpus.EpochCap * toks), s"$src capped flag")
    }
  }

  test("temperature sampling: hand-computed α=0.3 shares, rare-language boost > 1") {
    // lang a: 9 docs x 100 toks (n_chars 397 -> (397+3) div 4), lang b: 1 x 100
    val docs = (1 to 9).map(i => (i.toLong, "a", 397L)) :+ ((10L, "b", 397L))
    val got = Corpus.samplingTemperatureOf(
        docs.toDF("doc_id", "lang", "n_chars"))
      .select("lang", "toks", "p_data", "p_sample", "boost")
      .as[(String, Long, Double, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    // replay the operator's own association order on the same doubles
    val (pa, pb) = (900.0 / 1000.0, 100.0 / 1000.0)
    val (qa, qb) = (math.pow(pa, Corpus.TempAlpha), math.pow(pb, Corpus.TempAlpha))
    val qt = qa + qb
    def r(x: Double, n: Int) =
      BigDecimal(x).setScale(n, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got("a") === (("a", 900L, r(pa, 6), r(qa / qt, 6), r(qa / qt / pa, 4))))
    assert(got("b") === (("b", 100L, r(pb, 6), r(qb / qt, 6), r(qb / qt / pb, 4))))
    // α<1 flattens: the rare language is up-sampled, the common one down
    assert(got("b")._5 > 1.0 && got("a")._5 < 1.0)
    // sampling probabilities renormalize to 1
    assert(math.abs(got.values.map(_._4).sum - 1.0) < 1e-5)
  }

  test("temperature sampling on the sf corpus: shares sum to 1, smaller lang ⇒ larger boost") {
    val rows = Corpus.samplingTemperature(spark, sf)
      .select("toks", "p_sample", "boost").as[(Long, Double, Double)].collect()
    assert(rows.nonEmpty)
    assert(math.abs(rows.map(_._2).sum - 1.0) < 1e-4)
    // boost is strictly anti-monotone in token mass (p^(α-1) with α<1)
    val byToks = rows.sortBy(_._1)
    byToks.sliding(2).foreach {
      case Array((t1, _, b1), (t2, _, b2)) if t1 < t2 => assert(b1 > b2)
      case _ =>
    }
  }

  test("dataset card: exact per-source masses, shares, langs, and keep rates") {
    val good = (Seq("the", "a", "of", "and") ++ (1 to 46).map(i => s"word$i")).mkString(" ")
    val docs = Seq(
      (1L, good, "en", "sa", good.length.toLong),
      (2L, "tiny", "en", "sa", 4L),
      (3L, "small doc", "de", "sb", 9L),
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = Corpus.datasetCardOf(docs)
      .as[(String, Long, Long, Long, Long, Long, Long)]
      .collect().map(r => r._1 -> r).toMap
    val tokGood = (good.length + 3) / 4
    val massA = tokGood + 1 // "tiny" = 4 chars → 1 token
    val massB = 3           // 9 chars → ceil-quarter 3
    val total = massA + massB
    assert(got("sa") === ("sa", 2L, massA.toLong, 1L,
      massA.toLong * 1000000 / total, (good.length + 4) / 2L, 500000L))
    assert(got("sb") === ("sb", 1L, massB.toLong, 1L,
      massB.toLong * 1000000 / total, 9L, 0L))
  }

  test("NB quality classifier equals the in-JVM multinomial-NB reference") {
    // labels are the gopher rules: docs 1-2 pass (50 words, stopwords,
    // sane lengths), doc 3 is too short, doc 4 has no stopwords, doc 5
    // is empty (zero tokens → omitted from the output entirely)
    val doc1 = (Seq("the", "a", "of", "and") ++ (1 to 46).map(i => s"word$i")).mkString(" ")
    val doc2 = (Seq("the", "is", "it", "to") ++ (1 to 46).map(i => s"term$i")).mkString(" ")
    val doc3 = "junk doc"
    val doc4 = (1 to 50).map(i => s"zz$i").mkString(" ")
    val docs = Seq((1L, doc1), (2L, doc2), (3L, doc3), (4L, doc4), (5L, ""))
    val df = docs.toDF("doc_id", "text")

    // in-JVM replica of the exact formula (same hash, same smoothing,
    // same rounding)
    val B = Corpus.DsirBuckets
    def bucket(w: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(w.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 8), 16) % B
    }
    val stop = Set("the", "a", "of", "and", "to", "in", "is", "it")
    def label(text: String): Boolean = {
      val toks = text.split("\\s+").filter(_.nonEmpty)
      val n = toks.length.toLong
      val sumLen = toks.map(_.length.toLong).sum
      val nSym = text.count(_ == '#').toLong +
        (text.length - text.replace("...", "").length) / 3
      val nAlpha = toks.count(_.exists(c => c >= 'a' && c <= 'z')).toLong
      val nStop = stop.count(toks.contains).toLong
      n >= 50 && n <= 100000 && sumLen >= n * 3 && sumLen <= n * 10 &&
        nSym * 10 <= n && nAlpha * 5 >= n * 4 && nStop >= 2
    }
    val toks = docs.flatMap { case (id, t) =>
      t.split("\\s+").filter(_.nonEmpty).map(w => (id, label(t), bucket(w)))
    }
    val cPos = toks.filter(_._2).groupBy(_._3).view.mapValues(_.size.toLong).toMap
    val cNeg = toks.filterNot(_._2).groupBy(_._3).view.mapValues(_.size.toLong).toMap
    val (nPos, nNeg) = (cPos.values.sum.toDouble, cNeg.values.sum.toDouble)
    val dPos = docs.count(d => label(d._2)).toDouble
    val dNeg = docs.size - dPos
    def lw(b: Long): Double =
      math.log(((cPos.getOrElse(b, 0L) + 1) / (nPos + B)) /
        ((cNeg.getOrElse(b, 0L) + 1) / (nNeg + B)))
    val want = toks.groupBy(_._1).map { case (id, ts) =>
      val raw = math.log((dPos + 1) / (dNeg + 1)) + ts.groupBy(_._3).map {
        case (b, g) => g.size * lw(b)
      }.sum
      id -> (ts.size.toLong,
        BigDecimal(raw).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }

    val got = Corpus.nbQualityOf(df)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(got.keySet === Set(1L, 2L, 3L, 4L)) // doc 5 omitted
    want.foreach { case (id, (n, score)) =>
      assert(got(id)._1 === n, s"doc $id token count")
      assert(math.abs(got(id)._2 - score) < 1e-6, s"doc $id score")
    }
    // a passing doc's evidence outweighs a failing doc's: the classifier
    // reproduces the rule polarity it was trained on
    assert(got(1L)._2 > got(3L)._2 && got(2L)._2 > got(4L)._2)
  }

  test("RM3 expansion: monotone vs the seed query, ranks well-formed, deterministic") {
    val rm3 = Corpus.rm3Expand(spark, sf)
      .as[(Long, Double)].collect()
    assert(rm3.length === Corpus.Bm25TopK)
    // the emitted set must be exactly the TopK best by (score, doc_id) —
    // no doc outside the cut may beat a doc inside it
    val worst = rm3.map(r => (math.round(r._2 * 10000), -r._1)).min
    // every BM25 term contribution is non-negative (idf = ln(x + 1) >= 0),
    // so adding expansion terms can only RAISE a doc's score: any doc in
    // both result sets must score at least its seed-only value
    assert(worst._1 > 0 || rm3.nonEmpty) // scores non-negative by BM25
    val seed = Corpus.bm25TopK(spark, sf)
      .as[(Long, Double)].collect().toMap
    val both = rm3.filter(r => seed.contains(r._1))
    assert(both.nonEmpty, "expansion wiped out every seed result")
    both.foreach { case (d, s) =>
      assert(s >= seed(d) - 1e-6, s"doc $d scored below its seed-only value")
    }
    // and expansion must actually do something on this corpus: at least
    // one common doc gains score from the added terms
    assert(both.exists { case (d, s) => s > seed(d) + 1e-6 },
      "no doc gained score - expansion terms matched nothing")
    val again = Corpus.rm3Expand(spark, sf).as[(Long, Double)].collect()
    assert(again.toSet === rm3.toSet)
  }

  test("length histogram: buckets partition the corpus, ranges are exact powers of two") {
    val rows = Corpus.lengthHistogram(spark, sf)
      .as[(String, Int, Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    // bucket ranges: [2^b, 2^(b+1)-1], zero bucket is [-1 -> 0,0]
    rows.foreach { case (src, b, nd, nt, lo, hi) =>
      assert(nd > 0, s"$src/$b: empty bucket emitted")
      if (b < 0) { assert(lo === 0L && hi === 0L && nt === 0L) }
      else {
        assert(lo === (1L << b) && hi === (1L << (b + 1)) - 1, s"$src/$b range")
        // token mass must be attainable by nd docs inside the range
        assert(nt >= nd * lo && nt <= nd * hi, s"$src/$b: mass outside range")
      }
    }
    // the histogram partitions the corpus: doc counts sum to the table size
    assert(rows.map(_._3).sum ===
      graft.core.Tables.documents(spark, sf).count())
    // cross-check one source against an in-JVM recount
    val docs = graft.core.Tables.documents(spark, sf)
      .select("source", "text").as[(String, String)].collect()
    val want = docs.groupBy(_._1).map { case (src, ds) =>
      src -> ds.groupBy { case (_, t) =>
        val n = t.split("\\s+").count(_.nonEmpty)
        if (n == 0) -1 else 63 - java.lang.Long.numberOfLeadingZeros(n.toLong)
      }.map { case (b, g) => b -> g.size }
    }
    rows.groupBy(_._1).foreach { case (src, rs) =>
      val got = rs.map(r => r._2 -> r._3.toInt).toMap
      assert(got === want(src), s"$src: bucket counts diverge from recount")
    }
  }

  test("hybrid RRF: fusion arithmetic exact, legs agree with their sources, deterministic") {
    import graft.operators.Similarity
    val fused = Corpus.hybridRrfTopK(spark, sf)
      .as[(Long, Long, Int, Int, Long, Int)].collect()
    assert(fused.nonEmpty)
    // per query: <= HybridTopK rows, contiguous fused ranks from 1,
    // fused scores non-increasing, no self-retrieval
    fused.groupBy(_._1).foreach { case (q, rows) =>
      assert(rows.length <= Corpus.HybridTopK)
      val byRank = rows.sortBy(_._6)
      assert(byRank.map(_._6).toSeq === (1 to rows.length))
      byRank.sliding(2).foreach {
        case Array(a, b) => assert(a._5 >= b._5, s"query $q: fused score order")
        case _ =>
      }
      rows.foreach { r => assert(r._2 != q, s"query $q retrieved itself") }
    }
    // RRF arithmetic: score is exactly the sum of the two leg
    // contributions computed from the recorded ranks (0 = leg absent)
    fused.foreach { case (q, d, lr, dr, micros, _) =>
      val want = (if (lr > 0) 1000000L / (Corpus.RrfK + lr) else 0L) +
        (if (dr > 0) 1000000L / (Corpus.RrfK + dr) else 0L)
      assert(micros === want, s"($q,$d): rrf micros")
      assert(lr > 0 || dr > 0, s"($q,$d): fused doc in neither leg")
    }
    // the dense leg's recorded ranks must be the IVF operator's ranks
    val ivf = Similarity.annIvfTopK(spark, sf)
      .select("query_id", "neighbor_id", "rank")
      .as[(Long, Long, Int)].collect()
      .map { case (q, n, r) => (q, n) -> r }.toMap
    fused.filter(_._4 > 0).foreach { case (q, d, _, dr, _, _) =>
      assert(ivf.get((q, d)).contains(dr), s"($q,$d): dense rank mismatch")
    }
    val again = Corpus.hybridRrfTopK(spark, sf)
      .as[(Long, Long, Int, Int, Long, Int)].collect()
    assert(again.toSet === fused.toSet)
  }

  test("n-gram diversity: every (source, n) row reconciles against an in-JVM recount") {
    import spark.implicits._
    val got = Corpus.ngramDiversity(spark, sf)
      .as[(String, Int, Long, Long, Long)].collect()
      .map { case (s, n, t, d, r) => (s, n) -> ((t, d, r)) }.toMap
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("source", "text").as[(String, String)].collect()
    val want = scala.collection.mutable.Map[(String, Int), (Long, scala.collection.mutable.Set[String])]()
    docs.foreach { case (src, text) =>
      val t = text.split("\\s+").filter(_.nonEmpty)
      for (n <- 1 to 3; g <- t.sliding(n).filter(_.length == n).map(_.mkString(" ")))
        want.get((src, n)) match {
          case Some((tot, set)) => want((src, n)) = (tot + 1, set += g)
          case None => want((src, n)) = (1L, scala.collection.mutable.Set(g))
        }
    }
    assert(got.keySet === want.keySet)
    want.foreach { case (k, (tot, set)) =>
      val (t, d, r) = got(k)
      assert(t === tot, s"$k total")
      assert(d === set.size.toLong, s"$k distinct")
      assert(r === d * 1000000L / t, s"$k ttr")
    }
  }

  test("phrase match: in-JVM scan agrees exactly on a constructed corpus and the sf corpus") {
    import spark.implicits._
    // constructed corpus: overlapping matches, match at position 0, repeats
    val docs = Seq(
      (1L, "slow hash batch slow hash batch"),
      (2L, "x slow hash batch y"),
      (3L, "slow hash slow batch"),
      (4L, "")).toDF("doc_id", "text")
    val got = Corpus.phraseMatchOf(docs, Corpus.PhraseQuery)
      .as[(Long, Long, Int)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got === Map(1L -> ((2L, 0)), 2L -> ((1L, 1))))
    // sf corpus: recount every doc (the phrase may or may not occur at
    // this sf; agreement must hold either way - sf0.01's gate oracle
    // covers the non-vacuous case with 8 occurrences in 5 docs)
    val ph = Corpus.PhraseQuery
    val sfGot = Corpus.phraseMatch(spark, sf)
      .as[(Long, Long, Int)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    val sfWant = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").as[(Long, String)].collect()
      .flatMap { case (id, text) =>
        val t = text.split("\\s+").filter(_.nonEmpty).toSeq
        val hits = (0 to t.length - ph.length)
          .filter(i => t.slice(i, i + ph.length) == ph)
        if (hits.nonEmpty) Some(id -> ((hits.size.toLong, hits.min))) else None
      }.toMap
    assert(sfGot === sfWant)
  }

  test("Kneser-Ney: hand-computed model, full-vocab probability mass sums to 1") {
    import spark.implicits._
    val docs = Seq((1L, "a b a b"), (2L, "b a")).toDF("doc_id", "text")
    // big(a,b)=2, big(b,a)=2, c1=2 both, n1fw=1 both, cont=1 both, B=2:
    // p = (2-0.75)/2 + 0.75*1/2*(1/2) = 0.625 + 0.1875 = 0.8125 (exact)
    val m = Corpus.knModelOf(docs)
      .select($"w1", $"w2", $"p").as[(String, String, Double)].collect()
      .map { case (a, b, p) => (a, b) -> p }.toMap
    assert(m.keySet === Set(("a", "b"), ("b", "a")))
    assert(math.abs(m(("a", "b")) - 0.8125) < 1e-12)
    assert(math.abs(m(("b", "a")) - 0.8125) < 1e-12)
    // scorer on the same corpus: every bigram has p = 0.8125, so each doc
    // scores exactly -log2(0.8125) bits rounded to 4dp
    val bits = BigDecimal(-math.log(0.8125) / math.log(2))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val sc = Corpus.knScoreOf(docs)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(sc === Map(1L -> ((3L, bits)), 2L -> ((1L, bits))))
    // smoothing identity on the sf corpus: per context w1, observed mass
    // plus the discount mass routed through the continuation distribution
    // over UNobserved followers must be exactly 1
    val full = Corpus.knModelOf(spark.read.parquet(s"$sf/documents.parquet"))
      .select($"w1", $"p", $"c1", $"n1fw", $"cont", $"b_total")
      .as[(String, Double, Long, Long, Long, Long)].collect()
    assert(full.nonEmpty)
    full.groupBy(_._1).foreach { case (w1, rows) =>
      val d = Corpus.KnDiscount
      val c1 = rows.head._3.toDouble
      val n1 = rows.head._4.toDouble
      val b = rows.head._6.toDouble
      val contObs = rows.map(_._5).sum.toDouble
      val mass = rows.map(_._2).sum + d * n1 / c1 * ((b - contObs) / b)
      assert(math.abs(mass - 1.0) < 1e-9, s"context '$w1': mass $mass")
    }
  }

  test("domain JS: zero for an on-blend source, 1 bit for a disjoint one, hand value between") {
    import spark.implicits._
    def docs(rows: (String, String)*) = rows.zipWithIndex
      .map { case ((src, text), i) => (i.toLong, text, "en", src, text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    def js(df: org.apache.spark.sql.DataFrame) = Corpus.domainJsOf(df)
      .as[(String, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    // two sources with IDENTICAL unigram distributions: each is also
    // identical to the blend, so JS = 0 for both
    val same = js(docs("a" -> "x y", "b" -> "x y"))
    assert(same("a") === 0.0 && same("b") === 0.0)
    // fully disjoint vocabularies at equal mass: each source sits at the
    // two-source maximum vs the 50/50 BLEND (not 1 bit — the blend still
    // contains the source at half mass): per source, present term
    // 0.5*1*log2(2/1.5) + 0.5*0.5*log2(1/1.5), absent mass 0.25
    val dExp = 0.5 * math.log(2.0 / 1.5) / math.log(2) +
      0.25 * math.log(1.0 / 1.5) / math.log(2) + 0.25
    val disjoint = js(docs("a" -> "x x", "b" -> "y y"))
    Seq("a", "b").foreach { src =>
      assert(math.abs(disjoint(src) - math.rint(dExp * 10000) / 10000) <= 1e-9,
        s"$src: ${disjoint(src)} vs $dExp")
    }
    // hand case: a = {x}, b = {x y}; blend q = {x: 3/4... } computed by hand:
    // source a: p(x)=1; q(x)=0.75 -> present term 0.5*1*log2(2/1.75)
    //   + 0.5*0.75*log2(1.5/1.75); absent mass 0.5*(1-0.75)
    val a = 0.5 * math.log(2.0 / 1.75) / math.log(2) +
      0.5 * 0.75 * math.log(1.5 / 1.75) / math.log(2) + 0.5 * 0.25
    val mixed = js(docs("a" -> "x x", "b" -> "x y"))
    assert(math.abs(mixed("a") - math.rint(a * 10000) / 10000) <= 1e-9, mixed("a"))
  }

  test("retrieval eval: conjunctive relevance, exact micro metrics on a planted corpus") {
    import spark.implicits._
    val docs = Seq(
      // all three query terms, repeated: the clear top hit AND relevant
      (1L, "spark vector query spark vector query spark vector query"),
      // one term only: ranked but NOT relevant
      (2L, "spark alpha beta gamma delta"),
      // all three terms once, diluted: relevant, ranked below doc 1
      (3L, "spark vector query pad pad pad pad pad pad pad pad pad"),
      // no query terms: unranked, irrelevant
      (4L, "nothing to see here"),
    ).toDF("doc_id", "text")
    val got = graft.operators.Corpus.retrievalEvalReportOf(docs)
      .as[(Int, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    // relevant = {1, 3}; all three scored docs fit within every cutoff
    got.values.foreach { case (k, nRel, hits, prec, rec, rr) =>
      assert(nRel === 2L, s"k=$k")
      assert(hits === 2L, s"k=$k")
      assert(prec === 2L * 1000000L / k, s"k=$k")
      assert(rec === 1000000L, s"k=$k")
      assert(rr === 1000000L, s"k=$k") // doc 1 dominates: first hit at rank 1
    }
    assert(got.keySet === graft.operators.Corpus.RetrEvalCuts.toSet)
  }

  test("ngram novelty: exact trigram fractions against the hash split") {
    import spark.implicits._
    // find concrete ids in each split band (membership is the salted-md5
    // identity hash — pick ids rather than fight it)
    def bucket(id: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"split:$id".getBytes("UTF-8"))
      java.lang.Long.parseLong(md.take(4).map("%02x".format(_)).mkString, 16) % 1000L
    }
    val trainId = (0L to 500L).find(bucket(_) < 900L).get
    val testIds = (0L to 500L).filter(bucket(_) >= 950L).take(3)
    val Seq(t1, t2, t3) = testIds
    val docs = Seq(
      (trainId, "a b c d", "s"),      // train trigrams: "a b c", "b c d"
      (t1, "a b c x y z", "s"),       // 4 trigrams, 3 novel (only "a b c" seen)
      (t2, "a b c d", "s"),           // both trigrams seen → novelty 0
      (t3, "xx yy", "s"),             // < 3 tokens → no trigram, NULL novelty
    ).toDF("doc_id", "text", "source")
    val got = graft.operators.Corpus.ngramNoveltyOf(docs)
      .as[(Long, Long, Long, Option[Long])].collect()
      .map(r => r._1 -> r).toMap
    assert(got.keySet === testIds.toSet)
    assert(got(t1) === ((t1, 4L, 3L, Some(750000L))))
    assert(got(t2) === ((t2, 2L, 0L, Some(0L))))
    assert(got(t3) === ((t3, 0L, 0L, None)))
  }
}
