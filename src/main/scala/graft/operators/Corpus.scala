package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.Tables

/** Corpus-level curation analytics over the `documents` table — the
  * provenance/mixture layer of a training-data pipeline: per-source
  * profiles, temperature-based sampling weights, per-document salient
  * terms (tf-idf). The reference platform has no corpus layer at all (its
  * data model is schema-free text lines, SURVEY.md §1.2); these are the
  * operators a user graduating from hand-rolled Maple/Juice scripts needs
  * once their corpus has provenance.
  */
object Corpus {

  /** Per-source corpus profile: document count, character mass, language
    * spread — the table a data-mixture decision reads. One hash aggregate
    * keyed on source (map-side partial; output is |sources| rows). */
  def sourceStats(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .groupBy($"source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum($"n_chars").as("total_chars"),
        round(avg($"n_chars"), 2).as("avg_chars"),
        countDistinct($"lang").as("n_langs"))
  }

  val sourceStatsOracle: String =
    """SELECT source, count(*) AS n_docs,
      | CAST(sum(n_chars) AS BIGINT) AS total_chars,
      | round(avg(n_chars), 2) AS avg_chars,
      | count(DISTINCT lang) AS n_langs
      |FROM documents GROUP BY source""".stripMargin

  /** Temperature-based sampling weights per source: w ∝ n_docs^alpha,
    * normalized — the standard up/down-weighting of data mixtures
    * (alpha < 1 flattens toward uniform, the multilingual-sampling
    * formula). The normalizer is the scalar-subquery shape used by
    * [[tfidfTopTerms]]/[[lmBits]]: `crossJoin(broadcast(1-row sum))` over
    * the |sources|-row aggregate. (An earlier form wrote
    * `Window.partitionBy(lit(1))` — Catalyst folds the constant away,
    * leaving an EMPTY partition spec, and WindowExec moves everything to
    * one partition at runtime. Bounded here (20 rows), but it was the one
    * single-partition Window node in the suite, and the census now flags
    * the whole class — see PlanWalk's `singlePartWindow`.) */
  val MixAlpha = 0.7

  def mixWeights(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val bySource = Tables.documents(s, d)
      .groupBy($"source").agg(count(lit(1)).as("n_docs"))
      .withColumn("w_raw", pow($"n_docs", MixAlpha))
    val total = bySource.agg(sum($"w_raw").as("w_total"))
    bySource.crossJoin(broadcast(total))
      .withColumn("weight", round($"w_raw" / $"w_total", 6))
      .select($"source", $"n_docs", round($"w_raw", 4).as("w_raw"), $"weight")
  }

  val mixWeightsOracle: String =
    s"""WITH b AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source)
       |SELECT source, n_docs, round(pow(n_docs, $MixAlpha), 4) AS w_raw,
       | round(pow(n_docs, $MixAlpha) / sum(pow(n_docs, $MixAlpha)) OVER (), 6) AS weight
       |FROM b""".stripMargin

  /** Temperature-sampling exponent α (XLM-R §3.1 / mBERT exponentiated
    * smoothing): sampling probability ∝ p^α, α = 0.3. */
  val TempAlpha = 0.3

  /** Language-axis temperature sampling: the multilingual mixture recipe
    * (XLM-R, arXiv:1911.02116 §3.1) — per-language sampling probabilities
    * q_l ∝ p_l^α over the TOKEN mass p_l (not doc counts: long-doc
    * languages would otherwise be under-weighted), with the up-sampling
    * factor q_l/p_l each language's data is effectively repeated by.
    * Complements [[mixWeights]] (source axis, doc-count mass): together
    * they are the two mixture tables a multilingual training run reads.
    *
    * Scale shape: ONE corpus scan — the per-language aggregate
    * (map-side combined, |langs| rows) is materialized once
    * (`localCheckpoint`, a lineage cut) so the two scalar-subquery
    * branches (token total, q normalizer) re-read the bounded aggregate,
    * not the corpus (the naive three-branch plan re-scans 100 TB three
    * times for two scalar totals); no windows, no collect. */
  def samplingTemperature(s: SparkSession, d: String): DataFrame =
    samplingTemperatureOf(Tables.documents(s, d))

  /** [[samplingTemperature]] over an arbitrary (lang, n_chars) frame. */
  private[graft] def samplingTemperatureOf(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val by = docs.groupBy($"lang")
      .agg(sum(expr("(n_chars + 3) div 4")).as("toks"))
      // a zero-token language has no defined share (the lmBits policy)
      .filter($"toks" > 0)
      .localCheckpoint()
    val tot = by.agg(sum($"toks").as("tot"))
    val pq = by.crossJoin(broadcast(tot))
      .withColumn("p", $"toks" / $"tot")
      .withColumn("q_raw", pow($"p", TempAlpha))
    val qtot = pq.agg(sum($"q_raw").as("q_tot"))
    pq.crossJoin(broadcast(qtot))
      .select($"lang", $"toks",
        round($"p", 6).as("p_data"),
        round($"q_raw" / $"q_tot", 6).as("p_sample"),
        round($"q_raw" / $"q_tot" / $"p", 4).as("boost"))
  }

  /** DuckDB twin: same ceil-quarter token mass, same α, same division
    * association order (q_raw / q_tot / p) so the doubles agree before
    * the rounding — the [[mixWeights]] float-parity discipline. */
  val samplingTemperatureOracle: String =
    s"""WITH b AS (SELECT lang, CAST(sum((n_chars + 3) // 4) AS BIGINT) AS toks
       |    FROM documents GROUP BY lang
       |    HAVING CAST(sum((n_chars + 3) // 4) AS BIGINT) > 0),
       |t AS (SELECT CAST(sum(toks) AS BIGINT) AS tot FROM b),
       |pq AS (SELECT lang, toks, toks / tot AS p,
       |    pow(toks / tot, $TempAlpha) AS q_raw FROM b, t),
       |qt AS (SELECT sum(q_raw) AS q_tot FROM pq)
       |SELECT lang, toks, round(p, 6) AS p_data,
       |  round(q_raw / q_tot, 6) AS p_sample,
       |  round(q_raw / q_tot / p, 4) AS boost
       |FROM pq, qt""".stripMargin

  /** Token budget for one training run, apportioned across sources. */
  val BudgetTokens = 1000000L

  /** Largest-remainder (Hamilton) apportionment of a fixed token budget
    * across sources, proportional to each source's token mass — the step
    * that turns mixture RATIOS into the integer per-source token counts a
    * training run actually draws (every sampled-token plan needs whole
    * tokens that sum EXACTLY to the budget; naive rounding under- or
    * over-shoots by up to |sources|/2). Token mass per document is the
    * ceil-quarter estimate `(n_chars + 3) div 4` ([[TextOps.tokenStats]]'
    * BPE rule of thumb), summed per source.
    *
    * Arithmetic is integer-rational end-to-end: floor share
    * `(B·toks) div total`, remainder `(B·toks) mod total`, and the
    * leftover `B − Σ floors` seats go to the largest remainders
    * (ties → source ASC) — no doubles anywhere, so there is no knife
    * edge for the two engines to disagree on. `epochs_milli` =
    * `(1000·alloc) div toks` reports how many times the source is
    * traversed (milli-epochs; > 1000 means the source repeats, the
    * up-sampling signal a mixture report needs).
    *
    * Scale shape: one per-source aggregate (map-side combined; |sources|
    * rows), scalar-subquery broadcasts for the total and the floor sum
    * (the [[mixWeights]] shape), and the remainder RANK computed as a
    * bounded |sources|² broadcast self-join counting strictly-better
    * rows — NOT a global window (the empty-partition-spec Window class
    * PlanWalk flags) and NOT a collect. */
  def tokenBudget(s: SparkSession, d: String): DataFrame =
    tokenBudgetOf(Tables.documents(s, d))

  /** [[tokenBudget]] over an arbitrary (source, n_chars) frame. */
  private[graft] def tokenBudgetOf(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val by = docs
      .groupBy($"source")
      .agg(sum(expr("(n_chars + 3) div 4")).as("toks"))
      // a source with zero token mass has no defined epoch count and can
      // never win a seat — omitted (the lmBits emptiness policy)
      .filter($"toks" > 0)
    val tot = by.agg(sum($"toks").as("tot"))
    val q = by.crossJoin(broadcast(tot))
      .withColumn("floor_alloc", expr(s"($BudgetTokens * toks) div tot"))
      .withColumn("rem", expr(s"($BudgetTokens * toks) % tot"))
    val used = q.agg(sum($"floor_alloc").as("used"))
    val better = q.select($"source".as("b_source"), $"rem".as("b_rem"))
    q.join(broadcast(better),
        ($"b_rem" > $"rem") || ($"b_rem" === $"rem" && $"b_source" < $"source"),
        "left")
      .groupBy($"source", $"toks", $"floor_alloc")
      .agg(count($"b_source").as("n_better"))
      .crossJoin(broadcast(used))
      .withColumn("alloc_tokens",
        $"floor_alloc" +
          when($"n_better" < lit(BudgetTokens) - $"used", 1L).otherwise(0L))
      .select($"source", $"toks", $"alloc_tokens",
        expr("(1000 * alloc_tokens) div toks").as("epochs_milli"))
  }

  /** DuckDB twin: same integer-rational floors/remainders; the remainder
    * rank as a window (`row_number() − 1` over (rem DESC, source ASC) ≡
    * the engine's strictly-better count — remainders are keyed by the
    * unique source, so the orderings coincide exactly). Sums cast from
    * HUGEINT so both sides emit BIGINT. */
  val tokenBudgetOracle: String =
    s"""WITH b AS (SELECT source, CAST(sum((n_chars + 3) // 4) AS BIGINT) AS toks
       |  FROM documents GROUP BY source
       |  HAVING CAST(sum((n_chars + 3) // 4) AS BIGINT) > 0),
       |t AS (SELECT CAST(sum(toks) AS BIGINT) AS tot FROM b),
       |q AS (SELECT source, toks,
       |    ($BudgetTokens * toks) // tot AS floor_alloc,
       |    ($BudgetTokens * toks) % tot AS rem
       |  FROM b, t),
       |u AS (SELECT CAST(sum(floor_alloc) AS BIGINT) AS used FROM q),
       |r AS (SELECT q.*,
       |    row_number() OVER (ORDER BY rem DESC, source ASC) - 1 AS n_better
       |  FROM q),
       |a AS (SELECT source, toks, floor_alloc +
       |    CASE WHEN n_better < $BudgetTokens - used THEN 1 ELSE 0 END
       |    AS alloc_tokens
       |  FROM r, u)
       |SELECT source, toks, alloc_tokens,
       |  (1000 * alloc_tokens) // toks AS epochs_milli
       |FROM a""".stripMargin

  /** Repetition cap for [[epochPlan]]: no source is traversed more than
    * this many epochs — past ~4 repeats, extra epochs of the same data
    * stop buying loss (the data-constrained scaling result of Muennighoff
    * et al. 2023, arXiv:2305.16264); 3 keeps the cap binding on the
    * synthetic corpus's small sources. */
  val EpochCap = 3L
  /** Budget for [[epochPlan]] as a multiple of the corpus token mass —
    * "train for ~2 average epochs", scale-free so the plan exercises the
    * same code path at every sf. */
  val EpochBudgetFactor = 2L

  /** Number of uniform water-fill rounds in [[epochPlan]] after the
    * initial equal split — each round re-divides the surplus equally
    * among still-unsaturated sources, so a round that re-saturates a
    * source (its headroom < the equal share) hands the excess to the
    * next round instead of losing it. Two bounded rounds + the
    * proportional mop + the largest-remainder finish reach EXACT budget
    * exhaustion on every corpus (proof in the [[epochPlan]] doc). */
  val WaterFillRounds = 2

  /** Data-constrained EPOCH PLAN: apportion a token budget of
    * [[EpochBudgetFactor]]× the corpus mass across sources under a
    * repetition cap — each source ideally contributes an equal share
    * (uniform mixing, the diversity-maximizing prior), but no source may
    * repeat beyond [[EpochCap]] epochs. The surplus the caps free up is
    * water-filled in BOUNDED MULTI-ROUND form (the fixed-iteration
    * discipline of `Graph.PrIters`, deterministic and
    * finite-SQL-replayable where iterating to the exact water level is
    * not):
    *
    *   1. equal split, capped (`min(budget/n, cap)`);
    *   2. [[WaterFillRounds]] UNIFORM rounds — surplus ÷ #unsaturated
    *      each, capped at headroom. These are the rounds that handle
    *      RE-SATURATION: a shallow source whose headroom is below the
    *      equal share caps out and its excess stays in the pool;
    *   3. one headroom-PROPORTIONAL mop — because budget ≤ Σcap implies
    *      surplus ≤ Σheadroom, `⌊surplus·headᵢ/head_tot⌋ ≤ headᵢ` never
    *      binds and flooring loses < 1 token per unsaturated source, so
    *      the residual afterwards is < #unsaturated;
    *   4. a largest-remainder finish (+1 token to the residual-many
    *      deepest headrooms — the [[tokenBudget]] Hamilton-seat trick),
    *      which by (3) reaches Σalloc = min(budget, Σcap) EXACTLY.
    *
    * Complements [[tokenBudget]] (mass-proportional, uncapped Hamilton
    * seats): this is the plan you run when the budget EXCEEDS the corpus
    * and the binding question is "what repeats, and how often", not
    * "what fits".
    *
    * Integer-rational end-to-end; the one product that could exceed
    * BIGINT at corpus scale (`surplus · headroom` ≈ 10²⁷ at 100 TB token
    * masses) is carried in DECIMAL(38,0) here and explicit HUGEINT casts
    * in the twin (DuckDB does NOT auto-promote BIGINT·BIGINT — an
    * uncast product would raise, not wrap) — the
    * [[graft.operators.Events]] anomaly-window overflow discipline.
    *
    * Scale shape: one map-side-combined per-source aggregate
    * (|sources| rows, localCheckpointed once), then scalar-subquery
    * broadcasts for the budget and each round's redistribution sums —
    * the [[tokenBudget]] plan shape exactly; nothing beyond |sources|
    * rows ever moves, and the final rank window sorts |sources| rows on
    * one task by contract. */
  def epochPlan(s: SparkSession, d: String): DataFrame =
    epochPlanOf(Tables.documents(s, d))

  /** [[epochPlan]] over an arbitrary (source, n_chars) frame. */
  private[graft] def epochPlanOf(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val by = docs.groupBy($"source")
      .agg(sum(expr("(n_chars + 3) div 4")).as("toks"))
      .filter($"toks" > 0)
      .localCheckpoint()
    val tot = by.agg((sum($"toks") * EpochBudgetFactor).as("budget"),
      count(lit(1)).as("n_src"))
    var a = by.crossJoin(broadcast(tot))
      .withColumn("cap", $"toks" * EpochCap)
      .withColumn("alloc", least(expr("budget div n_src"), $"cap"))
      .select($"source", $"toks", $"budget", $"cap", $"alloc")
    for (_ <- 1 to WaterFillRounds) {
      val sums = a.agg(sum($"alloc").as("alloc_sum"),
        sum(when($"alloc" < $"cap", 1L).otherwise(0L)).as("n_unsat"))
      a = a.crossJoin(broadcast(sums))
        .withColumn("alloc", $"alloc" + when($"n_unsat" > 0L,
          least($"cap" - $"alloc",
            expr("(budget - alloc_sum) div n_unsat"))).otherwise(0L))
        .select($"source", $"toks", $"budget", $"cap", $"alloc")
    }
    val mop = a.agg(sum($"alloc").as("alloc_sum"),
      sum($"cap" - $"alloc").as("head_tot"))
    a = a.crossJoin(broadcast(mop))
      .withColumn("head", $"cap" - $"alloc")
      .withColumn("alloc", $"alloc" + when($"head_tot" > 0L,
        least($"head", expr(
          """CAST((CAST(budget - alloc_sum AS DECIMAL(38,0)) * CAST(head AS DECIMAL(38,0)))
            | div CAST(head_tot AS DECIMAL(38,0)) AS BIGINT)""".stripMargin)))
        .otherwise(0L))
      .select($"source", $"toks", $"budget", $"cap", $"alloc")
    val fin = a.agg(sum($"alloc").as("alloc_sum"))
    // remainder rank as the bounded |sources|² broadcast self-join
    // strictly-better count — the [[tokenBudget]] idiom, NOT a global
    // window (the empty-partition-spec Window class PlanWalk flags)
    val aHead = a.withColumn("head", $"cap" - $"alloc")
    val better = aHead.select($"source".as("b_source"), $"head".as("b_head"))
    aHead.join(broadcast(better),
        ($"b_head" > $"head") || ($"b_head" === $"head" && $"b_source" < $"source"),
        "left")
      .groupBy($"source", $"toks", $"budget", $"cap", $"alloc", $"head")
      .agg(count($"b_source").as("n_better"))
      .crossJoin(broadcast(fin))
      .withColumn("alloc_tokens", $"alloc" +
        when($"alloc" < $"cap" && $"n_better" < ($"budget" - $"alloc_sum"), 1L)
          .otherwise(0L))
      .select($"source", $"toks", $"alloc_tokens",
        expr("(1000 * alloc_tokens) div toks").as("epochs_milli"),
        ($"alloc_tokens" === $"cap").as("capped"))
  }

  /** DuckDB twin of [[epochPlan]] — the same rounds unrolled as CTEs
    * (round 0 split, [[WaterFillRounds]] uniform rounds, proportional
    * mop, largest-remainder finish); the surplus·headroom product is
    * cast to HUGEINT EXPLICITLY (DuckDB raises on BIGINT·BIGINT
    * overflow rather than promoting) where the engine rides
    * DECIMAL(38,0) — both exact at any realistic mass. */
  val epochPlanOracle: String =
    s"""WITH b AS (SELECT source, CAST(sum((n_chars + 3) // 4) AS BIGINT) AS toks
       |  FROM documents GROUP BY source
       |  HAVING CAST(sum((n_chars + 3) // 4) AS BIGINT) > 0),
       |t AS (SELECT CAST($EpochBudgetFactor * sum(toks) AS BIGINT) AS budget,
       |    count(*) AS n_src FROM b),
       |a0 AS (SELECT source, toks, budget,
       |    $EpochCap * toks AS cap,
       |    least(budget // n_src, $EpochCap * toks) AS alloc
       |  FROM b, t),
       |s1 AS (SELECT CAST(sum(alloc) AS BIGINT) AS alloc_sum,
       |    CAST(sum(CASE WHEN alloc < cap THEN 1 ELSE 0 END) AS BIGINT) AS n_unsat
       |  FROM a0),
       |a1 AS (SELECT source, toks, budget, cap, alloc +
       |    CASE WHEN n_unsat > 0
       |      THEN least(cap - alloc, (budget - alloc_sum) // n_unsat)
       |      ELSE 0 END AS alloc
       |  FROM a0, s1),
       |s2 AS (SELECT CAST(sum(alloc) AS BIGINT) AS alloc_sum,
       |    CAST(sum(CASE WHEN alloc < cap THEN 1 ELSE 0 END) AS BIGINT) AS n_unsat
       |  FROM a1),
       |a2 AS (SELECT source, toks, budget, cap, alloc +
       |    CASE WHEN n_unsat > 0
       |      THEN least(cap - alloc, (budget - alloc_sum) // n_unsat)
       |      ELSE 0 END AS alloc
       |  FROM a1, s2),
       |s3 AS (SELECT CAST(sum(alloc) AS BIGINT) AS alloc_sum,
       |    CAST(sum(cap - alloc) AS BIGINT) AS head_tot FROM a2),
       |a3 AS (SELECT source, toks, budget, cap, alloc +
       |    CASE WHEN head_tot > 0
       |      THEN least(cap - alloc,
       |        CAST((CAST(budget - alloc_sum AS HUGEINT)
       |              * CAST(cap - alloc AS HUGEINT))
       |          // CAST(head_tot AS HUGEINT) AS BIGINT))
       |      ELSE 0 END AS alloc
       |  FROM a2, s3),
       |s4 AS (SELECT CAST(sum(alloc) AS BIGINT) AS alloc_sum FROM a3),
       |r AS (SELECT a3.*, alloc_sum,
       |    row_number() OVER (ORDER BY cap - alloc DESC, source ASC) - 1 AS n_better
       |  FROM a3, s4),
       |f AS (SELECT source, toks, cap, alloc +
       |    CASE WHEN alloc < cap AND n_better < budget - alloc_sum THEN 1 ELSE 0 END
       |    AS alloc_tokens
       |  FROM r)
       |SELECT source, toks, alloc_tokens,
       |  (1000 * alloc_tokens) // toks AS epochs_milli,
       |  alloc_tokens = cap AS capped
       |FROM f""".stripMargin

  /** Per-document salient terms: top-[[TfidfTopK]] by tf·idf
    * (idf = ln(N/df)) with a deterministic (score DESC, term ASC)
    * tie-break — keyword extraction / topic signal for curation.
    *
    * Shape: explode → two-phase (doc, term) counts → vocabulary join for
    * df (AQE sizes it — the vocabulary is corpus-proportional, so no
    * broadcast hint) → per-doc window over ≤ |terms(doc)| rows. N is one
    * scalar count — constant driver traffic. */
  val TfidfTopK = 3

  def tfidfTopTerms(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
    // N as a broadcast single-row aggregate (the scalar-subquery shape):
    // part of the one plan, so no separate driver-side count() action/scan
    val n = docs.agg(count(lit(1)).cast("double").as("n_total"))
    val words = docs.select($"doc_id",
      explode(TextOps.tokens).as("term"))
    val tf = words.groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy($"term").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy($"doc_id").orderBy($"tfidf".desc, $"term".asc)
    tf.join(df, "term").crossJoin(broadcast(n))
      .withColumn("tfidf", $"tf" * log($"n_total" / $"df"))
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= TfidfTopK)
      .select($"doc_id", $"term", $"tf", $"rank", round($"tfidf", 4).as("tfidf"))
  }

  /** Unigram-LM perplexity score (the CCNet perplexity-filter shape, but
    * corpus-internal so it needs no external model file): train an
    * add-one-smoothed unigram LM on the corpus itself — p(w) = (c(w)+1) /
    * (N+V) — and score each document by its mean negative log2 token
    * probability (bits/token). Boilerplate-heavy docs score low,
    * rare-token soup scores high; a perplexity filter cuts both tails.
    * Documents with zero tokens have no defined score and are omitted
    * (the consumer's emptiness policy, as with [[Sampling.packSequences]]).
    *
    * Shape: explode → vocabulary count (two-phase) → word join back (the
    * vocabulary is corpus-proportional — no broadcast hint, AQE sizes it,
    * and hot words like stop-words are exactly the case AQE's skew-join
    * split handles) → per-doc aggregate. N and V ride one
    * broadcast single-row aggregate (the scalar-subquery shape).
    * Float note: the per-doc sum of logs associates differently in DuckDB
    * than in Spark's partial aggregation; bounded by ulps and absorbed by
    * the shared 4dp rounding, like every double aggregate oracle here. */
  def lmBits(s: SparkSession, d: String): DataFrame =
    lmBitsOf(Tables.documents(s, d))

  private[graft] def lmBitsOf(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val words = docs.select($"doc_id",
      explode(TextOps.tokens).as("word"))
    val c = words.groupBy($"word").agg(count(lit(1)).as("c"))
    val nv = c.agg(sum($"c").cast("double").as("n_total"),
      count(lit(1)).cast("double").as("v_total"))
    words.join(c, "word").crossJoin(broadcast(nv))
      .withColumn("bits", -log(2.0, ($"c" + 1) / ($"n_total" + $"v_total")))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        round(sum($"bits") / count(lit(1)), 4).as("bits_per_token"))
  }

  /** DuckDB twin of [[lmBits]] — ln(x)/ln(2) mirrors Spark's
    * `log(base, x)` evaluation shape. */
  val lmBitsOracle: String =
    s"""WITH tok AS (SELECT doc_id,
      |    unnest(${TextOps.tokensSql}) AS word
      |  FROM documents),
      |c AS (SELECT word, count(*) AS c FROM tok GROUP BY word),
      |t AS (SELECT CAST(sum(c) AS DOUBLE) AS n_total,
      |             CAST(count(*) AS DOUBLE) AS v_total FROM c)
      |SELECT tok.doc_id, count(*) AS n_tokens,
      |  round(sum(-(ln((c.c + 1) / (t.n_total + t.v_total)) / ln(2))) / count(*), 4)
      |    AS bits_per_token
      |FROM tok JOIN c USING (word) CROSS JOIN t
      |GROUP BY tok.doc_id""".stripMargin

  // ------------------------------------------- Kneser-Ney bigram LM
  /** Absolute discount for the interpolated Kneser-Ney bigram model. */
  val KnDiscount = 0.75

  /** Per-doc bigram stream: adjacent token pairs, formed map-side with
    * `zip_with` over shifted `slice`s (total on empty/1-token docs; no
    * element indexing under ANSI). */
  private[graft] def knPairsOf(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs
      .withColumn("t", TextOps.tokens)
      .select($"doc_id", explode(expr(
        """zip_with(slice(t, 1, greatest(size(t) - 1, 0)),
          |         slice(t, 2, greatest(size(t) - 1, 0)),
          |         (a, b) -> struct(a as w1, b as w2))""".stripMargin)).as("p"))
      .select($"doc_id", $"p.w1".as("w1"), $"p.w2".as("w2"))
  }

  /** Observed-bigram frame carrying every interpolated-KN component and
    * the UNROUNDED probability `p` (both public queries derive from it):
    * c12 = bigram count, c1 = context total, n1fw = distinct followers of
    * w1, cont = distinct contexts of w2, b_total = distinct bigrams, and
    * p_kn(w2|w1) = (c12 − D)/c1 + (D·n1fw/c1)·(cont/B) — Kneser & Ney
    * 1995 / Chen & Goodman 1999, the model every KenLM-style quality
    * filter scores with. The continuation term is THE trick: "Francisco"
    * is frequent but follows only "San", so its unigram backoff mass is
    * tiny — exactly what raw-count backoff gets wrong. */
  private[graft] def knModelOf(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val big = knPairsOf(docs)
      .groupBy($"w1", $"w2").agg(count(lit(1)).as("c12"))
    val cl = big.groupBy($"w1")
      .agg(sum($"c12").as("c1"), count(lit(1)).as("n1fw"))
    val ct = big.groupBy($"w2").agg(count(lit(1)).as("cont"))
    val bt = big.agg(count(lit(1)).as("b_total"))
    big.join(cl, "w1").join(ct, "w2").crossJoin(broadcast(bt))
      .withColumn("p",
        ($"c12" - KnDiscount) / $"c1" +
          lit(KnDiscount) * $"n1fw" / $"c1" * ($"cont" / $"b_total"))
  }

  /** Interpolated Kneser-Ney bigram model table: every observed bigram
    * with its count and 6-dp smoothed probability. Over the full
    * vocabulary Σ_w2 p_kn(w2|w1) = 1 exactly (the discount mass D·n1fw/c1
    * re-enters through the continuation distribution, which itself sums
    * to 1) — CorpusSpec pins that identity and a hand-computed model.
    *
    * Scale shape: bigram formation is map-only; the (w1,w2) count is one
    * map-side-combined shuffle; c1/n1fw/cont are VOCABULARY-sized
    * aggregates of the bigram table (sub-linear in corpus) joined back;
    * b_total rides the 1-row broadcast (scalar-subquery shape). The model
    * table itself is bounded by distinct-bigram count, not corpus mass. */
  def knBigram(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    knModelOf(Tables.documents(s, d))
      .select($"w1", $"w2", $"c12", round($"p", 6).as("pkn"))
      .orderBy($"w1", $"w2")
  }

  /** DuckDB twin of [[knBigram]] — parallel-unnest zip forms the bigram
    * stream (slices are equal-length so the zip is exact), identical
    * left-associated probability expression. */
  val knBigramOracle: String =
    s"""WITH d AS (SELECT doc_id,
       |    ${TextOps.tokensSql} AS t
       |  FROM documents),
       |pp AS (SELECT doc_id, unnest(t[1:len(t)-1]) AS w1,
       |    unnest(t[2:len(t)]) AS w2 FROM d WHERE len(t) >= 2),
       |big AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
       |  FROM pp GROUP BY 1, 2),
       |cl AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1,
       |    CAST(count(*) AS BIGINT) AS n1fw FROM big GROUP BY w1),
       |ct AS (SELECT w2, CAST(count(*) AS BIGINT) AS cont FROM big GROUP BY w2),
       |bt AS (SELECT CAST(count(*) AS BIGINT) AS b_total FROM big)
       |SELECT w1, w2, c12,
       |  round((c12 - $KnDiscount) / c1
       |    + $KnDiscount * n1fw / c1 * (cont / b_total), 6) AS pkn
       |FROM big JOIN cl USING (w1) JOIN ct USING (w2) CROSS JOIN bt
       |ORDER BY w1, w2""".stripMargin

  /** KN-perplexity document score: mean −log₂ p_kn over each document's
    * bigrams — the CCNet/KenLM perplexity filter with a REAL smoothed
    * bigram model behind it (the [[lmBits]] unigram scorer's stronger
    * sibling; low = boilerplate, high = token soup, filter both tails).
    * Docs with <2 tokens have no bigrams and are omitted (the
    * [[lmBits]] emptiness policy). The model is corpus-internal, so
    * every scored bigram is observed — the backoff-only path is the
    * model's unseen-event mass, which scoring its own training corpus
    * never exercises (same stance as [[lmBits]]).
    *
    * Scale shape: the score join keys on (w1,w2) — co-partitioned with
    * the model's own count shuffle — and the per-doc rollup is one
    * map-side-combined aggregate. */
  def knScore(s: SparkSession, d: String): DataFrame =
    knScoreOf(Tables.documents(s, d))

  private[graft] def knScoreOf(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    knPairsOf(docs)
      .join(knModelOf(docs).select($"w1", $"w2", $"p"), Seq("w1", "w2"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        round(sum(-log(2.0, $"p")) / count(lit(1)), 4).as("bits_per_bigram"))
      .orderBy($"doc_id")
  }

  /** DuckDB twin of [[knScore]] — same CTE chain, ln(x)/ln(2) mirroring
    * Spark's `log(base, x)` (the [[lmBitsOracle]] precedent); per-doc sum
    * association differences are absorbed by the shared 4-dp round. */
  val knScoreOracle: String =
    s"""WITH d AS (SELECT doc_id,
       |    ${TextOps.tokensSql} AS t
       |  FROM documents),
       |pp AS (SELECT doc_id, unnest(t[1:len(t)-1]) AS w1,
       |    unnest(t[2:len(t)]) AS w2 FROM d WHERE len(t) >= 2),
       |big AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
       |  FROM pp GROUP BY 1, 2),
       |cl AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1,
       |    CAST(count(*) AS BIGINT) AS n1fw FROM big GROUP BY w1),
       |ct AS (SELECT w2, CAST(count(*) AS BIGINT) AS cont FROM big GROUP BY w2),
       |bt AS (SELECT CAST(count(*) AS BIGINT) AS b_total FROM big),
       |m AS (SELECT w1, w2,
       |    (c12 - $KnDiscount) / c1
       |      + $KnDiscount * n1fw / c1 * (cont / b_total) AS p
       |  FROM big JOIN cl USING (w1) JOIN ct USING (w2) CROSS JOIN bt)
       |SELECT pp.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       |  round(sum(-(ln(m.p) / ln(2))) / count(*), 4) AS bits_per_bigram
       |FROM pp JOIN m USING (w1, w2)
       |GROUP BY pp.doc_id ORDER BY pp.doc_id""".stripMargin

  /** CCNet-style language-model buckets (Wenzek et al. 2020, §4.3 —
    * public arXiv:1911.00359): partition each LANGUAGE's documents into
    * head / middle / tail by their LM score ([[lmBits]] bits/token — the
    * corpus-internal stand-in for CCNet's external KenLM), so downstream
    * mixing can keep the head, sample the middle, and drop the tail
    * per-language instead of letting a global threshold gut low-resource
    * languages (CCNet's stated motivation). Cut points are the per-language
    * 25th/75th percentiles rather than CCNet's terciles — documented
    * divergence: p = 1/3 makes the interpolated rank inexact in double and
    * re-opens the engine-vs-oracle knife edge the integer-space thresholds
    * exist to kill; quarter fractions keep every interpolation term exact
    * (the [[TextOps.qualityQuantileFilter]] analysis).
    *
    * Scale shape: scoring is [[lmBitsOf]]'s broadcast-model shape; the cut
    * table is ONE row per language (exact sort-based `percentile` here —
    * the gate/oracle mode; `exact = false` switches to `approx_percentile`
    * for the 100 TB one-pass path, CorpusSpec asserts the modes agree at
    * gate scale) and broadcasts back. Ranking happens in ×10⁴ INTEGER
    * space of the already-4dp-rounded score, same as the quality filter. */
  val CcnetLow = 0.25
  val CcnetHigh = 0.75

  def ccnetBuckets(s: SparkSession, d: String): DataFrame =
    ccnetBucketsOf(Tables.documents(s, d), exact = true)

  private[graft] def ccnetBucketsOf(docs: DataFrame, exact: Boolean): DataFrame = {
    import docs.sparkSession.implicits._
    val bits = lmBitsOf(docs)
      .join(docs.select($"doc_id", $"lang"), "doc_id")
      .withColumn("bx", expr("cast(round(bits_per_token * 10000) as bigint)"))
    def thrExpr(p: Double) =
      if (exact) s"percentile(bx, $p)" else s"approx_percentile(bx, $p, 10000)"
    val thr = bits.groupBy($"lang").agg(
      expr(thrExpr(CcnetLow)).as("tlo"),
      expr(thrExpr(CcnetHigh)).as("thi"))
    bits.join(broadcast(thr), "lang")
      .select($"doc_id", $"lang", $"bits_per_token",
        ($"tlo" / 10000.0).as("lo_thr"),
        ($"thi" / 10000.0).as("hi_thr"),
        when($"bx" <= $"tlo", "head")
          .when($"bx" >= $"thi", "tail")
          .otherwise("middle").as("bucket"))
  }

  /** DuckDB twin of [[ccnetBuckets]] — the [[lmBitsOracle]] CTE chain
    * plus `quantile_cont` cut points over the same ×10⁴ integers. */
  val ccnetBucketsOracle: String =
    s"""WITH tok AS (SELECT doc_id,
       |    unnest(${TextOps.tokensSql}) AS word
       |  FROM documents),
       |c AS (SELECT word, count(*) AS c FROM tok GROUP BY word),
       |t AS (SELECT CAST(sum(c) AS DOUBLE) AS n_total,
       |             CAST(count(*) AS DOUBLE) AS v_total FROM c),
       |b AS (SELECT tok.doc_id,
       |  round(sum(-(ln((c.c + 1) / (t.n_total + t.v_total)) / ln(2))) / count(*), 4)
       |    AS bits_per_token
       |  FROM tok JOIN c USING (word) CROSS JOIN t
       |  GROUP BY tok.doc_id),
       |bx AS (SELECT b.doc_id, d.lang, b.bits_per_token,
       |  CAST(round(b.bits_per_token * 10000) AS BIGINT) AS bx
       |  FROM b JOIN documents d USING (doc_id)),
       |thr AS (SELECT lang, quantile_cont(bx, $CcnetLow) AS tlo,
       |               quantile_cont(bx, $CcnetHigh) AS thi
       |  FROM bx GROUP BY lang)
       |SELECT bx.doc_id, bx.lang, bx.bits_per_token,
       |  thr.tlo / 10000.0 AS lo_thr, thr.thi / 10000.0 AS hi_thr,
       |  CASE WHEN bx.bx <= thr.tlo THEN 'head'
       |       WHEN bx.bx >= thr.thi THEN 'tail'
       |       ELSE 'middle' END AS bucket
       |FROM bx JOIN thr USING (lang)""".stripMargin

  // ------------------------------------------------------ BM25 retrieval
  /** The retrieval family — [[bm25TopK]], [[rm3Expand]]'s two passes,
    * [[hybridRrfTopK]]'s lexical leg and the [[retrievalEvalReport]]
    * meter — runs on ONE Okapi BM25 scorer (Robertson & Zaragoza 2009,
    * "The Probabilistic Relevance Framework: BM25 and Beyond"; k1 = 1.2,
    * b = 0.75, the standard defaults), [[bm25Of]], and its DuckDB twin
    * [[bm25Sql]] over the [[bm25PrefixSql]] token/length CTEs. A query is
    * a broadcast term frame: `word` alone for one query, or
    * (query_id, word) for per-query terms; the scorer groups by every
    * term-frame column except `word`, plus doc_id, and rounds the per-doc
    * sum to 4 dp.
    *
    * There is one rank key, [[bm25Rank]] (its twin [[bm25RankSql]]): the
    * ×10⁴ INTEGER of the 4dp score, with doc_id as the total-order
    * tie-break. Engine and oracle sum the per-term weights in different
    * orders, so the raw doubles may differ in the last ulps; ranking on
    * the snapped integer is what makes both engines cut the same K docs
    * (the house integer-space-threshold rule), and every cut, rank window
    * and meter reads that one key.
    *
    * Scale shape: tokens are FILTERED to the query terms by the broadcast
    * term-frame join before any aggregate, so the tf table is |docs
    * touching a query term| not |tokens|; df (≤ |terms| rows) and the
    * (N, avgdl) scalar are broadcast; doc length joins tf on doc_id (the
    * one corpus-sized shuffle). */
  val Bm25K1 = 1.2
  val Bm25B = 0.75
  val Bm25TopK = 50
  val Bm25Query: Seq[String] = Seq("spark", "vector", "query")

  /** (doc_id, word) token stream of a (doc_id, text) frame. */
  private def wordsOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(TextOps.tokens).as("word"))

  /** Doc lengths (doc_id, dl) of a token stream and the one-row
    * (n_docs, avgdl) scalar over them. */
  private def docLengthsOf(toks: DataFrame): (DataFrame, DataFrame) = {
    val dl = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    (dl, dl.agg(count(lit(1)).cast("double").as("n_docs"), avg(col("dl")).as("avgdl")))
  }

  /** The Okapi BM25 weight of one (doc, term) row carrying tf, df, dl,
    * n_docs and avgdl — the expression text [[bm25Sql]] mirrors term for
    * term, in the same association order. */
  private def bm25Term: Column =
    log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1) *
      (col("tf") * (Bm25K1 + 1)) /
      (col("tf") + lit(Bm25K1) *
        (lit(1 - Bm25B) + lit(Bm25B) * col("dl") / col("avgdl")))

  /** BM25 of every doc of the (doc_id, word) stream `toks` against the
    * term frame `terms` (broadcast; `word` plus any query keys): tf per
    * (keys, doc, word), df per (keys, word), the doc lengths and
    * (N, avgdl) of the whole stream; one row per (keys, doc_id) touching
    * a term, `bm25` rounded to 4 dp. */
  private[graft] def bm25Of(toks: DataFrame, terms: DataFrame): DataFrame = {
    val termKeys = terms.columns.toSeq.map(col)
    val docKeys = terms.columns.toSeq.filter(_ != "word").map(col) :+ col("doc_id")
    val (dl, stats) = docLengthsOf(toks)
    val tf = toks.join(broadcast(terms), "word")
      .groupBy(docKeys :+ col("word"): _*).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(termKeys: _*).agg(count(lit(1)).as("df"))
    tf.join(broadcast(df), terms.columns.toSeq)
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .groupBy(docKeys: _*).agg(round(sum(bm25Term), 4).as("bm25"))
  }

  /** The one BM25 rank key: ×10⁴ integer of the 4dp score. */
  private[graft] def bm25Rank: Column = expr("cast(round(bm25 * 10000) as bigint)")

  /** Top `k` rows of a scored frame by ([[bm25Rank]] DESC, doc_id) — a
    * TakeOrderedAndProject: each partition keeps K rows, the driver
    * merges, no global sort shuffle. */
  private def bm25Cut(scored: DataFrame, k: Int): DataFrame =
    scored.orderBy(bm25Rank.desc, col("doc_id").asc).limit(k)

  /** DuckDB twin of [[wordsOf]] + [[docLengthsOf]]: CTEs `tok`, `dl`, `st`. */
  private val bm25PrefixSql: String =
    s"""tok AS (SELECT doc_id,
       |    unnest(${TextOps.tokensSql}) AS word
       |  FROM documents),
       |dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
       |st AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl FROM dl)""".stripMargin

  /** DuckDB twin of [[bm25Of]]: a SELECT of (keys, doc_id, bm25) scoring
    * `tok` against the relation `terms`, whose columns are `keys` plus
    * `word`. df counts a term's (keys, word) partition of the tf rows. */
  private def bm25Sql(terms: String, keys: Seq[String] = Nil): String = {
    val byDoc = (keys :+ "doc_id").mkString(", ")
    s"""SELECT $byDoc,
       |  round(sum(
       |    ln((st.n_docs - df + 0.5) / (df + 0.5) + 1)
       |      * (tf * ($Bm25K1 + 1))
       |      / (tf + $Bm25K1 * (1 - $Bm25B + $Bm25B * dl.dl / st.avgdl))
       |  ), 4) AS bm25
       |FROM (SELECT *, count(*) OVER (PARTITION BY ${(keys :+ "word").mkString(", ")}) AS df
       |  FROM (SELECT $byDoc, word, count(*) AS tf
       |    FROM tok JOIN $terms USING (word) GROUP BY $byDoc, word))
       |JOIN dl USING (doc_id) CROSS JOIN st
       |GROUP BY $byDoc""".stripMargin
  }

  /** DuckDB twin of [[bm25Rank]]. */
  private val bm25RankSql = "CAST(round(bm25 * 10000) AS BIGINT)"

  /** DuckDB twin of [[bm25Cut]] over the scored relation `from`. */
  private def bm25CutSql(from: String, k: Int): String =
    s"SELECT doc_id, bm25 FROM $from ORDER BY $bm25RankSql DESC, doc_id LIMIT $k"

  /** The single query as a term relation. */
  private val bm25QuerySql: String =
    s"SELECT unnest([${Bm25Query.map(t => s"'$t'").mkString(", ")}]) AS word"

  /** BM25 retrieval top-k: score every document against the fixed query
    * [[Bm25Query]] and return the [[Bm25TopK]] best — the retrieval
    * primitive behind targeted selection and retrieval-based
    * decontamination (find the corpus docs most similar to an
    * eval/target query before a human or a stronger scorer looks at
    * them). */
  def bm25TopK(s: SparkSession, d: String): DataFrame =
    bm25TopKOf(Tables.documents(s, d))

  private[graft] def bm25TopKOf(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    bm25Cut(bm25Of(wordsOf(docs), Bm25Query.toDF("word")), Bm25TopK)
      .select($"doc_id", $"bm25")
  }

  /** DuckDB twin of [[bm25TopK]]. */
  val bm25TopKOracle: String =
    s"""WITH $bm25PrefixSql,
       |q AS ($bm25QuerySql),
       |s AS (${bm25Sql("q")})
       |${bm25CutSql("s", Bm25TopK)}""".stripMargin

  // ------------------------------------------------ retrieval eval report
  /** Rank cutoffs for [[retrievalEvalReport]]. */
  val RetrEvalCuts: Seq[Int] = Seq(5, 10, Bm25TopK)

  /** Retrieval-quality meter for the BM25 ranker — precision/recall@k and
    * reciprocal rank against a DETERMINISTIC relevance rule (docs
    * containing ALL query terms — conjunctive containment, the
    * label-free relevance oracle): the evaluation-report pattern
    * ([[Similarity]]'s ann_recall_report, [[graft.operators.Graph]]'s
    * modularity) applied to the lexical ranker. A ranking stack ships
    * with its meter or its regressions ship silently.
    *
    * All metrics are integer micros over exact counts; reciprocal rank
    * is `10⁶ div first_relevant_rank` (0 when no relevant doc makes the
    * cutoff). Rank order is the ranker's own [[bm25Rank]] total order —
    * the report can never disagree with the operator it meters.
    *
    * Scale shape: the BM25 leg is [[bm25TopKOf]] (its cost); relevance
    * is one map-side conjunctive filter; the rank window runs over the
    * ≤ [[Bm25TopK]]-row result — bounded by construction; output is
    * |[[RetrEvalCuts]]| rows. */
  def retrievalEvalReport(s: SparkSession, d: String): DataFrame =
    retrievalEvalReportOf(Tables.documents(s, d))

  private[graft] def retrievalEvalReportOf(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    import org.apache.spark.sql.expressions.Window
    val toks = docs.select($"doc_id", TextOps.tokens.as("toks"))
    val rel = toks.filter(
        Bm25Query.map(t => array_contains($"toks", t)).reduce(_ && _))
      .select($"doc_id", lit(1L).as("rel"))
    val nRel = rel.agg(count(lit(1)).as("n_relevant"))
    // bounded-by-construction global window: <= Bm25TopK rows after limit
    val ranked = bm25TopKOf(docs)
      .withColumn("rank", row_number().over(Window.orderBy(bm25Rank.desc, $"doc_id".asc)))
      .join(rel, Seq("doc_id"), "left")
      .localCheckpoint()
    RetrEvalCuts.map { k =>
      ranked.filter($"rank" <= k)
        .agg(coalesce(sum(coalesce($"rel", lit(0L))), lit(0L)).as("hits"),
          min(when($"rel" === 1L, $"rank")).as("first_rel"))
        .crossJoin(broadcast(nRel))
        .select(lit(k).as("k"), $"n_relevant", $"hits",
          expr(s"(hits * 1000000) div $k").as("precision_micros"),
          expr("(hits * 1000000) div nullif(n_relevant, 0)").as("recall_micros"),
          coalesce(expr("1000000 div first_rel"), lit(0L)).as("rr_micros"))
    }.reduce(_ unionAll _)
  }

  /** DuckDB twin of [[retrievalEvalReport]] — the [[bm25TopKOracle]]
    * ranking as a derived table, the same conjunctive relevance rule
    * (list_has_all), and identical integer-micro metrics. */
  val retrievalEvalReportOracle: String = {
    val terms = Bm25Query.map(t => s"'$t'").mkString(", ")
    val cuts = RetrEvalCuts.map { k =>
      s"""SELECT $k AS k, (SELECT n_relevant FROM nrel) AS n_relevant,
         |  CAST(coalesce(sum(rel), 0) AS BIGINT) AS hits,
         |  CAST(coalesce(sum(rel), 0) * 1000000 // $k AS BIGINT)
         |    AS precision_micros,
         |  CAST(coalesce(sum(rel), 0) * 1000000
         |    // nullif((SELECT n_relevant FROM nrel), 0) AS BIGINT)
         |    AS recall_micros,
         |  CAST(coalesce(1000000 // min(CASE WHEN rel = 1 THEN rank END), 0)
         |    AS BIGINT) AS rr_micros
         |FROM marked WHERE rank <= $k""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH ranked AS MATERIALIZED (SELECT doc_id, bm25,
       |    row_number() OVER (ORDER BY $bm25RankSql DESC, doc_id ASC) AS rank
       |  FROM ($bm25TopKOracle)),
       |rel AS MATERIALIZED (SELECT doc_id, 1 AS rel FROM (
       |    SELECT doc_id,
       |      ${TextOps.tokensSql} AS toks
       |    FROM documents)
       |  WHERE list_has_all(toks, [$terms])),
       |nrel AS (SELECT CAST(count(*) AS BIGINT) AS n_relevant FROM rel),
       |marked AS MATERIALIZED (SELECT r.rank, l.rel
       |  FROM ranked r LEFT JOIN rel l USING (doc_id))
       |$cuts""".stripMargin
  }

  // --------------------------------------------- sequence-length histogram
  /** Per-source sequence-length histogram on power-of-two buckets — the
    * length-distribution table every batch-shape decision reads (context
    * window, packing target, truncation loss): per (source, ⌊log₂
    * tokens⌋ bucket), document count and token mass, with the bucket's
    * inclusive [lo, hi] token range. The log₂ bucket is INTEGER-exact on
    * both engines — `length(bin(n)) − 1` (bit length, no float log whose
    * last-ulp could misplace an exact power of two); zero-token docs get
    * bucket −1.
    *
    * Scale shape: one map-only tokenize-count pass, one map-side-
    * combined aggregate keyed (source, bucket); output is bounded by
    * |sources| · 64 rows whatever the corpus. */
  def lengthHistogram(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val perDoc = Tables.documents(s, d)
      .select($"source", size(TextOps.tokens).cast("long").as("n_tokens"))
    perDoc
      .withColumn("bucket",
        when($"n_tokens" === 0L, lit(-1))
          .otherwise(length(bin($"n_tokens")) - 1))
      .groupBy($"source", $"bucket")
      .agg(count(lit(1)).as("n_docs"), sum($"n_tokens").as("n_tokens"))
      .withColumn("lo_tokens",
        when($"bucket" < 0, lit(0L)).otherwise(expr("shiftleft(1L, bucket)")))
      .withColumn("hi_tokens",
        when($"bucket" < 0, lit(0L))
          .otherwise(expr("shiftleft(1L, bucket + 1) - 1")))
      .orderBy($"source", $"bucket")
  }

  /** DuckDB twin of [[lengthHistogram]] — same bit-length bucket, same
    * shift-built ranges. */
  val lengthHistogramOracle: String =
    s"""WITH t AS (SELECT source,
       |    CAST(len(${TextOps.tokensSql}) AS BIGINT) AS n_tokens
       |  FROM documents),
       |b AS (SELECT source,
       |    CASE WHEN n_tokens = 0 THEN -1
       |         ELSE CAST(length(bin(n_tokens)) AS INT) - 1 END AS bucket,
       |    n_tokens FROM t)
       |SELECT source, bucket, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       |  CASE WHEN bucket < 0 THEN 0
       |       ELSE (CAST(1 AS BIGINT) << bucket) END AS lo_tokens,
       |  CASE WHEN bucket < 0 THEN 0
       |       ELSE (CAST(1 AS BIGINT) << (bucket + 1)) - 1 END AS hi_tokens
       |FROM b GROUP BY source, bucket
       |ORDER BY source, bucket""".stripMargin

  // ---------------------------------------------- n-gram diversity report
  /** Per-source n-gram diversity report (n = 1, 2, 3): total grams,
    * distinct grams, and the type-token ratio in exact integer micros —
    * the distinct-n table (Li et al. 2016's diversity metric, the
    * standard repetitiveness check) a corpus owner reads to spot
    * template-generated or boilerplate-heavy sources before they teach a
    * model to loop. A source whose trigram TTR collapses relative to its
    * unigram TTR is stamping out the same phrases.
    *
    * Scale shape: ONE corpus scan — bigrams and trigrams are formed
    * map-side from the token array with `zip_with` over shifted `slice`s
    * (no element indexing: ANSI mode is on, and slices of computed
    * length are total on ragged/empty arrays), all three gram streams
    * explode from one concatenated struct array. Then a map-side-combined
    * (source, n, gram) count and a second aggregate co-partitioned on its
    * prefix; output is |sources| · 3 rows whatever the corpus. */
  def ngramDiversity(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
      .withColumn("t", TextOps.tokens)
      .withColumn("g2", expr(
        """zip_with(slice(t, 1, greatest(size(t) - 1, 0)),
          |         slice(t, 2, greatest(size(t) - 1, 0)),
          |         (a, b) -> concat(a, ' ', b))""".stripMargin))
      .withColumn("g3", expr(
        """zip_with(slice(g2, 1, greatest(size(t) - 2, 0)),
          |         slice(t, 3, greatest(size(t) - 2, 0)),
          |         (a, b) -> concat(a, ' ', b))""".stripMargin))
    docs.select($"source", explode(expr(
        """concat(transform(t,  g -> struct(1 as n, g as gram)),
          |       transform(g2, g -> struct(2 as n, g as gram)),
          |       transform(g3, g -> struct(3 as n, g as gram)))""".stripMargin))
        .as("g"))
      .select($"source", $"g.n".as("n"), $"g.gram".as("gram"))
      .groupBy($"source", $"n", $"gram").agg(count(lit(1)).as("c"))
      .groupBy($"source", $"n")
      .agg(sum($"c").as("total_grams"), count(lit(1)).as("distinct_grams"))
      .withColumn("ttr_micros",
        expr("distinct_grams * 1000000L div total_grams"))
      .orderBy($"source", $"n")
  }

  /** DuckDB twin of [[ngramDiversity]] — same grams via 1-based `range`
    * indexing (DuckDB `range` is empty-safe on short docs, its list
    * indexing total), same integer-micros ratio. */
  val ngramDiversityOracle: String =
    s"""WITH d AS (SELECT source,
      |    ${TextOps.tokensSql} AS t
      |  FROM documents),
      |g AS (
      |  SELECT source, 1 AS n, unnest(t) AS gram FROM d
      |  UNION ALL
      |  SELECT source, 2, unnest(list_transform(range(1, len(t)),
      |      i -> t[i] || ' ' || t[i+1])) FROM d
      |  UNION ALL
      |  SELECT source, 3, unnest(list_transform(range(1, len(t) - 1),
      |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) FROM d),
      |c AS (SELECT source, n, gram, count(*) AS c FROM g GROUP BY 1, 2, 3)
      |SELECT source, n, CAST(sum(c) AS BIGINT) AS total_grams,
      |  CAST(count(*) AS BIGINT) AS distinct_grams,
      |  CAST(count(*) * 1000000 // sum(c) AS BIGINT) AS ttr_micros
      |FROM c GROUP BY source, n ORDER BY source, n""".stripMargin

  // ---------------------------------------------- test-set n-gram novelty
  /** Per-test-document n-gram novelty against the train split — the
    * memorization-risk audit (Lee et al. 2022's dedup paper framing,
    * inverted): for every document the [[Sampling.trainTestSplitOf]]
    * identity hash puts in `test`, what fraction of its DISTINCT word
    * trigrams never occurs anywhere in `train`? A near-zero novelty says
    * the holdout is contaminated by (or templated from) training text
    * and its eval numbers measure memory, not generalization —
    * [[Dedup.contamination]] answers "which docs overlap"; this scores
    * HOW MUCH of each holdout doc is old material, per doc, in exact
    * integer micros.
    *
    * Test docs with fewer than 3 tokens have no trigram: reported with
    * `n_grams` 0 and NULL novelty (no fabricated 0%/100%).
    *
    * Scale shape: trigrams form map-side ([[ngramDiversity]]'s
    * zip_with-over-slices idiom, one scan), dedup per doc, then ONE
    * gram-keyed left join of test-doc grams against the distinct train
    * vocabulary — hash-partitioned on gram, so the vocabulary never
    * materializes anywhere whole — and a doc-keyed count aggregate.
    * The test-doc row base rides a broadcast-sized split projection. */
  def ngramNovelty(s: SparkSession, d: String): DataFrame =
    ngramNoveltyOf(Tables.documents(s, d))

  private[graft] def ngramNoveltyOf(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val split = Sampling.trainTestSplitOf(docs).select($"doc_id", $"split")
    val grams = docs
      .withColumn("t", TextOps.tokens)
      .withColumn("g2", expr(
        """zip_with(slice(t, 1, greatest(size(t) - 1, 0)),
          |         slice(t, 2, greatest(size(t) - 1, 0)),
          |         (a, b) -> concat(a, ' ', b))""".stripMargin))
      .withColumn("g3", expr(
        """zip_with(slice(g2, 1, greatest(size(t) - 2, 0)),
          |         slice(t, 3, greatest(size(t) - 2, 0)),
          |         (a, b) -> concat(a, ' ', b))""".stripMargin))
      .select($"doc_id", explode($"g3").as("gram")).distinct()
      .join(split, "doc_id")
    val trainVocab = grams.filter($"split" === "train")
      .select($"gram").distinct()
    val marked = grams.filter($"split" === "test")
      .join(trainVocab.withColumn("seen", lit(1)), Seq("gram"), "left")
      .groupBy($"doc_id").agg(count(lit(1)).as("n_grams"),
        sum(when($"seen".isNull, 1L).otherwise(0L)).as("n_novel"))
    split.filter($"split" === "test").select($"doc_id")
      .join(marked, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"n_grams", lit(0L)).as("n_grams"),
        coalesce($"n_novel", lit(0L)).as("n_novel"))
      .withColumn("novelty_micros",
        expr("(n_novel * 1000000) div nullif(n_grams, 0)"))
  }

  /** DuckDB twin of [[ngramNovelty]] — same salted-md5 split, same
    * 1-based-range trigrams, same distinct-gram anti-join arithmetic. */
  val ngramNoveltyOracle: String = {
    import Sampling.{SplitBuckets, SplitTrainLt, SplitValidLt}
    s"""WITH sp AS MATERIALIZED (SELECT doc_id,
       |    ${TextOps.tokensSql} AS t,
       |    CASE WHEN CAST(('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8))
       |        AS BIGINT) % $SplitBuckets < $SplitTrainLt THEN 'train'
       |      WHEN CAST(('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8))
       |        AS BIGINT) % $SplitBuckets < $SplitValidLt THEN 'valid'
       |      ELSE 'test' END AS split
       |  FROM documents),
       |g AS MATERIALIZED (SELECT DISTINCT doc_id, gram FROM (
       |  SELECT doc_id, unnest(list_transform(range(1, len(t) - 1),
       |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS gram FROM sp)),
       |tv AS MATERIALIZED (SELECT DISTINCT g.gram
       |  FROM g JOIN sp USING (doc_id) WHERE sp.split = 'train'),
       |tg AS (SELECT g.doc_id, g.gram
       |  FROM g JOIN sp USING (doc_id) WHERE sp.split = 'test'),
       |agg AS (SELECT tg.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
       |    CAST(sum(CASE WHEN tv.gram IS NULL THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_novel
       |  FROM tg LEFT JOIN tv USING (gram) GROUP BY tg.doc_id)
       |SELECT s.doc_id, coalesce(a.n_grams, 0) AS n_grams,
       |  coalesce(a.n_novel, 0) AS n_novel,
       |  CAST((coalesce(a.n_novel, 0) * 1000000)
       |    // nullif(coalesce(a.n_grams, 0), 0) AS BIGINT) AS novelty_micros
       |FROM (SELECT doc_id FROM sp WHERE split = 'test') s
       |LEFT JOIN agg a USING (doc_id)""".stripMargin
  }

  // ------------------------------------------------ hybrid RRF retrieval
  /** Hybrid lexical+dense retrieval with reciprocal-rank fusion (Cormack,
    * Clarke & Büttcher 2009, "Reciprocal Rank Fusion outperforms Condorcet
    * and individual rank learning methods" — the public RRF formula
    * Σ 1/(k + rank), k = 60) — THE production RAG/hybrid-search shape:
    * every serious retrieval stack runs a BM25 leg and an embedding leg
    * and fuses on rank, because rank fusion needs no score calibration
    * between incommensurable scorers. Queries are the [[Similarity
    * .NumQueries]] query documents (which carry BOTH text and an
    * embedding, the realistic dual-indexed corpus shape):
    *
    *   - lexical leg: "more-like-this" BM25 — each query doc's top
    *     [[HybridTerms]] tf·idf terms (tf · ln(N/df), the
    *     [[tfidfTopTerms]] salience formula) become its (query_id, word)
    *     term frame, scored by [[bm25Of]] over the corpus minus the
    *     query doc itself, top [[Similarity.TopK]] docs per query by
    *     [[bm25Rank]];
    *   - dense leg: [[Similarity.annIvfTopK]] verbatim (IVF-probed exact
    *     re-rank, top-k cosine neighbors);
    *   - fusion: full-outer on (query, doc); each leg contributes
    *     `1000000 div (60 + rank)` micros (EXACT integer RRF — both
    *     engines divide the same integers, the house float-free ratio
    *     idiom), absent legs contribute 0; top [[HybridTopK]] by fused
    *     score with doc_id tie-break. Output keeps both leg ranks
    *     (0 = not retrieved by that leg) — the fusion provenance a
    *     relevance engineer debugs with.
    *
    * Scale shape: the query-term profile and df table are bounded by the
    * query docs' vocabulary (|Q| docs — broadcast whatever the corpus
    * size); the corpus token stream is FILTERED to the ≤ |Q|·[[
    * HybridTerms]] selected terms BEFORE the tf aggregate (inverted-index
    * admission, the [[bm25TopK]] discipline), so the lexical leg's only
    * corpus-sized shuffle is the doc-length aggregate; the dense leg is
    * the volume-flat IVF path; the fusion frame is |Q|·2k rows. Ranking
    * compares ×10⁴ integers of 4dp-rounded scores with doc/term
    * tie-breaks throughout, so engine and oracle cut identical sets. */
  val HybridTerms = 5
  val RrfK = 60
  val HybridTopK = 10

  def hybridRrfTopK(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val nq = Similarity.NumQueries
    val docs = Tables.documents(s, d)
    val toks = wordsOf(docs)
    val stats = docLengthsOf(toks)._2
    // per-query-doc term counts (|Q| docs — tiny by contract)
    val qtf = toks.filter($"doc_id" < nq)
      .groupBy($"doc_id", $"word").agg(count(lit(1)).as("qtf"))
    // corpus-wide df for exactly the words the query docs contain: the
    // token stream is filtered on the broadcast query vocabulary before
    // the distinct, so the df aggregate never sees unrelated tokens
    val dfq = toks.join(broadcast(qtf.select($"word").distinct()), "word")
      .select($"doc_id", $"word").distinct()
      .groupBy($"word").agg(count(lit(1)).as("df"))
    // salience selection: top tf·idf terms per query doc (integer rank)
    val selW = Window.partitionBy($"query_id").orderBy($"sx".desc, $"word".asc)
    val qterms = qtf.join(broadcast(dfq), "word").crossJoin(broadcast(stats))
      .select($"doc_id".as("query_id"), $"word",
        expr("cast(round(qtf * ln(n_docs / df) * 10000) as bigint)").as("sx"))
      .withColumn("rk", row_number().over(selW))
      .filter($"rk" <= HybridTerms)
      .select($"query_id", $"word")
    val lexW = Window.partitionBy($"query_id").orderBy(bm25Rank.desc, $"doc_id".asc)
    val lex = hybridLexOf(docs, qterms)
      .withColumn("lex_rank", row_number().over(lexW))
      .filter($"lex_rank" <= Similarity.TopK)
      .select($"query_id", $"doc_id", $"lex_rank")
    val dense = Similarity.annIvfTopK(s, d)
      .select($"query_id", $"neighbor_id".as("doc_id"), $"rank".as("dense_rank"))
    val fusedW = Window.partitionBy($"query_id")
      .orderBy($"rrf_micros".desc, $"doc_id".asc)
    lex.join(dense, Seq("query_id", "doc_id"), "full_outer")
      .withColumn("rrf_micros",
        coalesce(expr(s"1000000L div ($RrfK + lex_rank)"), lit(0L)) +
          coalesce(expr(s"1000000L div ($RrfK + dense_rank)"), lit(0L)))
      .withColumn("fused_rank", row_number().over(fusedW))
      .filter($"fused_rank" <= HybridTopK)
      .select($"query_id", $"doc_id",
        coalesce($"lex_rank", lit(0)).as("lex_rank"),
        coalesce($"dense_rank", lit(0)).as("dense_rank"),
        $"rrf_micros", $"fused_rank")
  }

  /** The lexical leg of [[hybridRrfTopK]]: [[bm25Of]] over the
    * (query_id, word) term frame `qterms`, minus each query doc itself. */
  private[graft] def hybridLexOf(docs: DataFrame, qterms: DataFrame): DataFrame =
    bm25Of(wordsOf(docs), qterms).filter(col("doc_id") =!= col("query_id"))

  /** DuckDB twin of [[hybridRrfTopK]]: per-query term selection,
    * [[bm25Sql]] keyed by query_id as the lexical leg,
    * [[Similarity.annIvfTopKOracle]] verbatim as the dense leg,
    * integer-micro RRF fusion. */
  lazy val hybridRrfTopKOracle: String = {
    val nq = Similarity.NumQueries
    s"""WITH $bm25PrefixSql,
       |qtf AS (SELECT doc_id AS query_id, word, count(*) AS qtf FROM tok
       |  WHERE doc_id < $nq GROUP BY 1, 2),
       |dfq AS (SELECT word, count(DISTINCT doc_id) AS df FROM tok
       |  WHERE word IN (SELECT DISTINCT word FROM qtf) GROUP BY word),
       |qsel AS (SELECT query_id, word FROM (
       |    SELECT q.query_id, q.word,
       |      row_number() OVER (PARTITION BY q.query_id
       |        ORDER BY CAST(round(q.qtf * ln(st.n_docs / d.df) * 10000) AS BIGINT) DESC,
       |          q.word ASC) AS rk
       |    FROM qtf q JOIN dfq d USING (word) CROSS JOIN st)
       |  WHERE rk <= $HybridTerms),
       |lexs AS (SELECT * FROM (${bm25Sql("qsel", Seq("query_id"))})
       |  WHERE doc_id <> query_id),
       |lex AS (SELECT query_id, doc_id, lex_rank FROM (
       |    SELECT query_id, doc_id,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY $bm25RankSql DESC, doc_id ASC) AS lex_rank
       |    FROM lexs) WHERE lex_rank <= ${Similarity.TopK}),
       |dense AS (SELECT query_id, neighbor_id AS doc_id, rank AS dense_rank
       |  FROM (${Similarity.annIvfTopKOracle})),
       |f AS (SELECT coalesce(l.query_id, dn.query_id) AS query_id,
       |    coalesce(l.doc_id, dn.doc_id) AS doc_id,
       |    l.lex_rank, dn.dense_rank,
       |    coalesce(1000000 // ($RrfK + l.lex_rank), 0)
       |      + coalesce(1000000 // ($RrfK + dn.dense_rank), 0) AS rrf_micros
       |  FROM lex l FULL OUTER JOIN dense dn
       |    ON l.query_id = dn.query_id AND l.doc_id = dn.doc_id)
       |SELECT query_id, doc_id, coalesce(lex_rank, 0) AS lex_rank,
       |  coalesce(dense_rank, 0) AS dense_rank, rrf_micros, fused_rank
       |FROM (SELECT f.*, row_number() OVER (PARTITION BY query_id
       |    ORDER BY rrf_micros DESC, doc_id ASC) AS fused_rank FROM f)
       |WHERE fused_rank <= $HybridTopK""".stripMargin
  }

  // ---------------------------------------- RM3 pseudo-relevance feedback
  /** RM3-style query expansion (Abdul-Jaleel et al. 2004, UMass TREC —
    * the public pseudo-relevance-feedback recipe; Lavrenko & Croft
    * relevance models): run the seed query, treat the top [[RmFbDocs]]
    * results as pseudo-relevant, estimate an expansion term model from
    * them — term weight = Σ_fb-docs tf/dl, the uniform-doc-prior
    * relevance model, in EXACT integer micros (per-doc integer division,
    * then sum: both engines do the identical integer arithmetic) — and
    * re-run BM25 with the seed terms plus the top [[RmFbTerms]]
    * expansion terms. This is the recall-repair stage of every classical
    * retrieval stack (and the lexical analog of HyDE-style neural
    * expansion): documents discussing the topic in different words than
    * the seed query become reachable.
    *
    * Scale shape: each BM25 pass is one [[bm25Of]] call (token stream
    * filtered to ≤ 13 query terms before any aggregate; df and the
    * (N, avgdl) scalar broadcast; one corpus-sized dl shuffle); the
    * feedback model aggregates over [[RmFbDocs]] documents' tokens only;
    * both cuts are [[bm25Cut]]s, so no window ever runs on the corpus. */
  val RmFbDocs = 10
  val RmFbTerms = 10

  def rm3Expand(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val toks = wordsOf(Tables.documents(s, d))
    val q0 = Bm25Query.toDF("word")
    val fb = bm25Cut(bm25Of(toks, q0), RmFbDocs).select($"doc_id")
    val exp = toks.join(broadcast(fb), "doc_id")
      .groupBy($"doc_id", $"word").agg(count(lit(1)).as("tf"))
      .join(docLengthsOf(toks)._1, "doc_id")
      .withColumn("w", expr("tf * 1000000L div dl"))
      .groupBy($"word").agg(sum($"w").as("weight_micros"))
      .filter(!$"word".isin(Bm25Query: _*))
      .orderBy($"weight_micros".desc, $"word".asc).limit(RmFbTerms)
      .select($"word")
    // expansion terms exclude the seed set, so the union is disjoint;
    // output mirrors [[bm25TopK]] (TakeOrderedAndProject cut, no global
    // rank window — the house "global order without a global window"
    // rule; rank is derivable from (bm25, doc_id))
    bm25Cut(bm25Of(toks, q0.unionAll(exp)), Bm25TopK).select($"doc_id", $"bm25")
  }

  /** DuckDB twin of [[rm3Expand]]: [[bm25Sql]] run twice with the
    * integer-micros feedback model between the passes. */
  val rm3ExpandOracle: String =
    s"""WITH $bm25PrefixSql,
       |q0 AS ($bm25QuerySql),
       |s0 AS (${bm25Sql("q0")}),
       |fb AS (${bm25CutSql("s0", RmFbDocs)}),
       |ftf AS (SELECT t.doc_id, t.word, count(*) AS tf FROM tok t
       |  JOIN fb USING (doc_id) GROUP BY 1, 2),
       |exp AS (SELECT word FROM (
       |    SELECT f.word, CAST(sum(f.tf * 1000000 // dl.dl) AS BIGINT) AS weight_micros
       |    FROM ftf f JOIN dl USING (doc_id)
       |    WHERE f.word NOT IN (SELECT word FROM q0) GROUP BY f.word)
       |  ORDER BY weight_micros DESC, word ASC LIMIT $RmFbTerms),
       |qe AS (SELECT word FROM q0 UNION ALL SELECT word FROM exp),
       |se AS (${bm25Sql("qe")})
       |${bm25CutSql("se", Bm25TopK)}""".stripMargin

  // ------------------------------------------------- phrase-match retrieval
  /** Exact-phrase query terms, in order. Chosen to occur multiple times in
    * multiple synthetic docs so the per-doc occurrence count is exercised. */
  val PhraseQuery: Seq[String] = Seq("slow", "hash", "batch")

  /** Exact-phrase retrieval over a POSITIONAL inverted index — the
    * operator behind every quoted-string search box, and the missing
    * precision half next to [[bm25TopK]]'s bag-of-words ranking: per
    * document containing the phrase [[PhraseQuery]] verbatim, its
    * occurrence count and first match position. The classic positional-
    * postings algorithm (Manning, Raghavan & Schütze, IR ch. 2): each
    * phrase slot j contributes postings for its term with position
    * rebased to `pos − j`, and an L-way equi-join on (doc, start) keeps
    * exactly the starts where all L slots align.
    *
    * Scale shape: postings are filtered to the L phrase terms BEFORE any
    * shuffle (inverted-index admission — the shuffled volume is the
    * phrase terms' df, not the corpus), and all L legs hash-partition on
    * the same (doc_id, start) key so the chain join co-locates. Output
    * is bounded by the rarest term's df. */
  def phraseMatch(s: SparkSession, d: String): DataFrame =
    phraseMatchOf(Tables.documents(s, d), PhraseQuery)

  private[graft] def phraseMatchOf(docs: DataFrame,
      phrase: Seq[String]): DataFrame = {
    import docs.sparkSession.implicits._
    val post = docs
      .select($"doc_id", posexplode(
        TextOps.tokens))
      .toDF("doc_id", "pos", "word")
      .filter($"word".isin(phrase: _*))
    val aligned = phrase.zipWithIndex.map { case (w, j) =>
      post.filter($"word" === w).select($"doc_id", ($"pos" - j).as("start"))
    }.reduce((a, b) => a.join(b, Seq("doc_id", "start")))
    aligned.groupBy($"doc_id")
      .agg(count(lit(1)).as("n_matches"), min($"start").as("first_pos"))
      .orderBy($"doc_id")
  }

  /** DuckDB twin of [[phraseMatch]] — the list-scan form of the same
    * semantics (1-based `range` sweep with every slot checked in place;
    * value-identical to the positional join by construction), first
    * position rebased to the engine's 0-based `posexplode`. */
  val phraseMatchOracle: String = {
    val L = PhraseQuery.length
    val conds = PhraseQuery.zipWithIndex
      .map { case (w, j) => s"t[i+$j] = '$w'" }.mkString(" AND ")
    s"""WITH d AS (SELECT doc_id,
       |    ${TextOps.tokensSql} AS t
       |  FROM documents),
       |m AS (SELECT doc_id,
       |    list_filter(range(1, len(t) - ${L - 2}), i -> $conds) AS hits
       |  FROM d)
       |SELECT doc_id, CAST(len(hits) AS BIGINT) AS n_matches,
       |  CAST(list_min(hits) - 1 AS INT) AS first_pos
       |FROM m WHERE len(hits) > 0 ORDER BY doc_id""".stripMargin
  }

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling" — public arXiv:2302.03169):
    * features are unigrams hashed into [[DsirBuckets]] buckets; fit two
    * add-one-smoothed bag-of-buckets models — p over the TARGET slice
    * (here: documents from [[DsirTargetSource]], standing in for the
    * high-quality target corpus) and q over the WHOLE corpus — and score
    * every document by its log importance ratio
    * `log w(x) = Σ_tokens ln(p_bucket / q_bucket)`. Resampling docs with
    * probability ∝ w(x) shifts the corpus mixture toward the target
    * distribution; the weights are the operator's output (the resample
    * itself is [[Sampling]]'s deterministic-hash territory).
    *
    * Scale shape: the bucket table is FIXED at [[DsirBuckets]] rows no
    * matter the corpus size — both models ride one hash aggregate and a
    * broadcast join, so the per-doc scoring join never shuffles the corpus
    * against a corpus-sized model. Token→bucket hashing is md5-prefix mod B
    * (not xxhash) solely so DuckDB can replay it bit-for-bit; per-doc
    * bucket counts are aggregated BEFORE the ratio join, so the join input
    * is |doc × distinct-bucket| rows, not |tokens|. Zero-token docs have no
    * defined score and are omitted (the [[lmBits]] emptiness policy).
    * Float note: the per-doc Σ c·ln(ratio) associates differently across
    * partials than DuckDB's serial fold — absorbed by the shared 4dp
    * rounding, like every double aggregate oracle here. A weight that
    * rounds to zero keeps IEEE −0.0 in DuckDB but +0.0 in Spark (sf1
    * surfaced two such docs), so BOTH sides add `+ 0.0` after the round:
    * −0.0 + 0.0 = +0.0 normalizes the sign without moving any other
    * value. */
  val DsirBuckets = 1024
  val DsirTargetSource = "src0"

  def dsirWeights(s: SparkSession, d: String): DataFrame =
    dsirWeightsOf(Tables.documents(s, d))

  private[graft] def dsirWeightsOf(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val B = DsirBuckets
    val toks = docs.select($"doc_id", $"source",
        explode(TextOps.tokens).as("word"))
      .withColumn("bucket",
        conv(substring(md5($"word"), 1, 8), 16, 10).cast("long") % B)
    val perBucket = toks.groupBy($"bucket").agg(
      count(lit(1)).as("c_all"),
      sum(when($"source" === DsirTargetSource, 1L).otherwise(0L)).as("c_tgt"))
    val totals = perBucket.agg(
      sum($"c_all").cast("double").as("n_all"),
      sum($"c_tgt").cast("double").as("n_tgt"))
    val ratios = perBucket.crossJoin(broadcast(totals))
      .withColumn("lr",
        log((($"c_tgt" + 1) / ($"n_tgt" + B)) / (($"c_all" + 1) / ($"n_all" + B))))
      .select($"bucket", $"lr")
    val docBuckets = toks.groupBy($"doc_id", $"bucket").agg(count(lit(1)).as("c"))
    docBuckets.join(broadcast(ratios), "bucket")
      .groupBy($"doc_id")
      .agg(sum($"c").as("n_tokens"),
        (round(sum($"c" * $"lr"), 4) + lit(0.0)).as("dsir_logw"))
  }

  /** DuckDB twin of [[dsirWeights]] — same md5-prefix bucket hash
    * (`0x`-cast mirrors the engine's `conv(hex, 16, 10)`), same smoothing
    * algebra in the same evaluation order, so per-bucket log-ratios are
    * bit-equal and only the per-doc sum needs the 4dp rounding. */
  val dsirWeightsOracle: String =
    s"""WITH tok AS (SELECT doc_id, source,
       |    unnest(${TextOps.tokensSql}) AS word
       |  FROM documents),
       |tb AS (SELECT doc_id, source,
       |    CAST(('0x' || substr(md5(word), 1, 8)) AS BIGINT) % $DsirBuckets AS bucket
       |  FROM tok),
       |pb AS (SELECT bucket, count(*) AS c_all,
       |    sum(CASE WHEN source = '$DsirTargetSource' THEN 1 ELSE 0 END) AS c_tgt
       |  FROM tb GROUP BY bucket),
       |t AS (SELECT CAST(sum(c_all) AS DOUBLE) AS n_all,
       |             CAST(sum(c_tgt) AS DOUBLE) AS n_tgt FROM pb),
       |r AS (SELECT bucket,
       |    ln(((c_tgt + 1) / (n_tgt + $DsirBuckets)) /
       |       ((c_all + 1) / (n_all + $DsirBuckets))) AS lr
       |  FROM pb CROSS JOIN t),
       |db AS (SELECT doc_id, bucket, count(*) AS c FROM tb GROUP BY 1, 2)
       |SELECT db.doc_id, CAST(sum(db.c) AS BIGINT) AS n_tokens,
       |  round(sum(db.c * r.lr), 4) + 0.0 AS dsir_logw
       |FROM db JOIN r USING (bucket)
       |GROUP BY db.doc_id""".stripMargin

  // ------------------------------------------------ NB quality classifier
  /** Hashed-feature Naive Bayes quality classifier — the "distill the
    * rules into a model" stage of the GPT-3/LLaMA curation recipe
    * (Brown et al. 2020 Appendix A; Touvron et al. 2023 §2): train a
    * cheap linear classifier on a labeled quality signal, then score the
    * whole corpus with it so the filter generalizes past the hand rules
    * that seeded it. Labels here are the [[TextOps.gopherRules]] verdict
    * (computed INLINE per row — no label join); features are unigrams
    * hashed into the same fixed [[DsirBuckets]]-bucket table as
    * [[dsirWeights]], so the model is a 1024-row frame whatever the
    * corpus size.
    *
    * Score = ln((d_pos+1)/(d_neg+1)) + Σ_buckets c ·
    * ln(((c_pos+1)/(n_pos+B)) / ((c_neg+1)/(n_neg+B))) — the
    * multinomial-NB log-odds with add-one smoothing on BOTH the priors
    * and the likelihoods: a corpus where one label class is empty (the
    * sf1 rehearsal corpus has zero rule-passing docs) must score
    * finitely, not ln(0). Zero-token docs are omitted (the
    * [[dsirWeights]] policy).
    *
    * Scale shape: identical to DSIR — one token scan feeds both the
    * bucket×label count table (1024 rows, map-side combined) and the
    * per-doc bucket counts; the model and the doc-count priors ride
    * broadcasts into the scoring join. The verdict itself is NOT emitted
    * as a boolean: near-zero log-odds differ across engines in the last
    * float bits, so the gate compares the 4dp-rounded score and leaves
    * thresholding to the caller. */
  def nbQuality(s: SparkSession, d: String): DataFrame =
    nbQualityOf(Tables.documents(s, d))

  private[graft] def nbQualityOf(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val B = DsirBuckets
    val labeled = TextOps.withGopherMetrics(docs)
      .select($"doc_id", $"gopher_keep".as("pos"), $"toks")
    val toks = labeled.select($"doc_id", $"pos", explode($"toks").as("word"))
      .withColumn("bucket",
        conv(substring(md5($"word"), 1, 8), 16, 10).cast("long") % B)
    val perBucket = toks.groupBy($"bucket").agg(
      sum(when($"pos", 1L).otherwise(0L)).as("c_pos"),
      sum(when($"pos", 0L).otherwise(1L)).as("c_neg"))
    val totals = perBucket.agg(
      sum($"c_pos").cast("double").as("n_pos"),
      sum($"c_neg").cast("double").as("n_neg"))
    val priors = labeled.agg(
      sum(when($"pos", 1L).otherwise(0L)).cast("double").as("d_pos"),
      sum(when($"pos", 0L).otherwise(1L)).cast("double").as("d_neg"))
    val model = perBucket.crossJoin(broadcast(totals))
      .withColumn("lw",
        log((($"c_pos" + 1) / ($"n_pos" + B)) / (($"c_neg" + 1) / ($"n_neg" + B))))
      .select($"bucket", $"lw")
    val docBuckets = toks.groupBy($"doc_id", $"bucket").agg(count(lit(1)).as("c"))
    docBuckets.join(broadcast(model), "bucket")
      .groupBy($"doc_id")
      .agg(sum($"c").as("n_tokens"), sum($"c" * $"lw").as("evid"))
      .crossJoin(broadcast(priors))
      .select($"doc_id", $"n_tokens",
        (round(log(($"d_pos" + 1) / ($"d_neg" + 1)) + $"evid", 4) + lit(0.0)).as("nb_logodds"))
  }

  /** DuckDB twin of [[nbQuality]] — the [[dsirWeightsOracle]] float
    * discipline: per-bucket log-weights are bit-equal (same smoothing
    * algebra, same evaluation order), only the per-doc sum crosses the
    * 4dp rounding; the gopher label is [[TextOps.gopherKeepSql]], the
    * integer-space form whose parity [[TextOps.gopherRulesOracle]]
    * already pins. */
  val nbQualityOracle: String =
    s"""WITH ${TextOps.gopherCtes("doc_id")},
       |lab AS (SELECT doc_id, toks, ${TextOps.gopherKeepSql} AS pos FROM gm),
       |tb AS (SELECT doc_id, pos,
       |    CAST(('0x' || substr(md5(word), 1, 8)) AS BIGINT) % $DsirBuckets AS bucket
       |  FROM (SELECT doc_id, pos, unnest(toks) AS word FROM lab)),
       |pb AS (SELECT bucket,
       |    sum(CASE WHEN pos THEN 1 ELSE 0 END) AS c_pos,
       |    sum(CASE WHEN pos THEN 0 ELSE 1 END) AS c_neg
       |  FROM tb GROUP BY bucket),
       |t AS (SELECT CAST(sum(c_pos) AS DOUBLE) AS n_pos,
       |             CAST(sum(c_neg) AS DOUBLE) AS n_neg FROM pb),
       |pr AS (SELECT CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS DOUBLE) AS d_pos,
       |              CAST(sum(CASE WHEN pos THEN 0 ELSE 1 END) AS DOUBLE) AS d_neg FROM lab),
       |m AS (SELECT bucket,
       |    ln(((c_pos + 1) / (n_pos + $DsirBuckets)) /
       |       ((c_neg + 1) / (n_neg + $DsirBuckets))) AS lw
       |  FROM pb CROSS JOIN t),
       |db AS (SELECT doc_id, bucket, count(*) AS c FROM tb GROUP BY 1, 2)
       |SELECT db.doc_id, CAST(sum(db.c) AS BIGINT) AS n_tokens,
       |  round(ln((pr.d_pos + 1) / (pr.d_neg + 1)) + sum(db.c * m.lw), 4) + 0.0 AS nb_logodds
       |FROM db JOIN m USING (bucket) CROSS JOIN pr
       |GROUP BY db.doc_id, pr.d_pos, pr.d_neg""".stripMargin

  // -------------------------------------------------------- dataset card
  /** Per-source dataset-card summary — the quantitative table a corpus
    * release ships (datasheet/data-statement practice): doc counts,
    * token mass and corpus share, language spread, mean document length,
    * and the Gopher-rule keep rate per source. One row per source, all
    * ratios in exact integer micro-units.
    *
    * Scale shape: ONE scan computes every per-doc signal (token mass =
    * the ceil-quarter convention shared with [[lmBits]]; the gopher
    * verdict inline, as in [[nbQuality]]), map-side combines into the
    * \|sources\|-row aggregate, and the corpus total rides one scalar
    * subquery broadcast. Output is bounded by \|sources\| at any corpus
    * size. */
  def datasetCard(s: SparkSession, d: String): DataFrame =
    datasetCardOf(Tables.documents(s, d))

  private[graft] def datasetCardOf(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val perDoc = TextOps.withGopherMetrics(docs)
      .select($"source", $"lang", $"n_chars",
        expr("(n_chars + 3) div 4").as("tok"), $"gopher_keep".as("keep"))
    val bySource = perDoc.groupBy($"source").agg(
      count(lit(1)).as("n_docs"),
      sum($"tok").as("token_mass"),
      countDistinct($"lang").as("n_langs"),
      sum($"n_chars").as("sum_chars"),
      sum(when($"keep", 1L).otherwise(0L)).as("n_keep"))
    val total = bySource.agg(sum($"token_mass").as("mass_total"))
    bySource.crossJoin(broadcast(total))
      .select($"source", $"n_docs", $"token_mass", $"n_langs",
        expr("(token_mass * 1000000) div mass_total").as("share_micros"),
        expr("sum_chars div n_docs").as("mean_chars"),
        expr("(n_keep * 1000000) div n_docs").as("gopher_keep_micros"))
  }

  /** DuckDB twin of [[datasetCard]] — the [[TextOps.gopherKeepSql]]
    * verdict, the lmBits ceil-quarter token mass, integer `//` ratios. */
  val datasetCardOracle: String =
    s"""WITH ${TextOps.gopherCtes("source, lang, n_chars")},
       |pd AS (SELECT source, lang, n_chars,
       |    CAST((n_chars + 3) // 4 AS BIGINT) AS tok,
       |    ${TextOps.gopherKeepSql} AS keep
       |  FROM gm),
       |b AS (SELECT source, count(*) AS n_docs,
       |    CAST(sum(tok) AS BIGINT) AS token_mass,
       |    count(DISTINCT lang) AS n_langs,
       |    CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       |    CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_keep
       |  FROM pd GROUP BY source),
       |t AS (SELECT CAST(sum(token_mass) AS BIGINT) AS mass_total FROM b)
       |SELECT source, n_docs, token_mass, n_langs,
       |  CAST((token_mass * 1000000) // t.mass_total AS BIGINT) AS share_micros,
       |  CAST(sum_chars // n_docs AS BIGINT) AS mean_chars,
       |  CAST((n_keep * 1000000) // n_docs AS BIGINT) AS gopher_keep_micros
       |FROM b CROSS JOIN t""".stripMargin

  /** Cross-source duplication-leakage matrix: for every pair of sources,
    * how many winnowing fingerprints (MOSS scheme, [[TextOps.winnowFingerprints]])
    * they share, plus a containment ratio normalized by the smaller side's
    * fingerprint vocabulary. This is the provenance-level contamination
    * report a mixture decision reads — two "independent" crawls sharing
    * most of their fingerprint mass are one source wearing two names, and
    * per-source mixture weights ([[mixWeights]]) silently double-count
    * them.
    *
    * Scale shape: one aggregation keyed on (fingerprint) collects the
    * ≤ |sources| distinct sources carrying it; the pair expansion is an
    * IN-ROW array transform over that set (≤ |sources|² values, here
    * ≤400, REGARDLESS of corpus size) — not a fingerprint self-join,
    * which would recompute the fingerprint subtree per side and fan out
    * per key at shuffle time. Both output branches (pair counts and
    * per-source fingerprint totals) read the same grouped subtree, so the
    * heavy exchanges are reuse candidates; the totals join back is a
    * |sources|-row broadcast. No all-pairs over documents anywhere. */
  def crossSourceOverlap(s: SparkSession, d: String): DataFrame =
    crossSourceOverlapOf(Tables.documents(s, d))

  private[graft] def crossSourceOverlapOf(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val srcFps = TextOps.winnowFingerprintsOf(docs)
      .join(docs.select($"doc_id", $"source"), "doc_id")
      .select($"source", $"fingerprint").distinct()
    // per fingerprint: the sorted set of sources carrying it (bounded by
    // |sources|); sort makes the in-row pair expansion emit a < b once
    val sets = srcFps.groupBy($"fingerprint")
      .agg(sort_array(collect_set($"source")).as("ss"))
    val counts = sets.select(explode($"ss").as("source"))
      .groupBy($"source").agg(count(lit(1)).as("n_fps"))
    val pairs = sets.select(explode(expr(
        "flatten(transform(ss, (a, i) -> " +
          "transform(slice(ss, i + 2, size(ss)), b -> struct(a AS sa, b AS sb))))"))
        .as("p"))
      .groupBy($"p.sa".as("source_a"), $"p.sb".as("source_b"))
      .agg(count(lit(1)).as("n_shared"))
    pairs
      .join(broadcast(counts.select($"source".as("source_a"), $"n_fps".as("n_a"))), "source_a")
      .join(broadcast(counts.select($"source".as("source_b"), $"n_fps".as("n_b"))), "source_b")
      .select($"source_a", $"source_b", $"n_shared",
        round($"n_shared" / least($"n_a", $"n_b"), 4).as("containment"))
  }

  /** DuckDB twin of [[crossSourceOverlap]] — reuses the winnowing CTE
    * chain ([[TextOps.winnowCtesFrom]]) whose hash parity is already
    * pinned by the fingerprint oracles. */
  val crossSourceOverlapOracle: String =
    s"""WITH ${TextOps.winnowCtes},
       |sf AS (SELECT DISTINCT d.source, f.fp
       |  FROM fps f JOIN documents d USING (doc_id)),
       |cnt AS (SELECT source, count(*) AS n FROM sf GROUP BY source),
       |p AS (SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_shared
       |  FROM sf a JOIN sf b USING (fp)
       |  WHERE a.source < b.source GROUP BY 1, 2)
       |SELECT p.source_a, p.source_b, p.n_shared,
       |  round(p.n_shared / least(ca.n, cb.n), 4) AS containment
       |FROM p JOIN cnt ca ON ca.source = p.source_a
       |       JOIN cnt cb ON cb.source = p.source_b""".stripMargin

  val tfidfTopTermsOracle: String =
    s"""WITH w AS (SELECT doc_id,
       |    unnest(${TextOps.tokensSql}) AS term
       |  FROM documents),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM w GROUP BY 1, 2),
       |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
       |n AS (SELECT count(*) AS n FROM documents),
       |scored AS (SELECT doc_id, term, tf, tf * ln(CAST(n AS DOUBLE) / df) AS tfidf
       |  FROM tf JOIN df USING (term) CROSS JOIN n),
       |ranked AS (SELECT doc_id, term, tf, tfidf,
       |  row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS rank
       |  FROM scored)
       |SELECT doc_id, term, tf, CAST(rank AS INT) AS rank,
       | round(tfidf, 4) AS tfidf
       |FROM ranked WHERE rank <= $TfidfTopK""".stripMargin

  // ----------------------------------------- domain distance (JS divergence)
  /** Per-source Jensen–Shannon divergence between the source's unigram
    * distribution and the corpus-wide distribution, in bits — the domain-
    * distance table behind mixture decisions (how far is each source from
    * the blend it's being mixed into; DoReMi/DSIR-adjacent diagnostics
    * read exactly this). JS rather than KL because it is finite when a
    * source misses corpus terms (KL(p‖q) would be fine too, but
    * KL(q‖p) = ∞ on any missing term — JS is the symmetric, bounded
    * member of the family, ≤ 1 bit).
    *
    * Vocabulary split: terms PRESENT in the source contribute the usual
    * two-sided term 0.5·p·log₂(2p/(p+q)) + 0.5·q·log₂(2q/(p+q)); terms
    * ABSENT contribute 0.5·q·log₂(2q/q) = 0.5·q, so their total is
    * 0.5·(1 − Σ_present q) in closed form — the per-source sum touches
    * only the source's own vocabulary, never the full cross product of
    * |sources| × |vocab|.
    *
    * Scale shape: one corpus-scan (source, word) count (map-side
    * combined); everything after is vocabulary-bounded — the word-global
    * frame derives from the (source, word) frame (no second scan), the
    * per-source and grand totals ride broadcasts. Doubles appear only in
    * the final log expression, 4-dp rounded on both engines with the
    * identical left-associated formula (the [[lmBits]] discipline). */
  def domainJs(s: SparkSession, d: String): DataFrame =
    domainJsOf(Tables.documents(s, d))

  private[graft] def domainJsOf(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val sw = docs
      .select(explode(TextOps.tokens).as("word"), $"source")
      .groupBy($"source", $"word").agg(count(lit(1)).as("tf"))
    val bySource = sw.groupBy($"source").agg(sum($"tf").as("t_s"))
    val byWord = sw.groupBy($"word").agg(sum($"tf").as("tf_w"))
    val total = byWord.agg(sum($"tf_w").as("t"))
    sw.join(broadcast(bySource), "source")
      .join(byWord, "word")
      .crossJoin(broadcast(total))
      .withColumn("p", expr("CAST(tf AS DOUBLE) / t_s"))
      .withColumn("q", expr("CAST(tf_w AS DOUBLE) / t"))
      .withColumn("contrib", expr(
        """0.5 * p * log(2.0, 2.0 * p / (p + q))
          | + 0.5 * q * log(2.0, 2.0 * q / (p + q))""".stripMargin))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_terms"),
        sum($"contrib").as("jsum"), sum($"q").as("cov"))
      .select($"source", $"n_terms",
        round(expr("jsum + 0.5 * (1.0 - cov)"), 4).as("js_bits"))
      .orderBy($"source")
  }

  /** DuckDB twin of [[domainJs]] — same split-vocabulary algebra,
    * ln(x)/ln(2) mirroring Spark's log(2.0, x). */
  val domainJsOracle: String =
    s"""WITH sw AS (SELECT source,
      |    unnest(${TextOps.tokensSql}) AS word
      |  FROM documents),
      |c AS (SELECT source, word, CAST(count(*) AS BIGINT) AS tf
      |  FROM sw GROUP BY 1, 2),
      |bs AS (SELECT source, CAST(sum(tf) AS BIGINT) AS t_s FROM c GROUP BY source),
      |bw AS (SELECT word, CAST(sum(tf) AS BIGINT) AS tf_w FROM c GROUP BY word),
      |tt AS (SELECT CAST(sum(tf_w) AS BIGINT) AS t FROM bw),
      |e AS (SELECT c.source,
      |    CAST(c.tf AS DOUBLE) / bs.t_s AS p,
      |    CAST(bw.tf_w AS DOUBLE) / tt.t AS q
      |  FROM c JOIN bs USING (source) JOIN bw USING (word) CROSS JOIN tt)
      |SELECT source, CAST(count(*) AS BIGINT) AS n_terms,
      |  round(sum(0.5 * p * (ln(2.0 * p / (p + q)) / ln(2))
      |      + 0.5 * q * (ln(2.0 * q / (p + q)) / ln(2)))
      |    + 0.5 * (1.0 - sum(q)), 4) AS js_bits
      |FROM e GROUP BY source
      |ORDER BY source""".stripMargin
}
