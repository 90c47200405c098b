package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.engine.{Builtins, KV, MapleJuice}
import org.apache.spark.sql.Encoders

/** The reference's two shipped applications — word count and reverse
  * web-link graph (SURVEY.md §2.3 A1–A4) — each expressed twice:
  *
  *   1. through the [[graft.engine.MapleJuice]] typed API (proving the
  *      reference's Maple/Juice programming model runs on the engine), and
  *   2. as a pure declarative DataFrame plan (the Spark-first form Catalyst
  *      can fully optimize — partial aggregation, codegen'd split/explode).
  *
  * Both forms share one DuckDB oracle per app: identical results by
  * construction is the point.
  *
  * Plus the text-analysis operator family a training-data pipeline needs
  * (token stats, quality scoring, language ID, fingerprinting) — all
  * builtin-function plans except language ID (heuristic, scored in Scala).
  */
object TextOps {

  // ------------------------------------------------------------- tokenizer
  /** The one word tokenizer of every text, retrieval and dedup operator: a
    * token is a maximal run of characters outside [[Blanks]]; the empty
    * tokens a leading or trailing blank run (or the empty text) leaves
    * are dropped. [[tokens]] is the engine column over `text`,
    * [[tokensSqlOf]] its DuckDB twin — both split on the same regex
    * text. The class is spelled out rather than written `\s` because the
    * two engines disagree on `\s`: Java's is `[ \t\n\x0B\f\r]`, RE2's
    * leaves out `\x0B`, so DuckDB would keep "a\x0Bb" as one token where
    * Spark yields two. Unicode blanks (NBSP, U+2003) split in neither. */
  private[graft] val Blanks = "[ \\t\\n\\x0B\\f\\r]+"

  /** Engine tokens of the `text` column (array<string>). */
  private[graft] def tokens: Column = filter(split(col("text"), Blanks), _ =!= "")

  /** DuckDB twin of [[tokens]] over a text-valued SQL expression. */
  private[graft] def tokensSqlOf(text: String): String =
    s"list_filter(string_split_regex($text, '$Blanks'), x -> x <> '')"

  /** [[tokensSqlOf]] over the `text` column. */
  private[graft] def tokensSql: String = tokensSqlOf("text")

  // ----------------------------------------------------------- word count
  // The A1–A4 Maple/Juice bodies (reference `applications/wc-*.py`,
  // `rwlg-*.py`) live in `graft.engine.Builtins`; word count splits on the
  // tokenizer above in the engine, the declarative plan and the oracle.

  /** Word count driven through the Maple/Juice engine (typed path). */
  def wcMapleJuice(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val mj = new MapleJuice(s)
    val lines = Tables.documents(s, d).select($"text").as[String]
    mj.runOn(lines, Builtins.wcMaple, Builtins.wcJuice)
      .select($"key".as("word"), $"value".cast("long").as("cnt"))
  }

  /** Word count through the engine's algebraic-juice fast path: a typed
    * `Aggregator` gets map-side partial aggregation (the Hadoop-combiner
    * analog, SURVEY.md §2.1 D4) instead of shipping every ("word","1")
    * pair through the shuffle — the scale-correct form of A2. */
  def wcMapleJuiceAggregated(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val mj = new MapleJuice(s)
    val lines = Tables.documents(s, d).select($"text").as[String]
    val inter = mj.maple(lines, Builtins.wcMaple)
    val counts = new org.apache.spark.sql.expressions.Aggregator[KV, Long, Long] {
      def zero: Long = 0L
      def reduce(b: Long, kv: KV): Long = b + kv.value.toLong
      def merge(a: Long, b: Long): Long = a + b
      def finish(r: Long): Long = r
      def bufferEncoder: org.apache.spark.sql.Encoder[Long] = Encoders.scalaLong
      def outputEncoder: org.apache.spark.sql.Encoder[Long] = Encoders.scalaLong
    }
    mj.juiceAggregated(inter, counts).toDF("word", "cnt")
  }

  /** Word count as the declarative plan (explode + hash aggregate with
    * map-side partial counts — the combiner the reference lacked). */
  def wcDataFrame(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(explode(tokens).as("word"))
      .groupBy(col("word"))
      .agg(count(lit(1)).as("cnt"))

  val wcOracle: String =
    s"""SELECT word, count(*) AS cnt FROM (
      |  SELECT unnest($tokensSql) AS word FROM documents) t
      |GROUP BY word""".stripMargin

  // ------------------------------------------------- reverse web-link graph
  /** RWLG through the Maple/Juice engine: reverse `source,target` edges,
    * gather a sorted distinct adjacency list per target. Edge list here:
    * lineitem's (part → supplier) pairs, stringly-typed exactly like the
    * reference. */
  def rwlgMapleJuice(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val mj = new MapleJuice(s)
    val edges = Tables.lineitem(s, d)
      .select(concat_ws(",", $"l_partkey", $"l_suppkey").as("line")).as[String]
    mj.runOn(edges, Builtins.rwlgMaple, Builtins.rwlgJuice)
      .select($"key".as("target"), $"value".as("sources"))
  }

  /** RWLG as the declarative plan: project-rename + collect_set +
    * sort_array + array_join (SURVEY.md §2.3 A3/A4 Spark mapping). */
  def rwlgDataFrame(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, d)
      .select($"l_suppkey".cast("string").as("target"),
        $"l_partkey".cast("string").as("source"))
      .groupBy($"target")
      .agg(array_join(sort_array(collect_set($"source")), ",").as("sources"))
  }

  val rwlgOracle: String =
    """SELECT CAST(l_suppkey AS VARCHAR) AS target,
      | array_to_string(list_sort(list_distinct(list(CAST(l_partkey AS VARCHAR)))), ',') AS sources
      |FROM lineitem GROUP BY 1""".stripMargin

  // ---------------------------------------------------------- token stats
  /** Token counting: whitespace tokenization + a crude BPE-ish subword
    * estimate (ceil(chars/4) per token, the common LLM rule of thumb). */
  def tokenStats(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .withColumn("toks", tokens)
      .select(
        $"doc_id",
        size($"toks").as("n_tokens"),
        expr("aggregate(toks, 0L, (a, x) -> a + length(x))").as("n_token_chars"),
        expr("aggregate(toks, 0L, (a, x) -> a + CAST(ceil(length(x) / 4.0) AS LONG))")
          .as("n_subwords_est"),
        round(expr("aggregate(toks, 0L, (a, x) -> a + length(x))") /
          cast2d(size($"toks")), 4).as("avg_token_len"))
  }

  private def cast2d(c: org.apache.spark.sql.Column) = c.cast("double")

  val tokenStatsOracle: String =
    s"""WITH t AS (SELECT doc_id,
      |  $tokensSql AS toks
      |  FROM documents)
      |SELECT doc_id,
      | len(toks) AS n_tokens,
      | CAST(list_sum(list_transform(toks, x -> length(x))) AS BIGINT) AS n_token_chars,
      | CAST(list_sum(list_transform(toks, x -> CAST(ceil(length(x) / 4.0) AS BIGINT))) AS BIGINT) AS n_subwords_est,
      | round(CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE)
      |       / CAST(len(toks) AS DOUBLE), 4) AS avg_token_len
      |FROM t""".stripMargin

  // ------------------------------------------------------------- chunking
  /** Chunk window/stride in whitespace tokens — gate-scale settings (the
    * synthetic docs run 20–80 tokens, so long docs yield 2–3 overlapping
    * chunks); production context/overlap are the obvious knobs. */
  val ChunkSize = 32
  val ChunkStride = 24

  /** Document CHUNKING — [[graft.operators.Sampling.packSequences]]'s
    * counterpart: packing joins short docs into one context window, this
    * splits long docs into [[ChunkSize]]-token windows every
    * [[ChunkStride]] tokens (overlap = size − stride preserves context at
    * the cuts), the preprocessing step both RAG indexing and long-doc
    * training share. Emits (doc_id, chunk_no, start_tok, n_chunk_tokens,
    * chunk_text); a doc of n tokens yields 1 + ⌊(max(n,1)−1)/stride⌋
    * chunks (an empty doc yields one empty chunk — the consumer decides
    * emptiness policy, the chunker stays total).
    *
    * Fully declarative — tokenize, `posexplode(sequence(...))`, `slice`,
    * `array_join`, all codegen'd builtins; map-only plan (census: 0
    * shuffles), so it scales like any projection. */
  def chunkDocuments(s: SparkSession, d: String): DataFrame =
    chunkDocumentsOf(Tables.documents(s, d))

  private[graft] def chunkDocumentsOf(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs
      .withColumn("toks", tokens)
      .withColumn("n", size($"toks"))
      .select($"doc_id", $"toks", $"n",
        posexplode(expr(
          s"sequence(0, cast((greatest(n, 1) - 1) / $ChunkStride as int) * $ChunkStride, $ChunkStride)"))
          .as(Seq("chunk_no", "start_tok")))
      .select($"doc_id", $"chunk_no",
        $"start_tok",
        least(lit(ChunkSize), greatest($"n" - $"start_tok", lit(0)))
          .as("n_chunk_tokens"),
        array_join(slice($"toks", $"start_tok" + 1, lit(ChunkSize)), " ")
          .as("chunk_text"))
  }

  /** DuckDB twin of [[chunkDocuments]]: same tokenization, same
    * start-position arithmetic via `range` + `unnest`, 1-based inclusive
    * list slicing mirroring Spark's `slice(arr, start, length)`. */
  val chunkDocumentsOracle: String =
    s"""WITH t AS (SELECT doc_id,
       |    $tokensSql AS toks
       |  FROM documents),
       |n AS (SELECT doc_id, toks, len(toks) AS n FROM t),
       |c AS (SELECT doc_id, toks, n, u.s AS start_tok,
       |    CAST(u.s // $ChunkStride AS INT) AS chunk_no
       |  FROM n, unnest(range(0, (greatest(n, 1) - 1) // $ChunkStride * $ChunkStride + 1,
       |                        $ChunkStride)) AS u(s))
       |SELECT doc_id, chunk_no, CAST(start_tok AS INT) AS start_tok,
       |  CAST(least($ChunkSize, greatest(n - start_tok, 0)) AS INT) AS n_chunk_tokens,
       |  array_to_string(toks[start_tok + 1 : start_tok + $ChunkSize], ' ') AS chunk_text
       |FROM c""".stripMargin

  // ------------------------------------------------ BPE-ish pre-tokenizer
  /** GPT-2-style pre-tokenization segments: letter runs / digit runs /
    * punctuation runs, each optionally preceded by one space, plus
    * whitespace runs — the standard first stage before BPE merges. Both
    * engines use leftmost-first alternation, so counts agree exactly. */
  private val bpePattern = " ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+"

  def bpeTokens(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .withColumn("segs", regexp_extract_all($"text", lit(bpePattern), lit(0)))
      .select($"doc_id",
        size($"segs").as("n_segments"),
        size(array_distinct($"segs")).as("n_distinct_segments"))
  }

  val bpeTokensOracle: String =
    """SELECT doc_id,
      | len(regexp_extract_all(text, ' ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+')) AS n_segments,
      | len(list_distinct(regexp_extract_all(text, ' ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+'))) AS n_distinct_segments
      |FROM documents""".stripMargin

  // ----------------------------------------------- BPE merge candidates
  /** Top merge-candidate table size. */
  val BpeMergeTopK = 50

  /** The first round of BPE TRAINING: corpus-weighted counts of adjacent
    * character pairs within words, top-[[BpeMergeTopK]] — the table a
    * tokenizer-training run consults to pick its next merge (Sennrich et
    * al. 2016's core loop; successive rounds re-run over the merged
    * symbol stream, the driver loop belongs to the consumer).
    *
    * Scale shape: the corpus collapses to the VOCABULARY at the very
    * first aggregate (word-frequency groupBy, map-side combined — the
    * "aardvark aardvark aardvark" corpus ships ONE (word, count) row per
    * map partition, not a row per occurrence); the pair explode then runs
    * over vocab rows only, the pair aggregate has ≤ |alphabet|² keys, and
    * the global top-k plans as TakeOrderedAndProject — no global sort.
    * Ties at the cut are impossible to mis-order: (cnt DESC, a, b) is a
    * total order over unique (a, b) groups. */
  def bpeMergeCandidates(s: SparkSession, d: String): DataFrame =
    bpeMergeCandidatesOf(Tables.documents(s, d))

  /** [[bpeMergeCandidates]] over an arbitrary (text) frame. */
  private[graft] def bpeMergeCandidatesOf(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs.select(explode(tokens).as("w"))
      .groupBy($"w").agg(count(lit(1)).as("f"))
      // one-char words contain no adjacent pair
      .filter(length($"w") >= 2)
      .select($"w", $"f",
        explode(sequence(lit(0), length($"w") - 2)).as("i"))
      .select(expr("substring(w, i+1, 1)").as("a"),
        expr("substring(w, i+2, 1)").as("b"), $"f")
      .groupBy($"a", $"b").agg(sum($"f").as("cnt"))
      .orderBy($"cnt".desc, $"a".asc, $"b".asc)
      .limit(BpeMergeTopK)
  }

  /** DuckDB twin: same whitespace words, same 1-based char `substr`
    * positions (both engines are character- not byte-indexed), same
    * total-order cut. */
  val bpeMergeCandidatesOracle: String =
    s"""WITH tok AS (SELECT unnest($tokensSql) AS w FROM documents),
       |wf AS (SELECT w, count(*) AS f FROM tok GROUP BY w HAVING length(w) >= 2),
       |pairs AS (SELECT substr(w, CAST(i + 1 AS INT), 1) AS a,
       |    substr(w, CAST(i + 2 AS INT), 1) AS b, f
       |  FROM wf, unnest(range(length(w) - 1)) AS t(i))
       |SELECT a, b, CAST(sum(f) AS BIGINT) AS cnt
       |FROM pairs GROUP BY a, b
       |ORDER BY cnt DESC, a ASC, b ASC LIMIT $BpeMergeTopK""".stripMargin

  // ------------------------------------------------- iterative BPE trainer
  /** Fixed merge-round count for [[bpeTrain]] — the
    * [[graft.operators.Graph.PrIters]] fixed-iteration discipline:
    * deterministic and finite-CTE-replayable where looping to a
    * vocabulary-size target is not. */
  val BpeTrainRounds = 10

  /** TRUE iterative BPE training (Sennrich et al. 2016 §3, the actual
    * loop): [[BpeTrainRounds]] rounds of count-adjacent-pairs →
    * argmax → merge-rewrite over the vocabulary. This is what
    * [[bpeMergeCandidates]] (one-shot pair counting) is NOT: merge k
    * changes the pair statistics merge k+1 sees — after `(a,a)` merges,
    * round 2 counts pairs over `aa` SYMBOLS, and later rounds routinely
    * pick multi-character pairs like `(aa, ab)` that a one-shot count
    * can never surface (TextSpec pins a 3-round hand example where the
    * two diverge). Output: the learned merge table
    * (merge_rank, a, b, cnt) with cnt as counted AT SELECTION TIME.
    *
    * Scale shape: the corpus collapses to the VOCABULARY at the first
    * aggregate (word-frequency groupBy, map-side combined) and never
    * re-expands — each round is one pair aggregate over |vocab| rows
    * (≤ |vocab|·maxlen pair rows, symbol count shrinks monotonically), a
    * TakeOrderedAndProject argmax whose single row is the ONLY driver
    * traffic (the [[bpeApply]] constant-traffic class: K rows total),
    * and one map-only rewrite; lineage cut per round. The rewrite uses the
    * same delimiter-framed scan-left `replace` semantics as
    * [[bpeApply]], so JVM and DuckDB agree bit-for-bit. */
  def bpeTrain(s: SparkSession, d: String): DataFrame =
    bpeTrainOf(Tables.documents(s, d))

  /** [[bpeTrain]] over an arbitrary (text) frame. */
  private[graft] def bpeTrainOf(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    var vocab = docs.select(explode(tokens).as("w"))
      .groupBy($"w").agg(count(lit(1)).as("f"))
      .select(concat(regexp_replace($"w", "(.)", " $1"), lit(" ")).as("e"), $"f")
      .localCheckpoint()
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    var exhausted = false
    for (k <- 1 to BpeTrainRounds if !exhausted) {
      val best = vocab
        .select($"f", split(trim($"e"), " ").as("syms"))
        .filter(size($"syms") >= 2)
        .select($"f", explode(expr(
          "transform(sequence(0, size(syms) - 2), i -> struct(syms[i] AS a, syms[i+1] AS b))")).as("p"))
        .groupBy($"p.a".as("a"), $"p.b".as("b")).agg(sum($"f").as("cnt"))
        .orderBy($"cnt".desc, $"a".asc, $"b".asc).limit(1)
        .collect()
      if (best.isEmpty) exhausted = true // every word is one symbol already
      else {
        val (a, b, cnt) =
          (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        merges += ((k.toLong, a, b, cnt))
        vocab = vocab.select(
            org.apache.spark.sql.functions.replace(
              $"e", lit(s" $a $b "), lit(s" $a$b ")).as("e"), $"f")
          .localCheckpoint()
      }
    }
    merges.toSeq.toDF("merge_rank", "a", "b", "cnt")
  }

  /** DuckDB twin of [[bpeTrain]]: the same rounds unrolled as an
    * `AS MATERIALIZED` CTE chain (`v0, p1, b1, v1, …` — the
    * [[graft.operators.Graph.componentsOracle]] template; MATERIALIZED
    * because inlining K rounds of scalar-subquery rewrites re-derives
    * the whole prefix per round), each
    * round: pair counts over the split symbol stream, `LIMIT 1` under
    * the identical (cnt DESC, a, b) total order, delimiter-framed
    * `replace` rewrite via scalar subqueries on the one-row argmax. */
  lazy val bpeTrainOracle: String = {
    val rounds = (1 to BpeTrainRounds).map { k =>
      s"""p$k AS MATERIALIZED (SELECT syms[CAST(i + 1 AS INT)] AS a,
         |    syms[CAST(i + 2 AS INT)] AS b, CAST(sum(f) AS BIGINT) AS cnt
         |  FROM (SELECT string_split(trim(e), ' ') AS syms, f FROM v${k - 1}),
         |    unnest(range(len(syms) - 1)) AS t(i)
         |  GROUP BY 1, 2),
         |b$k AS MATERIALIZED (SELECT a, b, cnt FROM p$k
         |  ORDER BY cnt DESC, a ASC, b ASC LIMIT 1),
         |v$k AS MATERIALIZED (SELECT replace(e,
         |    ' ' || (SELECT a FROM b$k) || ' ' || (SELECT b FROM b$k) || ' ',
         |    ' ' || (SELECT a FROM b$k) || (SELECT b FROM b$k) || ' ') AS e, f
         |  FROM v${k - 1})""".stripMargin
    }.mkString(",\n")
    val out = (1 to BpeTrainRounds).map { k =>
      s"SELECT CAST($k AS BIGINT) AS merge_rank, a, b, cnt FROM b$k"
    }.mkString("\nUNION ALL\n")
    s"""WITH tok AS (SELECT unnest($tokensSql) AS w FROM documents),
       |wf AS (SELECT w, count(*) AS f FROM tok GROUP BY w),
       |v0 AS MATERIALIZED (SELECT regexp_replace(w, '(.)', ' \\1', 'g') || ' ' AS e, f
       |  FROM wf),
       |$rounds
       |$out""".stripMargin
  }

  // ---------------------------------------------------- BPE merge application
  /** The third tokenizer stage: ENCODE the corpus with the trained merge
    * table — [[bpeTrain]] learns the iterative merge list; this applies
    * it, Sennrich et al. 2016 §3 style ("apply the merges in the order
    * they were learned"). Each word becomes a delimiter-framed
    * symbol stream (`" t h e "`), and merge k rewrites every
    * non-overlapping occurrence of `" a b "` to `" ab "` — plain string
    * replace, scan-left-continue-after-replacement, the SAME semantics in
    * the JVM and DuckDB, which is what makes the encode hash-matchable.
    * The delimiter framing makes each replace symbol-boundary-safe (a `b`
    * inside the merged symbol `ab` can never participate in a later
    * match). Emitted per doc: word count, post-merge BPE token count, and
    * merges applied (= chars − tokens).
    *
    * Scale shape: training is the already-bounded [[bpeMergeCandidates]]
    * aggregate (vocab-collapsed, ≤ |alphabet|² keys, constant top-k to
    * the driver); the encode is a MAP-ONLY pass — 50 codegen'd chained
    * `replace` expressions under a literal merge list, no shuffle until
    * the per-doc count aggregate. A deployment with a fat vocabulary
    * would factor the encode through `distinct(word)` exactly like
    * training does; the gate keeps the per-occurrence form because at
    * ≤ 50 rules the encode is cheaper than the extra shuffle. */
  def bpeApply(s: SparkSession, d: String): DataFrame =
    bpeApplyOf(Tables.documents(s, d))

  /** Per-word-occurrence encode under the trained merge table: one row
    * per (doc, word occurrence) with the word's char count and its
    * post-merge symbol count — the shared frame behind [[bpeApplyOf]]'s
    * per-doc rollup and [[vocabCoverageOf]]'s per-source fertility
    * report. Map-only (the merge list is a ≤ [[BpeTrainRounds]]-row
    * literal folded into 50 chained codegen'd `replace`s). */
  private def bpePerWordOf(docs: DataFrame,
      passthrough: Seq[String] = Nil): DataFrame = {
    import docs.sparkSession.implicits._
    // the TRAINED merge list ([[bpeTrainOf]], applied in learned order —
    // "apply the merges in the order they were learned", Sennrich §3) —
    // constant-size driver traffic (≤ BpeTrainRounds rows)
    val merges = bpeTrainOf(docs).orderBy("merge_rank").select("a", "b").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val spaced = concat(regexp_replace($"w", "(.)", " $1"), lit(" "))
    val encoded = merges.foldLeft(spaced) { case (c, (a, b)) =>
      org.apache.spark.sql.functions.replace(c, lit(s" $a $b "), lit(s" $a$b "))
    }
    val extra = passthrough.map(col)
    docs.select(($"doc_id" +: extra :+ explode(tokens).as("w")): _*)
      .select(($"doc_id" +: extra :+ length($"w").as("n_chars") :+
        // " s1 s2 ... sk " carries k+1 delimiters
        (length(encoded) -
          length(org.apache.spark.sql.functions.replace(encoded, lit(" "), lit(""))) -
          1).cast("long").as("n_sym")): _*)
  }

  /** [[bpeApply]] over an arbitrary (doc_id, text) frame. */
  private[graft] def bpeApplyOf(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val perWord = bpePerWordOf(docs)
    val agg = perWord.groupBy($"doc_id").agg(
      count(lit(1)).as("n_words"),
      sum($"n_sym").as("n_bpe_tokens"),
      (sum($"n_chars") - sum($"n_sym")).as("n_merges"))
    // zero-word docs keep a zero row (oracle row-count parity)
    docs.select($"doc_id").join(agg, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"n_words", lit(0L)).as("n_words"),
        coalesce($"n_bpe_tokens", lit(0L)).as("n_bpe_tokens"),
        coalesce($"n_merges", lit(0L)).as("n_merges"))
  }

  /** DuckDB twin of [[bpeApply]]: the [[bpeTrainOracle]] twin as a
    * derived table, its rank-ordered (from, to) patterns folded over
    * each word's spaced char stream with `list_reduce` + `replace` — the same
    * scan-left-continue-after semantics as the JVM chain. The
    * VARCHAR-index fold (indices cast to VARCHAR so the accumulator and
    * elements share `list_reduce`'s one type) works around DuckDB's
    * single-type fold lists. */
  lazy val bpeApplyOracle: String =
    s"""WITH merges AS (SELECT merge_rank, a, b FROM ($bpeTrainOracle)),
       |ml AS (SELECT
       |    list(' ' || a || ' ' || b || ' ' ORDER BY merge_rank) AS fr,
       |    list(' ' || a || b || ' ' ORDER BY merge_rank) AS t2
       |  FROM merges),
       |tok AS (SELECT doc_id, unnest($tokensSql) AS w FROM documents),
       |enc AS (SELECT doc_id, length(w) AS n_chars,
       |    length(e) - length(replace(e, ' ', '')) - 1 AS n_sym
       |  FROM (SELECT doc_id, w,
       |      list_reduce(list_prepend(regexp_replace(w, '(.)', ' \\1', 'g') || ' ',
       |        list_transform(range(1, len(fr) + 1), i -> CAST(i AS VARCHAR))),
       |        (acc, x) -> replace(acc, fr[CAST(x AS INT)], t2[CAST(x AS INT)])) AS e
       |    FROM tok CROSS JOIN ml)),
       |agg AS (SELECT doc_id, count(*) AS n_words,
       |    CAST(sum(n_sym) AS BIGINT) AS n_bpe_tokens,
       |    CAST(sum(n_chars) - sum(n_sym) AS BIGINT) AS n_merges
       |  FROM enc GROUP BY doc_id)
       |SELECT d.doc_id,
       |  coalesce(a.n_words, 0) AS n_words,
       |  coalesce(a.n_bpe_tokens, 0) AS n_bpe_tokens,
       |  coalesce(a.n_merges, 0) AS n_merges
       |FROM documents d LEFT JOIN agg a USING (doc_id)""".stripMargin

  // ------------------------------------------------ tokenizer fertility map
  /** Tokenizer-fertility report — the table a tokenizer owner reads after
    * (re)training to decide whether the vocabulary fits the corpus mix:
    * per `source`, how hard the trained BPE works. Fertility (BPE tokens
    * per word) and compression (chars per BPE token) are THE standard
    * tokenizer-quality metrics (cf. SentencePiece/tokenizers eval
    * practice); whole-word rate (word occurrences the merge table
    * collapses to ONE symbol) is the vocabulary-coverage signal — a
    * source whose fertility is high and whole-word rate near zero is
    * under-served by the vocab and will cost disproportionate sequence
    * length at training time. All ratios in exact integer micros
    * (`x * 1e6 div y`), the suite's float-free ratio idiom.
    *
    * Scale shape: the encode is [[bpePerWordOf]]'s map-only pass under
    * the broadcast-literal merge list; the report is one map-side-
    * combined aggregate keyed by (doc → source after a broadcast-able
    * doc→source projection rides the same scan — no second corpus read),
    * output bounded by |sources|. */
  def vocabCoverage(s: SparkSession, d: String): DataFrame =
    vocabCoverageOf(Tables.documents(s, d))

  private[graft] def vocabCoverageOf(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    // source rides the explode as a passthrough column, so the aggregate
    // needs no doc→source join and no second corpus scan
    val perWord = bpePerWordOf(docs, passthrough = Seq("source"))
    val agg = perWord.groupBy($"source").agg(
      countDistinct($"doc_id").as("n_docs_tokenized"),
      count(lit(1)).as("n_words"),
      sum($"n_sym").as("n_tokens"),
      sum($"n_chars").as("n_chars"),
      sum(when($"n_sym" === 1L, 1L).otherwise(0L)).as("n_whole_words"))
    agg.select($"source", $"n_docs_tokenized", $"n_words", $"n_tokens",
        $"n_chars",
        expr("n_tokens * 1000000L div n_words").as("fertility_micros"),
        expr("n_chars * 1000000L div n_tokens").as("chars_per_token_micros"),
        expr("n_whole_words * 1000000L div n_words").as("whole_word_micros"))
      .orderBy($"source")
  }

  /** DuckDB twin of [[vocabCoverage]]: the [[bpeApplyOracle]] encode CTEs
    * with the doc→source join and the per-source integer-micros rollup. */
  lazy val vocabCoverageOracle: String =
    s"""WITH merges AS (SELECT merge_rank, a, b FROM ($bpeTrainOracle)),
       |ml AS (SELECT
       |    list(' ' || a || ' ' || b || ' ' ORDER BY merge_rank) AS fr,
       |    list(' ' || a || b || ' ' ORDER BY merge_rank) AS t2
       |  FROM merges),
       |tok AS (SELECT doc_id, unnest($tokensSql) AS w FROM documents),
       |enc AS (SELECT doc_id, length(w) AS n_chars,
       |    length(e) - length(replace(e, ' ', '')) - 1 AS n_sym
       |  FROM (SELECT doc_id, w,
       |      list_reduce(list_prepend(regexp_replace(w, '(.)', ' \\1', 'g') || ' ',
       |        list_transform(range(1, len(fr) + 1), i -> CAST(i AS VARCHAR))),
       |        (acc, x) -> replace(acc, fr[CAST(x AS INT)], t2[CAST(x AS INT)])) AS e
       |    FROM tok CROSS JOIN ml)),
       |agg AS (SELECT d.source,
       |    count(DISTINCT e.doc_id) AS n_docs_tokenized,
       |    count(*) AS n_words,
       |    CAST(sum(e.n_sym) AS BIGINT) AS n_tokens,
       |    CAST(sum(e.n_chars) AS BIGINT) AS n_chars,
       |    CAST(sum(CASE WHEN e.n_sym = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_whole_words
       |  FROM enc e JOIN documents d USING (doc_id)
       |  GROUP BY d.source)
       |SELECT source, CAST(n_docs_tokenized AS BIGINT) AS n_docs_tokenized,
       |  CAST(n_words AS BIGINT) AS n_words, n_tokens, n_chars,
       |  CAST(n_tokens * 1000000 // n_words AS BIGINT) AS fertility_micros,
       |  CAST(n_chars * 1000000 // n_tokens AS BIGINT) AS chars_per_token_micros,
       |  CAST(n_whole_words * 1000000 // n_words AS BIGINT) AS whole_word_micros
       |FROM agg ORDER BY source""".stripMargin

  // ------------------------------------------------------- quality scoring
  /** Document quality scoring: length / punctuation / stopword / digit
    * ratios combined into one score — the standard pre-training text
    * filter, all codegen'd builtins. */
  def qualityScore(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    qualityMetricsOf(Tables.documents(s, d))
      .select(
        $"doc_id",
        $"n_toks".as("n_tokens"),
        round($"n_stop" / cast2d($"n_toks"), 4).as("stopword_ratio"),
        round($"n_punct" / cast2d(length($"text")), 4).as("punct_ratio"),
        round($"n_digit" / cast2d(length($"text")), 4).as("digit_ratio"),
        $"quality_score")
  }

  /** Shared scored-docs frame (token/stopword/punct/digit counts + the
    * 4dp composite `quality_score`) — ONE copy of the score formula,
    * selected from by [[qualityScore]] and [[qualityQuantileFilter]]. */
  private def qualityMetricsOf(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val stop = "('the','a','of','and','to','in','is','it')"
    docs
      .withColumn("toks", tokens)
      .withColumn("n_toks", size($"toks"))
      .withColumn("n_stop", expr(s"size(filter(toks, x -> x IN $stop))"))
      .withColumn("n_punct",
        length($"text") - length(regexp_replace($"text", "[.,!?;:]", "")))
      .withColumn("n_digit",
        length($"text") - length(regexp_replace($"text", "[0-9]", "")))
      .withColumn("quality_score",
        round(
          least(lit(1.0), $"n_toks" / 100.0) * 0.5 +
            ($"n_stop" / cast2d($"n_toks")) * 0.3 +
            (lit(1.0) - $"n_punct" / cast2d(length($"text"))) * 0.2, 4))
  }

  /** Per-source quality-quantile filter (the CCNet/RefinedWeb calibration
    * shape): a doc is kept iff its quality score is at or above its OWN
    * source's q-th percentile — a global threshold over-prunes sources
    * whose style scores systematically lower. Emits every doc with its
    * score, its source's threshold, and the keep verdict.
    *
    * Scale shape: the threshold table is one row per source (bounded, so
    * the join-back is an explicit `broadcast()`, the nation/region hint
    * class). `exact = true` (the gate/oracle mode) ranks with the exact
    * sort-based `percentile`; at 100 TB pass `exact = false` for
    * `approx_percentile` (KLL sketch, [[QualityApproxAcc]]) — one
    * map-side-combined pass, no per-source sort. TextSpec asserts both
    * modes agree at gate scale. */
  val QualityQuantile = 0.25
  val QualityApproxAcc = 10000

  def qualityQuantileFilter(s: SparkSession, d: String): DataFrame =
    qualityQuantileFilterOf(Tables.documents(s, d), exact = true)

  private[graft] def qualityQuantileFilterOf(
      docs: DataFrame, exact: Boolean): DataFrame = {
    import docs.sparkSession.implicits._
    // rank and threshold in INTEGER space (score × 10⁴, exact by the 4dp
    // grid): the interpolated percentile then works on small integers with
    // quarter fractions — every term exact in double, so engine and oracle
    // agree bit-for-bit regardless of interpolation arrangement, and the
    // keep compare can never hit the Spark-vs-DuckDB round-half knife edge
    // (the class the Multimodal fix documents)
    val sc = qualityMetricsOf(docs)
      .select($"doc_id", $"source", $"quality_score",
        expr("cast(round(quality_score * 10000) as bigint)").as("sx"))
    val thrExpr =
      if (exact) s"percentile(sx, $QualityQuantile)"
      else s"approx_percentile(sx, $QualityQuantile, $QualityApproxAcc)"
    val thr = sc.groupBy($"source").agg(expr(thrExpr).as("tx"))
    sc.join(broadcast(thr), "source")
      .select($"doc_id", $"source", $"quality_score",
        ($"tx" / 10000.0).as("src_thr"),
        ($"sx" >= $"tx").as("keep"))
  }

  /** Shared DuckDB twin of [[qualityMetricsOf]]: CTEs t/m/sc with sc
    * carrying the counts and the 4dp composite `quality_score`. The
    * prefix variant exists so a consumer whose own WITH chain already
    * uses these names (e.g. [[Dedup.keepBestOracle]], whose gram CTEs
    * claim `t`) can splice a collision-free copy of the SAME formula. */
  private[operators] def qualityCtesPrefixed(p: String): String =
    s"""${p}t AS (SELECT doc_id, source, text,
       |  $tokensSql AS toks
       |  FROM documents),
       |${p}m AS (SELECT doc_id, source, text, len(toks) AS n_toks,
       |  len(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is','it'))) AS n_stop,
       |  length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS n_punct,
       |  length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS n_digit
       |  FROM ${p}t),
       |${p}sc AS (SELECT doc_id, source, text, n_toks, n_stop, n_punct, n_digit,
       |  round(least(1.0, n_toks / 100.0) * 0.5
       |    + (n_stop / CAST(n_toks AS DOUBLE)) * 0.3
       |    + (1.0 - n_punct / CAST(length(text) AS DOUBLE)) * 0.2, 4) AS quality_score
       |  FROM ${p}m)""".stripMargin

  private val qualityCtes: String = qualityCtesPrefixed("")

  /** (doc_id, sx): the integer-space (score × 10⁴, exact on the 4dp grid)
    * quality score shared by [[qualityQuantileFilterOf]] and
    * [[Dedup.keepBest]] — comparisons on sx can never hit the
    * Spark-vs-DuckDB round-half knife edge. */
  private[operators] def qualitySxOf(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    qualityMetricsOf(docs).select($"doc_id",
      expr("cast(round(quality_score * 10000) as bigint)").as("sx"))
  }

  val qualityScoreOracle: String = "WITH " + qualityCtes + "\n" +
    """SELECT doc_id, n_toks AS n_tokens,
      | round(n_stop / CAST(n_toks AS DOUBLE), 4) AS stopword_ratio,
      | round(n_punct / CAST(length(text) AS DOUBLE), 4) AS punct_ratio,
      | round(n_digit / CAST(length(text) AS DOUBLE), 4) AS digit_ratio,
      | quality_score
      |FROM sc""".stripMargin

  /** DuckDB twin of [[qualityQuantileFilter]]: `quantile_cont` computes
    * the same linear interpolation at p·(n−1) as Spark's exact
    * `percentile` — over the same ×10⁴ INTEGER scores, where every
    * interpolation term is exact in double. */
  val qualityQuantileFilterOracle: String = "WITH " + qualityCtes + ",\n" +
    s"""scx AS (SELECT doc_id, source, quality_score,
       |  CAST(round(quality_score * 10000) AS BIGINT) AS sx FROM sc),
       |thr AS (SELECT source, quantile_cont(sx, $QualityQuantile) AS tx
       |  FROM scx GROUP BY source)
       |SELECT scx.doc_id, scx.source, scx.quality_score,
       |  thr.tx / 10000.0 AS src_thr,
       |  (scx.sx >= thr.tx) AS keep
       |FROM scx JOIN thr USING (source)""".stripMargin

  // ------------------------------------------------------ Gopher rule gate
  /** Gopher-style hard rule filter (Rae et al. 2021, §A.1.1) — the
    * boolean quality GATES every pre-training pipeline applies before any
    * soft scoring, complementing [[qualityScore]]'s composite. Rules kept
    * from the paper: word count in [50, 100,000]; mean word length in
    * [3, 10]; symbol-to-word ratio ('#' or '...') <= 0.1; >= 80% of words
    * contain an alphabetic character; >= 2 DISTINCT stopword hits. The
    * paper's two line-shape rules (bullet-line / ellipsis-line fractions)
    * are omitted: corpus documents are single-line by construction, so
    * both are degenerate on every input this engine sees (documented
    * divergence). The stop list is the engine's 8-word list (shared with
    * [[qualityScore]]) rather than Gopher's: the corpus vocabulary
    * contains only 'the'/'a' from Gopher's, which would pin the rule
    * constant-false — the >= 2-distinct-hits RULE is the shape.
    *
    * Scale shape: map-only, one pass, zero shuffles — every metric
    * computes from the token array in place, so the plan is a scan +
    * project at any corpus size. Every threshold compares in INTEGER
    * space (sum_len vs 3n/10n, 10·sym vs n, 5·alpha vs 4n, hits vs 2),
    * so the engine-vs-oracle round-half knife edge is impossible by
    * construction; displayed ratios use the shared ratio4 4dp form. */
  def gopherRules(s: SparkSession, d: String): DataFrame =
    gopherRulesOf(Tables.documents(s, d))

  /** The Gopher metric columns over a frame with a `text` column:
    * `toks`, `n_words`, `sum_len`, `n_sym`, `n_alpha`, `n_stop`, and the
    * combined `gopher_keep` verdict — THE one Scala copy of the rule
    * predicate ([[gopherCtes]] + [[gopherKeepSql]] is its one SQL
    * twin); [[gopherRulesOf]], `Corpus.nbQualityOf`, and
    * `Corpus.datasetCardOf` all read these columns rather than
    * re-deriving the thresholds. */
  private[graft] def withGopherMetrics(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val stop = "'the','a','of','and','to','in','is','it'"
    docs
      .withColumn("toks", tokens)
      .withColumn("n_words", size($"toks").cast("long"))
      .withColumn("sum_len",
        expr("aggregate(transform(toks, x -> length(x)), 0L, (a, x) -> a + x)"))
      .withColumn("n_sym", expr(
        "CAST(length(text) - length(replace(text, '#', '')) AS BIGINT) + " +
          "CAST((length(text) - length(replace(text, '...', ''))) div 3 AS BIGINT)"))
      .withColumn("n_alpha",
        expr("size(filter(toks, x -> x rlike '[a-z]'))").cast("long"))
      .withColumn("n_stop",
        expr(s"size(array_intersect(toks, array($stop)))").cast("long"))
      .withColumn("gopher_keep",
        $"n_words" >= 50L && $"n_words" <= 100000L &&
          $"sum_len" >= $"n_words" * 3 && $"sum_len" <= $"n_words" * 10 &&
          $"n_sym" * 10 <= $"n_words" &&
          $"n_alpha" * 5 >= $"n_words" * 4 &&
          $"n_stop" >= 2L)
  }

  /** [[gopherRules]] over an arbitrary (doc_id, text) frame — the
    * boundary-value spec's entry (each rule pinned AT its threshold). */
  private[graft] def gopherRulesOf(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    withGopherMetrics(docs)
      .select($"doc_id", $"n_words",
        Dedup.ratio4("sum_len", "n_words").as("mean_word_len"),
        Dedup.ratio4("n_sym", "n_words").as("symbol_ratio"),
        Dedup.ratio4("n_alpha", "n_words").as("alpha_frac"),
        $"n_stop".as("n_stop_distinct"),
        $"gopher_keep".as("keep"))
  }

  /** DuckDB twin of [[withGopherMetrics]]: CTE `gt` tokenizes
    * `documents`, CTE `gm` carries `cols`, `toks` and the five metric
    * columns; [[gopherKeepSql]] is the verdict over them. The one SQL copy
    * of the rule, read by [[gopherRulesOracle]], `Corpus.nbQualityOracle`
    * and `Corpus.datasetCardOracle`. */
  private[operators] def gopherCtes(cols: String): String =
    s"""gt AS (SELECT $cols, text,
       |  $tokensSql AS toks
       |  FROM documents),
       |gm AS (SELECT $cols, toks, CAST(len(toks) AS BIGINT) AS n_words,
       |  CAST(list_sum(list_transform(toks, x -> length(x))) AS BIGINT) AS sum_len,
       |  CAST((length(text) - length(replace(text, '#', '')))
       |    + (length(text) - length(replace(text, '...', ''))) // 3 AS BIGINT) AS n_sym,
       |  CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-z]'))) AS BIGINT) AS n_alpha,
       |  CAST(len(list_intersect(toks, ['the','a','of','and','to','in','is','it'])) AS BIGINT) AS n_stop
       |  FROM gt)""".stripMargin

  /** The Gopher keep verdict over the [[gopherCtes]] metric columns. */
  private[operators] val gopherKeepSql: String =
    """(n_words >= 50 AND n_words <= 100000
      |    AND sum_len >= n_words * 3 AND sum_len <= n_words * 10
      |    AND n_sym * 10 <= n_words
      |    AND n_alpha * 5 >= n_words * 4
      |    AND n_stop >= 2)""".stripMargin

  /** DuckDB twin of [[gopherRules]] — same integer-space thresholds, same
    * ratio4 display form ('//' = the engine's `div`). */
  val gopherRulesOracle: String =
    s"""WITH ${gopherCtes("doc_id")}
       |SELECT doc_id, n_words,
       |  ${Dedup.ratio4Sql("sum_len", "n_words")} AS mean_word_len,
       |  ${Dedup.ratio4Sql("n_sym", "n_words")} AS symbol_ratio,
       |  ${Dedup.ratio4Sql("n_alpha", "n_words")} AS alpha_frac,
       |  n_stop AS n_stop_distinct,
       |  $gopherKeepSql AS keep
       |FROM gm""".stripMargin

  // ------------------------------------------------------ blocklist filter
  /** C4-style term-blocklist gate (Raffel et al. 2020 §2.2 — the public
    * "List of Dirty, Naughty ..." word filter shape): a document is
    * dropped if ANY token appears on the blocklist. Emits the per-doc
    * blocked-token count alongside the verdict so the filter's aggression
    * is auditable (the C4 paper's own ablation concern).
    *
    * The list here is a stand-in over the synthetic vocabulary (one term
    * present in the corpus, one absent — so both the match and no-match
    * paths execute); the real deployment swaps the array. Map-only: the
    * token scan, the intersect, and the verdict all fuse into one
    * whole-stage-codegen projection over the scan — no shuffle, no UDF,
    * nothing leaves the stage. At 100 TB this is a free rider on whatever
    * scan the pipeline already does. */
  val Blocklist: Seq[String] = Seq("dup", "badword")

  def blocklistFilter(s: SparkSession, d: String): DataFrame =
    blocklistFilterOf(Tables.documents(s, d))

  private[graft] def blocklistFilterOf(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val listSql = Blocklist.map(w => s"'$w'").mkString(", ")
    docs
      .withColumn("toks", tokens)
      .withColumn("n_blocked",
        expr(s"size(filter(toks, x -> array_contains(array($listSql), x)))")
          .cast("long"))
      .select($"doc_id", $"n_blocked", ($"n_blocked" === 0L).as("keep"))
  }

  /** DuckDB twin of [[blocklistFilter]]. */
  val blocklistFilterOracle: String = {
    val listSql = Blocklist.map(w => s"'$w'").mkString(", ")
    s"""SELECT doc_id,
       | CAST(len(list_filter($tokensSql,
       |   x -> list_contains([$listSql], x))) AS BIGINT) AS n_blocked,
       | len(list_filter($tokensSql,
       |   x -> list_contains([$listSql], x))) = 0 AS keep
       |FROM documents""".stripMargin
  }

  // ------------------------------------------------------ C4 line cleaning
  /** Line framing for [[c4LineClean]], in tokens — the synthetic corpus is
    * one unpunctuated line per doc, so "lines" are fixed token windows
    * (the [[Dedup.paragraphPages]] stand-in discipline: framing synthetic,
    * rules real; a production corpus swaps the framing for `split('\n')`
    * and keeps everything downstream). */
  val C4LineTokens = 10
  /** C4's minimum words per retained line (Raffel et al. 2020 §2.2 keeps
    * sentences of ≥ 3 words; 5 here so the rule has bite on 10-token
    * windows). */
  val C4MinLineWords = 5
  /** C4's page gate: a document keeps its place in the corpus only if ≥ 3
    * of its lines survived the line rules. */
  val C4MinKeptLines = 3

  /** C4-style LINE-level cleaning — the third granularity of quality
    * filtering next to the doc-level gates ([[gopherRules]],
    * [[blocklistFilter]]) and the span/paragraph dedup family: each
    * document is framed into [[C4LineTokens]]-token lines, a line survives
    * iff it carries ≥ [[C4MinLineWords]] words and no [[Blocklist]] term,
    * and the page-level verdict keeps docs with ≥ [[C4MinKeptLines]]
    * surviving lines. Emits per doc: line totals, survivors, surviving
    * token mass, and the keep verdict.
    *
    * Scale shape: ZERO shuffles — framing, line rules, and the per-doc
    * rollup are all in-row `transform`/`filter`/`aggregate` over the token
    * array, one codegen'd projection over the scan (the [[blocklistFilter]]
    * free-rider argument; census pins 0 exchanges). */
  def c4LineClean(s: SparkSession, d: String): DataFrame =
    c4LineCleanOf(Tables.documents(s, d))

  private[graft] def c4LineCleanOf(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val listSql = Blocklist.map(w => s"'$w'").mkString(", ")
    docs
      .withColumn("toks", tokens)
      // empty docs: explicit empty line set (sequence(0,-1) would DESCEND)
      .withColumn("lines", expr(
        s"""CASE WHEN size(toks) = 0 THEN CAST(array() AS ARRAY<ARRAY<STRING>>)
           | ELSE transform(
           |   sequence(0, CAST(ceil(size(toks) / $C4LineTokens.0) AS INT) - 1),
           |   i -> slice(toks, i * $C4LineTokens + 1, $C4LineTokens))
           | END""".stripMargin))
      .withColumn("kept", expr(
        s"""filter(lines, l -> size(l) >= $C4MinLineWords
           |  AND size(filter(l, w -> array_contains(array($listSql), w))) = 0)""".stripMargin))
      .select($"doc_id",
        size($"lines").cast("long").as("n_lines"),
        size($"kept").cast("long").as("n_kept_lines"),
        expr("aggregate(kept, 0L, (a, l) -> a + size(l))").as("n_kept_tokens"),
        (size($"kept") >= C4MinKeptLines).as("keep_doc"))
  }

  /** DuckDB twin of [[c4LineClean]] — same framing, rules and rollup over
    * `list_transform`/`list_filter`; slices are 1-based inclusive on both
    * sides ([a+1, a+w] ≡ Spark's `slice(toks, a+1, w)` tail-truncation). */
  val c4LineCleanOracle: String = {
    val listSql = Blocklist.map(w => s"'$w'").mkString(", ")
    s"""WITH t AS (SELECT doc_id,
       |    $tokensSql AS toks
       |  FROM documents),
       |fr AS (SELECT doc_id,
       |    list_transform(range(CAST(ceil(len(toks) / $C4LineTokens.0) AS BIGINT)),
       |      i -> toks[(i * $C4LineTokens + 1):(i * $C4LineTokens + $C4LineTokens)]) AS lines
       |  FROM t),
       |kp AS (SELECT doc_id, lines,
       |    list_filter(lines, l -> len(l) >= $C4MinLineWords
       |      AND len(list_filter(l, w -> list_contains([$listSql], w))) = 0) AS kept
       |  FROM fr)
       |SELECT doc_id,
       |  CAST(len(lines) AS BIGINT) AS n_lines,
       |  CAST(len(kept) AS BIGINT) AS n_kept_lines,
       |  CAST(coalesce(list_sum(list_transform(kept, l -> len(l))), 0) AS BIGINT)
       |    AS n_kept_tokens,
       |  len(kept) >= $C4MinKeptLines AS keep_doc
       |FROM kp""".stripMargin
  }

  // -------------------------------------------------------- inverted index
  /** Posting-list depth for [[invertedIndex]]. */
  val IndexPostingsK = 8
  /** Document-frequency floor: terms seen in fewer docs don't earn a
    * posting list (they resolve by scan; the index exists for the head). */
  val IndexMinDf = 5L

  /** Top-[[IndexPostingsK]] inverted-index postings per term — the
    * materialized retrieval artifact behind [[Corpus.bm25TopK]]'s ad-hoc
    * scoring: for every term with df ≥ [[IndexMinDf]], the K highest-tf
    * documents with their term stats. Impact-ordered posting truncation
    * (keep only the K best per term) is the standard static index-pruning
    * move for corpus-scale retrieval.
    *
    * Scale shape: tf is one map-side-combined aggregate on (term, doc);
    * df rides a second aggregate on term and joins back co-partitioned
    * (both shuffles hash on `term`, so the join is exchange-free); the
    * per-term truncation runs on the custom [[org.apache.spark.sql.graft.TopKPerKey]]
    * whole-operator — bounded heap per term, no sort of the full posting
    * set, no Window. A hot term ("the") costs its df at the heap, not a
    * full-partition sort. */
  def invertedIndex(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    org.apache.spark.sql.graft.GraftFunctions.register(s) // installs strategy
    val tf = Tables.documents(s, d)
      .select($"doc_id", explode(tokens).as("term"))
      .groupBy($"term", $"doc_id").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy($"term").agg(count(lit(1)).as("df"))
      .filter($"df" >= IndexMinDf)
    val kept = tf.join(df, "term")
    org.apache.spark.sql.graft.TopKOps.topKPerKey(
        kept, keys = Seq($"term"), orderBy = Seq($"tf".desc, $"doc_id".asc),
        k = IndexPostingsK, rankName = "rank")
      .select($"term", $"doc_id", $"tf", $"df", $"rank")
  }

  /** DuckDB twin of [[invertedIndex]] — the window form of the same
    * truncation (the TopKPerKey operator is value-identical to
    * row_number-filter by construction, PlanSpec's q07b precedent). */
  val invertedIndexOracle: String =
    s"""WITH tok AS (SELECT doc_id,
       |    unnest($tokensSql) AS term
       |  FROM documents),
       |tf AS (SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf
       |  FROM tok GROUP BY 1, 2),
       |df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf
       |  GROUP BY term HAVING count(*) >= $IndexMinDf),
       |r AS (SELECT tf.term, tf.doc_id, tf.tf, df.df,
       |    row_number() OVER (PARTITION BY tf.term
       |      ORDER BY tf.tf DESC, tf.doc_id ASC) AS rank
       |  FROM tf JOIN df USING (term))
       |SELECT term, doc_id, tf, df, rank FROM r
       |WHERE rank <= $IndexPostingsK""".stripMargin

  // -------------------------------------------------------- fingerprinting
  /** Canonical document fingerprint: md5 of whitespace-normalized,
    * lowercased text — the exact-dedup key at scale (hash the normal form
    * once, group on the 128-bit digest, never shuffle full documents). */
  def fingerprint(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .select($"doc_id",
        md5(lower(trim(regexp_replace($"text", "\\s+", " ")))).as("fp"))
  }

  val fingerprintOracle: String =
    """SELECT doc_id,
      | md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
      |FROM documents""".stripMargin

  // ----------------------------------------------- winnowing fingerprints
  /** Rolling-hash document fingerprints (MOSS winnowing, k=8 chars,
    * window 16): the plagiarism/near-dup detection classic — any shared
    * substring of >= 23 chars between two docs guarantees a shared
    * fingerprint. Emitted exploded as one (doc_id, fingerprint) row per
    * selected hash — scalar columns only, so the external gate can
    * row/schema-check it (the scheme is hash-defined, not SQL-expressible,
    * so it stays rows-only; the guarantee property is asserted in
    * TextSpec). The exploded form is also the shape the downstream
    * fingerprint-join (find docs sharing a fingerprint) wants at scale. */
  val WinnowK = 8
  val WinnowWindow = 16

  def winnowFingerprints(s: SparkSession, d: String): DataFrame =
    winnowFingerprintsOf(Tables.documents(s, d))

  /** [[winnowFingerprints]] over an arbitrary (doc_id, text) frame. */
  private[graft] def winnowFingerprintsOf(docs: DataFrame): DataFrame =
    winnowSetsOf(docs).select(col("doc_id"), explode(col("els")).as("fingerprint"))

  /** (doc_id, els): each doc's fingerprint set, via the native codegen'd
    * expression — the text and the fingerprint array never leave Tungsten
    * rows (the earlier typed flatMap paid a Dataset encoder round-trip per
    * document). Empty for text shorter than k. */
  private def winnowSetsOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), org.apache.spark.sql.graft.GraftFunctions
      .winnow(col("text"), WinnowK, WinnowWindow).as("els"))

  /** DuckDB twin of the winnowing scheme: Rabin-Karp k-gram hashes as a
    * HUGEINT fold mod 2^64 (DuckDB's 128-bit integer holds h·B + c without
    * overflow), window minima, consecutive-duplicate collapse via
    * list_distinct. Char basis is `unicode(text[i])` — equal to Java's
    * `charAt` for all BMP text (the corpus has no astral codepoints; an
    * astral char would be 2 UTF-16 units in the JVM vs 1 codepoint here).
    * CRITICAL parity detail: the JVM picks window minima by SIGNED Long
    * comparison, so each hash is converted to its signed 64-bit form
    * BEFORE the minima — unsigned minima select a different fingerprint
    * set entirely (~half of all hashes have the top bit set).
    * The rightmost-tie rule needs no twin: ties pick an *index*, but the
    * emitted value is the window minimum either way. */
  private[operators] def winnowCtesFrom(src: String): String =
    s"""cp AS (SELECT doc_id,
       |    list_transform(range(length(text)), i -> CAST(unicode(text[i+1]) AS HUGEINT)) AS cs
       |  FROM $src WHERE length(text) >= $WinnowK),
       |hh0 AS (SELECT doc_id, list_transform(range(len(cs) - ${WinnowK - 1}), i ->
       |    list_reduce(list_prepend(0::HUGEINT, cs[i+1:i+$WinnowK]),
       |      (h, c) -> (h * 1000003 + c) % CAST(18446744073709551616 AS HUGEINT))) AS hsu
       |  FROM cp),
       |hh AS (SELECT doc_id, list_transform(hsu, h -> CAST(CASE
       |    WHEN h >= CAST(9223372036854775808 AS HUGEINT)
       |    THEN h - CAST(18446744073709551616 AS HUGEINT) ELSE h END AS BIGINT)) AS hs
       |  FROM hh0),
       |ww AS (SELECT doc_id, CASE WHEN len(hs) <= $WinnowWindow THEN [list_min(hs)]
       |    ELSE list_distinct(list_transform(range(len(hs) - ${WinnowWindow - 1}),
       |      i -> list_min(hs[i+1:i+$WinnowWindow]))) END AS fps
       |  FROM hh),
       |fps AS (SELECT doc_id, unnest(fps) AS fp FROM ww)""".stripMargin

  private[operators] val winnowCtes: String = winnowCtesFrom("documents")

  val winnowFingerprintsOracle: String =
    s"""WITH $winnowCtes
       |SELECT doc_id, fp AS fingerprint FROM fps""".stripMargin

  // ------------------------------------------ winnowing near-dup detection
  /** Near-dup pairs by winnowing-fingerprint Jaccard >= [[WinnowJaccard]]
    * — the MOSS similarity score end to end: the pruned-index leg of the
    * near-dup kernel in [[Dedup]] over fingerprint elements, exactly as
    * [[Dedup.ngramJaccardPairs]] runs it over word 3-grams: identical
    * copies collapsed ([[Dedup.collapseCopies]]), candidates from the
    * df-pruned fingerprint index, exact full-set scores
    * ([[Dedup.prunedJaccardPairsOf]]), copy pairs restored.
    *
    * Without the prune the fingerprint self-join is quadratic per hot
    * bucket — common char-8-grams of ordinary text appear in 10-30% of
    * documents, and the join exploded 6x at 10x the corpus. A jac >= 0.5
    * pair shares ~1/3 of its fingerprint union (~10+ hashes here), so
    * requiring one *rare* shared hash loses essentially nothing (measured
    * recall 1.0 at the gate scale; asserted >= 0.9 in TextSpec against the
    * unpruned truth). The Jaccard normalization (not raw shared counts) is
    * what makes the operator selective at all: >40% of doc pairs share >= 2
    * fingerprints. TextSpec recomputes every emitted pair's score in-JVM
    * and cross-checks the n-gram Jaccard dup set. */
  val WinnowJaccard = 0.5

  def winnowCandidates(s: SparkSession, d: String): DataFrame =
    winnowCandidatesOf(Tables.documents(s, d))

  /** [[winnowCandidates]] over an arbitrary (doc_id, text) frame; the
    * collapse is scoped to fingerprint-bearing docs (text shorter than k
    * emits no fingerprints). */
  private[graft] def winnowCandidatesOf(docs: DataFrame): DataFrame = {
    val copies = Dedup.collapseCopies(docs, length(col("text")) >= WinnowK)
    copies.expand(Dedup.prunedJaccardPairsOf(winnowSetsOf(copies.reps),
      WinnowJaccard, "winnow_jac"), "winnow_jac")
  }

  /** DuckDB twin of [[winnowCandidates]] — the same collapse, df-prune (a
    * pair the prune drops in Spark is dropped here too: a plain full-Jaccard
    * oracle would be a *different* operator), full-set scoring and
    * expansion, over the fingerprint CTE. */
  val winnowCandidatesOracle: String =
    s"""WITH ${Dedup.collapseCtes(s"length(text) >= $WinnowK")},
       |${winnowCtesFrom("repdocs")},
       |sz AS (SELECT doc_id, count(*) AS n FROM fps GROUP BY doc_id),
       |${Dedup.prunedCandCtes("fps", "fp")},
       |${Dedup.scoredPairsCtes("", "fps", "fp", WinnowJaccard, "winnow_jac", "rp")}
       |${Dedup.expandCollapsedSql("winnow_jac")}""".stripMargin

  // ------------------------------------------------------- PII redaction
  /** PII redaction — the standard pre-training curation pass: mask email
    * addresses and IPv4 literals, count what was masked. Pure codegen'd
    * regexp builtins; patterns are written to the common subset of Java
    * regex (Spark) and RE2 (DuckDB) so the oracle exercises engine parity.
    * TextSpec verifies the actual masking on planted PII. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  def redactPii(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    // counts follow the masking order: n_ips counts matches in the
    // email-masked text, so an IP consumed inside an email match (e.g.
    // `x@1.2.3.4.com`) is never counted as a masked IP — every count
    // corresponds to a mask actually present in `redacted`
    docs
      .withColumn("after_email", regexp_replace($"text", EmailRe, "<EMAIL>"))
      .select(
        $"doc_id",
        size(regexp_extract_all($"text", lit(EmailRe), lit(0))).as("n_emails"),
        size(regexp_extract_all($"after_email", lit(Ipv4Re), lit(0))).as("n_ips"),
        regexp_replace($"after_email", Ipv4Re, "<IP>").as("redacted"))
  }

  def redactPii(s: SparkSession, d: String): DataFrame =
    redactPii(Tables.documents(s, d))

  val redactPiiOracle: String =
    s"""WITH m AS (SELECT doc_id, text,
       |  regexp_replace(text, '$EmailRe', '<EMAIL>', 'g') AS after_email
       |  FROM documents)
       |SELECT doc_id,
       | CAST(len(regexp_extract_all(text, '$EmailRe')) AS INT) AS n_emails,
       | CAST(len(regexp_extract_all(after_email, '$Ipv4Re')) AS INT) AS n_ips,
       | regexp_replace(after_email, '$Ipv4Re', '<IP>', 'g') AS redacted
       |FROM m""".stripMargin

  // ------------------------------------------------- repetition signals
  /** Gopher-style repetition quality signals: type/token ratio and
    * top-word mass fraction per document — the filters that catch
    * degenerate/looping generations in training data. Shape: explode →
    * two-phase hash aggregations; no per-document array lambdas, so the
    * same plan runs at 100 TB (shuffle keys are (doc, word) then doc). */
  def repetitionSignals(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val words = Tables.documents(s, d)
      .select($"doc_id", explode(tokens).as("word"))
    words.groupBy($"doc_id", $"word").agg(count(lit(1)).as("freq"))
      .groupBy($"doc_id")
      .agg(sum($"freq").as("n_words"), count(lit(1)).as("n_distinct_words"),
        max($"freq").as("max_freq"))
      .select($"doc_id", $"n_words", $"n_distinct_words",
        round($"n_distinct_words" / $"n_words".cast("double"), 4)
          .as("type_token_ratio"),
        round($"max_freq" / $"n_words".cast("double"), 4)
          .as("top_word_ratio"))
  }

  val repetitionSignalsOracle: String =
    s"""WITH w AS (SELECT doc_id,
      |    unnest($tokensSql) AS word
      |  FROM documents),
      |f AS (SELECT doc_id, word, count(*) AS freq FROM w GROUP BY 1, 2),
      |m AS (SELECT doc_id, CAST(sum(freq) AS BIGINT) AS n_words,
      |        count(*) AS n_distinct_words, CAST(max(freq) AS BIGINT) AS max_freq
      |      FROM f GROUP BY 1)
      |SELECT doc_id, n_words, n_distinct_words,
      | round(n_distinct_words / CAST(n_words AS DOUBLE), 4) AS type_token_ratio,
      | round(max_freq / CAST(n_words AS DOUBLE), 4) AS top_word_ratio
      |FROM m""".stripMargin

  // ----------------------------------------------------------- language ID
  /** Heuristic language ID: score each text against per-language marker
    * token sets (n-gram/stopword profile approach). Deterministic but not
    * SQL-expressible → rows-only oracle; LangIdSpec checks accuracy
    * against the generator's `lang` column instead. */
  private val langMarkers: Map[String, Set[String]] = Map(
    "en" -> Set("the", "and", "of", "to", "is", "with", "for", "that"),
    "fr" -> Set("le", "la", "les", "et", "de", "des", "un", "une", "est"),
    "es" -> Set("el", "los", "las", "y", "de", "que", "un", "una", "es"),
    "de" -> Set("der", "die", "das", "und", "ist", "ein", "eine", "mit"),
    "zh" -> Set("的", "是", "在", "了", "和", "有"))

  def predictLang(text: String): String = {
    val toks = text.toLowerCase.split("\\s+").filter(_.nonEmpty)
    if (toks.isEmpty) "und"
    else {
      // char-level fallback: CJK presence dominates
      if (text.exists(c => c >= 0x4E00 && c <= 0x9FFF)) "zh"
      else {
        val scores = langMarkers.map { case (lang, markers) =>
          lang -> toks.count(markers.contains)
        }
        val (best, hits) = scores.maxBy { case (l, n) => (n, l) }
        if (hits == 0) "und" else best
      }
    }
  }

  def langId(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .select($"doc_id", $"text", $"lang")
      .as[(Long, String, String)]
      .map { case (id, text, lang) => (id, predictLang(text), lang) }
      .toDF("doc_id", "pred_lang", "actual_lang")
  }

  /** DuckDB twin of [[predictLang]]: per-language marker counts with the
    * argmax (ties → lexicographically larger language, exactly Scala's
    * `maxBy((n, l))`) done via struct-list max — the heuristic turns out
    * to be fully SQL-expressible, so language ID is hash-matched, not
    * rows-only. */
  val langIdOracle: String =
    s"""WITH t AS (SELECT doc_id, text, lang,
      |  ${tokensSqlOf("lower(text)")} AS toks
      |  FROM documents),
      |c AS (SELECT doc_id, text, lang, toks,
      |  len(list_filter(toks, x -> x IN ('the','and','of','to','is','with','for','that'))) AS n_en,
      |  len(list_filter(toks, x -> x IN ('le','la','les','et','de','des','un','une','est'))) AS n_fr,
      |  len(list_filter(toks, x -> x IN ('el','los','las','y','de','que','un','una','es'))) AS n_es,
      |  len(list_filter(toks, x -> x IN ('der','die','das','und','ist','ein','eine','mit'))) AS n_de,
      |  len(list_filter(toks, x -> x IN ('的','是','在','了','和','有'))) AS n_zh
      | FROM t),
      |m AS (SELECT doc_id, text, lang, toks,
      |  list_max([{'n': n_en, 'l': 'en'}, {'n': n_fr, 'l': 'fr'}, {'n': n_es, 'l': 'es'},
      |            {'n': n_de, 'l': 'de'}, {'n': n_zh, 'l': 'zh'}]) AS best
      | FROM c)
      |SELECT doc_id,
      | CASE WHEN len(toks) = 0 THEN 'und'
      |      WHEN regexp_matches(text, '[\\x{4E00}-\\x{9FFF}]') THEN 'zh'
      |      WHEN best.n = 0 THEN 'und'
      |      ELSE best.l END AS pred_lang,
      | lang AS actual_lang
      |FROM m""".stripMargin

  // ---------------------------------------------- character-class profile
  /** Per-document character-class census — the script/encoding sibling of
    * [[langId]]: how much of each document is letters, digits,
    * whitespace, or other (punctuation, control, non-ASCII). The
    * cheapest corpus-hygiene signal there is: mojibake, binary spill,
    * markup soup, and number dumps all show up as an out-of-family
    * `other`/`digit` ratio before any tokenizer runs — C4 and Gopher
    * both gate on exactly these shapes (alpha-ratio, symbol-ratio
    * rules).
    *
    * Counting is by class-complement regex deletion (`length(text) −
    * length(regexp_replace(text, class, ''))`), all-integer; ratios are
    * integer micros over the total, so both engines agree bit-for-bit.
    * Scale shape: map-only — one projection over the scan, no shuffle,
    * no state; the class regexes are codegen'd string ops. */
  def charclassProfile(s: SparkSession, d: String): DataFrame =
    charclassProfileOf(Tables.documents(s, d))

  private[graft] def charclassProfileOf(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    def kept(cls: String) = length(regexp_replace($"text", s"[^$cls]", ""))
    docs.select($"doc_id",
        length($"text").cast("long").as("n_chars"),
        kept("a-zA-Z").cast("long").as("n_alpha"),
        kept("0-9").cast("long").as("n_digit"),
        kept(" \\t\\n\\r").cast("long").as("n_space"))
      .withColumn("n_other", $"n_chars" - $"n_alpha" - $"n_digit" - $"n_space")
      .withColumn("alpha_ratio_micros",
        expr("(n_alpha * 1000000) div nullif(n_chars, 0)"))
      .withColumn("other_ratio_micros",
        expr("(n_other * 1000000) div nullif(n_chars, 0)"))
  }

  /** DuckDB twin of [[charclassProfile]] — same complement-deletion
    * counts (the `'g'` flag makes regexp_replace replace-all, matching
    * Spark's default). */
  val charclassProfileOracle: String =
    """SELECT doc_id,
      |  CAST(length(text) AS BIGINT) AS n_chars,
      |  CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS BIGINT) AS n_alpha,
      |  CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS BIGINT) AS n_digit,
      |  CAST(length(regexp_replace(text, '[^ \t\n\r]', '', 'g')) AS BIGINT) AS n_space,
      |  CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
      |    - length(regexp_replace(text, '[^0-9]', '', 'g'))
      |    - length(regexp_replace(text, '[^ \t\n\r]', '', 'g')) AS BIGINT) AS n_other,
      |  CAST((length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) * 1000000)
      |    // nullif(length(text), 0) AS BIGINT) AS alpha_ratio_micros,
      |  CAST(((length(text) - length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
      |      - length(regexp_replace(text, '[^0-9]', '', 'g'))
      |      - length(regexp_replace(text, '[^ \t\n\r]', '', 'g'))) * 1000000)
      |    // nullif(length(text), 0) AS BIGINT) AS other_ratio_micros
      |FROM documents""".stripMargin
}
