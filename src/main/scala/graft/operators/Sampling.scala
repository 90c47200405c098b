package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.Tables

/** Dataset curation operators: deterministic sampling and reproducible
  * shard/order assignment for training runs.
  *
  * Both use content hashes as the randomness source instead of `rand()`:
  * the "sample" is then a pure function of the data — re-runnable,
  * oracle-checkable, and stable across cluster sizes and retries (a
  * rand()-based sample is none of those). This is the standard trick for
  * reproducible training-data pipelines.
  */
object Sampling {

  /** Stratified deterministic sample: the k documents with the smallest
    * md5(text) per language — proportional coverage of every stratum,
    * stable under re-partitioning. */
  def stratifiedSample(s: SparkSession, d: String, k: Int = 10): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"lang").orderBy(md5($"text").asc, $"doc_id".asc)
    Tables.documents(s, d)
      .withColumn("pick", row_number().over(w))
      .filter($"pick" <= k)
      .select($"lang", $"doc_id", $"pick")
  }

  val stratifiedSampleOracle: String =
    """SELECT lang, doc_id, pick FROM (
      |  SELECT lang, doc_id,
      |    row_number() OVER (PARTITION BY lang ORDER BY md5(text) ASC, doc_id ASC) AS pick
      |  FROM documents) t
      |WHERE pick <= 10""".stripMargin

  /** Reproducible training shards: content-hash-ordered position within a
    * doc_id-modulo shard. Consuming shards in (shard, pos) order gives a
    * deterministic global "shuffle" of the corpus — same order on every
    * rerun, any cluster size. */
  def trainShards(s: SparkSession, d: String, shards: Int = 8): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"shard").orderBy(md5($"text").asc, $"doc_id".asc)
    Tables.documents(s, d)
      .withColumn("shard", ($"doc_id" % shards).cast("int"))
      .withColumn("pos", row_number().over(w))
      .select($"doc_id", $"shard", $"pos")
  }

  val trainShardsOracle: String =
    """SELECT doc_id, shard, pos FROM (
      |  SELECT doc_id, CAST(doc_id % 8 AS INTEGER) AS shard,
      |    row_number() OVER (PARTITION BY doc_id % 8
      |                       ORDER BY md5(text) ASC, doc_id ASC) AS pos
      |  FROM documents) t""".stripMargin

  /** The whole curation pipeline composed end to end — what a training-data
    * job actually runs: quality-filter (score >= 0.5) ∘ near-dup keep-list
    * ∘ deterministic shard+position assignment. Every stage is one of the
    * already-verified operators; the composition itself is what this query
    * verifies (the oracle recomputes all three stages in SQL). Shard
    * positions are assigned AFTER filtering, so shards stay dense.
    *
    * Scale note: the position window sorts per shard, so `shards` must
    * grow with the corpus (rule of thumb: one shard per few GB — the
    * default 8 is the test-scale setting, the parameter is the knob). The
    * keep-list join broadcasts only cluster members; quality joins are
    * co-partitioned on doc_id. */
  def curationPipeline(s: SparkSession, d: String, shards: Int = 8): DataFrame = {
    import s.implicits._
    val quality = TextOps.qualityScore(s, d).select($"doc_id", $"quality_score")
    val keep = Dedup.keepList(s, d).filter($"keep").select($"doc_id")
    val kept = Tables.documents(s, d)
      .join(keep, "doc_id")
      .join(quality, "doc_id")
      .filter($"quality_score" >= 0.5)
    val w = Window.partitionBy($"shard").orderBy(md5($"text").asc, $"doc_id".asc)
    kept
      .withColumn("shard", ($"doc_id" % shards).cast("int"))
      .withColumn("pos", row_number().over(w))
      .select($"doc_id", $"quality_score", $"shard", $"pos")
  }

  // closure fragments come from Dedup (one copy of the pair/closure
  // semantics), the quality score from TextOps' shared CTEs (prefixed:
  // the closure chain already claims `t`)
  val curationPipelineOracle: String =
    s"""WITH RECURSIVE ${Dedup.closureCtes},
       |${Dedup.clustersCte},
       |${TextOps.qualityCtesPrefixed("q_")},
       |kept AS (
       |  SELECT s.doc_id, s.text, s.quality_score
       |  FROM q_sc s LEFT JOIN clusters c ON s.doc_id = c.doc_id
       |  WHERE coalesce(c.cluster, s.doc_id) = s.doc_id
       |    AND s.quality_score >= 0.5)
       |SELECT doc_id, quality_score, CAST(doc_id % 8 AS INTEGER) AS shard,
       |  row_number() OVER (PARTITION BY doc_id % 8
       |                     ORDER BY md5(text) ASC, doc_id ASC) AS pos
       |FROM kept""".stripMargin

  // ------------------------------------------------------ train/test split
  /** Split-bucket space: md5 of the salted doc_id → [0, 1000). */
  val SplitBuckets = 1000L
  /** [0, 900) → train, [900, 950) → valid, [950, 1000) → test. */
  val SplitTrainLt = 900L
  val SplitValidLt = 950L

  /** Deterministic train/valid/test split assignment — the holdout-carving
    * step every training pipeline runs before anything touches the data.
    * The split is a pure function of the DOCUMENT ID (not rand(), not
    * row position): md5 of a salted id string → bucket in [0, 1000) →
    * 90/5/5 bands. Identity-hash splitting is the only scheme that keeps
    * membership stable when the corpus is re-partitioned, re-sharded, or
    * incrementally extended — a new ingest batch lands in the same bands
    * without moving any existing document across the holdout boundary
    * (position- or rand()-based splits leak on every re-run).
    *
    * The salt ("split:") decouples this hash from every other md5-keyed
    * decision in the engine (shard order, sampling) so split membership
    * is independent of them — the standard multi-use-hash hygiene.
    *
    * Scale shape: map-only (one projection, no shuffle, no state); the
    * band check is integer-space so there is no float knife edge. */
  def trainTestSplit(s: SparkSession, d: String): DataFrame =
    trainTestSplitOf(Tables.documents(s, d))

  /** [[trainTestSplit]] over an arbitrary (doc_id, source) frame. */
  private[graft] def trainTestSplitOf(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs.select($"doc_id", $"source")
      .withColumn("bucket",
        conv(substring(md5(concat(lit("split:"), $"doc_id".cast("string"))), 1, 8), 16, 10)
          .cast("long") % SplitBuckets)
      .withColumn("split",
        when($"bucket" < SplitTrainLt, "train")
          .when($"bucket" < SplitValidLt, "valid")
          .otherwise("test"))
  }

  /** DuckDB twin: same salted-md5-prefix bucket (the [[Corpus.dsirWeights]]
    * `0x`-cast ≡ Spark `conv(hex, 16, 10)` equivalence), same bands. */
  val trainTestSplitOracle: String =
    s"""SELECT doc_id, source,
       |  CAST(('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8))
       |    AS BIGINT) % $SplitBuckets AS bucket,
       |  CASE WHEN CAST(('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8))
       |      AS BIGINT) % $SplitBuckets < $SplitTrainLt THEN 'train'
       |    WHEN CAST(('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8))
       |      AS BIGINT) % $SplitBuckets < $SplitValidLt THEN 'valid'
       |    ELSE 'test' END AS split
       |FROM documents""".stripMargin

  // ------------------------------------------------- curriculum global order
  /** Range partitions for the global-order assignment — the parallelism
    * unit (grows with the corpus like shards; 32 matches local[32]). */
  val OrderPartitions = 32

  /** Curriculum ordering: assign every document a CONTIGUOUS global
    * training position 1..N — highest quality first, hash-shuffled within
    * equal quality — without ever moving the corpus to one partition.
    *
    * The naive plan (`row_number() OVER (ORDER BY ...)` with no partition
    * key) is the textbook 100 TB scale-killer: Spark plans an empty-
    * partition-spec Window and funnels every row through a single task
    * (the exact class [[graft.PlanWalk]] flags). This operator
    * produces the identical result with the classic distributed total-
    * order recipe:
    *
    *   1. range-partition + locally sort by the total-order key
    *      (quality sx DESC, salted md5, doc_id — unique, so ties cannot
    *      reorder across runs);
    *   2. count rows per partition — |partitions| rows to the driver,
    *      CONSTANT in corpus size (the IVF-centroid precedent);
    *   3. broadcast the prefix-sum offsets and add each partition's local
    *      rank in one map pass.
    *
    * The one materialization ([[DataFrame.localCheckpoint]]) pins the
    * partitioning so the count pass and the assign pass see the SAME
    * layout — the census exempts ExistingRDD for exactly this pattern.
    * Quality sx is the shared integer-space
    * score ([[TextOps.qualitySxOf]]), so the sort key has no float knife
    * edge; the salt ("order:") keeps the within-tier shuffle independent
    * of every other md5-keyed decision (split/shard hygiene). */
  def curriculumOrder(s: SparkSession, d: String): DataFrame =
    curriculumOrderOf(Tables.documents(s, d), OrderPartitions)

  private[graft] def curriculumOrderOf(docs: DataFrame, parts: Int): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val keyed = TextOps.qualitySxOf(docs)
      .withColumn("h", md5(concat(lit("order:"), $"doc_id".cast("string"))))
    val ranged = keyed
      .repartitionByRange(parts, $"sx".desc, $"h".asc, $"doc_id".asc)
      .sortWithinPartitions($"sx".desc, $"h".asc, $"doc_id".asc)
      .withColumn("pid", spark_partition_id())
      .localCheckpoint()
    // |parts| (pid, count) rows — constant driver traffic, not data
    val counts = ranged.groupBy($"pid").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val offsets = (0 until parts).scanLeft(0L)((acc, p) => acc + counts.getOrElse(p, 0L)).toArray
    val bc = s.sparkContext.broadcast(offsets)
    ranged.select($"doc_id", $"sx", $"pid")
      .as[(Long, Long, Int)]
      .mapPartitions { rows =>
        var local = 0L
        rows.map { case (id, sx, pid) =>
          local += 1
          (id, sx / 10000.0, bc.value(pid) + local)
        }
      }
      .toDF("doc_id", "quality_score", "global_pos")
  }

  /** DuckDB twin: the naive single-window form — the semantics the
    * distributed recipe must reproduce exactly. `sx / 10000.0` restates
    * the 4dp score the same way on both sides. */
  val curriculumOrderOracle: String =
    "WITH " + TextOps.qualityCtesPrefixed("") + ",\n" +
      """sx AS (SELECT doc_id,
        |  CAST(round(quality_score * 10000) AS BIGINT) AS sx FROM sc)
        |SELECT doc_id, sx / 10000.0 AS quality_score,
        |  row_number() OVER (ORDER BY sx DESC,
        |    md5('order:' || CAST(doc_id AS VARCHAR)) ASC, doc_id ASC) AS global_pos
        |FROM sx""".stripMargin

  // ------------------------------------------------------ sequence packing
  /** Token budget per packed sequence — gate-scale setting (the synthetic
    * docs run 20–80 whitespace tokens, so sequences pack 3–8 docs); the
    * production context length is the parameter. */
  val PackBudget = 256L
  val PackBuckets = 8

  /** Sequence PACKING: assign documents to fixed token-budget training
    * sequences — the step that turns a curated corpus into dense context
    * windows (unpacked short docs waste the attention matrix on padding).
    *
    * Policy: NEXT-FIT in (bucket, doc_id) order — a document starts a new
    * sequence when it would overflow the budget. Deterministic (pure
    * function of the corpus), so the DuckDB twin replicates it exactly via
    * a recursive CTE, advancing every bucket one row per step. A document
    * longer than the budget lands alone in its own sequence (it overflows
    * whatever is open, and everything after it overflows it in turn) —
    * the consumer's truncate/split policy stays out of the packer.
    *
    * Scale shape: buckets are the parallelism unit ([[trainShards]]'s
    * doc_id-modulo convention — dense ids at the gate; hash the id at
    * deploy if ids cluster); each bucket packs independently in one task
    * with O(1) state, so the operator is one shuffle + a linear scan, and
    * `buckets` grows with the corpus exactly like shards. Next-fit trades
    * ~¼ fill vs global first-fit-decreasing in the worst case but needs
    * no global sort and no length histogram; measured fill on the gate
    * corpus is asserted ≥ 0.75 in CurationSpec. */
  def packSequences(s: SparkSession, d: String): DataFrame =
    packSequencesOf(Tables.documents(s, d), PackBudget, PackBuckets)

  private[graft] def packSequencesOf(docs: DataFrame, budget: Long,
                                     buckets: Int): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs
      .select($"doc_id",
        size(TextOps.tokens).cast("long").as("tok"),
        ($"doc_id" % buckets).cast("long").as("bucket"))
      .repartition($"bucket")
      .sortWithinPartitions($"bucket", $"doc_id")
      .select($"doc_id", $"bucket", $"tok")
      .as[(Long, Long, Long)]
      .mapPartitions { rows =>
        // O(1) state: the open sequence of the current bucket
        var curBucket = Long.MinValue
        var seq = 0L; var acc = 0L
        rows.map { case (id, b, t) =>
          if (b != curBucket) { curBucket = b; seq = 1L; acc = t }
          else if (acc + t <= budget) acc += t
          else { seq += 1; acc = t }
          (id, b, seq, t)
        }
      }
      .toDF("doc_id", "bucket", "seq_no", "n_tokens")
  }

  /** Shared oracle CTE chain for the next-fit packing replay: `p` ends as
    * (bucket, rn, doc_id, tok, seq_no, acc) — both [[packSequencesOracle]]
    * and [[packEfficiencyOracle]] read it. */
  private val packCtes: String =
    s"""WITH RECURSIVE t AS (SELECT doc_id,
       |    CAST(len(${TextOps.tokensSql}) AS BIGINT) AS tok,
       |    CAST(doc_id % $PackBuckets AS BIGINT) AS bucket
       |  FROM documents),
       |r AS (SELECT doc_id, tok, bucket,
       |    row_number() OVER (PARTITION BY bucket ORDER BY doc_id) AS rn FROM t),
       |p AS (
       |  SELECT bucket, rn, doc_id, tok, CAST(1 AS BIGINT) AS seq_no, tok AS acc
       |  FROM r WHERE rn = 1
       |  UNION ALL
       |  SELECT r.bucket, r.rn, r.doc_id, r.tok,
       |    CASE WHEN p.acc + r.tok <= $PackBudget THEN p.seq_no ELSE p.seq_no + 1 END,
       |    CASE WHEN p.acc + r.tok <= $PackBudget THEN p.acc + r.tok ELSE r.tok END
       |  FROM p JOIN r ON r.bucket = p.bucket AND r.rn = p.rn + 1)""".stripMargin

  /** DuckDB twin of [[packSequences]]: same token count as the text-stats
    * oracles, same modulo bucket, and the next-fit fold as a recursive CTE
    * that advances each bucket one row_number per step (state = (seq_no,
    * acc) carried on the recursion edge). */
  val packSequencesOracle: String =
    s"""$packCtes
       |SELECT doc_id, bucket, seq_no, tok AS n_tokens FROM p""".stripMargin

  // ------------------------------------------------------ packing report
  /** Packing EFFICIENCY report — the throughput meter a training run
    * reads next to [[packSequences]]: per bucket, how many sequences the
    * packer opened, how full they run (exact integer millis of the
    * [[PackBudget]] capacity), and how many OVERFLOW sequences exist
    * (single docs longer than the budget — the rows whose truncate/split
    * policy the consumer must decide). Fill × capacity is the attention-
    * matrix utilization the packing exists to buy; a bucket whose fill
    * drifts low tells the pipeline its doc-length mix changed.
    *
    * Scale shape: rides [[packSequencesOf]] (one shuffle, O(1) per-bucket
    * state), then two map-side-combined aggregates — (bucket, seq) then
    * bucket — over data already partitioned by bucket; output is
    * [[PackBuckets]] rows. */
  def packEfficiency(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val packed = packSequencesOf(Tables.documents(s, d), PackBudget, PackBuckets)
    packed.groupBy($"bucket", $"seq_no")
      .agg(count(lit(1)).as("n_docs"), sum($"n_tokens").as("seq_tokens"))
      .groupBy($"bucket")
      .agg(count(lit(1)).as("n_seqs"),
        sum($"n_docs").as("n_docs"),
        sum($"seq_tokens").as("n_tokens"),
        sum(when($"seq_tokens" > PackBudget, 1L).otherwise(0L)).as("n_overflow"))
      .withColumn("capacity", $"n_seqs" * PackBudget)
      .withColumn("fill_milli", expr("(1000 * n_tokens) div capacity"))
      .select($"bucket", $"n_seqs", $"n_docs", $"n_tokens", $"capacity",
        $"fill_milli", $"n_overflow")
  }

  /** DuckDB twin of [[packEfficiency]] — the same two-level rollup over
    * the shared packing replay. */
  val packEfficiencyOracle: String =
    s"""$packCtes,
       |seqs AS (SELECT bucket, seq_no, count(*) AS n_docs,
       |    CAST(sum(tok) AS BIGINT) AS seq_tokens
       |  FROM p GROUP BY bucket, seq_no)
       |SELECT bucket,
       |  count(*) AS n_seqs,
       |  CAST(sum(n_docs) AS BIGINT) AS n_docs,
       |  CAST(sum(seq_tokens) AS BIGINT) AS n_tokens,
       |  CAST(count(*) FILTER (WHERE seq_tokens > $PackBudget) AS BIGINT) AS n_overflow,
       |  CAST(count(*) * $PackBudget AS BIGINT) AS capacity,
       |  (1000 * CAST(sum(seq_tokens) AS BIGINT)) // (count(*) * $PackBudget) AS fill_milli
       |FROM seqs GROUP BY bucket""".stripMargin
}
