package graft

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-rehearsal data generator: writes an sf1-equivalent slice (10× the
  * sf0.1 row counts) so the dedup/ANN/cluster guards and the relational
  * plans can be exercised beyond the gate scale — the evidence behind the
  * "would this hold at 100 TB" claims. Usage:
  *
  *   runMain graft.ScaleGen [outDir=target/sf1] [srcDir=/root/testdata/sf0.1] [factor=10] [skewPct=0] [contamPerMille=0]
  *
  * With `skewPct` > 0 the generator additionally plants ONE hot key per
  * join/partition axis — skewPct% of orders reassigned to one customer,
  * skewPct% of lineitems to one order, skewPct% of events to one user,
  * skewPct% of documents reassigned to one SOURCE (the per-source
  * quality-percentile group), and the identical-copy tail cluster grown
  * 10× (one hot PARAGRAPH md5 in the keep-first aggregate and join) —
  * while everything else (row counts, shard shifts, value distributions)
  * stays byte-identical to the uniform run. That isolates the variable the
  * skew rehearsal measures: same volume, same plans, one hot partition
  * per shuffle. Membership in the hot set is a deterministic hash of each
  * row's natural key, so the skewed corpus is reproducible.
  *
  * Construction, per table family:
  *   - relational star (lineitem/orders/customer/supplier/part): shard
  *     replication of the sf0.1 tables with consistent key shifts — value
  *     distributions stay the generator's, FK fanouts are preserved
  *     exactly, totals scale linearly by design. nation/region copy as-is
  *     (fixed dims).
  *   - events: shard replication with event_id/user_id shifts (10× users,
  *     per-user session structure preserved; windows get 10× the mass).
  *   - documents: freshly synthesized (replicating text 10× would plant
  *     near-dup CLIQUES — every copy pairs with every other — turning the
  *     pair operators' OUTPUT quadratic and drowning the rehearsal).
  *     Deterministic hash-picked tokens; 1% planted near-dup twins (same
  *     pair rate as the gate corpus) plus a 1,000-copy identical cluster
  *     to stress the md5-collapse and simhash hot-bucket guards at scale.
  *   - embeddings: deterministic pseudo-random unit-free vectors, 10×
  *     count, same dim/queries.
  */
object ScaleGen {

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("target/sf1")
    val src = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val factor = if (args.length > 2) args(2).toInt else 10
    val skewPct = if (args.length > 3) args(3).toInt else 0
    val contamPerMille = if (args.length > 4) args(4).toInt else 0
    val builder = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
    graft.core.Tables.sessionDefaults.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    def write(df: DataFrame, name: String, parts: Int): Unit =
      df.repartition(parts).write.mode(SaveMode.Overwrite)
        .parquet(s"$out/$name.parquet")

    def shards(tbl: String)(shift: (DataFrame, Int) => DataFrame): DataFrame = {
      val base = spark.read.parquet(s"$src/$tbl.parquet")
      (0 until factor).map(i => shift(base, i)).reduce(_ union _)
    }

    // fixed dims copy as-is
    Seq("nation", "region").foreach { t =>
      spark.read.parquet(s"$src/$t.parquet").write
        .mode(SaveMode.Overwrite).parquet(s"$out/$t.parquet")
    }

    // key strides: one power-of-ten above each table's max key, so shifted
    // shards can never collide
    def strideOf(tbl: String, key: String): Long = {
      val mx = spark.read.parquet(s"$src/$tbl.parquet")
        .agg(max(col(key))).head().getLong(0)
      math.pow(10, math.ceil(math.log10(mx.toDouble + 1))).toLong
    }
    val okS = strideOf("orders", "o_orderkey")
    val ckS = strideOf("customer", "c_custkey")
    val skS = strideOf("supplier", "s_suppkey")
    val pkS = strideOf("part", "p_partkey")

    // skew mode: reassign skewPct% of rows (hash-picked on the row's
    // natural key) to ONE hot key, AFTER the shard shift so the hot key is
    // global. The hot key is the source table's min key — shard 0 keeps
    // original keys, so it always exists in the scaled output.
    def minOf(tbl: String, key: String): Long =
      spark.read.parquet(s"$src/$tbl.parquet").agg(min(col(key))).head().getLong(0)
    def skewed(df: DataFrame, key: String, hot: => Long,
               salt: org.apache.spark.sql.Column): DataFrame =
      if (skewPct == 0) df
      else df.withColumn(key,
        when(pmod(xxhash64(salt, lit(7)), lit(100)) < lit(skewPct), lit(hot))
          .otherwise(col(key)))
    lazy val hotCust  = minOf("customer", "c_custkey")
    lazy val hotOrder = minOf("orders", "o_orderkey")
    lazy val hotUser  = minOf("events", "user_id")

    write(shards("customer") { (df, i) =>
      df.withColumn("c_custkey", $"c_custkey" + lit(i * ckS)) }, "customer", 4)
    write(shards("supplier") { (df, i) =>
      df.withColumn("s_suppkey", $"s_suppkey" + lit(i * skS)) }, "supplier", 1)
    write(shards("part") { (df, i) =>
      df.withColumn("p_partkey", $"p_partkey" + lit(i * pkS)) }, "part", 4)
    write(skewed(shards("orders") { (df, i) =>
      df.withColumn("o_orderkey", $"o_orderkey" + lit(i * okS))
        .withColumn("o_custkey", $"o_custkey" + lit(i * ckS)) },
      "o_custkey", hotCust, $"o_orderkey"), "orders", 8)
    write(skewed(shards("lineitem") { (df, i) =>
      df.withColumn("l_orderkey", $"l_orderkey" + lit(i * okS))
        .withColumn("l_partkey", $"l_partkey" + lit(i * pkS))
        .withColumn("l_suppkey", $"l_suppkey" + lit(i * skS)) },
      "l_orderkey", hotOrder, xxhash64($"l_orderkey", $"l_linenumber")), "lineitem", 16)

    val evS = strideOf("events", "event_id")
    val userS = strideOf("events", "user_id")
    write(skewed(shards("events") { (df, i) =>
      df.withColumn("event_id", $"event_id" + lit(i * evS))
        .withColumn("user_id", $"user_id" + lit(i * userS)) },
      "user_id", hotUser, $"event_id"), "events", 8)

    // ---------------------------------------------------------- documents
    val nDocs = 5000L * factor
    // identical-copy cluster at the tail; skew mode grows it 10× (the
    // "hot paragraph" plant — every cluster doc contributes the same
    // paragraphs to ~2 pages each, so the canonical-occurrence aggregate
    // and the paras↔canon join see one md5 key carrying 10× the mass)
    val cluster = if (skewPct > 0) math.min(10000L, nDocs / 5) else 1000L
    // varied letter shapes, not "tok0001"-style: a shared-prefix vocabulary
    // makes every char-8-gram collide corpus-wide, which inflates winnow /
    // span candidate volume far beyond anything natural text produces
    // (first rehearsal run measured exactly that artifact). 3-10 random
    // letters + a base-26 index suffix keeps words distinct.
    val vocab = (0 until 2000).map { i =>
      var h = graft.functions.Hashing.mix64(0xC0FFEE + i.toLong)
      val len = 3 + (java.lang.Long.remainderUnsigned(h, 8)).toInt
      val sb = new StringBuilder
      (0 until len).foreach { _ =>
        h = graft.functions.Hashing.mix64(h)
        sb.append(('a' + java.lang.Long.remainderUnsigned(h, 26)).toChar)
      }
      sb.append(('a' + i / 26 % 26).toChar).append(('a' + i % 26).toChar)
      sb.append(('a' + i / 676).toChar)
      sb.toString
    }
    val langs = Seq("en", "fr", "es", "de", "zh")
    val sources = (0 until 20).map(i => s"src$i")
    // twin docs (id % 100 == 1) generate from the previous id's stream and
    // append one token -> jaccard ≈ 0.9 planted near-dup pairs at 1%;
    // the tail cluster all generates from one base id -> identical copies.
    // With contamPerMille > 0 (5th CLI arg, default 0 -> byte-identical
    // corpora), ~that fraction of train docs instead generate from an EVAL
    // doc's stream plus an own-token suffix — strong (containment ≈ 0.9)
    // or borderline (≈ 0.26/0.30/0.34, see the kind block below) — planted
    // eval-subset contamination, so the decontamination rehearsals
    // measure RECALL and threshold-edge PARITY at scale, not just cost.
    // A contam_manifest.parquet records every planted doc's ground truth.
    // Two review findings closed
    // here: (a) the eval BASE is an independent hash of id, not
    // `id % 50` — the selection residue `id % contamEvery == 7` made
    // id % 50 CONSTANT whenever contamEvery was a multiple of 50 (the
    // documented contamPerMille=5 run: every planted doc derived from eval
    // doc 7 only, so the r6 recall rehearsal exercised one eval doc's gram
    // set); (b) contamPerMille is range-guarded — at >= 143 the integer
    // division made contamEvery <= 7, the residue never matched, and the
    // generator silently planted NOTHING while appearing to succeed.
    require(contamPerMille >= 0 && contamPerMille <= 125,
      s"contamPerMille must be in [0, 125] (got $contamPerMille): above 125 " +
        "the residue-7 selection over 1000/contamPerMille silently matches " +
        "zero ids — fail loudly instead of writing a clean corpus")
    val contamEvery = if (contamPerMille > 0) 1000L / contamPerMille else 0L
    val isContam =
      if (contamEvery > 0)
        $"id" % contamEvery === 7 && $"id" >= 50 && $"id" < nDocs - cluster
      else lit(false)
    // eval base 1 is a DUD: eval doc 1 is the twin of doc 0 (its text is
    // stream 0 + "twintoken"), so stream 1's grams appear in NO eval doc
    // and a doc planted from it would be unfindable by ANY scan — a
    // silent recall hole, not a detector miss. Remap 1 → 0.
    val evalBaseRaw = pmod(xxhash64($"id", lit(3)), lit(50L))
    val evalBase = when(evalBaseRaw === 1, lit(0L)).otherwise(evalBaseRaw)
    // planted-contamination KINDS (hash of id): kind 0 = strong — the full
    // eval doc text + 3 own tokens, gram containment ≈ 0.9, the recall
    // plant; kinds 1-3 = BORDERLINE — own-token suffix sized so containment
    // lands at ≈ 26% / 30% / 34%, straddling BloomHitMin = 0.3. Containment
    // of "eval text (e toks) ++ own toks (o)" is (e−2)/(e+o−2), so
    // o = round((e−2)·(100−t)/t) targets t% — the knife edge where a single
    // Bloom false positive could flip a verdict (DedupSpec's contamination
    // knife-edge test pins exact/Bloom agreement at that threshold).
    val contamKind = pmod(xxhash64($"id", lit(17)), lit(4L))
    val targetPct = element_at(typedLit(Seq(90, 26, 30, 34)),
      contamKind.cast("int") + 1)
    val docsGen = spark.range(nDocs)
      .withColumn("is_contam", isContam)
      .withColumn("kind", when(isContam, contamKind).otherwise(lit(-1L)))
      .withColumn("base",
        when($"id" >= nDocs - cluster, lit(nDocs - cluster))
          .otherwise(when(isContam, evalBase)
            .otherwise(when($"id" % 100 === 1, $"id" - 1).otherwise($"id"))))
      .withColumn("n_tok", (pmod(xxhash64($"base", lit(0)), lit(60)) + 20).cast("int"))
      .withColumn("own_n",
        when(isContam && $"kind" >= 1,
          round(($"n_tok" - 2) * (lit(100) - targetPct) / targetPct).cast("int"))
          .otherwise(lit(3)))
      .withColumn("toks", expr(
        "transform(sequence(0, n_tok - 1), k -> " +
          s"element_at(${vocabSql(vocab)}, CAST(pmod(xxhash64(base, k), ${vocab.size}) + 1 AS INT)))"))
      .withColumn("text0", array_join($"toks", " "))
      .withColumn("ownSuffix", expr(
        "array_join(transform(sequence(0, own_n - 1), k -> " +
          s"element_at(${vocabSql(vocab)}, CAST(pmod(xxhash64(id, k + 1000), ${vocab.size}) + 1 AS INT))), ' ')"))
      .withColumn("text",
        when(isContam, concat($"text0", lit(" "), $"ownSuffix"))
          .otherwise(when($"id" % 100 === 1 && $"id" < nDocs - cluster,
            concat($"text0", lit(" twintoken"))).otherwise($"text0")))
    // hot SOURCE plant (skew mode): skewPct% of docs hash-reassigned to
    // src0 — the per-source quality-percentile group that holds half the
    // corpus, the doc-side analogue of the hot order/customer keys
    val sourceCol = {
      val uniform = element_at(typedLit(sources),
        (pmod(xxhash64($"id", lit(2)), lit(sources.size)) + 1).cast("int"))
      if (skewPct == 0) uniform
      else when(pmod(xxhash64($"id", lit(13)), lit(100)) < lit(skewPct),
        lit(sources.head)).otherwise(uniform)
    }
    val docs = docsGen
      .select($"id".as("doc_id"), $"text",
        element_at(typedLit(langs), (pmod(xxhash64($"id", lit(1)), lit(langs.size)) + 1).cast("int")).as("lang"),
        sourceCol.as("source"),
        length($"text").cast("long").as("n_chars"))
    write(docs, "documents", 8)
    // planted-contamination manifest: (doc_id, eval_base, kind, target_pct)
    // — the ground truth the recall/parity rehearsal joins against, written
    // by the SAME run that planted, so accounting can never drift from the
    // selection logic. Written UNCONDITIONALLY (empty when nothing was
    // planted): a contamPerMille=0 regeneration into a directory that
    // previously held plants would otherwise leave the old manifest on
    // disk, and the rehearsal would join stale ground truth against the
    // clean corpus and report a phantom detector failure.
    write(docsGen.filter($"is_contam")
      .select($"id".as("doc_id"), $"base".as("eval_base"), $"kind",
        targetPct.as("target_pct")),
      "contam_manifest", 1)

    // --------------------------------------------------------- embeddings
    val nVecs = 2000L * factor
    val dim = 64
    val embs = spark.range(nVecs)
      .withColumn("embedding", expr(
        s"transform(sequence(0, ${dim - 1}), j -> " +
          "CAST(pmod(xxhash64(id, j), 2000000) / 1000000.0 - 1.0 AS FLOAT))"))
      .select($"id".as("vec_id"), $"embedding",
        pmod($"id", lit(10)).cast("int").as("label"))
    write(embs, "embeddings", 4)

    println(s"[scalegen] wrote $out at factor $factor")
    spark.stop()
  }

  private def vocabSql(vocab: Seq[String]): String =
    vocab.mkString("array('", "', '", "')")
}
