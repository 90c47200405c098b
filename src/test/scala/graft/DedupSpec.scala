package graft

import graft.operators.Dedup

class DedupSpec extends SparkTestBase {

  test("exact dedup collapses the injected duplicate copy") {
    val out = Dedup.exactDedup(spark, sf)
    import spark.implicits._
    val rows = out.select("keep_id", "n_copies").as[(Long, Long)].collect()
    assert(rows.nonEmpty)
    // every text appears exactly twice (base + shifted copy), keeper is base id
    assert(rows.forall { case (keep, n) => n == 2L && keep < 100000L })
  }

  test("minhash LSH finds near-dup pairs with high recall vs exact jaccard") {
    import spark.implicits._
    val exact = Dedup.ngramJaccardPairs(spark, sf)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val lsh = Dedup.minhashLshPairs(spark, sf)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    // precision 1.0 by construction (candidates are exact-verified)
    assert(lsh.subsetOf(exact), s"LSH emitted non-near-dup pairs: ${lsh -- exact}")
    if (exact.nonEmpty) {
      val recall = lsh.intersect(exact).size.toDouble / exact.size
      assert(recall >= 0.85, s"recall $recall over ${exact.size} true pairs")
    }
  }

  test("LSH pair set EQUALS the exact pair set at spec scale (oracle parity guard)") {
    // dedupClusters drives its edges from minhashLshPairs while the DuckDB
    // oracle closes over the exact pairs — this equality is what keeps the
    // correctness gate exact (deterministic: hashes and data are fixed)
    import spark.implicits._
    val exact = Dedup.ngramJaccardPairs(spark, sf)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val lsh = Dedup.minhashLshPairs(spark, sf)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(lsh === exact)
  }

  test("star contraction labels chain, triangle and isolated pair with component minima") {
    import spark.implicits._
    // a 64-node chain (diameter 63 — label propagation would need 63
    // rounds; star contraction needs O(log)), a triangle, a lone pair
    val chain = (1L until 64L).map(i => (i, i + 1))
    val edges = (chain ++ Seq((100L, 101L), (101L, 102L), (102L, 100L), (200L, 201L)))
      .toDF("src", "dst")
    val out = Dedup.connectedComponents(spark, edges)
      .as[(Long, Long)].collect().toMap
    (1L to 64L).foreach(n => assert(out(n) === 1L, s"chain node $n"))
    Seq(100L, 101L, 102L).foreach(n => assert(out(n) === 100L))
    assert(out(200L) === 200L && out(201L) === 200L)
    assert(out.size === 64 + 3 + 2)
  }

  test("unconverged star contraction fails loudly instead of returning partial labels") {
    import spark.implicits._
    val chain = (1L until 64L).map(i => (i, i + 1)).toDF("src", "dst")
    val persisted = spark.sparkContext.getPersistentRDDs.keySet
    intercept[IllegalStateException] {
      Dedup.connectedComponents(spark, chain, maxIter = 1)
    }
    // the throw path releases what the loop held (edges, nodes, last step)
    assert(spark.sparkContext.getPersistentRDDs.keySet === persisted)
  }

  test("dedup clusters are consistent: pair endpoints share a cluster, rep is min member") {
    import spark.implicits._
    val pairs = Dedup.ngramJaccardPairs(spark, sf)
      .select("doc_a", "doc_b").as[(Long, Long)].collect()
    val clusters = Dedup.dedupClusters(spark, sf)
      .as[(Long, Long)].collect().toMap
    pairs.foreach { case (a, b) =>
      assert(clusters(a) === clusters(b), s"pair ($a,$b) split across clusters")
    }
    clusters.groupBy(_._2).foreach { case (rep, members) =>
      assert(members.keys.min === rep, s"cluster $rep rep is not the min member")
    }
  }

  test("planted 1,000 identical copies: cluster edge count is linear, never ~500k candidates") {
    import spark.implicits._
    // unguarded, 1,000 copies share all 32 LSH band buckets → ~499,500
    // candidate pairs; the md5-representative guard must keep the edge set
    // at 999 copy->rep edges + the (tiny) rep-level LSH pair set
    val base = "the quick brown fox jumps over the lazy dog again and again across the wide field"
    val copies = (0L until 1000L).map(i => (i, base))
    val distinctDocs = Seq(
      (2000L, "completely unrelated prose describing catalyst optimizer rule injection points"),
      (2001L, "another standalone document about winnowing fingerprints and rolling hashes"),
      (2002L, "a third unique body of text closing out the planted corpus for this test"))
    val docs = (copies ++ distinctDocs).toDF("doc_id", "text")
    val nEdges = Dedup.clusterEdges(docs).count()
    assert(nEdges <= 999 + 6, s"edge blowup: $nEdges edges (unguarded ≈ 500k)")
    val clusters = Dedup.dedupClustersOf(docs).as[(Long, Long)].collect().toMap
    (0L until 1000L).foreach(i => assert(clusters(i) === 0L, s"copy $i mislabeled"))
    // labels exist exactly for nodes incident to an edge; the three
    // distinct docs have no near-dup and must not appear
    assert(!clusters.contains(2000L) && !clusters.contains(2001L) && !clusters.contains(2002L))
  }

  test("planted identical copies: simhash band join sees distinct values; equal pairs via output-bound join") {
    import spark.implicits._
    val base = "repeated body of text used to plant an identical simhash cluster for the guard"
    val copies = (0L until 50L).map(i => (i, base))
    val others = Seq(
      (100L, "some altogether different words that hash far away from the planted cluster"),
      (101L, "yet another unrelated text with its own simhash value entirely"))
    val docs = (copies ++ others).toDF("doc_id", "text")
    val sh = Dedup.simhashesOf(docs)
    // the band join operates on DISTINCT simhash values: 3 values here, so
    // at most C(3,2) value pairs regardless of how many copies exist
    assert(Dedup.simhashValuePairs(sh).count() <= 3)
    val pairs = Dedup.simhashPairsOf(sh)
      .select("doc_a", "doc_b", "hamming").as[(Long, Long, Int)].collect()
    // all C(50,2) identical-copy pairs present at hamming 0
    val zero = pairs.filter(_._3 == 0).map(p => (p._1, p._2)).toSet
    val expected = (for { i <- 0L until 50L; j <- (i + 1) until 50L } yield (i, j)).toSet
    assert(expected.subsetOf(zero), s"missing ${(expected -- zero).size} identical pairs")
    assert(pairs.forall(p => p._1 < p._2 && p._3 <= 6))
  }

  test("planted hot gram: df-pruned index keeps candidate generation bounded") {
    import spark.implicits._
    // 300 docs all sharing ONE gram ("common shared phrase") — unpruned,
    // that bucket alone self-joins to C(300,2) = 44,850 candidate rows;
    // the df-prune (cap = max(16, 1%)) must drop it, leaving only the
    // genuinely near-dup pair that shares rare grams
    val hotDocs = (0L until 300L).map(i =>
      (i, s"common shared phrase filler${i}a filler${i}b"))
    val nearDup = Seq(
      (1000L, "alpha beta gamma delta epsilon zeta"),
      (1001L, "alpha beta gamma delta epsilon eta"))
    val docs = (hotDocs ++ nearDup).toDF("doc_id", "text")
    val cands = Dedup.ngramCandidates(docs).count()
    assert(cands <= 10, s"candidate blowup: $cands (unpruned ≈ 45k)")
    val pairs = Dedup.ngramJaccardPairsOf(docs)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs === Set((1000L, 1001L)))
  }

  test("ngram jaccard: identical cluster larger than the df cap survives the prune") {
    import spark.implicits._
    // 30 identical copies (> the min df cap of 16): unguarded, every gram
    // of the cluster is hot, no pair shares a rare gram, and the cluster
    // silently vanishes from the exact pairs while LSH still emits it —
    // the md5-collapse must keep the full clique in the output at jac 1.0
    val base = "alpha beta gamma delta epsilon zeta eta theta"
    val copies = (0L until 30L).map(i => (i, base))
    val others = Seq(
      (100L, "totally different words making their own unrelated document text"))
    val docs = (copies ++ others).toDF("doc_id", "text")
    val pairs = Dedup.ngramJaccardPairsOf(docs)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val expected =
      (for { i <- 0L until 30L; j <- (i + 1) until 30L } yield (i, j)).toSet
    assert(pairs === expected)
  }

  test("ngram jaccard: a pair sharing rare AND hot grams scores its full-set jaccard") {
    import spark.implicits._
    // 300 fillers make "common shared phrase" hot (df 302 > cap 16); the
    // pair shares it plus five rare grams, so only the hot add-back turns
    // the rare count 5 (5/9 = 0.5556) into the full intersection 6 (6/8)
    val hotDocs = (0L until 300L).map(i =>
      (i, s"common shared phrase filler${i}a filler${i}b"))
    val a = "common shared phrase alpha beta gamma delta epsilon zeta"
    val b = "common shared phrase alpha beta gamma delta epsilon eta"
    val docs = (hotDocs ++ Seq((1000L, a), (1001L, b))).toDF("doc_id", "text")
    def grams(t: String): Set[String] =
      t.split(" ").sliding(3).map(_.mkString(" ")).toSet
    val (ga, gb) = (grams(a), grams(b))
    assert(ga.intersect(gb).contains("common shared phrase"))
    val c = ga.intersect(gb).size.toDouble
    val expect = BigDecimal(c / (ga.size + gb.size - c))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(expect === 0.75)
    val got = Dedup.ngramJaccardPairsOf(docs)
      .as[(Long, Long, Double)].collect()
    assert(got.toSeq === Seq((1000L, 1001L, expect)))
  }

  test("duplicate spans: planted cross-doc substring recovered exactly, unique doc silent") {
    import spark.implicits._
    val shared = "the exact same forty-two characters live--" // 42 chars
    assert(shared.length === 42)
    // adjacent chars differ between the docs (X./Y~) — with a SHARED
    // adjacent char (e.g. both spaces) the true duplicated span is one
    // char wider than `shared`, and the operator correctly reports that
    val a = s"unique prefix alpha number one thenX${shared}Y and a unique tail one"
    val b = s"a completely different beginning here.$shared~closing words two"
    val c = "a document with no duplicated content at all, nothing shared anywhere in it"
    val docs = Seq((1L, a), (2L, b), (3L, c)).toDF("doc_id", "text")
    val spans = Dedup.duplicateSpansOf(docs)
      .as[(Long, Int, Int, Int)].collect().toSet
    val ia = a.indexOf(shared); val ib = b.indexOf(shared)
    assert(spans === Set(
      (1L, ia, ia + 42, 42),
      (2L, ib, ib + 42, 42)))
  }

  test("duplicate spans: self-repetition within one doc yields both occurrences") {
    import spark.implicits._
    val rep = "a self repeated phrase of many characters" // 41 chars
    assert(rep.length === 41)
    val d = s"$rep plus middle filler content well over k $rep"
    val docs = Seq((1L, d), (2L, "nothing in common with the other document text at all")).toDF("doc_id", "text")
    val spans = Dedup.duplicateSpansOf(docs)
      .as[(Long, Int, Int, Int)].collect().toSet
    val i2 = d.lastIndexOf(rep)
    assert(spans === Set(
      (1L, 0, 41, 41),
      (1L, i2, i2 + 41, 41)))
  }

  test("span clean: keep-first removes the later occurrence only, byte-exact") {
    import spark.implicits._
    val shared = "the exact same forty-two characters live--" // 42 chars
    val a = s"unique prefix alpha number one thenX${shared}Y and a unique tail one"
    val b = s"a completely different beginning here.$shared~closing words two"
    val c = "a document with no duplicated content at all, nothing shared anywhere in it"
    val docs = Seq((1L, a), (2L, b), (3L, c)).toDF("doc_id", "text")
    val out = Dedup.spanCleanedDocsOf(docs)
      .as[(Long, String, Int)].collect().map(r => r._1 -> r).toMap
    // doc 1 holds the canonical (first) occurrence — untouched
    assert(out(1L) === ((1L, a, 0)))
    // doc 2's copy is cut, everything else byte-identical
    val ib = b.indexOf(shared)
    assert(out(2L) === ((2L, b.substring(0, ib) + b.substring(ib + 42), 42)))
    assert(out(3L) === ((3L, c, 0)))
  }

  test("span clean: self-repetition keeps the first occurrence in the same doc") {
    import spark.implicits._
    val rep = "a self repeated phrase of many characters" // 41 chars
    val d = s"$rep plus middle filler content well over k $rep"
    val docs = Seq((1L, d)).toDF("doc_id", "text")
    val out = Dedup.spanCleanedDocsOf(docs)
      .as[(Long, String, Int)].collect().head
    val i2 = d.lastIndexOf(rep)
    assert(out === ((1L, d.substring(0, i2), 41)))
  }

  test("paragraph dedup: keep-first across pages, blanks always kept, reassembly exact") {
    import spark.implicits._
    val pages = Seq(
      (0L, "alpha beta\ncommon para\n\ntail one"),
      (1L, "common para\nunique two\n\ncommon para"),
      (2L, "alpha beta")
    ).toDF("page_id", "text")
    val got = Dedup.paragraphCleanedPagesOf(pages)
      .as[(Long, Long, Long, String)].collect().map(r => r._1 -> r).toMap
    // page 0 holds the first occurrence of everything: kept verbatim
    assert(got(0L) === ((0L, 4L, 4L, "alpha beta\ncommon para\n\ntail one")))
    // page 1: "common para" is canonical at (0,1) -> BOTH its occurrences
    // here drop (idx 0 and idx 3); the blank line always survives
    assert(got(1L) === ((1L, 4L, 2L, "unique two\n")))
    // page 2: single already-seen paragraph -> emitted empty, not omitted
    assert(got(2L) === ((2L, 1L, 0L, "")))
  }

  test("paragraph dedup gate shape: every document's text drops exactly once") {
    import spark.implicits._
    import org.apache.spark.sql.functions.sum
    // gate pages plant each doc's text in exactly two pages; the base
    // table has no identical texts, so keep-first drops one copy per doc
    val n = graft.core.Tables.documents(spark, sf).count()
    val out = Dedup.paragraphDedup(spark, sf)
      .agg(sum($"n_paras").as("paras"), sum($"n_kept").as("kept"))
      .as[(Long, Long)].head()
    assert(out._1 === 2 * n, "every doc should appear in exactly two pages")
    assert(out._1 - out._2 === n, "exactly one copy of each doc should drop")
  }

  test("simhash saturated band bucket is excluded from candidates (cap guard)") {
    import spark.implicits._
    // 300 signatures share band 0's chunk 0x1111 (> SimhashBucketCap) but
    // are far apart in their high 48 bits; a planted hamming-6 pair whose
    // ONLY shared band lands in that saturated bucket is dropped BY
    // DESIGN, while a hamming-2 pair sharing cold buckets is found
    val hotChunk = 0x1111L
    val fillers = (0 until 300).map { i =>
      (i.toLong + 100L, (graft.functions.Hashing.mix64(i.toLong) & ~0xFFFFL) | hotChunk)
    }
    val vA = hotChunk
    val vB = vA ^ ((3L << 16) | (3L << 32) | (3L << 48)) // hamming 6, shares only band 0
    val vC = 0x00FF00FF77772222L
    val vD = vC ^ 3L                                     // hamming 2, bands 1-3 cold
    val sh = (fillers ++ Seq((1L, vA), (2L, vB), (3L, vC), (4L, vD)))
      .toDF("doc_id", "simhash")
    val pairs = Dedup.simhashPairsOf(sh)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((3L, 4L)))
    assert(!pairs.contains((1L, 2L)))
  }

  test("simhash pairs are near-dups by hamming and include planted dups") {
    import spark.implicits._
    val pairs = Dedup.simhashPairs(spark, sf)
      .select("doc_a", "doc_b", "hamming").as[(Long, Long, Int)].collect()
    assert(pairs.forall(_._3 <= 6))
    assert(pairs.forall(p => p._1 < p._2))
  }

  test("simhash signature is deterministic and order-sensitive only on multiset") {
    val a = graft.functions.Hashing.simhash64(Iterator("x", "y", "z"))
    val b = graft.functions.Hashing.simhash64(Iterator("z", "y", "x"))
    val c = graft.functions.Hashing.simhash64(Iterator("x", "y"))
    assert(a == b)   // order-independent
    assert(a != c)   // content-sensitive
  }

  test("contamination knife edge: exact and bloom scans agree AT the 0.3 threshold") {
    // hand-built docs whose gram containment lands EXACTLY on, just below,
    // and just above ContaminationMin = BloomHitMin = 0.3 — the regime
    // where a single Bloom false positive (or a float-compare divergence)
    // would flip a verdict. Construction: eval doc 0 has 22 distinct
    // tokens e1..e22 (20 distinct grams); train doc with h+2 eval tokens
    // then m own tokens has h eval-contained grams of h+m total, so
    // (h=5,m=15) → 5/20 = 0.25 clean, (h=6,m=14) → 6/20 = 0.30 flagged
    // (>= is inclusive), (h=7,m=13) → 7/20 = 0.35 flagged.
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val evalToks = (1 to 22).map(i => s"e$i")
    def train(id: Long, h: Int): (Long, String) =
      (id, (evalToks.take(h + 2) ++ (1 to (20 - h)).map(i => s"o${id}x$i"))
        .mkString(" "))
    val docs = (Seq((0L, evalToks.mkString(" "))) ++
      Seq(train(10L, 5), train(11L, 6), train(12L, 7)))
      .toDF("doc_id", "text")
    val exact = Dedup.contaminationOf(docs, 1L)
      .select($"train_doc", $"containment").as[(Long, Double)].collect().toMap
    val bloom = Dedup.bloomContaminationOf(docs, 1L, Dedup.BloomK, Dedup.BloomLog2m)
      .select($"train_doc", $"n_hit", $"hit_rate")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(exact.keySet === Set(11L, 12L), s"exact flagged ${exact.keySet}")
    assert(bloom.keySet === Set(11L, 12L), s"bloom flagged ${bloom.keySet}")
    assert(exact(11L) === 0.3 && exact(12L) === 0.35)
    // bloom hit counts are the TRUE overlap — the filter at this load
    // (20 grams in 2^20 bits) must contribute zero false-positive hits
    assert(bloom(11L) === ((6L, 0.3)) && bloom(12L) === ((7L, 0.35)))
  }

  test("bloom contamination runs in a session where an Observation has run") {
    // an Observation leaves a non-serializable ObservationManager in its
    // session, so any task-shipped class that captured the session fails
    // with Task not serializable from then on; a fresh session keeps the
    // shared one clean for the other suites
    import org.apache.spark.sql.functions.{count, lit}
    val s2 = spark.newSession()
    val obs = org.apache.spark.sql.Observation("probe")
    s2.range(3).observe(obs, count(lit(1)).as("n")).collect()
    assert(obs.get("n") === 3L)
    val flagged = Dedup.bloomContamination(s2, sf).collect()
    assert(flagged.length === Dedup.bloomContamination(spark, sf).count())
  }

  test("embedding cosine pairs match a driver-side recomputation") {
    import spark.implicits._
    val vecs = graft.core.Tables.embeddings(spark, sf)
      .select($"vec_id", $"embedding".cast("array<double>"))
      .as[(Long, Array[Double])].collect().sortBy(_._1)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dot += a(i)*b(i); na += a(i)*a(i); nb += b(i)*b(i); i += 1 }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val expected = (for {
      i <- vecs.indices; j <- (i + 1) until vecs.length
      s = cos(vecs(i)._2, vecs(j)._2) if s >= 0.35
    } yield (vecs(i)._1, vecs(j)._1)).toSet
    val got = Dedup.embeddingPairs(spark, sf)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    assert(got === expected)
  }

  test("soft-dedup weights: unique doc 1.0, identical pair floors at 0.5, short doc omitted") {
    import spark.implicits._
    val unique = "qw er ty ui op as df gh jk lz xc vb nm 12 34 56 78 90"
    val twin = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq(
      (0L, unique), (1L, twin), (2L, twin), (3L, "tiny")
    ).toDF("doc_id", "text")
    val w = Dedup.softDedupWeightsOf(docs)
      .select("doc_id", "n_fps", "n_dup_fps", "weight_micros")
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    // doc 3 is shorter than the k=8 shingle — no fingerprints, omitted
    assert(w.keySet === Set(0L, 1L, 2L))
    val (_, n0, d0, w0) = w(0L)
    assert(n0 > 0 && d0 === 0L && w0 === 1000000L)
    // identical twins share every fingerprint: weight = 1e6·n/(2n) = 0.5
    assert(w(1L) === w(2L).copy(_1 = 1L))
    val (_, n1, d1, w1) = w(1L)
    assert(n1 > 0 && d1 === n1 && w1 === 500000L)
  }

  test("fuzzy decontamination: eval near-twin flagged with exact jaccard, disjoint doc clean") {
    import spark.implicits._
    // doc 10 = eval doc 0 with tokens 10/20/30 edited: 7 of 28 grams
    // differ, so J = 21/35 = 0.6 exactly; doc 11 shares nothing
    val evalText = (1 to 30).map(i => s"ev$i").mkString(" ")
    val twin = (1 to 30).map(i => if (i % 10 == 0) s"edit$i" else s"ev$i").mkString(" ")
    val docs = Seq(
      (0L, evalText), (1L, "unrelated eval filler words here"),
      (10L, twin), (11L, "completely different training text tokens")
    ).toDF("doc_id", "text")
    val got = Dedup.fuzzyContaminationOf(docs, evalMax = 2L)
      .select("train_doc", "eval_doc", "jac")
      .as[(Long, Long, Double)].collect()
    assert(got.map(r => (r._1, r._2)).toSet === Set((10L, 0L)))
    assert(got.head._3 === 0.6)
  }

  test("keep-best keeps the highest-quality cluster member, not the minimum id") {
    import spark.implicits._
    // B = A plus four stopwords: gram-Jaccard ≈ 0.9 (same cluster) but B
    // scores higher on both the length and the stopword quality terms, so
    // quality-aware selection must flip the canonical away from min-id A
    val a = (1 to 40).map(i => s"tok$i").mkString(" ")
    val b = a + " the the the the"
    val docs = Seq(
      (1L, a, "s"), (2L, b, "s"), (7L, "totally disjoint filler words", "s")
    ).toDF("doc_id", "text", "source")
    val got = Dedup.keepBestOf(docs)
      .select("doc_id", "cluster", "keep")
      .as[(Long, Long, Boolean)].collect().toSet
    assert(got === Set((1L, 1L, false), (2L, 1L, true), (7L, 7L, true)))
  }

  test("ingest-batch dedup: containment ratios, integer-space flag at the exact edge") {
    import spark.implicits._
    // existing: doc 1 carries grams {w1w2w3, w2w3w4, w3w4w5}; batch docs
    // (id ≡ 7 mod 10) probe it: 7 fully known, 17 at 1/4, 27 at 0/2,
    // 37 at exactly 2/4 = the 0.5 threshold (2·known ≥ n must flag it)
    val docs = Seq(
      (1L, "w1 w2 w3 w4 w5"),
      (7L, "w1 w2 w3 w4"),
      (17L, "w1 w2 w3 x y z"),
      (27L, "p q r s"),
      (37L, "w1 w2 w3 w4 a b")
    ).toDF("doc_id", "text")
    val got = Dedup.ingestBatchDedupOf(docs)
      .select("doc_id", "n_grams", "n_known", "known_ratio", "is_dup")
      .as[(Long, Int, Long, Double, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    assert(got.keySet === Set(7L, 17L, 27L, 37L))
    assert(got(7L) === ((7L, 2, 2L, 1.0, true)))
    assert(got(17L) === ((17L, 4, 1L, 0.25, false)))
    assert(got(27L) === ((27L, 2, 0L, 0.0, false)))
    assert(got(37L) === ((37L, 4, 2L, 0.5, true)), "exact-threshold doc must flag")
  }

  test("semantic contamination: orientation, threshold, and scale-invariant cosine") {
    import spark.implicits._
    // eval: 0=[1,0,0], 1=[0,1,0]; train: 10 = scaled copy of eval0 (cos 1),
    // 11 = diagonal (cos ≈ .7071 to BOTH evals), 12 = orthogonal (no rows),
    // 13 = anti-parallel (cos −1, below threshold)
    val vecs = Seq(
      (0L, Array(1f, 0f, 0f)), (1L, Array(0f, 1f, 0f)),
      (10L, Array(5f, 0f, 0f)), (11L, Array(1f, 1f, 0f)),
      (12L, Array(0f, 0f, 3f)), (13L, Array(-1f, 0f, 0f))
    ).toDF("vec_id", "embedding")
    val got = Dedup.semanticContaminationOf(vecs, evalMax = 2L)
      .select("train_vec", "eval_vec", "cos_sim")
      .as[(Long, Long, Double)].collect().toSet
    assert(got === Set((10L, 0L, 1.0), (11L, 0L, 0.7071), (11L, 1L, 0.7071)))
  }

  test("semantic contamination on the sf corpus: pairs ⊆ all-pairs verifier, no eval-side rows") {
    import spark.implicits._
    val got = Dedup.semanticContamination(spark, sf)
      .select("train_vec", "eval_vec", "cos_sim")
      .as[(Long, Long, Double)].collect()
    assert(got.nonEmpty)
    got.foreach { case (t, e, c) =>
      assert(t >= Dedup.EvalSetSize && e < Dedup.EvalSetSize)
      assert(c >= Dedup.SemanticContamMin)
    }
    // every emitted pair appears in the exact all-pairs scan at the same
    // 4dp cosine (the eval prefix is below every train id, so the
    // all-pairs (a < b) orientation is (eval, train))
    val allPairs = Dedup.embeddingPairs(spark, sf)
      .select("vec_a", "vec_b", "cos_sim")
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, c) => (a, b) -> c }.toMap
    got.foreach { case (t, e, c) =>
      assert(allPairs.get((e, t)).contains(c), s"pair ($e,$t)") }
  }

  test("contamination report: union of the four pass verdicts, agreement count exact") {
    import spark.implicits._
    val d = "/root/testdata/sf0.01" // sf0.001 has too few docs to flag
    val rep = Dedup.contaminationReport(spark, d)
      .as[(Long, Boolean, Boolean, Boolean, Boolean, Long)].collect()
    assert(rep.nonEmpty)
    rep.foreach { case (id, e, b, f, s2, n) =>
      assert(n === Seq(e, b, f, s2).count(identity).toLong, s"doc $id")
      assert(n >= 1L, s"doc $id carries no flag") // report = union of flags
    }
    // each method's flag column reproduces that operator's flagged set
    def ids(df: org.apache.spark.sql.DataFrame, c: String): Set[Long] =
      df.selectExpr(s"CAST($c AS BIGINT)").distinct().as[Long].collect().toSet
    val byCol = Map(
      ids(Dedup.contamination(spark, d), "train_doc") -> rep.filter(_._2).map(_._1),
      ids(Dedup.bloomContamination(spark, d), "train_doc") -> rep.filter(_._3).map(_._1),
      ids(Dedup.fuzzyContamination(spark, d), "train_doc") -> rep.filter(_._4).map(_._1),
      ids(Dedup.semanticContamination(spark, d), "train_vec") -> rep.filter(_._5).map(_._1))
    byCol.foreach { case (want, got2) => assert(got2.toSet === want) }
  }

  test("sketch recall report reconciles with the two pair frames it monitors") {
    import spark.implicits._
    def pairs(df: org.apache.spark.sql.DataFrame) = df
      .selectExpr("doc_a", "doc_b", "CAST(round(jac * 10000) AS BIGINT) AS jx")
      .as[(Long, Long, Long)].collect()
      .map { case (a, b, j) => (a, b) -> j }.toMap
    val ex = pairs(Dedup.ngramJaccardPairs(spark, sf))
    val lsh = pairs(Dedup.minhashLshPairs(spark, sf))
    val got = Dedup.sketchRecallReport(spark, sf)
      .as[(Int, Long, Long, Long, Long, Long, Long)].collect()
    assert(got.map(_._1).toSeq === Dedup.SketchRecallThresholds)
    got.foreach { case (t, nExact, nLsh, nCommon, onlyE, onlyL, recall) =>
      val we = ex.count(_._2 >= t).toLong
      val wl = lsh.count(_._2 >= t).toLong
      val wc = ex.count { case (k, j) => j >= t && lsh.get(k).exists(_ >= t) }.toLong
      assert((nExact, nLsh, nCommon) === ((we, wl, wc)), s"t=$t")
      assert(onlyE === we - wc && onlyL === wl - wc)
      assert(recall === (if (we == 0) 1000000L else wc * 1000000L / we))
    }
    // LSH precision is structural (candidates exact-verified): at every
    // threshold, anything LSH-only would be a pair the exact path's
    // df-prune missed — on this corpus there are none (pair-parity test)
    assert(got.forall(_._6 == 0L))
  }

  test("ER blocked matches: block gates comparison, edit threshold exact, canonical order") {
    import spark.implicits._
    val cust = Seq(
      // same block (nation 1, AUTO), distance 1 → match
      (1L, "Customer#000000001", 1, "AUTO"),
      (2L, "Customer#000000002", 1, "AUTO"),
      // identical name but DIFFERENT nation → blocked out, no pair
      (3L, "Customer#000000001", 2, "AUTO"),
      // same block but distance 2 → below threshold, no pair
      (4L, "Customer#000000345", 1, "AUTO"),
      // same nation, different segment → blocked out
      (5L, "Customer#000000001", 1, "HOUSE"),
      // distance 1 by INSERTION (lengths differ) → excluded by the
      // same-length contract (no shared deletion key)
      (6L, "Customer#0000000012", 1, "AUTO"),
      // a mid-name typo: surfaces through the deletion key at position 17
      (7L, "Customer#000000011", 1, "AUTO"),
    ).toDF("c_custkey", "c_name", "c_nationkey", "c_mktsegment")
    val got = graft.operators.Dedup.erBlockedMatchesOf(cust)
      .as[(Long, Long, Int, String, Long)].collect().toSet
    assert(got === Set(
      (1L, 2L, 1, "AUTO", 1L),   // last-char substitution
      (1L, 7L, 1, "AUTO", 1L),   // second-to-last-char substitution
      // NOT (2,7): they differ at TWO positions — no shared deletion key
      // and lev 2 > threshold either way
    ))
    // canonical a < b: no mirror row ever
    assert(got.forall(p => p._1 < p._2))
  }
}
