package graft

import graft.operators.TextOps
import graft.multimodal.Multimodal

class TextSpec extends SparkTestBase {
  import spark.implicits._

  /** A JSON string literal of `s`, every char written as a unicode escape. */
  private def jsonStr(s: String) = s.map(c => f"\\u${c.toInt}%04x").mkString("\"", "", "\"")

  test("token stats: counts are consistent with raw text") {
    val row = TextOps.tokenStats(spark, sf)
      .select("doc_id", "n_tokens", "n_token_chars")
      .as[(Long, Int, Long)].collect()
    val texts = graft.core.Tables.documents(spark, sf)
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    row.foreach { case (id, n, chars) =>
      val toks = texts(id).split("\\s+").filter(_.nonEmpty)
      assert(n === toks.length, s"doc $id")
      assert(chars === toks.map(_.length.toLong).sum, s"doc $id")
    }
  }

  test("tokenizer: engine tokens and the DuckDB tokensSql split the edge strings alike") {
    import scala.sys.process._
    assume(scala.util.Try(Seq("python3", "-c", "import duckdb").! == 0).getOrElse(false),
      "python3 with the duckdb module not available")
    val edges = Seq("a\u000Bb", "\u000B", "x \u000B\t y", "a\tb\r\nc\fd", "\t\t\r\r\f\f",
      "  lead", "trail  ", "  both  ", "", "   ", "a\u00A0b", "a\u2003b", "a b")
    // a token as its code points in hex, a row as its tokens — the same
    // plain-ASCII line on both sides, whatever the token characters
    def line(toks: Seq[String]): String =
      toks.map(_.codePoints.toArray.map(Integer.toHexString).mkString(",")).mkString(" ")
    val engine = edges.zipWithIndex.toDF("text", "i")
      .select($"i", TextOps.tokens.as("toks")).as[(Int, Seq[String])].collect()
      .sortBy(_._1).map(r => line(r._2)).toSeq
    val input = s"""{"sql": ${jsonStr(TextOps.tokensSql)}, "texts": [${edges.map(jsonStr).mkString(", ")}]}"""
    val script =
      """import duckdb, json, sys
        |req = json.load(sys.stdin)
        |con = duckdb.connect()
        |con.execute("CREATE TABLE d (i INTEGER, text VARCHAR)")
        |con.executemany("INSERT INTO d VALUES (?, ?)", list(enumerate(req["texts"])))
        |for (toks,) in con.execute("SELECT " + req["sql"] + " FROM d ORDER BY i").fetchall():
        |    print(" ".join(",".join(format(ord(c), "x") for c in t) for t in toks))
        |""".stripMargin
    val out = (Seq("python3", "-c", script) #<
      new java.io.ByteArrayInputStream(input.getBytes("UTF-8"))).!!
    val duck = out.split("\n", -1).dropRight(1).toSeq
    assert(duck.length === edges.length, out)
    edges.indices.foreach { i =>
      assert(duck(i) === engine(i), s"edge string ${edges(i).map(_.toInt)}")
    }
    // the expected split itself: \x0B is a blank, NBSP and U+2003 are not
    assert(engine(0) === "61 62")
    assert(engine(8) === "" && engine(9) === "")
    assert(engine(10) === "61,a0,62" && engine(11) === "61,2003,62")
  }

  test("word count: the builtin Maple/Juice and the DuckDB wcOracle count the edge strings alike") {
    import scala.sys.process._
    assume(scala.util.Try(Seq("python3", "-c", "import duckdb").! == 0).getOrElse(false),
      "python3 with the duckdb module not available")
    val docs = Seq("a\u000Bb a", "\u000B", "x \u000B\t y", "a\tb\r\nc\fd", "\t\t\r\r\f\f",
      "  lead", "trail  ", "  both  ", "", "   ", "a\u00A0b", "b a")
    // a word as its code points in hex, then its count — plain ASCII on
    // both sides, whatever the word characters
    def hex(w: String): String = w.codePoints.toArray.map(Integer.toHexString).mkString(",")
    val engine = new graft.engine.MapleJuice(spark)
      .runOn(docs.toDS(), graft.engine.Builtins.wcMaple, graft.engine.Builtins.wcJuice)
      .as[(String, String)].collect().map { case (w, n) => s"${hex(w)} $n" }.sorted.toSeq
    val input = s"""{"sql": ${jsonStr(TextOps.wcOracle)}, "texts": [${docs.map(jsonStr).mkString(", ")}]}"""
    val script =
      """import duckdb, json, sys
        |req = json.load(sys.stdin)
        |con = duckdb.connect()
        |con.execute("CREATE TABLE documents (doc_id INTEGER, text VARCHAR)")
        |con.executemany("INSERT INTO documents VALUES (?, ?)", list(enumerate(req["texts"])))
        |for (w, n) in con.execute(req["sql"]).fetchall():
        |    print(",".join(format(ord(c), "x") for c in w), n)
        |""".stripMargin
    val out = (Seq("python3", "-c", script) #<
      new java.io.ByteArrayInputStream(input.getBytes("UTF-8"))).!!
    val duck = out.split("\n").filter(_.nonEmpty).sorted.toSeq
    assert(duck === engine)
    // the expected counts: \x0B, tab, CR, LF and FF separate words, NBSP does not
    assert(engine === Seq("61 4", "61,a0,62 1", "62 3", "63 1", "64 1", "6c,65,61,64 1",
      "74,72,61,69,6c 1", "78 1", "79 1", "62,6f,74,68 1").sorted)
  }

  test("quality quantile filter: per-source keep fraction, threshold membership, approx parity") {
    import org.apache.spark.sql.functions.col
    val docs = graft.core.Tables.documents(spark, sf)
    val exact = TextOps.qualityQuantileFilterOf(docs, exact = true)
      .select("doc_id", "source", "quality_score", "src_thr", "keep")
      .as[(Long, String, Double, Double, Boolean)].collect()
    assert(exact.length === docs.count())
    // keep verdict is consistent with the emitted threshold (4dp rounding
    // can place score and thr within half an ulp -> compare with slack)
    exact.foreach { case (id, _, score, thr, keep) =>
      if (score >= thr + 5e-5) assert(keep, s"doc $id above thr but dropped")
      if (score < thr - 5e-5) assert(!keep, s"doc $id below thr but kept")
    }
    // per source: at least (1-q) of docs keep, and at least one drops
    // (scores are not all tied at this sf)
    exact.groupBy(_._2).foreach { case (src, rows) =>
      val kept = rows.count(_._5)
      assert(kept >= (rows.length * (1 - TextOps.QualityQuantile)).floor.toInt,
        s"source $src kept too few")
      assert(kept < rows.length, s"source $src dropped nothing")
    }
    // approx mode: the KLL sketch returns a dataset ELEMENT where exact
    // interpolates between two, so the thresholds may legitimately differ —
    // any keep-verdict divergence must be confined to docs scoring inside
    // the band between the two thresholds (asserting set equality here
    // would be data-dependent: it held on this corpus, then failed on the
    // next generator tweak)
    val approxRows = TextOps.qualityQuantileFilterOf(docs, exact = false)
      .select("doc_id", "source", "quality_score", "src_thr", "keep")
      .as[(Long, String, Double, Double, Boolean)].collect()
    val thrE = exact.map(r => r._2 -> r._4).toMap
    val thrA = approxRows.map(r => r._2 -> r._4).toMap
    val keepE = exact.map(r => r._1 -> r._5).toMap
    val divergent = approxRows.filter { case (id, _, _, _, k) => k != keepE(id) }
    divergent.foreach { case (id, src, score, _, _) =>
      val lo = math.min(thrE(src), thrA(src))
      val hi = math.max(thrE(src), thrA(src))
      assert(score >= lo - 1e-9 && score <= hi + 1e-9,
        s"doc $id verdict diverges outside the threshold band [$lo, $hi]")
    }
  }

  test("quality score is within [0,1]-ish bounds and deterministic") {
    val a = TextOps.qualityScore(spark, sf).select("doc_id", "quality_score")
      .as[(Long, Double)].collect().toMap
    val b = TextOps.qualityScore(spark, sf).select("doc_id", "quality_score")
      .as[(Long, Double)].collect().toMap
    assert(a === b)
    assert(a.values.forall(s => s >= 0.0 && s <= 1.0))
  }

  test("fingerprint is whitespace-normalization invariant") {
    val fp = TextOps.fingerprint(spark, sf).as[(Long, String)].collect().toMap
    val doc0 = graft.core.Tables.documents(spark, sf)
      .select("doc_id", "text").as[(Long, String)].collect().head
    // recompute with perturbed whitespace → same fingerprint
    val perturbed = doc0._2.replaceAll(" ", "   ") + " "
    val md = java.security.MessageDigest.getInstance("MD5")
    val norm = perturbed.replaceAll("\\s+", " ").trim.toLowerCase
    val hex = md.digest(norm.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(fp(doc0._1) === hex)
  }

  test("winnowing: shared substring >= w+k-1 chars guarantees a shared fingerprint") {
    import graft.functions.Hashing
    val common = "SHAREDSEGMENTOFTEXTTHATISLONGENOUGH" // 35 > 16+8-1
    val a = "prefix one two three " + common + " suffix alpha"
    val b = "totally different lead-in " + common + " other tail"
    val fa = Hashing.winnow(a, 8, 16)
    val fb = Hashing.winnow(b, 8, 16)
    assert(fa.intersect(fb).nonEmpty)
    // and unrelated texts (same alphabet, no long shared run) do not collide
    val c = Hashing.winnow("the quick brown fox jumps over the lazy dog", 8, 16)
    val e = Hashing.winnow("pack my box with five dozen liquor jugs today", 8, 16)
    assert(c.intersect(e).isEmpty)
    // fingerprints are a subset of all k-gram rolling hashes
    assert(fa.subsetOf(Hashing.rollingHashes(a, 8).toSet))
    // operator runs over documents, emits exploded (doc_id, fingerprint)
    // rows, and is deterministic
    val r1 = TextOps.winnowFingerprints(spark, sf)
      .as[(Long, Long)].collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val r2 = TextOps.winnowFingerprints(spark, sf)
      .as[(Long, Long)].collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(r1 === r2)
    assert(r1.values.forall(_.nonEmpty))
    assert(r1.size === graft.core.Tables.documents(spark, sf).count())
  }

  test("winnow near-dup pairs score correctly and overlap the ngram-jaccard dups") {
    import graft.functions.Hashing
    val docs = graft.core.Tables.documents(spark, sf)
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    val pairs = TextOps.winnowCandidates(spark, sf)
      .select("doc_a", "doc_b", "winnow_jac").as[(Long, Long, Double)].collect()
    // every emitted pair's score matches an in-JVM recomputation
    pairs.foreach { case (a, b, jac) =>
      val fa = Hashing.winnow(docs(a), TextOps.WinnowK, TextOps.WinnowWindow)
      val fb = Hashing.winnow(docs(b), TextOps.WinnowK, TextOps.WinnowWindow)
      val c = fa.intersect(fb).size.toDouble
      val expect = BigDecimal(c / (fa.size + fb.size - c))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(jac === expect, s"pair ($a,$b)")
      assert(jac >= TextOps.WinnowJaccard)
    }
    // recall vs the UNPRUNED truth (full quadratic in-JVM): the df-pruned
    // candidate index must recover essentially all true pairs
    val ids = docs.keys.toSeq.sorted
    val sets = ids.map(id =>
      id -> Hashing.winnow(docs(id), TextOps.WinnowK, TextOps.WinnowWindow)).toMap
    val truth = (for {
      i <- ids.indices; j <- (i + 1) until ids.length
      (a, b) = (ids(i), ids(j))
      c = sets(a).intersect(sets(b)).size.toDouble
      if c / (sets(a).size + sets(b).size - c) >= TextOps.WinnowJaccard
    } yield (a, b)).toSet
    val winnow = pairs.map(p => (p._1, p._2)).toSet
    if (truth.nonEmpty) {
      val recall = winnow.intersect(truth).size.toDouble / truth.size
      assert(recall >= 0.9, s"pruned-index recall $recall over ${truth.size} true pairs")
    }
    // the two near-dup detectors agree on the planted duplicates: most
    // word-3-gram dups are also winnow dups (different granularity, so
    // exact equality is not expected — but the overlap must dominate)
    val ngram = graft.operators.Dedup.ngramJaccardPairs(spark, sf)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    if (ngram.nonEmpty) {
      val overlap = winnow.intersect(ngram).size.toDouble / ngram.size
      assert(overlap >= 0.6, s"winnow found only ${overlap * 100}% of ngram dups")
    }
  }

  test("winnow: identical cluster larger than the df cap survives the prune") {
    // 70 identical copies (> DfCapCeiling = 64): unguarded, every
    // fingerprint of the cluster goes hot — with the ABSOLUTE ceiling
    // this triggers at ~65 copies at any corpus size, not just when the
    // cluster exceeds 1% — and the clique silently vanishes from the
    // exact pairs while LSH still emits it. The md5-collapse must keep
    // the full clique in the output at winnow_jac 1.0.
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val copies = (0L until 70L).map(i => (i, base))
    val others = Seq((1000L,
      "totally different words making their own unrelated document body"))
    val docs = (copies ++ others).toDF("doc_id", "text")
    val pairs = TextOps.winnowCandidatesOf(docs)
      .select("doc_a", "doc_b", "winnow_jac").as[(Long, Long, Double)].collect()
    val expected =
      (for { i <- 0L until 70L; j <- (i + 1) until 70L } yield (i, j)).toSet
    assert(pairs.map(p => (p._1, p._2)).toSet === expected)
    assert(pairs.forall(_._3 === 1.0))
  }

  test("PII redaction masks planted emails and IPs and counts them") {
    val planted = Seq(
      (1L, "contact bob.smith+dev@example-corp.io or 10.0.255.3 today"),
      (2L, "no pii here at all"),
      (3L, "a@b.co and c.d@e.org; servers 192.168.1.1 1.2.3.4"),
      (4L, "mail x@1.2.3.4.com now")) // IP-shaped text inside an email match
      .toDF("doc_id", "text")
    val out = TextOps.redactPii(planted)
      .select("doc_id", "n_emails", "n_ips", "redacted")
      .as[(Long, Int, Int, String)].collect().sortBy(_._1)
    assert(out(0) === ((1L, 1, 1, "contact <EMAIL> or <IP> today")))
    assert(out(1) === ((2L, 0, 0, "no pii here at all")))
    assert(out(2) === ((3L, 2, 2, "<EMAIL> and <EMAIL>; servers <IP> <IP>")))
    // the IP was consumed by the email mask — it must NOT be counted as a
    // masked IP (counts always correspond to masks present in `redacted`)
    assert(out(3) === ((4L, 1, 0, "mail <EMAIL> now")))
  }

  test("repetition signals match an in-JVM recomputation") {
    val rows = TextOps.repetitionSignals(spark, sf)
      .select("doc_id", "n_words", "n_distinct_words", "top_word_ratio")
      .as[(Long, Long, Long, Double)].collect()
    val texts = graft.core.Tables.documents(spark, sf)
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    rows.foreach { case (id, n, nd, top) =>
      val toks = texts(id).split("\\s+").filter(_.nonEmpty)
      assert(n === toks.length.toLong, s"doc $id")
      assert(nd === toks.distinct.length.toLong, s"doc $id")
      val expTop = BigDecimal(
        toks.groupBy(identity).values.map(_.length).max.toDouble / toks.length)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(top === expTop, s"doc $id")
    }
  }

  test("language ID is deterministic and covers all docs") {
    val preds = TextOps.langId(spark, sf)
      .select("doc_id", "pred_lang").as[(Long, String)].collect().toMap
    assert(preds.size === graft.core.Tables.documents(spark, sf).count())
    val again = TextOps.langId(spark, sf)
      .select("doc_id", "pred_lang").as[(Long, String)].collect().toMap
    assert(preds === again)
    assert(preds.values.toSet.subsetOf(Set("en", "fr", "es", "de", "zh", "und")))
  }

  test("multimodal: payload roundtrips and fake codec is deterministic") {
    val bt = Multimodal.binaryTable(spark, sf)
    val row = bt.select("doc_id", "payload").as[(Long, Array[Byte])].collect().head
    val text = graft.core.Tables.documents(spark, sf)
      .filter($"doc_id" === row._1).select("text").as[String].collect().head
    assert(new String(row._2, "UTF-8") === text)
    val (w1, h1) = Multimodal.FakeCodec.dims(row._2)
    val (w2, h2) = Multimodal.FakeCodec.dims(row._2)
    assert((w1, h1) === (w2, h2))
    val frames = Multimodal.FakeCodec.sampleFrames(row._2, 10)
    assert(frames.length === (row._2.length + 9) / 10)
  }

  test("multimodal exact dedup: catalog reconciles with an in-JVM digest recount") {
    val got = Multimodal.exactDedup(spark, sf)
      .as[(String, Long, Long, Long, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    val docs = graft.core.Tables.documents(spark, sf)
      .select("doc_id", "text").as[(Long, String)].collect()
    val want = docs.groupBy { case (_, t) =>
      java.security.MessageDigest.getInstance("MD5")
        .digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString
    }
    assert(got.keySet === want.keySet)
    want.foreach { case (dig, rows) =>
      val (_, n, keeper, bytes, dup) = got(dig)
      assert(n === rows.length.toLong, dig)
      assert(keeper === rows.map(_._1).min, dig)
      assert(bytes === rows.head._2.getBytes("UTF-8").length.toLong, dig)
      assert(dup === (rows.length > 1), dig)
    }
    // copy counts tile the corpus exactly
    assert(got.values.map(_._2).sum === docs.length.toLong)
  }

  test("multimodal phash: signatures match in-JVM recomputation; edits pair, duplicates at 0") {
    import graft.functions.Hashing
    // distributed signatures == driver-side recomputation, every doc
    val sigs = Multimodal.phashSignatures(spark, sf)
      .as[(Long, Long)].collect().toMap
    val payloads = Multimodal.binaryTable(spark, sf)
      .select("doc_id", "payload").as[(Long, Array[Byte])].collect()
    payloads.foreach { case (id, p) =>
      val expect = Hashing.simhash64ByteGrams(
        Multimodal.FakeCodec.resize(p, Multimodal.ResizeTarget), Multimodal.PhashShingle)
      assert(sigs(id) === expect, s"doc $id")
    }
    // planted corpus: base image, byte-identical copy, light edit, unrelated
    val base = ("x" * 100) + ("the quick brown fox jumps over the lazy dog " * 8)
    val edited = base.updated(10, 'Q').updated(200, 'Z')
    val other = ("0123456789abcdef" * 30).take(base.length)
    val docs = Seq((1L, base), (2L, base), (3L, edited), (4L, other))
      .toDF("doc_id", "text")
      .select($"doc_id",
        org.apache.spark.sql.functions.encode($"text", "UTF-8").as("payload"))
    val pairs = graft.operators.Dedup.simhashPairsOf(
        Multimodal.phashSignaturesOf(docs))
      .as[(Long, Long, Int)].collect()
    assert(pairs.contains((1L, 2L, 0)), s"identical copy must pair at 0: ${pairs.toSeq}")
    val edit = pairs.filter(p => p._1 == 1L && p._2 == 3L)
    assert(edit.nonEmpty && edit.head._3 <= 6,
      s"light edit must pair within hamming 6: ${pairs.toSeq}")
    assert(!pairs.exists(p => p._2 == 4L || p._1 == 4L),
      s"unrelated payload must not pair: ${pairs.toSeq}")
  }

  test("multimodal feature extraction matches in-JVM recomputation") {
    val feats = Multimodal.extractFeatures(spark, sf)
      .as[(Long, Double, Int)].collect().toMap2
    val payloads = Multimodal.binaryTable(spark, sf)
      .select("doc_id", "payload").as[(Long, Array[Byte])].collect()
    payloads.foreach { case (id, p) =>
      val (mean, frames) = feats(id)
      val expMean = BigDecimal(Multimodal.FakeCodec.meanByte(p))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(mean === expMean, s"doc $id")
      assert(frames === Multimodal.FakeCodec.sampleFrames(p, 32).length)
    }
  }

  private implicit class Map2[A, B, C](rows: Array[(A, B, C)]) {
    def toMap2: Map[A, (B, C)] = rows.map(r => r._1 -> (r._2, r._3)).toMap
  }

  test("BPE merge candidates: corpus-weighted pair counts, short words excluded") {
    import graft.operators.TextOps
    // "ab" twice + "abc" once -> (a,b): 3, (b,c): 1; single chars add nothing
    val docs = Seq((1L, "ab ab c"), (2L, "abc a b")).toDF("doc_id", "text")
    val got = TextOps.bpeMergeCandidatesOf(docs)
      .as[(String, String, Long)].collect().toSeq
    assert(got === Seq(("a", "b", 3L), ("b", "c", 1L)))
  }

  test("BPE train: iterative rounds pick multi-symbol pairs a one-shot count never sees") {
    import graft.operators.TextOps
    // vocab: aaab(f2) ab b a xy aaaa(f1 each)
    // R1: (a,a)=7 (aaab 2×2 + aaaa 3) beats (a,b)=3 → aaab " aa a b ",
    //     aaaa " aa a a " (plain-replace scan: back-to-back pairs do not
    //     chain, the committed cross-engine rewrite semantics)
    // R2: (a,b)=3 ties (aa,a)=3, tie-break a ASC → (a,b) → aaab " aa ab "
    // R3: (aa,ab)=2 — a MULTI-SYMBOL pair; the one-shot candidate table
    //     (chars only) can never contain it. This is iterative ≠ one-shot.
    // R4: (a,a)=1 REAPPEARS (aaaa's unchained leftover " aa a a ") → " aa aa "
    // R5: (aa,aa)=1 → " aaaa "; R6: (x,y)=1 → " xy "; then exhausted (every
    //     word is one symbol) — 6 merges, not BpeTrainRounds
    val docs = Seq((1L, "aaab aaab"), (2L, "ab b a"), (3L, "xy"), (4L, "aaaa"))
      .toDF("doc_id", "text")
    val got = TextOps.bpeTrainOf(docs)
      .as[(Long, String, String, Long)].collect().sortBy(_._1).toSeq
    assert(got === Seq(
      (1L, "a", "a", 7L), (2L, "a", "b", 3L), (3L, "aa", "ab", 2L),
      (4L, "a", "a", 1L), (5L, "aa", "aa", 1L), (6L, "x", "y", 1L)))
    // the one-shot table on the same corpus: single-char pairs only — no
    // (aa,ab) anywhere, and it can never re-rank a pair after a merge
    val oneShot = TextOps.bpeMergeCandidatesOf(docs)
      .as[(String, String, Long)].collect().toSeq
    assert(oneShot === Seq(("a", "a", 7L), ("a", "b", 3L), ("x", "y", 1L)))
  }

  test("BPE apply: hand-computed encode with the TRAINED merge list, corpus invariants") {
    import graft.operators.TextOps
    // trained list (see the bpeTrain spec): (a,a) (a,b) (aa,ab) (a,a)
    // (aa,aa) (x,y) applied in learned order:
    //   aaab: " a a a b " → " aa a b " → " aa ab " → " aaab "   = 1 tok
    //   ab:   " a b " → " ab "                                 = 1 tok
    //   aaaa: " a a a a " → " aa a a " → (rank-4 (a,a)) " aa aa "
    //         → (rank-5) " aaaa "                              = 1 tok
    //   b, a: untouched; xy → " xy "                           = 1 tok
    val docs = Seq((1L, "aaab aaab"), (2L, "ab b a"), (3L, "xy"), (4L, "aaaa"))
      .toDF("doc_id", "text")
    val got = TextOps.bpeApplyOf(docs)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got === Seq(
      (1L, 2L, 2L, 6L),  // 2 words, 1+1 tokens, 8-2 merges
      (2L, 3L, 3L, 1L),  // ab -> 1 tok (1 merge); b, a untouched
      (3L, 1L, 1L, 1L),  // xy -> 1 tok
      (4L, 1L, 1L, 3L))) // aaaa -> [aaaa]
    // sf corpus invariants: merges strictly shrink, nothing goes negative,
    // totals reconcile (tokens + merges = chars)
    val stats = TextOps.bpeApply(spark, sf)
      .as[(Long, Long, Long, Long)].collect()
    assert(stats.forall { case (_, w, t, m) => w >= 0 && t >= 0 && m >= 0 })
    assert(stats.forall { case (_, w, t, _) => t >= w }) // >= 1 token per word
    assert(stats.map(_._4).sum > 0, "trained merges should fire somewhere")
    val chars = graft.core.Tables.documents(spark, sf)
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    stats.foreach { case (id, _, t, m) =>
      val c = chars(id).split("\\s+").filter(_.nonEmpty).map(_.length.toLong).sum
      assert(t + m === c, s"doc $id: tokens+merges != word chars")
    }
  }

  test("vocab coverage: per-source fertility reconciles with the per-doc encode") {
    import graft.operators.TextOps
    val cov = TextOps.vocabCoverage(spark, sf)
      .as[(String, Long, Long, Long, Long, Long, Long, Long)].collect()
    assert(cov.nonEmpty)
    cov.foreach { case (src, nd, w, t, c, fert, cpt, whole) =>
      assert(nd > 0 && w > 0 && t > 0 && c > 0, s"$src: empty aggregates")
      assert(t >= w, s"$src: fewer tokens than words")      // ≥ 1 tok/word
      assert(c >= t, s"$src: fewer chars than tokens")      // merges only shrink
      assert(fert === t * 1000000L / w, s"$src: fertility arithmetic")
      assert(cpt === c * 1000000L / t, s"$src: chars/token arithmetic")
      assert(whole >= 0L && whole <= 1000000L, s"$src: whole-word rate range")
    }
    // cross-operator reconciliation: the per-source sums must equal the
    // per-doc bpeApply rollup aggregated through the doc→source map
    val bySrcFromApply = TextOps.bpeApply(spark, sf)
      .join(graft.core.Tables.documents(spark, sf).select("doc_id", "source"), "doc_id")
      .groupBy("source")
      .agg(org.apache.spark.sql.functions.sum("n_words").as("w"),
        org.apache.spark.sql.functions.sum("n_bpe_tokens").as("t"))
      .as[(String, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    cov.foreach { case (src, _, w, t, _, _, _, _) =>
      assert(bySrcFromApply(src) === ((w, t)), s"$src: diverges from bpeApply rollup")
    }
  }

  test("BPE merge candidates on the sf corpus: top-k ordered, counts positive") {
    import graft.operators.TextOps
    val got = TextOps.bpeMergeCandidates(spark, sf)
      .as[(String, String, Long)].collect().toSeq
    assert(got.length === TextOps.BpeMergeTopK)
    // descending by count with (a, b) tie-break — the committed total order
    got.sliding(2).foreach { case Seq((a1, b1, c1), (a2, b2, c2)) =>
      assert(c1 > c2 || (c1 == c2 && (a1 < a2 || (a1 == a2 && b1 < b2))))
    case _ => }
    assert(got.forall(_._3 > 0))
    assert(got.forall(r => r._1.length == 1 && r._2.length == 1))
  }

  test("multimodal frame sample selects exactly the stride-head bytes") {
    val out = Multimodal.frameSample(spark, sf)
      .as[(Long, Int, Long)].collect().toMap2
    val payloads = Multimodal.binaryTable(spark, sf)
      .select("doc_id", "payload").as[(Long, Array[Byte])].collect()
    assert(payloads.length === out.size)
    payloads.foreach { case (id, p) =>
      val frames = Multimodal.FakeCodec.sampleFrames(p, Multimodal.FrameStride)
      val (n, sum) = out(id)
      assert(n === frames.length, s"doc $id")
      assert(sum === frames.map(_ & 0xff).map(_.toLong).sum, s"doc $id")
      // the sampled positions are the stride heads: 0, 32, 64, …
      assert(frames.toSeq ===
        (0 until p.length by Multimodal.FrameStride).map(p(_)).toSeq, s"doc $id")
    }
  }

  test("multimodal resize selects the exact nearest-neighbor bytes") {
    val out = Multimodal.resizePayloads(spark, sf)
      .as[(Long, Int, Long)].collect().toMap2
    val payloads = Multimodal.binaryTable(spark, sf)
      .select("doc_id", "payload").as[(Long, Array[Byte])].collect()
    payloads.foreach { case (id, p) =>
      val expect = Multimodal.FakeCodec.resize(p, Multimodal.ResizeTarget)
      val (len, sum) = out(id)
      assert(len === expect.length, s"doc $id")
      assert(sum === expect.foldLeft(0L)((a, b) => a + (b & 0xff)), s"doc $id")
    }
  }

  test("multimodal decode metadata agrees with payload lengths") {
    val meta = Multimodal.decodeMeta(spark, sf)
      .select("doc_id", "byte_len", "width", "height")
      .as[(Long, Long, Int, Int)].collect()
    meta.foreach { case (_, len, w, h) =>
      assert(w === 64 + len % 512)
      assert(h === 64 + (len * 7) % 512)
    }
  }

  test("chunking: stride/overlap reconstruction, short and empty docs total") {
    import graft.operators.TextOps
    val words = (1 to 80).map(i => s"w$i")
    val docs = Seq(
      (1L, words.mkString(" ")),            // 80 tokens -> 4 chunks (starts 0,24,48,72)
      (2L, "a b c"),                        // 3 tokens  -> 1 chunk
      (3L, "")                              // empty     -> 1 empty chunk
    ).toDF("doc_id", "text")
    val got = TextOps.chunkDocumentsOf(docs)
      .as[(Long, Int, Int, Int, String)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
    assert(got(1L).map(c => (c._2, c._3, c._4)) ===
      Seq((0, 0, 32), (1, 24, 32), (2, 48, 32), (3, 72, 8)))
    // every chunk's text is exactly the token slice it claims
    got(1L).foreach { case (_, _, start, n, txt) =>
      assert(txt === words.slice(start, start + math.min(TextOps.ChunkSize, 80 - start)).mkString(" "))
      assert(n === math.min(TextOps.ChunkSize, 80 - start))
    }
    // consecutive chunks overlap by size - stride tokens
    got(1L).sliding(2).foreach {
      case Array(a, b) => assert(b._3 - a._3 === TextOps.ChunkStride)
      case _           =>
    }
    assert(got(2L).toSeq === Seq((2L, 0, 0, 3, "a b c")))
    assert(got(3L).toSeq === Seq((3L, 0, 0, 0, "")))
  }

  test("gopher rules: every threshold pinned AT its boundary, both sides") {
    import spark.implicits._
    // each doc isolates ONE rule at its exact edge while every other rule
    // passes with margin; integer-space thresholds mean the edge cases
    // are deterministic, not float-luck
    def w(n: Int, word: String) = Seq.fill(n)(word)
    val docs = Seq(
      // word count: 50 (edge, keep) vs 49 (drop)
      1L -> (w(48, "abcd") ++ Seq("the", "and")).mkString(" "),
      2L -> (w(47, "abcd") ++ Seq("the", "and")).mkString(" "),
      // mean word length: exactly 3.0 keep vs just below (148/50) drop
      3L -> (w(48, "abc") ++ Seq("the", "and")).mkString(" "),
      4L -> (w(47, "abc") ++ Seq("the", "and", "a")).mkString(" "),
      // mean word length upper bound: 486/50 keep, EXACTLY 500/50 = 10.0
      // keep (inclusive edge — a <= regressed to < fails here), 534/50 drop
      5L -> (w(48, "abcdefghij") ++ Seq("the", "and")).mkString(" "),
      6L -> (w(48, "abcdefghijk") ++ Seq("the", "and")).mkString(" "),
      12L -> (w(14, "abcdefghijk") ++ w(34, "abcdefghij") ++ Seq("the", "and")).mkString(" "),
      // alpha fraction: exactly 0.8 (40/50) keep vs 39/50 drop
      7L -> (w(38, "abcd") ++ Seq("the", "and") ++ w(10, "123")).mkString(" "),
      8L -> (w(37, "abcd") ++ Seq("the", "and") ++ w(11, "123")).mkString(" "),
      // symbol ratio: 5 '#' in 50 words = 0.1 keep vs 6 drop
      9L -> (w(43, "abcd") ++ Seq("the", "and") ++ w(5, "#")).mkString(" "),
      10L -> (w(42, "abcd") ++ Seq("the", "and") ++ w(6, "#")).mkString(" "),
      // stopwords: 2 distinct keep vs 1 drop (repeats don't count)
      11L -> (w(48, "abcd") ++ Seq("the", "the")).mkString(" ")
    ).toDF("doc_id", "text")
    val got = graft.operators.TextOps.gopherRulesOf(docs)
      .select($"doc_id", $"keep").as[(Long, Boolean)].collect().toMap
    assert(got === Map(
      1L -> true, 2L -> false, 3L -> true, 4L -> false, 5L -> true,
      6L -> false, 7L -> true, 8L -> false, 9L -> true, 10L -> false,
      11L -> false, 12L -> true))
    // displayed metrics at the two interesting edges
    val m = graft.operators.TextOps.gopherRulesOf(docs)
      .select($"doc_id", $"mean_word_len", $"alpha_frac", $"n_stop_distinct")
      .as[(Long, Double, Double, Long)].collect().map(r => r._1 -> r).toMap
    assert(m(3L)._2 === 3.0)
    assert(m(12L)._2 === 10.0)
    assert(m(7L)._3 === 0.8)
    assert(m(11L)._4 === 1L)
  }

  test("blocklist filter: occurrence counts, substring non-matches, any-hit drops") {
    import spark.implicits._
    // Blocklist = ("dup", "badword"): token-level matching — "dupx" and
    // "badwords" contain a blocked term as a SUBSTRING but are different
    // tokens, so they must NOT match (the C4 filter is token-exact)
    val docs = Seq(
      1L -> "clean text with nothing blocked",
      2L -> "one dup here",
      3L -> "dup dup badword",
      4L -> "dupx badwords duplicate", // substrings/superstrings only -> clean
      5L -> ""
    ).toDF("doc_id", "text")
    val got = graft.operators.TextOps.blocklistFilterOf(docs)
      .select($"doc_id", $"n_blocked", $"keep")
      .as[(Long, Long, Boolean)].collect().map(r => r._1 -> r).toMap
    assert(got(1L) === ((1L, 0L, true)))
    assert(got(2L) === ((2L, 1L, false)))
    assert(got(3L) === ((3L, 3L, false)))
    assert(got(4L) === ((4L, 0L, true)))
    assert(got(5L) === ((5L, 0L, true))) // empty doc: nothing to block
    // every doc gets a verdict (map-only gate never drops rows itself)
    assert(got.size === 5)
  }

  test("C4 line clean: framing, min-words and blocklist rules, page gate, empty doc") {
    import spark.implicits._
    val w30 = (1 to 30).map(i => s"w$i").mkString(" ")    // 3 full lines
    val w23 = (1 to 23).map(i => s"w$i").mkString(" ")    // 10+10+3: tail drops
    val blocked = (1 to 9).map(i => s"w$i").mkString(" ") + " dup " +
      (1 to 15).map(i => s"v$i").mkString(" ")            // line 2 holds "dup"
    val docs = Seq(1L -> w30, 2L -> w23, 3L -> blocked, 4L -> "short line", 5L -> "")
      .toDF("doc_id", "text")
    val got = graft.operators.TextOps.c4LineCleanOf(docs)
      .as[(Long, Long, Long, Long, Boolean)].collect().map(r => r._1 -> r).toMap
    assert(got(1L) === ((1L, 3L, 3L, 30L, true)))
    // 23 tokens: lines (10,10,3); the 3-token tail fails min-words -> 2 kept, gate fails
    assert(got(2L) === ((2L, 3L, 2L, 20L, false)))
    // 25 tokens: lines (10,10,5); "dup" lands in line 1 -> that line drops,
    // the 5-word tail meets min-words and survives
    assert(got(3L) === ((3L, 3L, 2L, 15L, false)))
    assert(got(4L) === ((4L, 1L, 0L, 0L, false)))         // 2 words < min
    assert(got(5L) === ((5L, 0L, 0L, 0L, false)))         // empty: zero lines
  }

  test("inverted index: truncation, ordering, df floor, and window-form equivalence") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val got = TextOps.invertedIndex(spark, sf)
      .as[(String, Long, Long, Long, Int)].collect()
    assert(got.nonEmpty)
    val byTerm = got.groupBy(_._1)
    byTerm.foreach { case (term, rows) =>
      val sorted = rows.sortBy(_._5)
      assert(sorted.map(_._5).toSeq === (1 to sorted.length), s"term $term ranks")
      assert(sorted.length <= TextOps.IndexPostingsK)
      // impact order: tf non-increasing, doc_id ascending within equal tf
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a._3 > b._3 || (a._3 == b._3 && a._2 < b._2), s"term $term order")
        case _ =>
      }
      assert(rows.map(_._4).distinct.length === 1 &&
        rows.head._4 >= TextOps.IndexMinDf)
    }
    // the custom TopKPerKey path must equal the standard window form
    val tf = graft.core.Tables.documents(spark, sf)
      .select(col("doc_id"), explode(expr(
        "filter(split(text, '\\\\s+'), x -> x <> '')")).as("term"))
      .groupBy("term", "doc_id").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
      .filter(col("df") >= TextOps.IndexMinDf)
    val win = Window.partitionBy(col("term"))
      .orderBy(col("tf").desc, col("doc_id").asc)
    val want = tf.join(df, "term")
      .withColumn("rank", row_number().over(win))
      .filter(col("rank") <= TextOps.IndexPostingsK)
      .select("term", "doc_id", "tf", "df", "rank")
      .as[(String, Long, Long, Long, Int)].collect().toSet
    assert(got.toSet === want)
  }

  test("charclass profile: exact class counts, conservation, empty-doc nulls") {
    val docs = Seq(
      (1L, "ab1 ?"),        // 2 alpha, 1 digit, 1 space, 1 other
      (2L, ""),             // empty: all zero, ratios NULL
      (3L, "aaaa"),         // pure alpha: ratio exactly 10^6
    ).toDF("doc_id", "text")
    val got = graft.operators.TextOps.charclassProfileOf(docs)
      .as[(Long, Long, Long, Long, Long, Long, Option[Long], Option[Long])]
      .collect().map(r => r._1 -> r).toMap
    assert(got(1L) === ((1L, 5L, 2L, 1L, 1L, 1L, Some(400000L), Some(200000L))))
    assert(got(2L) === ((2L, 0L, 0L, 0L, 0L, 0L, None, None)))
    assert(got(3L) === ((3L, 4L, 4L, 0L, 0L, 0L, Some(1000000L), Some(0L))))
    // conservation holds on the corpus profile too: classes tile the text
    val corpus = graft.operators.TextOps.charclassProfile(spark, sf)
      .selectExpr("n_chars - n_alpha - n_digit - n_space - n_other AS slack")
      .as[Long].collect()
    assert(corpus.forall(_ == 0L))
  }
}
