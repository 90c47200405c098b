package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.engine.{KV, MapleJuice}

/** Property-based invariants (SURVEY.md §5): the engine's Maple/Juice
  * composition must equal the declarative aggregate on arbitrary input.
  * Plain ScalaCheck generators with fixed seeds (the scalatest-scalacheck
  * bridge isn't in the offline dependency set). */
class PropertySpec extends SparkTestBase {

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (1 to n).flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))

  private val wordGen = Gen.oneOf("alpha", "beta", "gamma", "delta", "x", "y")
  private val lineGen = Gen.listOf(wordGen).map(_.mkString(" "))
  private val docGen  = Gen.listOfN(20, lineGen)

  test("driver contract: every oracle key has a query; rows-only set is the known 2") {
    val qs = SparkEntry.queries.keySet
    val os = SparkEntry.oracleSql.keySet
    assert((os -- qs).isEmpty, s"oracle keys without a query: ${os -- qs}")
    // rows-only must stay the deliberate approximate set — a new query
    // accidentally shipped without its oracle fails here. (r4 oracled the
    // deterministic hash ops — simhash, winnow ×2, spans ×2, minhash LSH,
    // and sign-LSH ANN; r5 oracled IVF by making the Lloyd means
    // fixed-point, so the only run-order dependence is gone. What
    // remains: the two HLL sketches — Spark's HLL++ has no DuckDB twin
    // by construction; SketchSpec/ProfilingSpec and the check.py bounds
    // pass hold them against their exact twins instead.)
    assert((qs -- os) === Set("profile_lineitem_approx", "q25_approx_distinct"))
  }

  test("winnowing guarantee holds on random docs with planted shared substrings (property, 12 seeds)") {
    import graft.functions.Hashing
    import graft.operators.TextOps.{WinnowK, WinnowWindow}
    val alpha = Gen.alphaLowerChar
    val textGen = for {
      na <- Gen.choose(0, 40); nb <- Gen.choose(0, 40)
      a <- Gen.listOfN(na, alpha).map(_.mkString)
      b <- Gen.listOfN(nb, alpha).map(_.mkString)
      shared <- Gen.listOfN(WinnowWindow + WinnowK - 1, alpha).map(_.mkString)
    } yield (a + shared + b, b + shared + a)
    samples(textGen, 12).foreach { case (da, db) =>
      val fa = Hashing.winnow(da, WinnowK, WinnowWindow)
      val fb = Hashing.winnow(db, WinnowK, WinnowWindow)
      // any shared substring of >= w + k - 1 chars guarantees one shared
      // selected fingerprint (the MOSS theorem) — on ANY surrounding text
      assert(fa.intersect(fb).nonEmpty, s"docs: '$da' / '$db'")
    }
  }

  test("clusters == union-find on random graphs with long paths (property, 6 seeds)") {
    import spark.implicits._
    import graft.operators.{Dedup, Graph}
    val edgeGen = for {
      n <- Gen.choose(5, 60)                    // node id space
      m <- Gen.choose(0, 80)                    // edge count
      es <- Gen.listOfN(m, for {
        a <- Gen.choose(0L, n.toLong); b <- Gen.choose(0L, n.toLong)
      } yield (a, b))
      // a path longer than 2 x CcIters, so at least three HashMin blocks run
      len <- Gen.choose(2 * Graph.CcIters + 1, 3 * Graph.CcIters)
    } yield es ++ (1000L until 1000L + len).map(i => (i, i + 1))
    samples(edgeGen, 6).foreach { edges =>
      val got = Dedup.clustersOf(edges.toDF("src", "dst")).as[(Long, Long)].collect().toMap
      assert(got === Graph.componentsLocal(edges.filter(e => e._1 != e._2)), s"edges: $edges")
    }
  }

  test("span dedup pair == in-memory ExactSubstr model on planted corpora (property, 8 seeds)") {
    import spark.implicits._
    import graft.operators.Dedup
    val k = Dedup.SpanK
    // 8-letter alphabet: accidental duplicate k-grams at k=24 are 8^-24
    // improbable, but the model below is computed from the FINAL texts, so
    // even a coincidence stays a valid (shared) ground truth.
    def randStr(n: Int) = Gen.listOfN(n, Gen.oneOf('a' to 'h')).map(_.mkString)
    val corpusGen: Gen[Seq[(Long, String)]] = for {
      bases   <- Gen.listOfN(5, Gen.choose(40, 120).flatMap(randStr))
      payload <- Gen.choose(k, k + 30).flatMap(randStr)
      pay2    <- Gen.choose(k, k + 10).flatMap(randStr)
      off     <- Gen.choose(0, 30)
      tiny    <- Gen.choose(0, k - 1).flatMap(randStr)
    } yield {
      val texts = Seq(
        payload + bases(0),                                       // doc-head span
        bases(1) + payload,                                       // doc-tail span
        bases(2).take(off) + payload + pay2 + bases(2).drop(off), // adjacent islands (merge at pos == prevEnd)
        bases(3),                                                 // clean doc...
        bases(3),                                                 // ...and its whole-doc copy (full-length span)
        bases(4).take(off) + pay2 + bases(4).drop(off),           // pay2's twin
        tiny)                                                     // shorter than k: zero positions
      texts.zipWithIndex.map { case (t, i) => ((i + 1).toLong, t) }
    }
    samples(corpusGen, 8).foreach { corpus =>
      val docs = corpus.toDF("doc_id", "text")
      // ground truth straight off the final texts — substring equality, no
      // hashing; islands merge intervals whose start <= previous max end
      val occ = for { (id, t) <- corpus; p <- 0 to t.length - k }
        yield (id, p, t.substring(p, p + k))
      val byGram   = occ.groupBy(_._3)
      val dupGrams = byGram.filter(_._2.size >= 2).keySet
      def islands(ps: Seq[Int]): List[(Int, Int)] =
        ps.sorted.foldLeft(List.empty[(Int, Int)]) { (acc, p) => acc match {
          case (s, e) :: tail if p <= e => (s, math.max(e, p + k)) :: tail
          case _                        => (p, p + k) :: acc
        }}.reverse
      val wantSpans = occ.filter(o => dupGrams(o._3)).groupBy(_._1).toSeq
        .flatMap { case (id, os) =>
          islands(os.map(_._2)).map { case (s, e) => (id, s, e, e - s) } }
        .toSet
      val gotSpans = Dedup.duplicateSpansOf(docs)
        .as[(Long, Int, Int, Int)].collect().toSet
      assert(gotSpans === wantSpans, s"corpus: $corpus")
      // keep-first: canonical occurrence per duplicated gram = min (doc, pos)
      val canon = byGram.collect {
        case (g, os) if os.size >= 2 => g -> os.map(o => (o._1, o._2)).min }
      val cutByDoc = occ
        .filter(o => dupGrams(o._3) && canon(o._3) != ((o._1, o._2)))
        .groupBy(_._1).view.mapValues(os => islands(os.map(_._2))).toMap
      val wantClean = corpus.map { case (id, t) =>
        val kept = new StringBuilder; var cur = 0
        cutByDoc.getOrElse(id, Nil).foreach { case (s, e) =>
          kept.append(t.substring(cur, s)); cur = e }
        kept.append(t.substring(cur))
        (id, kept.toString, t.length - kept.length)
      }.toSet
      val gotClean = Dedup.spanCleanedDocsOf(docs)
        .as[(Long, String, Int)].collect().toSet
      assert(gotClean === wantClean, s"corpus: $corpus")
    }
  }

  test("paragraph dedup == in-memory keep-first model on random pages (property, 8 seeds)") {
    import spark.implicits._
    import graft.operators.Dedup
    // a small paragraph vocabulary forces cross-page duplicates; blanks
    // (empty and whitespace-only) exercise the always-keep rule, including
    // at page head/tail (trailing-empty split semantics)
    val paraGen = Gen.frequency(
      6 -> Gen.oneOf("alpha beta", "common para", "gamma delta x",
        "tail one", "unique words here"),
      2 -> Gen.oneOf("", "   "),
      2 -> Gen.listOfN(8, Gen.oneOf('a' to 'e')).map(_.mkString))
    val pageGen = Gen.choose(1, 6).flatMap(n => Gen.listOfN(n, paraGen))
      .map(_.mkString("\n"))
    val corpusGen: Gen[Seq[(Long, String)]] = Gen.choose(2, 8)
      .flatMap(n => Gen.listOfN(n, pageGen))
      .map(_.zipWithIndex.map { case (t, i) => (i.toLong, t) })
    samples(corpusGen, 8).foreach { corpus =>
      // model: split with limit -1 (Spark's split keeps trailing empties),
      // canonical = min (page_id, idx) per non-blank paragraph text
      val paras = for { (pid, t) <- corpus
                        (p, i) <- t.split("\n", -1).zipWithIndex }
        yield (pid, i, p)
      val canon = paras.filter(_._3.trim.nonEmpty).groupBy(_._3)
        .map { case (p, os) => p -> os.map(o => (o._1, o._2)).min }
      val want = corpus.map { case (pid, t) =>
        val ps = t.split("\n", -1).zipWithIndex
        val kept = ps.filter { case (p, i) =>
          p.trim.isEmpty || canon(p) == ((pid, i)) }
        (pid, ps.length.toLong, kept.length.toLong,
          kept.map(_._1).mkString("\n"))
      }.toSet
      val got = Dedup.paragraphCleanedPagesOf(corpus.toDF("page_id", "text"))
        .as[(Long, Long, Long, String)].collect().toSet
      assert(got === want, s"corpus: $corpus")
    }
  }

  test("pack + chunk == in-memory models on random corpora (property, 8 seeds)") {
    import spark.implicits._
    import graft.operators.{Sampling, TextOps}
    val corpusGen: Gen[Seq[(Long, String)]] = for {
      n     <- Gen.choose(5, 40)
      sizes <- Gen.listOfN(n, Gen.frequency(
        5 -> Gen.choose(0, 12),    // typical docs
        1 -> Gen.const(0),         // empty
        1 -> Gen.choose(13, 30))) // oversize vs the budget below
    } yield sizes.zipWithIndex.map { case (k, i) =>
      ((i + 1).toLong, Seq.tabulate(k)(j => s"t${i}x$j").mkString(" ")) }
    samples(corpusGen, 8).foreach { corpus =>
      val docs = corpus.toDF("doc_id", "text")
      def toks(t: String) = t.split("\\s+").filter(_.nonEmpty)
      // ---- packing vs in-memory next-fit (budget 10, 4 buckets)
      val wantPack = corpus.groupBy(_._1 % 4).toSeq.flatMap { case (b, ds) =>
        var seq = 0L; var acc = 0L
        ds.sortBy(_._1).map { case (id, t) =>
          val n = toks(t).length.toLong
          if (seq == 0L || acc + n > 10) { seq += 1; acc = n } else acc += n
          (id, b, seq, n)
        }
      }.toSet
      val gotPack = Sampling.packSequencesOf(docs, budget = 10L, buckets = 4)
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(gotPack === wantPack, s"corpus sizes: ${corpus.map(_._2.length)}")
      // ---- chunking vs direct slice arithmetic
      val wantChunks = corpus.flatMap { case (id, t) =>
        val ts = toks(t)
        val starts = 0 to math.max(ts.length - 1, 0) by TextOps.ChunkStride
        starts.zipWithIndex.map { case (s0, i) =>
          (id, i, s0, math.min(TextOps.ChunkSize, math.max(ts.length - s0, 0)),
            ts.slice(s0, s0 + TextOps.ChunkSize).mkString(" ")) }
      }.toSet
      val gotChunks = TextOps.chunkDocumentsOf(docs)
        .as[(Long, Int, Int, Int, String)].collect().toSet
      assert(gotChunks === wantChunks)
    }
  }

  test("maple∘juice word count == in-memory groupBy count (property, 8 samples)") {
    import spark.implicits._
    val mj = new MapleJuice(spark)
    samples(docGen, 8).foreach { lines =>
      val expected = lines.flatMap(_.split("\\s+")).filter(_.nonEmpty)
        .groupBy(identity).map { case (w, ws) => (w, ws.size.toLong) }
      val got = mj.runOn(lines.toDS(),
          ls => ls.flatMap(_.split("\\s+")).filter(_.nonEmpty).map(w => KV(w, "1")),
          (k, vs) => Iterator.single(KV(k, vs.map(_.toLong).sum.toString)))
        .as[(String, String)].collect().map { case (k, v) => (k, v.toLong) }.toMap
      assert(got === expected)
    }
  }

  test("hashing: mix64 is stable and collision-free on sampled longs") {
    import graft.functions.Hashing
    samples(Gen.listOfN(500, Gen.long), 4).foreach { xs =>
      val mixed = xs.map(Hashing.mix64)
      assert(mixed === xs.map(Hashing.mix64))
      assert(mixed.distinct.size === xs.distinct.size)
    }
    samples(Gen.alphaNumStr, 50).foreach { s =>
      assert(Hashing.fnv1a64(s) === Hashing.fnv1a64(s))
    }
  }

  test("sorted sink invariant: output keys are sorted for any kv set") {
    import spark.implicits._
    val mj = new MapleJuice(spark)
    val kvGen = Gen.listOfN(30,
      Gen.zip(Gen.alphaLowerStr.suchThat(_.nonEmpty), Gen.alphaNumStr))
    samples(kvGen, 6).filter(_.nonEmpty).foreach { kvs =>
      val sorted = mj.gatherSorted(kvs.map { case (k, v) => KV(k, v) }.toDS())
        .select("key").as[String].collect().toSeq
      assert(sorted === sorted.sorted)
    }
  }
}
