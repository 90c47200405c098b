package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftFunctions
import graft.functions.Hashing

/** Native Catalyst expressions: value parity with the Scala reference
  * implementations, SQL registration, and null handling. */
class ExpressionsSpec extends SparkTestBase {
  import spark.implicits._

  test("graft_fnv64 expression equals Hashing.fnv1a64 for ascii and unicode") {
    val inputs = Seq("", "hello", "héllo wörld", "的是在", "a b\tc")
    val got = inputs.toDF("s")
      .select(GraftFunctions.fnv64($"s")).as[Long].collect()
    assert(got.toSeq === inputs.map(Hashing.fnv1a64))
  }

  test("graft_simhash64 expression equals Hashing.simhash64 on token arrays") {
    val docs = Seq("the quick brown fox", "lorem ipsum dolor", "x")
    val got = docs.toDF("text")
      .select(GraftFunctions.simhash64(
        expr("filter(split(text, ' '), t -> t <> '')")).as("sh"))
      .as[Long].collect()
    val expected = docs.map(t =>
      Hashing.simhash64(t.split(" ").iterator.filter(_.nonEmpty)))
    assert(got.toSeq === expected)
  }

  test("bloom build+probe round trip: inserted keys always probe true, disjoint keys rarely") {
    val k = 5; val log2m = 16
    val inserted = (1 to 256).map(i => s"k$i")
    val pos = inserted.toDF("s")
      .select(explode(GraftFunctions.bloomPositions($"s", k, log2m)).as("p"))
      .as[Long].collect()
    assert(pos.forall(p => p >= 0 && p < (1L << log2m)), "positions out of range")
    // driver-built bitmap (same word layout the operator's bit_or fold uses)
    val bits = new Array[Long](1 << (log2m - 6))
    pos.foreach(p => bits((p >>> 6).toInt) |= 1L << (p & 63).toInt)
    val probed = (inserted ++ (1 to 256).map(i => s"x$i")).toDF("s")
      .select($"s", GraftFunctions.bloomContains(
        typedLit(bits.toSeq), $"s", k, log2m))
      .as[(String, Boolean)].collect().toMap
    inserted.foreach(s => assert(probed(s), s"inserted key $s probed false"))
    // <= 1280 of 65536 bits set -> per-key fp rate ~ 0.02^5; 256 probes
    // should see none, but allow a loose bound so the test isn't flaky
    // against future constant changes
    assert((1 to 256).count(i => probed(s"x$i")) <= 8, "false-positive burst")
    // a bits/log2m mismatch must fail loudly, not read garbage memberships
    val err = intercept[Throwable] {
      Seq("k1").toDF("s")
        .select(GraftFunctions.bloomContains(typedLit(Seq(0L)), $"s", k, log2m))
        .collect()
    }
    def chain(t: Throwable): String =
      if (t == null) "" else t.getMessage + " | " + chain(t.getCause)
    assert(chain(err).contains("bitmap has"),
      s"expected the bitmap-length guard, got: ${chain(err)}")
  }

  test("graft_minhash expression equals a direct Scala computation") {
    val grams = Seq("aa bb", "bb cc", "cc dd")
    val got = Seq(grams).toDF("g")
      .select(GraftFunctions.minhash($"g", 16)).as[Seq[Long]].collect().head
    val seeds = Hashing.seeds(16)
    val expected = seeds.toSeq.map { seed =>
      grams.map(g => Hashing.mix64(Hashing.fnv1a64(g) ^ seed)).min
    }
    assert(got === expected)
  }

  test("expressions are registered for SQL use") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      "SELECT graft_fnv64('x') AS a, graft_simhash64(array('x','y')) AS b, " +
        "size(graft_minhash(array('x'))) AS c")
      .as[(Long, Long, Int)].collect().head
    assert(r._1 === Hashing.fnv1a64("x"))
    assert(r._2 === Hashing.simhash64(Iterator("x", "y")))
    assert(r._3 === 128)
  }

  test("SQL int parameters are honored, non-literal parameters error") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      "SELECT size(graft_minhash(array('x'), 64)) AS k, " +
        "size(graft_wordgrams('a b c d', 2)) AS g, " +
        "graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d")
      .as[(Int, Int, Double)].collect().head
    assert(r._1 === 64)   // k=64 honored, not the 128 default
    assert(r._2 === 3)    // bigrams of 4 tokens
    assert(r._3 === 11.0) // 1*3 + 2*4
    // a non-foldable k must fail loudly, never silently default
    val err = intercept[Exception] {
      spark.sql("SELECT graft_minhash(array(x), cast(rand() * 4 AS INT)) " +
        "FROM (SELECT 'a' AS x)").collect()
    }
    assert(err.getMessage != null)
  }

  test("graft_wordgrams equals the builtin lambda pipeline it replaced") {
    val docs = graft.core.Tables.documents(spark, sf).select($"doc_id", $"text")
    val viaExpr = docs.select($"doc_id",
        org.apache.spark.sql.graft.GraftFunctions.wordGrams($"text", 3).as("g"))
      .as[(Long, Seq[String])].collect().map { case (id, g) => (id, g.toSet) }.toMap
    val viaLambda = docs
      .select($"doc_id", expr("filter(split(text, '\\\\s+'), x -> x <> '')").as("toks"))
      .filter(size($"toks") >= 3)
      .select($"doc_id", array_distinct(expr(
        """transform(sequence(1, size(toks) - 2),
          |  i -> concat_ws(' ', element_at(toks, i), element_at(toks, i + 1),
          |                 element_at(toks, i + 2)))""".stripMargin)).as("g"))
      .as[(Long, Seq[String])].collect().map { case (id, g) => (id, g.toSet) }.toMap
    assert(viaExpr.filter(_._2.nonEmpty) === viaLambda)
    // edge cases: fewer tokens than n, empty string, extra whitespace
    val edge = Seq("one two", "", "  a   b c  ").toDF("text")
      .select(org.apache.spark.sql.graft.GraftFunctions.wordGrams($"text", 3))
      .as[Seq[String]].collect()
    assert(edge(0) === Seq.empty)
    assert(edge(1) === Seq.empty)
    assert(edge(2) === Seq("a b c"))
  }

  test("graft_rollhash expression equals Hashing.rollingHashes, incl. short inputs") {
    val inputs = Seq("", "short", "exactly8", "a longer text with spaces and 字符 in it")
    val got = inputs.toDF("s")
      .select(GraftFunctions.rollingHashes($"s", 8)).as[Seq[Long]].collect()
    assert(got.toSeq === inputs.map(Hashing.rollingHashes(_, 8).toSeq))
  }

  test("null inputs propagate as null") {
    val row = spark.sql("SELECT graft_fnv64(CAST(NULL AS STRING)) AS a").collect().head
    assert(row.isNullAt(0))
  }

  test("minhash signature similarity approximates jaccard") {
    // two token sets with jaccard 0.5 → expect roughly half the slots equal
    val a = (1 to 40).map(i => s"g$i")
    val b = (21 to 60).map(i => s"g$i")
    val df = Seq(a, b).toDF("g")
      .select(GraftFunctions.minhash($"g", 128).as("sig")).as[Seq[Long]].collect()
    val agree = df(0).zip(df(1)).count { case (x, y) => x == y } / 128.0
    val jac = 20.0 / 60.0
    assert(math.abs(agree - jac) < 0.15, s"minhash agreement $agree vs jaccard $jac")
  }

  test("graft_sorted_intersect equals array_intersect on sorted distinct arrays (property, 64 seeds)") {
    val rnd = new scala.util.Random(7)
    val cases = (1 to 64).map { _ =>
      val a = Seq.fill(rnd.nextInt(20))(rnd.nextInt(30).toLong).distinct.sorted
      val b = Seq.fill(rnd.nextInt(20))(rnd.nextInt(30).toLong).distinct.sorted
      (a, b)
    } :+ ((Seq.empty[Long], Seq(1L, 2L))) :+ ((Seq(5L), Seq(5L)))
    val got = cases.toDF("a", "b")
      .select(GraftFunctions.sortedIntersect($"a", $"b").as("m"),
        array_sort(array_intersect($"a", $"b")).as("ref"))
      .as[(Seq[Long], Seq[Long])].collect()
    got.zip(cases).foreach { case ((m, ref), (a, b)) =>
      assert(m === ref, s"mismatch for a=$a b=$b")
      assert(m === m.sorted, "result must stay sorted")
    }
    // null propagation
    val row = Seq(1L).toDF("x")
      .select(GraftFunctions.sortedIntersect(lit(null).cast("array<bigint>"), array($"x")))
      .collect().head
    assert(row.isNullAt(0))
  }

  test("the precondition-carrying functions are internal: register() leaves them out of SQL") {
    GraftFunctions.register(spark)
    Seq("graft_sorted_intersect", "graft_capped_set").foreach { n =>
      assert(!spark.catalog.functionExists(n), n)
      intercept[org.apache.spark.sql.AnalysisException] {
        spark.sql(s"SELECT $n(array(1L), array(1L))").collect()
      }
    }
  }

  test("graft_capped_set equals sort_array(collect_set) under the cap; buffer is bounded") {
    val rnd = new scala.util.Random(11)
    // groups straddling the cap: sizes 1..cap pass through exactly,
    // over-cap groups emit arrays of size cap+1 (dropped by callers)
    val cap = 8
    val rows = (1 to 30).flatMap { g =>
      val n = rnd.nextInt(2 * cap) + 1
      // duplicates included: the aggregate must still dedup
      (1 to n).flatMap(i => Seq((g.toLong, i.toLong), (g.toLong, i.toLong)))
    }
    val df = rows.toDF("gk", "node")
    val got = df.groupBy($"gk")
      .agg(GraftFunctions.cappedSortedSet($"node", cap).as("ms"))
      .as[(Long, Seq[Long])].collect().toMap
    val ref = df.groupBy($"gk")
      .agg(sort_array(collect_set($"node")).as("ms"))
      .as[(Long, Seq[Long])].collect().toMap
    ref.foreach { case (g, full) =>
      if (full.size <= cap) assert(got(g) === full, s"group $g under cap differs")
      else {
        assert(got(g).size === cap + 1, s"over-cap group $g must emit cap+1 elems")
        assert(got(g).toSet.subsetOf(full.toSet))
      }
    }
    // the buffer itself never exceeds cap+1 entries however many values
    // stream in — the mega-group OOM guard this aggregate exists for
    val agg = org.apache.spark.sql.graft.CappedDistinctSortedLongs(
      org.apache.spark.sql.catalyst.expressions.BoundReference(0,
        org.apache.spark.sql.types.LongType, nullable = false), cap)
    val buf = agg.createAggregationBuffer()
    val row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(1)
    (1L to 1000000L).foreach { v =>
      row.update(0, v)
      agg.update(buf, row)
      assert(buf.size <= cap + 1, s"buffer ballooned to ${buf.size}")
    }
    // merge of two over-cap partials stays bounded too
    val buf2 = agg.createAggregationBuffer()
    (2000000L to 2000100L).foreach { v => row.update(0, v); agg.update(buf2, row) }
    agg.merge(buf, buf2)
    assert(buf.size <= cap + 1, s"merged buffer ballooned to ${buf.size}")
  }
}
