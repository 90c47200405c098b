// Shim package: ExpectsInputTypes' AbstractDataType and the Column/
// ExpressionUtils bridge are private[sql] in Spark 4, so first-class
// expression definitions live under org.apache.spark.sql.* — the same
// technique third-party Spark extensions (e.g. connector libraries) use.
package org.apache.spark.sql.graft

import graft.functions.Hashing
import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpectsInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the dedup/fingerprint hot path.
  *
  * Rationale (SURVEY.md §7.3 preference order): these run inside
  * whole-stage codegen via static-call `doGenCode` — no Scala-closure UDF
  * serialization, no Dataset encoder round-trip, no interpreted
  * higher-order-function overhead. At 100 TB the signature computation is
  * the map-side cost of near-dup detection; it must live in Tungsten.
  *
  * Registered for SQL + Column use by [[GraftFunctions]] /
  * [[GraftExtensions]].
  */
object ExprHelpers {
  /** FNV-1a over UTF8String bytes — identical result to
    * [[Hashing.fnv1a64]] on the equivalent String (same UTF-8 bytes). */
  def fnv1a64Utf8(s: UTF8String): Long = {
    val bytes = s.getBytes
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < bytes.length) {
      h ^= (bytes(i) & 0xffL)
      h *= 0x100000001b3L
      i += 1
    }
    h
  }

  /** SimHash64 over an array of token strings (null elements skipped). */
  def simhash64Array(arr: ArrayData): Long = {
    val acc = new Array[Int](64)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val h = fnv1a64Utf8(arr.getUTF8String(i))
        var j = 0
        while (j < 64) {
          if (((h >>> j) & 1L) == 1L) acc(j) += 1 else acc(j) -= 1
          j += 1
        }
      }
      i += 1
    }
    var sig = 0L
    var j = 0
    while (j < 64) { if (acc(j) > 0) sig |= (1L << j); j += 1 }
    sig
  }

  /** Distinct word n-gram shingles of a text: whitespace-split, drop empty
    * tokens, join each n consecutive tokens with a single space, dedup
    * keeping first occurrence. One tight JVM pass — replaces a
    * split+filter+transform+concat_ws+array_distinct tree of interpreted
    * lambda expressions that dominated near-dup runtime (each evaluation of
    * that tree re-ran the whole pipeline; Catalyst re-evaluates the
    * expression in filters and both join sides). */
  def wordGrams(s: UTF8String, n: Int): ArrayData = {
    val toks = s.toString.split("\\s+")
    val seen = new java.util.LinkedHashSet[UTF8String]()
    var i = 0
    val nonEmpty = new java.util.ArrayList[String]()
    while (i < toks.length) {
      if (!toks(i).isEmpty) nonEmpty.add(toks(i))
      i += 1
    }
    val m = nonEmpty.size - n + 1
    var j = 0
    while (j < m) {
      val sb = new java.lang.StringBuilder(nonEmpty.get(j))
      var t = 1
      while (t < n) { sb.append(' ').append(nonEmpty.get(j + t)); t += 1 }
      seen.add(UTF8String.fromString(sb.toString))
      j += 1
    }
    new GenericArrayData(seen.toArray)
  }

  /** Per-band bucket hashes of a MinHash signature: the signature is cut
    * into `numBands` equal slices; each slice folds through splitmix64
    * seeded with the band index. */
  def lshBandBuckets(sig: ArrayData, numBands: Int): ArrayData = {
    val k = sig.numElements()
    val r = k / numBands
    val out = new Array[Long](numBands)
    var b = 0
    while (b < numBands) {
      var h = Hashing.mix64(0x9E3779B97F4A7C15L + b)
      var i = b * r
      val end = i + r
      while (i < end) { h = Hashing.mix64(h ^ sig.getLong(i)); i += 1 }
      out(b) = h
      b += 1
    }
    new GenericArrayData(out)
  }

  /** Winnowing fingerprints of a text, sorted ascending — delegates to
    * [[Hashing.winnow]] (identical hashes), returning ArrayData so the
    * value never leaves Tungsten rows. */
  def winnowSorted(s: UTF8String, k: Int, w: Int): ArrayData = {
    val fps = Hashing.winnow(s.toString, k, w).toArray
    java.util.Arrays.sort(fps)
    new GenericArrayData(fps)
  }

  /** All positional k-gram rolling hashes of a text (index i = hash of
    * chars [i, i+k)) — delegates to [[Hashing.rollingHashes]]; position is
    * the array index, recovered downstream via posexplode. */
  def rollingHashes(s: UTF8String, k: Int): ArrayData =
    new GenericArrayData(Hashing.rollingHashes(s.toString, k))

  /** Dot product of two double arrays, accumulated left-to-right in
    * double — the same association order as DuckDB's `list_dot_product`
    * and Spark's `aggregate(zip_with(...))` form, so results are
    * bit-identical to both. Lengths are expected equal (embedding dim);
    * the min is taken defensively. */
  def dotProduct(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) { acc += a.getDouble(i) * b.getDouble(i); i += 1 }
    acc
  }

  // seeds are deterministic per k and read-only — memoized so the per-row
  // hot path never reallocates/recomputes the 128-long seed stream
  private val seedCache = new java.util.concurrent.ConcurrentHashMap[Int, Array[Long]]()
  private def cachedSeeds(k: Int): Array[Long] =
    seedCache.computeIfAbsent(k, kk => Hashing.seeds(kk))

  /** Bloom-filter bit positions of a key: pos(i) = mix64(fnv1a64(key) ^
    * seed(i)) masked to the low `log2m` bits — the SAME deterministic
    * fnv→splitmix64 family as MinHash, so the filter contents (and its
    * false positives) are reproducible across JVMs and in the DuckDB
    * oracle. */
  def bloomPositions(s: UTF8String, k: Int, log2m: Int): ArrayData = {
    val base = fnv1a64Utf8(s)
    val seeds = cachedSeeds(k)
    val mask = (1L << log2m) - 1L
    val out = new Array[Long](k)
    var i = 0
    while (i < k) { out(i) = Hashing.mix64(base ^ seeds(i)) & mask; i += 1 }
    new GenericArrayData(out)
  }

  /** Membership probe against a bitmap of 2^log2m bits stored as longs
    * (word j holds bits [64j, 64j+64)): true iff ALL k positions of
    * [[bloomPositions]] are set. */
  def bloomContains(bits: ArrayData, s: UTF8String, k: Int, log2m: Int): Boolean = {
    // fail LOUDLY on a bits/log2m mismatch: getLong past the array end on
    // UnsafeArrayData is assert-only and would return garbage memberships
    val expect = 1 << (log2m - 6)
    if (bits.numElements() != expect)
      throw new IllegalArgumentException(
        s"graft_bloom_contains: bitmap has ${bits.numElements()} words, " +
          s"log2m=$log2m requires exactly $expect")
    val base = fnv1a64Utf8(s)
    val seeds = cachedSeeds(k)
    val mask = (1L << log2m) - 1L
    var i = 0
    while (i < k) {
      val pos = Hashing.mix64(base ^ seeds(i)) & mask
      if (((bits.getLong((pos >>> 6).toInt) >>> (pos & 63L).toInt) & 1L) == 0L)
        return false
      i += 1
    }
    true
  }

  /** Intersection of two SORTED-ASCENDING, DISTINCT, non-null long arrays
    * by two-pointer merge — O(|a|+|b|) with zero per-call allocation
    * beyond the result, vs `array_intersect`'s per-row hash-set build.
    * Result is sorted ascending (trivially distinct). Callers own the
    * precondition: both inputs must be sorted distinct (the oriented
    * triangle closure builds them with sort_array over a distinct edge
    * set); on unsorted input the result is undefined, which is why this
    * is not a general array_intersect replacement. */
  def sortedIntersect(a: ArrayData, b: ArrayData): ArrayData = {
    val na = a.numElements()
    val nb = b.numElements()
    val out = new Array[Long](math.min(na, nb))
    var i = 0; var j = 0; var k = 0
    while (i < na && j < nb) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x < y) i += 1
      else if (x > y) j += 1
      else { out(k) = x; k += 1; i += 1; j += 1 }
    }
    new GenericArrayData(if (k == out.length) out else java.util.Arrays.copyOf(out, k))
  }

  /** MinHash signature (k seeded mins) over an array of shingle strings.
    * Formula identical to the engine's documented scheme:
    * sig(i) = min over shingles of mix64(fnv1a64(shingle) ^ seed(i)). */
  def minhashArray(arr: ArrayData, k: Int): ArrayData = {
    val seeds = cachedSeeds(k)
    val sig = Array.fill(k)(Long.MaxValue)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val base = fnv1a64Utf8(arr.getUTF8String(i))
        var j = 0
        while (j < k) {
          val h = Hashing.mix64(base ^ seeds(j))
          if (h < sig(j)) sig(j) = h
          j += 1
        }
      }
      i += 1
    }
    new GenericArrayData(sig)
  }
}

/** `graft_fnv64(str)` → bigint: codegen'd 64-bit content hash. */
case class FnvHash64(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_fnv64"
  override protected def nullSafeEval(input: Any): Any =
    ExprHelpers.fnv1a64Utf8(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"org.apache.spark.sql.graft.ExprHelpers.fnv1a64Utf8($c)")
  override protected def withNewChildInternal(newChild: Expression): FnvHash64 =
    copy(child = newChild)
}

/** `graft_simhash64(array<string>)` → bigint: codegen'd SimHash. */
case class SimHash64Expr(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash64"
  override protected def nullSafeEval(input: Any): Any =
    ExprHelpers.simhash64Array(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"org.apache.spark.sql.graft.ExprHelpers.simhash64Array($c)")
  override protected def withNewChildInternal(newChild: Expression): SimHash64Expr =
    copy(child = newChild)
}

/** `graft_minhash(array<string>, k)` → array<bigint>: codegen'd MinHash
  * signature of a shingle set. k must be a foldable positive int. */
case class MinHashSignature(child: Expression, k: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(k > 0 && k <= 1024, s"minhash k out of range: $k")
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_minhash"
  override protected def nullSafeEval(input: Any): Any =
    ExprHelpers.minhashArray(input.asInstanceOf[ArrayData], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"org.apache.spark.sql.graft.ExprHelpers.minhashArray($c, $k)")
  override protected def withNewChildInternal(newChild: Expression): MinHashSignature =
    copy(child = newChild)
}

/** `graft_lsh_buckets(sig, bands)` → array<bigint>: one bucket hash per
  * signature band (band index folded into the hash so equal slices in
  * different bands never collide). The LSH join key generator — one tight
  * pass instead of an interpreted transform(slice(hash)) tree evaluated on
  * both sides of the candidate self-join. */
case class LshBandBuckets(child: Expression, numBands: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(numBands > 0 && numBands <= 256, s"numBands out of range: $numBands")
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(LongType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_lsh_buckets"
  override protected def nullSafeEval(input: Any): Any =
    ExprHelpers.lshBandBuckets(input.asInstanceOf[ArrayData], numBands)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"org.apache.spark.sql.graft.ExprHelpers.lshBandBuckets($c, $numBands)")
  override protected def withNewChildInternal(newChild: Expression): LshBandBuckets =
    copy(child = newChild)
}

/** `graft_winnow(text, k, w)` → array<bigint>: codegen'd MOSS winnowing
  * fingerprints (sorted). Replaces a Dataset-encoder flatMap round-trip in
  * the winnow query family — the text stays a UTF8String, the result an
  * unsafe array. */
case class WinnowFingerprints(child: Expression, k: Int, w: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(k > 0 && k <= 256 && w > 0 && w <= 1024, s"winnow k/w out of range: $k/$w")
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_winnow"
  override protected def nullSafeEval(input: Any): Any =
    ExprHelpers.winnowSorted(input.asInstanceOf[UTF8String], k, w)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"org.apache.spark.sql.graft.ExprHelpers.winnowSorted($c, $k, $w)")
  override protected def withNewChildInternal(newChild: Expression): WinnowFingerprints =
    copy(child = newChild)
}

/** `graft_rollhash(text, k)` → array<bigint>: ALL positional Rabin-Karp
  * k-gram rolling hashes (index = char position) — the positional index
  * behind duplicate-SPAN detection, where winnowing's sampled form can't
  * serve because span boundaries need every position. */
case class RollingHashes(child: Expression, k: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(k > 0 && k <= 4096, s"rollhash k out of range: $k")
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_rollhash"
  override protected def nullSafeEval(input: Any): Any =
    ExprHelpers.rollingHashes(input.asInstanceOf[UTF8String], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"org.apache.spark.sql.graft.ExprHelpers.rollingHashes($c, $k)")
  override protected def withNewChildInternal(newChild: Expression): RollingHashes =
    copy(child = newChild)
}

/** `graft_dot(array<double>, array<double>)` → double: codegen'd dot
  * product. The similarity-search hot path — Spark's higher-order
  * `aggregate`/`zip_with` run interpreted and are re-evaluated per
  * filter/join side; this stays inside whole-stage codegen. */
case class ArrayDotProduct(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    ExprHelpers.dotProduct(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"org.apache.spark.sql.graft.ExprHelpers.dotProduct($a, $b)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ArrayDotProduct =
    copy(left = newLeft, right = newRight)
}

/** `graft_bloom_pos(str, k, log2m)` → array<bigint>: the k Bloom-filter
  * bit positions of a key (deterministic fnv→splitmix64 family, masked to
  * 2^log2m bits). The BUILD side of the distributed Bloom: explode these
  * and OR them into a bitmap. */
case class BloomPositions(child: Expression, k: Int, log2m: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(k > 0 && k <= 64, s"bloom k out of range: $k")
  require(log2m >= 6 && log2m <= 32, s"bloom log2m out of range: $log2m")
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_bloom_pos"
  override protected def nullSafeEval(input: Any): Any =
    ExprHelpers.bloomPositions(input.asInstanceOf[UTF8String], k, log2m)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"org.apache.spark.sql.graft.ExprHelpers.bloomPositions($c, $k, $log2m)")
  override protected def withNewChildInternal(newChild: Expression): BloomPositions =
    copy(child = newChild)
}

/** `graft_bloom_contains(bits, str, k, log2m)` → boolean: the PROBE side —
  * true iff all k positions of the key are set in the bitmap (an
  * array<bigint> of 2^(log2m-6) words, usually a plan literal). Same hash
  * family as [[BloomPositions]] by construction. */
case class BloomContains(left: Expression, right: Expression, k: Int, log2m: Int)
    extends BinaryExpression with ExpectsInputTypes {
  require(k > 0 && k <= 64, s"bloom k out of range: $k")
  require(log2m >= 6 && log2m <= 32, s"bloom log2m out of range: $log2m")
  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(LongType), StringType)
  override def dataType: DataType = BooleanType
  override def prettyName: String = "graft_bloom_contains"
  override protected def nullSafeEval(bits: Any, s: Any): Any =
    ExprHelpers.bloomContains(bits.asInstanceOf[ArrayData],
      s.asInstanceOf[UTF8String], k, log2m)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (b, c) => s"org.apache.spark.sql.graft.ExprHelpers.bloomContains($b, $c, $k, $log2m)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BloomContains =
    copy(left = newLeft, right = newRight)
}

/** `graft_sorted_intersect(array<bigint>, array<bigint>)` → array<bigint>:
  * two-pointer merge intersection of two sorted distinct long arrays — the
  * triangle-closure hot path, where `array_intersect` paid a hash-set
  * build per oriented edge. PRECONDITION (caller-owned): both inputs
  * sorted ascending and distinct — so it is internal, reached only through
  * [[GraftFunctions.sortedIntersect]] and never registered for SQL, where
  * no caller could be held to it. */
case class SortedLongIntersect(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_sorted_intersect"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    ExprHelpers.sortedIntersect(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"org.apache.spark.sql.graft.ExprHelpers.sortedIntersect($a, $b)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedLongIntersect =
    copy(left = newLeft, right = newRight)
}

/** `graft_capped_set(col, cap)` aggregate → array<bigint>: the distinct
  * values of a long column per group, SORTED ascending — but the
  * aggregation buffer never holds more than cap+1 elements. Once a group
  * has seen cap+1 distinct values, further values are ignored: the group
  * is already over cap and its (arbitrary) cap+1-sized result array exists
  * only to be dropped by the caller's `size(ms) <= cap` filter. For groups
  * at or under the cap the result is the EXACT full sorted distinct set —
  * bit-identical to `sort_array(collect_set(col))` under the same filter.
  *
  * Why: `collect_set` materializes the full distinct set per group in one
  * aggregation buffer BEFORE any size filter can drop it — a pathological
  * mega-group (one basket with 10⁷ members at 100 TB) is an executor OOM.
  * This buffer is O(cap) by construction, map-side partials included
  * (guide §5 memory / §2 skew).
  *
  * Internal, like [[SortedLongIntersect]]: which cap+1 values an over-cap
  * group keeps depends on partial merge order, so it is reached only
  * through [[GraftFunctions.cappedSortedSet]], whose callers drop those
  * groups, and never registered for SQL. */
case class CappedDistinctSortedLongs(
    child: Expression,
    cap: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends org.apache.spark.sql.catalyst.expressions.aggregate
    .TypedImperativeAggregate[java.util.HashSet[Long]] with ExpectsInputTypes {
  require(cap > 0 && cap <= (1 << 20), s"capped_set cap out of range: $cap")
  override def children: Seq[Expression] = Seq(child)
  override def inputTypes: Seq[AbstractDataType] = Seq(LongType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "graft_capped_set"
  override def createAggregationBuffer(): java.util.HashSet[Long] =
    new java.util.HashSet[Long]()
  private def add(buf: java.util.HashSet[Long], v: Long): Unit =
    if (buf.size <= cap) buf.add(v) // size can reach cap+1, never more
  override def update(buf: java.util.HashSet[Long],
      input: org.apache.spark.sql.catalyst.InternalRow): java.util.HashSet[Long] = {
    val v = child.eval(input)
    if (v != null) add(buf, v.asInstanceOf[Long])
    buf
  }
  override def merge(buf: java.util.HashSet[Long],
      other: java.util.HashSet[Long]): java.util.HashSet[Long] = {
    val it = other.iterator()
    while (it.hasNext) add(buf, it.next())
    buf
  }
  override def eval(buf: java.util.HashSet[Long]): Any = {
    val arr = new Array[Long](buf.size)
    val it = buf.iterator()
    var i = 0
    while (it.hasNext) { arr(i) = it.next(); i += 1 }
    java.util.Arrays.sort(arr)
    new GenericArrayData(arr)
  }
  override def serialize(buf: java.util.HashSet[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4 + 8 * buf.size)
    bb.putInt(buf.size)
    val it = buf.iterator()
    while (it.hasNext) bb.putLong(it.next())
    bb.array()
  }
  override def deserialize(bytes: Array[Byte]): java.util.HashSet[Long] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = new java.util.HashSet[Long](math.max(16, n * 2))
    var i = 0
    while (i < n) { buf.add(bb.getLong); i += 1 }
    buf
  }
  override def withNewMutableAggBufferOffset(newOffset: Int): CappedDistinctSortedLongs =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CappedDistinctSortedLongs =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): CappedDistinctSortedLongs =
    copy(child = newChildren.head)
}

/** `graft_wordgrams(text, n)` → array<string>: distinct word n-grams. */
case class WordGrams(child: Expression, n: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(n > 0 && n <= 16, s"wordgrams n out of range: $n")
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_wordgrams"
  override protected def nullSafeEval(input: Any): Any =
    ExprHelpers.wordGrams(input.asInstanceOf[UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"org.apache.spark.sql.graft.ExprHelpers.wordGrams($c, $n)")
  override protected def withNewChildInternal(newChild: Expression): WordGrams =
    copy(child = newChild)
}

/** Column-API + SQL registration for the graft expressions. */
object GraftFunctions {
  import org.apache.spark.sql.classic.ExpressionUtils

  def fnv64(c: Column): Column = ExpressionUtils.column(FnvHash64(expression(c)))
  def simhash64(c: Column): Column = ExpressionUtils.column(SimHash64Expr(expression(c)))
  def minhash(c: Column, k: Int): Column =
    ExpressionUtils.column(MinHashSignature(expression(c), k))
  def wordGrams(c: Column, n: Int): Column =
    ExpressionUtils.column(WordGrams(expression(c), n))
  def lshBuckets(c: Column, numBands: Int): Column =
    ExpressionUtils.column(LshBandBuckets(expression(c), numBands))
  def dot(a: Column, b: Column): Column =
    ExpressionUtils.column(ArrayDotProduct(expression(a), expression(b)))
  def winnow(c: Column, k: Int, w: Int): Column =
    ExpressionUtils.column(WinnowFingerprints(expression(c), k, w))
  def rollingHashes(c: Column, k: Int): Column =
    ExpressionUtils.column(RollingHashes(expression(c), k))
  def bloomPositions(c: Column, k: Int, log2m: Int): Column =
    ExpressionUtils.column(BloomPositions(expression(c), k, log2m))
  def bloomContains(bits: Column, c: Column, k: Int, log2m: Int): Column =
    ExpressionUtils.column(BloomContains(expression(bits), expression(c), k, log2m))
  def sortedIntersect(a: Column, b: Column): Column =
    ExpressionUtils.column(SortedLongIntersect(expression(a), expression(b)))
  def cappedSortedSet(c: Column, cap: Int): Column =
    ExpressionUtils.column(
      CappedDistinctSortedLongs(expression(c), cap).toAggregateExpression())

  private def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** SQL-side int parameter: must be a foldable integer expression (e.g. a
    * literal) — anything else is an error, never a silent default. */
  private[graft] def foldableInt(fn: String, e: Expression): Int = {
    require(e.foldable, s"$fn: parameter must be a foldable integer literal, got $e")
    e.eval() match {
      case i: Int  => i
      case l: Long =>
        require(l >= Int.MinValue && l <= Int.MaxValue,
          s"$fn: parameter $l out of int range")
        l.toInt
      case s: Short => s.toInt
      case b: Byte => b.toInt
      case other =>
        throw new IllegalArgumentException(
          s"$fn: parameter must be an integer literal, got $other")
    }
  }

  /** SQL names, e.g. `SELECT graft_fnv64(text) FROM docs`, plus the
    * TopKPerKey planner strategy. */
  def register(spark: SparkSession): Unit = {
    if (!spark.experimental.extraStrategies.contains(TopKPerKeyStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ TopKPerKeyStrategy
    if (!spark.experimental.extraOptimizations.contains(RewriteRowNumberTopK))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ RewriteRowNumberTopK
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction("graft_fnv64",
      exprs => FnvHash64(exprs.head), "built-in")
    reg.createOrReplaceTempFunction("graft_simhash64",
      exprs => SimHash64Expr(exprs.head), "built-in")
    // optional second arg is honored (foldable int) — a non-literal k/n is
    // an error, never a silently-ignored parameter
    reg.createOrReplaceTempFunction("graft_minhash",
      exprs => MinHashSignature(exprs.head,
        if (exprs.length > 1) foldableInt("graft_minhash", exprs(1)) else 128),
      "built-in")
    reg.createOrReplaceTempFunction("graft_wordgrams",
      exprs => WordGrams(exprs.head,
        if (exprs.length > 1) foldableInt("graft_wordgrams", exprs(1)) else 3),
      "built-in")
    reg.createOrReplaceTempFunction("graft_lsh_buckets",
      exprs => LshBandBuckets(exprs.head,
        if (exprs.length > 1) foldableInt("graft_lsh_buckets", exprs(1)) else 32),
      "built-in")
    reg.createOrReplaceTempFunction("graft_dot",
      exprs => {
        require(exprs.length == 2, s"graft_dot takes 2 arguments, got ${exprs.length}")
        ArrayDotProduct(exprs.head, exprs(1))
      }, "built-in")
    reg.createOrReplaceTempFunction("graft_winnow",
      exprs => WinnowFingerprints(exprs.head,
        if (exprs.length > 1) foldableInt("graft_winnow", exprs(1)) else 8,
        if (exprs.length > 2) foldableInt("graft_winnow", exprs(2)) else 16),
      "built-in")
    reg.createOrReplaceTempFunction("graft_rollhash",
      exprs => RollingHashes(exprs.head,
        if (exprs.length > 1) foldableInt("graft_rollhash", exprs(1)) else 8),
      "built-in")
    reg.createOrReplaceTempFunction("graft_bloom_pos",
      exprs => BloomPositions(exprs.head,
        if (exprs.length > 1) foldableInt("graft_bloom_pos", exprs(1)) else 5,
        if (exprs.length > 2) foldableInt("graft_bloom_pos", exprs(2)) else 20),
      "built-in")
    reg.createOrReplaceTempFunction("graft_bloom_contains",
      exprs => {
        require(exprs.length >= 2,
          s"graft_bloom_contains takes >= 2 arguments, got ${exprs.length}")
        BloomContains(exprs.head, exprs(1),
          if (exprs.length > 2) foldableInt("graft_bloom_contains", exprs(2)) else 5,
          if (exprs.length > 3) foldableInt("graft_bloom_contains", exprs(3)) else 20)
      }, "built-in")
  }
}

/** Session-extension wiring: `SparkSession.builder().withExtensions(new
  * GraftExtensions)` or config
  * `spark.sql.extensions=org.apache.spark.sql.graft.GraftExtensions` —
  * makes the functions available in every session, with IDENTICAL
  * parameter semantics to [[GraftFunctions.register]] (honored-or-error,
  * never a silently-ignored argument). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  import GraftFunctions.foldableInt

  private def inject(ext: SparkSessionExtensions, name: String, cls: Class[_],
                     builder: Seq[Expression] => Expression): Unit =
    ext.injectFunction(
      (org.apache.spark.sql.catalyst.FunctionIdentifier(name),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(cls.getName, name),
        builder))

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectPlannerStrategy(_ => TopKPerKeyStrategy)
    ext.injectOptimizerRule(_ => RewriteRowNumberTopK)
    inject(ext, "graft_fnv64", classOf[FnvHash64], exprs => FnvHash64(exprs.head))
    inject(ext, "graft_simhash64", classOf[SimHash64Expr],
      exprs => SimHash64Expr(exprs.head))
    inject(ext, "graft_minhash", classOf[MinHashSignature],
      exprs => MinHashSignature(exprs.head,
        if (exprs.length > 1) foldableInt("graft_minhash", exprs(1)) else 128))
    inject(ext, "graft_wordgrams", classOf[WordGrams],
      exprs => WordGrams(exprs.head,
        if (exprs.length > 1) foldableInt("graft_wordgrams", exprs(1)) else 3))
    inject(ext, "graft_lsh_buckets", classOf[LshBandBuckets],
      exprs => LshBandBuckets(exprs.head,
        if (exprs.length > 1) foldableInt("graft_lsh_buckets", exprs(1)) else 32))
    inject(ext, "graft_winnow", classOf[WinnowFingerprints],
      exprs => WinnowFingerprints(exprs.head,
        if (exprs.length > 1) foldableInt("graft_winnow", exprs(1)) else 8,
        if (exprs.length > 2) foldableInt("graft_winnow", exprs(2)) else 16))
    inject(ext, "graft_rollhash", classOf[RollingHashes],
      exprs => RollingHashes(exprs.head,
        if (exprs.length > 1) foldableInt("graft_rollhash", exprs(1)) else 8))
    inject(ext, "graft_bloom_pos", classOf[BloomPositions],
      exprs => BloomPositions(exprs.head,
        if (exprs.length > 1) foldableInt("graft_bloom_pos", exprs(1)) else 5,
        if (exprs.length > 2) foldableInt("graft_bloom_pos", exprs(2)) else 20))
    inject(ext, "graft_bloom_contains", classOf[BloomContains], exprs => {
      require(exprs.length >= 2,
        s"graft_bloom_contains takes >= 2 arguments, got ${exprs.length}")
      BloomContains(exprs.head, exprs(1),
        if (exprs.length > 2) foldableInt("graft_bloom_contains", exprs(2)) else 5,
        if (exprs.length > 3) foldableInt("graft_bloom_contains", exprs(3)) else 20)
    })
    inject(ext, "graft_dot", classOf[ArrayDotProduct], exprs => {
      require(exprs.length == 2, s"graft_dot takes 2 arguments, got ${exprs.length}")
      ArrayDotProduct(exprs.head, exprs(1))
    })
  }
}
