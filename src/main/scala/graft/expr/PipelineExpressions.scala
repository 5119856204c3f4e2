package graft.expr

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/**
 * Pipeline-support expressions (engine extension; no reference
 * counterpart).
 */

/**
 * Intersection size of two SORTED long arrays (ascending, distinct
 * elements) as a single merge walk — no hash set construction per row, no
 * intermediate array materialization. `array_intersect` builds an
 * OpenHashSet per evaluation and materializes the intersection; for the
 * near-dedup verifier (tens of thousands of pairs x ~300-element gram
 * sets, where only the SIZE is needed) the merge walk is the dominant-cost
 * remover. Both inputs must be sorted ascending (`sort_array`) and
 * duplicate-free (`array_distinct`); the result is undefined otherwise.
 */
case class SortedLongArrayIntersectSize(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def prettyName: String = "sorted_long_array_intersect_size"
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(LongType, containsNull = false), ArrayType(LongType, containsNull = false))
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(l: Any, r: Any): Any =
    NgramHashKernel.intersectSize(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.expr.NgramHashKernel.intersectSize($a, $b);")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object NgramHashKernel {
  /** xxhash64 seed used by Spark's `xxhash64` function. */
  final val Seed = 42L

  /** The merge walk of [[SortedLongArrayIntersectSize]]: the number of
    * values two ascending, duplicate-free long arrays share. Its eval, its
    * codegen and the near-dup verifier's driver regime all call this. */
  def intersectSize(a: ArrayData, b: ArrayData): Long = {
    var i = 0; var j = 0; var n = 0L
    val na = a.numElements(); val nb = b.numElements()
    while (i < na && j < nb) {
      val x = a.getLong(i); val y = b.getLong(j)
      if (x == y) { n += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    n
  }

  /** Sorted distinct xxhash64 values of all length-`n` character
    * substrings of `t` — bit-equal to
    * `sort_array(transform(array_distinct(substr-grams), xxhash64))`
    * modulo 2^-64 hash collisions (hashes are deduplicated instead of
    * gram strings, so two colliding DISTINCT grams collapse — the same
    * equality semantics the hash join downstream already assumes). */
  def sortedDistinctNgramHashes(t: org.apache.spark.unsafe.types.UTF8String,
      n: Int): ArrayData = {
    val cnt = t.numChars() - n + 1
    if (cnt <= 0)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.emptyLongArray)
    val hs = new Array[Long](cnt)
    var i = 0
    while (i < cnt) {
      val g = t.substring(i, i + n)
      hs(i) = org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
        g.getBaseObject, g.getBaseOffset, g.numBytes, Seed)
      i += 1
    }
    java.util.Arrays.sort(hs)
    var w = 1
    i = 1
    while (i < cnt) {
      if (hs(i) != hs(w - 1)) { hs(w) = hs(i); w += 1 }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      if (w == cnt) hs else java.util.Arrays.copyOf(hs, w))
  }
}

/**
 * Sorted distinct xxhash64 char-n-gram set of a string in ONE tight loop.
 * The composed form — `sort_array(transform(array_distinct(
 * charNgrams(text, n)), xxhash64))` — pays an interpreted lambda per gram
 * (higher-order functions are CodegenFallback) plus a string-equality
 * distinct pass and an O(n log n) sort of boxed elements; for the
 * near-dedup verifier this was the dominant cost (measured 2.4 s of the
 * 4.1 s verify at sf0.1). Values are identical (same per-gram xxhash64,
 * same sort), with dedup moved after hashing — a difference only under a
 * 2^-64 collision, which the downstream hash-equality join already
 * accepts.
 */
case class SortedDistinctNgramHashes(child: Expression, n: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(n >= 1, s"gram size must be >= 1, got $n")
  override def prettyName: String = "sorted_distinct_ngram_hashes"
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(v: Any): Any =
    NgramHashKernel.sortedDistinctNgramHashes(
      v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expr.NgramHashKernel.sortedDistinctNgramHashes($c, $n);")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object MinHashKernel {
  /** 2^31 - 1: the MinHash permutation modulus (Mersenne). */
  final val Prime = 2147483647L

  /** permutation i: (a, b) — the single source of truth (Dedup delegates). */
  def coeffs(i: Int): (Long, Long) =
    (1000003L * (i + 1) + 12345L, 7919L * (i + 1) + 104729L)

  private val digests = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** First 60 bits of the current digest — the exact integer
    * `conv(substring(md5(s), 1, 15), 16, 10)` yields: digest bytes 0-6
    * whole plus the high nibble of byte 7. */
  private def md5Long60(d: Array[Byte]): Long = {
    var v = 0L
    var i = 0
    while (i < 7) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    (v << 4) | ((d(7) >> 4) & 0xfL)
  }

  /** 60-bit md5 of every word-`n`-gram of a token array, by position —
    * element `i` (0-based) hashes tokens `i..i+n-1` joined by single
    * spaces (null tokens skipped, separator omitted with them — exactly
    * `concat_ws`), the value being the same hex-prefix integer
    * `TextOps.md5Long` yields. Returns an empty array for fewer than `n`
    * tokens, matching `wordNgramsOfTokens`. */
  def ngramHashes(tokens: ArrayData, n: Int): ArrayData = {
    val t = tokens.numElements()
    val cnt = t - n + 1
    if (cnt <= 0)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.emptyLongArray)
    val out = new Array[Long](cnt)
    val md = digests.get()
    var i = 0
    while (i < cnt) {
      md.reset()
      var j = 0
      var first = true
      while (j < n) {
        if (!tokens.isNullAt(i + j)) {
          if (!first) md.update(' '.toByte)
          md.update(tokens.getUTF8String(i + j).getBytes)
          first = false
        }
        j += 1
      }
      out(i) = md5Long60(md.digest())
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** 60-bit SimHash over a token array: per-token 60-bit md5, +1/-1 bit
    * counting, `counter > 0` assembly. Null tokens decrement every
    * counter (the composed `when(bit === 1, 1).otherwise(-1)` null
    * convention). */
  def simHash60(tokens: ArrayData): Long = {
    val counters = new Array[Int](60)
    val t = tokens.numElements()
    val md = digests.get()
    var i = 0
    while (i < t) {
      if (tokens.isNullAt(i)) {
        var j = 0
        while (j < 60) { counters(j) -= 1; j += 1 }
      } else {
        md.reset()
        md.update(tokens.getUTF8String(i).getBytes)
        val h = md5Long60(md.digest())
        var j = 0
        while (j < 60) {
          if (((h >> j) & 1L) == 1L) counters(j) += 1 else counters(j) -= 1
          j += 1
        }
      }
      i += 1
    }
    var out = 0L
    var j = 0
    while (j < 60) { if (counters(j) > 0) out |= (1L << j); j += 1 }
    out
  }

  /** All `k` permutation minima over the word-`ngram` shingles of a token
    * array, in one traversal — bit-equal to the composed
    * `aggregate(transform(wordNgrams, md5Long % P), least-fold)` form:
    * the md5 runs over the same UTF-8 bytes `concat_ws(" ", gram-tokens)`
    * produces (null tokens skipped, separator omitted with them), the 60-bit
    * truncation is the same hex-prefix integer, and min over the shingle
    * MULTISET equals min over the set, so skipping dedup changes nothing.
    * Fewer shingles than one (short docs) leaves the Long.MaxValue init —
    * identical to the composed fold's empty-array result. */
  def signature(tokens: ArrayData, ngram: Int,
      as: Array[Long], bs: Array[Long]): ArrayData = {
    val k = as.length
    val mins = new Array[Long](k)
    java.util.Arrays.fill(mins, Long.MaxValue)
    val t = tokens.numElements()
    val md = digests.get()
    var i = 0
    while (i + ngram <= t) {
      md.reset()
      var j = 0
      var first = true
      while (j < ngram) {
        if (!tokens.isNullAt(i + j)) {
          if (!first) md.update(' '.toByte)
          md.update(tokens.getUTF8String(i + j).getBytes)
          first = false
        }
        j += 1
      }
      val h = md5Long60(md.digest()) % Prime
      var m = 0
      while (m < k) {
        val v = (h * as(m) + bs(m)) % Prime
        if (v < mins(m)) mins(m) = v
        m += 1
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(mins)
  }
}

/**
 * Positional 60-bit md5 word-n-gram hashes of a token array in ONE tight
 * loop — the composed `transform(indices, concat_ws(...)) |> md5Long`
 * form materializes every gram string and pays interpreted lambdas per
 * gram; substring dedup and decontamination hash every position of every
 * document, so the gram build is their scan-side cost. Values are
 * bit-equal to `TextOps.md5Long` of the gram strings (oracle-pinned).
 */
case class WordNgramMd5Hashes(child: Expression, n: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(n >= 1, s"gram size must be >= 1, got $n")
  override def prettyName: String = "word_ngram_md5_hashes"
  override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(v: Any): Any =
    MinHashKernel.ngramHashes(v.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expr.MinHashKernel.ngramHashes($c, $n);")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/**
 * 60-bit SimHash of a token array in ONE tight loop — md5 per token and
 * all 60 bit counters fused. The composed form folds a 60-field struct
 * accumulator per token with interpreted lambdas; this is the front cost
 * of every SimHash query (batch and streaming share this expression).
 * Bit-equal to the composed form: same per-token md5Long values, same
 * +1/-1 counting with the null-token convention (`when(bit === 1)` is
 * null for a null hash, so every counter takes the -1 branch), same
 * `counter > 0` bit assembly.
 */
case class SimHash60(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def prettyName: String = "simhash60"
  override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(v: Any): Any =
    MinHashKernel.simHash60(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expr.MinHashKernel.simHash60($c);")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/**
 * MinHash signature of a token array in ONE tight loop — shingle bytes,
 * md5, 60-bit truncation and all `k` permutation minima fused. The
 * composed form (`transform` + `aggregate` over a k-field struct) pays an
 * interpreted lambda per shingle plus k struct rebuilds per element
 * (higher-order functions are CodegenFallback); signatures lead every
 * LSH query (p05/p06/p13/p43), so this is the near-dedup family's
 * front-of-plan cost. Values are bit-identical to the composed form —
 * the DuckDB oracles replicating the md5 lattice prove it per round.
 */
case class MinHashSignature(child: Expression, ngram: Int, k: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(ngram >= 1, s"ngram must be >= 1, got $ngram")
  require(k >= 1, s"k must be >= 1, got $k")
  override def prettyName: String = "minhash_signature"
  override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true

  @transient private lazy val as: Array[Long] =
    Array.tabulate(k)(MinHashKernel.coeffs(_)._1)
  @transient private lazy val bs: Array[Long] =
    Array.tabulate(k)(MinHashKernel.coeffs(_)._2)

  def signatureFor(a: ArrayData): ArrayData =
    MinHashKernel.signature(a, ngram, as, bs)

  override def nullSafeEval(v: Any): Any = signatureFor(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("minhashSig", this, classOf[MinHashSignature].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.signatureFor($c);")
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/**
 * Occurrence counts of a fixed literal term list over a token array in
 * ONE pass. The composed form — one `size(filter(tokens, x => x === t))`
 * per term — re-walks the whole token array once per term with an
 * interpreted lambda per ELEMENT (higher-order functions are
 * CodegenFallback); for BM25/domain scoring that made the projection
 * itself the query's dominant cost. Here each token is one hash probe
 * against a constructor-built term index.
 *
 * Result: `array<long>` aligned with the constructor's term order.
 * Duplicate terms each receive the full count (exactly what K
 * independent `filter` counts produce). Null tokens are skipped (the
 * composed form's `x === t` is null → filter drops); null input array
 * returns null (`size(filter(null, ..))` is null too).
 */
case class TermCounts(child: Expression, terms: Seq[String])
    extends UnaryExpression with ExpectsInputTypes {
  override def prettyName: String = "term_counts"
  override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true

  // term → index of its FIRST occurrence; duplicate positions copy from it
  @transient private lazy val index: java.util.HashMap[org.apache.spark.unsafe.types.UTF8String, Integer] = {
    val m = new java.util.HashMap[org.apache.spark.unsafe.types.UTF8String, Integer](terms.length * 2)
    terms.zipWithIndex.foreach { case (t, i) =>
      m.putIfAbsent(org.apache.spark.unsafe.types.UTF8String.fromString(t), i)
    }
    m
  }
  @transient private lazy val firstIdx: Array[Int] =
    terms.map(t => terms.indexOf(t)).toArray

  def countsFor(a: ArrayData): ArrayData = {
    val counts = new Array[Long](terms.length)
    val n = a.numElements()
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i)) {
        val idx = index.get(a.getUTF8String(i))
        if (idx != null) counts(idx) += 1
      }
      i += 1
    }
    i = 0
    while (i < counts.length) {
      if (firstIdx(i) != i) counts(i) = counts(firstIdx(i))
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(counts)
  }

  override def nullSafeEval(v: Any): Any = countsFor(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("termCounts", this, classOf[TermCounts].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.countsFor($c);")
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/**
 * Dot product of two double arrays as a single codegen'd loop. The
 * composed `aggregate(zip_with(a, b, *), 0.0, +)` is semantically
 * identical but higher-order functions are CodegenFallback — every
 * element costs an interpreted lambda invocation, which dominates ANN
 * scoring (|pairs| x dim evaluations). Accumulation order is the same
 * left fold, so results are bit-identical to the composed form, including
 * on length mismatch: zip_with pads the shorter array with NULL, the
 * product is NULL, and the aggregate sum is NULL — this expression
 * returns NULL too, so a caller passing wrong-dim vectors gets NULL
 * rather than a silently truncated dot product.
 */
case class DoubleArrayDot(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def prettyName: String = "double_array_dot"
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(DoubleType, containsNull = false), ArrayType(DoubleType, containsNull = false))
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (n != b.numElements()) return null
    var i = 0; var acc = 0.0
    while (i < n) {
      // the declared containsNull=false is not enforced by the analyzer
      // (sameType ignores nullability): propagate NULL for null elements
      // like zip_with would, instead of reading garbage bits
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc += a.getDouble(i) * b.getDouble(i)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n"); val acc = ctx.freshName("acc")
      s"""
         |final int $n = $a.numElements();
         |double $acc = 0.0;
         |if ($n != $b.numElements()) { ${ev.isNull} = true; }
         |else for (int $i = 0; $i < $n; $i++) {
         |  if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |  $acc += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}
