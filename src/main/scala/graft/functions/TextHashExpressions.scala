package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One-pass text/hash kernels for the dedup family.
  *
  * Why these exist (same escalation as VectorExpressions): the built-in
  * formulation — `split` → `filter(λ)` → `transform(λ slice+array_join)` →
  * `array_distinct`, then 32 × `transform(λ xxhash64)` for MinHash and an
  * explode + 64-aggregate shuffle for SimHash — dispatches an interpreted
  * lambda per token/shingle/hash. At sf0.1 that was ~9 s just to shingle
  * 5 000 docs. Each expression below is evaluated ONCE per document
  * (CodegenFallback is fine at that granularity) and loops over the
  * document in tight JVM code. The shingle and MinHash kernels generate
  * a call to that same loop instead (`PerRowKernel`): a CodegenFallback
  * expression keeps its whole operator out of whole-stage code, which
  * costs its projection a generated class of its own.
  *
  * Hashing uses Spark's XXH64 (the same kernel behind `xxhash64`), with
  * the Kirsch–Mitzenmacher construction h_i = h1 + i·h2 for the MinHash
  * family — standard practice for simulating k independent permutations
  * from two seeds.
  */
private object Tok {
  /** Whitespace tokens of a UTF8String, as (start, end) byte offsets. */
  def foreachToken(s: UTF8String)(f: (Array[Byte], Int, Int) => Unit): Unit = {
    val bytes = s.getBytes
    var i = 0
    val n = bytes.length
    while (i < n) {
      while (i < n && isWs(bytes(i))) i += 1
      val start = i
      while (i < n && !isWs(bytes(i))) i += 1
      if (i > start) f(bytes, start, i)
    }
  }
  // mirrors graft.ops.Text.ws: the RE2-compatible class [ \t\n\r\f]
  // (NOT Java's \s — that includes \x0B, which RE2/DuckDB's does not)
  @inline def isWs(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == '\r' || b == '\f'
}

/** Generated code that evaluates the child and calls the expression's own
  * `nullSafeEval` on it (a null result is a null value), so the
  * expression can sit inside a whole-stage generated stage. */
private[functions] trait PerRowKernel extends UnaryExpression {
  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("kernel", this)
    val boxed = CodeGenerator.boxedType(dataType)
    nullSafeCodeGen(ctx, ev, c => s"""
      Object r = $self.nullSafeEval($c);
      ${ev.isNull} = r == null;
      if (!${ev.isNull}) ${ev.value} = ($boxed) r;""")
  }
}

/** Distinct whitespace-token n-gram shingles of a string column, joined by
  * single spaces — byte-compatible with
  * `array_distinct(transform(sequence(...), i => array_join(slice(tokens,
  * i+1, n), " ")))` over `filter(split(text, "\\s+"), _ != "")`.
  */
case class TokenShingles(child: Expression, n: Int)
    extends UnaryExpression with PerRowKernel {

  require(n >= 1, "shingle size must be >= 1")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument")
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_shingles"

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String]
    // collect token byte-slices
    val toks = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    var bytes: Array[Byte] = null
    Tok.foreachToken(s) { (b, st, en) => bytes = b; toks += ((st, en)) }
    val m = toks.length - n + 1
    if (m <= 0) new GenericArrayData(Array.empty[Any])
    else {
      val seen = new java.util.LinkedHashSet[UTF8String]()
      var i = 0
      while (i < m) {
        // bytes from token i start to token i+n-1 end, with single spaces
        var len = n - 1
        var j = 0
        while (j < n) { len += toks(i + j)._2 - toks(i + j)._1; j += 1 }
        val out = new Array[Byte](len)
        var pos = 0
        j = 0
        while (j < n) {
          val (st, en) = toks(i + j)
          System.arraycopy(bytes, st, out, pos, en - st)
          pos += en - st
          if (j < n - 1) { out(pos) = ' '; pos += 1 }
          j += 1
        }
        seen.add(UTF8String.fromBytes(out))
        i += 1
      }
      val arr = new Array[Any](seen.size)
      val it = seen.iterator()
      var k = 0
      while (it.hasNext) { arr(k) = it.next(); k += 1 }
      new GenericArrayData(arr)
    }
  }

  override protected def withNewChildInternal(newChild: Expression): TokenShingles =
    copy(child = newChild)
}

/** MinHash signature of an array<string> shingle set: k minima of
  * h_i(s) = h1(s) + i·h2(s), h1/h2 = XXH64 with seeds 42/1042. NULL for
  * empty sets (no minimum exists).
  */
case class MinHashSignature(child: Expression, k: Int)
    extends UnaryExpression with PerRowKernel {

  require(k >= 1, "signature length must be >= 1")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires an array<string> argument")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_minhash"
  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    if (n == 0) return null
    val mins = Array.fill(k)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val u = arr.getUTF8String(i)
      val h1 = XxHashBytes.hash(u, 42L)
      val h2 = XxHashBytes.hash(u, 1042L)
      var j = 0
      var h = h1
      while (j < k) {
        if (h < mins(j)) mins(j) = h
        h += h2 // h1 + (j+1)*h2 for the next slot
        j += 1
      }
      i += 1
    }
    new GenericArrayData(mins.map(Long.box: Long => Any))
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSignature =
    copy(child = newChild)
}

/** 64-bit SimHash of a string column: whitespace tokens (with
  * multiplicity) vote ±1 per bit of their XXH64 hash; the signature takes
  * the positive-majority bits. Per-document, no shuffle.
  */
case class SimHash64(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash"

  override def nullSafeEval(input: Any): Any = {
    val votes = new Array[Int](64)
    Tok.foreachToken(input.asInstanceOf[UTF8String]) { (b, st, en) =>
      val h = XxHashBytes.hashBytes(b, st, en - st, 42L)
      var bit = 0
      while (bit < 64) {
        if (((h >>> bit) & 1L) == 1L) votes(bit) += 1 else votes(bit) -= 1
        bit += 1
      }
    }
    var sig = 0L
    var bit = 0
    while (bit < 64) {
      if (votes(bit) > 0) sig |= (1L << bit)
      bit += 1
    }
    sig
  }

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

/** Rolling (Rabin–Karp) document fingerprints with winnowing: the
  * polynomial hash of every `k`-byte window slides in O(1) per byte, then
  * winnowing keeps the MINIMUM hash of every `w` consecutive windows
  * (deduplicated) — the standard local-fingerprint scheme whose guarantee
  * is that any shared substring of length ≥ k+w−1 yields a shared
  * fingerprint. Output: sorted distinct fingerprints (array<long>);
  * empty array when the text is shorter than k bytes.
  */
case class RollingFingerprints(child: Expression, k: Int, w: Int)
    extends UnaryExpression with CodegenFallback {

  require(k >= 1 && w >= 1, "window sizes must be >= 1")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_rolling_fp"

  private val Base = 257L
  private lazy val basePowK: Long = {
    var p = 1L
    var i = 0
    while (i < k) { p *= Base; i += 1 } // mod 2^64 via natural overflow
    p
  }

  override def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[UTF8String].getBytes
    val n = bytes.length
    if (n < k) return new GenericArrayData(Array.empty[Any])
    val nWin = n - k + 1
    val hashes = new Array[Long](nWin)
    var h = 0L
    var i = 0
    while (i < k) { h = h * Base + (bytes(i) & 0xffL); i += 1 }
    hashes(0) = h
    while (i < n) {
      h = h * Base + (bytes(i) & 0xffL) - basePowK * (bytes(i - k) & 0xffL)
      hashes(i - k + 1) = h
      i += 1
    }
    // winnowing: SLIDING window — the min of hashes[s, s+w) for EVERY s,
    // deduped. A monotone deque gives O(1) amortized per position; the
    // sliding (not strided) scheme is what guarantees that any shared
    // substring of length >= k+w-1 yields a shared fingerprint regardless
    // of byte offset (Schleimer/Wilkerson/Aiken, SIGMOD'03).
    val seen = new java.util.TreeSet[java.lang.Long]()
    if (nWin <= w) {
      // single (possibly short) window: one global min
      var m = hashes(0)
      var j = 1
      while (j < nWin) {
        if (java.lang.Long.compareUnsigned(hashes(j), m) < 0) m = hashes(j)
        j += 1
      }
      seen.add(m)
    } else {
      val deque = new Array[Int](nWin) // indices, increasing hash order
      var head = 0
      var tail = 0 // exclusive
      var j = 0
      while (j < nWin) {
        // evict indices that left the window [j-w+1, j]
        while (head < tail && deque(head) <= j - w) head += 1
        // evict dominated hashes (>= incoming, unsigned)
        while (head < tail &&
          java.lang.Long.compareUnsigned(hashes(deque(tail - 1)),
            hashes(j)) >= 0) tail -= 1
        deque(tail) = j
        tail += 1
        if (j >= w - 1) seen.add(hashes(deque(head)))
        j += 1
      }
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var idx = 0
    while (it.hasNext) { out(idx) = it.next().longValue(); idx += 1 }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): RollingFingerprints =
    copy(child = newChild)
}

/** Unicode NFC normalization of a string column — the canonicalization
  * step a dedup pipeline needs BEFORE fingerprinting: composed ("é") and
  * decomposed ("e" + U+0301) encodings of the same text are different
  * byte strings, so un-normalized exact dedup silently misses duplicates
  * that differ only in encoding. Implements the same Unicode standard as
  * DuckDB's `nfc_normalize` (oracle-checkable; java.text.Normalizer).
  *
  * Fast path: `isNormalized` is a cheap scan that succeeds for all-ASCII
  * and already-composed text — the overwhelming majority of a real
  * corpus — returning the input UTF8String with zero allocation; only
  * strings that actually need composing pay the String round-trip.
  */
case class NfcNormalize(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument")
  }
  override def dataType: DataType = StringType
  override def prettyName: String = "graft_nfc"

  override def nullSafeEval(input: Any): Any = {
    val u = input.asInstanceOf[UTF8String]
    val s = u.toString
    if (java.text.Normalizer.isNormalized(s,
        java.text.Normalizer.Form.NFC)) u
    else UTF8String.fromString(
      java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC))
  }

  override protected def withNewChildInternal(newChild: Expression): NfcNormalize =
    copy(child = newChild)
}

/** Seeded XXH64 over UTF8String/byte-range — the same kernel Spark's
  * `xxhash64` uses.
  */
private[functions] object XxHashBytes {
  import org.apache.spark.sql.catalyst.expressions.XXH64
  def hash(u: UTF8String, seed: Long): Long =
    XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes, seed)
  def hashBytes(b: Array[Byte], offset: Int, len: Int, seed: Long): Long =
    XXH64.hashUnsafeBytes(b,
      org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + offset, len, seed)
}
