package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One-pass native text statistics — the round-14 allocation fix for
  * the text-quality gate family (q40/q54/q61/q98), the same playbook
  * as [[ShingleKernel]]: the SQL formulations allocate, PER DOCUMENT,
  * the split-token string array plus (per operator) an index sequence,
  * per-position substrings/concat strings, struct wrappers, and boxed
  * distinct sets; these kernels scan the UTF-8 bytes once and count in
  * primitive open-addressing scratch tables.
  *
  * Value identity with the SQL chains they replace (spec-pinned in
  * TextKernelsSpec):
  *  - tokens are the segments of a SINGLE-SPACE split with empties
  *    kept (Spark's `split(text, ' ')` with the default limit -1) —
  *    0x20 never occurs inside a multi-byte UTF-8 sequence, so byte
  *    scanning finds the identical boundaries;
  *  - a j..k token gram re-joined with ' ' is exactly a byte RANGE of
  *    the source text, so gram equality is byte-range equality;
  *  - char bigrams are `substring(text, i, 2)` for i in
  *    [1, length-1] — code-point slicing, reproduced by walking UTF-8
  *    lead bytes ((b & 0xC0) != 0x80 starts a char);
  *  - distinct/count tables compare EXACT bytes on probe collisions
  *    (no hash-only identity anywhere).
  */
object TextStatsKernel {

  /** Per-thread reusable scratch. Tables are cleared per row only over
    * the capacity in use.
    */
  private final class Scratch {
    var tokStarts = new Array[Int](64)
    var charStarts = new Array[Int](64)
    var keyIdx = new Array[Int](128) // open addressing: element index + 1; 0 = empty
    var counts = new Array[Int](128)
    var order = new Array[Int](64) // slots in first-occurrence order
  }
  private val scratchTL: ThreadLocal[Scratch] =
    ThreadLocal.withInitial(() => new Scratch)

  private def pow2(atLeast: Int): Int = {
    var c = 16
    while (c < atLeast) c <<= 1
    c
  }

  /** Token start offsets into `b[0, len)` plus a sentinel at len+1:
    * token j spans [starts(j), starts(j+1)-1). Returns the token
    * count (= spaces + 1; empty text has one empty token, like split).
    */
  private def tokenize(sc: Scratch, b: Array[Byte], len: Int): Int = {
    if (sc.tokStarts.length < len + 2)
      sc.tokStarts = new Array[Int](math.max(len + 2, sc.tokStarts.length * 2))
    val starts = sc.tokStarts
    starts(0) = 0
    var t = 1
    var i = 0
    while (i < len) {
      if (b(i) == 0x20) { starts(t) = i + 1; t += 1 }
      i += 1
    }
    starts(t) = len + 1
    t
  }

  private def hashRange(b: Array[Byte], s: Int, e: Int): Long = {
    var h = 0L
    var i = s
    while (i < e) { h = h * 31 + (b(i) & 0xffL); i += 1 }
    val x = h ^ (h >>> 33)
    x * 0xff51afd7ed558ccdL ^ (x >>> 29)
  }

  private def rangeEquals(b: Array[Byte], s1: Int, e1: Int, s2: Int, e2: Int): Boolean = {
    if (e1 - s1 != e2 - s2) return false
    var i = 0
    val n = e1 - s1
    while (i < n) {
      if (b(s1 + i) != b(s2 + i)) return false
      i += 1
    }
    true
  }

  private def ensureTables(sc: Scratch, cap: Int, nOut: Int): Unit = {
    if (sc.keyIdx.length < cap) {
      sc.keyIdx = new Array[Int](cap)
      sc.counts = new Array[Int](cap)
    } else {
      java.util.Arrays.fill(sc.keyIdx, 0, cap, 0)
    }
    if (sc.order.length < nOut)
      sc.order = new Array[Int](math.max(nOut, sc.order.length * 2))
  }

  /** struct(n_tokens, n_distinct, n_bigrams, top_c) — the whole of
    * `repetitionMetrics` in one scan: n_bigrams/top_c are NULL for a
    * <2-token doc (mirroring the left-join miss of the SQL shape);
    * null text → null struct.
    */
  def tokenStats(text: UTF8String): InternalRow = {
    if (text == null) return null
    val sc = scratchTL.get()
    val b = text.getBytes
    val t = tokenize(sc, b, b.length)
    val starts = sc.tokStarts
    // distinct tokens
    var cap = pow2(t * 2)
    ensureTables(sc, cap, 0)
    var mask = cap - 1
    var nDistinct = 0L
    var i = 0
    while (i < t) {
      val s = starts(i)
      val e = starts(i + 1) - 1
      var slot = (hashRange(b, s, e) & mask).toInt
      var done = false
      while (!done) {
        val cur = sc.keyIdx(slot)
        if (cur == 0) {
          sc.keyIdx(slot) = i + 1
          nDistinct += 1
          done = true
        } else if (rangeEquals(b, starts(cur - 1), starts(cur) - 1, s, e)) done = true
        else slot = (slot + 1) & mask
      }
      i += 1
    }
    if (t < 2)
      return new GenericInternalRow(Array[Any](t.toLong, nDistinct, null, null))
    // token-bigram counts: gram i spans [starts(i), starts(i+2)-1) —
    // the concat_ws(' ', toks[i], toks[i+1]) byte range
    val nBi = t - 1
    cap = pow2(nBi * 2)
    ensureTables(sc, cap, 0)
    mask = cap - 1
    var topC = 0
    i = 0
    while (i < nBi) {
      val s = starts(i)
      val e = starts(i + 2) - 1
      var slot = (hashRange(b, s, e) & mask).toInt
      var done = false
      while (!done) {
        val cur = sc.keyIdx(slot)
        if (cur == 0) {
          sc.keyIdx(slot) = i + 1
          sc.counts(slot) = 1
          if (topC < 1) topC = 1
          done = true
        } else if (rangeEquals(b, starts(cur - 1), starts(cur + 1) - 1, s, e)) {
          val c = sc.counts(slot) + 1
          sc.counts(slot) = c
          if (c > topC) topC = c
          done = true
        } else slot = (slot + 1) & mask
      }
      i += 1
    }
    new GenericInternalRow(Array[Any](t.toLong, nDistinct, nBi.toLong, topC.toLong))
  }

  /** Distinct char-bigram counts `(bg, c)` in first-occurrence order —
    * bg ≡ substring(text, i, 2) (code points). Null / <2-char text →
    * empty array (the explode of the SQL CASE's else branch).
    */
  def charBigramCounts(text: UTF8String): ArrayData = {
    if (text == null) return new GenericArrayData(Array.empty[Any])
    val sc = scratchTL.get()
    val b = text.getBytes
    val len = b.length
    // code-point start offsets + sentinel at len
    if (sc.charStarts.length < len + 1)
      sc.charStarts = new Array[Int](math.max(len + 1, sc.charStarts.length * 2))
    val cs = sc.charStarts
    var nChars = 0
    var i = 0
    while (i < len) {
      if ((b(i) & 0xc0) != 0x80) { cs(nChars) = i; nChars += 1 }
      i += 1
    }
    cs(nChars) = len
    if (nChars < 2) return new GenericArrayData(Array.empty[Any])
    val nBi = nChars - 1
    val cap = pow2(nBi * 2)
    ensureTables(sc, cap, nBi)
    val mask = cap - 1
    var nOut = 0
    i = 0
    while (i < nBi) {
      val s = cs(i)
      val e = cs(i + 2)
      var slot = (hashRange(b, s, e) & mask).toInt
      var done = false
      while (!done) {
        val cur = sc.keyIdx(slot)
        if (cur == 0) {
          sc.keyIdx(slot) = i + 1
          sc.counts(slot) = 1
          sc.order(nOut) = slot
          nOut += 1
          done = true
        } else if (rangeEquals(b, cs(cur - 1), cs(cur + 1), s, e)) {
          sc.counts(slot) += 1
          done = true
        } else slot = (slot + 1) & mask
      }
      i += 1
    }
    val rows = new Array[Any](nOut)
    var j = 0
    while (j < nOut) {
      val slot = sc.order(j)
      val k = sc.keyIdx(slot) - 1
      rows(j) = InternalRow(
        UTF8String.fromBytes(b, cs(k), cs(k + 2) - cs(k)),
        sc.counts(slot).toLong)
      j += 1
    }
    new GenericArrayData(rows)
  }

  /** All adjacent token pairs `(w1, w2)` in position order — the
    * collocation bigram stream. Null / <2-token text → empty.
    */
  def wordBigrams(text: UTF8String): ArrayData = {
    if (text == null) return new GenericArrayData(Array.empty[Any])
    val sc = scratchTL.get()
    val b = text.getBytes
    val t = tokenize(sc, b, b.length)
    if (t < 2) return new GenericArrayData(Array.empty[Any])
    val starts = sc.tokStarts
    val rows = new Array[Any](t - 1)
    var i = 1
    while (i < t) {
      rows(i - 1) = InternalRow(
        UTF8String.fromBytes(b, starts(i - 1), starts(i) - 1 - starts(i - 1)),
        UTF8String.fromBytes(b, starts(i), starts(i + 1) - 1 - starts(i)))
      i += 1
    }
    new GenericArrayData(rows)
  }

  /** Distinct tokens with occurrence counts `(w, c)` in first-
    * occurrence order — the unigram-count stream (explode+sum gives
    * exactly the counts of exploding the raw split). Null → empty.
    */
  def tokenCounts(text: UTF8String): ArrayData = {
    if (text == null) return new GenericArrayData(Array.empty[Any])
    val sc = scratchTL.get()
    val b = text.getBytes
    val t = tokenize(sc, b, b.length)
    val starts = sc.tokStarts
    val cap = pow2(t * 2)
    ensureTables(sc, cap, t)
    val mask = cap - 1
    var nOut = 0
    var i = 0
    while (i < t) {
      val s = starts(i)
      val e = starts(i + 1) - 1
      var slot = (hashRange(b, s, e) & mask).toInt
      var done = false
      while (!done) {
        val cur = sc.keyIdx(slot)
        if (cur == 0) {
          sc.keyIdx(slot) = i + 1
          sc.counts(slot) = 1
          sc.order(nOut) = slot
          nOut += 1
          done = true
        } else if (rangeEquals(b, starts(cur - 1), starts(cur) - 1, s, e)) {
          sc.counts(slot) += 1
          done = true
        } else slot = (slot + 1) & mask
      }
      i += 1
    }
    val rows = new Array[Any](nOut)
    var j = 0
    while (j < nOut) {
      val slot = sc.order(j)
      val k = sc.keyIdx(slot) - 1
      rows(j) = InternalRow(
        UTF8String.fromBytes(b, starts(k), starts(k + 1) - 1 - starts(k)),
        sc.counts(slot).toLong)
      j += 1
    }
    new GenericArrayData(rows)
  }

  /** `[n_tokens, hits(set₁), …, hits(setₖ)]` in one scan — hits(set) ≡
    * `size(filter(split(text, ' '), t -> array_contains(set, t)))`,
    * i.e. token POSITIONS whose token is in the set. Null text → null
    * (the SQL sizes are NULL there too).
    */
  def wordSetCounts(text: UTF8String, sets: Array[Array[Array[Byte]]]): ArrayData = {
    if (text == null) return null
    val sc = scratchTL.get()
    val b = text.getBytes
    val t = tokenize(sc, b, b.length)
    val starts = sc.tokStarts
    val res = new Array[Long](sets.length + 1)
    res(0) = t.toLong
    var i = 0
    while (i < t) {
      val s = starts(i)
      val e = starts(i + 1) - 1
      val n = e - s
      var k = 0
      while (k < sets.length) {
        val ws = sets(k)
        var w = 0
        var hit = false
        while (!hit && w < ws.length) {
          val word = ws(w)
          if (word.length == n) {
            var j = 0
            var eq = true
            while (eq && j < n) { eq = b(s + j) == word(j); j += 1 }
            hit = eq
          }
          w += 1
        }
        if (hit) res(k + 1) += 1
        k += 1
      }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(res)
  }
}

/** `graft_token_stats(text)` →
  * struct<n_tokens, n_distinct, n_bigrams, top_c> (longs; the last two
  * NULL for <2-token docs, whole struct NULL for NULL text).
  */
case class TokenStats(child: Expression)
  extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = StructType(Seq(
    StructField("n_tokens", LongType, nullable = false),
    StructField("n_distinct", LongType, nullable = false),
    StructField("n_bigrams", LongType, nullable = true),
    StructField("top_c", LongType, nullable = true)))
  override def prettyName: String = "graft_token_stats"

  override protected def nullSafeEval(input: Any): Any =
    TextStatsKernel.tokenStats(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"org.apache.spark.sql.graft.TextStatsKernel.tokenStats($c)")

  override protected def withNewChildInternal(newChild: Expression): TokenStats =
    copy(child = newChild)
}

/** Base for the array-valued kernels: non-null output (null text →
  * empty array, like exploding the SQL CASE's else branch).
  */
abstract class TextArrayKernelExpression
  extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def nullable: Boolean = false

  /** Fully-qualified static kernel method to call. */
  protected def kernelMethod: String

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val javaType = CodeGenerator.javaType(dataType)
    ev.copy(
      code = code"""
        ${c.code}
        $javaType ${ev.value} =
          ($javaType) org.apache.spark.sql.graft.TextStatsKernel.$kernelMethod(
            ${c.isNull} ? null : ${c.value});
      """,
      isNull = FalseLiteral)
  }
}

/** `graft_char_bigram_counts(text)` → array<struct<bg: string, c: bigint>>. */
case class CharBigramCounts(child: Expression) extends TextArrayKernelExpression {
  // field/element nullability mirrors the SQL chain this replaces
  // (substring/element_at produce nullable slots) so downstream output
  // schemas stay bit-identical for the driver's schema check
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("bg", StringType, nullable = true),
    StructField("c", LongType, nullable = false))), containsNull = true)
  override def prettyName: String = "graft_char_bigram_counts"
  override protected def kernelMethod: String = "charBigramCounts"
  override def eval(input: InternalRow): Any =
    TextStatsKernel.charBigramCounts(child.eval(input).asInstanceOf[UTF8String])
  override protected def withNewChildInternal(newChild: Expression): CharBigramCounts =
    copy(child = newChild)
}

/** `graft_word_bigrams(text)` → array<struct<w1: string, w2: string>>. */
case class WordBigrams(child: Expression) extends TextArrayKernelExpression {
  // nullable like the named_struct(element_at…) slots it replaces —
  // q98's w1/w2 output columns keep their original schema nullability
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("w1", StringType, nullable = true),
    StructField("w2", StringType, nullable = true))), containsNull = true)
  override def prettyName: String = "graft_word_bigrams"
  override protected def kernelMethod: String = "wordBigrams"
  override def eval(input: InternalRow): Any =
    TextStatsKernel.wordBigrams(child.eval(input).asInstanceOf[UTF8String])
  override protected def withNewChildInternal(newChild: Expression): WordBigrams =
    copy(child = newChild)
}

/** `graft_token_counts(text)` → array<struct<w: string, c: bigint>>. */
case class TokenCounts(child: Expression) extends TextArrayKernelExpression {
  // w nullable like the exploded split() tokens it replaces
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("w", StringType, nullable = true),
    StructField("c", LongType, nullable = false))), containsNull = true)
  override def prettyName: String = "graft_token_counts"
  override protected def kernelMethod: String = "tokenCounts"
  override def eval(input: InternalRow): Any =
    TextStatsKernel.tokenCounts(child.eval(input).asInstanceOf[UTF8String])
  override protected def withNewChildInternal(newChild: Expression): TokenCounts =
    copy(child = newChild)
}

/** `graft_wordset_counts(text, 'w1,w2|w3,w4|…')` → array<bigint>
  * `[n_tokens, hits(set₁), …, hits(setₖ)]` — the fused form of k
  * `wordSetCount` columns plus the token count (one scan instead of
  * k+1 split allocations). The spec string is a literal: sets split
  * on '|', words on ','.
  */
case class WordSetCounts(child: Expression, spec: String)
  extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_wordset_counts"

  private lazy val sets: Array[Array[Array[Byte]]] =
    spec.split('|').map(_.split(',').map(_.getBytes("UTF-8")))

  override protected def nullSafeEval(input: Any): Any =
    TextStatsKernel.wordSetCounts(input.asInstanceOf[UTF8String], sets)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val setsRef = ctx.addReferenceObj("sets", sets, "byte[][][]")
    defineCodeGen(ctx, ev,
      c => s"org.apache.spark.sql.graft.TextStatsKernel.wordSetCounts($c, $setsRef)")
  }

  override protected def withNewChildInternal(newChild: Expression): WordSetCounts =
    copy(child = newChild)
}
