package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, QuaternaryExpression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.hash.Murmur3_x86_32
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: the 60-bit md5 prefixes of a text's
  * DISTINCT word 3-gram shingles, in first-occurrence order — the `hs`
  * column of graft.ops.Dedup's MinHash signature frame, in ONE per-row
  * loop over the text's UTF-8 bytes.
  *
  * Tokens are the runs between single ' ' bytes, exactly as
  * `split(text, ' ')` cuts valid UTF-8 text: empty tokens from double,
  * leading and trailing spaces are kept, tab and NBSP are not
  * separators. Shingle i is the byte range from the start of token i to
  * the end of token i+2 (that is, the three tokens joined by ' '); a
  * text with fewer than 3 tokens is one shingle, the whole text.
  * Repeated shingles are dropped by content, keeping the first; each kept
  * shingle is md5'd once and maps to (first 8 digest bytes, big-endian)
  * >>> 4 — the value of `conv(substr(md5(sh), 1, 15), 16, 10)`. NULL text
  * has no shingles: the result is `[]` and the expression is never NULL.
  *
  * Why native: the SQL formulation (split, arrays_zip, a concat
  * transform, array_distinct, an md5 → hex → conv transform, filter)
  * runs interpreted higher-order functions that Spark does not codegen
  * and that allocate a string per shingle at every step.
  */
case class ShingleH60(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects a string, got ${child.dataType}")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "graft_shingle_h60"

  override def eval(input: InternalRow): Any =
    ShingleMinHash.h60(child.eval(input).asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      |${c.code}
      |${CodeGenerator.javaType(dataType)} ${ev.value} =
      |  graft.functions.ShingleMinHash.h60(${c.isNull} ? null : ${c.value});
      """.stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Native Catalyst expression: min over `hs` of ((x >> 32)·a + b) % p —
  * one universal-hash MinHash permutation applied to the top 28 bits of
  * each 60-bit shingle hash (graft.ops.Dedup's mh0..mh3). NULL when `hs`
  * is NULL or has no non-NULL element, as `array_min` over the same
  * transform gives. The arithmetic is overflow-checked: a wrapping
  * (a, b, p) choice fails loudly instead of yielding a wrong minimum.
  * The SQL builder casts a, b and p to bigint, so integer literals work. */
case class MinHashAffine(hs: Expression, a: Expression, b: Expression, p: Expression)
  extends QuaternaryExpression {

  override def first: Expression = hs
  override def second: Expression = a
  override def third: Expression = b
  override def fourth: Expression = p

  override def checkInputDataTypes(): TypeCheckResult = (hs.dataType, a.dataType,
      b.dataType, p.dataType) match {
    case (ArrayType(LongType, _), LongType, LongType, LongType) => TypeCheckResult.TypeCheckSuccess
    case ts => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (array<bigint>, bigint, bigint, bigint), got $ts")
  }
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_minhash_affine"

  override def nullSafeEval(hsv: Any, av: Any, bv: Any, pv: Any): Any = {
    val arr = hsv.asInstanceOf[ArrayData]
    val (ka, kb, kp) = (av.asInstanceOf[Long], bv.asInstanceOf[Long], pv.asInstanceOf[Long])
    var min: java.lang.Long = null
    var i = 0
    while (i < arr.numElements()) {
      if (!arr.isNullAt(i)) {
        val v = ShingleMinHash.affine(arr.getLong(i), ka, kb, kp)
        if (min == null || v < min) min = v
      }
      i += 1
    }
    min
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (arr, ka, kb, kp) => {
      val i = ctx.freshName("i")
      val v = ctx.freshName("v")
      s"""
         |${ev.isNull} = true;
         |for (int $i = 0; $i < $arr.numElements(); $i++) {
         |  if (!$arr.isNullAt($i)) {
         |    long $v = graft.functions.ShingleMinHash.affine($arr.getLong($i), $ka, $kb, $kp);
         |    if (${ev.isNull} || $v < ${ev.value}) { ${ev.value} = $v; ${ev.isNull} = false; }
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newFirst: Expression, newSecond: Expression,
      newThird: Expression, newFourth: Expression): Expression =
    copy(hs = newFirst, a = newSecond, b = newThird, p = newFourth)
}

object ShingleMinHash {

  /** Per-thread scratch: the digest and the growable index buffers, so a
    * row allocates only its byte copy and its result array. */
  private final class Scratch {
    val md: MessageDigest = MessageDigest.getInstance("MD5")
    val digest = new Array[Byte](16)
    var starts = new Array[Int](64)
    var slots = new Array[Int](64)
  }
  private val scratch = ThreadLocal.withInitial[Scratch](() => new Scratch)

  /** Static entry point of [[ShingleH60]], shared by interpreted eval and
    * codegen. */
  def h60(s: UTF8String): ArrayData = {
    if (s == null) return UnsafeArrayData.fromPrimitiveArray(new Array[Long](0))
    val t = scratch.get()
    val bytes = s.getBytes
    val n = bytes.length
    // starts(i) = first byte of token i; starts(nTok) = n + 1, so token i
    // always ends at starts(i + 1) - 1
    var nTok = 0
    var pos = 0
    var starts = t.starts
    while (pos <= n) {
      if (nTok + 1 >= starts.length) {
        starts = java.util.Arrays.copyOf(starts, starts.length * 2)
        t.starts = starts
      }
      starts(nTok) = pos
      nTok += 1
      while (pos < n && bytes(pos) != ' ') pos += 1
      pos += 1
    }
    starts(nTok) = n + 1
    val st = starts
    val words = nTok >= 3
    val nSh = if (words) nTok - 2 else 1
    def from(i: Int): Int = if (words) st(i) else 0
    def until(i: Int): Int = if (words) st(i + 3) - 1 else n

    // drop repeated shingles by content: open addressing over shingle
    // indexes in slots(0 until cap) (value = index + 1, 0 = empty); the
    // kept indexes follow the table, in slots(cap until cap + nSh)
    var cap = 4
    while (cap < nSh * 2) cap <<= 1
    if (t.slots.length < cap + nSh) t.slots = new Array[Int](cap + nSh)
    val slots = t.slots
    java.util.Arrays.fill(slots, 0, cap, 0)
    var nKept = 0
    var i = 0
    while (i < nSh) {
      val f = from(i)
      val u = until(i)
      var slot = Murmur3_x86_32.hashUnsafeBytes(
        bytes, Platform.BYTE_ARRAY_OFFSET + f, u - f, 42) & (cap - 1)
      var dup = false
      while (!dup && slots(slot) != 0) {
        val j = slots(slot) - 1
        dup = java.util.Arrays.equals(bytes, f, u, bytes, from(j), until(j))
        slot = (slot + 1) & (cap - 1)
      }
      if (!dup) {
        slots(slot) = i + 1
        slots(cap + nKept) = i
        nKept += 1
      }
      i += 1
    }

    val out = new Array[Long](nKept)
    var k = 0
    while (k < nKept) {
      val sh = slots(cap + k)
      val f = from(sh)
      t.md.update(bytes, f, until(sh) - f)
      t.md.digest(t.digest, 0, 16)
      var x = 0L
      var b = 0
      while (b < 8) { x = (x << 8) | (t.digest(b) & 0xffL); b += 1 }
      out(k) = x >>> 4
      k += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** One permutation value of [[MinHashAffine]]: ((x >> 32)·a + b) % p,
    * overflow-checked. */
  def affine(x: Long, a: Long, b: Long, p: Long): Long =
    Math.addExact(Math.multiplyExact(x >> 32, a), b) % p
}
