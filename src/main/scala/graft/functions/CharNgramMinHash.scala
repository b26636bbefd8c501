package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** One-pass char-n-gram MinHash machinery as native Catalyst
  * expressions.
  *
  * The explode-then-aggregate formulation materializes one row per
  * shingle (7.5M rows at sf0.1) and pays a map-side combine per
  * signature slot. These expressions compute, per document, inside a
  * generated Java loop:
  *   - [[CharNgramMinHash]]: the full k-slot MinHash signature
  *     (k universal-hash permutations over rolling polynomial shingle
  *     hashes mod P = 2^31-1);
  *   - [[CharNgramHashes]]: the distinct shingle-hash set (for the
  *     exact-Jaccard verify join).
  * Both are map-only: the first shuffle in the dedup pipeline becomes
  * the (band, bucket) candidate join itself.
  */
abstract class CharNgramBase extends UnaryExpression {
  def n: Int

  protected final val P = 2147483647L // 2^31-1; products stay < 2^62

  /** Polynomial hash of s[i, min(i+n, len)) mod P. */
  protected final def windowHash(s: String, i: Int): Long = {
    var h = 0L
    var j = i
    val end = math.min(i + n, s.length)
    while (j < end) { h = (h * 31L + s.charAt(j)) % P; j += 1 }
    h
  }

  /** Number of n-gram windows (≥ 1: short docs sign on their prefix). */
  protected final def windows(len: Int): Int = math.max(len - n + 1, 1)
}

case class CharNgramMinHash(child: Expression, n: Int, k: Int, seed: Long)
    extends CharNgramBase {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_char_minhash"

  /** The universal-hash coefficients, derived from `seed` where the
    * task runs ([[VectorOps.modelField]]). */
  @transient lazy val coeffs: (Array[Long], Array[Long]) = CharNgramMinHash.coeffs(seed, k)
  @transient lazy val aArr: Array[Long] = coeffs._1
  @transient lazy val bArr: Array[Long] = coeffs._2

  override protected def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    val sig = Array.fill(k)(P)
    var i = 0
    val m = windows(s.length)
    while (i < m) {
      val h = windowHash(s, i)
      var t = 0
      while (t < k) {
        val v = (aArr(t) * h + bArr(t)) % P
        if (v < sig(t)) sig(t) = v
        t += 1
      }
      i += 1
    }
    new GenericArrayData(sig)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val aRef = VectorOps.modelField(ctx, this, "aArr", "long[]")
    val bRef = VectorOps.modelField(ctx, this, "bArr", "long[]")
    nullSafeCodeGen(ctx, ev, c => {
      val s = ctx.freshName("s")
      val sig = ctx.freshName("sig")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val t = ctx.freshName("t")
      val h = ctx.freshName("h")
      val v = ctx.freshName("v")
      val m = ctx.freshName("m")
      val end = ctx.freshName("end")
      s"""
         |java.lang.String $s = $c.toString();
         |long[] $sig = new long[$k];
         |java.util.Arrays.fill($sig, ${P}L);
         |int $m = java.lang.Math.max($s.length() - $n + 1, 1);
         |for (int $i = 0; $i < $m; $i++) {
         |  long $h = 0L;
         |  int $end = java.lang.Math.min($i + $n, $s.length());
         |  for (int $j = $i; $j < $end; $j++) {
         |    $h = ($h * 31L + $s.charAt($j)) % ${P}L;
         |  }
         |  for (int $t = 0; $t < $k; $t++) {
         |    long $v = ($aRef[$t] * $h + $bRef[$t]) % ${P}L;
         |    if ($v < $sig[$t]) $sig[$t] = $v;
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($sig);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): CharNgramMinHash =
    copy(child = newChild)
}

object CharNgramMinHash {
  /** Deterministic universal-hash coefficients (same contract as the
    * word-level pipeline: fixed seed, a ∈ [1, P-1], b ∈ [0, P-1]).
    */
  def coeffs(seed: Long, k: Int): (Array[Long], Array[Long]) = {
    val P = 2147483647L
    val r = new scala.util.Random(seed)
    val a = Array.fill(k)(1L + r.nextInt((P - 1).toInt).toLong)
    val b = Array.fill(k)(r.nextInt(P.toInt).toLong)
    (a, b)
  }
}

case class CharNgramHashes(child: Expression, n: Int) extends CharNgramBase {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_char_ngram_hashes"

  override protected def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    val set = new LongInsertionSet(windows(s.length))
    var i = 0
    val m = windows(s.length)
    while (i < m) { set.add(windowHash(s, i)); i += 1 }
    val arr = set.toArray
    java.util.Arrays.sort(arr) // sorted contract → merge-count Jaccard
    new GenericArrayData(arr)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val s = ctx.freshName("s")
      val seen = ctx.freshName("seen")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val h = ctx.freshName("h")
      val m = ctx.freshName("m")
      val end = ctx.freshName("end")
      s"""
         |java.lang.String $s = $c.toString();
         |int $m = java.lang.Math.max($s.length() - $n + 1, 1);
         |graft.functions.LongInsertionSet $seen = new graft.functions.LongInsertionSet($m);
         |for (int $i = 0; $i < $m; $i++) {
         |  long $h = 0L;
         |  int $end = java.lang.Math.min($i + $n, $s.length());
         |  for (int $j = $i; $j < $end; $j++) {
         |    $h = ($h * 31L + $s.charAt($j)) % ${P}L;
         |  }
         |  $seen.add($h);
         |}
         |long[] ${seen}_arr = $seen.toArray();
         |java.util.Arrays.sort(${seen}_arr);
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(${seen}_arr);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): CharNgramHashes =
    copy(child = newChild)
}

/** Primitive insertion-ordered long set (open addressing, no boxing) —
  * used by [[CharNgramHashes]] from both the interpreted and the
  * generated path. Values are non-negative (hashes mod P), so -1 can
  * mark empty slots.
  */
final class LongInsertionSet(expected: Int) {
  private var cap = Integer.highestOneBit(math.max(expected * 2, 16) - 1) << 1
  private var table = java.util.Arrays.copyOf(new Array[Long](0), cap)
  java.util.Arrays.fill(table, -1L)
  private var order = new Array[Long](math.max(expected, 8))
  private var n = 0

  private def indexOf(v: Long): Int = {
    var idx = (java.lang.Long.hashCode(v) & 0x7fffffff) & (cap - 1)
    while (table(idx) != -1L && table(idx) != v) idx = (idx + 1) & (cap - 1)
    idx
  }

  def add(v: Long): Unit = {
    val idx = indexOf(v)
    if (table(idx) == -1L) {
      table(idx) = v
      if (n == order.length) order = java.util.Arrays.copyOf(order, n * 2)
      order(n) = v
      n += 1
      if (n * 2 > cap) grow()
    }
  }

  private def grow(): Unit = {
    cap = cap << 1
    table = new Array[Long](cap)
    java.util.Arrays.fill(table, -1L)
    var i = 0
    while (i < n) { table(indexOf(order(i))) = order(i); i += 1 }
  }

  def toArray: Array[Long] = java.util.Arrays.copyOf(order, n)
}

object CharNgramFunctions {
  def charMinHash(c: Column, n: Int, k: Int, seed: Long): Column =
    GraftBridge.column(CharNgramMinHash(GraftBridge.expression(c), n, k, seed))

  def charNgramHashes(c: Column, n: Int): Column =
    GraftBridge.column(CharNgramHashes(GraftBridge.expression(c), n))
}
