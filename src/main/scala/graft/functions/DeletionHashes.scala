package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** 64-bit hashes of every string obtainable by deleting at most
  * `maxDel` code points from the input — the SymSpell
  * deletion-neighborhood signature set, in one generated-Java pass.
  * Deletion units are Unicode code points, matching the code-point
  * Levenshtein that verifies candidates, so the pigeonhole recall
  * guarantee holds for non-BMP input too.
  *
  * Replaces a `transform(array_distinct(concat(array(s), transform(...,
  * delete-1), flatten(transform(..., delete-2)))), v -> xxhash64(v))`
  * SQL-lambda pyramid: those HOFs evaluate interpreted per element and
  * each variant materializes a fresh UTF8String via substr+concat
  * (measured 12 s just to generate 1.6 M signatures at sf0.1). Here no
  * variant string is ever built: with prefix polynomial hashes
  * `pre[i] = H(s[0..i))` and powers of the base, the hash of any
  * delete-k variant is O(1) multiply-adds over the precomputed arrays,
  * so a length-L record costs O(L²) long arithmetic total (~150 ops
  * for L = 18).
  *
  * The hash never crosses the engine boundary (candidates are verified
  * with exact Levenshtein before anything oracle-visible), so no
  * cross-engine hash contract applies; equal variant strings always
  * hash equal, so the pigeonhole recall guarantee survives. Per-record
  * output is sorted-distinct, exactly like `array_distinct` (different
  * variants that collide merge — a vanishingly rare lost candidate
  * would be one of MANY shared signatures for a true match pair, which
  * share at least one signature per alignment, typically dozens).
  */
case class DeletionHashes(child: Expression, maxDel: Int) extends UnaryExpression {

  require(maxDel >= 1 && maxDel <= 2, s"supported deletion radius is 1..2, got $maxDel")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_deletion_hashes"

  override protected def nullSafeEval(input: Any): Any =
    DeletionHashes.hashes(input.asInstanceOf[UTF8String].toString, maxDel)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.DeletionHashes.hashes($c.toString(), $maxDel);")

  override protected def withNewChildInternal(newChild: Expression): DeletionHashes =
    copy(child = newChild)
}

object DeletionHashes {

  // multiplicative base for the rolling polynomial (odd → invertible
  // mod 2^64; a large random-looking constant keeps adjacent
  // characters well mixed). Finalized with a splitmix-style avalanche
  // so low-entropy name alphabets still spread across the key space.
  private val B = 0x9e3779b97f4a7c15L

  private def fmix(x0: Long): Long = {
    var x = x0
    x ^= x >>> 30; x *= 0xbf58476d1ce4e5b9L
    x ^= x >>> 27; x *= 0x94d049bb133111ebL
    x ^= x >>> 31
    x
  }

  /** Callable from generated code (static forwarder on the object). */
  def hashes(s: String, maxDel: Int): ArrayData = {
    // Deletion units are CODE POINTS, not UTF-16 chars:
    // the verifying Levenshtein counts code points, so the pigeonhole
    // guarantee (every lev ≤ maxDel pair shares a signature) must
    // treat a surrogate pair as ONE deletable unit — char-indexed
    // deletion would burn both maxDel slots on a single non-BMP edit.
    // For BMP input the code-point value equals the char value, so
    // hashes on existing ASCII/BMP data are bit-identical to the
    // char-indexed formulation.
    val n = s.codePointCount(0, s.length)
    val cp = new Array[Int](n)
    var ci = 0
    var k = 0
    while (ci < s.length) {
      val c = s.codePointAt(ci)
      cp(k) = c
      k += 1
      ci += Character.charCount(c)
    }
    // pre(i) = H(cp[0..i)); pow(i) = B^i  (mod 2^64, natural wrap)
    val pre = new Array[Long](n + 1)
    val pow = new Array[Long](n + 1)
    pow(0) = 1L
    var i = 0
    while (i < n) {
      pre(i + 1) = pre(i) * B + cp(i)
      pow(i + 1) = pow(i) * B
      i += 1
    }
    @inline def seg(a: Int, b: Int): Long = pre(b) - pre(a) * pow(b - a) // H(s[a..b))
    val cap = 1 + n + (if (maxDel >= 2) n * (n - 1) / 2 else 0)
    val out = new Array[Long](cap)
    var m = 0
    out(m) = fmix(pre(n)); m += 1                           // delete 0
    i = 0
    while (i < n) {                                          // delete position i
      out(m) = fmix(pre(i) * pow(n - i - 1) + seg(i + 1, n)); m += 1
      i += 1
    }
    if (maxDel >= 2) {
      i = 0
      while (i < n - 1) {                                    // delete i < j
        val hA = pre(i)
        var j = i + 1
        while (j < n) {
          val lenB = j - i - 1
          val hAB = hA * pow(lenB) + seg(i + 1, j)
          out(m) = fmix(hAB * pow(n - j - 1) + seg(j + 1, n)); m += 1
          j += 1
        }
        i += 1
      }
    }
    // sorted-distinct in place (array_distinct semantics)
    java.util.Arrays.sort(out, 0, m)
    var w = 0
    i = 0
    while (i < m) {
      if (w == 0 || out(i) != out(w - 1)) { out(w) = out(i); w += 1 }
      i += 1
    }
    val vals = new Array[Any](w)
    i = 0
    while (i < w) { vals(i) = out(i); i += 1 }
    new GenericArrayData(vals)
  }

  def column(c: Column, maxDel: Int): Column =
    GraftBridge.column(DeletionHashes(GraftBridge.expression(c), maxDel))
}
