package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Product-quantization kernels: multi-subspace code assignment, the
  * per-query ADC (asymmetric distance computation) lookup table, and
  * the table-lookup accumulator — the three per-row primitives of a
  * PQ index (Jégou, Douze, Schmid 2011, "Product quantization for
  * nearest neighbor search", IEEE TPAMI — public method).
  *
  * The memory story is why PQ exists at 100 TB: a 64-dim float32
  * embedding is 256 bytes; its PQ code (m=8 subspaces × one byte) is
  * 8 bytes — 32× compression, vs 4× for per-vector int8. The scoring
  * story follows: dot(q, x) ≈ Σ_m LUT_q[m][code_m(x)], m table adds
  * per candidate instead of dim multiply-adds, with the LUT built
  * once per query (m·ks dot products over dim total components).
  *
  * All folds follow the repo's cross-engine convention
  * ([[graft.operators.Dedup.sqlDot]]): double accumulation
  * left-to-right, JVM seeding 0.0 where DuckDB's `list_reduce` seeds
  * element 0 — indistinguishable unless every term is a signed zero.
  *
  * Codebook layout (flattened, shared by all three expressions and
  * the trainer): entry `(m, t)` component `i` lives at
  * `(m * ks + t) * dsub + i`; `ks` derives as
  * `codebooks.length / (m * dsub)`.
  */
object PqKernels {

  /** Per-subspace nearest-centroid codes under L2 (the PQ training
    * and coding metric — minimizing subspace reconstruction error is
    * what makes the ADC dot estimate tight). Ties keep the lowest
    * code (strict `<`), mirroring the oracle's
    * `ORDER BY dist ASC, t ASC` rank device.
    */
  def pqCodes(v: ArrayData, cb: Array[Double], m: Int, dsub: Int): Array[Byte] = {
    require(v.numElements() == m * dsub,
      s"vector length ${v.numElements()} != m*dsub (${m * dsub})")
    val ks = cb.length / (m * dsub)
    val out = new Array[Byte](m)
    var mm = 0
    while (mm < m) {
      var best = 0
      var bestD = Double.MaxValue
      var t = 0
      while (t < ks) {
        val base = (mm * ks + t) * dsub
        var acc = 0.0
        var i = 0
        while (i < dsub) {
          val d = cb(base + i) - v.getFloat(mm * dsub + i).toDouble
          acc += d * d
          i += 1
        }
        if (acc < bestD) { bestD = acc; best = t }
        t += 1
      }
      out(mm) = best.toByte
      mm += 1
    }
    out
  }

  /** Per-query ADC lookup table: `lut[mm*ks + t]` = left-to-right dot
    * of the query's subspace `mm` slice with centroid `(mm, t)`. */
  def pqLut(v: ArrayData, cb: Array[Double], m: Int, dsub: Int): GenericArrayData = {
    require(v.numElements() == m * dsub,
      s"vector length ${v.numElements()} != m*dsub (${m * dsub})")
    val ks = cb.length / (m * dsub)
    val out = new Array[Double](m * ks)
    var mm = 0
    while (mm < m) {
      var t = 0
      while (t < ks) {
        val base = (mm * ks + t) * dsub
        var acc = 0.0
        var i = 0
        while (i < dsub) {
          acc += cb(base + i) * v.getFloat(mm * dsub + i).toDouble
          i += 1
        }
        out(mm * ks + t) = acc
        t += 1
      }
      mm += 1
    }
    new GenericArrayData(out)
  }

  /** Σ_m lut[m·ks + code_m] in subspace order — the ADC accumulator.
    * `ks` derives from the operand lengths, so the same expression
    * serves the per-query dot LUT and the constant norm² LUT. */
  def adcLookup(lut: ArrayData, codes: ArrayData): Double = {
    val m = codes.numElements()
    val ks = lut.numElements() / m
    var acc = 0.0
    var mm = 0
    while (mm < m) {
      acc += lut.getDouble(mm * ks + (codes.getByte(mm) & 0xff))
      mm += 1
    }
    acc
  }
}

/** PQ code assignment: array of m byte codes, one per subspace. A
  * model-parameter expression like [[NearestCell]] — the flattened
  * sub-codebooks ship inside the expression, so coding is
  * map-only, no join, no shuffle.
  */
case class PqCodes(child: Expression, codebooks: Seq[Double], m: Int, dsub: Int)
    extends UnaryExpression {

  require(m >= 1 && dsub >= 1, s"m=$m dsub=$dsub must be positive")
  require(codebooks.nonEmpty && codebooks.length % (m * dsub) == 0,
    s"codebook length ${codebooks.length} must be a positive multiple of m*dsub (${m * dsub})")

  override def dataType: DataType = ArrayType(ByteType, containsNull = false)
  override def prettyName: String = "graft_pq_codes"

  @transient lazy val cbFlat: Array[Double] = codebooks.toArray

  override protected def nullSafeEval(input: Any): Any =
    new GenericArrayData(
      PqKernels.pqCodes(input.asInstanceOf[ArrayData], cbFlat, m, dsub))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cb = VectorOps.modelField(ctx, this, "cbFlat", "double[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  graft.functions.PqKernels.pqCodes($c, $cb, $m, $dsub));""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): PqCodes =
    copy(child = newChild)
}

/** Per-query ADC dot lookup table (m·ks doubles) — built once per
  * query row; candidates then score with [[AdcLookup]]. */
case class PqLut(child: Expression, codebooks: Seq[Double], m: Int, dsub: Int)
    extends UnaryExpression {

  require(m >= 1 && dsub >= 1, s"m=$m dsub=$dsub must be positive")
  require(codebooks.nonEmpty && codebooks.length % (m * dsub) == 0,
    s"codebook length ${codebooks.length} must be a positive multiple of m*dsub (${m * dsub})")

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "graft_pq_lut"

  @transient lazy val cbFlat: Array[Double] = codebooks.toArray

  override protected def nullSafeEval(input: Any): Any =
    PqKernels.pqLut(input.asInstanceOf[ArrayData], cbFlat, m, dsub)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cb = VectorOps.modelField(ctx, this, "cbFlat", "double[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.PqKernels.pqLut($c, $cb, $m, $dsub);")
  }

  override protected def withNewChildInternal(newChild: Expression): PqLut =
    copy(child = newChild)
}

/** ADC score: Σ_m lut[m·ks + code_m], m ascending. left = the LUT
  * (array<double>, per-query or a constant norm² table), right = the
  * byte codes. */
case class AdcLookup(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_adc_lookup"

  override protected def nullSafeEval(lut: Any, codes: Any): Any =
    PqKernels.adcLookup(lut.asInstanceOf[ArrayData], codes.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (l, c) =>
      s"${ev.value} = graft.functions.PqKernels.adcLookup($l, $c);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): AdcLookup =
    copy(left = newLeft, right = newRight)
}
