package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, DoubleType, IntegerType, LongType}

/** Native codegen vector arithmetic for the embedding operators
  * (the SQL-lambda `aggregate(zip_with(...))` folds are
  * interpreted per element — measured 7-60× slower than codegen on the
  * text signatures; the embedding/ANN hot path pays that constant on
  * EVERY vector and every candidate pair, which at 10⁸+ vectors is the
  * pipeline).
  *
  * Contract: inputs are `array<float>` columns (the `embeddings` table
  * schema) of EQUAL length — a mismatch throws (see
  * [[VectorOps.dot]]'s note; the lambda formulation nulled such rows).
  * For well-formed rows the accumulation is double, left-to-right —
  * bit-identical to the previous `aggregate(zip_with(a, b, (x, y) ->
  * CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0D, (acc, v) -> acc + v)`
  * formulation, so swapping the implementation changes no output
  * values.
  */
case class VectorDot(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_vector_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    VectorOps.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.VectorOps.dot($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VectorDot =
    copy(left = newLeft, right = newRight)
}

/** L2 norm of a float-array column (double accumulation). */
case class VectorNorm(child: Expression) extends UnaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_vector_norm"

  override protected def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    java.lang.Math.sqrt(VectorOps.dot(a, a))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = java.lang.Math.sqrt(graft.functions.VectorOps.dot($c, $c));")

  override protected def withNewChildInternal(newChild: Expression): VectorNorm =
    copy(child = newChild)
}

/** All `nTables` sign-random-projection bucket ids of a vector in ONE
  * pass: bucket(t) packs `nBits` hyperplane sign bits (`dot > 0` → bit
  * set, bit b = plane b — same packing as the previous per-plane
  * `when(planeBit, 1 << i)` reduce). Table t's planes are the
  * deterministic gaussian matrix seeded `seed + t` (row-major fill,
  * identical to `Dedup.hyperplanes(seed + t, nBits, dim)`), so bucket
  * values are unchanged from the lambda formulation.
  *
  * One expression for all tables: the plane matrix is materialized once
  * per operator (a codegen reference object, not a per-row literal) and
  * the generated loop touches each vector element nTables×nBits times
  * with no boxing, no lambda dispatch, no intermediate arrays.
  */
case class SignBuckets(child: Expression, seed: Long, nTables: Int, nBits: Int, dim: Int)
    extends UnaryExpression {

  require(nBits >= 1 && nBits <= 31, s"bucket bits must fit an int, got $nBits")
  require(nTables >= 1 && dim >= 1, s"invalid table/dim config: $nTables/$dim")

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "graft_sign_buckets"

  /** planes(t)(b) flattened row-major: slot (t*nBits + b)*dim + i.
    * Derived from `seed` where the task runs ([[VectorOps.modelField]]). */
  @transient lazy val planesFlat: Array[Double] = {
    val flat = new Array[Double](nTables * nBits * dim)
    var t = 0
    while (t < nTables) {
      val r = new scala.util.Random(seed + t)
      var j = 0
      while (j < nBits * dim) { flat(t * nBits * dim + j) = r.nextGaussian(); j += 1 }
      t += 1
    }
    flat
  }

  override protected def nullSafeEval(input: Any): Any =
    new GenericArrayData(
      VectorOps.signBuckets(input.asInstanceOf[ArrayData], planesFlat, nTables, nBits, dim))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val planes = VectorOps.modelField(ctx, this, "planesFlat", "double[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  graft.functions.VectorOps.signBuckets($c, $planes, $nTables, $nBits, $dim));
       """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): SignBuckets =
    copy(child = newChild)
}

/** Cross-polytope LSH keys of a vector, all tables in one pass.
  *
  * Per table t the vector is pseudo-rotated by a seeded gaussian
  * matrix R_t (the standard dense approximation of a random rotation)
  * and hashed to the polytope vertex nearest to R_t·v — the index of
  * the largest-|·| coordinate together with its sign. Cross-polytope
  * is the asymptotically optimal LSH family for cosine similarity
  * (Andoni et al., NeurIPS 2015: "Practical and Optimal LSH for
  * Angular Distance") and measured ~2× cheaper in candidates than
  * sign-random-projection at equal recall on our corpus.
  *
  * `probes` is the multi-probe depth: the `probes` largest-|·|
  * coordinates each emit a key (probes=1 for indexing the corpus,
  * probes=m for querying — query-directed probing). Keys are encoded
  * `t*(2*dim) + 2*j + (u_j > 0)`, so table and bucket join as ONE int
  * equi-key.
  *
  * Cost note: the rotation is nTables × dim² multiply-adds per vector
  * (vs nTables × nBits × dim for sign-LSH) — a deliberately heavier
  * MAP side buying a lighter SHUFFLE side (fewer candidate pairs to
  * ship and score), which is the right trade at 100 TB where the
  * candidate join, not the scan, is the bottleneck.
  */
case class CrossPolytopeKeys(child: Expression, seed: Long, nTables: Int, dim: Int, probes: Int)
    extends UnaryExpression {

  // the probe-selection bitmask in the kernel is a single long
  require(dim >= 1 && dim <= 64, s"cross-polytope dim must be in [1,64], got $dim")
  require(probes >= 1 && probes <= dim, s"probes must be in [1,$dim], got $probes")
  require(nTables >= 1, s"nTables must be positive, got $nTables")

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "graft_xpolytope_keys"

  /** R_t flattened row-major: R_t[j][i] at (t*dim + j)*dim + i.
    * Derived from `seed` where the task runs ([[VectorOps.modelField]]),
    * so a task ships the expression, not nTables·dim² doubles. */
  @transient lazy val planesFlat: Array[Double] = {
    val flat = new Array[Double](nTables * dim * dim)
    var t = 0
    while (t < nTables) {
      val r = new scala.util.Random(seed + t)
      var j = 0
      while (j < dim * dim) { flat(t * dim * dim + j) = r.nextGaussian(); j += 1 }
      t += 1
    }
    flat
  }

  override protected def nullSafeEval(input: Any): Any =
    new GenericArrayData(
      VectorOps.xpolyKeys(input.asInstanceOf[ArrayData], planesFlat, nTables, dim, probes))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val planes = VectorOps.modelField(ctx, this, "planesFlat", "double[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  graft.functions.VectorOps.xpolyKeys($c, $planes, $nTables, $dim, $probes));
       """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): CrossPolytopeKeys =
    copy(child = newChild)
}

/** Fraction of positionally-equal slots of two equal-length MinHash
  * signatures — the unbiased estimate of the underlying Jaccard
  * (E[agreement] = J per slot). Used as the cheap pre-filter before
  * the exact-Jaccard verify join ships full shingle sets.
  */
case class SlotAgreement(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_slot_agreement"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    VectorOps.slotAgreement(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.VectorOps.slotAgreement($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SlotAgreement =
    copy(left = newLeft, right = newRight)
}

/** Cosine-nearest centroid id of a float vector against a FIXED
  * codebook — the IVF coarse-quantizer assignment as a pure map
  * expression. The codebook is a model parameter (k·dim doubles,
  * bounded by config, never by data size) shipped inside the
  * expression ([[VectorOps.modelField]]) — so cell
  * assignment needs NO join and NO shuffle: the alternative
  * broadcast-crossjoin + per-vector argmax aggregate re-shuffles the
  * whole corpus (embeddings included) once per use, which is exactly
  * what a 10⁸-vector index build can't afford.
  *
  * `centroids` is a Seq (not Array) so case-class equality stays
  * value-based for Catalyst canonicalization; the kernel reads the
  * flattened copy. argmax is over dot(v, c_t)/‖c_t‖ — equal to
  * cosine argmax, since ‖v‖ is constant per row. Ties keep the
  * lowest cell id (strict `>`), zero-norm centroids score 0.
  */
case class NearestCell(child: Expression, centroids: Seq[Double], dim: Int)
    extends UnaryExpression {

  require(dim >= 1, s"dim must be positive, got $dim")
  require(centroids.nonEmpty && centroids.length % dim == 0,
    s"codebook length ${centroids.length} must be a positive multiple of dim $dim")

  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_nearest_cell"

  @transient lazy val centFlat: Array[Double] = centroids.toArray

  @transient lazy val invNorms: Array[Double] = {
    val k = centFlat.length / dim
    val out = new Array[Double](k)
    var t = 0
    while (t < k) {
      var acc = 0.0
      var i = 0
      while (i < dim) { val x = centFlat(t * dim + i); acc += x * x; i += 1 }
      out(t) = if (acc > 0.0) 1.0 / java.lang.Math.sqrt(acc) else 0.0
      t += 1
    }
    out
  }

  override protected def nullSafeEval(input: Any): Any =
    VectorOps.nearestCell(input.asInstanceOf[ArrayData], centFlat, invNorms, dim)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cent = VectorOps.modelField(ctx, this, "centFlat", "double[]")
    val inv = VectorOps.modelField(ctx, this, "invNorms", "double[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.VectorOps.nearestCell($c, $cent, $inv, $dim);")
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCell =
    copy(child = newChild)
}

/** The IVF probe list of a query: the `probes` cells of a FIXED
  * codebook whose float centroid copies are most cosine-similar to the
  * query, best first, as array<int> (`min(probes, k)` cells, never
  * null). The centroids ship like [[NearestCell]]'s codebook, inside
  * the expression, so ranking a query's cells needs no join, no
  * broadcast of a centroid table and no window.
  *
  * The order is exactly that of a cross join of the queries with the
  * (cell, float centroid) rows ranked by `row_number` over
  * `(cos DESC, cell)`:
  *   - `cos = dot(q, c) / (qNrm · ‖c‖)` with [[VectorOps.dot]] over the
  *     `Double.toFloat` centroid copies, under Spark's division: null
  *     when an operand is null, and on a zero divisor null, or an
  *     error when `ansi` is set (the session's ANSI mode, as
  *     `Divide` takes it);
  *   - Spark's double ordering, descending: NaN first, `0.0 = -0.0`,
  *     nulls last; ties keep the lower cell.
  */
case class NearestCells(query: Expression, qNrm: Expression, centroids: Seq[Double],
    dim: Int, probes: Int, ansi: Boolean = SQLConf.get.ansiEnabled)
    extends BinaryExpression {

  require(dim >= 1 && probes >= 1, s"dim and probes must be positive, got $dim/$probes")
  require(centroids.nonEmpty && centroids.length % dim == 0,
    s"codebook length ${centroids.length} must be a positive multiple of dim $dim")

  override def left: Expression = query
  override def right: Expression = qNrm
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "graft_nearest_cells"

  /** The float centroid copies, one array per cell. */
  @transient lazy val centRows: Array[ArrayData] = centroids.grouped(dim)
    .map(c => UnsafeArrayData.fromPrimitiveArray(c.map(_.toFloat).toArray): ArrayData).toArray

  /** ‖c‖ of each float copy, as [[VectorNorm]] computes it. */
  @transient lazy val centNorms: Array[Double] =
    centRows.map(c => java.lang.Math.sqrt(VectorOps.dot(c, c)))

  override def eval(input: InternalRow): Any = {
    val n = qNrm.eval(input)
    VectorOps.nearestCells(query.eval(input).asInstanceOf[ArrayData], n == null,
      if (n == null) 0.0 else n.asInstanceOf[Double], centRows, centNorms, probes, ansi)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cents = VectorOps.modelField(ctx, this, "centRows",
      "org.apache.spark.sql.catalyst.util.ArrayData[]")
    val norms = VectorOps.modelField(ctx, this, "centNorms", "double[]")
    val q = query.genCode(ctx)
    val n = qNrm.genCode(ctx)
    ev.copy(code = code"""
      |${q.code}
      |${n.code}
      |org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
      |  graft.functions.VectorOps.nearestCells(${q.isNull} ? null : ${q.value},
      |    ${n.isNull}, ${n.value}, $cents, $norms, $probes, $ansi);""".stripMargin,
      isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): NearestCells =
    copy(query = newLeft, qNrm = newRight)
}

/** Row `cell` of a FIXED cell-major table (k rows of `width` doubles)
  * as array<double>: a per-cell model row (a centroid, a norm² LUT)
  * looked up inside the expression, where a join would have to
  * broadcast the k-row table in every query that uses it. The table
  * ships like [[NearestCell]]'s codebook, inside the expression, and
  * is split into one array per cell where the task runs, so a lookup
  * allocates nothing.
  * A cell outside [0, k) throws; a null cell yields null.
  */
case class CellRow(child: Expression, table: Seq[Double], width: Int)
    extends UnaryExpression {

  require(width >= 1, s"width must be positive, got $width")
  require(table.nonEmpty && table.length % width == 0,
    s"table length ${table.length} must be a positive multiple of width $width")

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "graft_cell_row"

  @transient lazy val rows: Array[ArrayData] =
    table.toArray.grouped(width).map(r => UnsafeArrayData.fromPrimitiveArray(r): ArrayData).toArray

  override protected def nullSafeEval(input: Any): Any =
    VectorOps.cellRow(rows, input.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val rs = VectorOps.modelField(ctx, this, "rows",
      "org.apache.spark.sql.catalyst.util.ArrayData[]")
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = graft.functions.VectorOps.cellRow($rs, $c);")
  }

  override protected def withNewChildInternal(newChild: Expression): CellRow =
    copy(child = newChild)
}

/** Per-vector symmetric int8 quantization scale: max|x|/127 (0.0 for
  * an all-zero vector). One scalar per vector; with [[VecCodes8]] it
  * compresses an embedding 4× (float32 → int8 + one float), the
  * storage/compute trade every 10⁸-vector deployment makes: byte
  * codes keep 4× more vectors per executor-GB and the reranking MAC
  * loop runs on integers.
  */
case class VecScale8(child: Expression) extends UnaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_vec_scale8"

  override protected def nullSafeEval(input: Any): Any =
    VectorOps.vecScale8(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.VectorOps.vecScale8($c);")

  override protected def withNewChildInternal(newChild: Expression): VecScale8 =
    copy(child = newChild)
}

/** Int8 codes of a float vector under a given scale: round(x/scale)
  * clamped to [-127, 127], emitted as BINARY (one byte per
  * dimension). scale = 0 → all-zero codes. Pairs with [[VecScale8]];
  * [[VectorOps.dot8]] runs the integer MAC over two code arrays.
  */
case class VecCodes8(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = BinaryType
  override def prettyName: String = "graft_vec_codes8"

  override protected def nullSafeEval(v: Any, s: Any): Any =
    VectorOps.vecCodes8(v.asInstanceOf[ArrayData], s.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, s) =>
      s"${ev.value} = graft.functions.VectorOps.vecCodes8($v, $s);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecCodes8 =
    copy(left = newLeft, right = newRight)
}

/** Integer dot product of two int8 code arrays (BINARY columns) —
  * the quantized-space MAC. Result is exact (a 64-dim worst case is
  * 64·127² ≪ Long.Max); the approximation lives entirely in the
  * quantization step. Length mismatch throws, like [[VectorDot]].
  */
case class Dot8(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_dot8"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    VectorOps.dot8(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.VectorOps.dot8($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Dot8 =
    copy(left = newLeft, right = newRight)
}

/** Shared primitive kernels — called from both the interpreted and the
  * generated paths (same single implementation → no eval/codegen drift).
  */
object VectorOps {

  /** Generated-code access to a model array that expression `e`
    * derives from its own fields, its `@transient lazy val field`: the
    * generated class references `e` and reads the field once when it
    * is initialized, where the task runs. A task thus ships `e` alone;
    * handing the array itself to `addReferenceObj` would ship a second
    * copy of it with every task. Returns the field's variable name. */
  def modelField(ctx: CodegenContext, e: Expression, field: String, javaType: String): String = {
    val owner = ctx.addReferenceObj(s"${field}Owner", e)
    ctx.addMutableState(javaType, field, v => s"$v = $owner.$field();", forceInline = true)
  }

  /** Length mismatch THROWS, never truncates: the replaced zip_with
    * lambda nulled out mismatched rows (excluding them downstream); a
    * silently truncated dot would instead hand a corrupt/short
    * embedding a plausible cosine that can enter top-k results and
    * dedup verdicts. Fail loudly; the pipeline owner filters corrupt
    * rows explicitly (`size(embedding) = dim`).
    */
  def dot(a: ArrayData, b: ArrayData): Double = {
    val m = a.numElements()
    if (m != b.numElements())
      throw new IllegalArgumentException(
        s"vector length mismatch: ${a.numElements()} vs ${b.numElements()}")
    var acc = 0.0
    var i = 0
    while (i < m) { acc += a.getFloat(i).toDouble * b.getFloat(i).toDouble; i += 1 }
    acc
  }

  /** max|x|/127 — the symmetric int8 scale. Non-finite elements fail
    * loud (like dot()): a NaN would poison max silently, an Infinity
    * would make every OTHER element quantize to 0 — both are corrupt
    * inputs, not quantizable vectors.
    */
  def vecScale8(v: ArrayData): Double = {
    val m = v.numElements()
    var mx = 0.0
    var i = 0
    while (i < m) {
      val x = v.getFloat(i)
      if (java.lang.Float.isNaN(x) || java.lang.Float.isInfinite(x))
        throw new IllegalArgumentException(s"non-finite element at $i — cannot quantize")
      val a = java.lang.Math.abs(x.toDouble)
      if (a > mx) mx = a
      i += 1
    }
    mx / 127.0
  }

  /** Codes under a [[vecScale8]]-style scale (contract: scale ≥ 0;
    * a negative scale would silently flip every sign).
    */
  def vecCodes8(v: ArrayData, scale: Double): Array[Byte] = {
    if (scale < 0.0 || java.lang.Double.isNaN(scale))
      throw new IllegalArgumentException(s"quantization scale must be ≥ 0, got $scale")
    val m = v.numElements()
    val out = new Array[Byte](m)
    if (scale == 0.0) return out
    var i = 0
    while (i < m) {
      val q = java.lang.Math.rint(v.getFloat(i).toDouble / scale)
      out(i) = (if (q > 127.0) 127 else if (q < -127.0) -127 else q.toInt).toByte
      i += 1
    }
    out
  }

  /** Exact integer MAC over int8 codes; length mismatch throws. */
  def dot8(a: Array[Byte], b: Array[Byte]): Long = {
    if (a.length != b.length)
      throw new IllegalArgumentException(
        s"code length mismatch: ${a.length} vs ${b.length}")
    var acc = 0L
    var i = 0
    while (i < a.length) { acc += a(i).toLong * b(i).toLong; i += 1 }
    acc
  }

  /** argmax_t of dot(v, centroid_t)·invNorm_t. All-NaN scores (a NaN
    * embedding) fail loudly like dot()/xpolyKeys, not deep in codegen.
    */
  def nearestCell(v: ArrayData, cent: Array[Double], invNorms: Array[Double], dim: Int): Int = {
    val m = v.numElements()
    if (m != dim)
      throw new IllegalArgumentException(s"vector length $m != codebook dim $dim")
    val k = invNorms.length
    var best = -1
    var bestScore = Double.NegativeInfinity
    var t = 0
    while (t < k) {
      val off = t * dim
      var acc = 0.0
      var i = 0
      while (i < m) { acc += cent(off + i) * v.getFloat(i).toDouble; i += 1 }
      val score = acc * invNorms(t)
      if (score > bestScore || best < 0 && !java.lang.Double.isNaN(score)) {
        bestScore = score; best = t
      }
      t += 1
    }
    if (best < 0)
      throw new IllegalArgumentException(
        "no finite centroid score (NaN embedding?)")
    best
  }

  /** The [[NearestCells]] kernel. `q` is null for a null query, and
    * `qNrm` is read only when `qNrmNull` is false. Each cell's cosine
    * is evaluated as Spark evaluates `Divide`: the divisor first, the
    * dot only when the divisor is non-null. */
  def nearestCells(q: ArrayData, qNrmNull: Boolean, qNrm: Double, cents: Array[ArrayData],
      cnrms: Array[Double], probes: Int, ansi: Boolean): ArrayData = {
    val k = cents.length
    val cos = new Array[Double](k)
    val isNull = new Array[Boolean](k)
    var t = 0
    while (t < k) {
      val d = qNrm * cnrms(t)
      if (qNrmNull || q == null) isNull(t) = true
      else if (d == 0.0) {
        if (ansi) {
          // ANSI `Divide` evaluates the dividend before it fails on the divisor
          dot(q, cents(t))
          throw new ArithmeticException(
            "[DIVIDE_BY_ZERO] Division by zero in an IVF probe cosine (zero-norm query or centroid)")
        }
        isNull(t) = true
      } else cos(t) = dot(q, cents(t)) / d
      t += 1
    }
    // (cos DESC NULLS LAST, cell ASC): scanning cells in ascending
    // order and taking only a strictly better one keeps ties in cell order
    val out = new Array[Int](java.lang.Math.min(probes, k))
    val taken = new Array[Boolean](k)
    var p = 0
    while (p < out.length) {
      var best = -1
      t = 0
      while (t < k) {
        if (!taken(t) && (best < 0 || !isNull(t) &&
            (isNull(best) || compareDoubles(cos(t), cos(best)) > 0))) best = t
        t += 1
      }
      taken(best) = true
      out(p) = best
      p += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Spark's SQL double ordering: NaN above every other value, and
    * `0.0 = -0.0`. */
  private def compareDoubles(x: Double, y: Double): Int =
    if (x == y) 0 else java.lang.Double.compare(x, y)

  /** The [[CellRow]] lookup: row `cell` of the prebuilt per-cell arrays. */
  def cellRow(rows: Array[ArrayData], cell: Int): ArrayData = {
    if (cell < 0 || cell >= rows.length)
      throw new IllegalArgumentException(s"cell $cell outside the ${rows.length}-row table")
    rows(cell)
  }

  def signBuckets(v: ArrayData, planes: Array[Double], nTables: Int, nBits: Int, dim: Int): Array[Int] = {
    val m = v.numElements()
    if (m != dim)
      throw new IllegalArgumentException(s"vector length $m != plane dim $dim")
    val out = new Array[Int](nTables)
    var t = 0
    while (t < nTables) {
      var bucket = 0
      var b = 0
      while (b < nBits) {
        val off = (t * nBits + b) * dim
        var acc = 0.0
        var i = 0
        while (i < m) { acc += planes(off + i) * v.getFloat(i).toDouble; i += 1 }
        if (acc > 0.0) bucket |= (1 << b)
        b += 1
      }
      out(t) = bucket
      t += 1
    }
    out
  }

  /** Cross-polytope keys: per table, rotate then take the `probes`
    * largest-|coordinate| vertices. Selection is `probes` argmax passes
    * with exclusion (probes ≤ 4 in practice — cheaper than sorting
    * dim=64 indices).
    */
  def xpolyKeys(v: ArrayData, planes: Array[Double], nTables: Int, dim: Int, probes: Int): Array[Int] = {
    val m = v.numElements()
    if (m != dim)
      throw new IllegalArgumentException(s"vector length $m != rotation dim $dim")
    val u = new Array[Double](dim)
    val out = new Array[Int](nTables * probes)
    var t = 0
    while (t < nTables) {
      var j = 0
      while (j < dim) {
        val off = (t * dim + j) * dim
        var acc = 0.0
        var i = 0
        while (i < m) { acc += planes(off + i) * v.getFloat(i).toDouble; i += 1 }
        u(j) = acc
        j += 1
      }
      var p = 0
      var taken = 0L // bitmask of already-emitted coordinates (dim ≤ 64)
      while (p < probes) {
        var best = -1
        var bestAbs = -1.0
        var jj = 0
        while (jj < dim) {
          val a = math.abs(u(jj))
          if ((taken & (1L << jj)) == 0L && a > bestAbs) { bestAbs = a; best = jj }
          jj += 1
        }
        // All-NaN rotations (a NaN-containing embedding) would leave
        // best = -1 — fail loud like dot(), not deep in codegen.
        if (best < 0)
          throw new IllegalArgumentException(
            "cross-polytope rotation produced no finite coordinate (NaN embedding?)")
        taken |= (1L << best)
        out(t * probes + p) = t * (2 * dim) + 2 * best + (if (u(best) > 0.0) 1 else 0)
        p += 1
      }
      t += 1
    }
    out
  }

  def slotAgreement(a: ArrayData, b: ArrayData): Double = {
    val m = a.numElements()
    // Equal-length contract, enforced like dot(): a miswired signature
    // join (different k) must fail, not yield a plausible agreement.
    if (m != b.numElements())
      throw new IllegalArgumentException(
        s"signature length mismatch: ${m} vs ${b.numElements()}")
    if (m == 0) return 0.0
    var eq = 0
    var i = 0
    while (i < m) { if (a.getLong(i) == b.getLong(i)) eq += 1; i += 1 }
    eq.toDouble / m
  }
}

object VectorFunctions {
  def vectorDot(a: Column, b: Column): Column =
    GraftBridge.column(VectorDot(GraftBridge.expression(a), GraftBridge.expression(b)))

  def vectorNorm(c: Column): Column =
    GraftBridge.column(VectorNorm(GraftBridge.expression(c)))

  def signBuckets(c: Column, seed: Long, nTables: Int, nBits: Int, dim: Int): Column =
    GraftBridge.column(SignBuckets(GraftBridge.expression(c), seed, nTables, nBits, dim))

  def xpolyKeys(c: Column, seed: Long, nTables: Int, dim: Int, probes: Int): Column =
    GraftBridge.column(CrossPolytopeKeys(GraftBridge.expression(c), seed, nTables, dim, probes))

  def slotAgreement(a: Column, b: Column): Column =
    GraftBridge.column(SlotAgreement(GraftBridge.expression(a), GraftBridge.expression(b)))

  def nearestCell(c: Column, centroids: Seq[Double], dim: Int): Column =
    GraftBridge.column(NearestCell(GraftBridge.expression(c), centroids, dim))

  def nearestCells(query: Column, qNrm: Column, centroids: Seq[Double], dim: Int,
      probes: Int): Column =
    GraftBridge.column(NearestCells(GraftBridge.expression(query),
      GraftBridge.expression(qNrm), centroids, dim, probes))

  def cellRow(cell: Column, table: Seq[Double], width: Int): Column =
    GraftBridge.column(CellRow(GraftBridge.expression(cell), table, width))

  def vecScale8(c: Column): Column =
    GraftBridge.column(VecScale8(GraftBridge.expression(c)))

  def vecCodes8(c: Column, scale: Column): Column =
    GraftBridge.column(VecCodes8(GraftBridge.expression(c), GraftBridge.expression(scale)))

  def dot8(a: Column, b: Column): Column =
    GraftBridge.column(Dot8(GraftBridge.expression(a), GraftBridge.expression(b)))

  /** Per-group top-k aggregate over struct<double,bigint> — see [[TopKPairs]]. */
  def topkPairs(c: Column, k: Int): Column =
    GraftBridge.column(TopKPairs(GraftBridge.expression(c), k).toAggregateExpression())

  def pqCodes(c: Column, codebooks: Seq[Double], m: Int, dsub: Int): Column =
    GraftBridge.column(PqCodes(GraftBridge.expression(c), codebooks, m, dsub))

  def pqLut(c: Column, codebooks: Seq[Double], m: Int, dsub: Int): Column =
    GraftBridge.column(PqLut(GraftBridge.expression(c), codebooks, m, dsub))

  def adcLookup(lut: Column, codes: Column): Column =
    GraftBridge.column(AdcLookup(GraftBridge.expression(lut), GraftBridge.expression(codes)))
}
