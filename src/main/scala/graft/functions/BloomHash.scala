package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, BooleanType, DataType, IntegerType}

/** Bloom-filter hashing kernel over BIGINT keys: k independent
  * splitmix64 finalizers (same constants as [[NgramHashing]]'s mix and
  * `operators.OracleEmul.mix` — the DuckDB oracle replays every bit of
  * this arithmetic in HUGEINT), each salted by XOR with a seeded
  * constant, mapped to a bit position by Java `floorMod`.
  *
  * Wrapping two's-complement multiplies make this kernel
  * engine-portable and EXACT — the reason the filter's false-positive
  * set (not just its rate) is deterministic and hash-checkable, unlike
  * Spark's built-in runtime bloom filter whose xxhash64-based bit
  * layout no external engine can audit.
  */
object BloomHashing {

  /** splitmix64 finalizer (identical to NgramHashing.mix; duplicated
    * because that one is private to its codegen kernel).
    */
  def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** The k hash salts — a seeded model parameter (like the LSH plane
    * matrices), interpolated into the oracle SQL from this same call.
    */
  def salts(k: Int, seed: Long): Array[Long] =
    Array.tabulate(k)(j => mix(seed + j))

  /** Bit positions of `key` in an `m`-bit filter. */
  def positions(key: Long, salts: Array[Long], m: Int): Array[Int] = {
    val out = new Array[Int](salts.length)
    var j = 0
    while (j < salts.length) {
      out(j) = java.lang.Math.floorMod(mix(key ^ salts(j)), m)
      j += 1
    }
    out
  }

  /** Membership probe against the packed bitmap (all k bits set). */
  def contains(key: Long, salts: Array[Long], m: Int, words: Array[Long]): Boolean = {
    var j = 0
    while (j < salts.length) {
      val p = java.lang.Math.floorMod(mix(key ^ salts(j)), m)
      if (((words(p >>> 6) >>> (p & 63)) & 1L) == 0L) return false
      j += 1
    }
    true
  }

  /** Pack a set of bit positions into the 64-bit word array. */
  def pack(m: Int, bits: Iterable[Int]): Array[Long] = {
    require(m % 64 == 0 && m > 0, s"m must be a positive multiple of 64, got $m")
    val words = new Array[Long](m / 64)
    bits.foreach { p =>
      require(p >= 0 && p < m, s"bit position $p outside [0, $m)")
      words(p >>> 6) |= (1L << (p & 63))
    }
    words
  }
}

/** splitmix64 finalizer of a BIGINT key as a signed BIGINT — the
  * deterministic uniform-hash primitive behind weighted sampling
  * (`TextOps.qWeightedSample` uses `mix >>> 1` as a 63-bit uniform).
  * SQL arithmetic can't express it under ANSI overflow semantics
  * (wrapping multiplies throw); as a codegen expression it stays
  * map-only, and OracleEmul.mix replays it in HUGEINT.
  */
case class SplitMix64(child: Expression) extends UnaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def prettyName: String = "graft_splitmix64"

  override protected def nullSafeEval(input: Any): Any =
    BloomHashing.mix(input.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.BloomHashing.mix($c);")

  override protected def withNewChildInternal(newChild: Expression): SplitMix64 =
    copy(child = newChild)
}

/** array<int> of the k filter bit positions for a BIGINT key — the
  * BUILD side's map-only projection (explode + distinct gives the set
  * bits, at most m rows however large the build table is).
  */
case class BloomPositions(child: Expression, salts: Seq[Long], m: Int)
    extends UnaryExpression {

  require(m > 0 && m % 64 == 0, s"m must be a positive multiple of 64, got $m")
  require(salts.nonEmpty, "at least one hash salt required")

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "graft_bloom_positions"

  @transient lazy val saltArr: Array[Long] = salts.toArray

  override protected def nullSafeEval(input: Any): Any =
    new GenericArrayData(
      BloomHashing.positions(input.asInstanceOf[Long], saltArr, m))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val s = VectorOps.modelField(ctx, this, "saltArr", "long[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(" +
        s"graft.functions.BloomHashing.positions($c, $s, $m));")
  }

  override protected def withNewChildInternal(newChild: Expression): BloomPositions =
    copy(child = newChild)
}

/** Boolean membership probe of a BIGINT key against a BAKED-IN packed
  * bitmap (m/64 longs — a config-bounded model parameter shipped inside
  * the expression, the [[NearestCell]] codebook pattern). The
  * probe side therefore stays map-only inside whole-stage codegen: no
  * join, no shuffle, no broadcast exchange — the m/8-byte filter (1 KB
  * at the default m=8192 bits) rides the serialized expression itself.
  */
case class BloomContains(child: Expression, salts: Seq[Long], m: Int, words: Seq[Long])
    extends UnaryExpression {

  require(m > 0 && m % 64 == 0, s"m must be a positive multiple of 64, got $m")
  require(words.length == m / 64, s"bitmap must be m/64 = ${m / 64} words, got ${words.length}")

  override def dataType: DataType = BooleanType
  override def prettyName: String = "graft_bloom_contains"

  @transient lazy val saltArr: Array[Long] = salts.toArray
  @transient lazy val wordArr: Array[Long] = words.toArray

  override protected def nullSafeEval(input: Any): Any =
    BloomHashing.contains(input.asInstanceOf[Long], saltArr, m, wordArr)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val s = VectorOps.modelField(ctx, this, "saltArr", "long[]")
    val w = VectorOps.modelField(ctx, this, "wordArr", "long[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.BloomHashing.contains($c, $s, $m, $w);")
  }

  override protected def withNewChildInternal(newChild: Expression): BloomContains =
    copy(child = newChild)
}
