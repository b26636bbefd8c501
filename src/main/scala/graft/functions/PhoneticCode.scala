package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Alphanumeric Soundex-class phonetic blocking code as a native
  * Catalyst expression (the key of the third entity-resolution
  * blocking pass). Classic Soundex (Russell 1918) keys letters
  * to six sound classes; this house variant extends it to the
  * register-id shape real MDM names carry ("Customer#000000123"):
  *
  *   1. walk the text's characters; keep ASCII letters and digits,
  *      skip everything else (punctuation, accents, non-ASCII);
  *   2. letters map to their Soundex class (b f p v→1; c g j k q s x
  *      z→2; d t→3; l→4; m n→5; r→6; a e i o u y h w→dropped —
  *      UNLIKE classic Soundex the first letter is classed too, so
  *      `Catherine`/`Kathryn` agree); digits keep their own value as
  *      a class;
  *   3. adjacent EQUAL classes collapse to one (dropped characters do
  *      not break a run);
  *   4. the first 18 surviving classes fold into a BIGINT
  *      (`code = code·10 + class`; 18 decimal digits < 2^63).
  *
  * Letters-only Soundex would map EVERY register id to one code (all
  * share the literal prefix) — a single quadratic mega-block; keeping
  * digit classes makes block cardinality track the id space while
  * letter variants ("Catherine Jones"/"Kathryn Jones" → 2365252)
  * still collide, which is the point of the pass. A code of 0 (no
  * classed characters, or an all-zero class string) does not block.
  *
  * Oracle parity: DuckDB replays the chain as strip-non-alnum →
  * `translate` (letters→class digits, vowels/h/w deleted) → per-digit
  * run collapse → `substr(·,1,18)` → `CAST(· AS BIGINT)` — see
  * [[graft.operators.Dedup]]'s `phonCodeSql`.
  */
case class PhoneticCode(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_phonetic_code"

  override protected def nullSafeEval(input: Any): Any =
    PhoneticCode.code(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.PhoneticCode.code($c);")

  override protected def withNewChildInternal(newChild: Expression): PhoneticCode =
    copy(child = newChild)
}

object PhoneticCode {

  /** Max classes folded into the code (18 decimal digits fit a Long). */
  val MaxClasses = 18

  // Soundex class per letter a..z; -1 = dropped (vowels + h/w).
  private val LetterClass: Array[Int] = {
    val m = Array.fill(26)(-1)
    for (c <- "bfpv") m(c - 'a') = 1
    for (c <- "cgjkqsxz") m(c - 'a') = 2
    for (c <- "dt") m(c - 'a') = 3
    m('l' - 'a') = 4
    for (c <- "mn") m(c - 'a') = 5
    m('r' - 'a') = 6
    m
  }

  /** Callable from generated code (static forwarder on the object).
    * Walks the raw UTF-8 bytes — multi-byte sequences are skipped
    * whole (the SQL chain's `[^a-z0-9]` strip sees the same set).
    */
  def code(u: UTF8String): Long = {
    val nb = u.numBytes
    var out = 0L
    var n = 0
    var last = -2 // collapse state: last emitted-or-collapsed class
    var i = 0
    while (i < nb && n < MaxClasses) {
      val b = u.getByte(i)
      if ((b & 0x80) == 0) {
        val lower = if (b >= 'A' && b <= 'Z') b + 32 else b.toInt
        val cls =
          if (lower >= 'a' && lower <= 'z') LetterClass(lower - 'a')
          else if (lower >= '0' && lower <= '9') lower - '0'
          else -2 // non-alnum: stripped BEFORE classing — never touches `last`
        if (cls >= 0) {
          if (cls != last) { out = out * 10 + cls; n += 1 }
          last = cls
        }
        // cls == -1 (vowel/h/w): dropped before collapsing, so it does
        // not break a run — `last` persists; cls == -2: same
        i += 1
      } else {
        // non-ASCII code point: stripped whole
        i += (if ((b & 0xE0) == 0xC0) 2 else if ((b & 0xF0) == 0xE0) 3 else 4)
      }
    }
    out
  }

  def column(c: Column): Column =
    GraftBridge.column(PhoneticCode(GraftBridge.expression(c)))
}
