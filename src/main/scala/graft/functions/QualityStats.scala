package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One-pass per-document quality-feature counters (the C4/Gopher-style
  * quality-filter inputs) as a native Catalyst expression: character,
  * word, non-space-character, stopword and punctuation counts from a
  * SINGLE traversal of the text, returned as a struct.
  *
  * This is the [[RepetitionStats]] device applied to `q_quality_score`
  * and the shared `qualityKeep` rule: the relational formulation
  * evaluated three independent `split(text, ' ')` calls plus a
  * `regexp_count` and a `regexp_replace` per document — five full
  * scans of every byte of the corpus where one suffices. At 100 TB
  * the quality pass is a mandatory full-corpus scan; its per-byte
  * constant is the whole cost.
  *
  * Counting contract (must mirror the DuckDB oracle exactly):
  *  - `n_chars`   = code points in the text (`length(text)`);
  *  - `n_words`   = single-space split keeping empty tokens
  *                  (`len(string_split(text, ' '))` = spaces + 1);
  *  - `n_nospace` = code points that are not ' '
  *                  (`length(replace(text, ' ', ''))`);
  *  - `n_stop`    = tokens equal to a [[QualityStats.StopWords]] word
  *                  (`len(list_filter(string_split(text,' '), w -> w IN …))`);
  *  - `n_punct`   = code points outside `[A-Za-z0-9 ]`
  *                  (`len(regexp_extract_all(text, '[^A-Za-z0-9 ]'))`;
  *                  an astral code point is ONE regex match, so
  *                  surrogate pairs count once here and in `n_chars`).
  */
case class QualityStats(child: Expression) extends UnaryExpression {

  override def dataType: DataType = QualityStats.schema
  override def prettyName: String = "graft_quality_stats"

  override protected def nullSafeEval(input: Any): Any =
    QualityStats.stats(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.QualityStats.stats($c);")

  override protected def withNewChildInternal(newChild: Expression): QualityStats =
    copy(child = newChild)
}

object QualityStats {

  /** The canonical English marker lexicon — single source for the
    * quality stopword ratio AND the lang-ID/Gopher gates
    * (`TextOps.enStops` aliases this list, so the batch, streaming
    * and oracle formulations cannot drift apart).
    */
  val StopWords: Seq[String] = Seq("the", "a", "of", "and", "to", "is")
  // ASCII lexicon compared byte-wise against the raw UTF-8 buffer —
  // the hot path never materializes a java.lang.String
  private val StopBytes: Array[Array[Byte]] =
    StopWords.map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8)).toArray

  val schema: StructType = StructType(Seq(
    StructField("n_chars", LongType, nullable = false),
    StructField("n_words", LongType, nullable = false),
    StructField("n_nospace", LongType, nullable = false),
    StructField("n_stop", LongType, nullable = false),
    StructField("n_punct", LongType, nullable = false)))

  private def isStop(u: UTF8String, from: Int, until: Int): Boolean = {
    val n = until - from
    var k = 0
    while (k < StopBytes.length) {
      val w = StopBytes(k)
      if (w.length == n) {
        var j = 0
        while (j < n && u.getByte(from + j) == w(j)) j += 1
        if (j == n) return true
      }
      k += 1
    }
    false
  }

  /** Callable from generated code (static forwarder on the object).
    * Walks the raw UTF-8 bytes — no per-row String copy/decode: a
    * code point is one non-continuation byte; every multi-byte
    * sequence is outside `[A-Za-z0-9 ]` by construction
    * (punct-class), and a 4-byte sequence is exactly the astral case
    * the former UTF-16 walk counted once via its surrogate pair.
    */
  def stats(u: UTF8String): InternalRow = {
    val nb = u.numBytes
    var nChars = 0L
    var nSpace = 0L
    var nPunct = 0L
    var nWords = 1L
    var nStop = 0L
    var wStart = 0
    var i = 0
    while (i < nb) {
      val b = u.getByte(i)
      if ((b & 0x80) == 0) { // ASCII: one byte, one code point
        nChars += 1
        if (b == ' ') {
          nSpace += 1
          nWords += 1
          if (isStop(u, wStart, i)) nStop += 1
          wStart = i + 1
        } else {
          if (!((b >= 'A' && b <= 'Z') || (b >= 'a' && b <= 'z') ||
                (b >= '0' && b <= '9'))) nPunct += 1
        }
        i += 1
      } else {
        // leading byte of a 2/3/4-byte sequence: one code point,
        // always punct-class (never ASCII alnum/space)
        val step =
          if ((b & 0xE0) == 0xC0) 2
          else if ((b & 0xF0) == 0xE0) 3
          else 4
        nChars += 1; nPunct += 1
        i += step
      }
    }
    if (isStop(u, wStart, nb)) nStop += 1
    new GenericInternalRow(Array[Any](nChars, nWords, nChars - nSpace, nStop, nPunct))
  }

  def column(c: Column): Column =
    GraftBridge.column(QualityStats(GraftBridge.expression(c)))
}

/** One-pass per-document character-distribution counters (the
  * `q_char_diversity` inputs) as a native Catalyst expression: total /
  * distinct / modal non-space code-point counts plus the Σn² Simpson
  * numerator from a single traversal, returned as a struct.
  *
  * Replaces a per-CHARACTER explode through two hash exchanges with a
  * map-only projection: the relational formulation inflated the corpus
  * ~1000× in row count before its first shuffle — the per-doc counters
  * are pure row functions, so at 100 TB the whole operator should ride
  * the scan. The caller feeds `lower(text)` (lowercasing stays on
  * Spark's `lower`, matching the oracle's) and drops zero-char docs
  * (the explode formulation emitted no row for them).
  *
  * Counting is per CODE POINT excluding ' ' — DuckDB's
  * `string_split(text, '')` semantics; identical to the former
  * per-UTF-16-unit split on BMP text, exact beyond it.
  */
case class CharDiversityStats(child: Expression) extends UnaryExpression {

  override def dataType: DataType = CharDiversityStats.schema
  override def prettyName: String = "graft_char_diversity_stats"

  override protected def nullSafeEval(input: Any): Any =
    CharDiversityStats.stats(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.CharDiversityStats.stats($c);")

  override protected def withNewChildInternal(newChild: Expression): CharDiversityStats =
    copy(child = newChild)
}

object CharDiversityStats {

  val schema: StructType = StructType(Seq(
    StructField("n_chars_tot", LongType, nullable = false),
    StructField("n_uniq_chars", LongType, nullable = false),
    StructField("top_char_cnt", LongType, nullable = false),
    StructField("sq", LongType, nullable = false)))

  /** Callable from generated code (static forwarder on the object).
    * Decodes code points straight off the UTF-8 buffer — no per-row
    * String materialization.
    */
  def stats(u: UTF8String): InternalRow = {
    val nb = u.numBytes
    // per-code-point counts; alphabet-bounded, so a small open map
    val m = new java.util.HashMap[Integer, Integer](64)
    var tot = 0L
    var i = 0
    while (i < nb) {
      val b = u.getByte(i) & 0xFF
      var cp = 0
      var step = 1
      if (b < 0x80) { cp = b }
      else if ((b & 0xE0) == 0xC0) { cp = b & 0x1F; step = 2 }
      else if ((b & 0xF0) == 0xE0) { cp = b & 0x0F; step = 3 }
      else { cp = b & 0x07; step = 4 }
      var j = 1
      while (j < step && i + j < nb) {
        cp = (cp << 6) | (u.getByte(i + j) & 0x3F)
        j += 1
      }
      if (cp != ' ') {
        tot += 1
        val c = m.get(cp)
        m.put(cp, if (c == null) 1 else c + 1)
      }
      i += step
    }
    var top = 0L
    var sq = 0L
    val it = m.values().iterator()
    while (it.hasNext) {
      val n = it.next().longValue()
      if (n > top) top = n
      sq += n * n
    }
    new GenericInternalRow(Array[Any](tot, m.size.toLong, top, sq))
  }

  def column(c: Column): Column =
    GraftBridge.column(CharDiversityStats(GraftBridge.expression(c)))
}
