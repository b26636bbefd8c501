package graft

import org.apache.spark.sql.functions._

import graft.functions.{GraftFunctions, RollingFingerprint}

/** The native codegen fingerprint must agree with the SQL-lambda
  * formulation (the oracle's semantics) and be callable from SQL via
  * the SparkSessionExtensions registration.
  */
class FunctionsSpec extends SparkSpec {

  private val lambda =
    s"aggregate(split(s, ''), 0L, (acc, ch) -> (acc * ${RollingFingerprint.P}L + ascii(ch)) % ${RollingFingerprint.M}L)"

  test("codegen expression == SQL-lambda fold (ASCII + CJK + empty)") {
    val s = spark
    import s.implicits._
    val df = Seq("hello world", "", "中文文本 mixed", "a" * 500, "!@# $%^")
      .toDF("s")
      .select(GraftFunctions.fingerprint(col("s")).as("native"), expr(lambda).as("oracle"))
    df.collect().foreach(r => assert(r.getLong(0) === r.getLong(1)))
  }

  test("graft_fingerprint is registered as a SQL function") {
    val got = spark.sql("SELECT graft_fingerprint('abc') AS fp").collect()(0).getLong(0)
    assert(got === RollingFingerprint.hash("abc"))
    assert(got === ((((('a'.toInt * 1000003L + 'b') % RollingFingerprint.M) * 1000003L + 'c') % RollingFingerprint.M)))
  }

  test("graft_vector_dot/_norm and graft_topk are registered as SQL functions") {
    val dot = spark.sql(
      """SELECT graft_vector_dot(
        |  array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)),
        |  array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS d""".stripMargin)
      .collect()(0).getDouble(0)
    assert(dot === 11.0)
    val nrm = spark.sql(
      "SELECT graft_vector_norm(array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS n")
      .collect()(0).getDouble(0)
    assert(nrm === 5.0)
    val top = spark.sql(
      """SELECT g, graft_topk(struct(CAST(v AS DOUBLE), CAST(id AS BIGINT)), 2) AS t
        |FROM VALUES ('a', 1.0, 1), ('a', 3.0, 2), ('a', 2.0, 3), ('b', 9.0, 4)
        |  AS data(g, v, id)
        |GROUP BY g ORDER BY g""".stripMargin).collect()
    val aTop = top(0).getSeq[org.apache.spark.sql.Row](1)
      .map(r => (r.getDouble(0), r.getLong(1)))
    assert(aTop === Seq((3.0, 2L), (2.0, 3L)))
    assert(top(1).getSeq[org.apache.spark.sql.Row](1).map(_.getLong(1)) === Seq(4L))
  }

  test("cross-polytope keys: generated code references the expression, not its rotation tables") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression,
      InterpretedUnsafeProjection, Literal}
    import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, GenerateUnsafeProjection}
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    val vec = BoundReference(0, ArrayType(FloatType, containsNull = false), nullable = true)
    val keys = graft.functions.CrossPolytopeKeys(vec, seed = 7L, nTables = 16, dim = 64, probes = 2)
    // whole-stage codegen ships ctx.references with every task; the
    // 16 × 64 × 64 rotation doubles alone serialize to over 512 KiB
    val ctx = new CodegenContext
    keys.genCode(ctx)
    val bytes = new java.io.ByteArrayOutputStream
    val out = new java.io.ObjectOutputStream(bytes)
    out.writeObject(ctx.references.toArray)
    out.close()
    assert(bytes.size < 16 * 1024,
      s"codegen references serialize to ${bytes.size} B; the rotation tables must not ride along")
    // generated code reads each model field the interpreter uses
    val rnd = new scala.util.Random(11)
    val model = Seq.fill(4 * 64)(rnd.nextGaussian())
    val row = InternalRow(new GenericArrayData(Array.fill[Any](64)(rnd.nextGaussian().toFloat)))
    def same(e: Expression): Unit =
      assert(GenerateUnsafeProjection.generate(Seq(e)).apply(row) ===
        InterpretedUnsafeProjection.createProjection(Seq(e)).apply(row), e.prettyName)
    same(keys)
    same(graft.functions.SignBuckets(vec, seed = 7L, nTables = 2, nBits = 8, dim = 64))
    same(graft.functions.NearestCell(vec, model, 64))
    same(graft.functions.CellRow(Literal(2), model, 64))
    same(graft.functions.PqCodes(vec, model, 16, 4))
    same(graft.functions.PqLut(vec, model, 16, 4))
  }

  test("char-ngram minhash: identical texts → identical signatures; near-dups agree on most slots") {
    val s = spark
    import s.implicits._
    import graft.functions.CharNgramFunctions._
    val base = "the quick brown fox jumps over the lazy dog " * 8
    val near = base.replaceFirst("quick", "rapid")
    val other = "entirely different content with no overlap whatsoever " * 8
    val rows = Seq((1L, base), (2L, base), (3L, near), (4L, other)).toDF("id", "t")
      .select($"id", charMinHash($"t", 6, 64, 7L).as("sig"), charNgramHashes($"t", 6).as("sh"))
      .collect().map(r => r.getLong(0) -> (r.getSeq[Long](1), r.getSeq[Long](2))).toMap
    assert(rows(1L)._1 === rows(2L)._1, "identical text → identical signature")
    assert(rows(1L)._2 === rows(2L)._2, "identical text → identical hash set")
    val agree = rows(1L)._1.zip(rows(3L)._1).count { case (x, y) => x == y }
    assert(agree > 40, s"near-dup should agree on most of 64 slots, got $agree")
    val agreeOther = rows(1L)._1.zip(rows(4L)._1).count { case (x, y) => x == y }
    assert(agreeOther < agree, "unrelated text must agree on fewer slots")
    assert(rows(1L)._2.distinct.length === rows(1L)._2.length, "hash set is distinct")
  }

  test("null input → null output") {
    val s = spark
    import s.implicits._
    val r = Seq(Option.empty[String]).toDF("s")
      .select(GraftFunctions.fingerprint(col("s"))).collect()(0)
    assert(r.isNullAt(0))
  }

  /** The fused quality counters must agree with the relational
    * formulation they replaced (three splits + two regexes — the
    * oracle's semantics) on every counter, including the traps:
    * empty string, leading/trailing/double spaces (empty tokens),
    * stop words at both text ends, non-ASCII, and pure punctuation.
    */
  test("graft_quality_stats == the split/regex formulation on edge-case texts") {
    val s = spark
    import s.implicits._
    val stops = graft.functions.QualityStats.StopWords.map(w => s"'$w'").mkString(", ")
    val texts = Seq(
      "", " ", "  ", "the", "the quick brown fox is a fox", " the a ",
      "is", "a a a a a", "no stopwords here whatsoever",
      "punct!!! and, some. more?", "中文 text the 混合", "tab\tand\nnewline the",
      "double  space the", "trailing space the ", "!@#$%^&*()")
    val df = texts.toDF("text").select(
      graft.functions.QualityStats.column(col("text")).as("qs"),
      expr("CAST(length(text) AS BIGINT)").as("o_chars"),
      expr("CAST(size(split(text, ' ')) AS BIGINT)").as("o_words"),
      expr("CAST(length(regexp_replace(text, ' ', '')) AS BIGINT)").as("o_nospace"),
      expr(s"CAST(size(filter(split(text, ' '), w -> w IN ($stops))) AS BIGINT)").as("o_stop"),
      expr("CAST(regexp_count(text, '[^A-Za-z0-9 ]') AS BIGINT)").as("o_punct"))
    df.collect().foreach { r =>
      val qs = r.getStruct(0)
      assert(qs.getLong(0) === r.getLong(1), s"n_chars mismatch: $r")
      assert(qs.getLong(1) === r.getLong(2), s"n_words mismatch: $r")
      assert(qs.getLong(2) === r.getLong(3), s"n_nospace mismatch: $r")
      assert(qs.getLong(3) === r.getLong(4), s"n_stop mismatch: $r")
      assert(qs.getLong(4) === r.getLong(5), s"n_punct mismatch: $r")
    }
  }

  /** The fused char-diversity counters must agree with the
    * char-explode formulation they replaced (count/distinct/max/Σn²
    * over non-space chars of the lowercased text).
    */
  test("graft_char_diversity_stats == the explode/groupBy formulation") {
    val s = spark
    import s.implicits._
    val texts = Seq(
      "aAbB ccc", "  ", "x", "The quick brown fox!", "aaaaa", "中文中文 mixed",
      "a b c d e f g", "!!!???...")
    val df = texts.toDF("text")
    val fused = df.select(col("text"),
        graft.functions.CharDiversityStats.column(lower(col("text"))).as("cs"))
      .select(col("text"), col("cs.n_chars_tot"), col("cs.n_uniq_chars"),
        col("cs.top_char_cnt"), col("cs.sq"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val relational = df
      .select(col("text"), explode(expr(
        "filter(split(lower(text), ''), c -> c <> ' ' AND c <> '')")).as("ch"))
      .groupBy(col("text"), col("ch")).agg(count(lit(1)).as("nc"))
      .groupBy(col("text"))
      .agg(sum("nc").as("tot"), count(lit(1)).as("uniq"),
        max("nc").as("top"), sum(col("nc") * col("nc")).as("sq"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    relational.foreach { case (t, exp) =>
      assert(fused(t) === exp, s"char-diversity mismatch on '$t'")
    }
    // zero-char docs: explode emits nothing; fused emits an all-zero
    // struct the operator filters out — pin the struct contents
    assert(fused("  ") === ((0L, 0L, 0L, 0L)))
    assert(!relational.contains("  "))
  }
}
