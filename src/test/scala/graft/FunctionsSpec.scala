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

  /** Bytes a codegen'd `e` adds to a task beyond the expression itself:
    * `e` and its `ctx.references` serialized in one stream (where a
    * reference to `e` is a back-reference), minus `e` alone. */
  private def referenceBytesBeyond(e: org.apache.spark.sql.catalyst.expressions.Expression): Int = {
    import org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext
    def size(objs: AnyRef*): Int = {
      val bytes = new java.io.ByteArrayOutputStream
      val out = new java.io.ObjectOutputStream(bytes)
      objs.foreach(out.writeObject)
      out.close()
      bytes.size
    }
    val ctx = new CodegenContext
    e.genCode(ctx)
    size(e, ctx.references.toArray) - size(e)
  }

  test("bloom and char-minhash expressions: generated code ships no second copy of their arrays") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression,
      InterpretedUnsafeProjection}
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.types.{LongType, StringType}
    import org.apache.spark.unsafe.types.UTF8String
    import graft.functions.{BloomContains, BloomHashing, BloomPositions, CharNgramMinHash}
    val key = BoundReference(0, LongType, nullable = true)
    val text = BoundReference(1, StringType, nullable = true)
    // 4,096-slot coefficient arrays and a 2^20-bit filter: 64 KiB and
    // 128 KiB of longs a second copy would add
    val salts = BloomHashing.salts(7, 11L).toSeq
    val m = 1 << 20
    val words = BloomHashing.pack(m, (0 until 5000).map(i => (i * 7919) % m)).toSeq
    val exprs: Seq[Expression] = Seq(
      CharNgramMinHash(text, 5, 4096, 3L),
      BloomPositions(key, salts, m),
      BloomContains(key, salts, m, words))
    exprs.foreach { e =>
      val extra = referenceBytesBeyond(e)
      assert(extra < 2 * 1024, s"${e.prettyName}: codegen references add $extra B beyond the expression")
    }
    val rows = Seq(InternalRow(42L, UTF8String.fromString("the quick brown fox")),
      InternalRow(7919L, UTF8String.fromString("abc")), InternalRow(null, null))
    exprs.foreach { e =>
      val gen = GenerateUnsafeProjection.generate(Seq(e))
      val interp = InterpretedUnsafeProjection.createProjection(Seq(e))
      rows.foreach(r => assert(gen.apply(r).copy() === interp.apply(r).copy(), e.prettyName))
    }
  }

  /** The cross-join + `row_number` ranking [[graft.functions.NearestCells]]
    * replaced: each query's cells by (cos DESC, cell), cut at `probes`. */
  private def crossJoinProbes(queries: org.apache.spark.sql.DataFrame, cent: Seq[Double],
      dim: Int, probes: Int): Map[Long, Seq[Int]] = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.VectorFunctions.{vectorDot, vectorNorm}
    val s = spark
    import s.implicits._
    val centDf = cent.grouped(dim).zipWithIndex.map { case (c, i) => (i, c.map(_.toFloat)) }
      .toSeq.toDF("cell", "centroid")
    queries.crossJoin(broadcast(centDf.withColumn("cnrm", vectorNorm(col("centroid")))))
      .withColumn("cos", vectorDot(col("q_emb"), col("centroid")) / (col("q_nrm") * col("cnrm")))
      .withColumn("prk", row_number().over(
        Window.partitionBy("query_id").orderBy(col("cos").desc, col("cell"))))
      .filter(col("prk") <= probes)
      .select("query_id", "prk", "cell").collect()
      .groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.sortBy(_.getInt(1)).map(_.getInt(2)).toSeq }
  }

  test("nearest cells == the cross-join + row_number probe ranking (ties, nulls, zero norm, NaN)") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, InterpretedUnsafeProjection}
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}
    import graft.functions.{NearestCells, VectorFunctions}
    val s = spark
    import s.implicits._
    val dim = 4
    // cells 0 and 1 are equal (tied cosines), 4 is cell 0 reversed,
    // 6 has zero norm
    val cent = Seq(
      Seq(1.0, 0.0, 0.0, 0.0), Seq(1.0, 0.0, 0.0, 0.0), Seq(0.0, 1.0, 0.0, 0.0),
      Seq(0.0, 0.0, 1.0, 0.0), Seq(-1.0, 0.0, 0.0, 0.0), Seq(0.3, 0.3, 0.0, -0.1),
      Seq(0.0, 0.0, 0.0, 0.0), Seq(0.1, 0.2, 0.3, 0.4)).flatten
    val rnd = new scala.util.Random(5)
    def norm(v: Seq[Float]): Double = math.sqrt(v.map(x => x.toDouble * x.toDouble).sum)
    val finite: Seq[(Long, Option[Seq[Float]], Option[Double])] = Seq(
      (1L, Some(Seq(1f, 0f, 0f, 0f)), Some(1.0)),           // ties cells 0 and 1
      (2L, Some(Seq(0f, 0f, 0f, 1f)), Some(1.0)),           // orthogonal to most cells: 0.0s
      (3L, Some(Seq(0f, 0f, 0f, 1f)), Some(-1.0)),          // -0.0 cosines
      (4L, None, None),                                     // null q_emb
      (5L, None, Some(1.0)),                                // null q_emb, non-null norm
      (6L, Some(Seq(Float.NaN, 0f, 0f, 1f)), Some(Double.NaN)),   // NaN component
      (7L, Some(Seq(Float.PositiveInfinity, 0f, 0f, 0f)), Some(1.0))) ++ // NaN, ±Inf and null cosines
      (8L to 12L).map { id =>
        val v = Seq.fill(dim)(rnd.nextGaussian().toFloat)
        (id, Some(v), Some(norm(v)))
      }
    val zeroNorm = (13L, Some(Seq(0f, 0f, 0f, 0f)), Some(0.0))
    def frame(rows: Seq[(Long, Option[Seq[Float]], Option[Double])]) =
      rows.toDF("query_id", "q_emb", "q_nrm")
    def probesOf(q: org.apache.spark.sql.DataFrame, c: Seq[Double], probes: Int): Map[Long, Seq[Int]] =
      q.select(col("query_id"),
          VectorFunctions.nearestCells(col("q_emb"), col("q_nrm"), c, dim, probes))
        .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val ansi = "spark.sql.ansi.enabled"
    val was = spark.conf.get(ansi)
    try {
      // without ANSI a zero divisor (zero-norm query or cell) divides to null
      spark.conf.set(ansi, "false")
      for (probes <- Seq(1, 3, 8, 20)) {
        val q = frame(finite :+ zeroNorm)
        assert(probesOf(q, cent, probes) === crossJoinProbes(q, cent, dim, probes), s"probes=$probes")
      }
      // with ANSI a zero divisor fails the division (checked on the
      // expression below); without the zero-norm cell and query the rest agree
      spark.conf.set(ansi, "true")
      val nonZeroCent = cent.take(6 * dim) ++ cent.drop(7 * dim)
      for (probes <- Seq(3, 20)) {
        val q = frame(finite)
        assert(probesOf(q, nonZeroCent, probes) === crossJoinProbes(q, nonZeroCent, dim, probes),
          s"probes=$probes")
      }
    } finally spark.conf.set(ansi, was)

    val qv = BoundReference(0, ArrayType(FloatType, containsNull = true), nullable = true)
    val qn = BoundReference(1, DoubleType, nullable = true)
    val e = NearestCells(qv, qn, cent, dim, 3, ansi = false)
    assert(referenceBytesBeyond(e) < 2 * 1024)
    val gen = GenerateUnsafeProjection.generate(Seq(e))
    val interp = InterpretedUnsafeProjection.createProjection(Seq(e))
    def row(v: Option[Seq[Float]], n: Option[Double]) =
      InternalRow(v.map(x => new GenericArrayData(x.toArray[Any])).orNull, n.map(Double.box).orNull)
    (finite :+ zeroNorm).foreach { case (_, v, n) =>
      assert(gen.apply(row(v, n)).copy() === interp.apply(row(v, n)).copy(), s"$v / $n")
    }
    val ansiE = e.copy(ansi = true)
    val zr = row(zeroNorm._2, zeroNorm._3)
    intercept[ArithmeticException](GenerateUnsafeProjection.generate(Seq(ansiE)).apply(zr))
    intercept[ArithmeticException](InterpretedUnsafeProjection.createProjection(Seq(ansiE)).apply(zr))
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
