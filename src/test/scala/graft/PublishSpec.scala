package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Ann, CorpusBuild, Dedup, TextOps}
import graft.plans.Publish
import graft.sources.Ingest

/** Crash injection over every artifact published through [[Publish]],
  * streamed index batches included.
  * Each family has a previous and a next committed artifact, both made
  * by the family's own writer. Three crash states are built from copies
  * of them, and the family's public read entry point must see:
  *
  *   - between the two renames (target absent, previous parked at
  *     `oldOf`, next fully staged at `tmpOf`): the previous artifact;
  *   - after rename 2 (target = next, previous still parked): the next
  *     artifact, with the parked copy dropped;
  *   - a leftover partial `tmpOf` beside the previous target: the
  *     previous artifact, with the staging deleted.
  */
class PublishSpec extends SparkSpec {

  private def conf = spark.sparkContext.hadoopConfiguration
  private def fs = new Path("/").getFileSystem(conf)
  private def fresh(tag: String): String =
    tempDir(s"publish-$tag")

  /** Plain file-by-file copy of a local tree (checksum files included),
    * so each crash state starts from its own private copy. */
  private def copy(src: String, dst: String): Unit = {
    import java.nio.file.{Files, Paths}
    val (from, to) = (Paths.get(src), Paths.get(dst))
    val walk = Files.walk(from)
    try walk.forEach(p => Files.copy(p, to.resolve(from.relativize(p).toString)))
    finally walk.close()
  }

  private def drop(root: String): Unit = fs.delete(new Path(root).getParent, true)

  private def exists(p: String): Boolean = fs.exists(new Path(p))

  /** Build the three crash states for `target` (a function of the
    * artifact root: the root itself or a table inside it) from the
    * committed trees `prev` and `next`, and check what `observe` sees. */
  private def crashStates(tag: String, prev: String, next: String,
      target: String => String, observe: String => Any): Unit = {
    def clean(src: String): Any = {
      val root = fresh(tag) + "/a"
      copy(src, root)
      try observe(root) finally drop(root)
    }
    val (seePrev, seeNext) = (clean(prev), clean(next))
    assert(seePrev != seeNext, s"$tag: the two committed versions must be distinguishable")

    def check(state: String, expected: Any)(inject: String => Unit): Unit = {
      val root = fresh(tag) + "/a"
      inject(root)
      val t = target(root)
      assert(observe(root) == expected, s"$tag / $state: wrong artifact served")
      assert(exists(t), s"$tag / $state: the target must be in place")
      assert(!exists(Publish.tmpOf(t)) && !exists(Publish.oldOf(t)),
        s"$tag / $state: recovery must leave no staging behind")
      drop(root)
    }
    check("between the renames", seePrev) { root =>
      copy(prev, root)
      assert(fs.rename(new Path(target(root)), new Path(Publish.oldOf(target(root)))))
      copy(target(next), Publish.tmpOf(target(root)))
    }
    check("after rename 2", seeNext) { root =>
      copy(next, root)
      copy(target(prev), Publish.oldOf(target(root)))
    }
    check("partial staging", seePrev) { root =>
      copy(prev, root)
      val tmp = Publish.tmpOf(target(root))
      assert(fs.mkdirs(new Path(s"$tmp/_temporary/0")))
      val out = fs.create(new Path(s"$tmp/part-00000.snappy.parquet"))
      out.write(Array[Byte](80, 65, 82, 49, 0, 1)) // a truncated parquet file
      out.close()
    }
  }

  // ---- corpus: the root and the tables the upsert swaps inside it ----

  private lazy val emptyIncrement: DataFrame = {
    val s = spark
    import s.implicits._
    Seq.empty[(Long, String, String, String)].toDF("doc_id", "source", "lang", "text")
  }

  /** What the next upsert sees: the manifest it returns plus the lane
    * cursors and index coverage it leaves. */
  private def corpusView(root: String): Any =
    (CorpusBuild.corpusUpsert(spark, root, emptyIncrement).collect().map(_.toSeq).toSet,
      spark.read.parquet(s"$root/lanes.parquet").collect().map(_.toSeq).toSet,
      CorpusBuild.indexCoverage(spark, s"$root/index"))

  /** Committed corpus trees: written (s0), after one upsert (s1), after
    * a second upsert (s2), s1 compacted, and a different corpus. */
  private lazy val corpora: Map[String, String] = {
    val s = spark
    import s.implicits._
    val base = fresh("corpus")
    val s0 = s"$base/s0"
    CorpusBuild.corpusWrite(spark, sf0001, s0)
    val novel = spark.read.parquet(s"$s0/shards.parquet")
      .select("doc_id", "lang", "toks", "text").collect()
      .sortBy(r => (-r.getLong(2), r.getLong(0))).take(2)
    val maxId = spark.read.parquet(s"$s0/shards.parquet").agg(max("doc_id")).head.getLong(0)
    def upsert(from: String, to: String, k: Int): Unit = {
      copy(from, to)
      val r = novel(k)
      CorpusBuild.corpusUpsert(spark, to,
        Seq((maxId + 1001L + k, "src_p", r.getString(1),
            r.getString(3).split(" ").reverse.mkString(" ")))
          .toDF("doc_id", "source", "lang", "text")).collect()
    }
    upsert(s0, s"$base/s1", 0)
    upsert(s"$base/s1", s"$base/s2", 1)
    copy(s"$base/s1", s"$base/compacted")
    CorpusBuild.corpusCompact(spark, s"$base/compacted")
    val other = s"$base/other"
    CorpusBuild.corpusWrite(spark, docsDir(Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "a perfectly ordinary sentence with enough words here to pass"))), other)
    Map("s0" -> s0, "s1" -> s"$base/s1", "s2" -> s"$base/s2",
      "compacted" -> s"$base/compacted", "other" -> other)
  }

  test("corpus root, corpusWrite: the next upsert serves the committed corpus") {
    crashStates("corpus-write", corpora("s0"), corpora("other"), identity, corpusView)
  }

  test("corpus root, corpusCompact: the next upsert serves the committed layout") {
    crashStates("corpus-compact", corpora("s1"), corpora("compacted"), identity, corpusView)
  }

  Seq("manifest", "lanes").foreach { table =>
    test(s"corpus $table.parquet, corpusUpsert: the next upsert serves the committed table") {
      crashStates(s"corpus-$table", corpora("s1"), corpora("s2"),
        root => s"$root/$table.parquet", corpusView)
    }
  }

  // ---- near-dup signature index: the root and an appended batch ----

  private lazy val dedupTexts = Seq(
    "the quick brown fox jumps over the lazy dog near the river bank today",
    "completely different content about spark partitions and shuffle behavior",
    "a third unrelated document mentioning parquet files and column pruning")

  /** Verdicts `incrementalDedup` serves from the index at `p` for one
    * near copy of each of the three texts. */
  private def dedupServe(p: String): Set[Seq[Any]] = {
    val s = spark
    import s.implicits._
    val probes = dedupTexts.zipWithIndex.map { case (t, i) => (100L + i, t + " tonight") }
    rowSet(Dedup.incrementalDedup(spark, p, probes.toDF("doc_id", "text")))
  }

  test("dedup index root, buildDedupIndex: incrementalDedup sees the committed index") {
    val base = fresh("dedup")
    Dedup.buildDedupIndex(spark, docsDir(Seq(1L -> dedupTexts(0))), s"$base/prev")
    Dedup.buildDedupIndex(spark, docsDir(Seq(1L -> dedupTexts(0), 3L -> dedupTexts(2))),
      s"$base/next")
    crashStates("dedup", s"$base/prev", s"$base/next", identity, dedupServe)
  }

  test("dedup index batch, appendDedupIndex: incrementalDedup sees the committed batch") {
    val s = spark
    import s.implicits._
    val base = fresh("dedup-batch")
    Dedup.buildDedupIndex(spark, docsDir(Seq(1L -> dedupTexts(0))), s"$base/resident")
    // two committed versions of batch 10 holding different docs
    def version(tag: String, docs: Seq[(Long, String)]): String = {
      copy(s"$base/resident", s"$base/$tag")
      Dedup.appendDedupIndex(docs.toDF("doc_id", "text"), s"$base/$tag", 10L)
      s"$base/$tag"
    }
    val prev = version("prev", Seq(10L -> dedupTexts(1)))
    val next = version("next", Seq(10L -> dedupTexts(1), 11L -> dedupTexts(2)))
    crashStates("dedup-batch", prev, next, Publish.batchOf(_, 10L), dedupServe)
  }

  // ---- ANN index roots ----

  private def serveSet(df: DataFrame): Set[(Long, Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  /** A partial index (even vec_ids) and a full one, built by `build`. */
  private def annVersions(tag: String)(build: (String, org.apache.spark.sql.Column) => Unit)
      : (String, String) = {
    val base = fresh(tag)
    build(s"$base/partial", col("vec_id") % 2 === 0)
    build(s"$base/full", lit(true))
    (s"$base/partial", s"$base/full")
  }

  test("IVF-PQ index root, buildIvfPqIndex: serve sees the committed index") {
    val (prev, next) = annVersions("ivfpq")(Ann.buildIvfPqIndex(spark, sf0001, _, _))
    crashStates("ivfpq", prev, next, identity,
      p => serveSet(Ann.ivfPqServe(spark, sf0001, p)))
  }

  test("IVF index root, buildIvfIndex: serve sees the committed index") {
    val (prev, next) = annVersions("ivf")(Ann.buildIvfIndex(spark, sf0001, _, _))
    crashStates("ivf", prev, next, identity,
      p => serveSet(Ann.ivfServe(spark, sf0001, p)))
  }

  test("LSH index root, buildLshIndex: serve sees the committed index") {
    val (prev, next) = annVersions("lsh")(Ann.buildLshIndex(spark, sf0001, _, _))
    crashStates("lsh", prev, next, identity,
      p => serveSet(Ann.lshServe(spark, sf0001, p)))
  }

  test("IVF-PQ streamed batch, ivfPqUpsertBatch: serve sees the committed batch") {
    val base = fresh("ivfpq-batch")
    Ann.buildIvfPqIndex(spark, sf0001, s"$base/resident", col("vec_id") % 3 =!= 0)
    val (corpus, _) = Ann.split(spark, sf0001)
    // two committed versions of batch 3 holding different arrivals
    def version(tag: String, arrivals: org.apache.spark.sql.Column): String = {
      copy(s"$base/resident", s"$base/$tag")
      Ann.ivfPqUpsertBatch(spark, s"$base/$tag", corpus.filter(arrivals), 3L)
      s"$base/$tag"
    }
    val prev = version("prev", col("vec_id") % 6 === 0)
    val next = version("next", col("vec_id") % 3 === 0)
    crashStates("ivfpq-batch", prev, next, Publish.batchOf(_, 3L),
      p => serveSet(Ann.ivfPqServe(spark, sf0001, p)))
  }

  // ---- TextOps model tables ----

  /** The sf0.001 documents restricted to even doc_ids: a second corpus,
    * so a model trained on it differs from the sf0.001 one. */
  private lazy val halfDocs: String = {
    val dir = fresh("half-docs")
    spark.read.parquet(s"$sf0001/documents.parquet").filter(col("doc_id") % 2 === 0)
      .write.parquet(s"$dir/documents.parquet")
    dir
  }

  private def modelCase(tag: String, build: (String, String) => Unit,
      observe: String => Any): Unit = {
    val base = fresh(tag)
    build(sf0001, s"$base/prev.parquet")
    build(halfDocs, s"$base/next.parquet")
    crashStates(tag, s"$base/prev.parquet", s"$base/next.parquet", identity, observe)
  }

  private def rowSet(df: DataFrame): Set[Seq[Any]] = df.collect().map(_.toSeq).toSet

  test("BPE model, buildBpeModel: readBpeModel sees the committed model") {
    modelCase("bpe", TextOps.buildBpeModel(spark, _, _), TextOps.readBpeModel(spark, _))
  }

  test("unigram model, buildUnigramModel: readUnigramModel sees the committed model") {
    modelCase("unigram", TextOps.buildUnigramModel(spark, _, _),
      TextOps.readUnigramModel(spark, _))
  }

  test("LM model, buildLmModel: lmScoreWith sees the committed model") {
    modelCase("lm", TextOps.buildLmModel(spark, _, _),
      p => rowSet(TextOps.lmScoreWith(spark, sf0001, p)))
  }

  test("DSIR model, buildDsirModel: dsirScoreWith sees the committed model") {
    modelCase("dsir", TextOps.buildDsirModel(spark, _, _),
      p => rowSet(TextOps.dsirScoreWith(spark, sf0001, p)))
  }

  test("perceptron model, buildPerceptronModel: perceptronScoreWith sees the committed model") {
    modelCase("perceptron", TextOps.buildPerceptronModel(spark, _, _),
      p => rowSet(TextOps.perceptronScoreWith(spark, sf0001, p)))
  }

  test("TextOps model reads: a renamed column throws for every model; a missing or doubled row for the collected ones") {
    // per model: its writer, a read that uses every column its scorer
    // needs, and the columns the writer declares
    val models = Seq[(String, String => Unit, String => Any, Seq[String])](
      ("bpe", TextOps.buildBpeModel(spark, sf0001, _), TextOps.readBpeModel(spark, _),
        Seq("round", "sym_a", "sym_b", "n")),
      ("unigram", TextOps.buildUnigramModel(spark, sf0001, _), TextOps.readUnigramModel(spark, _),
        Seq("rk", "piece", "n_uses")),
      ("perceptron", TextOps.buildPerceptronModel(spark, sf0001, _),
        TextOps.readPerceptronModel(spark, _), Seq("w_bias", "w_stop", "w_nonascii")),
      ("lm", TextOps.buildLmModel(spark, sf0001, _),
        p => rowSet(TextOps.lmScoreWith(spark, sf0001, p)), Seq("lang", "w1", "w2", "bits")),
      ("dsir", TextOps.buildDsirModel(spark, sf0001, _),
        p => rowSet(TextOps.dsirScoreWith(spark, sf0001, p)), Seq("f", "ratio_bits")))
    // the messages of `e` and of every cause under it
    def messages(e: Throwable): String =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString("\n")
    for ((tag, build, read, columns) <- models) {
      val model = fresh(s"model-$tag") + "/m"
      build(model)
      // a copy of the model through `edit`, several files in shuffled order
      def edited(edit: DataFrame => DataFrame): String = {
        val copy = fresh(s"model-$tag-edit") + "/m"
        edit(spark.read.parquet(model)).orderBy(rand(7)).repartition(3).write.parquet(copy)
        copy
      }
      assert(read(edited(identity)) == read(model), s"$tag: a shuffled copy must read the same")
      def rejected(what: String, mentions: String)(edit: DataFrame => DataFrame): Unit = {
        val copy = edited(edit)
        val e = intercept[Exception](read(copy))
        val m = messages(e)
        assert(m.contains(copy) && m.contains(mentions),
          s"$tag, $what: the error must name the model and $mentions: $m")
      }
      for (c <- columns) rejected(s"renamed $c", c)(_.withColumnRenamed(c, s"${c}_renamed"))
      // a fixed row count shows in the count, a data-sized one in the keys
      tag match {
        case "perceptron" =>
          rejected("missing row", "0 rows, expected 1")(_.filter(lit(false)))
          rejected("doubled row", "2 rows, expected 1")(df => df.union(df))
        case "bpe" | "unigram" =>
          val (key, mention) = (columns.head, if (tag == "bpe") "rows, expected" else "rk ")
          rejected("missing row", mention)(_.filter(col(key) =!= 2))
          rejected("doubled row", mention)(df => df.union(df.filter(col(key) === 2)))
        case _ =>
      }
    }
  }

  // ---- novelty window-hash index root ----

  test("novelty index root, buildNoveltyIndex: noveltyMaintenance sees the committed index") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    // two 24-word texts, so each carries novelty windows of its own
    val Seq(a, b) = Seq("alpha", "beta").map(w => (1 to 24).map(i => s"$w$i").mkString(" "))
    val base = fresh("novelty")
    TextOps.buildNoveltyIndex(spark, docsDir(Seq(1L -> a)), s"$base/prev")
    TextOps.buildNoveltyIndex(spark, docsDir(Seq(1L -> a, 2L -> b)), s"$base/next")
    crashStates("novelty", s"$base/prev", s"$base/next", identity, { p =>
      val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
      ms.addData(Seq(10L -> a, 11L -> b))
      val out = fresh("novelty-out")
      graft.streaming.Streams.noveltyMaintenance(ms.toDF().toDF("doc_id", "text"), p, out,
        fresh("novelty-ckpt"))
      rowSet(spark.read.parquet(out))
    })
  }

  // ---- Ingest.compact ----

  test("compacted dataset, Ingest.compact: the next compaction reads the committed dataset") {
    val s = spark
    import s.implicits._
    val base = fresh("compact")
    (1L to 6400L).toDF("id").repartition(16).write.parquet(s"$base/prev")
    (1L to 800L).toDF("id").repartition(4).write.parquet(s"$base/next")
    crashStates("ingest-compact", s"$base/prev", s"$base/next", identity, { p =>
      val (before, after) = Ingest.compact(spark, p, targetBytes = Long.MaxValue >> 1)
      (before, after, spark.read.parquet(p).agg(count(lit(1)), sum("id")).head.toSeq)
    })
  }

  // ---- the local file system under every publish ----

  test("file:// goes through graft's local file systems; a published index keeps modes and .crc files") {
    import java.nio.file.{Files, Paths}
    import java.nio.file.attribute.PosixFilePermissions
    import org.apache.hadoop.fs.AbstractFileSystem
    import org.apache.hadoop.fs.permission.FsPermission
    assert(fs.getClass === classOf[graft.io.GraftLocalFileSystem])
    assert(AbstractFileSystem.get(new java.net.URI("file:///"), conf).getClass ===
      classOf[graft.io.GraftLocalFs])
    val root = fresh("modes") + "/idx"
    Ann.buildIvfIndex(spark, sf0001, root)
    def mode(p: java.nio.file.Path) = PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
    val walk = Files.walk(Paths.get(root))
    val all = try walk.toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path]) finally walk.close()
    val (dirs, files) = all.partition(Files.isDirectory(_))
    val data = files.filterNot(_.getFileName.toString.endsWith(".crc"))
    assert(dirs.size > 2 && data.exists(_.toString.endsWith(".parquet")))
    dirs.foreach(d => assert(mode(d) === "rwxr-xr-x", d))
    files.foreach(f => assert(mode(f) === "rw-r--r--", f))
    data.foreach { f =>
      assert(Files.exists(f.resolveSibling(s".${f.getFileName}.crc")), s"$f has no .crc sibling")
    }
    // a mode set through the file system lands in-process, bit for bit
    val f = new Path(data.head.toString)
    fs.setPermission(f, new FsPermission(Integer.parseInt("640", 8).toShort))
    assert(mode(data.head) === "rw-r-----")
  }
}
