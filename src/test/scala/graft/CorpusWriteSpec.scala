package graft

import org.apache.spark.sql.functions._

import graft.operators.CorpusBuild
import graft.plans.Publish

/** The corpus materialization ([[CorpusBuild.corpusWrite]]): manifest
  * reconciliation with the published census, independent replay of the
  * pack/shard rules over the written rows, byte-identical rebuild, and
  * the publish swap contract.
  */
class CorpusWriteSpec extends SparkSpec {

  private def build(tag: String): (String, Array[org.apache.spark.sql.Row]) = {
    val out = tempDir(s"corpus-$tag") + "/corpus"
    (out, CorpusBuild.corpusWrite(spark, sf0001, out).collect())
  }

  test("manifest reconciles with the q_corpus_build census; written rows replay the rules") {
    val (out, manifest) = build("recon")
    val census = CorpusBuild.qCorpusBuild(spark, sf0001).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val (d5, t5, _) = census(8L) // dedup_near: final survivors
    assert(manifest.map(_.getLong(1)).sum === d5, "manifest docs = census survivors")
    assert(manifest.map(_.getLong(2)).sum === t5, "manifest token mass = census survivor mass")
    assert(manifest.length.toLong === census(10L)._3, "manifest rows = shard-stage n_units")

    val written = spark.read.parquet(s"$out/shards.parquet")
    assert(written.count() === d5)
    assert(written.select(countDistinct(struct(col("lang"), col("lane"), col("pack_id"))))
      .head.getLong(0) === census(9L)._3, "distinct packs in the corpus = pack-stage n_units")

    // per-shard signature round-trip: recompute from the written data
    val recomputed = written.groupBy(col("shard"))
      .agg(count(lit(1)).as("n"), expr("bit_xor(xxhash64(doc_id, text))").as("sig"))
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    manifest.foreach { r =>
      val (n, sig) = recomputed(r.getInt(0))
      assert(r.getLong(1) === n && r.getLong(5) === sig,
        s"shard ${r.getInt(0)}: manifest (docs, signature) must round-trip from the data")
    }

    // the written manifest must equal the hash-checked q_corpus_manifest
    // row for row (modulo the content signature, which only the written
    // data carries) — the published artifact IS the verified plan
    val mq = CorpusBuild.qCorpusManifest(spark, sf0001).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(manifest.length === mq.size)
    manifest.foreach { r =>
      assert(mq(r.getInt(0)) === ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))),
        s"shard ${r.getInt(0)}: written manifest must equal the manifest query")
    }

    // independent driver-side replay of the LPT shard + pack rules
    val rows = written
      .select("doc_id", "lang", "toks", "lane", "pack_id", "rk", "shard").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getInt(6)))
    val expRk = rows.sortBy(t => (-t._3, t._1)).zipWithIndex
      .map { case (t, i) => t._1 -> (i + 1L) }.toMap
    rows.foreach { case (id, _, _, _, _, rk, shard) =>
      assert(rk === expRk(id), s"doc $id rank")
      assert(shard === ((rk - 1) % 8).toInt, s"doc $id shard = (rk-1) mod nShards")
    }
    rows.groupBy(t => (t._2, t._4)).foreach { case ((_, lane), laneDocs) =>
      var cum = 0L
      laneDocs.sortBy(_._1).foreach { case (id, _, t, l, pack, _, _) =>
        assert(l === lane && pack === cum / 256L, s"doc $id pack id (greedy running sum)")
        cum += t
      }
    }
  }

  test("rebuild is byte-identical per shard; publish swap replaces fully and cleans up") {
    def shardFiles(out: String): Map[String, java.io.File] =
      new java.io.File(s"$out/shards.parquet").listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("shard="))
        .map(d => d.getName -> d.listFiles().filter(_.getName.endsWith(".parquet")))
        .map { case (n, fs) =>
          assert(fs.length === 1, s"$n must hold exactly ONE file (one task per shard)")
          n -> fs.head
        }.toMap
    def md5(f: java.io.File): String = {
      val d = java.security.MessageDigest.getInstance("MD5")
      d.update(java.nio.file.Files.readAllBytes(f.toPath))
      d.digest().map("%02x".format(_)).mkString
    }
    val (a, mA) = build("a")
    val (b, mB) = build("b")
    val fa = shardFiles(a); val fb = shardFiles(b)
    assert(fa.keySet === fb.keySet)
    fa.keySet.foreach { s =>
      assert(md5(fa(s)) === md5(fb(s)), s"$s: a clean rebuild must be byte-identical")
    }
    assert(mA.map(_.toSeq).sortBy(_.head.toString) === mB.map(_.toSeq).sortBy(_.head.toString),
      "rebuilt manifest must be identical")
    // publish over an existing corpus: full replacement, no tmp/old leftovers
    CorpusBuild.corpusWrite(spark, sf0001, a)
    assert(!new java.io.File(Publish.tmpOf(a)).exists(), "tmp staging must be swapped away")
    assert(!new java.io.File(Publish.oldOf(a)).exists(), "the staged-aside corpus must be deleted")
    assert(spark.read.parquet(s"$a/shards.parquet").count() ===
      spark.read.parquet(s"$b/shards.parquet").count())
  }

  test("corpusUpsert: increment-sized refresh — funnel + dedup vs the published corpus, commit-last append") {
    import spark.implicits._
    val (out, _) = build("upsert")
    val shards = spark.read.parquet(s"$out/shards.parquet")
      .select("doc_id", "lang", "lane", "toks", "text").collect()
    val maxId = shards.map(_.getLong(0)).max
    val base = shards.maxBy(r => (r.getLong(3), -r.getLong(0))) // deterministic: fattest survivor
    val baseText = base.getString(4)
    val reversed = baseText.split(" ").reverse.mkString(" ")
    val nearCopy = ("zzzqx" +: baseText.split(" ").drop(1)).mkString(" ")
    val m0 = spark.read.parquet(s"$out/manifest.parquet").collect()
    val (docs0, toks0) = (m0.map(_.getLong(1)).sum, m0.map(_.getLong(2)).sum)
    val maxShard0 = m0.map(_.getInt(0)).max
    val maxRk0 = m0.map(_.getLong(4)).max

    val inc = Seq(
      (maxId + 1001L, "src_upsert", base.getString(1), reversed), // unique -> survives
      (maxId + 1002L, "src_upsert", base.getString(1), baseText), // verbatim corpus copy -> md5 probe drop
      (maxId + 1003L, "src_upsert", base.getString(1), nearCopy), // near copy -> index serve drop
      (maxId + 1004L, "src_upsert", base.getString(1), reversed)  // within-increment exact twin -> first-wins drop
    ).toDF("doc_id", "source", "lang", "text")
    val m1 = CorpusBuild.corpusUpsert(spark, out, inc).collect()

    assert(m1.length === m0.length + 1, "one survivor -> one new shard")
    val newRow = m1.filter(_.getInt(0) > maxShard0)
    assert(newRow.length === 1 && newRow(0).getInt(0) === maxShard0 + 1)
    assert(m1.map(_.getLong(1)).sum === docs0 + 1, "docs: published + the one survivor")
    val expToks = reversed.split(" ", -1).length.toLong
    assert(m1.map(_.getLong(2)).sum === toks0 + expToks)
    assert(newRow(0).getLong(3) === maxRk0 + 1, "rk continues after the published max")

    val written = spark.read.parquet(s"$out/shards.parquet")
      .filter(col("doc_id") === (maxId + 1001L)).collect()
    assert(written.length === 1, "exactly the unique doc appended")
    // pack cursor continuation: the appended doc's pack_id continues the
    // published (lang, lane) token cursor, the streaming keyed-state rule
    val w = written(0)
    val laneBase = shards.filter(r => r.getString(1) == w.getAs[String]("lang") &&
      r.getLong(2) == w.getAs[Long]("lane")).map(_.getLong(3)).sum
    assert(w.getAs[Long]("pack_id") === laneBase / graft.operators.TextOps.packBudget)

    // a later increment repeating the survivor's text dedups against the
    // APPENDED index entry: no-op, manifest unchanged
    val inc2 = Seq((maxId + 2001L, "src_upsert", base.getString(1), reversed))
      .toDF("doc_id", "source", "lang", "text")
    val m2 = CorpusBuild.corpusUpsert(spark, out, inc2).collect()
    assert(m2.length === m1.length, "repeat arrival must be dropped by the appended index")
    assert(m2.map(_.getLong(1)).sum === docs0 + 1)
  }

  test("crash between the manifest swap and the serve-tail appends: staleness detected and healed") {
    import spark.implicits._
    val (out, _) = build("staleidx")
    val shards0 = spark.read.parquet(s"$out/shards.parquet")
      .select("doc_id", "lang", "text").collect()
    val maxId = shards0.map(_.getLong(0)).max
    val base = shards0.maxBy(_.getLong(0))

    // increment 1 commits normally (bootstraps the index root, then
    // publishes its own batch)
    CorpusBuild.corpusUpsert(spark, out,
      Seq((maxId + 1001L, "src_stale", base.getString(1),
        base.getString(2).split(" ").reverse.mkString(" ")))
        .toDF("doc_id", "source", "lang", "text"))
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def committedMaxRk(): Long = spark.read.parquet(s"$out/manifest.parquet")
      .agg(org.apache.spark.sql.functions.max(col("max_rk"))).collect()(0).getLong(0)
    def coverage(): Option[Long] = CorpusBuild.indexCoverage(spark, s"$out/index")
    assert(coverage() === Some(committedMaxRk()),
      "a committed upsert's index batch must cover the committed manifest")

    // increment 2 commits, then we INJECT the crash-between-swap-and-
    // append state: manifest contains the increment, but the serve
    // index and lane cursors are rolled back to increment 1's
    // state (snapshot before, restore after — the exact on-disk shape
    // of a crash right after the manifest swap)
    def snap(name: String): Unit = {
      val src = new org.apache.hadoop.fs.Path(s"$out/$name")
      val dst = new org.apache.hadoop.fs.Path(s"$out/.snap-$name")
      fs.delete(dst, true)
      org.apache.hadoop.fs.FileUtil.copy(fs, src, fs, dst, false,
        spark.sparkContext.hadoopConfiguration)
    }
    def restore(name: String): Unit = {
      val src = new org.apache.hadoop.fs.Path(s"$out/.snap-$name")
      val dst = new org.apache.hadoop.fs.Path(s"$out/$name")
      fs.delete(dst, true)
      assert(fs.rename(src, dst))
    }
    Seq("index", "lanes.parquet").foreach(snap)
    val inc2Text = base.getString(2).split(" ").sorted.mkString(" ")
    CorpusBuild.corpusUpsert(spark, out,
      Seq((maxId + 2001L, "src_stale", base.getString(1), inc2Text))
        .toDF("doc_id", "source", "lang", "text"))
    Seq("index", "lanes.parquet").foreach(restore)
    assert(coverage().exists(_ < committedMaxRk()),
      "the injected state: index coverage behind the committed manifest")

    // a verbatim copy of increment 2's text must STILL be dropped: the
    // next upsert detects coverage < manifest, appends the missing
    // signatures and recomputes the cursors before serving
    val mBefore = spark.read.parquet(s"$out/manifest.parquet").collect()
    val mAfter = CorpusBuild.corpusUpsert(spark, out,
      Seq((maxId + 3001L, "src_stale", base.getString(1), inc2Text))
        .toDF("doc_id", "source", "lang", "text")).collect()
    assert(mAfter.length === mBefore.length,
      "the healed index must dedup a verbatim copy of the stale increment's doc")
    assert(mAfter.map(_.getLong(1)).sum === mBefore.map(_.getLong(1)).sum)

    // coverage re-aligned to the committed manifest; lane cursors equal
    // the committed corpus rollup (pure function of committed rows)
    assert(coverage() === Some(committedMaxRk()),
      "the heal must bring the index coverage to the committed manifest")
    val ids = spark.read.parquet(s"$out/manifest.parquet")
      .select("shard").collect().map(_.getInt(0))
    val expLanes = spark.read.parquet(s"$out/shards.parquet")
      .filter(col("shard").isin(ids.map(Integer.valueOf): _*))
      .groupBy(col("lang"), col("lane"))
      .agg(org.apache.spark.sql.functions.sum(col("toks")).as("lane_toks"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val gotLanes = spark.read.parquet(s"$out/lanes.parquet")
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(gotLanes === expLanes,
      "healed lane cursors must equal the committed-corpus rollup")
  }

  test("verdict chain is built once per (session, dir) and serves every consumer") {
    CorpusBuild.clearVerdictCache()
    val v1 = CorpusBuild.survivorVerdicts(spark, sf0001)
    val v2 = CorpusBuild.survivorVerdicts(spark, sf0001)
    assert(v1 eq v2,
      "census / manifest / write must share ONE verdict materialization")
    CorpusBuild.clearVerdictCache()
    val v3 = CorpusBuild.survivorVerdicts(spark, sf0001)
    assert(!(v1 eq v3), "clearVerdictCache must drop the session entry")
    assert(v3.count() === v1.count())
  }

  test("corpusCompact: generations fold to the canonical layout; content, orphans, cursors, serve") {
    // VERDICT r16 #4. Fixture: a published corpus + two upsert
    // generations (each appends one small shard with generation-local
    // ranks) + a hand-planted ORPHAN shard dir simulating a crash
    // before a manifest commit.
    import spark.implicits._
    val (out, mBase) = build("compact")
    val shards0 = spark.read.parquet(s"$out/shards.parquet")
      .select("doc_id", "lang", "toks", "text").collect()
    val maxId = shards0.map(_.getLong(0)).max
    val base = shards0.maxBy(r => (r.getLong(2), -r.getLong(0)))
    val lang = base.getString(1)
    def rev(t: String) = t.split(" ").reverse.mkString(" ")
    CorpusBuild.corpusUpsert(spark, out,
      Seq((maxId + 1001L, "src_c", lang, rev(base.getString(3))))
        .toDF("doc_id", "source", "lang", "text"))
    val base2 = shards0.filter(_.getLong(0) != base.getLong(0))
      .maxBy(r => (r.getLong(2), -r.getLong(0)))
    CorpusBuild.corpusUpsert(spark, out,
      Seq((maxId + 2001L, base2.getString(1), base2.getString(1), rev(base2.getString(3))))
        .toDF("doc_id", "source", "lang", "text"))
    // plant the orphan AFTER the upserts (id allocation would skip it)
    Seq((maxId + 9001L, "orphan", lang, 5L, 0L, 0L, 999L, rev(base.getString(3)) + " orphan"))
      .toDF("doc_id", "source", "lang", "toks", "lane", "pack_id", "rk", "text")
      .write.mode("overwrite").parquet(s"$out/shards.parquet/shard=9999")

    val manifest0 = spark.read.parquet(s"$out/manifest.parquet").collect()
    val committedIds = manifest0.map(_.getInt(0)).toSet
    def content(ids: Set[Int]) = spark.read.parquet(s"$out/shards.parquet")
      .filter(col("shard").isin(ids.toSeq.map(Integer.valueOf): _*))
      .select("doc_id", "source", "lang", "toks", "lane", "pack_id", "text").collect()
      .map(_.toSeq).sortBy(_.head.toString)
    val before = content(committedIds)
    assert(manifest0.length === mBase.length + 2,
      "fixture sanity: each upsert generation added one small shard")

    val m1 = CorpusBuild.corpusCompact(spark, out).collect()

    // canonical layout: nShards shards, global LPT rank replayed
    val written = spark.read.parquet(s"$out/shards.parquet")
      .select("doc_id", "toks", "rk", "shard").collect()
    assert(m1.map(_.getInt(0)).toSet === (0 until graft.operators.TextOps.nShards).toSet,
      "compacted manifest must hold exactly the canonical shard ids")
    val expRk = written.map(r => (r.getLong(0), r.getLong(1))).sortBy(t => (-t._2, t._1))
      .zipWithIndex.map { case ((id, _), i) => id -> (i + 1L) }.toMap
    written.foreach { r =>
      assert(r.getLong(2) === expRk(r.getLong(0)), s"global LPT rank must be replayed: $r")
      assert(r.getInt(3) === ((r.getLong(2) - 1) % graft.operators.TextOps.nShards).toInt,
        s"shard must follow (rk-1) mod nShards: $r")
    }
    // content multiset identical; the orphan is gone from disk
    val after = content(m1.map(_.getInt(0)).toSet)
    assert(after === before, "compaction must not change corpus content")
    assert(!new java.io.File(s"$out/shards.parquet/shard=9999").exists(),
      "the orphan shard dir must be collected by the publish swap")
    assert(!new java.io.File(Publish.tmpOf(out)).exists() &&
      !new java.io.File(Publish.oldOf(out)).exists(), "no staging leftovers")
    // manifest reconciles with the written data
    val recomputed = spark.read.parquet(s"$out/shards.parquet")
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n"), sum(col("toks")).as("t"),
        min(col("rk")).as("mn"), max(col("rk")).as("mx"),
        expr("bit_xor(xxhash64(doc_id, text))").as("sig"))
      .collect().map(r => r.getInt(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    m1.foreach { r =>
      assert(recomputed(r.getInt(0)) ===
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))),
        s"shard ${r.getInt(0)}: compacted manifest must round-trip from the data")
    }
    // serve structures survive: a verbatim copy dedups against the
    // rebuilt index, a novel doc lands with the preserved pack cursor
    val mRepeat = CorpusBuild.corpusUpsert(spark, out,
      Seq((maxId + 3001L, "src_c", lang, rev(base.getString(3))))
        .toDF("doc_id", "source", "lang", "text")).collect()
    assert(mRepeat.length === m1.length,
      "verbatim copy of a compacted doc must be dropped by the rebuilt index")
    val third = shards0.filter(r => r.getLong(0) != base.getLong(0) && r.getLong(0) != base2.getLong(0))
      .maxBy(r => (r.getLong(2), -r.getLong(0)))
    val mNovel = CorpusBuild.corpusUpsert(spark, out,
      Seq((maxId + 4001L, third.getString(1), third.getString(1), rev(third.getString(3))))
        .toDF("doc_id", "source", "lang", "text")).collect()
    assert(mNovel.length === m1.length + 1, "a novel doc must append one new shard")
    val w = spark.read.parquet(s"$out/shards.parquet")
      .filter(col("doc_id") === (maxId + 4001L)).collect()(0)
    val laneBase = spark.read.parquet(s"$out/shards.parquet")
      .filter(col("doc_id") =!= (maxId + 4001L) &&
        col("lang") === w.getAs[String]("lang") && col("lane") === w.getAs[Long]("lane"))
      .agg(sum(col("toks"))).collect()(0).getLong(0)
    assert(w.getAs[Long]("pack_id") === laneBase / graft.operators.TextOps.packBudget,
      "pack cursor must continue from the compaction-preserved lane table")
  }

  test("crash between the manifest swap's renames: recovery restores the committed corpus") {
    // Crash injection. The publish swap's two renames are
    // (1) manifest -> oldOf(manifest), (2) tmpOf(manifest) -> manifest.
    // A kill between them leaves NO manifest on disk plus the
    // data-first orphan shard the dying upsert had already appended.
    // The next upsert must heal to exactly the committed corpus:
    // old manifest restored, orphan text invisible AND unindexed.
    import spark.implicits._
    val (out, _) = build("crashm")
    val shards0 = spark.read.parquet(s"$out/shards.parquet")
      .select("doc_id", "lang", "toks", "text").collect()
    val maxId = shards0.map(_.getLong(0)).max
    val base = shards0.maxBy(r => (r.getLong(2), -r.getLong(0)))
    def rev(t: String) = t.split(" ").reverse.mkString(" ")
    CorpusBuild.corpusUpsert(spark, out,
      Seq((maxId + 1001L, "src_x", base.getString(1), rev(base.getString(3))))
        .toDF("doc_id", "source", "lang", "text"))
    val committed = spark.read.parquet(s"$out/manifest.parquet").collect()
      .map(_.toSeq).toSet

    // inject the between-renames state of a dying second upsert
    val maxShard = committed.map(_(0).asInstanceOf[Int]).max
    val orphanText = rev(shards0.filter(_.getLong(0) != base.getLong(0))
      .maxBy(r => (r.getLong(2), -r.getLong(0))).getString(3))
    Seq((maxId + 2001L, "orphan", base.getString(1),
        orphanText.split(" ").length.toLong, 0L, 0L, 99999L, orphanText))
      .toDF("doc_id", "source", "lang", "toks", "lane", "pack_id", "rk", "text")
      .write.mode("overwrite").parquet(s"$out/shards.parquet/shard=${maxShard + 1}")
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val manifest = s"$out/manifest.parquet"
    assert(fs.rename(new org.apache.hadoop.fs.Path(manifest),
      new org.apache.hadoop.fs.Path(Publish.oldOf(manifest))))
    spark.read.parquet(s"$out/shards.parquet") // would-be manifest incl. the orphan
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("n_tokens"),
        min(col("rk")).as("min_rk"), max(col("rk")).as("max_rk"),
        expr("bit_xor(xxhash64(doc_id, text))").as("content_sig"))
      .coalesce(1).write.mode("overwrite").parquet(Publish.tmpOf(manifest))

    // next upsert: heals, commits its own survivor, never sees the orphan
    val third = shards0
      .filter(r => rev(r.getString(3)) != rev(base.getString(3)) &&
        rev(r.getString(3)) != orphanText)
      .maxBy(r => (r.getLong(2), -r.getLong(0)))
    val m2 = CorpusBuild.corpusUpsert(spark, out,
      Seq((maxId + 3001L, "src_x", third.getString(1), rev(third.getString(3))))
        .toDF("doc_id", "source", "lang", "text")).collect()
    assert(m2.map(_.toSeq).toSet.intersect(committed) === committed,
      "the restored manifest must carry every committed row unchanged")
    assert(m2.length === committed.size + 1, "plus exactly the new survivor's shard")
    assert(!m2.exists(_.getLong(4) === 99999L), "the orphan rank must never be committed")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(Publish.oldOf(manifest))) &&
      !fs.exists(new org.apache.hadoop.fs.Path(Publish.tmpOf(manifest))),
      "recovery must clean the staging leftovers")
    // the orphan was never indexed: the same text arriving later SURVIVES
    val m3 = CorpusBuild.corpusUpsert(spark, out,
      Seq((maxId + 4001L, "src_x", base.getString(1), orphanText))
        .toDF("doc_id", "source", "lang", "text")).collect()
    assert(m3.length === m2.length + 1,
      "orphan text must not have been indexed by the crashed generation")
  }

  test("crash between the compact swap's renames: the original corpus wins") {
    import spark.implicits._
    val (out, _) = build("crashc")
    val shards0 = spark.read.parquet(s"$out/shards.parquet")
      .select("doc_id", "lang", "toks", "text").collect()
    val maxId = shards0.map(_.getLong(0)).max
    val base = shards0.maxBy(r => (r.getLong(2), -r.getLong(0)))
    def rev(t: String) = t.split(" ").reverse.mkString(" ")
    CorpusBuild.corpusUpsert(spark, out,
      Seq((maxId + 1001L, "src_y", base.getString(1), rev(base.getString(3))))
        .toDF("doc_id", "source", "lang", "text"))
    val committed = spark.read.parquet(s"$out/manifest.parquet").collect()
      .map(_.toSeq).toSet
    // between-renames state of a dying corpusCompact: the whole corpus
    // parked at oldOf(out), a fully staged rewrite at tmpOf(out)
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(out),
      new org.apache.hadoop.fs.Path(Publish.oldOf(out))))
    fs.mkdirs(new org.apache.hadoop.fs.Path(Publish.tmpOf(out) + "/shards.parquet"))
    val third = shards0.filter(_.getLong(0) != base.getLong(0))
      .maxBy(r => (r.getLong(2), -r.getLong(0)))
    val m2 = CorpusBuild.corpusUpsert(spark, out,
      Seq((maxId + 2001L, "src_y", third.getString(1), rev(third.getString(3))))
        .toDF("doc_id", "source", "lang", "text")).collect()
    assert(m2.map(_.toSeq).toSet.intersect(committed) === committed,
      "the parked corpus must be restored verbatim before the upsert")
    assert(m2.length === committed.size + 1)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(Publish.oldOf(out))) &&
      !fs.exists(new org.apache.hadoop.fs.Path(Publish.tmpOf(out))),
      "recovery must clean the compact staging leftovers")
  }

  test("auto-compaction: the upsert folds the layout once past the policy bound") {
    import spark.implicits._
    val (out, mBase) = build("autoc")
    val shards0 = spark.read.parquet(s"$out/shards.parquet")
      .select("doc_id", "lang", "toks", "text").collect()
    val maxId = shards0.map(_.getLong(0)).max
    def rev(t: String) = t.split(" ").reverse.mkString(" ")
    val bases = shards0.sortBy(r => (-r.getLong(2), r.getLong(0))).take(3)
    val bound = mBase.length + 2 // trigger on the third generation
    var n = spark.read.parquet(s"$out/manifest.parquet").count()
    bases.zipWithIndex.foreach { case (b, i) =>
      val m = CorpusBuild.corpusUpsert(spark, out,
        Seq((maxId + 1001L + i, "src_z", b.getString(1), rev(b.getString(3))))
          .toDF("doc_id", "source", "lang", "text"), compactAfter = bound)
      n = m.count()
    }
    assert(n === graft.operators.TextOps.nShards.toLong,
      "the third generation must trip the policy and return the canonical layout")
    val written = spark.read.parquet(s"$out/shards.parquet")
    assert(written.select("shard").distinct().count() === graft.operators.TextOps.nShards.toLong)
    assert(written.count() === shards0.length.toLong + 3,
      "compaction must preserve every committed row (base + 3 survivors)")
  }

  test("safety-blocked documents never reach the published shards (VERDICT r19 #2)") {
    // the 2-category escalation doc passes lang-ID and quality but must
    // die at the funnel's new safety stage — and with it, the WRITE:
    // a corpus built through the composition ships zero blocked docs
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "a perfectly ordinary sentence with enough words here to pass"),
      (3L, "the damn weapon sat on the table next to the door"))
    val dir = docsDir(docs)
    val out = tempDir("safe-shards") + "/corpus"
    CorpusBuild.corpusWrite(spark, dir, out)
    val written = spark.read.parquet(s"$out/shards.parquet").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(written === Set(1L, 2L), s"blocked doc 3 must not be shipped: $written")
    val census = CorpusBuild.qCorpusBuild(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(4)))).toMap
    assert(census(4L) === (("quality", 3L, 0L)), "all three docs pass quality")
    assert(census(5L) === (("safety", 2L, 1L)),
      "safety stage: 2 survivors, exactly the planted doc dropped")
  }
}
