package graft

import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** Planted-duplicate detection tests for the dedup family. The
  * sf-table queries are rows-only checked by the driver; these specs
  * prove the operators actually *detect* dups on controlled input.
  */
class DedupSpec extends SparkSpec {

  test("q_entity_match: pairs stay in-block, banded distance equals a local DP") {
    import org.apache.spark.sql.functions.col
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (j == 0) i else if (i == 0) j else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val cust = graft.sources.Ingest.table(spark, sf0001, "customer")
      .select("c_custkey", "c_name", "c_nationkey", "c_mktsegment").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getInt(2), r.getString(3))).toMap
    val rows = graft.operators.Dedup.qEntityMatch(spark, sf0001).collect()
    assert(rows.nonEmpty, "sf0.001 must produce candidate links")
    rows.foreach { r =>
      val (nat, seg) = (r.getInt(0), r.getString(1))
      val (a, b, d) = (r.getLong(2), r.getLong(3), r.getInt(4))
      val (na, nata, sega) = cust(a)
      val (nb, natb, segb) = cust(b)
      assert(a < b, s"pair must be ordered: $r")
      assert(nata === nat && natb === nat && sega === seg && segb === seg,
        s"both members must live in the reported block: $r")
      assert(d === lev(na, nb), s"banded distance must equal the full DP: $r")
      assert(d >= 1 &&
        (d <= graft.operators.Dedup.EntityMaxDist ||
          d === graft.operators.Dedup.EntitySndDist))
    }
    // completeness within one spot-checked block: every ed ≤ 2 pair of
    // the block is reported (pass-1 full recall); any extra rows are
    // the window-conditional ed-3 tier (pass 2)
    val (nat0, seg0) = (rows.head.getInt(0), rows.head.getString(1))
    val block = cust.toSeq.collect { case (k, (nm, n, s)) if n == nat0 && s == seg0 => (k, nm) }
    val expect = (for {
      (ka, na) <- block; (kb, nb) <- block
      if ka < kb && lev(na, nb) <= graft.operators.Dedup.EntityMaxDist
    } yield (ka, kb)).toSet
    val got = rows.filter(r => r.getInt(0) == nat0 && r.getString(1) == seg0)
    val got2 = got.filter(_.getInt(4) <= graft.operators.Dedup.EntityMaxDist)
      .map(r => (r.getLong(2), r.getLong(3))).toSet
    assert(got2 === expect, s"block ($nat0,$seg0) must report exactly the ed≤2 pairs")
    assert(got.filterNot(_.getInt(4) <= graft.operators.Dedup.EntityMaxDist)
      .forall(_.getInt(4) === graft.operators.Dedup.EntitySndDist),
      "every extra pair must be the pass-2 ed-3 tier")
  }

  test("q_entity_match blocking: per-block population bounded, candidate volume linear in N") {
    // VERDICT r10/r11: the old (nation × mktsegment) blocking had FIXED
    // cardinality 125, so per-block population was N/125 (linear in N)
    // and candidate pairs O(N²/125). The deletion-signature block key's
    // cardinality grows with the number of distinct names, so the worst
    // block must stay FAR below N/125-scaling and the distinct candidate
    // volume must stay a small multiple of N (measured: max block 4 /
    // 72 candidates at N=150; max block 14 / ~9.3·N at N=15000 — the
    // old scheme's sf0.1 candidate volume was ~60·N and growing with N).
    val sfDirs = Seq(sf0001, "/root/testdata/sf0.01")
    sfDirs.foreach { d =>
      val c = graft.sources.Ingest.table(spark, d, "customer")
        .select("c_custkey", "c_name", "c_nationkey", "c_mktsegment")
      val n = c.count()
      val sigs = c.select(col("c_custkey"), col("c_nationkey"), col("c_mktsegment"),
        explode(graft.functions.DeletionHashes.column(col("c_name"), Dedup.EntityMaxDist)).as("sig"))
      val maxBlock = sigs.groupBy("sig", "c_nationkey", "c_mktsegment")
        .count().agg(max("count")).collect()(0).getLong(0)
      assert(maxBlock <= 32,
        s"$d: worst deletion-signature block $maxBlock exceeds the collision-density bound")
      val nCand = Dedup.entityMatchCandidates(c).count()
      assert(nCand <= 20 * n,
        s"$d: candidate volume $nCand exceeds 20·N (N=$n) — blocking is degenerating")
    }
  }

  test("q_entity_match candidates cover every verified match pair (pigeonhole recall)") {
    val c = graft.sources.Ingest.table(spark, sf0001, "customer")
      .select("c_custkey", "c_name", "c_nationkey", "c_mktsegment")
    val cand = Dedup.entityMatchCandidates(c)
      .select(col("cust_a"), col("cust_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val matches = Dedup.qEntityMatch(spark, sf0001).collect()
      .filter(_.getInt(4) <= Dedup.EntityMaxDist) // pass-1 tier only:
      // ed-3 pairs come from the sorted-neighborhood pass by design
      .map(r => (r.getLong(2), r.getLong(3)))
    matches.foreach { p =>
      assert(cand.contains(p), s"match pair $p missing from the candidate set")
    }
  }

  // ~160-word base text (40 words × 4); nearDup differs in ONE word
  // occurrence → 3 of ~158 word-3gram shingles change (J ≈ 0.96,
  // simhash hamming small and stable).
  private val words40 = ("alpha bravo charlie delta echo foxtrot golf hotel india juliet " +
    "kilo lima mike november oscar papa quebec romeo sierra tango " +
    "uniform victor whiskey xray yankee zulu one two three four " +
    "five six seven eight nine ten eleven twelve thirteen fourteen")
  private val base = Seq.fill(4)(words40).mkString(" ")
  private val nearDup = base.replaceFirst("oscar", "doctor")
  private val unrelated1 = "red green blue cyan magenta yellow black white gray pink " +
    "orange purple brown teal navy olive maroon silver gold bronze"
  private val unrelated2 = "monday tuesday wednesday thursday friday saturday sunday " +
    "january february march april may june july august september october november december"

  private lazy val dir = docsDir(Seq(
    1L -> base, 2L -> nearDup, 3L -> unrelated1, 4L -> unrelated2,
    5L -> "Alpha  Bravo CHARLIE", 6L -> "alpha bravo charlie"))

  test("exact dedup groups case/whitespace-normalized duplicates, min-id survivor") {
    val got = Dedup.qDedupExact(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3), r.getBoolean(4))).toMap
    assert(got(5L) === ((2L, 5L, false)), "doc 5 survives (min id of its group)")
    assert(got(6L) === ((2L, 5L, true)), "doc 6 is the duplicate")
    assert(got(1L)._1 === 1L, "near-dup is NOT an exact dup")
  }

  test("minhash LSH finds the planted near-dup pair and nothing else") {
    val pairs = Dedup.qDedupMinhash(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.exists { case (a, b, j) => a == 1L && b == 2L && j > 0.8 },
      s"planted pair (1,2) must surface, got ${pairs.mkString(",")}")
    assert(pairs.forall { case (a, b, _) => Set(a, b).subsetOf(Set(1L, 2L)) },
      s"no unrelated pair may pass the 0.5 threshold, got ${pairs.mkString(",")}")
  }

  test("simhash banding finds the planted near-dup with small hamming") {
    val pairs = Dedup.qDedupSimhash(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.exists { case (a, b, h) => a == 1L && b == 2L && h <= 7 },
      s"planted pair (1,2) must surface, got ${pairs.mkString(",")}")
  }

  test("char n-gram jaccard verifies the planted pair above threshold") {
    val pairs = Dedup.qNgramJaccard(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.exists { case (a, b, j) => a == 1L && b == 2L && j > 0.6 },
      s"planted pair (1,2) must surface, got ${pairs.mkString(",")}")
  }

  test("hot-bucket cap salt-samples degenerate buckets, keeps normal ones intact") {
    val s = spark
    import s.implicits._
    // 50 docs colliding in one bucket (degenerate), 2 in another
    val bandRows = ((1L to 50L).map(id => (id, 0, 777L)) ++ Seq((100L, 0, 42L), (101L, 0, 42L)))
      .toDF("doc_id", "band", "bucket")
    val pairs = graft.operators.Dedup.candidatePairs(bandRows, hotBucketCap = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.contains((100L, 101L)), "the under-cap bucket keeps all its pairs")
    val hotPairs = pairs.filter { case (a, b) => a <= 50L && b <= 50L }
    // 50 members, cap 10 → 5 salt splits: pairs are SAMPLED, not zeroed
    // (salted fallback, VERDICT r3 #8) and never quadratic: expected
    // ~C(50,2)/5 = 245, hard-bounded by 5 * C(~10 avg, 2)-ish growth —
    // assert well under the 1225 uncapped pairs AND non-empty.
    assert(hotPairs.nonEmpty, "a capped bucket must still yield sampled pairs")
    assert(hotPairs.length < 1225 / 2,
      s"sampling must cut quadratic pair volume, got ${hotPairs.length} of 1225")
  }

  test("cappedBucketStats surfaces what the cap touched") {
    val s = spark
    import s.implicits._
    val bandRows = ((1L to 50L).map(id => (id, 0, 777L)) ++ Seq((100L, 0, 42L), (101L, 0, 42L)))
      .toDF("doc_id", "band", "bucket")
    val st = graft.operators.Dedup.cappedBucketStats(bandRows, hotBucketCap = 10).collect()(0)
    assert(st.getLong(0) === 1L, "one bucket over the cap")
    assert(st.getLong(1) === 50L, "50 members in capped buckets")
    assert(math.abs(st.getDouble(2) - 0.2) < 1e-9, "50/cap10 → 5 splits → 1/5 sample rate")
    val none = graft.operators.Dedup.cappedBucketStats(bandRows, hotBucketCap = 1000).collect()(0)
    assert(none.getLong(0) === 0L && none.getLong(1) === 0L, "nothing capped → zeros")
  }

  test("connectedComponents: transitive closure with min-id labels") {
    val s = spark
    import s.implicits._
    // chain 1-2-3 (3 only reachable transitively), separate pair 7-8
    val edges = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 8L -> 7L))
    // a 12-node path needs 11 hops: the seed round plus 3 rounds cannot
    // reach node 12, so the call must refuse rather than return labels
    val path = (1L until 12L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    intercept[IllegalStateException](Dedup.connectedComponents(path, maxIter = 3))
    val whole = Dedup.connectedComponents(path).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(whole === (1L to 12L).map(_ -> 1L).toMap,
      "under the default bound the path is one component labeled 1")
  }

  test("q_dedup_clusters: planted near-dups cluster, singletons survive alone") {
    val rows = Dedup.qDedupClusters(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(rows(1L) === ((1L, 2L, true)), "doc 1 is the cluster-1 survivor")
    assert(rows(2L) === ((1L, 2L, false)), "doc 2 is clustered under 1, not a survivor")
    assert(rows(3L) === ((3L, 1L, true)), "unrelated doc is its own singleton survivor")
    assert(rows.size === 6, "every document gets a verdict row")
  }

  test("containment dedup flags a doc embedded in a longer one that Jaccard banding misses") {
    val small = "unusual proton gradient measurement station delta reading seven"
    val filler = (1 to 40).map(i => s"filler$i").mkString(" ")
    val dir = docsDir(Seq(
      1L -> small,
      2L -> s"$filler $small", // contains doc 1 verbatim; Jaccard ≈ 0.15
      3L -> "completely unrelated words about parquet pruning and shuffles",
      4L -> (1 to 30).map(i => s"other$i").mkString(" ")))
    val got = Dedup.qDedupContainment(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(5))).toSeq
    assert(got.exists { case (a, b, c) => a == 1L && b == 2L && c >= 0.99 },
      s"the embedded doc must be flagged fully contained, got $got")
    assert(got.forall { case (a, b, _) => (a, b) == (1L, 2L) },
      s"no other pair is contained: $got")
    // the symmetric-Jaccard path must NOT see this pair (that's the
    // point of the containment family member)
    val j = Dedup.qDedupMinhash(spark, dir).collect()
    assert(!j.exists(r => r.getLong(0) == 1L && r.getLong(1) == 2L),
      "minhash banding at J>=0.6 must miss the low-Jaccard contained pair")
  }

  test("incrementalDedup: arrivals dedup against the persisted index, corpus never shuffles") {
    val s = spark
    import s.implicits._
    val corpus = docsDir(Seq(
      1L -> "the quick brown fox jumps over the lazy dog near the river bank today",
      2L -> "completely different content about spark partitions and shuffle behavior",
      3L -> "a third unrelated document mentioning parquet files and column pruning"))
    val idx = tempDir("dedup-idx")
    Dedup.buildDedupIndex(spark, corpus, idx)

    val arrivals = Seq(
      // near-dup of corpus doc 1 (one word changed)
      10L -> "the quick brown fox jumps over the lazy dog near the river bank tonight",
      // genuinely new
      11L -> "entirely novel text with no overlap whatsoever in any shingle window"
    ).toDF("doc_id", "text")

    val served = Dedup.incrementalDedup(spark, idx, arrivals)
    val got = served.collect().map(r => r.getLong(0) -> r).toMap
    assert(got.size === 2, "one verdict per arrival")
    assert(got(10L).getBoolean(1) && got(10L).getLong(2) === 1L,
      "the near-dup arrival must match corpus doc 1")
    assert(got(10L).getDouble(3) >= 0.6, "planted pair sits above the verify threshold")
    assert(!got(11L).getBoolean(1) && got(11L).isNullAt(2),
      "the novel arrival must pass clean")

    // serve-plan contract: the index side is probed by broadcasts —
    // it must never hash-shuffle (that would re-partition the corpus
    // per increment)
    // the rendered AQE plan appends the pre-adaptive "Initial Plan" —
    // judge the FINAL plan only
    val p = served.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!p.contains("SortMergeJoin"),
      s"increment joins must broadcast, never sort-merge the index:\n$p")
    // under the row cap the hints FORCE the map-only serve plan — this
    // is the guaranteed fast path for increment ≪ corpus
    assert(p.linesIterator.count(_.contains("BroadcastHashJoin")) >= 3,
      s"band probe, sig fetch and verify must all be broadcast joins:\n$p")

    // over the row cap the hints are dropped — an un-demotable
    // broadcast of a huge increment would OOM executors, so the join
    // strategy is left to Catalyst/AQE size estimates
    spark.conf.set("spark.graft.dedup.broadcastIncrementMaxRows", "0")
    try {
      val unhinted = Dedup.incrementalDedup(spark, idx, arrivals)
      assert(!unhinted.queryExecution.analyzed.toString.contains("hint"),
        "over-cap serve must carry no broadcast hints")
      val gotU = unhinted.collect().map(r => r.getLong(0) -> r).toMap
      assert(gotU(10L).getBoolean(1) && gotU(10L).getLong(2) === 1L &&
        !gotU(11L).getBoolean(1),
        "verdicts are identical with and without the forced-broadcast path")
    } finally spark.conf.unset("spark.graft.dedup.broadcastIncrementMaxRows")
  }

  test("appendDedupIndex: a replayed append re-publishes one batch; rows and serve unchanged") {
    val s = spark
    import s.implicits._
    val corpus = docsDir(Seq(
      1L -> "the quick brown fox jumps over the lazy dog near the river bank today",
      2L -> "completely different content about spark partitions and shuffle behavior"))
    val idx = tempDir("dedup-replay") + "/idx"
    Dedup.buildDedupIndex(spark, corpus, idx)
    val increment = Seq(
      10L -> "a third unrelated document mentioning parquet files and column pruning",
      11L -> "entirely novel text with no overlap whatsoever in any shingle window")
      .toDF("doc_id", "text")
    val arrivals = Seq(
      20L -> "a third unrelated document mentioning parquet files and column pruning again",
      21L -> "the quick brown fox jumps over the lazy dog near the river bank tonight")
      .toDF("doc_id", "text")
    def state() = (graft.plans.Publish.batches(spark, idx).map(_._1),
      Dedup.readDedupIndex(spark, idx, "sig").count(),
      Dedup.incrementalDedup(spark, idx, arrivals).collect().map(_.toSeq).toSet)
    Dedup.appendDedupIndex(increment, idx, 10L)
    val once = state()
    assert(once._1 === Seq(10L) && once._2 === 4L, "one batch of two signatures over the root")
    // a re-delivered increment (at-least-once streaming) publishes the same batch
    Dedup.appendDedupIndex(increment, idx, 10L)
    assert(state() === once, "a replay must leave the index and its serve unchanged")
  }

  test("embedding LSH dedup flags planted near-identical vectors") {
    val s = spark
    import s.implicits._
    val tmp = tempDir("emb")
    val rnd = new scala.util.Random(99)
    def vec(): Array[Float] = Array.fill(64)(rnd.nextGaussian().toFloat)
    val v1 = vec()
    val v1b = v1.map(x => x + 0.001f) // near-identical: cosine ≈ 1
    val rows = Seq((0L, v1.toSeq, 0), (1L, v1b.toSeq, 0)) ++
      (2L to 19L).map(i => (i, vec().toSeq, 1))
    rows.toDF("vec_id", "embedding", "label")
      .withColumn("embedding", col("embedding").cast("array<float>"))
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    val got = Dedup.qDedupEmbedding(spark, tmp).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(got.size === 20, "per-vector output: one row per vector")
    val r0 = got(0L)
    assert(!r0.isNullAt(3) && r0.getLong(3) === 1L, "vec 0's best mate must be vec 1")
    assert(r0.getDouble(4) > 0.99, "near-identical cosine")
    assert(r0.getBoolean(5), "is_dup must flag the planted pair")
  }

  test("prefixMd5 and contentMd5 agree on whitespace-insensitivity (normalization contract)") {
    val s = spark
    import s.implicits._
    val base = (1 to 40).map(i => s"word$i").mkString(" ")
    val variants = Seq(
      base,
      base.replace(" ", "\t"),
      base.replace(" ", "\n"),
      base.replace(" ", "   "),
      "  " + base.toUpperCase + "\t\n")
    val hashed = variants.toDF("text")
      .select(
        graft.operators.Dedup.contentMd5(col("text")).as("c"),
        graft.operators.Dedup.prefixMd5(col("text")).as("p"))
      .collect()
    assert(hashed.map(_.getString(1)).distinct.length === 1,
      "all whitespace/case variants share one prefix hash")
    // content hash: \s+ collapses but leading whitespace leaves one
    // residual space, so the leading-" " variant hashes apart — the
    // prefix key is strictly coarser (its empty-token filter eats it)
    assert(hashed.map(_.getString(0)).distinct.length === 2,
      "content hash distinguishes the leading-whitespace variant")
    // therefore the invariant direction that matters: equal content
    // hash => equal prefix hash, never the reverse
    hashed.groupBy(_.getString(0)).foreach { case (_, rows) =>
      assert(rows.map(_.getString(1)).distinct.length === 1,
        "exact-dup variants must share one prefix family")
    }
  }

  test("prefix dedup: shared-header pages family together; exact dedup misses them") {
    val header = (1 to 32).map(i => s"boiler$i").mkString(" ")
    val dir = docsDir(Seq(
      1L -> s"$header and now a completely original article body",
      2L -> s"$header followed by some entirely different tail text",
      3L -> "no shared header here at all just ordinary content"))
    val pfx = Dedup.qPrefixDedup(spark, dir).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(pfx(1L).getLong(2) === 2L && pfx(2L).getLong(2) === 2L,
      "the two boilerplate docs form one family")
    assert(!pfx(1L).getBoolean(4) && pfx(1L).getLong(3) === 1L,
      "min-id doc survives")
    assert(pfx(2L).getBoolean(4) && pfx(2L).getLong(3) === 1L,
      "the later doc is the prefix dup")
    assert(pfx(3L).getLong(2) === 1L && !pfx(3L).getBoolean(4),
      "the unrelated doc is its own family")
    // the capability gap this query exists for: whole-content hashing
    // sees three distinct documents
    val exact = Dedup.qDedupExact(spark, dir).collect()
    assert(exact.forall(!_.getBoolean(4)), "exact dedup must NOT flag prefix-only dups")
  }

  test("q_lsh_bucket_stats: per-band census conserves the corpus and sizes the candidate join") {
    import graft.functions.WordNgramMinHash
    val d = graft.sources.Ingest.table(spark, sf0001, "documents")
    val nDocs = d.count()
    val r = Dedup.qLshBucketStats(spark, sf0001).collect()
    assert(r.length === Dedup.IdxBands, "one census row per band")
    assert(r.map(_.getInt(0)).sorted.toSeq === (0 until Dedup.IdxBands),
      "band keys are the banding's 0..bands-1")
    r.foreach { row =>
      assert(row.getLong(2) === nDocs,
        s"band ${row.getInt(0)}: every doc lands in exactly one bucket")
      assert(row.getLong(1) >= row.getLong(4), "singletons are a subset of buckets")
      assert(row.getLong(3) <= 1000L,
        "max bucket must stay under the salt cap the whole banded family assumes")
    }
    // Σ over bands of per-bucket pair mass ≥ the DISTINCT candidate
    // set the dedup join emits (a pair colliding in k bands is counted
    // k times here, once there) — the audit is an upper work estimate.
    val sig = d.select(col("doc_id"),
      WordNgramMinHash.column(col("text"), Dedup.IdxNgram, Dedup.IdxK,
        Dedup.IdxSeed).as("sig_arr"))
    val nCand = Dedup.candidatePairs(
      Dedup.sigBandRows(sig, Dedup.IdxBands, Dedup.IdxRows)).count()
    assert(r.map(_.getLong(5)).sum >= nCand,
      "per-band pair mass must bound the distinct candidate count")
  }

  test("oracle equivalence precondition: no signature bucket tops the salt cap at oracle scales") {
    // The banded-family DuckDB oracles join on signature-SLICE equality
    // and skip the hot-bucket salt entirely — valid only while every
    // (band, bucket) group stays at or under candidatePairs' default
    // cap (salt = pmod(x, 1) = 0 → pair set unchanged). If corpus
    // growth or a testdata refresh ever breaks this, the oracles would
    // silently diverge from the salted Spark plan — fail HERE instead.
    import graft.functions.{WordNgramMinHash, CharNgramFunctions}
    for (dir <- Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1")) {
      val d = graft.sources.Ingest.table(spark, dir, "documents")
      val sigs = Seq(
        "word" -> d.select(col("doc_id"),
          WordNgramMinHash.column(col("text"), 3, 64, 0x5EED0001L).as("sig_arr")),
        "char" -> d.select(col("doc_id"),
          CharNgramFunctions.charMinHash(col("text"), 6, 64, 0x5EED0002L).as("sig_arr")))
      for ((name, sig) <- sigs) {
        val maxB = Dedup.sigBandRows(sig, 16, 4)
          .groupBy("band", "bucket").count()
          .agg(max("count")).collect()(0).getLong(0)
        assert(maxB <= 1000,
          s"$name-gram bucket of $maxB members tops the 1000 salt cap at $dir — " +
            "the minhash oracles' slice-equality assumption no longer holds")
      }
      // the banding-curve battery bands the same word signature at
      // every (b, r) factorization — its oracle needs the precondition
      // at each config, over the CANONICAL reps the curve scans
      // (finest configs have the fattest buckets: 2-slot slices)
      val repSig = d.groupBy(col("text")).agg(min(col("doc_id")).as("doc_id"))
        .select(col("doc_id"),
          WordNgramMinHash.column(col("text"), 3, 64, 0x5EED0001L).as("sig_arr"))
      for ((b, r) <- Seq((4, 16), (8, 8), (16, 4), (32, 2))) {
        val maxB = Dedup.sigBandRows(repSig, b, r)
          .groupBy("band", "bucket").count()
          .agg(max("count")).collect()(0).getLong(0)
        assert(maxB <= 1000,
          s"banding-curve ($b x $r) bucket of $maxB canonical reps tops the salt cap at $dir")
      }
    }
  }

  test("q_banding_curve: nested bandings — monotone candidates/recall, truth equals brute force") {
    val got = Dedup.qBandingCurve(spark, sf0001).collect()
    assert(got.map(r => (r.getLong(0), r.getLong(1))).toSeq ===
      Seq((4L, 16L), (8L, 8L), (16L, 4L), (32L, 2L)))
    val nTruth = got.map(_.getLong(4)).distinct
    assert(nTruth.length === 1, "one shared truth across the battery")
    // halving rows refines bands: a pair matching a 2r-slot band matches
    // both its r-slot halves, so candidate and hit sets are NESTED
    val cand = got.map(_.getLong(2))
    val hits = got.map(_.getLong(3))
    assert(cand.sliding(2).forall(a => a(0) <= a(1)), s"candidates monotone: ${cand.toSeq}")
    assert(hits.sliding(2).forall(a => a(0) <= a(1)), s"hits monotone: ${hits.toSeq}")
    assert(got.last.getLong(3) === nTruth.head && got.last.getLong(5) === 10000L,
      "the finest banding generates the union truth (recall 1 by construction)")
    got.foreach { r =>
      assert(r.getLong(3) <= r.getLong(2), "hits bounded by candidates")
      assert(r.getLong(5) === (if (nTruth.head == 0) 0L else r.getLong(3) * 10000L / nTruth.head))
      assert(r.getLong(6) === (if (r.getLong(2) == 0) 0L else r.getLong(3) * 10000L / r.getLong(2)))
    }
    // brute force at this scale: every distinct-text pair's exact
    // word-3-gram Jaccard — the union truth must equal the all-pairs
    // >=0.6 set (no true pair escapes all four bandings here)
    import graft.functions.WordNgramHashes
    val reps = graft.sources.Ingest.table(spark, sf0001, "documents")
      .groupBy(col("text")).agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"), WordNgramHashes.column(col("text"), 3).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toArray)
    val bf = (for {
      i <- reps.indices; j <- (i + 1) until reps.length
      if graft.functions.SortedJaccard.jaccard(reps(i)._2, reps(j)._2) >= 0.6
    } yield 1).size.toLong
    assert(nTruth.head === bf,
      s"union truth ${nTruth.head} must equal the brute-force >=threshold pair count $bf")
  }

  test("incrementalDedup under a degenerate hot family: candidates linear, verdicts exact") {
    // VERDICT r12 #7 (small-scale twin of graft.StressDedup): one
    // content hash dominating the corpus puts the WHOLE family in one
    // LSH bucket per band. The serve path joins arrivals against the
    // index bands — candidates per colliding arrival are |family|
    // (linear), never the |family|² a self-join would pay, and the
    // verdict must still name the family's min-id survivor exactly.
    val s = spark
    import s.implicits._
    val hotFamily = (1L to 40L).map(_ -> base)
    val distinct = (100L to 109L).map(i =>
      i -> (s"standalone document $i carrying tokens ${i * 7} ${i * 13} ${i * 17} " +
        s"plus filler vocabulary item${i}a item${i}b item${i}c item${i}d item${i}e"))
    val dir = docsDir(hotFamily ++ distinct)
    val idx = tempDir("hot-idx")
    Dedup.buildDedupIndex(spark, dir, idx)

    val arrivals = Seq(
      500L -> base, 501L -> base,
      502L -> "entirely novel arrival text with zero shingle overlap against anything indexed"
    ).toDF("doc_id", "text")
    val served = Dedup.incrementalDedup(spark, idx, arrivals).collect()
      .map(r => r.getLong(0) -> r).toMap
    for (id <- Seq(500L, 501L)) {
      assert(served(id).getBoolean(1) && served(id).getLong(2) === 1L,
        s"hot arrival $id must dedup to the family's min-id survivor")
      assert(served(id).getDouble(3) >= 0.999, "identical text must verify at Jaccard 1")
    }
    assert(!served(502L).getBoolean(1), "the novel arrival must pass clean")

    // Linearity witness: recompute the serve plan's candidate join from
    // the persisted band table. Each hot arrival collides with all 40
    // family members (and nothing else); the novel arrival with nobody.
    import graft.functions.WordNgramMinHash
    val nsig = arrivals.select(col("doc_id"),
      WordNgramMinHash.column(col("text"), Dedup.IdxNgram, Dedup.IdxK, Dedup.IdxSeed)
        .as("sig_arr"))
    val cand = spark.read.parquet(s"$idx/bands")
      .join(Dedup.sigBandRows(nsig, Dedup.IdxBands, Dedup.IdxRows)
        .select(col("doc_id").as("id_new"), col("band"), col("bucket")),
        Seq("band", "bucket"))
      .select(col("doc_id").as("id_old"), col("id_new")).distinct()
      .groupBy("id_new").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cand(500L) === 40L && cand(501L) === 40L,
      s"hot-arrival candidates must be exactly the family (linear), got $cand")
    assert(!cand.contains(502L), "the novel arrival must surface zero candidates")
  }

  test("qSpanDedup under a hot family: duplicated docs fully flagged, distinct docs untouched") {
    // Same adversarial class for the substring-level dedup: identical
    // docs make every stride-1 window hash corpus-duplicated, so the
    // window-frequency rollup sees one hash family at |family| count
    // (partial-agg absorbs it) and the per-doc verdict must be
    // dup_frac 1.0 / dropped, while distinct docs stay clean.
    val hot = (1L to 6L).map(_ -> words40) // 40 words ≥ spanW
    val clean = Seq(
      11L -> ("ember quartz willow fjord saber nimbus oracle zephyr cobalt raven " +
        "tundra vortex prism lagoon cinder meadow onyx harbor glacier summit " +
        "boulder canyon delta ridge grove"),
      12L -> ("apple banana cherry dates elder figs grape honey iris jasmine " +
        "kiwi lemon mango nectar olive peach quince rose sage thyme " +
        "umber violet walnut xenia yarrow"))
    val dir = docsDir(hot ++ clean)
    val got = graft.operators.TextOps.qSpanDedup(spark, dir).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(got.size === 8)
    for (id <- 1L to 6L) {
      assert(got(id).getDouble(5) === 1.0, s"hot doc $id must be fully duplicated")
      assert(!got(id).getBoolean(6), s"hot doc $id must be dropped")
    }
    for (id <- Seq(11L, 12L)) {
      assert(got(id).getLong(2) === 0L, s"clean doc $id must report zero dup spans")
      assert(got(id).getBoolean(6), s"clean doc $id must be kept")
    }
  }

  test("q_lang_leak: one family under two labels counts its full doc mass") {
    val dir = tempDir("langleak")
    val s = spark
    import s.implicits._
    Seq(
      (1L, "shared header text", "en"),
      (2L, "Shared  HEADER text", "fr"),  // same family, different label
      (3L, "shared header text", "en"),   // more en mass in the family
      (4L, "unique english text", "en"))
      .toDF("doc_id", "text", "lang")
      .selectExpr("doc_id", "text", "lang", "'src' AS source",
        "CAST(length(text) AS BIGINT) AS n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = graft.operators.Dedup.qLangLeak(spark, dir).collect()
    assert(got.length === 1)
    assert(got(0).getString(0) === "en" && got(0).getString(1) === "fr")
    assert(got(0).getLong(2) === 1L, "one leaking family")
    assert(got(0).getLong(3) === 3L, "docs 1, 2, 3 are the leaked mass; doc 4 is not")
  }

  test("q_source_overlap: Jaccard on shared prefix families, normalization shared with dedup keys") {
    val dir = tempDir("srcov")
    val s = spark
    import s.implicits._
    Seq(
      (1L, "alpha common", "A"),
      (2L, "beta thing", "A"),
      (3L, "Alpha   COMMON", "B"),   // case/whitespace-normalized dup of doc 1
      (4L, "gamma thing", "C"))
      .toDF("doc_id", "text", "source")
      .selectExpr("doc_id", "text", "'en' AS lang", "source",
        "CAST(length(text) AS BIGINT) AS n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = graft.operators.Dedup.qSourceOverlap(spark, dir).collect()
    assert(got.length === 1, "only (A,B) shares a family; zero-overlap pairs are absent")
    val r = got(0)
    assert(r.getString(0) === "A" && r.getString(1) === "B")
    assert(r.getLong(2) === 2L && r.getLong(3) === 1L && r.getLong(4) === 1L)
    assert(r.getLong(5) === 1000000L / 2L, "jaccard = 1 / (2 + 1 - 1)")
  }

  test("entityGroups: gid is the min member key, n counts members, mem tags every record") {
    val s = spark
    import s.implicits._
    val c = Seq(
      (5L, "anna", 1, "A"), (3L, "anna", 1, "A"), (9L, "anna", 1, "A"),
      (7L, "bob", 1, "A"),
      (2L, "anna", 2, "A")) // same name, different nation → separate group
      .toDF("c_custkey", "c_name", "c_nationkey", "c_mktsegment")
    val (grp, mem) = Dedup.entityGroups(c)
    val g = grp.collect()
      .map(r => (r.getString(0), r.getInt(1)) -> (r.getLong(3), r.getLong(4))).toMap
    assert(g(("anna", 1)) === (3L, 3L), "3-deep family: gid = min key, n = 3")
    assert(g(("bob", 1)) === (7L, 1L))
    assert(g(("anna", 2)) === (2L, 1L), "attribute mismatch splits identical names")
    val m = mem.collect().map(r => r.getLong(1) -> r.getLong(0)).toMap
    assert(m === Map(5L -> 3L, 3L -> 3L, 9L -> 3L, 7L -> 7L, 2L -> 2L))
  }

  test("q_entity_best_match equals a local brute force (argmin, tie-breaks, mate counts)") {
    // Independent ground truth: full O(N²) scan within each
    // (nation, mktsegment) attribute block with an uncapped local DP,
    // then per-record argmin by (distance, mate key). Pins the whole
    // canonicalize-then-match composition — gid-record takes the
    // group's second minimum, non-gid members take gid, singletons
    // fall through to the best cross-group mate or drop out, and
    // n_matches counts distinct mate RECORDS across group boundaries.
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (j == 0) i else if (i == 0) j else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val cust = graft.sources.Ingest.table(spark, sf0001, "customer")
      .select("c_custkey", "c_name", "c_nationkey", "c_mktsegment").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getString(3)))
    // local replay of the pass-2 rule: canonical groups ranked by
    // (name, gid), window pairs at exactly EntitySndDist, expanded to
    // record mates in both directions
    val groups = cust.groupBy(t => (t._2, t._3, t._4)).toSeq
      .map { case ((nm, nat, seg), ms) => (ms.map(_._1).min, nm, nat, seg, ms.map(_._1)) }
      .sortBy(g => (g._2, g._1))
    val sndMates = scala.collection.mutable.Map.empty[Long, Vector[(Int, Long)]]
      .withDefaultValue(Vector.empty)
    for {
      i <- groups.indices
      j <- (i + 1) to math.min(i + Dedup.EntitySnmWindow, groups.size - 1)
      a = groups(i); b = groups(j)
      if a._3 == b._3 && a._4 == b._4 && lev(a._2, b._2) == Dedup.EntitySndDist
      x <- a._5; y <- b._5
    } {
      sndMates(x) = sndMates(x) :+ ((Dedup.EntitySndDist, y))
      sndMates(y) = sndMates(y) :+ ((Dedup.EntitySndDist, x))
    }
    val expect = cust.flatMap { case (k, nm, nat, seg) =>
      val mates = cust.filter { case (k2, nm2, nat2, seg2) =>
        k2 != k && nat2 == nat && seg2 == seg &&
          lev(nm, nm2) <= Dedup.EntityMaxDist }
        .map { case (k2, nm2, _, _) => (lev(nm, nm2), k2) } ++ sndMates(k)
      if (mates.isEmpty) None
      else Some(k -> (mates.min, mates.length.toLong))
    }.toMap
    val got = Dedup.qEntityBestMatch(spark, sf0001).collect()
      .map(r => r.getLong(0) -> ((r.getInt(2), r.getLong(1)), r.getLong(3))).toMap
    assert(got === expect,
      s"best-match table must equal the local brute force (${expect.size} matched records)")
  }

  test("entity matching: verified group pairs are independent of exact-dup depth") {
    // VERDICT r16 #7 (the StressDedup entity twin): SymSpell blocking
    // runs over canonical GROUPS, so candidate/verify volume tracks
    // distinct records — an m-deep replicated register must produce
    // the identical verified group-pair set at any m, with the member
    // expansion supplying the within-family (edit 0) and inherited
    // cross pairs at output size.
    val s = spark
    import s.implicits._
    def register(m: Int) = (
      (0 until m).map(i => (100L + i, "anna maria", 1, "A")) ++ // the deep family
        Seq((1L, "anna marla", 1, "A"),                          // ed-1 near name
            (2L, "bob", 1, "A"), (3L, "anna maria", 2, "B"))     // decoys
      ).toDF("c_custkey", "c_name", "c_nationkey", "c_mktsegment")
    def groupPairs(m: Int) = {
      val (grp, _) = Dedup.entityGroups(register(m))
      Dedup.entityVerifiedGroupPairs(spark, grp).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(4))).toSet
    }
    val gp1 = groupPairs(1)
    assert(gp1 === Set((1L, 100L, 1)), "one verified group pair: the ed-1 names")
    assert(groupPairs(25) === gp1,
      "group-pair volume must not move with exact-dup depth")

    val got = Dedup.entityMatchFrom(spark, register(25)).collect()
      .map(r => (r.getLong(2), r.getLong(3), r.getInt(4))).toSet
    val within = got.filter(t => t._1 >= 100L)
    assert(within.size === 25 * 24 / 2 && within.forall(_._3 == 0),
      "within-family expansion: every member pair at edit distance 0")
    val cross = got.filter(t => t._1 < 100L)
    assert(cross === (0 until 25).map(i => (1L, 100L + i, 1)).toSet,
      "every family member inherits the representative's ed-1 match")
  }

  test("entity second pass: distance-3 typos recovered; out-of-window ed-3 pairs stay out") {
    // VERDICT r16 #4: typos past the deletion-radius-2 pigeonhole.
    // A transposition is ed 2 (pass 1 catches it); three substitutions
    // are ed 3 and reachable ONLY through the sorted-neighborhood
    // pass; an ed-3 pair whose names sort > EntitySnmWindow group
    // ranks apart is OUT of the (deterministic, oracle-replayed) rule.
    val s = spark
    import s.implicits._
    val base = "customer alpha number 0001"
    val transpo = "cusotmer alpha number 0001" // adjacent transposition: ed 2
    val sub3 = "customer alphX numbXr 0Z01" // three substitutions: ed 3
    val farA = "aaacustomer root 9999"
    val farB = "zaacustomer roXt 9Y99" // ed 3 from farA, sorts far away
    val fillers = "bcdefghij".zipWithIndex.map { case (ch, i) =>
      (30L + i, s"$ch filler entry ${i}xx", 1, "A")
    }
    def reg(m: Int) = (Seq(
      (10L, base, 1, "A"), (11L, transpo, 1, "A")) ++
      (0 until m).map(i => (12L + 100L * i, sub3, 1, "A")) ++
      Seq((20L, farA, 1, "A"), (21L, farB, 1, "A")) ++ fillers)
      .toDF("c_custkey", "c_name", "c_nationkey", "c_mktsegment")
    val pairs = Dedup.entityMatchFrom(spark, reg(1)).collect()
      .map(r => (r.getLong(2), r.getLong(3), r.getInt(4))).toSet
    assert(pairs.contains((10L, 11L, 2)), "pass 1 must catch the transposition at ed 2")
    assert(pairs.contains((10L, 12L, 3)),
      s"the SNM pass must recover the 3-substitution typo, got $pairs")
    assert(!pairs.exists(p => Set(p._1, p._2) == Set(20L, 21L)),
      "an ed-3 pair sorting outside the window is out of rule by design")
    // depth-independence holds THROUGH the new pass: group ranks are
    // over distinct names, so a 25-deep family changes nothing
    def groupPairs(m: Int) = {
      val (grp, _) = Dedup.entityGroups(reg(m))
      Dedup.entityVerifiedGroupPairs(spark, grp).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(4))).toSet
    }
    assert(groupPairs(25) === groupPairs(1),
      "SNM group pairs must not move with exact-dup depth")
  }

  test("entity third pass: phonetic respellings at ed 4 recovered; code-distinct ed-4 pairs stay out") {
    // VERDICT r18 #7: Catherine/Kathryn is the canonical case BOTH
    // prior passes miss — ed 4 (past the SymSpell radius AND past the
    // SNM tier's ed=3 rule) with a different leading letter (sorts
    // away). The phonetic block recovers it; an ed-4 pair whose codes
    // differ stays out (the tier's precision comes from the block);
    // a phonetic-equal pair at ed 5 is out of rule (ed = 4 exactly).
    val s = spark
    import s.implicits._
    val cath = "catherine jones" // code 2365252
    val kath = "kathryn jones"   // code 2365252, ed 4 from cath
    val kath5 = "kathryn jonnes" // code 2365252, ed 5 from cath
    val edA = "customer abcd"    // code 2356123
    val edB = "customer wxyz"    // code 23562 — ed 4 from edA, code differs
    val fillers = "bcdefghij".zipWithIndex.map { case (ch, i) =>
      (30L + i, s"$ch filler entry ${i}xx", 1, "A")
    }
    def reg(m: Int) = (Seq(
      (10L, cath, 1, "A"), (11L, kath, 1, "A"), (12L, kath5, 1, "A"),
      (20L, edA, 1, "A"), (21L, edB, 1, "A")) ++
      (0 until m).map(i => (100L + 100L * i, kath, 1, "A")) ++ fillers)
      .toDF("c_custkey", "c_name", "c_nationkey", "c_mktsegment")
    val pairs = Dedup.entityMatchFrom(spark, reg(0)).collect()
      .map(r => (r.getLong(2), r.getLong(3), r.getInt(4))).toSet
    assert(pairs.contains((10L, 11L, 4)),
      s"the phonetic pass must recover Catherine/Kathryn at ed 4, got $pairs")
    assert(!pairs.exists(p => Set(p._1, p._2) == Set(20L, 21L)),
      "an ed-4 pair with DIFFERENT phonetic codes is out of rule")
    assert(!pairs.exists(p => Set(p._1, p._2) == Set(10L, 12L)),
      "a phonetic-equal pair at ed 5 is out of rule (the tier is ed = 4 exactly)")
    // native code == the oracle chain's documented values
    val codes = reg(0).select(col("c_name"),
        graft.functions.PhoneticCode.column(col("c_name")).as("ph"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(codes(cath) === 2365252L && codes(kath) === 2365252L,
      s"Catherine/Kathryn must share code 2365252: $codes")
    assert(codes(edA) !== codes(edB))
    // depth-independence holds THROUGH the phonetic pass too: the
    // block is over distinct names, so a deep exact-dup family of
    // kathryn changes no group pair
    def groupPairs(m: Int) = {
      val (grp, _) = Dedup.entityGroups(reg(m))
      Dedup.entityVerifiedGroupPairs(spark, grp).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(4))).toSet
    }
    assert(groupPairs(25) === groupPairs(0),
      "phonetic group pairs must not move with exact-dup depth")
  }

  test("q_dedup_containment: candidate recall is independent of exact-dup depth") {
    // VERDICT r16 #1 (the q_dedup_minhash depth pin's containment
    // twin): under the old per-DOCUMENT df rule, 25 verbatim copies of
    // the contained doc pushed each of its shingles' df to 26 — past
    // RareDfCap (20) — so the (container, contained) candidate
    // silently vanished as crawl-dup depth grew. The r16 distinct-TEXT
    // rule keeps those dfs at 2 at any depth: the cross-family pair
    // set (projected to representatives) must be identical at m = 1
    // and m = 25, the within-family pairs emit at containment 1.0
    // without any hook requirement, and every member inherits its
    // representative's verdict.
    val contained = "alpha beta gamma delta epsilon zeta eta theta"
    val container = contained +
      " iota kappa lambda mu nu xi omicron pi rho sigma"
    def corpus(m: Int): Seq[(Long, String)] =
      Seq(1L -> container) ++
        (0 until m).map(i => (100L + i) -> contained) ++
        (0 until 8).map(i =>
          (900L + i) -> s"filler doc $i with tokens f${i}a f${i}b f${i}c f${i}d f${i}e")
    for (m <- Seq(1, 25)) {
      val rows = Dedup.qDedupContainment(spark, docsDir(corpus(m))).collect()
      val pairs = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
      for (i <- 0 until m)
        assert(pairs.contains((1L, 100L + i)),
          s"m=$m: copy ${100 + i} of the contained doc must pair with its container")
      val cross = rows.filter(_.getLong(0) == 1L)
      assert(cross.length === m, s"m=$m: container pairs with every copy, nothing else")
      cross.foreach { r =>
        assert(r.getDouble(5) === 1.0, s"full containment expected: $r")
        assert(r.getLong(2) === r.getLong(4),
          s"inter must equal the contained (smaller) side's set size: $r")
      }
      val within = rows.filter(r => r.getLong(0) >= 100L && r.getLong(1) < 900L)
      assert(within.length === m * (m - 1) / 2,
        s"m=$m: every within-family pair emits, no hook requirement")
      within.foreach { r =>
        assert(r.getDouble(5) === 1.0 &&
          r.getLong(2) === r.getLong(3) && r.getLong(3) === r.getLong(4),
          s"within-family pair must carry inter = n_a = n_b at containment 1.0: $r")
      }
      assert(rows.length === cross.length + within.length,
        s"m=$m: unique-filler docs must surface no pairs")
    }
  }
}
