package graft

import graft.operators.TextOps

/** Edge-case behavior of the text-analysis operators (the sf-table
  * versions are oracle-checked; these cover inputs the test corpus
  * doesn't contain).
  */
class TextOpsSpec extends SparkSpec {

  private lazy val dir = docsDir(Seq(
    1L -> "the a of and to is",                      // all English stopwords
    2L -> "x",                                       // single token
    3L -> "!!! ??? ...",                             // punctuation only
    4L -> "el la de que y en el la de que",          // Spanish markers
    5L -> "中文文本",                // CJK
    6L -> "the quick brown fox jumps over the lazy dog and runs away fast"))

  test("lang_id: stopword vote + CJK detection, deterministic tie-breaks") {
    val got = TextOps.qLangId(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getString(6)).toMap
    assert(got(1L) === "en")
    assert(got(4L) === "es")
    assert(got(5L) === "zh")
    assert(got(6L) === "en")
    assert(got(3L) === "en", "no markers anywhere → en by fixed tie-break order")
  }

  test("quality score: short/punct docs rejected, normal prose kept") {
    val got = TextOps.qQualityScore(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getBoolean(6)).toMap
    assert(!got(2L), "1-word doc fails the n_words >= 5 rule")
    assert(!got(3L), "punctuation-only doc fails punct_ratio < 0.2")
    assert(got(6L), "normal prose passes")
  }

  test("token count: BPE-ish regex splits punctuation, handles edge docs") {
    val got = TextOps.qTokenCount(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3))).toMap
    assert(got(2L) === ((1L, 1L)))
    assert(got(3L)._2 === 9L, "each mark is its own BPE-ish token (3+3+3)")
    assert(got(6L)._1 === 13L, "13 whitespace tokens")
  }

  test("fingerprint: deterministic, text-sensitive, prefix-stable") {
    val a = TextOps.qFingerprint(spark, dir).collect().sortBy(_.getLong(0))
    val b = TextOps.qFingerprint(spark, dir).collect().sortBy(_.getLong(0))
    assert(a.map(_.getLong(1)).toSeq === b.map(_.getLong(1)).toSeq, "deterministic")
    assert(a.map(_.getLong(1)).distinct.length === a.length, "distinct texts → distinct fp64")
    val fpAll = a.map(r => r.getLong(0) -> r.getLong(1)).toMap
    val fpPre = a.map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(fpAll(2L) === fpPre(2L), "short doc: full fp equals prefix fp")
  }

  test("stratified sample: deterministic per-row verdicts, realized rates track targets") {
    val rows = TextOps.qSampleStratified(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))
    rows.foreach { case (id, _, bucket, pct, kept) =>
      assert(bucket === id % 100, "bucket is a pure function of the id")
      assert(kept === (bucket < pct), "verdict is exactly bucket < target")
    }
    // realized rate per stratum ≈ target (doc_id is uniform mod 100;
    // small strata wobble, so assert a generous band)
    rows.groupBy(_._2).foreach { case (lang, rs) =>
      val target = rs.head._4 / 100.0
      val realized = rs.count(_._5).toDouble / rs.size
      assert(math.abs(realized - target) < 0.15,
        f"$lang realized $realized%.2f vs target $target%.2f")
    }
    // reproducibility: a second run yields the identical verdict set
    val again = TextOps.qSampleStratified(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getBoolean(4))).toMap
    rows.foreach { case (id, _, _, _, kept) => assert(again(id) === kept) }
  }

  test("repetition: degenerate, diverse, and single-word docs score correctly") {
    val dir = docsDir(Seq(
      10L -> "a a a a a",                              // fully repetitive
      11L -> "one two three four five six seven eight nine ten eleven twelve",
      12L -> "x",                                      // no bigrams at all
      13L -> "spam spam spam something else entirely different words here now ok fine"))
    val got = TextOps.qRepetition(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getBoolean(5))).toMap
    assert(got(10L) === ((5L, 1.0, 1.0, 1.0, true)))
    val (n11, tw11, dw11, tb11, rep11) = got(11L)
    assert(n11 === 12L && tw11 === 1.0 / 12 && dw11 === 0.0 && tb11 === 1.0 / 11 && !rep11,
      "12 distinct words: nothing repeats, below both thresholds")
    assert(got(12L) === ((1L, 1.0, 0.0, 0.0, true)),
      "single word: top_word_frac 1.0 trips the flag; bigram frac defaults to 0")
    val (_, tw13, _, _, rep13) = got(13L)
    assert(tw13 === 3.0 / 12 && rep13, "top word 'spam' holds 25% > 20% → repetitive")
  }

  test("contamination: benchmark-overlapping docs flagged, benchmark rows excluded") {
    // doc 0 is the benchmark stratum (0 mod 97); doc 1 shares two
    // 5-gram windows with it; doc 2 shares none
    val dir = docsDir(Seq(
      0L -> "alpha beta gamma delta epsilon zeta eta theta",
      1L -> "alpha beta gamma delta epsilon zeta qq rr",
      2L -> "completely different words with no overlap at all here"))
    val rows = TextOps.qContamination(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getBoolean(4))).toMap
    assert(rows.keySet === Set(1L, 2L), "benchmark docs must not appear in the output")
    assert(rows(1L) === ((4L, 2L, true)),
      "doc 1: 4 distinct 5-grams, 2 shared with the benchmark → contaminated")
    assert(rows(2L)._2 === 0L && !rows(2L)._3, "doc 2: clean")
  }

  /** VERDICT r19 #3: the paraphrase class the exact tier is blind to.
    * Substituting every 6th word leaves NO run of five untouched words
    * long enough for ≥20% exact 5-gram overlap (survival ≈ 1/6), yet
    * keeps ~half the word-3-gram set — the fuzzy tier's regime. One
    * doc per recovery class, plus a clean control and a verbatim copy.
    */
  test("contamination_fuzzy: planted paraphrased benchmark docs recovered where the exact tier misses") {
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    val para = base.split(" ").zipWithIndex
      .map { case (w, i) => if (i % 6 == 0) s"sub$i" else w }.mkString(" ")
    val dir = docsDir(Seq(
      194L -> base,  // 194 = 2x97: the benchmark stratum
      200L -> para,  // paraphrase: every 6th word substituted
      300L -> (1 to 60).map(i => s"other$i").mkString(" "), // clean control
      400L -> base)) // verbatim copy: both tiers catch it
    val exact = TextOps.qContamination(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getBoolean(4)).toMap
    assert(!exact(200L),
      "fixture: the paraphrase must be INVISIBLE to the exact 5-gram tier")
    assert(exact(400L), "fixture: the verbatim copy must hit the exact tier")
    val fuzzy = TextOps.qContaminationFuzzy(spark, dir).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(fuzzy.contains(200L),
      s"the paraphrased benchmark doc must be recovered by the fuzzy tier: $fuzzy")
    assert(fuzzy(200L)._2 === 194L, "attribution: the best match names the leaked benchmark doc")
    assert(fuzzy(200L)._3 >= 0.2 && fuzzy(200L)._3 < 0.6,
      s"the paraphrase lives in the fuzzy regime, below the dedup shelf: ${fuzzy(200L)._3}")
    assert(fuzzy.contains(400L) && fuzzy(400L)._3 === 1.0,
      "a verbatim copy verifies at Jaccard 1.0")
    assert(!fuzzy.contains(300L), "the clean control must stay clean")
    assert(!fuzzy.contains(194L), "benchmark docs must not appear in the output")
  }

  test("segment dedup: cross-doc and within-doc duplicated segments counted, ragged tails kept") {
    val segA = (1 to 10).map(i => s"w$i").mkString(" ")
    val segB = (11 to 20).map(i => s"v$i").mkString(" ")
    val segC = (21 to 30).map(i => s"c$i").mkString(" ")
    val dir = docsDir(Seq(
      20L -> s"$segA $segB",                                     // A + B
      21L -> (s"$segA " + (1 to 10).map(i => s"u$i").mkString(" ")), // shares A
      22L -> (1 to 20).map(i => s"z$i").mkString(" "),           // all unique
      23L -> "short ragged tail doc",                            // 1 ragged segment
      24L -> s"$segC $segC"))                                    // C twice: within-doc dup
    val got = TextOps.qDedupSegment(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getBoolean(4))).toMap
    assert(got(20L) === ((2L, 1L, true)), "doc 20: A shared with 21 is dup, B unique — frac exactly 0.5 kept")
    assert(got(21L) === ((2L, 1L, true)), "doc 21: segment A duplicated, its own tail unique")
    assert(got(22L) === ((2L, 0L, true)), "doc 22: nothing duplicated")
    assert(got(23L) === ((1L, 0L, true)), "ragged 4-word doc forms one segment")
    assert(got(24L) === ((2L, 2L, false)), "doc 24: both occurrences of C are dups → frac 1.0 → culled")
  }

  test("pack sequences: greedy budget packing per lane, overflow stays in the starting pack") {
    // one lane (all ids ≡ 0 mod 4), 100 tokens per doc, budget 256:
    // cum 100/200/300/400 → start offsets 0/100/200/300 → packs 0,0,0,1
    val hundred = (1 to 100).map(_ => "w").mkString(" ")
    val dir = docsDir(Seq(0L -> hundred, 4L -> hundred, 8L -> hundred, 12L -> hundred))
    val got = TextOps.qPackSequences(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)) ->
        (r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    assert(got(("en", 0L, 0L)) === ((3L, 300L, 0L, 8L)),
      "pack 0 absorbs three docs: the third STARTS at offset 200 < 256 and overflows")
    assert(got(("en", 0L, 1L)) === ((1L, 100L, 12L, 12L)), "doc 12 starts at 300 → pack 1")
    assert(got.size === 2)
  }

  test("pii scrub: emails/ssns/number runs redacted most-specific-first, counts consistent") {
    val s = spark
    import s.implicits._
    val dir = tempDir("events")
    Seq(
      (1L, "contact bob@example.com or 123-45-6789 now"),
      (2L, "{\"k\": 87}"),
      (3L, "no sensitive content here"))
      .toDF("event_id", "props")
      .selectExpr("event_id", "timestamp('2024-01-01 00:00:00') AS ts",
        "event_id AS user_id", "'click' AS event_type", "1.0 AS value", "props")
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = TextOps.qPiiScrub(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4), r.getBoolean(5))).toMap
    assert(got(1L)._1 === 1L, "one email")
    assert(got(1L)._2 === 1L, "one ssn")
    assert(got(1L)._4 === "contact <EMAIL> or <SSN> now",
      "ssn redacted as a unit, not eaten digit-run-wise; email address not split on dots")
    assert(got(2L) === ((0L, 0L, 1L, "{\"k\": <NUM>}", true)))
    assert(got(3L) === ((0L, 0L, 0L, "no sensitive content here", false)))
  }

  test("inverted index: df/tf postings with deterministic top-doc tie-breaks") {
    val dir = docsDir(Seq(
      30L -> "apple apple banana",
      31L -> "apple banana banana",
      32L -> "apple cherry"))
    val got = TextOps.qInvertedIndex(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got("apple") === ((3L, 4L, 30L, 2L)), "df 3, Σtf 4, top posting doc 30 (tf 2)")
    assert(got("banana") === ((2L, 3L, 31L, 2L)), "top posting is doc 31 (tf 2 beats tf 1)")
    assert(got("cherry") === ((1L, 1L, 32L, 1L)))
    // tie-break: equal tf resolves to the larger doc_id in both engines
    val tie = docsDir(Seq(40L -> "kiwi", 41L -> "kiwi"))
    val t = TextOps.qInvertedIndex(spark, tie).collect()
      .map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(t("kiwi") === 41L)
  }

  test("normalize text: accents stripped, case folded, whitespace collapsed, CJK preserved") {
    import graft.functions.NormalizeText.normalize
    assert(normalize("Café") === "cafe", "precomposed é loses its accent")
    assert(normalize("Café") === "cafe", "decomposed e+◌́ normalizes identically")
    assert(normalize("  Hello\t\tWORLD \n") === "hello world")
    assert(normalize("中文 文本") === "中文 文本", "CJK has no marks/case — byte-identical")
    assert(normalize("İstanbul") === "istanbul",
      "dotted capital I: mark dropped before lowercase (matches strip_accents→lower)")
    assert(normalize("already clean ascii") === "already clean ascii")
    assert(normalize("") === "" && normalize("   ") === "")
    // idempotence: normalize ∘ normalize = normalize (the fast path
    // must accept exactly the function's own image)
    for (s <- Seq("Café  NOIR", "中文", "a  b", "Ångström ÅNGSTRÖM"))
      assert(normalize(normalize(s)) === normalize(s), s"not idempotent on: $s")
  }

  test("normalize text: query emits stable md5 and the plan stays map-only") {
    val dir = docsDir(Seq(1L -> "The QUICK  brown", 2L -> "café noir"))
    val got = TextOps.qNormalizeText(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(got(1L) === (("the quick brown", 15L)))
    assert(got(2L) === (("cafe noir", 9L)))
    val p = TextOps.qNormalizeText(spark, dir).queryExecution.executedPlan.toString
    assert(!p.contains("Exchange") && p.contains("graft_normalize_text"),
      s"normalization must be a map-only native projection:\n$p")
  }

  test("mix budget: per-stratum token totals and shares sum to 1") {
    val rows = TextOps.qMixBudget(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.map(_._1).toSet === Set("en", "es", "de", "fr", "zh"))
    assert(rows.map(_._2).sum === 500L, "doc counts cover the corpus")
    rows.foreach { case (lang, n, toks, share) =>
      assert(n > 0 && toks > 0, s"$lang must have docs and tokens")
      assert(share > 0.0 && share < 1.0)
    }
    assert(math.abs(rows.map(_._4).sum - 1.0) < 1e-12, "shares must sum to 1")
  }

  test("q_train_test_split: splits partition the corpus, ratio near 90/10, assignment stable") {
    val rows = TextOps.qTrainTestSplit(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val total = rows.map(_._3).sum
    val nDocs = graft.sources.Ingest.table(spark, sf0001, "documents").count()
    assert(total === nDocs, "every document lands in exactly one split")
    val train = rows.filter(_._1 == "train").map(_._3).sum
    val share = train.toDouble / total
    assert(share > 0.80 && share < 0.97,
      s"md5-byte threshold 0xe6 must land near 230/256 ≈ 0.898 train share: $share")
    val again = TextOps.qTrainTestSplit(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.sortBy(t => (t._1, t._2)) === again.sortBy(t => (t._1, t._2)),
      "key-hash assignment must be bit-stable across runs")
  }

  test("q_oov_rate: ppm recomputes exactly, vocab words are never OOV") {
    val rows = TextOps.qOovRate(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty)
    rows.foreach { case (id, n, oov, ppm) =>
      assert(oov <= n, s"doc $id: OOV count bounded by token count")
      val expected = if (n > 0) oov * 1000000L / n else 0L
      assert(ppm === expected, s"doc $id: fixed-point rate must recompute exactly")
    }
    assert(rows.exists(r => r._2 > 0 && r._4 < 1000000L),
      "some document must contain an in-vocabulary word")
  }

  test("q_shard_plan: shards partition the corpus; LPT round-robin bounds the imbalance") {
    val rows = TextOps.qShardPlan(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .sortBy(_._1)
    assert(rows.map(_._1).toSeq === (0L until 8L).toSeq, "all 8 shards present")
    val docsTbl = graft.sources.Ingest.table(spark, sf0001, "documents")
    assert(rows.map(_._2).sum === docsTbl.count(), "shards partition the corpus")
    val maxDoc = docsTbl.agg(org.apache.spark.sql.functions.max("n_chars"))
      .collect()(0).getLong(0)
    val weights = rows.map(_._3)
    // descending round-robin telescopes: spread ≤ largest single doc
    assert(weights.max - weights.min <= maxDoc,
      s"round-robin in size order keeps shard weights within one max-doc: " +
        s"spread ${weights.max - weights.min} vs maxDoc $maxDoc")
  }

  test("qSpanDedup: arbitrary-offset repeated spans merge to maximal islands; short docs report zeros") {
    // a 25-word span shared at DIFFERENT offsets (3 vs 10) — segment
    // hashing with fixed windows can straddle it; span dedup must
    // report exactly one maximal 25-token span per doc (the 6 dup
    // windows merge — a naive per-window sum would claim 6×20 tokens)
    val span = (1 to 25).map("s" + _)
    val aText = ((1 to 3).map("a" + _) ++ span ++ (4 to 33).map("a" + _)).mkString(" ")
    val bText = ((1 to 10).map("b" + _) ++ span ++ (1 to 8).map("c" + _)).mkString(" ")
    val cText = (1 to 12).map("z" + _).mkString(" ") // below the 20-word threshold
    val dir = docsDir(Seq(1L -> aText, 2L -> bText, 3L -> cText))
    val got = TextOps.qSpanDedup(spark, dir).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getBoolean(6))).toSeq
    assert(got === Seq(
      (1L, 58L, 1L, 25L, 25L, true),   // 25/58 ≤ 0.5 → kept
      (2L, 43L, 1L, 25L, 25L, false),  // 25/43 > 0.5 → dropped
      (3L, 12L, 0L, 0L, 0L, true)))    // sub-threshold doc still reported
  }

  test("qSpanExcise: survivor keeps its span, foreign copies are cut, exact dups empty out") {
    def md5(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val span = (1 to 25).map("s" + _)
    val aText = ((1 to 3).map("a" + _) ++ span ++ (4 to 33).map("a" + _)).mkString(" ")
    val bKept = (1 to 10).map("b" + _) ++ (1 to 8).map("c" + _)
    val bText = ((1 to 10).map("b" + _) ++ span ++ (1 to 8).map("c" + _)).mkString(" ")
    val cText = (1 to 12).map("z" + _).mkString(" ")
    val eText = (1 to 20).map("e" + _).mkString(" ") // exact dup pair, = spanW tokens
    val dir = docsDir(Seq(1L -> aText, 2L -> bText, 3L -> cText, 4L -> eText, 5L -> eText))
    val got = TextOps.qSpanExcise(spark, dir).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
      .toSeq
    assert(got === Seq(
      (1L, 58L, 0L, 58L, md5(aText)),               // min-id survivor: untouched
      (2L, 43L, 25L, 18L, md5(bKept.mkString(" "))), // foreign span cut, rebuild exact
      (3L, 12L, 0L, 12L, md5(cText)),               // sub-threshold: untouched
      (4L, 20L, 0L, 20L, md5(eText)),               // dup-pair survivor keeps its copy
      (5L, 20L, 20L, 0L, md5(""))))                 // exact dup fully excised
  }

  test("qSpanLeaderboard: top windows ranked by occurrences with carrier counts and first doc") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    // one exactly-20-word span shared by THREE docs at different
    // offsets (one doc is an exact dup of another — the canonical path
    // must still count it as a carrier), plus a doc repeating the span
    // twice internally; unique filler windows must not chart
    val span = (1 to 20).map("s" + _)
    val aText = ((1 to 5).map("a" + _) ++ span).mkString(" ")
    val bText = (span ++ (1 to 7).map("b" + _)).mkString(" ")
    val eText = ((1 to 2).map("e" + _) ++ span ++ (1 to 3).map("f" + _) ++ span).mkString(" ")
    val dir = docsDir(Seq(1L -> aText, 2L -> bText, 3L -> aText, 4L -> eText))
    val got = TextOps.qSpanLeaderboard(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    // the shared span window: docs 1,2,3 once each + doc 4 twice
    assert(got.head === (md5hex(span.mkString(" ")), 4L, 5L, 1L))
    // ranking is total (occ desc, md5 asc) and every row is duplicated mass
    assert(got.map(_._3) === got.map(_._3).sorted.reverse)
    assert(got.forall(_._3 >= 2L))
    // doc 3 is a verbatim copy of doc 1: every one of doc 1's windows
    // carries ≥2 docs, so all 6 of its distinct windows chart
    val aWins = (0 to 5).map(i =>
      md5hex(((1 to 5).map("a" + _) ++ span).slice(i, i + 20).mkString(" ")))
    assert(aWins.forall(h => got.exists(r => r._1 == h && r._2 >= 2L)))
  }

  test("q_bpe_train: merge table equals a reference driver-side BPE trainer") {
    // reference implementation: exact greedy left-to-right BPE over the
    // same word-frequency table, entirely independent of the DataFrame
    // fold (covers the overlapping-pair chain case by construction —
    // any a=b run resolves left-to-right)
    val texts = graft.sources.Ingest.table(spark, sf0001, "documents")
      .select("text").collect().map(_.getString(0))
    val wf = scala.collection.mutable.Map.empty[String, Long]
    for (t <- texts; w <- t.split(" ", -1) if w.length >= 2)
      wf(w) = wf.getOrElse(w, 0L) + 1L
    var vocab: Map[Vector[String], Long] = wf.toSeq
      .map { case (w, f) => w.toVector.map(_.toString) -> f }
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).sum }
    def mergeWord(syms: Vector[String], pa: String, pb: String): Vector[String] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      var i = 0
      while (i < syms.length) {
        if (i + 1 < syms.length && syms(i) == pa && syms(i + 1) == pb) {
          out += pa + pb; i += 2
        } else { out += syms(i); i += 1 }
      }
      out.toVector
    }
    val expect = (1 to 6).map { r =>
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      for ((syms, f) <- vocab; i <- 0 until syms.length - 1)
        counts(syms(i) -> syms(i + 1)) = counts.getOrElse(syms(i) -> syms(i + 1), 0L) + f
      val ((pa, pb), n) = counts.toSeq.minBy { case ((a, b), n) => (-n, a, b) }
      vocab = vocab.toSeq.map { case (syms, f) => mergeWord(syms, pa, pb) -> f }
        .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).sum }
      (r, pa, pb, pa + pb, n)
    }
    val got = TextOps.qBpeTrain(spark, sf0001).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
      .toSeq
    assert(got === expect, "learned merge table must equal the reference trainer's")
  }

  test("q_bpe_encode: per-doc token counts equal a driver-side re-encode with the learned merges") {
    val merges = TextOps.trainBpe(spark, sf0001).map { case (_, pa, pb, _) => (pa, pb) }
    def encode(w: String): Int = {
      var syms = w.toVector.map(_.toString)
      for ((pa, pb) <- merges) {
        val out = scala.collection.mutable.ArrayBuffer.empty[String]
        var i = 0
        while (i < syms.length) {
          if (i + 1 < syms.length && syms(i) == pa && syms(i + 1) == pb) {
            out += pa + pb; i += 2
          } else { out += syms(i); i += 1 }
        }
        syms = out.toVector
      }
      syms.length
    }
    val docRows = graft.sources.Ingest.table(spark, sf0001, "documents")
      .select("doc_id", "text").collect()
    val expect = docRows
      .map { r =>
        val ws = r.getString(1).split(" ", -1)
        (r.getLong(0), ws.length.toLong, ws.map(encode(_).toLong).sum)
      }.sortBy(_._1).toSeq
    val got = TextOps.qBpeEncode(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got === expect,
      "vocab-encoded token counts must equal per-word greedy re-encoding")
    // fertility sanity (ADVICE r12): merges only ever SHRINK a word's
    // symbol sequence, so each document's token count is bounded above
    // by its pre-merge token count — its character count — and below
    // by one token per (non-empty) word. Bound against the INDEPENDENT
    // char count, not the already-asserted expected value.
    val nChars = docRows.map { r =>
      (r.getLong(0), r.getString(1).split(" ", -1).map(_.length.toLong).sum)
    }.toMap
    got.foreach { case (id, nw, nt) =>
      assert(nt <= nChars(id) && nt >= nw,
        s"doc $id: token count out of [n_words, n_chars] bounds")
    }
  }

  test("persisted BPE model: encode-from-model == train-and-encode") {
    val path = tempDir("bpe") + "/merges"
    TextOps.buildBpeModel(spark, sf0001, path)
    // the frozen model round-trips: same merges, same order, same
    // counts. buildBpeModel serves from the session cache
    // (sessionBpeMerges), so the fresh trainBpe on the right also pins
    // cached === freshly-trained (VERDICT r12 #1).
    val persisted = spark.read.parquet(path).orderBy("round").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    assert(persisted === TextOps.trainBpe(spark, sf0001))
    assert(TextOps.sessionBpeMerges(spark, sf0001) === persisted,
      "second session-cache lookup must serve the same frozen merges")
    val fromModel = TextOps.bpeEncodeWith(spark, sf0001, path).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val inline = TextOps.qBpeEncode(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(fromModel === inline,
      "serving from the persisted merge table must encode identically")
  }

  test("unigram segmenter: greedy longest-match-first, single-char fallback, empty word") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.col
    val pieces = Seq("abc", "cd", "ab", "bcde")
    val rows = Seq("abcd", "abab", "xyz", "bcdex", "")
      .toDF("w")
      .select(col("w"), TextOps.uniSegTokens(col("w"), pieces).as("ps"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1).toList).toMap
    assert(rows("abcd") === List("abc", "d"), "3-char match beats the 2-char prefix")
    assert(rows("abab") === List("ab", "ab"))
    assert(rows("xyz") === List("x", "y", "z"), "out-of-vocab words fall back to chars")
    assert(rows("bcdex") === List("bcde", "x"), "4-char match wins over shorter ones")
    assert(rows("") === Nil)
  }

  test("q_unigram_encode: per-doc token counts equal a driver-side greedy re-encode") {
    val (pieces, report) = TextOps.sessionUnigramModel(spark, sf0001)
    assert(pieces.nonEmpty && pieces.forall(p =>
      p.length >= 2 && p.length <= TextOps.UniPieceMax))
    assert(pieces.length <= TextOps.UniKeepSchedule.last,
      "the frozen multi-char vocabulary respects the final prune bound")
    val byLen = pieces.groupBy(_.length).view.mapValues(_.toSet).toMap
    def encode(w: String): Long = {
      var pos = 0; var n = 0L
      while (pos < w.length) {
        val len = (TextOps.UniPieceMax to 2 by -1).find(l =>
          pos + l <= w.length &&
            byLen.getOrElse(l, Set.empty).contains(w.substring(pos, pos + l)))
          .getOrElse(1)
        pos += len; n += 1
      }
      n
    }
    val docRows = graft.sources.Ingest.table(spark, sf0001, "documents")
      .select("doc_id", "text").collect()
    val expect = docRows.map { r =>
      val ws = r.getString(1).split(" ", -1)
      (r.getLong(0), ws.length.toLong, ws.map(encode).sum)
    }.sortBy(_._1).toSeq
    val got = TextOps.qUnigramEncode(spark, sf0001).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got === expect,
      "vocab-encoded token counts must equal the per-word greedy reference")
    // train/encode mass identity: the reported usage is counted under
    // the SAME frozen pieces, so its corpus-weighted mass must equal
    // the encode rows' total token count
    assert(report.map(_._2).sum === got.map(_._3).sum,
      "train usage mass == encoded token mass")
    // determinism: cached model === a fresh train (the sessionBpeMerges pin)
    assert(TextOps.trainUnigram(spark, sf0001) === ((pieces, report)))
    // oracle walk-bound pin: the unrolled SQL walk covers UniMaxWalk
    // steps; every corpus word must fit (the engine fold handles any
    // length — the ORACLE's unroll is what this protects)
    val maxLen = docRows.map(_.getString(1).split(" ", -1).map(_.length).max).max
    assert(maxLen <= TextOps.UniMaxWalk,
      s"corpus max word length $maxLen must stay within the oracle's ${TextOps.UniMaxWalk}-step unroll")
  }

  test("lm_perplexity: hand-computed bits on a corpus with a known train/test split") {
    // md5 split (splitHexLt device): docs 1,2,4 train; doc 3 test.
    val dir = docsDir(Seq(
      1L -> "a b a b",
      2L -> "a b c",
      3L -> "a b z c",
      4L -> "c a"))
    // Train model: c12 = {(a,b):3, (b,a):1, (b,c):1, (c,a):1},
    //              c1  = {a:3, b:3, c:1}  (bitlen 2 / 2 / 1).
    val got = TextOps.qLmPerplexity(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6))).toMap
    // doc 1: (a,b)=0, (b,a)=2-1=1, (a,b)=0 → sum 1 over 3 bigrams
    assert(got(1L) === ((3L, 0L, 1L, 333333L, 0L)))
    // doc 2: (a,b)=0, (b,c)=2-1=1 → sum 1 over 2
    assert(got(2L) === ((2L, 0L, 1L, 500000L, 0L)))
    // doc 3 (test): (a,b)=0 seen; (b,z),(z,c) unseen → 20 bits each
    assert(got(3L) === ((3L, 2L, 40L, 13333333L, 3L)))
    // doc 4: (c,a)=bitlen(1)-bitlen(1)=0
    assert(got(4L) === ((1L, 0L, 0L, 0L, 0L)))
  }

  test("lm model serve: persisted model scores identically to the self-contained query") {
    val model = tempDir("lm") + "/model"
    TextOps.buildLmModel(spark, sf0001, model)
    val shape = (r: org.apache.spark.sql.Row) =>
      (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6))
    val got = TextOps.lmScoreWith(spark, sf0001, model).collect().map(shape).sortBy(_._1).toSeq
    val ref = TextOps.qLmPerplexity(spark, sf0001).collect().map(shape).sortBy(_._1).toSeq
    assert(got === ref,
      "one-join serve against the frozen pair-bits table must equal the inline train+score")
  }

  test("q_dsir_weights: exact driver-side recount of the importance arithmetic") {
    // Full independent reimplementation of the DSIR program in plain
    // Scala (features, split, keep rule, bits model, rollup) — any
    // drift in the distributed plan vs the published arithmetic fails.
    def md5hex(x: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def feats(text: String): Seq[String] = {
      val ws = text.split(" ", -1).toSeq
      ws.filter(_.nonEmpty).map(w => md5hex(w).take(3)) ++
        ws.zip(ws.drop(1)).map { case (a, b) => md5hex(a + " " + b).take(3) }
    }
    def bitlen(x: Long): Long = 64L - java.lang.Long.numberOfLeadingZeros(x)
    val docRows = graft.sources.Ingest.table(spark, sf0001, "documents")
      .select("doc_id", "text", "lang").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val train = docRows.filter { case (id, _, _) => md5hex(id.toString).take(2) < "e6" }
    val cr = scala.collection.mutable.Map.empty[String, Long]
    val ct = scala.collection.mutable.Map.empty[String, Long]
    for ((_, t, lang) <- train; f <- feats(t)) {
      cr(f) = cr.getOrElse(f, 0L) + 1L
      if (lang == "en") ct(f) = ct.getOrElse(f, 0L) + 1L
    }
    val (trTot, ttTot) = (cr.values.sum, ct.values.sum)
    def ratio(f: String): Long = cr.get(f) match {
      case None => bitlen(trTot) - bitlen(ttTot)
      case Some(c) => (bitlen(trTot) - bitlen(c)) - (ct.get(f) match {
        case None | Some(0L) => bitlen(ttTot) + 4L
        case Some(c2)        => bitlen(ttTot) - bitlen(c2)
      })
    }
    val want = docRows.map { case (id, t, _) =>
      val fs = feats(t)
      val sum = fs.map(ratio).sum
      val slr = (sum + 128L * fs.size) * 1000000L / fs.size
      id -> ((fs.size.toLong, sum, slr, slr / 50000L))
    }.toMap
    val got = TextOps.qDsirWeights(spark, sf0001).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    assert(got === want, "distributed DSIR must equal the exact recount")
    assert(want.values.map(_._4).toSet.size > 1,
      "corpus must spread across importance bands or the row is degenerate")
    // The discrimination property DSIR exists for: the target-language
    // slice must rank more target-like than the rest on average.
    val byLang = docRows.map { case (id, _, lang) => (lang, want(id)._3) }
    def mean(xs: Seq[Long]) = xs.sum.toDouble / xs.size
    val en = mean(byLang.collect { case ("en", s) => s })
    val rest = mean(byLang.collect { case (l, s) if l != "en" => s })
    assert(en > rest, s"en avg $en must exceed non-en avg $rest")
  }

  test("dsir model serve: persisted model scores identically to the self-contained query") {
    val model = tempDir("dsir") + "/model"
    TextOps.buildDsirModel(spark, sf0001, model)
    val shape = (r: org.apache.spark.sql.Row) =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
    val got = TextOps.dsirScoreWith(spark, sf0001, model).collect().map(shape).sortBy(_._1).toSeq
    val ref = TextOps.qDsirWeights(spark, sf0001).collect().map(shape).sortBy(_._1).toSeq
    assert(got === ref,
      "broadcast-join serve against the frozen bucket table must equal the inline train+score")
  }

  test("q_dsir_weights plan: model join broadcasts, no sort-merge join in the score pass") {
    val plan = TextOps.qDsirWeights(spark, sf0001).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      "the 4096-bucket model join must broadcast")
    assert(!plan.contains("SortMergeJoin"),
      "nothing in the score pass may shuffle-sort corpus rows for a join")
  }

  test("q_bpe_pairs: top-20 matches an exact driver-side recount") {
    val texts = graft.sources.Ingest.table(spark, sf0001, "documents")
      .select("text").collect().map(_.getString(0))
    val counts = scala.collection.mutable.Map.empty[String, Long]
    for (t <- texts; w <- t.split(" ", -1) if w.length >= 2; i <- 0 until w.length - 1)
      counts(w.substring(i, i + 2)) = counts.getOrElse(w.substring(i, i + 2), 0L) + 1L
    val want = counts.toSeq.sortBy { case (p, n) => (-n, p) }.take(20)
    val got = TextOps.qBpePairs(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got === want, "pair statistic must equal the exact recount, same tie order")
  }

  test("split_balance: exact recompute from collected docs; shares telescope") {
    val s = spark
    val rows = graft.sources.Ingest.table(s, sf0001, "documents")
      .select("doc_id", "lang", "source", "text").collect()
      .map { r =>
        val md = java.security.MessageDigest.getInstance("MD5")
          .digest(r.getLong(0).toString.getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
        val split = if (md.substring(0, 2) < "e6") "train" else "test"
        val toks = r.getString(3).split(" ").count(_.nonEmpty).toLong
        (split, r.getString(1), r.getString(2), toks)
      }
    val trainTot = rows.count(_._1 == "train").toLong
    val testTot = rows.length - trainTot
    val got = TextOps.qSplitBalance(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
      .toMap
    for ((axis, pick) <- Seq[(String, ((String, String, String, Long)) => String)](
        ("lang", _._2), ("source", _._3))) {
      val byVal = rows.groupBy(pick)
      assert(got.keys.count(_._1 == axis) === byVal.size, s"$axis value coverage")
      byVal.foreach { case (v, rs) =>
        val nTr = rs.count(_._1 == "train").toLong
        val nTe = rs.length - nTr
        val (gTr, gTe, pTr, pTe, d) = got((axis, v))
        assert((gTr, gTe) === ((nTr, nTe)), s"$axis=$v counts")
        assert(pTr === nTr * 1000000L / trainTot && pTe === nTe * 1000000L / testTot)
        assert(d === pTr - pTe)
      }
      // within-split shares telescope to ~1e6 (floor rounding loses < |values|)
      val sTr = got.filter(_._1._1 == axis).values.map(_._3).sum
      assert(sTr > 1000000L - byVal.size && sTr <= 1000000L, s"$axis train shares")
    }
  }

  test("perceptron: exact driver-side replay of the batch epochs") {
    val s = spark
    import s.implicits._
    val dir = tempDir("perc")
    Seq(
      (1L, "the cat of the house", "en"),
      (2L, "a dog and a bird", "en"),
      (3L, "中文文本内容", "zh"),
      (4L, "el perro y el gato", "es"))
      .toDF("doc_id", "text", "lang")
      .selectExpr("doc_id", "text", "lang", "'src' AS source",
        "CAST(length(text) AS BIGINT) AS n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val stops = Set("the", "a", "of", "and", "to", "is")
    val feats = Seq(
      (1L, "the cat of the house", "en"),
      (2L, "a dog and a bird", "en"),
      (3L, "中文文本内容", "zh"),
      (4L, "el perro y el gato", "es")).map { case (_, text, lang) =>
      val y = if (lang == "en") 1L else -1L
      val x1 = text.split(" ").count(stops)
      val x2 = text.count(_ > 0x7f)
      (y, 1L, x1.toLong, x2.toLong)
    }
    var (wb, w1, w2) = (0L, 0L, 0L)
    val want = (1 to 3).map { e =>
      val mis = feats.filter { case (y, b, x1, x2) => y * (wb * b + w1 * x1 + w2 * x2) <= 0 }
      wb += mis.map(f => f._1 * f._2).sum
      w1 += mis.map(f => f._1 * f._3).sum
      w2 += mis.map(f => f._1 * f._4).sum
      (e.toLong, mis.length.toLong, wb, w1, w2)
    }
    val got = TextOps.qPerceptron(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .sortBy(_._1).toSeq
    assert(got === want, "every epoch's error count and weights must replay exactly")
    assert(got.last._2 < feats.length.toLong,
      "the separator must classify at least part of this separable corpus")
  }

  test("classifier_eval: confusion cells partition each source; grading matches the serve path") {
    val s = spark
    val model = tempDir("ceval") + "/model"
    TextOps.buildPerceptronModel(s, sf0001, model)
    val evalRows = TextOps.qClassifierEval(s, sf0001).collect()
    val perSource = graft.sources.Ingest.table(s, sf0001, "documents")
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(evalRows.map(_.getString(0)).toSet === perSource.keySet)
    evalRows.foreach { r =>
      val (tp, fp, fn, tn) = (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(tp + fp + fn + tn === perSource(r.getString(0)),
        s"confusion cells must partition source ${r.getString(0)}")
      if (!r.isNullAt(5)) assert(r.getLong(5) === tp * 1000000L / (tp + fp))
      if (!r.isNullAt(6)) assert(r.getLong(6) === tp * 1000000L / (tp + fn))
    }
    // the eval's implicit scoring must agree with the frozen-model serve
    val preds = TextOps.perceptronScoreWith(s, sf0001, model)
      .select("doc_id", "pred_en").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val docs = graft.sources.Ingest.table(s, sf0001, "documents")
      .select("doc_id", "source", "lang").collect()
    val tpBySource = docs.groupBy(_.getString(1)).view.mapValues(ds =>
      ds.count(d => preds(d.getLong(0)) && d.getString(2) == "en").toLong).toMap
    evalRows.foreach { r =>
      assert(r.getLong(1) === tpBySource(r.getString(0)),
        s"tp for ${r.getString(0)} must match the serve-path predictions")
    }
  }

  test("perceptron model serve: frozen weights classify identically to the final epoch") {
    val s = spark
    val model = tempDir("percm") + "/model"
    TextOps.buildPerceptronModel(s, sf0001, model)
    val hist = TextOps.qPerceptron(s, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4))).sortBy(_._1)
    val (wb, w1, w2) = (hist.last._2, hist.last._3, hist.last._4)
    val persisted = s.read.parquet(model).collect()
    assert(persisted.length === 1)
    assert((persisted(0).getLong(0), persisted(0).getLong(1), persisted(0).getLong(2))
      === ((wb, w1, w2)), "persisted model = final-epoch weights")
    val scored = TextOps.perceptronScoreWith(s, sf0001, model).collect()
    assert(scored.length === 500)
    // margins reconcile with the final epoch's error count: n_err of a
    // hypothetical next epoch = docs with y*margin <= 0; we can't see y
    // here, but every margin must be a pure integer combination
    scored.foreach { r =>
      assert(r.getBoolean(2) === (r.getLong(1) > 0), "pred is the margin sign")
    }
  }

  test("dataset_card: one-row summary with normalization-aware dup share") {
    val s = spark
    import s.implicits._
    val dir = tempDir("card")
    Seq(
      (1L, "a b c", "en", "s1"),
      (2L, "A  b   C", "fr", "s2"), // contentMd5-normalized dup of doc 1
      (3L, "x y", "en", "s1"))
      .toDF("doc_id", "text", "lang", "source")
      .selectExpr("doc_id", "text", "lang", "source",
        "CAST(length(text) AS BIGINT) AS n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = TextOps.qDatasetCard(spark, dir).collect()
    assert(r.length === 1)
    val c = r(0)
    assert(c.getLong(0) === 3L && c.getLong(1) === 2L && c.getLong(2) === 2L)
    assert(c.getLong(3) === 8L, "tokens: 3 + 3 + 2")
    assert(c.getLong(5) === 2000000L / 3L, "en share")
    assert(c.getLong(6) === 1000000L / 3L, "one duplicated doc of three")
    assert(c.getLong(7) === 8L / 3L)
  }

  test("readability: punctuation/wordless/CJK edge docs") {
    val d = docsDir(Seq(
      1L -> "!!! ??? ...",     // punct tokens: 3 words, 3 sentence runs, 0 syllables
      2L -> "x",               // vowel-less single word
      3L -> "",                // wordless: derived columns NULL
      4L -> "中文文本"))        // CJK: 1 word, 0 vowel groups
    val got = TextOps.qReadability(spark, d).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(got(1L).getLong(1) === 3L && got(1L).getLong(2) === 3L && got(1L).getLong(3) === 0L)
    // fk = 390*3 DIV 3 + 0 - 15590
    assert(got(1L).getLong(6) === (390L - 15590L))
    assert(got(2L).getLong(1) === 1L && got(2L).getLong(3) === 0L)
    assert(got(3L).getLong(1) === 0L && got(3L).getLong(2) === 1L,
      "wordless doc keeps the sentence floor of 1")
    assert(got(3L).isNullAt(5) && got(3L).isNullAt(6),
      "spw/fk are NULL, never a fake grade, when n_words = 0")
    assert(got(4L).getLong(1) === 1L && got(4L).getLong(3) === 0L)
  }

  test("char_diversity: exact Simpson arithmetic, spaces excluded") {
    val d = docsDir(Seq(
      1L -> "x",        // single char: Simpson and top-share both 1e6
      2L -> "aaab",     // counts 3,1 -> (9+1)*1e6 DIV 16
      3L -> "a b a b")) // spaces dropped: 4 chars, two of each
    val got = TextOps.qCharDiversity(spark, d).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(got(1L).getLong(1) === 1L && got(1L).getLong(4) === 1000000L &&
      got(1L).getLong(5) === 1000000L)
    assert(got(2L).getLong(4) === (10L * 1000000L) / 16L)
    assert(got(2L).getLong(3) === 3L)
    assert(got(3L).getLong(1) === 4L && got(3L).getLong(2) === 2L,
      "spaces are not characters for the diversity profile")
  }

  test("gopher_rules: each gate trips on its planted offender and only that one") {
    val w = "word "
    val d = docsDir(Seq(
      1L -> ("the to " + w * 57 + "word"),                       // passes all five
      2L -> ("the to " + w * 7 + "word"),                        // 10 words -> fail_words
      3L -> ("be to of " * 19 + "be to of"),                     // mwl 2 -> fail_word_len
      4L -> (w * 59 + "word"),                                   // no stops -> fail_stop
      5L -> ("the to " + "wo#rd " * 7 + w * 50 + "word"),        // 7 '#' / 60 -> fail_symbol
      6L -> ("the to " + "1234 " * 15 + w * 42 + "word")))       // alpha 45/60 -> fail_alpha
    val r = TextOps.qGopherRules(spark, d).collect()
    assert(r.length === 1)
    val row = r(0)
    assert(row.getLong(1) === 6L, "n_docs")
    assert(row.getLong(2) === 1L, "fail_words: only the 10-word doc")
    assert(row.getLong(3) === 1L, "fail_word_len: only the mwl-2 doc")
    assert(row.getLong(4) === 1L, "fail_symbol: only the '#'-laden doc")
    assert(row.getLong(5) === 1L, "fail_alpha: only the digit-heavy doc")
    assert(row.getLong(6) === 1L, "fail_stop: only the stopless doc")
    assert(row.getLong(7) === 1L, "n_keep: exactly the clean doc survives")
  }

  test("lexical_diversity: hapax/type counts on a hand corpus") {
    val d = docsDir(Seq(
      1L -> "the cat the dog",
      2L -> "THE bird"))       // lowercased: 'the' x3, cat/dog/bird hapax
    val r = TextOps.qLexicalDiversity(spark, d).collect()
    assert(r.length === 1)
    assert(r(0).getLong(1) === 6L, "n_tokens")
    assert(r(0).getLong(2) === 4L, "n_types: the/cat/dog/bird after lowercasing")
    assert(r(0).getLong(3) === 3L, "hapax: cat dog bird")
    assert(r(0).getLong(4) === (4L * 1000000L) / 6L)
  }

  test("self_overlap: per-doc distinct grams, df over the whole corpus") {
    val d = docsDir(Seq(
      1L -> "a b c d",      // grams: "a b c", "b c d"
      2L -> "a b c x",      // shares "a b c"
      3L -> "t t t t t"))   // 3 gram positions, ONE distinct gram, df=1
    val r = TextOps.qSelfOverlap(spark, d).collect()
    assert(r.length === 1)
    assert(r(0).getLong(1) === 5L, "n_grams: 2 + 2 + 1 per-doc distinct")
    assert(r(0).getLong(2) === 2L, "only the two 'a b c' instances have df >= 2")
    assert(r(0).getLong(3) === (2L * 1000000L) / 5L)
  }

  test("zipf_fit: exact integer least squares on a constructed rank curve") {
    // freqs 8/4/2/1 -> ranks 1..4: x = 0,1,1,2 ; y = 3,2,1,0
    val d = docsDir(Seq(1L -> "a a a a a a a a b b b b c c d"))
    val r = TextOps.qZipfFit(spark, d).collect()
    assert(r.length === 1)
    assert(r(0).getLong(0) === 4L)
    assert(r(0).getLong(1) === 1500L, "slope: (4*6-4*3)*1000 DIV (4*6-16)")
    assert(r(0).getLong(2) === 3000L, "intercept: (6*1000 + 1500*4) DIV 4")
  }

  test("zipf_fit: degenerate single-type corpus yields NULL fit, not a crash") {
    val d = docsDir(Seq(1L -> "a a a"))
    val r = TextOps.qZipfFit(spark, d).collect()
    assert(r.length === 1 && r(0).getLong(0) === 1L)
    assert(r(0).isNullAt(1) && r(0).isNullAt(2))
  }

  test("hashed classifier: the distilled student clears the majority baseline decisively") {
    // VERDICT r13 #4 done-criterion, adapted: the original en/non-en
    // target carries no signal in this corpus (measured — all langs
    // share one 31-word vocabulary, equal stopword rates, zero
    // non-ASCII; the 3-feature qPerceptron collapses to one class on
    // it, as does any model). The student instead distills the
    // min-length keep rule, where signal exists; the pin is that it
    // actually LEARNS: held-out accuracy must clear both the
    // majority-class baseline (what the 3-feature model degenerates
    // to on a signal-free target) and an absolute 90% bar.
    val rows = TextOps.qHashedClassifier(spark, sf0001).collect()
    val (tp, fp, fn, tn) = rows.foldLeft((0L, 0L, 0L, 0L)) { case ((a, b, c, d), r) =>
      (a + r.getLong(1), b + r.getLong(2), c + r.getLong(3), d + r.getLong(4))
    }
    val total = tp + fp + fn + tn
    assert(total > 0L)
    val accPpm = (tp + tn) * 1000000L / total
    val majPpm = math.max(tp + fn, fp + tn) * 1000000L / total
    assert(accPpm > majPpm + 100000L,
      s"student accuracy $accPpm ppm must beat majority $majPpm ppm by >10 points")
    assert(accPpm >= 900000L, s"student accuracy $accPpm ppm below the 90% bar")
    assert(fn === 0L, "the length rule's keep side is fully recalled at this scale")
  }

  test("hashed perceptron: the slot-fold trainer is bit-equal to the join form, at any partitioning") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions._
    import graft.plans.Materialize._
    // The reference is the trainer as a chain of joins over the
    // (doc_id, y, f, cnt) features: per epoch, a broadcast margin join
    // and per-doc rollup, the misclassified set, its per-bucket y·cnt
    // sums with the sign-safe mean step, and a full outer join folding
    // them into the previous weights; the readout sums the epochs.
    def meanStep(s: String, nm: String): String =
      s"CAST(CASE WHEN $s >= 0 THEN ($s * 1000) DIV greatest($nm, 1) " +
        s"ELSE -((-($s) * 1000) DIV greatest($nm, 1)) END AS BIGINT)"
    def joinForm(feats: DataFrame): DataFrame = {
      var w: DataFrame = null
      val snapshots = Seq.newBuilder[DataFrame]
      for (_ <- 1 to TextOps.HashedEpochs) {
        val margins =
          (if (w == null) feats.withColumn("w", lit(0L))
           else feats.join(broadcast(w), Seq("f"), "left"))
            .groupBy(col("doc_id"), col("y"))
            .agg(sum(col("cnt") * coalesce(col("w"), lit(0L))).as("margin"))
        val mis = margins.filter(col("y") * col("margin") <= 0L)
          .select("doc_id", "y").materialized
        val nm = mis.agg(count(lit(1)).as("nm"))
        val delta = feats.join(mis.select("doc_id"), Seq("doc_id"), "left_semi")
          .groupBy(col("f"))
          .agg(sum(col("y") * col("cnt")).as("sraw"))
          .crossJoin(broadcast(nm))
          .select(col("f"), expr(meanStep("sraw", "nm")).as("dw"))
        w =
          (if (w == null) delta.select(col("f"), col("dw").as("w"))
           else w.join(delta, Seq("f"), "full")
             .select(col("f"),
               (coalesce(col("w"), lit(0L)) + coalesce(col("dw"), lit(0L))).as("w")))
            .materialized
        snapshots += w
      }
      snapshots.result().reduce(_ unionByName _)
        .groupBy(col("f")).agg(sum(col("w")).as("w"))
    }
    // both serves read a missing bucket as weight 0
    def nonZero(w: DataFrame): Map[String, Long] =
      w.filter(col("w") =!= 0L).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    def trainFeats(dir: String): DataFrame = TextOps.hashedFeatures(
      graft.sources.Ingest.table(spark, dir, "documents").filter(TextOps.isTrainSplit)).materialized
    val feats = trainFeats(sf0001)
    val rows = TextOps.hashedDocRows(feats).materialized
    // the same docs hashed on three keys into 7 partitions: at least
    // four of them are empty
    val sevenWay = rows.repartition(7, col("doc_id") % 3).materialized
    val sizes = sevenWay.rdd.mapPartitions(it => Iterator(it.size)).collect()
    assert(sizes.length == 7 && sizes.contains(0), s"fixture: partition sizes ${sizes.mkString(", ")}")
    // every train doc passes the length rule: epoch 1 moves every
    // weight it touches up, so from epoch 2 on no doc is misclassified
    val long = (1 to 8).map(d => d.toLong -> (1 to 45).map(i => s"w${d}x$i").mkString(" "))
    val tinyFeats = trainFeats(docsDir(long))
    val tinyRows = TextOps.hashedDocRows(tinyFeats).materialized
    val ys = tinyRows.select("y").collect().map(_.getLong(0))
    assert(ys.nonEmpty && ys.forall(_ == 1L), s"fixture: train labels ${ys.mkString(", ")}")
    val (ref, tinyRef) = (nonZero(joinForm(feats)), nonZero(joinForm(tinyFeats)))
    for ((name, r, want) <- Seq(("as read", rows, ref), ("7 partitions", sevenWay, ref),
        ("no misclassified doc after epoch 1", tinyRows, tinyRef))) {
      assert(want.nonEmpty, s"$name: fixture trains no weight")
      val got = nonZero(TextOps.hashedPerceptron(r))
      val differ = (got.keySet ++ want.keySet).filter(b => got.get(b) != want.get(b))
      assert(differ.isEmpty, s"$name: ${differ.size} of ${want.size} bucket weights differ from the " +
        s"reference, e.g. ${differ.take(3).map(b => s"$b ${got.get(b)} vs ${want.get(b)}").mkString(", ")}")
    }
  }

  test("hashed perceptron: training is one job per epoch plus the feature materialization") {
    import org.apache.spark.JobsOf
    val s = spark.newSession()
    val jobs = JobsOf(s.sparkContext)(TextOps.trainHashedPerceptron(s, sf0001)).size
    info(s"trainHashedPerceptron: $jobs jobs")
    // one fold per epoch, and the two shuffles and the checkpoint of the
    // one-time feature rollup (the documents read infers no schema); the
    // join form ran about 172, with two checkpoints and four joins per
    // epoch
    assert(jobs <= TextOps.HashedEpochs + 3, s"trainHashedPerceptron launched $jobs jobs")
  }

  test("classifier calibration: deciles partition the test split; positive rate rises with margin") {
    val rows = TextOps.qClassifierCalibration(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).sortBy(_._1)
    assert(rows.map(_._1).toSeq === (0L to 9L), "exactly ten deciles")
    // equal-population cut: decile sizes differ by at most 1
    val sizes = rows.map(_._2)
    assert(sizes.max - sizes.min <= 1L, s"deciles must be equal-population: ${sizes.toSeq}")
    // margin ranges tile in order without overlap
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a._6 <= b._5, s"decile ${a._1} max_margin must not exceed decile ${b._1} min_margin")
    }
    // calibration: the bottom decile is all-negative, the top all-positive,
    // and predicted-positive counts agree with the margin ranges
    assert(rows.head._4 === 0L, "bottom decile positive rate must be 0 on the separable rule")
    assert(rows.last._4 === 1000000L, "top decile positive rate must be 1e6")
    rows.foreach { case (d, nd, _, _, _, maxM, nPred) =>
      if (maxM <= 0L) assert(nPred === 0L, s"decile $d: no positive margins, no positive preds")
      if (rows(d.toInt)._5 > 0L) assert(nPred === nd, s"decile $d: all margins positive")
    }
  }

  test("span family: window mass and verdicts are independent of exact-dup depth") {
    // VERDICT r16 #7 (the StressDedup span twin): the stride-1 window
    // explode is the engine's heaviest map stage, so the canonical
    // collapse must keep its mass a function of DISTINCT texts — an
    // m-deep verbatim family hashes its windows ONCE, global window
    // frequency weights by m, members inherit the representative's
    // stats, and unrelated docs' verdicts don't move with m.
    val w = (1 to 20).map(i => s"w$i").mkString(" ") // one shared 20-word window
    val x = ((1 to 5).map(i => s"x$i") ++ Seq(w) ++ (6 to 10).map(i => s"x$i")).mkString(" ")
    val y = ((1 to 3).map(i => s"y$i") ++ Seq(w) ++ (4 to 10).map(i => s"y$i")).mkString(" ")
    val z = (1 to 25).map(i => s"z$i").mkString(" ") // the replicated family text
    def corpus(m: Int): Seq[(Long, String)] =
      Seq(1L -> x, 2L -> y) ++ (0 until m).map(i => (100L + i) -> z)

    def spanRows(m: Int) = {
      val d = docsDir(corpus(m))
      (d, TextOps.qSpanDedup(spark, d).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getDouble(5), r.getBoolean(6)))).toMap)
    }
    val (d1, rows1) = spanRows(1)
    val (d25, rows25) = spanRows(25)

    // canonical window mass: identical at m=1 and m=25 (3 distinct texts)
    def windowMass(dir: String): (Long, Long) = {
      val grp = TextOps.spanGroups(spark, dir)
      val mass = TextOps.windowHashes(
          grp.select(org.apache.spark.sql.functions.col("rep").as("doc_id"),
            org.apache.spark.sql.functions.col("text")))
        .filter(org.apache.spark.sql.functions.col("h").isNotNull).count()
      (grp.count(), mass)
    }
    assert(windowMass(d1) === windowMass(d25),
      "hashed window mass must track distinct texts, not dup depth")

    // unrelated docs' verdicts are depth-independent
    assert(rows1(1L) === rows25(1L) && rows1(2L) === rows25(2L),
      "the shared-window pair's verdicts must not move with the family's depth")
    // the family: at m=1 no window repeats (freq 1), at m=25 every
    // member is one full dup span, all members identical to the rep
    assert(rows1(100L) === ((25L, 0L, 0L, 0L, 0.0, true)))
    val famExpected = ((25L, 1L, 25L, 25L, 1.0, false))
    (0 until 25).foreach { i =>
      assert(rows25(100L + i) === famExpected,
        s"family member ${100 + i} must inherit the representative's stats")
    }

    // excision: the family rep survives (it IS every family window's
    // min-doc survivor), other members rebuild to the empty string;
    // X (min id) keeps its shared window, Y excises exactly its 20
    // foreign tokens — all depth-independent for the X/Y pair
    val ex25 = TextOps.qSpanExcise(spark, d25).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    val emptyMd5 = "d41d8cd98f00b204e9800998ecf8427e"
    assert(ex25(100L)._2 === 0L, "the family representative keeps its copy")
    (1 until 25).foreach { i =>
      assert(ex25(100L + i) === ((25L, 25L, 0L, emptyMd5)),
        s"non-rep member ${100 + i} must be fully excised")
    }
    assert(ex25(1L)._2 === 0L, "X is the shared window's survivor — untouched")
    assert(ex25(2L)._1 === 30L && ex25(2L)._2 === 20L && ex25(2L)._3 === 10L &&
      ex25(2L)._4 != emptyMd5,
      "Y must excise exactly the 20-token foreign island")
  }

  /** VERDICT r16 #3: the driver corpus draws every language's text
    * from one shared vocabulary, so the lang shelves were exercised
    * as plumbing only. These two tests plant REAL discrimination and
    * assert the operators recover it (the replica-tool twin is
    * tools/make_replica.py --plant-langs, same lexicons).
    */
  test("lang_confusion: planted multi-language corpus recovers diagonal + known off-diagonal") {
    val s = spark
    import s.implicits._
    val dir = tempDir("langconf")
    val en = "the a of and to is"
    val es = "el la de que y en"
    val de = "der die das und ist zu"
    // fillers carry no marker words anywhere
    val rows =
      (1L to 40L).map(i => (i, s"$en filler$i word$i", "en")) ++
      (41L to 70L).map(i => (i, s"$es relleno$i palabra$i", "es")) ++
      (71L to 90L).map(i => (i, s"$de fueller$i wort$i", "de")) ++
      // planted OFF-DIAGONAL: labeled es, German text (mislabel sim)
      (91L to 100L).map(i => (i, s"$de getarnt$i wort$i", "es"))
    rows.toDF("doc_id", "text", "lang")
      .selectExpr("doc_id", "text", "lang", "'src' AS source",
        "CAST(length(text) AS BIGINT) AS n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val cells = TextOps.qLangConfusion(spark, dir).collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[String]("lang_pred"))
        -> r.getAs[Long]("n_docs")).toMap
    assert(cells === Map(
      ("en", "en") -> 40L, ("es", "es") -> 30L,
      ("de", "de") -> 20L, ("es", "de") -> 10L),
      s"confusion must recover exactly the planted structure, got $cells")
  }

  /** The safety screen's twin of the lang-confusion plant (replica
    * tool: `make_replica.py --plant-toxicity`, same lexicons): plant
    * known per-category positives, a 2-category escalation, and a
    * density-blocked doc, and assert the per-source attribution
    * recovers EXACTLY that structure — the screen must discriminate,
    * not just run.
    */
  test("safety_screen: planted per-category positives recover exactly; escalation + density block") {
    val s = spark
    import s.implicits._
    val dir = tempDir("safety")
    val filler = (1 to 40).map(i => s"clean$i").mkString(" ") // 40 clean tokens
    val rows =
      // src_a: 3 toxicity hits (low density: 1 term in 41 → 24 pm ≥ 5 → blocked!
      //        careful: density_pm = 1000/41 = 24 ≥ 5 — single-hit docs in
      //        short text ARE density-blocked; use long filler to keep
      //        the flagged-not-blocked class: need density < 5 pm →
      //        1 hit per > 200 tokens
      (1L to 3L).map(i => (i, s"damn ${(1 to 300).map(j => s"pad$j").mkString(" ")}", "src_a")) ++
      // src_a: 2 clean docs
      (4L to 5L).map(i => (i, filler, "src_a")) ++
      // src_b: 1 violence hit (long → flagged only), 1 adult SHORT doc
      //        (density 1000*2/42 = 47 pm → blocked), 1 two-category doc
      //        (escalation → blocked regardless of density)
      Seq((6L, s"kill ${(1 to 300).map(j => s"pad$j").mkString(" ")}", "src_b"),
          (7L, s"nude nsfw $filler", "src_b"),
          (8L, s"damn weapon ${(1 to 300).map(j => s"pad$j").mkString(" ")}", "src_b"),
          (9L, filler, "src_b"))
    rows.toDF("doc_id", "text", "source")
      .selectExpr("doc_id", "text", "'en' AS lang", "source",
        "CAST(length(text) AS BIGINT) AS n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = TextOps.qSafetyScreen(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7))).toMap
    // src_a: 5 docs, 3 tox hits, 0/0 others, 3 flagged, 0 blocked
    //        (1 hit in 301 tokens → 3 pm < 5), max density 3 pm
    assert(got("src_a") === ((5L, 3L, 0L, 0L, 3L, 0L, 3L)),
      s"src_a attribution mismatch: ${got("src_a")}")
    // src_b: 4 docs; tox hit from the 2-cat doc, violence from docs 6+8,
    //        adult from doc 7; 3 flagged; blocked = doc 7 (47 pm) +
    //        doc 8 (2 categories) = 2; max density = 47 pm
    assert(got("src_b") === ((4L, 1L, 2L, 1L, 3L, 2L, 47L)),
      s"src_b attribution mismatch: ${got("src_b")}")
  }

  /** VERDICT r18 #5: the r18 screen matched raw lowercased tokens, so
    * each of these variant classes passed it. Every class must now be
    * recovered — one doc per class, each its own source row so the
    * assertion names the class that leaks.
    */
  test("safety_screen: obfuscated variants (accents, case, tabs, punct, leet) are recovered") {
    val s = spark
    import s.implicits._
    val dir = tempDir("safetyob")
    val pad = (1 to 300).map(j => s"pad$j").mkString(" ")
    val pad2 = (1 to 500).map(j => s"pad$j").mkString(" ") // 2 hits / 502 toks < 5 pm
    val rows = Seq(
      (1L, s"DÄMN $pad", "accent_case"),    // accent + uppercase → damn
      (2L, s"h3ll $pad", "leet_e"),         // 3→e → hell
      (3L, s"5tup1d $pad", "leet_si"),      // 5→s, 1→i → stupid
      (4L, s"(crap) $pad", "wrap_punct"),   // wrapping punctuation
      (5L, s"idiot!\tmoron? $pad2", "tab_punct"), // tab separator + trailing punct
      (6L, s"k1ll n$$fw $pad", "leet_2cat"), // 1→i kill, $→s nsfw → 2-cat escalation
      (7L, s"damn $pad", "plain"))          // control: plain still hits
    rows.toDF("doc_id", "text", "source")
      .selectExpr("doc_id", "text", "'en' AS lang", "source",
        "CAST(length(text) AS BIGINT) AS n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = TextOps.qSafetyScreen(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6))).toMap // (hit_tox, hit_vio, hit_adult, n_flagged, n_blocked)
    assert(got("accent_case") === ((1L, 0L, 0L, 1L, 0L)), s"accents+case: ${got("accent_case")}")
    assert(got("leet_e") === ((1L, 0L, 0L, 1L, 0L)), s"leet 3->e: ${got("leet_e")}")
    assert(got("leet_si") === ((1L, 0L, 0L, 1L, 0L)), s"leet 5/1: ${got("leet_si")}")
    assert(got("wrap_punct") === ((1L, 0L, 0L, 1L, 0L)), s"wrapping punct: ${got("wrap_punct")}")
    assert(got("tab_punct") === ((1L, 0L, 0L, 1L, 0L)), s"tab+punct: ${got("tab_punct")}")
    assert(got("leet_2cat") === ((0L, 1L, 1L, 1L, 1L)),
      s"leet 2-category escalation must BLOCK: ${got("leet_2cat")}")
    assert(got("plain") === ((1L, 0L, 0L, 1L, 0L)), s"plain control: ${got("plain")}")
  }

  test("dsir_weights: planted target-lookalike docs outscore off-target docs") {
    val s = spark
    import s.implicits._
    val dir = tempDir("dsirsep")
    // target slice = lang='en' inside the hash train split; plant
    // DISJOINT vocabularies so target likeness is decidable
    val tgtText = "alpha beta gamma delta epsilon zeta alpha beta"
    val offText = "uno dos tres cuatro cinco seis uno dos"
    val rows =
      (1L to 30L).map(i => (i, s"$tgtText mark$i", "en")) ++
      (31L to 60L).map(i => (i, s"$offText senal$i", "es"))
    rows.toDF("doc_id", "text", "lang")
      .selectExpr("doc_id", "text", "lang", "'src' AS source",
        "CAST(length(text) AS BIGINT) AS n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    TextOps.clearModelCache()
    val slr = TextOps.qDsirWeights(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("slr_ppm")).toMap
    TextOps.clearModelCache()
    val tgtMin = (1L to 30L).map(slr).min
    val offMax = (31L to 60L).map(slr).max
    info(s"DSIR separation: target min $tgtMin vs off-target max $offMax")
    assert(tgtMin > offMax,
      s"every target-lookalike doc must outweigh every off-target doc: $tgtMin <= $offMax")
  }

  test("unimax_mix: exact water-filling — caps honored, budget exactly spent, closed form = reference") {
    val s = spark
    import s.implicits._
    val dir = tempDir("unimax")
    // planted strata: a tiny lang (caps hard), a mid lang (caps), and a
    // huge lang (absorbs the leftover) — the shape UniMax exists for
    val rows =
      (1L to 2L).map(i => (i, "uno dos tres", "aa")) ++
      (3L to 6L).map(i => (i, "eins zwei drei vier funf sechs", "bb")) ++
      (7L to 40L).map(i => (i, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12 w13 w14 w15 w16", "cc"))
    rows.toDF("doc_id", "text", "lang")
      .selectExpr("doc_id", "text", "lang", "'src' AS source",
        "CAST(length(text) AS BIGINT) AS n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val got = TextOps.qUnimaxMix(spark, dir).collect()
      .map(r => r.getString(0) -> r).toMap
    // token masses from the shelf's own budget row — same tokenizer
    val toks = TextOps.qMixBudget(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    val budget = 3L * toks.values.sum
    val caps = toks.view.mapValues(_ * 4L).toMap

    // independent sequential reference of the same closed form
    val sorted = caps.toSeq.sortBy { case (l, c) => (c, l) }
    val L = sorted.size
    var pfx = 0L
    val capped = sorted.zipWithIndex.map { case ((l, c), k0) =>
      val isC = c * (L - k0) + pfx <= budget
      pfx += c
      l -> isC
    }.toMap
    val kC = capped.count(_._2)
    val sC = sorted.collect { case (l, c) if capped(l) => c }.sum
    val u = L - kC
    val level = if (u == 0) 0L else (budget - sC) / u
    val rem = if (u == 0) 0L else budget - sC - level * u
    val expect = sorted.zipWithIndex.map { case ((l, c), k0) =>
      l -> (if (capped(l)) c else level + (if (k0 + 1 - kC <= rem) 1L else 0L))
    }.toMap

    assert(got.keySet === Set("aa", "bb", "cc"))
    for ((l, r) <- got) {
      assert(r.getLong(2) === toks(l), s"$l n_tokens")
      assert(r.getLong(3) === caps(l), s"$l cap_tokens")
      assert(r.getLong(4) === expect(l), s"$l alloc_tokens")
      assert(r.getLong(4) <= caps(l), s"$l alloc must honor the epoch cap")
      assert(r.getBoolean(6) === capped(l), s"$l is_capped")
      if (r.getBoolean(6)) assert(r.getLong(4) === caps(l), s"capped $l gets exactly its cap")
      assert(r.getLong(5) === r.getLong(4) * 1000L / toks(l), s"$l epochs_milli")
    }
    // the small strata cap at exactly 4 epochs; the big one absorbs the rest
    assert(got("aa").getBoolean(6) && got("bb").getBoolean(6) && !got("cc").getBoolean(6))
    assert(got.values.map(_.getLong(4)).sum === budget,
      "budget is spent exactly (U >= 1 at these knobs)")
    // uniformity (the UniMax guarantee): uncapped allocations differ by <= 1
    val unc = got.values.filter(!_.getBoolean(6)).map(_.getLong(4))
    assert(unc.isEmpty || unc.max - unc.min <= 1L)
  }

  test("unimax_mix invariants hold on the sf corpus") {
    val got = TextOps.qUnimaxMix(spark, sf001).collect()
    val budget = 3L * got.map(_.getLong(2)).sum
    assert(got.forall(r => r.getLong(4) <= r.getLong(3)), "alloc <= cap everywhere")
    assert(got.map(_.getLong(4)).sum === budget, "budget exactly spent")
    val unc = got.filter(!_.getBoolean(6)).map(_.getLong(4))
    assert(unc.isEmpty || unc.max - unc.min <= 1L, "uncapped allocations uniform to +-1")
  }
}
