package graft

import org.apache.spark.sql.functions._

import graft.operators._

/** Cross-query consistency invariants: independent operators that
  * describe the same underlying facts must agree exactly. These catch
  * a class of bug the per-query oracle cannot — two queries each
  * hash-matching their own SQL while silently disagreeing about the
  * corpus (e.g. a drifted normalization between the dedup summary and
  * the dedup table).
  */
class InvariantSpec extends SparkSpec {

  test("surface census: every queries key has an oracle and a plans entry, no orphans") {
    // the all-hash board is a standing claim (SURVEY §2: zero
    // rows-only rows) — make it a tripwire: a new query without an
    // oracle, or an oracle whose query was renamed away, fails HERE
    // by name instead of silently weakening the driver gate.
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    val p = SparkEntry.plans.keySet
    assert((q -- o).isEmpty, s"queries without an oracle: ${(q -- o).toSeq.sorted}")
    assert((o -- q).isEmpty, s"orphaned oracles: ${(o -- q).toSeq.sorted}")
    assert((q -- p).isEmpty && (p -- q).isEmpty,
      s"queries/plans registries diverge: ${((q -- p) ++ (p -- q)).toSeq.sorted}")
  }

  test("q_dup_summary agrees with q_dedup_exact row for row") {
    val exact = Dedup.qDedupExact(spark, sf0001)
    val summary = Dedup.qDupSummary(spark, sf0001).collect().head
    val nDocs = exact.count()
    val nDup = exact.filter(col("is_dup")).count()
    val maxFamily = exact.agg(max("group_size")).collect().head.getLong(0)
    assert(summary.getLong(0) === nDocs, "n_docs")
    assert(summary.getLong(2) === nDup, "n_dup_rows")
    assert(summary.getLong(3) === maxFamily, "largest_family")
  }

  test("q_dup_flow marginals reconcile with q_prefix_dedup's family census") {
    val flow = Dedup.qDupFlow(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
    assert(flow.nonEmpty, "sf0.001 has planted prefix families — the matrix must not be empty")
    val pd = Dedup.qPrefixDedup(spark, sf0001)
      .join(graft.sources.Ingest.table(spark, sf0001, "documents")
        .select("doc_id", "source"), "doc_id")
    val dupBySource = pd.filter(col("is_prefix_dup"))
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // column marginal: flows INTO a source = its prefix-dup doc count
    flow.groupBy(_._2).foreach { case (src, cells) =>
      assert(cells.map(_._3).sum === dupBySource(src),
        s"$src: inbound flow must equal its prefix-dup row count")
    }
    assert(flow.map(_._3).sum === dupBySource.values.sum,
      "total flow must equal the total prefix-dup rows")
    flow.foreach { case (f, t, n, fam) =>
      assert(fam >= 1L && fam <= n, s"($f->$t): family count out of range")
    }
  }

  test("q_dup_source totals reconcile with q_dup_summary") {
    val perSource = Dedup.qDupSource(spark, sf0001)
      .agg(sum("n_docs"), sum("n_dup_rows"), sum("n_cross_source_dups"))
      .collect().head
    val summary = Dedup.qDupSummary(spark, sf0001).collect().head
    assert(perSource.getLong(0) === summary.getLong(0),
      "per-source doc counts must sum to the corpus doc count")
    assert(perSource.getLong(1) === summary.getLong(2),
      "per-source dup rows must sum to the corpus dup-row count")
    assert(perSource.getLong(2) <= perSource.getLong(1),
      "cross-source dups are a subset of all dups")
  }

  test("exact dup implies prefix dup (shared whitespace normalization)") {
    // contentMd5 and the prefix window normalize \s+ identically, so an
    // exact-dup pair can never straddle prefix families — including
    // tab/newline variants of the same text
    val exact = Dedup.qDedupExact(spark, sf0001)
      .select(col("doc_id"), col("content_md5"))
    val pfx = Dedup.qPrefixDedup(spark, sf0001)
      .select(col("doc_id"), col("prefix_md5"))
    val joined = exact.join(pfx, "doc_id")
    val perContent = joined.groupBy("content_md5")
      .agg(countDistinct("prefix_md5").as("n_pfx"))
    assert(perContent.filter(col("n_pfx") > 1).count() === 0,
      "every exact-dup family must live inside ONE prefix family")
  }

  test("q_semdedup never drops a cluster's centroid-closest member; drops imply mates") {
    val rows = Ann.qSemdedup(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getLong(3), r.getBoolean(5)))
    // the keep rule ranks on (dist2, vec_id): the minimum of that order
    // within a cluster has no better mate by construction, so it can
    // never be dropped — if it is, the rank and the verdict disagree
    rows.groupBy(_._2).foreach { case (c, rs) =>
      val champion = rs.minBy(r => (r._3, r._1))
      assert(!champion._5, s"cluster $c dropped its centroid-closest member")
    }
    assert(rows.forall(r => !r._5 || r._4 > 0),
      "every dropped vector must have at least one hot mate")
    assert(rows.exists(_._5), "the sf0.001 corpus plants at least one semantic dup")
  }

  test("q_pareto deciles partition the customer population; shares telescope") {
    val rows = Segments.qPareto(spark, sf0001).orderBy("decile").collect()
    val nCust = graft.sources.Ingest.table(spark, sf0001, "orders")
      .select("o_custkey").distinct().count()
    assert(rows.map(_.getLong(1)).sum === nCust,
      "decile customer counts must partition the population")
    val shares = rows.map(_.getLong(3))
    assert(shares.zip(shares.drop(1)).forall { case (a, b) => a >= b },
      "revenue-ranked decile shares must be non-increasing")
    val lastCum = rows.last.getLong(4)
    // pre-scaled-denominator DIV truncates slightly low, never high
    assert(lastCum >= 9990L && lastCum <= 10000L,
      s"cumulative share must telescope to ~100%: $lastCum bp")
  }

  test("q_rfm scores stay in 1..5 and the segment code is their concatenation") {
    val rows = Segments.qRfm(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (rs, fs, ms) = (r.getLong(4), r.getLong(5), r.getLong(6))
      assert(rs >= 1 && rs <= 5 && fs >= 1 && fs <= 5 && ms >= 1 && ms <= 5,
        s"scores out of band: $r")
      assert(r.getString(7) === s"$rs$fs$ms", s"segment code drift: $r")
    }
  }

  test("q_vocab_coverage is monotone in k and bounded by the total") {
    val rows = TextOps.qVocabCoverage(spark, sf0001).orderBy("k").collect()
    val covered = rows.map(_.getLong(3))
    assert(covered.zip(covered.drop(1)).forall { case (a, b) => a <= b },
      "coverage must be monotone in k")
    assert(rows.forall(r => r.getLong(3) <= r.getLong(1)),
      "covered tokens cannot exceed the total")
  }

  test("q_funnel_rates stage counts equal the funnel's own stage census") {
    val f = Analytics.qFunnel(spark, sf0001)
    val byStage = f.groupBy("stage").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val rates = Analytics.qFunnelRates(spark, sf0001).orderBy("stage").collect()
    val nView = rates(0).getLong(2)
    val nClick = rates(1).getLong(2)
    val nPurchase = rates(2).getLong(2)
    assert(nView === f.count(), "stage-1 reach is every funnel user")
    assert(nPurchase === byStage.getOrElse(3, 0L), "stage-3 reach")
    assert(nClick === byStage.getOrElse(2, 0L) + byStage.getOrElse(3, 0L),
      "stage-2 reach includes everyone who went further")
  }

  test("q_source_quality reason columns partition each source's documents") {
    val rows = TextOps.qSourceQuality(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, keep, dup, lowq, repet) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(keep + dup + lowq + repet === n,
        s"reject reasons must partition the source's docs: $r")
    }
  }

  test("q_norm_hist bucket counts partition the embedding corpus") {
    val total = Ann.qNormHist(spark, sf0001)
      .agg(org.apache.spark.sql.functions.sum("n_vecs")).collect().head.getLong(0)
    val nVecs = graft.sources.Ingest.table(spark, sf0001, "embeddings").count()
    assert(total === nVecs, "every vector lands in exactly one norm bucket")
  }

  test("q_cohort_ltv reconciles with the raw orders table") {
    val ltv = Segments.qCohortLtv(spark, sf0001).collect()
    val orders = graft.sources.Ingest.table(spark, sf0001, "orders")
    assert(ltv.map(_.getLong(2)).sum === orders.count(),
      "cohort cells must partition the order rows")
    assert(ltv.map(_.getLong(6)).toSet.size ===
      ltv.map(_.getLong(0)).toSet.size ||
      ltv.groupBy(_.getLong(0)).forall { case (_, rs) =>
        rs.map(_.getLong(6)).distinct.size === 1 },
      "cohort_users must be constant within a cohort")
    ltv.groupBy(_.getLong(0)).foreach { case (cw, rs) =>
      val sorted = rs.sortBy(_.getLong(1))
      assert(sorted.head.getLong(1) === 0L,
        s"cohort $cw must start at offset 0 (the first order defines it)")
      assert(sorted.head.getLong(3) === sorted.head.getLong(6),
        s"cohort $cw size must equal offset-0 active users")
      val cum = sorted.scanLeft(0L)(_ + _.getLong(4)).drop(1)
      assert(sorted.map(_.getLong(5)).toSeq === cum.toSeq,
        s"cohort $cw cumulative cents must telescope over the offsets")
    }
  }

  test("q_vocab_growth: cumulative curve telescopes to the exact corpus census") {
    val rows = TextOps.qVocabGrowth(spark, sf0001).orderBy("bucket").collect()
    val tok = graft.sources.Ingest.table(spark, sf0001, "documents")
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
    assert(rows.map(_.getLong(2)).sum === tok.select("w").distinct().count(),
      "new-type counts must sum to the exact vocabulary size")
    assert(rows.map(_.getLong(1)).sum === tok.count(),
      "bucket token masses must sum to the corpus token count")
    val cumT = rows.map(_.getLong(1)).scanLeft(0L)(_ + _).drop(1)
    assert(rows.map(_.getLong(3)).toSeq === cumT.toSeq, "cum_tokens must telescope")
    val cumY = rows.map(_.getLong(2)).scanLeft(0L)(_ + _).drop(1)
    assert(rows.map(_.getLong(4)).toSeq === cumY.toSeq, "cum_types must telescope")
  }

  test("q_novelty_curve: novel mass equals the distinct window vocabulary") {
    val rows = TextOps.qNoveltyCurve(spark, sf0001).collect()
    assert(rows.nonEmpty)
    // every distinct window hash is novel exactly once... per instance
    // in its FIRST doc (ties within the min doc each count novel), so
    // novel >= distinct-hash count and <= total instances
    val total = rows.map(_.getLong(1)).sum
    val novel = rows.map(_.getLong(2)).sum
    assert(novel >= 1L && novel <= total)
    rows.foreach { r =>
      assert(r.getLong(3) === r.getLong(2) * 1000000L / r.getLong(1),
        s"bucket ${r.getLong(0)}: novelty_ppm drift")
    }
    // the first populated bucket starts maximally novel: its windows
    // can only have been seen within the bucket itself
    val firstBucket = rows.minBy(_.getLong(0))
    assert(firstBucket.getLong(2) > 0L, "the first bucket must introduce windows")
  }

  test("q_lm_perplexity: train docs never back off; bits and bands reconcile") {
    val rows = TextOps.qLmPerplexity(spark, sf0001).collect()
    val nScorable = graft.sources.Ingest.table(spark, sf0001, "documents")
      .filter(size(split(col("text"), " ")) >= 2).count()
    assert(rows.length.toLong === nScorable,
      "one row per document with at least one bigram")
    rows.foreach { r =>
      val (id, n, oov, bits, bpb, band) = (r.getLong(0), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))
      assert(oov >= 0 && oov <= n, s"doc $id: oov count out of range")
      assert(bits >= 20L * oov && bits <= 63L * (n - oov) + 20L * oov,
        s"doc $id: sum_bits outside the bitlen-device bounds")
      assert(bpb === bits * 1000000L / n, s"doc $id: bpb_ppm drift")
      assert(band === bpb / 4000000L, s"doc $id: band drift")
      // a TRAIN doc's bigrams are in the model by construction
      val isTrain = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8")).take(1)
        .map(b => f"${b & 0xff}%02x").head < "e6"
      if (isTrain) assert(oov === 0L, s"train doc $id must never hit the backoff")
    }
    assert(rows.exists(_.getLong(3) > 0L),
      "some held-out doc should exercise the backoff path")
  }

  test("q_ppl_source_mix partitions the scored corpus; shares telescope per source") {
    val mix = TextOps.qPplSourceMix(spark, sf0001).collect()
    val scored = TextOps.qLmPerplexity(spark, sf0001)
    assert(mix.map(_.getLong(2)).sum === scored.count(),
      "mix cells must partition the scored docs")
    assert(mix.map(_.getLong(3)).sum ===
      scored.agg(sum("n_bigrams")).collect().head.getLong(0),
      "bigram mass must reconcile with the per-doc scores")
    mix.groupBy(_.getString(0)).foreach { case (src, cells) =>
      val shares = cells.map(_.getLong(5)).sum
      // integral DIV floors each cell: the telescoped total can only
      // fall short of 10^6 by at most (cells - 1)
      assert(shares <= 1000000L && shares > 1000000L - cells.length,
        s"source $src: band shares must telescope to ~1 (got $shares ppm)")
    }
  }

  test("q_cluster_keywords matches a driver-side recount over q_centroid_assign") {
    val assign = Ann.qCentroidAssign(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getInt(2)).toMap
    val docs = graft.sources.Ingest.table(spark, sf0001, "documents")
      .select("doc_id", "text").collect()
    val tf = scala.collection.mutable.Map.empty[(Int, String), Long]
    for (r <- docs; w <- r.getString(1).split(" ", -1) if w.nonEmpty)
      tf((assign(r.getLong(0)), w)) = tf.getOrElse((assign(r.getLong(0)), w), 0L) + 1L
    val cdf = tf.keys.groupBy(_._2).map { case (w, ks) => w -> ks.size.toLong }
    val want = tf.toSeq
      .map { case ((c, w), n) => (c, w, n, cdf(w), n * 1000000L / cdf(w)) }
      .groupBy(_._1).toSeq.flatMap { case (_, rows) =>
        rows.sortBy { case (_, w, _, _, s) => (-s, w) }.take(10).zipWithIndex
          .map { case ((c, w, n, d, s), i) => (c, (i + 1).toLong, w, n, d, s) }
      }.sortBy(t => (t._1, t._2))
    val got = Ann.qClusterKeywords(spark, sf0001)
      .orderBy("cluster", "rk").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getString(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(got === want,
      "cluster keywords must equal the exact recount over the assignment")
  }

  test("q_colloc_lift agrees with q_bigram_topk counts on shared bigrams") {
    val colloc = TextOps.qCollocLift(spark, sf0001)
      .select(col("lang"), col("bigram"), col("n").as("n_lift"))
    val topk = TextOps.qBigramTopk(spark, sf0001)
      .select(col("lang"), col("bigram"), col("n").as("n_cnt"))
    val joined = colloc.join(topk, Seq("lang", "bigram")).collect()
    assert(joined.forall(r => r.getLong(2) === r.getLong(3)),
      "the same (lang, bigram) must carry the same corpus count in both rankings")
    val all = TextOps.qCollocLift(spark, sf0001).collect()
    assert(all.nonEmpty)
    assert(all.forall(_.getLong(3) >= 20L), "support floor must hold")
    all.groupBy(_.getString(0)).foreach { case (lang, rs) =>
      assert(rs.map(_.getLong(1)).sorted.toSeq === (1L to rs.size).toSeq,
        s"ranks must be dense 1..k within $lang")
      val byRank = rs.sortBy(_.getLong(1)).map(_.getLong(4))
      assert(byRank.zip(byRank.drop(1)).forall { case (a, b) => a >= b },
        s"lift must be non-increasing in rank within $lang")
    }
  }

  test("q_centroid_shift: identical halves shift zero; counts partition the corpus") {
    val s = spark
    import s.implicits._
    // paired corpus: vec 2k and 2k+1 carry the SAME embedding+label, so
    // the parity halves are identical populations — shift must be 0
    val dir = tempDir("emb")
    val base = (0L until 40L).map { k =>
      (k, Array.tabulate(8)(d => ((k * 7 + d * 3) % 11).toFloat / 11f), (k % 3).toInt)
    }
    base.flatMap { case (k, e, l) => Seq((2 * k, e, l), (2 * k + 1, e, l)) }
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val rows = Ann.qCentroidShift(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(1) === r.getLong(2), "paired halves must be equal-sized")
      assert(r.getLong(3) === 0L, s"identical halves must have zero shift: $r")
    }
    // real corpus: half sizes partition each label's population
    val shift = Ann.qCentroidShift(spark, sf0001).collect()
    val byLabel = graft.sources.Ingest.table(spark, sf0001, "embeddings")
      .groupBy("label").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    shift.foreach { r =>
      assert(r.getLong(1) + r.getLong(2) === byLabel(r.getInt(0)),
        "parity halves must partition the label population")
    }
  }

  test("q_sliding_reach brackets daily and total distinct reach") {
    val daily = graft.sources.Ingest.events(spark, sf0001)
      .select(col("event_type"), expr("ts_ms DIV 86400000").as("day"), col("user_id"))
      .groupBy("event_type", "day")
      .agg(countDistinct("user_id").as("n_day"))
    val total = ScaleOps.qHllUnion(spark, sf0001)
      .select(col("event_type"), col("n_exact_users").as("n_total"))
    val joined = ScaleOps.qSlidingReach(spark, sf0001)
      .join(daily, Seq("event_type", "day"))
      .join(total, Seq("event_type"))
      .collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      val (reach, day, tot) = (r.getLong(2), r.getLong(4), r.getLong(5))
      assert(reach >= day, s"trailing reach can't undercut the same-day distinct: $r")
      assert(reach <= tot, s"trailing reach can't exceed the all-time distinct: $r")
      assert(r.getBoolean(3), s"sketch estimate must sit within 5% of exact: $r")
    }
  }

  test("q_minhash_error covers the dedup's pairs and respects banding floors") {
    val audit = Dedup.qMinhashError(spark, sf0001).collect()
    assert(audit.nonEmpty)
    audit.foreach { r =>
      val (m, est, jac) = (r.getLong(2), r.getLong(3), r.getLong(4))
      // a candidate shares at least one full band => >= 4 equal slots
      assert(m >= 4L && m <= 64L, s"slot matches out of band range: $r")
      assert(est === m * 10000 / 64, s"estimate must be the slot share: $r")
      assert(jac >= 0L && jac <= 10000L, s"jaccard bp out of range: $r")
      assert(r.getLong(5) === est - jac, "err must be the signed gap")
    }
    val auditPairs = audit.map(r => (r.getLong(0), r.getLong(1))).toSet
    val reported = Dedup.qDedupMinhash(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(reported.nonEmpty)
    reported.foreach { p =>
      assert(auditPairs.contains(p),
        s"every reported dup pair must appear in the estimator audit: $p")
    }
  }

  test("exact dup implies suffix dup (shared whitespace normalization)") {
    val exact = Dedup.qDedupExact(spark, sf0001)
      .select(col("doc_id"), col("content_md5"))
    val sfx = Dedup.qSuffixDedup(spark, sf0001)
      .select(col("doc_id"), col("suffix_md5"))
    val perContent = exact.join(sfx, "doc_id").groupBy("content_md5")
      .agg(countDistinct("suffix_md5").as("n_sfx"))
    assert(perContent.filter(col("n_sfx") > 1).count() === 0,
      "every exact-dup family must live inside ONE suffix family")
  }

  test("q_lang_confusion replays q_lang_id's verdict cell for cell") {
    val docs = graft.sources.Ingest.table(spark, sf0001, "documents")
      .select(col("doc_id"), col("lang"))
    val perDoc = TextOps.qLangId(spark, sf0001)
      .select(col("doc_id"), col("lang_pred"))
      .join(docs, "doc_id")
      .groupBy("lang", "lang_pred").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val cells = TextOps.qLangConfusion(spark, sf0001).collect()
    assert(cells.map(_.getLong(2)).sum === docs.count(),
      "confusion cells must partition the corpus")
    cells.foreach { r =>
      assert(perDoc((r.getString(0), r.getString(1))) === r.getLong(2),
        s"cell must match the per-doc lang_id rollup: $r")
      assert(r.getLong(4) <= r.getLong(3), "ties are a subset of voted docs")
    }
    assert(cells.map(_.getLong(2)).sum === perDoc.values.sum)
  }

  test("q_dup_by_batch totals reconcile with q_dup_summary") {
    val perBatch = Dedup.qDupByBatch(spark, sf0001)
      .agg(sum("n_docs"), sum("n_prior_dup"), sum("n_intra_dup"))
      .collect().head
    val summary = Dedup.qDupSummary(spark, sf0001).collect().head
    assert(perBatch.getLong(0) === summary.getLong(0),
      "batch doc counts must sum to the corpus doc count")
    assert(perBatch.getLong(1) + perBatch.getLong(2) === summary.getLong(2),
      "prior + intra dups across batches must equal the corpus dup-row count " +
        "(every non-survivor is exactly one of the two)")
  }

  test("q_repeat_purchase buckets partition the customer population") {
    val rows = Segments.qRepeatPurchase(spark, sf0001).collect()
    val nCust = graft.sources.Ingest.table(spark, sf0001, "orders")
      .select("o_custkey").distinct().count()
    assert(rows.map(_.getLong(1)).sum === nCust,
      "every customer lands in exactly one gap bucket")
    assert(rows.forall(r => r.getLong(0) >= -1L && r.getLong(0) <= 8L))
    val bpSum = rows.map(_.getLong(2)).sum
    assert(bpSum >= 10000 - rows.length && bpSum <= 10000L,
      s"truncated shares must sum to within one bp per bucket of 100%: $bpSum")
  }

  test("q_hhi is a coherent concentration index and conserves corpus revenue") {
    val rows = Segments.qHhi(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, hhi, top) = (r.getLong(1), r.getLong(3), r.getLong(4))
      assert(n >= 1L)
      assert(top >= 1L && top <= 10000L, s"top share must be a bp share: $top")
      assert(hhi >= top * top, "HHI is a sum of squares that includes the top share")
      assert(hhi <= 100000000L, "HHI is capped by the monopoly value 10^8")
    }
    val total4 = graft.sources.Ingest.table(spark, sf0001, "lineitem")
      .agg((sum(expr("CAST(l_extendedprice AS DECIMAL(12,2)) * " +
        "(CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))")) * 10000)
        .cast("long")).collect().head.getLong(0)
    assert(rows.map(r => math.round(r.getDouble(2) * 10000)).sum === total4,
      "nation revenue totals must conserve the corpus discounted revenue")
  }

  test("null event time: q_fact_build keeps the row with null date/time ids, q_star_report drops it") {
    // the fact build's per-row smart keys must give NULL where the
    // oracle's LEFT JOIN to the date/time dims misses, and the report's
    // ts IS NOT NULL filter must drop exactly what its inner joins drop
    val s = spark
    import s.implicits._
    val dir = tempDir("events")
    Seq((1L, Option("2021-03-04 05:06:07"), 10L), (2L, Option.empty[String], 11L))
      .toDF("event_id", "ts_s", "user_id")
      .select(col("event_id"), col("ts_s").cast("timestamp").as("ts"), col("user_id"),
        lit("purchase").as("event_type"), lit(1.5).as("value"), lit("{\"k\": 3}").as("props"))
      .write.parquet(s"$dir/events.parquet")
    val keys = Seq("incident_date_id", "incident_time_id", "report_date_id", "report_time_id")
    val fact = StarSchema.qFactBuild(spark, dir).orderBy("event_id")
      .select((Seq("event_id", "user_dim_id", "type_id") ++ keys).map(col): _*).collect()
      .map(_.toSeq)
    // event 1's report time is ts + (1 mod 72) hours
    assert(fact.toSeq === Seq(
      Seq(1L, 1L, 1L, 20210304, 50607, 20210304, 60607),
      Seq(2L, 2L, 1L, null, null, null, null)))
    val report = StarSchema.qStarReport(spark, dir).collect()
    assert(report.map(_.getAs[Long]("event_id")).toSeq === Seq(1L))
    assert(report.head.getAs[String]("full_time12") === "05:06:07 AM")
  }

  test("q_holiday_lift day and order counts partition each year") {
    val rows = StarSchema.qHolidayLift(spark, sf0001).collect()
    val expected = graft.sources.Ingest.table(spark, sf0001, "orders")
      .groupBy(year(to_date(col("o_orderdate"))).cast("int").as("y"))
      .agg(countDistinct(to_date(col("o_orderdate"))).as("days"),
        count(lit(1)).as("orders"))
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(rows.length === expected.size, "one row per order year")
    rows.foreach { r =>
      val (days, orders) = expected(r.getInt(0))
      assert(r.getLong(1) + r.getLong(2) === days,
        "holiday + regular days = distinct order days in the year")
      assert(r.getLong(3) + r.getLong(4) === orders,
        "holiday + regular orders = all orders in the year")
    }
  }

  test("q_ann_recall recall_bp recomputes from q_ann_lsh x q_ann_bruteforce outputs") {
    // the rows-only row's cross-query contract (VERDICT r10 #3): its
    // recall measurement must be EXACTLY the top-K overlap of the two
    // materialized programs it claims to compare
    val bf = Ann.qAnnBruteforce(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
    val lsh = Ann.qAnnLsh(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
    val recall = Ann.qAnnRecall(spark, sf0001).collect()
    assert(recall.nonEmpty)
    assert(recall.map(_.getLong(0)).toSet === bf.keySet,
      "recall reports exactly the brute-force query set")
    recall.foreach { r =>
      val (q, k, overlap, bp) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      val expect = bf(q).intersect(lsh.getOrElse(q, Set.empty)).size.toLong
      assert(k === bf(q).size.toLong, s"query $q: k must be the baseline list size")
      assert(overlap === expect, s"query $q: n_overlap must be the true top-K overlap")
      assert(bp === overlap * 10000L / k, s"query $q: recall_bp must be fixed-point overlap/k")
    }
  }

  test("q_hybrid_search is q_ann_lsh filtered by the quality verdict, re-cut to top 3") {
    // the other rows-only row: its output must be derivable row for row
    // from the two hash-checked programs it composes
    val keep = TextOps.qQualityScore(spark, sf0001).collect()
      .map(r => r.getLong(0) -> (r.getBoolean(r.fieldIndex("is_keep")),
        r.getLong(r.fieldIndex("n_words")))).toMap
    val lsh = Ann.qAnnLsh(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    val expect: Map[(Long, Int, Long), Double] = lsh
      .filter { case (_, n, _) => keep.get(n).exists(_._1) }
      .groupBy(_._1).toSeq.flatMap { case (q, rs) =>
        rs.sortBy { case (_, n, cos) => (-cos, n) }.take(3).zipWithIndex
          .map { case ((_, n, cos), i) => (q, i + 1, n) -> cos }
      }.toMap
    val got = Ann.qHybridSearch(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)) ->
        (r.getDouble(3), r.getLong(4)))
    assert(got.nonEmpty, "hybrid search returns hits at sf0.001")
    assert(got.map(_._1).toSet === expect.keySet,
      "hybrid rows must be exactly the kept LSH hits re-ranked to top 3")
    got.foreach { case (key, (cos, nWords)) =>
      assert(cos === expect(key), s"$key: cosine must carry through unchanged")
      assert(nWords === keep(key._3)._2, s"$key: n_words must come from the quality row")
    }
  }

  test("q_dataset_card dup share reconciles with q_dedup_exact; token mass with q_len_hist") {
    val card = graft.operators.TextOps.qDatasetCard(spark, sf0001).collect()(0)
    val dupRows = graft.operators.Dedup.qDedupExact(spark, sf0001)
      .filter(col("is_dup")).count()
    val nDocs = card.getLong(0)
    assert(card.getLong(6) === dupRows * 1000000L / nDocs,
      "card dup_ppm must equal the exact-dedup census (shared content hash)")
    val lenTokens = graft.operators.TextOps.qLenHist(spark, sf0001)
      .agg(sum("total_toks")).collect()(0).getLong(0)
    assert(card.getLong(3) === lenTokens,
      "card token mass must equal the length histogram's summed mass")
  }

  test("q_graph_modularity marginals reconcile with q_label_prop and the edge total") {
    val lp = graft.operators.Analytics.qLabelProp(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val mod = graft.operators.Analytics.qGraphModularity(spark, sf0001).collect()
    val m = mod.head.getLong(4)
    assert(mod.map(_.getLong(3)).sum === 2 * m, "sum d_tot = 2m")
    assert(mod.map(_.getLong(2)).sum <= m, "within-edges bounded by m")
    // every propagated supplier label appears as a community (suppliers
    // carry degree, so their communities are non-empty in the rollup)
    val comms = mod.map(_.getLong(0)).toSet
    assert(lp.values.toSet.subsetOf(comms),
      "each supplier's propagated label must be a community in the modularity table")
  }

  test("q_dup_tokens reconciles with q_dup_source and the exact-dedup census") {
    val dt = graft.operators.Dedup.qDupTokens(spark, sf0001).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    val ds = graft.operators.Dedup.qDupSource(spark, sf0001).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(dt.keySet === ds.keySet)
    dt.foreach { case (src, (nDocs, nDup, nToks, dupToks)) =>
      assert((nDocs, nDup) === ds(src), s"$src doc-level census must match q_dup_source")
      assert(dupToks <= nToks, s"$src dup tokens bounded by total")
    }
    val exactDups = graft.operators.Dedup.qDedupExact(spark, sf0001)
      .filter(col("is_dup")).count()
    assert(dt.values.map(_._2).sum === exactDups,
      "summed per-source dup docs = the exact-dedup census")
  }

  test("q_behavior_diversity: exact recompute from collected events; concentration bounds") {
    val evs = graft.sources.Ingest.events(spark, sf0001)
      .select("user_id", "event_type").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val want = evs.groupBy(_._1).map { case (u, es) =>
      val byType = es.groupBy(_._2).view.mapValues(_.length.toLong).toMap
      val n = es.length.toLong
      val sq = byType.values.map(c => c * c).sum
      u -> (n, byType.size.toLong, byType.values.max,
        sq * 1000000L / (n * n), byType.values.max * 1000000L / n)
    }
    val got = graft.operators.Segments.qBehaviorDiversity(spark, sf0001).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .toMap
    assert(got.keySet === want.keySet)
    want.foreach { case (u, w) => assert(got(u) === w, s"user $u diversity profile") }
    // Simpson is bounded below by the uniform-distribution floor 1/k:
    // Σc² ≥ n²/k (Cauchy-Schwarz), and floor is monotone, so the
    // truncated ppm value is ≥ floor(1e6/k) = 1000000L / k exactly.
    got.values.foreach { case (n, k, _, simpson, _) =>
      assert(simpson >= 1000000L / k && simpson <= 1000000L)
    }
  }

  test("q_running_balance final balances equal the per-part totals") {
    val bal = Relational.qRunningBalance(spark, sf0001)
    val finalBal = bal.groupBy("l_partkey")
      .agg(max(struct(col("n_shipments"), col("balance"))).as("last"))
      .select(col("l_partkey"), col("last.balance").as("balance"))
    val totals = bal.groupBy("l_partkey").agg(sum("qty").as("total"))
    val joined = finalBal.join(totals, "l_partkey")
      .filter(col("balance") =!= col("total"))
    assert(joined.count() === 0,
      "the expanding window's last value must equal the plain group total")
  }

  test("q_pack_waste reconciles with q_pack_sequences: the fragmentation identity holds") {
    // per pack, tokens − budget = overflow − underfill; summed per
    // lang: n_tokens = capacity + overflow − underfill, and pack/lane
    // counts must agree with the packing table itself
    val packs = TextOps.qPackSequences(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(4)))
    val want = packs.groupBy(_._1).view.mapValues { ps =>
      (ps.map(_._2).distinct.length.toLong, ps.length.toLong, ps.map(_._3).sum)
    }.toMap
    val got = TextOps.qPackWaste(spark, sf0001).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))))
      .toMap
    assert(got.keySet === want.keySet)
    got.foreach { case (lang, (lanes, np, toks, cap, uf, ovf)) =>
      val (wLanes, wPacks, wToks) = want(lang)
      assert((lanes, np, toks) === ((wLanes, wPacks, wToks)), s"$lang pack census")
      assert(cap === np * 256L, s"$lang capacity = packs x budget")
      assert(toks === cap + ovf - uf, s"$lang fragmentation identity")
    }
  }

  test("q_corpus_build census reconciles stage by stage with the standalone operators") {
    // The composition is hash-checked against its composed oracle
    // (r15); THIS gate is the independent one — every stage drop
    // recomputed from the STANDALONE operator outputs, which the
    // shared-CTE oracle can't see. Token unit = TextOps.packToks
    // (unfiltered whitespace split — the q_pack_sequences unit).
    val toks = graft.sources.Ingest.table(spark, sf0001, "documents")
      .select(col("doc_id"), col("lang"),
        expr("CAST(size(split(text, ' ')) AS BIGINT)").as("t"))
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    val pred = TextOps.qLangId(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getString(6)).toMap
    val keep = TextOps.qQualityScore(spark, sf0001)
      .select(col("doc_id"), col("is_keep")).collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val rep = TextOps.qRepetition(spark, sf0001)
      .select(col("doc_id"), col("is_repetitive")).collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val dup = Dedup.qDedupExact(spark, sf0001)
      .select(col("doc_id"), col("is_dup")).collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val pairs = Dedup.qDedupMinhash(spark, sf0001)
      .select(col("id_a"), col("id_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))

    // the safety gate has no standalone per-doc operator (the screen
    // row aggregates per source) — recompute the per-doc verdict with
    // the shared column rule, then cross-check its per-source totals
    // against q_safety_screen's INDEPENDENT n_blocked attribution
    val blockedBySrc = graft.sources.Ingest.table(spark, sf0001, "documents")
      .select(col("source"),
        TextOps.safetyBlocked(col("text")).as("b"), col("doc_id"))
      .collect().map(r => (r.getString(0), r.getBoolean(1), r.getLong(2)))
    val blocked = blockedBySrc.collect { case (_, true, id) => id }.toSet
    val screenBlocked = TextOps.qSafetyScreen(spark, sf0001).collect()
      .map(r => r.getString(0) -> r.getLong(6)).toMap
    blockedBySrc.groupBy(_._1).foreach { case (src, rs) =>
      assert(screenBlocked(src) === rs.count(_._2).toLong,
        s"$src: shared block rule must agree with the screen's attribution")
    }

    val all = toks.keySet
    val a1 = all.filter(pred(_) == "en")
    val a2 = a1.filter(keep)
    val a2s = a2 -- blocked
    val a3 = a2s.filterNot(rep)
    val a4 = a3.filterNot(dup)
    val nearDrop = pairs.collect { case (a, b) if a4(a) => b }.toSet
    val a5 = a4 -- nearDrop
    def mass(ids: Set[Long]) = ids.toSeq.map(toks(_)._2).sum

    val got = CorpusBuild.qCorpusBuild(spark, sf0001).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    assert(got.size === 11)
    assert(got(1L) === (("ingest", all.size.toLong, mass(all), all.size.toLong)))
    assert(got(3L) === (("lang_id", a1.size.toLong, mass(a1), (all.size - a1.size).toLong)))
    assert(got(4L) === (("quality", a2.size.toLong, mass(a2), (a1.size - a2.size).toLong)))
    assert(got(5L) === (("safety", a2s.size.toLong, mass(a2s), (a2.size - a2s.size).toLong)))
    assert(got(6L) === (("repetition", a3.size.toLong, mass(a3), (a2s.size - a3.size).toLong)))
    assert(got(7L) === (("dedup_exact", a4.size.toLong, mass(a4), (a3.size - a4.size).toLong)))
    assert(got(8L) === (("dedup_near", a5.size.toLong, mass(a5), (a4.size - a5.size).toLong)))
    // pack conserves the survivor token mass; pack count recomputed
    // with the q_pack_sequences rule ((lang, lane) lanes, doc order)
    val expPacks = a5.toSeq.map(id => (toks(id)._1, id % 4L, id, toks(id)._2))
      .groupBy(t => (t._1, t._2)).values.map { laneDocs =>
        var cum = 0L
        val ids = scala.collection.mutable.Set.empty[Long]
        laneDocs.sortBy(_._3).foreach { case (_, _, _, t) => ids += cum / 256L; cum += t }
        ids.size.toLong
      }.sum
    assert(got(9L) === (("pack", a5.size.toLong, mass(a5), expPacks)))
    assert(got(10L)._4 === math.min(8L, a5.size.toLong), "shards used")
    assert(got(11L)._2 === a5.size.toLong, "card docs = final survivors")
    assert(got(11L)._3 === mass(a5), "card token mass = final survivors")
    // monotone funnel
    val docsSeq = (1L to 8L).map(got(_)._2)
    assert(docsSeq === docsSeq.sorted.reverse, "doc counts never increase down the funnel")
    // the fixture must actually exercise the dedup stages
    assert(got(8L)._4 > 0L, "sf0.001 plants near-dup families — the near stage must drop")
  }

  test("q_components: a zero census certifies labels equal the unbounded fixpoint") {
    // VERDICT r19 #1 done-criterion: tie the census zero to
    // fixpoint-path label equality. Min-label propagation's fixpoint
    // is per-component minimum node id — recompute it independently
    // (union-find over the same co-purchase edge rule) and require the
    // bounded-round labels to be EXACTLY that whenever moved_r5 = 0.
    val rows = Analytics.qComponents(spark, sf0001).collect()
    assert(rows.head.getAs[Long]("moved_r5") === 0L,
      "sf0.001 must carry a zero census certificate at CcIters = 5")
    val got = rows.map(r => ((r.getString(0), r.getLong(1)), r.getLong(2))).toMap
    val edges = spark.read.parquet(s"$sf0001/orders.parquet")
      .join(spark.read.parquet(s"$sf0001/lineitem.parquet"),
        col("l_orderkey") === col("o_orderkey"))
      .selectExpr("CAST(o_custkey * 2 AS BIGINT) AS src",
        "CAST(l_suppkey * 2 + 1 AS BIGINT) AS dst")
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElseUpdate(r, r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) => parent(find(a)) = find(b) }
    val minOfComp = parent.keys.toSeq.groupBy(find).map { case (root, ns) => root -> ns.min }
    parent.keys.foreach { nd =>
      val key = if (nd % 2 == 0) ("customer", nd / 2) else ("supplier", nd / 2)
      assert(got(key) === minOfComp(find(nd)),
        s"node $nd: bounded-round label must equal the component minimum")
    }
    assert(got.size === parent.size, "node inventories must agree")
  }
}
