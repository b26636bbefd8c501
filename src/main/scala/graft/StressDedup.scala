package graft

import org.apache.spark.sql.functions._

import graft.plans.Materialize._

/** Adversarial hot-key stress runner for the dedup serve path: one
  * content hash covering ~1% of the corpus is
  * the worst case for content-hash bucketing — a degenerate LSH
  * bucket in the persisted index, a degenerate window-hash family in
  * the span dedup, and a degenerate exact-dup family.
  *
  * Reproducible from a clean checkout:
  * {{{
  *   python3 tools/make_replica.py /root/testdata/sf0.1 /tmp/sf1hot 10 --hot-pct 1
  *   tools/run_stress.sh /tmp/sf1hot /tmp/graft-stress
  * }}}
  *
  * What it measures (one JSON line on stdout):
  *   - `index_build_sec` + the index band-bucket histogram tail
  *     (`max_bucket`, `buckets_over_cap`): how degenerate the hot
  *     family made the index;
  *   - `serve_sec` for [[graft.operators.Dedup.incrementalDedup]] on a
  *     half-hot increment, plus `cand_pairs` recomputed from the index
  *     band table — the linearity witness: candidates are
  *     |family| x |colliding arrivals| (linear in the bucket), never
  *     the |family|² a self-join would pay;
  *   - `span_dedup_sec` / `dedup_exact_sec` full-query walls on the
  *     hot corpus with the hot family's verdicts spot-checked
  *     (identical docs must report dup_frac 1.0 / is_dup).
  *
  * The small-scale twins of these pins live in DedupSpec ("degenerate
  * hot family" tests); this runner is the at-scale evidence the specs
  * extrapolate from.
  */
object StressDedup {
  import graft.operators.{Dedup, TextOps}

  private def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/sf1hot")
    val work = if (args.length > 1) args(1) else "/tmp/graft-stress"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val s = GraftSession.local(cpus)
    import s.implicits._

    val docsDf = graft.sources.Ingest.table(s, dir, "documents")
    val nDocs = docsDf.count()

    // The hot family: the most frequent normalized content hash. On a
    // --hot-pct P replica this is the planted key at ~P% of the corpus.
    val fam = docsDf
      .groupBy(Dedup.contentMd5(col("text")).as("ch"))
      .agg(count(lit(1)).as("n"), min(col("doc_id")).as("min_id"))
      .orderBy(desc("n")).limit(1).collect()(0)
    val famSize = fam.getLong(1)
    val famMinId = fam.getLong(2)
    val hotText = docsDf.filter(col("doc_id") === famMinId)
      .select(col("text")).collect()(0).getString(0)
    val maxId = docsDf.agg(max(col("doc_id"))).collect()(0).getLong(0)

    // 1. Index build over the hot corpus.
    val idx = s"$work/idx"
    val (_, tBuild) = timed { Dedup.buildDedupIndex(s, dir, idx) }
    val bandStats = s.read.parquet(s"$idx/bands")
      .groupBy("band", "bucket").agg(count(lit(1)).as("bsize"))
      .agg(max(col("bsize")).as("max_bucket"),
        sum(when(col("bsize") > 1000, 1L).otherwise(0L)).as("over_cap"))
      .collect()(0)

    // 2. Serve a half-hot increment: 500 re-deliveries of the hot text
    // (every one collides with the whole hot family in every band)
    // plus 500 normal docs re-keyed as arrivals.
    val hotArrivals = (1 to 500).map(i => (maxId + i, hotText)).toDF("doc_id", "text")
    val normal = docsDf.filter(Dedup.contentMd5(col("text")) =!= fam.getString(0))
      .orderBy("doc_id").limit(500)
      .select((col("doc_id") + maxId + 10000).as("doc_id"), col("text"))
    val arrivals = hotArrivals.unionByName(normal).materialized
    val (servedRows, tServe) = timed {
      Dedup.incrementalDedup(s, idx, arrivals).collect()
    }
    val hotServed = servedRows.filter(_.getLong(0) <= maxId + 500)
    val hotAllDup = hotServed.forall(r =>
      r.getBoolean(1) && r.getLong(2) == famMinId && r.getDouble(3) >= 0.999)

    // Linearity witness: candidate volume recomputed from the index
    // band table (the serve plan's first join, before distinct).
    val nsig = arrivals.select(col("doc_id"),
      graft.functions.WordNgramMinHash
        .column(col("text"), Dedup.IdxNgram, Dedup.IdxK, Dedup.IdxSeed).as("sig_arr"))
    val candPairs = s.read.parquet(s"$idx/bands")
      .join(Dedup.sigBandRows(nsig, Dedup.IdxBands, Dedup.IdxRows)
        .select(col("doc_id").as("id_new"), col("band"), col("bucket")),
        Seq("band", "bucket"))
      .select(col("doc_id"), col("id_new")).distinct().count()

    // 3. Full-query walls on the hot corpus.
    val (spanRows, tSpan) = timed {
      TextOps.qSpanDedup(s, dir)
        .filter(col("doc_id") % 100 === 0)
        .agg(count(lit(1)).as("n"), sum(when(!col("is_kept"), 1L).otherwise(0L)).as("n_dropped"))
        .collect()
    }
    val (exactRows, tExact) = timed {
      Dedup.qDedupExact(s, dir)
        .agg(sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_dups")).collect()
    }

    // 3b. Span EXCISE on the hot corpus (r16 #7): the rewrite half
    // rides the same canonical window pass; the hot family must
    // resolve as ONE representative keeping its copy and famSize−1
    // members excised to the empty string — group-sized work, never
    // window-mass × famSize.
    val emptyMd5 = "d41d8cd98f00b204e9800998ecf8427e"
    val famIds = docsDf
      .filter(Dedup.contentMd5(col("text")) === fam.getString(0))
      .select(col("doc_id"))
    val (exciseHot, tExcise) = timed {
      TextOps.qSpanExcise(s, dir)
        .join(famIds, "doc_id")
        .agg(count(lit(1)).as("n"),
          sum(when(col("kept_md5") === emptyMd5, 1L).otherwise(0L)).as("n_emptied"))
        .collect()
    }
    val exciseHotOk = exciseHot(0).getLong(0) == famSize &&
      exciseHot(0).getLong(1) == famSize - 1

    // 3c. Entity shelf (r16 #7): verified GROUP pairs must track
    // distinct records — on the replica (every register row m-deep)
    // the group-pair count is the DISTINCT register's, and best-match
    // folds at group granularity. Reported: groups vs records, group
    // pairs, and the best-match wall.
    val cust = graft.sources.Ingest.table(s, dir, "customer")
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"), col("c_mktsegment"))
    val nCust = cust.count()
    val (grpE, _) = Dedup.entityGroups(cust)
    val nGroups = grpE.count()
    val (nGroupPairs, tEntityPairs) = timed {
      Dedup.entityVerifiedGroupPairs(s, grpE).count()
    }
    val (_, tBestMatch) = timed { Dedup.qEntityBestMatch(s, dir).count() }

    // 4. The banded self-join (the one path with a quadratic risk):
    // above the salt cap (family > 1000, e.g. --hot-pct 5) the hot
    // bucket splits into ceil(s/cap) sub-buckets — pair work O(cap·s)
    // — and cappedBucketStats reports what the guard touched.
    val capStats = Dedup.cappedBucketStats(
      s.read.parquet(s"$idx/bands"), hotBucketCap = 1000).collect()(0)
    val (minhashPairs, tMinhash) = timed { Dedup.qDedupMinhash(s, dir).count() }

    // 5. Banding-curve depth independence: the curve runs over
    // Canonical distinct-text reps, so it must yield the IDENTICAL
    // frontier table as a 1-deep collapse of the same corpus (distinct
    // text, min doc_id) — the candidates-track-distinct-content
    // invariant measured per config, hot-family rewrites included.
    val (curveRows, tCurve) = timed {
      Dedup.qBandingCurve(s, dir).collect()
        .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4)))
    }
    // 6. Planted MEGA-BASKET: one crawler-scale
    // customer buying from EVERY supplier in the corpus — the
    // quadratic pair-generation key the basket cap bounds. The corpus
    // copy plants one extra order whose lineitems span all suppliers;
    // walls must stay in the unplanted class (work per key ≤ cap²,
    // not W²) and the cap census must report exactly one capped basket
    // of width W.
    val hb = s"$work/hotbasket"
    val orders = graft.sources.Ingest.table(s, dir, "orders")
    val lineitem = graft.sources.Ingest.table(s, dir, "lineitem")
    val maxOrder = orders.agg(max(col("o_orderkey"))).collect()(0).getLong(0)
    val maxCust = orders.agg(max(col("o_custkey"))).collect()(0).getLong(0)
    orders.unionByName(
        orders.limit(1)
          .withColumn("o_orderkey", lit(maxOrder + 1L))
          .withColumn("o_custkey", lit(maxCust + 1L)))
      .write.mode("overwrite").parquet(s"$hb/orders.parquet")
    val allSupps = lineitem.select(col("l_suppkey")).distinct()
    val megaWidth = allSupps.count()
    val megaLines = lineitem.limit(1).drop("l_suppkey")
      .crossJoin(allSupps)
      .withColumn("l_orderkey", lit(maxOrder + 1L))
    lineitem.unionByName(megaLines.select(lineitem.columns.map(col): _*))
      .write.mode("overwrite").parquet(s"$hb/lineitem.parquet")
    // in-harness unplanted baseline FIRST (same session, same heap
    // state) — the planted/unplanted ratio is the bounded-work claim,
    // and cross-session wall comparisons are GC-noise-confounded
    val (_, tBasketBase) = timed {
      graft.operators.Analytics.qBasketPairs(s, dir).count()
    }
    val (nBasketPairs, tBasket) = timed {
      graft.operators.Analytics.qBasketPairs(s, hb).count()
    }
    val (_, tLinkBase) = timed {
      graft.operators.Analytics.qLinkPredict(s, dir).count()
    }
    val (_, tLink) = timed {
      graft.operators.Analytics.qLinkPredict(s, hb).count()
    }
    val capB = graft.operators.Analytics.basketCapStats(s, hb).collect()(0)

    val oneDeep = s"$work/curve-onedeep"
    docsDf.groupBy(col("text"))
      .agg(min(col("doc_id")).as("doc_id"),
        first(col("lang")).as("lang"), first(col("source")).as("source"),
        first(col("n_chars")).as("n_chars"))
      .select("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$oneDeep/documents.parquet")
    val curveBase = Dedup.qBandingCurve(s, oneDeep).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4)))
    val curveDepthIndependent = curveRows.toSeq == curveBase.toSeq

    println(Seq(
      s""""corpus":"$dir"""",
      s""""n_docs":$nDocs""",
      s""""hot_family_size":$famSize""",
      s""""index_build_sec":${f"$tBuild%.2f"}""",
      s""""max_bucket":${bandStats.getLong(0)}""",
      s""""buckets_over_cap":${bandStats.getLong(1)}""",
      s""""serve_sec":${f"$tServe%.2f"}""",
      s""""n_arrivals":${servedRows.length}""",
      s""""hot_arrivals_all_dup":$hotAllDup""",
      s""""cand_pairs":$candPairs""",
      s""""span_dedup_sec":${f"$tSpan%.2f"}""",
      s""""span_hot_docs":${spanRows(0).getLong(0)}""",
      s""""span_hot_dropped":${spanRows(0).getLong(1)}""",
      s""""dedup_exact_sec":${f"$tExact%.2f"}""",
      s""""n_exact_dups":${exactRows(0).getLong(0)}""",
      s""""span_excise_sec":${f"$tExcise%.2f"}""",
      s""""excise_hot_family_ok":$exciseHotOk""",
      s""""n_customers":$nCust""",
      s""""n_entity_groups":$nGroups""",
      s""""n_entity_group_pairs":$nGroupPairs""",
      s""""entity_group_pairs_sec":${f"$tEntityPairs%.2f"}""",
      s""""entity_best_match_sec":${f"$tBestMatch%.2f"}""",
      s""""capped_buckets":${capStats.getLong(0)}""",
      s""""capped_members":${capStats.getLong(1)}""",
      s""""pair_sample_rate":${f"${capStats.getDouble(2)}%.3f"}""",
      s""""minhash_selfjoin_sec":${f"$tMinhash%.2f"}""",
      s""""minhash_pairs":$minhashPairs""",
      s""""mega_basket_width":$megaWidth""",
      s""""basket_pairs_base_sec":${f"$tBasketBase%.2f"}""",
      s""""basket_pairs_sec":${f"$tBasket%.2f"}""",
      s""""basket_pairs":$nBasketPairs""",
      s""""link_predict_base_sec":${f"$tLinkBase%.2f"}""",
      s""""link_predict_sec":${f"$tLink%.2f"}""",
      s""""capped_baskets":${capB.getLong(0)}""",
      s""""capped_basket_members":${capB.getLong(1)}""",
      s""""basket_keep_rate":${f"${capB.getDouble(2)}%.3f"}""",
      s""""banding_curve_sec":${f"$tCurve%.2f"}""",
      s""""curve_truth_pairs":${curveRows.headOption.map(_._4).getOrElse(0L)}""",
      s""""curve_depth_independent":$curveDepthIndependent"""
    ).mkString("{", ",", "}"))
    s.stop()
  }
}
