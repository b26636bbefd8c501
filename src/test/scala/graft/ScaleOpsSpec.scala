package graft

import org.apache.spark.sql.functions._

import graft.operators.{ScaleOps, Temporal}

/** Scale-pattern operators: semantic checks the oracle can't express
  * (equivalence between the skew-safe and naive formulations, approx
  * aggregate error bounds) plus the plan-shape tripwires.
  */
class ScaleOpsSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.plans(name)(spark, sf0001).queryExecution.executedPlan.toString

  test("q_skew_agg: two-phase plan — first shuffle on the high-cardinality composite") {
    val p = plan("q_skew_agg")
    val exchanges = p.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exchanges.size === 2, s"exactly two shuffles (pair condense + final):\n$p")
    assert(exchanges.exists(l => l.contains("event_type") && l.contains("user_id")),
      s"the first shuffle must spread hot types over (event_type, user_id):\n$p")
  }

  test("q_skew_agg matches the naive one-phase distinct aggregation") {
    val twoPhase = ScaleOps.qSkewAgg(spark, sf0001)
      .select("event_type", "n_users", "n_events").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val naive = graft.sources.Ingest.events(spark, sf0001)
      .groupBy("event_type")
      .agg(countDistinct("user_id").as("n_users"), count(lit(1)).as("n_events"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(twoPhase === naive)
  }

  test("q_cube: grouping sets are complete and consistent") {
    val rows = ScaleOps.qCube(spark, sf0001).collect()
    val total = graft.sources.Ingest.table(spark, sf0001, "orders").count()
    val grand = rows.filter(r => r.getInt(0) == -1 && r.getString(1) == "ALL")
    assert(grand.length === 1 && grand.head.getLong(2) === total,
      "the grand-total grouping set must count every order once")
    val years = rows.filter(r => r.getInt(0) != -1 && r.getString(1) == "ALL")
    assert(years.map(_.getLong(2)).sum === total,
      "per-year subtotals must partition the grand total")
    val prios = rows.filter(r => r.getInt(0) == -1 && r.getString(1) != "ALL")
    assert(prios.map(_.getLong(2)).sum === total,
      "per-priority subtotals must partition the grand total")
  }

  test("q_cube: one Expand + one aggregate shuffle, no re-scan per grouping set") {
    val p = plan("q_cube")
    assert(p.contains("Expand"), s"grouping sets must plan as Expand:\n$p")
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) === 1,
      s"all four grouping sets aggregate through ONE shuffle:\n$p")
    assert(p.linesIterator.count(_.contains("FileScan")) === 1,
      s"the fact must be scanned once, not once per grouping set:\n$p")
  }

  test("approx_percentile stays within rank error of the exact percentiles") {
    // The documented scale path for unbounded value domains: KLL-bounded
    // state. At accuracy 100 the rank error is ≤ 1%, i.e. ≤ a few
    // neighboring values of the 1..50 integer quantity domain.
    val exact = ScaleOps.qPercentiles(spark, sf0001).collect()
      .map(r => r.getString(0) -> (r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    val approx = graft.sources.Ingest.table(spark, sf0001, "lineitem")
      .groupBy("l_returnflag")
      .agg(approx_percentile(col("l_quantity"), array(lit(0.25), lit(0.5), lit(0.75)), lit(100))
        .as("qs"))
      .collect()
      .map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    assert(exact.keySet === approx.keySet)
    exact.foreach { case (k, (e25, e50, e75)) =>
      val a = approx(k)
      Seq(e25 -> a(0), e50 -> a(1), e75 -> a(2)).foreach { case (e, ap) =>
        assert(math.abs(e - ap) <= 2.0,
          s"group $k: approx $ap strays > 2 quantity units from exact $e")
      }
    }
  }

  test("q_json_extract: typed parse equals per-path extraction; malformed rows drop to null") {
    val s = spark
    import s.implicits._
    val viaPath = graft.sources.Ingest.events(spark, sf0001)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .filter(col("k") >= 50L)
      .groupBy("event_type").agg(count(lit(1)).as("n_hi"), sum("k").as("sum_k"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val viaTyped = ScaleOps.qJsonExtract(spark, sf0001)
      .select("event_type", "n_hi", "sum_k")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(viaTyped === viaPath)

    val malformed = Seq("""{"k": 7}""", """not json""", """{"k": null}""", "")
      .toDF("props")
      .select(from_json(col("props"), "k BIGINT", Map.empty[String, String])
        .getField("k").as("k"))
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
    assert(malformed.toSeq === Seq(Some(7L), None, None, None),
      "malformed/missing JSON must yield null, never throw mid-pipeline")
  }

  test("q_stats_moments: exact-moment statistics agree with Spark's builtin estimators") {
    // the row exists because builtin stddev/corr can't hash-match
    // across engines; this cross-validates the closed-form moments
    // against Spark's own Welford-style accumulators (tolerance: the
    // builtins' own numerical error)
    val got = graft.operators.ScaleOps.qStatsMoments(spark, sf0001).collect()
      .map(r => r.getString(0) -> (r.getDouble(2), r.getDouble(4), r.getDouble(5))).toMap
    val ref = graft.sources.Ingest.table(spark, sf0001, "lineitem")
      .groupBy("l_returnflag")
      .agg(avg("l_quantity").as("m"), stddev_samp("l_quantity").as("s"),
        corr(col("l_quantity"), col("l_extendedprice")).as("c"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(got.keySet === ref.keySet)
    got.foreach { case (k, (m, s, c)) =>
      val (rm, rs, rc) = ref(k)
      assert(math.abs(m - rm) < 1e-9 && math.abs(s - rs) < 1e-6 && math.abs(c - rc) < 1e-6,
        s"group $k: ($m,$s,$c) vs builtin ($rm,$rs,$rc)")
    }
  }

  test("q_group_topk: identical rows to the window formulation (q_window_rank)") {
    def rows(name: String) = SparkEntry.queries(name)(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSeq
    assert(rows("q_group_topk") === rows("q_window_rank"),
      "the heap aggregate must reproduce rank semantics exactly")
  }

  test("q_group_topk: partial ObjectHashAggregate before the brand shuffle, no Window/Sort rank") {
    val p = plan("q_group_topk")
    assert(p.contains("ObjectHashAggregate") && p.contains("graft_topk"),
      s"top-k must run as the custom typed aggregate:\n$p")
    assert(!p.contains("Window"), s"no window rank in the scale path:\n$p")
    // map-side partial: the k-bounded buffers are built BEFORE the
    // brand exchange (deeper in the plan tree = later lines)
    val lines = p.linesIterator.toSeq
    val exch = lines.indexWhere(l => l.contains("Exchange hashpartitioning(p_brand"))
    val partial = lines.indexWhere(l =>
      l.contains("ObjectHashAggregate") && l.contains("partial_graft_topk"))
    assert(exch >= 0 && partial > exch,
      s"partial top-k buffers must feed the shuffle, not raw rows:\n$p")
  }

  test("AQE splits a skewed sort-merge join at runtime (the standing skew story)") {
    // SURVEY §6 leans on AQE skew-join for hot keys the operators
    // don't pre-salt; this pins that the mechanism actually fires.
    // One key owns ~90% of the left side; with broadcast disabled and
    // the skew thresholds scaled to test-sized data, the final AQE
    // plan must mark the skewed partition split (`skew=true`).
    val s = spark
    import s.implicits._
    val conf = s.conf
    val saved = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.coalescePartitions.minPartitionSize"
    ).map(k => k -> conf.get(k))
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "20KB")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "20KB")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2.0")
      conf.set("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1KB")
      val left = (1L to 60000L)
        .map(i => (if (i % 10 != 0) 7L else i, i)).toDF("k", "payload")
      val right = (1L to 2000L).map(i => (i, i * 2)).toDF("k", "dim")
      val joined = left.join(right, "k")
      // execute THIS plan (a separate count() would finalize a
      // different AQE execution and leave this one unplanned)
      val n = joined.collect().length
      // 54000 hot-key rows (k=7) + the 200 multiples of 10 within the
      // right side's 1..2000 key domain
      assert(n === 54200)
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("skew=true"),
        s"AQE must split the hot-key partition (skew=true missing):\n$p")
    } finally saved.foreach { case (k, v) => conf.set(k, v) }
  }

  test("runtime bloom filter prunes the fact scan behind a selective dim-side filter") {
    // The second runtime row-pruning mechanism beside AQE skew-join:
    // when a shuffle join's small side carries a selective predicate,
    // Catalyst injects a bloom filter built from the small side as a
    // data filter on the FACT scan — at 100 TB that's the difference
    // between shuffling every fact row and shuffling only plausible
    // matches. Thresholds are test-scaled (the application-side floor
    // defaults to 10 GB); broadcast is disabled to force the shuffle
    // join shape the filter exists for.
    val conf = spark.conf
    val keys = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> conf.getOption(k))
    try {
      conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      val li = graft.sources.Ingest.table(spark, sf0001, "lineitem")
        .select("l_orderkey", "l_quantity")
      val ord = graft.sources.Ingest.table(spark, sf0001, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .select("o_orderkey")
      val joined = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("might_contain") && p.contains("bloom_filter_agg"),
        s"the fact scan must carry an injected bloom filter from the filtered dim side:\n$p")
      assert(joined.collect().nonEmpty, "the pruned join still returns the matches")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None)    => conf.unset(k)
    }
  }

  test("q_bloom_join: zero false negatives, pass = member + fp, map-only probe") {
    import graft.functions.{BloomContains, BloomHashing, BloomPositions}
    import org.apache.spark.sql.GraftBridge
    val rows = SparkEntry.plans("q_bloom_join")(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (probe, pass, member, fp) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      // a Bloom filter can lie only one way: every member must pass
      assert(pass === member + fp, s"pass must decompose into member + fp: $r")
      assert(member <= pass && pass <= probe, s"pass bracketed by member and probe: $r")
    }
    // row-level no-false-negative check against an exact recompute
    val salts = BloomHashing.salts(ScaleOps.BloomK, ScaleOps.BloomSeed).toSeq
    val build = graft.sources.Ingest.table(spark, sf0001, "customer")
      .filter(col("c_acctbal") < 0.0).select(col("c_custkey").as("bk"))
    val posArr = GraftBridge.column(
      BloomPositions(GraftBridge.expression(col("bk")), salts, ScaleOps.BloomM))
    val words = BloomHashing.pack(ScaleOps.BloomM,
      build.select(explode(posArr).as("p")).distinct().collect().map(_.getInt(0))).toSeq
    val passCol = GraftBridge.column(
      BloomContains(GraftBridge.expression(col("o_custkey")), salts, ScaleOps.BloomM, words))
    val probe = graft.sources.Ingest.table(spark, sf0001, "orders")
      .select(col("o_custkey")).withColumn("bloom_pass", passCol)
    val missed = probe.join(build, col("o_custkey") === col("bk"), "left_semi")
      .filter(!col("bloom_pass")).count()
    assert(missed === 0L, "a member key must never fail the filter")
    // production probe shape: the membership test is a map-only codegen
    // expression — no join, no exchange, no broadcast on the probe side
    val prod = probe.filter(col("bloom_pass"))
    val p = prod.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange") && !p.contains("Join"),
      s"bloom probe must not shuffle or join:\n$p")
    assert(p.contains("*(1) Filter"), s"probe must stay inside one codegen stage:\n$p")
    assert(prod.count() > 0L)
  }

  test("q_cms_audit: one-sided error (est >= exact) and per-row grid mass conservation") {
    import graft.functions.{BloomHashing, BloomPositions}
    import org.apache.spark.sql.GraftBridge
    val rows = SparkEntry.plans("q_cms_audit")(spark, sf0001).collect()
    assert(rows.nonEmpty && rows.length <= 20) // sf0.001 has < 20 users
    rows.foreach { r =>
      assert(r.getLong(2) >= r.getLong(1), s"CMS must never underestimate: $r")
      assert(r.getLong(3) >= 0L, s"over_ppm must be non-negative: $r")
    }
    // every grid row receives the full event mass — the property that
    // makes two grids mergeable by elementwise add
    val salts = BloomHashing.salts(ScaleOps.CmsK, ScaleOps.CmsSeed).toSeq
    val posArr = GraftBridge.column(
      BloomPositions(GraftBridge.expression(col("user_id")), salts, ScaleOps.CmsM))
    val total = graft.sources.Ingest.events(spark, sf0001).count()
    val perRow = graft.sources.Ingest.events(spark, sf0001)
      .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
      .select(col("n"), posexplode(posArr).as(Seq("j", "p")))
      .groupBy(col("j")).agg(sum(col("n")).as("mass"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
    assert(perRow.keySet === (0 until ScaleOps.CmsK).toSet)
    perRow.values.foreach(m => assert(m === total, "each sketch row carries all mass"))
  }

  test("q_join_estimate: CMS inner product upper-bounds the exact join size") {
    val r = SparkEntry.plans("q_join_estimate")(spark, sf0001).head()
    val (exact, est, over) = (r.getLong(0), r.getLong(1), r.getLong(2))
    // the true join is non-empty at every test SF; the sketch may only
    // overestimate (counts are non-negative — collisions only add)
    assert(exact > 0L)
    assert(est >= exact, s"CMS join estimate must never underestimate: $r")
    assert(over >= 0L)
    // and the estimate equals the exact size when the grid is
    // collision-free for these keys — not asserted, just documented:
    // sf0.001's 15 users can't saturate a 2048-wide grid
    assert(est === exact || over > 0L)
  }

  test("approx_count_distinct (HLL) stays within rsd of the exact two-phase distinct") {
    // The distinct-count scale path when even (key, user) pairs are too
    // many to shuffle: HLL sketches merge map-side, the shuffle carries
    // one sketch per key. Pinned against q_skew_agg's exact answer.
    val exact = graft.operators.ScaleOps.qSkewAgg(spark, sf0001)
      .select("event_type", "n_users").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val approx = graft.sources.Ingest.events(spark, sf0001)
      .groupBy("event_type")
      .agg(approx_count_distinct(col("user_id"), rsd = 0.05).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(exact.keySet === approx.keySet)
    exact.foreach { case (k, e) =>
      val a = approx(k)
      assert(math.abs(a - e).toDouble / e <= 0.15,
        s"group $k: HLL estimate $a strays > 3·rsd from exact $e")
    }
  }

  test("q_approx_distinct: exact counts pin q_skew_agg, HLL gate holds at rsd 0.01") {
    val exact = graft.operators.ScaleOps.qSkewAgg(spark, sf0001)
      .select("event_type", "n_users").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val rows = graft.operators.ScaleOps.qApproxDistinct(spark, sf0001).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(rows.keySet === exact.keySet)
    rows.foreach { case (k, (n, ok)) =>
      assert(n === exact(k), s"$k: exact branch must agree with q_skew_agg")
      assert(ok, s"$k: HLL at rsd=0.01 must sit within the 5% gate")
    }
  }

  test("q_scalar_subquery: Catalyst decorrelates to aggregate+join — no per-row re-scan") {
    val p = plan("q_scalar_subquery")
    assert(!p.contains("NestedLoop") && !p.contains("Cartesian"),
      s"correlated subqueries must decorrelate, not nested-loop:\n$p")
    assert(p.contains("HashAggregate"),
      s"expected the per-custkey count/sum aggregates in the plan:\n$p")
  }

  test("q_interval_join: equi-key join on user_id — never a nested-loop/cartesian plan") {
    val p = plan("q_interval_join")
    assert(!p.contains("NestedLoop") && !p.contains("Cartesian"),
      s"the time predicate must ride the user_id equi join, not a cross product:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin") ||
      p.contains("ShuffledHashJoin"), s"expected a keyed join:\n$p")
  }

  test("q_interval_join pairs agree with a window-filtered as-of expansion") {
    // Independent semantic witness: for every emitted pair, the click is
    // within the hour before its purchase; and every purchase with NO
    // pair truly has no qualifying click.
    val pairs = Temporal.qIntervalJoin(spark, sf0001).collect()
    assert(pairs.nonEmpty)
    pairs.foreach { r =>
      val lead = r.getLong(5)
      assert(lead >= 0L && lead <= 3600000L, s"pair outside the interval: $r")
    }
    val e = graft.sources.Ingest.events(spark, sf0001)
      .select("event_type", "user_id", "event_id", "ts_ms").collect()
    val clicksByUser = e.filter(_.getString(0) == "click")
      .groupBy(_.getLong(1)).view.mapValues(_.map(_.getLong(3))).toMap
    val expected = e.filter(_.getString(0) == "purchase").map { p =>
      val t = p.getLong(3)
      val n = clicksByUser.getOrElse(p.getLong(1), Array.empty[Long])
        .count(c => c >= t - 3600000L && c <= t)
      (p.getLong(2), n)
    }.filter(_._2 > 0).toMap
    val got = pairs.groupBy(_.getLong(1)).view.mapValues(_.length).toMap
    assert(got === expected, "per-purchase pair counts must match the brute-force witness")
  }

  test("q_zorder_layout: interleave matches a bitwise reference; buckets partition the table") {
    def zRef(a: Long, b: Long): Long =
      (0 until 16).map(i => (((a >> i) & 1L) << (2 * i + 1)) | (((b >> i) & 1L) << (2 * i))).sum
    val s = spark
    import s.implicits._
    val probes = Seq((5L, 3L), (0L, 0L), (65535L, 65535L), (12345L, 678L), (1L, 65536L))
    val got = probes.toDF("l_partkey", "l_suppkey")
      .selectExpr(ScaleOps.zorderExpr("l_partkey", "l_suppkey") + " AS z")
      .collect().map(_.getLong(0))
    val want = probes.map { case (a, b) => zRef(a, b) }
    assert(got.toSeq === want, "SQL interleave must equal the bitwise reference (low 16 bits)")

    val li = graft.sources.Ingest.table(spark, sf0001, "lineitem")
    val rows = ScaleOps.qZorderLayout(spark, sf0001).collect()
    assert(rows.map(_.getLong(1)).sum === li.count(), "buckets partition every row")
    rows.foreach { r =>
      assert(r.getLong(2) <= r.getLong(3) && r.getLong(4) <= r.getLong(5),
        "extent stats ordered")
    }
  }

  test("q_winsorize: fences and winsorized mean match an exact driver-side recompute") {
    val got = ScaleOps.qWinsorize(spark, sf0001).collect().map { r =>
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5), r.getDouble(6), r.getDouble(7))
    }.sortBy(_._1)
    assert(got.nonEmpty)
    val byFlag = graft.sources.Ingest.table(spark, sf0001, "lineitem")
      .select("l_returnflag", "l_quantity").collect()
      .map(r => (r.getString(0), r.getDouble(1))).groupBy(_._1)
    got.foreach { case (flag, n, nLo, nHi, lo, hi, meanRaw, meanW) =>
      val qs = byFlag(flag).map(_._2).sorted
      assert(n === qs.length.toLong)
      def pct(p: Double): Double = { // type-7 interpolation, as both engines
        val h = (qs.length - 1) * p
        val i = h.toInt
        if (i + 1 < qs.length) qs(i) * (1 - (h - i)) + qs(i + 1) * (h - i) else qs(i)
      }
      val (q25, q75) = (pct(0.25), pct(0.75))
      val (eLo, eHi) = (q25 - (q75 - q25) * 1.5, q75 + (q75 - q25) * 1.5)
      assert(lo === eLo && hi === eHi, s"$flag: fences must be the exact IQR bounds")
      assert(nLo === qs.count(_ < eLo).toLong && nHi === qs.count(_ > eHi).toLong,
        s"$flag: clamp counts must be exact")
      val clamped = qs.map(q => math.min(math.max(q, eLo), eHi))
      def exactMean(xs: Array[Double]): Double =
        (xs.map(x => BigDecimal(x).setScale(3)).sum / qs.length).toDouble
      assert(math.abs(meanRaw - exactMean(qs)) < 1e-9, s"$flag: raw mean")
      assert(math.abs(meanW - exactMean(clamped)) < 1e-9, s"$flag: winsorized mean")
      assert(meanW >= eLo && meanW <= eHi, "winsorized mean lies within the fences")
    }
  }

  test("q_kmv_overlap: planted overlaps — small pairs exact, sketched pairs within 4 sigma") {
    val s = spark
    import s.implicits._
    val dir = tempDir("kmv")
    // planted audiences: x∩y = 500 of 3500 union (sketched), s1∩s2 =
    // 21 of 80 union (below K=256 -> the exact fast path)
    val rows =
      (1L to 2000L).map(u => ("x", u)) ++
      (1501L to 3500L).map(u => ("y", u)) ++
      (1L to 50L).map(u => ("s1", u)) ++
      (30L to 80L).map(u => ("s2", u))
    rows.zipWithIndex.map { case ((t, u), i) =>
      (i.toLong, new java.sql.Timestamp(1700000000000L + i), u, t, 1.0, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")

    val got = ScaleOps.qKmvOverlap(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r).toMap
    val small = got(("s1", "s2"))
    assert(small.getLong(2) === 21L, "exact overlap of the planted small pair")
    assert(small.getLong(3) === 21L && small.getLong(4) === 0L,
      "union below K: the sketches ARE the sets, estimate exact")
    val big = got(("x", "y"))
    assert(big.getLong(2) === 500L, "exact overlap of the planted sketched pair")
    // KMV relative sd ~ 1/sqrt(K-2) ~ 6.3%; 4 sigma = 25%
    assert(big.getLong(3) >= 375L && big.getLong(3) <= 625L,
      s"sketched estimate within 4 sigma of 500, got ${big.getLong(3)}")
    got.values.foreach { r =>
      val (n, est, err) = (r.getLong(2), r.getLong(3), r.getLong(4))
      assert(err === (if (n == 0) 0L else (est - n) * 10000L / n),
        s"err_bp arithmetic: $r")
    }
  }
}
