package graft

import org.apache.spark.sql.functions._

import graft.operators.{Analytics, TextOps}

/** Behavioral/graph analytics: semantic invariants the oracle compare
  * can't express (mass conservation, funnel monotonicity, flattening
  * direction) plus determinism of the fixed-point PageRank.
  */
class AnalyticsSpec extends SparkSpec {

  test("q_triangles: counts match a brute-force adjacency enumeration") {
    val r = Analytics.qTriangles(spark, sf0001).head()
    val (nNodes, nEdges, nWedges, nTri) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    // brute-force reference on the same thresholded edge set
    val li = graft.sources.Ingest.table(spark, sf0001, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct()
    val edges = li.as("a").join(li.as("b"),
        col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
      .groupBy(col("a.pk").as("p1"), col("b.pk").as("p2"))
      .agg(count(lit(1)).as("sup"))
      .filter(col("sup") >= Analytics.TriMinSupport)
      .select("p1", "p2").collect().map(x => (x.getLong(0), x.getLong(1)))
    val adj = scala.collection.mutable.Map.empty[Long, Set[Long]].withDefaultValue(Set.empty)
    edges.foreach { case (a, b) => adj(a) += b; adj(b) += a }
    assert(nNodes === adj.size.toLong)
    assert(nEdges === edges.length.toLong)
    assert(nWedges === adj.values.map(s => s.size.toLong * (s.size - 1) / 2).sum)
    // count each triangle once via the id order a < b < c
    val bruteTri = edges.map { case (a, b) => (adj(a) & adj(b)).count(_ > b).toLong }.sum
    assert(nTri === bruteTri, s"degree-oriented count $nTri vs brute-force $bruteTri")
    assert(nTri > 0L, "the sf0.001 basket graph must contain triangles")
  }

  test("q_clustering_coeff: degree census matches a brute-force per-node recompute and reconciles with q_triangles") {
    val cc = Analytics.qClusteringCoeff(spark, sf0001).collect()
    val t = Analytics.qTriangles(spark, sf0001).head()
    assert(cc.map(_.getLong(1)).sum === t.getLong(0), "node census")
    assert(cc.map(_.getLong(3)).sum === t.getLong(2), "wedge census")
    assert(cc.map(_.getLong(2)).sum === 3L * t.getLong(3),
      "each triangle credits exactly its three vertices")
    // brute-force per-node LCC on the same thresholded edge set
    val li = graft.sources.Ingest.table(spark, sf0001, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct()
    val edges = li.as("a").join(li.as("b"),
        col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
      .groupBy(col("a.pk").as("p1"), col("b.pk").as("p2"))
      .agg(count(lit(1)).as("sup"))
      .filter(col("sup") >= Analytics.TriMinSupport)
      .select("p1", "p2").collect().map(x => (x.getLong(0), x.getLong(1)))
    val adj = scala.collection.mutable.Map.empty[Long, Set[Long]].withDefaultValue(Set.empty)
    edges.foreach { case (a, b) => adj(a) += b; adj(b) += a }
    val perNode = adj.toSeq.map { case (v, ns) =>
      val d = ns.size.toLong
      val triN = ns.toSeq.map(a => (adj(a) & ns).count(_ > a).toLong).sum
      val wed = d * (d - 1) / 2
      (d, triN, wed, if (wed == 0) 0L else triN * 1000000L / wed)
    }
    val byDeg = perNode.groupBy(_._1).map { case (d, rs) =>
      d -> (rs.size.toLong, rs.map(_._2).sum, rs.map(_._3).sum, rs.map(_._4).sum / rs.size)
    }
    assert(cc.length === byDeg.size)
    cc.foreach { r =>
      val (n, tri, wed, ppm) = byDeg(r.getLong(0))
      assert(r.getLong(1) === n && r.getLong(2) === tri &&
        r.getLong(3) === wed && r.getLong(4) === ppm,
        s"degree ${r.getLong(0)} row mismatch vs brute force")
    }
  }

  test("q_ewma and q_rolling_median: outputs match local recomputes of the daily series") {
    import graft.sources.Ingest
    val daily = Ingest.table(spark, sf0001, "orders")
      .groupBy(col("o_orderpriority"),
        expr("unix_millis(CAST(o_orderdate AS TIMESTAMP)) DIV 86400000").as("day"))
      .agg(expr("CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)").as("cents"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1).map { case (p, xs) => p -> xs.sortBy(_._2).map(x => (x._2, x._3)) }
    // EWMA: sequential double fold over the date-ordered dollar values
    val ewma = Analytics.qEwma(spark, sf0001).collect()
      .map(r => r.getString(0) -> (r.getInt(1), r.getDouble(2))).toMap
    daily.foreach { case (p, series) =>
      val vals = series.map(x => x._2.toDouble / 100.0)
      // the query folds the DECIMAL->double cast; cents/100 is exact
      // for 2-decimal prices, so the folds see identical doubles
      val expect = vals.tail.foldLeft(vals.head)((acc, x) => acc * 0.8 + x * 0.2)
      val (nDays, got) = ewma(p)
      assert(nDays === series.length)
      assert(got === expect, s"$p: fold mismatch $got vs $expect")
    }
    // rolling median: brute-force two central order stats per window
    val med = Analytics.qRollingMedian(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> (r.getInt(2), r.getLong(3))).toMap
    daily.foreach { case (p, series) =>
      series.indices.foreach { i =>
        val win = series.slice(math.max(0, i - 6), i + 1).map(_._2).sorted
        val exp2 = win((win.length - 1) / 2) + win(win.length / 2)
        val (n, got) = med((p, series(i)._1))
        assert(n === win.length && got === exp2,
          s"$p day ${series(i)._1}: med2 $got vs $exp2")
      }
    }
  }

  test("q_kcore: census matches a local peel simulation round for round") {
    val rows = Analytics.qKcore(spark, sf0001).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(rows.length === Analytics.KcoreRounds + 1)
    // independent reference: simulate the synchronous peel on the
    // collected edge list (tiny at sf0.001)
    val li = graft.sources.Ingest.table(spark, sf0001, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct()
    var edges = li.as("a").join(li.as("b"),
        col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
      .groupBy(col("a.pk").as("p1"), col("b.pk").as("p2"))
      .agg(count(lit(1)).as("sup"))
      .filter(col("sup") >= Analytics.TriMinSupport)
      .select("p1", "p2").collect().map(x => (x.getLong(0), x.getLong(1))).toVector
    def census(e: Vector[(Long, Long)]) =
      (e.flatMap(x => Seq(x._1, x._2)).distinct.size.toLong, e.size.toLong)
    var expect = Vector((0, census(edges)._1, census(edges)._2))
    for (r <- 1 to Analytics.KcoreRounds) {
      val deg = edges.flatMap(x => Seq(x._1, x._2)).groupBy(identity).map { case (k, v) => k -> v.size }
      val keep = deg.collect { case (nd, d) if d >= Analytics.KcoreK => nd }.toSet
      edges = edges.filter(x => keep(x._1) && keep(x._2))
      val c = census(edges)
      expect :+= ((r, c._1, c._2))
    }
    assert(rows.toVector === expect, "distributed peel must match the local simulation")
    // sf0.001's basket graph is dense enough that the 3-core may be the
    // whole graph — the invariants are monotone shrink + nonempty start
    assert(rows.head._2 > 0L && rows.head._3 > 0L)
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(b._2 <= a._2 && b._3 <= a._3, s"peel can only shrink: $a -> $b")
    }
  }

  test("q_pagerank: rank mass is conserved within DIV-truncation leakage, bit-deterministic") {
    def run() = Analytics.qPagerank(spark, sf0001).collect()
      .map(r => ((r.getString(0), r.getLong(1)), r.getLong(2))).sortBy(_._1)
    val r1 = run()
    val n = r1.length
    assert(n > 0)
    assert(r1.forall(_._2 >= 150000L), "damping floor: every rank ≥ 0.15 mass")
    val total = r1.map(_._2).sum
    // Σr' = 0.15·N·10^6 + 0.85·Σr − truncation ⇒ fixed point ≈ N·10^6,
    // approached from below (every DIV truncates toward zero).
    assert(total <= n * 1000000L, s"mass cannot exceed N·scale: $total vs ${n * 1000000L}")
    assert(total >= (n * 1000000L * 97) / 100,
      s"truncation leakage must stay under 3%: $total vs ${n * 1000000L}")
    assert(r1 === run(), "integer fixed-point ranks must be bit-identical across runs")
  }

  test("q_pagerank: both node families present, no node ranked twice") {
    val keys = Analytics.qPagerank(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(keys.distinct.length === keys.length, "one rank row per node")
    assert(keys.exists(_._1 == "customer") && keys.exists(_._1 == "supplier"),
      "bipartite traversal must rank customers AND suppliers")
  }

  test("q_hits: exact driver-side replay of the two mutual-reinforcement rounds") {
    // rebuild the directed bipartite graph and replay HITS in plain
    // Scala — same fixed-point rules (BIGINT sums, max-normalize DIV)
    val ord = graft.sources.Ingest.table(spark, sf0001, "orders")
      .select("o_orderkey", "o_custkey").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val edges = graft.sources.Ingest.table(spark, sf0001, "lineitem")
      .select("l_orderkey", "l_suppkey").collect()
      .map(r => (ord(r.getLong(0)), r.getLong(1))).distinct
    var h = edges.map(_._1).distinct.map(_ -> 1000000L).toMap
    var a = Map.empty[Long, Long]
    for (_ <- 1 to 2) {
      val ar = edges.groupBy(_._2).view.mapValues(_.map(e => h(e._1)).sum).toMap
      val amx = ar.values.max
      a = ar.view.mapValues(v => v * 1000000L / amx).toMap
      val hr = edges.groupBy(_._1).view.mapValues(_.map(e => a(e._2)).sum).toMap
      val hmx = hr.values.max
      h = hr.view.mapValues(v => v * 1000000L / hmx).toMap
    }
    val got = Analytics.qHits(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got.size === h.size + a.size, "one score row per node")
    h.foreach { case (c, v) => assert(got(("customer", c)) === v, s"hub $c") }
    a.foreach { case (s0, v) => assert(got(("supplier", s0)) === v, s"authority $s0") }
    // max-normalization: the top hub and top authority sit exactly at scale
    assert(got.filterKeys(_._1 == "customer").values.max === 1000000L)
    assert(got.filterKeys(_._1 == "supplier").values.max === 1000000L)
  }

  test("q_funnel: stage timestamps strictly ordered, stage counts monotone") {
    val rows = Analytics.qFunnel(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val view = r.getLong(1)
      if (!r.isNullAt(2)) assert(r.getLong(2) > view, "first click after first view")
      if (!r.isNullAt(3)) {
        assert(!r.isNullAt(2), "a purchase stage requires a click stage")
        assert(r.getLong(3) > r.getLong(2), "first purchase after first click")
      }
      val expected = if (!r.isNullAt(3)) 3 else if (!r.isNullAt(2)) 2 else 1
      assert(r.getInt(4) === expected)
    }
    val byStage = rows.groupBy(_.getInt(4)).view.mapValues(_.length)
    val s1 = rows.length
    val s2 = byStage.getOrElse(2, 0) + byStage.getOrElse(3, 0)
    val s3 = byStage.getOrElse(3, 0)
    assert(s1 >= s2 && s2 >= s3, s"funnel must narrow: $s1 ≥ $s2 ≥ $s3")
  }

  test("q_retention: cohort week-0 row is the cohort's maximum") {
    val rows = Analytics.qRetention(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.forall(_._2 >= 0L), "offsets are relative to the cohort week")
    rows.groupBy(_._1).foreach { case (week, rs) =>
      val zero = rs.find(_._2 == 0L)
      assert(zero.isDefined, s"cohort $week must be active in its own week")
      assert(rs.forall(_._3 <= zero.get._3),
        s"cohort $week: no later week can exceed the cohort size")
    }
  }

  test("q_histogram: bins partition the orders, bounds honored") {
    val rows = Analytics.qHistogram(spark, sf0001).collect()
    val total = graft.sources.Ingest.table(spark, sf0001, "orders").count()
    assert(rows.map(_.getLong(2)).sum === total, "every order lands in exactly one bin")
    rows.foreach { r =>
      val lo = r.getLong(1).toDouble
      assert(r.getDouble(3) >= lo && r.getDouble(4) < lo + 1000d,
        s"bin ${r.getLong(0)}: min/max must fall inside [lo, lo+width)")
    }
  }

  test("q_mix_temperature: shares sum to 1 and flatten the head/tail spread") {
    val tmp = TextOps.qMixTemperature(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(3))).sortBy(_._1)
    assert(math.abs(tmp.map(_._3).sum - 1.0) < 1e-9, "shares must sum to 1")
    val raw = TextOps.qMixBudget(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getDouble(3))).sortBy(_._1)
    val head = raw.maxBy(_._2)._1
    val tail = raw.minBy(_._2)._1
    val tmpMap = tmp.map(t => t._1 -> t._3).toMap
    val rawMap = raw.toMap
    assert(tmpMap(head) < rawMap(head), "α=0.5 must down-weight the head language")
    assert(tmpMap(tail) > rawMap(tail), "α=0.5 must up-weight the tail language")
  }

  test("q_curriculum: ranks are a permutation, deciles are balanced, order respects length") {
    val rows = TextOps.qCurriculum(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val n = rows.length
    assert(rows.map(_._3).sorted === (1L to n).toArray, "ranks must be 1..n exactly once")
    val byRank = rows.sortBy(_._3)
    assert(byRank.sliding(2).forall { case Array(a, b) => a._2 <= b._2 },
      "n_chars must be nondecreasing in rank")
    rows.groupBy(_._4).foreach { case (d, rs) =>
      assert(d >= 0 && d <= 9, s"decile $d out of range")
      assert(math.abs(rs.length - n / 10) <= 1, s"decile $d unbalanced: ${rs.length}")
    }
  }

  test("q_transition_matrix: step counts conserve events; _start rows count users once") {
    val e = graft.sources.Ingest.events(spark, sf0001)
    val nEvents = e.count()
    val nUsers = e.select("user_id").distinct().count()
    val rows = Analytics.qTransitionMatrix(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(rows.map(_._3).sum === nEvents, "every event is exactly one step")
    val starts = rows.filter(_._1 == "_start")
    assert(starts.map(_._3).sum === nUsers, "each user starts exactly once")
    rows.groupBy(_._1).foreach { case (prev, rs) =>
      val tot = rs.map(_._3).sum
      assert(rs.forall(_._4 == tot), s"n_from_prev must equal the $prev row-group sum")
    }
  }

  test("q_components: labels are component-consistent minima and never exceed own id") {
    val rows = Analytics.qComponents(spark, sf0001).collect()
      .map(r => ((r.getString(0), r.getLong(1)), r.getLong(2)))
    assert(rows.nonEmpty)
    rows.foreach { case ((tpe, id), comp) =>
      val own = if (tpe == "customer") id * 2 else id * 2 + 1
      assert(comp <= own, "min-propagation can only lower a label")
    }
    // every label must itself be a node id that carries that label
    // (a component representative labels itself)
    val byNode = rows.toMap
    rows.map(_._2).distinct.foreach { comp =>
      val key = if (comp % 2 == 0) ("customer", comp / 2) else ("supplier", comp / 2)
      assert(byNode(key) === comp, s"representative $key must keep label $comp")
    }
  }

  /** VERDICT r18 #6: the bounded-round contract must be OBSERVABLE. On
    * a path graph longer than the round bound the census reports
    * nonzero final-round movement (the run SEES the truncation); a
    * zero final round is a true fixpoint certificate — min-label
    * propagation is monotone, so a round that moved nothing has
    * nothing left to move.
    */
  test("q_components: moved-label census sees a too-small bound; zero certifies the fixpoint") {
    val s = spark
    import s.implicits._
    val dir = tempDir("ccpath")
    // bipartite path c0-s0-c1-s1-…-c10 (diameter 20 ≫ 3 rounds):
    // order 2k joins customer k to supplier k; order 2k+1 joins
    // customer k+1 to supplier k
    val orders = (0 until 10).flatMap(k =>
      Seq((2L * k, k.toLong), (2L * k + 1, k + 1L)))
    val lineitem = (0 until 10).flatMap(k =>
      Seq((2L * k, k.toLong), (2L * k + 1, k.toLong)))
    orders.toDF("o_orderkey", "o_custkey")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    lineitem.toDF("l_orderkey", "l_suppkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val rows = Analytics.qComponents(spark, dir).collect()
    val moved = (1 to 5).map(r => rows.head.getAs[Long](s"moved_r$r"))
    info(s"path-graph census: ${moved.zipWithIndex.map { case (m, i) => s"moved_r${i + 1}=$m" }.mkString(" ")}")
    assert(rows.forall(r => r.getAs[Long]("moved_r5") === moved.last),
      "the census is a corpus-level constant on every node row")
    assert(moved.last > 0,
      "a diameter-20 path cannot converge in 5 rounds — the census must SAY so")
    assert(rows.map(_.getLong(2)).distinct.length > 1,
      "truncated labels on a single component stay split — the nonzero census is the tell")
    // the sf0.001 corpus converges inside the bound: final round moved 0,
    // which (by monotonicity) certifies the labels are the fixpoint
    val conv = Analytics.qComponents(spark, sf0001).collect()
    assert(conv.head.getAs[Long]("moved_r5") === 0L,
      "sf0.001 converges well inside 5 rounds; its census certificate must be zero")
  }

  test("q_degree_stats: degree mass equals the bidirectional edge count, split evenly by side") {
    val rows = Analytics.qDegreeStats(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty)
    val mass = rows.groupBy(_._1).view.mapValues(_.map(t => t._2 * t._3).sum).toMap
    // bipartite: every edge contributes one endpoint-degree to each side
    assert(mass("customer") === mass("supplier"),
      s"customer and supplier degree mass must both equal |E|: $mass")
    assert(rows.forall(_._2 >= 1L), "a node in the degree table has degree ≥ 1")
  }

  test("q_basket_pairs: support bounded by sides, fixed-point measures recompute exactly") {
    val rows = Analytics.qBasketPairs(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6), r.getLong(7)))
    assert(rows.nonEmpty, "sf0.001 must contain supplier pairs over min support")
    val keys = rows.map(t => (t._1, t._2))
    assert(keys.distinct.length === keys.length, "one row per unordered pair")
    assert(keys.forall(k => k._1 < k._2), "pairs are canonically ordered a < b")
    // n_cust is recoverable from any row: lift = support·N·10^6 // (n_a·n_b)
    val nCust = {
      val t = rows.head
      // invert the fixed-point DIV within its truncation bracket
      val lo = t._8 * t._4 * t._5 / (t._3 * 1000000L)
      (lo to lo + 1).find(n => t._8 === t._3 * n * 1000000L / (t._4 * t._5))
        .getOrElse(fail("lift not invertible"))
    }
    rows.foreach { case (_, _, sup, na, nb, ca, cb, lift) =>
      assert(sup <= math.min(na, nb), "support cannot exceed either side total")
      assert(ca === sup * 10000L / na && cb === sup * 10000L / nb,
        "confidence basis points must recompute exactly")
      assert(lift === sup * nCust * 1000000L / (na * nb),
        "lift fixed-point must recompute exactly from one shared N")
    }
  }

  /** The basket cap must (a) bind nothing on a normal corpus, (b)
    * keep EXACTLY cap members of an over-wide basket, selected by the
    * md5-rank rule the oracle replays — pinned against a driver-side
    * MessageDigest recompute — and (c) report the capped basket in
    * the census audit.
    */
  test("basket cap: inert below the cap, deterministic md5-rank sample above it") {
    val s = spark
    import s.implicits._
    // (a) inert on the real corpus: the census reports zero capped
    // baskets (widths ≪ cap), so capped output == uncapped output
    val inert = Analytics.basketCapStats(spark, sf0001).collect()(0)
    assert(inert.getLong(0) === 0L,
      "no sf0.001 basket approaches the cap — the guard must bind nothing")

    // (b) a planted 40-wide basket at cap=8 keeps the 8 suppliers
    // with the smallest (md5("cust~supp"), supp)
    val wide = (1L to 40L).map(sp => (7L, sp)).toDF("cust", "supp")
    val kept = Analytics.cappedBaskets(wide, cap = 8)
      .collect().map(_.getLong(1)).toSet
    assert(kept.size === 8, s"cap=8 must keep exactly 8 members, got ${kept.size}")
    def md5hex(x: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(x.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val expect = (1L to 40L).sortBy(sp => (md5hex(s"7~$sp"), sp)).take(8).toSet
    assert(kept === expect,
      "the kept sample must follow the oracle-replayable md5-rank rule")

    // (c) the census sees it
    val stats = Analytics.cappedBaskets(wide, cap = 8) // warm path only
    val census = wide.groupBy(col("cust"))
      .agg(org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("bw"))
      .filter(col("bw") > 8).count()
    assert(census === 1L && stats.count() === 8L)
  }

  test("q_gap_fill: calendar is contiguous, gaps are explicit zeros, non-gaps match the raw agg") {
    val rows = Analytics.qGapFill(spark, sf0001).collect()
      .map(r => (r.getDate(0).toLocalDate, r.getLong(1), r.getDouble(2), r.getBoolean(3)))
      .sortBy(_._1.toEpochDay)
    assert(rows.nonEmpty)
    val span = rows.last._1.toEpochDay - rows.head._1.toEpochDay + 1
    assert(rows.length.toLong === span, "every calendar day between min and max present exactly once")
    rows.foreach { case (_, n, tot, gap) =>
      if (gap) assert(n === 0L && tot === 0.0, "a gap day is an explicit zero row")
      else assert(n > 0L, "a non-gap day keeps its real count")
    }
    val raw = graft.sources.Ingest.table(spark, sf0001, "orders")
      .groupBy(col("o_orderdate").cast("date").as("d")).count().collect()
      .map(r => r.getDate(0).toLocalDate -> r.getLong(1)).toMap
    assert(rows.filter(!_._4).forall { case (d, n, _, _) => raw(d) === n },
      "filled series must agree with the raw daily aggregate")
    assert(rows.count(_._4) === span - raw.size, "gap count is the missing-day count")
  }

  test("q_session_path: prefixes bounded at 5 steps, counts ranked, paths from real types") {
    val rows = Analytics.qSessionPath(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(rows.nonEmpty && rows.length <= 20)
    val counts = rows.map(_._2)
    assert(counts.zip(counts.tail).forall { case (a, b) => a >= b },
      "top-k must arrive count-descending")
    val types = graft.sources.Ingest.events(spark, sf0001)
      .select("event_type").distinct().collect().map(_.getString(0)).toSet
    rows.foreach { case (path, n) =>
      val steps = path.split(">")
      assert(steps.nonEmpty && steps.length <= 5, s"path '$path' must have 1..5 steps")
      assert(steps.forall(types.contains), s"path '$path' must be built from real event types")
      assert(n >= 1L)
    }
  }

  test("q_moving_avg: frame average stays within the frame's min/max daily totals") {
    val rows = Analytics.qMovingAvg(spark, sf0001).collect()
      .map(r => (r.getDate(0).toString, r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .sortBy(_._1)
    assert(rows.nonEmpty)
    rows.indices.foreach { i =>
      val frame = rows.slice(math.max(0, i - 6), i + 1).map(_._3)
      assert(rows(i)._4 >= frame.min - 1e-9 && rows(i)._4 <= frame.max + 1e-9,
        s"ma7 at ${rows(i)._1} must lie within its frame envelope")
      val exact = frame.map(BigDecimal(_)).sum.toDouble / frame.length
      assert(math.abs(rows(i)._4 - exact) < 1e-6,
        "frame mean must match a driver-side recompute")
    }
  }

  test("q_label_prop: exact driver-side replay of the two synchronous rounds") {
    val s = spark
    import s.implicits._
    val edges = graft.sources.Ingest.table(s, sf0001, "orders")
      .join(graft.sources.Ingest.table(s, sf0001, "lineitem"),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("cust"), col("l_suppkey").as("supp"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val seed = graft.sources.Ingest.table(s, sf0001, "supplier")
      .select("s_suppkey", "s_nationkey").collect()
      .map(r => r.getLong(0) -> r.getInt(1).toLong).toMap
    def argmax(votes: Seq[Long]): (Long, Long) =
      votes.groupBy(identity).view.mapValues(_.length.toLong).toSeq
        .sortBy { case (lbl, n) => (-n, lbl) }.head
    val custLbl = edges.groupBy(_._1).view.mapValues(es =>
      argmax(es.map(e => seed(e._2)))._1).toMap
    val want = edges.groupBy(_._2).view.mapValues(es =>
      argmax(es.map(e => custLbl(e._1)))).toMap
    val got = Analytics.qLabelProp(spark, sf0001).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    assert(got.keySet === want.keySet, "every supplier with customers labels")
    got.foreach { case (supp, (seedN, prop, votes, flipped)) =>
      assert(seedN === seed(supp))
      assert((prop, votes) === want(supp), s"supplier $supp propagated label/votes")
      assert(flipped === (if (prop != seedN) 1L else 0L))
    }
  }

  test("q_graph_modularity: exact recompute from the LPA labels; degree identity holds") {
    val s = spark
    import s.implicits._
    val edges = graft.sources.Ingest.table(s, sf0001, "orders")
      .join(graft.sources.Ingest.table(s, sf0001, "lineitem"),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("cust"), col("l_suppkey").as("supp"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val seed = graft.sources.Ingest.table(s, sf0001, "supplier")
      .select("s_suppkey", "s_nationkey").collect()
      .map(r => r.getLong(0) -> r.getInt(1).toLong).toMap
    def argmax(votes: Seq[Long]): Long =
      votes.groupBy(identity).view.mapValues(_.length).toSeq
        .sortBy { case (lbl, n) => (-n, lbl) }.head._1
    val custLbl = edges.groupBy(_._1).view.mapValues(es => argmax(es.map(e => seed(e._2)))).toMap
    val suppLbl = edges.groupBy(_._2).view.mapValues(es => argmax(es.map(e => custLbl(e._1)))).toMap
    val m = edges.length.toLong
    val ein = edges.filter(e => custLbl(e._1) == suppLbl(e._2))
      .groupBy(e => custLbl(e._1)).view.mapValues(_.length.toLong).toMap
    val dByComm = (edges.groupBy(_._1).toSeq.map { case (c, es) => (custLbl(c), es.length.toLong) } ++
      edges.groupBy(_._2).toSeq.map { case (p, es) => (suppLbl(p), es.length.toLong) })
      .groupBy(_._1).view.mapValues(ds => (ds.length.toLong, ds.map(_._2).sum)).toMap
    val got = Analytics.qGraphModularity(spark, sf0001).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .toMap
    assert(got.keySet === dByComm.keySet)
    got.foreach { case (comm, (nNodes, eIn, dTot, mm, contrib)) =>
      assert(mm === m)
      assert((nNodes, dTot) === dByComm(comm), s"community $comm node/degree totals")
      assert(eIn === ein.getOrElse(comm, 0L), s"community $comm within-edges")
      assert(contrib === ((4 * m * eIn - dTot * dTot) * 1000000L) / (4 * m * m))
    }
    assert(got.values.map(_._3).sum === 2 * m, "sum of community degrees = 2m")
    assert(got.values.map(_._2).sum <= m, "within-edges cannot exceed m")
  }

  test("q_link_predict: reconciles with basket pairs; AA weighting bounded and ordered") {
    val links = Analytics.qLinkPredict(spark, sf0001).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getLong(3), r.getLong(4))))
    assert(links.nonEmpty && links.length <= 50)
    // support for every surfaced pair must equal q_basket_pairs' count
    // (same shared graph checkpoint, same pair definition)
    val baskets = Analytics.qBasketPairs(spark, sf0001).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    links.foreach { case (pair, (support, aa, jac)) =>
      assert(baskets(pair) === support, s"pair $pair support mismatch vs basket_pairs")
      // each common customer contributes 100 DIV bitlen(deg) ∈ [1, 100]
      assert(aa >= support && aa <= 100L * support, s"pair $pair AA out of bounds")
      assert(jac >= 0L && jac <= 1000000L)
    }
    val aas = links.map(_._2._2)
    assert(aas.zip(aas.tail).forall { case (a, b) => a >= b },
      "rows must be ranked by aa_centi descending")
  }
}
