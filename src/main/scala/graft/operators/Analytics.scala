package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.plans.Materialize._
import graft.plans.TopK
import graft.sources.Ingest

/** Behavioral / graph analytics (SURVEY.md §2 rows 64-67): iterative
  * graph centrality, funnel conversion, cohort retention, and
  * fixed-width histograms — the reporting shapes that sit one step
  * beyond the reference's star-schema dashboard feed
  * (ref dags/ELT.py:286-321) in any production deployment of it.
  *
  * Determinism rule for this module: every derived number is INTEGER
  * arithmetic (fixed-point ranks, epoch-day buckets, floor bins) or a
  * single IEEE-deterministic double op (floor, one division), so the
  * DuckDB oracle reproduces results bit-exactly — no FP accumulation
  * order anywhere (SURVEY §4).
  */
object Analytics {

  private val PrIters = 3
  private val PrScale = 1000000L // rank mass fixed-point scale (10^6)

  /** The customer↔supplier co-purchase graph shared by [[qPagerank]]
    * and [[qComponents]]: an edge per distinct (customer, supplier)
    * pair in orders⋈lineitem, both directions. Nodes are
    * integer-encoded (customer 2k, supplier 2k+1 — disjoint id
    * spaces): a 'c'||id string key costs 2-3× in shuffle bytes and
    * hash time in every iteration. Materialized ONCE via
    * [[graft.plans.Materialize]] (eager localCheckpoint by default; a
    * production run on preemptible executors flips
    * `spark.graft.checkpoint.reliable=true` for a reliable
    * checkpoint): an unrolled iterative plan otherwise re-derives the
    * orders⋈lineitem join in every round's subtree.
    *
    * Returns (edges(src,dst), degrees(nd,d)). Degree does NOT ride on
    * the edges (an earlier shape joined it onto every edge row — that
    * cost a full-edge shuffle join in the build and fattened the
    * checkpoint by a third; profiled at sf0.1 the build dominated both
    * graph queries). Node-sized state (degrees, ranks, labels) lives
    * in its own table: per-iteration joins against it are sized by the
    * NODE count, which AQE broadcasts while it fits and shuffles when
    * it doesn't — the correct call at both 16k and 10^9 nodes.
    */
  private val graphCache = new graft.plans.SessionCache[(DataFrame, DataFrame)]

  /** Build-once-serve-many: every graph query in a session shares ONE
    * materialization of the co-purchase graph (same contract as
    * `Ann.buildIvfIndex`'s persisted index). Without the cache each of
    * q_pagerank / q_components / q_basket_pairs / q_degree_stats pays
    * the orders⋈lineitem distinct build again — at 100 TB that is the
    * single most expensive stage in all four queries, re-run per
    * query. Keyed by (session, dir): checkpoints are session-scoped,
    * and a different data dir is a different graph. The cached edge
    * list is node/edge-sized, held for the session lifetime — the
    * production analog is a checkpointed graph table refreshed per
    * load, not per dashboard query.
    *
    * STALENESS CONTRACT (shared with [[partEdgeCache]]):
    * a cache entry reflects the source tables AS OF the first graph
    * query of the session against that dir. Entries are never
    * invalidated by data changes under the dir — the engine's data
    * dirs are immutable snapshots (the driver regenerates into fresh
    * paths), so within a session a dir always denotes one dataset
    * version. A caller that rewrites a dir in place within a session
    * must call [[clearGraphCaches]] first, or the next graph query
    * serves the pre-rewrite graph.
    */
  private def copurchaseGraph(s: SparkSession, dir: String): (DataFrame, DataFrame) =
    graphCache.getOrElseUpdate(s, dir)(buildCopurchaseGraph(s, dir))

  /** Drop every session-scoped graph materialization (see the
    * staleness contract on [[copurchaseGraph]]). For callers that
    * rewrite a data dir in place mid-session.
    */
  def clearGraphCaches(): Unit = {
    graphCache.clear()
    partEdgeCache.clear()
  }

  private def buildCopurchaseGraph(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val ord = Ingest.table(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
    val li  = Ingest.table(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
    // checkpoint the DISTINCT pair list, not the bidirectional union:
    // unionAll duplicates its input subtree, so a union-then-checkpoint
    // build paid the join+distinct twice and wrote 2× the rows; the
    // union here is a map-only view over the checkpointed pairs.
    val e = ord.join(li, col("o_orderkey") === col("l_orderkey"))
      .select(
        (col("o_custkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst"))
      .distinct()
      .materialized
    val eb = e.unionAll(e.select(col("dst").as("src"), col("src").as("dst")))
    // one partial-aggregated pass over the checkpointed pairs; node-sized
    val deg = eb.groupBy(col("src").as("nd")).agg(count(lit(1)).as("d"))
      .materialized
    (eb, deg)
  }

  /** PageRank over the co-purchase graph ([[copurchaseEdges]]). The
    * update is the standard damped iteration r' = 0.15 + 0.85·Σ r/d,
    * run in FIXED-POINT integer arithmetic (mass scale 10^6, damping
    * 85/100 with integral DIV): float contributions would sum in
    * partition-dependent order and drift across runs/engines; integer
    * sums are exact and associative, so ranks are bit-reproducible
    * anywhere. Headroom: 85·Σr stays under 2^63 up to ~10^11 graph
    * nodes at this scale — audit before raising PrScale.
    *
    * Shape at scale: the classic Pregel loop as pure DataFrame ops.
    * Each node's out-contribution r DIV d is computed ONCE per round
    * on the node-sized rank⋈degree join (not per edge — r DIV d is
    * constant per source node, so summing the pre-divided value is
    * bit-identical); each round is then one edges⋈contributions join
    * and ONE partial aggregate on dst. The contributions side is
    * node-sized: AQE broadcasts it while small and shuffles it at
    * 10^9 nodes. Iteration count is fixed and small (3), so lineage
    * stays shallow.
    */
  def qPagerank(s: SparkSession, dir: String): DataFrame = {
    val (eb, deg) = copurchaseGraph(s, dir)
    var r = deg.select(col("nd"), lit(PrScale).as("r"))
    for (_ <- 1 to PrIters) {
      val contrib = r.join(deg, "nd").select(col("nd"), expr("r DIV d").as("c"))
      r = eb.join(contrib, eb("src") === contrib("nd"))
        .groupBy(col("dst"))
        .agg(sum(col("c")).as("m"))
        .select(col("dst").as("nd"),
          expr(s"${PrScale * 15 / 100} + (85 * m) DIV 100").as("r"))
    }
    r.select(
      when(col("nd") % 2 === 0, "customer").otherwise("supplier").as("node_type"),
      expr("nd DIV 2").as("node_id"), col("r"))
  }

  val qPagerankSql: String = {
    def step(prev: String, out: String): String =
      s"""$out AS (
         |  SELECT eb.dst AS nd,
         |    150000 + (85 * CAST(SUM($prev.r // deg.d) AS BIGINT)) // 100 AS r
         |  FROM eb JOIN deg ON eb.src = deg.src JOIN $prev ON eb.src = $prev.nd
         |  GROUP BY eb.dst)""".stripMargin
    s"""WITH e AS (
       |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
       |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
       |eb AS (SELECT src, dst FROM e UNION ALL SELECT dst AS src, src AS dst FROM e),
       |deg AS (SELECT src, COUNT(*) AS d FROM eb GROUP BY src),
       |r0 AS (SELECT src AS nd, CAST(1000000 AS BIGINT) AS r FROM deg),
       |${step("r0", "r1")},
       |${step("r1", "r2")},
       |${step("r2", "r3")}
       |SELECT CASE WHEN nd % 2 = 0 THEN 'customer' ELSE 'supplier' END AS node_type,
       |  nd // 2 AS node_id, CAST(r AS BIGINT) AS r
       |FROM r3 ORDER BY node_type, node_id""".stripMargin
  }

  private val HitsScale = 1000000L

  /** HITS hubs & authorities (Kleinberg 1999, "Authoritative sources
    * in a hyperlinked environment") over the DIRECTED half of the
    * co-purchase graph — the bipartite twin of [[qPagerank]]'s damped
    * centrality: customers are HUBS (they point at suppliers),
    * suppliers are AUTHORITIES, and two mutual-reinforcement rounds
    * score both sides (a ← Σ h over in-edges, h ← Σ a over
    * out-edges). Where PageRank ranks by random-walk mass, HITS
    * separates "buys broadly from good suppliers" from "supplies the
    * good buyers" — the two-sided view a marketplace/procurement
    * analysis wants.
    *
    * Fixed-point integer arithmetic throughout (the [[qPagerank]]
    * discipline): per half-round, raw scores are exact BIGINT sums and
    * normalization is `x·10⁶ DIV max(raw)` — MAX-normalization, the
    * classic HITS choice, because it is integer-exact (L2 needs a
    * sqrt) and keeps precision (L1 would shrink every score to
    * mass/|nodes|). Bit-reproducible at any partitioning.
    *
    * Shape at scale: the directed edge list is a FILTER over the
    * session-cached bidirectional checkpoint ([[copurchaseGraph]] —
    * built once, shared with the six other graph rows); each
    * half-round is one edge⋈score join + one node-keyed sum, with the
    * one-row max broadcast back. 2 rounds = 4 such passes, node-sized
    * output.
    */
  def qHits(s: SparkSession, dir: String): DataFrame = {
    val (eb, deg) = copurchaseGraph(s, dir)
    // even src = customer side of the bidirectional union = the
    // original customer→supplier direction
    val e = eb.filter(col("src") % 2 === 0)
    // r22 (guide §2.4, remove shuffles outright): the uniform h0 seed
    // makes round 1's authority pass a DEGREE lookup — Σ over in-edges
    // of the constant HitsScale is in-degree · HitsScale, and an odd
    // node's row count in the bidirectional union IS its e in-degree —
    // so the first edge⋈score join + aggregate collapses to a filter
    // of the node-sized degree checkpoint. (The h0 distinct-over-edges
    // seed itself was only ever consumed by that join.) One edge
    // shuffle and one full-edge distinct removed; rounds 2+ are
    // unchanged because their score sides are non-constant.
    var a: DataFrame = null
    var h: DataFrame = null
    for (r <- 1 to 2) {
      val ar =
        if (r == 1)
          deg.filter(col("nd") % 2 === 1)
            .select(col("nd").as("dst"), (col("d") * HitsScale).as("raw"))
        else e.join(h, e("src") === h("nd"))
          .groupBy(col("dst")).agg(sum(col("x")).as("raw"))
      a = ar.crossJoin(broadcast(ar.agg(max(col("raw")).as("mx"))))
        .select(col("dst").as("nd"), expr(s"(raw * $HitsScale) DIV mx").as("x"))
      val hr = e.join(a, e("dst") === a("nd"))
        .groupBy(col("src")).agg(sum(col("x")).as("raw"))
      h = hr.crossJoin(broadcast(hr.agg(max(col("raw")).as("mx"))))
        .select(col("src").as("nd"), expr(s"(raw * $HitsScale) DIV mx").as("x"))
    }
    h.select(lit("customer").as("node_type"), expr("nd DIV 2").as("node_id"),
        col("x").as("score"))
      .unionByName(a.select(lit("supplier").as("node_type"),
        expr("nd DIV 2").as("node_id"), col("x").as("score")))
      .orderBy(col("node_type"), col("node_id"))
  }

  val qHitsSql: String = {
    def auth(prev: String, raw: String, out: String): String =
      s"""$raw AS MATERIALIZED (
         |  SELECT e.dst AS nd, CAST(SUM($prev.x) AS BIGINT) AS raw
         |  FROM e JOIN $prev ON e.src = $prev.nd GROUP BY e.dst),
         |$out AS MATERIALIZED (
         |  SELECT nd, (raw * $HitsScale) // (SELECT MAX(raw) FROM $raw) AS x FROM $raw)""".stripMargin
    def hub(prev: String, raw: String, out: String): String =
      s"""$raw AS MATERIALIZED (
         |  SELECT e.src AS nd, CAST(SUM($prev.x) AS BIGINT) AS raw
         |  FROM e JOIN $prev ON e.dst = $prev.nd GROUP BY e.src),
         |$out AS MATERIALIZED (
         |  SELECT nd, (raw * $HitsScale) // (SELECT MAX(raw) FROM $raw) AS x FROM $raw)""".stripMargin
    s"""WITH e AS MATERIALIZED (
       |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
       |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
       |h0 AS (SELECT DISTINCT src AS nd, CAST($HitsScale AS BIGINT) AS x FROM e),
       |${auth("h0", "a1r", "a1")},
       |${hub("a1", "h1r", "h1")},
       |${auth("h1", "a2r", "a2")},
       |${hub("a2", "h2r", "h2")}
       |SELECT 'customer' AS node_type, nd // 2 AS node_id, CAST(x AS BIGINT) AS score FROM h2
       |UNION ALL
       |SELECT 'supplier' AS node_type, nd // 2 AS node_id, CAST(x AS BIGINT) AS score FROM a2
       |ORDER BY node_type, node_id""".stripMargin
  }

  /** Bound on min-label rounds. The co-purchase graph converges in 3
    * rounds at sf0.001, 4 at sf0.01 and 5 at sf0.1 (the count grows
    * about with the log of graph size), so 5 puts a zero certificate on
    * every tested scale. The oracle unrolls the same constant.
    */
  private val CcIters = 5

  /** Connected components of the co-purchase graph by
    * [[graft.plans.MinLabel]], at most [[CcIters]] rounds. Each node
    * row carries the run's census `moved_r1..moved_r5`: the labels
    * that moved in each round, zero-padded past the round that moved
    * nothing. `moved_r5 = 0` certifies the labels are the components;
    * a nonzero value says how unfinished the bound left them. The
    * oracle recomputes each round's count from its own CTE chain.
    */
  def qComponents(s: SparkSession, dir: String): DataFrame = {
    val (eb, _) = copurchaseGraph(s, dir)
    val (lab, moved) = graft.plans.MinLabel(eb, CcIters)
    val out = lab.select(
      when(col("nd") % 2 === 0, "customer").otherwise("supplier").as("node_type"),
      expr("nd DIV 2").as("node_id"), col("lab").as("comp"))
    moved.padTo(CcIters, 0L).zipWithIndex.foldLeft(out) { case (df, (m, i)) =>
      df.withColumn(s"moved_r${i + 1}", lit(m))
    }
  }

  val qComponentsSql: String = {
    def step(prev: String, out: String): String =
      s"""$out AS MATERIALIZED (
         |  SELECT l.nd, l.lab AS old_lab, LEAST(l.lab, COALESCE(m.nlab, l.lab)) AS lab
         |  FROM $prev l LEFT JOIN (
         |    SELECT eb.dst AS nd, MIN(p.lab) AS nlab
         |    FROM eb JOIN $prev p ON eb.src = p.nd GROUP BY eb.dst) m
         |  ON l.nd = m.nd)""".stripMargin
    val movedCols = (1 to CcIters).map(r =>
      s"(SELECT CAST(COUNT(*) AS BIGINT) FROM l$r WHERE lab <> old_lab) AS moved_r$r")
      .mkString(",\n  ")
    // the step chain unrolls from the SAME CcIters constant as the plan,
    // so the bound cannot drift between engine and oracle
    val steps = (1 to CcIters).map(r => step(s"l${r - 1}", s"l$r")).mkString(",\n")
    s"""WITH e AS (
       |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
       |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
       |eb AS MATERIALIZED (SELECT src, dst FROM e UNION ALL SELECT dst AS src, src AS dst FROM e),
       |l0 AS (SELECT DISTINCT src AS nd, src AS lab FROM eb),
       |$steps
       |SELECT CASE WHEN nd % 2 = 0 THEN 'customer' ELSE 'supplier' END AS node_type,
       |  nd // 2 AS node_id, lab AS comp,
       |  $movedCols
       |FROM l$CcIters ORDER BY node_type, node_id""".stripMargin
  }

  /** Trailing 7-day moving average of daily order volume — the
    * smoothing window every operational dashboard draws. Two-level
    * shape: the corpus aggregates to CALENDAR-BOUNDED daily rows
    * first (one partial-agged shuffle — 100 TB of orders becomes ≤ a
    * few thousand rows), then the ROWS-frame window runs over the
    * daily series; its single-partition sort is correct at any data
    * scale because its input is bounded by elapsed days, not volume.
    * Exactness: the frame sum is an exact DECIMAL, the average is ONE
    * IEEE division of that sum by the frame row count — both engines
    * perform the identical operation (never avg() over doubles, whose
    * accumulation order is engine-private).
    */
  def qMovingAvg(s: SparkSession, dir: String): DataFrame = {
    val daily = Ingest.table(s, dir, "orders")
      .groupBy(col("o_orderdate").cast("date").as("d"))
      .agg(count(lit(1)).as("n_orders"), sum(money(col("o_totalprice"))).as("tot"))
    val w = Window.orderBy("d").rowsBetween(-6, 0)
    daily.select(
      col("d"), col("n_orders"),
      col("tot").cast("double").as("daily_total"),
      (sum(col("tot")).over(w).cast("double") / count(lit(1)).over(w)).as("ma7_total"))
  }

  val qMovingAvgSql: String =
    """WITH daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS d, COUNT(*) AS n_orders,
      |    SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS tot
      |  FROM orders GROUP BY CAST(o_orderdate AS DATE))
      |SELECT d, n_orders, CAST(tot AS DOUBLE) AS daily_total,
      |  CAST(SUM(tot) OVER w AS DOUBLE) / COUNT(*) OVER w AS ma7_total
      |FROM daily
      |WINDOW w AS (ORDER BY d ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
      |ORDER BY d""".stripMargin

  /** Funnel conversion over the event stream: per user, the first
    * `view`, the first `click` strictly after it, and the first
    * `purchase` strictly after that — the ordered-steps report every
    * product-analytics deployment runs. Expressed as three
    * min-aggregates chained by joins (NOT a per-user event sort): each
    * stage is one partial-aggregated shuffle on user_id, and AQE
    * reuses the user_id partitioning across the chain. A
    * sessionization-style window would sort every user's full event
    * history to answer a three-timestamp question.
    */
  def qFunnel(s: SparkSession, dir: String): DataFrame = {
    val e = Ingest.events(s, dir).select(col("user_id"), col("event_type"), col("ts_ms"))
    val v = e.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("ts_ms").as("first_view_ms"))
    val c = e.filter(col("event_type") === "click").join(v, "user_id")
      .filter(col("ts_ms") > col("first_view_ms"))
      .groupBy("user_id").agg(min("ts_ms").as("first_click_ms"))
    val p = e.filter(col("event_type") === "purchase").join(c, "user_id")
      .filter(col("ts_ms") > col("first_click_ms"))
      .groupBy("user_id").agg(min("ts_ms").as("first_purchase_ms"))
    v.join(c, Seq("user_id"), "left").join(p, Seq("user_id"), "left")
      .select(col("user_id"), col("first_view_ms"), col("first_click_ms"),
        col("first_purchase_ms"),
        when(col("first_purchase_ms").isNotNull, lit(3))
          .when(col("first_click_ms").isNotNull, lit(2))
          .otherwise(lit(1)).as("stage"))
  }

  /** Order-free oracle body — composers embed THIS as a CTE; the
    * standalone oracle appends the presentation ORDER BY.
    */
  private[graft] val qFunnelBody: String =
    """WITH e AS (SELECT user_id, event_type, epoch_ms(ts) AS ts_ms FROM events),
      |v AS (SELECT user_id, MIN(ts_ms) AS first_view_ms FROM e
      |      WHERE event_type = 'view' GROUP BY user_id),
      |c AS (SELECT e.user_id, MIN(e.ts_ms) AS first_click_ms
      |      FROM e JOIN v ON e.user_id = v.user_id
      |      WHERE e.event_type = 'click' AND e.ts_ms > v.first_view_ms
      |      GROUP BY e.user_id),
      |p AS (SELECT e.user_id, MIN(e.ts_ms) AS first_purchase_ms
      |      FROM e JOIN c ON e.user_id = c.user_id
      |      WHERE e.event_type = 'purchase' AND e.ts_ms > c.first_click_ms
      |      GROUP BY e.user_id)
      |SELECT v.user_id, v.first_view_ms, c.first_click_ms, p.first_purchase_ms,
      |  CASE WHEN p.user_id IS NOT NULL THEN 3
      |       WHEN c.user_id IS NOT NULL THEN 2 ELSE 1 END AS stage
      |FROM v LEFT JOIN c ON v.user_id = c.user_id
      |       LEFT JOIN p ON v.user_id = p.user_id""".stripMargin

  val qFunnelSql: String = qFunnelBody + "\nORDER BY v.user_id"

  /** Funnel conversion-rate summary — the three-line executive view
    * over [[qFunnel]]'s per-user stages: users reaching each stage
    * and fixed-point conversion from the previous stage and from the
    * top (basis points, integral DIV). Composed over the verified
    * funnel (the oracle replays the composition); the rollup input is
    * user-sized and the output is three rows.
    */
  def qFunnelRates(s: SparkSession, dir: String): DataFrame = {
    val f = qFunnel(s, dir)
    val g = f.agg(
      count(lit(1)).as("n_view"),
      sum(when(col("stage") >= 2, 1L).otherwise(0L)).as("n_click"),
      sum(when(col("stage") >= 3, 1L).otherwise(0L)).as("n_purchase"))
    g.select(explode(expr(
        """array(
          |  struct(CAST(1 AS BIGINT) AS stage, 'view' AS stage_name,
          |         n_view AS n_users, n_view AS prev_users),
          |  struct(CAST(2 AS BIGINT) AS stage, 'click' AS stage_name,
          |         n_click AS n_users, n_view AS prev_users),
          |  struct(CAST(3 AS BIGINT) AS stage, 'purchase' AS stage_name,
          |         n_purchase AS n_users, n_click AS prev_users))""".stripMargin))
        .as("r"), col("n_view"))
      .select(col("r.stage").as("stage"), col("r.stage_name").as("stage_name"),
        col("r.n_users").as("n_users"),
        expr("(r.n_users * 10000) DIV greatest(r.prev_users, 1)").as("conv_prev_bp"),
        expr("(r.n_users * 10000) DIV greatest(n_view, 1)").as("conv_top_bp"))
  }

  val qFunnelRatesSql: String = {
    val f = qFunnelBody
    s"""WITH f AS ($f),
       |g AS (
       |  SELECT COUNT(*) AS n_view,
       |    CAST(COALESCE(SUM(CASE WHEN stage >= 2 THEN 1 END), 0) AS BIGINT) AS n_click,
       |    CAST(COALESCE(SUM(CASE WHEN stage >= 3 THEN 1 END), 0) AS BIGINT) AS n_purchase
       |  FROM f)
       |SELECT CAST(1 AS BIGINT) AS stage, 'view' AS stage_name, n_view AS n_users,
       |  (n_view * 10000) // greatest(n_view, 1) AS conv_prev_bp,
       |  (n_view * 10000) // greatest(n_view, 1) AS conv_top_bp
       |FROM g
       |UNION ALL SELECT 2, 'click', n_click,
       |  (n_click * 10000) // greatest(n_view, 1),
       |  (n_click * 10000) // greatest(n_view, 1) FROM g
       |UNION ALL SELECT 3, 'purchase', n_purchase,
       |  (n_purchase * 10000) // greatest(n_click, 1),
       |  (n_purchase * 10000) // greatest(n_view, 1) FROM g
       |ORDER BY stage""".stripMargin
  }

  /** Time-to-convert distribution: view→purchase latency per
    * converting user, in DAILY buckets with a capped tail — the
    * "how long does the funnel take" histogram that prices retargeting
    * windows (and the funnel-side sibling of
    * [[graft.operators.Temporal.qGapHist]]'s session-gap evidence;
    * first-touch journeys here span days, so the bins are daily where
    * the gap histogram's are minutes). Composed over [[qFunnel]]; the
    * oracle replays the composition. Integer milliseconds and
    * integral DIV end to end.
    */
  def qTimeToConvert(s: SparkSession, dir: String): DataFrame =
    qFunnel(s, dir)
      .filter(col("first_purchase_ms").isNotNull)
      .select((col("first_purchase_ms") - col("first_view_ms")).as("latency_ms"))
      .groupBy(least(expr("latency_ms DIV 86400000"), lit(14L)).as("latency_bucket_days"))
      .agg(
        count(lit(1)).as("n_users"),
        min("latency_ms").as("min_ms"),
        max("latency_ms").as("max_ms"))

  val qTimeToConvertSql: String = {
    val f = qFunnelBody
    s"""WITH f AS ($f)
       |SELECT LEAST((first_purchase_ms - first_view_ms) // 86400000, 14) AS latency_bucket_days,
       |  COUNT(*) AS n_users,
       |  CAST(MIN(first_purchase_ms - first_view_ms) AS BIGINT) AS min_ms,
       |  CAST(MAX(first_purchase_ms - first_view_ms) AS BIGINT) AS max_ms
       |FROM f WHERE first_purchase_ms IS NOT NULL
       |GROUP BY 1
       |ORDER BY latency_bucket_days""".stripMargin
  }

  /** Weekly cohort retention: users bucketed by the week of their
    * first activity (integer epoch-day DIV 7 — no calendar functions,
    * so both engines agree trivially), counted once per later week
    * they return. The cohort day is a per-user MIN WINDOW over the
    * same user_id partitioning the distinct needs — ONE corpus scan
    * and one shuffle (the earlier aggregate-then-join spelling
    * re-derived the corpus subtree for the join side: two scans);
    * then the (user, offset) de-dup and the tiny final rollup
    * partial-aggregate. The output is cohorts × offsets (weeks²,
    * bounded by calendar time, never by data volume).
    */
  def qRetention(s: SparkSession, dir: String): DataFrame = {
    Ingest.events(s, dir)
      .select(col("user_id"), expr("ts_ms DIV 86400000").as("day"))
      .withColumn("cohort_day",
        min("day").over(Window.partitionBy("user_id")))
      .select(col("user_id"),
        expr("cohort_day DIV 7").as("cohort_week"),
        expr("(day - cohort_day) DIV 7").as("week_offset"))
      .distinct()
      .groupBy("cohort_week", "week_offset")
      .agg(count(lit(1)).as("n_users"))
  }

  val qRetentionSql: String =
    """WITH days AS (
      |  SELECT user_id, epoch_ms(ts) // 86400000 AS day FROM events),
      |cohort AS (SELECT user_id, MIN(day) AS cohort_day FROM days GROUP BY user_id),
      |act AS (
      |  SELECT DISTINCT days.user_id, cohort_day // 7 AS cohort_week,
      |         (day - cohort_day) // 7 AS week_offset
      |  FROM days JOIN cohort ON days.user_id = cohort.user_id)
      |SELECT cohort_week, week_offset, COUNT(*) AS n_users
      |FROM act GROUP BY cohort_week, week_offset
      |ORDER BY cohort_week, week_offset""".stripMargin

  /** Fixed-width histogram of order value (bin = floor(price/1000)):
    * the data-profiling primitive behind every dashboard distribution
    * chart. `floor` of an IEEE division is deterministic in both
    * engines (Spark's CAST(double AS BIGINT) truncates while DuckDB's
    * CAST rounds — floor first sidesteps that trap). One
    * partial-aggregated shuffle on the bin key; output rows = value
    * range / bin width, independent of row count.
    */
  def qHistogram(s: SparkSession, dir: String): DataFrame =
    Ingest.table(s, dir, "orders")
      .select(floor(col("o_totalprice") / 1000d).as("bin"), col("o_totalprice"))
      .groupBy("bin")
      .agg(
        count(lit(1)).as("n_orders"),
        min(col("o_totalprice")).as("min_price"),
        max(col("o_totalprice")).as("max_price"),
        sum(money(col("o_totalprice"))).cast("double").as("total_price"))
      .select(col("bin"), (col("bin") * 1000L).as("lo"),
        col("n_orders"), col("min_price"), col("max_price"), col("total_price"))

  val qHistogramSql: String =
    """SELECT CAST(FLOOR(o_totalprice / 1000) AS BIGINT) AS bin,
      |  CAST(FLOOR(o_totalprice / 1000) AS BIGINT) * 1000 AS lo,
      |  COUNT(*) AS n_orders,
      |  MIN(o_totalprice) AS min_price,
      |  MAX(o_totalprice) AS max_price,
      |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS total_price
      |FROM orders
      |GROUP BY FLOOR(o_totalprice / 1000)
      |ORDER BY bin""".stripMargin

  /** Event-type transition matrix (first-order Markov counts): for each
    * user's event stream in time order, count every (previous event type
    * → next event type) step; a user's first event transitions from the
    * `_start` sentinel. The behavioral-analytics primitive behind "what
    * do users do after X" dashboards and session-flow Sankey charts.
    *
    * Determinism: `lag` needs a total order — ties at millisecond
    * resolution are broken by event_id in BOTH engines (the oracle also
    * orders by the TRUNCATED epoch_ms, not the raw nanosecond timestamp,
    * or sub-ms siblings could legally swap). Counts are integers; the
    * per-source total rides along so consumers derive shares without
    * either engine performing a float division.
    *
    * Shape at scale: ONE shuffle (events on user_id) feeds the lag
    * window; the pair aggregate is partial (map-side combine into a
    * |types|² key space) and the outgoing-total window runs on the
    * already-tiny matrix. 100 TB of events moves once.
    */
  def qTransitionMatrix(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts_ms", "event_id")
    val steps = Ingest.events(s, dir)
      .select(col("user_id"), col("event_id"), col("ts_ms"), col("event_type"))
      .withColumn("prev_type", coalesce(lag("event_type", 1).over(w), lit("_start")))
    val m = steps.groupBy(col("prev_type"), col("event_type").as("next_type"))
      .agg(count(lit(1)).as("n_steps"))
    m.withColumn("n_from_prev",
      sum("n_steps").over(Window.partitionBy("prev_type")))
  }

  val qTransitionMatrixSql: String =
    """WITH steps AS (
      |  SELECT COALESCE(LAG(event_type) OVER (
      |           PARTITION BY user_id ORDER BY epoch_ms(ts), event_id),
      |         '_start') AS prev_type,
      |         event_type AS next_type
      |  FROM events),
      |m AS (SELECT prev_type, next_type, COUNT(*) AS n_steps
      |      FROM steps GROUP BY prev_type, next_type)
      |SELECT prev_type, next_type, n_steps,
      |  CAST(SUM(n_steps) OVER (PARTITION BY prev_type) AS BIGINT) AS n_from_prev
      |FROM m ORDER BY prev_type, next_type""".stripMargin

  /** Degree distribution of the co-purchase graph: node count per
    * (node_type, degree) — the first diagnostic anyone runs on a new
    * graph (is it power-law? where do the hubs start?), and the
    * skew-audit input for sizing the hot-bucket caps in
    * [[graft.operators.Dedup]]. Runs entirely on the node-sized
    * degree table from the shared checkpoint ([[copurchaseGraph]]):
    * one partial-aggregated shuffle over NODES, never edges; output
    * rows are bounded by the distinct-degree count.
    */
  def qDegreeStats(s: SparkSession, dir: String): DataFrame = {
    val (_, deg) = copurchaseGraph(s, dir)
    deg.groupBy(
        when(col("nd") % 2 === 0, "customer").otherwise("supplier").as("node_type"),
        col("d").as("degree"))
      .agg(count(lit(1)).as("n_nodes"))
  }

  val qDegreeStatsSql: String =
    """WITH e AS (
      |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
      |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
      |eb AS (SELECT src, dst FROM e UNION ALL SELECT dst AS src, src AS dst FROM e),
      |deg AS (SELECT src AS nd, COUNT(*) AS d FROM eb GROUP BY src)
      |SELECT CASE WHEN nd % 2 = 0 THEN 'customer' ELSE 'supplier' END AS node_type,
      |  d AS degree, COUNT(*) AS n_nodes
      |FROM deg GROUP BY 1, 2
      |ORDER BY node_type, degree""".stripMargin

  private val BasketMinSupport = 3L

  /** Per-customer basket width cap for the pair-generating self-joins
    * ([[qBasketPairs]] / [[qLinkPredict]]): a single crawler-scale
    * basket of width W contributes W²/2 pairs — the one quadratic key
    * the dedup shelves' salt-cap device had no analogue for. Baskets
    * over the cap keep the [[BasketCap]]
    * suppliers ranked by (md5(cust~supp), supp) — a deterministic
    * uniform sample, SQL-replayable like every md5 device — so
    * per-key pair work is bounded by cap² while normal baskets pass
    * untouched (max observed width is 102 at sf0.1 vs cap 1024; on
    * every test corpus the cap binds nothing and the output is
    * byte-identical to the uncapped plan). Degree tables and n_cust
    * stay UNCAPPED — confidence/lift denominators remain true
    * degrees; only the support evidence of a capped basket is
    * sampled, and [[basketCapStats]] reports exactly what the cap
    * touched (the cappedBucketStats posture: observable, not silent).
    */
  private[graft] val BasketCap = 1024

  /** The cap rule over a (cust, supp) basket table. The rank window
    * partitions on the SAME key as the downstream self-join, so
    * Catalyst reuses one exchange — the guard costs a rank, not a
    * shuffle. */
  private[graft] def cappedBaskets(cs: DataFrame, cap: Int = BasketCap): DataFrame =
    TopK(cs, Seq("cust"), Seq(md5(concat_ws("~", col("cust"), col("supp"))), col("supp")),
      cap, "srk").drop("srk")

  /** SQL twin of [[cappedBaskets]] for the oracle programs. */
  private def cappedBasketsSql(cap: Int = BasketCap): String =
    s"""csc AS (
       |  SELECT cust, supp FROM (
       |    SELECT cust, supp, ROW_NUMBER() OVER (PARTITION BY cust
       |      ORDER BY md5(CAST(cust AS VARCHAR) || '~' || CAST(supp AS VARCHAR)), supp) AS srk
       |    FROM cs) z
       |  WHERE srk <= $cap)""".stripMargin

  /** One-row audit of what the basket cap touched on a corpus —
    * baskets over the cap, members in them, and the keep rate they
    * got. A 100 TB run logs this next to its pair counts so sampled
    * support is never invisible. */
  private[graft] def basketCapStats(s: SparkSession, dir: String,
      cap: Int = BasketCap): DataFrame = {
    val (eb, _) = copurchaseGraph(s, dir)
    eb.filter(col("src") % 2 === 0)
      .select(expr("src DIV 2").as("cust"))
      .groupBy(col("cust")).agg(count(lit(1)).as("bw"))
      .filter(col("bw") > cap)
      .agg(
        coalesce(count(lit(1)), lit(0L)).as("n_capped_baskets"),
        coalesce(sum("bw"), lit(0L)).as("n_capped_members"),
        coalesce(avg(lit(cap.toDouble) / col("bw")), lit(1.0)).as("avg_keep_rate"))
  }
  // lift fixed-point scale (10^6). Headroom: the lift numerator is
  // support · n_cust · 10^6 ≤ 2^63 while support · n_cust < 9.2·10^12
  // — audit (and drop a digit of scale) beyond ~10^6 support on a
  // ~10^6-customer graph; at that point lift precision is the least
  // of your problems.
  private val LiftScale = 1000000L

  /** Market-basket association mining over supplier pairs: for every
    * pair of suppliers bought by ≥ [[BasketMinSupport]] common
    * customers, the support, per-side confidence, and lift — the
    * classic "customers who bought from A also buy from B"
    * co-occurrence statistic (Agrawal et al.'s association-rule
    * measures on the 2-itemset lattice level).
    *
    * All derived numbers are FIXED-POINT integers (confidence in
    * basis points, lift at 10^6 scale, integral DIV) — associative,
    * partial-aggregated, bit-identical in any engine.
    *
    * Shape at scale: baskets come from the shared distinct-pair
    * checkpoint (customer-side rows of [[copurchaseGraph]]'s eb —
    * a map-only filter). The pair generation is the canonical
    * market-basket self-join on customer: its cost is Σ b² over
    * per-customer basket sizes b — bounded by basket width, not
    * corpus size. The pairs partial-aggregate on the (a,b) key
    * (|suppliers|²-bounded key space); side totals join in from the
    * node-sized degree table (AQE broadcasts while it fits).
    *
    * An a-priori degree pre-filter (semi-join the
    * basket rows against suppliers with n_side ≥ MinSupport, valid by
    * anti-monotonicity) was implemented and then REMOVED on
    * measurement: on every tested SF the minimum supplier degree is
    * two orders of magnitude above MinSupport (518 vs 3 at sf0.1, and
    * degree GROWS with scale), so the semi prunes zero rows — while
    * costing real wall. Isolated A/B at sf0.1, 3 reps: direct
    * self-join 3.6-4.4 s; un-hinted semi BIMODAL 2.8-6.1 s (the
    * stats-free checkpoint scan leaves the join strategy to an AQE
    * coin-flip); broadcast-hinted semi consistently 5.0-7.0 s. A
    * pre-filter that can't prune but destabilizes the plan is a net
    * loss; re-introduce it (from the existing degree table) only for
    * corpora whose degree distribution actually has a
    * sub-MinSupport tail.
    */
  def qBasketPairs(s: SparkSession, dir: String): DataFrame = {
    val (eb, deg) = copurchaseGraph(s, dir)
    // customer→supplier rows of the bidirectional edge list, decoded
    val cs = eb.filter(col("src") % 2 === 0)
      .select(expr("src DIV 2").as("cust"), expr("dst DIV 2").as("supp"))
    // customer count from the NODE-sized degree table — a
    // countDistinct over the edge list re-shuffles every pair row to
    // answer a question the checkpoint already knows
    val nCust = deg.filter(col("nd") % 2 === 0)
      .agg(count(lit(1)).as("n_cust"))
    val sdeg = deg.filter(col("nd") % 2 === 1)
      .select(expr("nd DIV 2").as("supp"), col("d").as("n_side"))
    val csc = cappedBaskets(cs)
    // The Σb² pair stream aggregates on ONE packed BIGINT instead of a
    // two-long (supp_a, supp_b) key: suppkeys are positive and < 2^31
    // (TPC-H keys ≤ 10⁴·SF — 2^31 headroom holds past SF 10⁵), so
    // supp_a<<32 | supp_b is collision-free and sign-safe; the decode
    // after the aggregate restores the exact original longs. Halves
    // the aggregate's hash/compare width and the pair exchange's key
    // bytes (r22 A/B at sf0.1: join+agg 2.4 s → 1.3 s, same 499 500
    // output rows).
    val pairs = csc.as("x").join(csc.as("y"), Seq("cust"))
      .filter(col("x.supp") < col("y.supp"))
      .groupBy((shiftleft(col("x.supp"), 32) + col("y.supp")).as("pk"))
      .agg(count(lit(1)).as("support"))
      .filter(col("support") >= BasketMinSupport)
      .select(shiftright(col("pk"), 32).as("supp_a"),
        col("pk").bitwiseAND(lit(4294967295L)).as("supp_b"), col("support"))
    pairs
      .join(sdeg.withColumnRenamed("supp", "supp_a").withColumnRenamed("n_side", "n_a"), "supp_a")
      .join(sdeg.withColumnRenamed("supp", "supp_b").withColumnRenamed("n_side", "n_b"), "supp_b")
      .crossJoin(broadcast(nCust))
      .select(
        col("supp_a"), col("supp_b"), col("support"), col("n_a"), col("n_b"),
        expr("(support * 10000) DIV n_a").as("conf_a_bp"),
        expr("(support * 10000) DIV n_b").as("conf_b_bp"),
        expr(s"(support * n_cust * $LiftScale) DIV (n_a * n_b)").as("lift_fp"))
  }

  val qBasketPairsSql: String =
    s"""WITH cs AS (
       |  SELECT DISTINCT o_custkey AS cust, l_suppkey AS supp
       |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
       |${cappedBasketsSql()},
       |n AS (SELECT COUNT(DISTINCT cust) AS n_cust FROM cs),
       |sdeg AS (SELECT supp, COUNT(*) AS n_side FROM cs GROUP BY supp),
       |pairs AS (
       |  SELECT x.supp AS supp_a, y.supp AS supp_b, COUNT(*) AS support
       |  FROM csc x JOIN csc y ON x.cust = y.cust AND x.supp < y.supp
       |  GROUP BY x.supp, y.supp
       |  HAVING COUNT(*) >= $BasketMinSupport)
       |SELECT supp_a, supp_b, support, a.n_side AS n_a, b.n_side AS n_b,
       |  (support * 10000) // a.n_side AS conf_a_bp,
       |  (support * 10000) // b.n_side AS conf_b_bp,
       |  (support * n.n_cust * $LiftScale) // (a.n_side * b.n_side) AS lift_fp
       |FROM pairs
       |JOIN sdeg a ON supp_a = a.supp
       |JOIN sdeg b ON supp_b = b.supp
       |CROSS JOIN n
       |ORDER BY supp_a, supp_b""".stripMargin

  /** One LPA vote over (node, label) pairs: each node's most frequent
    * label as (node, label, n), ties to the smaller label. */
  private def labelVote(pairs: DataFrame, node: String, label: String): DataFrame =
    TopK(pairs.groupBy(col(node), col(label)).agg(count(lit(1)).as("n")),
      Seq(node), Seq(col("n").desc, col(label)), 1, "r")

  /** The distinct cust-supp pairs `cs`, materialized (the rounds and
    * every downstream pass re-consume it), and round 1's vote: each
    * customer's seed nation, exposed un-checkpointed so PlanSpec can
    * pin its shape. */
  private[graft] def lpaRound1(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val (eb, _) = copurchaseGraph(s, dir)
    val cs = eb.filter(col("src") % 2 === 0)
      .select(expr("src DIV 2").as("cust"), expr("dst DIV 2").as("supp"))
      .materialized
    (cs, labelVote(cs.join(supplierSeed(s, dir), "supp"), "cust", "lbl"))
  }

  private def supplierSeed(s: SparkSession, dir: String): DataFrame =
    Ingest.table(s, dir, "supplier")
      .select(col("s_suppkey").as("supp"), col("s_nationkey").cast("long").as("lbl"))

  /** The seed table + two LPA rounds shared by [[qLabelProp]] and
    * [[qGraphModularity]]: returns (cs, customer labels after round 1,
    * supplier argmax rows (supp, clbl, n) after round 2).
    */
  private def lpaRounds(s: SparkSession, dir: String): (DataFrame, DataFrame, DataFrame) = {
    val (cs, round1) = lpaRound1(s, dir)
    // node-sized and consumed by round 2 AND (in modularity) by the
    // within-edge pass + degree attach — checkpoint once here so no
    // caller's lineage re-runs the round-1 window
    val custLbl = round1.select(col("cust"), col("lbl").as("clbl")).materialized
    val suppRank = labelVote(cs.join(custLbl, "cust"), "supp", "clbl")
      .select(col("supp"), col("clbl"), col("n"))
    (cs, custLbl, suppRank)
  }

  /** Two-round synchronous label propagation over the co-purchase
    * graph (the LPA community primitive, Raghavan et al. 2007):
    * suppliers seed with their nation, round 1 gives every customer
    * the majority label of its suppliers, round 2 re-labels every
    * supplier with the majority label of its customers — argmax with
    * the deterministic (count DESC, label ASC) tie-break both rounds.
    * A supplier whose propagated label FLIPS away from its own nation
    * sits in a customer neighborhood dominated by another region —
    * the community-membership signal nation attributes alone can't
    * show. Reports per supplier: seed nation, propagated label, vote
    * count, and the flip flag.
    *
    * Shape at scale: the Pregel shape — per round ONE edge⋈labels
    * join (labels node-sized, AQE broadcasts while it fits) + ONE
    * partial-aggregated (node, label) count + an argmax window on the
    * node-keyed count table (labels-per-node rows, bounded by
    * |nations|). Fixed 2 rounds, shallow lineage, no driver loop.
    */
  def qLabelProp(s: SparkSession, dir: String): DataFrame = {
    val (_, _, suppRank) = lpaRounds(s, dir)
    suppRank
      .join(supplierSeed(s, dir), "supp")
      .select(col("supp").as("s_suppkey"), col("lbl").as("seed_nation"),
        col("clbl").as("prop_label"), col("n").as("votes"),
        when(col("clbl") =!= col("lbl"), 1L).otherwise(0L).as("flipped"))
  }

  val qLabelPropSql: String =
    """WITH cs AS (
      |  SELECT DISTINCT o_custkey AS cust, l_suppkey AS supp
      |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
      |seed AS (SELECT s_suppkey AS supp, CAST(s_nationkey AS BIGINT) AS lbl FROM supplier),
      |c1 AS (
      |  SELECT cust, lbl, COUNT(*) AS n
      |  FROM cs JOIN seed ON cs.supp = seed.supp
      |  GROUP BY cust, lbl),
      |cl AS (
      |  SELECT cust, lbl AS clbl
      |  FROM (SELECT cust, lbl,
      |          ROW_NUMBER() OVER (PARTITION BY cust ORDER BY n DESC, lbl) AS r
      |        FROM c1) WHERE r = 1),
      |s1 AS (
      |  SELECT supp, clbl, COUNT(*) AS n
      |  FROM cs JOIN cl ON cs.cust = cl.cust
      |  GROUP BY supp, clbl),
      |sl AS (
      |  SELECT supp, clbl, n
      |  FROM (SELECT supp, clbl, n,
      |          ROW_NUMBER() OVER (PARTITION BY supp ORDER BY n DESC, clbl) AS r
      |        FROM s1) WHERE r = 1)
      |SELECT sl.supp AS s_suppkey, seed.lbl AS seed_nation,
      |  sl.clbl AS prop_label, sl.n AS votes,
      |  CAST(CASE WHEN sl.clbl <> seed.lbl THEN 1 ELSE 0 END AS BIGINT) AS flipped
      |FROM sl JOIN seed ON sl.supp = seed.supp
      |ORDER BY s_suppkey""".stripMargin

  /** Modularity scoring of the [[qLabelProp]] partition: per
    * community, node count, within-community edge count e_c, total
    * degree d_c, and the exact-integer modularity contribution
    * ((4·m·e_c − d_c²)·10⁶) DIV (4·m²) — Newman's
    * Q = Σ_c (e_c/m − (d_c/2m)²) with a single truncating division
    * per community so Σ contrib_ppm reproduces Q·10⁶ to ±|comms|
    * ppm, bit-identical in both engines. Near-zero or negative total
    * says the propagated labels are no better than random wiring —
    * the acceptance gate for using LPA communities downstream
    * (mix quotas, per-community dedup cells). Headroom: 4m²·10⁶
    * needs m ≲ 1.5·10⁶ edges per partition-audit invocation at
    * BIGINT; at 100 TB run it per shard or lift the device to the
    * [[qStatsMoments]] decimal sums.
    *
    * Shape at scale: labels are the LPA output (node-sized); the
    * edge pass joins the distinct-pair checkpoint to the two label
    * tables (node-sized sides — AQE broadcasts while they fit) and
    * partial-aggregates per community; degrees come from the
    * node-sized degree table. One edge-sized shuffle total.
    */
  def qGraphModularity(s: SparkSession, dir: String): DataFrame = {
    val (_, deg) = copurchaseGraph(s, dir)
    val (cs, custLbl, suppRank) = lpaRounds(s, dir) // custLbl pre-checkpointed
    val suppLbl = suppRank.select(col("supp"), col("clbl").as("slbl")).materialized
    val m1 = cs.agg(count(lit(1)).as("m"))
    // within-community edges: both endpoints carry the same label
    val ein = cs.join(custLbl, "cust").join(suppLbl, "supp")
      .filter(col("clbl") === col("slbl"))
      .groupBy(col("clbl").as("community")).agg(count(lit(1)).as("e_in"))
    // per-community total degree + node count, from the node-sized tables
    val cd = deg.filter(col("nd") % 2 === 0).select(expr("nd DIV 2").as("cust"), col("d"))
      .join(custLbl, "cust").select(col("clbl").as("community"), col("d"))
    val sd = deg.filter(col("nd") % 2 === 1).select(expr("nd DIV 2").as("supp"), col("d"))
      .join(suppLbl, "supp").select(col("slbl").as("community"), col("d"))
    val dtot = cd.unionAll(sd)
      .groupBy(col("community"))
      .agg(count(lit(1)).as("n_nodes"), sum(col("d")).as("d_tot"))
    dtot.join(ein, Seq("community"), "left")
      .select(col("community"), col("n_nodes"),
        coalesce(col("e_in"), lit(0L)).as("e_in"), col("d_tot"))
      .crossJoin(broadcast(m1))
      // The numerator is routinely negative (e_in=0 with d_tot>0). The
      // codebase's cross-engine DIV rule is positive-operands-only (see
      // qZipfFit / qSplitBalance), so divide the absolute value and
      // re-apply the sign rather than lean on both engines happening to
      // truncate negative integer division toward zero.
      .withColumn("contrib_ppm",
        expr("""CASE WHEN 4 * m * e_in >= d_tot * d_tot
               |  THEN  ((4 * m * e_in - d_tot * d_tot) * 1000000) DIV (4 * m * m)
               |  ELSE -(((d_tot * d_tot - 4 * m * e_in) * 1000000) DIV (4 * m * m))
               |END""".stripMargin))
      .select(col("community"), col("n_nodes"), col("e_in"), col("d_tot"),
        col("m"), col("contrib_ppm"))
  }

  val qGraphModularitySql: String =
    """WITH cs AS (
      |  SELECT DISTINCT o_custkey AS cust, l_suppkey AS supp
      |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
      |seed AS (SELECT s_suppkey AS supp, CAST(s_nationkey AS BIGINT) AS lbl FROM supplier),
      |c1 AS (
      |  SELECT cust, lbl, COUNT(*) AS n
      |  FROM cs JOIN seed ON cs.supp = seed.supp GROUP BY cust, lbl),
      |cl AS (
      |  SELECT cust, lbl AS clbl
      |  FROM (SELECT cust, lbl,
      |          ROW_NUMBER() OVER (PARTITION BY cust ORDER BY n DESC, lbl) AS r
      |        FROM c1) WHERE r = 1),
      |s1 AS (
      |  SELECT supp, clbl, COUNT(*) AS n
      |  FROM cs JOIN cl ON cs.cust = cl.cust GROUP BY supp, clbl),
      |sl AS (
      |  SELECT supp, clbl AS slbl
      |  FROM (SELECT supp, clbl,
      |          ROW_NUMBER() OVER (PARTITION BY supp ORDER BY n DESC, clbl) AS r
      |        FROM s1) WHERE r = 1),
      |m1 AS (SELECT COUNT(*) AS m FROM cs),
      |ein AS (
      |  SELECT cl.clbl AS community, COUNT(*) AS e_in
      |  FROM cs JOIN cl ON cs.cust = cl.cust JOIN sl ON cs.supp = sl.supp
      |  WHERE cl.clbl = sl.slbl GROUP BY cl.clbl),
      |cdeg AS (SELECT cust, COUNT(*) AS d FROM cs GROUP BY cust),
      |sdeg AS (SELECT supp, COUNT(*) AS d FROM cs GROUP BY supp),
      |nodes AS (
      |  SELECT cl.clbl AS community, cdeg.d FROM cdeg JOIN cl ON cdeg.cust = cl.cust
      |  UNION ALL
      |  SELECT sl.slbl AS community, sdeg.d FROM sdeg JOIN sl ON sdeg.supp = sl.supp),
      |dtot AS (
      |  SELECT community, COUNT(*) AS n_nodes, CAST(SUM(d) AS BIGINT) AS d_tot
      |  FROM nodes GROUP BY community)
      |SELECT dtot.community, dtot.n_nodes,
      |  CAST(COALESCE(ein.e_in, 0) AS BIGINT) AS e_in, dtot.d_tot, m1.m,
      |  CASE WHEN 4 * m1.m * CAST(COALESCE(ein.e_in, 0) AS BIGINT) >= dtot.d_tot * dtot.d_tot
      |    THEN  ((4 * m1.m * CAST(COALESCE(ein.e_in, 0) AS BIGINT) - dtot.d_tot * dtot.d_tot)
      |            * 1000000) // (4 * m1.m * m1.m)
      |    ELSE -(((dtot.d_tot * dtot.d_tot - 4 * m1.m * CAST(COALESCE(ein.e_in, 0) AS BIGINT))
      |            * 1000000) // (4 * m1.m * m1.m))
      |  END AS contrib_ppm
      |FROM dtot LEFT JOIN ein ON dtot.community = ein.community
      |CROSS JOIN m1
      |ORDER BY dtot.community""".stripMargin

  private val LinkTopK = 50

  /** Link prediction over the co-purchase graph: the top-[[LinkTopK]]
    * supplier pairs by common-neighbor evidence, scored three ways —
    * raw common-customer count (the [[qBasketPairs]] support),
    * neighbor-set Jaccard (ppm), and an Adamic-Adar variant that
    * down-weights promiscuous shared customers by the integer
    * bit-length of their supplier degree (aa_centi = Σ 100 DIV
    * bitlen(deg(c)) — the 1/log₂ weight in the engine's exact-integer
    * device; bitlen ≥ 1 always, no zero division). AA separates "two
    * suppliers share many SELECTIVE customers" (a real affinity edge)
    * from "everyone shares the hub customer" — the ranking the basket
    * report's raw support can't express. Standard candidate
    * generation for recommend/complete-the-graph tasks.
    *
    * Shape at scale: same shared checkpoint + customer self-join as
    * [[qBasketPairs]] (Σ basket² cost, basket-width-bounded; the
    * per-customer weight joins in from the NODE-sized degree table
    * before pair generation, so it rides the same exchange). Pairs
    * partial-aggregate on the |suppliers|²-bounded key; the top-K is
    * a global TakeOrdered (model-sized), not a window.
    */
  def qLinkPredict(s: SparkSession, dir: String): DataFrame = {
    val (eb, deg) = copurchaseGraph(s, dir)
    val cs = eb.filter(col("src") % 2 === 0)
      .select(expr("src DIV 2").as("cust"), expr("dst DIV 2").as("supp"))
    val cdeg = deg.filter(col("nd") % 2 === 0)
      .select(expr("nd DIV 2").as("cust"),
        expr("CAST(100 AS BIGINT) DIV length(bin(d))").as("w"))
    val sdeg = deg.filter(col("nd") % 2 === 1)
      .select(expr("nd DIV 2").as("supp"), col("d").as("n_side"))
    val csw = cappedBaskets(cs).join(cdeg, "cust")
    // same packed-BIGINT pair key as [[qBasketPairs]] (suppkey < 2^31)
    csw.as("x").join(csw.as("y"), Seq("cust"))
      .filter(col("x.supp") < col("y.supp"))
      .groupBy((shiftleft(col("x.supp"), 32) + col("y.supp")).as("pk"))
      .agg(count(lit(1)).as("support"), sum(col("x.w")).as("aa_centi"))
      .filter(col("support") >= BasketMinSupport)
      .select(shiftright(col("pk"), 32).as("supp_a"),
        col("pk").bitwiseAND(lit(4294967295L)).as("supp_b"),
        col("support"), col("aa_centi"))
      .join(sdeg.withColumnRenamed("supp", "supp_a").withColumnRenamed("n_side", "n_a"), "supp_a")
      .join(sdeg.withColumnRenamed("supp", "supp_b").withColumnRenamed("n_side", "n_b"), "supp_b")
      .select(col("supp_a"), col("supp_b"), col("support"), col("aa_centi"),
        expr("(support * 1000000) DIV (n_a + n_b - support)").as("jaccard_ppm"))
      .orderBy(col("aa_centi").desc, col("supp_a"), col("supp_b"))
      .limit(LinkTopK)
  }

  val qLinkPredictSql: String =
    s"""WITH cs AS (
       |  SELECT DISTINCT o_custkey AS cust, l_suppkey AS supp
       |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
       |${cappedBasketsSql()},
       |cdeg AS (
       |  SELECT cust, 100 // length(bin(COUNT(*))) AS w
       |  FROM cs GROUP BY cust),
       |sdeg AS (SELECT supp, COUNT(*) AS n_side FROM cs GROUP BY supp),
       |pairs AS (
       |  SELECT x.supp AS supp_a, y.supp AS supp_b,
       |    COUNT(*) AS support, CAST(SUM(cdeg.w) AS BIGINT) AS aa_centi
       |  FROM csc x JOIN csc y ON x.cust = y.cust AND x.supp < y.supp
       |  JOIN cdeg ON x.cust = cdeg.cust
       |  GROUP BY x.supp, y.supp
       |  HAVING COUNT(*) >= $BasketMinSupport)
       |SELECT supp_a, supp_b, support, aa_centi,
       |  (support * 1000000) // (a.n_side + b.n_side - support) AS jaccard_ppm
       |FROM pairs
       |JOIN sdeg a ON supp_a = a.supp
       |JOIN sdeg b ON supp_b = b.supp
       |ORDER BY aa_centi DESC, supp_a, supp_b
       |LIMIT $LinkTopK""".stripMargin

  /** Calendar gap fill: the daily order series with every missing
    * calendar day restored as an explicit zero row — the
    * dense-timeseries contract every forecasting/charting consumer
    * assumes (a absent day and a zero day are different facts).
    *
    * Shape at scale: the corpus aggregates to calendar-bounded daily
    * rows first (one partial-agged shuffle); the full calendar is
    * generated from the 1-row min/max bounds via `sequence` + explode
    * — rows = elapsed days, never data-scaled — and the daily series
    * left-joins onto it. Both sides are day-count-sized, so AQE
    * broadcasts the join; 100 TB of orders still moves exactly once.
    */
  def qGapFill(s: SparkSession, dir: String): DataFrame = {
    // day-bounded, materialized once — see [[dailySeries]]
    val daily = Ingest.table(s, dir, "orders")
      .groupBy(col("o_orderdate").cast("date").as("d"))
      .agg(count(lit(1)).as("n_orders"), sum(money(col("o_totalprice"))).as("tot"))
      .materialized
    val cal = daily
      .agg(min(col("d")).as("lo"), max(col("d")).as("hi"))
      .select(explode(expr("sequence(lo, hi, interval 1 day)")).as("d"))
    cal.join(daily, Seq("d"), "left")
      .select(
        col("d"),
        coalesce(col("n_orders"), lit(0L)).as("n_orders"),
        coalesce(col("tot"), money(lit(0))).cast("double").as("daily_total"),
        col("n_orders").isNull.as("is_gap"))
  }

  val qGapFillSql: String =
    """WITH daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS d, COUNT(*) AS n_orders,
      |    SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS tot
      |  FROM orders GROUP BY CAST(o_orderdate AS DATE)),
      |cal AS (
      |  SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS d
      |  FROM (SELECT MIN(d) AS lo, MAX(d) AS hi FROM daily))
      |SELECT cal.d, COALESCE(daily.n_orders, 0) AS n_orders,
      |  CAST(COALESCE(daily.tot, 0) AS DOUBLE) AS daily_total,
      |  daily.n_orders IS NULL AS is_gap
      |FROM cal LEFT JOIN daily ON cal.d = daily.d
      |ORDER BY cal.d""".stripMargin

  private val PathSteps = 5
  private val PathTopK = 20

  /** Top user journeys: the most common first-[[PathSteps]] event-type
    * paths (e.g. `view>view>click`) — the whole-path sibling of
    * [[qTransitionMatrix]]'s one-step counts, and the input to every
    * Sankey/flow visualization. Determinism: step order is
    * (ts_ms, event_id) — a total order; path strings are then pure
    * functions of the user's history, and the top-k has a full
    * (n DESC, path) tie-break.
    *
    * Shape at scale: ONE shuffle on user_id feeds the row_number
    * window; the prefix filter keeps ≤ [[PathSteps]] rows per user
    * BEFORE the collect, so the per-user aggregate state is bounded
    * by construction (never "collect the whole history and slice" —
    * that state is unbounded). Path counting partial-aggregates into
    * a |type|^steps-bounded key space, and the top-k is a
    * TakeOrdered, not a global sort.
    */
  def qSessionPath(s: SparkSession, dir: String): DataFrame = {
    val ev = Ingest.events(s, dir)
      .select(col("user_id"), col("ts_ms"), col("event_id"), col("event_type"))
    TopK(ev, Seq("user_id"), Seq(col("ts_ms"), col("event_id")), PathSteps, "rk")
      .groupBy(col("user_id"))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("rk"), col("event_type")))),
          x => x.getField("event_type")), ">").as("path"))
      .groupBy(col("path"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("n_users").desc, col("path"))
      .limit(PathTopK)
  }

  val qSessionPathSql: String =
    s"""WITH ranked AS (
       |  SELECT user_id, event_type,
       |    ROW_NUMBER() OVER (PARTITION BY user_id
       |                       ORDER BY epoch_ms(ts), event_id) AS rk
       |  FROM events),
       |paths AS (
       |  SELECT user_id, string_agg(event_type, '>' ORDER BY rk) AS path
       |  FROM ranked WHERE rk <= $PathSteps GROUP BY user_id)
       |SELECT path, COUNT(*) AS n_users
       |FROM paths GROUP BY path
       |ORDER BY n_users DESC, path
       |LIMIT $PathTopK""".stripMargin

  /** Gap-filled daily order counts — the shared calendar series for
    * [[qAutocorr]] and [[qChangepoint]] (a missing calendar day IS a
    * zero observation for timeseries statistics; skipping it would
    * bias lag pairs and split means).
    */
  private def dailySeries(s: SparkSession, dir: String): DataFrame = {
    // day-bounded, materialized ONCE: the calendar bounds and the
    // left join both consume it, and a shared subtree re-derives per
    // consumer (the corpus would scan twice)
    val daily = Ingest.table(s, dir, "orders")
      .groupBy(expr("unix_millis(CAST(o_orderdate AS TIMESTAMP)) DIV 86400000").as("day"))
      .agg(count(lit(1)).as("x"))
      .materialized
    val cal = daily.agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
      .select(explode(expr("sequence(lo, hi)")).as("day"))
    cal.join(daily, Seq("day"), "left")
      .select(col("day"), coalesce(col("x"), lit(0L)).as("x"))
  }

  /** Lag-1 autocorrelation of daily order volume — "does yesterday
    * predict today?", the first diagnostic before any forecasting
    * model. Pearson r over (xₜ, xₜ₊₁) pairs of the GAP-FILLED daily
    * series, from exact integer moment sums (counts are integers, so
    * every sum is a BIGINT — associative, partition-safe) with the
    * identical final IEEE expression tree in both engines (the
    * [[graft.operators.ScaleOps.qStatsMoments]] device).
    *
    * Shape at scale: one corpus shuffle to calendar-bounded daily
    * rows; the lag window and moment aggregate run on that bounded
    * series.
    */
  def qAutocorr(s: SparkSession, dir: String): DataFrame = {
    val w = Window.orderBy("day")
    val pairs = dailySeries(s, dir)
      .withColumn("y", lead(col("x"), 1).over(w))
      .filter(col("y").isNotNull)
    val g = pairs.agg(
      count(lit(1)).as("n_pairs"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("y") * col("y")).as("syy"),
      sum(col("x") * col("y")).as("sxy"))
    val (nD, sxD, syD) =
      (col("n_pairs").cast("double"), col("sx").cast("double"), col("sy").cast("double"))
    val (sxxD, syyD, sxyD) =
      (col("sxx").cast("double"), col("syy").cast("double"), col("sxy").cast("double"))
    g.select(col("n_pairs"),
      (sxD / nD).as("mean_x"),
      ((nD * sxyD - sxD * syD) /
        sqrt((nD * sxxD - sxD * sxD) * (nD * syyD - syD * syD))).as("autocorr_lag1"))
  }

  val qAutocorrSql: String =
    """WITH daily AS (
      |  SELECT epoch_ms(o_orderdate) // 86400000 AS day, COUNT(*) AS x
      |  FROM orders GROUP BY 1),
      |cal AS (
      |  SELECT unnest(range(lo, hi + 1)) AS day
      |  FROM (SELECT MIN(day) AS lo, MAX(day) AS hi FROM daily)),
      |ser AS (
      |  SELECT cal.day, COALESCE(daily.x, 0) AS x
      |  FROM cal LEFT JOIN daily ON cal.day = daily.day),
      |pairs AS (
      |  SELECT x, LEAD(x) OVER (ORDER BY day) AS y FROM ser),
      |g AS (
      |  SELECT COUNT(*) AS n_pairs,
      |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
      |    CAST(SUM(x * x) AS BIGINT) AS sxx, CAST(SUM(y * y) AS BIGINT) AS syy,
      |    CAST(SUM(x * y) AS BIGINT) AS sxy
      |  FROM pairs WHERE y IS NOT NULL)
      |SELECT n_pairs,
      |  CAST(sx AS DOUBLE) / CAST(n_pairs AS DOUBLE) AS mean_x,
      |  (CAST(n_pairs AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |    / sqrt((CAST(n_pairs AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
      |         * (CAST(n_pairs AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS autocorr_lag1
      |FROM g""".stripMargin

  /** Level-shift changepoint over daily order volume (CUSUM flavor):
    * the calendar day whose before/after split maximizes the mean
    * difference — "when did the data change?", run after every reload
    * or pipeline cutover. The split score |cum·(n−k) − (tot−cum)·k|
    * is the cross-multiplied mean gap — pure integers, no division
    * until the fixed-point report (pre-scaled denominator, so no
    * overflow at any corpus size); the argmax tie-breaks on day in
    * both engines.
    *
    * Shape at scale: the corpus collapses to the calendar-bounded
    * daily series first; every window (prefix sums, argmax rank) runs
    * on that bounded input.
    */
  def qChangepoint(s: SparkSession, dir: String): DataFrame = {
    val w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    val ser = dailySeries(s, dir)
      .withColumn("k", count(lit(1)).over(
        Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("cum", sum("x").over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy()))
      .withColumn("tot", sum("x").over(Window.partitionBy()))
      .filter(col("k") < col("n")) // a split needs a non-empty right side
      .withColumn("score",
        abs(col("cum") * (col("n") - col("k")) - (col("tot") - col("cum")) * col("k")))
    ser
      .withColumn("r", row_number().over(
        Window.orderBy(col("score").desc, col("day"))))
      .filter(col("r") === 1)
      .select(
        col("day").as("split_day"), col("k").as("n_days_before"),
        (col("n") - col("k")).as("n_days_after"),
        (col("cum").cast("double") / col("k")).as("mean_before"),
        ((col("tot") - col("cum")).cast("double") / (col("n") - col("k"))).as("mean_after"),
        expr("score DIV greatest((k * (n - k)) DIV 1000000, 1)").as("score_ppm"))
  }

  val qChangepointSql: String =
    """WITH daily AS (
      |  SELECT epoch_ms(o_orderdate) // 86400000 AS day, COUNT(*) AS x
      |  FROM orders GROUP BY 1),
      |cal AS (
      |  SELECT unnest(range(lo, hi + 1)) AS day
      |  FROM (SELECT MIN(day) AS lo, MAX(day) AS hi FROM daily)),
      |ser AS (
      |  SELECT cal.day, COALESCE(daily.x, 0) AS x
      |  FROM cal LEFT JOIN daily ON cal.day = daily.day),
      |pre AS (
      |  SELECT day,
      |    CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS k,
      |    CAST(SUM(x) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
      |    CAST(COUNT(*) OVER () AS BIGINT) AS n,
      |    CAST(SUM(x) OVER () AS BIGINT) AS tot
      |  FROM ser),
      |scored AS (
      |  SELECT day, k, cum, n, tot,
      |    ABS(cum * (n - k) - (tot - cum) * k) AS score
      |  FROM pre WHERE k < n),
      |best AS (
      |  SELECT *, ROW_NUMBER() OVER (ORDER BY score DESC, day) AS r FROM scored)
      |SELECT day AS split_day, k AS n_days_before, n - k AS n_days_after,
      |  CAST(cum AS DOUBLE) / CAST(k AS DOUBLE) AS mean_before,
      |  CAST(tot - cum AS DOUBLE) / CAST(n - k AS DOUBLE) AS mean_after,
      |  score // greatest((k * (n - k)) // 1000000, 1) AS score_ppm
      |FROM best WHERE r = 1""".stripMargin

  /** Day-of-week × hour activity heatmap — the weekly-rhythm panel on
    * every operations dashboard (when do users actually show up?).
    * Integer keys: dow is Spark's 1=Sunday convention (the oracle
    * shifts DuckDB's 0=Sunday by +1, SURVEY §4), hour from integer
    * epoch-ms arithmetic — no timezone-dependent calendar call.
    * ONE partial-aggregated corpus shuffle into a 7×24-bounded key
    * space; distinct users ride the same shuffle as Spark's two-phase
    * expansion.
    */
  def qDowHourHeatmap(s: SparkSession, dir: String): DataFrame =
    Ingest.events(s, dir)
      .select(
        dayofweek(timestamp_millis(col("ts_ms"))).cast("long").as("dow"),
        expr("(ts_ms DIV 3600000) % 24").as("hour"),
        col("user_id"), col("value"))
      .groupBy("dow", "hour")
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        sum(money(col("value"))).cast("double").as("total_value"))

  val qDowHourHeatmapSql: String =
    """SELECT dayofweek(ts) + 1 AS dow,
      |  (epoch_ms(ts) // 3600000) % 24 AS hour,
      |  COUNT(*) AS n_events,
      |  COUNT(DISTINCT user_id) AS n_users,
      |  CAST(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS total_value
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY dow, hour""".stripMargin

  /** Burstiness per event type: the Fano factor (variance-to-mean
    * ratio) of OBSERVED hourly volumes — the dispersion summary beside
    * [[graft.operators.Temporal.qRateAnomaly]]'s point spikes (Fano ≈ 1
    * is Poisson-like arrival; ≫ 1 is bursty traffic that needs
    * spike-tolerant watermarks and autoscaling headroom). Exact
    * integer arithmetic end to end: with H observed hours, N events
    * and Σn² the squared hourly sums,
    *   fano_x1000 = 1000·(H·Σn² − N²) DIV (H·N)
    * — one integral division, bit-identical cross-engine. Observed
    * hours only (an all-gap hour contributes no bucket — same
    * convention as the rate-anomaly trailing window); is_bursty flags
    * fano > 2 (cross-multiplied, no division).
    *
    * Shape at scale: ONE partial-aggregated shuffle into (type, hour)
    * buckets, then a |types|-sized rollup. Headroom: H·Σn² < 2^63
    * up to ~10^5 observed hours × 10^7-events-per-hour types — audit
    * before pointing at larger windows.
    */
  def qBurstiness(s: SparkSession, dir: String): DataFrame =
    Ingest.events(s, dir)
      .select(col("event_type"), expr("ts_ms DIV 3600000").as("hour_id"))
      .groupBy(col("event_type"), col("hour_id"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_hours"),
        sum(col("n")).as("n_events"),
        sum(col("n") * col("n")).as("sum_n2"))
      .select(col("event_type"), col("n_hours"), col("n_events"),
        expr("(1000 * (n_hours * sum_n2 - n_events * n_events)) DIV (n_hours * n_events)")
          .as("fano_x1000"),
        expr("(n_hours * sum_n2 - n_events * n_events) > 2 * n_hours * n_events")
          .as("is_bursty"))

  val qBurstinessSql: String =
    """WITH h AS (
      |  SELECT event_type, epoch_ms(ts) // 3600000 AS hour_id, COUNT(*) AS n
      |  FROM events GROUP BY 1, 2),
      |t AS (
      |  SELECT event_type, COUNT(*) AS n_hours,
      |    CAST(SUM(n) AS BIGINT) AS n_events,
      |    CAST(SUM(n * n) AS BIGINT) AS sum_n2
      |  FROM h GROUP BY event_type)
      |SELECT event_type, n_hours, n_events,
      |  (1000 * (n_hours * sum_n2 - n_events * n_events)) // (n_hours * n_events)
      |    AS fano_x1000,
      |  (n_hours * sum_n2 - n_events * n_events) > 2 * n_hours * n_events AS is_bursty
      |FROM t
      |ORDER BY event_type""".stripMargin

  /** Day-of-week seasonality profile per event type: each type's
    * within-week volume distribution vs the corpus-wide one, with an
    * over-index flag — the "is checkout traffic weekend-heavy"
    * dashboard answer, and the evidence for dow-aware alert baselines
    * (companion to [[qDowHourHeatmap]], which shows absolute volume).
    * Shares are overflow-safe fixed-point ppm (numerators ≤ n·10⁶) —
    * the DIV-first device of q_pareto — so the comparison is
    * deterministic in both engines.
    *
    * Shape at scale: ONE partial-aggregated corpus shuffle into
    * |types|×7 keys; the per-type and per-dow totals come from window
    * sums OVER THAT TINY TABLE (model-sized — no second corpus pass).
    */
  def qSeasonality(s: SparkSession, dir: String): DataFrame = {
    Ingest.events(s, dir)
      .select(col("event_type"),
        dayofweek(timestamp_millis(col("ts_ms"))).cast("long").as("dow"))
      .groupBy(col("event_type"), col("dow"))
      .agg(count(lit(1)).as("n"))
      .withColumn("n_type", sum(col("n")).over(Window.partitionBy("event_type")))
      .withColumn("n_dow", sum(col("n")).over(Window.partitionBy("dow")))
      .withColumn("n_all", sum(col("n")).over(Window.partitionBy()))
      .select(col("event_type"), col("dow"), col("n"),
        expr("(n * 1000000) DIV n_type").as("type_share_ppm"),
        expr("(n_dow * 1000000) DIV n_all").as("dow_share_ppm"),
        expr("(n * 1000000) DIV n_type > (n_dow * 1000000) DIV n_all")
          .as("over_indexed"))
  }

  val qSeasonalitySql: String =
    """WITH td AS (
      |  SELECT event_type, dayofweek(ts) + 1 AS dow, COUNT(*) AS n
      |  FROM events GROUP BY 1, 2),
      |x AS (
      |  SELECT event_type, dow, n,
      |    CAST(SUM(n) OVER (PARTITION BY event_type) AS BIGINT) AS n_type,
      |    CAST(SUM(n) OVER (PARTITION BY dow) AS BIGINT) AS n_dow,
      |    CAST(SUM(n) OVER () AS BIGINT) AS n_all
      |  FROM td)
      |SELECT event_type, dow, n,
      |  (n * 1000000) // n_type AS type_share_ppm,
      |  (n_dow * 1000000) // n_all AS dow_share_ppm,
      |  (n * 1000000) // n_type > (n_dow * 1000000) // n_all AS over_indexed
      |FROM x
      |ORDER BY event_type, dow""".stripMargin

  /** Minimum co-occurrence count for a part pair to become a
    * [[qTriangles]] graph edge — thins one-off basket noise exactly
    * like [[BasketMinSupport]] does for the pair lattice.
    */
  val TriMinSupport = 2

  /** Triangle count + global clustering coefficient over the part
    * co-occurrence graph (parts linked when ≥ [[TriMinSupport]] orders
    * contain both) — the graph-cohesion statistic beside
    * [[qPagerank]]'s centrality and [[qComponents]]'s reachability:
    * how CLIQUISH is the product catalog, not just how connected.
    *
    * Shape at scale — the standard distributed triangle algorithm
    * (node-iterator with degree ordering, MapReduce-folklore a.k.a.
    * Cohen's method / Suri-Vassilvitskii):
    *   1. edge build: one self-join of the (order, part) list on the
    *      order key (basket-bounded fan-out) + one pair-key aggregate
    *      with the support threshold;
    *   2. each undirected edge is ORIENTED low→high by the total order
    *      (degree, node id) — every triangle then materializes as
    *      EXACTLY ONE wedge e1=(a,b), e2=(b,c) plus its closure (a,c),
    *      and the per-node wedge fan-out is bounded by out-degree
    *      ≤ O(√m) regardless of hub size (a 10⁶-degree hub generates
    *      no wedges at all — every edge points INTO it), capping the
    *      intermediate at O(m^{3/2}) instead of Σdeg²;
    *   3. the closure is one equi-join of the wedge set back on the
    *      oriented edge list.
    * The oriented edge list is materialized once and scanned three
    * times (self-joins re-derive their subtree otherwise); degrees
    * live in a node-sized table that AQE broadcasts while it fits.
    * All arithmetic integer → bit-reproducible on any partitioning.
    */
  /** The support-thresholded part co-occurrence edge list (p1 < p2)
    * shared by [[qTriangles]], [[qKcore]] and [[qAssortativity]]: one
    * order-key self-join (basket-bounded fan-out) + one pair-key
    * aggregate. Session-cached like [[copurchaseGraph]] — three graph
    * queries in one session would otherwise each pay the corpus-sized
    * build, the single most expensive stage in all of them. Same
    * staleness contract as [[copurchaseGraph]]: entries assume
    * immutable data dirs; in-place rewrites require
    * [[clearGraphCaches]].
    */
  private val partEdgeCache = new graft.plans.SessionCache[DataFrame]

  private def partCoEdges(s: SparkSession, dir: String): DataFrame =
    partEdgeCache.getOrElseUpdate(s, dir) {
      val li = Ingest.table(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
      li.as("a").join(li.as("b"),
          col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
        .groupBy(col("a.pk").as("p1"), col("b.pk").as("p2"))
        .agg(count(lit(1)).as("sup"))
        .filter(col("sup") >= TriMinSupport)
        .select("p1", "p2")
        .materialized
    }

  def qTriangles(s: SparkSession, dir: String): DataFrame = {
    val edges = partCoEdges(s, dir) // consumed by degrees + orientation
    val deg = edges.select(col("p1").as("nd"))
      .unionAll(edges.select(col("p2").as("nd")))
      .groupBy("nd").agg(count(lit(1)).as("d"))
      .materialized // node-sized; orientation (×2) + wedge/node rollup
    val oriented = edges
      .join(deg.select(col("nd").as("p1"), col("d").as("d1")), "p1")
      .join(deg.select(col("nd").as("p2"), col("d").as("d2")), "p2")
      .select(
        // p1 < p2 by construction, so the (deg, id) tie-break on equal
        // degrees always orients p1 → p2
        when(col("d1") <= col("d2"), col("p1")).otherwise(col("p2")).as("src"),
        when(col("d1") <= col("d2"), col("p2")).otherwise(col("p1")).as("dst"))
      .materialized // scanned three times by the wedge + closure joins
    val tri = oriented.as("e1")
      .join(oriented.as("e2"), col("e1.dst") === col("e2.src"))
      .join(oriented.as("e3"),
        col("e3.src") === col("e1.src") && col("e3.dst") === col("e2.dst"))
      .agg(count(lit(1)).as("n_triangles"))
    val nodeStats = deg.agg(
      count(lit(1)).as("n_nodes"),
      sum(expr("d * (d - 1) DIV 2")).as("n_wedges"))
    val edgeStats = edges.agg(count(lit(1)).as("n_edges"))
    nodeStats.crossJoin(edgeStats).crossJoin(tri) // three 1-row sides
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"), col("n_triangles"),
        expr("CASE WHEN n_wedges = 0 THEN 0" +
          " ELSE n_triangles * 3 * 1000000 DIV n_wedges END").as("global_cc_ppm"))
  }

  /** Local clustering coefficient census of the part co-occurrence
    * graph, rolled up by degree: for each node, tri_n / C(d, 2) — the
    * per-node sibling of [[qTriangles]]'s single global ratio, and the
    * standard diagnostic for WHERE the clustering lives (hubs vs
    * leaves; in basket graphs LCC typically falls with degree).
    *
    * The triangle enumeration is the SAME degree-oriented wedge-closure
    * join as [[qTriangles]] (each triangle found exactly once), then
    * each triangle credits its three vertices via one `explode` —
    * per-node counts in one extra node-keyed aggregate, no second
    * enumeration. Output is degree-keyed (≤ dmax rows, never
    * data-sized); per-node ratios are exact-integer ppm (tri·10⁶ DIV
    * C(d,2)) and the per-degree mean is an integer division of their
    * sum — bit-reproducible on any partitioning, like the whole graph
    * shelf.
    *
    * Shape at scale: rides the session-cached [[partCoEdges]] build;
    * the wedge join is the dominant cost (O(m^{3/2}) via the
    * orientation bound), everything after is node-sized.
    */
  def qClusteringCoeff(s: SparkSession, dir: String): DataFrame = {
    val edges = partCoEdges(s, dir)
    val deg = edges.select(col("p1").as("nd"))
      .unionAll(edges.select(col("p2").as("nd")))
      .groupBy("nd").agg(count(lit(1)).as("d"))
      .materialized // node-sized; consumed by orientation (×2) + the LCC join
    val oriented = edges
      .join(deg.select(col("nd").as("p1"), col("d").as("d1")), "p1")
      .join(deg.select(col("nd").as("p2"), col("d").as("d2")), "p2")
      .select(
        when(col("d1") <= col("d2"), col("p1")).otherwise(col("p2")).as("src"),
        when(col("d1") <= col("d2"), col("p2")).otherwise(col("p1")).as("dst"))
      .materialized // scanned three times by the wedge + closure joins
    val triNodes = oriented.as("e1")
      .join(oriented.as("e2"), col("e1.dst") === col("e2.src"))
      .join(oriented.as("e3"),
        col("e3.src") === col("e1.src") && col("e3.dst") === col("e2.dst"))
      .select(explode(array(col("e1.src"), col("e1.dst"), col("e2.dst"))).as("nd"))
      .groupBy("nd").agg(count(lit(1)).as("tri_n"))
    deg.join(triNodes, Seq("nd"), "left")
      .na.fill(0L, Seq("tri_n"))
      .withColumn("wed", expr("d * (d - 1) DIV 2"))
      .groupBy("d")
      .agg(
        count(lit(1)).as("n_nodes"),
        sum(col("tri_n")).as("total_tri"),
        sum(col("wed")).as("total_wedges"),
        expr("sum(CASE WHEN wed = 0 THEN 0" +
          " ELSE tri_n * 1000000 DIV wed END) DIV count(1)").as("mean_lcc_ppm"))
      .orderBy("d")
  }

  /** Degree assortativity of the part co-occurrence graph — Newman's
    * r: the Pearson correlation of endpoint degrees over edges.
    * r > 0 = hub-to-hub wiring (assortative), r < 0 = hub-to-leaf
    * (disassortative, the typical catalog/basket shape). Completes the
    * graph-statistics shelf: [[qDegreeStats]] (how degrees distribute)
    * → [[qTriangles]] (how clustered) → [[qKcore]] (where the dense
    * part is) → this (how the dense part WIRES).
    *
    * Both edge directions contribute once (the standard undirected
    * convention). All five moment sums are exact BIGINT (headroom:
    * Σd² per edge end ≤ 2m·dmax² — 10⁹ edges at dmax 10⁴ is 10¹⁷ <
    * 2⁶³); the final r is one double expression over those exact
    * integers (the symmetric fold makes both marginals equal, so
    * Pearson needs no sqrt — one division) — IEEE-defined on
    * identical inputs, bit-reproducible cross-engine.
    *
    * Shape at scale: the degree table joins onto the edge list twice
    * (node-sized side — AQE broadcasts), then ONE scalar aggregate.
    */
  def qAssortativity(s: SparkSession, dir: String): DataFrame = {
    val edges = partCoEdges(s, dir)
    val deg = edges.select(col("p1").as("nd"))
      .unionAll(edges.select(col("p2").as("nd")))
      .groupBy("nd").agg(count(lit(1)).as("d"))
    val both = edges
      .join(deg.select(col("nd").as("p1"), col("d").as("da")), "p1")
      .join(deg.select(col("nd").as("p2"), col("d").as("db")), "p2")
      .select(col("da"), col("db"))
    // undirected: fold each edge in both orientations
    val sym = both.unionAll(both.select(col("db").as("da"), col("da").as("db")))
    sym.agg(
        count(lit(1)).as("m2"), // 2·edges
        sum(col("da")).as("sa"),
        sum(expr("da * da")).as("saa"),
        sum(expr("da * db")).as("sab"))
      .select(col("m2"), col("sa"), col("saa"), col("sab"),
        // try_* so a graph past the documented BIGINT headroom (Σd²
        // per edge end ≤ 2m·dmax²) yields NULL, never silently wrapped
        // garbage (DuckDB errors loudly on the same overflow); the
        // degenerate all-equal-degrees graph (denominator 0, r
        // undefined) also yields NULL instead of a division artifact
        expr("CASE WHEN try_subtract(try_multiply(m2, saa), try_multiply(sa, sa)) IS NULL" +
          " OR try_subtract(try_multiply(m2, saa), try_multiply(sa, sa)) = 0 THEN NULL" +
          " ELSE CAST(try_subtract(try_multiply(m2, sab), try_multiply(sa, sa)) AS DOUBLE)" +
          " / CAST(try_subtract(try_multiply(m2, saa), try_multiply(sa, sa)) AS DOUBLE)" +
          " END").as("r"))
  }

  val qAssortativitySql: String =
    s"""WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
       |e AS (
       |  SELECT a.pk AS p1, b.pk AS p2
       |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
       |  GROUP BY 1, 2 HAVING count(*) >= $TriMinSupport),
       |nd AS (
       |  SELECT nd, count(*) AS d
       |  FROM (SELECT p1 AS nd FROM e UNION ALL SELECT p2 FROM e)
       |  GROUP BY nd),
       |pairs AS (
       |  SELECT da.d AS da, db.d AS db
       |  FROM e JOIN nd da ON e.p1 = da.nd JOIN nd db ON e.p2 = db.nd),
       |sym AS (
       |  SELECT da, db FROM pairs
       |  UNION ALL SELECT db AS da, da AS db FROM pairs),
       |m AS (
       |  SELECT count(*) AS m2,
       |    CAST(SUM(da) AS BIGINT) AS sa,
       |    CAST(SUM(da * da) AS BIGINT) AS saa,
       |    CAST(SUM(da * db) AS BIGINT) AS sab
       |  FROM sym)
       |SELECT m2, sa, saa, sab,
       |  CASE WHEN m2 * saa - sa * sa = 0 THEN NULL
       |       ELSE CAST(m2 * sab - sa * sa AS DOUBLE)
       |            / CAST(m2 * saa - sa * sa AS DOUBLE) END AS r
       |FROM m""".stripMargin

  /** [[qKcore]] parameters: the core order and the FIXED peel-round
    * budget (the bounded-iteration contract [[qPagerank]] also uses —
    * a static plan the oracle can unroll; production reruns until the
    * final two rounds agree).
    */
  val KcoreK = 3
  val KcoreRounds = 6

  /** Pairwise audience overlap between event types: |A∩B|, the two
    * audience sizes and Jaccard in ppm for every unordered type pair —
    * the cross-sell / cannibalization matrix ("do viewers also
    * purchase?") that [[qFunnel]]'s ordered steps don't answer.
    *
    * Shape at scale: the corpus collapses once to the DISTINCT
    * (user, type) pair table (one partial-agged shuffle); the pair
    * matrix is a self-join ON USER of that user-sized table with
    * type<type dedup — fan-out bounded by types-per-user (≤ the type
    * alphabet, here 5), never corpus-quadratic; audience sizes join
    * from a type-sized rollup (broadcast).
    */
  def qUserOverlap(s: SparkSession, dir: String): DataFrame = {
    val ut = Ingest.events(s, dir)
      .select(col("user_id"), col("event_type")).distinct()
      .materialized // consumed by the pair join (×2) and the sizes
    val sizes = ut.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    val pairs = ut.as("a").join(ut.as("b"),
        col("a.user_id") === col("b.user_id") &&
          col("a.event_type") < col("b.event_type"))
      .groupBy(col("a.event_type").as("type_a"), col("b.event_type").as("type_b"))
      .agg(count(lit(1)).as("n_both"))
    pairs
      .join(sizes.select(col("event_type").as("type_a"), col("n").as("n_a")), "type_a")
      .join(sizes.select(col("event_type").as("type_b"), col("n").as("n_b")), "type_b")
      .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"), col("n_both"),
        expr("n_both * 1000000 DIV (n_a + n_b - n_both)").as("jaccard_ppm"))
  }

  val qUserOverlapSql: String =
    """WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
      |sz AS (SELECT event_type, count(*) AS n FROM ut GROUP BY 1),
      |pr AS (
      |  SELECT a.event_type AS type_a, b.event_type AS type_b, count(*) AS n_both
      |  FROM ut a JOIN ut b
      |    ON a.user_id = b.user_id AND a.event_type < b.event_type
      |  GROUP BY 1, 2)
      |SELECT type_a, type_b, sa.n AS n_a, sb.n AS n_b, n_both,
      |  n_both * 1000000 // (sa.n + sb.n - n_both) AS jaccard_ppm
      |FROM pr
      |JOIN sz sa ON pr.type_a = sa.event_type
      |JOIN sz sb ON pr.type_b = sb.event_type
      |ORDER BY type_a, type_b""".stripMargin

  /** Per-type OLS trend fit of the daily event-count series — "is this
    * event type growing?" as a REGRESSION SLOPE, not eyeballing
    * [[qMovingAvg]]: slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²) with
    * x = epoch day, y = daily count. Numerator/denominator are EXACT
    * BIGINT moment sums (the [[qStatsMoments]] device — associative,
    * partition-count-invariant), emitted alongside the fixed-point
    * quotient so the fit is auditable and bit-reproducible; no float
    * enters the plan.
    *
    * Shape at scale: the corpus collapses to (type, day) counts in one
    * partial-agged shuffle; moments aggregate the calendar-sized
    * series per type. Headroom: n·Σx² at 10⁵ days of epoch-day ~2·10⁴
    * is ~10¹⁴ ≪ 2⁶³.
    */
  def qTrendFit(s: SparkSession, dir: String): DataFrame = {
    Ingest.events(s, dir)
      .groupBy(col("event_type"), expr("ts_ms DIV 86400000").as("day"))
      .agg(count(lit(1)).as("y"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_days"),
        sum(col("day")).as("sx"),
        sum(col("y")).as("sy"),
        sum(expr("day * y")).as("sxy"),
        sum(expr("day * day")).as("sxx"))
      .select(
        col("event_type"), col("n_days"),
        expr("n_days * sxy - sx * sy").as("slope_num"),
        expr("n_days * sxx - sx * sx").as("slope_den"))
      .withColumn("slope_fp",
        expr("CASE WHEN slope_den = 0 THEN 0" +
          " ELSE slope_num * 1000000 DIV slope_den END"))
  }

  val qTrendFitSql: String =
    """WITH d AS (
      |  SELECT event_type, epoch_ms(ts) // 86400000 AS day, count(*) AS y
      |  FROM events GROUP BY 1, 2),
      |m AS (
      |  SELECT event_type,
      |    count(*) AS n_days,
      |    CAST(SUM(day) AS BIGINT) AS sx,
      |    CAST(SUM(y) AS BIGINT) AS sy,
      |    CAST(SUM(day * y) AS BIGINT) AS sxy,
      |    CAST(SUM(day * day) AS BIGINT) AS sxx
      |  FROM d GROUP BY event_type)
      |SELECT event_type, n_days,
      |  n_days * sxy - sx * sy AS slope_num,
      |  n_days * sxx - sx * sx AS slope_den,
      |  CASE WHEN n_days * sxx - sx * sx = 0 THEN 0
      |       ELSE (n_days * sxy - sx * sy) * 1000000 // (n_days * sxx - sx * sx) END
      |    AS slope_fp
      |FROM m ORDER BY event_type""".stripMargin

  /** Bounded k-core decomposition of the part co-occurrence graph:
    * [[KcoreRounds]] synchronous peel rounds, each removing every
    * node of current degree < [[KcoreK]], emitting the (nodes, edges)
    * census after every round — the densest-backbone extraction that
    * complements [[qTriangles]]' cohesion statistic (triangles say how
    * clustered the graph is, the k-core says WHERE the dense part
    * lives). Convergence is observable in the output (two equal
    * consecutive rounds = fixpoint), spec-pinned at test SF.
    *
    * Shape at scale: each round is one node-sized degree aggregate +
    * two semi-joins of the edge list against the surviving nodes (AQE
    * broadcasts the node side while it fits) — edge data moves once
    * per round, never the corpus; lineitem is long gone after the
    * shared [[partCoEdges]] build. Each round's edge list is
    * materialized: an unrolled 6-round lazy plan re-derives every
    * earlier round per consumer (the [[qPagerank]] lesson). The
    * per-round census rows are DRIVER-SIZED scalars (2·R counts) —
    * collecting them is bounded by the round budget, not data.
    */
  def qKcore(s: SparkSession, dir: String): DataFrame = {
    var edges = partCoEdges(s, dir)
    def census(e: DataFrame): (Long, Long) = {
      val nNodes = e.select(col("p1").as("nd"))
        .unionAll(e.select(col("p2").as("nd"))).distinct().count()
      (nNodes, e.count())
    }
    val rows = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Long)]
    val c0 = census(edges)
    rows += ((0, c0._1, c0._2))
    for (r <- 1 to KcoreRounds) {
      val keep = edges.select(col("p1").as("nd"))
        .unionAll(edges.select(col("p2").as("nd")))
        .groupBy("nd").agg(count(lit(1)).as("d"))
        .filter(col("d") >= KcoreK)
        .select("nd")
      edges = edges
        .join(keep.withColumnRenamed("nd", "p1"), Seq("p1"), "left_semi")
        .join(keep.withColumnRenamed("nd", "p2"), Seq("p2"), "left_semi")
        .select("p1", "p2")
        .materialized
      val c = census(edges)
      rows += ((r, c._1, c._2))
    }
    import s.implicits._
    rows.toSeq.toDF("round", "n_nodes", "n_edges")
  }

  /** DuckDB mirror: the peel unrolled into [[KcoreRounds]] static CTE
    * layers (degree → survivors → filtered edges), census scalars per
    * layer UNION ALLed.
    */
  val qKcoreSql: String = {
    // AS MATERIALIZED throughout: DuckDB inlines a CTE per consumer,
    // and every round reads its predecessor 3× (degree union twice +
    // the edge filter) — an inlined unroll re-reads lineitem 3^R times
    // (observed: "Too many open files" at R=6)
    val rounds = (1 to KcoreRounds).map { r =>
      s"""d$r AS MATERIALIZED (
         |  SELECT nd, count(*) AS d
         |  FROM (SELECT p1 AS nd FROM e${r - 1} UNION ALL SELECT p2 FROM e${r - 1})
         |  GROUP BY nd),
         |k$r AS MATERIALIZED (SELECT nd FROM d$r WHERE d >= $KcoreK),
         |e$r AS MATERIALIZED (
         |  SELECT p1, p2 FROM e${r - 1}
         |  WHERE p1 IN (SELECT nd FROM k$r) AND p2 IN (SELECT nd FROM k$r))""".stripMargin
    }.mkString(",\n")
    val census = (0 to KcoreRounds).map { r =>
      s"""SELECT $r AS round,
         |  (SELECT count(*) FROM (
         |     SELECT DISTINCT nd FROM (SELECT p1 AS nd FROM e$r UNION ALL SELECT p2 FROM e$r)))
         |    AS n_nodes,
         |  (SELECT count(*) FROM e$r) AS n_edges""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH li AS MATERIALIZED (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
       |e0 AS MATERIALIZED (
       |  SELECT a.pk AS p1, b.pk AS p2
       |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
       |  GROUP BY 1, 2 HAVING count(*) >= $TriMinSupport),
       |$rounds
       |$census
       |ORDER BY round""".stripMargin
  }

  /** Shared oriented-graph CTE prefix (edges → degrees → degree-ordered
    * orientation) for [[qTrianglesSql]] and [[qClusteringCoeffSql]] —
    * one definition of the enumeration graph, so the global ratio and
    * the per-degree census cannot disagree on what a triangle is.
    */
  private def triGraphCtes: String =
    // Every stage MATERIALIZED (r15): these CTEs are multiply
    // referenced (o three times by the triangle join, nd by o twice
    // and by the census), and DuckDB's default inlining re-expands
    // the whole chain at every reference — at the 10× replica the
    // resulting join tree was catastrophic (the clustering-coeff
    // oracle spilled temp storage past the DISK; each stage runs in
    // seconds standalone, the full inlined query never finished).
    // Materialization pins the oracle to the staged evaluation the
    // SQL spells — li 600k rows, e/nd/o edge-sized — and the full
    // census runs in ~3.5 s at sf1.
    s"""li AS MATERIALIZED (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
       |e AS MATERIALIZED (
       |  SELECT a.pk AS p1, b.pk AS p2
       |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
       |  GROUP BY 1, 2 HAVING count(*) >= $TriMinSupport),
       |nd AS MATERIALIZED (
       |  SELECT nd, count(*) AS d
       |  FROM (SELECT p1 AS nd FROM e UNION ALL SELECT p2 FROM e)
       |  GROUP BY nd),
       |o AS MATERIALIZED (
       |  SELECT CASE WHEN da.d <= db.d THEN e.p1 ELSE e.p2 END AS src,
       |         CASE WHEN da.d <= db.d THEN e.p2 ELSE e.p1 END AS dst
       |  FROM e JOIN nd da ON e.p1 = da.nd JOIN nd db ON e.p2 = db.nd)""".stripMargin

  val qTrianglesSql: String =
    s"""WITH $triGraphCtes,
       |tri AS (
       |  SELECT count(*) AS n_triangles
       |  FROM o e1
       |  JOIN o e2 ON e1.dst = e2.src
       |  JOIN o e3 ON e3.src = e1.src AND e3.dst = e2.dst),
       |ns AS (
       |  SELECT count(*) AS n_nodes,
       |    CAST(SUM(d * (d - 1) // 2) AS BIGINT) AS n_wedges
       |  FROM nd),
       |es AS (SELECT count(*) AS n_edges FROM e)
       |SELECT n_nodes, n_edges, n_wedges, n_triangles,
       |  CASE WHEN n_wedges = 0 THEN 0
       |       ELSE n_triangles * 3 * 1000000 // n_wedges END AS global_cc_ppm
       |FROM ns CROSS JOIN es CROSS JOIN tri""".stripMargin

  val qClusteringCoeffSql: String =
    s"""WITH $triGraphCtes,
       |t3 AS (
       |  SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
       |  FROM o e1
       |  JOIN o e2 ON e1.dst = e2.src
       |  JOIN o e3 ON e3.src = e1.src AND e3.dst = e2.dst),
       |tn AS (
       |  SELECT x AS nd, count(*) AS tri_n
       |  FROM (SELECT a AS x FROM t3 UNION ALL SELECT b FROM t3 UNION ALL SELECT c FROM t3)
       |  GROUP BY x),
       |pn AS (
       |  SELECT nd.d, COALESCE(tn.tri_n, 0) AS tri_n, nd.d * (nd.d - 1) // 2 AS wed
       |  FROM nd LEFT JOIN tn ON nd.nd = tn.nd)
       |SELECT d, CAST(count(*) AS BIGINT) AS n_nodes,
       |  CAST(SUM(tri_n) AS BIGINT) AS total_tri,
       |  CAST(SUM(wed) AS BIGINT) AS total_wedges,
       |  CAST(SUM(CASE WHEN wed = 0 THEN 0 ELSE tri_n * 1000000 // wed END)
       |    // count(*) AS BIGINT) AS mean_lcc_ppm
       |FROM pn GROUP BY d ORDER BY d""".stripMargin

  /** Exponentially-weighted moving average of daily revenue per order
    * priority (α = 0.2) — the recursive time-series smoother none of
    * the window frames can express (every output depends on ALL prior
    * inputs, not a bounded frame): the forecasting/monitoring
    * baseline next to [[qMovingAvg]]'s flat window.
    *
    * Shape at scale: the corpus collapses FIRST to (priority, day)
    * partial-aggregated decimal sums — one shuffle on the
    * high-cardinality composite, exactly associative — and only the
    * calendar-bounded series (≤ elapsed days per group, never
    * data-sized) is collected into an array and folded sequentially.
    * The recursion s′ = 0.8·s + 0.2·x runs in ONE deterministic
    * left-to-right double fold per group; DuckDB's `list_reduce` folds
    * the identical value sequence with the identical literals, so the
    * smoothed values are BIT-EXACT cross-engine (SURVEY §4 rule 7) —
    * this is the device that keeps a float recursion oracle-checkable.
    */
  def qEwma(s: SparkSession, dir: String): DataFrame = {
    val daily = Ingest.table(s, dir, "orders")
      .groupBy(col("o_orderpriority"),
        expr("unix_millis(CAST(o_orderdate AS TIMESTAMP)) DIV 86400000").as("day"))
      .agg(sum(expr("CAST(o_totalprice AS DECIMAL(18,2))")).as("tot"))
      .select(col("o_orderpriority"), col("day"), col("tot").cast("double").as("v"))
    daily.groupBy(col("o_orderpriority"))
      .agg(expr("transform(array_sort(collect_list(struct(day, v))), e -> e.v)").as("vals"))
      .select(
        col("o_orderpriority"),
        expr("size(vals)").as("n_days"),
        expr("aggregate(slice(vals, 2, greatest(size(vals) - 1, 0)), " +
          "element_at(vals, 1), " +
          "(acc, x) -> acc * CAST(0.8 AS DOUBLE) + x * CAST(0.2 AS DOUBLE))").as("ewma"))
  }

  val qEwmaSql: String =
    """WITH d AS (
      |  SELECT o_orderpriority,
      |    epoch_ms(o_orderdate) // 86400000 AS day,
      |    CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS v
      |  FROM orders GROUP BY 1, 2),
      |s AS (
      |  SELECT o_orderpriority, list(v ORDER BY day) AS vals
      |  FROM d GROUP BY 1)
      |SELECT o_orderpriority,
      |  CAST(length(vals) AS INTEGER) AS n_days,
      |  list_reduce(vals,
      |    (acc, x) -> acc * CAST(0.8 AS DOUBLE) + x * CAST(0.2 AS DOUBLE)) AS ewma
      |FROM s ORDER BY o_orderpriority""".stripMargin

  /** Exact 7-observation rolling MEDIAN of daily revenue per order
    * priority — the robust twin of [[qMovingAvg]] (one outlier day
    * drags a mean for a week; the median shrugs) and a holistic
    * window statistic no algebraic frame aggregate computes. Emitted
    * as `med2_cents` = the SUM of the two central order statistics
    * (= 2×median, an integer): exact cents all the way — no float
    * division, no engine rounding-mode trap.
    *
    * Shape at scale: the corpus collapses first to the (priority, day)
    * daily table (one partial-agged shuffle, exact decimal sums), and
    * the window runs over that CALENDAR-SIZED series — collecting and
    * sorting ≤ 7 values per row. The window is observed-day row-based
    * by design (a gap week compresses); a calendar-true variant
    * composes with [[qGapFill]] upstream, same window.
    */
  def qRollingMedian(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_orderpriority")).orderBy(col("day"))
      .rowsBetween(-6, 0)
    Ingest.table(s, dir, "orders")
      .groupBy(col("o_orderpriority"),
        expr("unix_millis(CAST(o_orderdate AS TIMESTAMP)) DIV 86400000").as("day"))
      .agg(expr("CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)").as("cents"))
      .withColumn("win", sort_array(collect_list(col("cents")).over(w)))
      .select(
        col("o_orderpriority"), col("day"),
        expr("size(win)").as("n_win"),
        expr("element_at(win, CAST((size(win) + 1) DIV 2 AS INT))" +
          " + element_at(win, CAST(size(win) DIV 2 + 1 AS INT))").as("med2_cents"))
  }

  val qRollingMedianSql: String =
    """WITH d AS (
      |  SELECT o_orderpriority,
      |    epoch_ms(o_orderdate) // 86400000 AS day,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents
      |  FROM orders GROUP BY 1, 2),
      |w AS (
      |  SELECT o_orderpriority, day,
      |    list_sort(list(cents) OVER (PARTITION BY o_orderpriority ORDER BY day
      |      ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)) AS win
      |  FROM d)
      |SELECT o_orderpriority, day,
      |  CAST(length(win) AS INTEGER) AS n_win,
      |  win[(length(win) + 1) // 2] + win[length(win) // 2 + 1] AS med2_cents
      |FROM w ORDER BY o_orderpriority, day""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_link_predict" -> qLinkPredict _,
    "q_label_prop"   -> qLabelProp _,
    "q_graph_modularity" -> qGraphModularity _,
    "q_user_overlap" -> qUserOverlap _,
    "q_assortativity" -> qAssortativity _,
    "q_trend_fit"  -> qTrendFit _,
    "q_kcore"      -> qKcore _,
    "q_rolling_median" -> qRollingMedian _,
    "q_ewma"       -> qEwma _,
    "q_triangles"  -> qTriangles _,
    "q_clustering_coeff" -> qClusteringCoeff _,
    "q_autocorr"   -> qAutocorr _,
    "q_burstiness" -> qBurstiness _,
    "q_seasonality" -> qSeasonality _,
    "q_changepoint" -> qChangepoint _,
    "q_funnel_rates" -> qFunnelRates _,
    "q_time_to_convert" -> qTimeToConvert _,
    "q_dow_hour_heatmap" -> qDowHourHeatmap _,
    "q_session_path" -> qSessionPath _,
    "q_pagerank"   -> qPagerank _,
    "q_hits"       -> qHits _,
    "q_funnel"     -> qFunnel _,
    "q_retention"  -> qRetention _,
    "q_histogram"  -> qHistogram _,
    "q_transition_matrix" -> qTransitionMatrix _,
    "q_components" -> qComponents _,
    "q_moving_avg" -> qMovingAvg _,
    "q_degree_stats" -> qDegreeStats _,
    "q_basket_pairs" -> qBasketPairs _,
    "q_gap_fill"   -> qGapFill _)

  def oracle: Map[String, String] = Map(
    "q_link_predict" -> qLinkPredictSql,
    "q_label_prop"   -> qLabelPropSql,
    "q_graph_modularity" -> qGraphModularitySql,
    "q_user_overlap" -> qUserOverlapSql,
    "q_assortativity" -> qAssortativitySql,
    "q_trend_fit"  -> qTrendFitSql,
    "q_kcore"      -> qKcoreSql,
    "q_rolling_median" -> qRollingMedianSql,
    "q_ewma"       -> qEwmaSql,
    "q_triangles"  -> qTrianglesSql,
    "q_clustering_coeff" -> qClusteringCoeffSql,
    "q_autocorr"   -> qAutocorrSql,
    "q_burstiness" -> qBurstinessSql,
    "q_seasonality" -> qSeasonalitySql,
    "q_changepoint" -> qChangepointSql,
    "q_funnel_rates" -> qFunnelRatesSql,
    "q_time_to_convert" -> qTimeToConvertSql,
    "q_dow_hour_heatmap" -> qDowHourHeatmapSql,
    "q_session_path" -> qSessionPathSql,
    "q_pagerank"   -> qPagerankSql,
    "q_hits"       -> qHitsSql,
    "q_funnel"     -> qFunnelSql,
    "q_retention"  -> qRetentionSql,
    "q_histogram"  -> qHistogramSql,
    "q_transition_matrix" -> qTransitionMatrixSql,
    "q_components" -> qComponentsSql,
    "q_moving_avg" -> qMovingAvgSql,
    "q_degree_stats" -> qDegreeStatsSql,
    "q_basket_pairs" -> qBasketPairsSql,
    "q_gap_fill"   -> qGapFillSql)
}
