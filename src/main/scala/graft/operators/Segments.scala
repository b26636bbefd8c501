package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.plans.Materialize._
import graft.plans.{Surrogate, TopK}
import graft.sources.Ingest

/** Customer-segmentation / distribution analytics (SURVEY.md §2 rows
  * 100-102): RFM scoring, revenue-concentration deciles (Pareto), and
  * week-over-week movement — the marketing-analytics layer every
  * deployment of the reference's dashboard feed (ref dags/ELT.py:286-321)
  * grows next.
  *
  * Determinism rules (SURVEY §4): money flows as exact integer CENTS
  * (DECIMAL sum ×100 → BIGINT), every quantile/decile is an integer
  * fixed-point function of a scale-safe GLOBAL RANK
  * ([[Surrogate.rankedId]] — range exchange + zipWithIndex, never a
  * single-partition window), and percentage-change / share numbers are
  * fixed-point basis points via integral DIV (both engines truncate
  * toward zero, verified including negatives).
  */
object Segments {

  /** RFM segmentation over `orders`: per customer, recency (days since
    * last order vs the corpus max date), frequency (order count) and
    * monetary (exact decimal total), each scored into quintiles 1-5 by
    * GLOBAL rank — r=5 most recent, f=5 most frequent, m=5 highest
    * spend — plus the concatenated segment code ("555" = champions).
    *
    * Shape at scale: one partial-aggregated shuffle collapses the
    * corpus to customer-sized rows; the three quintile ranks each run
    * through [[Surrogate.rankedId]]'s range exchange over that
    * customer table (a naive NTILE(5) window would pull every
    * customer through ONE partition — the round-1 scale-killer this
    * repo already evicted from surrogate keys). Quintile =
    * ((rank-1)·5) DIV n — pure integers, bit-identical cross-engine;
    * ties break on custkey so ranks are total orders.
    */
  def qRfm(s: SparkSession, dir: String): DataFrame = {
    val cust = Ingest.table(s, dir, "orders")
      .select(col("o_custkey"),
        expr("unix_millis(CAST(o_orderdate AS TIMESTAMP)) DIV 86400000").as("day"),
        money(col("o_totalprice")).as("price"))
      .groupBy("o_custkey")
      .agg(
        max("day").as("last_day"),
        count(lit(1)).as("frequency"),
        (sum(col("price")) * 100).cast("long").as("cents"))
      // customer-sized, materialized ONCE: it feeds the corpus-stats
      // scalar AND the rank chain, and a shared DataFrame subtree is
      // re-derived per consumer (the corpus would scan twice)
      .materialized
    val corpus = cust.agg(max("last_day").as("corpus_day"),
      count(lit(1)).as("n_cust"))
    val base = cust.crossJoin(broadcast(corpus))
      .select(col("o_custkey"),
        (col("corpus_day") - col("last_day")).as("recency_days"),
        col("frequency"), col("cents"), col("n_cust"))
    val ranked = Surrogate.rankedId(
      Surrogate.rankedId(
        Surrogate.rankedId(base, Seq("recency_days", "o_custkey"), "rr"),
        Seq("frequency", "o_custkey"), "fr"),
      Seq("cents", "o_custkey"), "mr")
    ranked.select(
      col("o_custkey"), col("recency_days"), col("frequency"),
      (col("cents").cast("double") / 100d).as("monetary"),
      (lit(5L) - expr("((rr - 1) * 5) DIV n_cust")).as("r_score"),
      (expr("((fr - 1) * 5) DIV n_cust") + 1L).as("f_score"),
      (expr("((mr - 1) * 5) DIV n_cust") + 1L).as("m_score"))
      .withColumn("segment", concat(
        col("r_score").cast("string"), col("f_score").cast("string"),
        col("m_score").cast("string")))
  }

  val qRfmSql: String =
    """WITH c AS (
      |  SELECT o_custkey, MAX(epoch_ms(o_orderdate) // 86400000) AS last_day,
      |    COUNT(*) AS frequency,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) * 100 AS BIGINT) AS cents
      |  FROM orders GROUP BY o_custkey),
      |t AS (SELECT MAX(last_day) AS corpus_day, COUNT(*) AS n_cust FROM c),
      |b AS (
      |  SELECT o_custkey, corpus_day - last_day AS recency_days, frequency, cents, n_cust,
      |    ROW_NUMBER() OVER (ORDER BY corpus_day - last_day, o_custkey) AS rr,
      |    ROW_NUMBER() OVER (ORDER BY frequency, o_custkey) AS fr,
      |    ROW_NUMBER() OVER (ORDER BY cents, o_custkey) AS mr
      |  FROM c CROSS JOIN t)
      |SELECT o_custkey, recency_days, frequency,
      |  CAST(cents AS DOUBLE) / 100 AS monetary,
      |  5 - ((rr - 1) * 5) // n_cust AS r_score,
      |  ((fr - 1) * 5) // n_cust + 1 AS f_score,
      |  ((mr - 1) * 5) // n_cust + 1 AS m_score,
      |  CAST(5 - ((rr - 1) * 5) // n_cust AS VARCHAR) ||
      |  CAST(((fr - 1) * 5) // n_cust + 1 AS VARCHAR) ||
      |  CAST(((mr - 1) * 5) // n_cust + 1 AS VARCHAR) AS segment
      |FROM b ORDER BY o_custkey""".stripMargin

  /** Revenue concentration by customer decile (the Pareto / "80-20"
    * report): customers ranked by total spend DESC, bucketed into ten
    * equal-count deciles, each with its customer count, revenue, share
    * and cumulative share of total revenue in basis points.
    *
    * Shape at scale: corpus → customer-sized aggregate (one shuffle),
    * decile from the scale-safe global rank, then a partial-aggregated
    * rollup into TEN rows; the cumulative window runs over those ten.
    * Share arithmetic pre-scales the denominator
    * (cents DIV (total DIV 10⁴)) so the numerator never multiplies —
    * no overflow at any corpus size, identical truncation in both
    * engines.
    */
  def qPareto(s: SparkSession, dir: String): DataFrame = {
    val spend = Ingest.table(s, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg((sum(money(col("o_totalprice"))) * 100).cast("long").as("cents"))
      .withColumn("neg_cents", -col("cents"))
      // customer-sized, feeds both the total and the rank (see qRfm)
      .materialized
    val ranked = Surrogate.rankedId(spend, Seq("neg_cents", "o_custkey"), "rk")
    val tot = spend.agg(sum("cents").cast("long").as("total_cents"),
      count(lit(1)).as("n_cust"))
    val dec = ranked.crossJoin(broadcast(tot))
      .groupBy(expr("((rk - 1) * 10) DIV n_cust").as("decile"))
      .agg(
        count(lit(1)).as("n_customers"),
        sum("cents").cast("long").as("decile_cents"),
        max("total_cents").as("total_cents"))
    val w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    dec
      .withColumn("cum_cents", sum("decile_cents").over(w))
      .select(
        col("decile"), col("n_customers"),
        (col("decile_cents").cast("double") / 100d).as("revenue"),
        expr("decile_cents DIV greatest(total_cents DIV 10000, 1)").as("share_bp"),
        expr("cum_cents DIV greatest(total_cents DIV 10000, 1)").as("cum_share_bp"))
  }

  val qParetoSql: String =
    """WITH spend AS (
      |  SELECT o_custkey,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) * 100 AS BIGINT) AS cents
      |  FROM orders GROUP BY o_custkey),
      |t AS (SELECT CAST(SUM(cents) AS BIGINT) AS total_cents, COUNT(*) AS n_cust FROM spend),
      |r AS (
      |  SELECT cents, n_cust, total_cents,
      |    ROW_NUMBER() OVER (ORDER BY -cents, o_custkey) AS rk
      |  FROM spend CROSS JOIN t),
      |d AS (
      |  SELECT ((rk - 1) * 10) // n_cust AS decile, COUNT(*) AS n_customers,
      |    CAST(SUM(cents) AS BIGINT) AS decile_cents, MAX(total_cents) AS total_cents
      |  FROM r GROUP BY ((rk - 1) * 10) // n_cust)
      |SELECT decile, n_customers,
      |  CAST(decile_cents AS DOUBLE) / 100 AS revenue,
      |  decile_cents // greatest(total_cents // 10000, 1) AS share_bp,
      |  CAST(SUM(decile_cents) OVER (ORDER BY decile
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |    // greatest(total_cents // 10000, 1) AS cum_share_bp
      |FROM d ORDER BY decile""".stripMargin

  /** Week-over-week movement per event type: weekly event volume and
    * distinct-user reach, with the previous week's volume, absolute
    * delta, and fixed-point percent change in basis points (negative
    * deltas exercise the both-engines-truncate-toward-zero DIV
    * contract — verified, not assumed).
    *
    * Shape at scale: weeks are integer epoch-ms DIV — no calendar
    * functions to disagree over. ONE corpus shuffle feeds both
    * aggregates (count partial-aggregates; the distinct-user count is
    * the two-phase expansion Spark plans for COUNT(DISTINCT)); the lag
    * window then runs on the |types|×|weeks| result — bounded by
    * calendar time and type vocabulary, never by volume.
    */
  def qWowChange(s: SparkSession, dir: String): DataFrame = {
    val wk = Ingest.events(s, dir)
      .select(col("event_type"), expr("ts_ms DIV 604800000").as("week"),
        col("user_id"))
    val agg = wk.groupBy("event_type", "week")
      .agg(count(lit(1)).as("n_events"), countDistinct(col("user_id")).as("n_users"))
    val w = Window.partitionBy("event_type").orderBy("week")
    agg
      .withColumn("prev_events", lag("n_events", 1).over(w))
      .select(col("event_type"), col("week"), col("n_events"), col("n_users"),
        col("prev_events"),
        (col("n_events") - col("prev_events")).as("delta"),
        expr("((n_events - prev_events) * 10000) DIV prev_events").as("pct_bp"))
  }

  val qWowChangeSql: String =
    """WITH wk AS (
      |  SELECT event_type, epoch_ms(ts) // 604800000 AS week, user_id FROM events),
      |a AS (
      |  SELECT event_type, week, COUNT(*) AS n_events,
      |    COUNT(DISTINCT user_id) AS n_users
      |  FROM wk GROUP BY event_type, week),
      |l AS (
      |  SELECT event_type, week, n_events, n_users,
      |    LAG(n_events) OVER (PARTITION BY event_type ORDER BY week) AS prev_events
      |  FROM a)
      |SELECT event_type, week, n_events, n_users, prev_events,
      |  n_events - prev_events AS delta,
      |  ((n_events - prev_events) * 10000) // prev_events AS pct_bp
      |FROM l ORDER BY event_type, week""".stripMargin

  /** Customer spend-quintile MIGRATION between 1995 and 1996 — the
    * segment-movement matrix behind churn/upgrade dashboards ("how
    * many top-quintile customers slipped?"). Each year's quintile
    * comes from the same scale-safe global-rank machinery as
    * [[qRfm]]; customers active in both years join into a 5×5
    * transition matrix with the year-over-year spend delta riding
    * along as exact integer cents.
    *
    * Shape at scale: per year, one partial-aggregated corpus shuffle
    * to customer-sized spend (the year filter pushes to the scan),
    * checkpointed once (it feeds the count scalar and the rank); the
    * migration join and matrix rollup run on customer-sized tables.
    */
  def qSegmentMigration(s: SparkSession, dir: String): DataFrame = {
    def quintiles(yr: Int, qName: String, cName: String): DataFrame = {
      val spend = Ingest.table(s, dir, "orders")
        .filter(year(col("o_orderdate")) === yr)
        .groupBy(col("o_custkey"))
        .agg((sum(money(col("o_totalprice"))) * 100).cast("long").as(cName))
        .withColumn("neg", -col(cName))
        .materialized
      val n = spend.agg(count(lit(1)).as("n_cust"))
      Surrogate.rankedId(spend.crossJoin(broadcast(n)), Seq("neg", "o_custkey"), "rk")
        .select(col("o_custkey"), col(cName),
          (expr("((rk - 1) * 5) DIV n_cust") + 1L).as(qName))
    }
    quintiles(1995, "q_from", "cents_1995")
      .join(quintiles(1996, "q_to", "cents_1996"), "o_custkey")
      .groupBy(col("q_from"), col("q_to"))
      .agg(
        count(lit(1)).as("n_customers"),
        sum(col("cents_1996") - col("cents_1995")).as("delta_cents"))
  }

  val qSegmentMigrationSql: String = {
    def yearCte(yr: Int, alias: String): String =
      s"""$alias AS (
         |  SELECT o_custkey,
         |    CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) * 100 AS BIGINT) AS cents,
         |    ROW_NUMBER() OVER (
         |      ORDER BY -CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) * 100 AS BIGINT),
         |               o_custkey) AS rk,
         |    COUNT(*) OVER () AS n_cust
         |  FROM orders WHERE year(o_orderdate) = $yr
         |  GROUP BY o_custkey)""".stripMargin
    s"""WITH ${yearCte(1995, "a")},
       |${yearCte(1996, "b")}
       |SELECT ((a.rk - 1) * 5) // a.n_cust + 1 AS q_from,
       |  ((b.rk - 1) * 5) // b.n_cust + 1 AS q_to,
       |  COUNT(*) AS n_customers,
       |  CAST(SUM(b.cents - a.cents) AS BIGINT) AS delta_cents
       |FROM a JOIN b ON a.o_custkey = b.o_custkey
       |GROUP BY 1, 2
       |ORDER BY q_from, q_to""".stripMargin
  }

  /** Cohort lifetime-value curve: customers grouped by first-order
    * week, revenue accumulated per cohort across week offsets — the
    * money sibling of [[Analytics.qRetention]]'s activity matrix
    * (dashboards plot LTV(t) per acquisition cohort off exactly this
    * table). Revenue flows as exact integer cents; per-user LTV is
    * cohort-cumulative cents DIV cohort size (integral DIV truncates
    * identically cross-engine, negatives included — SURVEY §4).
    *
    * Cohort size needs no second pass: every customer's FIRST order
    * lands at offset 0 by construction, so cohort size = the distinct
    * active-user count the offset-0 row already carries, read back via
    * FIRST_VALUE over the offset order. One consumption of the
    * cohort-tagged orders — no shared subtree, nothing to checkpoint.
    *
    * Shape at scale: one shuffle on o_custkey (the cohort window),
    * one partial-aggregated rollup to (cohort, offset) — output and
    * all window inputs are bounded by weeks², independent of row
    * count. o_orderdate is TIMESTAMP_NTZ — epoch arithmetic goes
    * through `unix_millis(CAST(... AS TIMESTAMP))` (SURVEY §4).
    */
  def qCohortLtv(s: SparkSession, dir: String): DataFrame = {
    val o = Ingest.table(s, dir, "orders")
      .select(col("o_custkey"),
        expr("unix_millis(CAST(o_orderdate AS TIMESTAMP)) DIV 86400000 DIV 7").as("week"),
        (money(col("o_totalprice")) * 100).cast("long").as("cents"))
      .withColumn("cohort_week", min("week").over(Window.partitionBy("o_custkey")))
    val roll = o
      .groupBy(col("cohort_week"), (col("week") - col("cohort_week")).as("week_offset"))
      .agg(
        count(lit(1)).as("n_orders"),
        countDistinct(col("o_custkey")).as("n_active"),
        sum(col("cents")).as("cents"))
    val byOffset = Window.partitionBy("cohort_week").orderBy("week_offset")
    roll
      .withColumn("cum_cents", sum("cents").over(byOffset))
      .withColumn("cohort_users", first("n_active").over(byOffset))
      .select(col("cohort_week"), col("week_offset"), col("n_orders"),
        col("n_active"), col("cents"), col("cum_cents"), col("cohort_users"),
        expr("cum_cents DIV cohort_users").as("ltv_cents_per_user"))
  }

  val qCohortLtvSql: String =
    """WITH o AS (
      |  SELECT o_custkey,
      |    epoch_ms(o_orderdate) // 86400000 // 7 AS week,
      |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents,
      |    MIN(epoch_ms(o_orderdate) // 86400000 // 7)
      |      OVER (PARTITION BY o_custkey) AS cohort_week
      |  FROM orders),
      |roll AS (
      |  SELECT cohort_week, week - cohort_week AS week_offset,
      |    COUNT(*) AS n_orders,
      |    COUNT(DISTINCT o_custkey) AS n_active,
      |    CAST(SUM(cents) AS BIGINT) AS cents
      |  FROM o GROUP BY 1, 2)
      |SELECT cohort_week, week_offset, n_orders, n_active, cents,
      |  CAST(SUM(cents) OVER (PARTITION BY cohort_week ORDER BY week_offset) AS BIGINT)
      |    AS cum_cents,
      |  FIRST_VALUE(n_active) OVER (PARTITION BY cohort_week ORDER BY week_offset)
      |    AS cohort_users,
      |  CAST(SUM(cents) OVER (PARTITION BY cohort_week ORDER BY week_offset) AS BIGINT)
      |    // FIRST_VALUE(n_active) OVER (PARTITION BY cohort_week ORDER BY week_offset)
      |    AS ltv_cents_per_user
      |FROM roll ORDER BY cohort_week, week_offset""".stripMargin

  private val RepeatGapCapWeeks = 8L

  /** Each customer's first two orders (o_custkey, o_orderkey, day, rn)
    * by (day, o_orderkey): [[qRepeatPurchase]]'s rank, exposed
    * un-checkpointed so PlanSpec can pin its shape. */
  private[graft] def firstTwoOrders(s: SparkSession, dir: String): DataFrame =
    TopK(Ingest.table(s, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"),
        expr("unix_millis(CAST(o_orderdate AS TIMESTAMP)) DIV 86400000").as("day")),
      Seq("o_custkey"), Seq(col("day"), col("o_orderkey")), 2, "rn")

  /** Repeat-purchase latency: per customer, the gap between the first
    * and second order, bucketed into weeks (capped at
    * [[RepeatGapCapWeeks]], with -1 = never repeated) and shared
    * against the whole customer population in basis points — the
    * "how long until a customer comes back" distribution that sets
    * retargeting windows and the repeat-rate KPI (its -1 row's
    * complement). Companion to [[qCohortLtv]]: LTV says how much
    * cohorts spend, this says how fast they return.
    *
    * Determinism: same-day second orders tie-break on o_orderkey in
    * the rank, landing them in bucket 0 identically cross-engine;
    * shares are integral-DIV basis points.
    *
    * Shape at scale: one shuffle on o_custkey (rank window, rn ≤ 2
    * keeps two rows per customer), rollup to ≤10 bucket rows —
    * checkpointed once, since the population total and the share join
    * both consume it (a re-derived subtree would re-aggregate the
    * corpus twice). The total rides in broadcast.
    */
  def qRepeatPurchase(s: SparkSession, dir: String): DataFrame = {
    val o = firstTwoOrders(s, dir)
      .groupBy(col("o_custkey"))
      .agg(
        min(when(col("rn") === 1, col("day"))).as("d1"),
        min(when(col("rn") === 2, col("day"))).as("d2"))
    val bucketed = o
      .select(
        when(col("d2").isNull, lit(-1L))
          .otherwise(least(expr("(d2 - d1) DIV 7"), lit(RepeatGapCapWeeks)))
          .as("gap_week_bucket"))
      .groupBy(col("gap_week_bucket"))
      .agg(count(lit(1)).as("n_customers"))
      .materialized
    val total = bucketed.agg(sum("n_customers").as("n_total"))
    bucketed.crossJoin(broadcast(total))
      .select(col("gap_week_bucket"), col("n_customers"),
        expr("(n_customers * 10000) DIV n_total").as("pct_bp"))
  }

  val qRepeatPurchaseSql: String =
    s"""WITH o AS (
       |  SELECT o_custkey, o_orderkey,
       |    epoch_ms(o_orderdate) // 86400000 AS day,
       |    ROW_NUMBER() OVER (PARTITION BY o_custkey
       |      ORDER BY epoch_ms(o_orderdate) // 86400000, o_orderkey) AS rn
       |  FROM orders),
       |ft AS (
       |  SELECT o_custkey,
       |    MIN(CASE WHEN rn = 1 THEN day END) AS d1,
       |    MIN(CASE WHEN rn = 2 THEN day END) AS d2
       |  FROM o WHERE rn <= 2 GROUP BY o_custkey),
       |b AS (
       |  SELECT CASE WHEN d2 IS NULL THEN -1
       |              ELSE least((d2 - d1) // 7, $RepeatGapCapWeeks) END AS gap_week_bucket,
       |    COUNT(*) AS n_customers
       |  FROM ft GROUP BY 1),
       |t AS (SELECT CAST(SUM(n_customers) AS BIGINT) AS n_total FROM b)
       |SELECT gap_week_bucket, n_customers,
       |  (n_customers * 10000) // n_total AS pct_bp
       |FROM b CROSS JOIN t ORDER BY gap_week_bucket""".stripMargin

  /** Supplier revenue concentration per nation — the Herfindahl-
    * Hirschman index (Σ share², shares in basis points so 10⁸ =
    * monopoly) plus the hottest single-supplier share: the
    * market-structure / supply-risk report beside [[qPareto]]'s
    * customer-side concentration. An HHI over ~2500bp² per the usual
    * antitrust reading (≈0.25 of 10⁸ here) flags a nation whose supply
    * would crater if one supplier churns.
    *
    * Determinism + overflow: revenue is the house discounted-price
    * fixed point (DECIMAL(12,2)·(1−DECIMAL(4,2)) is scale-4 → ×10⁴
    * exact integer, SURVEY §4); shares are DIV-FIRST basis points
    * (rev4 DIV (total4 DIV 10⁴) — the numerator never multiplies, so
    * no overflow at any corpus size) and HHI is an exact integer sum
    * of their squares (≤ 10⁸).
    *
    * Shape at scale: one partial-aggregated corpus shuffle to
    * supplier grain, checkpointed once (it feeds the nation totals
    * AND the share rows); everything after runs on supplier/nation-
    * sized tables with broadcast dims.
    */
  def qHhi(s: SparkSession, dir: String): DataFrame = {
    val one = lit(1).cast("decimal(4,2)")
    val perSupp = Ingest.table(s, dir, "lineitem")
      .groupBy(col("l_suppkey"))
      .agg((sum(money(col("l_extendedprice")) * (one - rate(col("l_discount")))) * 10000)
        .cast("long").as("rev4"))
      .join(broadcast(Ingest.table(s, dir, "supplier")
        .select(col("s_suppkey"), col("s_nationkey"))),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Ingest.table(s, dir, "nation")
        .select(col("n_nationkey"), col("n_name").as("nation_name"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("nation_name"), col("rev4"))
      .materialized
    val totals = perSupp.groupBy(col("nation_name"))
      .agg(sum("rev4").as("tot4"), count(lit(1)).as("n_suppliers"))
    perSupp.join(broadcast(totals), Seq("nation_name"))
      .select(col("nation_name"), col("tot4"), col("n_suppliers"),
        expr("rev4 DIV greatest(tot4 DIV 10000, 1)").as("share_bp"))
      .groupBy(col("nation_name"))
      .agg(
        max("n_suppliers").as("n_suppliers"),
        (max("tot4").cast("double") / 10000d).as("rev_total"),
        sum(col("share_bp") * col("share_bp")).as("hhi"),
        max("share_bp").as("top_share_bp"))
      .orderBy(col("nation_name"))
  }

  val qHhiSql: String =
    """WITH ps AS (
      |  SELECT l_suppkey,
      |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
      |      * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) * 10000 AS BIGINT)
      |      AS rev4
      |  FROM lineitem GROUP BY l_suppkey),
      |j AS (
      |  SELECT n.n_name AS nation_name, rev4
      |  FROM ps JOIN supplier s ON ps.l_suppkey = s.s_suppkey
      |  JOIN nation n ON s.s_nationkey = n.n_nationkey),
      |t AS (
      |  SELECT nation_name, CAST(SUM(rev4) AS BIGINT) AS tot4,
      |    COUNT(*) AS n_suppliers
      |  FROM j GROUP BY nation_name),
      |sh AS (
      |  SELECT j.nation_name, n_suppliers, tot4,
      |    rev4 // greatest(tot4 // 10000, 1) AS share_bp
      |  FROM j JOIN t ON j.nation_name = t.nation_name)
      |SELECT nation_name, MAX(n_suppliers) AS n_suppliers,
      |  CAST(MAX(tot4) AS DOUBLE) / 10000 AS rev_total,
      |  CAST(SUM(share_bp * share_bp) AS BIGINT) AS hhi,
      |  MAX(share_bp) AS top_share_bp
      |FROM sh GROUP BY nation_name
      |ORDER BY nation_name""".stripMargin

  /** Behavioral-diversity segmentation: per user, event count,
    * distinct event types, modal-type count/share, and the Simpson
    * concentration of the type distribution (repeat probability
    * Σn_t²/N², exact integer ppm — the [[TextOps.qCharDiversity]]
    * device on the EVENTS axis). A user near 1e6 does one thing over
    * and over — the scripted/bot signature; organic users spread
    * across types. The behavioral column RFM's spend/recency axes
    * can't see, and the per-user input to rate-limit or cohort
    * decisions.
    *
    * Shape at scale: one (user, type) partial aggregate — combiner-
    * friendly, per-user cardinality bounded by \|event types\| — then
    * a user-keyed rollup. Two type-bounded shuffles, no window.
    */
  def qBehaviorDiversity(s: SparkSession, dir: String): DataFrame =
    Ingest.events(s, dir)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("nt"))
      .groupBy(col("user_id"))
      .agg(
        sum("nt").as("n_events"),
        count(lit(1)).as("n_types"),
        max("nt").as("top_type_cnt"),
        sum(col("nt") * col("nt")).as("sq"))
      .select(col("user_id"), col("n_events"), col("n_types"), col("top_type_cnt"),
        expr("(sq * 1000000) DIV (n_events * n_events)").as("simpson_ppm"),
        expr("(top_type_cnt * 1000000) DIV n_events").as("top_share_ppm"))

  val qBehaviorDiversitySql: String =
    """WITH c AS (
      |  SELECT user_id, event_type, COUNT(*) AS nt
      |  FROM events GROUP BY user_id, event_type)
      |SELECT user_id,
      |  CAST(SUM(nt) AS BIGINT) AS n_events,
      |  CAST(COUNT(*) AS BIGINT) AS n_types,
      |  CAST(MAX(nt) AS BIGINT) AS top_type_cnt,
      |  CAST((SUM(nt * nt) * 1000000) // (SUM(nt) * SUM(nt)) AS BIGINT) AS simpson_ppm,
      |  CAST((MAX(nt) * 1000000) // SUM(nt) AS BIGINT) AS top_share_ppm
      |FROM c GROUP BY user_id
      |ORDER BY user_id""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_behavior_diversity" -> qBehaviorDiversity _,
    "q_segment_migration" -> qSegmentMigration _,
    "q_repeat_purchase" -> qRepeatPurchase _,
    "q_hhi"        -> qHhi _,
    "q_cohort_ltv" -> qCohortLtv _,
    "q_rfm"        -> qRfm _,
    "q_pareto"     -> qPareto _,
    "q_wow_change" -> qWowChange _)

  def oracle: Map[String, String] = Map(
    "q_behavior_diversity" -> qBehaviorDiversitySql,
    "q_segment_migration" -> qSegmentMigrationSql,
    "q_hhi"        -> qHhiSql,
    "q_repeat_purchase" -> qRepeatPurchaseSql,
    "q_cohort_ltv" -> qCohortLtvSql,
    "q_rfm"        -> qRfmSql,
    "q_pareto"     -> qParetoSql,
    "q_wow_change" -> qWowChangeSql)
}
