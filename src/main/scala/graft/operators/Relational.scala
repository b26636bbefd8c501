package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.plans.Materialize._
import graft.plans.TopK
import graft.sources.Ingest

/** Core relational/analytic operators (SURVEY.md §2 rows 8-15, 18).
  *
  * All plans are declarative DataFrame ops so Catalyst handles pushdown,
  * pruning and join selection; dimension sides are explicitly
  * `broadcast()`-hinted where the design calls for a map-side join at
  * scale. Every query ends in a total ORDER BY (oracle parity).
  */
object Relational {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Ingest.table(s, dir, name)

  /** Grouped aggregate battery over the fact table (TPC-H Q1 shape).
    * Map-side partial aggregation on 2 low-cardinality keys: the shuffle
    * carries ~|flags|x|status| rows per partition regardless of input SF.
    */
  def q1Pricing(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val one = lit(1).cast("decimal(4,2)")
    val discPrice = money(col("l_extendedprice")) * (one - rate(col("l_discount")))
    val charge    = discPrice * (one + rate(col("l_tax")))
    li.filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        count(lit(1)).as("count_order"),
        sum(qty(col("l_quantity"))).as("sq"),
        sum(money(col("l_extendedprice"))).as("sbp"),
        sum(discPrice).as("sdp"),
        sum(charge).as("sc"),
        sum(rate(col("l_discount"))).as("sd")
      )
      .select(
        col("l_returnflag"), col("l_linestatus"),
        col("sq").cast("double").as("sum_qty"),
        col("sbp").cast("double").as("sum_base_price"),
        col("sdp").cast("double").as("sum_disc_price"),
        col("sc").cast("double").as("sum_charge"),
        (col("sq").cast("double") / col("count_order")).as("avg_qty"),
        (col("sbp").cast("double") / col("count_order")).as("avg_price"),
        (col("sd").cast("double") / col("count_order")).as("avg_disc"),
        col("count_order")
      )
  }

  /** Decimal sums leave DuckDB through VARCHAR-mediated casts (the
    * [[graft.operators.ScaleOps.qStatsMomentsSql]] device): a direct
    * DECIMAL→DOUBLE cast there is unscaled/10^scale — two roundings —
    * which landed `sum_charge` 1 ULP off the JVM's correctly-rounded
    * conversion at the 10× replica (the r16 sf1 sweep's catch; sf0.1
    * happened to round the same way on every group).
    */
  val q1PricingSql: String =
    """WITH g AS (
      |  SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
      |    SUM(CAST(l_quantity AS DECIMAL(8,2))) AS sq,
      |    SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS sbp,
      |    SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS sdp,
      |    SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))) * (CAST(1 AS DECIMAL(4,2)) + CAST(l_tax AS DECIMAL(4,2)))) AS sc,
      |    SUM(CAST(l_discount AS DECIMAL(4,2))) AS sd
      |  FROM lineitem
      |  WHERE l_shipdate <= TIMESTAMP '1998-09-02'
      |  GROUP BY l_returnflag, l_linestatus)
      |SELECT l_returnflag, l_linestatus,
      |  CAST(CAST(sq AS VARCHAR) AS DOUBLE) AS sum_qty,
      |  CAST(CAST(sbp AS VARCHAR) AS DOUBLE) AS sum_base_price,
      |  CAST(CAST(sdp AS VARCHAR) AS DOUBLE) AS sum_disc_price,
      |  CAST(CAST(sc AS VARCHAR) AS DOUBLE) AS sum_charge,
      |  CAST(CAST(sq AS VARCHAR) AS DOUBLE) / n AS avg_qty,
      |  CAST(CAST(sbp AS VARCHAR) AS DOUBLE) / n AS avg_price,
      |  CAST(CAST(sd AS VARCHAR) AS DOUBLE) / n AS avg_disc,
      |  n AS count_order
      |FROM g
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** Tight-range selective filter + single aggregate (TPC-H Q6 shape) —
    * the predicate-pushdown showcase: all three filters reach the parquet
    * scan, the aggregate is a single partial/final pair, zero joins.
    */
  def q6Filter(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    li.filter(
        col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") <  lit("1998-01-01").cast("timestamp") &&
        col("l_discount").between(0.05, 0.07) &&
        col("l_quantity") < 24)
      .agg(
        sum(money(col("l_extendedprice")) * rate(col("l_discount"))).cast("double").as("revenue"),
        count(lit(1)).as("n_rows"))
  }

  val q6FilterSql: String =
    """SELECT
      |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(4,2))) AS VARCHAR) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n_rows
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
      |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin

  /** Join + group + ORDER BY ... LIMIT top-N (TPC-H Q3 shape).
    * customer is broadcast (small dim); orders⨝lineitem shuffles on
    * orderkey once; top-N is a TakeOrderedAndProject — no global sort.
    */
  def q3TopN(s: SparkSession, dir: String): DataFrame = {
    val cut = lit("1996-06-30").cast("timestamp")
    val cust = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
    val ord  = t(s, dir, "orders").filter(col("o_orderdate") < cut)
    val li   = t(s, dir, "lineitem").filter(col("l_shipdate") > cut)
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(sum(money(col("l_extendedprice")) * (lit(1).cast("decimal(4,2)") - rate(col("l_discount"))))
        .cast("double").as("revenue"))
      .select(
        col("l_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"),
        col("o_orderpriority").as("order_priority"),
        col("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  val q3TopNSql: String =
    """SELECT l_orderkey,
      |  strftime(o_orderdate, '%Y-%m-%d') AS order_date,
      |  o_orderpriority AS order_priority,
      |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS VARCHAR) AS DOUBLE) AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND o_orderdate < TIMESTAMP '1996-06-30'
      |  AND l_shipdate  > TIMESTAMP '1996-06-30'
      |GROUP BY l_orderkey, o_orderdate, o_orderpriority
      |ORDER BY revenue DESC, l_orderkey
      |LIMIT 10""".stripMargin

  /** 6-table join flower grouped by a dim attribute (TPC-H Q5 shape).
    * Every dimension side (customer/supplier/nation/region) broadcasts;
    * the only shuffle is lineitem⨝orders on orderkey + the final tiny
    * aggregate. At 1000 executors this is one fact-fact shuffle, period.
    */
  def q5StarJoin(s: SparkSession, dir: String): DataFrame = {
    val li   = t(s, dir, "lineitem")
    val ord  = t(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
              col("o_orderdate") <  lit("1998-01-01").cast("timestamp"))
    val cust = t(s, dir, "customer")
    val supp = t(s, dir, "supplier")
    val nat  = t(s, dir, "nation")
    val reg  = t(s, dir, "region").filter(col("r_name") === "ASIA")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name").as("nation_name"))
      .agg(
        sum(money(col("l_extendedprice")) * (lit(1).cast("decimal(4,2)") - rate(col("l_discount"))))
          .cast("double").as("revenue"),
        count(lit(1)).as("n_rows"))
  }

  val q5StarJoinSql: String =
    """SELECT n_name AS nation_name,
      |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS VARCHAR) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n_rows
      |FROM lineitem
      |JOIN orders   ON l_orderkey = o_orderkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation   ON c_nationkey = n_nationkey
      |JOIN region   ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01'
      |  AND o_orderdate <  TIMESTAMP '1998-01-01'
      |GROUP BY n_name
      |ORDER BY nation_name""".stripMargin

  /** Window functions: partitioned row_number, top-k per group.
    * One shuffle on the partition key; ties broken by p_partkey so the
    * ranking is a total order (oracle parity).
    */
  def qWindowRank(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val pt = t(s, dir, "part")
    val rev = li.join(broadcast(pt), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("p_partkey"))
      .agg(sum(money(col("l_extendedprice")) * (lit(1).cast("decimal(4,2)") - rate(col("l_discount"))))
        .cast("double").as("revenue"))
    TopK(rev, Seq("p_brand"), Seq(col("revenue").desc, col("p_partkey")), 3, "rk")
      .select(col("p_brand").as("brand"), col("p_partkey").as("partkey"), col("revenue"), col("rk"))
  }

  val qWindowRankSql: String =
    """WITH rev AS (
      |  SELECT p_brand AS brand, p_partkey AS partkey,
      |    CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS VARCHAR) AS DOUBLE) AS revenue
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |  GROUP BY p_brand, p_partkey)
      |SELECT brand, partkey, revenue, rk FROM (
      |  SELECT brand, partkey, revenue,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY brand ORDER BY revenue DESC, partkey) AS BIGINT) AS rk
      |  FROM rev) r
      |WHERE rk <= 3
      |ORDER BY brand, rk, partkey""".stripMargin

  /** ROLLUP hierarchy aggregate (year → quarter) with grouping sets.
    * Grouping-null levels are coalesced to -1 in both engines to dodge
    * NULL-ordering differences.
    */
  def qRollup(s: SparkSession, dir: String): DataFrame = {
    val ord = t(s, dir, "orders")
    ord.select(
        year(col("o_orderdate")).cast("int").as("y"),
        quarter(col("o_orderdate")).cast("int").as("q"),
        col("o_totalprice"))
      .rollup(col("y"), col("q"))
      .agg(count(lit(1)).as("n_orders"),
           sum(money(col("o_totalprice"))).cast("double").as("total_price"))
      .select(
        coalesce(col("y"), lit(-1)).as("year_g"),
        coalesce(col("q"), lit(-1)).as("quarter_g"),
        col("n_orders"), col("total_price"))
  }

  val qRollupSql: String =
    """SELECT coalesce(CAST(year(o_orderdate) AS INT), -1) AS year_g,
      |  coalesce(CAST(quarter(o_orderdate) AS INT), -1) AS quarter_g,
      |  COUNT(*) AS n_orders,
      |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS total_price
      |FROM orders
      |GROUP BY ROLLUP (CAST(year(o_orderdate) AS INT), CAST(quarter(o_orderdate) AS INT))
      |ORDER BY year_g, quarter_g""".stripMargin

  private val eventTypes = Seq("click", "error", "purchase", "signup", "view")

  /** Pivot event_type → columns (conditional aggregation). Explicit pivot
    * value list so Spark skips the extra distinct-values job; missing
    * cells coalesced to 0 to match SQL conditional counts.
    */
  def qPivot(s: SparkSession, dir: String): DataFrame = {
    val e = Ingest.events(s, dir)
    val piv = e.groupBy(col("user_id")).pivot("event_type", eventTypes).count()
    val withCols = eventTypes.foldLeft(piv) { (df, et) =>
      df.withColumn(s"n_$et", coalesce(col(s"`$et`"), lit(0L)))
    }
    withCols
      .select(col("user_id") +: eventTypes.map(et => col(s"n_$et")): _*)
      .withColumn("n_total", eventTypes.map(et => col(s"n_$et")).reduce(_ + _))
  }

  val qPivotSql: String =
    """SELECT user_id,
      |  COUNT(CASE WHEN event_type = 'click'    THEN 1 END) AS n_click,
      |  COUNT(CASE WHEN event_type = 'error'    THEN 1 END) AS n_error,
      |  COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_purchase,
      |  COUNT(CASE WHEN event_type = 'signup'   THEN 1 END) AS n_signup,
      |  COUNT(CASE WHEN event_type = 'view'     THEN 1 END) AS n_view,
      |  COUNT(*) AS n_total
      |FROM events
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin

  /** Year-month period rollup (the reference's `to_period("M")` —
    * ELT.py:332) with counts, sums and exact-decimal average.
    */
  def qMonthlyTrend(s: SparkSession, dir: String): DataFrame = {
    val ord = t(s, dir, "orders")
    ord.groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("year_month"))
      .agg(
        count(lit(1)).as("n_orders"),
        sum(money(col("o_totalprice"))).as("tp"))
      .select(
        col("year_month"),
        col("n_orders"),
        col("tp").cast("double").as("total_price"),
        (col("tp").cast("double") / col("n_orders")).as("avg_price"))
  }

  val qMonthlyTrendSql: String =
    """SELECT strftime(o_orderdate, '%Y-%m') AS year_month,
      |  COUNT(*) AS n_orders,
      |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS total_price,
      |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) / COUNT(*) AS avg_price
      |FROM orders
      |GROUP BY 1
      |ORDER BY year_month""".stripMargin

  /** Non-equi range join into value bands. The bands side is a 10-row
    * generated table → broadcast nested-loop join, so the fact side never
    * shuffles; at 100 TB this stays a map-only stage.
    */
  def qRangeJoin(s: SparkSession, dir: String): DataFrame = {
    val ord = t(s, dir, "orders")
    val bands = s.range(10).select(
      col("id").as("band_id"),
      (col("id") * 50000.0).as("lo"),
      ((col("id") + 1) * 50000.0).as("hi"))
    ord.join(broadcast(bands), col("o_totalprice") >= col("lo") && col("o_totalprice") < col("hi"))
      .groupBy(col("band_id"), col("lo"), col("hi"))
      .agg(count(lit(1)).as("n_orders"),
           sum(money(col("o_totalprice"))).cast("double").as("total_price"))
  }

  val qRangeJoinSql: String =
    """SELECT band_id, lo, hi, COUNT(*) AS n_orders,
      |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS total_price
      |FROM orders
      |JOIN (SELECT range AS band_id, CAST(range * 50000.0 AS DOUBLE) AS lo,
      |             CAST((range + 1) * 50000.0 AS DOUBLE) AS hi
      |      FROM range(10)) bands
      |  ON o_totalprice >= lo AND o_totalprice < hi
      |GROUP BY band_id, lo, hi
      |ORDER BY band_id""".stripMargin

  /** Correlated scalar subqueries (SQL surface via `spark.sql`):
    * orders priced above 1.5× their customer's average order value.
    * Catalyst DECORRELATES each subquery into an aggregate keyed on
    * the correlation column joined back to the outer table — at scale
    * that is one partial-aggregated shuffle of (custkey, count/sum)
    * plus an equi-join, never a per-row re-scan (the naive nested-loop
    * reading of the SQL). The predicate is cross-multiplied
    * (`price·n > 1.5·sum`) so the comparison stays in exact decimal
    * arithmetic — no engine-specific AVG double accumulation.
    */
  def qScalarSubquery(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "orders").createOrReplaceTempView("graft_ssq_orders")
    s.sql(
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM graft_ssq_orders o
        |WHERE CAST(o_totalprice AS DECIMAL(12,2)) *
        |      (SELECT COUNT(*) FROM graft_ssq_orders o2
        |        WHERE o2.o_custkey = o.o_custkey)
        |    > CAST(1.5 AS DECIMAL(3,2)) *
        |      (SELECT SUM(CAST(o3.o_totalprice AS DECIMAL(12,2)))
        |         FROM graft_ssq_orders o3
        |        WHERE o3.o_custkey = o.o_custkey)""".stripMargin)
  }

  val qScalarSubquerySql: String =
    """SELECT o_orderkey, o_custkey, o_totalprice
      |FROM orders o
      |WHERE CAST(o_totalprice AS DECIMAL(12,2)) *
      |      (SELECT COUNT(*) FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
      |    > CAST(1.5 AS DECIMAL(3,2)) *
      |      (SELECT SUM(CAST(o3.o_totalprice AS DECIMAL(12,2)))
      |         FROM orders o3 WHERE o3.o_custkey = o.o_custkey)
      |ORDER BY o_orderkey""".stripMargin

  /** Left-SEMI join (SQL EXISTS): customers with at least one URGENT
    * order. The probe ships only the join key from the orders side and
    * emits each customer at most once — at scale this shuffles both
    * sides on custkey ONCE and never materializes the match multiplicity
    * (an inner-join+distinct formulation would carry every matching
    * order through the shuffle first).
    */
  def qSemiJoin(s: SparkSession, dir: String): DataFrame = {
    val cust = t(s, dir, "customer")
    val urgent = t(s, dir, "orders").filter(col("o_orderpriority") === "1-URGENT")
    cust.join(urgent, col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
  }

  val qSemiJoinSql: String =
    """SELECT c_custkey, c_name, c_mktsegment
      |FROM customer c
      |WHERE EXISTS (SELECT 1 FROM orders o
      |              WHERE o.o_custkey = c.c_custkey
      |                AND o.o_orderpriority = '1-URGENT')
      |ORDER BY c_custkey""".stripMargin

  /** Left-ANTI join (SQL NOT EXISTS, TPC-H Q22 flavor): customers with
    * no URGENT order. Same single-shuffle shape as the semi join.
    * NOT EXISTS — not NOT IN: left_anti keeps a left row whenever no
    * non-null key matches, exactly NOT EXISTS semantics; NOT IN would
    * return zero rows if the subquery ever yields a NULL key.
    */
  def qAntiJoin(s: SparkSession, dir: String): DataFrame = {
    val cust = t(s, dir, "customer")
    val urgent = t(s, dir, "orders").filter(col("o_orderpriority") === "1-URGENT")
    cust.join(urgent, col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
  }

  val qAntiJoinSql: String =
    """SELECT c_custkey, c_name, c_acctbal
      |FROM customer c
      |WHERE NOT EXISTS (SELECT 1 FROM orders o
      |                  WHERE o.o_custkey = c.c_custkey
      |                    AND o.o_orderpriority = '1-URGENT')
      |ORDER BY c_custkey""".stripMargin

  /** Set operations: parts shipped in BOTH 1996 and 1997 (INTERSECT)
    * but not in 2001 (EXCEPT). Catalyst rewrites both into semi/anti
    * joins over distinct keys — each leg is one partial-aggregated
    * shuffle on partkey, and the year filters prune at the parquet
    * scan before anything moves.
    */
  def qSetOps(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    def shippedIn(y: Int): DataFrame =
      li.filter(year(col("l_shipdate")) === y).select(col("l_partkey"))
    shippedIn(1996).intersect(shippedIn(1997)).except(shippedIn(2001))
  }

  val qSetOpsSql: String =
    """(SELECT l_partkey FROM lineitem WHERE year(l_shipdate) = 1996
      | INTERSECT
      | SELECT l_partkey FROM lineitem WHERE year(l_shipdate) = 1997)
      |EXCEPT
      |SELECT l_partkey FROM lineitem WHERE year(l_shipdate) = 2001
      |ORDER BY l_partkey""".stripMargin

  /** Window distribution battery: per-priority decile bands via
    * NTILE(10) with PERCENT_RANK extents, rolled up to one row per
    * (priority, decile) — the "where does this order sit in its
    * group's distribution" report. Both functions run over the SAME
    * total order (price, then orderkey — SURVEY §4: ties must not let
    * engines legally disagree); NTILE's uneven-bucket rule (first
    * n mod b buckets get the extra row) and PERCENT_RANK's
    * (rank−1)/(n−1) are SQL-standard and identical in both engines,
    * and with a total order percent_rank is a single exact IEEE
    * division per row.
    *
    * Shape at scale: one shuffle on the grouping key; both window
    * functions and the decile rollup share that partitioning, and the
    * rollup partial-aggregates into a |priority|×10 key space. The
    * per-partition sort is the operator's intrinsic cost (a
    * distribution rank IS a sort); skew-prone grouping keys would
    * range-partition inside each group like [[graft.plans.Surrogate]]
    * instead.
    */
  def qNtileBands(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_orderpriority")
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    Ingest.table(s, dir, "orders")
      .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"))
      .withColumn("decile", ntile(10).over(w).cast("long"))
      .withColumn("pr", percent_rank().over(w))
      .groupBy(col("o_orderpriority").as("priority"), col("decile"))
      .agg(
        count(lit(1)).as("n_orders"),
        min(col("o_totalprice")).as("min_price"),
        max(col("o_totalprice")).as("max_price"),
        min(col("pr")).as("min_pr"),
        max(col("pr")).as("max_pr"))
  }

  val qNtileBandsSql: String =
    """WITH ranked AS (
      |  SELECT o_orderpriority AS priority, o_totalprice,
      |    NTILE(10) OVER w AS decile,
      |    PERCENT_RANK() OVER w AS pr
      |  FROM orders
      |  WINDOW w AS (PARTITION BY o_orderpriority
      |               ORDER BY o_totalprice, o_orderkey))
      |SELECT priority, CAST(decile AS BIGINT) AS decile, COUNT(*) AS n_orders,
      |  MIN(o_totalprice) AS min_price, MAX(o_totalprice) AS max_price,
      |  MIN(pr) AS min_pr, MAX(pr) AS max_pr
      |FROM ranked GROUP BY priority, decile
      |ORDER BY priority, decile""".stripMargin

  /** Ordered string aggregation (SQL string_agg / LISTAGG surface):
    * per order, the sorted distinct return-flag set of its line items
    * as one delimited string, plus line/quantity rollups. The
    * determinism trap in every engine is string_agg's input order —
    * here BOTH engines sort the (distinct) elements before joining,
    * so the output is a pure function of the set.
    *
    * Shape at scale: one partial-aggregated shuffle on l_orderkey;
    * collect_set's per-group state is bounded by the flag domain
    * (≤3), NOT by group row count — this is the contract that makes
    * a collect-aggregate scale-safe. (A collect_list over an
    * unbounded group is the memory bug; the bounded-domain set is
    * the legitimate form.)
    */
  def qGroupedConcat(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(
        array_join(array_sort(collect_set(col("l_returnflag"))), ",").as("flags"),
        count(lit(1)).as("n_lines"),
        sum(col("l_quantity").cast("long")).as("sum_qty"))

  val qGroupedConcatSql: String =
    """SELECT l_orderkey,
      |  string_agg(DISTINCT l_returnflag, ',' ORDER BY l_returnflag) AS flags,
      |  COUNT(*) AS n_lines,
      |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
      |FROM lineitem
      |GROUP BY l_orderkey
      |ORDER BY l_orderkey""".stripMargin

  /** Per-group mode (most frequent value) with a DETERMINISTIC
    * tie-break — the statistic engines' native `mode()` gets wrong
    * for replayability (ties are partition-order-dependent in both
    * Spark's and DuckDB's). Per customer: the most frequent order
    * priority, ties to the lowest priority digit.
    *
    * Spark side is two partial-aggregated shuffles and NO window: the
    * (customer, priority) counts fold into one struct-max aggregate —
    * max(struct(n, inv_digit, priority)) picks highest count, then
    * smallest digit; the digit is a bijection of the priority string,
    * so the carried string is uniquely determined. struct-max is
    * associative → safe under any partial-agg split. The oracle
    * proves semantic equivalence via the ANSI window spelling
    * (ROW_NUMBER ORDER BY n DESC, priority ASC = 1) — same
    * window-oracle-proof device as q_group_topk/q_cdc_apply.
    */
  def qMode(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .groupBy(col("o_custkey"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("o_custkey"))
      .agg(
        max(struct(
          col("n"),
          (lit(9L) - substring(col("o_orderpriority"), 1, 1).cast("long")).as("inv"),
          col("o_orderpriority").as("p"))).as("w"),
        sum(col("n")).as("n_orders"))
      .select(
        col("o_custkey"),
        col("w.p").as("mode_priority"),
        col("w.n").as("n_mode"),
        col("n_orders"))

  val qModeSql: String =
    """WITH c AS (
      |  SELECT o_custkey, o_orderpriority, COUNT(*) AS n
      |  FROM orders GROUP BY o_custkey, o_orderpriority),
      |r AS (
      |  SELECT o_custkey, o_orderpriority, n,
      |    ROW_NUMBER() OVER (PARTITION BY o_custkey
      |                       ORDER BY n DESC, o_orderpriority ASC) AS rk,
      |    SUM(n) OVER (PARTITION BY o_custkey) AS tot
      |  FROM c)
      |SELECT o_custkey, o_orderpriority AS mode_priority, n AS n_mode,
      |  CAST(tot AS BIGINT) AS n_orders
      |FROM r WHERE rk = 1
      |ORDER BY o_custkey""".stripMargin

  /** UNPIVOT (melt): the four lineitem measures rotated into
    * (measure, value) rows and re-aggregated per (flag, measure) —
    * the inverse of [[qPivot]], and the normalization step feeding
    * any long-format metrics store. Spark's `unpivot` plans as a
    * single Expand over the scan — the 4× row inflation happens
    * AFTER column pruning and combines straight into the partial
    * aggregate (key space |flags|×4); the oracle states the same
    * thing as the portable UNION ALL spelling.
    */
  def qUnpivot(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .select(col("l_returnflag"), money(col("l_quantity")).as("quantity"),
        money(col("l_extendedprice")).as("extendedprice"),
        money(col("l_discount")).as("discount"), money(col("l_tax")).as("tax"))
      .unpivot(
        Array(col("l_returnflag")),
        Array(col("quantity"), col("extendedprice"), col("discount"), col("tax")),
        "measure", "val")
      .groupBy(col("l_returnflag"), col("measure"))
      .agg(count(lit(1)).as("n_rows"), sum(col("val")).cast("double").as("total"))

  val qUnpivotSql: String = {
    def arm(m: String, c: String): String =
      s"SELECT l_returnflag, '$m' AS measure, CAST($c AS DECIMAL(12,2)) AS val FROM lineitem"
    s"""WITH u AS (
       |  ${arm("quantity", "l_quantity")} UNION ALL
       |  ${arm("extendedprice", "l_extendedprice")} UNION ALL
       |  ${arm("discount", "l_discount")} UNION ALL
       |  ${arm("tax", "l_tax")})
       |SELECT l_returnflag, measure, COUNT(*) AS n_rows,
       |  CAST(SUM(val) AS DOUBLE) AS total
       |FROM u GROUP BY l_returnflag, measure
       |ORDER BY l_returnflag, measure""".stripMargin
  }

  /** RANGE-frame window (value-range frame, not ROWS): per order, the
    * count and exact-decimal sum of the SAME customer's orders in the
    * trailing 30 calendar days — the rolling-exposure statistic
    * credit/fraud pipelines keep per entity. The frame is anchored on
    * an integer epoch-day key, so frame membership is exact in both
    * engines and INSENSITIVE to same-day tie order (a RANGE frame
    * includes all peers — the property ROWS frames lack and the
    * reason this query needs no tie-break column).
    *
    * Shape at scale: ONE shuffle on o_custkey; the window sort is
    * per-customer (bounded by their order count). 100 TB of orders
    * moves once.
    */
  def qRangeFrame(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("day"))
      .rangeBetween(-29, 0)
    t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"),
        // o_orderdate is TIMESTAMP_NTZ; the cast is identity under the
        // engine's fixed UTC session zone
        expr("unix_millis(CAST(o_orderdate AS TIMESTAMP)) DIV 86400000").as("day"),
        money(col("o_totalprice")).as("p"))
      .select(
        col("o_orderkey"), col("o_custkey"), col("day"),
        count(lit(1)).over(w).as("n_30d"),
        sum(col("p")).over(w).cast("double").as("sum_30d"))
  }

  val qRangeFrameSql: String =
    """SELECT o_orderkey, o_custkey,
      |  epoch_ms(o_orderdate) // 86400000 AS day,
      |  COUNT(*) OVER w AS n_30d,
      |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) OVER w AS VARCHAR) AS DOUBLE) AS sum_30d
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY epoch_ms(o_orderdate) // 86400000
      |             RANGE BETWEEN 29 PRECEDING AND CURRENT ROW)
      |ORDER BY o_orderkey""".stripMargin

  /** Global-share threshold (TPC-H Q11 flavor): parts whose revenue
    * exceeds 5 basis points of TOTAL corpus revenue — the "keep what
    * matters relative to the whole" report (inventory value screens,
    * heavy-hitter part lists). The interesting property is the filter
    * against a GLOBAL aggregate: the total comes from a second-level
    * rollup of the part-level aggregate (never a second corpus scan)
    * and joins back as a broadcast 1-row scalar.
    *
    * Exactness: discounted revenue is a scale-4 decimal (price ×
    * (1−rate)), so the integer form scales by 10⁴ — NOT cents: a ×100
    * cast would truncate in Spark and round in DuckDB, drifting the
    * last cent. The share test `part_fp * 2000 > total_fp` is integer
    * cross-multiplication (no division at all — the [[qRateAnomaly]]
    * device); share_bp is fixed-point with the overflow-free
    * pre-scaled denominator (the [[Segments.qPareto]] device).
    *
    * Shape at scale: ONE corpus shuffle (partkey partial aggregate),
    * MATERIALIZED once (eager localCheckpoint — part-sized): the
    * part table feeds BOTH the scalar total and the final projection,
    * and Spark's DataFrame DAG re-derives a shared subtree per
    * consumer (exchange reuse is not dependable across AQE stages —
    * see plans/Surrogate.scala), which would re-scan the corpus for
    * the total. The final filter+projection is map-side against the
    * broadcast scalar.
    */
  def qShareThreshold(s: SparkSession, dir: String): DataFrame = {
    val rev = t(s, dir, "lineitem")
      .groupBy(col("l_partkey"))
      .agg((sum(money(col("l_extendedprice")) *
        (lit(1).cast("decimal(4,2)") - rate(col("l_discount")))) * 10000)
        .cast("long").as("part_fp"))
      .materialized
    val total = rev.agg(sum(col("part_fp")).cast("long").as("total_fp"))
    rev.crossJoin(broadcast(total))
      .filter(col("part_fp") * 2000 > col("total_fp"))
      .select(
        col("l_partkey"),
        (col("part_fp").cast("double") / 10000d).as("revenue"),
        expr("part_fp DIV greatest(total_fp DIV 10000, 1)").as("share_bp"))
  }

  val qShareThresholdSql: String =
    """WITH rev AS (
      |  SELECT l_partkey,
      |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
      |      (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) * 10000 AS BIGINT) AS part_fp
      |  FROM lineitem GROUP BY l_partkey),
      |t AS (SELECT CAST(SUM(part_fp) AS BIGINT) AS total_fp FROM rev)
      |SELECT l_partkey,
      |  CAST(part_fp AS DOUBLE) / 10000 AS revenue,
      |  part_fp // greatest(total_fp // 10000, 1) AS share_bp
      |FROM rev CROSS JOIN t
      |WHERE part_fp * 2000 > total_fp
      |ORDER BY l_partkey""".stripMargin

  /** Running balance (expanding window): per part, the cumulative
    * shipped quantity in ship-date order — the inventory/ledger
    * primitive (account balances, stock on hand) and the ROWS
    * UNBOUNDED PRECEDING frame the window family was missing
    * ([[qWindowRank]] ranks, `q_range_frame` trails by RANGE,
    * `q_moving_avg` trails by ROWS; this one EXPANDS). Restricted to
    * a part-key prefix so the demo's output stays reviewable — the
    * predicate pushes to the parquet scan, which is itself the point:
    * a keyed balance query reads only its keys' bytes.
    *
    * Determinism: the order (ship epoch-day, l_orderkey,
    * l_linenumber, l_quantity) is total over the filtered rows in
    * both engines (the q_asof_dim lesson: duplicate (orderkey,
    * linenumber) pairs exist, so quantity joins the key). One shuffle
    * on l_partkey; each partition sorts only its parts' history.
    */
  def qRunningBalance(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("l_partkey")
      .orderBy("ship_day", "l_orderkey", "l_linenumber", "qty")
      .rowsBetween(Window.unboundedPreceding, 0)
    t(s, dir, "lineitem")
      .filter(col("l_partkey") < 50)
      .select(col("l_partkey"), col("l_orderkey"),
        col("l_linenumber").cast("long").as("l_linenumber"),
        expr("unix_millis(CAST(l_shipdate AS TIMESTAMP)) DIV 86400000").as("ship_day"),
        qty(col("l_quantity")).cast("long").as("qty"))
      .withColumn("balance", sum("qty").over(w))
      .withColumn("n_shipments", count(lit(1)).over(w))
  }

  val qRunningBalanceSql: String =
    """SELECT l_partkey, l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
      |  epoch_ms(l_shipdate) // 86400000 AS ship_day,
      |  CAST(CAST(l_quantity AS DECIMAL(8,2)) AS BIGINT) AS qty,
      |  CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(8,2)) AS BIGINT)) OVER w AS BIGINT) AS balance,
      |  COUNT(*) OVER w AS n_shipments
      |FROM lineitem
      |WHERE l_partkey < 50
      |WINDOW w AS (PARTITION BY l_partkey
      |             ORDER BY epoch_ms(l_shipdate) // 86400000, l_orderkey, l_linenumber,
      |                      CAST(CAST(l_quantity AS DECIMAL(8,2)) AS BIGINT)
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |ORDER BY l_partkey, ship_day, l_orderkey, l_linenumber, qty""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_running_balance" -> qRunningBalance _,
    "q_share_threshold" -> qShareThreshold _,
    "q_unpivot"       -> qUnpivot _,
    "q_range_frame"   -> qRangeFrame _,
    "q_grouped_concat" -> qGroupedConcat _,
    "q_mode"          -> qMode _,
    "q_ntile_bands"   -> qNtileBands _,
    "q_semi_join"     -> qSemiJoin _,
    "q_anti_join"     -> qAntiJoin _,
    "q_set_ops"       -> qSetOps _,
    "q1_pricing"      -> q1Pricing _,
    "q6_filter"       -> q6Filter _,
    "q3_topn"         -> q3TopN _,
    "q5_starjoin"     -> q5StarJoin _,
    "q_window_rank"   -> qWindowRank _,
    "q_rollup"        -> qRollup _,
    "q_pivot"         -> qPivot _,
    "q_monthly_trend" -> qMonthlyTrend _,
    "q_range_join"    -> qRangeJoin _,
    "q_scalar_subquery" -> qScalarSubquery _
  )

  val oracle: Map[String, String] = Map(
    "q_running_balance" -> qRunningBalanceSql,
    "q_share_threshold" -> qShareThresholdSql,
    "q_unpivot"       -> qUnpivotSql,
    "q_range_frame"   -> qRangeFrameSql,
    "q_grouped_concat" -> qGroupedConcatSql,
    "q_mode"          -> qModeSql,
    "q_ntile_bands"   -> qNtileBandsSql,
    "q_semi_join"     -> qSemiJoinSql,
    "q_anti_join"     -> qAntiJoinSql,
    "q_set_ops"       -> qSetOpsSql,
    "q1_pricing"      -> q1PricingSql,
    "q6_filter"       -> q6FilterSql,
    "q3_topn"         -> q3TopNSql,
    "q5_starjoin"     -> q5StarJoinSql,
    "q_window_rank"   -> qWindowRankSql,
    "q_rollup"        -> qRollupSql,
    "q_pivot"         -> qPivotSql,
    "q_monthly_trend" -> qMonthlyTrendSql,
    "q_range_join"    -> qRangeJoinSql,
    "q_scalar_subquery" -> qScalarSubquerySql
  )
}
