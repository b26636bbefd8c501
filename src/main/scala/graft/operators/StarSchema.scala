package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.plans.Surrogate
import graft.sources.Ingest

/** The reference's ELT star schema re-expressed Spark-first
  * (SURVEY.md §2 rows 1-7; reference /root/reference/dags/ELT.py).
  *
  * events stands in for the Staging incident table; dimensions are built
  * with distinct + row_number surrogate keys exactly like the reference's
  * DimLocation/DimIncident/DimReportType (ELT.py:192-243). The fact
  * assembly (ELT.py:264-289) computes its date/time smart keys per row
  * and LEFT JOINs only the dimensions whose surrogates are assigned.
  */
object StarSchema {

  /** Typed ingest: cast, null-default, regexp field extraction, surrogate
    * id — the reference's staging load (ELT.py:39-106: typed schema,
    * empty-string→NULL, `ADD id SERIAL`).
    *
    * The surrogate mirrors SERIAL's deterministic rank but is assigned
    * with the two-pass [[graft.plans.Surrogate.rankedId]] (range
    * partition + per-partition offsets) — no single-partition window.
    * Only the raw columns the projection reads are ranked (`ts` is
    * re-derived from `ts_ms` as in [[graft.sources.Ingest.events]]); the
    * cast/format/regexp projection runs once, over the ranked rows,
    * instead of in every pass `rankedId` makes over its child.
    */
  def qIngestTypecast(s: SparkSession, dir: String): DataFrame = {
    val raw = Ingest.events(s, dir)
      .select("event_id", "ts_ms", "user_id", "event_type", "value", "props")
    val ts = timestamp_millis(col("ts_ms"))
    Surrogate.rankedId(raw, Seq("event_id"), "surrogate_id").select(
      col("event_id"),
      col("ts_ms"),
      date_format(ts, "yyyy-MM-dd").as("event_date"),
      hour(ts).cast("int").as("event_hour"),
      col("user_id"),
      col("event_type"),
      coalesce(col("value"), lit(0.0)).as("value_filled"),
      regexp_extract(col("props"), "\"k\":\\s*(\\d+)", 1).cast("long").as("k_prop"),
      col("surrogate_id"))
  }

  val qIngestTypecastSql: String =
    """SELECT event_id, epoch_ms(ts) AS ts_ms,
      |  strftime(ts, '%Y-%m-%d') AS event_date,
      |  CAST(hour(ts) AS INT) AS event_hour,
      |  user_id, event_type,
      |  coalesce(value, 0.0) AS value_filled,
      |  CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS BIGINT) AS k_prop,
      |  CAST(ROW_NUMBER() OVER (ORDER BY event_id) AS BIGINT) AS surrogate_id
      |FROM events
      |ORDER BY event_id""".stripMargin

  /** Deterministic US-holiday rules (fixed-date + weekday-rule
    * holidays), the computable stand-in for the reference's
    * HolidayName/isHoliday columns (ref ELT.py:129-130).
    * Spark dayofweek: 1=Sun … 7=Sat (Monday=2, Thursday=5).
    */
  private def holidayNameCol(d: Column): Column =
    when(month(d) === 1 && dayofmonth(d) === 1, "New Year's Day")
      .when(month(d) === 7 && dayofmonth(d) === 4, "Independence Day")
      .when(month(d) === 12 && dayofmonth(d) === 25, "Christmas Day")
      .when(month(d) === 11 && dayofmonth(d) === 11, "Veterans Day")
      .when(month(d) === 11 && dayofweek(d) === 5 && dayofmonth(d).between(22, 28), "Thanksgiving Day")
      .when(month(d) === 9 && dayofweek(d) === 2 && dayofmonth(d) <= 7, "Labor Day")
      .when(month(d) === 5 && dayofweek(d) === 2 && dayofmonth(d) >= 25, "Memorial Day")
      .otherwise(lit(null).cast("string"))

  /** DuckDB twin of [[holidayNameCol]] (dayofweek offset per SURVEY §4). */
  private def holidaySql(d: String): String =
    s"""CASE WHEN month($d) = 1 AND day($d) = 1 THEN 'New Year''s Day'
       |     WHEN month($d) = 7 AND day($d) = 4 THEN 'Independence Day'
       |     WHEN month($d) = 12 AND day($d) = 25 THEN 'Christmas Day'
       |     WHEN month($d) = 11 AND day($d) = 11 THEN 'Veterans Day'
       |     WHEN month($d) = 11 AND dayofweek($d) + 1 = 5 AND day($d) BETWEEN 22 AND 28 THEN 'Thanksgiving Day'
       |     WHEN month($d) = 9 AND dayofweek($d) + 1 = 2 AND day($d) <= 7 THEN 'Labor Day'
       |     WHEN month($d) = 5 AND dayofweek($d) + 1 = 2 AND day($d) >= 25 THEN 'Memorial Day'
       |     ELSE NULL END""".stripMargin

  /** THE date/time surrogate-key arithmetic: Kimball-style smart keys,
    * pure functions of the timestamp, shared by every producer (the
    * standalone dims, the batch fact build, the streaming enrichment).
    * A second copy drifting from this one silently joins facts to the
    * wrong/no dim rows.
    */
  private[graft] def dateIdOf(d: Column): Column =
    (year(d) * 10000 + month(d) * 100 + dayofmonth(d)).cast("int")

  private[graft] def timeIdOf(h: Column, m: Column, s: Column): Column =
    (h * 10000 + m * 100 + s).cast("int")

  /** DimTime's TimeOfDay band of an hour-of-day column. */
  private def timeOfDayCol(h: Column): Column =
    when(h < 6, "Night").when(h < 12, "Morning").when(h < 18, "Afternoon").otherwise("Evening")

  /** DimTime's FullTime12 (`hh:mm:ss AM`) of hour/minute/second columns. */
  private def fullTime12Col(h: Column, m: Column, s: Column): Column =
    concat(lpad(when(h % 12 === 0, 12).otherwise(h % 12).cast("string"), 2, "0"),
      lit(":"), lpad(m.cast("string"), 2, "0"),
      lit(":"), lpad(s.cast("string"), 2, "0"), lit(" "),
      when(h < 12, "AM").otherwise("PM"))

  /** Generated calendar dimension (reference DimDate, ELT.py:121-148):
    * year/quarter/month/week/day/season/weekend/holiday attributes
    * derived from the distinct order dates, including the reference's
    * HolidayName/isHoliday, SameDayPreviousYear and WeekNumberOfMonth.
    */
  def qDimDate(s: SparkSession, dir: String): DataFrame = {
    val d = Ingest.table(s, dir, "orders")
      .select(to_date(col("o_orderdate")).as("d")).distinct()
    d.select(
        date_format(col("d"), "yyyy-MM-dd").as("full_date"),
        dateIdOf(col("d")).as("date_id"),
        year(col("d")).cast("int").as("cal_year"),
        quarter(col("d")).cast("int").as("quarter_num"),
        concat(lit("Q"), quarter(col("d"))).as("quarter_name"),
        month(col("d")).cast("int").as("month_num"),
        date_format(col("d"), "MMMM").as("month_name"),
        date_format(col("d"), "MMM").as("month_name_short"),
        weekofyear(col("d")).cast("int").as("week_of_year"),
        date_format(date_trunc("week", col("d")), "yyyy-MM-dd").as("week_begin_date"),
        dayofmonth(col("d")).cast("int").as("day_of_month"),
        dayofyear(col("d")).cast("int").as("day_of_year"),
        dayofweek(col("d")).cast("int").as("day_of_week"), // 1 = Sunday
        date_format(col("d"), "EEEE").as("day_name"),
        date_format(col("d"), "EEE").as("day_name_short"),
        dayofweek(col("d")).isin(1, 7).as("is_weekend"),
        (!dayofweek(col("d")).isin(1, 7)).as("is_weekday"),
        when(month(col("d")).isin(12, 1, 2), "Winter")
          .when(month(col("d")).isin(3, 4, 5), "Spring")
          .when(month(col("d")).isin(6, 7, 8), "Summer")
          .otherwise("Autumn").as("season"),
        (col("d") === last_day(col("d"))).as("is_end_of_month"),
        holidayNameCol(col("d")).as("holiday_name"),
        holidayNameCol(col("d")).isNotNull.as("is_holiday"),
        date_format(add_months(col("d"), -12), "yyyy-MM-dd").as("same_day_prev_year"),
        ceil(dayofmonth(col("d")) / 7.0).cast("int").as("week_number_of_month"))
  }

  val qDimDateSql: String =
    """SELECT strftime(d, '%Y-%m-%d') AS full_date,
      |  CAST(year(d)*10000 + month(d)*100 + day(d) AS INT) AS date_id,
      |  CAST(year(d) AS INT) AS cal_year,
      |  CAST(quarter(d) AS INT) AS quarter_num,
      |  'Q' || CAST(quarter(d) AS VARCHAR) AS quarter_name,
      |  CAST(month(d) AS INT) AS month_num,
      |  monthname(d) AS month_name,
      |  strftime(d, '%b') AS month_name_short,
      |  CAST(weekofyear(d) AS INT) AS week_of_year,
      |  strftime(date_trunc('week', d), '%Y-%m-%d') AS week_begin_date,
      |  CAST(day(d) AS INT) AS day_of_month,
      |  CAST(dayofyear(d) AS INT) AS day_of_year,
      |  CAST(dayofweek(d) + 1 AS INT) AS day_of_week,
      |  dayname(d) AS day_name,
      |  strftime(d, '%a') AS day_name_short,
      |  (dayofweek(d) + 1) IN (1, 7) AS is_weekend,
      |  (dayofweek(d) + 1) NOT IN (1, 7) AS is_weekday,
      |  CASE WHEN month(d) IN (12,1,2) THEN 'Winter'
      |       WHEN month(d) IN (3,4,5) THEN 'Spring'
      |       WHEN month(d) IN (6,7,8) THEN 'Summer'
      |       ELSE 'Autumn' END AS season,
      |  d = last_day(d) AS is_end_of_month,
      |  """.stripMargin + holidaySql("d") + " AS holiday_name,\n" +
    "  (" + holidaySql("d") + """) IS NOT NULL AS is_holiday,
      |  strftime(d - INTERVAL 12 MONTH, '%Y-%m-%d') AS same_day_prev_year,
      |  CAST(ceil(day(d) / 7.0) AS INT) AS week_number_of_month
      |FROM (SELECT DISTINCT CAST(o_orderdate AS DATE) AS d FROM orders) t
      |ORDER BY full_date""".stripMargin

  /** Time-of-day dimension (reference DimTime, ELT.py:160-181):
    * hour24/hour12/second/AMPM/FullTime24/FullTime12/TimeOfDay over
    * distinct (hour, minute, second) — the reference's full column set
    * (ref ELT.py:163-169).
    */
  def qDimTime(s: SparkSession, dir: String): DataFrame = {
    val e = Ingest.events(s, dir)
    val h12 = when(col("hour24") % 12 === 0, 12).otherwise(col("hour24") % 12).cast("int")
    e.select(hour(col("ts")).cast("int").as("hour24"),
             minute(col("ts")).cast("int").as("minute"),
             second(col("ts")).cast("int").as("second"))
      .distinct()
      .select(
        timeIdOf(col("hour24"), col("minute"), col("second")).as("time_id"),
        col("hour24"),
        h12.as("hour12"),
        col("minute"),
        col("second"),
        when(col("hour24") < 12, "AM").otherwise("PM").as("ampm"),
        concat(lpad(col("hour24").cast("string"), 2, "0"), lit(":"),
               lpad(col("minute").cast("string"), 2, "0"), lit(":"),
               lpad(col("second").cast("string"), 2, "0")).as("full_time24"),
        fullTime12Col(col("hour24"), col("minute"), col("second")).as("full_time12"),
        timeOfDayCol(col("hour24")).as("time_of_day"))
  }

  val qDimTimeSql: String =
    """SELECT CAST(h*10000 + m*100 + s AS INT) AS time_id,
      |  h AS hour24,
      |  CAST(CASE WHEN h % 12 = 0 THEN 12 ELSE h % 12 END AS INT) AS hour12,
      |  m AS minute,
      |  s AS second,
      |  CASE WHEN h < 12 THEN 'AM' ELSE 'PM' END AS ampm,
      |  lpad(CAST(h AS VARCHAR), 2, '0') || ':' || lpad(CAST(m AS VARCHAR), 2, '0') || ':' || lpad(CAST(s AS VARCHAR), 2, '0') AS full_time24,
      |  lpad(CAST(CASE WHEN h % 12 = 0 THEN 12 ELSE h % 12 END AS VARCHAR), 2, '0') || ':' || lpad(CAST(m AS VARCHAR), 2, '0') || ':' || lpad(CAST(s AS VARCHAR), 2, '0') || ' ' || CASE WHEN h < 12 THEN 'AM' ELSE 'PM' END AS full_time12,
      |  CASE WHEN h < 6 THEN 'Night' WHEN h < 12 THEN 'Morning'
      |       WHEN h < 18 THEN 'Afternoon' ELSE 'Evening' END AS time_of_day
      |FROM (SELECT DISTINCT CAST(hour(ts) AS INT) AS h, CAST(minute(ts) AS INT) AS m, CAST(second(ts) AS INT) AS s FROM events) t
      |ORDER BY time_id""".stripMargin

  /** Distinct + ROW_NUMBER surrogate-key dimension (reference DimLocation,
    * ELT.py:192-199): 2-column distinct over nation x region.
    */
  def qDimGeo(s: SparkSession, dir: String): DataFrame = {
    val nat = Ingest.table(s, dir, "nation")
    val reg = Ingest.table(s, dir, "region")
    nat.join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
      .select(col("n_name").as("nation_name"), col("r_name").as("region_name"))
      .distinct()
      .withColumn("location_id",
        row_number().over(Window.orderBy("nation_name", "region_name")).cast("long"))
      .select("location_id", "nation_name", "region_name")
  }

  val qDimGeoSql: String =
    """SELECT CAST(ROW_NUMBER() OVER (ORDER BY nation_name, region_name) AS BIGINT) AS location_id,
      |  nation_name, region_name
      |FROM (SELECT DISTINCT n_name AS nation_name, r_name AS region_name
      |      FROM nation JOIN region ON n_regionkey = r_regionkey) t
      |ORDER BY location_id""".stripMargin

  /** Distinct + ROW_NUMBER surrogate-key dimension with null-defaulting
    * (reference DimReportType's CASE WHEN ... IS NULL, ELT.py:232-243).
    */
  def qDimStatus(s: SparkSession, dir: String): DataFrame = {
    val ord = Ingest.table(s, dir, "orders")
    ord.select(
        when(col("o_orderstatus").isNull, "NA").otherwise(col("o_orderstatus")).as("order_status"),
        when(col("o_orderpriority").isNull, "NA").otherwise(col("o_orderpriority")).as("order_priority"))
      .distinct()
      .withColumn("status_id",
        row_number().over(Window.orderBy("order_status", "order_priority")).cast("long"))
      .select("status_id", "order_status", "order_priority")
  }

  val qDimStatusSql: String =
    """SELECT CAST(ROW_NUMBER() OVER (ORDER BY order_status, order_priority) AS BIGINT) AS status_id,
      |  order_status, order_priority
      |FROM (SELECT DISTINCT
      |        CASE WHEN o_orderstatus IS NULL THEN 'NA' ELSE o_orderstatus END AS order_status,
      |        CASE WHEN o_orderpriority IS NULL THEN 'NA' ELSE o_orderpriority END AS order_priority
      |      FROM orders) t
      |ORDER BY status_id""".stripMargin

  // ---- lookup dimensions for the fact build ----

  /** User dimension: cardinality grows with the data, so the surrogate
    * uses the two-pass ranked id, never a global window.
    */
  private def dimUserOf(e: DataFrame): DataFrame =
    Surrogate.rankedId(e.select(col("user_id").as("u")).distinct(), Seq("u"), "user_dim_id")

  private def dimTypeOf(e: DataFrame): DataFrame =
    e.select(col("event_type").as("et")).distinct()
      .withColumn("type_id", row_number().over(Window.orderBy("et")).cast("long"))

  /** Fact assembly (reference FactCrime, ELT.py:264-289) with
    * ROLE-PLAYING date/time keys: the reference keys every fact twice,
    * by incident and by report timestamp (ref ELT.py:279-282). Our
    * events carry a single timestamp, so the report timestamp is
    * derived deterministically (ts + (event_id mod 72) hours).
    *
    * Date/time ids are smart keys ([[dateIdOf]]/[[timeIdOf]]), computed
    * per row exactly as the standalone dims and `Streams.enrichFacts`
    * compute them, so no date/time dimension is built or joined here; a
    * null timestamp gives null ids, as a LEFT JOIN miss would. The
    * user and type dimensions carry assigned surrogates and remain the
    * lookups.
    */
  def qFactBuild(s: SparkSession, dir: String): DataFrame = {
    val e = Ingest.events(s, dir)
      .withColumn("report_ts", timestamp_millis(col("ts_ms") + (col("event_id") % 72) * 3600000L))
    def dateId(t: String) = dateIdOf(to_date(col(t)))
    def timeId(t: String) = timeIdOf(hour(col(t)), minute(col(t)), second(col(t)))
    // NO broadcast hint for the user dim: its cardinality grows with
    // the data (billions of users at 100 TB would OOM every executor).
    // AQE picks shuffle/SMJ — or broadcasts on its own when the runtime
    // size is genuinely under the threshold. The bounded type dim joins
    // first: its broadcast gates the fact side's exchange, so AQE
    // normally knows the user dim's size before any fact row is
    // shuffled, instead of shuffling both join sides at once.
    e.join(broadcast(dimTypeOf(e)), col("event_type") === col("et"), "left")
      .join(dimUserOf(e), col("user_id") === col("u"), "left")
      .select(col("event_id"),
              dateId("ts").as("incident_date_id"), timeId("ts").as("incident_time_id"),
              dateId("report_ts").as("report_date_id"), timeId("report_ts").as("report_time_id"),
              col("user_dim_id"), col("type_id"), col("value"))
  }

  private val factSqlCtes: String =
    """WITH ev AS (
      |  SELECT *, ts + to_hours(event_id % 72) AS report_ts FROM events),
      |dd AS (
      |  SELECT d AS full_date, CAST(year(d)*10000 + month(d)*100 + day(d) AS INT) AS date_id
      |  FROM (SELECT DISTINCT CAST(ts AS DATE) AS d FROM ev
      |        UNION SELECT DISTINCT CAST(report_ts AS DATE) FROM ev) t),
      |dt AS (
      |  SELECT h, m, s, CAST(h*10000 + m*100 + s AS INT) AS time_id
      |  FROM (SELECT DISTINCT CAST(hour(ts) AS INT) AS h, CAST(minute(ts) AS INT) AS m, CAST(second(ts) AS INT) AS s FROM ev
      |        UNION SELECT DISTINCT CAST(hour(report_ts) AS INT), CAST(minute(report_ts) AS INT), CAST(second(report_ts) AS INT) FROM ev) t),
      |du AS (
      |  SELECT u, CAST(ROW_NUMBER() OVER (ORDER BY u) AS BIGINT) AS user_dim_id
      |  FROM (SELECT DISTINCT user_id AS u FROM events) t),
      |dty AS (
      |  SELECT et, CAST(ROW_NUMBER() OVER (ORDER BY et) AS BIGINT) AS type_id
      |  FROM (SELECT DISTINCT event_type AS et FROM events) t)""".stripMargin

  val qFactBuildSql: String =
    factSqlCtes +
    """
      |SELECT e.event_id,
      |  d1.date_id AS incident_date_id, t1.time_id AS incident_time_id,
      |  d2.date_id AS report_date_id, t2.time_id AS report_time_id,
      |  du.user_dim_id, dty.type_id, e.value
      |FROM ev e
      |LEFT JOIN dd d1 ON CAST(e.ts AS DATE) = d1.full_date
      |LEFT JOIN dd d2 ON CAST(e.report_ts AS DATE) = d2.full_date
      |LEFT JOIN dt t1 ON CAST(hour(e.ts) AS INT) = t1.h AND CAST(minute(e.ts) AS INT) = t1.m AND CAST(second(e.ts) AS INT) = t1.s
      |LEFT JOIN dt t2 ON CAST(hour(e.report_ts) AS INT) = t2.h AND CAST(minute(e.report_ts) AS INT) = t2.m AND CAST(second(e.report_ts) AS INT) = t2.s
      |LEFT JOIN du  ON e.user_id = du.u
      |LEFT JOIN dty ON e.event_type = dty.et
      |ORDER BY event_id""".stripMargin

  /** The reference's reporting feed (fetchToGSheets, ELT.py:308-332):
    * purchase/signup facts with their calendar and time-of-day
    * attributes and the year-month derivation.
    *
    * Every attribute is a pure function of the event's date or
    * (hour, minute, second) — the smart-key scheme of [[qFactBuild]] —
    * so it is computed per row rather than joined from a date/time
    * dimension. The `ts IS NOT NULL` filter keeps exactly the rows that
    * the inner joins to those dimensions in [[qStarReportSql]] keep.
    */
  def qStarReport(s: SparkSession, dir: String): DataFrame = {
    val d = to_date(col("ts"))
    val h = hour(col("ts"))
    Ingest.events(s, dir)
      .filter(col("ts").isNotNull && col("event_type").isin("purchase", "signup"))
      .select(
        col("event_id"),
        date_format(d, "yyyy-MM-dd").as("full_date_str"),
        date_format(d, "EEEE").as("day_name"),
        dayofweek(d).isin(1, 7).as("is_weekend"),
        holidayNameCol(d).as("holiday_name"),
        timeOfDayCol(h).as("time_of_day"),
        fullTime12Col(h, minute(col("ts")), second(col("ts"))).as("full_time12"),
        col("event_type"), col("value"),
        date_format(d, "yyyy-MM").as("year_month"))
  }

  val qStarReportSql: String =
    """WITH dd AS (
      |  SELECT d AS full_date, dayname(d) AS day_name,
      |         (dayofweek(d) + 1) IN (1, 7) AS is_weekend,
      |         """.stripMargin + holidaySql("d") + """ AS holiday_name
      |  FROM (SELECT DISTINCT CAST(ts AS DATE) AS d FROM events) t),
      |dt AS (
      |  SELECT h, m, s,
      |         CASE WHEN h < 6 THEN 'Night' WHEN h < 12 THEN 'Morning'
      |              WHEN h < 18 THEN 'Afternoon' ELSE 'Evening' END AS time_of_day,
      |         lpad(CAST(CASE WHEN h % 12 = 0 THEN 12 ELSE h % 12 END AS VARCHAR), 2, '0')
      |           || ':' || lpad(CAST(m AS VARCHAR), 2, '0')
      |           || ':' || lpad(CAST(s AS VARCHAR), 2, '0')
      |           || ' ' || CASE WHEN h < 12 THEN 'AM' ELSE 'PM' END AS full_time12
      |  FROM (SELECT DISTINCT CAST(hour(ts) AS INT) AS h, CAST(minute(ts) AS INT) AS m, CAST(second(ts) AS INT) AS s FROM events) t)
      |SELECT e.event_id,
      |  strftime(CAST(e.ts AS DATE), '%Y-%m-%d') AS full_date_str,
      |  dd.day_name, dd.is_weekend, dd.holiday_name, dt.time_of_day, dt.full_time12,
      |  e.event_type, e.value,
      |  strftime(CAST(e.ts AS DATE), '%Y-%m') AS year_month
      |FROM events e
      |JOIN dd ON CAST(e.ts AS DATE) = dd.full_date
      |JOIN dt ON CAST(hour(e.ts) AS INT) = dt.h AND CAST(minute(e.ts) AS INT) = dt.m AND CAST(second(e.ts) AS INT) = dt.s
      |WHERE e.event_type IN ('purchase', 'signup')
      |ORDER BY event_id""".stripMargin

  /** Slowly-changing-dimension Type 2 history build: per customer, the
    * sequence of distinct order-priority regimes with validity ranges —
    * the star-schema pattern the reference's full-reload dims (ELT.py's
    * DROP + re-CREATE per run) cannot express: it keeps only the latest
    * state, while SCD2 keeps every state with [valid_from, valid_to)
    * and an is_current flag, so facts can join the dimension AS OF
    * their own timestamp.
    *
    * Change detection is lag() ≠ current over (o_orderdate, o_orderkey)
    * — a total order, so which row "wins" a same-day tie is
    * deterministic. Versioning and validity ranges come from
    * row_number/lead over the surviving change rows.
    *
    * Shape at scale: ONE shuffle on o_custkey; the change-detect
    * window, the filter, and the version/lead windows all share that
    * partitioning (filter preserves distribution and order — Catalyst
    * plans a single Exchange, re-sorting at most in place;
    * PlanSpec pins the one-exchange shape). Per-customer partitions
    * are bounded by order count per customer, not corpus size.
    */
  def qScd2(s: SparkSession, dir: String): DataFrame = {
    val o = Ingest.table(s, dir, "orders")
      .select(col("o_custkey"), col("o_orderpriority"),
        col("o_orderdate"), col("o_orderkey"))
    val byCust = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    o.withColumn("prev_p", lag(col("o_orderpriority"), 1).over(byCust))
      .filter(col("prev_p").isNull || col("prev_p") =!= col("o_orderpriority"))
      .withColumn("version", row_number().over(byCust).cast("long"))
      .withColumn("valid_to", lead(col("o_orderdate"), 1).over(byCust))
      .select(
        col("o_custkey"), col("version"),
        col("o_orderpriority").as("priority"),
        col("o_orderdate").as("valid_from"),
        col("valid_to"),
        col("valid_to").isNull.as("is_current"))
  }

  val qScd2Sql: String =
    """WITH base AS (
      |  SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey,
      |    LAG(o_orderpriority) OVER w AS prev_p
      |  FROM orders
      |  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)),
      |chg AS (
      |  SELECT * FROM base
      |  WHERE prev_p IS NULL OR prev_p <> o_orderpriority)
      |SELECT o_custkey,
      |  CAST(ROW_NUMBER() OVER w2 AS BIGINT) AS version,
      |  o_orderpriority AS priority,
      |  o_orderdate AS valid_from,
      |  LEAD(o_orderdate) OVER w2 AS valid_to,
      |  LEAD(o_orderdate) OVER w2 IS NULL AS is_current
      |FROM chg
      |WINDOW w2 AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      |ORDER BY o_custkey, version""".stripMargin

  /** Point-in-time (AS OF) dimension lookup against the [[qScd2]]
    * history: each 1995-Q1-shipped line item joined to the priority
    * regime its customer was in AT SHIP TIME — the fact↔SCD2 join
    * that is the entire reason Type-2 history exists, and the pattern
    * the reference's full-reload dims cannot serve (they answer only
    * "now", never "then").
    *
    * Join semantics: SCD2 validity ranges partition [first_order, ∞)
    * per customer, and a line's ship date is ≥ its own order date ≥
    * that customer's first order date — so exactly ONE regime row
    * matches each line (multiplicity 1 by construction, no dedup
    * needed). The plan is an equi hash join on o_custkey with the
    * range predicate as the join residual: the history side is
    * customer-sized (versions per customer are bounded by their
    * change count), so AQE broadcasts it while it fits and shuffles
    * at 10^9 customers — never a range-explosion interval join.
    *
    * Shape at scale: the ship-window filter pushes to the lineitem
    * scan; one fact shuffle (l_orderkey ⋈ orders for the customer
    * key), then the custkey-keyed history join.
    */
  def qAsofDim(s: SparkSession, dir: String): DataFrame = {
    val lo = lit("1995-01-01").cast("timestamp")
    val hi = lit("1995-04-01").cast("timestamp")
    val li = Ingest.table(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lo && col("l_shipdate") < hi)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_shipdate"))
    val ord = Ingest.table(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
    val scd = qScd2(s, dir)
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(scd,
        ord("o_custkey") === scd("o_custkey") &&
          scd("valid_from") <= col("l_shipdate") &&
          (scd("valid_to").isNull || col("l_shipdate") < scd("valid_to")))
      .select(
        col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
        col("l_shipdate"), ord("o_custkey"),
        col("priority").as("priority_at_ship"), col("version"))
  }

  /** Oracle re-expressed as the union+window propagation (r16, the
    * engine's own as-of device): the straightforward
    * scd-range-join form pairs every lineitem with every same-custkey
    * version before filtering — quadratic per key, >420 s at the 10×
    * replica where key families are 10-deep — while this form sorts
    * version-change events before ship-date probes per custkey and
    * propagates the last seen (priority, version) with one window:
    * O(n log n). Tie rule: at equal timestamps changes apply before
    * probes (a ship on the change date takes the NEW version, the
    * half-open-interval semantic), and among same-instant changes the
    * (date, orderkey) window order makes the last one the effective
    * version — identical to the range form, where earlier same-instant
    * versions carry empty [d, d) intervals.
    */
  val qAsofDimSql: String =
    """WITH base AS (
      |  SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey,
      |    LAG(o_orderpriority) OVER w AS prev_p
      |  FROM orders
      |  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)),
      |chg AS (SELECT * FROM base WHERE prev_p IS NULL OR prev_p <> o_orderpriority),
      |scd AS (
      |  SELECT o_custkey, CAST(ROW_NUMBER() OVER w2 AS BIGINT) AS version,
      |    o_orderpriority AS priority, o_orderdate AS valid_from,
      |    o_orderkey AS src_ok
      |  FROM chg
      |  WINDOW w2 AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)),
      |probes AS (
      |  SELECT o.o_custkey, l.l_shipdate AS ts, l.l_orderkey,
      |    CAST(l.l_linenumber AS BIGINT) AS l_linenumber
      |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  WHERE l.l_shipdate >= TIMESTAMP '1995-01-01'
      |    AND l.l_shipdate < TIMESTAMP '1995-04-01'),
      |ev AS (
      |  SELECT o_custkey, valid_from AS ts, 0 AS kind, src_ok,
      |    NULL::BIGINT AS l_orderkey, NULL::BIGINT AS l_linenumber,
      |    priority, version
      |  FROM scd
      |  UNION ALL
      |  SELECT o_custkey, ts, 1 AS kind, NULL::BIGINT AS src_ok,
      |    l_orderkey, l_linenumber, NULL AS priority, NULL::BIGINT AS version
      |  FROM probes),
      |flt AS (
      |  SELECT *,
      |    last_value(priority IGNORE NULLS) OVER w3 AS cur_p,
      |    last_value(version IGNORE NULLS) OVER w3 AS cur_v
      |  FROM ev
      |  WINDOW w3 AS (PARTITION BY o_custkey ORDER BY ts, kind, src_ok
      |    ROWS UNBOUNDED PRECEDING))
      |SELECT l_orderkey, l_linenumber, ts AS l_shipdate, o_custkey,
      |  cur_p AS priority_at_ship, cur_v AS version
      |FROM flt
      |WHERE kind = 1 AND cur_p IS NOT NULL
      |ORDER BY l_orderkey, l_linenumber, l_shipdate""".stripMargin

  /** Holiday order-volume lift per year — the first report a
    * deployment of the reference's DimDate actually runs with its
    * holiday attributes (ref ELT.py:129-145 computes IsHoliday /
    * HolidayName; nothing downstream consumes them there — this is
    * that missing consumer): holiday vs regular days compared on
    * per-day order rate and per-day revenue, as basis-point lifts.
    *
    * Determinism + overflow: order rates are counts ×10⁴ DIV days
    * (counts are small — scale BEFORE dividing), revenue rates are
    * cents DIV days (cents are large — divide BEFORE scaling), so
    * every intermediate stays under 2⁶³ at any corpus size and both
    * engines truncate identically; greatest(…, 1) keeps a year with
    * no holiday orders total rather than NULL.
    *
    * Shape at scale: one partial-aggregated shuffle to the DAY level
    * (the same grain qDimDate materializes), then a years-sized
    * conditional rollup — the holiday tag is a pure expression on the
    * day key, never a join.
    */
  def qHolidayLift(s: SparkSession, dir: String): DataFrame =
    Ingest.table(s, dir, "orders")
      .groupBy(to_date(col("o_orderdate")).as("d"))
      .agg(count(lit(1)).as("n_ord"),
        (sum(money(col("o_totalprice"))) * 100).cast("long").as("cents"))
      .select(year(col("d")).cast("int").as("cal_year"),
        holidayNameCol(col("d")).isNotNull.as("is_holiday"),
        col("n_ord"), col("cents"))
      .groupBy(col("cal_year"))
      .agg(
        sum(when(col("is_holiday"), 1L).otherwise(0L)).as("n_holiday_days"),
        sum(when(!col("is_holiday"), 1L).otherwise(0L)).as("n_regular_days"),
        coalesce(sum(when(col("is_holiday"), col("n_ord"))), lit(0L)).as("n_holiday_orders"),
        coalesce(sum(when(!col("is_holiday"), col("n_ord"))), lit(0L)).as("n_regular_orders"),
        coalesce(sum(when(col("is_holiday"), col("cents"))), lit(0L)).as("holiday_cents"),
        coalesce(sum(when(!col("is_holiday"), col("cents"))), lit(0L)).as("regular_cents"))
      .select(col("cal_year"), col("n_holiday_days"), col("n_regular_days"),
        col("n_holiday_orders"), col("n_regular_orders"),
        expr("""((n_holiday_orders * 10000) DIV greatest(n_holiday_days, 1) * 10000)
                 DIV greatest((n_regular_orders * 10000) DIV greatest(n_regular_days, 1), 1)""")
          .as("order_lift_bp"),
        expr("""(holiday_cents DIV greatest(n_holiday_days, 1) * 10000)
                 DIV greatest(regular_cents DIV greatest(n_regular_days, 1), 1)""")
          .as("rev_lift_bp"))
      .orderBy(col("cal_year"))

  val qHolidayLiftSql: String = {
    val hol = holidaySql("d")
    s"""WITH daily AS (
       |  SELECT CAST(o_orderdate AS DATE) AS d, COUNT(*) AS n_ord,
       |    CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) * 100 AS BIGINT) AS cents
       |  FROM orders GROUP BY 1),
       |tagged AS (
       |  SELECT CAST(year(d) AS INT) AS cal_year,
       |    ($hol) IS NOT NULL AS is_holiday, n_ord, cents
       |  FROM daily),
       |y AS (
       |  SELECT cal_year,
       |    CAST(SUM(CASE WHEN is_holiday THEN 1 ELSE 0 END) AS BIGINT) AS n_holiday_days,
       |    CAST(SUM(CASE WHEN NOT is_holiday THEN 1 ELSE 0 END) AS BIGINT) AS n_regular_days,
       |    CAST(COALESCE(SUM(CASE WHEN is_holiday THEN n_ord END), 0) AS BIGINT) AS n_holiday_orders,
       |    CAST(COALESCE(SUM(CASE WHEN NOT is_holiday THEN n_ord END), 0) AS BIGINT) AS n_regular_orders,
       |    CAST(COALESCE(SUM(CASE WHEN is_holiday THEN cents END), 0) AS BIGINT) AS holiday_cents,
       |    CAST(COALESCE(SUM(CASE WHEN NOT is_holiday THEN cents END), 0) AS BIGINT) AS regular_cents
       |  FROM tagged GROUP BY cal_year)
       |SELECT cal_year, n_holiday_days, n_regular_days,
       |  n_holiday_orders, n_regular_orders,
       |  ((n_holiday_orders * 10000) // greatest(n_holiday_days, 1) * 10000)
       |    // greatest((n_regular_orders * 10000) // greatest(n_regular_days, 1), 1)
       |    AS order_lift_bp,
       |  (holiday_cents // greatest(n_holiday_days, 1) * 10000)
       |    // greatest(regular_cents // greatest(n_regular_days, 1), 1)
       |    AS rev_lift_bp
       |FROM y ORDER BY cal_year""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_holiday_lift"    -> qHolidayLift _,
    "q_asof_dim"        -> qAsofDim _,
    "q_scd2"            -> qScd2 _,
    "q_ingest_typecast" -> qIngestTypecast _,
    "q_dim_date"        -> qDimDate _,
    "q_dim_time"        -> qDimTime _,
    "q_dim_geo"         -> qDimGeo _,
    "q_dim_status"      -> qDimStatus _,
    "q_fact_build"      -> qFactBuild _,
    "q_star_report"     -> qStarReport _
  )

  val oracle: Map[String, String] = Map(
    "q_holiday_lift"    -> qHolidayLiftSql,
    "q_asof_dim"        -> qAsofDimSql,
    "q_scd2"            -> qScd2Sql,
    "q_ingest_typecast" -> qIngestTypecastSql,
    "q_dim_date"        -> qDimDateSql,
    "q_dim_time"        -> qDimTimeSql,
    "q_dim_geo"         -> qDimGeoSql,
    "q_dim_status"      -> qDimStatusSql,
    "q_fact_build"      -> qFactBuildSql,
    "q_star_report"     -> qStarReportSql
  )
}
