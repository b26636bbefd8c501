package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Ingest

/** Event-time operators (SURVEY.md §2 rows 16, 17, 31).
  *
  * All time arithmetic runs on epoch milliseconds (`ts_ms`) — the
  * representation that hashes identically across Spark (µs timestamps)
  * and DuckDB (ns timestamps); see SURVEY.md §4.
  */
object Temporal {

  /** Gap-based sessionization: lag + cumulative window. A session breaks
    * after a 30-minute silence. Exactly one shuffle (on user_id); the
    * two windows and the final aggregate all reuse that partitioning.
    */
  def qSessionize(s: SparkSession, dir: String): DataFrame = {
    val e = Ingest.events(s, dir)
    val w = Window.partitionBy("user_id").orderBy("ts_ms", "event_id")
    e.select(col("user_id"), col("event_id"), col("ts_ms"), col("value"))
      .withColumn("prev_ms", lag("ts_ms", 1).over(w))
      .withColumn("is_new",
        when(col("prev_ms").isNull || col("ts_ms") - col("prev_ms") > 1800000L, 1L).otherwise(0L))
      .withColumn("session_id",
        sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("ts_ms")).as("session_start_ms"),
        max(col("ts_ms")).as("session_end_ms"),
        sum(money(col("value"))).cast("double").as("session_value"))
  }

  /** Order-free oracle body — composers embed THIS as a CTE; the
    * standalone oracle appends the presentation ORDER BY.
    */
  private[graft] val qSessionizeBody: String =
    """WITH flagged AS (
      |  SELECT user_id, event_id, epoch_ms(ts) AS ts_ms, value,
      |    CASE WHEN lag(epoch_ms(ts)) OVER w IS NULL
      |           OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER w > 1800000
      |         THEN 1 ELSE 0 END AS is_new
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id)),
      |sess AS (
      |  SELECT user_id, ts_ms, value,
      |    CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      |  FROM flagged)
      |SELECT user_id, session_id,
      |  COUNT(*) AS n_events,
      |  min(ts_ms) AS session_start_ms,
      |  max(ts_ms) AS session_end_ms,
      |  CAST(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS session_value
      |FROM sess
      |GROUP BY user_id, session_id""".stripMargin

  val qSessionizeSql: String = qSessionizeBody + "\nORDER BY user_id, session_id"

  /** Event-time session windows via Spark's NATIVE `session_window`
    * — the built-in face of [[qSessionize]], which
    * implements the same semantics manually with lag + running-sum
    * windows. One standard-API difference is kept honest rather than
    * papered over: `session_window` merges two events when their gap
    * is STRICTLY under the 30-minute gapDuration (the next event must
    * start before the previous window closes at ts + gap), while
    * [[qSessionize]]'s manual rule also merges an exactly-30-minute
    * gap; the oracle replays the strict rule (`>= 1800000` breaks),
    * and the window END is last-event + gap by definition, so
    * `session_end_ms` here is the manual row's end + 1800000 when the
    * memberships agree (TemporalSpec-style reconciliation lives in the
    * PlanSpec shuffle pin + the shared oracle device).
    *
    * Shape at scale: identical to [[qSessionize]] — ONE shuffle on
    * user_id; the session assignment and the aggregate ride it
    * (Spark plans session_window as a sort-based merging aggregate
    * over the user partition, no second exchange; PlanSpec pins both
    * plans to a single corpus Exchange).
    */
  def qSessionWindow(s: SparkSession, dir: String): DataFrame =
    Ingest.events(s, dir)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(money(col("value"))).cast("double").as("session_value"))
      .select(
        col("user_id"),
        unix_millis(col("sw.start")).as("session_start_ms"),
        unix_millis(col("sw.end")).as("session_end_ms"),
        col("n_events"), col("session_value"))

  val qSessionWindowSql: String =
    """WITH flagged AS (
      |  SELECT user_id, event_id, epoch_ms(ts) AS ts_ms, value,
      |    CASE WHEN lag(epoch_ms(ts)) OVER w IS NULL
      |           OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER w >= 1800000
      |         THEN 1 ELSE 0 END AS is_new
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id)),
      |sess AS (
      |  SELECT user_id, ts_ms, value,
      |    CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      |  FROM flagged)
      |SELECT user_id,
      |  MIN(ts_ms) AS session_start_ms,
      |  CAST(MAX(ts_ms) + 1800000 AS BIGINT) AS session_end_ms,
      |  COUNT(*) AS n_events,
      |  CAST(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS session_value
      |FROM sess
      |GROUP BY user_id, session_id
      |ORDER BY user_id, session_start_ms""".stripMargin

  /** As-of join: for each purchase event, the user's latest click at or
    * before it. Union + running `last(..., ignoreNulls)` window — one
    * shuffle on the user key and no range explosion, the scale-safe
    * as-of pattern (vs. an O(n·m) range join).
    */
  def qAsofJoin(s: SparkSession, dir: String): DataFrame = {
    val e = Ingest.events(s, dir)
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts_ms").as("t"), lit(0).as("kind"), col("event_id").as("id"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts_ms").as("t"), lit(1).as("kind"), col("event_id").as("id"))
    val w = Window.partitionBy("user_id").orderBy("t", "kind", "id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    clicks.unionByName(purchases)
      .withColumn("last_click_id", last(when(col("kind") === 0, col("id")), ignoreNulls = true).over(w))
      .withColumn("last_click_ms", last(when(col("kind") === 0, col("t")), ignoreNulls = true).over(w))
      .filter(col("kind") === 1)
      .select(
        col("id").as("purchase_id"), col("user_id"), col("t").as("purchase_ms"),
        col("last_click_id"), col("last_click_ms"),
        (col("t") - col("last_click_ms")).as("gap_ms"))
  }

  val qAsofJoinSql: String =
    """WITH u AS (
      |  SELECT user_id, epoch_ms(ts) AS t, 0 AS kind, event_id AS id
      |  FROM events WHERE event_type = 'click'
      |  UNION ALL
      |  SELECT user_id, epoch_ms(ts) AS t, 1 AS kind, event_id AS id
      |  FROM events WHERE event_type = 'purchase'),
      |ann AS (
      |  SELECT user_id, t, kind, id,
      |    last_value(CASE WHEN kind = 0 THEN id END IGNORE NULLS) OVER w AS last_click_id,
      |    last_value(CASE WHEN kind = 0 THEN t END IGNORE NULLS) OVER w AS last_click_ms
      |  FROM u
      |  WINDOW w AS (PARTITION BY user_id ORDER BY t, kind, id
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      |SELECT id AS purchase_id, user_id, t AS purchase_ms,
      |  last_click_id, last_click_ms, t - last_click_ms AS gap_ms
      |FROM ann WHERE kind = 1
      |ORDER BY purchase_id""".stripMargin

  /** Interval join — the batch twin of the stream-stream attribution
    * join [[graft.streaming.Streams.clickAttribution]]: every
    * (purchase, click) pair of the same user with the click in the
    * hour before the purchase. The equi key (user_id) drives one
    * sort-merge shuffle; the time-range predicate is evaluated inside
    * the merge, so no range explosion and no cross product — at scale
    * the cost is one co-partitioned pass per user, exactly the shape
    * the streaming job maintains incrementally with watermark-bounded
    * state.
    */
  def qIntervalJoin(s: SparkSession, dir: String): DataFrame = {
    val e = Ingest.events(s, dir)
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts_ms").as("click_ms"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("ts_ms").as("purchase_ms"))
    purchases.join(clicks,
        col("user_id") === col("c_user") &&
        col("click_ms") >= col("purchase_ms") - 3600000L &&
        col("click_ms") <= col("purchase_ms"))
      .select(col("user_id"), col("purchase_id"), col("click_id"),
        col("purchase_ms"), col("click_ms"),
        (col("purchase_ms") - col("click_ms")).as("lead_ms"))
  }

  val qIntervalJoinSql: String =
    """SELECT p.user_id, p.event_id AS purchase_id, c.event_id AS click_id,
      |  epoch_ms(p.ts) AS purchase_ms, epoch_ms(c.ts) AS click_ms,
      |  epoch_ms(p.ts) - epoch_ms(c.ts) AS lead_ms
      |FROM events p
      |JOIN events c
      |  ON c.user_id = p.user_id
      | AND c.event_type = 'click'
      | AND epoch_ms(c.ts) >= epoch_ms(p.ts) - 3600000
      | AND epoch_ms(c.ts) <= epoch_ms(p.ts)
      |WHERE p.event_type = 'purchase'
      |ORDER BY purchase_id, click_id""".stripMargin

  /** Attribution-model comparison: per purchase, the FIRST-touch and
    * LAST-touch click inside the 1-hour window — the two models every
    * marketing team argues about, computed in one pass so the
    * disagreement is itself a queryable column (models_agree).
    * Composed over [[qIntervalJoin]]'s pair semantics; the fold is
    * min_by/max_by on (click_ms, click_id) — single-row partial state
    * per (purchase, map partition), the [[qCdcApply]] device. Ties at
    * the same millisecond break on click_id in both engines.
    */
  def qAttribution(s: SparkSession, dir: String): DataFrame =
    qIntervalJoin(s, dir)
      .groupBy(col("user_id"), col("purchase_id"), col("purchase_ms"))
      .agg(
        count(lit(1)).as("n_clicks"),
        min_by(col("click_id"), struct(col("click_ms"), col("click_id"))).as("first_click_id"),
        max_by(col("click_id"), struct(col("click_ms"), col("click_id"))).as("last_click_id"))
      .withColumn("models_agree", col("first_click_id") === col("last_click_id"))

  val qAttributionSql: String =
    """WITH pairs AS (
      |  SELECT p.user_id, p.event_id AS purchase_id, epoch_ms(p.ts) AS purchase_ms,
      |    c.event_id AS click_id, epoch_ms(c.ts) AS click_ms
      |  FROM events p
      |  JOIN events c
      |    ON c.user_id = p.user_id
      |   AND c.event_type = 'click'
      |   AND epoch_ms(c.ts) >= epoch_ms(p.ts) - 3600000
      |   AND epoch_ms(c.ts) <= epoch_ms(p.ts)
      |  WHERE p.event_type = 'purchase'),
      |r AS (
      |  SELECT user_id, purchase_id, purchase_ms, click_id,
      |    ROW_NUMBER() OVER (PARTITION BY purchase_id
      |                       ORDER BY click_ms, click_id) AS rn_first,
      |    ROW_NUMBER() OVER (PARTITION BY purchase_id
      |                       ORDER BY click_ms DESC, click_id DESC) AS rn_last
      |  FROM pairs)
      |SELECT user_id, purchase_id, purchase_ms, COUNT(*) AS n_clicks,
      |  MAX(CASE WHEN rn_first = 1 THEN click_id END) AS first_click_id,
      |  MAX(CASE WHEN rn_last = 1 THEN click_id END) AS last_click_id,
      |  MAX(CASE WHEN rn_first = 1 THEN click_id END)
      |    = MAX(CASE WHEN rn_last = 1 THEN click_id END) AS models_agree
      |FROM r GROUP BY user_id, purchase_id, purchase_ms
      |ORDER BY purchase_id""".stripMargin

  /** Tumbling-window event aggregation — the batch twin of the
    * Structured Streaming job in [[graft.streaming.Streams]]: 1-hour
    * tumbling windows per event_type.
    */
  def qStreamTumbling(s: SparkSession, dir: String): DataFrame = {
    val e = Ingest.events(s, dir)
    e.groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
           sum(money(col("value"))).cast("double").as("total_value"))
      .select(
        unix_millis(col("window.start")).as("window_start_ms"),
        col("event_type"), col("n_events"), col("total_value"))
  }

  val qStreamTumblingSql: String =
    """SELECT (epoch_ms(ts) // 3600000) * 3600000 AS window_start_ms,
      |  event_type,
      |  COUNT(*) AS n_events,
      |  CAST(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS total_value
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY window_start_ms, event_type""".stripMargin

  /** Sliding-window event aggregation (1-hour windows every 30
    * minutes) — the batch twin of [[graft.streaming.Streams.slidingCounts]].
    * Spark's `window(ts, size, slide)` assigns each event to
    * size/slide = 2 epoch-aligned windows (a bounded 1→2 expansion
    * before the partial aggregate, NOT a range join), then the usual
    * partial-aggregating groupBy — one shuffle on (window, type) at
    * any scale.
    */
  def qStreamSliding(s: SparkSession, dir: String): DataFrame = {
    val e = Ingest.events(s, dir)
    e.groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
           sum(money(col("value"))).cast("double").as("total_value"))
      .select(
        unix_millis(col("window.start")).as("window_start_ms"),
        col("event_type"), col("n_events"), col("total_value"))
  }

  // Each event falls in exactly two slide-aligned windows: the one
  // starting at floor(t/slide)*slide and the one slide earlier.
  val qStreamSlidingSql: String =
    """WITH x AS (
      |  SELECT event_type, value,
      |    (epoch_ms(ts) // 1800000) * 1800000 AS w0
      |  FROM events),
      |w AS (SELECT event_type, value,
      |        unnest([w0, w0 - 1800000]) AS window_start_ms FROM x)
      |SELECT window_start_ms, event_type,
      |  COUNT(*) AS n_events,
      |  CAST(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS total_value
      |FROM w
      |GROUP BY window_start_ms, event_type
      |ORDER BY window_start_ms, event_type""".stripMargin

  /** Event-rate spike detection: per (event_type, hour) counts compared
    * to the trailing 24 present hours — the monitoring / drift-alarm
    * query over an ingestion stream (is this hour's volume > 3× the
    * trailing average?). The comparison is cross-multiplied in
    * integers (`n · prior_hours > 3 · prior_sum`), so the oracle
    * hash-matches with no floating-point division anywhere.
    *
    * Shape at scale: the (type, hour) pre-aggregation shuffles the raw
    * stream once on a high-cardinality composite key (map-side
    * combine); the trailing window then runs per event_type over
    * HOURLY rows — bounded by the time span, not by data volume, so
    * the per-type partition never grows with ingest rate.
    */
  def qRateAnomaly(s: SparkSession, dir: String): DataFrame = {
    val hourly = Ingest.events(s, dir)
      .select(col("event_type"), expr("ts_ms DIV 3600000").as("hour_id"))
      .groupBy("event_type", "hour_id")
      .agg(count(lit(1)).as("n"))
    val trail = Window.partitionBy("event_type").orderBy("hour_id")
      .rowsBetween(-24, -1)
    hourly
      .withColumn("prior_sum", coalesce(sum("n").over(trail), lit(0L)))
      .withColumn("prior_hours", count(lit(1)).over(trail))
      .withColumn("is_spike",
        col("prior_hours") > 0 && col("n") * col("prior_hours") > col("prior_sum") * 3)
  }

  val qRateAnomalySql: String =
    """WITH hourly AS (
      |  SELECT event_type, epoch_ms(ts) // 3600000 AS hour_id, COUNT(*) AS n
      |  FROM events GROUP BY 1, 2)
      |SELECT event_type, hour_id, n,
      |  CAST(COALESCE(SUM(n) OVER trail, 0) AS BIGINT) AS prior_sum,
      |  COUNT(*) OVER trail AS prior_hours,
      |  (COUNT(*) OVER trail > 0
      |   AND n * COUNT(*) OVER trail > COALESCE(SUM(n) OVER trail, 0) * 3) AS is_spike
      |FROM hourly
      |WINDOW trail AS (PARTITION BY event_type ORDER BY hour_id
      |                 ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
      |ORDER BY event_type, hour_id""".stripMargin

  /** CDC changelog apply — MERGE INTO semantics as a batch fold: the
    * event stream is read as a changelog on user_id ('error' = DELETE
    * tombstone, everything else = UPSERT), and the query materializes
    * the resulting snapshot: per key, the latest change by
    * (ts_ms, event_id) wins; keys whose latest change is a tombstone
    * drop out; n_changes audits the fold.
    *
    * Plan choice: `max_by(struct(payload), struct(ts_ms, event_id))`
    * — ONE aggregate whose partial state is a single row per
    * (key, map partition), so the shuffle carries |keys| rows with
    * map-side combine, not |changes|. The window formulation
    * (ROW_NUMBER ... WHERE rn = 1) ships every change row through the
    * shuffle and sorts each partition; the ORACLE runs exactly that
    * window SQL, so hash-equality is the semantic-equivalence proof
    * (same device as q_group_topk). Tombstones are filtered AFTER the
    * fold — a delete must win over earlier upserts, not vanish early.
    */
  def qCdcApply(s: SparkSession, dir: String): DataFrame = {
    val log = Ingest.events(s, dir)
      .select(col("user_id"), col("ts_ms"), col("event_id"),
        col("event_type"), col("value"))
    log.groupBy(col("user_id"))
      .agg(
        max_by(
          struct(col("ts_ms"), col("event_id"), col("event_type"), col("value")),
          struct(col("ts_ms"), col("event_id"))).as("last"),
        count(lit(1)).as("n_changes"))
      .filter(col("last.event_type") =!= "error")
      .select(col("user_id"),
        col("last.ts_ms").as("last_ts_ms"),
        col("last.event_id").as("last_event_id"),
        col("last.event_type").as("last_op"),
        col("last.value").as("last_value"),
        col("n_changes"))
  }

  val qCdcApplySql: String =
    """WITH log AS (
      |  SELECT user_id, epoch_ms(ts) AS ts_ms, event_id, event_type, value
      |  FROM events),
      |r AS (
      |  SELECT *,
      |    ROW_NUMBER() OVER (PARTITION BY user_id
      |                       ORDER BY ts_ms DESC, event_id DESC) AS rn,
      |    COUNT(*) OVER (PARTITION BY user_id) AS n_changes
      |  FROM log)
      |SELECT user_id, ts_ms AS last_ts_ms, event_id AS last_event_id,
      |  event_type AS last_op, value AS last_value, n_changes
      |FROM r
      |WHERE rn = 1 AND event_type <> 'error'
      |ORDER BY user_id""".stripMargin

  /** Gaps-and-islands over per-user activity days: distinct active
    * calendar days (integer epoch-day — both engines agree trivially)
    * collapse into consecutive-day streaks via the classic
    * day − ROW_NUMBER() island key, rolled up to per-user streak
    * statistics (the "current streak / longest streak" engagement
    * report). Integer arithmetic end to end.
    *
    * Shape at scale: the distinct shuffles (user, day) with map-side
    * combine — the corpus collapses to ≤ users×days rows before
    * moving; the island window and both rollups then share one
    * user_id partitioning. The per-user window sorts only that user's
    * distinct DAYS (calendar-bounded), never raw events.
    */
  def qStreakIslands(s: SparkSession, dir: String): DataFrame = {
    val days = Ingest.events(s, dir)
      .select(col("user_id"), expr("ts_ms DIV 86400000").as("day"))
      .distinct()
    val w = Window.partitionBy("user_id").orderBy("day")
    days
      .withColumn("grp", col("day") - row_number().over(w))
      .groupBy(col("user_id"), col("grp"))
      .agg(count(lit(1)).as("len"))
      .groupBy(col("user_id"))
      .agg(
        sum(col("len")).as("n_active_days"),
        count(lit(1)).as("n_streaks"),
        max(col("len")).as("max_streak"))
  }

  val qStreakIslandsSql: String =
    """WITH days AS (
      |  SELECT DISTINCT user_id, epoch_ms(ts) // 86400000 AS day FROM events),
      |isl AS (
      |  SELECT user_id,
      |    day - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) AS grp
      |  FROM days),
      |streaks AS (
      |  SELECT user_id, grp, COUNT(*) AS len FROM isl GROUP BY user_id, grp)
      |SELECT user_id, CAST(SUM(len) AS BIGINT) AS n_active_days,
      |  COUNT(*) AS n_streaks, CAST(MAX(len) AS BIGINT) AS max_streak
      |FROM streaks GROUP BY user_id
      |ORDER BY user_id""".stripMargin

  /** Out-of-order-arrival accounting — the diagnostic that tunes a
    * streaming watermark (`withWatermark` delays are a bet about
    * exactly this distribution; ref's batch reload never had to ask).
    * Arrival order is event_id (the ingest sequence); an event is late
    * if a LATER-timestamped event of the same user already arrived,
    * and its lateness is the gap to the per-user running max event
    * time. Rolled up per event type: share of out-of-order events and
    * the max/total lateness — max_late_ms IS the smallest per-key
    * watermark delay that would have lost nothing.
    *
    * Shape at scale: one shuffle (user_id) for the running-max window,
    * then a partial-aggregated rollup into a |event_type|-sized key
    * space. Integer milliseconds end to end.
    */
  def qDisorderStats(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    Ingest.events(s, dir)
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts_ms"))
      .withColumn("late_ms",
        greatest(lit(0L), coalesce(max("ts_ms").over(w) - col("ts_ms"), lit(0L))))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(when(col("late_ms") > 0, 1L).otherwise(0L)).as("n_ooo"),
        max(col("late_ms")).as("max_late_ms"),
        sum(col("late_ms")).as("total_late_ms"))
  }

  val qDisorderStatsSql: String =
    """WITH l AS (
      |  SELECT event_type,
      |    GREATEST(0, COALESCE(
      |      MAX(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY event_id
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |      - epoch_ms(ts), 0)) AS late_ms
      |  FROM events)
      |SELECT event_type, COUNT(*) AS n_events,
      |  CAST(SUM(CASE WHEN late_ms > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_ooo,
      |  CAST(MAX(late_ms) AS BIGINT) AS max_late_ms,
      |  CAST(SUM(late_ms) AS BIGINT) AS total_late_ms
      |FROM l GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** Overlapping-interval coalescing (the range twin of gaps-and-
    * islands): each event opens a 30-minute activity interval
    * [ts, ts+30min); per user, transitively-overlapping intervals
    * merge into one — the canonical "merge overlapping ranges"
    * operator (calendar busy-blocks, IP-range consolidation, sensor
    * uptime windows). An interval starts a new island iff its start is
    * ≥ the running max end of everything before it; the island id is
    * the running count of such starts.
    *
    * Shape at scale: ONE shuffle on user_id; both windows (running max
    * end, running island count) share that partitioning and one
    * in-partition sort on (ts_ms, event_id) — a total order, so island
    * assignment is deterministic. The rollup to one row per island
    * partial-aggregates on the same key. Integer milliseconds
    * throughout.
    */
  def qIntervalCoalesce(s: SparkSession, dir: String): DataFrame = {
    val ttl = 1800000L // 30 min
    val w = Window.partitionBy("user_id").orderBy("ts_ms", "event_id")
    val prevEnd = max(col("end_ms")).over(w.rowsBetween(Window.unboundedPreceding, -1))
    Ingest.events(s, dir)
      .select(col("user_id"), col("event_id"), col("ts_ms"),
        (col("ts_ms") + ttl).as("end_ms"))
      .withColumn("new_island",
        when(col("ts_ms") >= coalesce(prevEnd, lit(Long.MinValue)), 1L).otherwise(0L))
      .withColumn("island_id",
        sum("new_island").over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("island_id"))
      .agg(
        min("ts_ms").as("start_ms"),
        max("end_ms").as("end_ms"),
        count(lit(1)).as("n_events"))
      .withColumn("span_ms", col("end_ms") - col("start_ms"))
  }

  val qIntervalCoalesceSql: String =
    """WITH iv AS (
      |  SELECT user_id, event_id, epoch_ms(ts) AS ts_ms,
      |    epoch_ms(ts) + 1800000 AS end_ms
      |  FROM events),
      |flag AS (
      |  SELECT user_id, ts_ms, end_ms,
      |    CASE WHEN ts_ms >= COALESCE(
      |      MAX(end_ms) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
      |      -9223372036854775808) THEN 1 ELSE 0 END AS new_island,
      |    event_id
      |  FROM iv),
      |isl AS (
      |  SELECT user_id, ts_ms, end_ms,
      |    CAST(SUM(new_island) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS island_id
      |  FROM flag)
      |SELECT user_id, island_id, MIN(ts_ms) AS start_ms, MAX(end_ms) AS end_ms,
      |  COUNT(*) AS n_events, MAX(end_ms) - MIN(ts_ms) AS span_ms
      |FROM isl GROUP BY user_id, island_id
      |ORDER BY user_id, island_id""".stripMargin

  /** Session-duration distribution — the rollup every sessionization
    * consumer draws (how long and how heavy is a session?): composed
    * OVER [[qSessionize]] (composition proven by the oracle replaying
    * the full pipeline, like `q_filter_pipeline`). Integer-second
    * duration buckets (DIV — both engines truncate identically);
    * averages are exact integer sums divided once as doubles.
    *
    * Shape at scale: qSessionize's one user_id shuffle produces
    * session-sized rows; the bucket rollup partial-aggregates into a
    * duration-bounded key space. Nothing new touches raw events.
    */
  def qSessionStats(s: SparkSession, dir: String): DataFrame =
    qSessionize(s, dir)
      .select(
        expr("(session_end_ms - session_start_ms) DIV 300000").as("dur_bucket_5m"),
        col("n_events"),
        (col("session_end_ms") - col("session_start_ms")).as("dur_ms"))
      .groupBy(col("dur_bucket_5m"))
      .agg(
        count(lit(1)).as("n_sessions"),
        sum(col("n_events")).as("total_events"),
        (sum(col("n_events")).cast("double") / count(lit(1))).as("avg_events"),
        (sum(col("dur_ms")).cast("double") / count(lit(1))).as("avg_dur_ms"))

  val qSessionStatsSql: String = {
    val sess = qSessionizeBody
    s"""WITH s AS ($sess)
       |SELECT (session_end_ms - session_start_ms) // 300000 AS dur_bucket_5m,
       |  COUNT(*) AS n_sessions,
       |  CAST(SUM(n_events) AS BIGINT) AS total_events,
       |  CAST(SUM(n_events) AS DOUBLE) / COUNT(*) AS avg_events,
       |  CAST(SUM(session_end_ms - session_start_ms) AS DOUBLE) / COUNT(*) AS avg_dur_ms
       |FROM s GROUP BY 1
       |ORDER BY dur_bucket_5m""".stripMargin
  }

  /** Inter-event gap histogram (5-minute bins, capped at 2 h) — the
    * distribution that JUSTIFIES a sessionization gap: the session
    * ttl ([[qSessionize]]'s 30 min) should sit in the valley between
    * the within-session and between-session modes, and this query is
    * where you look for that valley. Also the watermark-delay
    * companion to `q_disorder_stats` (that one measures disorder,
    * this one measures silence).
    *
    * Shape at scale: one user_id shuffle feeds the lag window
    * (per-user history, the sessionize partitioning); gaps then
    * partial-aggregate into a ≤25-bin key space.
    */
  def qGapHist(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts_ms", "event_id")
    Ingest.events(s, dir)
      .select(col("user_id"), col("event_id"), col("ts_ms"))
      .withColumn("gap_ms", col("ts_ms") - lag("ts_ms", 1).over(w))
      .filter(col("gap_ms").isNotNull)
      .groupBy(least(expr("gap_ms DIV 300000"), lit(24L)).as("gap_bucket_5m"))
      .agg(
        count(lit(1)).as("n_gaps"),
        min("gap_ms").as("min_gap_ms"),
        max("gap_ms").as("max_gap_ms"))
  }

  val qGapHistSql: String =
    """WITH g AS (
      |  SELECT epoch_ms(ts) - LAG(epoch_ms(ts)) OVER (
      |    PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) AS gap_ms
      |  FROM events)
      |SELECT LEAST(gap_ms // 300000, 24) AS gap_bucket_5m,
      |  COUNT(*) AS n_gaps,
      |  CAST(MIN(gap_ms) AS BIGINT) AS min_gap_ms,
      |  CAST(MAX(gap_ms) AS BIGINT) AS max_gap_ms
      |FROM g WHERE gap_ms IS NOT NULL
      |GROUP BY 1
      |ORDER BY gap_bucket_5m""".stripMargin

  /** Temporal train/test holdout + leakage audit: cut the event
    * stream at 80% of its time span (exact integer arithmetic on
    * epoch millis — reproducible on any engine, unlike a percentile
    * estimate), report each split's event/user census and time range,
    * plus the USER OVERLAP between splits — the leakage channel for
    * behavioral models (a user in both splits lets train memorize
    * test behavior; temporal splits bound FUTURE leakage but not
    * entity leakage, and this row measures exactly how much entity
    * overlap the cut leaves). The time-axis sibling of
    * [[TextOps]]'s md5 hash split (`q_train_test_split`) and its
    * bias audit (`q_split_balance`).
    *
    * Shape at scale: one scan marked against a broadcast 1-row
    * boundary, one user-keyed partial-agg rollup for the overlap, one
    * 2-key split rollup — two shuffles, both combiner-friendly.
    */
  def qTemporalSplit(s: SparkSession, dir: String): DataFrame = {
    val e = Ingest.events(s, dir).select(col("user_id"), col("ts_ms"))
    val b = e.agg(min(col("ts_ms")).as("lo"), max(col("ts_ms")).as("hi"))
      .select(expr("lo + ((hi - lo) * 8) DIV 10").as("cut"))
    val marked = e.crossJoin(broadcast(b))
      .withColumn("split",
        when(col("ts_ms") < col("cut"), "train").otherwise("test"))
    val overlap = marked.groupBy(col("user_id"))
      .agg(
        sum(when(col("split") === "train", 1L).otherwise(0L)).as("n_tr"),
        sum(when(col("split") === "test", 1L).otherwise(0L)).as("n_te"))
      .agg(sum(when(col("n_tr") > 0L && col("n_te") > 0L, 1L).otherwise(0L))
        .as("n_users_overlap"))
    marked.groupBy(col("split"))
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        min(col("ts_ms")).as("t_lo"),
        max(col("ts_ms")).as("t_hi"))
      .crossJoin(broadcast(overlap))
      .select(col("split"), col("n_events"), col("n_users"),
        col("t_lo"), col("t_hi"), col("n_users_overlap"),
        expr("(n_users_overlap * 1000000) DIV n_users").as("overlap_ppm_of_split"))
  }

  val qTemporalSplitSql: String =
    """WITH e AS (SELECT user_id, epoch_ms(ts) AS ts_ms FROM events),
      |b AS (SELECT MIN(ts_ms) + ((MAX(ts_ms) - MIN(ts_ms)) * 8) // 10 AS cut FROM e),
      |m AS (
      |  SELECT user_id, ts_ms,
      |    CASE WHEN ts_ms < b.cut THEN 'train' ELSE 'test' END AS split
      |  FROM e CROSS JOIN b),
      |u AS (
      |  SELECT user_id,
      |    SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS n_tr,
      |    SUM(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS n_te
      |  FROM m GROUP BY user_id),
      |ov AS (
      |  SELECT CAST(SUM(CASE WHEN n_tr > 0 AND n_te > 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_users_overlap FROM u)
      |SELECT split, COUNT(*) AS n_events,
      |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
      |  CAST(MIN(ts_ms) AS BIGINT) AS t_lo,
      |  CAST(MAX(ts_ms) AS BIGINT) AS t_hi,
      |  ov.n_users_overlap,
      |  (ov.n_users_overlap * 1000000) // CAST(COUNT(DISTINCT user_id) AS BIGINT)
      |    AS overlap_ppm_of_split
      |FROM m CROSS JOIN ov
      |GROUP BY split, ov.n_users_overlap
      |ORDER BY split""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_temporal_split"    -> qTemporalSplit _,
    "q_gap_hist"          -> qGapHist _,
    "q_attribution"       -> qAttribution _,
    "q_session_stats"     -> qSessionStats _,
    "q_interval_coalesce" -> qIntervalCoalesce _,
    "q_streak_islands" -> qStreakIslands _,
    "q_disorder_stats" -> qDisorderStats _,
    "q_cdc_apply"    -> qCdcApply _,
    "q_rate_anomaly" -> qRateAnomaly _,
    "q_sessionize"      -> qSessionize _,
    "q_session_window"  -> qSessionWindow _,
    "q_asof_join"       -> qAsofJoin _,
    "q_interval_join"   -> qIntervalJoin _,
    "q_stream_tumbling" -> qStreamTumbling _,
    "q_stream_sliding"  -> qStreamSliding _
  )

  val oracle: Map[String, String] = Map(
    "q_temporal_split"    -> qTemporalSplitSql,
    "q_gap_hist"          -> qGapHistSql,
    "q_attribution"       -> qAttributionSql,
    "q_session_stats"     -> qSessionStatsSql,
    "q_interval_coalesce" -> qIntervalCoalesceSql,
    "q_streak_islands"  -> qStreakIslandsSql,
    "q_disorder_stats"  -> qDisorderStatsSql,
    "q_cdc_apply"       -> qCdcApplySql,
    "q_rate_anomaly"    -> qRateAnomalySql,
    "q_sessionize"      -> qSessionizeSql,
    "q_session_window"  -> qSessionWindowSql,
    "q_asof_join"       -> qAsofJoinSql,
    "q_interval_join"   -> qIntervalJoinSql,
    "q_stream_tumbling" -> qStreamTumblingSql,
    "q_stream_sliding"  -> qStreamSlidingSql
  )
}
