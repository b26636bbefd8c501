package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.Streams
import graft.streaming.Streams.Ev

/** Structured Streaming twins vs their batch semantics, driven through
  * MemoryStream. A far-future sentinel event advances the watermark so
  * windows close / sessions flush deterministically.
  */
class StreamsSpec extends SparkSpec {

  private val H = 3600L * 1000L // one hour in ms
  private val FarFuture = 1000L * H

  private val CheckpointRootKey = "spark.sql.streaming.checkpointLocation"

  // the memory-sink queries below name no checkpoint: each keeps it
  // under this suite's temp dir (deleted with it) instead of a
  // temporary directory of its own
  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.conf.set(CheckpointRootKey, tempDir("checkpoints"))
  }

  override def afterAll(): Unit =
    try spark.conf.unset(CheckpointRootKey) finally super.afterAll()

  test("tumblingCounts: watermarked 1h windows match hand-computed counts") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val ms = MemoryStream[(Long, String, Double)]
    val events = ms.toDF()
      .select(timestamp_millis(col("_1")).as("ts"), col("_2").as("event_type"),
        col("_3").as("value"))
    val q = Streams.tumblingCounts(events)
      .writeStream.format("memory").queryName("tumbling").outputMode("append").start()
    try {
      // window [0h,1h): 2 clicks (3.0); [1h,2h): 1 purchase (5.5)
      ms.addData((10L * 60 * 1000, "click", 1.0), (20L * 60 * 1000, "click", 2.0),
        (H + 5, "purchase", 5.5))
      q.processAllAvailable()
      ms.addData((FarFuture, "sentinel", 0.0)) // advance watermark
      q.processAllAvailable()
      val got = s.sql(
        """SELECT window_start_ms, event_type, n_events, total_value
          |FROM tumbling WHERE event_type <> 'sentinel'
          |ORDER BY window_start_ms, event_type""".stripMargin).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      assert(got.toSeq === Seq((0L, "click", 2L, 3.0), (H, "purchase", 1L, 5.5)))
    } finally q.stop()
  }

  test("slidingCounts: each event lands in exactly two 30-min-aligned windows") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val ms = MemoryStream[(Long, String, Double)]
    val events = ms.toDF()
      .select(timestamp_millis(col("_1")).as("ts"), col("_2").as("event_type"),
        col("_3").as("value"))
    val q = Streams.slidingCounts(events)
      .writeStream.format("memory").queryName("sliding").outputMode("append").start()
    try {
      val HalfH = 30L * 60 * 1000
      // clicks at 10min and 20min → both in windows starting at -30min
      // and 0; purchase at 1h+5ms → windows starting at 30min and 1h
      ms.addData((10L * 60 * 1000, "click", 1.0), (20L * 60 * 1000, "click", 2.0),
        (H + 5, "purchase", 5.5))
      q.processAllAvailable()
      ms.addData((FarFuture, "sentinel", 0.0)) // advance watermark
      q.processAllAvailable()
      val got = s.sql(
        """SELECT window_start_ms, event_type, n_events, total_value
          |FROM sliding WHERE event_type <> 'sentinel'
          |ORDER BY window_start_ms, event_type""".stripMargin).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      assert(got.toSeq === Seq(
        (-HalfH, "click", 2L, 3.0), (0L, "click", 2L, 3.0),
        (HalfH, "purchase", 1L, 5.5), (H, "purchase", 1L, 5.5)))
    } finally q.stop()
  }

  test("tumblingUsers: sketch distinct matches exact reach on a small window") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val ms = MemoryStream[(Long, String, Long)]
    val events = ms.toDF()
      .select(timestamp_millis(col("_1")).as("ts"), col("_2").as("event_type"),
        col("_3").as("user_id"))
    val q = Streams.tumblingUsers(events)
      .writeStream.format("memory").queryName("tusers").outputMode("append").start()
    try {
      // window [0,1h): users {7, 8} on clicks (user 7 twice — distinct!)
      ms.addData((10L * 60 * 1000, "click", 7L), (20L * 60 * 1000, "click", 7L),
        (30L * 60 * 1000, "click", 8L))
      q.processAllAvailable()
      ms.addData((FarFuture, "sentinel", 0L))
      q.processAllAvailable()
      val got = s.sql(
        """SELECT window_start_ms, n_users_est FROM tusers
          |WHERE event_type = 'click'""".stripMargin).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      // HLL++ is exact in its sparse regime — tiny cardinalities must
      // not drift at all
      assert(got.toSeq === Seq((0L, 2L)))
    } finally q.stop()
  }

  test("slidingUsers: trailing-7-day sketch reach matches the exact batch fan-out") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val D = 86400000L
    val rows = Seq(
      (0 * D + 3600000L, "click", 7L), (0 * D + 7200000L, "click", 8L),
      (1 * D + 3600000L, "click", 7L), (3 * D + 3600000L, "purchase", 7L),
      (8 * D + 3600000L, "click", 9L))
    val ms = MemoryStream[(Long, String, Long)]
    val events = ms.toDF()
      .select(timestamp_millis(col("_1")).as("ts"), col("_2").as("event_type"),
        col("_3").as("user_id"))
    val q = Streams.slidingUsers(events)
      .writeStream.format("memory").queryName("susers").outputMode("append").start()
    try {
      ms.addData(rows: _*)
      q.processAllAvailable()
      ms.addData((FarFuture, "sentinel", 0L)) // advance watermark
      q.processAllAvailable()
      val streamed = s.sql(
        """SELECT day_start_ms, event_type, n_users_est FROM susers
          |WHERE event_type <> 'sentinel' ORDER BY 1, 2""".stripMargin).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
      // exact batch twin: the qSlidingReach fan-out (each event serves
      // target days d..d+6), exact distinct per (target day, type) —
      // the sketch is exact at these cardinalities, so strict equality
      val batch = rows.toDF("ts_ms", "event_type", "user_id")
        .select(expr("ts_ms DIV 86400000").as("day"), col("event_type"), col("user_id"))
        .select(explode(expr("sequence(day, day + 6)")).as("day_t"),
          col("event_type"), col("user_id"))
        .groupBy("day_t", "event_type")
        .agg(countDistinct("user_id").as("n"))
        .collect().map(r => (r.getLong(0) * D, r.getString(1), r.getLong(2)))
        .sortBy(x => (x._1, x._2)).toSeq
      assert(streamed === batch)
    } finally q.stop()
  }

  test("dedupe: normalized duplicates within the watermark horizon are dropped") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val ms = MemoryStream[(Long, String, Long)]
    val docs = ms.toDF()
      .select(col("_1").as("doc_id"), col("_2").as("text"),
        timestamp_millis(col("_3")).as("ts"))
    val q = Streams.dedupe(docs)
      .writeStream.format("memory").queryName("dedup").outputMode("append").start()
    try {
      val B = 24L * H
      ms.addData(
        (1L, "Hello  World", B),
        (2L, "hello world", B + 1000),   // dup after normalization
        (3L, "something else", B + 2000))
      q.processAllAvailable()
      val ids = s.sql("SELECT doc_id FROM dedup ORDER BY doc_id").collect().map(_.getLong(0))
      assert(ids.length === 2, s"one of the two normalized dups must drop, got ${ids.mkString(",")}")
      assert(ids.contains(3L))
    } finally q.stop()
  }

  test("prefixDedupe: shared-header docs with different tails dedup on the prefix key") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val header = (1 to 32).map(i => s"tmpl$i").mkString(" ")
    val ms = MemoryStream[(Long, String, Long)]
    val docs = ms.toDF()
      .select(col("_1").as("doc_id"), col("_2").as("text"),
        timestamp_millis(col("_3")).as("ts"))
    val q = Streams.prefixDedupe(docs)
      .writeStream.format("memory").queryName("pfx_dedup").outputMode("append").start()
    try {
      val B = 24L * H
      ms.addData(
        (1L, s"$header original tail one", B),
        (2L, s"$header a completely different tail", B + 1000), // prefix dup
        (3L, "unrelated document with its own words entirely here", B + 2000))
      q.processAllAvailable()
      val ids = s.sql("SELECT doc_id FROM pfx_dedup ORDER BY doc_id").collect().map(_.getLong(0))
      assert(ids.toSeq === Seq(1L, 3L),
        s"the later family member must drop on the shared prefix, got ${ids.mkString(",")}")
      // twins contract: the streamed survivors are exactly the batch
      // query's survivors for the same rows
      val dir = docsDir(Seq(
        1L -> s"$header original tail one",
        2L -> s"$header a completely different tail",
        3L -> "unrelated document with its own words entirely here"))
      val batchSurvivors = graft.operators.Dedup.qPrefixDedup(spark, dir)
        .filter(!col("is_prefix_dup")).select("doc_id")
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(batchSurvivors === ids.toSeq, "stream and batch survivors must agree")
    } finally q.stop()
  }

  /** The horizon trade, pinned: dropDuplicatesWithinWatermark only
    * remembers hashes inside the watermark horizon, so a duplicate
    * arriving AFTER the horizon passes is re-admitted — that is the
    * documented price of bounded state, and the reason corpusFilter
    * (whose output is a verdict TABLE) keeps full history instead.
    * If this behavior ever silently changed (e.g. someone "fixing"
    * the duplicate by extending state), the state-size story changes
    * with it — this spec makes that a conscious decision.
    */
  test("dedupe: a duplicate beyond the watermark horizon is re-admitted (bounded state)") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val ms = MemoryStream[(Long, String, Long)]
    val docs = ms.toDF()
      .select(col("_1").as("doc_id"), col("_2").as("text"),
        timestamp_millis(col("_3")).as("ts"))
    val q = Streams.dedupe(docs, horizon = "1 hour")
      .writeStream.format("memory").queryName("dedup_horizon").outputMode("append").start()
    try {
      val B = 24L * H
      ms.addData((1L, "same text here", B))
      q.processAllAvailable()
      // advance the watermark far past B + horizon
      ms.addData((2L, "watermark pusher", B + 10 * H))
      q.processAllAvailable()
      // the same content again, with an event time inside the NEW
      // horizon: its hash expired with the old horizon, so it survives
      ms.addData((3L, "same text here", B + 10 * H + 1000))
      q.processAllAvailable()
      val ids = s.sql("SELECT doc_id FROM dedup_horizon ORDER BY doc_id")
        .collect().map(_.getLong(0)).toSeq
      assert(ids === Seq(1L, 2L, 3L),
        "expired-horizon duplicates re-admit by design (bounded state)")
    } finally q.stop()
  }

  /** The batch/stream "twins must not disagree" contract: the same
    * rows through the streaming dedupe and the batch qDedupExact must
    * keep the same number of survivors with the same content hashes.
    * (Which doc_id of a duplicate group survives differs by design:
    * batch keeps min doc_id, the stream keeps first arrival.)
    */
  test("dedupe: stream survivors match batch qDedupExact survivors on the same rows") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val rows = Seq(
      1L -> "The Quick  Brown Fox", 2L -> "the quick brown fox",
      3L -> "lorem ipsum", 4L -> "LOREM   IPSUM", 5L -> "unique text here")
    val batchSurvivorMd5 = graft.operators.Dedup.qDedupExact(spark, docsDir(rows))
      .filter(!col("is_dup")).collect().map(_.getString(1)).toSet

    val ms = MemoryStream[(Long, String, Long)]
    val docs = ms.toDF()
      .select(col("_1").as("doc_id"), col("_2").as("text"),
        timestamp_millis(col("_3")).as("ts"))
    val q = Streams.dedupe(docs)
      .writeStream.format("memory").queryName("dedup_parity").outputMode("append").start()
    try {
      val B = 24L * H
      ms.addData(rows.zipWithIndex.map { case ((id, t), i) => (id, t, B + i * 1000L) }: _*)
      q.processAllAvailable()
      val streamed = s.sql("SELECT doc_id, content_md5 FROM dedup_parity").collect()
      assert(streamed.length === batchSurvivorMd5.size,
        "stream and batch must keep the same survivor count")
      assert(streamed.map(_.getString(1)).toSet === batchSurvivorMd5,
        "stream and batch survivors must cover the same content hashes")
    } finally q.stop()
  }

  /** The enrichment keys must equal the batch star schema's key
    * arithmetic — a streamed fact row and its batch-built twin must
    * land on the SAME dim rows.
    */
  test("enrichFacts: stream-static join, keys match the batch dim scheme") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val typeDim = Seq(("click", 1L), ("purchase", 2L)).toDF("event_type", "type_id")
    val ms = MemoryStream[(Long, String)]
    val events = ms.toDF()
      .select(timestamp_millis(col("_1")).as("ts"), col("_2").as("event_type"))
    val q = Streams.enrichFacts(events, typeDim)
      .writeStream.format("memory").queryName("enriched").outputMode("append").start()
    try {
      // 2021-03-04 05:06:07 UTC and an unknown event type
      val t1 = java.time.Instant.parse("2021-03-04T05:06:07Z").toEpochMilli
      ms.addData((t1, "click"), (t1 + 1000, "mystery"))
      q.processAllAvailable()
      val got = s.sql("SELECT event_type, date_id, time_id, type_id FROM enriched ORDER BY time_id")
        .collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2),
          if (r.isNullAt(3)) -1L else r.getLong(3)))
      assert(got.toSeq === Seq(
        ("click", 20210304, 50607, 1L),
        ("mystery", 20210304, 50608, -1L)), // left join: unknown type survives with NULL
        s"got ${got.mkString(",")}")
    } finally q.stop()
  }

  test("clickAttribution: stream-stream interval join matches only in-window same-user clicks") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val clicks = MemoryStream[(Long, Long, Long)]
    val purchases = MemoryStream[(Long, Long, Long)]
    def df(ms: MemoryStream[(Long, Long, Long)]) = ms.toDF()
      .select(col("_1").as("user_id"), col("_2").as("event_id"),
        timestamp_millis(col("_3")).as("ts"))
    val q = Streams.clickAttribution(df(clicks), df(purchases))
      .writeStream.format("memory").queryName("attrib").outputMode("append").start()
    try {
      val B = 24L * H
      clicks.addData(
        (1L, 10L, B),              // in window (10 min before purchase)
        (1L, 11L, B - 2 * H),      // too old → no match
        (2L, 12L, B),              // other user → no match
        (1L, 13L, B + H))          // after the purchase → no match
      purchases.addData((1L, 100L, B + 10L * 60 * 1000))
      q.processAllAvailable()
      clicks.addData((9L, 98L, FarFuture))
      purchases.addData((9L, 99L, FarFuture)) // advance both watermarks
      q.processAllAvailable()
      val got = s.sql(
        """SELECT user_id, purchase_id, click_id FROM attrib
          |WHERE user_id <> 9 ORDER BY click_id""".stripMargin).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(got.toSeq === Seq((1L, 100L, 10L)),
        "exactly the same-user click inside [purchase-1h, purchase] must match")
    } finally q.stop()
  }

  test("sessionize: session numbering continues across a timeout flush") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val ms = MemoryStream[Ev]
    val q = Streams.sessionize(ms.toDS())
      .writeStream.format("memory").queryName("sessions_flush").outputMode("append").start()
    try {
      val B = 24L * H
      ms.addData(Ev(1L, 1L, B, 1.0))
      q.processAllAvailable()
      ms.addData(Ev(999L, 5L, B + 100L * H, 0.0)) // watermark → TIMEOUT flushes session 1
      q.processAllAvailable()
      ms.addData(Ev(1L, 2L, B + 200L * H, 2.0))   // user 1 returns after the flush
      q.processAllAvailable()
      ms.addData(Ev(999L, 6L, FarFuture, 0.0))    // flush the second session
      q.processAllAvailable()
      val got = s.sql(
        """SELECT session_id, n_events, session_value FROM sessions_flush
          |WHERE user_id = 1 ORDER BY session_id""".stripMargin).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      // ADVICE r3: a timeout flush used to reset the counter → the
      // second session re-emitted session_id 1, duplicating the key.
      assert(got.toSeq === Seq((1L, 1L, 1.0), (2L, 1L, 2.0)),
        "the post-flush session must continue numbering at 2, not restart at 1")
    } finally q.stop()
  }

  test("sessionize: gap sessions match batch semantics, flushed by watermark") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val gap = Streams.GapMs
    val ms = MemoryStream[Ev]
    val q = Streams.sessionize(ms.toDS())
      .writeStream.format("memory").queryName("sessions").outputMode("append").start()
    try {
      // Base offset keeps every event above the initial watermark (0).
      // user 1: two events 10 min apart (one session), then one event
      // past the 30-min gap (second session). user 2: one event.
      val B = 24L * H
      ms.addData(
        Ev(1L, 1L, B, 1.0), Ev(1L, 2L, B + 10L * 60 * 1000, 2.0),
        Ev(1L, 3L, B + 10L * 60 * 1000 + gap + 1, 4.0),
        Ev(2L, 4L, B, 7.0))
      q.processAllAvailable()
      ms.addData(Ev(999L, 5L, FarFuture, 0.0)) // watermark → timeout flush
      q.processAllAvailable()
      val got = s.sql(
        """SELECT user_id, session_id, n_events, session_start_ms, session_end_ms, session_value
          |FROM sessions WHERE user_id <> 999 ORDER BY user_id, session_id""".stripMargin)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))
      assert(got.toSeq === Seq(
        (1L, 1L, 2L, B, B + 10L * 60 * 1000, 3.0),
        (1L, 2L, 1L, B + 10L * 60 * 1000 + gap + 1, B + 10L * 60 * 1000 + gap + 1, 4.0),
        (2L, 1L, 1L, B, B, 7.0)))
    } finally q.stop()
  }

  test("publishWindows: dynamic partition overwrite makes window publishes replay-idempotent") {
    import java.nio.file.{Files => JFiles, Paths, StandardCopyOption}
    import scala.jdk.CollectionConverters._
    val s = spark
    import s.implicits._
    val root = tempDir("pub")
    val (src, dest, ck) = (s"$root/src", s"$root/dest", s"$root/ck")
    JFiles.createDirectories(Paths.get(src))
    var fileNo = 0
    def deliver(rows: Seq[(Long, String, Double)]): Unit = {
      val tmp = s"$root/tmp$fileNo"
      rows.toDF("ts_ms", "event_type", "value").coalesce(1).write.parquet(tmp)
      val part = JFiles.list(Paths.get(tmp)).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      JFiles.move(part, Paths.get(s"$src/f$fileNo.parquet"), StandardCopyOption.ATOMIC_MOVE)
      fileNo += 1
    }
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "ts_ms BIGINT, event_type STRING, value DOUBLE")
    def run(checkpoint: String): Unit = Streams.publishWindows(
      s.readStream.schema(schema).parquet(src)
        .select(timestamp_millis(col("ts_ms")).as("ts"), col("event_type"), col("value")),
      dest, checkpoint)
    def published(): Map[(Long, String), (Long, Double)] =
      s.read.parquet(dest)
        .select("window_start_ms", "event_type", "n_events", "total_value")
        .collect()
        .map(r => (r.getLong(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap

    // run 1: windows [0,1h) and [1h,2h)
    deliver(Seq((10L * 60 * 1000, "click", 1.0), (H + 5, "click", 2.0)))
    run(ck)
    assert(published() === Map(
      (0L, "click") -> (1L, 1.0), (H, "click") -> (1L, 2.0)))

    // run 2: window [1h,2h) grows, [2h,3h) appears; [0,1h) untouched
    deliver(Seq((H + 10, "click", 3.0), (2 * H + 1, "click", 4.0)))
    run(ck)
    assert(published() === Map(
      (0L, "click") -> (1L, 1.0),
      (H, "click") -> (2L, 5.0),
      (2 * H, "click") -> (1L, 4.0)),
      "the updated window partition must be REPLACED, never appended")

    // full replay with a fresh checkpoint into the SAME dest: every
    // partition rewrites with identical content — counts must not double
    run(s"$root/ck2")
    assert(published() === Map(
      (0L, "click") -> (1L, 1.0),
      (H, "click") -> (2L, 5.0),
      (2 * H, "click") -> (1L, 4.0)),
      "a from-scratch replay must converge to the same published table, never doubled")
  }

  test("incrementalIngest: AvailableNow runs are exactly-once over arriving files") {
    import java.nio.file.{Files => JFiles, Paths, StandardCopyOption}
    import scala.jdk.CollectionConverters._
    val s = spark
    import s.implicits._
    val root = tempDir("incr")
    val (src, dest, ck) = (s"$root/src", s"$root/dest", s"$root/ck")
    JFiles.createDirectories(Paths.get(src))

    // deliver rows as ONE new file in the source dir (the file source
    // tracks files by path — each arrival must be a distinct file)
    var fileNo = 0
    def deliver(rows: Seq[(Long, String)]): Unit = {
      val tmp = s"$root/tmp$fileNo"
      rows.toDF("doc_id", "text").coalesce(1).write.parquet(tmp)
      val part = JFiles.list(Paths.get(tmp)).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      JFiles.move(part, Paths.get(s"$src/arrival$fileNo.parquet"),
        StandardCopyOption.ATOMIC_MOVE)
      fileNo += 1
    }
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id BIGINT, text STRING")
    def run(): Unit = Streams.incrementalIngest(
      s, src, schema,
      df => df.filter(length(col("text")) >= 3)
        .withColumn("content_md5", graft.operators.Dedup.contentMd5(col("text"))),
      dest, ck)
    def docIds(): Seq[Long] =
      s.read.parquet(dest).select("doc_id").collect().map(_.getLong(0)).toSeq.sorted

    deliver(Seq(1L -> "alpha beta", 2L -> "xy", 3L -> "gamma"))
    run()
    assert(docIds() === Seq(1L, 3L), "run 1 ingests the qualifying rows of file 1")

    run() // no new files: a re-run must not reprocess committed files
    assert(docIds() === Seq(1L, 3L), "an idle re-run appends nothing")

    deliver(Seq(4L -> "delta", 5L -> "no"))
    run()
    assert(docIds() === Seq(1L, 3L, 4L),
      "run 2 processes ONLY the new file — no duplicates of run 1's rows")
  }

  /** The corpus-filter twins contract: the SAME docs through the
    * streaming corpusFilter (fed in doc_id order, one batch) and the
    * batch qFilterPipeline must produce IDENTICAL verdict rows — the
    * quality/repetition/dedup rules are shared column functions, and
    * in-order arrival makes first-wins dedup equal min-id dedup.
    */
  test("corpusFilter: verdicts match batch qFilterPipeline on in-order arrival") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val rows = Seq(
      1L -> "the quick brown fox jumps over the lazy dog",
      2L -> "The  Quick Brown Fox jumps over the lazy dog", // dup of 1
      3L -> "spam spam spam spam spam spam spam spam",      // repetitive
      4L -> "ok",                                           // too short
      5L -> "a perfectly ordinary sentence with enough words here")
    val dir = docsDir(rows)
    val batch = graft.operators.TextOps.qFilterPipeline(spark, dir)
      .collect().map(r => (r.getLong(0), r.getBoolean(1), r.getBoolean(2),
        r.getBoolean(3), r.getString(4), r.getBoolean(5))).sortBy(_._1)

    val ms = MemoryStream[(Long, String)]
    val docs = ms.toDF().select(col("_1").as("doc_id"), col("_2").as("text"))
    val q = Streams.corpusFilter(docs)
      .writeStream.format("memory").queryName("corpus_filter").outputMode("append").start()
    try {
      ms.addData(rows: _*)
      q.processAllAvailable()
      val streamed = s.sql(
        """SELECT doc_id, is_dup, is_keep, is_repetitive, reject_reason, final_keep
          |FROM corpus_filter ORDER BY doc_id""".stripMargin).collect()
        .map(r => (r.getLong(0), r.getBoolean(1), r.getBoolean(2),
          r.getBoolean(3), r.getString(4), r.getBoolean(5)))
      assert(streamed.toSeq === batch.toSeq,
        "stream and batch verdict tables must be identical row for row")
      // the fixture must actually exercise every reject reason
      assert(batch.map(_._5).toSet === Set("duplicate", "low_quality", "repetitive", "ok"))
    } finally q.stop()
  }

  test("corpusBuild: cumulative census == batch q_corpus_build stages 1-7 over two batches") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    // a quality-fail, a repetitive doc, an exact dup, a safety-BLOCKED
    // doc (2-category escalation), plain survivors — and nothing that
    // minhash-pairs WITHOUT being an exact dup, so the batch
    // alive_near == alive_exact and the streamed census (which
    // excludes near dedup by design) is comparable stage for stage
    val batch1 = Seq(
      1L -> "the quick brown fox jumps over the lazy dog today",
      2L -> "the  quick Brown fox jumps over the LAZY dog today", // exact dup of 1
      3L -> "spam spam spam spam spam spam spam spam")            // repetitive
    val batch2 = Seq(
      4L -> "ok",                                                 // too short
      5L -> "a perfectly ordinary sentence with enough words here to pass",
      6L -> "completely different content about streaming census rollups",
      7L -> "the damn weapon sat on the table next to the door")  // 2-cat safety block
    val dir = docsDir(batch1 ++ batch2)
    val expected = graft.operators.CorpusBuild.qCorpusBuild(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(expected(7L)._1 === expected(8L)._1, "fixture: no non-exact near-dups")
    assert(expected(5L)._3 === 1L, "fixture: exactly the planted doc is safety-blocked")

    val ms = MemoryStream[(Long, String)]
    val docs = ms.toDF().select(col("_1").as("doc_id"), col("_2").as("text"),
      lit("en").as("lang"), lit("src").as("source"))
    val q = Streams.corpusBuild(docs)
      .writeStream.format("memory").queryName("corpus_census").outputMode("update").start()
    try {
      ms.addData(batch1: _*)
      q.processAllAvailable()
      ms.addData(batch2: _*)
      q.processAllAvailable()
      // Update mode appends one refreshed row per trigger; the live
      // (latest) census is the max-d0 row — d0 is cumulative-monotone
      val rows = s.sql("SELECT * FROM corpus_census ORDER BY d0 DESC").collect()
      assert(rows.length === 2, "one cumulative row per micro-batch")
      val c = rows.head
      assert((c.getLong(0), c.getLong(1)) === ((expected(1L)._1, expected(1L)._2)), "ingest")
      assert(c.getLong(2) === expected(2L)._3, "normalize reach")
      assert((c.getLong(3), c.getLong(4)) === ((expected(3L)._1, expected(3L)._2)), "lang_id")
      assert((c.getLong(5), c.getLong(6)) === ((expected(4L)._1, expected(4L)._2)), "quality")
      assert((c.getLong(7), c.getLong(8)) === ((expected(5L)._1, expected(5L)._2)), "safety")
      assert((c.getLong(9), c.getLong(10)) === ((expected(6L)._1, expected(6L)._2)), "repetition")
      assert((c.getLong(11), c.getLong(12)) === ((expected(7L)._1, expected(7L)._2)), "dedup_exact")
    } finally q.stop()
  }

  test("packCounters: cumulative lane census replays the batch packing rule across batches") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    // survivors fed in doc_id order across two batches — the in-order
    // contract under which streaming packing == the batch running sum
    def v(id: Long, lang: String, toks: Long) =
      Streams.CorpusVerdict(id, lang, "src", toks, changed = false,
        alive_lang = true, alive_quality = true, alive_safety = true,
        alive_rep = true, alive_exact = true)
    val dead = Streams.CorpusVerdict(99L, "en", "src", 500L, changed = false,
      alive_lang = true, alive_quality = true, alive_safety = true,
      alive_rep = true, alive_exact = false)
    val batch1 = Seq(v(1L, "en", 100L), v(2L, "en", 200L), v(4L, "en", 120L), dead)
    val batch2 = Seq(v(5L, "en", 90L), v(8L, "en", 300L), v(9L, "de", 50L))
    val ms = MemoryStream[Streams.CorpusVerdict]
    val q = Streams.packCounters(ms.toDS())
      .writeStream.format("memory").queryName("pack_census").outputMode("update").start()
    try {
      ms.addData(batch1: _*)
      q.processAllAvailable()
      ms.addData(batch2: _*)
      q.processAllAvailable()
      val got = s.sql(
        """SELECT lang, lane, max_by(n_docs, n_docs), max_by(n_tokens, n_docs),
          |       max_by(n_packs, n_docs)
          |FROM pack_census GROUP BY lang, lane ORDER BY lang, lane""".stripMargin)
        .collect().map(r => ((r.getString(0), r.getLong(1)),
          (r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
      // driver replay of the batch rule (budget 256, lane = id mod 4)
      // over the alive survivors in doc_id order:
      //   en lane 0: ids 4(120), 8(300) → cum 0,120 → packs {0,0} = 1
      //   en lane 1: ids 1(100), 5(90), 9 is de → cum 0,100 → packs {0} = 1
      //   en lane 2: id 2(200) → pack 0
      //   de lane 1: id 9(50) → pack 0
      assert(got(("en", 0L)) === ((2L, 420L, 1L)))
      assert(got(("en", 1L)) === ((2L, 190L, 1L)))
      assert(got(("en", 2L)) === ((1L, 200L, 1L)))
      assert(got(("de", 1L)) === ((1L, 50L, 1L)))
      assert(!got.contains(("en", 3L)), "the dead survivor (id 99, lane 3) must not pack")
    } finally q.stop()
  }

  test("corpusFilter: a cross-batch duplicate is still marked against the stored survivor") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val ms = MemoryStream[(Long, String)]
    val docs = ms.toDF().select(col("_1").as("doc_id"), col("_2").as("text"))
    val q = Streams.corpusFilter(docs)
      .writeStream.format("memory").queryName("corpus_filter2").outputMode("append").start()
    try {
      ms.addData(10L -> "a perfectly ordinary sentence with enough words here")
      q.processAllAvailable()
      ms.addData(11L -> "A Perfectly  Ordinary sentence WITH enough words here")
      q.processAllAvailable()
      val got = s.sql(
        "SELECT doc_id, reject_reason FROM corpus_filter2 ORDER BY doc_id").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq
      assert(got === Seq(10L -> "ok", 11L -> "duplicate"),
        "dedup state must survive micro-batch boundaries")
    } finally q.stop()
  }

  test("corpusFilter: within one out-of-order batch the MIN doc_id survives") {
    // pins the ADVICE r15 rule (replacing the r9 arrival-order pin):
    // within-group iterator order after the groupByKey exchange is
    // arbitrary on a multi-partition feed, so "first arrival" was
    // nondeterministic there — the survivor for a hash first seen in
    // a batch is now the batch's MIN doc_id regardless of arrival
    // order. Across batches the stored survivor still wins
    // (first-batch-wins stays the documented streaming divergence,
    // pinned by the cross-batch test above).
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val ms = MemoryStream[(Long, String)]
    val docs = ms.toDF().select(col("_1").as("doc_id"), col("_2").as("text"))
    val q = Streams.corpusFilter(docs)
      .writeStream.format("memory").queryName("corpus_filter3").outputMode("append").start()
    try {
      ms.addData(
        42L -> "a perfectly ordinary duplicate sentence with enough words",
        7L  -> "a perfectly ordinary duplicate sentence with enough words")
      q.processAllAvailable()
      val got = s.sql(
        "SELECT doc_id, reject_reason FROM corpus_filter3 ORDER BY doc_id").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq
      assert(got === Seq(7L -> "ok", 42L -> "duplicate"),
        "the batch's min id (7) must survive even though 42 arrived first")
    } finally q.stop()
  }

  /** Spike-verdict parity: the same events through the streaming
    * rateAnomaly (hours arriving in order across micro-batches) and
    * the batch q_rate_anomaly must agree on every closed hour's
    * verdict — same counts, same trailing stats, same spike flag.
    */
  test("rateAnomaly: streamed verdicts match the batch trailing-average rule") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    // one event type, hours 0..9: baseline 2 events/hour, hour 7 bursts to 30
    val perHour = Map(7L -> 30).withDefaultValue(2)
    var eid = 0L
    val events = (0L to 9L).flatMap { h =>
      (1 to perHour(h)).map { _ =>
        eid += 1
        Streams.TEv(1L, eid, h * H + (eid % 50) * 1000, "click")
      }
    }
    // batch twin over the identical rows
    val dir = tempDir("rate")
    events.toDF()
      .select(col("event_id"), timestamp_millis(col("ts_ms")).as("ts"),
        col("user_id"), col("event_type"), lit(1.0).as("value"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val batch = graft.operators.Temporal.qRateAnomaly(spark, dir)
      .filter(col("hour_id") < 9) // the stream can only judge closed hours
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getBoolean(5))).sortBy(_._2)

    val ms = MemoryStream[Streams.TEv]
    val q = Streams.rateAnomaly(ms.toDS())
      .writeStream.format("memory").queryName("spikes").outputMode("append").start()
    try {
      val (early, late) = events.partition(_.ts_ms < 5 * H)
      ms.addData(early: _*)
      q.processAllAvailable()
      ms.addData(late: _*) // hours 5..9 arrive; hour 9 stays open
      q.processAllAvailable()
      val streamed = s.sql(
        """SELECT event_type, hour_id, n, prior_sum, prior_hours, is_spike
          |FROM spikes ORDER BY hour_id""".stripMargin).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getBoolean(5)))
      assert(streamed.toSeq === batch.toSeq,
        "closed-hour spike verdicts must be identical to the batch rule")
      assert(streamed.exists(v => v._2 == 7L && v._6),
        "the planted hour-7 burst must be flagged")
      assert(streamed.count(_._6) === 1, "only the burst hour spikes")
    } finally q.stop()
  }

  test("transitionSteps: step stream matches the batch lag across micro-batches") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val ms = MemoryStream[Streams.TEv]
    val q = Streams.transitionSteps(ms.toDS())
      .writeStream.format("memory").queryName("steps").outputMode("append").start()
    try {
      // user 1: view → click in batch 1, purchase in batch 2 (state
      // must remember "click" across the batch boundary); user 2: one
      // event only.
      ms.addData(
        Streams.TEv(1L, 1L, 1000L, "view"),
        Streams.TEv(1L, 2L, 2000L, "click"),
        Streams.TEv(2L, 3L, 1500L, "view"))
      q.processAllAvailable()
      ms.addData(Streams.TEv(1L, 4L, 3000L, "purchase"))
      q.processAllAvailable()
      val got = s.sql("SELECT user_id, prev_type, next_type FROM steps ORDER BY user_id, ts_ms")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
      assert(got === Seq(
        (1L, "_start", "view"), (1L, "view", "click"), (1L, "click", "purchase"),
        (2L, "_start", "view")))
    } finally q.stop()
  }

  test("funnelStages: latest streamed rows match batch qFunnel across micro-batches") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    // The batch side runs the REAL operator over an events table
    // holding the same rows the stream will see.
    val evRows = Seq(
      (1L, 1L, 1000L, "view"), (1L, 2L, 2000L, "click"),     // batch 1
      (2L, 3L, 1500L, "view"),
      (3L, 4L, 900L, "click"), (3L, 5L, 1000L, "view"),      // click precedes first view → ignored
      (4L, 6L, 800L, "purchase"),                            // purchase with no view → no funnel row
      (1L, 7L, 3000L, "purchase"),                           // batch 2
      (3L, 8L, 1200L, "click"))
    val dir = tempDir("funnel")
    evRows.toDF("user_id", "event_id", "ts_ms", "event_type")
      .select(col("event_id"), col("user_id"),
        timestamp_millis(col("ts_ms")).as("ts"), col("event_type"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val batch = graft.operators.Analytics.qFunnel(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3), r.getInt(4).toLong))
      .sortBy(_._1)

    val ms = MemoryStream[Streams.TEv]
    val q = Streams.funnelStages(ms.toDS())
      .writeStream.format("memory").queryName("funnel").outputMode("append").start()
    try {
      ms.addData(evRows.take(6).map(Streams.TEv.tupled): _*)
      q.processAllAvailable()
      ms.addData(evRows.drop(6).map(Streams.TEv.tupled): _*)
      q.processAllAvailable()
      // the LATEST row per user (stages only advance) is the live table
      val streamed = s.sql(
        """SELECT user_id, first_view_ms, first_click_ms, first_purchase_ms, stage FROM (
          |  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY stage DESC) AS rn
          |  FROM funnel) WHERE rn = 1 ORDER BY user_id""".stripMargin).collect()
        .map(r => (r.getLong(0), r.getLong(1),
          if (r.isNullAt(2)) -1L else r.getLong(2),
          if (r.isNullAt(3)) -1L else r.getLong(3), r.getLong(4)))
      assert(streamed.toSeq === batch.toSeq,
        "latest streamed funnel rows must equal the batch funnel on in-order arrival")
      // the fixture exercises every stage and both ignore rules
      assert(batch.map(_._5).toSet === Set(1L, 2L, 3L))
      assert(!batch.exists(_._1 == 4L), "view-less user must be absent from both")
    } finally q.stop()
  }

  test("funnelStages: a straggler cannot rewind an already-set stage timestamp") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val ms = MemoryStream[Streams.TEv]
    val q = Streams.funnelStages(ms.toDS())
      .writeStream.format("memory").queryName("funnel_late").outputMode("append").start()
    try {
      ms.addData(Streams.TEv(1L, 1L, 5000L, "view"))
      q.processAllAvailable()
      // an EARLIER view arriving later must not rewind first_view_ms
      // (the no-rewind contract; batch would have taken 1000)
      ms.addData(Streams.TEv(1L, 2L, 1000L, "view"))
      q.processAllAvailable()
      val rows = s.sql("SELECT first_view_ms FROM funnel_late").collect().map(_.getLong(0))
      assert(rows.toSeq === Seq(5000L), "one emission; the straggler neither rewinds nor re-emits")
    } finally q.stop()
  }

  test("mediaDedupe: cross-batch identical payloads dedup against the stored survivor") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val dupBody = "the reposted media payload body with enough bytes to matter"
    val ms = MemoryStream[(Long, String)]
    val media = ms.toDS().map { case (id, text) =>
      graft.operators.Multimodal.MediaRow(id, text.getBytes("UTF-8"),
        if (id % 3 == 0) "image/png" else "video/mp4")
    }
    val q = Streams.mediaDedupe(media)
      .writeStream.format("memory").queryName("media_dedupe").outputMode("append").start()
    try {
      ms.addData(1L -> dupBody, 2L -> "an entirely different first payload here")
      q.processAllAvailable()
      ms.addData(3L -> dupBody, 4L -> "another unrelated payload body")
      q.processAllAvailable()
      val got = s.sql("SELECT doc_id, phash_hex, is_dup, survivor_id FROM media_dedupe ORDER BY doc_id")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getBoolean(2), r.getLong(3)))
      assert(got.length === 4)
      val byId = got.map(t => t._1 -> t).toMap
      assert(byId(1L)._2 === byId(3L)._2, "identical payloads → identical streamed fingerprints")
      assert(!byId(1L)._3 && byId(1L)._4 === 1L, "first arrival survives")
      assert(byId(3L)._3 && byId(3L)._4 === 1L,
        "the cross-batch repost must dedup against the STORED survivor")
      assert(!byId(2L)._3 && !byId(4L)._3, "distinct payloads are not dups")
      // fingerprint parity with the batch operator on the same payloads
      val dir = docsDir(Seq(1L -> dupBody, 2L -> "an entirely different first payload here",
        3L -> dupBody, 4L -> "another unrelated payload body"))
      val batch = graft.operators.Multimodal.qPhashDedup(spark, dir).collect()
        .map(r => r.getLong(0) -> (r.getString(2), r.getBoolean(6))).toMap
      got.foreach { case (id, hex, _, _) =>
        assert(batch(id)._1 === hex, s"doc $id: stream and batch fingerprints must match")
      }
      assert(batch(3L)._2, "the batch twin agrees doc 3 is a dup")
    } finally q.stop()
  }

  test("ivfIndexMaintenance: streamed arrivals serve identically to a one-shot build") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    import org.apache.spark.sql.functions.col
    val full = tempDir("sivf-full")
    val incr = tempDir("sivf-incr")
    val ckpt = tempDir("sivf-ckpt")
    graft.operators.Ann.buildIvfIndex(s, sf0001, full)
    graft.operators.Ann.buildIvfIndex(s, sf0001, incr, col("vec_id") % 5 =!= 0)
    val (corpus, _) = graft.operators.Ann.split(s, sf0001)
    val arrivals = corpus.filter(col("vec_id") % 5 === 0).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getDouble(2)))
    val ms = MemoryStream[(Long, Array[Float], Double)]
    // two micro-batches so the append path runs more than once
    ms.addData(arrivals.take(arrivals.length / 2).toSeq)
    ms.addData(arrivals.drop(arrivals.length / 2).toSeq)
    Streams.ivfIndexMaintenance(s,
      ms.toDF().toDF("vec_id", "embedding", "nrm"), incr, ckpt)
    val ref = graft.operators.Ann.ivfServe(s, sf0001, full).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val got = graft.operators.Ann.ivfServe(s, sf0001, incr).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === ref,
      "continuously-maintained index must serve exactly what a rebuild serves")
  }

  test("bpeEncode: streamed docs encode identically to the persisted-model batch path") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    // freeze the model once (the production contract: train offline,
    // encode on the wire)
    val model = tempDir("sbpe") + "/merges"
    graft.operators.TextOps.buildBpeModel(s, sf0001, model)
    val docRows = graft.sources.Ingest.table(s, sf0001, "documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val ms = MemoryStream[(Long, String)]
    val q = Streams.bpeEncode(ms.toDF().toDF("doc_id", "text"), model)
      .writeStream.format("memory").queryName("sbpe").outputMode("append").start()
    try {
      // two micro-batches so the map-only path runs more than once
      ms.addData(docRows.take(docRows.length / 2).toSeq)
      q.processAllAvailable()
      ms.addData(docRows.drop(docRows.length / 2).toSeq)
      q.processAllAvailable()
      val got = s.sql("SELECT * FROM sbpe").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).sortBy(_._1).toSeq
      val ref = graft.operators.TextOps.bpeEncodeWith(s, sf0001, model).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).sortBy(_._1).toSeq
      assert(got === ref,
        "streamed per-doc token counts must equal the batch persisted-model encode")
    } finally q.stop()
  }

  test("unigramEncode: streamed docs encode identically to the session-trained batch path") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val model = tempDir("suni") + "/pieces"
    graft.operators.TextOps.buildUnigramModel(s, sf0001, model)
    val docRows = graft.sources.Ingest.table(s, sf0001, "documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val ms = MemoryStream[(Long, String)]
    val q = Streams.unigramEncode(ms.toDF().toDF("doc_id", "text"), model)
      .writeStream.format("memory").queryName("suni").outputMode("append").start()
    try {
      ms.addData(docRows.take(docRows.length / 2).toSeq)
      q.processAllAvailable()
      ms.addData(docRows.drop(docRows.length / 2).toSeq)
      q.processAllAvailable()
      val got = s.sql("SELECT * FROM suni").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).sortBy(_._1).toSeq
      val ref = graft.operators.TextOps.qUnigramEncode(s, sf0001).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).sortBy(_._1).toSeq
      assert(got === ref,
        "streamed per-doc unigram token counts must equal the batch encode")
    } finally q.stop()
  }

  test("noveltyMaintenance: ordered batches reproduce the corpus novelty rule; replays converge") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val idx = tempDir("nov-idx")
    val out = tempDir("nov-out")
    val ckpt = tempDir("nov-ckpt")
    val docRows = graft.sources.Ingest.table(s, sf0001, "documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val (h1, h2) = docRows.splitAt(docRows.length / 2)
    // two AvailableNow runs off one checkpoint → deterministic batch
    // ids 0 and 1 (also the restart story: run 2 resumes and sees
    // only the new arrivals)
    val ms = MemoryStream[(Long, String)]
    ms.addData(h1.toSeq)
    Streams.noveltyMaintenance(ms.toDF().toDF("doc_id", "text"), idx, out, ckpt)
    ms.addData(h2.toSeq)
    Streams.noveltyMaintenance(ms.toDF().toDF("doc_id", "text"), idx, out, ckpt)
    val shape = (r: org.apache.spark.sql.Row) =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    val got = s.read.parquet(out).collect().map(shape).sortBy(_._1).toSeq
    // reference: the whole corpus as ONE batch against an empty seen
    // set — the batch-local first rule then IS the corpus first rule
    val emptySeen = s.range(0).selectExpr("CAST(NULL AS BINARY) AS h")
    val (refDf, _) = graft.operators.TextOps.noveltyBatch(
      docRows.toSeq.toDF("doc_id", "text"), emptySeen)
    val ref = refDf.collect().map(shape).sortBy(_._1).toSeq
    assert(got === ref,
      "ordered streaming must reproduce the corpus-wide first-seen verdicts")
    // and those verdicts must roll up to the batch curve exactly
    val curve = graft.operators.TextOps.qNoveltyCurve(s, sf0001).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val bw = got.map(_._1).max / 20L + 1L
    val rolled = got.groupBy(_._1 / bw)
      .map { case (b, rs) => b -> (rs.map(_._2).sum, rs.map(_._3).sum) }
    assert(rolled === curve, "streamed per-doc scores must roll up to q_novelty_curve")
    // resident branch: an index built over the first half, then the
    // second half streamed as one batch, scores exactly as batch 1 did
    val seededIdx = tempDir("nov-seeded-idx")
    val seededOut = tempDir("nov-seeded-out")
    graft.operators.TextOps.buildNoveltyIndex(s, docsDir(h1.toSeq), seededIdx)
    val ms2 = MemoryStream[(Long, String)]
    ms2.addData(h2.toSeq)
    Streams.noveltyMaintenance(ms2.toDF().toDF("doc_id", "text"), seededIdx, seededOut,
      tempDir("nov-seeded-ckpt"))
    val batch1 = s.read.parquet(s"$out/batch=1").collect().map(shape).sortBy(_._1).toSeq
    val (alone, _) = graft.operators.TextOps.noveltyBatch(h2.toSeq.toDF("doc_id", "text"), emptySeen)
    assert(alone.collect().map(shape).sortBy(_._1).toSeq !== batch1,
      "the second half must repeat windows of the first, or the seen set goes untested")
    assert(s.read.parquet(seededOut).collect().map(shape).sortBy(_._1).toSeq === batch1,
      "a resident index over the first half must score the second half as batch 1 did")
    // replay convergence: batch 0 rescored against the same seen set
    // (its own index dir excluded) rewrites identical rows
    val before = s.read.parquet(s"$out/batch=0").collect().map(shape).sortBy(_._1).toSeq
    val (replay, _) = graft.operators.TextOps.noveltyBatch(
      h1.toSeq.toDF("doc_id", "text"), emptySeen)
    replay.write.mode("overwrite").parquet(s"$out/batch=0")
    val after = s.read.parquet(s"$out/batch=0").collect().map(shape).sortBy(_._1).toSeq
    assert(after === before, "a replayed micro-batch must rewrite identical scores")
  }

  test("lmScore: streamed docs score identically to the batch serve; replays converge") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val model = tempDir("slm") + "/model"
    val out = tempDir("slm-out")
    val ckpt = tempDir("slm-ckpt")
    graft.operators.TextOps.buildLmModel(s, sf0001, model)
    val docRows = graft.sources.Ingest.table(s, sf0001, "documents")
      .select("doc_id", "lang", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val ms = MemoryStream[(Long, String, String)]
    // two micro-batches so the foreachBatch path runs more than once
    ms.addData(docRows.take(docRows.length / 2).toSeq)
    ms.addData(docRows.drop(docRows.length / 2).toSeq)
    Streams.lmScore(ms.toDF().toDF("doc_id", "lang", "text"), model, out, ckpt)
    val shape = (r: org.apache.spark.sql.Row) =>
      (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6))
    val got = s.read.parquet(out)
      .select("doc_id", "lang", "n_bigrams", "oov_bigrams", "sum_bits",
        "bpb_ppm", "ppl_band")
      .collect().map(shape).sortBy(_._1).toSeq
    val ref = graft.operators.TextOps.lmScoreWith(s, sf0001, model)
      .collect().map(shape).sortBy(_._1).toSeq
    assert(got === ref,
      "streamed per-doc scores must equal the batch persisted-model serve")
    // replay convergence: rewriting the first batch directory with the
    // same rows (the crash-replay case foreachBatch exposes) is a no-op
    val firstDir = new java.io.File(out).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("batch=")).map(_.getName).min
    val firstIds = s.read.parquet(s"$out/$firstDir")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val firstRows = docRows.filter(t => firstIds(t._1)).toSeq
    graft.operators.TextOps.lmScoreDocs(
      firstRows.toDF("doc_id", "lang", "text"), s.read.parquet(model))
      .write.mode("overwrite").parquet(s"$out/$firstDir")
    val again = s.read.parquet(out).collect().length
    assert(again === got.length, "a replayed micro-batch must not duplicate rows")
  }

  test("dsirScore: streamed docs score identically to the batch persisted-model serve") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val model = tempDir("sdsir") + "/model"
    val out = tempDir("sdsir-out")
    val ckpt = tempDir("sdsir-ckpt")
    graft.operators.TextOps.buildDsirModel(s, sf0001, model)
    val docRows = graft.sources.Ingest.table(s, sf0001, "documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val ms = MemoryStream[(Long, String)]
    ms.addData(docRows.take(docRows.length / 2).toSeq)
    ms.addData(docRows.drop(docRows.length / 2).toSeq)
    Streams.dsirScore(ms.toDF().toDF("doc_id", "text"), model, out, ckpt)
    val shape = (r: org.apache.spark.sql.Row) =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
    val got = s.read.parquet(out)
      .select("doc_id", "n_feats", "sum_bits", "slr_ppm", "dsir_band")
      .collect().map(shape).sortBy(_._1).toSeq
    val ref = graft.operators.TextOps.dsirScoreWith(s, sf0001, model)
      .select("doc_id", "n_feats", "sum_bits", "slr_ppm", "dsir_band")
      .collect().map(shape).sortBy(_._1).toSeq
    assert(got === ref,
      "streamed DSIR scores must equal the batch persisted-model serve")
  }

  test("perceptronScore: streamed docs score identically to the batch serve") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val model = tempDir("sperc") + "/model"
    val out = tempDir("sperc-out")
    val ckpt = tempDir("sperc-ckpt")
    graft.operators.TextOps.buildPerceptronModel(s, sf0001, model)
    val docRows = graft.sources.Ingest.table(s, sf0001, "documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val ms = MemoryStream[(Long, String)]
    ms.addData(docRows.take(docRows.length / 2).toSeq)
    ms.addData(docRows.drop(docRows.length / 2).toSeq)
    Streams.perceptronScore(ms.toDF().toDF("doc_id", "text"), model, out, ckpt)
    val shape = (r: org.apache.spark.sql.Row) => (r.getLong(0), r.getLong(1), r.getBoolean(2))
    val got = s.read.parquet(out).select("doc_id", "margin", "pred_en")
      .collect().map(shape).sortBy(_._1).toSeq
    val ref = graft.operators.TextOps.perceptronScoreWith(s, sf0001, model)
      .select("doc_id", "margin", "pred_en")
      .collect().map(shape).sortBy(_._1).toSeq
    assert(got === ref, "streamed classifier scores must equal the batch serve")
  }

  test("streamed scorers: no micro-batch runs a schema-inference job; the perceptron reads its model once") {
    import org.apache.spark.JobsOf
    import org.apache.spark.sql.DataFrame
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val sc = s.sparkContext
    // per job: its micro-batch (None outside the stream) and the
    // operator scopes of the RDDs it runs
    type Job = (Option[String], Seq[String])
    val batchOf = """(?s).*\bbatch = (\d+).*""".r
    def jobsOf(body: => Unit): Seq[Job] = JobsOf(sc)(body).map { e =>
      (Option(e.properties.getProperty("spark.job.description")).collect { case batchOf(n) => n },
        e.stageInfos.flatMap(_.rddInfos.flatMap(_.scope.map(_.name))))
    }
    val docRows = graft.sources.Ingest.table(s, sf0001, "documents")
      .select("doc_id", "lang", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    // two runs off one checkpoint: two micro-batches
    def streamed(run: (DataFrame, String, String) => Unit): Seq[Job] = {
      val (out, ckpt) = (tempDir("model-jobs-out"), tempDir("model-jobs-ckpt"))
      val ms = MemoryStream[(Long, String, String)]
      val arrivals = ms.toDF().toDF("doc_id", "lang", "text")
      docRows.grouped(docRows.length / 2).flatMap { half =>
        ms.addData(half)
        jobsOf(run(arrivals, out, ckpt))
      }.toSeq
    }
    val Seq(lm, dsir, perc) =
      Seq("lm", "dsir", "perceptron").map(t => tempDir(s"model-jobs-$t") + "/m")
    graft.operators.TextOps.buildLmModel(s, sf0001, lm)
    graft.operators.TextOps.buildDsirModel(s, sf0001, dsir)
    graft.operators.TextOps.buildPerceptronModel(s, sf0001, perc)
    for ((name, run) <- Seq[(String, (DataFrame, String, String) => Unit)](
        "lmScore" -> (Streams.lmScore(_, lm, _, _)),
        "dsirScore" -> ((a, o, c) => Streams.dsirScore(a.drop("lang"), dsir, o, c)),
        "perceptronScore" -> ((a, o, c) => Streams.perceptronScore(a.drop("lang"), perc, o, c)))) {
      val js = streamed(run)
      val inBatch = js.filter(_._1.nonEmpty)
      info(s"$name: ${js.size} jobs, ${inBatch.size} of them in micro-batches " +
        inBatch.flatMap(_._1).distinct.mkString(", "))
      assert(inBatch.flatMap(_._1).distinct.size == 2,
        s"$name: fixture must run two micro-batches")
      // Spark infers a parquet schema by reading footers in a job of
      // its own, a bare `parallelize` outside any SQL operator (the
      // stream reads its arrivals through `MicroBatchScan`)
      assert(!js.exists(_._2.contains("parallelize")),
        s"$name read its model with schema inference: ${js.mkString("\n")}")
      // the weights are collected once per run, before the stream
      // starts; no micro-batch scans the model
      if (name == "perceptronScore")
        assert(!inBatch.exists(_._2.exists(_.startsWith("Scan parquet"))),
          s"$name: a micro-batch read the model: ${inBatch.mkString("\n")}")
    }
  }

  test("transitionSteps: a cross-batch straggler cannot rewind the sequence state") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val ms = MemoryStream[Streams.TEv]
    val q = Streams.transitionSteps(ms.toDS())
      .writeStream.format("memory").queryName("steps2").outputMode("append").start()
    try {
      ms.addData(Streams.TEv(7L, 2L, 5000L, "click"))
      q.processAllAvailable()
      // straggler from BEFORE the click arrives a batch late: it is
      // sequenced after (prev = click) but must NOT become the state —
      // the next in-order event still chains off the click.
      ms.addData(Streams.TEv(7L, 1L, 1000L, "view"))
      q.processAllAvailable()
      ms.addData(Streams.TEv(7L, 3L, 9000L, "purchase"))
      q.processAllAvailable()
      // ts_ms order puts the straggler (ts 1000) first; what matters is
      // its prev is the CLICK (sequenced after), and the later purchase
      // still chains off the click, not the straggler view
      val got = s.sql("SELECT prev_type, next_type FROM steps2 ORDER BY ts_ms")
        .collect().map(r => (r.getString(0), r.getString(1))).toSeq
      assert(got === Seq(("click", "view"), ("_start", "click"), ("click", "purchase")))
    } finally q.stop()
  }

  test("corpusIncrements: streamed near-dedup tier matches corpusUpsert batch by batch") {
    // VERDICT r16 #3 parity pin: the same two increments through (a)
    // the batch corpusUpsert against a published corpus and (b) the
    // streaming foreachBatch tier against an identically-published
    // twin must agree on every accepted doc — including the
    // cross-batch case where batch 2 plants a near-dup of a batch-1
    // SURVIVOR, which only dedups if the tier really appends accepted
    // signatures to the index between micro-batches.
    import graft.operators.CorpusBuild
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext

    def publish(tag: String): String = {
      val out = tempDir(s"stream-near-$tag") + "/corpus"
      CorpusBuild.corpusWrite(spark, sf0001, out)
      out
    }
    val outBatch = publish("batch")
    val outStream = publish("stream")

    val shards = spark.read.parquet(s"$outBatch/shards.parquet")
      .select("doc_id", "lang", "toks", "text").collect()
    val maxId = shards.map(_.getLong(0)).max
    val base = shards.maxBy(r => (r.getLong(2), -r.getLong(0)))
    val base2 = shards.filter(_.getLong(0) != base.getLong(0))
      .maxBy(r => (r.getLong(2), -r.getLong(0))) // second survivor: batch-2 novel donor
    val (lang, baseText) = (base.getString(1), base.getString(3))
    val reversed = baseText.split(" ").reverse.mkString(" ")
    val nearOfCorpus = ("zzzqx" +: baseText.split(" ").drop(1)).mkString(" ")
    val nearOfB1 = ("qqxzz" +: reversed.split(" ").drop(1)).mkString(" ")
    val b1 = Seq(
      (maxId + 1001L, "src_s", lang, reversed),     // novel -> survives
      (maxId + 1002L, "src_s", lang, baseText),     // verbatim corpus copy -> md5 probe
      (maxId + 1003L, "src_s", lang, nearOfCorpus), // near-dup of corpus -> index serve
      (maxId + 1004L, "src_s", lang, reversed))     // within-batch exact twin -> first-wins
    val b2 = Seq(
      (maxId + 2001L, "src_s", lang, nearOfB1),     // near-dup of the b1 SURVIVOR -> appended index
      (maxId + 2002L, "src_s", lang, reversed),     // verbatim copy of the b1 survivor -> appended md5
      (maxId + 2003L, "src_s", base2.getString(1),
        base2.getString(3).split(" ").reverse.mkString(" "))) // novel -> survives

    // batch side: two upserts; accepted = new rows in the shards
    CorpusBuild.corpusUpsert(spark, outBatch, b1.toDF("doc_id", "source", "lang", "text"))
    CorpusBuild.corpusUpsert(spark, outBatch, b2.toDF("doc_id", "source", "lang", "text"))
    val upsertAccepted = spark.read.parquet(s"$outBatch/shards.parquet")
      .filter(col("doc_id") > maxId).select("doc_id").collect()
      .map(_.getLong(0)).toSet
    assert(upsertAccepted === Set(maxId + 1001L, maxId + 2003L),
      "fixture sanity: exactly the two novel docs survive the batch upserts")

    // stream side: bootstrap the index with an empty upsert, then
    // drive the same increments as two micro-batches
    val idx = s"$outStream/index"
    CorpusBuild.corpusUpsert(spark, outStream,
      Seq.empty[(Long, String, String, String)].toDF("doc_id", "source", "lang", "text"))
    val perBatch = scala.collection.mutable.Map.empty[Long, Seq[(Long, Boolean, Boolean, Boolean)]]
    val ms = MemoryStream[(Long, String, String, String)]
    val docs = ms.toDF().select(col("_1").as("doc_id"), col("_2").as("source"),
      col("_3").as("lang"), col("_4").as("text"))
    val q = Streams.corpusIncrements(docs, idx) { (verdicts, batchId) =>
      perBatch(batchId) = verdicts
        .select("doc_id", "alive_rules", "alive_exact", "alive_near").collect()
        .map(r => (r.getLong(0), r.getBoolean(1), r.getBoolean(2), r.getBoolean(3))).toSeq
    }
    try {
      ms.addData(b1: _*); q.processAllAvailable()
      ms.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()

    assert(perBatch.keySet === Set(0L, 1L), "one verdict set per micro-batch")
    val v = perBatch.values.flatten.map(t => t._1 -> t).toMap
    val streamAccepted = v.collect { case (id, (_, _, _, true)) => id }.toSet
    assert(streamAccepted === upsertAccepted,
      "streamed accepted set must equal the batch upserts' accepted set")
    // per-stage attribution of every planted drop
    assert(v(maxId + 1002L)._3 === false && v(maxId + 1002L)._2,
      "verbatim corpus copy dies at the exact (md5 probe) tier")
    assert(v(maxId + 1004L)._3 === false,
      "within-batch exact twin dies at first-wins")
    assert(v(maxId + 1003L)._3 && v(maxId + 1003L)._4 === false,
      "near-dup of the corpus passes exact, dies at the index serve")
    assert(v(maxId + 2001L)._3 && v(maxId + 2001L)._4 === false,
      "near-dup of the batch-1 survivor dies ONLY if the tier appended its signatures")
    assert(v(maxId + 2002L)._3 === false,
      "verbatim copy of the batch-1 survivor dies at the appended md5 tier")
  }

  test("kmvReach: folded sketch state equals the batch sketch; re-delivery is a no-op") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val k = 8 // small K so the estimator path (not the exact path) is exercised
    val ms = MemoryStream[Streams.TEv]
    val q = Streams.kmvReach(ms.toDS(), k)
      .writeStream.format("memory").queryName("kmv").outputMode("update").start()
    try {
      ms.addData((1L to 20L).map(u => Streams.TEv(u, u, 1000L + u, "click")): _*)
      q.processAllAvailable()
      // second batch: 10 NEW users + 5 re-delivered ones (idempotent)
      ms.addData(((21L to 30L) ++ (1L to 5L)).map(u =>
        Streams.TEv(u, 100L + u, 2000L + u, "click")): _*)
      q.processAllAvailable()
      val rows = s.sql("SELECT n_sketch, est_distinct FROM kmv").collect()
        .map(r => (r.getInt(0), r.getLong(1)))
      // driver replay of the SAME rules over the full 30-user set
      val all = (1L to 30L).map(u => graft.functions.BloomHashing.mix(u) >>> 1)
        .distinct.sorted.take(k)
      val expEst = math.floor((k - 1).toDouble * 9223372036854775807L.toDouble
        / all(k - 1).toDouble).toLong
      assert(rows.last === ((k, expEst)),
        s"drained state must equal the batch-computed sketch, got ${rows.toSeq}")
      // estimator sanity on 30 true distincts at K=8 (huge variance
      // bounds, but the DETERMINISTIC value is pinned above)
      assert(rows.last._2 > 0L)
      // the re-delivered users must not move the sketch: fold a third
      // batch of ONLY re-deliveries and require an identical census
      ms.addData((1L to 20L).map(u => Streams.TEv(u, 200L + u, 3000L + u, "click")): _*)
      q.processAllAvailable()
      val after = s.sql("SELECT n_sketch, est_distinct FROM kmv").collect()
        .map(r => (r.getInt(0), r.getLong(1)))
      assert(after.last === rows.last, "re-delivery must be a sketch no-op")
    } finally q.stop()
  }
}
