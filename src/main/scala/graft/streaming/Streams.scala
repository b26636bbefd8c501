package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.operators.TextOps
import graft.plans.Publish

/** Structured Streaming twins of the batch event-time operators
  * (SURVEY.md §2 non-query components; the reference is a *scheduled
  * incremental* pipeline — ref dags/ELT.py:365 `schedule_interval` —
  * re-expressed as continuous streams).
  *
  * Both jobs are partitioned on their natural keys (window/event_type,
  * user_id), so at scale the state store shards across executors with
  * no global stage. Watermarks bound state size.
  */
object Streams {

  /** One event on the wire. `ts_ms` is epoch millis (see SURVEY §4). */
  case class Ev(user_id: Long, event_id: Long, ts_ms: Long, value: Double)

  /** Ev plus its materialized event-time column — the watermark must
    * ride WITH the rows into groupByKey, or the event-time timeout
    * check rejects the plan.
    */
  case class EvW(user_id: Long, event_id: Long, ts_ms: Long,
                 value: Double, ts: java.sql.Timestamp)

  /** Emitted gap session — same shape as the batch `q_sessionize`. */
  case class Session(user_id: Long, session_id: Long, n_events: Long,
                     session_start_ms: Long, session_end_ms: Long, session_value: Double)

  /** Per-user sessionizer state: the open session + the running id. */
  case class SessState(sessionId: Long, startMs: Long, endMs: Long,
                       nEvents: Long, value: Double)

  val GapMs: Long = 30 * 60 * 1000L

  /** One typed event for transition tracking. */
  case class TEv(user_id: Long, event_id: Long, ts_ms: Long, event_type: String)

  /** One emitted funnel step: what this user did next. */
  case class Step(user_id: Long, ts_ms: Long, prev_type: String, next_type: String)

  /** Per-user transition state: the last event seen, with its sort key
    * so late stragglers cannot rewind the sequence.
    */
  case class TransState(lastType: String, lastTs: Long, lastId: Long)

  /** Watermarked tumbling-window counts — the streaming twin of
    * `Temporal.qStreamTumbling` (1-hour windows per event_type).
    * Input needs columns (ts: timestamp, event_type, value).
    */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
           sum(col("value").cast("decimal(12,2)")).cast("double").as("total_value"))
      .select(
        unix_millis(col("window.start")).as("window_start_ms"),
        col("event_type"), col("n_events"), col("total_value"))

  /** Watermarked sliding-window counts — the streaming twin of
    * `Temporal.qStreamSliding` (1-hour windows every 30 minutes).
    * Same state story as tumbling: the 1→2 window expansion happens
    * before the partial aggregate, and the watermark evicts windows
    * whose end has passed — state holds at most
    * (horizon/slide + size/slide) windows per event_type.
    */
  def slidingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
           sum(col("value").cast("decimal(12,2)")).cast("double").as("total_value"))
      .select(
        unix_millis(col("window.start")).as("window_start_ms"),
        col("event_type"), col("n_events"), col("total_value"))

  /** Watermarked tumbling-window DISTINCT-USER reach via the HLL++
    * sketch — the streaming face of the re-aggregatable-sketch
    * contract (`q_hll_union` is the batch rollup): exact streaming
    * distinct would hold every user id per open window in the state
    * store (unbounded at 100 TB); the sketch holds ~KB per (window,
    * type) regardless of traffic, and rsd=0.01 keeps the estimate
    * inside 5% gates with ≥5σ margin. Input needs (ts: timestamp,
    * event_type, user_id).
    */
  def tumblingUsers(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(approx_count_distinct(col("user_id"), rsd = 0.01).as("n_users_est"))
      .select(
        unix_millis(col("window.start")).as("window_start_ms"),
        col("event_type"), col("n_users_est"))

  /** Watermarked TRAILING-7-DAY distinct-user reach — the streaming
    * face of `ScaleOps.qSlidingReach`'s production contract: each
    * event fans out to the ≤7 one-day-slide windows it
    * serves (a bounded Expand BEFORE the partial aggregate — the
    * `window(size=7d, slide=1d)` assignment, never a range join) and
    * per-(window, type) HLL++ sketch state merges the fan-out, ~KB
    * per open window regardless of traffic. `day_start_ms` is the
    * target day each emitted window trails: window end − 1 day, the
    * same key as the batch row's `day × 86400000`. The watermark
    * evicts windows whose end has passed; state holds at most
    * (horizon/slide + 7) windows per event_type.
    */
  def slidingUsers(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 days")
      .groupBy(window(col("ts"), "7 days", "1 day"), col("event_type"))
      .agg(approx_count_distinct(col("user_id"), rsd = 0.01).as("n_users_est"))
      .select(
        (unix_millis(col("window.end")) - lit(86400000L)).as("day_start_ms"),
        col("event_type"), col("n_users_est"))

  /** Idempotent PUBLISH of streaming window aggregates: the
    * [[tumblingCounts]] stream lands in a parquet dataset partitioned
    * by window start, written through `foreachBatch` with DYNAMIC
    * partition overwrite — each micro-batch rewrites exactly the
    * window partitions it changed and touches nothing else. That
    * makes the published dataset correct under at-least-once
    * micro-batch replays (a replayed batch overwrites its windows
    * with identical content instead of appending duplicates) — the
    * exactly-once story for AGGREGATES, sibling of
    * [[incrementalIngest]]'s exactly-once for row-level transforms.
    * Update output mode keeps per-batch work proportional to CHANGED
    * windows, not window history; the watermark bounds both the state
    * and how far back a partition can still be rewritten.
    */
  def publishWindows(events: DataFrame, destDir: String, checkpointDir: String): Unit =
    runAvailable(tumblingCounts(events), checkpointDir, OutputMode.Update()) { (df, _) =>
      df.withColumn("wpart", col("window_start_ms"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("wpart")
        .parquet(destDir)
    }

  /** Run `stream` over everything available now (`Trigger.AvailableNow`)
    * under `checkpointDir`, handing each micro-batch and its id to
    * `each`, and return when it has drained. */
  private def runAvailable(stream: DataFrame, checkpointDir: String,
      mode: OutputMode = OutputMode.Append())(each: (DataFrame, Long) => Unit): Unit =
    stream.writeStream
      .outputMode(mode)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch((batch: Dataset[Row], id: Long) => each(batch, id))
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()

  /** The sink of the streamed model scorers: micro-batch N of
    * `arrivals`, scored by `score`, OVERWRITES `outPath/batch=N`. The
    * directory derives from the batch id alone, so a crash-replayed
    * micro-batch rewrites it and the output converges to exactly-once
    * contents. */
  private def scoreBatches(arrivals: DataFrame, outPath: String, checkpointDir: String)(
      score: DataFrame => DataFrame): Unit =
    runAvailable(arrivals, checkpointDir) { (batch, id) =>
      score(batch).write.mode("overwrite").parquet(s"$outPath/batch=$id")
    }

  /** Streaming exact dedup — the continuous twin of the batch
    * `Dedup.qDedupExact`: documents arriving on a stream are deduped
    * on their normalized-content hash with
    * `dropDuplicatesWithinWatermark`, so the dedup state store holds
    * only the watermark horizon (bounded memory at any corpus size).
    * Input needs (doc_id, text, ts: timestamp).
    */
  def dedupe(docs: DataFrame, horizon: String = "1 hour"): DataFrame =
    docs
      .withWatermark("ts", horizon)
      .withColumn("content_md5", graft.operators.Dedup.contentMd5(col("text")))
      .dropDuplicatesWithinWatermark("content_md5")

  /** Streaming prefix dedup — the continuous twin of the batch
    * `Dedup.qPrefixDedup` (boilerplate-family screen): same shared
    * normalized leading-window key ([[graft.operators.Dedup.prefixMd5]]
    * — the twins contract), same bounded-state watermarked machinery
    * as [[dedupe]]. First arrival of a prefix family passes; later
    * family members inside the horizon drop.
    */
  def prefixDedupe(docs: DataFrame, horizon: String = "1 hour"): DataFrame =
    docs
      .withWatermark("ts", horizon)
      .withColumn("prefix_md5", graft.operators.Dedup.prefixMd5(col("text")))
      .dropDuplicatesWithinWatermark("prefix_md5")

  /** Scheduled-incremental file ingest — the closest Spark shape to
    * the reference's `schedule_interval` pipeline (ref dags/ELT.py:365:
    * re-download + re-load on a timer): a file-source stream with
    * `Trigger.AvailableNow` processes exactly the files that arrived
    * since the last run, applies the transform, appends to the sink,
    * and stops. The checkpoint makes successive invocations
    * EXACTLY-ONCE over files — a re-run never reprocesses an already
    * committed file, a crash mid-batch replays it idempotently (sink
    * commit log), and a file re-delivered with the same path is
    * ignored. That is the contract the reference approximates with
    * `DROP TABLE` + full reload, done incrementally.
    *
    * Scale: the source lists only NEW files per run (maxFilesPerTrigger
    * governs batch size under backlog); the transform runs as a normal
    * micro-batch plan, so everything the batch operators guarantee
    * (pushdown, broadcast, partial aggregation) applies per increment.
    *
    * Contract: `transform` must be ROW-LEVEL (project/filter/join-to-
    * static) — this sink runs Append mode, so an aggregation here
    * would need its own watermark + output-mode design (use
    * [[tumblingCounts]]-style jobs for that); Spark rejects the plan
    * rather than emitting wrong results.
    */
  def incrementalIngest(
      spark: SparkSession,
      srcDir: String,
      schema: StructType,
      transform: DataFrame => DataFrame,
      destDir: String,
      checkpointDir: String): Unit = {
    val q = transform(spark.readStream.schema(schema).parquet(srcDir))
      .writeStream
      .format("parquet")
      .option("path", destDir)
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Streaming ANN index maintenance: embedding arrivals on the wire
    * are assigned to their nearest frozen-codebook cell and published
    * beside the served IVF index, one `foreachBatch(Ann.ivfUpsertBatch)`
    * per micro-batch. The assignment is map-only (the codebook ships
    * inside the expression — no join, no state store, no corpus
    * reshuffle), so serving keeps its partition-pruning discount as
    * the corpus grows.
    *
    * Exactly-once: foreachBatch BYPASSES the streaming file sink's
    * commit log, so a crash between a sink write and the checkpoint
    * offset commit replays the micro-batch on restart. Each micro-batch
    * is published as streamed batch `batchId` (`plans.Publish`), so the
    * replay republishes the same batch and the index converges to
    * exactly-once contents. Recall decay under distribution drift is
    * the monitored retrain trigger; a retrain retires the batches.
    * Arrivals must carry the index row shape (vec_id, embedding, nrm).
    */
  def ivfIndexMaintenance(
      spark: SparkSession,
      arrivals: DataFrame,
      indexPath: String,
      checkpointDir: String): Unit =
    runAvailable(arrivals, checkpointDir) { (batch, batchId) =>
      graft.operators.Ann.ivfUpsertBatch(batch.sparkSession, indexPath, batch, batchId)
    }

  /** Streaming tokenizer encode — the streaming twin of
    * `TextOps.bpeEncodeWith`: documents arriving on
    * the wire are encoded against a persisted `buildBpeModel` merge
    * table. The frozen model (R merge rows, read once on the driver)
    * ships as literals inside the fold expressions
    * (`TextOps.bpeEncodeMapOnly`), so the whole encode is one
    * STATELESS projection per micro-batch — no state store, no join,
    * no shuffle, the [[corpusFilter]]-style pure-transform shape —
    * and it scales with the stream alone. Input needs
    * (doc_id, text); output is the batch row shape
    * (doc_id, n_words, n_tokens, tokens_per_word_bp), emitted in the
    * arrival micro-batch. Retraining ships a new model path; the
    * encode job restarts on it (model changes mid-stream are a
    * tokenizer-versioning event, not a hot swap).
    */
  def bpeEncode(docs: DataFrame, modelPath: String): DataFrame =
    TextOps.bpeEncodeMapOnly(docs, TextOps.readBpeModel(docs.sparkSession, modelPath))

  /** Streaming unigram-tokenizer encode — [[bpeEncode]]'s twin for the
    * shelf's second tokenizer: arrivals encode
    * against a persisted `TextOps.buildUnigramModel` piece table, the
    * frozen pieces shipped as literals inside the greedy-match fold
    * (`TextOps.uniEncodeMapOnly`) — one STATELESS projection per
    * micro-batch, no state store, no join, no shuffle. Output is the
    * batch row shape (doc_id, n_words, n_tokens, tokens_per_word_bp);
    * StreamsSpec pins row-for-row parity with the batch encode.
    */
  def unigramEncode(docs: DataFrame, modelPath: String): DataFrame =
    TextOps.uniEncodeMapOnly(docs, TextOps.readUnigramModel(docs.sparkSession, modelPath))

  /** Continuous novelty monitoring — the streaming twin of
    * `TextOps.qNoveltyCurve`: arriving documents are scored for the
    * share of window hashes never seen before (resident index + all
    * PRIOR micro-batches), and their own new hashes extend the index.
    * This is the live data-exhaustion dial: when arriving batches'
    * novelty_ppm decays toward zero, the feed has stopped paying for
    * itself.
    *
    * State lives in parquet, not a state store: the seen set for
    * batch N is the `resident.parquet` table of `indexPath` (recovered
    * first: `TextOps.buildNoveltyIndex` publishes the root) and of its
    * committed streamed batches M < N (`plans.Publish.batches`) —
    * batch N's OWN hashes are deliberately EXCLUDED, so a crash-replayed
    * batch scores against exactly the same seen set and rewrites
    * identical output. Scores OVERWRITE `outPath/batch=N`; the new
    * hashes are published as streamed batch N of `indexPath`, in the
    * same table.
    *
    * Streamed in ingestion order, per-doc verdicts are IDENTICAL to
    * the batch rule (a hash's corpus-first carrier precedes every
    * other carrier, so batch-local-first = corpus-first) — StreamsSpec
    * pins one-batch and two-batch parity.
    */
  def noveltyMaintenance(
      arrivals: DataFrame,
      indexPath: String,
      outPath: String,
      checkpointDir: String): Unit =
    runAvailable(arrivals, checkpointDir) { (batch, batchId) =>
      val s = batch.sparkSession
      Publish.recover(s, indexPath)
      val prior = Publish.batches(s, indexPath).collect { case (id, p) if id < batchId => p }
      val resident = new org.apache.hadoop.fs.Path(s"$indexPath/resident.parquet")
      val hasResident =
        resident.getFileSystem(s.sparkContext.hadoopConfiguration).exists(resident)
      // the seen set needs only `h`
      val seen = Publish.readRoots(s, (if (hasResident) Seq(indexPath) else Nil) ++ prior,
        "resident.parquet", "h BINARY")
      val (perDoc, newHashes) = TextOps.noveltyBatch(batch, seen)
      perDoc.write.mode("overwrite").parquet(s"$outPath/batch=$batchId")
      Publish(s, Publish.batchOf(indexPath, batchId)) { tmp =>
        newHashes.write.parquet(s"$tmp/resident.parquet")
      }
    }

  /** Streaming perplexity scoring — the streaming twin of
    * `TextOps.lmScoreWith`: documents arriving on the wire are scored
    * against a persisted `buildLmModel` bigram table. The model is
    * vocab²-bounded (too big for expression literals, unlike the BPE
    * merge fold), so each micro-batch runs the BATCH scorer — one
    * stream-static left join + a batch-local per-doc rollup, valid
    * because a document arrives WHOLE in one row: its bigrams never
    * span micro-batches, so no state store and no watermark are
    * needed. Each micro-batch reads the model afresh under its
    * declared layout (`TextOps.readLmModel`: no footer job), and its
    * scores land in [[scoreBatches]]' replay-safe `batch=N` directory.
    * Re-training ships a new model path; the scoring job restarts on it
    * (mid-stream model swaps are a versioning event).
    */
  def lmScore(
      arrivals: DataFrame,
      modelPath: String,
      outPath: String,
      checkpointDir: String): Unit =
    scoreBatches(arrivals, outPath, checkpointDir) { batch =>
      TextOps.lmScoreDocs(batch, TextOps.readLmModel(batch.sparkSession, modelPath))
    }

  /** Streaming classifier scoring — the twin of
    * `TextOps.perceptronScoreWith`: arriving docs (doc_id, text)
    * score against a frozen `buildPerceptronModel` 1-row weight
    * table, read once when the stream is defined. Per batch: map-only
    * integer margins with the three weights as literals — stateless,
    * no model job, the [[scoreBatches]] replay contract.
    */
  def perceptronScore(
      arrivals: DataFrame,
      modelPath: String,
      outPath: String,
      checkpointDir: String): Unit = {
    val w = TextOps.readPerceptronModel(arrivals.sparkSession, modelPath)
    scoreBatches(arrivals, outPath, checkpointDir)(TextOps.perceptronScoreDocs(_, w))
  }

  /** Streaming DSIR importance scoring — the twin of
    * `TextOps.dsirScoreWith`: arriving docs (doc_id, text) score
    * against a frozen `buildDsirModel` table (≤4097 rows — the
    * bucket table plus the `f IS NULL` default row), read per batch
    * by `TextOps.readDsirModel`. Per batch this is one Generate + a
    * broadcast model join + a map-side-combined per-doc rollup —
    * stateless between batches (the model carries all the state), so
    * the stage scales with the stream alone, the `lmScore` pattern and
    * its [[scoreBatches]] replay contract.
    */
  def dsirScore(
      arrivals: DataFrame,
      modelPath: String,
      outPath: String,
      checkpointDir: String): Unit =
    scoreBatches(arrivals, outPath, checkpointDir) { batch =>
      val (model, dflt) = TextOps.readDsirModel(batch.sparkSession, modelPath)
      TextOps.dsirScoreDocs(batch, model, dflt)
    }

  /** Stream-static fact enrichment — the streaming twin of the batch
    * fact build (`StarSchema.qFactBuild`): events on the wire get
    * their date/time ids as Kimball-style smart keys (pure expressions
    * of the event time, computed per row exactly as the batch fact
    * build computes them) and a LEFT JOIN to a bounded static type
    * dimension, the one real lookup. Stream-static joins are
    * STATELESS — the static side broadcasts per micro-batch, no state
    * store, so the stage scales with the stream alone. Input needs
    * (ts: timestamp, event_type, ...); `typeDim` needs
    * (event_type, type_id).
    */
  def enrichFacts(events: DataFrame, typeDim: DataFrame): DataFrame =
    events
      // the batch star schema's key functions, shared by construction:
      // a streamed fact and its batch twin carry the same keys
      .withColumn("date_id", graft.operators.StarSchema.dateIdOf(col("ts")))
      .withColumn("time_id", graft.operators.StarSchema.timeIdOf(
        hour(col("ts")), minute(col("ts")), second(col("ts"))))
      .join(org.apache.spark.sql.functions.broadcast(typeDim), Seq("event_type"), "left")

  /** Stream-stream interval join: each purchase joins the SAME USER's
    * clicks from the preceding hour — the attribution join, run as two
    * live streams. Both sides carry watermarks and the join condition
    * bounds click_ts to [purchase_ts - 1 h, purchase_ts], which is
    * what lets Spark EVICT state: a buffered click can be dropped once
    * the purchase watermark passes click_ts + 1 h, so state is the
    * last hour or so of clicks per user shard — bounded at any stream
    * rate, sharded by the join key across executors. Without the time
    * bound the click buffer would grow forever; that variant is a
    * design error at scale, not a config choice.
    *
    * Inputs need (user_id, event_id, ts: timestamp); output is one row
    * per (purchase, qualifying click).
    */
  def clickAttribution(clicks: DataFrame, purchases: DataFrame): DataFrame = {
    val c = clicks
      .withWatermark("ts", "1 hour")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
    val p = purchases
      .withWatermark("ts", "1 hour")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"))
    p.join(c, expr(
        """user_id = c_user AND
          |click_ts >= purchase_ts - INTERVAL 1 HOUR AND
          |click_ts <= purchase_ts""".stripMargin))
      .select(col("user_id"), col("purchase_id"), col("click_id"),
        unix_millis(col("purchase_ts")).as("purchase_ms"),
        unix_millis(col("click_ts")).as("click_ms"))
  }

  /** Event-time gap sessionization with `flatMapGroupsWithState`:
    * a session closes after [[GapMs]] of user silence. Sessions are
    * emitted when a newer event proves the gap, or when the watermark
    * passes sessionEnd + gap (event-time timeout).
    *
    * Semantics match the batch `Temporal.qSessionize`: session ids
    * count up per user from 1 — ACROSS timeout flushes (removing the
    * state on timeout would restart the next session at 1 and
    * duplicate (user_id, session_id) keys downstream). A flushed
    * session therefore leaves a small marker (nEvents = 0, carrying
    * the counter) in the state store. State
    * cost: open sessions are bounded by the watermark as before;
    * markers add one ~40-byte record per user ever seen — the
    * unavoidable price of durable per-user numbering, sharded across
    * the cluster by the groupByKey partitioning (an id-stability vs
    * state-size trade a 100 TB deployment can opt out of by keying
    * session ids on session_start_ms instead).
    */
  /** Streaming twin of `Analytics.qTransitionMatrix`: emits one
    * (prev_type → next_type) step per event, `_start` for a user's
    * first — feed it a window+groupBy downstream for the live matrix.
    *
    * State is ONE record per user (last event type + its sort key):
    * bounded by the user population, never by event volume, and
    * sharded by the groupByKey partitioning. Within a micro-batch
    * events sort by (ts_ms, event_id) — exact batch parity for
    * in-order arrival; an event that arrives in a LATER micro-batch
    * than a successor (out-of-order beyond batch boundaries) is
    * sequenced after it, with the state's monotonic guard preventing
    * any rewind of the running sequence — the documented
    * streaming-vs-batch divergence (the batch twin, which sees all
    * events at once, is the reconciliation job).
    */
  def transitionSteps(events: Dataset[TEv]): Dataset[Step] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(
        (u: Long, it: Iterator[TEv], st: GroupState[TransState]) => {
          val sorted = it.toSeq.sortBy(e => (e.ts_ms, e.event_id))
          var cur = st.getOption.orNull
          val out = sorted.map { e =>
            val prev = if (cur == null) "_start" else cur.lastType
            if (cur == null || e.ts_ms > cur.lastTs ||
                (e.ts_ms == cur.lastTs && e.event_id > cur.lastId))
              cur = TransState(e.event_type, e.ts_ms, e.event_id)
            Step(u, e.ts_ms, prev, e.event_type)
          }
          if (cur != null) st.update(cur)
          out.iterator
        })
  }

  /** Per-user funnel progress: first-view / first-click / first-
    * purchase milliseconds, −1 = not reached. Stage timestamps are
    * MONOTONIC — once set they never move (the [[transitionSteps]]
    * no-rewind contract). */
  case class FunnelSt(fv: Long, fc: Long, fp: Long)

  /** One emitted funnel update: the user's funnel row as of this
    * micro-batch — same columns and stage rule as the batch
    * `Analytics.qFunnel`. The LATEST row per user is the live funnel
    * table; a `groupBy(stage)` downstream is the live funnel report.
    */
  case class FunnelUpd(user_id: Long, first_view_ms: Long,
                       first_click_ms: Option[Long], first_purchase_ms: Option[Long],
                       stage: Long)

  /** Streaming twin of `Analytics.qFunnel`: ordered
    * view → click → purchase progression per user, click counted only
    * strictly after the first view and purchase only strictly after
    * the first click — the batch query's exact stage rule, folded
    * incrementally. Within a micro-batch events sort by
    * (ts_ms, event_id): exact batch parity for in-order arrival
    * (StreamsSpec-pinned across a two-batch MemoryStream); an event
    * arriving in a later micro-batch than a successor is sequenced
    * after it and CANNOT rewind an already-set stage timestamp — the
    * documented streaming divergence, reconciled by the batch twin.
    *
    * Emits one row per user per micro-batch in which the user's
    * funnel ADVANCED (append mode; users with no progress emit
    * nothing). State is one 3-long record per user ever seen past
    * stage 1 — bounded by the user population, sharded by the
    * groupByKey partitioning.
    */
  def funnelStages(events: Dataset[TEv]): Dataset[FunnelUpd] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(
        (u: Long, it: Iterator[TEv], st: GroupState[FunnelSt]) => {
          val sorted = it.toSeq.sortBy(e => (e.ts_ms, e.event_id))
          val before = st.getOption.getOrElse(FunnelSt(-1L, -1L, -1L))
          var cur = before
          for (e <- sorted) e.event_type match {
            case "view" if cur.fv < 0L =>
              cur = cur.copy(fv = e.ts_ms)
            case "click" if cur.fv >= 0L && cur.fc < 0L && e.ts_ms > cur.fv =>
              cur = cur.copy(fc = e.ts_ms)
            case "purchase" if cur.fc >= 0L && cur.fp < 0L && e.ts_ms > cur.fc =>
              cur = cur.copy(fp = e.ts_ms)
            case _ => // stage already reached, out of order, or other type
          }
          if (cur == before) Iterator.empty
          else {
            st.update(cur)
            Iterator.single(FunnelUpd(u, cur.fv,
              if (cur.fc >= 0L) Some(cur.fc) else None,
              if (cur.fp >= 0L) Some(cur.fp) else None,
              if (cur.fp >= 0L) 3L else if (cur.fc >= 0L) 2L else 1L))
          }
        })
  }

  /** One observed (hour, count) bucket in the rate-anomaly state. */
  case class HourCount(hour: Long, n: Long)

  /** Per-event-type spike state: trailing observed-hour counts plus
    * the highest hour already emitted (monotonic — a late event for an
    * emitted hour cannot rewind a verdict).
    */
  case class RateState(counts: Seq[HourCount], emittedThrough: Long)

  /** One emitted spike verdict — same shape and spike rule as the
    * batch `q_rate_anomaly`.
    */
  case class SpikeVerdict(event_type: String, hour_id: Long, n: Long,
                          prior_sum: Long, prior_hours: Long, is_spike: Boolean)

  /** Streaming spike detection — the continuous twin of the batch
    * `Temporal.qRateAnomaly`: per event type, an hour's volume is
    * compared against the trailing (up to) 24 OBSERVED hourly buckets
    * with the identical integer cross-multiplied rule
    * (n · prior_hours > prior_sum · 3 — no division, no FP). An
    * hour's verdict emits when a LATER hour's first event proves it
    * closed (the same gap-proof emit rule as [[sessionize]]); events
    * arriving for an already-emitted hour are the documented
    * streaming divergence — the batch twin reconciles.
    *
    * State per event type: ≤ 26 (hour, count) pairs + one watermark
    * long — constant-size at any traffic, sharded by the groupByKey
    * partitioning.
    */
  def rateAnomaly(events: Dataset[TEv]): Dataset[SpikeVerdict] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.event_type)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(
        (et: String, it: Iterator[TEv], st: GroupState[RateState]) => {
          // fold the iterator into hour counts incrementally: per-group
          // memory is |distinct hours in the batch|, never batch volume
          // (a toSeq here made one hot event type cost the whole
          // micro-batch in executor memory)
          val arrived = scala.collection.mutable.LongMap.empty[Long]
          it.foreach { e =>
            val h = e.ts_ms / 3600000L
            arrived(h) = arrived.getOrElse(h, 0L) + 1L
          }
          val prev = st.getOption.getOrElse(RateState(Nil, Long.MinValue))
          var counts = prev.counts.map(hc => hc.hour -> hc.n).toMap
          arrived.foreach { case (h, c) =>
            // a bucket that already emitted stays frozen (no rewind)
            if (h > prev.emittedThrough) counts += h -> (counts.getOrElse(h, 0L) + c)
          }
          if (counts.isEmpty) {
            st.update(prev)
            Iterator.empty
          } else {
          val maxH = counts.keys.max
          val hoursAsc = counts.keys.toSeq.sorted
          // hours proven closed this batch: above the emitted cursor,
          // strictly before the newest observed hour
          val toEmit = hoursAsc.filter(h => h > prev.emittedThrough && h < maxH)
          val out = toEmit.map { h =>
            val trail = hoursAsc.filter(_ < h).takeRight(24)
            val priorSum = trail.map(counts).sum
            val priorHours = trail.size.toLong
            SpikeVerdict(et, h, counts(h), priorSum, priorHours,
              priorHours > 0 && counts(h) * priorHours > priorSum * 3)
          }
          val emittedThrough = toEmit.lastOption.getOrElse(prev.emittedThrough)
          // keep the trailing window for future hours; drop the rest
          val keep = hoursAsc.takeRight(26).map(h => HourCount(h, counts(h)))
          st.update(RateState(keep, emittedThrough))
          out.iterator
          }
        })
  }

  /** One document on the corpus-ingest wire, with its map-side verdict
    * columns already computed.
    */
  case class DocIn(doc_id: Long, content_md5: String,
                   is_keep: Boolean, is_repetitive: Boolean)

  /** One emitted verdict — same shape as the batch `q_filter_pipeline`. */
  case class DocVerdict(doc_id: Long, is_dup: Boolean, is_keep: Boolean,
                        is_repetitive: Boolean, reject_reason: String,
                        final_keep: Boolean)

  /** Per-content-hash dedup state: the surviving (first-seen min) id. */
  case class DupState(survivorId: Long)

  /** Streaming corpus-filter verdicts — the continuous twin of the
    * batch `TextOps.qFilterPipeline` (dedup → quality → repetition,
    * first failing stage wins). The quality and repetition rules are
    * THE SAME column functions the batch query runs
    * ([[graft.operators.TextOps.qualityKeep]] / `repetitive` — shared
    * by construction, like [[dedupe]]'s normalization contract),
    * evaluated map-side before any state. Duplicate marking is keyed
    * state on the normalized content hash: the first-BATCH arrival
    * per hash survives (the stored survivor across batches; the MIN
    * doc_id within the batch that first sees the hash, because
    * post-exchange iterator order is arbitrary on a multi-partition
    * feed, so "first iterator element" was nondeterministic there);
    * everything later is 'duplicate'. Fed the corpus in batch-id
    * order this reproduces the batch min-id survivorship exactly
    * (asserted in StreamsSpec); across out-of-order BATCHES
    * first-batch-wins is the documented streaming divergence,
    * reconciled by the batch twin. Steady-state groups (stored
    * survivor exists) still stream off the group iterator in ONE
    * pass — per-group memory is O(1), so a hot content hash
    * dominating a micro-batch costs nothing; only a first-appearance
    * hash buffers its (single-batch) rows for the min.
    *
    * State: one ~50-byte record per DISTINCT content hash, sharded by
    * the groupByKey partitioning — the price of exact global dedup on
    * a stream. Production bounds it with a horizon ([[dedupe]]'s
    * `dropDuplicatesWithinWatermark` does exactly that); this job
    * keeps full history because its output is the verdict TABLE, where
    * a silently-expired hash would flip a verdict from 'duplicate' to
    * 'ok' depending on arrival time.
    *
    * Input needs (doc_id, text); output is one verdict per document,
    * emitted in the micro-batch the document arrives in.
    */
  def corpusFilter(docs: DataFrame): Dataset[DocVerdict] = {
    import docs.sparkSession.implicits._
    docs
      .select(
        col("doc_id").cast("long").as("doc_id"),
        graft.operators.Dedup.contentMd5(col("text")).as("content_md5"),
        TextOps.qualityKeep(col("text")).as("is_keep"),
        TextOps.repetitive(col("text")).as("is_repetitive"))
      .as[DocIn]
      .groupByKey(_.content_md5)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(
        (_: String, it: Iterator[DocIn], st: GroupState[DupState]) => {
          if (!it.hasNext) Iterator.empty
          else {
            // Survivor = stored state when the hash has one — that
            // branch streams the group iterator in ONE pass, O(1)
            // per-group memory, so a hot content hash dominating a
            // micro-batch in steady state costs nothing. Only a
            // FIRST-appearance hash buffers its batch to take the MIN
            // doc_id (within-group iterator order after
            // the groupByKey exchange is arbitrary on a
            // multi-partition feed, so "first element" could crown a
            // non-min survivor within a micro-batch — the
            // packCounters sort rule). State is updated EAGERLY
            // (before the lazy verdict iterator is consumed) so the
            // update never rides on sink consumption.
            val (survivor, rows) = st.getOption.map(_.survivorId) match {
              case Some(surv) => (surv, it)
              case None =>
                val batch = it.toSeq
                (batch.iterator.map(_.doc_id).min, batch.iterator)
            }
            st.update(DupState(survivor))
            rows.map { d =>
              val isDup = d.doc_id != survivor
              val reason =
                if (isDup) "duplicate"
                else if (!d.is_keep) "low_quality"
                else if (d.is_repetitive) "repetitive"
                else "ok"
              DocVerdict(d.doc_id, isDup, d.is_keep, d.is_repetitive,
                reason, reason == "ok")
            }
          }
        })
  }

  def sessionize(events: Dataset[Ev]): Dataset[Session] = {
    import events.sparkSession.implicits._
    events
      .withColumn("ts", timestamp_millis(col("ts_ms")))
      .withWatermark("ts", "1 hour")
      .as[EvW]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(
        (u: Long, it: Iterator[EvW], st: GroupState[SessState]) =>
          sessionStep(u, it.map(e => Ev(e.user_id, e.event_id, e.ts_ms, e.value)), st))
  }

  /** One `flatMapGroupsWithState` invocation: fold the batch's events
    * (sorted by event time) into the open session, emitting every
    * session a proven gap closes; on timeout, flush the open session.
    */
  private[streaming] def sessionStep(
      userId: Long, events: Iterator[Ev],
      state: GroupState[SessState]): Iterator[Session] = {
    if (events.isEmpty && state.hasTimedOut) {
      // flush the open session, but KEEP a marker carrying the running
      // counter (nEvents = 0): the user's next session must continue
      // the per-user numbering, not restart at 1. No new timeout is
      // set — a marker never times out, it just waits.
      val out = state.getOption.filter(_.nEvents > 0L).map { st =>
        state.update(st.copy(nEvents = 0L))
        Session(userId, st.sessionId, st.nEvents, st.startMs, st.endMs, st.value)
      }.toIterator
      return out
    }
    val sorted = events.toSeq.sortBy(e => (e.ts_ms, e.event_id))
    var st = state.getOption.orNull
    val emitted = scala.collection.mutable.ArrayBuffer.empty[Session]
    for (e <- sorted) {
      if (st == null) {
        st = SessState(1L, e.ts_ms, e.ts_ms, 1L, e.value)
      } else if (st.nEvents == 0L) {
        // flushed marker: the previous session is final (its timeout
        // already proved the gap), so any new event opens the NEXT
        // numbered session.
        st = SessState(st.sessionId + 1, e.ts_ms, e.ts_ms, 1L, e.value)
      } else if (e.ts_ms - st.endMs > GapMs) {
        emitted += Session(userId, st.sessionId, st.nEvents, st.startMs, st.endMs, st.value)
        st = SessState(st.sessionId + 1, e.ts_ms, e.ts_ms, 1L, e.value)
      } else {
        // min/max, not assignment: a late (within-watermark) event from
        // a later micro-batch may precede the open session's bounds —
        // rewinding endMs would corrupt gap detection for what follows.
        st = st.copy(startMs = math.min(st.startMs, e.ts_ms),
          endMs = math.max(st.endMs, e.ts_ms),
          nEvents = st.nEvents + 1, value = st.value + e.value)
      }
    }
    if (st != null) {
      state.update(st)
      // flush when the watermark proves no earlier event can extend it;
      // a bare marker (no open session) carries no timeout
      if (st.nEvents > 0L) state.setTimeoutTimestamp(st.endMs + GapMs + 1)
    }
    emitted.iterator
  }

  /** One streamed media-dedup verdict: the payload's fingerprint, its
    * duplicate status, and the stored survivor it deduped against. */
  case class MediaVerdict(doc_id: Long, media_type: String, phash_hex: String,
                          is_dup: Boolean, survivor_id: Long)

  /** Streaming media dedup — the continuous twin of the batch
    * `Multimodal.qPhashDedup` exact-collision tier: arrivals
    * fingerprint through the SAME stub-codec mid-square expansion
    * ([[graft.operators.Multimodal.fingerprintBands]] — the twins
    * cannot disagree on fingerprints), then key by the packed hex and
    * dedup first-wins against per-fingerprint state (the
    * [[corpusFilter]] survivorship contract: stored survivor across
    * batches, MIN doc_id within one — so min-id parity with the batch
    * row holds per micro-batch regardless of partition interleaving,
    * StreamsSpec-pinned). Banded
    * NEAR-collision search stays a batch/serve concern — a stream
    * cannot join candidates against an unbounded corpus — so this twin
    * covers the hamming-0 tier, which at production media scale is the
    * bulk of the dedup mass (re-uploads and re-posts are byte- or
    * decode-identical far more often than near).
    *
    * State: one ~50-byte record per DISTINCT fingerprint (the
    * [[corpusFilter]] bound discussion applies verbatim — production
    * bounds it with `dropDuplicatesWithinWatermark`-style horizons).
    */
  /** Extended per-doc corpus verdict — [[corpusFilter]]'s row plus the
    * census columns ([[corpusBuild]] consumes these). */
  case class CorpusDocIn(doc_id: Long, lang: String, source: String,
      content_md5: String, toks: Long, changed: Boolean, lang_en: Boolean,
      is_keep: Boolean, is_blocked: Boolean, is_repetitive: Boolean)
  case class CorpusVerdict(doc_id: Long, lang: String, source: String,
      toks: Long, changed: Boolean, alive_lang: Boolean, alive_quality: Boolean,
      alive_safety: Boolean, alive_rep: Boolean, alive_exact: Boolean)

  /** Streaming per-doc corpus-build verdicts — [[corpusFilter]] widened
    * to the FULL funnel `q_corpus_build` censuses: every stage rule is
    * the SAME shared column function the batch composition runs
    * ([[graft.operators.TextOps.langPred]] / `qualityKeep` /
    * `safetyBlocked` / `repetitive` / `packToks` / [[graft.functions.NormalizeText]] /
    * [[graft.operators.Dedup.contentMd5]]), evaluated map-side; exact
    * dedup is the [[corpusFilter]] first-wins keyed state (in-order
    * feed ≡ the batch min-id survivorship — StreamsSpec pins it).
    * Stage gating replays CorpusBuild's cascade: hash-twins share
    * identical text, hence identical lang/quality/safety/repetition
    * fates, so
    * first-wins survivorship composes with the upstream gates exactly
    * like the batch global rule.
    */
  def corpusVerdicts(docs: DataFrame): Dataset[CorpusVerdict] = {
    import docs.sparkSession.implicits._
    docs
      .select(
        col("doc_id").cast("long").as("doc_id"),
        col("lang"), col("source"),
        graft.operators.Dedup.contentMd5(col("text")).as("content_md5"),
        TextOps.packToks.as("toks"),
        (md5(graft.functions.NormalizeText.column(col("text")).cast("binary")) =!=
          md5(col("text").cast("binary"))).as("changed"),
        (TextOps.langPred === "en").as("lang_en"),
        TextOps.qualityKeep(col("text")).as("is_keep"),
        TextOps.safetyBlocked(col("text")).as("is_blocked"),
        TextOps.repetitive(col("text")).as("is_repetitive"))
      .as[CorpusDocIn]
      .groupByKey(_.content_md5)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(
        (_: String, it: Iterator[CorpusDocIn], st: GroupState[DupState]) => {
          if (!it.hasNext) Iterator.empty
          else {
            // min-by doc_id within the batch when no prior state
            // (the corpusFilter rule, which see for the one-pass/buffer
            // trade): post-exchange iterator order is
            // arbitrary on a multi-partition feed.
            val (survivor, rows) = st.getOption.map(_.survivorId) match {
              case Some(surv) => (surv, it)
              case None =>
                val batch = it.toSeq
                (batch.iterator.map(_.doc_id).min, batch.iterator)
            }
            st.update(DupState(survivor))
            rows.map { d =>
              val aLang = d.lang_en
              val aQual = aLang && d.is_keep
              val aSafe = aQual && !d.is_blocked
              val aRep = aSafe && !d.is_repetitive
              CorpusVerdict(d.doc_id, d.lang, d.source, d.toks, d.changed,
                aLang, aQual, aSafe, aRep, aRep && d.doc_id == survivor)
            }
          }
        })
  }

  /** Streaming corpus-build census — the incremental
    * face of `q_corpus_build`: [[corpusVerdicts]] rolled into ONE
    * cumulative census row (docs + token mass surviving each stage,
    * ingest → exact dedup), updated every micro-batch. Run with
    * Update output mode: the sink receives the refreshed cumulative
    * row per trigger — the live funnel dashboard of a build in flight.
    *
    * Deliberately NOT streamed: near dedup (a stream cannot band-join
    * an unbounded corpus — the [[mediaDedupe]] boundary, verbatim),
    * the shard plan (a global rank is batch/serve by nature), and the
    * distinct-source card count (distinct aggregation is unsupported
    * on streams; HLL would break batch parity). Those stages remain
    * the batch composition's; StreamsSpec pins this census ≡ the
    * batch stage rows 1-7 over a two-batch in-order MemoryStream.
    *
    * Shape at scale: the verdict operator's content-hash exchange,
    * then a partial-aggregated global rollup — 13 counters per
    * partition, one merged row of state.
    */
  def corpusBuild(docs: DataFrame): DataFrame = {
    def aliveD(flag: String) =
      sum(when(col(flag), 1L).otherwise(0L))
    def aliveT(flag: String) =
      sum(when(col(flag), col("toks")).otherwise(0L))
    corpusVerdicts(docs).toDF()
      .agg(
        count(lit(1)).as("d0"), sum(col("toks")).as("t0"),
        sum(when(col("changed"), 1L).otherwise(0L)).as("n_changed"),
        aliveD("alive_lang").as("d1"), aliveT("alive_lang").as("t1"),
        aliveD("alive_quality").as("d2"), aliveT("alive_quality").as("t2"),
        aliveD("alive_safety").as("d2s"), aliveT("alive_safety").as("t2s"),
        aliveD("alive_rep").as("d3"), aliveT("alive_rep").as("t3"),
        aliveD("alive_exact").as("d4"), aliveT("alive_exact").as("t4"))
  }

  /** Streaming NEAR-dedup serve tier — the
    * increment-sized alternative to the impossible stream×corpus band
    * join: each micro-batch is an increment probed against the
    * PERSISTED signature index (the
    * [[graft.operators.CorpusBuild.corpusUpsert]] device, run through
    * the literally-shared [[graft.operators.CorpusBuild.incrementVerdicts]]
    * chain, so this tier and the batch upsert cannot disagree on a
    * verdict). Per batch: the full funnel (rules → exact first-wins →
    * index md5 probe → within-batch near keep-first → index
    * broadcast-probe near serve), verdicts to the caller's sink, then
    * the accepted docs' signatures publish as an index batch
    * (`Dedup.appendDedupIndex`) so the next batch dedups against them —
    * the corpus census's near stage stops being batch-only for
    * increment-sized arrivals.
    *
    * Contracts: in-order arrival (doc ids strictly increase across
    * batches and start above every indexed id — the pack-cursor /
    * upsert contract verbatim); the index must exist (a first
    * `corpusUpsert` of the published corpus bootstraps it).
    * foreachBatch is at-least-once on restart: verdict computation
    * passes the batch's min id as the probe bound, so a re-delivered
    * batch that already published its signatures recomputes IDENTICAL
    * verdicts (its own index entries are invisible to it) and
    * re-publishes the same index batch, named by its smallest accepted
    * doc id. The sink receives (verdicts, batchId) — dedupe on batchId
    * for an exactly-once downstream.
    *
    * Shape at scale: everything is increment-sized or a broadcast
    * probe of an index scan — the corpus moves zero times per batch
    * (the [[graft.operators.Dedup.incrementalDedup]] bill).
    */
  def corpusIncrements(docs: DataFrame, idxPath: String)(
      sink: (DataFrame, Long) => Unit): StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        import graft.plans.Materialize.MaterializeOps
        val s = batch.sparkSession
        val minRow = batch.agg(min(col("doc_id").cast("long"))).collect()(0)
        if (!minRow.isNullAt(0)) {
          val verdicts = graft.operators.CorpusBuild
            .incrementVerdicts(s, idxPath, batch.toDF(), Some(minRow.getLong(0)))
            .materialized
          sink(verdicts, batchId)
          // commit-last: verdicts are fully materialized BEFORE the
          // append, so the probe never sees its own batch
          val accepted = verdicts.filter(col("alive_near"))
            .select(col("doc_id"), col("text"))
          val firstId = accepted.agg(min(col("doc_id"))).head
          if (!firstId.isNullAt(0))
            graft.operators.Dedup.appendDedupIndex(accepted, idxPath, firstId.getLong(0))
        }
      }
      .start()

  /** Per-type KMV sketch state: the sorted k-minimum hash values. */
  case class KmvState(sk: Seq[Long])
  /** Per-batch sketch census: sketch fill and the distinct estimate. */
  case class KmvCensus(event_type: String, n_sketch: Int, est_distinct: Long)

  /** Streaming KMV distinct-reach sketches — the incremental
    * maintenance path of `ScaleOps.q_kmv_overlap`'s summaries: per
    * event type, keyed state holds the K smallest
    * `splitmix64(user_id) >>> 1` values and each micro-batch folds its
    * arrivals in (merge = k-smallest of the value-set union —
    * associative AND idempotent, so an at-least-once re-delivery of a
    * user is a no-op by construction: the sketch is a SET of hashes,
    * not a counter; contrast the in-order contracts the counter twins
    * need). Emits the updated census (Update mode) with the same
    * estimator arithmetic as the batch row — one long→double cast,
    * one IEEE division, floor — so a drained stream's state matches
    * the batch sketch value-for-value (StreamsSpec pins it). At
    * 100 TB: the overlap dashboard reads K-long sketches that were
    * never rebuilt, only folded into.
    */
  def kmvReach(events: Dataset[TEv], k: Int = 256): Dataset[KmvCensus] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.event_type)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout())(
        (et: String, it: Iterator[TEv], st: GroupState[KmvState]) => {
          val prev = st.getOption.map(_.sk).getOrElse(Seq.empty)
          val batch = it.map(e => graft.functions.BloomHashing.mix(e.user_id) >>> 1)
          val merged = (prev.iterator ++ batch).toArray.distinct.sorted.take(k).toSeq
          st.update(KmvState(merged))
          val est =
            if (merged.length < k) merged.length.toLong
            else math.floor((k - 1).toDouble * 9223372036854775807L.toDouble
              / merged(k - 1).toDouble).toLong
          KmvCensus(et, merged.length, est)
        })
  }

  /** Per-lane packing-counter state: running token sum, docs, packs,
    * and the last assigned pack id (pack ids are monotone per lane). */
  case class LaneState(cum: Long, nDocs: Long, nPacks: Long, lastPack: Long)
  /** Cumulative per-lane packing census, one row per lane per batch. */
  case class LaneCensus(lang: String, lane: Long, n_docs: Long,
      n_tokens: Long, n_packs: Long)

  /** Streaming pack counters — the `q_pack_sequences` running sums as
    * keyed state per (lang, lane): each surviving document lands in
    * pack `cum_before DIV budget` of its lane, exactly the batch rule,
    * with the cursor durable across micro-batches. Emits the updated
    * cumulative lane census every batch (Update mode). Feed it the
    * [[corpusVerdicts]] survivors (production: the verdict file sink
    * read back as a stream — the [[incrementalIngest]] composition);
    * docs are packed in doc_id order WITHIN a batch (batch-bounded
    * sort per lane) and in arrival order across batches — the
    * [[corpusFilter]] in-order contract: an in-order feed reproduces
    * the batch packing exactly (StreamsSpec pins it).
    */
  def packCounters(survivors: Dataset[CorpusVerdict]): Dataset[LaneCensus] = {
    import survivors.sparkSession.implicits._
    val budget = TextOps.packBudget
    val lanes = TextOps.packLanes
    survivors
      .filter(_.alive_exact)
      .groupByKey(v => (v.lang, v.doc_id % lanes))
      .mapGroupsWithState(GroupStateTimeout.NoTimeout())(
        (key: (String, Long), it: Iterator[CorpusVerdict], st: GroupState[LaneState]) => {
          var s = st.getOption.getOrElse(LaneState(0L, 0L, 0L, -1L))
          it.toSeq.sortBy(_.doc_id).foreach { d =>
            val pid = s.cum / budget
            s = LaneState(s.cum + d.toks, s.nDocs + 1,
              s.nPacks + (if (pid != s.lastPack) 1L else 0L), pid)
          }
          st.update(s)
          LaneCensus(key._1, key._2, s.nDocs, s.cum, s.nPacks)
        })
  }

  def mediaDedupe(media: Dataset[graft.operators.Multimodal.MediaRow]): Dataset[MediaVerdict] = {
    import media.sparkSession.implicits._
    graft.operators.Multimodal.fingerprintBands(media)
      .map(f => (f.doc_id, f.media_type,
        f.bands.map(b => f"$b%04x").mkString))
      .groupByKey(_._3)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(
        (hex: String, it: Iterator[(Long, String, String)], st: GroupState[DupState]) => {
          if (!it.hasNext) Iterator.empty
          else {
            // min-by doc_id within the batch when no prior state
            // (the corpusFilter rule, which see for the one-pass/buffer
            // trade)
            val (survivor, rows) = st.getOption.map(_.survivorId) match {
              case Some(surv) => (surv, it)
              case None =>
                val batch = it.toSeq
                (batch.iterator.map(_._1).min, batch.iterator)
            }
            st.update(DupState(survivor))
            rows.map { case (id, mt, hx) =>
              MediaVerdict(id, mt, hx, id != survivor, survivor)
            }
          }
        })
  }
}
