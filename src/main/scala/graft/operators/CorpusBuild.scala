package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.plans.Materialize._
import graft.plans.Publish
import graft.sources.Ingest

/** SURVEY §2 — the end-to-end corpus-build composition:
  * ingest → normalize → lang-ID → quality → safety → repetition
  * → exact dedup → near dedup → pack → shard → dataset card,
  * registered as ONE program whose output is the per-stage census
  * (docs in, tokens in, stage-specific units) — the funnel table a
  * training-data build run publishes next to its artifacts.
  *
  * Every stage verdict comes from the ALREADY-VERIFIED standalone
  * operator (qLangId / qQualityScore / qRepetition / qDedupExact /
  * qDedupMinhash / qNormalizeText) or shared column rule
  * ([[TextOps.safetyBlocked]]: the safety screen's
  * BLOCK verdict now gates the funnel between quality and repetition,
  * so a corpus built through the composition can no longer ship
  * safety-blocked documents), composed doc-keyed; this row
  * proves they compose without semantic drift. HASH-CHECKED:
  * the oracle composes the constituents' order-free CTE bodies
  * doc-keyed, replays the keep-first near-drop rule, the pack
  * running sums, the shard rank modulo and the 11-row census — so
  * the whole funnel is engine-exact, not just stage-reconciled.
  * InvariantSpec additionally recomputes every stage drop from the
  * standalone outputs (the composition-vs-constituents gate the
  * oracle alone can't give, since the oracle shares the CTEs).
  *
  * Token unit: the census token masses and the pack stage both use
  * [[TextOps.packToks]] — ONE shared expression, so the composition
  * cannot drift from the standalone `q_pack_sequences` row on texts
  * with consecutive/leading/trailing spaces.
  *
  * Stage rules (the order real builds apply):
  *   - normalize drops nothing; its `n_units` counts docs whose
  *     normalized text actually changed (the canonicalization reach).
  *   - lang-ID keeps predicted-English docs (`q_lang_id`'s argmax).
  *   - exact dedup uses the GLOBAL `q_dedup_exact` min-id
  *     survivorship: hash-twins share identical text, hence identical
  *     lang/quality/safety/repetition fates (every rule is a pure
  *     function of text), so global survivorship equals
  *     stage-local survivorship exactly — the reconciliation
  *     InvariantSpec pins.
  *   - near dedup drops the larger id of each verified
  *     `q_dedup_minhash` pair (J ≥ 0.6) whose smaller id is still
  *     alive — the keep-first rule production pipelines apply.
  *   - pack/shard replay `q_pack_sequences` / `q_shard_plan` over the
  *     survivors with the SAME constants (shared private[graft] vals,
  *     so the composition cannot drift from the standalone rows).
  *
  * Shape at scale: the verdict joins are doc-keyed equi-joins of
  * map-only projections (the dedup branches carry their own verified
  * shuffle shapes); the census is ONE aggregate over the materialized
  * verdict table; pack rides the (lang, lane)-partitioned running-sum
  * window and shard the `q_shard_plan` ranked layout. Nothing here
  * adds a shuffle the standalone operators don't already pay.
  */
object CorpusBuild {

  private val verdictCache = new graft.plans.SessionCache[DataFrame]

  /** The per-doc verdict table every corpus-build consumer shares —
    * [[qCorpusBuild]]'s census, [[qCorpusManifest]] and
    * [[corpusWrite]]'s materialization all read THIS, so the published
    * corpus and the published funnel cannot disagree on a single
    * verdict. Build-once-serve-many (the
    * [[graft.operators.Analytics]] graphCache contract, r13-adjudicated
    * serve-cost medians): without the cache each of the three consumers
    * re-derives the full verdict chain — five operator joins plus the
    * banded minhash candidate pass, the single most expensive stage in
    * all three, re-run per query at 100 TB. Same staleness contract as
    * the graph caches: an entry reflects the dir AS OF first use in the
    * session (data dirs are immutable snapshots); in-place rewriters
    * must call [[clearVerdictCache]] first.
    */
  private[graft] def survivorVerdicts(s: SparkSession, dir: String): DataFrame =
    verdictCache.getOrElseUpdate(s, dir)(buildSurvivorVerdicts(s, dir))

  /** Drop the session-scoped verdict materializations (see the
    * staleness contract on [[survivorVerdicts]]).
    */
  def clearVerdictCache(): Unit = verdictCache.clear()

  private def buildSurvivorVerdicts(s: SparkSession, dir: String): DataFrame = {
    val toks = TextOps.packToks
    // the safety BLOCK verdict is a pure per-doc column rule
    // ([[TextOps.safetyBlocked]] — the qualityKeep/langPred precedent),
    // evaluated inside the same base scan: no extra operator join
    val base = Ingest.table(s, dir, "documents")
      .select(col("doc_id"), col("source"), col("lang"), toks.as("toks"),
        md5(col("text").cast("binary")).as("raw_md5"),
        TextOps.safetyBlocked(col("text")).as("is_blocked"))
    val lang = TextOps.qLangId(s, dir).select(col("doc_id"), col("lang_pred"))
    val qual = TextOps.qQualityScore(s, dir).select(col("doc_id"), col("is_keep"))
    val rep  = TextOps.qRepetition(s, dir).select(col("doc_id"), col("is_repetitive"))
    val dup  = Dedup.qDedupExact(s, dir).select(col("doc_id"), col("is_dup"))
    val norm = TextOps.qNormalizeText(s, dir).select(col("doc_id"), col("norm_md5"))
    val v0 = base.join(lang, "doc_id").join(qual, "doc_id").join(rep, "doc_id")
      .join(dup, "doc_id").join(norm, "doc_id")
      .withColumn("alive_lang", col("lang_pred") === "en")
      .withColumn("alive_quality", col("alive_lang") && col("is_keep"))
      .withColumn("alive_safety", col("alive_quality") && !col("is_blocked"))
      .withColumn("alive_rep", col("alive_safety") && !col("is_repetitive"))
      .withColumn("alive_exact", col("alive_rep") && !col("is_dup"))
      .materialized
    val nearDrops = Dedup.qDedupMinhash(s, dir)
      .join(v0.filter(col("alive_exact")).select(col("doc_id").as("id_a")), "id_a")
      .select(col("id_b").as("doc_id")).distinct()
      .withColumn("near_drop", lit(true))
    v0.join(nearDrops, Seq("doc_id"), "left")
      .withColumn("alive_near",
        col("alive_exact") && !coalesce(col("near_drop"), lit(false)))
      .materialized
  }

  def qCorpusBuild(s: SparkSession, dir: String): DataFrame = {
    val v = survivorVerdicts(s, dir)

    val census = v.agg(
      count(lit(1)).as("d0"), sum(col("toks")).as("t0"),
      sum(when(col("norm_md5") =!= col("raw_md5"), 1L).otherwise(0L)).as("n_changed"),
      sum(when(col("alive_lang"), 1L).otherwise(0L)).as("d1"),
      sum(when(col("alive_lang"), col("toks")).otherwise(0L)).as("t1"),
      sum(when(col("alive_quality"), 1L).otherwise(0L)).as("d2"),
      sum(when(col("alive_quality"), col("toks")).otherwise(0L)).as("t2"),
      sum(when(col("alive_safety"), 1L).otherwise(0L)).as("d2s"),
      sum(when(col("alive_safety"), col("toks")).otherwise(0L)).as("t2s"),
      sum(when(col("alive_rep"), 1L).otherwise(0L)).as("d3"),
      sum(when(col("alive_rep"), col("toks")).otherwise(0L)).as("t3"),
      sum(when(col("alive_exact"), 1L).otherwise(0L)).as("d4"),
      sum(when(col("alive_exact"), col("toks")).otherwise(0L)).as("t4"),
      sum(when(col("alive_near"), 1L).otherwise(0L)).as("d5"),
      sum(when(col("alive_near"), col("toks")).otherwise(0L)).as("t5"),
      countDistinct(when(col("alive_near"), col("source"))).as("n_sources"))

    val lane = Window.partitionBy(col("lang"), col("lane")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val packs = v.filter(col("alive_near"))
      .select(col("doc_id"), col("lang"),
        (col("doc_id") % TextOps.packLanes).as("lane"), col("toks"))
      .withColumn("cum", sum(col("toks")).over(lane))
      .withColumn("pack_id", expr(s"(cum - toks) DIV ${TextOps.packBudget}"))
      .groupBy(col("lang"), col("lane"), col("pack_id"))
      .agg(sum(col("toks")).as("n_tokens"))
      .agg(coalesce(count(lit(1)), lit(0L)).as("n_packs"),
        coalesce(sum(col("n_tokens")), lit(0L)).as("pack_tokens"))

    val shards = graft.plans.Surrogate.rankedId(
        v.filter(col("alive_near"))
          .select(col("doc_id"), col("toks"), (-col("toks")).as("wneg")),
        Seq("wneg", "doc_id"), "rk")
      .select(expr(s"(rk - 1) % ${TextOps.nShards}").as("shard"))
      .agg(coalesce(countDistinct(col("shard")), lit(0L)).as("n_shards"))

    census.crossJoin(broadcast(packs)).crossJoin(broadcast(shards))
      .select(explode(expr(
        """array(
          |  struct(CAST(1 AS BIGINT) AS stage_id, 'ingest' AS stage,
          |         d0 AS n_docs, t0 AS n_tokens, d0 AS n_units),
          |  struct(CAST(2 AS BIGINT) AS stage_id, 'normalize' AS stage,
          |         d0 AS n_docs, t0 AS n_tokens, n_changed AS n_units),
          |  struct(CAST(3 AS BIGINT) AS stage_id, 'lang_id' AS stage,
          |         d1 AS n_docs, t1 AS n_tokens, d0 - d1 AS n_units),
          |  struct(CAST(4 AS BIGINT) AS stage_id, 'quality' AS stage,
          |         d2 AS n_docs, t2 AS n_tokens, d1 - d2 AS n_units),
          |  struct(CAST(5 AS BIGINT) AS stage_id, 'safety' AS stage,
          |         d2s AS n_docs, t2s AS n_tokens, d2 - d2s AS n_units),
          |  struct(CAST(6 AS BIGINT) AS stage_id, 'repetition' AS stage,
          |         d3 AS n_docs, t3 AS n_tokens, d2s - d3 AS n_units),
          |  struct(CAST(7 AS BIGINT) AS stage_id, 'dedup_exact' AS stage,
          |         d4 AS n_docs, t4 AS n_tokens, d3 - d4 AS n_units),
          |  struct(CAST(8 AS BIGINT) AS stage_id, 'dedup_near' AS stage,
          |         d5 AS n_docs, t5 AS n_tokens, d4 - d5 AS n_units),
          |  struct(CAST(9 AS BIGINT) AS stage_id, 'pack' AS stage,
          |         d5 AS n_docs, pack_tokens AS n_tokens, n_packs AS n_units),
          |  struct(CAST(10 AS BIGINT) AS stage_id, 'shard' AS stage,
          |         d5 AS n_docs, t5 AS n_tokens, n_shards AS n_units),
          |  struct(CAST(11 AS BIGINT) AS stage_id, 'dataset_card' AS stage,
          |         d5 AS n_docs, t5 AS n_tokens, CAST(n_sources AS BIGINT) AS n_units))""".stripMargin))
        .as("r"))
      .select(col("r.stage_id").as("stage_id"), col("r.stage").as("stage"),
        col("r.n_docs").as("n_docs"), col("r.n_tokens").as("n_tokens"),
        col("r.n_units").as("n_units"))
  }

  /** The corpus-build shard MANIFEST as a first-class query (r15): one
    * row per output shard of the SURVIVOR corpus — docs, token mass,
    * rank extents — under exactly the layout [[corpusWrite]]
    * materializes (`q_shard_plan`'s LPT rule over the corpus-build
    * survivors, weighted by the shared packing token unit). Being a
    * query, the manifest itself is hash-checked against the composed
    * verdict oracle; CorpusWriteSpec then pins the WRITTEN manifest
    * row-equal to this query, closing the loop between the published
    * artifact and the verified plan.
    *
    * Shape at scale: the verdict pipeline + ONE rank-range exchange
    * ([[graft.plans.Surrogate.rankedId]]) + an [[TextOps.nShards]]-row
    * rollup.
    */
  def qCorpusManifest(s: SparkSession, dir: String): DataFrame = {
    val survivors = survivorVerdicts(s, dir).filter(col("alive_near"))
      .select(col("doc_id"), col("toks"))
    graft.plans.Surrogate.rankedId(
        survivors.withColumn("wneg", -col("toks")), Seq("wneg", "doc_id"), "rk")
      .select(expr(s"CAST((rk - 1) % ${TextOps.nShards} AS INT)").as("shard"),
        col("toks"), col("rk"))
      .groupBy(col("shard"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("toks")).as("n_tokens"),
        min(col("rk")).as("min_rk"),
        max(col("rk")).as("max_rk"))
  }

  /** Materialize the corpus — the WRITE half of the
    * build: the [[survivorVerdicts]] survivors land as training-ready
    * parquet shards plus a manifest, atomically published. Layout:
    *
    *   `<path>/shards.parquet/shard=N/`  — (doc_id, source, lang, toks,
    *     lane, pack_id, rk, text): one file per shard, rows sorted by
    *     doc_id, so a rebuild of the same corpus is BYTE-identical
    *     (CorpusWriteSpec pins it).
    *   `<path>/manifest.parquet` — one row per shard: docs, token
    *     mass, rank extents, and an ORDER-INSENSITIVE content
    *     signature (bit_xor of per-doc xxhash64(doc_id, text) — the
    *     [[Audit.qChecksum]] device; a sorted-concat md5 would need a
    *     per-shard collect, the wrong shape at 100 TB).
    *
    * Columns carry the SAME rules as the census rows: lane/pack_id are
    * `q_pack_sequences`' constants over the survivors, shard is the
    * `q_shard_plan` LPT rule ((rk−1) mod [[TextOps.nShards]] over the
    * descending-token rank — [[graft.plans.Surrogate.rankedId]], never
    * a single-partition window). CorpusWriteSpec reconciles the
    * manifest against the published `q_corpus_build` census.
    *
    * The whole corpus dir is published through [[Publish]], so a
    * reader never sees a half-written corpus.
    *
    * Shape at scale: the verdict pipeline's own shuffles, ONE
    * rank-range exchange, one shard-keyed repartition(nShards) whose
    * in-partition sort rides the write — no collect, no global sort.
    *
    * @return the published manifest as a DataFrame
    */
  def corpusWrite(s: SparkSession, dir: String, path: String): DataFrame = {
    val survivors = survivorVerdicts(s, dir).filter(col("alive_near"))
      .select(col("doc_id"), col("source"), col("lang"), col("toks"))
    val lane = Window.partitionBy(col("lang"), col("lane")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val packed = survivors
      .withColumn("lane", col("doc_id") % TextOps.packLanes)
      .withColumn("cum", sum(col("toks")).over(lane))
      .withColumn("pack_id", expr(s"(cum - toks) DIV ${TextOps.packBudget}"))
      .drop("cum")
    val sharded = graft.plans.Surrogate.rankedId(
        packed.withColumn("wneg", -col("toks")), Seq("wneg", "doc_id"), "rk")
      .withColumn("shard", expr(s"CAST((rk - 1) % ${TextOps.nShards} AS INT)"))
      .drop("wneg")
    val rows = sharded
      .join(Ingest.table(s, dir, "documents").select(col("doc_id"), col("text")), "doc_id")
      .select(col("doc_id"), col("source"), col("lang"), col("toks"),
        col("lane"), col("pack_id"), col("rk"), col("shard"), col("text"))
      .materialized // consumed twice: shard write + manifest

    Publish(s, path)(writeShardsAndManifest(rows, _))
    s.read.parquet(s"$path/manifest.parquet")
  }

  /** Manifest-aware corpus compaction: fold the
    * generation-local shard layout N [[corpusUpsert]] increments
    * accumulate (one small shard per increment, ranks local to each
    * generation) back into the canonical [[corpusWrite]] layout — the
    * global (desc toks, doc_id) LPT rank over ALL committed rows,
    * `(rk − 1) mod nShards` shard assignment, rows re-sorted by
    * doc_id within shards. Corpus CONTENT is untouched: the
    * (doc_id, source, lang, toks, lane, pack_id, text) rows pass
    * through unchanged — pack ids and lane cursors are functions of
    * content and arrival order, which compaction does not alter —
    * only `rk` and `shard` are recomputed (CorpusWriteSpec pins the
    * multiset identity and the layout replay).
    *
    * Input is the COMMITTED corpus only (shard scan filtered to
    * manifest-listed ids — the [[corpusUpsert]] bootstrap rule), so
    * orphaned shard dirs from a pre-manifest-commit crash are
    * excluded from the rewrite and DELETED with the old corpus dir at
    * the publish swap — compaction is also the orphan collector.
    *
    * The staged dir carries a fresh manifest, lane-cursor table, and
    * serve index covering every committed row (one signature pass over
    * rows the rewrite is already moving — at any scale a fraction of
    * the unavoidable shard rewrite; carrying the old index by
    * filesystem move would save that pass but split the commit into
    * two rename points). ONE [[Publish]] swap commits everything; a
    * crash before it leaves the live corpus untouched.
    *
    * @return the published (compacted) manifest
    */
  def corpusCompact(s: SparkSession, path: String): DataFrame = {
    recoverCorpus(s, path)
    val ids = s.read.parquet(s"$path/manifest.parquet")
      .select(col("shard")).collect().map(_.getAs[Int]("shard"))
    val committed = s.read.parquet(s"$path/shards.parquet")
      .filter(col("shard").isin(ids.map(Integer.valueOf): _*))
      .select(col("doc_id"), col("source"), col("lang"), col("toks"),
        col("lane"), col("pack_id"), col("text"))
    val rows = graft.plans.Surrogate.rankedId(
        committed.withColumn("wneg", -col("toks")), Seq("wneg", "doc_id"), "rk")
      .withColumn("shard", expr(s"CAST((rk - 1) % ${TextOps.nShards} AS INT)"))
      .select(col("doc_id"), col("source"), col("lang"), col("toks"),
        col("lane"), col("pack_id"), col("rk"), col("shard"), col("text"))
      .materialized // consumed four times: shards, manifest, lanes, index
    Publish(s, path) { tmp =>
      writeShardsAndManifest(rows, tmp)
      lanesOf(rows).write.parquet(s"$tmp/lanes.parquet")
      stageIndex(rows, rows.agg(max(col("rk"))).head.getLong(0), s"$tmp/index")
    }
    s.read.parquet(s"$path/manifest.parquet")
  }

  /** Stage the serve index of corpus `rows` into `dst` (an index root
    * or batch being published): the [[Dedup.buildDedupIndexFrom]]
    * tables plus the one-row `max_rk` table, the highest manifest-tier
    * rank whose signatures the index holds once `dst` commits. */
  private def stageIndex(rows: DataFrame, maxRk: Long, dst: String): Unit = {
    import rows.sparkSession.implicits._
    Dedup.buildDedupIndexFrom(rows.select(col("doc_id"), col("text")), dst)
    Seq(maxRk).toDF("max_rk").coalesce(1).write.parquet(s"$dst/max_rk")
  }

  /** The largest `max_rk` over the serve index root and its batches
    * ([[stageIndex]]): the manifest-tier rank the index covers. None
    * when nothing carries one — no index yet, or an index written
    * before coverage rows existed. */
  private[graft] def indexCoverage(s: SparkSession, idx: String): Option[Long] = {
    val fs = new org.apache.hadoop.fs.Path(idx).getFileSystem(s.sparkContext.hadoopConfiguration)
    val covered = Publish.roots(s, idx)
      .filter(r => fs.exists(new org.apache.hadoop.fs.Path(s"$r/max_rk")))
    if (covered.isEmpty) None
    else Some(Publish.readRoots(s, covered, "max_rk", "max_rk BIGINT")
      .agg(max(col("max_rk"))).head.getLong(0))
  }

  /** Shard files (one per shard, rows by doc_id) plus their manifest,
    * written under `root` — the layout [[corpusWrite]] and
    * [[corpusCompact]] stage. */
  private def writeShardsAndManifest(rows: DataFrame, root: String): Unit = {
    rows
      .repartition(TextOps.nShards, col("shard"))
      .sortWithinPartitions(col("shard"), col("doc_id"))
      .write.partitionBy("shard").parquet(s"$root/shards.parquet")
    manifestOf(rows)
      .coalesce(1) // nShards rows — a report, not data
      .write.parquet(s"$root/manifest.parquet")
  }

  /** Per-(lang, lane) token cursors over corpus rows — the pack
    * continuation state [[corpusUpsert]] reads. */
  private def lanesOf(rows: DataFrame): DataFrame =
    rows.groupBy(col("lang"), col("lane")).agg(sum(col("toks")).as("lane_toks")).coalesce(1)

  /** The manifest rollup over materialized corpus rows — shared by
    * [[corpusWrite]] and [[corpusUpsert]] so the full build and the
    * increment produce identical manifest semantics (the content
    * signature is the order-insensitive [[Audit.qChecksum]] device).
    */
  private def manifestOf(rows: DataFrame): DataFrame =
    rows
      .groupBy(col("shard"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("toks")).as("n_tokens"),
        min(col("rk")).as("min_rk"),
        max(col("rk")).as("max_rk"),
        expr("bit_xor(xxhash64(doc_id, text))").as("content_sig"))

  /** Recover every published target of a corpus: the root first, then
    * the tables [[corpusUpsert]] swaps inside it (the serve index and
    * its batches recover when read). */
  private def recoverCorpus(s: SparkSession, path: String): Unit =
    (path +: Seq("manifest", "lanes").map(t => s"$path/$t.parquet"))
      .foreach(Publish.recover(s, _))

  /** Auto-compaction threshold: once the committed
    * manifest carries more than this many shard rows — the canonical
    * [[TextOps.nShards]] plus accumulated [[corpusUpsert]] generations
    * (each appends up to nShards small generation-local shards) — the
    * upsert folds the layout back through [[corpusCompact]] before
    * returning. 4× keeps read fan-out and generation-local rank
    * staleness bounded while amortizing the rewrite over ≥ 3·nShards
    * committed increments.
    */
  private[graft] val CompactAfterShards: Int = 4 * TextOps.nShards

  /** Per-document verdicts for an increment of NEW documents probed
    * against a published corpus's serve index — the ONE increment
    * funnel [[corpusUpsert]] commits and the streaming near-dedup tier
    * ([[graft.streaming.Streams.corpusIncrements]]) emits per
    * micro-batch, so the two cannot disagree on a verdict:
    *
    *   - `alive_rules`: the shared map-only column rules (normalize /
    *     lang-ID / quality / repetition — the batch composition's).
    *   - `alive_exact`: rules ∧ first-wins (min doc_id) within the
    *     increment ∧ no verbatim copy in the index's md5 table.
    *   - `alive_near`: exact ∧ not near-dropped within the increment
    *     ([[Dedup.nearPairsFrom]], keep-first) ∧ not a near-dup of an
    *     indexed doc ([[Dedup.incrementalDedup]] broadcast probe — the
    *     corpus moves zero times).
    *
    * `beforeId`: when set, index entries with doc_id ≥ the bound are
    * ignored by BOTH probes. Under the engine's in-order arrival
    * contract (ids strictly increase across increments) passing the
    * increment's min id makes the computation IDEMPOTENT against
    * index appends the same increment may have already committed — a
    * re-delivered micro-batch (foreachBatch is at-least-once on
    * restart) recomputes the identical verdicts instead of seeing its
    * own signatures and marking itself duplicate.
    *
    * Increment-sized throughout: one map pass over the new docs, the
    * banded within-increment self-join, and two broadcast probes of
    * the persisted index.
    */
  private[graft] def incrementVerdicts(s: SparkSession, idx: String,
      newDocs: DataFrame, beforeId: Option[Long] = None): DataFrame = {
    def gate(df: DataFrame): DataFrame =
      beforeId.map(b => df.filter(col("doc_id") < b)).getOrElse(df)
    val v = newDocs.select(
        col("doc_id").cast("long").as("doc_id"), col("source"), col("lang"),
        col("text"), TextOps.packToks.as("toks"),
        Dedup.contentMd5(col("text")).as("content_md5"),
        ((TextOps.langPred === "en") && TextOps.qualityKeep(col("text")) &&
          !TextOps.safetyBlocked(col("text")) &&
          !TextOps.repetitive(col("text"))).as("alive_rules"))
      .materialized
    val ruleAlive = v.filter(col("alive_rules"))
    // exact tier: first-wins within the increment, then the corpus probe
    val firstWins = ruleAlive.groupBy(col("content_md5"))
      .agg(min(col("doc_id")).as("keep_id"))
    val aliveExact = ruleAlive.join(firstWins, "content_md5")
      .filter(col("doc_id") === col("keep_id")).drop("keep_id")
      .join(gate(Dedup.readDedupIndex(s, idx, "md5")).select(col("content_md5")),
        Seq("content_md5"), "left_anti")
    // near tier: within-increment keep-first + the index serve
    val incDrops = Dedup.nearPairsFrom(aliveExact.select(col("doc_id"), col("text")))
      .select(col("id_b").as("doc_id")).distinct()
    val aliveInc = aliveExact.join(incDrops, Seq("doc_id"), "left_anti")
    val idxDrops = Dedup
      .incrementalDedup(s, idx, aliveInc.select(col("doc_id"), col("text")), beforeId)
      .filter(col("is_dup")).select(col("doc_id"))
    v.join(aliveExact.select(col("doc_id"), lit(true).as("ex")), Seq("doc_id"), "left")
      .join(incDrops.select(col("doc_id"), lit(true).as("nd")), Seq("doc_id"), "left")
      .join(idxDrops.select(col("doc_id"), lit(true).as("xd")), Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"), col("lang"), col("text"), col("toks"),
        col("content_md5"), col("alive_rules"),
        coalesce(col("ex"), lit(false)).as("alive_exact"),
        (coalesce(col("ex"), lit(false)) &&
          col("nd").isNull && col("xd").isNull).as("alive_near"))
  }

  /** Incremental corpus refresh (r15): run a batch of NEW documents
    * through the same verdict funnel as the full build and append the
    * survivors to a PUBLISHED corpus — increment-sized work, zero
    * corpus rewrite. The production shape for a corpus that grows by
    * arrivals: at 100 TB published / 1 GB arriving, the full
    * [[corpusWrite]] rebuild re-pays the whole corpus; this pays the
    * increment.
    *
    * Stage rules are the batch composition's, re-expressed for an
    * increment (document ids must be NEW and greater than the
    * published ids — the same in-order arrival contract as the
    * streaming census's pack cursors):
    *
    *   - funnel verdicts (normalize / lang-ID / quality / safety /
    *     repetition)
    *     via the SAME shared column rules as [[survivorVerdicts]] and
    *     `Streams.corpusVerdicts` — one map-only pass.
    *   - exact tier: first-wins within the increment, then an
    *     unconditional md5 probe against the index's exact table
    *     (subsumes the near serve for verbatim copies BELOW the
    *     shingle floor, where Jaccard is blind).
    *   - near tier: [[Dedup.nearPairsFrom]] within the increment
    *     (keep-first, the census rule) + the persisted-index
    *     broadcast-probe serve ([[Dedup.incrementalDedup]] — the
    *     corpus moves ZERO times).
    *   - pack: the `q_pack_sequences` running sums CONTINUE from
    *     per-(lang, lane) cursors persisted next to the manifest —
    *     the batch face of the streaming census's keyed pack state.
    *   - shard: survivors rank by the same (desc toks, doc_id) rule
    *     WITHIN the generation (`rk` continues after the published
    *     max), landing in up to [[TextOps.nShards]] NEW shard ids —
    *     existing shards are never rewritten; a full rebuild would
    *     re-rank globally, which an append by definition cannot, so
    *     the LPT layout is generation-local by design.
    *
    * Durability: new shard partitions land FIRST (invisible to
    * manifest-driven readers), then the manifest swap COMMITS the
    * increment, then the serve tail follows: the lane cursors swap,
    * then the increment's signatures publish as one index batch whose
    * `max_rk` row records the manifest rank the index now covers, so
    * that batch commits the tail. A crash before the manifest swap
    * leaves orphaned shard dirs that the next upsert skips past (new
    * ids are allocated past both the manifest and any dirs on disk,
    * and every bootstrap read is filtered to manifest-LISTED shards, so
    * orphan text is never indexed). At the start of every upsert the
    * index coverage (largest `max_rk` over the index root and its
    * batches) is compared with the committed manifest: below it means
    * a crash inside the tail, healed by recomputing the lane cursors
    * and appending the missing rows' signatures as one batch (a
    * replay of that batch is another publish of it). No coverage (no
    * index yet, or one written before coverage rows) or coverage above
    * the manifest rebuilds the index root from the committed corpus.
    * [[corpusCompact]] removes the orphan dirs themselves.
    *
    * First call against a corpus published by [[corpusWrite]]
    * bootstraps the serve index and lane cursors from the shards (one
    * corpus-sized map pass, paid once, amortized over every later
    * increment).
    *
    * Auto-compaction: after the commit, if the
    * manifest has grown past `compactAfter` shard rows the increment
    * layout folds back to canonical via [[corpusCompact]] — the
    * policy that actually TRIGGERS the compactor (nothing did in r16).
    *
    * @param compactAfter manifest-row threshold ([[CompactAfterShards]]
    *   default; tests pass a small value to exercise the trigger)
    * @return the committed manifest (old + increment shard rows; the
    *   compacted manifest when the policy fired)
    */
  def corpusUpsert(s: SparkSession, path: String, newDocs: DataFrame,
      compactAfter: Int = CompactAfterShards): DataFrame = {
    recoverCorpus(s, path)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    val idx = s"$path/index"
    val curManifest = s.read.parquet(s"$path/manifest.parquet").materialized

    // bootstrap the serve structures from the COMMITTED corpus — the
    // shard scan is filtered to manifest-listed shard ids: a crash
    // before a manifest swap leaves orphaned uncommitted shard dirs on
    // disk, and an unfiltered bootstrap would index orphan text —
    // later legitimate arrivals matching it silently dropped — and
    // inflate lane cursors past the committed state. The id list is
    // manifest-sized metadata, pushed as a static partition filter so
    // the scan never opens an orphan dir.
    def committedShards(): DataFrame = {
      val ids = curManifest.select(col("shard")).collect()
        .map(_.getAs[Int]("shard"))
      s.read.parquet(s"$path/shards.parquet")
        .filter(col("shard").isin(ids.map(Integer.valueOf): _*))
    }
    // committed manifest high-water mark (tiny metadata agg): the
    // rank the serve tail must cover, reused for id allocation below
    val committedMaxRk = curManifest.agg(max(col("max_rk"))).collect()(0).getLong(0)
    def recomputeLanes(): Unit =
      Publish(s, s"$path/lanes.parquet")(lanesOf(committedShards()).write.parquet)
    // serve index rows of `rows`, covering manifest rank `maxRk`, as
    // the batch named by their smallest doc_id
    def appendIndex(rows: DataFrame, minId: Long, maxRk: Long): Unit =
      Publish(s, Publish.batchOf(idx, minId))(stageIndex(rows, maxRk, _))
    // bootstrap or heal the serve tail (see Durability above)
    val coverage = indexCoverage(s, idx)
    if (!coverage.contains(committedMaxRk)) {
      recomputeLanes()
      coverage.filter(_ < committedMaxRk) match {
        case Some(c) =>
          val missing = committedShards().filter(col("rk") > c)
          appendIndex(missing, missing.agg(min(col("doc_id"))).head.getLong(0), committedMaxRk)
        case None =>
          Publish(s, idx)(stageIndex(committedShards(), committedMaxRk, _))
      }
    }

    // funnel verdicts + both dedup tiers — the shared increment chain
    // ([[incrementVerdicts]], also the streaming tier's per-batch step)
    val survivors = incrementVerdicts(s, idx, newDocs)
      .filter(col("alive_near"))
      .select(col("content_md5"), col("doc_id"), col("source"), col("lang"),
        col("text"), col("toks"))
      .materialized
    val inc = survivors.agg(count(lit(1)), min(col("doc_id"))).head
    val nInc = inc.getLong(0)
    if (nInc == 0) return curManifest

    // id allocation: past the manifest AND any orphaned dirs on disk
    val maxRk = committedMaxRk
    val dirShards = fs.listStatus(new org.apache.hadoop.fs.Path(s"$path/shards.parquet"))
      .map(_.getPath.getName).collect { case n if n.startsWith("shard=") =>
        n.stripPrefix("shard=").toInt }
    val maxShard = math.max(
      curManifest.agg(max(col("shard"))).collect()(0).getInt(0),
      if (dirShards.isEmpty) -1 else dirShards.max)
    val nIncShards = math.min(TextOps.nShards.toLong, nInc).toInt

    // pack continuation from the persisted cursors; rank within the
    // generation by the shared (desc toks, doc_id) rule
    val lanes = s.read.parquet(s"$path/lanes.parquet").materialized
    val laneW = Window.partitionBy(col("lang"), col("lane")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val packed = survivors
      .withColumn("lane", col("doc_id") % TextOps.packLanes)
      .join(broadcast(lanes.withColumnRenamed("lane_toks", "lane_base")),
        Seq("lang", "lane"), "left")
      .na.fill(0L, Seq("lane_base"))
      .withColumn("cum", col("lane_base") + sum(col("toks")).over(laneW))
      .withColumn("pack_id", expr(s"(cum - toks) DIV ${TextOps.packBudget}"))
      .drop("cum", "lane_base")
    val rows = graft.plans.Surrogate.rankedId(
        packed.withColumn("wneg", -col("toks")), Seq("wneg", "doc_id"), "rk_inc")
      .withColumn("rk", col("rk_inc") + lit(maxRk))
      .withColumn("shard",
        expr(s"CAST($maxShard + 1 + ((rk_inc - 1) % $nIncShards) AS INT)"))
      .select(col("doc_id"), col("source"), col("lang"), col("toks"),
        col("lane"), col("pack_id"), col("rk"), col("shard"), col("text"))
      .materialized

    // data first (invisible until the manifest commit below)
    rows.repartition(nIncShards, col("shard"))
      .sortWithinPartitions(col("shard"), col("doc_id"))
      .write.mode("append").partitionBy("shard").parquet(s"$path/shards.parquet")

    // the commit point: manifest swap
    Publish(s, s"$path/manifest.parquet")(
      curManifest.unionByName(manifestOf(rows)).coalesce(1).write.parquet)

    // the serve tail: lane cursors, then the index batch that commits it
    Publish(s, s"$path/lanes.parquet")(
      lanes.unionByName(lanesOf(rows))
        .groupBy(col("lang"), col("lane"))
        .agg(sum(col("lane_toks")).as("lane_toks"))
        .coalesce(1).write.parquet)
    appendIndex(rows, inc.getLong(1), maxRk + nInc)

    // auto-compaction: fold generation shards once the layout is past
    // the policy bound (compactAfter manifest rows)
    val nManifest = s.read.parquet(s"$path/manifest.parquet").count()
    if (nManifest > compactAfter) corpusCompact(s, path)
    else s.read.parquet(s"$path/manifest.parquet")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_corpus_build" -> qCorpusBuild _,
    "q_corpus_manifest" -> qCorpusManifest _)

  /** Oracle for [[qCorpusBuild]] — fully hash-checked: the six constituents' order-free CTE bodies composed
    * doc-keyed, the keep-first near-drop replay, the pack running-sum
    * window, the shard rank modulo, and the 11-row census expansion.
    */
  /** The verdict pipeline as order-free CTEs ending at `cb_v` — shared
    * by [[qCorpusBuildSql]] and [[qCorpusManifestSql]] so the census
    * and the manifest oracle cannot drift on a single verdict.
    */
  private val corpusVerdictCtes: String =
    s"""cb_base AS (
       |  SELECT doc_id, source, lang, ${TextOps.packToksDuck} AS toks,
       |         md5(text) AS raw_md5
       |  FROM documents),
       |cb_lang AS (${TextOps.qLangIdBody}),
       |cb_qual AS (${TextOps.qQualityScoreBody}),
       |cb_rep AS (${TextOps.qRepetitionBody}),
       |cb_dex AS (${Dedup.qDedupExactBody}),
       |cb_norm AS (${TextOps.qNormalizeTextBody}),
       |cb_safe AS (${TextOps.safetyDocBody}),
       |cb_mh AS (${Dedup.qDedupMinhashBody}),
       |cb_v0 AS MATERIALIZED (
       |  SELECT b.doc_id, b.source, b.lang, b.toks, b.raw_md5, n.norm_md5,
       |    (l.lang_pred = 'en') AS alive_lang,
       |    (l.lang_pred = 'en' AND q.is_keep) AS alive_quality,
       |    (l.lang_pred = 'en' AND q.is_keep AND NOT sf.is_blocked) AS alive_safety,
       |    (l.lang_pred = 'en' AND q.is_keep AND NOT sf.is_blocked
       |       AND NOT r.is_repetitive) AS alive_rep,
       |    (l.lang_pred = 'en' AND q.is_keep AND NOT sf.is_blocked
       |       AND NOT r.is_repetitive AND NOT d.is_dup) AS alive_exact
       |  FROM cb_base b
       |  JOIN cb_lang l ON b.doc_id = l.doc_id
       |  JOIN cb_qual q ON b.doc_id = q.doc_id
       |  JOIN cb_rep r ON b.doc_id = r.doc_id
       |  JOIN cb_dex d ON b.doc_id = d.doc_id
       |  JOIN cb_norm n ON b.doc_id = n.doc_id
       |  JOIN cb_safe sf ON b.doc_id = sf.doc_id),
       |cb_near AS (
       |  SELECT DISTINCT m.id_b AS doc_id
       |  FROM cb_mh m JOIN cb_v0 v ON m.id_a = v.doc_id AND v.alive_exact),
       |cb_v AS MATERIALIZED (
       |  SELECT v.*, (v.alive_exact AND nd.doc_id IS NULL) AS alive_near
       |  FROM cb_v0 v LEFT JOIN cb_near nd ON v.doc_id = nd.doc_id)""".stripMargin

  val qCorpusBuildSql: String = {
    val budget = TextOps.packBudget
    val lanes = TextOps.packLanes
    val shards = TextOps.nShards
    s"""WITH $corpusVerdictCtes,
       |cb_census AS (
       |  SELECT COUNT(*) AS d0, CAST(SUM(toks) AS BIGINT) AS t0,
       |    CAST(COALESCE(SUM(CASE WHEN norm_md5 <> raw_md5 THEN 1 END), 0) AS BIGINT) AS n_changed,
       |    CAST(COALESCE(SUM(CASE WHEN alive_lang THEN 1 END), 0) AS BIGINT) AS d1,
       |    CAST(COALESCE(SUM(CASE WHEN alive_lang THEN toks END), 0) AS BIGINT) AS t1,
       |    CAST(COALESCE(SUM(CASE WHEN alive_quality THEN 1 END), 0) AS BIGINT) AS d2,
       |    CAST(COALESCE(SUM(CASE WHEN alive_quality THEN toks END), 0) AS BIGINT) AS t2,
       |    CAST(COALESCE(SUM(CASE WHEN alive_safety THEN 1 END), 0) AS BIGINT) AS d2s,
       |    CAST(COALESCE(SUM(CASE WHEN alive_safety THEN toks END), 0) AS BIGINT) AS t2s,
       |    CAST(COALESCE(SUM(CASE WHEN alive_rep THEN 1 END), 0) AS BIGINT) AS d3,
       |    CAST(COALESCE(SUM(CASE WHEN alive_rep THEN toks END), 0) AS BIGINT) AS t3,
       |    CAST(COALESCE(SUM(CASE WHEN alive_exact THEN 1 END), 0) AS BIGINT) AS d4,
       |    CAST(COALESCE(SUM(CASE WHEN alive_exact THEN toks END), 0) AS BIGINT) AS t4,
       |    CAST(COALESCE(SUM(CASE WHEN alive_near THEN 1 END), 0) AS BIGINT) AS d5,
       |    CAST(COALESCE(SUM(CASE WHEN alive_near THEN toks END), 0) AS BIGINT) AS t5,
       |    CAST(COUNT(DISTINCT CASE WHEN alive_near THEN source END) AS BIGINT) AS n_sources
       |  FROM cb_v),
       |cb_packlanes AS (
       |  SELECT doc_id, lang, doc_id % $lanes AS lane, toks,
       |    SUM(toks) OVER (PARTITION BY lang, doc_id % $lanes ORDER BY doc_id
       |                    ROWS UNBOUNDED PRECEDING) AS cum
       |  FROM cb_v WHERE alive_near),
       |cb_packs AS (
       |  SELECT lang, lane, (cum - toks) // $budget AS pack_id,
       |         CAST(SUM(toks) AS BIGINT) AS n_tokens
       |  FROM cb_packlanes GROUP BY 1, 2, 3),
       |cb_pk AS (
       |  SELECT CAST(COALESCE(COUNT(*), 0) AS BIGINT) AS n_packs,
       |         CAST(COALESCE(SUM(n_tokens), 0) AS BIGINT) AS pack_tokens
       |  FROM cb_packs),
       |cb_sh AS (
       |  SELECT CAST(COALESCE(COUNT(DISTINCT (rk - 1) % $shards), 0) AS BIGINT) AS n_shards
       |  FROM (SELECT ROW_NUMBER() OVER (ORDER BY toks DESC, doc_id) AS rk
       |        FROM cb_v WHERE alive_near))
       |SELECT * FROM (
       |  SELECT CAST(1 AS BIGINT) AS stage_id, 'ingest' AS stage,
       |         d0 AS n_docs, t0 AS n_tokens, d0 AS n_units FROM cb_census
       |  UNION ALL SELECT CAST(2 AS BIGINT), 'normalize', d0, t0, n_changed FROM cb_census
       |  UNION ALL SELECT CAST(3 AS BIGINT), 'lang_id', d1, t1, d0 - d1 FROM cb_census
       |  UNION ALL SELECT CAST(4 AS BIGINT), 'quality', d2, t2, d1 - d2 FROM cb_census
       |  UNION ALL SELECT CAST(5 AS BIGINT), 'safety', d2s, t2s, d2 - d2s FROM cb_census
       |  UNION ALL SELECT CAST(6 AS BIGINT), 'repetition', d3, t3, d2s - d3 FROM cb_census
       |  UNION ALL SELECT CAST(7 AS BIGINT), 'dedup_exact', d4, t4, d3 - d4 FROM cb_census
       |  UNION ALL SELECT CAST(8 AS BIGINT), 'dedup_near', d5, t5, d4 - d5 FROM cb_census
       |  UNION ALL SELECT CAST(9 AS BIGINT), 'pack', d5, pack_tokens, n_packs
       |    FROM cb_census CROSS JOIN cb_pk
       |  UNION ALL SELECT CAST(10 AS BIGINT), 'shard', d5, t5, n_shards
       |    FROM cb_census CROSS JOIN cb_sh
       |  UNION ALL SELECT CAST(11 AS BIGINT), 'dataset_card', d5, t5, n_sources FROM cb_census)
       |ORDER BY stage_id""".stripMargin
  }

  /** Oracle for [[qCorpusManifest]] — the shared verdict CTE chain
    * plus the rank-modulo shard rollup.
    */
  val qCorpusManifestSql: String =
    s"""WITH $corpusVerdictCtes,
       |cb_rk AS (
       |  SELECT doc_id, toks,
       |    ROW_NUMBER() OVER (ORDER BY toks DESC, doc_id) AS rk
       |  FROM cb_v WHERE alive_near)
       |SELECT CAST((rk - 1) % ${TextOps.nShards} AS INTEGER) AS shard,
       |  COUNT(*) AS n_docs,
       |  CAST(SUM(toks) AS BIGINT) AS n_tokens,
       |  MIN(rk) AS min_rk,
       |  MAX(rk) AS max_rk
       |FROM cb_rk
       |GROUP BY 1
       |ORDER BY shard""".stripMargin

  val oracle: Map[String, String] = Map(
    "q_corpus_build" -> qCorpusBuildSql,
    "q_corpus_manifest" -> qCorpusManifestSql)
}
