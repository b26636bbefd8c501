package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.plans.Materialize._
import graft.plans.{Publish, SlotFold, TopK}
import graft.sources.Ingest

/** Text-analysis operators for the LLM-training-data pipeline
  * (SURVEY.md §2 rows 26-30): language ID, quality scoring, token
  * counting, document fingerprinting, multimodal metadata plumbing.
  *
  * Everything here is per-row expression work (no joins, no shuffles
  * except the final ORDER BY for oracle parity) — at 100 TB these are
  * map-only stages that scale linearly with executors. All expressions
  * stay inside whole-stage codegen: built-ins + SQL lambda
  * higher-order functions only, no UDFs.
  */
object TextOps {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Ingest.table(s, dir, "documents")

  // Language-marker stopword lists (tiny on purpose: the heuristic is
  // "which language's function words dominate" — same shape as langid's
  // feature voting, reduced to pure SQL so the oracle can replay it).
  private val enStops = graft.functions.QualityStats.StopWords
  private val esStops = Seq("el", "la", "de", "que", "y", "en")
  private val deStops = Seq("der", "die", "das", "und", "ist", "zu")
  private val frStops = Seq("le", "les", "des", "et", "une", "est")

  private def inList(ws: Seq[String]): String =
    ws.map(w => s"'$w'").mkString(", ")

  /** count of words of `text` that appear in the marker list. */
  private def stopCount(ws: Seq[String]): Column =
    expr(s"CAST(size(filter(split(text, ' '), w -> w IN (${inList(ws)}))) AS BIGINT)")

  /** The language-ID argmax RULE over precomputed vote counts —
    * SHARED by the batch [[qLangId]] (which feeds it the projected
    * `s_*` columns, so each stopword scan runs ONCE per row) and the
    * streaming corpus census
    * ([[graft.streaming.Streams.corpusVerdicts]]): the decision rule
    * agrees by construction (the [[qualityKeep]] contract), while each
    * caller keeps the plan shape it wants.
    */
  private[graft] def langPredFrom(
      se: Column, ses: Column, sde: Column, sfr: Column, nna: Column): Column =
    when(nna > 0, "zh")
      .when(se >= ses && se >= sde && se >= sfr, "en")
      .when(ses >= sde && ses >= sfr, "es")
      .when(sde >= sfr, "de")
      .otherwise("fr")

  /** [[langPredFrom]] as a pure function of the `text` column (the
    * streaming caller's form — one row in, one verdict out; NOT for
    * wide batch scans, where the vote columns should be projected once
    * and [[langPredFrom]] applied to them: recomputing the five vote
    * scans inside the CASE cost q_lang_id 0.55 → 0.92 s at sf0.1, the
    * r15 WALL-DRIFT tripwire catch).
    */
  private[graft] def langPred: Column =
    langPredFrom(stopCount(enStops), stopCount(esStops),
      stopCount(deStops), stopCount(frStops),
      expr("CAST(regexp_count(text, '[^\\\\x00-\\\\x7f]') AS BIGINT)"))

  /** Language ID: stopword-vote heuristic + non-ASCII (CJK) detection.
    * Deterministic argmax with a fixed tie-break order (en>es>de>fr).
    */
  def qLangId(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(
        col("doc_id"),
        stopCount(enStops).as("s_en"),
        stopCount(esStops).as("s_es"),
        stopCount(deStops).as("s_de"),
        stopCount(frStops).as("s_fr"),
        expr("CAST(regexp_count(text, '[^\\\\x00-\\\\x7f]') AS BIGINT)").as("n_nonascii"))
      .withColumn("lang_pred", langPredFrom(
        col("s_en"), col("s_es"), col("s_de"), col("s_fr"), col("n_nonascii")))

  /** Order-free oracle body — see [[qQualityScoreBody]]. */
  private[graft] val qLangIdBody: String =
    s"""SELECT doc_id,
       |  CAST(len(list_filter(string_split(text, ' '), w -> w IN (${inList(enStops)}))) AS BIGINT) AS s_en,
       |  CAST(len(list_filter(string_split(text, ' '), w -> w IN (${inList(esStops)}))) AS BIGINT) AS s_es,
       |  CAST(len(list_filter(string_split(text, ' '), w -> w IN (${inList(deStops)}))) AS BIGINT) AS s_de,
       |  CAST(len(list_filter(string_split(text, ' '), w -> w IN (${inList(frStops)}))) AS BIGINT) AS s_fr,
       |  CAST(len(regexp_extract_all(text, '[^\\x00-\\x7f]')) AS BIGINT) AS n_nonascii,
       |  CASE WHEN len(regexp_extract_all(text, '[^\\x00-\\x7f]')) > 0 THEN 'zh'
       |       WHEN len(list_filter(string_split(text, ' '), w -> w IN (${inList(enStops)}))) >= len(list_filter(string_split(text, ' '), w -> w IN (${inList(esStops)})))
       |        AND len(list_filter(string_split(text, ' '), w -> w IN (${inList(enStops)}))) >= len(list_filter(string_split(text, ' '), w -> w IN (${inList(deStops)})))
       |        AND len(list_filter(string_split(text, ' '), w -> w IN (${inList(enStops)}))) >= len(list_filter(string_split(text, ' '), w -> w IN (${inList(frStops)}))) THEN 'en'
       |       WHEN len(list_filter(string_split(text, ' '), w -> w IN (${inList(esStops)}))) >= len(list_filter(string_split(text, ' '), w -> w IN (${inList(deStops)})))
       |        AND len(list_filter(string_split(text, ' '), w -> w IN (${inList(esStops)}))) >= len(list_filter(string_split(text, ' '), w -> w IN (${inList(frStops)}))) THEN 'es'
       |       WHEN len(list_filter(string_split(text, ' '), w -> w IN (${inList(deStops)}))) >= len(list_filter(string_split(text, ' '), w -> w IN (${inList(frStops)}))) THEN 'de'
       |       ELSE 'fr' END AS lang_pred
       |FROM documents""".stripMargin

  val qLangIdSql: String = qLangIdBody + "\nORDER BY doc_id"

  /** Language-ID ACCURACY audit: the labeled `lang` column crossed
    * with [[qLangId]]'s prediction — the confusion matrix every
    * production lang-ID deployment reads before trusting per-lang mix
    * budgets downstream. Each cell carries the doc count plus the
    * vote-margin evidence (winner minus runner-up stopword votes, and
    * how many decisions were outright ties broken only by the
    * en>es>de>fr priority): a big off-diagonal cell with margin ≈ 0
    * says the marker lists can't separate that pair on this corpus —
    * grow the lists, don't trust the split.
    *
    * The prediction replays [[qLangId]]'s argmax EXACTLY (the same
    * non-ASCII route, then the same vote order) as one lexicographic
    * struct array_sort per doc — both engines sort struct fields in
    * declaration order, so pred here equals lang_pred there by
    * construction (InvariantSpec pins it). zh-routed docs carry no
    * vote margin (the vote never ran); their cell still counts docs.
    *
    * Shape at scale: map-only scoring, one partial-aggregated shuffle
    * into a ≤ langs² rollup.
    */
  def qLangConfusion(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"), col("lang"),
        stopCount(enStops).as("s_en"),
        stopCount(esStops).as("s_es"),
        stopCount(deStops).as("s_de"),
        stopCount(frStops).as("s_fr"),
        expr("CAST(regexp_count(text, '[^\\\\x00-\\\\x7f]') AS BIGINT)").as("n_nonascii"))
      .withColumn("ranked", expr(
        "array_sort(array(" +
          "struct(-s_en AS ns, 0 AS p, 'en' AS lang), " +
          "struct(-s_es AS ns, 1 AS p, 'es' AS lang), " +
          "struct(-s_de AS ns, 2 AS p, 'de' AS lang), " +
          "struct(-s_fr AS ns, 3 AS p, 'fr' AS lang)))"))
      .select(col("lang"),
        when(col("n_nonascii") > 0, "zh").otherwise(expr("ranked[0].lang"))
          .as("lang_pred"),
        (col("n_nonascii") === 0).as("voted"),
        expr("ranked[1].ns - ranked[0].ns").as("margin"))
      .groupBy(col("lang"), col("lang_pred"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("voted"), 1L).otherwise(0L)).as("n_voted"),
        sum(when(col("voted") && col("margin") === 0, 1L).otherwise(0L)).as("n_ties"),
        coalesce(sum(when(col("voted"), col("margin"))), lit(0L)).as("sum_margin"))

  val qLangConfusionSql: String =
    s"""WITH sc AS (
       |  SELECT doc_id, lang,
       |    CAST(len(list_filter(string_split(text, ' '), w -> w IN (${inList(enStops)}))) AS BIGINT) AS s_en,
       |    CAST(len(list_filter(string_split(text, ' '), w -> w IN (${inList(esStops)}))) AS BIGINT) AS s_es,
       |    CAST(len(list_filter(string_split(text, ' '), w -> w IN (${inList(deStops)}))) AS BIGINT) AS s_de,
       |    CAST(len(list_filter(string_split(text, ' '), w -> w IN (${inList(frStops)}))) AS BIGINT) AS s_fr,
       |    CAST(len(regexp_extract_all(text, '[^\\x00-\\x7f]')) AS BIGINT) AS n_nonascii
       |  FROM documents),
       |r AS (
       |  SELECT lang, n_nonascii, list_sort([
       |    {'ns': -s_en, 'p': 0, 'lang': 'en'},
       |    {'ns': -s_es, 'p': 1, 'lang': 'es'},
       |    {'ns': -s_de, 'p': 2, 'lang': 'de'},
       |    {'ns': -s_fr, 'p': 3, 'lang': 'fr'}]) AS ranked
       |  FROM sc),
       |m AS (
       |  SELECT lang,
       |    CASE WHEN n_nonascii > 0 THEN 'zh' ELSE ranked[1].lang END AS lang_pred,
       |    n_nonascii = 0 AS voted,
       |    ranked[2].ns - ranked[1].ns AS margin
       |  FROM r)
       |SELECT lang, lang_pred, COUNT(*) AS n_docs,
       |  CAST(SUM(CASE WHEN voted THEN 1 ELSE 0 END) AS BIGINT) AS n_voted,
       |  CAST(SUM(CASE WHEN voted AND margin = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_ties,
       |  CAST(COALESCE(SUM(CASE WHEN voted THEN margin END), 0) AS BIGINT) AS sum_margin
       |FROM m GROUP BY lang, lang_pred
       |ORDER BY lang, lang_pred""".stripMargin

  /** The quality keep rule as a pure function of the text column —
    * SHARED by the batch [[qQualityScore]] / [[qFilterPipeline]] and
    * the streaming twin ([[graft.streaming.Streams.corpusFilter]]):
    * the two must agree by construction, not by convention (same
    * contract as [[graft.operators.Dedup.contentMd5]]).
    */
  def qualityKeep(text: Column): Column =
    qualityKeepFrom(graft.functions.QualityStats.column(text))

  /** The keep rule over an already-computed [[graft.functions.QualityStats]]
    * struct — lets wide scans ([[qQualityScore]]) project the one-pass
    * counters ONCE and derive features + verdict from the struct
    * instead of re-traversing the text per feature.
    */
  private[graft] def qualityKeepFrom(qs: Column): Column = {
    val nWords = qs.getField("n_words")
    val avgWordLen = qs.getField("n_nospace").cast("double") / nWords
    val punctRatio = qs.getField("n_punct").cast("double") / qs.getField("n_chars")
    nWords >= 5L && nWords <= 5000L &&
      avgWordLen >= 2.0 && avgWordLen <= 12.0 && punctRatio < 0.2
  }

  /** Document quality scoring: length / word-count / word-length /
    * stopword-ratio / punctuation-ratio features + a keep flag — the
    * classic pre-training quality filter (C4/Gopher-style rules).
    * All five counters come from ONE text traversal
    * ([[graft.functions.QualityStats]], the RepetitionStats device) —
    * the former formulation's three `split` + two regex evaluations
    * were five full corpus re-scans at 100 TB.
    */
  def qQualityScore(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"), graft.functions.QualityStats.column(col("text")).as("qs"))
      .select(
        col("doc_id"),
        col("qs").getField("n_chars").as("n_chars_c"),
        col("qs").getField("n_words").as("n_words"),
        (col("qs").getField("n_nospace").cast("double") /
          col("qs").getField("n_words")).as("avg_word_len"),
        (col("qs").getField("n_stop").cast("double") /
          col("qs").getField("n_words")).as("stopword_ratio"),
        (col("qs").getField("n_punct").cast("double") /
          col("qs").getField("n_chars")).as("punct_ratio"),
        qualityKeepFrom(col("qs")).as("is_keep"))

  /** Order-free oracle body — composers (qFilterPipelineSql,
    * Ann.qHybridSearchSql, CorpusBuild) embed THIS as a CTE; the
    * standalone oracle appends the presentation ORDER BY (no
    * `.replace("ORDER BY …", "")` string surgery, which silently no-ops
    * if the tail clause is ever renamed).
    */
  private[graft] val qQualityScoreBody: String =
    s"""SELECT doc_id,
       |  CAST(length(text) AS BIGINT) AS n_chars_c,
       |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
       |  CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(string_split(text, ' ')) AS avg_word_len,
       |  CAST(len(list_filter(string_split(text, ' '), w -> w IN (${inList(enStops)}))) AS DOUBLE) / len(string_split(text, ' ')) AS stopword_ratio,
       |  CAST(len(regexp_extract_all(text, '[^A-Za-z0-9 ]')) AS DOUBLE) / length(text) AS punct_ratio,
       |  (len(string_split(text, ' ')) BETWEEN 5 AND 5000
       |   AND (CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(string_split(text, ' '))) BETWEEN 2.0 AND 12.0
       |   AND (CAST(len(regexp_extract_all(text, '[^A-Za-z0-9 ]')) AS DOUBLE) / length(text)) < 0.2) AS is_keep
       |FROM documents""".stripMargin

  val qQualityScoreSql: String = qQualityScoreBody + "\nORDER BY doc_id"

  /** Gopher-style document quality gates (Rae et al. 2021, arXiv
    * 2112.11446 appendix A — public rules), per-source audit: each doc
    * is scored against five of the paper's repetition-free gates with
    * the paper's thresholds — word count in [50, 100000], mean word
    * length in [3, 10], symbol-to-word ratio (`#` + `...`) < 0.1,
    * fraction of words containing an alphabetic character > 0.8, and
    * at least 2 distinct stop words present — and the rollup reports
    * per-rule fail counts plus the all-gates keep count per source.
    * The stop gate runs over the house lexicon ([[enStops]], the same
    * list lang-ID votes with) rather than Gopher's own 8-word list:
    * the synthetic vocabulary intersects the paper's list in a single
    * type ("the"), which would zero the gate corpus-wide — the ≥2
    * RULE is the paper's, the lexicon is the engine's, and sharing
    * [[enStops]] means the gate and lang-ID cannot drift apart. The
    * companion to [[qQualityScore]]'s generic features: a NAMED,
    * citable filter whose per-rule attribution tells a corpus owner
    * WHICH gate is costing them documents.
    *
    * Every rule is a pure column expression (codegen, map-only);
    * symbol counts use literal `replace` length deltas rather than
    * regexes so both engines count identically; the stop-word rule
    * counts DISTINCT stop words present by filtering the constant
    * 8-element list against the doc's word set (`array_contains` /
    * `list_contains` — no dedup-semantics dependence). One shuffle:
    * the per-source partial aggregate.
    */
  def qGopherRules(s: SparkSession, dir: String): DataFrame = {
    val nWords = size(split(col("text"), " ")).cast("long")
    val meanLen = length(regexp_replace(col("text"), " ", "")).cast("double") / nWords
    val alphaFrac = expr(
      "CAST(size(filter(split(text, ' '), w -> w RLIKE '[A-Za-z]')) AS DOUBLE)") / nWords
    val symCount = expr("CAST(length(text) - length(replace(text, '#', '')) AS BIGINT)") +
      expr("CAST((length(text) - length(replace(text, '...', ''))) DIV 3 AS BIGINT)")
    val stopHits = expr(s"CAST(size(filter(array(${inList(enStops)}), " +
      "sw -> array_contains(split(text, ' '), sw))) AS BIGINT)")
    docs(s, dir)
      .withColumn("p_words", nWords >= 50L && nWords <= 100000L)
      .withColumn("p_word_len", meanLen >= 3.0 && meanLen <= 10.0)
      .withColumn("p_symbol", symCount.cast("double") / nWords < 0.1)
      .withColumn("p_alpha", alphaFrac > 0.8)
      .withColumn("p_stop", stopHits >= 2L)
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(!col("p_words"), 1L).otherwise(0L)).as("fail_words"),
        sum(when(!col("p_word_len"), 1L).otherwise(0L)).as("fail_word_len"),
        sum(when(!col("p_symbol"), 1L).otherwise(0L)).as("fail_symbol"),
        sum(when(!col("p_alpha"), 1L).otherwise(0L)).as("fail_alpha"),
        sum(when(!col("p_stop"), 1L).otherwise(0L)).as("fail_stop"),
        sum(when(col("p_words") && col("p_word_len") && col("p_symbol") &&
          col("p_alpha") && col("p_stop"), 1L).otherwise(0L)).as("n_keep"))
      .orderBy(col("source"))
  }

  val qGopherRulesSql: String =
    s"""WITH g AS (
      |  SELECT source,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS nw,
      |    CAST(length(replace(text, ' ', '')) AS DOUBLE)
      |      / len(string_split(text, ' ')) AS mwl,
      |    CAST(len(list_filter(string_split(text, ' '),
      |      w -> regexp_matches(w, '[A-Za-z]'))) AS DOUBLE)
      |      / len(string_split(text, ' ')) AS alpha_frac,
      |    CAST(length(text) - length(replace(text, '#', ''))
      |      + (length(text) - length(replace(text, '...', ''))) // 3 AS DOUBLE)
      |      / len(string_split(text, ' ')) AS sym_frac,
      |    CAST(len(list_filter([${inList(enStops)}],
      |      sw -> list_contains(string_split(text, ' '), sw))) AS BIGINT) AS stop_hits
      |  FROM documents),
      |p AS (
      |  SELECT source,
      |    nw >= 50 AND nw <= 100000 AS p_words,
      |    mwl >= 3.0 AND mwl <= 10.0 AS p_word_len,
      |    sym_frac < 0.1 AS p_symbol,
      |    alpha_frac > 0.8 AS p_alpha,
      |    stop_hits >= 2 AS p_stop
      |  FROM g)
      |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(CASE WHEN NOT p_words THEN 1 ELSE 0 END) AS BIGINT) AS fail_words,
      |  CAST(SUM(CASE WHEN NOT p_word_len THEN 1 ELSE 0 END) AS BIGINT) AS fail_word_len,
      |  CAST(SUM(CASE WHEN NOT p_symbol THEN 1 ELSE 0 END) AS BIGINT) AS fail_symbol,
      |  CAST(SUM(CASE WHEN NOT p_alpha THEN 1 ELSE 0 END) AS BIGINT) AS fail_alpha,
      |  CAST(SUM(CASE WHEN NOT p_stop THEN 1 ELSE 0 END) AS BIGINT) AS fail_stop,
      |  CAST(SUM(CASE WHEN p_words AND p_word_len AND p_symbol
      |    AND p_alpha AND p_stop THEN 1 ELSE 0 END) AS BIGINT) AS n_keep
      |FROM p GROUP BY source ORDER BY source""".stripMargin

  // ------------------------------------------------------------------
  // Safety / toxicity lexicon screen — the standard curation filter
  // between quality scoring and dedup in a pre-training pipeline
  // (RefinedWeb / C4 both ship a blocklist stage). House lexicons,
  // three categories; the RULE structure (per-category token
  // membership, density threshold, multi-category escalation) is what
  // the engine provides — a deployment swaps the lists.
  // ------------------------------------------------------------------

  private[graft] val ToxLex = Seq("damn", "hell", "crap", "idiot", "stupid", "moron")
  private[graft] val VioLex = Seq("kill", "murder", "attack", "destroy", "weapon", "bomb")
  private[graft] val AdultLex = Seq("nude", "explicit", "porn", "xxx", "erotic", "nsfw")
  /** blocklist tokens per 1000 whitespace tokens at which a doc is
    * BLOCKED outright (vs merely flagged). */
  private[graft] val SafetyDensityPm = 5L
  /** Leet-digit/symbol fold applied per token before lexicon matching:
    * each FROM char is the canonical substitution
    * for its TO letter (0→o 1→i 3→e 4→a 5→s 7→t @→a $→s), so
    * `5tup1d`/`b0mb`/`n$fw` match their lexicon words. The fold only
    * rewrites digits/symbols — clean prose tokens are untouched, so
    * the clean-corpus screen stays structurally zero. */
  private[graft] val LeetFrom = "013457@$"
  private[graft] val LeetTo = "oieastas"
  /** Wrapping punctuation stripped from token edges after the leet
    * fold (`damn!`, `(hell)` — fold first, or `$`-leet would be
    * stripped as punctuation before it can read as its letter). */
  private[graft] val TokenEdgePunct = "^[^a-z0-9]+|[^a-z0-9]+$"

  /** Either-form lexicon membership: a normalized token
    * hits when its LEET-FOLDED edge-stripped form OR its PLAIN
    * edge-stripped (unfolded) form is a member. Fold-only matching
    * would let `$`/`@` used as genuine trailing punctuation defeat the
    * match (`bomb$` folded to `bombs`, never read as `bomb`) and
    * rewrote every digit-bearing token before membership; matching
    * both forms recovers the leet routes AND the plain-word-with-
    * symbol-punctuation routes. A clean prose token (no digits or
    * symbols) is bit-identical under both forms, so the clean-corpus
    * screen stays structurally zero.
    */
  private def lexHit(w: Column, lex: Seq[String]): Column =
    regexp_replace(translate(w, LeetFrom, LeetTo), TokenEdgePunct, "")
      .isin(lex: _*) ||
      regexp_replace(w, TokenEdgePunct, "").isin(lex: _*)

  /** The safety screen's tokenization — [[graft.functions.NormalizeText]]
    * (accent strip + Unicode lowercase + whitespace collapse) then a
    * single-space split; shared by [[qSafetyScreen]] and the funnel
    * gate [[safetyBlocked]] so the screen row and the corpus build
    * cannot tokenize differently. */
  private def safetyToks(text: Column): Column =
    split(graft.functions.NormalizeText.column(text), " ")

  private def lexHitCount(toks: Column, lex: Seq[String]): Column =
    size(filter(toks, w => lexHit(w, lex))).cast("long")

  /** The BLOCK verdict over the per-category counts — cross-multiplied
    * integers (`(hits·1000) DIV n ≥ p ⇔ hits·1000 ≥ p·n` for n ≥ 1),
    * so the rule needs no division yet agrees bit-exactly with
    * [[qSafetyScreen]]'s `density_pm` column. */
  private def safetyBlockedFrom(cTox: Column, cVio: Column, cAdu: Column,
      nWords: Column): Column = {
    val nCat = (cTox > 0).cast("int") + (cVio > 0).cast("int") +
      (cAdu > 0).cast("int")
    ((cTox + cVio + cAdu) * lit(1000L) >= lit(SafetyDensityPm) * nWords) ||
      nCat >= 2
  }

  /** The safety BLOCK rule as a pure function of the text column —
    * the corpus-build funnel's stage gate, SHARED by
    * the batch composition ([[graft.operators.CorpusBuild]]), the
    * increment chain and the streaming twin (the [[qualityKeep]] /
    * [[repetitive]] contract: agreement by construction, not
    * convention). Flag-only hits (density below the per-mille bound,
    * single category) pass the funnel — production pipelines drop on
    * BLOCK and keep flags as metadata; [[qSafetyScreen]] remains the
    * attribution row that says what the gate cost per source.
    */
  def safetyBlocked(text: Column): Column = {
    val toks = safetyToks(text)
    safetyBlockedFrom(lexHitCount(toks, ToxLex), lexHitCount(toks, VioLex),
      lexHitCount(toks, AdultLex), size(toks).cast("long"))
  }

  /** Safety screen with per-rule / per-source attribution (the
    * [[qGopherRules]] posture): per source, docs hitting each
    * category lexicon (lowercased whitespace-token membership), docs
    * flagged (any hit), docs BLOCKED (density ≥ [[SafetyDensityPm]]
    * per mille OR ≥ 2 categories — the escalation rule), and the
    * worst density. Counts tell a corpus owner WHICH category and
    * WHICH source cost them documents — the attribution a bare
    * keep/drop flag can't give.
    *
    * The driver corpus draws from a shared clean vocabulary, so the
    * screen is structurally zero there (hash-green, vacuous);
    * `tools/make_replica.py --plant-toxicity` plants known per-
    * category positives (pure function of text — dup-preserving) and
    * TextOpsSpec asserts exact recovery of the planted structure —
    * the `--plant-langs` lesson applied to safety.
    *
    * OBFUSCATION HARDENING: a screen over raw lowercased single-space
    * tokens lets accented (`dämn`), tab-separated, punctuation-wrapped
    * (`damn!`) and leet (`5tup1d`) variants pass. Tokens route through
    * the [[graft.functions.NormalizeText]] device first (accent strip +
    * Unicode lowercase + whitespace collapse — the same
    * canonicalization dedup keys on), then membership under the
    * EITHER-FORM rule ([[lexHit]]): leet-folded
    * ([[LeetFrom]]→[[LeetTo]]) + edge-stripped, OR plain edge-stripped
    * ([[TokenEdgePunct]]) — so `5tup1d` (fold route) and `bomb$`
    * (punctuation route) both hit. The oracle replays the same chain
    * in lockstep (`strip_accents` + `translate` + anchored
    * `regexp_replace`); `make_replica.py --plant-toxicity`
    * plants obfuscated routes beside the plain ones and TextOpsSpec
    * asserts each variant class is recovered.
    *
    * Shape at scale: map-only per-doc scoring — tokens split ONCE
    * into a projected column, three membership filters over it (the
    * [[langPredFrom]] project-once rule) — then one partial-
    * aggregated shuffle on source.
    */
  def qSafetyScreen(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .withColumn("rt", safetyToks(col("text")))
      .withColumn("n_words", size(col("rt")).cast("long"))
      .withColumn("c_tox", lexHitCount(col("rt"), ToxLex))
      .withColumn("c_vio", lexHitCount(col("rt"), VioLex))
      .withColumn("c_adu", lexHitCount(col("rt"), AdultLex))
      .withColumn("density_pm",
        expr("((c_tox + c_vio + c_adu) * 1000) DIV n_words"))
      .withColumn("n_cat",
        (col("c_tox") > 0).cast("long") + (col("c_vio") > 0).cast("long") +
          (col("c_adu") > 0).cast("long"))
      .withColumn("is_blocked", safetyBlockedFrom(col("c_tox"), col("c_vio"),
        col("c_adu"), col("n_words")))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("c_tox") > 0, 1L).otherwise(0L)).as("hit_tox"),
        sum(when(col("c_vio") > 0, 1L).otherwise(0L)).as("hit_violence"),
        sum(when(col("c_adu") > 0, 1L).otherwise(0L)).as("hit_adult"),
        sum(when(col("n_cat") > 0, 1L).otherwise(0L)).as("n_flagged"),
        sum(when(col("is_blocked"), 1L).otherwise(0L)).as("n_blocked"),
        max(col("density_pm")).as("max_density_pm"))

  /** The either-form per-token membership as a DuckDB hit-count
    * expression — the SQL twin of [[lexHitCount]]. */
  private def duckHitCount(lex: Seq[String]): String =
    s"""CAST(len(list_filter(toks,
       |      w -> regexp_replace(translate(w, '$LeetFrom', '$LeetTo'),
       |             '$TokenEdgePunct', '', 'g') IN (${inList(lex)})
       |        OR regexp_replace(w, '$TokenEdgePunct', '', 'g')
       |             IN (${inList(lex)}))) AS BIGINT)""".stripMargin

  /** Per-doc safety verdict as a DuckDB CTE body (doc_id, source,
    * n_words, category counts, density, n_cat, is_blocked) — SHARED
    * by [[qSafetyScreenSql]] and the corpus-build funnel oracle
    * ([[graft.operators.CorpusBuild]]), the SQL face of
    * [[safetyBlocked]]: the screen row and the funnel stage replay
    * one rule. */
  private[graft] val safetyDocBody: String =
    s"""SELECT doc_id, source, n_words, c_tox, c_vio, c_adu,
       |  ((c_tox + c_vio + c_adu) * 1000) // n_words AS density_pm,
       |  (CASE WHEN c_tox > 0 THEN 1 ELSE 0 END
       |   + CASE WHEN c_vio > 0 THEN 1 ELSE 0 END
       |   + CASE WHEN c_adu > 0 THEN 1 ELSE 0 END) AS n_cat,
       |  ((c_tox + c_vio + c_adu) * 1000 >= $SafetyDensityPm * n_words
       |   OR (CASE WHEN c_tox > 0 THEN 1 ELSE 0 END
       |     + CASE WHEN c_vio > 0 THEN 1 ELSE 0 END
       |     + CASE WHEN c_adu > 0 THEN 1 ELSE 0 END) >= 2) AS is_blocked
       |FROM (
       |  SELECT doc_id, source,
       |    CAST(len(toks) AS BIGINT) AS n_words,
       |    ${duckHitCount(ToxLex)} AS c_tox,
       |    ${duckHitCount(VioLex)} AS c_vio,
       |    ${duckHitCount(AdultLex)} AS c_adu
       |  FROM (
       |    SELECT doc_id, source,
       |      string_split(trim(regexp_replace(lower(strip_accents(text)),
       |        '\\s+', ' ', 'g')), ' ') AS toks
       |    FROM documents))""".stripMargin

  val qSafetyScreenSql: String =
    s"""WITH d AS ($safetyDocBody)
       |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(CASE WHEN c_tox > 0 THEN 1 ELSE 0 END) AS BIGINT) AS hit_tox,
       |  CAST(SUM(CASE WHEN c_vio > 0 THEN 1 ELSE 0 END) AS BIGINT) AS hit_violence,
       |  CAST(SUM(CASE WHEN c_adu > 0 THEN 1 ELSE 0 END) AS BIGINT) AS hit_adult,
       |  CAST(SUM(CASE WHEN n_cat > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
       |  CAST(SUM(CASE WHEN is_blocked THEN 1 ELSE 0 END) AS BIGINT) AS n_blocked,
       |  CAST(MAX(density_pm) AS BIGINT) AS max_density_pm
       |FROM d GROUP BY source
       |ORDER BY source""".stripMargin

  // GPT-2-ish pre-tokenizer shape: letter runs (with 's-style
  // contractions), digit runs, single non-alnum-non-space marks.
  private val bpeRegexSpark = "[A-Za-z]+('[a-z]+)?|[0-9]+|[^A-Za-z0-9\\\\s]"
  // SQL string literal form: the embedded quote must be doubled ('').
  private val bpeRegexDuck  = "[A-Za-z]+(''[a-z]+)?|[0-9]+|[^A-Za-z0-9\\s]"

  /** Token counting: whitespace tokens + a BPE-ish regex token count —
    * the unit LLM-pipeline budgets are denominated in.
    */
  def qTokenCount(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(
        col("doc_id"),
        length(col("text")).cast("long").as("n_chars_c"),
        expr("CAST(size(split(text, ' ')) AS BIGINT)").as("n_ws_tokens"),
        expr(s"CAST(regexp_count(text, \"$bpeRegexSpark\") AS BIGINT)").as("n_bpe_tokens"))
      .withColumn("chars_per_token",
        col("n_chars_c").cast("double") / col("n_bpe_tokens"))

  val qTokenCountSql: String =
    s"""SELECT doc_id,
       |  CAST(length(text) AS BIGINT) AS n_chars_c,
       |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
       |  CAST(len(regexp_extract_all(text, '$bpeRegexDuck')) AS BIGINT) AS n_bpe_tokens,
       |  CAST(length(text) AS DOUBLE) / len(regexp_extract_all(text, '$bpeRegexDuck')) AS chars_per_token
       |FROM documents
       |ORDER BY doc_id""".stripMargin

  /** Rolling polynomial document fingerprint (Rabin-Karp style:
    * acc = (acc*P + charcode) mod 2^40, P=1000003), plus a prefix
    * fingerprint over the first 64 chars — content-addressing that is
    * cheap to recompute incrementally. The modulus keeps every
    * intermediate < 2^60, so the same arithmetic is exact in any
    * 64-bit engine (ANSI-safe, oracle-checkable).
    */
  private val fpMod = 1099511627776L // 2^40: acc*P < 2^60, no overflow

  def qFingerprint(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(
        col("doc_id"),
        graft.functions.GraftFunctions.fingerprint(col("text")).as("fp64"),
        graft.functions.GraftFunctions.fingerprint(substring(col("text"), 1, 64)).as("fp_prefix64"),
        length(col("text")).cast("long").as("n_chars_c"))

  private def duckFp(input: String): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split($input, ''), c -> CAST(ascii(c) AS BIGINT))), (acc, c) -> (acc * 1000003 + c) % $fpMod)"

  val qFingerprintSql: String =
    s"""SELECT doc_id,
       |  ${duckFp("text")} AS fp64,
       |  ${duckFp("substring(text, 1, 64)")} AS fp_prefix64,
       |  CAST(length(text) AS BIGINT) AS n_chars_c
       |FROM documents
       |ORDER BY doc_id""".stripMargin

  /** Multimodal column plumbing: text re-encoded as an opaque binary
    * media column with typed metadata (type tag, byte size, content
    * hash) — the schema/partitioning pattern for image/audio payloads.
    * The decode step itself lives in [[Multimodal]] (stubbed codec).
    */
  def qMultimodalMeta(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(
        col("doc_id"),
        // hex, not raw binary: the comparator lexsorts output columns and
        // a bytes cell is unhashable there; hex carries the same payload
        // losslessly (n_bytes + content_md5 already sign the content).
        hex(col("text").cast("binary")).as("media_hex"),
        when(col("doc_id") % 3 === 0, "image/png")
          .when(col("doc_id") % 3 === 1, "audio/wav")
          .otherwise("video/mp4").as("media_type"),
        length(col("text").cast("binary")).cast("long").as("n_bytes"),
        md5(col("text").cast("binary")).as("content_md5"))

  val qMultimodalMetaSql: String =
    """SELECT doc_id,
      |  hex(encode(text)) AS media_hex,
      |  CASE WHEN doc_id % 3 = 0 THEN 'image/png'
      |       WHEN doc_id % 3 = 1 THEN 'audio/wav'
      |       ELSE 'video/mp4' END AS media_type,
      |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
      |  md5(text) AS content_md5
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  // Per-language target sampling rates (percent) for the training mix —
  // the knob a data-mixture config supplies.
  private val strataPct: Seq[(String, Int)] =
    Seq("en" -> 35, "es" -> 60, "de" -> 60, "fr" -> 80)
  private val defaultPct = 100

  /** Deterministic stratified sampling for training-data mixing: each
    * document's keep/drop verdict is `doc_id mod 100 < rate(lang)` — a
    * pure function of the row, so the sample is (a) exactly
    * reproducible across runs, engines and re-partitions (unlike
    * `df.sample`/`sampleBy`, whose RNG is partition-layout dependent),
    * (b) map-only at any scale, and (c) consistent across derived
    * tables keyed by the same id. This hash-mod idiom is how
    * production corpus mixes pin their subsets.
    */
  def qSampleStratified(s: SparkSession, dir: String): DataFrame = {
    val rate = strataPct.foldRight(lit(defaultPct): Column) {
      case ((l, p), acc) => when(col("lang") === l, p).otherwise(acc)
    }
    docs(s, dir)
      .select(
        col("doc_id"), col("lang"),
        pmod(col("doc_id"), lit(100L)).cast("long").as("sample_bucket"),
        rate.cast("long").as("target_pct"))
      .withColumn("is_sampled", col("sample_bucket") < col("target_pct"))
  }

  val qSampleStratifiedSql: String = {
    val cases = strataPct.map { case (l, p) => s"WHEN lang = '$l' THEN $p" }.mkString(" ")
    s"""SELECT doc_id, lang,
       |  CAST(doc_id % 100 AS BIGINT) AS sample_bucket,
       |  CAST(CASE $cases ELSE $defaultPct END AS BIGINT) AS target_pct,
       |  doc_id % 100 < (CASE $cases ELSE $defaultPct END) AS is_sampled
       |FROM documents
       |ORDER BY doc_id""".stripMargin
  }

  /** Token-budget accounting per language stratum — the aggregate a
    * mix-planning step consumes: documents, token totals (the BPE-ish
    * regex count, the unit budgets are denominated in), and each
    * stratum's share of the corpus budget. Partial-aggregating
    * groupBy; the share's global window runs over one row per
    * language — bounded, not data-scaled.
    */
  def qMixBudget(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy()
    docs(s, dir)
      .select(col("lang"),
        expr(s"CAST(regexp_count(text, \"$bpeRegexSpark\") AS BIGINT)").as("toks"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("toks").as("n_tokens"))
      .withColumn("token_share",
        col("n_tokens").cast("double") / sum("n_tokens").over(w))
  }

  val qMixBudgetSql: String =
    s"""SELECT lang, COUNT(*) AS n_docs,
       |  CAST(SUM(CAST(len(regexp_extract_all(text, '$bpeRegexDuck')) AS BIGINT)) AS BIGINT) AS n_tokens,
       |  CAST(SUM(CAST(len(regexp_extract_all(text, '$bpeRegexDuck')) AS BIGINT)) AS DOUBLE)
       |    / SUM(SUM(CAST(len(regexp_extract_all(text, '$bpeRegexDuck')) AS BIGINT))) OVER () AS token_share
       |FROM documents
       |GROUP BY lang
       |ORDER BY lang""".stripMargin

  // Temperature-mix knobs: α = 0.5 (sqrt flattening — the multilingual
  // upsampling recipe), weights carried as floor(√n · 10^6) fixed-point.
  private val mixBudgetTokens = 1000000L

  /** Temperature-flattened sampling mix (α = 0.5): each language's
    * sampling weight is n_tokens^α, normalized — the standard recipe
    * for upsampling low-resource strata without drowning the head
    * (XLM-R-style multilingual mixing). α = 0.5 keeps the arithmetic
    * bit-reproducible across engines: sqrt is IEEE-correctly-rounded
    * (unlike pow), and the weight is immediately fixed-pointed to
    * floor(√n·10^6), so the normalizing denominator is an exact
    * INTEGER sum — no FP accumulation order anywhere. The final share
    * and token budget are one deterministic double division and one
    * integral DIV. Plan shape: one partial-agg shuffle to per-lang
    * totals, then a broadcast of the one-row denominator — the
    * per-document scan dominates and is map-only.
    */
  def qMixTemperature(s: SparkSession, dir: String): DataFrame = {
    val perLang = docs(s, dir)
      .select(col("lang"),
        expr(s"CAST(regexp_count(text, \"$bpeRegexSpark\") AS BIGINT)").as("toks"))
      .groupBy("lang")
      .agg(sum("toks").as("n_tokens"))
      .withColumn("w", expr("CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1000000) AS BIGINT)"))
      // lang-sized, feeds both the normalizer and the projection — a
      // shared subtree re-derives per consumer (corpus would scan 2×)
      .materialized
    perLang
      .crossJoin(broadcast(perLang.agg(sum("w").as("denom"))))
      .select(col("lang"), col("n_tokens"),
        col("w").as("weight_fp"),
        (col("w").cast("double") / col("denom").cast("double")).as("share"),
        expr(s"($mixBudgetTokens * w) DIV denom").as("budget_tokens"))
  }

  val qMixTemperatureSql: String =
    s"""WITH t AS (
       |  SELECT lang,
       |    CAST(SUM(CAST(len(regexp_extract_all(text, '$bpeRegexDuck')) AS BIGINT)) AS BIGINT) AS n_tokens
       |  FROM documents GROUP BY lang),
       |w AS (
       |  SELECT lang, n_tokens,
       |    CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1000000) AS BIGINT) AS w
       |  FROM t),
       |d AS (SELECT CAST(SUM(w) AS BIGINT) AS denom FROM w)
       |SELECT lang, n_tokens, w AS weight_fp,
       |  CAST(w AS DOUBLE) / CAST(denom AS DOUBLE) AS share,
       |  CAST(($mixBudgetTokens * w) // denom AS BIGINT) AS budget_tokens
       |FROM w CROSS JOIN d
       |ORDER BY lang""".stripMargin

  // UniMax knobs: at most 4 epochs over any language's data; the
  // corpus budget is 3× the total token mass, so with Σcap = 4×total
  // the uncapped set is always non-empty (U ≥ 1 by arithmetic, the
  // DIV-by-zero guard below is provably inert at these settings but
  // kept for knob changes).
  private val UnimaxEpochCap = 4L
  private val UnimaxBudgetMult = 3L

  /** UniMax language-budget allocation (Chung et al. 2023, arXiv
    * 2304.09151 — "UniMax: Fairer and More Effective Language Sampling
    * for Large-Scale Multilingual Pretraining"): distribute a corpus
    * token budget across languages as UNIFORMLY as possible subject to
    * a per-language epoch cap — the paper's alternative to temperature
    * sampling ([[qMixTemperature]]) that never over-repeats
    * low-resource data. This is exact integer water-filling: languages
    * sorted by capacity `cap = epochCap·n_tokens` ascending; language
    * at rank k (of L) is CAPPED iff `cap_k·(L-k+1) + prefix_{k-1} ≤ B`
    * (caps ascending make the capped set a PREFIX: the same test at
    * k-1 is implied by the test at k, so per-row window tests agree
    * with the sequential algorithm); the uncapped languages split the
    * leftover evenly as `level = (B - Σ_capped cap) DIV U`, with the
    * integer remainder handed +1 each to the `rem` smallest-capacity
    * uncapped languages (deterministic (cap, lang) order; uncapped ⇒
    * cap > level so the +1 never breaches a cap, and Σalloc = B
    * exactly — spec-pinned). `epochs_milli` reports each language's
    * resulting repeat factor.
    *
    * Shape at scale: one partial-aggregating groupBy to per-language
    * token totals (the corpus-sized stage, map-side combined); every
    * window after runs over ONE ROW PER LANGUAGE — bounded by the
    * language inventory, not the corpus (the [[qMixBudget]] posture).
    */
  def qUnimaxMix(s: SparkSession, dir: String): DataFrame = {
    val wOrd = Window.orderBy(col("cap"), col("lang"))
    val wAll = Window.partitionBy()
    val perLang = docs(s, dir)
      .select(col("lang"),
        expr(s"CAST(regexp_count(text, \"$bpeRegexSpark\") AS BIGINT)").as("toks"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("toks").as("n_tokens"))
      .withColumn("cap", lit(UnimaxEpochCap) * col("n_tokens"))
    perLang
      .withColumn("budget", lit(UnimaxBudgetMult) * sum("n_tokens").over(wAll))
      .withColumn("rk", row_number().over(wOrd))
      .withColumn("n_langs", count(lit(1)).over(wAll))
      .withColumn("pfx", sum("cap").over(wOrd))
      .withColumn("is_capped",
        col("cap") * (col("n_langs") - col("rk") + 1) <= col("budget") - (col("pfx") - col("cap")))
      .withColumn("n_capped", sum(when(col("is_capped"), 1L).otherwise(0L)).over(wAll))
      .withColumn("capped_mass",
        coalesce(sum(when(col("is_capped"), col("cap"))).over(wAll), lit(0L)))
      .withColumn("n_unc", col("n_langs") - col("n_capped"))
      .withColumn("level",
        when(col("n_unc") === 0, lit(0L))
          .otherwise(expr("(budget - capped_mass) DIV n_unc")))
      .withColumn("rem",
        when(col("n_unc") === 0, lit(0L))
          .otherwise(col("budget") - col("capped_mass") - col("level") * col("n_unc")))
      .withColumn("alloc_tokens",
        when(col("is_capped"), col("cap"))
          .otherwise(col("level") +
            when(col("rk") - col("n_capped") <= col("rem"), 1L).otherwise(0L)))
      .select(col("lang"), col("n_docs"), col("n_tokens"),
        col("cap").as("cap_tokens"), col("alloc_tokens"),
        expr("CASE WHEN n_tokens = 0 THEN NULL ELSE (alloc_tokens * 1000) DIV n_tokens END")
          .as("epochs_milli"),
        col("is_capped"))
      .orderBy(col("lang"))
  }

  val qUnimaxMixSql: String =
    s"""WITH t AS (
       |  SELECT lang, COUNT(*) AS n_docs,
       |    CAST(SUM(CAST(len(regexp_extract_all(text, '$bpeRegexDuck')) AS BIGINT)) AS BIGINT) AS n_tokens
       |  FROM documents GROUP BY lang),
       |c AS (
       |  SELECT lang, n_docs, n_tokens, $UnimaxEpochCap * n_tokens AS cap,
       |    $UnimaxBudgetMult * SUM(n_tokens) OVER () AS budget,
       |    ROW_NUMBER() OVER (ORDER BY $UnimaxEpochCap * n_tokens, lang) AS rk,
       |    COUNT(*) OVER () AS n_langs,
       |    SUM($UnimaxEpochCap * n_tokens) OVER (ORDER BY $UnimaxEpochCap * n_tokens, lang
       |      ROWS UNBOUNDED PRECEDING) AS pfx
       |  FROM t),
       |f AS (
       |  SELECT *, cap * (n_langs - rk + 1) <= budget - (pfx - cap) AS is_capped FROM c),
       |g AS (
       |  SELECT *,
       |    SUM(CASE WHEN is_capped THEN 1 ELSE 0 END) OVER () AS n_capped,
       |    COALESCE(SUM(CASE WHEN is_capped THEN cap END) OVER (), 0) AS capped_mass
       |  FROM f),
       |h AS (
       |  SELECT *, n_langs - n_capped AS n_unc,
       |    CASE WHEN n_langs - n_capped = 0 THEN 0
       |         ELSE (budget - capped_mass) // (n_langs - n_capped) END AS lvl
       |  FROM g),
       |a AS (
       |  SELECT *,
       |    CASE WHEN n_unc = 0 THEN 0
       |         ELSE budget - capped_mass - lvl * n_unc END AS rem
       |  FROM h)
       |SELECT lang, n_docs, n_tokens,
       |  CAST(cap AS BIGINT) AS cap_tokens,
       |  CAST(CASE WHEN is_capped THEN cap
       |       ELSE lvl + (CASE WHEN rk - n_capped <= rem THEN 1 ELSE 0 END) END AS BIGINT)
       |    AS alloc_tokens,
       |  CAST(CASE WHEN n_tokens = 0 THEN NULL
       |       ELSE ((CASE WHEN is_capped THEN cap
       |              ELSE lvl + (CASE WHEN rk - n_capped <= rem THEN 1 ELSE 0 END) END) * 1000)
       |            // n_tokens END AS BIGINT) AS epochs_milli,
       |  is_capped
       |FROM a
       |ORDER BY lang""".stripMargin

  /** Length-curriculum assignment: every document's global rank by
    * (n_chars, doc_id) and its decile — the deterministic ordering a
    * short-to-long training curriculum consumes. The rank comes from
    * [[graft.plans.Surrogate.rankedId]] (range-repartition +
    * in-partition sort + zipWithIndex), NOT a global window: the
    * oracle's `ROW_NUMBER() OVER (ORDER BY …)` semantics at any scale
    * without ever funneling the table through one partition. Decile is
    * pure integer arithmetic on (rank, count); the one-row count
    * broadcasts.
    */
  def qCurriculum(s: SparkSession, dir: String): DataFrame = {
    val t = docs(s, dir).select(col("doc_id"), col("n_chars"))
    graft.plans.Surrogate.rankedId(t, Seq("n_chars", "doc_id"), "rk")
      .crossJoin(broadcast(t.agg(count(lit(1)).as("n"))))
      .select(col("doc_id"), col("n_chars"), col("rk"),
        expr("((rk - 1) * 10) DIV n").as("decile"))
  }

  val qCurriculumSql: String =
    """WITH r AS (
      |  SELECT doc_id, n_chars,
      |    ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) AS rk,
      |    COUNT(*) OVER () AS n
      |  FROM documents)
      |SELECT doc_id, n_chars, rk, CAST(((rk - 1) * 10) // n AS BIGINT) AS decile
      |FROM r ORDER BY doc_id""".stripMargin

  /** Repetition signals (the Gopher/MassiveText-style quality rules:
    * Rae et al. 2021 §A1.1): fraction of words taken by the most
    * frequent word, by words occurring more than once, and by the most
    * frequent word bigram. Highly repetitive docs (boilerplate, SEO
    * spam, generation loops) are the classic pre-training cull.
    *
    * Shape at scale: MAP-ONLY. The signals are pure per-row functions,
    * so the whole operator is one projection over the scan — a native
    * one-pass expression ([[graft.functions.RepetitionStats]]) computes
    * every counter from a single tokenization. The relational
    * formulation (explode into words/bigrams, two wordcount aggregates,
    * join back on doc_id) produces identical values — the oracle SQL
    * states it that way — but inflates the corpus 10-100× through two
    * exchanges; at 100 TB that's the difference between a scan and a
    * shuffle job.
    */
  /** The repetition cull rule over a [[graft.functions.RepetitionStats]]
    * struct — SHARED with the streaming twin (see [[qualityKeep]]).
    */
  def repetitiveFromStats(st: Column): Column = {
    val topWordFrac = st.getField("top_word_n").cast("double") / st.getField("n_words")
    val topBigramFrac = when(st.getField("n_bigrams") === 0L, lit(0.0))
      .otherwise(st.getField("top_bigram_n").cast("double") / st.getField("n_bigrams"))
    topWordFrac > 0.2 || topBigramFrac > 0.18
  }

  /** [[repetitiveFromStats]] as a pure function of the text column. */
  def repetitive(text: Column): Column =
    repetitiveFromStats(graft.functions.RepetitionStats.column(text))

  def qRepetition(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"),
        graft.functions.RepetitionStats.column(col("text")).as("st"))
      .select(
        col("doc_id"),
        col("st.n_words").as("n_words"),
        (col("st.top_word_n").cast("double") / col("st.n_words")).as("top_word_frac"),
        (col("st.dup_word_n").cast("double") / col("st.n_words")).as("dup_word_frac"),
        when(col("st.n_bigrams") === 0L, lit(0.0))
          .otherwise(col("st.top_bigram_n").cast("double") / col("st.n_bigrams"))
          .as("top_bigram_frac"),
        repetitiveFromStats(col("st")).as("is_repetitive"))

  /** Order-free oracle body — see [[qQualityScoreBody]]. */
  private[graft] val qRepetitionBody: String =
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |wc AS (SELECT doc_id, w, COUNT(*) AS c
      |       FROM (SELECT doc_id, unnest(ws) AS w FROM d) GROUP BY doc_id, w),
      |wa AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_words, MAX(c) AS top_word_n,
      |              CAST(COALESCE(SUM(CASE WHEN c > 1 THEN c END), 0) AS BIGINT) AS dup_word_n
      |       FROM wc GROUP BY doc_id),
      |bc AS (SELECT doc_id, b, COUNT(*) AS c
      |       FROM (SELECT doc_id, unnest(list_filter(list_transform(ws, (w, i) ->
      |                CASE WHEN i < len(ws) THEN w || ' ' || ws[i + 1] END),
      |                x -> x IS NOT NULL)) AS b
      |             FROM d) GROUP BY doc_id, b),
      |ba AS (SELECT doc_id, MAX(c) AS top_bigram_n, CAST(SUM(c) AS BIGINT) AS n_bigrams
      |       FROM bc GROUP BY doc_id)
      |SELECT wa.doc_id, wa.n_words,
      |  CAST(top_word_n AS DOUBLE) / n_words AS top_word_frac,
      |  CAST(dup_word_n AS DOUBLE) / n_words AS dup_word_frac,
      |  COALESCE(CAST(top_bigram_n AS DOUBLE) / n_bigrams, 0.0) AS top_bigram_frac,
      |  (CAST(top_word_n AS DOUBLE) / n_words > 0.2
      |   OR COALESCE(CAST(top_bigram_n AS DOUBLE) / n_bigrams, 0.0) > 0.18) AS is_repetitive
      |FROM wa LEFT JOIN ba ON wa.doc_id = ba.doc_id""".stripMargin

  val qRepetitionSql: String = qRepetitionBody + "\nORDER BY wa.doc_id"

  // Benchmark membership: doc_id ≡ 0 (mod 97) stands in for "this doc
  // is in an eval benchmark". The gram width (5 words) follows the
  // 8-13-word windows of published decontamination recipes, scaled to
  // this corpus's 20-80-word docs.
  private val benchMod = 97L
  private val contamGram = 5

  /** Benchmark-contamination screen: flag corpus documents sharing
    * word n-grams with a benchmark set (the train/test-overlap
    * decontamination step every LLM data pipeline runs; cf. the
    * GPT-2/GPT-3 n-gram overlap methodology).
    *
    * Grams are keyed by md5 — fixed 32-char join keys instead of
    * arbitrary-width strings (same digest on both engines, so the
    * oracle can replay it). Overlap counts are SET-based (per-doc
    * distinct grams), and that dedup happens MAP-SIDE — `array_distinct`
    * on the gram array before the explode — so the corpus-wide
    * (doc_id, gram) DISTINCT shuffle the relational formulation pays
    * (O(total grams), the largest exchange in the query) never exists;
    * the only corpus-scale shuffles left are the probe join and the
    * doc_id rollup. A REAL benchmark side is bounded (an eval
    * suite is fixed-size, it does not grow with the corpus) and would
    * deserve an explicit `broadcast()`, making the probe map-local with
    * one shuffle on doc_id for the rollup. The mod-97 stand-in here is
    * NOT bounded — it is ~1/97 of all distinct corpus grams, linear in
    * the corpus — so no hint is given: AQE broadcasts it at small SF
    * and falls back to a shuffled join when it outgrows the threshold.
    */
  def qContamination(s: SparkSession, dir: String): DataFrame = {
    def grams(df: DataFrame) = df
      .select(col("doc_id"), explode(array_distinct(
        graft.functions.WordGramMd5s.column(col("text"), contamGram))).as("g"))
    val d = docs(s, dir)
    val benchSet = grams(d.filter(col("doc_id") % benchMod === 0))
      .select(col("g")).distinct().withColumn("hit", lit(1L))
    grams(d.filter(col("doc_id") % benchMod =!= 0))
      .join(benchSet, Seq("g"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"), coalesce(sum("hit"), lit(0L)).as("n_hit"))
      .withColumn("contamination_frac", col("n_hit").cast("double") / col("n_grams"))
      .withColumn("is_contaminated", col("contamination_frac") >= 0.2)
  }

  val qContaminationSql: String =
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |g AS (SELECT DISTINCT doc_id, gm FROM (
       |  SELECT doc_id, unnest(list_filter(list_transform(ws, (w, i) ->
       |    CASE WHEN i + ${contamGram - 1} <= len(ws)
       |         THEN md5(array_to_string(list_slice(ws, i, i + ${contamGram - 1}), ' ')) END),
       |    x -> x IS NOT NULL)) AS gm FROM d)),
       |b AS (SELECT DISTINCT gm FROM g WHERE doc_id % $benchMod = 0)
       |SELECT g.doc_id,
       |  CAST(COUNT(*) AS BIGINT) AS n_grams,
       |  CAST(COALESCE(SUM(CASE WHEN b.gm IS NOT NULL THEN 1 END), 0) AS BIGINT) AS n_hit,
       |  CAST(COALESCE(SUM(CASE WHEN b.gm IS NOT NULL THEN 1 END), 0) AS DOUBLE) / COUNT(*) AS contamination_frac,
       |  CAST(COALESCE(SUM(CASE WHEN b.gm IS NOT NULL THEN 1 END), 0) AS DOUBLE) / COUNT(*) >= 0.2 AS is_contaminated
       |FROM g LEFT JOIN b ON g.gm = b.gm
       |WHERE g.doc_id % $benchMod <> 0
       |GROUP BY g.doc_id
       |ORDER BY doc_id""".stripMargin

  /** Fuzzy verify threshold for [[qContaminationFuzzy]] — word-3-gram
    * Jaccard at which a corpus doc counts as a paraphrased benchmark
    * leak. 0.2 is where the EXACT tier goes blind: paraphrase that
    * touches every ~5th word kills 100% of exact 5-grams (no run of
    * five untouched words survives) while ~40% of the 3-gram set
    * lives on — J3 ≈ 0.25, invisible to [[qContamination]]'s 0.2
    * gram-fraction rule and exactly what a decontamination screen
    * must still catch. A deployment tightens this upward if its
    * benchmark suite shares boilerplate with the corpus; the screen
    * prefers false flags over leaked eval items. */
  private[graft] val FuzzyContamThreshold = 0.2

  /** Fuzzy-tier banding: the SAME k=64 MinHash signature as the dedup
    * shelf, RE-SLICED at r=2 rows × b=32 bands. The dedup shelf's
    * 16×4 banding has its S-curve midpoint at (1/16)^(1/4) ≈ 0.5 —
    * tuned for near-DUPLICATES — and is structurally blind in the
    * paraphrase regime this screen works in (recall at J=0.25:
    * 1−(1−0.25⁴)^16 ≈ 6%). Re-banding the same signature at
    * (1/32)^(1/2) ≈ 0.18 moves the midpoint under the verify
    * threshold: recall ≈ 73% at J=0.2 (the boundary), ≈ 87% at 0.25,
    * ≈ 95% at 0.3, ≈ 99.6% at 0.4. Re-banding is free (a different
    * slicing of signatures both tiers already compute); re-signing
    * is not — the one-signature/two-bandings design is the point. */
  private[graft] val FuzzyBands = 32
  private[graft] val FuzzyRows = 2

  /** Fuzzy (near-match) benchmark decontamination —
    * the MinHash tier beside [[qContamination]]'s exact word-5-gram
    * overlap: paraphrased or reformatted benchmark leakage breaks
    * every exact 5-gram yet keeps high word-3-gram Jaccard, which is
    * the case decontamination actually fights in practice (the
    * GPT-3/Llama appendix problem). Same fixed benchmark fiction as
    * the exact tier (`doc_id % benchMod = 0`); same signature family
    * as the dedup shelf ([[graft.operators.Dedup]] `IdxK`/`IdxSeed`
    * via [[Dedup.sigBandRows]]) but RE-BANDED for the paraphrase
    * regime ([[FuzzyBands]]×[[FuzzyRows]] — the S-curve math on the
    * constants). Output: one row per corpus doc whose best verified match
    * clears [[FuzzyContamThreshold]] — the decontamination drop list,
    * with the candidate count and best-matching benchmark doc as
    * attribution. Best match is deterministic: max Jaccard, then min
    * benchmark id.
    *
    * Shape at scale (the asymmetric-banding contract): the benchmark
    * side is BOUNDED (a real benchmark suite is 10³-10⁵ items), so
    * its band table and shingle sets BROADCAST — the corpus side is
    * map-only signature work probed against them, and candidate
    * volume is bounded by benchmark-side collisions, never corpus².
    * The verified candidate table (cand × benchmark) is itself
    * benchmark-bounded and broadcasts back onto the corpus shingle
    * projection, so corpus shingle arrays never shuffle. Both sides
    * canonicalize to DISTINCT texts first (the r15
    * `textCanonicalPairs` lesson): verbatim crawl-dup families
    * collapse to one representative, and members inherit the
    * representative's verdict through a map-side md5-key join.
    */
  def qContaminationFuzzy(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.{SortedJaccard, WordNgramHashes, WordNgramMinHash}
    val d = docs(s, dir)
    def reps(df: DataFrame) = df.groupBy(col("text"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"), col("text"))
    val corpusRep = reps(d.filter(col("doc_id") % benchMod =!= 0)).materialized
    val benchRep = reps(d.filter(col("doc_id") % benchMod === 0)).materialized
    def sig(df: DataFrame) = df.select(col("doc_id"),
      WordNgramMinHash.column(col("text"), Dedup.IdxNgram, Dedup.IdxK,
        seed = Dedup.IdxSeed).as("sig_arr"))
    def sets(df: DataFrame) = df.select(col("doc_id"),
      WordNgramHashes.column(col("text"), Dedup.IdxNgram).as("sh"))
    val benchBands = Dedup.sigBandRows(sig(benchRep), FuzzyBands, FuzzyRows)
      .withColumnRenamed("doc_id", "bench_id")
    val cand = Dedup.sigBandRows(sig(corpusRep), FuzzyBands, FuzzyRows)
      .join(broadcast(benchBands), Seq("band", "bucket"))
      .select(col("doc_id"), col("bench_id")).distinct()
    val verified = sets(corpusRep)
      .join(broadcast(cand), "doc_id") // corpus sets never shuffle
      .join(broadcast(sets(benchRep)
        .select(col("doc_id").as("bench_id"), col("sh").as("sh_b"))), "bench_id")
      .withColumn("jaccard", SortedJaccard.column(col("sh"), col("sh_b")))
      .select(col("doc_id"), col("bench_id"), col("jaccard"))
      .materialized // consumed twice: the best-jaccard agg + the argmax pick
    val best = verified.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_cand"), max(col("jaccard")).as("best_jaccard"))
    // deterministic argmax: min bench id among the max-Jaccard matches
    // (exact-equality join on a value both rows computed identically)
    val pick = verified.join(broadcast(best.withColumnRenamed("doc_id", "gid")),
        col("doc_id") === col("gid") && col("jaccard") === col("best_jaccard"))
      .groupBy(col("gid"), col("n_cand"), col("best_jaccard"))
      .agg(min(col("bench_id")).as("best_bench_id"))
    // verdicts attach to the bounded side FIRST: pick (benchmark-
    // bounded) broadcasts onto the rep projection, and the resulting
    // flagged-rep table (pick-sized) broadcasts onto the corpus member
    // scan — the member expansion never shuffles the corpus
    val flaggedReps = corpusRep
      .select(col("doc_id").as("gid"), unhex(md5(col("text"))).as("tkey"))
      .join(broadcast(pick), "gid")
      .filter(col("best_jaccard") >= FuzzyContamThreshold)
    d.filter(col("doc_id") % benchMod =!= 0)
      .select(col("doc_id"), unhex(md5(col("text"))).as("tkey"))
      .join(broadcast(flaggedReps), "tkey")
      .select(col("doc_id"), col("n_cand"), col("best_bench_id"),
        col("best_jaccard"))
  }

  val qContaminationFuzzySql: String = {
    import graft.operators.{Dedup => D}
    val (n, k, bands, rows, seed) =
      (D.IdxNgram, D.IdxK, FuzzyBands, FuzzyRows, D.IdxSeed)
    def sideCtes(p: String, where: String): String =
      s"""${p}g AS MATERIALIZED (
         |  SELECT min(doc_id) AS doc_id, text FROM d WHERE $where GROUP BY text),
         |${p}w AS (SELECT doc_id, ${OracleEmul.wordHashes("text")} AS wh FROM ${p}g),
         |${p}f AS (SELECT doc_id, ${OracleEmul.features("wh", n)} AS feats FROM ${p}w),
         |${p}fp AS MATERIALIZED (SELECT doc_id,
         |  list_transform(feats, f0 -> ${OracleEmul.floorMod("f0", "fm", "2147483647")}) AS fmod,
         |  ${OracleEmul.hashSet("feats")} AS sh FROM ${p}f),
         |${p}s AS MATERIALIZED (SELECT doc_id, sh,
         |  ${OracleEmul.minhashSig("fmod", seed, k)} AS sig FROM ${p}fp),
         |${p}bnd AS (SELECT doc_id, j, sig[j*$rows+1:j*$rows+$rows] AS slice
         |  FROM ${p}s, range($bands) t(j))""".stripMargin
    s"""WITH d AS (SELECT doc_id, text FROM documents),
       |${sideCtes("cfc", s"doc_id % $benchMod <> 0")},
       |${sideCtes("cfb", s"doc_id % $benchMod = 0")},
       |cfcand AS (SELECT DISTINCT c.doc_id, b.doc_id AS bench_id
       |  FROM cfcbnd c JOIN cfbbnd b ON c.j = b.j AND c.slice = b.slice),
       |cfver AS MATERIALIZED (SELECT cand.doc_id, cand.bench_id,
       |    ${OracleEmul.jaccard("sa.sh", "sb.sh")} AS jaccard
       |  FROM cfcand cand
       |  JOIN cfcs sa ON cand.doc_id = sa.doc_id
       |  JOIN cfbs sb ON cand.bench_id = sb.doc_id),
       |cfbest AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_cand,
       |    MAX(jaccard) AS best_jaccard
       |  FROM cfver GROUP BY doc_id),
       |cfpick AS (SELECT v.doc_id AS gid, b.n_cand, b.best_jaccard,
       |    MIN(v.bench_id) AS best_bench_id
       |  FROM cfver v JOIN cfbest b
       |    ON v.doc_id = b.doc_id AND v.jaccard = b.best_jaccard
       |  GROUP BY v.doc_id, b.n_cand, b.best_jaccard)
       |SELECT m.doc_id, p.n_cand, p.best_bench_id, p.best_jaccard
       |FROM d m
       |JOIN cfcg g2 ON m.text = g2.text AND m.doc_id % $benchMod <> 0
       |JOIN cfpick p ON g2.doc_id = p.gid
       |WHERE p.best_jaccard >= $FuzzyContamThreshold
       |ORDER BY m.doc_id""".stripMargin
  }

  /** Corpus vocabulary top-k: the word-frequency table a tokenizer
    * build starts from. The explode is a Generate (no shuffle);
    * map-side partial aggregation condenses each partition to its
    * DISTINCT words before the shuffle — which is what makes a
    * Zipf-skewed vocabulary safe at 100 TB: the hot words ("the")
    * arrive at the reducer as one partial count per map partition,
    * never as raw occurrences. Top-k is a TakeOrderedAndProject
    * (per-partition heaps + driver merge of k rows), no global sort.
    */
  def qVocabTopk(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("w"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("w"))
      .limit(50)

  val qVocabTopkSql: String =
    """SELECT w, COUNT(*) AS n
      |FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      |WHERE len(w) > 0
      |GROUP BY w
      |ORDER BY n DESC, w
      |LIMIT 50""".stripMargin

  private val CoverageKs = Seq(5, 10, 25, 50)

  /** Vocabulary coverage curve: the fraction of all token INSTANCES a
    * top-k vocabulary covers, for several k — the Zipf summary that
    * picks a vocab size ([[qVocabTopk]] lists the words; this says
    * what keeping them buys). Coverage is fixed-point ppm (integer
    * DIV on exact counts). One output row per k.
    *
    * Shape at scale: the corpus-sized stage is the same Zipf-safe
    * word-frequency partial aggregate as vocab_topk. Only `rk <=
    * max(CoverageKs)` is ever consumed, so the rank is a top-maxK
    * TakeOrdered (model-sized: bounded by the k battery, not data)
    * collected and re-broadcast as a membership/rank table — NOT a
    * full-vocabulary `row_number` window, which would funnel every
    * distinct token (easily 10⁹ for 100 TB of web text) through one
    * partition. The k-battery conditional sums then run on the
    * vocabulary-sized count table with the broadcast rank attached.
    */
  def qVocabCoverage(s: SparkSession, dir: String): DataFrame = {
    // materialized: both the TakeOrdered top-k and the battery
    // aggregate consume the word-frequency table — without it each
    // consumer re-runs the corpus explode+aggregate.
    val vocab = docs(s, dir)
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("w"))
      .agg(count(lit(1)).as("n"))
      .materialized
    // (n DESC, w) is a total order, so TakeOrdered's boundary is
    // deterministic; collect() after orderBy preserves sort order.
    val top = vocab.orderBy(col("n").desc, col("w")).limit(CoverageKs.max)
      .select(col("w")).collect().map(_.getString(0))
    val ranks = broadcast(
      s.createDataFrame(top.toSeq.zipWithIndex.map { case (w, i) => (w, (i + 1).toLong) })
        .toDF("w", "rk"))
    val ranked = vocab.join(ranks, Seq("w"), "left")
    val aggs = sum(col("n")).as("total_tokens") +:
      countDistinct(col("w")).as("vocab_size") +:
      CoverageKs.map(k =>
        sum(when(col("rk") <= k, col("n")).otherwise(lit(0L))).as(s"cov_$k"))
    // ONE aggregate subtree; the k battery explodes from the single
    // result row (a per-k unionAll would embed — and re-run — the
    // whole corpus aggregate once per k)
    val battery = CoverageKs.map(k => s"struct(CAST($k AS BIGINT) AS k, cov_$k AS c)")
      .mkString("array(", ", ", ")")
    ranked.agg(aggs.head, aggs.tail: _*)
      .select(col("total_tokens"), col("vocab_size"),
        explode(expr(battery)).as("kc"))
      .select(col("kc.k").as("k"), col("total_tokens"), col("vocab_size"),
        col("kc.c").as("covered_tokens"),
        expr("(kc.c * 1000000) DIV total_tokens").as("coverage_ppm"))
  }

  val qVocabCoverageSql: String = {
    val rows = CoverageKs.map { k =>
      s"""SELECT CAST($k AS BIGINT) AS k, total_tokens, vocab_size,
         |  cov_$k AS covered_tokens,
         |  (cov_$k * 1000000) // total_tokens AS coverage_ppm
         |FROM g""".stripMargin
    }
    s"""WITH vocab AS (
       |  SELECT w, COUNT(*) AS n
       |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
       |  WHERE len(w) > 0 GROUP BY w),
       |r AS (SELECT w, n, ROW_NUMBER() OVER (ORDER BY n DESC, w) AS rk FROM vocab),
       |g AS (
       |  SELECT CAST(SUM(n) AS BIGINT) AS total_tokens,
       |    COUNT(DISTINCT w) AS vocab_size,
       |    ${CoverageKs.map(k =>
             s"CAST(COALESCE(SUM(CASE WHEN rk <= $k THEN n END), 0) AS BIGINT) AS cov_$k")
             .mkString(",\n    ")}
       |  FROM r)
       |${rows.mkString("\nUNION ALL\n")}
       |ORDER BY k""".stripMargin
  }

  /** BPE tokenizer training, round one: corpus-weighted adjacent
    * symbol-pair counts (Sennrich et al. 2016's merge statistic — at
    * round one every symbol is a character, so pairs are 2-char
    * substrings) and the top-20 merge candidates. The companion to
    * [[qVocabTopk]]: top-k vocabulary seeds the symbol table, this
    * picks the first merges.
    *
    * Shape at scale: the corpus-sized stage is the word-frequency
    * aggregate (same Zipf-safe partial-agg shuffle as vocab_topk);
    * pair generation then runs on the VOCABULARY, not the corpus —
    * each distinct word explodes into len−1 pairs carrying its
    * frequency, and the pair aggregate's key space is bounded by
    * |alphabet|², shuffling a few KB regardless of corpus size.
    * Iterating BPE further means re-running this statistic over a
    * re-segmented vocabulary (a driver loop over a vocab-sized table;
    * each of [[Ann.trainCodebook]]'s Lloyd rounds is likewise one
    * bounded fold per round, tree-merged on the executors at scale —
    * the corpus is never touched again).
    */
  def qBpePairs(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) >= 2)
      .groupBy(col("w")).agg(count(lit(1)).as("f"))
      .select(col("w"), col("f"),
        explode(expr("sequence(1, char_length(w) - 1)")).as("i"))
      .groupBy(expr("substr(w, i, 2)").as("pair"))
      .agg(sum(col("f")).as("n"))
      .orderBy(col("n").desc, col("pair"))
      .limit(20)

  val qBpePairsSql: String =
    """WITH wf AS (
      |  SELECT w, COUNT(*) AS f
      |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      |  WHERE len(w) >= 2 GROUP BY w),
      |p AS (
      |  SELECT f, unnest(list_transform(range(1, len(w)),
      |    i -> substr(w, CAST(i AS INT), 2))) AS pair
      |  FROM wf)
      |SELECT pair, CAST(SUM(f) AS BIGINT) AS n
      |FROM p GROUP BY pair
      |ORDER BY n DESC, pair
      |LIMIT 20""".stripMargin

  /** Merge rounds for [[qBpeTrain]] — FIXED so the oracle can unroll
    * one CTE block per round (the q_kcore bounded-iteration device);
    * production trains to a vocab-size target with the same loop.
    */
  private val BpeRounds = 6

  /** Iterative BPE tokenizer training (Sennrich et al. 2016), the
    * full loop [[qBpePairs]] is round one of: [[BpeRounds]] rounds of
    * (count adjacent symbol pairs corpus-weighted → take the most
    * frequent pair, ties broken lexicographically → merge it greedily
    * left-to-right in every vocabulary word). Output is the learned
    * merge table — one row per round with the pair, the merged symbol
    * and its frequency at selection time — i.e. exactly the artifact
    * a BPE tokenizer ships.
    *
    * Shape at scale: the ONLY corpus-sized stage is the word-frequency
    * aggregate (Zipf-safe partial-agg shuffle, shared with
    * [[qVocabTopk]]); every round after that runs on the VOCABULARY
    * table — one pair-explode + bounded-key aggregate, a 1-ROW collect
    * (the chosen merge — the same driver-side bounded-model contract
    * as `Ann.trainCodebook`'s Lloyd rounds, each one job whose k·dim
    * partial sums tree-merge on the executors), and one map-only greedy
    * re-segmentation fold. The corpus is never touched again, and each
    * round's vocab is checkpointed so lineage stays R-shallow.
    *
    * The greedy left-to-right merge is a sequential fold per word
    * (`aggregate` HOF): append each symbol, and when the accumulator's
    * last symbol equals pa and the incoming equals pb, replace the
    * last with the merged symbol — overlapping occurrences resolve
    * left-to-right exactly like the reference BPE implementation. The
    * DuckDB oracle replays the same semantics with a window
    * formulation (runs of candidate positions, even offsets merge),
    * which is equivalent because candidates can only be consecutive
    * when pa = pb.
    */
  /** The greedy left-to-right merge of pair (pa, pb) as a sequential
    * `aggregate` fold over a symbol array column. */
  private def bpeMergeFold(syms: Column, pa: String, pb: String): Column = {
    import org.apache.spark.sql.functions.{aggregate => arrFold}
    arrFold(syms, array().cast("array<string>"), (acc, x) =>
      when(size(acc) > 0 &&
          element_at(acc, lit(-1)) === lit(pa) && x === lit(pb),
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(pa + pb))))
        .otherwise(concat(acc, array(x))))
  }

  /** Character split guarded for the empty string (`sequence(1, 0)`
    * would generate a DESCENDING range, not an empty one). */
  private val charSplit =
    "CASE WHEN char_length(w) = 0 THEN CAST(array() AS ARRAY<STRING>)" +
      " ELSE transform(sequence(1, char_length(w)), i -> substr(w, i, 1)) END"

  /** The [[BpeRounds]]-round training loop shared by [[qBpeTrain]]
    * (emits the merge table) and [[qBpeEncode]] (applies it). */
  private[graft] def trainBpe(s: SparkSession, dir: String): Seq[(Int, String, String, Long)] = {
    var vocab = docs(s, dir)
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) >= 2)
      .groupBy("w").agg(count(lit(1)).as("f"))
      .select(col("f"), expr(charSplit).as("syms"))
      .materialized
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    for (r <- 1 to BpeRounds) {
      val best = vocab
        .filter(size(col("syms")) >= 2)
        .select(col("f"), explode(expr(
          "transform(sequence(1, size(syms) - 1)," +
            " i -> struct(element_at(syms, i) AS pa, element_at(syms, i + 1) AS pb))")).as("p"))
        .groupBy(col("p.pa").as("pa"), col("p.pb").as("pb"))
        .agg(sum("f").as("n"))
        .orderBy(col("n").desc, col("pa"), col("pb"))
        .limit(1).collect()(0)
      val (pa, pb, n) = (best.getString(0), best.getString(1), best.getLong(2))
      merges += ((r, pa, pb, n))
      vocab = vocab.withColumn("syms", bpeMergeFold(col("syms"), pa, pb)).materialized
    }
    merges.toSeq
  }

  /** Session-scoped trained-merges cache (the
    * [[graft.operators.Ann.sessionCodebook]] device applied to the
    * tokenizer): `q_bpe_train` and `q_bpe_encode` share one training
    * run per (session, dir) instead of each paying the
    * [[BpeRounds]]-round loop. The cached value is a MODEL PARAMETER
    * (R merge rows — driver-sized, config-bounded).
    *
    * STALENESS CONTRACT (shared with `Analytics.copurchaseGraph`): an
    * entry reflects the corpus AS OF the session's first BPE call
    * against that dir; data dirs are immutable snapshots, and a caller
    * that rewrites one in place mid-session calls [[clearModelCache]]
    * first. [[trainBpe]] is deterministic (total (n DESC, pa, pb)
    * tie-break), so the cached merges equal a fresh train —
    * TextOpsSpec pins cached === freshly-trained.
    */
  private val bpeMergeCache =
    new graft.plans.SessionCache[Seq[(Int, String, String, Long)]]

  private[graft] def sessionBpeMerges(s: SparkSession,
      dir: String): Seq[(Int, String, String, Long)] =
    bpeMergeCache.getOrElseUpdate(s, dir)(trainBpe(s, dir))

  /** Drop the session-scoped merge-table cache (see the staleness
    * contract on [[sessionBpeMerges]]). */
  def clearModelCache(): Unit = {
    bpeMergeCache.clear()
    uniModelCache.clear()
    lmModelCache.clear()
    dsirModelCache.clear()
    hashedModelCache.clear()
  }

  def qBpeTrain(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    sessionBpeMerges(s, dir).toDF("round", "sym_a", "sym_b", "n")
      .select(col("round"), col("sym_a"), col("sym_b"),
        concat(col("sym_a"), col("sym_b")).as("merged"), col("n"))
      .orderBy("round")
  }

  /** Persist the trained merge table — build once, encode many (the
    * [[graft.operators.Dedup.buildDedupIndex]] /
    * [[graft.operators.Ann.buildIvfIndex]] contract applied to the
    * tokenizer: a production pipeline trains offline and every encode
    * job reads the frozen model instead of retraining). The layout is
    * [[BpeModelDdl]].
    */
  private[graft] def buildBpeModel(s: SparkSession, dir: String, path: String): Unit = {
    import s.implicits._
    Publish(s, path)(sessionBpeMerges(s, dir).toDF("round", "sym_a", "sym_b", "n").write.parquet)
  }

  private val BpeModelDdl = "round INT, sym_a STRING, sym_b STRING, n BIGINT"

  /** The persisted [[buildBpeModel]] merge table in round order — a
    * driver-sized frozen model, rounds 1 to [[BpeRounds]] each present
    * once ([[Publish.placeModelRows]]). */
  private[graft] def readBpeModel(s: SparkSession,
      modelPath: String): Seq[(Int, String, String, Long)] =
    Publish.placeModelRows(modelPath, Publish.read(s, modelPath, BpeModelDdl).collect(),
      "round", 1, BpeRounds, "sym_a", "sym_b", "n")
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq

  /** Encode the corpus against a persisted [[buildBpeModel]] merge
    * table: the frozen merges (a driver-sized model, R rows) apply to
    * the distinct-word vocabulary exactly as in [[qBpeEncode]] — the
    * training loop never runs.
    */
  private[graft] def bpeEncodeWith(s: SparkSession, dir: String, modelPath: String): DataFrame =
    encodeCorpus(s, dir, readBpeModel(s, modelPath))

  /** MAP-ONLY per-document encode against a frozen merge table — the
    * streaming-compatible twin of [[encodeCorpus]].
    * The batch path encodes each DISTINCT word once and joins the
    * corpus to that vocabulary — the right amortization for a bounded
    * corpus, but a join + rollup is stateful on a stream. Here the
    * whole encode is ONE projection: per word, the same
    * [[bpeMergeFold]] greedy folds the model ships inside the
    * expression (the `NearestCell`-codebook pattern — model as
    * literals, no broadcast table, no state store), nested in a
    * `transform` over the document's words and summed with an
    * `aggregate` HOF. Stateless ⇒ valid under structured streaming in
    * append mode; each arriving document re-encodes its own words,
    * the honest per-row cost of not holding vocabulary state.
    * Per-word semantics are IDENTICAL to the batch path by
    * construction (same fold, same char split), so per-doc outputs
    * match row-for-row — StreamsSpec pins the parity.
    */
  private[graft] def bpeEncodeMapOnly(docs: DataFrame,
      merges: Seq[(Int, String, String, Long)]): DataFrame = {
    import org.apache.spark.sql.functions.{aggregate => arrFold}
    // Column-lambda variant of [[charSplit]] (same empty-string guard)
    def charSplitCol(w: Column): Column =
      when(length(w) === 0, array().cast("array<string>"))
        .otherwise(transform(sequence(lit(1), length(w)), i => w.substr(i, lit(1))))
    def encodeWord(w: Column): Column =
      size(merges.foldLeft(charSplitCol(w)) {
        case (syms, (_, pa, pb, _)) => bpeMergeFold(syms, pa, pb)
      }).cast("long")
    val words = split(col("text"), " ")
    docs
      .select(
        col("doc_id"),
        size(words).cast("long").as("n_words"),
        arrFold(transform(words, w => encodeWord(w)), lit(0L), _ + _).as("n_tokens"))
      .withColumn("tokens_per_word_bp", expr("(n_tokens * 10000) DIV n_words"))
  }

  /** Corpus tokenization with the trained tokenizer — the APPLY half
    * of [[qBpeTrain]] and the step every training-data pipeline runs
    * over 100 TB once the tokenizer is frozen: encode each document
    * with the learned merges, report per-document word/token counts
    * and the fixed-point tokens-per-word fertility (the number
    * tokenizer evaluations compare).
    *
    * Shape at scale: the merges apply to the DISTINCT-WORD table
    * (vocab-sized, [[BpeRounds]] map-only greedy folds — the corpus
    * is NOT re-segmented row by row), and the corpus pays exactly one
    * explode + one equi-join against the encoded vocabulary (AQE
    * broadcasts it while it fits; at web scale it hash-joins — either
    * way the corpus moves once) + one doc_id rollup. Training runs
    * once per session ([[sessionBpeMerges]] — vocab-sized, bounded
    * rounds) so the row stays self-contained without paying the loop
    * per invocation; a production pipeline feeds a persisted merge
    * table instead ([[bpeEncodeWith]]).
    */
  def qBpeEncode(s: SparkSession, dir: String): DataFrame =
    encodeCorpus(s, dir, sessionBpeMerges(s, dir))

  private def encodeCorpus(s: SparkSession, dir: String,
      merges: Seq[(Int, String, String, Long)]): DataFrame = {
    // ALL distinct words (the len>=2 training filter only affects which
    // pairs exist — merges are identical; encoding must cover every word)
    var vocab = docs(s, dir)
      .select(explode(split(col("text"), " ")).as("w"))
      .distinct()
      .select(col("w"), expr(charSplit).as("syms"))
      .materialized
    for ((_, pa, pb, _) <- merges)
      vocab = vocab.withColumn("syms", bpeMergeFold(col("syms"), pa, pb))
    val enc = vocab.select(col("w"), size(col("syms")).cast("long").as("n_toks"))
      .materialized
    docs(s, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .join(enc, Seq("w"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), sum("n_toks").as("n_tokens"))
      .withColumn("tokens_per_word_bp", expr("(n_tokens * 10000) DIV n_words"))
      .orderBy("doc_id")
  }

  // ------------------------------------------------------------------
  // Unigram-LM (SentencePiece-class) tokenizer — the
  // tokenizer shelf's second member beside BPE. Kudo 2018 trains a
  // piece vocabulary by EM over segmentation likelihood and PRUNES a
  // large seed vocabulary down to target size; this is that loop in
  // the repo's exact-integer house style: hard-EM (each E-step commits
  // to ONE deterministic segmentation — greedy longest-match-first,
  // the WordPiece inference rule, transcendental-free where true
  // soft-EM marginals need float log-likelihood forward-backward),
  // corpus-weighted piece-usage counts as the M-step statistic, and a
  // fixed prune schedule (the q_kcore bounded-iteration device) so the
  // oracle can unroll one CTE block battery per round.
  // ------------------------------------------------------------------

  /** Longest piece length tried by the greedy segmenter. */
  private[graft] val UniPieceMax = 4
  /** Seed vocabulary size (multi-char pieces; single chars are always
    * implicitly in-vocab — the completeness fallback, exactly
    * SentencePiece's required-character rule). */
  private[graft] val UniSeedMulti = 48
  /** Multi-char pieces kept after each prune round — FIXED schedule so
    * the oracle unrolls (production prunes a percentage per round to a
    * vocab-size target with the same loop). */
  private[graft] val UniKeepSchedule = Seq(32, 24, 16)
  /** Oracle walk unroll bound: the greedy walk advances ≥ 1 char per
    * step, so [[UniMaxWalk]] blocks cover every word up to that many
    * chars. TextOpsSpec pins corpus max word length ≤ this (the
    * phash ASCII-contract posture — the engine fold handles any
    * length; the ORACLE's unroll is what the bound protects). */
  private[graft] val UniMaxWalk = 16

  /** Greedy longest-match-first segmentation of a word under a frozen
    * multi-char piece set, single-char fallback — ONE sequential
    * `aggregate` fold (the [[bpeMergeFold]] device): the fold steps
    * char-count times; steps before the cursor are no-ops, and at the
    * cursor the longest matching piece wins ([[UniPieceMax]] down to
    * 2, else one char). Pieces ship as expression literals (the
    * `NearestCell` model-as-literals pattern), so the segmenter is a
    * stateless projection — map-only in batch, streaming-legal in
    * append mode.
    */
  private[graft] def uniSegTokens(w: Column, pieces: Seq[String]): Column = {
    import org.apache.spark.sql.functions.{aggregate => arrFold}
    def step(p: Column, acc: Column): Column = {
      val single = struct((p + 1).as("pos"),
        concat(acc.getField("ps"), array(w.substr(p, lit(1)))).as("ps"))
      (UniPieceMax to 2 by -1).foldRight(single) { (n, rest) =>
        val ps = pieces.filter(_.length == n)
        if (ps.isEmpty) rest
        else {
          val sub = w.substr(p, lit(n))
          when(sub.isin(ps: _*),
            struct((p + n).as("pos"),
              concat(acc.getField("ps"), array(sub)).as("ps")))
            .otherwise(rest)
        }
      }
    }
    val zero = struct(lit(1).as("pos"), array().cast("array<string>").as("ps"))
    when(length(w) === 0, array().cast("array<string>")).otherwise(
      arrFold(sequence(lit(1), length(w)), zero,
        (acc, _) => {
          val p = acc.getField("pos")
          when(p > length(w), acc).otherwise(step(p, acc))
        },
        acc => acc.getField("ps")))
  }

  /** The [[UniKeepSchedule]]-round train loop shared by
    * [[qUnigramTrain]] and [[qUnigramEncode]]: seed → hard-EM usage →
    * prune, then one final E-step under the frozen pieces for the
    * reported usage table. Returns (pieces kept, final (piece, uses)
    * rows in (uses DESC, piece) order — single chars included).
    *
    * Shape at scale: the ONLY corpus-sized stage is the
    * word-frequency aggregate (the [[trainBpe]] contract — Zipf-safe
    * partial-agg shuffle); seeding and every E-step are vocab-sized
    * map passes + bounded-key aggregates; every collect is the
    * model (≤ [[UniSeedMulti]] + alphabet rows).
    */
  private[graft] def trainUnigram(s: SparkSession,
      dir: String): (Seq[String], Seq[(String, Long)]) = {
    val wf = docs(s, dir)
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("f"))
      .materialized
    // seed: every 2..UniPieceMax-char substring occurrence, corpus
    // weighted; top UniSeedMulti by (count DESC, piece)
    var pieces: Seq[String] = wf
      .select(col("f"), explode(expr(
        s"""flatten(transform(sequence(2, $UniPieceMax), L ->
           |  CASE WHEN char_length(w) >= L
           |       THEN transform(sequence(1, char_length(w) - L + 1), i -> substr(w, i, L))
           |       ELSE CAST(array() AS ARRAY<STRING>) END))""".stripMargin)).as("p"))
      .groupBy("p").agg(sum("f").as("n"))
      .orderBy(col("n").desc, col("p")).limit(UniSeedMulti)
      .select("p").collect().map(_.getString(0)).toSeq
    for (k <- UniKeepSchedule) {
      pieces = wf
        .select(col("f"), explode(uniSegTokens(col("w"), pieces)).as("p"))
        .groupBy("p").agg(sum("f").as("n"))
        .filter(length(col("p")) >= 2)
        .orderBy(col("n").desc, col("p")).limit(k)
        .collect().map(_.getString(0)).toSeq
    }
    val report = wf
      .select(col("f"), explode(uniSegTokens(col("w"), pieces)).as("piece"))
      .groupBy("piece").agg(sum("f").as("n_uses"))
      .orderBy(col("n_uses").desc, col("piece"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    (pieces, report)
  }

  /** Session-scoped trained unigram model (the [[sessionBpeMerges]]
    * contract verbatim: one train per (session, dir), deterministic,
    * model-sized). */
  private val uniModelCache =
    new graft.plans.SessionCache[(Seq[String], Seq[(String, Long)])]

  private[graft] def sessionUnigramModel(s: SparkSession,
      dir: String): (Seq[String], Seq[(String, Long)]) =
    uniModelCache.getOrElseUpdate(s, dir)(trainUnigram(s, dir))

  /** The trained piece table — one row per piece (single chars
    * included) with its corpus-weighted usage under the frozen
    * vocabulary and its (usage DESC, piece) rank: exactly the
    * artifact a unigram tokenizer ships. */
  def qUnigramTrain(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    sessionUnigramModel(s, dir)._2.zipWithIndex
      .map { case ((p, n), i) => (i + 1L, p, p.length.toLong, n) }
      .toDF("rk", "piece", "piece_len", "n_uses")
  }

  /** Corpus tokenization with the trained unigram pieces — the APPLY
    * half ([[qBpeEncode]]'s shape and scale story verbatim): pieces
    * apply to the DISTINCT-word table (vocab-sized, one map pass —
    * never a per-row corpus re-segmentation), the corpus pays one
    * explode + one equi-join + one doc rollup. */
  def qUnigramEncode(s: SparkSession, dir: String): DataFrame = {
    val pieces = sessionUnigramModel(s, dir)._1
    val enc = docs(s, dir)
      .select(explode(split(col("text"), " ")).as("w"))
      .distinct()
      .select(col("w"), size(uniSegTokens(col("w"), pieces)).cast("long").as("n_toks"))
      .materialized
    docs(s, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .join(enc, Seq("w"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), sum("n_toks").as("n_tokens"))
      .withColumn("tokens_per_word_bp", expr("(n_tokens * 10000) DIV n_words"))
  }

  /** Persist the trained piece table (the [[buildBpeModel]] contract:
    * train offline once, every encode job reads the frozen model). The
    * layout is [[UnigramModelDdl]]. */
  private[graft] def buildUnigramModel(s: SparkSession, dir: String, path: String): Unit = {
    import s.implicits._
    val (_, report) = sessionUnigramModel(s, dir)
    Publish(s, path)(report.zipWithIndex.map { case ((p, n), i) => (i + 1L, p, n) }
      .toDF("rk", "piece", "n_uses").write.parquet)
  }

  private val UnigramModelDdl = "rk BIGINT, piece STRING, n_uses BIGINT"

  /** The persisted [[buildUnigramModel]] pieces in rank order,
    * multi-char only (the segmenter's match lists; single chars are
    * the implicit fallback). Driver-sized frozen model, every rank from
    * 1 present once ([[Publish.placeModelRows]]). */
  private[graft] def readUnigramModel(s: SparkSession, modelPath: String): Seq[String] = {
    val rows = Publish.read(s, modelPath, UnigramModelDdl).collect()
    Publish.placeModelRows(modelPath, rows, "rk", 1, rows.length, "piece", "n_uses")
      .map(_.getString(1)).filter(p => p.codePointCount(0, p.length) >= 2).toSeq
  }

  /** MAP-ONLY per-document unigram encode against frozen pieces — the
    * [[bpeEncodeMapOnly]] twin: one stateless projection (model as
    * literals), streaming-legal in append mode; per-word semantics
    * are IDENTICAL to the batch path by construction (same fold), so
    * per-doc outputs match row-for-row — StreamsSpec pins the parity.
    */
  private[graft] def uniEncodeMapOnly(docs: DataFrame, pieces: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.{aggregate => arrFold}
    val words = split(col("text"), " ")
    docs
      .select(
        col("doc_id"),
        size(words).cast("long").as("n_words"),
        arrFold(transform(words, w => size(uniSegTokens(w, pieces)).cast("long")),
          lit(0L), _ + _).as("n_tokens"))
      .withColumn("tokens_per_word_bp", expr("(n_tokens * 10000) DIV n_words"))
  }

  /** One greedy-walk pass as unrolled DuckDB CTEs: blocks
    * `${tag}s1..s[[UniMaxWalk]]` step the cursor (each advances ≥ 1
    * char, so the unroll covers words ≤ [[UniMaxWalk]] chars —
    * TextOpsSpec pins the corpus inside the bound), `${tag}seg` is
    * the union of emitted pieces. `pieceTbl` must expose column `p`.
    */
  private def uniWalkCtes(tag: String, srcTbl: String, pieceTbl: String,
      carryF: Boolean): String = {
    val carry = if (carryF) ", f" else ""
    val caseExpr = ((UniPieceMax to 2 by -1).map(n =>
      s"WHEN substr(w, pos, $n) IN (SELECT p FROM $pieceTbl WHERE len(p) = $n) THEN $n")
      .mkString("CASE ", "\n       ", "\n       ELSE 1 END"))
    val first =
      s"""${tag}s1 AS MATERIALIZED (
         |  SELECT w$carry, pos, $caseExpr AS plen
         |  FROM (SELECT w$carry, 1 AS pos FROM $srcTbl))""".stripMargin
    val rest = (2 to UniMaxWalk).map { j =>
      s"""${tag}s$j AS MATERIALIZED (
         |  SELECT w$carry, pos, $caseExpr AS plen
         |  FROM (SELECT w$carry, pos + plen AS pos FROM ${tag}s${j - 1}
         |        WHERE pos + plen <= len(w)))""".stripMargin
    }
    val union = (1 to UniMaxWalk)
      .map(j => s"SELECT w$carry, pos, plen FROM ${tag}s$j")
      .mkString("\n    UNION ALL ")
    (Seq(first) ++ rest).mkString(",\n") +
      s""",
         |${tag}seg AS MATERIALIZED (
         |  SELECT w$carry, substr(w, pos, plen) AS piece FROM ($union))""".stripMargin
  }

  /** Seed + prune-round CTE chain ending at the frozen piece table
    * `ps[[UniKeepSchedule]].size` — shared by the train and encode
    * oracles (the [[bpeTrainCtes]] precedent). */
  private def uniTrainCtes: String = {
    val rounds = UniKeepSchedule.zipWithIndex.map { case (k, idx) =>
      val r = idx + 1
      uniWalkCtes(s"u$r", "wf", s"ps${r - 1}", carryF = true) +
        s""",
           |us$r AS MATERIALIZED (
           |  SELECT piece, CAST(SUM(f) AS BIGINT) AS n FROM u${r}seg GROUP BY piece),
           |ps$r AS MATERIALIZED (
           |  SELECT piece AS p FROM us$r WHERE len(piece) >= 2
           |  ORDER BY n DESC, piece LIMIT $k)""".stripMargin
    }.mkString(",\n")
    s"""wf AS MATERIALIZED (
       |  SELECT w, CAST(COUNT(*) AS BIGINT) AS f
       |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
       |  WHERE len(w) > 0 GROUP BY w),
       |seedc AS (
       |  SELECT substr(w, CAST(i AS INT), CAST(L AS INT)) AS p,
       |    CAST(SUM(f) AS BIGINT) AS n
       |  FROM wf, unnest(range(2, ${UniPieceMax + 1})) tl(L),
       |       unnest(range(1, len(w) - L + 2)) ti(i)
       |  GROUP BY 1),
       |ps0 AS MATERIALIZED (SELECT p FROM seedc ORDER BY n DESC, p LIMIT $UniSeedMulti),
       |$rounds""".stripMargin
  }

  /** Oracle for [[qUnigramTrain]]: seed top-[[UniSeedMulti]], one
    * unrolled walk battery + usage rollup + prune per round, final
    * frozen-vocab walk for the reported usage, ROW_NUMBER rank. */
  val qUnigramTrainSql: String =
    s"""WITH $uniTrainCtes,
       |${uniWalkCtes("fin", "wf", s"ps${UniKeepSchedule.size}", carryF = true)},
       |usf AS (SELECT piece, CAST(SUM(f) AS BIGINT) AS n_uses FROM finseg GROUP BY piece)
       |SELECT ROW_NUMBER() OVER (ORDER BY n_uses DESC, piece) AS rk,
       |  piece, CAST(len(piece) AS BIGINT) AS piece_len, n_uses
       |FROM usf
       |ORDER BY rk""".stripMargin

  /** Oracle for [[qUnigramEncode]]: the train chain (for the frozen
    * pieces), a walk battery over ALL distinct words, per-doc rollup
    * (LEFT JOIN + COALESCE restores empty words' zero token count —
    * the [[qBpeEncodeSql]] device). */
  val qUnigramEncodeSql: String =
    s"""WITH $uniTrainCtes,
       |aw AS MATERIALIZED (
       |  SELECT DISTINCT unnest(string_split(text, ' ')) AS w FROM documents),
       |awn AS (SELECT w FROM aw WHERE len(w) > 0),
       |${uniWalkCtes("enc", "awn", s"ps${UniKeepSchedule.size}", carryF = false)},
       |encn AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS n_toks FROM encseg GROUP BY w),
       |stream AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
       |SELECT s.doc_id,
       |  COUNT(*) AS n_words,
       |  CAST(SUM(COALESCE(e.n_toks, 0)) AS BIGINT) AS n_tokens,
       |  (CAST(SUM(COALESCE(e.n_toks, 0)) AS BIGINT) * 10000) // COUNT(*)
       |    AS tokens_per_word_bp
       |FROM stream s LEFT JOIN encn e ON s.w = e.w
       |GROUP BY s.doc_id
       |ORDER BY s.doc_id""".stripMargin

  /** One greedy-merge application block: re-segment `prev`'s symbol
    * arrays with the pair in `best`, emitting `out`. Window
    * formulation of the greedy left-to-right merge (candidate runs,
    * even offsets merge) — equivalent to the engine's sequential fold
    * because candidates are only consecutive when pa = pb. `carry`
    * names extra columns (e.g. `f`) to thread through the rebuild.
    */
  private def bpeApplySql(prev: String, best: String, out: String, tag: String,
      carry: String): String = {
    val carrySel = if (carry.isEmpty) "" else s"v.$carry, "
    val carryGrp = if (carry.isEmpty) "" else s", $carry"
    s"""e$tag AS MATERIALIZED (
       |  SELECT v.w, ${carrySel}CAST(t.i AS INT) AS i, v.syms[CAST(t.i AS INT)] AS s,
       |    (CAST(t.i AS INT) < len(v.syms)
       |      AND v.syms[CAST(t.i AS INT)] = b.pa
       |      AND v.syms[CAST(t.i AS INT) + 1] = b.pb) AS cand,
       |    b.pa AS pa, b.pb AS pb
       |  FROM $prev v CROSS JOIN $best b, unnest(range(1, len(v.syms) + 1)) AS t(i)),
       |g$tag AS MATERIALIZED (
       |  SELECT *, SUM(CASE WHEN cand THEN 0 ELSE 1 END)
       |    OVER (PARTITION BY w ORDER BY i) AS grp
       |  FROM e$tag),
       |m$tag AS MATERIALIZED (
       |  SELECT *, cand AND
       |    (ROW_NUMBER() OVER (PARTITION BY w, grp, cand ORDER BY i) - 1) % 2 = 0 AS mstart
       |  FROM g$tag),
       |$out AS MATERIALIZED (
       |  SELECT w$carryGrp, list(CASE WHEN mstart THEN pa || pb ELSE s END ORDER BY i) AS syms
       |  FROM (SELECT *, COALESCE(LAG(mstart) OVER (PARTITION BY w ORDER BY i), false)
       |          AS consumed
       |        FROM m$tag)
       |  WHERE NOT consumed
       |  GROUP BY w$carryGrp)""".stripMargin
  }

  /** The training CTE chain: word frequencies, v0..vR vocabularies and
    * b1..bR chosen merges. Shared by the train and encode oracles. */
  private def bpeTrainCtes: String = {
    def round(r: Int): String = {
      val prev = if (r == 1) "v0" else s"v${r - 1}"
      s"""p$r AS MATERIALIZED (
         |  SELECT syms[CAST(i AS INT)] AS pa, syms[CAST(i AS INT) + 1] AS pb,
         |    CAST(SUM(f) AS BIGINT) AS n
         |  FROM $prev, unnest(range(1, len(syms))) AS t(i)
         |  GROUP BY 1, 2),
         |b$r AS MATERIALIZED (SELECT pa, pb, n FROM p$r ORDER BY n DESC, pa, pb LIMIT 1),
         |${bpeApplySql(prev, s"b$r", s"v$r", s"$r", "f")}""".stripMargin
    }
    s"""wf AS MATERIALIZED (
       |  SELECT w, COUNT(*) AS f
       |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
       |  WHERE len(w) >= 2 GROUP BY w),
       |v0 AS MATERIALIZED (
       |  SELECT w, f,
       |    list_transform(range(1, len(w) + 1), i -> substr(w, CAST(i AS INT), 1)) AS syms
       |  FROM wf),
       |${(1 to BpeRounds).map(round).mkString(",\n")}""".stripMargin
  }

  /** Oracle for [[qBpeTrain]]: the R-round loop unrolled into one CTE
    * block per round (pair counts → best pair → candidate positions →
    * greedy-run selection → rebuilt vocabulary), all MATERIALIZED so
    * DuckDB evaluates each round once.
    */
  val qBpeTrainSql: String = {
    val rows = (1 to BpeRounds).map(r =>
      s"SELECT CAST($r AS INT) AS round, pa AS sym_a, pb AS sym_b, pa || pb AS merged, n FROM b$r")
    s"""WITH $bpeTrainCtes
       |${rows.mkString("\nUNION ALL\n")}
       |ORDER BY round""".stripMargin
  }

  /** Oracle for [[qBpeEncode]]: the training chain (for b1..bR), then
    * the same apply blocks over the ALL-words vocabulary, then the
    * per-document rollup. Words with empty symbol lists (the empty
    * token) have no position rows and drop out of the apply chain's
    * GROUP BY — the LEFT JOIN + COALESCE(len, 0) restores their zero
    * token count, mirroring the engine's empty-array fold.
    */
  val qBpeEncodeSql: String = {
    val applies = (1 to BpeRounds).map(r =>
      bpeApplySql(if (r == 1) "aw0" else s"aw${r - 1}", s"b$r", s"aw$r", s"a$r", ""))
    s"""WITH $bpeTrainCtes,
       |aw0 AS MATERIALIZED (
       |  SELECT w,
       |    list_transform(range(1, len(w) + 1), i -> substr(w, CAST(i AS INT), 1)) AS syms
       |  FROM (SELECT DISTINCT unnest(string_split(text, ' ')) AS w FROM documents)),
       |${applies.mkString(",\n")},
       |stream AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
       |SELECT s.doc_id,
       |  COUNT(*) AS n_words,
       |  CAST(SUM(COALESCE(len(a.syms), 0)) AS BIGINT) AS n_tokens,
       |  (CAST(SUM(COALESCE(len(a.syms), 0)) AS BIGINT) * 10000) // COUNT(*)
       |    AS tokens_per_word_bp
       |FROM stream s LEFT JOIN aw$BpeRounds a ON s.w = a.w
       |GROUP BY s.doc_id
       |ORDER BY s.doc_id""".stripMargin
  }

  // Segment width (words) for C4-style segment-level dedup. Published
  // recipes dedup on lines/paragraphs; this corpus has no newlines, so
  // fixed 10-word windows stand in for the segmentation function.
  private val segW = 10

  /** Segment-level exact dedup (the C4 "three-sentence span" /
    * line-dedup family): split every document into consecutive
    * [[segW]]-word segments, hash each, count how often each segment
    * occurs corpus-wide, and report per-document duplicated-segment
    * fractions. Catches boilerplate shared across documents that
    * doc-level exact dedup misses entirely and MinHash only surfaces
    * when overall similarity is high.
    *
    * Shape at scale: the segmentation is a Generate (map-only, no
    * shuffle); the frequency pass shuffles (segment-md5, partial count)
    * — high-cardinality key, Zipf-safe via map-side combine like
    * [[qVocabTopk]]; the join back to occurrences is equi on the same
    * md5 key; the per-doc rollup shuffles once on doc_id. Segment
    * hashes are md5 (fixed 32-char keys, replayable by the oracle).
    */
  def qDedupSegment(s: SparkSession, dir: String): DataFrame = {
    val segs = docs(s, dir)
      .withColumn("ws", split(col("text"), " "))
      .select(col("doc_id"), explode(expr(
        s"""transform(sequence(0, CAST((size(ws) + ${segW - 1}) DIV $segW AS INT) - 1),
           |  i -> unhex(md5(array_join(slice(ws, i * $segW + 1, $segW), ' '))))""".stripMargin))
        .as("gm"))
    // r21 OPTIMIZATION (guide §2.4, the qSpanDedup device): segment
    // frequency via ONE window aggregate over the gm partition — the
    // groupBy + join-back shape derived the corpus-segment table twice
    // and shuffled it twice (segment hashes are mostly unique, so the
    // aggregate's partial combine collapsed nothing).
    segs.withColumn("f", count(lit(1)).over(Window.partitionBy("gm")))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_segments"),
        sum(when(col("f") >= 2, 1L).otherwise(0L)).as("n_dup_segments"))
      .withColumn("dup_frac",
        col("n_dup_segments").cast("double") / col("n_segments"))
      .withColumn("is_kept", col("dup_frac") <= 0.5)
  }

  val qDedupSegmentSql: String =
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |s AS (SELECT doc_id,
       |        md5(array_to_string(list_slice(ws, i * $segW + 1, i * $segW + $segW), ' ')) AS gm
       |      FROM d, unnest(generate_series(0, CAST((len(ws) + ${segW - 1}) // $segW AS INT) - 1)) AS t(i)),
       |c AS (SELECT gm, COUNT(*) AS f FROM s GROUP BY gm)
       |SELECT s.doc_id,
       |  COUNT(*) AS n_segments,
       |  CAST(SUM(CASE WHEN c.f >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_segments,
       |  CAST(SUM(CASE WHEN c.f >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS dup_frac,
       |  (CAST(SUM(CASE WHEN c.f >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)) <= 0.5 AS is_kept
       |FROM s JOIN c ON s.gm = c.gm
       |GROUP BY s.doc_id
       |ORDER BY s.doc_id""".stripMargin

  // Repeated-span width (words): the minimum exact repeat the
  // substring-level dedup reports. Published recipes use ~50 tokens
  // (Lee et al. 2022, arXiv:2107.06499 "Deduplicating Training Data
  // Makes Language Models Better"); this corpus's documents average
  // ~54 words, so 20 keeps the operator live at test scale — the
  // device is width-independent.
  private val spanW = 20

  /** Substring-level (repeated-span) dedup — the RefinedWeb /
    * exact-substring family that [[qDedupSegment]]'s FIXED windows
    * can't express: a repeated span at an arbitrary
    * offset straddles segment boundaries and hides from segment
    * hashing; here every STRIDE-1 [[spanW]]-word window is hashed, a
    * window duplicated corpus-wide marks its token range, and
    * overlapping/adjacent duplicated ranges MERGE into maximal spans
    * (the distributed stand-in for the suffix-array pass: every
    * exact repeat of ≥ spanW tokens contains ≥1 duplicated window,
    * so recall at the span threshold is exact; boundaries resolve to
    * window granularity). Per doc: maximal-span count, duplicated
    * token total (union of ranges, not the 40× overcount a naive
    * per-window sum gives), longest span, duplicated fraction, and
    * the C4-style keep verdict.
    *
    * Interval union without a running-max: all ranges share width
    * [[spanW]], so ranges sorted by start merge iff the start gap
    * < spanW — islands come from ONE lag + running sum, and each
    * island's union size is max(start) − min(start) + spanW.
    *
    * Shape at scale: windowing is a Generate (map-only; ~1 window
    * per corpus token — the honest cost of substring recall; a
    * production run swaps md5 for an 8-byte rolling hash to cut
    * shuffle bytes, same plan); frequency is a Zipf-safe
    * partial-agg shuffle on the window hash; the island windows
    * partition per doc_id (never global). The exploded window table
    * re-derives per consumer (frequency rollup, dup join, doc-length
    * rollup — three pruned corpus scans, the [[qDedupSegment]]
    * precedent): deliberate recompute-over-materialize, since the
    * intermediate is corpus-token-sized and its derivation is pure
    * map work — checkpointing it would trade cheap re-compute for a
    * corpus-scale write.
    */
  /** (doc_id, n_toks, pos, h): every stride-1 [[spanW]]-word window
    * hash, position-tagged; sub-threshold docs keep one (null, null)
    * row so per-doc rollups see the whole corpus. The span family
    * consumes it through [[spanGroups]]' distinct texts; the
    * docs-DataFrame form also feeds the streaming novelty path.
    */
  private[graft] def windowHashes(docsDf: DataFrame): DataFrame =
    windowHashes(docsDf, Nil)

  private[graft] def windowHashes(docsDf: DataFrame, keep: Seq[String]): DataFrame =
    docsDf
      .withColumn("ws", split(col("text"), " "))
      .select(Seq(col("doc_id"), size(col("ws")).cast("long").as("n_toks")) ++
        keep.map(col) :+
        posexplode_outer(expr(
          s"""CASE WHEN size(ws) >= $spanW
             |  THEN transform(sequence(0, size(ws) - $spanW),
             |         i -> unhex(md5(array_join(slice(ws, i + 1, $spanW), ' '))))
             |  ELSE CAST(array() AS array<binary>) END""".stripMargin))
          .as(Seq("pos", "h")): _*)

  /** Text canonicalization for the span family (r15, the simhash /
    * entity-match device applied to exact-substring dedup): stride-1
    * window hashing is the single heaviest map stage in the engine
    * (~1 window per corpus token), and verbatim re-crawl replicas —
    * exactly the mass that grows with crawl history — re-hash the
    * SAME window stream once per copy. Identical texts produce
    * identical window sets, and every per-doc span statistic is a
    * pure function of (text, global window frequency), so the corpus
    * collapses to DISTINCT texts before the Generate: one md5-keyed
    * group (16-byte key, the text rides the shuffle once — no heavier
    * than the window pass it replaces), window hashing over
    * representatives only, global frequencies weighted by group
    * multiplicity `m`, and an output-sized expand back to documents.
    * At the 10× replica (10-deep verbatim families) this cuts the
    * hashed window mass ~10×; at 100 TB it makes the span family's
    * cost a function of NOVEL text, never of duplication depth.
    * Returns (tkey, rep = min doc_id, m, text) per distinct text —
    * the shared [[Canonical]] collapse (rep ≡ its gid; membership is
    * the degenerate by-key form, [[spanMembers]], since the md5 key
    * is computable map-side on the member row).
    */
  private[graft] def spanGroups(s: SparkSession, dir: String): DataFrame =
    Canonical.groups(
        docs(s, dir)
          .select(col("doc_id"), col("text"), unhex(md5(col("text"))).as("tkey")),
        "doc_id", Seq("tkey"))
      .withColumnRenamed("gid", "rep")

  /** (doc_id, tkey, n_toks): map-only membership side of
    * [[spanGroups]] — what the canonical per-text statistics expand
    * back through.
    */
  private[graft] def spanMembers(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(col("doc_id"), unhex(md5(col("text"))).as("tkey"),
      expr("CAST(size(split(text, ' ')) AS BIGINT)").as("n_toks"))

  def qSpanDedup(s: SparkSession, dir: String): DataFrame = {
    // Canonicalized (see [[spanGroups]]): windows are hashed once per
    // DISTINCT text, frequencies weight by multiplicity m (a window in
    // a text copied m times is held by m documents), and the per-text
    // stats — a pure function of (text, global frequency) — expand
    // back to every member through one 16-byte-keyed join. The group
    // table is MATERIALIZED: column pruning specializes its aggregate
    // per consumer branch, so without the checkpoint the text shuffle
    // would re-run once per consumer instead of once.
    import graft.plans.Materialize.MaterializeOps
    val grp = spanGroups(s, dir).materialized
    val wins = windowHashes(
      grp.select(col("rep").as("doc_id"), col("text"), col("m"), col("tkey")),
      Seq("m", "tkey"))
    // r21 OPTIMIZATION (guide §2.4): frequency-mark the duplicated
    // windows with ONE window aggregate over the h partition instead
    // of a groupBy + join-back — the old shape derived the
    // corpus-token-sized window table twice and shuffled it twice
    // (window hashes are mostly unique, so the aggregate's partial
    // combine collapsed nothing); this shuffles it once.
    val dups = wins.filter(col("h").isNotNull)
      .withColumn("f", sum(col("m")).over(Window.partitionBy("h")))
      .filter(col("f") >= 2)
      .select(col("tkey"), col("pos"))
    val byPos = Window.partitionBy("tkey").orderBy("pos")
    val spans = dups
      .withColumn("prev", lag(col("pos"), 1).over(byPos))
      .withColumn("brk",
        when(col("prev").isNull || col("pos") - col("prev") >= spanW, 1L)
          .otherwise(0L))
      .withColumn("island", sum(col("brk")).over(
        byPos.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("tkey"), col("island"))
      .agg((max(col("pos")) - min(col("pos")) + spanW).cast("long").as("span_tokens"))
    val perText = spans.groupBy(col("tkey"))
      .agg(
        count(lit(1)).as("n_dup_spans"),
        sum(col("span_tokens")).as("n_dup_tokens"),
        max(col("span_tokens")).as("max_span_tokens"))
    spanMembers(s, dir)
      .join(perText, Seq("tkey"), "left")
      .select(col("doc_id"), col("n_toks"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
        coalesce(col("n_dup_tokens"), lit(0L)).as("n_dup_tokens"),
        coalesce(col("max_span_tokens"), lit(0L)).as("max_span_tokens"))
      .withColumn("dup_frac",
        col("n_dup_tokens").cast("double") / col("n_toks").cast("double"))
      .withColumn("is_kept", col("dup_frac") <= 0.5)
  }

  val qSpanDedupSql: String =
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |w AS (
       |  SELECT doc_id, i AS pos,
       |    md5(array_to_string(list_slice(ws, i + 1, i + $spanW), ' ')) AS h
       |  FROM d, unnest(generate_series(0, len(ws) - $spanW)) AS t(i)
       |  WHERE len(ws) >= $spanW),
       |f AS (SELECT h, COUNT(*) AS f FROM w GROUP BY h),
       |dup AS (
       |  SELECT w.doc_id, w.pos FROM w JOIN f ON w.h = f.h WHERE f.f >= 2),
       |i1 AS (
       |  SELECT doc_id, pos,
       |    CASE WHEN LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
       |           OR pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) >= $spanW
       |         THEN 1 ELSE 0 END AS brk
       |  FROM dup),
       |i2 AS (
       |  SELECT doc_id, pos,
       |    SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS UNBOUNDED PRECEDING) AS island
       |  FROM i1),
       |sp AS (
       |  SELECT doc_id, island,
       |    CAST(MAX(pos) - MIN(pos) + $spanW AS BIGINT) AS span_tokens
       |  FROM i2 GROUP BY doc_id, island),
       |pd AS (
       |  SELECT doc_id, COUNT(*) AS n_dup_spans,
       |    CAST(SUM(span_tokens) AS BIGINT) AS n_dup_tokens,
       |    MAX(span_tokens) AS max_span_tokens
       |  FROM sp GROUP BY doc_id)
       |SELECT d.doc_id, CAST(len(d.ws) AS BIGINT) AS n_toks,
       |  COALESCE(pd.n_dup_spans, 0) AS n_dup_spans,
       |  COALESCE(pd.n_dup_tokens, 0) AS n_dup_tokens,
       |  COALESCE(pd.max_span_tokens, 0) AS max_span_tokens,
       |  CAST(COALESCE(pd.n_dup_tokens, 0) AS DOUBLE)
       |    / CAST(len(d.ws) AS DOUBLE) AS dup_frac,
       |  (CAST(COALESCE(pd.n_dup_tokens, 0) AS DOUBLE)
       |    / CAST(len(d.ws) AS DOUBLE)) <= 0.5 AS is_kept
       |FROM d LEFT JOIN pd ON d.doc_id = pd.doc_id
       |ORDER BY d.doc_id""".stripMargin

  /** Cross-document span EXCISION — the transform half of
    * [[qSpanDedup]] (RefinedWeb's exact-substring dedup REWRITES
    * documents; the verdict table alone doesn't clean anything): for
    * every duplicated window the minimum doc_id occurrence is the
    * SURVIVOR and keeps its copy intact; in every other doc the
    * window's token range is cut. Foreign duplicated ranges merge to
    * maximal islands (the [[qSpanDedup]] lag device) and the doc is
    * rebuilt without the excised positions. Output carries the kept
    * text's md5 — the full rewritten string round-trips through the
    * oracle, so the REBUILD itself is hash-checked, not just the
    * counts. Intra-document repeats are deliberately untouched
    * (survivor keeps all its own copies — that's [[qRepetition]]'s
    * domain).
    *
    * Shape at scale: the window/frequency/island stages are
    * [[qSpanDedup]]'s plans (Zipf-safe hash shuffle + per-doc
    * windows); the position explode is bounded by EXCISED tokens
    * (islands are merged, so ≤1 row per removed token, not ×W); the
    * rebuild is one broadcast-out left join back onto the pruned
    * corpus and a codegen'd indexed filter per row.
    */
  def qSpanExcise(s: SparkSession, dir: String): DataFrame = {
    // Canonicalized (see [[spanGroups]]). A group needs only TWO
    // verdict variants: the representative (min doc_id — the only
    // member that can ever be a window's survivor, since the global
    // survivor min over docs = min over group representatives), whose
    // foreign set is computed from canonical windows; and every other
    // member, which is fully excised by construction — each of its
    // windows is held by ≥ m ≥ 2 docs with a survivor ≤ rep < doc_id,
    // so all positions are foreign and the rebuild is md5(''). Short
    // texts (< spanW words) have no windows in either variant and the
    // representative's untouched rebuild serves both. Group table
    // materialized for its three consumers (the qSpanDedup note).
    import graft.plans.Materialize.MaterializeOps
    val grp = spanGroups(s, dir).materialized
    val wins = windowHashes(
      grp.select(col("rep").as("doc_id"), col("text"), col("m"), col("tkey")),
      Seq("m", "tkey"))
    // r21 OPTIMIZATION (guide §2.4 — the qSpanDedup device): survivor
    // and frequency come from ONE window aggregate over the h
    // partition instead of a groupBy + join-back, halving the window
    // table's derivations and shuffles.
    val byH = Window.partitionBy("h")
    val foreign = wins.filter(col("h").isNotNull)
      .withColumn("f", sum(col("m")).over(byH))
      .withColumn("survivor", min(col("doc_id")).over(byH))
      .filter(col("f") >= 2 && col("doc_id") =!= col("survivor"))
      .select(col("tkey"), col("pos"))
    val byPos = Window.partitionBy("tkey").orderBy("pos")
    val islands = foreign
      .withColumn("prev", lag(col("pos"), 1).over(byPos))
      .withColumn("brk",
        when(col("prev").isNull || col("pos") - col("prev") >= spanW, 1L)
          .otherwise(0L))
      .withColumn("island", sum(col("brk")).over(
        byPos.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("tkey"), col("island"))
      .agg(min(col("pos")).as("st"), (max(col("pos")) + spanW - 1).as("en"))
    val excised = islands
      .select(col("tkey"), explode(expr("sequence(st, en)")).as("p"))
      .groupBy(col("tkey"))
      .agg(collect_set(col("p")).as("expos"), count(lit(1)).as("n_excised"))
    // representative-variant rebuild, once per distinct text
    val repStats = grp
      .withColumn("ws", split(col("text"), " "))
      .join(excised, Seq("tkey"), "left")
      .withColumn("expos", coalesce(col("expos"), expr("CAST(array() AS array<int>)")))
      .select(col("tkey"), col("rep"),
        coalesce(col("n_excised"), lit(0L)).as("rep_n_excised"),
        expr("md5(array_join(filter(ws, (x, i) -> NOT array_contains(expos, i)), ' '))")
          .as("rep_kept_md5"))
    val emptyMd5 = lit("d41d8cd98f00b204e9800998ecf8427e") // md5("")
    spanMembers(s, dir)
      .join(repStats, Seq("tkey"))
      .withColumn("n_excised",
        when(col("doc_id") === col("rep") || col("n_toks") < spanW,
          col("rep_n_excised")).otherwise(col("n_toks")))
      .select(col("doc_id"), col("n_toks"), col("n_excised"),
        (col("n_toks") - col("n_excised")).as("n_kept"),
        when(col("doc_id") === col("rep") || col("n_toks") < spanW,
          col("rep_kept_md5")).otherwise(emptyMd5).as("kept_md5"))
  }

  /** Oracle for [[qSpanExcise]] — fully hash-checked; DuckDB's
    * indexed list_filter rebuilds the identical kept-token string
    * (its lambda index is 1-based, hence `i - 1`; a fully-excised
    * doc's empty join is NULL there vs '' in Spark, hence COALESCE).
    */
  val qSpanExciseSql: String =
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |w AS (
       |  SELECT doc_id, i AS pos,
       |    md5(array_to_string(list_slice(ws, i + 1, i + $spanW), ' ')) AS h
       |  FROM d, unnest(generate_series(0, len(ws) - $spanW)) AS t(i)
       |  WHERE len(ws) >= $spanW),
       |sv AS (
       |  SELECT h, MIN(doc_id) AS survivor FROM w
       |  GROUP BY h HAVING COUNT(*) >= 2),
       |fo AS (
       |  SELECT w.doc_id, w.pos FROM w JOIN sv ON w.h = sv.h
       |  WHERE w.doc_id <> sv.survivor),
       |i1 AS (
       |  SELECT doc_id, pos,
       |    CASE WHEN LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
       |           OR pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) >= $spanW
       |         THEN 1 ELSE 0 END AS brk
       |  FROM fo),
       |i2 AS (
       |  SELECT doc_id, pos,
       |    SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS UNBOUNDED PRECEDING) AS island
       |  FROM i1),
       |il AS (
       |  SELECT doc_id, island, MIN(pos) AS st, MAX(pos) + ${spanW - 1} AS en
       |  FROM i2 GROUP BY doc_id, island),
       |ex AS (SELECT doc_id, unnest(generate_series(st, en)) AS p FROM il),
       |pe AS (
       |  SELECT doc_id, list(p) AS expos, COUNT(*) AS n_excised
       |  FROM ex GROUP BY doc_id)
       |SELECT d.doc_id, CAST(len(d.ws) AS BIGINT) AS n_toks,
       |  CAST(COALESCE(pe.n_excised, 0) AS BIGINT) AS n_excised,
       |  CAST(len(d.ws) - COALESCE(pe.n_excised, 0) AS BIGINT) AS n_kept,
       |  md5(COALESCE(array_to_string(
       |    list_filter(d.ws, (x, i) ->
       |      NOT list_contains(COALESCE(pe.expos, []::BIGINT[]), i - 1)), ' '), ''))
       |    AS kept_md5
       |FROM d LEFT JOIN pe USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin

  // Boilerplate-leaderboard depth: the top-K most duplicated windows a
  // corpus owner actually reads; model-sized at any corpus scale.
  private val SpanLeaderK = 100

  /** Boilerplate leaderboard — WHICH exact passages flood the corpus:
    * the [[SpanLeaderK]] most-duplicated stride-1 [[spanW]]-word
    * windows corpus-wide, each with total occurrences, distinct-doc
    * carrier count, and the first carrier doc. [[qSpanDedup]] answers
    * "how much of each DOC is duplicated"; this is the transpose the
    * cleanup decision needs ("what IS the duplicated mass — nav
    * chrome, license blocks, a mirrored dump?") before excising it.
    * Ranked by occurrences, md5 tiebreak — a total order, so the
    * top-K cut is deterministic cross-engine.
    *
    * Shape at scale: the canonical window pass ([[spanGroups]] — hash
    * once per distinct text), a two-level partial aggregate (per
    * (window, text): occurrences×m, carriers m; then per window), and
    * a TakeOrdered into [[SpanLeaderK]] rows. Never a global sort; the
    * leaderboard is model-sized no matter the corpus.
    */
  def qSpanLeaderboard(s: SparkSession, dir: String): DataFrame = {
    val grp = spanGroups(s, dir)
    val wc = windowHashes(
      grp.select(col("rep").as("doc_id"), col("text"), col("m"), col("tkey")),
      Seq("m", "tkey"))
      .filter(col("h").isNotNull)
    val perText = wc.groupBy(col("h"), col("tkey"))
      .agg(count(lit(1)).as("k"), max(col("m")).as("m"),
        max(col("doc_id")).as("rep"))
    perText.groupBy(col("h"))
      .agg(
        sum(col("k") * col("m")).as("n_occ"),
        sum(col("m")).as("n_docs"),
        min(col("rep")).as("first_doc"))
      .filter(col("n_occ") >= 2)
      .select(lower(hex(col("h"))).as("window_md5"),
        col("n_docs"), col("n_occ"), col("first_doc"))
      .orderBy(col("n_occ").desc, col("window_md5"))
      .limit(SpanLeaderK)
  }

  val qSpanLeaderboardSql: String =
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |w AS (
       |  SELECT doc_id,
       |    md5(array_to_string(list_slice(ws, i + 1, i + $spanW), ' ')) AS h
       |  FROM d, unnest(generate_series(0, len(ws) - $spanW)) AS t(i)
       |  WHERE len(ws) >= $spanW),
       |a AS (
       |  SELECT h, CAST(COUNT(*) AS BIGINT) AS n_occ,
       |    CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       |    MIN(doc_id) AS first_doc
       |  FROM w GROUP BY h HAVING COUNT(*) >= 2)
       |SELECT h AS window_md5, n_docs, n_occ, first_doc
       |FROM a ORDER BY n_occ DESC, window_md5
       |LIMIT $SpanLeaderK""".stripMargin

  // Sequence-packing knobs: token budget per packed training sequence,
  // and the number of independent packing lanes per language.
  private[graft] val packBudget = 256L
  private[graft] val packLanes  = 4L

  /** THE packing token unit — one expression shared by
    * [[qPackSequences]], [[qPackWaste]] and
    * [[graft.operators.CorpusBuild.qCorpusBuild]] (the composition
    * must not drift from the standalone packing row on
    * texts with consecutive/leading/trailing spaces), with its DuckDB
    * twin kept adjacent so the pair can never diverge silently.
    */
  private[graft] def packToks: org.apache.spark.sql.Column =
    expr("CAST(size(split(text, ' ')) AS BIGINT)")
  private[graft] val packToksDuck = "CAST(len(string_split(text, ' ')) AS BIGINT)"

  /** Greedy sequence packing for training-batch assembly: assign
    * documents (in deterministic doc_id order) to fixed-token-budget
    * packs, the step that turns a filtered corpus into dense
    * fixed-length training sequences (padding waste ↓). A document
    * whose tokens straddle a boundary stays in the pack where it
    * started (packs overflow by at most one document — the standard
    * greedy recipe; the trainer truncates or wraps).
    *
    * Shape at scale: packing is inherently sequential, so the stream is
    * sharded into `lang × lane` independent packing lanes
    * (lane = doc_id mod [[packLanes]]) — the running-sum window runs
    * per lane, bounding any single task's data to corpus/(langs·lanes)
    * regardless of total scale (more lanes = more parallelism; the
    * assignment stays reproducible because the lane function is
    * content-keyed, not partition-keyed). One shuffle for the window,
    * one partial-agg shuffle for the per-pack rollup.
    */
  def qPackSequences(s: SparkSession, dir: String): DataFrame = {
    val lane = Window.partitionBy(col("lang"), col("lane")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs(s, dir)
      .select(col("doc_id"), col("lang"),
        (col("doc_id") % packLanes).as("lane"),
        packToks.as("toks"))
      .withColumn("cum", sum(col("toks")).over(lane))
      .withColumn("pack_id", expr(s"(cum - toks) DIV $packBudget"))
      .groupBy(col("lang"), col("lane"), col("pack_id"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("toks")).as("n_tokens"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
  }

  /** Order-free oracle body — see [[qQualityScoreBody]]. */
  private[graft] val qPackSequencesBody: String =
    s"""WITH t AS (
       |  SELECT doc_id, lang, doc_id % $packLanes AS lane,
       |         $packToksDuck AS toks
       |  FROM documents),
       |w AS (
       |  SELECT doc_id, lang, lane, toks,
       |         SUM(toks) OVER (PARTITION BY lang, lane ORDER BY doc_id
       |                         ROWS UNBOUNDED PRECEDING) AS cum
       |  FROM t)
       |SELECT lang, lane, CAST((cum - toks) // $packBudget AS BIGINT) AS pack_id,
       |  COUNT(*) AS n_docs,
       |  CAST(SUM(toks) AS BIGINT) AS n_tokens,
       |  MIN(doc_id) AS first_doc,
       |  MAX(doc_id) AS last_doc
       |FROM w
       |GROUP BY lang, lane, (cum - toks) // $packBudget""".stripMargin

  val qPackSequencesSql: String = qPackSequencesBody + "\nORDER BY lang, lane, pack_id"

  /** Packing-efficiency audit per language — the fragmentation bill of
    * the [[qPackSequences]] scheme: packs and token mass against the
    * nominal capacity (packs × [[packBudget]]), split into UNDERFILL
    * (capacity a pack left empty — the padding the trainer pays) and
    * OVERFLOW (tokens past the budget from boundary-straddling docs —
    * what truncation/wrapping must absorb), each in exact tokens and
    * ppm-of-capacity. The number that decides whether the packing
    * budget and lane count fit the corpus's document-length
    * distribution BEFORE a training run pays for the padding.
    *
    * Shape at scale: the [[qPackSequences]] rollup (its two shuffles)
    * plus a |langs|-sized re-aggregate — nothing new at any scale.
    */
  def qPackWaste(s: SparkSession, dir: String): DataFrame =
    qPackSequences(s, dir)
      .select(col("lang"), col("lane"), col("n_tokens"))
      .withColumn("underfill", expr(s"greatest(0L, $packBudget - n_tokens)"))
      .withColumn("overflow", expr(s"greatest(0L, n_tokens - $packBudget)"))
      .groupBy(col("lang"))
      .agg(
        countDistinct(col("lane")).as("n_lanes"),
        count(lit(1)).as("n_packs"),
        sum(col("n_tokens")).as("n_tokens"),
        (count(lit(1)) * packBudget).as("capacity"),
        sum(col("underfill")).as("underfill_tokens"),
        sum(col("overflow")).as("overflow_tokens"))
      .select(col("lang"), col("n_lanes"), col("n_packs"), col("n_tokens"),
        col("capacity"),
        col("underfill_tokens"),
        col("overflow_tokens"),
        expr("(underfill_tokens * 1000000) DIV capacity").as("underfill_ppm"),
        expr("(overflow_tokens * 1000000) DIV capacity").as("overflow_ppm"))

  val qPackWasteSql: String = {
    val packs = qPackSequencesBody
    s"""WITH p AS ($packs),
       |w AS (
       |  SELECT lang, lane, n_tokens,
       |    greatest(0, $packBudget - n_tokens) AS uf,
       |    greatest(0, n_tokens - $packBudget) AS ovf
       |  FROM p)
       |SELECT lang,
       |  CAST(COUNT(DISTINCT lane) AS BIGINT) AS n_lanes,
       |  COUNT(*) AS n_packs,
       |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
       |  COUNT(*) * $packBudget AS capacity,
       |  CAST(SUM(uf) AS BIGINT) AS underfill_tokens,
       |  CAST(SUM(ovf) AS BIGINT) AS overflow_tokens,
       |  (CAST(SUM(uf) AS BIGINT) * 1000000) // (COUNT(*) * $packBudget) AS underfill_ppm,
       |  (CAST(SUM(ovf) AS BIGINT) * 1000000) // (COUNT(*) * $packBudget) AS overflow_ppm
       |FROM w GROUP BY lang
       |ORDER BY lang""".stripMargin
  }

  // PII scrub patterns — kept to regex constructs whose semantics are
  // identical in Java regex (Spark) and RE2 (DuckDB): literal classes,
  // +, bounded repetition; no backrefs or lookaround.
  private val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val ssnRe   = "[0-9]{3}-[0-9]{2}-[0-9]{4}"
  private val numRe   = "[0-9]+"

  /** PII scrubbing pass over the event property payloads: count and
    * redact email-, SSN- and number-shaped spans (the redaction step a
    * training pipeline runs before text leaves the trust boundary).
    * Patterns apply most-specific-first so an SSN isn't half-eaten by
    * the generic number rule. Map-only: pure per-row regex work inside
    * whole-stage codegen, linear at any scale.
    */
  def qPiiScrub(s: SparkSession, dir: String): DataFrame =
    Ingest.events(s, dir)
      .select(
        col("event_id"),
        expr(s"CAST(regexp_count(props, '$emailRe') AS BIGINT)").as("n_email"),
        expr(s"CAST(regexp_count(props, '$ssnRe') AS BIGINT)").as("n_ssn"),
        expr(s"CAST(regexp_count(props, '$numRe') AS BIGINT)").as("n_num"),
        regexp_replace(
          regexp_replace(
            regexp_replace(col("props"), emailRe, "<EMAIL>"),
            ssnRe, "<SSN>"),
          numRe, "<NUM>").as("props_scrubbed"))
      .withColumn("has_pii",
        col("n_email") > 0 || col("n_ssn") > 0 || col("n_num") > 0)

  val qPiiScrubSql: String =
    s"""SELECT event_id,
       |  CAST(len(regexp_extract_all(props, '$emailRe')) AS BIGINT) AS n_email,
       |  CAST(len(regexp_extract_all(props, '$ssnRe')) AS BIGINT) AS n_ssn,
       |  CAST(len(regexp_extract_all(props, '$numRe')) AS BIGINT) AS n_num,
       |  regexp_replace(regexp_replace(regexp_replace(props,
       |    '$emailRe', '<EMAIL>', 'g'),
       |    '$ssnRe', '<SSN>', 'g'),
       |    '$numRe', '<NUM>', 'g') AS props_scrubbed,
       |  (len(regexp_extract_all(props, '$emailRe')) > 0
       |   OR len(regexp_extract_all(props, '$ssnRe')) > 0
       |   OR len(regexp_extract_all(props, '$numRe')) > 0) AS has_pii
       |FROM events
       |ORDER BY event_id""".stripMargin

  /** Unicode text normalization (NFC + accent strip + lowercase +
    * whitespace collapse) — the canonicalization pass that runs before
    * tokenization and dedup so byte-level variants of the same text
    * ("Café"/"Café"/"cafe ") hash identically downstream. Native
    * one-pass codegen expression ([[graft.functions.NormalizeText]]);
    * map-only, with an ASCII fast path that makes the common
    * already-clean case allocation-free.
    */
  def qNormalizeText(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"),
        graft.functions.NormalizeText.column(col("text")).as("text_norm"))
      .withColumn("n_chars_norm", length(col("text_norm")).cast("long"))
      .withColumn("norm_md5", md5(col("text_norm").cast("binary")))

  /** Order-free oracle body — see [[qQualityScoreBody]]. */
  private[graft] val qNormalizeTextBody: String =
    """SELECT doc_id,
      |  trim(regexp_replace(lower(strip_accents(text)), '\s+', ' ', 'g')) AS text_norm,
      |  CAST(length(trim(regexp_replace(lower(strip_accents(text)), '\s+', ' ', 'g'))) AS BIGINT) AS n_chars_norm,
      |  md5(trim(regexp_replace(lower(strip_accents(text)), '\s+', ' ', 'g'))) AS norm_md5
      |FROM documents""".stripMargin

  val qNormalizeTextSql: String = qNormalizeTextBody + "\nORDER BY doc_id"

  /** Inverted-index build: the postings statistics a keyword-search /
    * BM25 layer serves from — per term: document frequency, total term
    * frequency, and the highest-tf posting (deterministic tie-break on
    * doc_id). Reported for the top-50 terms by df.
    *
    * Shape at scale: explode is a Generate (no shuffle); the
    * (term, doc) tf aggregate shuffles on the high-cardinality
    * composite with map-side combine (Zipf-safe — hot terms arrive as
    * one partial per map partition); the per-term rollup reuses a
    * single term-keyed shuffle for both the window and the aggregate;
    * top-50 is TakeOrderedAndProject (per-partition heaps, k-row
    * driver merge — no global sort).
    */
  def qInvertedIndex(s: SparkSession, dir: String): DataFrame = {
    val byTerm = Window.partitionBy(col("w"))
      .orderBy(col("tf").desc, col("doc_id").desc)
    docs(s, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("w"), col("doc_id"))
      .agg(count(lit(1)).as("tf"))
      .withColumn("rn", row_number().over(byTerm))
      .groupBy(col("w"))
      .agg(
        count(lit(1)).as("df"),
        sum(col("tf")).as("total_tf"),
        max(when(col("rn") === 1, col("doc_id"))).as("top_doc_id"),
        max(when(col("rn") === 1, col("tf"))).as("top_tf"))
      .orderBy(col("df").desc, col("total_tf").desc, col("w"))
      .limit(50)
  }

  val qInvertedIndexSql: String =
    """WITH tf AS (
      |  SELECT w, doc_id, COUNT(*) AS tf
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
      |  WHERE len(w) > 0
      |  GROUP BY w, doc_id),
      |r AS (
      |  SELECT w, doc_id, tf,
      |         ROW_NUMBER() OVER (PARTITION BY w ORDER BY tf DESC, doc_id DESC) AS rn
      |  FROM tf)
      |SELECT w, COUNT(*) AS df,
      |  CAST(SUM(tf) AS BIGINT) AS total_tf,
      |  MAX(CASE WHEN rn = 1 THEN doc_id END) AS top_doc_id,
      |  MAX(CASE WHEN rn = 1 THEN tf END) AS top_tf
      |FROM r
      |GROUP BY w
      |ORDER BY df DESC, total_tf DESC, w
      |LIMIT 50""".stripMargin

  /** The composed filter pipeline — the verdict table an actual
    * training-data build materializes: exact-dedup survivorship, then
    * quality rules, then repetition rules, folded into one keep/reject
    * decision with the FIRST failing stage as the reject reason (the
    * order real pipelines apply: dedup before quality so near-identical
    * spam is charged to 'duplicate', not double-counted).
    *
    * Shape at scale: the quality and repetition branches are map-only
    * projections of the same scan; the dedup branch is one content-md5
    * shuffle; the composition is two doc_id equi-joins. Every branch is
    * an already-verified operator — this row proves they compose
    * without semantic drift (the oracle replays the whole pipeline).
    */
  def qFilterPipeline(s: SparkSession, dir: String): DataFrame = {
    val quality = qQualityScore(s, dir).select(col("doc_id"), col("is_keep"))
    val repet = qRepetition(s, dir).select(col("doc_id"), col("is_repetitive"))
    val dedup = Dedup.qDedupExact(s, dir).select(col("doc_id"), col("is_dup"))
    quality.join(repet, Seq("doc_id")).join(dedup, Seq("doc_id"))
      .withColumn("reject_reason",
        when(col("is_dup"), "duplicate")
          .when(!col("is_keep"), "low_quality")
          .when(col("is_repetitive"), "repetitive")
          .otherwise("ok"))
      .withColumn("final_keep", col("reject_reason") === "ok")
      .select("doc_id", "is_dup", "is_keep", "is_repetitive",
        "reject_reason", "final_keep")
  }

  /** Order-free oracle body — see [[qQualityScoreBody]]. */
  private[graft] val qFilterPipelineBody: String =
    s"""WITH q AS ($qQualityScoreBody), r AS ($qRepetitionBody), d AS (${Dedup.qDedupExactBody})
       |SELECT q.doc_id, d.is_dup, q.is_keep, r.is_repetitive,
       |  CASE WHEN d.is_dup THEN 'duplicate'
       |       WHEN NOT q.is_keep THEN 'low_quality'
       |       WHEN r.is_repetitive THEN 'repetitive'
       |       ELSE 'ok' END AS reject_reason,
       |  (CASE WHEN d.is_dup THEN 'duplicate'
       |        WHEN NOT q.is_keep THEN 'low_quality'
       |        WHEN r.is_repetitive THEN 'repetitive'
       |        ELSE 'ok' END) = 'ok' AS final_keep
       |FROM q JOIN r ON q.doc_id = r.doc_id JOIN d ON q.doc_id = d.doc_id""".stripMargin

  val qFilterPipelineSql: String = qFilterPipelineBody + "\nORDER BY q.doc_id"

  // BM25 query-term list: fixed and tiny — a search request, not data.
  private val bm25Terms = Seq("spark", "hash", "vector", "stream")

  /** BM25-style relevance ranking: top-20 documents for a fixed
    * keyword query — the serving-side twin of `q_inverted_index`
    * (that row builds the postings statistics; this one consumes
    * tf/df/dl to rank). Uses the RATIONAL odds-ratio IDF
    * `(N - df + 0.5)/(df + 0.5)` — the quantity BM25's `log` wraps
    * (Robertson-Spärck Jones) — rather than the log itself: log is
    * monotone, so rankings are BM25's, while the whole score stays
    * +,-,×,÷ on IEEE doubles with an identical expression tree in
    * both engines — bit-exact cross-engine, no transcendental-libm
    * drift (same device as q_stats_moments). k1 = 1.2, b = 0.75.
    *
    * Shape at scale: ONE shuffle — tokenize is a Generate (map-only),
    * per-doc dl and the k query-term tfs come from a single doc_id
    * aggregate with map-side combine; N/avgdl/df condense via a
    * scalar aggregate (k + 2 numbers) broadcast back as a literal-ish
    * single row; scoring is a map; top-20 is TakeOrderedAndProject.
    * The per-doc tf columns are a k-wide conditional aggregate, not a
    * pivot-join — a 10-term query costs 10 counters per doc, zero
    * extra shuffles.
    */
  def qBm25(s: SparkSession, dir: String): DataFrame = {
    val tok = docs(s, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
    val docAggs = count(lit(1)).as("dl") +:
      bm25Terms.map(t =>
        sum(when(col("w") === t, 1L).otherwise(0L)).as(s"tf_$t"))
    val perDoc = tok.groupBy(col("doc_id")).agg(docAggs.head, docAggs.tail: _*)
    val statAggs = count(lit(1)).as("n_docs") +: sum(col("dl")).as("total_len") +:
      bm25Terms.map(t =>
        sum(when(col(s"tf_$t") > 0, 1L).otherwise(0L)).as(s"df_$t"))
    val stats = perDoc.groupBy().agg(statAggs.head, statAggs.tail: _*)
    val avgdl = col("total_len").cast("double") / col("n_docs").cast("double")
    val lenNorm = lit(0.25) + lit(0.75) * (col("dl").cast("double") / avgdl)
    def termScore(t: String): Column = {
      val tf = col(s"tf_$t").cast("double")
      val idf = ((col("n_docs") - col(s"df_$t")).cast("double") + lit(0.5)) /
        (col(s"df_$t").cast("double") + lit(0.5))
      idf * ((tf * lit(2.2)) / (tf + lit(1.2) * lenNorm))
    }
    perDoc.crossJoin(broadcast(stats))
      .select(col("doc_id"), col("dl"),
        bm25Terms.map(termScore).reduce(_ + _).as("score_bm25"))
      .orderBy(col("score_bm25").desc, col("doc_id"))
      .limit(20)
  }

  val qBm25Sql: String = {
    val tfCols = bm25Terms.map(t =>
      s"CAST(SUM(CASE WHEN w = '$t' THEN 1 ELSE 0 END) AS BIGINT) AS tf_$t").mkString(",\n      |    ")
    val dfCols = bm25Terms.map(t =>
      s"CAST(SUM(CASE WHEN tf_$t > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_$t").mkString(",\n      |    ")
    val scores = bm25Terms.map(t =>
      s"((CAST(n_docs - df_$t AS DOUBLE) + 0.5) / (CAST(df_$t AS DOUBLE) + 0.5)) * " +
        s"((CAST(tf_$t AS DOUBLE) * 2.2) / (CAST(tf_$t AS DOUBLE) + 1.2 * " +
        s"(0.25 + 0.75 * (CAST(dl AS DOUBLE) / (CAST(total_len AS DOUBLE) / CAST(n_docs AS DOUBLE))))))")
      .mkString(" + ")
    s"""WITH tok AS (
       |  SELECT doc_id, w FROM (
       |    SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
       |  WHERE len(w) > 0),
       |per_doc AS (
       |  SELECT doc_id, COUNT(*) AS dl,
       |    $tfCols
       |  FROM tok GROUP BY doc_id),
       |stats AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(dl) AS BIGINT) AS total_len,
       |    $dfCols
       |  FROM per_doc)
       |SELECT doc_id, dl, $scores AS score_bm25
       |FROM per_doc CROSS JOIN stats
       |ORDER BY score_bm25 DESC, doc_id
       |LIMIT 20""".stripMargin
  }

  // RAG-style chunking geometry: window/stride in WORDS. stride < window
  // gives the standard overlap so no answer span is split across a
  // boundary without also appearing whole in some chunk.
  private val chunkW = 40
  private val chunkS = 30

  /** Overlapping fixed-window document chunking — the retrieval-corpus
    * build step (every RAG/embedding pipeline chunks before it embeds).
    * Chunk i of a doc covers words [i·stride, i·stride+window); the
    * number of chunks is 1 + ceil(max(0, n−window)/stride), so every
    * word is covered and the final chunk is never shorter than
    * window−stride. Chunks are identified by (doc_id, chunk_id) and
    * carry the md5 of their text — the downstream join key for
    * chunk-level dedup/embedding without re-shipping the text.
    *
    * Shape at scale: Generate (explode of a per-row integer sequence) +
    * projection — map-only, zero shuffles, output ~n/stride rows per
    * doc. The only corpus pass is the scan.
    */
  def qChunkDocs(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .withColumn("n", size(col("ws")))
      .select(col("doc_id"), col("ws"), col("n"),
        explode(expr(
          s"sequence(0, (greatest(0, n - $chunkW) + ${chunkS - 1}) DIV $chunkS)"))
          .as("chunk_id"))
      .select(
        col("doc_id"),
        col("chunk_id").cast("long").as("chunk_id"),
        (col("chunk_id") * chunkS).cast("long").as("start_word"),
        least(lit(chunkW), col("n") - col("chunk_id") * chunkS).cast("long")
          .as("n_words"),
        md5(array_join(slice(col("ws"), col("chunk_id") * chunkS + 1, lit(chunkW)), " "))
          .as("chunk_md5"))

  val qChunkDocsSql: String =
    s"""WITH w AS (
       |  SELECT doc_id, string_split(text, ' ') AS ws,
       |         len(string_split(text, ' ')) AS n
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, ws, n,
       |    unnest(range(0, ((greatest(0, n - $chunkW) + ${chunkS - 1}) // $chunkS) + 1))
       |      AS chunk_id
       |  FROM w)
       |SELECT doc_id, chunk_id, chunk_id * $chunkS AS start_word,
       |  CAST(least($chunkW, n - chunk_id * $chunkS) AS BIGINT) AS n_words,
       |  md5(array_to_string(
       |    list_slice(ws, CAST(chunk_id * $chunkS + 1 AS INT),
       |               CAST(chunk_id * $chunkS + $chunkW AS INT)), ' ')) AS chunk_md5
       |FROM c ORDER BY doc_id, chunk_id""".stripMargin

  // tf-idf fixed-point scale: score = tf·10^6 DIV df. Integer, so both
  // engines rank identically — a float idf (ln((N+1)/(df+1))) is libm
  // territory where cross-engine bit equality is not contractual.
  private val TfidfFp = 1000000L
  private val TfidfK  = 3

  /** Per-document keyword extraction: top-[[TfidfK]] terms by tf-idf.
    * The idf factor is the RANK-monotone core 1/df fixed-pointed to an
    * integer (tf·10^6 DIV df): for a fixed corpus, ordering by tf/df
    * matches ordering by tf·idf for every monotone idf, and integer
    * keys make the per-doc ranking reproducible bit-for-bit in any
    * engine — the corpus-size constant N that textbook idf carries
    * cancels inside a per-doc ranking. Ties break on the term string.
    *
    * Shape at scale: tf aggregates on (doc_id, term) with map-side
    * combine; df is a vocabulary-sized rollup OF THE TF TABLE (never a
    * second corpus pass) that joins back vocab-sized (AQE broadcasts
    * it while it fits); the per-doc top-k window re-uses the doc_id
    * shuffle. Like [[qVocabTopk]], Zipf skew is absorbed by partial
    * aggregation.
    */
  def qTfidfKeywords(s: SparkSession, dir: String): DataFrame = {
    val tf = docs(s, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("doc_id"), col("w"))
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
    val scored = tf.join(df, "w")
      .select(col("doc_id"), col("w").as("term"), col("tf"), col("df"),
        expr(s"(tf * $TfidfFp) DIV df").as("score_fp"))
    TopK(scored, Seq("doc_id"), Seq(col("score_fp").desc, col("term")), TfidfK, "rk")
      .select(col("doc_id"), col("rk"), col("term"), col("tf"), col("df"), col("score_fp"))
  }

  val qTfidfKeywordsSql: String =
    s"""WITH tf AS (
       |  SELECT doc_id, w, COUNT(*) AS tf
       |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
       |  WHERE len(w) > 0 GROUP BY doc_id, w),
       |df AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY w),
       |scored AS (
       |  SELECT tf.doc_id, tf.w AS term, tf.tf, df.df,
       |    (tf.tf * $TfidfFp) // df.df AS score_fp
       |  FROM tf JOIN df ON tf.w = df.w),
       |ranked AS (
       |  SELECT doc_id, term, tf, df, score_fp,
       |    ROW_NUMBER() OVER (PARTITION BY doc_id
       |                       ORDER BY score_fp DESC, term) AS rk
       |  FROM scored)
       |SELECT doc_id, rk, term, tf, df, score_fp
       |FROM ranked WHERE rk <= $TfidfK
       |ORDER BY doc_id, rk""".stripMargin

  // train split threshold on the first md5 byte: 230/256 ≈ 89.8% train
  private val splitHexLt = "e6"

  /** Deterministic train/test split: assignment is a pure function of
    * the md5 of the DOCUMENT KEY (first byte < 0xe6 → train), so the
    * split is reproducible across runs, engines, and repartitions, and
    * a re-ingested doc always lands in the same side — the property
    * that keeps eval sets uncontaminated across corpus rebuilds
    * (id-mod sampling, [[qSampleStratified]], correlates with
    * insertion order; key-hash does not). Output is the per
    * (split, lang) acceptance report: docs, whitespace tokens, chars.
    *
    * Shape at scale: map-only split assignment over the scan, one
    * partial-aggregated shuffle on the tiny (split, lang) key.
    */
  def qTrainTestSplit(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(
        when(substring(md5(col("doc_id").cast("string").cast("binary")), 1, 2) < splitHexLt,
          "train").otherwise("test").as("split"),
        col("lang"),
        expr("CAST(size(filter(split(text, ' '), w -> length(w) > 0)) AS BIGINT)").as("toks"),
        col("n_chars"))
      .groupBy(col("split"), col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("toks")).as("n_tokens"),
        sum(col("n_chars")).as("n_chars_sum"))

  val qTrainTestSplitSql: String =
    s"""SELECT
       |  CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '$splitHexLt'
       |       THEN 'train' ELSE 'test' END AS split,
       |  lang, COUNT(*) AS n_docs,
       |  CAST(SUM(CAST(len(list_filter(string_split(text, ' '), w -> len(w) > 0)) AS BIGINT)) AS BIGINT) AS n_tokens,
       |  CAST(SUM(n_chars) AS BIGINT) AS n_chars_sum
       |FROM documents
       |GROUP BY 1, 2
       |ORDER BY split, lang""".stripMargin

  private val oovVocabK = 50

  /** Per-document out-of-vocabulary rate against the corpus top-[[oovVocabK]]
    * vocabulary — the tokenizer-coverage diagnostic run before
    * committing a vocab size (companion to [[qVocabTopk]], which IS
    * the vocabulary build). Rates are fixed-point ppm integers (DIV)
    * — no FP division, bit-identical cross-engine.
    *
    * Shape at scale: the vocabulary is top-k — MODEL-sized, built by
    * the same Zipf-safe partial-agg + TakeOrdered as vocab_topk and
    * then BROADCAST; the corpus explodes once, probes the broadcast
    * map-side, and aggregates on doc_id. Docs with no tokens are kept
    * by the left join with explicit zeros.
    */
  def qOovRate(s: SparkSession, dir: String): DataFrame = {
    val words = docs(s, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
    val vocab = words.groupBy(col("w")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("w")).limit(oovVocabK)
      .select(col("w"), lit(1L).as("iv"))
    val perDoc = words.join(broadcast(vocab), Seq("w"), "left")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(when(col("iv").isNull, 1L).otherwise(0L)).as("n_oov"))
    docs(s, dir).select(col("doc_id"), col("lang"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(
        col("doc_id"), col("lang"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_oov"), lit(0L)).as("n_oov"),
        coalesce(expr("(n_oov * 1000000) DIV n_tokens"), lit(0L)).as("oov_ppm"))
  }

  val qOovRateSql: String =
    s"""WITH words AS (
       |  SELECT doc_id, w
       |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
       |  WHERE len(w) > 0),
       |vocab AS (
       |  SELECT w, 1 AS iv FROM (
       |    SELECT w, COUNT(*) AS n FROM words GROUP BY w
       |    ORDER BY n DESC, w LIMIT $oovVocabK)),
       |per_doc AS (
       |  SELECT words.doc_id, COUNT(*) AS n_tokens,
       |    SUM(CASE WHEN vocab.iv IS NULL THEN 1 ELSE 0 END) AS n_oov
       |  FROM words LEFT JOIN vocab ON words.w = vocab.w
       |  GROUP BY words.doc_id)
       |SELECT d.doc_id, d.lang,
       |  CAST(COALESCE(p.n_tokens, 0) AS BIGINT) AS n_tokens,
       |  CAST(COALESCE(p.n_oov, 0) AS BIGINT) AS n_oov,
       |  CAST(COALESCE((p.n_oov * 1000000) // p.n_tokens, 0) AS BIGINT) AS oov_ppm
       |FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id
       |ORDER BY d.doc_id""".stripMargin

  private[graft] val nShards = 8

  /** Output-shard planning: assign every document to one of
    * [[nShards]] training shards, round-robin in descending size
    * order (LPT-style greedy: spreading the big docs first keeps
    * shard weights within one max-doc of each other), and report the
    * per-shard manifest (docs, chars, rank extents). Weighted by the
    * stored char length; swap in the tokenizer count when budgets are
    * token-denominated. The assignment is a pure function of the
    * corpus — reproducible, so a re-run shards identically and
    * downstream dataloaders can address shards stably.
    *
    * Shape at scale: the global size rank is
    * [[graft.plans.Surrogate.rankedId]] (range-partition +
    * zipWithIndex — never a single-partition window); the shard
    * rollup is one partial-aggregated shuffle on an
    * [[nShards]]-sized key.
    */
  def qShardPlan(s: SparkSession, dir: String): DataFrame = {
    val t = docs(s, dir)
      .select(col("doc_id"), col("n_chars"), (-col("n_chars")).as("wneg"))
    graft.plans.Surrogate.rankedId(t, Seq("wneg", "doc_id"), "rk")
      .select(col("doc_id"), col("n_chars"), col("rk"),
        expr(s"(rk - 1) % $nShards").as("shard"))
      .groupBy(col("shard"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("n_chars_sum"),
        min(col("rk")).as("min_rk"),
        max(col("rk")).as("max_rk"))
  }

  val qShardPlanSql: String =
    s"""WITH r AS (
       |  SELECT doc_id, n_chars,
       |    ROW_NUMBER() OVER (ORDER BY n_chars DESC, doc_id) AS rk
       |  FROM documents)
       |SELECT (rk - 1) % $nShards AS shard, COUNT(*) AS n_docs,
       |  CAST(SUM(n_chars) AS BIGINT) AS n_chars_sum, MIN(rk) AS min_rk, MAX(rk) AS max_rk
       |FROM r GROUP BY 1
       |ORDER BY shard""".stripMargin

  /** Tokenizer-efficiency report per language: corpus chars, BPE-ish
    * tokens, and fixed-point chars-per-token / tokens-per-word ratios
    * — the fertility metric that decides whether a tokenizer is
    * acceptable for a language before training on it (high
    * chars-per-token = cheap; low = the language pays more compute
    * per character). Ratios are DIV fixed-point (×1000) on exact
    * integer sums — bit-identical cross-engine.
    *
    * Shape at scale: map-only token counting (the same shared regex
    * as [[qTokenCount]]), one partial-aggregated shuffle into a
    * |langs|-sized key space.
    */
  def qTokenizerStats(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("lang"),
        length(col("text")).cast("long").as("chars"),
        expr(s"CAST(regexp_count(text, \"$bpeRegexSpark\") AS BIGINT)").as("bpe"),
        expr("CAST(size(filter(split(text, ' '), w -> length(w) > 0)) AS BIGINT)").as("words"))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("chars")).as("total_chars"),
        sum(col("bpe")).as("total_bpe_tokens"),
        sum(col("words")).as("total_words"))
      .select(col("lang"), col("n_docs"), col("total_chars"),
        col("total_bpe_tokens"), col("total_words"),
        // greatest(...,1): a language whose docs yield zero tokens/words
        // must report 0, not NULL (Spark DIV) vs an aborting
        // division-by-zero (DuckDB //) — same convention as
        // q_share_threshold/q_pareto/q_changepoint
        expr("(total_chars * 1000) DIV greatest(total_bpe_tokens, 1)").as("chars_per_token_x1000"),
        expr("(total_bpe_tokens * 1000) DIV greatest(total_words, 1)").as("tokens_per_word_x1000"))

  val qTokenizerStatsSql: String =
    s"""WITH t AS (
       |  SELECT lang, CAST(length(text) AS BIGINT) AS chars,
       |    CAST(len(regexp_extract_all(text, '$bpeRegexDuck')) AS BIGINT) AS bpe,
       |    CAST(len(list_filter(string_split(text, ' '), w -> len(w) > 0)) AS BIGINT) AS words
       |  FROM documents)
       |SELECT lang, COUNT(*) AS n_docs,
       |  CAST(SUM(chars) AS BIGINT) AS total_chars,
       |  CAST(SUM(bpe) AS BIGINT) AS total_bpe_tokens,
       |  CAST(SUM(words) AS BIGINT) AS total_words,
       |  (CAST(SUM(chars) AS BIGINT) * 1000) // GREATEST(CAST(SUM(bpe) AS BIGINT), 1) AS chars_per_token_x1000,
       |  (CAST(SUM(bpe) AS BIGINT) * 1000) // GREATEST(CAST(SUM(words) AS BIGINT), 1) AS tokens_per_word_x1000
       |FROM t GROUP BY lang
       |ORDER BY lang""".stripMargin

  private val UniformSampleK = 200

  /** Deterministic fixed-size uniform sample: the [[UniformSampleK]]
    * docs with the smallest md5(doc_id) — hash-rank sampling, the
    * reproducible analog of ORDER BY random() LIMIT k. Properties a
    * training pipeline needs: the sample is a pure function of the
    * keys (same sample on every rebuild/engine/partitioning), uniform
    * (md5 is uniform on keys), and without replacement. Companion to
    * [[qSampleStratified]] (per-stratum rates) and
    * [[qTrainTestSplit]] (hash threshold = fixed RATE; hash rank =
    * fixed SIZE).
    *
    * Shape at scale: map-only hash + TakeOrderedAndProject
    * (per-partition k-heaps, k-row driver merge) — no global sort, no
    * shuffle of the corpus.
    */
  def qSampleUniform(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"),
        md5(col("doc_id").cast("string").cast("binary")).as("hkey"))
      .orderBy(col("hkey"))
      .limit(UniformSampleK)

  val qSampleUniformSql: String =
    s"""SELECT doc_id, lang, n_chars, md5(CAST(doc_id AS VARCHAR)) AS hkey
       |FROM documents
       |ORDER BY hkey
       |LIMIT $UniformSampleK""".stripMargin

  private val WeightedSampleK = 20

  /** Deterministic SIZE-WEIGHTED document sample — the
    * length-proportional pick every token-budgeted curation pass
    * wants ([[qSampleUniform]] favors nothing; a token budget should
    * favor the docs that carry the tokens): priority sampling with
    * rank = u63 DIV weight, where u63 = splitmix64(doc_id) >>> 1 is a
    * 63-bit deterministic uniform and weight = n_chars. A doc twice
    * as long halves its expected rank — selection odds proportional
    * to size in the large-weight limit — yet the draw is a pure
    * function of doc_id: rebuild-stable across runs, partitions and
    * engines (OracleEmul replays the mix in HUGEINT; >>> 1 = `// 2`
    * on the unsigned value).
    *
    * Shape at scale: map-only rank projection + TakeOrdered top-k.
    * Zero shuffles, like the uniform sampler.
    */
  def qWeightedSample(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.GraftBridge
    val mixed = GraftBridge.column(graft.functions.SplitMix64(
      GraftBridge.expression(col("doc_id"))))
    docs(s, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .withColumn("u63", shiftrightunsigned(mixed, 1))
      .withColumn("rank_key", expr("u63 DIV greatest(n_chars, 1)"))
      .drop("u63")
      .orderBy(col("rank_key"), col("doc_id"))
      .limit(WeightedSampleK)
  }

  val qWeightedSampleSql: String = {
    val u63 = s"(${OracleEmul.mix("doc_id::HUGEINT")} // 2)"
    s"""SELECT doc_id, lang, n_chars,
       |  CAST($u63 // greatest(n_chars, 1)::HUGEINT AS BIGINT) AS rank_key
       |FROM documents
       |ORDER BY rank_key, doc_id
       |LIMIT $WeightedSampleK""".stripMargin
  }

  private val IndexBitsMinDf = 20L

  /** Posting-list delta-compression planning for the inverted index
    * ([[qInvertedIndex]]'s storage-cost sibling): per frequent term,
    * the docID postings are delta-encoded (sorted gaps) and costed at
    * ⌈log2⌉+1 bits per gap — the varint/Elias-γ estimate every search
    * index sizes storage with — against the raw 64-bit encoding.
    * The bit count uses `length(bin(gap))`: EXACT integer bit-length
    * in both engines (no float log2, whose rounding at power-of-two
    * boundaries differs by engine), so the ratio is hash-checked.
    *
    * Shape at scale: one (term, doc) distinct shuffle, the gap window
    * rides the same term partitioning, and the per-term rollup is
    * partial-aggregated; output bounded by the df floor.
    */
  def qIndexBits(s: SparkSession, dir: String): DataFrame = {
    val byTerm = Window.partitionBy(col("w")).orderBy(col("doc_id"))
    docs(s, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .select(col("w"), col("doc_id")).distinct()
      .withColumn("gap",
        coalesce(col("doc_id") - lag(col("doc_id"), 1).over(byTerm),
          col("doc_id") + lit(1L)))
      .withColumn("bits", length(bin(col("gap"))).cast("long"))
      .groupBy(col("w"))
      .agg(
        count(lit(1)).as("df"),
        sum(col("bits")).as("gap_bits"))
      .filter(col("df") >= IndexBitsMinDf)
      .select(col("w"), col("df"), col("gap_bits"),
        expr("df * 64").as("raw_bits"),
        expr("gap_bits * 1000000 DIV (df * 64)").as("ratio_ppm"))
  }

  val qIndexBitsSql: String =
    s"""WITH p AS (
       |  SELECT DISTINCT w, doc_id
       |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
       |  WHERE len(w) > 0),
       |g AS (
       |  SELECT w, coalesce(doc_id - LAG(doc_id) OVER (PARTITION BY w ORDER BY doc_id),
       |                     doc_id + 1) AS gap
       |  FROM p),
       |b AS (
       |  SELECT w, CAST(length(bin(gap)) AS BIGINT) AS bits FROM g),
       |agg AS (
       |  SELECT w, count(*) AS df, CAST(SUM(bits) AS BIGINT) AS gap_bits
       |  FROM b GROUP BY w HAVING count(*) >= $IndexBitsMinDf)
       |SELECT w, df, gap_bits, df * 64 AS raw_bits,
       |  gap_bits * 1000000 // (df * 64) AS ratio_ppm
       |FROM agg ORDER BY w""".stripMargin

  private val LenHistBin = 25L

  /** Per-language token-length histogram ([[LenHistBin]]-token bins):
    * the length-distribution diagnostic behind curriculum design
    * ([[qCurriculum]]), packing-budget choice ([[qPackSequences]]) and
    * truncation-loss estimates. Integer bin keys (DIV — no float
    * binning trap); output rows bounded by langs × (max_len/bin).
    *
    * Shape at scale: map-only token count (one split per doc), ONE
    * partial-aggregated shuffle into the tiny (lang, bin) key space.
    */
  def qLenHist(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("lang"),
        expr("CAST(size(filter(split(text, ' '), w -> length(w) > 0)) AS BIGINT)").as("toks"))
      .groupBy(col("lang"), expr(s"toks DIV $LenHistBin").as("bin"))
      .agg(
        count(lit(1)).as("n_docs"),
        min("toks").as("min_toks"),
        max("toks").as("max_toks"),
        sum("toks").as("total_toks"))
      .withColumn("lo_toks", col("bin") * LenHistBin)

  val qLenHistSql: String =
    s"""WITH t AS (
       |  SELECT lang,
       |    CAST(len(list_filter(string_split(text, ' '), w -> len(w) > 0)) AS BIGINT) AS toks
       |  FROM documents)
       |SELECT lang, toks // $LenHistBin AS bin, COUNT(*) AS n_docs,
       |  MIN(toks) AS min_toks, MAX(toks) AS max_toks,
       |  CAST(SUM(toks) AS BIGINT) AS total_toks,
       |  (toks // $LenHistBin) * $LenHistBin AS lo_toks
       |FROM t GROUP BY lang, toks // $LenHistBin
       |ORDER BY lang, bin""".stripMargin

  /** Per-SOURCE corpus quality profile — the crawl-triage report
    * ("which sources are junk"): for each ingest source, document
    * count, corpus share, and the reject-reason mix from the composed
    * [[qFilterPipeline]] verdicts (fixed-point ppm). This is the row
    * that turns the per-doc verdict table into the decision a corpus
    * build actually takes — dropping or re-weighting SOURCES, not
    * individual documents.
    *
    * Shape at scale: the verdict pipeline's branches as audited
    * there; one extra doc_id-keyed join to fetch the source label,
    * then a partial-aggregated rollup into a |sources|-sized key
    * space.
    */
  def qSourceQuality(s: SparkSession, dir: String): DataFrame = {
    val verdicts = qFilterPipeline(s, dir).select(col("doc_id"), col("reject_reason"))
    val bySource = docs(s, dir).select(col("doc_id"), col("source"))
      .join(verdicts, "doc_id")
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("reject_reason") === "ok", 1L).otherwise(0L)).as("n_keep"),
        sum(when(col("reject_reason") === "duplicate", 1L).otherwise(0L)).as("n_dup"),
        sum(when(col("reject_reason") === "low_quality", 1L).otherwise(0L)).as("n_low_q"),
        sum(when(col("reject_reason") === "repetitive", 1L).otherwise(0L)).as("n_repet"))
    bySource
      .withColumn("keep_ppm", expr("(n_keep * 1000000) DIV n_docs"))
  }

  val qSourceQualitySql: String = {
    val f = qFilterPipelineBody
    s"""WITH v AS ($f)
       |SELECT d.source, COUNT(*) AS n_docs,
       |  CAST(COALESCE(SUM(CASE WHEN v.reject_reason = 'ok' THEN 1 END), 0) AS BIGINT) AS n_keep,
       |  CAST(COALESCE(SUM(CASE WHEN v.reject_reason = 'duplicate' THEN 1 END), 0) AS BIGINT) AS n_dup,
       |  CAST(COALESCE(SUM(CASE WHEN v.reject_reason = 'low_quality' THEN 1 END), 0) AS BIGINT) AS n_low_q,
       |  CAST(COALESCE(SUM(CASE WHEN v.reject_reason = 'repetitive' THEN 1 END), 0) AS BIGINT) AS n_repet,
       |  (CAST(COALESCE(SUM(CASE WHEN v.reject_reason = 'ok' THEN 1 END), 0) AS BIGINT) * 1000000)
       |    // COUNT(*) AS keep_ppm
       |FROM documents d JOIN v ON d.doc_id = v.doc_id
       |GROUP BY d.source
       |ORDER BY source""".stripMargin
  }

  private val BigramTopK = 20

  /** Per-language top-[[BigramTopK]] word bigrams — the collocation
    * profile a tokenizer/LM team reads before choosing merge rules or
    * n-gram features (companion to [[qVocabTopk]]'s unigrams and
    * [[qBpePairs]]'s character pairs). Ties break on the bigram string.
    *
    * Shape at scale: bigrams are built MAP-ONLY by zipping the word
    * array against its shift (one pass per doc, no corpus shuffle
    * before aggregation — the lag-window formulation would shuffle
    * every word on doc_id first); the pair count partial-aggregates
    * into a vocab²-bounded key space, and the per-lang rank window
    * runs on that MODEL-sized count table, never on corpus rows.
    */
  def qBigramTopk(s: SparkSession, dir: String): DataFrame = {
    val bi = docs(s, dir)
      .select(col("lang"), split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= 2)
      .select(col("lang"), explode(expr(
        "zip_with(slice(ws, 1, size(ws) - 1), slice(ws, 2, size(ws) - 1), " +
          "(a, b) -> concat(a, ' ', b))")).as("bigram"))
      .groupBy(col("lang"), col("bigram"))
      .agg(count(lit(1)).as("n"))
    TopK(bi, Seq("lang"), Seq(col("n").desc, col("bigram")), BigramTopK, "rk")
      .select(col("lang"), col("rk"), col("bigram"), col("n"))
  }

  val qBigramTopkSql: String =
    s"""WITH d AS (SELECT lang, string_split(text, ' ') AS ws FROM documents),
       |bi AS (
       |  SELECT lang, unnest(list_transform(range(1, len(ws)),
       |    i -> ws[i] || ' ' || ws[i + 1])) AS bigram
       |  FROM d),
       |c AS (SELECT lang, bigram, COUNT(*) AS n FROM bi GROUP BY lang, bigram),
       |ranked AS (
       |  SELECT lang, bigram, n,
       |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n DESC, bigram) AS rk
       |  FROM c)
       |SELECT lang, rk, bigram, n
       |FROM ranked WHERE rk <= $BigramTopK
       |ORDER BY lang, rk""".stripMargin

  private val CollocMinSupport = 20L
  private val CollocTopK       = 20

  /** Per-language top-[[CollocTopK]] collocations by LIFT — observed
    * bigram probability over the independence expectation from the
    * unigram marginals (the PMI exponent, kept in ratio space so no
    * transcendentals enter the plan). [[qBigramTopk]] ranks by raw
    * count and so surfaces frequent-word pairs; lift surfaces pairs
    * that co-occur far MORE than their word frequencies predict — the
    * multi-word-expression signal tokenizer merge rules and phrase
    * mining actually want. Support floor [[CollocMinSupport]] keeps
    * one-off pairs from saturating the ratio.
    *
    * Determinism + overflow (SURVEY §4): all probabilities are ppm
    * integers via integral DIV — pa/pb over the lang token total,
    * pab over the lang bigram total — so every intermediate is
    * ≤ 10¹² REGARDLESS of corpus size;
    * lift_ppm = pab_ppm·10⁶ DIV max(pa_ppm·pb_ppm DIV 10⁶, 1).
    * The only unbounded product is count·10⁶, safe while the hottest
    * single word stays under ~9·10¹² occurrences — beyond that,
    * promote the ppm scale to DECIMAL sums.
    *
    * Shape at scale: two map-only corpus passes (unigram explode,
    * zip-shift bigram explode) each partial-aggregating into vocab- /
    * vocab²-bounded tables; the unigram table is checkpointed ONCE
    * (it feeds the token total and both marginal joins — a shared
    * subtree re-derives per consumer otherwise) and the marginal
    * joins + rank window run on the MODEL-sized count tables, never
    * corpus rows. Lang totals ride in broadcast.
    */
  def qCollocLift(s: SparkSession, dir: String): DataFrame = {
    val tok = docs(s, dir).select(col("lang"), split(col("text"), " ").as("ws"))
    val uni = tok.select(col("lang"), explode(col("ws")).as("w"))
      .groupBy(col("lang"), col("w")).agg(count(lit(1)).as("u"))
      .materialized
    val tot = uni.groupBy("lang").agg(sum("u").as("t_tokens"))
    val bi = tok.filter(size(col("ws")) >= 2)
      .select(col("lang"), explode(expr(
        "zip_with(slice(ws, 1, size(ws) - 1), slice(ws, 2, size(ws) - 1), " +
          "(a, b) -> concat(a, ' ', b))")).as("bigram"))
      .groupBy(col("lang"), col("bigram"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") >= CollocMinSupport)
      .materialized
    val btot = bi.groupBy("lang").agg(sum("n").as("t_bigrams"))
    val lifted = bi
      .withColumn("wa", element_at(split(col("bigram"), " "), 1))
      .withColumn("wb", element_at(split(col("bigram"), " "), 2))
      .join(uni.select(col("lang"), col("w").as("wa"), col("u").as("ua")), Seq("lang", "wa"))
      .join(uni.select(col("lang"), col("w").as("wb"), col("u").as("ub")), Seq("lang", "wb"))
      .join(broadcast(tot), Seq("lang"))
      .join(broadcast(btot), Seq("lang"))
      .select(col("lang"), col("bigram"), col("n"),
        expr("(n * 1000000) DIV t_bigrams").as("pab_ppm"),
        expr("(ua * 1000000) DIV t_tokens").as("pa_ppm"),
        expr("(ub * 1000000) DIV t_tokens").as("pb_ppm"))
      .withColumn("lift_ppm",
        expr("(pab_ppm * 1000000) DIV greatest((pa_ppm * pb_ppm) DIV 1000000, 1)"))
    TopK(lifted, Seq("lang"), Seq(col("lift_ppm").desc, col("bigram")), CollocTopK, "rk")
      .select(col("lang"), col("rk"), col("bigram"), col("n"), col("lift_ppm"))
  }

  val qCollocLiftSql: String =
    s"""WITH d AS (SELECT lang, string_split(text, ' ') AS ws FROM documents),
       |u AS (
       |  SELECT lang, w, COUNT(*) AS u FROM (
       |    SELECT lang, unnest(ws) AS w FROM d) GROUP BY lang, w),
       |t AS (SELECT lang, CAST(SUM(u) AS BIGINT) AS t_tokens FROM u GROUP BY lang),
       |b AS (
       |  SELECT lang, bigram, COUNT(*) AS n FROM (
       |    SELECT lang, unnest(list_transform(range(1, len(ws)),
       |      i -> ws[i] || ' ' || ws[i + 1])) AS bigram
       |    FROM d WHERE len(ws) >= 2) GROUP BY lang, bigram
       |  HAVING COUNT(*) >= $CollocMinSupport),
       |bt AS (SELECT lang, CAST(SUM(n) AS BIGINT) AS t_bigrams FROM b GROUP BY lang),
       |l AS (
       |  SELECT b.lang, b.bigram, b.n,
       |    (b.n * 1000000) // bt.t_bigrams AS pab_ppm,
       |    (ua.u * 1000000) // t.t_tokens AS pa_ppm,
       |    (ub.u * 1000000) // t.t_tokens AS pb_ppm
       |  FROM b
       |  JOIN u ua ON b.lang = ua.lang AND string_split(b.bigram, ' ')[1] = ua.w
       |  JOIN u ub ON b.lang = ub.lang AND string_split(b.bigram, ' ')[2] = ub.w
       |  JOIN t ON b.lang = t.lang
       |  JOIN bt ON b.lang = bt.lang),
       |ranked AS (
       |  SELECT lang, bigram, n,
       |    (pab_ppm * 1000000) // greatest((pa_ppm * pb_ppm) // 1000000, 1) AS lift_ppm,
       |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY
       |      (pab_ppm * 1000000) // greatest((pa_ppm * pb_ppm) // 1000000, 1) DESC,
       |      bigram) AS rk
       |  FROM l)
       |SELECT lang, rk, bigram, n, lift_ppm
       |FROM ranked WHERE rk <= $CollocTopK
       |ORDER BY lang, rk""".stripMargin

  // Backoff charge (bits) for a bigram the train-split LM never saw.
  // 20 bits ≈ a one-in-a-million event — deliberately harsher than any
  // seen bigram can score (counts would need c1/c12 > 2^19 per lang at
  // this SF), so OOV mass dominates the tail band exactly like CCNet's
  // "perplexity tail" bucket.
  private val LmBackoffBits = 20L
  // Band width: 4 bits-per-bigram per band (ppm fixed-point → DIV).
  private val LmBandPpm = 4000000L

  /** Bigram-LM perplexity filter (CCNet-style): train a per-language
    * word-bigram model on the deterministic TRAIN split (the
    * [[qTrainTestSplit]] key-hash device, so the reference corpus is
    * reproducible across rebuilds), then score EVERY document by its
    * average per-bigram surprise and bucket into perplexity bands —
    * the classic "head/middle/tail" quality triage a web corpus gets
    * before pretraining (CCNet scores against a held-out-domain KenLM;
    * the integer-bits device below replaces its float log-probs).
    *
    * Determinism (SURVEY §4): surprise is measured in INTEGER bits via
    * the [[qIndexBits]] `length(bin(x))` device —
    * `bits(w1,w2) = bitlen(c1) - bitlen(c12)` is floor-log2 of the
    * conditional c1/c12 within ±1 bit, exact in both engines, no
    * transcendentals. Unseen bigrams charge [[LmBackoffBits]].
    * `bpb_ppm` is fixed-point bits-per-bigram (×10⁶, integral DIV);
    * `ppl_band = bpb_ppm DIV` [[LmBandPpm]] is the 4-bit-wide band.
    *
    * Shape at scale: two corpus passes — (1) TRAINING
    * ([[lmTrainModel]], session-cached per (session, dir)): the
    * zip-shift bigram explode of the train split partial-aggregates
    * into the vocab²-bounded c12 / vocab-bounded c1 model tables
    * (Zipf-safe: hot bigrams condense map-side, same argument as
    * [[qVocabTopk]]), folded into ONE pair-bits table; (2) SCORING
    * ([[lmScoreDocs]], paid on every invocation — the honest serve
    * cost): one left equi-join of corpus bigrams against the model on
    * (lang, w1, w2), per-doc rollup partial-aggregated AFTER the
    * join, with AQE skew split handling the "the the" class of hot
    * keys. Model state lives in executors, never on the driver.
    */
  /** (doc_id, lang, w1, w2) — one row per adjacent word pair, built
    * map-only by zipping the word array against its shift (shared by
    * the query row, [[buildLmModel]] and [[lmScoreDocs]]).
    */
  private def lmBigrams(docsDf: DataFrame): DataFrame =
    docsDf
      .select(col("doc_id"), col("lang"), split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= 2)
      .select(col("doc_id"), col("lang"), explode(expr(
        "zip_with(slice(ws, 1, size(ws) - 1), slice(ws, 2, size(ws) - 1), " +
          "(a, b) -> struct(a AS w1, b AS w2))")).as("bg"))
      .select(col("doc_id"), col("lang"),
        col("bg.w1").as("w1"), col("bg.w2").as("w2"))

  /** Per-doc rollup of scored bigram rows (doc_id, lang, bits, oov) —
    * the shared tail of the query row and the serve path. */
  private def lmRollup(scored: DataFrame): DataFrame =
    scored
      .groupBy(col("doc_id"), col("lang"))
      .agg(
        count(lit(1)).as("n_bigrams"),
        sum(col("oov")).as("oov_bigrams"),
        sum(col("bits")).as("sum_bits"))
      .withColumn("bpb_ppm", expr("(sum_bits * 1000000) DIV n_bigrams"))
      .withColumn("ppl_band", expr(s"bpb_ppm DIV $LmBandPpm"))

  /** Train the bigram LM over the md5-split TRAIN docs and emit the
    * single (lang, w1, w2, bits) pair-bits table — the c1 join folds
    * into the model HERE, so every scoring pass pays one left join.
    * The model is vocab²-bounded (an executor-side table, not driver
    * state).
    */
  private[graft] def lmTrainModel(s: SparkSession, dir: String): DataFrame = {
    val bg = lmBigrams(docs(s, dir))
      .filter(substring(md5(col("doc_id").cast("string").cast("binary")), 1, 2)
        < splitHexLt)
      .materialized
    val c12 = bg.groupBy(col("lang"), col("w1"), col("w2"))
      .agg(count(lit(1)).as("c12"))
    val c1 = bg.groupBy(col("lang"), col("w1"))
      .agg(count(lit(1)).as("c1"))
    c12.join(c1, Seq("lang", "w1"))
      .select(col("lang"), col("w1"), col("w2"),
        expr("CAST(length(bin(c1)) - length(bin(c12)) AS BIGINT)").as("bits"))
  }

  /** Session cache for the TRAINED pair-bits model (keyed
    * (session, dir) — the [[Analytics]] graphCache staleness contract:
    * data dirs are immutable snapshots within a session; call
    * [[clearModelCache]] after an in-place rewrite). The MODEL is
    * cached, never the scored result: every invocation of the query
    * row still pays the honest corpus score pass (the q_ann_ivf
    * codebook-cache precedent) — only training stops
    * being re-paid, by this row and by [[qPplSourceMix]].
    */
  private val lmModelCache = new graft.plans.SessionCache[DataFrame]

  private def lmSessionModel(s: SparkSession, dir: String): DataFrame =
    lmModelCache.getOrElseUpdate(s, dir)(lmTrainModel(s, dir).materialized)

  def qLmPerplexity(s: SparkSession, dir: String): DataFrame =
    lmScoreDocs(docs(s, dir), lmSessionModel(s, dir))

  /** Persist the trained bigram LM — the [[buildBpeModel]]/
    * `buildIvfIndex` frozen-model contract applied to the perplexity
    * filter ([[lmScoreWith]]/`Streams.lmScore` serve against it).
    */
  private[graft] def buildLmModel(s: SparkSession, dir: String, path: String): Unit =
    Publish(s, path)(lmTrainModel(s, dir).write.parquet)

  /** Layout of a [[buildLmModel]] table; the scorer needs every column
    * (a null `bits` would score as a back-off, a null key as OOV). */
  private val LmModelDdl =
    "lang STRING NOT NULL, w1 STRING NOT NULL, w2 STRING NOT NULL, bits BIGINT NOT NULL"

  /** The persisted [[buildLmModel]] table, an executor-side model read
    * by [[lmScoreWith]] and `Streams.lmScore`. */
  private[graft] def readLmModel(s: SparkSession, modelPath: String): DataFrame =
    Publish.read(s, modelPath, LmModelDdl)

  /** Score arbitrary documents (doc_id, lang, text) against a frozen
    * LM model table — ONE left equi-join on (lang, w1, w2) + the
    * per-doc rollup; unseen pairs charge [[LmBackoffBits]]. Identical
    * row semantics to [[qLmPerplexity]] when the model was built from
    * the same corpus (spec-pinned), but the model can come from any
    * reference corpus — the actual CCNet deployment shape.
    */
  private[graft] def lmScoreDocs(docsDf: DataFrame, model: DataFrame): DataFrame =
    lmRollup(lmBigrams(docsDf)
      .join(model, Seq("lang", "w1", "w2"), "left")
      .select(col("doc_id"), col("lang"),
        coalesce(col("bits"), lit(LmBackoffBits)).as("bits"),
        when(col("bits").isNull, lit(1L)).otherwise(lit(0L)).as("oov")))

  /** Batch serve against a persisted [[buildLmModel]] table. */
  private[graft] def lmScoreWith(s: SparkSession, dir: String, modelPath: String): DataFrame =
    lmScoreDocs(docs(s, dir), readLmModel(s, modelPath))

  /** Order-free oracle body — see [[qQualityScoreBody]]. */
  private[graft] val qLmPerplexityBody: String =
    s"""WITH d AS (
       |  SELECT doc_id, lang, string_split(text, ' ') AS ws FROM documents),
       |bg AS (
       |  SELECT doc_id, lang,
       |    unnest(list_transform(range(1, len(ws)), i -> ws[i])) AS w1,
       |    unnest(list_transform(range(1, len(ws)), i -> ws[i + 1])) AS w2
       |  FROM d WHERE len(ws) >= 2),
       |tr AS (
       |  SELECT * FROM bg
       |  WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '$splitHexLt'),
       |c12 AS (
       |  SELECT lang, w1, w2, COUNT(*) AS c12 FROM tr GROUP BY lang, w1, w2),
       |c1 AS (
       |  SELECT lang, w1, COUNT(*) AS c1 FROM tr GROUP BY lang, w1),
       |scored AS (
       |  SELECT bg.doc_id, bg.lang,
       |    CASE WHEN c12.c12 IS NULL THEN $LmBackoffBits
       |         ELSE CAST(length(bin(c1.c1)) - length(bin(c12.c12)) AS BIGINT)
       |    END AS bits,
       |    CASE WHEN c12.c12 IS NULL THEN 1 ELSE 0 END AS oov
       |  FROM bg
       |  LEFT JOIN c12 ON bg.lang = c12.lang AND bg.w1 = c12.w1 AND bg.w2 = c12.w2
       |  LEFT JOIN c1 ON bg.lang = c1.lang AND bg.w1 = c1.w1),
       |agg AS (
       |  SELECT doc_id, lang, COUNT(*) AS n_bigrams,
       |    CAST(SUM(oov) AS BIGINT) AS oov_bigrams,
       |    CAST(SUM(bits) AS BIGINT) AS sum_bits
       |  FROM scored GROUP BY doc_id, lang)
       |SELECT doc_id, lang, n_bigrams, oov_bigrams, sum_bits,
       |  (sum_bits * 1000000) // n_bigrams AS bpb_ppm,
       |  ((sum_bits * 1000000) // n_bigrams) // $LmBandPpm AS ppl_band
       |FROM agg""".stripMargin

  val qLmPerplexitySql: String = qLmPerplexityBody + "\nORDER BY doc_id"

  /** Per-source perplexity-band mix — the decision table the
    * [[qLmPerplexity]] scores exist to produce (CCNet keeps or
    * re-weights by band; this is the per-SOURCE census that picks the
    * policy):
    * for each (source, ppl_band): doc count, token-bigram mass, OOV
    * mass, and the source's share of that band in ppm. The companion
    * of [[qSourceQuality]] (which rolls up the rule-based verdicts);
    * this one rolls up the model-based score.
    *
    * Shape at scale: the scoring program as audited there, one extra
    * doc_id-keyed join to fetch the source label, then a
    * partial-aggregated rollup into a |sources|×|bands|-sized key
    * space.
    */
  def qPplSourceMix(s: SparkSession, dir: String): DataFrame = {
    val scored = qLmPerplexity(s, dir).select(col("doc_id"),
      col("n_bigrams"), col("oov_bigrams"), col("ppl_band"))
    // materialized: consumed twice (directly + via the source totals);
    // un-checkpointed, each consumer re-derives the whole score chain
    // — the r13 scan audit caught documents scanned 4× here
    val bySrc = docs(s, dir).select(col("doc_id"), col("source"))
      .join(scored, "doc_id")
      .groupBy(col("source"), col("ppl_band"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_bigrams")).as("n_bigrams"),
        sum(col("oov_bigrams")).as("oov_bigrams"))
      .materialized
    val tot = bySrc.groupBy(col("source"))
      .agg(sum(col("n_docs")).as("src_docs"))
    bySrc.join(tot, "source")
      .select(col("source"), col("ppl_band"), col("n_docs"),
        col("n_bigrams"), col("oov_bigrams"),
        expr("(n_docs * 1000000) DIV src_docs").as("band_ppm"))
  }

  val qPplSourceMixSql: String = {
    val lm = qLmPerplexityBody
    s"""WITH lm AS ($lm),
       |by_src AS (
       |  SELECT d.source, lm.ppl_band, COUNT(*) AS n_docs,
       |    CAST(SUM(lm.n_bigrams) AS BIGINT) AS n_bigrams,
       |    CAST(SUM(lm.oov_bigrams) AS BIGINT) AS oov_bigrams
       |  FROM documents d JOIN lm ON d.doc_id = lm.doc_id
       |  GROUP BY d.source, lm.ppl_band),
       |tot AS (
       |  SELECT source, CAST(SUM(n_docs) AS BIGINT) AS src_docs
       |  FROM by_src GROUP BY source)
       |SELECT b.source, b.ppl_band, b.n_docs, b.n_bigrams, b.oov_bigrams,
       |  (b.n_docs * 1000000) // t.src_docs AS band_ppm
       |FROM by_src b JOIN tot t ON b.source = t.source
       |ORDER BY b.source, b.ppl_band""".stripMargin
  }

  // Fixed bucket count for the growth/novelty curves: output is always
  // ~GrowthBuckets rows REGARDLESS of corpus size (bucket width derives
  // from max doc_id via a 1-row broadcast, the gap-fill bounds device).
  private val GrowthBuckets = 20L

  /** Corpus novelty curve — "is new data still new": per ingestion
    * bucket (doc_id order as the ingestion proxy, [[GrowthBuckets]]
    * equal-width buckets), the share of [[spanW]]-token window hashes
    * whose FIRST corpus occurrence is in that bucket. A flattening
    * curve is the data-exhaustion signal (each marginal crawl slice
    * adds fewer unseen passages); a cliff marks the bucket where a
    * mirrored dump entered the feed. The window vocabulary is the
    * same one [[qSpanDedup]] keys on, so the curve explains WHERE the
    * span-dedup mass comes from.
    *
    * Shape at scale: the one stride-1 window-hash pass (the honest
    * RefinedWeb cost, shared shape with span dedup), a min-doc_id
    * partial aggregate into the window-vocabulary-bounded first-seen
    * table, one equi-join back, and a rollup into ≤[[GrowthBuckets]]
    * rows. No windows over corpus rows anywhere.
    */
  def qNoveltyCurve(s: SparkSession, dir: String): DataFrame = {
    // Canonicalized over distinct texts (see [[spanGroups]]): window
    // hashing runs once per distinct text; a window's first corpus
    // occurrence is necessarily in a group REPRESENTATIVE (min member
    // doc_id = rep, and the global min doc holding h is the min rep
    // over groups holding h), so per-text window/novel counts expand
    // to members with novel mass credited only to the rep row.
    val grp = spanGroups(s, dir)
    val wc = windowHashes(
      grp.select(col("rep").as("doc_id"), col("text"), col("tkey")), Seq("tkey"))
      .filter(col("h").isNotNull)
      .select(col("tkey"), col("doc_id").as("rep"), col("h")).materialized
    val mem = spanMembers(s, dir).filter(col("n_toks") >= spanW)
    val bounds = mem.agg(max("doc_id").as("max_id"))
      .select(expr(s"(max_id DIV $GrowthBuckets) + 1").as("bw"))
    // r21 OPTIMIZATION (guide §2.4, the qSpanDedup device): first-seen
    // via ONE window aggregate over the h partition — the groupBy +
    // join-back shape shuffled the checkpointed window table twice.
    val perText = wc
      .withColumn("first_doc", min(col("rep")).over(Window.partitionBy("h")))
      .groupBy(col("tkey"), col("rep"))
      .agg(count(lit(1)).as("n_w"),
        sum(when(col("rep") === col("first_doc"), 1L).otherwise(0L)).as("n_nov"))
    mem.join(perText, Seq("tkey"))
      .crossJoin(broadcast(bounds))
      .select(expr("doc_id DIV bw").as("bucket"), col("n_w"),
        when(col("doc_id") === col("rep"), col("n_nov")).otherwise(0L).as("novel"))
      .groupBy(col("bucket"))
      .agg(sum(col("n_w")).as("n_windows"), sum(col("novel")).as("n_novel"))
      .withColumn("novelty_ppm", expr("(n_novel * 1000000) DIV n_windows"))
  }

  val qNoveltyCurveSql: String =
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |w AS (
       |  SELECT doc_id,
       |    md5(array_to_string(list_slice(ws, i + 1, i + $spanW), ' ')) AS h
       |  FROM d, unnest(generate_series(0, len(ws) - $spanW)) AS t(i)
       |  WHERE len(ws) >= $spanW),
       |b AS (SELECT (MAX(doc_id) // $GrowthBuckets) + 1 AS bw FROM w),
       |f AS (SELECT h, MIN(doc_id) AS first_doc FROM w GROUP BY h),
       |j AS (
       |  SELECT w.doc_id // b.bw AS bucket,
       |    CASE WHEN w.doc_id = f.first_doc THEN 1 ELSE 0 END AS novel
       |  FROM w JOIN f ON w.h = f.h CROSS JOIN b)
       |SELECT bucket, COUNT(*) AS n_windows,
       |  CAST(SUM(novel) AS BIGINT) AS n_novel,
       |  (CAST(SUM(novel) AS BIGINT) * 1000000) // COUNT(*) AS novelty_ppm
       |FROM j GROUP BY bucket
       |ORDER BY bucket""".stripMargin

  /** Persist the window-hash first-seen index — the frozen-state half
    * of continuous novelty monitoring (`Streams.noveltyMaintenance`
    * scores arrivals against it and publishes their new hashes as
    * streamed batches). The root is published through [[Publish]], so
    * a rebuild retires those batches.
    */
  private[graft] def buildNoveltyIndex(s: SparkSession, dir: String, path: String): Unit =
    Publish(s, path) { tmp =>
      windowHashes(docs(s, dir)).filter(col("h").isNotNull)
        .groupBy(col("h")).agg(min(col("doc_id")).as("first_doc"))
        .write.parquet(s"$tmp/resident.parquet")
    }

  /** Score one batch of (doc_id, text) docs for window novelty against
    * a seen-hash table, and emit the batch's OWN new hashes for index
    * maintenance. A window instance is novel iff its hash is absent
    * from `seen` AND its doc is the batch-local first carrier (the
    * within-batch analog of the corpus first-doc rule, so streamed
    * batches in ingestion order reproduce [[qNoveltyCurve]]'s verdicts
    * exactly — StreamsSpec pins it).
    *
    * Shape: the batch-sized window pass, one vocab-bounded batch-first
    * aggregate, one left join against the seen table (stream-static,
    * no state store), per-doc rollup. The flagged relation is
    * materialized once for its two consumers (per-doc scores + new
    * hashes).
    */
  private[graft] def noveltyBatch(batch: DataFrame, seen: DataFrame): (DataFrame, DataFrame) = {
    val wins = windowHashes(batch).filter(col("h").isNotNull)
    val flagged = wins
      .join(wins.groupBy(col("h")).agg(min(col("doc_id")).as("bfirst")), "h")
      .join(seen.select("h").distinct().withColumn("known", lit(1L)), Seq("h"), "left")
      .materialized
    val perDoc = flagged
      .select(col("doc_id"),
        when(col("known").isNull && col("doc_id") === col("bfirst"), 1L)
          .otherwise(0L).as("novel"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_windows"), sum(col("novel")).as("n_novel"))
      .withColumn("novelty_ppm", expr("(n_novel * 1000000) DIV n_windows"))
    val newHashes = flagged.filter(col("known").isNull)
      .select(col("h"), col("bfirst").as("first_doc")).distinct()
    (perDoc, newHashes)
  }

  /** Heaps-law vocabulary growth curve: per ingestion bucket (the
    * [[qNoveltyCurve]] bucket device), token mass, NEW word types
    * (first corpus occurrence), and the cumulative type/token curve
    * with fixed-point types-per-million-tokens. The sublinear bend of
    * cum_types vs cum_tokens is Heaps' law; where it flattens, added
    * data repeats the existing vocabulary — the diversity-budget twin
    * of [[qVocabCoverage]]'s static Zipf summary.
    *
    * Shape at scale: one token explode partial-aggregated twice
    * (per-bucket mass; vocab-bounded first-seen table), and the
    * cumulative window runs on the ≤[[GrowthBuckets]]-row bucket
    * table — bounded, so its single-partition window is free.
    */
  def qVocabGrowth(s: SparkSession, dir: String): DataFrame = {
    val tok = docs(s, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0).materialized
    val bounds = tok.agg(max("doc_id").as("max_id"))
      .select(expr(s"(max_id DIV $GrowthBuckets) + 1").as("bw"))
    val perBucket = tok.crossJoin(broadcast(bounds))
      .groupBy(expr("doc_id DIV bw").as("bucket"))
      .agg(count(lit(1)).as("n_tokens"))
    val newTypes = tok.groupBy(col("w")).agg(min(col("doc_id")).as("first_doc"))
      .crossJoin(broadcast(bounds))
      .groupBy(expr("first_doc DIV bw").as("bucket"))
      .agg(count(lit(1)).as("new_types"))
    val cum = Window.orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perBucket.join(newTypes, Seq("bucket"), "left")
      .select(col("bucket"), col("n_tokens"),
        coalesce(col("new_types"), lit(0L)).as("new_types"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(cum))
      .withColumn("cum_types", sum(col("new_types")).over(cum))
      .withColumn("types_per_mtok", expr("(cum_types * 1000000) DIV cum_tokens"))
  }

  val qVocabGrowthSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, w
       |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
       |  WHERE len(w) > 0),
       |b AS (SELECT (MAX(doc_id) // $GrowthBuckets) + 1 AS bw FROM t),
       |pb AS (
       |  SELECT t.doc_id // b.bw AS bucket, COUNT(*) AS n_tokens
       |  FROM t CROSS JOIN b GROUP BY 1),
       |ft AS (SELECT w, MIN(doc_id) AS first_doc FROM t GROUP BY w),
       |nt AS (
       |  SELECT ft.first_doc // b.bw AS bucket, COUNT(*) AS new_types
       |  FROM ft CROSS JOIN b GROUP BY 1),
       |j AS (
       |  SELECT pb.bucket, pb.n_tokens,
       |    CAST(COALESCE(nt.new_types, 0) AS BIGINT) AS new_types
       |  FROM pb LEFT JOIN nt ON pb.bucket = nt.bucket)
       |SELECT bucket, n_tokens, new_types,
       |  CAST(SUM(n_tokens) OVER (ORDER BY bucket) AS BIGINT) AS cum_tokens,
       |  CAST(SUM(new_types) OVER (ORDER BY bucket) AS BIGINT) AS cum_types,
       |  (CAST(SUM(new_types) OVER (ORDER BY bucket) AS BIGINT) * 1000000)
       |    // CAST(SUM(n_tokens) OVER (ORDER BY bucket) AS BIGINT) AS types_per_mtok
       |FROM j ORDER BY bucket""".stripMargin

  // DSIR feature space: hashed word n-grams (unigrams + bigrams)
  // bucketed by the first 3 hex chars of md5 → 4096 buckets (the
  // paper's 10k-bucket hashed n-gram space at this corpus scale).
  // The bucket KEY stays a hex string — identical in both engines
  // (the qTrainTestSplit md5-prefix device), no int conversion.
  private val DsirSmoothBits = 4L // unseen-in-slice charge: bitlen(T)+4
  // Per-feature shift that keeps the fixed-point average non-negative
  // in BOTH engines (Spark DIV truncates toward zero, DuckDB // floors
  // — they only agree on non-negatives): ratio ≥ −(bitlen(Tt)+4) and
  // bitlen of a BIGINT total is ≤ 63, so +128 covers any corpus size.
  private val DsirShiftBits = 128L
  // Band width 0.05 bits/feature: the integer-bits device quantizes
  // per-feature ratios to whole bits, so after per-doc averaging the
  // corpus-level spread lives in fractions of a bit — bands must
  // resolve that, not the ±128-bit theoretical range.
  private val DsirBandPpm = 50000L

  /** (doc_id, [carry...], f) — one row per hashed n-gram feature
    * OCCURRENCE (unigrams + adjacent-word bigrams), built map-only:
    * both n-gram arrays assemble inside one `concat` so the corpus
    * pays a single Generate, no join between the gram orders.
    */
  private def dsirFeats(docsDf: DataFrame, carry: Seq[String]): DataFrame =
    docsDf
      .select((col("doc_id") +: carry.map(col) :+ split(col("text"), " ").as("ws")): _*)
      .select((col("doc_id") +: carry.map(col) :+ explode(expr(
        "concat(" +
          "transform(filter(ws, w -> length(w) > 0), " +
          "  w -> substring(md5(cast(w AS binary)), 1, 3)), " +
          "zip_with(slice(ws, 1, size(ws) - 1), slice(ws, 2, size(ws) - 1), " +
          "  (a, b) -> substring(md5(cast(concat(a, ' ', b) AS binary)), 1, 3)))"
      )).as("f")): _*)

  /** Train the DSIR importance model: over the md5-split TRAIN docs,
    * count each feature bucket's occurrences in the RAW slice (all
    * train docs) and the TARGET slice (train docs matching the
    * `target` predicate — the "curated corpus" stand-in; the query
    * row uses `lang = 'en'`, the paper's English-quality-corpus
    * setting and the only axis with distributional signal in the
    * synthetic corpus — the [[qualityKeep]] rule passes every doc
    * here, which would degenerate the model to all-zero ratios), and
    * fold both into one per-bucket log-importance table
    * `ratio_bits ≈ log2(p_target(f) / p_raw(f))` in the integer-bits
    * device (`bitlen(T) − bitlen(c)` = −floor-log2 p within ±1 bit —
    * the [[qLmPerplexity]] arithmetic, no transcendentals). Features
    * unseen in the target slice charge `bitlen(Tt) +`
    * [[DsirSmoothBits]] (a 1/16-of-a-singleton smoothing mass that
    * scales with the corpus, so the penalty stays harsher than any
    * seen feature at EVERY corpus size — a fixed backoff would invert
    * at 100 TB where bitlen(T) > 20).
    *
    * Returns (model, default): `model` is the ≤4096-row bucket table
    * (f, ratio_bits); `default` is the 1-row unseen-feature ratio
    * (both-slice smoothing, = bitlen(Tr) − bitlen(Tt)). Both are
    * executor-side tables — nothing corpus-sized, no driver collect.
    */
  private[graft] def dsirTrainModel(s: SparkSession, dir: String,
      target: Column = col("lang") === "en"): (DataFrame, DataFrame) = {
    val tr = docs(s, dir)
      .filter(substring(md5(col("doc_id").cast("string").cast("binary")), 1, 2)
        < splitHexLt)
      .withColumn("tgt", target)
    val m = dsirFeats(tr, Seq("tgt"))
      .groupBy(col("f"))
      .agg(count(lit(1)).as("cr"),
        sum(when(col("tgt"), 1L).otherwise(0L)).as("ct"))
      .materialized
    val tot = m.agg(
      sum(col("cr")).as("tr_tot"),
      sum(col("ct")).as("tt_tot"))
    val model = m.crossJoin(broadcast(tot))
      .select(col("f"),
        (expr("CAST(length(bin(tr_tot)) - length(bin(cr)) AS BIGINT)") -
          when(col("ct") === 0L,
            expr(s"CAST(length(bin(tt_tot)) + $DsirSmoothBits AS BIGINT)"))
            .otherwise(expr("CAST(length(bin(tt_tot)) - length(bin(ct)) AS BIGINT)")))
          .as("ratio_bits"))
    val dflt = tot.select(
      expr("CAST(length(bin(tr_tot)) - length(bin(tt_tot)) AS BIGINT)")
        .as("default_bits"))
    (model, dflt)
  }

  /** Session cache for the trained DSIR model (keyed (session, dir) —
    * the [[lmSessionModel]] staleness contract: data dirs are
    * immutable snapshots within a session). The MODEL is cached, never
    * the scored result — every invocation of the query row pays the
    * honest corpus score pass.
    */
  private val dsirModelCache = new graft.plans.SessionCache[(DataFrame, Long)]

  private def dsirSessionModel(s: SparkSession, dir: String): (DataFrame, Long) =
    dsirModelCache.getOrElseUpdate(s, dir) {
      val (m, d) = dsirTrainModel(s, dir)
      (m.materialized, d.head().getLong(0))
    }

  /** Persist the trained DSIR model (bucket table + 1-row default as
    * one parquet: the default rides as the `f IS NULL` row) — the
    * [[buildLmModel]] frozen-model contract for the importance
    * sampler; [[dsirScoreWith]] / `Streams.dsirScore` serve from it.
    */
  private[graft] def buildDsirModel(s: SparkSession, dir: String, path: String): Unit = {
    val (m, d) = dsirTrainModel(s, dir)
    Publish(s, path)(m.unionByName(d.select(lit(null).cast("string").as("f"),
        col("default_bits").as("ratio_bits"))).write.parquet)
  }

  private val DsirModelDdl = "f STRING, ratio_bits BIGINT NOT NULL"

  /** The persisted [[buildDsirModel]] table as (bucket table, default
    * ratio), read by [[dsirScoreWith]] and `Streams.dsirScore`. The
    * default is its one `f IS NULL` row, collected and checked on the
    * driver: a renamed `f` would make every row a default row. */
  private[graft] def readDsirModel(s: SparkSession, modelPath: String): (DataFrame, Long) = {
    val m = Publish.read(s, modelPath, DsirModelDdl)
    val dflt = Publish.modelRow(s"$modelPath (f IS NULL)",
      m.filter(col("f").isNull).select("ratio_bits").collect())
    (m.filter(col("f").isNotNull), dflt.getLong(0))
  }

  /** Score arbitrary documents against a trained DSIR model: one
    * Generate + one broadcast left join (the model is ≤4096 rows) + a
    * per-doc partial-aggregated rollup — map-side-combine-only at any
    * corpus size. A feature outside `model` scores `dflt`, the
    * unseen-feature ratio. `sum_bits` is the doc's summed log importance
    * ratio (positive = target-like); `slr_ppm` the
    * [[DsirShiftBits]]-shifted fixed-point per-feature average;
    * `dsir_band` the [[DsirBandPpm]] band the selection policy keys
    * on (DSIR resamples ∝ exp(score); ranking, not the absolute sign,
    * carries the signal — floor-log2 rounding shifts all scores by a
    * model-wide constant).
    */
  private[graft] def dsirScoreDocs(docsDf: DataFrame, model: DataFrame, dflt: Long): DataFrame =
    dsirFeats(docsDf, Nil)
      .join(broadcast(model), Seq("f"), "left")
      .select(col("doc_id"), coalesce(col("ratio_bits"), lit(dflt)).as("r"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_feats"), sum(col("r")).as("sum_bits"))
      .withColumn("slr_ppm",
        expr(s"((sum_bits + $DsirShiftBits * n_feats) * 1000000) DIV n_feats"))
      .withColumn("dsir_band", expr(s"slr_ppm DIV $DsirBandPpm"))

  /** Batch serve against a persisted [[buildDsirModel]] table. */
  private[graft] def dsirScoreWith(s: SparkSession, dir: String, modelPath: String): DataFrame = {
    val (model, dflt) = readDsirModel(s, modelPath)
    dsirScoreDocs(docs(s, dir), model, dflt)
  }

  /** DSIR importance weights (Data Selection via Importance
    * Resampling, arXiv:2302.03169): score every document by how much
    * more likely its hashed-n-gram profile is under the TARGET
    * distribution (the English slice of the train split — the paper's
    * curated-corpus setting) than under the RAW distribution — the
    * published scale path for "find web data that looks like the good
    * corpus" without training a classifier. The importance weight is
    * the per-doc sum of per-feature log ratios; this row reports it
    * in integer bits with a fixed-point per-feature average and a
    * band label.
    *
    * Shape at scale: training is ONE corpus Generate partial-
    * aggregated into a 4096-bucket table (session-cached per (session,
    * dir) — the [[lmSessionModel]] precedent); scoring is ONE corpus
    * Generate + a broadcast join against that table + a map-side-
    * combined per-doc rollup. No shuffle ever carries more than the
    * feature rows, and the model is bucket-bounded regardless of
    * corpus size — the reason DSIR (unlike classifier selection)
    * runs at 100 TB.
    */
  def qDsirWeights(s: SparkSession, dir: String): DataFrame = {
    val (model, dflt) = dsirSessionModel(s, dir)
    dsirScoreDocs(docs(s, dir), model, dflt)
  }

  val qDsirWeightsSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, lang, string_split(text, ' ') AS ws FROM documents),
       |af AS (
       |  SELECT doc_id, substr(md5(w), 1, 3) AS f
       |  FROM (SELECT doc_id, unnest(ws) AS w FROM d) WHERE len(w) > 0
       |  UNION ALL
       |  SELECT doc_id, substr(md5(bg), 1, 3) AS f
       |  FROM (SELECT doc_id, unnest(list_transform(range(1, len(ws)),
       |          i -> ws[i] || ' ' || ws[i + 1])) AS bg
       |        FROM d WHERE len(ws) >= 2)),
       |tr AS (
       |  SELECT doc_id, lang = 'en' AS tgt
       |  FROM d WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '$splitHexLt'),
       |m AS MATERIALIZED (
       |  SELECT af.f, COUNT(*) AS cr,
       |    CAST(SUM(CASE WHEN tr.tgt THEN 1 ELSE 0 END) AS BIGINT) AS ct
       |  FROM af JOIN tr ON af.doc_id = tr.doc_id
       |  GROUP BY af.f),
       |tot AS MATERIALIZED (
       |  SELECT CAST(SUM(cr) AS BIGINT) AS tr_tot,
       |    CAST(SUM(ct) AS BIGINT) AS tt_tot FROM m),
       |scored AS (
       |  SELECT af.doc_id,
       |    CASE WHEN m.f IS NULL
       |         THEN length(bin(tot.tr_tot)) - length(bin(tot.tt_tot))
       |         ELSE (length(bin(tot.tr_tot)) - length(bin(m.cr)))
       |            - (CASE WHEN m.ct = 0
       |                    THEN length(bin(tot.tt_tot)) + $DsirSmoothBits
       |                    ELSE length(bin(tot.tt_tot)) - length(bin(m.ct)) END)
       |    END AS r
       |  FROM af LEFT JOIN m ON af.f = m.f CROSS JOIN tot)
       |SELECT doc_id, COUNT(*) AS n_feats,
       |  CAST(SUM(r) AS BIGINT) AS sum_bits,
       |  ((CAST(SUM(r) AS BIGINT) + $DsirShiftBits * COUNT(*)) * 1000000)
       |    // COUNT(*) AS slr_ppm,
       |  (((CAST(SUM(r) AS BIGINT) + $DsirShiftBits * COUNT(*)) * 1000000)
       |    // COUNT(*)) // $DsirBandPpm AS dsir_band
       |FROM scored GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin

  /** Readability battery (Flesch-Kincaid grade, fixed-point milli):
    * per doc, word count (nonempty whitespace tokens), sentence count
    * (runs of `[.!?]`, floored at 1 so fragments still score), and a
    * syllable proxy (runs of `[aeiouy]` in the lowercased text — the
    * standard dictionary-free estimator). FK grade = 0.39·(W/S) +
    * 11.8·(Syl/W) − 15.59, carried as integers scaled ×1000 with
    * positive-only DIVs (the [[DsirShiftBits]] cross-engine rule);
    * wordless docs get NULL derived columns rather than a fake grade.
    * Readability is a stock corpus-quality signal (e.g. the
    * textbook-quality filters behind phi-class data curation).
    *
    * Shape at scale: pure map-only expression work, no shuffle at all
    * (the oracle's ORDER BY is presentation) — scales with executors
    * like the rest of the [[qQualityScore]] family.
    */
  def qReadability(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(
        col("doc_id"),
        expr("CAST(size(filter(split(text, ' '), w -> length(w) > 0)) AS BIGINT)").as("n_words"),
        expr("CAST(greatest(1, size(regexp_extract_all(text, '[.!?]+', 0))) AS BIGINT)").as("n_sents"),
        expr("CAST(size(regexp_extract_all(lower(text), '[aeiouy]+', 0)) AS BIGINT)").as("n_syll"))
      .withColumn("wps_milli", expr("(n_words * 1000) DIV n_sents"))
      .withColumn("spw_milli",
        expr("CASE WHEN n_words = 0 THEN NULL ELSE (n_syll * 1000) DIV n_words END"))
      .withColumn("fk_milli",
        expr("CASE WHEN n_words = 0 THEN NULL ELSE " +
          "(390 * n_words) DIV n_sents + (11800 * n_syll) DIV n_words - 15590 END"))

  val qReadabilitySql: String =
    """WITH t AS (
      |  SELECT doc_id,
      |    CAST(len(list_filter(string_split(text, ' '), w -> len(w) > 0)) AS BIGINT) AS n_words,
      |    CAST(greatest(1, len(regexp_extract_all(text, '[.!?]+'))) AS BIGINT) AS n_sents,
      |    CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT) AS n_syll
      |  FROM documents)
      |SELECT doc_id, n_words, n_sents, n_syll,
      |  (n_words * 1000) // n_sents AS wps_milli,
      |  CASE WHEN n_words = 0 THEN NULL ELSE (n_syll * 1000) // n_words END AS spw_milli,
      |  CASE WHEN n_words = 0 THEN NULL ELSE
      |    (390 * n_words) // n_sents + (11800 * n_syll) // n_words - 15590 END AS fk_milli
      |FROM t ORDER BY doc_id""".stripMargin

  /** Character-distribution diversity per doc: distinct characters,
    * modal-character count/share, and the char-level Simpson index
    * (repeat probability Σn_c²/N², exact integer ppm — no logs, so no
    * cross-engine float risk). Near-1e6 Simpson or top-share flags
    * gibberish / separator floods / single-char padding that
    * word-level filters ([[qRepetition]], [[qQualityScore]]) miss
    * because such docs often tokenize into few "words". Spaces are
    * excluded (both engines); counting is per code point
    * ([[graft.functions.CharDiversityStats]] — DuckDB's
    * `string_split(text, '')` semantics, identical to a UTF-16 split
    * on BMP text, which is all the corpus contains).
    *
    * Shape at scale: MAP-ONLY — the per-doc counters are pure row
    * functions, so they ride the scan as one native one-pass
    * projection (the RepetitionStats device). The former char-explode
    * formulation inflated the corpus ~1000× in row count through two
    * hash exchanges to compute what a per-row pass already knows.
    * Zero-char docs are dropped (the explode emitted no row for them,
    * and both ppm divisions need n > 0).
    */
  def qCharDiversity(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"),
        graft.functions.CharDiversityStats.column(lower(col("text"))).as("cs"))
      .filter(col("cs").getField("n_chars_tot") > 0L)
      .select(col("doc_id"),
        col("cs").getField("n_chars_tot").as("n_chars_tot"),
        col("cs").getField("n_uniq_chars").as("n_uniq_chars"),
        col("cs").getField("top_char_cnt").as("top_char_cnt"),
        col("cs").getField("sq").as("sq"))
      .select(col("doc_id"), col("n_chars_tot"), col("n_uniq_chars"), col("top_char_cnt"),
        expr("(sq * 1000000) DIV (n_chars_tot * n_chars_tot)").as("simpson_ppm"),
        expr("(top_char_cnt * 1000000) DIV n_chars_tot").as("top_share_ppm"))

  val qCharDiversitySql: String =
    """WITH cs AS (
      |  SELECT doc_id, unnest(list_filter(string_split(lower(text), ''), c -> c <> ' ')) AS ch
      |  FROM documents),
      |cc AS (SELECT doc_id, ch, COUNT(*) AS nc FROM cs GROUP BY doc_id, ch)
      |SELECT doc_id,
      |  CAST(SUM(nc) AS BIGINT) AS n_chars_tot,
      |  CAST(COUNT(*) AS BIGINT) AS n_uniq_chars,
      |  CAST(MAX(nc) AS BIGINT) AS top_char_cnt,
      |  CAST((SUM(nc * nc) * 1000000) // (SUM(nc) * SUM(nc)) AS BIGINT) AS simpson_ppm,
      |  CAST((MAX(nc) * 1000000) // SUM(nc) AS BIGINT) AS top_share_ppm
      |FROM cc GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Lexical diversity per source: token/type/hapax counts with
    * fixed-point type-token ratio and hapax share. A source whose TTR
    * or hapax share collapses relative to its peers is template/
    * boilerplate-heavy — the per-SOURCE twin of the per-doc
    * [[qRepetition]] filter, and the input to mix decisions the same
    * way [[qSourceQuality]] is. Lowercased whitespace tokens, exact
    * integer ppm.
    *
    * Shape at scale: one token explode partial-aggregated on
    * (source, word) — vocab-bounded per source — then a source-key
    * rollup of three sums. Same Zipf-safe shape as [[qVocabTopk]].
    */
  def qLexicalDiversity(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("source"), explode(split(lower(col("text")), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("source"), col("w"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("source"))
      .agg(
        sum("n").as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(when(col("n") === 1, 1L).otherwise(0L)).as("n_hapax"))
      .select(col("source"), col("n_tokens"), col("n_types"), col("n_hapax"),
        expr("(n_types * 1000000) DIV n_tokens").as("ttr_ppm"),
        expr("(n_hapax * 1000000) DIV n_types").as("hapax_ppm"))

  val qLexicalDiversitySql: String =
    """WITH t AS (
      |  SELECT source, w
      |  FROM (SELECT source, unnest(string_split(lower(text), ' ')) AS w FROM documents)
      |  WHERE len(w) > 0),
      |v AS (SELECT source, w, COUNT(*) AS n FROM t GROUP BY source, w)
      |SELECT source,
      |  CAST(SUM(n) AS BIGINT) AS n_tokens,
      |  CAST(COUNT(*) AS BIGINT) AS n_types,
      |  CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
      |  (CAST(COUNT(*) AS BIGINT) * 1000000) // CAST(SUM(n) AS BIGINT) AS ttr_ppm,
      |  (CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) * 1000000)
      |    // CAST(COUNT(*) AS BIGINT) AS hapax_ppm
      |FROM v GROUP BY source ORDER BY source""".stripMargin

  /** Inter-document overlap per source: the share of each source's
    * per-doc DISTINCT word trigrams that also occur in at least one
    * other document anywhere in the corpus (df ≥ 2 over per-doc
    * distinct grams). This is the corpus-diversity / self-similarity
    * summary (the self-BLEU idea made set-based and exact): a source
    * near 1e6 contributes near-verbatim re-combinations of existing
    * text, distinct from [[qRepetition]] (within-doc) and
    * [[qContamination]] (train↔test). Sits above the dedup family:
    * overlap that survives exact/near dedup is re-mixed boilerplate.
    *
    * Shape at scale: one Generate of per-doc distinct trigrams, a
    * gram-keyed df partial aggregate, one gram-keyed equi-join back
    * (both sides the same bounded gram table — co-partitioned on the
    * exchange), then a source rollup. Never corpus-quadratic: df is a
    * count, not a pair enumeration — the same reason [[Dedup]] never
    * joins docs all-pairs.
    */
  def qSelfOverlap(s: SparkSession, dir: String): DataFrame = {
    // Canonicalized over distinct texts (see [[spanGroups]]): a doc's
    // distinct-trigram set is a pure function of its text, and df —
    // docs carrying the gram — weights each distinct text by its
    // member count m. Per-text gram/shared counts (shared-status is
    // global, identical for every member) expand back through one
    // (tkey → source) join and a source rollup.
    val grp = spanGroups(s, dir)
    val grams = grp
      .select(col("tkey"), col("m"),
        expr("filter(split(lower(text), ' '), w -> length(w) > 0)").as("ws"))
      .filter(size(col("ws")) >= 3)
      .select(col("tkey"), col("m"), explode(expr(
        "array_distinct(transform(sequence(1, size(ws) - 2), " +
          "i -> concat(element_at(ws, i), ' ', element_at(ws, i + 1), ' ', element_at(ws, i + 2))))"))
        .as("gram"))
      .materialized // df side and join side both consume it
    val df = grams.groupBy(col("gram")).agg(sum(col("m")).as("df"))
    val perText = grams.join(df, Seq("gram"))
      .groupBy(col("tkey"))
      .agg(
        count(lit(1)).as("g"),
        sum(when(col("df") >= 2, 1L).otherwise(0L)).as("sh"))
    docs(s, dir)
      .select(unhex(md5(col("text"))).as("tkey"), col("source"))
      .join(perText, Seq("tkey"))
      .groupBy(col("source"))
      .agg(sum(col("g")).as("n_grams"), sum(col("sh")).as("n_shared"))
      .withColumn("shared_ppm", expr("(n_shared * 1000000) DIV n_grams"))
  }

  val qSelfOverlapSql: String =
    """WITH d AS (
      |  SELECT doc_id, source,
      |    list_filter(string_split(lower(text), ' '), w -> len(w) > 0) AS ws
      |  FROM documents),
      |g AS (
      |  SELECT source, unnest(list_distinct(list_transform(range(1, len(ws) - 1),
      |      i -> ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2]))) AS gram
      |  FROM d WHERE len(ws) >= 3),
      |df AS (SELECT gram, COUNT(*) AS df FROM g GROUP BY gram)
      |SELECT g.source,
      |  CAST(COUNT(*) AS BIGINT) AS n_grams,
      |  CAST(SUM(CASE WHEN df.df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
      |  (CAST(SUM(CASE WHEN df.df >= 2 THEN 1 ELSE 0 END) AS BIGINT) * 1000000)
      |    // CAST(COUNT(*) AS BIGINT) AS shared_ppm
      |FROM g JOIN df ON g.gram = df.gram
      |GROUP BY g.source ORDER BY g.source""".stripMargin

  // Zipf fit window: the standard practice of fitting the head of the
  // rank-frequency curve; 1024 keeps the TakeOrdered model-sized at
  // any corpus scale while spanning ~10 doublings of rank.
  private val ZipfTopV = 1024

  /** Zipf's-law fit over the top-[[ZipfTopV]] vocabulary: integer
    * least squares of floor-log2(freq) on floor-log2(rank). Natural
    * text lands near slope −1; a corpus whose slope flattens is
    * template-flooded, one that steepens is vocabulary-starved — the
    * single-number companion to [[qVocabCoverage]]'s coverage curve
    * and [[qVocabGrowth]]'s Heaps curve. Reported as the NEGATED
    * slope ×1000 (so the division stays positive — the cross-engine
    * DIV rule) plus the matching intercept.
    *
    * Shape at scale: the corpus-sized stage is the standard word
    * partial aggregate; the fit consumes only a top-V TakeOrdered
    * (distributed heads + driver merge, never a full-vocab window —
    * the [[qVocabCoverage]] rationale), and the regression sums run
    * over ≤[[ZipfTopV]] points.
    */
  def qZipfFit(s: SparkSession, dir: String): DataFrame = {
    val top = docs(s, dir)
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("w")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("w")).limit(ZipfTopV)
    top
      .withColumn("rk", row_number().over(Window.orderBy(col("n").desc, col("w"))))
      .select(
        expr("CAST(length(bin(rk)) - 1 AS BIGINT)").as("x"),
        expr("CAST(length(bin(n)) - 1 AS BIGINT)").as("y"))
      .agg(
        count(lit(1)).as("n_points"),
        sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .withColumn("slope_neg_milli",
        expr("CASE WHEN n_points * sxx = sx * sx THEN NULL ELSE " +
          "((sx * sy - n_points * sxy) * 1000) DIV (n_points * sxx - sx * sx) END"))
      .withColumn("intercept_milli",
        expr("CASE WHEN slope_neg_milli IS NULL THEN NULL ELSE " +
          "(sy * 1000 + slope_neg_milli * sx) DIV n_points END"))
      .select(col("n_points"), col("slope_neg_milli"), col("intercept_milli"))
  }

  val qZipfFitSql: String =
    s"""WITH v AS (
       |  SELECT w, COUNT(*) AS n
       |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
       |  WHERE len(w) > 0 GROUP BY w ORDER BY n DESC, w LIMIT $ZipfTopV),
       |p AS (
       |  SELECT CAST(length(bin(ROW_NUMBER() OVER (ORDER BY n DESC, w))) - 1 AS BIGINT) AS x,
       |    CAST(length(bin(n)) - 1 AS BIGINT) AS y
       |  FROM v),
       |a AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_points,
       |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
       |    CAST(SUM(x * y) AS BIGINT) AS sxy, CAST(SUM(x * x) AS BIGINT) AS sxx
       |  FROM p),
       |f AS (
       |  SELECT n_points, sx, sy,
       |    CASE WHEN n_points * sxx = sx * sx THEN NULL ELSE
       |      ((sx * sy - n_points * sxy) * 1000) // (n_points * sxx - sx * sx) END
       |      AS slope_neg_milli
       |  FROM a)
       |SELECT n_points, slope_neg_milli,
       |  CASE WHEN slope_neg_milli IS NULL THEN NULL ELSE
       |    (sy * 1000 + slope_neg_milli * sx) // n_points END AS intercept_milli
       |FROM f""".stripMargin

  /** The dataset card: ONE row summarizing the corpus — doc/source/
    * language cardinalities, token and character mass, English share,
    * exact-duplicate share (the [[Dedup.contentMd5]] key, so the
    * number reconciles with `q_dedup_exact`'s census), and mean doc
    * length. The header block of every dataset release note,
    * computed from the corpus itself rather than copied from stale
    * docs. All fixed-point integers.
    *
    * Shape at scale: one materialized slim projection (id, lang,
    * source, chars, tokens, content hash) feeds three 1-row
    * aggregates — a plain-sum pass, a hash distinct, and a
    * source/lang distinct (tiny domains) — deliberately SEPARATE
    * branches crossJoined at 1 row each, not one multi-DISTINCT
    * aggregate (the [[qProfile]] lesson: n distincts in one agg plan
    * as Expand ×n over the corpus and fall out of HashAggregate).
    */
  def qDatasetCard(s: SparkSession, dir: String): DataFrame = {
    val base = docs(s, dir)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
        expr("CAST(size(filter(split(text, ' '), w -> length(w) > 0)) AS BIGINT)").as("toks"),
        Dedup.contentMd5(col("text")).as("h"))
      .materialized
    val sums = base.agg(
      count(lit(1)).as("n_docs"),
      sum(col("toks")).as("n_tokens"),
      sum(col("n_chars")).as("n_chars"),
      sum(when(col("lang") === "en", 1L).otherwise(0L)).as("n_en"))
    val hashes = base.agg(countDistinct(col("h")).as("n_hashes"))
    val dims = base.agg(
      countDistinct(col("source")).as("n_sources"),
      countDistinct(col("lang")).as("n_langs"))
    sums.crossJoin(hashes).crossJoin(dims)
      .select(col("n_docs"), col("n_sources"), col("n_langs"),
        col("n_tokens"), col("n_chars"),
        expr("(n_en * 1000000) DIV n_docs").as("en_ppm"),
        expr("((n_docs - n_hashes) * 1000000) DIV n_docs").as("dup_ppm"),
        expr("n_tokens DIV n_docs").as("mean_doc_tokens"))
  }

  val qDatasetCardSql: String =
    """WITH base AS (
      |  SELECT doc_id, lang, source, n_chars,
      |    CAST(len(list_filter(string_split(text, ' '), w -> len(w) > 0)) AS BIGINT) AS toks,
      |    md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS h
      |  FROM documents)
      |SELECT COUNT(*) AS n_docs,
      |  COUNT(DISTINCT source) AS n_sources,
      |  COUNT(DISTINCT lang) AS n_langs,
      |  CAST(SUM(toks) AS BIGINT) AS n_tokens,
      |  CAST(SUM(n_chars) AS BIGINT) AS n_chars,
      |  (CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) * 1000000)
      |    // COUNT(*) AS en_ppm,
      |  ((COUNT(*) - COUNT(DISTINCT h)) * 1000000) // COUNT(*) AS dup_ppm,
      |  CAST(SUM(toks) AS BIGINT) // COUNT(*) AS mean_doc_tokens
      |FROM base""".stripMargin

  /** Split-balance audit: is the md5 train/test split UNBIASED along
    * the axes that matter (language, source)? For every (axis,
    * value): doc counts per split, each value's within-split share
    * (ppm of that split's docs), the share DELTA (train − test,
    * signed — pure subtraction, no negative division), and per-split
    * mean doc length. A hash split is unbiased by construction ONLY
    * if the hash key is independent of the axis — a doc_id assignment
    * correlated with source (e.g. ids allocated per crawl batch)
    * silently skews the split, and per-lang eval numbers move for
    * data reasons, not model reasons. This is the audit that catches
    * it; companion to [[qTrainTestSplit]]'s raw census and
    * [[qContamination]]'s content-level leakage screen.
    *
    * Shape at scale: ONE corpus scan into a materialized slim
    * (split, lang, source, toks) projection, two axis projections
    * unioned (map-only over the checkpoint), one partial-aggregated
    * (axis, value) rollup with conditional split sums, and a
    * broadcast 1-row split-total attach.
    */
  def qSplitBalance(s: SparkSession, dir: String): DataFrame = {
    val base = docs(s, dir)
      .select(
        when(substring(md5(col("doc_id").cast("string").cast("binary")), 1, 2) < splitHexLt,
          "train").otherwise("test").as("split"),
        col("lang"), col("source"),
        expr("CAST(size(filter(split(text, ' '), w -> length(w) > 0)) AS BIGINT)").as("toks"))
      .materialized
    val stacked = base.select(lit("lang").as("axis"), col("lang").as("value"),
        col("split"), col("toks"))
      .unionAll(base.select(lit("source").as("axis"), col("source").as("value"),
        col("split"), col("toks")))
    val tot = base.agg(
      sum(when(col("split") === "train", 1L).otherwise(0L)).as("train_tot"),
      sum(when(col("split") === "test", 1L).otherwise(0L)).as("test_tot"))
    stacked
      .groupBy(col("axis"), col("value"))
      .agg(
        sum(when(col("split") === "train", 1L).otherwise(0L)).as("n_train"),
        sum(when(col("split") === "test", 1L).otherwise(0L)).as("n_test"),
        sum(when(col("split") === "train", col("toks")).otherwise(0L)).as("t_train"),
        sum(when(col("split") === "test", col("toks")).otherwise(0L)).as("t_test"))
      .crossJoin(broadcast(tot))
      .select(col("axis"), col("value"), col("n_train"), col("n_test"),
        expr("(n_train * 1000000) DIV train_tot").as("train_ppm"),
        expr("(n_test * 1000000) DIV test_tot").as("test_ppm"),
        expr("(n_train * 1000000) DIV train_tot - (n_test * 1000000) DIV test_tot")
          .as("delta_ppm"),
        expr("CASE WHEN n_train = 0 THEN NULL ELSE t_train DIV n_train END")
          .as("mean_toks_train"),
        expr("CASE WHEN n_test = 0 THEN NULL ELSE t_test DIV n_test END")
          .as("mean_toks_test"))
  }

  val qSplitBalanceSql: String =
    s"""WITH base AS (
       |  SELECT
       |    CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '$splitHexLt'
       |         THEN 'train' ELSE 'test' END AS split,
       |    lang, source,
       |    CAST(len(list_filter(string_split(text, ' '), w -> len(w) > 0)) AS BIGINT) AS toks
       |  FROM documents),
       |st AS (
       |  SELECT 'lang' AS axis, lang AS value, split, toks FROM base
       |  UNION ALL
       |  SELECT 'source' AS axis, source AS value, split, toks FROM base),
       |tot AS (
       |  SELECT CAST(SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS BIGINT) AS train_tot,
       |    CAST(SUM(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS BIGINT) AS test_tot
       |  FROM base),
       |g AS (
       |  SELECT axis, value,
       |    CAST(SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
       |    CAST(SUM(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS BIGINT) AS n_test,
       |    CAST(SUM(CASE WHEN split = 'train' THEN toks ELSE 0 END) AS BIGINT) AS t_train,
       |    CAST(SUM(CASE WHEN split = 'test' THEN toks ELSE 0 END) AS BIGINT) AS t_test
       |  FROM st GROUP BY axis, value)
       |SELECT axis, value, n_train, n_test,
       |  (n_train * 1000000) // train_tot AS train_ppm,
       |  (n_test * 1000000) // test_tot AS test_ppm,
       |  (n_train * 1000000) // train_tot - (n_test * 1000000) // test_tot AS delta_ppm,
       |  CASE WHEN n_train = 0 THEN NULL ELSE t_train // n_train END AS mean_toks_train,
       |  CASE WHEN n_test = 0 THEN NULL ELSE t_test // n_test END AS mean_toks_test
       |FROM g CROSS JOIN tot
       |ORDER BY axis, value""".stripMargin

  private val PerceptronEpochs = 3

  /** Distributed batch-perceptron training in exact integers: learn
    * a linear separator for "is this doc English" from two integer
    * text features (English-marker stopword count, non-ASCII count)
    * plus bias, over [[PerceptronEpochs]] synchronous epochs. Batch
    * perceptron is the aggregate-shaped trainable-classifier
    * counterpart to [[qDsirWeights]]' classifier-free selection: the
    * epoch update w += Σ_misclassified y·x is ONE partial-aggregated
    * corpus pass (no transcendentals, no learning rate — integer
    * weights stay integers, bit-identical in any engine), and the
    * model state between epochs is three BIGINTs. Reports per epoch:
    * misclassified count and the updated weights — the error column
    * IS the convergence curve. Headroom: weights are bounded by the
    * corpus feature mass (≲10¹² at 100 TB) and margins by
    * weights×features ≪ 2⁶³.
    *
    * Shape at scale: the feature projection is map-only and
    * materialized once; each epoch is one aggregate over it with the
    * CURRENT weights inlined as literals, collecting a 1-row model
    * delta (the [[Ann.trainCodebook]] Lloyd pattern — model-sized
    * driver state, fixed shallow rounds, never a corpus collect).
    */
  /** The per-doc feature projection the trainer AND both serve paths
    * share (the twins must never disagree on features): bias 1,
    * English-marker stopword count, non-ASCII char count. Input needs
    * (text); extra columns pass through. */
  private def withPerceptronFeats(docsDf: DataFrame): DataFrame =
    docsDf.withColumn("b", lit(1L))
      .withColumn("x1", stopCount(enStops))
      .withColumn("x2", expr("CAST(regexp_count(text, '[^\\\\x00-\\\\x7f]') AS BIGINT)"))

  /** The margin wb·b + w1·x1 + w2·x2 of [[withPerceptronFeats]]' row
    * under weights `w` = (wb, w1, w2), inlined as literals: the one
    * linear form the trainer, the eval and both serves score. */
  private def perceptronMargin(w: (Long, Long, Long)): Column =
    lit(w._1) * col("b") + lit(w._2) * col("x1") + lit(w._3) * col("x2")

  /** Run the [[PerceptronEpochs]] batch epochs; returns the per-epoch
    * history (epoch, n_err, wb, w1, w2). Model state between epochs
    * is three BIGINTs on the driver — the Lloyd pattern. */
  private def trainPerceptron(s: SparkSession, dir: String): Seq[(Long, Long, Long, Long, Long)] = {
    val f = withPerceptronFeats(docs(s, dir)).select(
      when(col("lang") === "en", 1L).otherwise(-1L).as("y"),
      col("b"), col("x1"), col("x2"))
      .materialized
    var (wb, w1, w2) = (0L, 0L, 0L)
    val hist = Seq.newBuilder[(Long, Long, Long, Long, Long)]
    for (epoch <- 1 to PerceptronEpochs) {
      val mis = col("y") * perceptronMargin((wb, w1, w2)) <= 0
      val r = f.agg(
        sum(when(mis, col("y") * col("b")).otherwise(0L)).as("db"),
        sum(when(mis, col("y") * col("x1")).otherwise(0L)).as("d1"),
        sum(when(mis, col("y") * col("x2")).otherwise(0L)).as("d2"),
        sum(when(mis, 1L).otherwise(0L)).as("nerr")).collect()(0)
      wb += r.getLong(0); w1 += r.getLong(1); w2 += r.getLong(2)
      hist += ((epoch.toLong, r.getLong(3), wb, w1, w2))
    }
    hist.result()
  }

  def qPerceptron(s: SparkSession, dir: String): DataFrame = {
    val sess = s
    import sess.implicits._
    trainPerceptron(s, dir).toDF("epoch", "n_err", "w_bias", "w_stop", "w_nonascii")
  }

  /** Persist the trained separator as a 1-row weight table — the
    * frozen-model contract ([[buildLmModel]]/[[buildDsirModel]]) for
    * the classifier; [[perceptronScoreWith]] / `Streams.perceptronScore`
    * serve from it. */
  private[graft] def buildPerceptronModel(s: SparkSession, dir: String, path: String): Unit = {
    val sess = s
    import sess.implicits._
    Publish(s, path)(Seq(trainPerceptron(s, dir).last)
      .map { case (_, _, wb, w1, w2) => (wb, w1, w2) }
      .toDF("w_bias", "w_stop", "w_nonascii").write.parquet)
  }

  private val PerceptronModelDdl = "w_bias BIGINT, w_stop BIGINT, w_nonascii BIGINT"

  /** The persisted [[buildPerceptronModel]] weights (wb, w1, w2), its
    * one row collected ([[Publish.modelRow]]). */
  private[graft] def readPerceptronModel(s: SparkSession, modelPath: String): (Long, Long, Long) = {
    val r = Publish.modelRow(modelPath, Publish.read(s, modelPath, PerceptronModelDdl).collect(),
      "w_bias", "w_stop", "w_nonascii")
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** Score arbitrary docs (doc_id, text) under frozen weights `w`:
    * map-only margin and label with the weights as literals (no model
    * table in the plan) — stateless, the shape both the batch and
    * streaming serve paths share. */
  private[graft] def perceptronScoreDocs(docsDf: DataFrame, w: (Long, Long, Long)): DataFrame =
    withPerceptronFeats(docsDf)
      .select(col("doc_id"), perceptronMargin(w).as("margin"))
      .withColumn("pred_en", col("margin") > 0)

  /** Batch serve against a persisted [[buildPerceptronModel]] table. */
  private[graft] def perceptronScoreWith(s: SparkSession, dir: String, modelPath: String): DataFrame =
    perceptronScoreDocs(docs(s, dir), readPerceptronModel(s, modelPath))

  /** Classifier evaluation: the trained [[qPerceptron]] separator
    * scored back over the corpus and graded against the `lang` label,
    * per source — tp/fp/fn/tn plus fixed-point precision/recall
    * (NULL, not a fake 1e6, when a source has no predicted/actual
    * positives). The eval row every deployed filter needs NEXT TO its
    * training curve: a source whose precision collapses is where the
    * classifier's features stop transferring, and per-source grading
    * catches that before a corpus-wide average hides it.
    *
    * Shape at scale: training is [[trainPerceptron]] (3 aggregate
    * passes, driver-held 3-int model); evaluation is ONE map-only
    * scoring pass (weights inlined as literals) partial-aggregated
    * into a ≤|sources| rollup.
    */
  def qClassifierEval(s: SparkSession, dir: String): DataFrame = {
    val (_, _, wb, w1, w2) = trainPerceptron(s, dir).last
    gradeBySource(withPerceptronFeats(docs(s, dir))
      .select(col("source"), (col("lang") === "en").as("actual"),
        (perceptronMargin((wb, w1, w2)) > 0).as("pred")))
  }

  /** Grade (source, actual, pred) rows per source: tp/fp/fn/tn plus
    * fixed-point precision/recall, NULL (not a fake 1e6) where a
    * source has no predicted or actual positives. The one grading
    * block of [[qClassifierEval]] and [[qHashedClassifier]]. */
  private def gradeBySource(scored: DataFrame): DataFrame =
    scored.groupBy(col("source"))
      .agg(
        sum(when(col("pred") && col("actual"), 1L).otherwise(0L)).as("tp"),
        sum(when(col("pred") && !col("actual"), 1L).otherwise(0L)).as("fp"),
        sum(when(!col("pred") && col("actual"), 1L).otherwise(0L)).as("fn"),
        sum(when(!col("pred") && !col("actual"), 1L).otherwise(0L)).as("tn"))
      .select(col("source"), col("tp"), col("fp"), col("fn"), col("tn"),
        expr("CASE WHEN tp + fp = 0 THEN NULL ELSE (tp * 1000000) DIV (tp + fp) END")
          .as("precision_ppm"),
        expr("CASE WHEN tp + fn = 0 THEN NULL ELSE (tp * 1000000) DIV (tp + fn) END")
          .as("recall_ppm"))

  /** The oracle of [[gradeBySource]] over the (source, actual, pred)
    * relation `from`, ordered by source. */
  private def gradeBySourceSql(from: String): String =
    s"""SELECT source,
       |  CAST(SUM(CASE WHEN pred AND actual THEN 1 ELSE 0 END) AS BIGINT) AS tp,
       |  CAST(SUM(CASE WHEN pred AND NOT actual THEN 1 ELSE 0 END) AS BIGINT) AS fp,
       |  CAST(SUM(CASE WHEN NOT pred AND actual THEN 1 ELSE 0 END) AS BIGINT) AS fn,
       |  CAST(SUM(CASE WHEN NOT pred AND NOT actual THEN 1 ELSE 0 END) AS BIGINT) AS tn,
       |  CASE WHEN SUM(CASE WHEN pred AND actual THEN 1 ELSE 0 END)
       |          + SUM(CASE WHEN pred AND NOT actual THEN 1 ELSE 0 END) = 0 THEN NULL
       |       ELSE (CAST(SUM(CASE WHEN pred AND actual THEN 1 ELSE 0 END) AS BIGINT) * 1000000)
       |         // CAST(SUM(CASE WHEN pred AND actual THEN 1 ELSE 0 END)
       |              + SUM(CASE WHEN pred AND NOT actual THEN 1 ELSE 0 END) AS BIGINT)
       |  END AS precision_ppm,
       |  CASE WHEN SUM(CASE WHEN pred AND actual THEN 1 ELSE 0 END)
       |          + SUM(CASE WHEN NOT pred AND actual THEN 1 ELSE 0 END) = 0 THEN NULL
       |       ELSE (CAST(SUM(CASE WHEN pred AND actual THEN 1 ELSE 0 END) AS BIGINT) * 1000000)
       |         // CAST(SUM(CASE WHEN pred AND actual THEN 1 ELSE 0 END)
       |              + SUM(CASE WHEN NOT pred AND actual THEN 1 ELSE 0 END) AS BIGINT)
       |  END AS recall_ppm
       |FROM $from GROUP BY source
       |ORDER BY source""".stripMargin

  val qClassifierEvalSql: String = {
    // reuse the epoch CTE chain, then grade the final weights
    val f = s"""SELECT source, lang = 'en' AS actual,
       |    CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS y,
       |    CAST(1 AS BIGINT) AS b,
       |    CAST(len(list_filter(string_split(text, ' '), w -> w IN (${inList(enStops)}))) AS BIGINT) AS x1,
       |    CAST(len(regexp_extract_all(text, '[^\\x00-\\x7f]')) AS BIGINT) AS x2
       |  FROM documents""".stripMargin
    val epochs = (1 to PerceptronEpochs).map { e =>
      val (pb, p1, p2) =
        if (e == 1) ("CAST(0 AS BIGINT)", "CAST(0 AS BIGINT)", "CAST(0 AS BIGINT)")
        else (s"w${e - 1}.wb", s"w${e - 1}.w1", s"w${e - 1}.w2")
      val from = if (e == 1) "f" else s"f CROSS JOIN w${e - 1}"
      s"""w$e AS (
         |  SELECT CAST(ANY_VALUE($pb) + SUM(CASE WHEN y * ($pb * b + $p1 * x1 + $p2 * x2) <= 0 THEN y * b ELSE 0 END) AS BIGINT) AS wb,
         |    CAST(ANY_VALUE($p1) + SUM(CASE WHEN y * ($pb * b + $p1 * x1 + $p2 * x2) <= 0 THEN y * x1 ELSE 0 END) AS BIGINT) AS w1,
         |    CAST(ANY_VALUE($p2) + SUM(CASE WHEN y * ($pb * b + $p1 * x1 + $p2 * x2) <= 0 THEN y * x2 ELSE 0 END) AS BIGINT) AS w2
         |  FROM $from)""".stripMargin
    }
    val wN = s"w$PerceptronEpochs"
    s"""WITH f AS (
       |  $f),
       |${epochs.mkString(",\n")},
       |graded AS (
       |  SELECT source, actual,
       |    ($wN.wb * b + $wN.w1 * x1 + $wN.w2 * x2) > 0 AS pred
       |  FROM f CROSS JOIN $wN)
       |${gradeBySourceSql("graded")}""".stripMargin
  }

  val qPerceptronSql: String = {
    val feats = s"""SELECT CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS y,
       |    CAST(1 AS BIGINT) AS b,
       |    CAST(len(list_filter(string_split(text, ' '), w -> w IN (${inList(enStops)}))) AS BIGINT) AS x1,
       |    CAST(len(regexp_extract_all(text, '[^\\x00-\\x7f]')) AS BIGINT) AS x2
       |  FROM documents""".stripMargin
    // chain the epochs as 1-row CTEs, each folding the previous weights
    val epochs = (1 to PerceptronEpochs).map { e =>
      val (pb, p1, p2) =
        if (e == 1) ("CAST(0 AS BIGINT)", "CAST(0 AS BIGINT)", "CAST(0 AS BIGINT)")
        else (s"w${e - 1}.wb", s"w${e - 1}.w1", s"w${e - 1}.w2")
      val from = if (e == 1) "f" else s"f CROSS JOIN w${e - 1}"
      s"""w$e AS (
         |  SELECT CAST(ANY_VALUE($pb) + SUM(CASE WHEN y * ($pb * b + $p1 * x1 + $p2 * x2) <= 0 THEN y * b ELSE 0 END) AS BIGINT) AS wb,
         |    CAST(ANY_VALUE($p1) + SUM(CASE WHEN y * ($pb * b + $p1 * x1 + $p2 * x2) <= 0 THEN y * x1 ELSE 0 END) AS BIGINT) AS w1,
         |    CAST(ANY_VALUE($p2) + SUM(CASE WHEN y * ($pb * b + $p1 * x1 + $p2 * x2) <= 0 THEN y * x2 ELSE 0 END) AS BIGINT) AS w2,
         |    CAST(SUM(CASE WHEN y * ($pb * b + $p1 * x1 + $p2 * x2) <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_err
         |  FROM $from)""".stripMargin
    }
    val selects = (1 to PerceptronEpochs).map { e =>
      s"SELECT CAST($e AS BIGINT) AS epoch, n_err, wb AS w_bias, w1 AS w_stop, w2 AS w_nonascii FROM w$e"
    }
    s"""WITH f AS (
       |  $feats),
       |${epochs.mkString(",\n")}
       |${selects.mkString("\nUNION ALL\n")}
       |ORDER BY epoch""".stripMargin
  }

  // Hashed-feature classifier: the [[qPerceptron]]
  // integer-perceptron idea run over the DSIR 4096-bucket hashed
  // n-gram space; the model is ≤ 4,097 bucket-indexed integer weights
  // instead of three scalars, still held on the driver between epochs,
  // each epoch one fold of the per-doc features into them
  // ([[hashedPerceptron]]). Three departures from the naive batch
  // perceptron, all MEASURED on this corpus before being adopted:
  //   - TARGET: the r13 verdict suggested en/non-en, but this corpus
  //     has no language signal in the text — all langs share one
  //     31-word vocabulary, per-lang stopword rates are equal to
  //     within noise (en 6.4% vs de 5.7%), non-ASCII is zero, and
  //     q_lang_confusion votes 'en' for 100% of docs. Training on
  //     `lang` fits noise (train error never left the 40% floor and
  //     test output collapsed to one class in every tested config).
  //     The classifier instead DISTILLS a real quality rule with
  //     signal — the Gopher-style minimum-length keep (n_words ≥
  //     [[HashedMinLen]]) — the teacher→cheap-hashed-student pattern
  //     production filters actually use (FineWeb-Edu/DCLM style).
  //   - MEAN STEP: the synchronous full-batch update w += Σ_mis y·x
  //     2-cycles (all-positive ↔ all-negative verdicts at every
  //     tested epoch count, both targets): each step is a corpus-mass
  //     overshoot. The update here is the misclassified MEAN in ×1000
  //     fixed point, w += (Σ_mis y·x·1000) DIV |mis| — sign applied
  //     to an absolute-value DIV per the cross-engine convention.
  //   - AVERAGED READOUT: prediction uses Σ_epochs w_e (the averaged
  //     perceptron, scale-free so the mean needs no division) —
  //     smooths the residual oscillation of batch steps.
  //   Measured (16 epochs, bias scale 16): test accuracy 98.1% /
  //   96.3% / 93.6% at sf0.001/0.01/0.1 vs 68.5% / 63.0% / 68.3%
  //   majority baselines.
  private[graft] val HashedEpochs = 16
  private val HashedMinLen = 40L
  // Bias rides as pseudo-bucket "_b" with constant feature value
  // [[HashedBiasScale]] — one weight table, no separate bias state,
  // and the bias step is comparable to count-feature steps (scale 1
  // left the threshold unreachable: the length rule needs a bias near
  // -40·w while count features move 110× faster per epoch).
  private val HashedBiasScale = 16L

  /** md5-prefix train-split predicate shared by the DSIR/classifier
    * family ([[qTrainTestSplit]]'s device). */
  private[graft] def isTrainSplit: Column =
    substring(md5(col("doc_id").cast("string").cast("binary")), 1, 2) < splitHexLt

  /** Teacher label: the Gopher-style min-length keep rule, ±1. */
  private def hashedLabel: Column =
    when(expr("size(filter(split(text, ' '), w -> length(w) > 0))") >= HashedMinLen, 1L)
      .otherwise(-1L)

  /** (doc_id, y, f, cnt) hashed-bucket count features INCLUDING the
    * "_b" bias pseudo-bucket row per doc — the label rides the
    * Generate so the corpus never joins a label table. */
  private[graft] def hashedFeatures(docsDf: DataFrame): DataFrame = {
    val base = docsDf.withColumn("y", hashedLabel)
    dsirFeats(base, Seq("y"))
      .groupBy(col("doc_id"), col("y"), col("f"))
      .agg(count(lit(1)).as("cnt"))
      .unionByName(base.select(col("doc_id"), col("y"),
        lit("_b").as("f"), lit(HashedBiasScale).as("cnt")))
  }

  /** The "_b" bias pseudo-bucket's slot: the 4,096 three-hex buckets
    * are slots 0-4095. */
  private val HashedBiasSlot = 4096

  /** (doc_id, y, fs) one row per doc of [[hashedFeatures]] rows: its
    * label and its `(slot, cnt)` pairs, the 3-hex bucket `f` read as an
    * int and "_b" as [[HashedBiasSlot]]. */
  private[graft] def hashedDocRows(feats: DataFrame): DataFrame =
    feats.groupBy(col("doc_id"), col("y"))
      .agg(collect_list(struct(
        when(col("f") === "_b", HashedBiasSlot).otherwise(conv(col("f"), 16, 10).cast("int")),
        col("cnt"))).as("fs"))

  /** Sign-safe fixed-point mean step (s·1000) DIV nm, as the oracle
    * computes it: the DIV on the absolute value with the sign
    * re-applied. JVM long division truncates toward zero, so that is
    * the plain quotient. Overflow throws. */
  private def meanStep(s: Long, nm: Long): Long = Math.multiplyExact(s, 1000L) / math.max(nm, 1L)

  /** Train the hashed-feature averaged perceptron on the md5 TRAIN
    * split (see the header note for the measured design decisions):
    * [[hashedPerceptron]] over the split's [[hashedDocRows]],
    * materialized once. */
  private[graft] def trainHashedPerceptron(s: SparkSession, dir: String): DataFrame =
    hashedPerceptron(hashedDocRows(hashedFeatures(docs(s, dir).filter(isTrainSplit))).materialized)

  /** The [[HashedEpochs]] epochs over `rows` ([[hashedDocRows]]'s
    * shape). The weights are ≤ 4,097 slots held on the driver at any
    * corpus size. Each epoch is ONE [[graft.plans.SlotFold]] job: each
    * doc's margin against the shipped weights, and for a misclassified
    * doc its y·cnt added into the per-slot sums, plus one slot counting
    * the misclassified docs. The driver then adds the mean step to each
    * slot. Returns the AVERAGED weights Σ_epochs w_e as the (f, w)
    * table of the non-zero slots (both serves read a missing bucket as
    * 0) — exact integers end to end, bit-identical in any engine; an
    * overflow throws instead of wrapping.
    */
  private[graft] def hashedPerceptron(rows: DataFrame): DataFrame = {
    val n = HashedBiasSlot + 1
    val docRows = rows.select("y", "fs")
    val w = new Array[Long](n)
    val avg = new Array[Long](n)
    for (_ <- 1 to HashedEpochs) {
      val sums = SlotFold(docRows, n + 1) { (r, acc) =>
        val y = r.getLong(0)
        val fs = r.getArray(1)
        var margin = 0L
        var i = 0
        while (i < fs.numElements) {
          val p = fs.getStruct(i, 2)
          margin = Math.addExact(margin, Math.multiplyExact(p.getLong(1), w(p.getInt(0))))
          i += 1
        }
        if (Math.multiplyExact(y, margin) <= 0L) {
          i = 0
          while (i < fs.numElements) {
            val p = fs.getStruct(i, 2)
            SlotFold.add(acc, p.getInt(0), Math.multiplyExact(y, p.getLong(1)))
            i += 1
          }
          SlotFold.add(acc, n, 1L)
        }
      }
      for (i <- 0 until n) {
        w(i) = Math.addExact(w(i), meanStep(sums(i), sums(n)))
        avg(i) = Math.addExact(avg(i), w(i))
      }
    }
    val sess = rows.sparkSession
    import sess.implicits._
    (0 until n).filter(avg(_) != 0L)
      .map(i => (if (i == HashedBiasSlot) "_b" else f"$i%03x", avg(i)))
      .toDF("f", "w")
  }

  /** Session cache for the trained hashed-classifier weight table —
    * the [[dsirSessionModel]]/[[lmSessionModel]] precedent
    * (self-contained model rows stop re-paying training per
    * invocation; the MODEL is cached, never scored results, and data
    * dirs are immutable snapshots within a session). Training is one
    * feature materialization plus one job per epoch, 16 epochs;
    * without the cache the bench (and any composed consumer) re-trains
    * on every call.
    */
  private val hashedModelCache = new graft.plans.SessionCache[DataFrame]

  private def hashedSessionModel(s: SparkSession, dir: String): DataFrame =
    hashedModelCache.getOrElseUpdate(s, dir)(trainHashedPerceptron(s, dir))

  /** Hashed-feature classifier eval — SURVEY §2's trainable-filter
    * row done deployably: train [[trainHashedPerceptron]] on the md5
    * TRAIN split, score the held-out TEST split (one broadcast of the
    * averaged bucket-weight table + map-side-combined per-doc dot
    * product), and grade per source against the teacher rule — the
    * [[qClassifierEval]] tp/fp/fn/tn/precision/recall schema.
    * TextOpsSpec pins that the student clears the majority-class
    * baseline by a wide margin (the 3-feature [[qPerceptron]] never
    * does on any target here — its en/non-en task carries no signal
    * in this corpus, see the header note).
    *
    * Shape at scale: training per the trainer's note; serving is ONE
    * corpus Generate + broadcast join + per-doc rollup + |sources|
    * rollup. The weight table stays ≤4097 rows at any corpus size.
    */
  def qHashedClassifier(s: SparkSession, dir: String): DataFrame = {
    val w = hashedSessionModel(s, dir)
    val te = docs(s, dir).filter(!isTrainSplit)
    val dotp = hashedFeatures(te)
      .join(broadcast(w), Seq("f"), "left")
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt") * coalesce(col("w"), lit(0L))).as("margin"))
    gradeBySource(te.select(col("doc_id"), col("source"), (hashedLabel === 1L).as("actual"))
      .join(dotp, Seq("doc_id"))
      .withColumn("pred", col("margin") > 0L))
  }

  /** Shared oracle CTE chain for the hashed-classifier family: train
    * split + features + the [[HashedEpochs]] epoch chain + averaged
    * weights + per-test-doc margins (`mt`). [[qHashedClassifierSql]]
    * and [[qClassifierCalibrationSql]] both append their rollup to
    * this prefix, so the two oracles cannot drift from each other.
    */
  private val hashedOracleCte: String = {
    def sqlMeanStep(s: String, nm: String): String =
      s"CAST(CASE WHEN $s >= 0 THEN ($s * 1000) // greatest($nm, 1) " +
        s"ELSE -((-($s) * 1000) // greatest($nm, 1)) END AS BIGINT)"
    val epochs = (1 to HashedEpochs).flatMap { e =>
      val pw = s"w${e - 1}"
      Seq(
        s"""m$e AS MATERIALIZED (
           |  SELECT fe.doc_id, fe.y, CAST(COALESCE(SUM(fe.cnt * w.w), 0) AS BIGINT) AS margin
           |  FROM fe LEFT JOIN $pw w ON fe.f = w.f
           |  GROUP BY fe.doc_id, fe.y)""".stripMargin,
        s"""nm$e AS (SELECT COUNT(*) AS nm FROM m$e WHERE y * margin <= 0)""",
        s"""d$e AS (
           |  SELECT fe.f, ${sqlMeanStep(s"CAST(SUM(m.y * fe.cnt) AS BIGINT)", "nm.nm")} AS dw
           |  FROM fe JOIN m$e m ON fe.doc_id = m.doc_id CROSS JOIN nm$e nm
           |  WHERE m.y * m.margin <= 0 GROUP BY fe.f, nm.nm)""".stripMargin,
        s"""w$e AS MATERIALIZED (
           |  SELECT COALESCE(p.f, q.f) AS f,
           |    CAST(COALESCE(p.w, 0) + COALESCE(q.dw, 0) AS BIGINT) AS w
           |  FROM $pw p FULL OUTER JOIN d$e q ON p.f = q.f)""".stripMargin)
    }
    val allW = (1 to HashedEpochs).map(e => s"SELECT * FROM w$e").mkString("\n    UNION ALL ")
    s"""WITH d AS MATERIALIZED (
       |  SELECT doc_id, source, string_split(text, ' ') AS ws,
       |    len(list_filter(string_split(text, ' '), w -> len(w) > 0)) >= $HashedMinLen AS keep,
       |    substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '$splitHexLt' AS is_train
       |  FROM documents),
       |fe AS MATERIALIZED (
       |  SELECT doc_id, CAST(y AS BIGINT) AS y, f, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
       |    SELECT doc_id, CASE WHEN keep THEN 1 ELSE -1 END AS y, substr(md5(w), 1, 3) AS f
       |    FROM (SELECT doc_id, keep, unnest(ws) AS w FROM d WHERE is_train) WHERE len(w) > 0
       |    UNION ALL
       |    SELECT doc_id, CASE WHEN keep THEN 1 ELSE -1 END, substr(md5(bg), 1, 3)
       |    FROM (SELECT doc_id, keep, unnest(list_transform(range(1, len(ws)),
       |            i -> ws[i] || ' ' || ws[i + 1])) AS bg
       |          FROM d WHERE is_train AND len(ws) >= 2))
       |  GROUP BY doc_id, y, f
       |  UNION ALL
       |  SELECT doc_id, CASE WHEN keep THEN 1 ELSE -1 END, '_b', $HashedBiasScale
       |  FROM d WHERE is_train),
       |w0 AS (SELECT CAST(NULL AS VARCHAR) AS f, CAST(0 AS BIGINT) AS w WHERE FALSE),
       |${epochs.mkString(",\n")},
       |wavg AS MATERIALIZED (
       |  SELECT f, CAST(SUM(w) AS BIGINT) AS w FROM (
       |    $allW) GROUP BY f),
       |tfe AS (
       |  SELECT doc_id, f, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
       |    SELECT doc_id, substr(md5(w), 1, 3) AS f
       |    FROM (SELECT doc_id, unnest(ws) AS w FROM d WHERE NOT is_train) WHERE len(w) > 0
       |    UNION ALL
       |    SELECT doc_id, substr(md5(bg), 1, 3) AS f
       |    FROM (SELECT doc_id, unnest(list_transform(range(1, len(ws)),
       |            i -> ws[i] || ' ' || ws[i + 1])) AS bg
       |          FROM d WHERE NOT is_train AND len(ws) >= 2))
       |  GROUP BY doc_id, f
       |  UNION ALL
       |  SELECT doc_id, '_b', $HashedBiasScale FROM d WHERE NOT is_train),
       |mt AS (
       |  SELECT t.doc_id, CAST(COALESCE(SUM(t.cnt * w.w), 0) AS BIGINT) AS margin
       |  FROM tfe t LEFT JOIN wavg w ON t.f = w.f GROUP BY t.doc_id)""".stripMargin
  }

  /** Oracle for [[qHashedClassifier]]: the identical feature space
    * ([[qDsirWeightsSql]]'s hashed md5-prefix n-grams + the "_b" bias
    * pseudo-bucket), the epoch chain as per-bucket weight-table CTEs
    * (the [[qPerceptronSql]] device, table-valued), the same
    * fixed-point mean step and averaged readout — engine-exact
    * because every step is integer sums, string hashes, and
    * positive-only DIVs.
    */
  val qHashedClassifierSql: String =
    s"""$hashedOracleCte,
       |sc AS (
       |  SELECT d.source, d.keep AS actual, mt.margin > 0 AS pred
       |  FROM mt JOIN d USING (doc_id))
       |${gradeBySourceSql("sc")}""".stripMargin

  /** Margin-decile calibration of the hashed classifier (the
    * reliability table a deployed filter publishes next to its
    * precision/recall): held-out test docs ranked by margin, cut into
    * 10 equal-population deciles, each reporting its doc count,
    * teacher-positive count and rate (ppm), margin range, and
    * predicted-positive count. A well-calibrated student shows the
    * positive rate rising monotonically with the margin decile and
    * the decision boundary (margin 0) landing where the rate crosses
    * the prior — the check that catches a classifier whose AGGREGATE
    * accuracy hides a miscalibrated middle. TextOpsSpec pins the
    * monotone-ends property; the oracle shares [[hashedOracleCte]]
    * with the eval row, so the two cannot drift.
    *
    * Shape at scale: margins are the serve pass (broadcast weight
    * table + per-doc partial agg); the global rank comes from
    * [[graft.plans.Surrogate.rankedId]] (range-partition + in-
    * partition sort + zipWithIndex — NO corpus-wide single-partition
    * window); deciles partial-aggregate into 10 rows.
    */
  def qClassifierCalibration(s: SparkSession, dir: String): DataFrame = {
    val w = hashedSessionModel(s, dir)
    val margins = hashedFeatures(docs(s, dir).filter(!isTrainSplit))
      .join(broadcast(w), Seq("f"), "left")
      .groupBy(col("doc_id"), col("y"))
      .agg(sum(col("cnt") * coalesce(col("w"), lit(0L))).as("margin"))
    val ranked = graft.plans.Surrogate.rankedId(
      margins.select(col("doc_id"), col("y"), col("margin")),
      Seq("margin", "doc_id"), "rk")
    val n = ranked.agg(count(lit(1)).as("n"))
    ranked.crossJoin(broadcast(n))
      .withColumn("decile", expr("((rk - 1) * 10) DIV n"))
      .groupBy(col("decile"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("y") === 1L, 1L).otherwise(0L)).as("n_pos"),
        min(col("margin")).as("min_margin"),
        max(col("margin")).as("max_margin"),
        sum(when(col("margin") > 0L, 1L).otherwise(0L)).as("n_pred_pos"))
      .withColumn("pos_ppm", expr("(n_pos * 1000000) DIV n_docs"))
      .select("decile", "n_docs", "n_pos", "pos_ppm",
        "min_margin", "max_margin", "n_pred_pos")
  }

  /** Oracle for [[qClassifierCalibration]] — the shared
    * [[hashedOracleCte]] margins plus a ROW_NUMBER replay of the
    * rankedId (margin, doc_id) global order.
    */
  val qClassifierCalibrationSql: String =
    s"""$hashedOracleCte,
       |r AS (
       |  SELECT mt.doc_id, mt.margin,
       |    CASE WHEN d.keep THEN 1 ELSE -1 END AS y,
       |    ROW_NUMBER() OVER (ORDER BY mt.margin, mt.doc_id) AS rk,
       |    COUNT(*) OVER () AS n
       |  FROM mt JOIN d USING (doc_id))
       |SELECT ((rk - 1) * 10) // n AS decile,
       |  COUNT(*) AS n_docs,
       |  CAST(SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
       |  (CAST(SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) * 1000000)
       |    // COUNT(*) AS pos_ppm,
       |  MIN(margin) AS min_margin,
       |  MAX(margin) AS max_margin,
       |  CAST(SUM(CASE WHEN margin > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pred_pos
       |FROM r GROUP BY 1
       |ORDER BY decile""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_classifier_calibration" -> qClassifierCalibration _,
    "q_hashed_classifier" -> qHashedClassifier _,
    "q_split_balance"     -> qSplitBalance _,
    "q_classifier_eval"   -> qClassifierEval _,
    "q_perceptron"        -> qPerceptron _,
    "q_dataset_card"      -> qDatasetCard _,
    "q_readability"       -> qReadability _,
    "q_char_diversity"    -> qCharDiversity _,
    "q_lexical_diversity" -> qLexicalDiversity _,
    "q_self_overlap"      -> qSelfOverlap _,
    "q_zipf_fit"          -> qZipfFit _,
    "q_dsir_weights"      -> qDsirWeights _,
    "q_novelty_curve"     -> qNoveltyCurve _,
    "q_vocab_growth"      -> qVocabGrowth _,
    "q_ppl_source_mix"    -> qPplSourceMix _,
    "q_lm_perplexity"     -> qLmPerplexity _,
    "q_colloc_lift"       -> qCollocLift _,
    "q_lang_confusion"    -> qLangConfusion _,
    "q_sample_uniform"    -> qSampleUniform _,
    "q_weighted_sample"   -> qWeightedSample _,
    "q_index_bits"        -> qIndexBits _,
    "q_len_hist"          -> qLenHist _,
    "q_tokenizer_stats"   -> qTokenizerStats _,
    "q_vocab_coverage"    -> qVocabCoverage _,
    "q_source_quality"    -> qSourceQuality _,
    "q_bigram_topk"       -> qBigramTopk _,
    "q_train_test_split"  -> qTrainTestSplit _,
    "q_oov_rate"          -> qOovRate _,
    "q_shard_plan"        -> qShardPlan _,
    "q_chunk_docs"        -> qChunkDocs _,
    "q_tfidf_keywords"    -> qTfidfKeywords _,
    "q_bm25"              -> qBm25 _,
    "q_filter_pipeline"   -> qFilterPipeline _,
    "q_dedup_segment"     -> qDedupSegment _,
    "q_span_dedup"        -> qSpanDedup _,
    "q_span_excise"       -> qSpanExcise _,
    "q_span_leaderboard"  -> qSpanLeaderboard _,
    "q_pack_sequences"    -> qPackSequences _,
    "q_pack_waste"        -> qPackWaste _,
    "q_pii_scrub"         -> qPiiScrub _,
    "q_inverted_index"    -> qInvertedIndex _,
    "q_normalize_text"    -> qNormalizeText _,
    "q_vocab_topk"        -> qVocabTopk _,
    "q_bpe_pairs"         -> qBpePairs _,
    "q_bpe_train"         -> qBpeTrain _,
    "q_bpe_encode"        -> qBpeEncode _,
    "q_mix_budget"        -> qMixBudget _,
    "q_mix_temperature"   -> qMixTemperature _,
    "q_unimax_mix"        -> qUnimaxMix _,
    "q_curriculum"        -> qCurriculum _,
    "q_repetition"        -> qRepetition _,
    "q_contamination"     -> qContamination _,
    "q_contamination_fuzzy" -> qContaminationFuzzy _,
    "q_unigram_train"     -> qUnigramTrain _,
    "q_unigram_encode"    -> qUnigramEncode _,
    "q_lang_id"           -> qLangId _,
    "q_quality_score"     -> qQualityScore _,
    "q_gopher_rules"      -> qGopherRules _,
    "q_safety_screen"     -> qSafetyScreen _,
    "q_token_count"       -> qTokenCount _,
    "q_fingerprint"       -> qFingerprint _,
    "q_multimodal_meta"   -> qMultimodalMeta _,
    "q_sample_stratified" -> qSampleStratified _
  )

  val oracle: Map[String, String] = Map(
    "q_classifier_calibration" -> qClassifierCalibrationSql,
    "q_hashed_classifier" -> qHashedClassifierSql,
    "q_split_balance"     -> qSplitBalanceSql,
    "q_classifier_eval"   -> qClassifierEvalSql,
    "q_perceptron"        -> qPerceptronSql,
    "q_dataset_card"      -> qDatasetCardSql,
    "q_readability"       -> qReadabilitySql,
    "q_char_diversity"    -> qCharDiversitySql,
    "q_lexical_diversity" -> qLexicalDiversitySql,
    "q_self_overlap"      -> qSelfOverlapSql,
    "q_zipf_fit"          -> qZipfFitSql,
    "q_dsir_weights"      -> qDsirWeightsSql,
    "q_novelty_curve"     -> qNoveltyCurveSql,
    "q_vocab_growth"      -> qVocabGrowthSql,
    "q_ppl_source_mix"    -> qPplSourceMixSql,
    "q_lm_perplexity"     -> qLmPerplexitySql,
    "q_sample_uniform"    -> qSampleUniformSql,
    "q_weighted_sample"   -> qWeightedSampleSql,
    "q_index_bits"        -> qIndexBitsSql,
    "q_len_hist"          -> qLenHistSql,
    "q_tokenizer_stats"   -> qTokenizerStatsSql,
    "q_vocab_coverage"    -> qVocabCoverageSql,
    "q_source_quality"    -> qSourceQualitySql,
    "q_bigram_topk"       -> qBigramTopkSql,
    "q_colloc_lift"       -> qCollocLiftSql,
    "q_lang_confusion"    -> qLangConfusionSql,
    "q_train_test_split"  -> qTrainTestSplitSql,
    "q_oov_rate"          -> qOovRateSql,
    "q_shard_plan"        -> qShardPlanSql,
    "q_chunk_docs"        -> qChunkDocsSql,
    "q_tfidf_keywords"    -> qTfidfKeywordsSql,
    "q_bm25"              -> qBm25Sql,
    "q_filter_pipeline"   -> qFilterPipelineSql,
    "q_dedup_segment"     -> qDedupSegmentSql,
    "q_span_dedup"        -> qSpanDedupSql,
    "q_span_excise"       -> qSpanExciseSql,
    "q_span_leaderboard"  -> qSpanLeaderboardSql,
    "q_pack_sequences"    -> qPackSequencesSql,
    "q_pack_waste"        -> qPackWasteSql,
    "q_pii_scrub"         -> qPiiScrubSql,
    "q_inverted_index"    -> qInvertedIndexSql,
    "q_normalize_text"    -> qNormalizeTextSql,
    "q_vocab_topk"        -> qVocabTopkSql,
    "q_bpe_pairs"         -> qBpePairsSql,
    "q_bpe_train"         -> qBpeTrainSql,
    "q_bpe_encode"        -> qBpeEncodeSql,
    "q_repetition"        -> qRepetitionSql,
    "q_contamination"     -> qContaminationSql,
    "q_contamination_fuzzy" -> qContaminationFuzzySql,
    "q_unigram_train"     -> qUnigramTrainSql,
    "q_unigram_encode"    -> qUnigramEncodeSql,
    "q_lang_id"           -> qLangIdSql,
    "q_quality_score"     -> qQualityScoreSql,
    "q_gopher_rules"      -> qGopherRulesSql,
    "q_safety_screen"     -> qSafetyScreenSql,
    "q_token_count"       -> qTokenCountSql,
    "q_multimodal_meta"   -> qMultimodalMetaSql,
    "q_fingerprint"       -> qFingerprintSql,
    "q_sample_stratified" -> qSampleStratifiedSql,
    "q_mix_budget"        -> qMixBudgetSql,
    "q_mix_temperature"   -> qMixTemperatureSql,
    "q_unimax_mix"        -> qUnimaxMixSql,
    "q_curriculum"        -> qCurriculumSql
  )
}
