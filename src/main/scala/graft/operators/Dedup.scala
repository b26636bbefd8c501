package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.plans.Materialize._
import graft.plans.Publish
import graft.sources.Ingest

/** Deduplication operators for the LLM-training-data pipeline
  * (SURVEY.md §2 rows 19-23): exact dedup, MinHash+LSH near-dup,
  * SimHash near-dup, n-gram Jaccard verification, embedding-cosine
  * near-dup.
  *
  * Scale design (100 TB / 1000 executors):
  *   - Signatures (MinHash, SimHash) are explode → codegen'd groupBy
  *     aggregates: the shingle stream never leaves the map side
  *     un-combined (partial aggregation emits one k-slot row per doc
  *     per partition), and every arithmetic op stays inside
  *     whole-stage codegen.
  *   - Candidate generation is always a *bucketed equi self-join* on
  *     (band, bucket): the only shuffle is hash-partitioned on the
  *     band key, never an all-pairs cross product. Hot-bucket skew is
  *     handled by AQE skew-join (on in [[graft.GraftSession]]).
  *   - Verification (exact Jaccard / hamming / cosine) runs only on
  *     the candidate pairs that banding surfaced.
  */
object Dedup {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Ingest.table(s, dir, "documents")

  // ------------------------------------------------------------------
  // Row 19: exact dedup — normalized-content hash groupBy,
  // min-doc_id survivor. Oracle-checked.
  // ------------------------------------------------------------------

  /** Whitespace/case-normalized content hash — THE exact-dedup key.
    * Shared by the batch dedup and [[graft.streaming.Streams.dedupe]]
    * (the "twins" must never disagree on normalization).
    */
  def contentMd5(text: Column): Column =
    md5(regexp_replace(lower(text), "\\s+", " "))

  /** Exact dedup over a whitespace/case-normalized content hash.
    * One shuffle on the hash; at 100 TB the window over the hash key
    * is the canonical partitioned dedup (no global window).
    */
  def qDedupExact(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("content_md5")
    docs(s, dir)
      .select(
        col("doc_id"),
        contentMd5(col("text")).as("content_md5"))
      .withColumn("group_size", count(lit(1)).over(w))
      .withColumn("survivor_id", min("doc_id").over(w))
      .withColumn("is_dup", col("doc_id") =!= col("survivor_id"))
  }

  /** Order-free oracle body — composers ([[graft.operators.TextOps]]'s
    * pipeline/corpus oracles) embed THIS as a CTE; the standalone
    * oracle appends the presentation ORDER BY.
    */
  private[graft] val qDedupExactBody: String =
    """SELECT doc_id,
      |  md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS content_md5,
      |  count(*) OVER (PARTITION BY md5(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS group_size,
      |  min(doc_id) OVER (PARTITION BY md5(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS survivor_id,
      |  doc_id <> min(doc_id) OVER (PARTITION BY md5(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS is_dup
      |FROM documents""".stripMargin

  val qDedupExactSql: String = qDedupExactBody + "\nORDER BY doc_id"

  private val PrefixWords = 32

  /** Leading-window exact dedup (prefix dedup): documents sharing the
    * same normalized first-[[PrefixWords]]-word window form one
    * boilerplate FAMILY — the template screen (RefinedWeb/Gopher-style
    * leading-duplication filters) that whole-content hashing
    * ([[qDedupExact]]) structurally misses: "same header, different
    * tail" pages hash differently end-to-end but identically on the
    * prefix. Families keep their min-id survivor, same convention as
    * exact dedup. A doc shorter than the window uses all its words —
    * short exact dups are prefix dups too, by design.
    *
    * Shape at scale: map-only prefix hash, ONE shuffle on it, and the
    * partitioned count/min window rides that exchange — identical plan
    * shape to [[qDedupExact]]; no pairwise stage anywhere.
    */
  /** Normalized leading-window hash — THE prefix-dedup key. Shares
    * [[contentMd5]]'s \s+ normalization (so exact dup ⇒ prefix dup
    * holds for any whitespace — InvariantSpec pins the implication)
    * and is shared with [[graft.streaming.Streams.prefixDedupe]] (the
    * twins must never disagree on the key).
    */
  def prefixMd5(text: Column): Column =
    md5(array_join(
      slice(filter(split(regexp_replace(lower(text), "\\s+", " "), " "),
        w => length(w) > 0), 1, PrefixWords), " "))

  def qPrefixDedup(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("prefix_md5")
    docs(s, dir)
      .select(col("doc_id"), prefixMd5(col("text")).as("prefix_md5"))
      .withColumn("family_size", count(lit(1)).over(w))
      .withColumn("survivor_id", min("doc_id").over(w))
      .withColumn("is_prefix_dup", col("doc_id") =!= col("survivor_id"))
  }

  val qPrefixDedupSql: String =
    s"""WITH p AS (
       |  SELECT doc_id,
       |    md5(array_to_string(
       |      (list_filter(string_split(regexp_replace(lower(text), '\\s+', ' ', 'g'), ' '),
       |        w -> len(w) > 0))[1:$PrefixWords],
       |      ' ')) AS prefix_md5
       |  FROM documents)
       |SELECT doc_id, prefix_md5,
       |  COUNT(*) OVER (PARTITION BY prefix_md5) AS family_size,
       |  MIN(doc_id) OVER (PARTITION BY prefix_md5) AS survivor_id,
       |  doc_id <> MIN(doc_id) OVER (PARTITION BY prefix_md5) AS is_prefix_dup
       |FROM p
       |ORDER BY doc_id""".stripMargin

  /** Normalized TRAILING-window hash — the suffix-dedup key, mirror of
    * [[prefixMd5]] for the tail end: shared footers / signatures /
    * license blocks that template screens on the head miss. Same \s+
    * normalization as [[contentMd5]], so exact dup ⇒ suffix dup holds
    * (InvariantSpec pins the implication alongside the prefix one).
    * A doc shorter than the window uses all its words.
    */
  def suffixMd5(text: Column): Column = {
    val ws = filter(split(regexp_replace(lower(text), "\\s+", " "), " "),
      w => length(w) > 0)
    md5(array_join(
      slice(ws, greatest(size(ws) - lit(PrefixWords - 1), lit(1)), lit(PrefixWords)),
      " "))
  }

  /** Trailing-[[PrefixWords]]-word boilerplate-family dedup — the
    * footer screen beside [[qPrefixDedup]]'s header screen. Identical
    * plan shape: map-only suffix hash, ONE shuffle on it, count/min
    * window riding the exchange.
    */
  def qSuffixDedup(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("suffix_md5")
    docs(s, dir)
      .select(col("doc_id"), suffixMd5(col("text")).as("suffix_md5"))
      .withColumn("family_size", count(lit(1)).over(w))
      .withColumn("survivor_id", min("doc_id").over(w))
      .withColumn("is_suffix_dup", col("doc_id") =!= col("survivor_id"))
  }

  val qSuffixDedupSql: String =
    s"""WITH p AS (
       |  SELECT doc_id,
       |    md5(array_to_string(
       |      list_transform(range(greatest(len(wl) - ${PrefixWords - 1}, 1), len(wl) + 1),
       |        i -> wl[i]),
       |      ' ')) AS suffix_md5
       |  FROM (SELECT doc_id,
       |      list_filter(string_split(regexp_replace(lower(text), '\\s+', ' ', 'g'), ' '),
       |        w -> len(w) > 0) AS wl
       |    FROM documents))
       |SELECT doc_id, suffix_md5,
       |  COUNT(*) OVER (PARTITION BY suffix_md5) AS family_size,
       |  MIN(doc_id) OVER (PARTITION BY suffix_md5) AS survivor_id,
       |  doc_id <> MIN(doc_id) OVER (PARTITION BY suffix_md5) AS is_suffix_dup
       |FROM p
       |ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------------
  // Shared LSH machinery
  // ------------------------------------------------------------------

  /** (doc_id, band, bucket) rows from an array-typed signature column
    * `sig_arr`: `bands` slices of `rows` slots, each hashed (with the
    * band index) to a bucket id.
    */
  private[graft] def sigBandRows(sigDf: DataFrame, bands: Int, rows: Int): DataFrame =
    sigDf.select(col("doc_id"),
      posexplode(expr(
        s"transform(sequence(0, ${bands - 1}), j -> xxhash64(slice(sig_arr, j * $rows + 1, $rows), j))"))
        .as(Seq("band", "bucket")))

  /** Members a band bucket holds before [[saltedBandJoin]] splits it. */
  private[graft] val HotBucketCap = 1000

  /** The salted band self-join of an LSH band table (doc_id, band,
    * bucket, …): every pair of rows `a`, `b` sharing (band, bucket)
    * with `a.doc_id < b.doc_id`, both sides' columns reachable under
    * the `a` / `b` aliases. The equi-join on (band, bucket) is the
    * only shuffle in the candidate step, hash-partitioned on the band
    * key. A pair colliding in several bands appears once per band.
    *
    * Hot buckets are SALT-SPLIT, not dropped: a bucket holding more
    * members than `hotBucketCap` would contribute O(size²) pairs —
    * the classic quadratic blowup of naive near-dup at 100 TB.
    * Dropping such buckets outright would silently lose any pair
    * whose only collision was there. Instead each member of a bucket
    * of size s hashes into one of ceil(s/cap) sub-buckets and pairs
    * only within its sub-bucket: pair work stays O(cap·s) instead of
    * O(s²) — the quadratic guard holds — while intra-bucket pairs are
    * SAMPLED (each surviving with ≈ cap/s probability per band)
    * rather than zeroed, and every pair still gets its full chance
    * through the other bands it collides in. Normal buckets have one
    * sub-bucket, so behavior below the cap is unchanged. The sizing
    * window partitions on the same (band, bucket) key as the join,
    * and HashPartitioning(band, bucket) co-locates the 3-key (band,
    * bucket, salt) join, so Catalyst still reuses one exchange — the
    * guard is free.
    *
    * What the cap costs is observable, not silent:
    * [[cappedBucketStats]] reports the affected buckets/members.
    */
  private[graft] def saltedBandJoin(bandDf: DataFrame, hotBucketCap: Int = HotBucketCap): DataFrame = {
    val salted = bandDf
      .withColumn("bsize", count(lit(1)).over(Window.partitionBy("band", "bucket")))
      .withColumn("salt",
        pmod(xxhash64(col("doc_id"), col("band"), col("bucket")),
          ceil(col("bsize") / lit(hotBucketCap)).cast("int")).cast("int"))
      .drop("bsize")
    salted.alias("a")
      .join(salted.alias("b"),
        col("a.band") === col("b.band") &&
        col("a.bucket") === col("b.bucket") &&
        col("a.salt") === col("b.salt") &&
        col("a.doc_id") < col("b.doc_id"))
  }

  /** Distinct candidate pairs (id_a < id_b) of an LSH band table:
    * [[saltedBandJoin]]'s pairs, each once. */
  private[graft] def candidatePairs(bandDf: DataFrame, hotBucketCap: Int = HotBucketCap): DataFrame =
    saltedBandJoin(bandDf, hotBucketCap)
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()

  /** One-row audit of what the hot-bucket guard touched: buckets over
    * the cap, members in them, and the pair-sampling rate they got
    * (sub-bucket pairs / full-bucket pairs). A 100 TB run logs this
    * next to its pair counts so capped recall is never invisible.
    */
  private[graft] def cappedBucketStats(bandDf: DataFrame, hotBucketCap: Int = HotBucketCap): DataFrame =
    bandDf
      .groupBy("band", "bucket").agg(count(lit(1)).as("bsize"))
      .filter(col("bsize") > hotBucketCap)
      .agg(
        coalesce(count(lit(1)), lit(0L)).as("n_capped_buckets"),
        coalesce(sum("bsize"), lit(0L)).as("n_capped_members"),
        // within-bucket sampling rate ≈ 1/nsplit, averaged over buckets
        coalesce(avg(lit(1.0) / ceil(col("bsize") / lit(hotBucketCap))), lit(1.0))
          .as("avg_pair_sample_rate"))

  /** Exact Jaccard over hashed shingle sets, joined onto candidate
    * pairs. The set columns are SORTED long arrays (the native
    * expressions' contract), so the similarity is a single
    * allocation-free merge pass ([[graft.functions.SortedJaccard]])
    * instead of array_intersect/array_union hash sets per row. Hash
    * collisions shift Jaccard by O(n/|domain|): the word-level hashes
    * span the full 64-bit domain (~n/2^63), the char-ngram hashes live
    * mod P=2^31-1 (~n/2^31) — both negligible at ~1.4k-element sets.
    *
    * MinHash pre-filter (`sigDf` = Some): before the
    * full shingle sets ship through the two verify joins, candidate
    * pairs join the k-slot signatures (64 longs — for char 6-grams
    * ~20× narrower than the set arrays) and pairs whose slot-agreement
    * estimate sits ≥0.25 below the verify threshold are dropped. Slot
    * agreement is an unbiased J estimator with sd = sqrt(J(1-J)/k)
    * ≤ 0.0625 at k=64, so the 0.25 margin is ≥4σ: P(drop a true
    * ≥-threshold pair) ≈ 3e-5 per pair — and banding conditions the
    * estimate upward for true pairs, never down.
    *
    * The pre-filter is a TRADE, not free: it re-evaluates the
    * signature expression on both join sides (+2 map passes) and adds
    * two joins, to shrink the pair rows that carry full set arrays.
    * Measured at sf0.1: char-6-gram sets (~1.4k longs/doc) 3.9×
    * faster WITH it; word-3-gram sets (~4× lighter) 1.4× SLOWER with
    * it. Rule: enable when set-bytes × expected-candidate-volume
    * dominates two signature map passes — heavy-shingle or
    * boilerplate-skewed corpora yes, light-shingle corpora no.
    */
  private def jaccardVerify(
      cand: DataFrame, shingleDf: DataFrame,
      threshold: Double, sigDf: Option[DataFrame] = None): DataFrame = {
    val prefiltered = sigDf match {
      case Some(sig) =>
        val estFloor = threshold - 0.25
        cand
          .join(sig.select(col("doc_id").as("id_a"), col("sig_arr").as("sig_a")), "id_a")
          .join(sig.select(col("doc_id").as("id_b"), col("sig_arr").as("sig_b")), "id_b")
          .filter(graft.functions.VectorFunctions
            .slotAgreement(col("sig_a"), col("sig_b")) >= estFloor)
          .select("id_a", "id_b")
      case None => cand
    }
    prefiltered
      .join(shingleDf.select(col("doc_id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(shingleDf.select(col("doc_id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .withColumn("jaccard",
        graft.functions.SortedJaccard.column(col("sh_a"), col("sh_b")))
  }

  // ------------------------------------------------------------------
  // Row 20: MinHash + LSH banding over word 3-gram shingles.
  // b=16 bands × r=4 rows ⇒ candidate S-curve midpoint ≈ (1/16)^(1/4)
  // ≈ 0.5. The VERIFY threshold sits ABOVE the midpoint (0.6, where
  // banding recall is 1-(1-0.6^4)^16 ≈ 0.89, vs only ~0.64 at 0.5):
  // reporting pairs at the midpoint would present ~64% recall as
  // exhaustive. Recall at the reported threshold rises
  // steeply: ≈0.99 at J=0.7, ≈1.0 at J≥0.8.
  // Signature and shingle-set come from the one-pass native
  // expressions ([[graft.functions.WordNgramMinHash]]) — map-only
  // until the band-bucket candidate join.
  // ------------------------------------------------------------------
  def qDedupMinhash(s: SparkSession, dir: String): DataFrame =
    nearPairsFrom(docs(s, dir))

  /** Exact-text canonicalization for the minhash/Jaccard pair
    * pipelines (r15, the simhash/entity/span device on the last
    * near-dup shelf still paying it): identical texts carry identical
    * signatures AND identical shingle sets, so an m-deep verbatim
    * family inflates the band-bucket candidate join m²× and re-ships
    * m copies of every set array through the verify joins — for pairs
    * the within-group expansion produces directly at Jaccard 1.0
    * (identical sets: intersection = union, and the empty/empty
    * convention is also 1.0, so every within-group pair clears any
    * threshold ≤ 1). `repPairs` computes the verified pair table over
    * group REPRESENTATIVES (min doc_id); cross-group member pairs
    * inherit their rep pair's exact Jaccard (same sets ⇒ same measure,
    * and identical signatures ⇒ identical band collisions, so
    * candidate recall is unchanged); within-group pairs emit at 1.0.
    * Candidate density now tracks DISTINCT texts, never crawl-dup
    * depth — uniform with the simhash/phash/span shelves.
    */
  private def textCanonicalPairs(d: DataFrame)(
      repPairs: DataFrame => DataFrame): DataFrame = {
    import graft.plans.Materialize.MaterializeOps
    val keyed = d.select(col("doc_id"), col("text"),
      unhex(md5(col("text"))).as("tkey"))
    // materialized: the group table feeds the membership join AND the
    // signature/set passes inside repPairs — column pruning
    // specializes the aggregate per branch, so without the checkpoint
    // the text shuffle would re-run once per consumer
    val grp = Canonical.groups(keyed, "doc_id", Seq("tkey")).materialized
    // the member table is consumed four times by the pair expansion
    // (two cross joins + the within self-join) — materialized (24 B/doc)
    // so the corpus text is scanned and md5'd ONCE, not once per branch
    val mem = Canonical.members(keyed.select(col("tkey"), col("doc_id")),
      grp, Seq("tkey")).materialized
    val rp = repPairs(grp.select(col("gid").as("doc_id"), col("text")))
      .withColumnRenamed("id_a", "ga").withColumnRenamed("id_b", "gb")
    Canonical.expandPairs(rp, mem, "doc_id", "id_a", "id_b",
      Seq("jaccard"), Seq(lit(1.0)))
  }

  /** The word-minhash verified-pair pipeline over an arbitrary
    * (doc_id, text) frame — ONE definition of the near-dup family's
    * constants serves [[qDedupMinhash]], the persisted index
    * ([[buildDedupIndexFrom]]) and [[CorpusBuild.corpusUpsert]]'s
    * within-increment pass, so the inline query, the index serve and
    * the upsert cannot disagree on what "near duplicate" means.
    * Canonicalized over distinct texts ([[textCanonicalPairs]]).
    */
  private[graft] def nearPairsFrom(d: DataFrame): DataFrame =
    textCanonicalPairs(d) { reps =>
      import graft.functions.{WordNgramMinHash, WordNgramHashes}
      val sig = reps.select(col("doc_id"),
        WordNgramMinHash.column(col("text"), IdxNgram, IdxK, seed = IdxSeed).as("sig_arr"))
      val sets = reps.select(col("doc_id"), WordNgramHashes.column(col("text"), IdxNgram).as("sh"))
      // no minhash pre-filter here: word-3-gram sets are light enough that
      // two extra signature passes cost more than they save (see
      // jaccardVerify's trade note; the char-6-gram path enables it).
      jaccardVerify(candidatePairs(sigBandRows(sig, IdxBands, IdxRows)), sets, IdxThreshold)
        .filter(col("jaccard") >= IdxThreshold)
        .select("id_a", "id_b", "jaccard")
    }

  // ------------------------------------------------------------------
  // Row 22: character 6-gram Jaccard on LSH candidate pairs — same
  // engine, character-level shingling (robust to tokenization drift).
  // n=6 spans word boundaries: on this small-vocabulary corpus random
  // pairs sit at J≈0.11 (band-collision rate 0.3%) while near-dups
  // stay ≥0.9 — 4-grams would push ~11% of ALL pairs into the verify
  // join, a quadratic blowup at scale.
  //
  // Signature and shingle-set come from the native one-pass codegen
  // expressions ([[graft.functions.CharNgramMinHash]]): char shingles
  // are ~4× denser than word shingles, so here even the exploded
  // aggregate is dominated by shingle-row volume — with the native
  // expression the whole signature stage is map-only and the first
  // shuffle in the pipeline is the candidate join itself.
  // ------------------------------------------------------------------
  def qNgramJaccard(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.CharNgramFunctions._
    val (n, k, bands, rows, threshold) = (6, 64, 16, 4, 0.6)
    textCanonicalPairs(docs(s, dir)) { reps =>
      val sig = reps.select(col("doc_id"),
        charMinHash(col("text"), n, k, seed = 0x5EED0002L).as("sig_arr"))
      val sets = reps.select(col("doc_id"), charNgramHashes(col("text"), n).as("sh"))
      jaccardVerify(candidatePairs(sigBandRows(sig, bands, rows)), sets, threshold, Some(sig))
        .filter(col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    }
  }

  // ------------------------------------------------------------------
  // Row 21: SimHash-64 fingerprint + banded hamming near-dup.
  // Features: word 3-grams (multiset — counts weight the bit sums).
  // 8 bands × 8 bits: any pair with hamming ≤ 7 shares ≥1 clean band
  // (pigeonhole), so banding has perfect recall at the ≤7 verify
  // threshold — the threshold and band count must move together.
  // ------------------------------------------------------------------
  def qDedupSimhash(s: SparkSession, dir: String): DataFrame = {
    import graft.plans.Materialize.MaterializeOps
    // One-pass native expression (word 3-grams WITH multiplicity —
    // counts weight the bit sums): the signature stage is map-only
    // and materialized ONCE (16 B/doc) — both the group-by and the
    // member tag below read it without re-shingling the corpus.
    val sigDf = docs(s, dir).select(col("doc_id"),
      graft.functions.WordNgramSimHash.column(col("text"), 3).as("simhash"))
      .materialized
    // Fingerprint canonicalization (r15, the entity-match device):
    // the 8-bit band buckets live in a CONSTANT 256-value space per
    // band, so band-bucket population — and with it the candidate
    // quadratic — grows linearly with however many documents carry
    // each fingerprint. Identical texts have identical fingerprints,
    // and exact-dup mass is exactly what grows with crawl history:
    // collapsing each fingerprint to its min-doc representative
    // BEFORE banding makes the candidate join's density a function of
    // DISTINCT fingerprints only (the honest LSH cost), never of dup
    // depth. The 10× replica's 10-deep verbatim families had inflated
    // the join 100× for pairs the within-group expansion produces
    // directly as hamming-0 rows.
    val grp = Canonical.groups(sigDf, "doc_id", Seq("simhash"))
    val bandDf = grp.select(
      col("gid"), col("simhash"),
      posexplode(expr(
        "transform(sequence(0, 7), j -> shiftright(simhash, j * 8) & 255L)"))
        .as(Seq("band", "bucket")))
    val vg = bandDf.alias("a")
      .join(bandDf.alias("b"),
        col("a.band") === col("b.band") &&
        col("a.bucket") === col("b.bucket") &&
        col("a.gid") < col("b.gid"))
      .select(
        col("a.gid").as("ga"), col("b.gid").as("gb"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= 7) // 8 bands × 8 bits: pigeonhole recall holds only to 7
    // output-sized expansion back to document pairs: cross-group rows
    // inherit the verified group distance (members of a group share
    // one fingerprint, so member distance = group distance), within-
    // group rows are the exact-fingerprint families at hamming 0
    val mem = Canonical.members(sigDf, grp, Seq("simhash"))
      .select(col("gid"), col("doc_id"))
    Canonical.expandPairs(vg, mem, "doc_id", "id_a", "id_b",
      Seq("hamming"), Seq(lit(0)))
  }

  // ------------------------------------------------------------------
  // Row 23: embedding-cosine near-dup via random-hyperplane (sign) LSH.
  // Per-vector output shape: every vector reports its bucket, mate
  // count, and best same-bucket cosine — the audit view a dedup run
  // produces even when (as in this corpus) nothing crosses the 0.95
  // near-dup threshold.
  // ------------------------------------------------------------------

  /** Dot product of two float-array columns — native codegen
    * ([[graft.functions.VectorDot]]; the interpreted
    * `aggregate(zip_with(...))` lambda paid a per-element dispatch on
    * every vector and candidate pair). Double accumulation,
    * left-to-right — same values as the lambda. Divide by norms for
    * cosine.
    */
  private[operators] def dotExpr(ea: String, eb: String): Column =
    graft.functions.VectorFunctions.vectorDot(col(ea), col(eb))

  private[operators] def norm(emb: String): Column =
    graft.functions.VectorFunctions.vectorNorm(col(emb))

  /** DuckDB-side mirrors of [[graft.functions.VectorDot]] /
    * [[graft.functions.VectorNorm]]: `list_reduce` folds LEFT-TO-RIGHT
    * by definition, and each product is a float widened to double
    * before the multiply — the identical IEEE operation sequence, so
    * cosines (and therefore rank tie-breaks) are bit-exact
    * cross-engine. (The one divergence: list_reduce seeds the fold
    * with element 0 where the JVM loop seeds 0.0 — indistinguishable
    * unless every product is a signed zero.)
    */
  private[operators] def sqlDot(a: String, b: String): String =
    s"list_reduce(list_transform(list_zip($a, $b), " +
      "x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), (acc, v) -> acc + v)"

  private[operators] def sqlNorm(e: String): String =
    s"sqrt(list_reduce(list_transform($e, " +
      "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (acc, v) -> acc + v))"

  private val EmbSeed = 0x5EED0003L
  private val EmbBits = 8
  private val EmbDim = 64
  private val EmbHotCap = 1000

  def qDedupEmbedding(s: SparkSession, dir: String): DataFrame = {
    val hotBucketCap = EmbHotCap
    // 8 sign bits, one table: bucket values identical to the previous
    // per-plane lambda formulation (same seeded gaussians, same packing).
    val base = Ingest.table(s, dir, "embeddings")
      .select(
        col("vec_id"),
        col("embedding"),
        graft.functions.VectorFunctions
          .signBuckets(col("embedding"), seed = EmbSeed, nTables = 1, nBits = EmbBits, dim = EmbDim)
          .getItem(0).as("bucket"),
        norm("embedding").as("nrm"))
      .withColumn("bsize", count(lit(1)).over(Window.partitionBy("bucket")))
    // same quadratic-blowup guard as candidatePairs: degenerate buckets
    // (e.g. many near-zero vectors) stay out of the s^2 mate join; every
    // vector still appears in the output (the mate join is left-joined
    // back), with its honest n_bucket_mates count.
    val capped = base.filter(col("bsize") <= hotBucketCap)
    val a = capped.select(col("vec_id").as("id_a"), col("embedding").as("e_a"),
      col("bucket"), col("nrm").as("n_a"))
    val b = capped.select(col("vec_id").as("id_b"), col("embedding").as("e_b"),
      col("bucket"), col("nrm").as("n_b"))
    val mates = a.join(b, Seq("bucket")).filter(col("id_a") =!= col("id_b"))
      .withColumn("cosine", dotExpr("e_a", "e_b") / (col("n_a") * col("n_b")))
    // best mate per vector via max(struct(...)), NOT a window: the
    // aggregate partial-combines map-side, so the shuffle carries one
    // candidate row per (vec, partition) instead of every mate pair —
    // at 100 TB the mate join's output is the big intermediate here.
    // struct ordering = (cosine desc, id_b asc) via the negated id —
    // same tie-break as the former row_number.
    val best = mates
      .groupBy(col("id_a").as("vec_id"))
      .agg(max(struct(col("cosine"), (-col("id_b")).as("neg_id"))).as("b"))
      .select(col("vec_id"), (-col("b.neg_id")).as("best_mate_id"),
        col("b.cosine").as("best_cosine"))
    base
      .withColumn("n_bucket_mates", (col("bsize") - 1).cast("long"))
      .select("vec_id", "bucket", "n_bucket_mates")
      .join(best, Seq("vec_id"), "left")
      .withColumn("is_dup", coalesce(col("best_cosine") >= 0.95, lit(false)))
  }

  /** Oracle for [[qDedupEmbedding]] — fully hash-checked: the seeded
    * gaussian hyperplanes are INTERPOLATED into the SQL as double
    * literals (the same `scala.util.Random(seed).nextGaussian` stream
    * [[graft.functions.SignBuckets]] materializes; Double.toString
    * round-trips, so the parsed literals are bit-identical), each sign
    * bit's plane·vec dot is the sequential [[sqlDot]]-style fold
    * matching the JVM loop's operation order, and the best-mate pick
    * replays the max(struct(cosine, -id)) tie-break as a window.
    */
  val qDedupEmbeddingSql: String = {
    val r = new scala.util.Random(EmbSeed) // table t = 0, row-major fill
    val flat = Array.fill(EmbBits * EmbDim)(r.nextGaussian())
    def plane(b: Int): String =
      flat.slice(b * EmbDim, (b + 1) * EmbDim).mkString("[", ", ", "]::DOUBLE[]")
    val bucketExpr = (0 until EmbBits).map { b =>
      val dot = s"list_reduce(list_transform(list_zip(${plane(b)}, embedding), " +
        "x -> x[1] * CAST(x[2] AS DOUBLE)), (acc, v) -> acc + v)"
      s"(CASE WHEN $dot > 0 THEN ${1 << b} ELSE 0 END)"
    }.mkString(" + ")
    s"""WITH base AS (
       |  SELECT vec_id, embedding,
       |    CAST($bucketExpr AS INTEGER) AS bucket,
       |    ${sqlNorm("embedding")} AS nrm
       |  FROM embeddings),
       |sized AS (
       |  SELECT *, COUNT(*) OVER (PARTITION BY bucket) AS bsize FROM base),
       |mates AS (
       |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       |    ${sqlDot("a.embedding", "b.embedding")} / (a.nrm * b.nrm) AS cosine
       |  FROM (SELECT * FROM sized WHERE bsize <= $EmbHotCap) a
       |  JOIN (SELECT * FROM sized WHERE bsize <= $EmbHotCap) b
       |    ON a.bucket = b.bucket AND a.vec_id <> b.vec_id),
       |best AS (
       |  SELECT id_a AS vec_id, id_b AS best_mate_id, cosine AS best_cosine
       |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY id_a
       |                    ORDER BY cosine DESC, id_b) AS rn FROM mates)
       |  WHERE rn = 1)
       |SELECT s.vec_id, s.bucket, CAST(s.bsize - 1 AS BIGINT) AS n_bucket_mates,
       |  b.best_mate_id, b.best_cosine,
       |  COALESCE(b.best_cosine >= 0.95, false) AS is_dup
       |FROM sized s LEFT JOIN best b ON s.vec_id = b.vec_id
       |ORDER BY s.vec_id""".stripMargin
  }

  // ------------------------------------------------------------------
  // Row 32: near-dup CLUSTERS — pairs are not decisions. A dedup run
  // consumes "keep doc X, drop Y,Z" verdicts, which requires the
  // transitive closure of the pair graph (A≈B, B≈C ⇒ {A,B,C} even when
  // A-C never surfaced as a candidate).
  // ------------------------------------------------------------------

  /** Connected components of an undirected edge list (id_a, id_b):
    * `(id, comp)` with every node labeled by the minimum id of its
    * component, by [[graft.plans.MinLabel]] to its fixpoint. Near-dup
    * clusters are near-cliques (diameter ~2-3), so a handful of rounds
    * converge; the budget is the seed round plus `maxIter` rounds, a
    * bound on pathological similarity chains.
    *
    * Never returns non-converged labels: they would give one true
    * cluster several cluster_ids and several survivors, a dedup run
    * that keeps duplicates while reporting clean verdicts. It throws
    * instead and the caller decides (raise `maxIter`, or break the
    * chain upstream).
    */
  def connectedComponents(edges: DataFrame, maxIter: Int = 20): DataFrame = {
    val sym = edges.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionByName(edges.select(col("id_b").as("src"), col("id_a").as("dst")))
      .materialized
    val (labels, moved) = graft.plans.MinLabel(sym, maxIter + 1)
    if (moved.last > 0)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds " +
        s"(${moved.last} labels still moving) — graph diameter exceeds maxIter")
    labels.select(col("nd").as("id"), col("lab").as("comp"))
  }

  /** Near-dup dedup DECISIONS over the whole corpus: every document's
    * cluster id (min doc_id of its transitive near-dup group — its own
    * id if it has no near-dups), cluster size, and survivor verdict.
    * Edges come from the word-3-gram MinHash pipeline (row 20).
    */
  def qDedupClusters(s: SparkSession, dir: String): DataFrame = {
    val comps = connectedComponents(qDedupMinhash(s, dir).select("id_a", "id_b"))
    val sizeW = Window.partitionBy("cluster_id")
    docs(s, dir).select(col("doc_id"))
      .join(comps.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("comp"), col("doc_id")))
      .drop("comp")
      .withColumn("cluster_size", count(lit(1)).over(sizeW))
      .withColumn("is_survivor", col("doc_id") === col("cluster_id"))
  }

  /** Corpus dedup executive summary — the one-row report a corpus
    * build publishes after the dedup stage: document count, unique
    * content count, duplicate-row count and rate (fixed-point ppm),
    * and the largest duplicate family. Composed over the SAME
    * normalized-content hash as [[qDedupExact]] (the oracle replays
    * the composition); one partial-aggregated shuffle on the hash,
    * then a grand rollup of the group-sized table.
    */
  def qDupSummary(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(contentMd5(col("text")).as("content_md5"))
      .groupBy(col("content_md5"))
      .agg(count(lit(1)).as("n"))
      .agg(
        sum(col("n")).as("n_docs"),
        count(lit(1)).as("n_unique"),
        (sum(col("n")) - count(lit(1))).as("n_dup_rows"),
        max(col("n")).as("largest_family"),
        sum(when(col("n") > 1, 1L).otherwise(0L)).as("n_dup_families"))
      .withColumn("dup_ppm", expr("(n_dup_rows * 1000000) DIV n_docs"))

  val qDupSummarySql: String =
    """WITH g AS (
      |  SELECT md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS content_md5,
      |         COUNT(*) AS n
      |  FROM documents GROUP BY 1)
      |SELECT CAST(SUM(n) AS BIGINT) AS n_docs,
      |  COUNT(*) AS n_unique,
      |  CAST(SUM(n) - COUNT(*) AS BIGINT) AS n_dup_rows,
      |  CAST(MAX(n) AS BIGINT) AS largest_family,
      |  CAST(COALESCE(SUM(CASE WHEN n > 1 THEN 1 END), 0) AS BIGINT) AS n_dup_families,
      |  (CAST(SUM(n) - COUNT(*) AS BIGINT) * 1000000) // CAST(SUM(n) AS BIGINT) AS dup_ppm
      |FROM g""".stripMargin

  /** Per-source duplicate attribution — the crawl-triage cut of
    * [[qDupSummary]]: which SOURCE manufactures the duplicate rows,
    * and whether it duplicates ITSELF or re-hosts other sources'
    * content (`n_cross_source_dups` — dup rows whose min-id survivor
    * lives under a different source). Verdicts are the GLOBAL
    * exact-dedup family (same [[contentMd5]] key), so a mirror site
    * reads as high-dup even when internally unique — the evidence for
    * dropping a SOURCE rather than deduping it doc by doc (companion
    * to `q_source_quality`, which cuts the quality verdicts the same
    * way).
    *
    * Shape at scale: the survivor AND its source come from one
    * min(struct(doc_id, source)) window riding the single content-hash
    * exchange — no self-join to fetch the survivor's source; the
    * rollup is |sources|-sized.
    */
  def qDupSource(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("content_md5")
    docs(s, dir)
      .select(col("doc_id"), col("source"), contentMd5(col("text")).as("content_md5"))
      .withColumn("sv", min(struct(col("doc_id"), col("source"))).over(w))
      .select(col("doc_id"), col("source"), col("content_md5"),
        col("sv.doc_id").as("survivor_id"), col("sv.source").as("survivor_source"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("doc_id") =!= col("survivor_id"), 1L).otherwise(0L))
          .as("n_dup_rows"),
        sum(when(col("doc_id") =!= col("survivor_id") &&
            col("survivor_source") =!= col("source"), 1L).otherwise(0L))
          .as("n_cross_source_dups"),
        countDistinct(col("content_md5")).as("n_distinct_hashes"))
      .withColumn("dup_ppm", expr("(n_dup_rows * 1000000) DIV n_docs"))
  }

  /** Source→source duplication-flow matrix — the "who copies from
    * whom" report [[qDupSource]]'s per-source totals can't answer: for
    * every (family survivor's source → family member's source) pair,
    * the member count and the number of distinct families involved.
    * Families are the [[prefixMd5]] boilerplate key (shared headers —
    * the syndication signal; the full-content key degenerates to
    * near-empty matrices until the corpus actually mirrors whole
    * docs). Diagonal cells are WITHIN-source boilerplate; off-diagonal
    * cells are syndication direction — the evidence behind dropping a
    * mirror feed instead of paying dedup for it forever. Survivor rule
    * is min (doc_id, source), so the matrix reconciles exactly with
    * [[qPrefixDedup]]'s is_prefix_dup census (InvariantSpec pins it).
    *
    * Shape at scale: the SAME single prefix-hash window shuffle as
    * qPrefixDedup (family-bounded partitions), then a
    * partial-aggregated rollup into the |sources|²-bounded matrix.
    */
  def qDupFlow(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("prefix_md5")
    docs(s, dir)
      .select(col("doc_id"), col("source"), prefixMd5(col("text")).as("prefix_md5"))
      .withColumn("sv", min(struct(col("doc_id"), col("source"))).over(w))
      .filter(col("doc_id") =!= col("sv.doc_id"))
      .groupBy(col("sv.source").as("from_source"), col("source").as("to_source"))
      .agg(
        count(lit(1)).as("n_dups"),
        countDistinct(col("prefix_md5")).as("n_families"))
  }

  val qDupFlowSql: String =
    s"""WITH p AS (
       |  SELECT doc_id, source,
       |    md5(array_to_string(
       |      (list_filter(string_split(regexp_replace(lower(text), '\\s+', ' ', 'g'), ' '),
       |        w -> len(w) > 0))[1:$PrefixWords],
       |      ' ')) AS prefix_md5
       |  FROM documents),
       |w AS (
       |  SELECT doc_id, source, prefix_md5,
       |    MIN(doc_id) OVER (PARTITION BY prefix_md5) AS survivor_id,
       |    FIRST_VALUE(source) OVER (PARTITION BY prefix_md5 ORDER BY doc_id)
       |      AS survivor_source
       |  FROM p)
       |SELECT survivor_source AS from_source, source AS to_source,
       |  COUNT(*) AS n_dups, COUNT(DISTINCT prefix_md5) AS n_families
       |FROM w WHERE doc_id <> survivor_id
       |GROUP BY survivor_source, source
       |ORDER BY from_source, to_source""".stripMargin

  val qDupSourceSql: String =
    """WITH v AS (
      |  SELECT doc_id, source,
      |    md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS content_md5
      |  FROM documents),
      |w AS (
      |  SELECT doc_id, source, content_md5,
      |    MIN(doc_id) OVER (PARTITION BY content_md5) AS survivor_id,
      |    FIRST_VALUE(source) OVER (PARTITION BY content_md5 ORDER BY doc_id)
      |      AS survivor_source
      |  FROM v)
      |SELECT source, COUNT(*) AS n_docs,
      |  CAST(SUM(CASE WHEN doc_id <> survivor_id THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_dup_rows,
      |  CAST(SUM(CASE WHEN doc_id <> survivor_id AND survivor_source <> source
      |                THEN 1 ELSE 0 END) AS BIGINT) AS n_cross_source_dups,
      |  COUNT(DISTINCT content_md5) AS n_distinct_hashes,
      |  (CAST(SUM(CASE WHEN doc_id <> survivor_id THEN 1 ELSE 0 END) AS BIGINT)
      |    * 1000000) // COUNT(*) AS dup_ppm
      |FROM w GROUP BY source
      |ORDER BY source""".stripMargin

  private val RareDfCap = 20L
  private val MinRareHooks = 2L
  private val ContainThreshold = 0.8

  /** Containment dedup — the ASYMMETRIC near-dup family member:
    * |A∩B| / min(|A|,|B|) ≥ [[ContainThreshold]] flags a document
    * substantially CONTAINED in another (quote extraction, chunked
    * re-posts, boilerplate wrappers). MinHash banding cannot surface
    * these candidates — its collision probability tracks symmetric
    * Jaccard, and a short doc inside a long one has LOW Jaccard by
    * construction — so candidates come from a RARE-SHINGLE inverted
    * join instead: pairs sharing any word-3-gram with corpus
    * df ∈ [2, [[RareDfCap]]]. A contained doc shares ALL its shingles
    * with its container, so any of its rare shingles is a candidate
    * hook; only a doc made entirely of corpus-boilerplate shingles
    * escapes, and its containment verdict is meaningless anyway.
    * Shingle df is counted over DISTINCT texts (r16 — the
    * [[Canonical]] rule), so the hook set — and with it candidate
    * RECALL — is independent of exact-duplicate depth: an m-deep
    * crawl family no longer multiplies its shingles' df by m.
    *
    * Shape at scale: the inverted join (over distinct texts only)
    * shuffles on the shingle hash; the df cap bounds pair fan-out at
    * Σ df² ≤ cap·|instances| — LINEAR in the corpus, never quadratic
    * (the df filter is also the hot-shingle guard: boilerplate
    * shingles are exactly the ones dropped). Candidates must share ≥ [[MinRareHooks]] rare shingles
    * before the verify join sees them: a contained doc shares nearly
    * ALL its shingles with its container, so the bar costs no recall,
    * while single-shingle coincidences — the bulk of the raw pair
    * stream — die in the count aggregate (which replaces the
    * distinct: same shuffle, strictly less verify work; measured 2.6
    * → 2.2 s at sf0.1, identical output pairs). Verify is the
    * allocation-free
    * [[graft.functions.SortedOverlap]] merge on the sorted sets.
    */
  def qDedupContainment(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.WordNgramHashes
    // Canonicalized over DISTINCT texts (r16 #1 — the last banded
    // shelf whose candidate rule depended on exact-dup depth). The
    // rare-hook rule is REDEFINED on the canonical group table: a
    // shingle is a hook iff its df over DISTINCT texts is in
    // [2, RareDfCap]. Under the old per-document rule, an m-deep
    // verbatim family multiplied every one of its shingles' df by m,
    // pushing genuinely-rare hooks over the cap — candidate RECALL at
    // 100 TB decayed with crawl-dup depth, the exact failure the r15
    // canonicalization removed from every other shelf (DedupSpec pins
    // depth-independence with planted families). Within-group pairs
    // (identical texts) are emitted directly at containment 1.0 with
    // inter = n_a = n_b = the set size — no hook requirement: a
    // verbatim copy is the strongest containment there is, and the
    // old rule's silence on hook-free identical texts was an artifact
    // of counting them into the df. The oracle shares the distinct-
    // text rule (same commit — see [[qDedupContainmentSql]]).
    val keyed = docs(s, dir).select(col("doc_id"), col("text"),
      unhex(md5(col("text"))).as("tkey"))
    // materialized: the group table feeds the shingle pass AND the
    // membership join (the textCanonicalPairs checkpoint rationale)
    val grp = Canonical.groups(keyed, "doc_id", Seq("tkey")).materialized
    // shingle sets over representatives only — feeds the inverted
    // index AND both verify sides, so the signature expression runs
    // ONE pass over distinct texts
    val sets = grp
      .select(col("gid").as("doc_id"), WordNgramHashes.column(col("text"), 3).as("sh"))
      .materialized
    val inv = sets.select(col("doc_id"), explode(col("sh")).as("g"))
    val rare = inv.groupBy(col("g")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2 && col("df") <= RareDfCap)
      .select(col("g"))
    val hooked = inv.join(rare, "g")
    val cand = hooked.alias("a")
      .join(hooked.alias("b"),
        col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("ga"), col("b.doc_id").as("gb"))
      .groupBy(col("ga"), col("gb"))
      .agg(count(lit(1)).as("n_hooks"))
      .filter(col("n_hooks") >= MinRareHooks)
      .select(col("ga"), col("gb"))
    val vg = cand
      .join(sets.select(col("doc_id").as("ga"), col("sh").as("sh_a")), "ga")
      .join(sets.select(col("doc_id").as("gb"), col("sh").as("sh_b")), "gb")
      .select(col("ga"), col("gb"),
        graft.functions.SortedOverlap.column(col("sh_a"), col("sh_b")).as("inter"),
        least(size(col("sh_a")), size(col("sh_b"))).as("mn"))
      .withColumn("containment", col("inter").cast("double") / col("mn"))
      .filter(col("containment") >= ContainThreshold)
      .drop("mn")
    // per-doc set size (n_a/n_b are SIDE-specific, so they attach
    // after the least/greatest orientation, not through the pair
    // payload): distinct-text sized, expanded through the membership.
    // Materialized (28 B/doc) — six consumers (pair expansion ×4 +
    // the two n_a/n_b attaches) would otherwise each re-scan the
    // corpus text for the md5 key.
    val sz = Canonical.members(keyed.select(col("tkey"), col("doc_id")), grp, Seq("tkey"))
      .join(sets.select(col("doc_id").as("gid"), size(col("sh")).cast("long").as("nsh")),
        "gid")
      .select(col("doc_id"), col("gid"), col("nsh"))
      .materialized
    val pairs = Canonical.expandPairs(
      vg, sz, "doc_id", "id_a", "id_b",
      Seq("inter", "containment"), Seq(col("x.nsh"), lit(1.0)))
    pairs
      .join(sz.select(col("doc_id").as("id_a"), col("nsh").as("n_a")), "id_a")
      .join(sz.select(col("doc_id").as("id_b"), col("nsh").as("n_b")), "id_b")
      .select(col("id_a"), col("id_b"), col("inter"), col("n_a"), col("n_b"),
        col("containment"))
  }

  // ------------------------------------------------------------------
  // Persisted near-dup signature index: build once over the corpus,
  // dedup every new increment against it WITHOUT touching raw corpus
  // text again — the serving contract of dedup at 100 TB (the batch
  // self-dedup queries above are the corpus-vs-corpus reconciliation
  // job; this is the corpus-vs-arrivals fast path). Same contract
  // shape as [[Ann.buildIvfIndex]]/[[Ann.ivfServe]].
  // ------------------------------------------------------------------

  private[graft] val IdxNgram = 3
  private[graft] val IdxK = 64
  private[graft] val IdxBands = 16
  private[graft] val IdxRows = 4
  private[graft] val IdxSeed = 0x5EED0001L
  private val IdxThreshold = 0.6

  /** Build the signature index: one map-only pass over the corpus
    * computing the word-[[IdxNgram]]-gram MinHash signature and sorted
    * shingle-hash set per doc, persisted as three parquet tables —
    * `sig` (doc_id, sig_arr, sh), `bands` (doc_id, band, bucket) and
    * `md5` (doc_id, content_md5 — the exact tier: a verbatim copy of a
    * SHORT indexed doc can fall below the shingle floor where Jaccard
    * is blind, so exact identity gets its own unconditional probe).
    * Zero shuffles in the build; the tables are re-read by every
    * increment, so the signature cost is paid ONCE per corpus doc,
    * ever. The root is published through [[Publish]], so the three
    * tables change together and a rebuild retires every appended
    * batch.
    */
  private[graft] def buildDedupIndex(s: SparkSession, dir: String, path: String): Unit =
    Publish(s, path)(buildDedupIndexFrom(docs(s, dir), _))

  /** Write the three index tables of an arbitrary (doc_id, text) frame
    * into `dst`, the staging directory of a publish of an index root
    * or batch ([[buildDedupIndex]], [[appendDedupIndex]], and
    * [[CorpusBuild]], which indexes the PUBLISHED shards).
    */
  private[graft] def buildDedupIndexFrom(docsDf: DataFrame, dst: String): Unit = {
    import graft.functions.{WordNgramMinHash, WordNgramHashes}
    val sig = docsDf.select(
      col("doc_id"),
      WordNgramMinHash.column(col("text"), IdxNgram, IdxK, IdxSeed).as("sig_arr"),
      WordNgramHashes.column(col("text"), IdxNgram).as("sh"))
    sigBandRows(sig.select(col("doc_id"), col("sig_arr")), IdxBands, IdxRows)
      .write.parquet(s"$dst/bands")
    docsDf.select(col("doc_id"), contentMd5(col("text")).as("content_md5"))
      .write.parquet(s"$dst/md5")
    sig.write.parquet(s"$dst/sig")
  }

  /** Columns of the index tables [[buildDedupIndexFrom]] writes, by
    * table name; [[readDedupIndex]] reads them under these. */
  private val DedupIndexDdl = Map(
    "sig" -> "doc_id BIGINT, sig_arr ARRAY<BIGINT>, sh ARRAY<BIGINT>",
    "bands" -> "doc_id BIGINT, band INT, bucket BIGINT",
    "md5" -> "doc_id BIGINT, content_md5 STRING")

  /** Index `table` across the root at `path` and its committed batches. */
  private[graft] def readDedupIndex(s: SparkSession, path: String, table: String): DataFrame =
    Publish.readRoots(s, Publish.roots(s, path), table, DedupIndexDdl(table))

  /** Publish an accepted increment's signatures as batch `id` of the
    * index at `path`, so the NEXT increment dedups against them too.
    * `id` is the smallest doc_id the increment indexes: under the
    * in-order arrival contract doc ids are disjoint across increments,
    * so a replay re-publishes the same batch instead of adding rows.
    */
  private[graft] def appendDedupIndex(docsDf: DataFrame, path: String, id: Long): Unit =
    Publish(docsDf.sparkSession, Publish.batchOf(path, id))(buildDedupIndexFrom(docsDf, _))

  /** Rows above which [[incrementalDedup]] stops FORCING broadcast of
    * the increment-derived probe tables (session config
    * `spark.graft.dedup.broadcastIncrementMaxRows`). A hinted
    * broadcast is honored unconditionally — AQE never demotes it — so
    * an unbounded hint turns a huge increment into an executor OOM
    * instead of a slower shuffle. Under the cap the serve plan is
    * GUARANTEED map-only over the index; over it the hints are
    * dropped and Catalyst/AQE pick the join strategy from actual
    * sizes.
    */
  private val IdxBroadcastMaxRowsKey = "spark.graft.dedup.broadcastIncrementMaxRows"
  private val IdxBroadcastMaxRowsDefault = 4L * 1000 * 1000

  /** Dedup an increment of new documents against the persisted index:
    * per new doc, whether any indexed doc exceeds Jaccard
    * [[IdxThreshold]], the best-matching survivor and its similarity.
    *
    * Shape at scale — the increment is assumed ≪ the corpus, and every
    * corpus-sized operation is a MAP-ONLY scan probed by a broadcast:
    * (1) the new docs' band rows BROADCAST against the index band
    * table (no index shuffle, no self-join — candidates are
    * new×corpus only); (2) the candidate list (increment-sized ×
    * collision rate) broadcasts back against the index `sig` table to
    * fetch corpus shingle sets; (3) the verify join against the new
    * docs' sets is increment-sized. The corpus moves ZERO times; at
    * 10^9 indexed docs the serve cost is two index scans. The
    * broadcast hints are GATED on the materialized increment's row
    * count ([[IdxBroadcastMaxRowsKey]]): a huge increment degrades to
    * AQE-chosen shuffled probe joins instead of an un-demotable
    * broadcast blowing executor memory — still no signature
    * recompute. A boilerplate-degenerate index bucket contributes
    * (bucket size) candidates per colliding new doc — linear in the
    * bucket, never quadratic, so the self-join hot-bucket salt is not
    * needed here.
    */
  /** @param beforeId when set, indexed docs with id ≥ the bound are
    *   invisible to the probe (band rows filtered before the
    *   candidate join) — the idempotence device of
    *   [[graft.operators.CorpusBuild.incrementVerdicts]] under
    *   at-least-once batch re-delivery.
    */
  private[graft] def incrementalDedup(
      s: SparkSession, path: String, newDocs: DataFrame,
      beforeId: Option[Long] = None): DataFrame = {
    import graft.functions.{WordNgramMinHash, WordNgramHashes}
    // materialized: the signature pass feeds both the band probe and
    // the verify join — one pass per arriving doc, and the exact row
    // count below is a metadata read off the materialization.
    val nsig = newDocs.select(
      col("doc_id"),
      WordNgramMinHash.column(col("text"), IdxNgram, IdxK, IdxSeed).as("sig_arr"),
      WordNgramHashes.column(col("text"), IdxNgram).as("sh")).materialized
    val maxRows = s.conf.getOption(IdxBroadcastMaxRowsKey)
      .map(_.toLong).getOrElse(IdxBroadcastMaxRowsDefault)
    val forceBroadcast = nsig.count() <= maxRows
    def probe(df: DataFrame): DataFrame = if (forceBroadcast) broadcast(df) else df
    val nBands = sigBandRows(nsig.select(col("doc_id"), col("sig_arr")), IdxBands, IdxRows)
      .select(col("doc_id").as("id_new"), col("band"), col("bucket"))
    val idxBandsAll = readDedupIndex(s, path, "bands")
    val idxBands = beforeId
      .map(b => idxBandsAll.filter(col("doc_id") < b)).getOrElse(idxBandsAll)
    val cand = idxBands
      .join(probe(nBands), Seq("band", "bucket"))
      .select(col("doc_id").as("id_old"), col("id_new"))
      .distinct()
    val idxSig = readDedupIndex(s, path, "sig")
    val verified = idxSig
      .join(probe(cand), idxSig("doc_id") === cand("id_old"))
      .join(probe(nsig.select(col("doc_id").as("id_new"), col("sh").as("sh_new"))),
        "id_new")
      .withColumn("jaccard",
        graft.functions.SortedJaccard.column(col("sh"), col("sh_new")))
      .filter(col("jaccard") >= IdxThreshold)
      .groupBy(col("id_new"))
      .agg(
        // dup_of IS the best match (ties to the smaller id): max_by on
        // (jaccard, -id) keeps the reported similarity and the
        // reported survivor coherent — min(id)+max(jaccard) aggregated
        // independently could name one doc with another doc's score.
        max_by(col("id_old"), struct(col("jaccard"), (-col("id_old")).as("inv")))
          .as("dup_of"),
        max(col("jaccard")).as("best_jaccard"))
    newDocs.select(col("doc_id"))
      .join(verified.withColumnRenamed("id_new", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"), col("dup_of").isNotNull.as("is_dup"),
        col("dup_of"), col("best_jaccard"))
  }

  // ------------------------------------------------------------------
  // Banded-family oracles: the FULL signature pipelines re-expressed in
  // DuckDB SQL via [[OracleEmul]]'s HUGEINT wrapping-arithmetic
  // emulation of the JVM kernels — bit-exact, so the whole near-dup
  // family is hash-checked, not rows-only. One approximation is NOT
  // emulated: the Spark plan's band bucket is xxhash64(slice, band)
  // while the oracle joins on slice equality directly — they differ
  // only on a 2^-64 hash collision (none on this corpus), and the
  // hot-bucket salt guard is inert below its cap (DedupSpec pins
  // max bucket size ≤ cap at both oracle scales).
  // ------------------------------------------------------------------

  /** Shared word-3-gram CTE prefix: docs → word hashes → features. */
  private def wordFeatCtes: String =
    s"""d AS (SELECT doc_id, text FROM documents),
       |w AS (SELECT doc_id, ${OracleEmul.wordHashes("text")} AS wh FROM d),
       |f AS (SELECT doc_id, ${OracleEmul.features("wh", IdxNgram)} AS feats FROM w)""".stripMargin

  /** Word-minhash pipeline through verified candidate pairs —
    * shared by [[qDedupMinhashSql]] and [[qDedupClustersSql]].
    */
  private def minhashPipelineCtes: String =
    s"""$wordFeatCtes,
       |fp AS MATERIALIZED (SELECT doc_id,
       |  list_transform(feats, f0 -> ${OracleEmul.floorMod("f0", "fm", "2147483647")}) AS fmod,
       |  ${OracleEmul.hashSet("feats")} AS sh FROM f),
       |s AS MATERIALIZED (SELECT doc_id, sh,
       |  ${OracleEmul.minhashSig("fmod", IdxSeed, IdxK)} AS sig FROM fp),
       |${OracleEmul.bandCandCtes("", "s", IdxBands, IdxRows)},
       |pairs AS (SELECT id_a, id_b, ${OracleEmul.jaccard("sa.sh", "sb.sh")} AS jaccard
       |  FROM cand JOIN s sa ON cand.id_a = sa.doc_id
       |  JOIN s sb ON cand.id_b = sb.doc_id)""".stripMargin

  /** Order-free oracle body — see [[qDedupExactBody]]. */
  private[graft] val qDedupMinhashBody: String =
    s"""WITH $minhashPipelineCtes
       |SELECT id_a, id_b, jaccard FROM pairs WHERE jaccard >= $IdxThreshold""".stripMargin

  val qDedupMinhashSql: String = qDedupMinhashBody + "\nORDER BY id_a, id_b"

  /** Components oracle: the recursive CTE propagates every reachable
    * label and the aggregate keeps the min — the FIXPOINT
    * [[connectedComponents]] iterates to (it throws rather than return
    * a non-converged labeling, so fixpoint equality is total).
    */
  val qDedupClustersSql: String =
    s"""WITH RECURSIVE $minhashPipelineCtes,
       |edges AS MATERIALIZED (SELECT id_a, id_b FROM pairs WHERE jaccard >= $IdxThreshold),
       |sym AS (SELECT id_a AS src, id_b AS dst FROM edges
       |        UNION ALL SELECT id_b, id_a FROM edges),
       |reach AS (SELECT src AS id, src AS lab FROM sym
       |          UNION SELECT e.src, r.lab FROM sym e JOIN reach r ON e.dst = r.id),
       |comp AS (SELECT id, min(lab) AS comp FROM reach GROUP BY id),
       |labeled AS (SELECT dd.doc_id, coalesce(c.comp, dd.doc_id) AS cluster_id
       |  FROM d dd LEFT JOIN comp c ON dd.doc_id = c.id)
       |SELECT doc_id, cluster_id,
       |  count(*) OVER (PARTITION BY cluster_id) AS cluster_size,
       |  doc_id = cluster_id AS is_survivor
       |FROM labeled ORDER BY doc_id""".stripMargin

  /** SimHash oracle: per-bit majority over the multiset feature
    * stream, byte-band candidates, popcount hamming — the banding is
    * exact (byte extraction, no hashed bucket), so nothing here is
    * even collision-approximate.
    */
  val qDedupSimhashSql: String =
    s"""WITH $wordFeatCtes,
       |s AS MATERIALIZED (SELECT doc_id,
       |  list_aggregate(list_transform(range(64), bk ->
       |    list_transform([(1::HUGEINT << bk)], shv ->
       |      CASE WHEN 2*length(list_filter(feats, ff -> (ff // shv) % 2 = 1)) > length(feats)
       |           THEN shv ELSE 0::HUGEINT END)[1]), 'sum') AS sig
       |  FROM f),
       |bnd AS (SELECT doc_id, sig, j, (sig // (1::HUGEINT << (j*8))) % 256 AS bucket
       |  FROM s, range(8) t(j)),
       |p AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       |    CAST(bit_count(xor(a.sig, b.sig)) AS INTEGER) AS hamming
       |  FROM bnd a JOIN bnd b ON a.j = b.j AND a.bucket = b.bucket AND a.doc_id < b.doc_id)
       |SELECT id_a, id_b, hamming FROM p WHERE hamming <= 7 ORDER BY id_a, id_b""".stripMargin

  /** Oracle for [[qDedupContainment]] — the r16 DISTINCT-text rule,
    * redefined in the same commit as the query: shingle df and the
    * rare-hook candidate join run over the canonical text groups
    * (min-doc representatives), within-group pairs emit directly at
    * containment 1.0 with inter = n = the set size, and cross-group
    * member pairs inherit their representative pair's measure with
    * side-correct n_a/n_b.
    */
  val qDedupContainmentSql: String =
    s"""WITH d AS (SELECT doc_id, text FROM documents),
       |grp AS MATERIALIZED (SELECT min(doc_id) AS gid, text FROM d GROUP BY text),
       |w AS (SELECT gid AS doc_id, ${OracleEmul.wordHashes("text")} AS wh FROM grp),
       |f AS (SELECT doc_id, ${OracleEmul.features("wh", IdxNgram)} AS feats FROM w),
       |st AS MATERIALIZED (SELECT doc_id, ${OracleEmul.hashSet("feats")} AS sh FROM f),
       |inv AS (SELECT doc_id, unnest(sh) AS g FROM st),
       |rare AS (SELECT g FROM inv GROUP BY g HAVING count(*) >= 2 AND count(*) <= $RareDfCap),
       |hooked AS (SELECT i.doc_id, i.g FROM inv i JOIN rare r ON i.g = r.g),
       |cand AS (SELECT a.doc_id AS ga, b.doc_id AS gb
       |  FROM hooked a JOIN hooked b ON a.g = b.g AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2 HAVING count(*) >= $MinRareHooks),
       |v AS (SELECT ga, gb,
       |    CAST(length(list_intersect(sa.sh, sb.sh)) AS BIGINT) AS inter,
       |    least(CAST(length(sa.sh) AS BIGINT), CAST(length(sb.sh) AS BIGINT)) AS mn
       |  FROM cand JOIN st sa ON cand.ga = sa.doc_id JOIN st sb ON cand.gb = sb.doc_id),
       |vf AS (SELECT ga, gb, inter, CAST(inter AS DOUBLE) / mn AS containment
       |  FROM v WHERE CAST(inter AS DOUBLE) / mn >= $ContainThreshold),
       |mem AS (SELECT g2.gid, d2.doc_id FROM d d2 JOIN grp g2 ON d2.text = g2.text),
       |sz AS (SELECT m2.doc_id, CAST(length(st.sh) AS BIGINT) AS nsh
       |  FROM mem m2 JOIN st ON m2.gid = st.doc_id),
       |cx AS (SELECT least(ma.doc_id, mb.doc_id) AS id_a,
       |    greatest(ma.doc_id, mb.doc_id) AS id_b, inter, containment
       |  FROM vf JOIN mem ma ON vf.ga = ma.gid JOIN mem mb ON vf.gb = mb.gid),
       |wi AS (SELECT x.doc_id AS id_a, y.doc_id AS id_b, sx.nsh AS inter,
       |    CAST(1.0 AS DOUBLE) AS containment
       |  FROM mem x JOIN mem y ON x.gid = y.gid AND x.doc_id < y.doc_id
       |  JOIN sz sx ON x.doc_id = sx.doc_id),
       |allp AS (SELECT * FROM cx UNION ALL SELECT * FROM wi)
       |SELECT id_a, id_b, inter, sa2.nsh AS n_a, sb2.nsh AS n_b, containment
       |FROM allp JOIN sz sa2 ON allp.id_a = sa2.doc_id
       |  JOIN sz sb2 ON allp.id_b = sb2.doc_id
       |ORDER BY id_a, id_b""".stripMargin

  /** Char-6-gram oracle: window hashes stay mod P at every step
    * (no wrapping emulation needed), and the minhash PRE-FILTER —
    * slot agreement ≥ threshold-0.25 — is reproduced exactly, since
    * a borderline true pair dropped by the estimate must be dropped
    * by the oracle too.
    */
  val qNgramJaccardSql: String =
    s"""WITH d AS (SELECT doc_id, text FROM documents),
       |cd AS (SELECT doc_id,
       |  list_transform(list_filter(string_split_regex(text, ''), c0 -> c0 <> ''),
       |    c1 -> CAST(unicode(c1) AS BIGINT)) AS codes FROM d),
       |f AS (SELECT doc_id,
       |  list_transform(range(greatest(length(codes) - 5, 1)), wi ->
       |    list_reduce(list_prepend(0::BIGINT, codes[wi+1:least(wi+6, length(codes))]),
       |      (ha, hb) -> (ha * 31 + hb) % 2147483647)) AS feats FROM cd),
       |s AS MATERIALIZED (SELECT doc_id, list_distinct(feats) AS sh,
       |  ${OracleEmul.minhashSig("feats", 0x5EED0002L, 64)} AS sig FROM f),
       |${OracleEmul.bandCandCtes("", "s", 16, 4)},
       |pref AS (SELECT id_a, id_b FROM cand
       |  JOIN s pa ON cand.id_a = pa.doc_id JOIN s pb ON cand.id_b = pb.doc_id
       |  WHERE CAST(length(list_filter(range(64), tt -> pa.sig[tt+1] = pb.sig[tt+1])) AS DOUBLE) / 64
       |        >= ${0.6 - 0.25}),
       |v AS (SELECT id_a, id_b, ${OracleEmul.jaccard("sa.sh", "sb.sh")} AS jaccard
       |  FROM pref JOIN s sa ON pref.id_a = sa.doc_id JOIN s sb ON pref.id_b = sb.doc_id)
       |SELECT id_a, id_b, jaccard FROM v WHERE jaccard >= 0.6 ORDER BY id_a, id_b""".stripMargin

  /** MinHash estimator-quality audit — the dedup sibling of
    * [[Ann.qQuantRecall]]: for every banded candidate pair, the k-slot
    * signature agreement (the estimate LSH banding and the verify
    * pre-filter act on) side by side with the TRUE shingle-set
    * Jaccard, and the signed error between them. This is the monitor
    * that validates k=64 / the 0.25 pre-filter margin on a real
    * corpus before a 100 TB dedup commits to them — estimator drift
    * (short docs, skewed shingle distributions) shows up here first.
    *
    * Fully hash-checked: slot agreement is an integer match count and
    * both similarities are integer basis points via integral DIV
    * (true Jaccard as inter·10⁴ DIV union from the allocation-free
    * [[graft.functions.SortedOverlap]] merge — no IEEE division
    * anywhere), so the audit rides the same HUGEINT splitmix oracle
    * emulation as q_dedup_minhash.
    *
    * Shape at scale: identical to [[qDedupMinhash]]'s candidate step
    * (banded equi self-join, hot buckets salt-split) plus the four
    * model-column joins the verify step already pays — the audit adds
    * zero new corpus passes over running the dedup itself.
    */
  def qMinhashError(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.{WordNgramMinHash, WordNgramHashes}
    val (n, k, bands, rows) = (3, 64, 16, 4)
    val d = docs(s, dir)
    val sig = d.select(col("doc_id"),
      WordNgramMinHash.column(col("text"), n, k, seed = 0x5EED0001L).as("sig_arr"))
    val sets = d.select(col("doc_id"), WordNgramHashes.column(col("text"), n).as("sh"))
    candidatePairs(sigBandRows(sig, bands, rows))
      .join(sig.select(col("doc_id").as("id_a"), col("sig_arr").as("sig_a")), "id_a")
      .join(sig.select(col("doc_id").as("id_b"), col("sig_arr").as("sig_b")), "id_b")
      .join(sets.select(col("doc_id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(sets.select(col("doc_id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        expr("CAST(size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y), v -> v)) AS BIGINT)")
          .as("slot_matches"),
        graft.functions.SortedOverlap.column(col("sh_a"), col("sh_b")).as("inter"),
        expr("CAST(size(sh_a) + size(sh_b) AS BIGINT)").as("szsum"))
      .select(col("id_a"), col("id_b"), col("slot_matches"),
        expr(s"(slot_matches * 10000) DIV $k").as("est_bp"),
        expr("(inter * 10000) DIV greatest(szsum - inter, 1)").as("jac_bp"))
      .withColumn("err_bp", col("est_bp") - col("jac_bp"))
  }

  /** docs → features → mod-P features + verify set → k-slot signature
    * CTE prefix (fp, s) — shared by [[qMinhashErrorSql]] and
    * [[qLshBucketStatsSql]], the same emulated model both audits read.
    */
  private def sigCtes: String =
    s"""$wordFeatCtes,
       |fp AS MATERIALIZED (SELECT doc_id,
       |  list_transform(feats, f0 -> ${OracleEmul.floorMod("f0", "fm", "2147483647")}) AS fmod,
       |  ${OracleEmul.hashSet("feats")} AS sh FROM f),
       |s AS MATERIALIZED (SELECT doc_id, sh,
       |  ${OracleEmul.minhashSig("fmod", IdxSeed, IdxK)} AS sig FROM fp)""".stripMargin

  val qMinhashErrorSql: String =
    s"""WITH $sigCtes,
       |${OracleEmul.bandCandCtes("", "s", IdxBands, IdxRows)},
       |m AS (SELECT id_a, id_b,
       |    CAST(length(list_filter(range($IdxK), tt -> sa.sig[tt+1] = sb.sig[tt+1])) AS BIGINT)
       |      AS slot_matches,
       |    CAST(length(list_intersect(sa.sh, sb.sh)) AS BIGINT) AS inter,
       |    CAST(length(sa.sh) + length(sb.sh) AS BIGINT) AS szsum
       |  FROM cand JOIN s sa ON cand.id_a = sa.doc_id
       |  JOIN s sb ON cand.id_b = sb.doc_id)
       |SELECT id_a, id_b, slot_matches,
       |  (slot_matches * 10000) // $IdxK AS est_bp,
       |  (inter * 10000) // greatest(szsum - inter, 1) AS jac_bp,
       |  (slot_matches * 10000) // $IdxK
       |    - (inter * 10000) // greatest(szsum - inter, 1) AS err_bp
       |FROM m ORDER BY id_a, id_b""".stripMargin

  /** LSH band-table load-balance audit: per band, the bucket census of
    * the index-constant signature banding — bucket count, member rows,
    * max bucket size, singleton count (docs with no collision partner
    * in that band), and the candidate-pair mass Σ s·(s-1)/2 the band
    * contributes to the equi-join. This is the capacity-planning view
    * of the SAME (band, bucket) table [[qDedupMinhash]] self-joins and
    * the persisted index serves: before a 100 TB dedup run, max_size
    * vs the salt cap says whether the hot-bucket guard will engage,
    * and cand_pairs per band is the join's work estimate — the skew
    * report specialized to the near-dup family's first shuffle.
    *
    * Output is band-keyed ([[IdxBands]] rows). All columns are exact
    * integers. The oracle groups by the signature SLICE where the
    * plan groups by xxhash64(slice, band) — equivalent short of a
    * 2^-64 bucket collision, the standing adjudicated device of the
    * whole banded family (DedupSpec pins the precondition).
    *
    * Shape at scale: one map-only signature pass, one (band, bucket)
    * aggregate, one band-keyed rollup — strictly cheaper than the
    * candidate join it sizes.
    */
  def qLshBucketStats(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.WordNgramMinHash
    val sig = docs(s, dir).select(col("doc_id"),
      WordNgramMinHash.column(col("text"), IdxNgram, IdxK, IdxSeed).as("sig_arr"))
    sigBandRows(sig, IdxBands, IdxRows)
      .groupBy(col("band"), col("bucket")).agg(count(lit(1)).as("sz"))
      .groupBy(col("band"))
      .agg(
        count(lit(1)).as("n_buckets"),
        sum(col("sz")).as("n_docs"),
        max(col("sz")).as("max_size"),
        sum(when(col("sz") === 1, 1L).otherwise(0L)).as("n_singletons"),
        sum(expr("sz * (sz - 1) DIV 2")).as("cand_pairs"))
      .orderBy(col("band"))
  }

  val qLshBucketStatsSql: String =
    s"""WITH $sigCtes,
       |bnd AS (SELECT doc_id, j, sig[j*$IdxRows+1:j*$IdxRows+$IdxRows] AS slice
       |  FROM s, range($IdxBands) t(j)),
       |bk AS (SELECT j, slice, count(*) AS sz FROM bnd GROUP BY j, slice)
       |SELECT CAST(j AS INT) AS band,
       |  CAST(count(*) AS BIGINT) AS n_buckets,
       |  CAST(SUM(sz) AS BIGINT) AS n_docs,
       |  CAST(MAX(sz) AS BIGINT) AS max_size,
       |  CAST(SUM(CASE WHEN sz = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_singletons,
       |  CAST(SUM(sz * (sz - 1) // 2) AS BIGINT) AS cand_pairs
       |FROM bk GROUP BY j ORDER BY band""".stripMargin

  // The banding frontier: every (bands, rows) factorization of the
  // IdxK=64 signature from "4 coarse bands of 16 rows" (high
  // precision, low recall) to "32 fine bands of 2 rows" (high recall,
  // candidate blowup). The deployed (IdxBands, IdxRows) point sits
  // inside the battery.
  private val BandingCurve = Seq((4, 16), (8, 8), (16, 4), (32, 2))

  /** MinHash banding recall/precision frontier — the tuning table a
    * near-dup deployment reads before picking (bands, rows), the
    * dedup-shelf sibling of [[Ann.qAnnProbeCurve]]/[[Ann.qLshProbeCurve]]:
    * for each (b, r) factorization of the k=[[IdxK]] signature, the
    * candidate-pair volume the banded join would generate (the COST —
    * verify work scales with it) against how many of the
    * ≥-[[IdxThreshold]] true pairs the banding recovers (the RECALL).
    * `q_dedup_minhash` runs at the deployed ([[IdxBands]], [[IdxRows]])
    * point; this row is why that point.
    *
    * Truth is the union-of-configs verified set: every candidate any
    * tested banding surfaces, measured by exact shingle-set Jaccard,
    * kept at ≥ threshold. The factorizations NEST (halving rows
    * refines bands: a pair matching a 2r-slot band matches both its
    * r-slot halves), so candidate sets grow monotonically and the
    * finest config generates the union — its recall is 1 by
    * construction, and the curve's information is the recall DROP at
    * coarser configs against the candidate-mass blowup at finer ones.
    * As an absolute reference the union is exhaustive-at-threshold
    * without an all-pairs scan: a true ≥0.6 pair escapes the finest
    * banding with probability (1−0.6²)³² ≈ 6·10⁻⁷ (DedupSpec pins
    * union = brute force at spec scale) — same posture as the ANN
    * curves' brute-force-over-sampled-queries baseline.
    *
    * Computed over DISTINCT texts (the [[Canonical]] reps): banding
    * density must track distinct content, not crawl-dup depth — and
    * the curve is a config audit, so group-level pairs are the right
    * unit (member expansion would just multiply every count by dup
    * mass). Oracle-equivalence precondition (the standing banded-shelf
    * device): no (band, bucket) tops the salt cap at oracle scales —
    * DedupSpec pins it for every config in the battery, finest
    * included.
    *
    * Shape at scale: ONE signature/set pass over the reps (map-only
    * codegen expressions), one banded equi self-join per config (the
    * explode is Σb = 60 band rows/doc vs 16 for the deployed point),
    * ONE shared verify join over the unioned candidates, and
    * config-bounded rollups — a tuning run pays ~4× the deployed
    * candidate step once, never per query.
    */
  def qBandingCurve(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.{WordNgramMinHash, WordNgramHashes}
    import graft.plans.Materialize.MaterializeOps
    val keyed = docs(s, dir).select(col("doc_id"), col("text"),
      unhex(md5(col("text"))).as("tkey"))
    // group table (distinct texts): feeds the signature/set pass
    val reps = Canonical.groups(keyed, "doc_id", Seq("tkey"))
      .select(col("gid").as("doc_id"), col("text")).materialized
    // r21 OPTIMIZATION (guide §2.4 — same outputs, one candidate join
    // instead of four): the factorizations NEST (a pair matching a
    // 2r-slot band matches both its r-slot halves), so the finest
    // config's candidate set IS the union the truth verify ran over,
    // and a pair's membership in every coarser config is a pure
    // function of its two signatures (∃ band with all r slots equal —
    // exactly the oracle's slice-equality rule, minus the engine's
    // never-observed xxhash64 bucket collisions). The old shape paid
    // 4 salted self-joins + 4 checkpoints + union-distinct + a truth
    // checkpoint + 4 count-aggregates + 4 truth joins (~16 jobs) for
    // a pair set this small (tens at sf0.01); now ONE banded join
    // generates the superset, one two-sided payload join attaches
    // signatures + shingle sets, and every count folds in a single
    // aggregate. Membership lambdas are interpreted but run over the
    // candidate-pair set only (pair-bounded, never corpus-bounded).
    val payload = reps.select(col("doc_id"),
      WordNgramMinHash.column(col("text"), IdxNgram, IdxK, IdxSeed).as("sig_arr"),
      WordNgramHashes.column(col("text"), IdxNgram).as("sh"))
      .materialized
    val (fb, fr) = BandingCurve.last
    val cand = candidatePairs(
      sigBandRows(payload.select(col("doc_id"), col("sig_arr")), fb, fr))
    val flagged = cand
      .join(payload.select(col("doc_id").as("id_a"),
        col("sig_arr").as("sa"), col("sh").as("sh_a")), "id_a")
      .join(payload.select(col("doc_id").as("id_b"),
        col("sig_arr").as("sb"), col("sh").as("sh_b")), "id_b")
      .select(expr("zip_with(sa, sb, (u, v) -> CAST(u = v AS INT))").as("eq"),
        (graft.functions.SortedJaccard.column(col("sh_a"), col("sh_b")) >= IdxThreshold)
          .as("tru"))
      .select(col("tru") +: BandingCurve.map { case (b, r) =>
        expr(s"exists(sequence(0, ${b - 1}), " +
          s"j -> aggregate(slice(eq, j * $r + 1, $r), 1, (acc, v) -> acc * v) = 1)")
          .as(s"m$b")
      }: _*)
    val aggExprs =
      coalesce(sum(when(col(s"m$fb"), 1L)), lit(0L)).as("candF") +:
      coalesce(sum(when(col(s"m$fb") && col("tru"), 1L)), lit(0L)).as("n_truth") +:
      BandingCurve.init.flatMap { case (b, _) => Seq(
        coalesce(sum(when(col(s"m$b"), 1L)), lit(0L)).as(s"cand$b"),
        coalesce(sum(when(col(s"m$b") && col("tru"), 1L)), lit(0L)).as(s"true$b"))
      }
    val aggr = flagged.agg(aggExprs.head, aggExprs.tail: _*)
    val stackArgs = BandingCurve.map { case (b, r) =>
      val (c, t) = if (b == fb) ("candF", "n_truth") else (s"cand$b", s"true$b")
      s"CAST($b AS BIGINT), CAST($r AS BIGINT), $c, $t"
    }.mkString(", ")
    aggr.select(
        expr(s"stack(${BandingCurve.size}, $stackArgs) " +
          "AS (n_bands, rows_per_band, n_cand, n_true)"),
        col("n_truth"))
      .select(col("n_bands"), col("rows_per_band"),
        col("n_cand").as("n_cand_pairs"), col("n_true").as("n_true_pairs"),
        col("n_truth").as("n_truth_pairs"),
        expr("CASE WHEN n_truth = 0 THEN 0 ELSE (n_true * 10000) DIV n_truth END")
          .as("recall_bp"),
        expr("CASE WHEN n_cand = 0 THEN 0 ELSE (n_true * 10000) DIV n_cand END")
          .as("precision_bp"))
      .orderBy(col("n_bands"))
  }

  /** Oracle for [[qBandingCurve]]: the [[sigCtes]] model chain over
    * DISTINCT texts (GROUP BY text, min(doc_id) rep — md5-key equality
    * in the plan IS text equality), one [[OracleEmul.bandCandCtes]]
    * tail per config, the shared union-truth verify, exact hit joins.
    */
  val qBandingCurveSql: String = {
    val serves = BandingCurve.map { case (b, r) =>
      OracleEmul.bandCandCtes(s"c$b", "s", b, r) + s",\nm$b AS MATERIALIZED (SELECT id_a, id_b FROM c${b}cand)"
    }.mkString(",\n")
    val union = BandingCurve.map { case (b, _) => s"SELECT id_a, id_b FROM m$b" }
      .mkString("\n    UNION ")
    val rows = BandingCurve.map { case (b, r) =>
      s"""SELECT CAST($b AS BIGINT) AS n_bands, CAST($r AS BIGINT) AS rows_per_band,
         |  (SELECT COUNT(*) FROM m$b) AS n_cand,
         |  (SELECT COUNT(*) FROM m$b JOIN truth USING (id_a, id_b)) AS n_true""".stripMargin
    }.mkString("\n  UNION ALL ")
    s"""WITH d AS (SELECT min(doc_id) AS doc_id, text FROM documents GROUP BY text),
       |w AS (SELECT doc_id, ${OracleEmul.wordHashes("text")} AS wh FROM d),
       |f AS (SELECT doc_id, ${OracleEmul.features("wh", IdxNgram)} AS feats FROM w),
       |fp AS MATERIALIZED (SELECT doc_id,
       |  list_transform(feats, f0 -> ${OracleEmul.floorMod("f0", "fm", "2147483647")}) AS fmod,
       |  ${OracleEmul.hashSet("feats")} AS sh FROM f),
       |s AS MATERIALIZED (SELECT doc_id, sh,
       |  ${OracleEmul.minhashSig("fmod", IdxSeed, IdxK)} AS sig FROM fp),
       |$serves,
       |allp AS MATERIALIZED ($union),
       |truth AS MATERIALIZED (
       |  SELECT id_a, id_b FROM (
       |    SELECT id_a, id_b, ${OracleEmul.jaccard("sa.sh", "sb.sh")} AS jaccard
       |    FROM allp JOIN s sa ON allp.id_a = sa.doc_id
       |    JOIN s sb ON allp.id_b = sb.doc_id) v
       |  WHERE jaccard >= $IdxThreshold),
       |nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_truth FROM truth)
       |SELECT n_bands, rows_per_band,
       |  CAST(n_cand AS BIGINT) AS n_cand_pairs,
       |  CAST(n_true AS BIGINT) AS n_true_pairs,
       |  nt.n_truth AS n_truth_pairs,
       |  CAST(CASE WHEN nt.n_truth = 0 THEN 0 ELSE (n_true * 10000) // nt.n_truth END AS BIGINT) AS recall_bp,
       |  CAST(CASE WHEN n_cand = 0 THEN 0 ELSE (n_true * 10000) // n_cand END AS BIGINT) AS precision_bp
       |FROM ($rows) CROSS JOIN nt
       |ORDER BY n_bands""".stripMargin
  }

  private val IngestBatch = 50L

  /** Duplicate-rate trend per ingest batch (doc_id DIV
    * [[IngestBatch]] as the arrival-order proxy): for each batch, how
    * many docs duplicate content first seen in an EARLIER batch
    * (prior dups — re-crawls, mirrors) vs within the batch itself
    * (intra dups — a looping crawler), with the combined rate in ppm.
    * This is the time axis [[qDupSummary]] flattens: a healthy corpus
    * shows prior-dup rates CLIMBING batch over batch (more history to
    * collide with); a crawler loop shows an intra spike in one batch.
    * The monitor that says "stop the crawl" before a 100 TB ingest
    * finishes.
    *
    * Shape at scale: one shuffle on the content hash; both windows
    * (first batch per hash, first doc per hash×batch) ride that
    * exchange — hash clustering co-locates the (hash, batch) keys, so
    * the second window adds a sort, not a shuffle. The rollup output
    * is batch-count-sized.
    */
  def qDupByBatch(s: SparkSession, dir: String): DataFrame = {
    val h = docs(s, dir).select(col("doc_id"),
      expr(s"doc_id DIV $IngestBatch").as("batch"),
      contentMd5(col("text")).as("ch"))
    val byHash      = Window.partitionBy("ch")
    val byHashBatch = Window.partitionBy("ch", "batch")
    h.withColumn("first_batch", min("batch").over(byHash))
      .withColumn("first_in_batch", min("doc_id").over(byHashBatch))
      .select(col("batch"),
        (col("batch") > col("first_batch")).as("prior"),
        (col("batch") === col("first_batch") &&
          col("doc_id") =!= col("first_in_batch")).as("intra"))
      .groupBy(col("batch"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("prior"), 1L).otherwise(0L)).as("n_prior_dup"),
        sum(when(col("intra"), 1L).otherwise(0L)).as("n_intra_dup"))
      .withColumn("dup_ppm",
        expr("((n_prior_dup + n_intra_dup) * 1000000) DIV n_docs"))
  }

  val qDupByBatchSql: String =
    s"""WITH h AS (
       |  SELECT doc_id, doc_id // $IngestBatch AS batch,
       |    md5(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS ch
       |  FROM documents),
       |w AS (
       |  SELECT batch,
       |    batch > MIN(batch) OVER (PARTITION BY ch) AS prior,
       |    batch = MIN(batch) OVER (PARTITION BY ch)
       |      AND doc_id <> MIN(doc_id) OVER (PARTITION BY ch, batch) AS intra
       |  FROM h)
       |SELECT batch, COUNT(*) AS n_docs,
       |  CAST(SUM(CASE WHEN prior THEN 1 ELSE 0 END) AS BIGINT) AS n_prior_dup,
       |  CAST(SUM(CASE WHEN intra THEN 1 ELSE 0 END) AS BIGINT) AS n_intra_dup,
       |  ((CAST(SUM(CASE WHEN prior THEN 1 ELSE 0 END) AS BIGINT)
       |    + CAST(SUM(CASE WHEN intra THEN 1 ELSE 0 END) AS BIGINT)) * 1000000)
       |    // COUNT(*) AS dup_ppm
       |FROM w GROUP BY batch ORDER BY batch""".stripMargin

  /** Maximum edit distance for an [[qEntityMatch]] candidate pair to
    * count as a probable same-entity link.
    */
  val EntityMaxDist = 2

  /** The second blocking pass's distance tier:
    * sorted-neighborhood pairs at exactly this edit distance also
    * count as links — typos past the SymSpell deletion radius
    * (e.g. three substitutions) that production MDM stacks catch
    * with an extra pass over the same canonicalize→block→verify
    * shape. */
  val EntitySndDist = 3

  /** Sorted-neighborhood window (group ranks in (name, gid) order).
    * Part of the MATCH RULE, not just a heuristic: an ed-3 pair
    * counts iff the two distinct names sort within this many ranks —
    * deterministic, so the DuckDB oracle replays it exactly (the
    * classic SNM trade, documented: an ed-3 typo in the leading
    * characters sorts away and is out of rule). */
  val EntitySnmWindow = 8

  /** The third blocking pass's distance tier: pairs
    * whose names share an alphanumeric Soundex-class code
    * ([[graft.functions.PhoneticCode]]) count as links at exactly this
    * edit distance — phonetic respellings (`Catherine`/`Kathryn`, ed 4
    * with a different leading letter) that sit past the SymSpell
    * radius AND sort outside the SNM window. The high-precision
    * phonetic block is what licenses the looser distance bound —
    * the classic production-MDM stacking rationale. Disjoint from
    * the other passes by construction (pass 1 keeps ed ≤ 2, pass 2
    * keeps ed = 3), so the union stays dedup-free. */
  val EntityPhonDist = 4

  /** 64-bit hashes of every string obtainable by deleting at most
    * [[EntityMaxDist]] (= 2) characters from `c` — the SymSpell
    * deletion-neighborhood signature set. Pigeonhole guarantee: if
    * lev(a, b) ≤ d, an optimal alignment has i insertions, e
    * deletions, s substitutions with i+e+s ≤ d; deleting the e+s
    * non-matched characters from a and the i+s non-matched characters
    * from b (each ≤ d deletions) yields the SAME aligned subsequence,
    * so every true match pair shares at least one signature. The
    * fan-out is per-RECORD bounded: 1 + L + L·(L−1)/2 variants for an
    * L-char name — linear in corpus size, independent of corpus
    * density. One generated-Java pass, O(L²) long arithmetic, no
    * variant string ever materialized ([[graft.functions.DeletionHashes]]).
    */
  private def delSignatures(c: Column): Column =
    graft.functions.DeletionHashes.column(c, EntityMaxDist)

  /** Blocked entity resolution (record linkage) over the customer
    * register. Candidate generation is SymSpell deletion-neighborhood
    * blocking ([[delSignatures]]) composed with the natural
    * (nation, market segment) key: two records are candidates only if
    * they share a deletion signature AND the exact-match attributes.
    * Survivor pairs are verified with exact Levenshtein distance —
    * codegen'd `levenshtein`, the same classic DP DuckDB runs, so the
    * match SET is hash-checked, not a similarity estimate.
    *
    * MATCH RULE: a pair links iff
    * ed ≤ [[EntityMaxDist]] (SymSpell pass — pigeonhole-complete), OR
    * ed = [[EntitySndDist]] AND the two distinct names sort within
    * [[EntitySnmWindow]] group ranks (the sorted-neighborhood second
    * pass, [[entitySnmGroupPairs]]) — the production two-pass stack
    * over one canonicalize→block→verify→expand pipeline. Both passes
    * are deterministic, so the oracle replays the full rule.
    *
    * Shape at scale (an earlier pure
    * (nation × mktsegment) blocking had FIXED cardinality 125, so
    * candidates grew O(N²/125) — quadratic at 100× data): the block
    * key now contains the name-derived signature, whose cardinality
    * grows with the number of distinct names, so per-block population
    * is bounded by name-space collision density, not N/125 — candidate
    * volume is linear-ish in N (∝ true near-matches + hash-bucket
    * noise), the correct similarity-join scaling. Costs one signature
    * explode (≤ 1+L+L²/2 rows/record, map-only) + one shuffle on the
    * (sig, nation, mktsegment) key + a pair-key distinct; the name
    * re-attach joins probe a customer-keyed table (AQE broadcasts the
    * candidate side while it fits). The pigeonhole guarantee makes the
    * candidate set a strict superset of the old length-gated quadratic
    * scan's matches, so the verified output is IDENTICAL.
    * DedupSpec pins the per-block bound and the linear candidate
    * volume.
    *
    * Scan-audit adjudication: the plan scans customer 4× (both
    * self-join sides RECOMPUTE the signature explode; two pruned
    * (custkey, name, nation, mkt) probes re-attach attributes). This
    * is deliberate: signatures are cheap to recompute (native O(L²)
    * arithmetic) and L²/2-per-record expensive to STORE, so
    * materializing the exploded side table would trade a thin
    * column-pruned scan for a shuffle-file write ~85× the input —
    * the wrong trade at any scale.
    */
  def qEntityMatch(s: SparkSession, dir: String): DataFrame =
    entityMatchFrom(s, Ingest.table(s, dir, "customer")
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"), col("c_mktsegment")))

  /** [[qEntityMatch]] over an arbitrary register frame — the spec
    * hook for planted-depth invariants (DedupSpec r16).
    */
  private[graft] def entityMatchFrom(s: SparkSession, c: DataFrame): DataFrame = {
    val (grp, mem) = entityGroups(c)
    val vg = entityVerifiedGroupPairs(s, grp)
    // Expansion back to record pairs is OUTPUT-sized by construction:
    // cross-group pairs multiply two member lists that the verify
    // already proved matching, within-group pairs are the exact-dup
    // families themselves (edit distance 0, the pair count IS the
    // answer's quadratic — qEntityBestMatch is the linear-output
    // shape). The `least/greatest` orientation reproduces the
    // record-level `a.key < b.key` enumeration exactly once per
    // unordered pair because group pairs are enumerated once.
    Canonical.expandPairs(
        vg.withColumnRenamed("ed", "edit_dist"), mem, "c_custkey",
        "cust_a", "cust_b",
        Seq("nationkey", "mktsegment", "edit_dist"),
        Seq(col("x.c_nationkey"), col("x.c_mktsegment"), lit(0)))
      .select("nationkey", "mktsegment", "cust_a", "cust_b", "edit_dist")
  }

  /** Exact-group canonicalization ahead of fuzzy matching (the r15
    * full-surface 10× bench fix): records with IDENTICAL
    * (name, nation, mktsegment) collapse to one representative keyed
    * by the group's min custkey before any signature is generated.
    * On a re-crawl-shaped corpus (the 10× replica plants 10-deep
    * exact-dup families) this is the difference between linear and
    * quadratic-in-copies work: the record-level block join enumerated
    * ~1.15G candidate occurrences at sf1 (every family pair × every
    * shared signature, each paying two name probes + a banded DP —
    * 6.3 GB of aggregate spill even with a pair-distinct), while the
    * group-level join sees singleton-density blocks. Fuzzy match
    * depth no longer depends on exact-dup depth AT ALL — the 100 TB
    * property, since dup depth grows with crawl history.
    * Returns (groups, members): groups = one row per distinct
    * (name, nation, mktsegment) with `gid` (min member custkey —
    * which is also the group's best-mate tie-break key) and member
    * count `m`; members = each record tagged with its gid. Both via
    * the shared [[Canonical]] device.
    */
  private[graft] def entityGroups(c: DataFrame): (DataFrame, DataFrame) = {
    import graft.plans.Materialize.MaterializeOps
    // r21 OPTIMIZATION (guide §2.4 — the round-8 shared-subtree rule):
    // both tables are MATERIALIZED. `grp` feeds six consumers across
    // the three blocking passes (deletion-signature explode, both
    // candidate re-joins, the SNM rank, the phonetic coding) and `mem`
    // three more (pair expansion ×2 + the within self-join) — without
    // the checkpoint each consumer re-derived the customer scan + the
    // (name, nation, mktsegment) group-by exchange (36 parquet scans /
    // 86 exchanges in the q_entity_best_match plan). Both tables are
    // group-/record-sized (~30 B/row), the documented Materialize
    // trade.
    val grp = Canonical.groups(c, "c_custkey",
      Seq("c_name", "c_nationkey", "c_mktsegment")).materialized
    val mem = Canonical.members(c, grp,
        Seq("c_name", "c_nationkey", "c_mktsegment"))
      .select(col("gid"), col("c_custkey"), col("c_nationkey"), col("c_mktsegment"))
      .materialized
    (grp, mem)
  }

  /** Verified GROUP pairs: SymSpell deletion-signature blocking over
    * the canonicalized groups ([[entityGroups]]), pair-level
    * `distinct()` ahead of the verify (map-side combine collapses the
    * ~1+L+L²/2 shared-signature multiplicity inside the self-join
    * stage — nothing occurrence-sized is shuffled, and the name
    * probes + banded Levenshtein run ONCE per candidate pair), then
    * the exact-attribute re-check and the banded DP. Cross-group
    * distance is ≥ 1 by construction (equal names with equal
    * attributes are the SAME group), which [[qEntityBestMatch]]'s
    * within-beats-cross shortcut relies on.
    * The block exchange stays a fixed-count repartition: block
    * density, not byte size, drives the verify cost, and AQE's
    * byte-based coalescing collapsed this exchange to ONE partition
    * on a 10× replica (13+ min single-threaded while 15 cores idled;
    * the r13 note on the pre-canonicalization form — still the right
    * pin, since adversarial NEAR-dup density survives
    * canonicalization).
    */
  private[graft] def entityVerifiedGroupPairs(s: SparkSession, grp: DataFrame): DataFrame = {
    val nPart = s.sessionState.conf.numShufflePartitions
    val sides = grp.select(
        col("gid"), col("c_nationkey"), col("c_mktsegment"),
        explode(delSignatures(col("c_name"))).as("sig"))
      .select(col("gid"),
        xxhash64(col("sig"), col("c_nationkey"), col("c_mktsegment")).as("bkey"))
      .repartition(nPart, col("bkey"))
    val cand = sides.as("a").join(sides.as("b"),
        col("a.bkey") === col("b.bkey") && col("a.gid") < col("b.gid"))
      .select(col("a.gid").as("ga"), col("b.gid").as("gb"))
      .distinct()
    cand
      .join(grp.select(col("gid").as("ga"), col("c_name").as("name_a"),
        col("c_nationkey").as("nat_a"), col("c_mktsegment").as("mkt_a")), "ga")
      .join(grp.select(col("gid").as("gb"), col("c_name").as("name_b"),
        col("c_nationkey").as("nat_b"), col("c_mktsegment").as("mkt_b")), "gb")
      .filter(col("nat_a") === col("nat_b") && col("mkt_a") === col("mkt_b"))
      .select(col("ga"), col("gb"),
        col("nat_a").as("nationkey"), col("mkt_a").as("mktsegment"),
        // banded DP: O(d·n) instead of O(n²), -1 above the threshold,
        // EXACT distance for surviving pairs (what the oracle's full
        // levenshtein compares).
        levenshtein(col("name_a"), col("name_b"), EntityMaxDist).as("ed"))
      .filter(col("ed") >= 0 && col("ed") <= EntityMaxDist)
      // the second blocking pass. Disjoint by
      // construction (pass 1 keeps ed ≤ 2, pass 2 keeps ed = 3), so
      // plain union — no pair ever verifies twice into the output.
      .unionByName(entitySnmGroupPairs(grp))
      // the third blocking pass — phonetic,
      // ed = 4 exactly; disjoint from both passes above, plain union.
      .unionByName(entityPhoneticGroupPairs(grp))
  }

  /** Second blocking pass: SORTED-NEIGHBORHOOD over the canonical
    * groups (Hernández & Stolfo 1995) — groups ranked by
    * (c_name, gid) via the scale-safe [[graft.plans.Surrogate]]
    * range-partition rank (no single-partition window), each group
    * compared with its next [[EntitySnmWindow]] ranks, verified at
    * exactly [[EntitySndDist]] edits with the same attribute equality
    * as pass 1. Catches distance-3 typos the deletion-radius-2
    * pigeonhole cannot (SymSpell fan-out at radius 3 is ~6× —
    * 1+L+C(L,2)+C(L,3) variants — the wrong trade when names share
    * long sorted prefixes, the common register shape).
    *
    * Shape at scale: one range exchange of the GROUP table (distinct
    * names — exact-dup depth never inflates it), a W-fan-out explode
    * on the rank key joined equi (never a rank range join), W·G
    * banded verifies. Candidate volume is W per distinct name — linear
    * by construction, the SNM selling point.
    */
  private[graft] def entitySnmGroupPairs(grp: DataFrame): DataFrame = {
    val ranked = graft.plans.Surrogate.rankedId(
      grp.select(col("gid"), col("c_name"), col("c_nationkey"), col("c_mktsegment")),
      Seq("c_name", "gid"), "rk")
    val lo = ranked.select(col("gid").as("gid_a"), col("c_name").as("name_a"),
      col("c_nationkey").as("nat_a"), col("c_mktsegment").as("mkt_a"),
      explode(expr(s"sequence(rk + 1, rk + $EntitySnmWindow)")).as("prk"))
    val hi = ranked.select(col("gid").as("gid_b"), col("c_name").as("name_b"),
      col("c_nationkey").as("nat_b"), col("c_mktsegment").as("mkt_b"),
      col("rk").as("prk"))
    lo.join(hi, Seq("prk"))
      .filter(col("nat_a") === col("nat_b") && col("mkt_a") === col("mkt_b"))
      .select(least(col("gid_a"), col("gid_b")).as("ga"),
        greatest(col("gid_a"), col("gid_b")).as("gb"),
        col("nat_a").as("nationkey"), col("mkt_a").as("mktsegment"),
        levenshtein(col("name_a"), col("name_b"), EntitySndDist).as("ed"))
      .filter(col("ed") === EntitySndDist)
  }

  /** Third blocking pass: PHONETIC over the canonical groups — groups
    * whose names share an alphanumeric Soundex-class code
    * ([[graft.functions.PhoneticCode]]: letter sound classes incl.
    * the first letter, digit classes, run collapse, 18-class BIGINT)
    * within the same exact-attribute block, verified at exactly
    * [[EntityPhonDist]] edits. Catches phonetic respellings whose
    * leading letter differs — they sort OUTSIDE the SNM window
    * (pass 2's documented blind spot) and sit past the SymSpell
    * radius (pass 1). A code of 0 (no classed characters) never
    * blocks.
    *
    * Shape at scale: one map-only coding pass over the GROUP table,
    * one equi-join on the (code, nation, mktsegment) key — block
    * population tracks phonetic-bucket density (the digit classes
    * keep register-id corpora from collapsing into one mega-block;
    * letters-only Soundex would), candidate volume linear-ish in
    * distinct names, the pass-1 scaling argument verbatim.
    */
  private[graft] def entityPhoneticGroupPairs(grp: DataFrame): DataFrame = {
    val coded = grp.select(col("gid"), col("c_name"), col("c_nationkey"),
        col("c_mktsegment"),
        graft.functions.PhoneticCode.column(col("c_name")).as("ph"))
      .filter(col("ph") =!= 0L)
    coded.as("a").join(coded.as("b"),
        col("a.ph") === col("b.ph") && col("a.gid") < col("b.gid") &&
          col("a.c_nationkey") === col("b.c_nationkey") &&
          col("a.c_mktsegment") === col("b.c_mktsegment"))
      .select(col("a.gid").as("ga"), col("b.gid").as("gb"),
        col("a.c_nationkey").as("nationkey"), col("a.c_mktsegment").as("mktsegment"),
        levenshtein(col("a.c_name"), col("b.c_name"), EntityPhonDist).as("ed"))
      .filter(col("ed") === EntityPhonDist)
  }

  /** Distinct candidate pairs for [[qEntityMatch]]'s block-bound spec
    * pin: records sharing a deletion signature within the same
    * (nation, mktsegment) block.
    */
  private[graft] def entityMatchCandidates(c: DataFrame): DataFrame = {
    val sigs = c.select(
      col("c_custkey"), col("c_nationkey"), col("c_mktsegment"),
      explode(delSignatures(col("c_name"))).as("sig"))
    sigs.as("a").join(sigs.as("b"),
        col("a.sig") === col("b.sig") &&
          col("a.c_nationkey") === col("b.c_nationkey") &&
          col("a.c_mktsegment") === col("b.c_mktsegment") &&
          col("a.c_custkey") < col("b.c_custkey"))
      .select(
        col("a.c_nationkey").as("nationkey"),
        col("a.c_mktsegment").as("mktsegment"),
        col("a.c_custkey").as("cust_a"),
        col("b.c_custkey").as("cust_b"))
      .distinct()
  }

  /** The [[graft.functions.PhoneticCode]] chain in DuckDB: strip
    * non-alnum → `translate` letters to Soundex classes (vowels/h/w
    * deleted, digits kept as their own classes) → collapse each
    * class-digit's runs (chained per digit — RE2 has no
    * backreferences) → first 18 classes → BIGINT.
    */
  private def phonCodeSql(x: String): String = {
    // strip BEFORE lowercasing: DuckDB's lower() is
    // Unicode-aware, so characters whose lowercase maps into a-z
    // (Kelvin sign U+212A → 'k', dotted capital I U+0130 → 'i'+dot)
    // would survive a lower-then-strip chain and get classed, while
    // the native byte-walk drops every non-ASCII byte whole — the
    // ASCII-class strip first makes both engines class the identical
    // character set
    val mapped = s"translate(lower(regexp_replace($x, '[^A-Za-z0-9]', '', 'g')), " +
      "'bcdfgjklmnpqrstvxzaeiouyhw', '123122245512623122')"
    val collapsed = (0 to 9).foldLeft(mapped)((e, d) =>
      s"regexp_replace($e, '$d{2,}', '$d', 'g')")
    s"CAST(CASE WHEN $collapsed = '' THEN '0' ELSE substr($collapsed, 1, 18) END AS BIGINT)"
  }

  /** The pass-2 (sorted-neighborhood, ed = [[EntitySndDist]]) and
    * pass-3 (phonetic, ed = [[EntityPhonDist]]) RECORD pairs as
    * prefixable CTEs: canonical groups, the (name, gid) rank, the
    * window join, the phonetic-code block, the member expansions —
    * shared by both entity oracles so the rule cannot drift between
    * them. Emits `${p}sndrec` and `${p}phonrec`, both
    * `(nationkey, mktsegment, cust_a, cust_b, edit_dist)`.
    */
  private def entitySndCtes(p: String): String =
    s"""${p}g AS (
       |  SELECT MIN(c_custkey) AS gid, c_name, c_nationkey, c_mktsegment
       |  FROM customer GROUP BY c_name, c_nationkey, c_mktsegment),
       |${p}rw AS (
       |  SELECT gid, c_name, c_nationkey, c_mktsegment,
       |    ROW_NUMBER() OVER (ORDER BY c_name, gid) AS rk
       |  FROM ${p}g),
       |${p}snd AS (
       |  SELECT least(a.gid, b.gid) AS ga, greatest(a.gid, b.gid) AS gb,
       |    a.c_nationkey AS nationkey, a.c_mktsegment AS mktsegment
       |  FROM ${p}rw a JOIN ${p}rw b
       |    ON b.rk > a.rk AND b.rk <= a.rk + $EntitySnmWindow
       |   AND a.c_nationkey = b.c_nationkey
       |   AND a.c_mktsegment = b.c_mktsegment
       |  WHERE levenshtein(a.c_name, b.c_name) = $EntitySndDist),
       |${p}m AS (
       |  SELECT c.c_custkey, g2.gid
       |  FROM customer c JOIN ${p}g g2
       |    ON c.c_name = g2.c_name AND c.c_nationkey = g2.c_nationkey
       |   AND c.c_mktsegment = g2.c_mktsegment),
       |${p}sndrec AS (
       |  SELECT s.nationkey, s.mktsegment,
       |    least(ma.c_custkey, mb.c_custkey) AS cust_a,
       |    greatest(ma.c_custkey, mb.c_custkey) AS cust_b,
       |    CAST($EntitySndDist AS INTEGER) AS edit_dist
       |  FROM ${p}snd s
       |  JOIN ${p}m ma ON ma.gid = s.ga
       |  JOIN ${p}m mb ON mb.gid = s.gb),
       |${p}ph AS (
       |  SELECT gid, c_name, c_nationkey, c_mktsegment,
       |    ${phonCodeSql("c_name")} AS ph
       |  FROM ${p}g),
       |${p}phon AS (
       |  SELECT a.gid AS ga, b.gid AS gb,
       |    a.c_nationkey AS nationkey, a.c_mktsegment AS mktsegment
       |  FROM ${p}ph a JOIN ${p}ph b
       |    ON a.ph = b.ph AND a.gid < b.gid AND a.ph <> 0
       |   AND a.c_nationkey = b.c_nationkey
       |   AND a.c_mktsegment = b.c_mktsegment
       |  WHERE levenshtein(a.c_name, b.c_name) = $EntityPhonDist),
       |${p}phonrec AS (
       |  SELECT s.nationkey, s.mktsegment,
       |    least(ma.c_custkey, mb.c_custkey) AS cust_a,
       |    greatest(ma.c_custkey, mb.c_custkey) AS cust_b,
       |    CAST($EntityPhonDist AS INTEGER) AS edit_dist
       |  FROM ${p}phon s
       |  JOIN ${p}m ma ON ma.gid = s.ga
       |  JOIN ${p}m mb ON mb.gid = s.gb)""".stripMargin

  val qEntityMatchSql: String =
    s"""WITH ${entitySndCtes("")}
       |SELECT a.c_nationkey AS nationkey, a.c_mktsegment AS mktsegment,
       |  a.c_custkey AS cust_a, b.c_custkey AS cust_b,
       |  CAST(levenshtein(a.c_name, b.c_name) AS INTEGER) AS edit_dist
       |FROM customer a JOIN customer b
       |  ON a.c_nationkey = b.c_nationkey
       | AND a.c_mktsegment = b.c_mktsegment
       | AND a.c_custkey < b.c_custkey
       | AND abs(length(a.c_name) - length(b.c_name)) <= $EntityMaxDist
       |WHERE levenshtein(a.c_name, b.c_name) <= $EntityMaxDist
       |UNION ALL
       |SELECT nationkey, mktsegment, cust_a, cust_b, edit_dist FROM sndrec
       |UNION ALL
       |SELECT nationkey, mktsegment, cust_a, cust_b, edit_dist FROM phonrec
       |ORDER BY nationkey, mktsegment, cust_a, cust_b""".stripMargin

  /** Production-shaped entity resolution: the TOP-1
    * best match per record — min edit distance, ties to the smaller
    * mate key — plus the verified-mate count. [[qEntityMatch]] emits
    * the full within-family pair set, which is the ANSWER's size on a
    * dense replica (quadratic in copies-per-name: 37.7 s at sf1 for
    * 3.93M true pairs); an MDM run materializes THIS shape instead —
    * at most one row per record, so the output is linear in the
    * corpus at every density.
    *
    * Rides the SAME canonicalize-then-match pipeline as
    * [[qEntityMatch]] ([[entityGroups]] + [[entityVerifiedGroupPairs]])
    * but never expands ANYTHING to record pairs — the whole answer
    * folds at group granularity and joins back one row per record:
    *
    *  - cross-group: a verified group pair (A, B, ed) gives every
    *    member of A the candidate (ed, gid_B) — gid IS B's min member
    *    key, so `min(struct(ed, gid))` over a record's matched groups
    *    is exactly the (distance, mate-key) argmin over all matched
    *    RECORDS; the mate count adds |B| distinct mates.
    *  - within-group (exact dups, ed = 0): since cross-group distance
    *    is ≥ 1 by construction, any record in a group of n > 1 has
    *    best = (0, smallest OTHER member) — gid for everyone except
    *    the gid record itself, which takes the group's second-minimum
    *    (one tiny aggregate over non-gid members). No comparison with
    *    the cross side is ever needed, and n−1 mates join the count.
    *
    * Two r15 forms this replaced, both caught by the full-surface 10×
    * bench: `min(struct)` + `countDistinct` in ONE aggregate over the
    * record-level verify stream (Catalyst plans that through an
    * Expand into a pair-keyed aggregate over the multiplicity-laden
    * stream — 10 GB of spill, 58 s at sf1 for a one-row-per-record
    * query), then the pair-distinct record-level form (20.6 s — still
    * shuffling a pair set quadratic in exact-dup depth). This form's
    * every intermediate is group- or record-sized: 3.5 s at sf1,
    * zero spill, 55 MB total shuffle (was 1.3 GB + 550 MB spill).
    */
  def qEntityBestMatch(s: SparkSession, dir: String): DataFrame = {
    import graft.plans.Materialize.MaterializeOps
    val c = Ingest.table(s, dir, "customer")
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"), col("c_mktsegment"))
    val (grp, mem) = entityGroups(c)
    // r21: vg is consumed twice by the direction mirror below — without
    // the checkpoint the whole three-pass blocking + banded-Levenshtein
    // verify re-derived per direction. Verified group pairs are
    // output-sized.
    val vg = entityVerifiedGroupPairs(s, grp).materialized
    // group-level cross matches, mirrored to both directions, folded
    // to one row per GROUP (best = argmin over (ed, mate gid); the
    // mate count sums member counts of the matched groups)
    val sizes = grp.select(col("gid"), col("m").as("n"))
    val crossAgg = vg.select(col("ga"), col("gb"), col("ed"))
      .unionAll(vg.select(col("gb").as("ga"), col("ga").as("gb"), col("ed")))
      .join(sizes.select(col("gid").as("gb"), col("n").as("nb")), "gb")
      .groupBy(col("ga"))
      .agg(min(struct(col("ed"), col("gb"))).as("bc"),
        sum(col("nb")).as("cross_cnt"))
    // second-smallest member per group — only the gid record needs it
    val min2 = mem.filter(col("c_custkey") =!= col("gid"))
      .groupBy(col("gid")).agg(min(col("c_custkey")).as("m2"))
    mem.select(col("gid"), col("c_custkey"))
      .join(sizes, "gid")
      .join(min2, Seq("gid"), "left")
      .join(crossAgg, col("gid") === col("ga"), "left")
      .filter(col("n") > 1 || col("bc").isNotNull)
      .select(col("c_custkey"),
        when(col("n") > 1,
          when(col("c_custkey") === col("gid"), col("m2")).otherwise(col("gid")))
          .otherwise(col("bc.gb")).as("best_match"),
        when(col("n") > 1, lit(0)).otherwise(col("bc.ed")).as("edit_dist"),
        (col("n") - 1 + coalesce(col("cross_cnt"), lit(0L))).as("n_matches"))
  }

  /** Oracle for [[qEntityBestMatch]] — the full block join's verified
    * pairs (distinct by construction) ranked per record by
    * (edit distance, mate key).
    */
  val qEntityBestMatchSql: String =
    s"""WITH ${entitySndCtes("")},
       |p AS (
       |  SELECT a.c_custkey AS cust, b.c_custkey AS cand,
       |         CAST(levenshtein(a.c_name, b.c_name) AS INTEGER) AS ed
       |  FROM customer a JOIN customer b
       |    ON a.c_nationkey = b.c_nationkey
       |   AND a.c_mktsegment = b.c_mktsegment
       |   AND a.c_custkey <> b.c_custkey
       |   AND abs(length(a.c_name) - length(b.c_name)) <= $EntityMaxDist
       |  WHERE levenshtein(a.c_name, b.c_name) <= $EntityMaxDist
       |  UNION ALL
       |  SELECT cust_a AS cust, cust_b AS cand, edit_dist AS ed FROM sndrec
       |  UNION ALL
       |  SELECT cust_b AS cust, cust_a AS cand, edit_dist AS ed FROM sndrec
       |  UNION ALL
       |  SELECT cust_a AS cust, cust_b AS cand, edit_dist AS ed FROM phonrec
       |  UNION ALL
       |  SELECT cust_b AS cust, cust_a AS cand, edit_dist AS ed FROM phonrec),
       |r AS (
       |  SELECT cust, cand, ed,
       |    ROW_NUMBER() OVER (PARTITION BY cust ORDER BY ed, cand) AS rn,
       |    COUNT(*) OVER (PARTITION BY cust) AS nm
       |  FROM p)
       |SELECT cust AS c_custkey, cand AS best_match, ed AS edit_dist,
       |  CAST(nm AS BIGINT) AS n_matches
       |FROM r WHERE rn = 1
       |ORDER BY c_custkey""".stripMargin

  /** Token-weighted duplication census per source: total tokens, the
    * tokens sitting in NON-SURVIVOR rows of exact-dup families (the
    * [[contentMd5]] key, min-id survivor — reconciles with
    * [[qDedupExact]]), and both ppm rates. The doc-count view
    * ([[qDupSource]]) answers "how many rows are copies"; this
    * answers the question training budgets actually ask — what
    * fraction of the TOKEN mass is duplicate weight the model would
    * see twice. A source whose dup_token_ppm far exceeds its
    * dup_doc_ppm duplicates its LONG documents — worse than the doc
    * rate suggests.
    *
    * Shape at scale: the same single content-hash window exchange as
    * exact dedup (token counts ride the projection), then a
    * \|sources\|-bounded rollup.
    */
  def qDupTokens(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("content_md5")
    docs(s, dir)
      .select(col("doc_id"), col("source"), contentMd5(col("text")).as("content_md5"),
        expr("CAST(size(filter(split(text, ' '), w -> length(w) > 0)) AS BIGINT)").as("toks"))
      .withColumn("survivor_id", min("doc_id").over(w))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("doc_id") =!= col("survivor_id"), 1L).otherwise(0L)).as("n_dup_docs"),
        sum(col("toks")).as("n_tokens"),
        sum(when(col("doc_id") =!= col("survivor_id"), col("toks")).otherwise(0L))
          .as("dup_tokens"))
      .select(col("source"), col("n_docs"), col("n_dup_docs"),
        col("n_tokens"), col("dup_tokens"),
        expr("(n_dup_docs * 1000000) DIV n_docs").as("dup_doc_ppm"),
        expr("CASE WHEN n_tokens = 0 THEN NULL ELSE (dup_tokens * 1000000) DIV n_tokens END")
          .as("dup_token_ppm"))
  }

  val qDupTokensSql: String =
    """WITH v AS (
      |  SELECT doc_id, source,
      |    md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS content_md5,
      |    CAST(len(list_filter(string_split(text, ' '), w -> len(w) > 0)) AS BIGINT) AS toks
      |  FROM documents),
      |w AS (
      |  SELECT doc_id, source, toks,
      |    MIN(doc_id) OVER (PARTITION BY content_md5) AS survivor_id
      |  FROM v)
      |SELECT source, COUNT(*) AS n_docs,
      |  CAST(SUM(CASE WHEN doc_id <> survivor_id THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs,
      |  CAST(SUM(toks) AS BIGINT) AS n_tokens,
      |  CAST(SUM(CASE WHEN doc_id <> survivor_id THEN toks ELSE 0 END) AS BIGINT) AS dup_tokens,
      |  (CAST(SUM(CASE WHEN doc_id <> survivor_id THEN 1 ELSE 0 END) AS BIGINT) * 1000000)
      |    // COUNT(*) AS dup_doc_ppm,
      |  CASE WHEN SUM(toks) = 0 THEN NULL
      |       ELSE (CAST(SUM(CASE WHEN doc_id <> survivor_id THEN toks ELSE 0 END) AS BIGINT)
      |         * 1000000) // CAST(SUM(toks) AS BIGINT) END AS dup_token_ppm
      |FROM w GROUP BY source
      |ORDER BY source""".stripMargin

  /** Symmetric source-inventory overlap matrix: for every source
    * pair sharing at least one [[prefixMd5]] boilerplate family, the
    * per-source distinct-family counts, the shared-family count, and
    * the exact Jaccard similarity of the two family SETS (integer
    * ppm). The normalized companion to [[qDupFlow]]: flow counts
    * member rows in survivor direction ("who copies from whom"); this
    * answers "how much of each source's inventory is the same
    * inventory" — the number a curation team compares against a
    * mirror-feed threshold. Zero-overlap pairs are absent (sparse
    * matrix, the dup_flow convention).
    *
    * Shape at scale: one distinct (source, family-hash) projection
    * (hash-keyed partial-distinct — family-bounded), a hash-keyed
    * self-equi-join whose fan-out per hash is (#sources carrying
    * it)² ≤ |sources|² — NEVER doc-quadratic because the join runs on
    * the deduped inventory table, not documents — and a broadcast of
    * the |sources|-sized count table onto the ≤|sources|²-row matrix.
    */
  def qSourceOverlap(s: SparkSession, dir: String): DataFrame = {
    val sh = docs(s, dir)
      .select(col("source"), prefixMd5(col("text")).as("h"))
      .distinct().materialized
    val cnt = sh.groupBy(col("source")).agg(count(lit(1)).as("nh"))
    sh.select(col("source").as("src_a"), col("h"))
      .join(sh.select(col("source").as("src_b"), col("h")), "h")
      .filter(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_shared"))
      .join(broadcast(cnt.select(col("source").as("src_a"), col("nh").as("n_a"))), "src_a")
      .join(broadcast(cnt.select(col("source").as("src_b"), col("nh").as("n_b"))), "src_b")
      .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"), col("n_shared"),
        expr("(n_shared * 1000000) DIV (n_a + n_b - n_shared)").as("jaccard_ppm"))
  }

  val qSourceOverlapSql: String =
    s"""WITH sh AS (
       |  SELECT DISTINCT source,
       |    md5(array_to_string(
       |      (list_filter(string_split(regexp_replace(lower(text), '\\s+', ' ', 'g'), ' '),
       |        w -> len(w) > 0))[1:$PrefixWords],
       |      ' ')) AS h
       |  FROM documents),
       |cnt AS (SELECT source, COUNT(*) AS nh FROM sh GROUP BY source),
       |pairs AS (
       |  SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_shared
       |  FROM sh a JOIN sh b ON a.h = b.h AND a.source < b.source
       |  GROUP BY a.source, b.source)
       |SELECT p.src_a, p.src_b,
       |  ca.nh AS n_a, cb.nh AS n_b, p.n_shared,
       |  (p.n_shared * 1000000) // (ca.nh + cb.nh - p.n_shared) AS jaccard_ppm
       |FROM pairs p
       |JOIN cnt ca ON p.src_a = ca.source
       |JOIN cnt cb ON p.src_b = cb.source
       |ORDER BY p.src_a, p.src_b""".stripMargin

  /** Language-label leakage audit: boilerplate families
    * ([[prefixMd5]]) whose members carry MORE THAN ONE language
    * label, reported per unordered label pair — family count and the
    * total member docs under the two labels. Identical prefixes with
    * different lang labels mean the upstream language ID (or the
    * metadata feed) is noisy for that pair: per-language mix budgets
    * ([[TextOps.qMixBudget]]) and lang-stratified splits silently
    * leak across the boundary. The LABEL-axis twin of
    * [[qSourceOverlap]], with doc mass attached so "12 families" can
    * be weighed against "how much corpus".
    *
    * Shape at scale: distinct (lang, family-hash) inventory (one
    * hash-keyed partial distinct), hash-keyed self-join (fan-out ≤
    * langs² per family), then ONE hash-keyed join of the ≤langs²-
    * per-family pair table back to the doc rows to count members —
    * all joins on the family hash, nothing doc-quadratic.
    */
  def qLangLeak(s: SparkSession, dir: String): DataFrame = {
    val rows = docs(s, dir)
      .select(col("doc_id"), col("lang"), prefixMd5(col("text")).as("h"))
      .materialized // inventory AND the member count consume it
    val inv = rows.select(col("lang"), col("h")).distinct()
    val fams = inv.select(col("lang").as("lang_a"), col("h"))
      .join(inv.select(col("lang").as("lang_b"), col("h")), "h")
      .filter(col("lang_a") < col("lang_b"))
    val counts = fams.join(rows, "h")
      .filter(col("lang") === col("lang_a") || col("lang") === col("lang_b"))
      .groupBy(col("lang_a"), col("lang_b"))
      .agg(countDistinct(col("h")).as("n_families"), count(lit(1)).as("n_docs"))
    counts
  }

  val qLangLeakSql: String =
    s"""WITH rows_ AS (
       |  SELECT doc_id, lang,
       |    md5(array_to_string(
       |      (list_filter(string_split(regexp_replace(lower(text), '\\s+', ' ', 'g'), ' '),
       |        w -> len(w) > 0))[1:$PrefixWords],
       |      ' ')) AS h
       |  FROM documents),
       |inv AS (SELECT DISTINCT lang, h FROM rows_),
       |fams AS (
       |  SELECT a.lang AS lang_a, b.lang AS lang_b, a.h
       |  FROM inv a JOIN inv b ON a.h = b.h AND a.lang < b.lang)
       |SELECT f.lang_a, f.lang_b,
       |  COUNT(DISTINCT f.h) AS n_families,
       |  COUNT(*) AS n_docs
       |FROM fams f JOIN rows_ r ON f.h = r.h
       |WHERE r.lang = f.lang_a OR r.lang = f.lang_b
       |GROUP BY f.lang_a, f.lang_b
       |ORDER BY f.lang_a, f.lang_b""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_lang_leak"       -> qLangLeak _,
    "q_dup_tokens"      -> qDupTokens _,
    "q_source_overlap"  -> qSourceOverlap _,
    "q_entity_match"    -> qEntityMatch _,
    "q_entity_best_match" -> qEntityBestMatch _,
    "q_minhash_error"   -> qMinhashError _,
    "q_lsh_bucket_stats" -> qLshBucketStats _,
    "q_banding_curve"    -> qBandingCurve _,
    "q_dup_by_batch"    -> qDupByBatch _,
    "q_dup_summary"     -> qDupSummary _,
    "q_dedup_containment" -> qDedupContainment _,
    "q_dedup_exact"     -> qDedupExact _,
    "q_prefix_dedup"    -> qPrefixDedup _,
    "q_suffix_dedup"    -> qSuffixDedup _,
    "q_dup_source"      -> qDupSource _,
    "q_dup_flow"        -> qDupFlow _,
    "q_dedup_minhash"   -> qDedupMinhash _,
    "q_dedup_simhash"   -> qDedupSimhash _,
    "q_ngram_jaccard"   -> qNgramJaccard _,
    "q_dedup_embedding" -> qDedupEmbedding _,
    "q_dedup_clusters"  -> qDedupClusters _
  )

  val oracle: Map[String, String] = Map(
    "q_lang_leak"      -> qLangLeakSql,
    "q_dup_tokens"     -> qDupTokensSql,
    "q_source_overlap" -> qSourceOverlapSql,
    "q_entity_match" -> qEntityMatchSql,
    "q_entity_best_match" -> qEntityBestMatchSql,
    "q_minhash_error" -> qMinhashErrorSql,
    "q_lsh_bucket_stats" -> qLshBucketStatsSql,
    "q_banding_curve"    -> qBandingCurveSql,
    "q_dup_by_batch" -> qDupByBatchSql,
    "q_dup_summary" -> qDupSummarySql,
    "q_dedup_exact" -> qDedupExactSql,
    "q_prefix_dedup" -> qPrefixDedupSql,
    "q_suffix_dedup" -> qSuffixDedupSql,
    "q_dup_source" -> qDupSourceSql,
    "q_dup_flow" -> qDupFlowSql,
    "q_dedup_embedding" -> qDedupEmbeddingSql,
    "q_dedup_minhash" -> qDedupMinhashSql,
    "q_dedup_simhash" -> qDedupSimhashSql,
    "q_ngram_jaccard" -> qNgramJaccardSql,
    "q_dedup_containment" -> qDedupContainmentSql,
    "q_dedup_clusters" -> qDedupClustersSql
  )
}
