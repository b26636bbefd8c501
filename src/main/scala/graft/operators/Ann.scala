package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.plans.Materialize._
import graft.plans.{Publish, SlotFold, TopK}
import graft.sources.Ingest

/** Approximate-nearest-neighbor search over the `embeddings` table
  * (SURVEY.md §2 rows 24-25).
  *
  * Scale design: the query set is small relative to the corpus, so
  *   - brute force = broadcast(queries) × corpus — a map-only scan of
  *     the corpus (the shuffle-free baseline, O(N·Q) compute);
  *   - LSH = corpus bucketed by cross-polytope hashing, queries
  *     multi-probe their nearest polytope vertices, candidates come
  *     from an equi-join on the (table,vertex) key;
  *   - IVF = corpus assigned to its nearest k-means cell, queries
  *     probe their nearest cells, candidates come from an equi-join
  *     on the cell id.
  * Each ANN step is one function that the in-session query rows and
  * the persisted-index serves share: an assign pass ([[lshAssign]],
  * [[ivfAssign]]), a probe step ([[lshProbes]], [[ivfProbes]]), a
  * candidate join ([[lshCandidates]], [[ivfCandidates]]) and the
  * cosine score ([[cosineScored]]). A query row passes the corpus
  * assigned in memory, a serve passes the rows it reads from disk.
  * Top-k per query is a window over the query partition (k rows kept
  * per partition; Spark pushes the rank filter into the sort).
  */
object Ann {

  private val K = 5

  /** Audit query-set size — FIXED, not a corpus fraction: with Q₀
    * constant, every exact baseline in the audit family (brute force,
    * quantized, both recall rows, both probe curves) is O(N·Q₀) —
    * linear in the corpus — where a `vec_id % 50` fraction made them
    * O(N²/50), unrunnable at 100×. */
  private[graft] val QueryK = 128

  /** Columns [[split]] reads from `embeddings`. Declared, so a read
    * runs no footer-inference job; [[graft.functions.VectorOps.dot]]
    * requires the float elements anyway. */
  private val EmbeddingsDdl = "vec_id BIGINT, embedding ARRAY<FLOAT>"

  /** Corpus + query split. Queries are the [[QueryK]] vectors with the
    * smallest `splitmix64(vec_id) >>> 1` — a deterministic fixed-SIZE
    * uniform sample (the `q_weighted_sample`/`q_sample_uniform` rank
    * device): rebuild-stable across runs, partitions and engines
    * (splitmix64 is a 64-bit bijection, so ranks are almost-surely
    * tie-free; vec_id breaks the 2⁻⁶³ >>>1 collision anyway).
    *
    * Shape at scale: map-only hash + TakeOrderedAndProject
    * (per-partition Q₀-heaps, Q₀-row merge) — no global sort, no
    * corpus shuffle; the query side stays broadcast-sized forever.
    */
  private[graft] def split(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.GraftBridge
    val base = Publish.readOwn(s, s"$dir/embeddings.parquet", EmbeddingsDdl)
      .select(col("vec_id"), col("embedding"), Dedup.norm("embedding").as("nrm"))
    val mixed = GraftBridge.column(graft.functions.SplitMix64(
      GraftBridge.expression(col("vec_id"))))
    val queries = base
      .withColumn("u63", shiftrightunsigned(mixed, 1))
      .orderBy(col("u63"), col("vec_id"))
      .limit(QueryK)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("nrm").as("q_nrm"))
    (base, queries)
  }

  /** The query-id set as prefixable DuckDB CTEs (replays [[split]]:
    * [[OracleEmul.mix]] in HUGEINT, `>>> 1` = `// 2` on the unsigned
    * value, rank-limit [[QueryK]]). MATERIALIZED — every oracle
    * references its `q` CTE several times and DuckDB inlines
    * multiply-referenced CTEs (the OracleEmul rule). */
  private def qidsCte(p: String): String =
    s"""${p}qids AS MATERIALIZED (
       |  SELECT vec_id FROM (
       |    SELECT vec_id, ${OracleEmul.mix("vec_id::HUGEINT")} // 2 AS u63
       |    FROM embeddings)
       |  ORDER BY u63, vec_id LIMIT $QueryK)""".stripMargin

  /** The exact cosine of a (corpus row, query) pair: `embedding` and
    * `nrm` against `q_emb` and `q_nrm`. */
  private def cosine: Column =
    (Dedup.dotExpr("embedding", "q_emb") / (col("nrm") * col("q_nrm"))).as("cosine")

  /** The score step of every float candidate set: drop each query's
    * self-pair and project (query_id, neighbor_id, cosine), then the
    * `carry` columns. */
  private def cosineScored(pairs: DataFrame, carry: String*): DataFrame =
    pairs.filter(col("vec_id") =!= col("query_id"))
      .select(Seq(col("query_id"), col("vec_id").as("neighbor_id"), cosine) ++ carry.map(col): _*)

  private def topK(scored: DataFrame): DataFrame =
    TopK(scored, Seq("query_id"), Seq(col("cosine").desc, col("neighbor_id")), K, "rnk")
      .select("query_id", "neighbor_id", "rnk", "cosine")

  // ------------------------------------------------------------------
  // Row 24: brute-force cosine top-k — the exact baseline.
  // ------------------------------------------------------------------
  def qAnnBruteforce(s: SparkSession, dir: String): DataFrame = {
    val (corpus, queries) = split(s, dir)
    topK(cosineScored(corpus.crossJoin(broadcast(queries))))
  }

  /** Oracle for [[qAnnBruteforce]] — fully hash-checked: DuckDB's
    * `list_reduce` fold mirrors [[graft.functions.VectorDot]]'s
    * left-to-right double accumulation bit-for-bit
    * ([[Dedup.sqlDot]]/[[Dedup.sqlNorm]]), so cosines, rank
    * tie-breaks and the top-k cut are identical cross-engine.
    */
  /** The brute-force program as prefixable CTEs, so
    * [[qQuantRecallSql]] can instantiate it beside the quantized
    * program without name collisions.
    */
  private def bruteforceCtes(p: String): String =
    s"""${p}base AS (
       |  SELECT vec_id, embedding, ${Dedup.sqlNorm("embedding")} AS nrm
       |  FROM embeddings),
       |${qidsCte(p)},
       |${p}q AS (
       |  SELECT vec_id AS query_id, embedding AS q_emb, nrm AS q_nrm
       |  FROM ${p}base WHERE vec_id IN (SELECT vec_id FROM ${p}qids)),
       |${p}scored AS (
       |  SELECT query_id, vec_id AS neighbor_id,
       |    ${Dedup.sqlDot("embedding", "q_emb")} / (nrm * q_nrm) AS cosine
       |  FROM ${p}base CROSS JOIN ${p}q
       |  WHERE vec_id <> query_id),
       |${p}r AS (
       |  SELECT query_id, neighbor_id, cosine,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |           ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rnk
       |  FROM ${p}scored)""".stripMargin

  val qAnnBruteforceSql: String =
    s"""WITH ${bruteforceCtes("")}
       |SELECT query_id, neighbor_id, rnk, cosine
       |FROM r WHERE rnk <= $K
       |ORDER BY query_id, rnk""".stripMargin

  // ------------------------------------------------------------------
  // Row 25: LSH-bucketed ANN — L independent CROSS-POLYTOPE tables
  // with query-directed multi-probe (the query probes its `probes`
  // nearest polytope vertices per table; the corpus indexes under its
  // single nearest). Cross-polytope (Andoni et al. 2015) replaced r3's
  // sign-random-projection. Why: (a) asymptotically optimal ρ for
  // angular distance; (b) the query explodes to tables×probes = 48
  // probe rows instead of sign-LSH's tables×(1+bits+C(bits,2)) ≈
  // 1264 at equivalent recall — a 26× smaller broadcast; (c)
  // table+vertex encode into a single int so the candidate step is
  // one equi-join on one key — shuffle-partitionable, never a scan.
  // All table keys for a vector come from ONE native codegen pass
  // ([[graft.functions.CrossPolytopeKeys]]).
  //
  // Measured design frontier (10 queries, 500 vectors whose true
  // top-5 sit at cosine 0.27-0.43 — barely 2-3σ above random for
  // dim=64; sd of a random cosine is 1/√64 = 0.125): chosen config
  // 16 tables × 3 probes → recall@5 = 0.82 (sf0.001) / 0.86 (sf0.01)
  // at ~35% of the corpus as candidates. Recall ≥0.7 under 10%
  // candidates is NOT reachable by ANY LSH family on data this
  // unclustered (best measured under 13% candidates: 0.56 sign, 0.52
  // cross-polytope) — at this extreme both families sit on the same
  // frontier, because near-random neighbors erase the ρ advantage.
  // On real embedding corpora, where near neighbors sit at cosine
  // ≥0.8, collision probability is driven by the query-neighbor
  // angle, not corpus size, and the same config's candidate fraction
  // collapses — this is the honest scale path.
  // ------------------------------------------------------------------

  private[graft] val LshTables = 16
  private[graft] val LshProbes = 3
  private[operators] val LshSeed = 0x5EEDA117L
  private[operators] val Dim = 64

  /** Map-only bucket assignment: one (vec_id, embedding, nrm, bkey)
    * row per vector per table, keyed by its nearest polytope vertex.
    * No join, no shuffle: the rotations derive from the seed inside
    * the expression. The in-memory index of [[lshScored]] and
    * [[qLshProbeCurve]], and the rows [[buildLshIndex]] and
    * [[lshUpsertBatch]] persist.
    */
  private[graft] def lshAssign(df: DataFrame): DataFrame =
    df.select(col("vec_id"), col("embedding"), col("nrm"),
      explode(graft.functions.VectorFunctions
        .xpolyKeys(col("embedding"), LshSeed, LshTables, Dim, probes = 1)).as("bkey"))

  /** Each query's probe keys: its `probes` nearest polytope vertices
    * in every table, one (query_id, q_emb, q_nrm, bkey) row per key. */
  private def lshProbes(queries: DataFrame, probes: Int): DataFrame =
    queries.select(col("query_id"), col("q_emb"), col("q_nrm"),
      explode(graft.functions.VectorFunctions
        .xpolyKeys(col("q_emb"), LshSeed, LshTables, Dim, probes)).as("bkey"))

  /** LSH candidates: the `index` rows ([[lshAssign]]'s shape) that
    * share a bucket key with a `probed` row, cosine-scored once per
    * (query, neighbor) pair, since a pair may collide in several
    * tables and probes. */
  private def lshCandidates(index: DataFrame, probed: DataFrame): DataFrame =
    cosineScored(index.join(broadcast(probed), Seq("bkey"))).distinct()

  /** Candidate (query, neighbor, cosine) rows at `probes` probed
    * vertices per table over the corpus assigned in memory — the core
    * of [[qAnnLsh]], exposed so the spec can measure the
    * recall/candidate-fraction trade. [[lshServe]] runs the same
    * candidate step over a persisted index.
    */
  private[graft] def lshScored(s: SparkSession, dir: String, probes: Int): DataFrame = {
    val (corpus, queries) = split(s, dir)
    lshCandidates(lshAssign(corpus), lshProbes(queries, probes))
  }

  def qAnnLsh(s: SparkSession, dir: String): DataFrame =
    topK(lshScored(s, dir, LshProbes))

  /** Oracle for [[qAnnLsh]] — fully hash-checked. The cross-polytope "model state" is 16
    * seeded 64×64 gaussian rotations, but the stream is the SAME
    * `scala.util.Random(seed + t).nextGaussian` fill
    * [[graft.functions.CrossPolytopeKeys]] materializes, and
    * Double.toString round-trips — so the matrices INTERPOLATE as a
    * literal `DOUBLE[][]` VALUES table (the qDedupEmbeddingSql device
    * at 128× the literal count; ~1.3 MB of SQL parses fine). Each
    * rotated coordinate u_j is the sequential [[Dedup.sqlDot]]-style
    * fold (JVM operation order), so u is bit-exact cross-engine, and
    * the kernel's probes-pass argmax-with-exclusion (strict `>`,
    * scan order = lowest j wins ties) is EXACTLY a rank over
    * (|u| DESC, j ASC): pass p selects the not-yet-taken max — rank
    * p+1 in that order. Corpus keys take rank 1 (probes=1), query
    * keys ranks 1..[[LshProbes]]; queries being a corpus subset, both
    * come from ONE rotation CTE. Key encoding, candidate equi-join,
    * DISTINCT pair set, cosine and the (cosine DESC, id) top-k cut
    * then replay the Spark plan exactly.
    */
  /** The full LSH CTE chain through the ranked candidate scores `r`
    * (shares `base`/`q` names with [[bruteforceCtes]]' unprefixed
    * form, so recall-style compositions can hang both off one split).
    * [[qAnnLshSql]] and [[qAnnRecallSql]] both build on this. */
  private def lshCtes: String = {
    // the identical gaussian stream as CrossPolytopeKeys.planesFlat:
    // table t seeded LshSeed + t, row-major fill, row j = slice j
    val rotValues = (0 until LshTables).map { t =>
      val r = new scala.util.Random(LshSeed + t)
      val flat = Array.fill(Dim * Dim)(r.nextGaussian())
      val rows = (0 until Dim)
        .map(j => flat.slice(j * Dim, (j + 1) * Dim).mkString("[", ", ", "]::DOUBLE[]"))
        .mkString("[", ",\n    ", "]")
      s"($t, $rows)"
    }.mkString(",\n  ")
    val rowDot = "list_reduce(list_transform(list_zip(rr, b.embedding), " +
      "z -> z[1] * CAST(z[2] AS DOUBLE)), (acc, v) -> acc + v)"
    s"""rot AS (
       |  SELECT * FROM (VALUES
       |  $rotValues) AS rm(t, m)),
       |base AS (
       |  SELECT vec_id, embedding, ${Dedup.sqlNorm("embedding")} AS nrm
       |  FROM embeddings),
       |${qidsCte("")},
       |q AS (
       |  SELECT vec_id AS query_id, embedding AS q_emb, nrm AS q_nrm
       |  FROM base WHERE vec_id IN (SELECT vec_id FROM qids)),
       |cu AS (
       |  SELECT b.vec_id, rm.t,
       |    unnest(range(0, $Dim)) AS j,
       |    unnest(list_transform(rm.m, rr -> $rowDot)) AS u
       |  FROM base b CROSS JOIN rot rm),
       |ranked AS (
       |  SELECT vec_id, t, j, u,
       |    ROW_NUMBER() OVER (PARTITION BY vec_id, t
       |      ORDER BY abs(u) DESC, j) AS pr
       |  FROM cu),
       |ck AS (
       |  SELECT vec_id,
       |    CAST(t * ${2 * Dim} + 2 * j + CASE WHEN u > 0 THEN 1 ELSE 0 END
       |      AS INTEGER) AS bkey
       |  FROM ranked WHERE pr = 1),
       |${lshServeCtes("", LshProbes)}""".stripMargin
  }

  /** One LSH serve at `probes` probed vertices per table: query keys,
    * candidate equi-join, exact rerank — CTEs `qk/cand/scored/r` with
    * a `tag` suffix (empty tag = the deployed [[qAnnLshSql]] chain).
    */
  private def lshServeCtes(tag: String, probes: Int): String =
    s"""qk$tag AS (
       |  SELECT vec_id AS query_id,
       |    CAST(t * ${2 * Dim} + 2 * j + CASE WHEN u > 0 THEN 1 ELSE 0 END
       |      AS INTEGER) AS bkey
       |  FROM ranked WHERE pr <= $probes
       |    AND vec_id IN (SELECT vec_id FROM qids)),
       |cand$tag AS (
       |  SELECT DISTINCT k.query_id, c.vec_id AS neighbor_id
       |  FROM ck c JOIN qk$tag k ON c.bkey = k.bkey
       |  WHERE c.vec_id <> k.query_id),
       |scored$tag AS (
       |  SELECT cd.query_id, cd.neighbor_id,
       |    ${Dedup.sqlDot("n.embedding", "qq.q_emb")} / (n.nrm * qq.q_nrm) AS cosine
       |  FROM cand$tag cd
       |  JOIN base n ON n.vec_id = cd.neighbor_id
       |  JOIN q qq ON qq.query_id = cd.query_id),
       |r$tag AS (
       |  SELECT query_id, neighbor_id, cosine,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |           ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rnk
       |  FROM scored$tag)""".stripMargin

  val qAnnLshSql: String =
    s"""WITH $lshCtes
       |SELECT query_id, neighbor_id, rnk, cosine
       |FROM r WHERE rnk <= $K
       |ORDER BY query_id, rnk""".stripMargin

  /** Oracle for [[qAnnRecall]] — promoted from rows-only (r14; the
    * r13 watch item): the [[lshCtes]] chain and a brute-force rank off
    * the SAME `base`/`q` split, per-query hit counting — the proof
    * that recall-style compositions of oracle-expressible programs are
    * themselves oracle-expressible.
    */
  val qAnnRecallSql: String =
    s"""WITH $lshCtes,
       |bfscored AS (
       |  SELECT query_id, vec_id AS neighbor_id,
       |    ${Dedup.sqlDot("embedding", "q_emb")} / (nrm * q_nrm) AS cosine
       |  FROM base CROSS JOIN q
       |  WHERE vec_id <> query_id),
       |bfr AS (
       |  SELECT query_id, neighbor_id,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |           ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rnk
       |  FROM bfscored),
       |bfk AS (SELECT query_id, neighbor_id FROM bfr WHERE rnk <= $K),
       |lk AS (SELECT query_id, neighbor_id FROM r WHERE rnk <= $K)
       |SELECT b.query_id,
       |  COUNT(*) AS k,
       |  CAST(COUNT(l.neighbor_id) AS BIGINT) AS n_overlap,
       |  (CAST(COUNT(l.neighbor_id) AS BIGINT) * 10000) // COUNT(*) AS recall_bp
       |FROM bfk b
       |LEFT JOIN lk l ON b.query_id = l.query_id AND b.neighbor_id = l.neighbor_id
       |GROUP BY b.query_id
       |ORDER BY b.query_id""".stripMargin

  // ------------------------------------------------------------------
  // Row 46: IVF — inverted-file ANN, the OTHER standard scale path
  // (FAISS/ScaNN lineage; Jégou et al. 2011's coarse quantizer without
  // the PQ residual codes). A small k-means codebook partitions the
  // corpus into cells; a query probes only its nProbe nearest cells.
  // Complements LSH: data-DEPENDENT cells adapt to clustered corpora
  // (where real embeddings live), vs LSH's data-oblivious hashes.
  //
  // Scale shape: the codebook is a k·dim model parameter carried
  // inside a native [[graft.functions.NearestCell]] expression, so
  // cell assignment is a pure MAP — no join, no shuffle, ever. Each
  // Lloyd training round is one such map pass folded into k·dim
  // partial sums per partition by the [[graft.plans.SlotFold]] device
  // ([[lloydRound]]), one job with no shuffle; nothing ever pairs
  // corpus rows with each other. Serving is an equi-join on cell id
  // against the broadcast probe list: the corpus scan drops to
  // nProbe/k of the index, the IVF promise.
  // ------------------------------------------------------------------

  private[graft] val IvfCells = 16
  private[graft] val IvfProbes = 6
  private[graft] val IvfIters = 2
  // fixed-point scale for deterministic centroid sums (2^20)
  private val FpScale = 1048576L

  /** One Lloyd round's refined centroids, laid out like `prev`. Each
    * row of `rows` carries a `slot` column (the cell, or the PQ codes)
    * and its `embedding`; component `pos` of a row belongs to centroid
    * entry `slotOf(row, pos)`. The refined entry is the mean of the
    * components that landed there; an entry no row reached keeps its
    * previous value (standard Lloyd handling).
    *
    * The means are exact FIXED-POINT sums, not avg(double): each
    * component is quantized to round(v·2^20) by the SQL expression the
    * oracle replays (FpScale = 2^20 is a power of two, so the scaling
    * multiply is IEEE-exact in any float width — no engine drift) and
    * summed as LONG. Integer addition is associative and commutative,
    * so the centroids are bit-identical regardless of partition count
    * or merge order, and boundary vectors can't drift between runs.
    * The 2^-21 quantization error is noise against the float32
    * inputs. Headroom: |v| < 2^7 ⇒ |q| < 2^27, safe to ~2^35 rows per
    * entry; past that the round throws `ArithmeticException` instead of
    * wrapping — audit before raising FpScale. A null component counts
    * toward its entry's mean but adds nothing to its sum, as `count(1)`
    * and `sum` do in the oracle's replay.
    *
    * Shape: ONE [[graft.plans.SlotFold]] job over a `2·prev.length`
    * long array, sums at `[0, n)` and counts at `[n, 2n)`: a
    * model-sized bound, never data-sized. The corpus never shuffles.
    */
  private def lloydRound(rows: DataFrame, prev: Array[Double])(
      slotOf: (InternalRow, Int) => Int): Array[Double] = {
    val n = prev.length
    val quantized = rows.select(col("slot"),
      expr(s"transform(embedding, v -> CAST(round(v * $FpScale) AS BIGINT))"))
    val sums = SlotFold(quantized, 2 * n) { (r, acc) =>
      if (!r.isNullAt(0) && !r.isNullAt(1)) {
        val q = r.getArray(1)
        var pos = 0
        while (pos < q.numElements) {
          val at = slotOf(r, pos)
          SlotFold.add(acc, n + at, 1L)
          if (!q.isNullAt(pos)) SlotFold.add(acc, at, q.getLong(pos))
          pos += 1
        }
      }
    }
    Array.tabulate(n)(i => if (sums(n + i) == 0) prev(i) else sums(i).toDouble / FpScale / sums(n + i))
  }

  /** Train the codebook: `IvfCells` centroids (flattened row-major
    * k×dim doubles), hash-spread deterministic seed vectors refined by
    * `iters` Lloyd rounds under cosine — the search metric — so cells
    * match query-time geometry.
    *
    * The codebook is a MODEL PARAMETER: k·dim doubles, bounded by
    * config, never by data size. It lives on the driver between
    * rounds and ships to executors inside the
    * [[graft.functions.NearestCell]] expression, exactly like the
    * seeded LSH plane matrices. Each Lloyd round is therefore ONE job
    * ([[lloydRound]]): a map-only assignment pass folded into k·dim
    * partial sums per partition, tree-merged on the executors at
    * scale — no corpus-wide shuffle anywhere in the build (the obvious
    * broadcast-crossjoin + per-vector argmax-aggregate formulation
    * re-shuffles every embedding once per round).
    */
  private[graft] def trainCodebook(corpus: DataFrame, iters: Int): Array[Double] = {
    // hash-spread seed pick. md5 (not xxhash64): same spread quality,
    // but a STANDARD hash both engines implement identically, so the
    // whole training loop is SQL-emulable (see qAnnIvfSql's oracle,
    // which hash-checks q_ann_ivf)
    val seeds = corpus
      .withColumn("h", md5(col("vec_id").cast("string")))
      .orderBy(col("h"), col("vec_id")).limit(IvfCells) // TakeOrdered over k tiny rows
      .select(col("embedding").cast("array<double>").as("e"))
      .collect()
    require(seeds.length == IvfCells,
      s"corpus has fewer than $IvfCells vectors — IVF needs at least one per cell")
    var cent: Array[Double] = seeds.flatMap(_.getSeq[Double](0)).toArray
    for (_ <- 1 to iters) {
      val assigned = corpus.select(
        graft.functions.VectorFunctions.nearestCell(col("embedding"), cent.toSeq, Dim).as("slot"),
        col("embedding"))
      cent = lloydRound(assigned, cent)((r, pos) => r.getInt(0) * Dim + pos)
    }
    cent
  }

  /** Session-scoped trained-codebook cache: the
    * `q_ann_ivf` query row used to re-run the Lloyd loop on every
    * invocation — ~2.9 s of the ~4 s bench entry was model-build tax
    * that a deployment amortizes via [[buildIvfIndex]]. Same device as
    * `Analytics.copurchaseGraph`'s graph cache: train once per
    * (session, dir), serve every subsequent invocation from the frozen
    * k·dim array. The cached value is a MODEL PARAMETER (IvfCells×Dim
    * doubles — bytes, not a corpus-sized dataset), so holding it for
    * the session lifetime is free.
    *
    * STALENESS CONTRACT (shared with `Analytics.copurchaseGraph`): an
    * entry reflects the corpus AS OF the first IVF call of the session
    * against that dir. Data dirs are immutable snapshots, so entries
    * are never invalidated by data changes; a caller that rewrites a
    * dir in place mid-session must call [[clearModelCache]] first.
    * Correctness is unaffected either way at fixed data:
    * [[trainCodebook]] is bit-deterministic (fixed-point Lloyd sums),
    * so the cached array equals what a fresh train would produce —
    * AnnSpec pins cached === freshly-trained.
    */
  private val codebookCache = new graft.plans.SessionCache[Array[Double]]

  private[graft] def sessionCodebook(s: SparkSession, dir: String,
      corpus: DataFrame): Array[Double] =
    codebookCache.getOrElseUpdate(s, dir)(trainCodebook(corpus, IvfIters))

  /** Drop every session-scoped frozen-model cache (see the staleness
    * contract on [[sessionCodebook]]): the cell codebook, the PQ
    * sub-codebooks and the session-built IVF-PQ index dir (all three
    * are deterministic functions of the data dir, so they age
    * together). */
  def clearModelCache(): Unit = {
    codebookCache.clear()
    pqCodebookCache.clear()
    pqIndexCache.clear()
  }

  /** Map-only cell assignment against a frozen codebook: `df` plus
    * its nearest `cell`. No join, no shuffle: the codebook ships
    * inside the expression. The in-memory index of [[ivfScored]], the
    * residual input of the PQ passes, and the rows [[buildIvfIndex]],
    * [[ivfUpsertBatch]] and the IVF-PQ halves persist.
    */
  private[graft] def ivfAssign(df: DataFrame, cent: Array[Double]): DataFrame =
    df.withColumn("cell",
      graft.functions.VectorFunctions.nearestCell(col("embedding"), cent.toSeq, Dim))

  /** The queries plus `cells`, each query's top-`probes` cells by
    * float cosine to the frozen centroids, best first: one
    * [[graft.functions.NearestCells]] expression per query row, the
    * centroids inside it. The float centroid copies only affect probe
    * ORDER, assignment stays double. */
  private def ivfProbes(queries: DataFrame, cent: Array[Double], probes: Int): DataFrame =
    queries.withColumn("cells",
      graft.functions.VectorFunctions.nearestCells(col("q_emb"), col("q_nrm"), cent.toSeq, Dim, probes))

  /** IVF candidates: the `index` rows ([[ivfAssign]]'s shape) in each
    * query's probed cells, cosine-scored and tagged with the probe
    * rank `prk` (1 = best) of the cell that recruited them. */
  private def ivfCandidates(index: DataFrame, probed: DataFrame): DataFrame = {
    val probeRows = probed
      .select(col("query_id"), col("q_emb"), col("q_nrm"),
        posexplode(col("cells")).as(Seq("pos", "cell")))
      .withColumn("prk", col("pos") + 1)
    cosineScored(index.join(broadcast(probeRows), Seq("cell")), "prk")
  }

  private[graft] def ivfScored(s: SparkSession, dir: String, probes: Int): DataFrame = {
    val (corpus, queries) = split(s, dir)
    val cent = sessionCodebook(s, dir, corpus)
    ivfCandidates(ivfAssign(corpus, cent), ivfProbes(queries, cent, probes))
  }

  def qAnnIvf(s: SparkSession, dir: String): DataFrame =
    topK(ivfScored(s, dir, IvfProbes))

  /** Oracle for [[qAnnIvf]] — fully hash-checked. Unlike the LSH
    * rotations (code constants → literal interpolation), the codebook
    * is DATA-derived,
    * so a literal-codebook SQL would pin one scale factor; instead the
    * oracle RE-TRAINS inside DuckDB, which works because every
    * training step was already built deterministic:
    *   - seed pick = TakeOrdered on (md5(vec_id), vec_id) — a standard
    *     hash both engines compute identically;
    *   - cell assignment = argmax of (sequential-fold dot) × invNorm,
    *     strict `>` keeping the lowest cell — a rank over
    *     (score DESC, cell ASC), the [[qAnnLshSql]] argmax device;
    *   - Lloyd means = exact BIGINT fixed-point sums (order-free) with
    *     the JVM's two-division rescale replayed literally, empty
    *     cells COALESCEd to the previous round's centroid;
    * then the serve path (float-cast probe ranking, nProbe cut, exact
    * rerank, top-k) replays [[ivfScored]]'s plan. The float32 probe
    * copies round-trip through `CAST(x AS FLOAT)` — the same IEEE
    * double→float rounding as `Double.toFloat`.
    */
  // fold devices shared by the IVF oracles (Dedup.sqlDot shape, but
  // the centroid side is already DOUBLE[] — only the embedding side
  // needs widening)
  private def ivfDDot(cv: String, emb: String): String =
    s"list_reduce(list_transform(list_zip($cv, $emb), " +
      "z -> z[1] * CAST(z[2] AS DOUBLE)), (acc, v) -> acc + v)"
  private def ivfDNorm2(cv: String): String =
    s"list_reduce(list_transform($cv, x -> x * x), (acc, v) -> acc + v)"
  // one Lloyd round: assign corpus to `cin`, roll exact fixed-point
  // means, emit `cout` (empty cells keep cin's centroid)
  private def ivfLloydRound(cin: String, cout: String, n: Int): String =
    s"""asg$n AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT b.vec_id, c.cell,
       |      ROW_NUMBER() OVER (PARTITION BY b.vec_id ORDER BY
       |        ${ivfDDot("c.cvec", "b.embedding")}
       |          * (CASE WHEN ${ivfDNorm2("c.cvec")} > 0
       |             THEN 1.0 / sqrt(${ivfDNorm2("c.cvec")}) ELSE 0.0 END) DESC,
       |        c.cell) AS rk
       |    FROM base b CROSS JOIN $cin c) z
       |  WHERE rk = 1),
       |m$n AS (
       |  SELECT a.cell, fp.pos, SUM(fp.f) AS s, COUNT(*) AS c
       |  FROM asg$n a JOIN fpos fp USING (vec_id)
       |  GROUP BY a.cell, fp.pos),
       |$cout AS (
       |  SELECT ce.cell,
       |    list(COALESCE((CAST(m$n.s AS DOUBLE) / $FpScale.0)
       |                    / CAST(m$n.c AS DOUBLE), ce.cv)
       |         ORDER BY ce.pos) AS cvec
       |  FROM (SELECT cell, unnest(range(0, $Dim)) AS pos, unnest(cvec) AS cv
       |        FROM $cin) ce
       |  LEFT JOIN m$n ON ce.cell = m$n.cell AND ce.pos = m$n.pos
       |  GROUP BY ce.cell)""".stripMargin

  /** Shared oracle CTE chain: corpus/query split, fixed-point
    * components, deterministic seed pick, the Lloyd rounds, the final
    * cell index and float-cast centroid table — everything through
    * `centf`. [[qAnnIvfSql]] and [[qAnnProbeCurveSql]] both append
    * their serve tails to this, so the retrained codebook cannot
    * drift between the two oracles.
    */
  private def ivfTrainCtes: String =
    s"""base AS (
       |  SELECT vec_id, embedding, ${Dedup.sqlNorm("embedding")} AS nrm
       |  FROM embeddings),
       |${qidsCte("")},
       |q AS (
       |  SELECT vec_id AS query_id, embedding AS q_emb, nrm AS q_nrm
       |  FROM base WHERE vec_id IN (SELECT vec_id FROM qids)),
       |fpos AS (
       |  SELECT vec_id, unnest(range(0, $Dim)) AS pos,
       |    CAST(round(CAST(unnest(embedding) AS DOUBLE) * $FpScale) AS BIGINT) AS f
       |  FROM embeddings),
       |cent0 AS (
       |  SELECT cell, cvec FROM (
       |    SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cvec,
       |      ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1
       |        AS cell
       |    FROM embeddings) z
       |  WHERE cell < $IvfCells),
       |${ivfLloydRound("cent0", "cent1", 1)},
       |${ivfLloydRound("cent1", "cent2", 2)},
       |idx AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT b.vec_id, c.cell,
       |      ROW_NUMBER() OVER (PARTITION BY b.vec_id ORDER BY
       |        ${ivfDDot("c.cvec", "b.embedding")}
       |          * (CASE WHEN ${ivfDNorm2("c.cvec")} > 0
       |             THEN 1.0 / sqrt(${ivfDNorm2("c.cvec")}) ELSE 0.0 END) DESC,
       |        c.cell) AS rk
       |    FROM base b CROSS JOIN cent2 c) z
       |  WHERE rk = 1),
       |centf AS (
       |  SELECT cell, list_transform(cvec, x -> CAST(x AS FLOAT)) AS centroid
       |  FROM cent2),
       |pr AS (
       |  SELECT query_id, cell, prk FROM (
       |    SELECT qq.query_id, cf.cell,
       |      ROW_NUMBER() OVER (PARTITION BY qq.query_id ORDER BY
       |        ${Dedup.sqlDot("qq.q_emb", "cf.centroid")}
       |          / (qq.q_nrm * ${Dedup.sqlNorm("cf.centroid")}) DESC,
       |        cf.cell) AS prk
       |    FROM q qq CROSS JOIN centf cf) z)""".stripMargin

  /** One IVF serve at `probes` probed cells: candidate join + exact
    * rerank + top-[[K]] cut, as CTEs `s\$tag`/`k\$tag`. */
  private def ivfServeCtes(tag: String, probes: Int): String =
    s"""s$tag AS (
       |  SELECT p.query_id, b.vec_id AS neighbor_id,
       |    ${Dedup.sqlDot("b.embedding", "qq.q_emb")} / (b.nrm * qq.q_nrm) AS cosine
       |  FROM idx i
       |  JOIN (SELECT query_id, cell FROM pr WHERE prk <= $probes) p ON i.cell = p.cell
       |  JOIN base b ON b.vec_id = i.vec_id
       |  JOIN q qq ON qq.query_id = p.query_id
       |  WHERE i.vec_id <> p.query_id),
       |k$tag AS (
       |  SELECT query_id, neighbor_id, cosine,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |           ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rnk
       |  FROM s$tag)""".stripMargin

  val qAnnIvfSql: String =
    s"""WITH $ivfTrainCtes,
       |${ivfServeCtes("v", IvfProbes)}
       |SELECT query_id, neighbor_id, rnk, cosine
       |FROM kv WHERE rnk <= $K
       |ORDER BY query_id, rnk""".stripMargin

  // Probe counts for the recall curve: 1 (cheapest), doublings, and
  // the deployed IvfProbes setting — the knee of the curve is the
  // tuning answer.
  private val ProbeCurve = Seq(1, 2, 4, IvfProbes)

  /** IVF probe-count recall curve — the tuning table an ANN deployment
    * reads before picking nProbe: for each probe count, the fraction
    * of the exact brute-force top-[[K]] the IVF serve recovers
    * (recall@K, ppm, aggregated over all queries). The scan cost of a
    * probe setting is nProbe/k of the index by construction, so this
    * row IS the cost/recall frontier; `q_ann_ivf` runs at the deployed
    * [[IvfProbes]] point. Fully hash-checked — the oracle re-trains
    * the codebook in DuckDB (the [[qAnnIvfSql]] device) and replays
    * each probe cut from the SAME shared CTE chain, answering the
    * standing rows-only concern for recall-style compositions: where
    * the constituents are oracle-expressible, so is the recall rollup.
    *
    * Shape at scale: the baseline is the brute-force row (its own
    * documented O(Q·N) oracle status); each curve point is one
    * cell-equi-join serve against the same session codebook + a
    * K-bounded hit join — the curve costs |probe points| serves, which
    * a tuning run pays once, not per query.
    */
  def qAnnProbeCurve(s: SparkSession, dir: String): DataFrame = {
    import graft.plans.Materialize.MaterializeOps
    val bfk = qAnnBruteforce(s, dir)
      .select(col("query_id"), col("neighbor_id")).materialized
    val nb = bfk.agg(count(lit(1)).as("n_base"))
    // r21 OPTIMIZATION (guide §2.4 — same outputs, one serve pass
    // instead of four): probe lists NEST (the top-p cells are a prefix
    // of the top-maxP ranking) and every vector lives in exactly ONE
    // cell, so the probes=p candidate set is the max-probe pair set
    // restricted to recruiting-cell rank ≤ p. One cell-equi serve at
    // the curve's max tags each pair with that rank ([[ivfScored]]'s
    // `prk`); each curve point is a filter + top-K window over the
    // checkpointed pair table instead of its own serve join.
    val pairs = ivfScored(s, dir, ProbeCurve.max).materialized
    ProbeCurve.map { p =>
      topK(pairs.filter(col("prk") <= p))
        .select(col("query_id"), col("neighbor_id"))
        .join(bfk, Seq("query_id", "neighbor_id"))
        .agg(count(lit(1)).as("n_hits"))
        .select(lit(p.toLong).as("n_probes"), col("n_hits"))
    }.reduce(_ unionByName _)
      .crossJoin(broadcast(nb))
      .select(col("n_probes"), col("n_base").as("n_baseline"), col("n_hits"),
        expr("(n_hits * 1000000) DIV n_base").as("recall_ppm"))
  }

  /** Oracle for [[qAnnProbeCurve]]: the shared [[ivfTrainCtes]] chain,
    * one [[ivfServeCtes]] tail per probe point, the
    * [[bruteforceCtes]] baseline under a `bf` prefix, exact hit joins.
    */
  val qAnnProbeCurveSql: String = {
    val serves = ProbeCurve.map(p => ivfServeCtes(s"p$p", p)).mkString(",\n")
    val hits = ProbeCurve.map { p =>
      s"""h$p AS (
         |  SELECT CAST($p AS BIGINT) AS n_probes, CAST(COUNT(*) AS BIGINT) AS n_hits
         |  FROM (SELECT query_id, neighbor_id FROM kp$p WHERE rnk <= $K) iv
         |  JOIN bfk USING (query_id, neighbor_id))""".stripMargin
    }.mkString(",\n")
    val union = ProbeCurve.map(p => s"SELECT * FROM h$p").mkString("\n    UNION ALL ")
    s"""WITH $ivfTrainCtes,
       |$serves,
       |${bruteforceCtes("bf")},
       |bfk AS (SELECT query_id, neighbor_id FROM bfr WHERE rnk <= $K),
       |nq AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_base FROM bfk),
       |$hits
       |SELECT n_probes, nq.n_base AS n_baseline, n_hits,
       |  (n_hits * 1000000) // nq.n_base AS recall_ppm
       |FROM ($union) CROSS JOIN nq
       |ORDER BY n_probes""".stripMargin
  }

  /** Columns of the float rows [[ivfAssign]] writes: the IVF
    * `index.parquet` and the IVF-PQ `rerank.parquet`, `cell` being the
    * partition column. */
  private[graft] val FloatRowsDdl = "vec_id BIGINT, embedding ARRAY<FLOAT>, nrm DOUBLE, cell INT"

  /** Build the IVF index ONCE — the production shape (the `q_ann_ivf`
    * bench row trains once per session via [[sessionCodebook]]; a
    * deployment amortizes further: build offline, serve many). The
    * index is PARTITIONED BY CELL, so
    * serving gets its nProbe/k scan discount from the STORAGE layout:
    * probing 6 of 16 cells reads 6 directories, enforced by partition
    * pruning in the scan, not by a runtime filter over everything
    * (AnnSpec asserts the PartitionFilters). Layout:
    * `<path>/codebook.parquet` (cell, centroid) and
    * `<path>/index.parquet/cell=N/` (vec_id, embedding, nrm).
    * The whole root is published through [[Publish]], so codebook and
    * cells change together and a rebuild retires every streamed batch.
    *
    * @param indexFilter bounds the initially-indexed subset (the
    *   codebook still trains on the FULL corpus — AnnSpec builds a
    *   partial index and upserts the remainder as a batch to prove
    *   serve-equivalence with a one-shot build).
    */
  private[graft] def buildIvfIndex(s: SparkSession, dir: String, path: String,
      indexFilter: Column = lit(true)): Unit = {
    val (corpus, _) = split(s, dir)
    val cent = sessionCodebook(s, dir, corpus)
    Publish(s, path) { tmp =>
      writeCodebook(s, tmp, cent)
      ivfAssign(corpus.filter(indexFilter), cent)
        .write.partitionBy("cell").parquet(s"$tmp/index.parquet")
    }
  }

  /** Incremental IVF index maintenance: arrivals are assigned
    * map-only to their nearest frozen-codebook cell ([[ivfAssign]])
    * and published as streamed batch `batchId` ([[Publish.batchOf]]),
    * a cell-partitioned `index.parquet` that [[ivfServe]] scans beside
    * the resident one with the same partition pruning. Arrivals carry
    * the index row shape (vec_id, embedding, nrm).
    *
    * A replay of the same batch id (foreachBatch re-delivers after a
    * crash) publishes the same batch again, so the index converges to
    * exactly-once contents. The caller owns vec_id uniqueness across
    * the resident index and distinct batches. An empty batch is
    * skipped. Assignments stay exact w.r.t. the frozen centroids, but
    * as arrivals drift from the training distribution recall decays:
    * [[qAnnRecall]] is the monitor and [[buildIvfIndex]], which
    * retires every batch, the repair.
    */
  private[graft] def ivfUpsertBatch(s: SparkSession, path: String,
      arrivals: DataFrame, batchId: Long): Unit =
    if (!arrivals.isEmpty) {
      Publish.recover(s, path)
      val cent = readCodebook(s, path)
      Publish(s, Publish.batchOf(path, batchId)) { tmp =>
        ivfAssign(arrivals, cent).write.partitionBy("cell").parquet(s"$tmp/index.parquet")
      }
    }

  /** Persist the frozen cell codebook as one (cell, centroid) row per
    * cell; [[CodebookDdl]] is the layout [[readCodebook]] reads. */
  private def writeCodebook(s: SparkSession, root: String, cent: Array[Double]): Unit = {
    import s.implicits._
    (0 until IvfCells).map(t => (t, cent.slice(t * Dim, (t + 1) * Dim)))
      .toDF("cell", "centroid")
      .write.parquet(s"$root/codebook.parquet")
  }

  private val CodebookDdl = "cell INT, centroid ARRAY<DOUBLE>"

  /** The frozen codebook as the flat cell-major array
    * [[trainCodebook]] produces, one collect with every cell placed
    * and checked by [[placeCodebook]]. */
  private[graft] def readCodebook(s: SparkSession, path: String): Array[Double] = {
    val artifact = s"$path/codebook.parquet"
    placeCodebook(artifact, Publish.readOwn(s, artifact, CodebookDdl).collect())
  }

  /** The collected rows of `artifact`, a [[CodebookDdl]] table, placed
    * by [[Publish.placeModelRows]] into the flat cell-major codebook. */
  private def placeCodebook(artifact: String, rows: Array[Row]): Array[Double] =
    Publish.placeModelRows(artifact, rows, "cell", 0, IvfCells, "centroid")
      .flatMap { r =>
        val v = r.getSeq[Any](r.fieldIndex("centroid"))
        require(v.length == Dim && !v.contains(null),
          s"model table $artifact: cell ${r.getInt(r.fieldIndex("cell"))} " +
            s"needs $Dim non-null components")
        v.map(_.asInstanceOf[Double])
      }

  /** The cells of the [[ivfProbes]] rows as a static `isin` on the
    * `cell` partition column of a persisted index, so its scan never
    * opens an unprobed cell directory. The rows are one per query, each
    * with `probes` cells, so collecting them is driver-safe by
    * construction; the distinct runs on the driver. */
  private def probedCells(probed: DataFrame): Column =
    col("cell").isin(probed.select("cells").collect()
      .flatMap(_.getSeq[Int](0)).distinct.sorted.map(Integer.valueOf): _*)

  /** Serve top-k from a prebuilt [[buildIvfIndex]] index: [[ivfScored]]'s
    * candidate step over the persisted rows, the scan pruned to the
    * probed cells.
    */
  private[graft] def ivfServe(s: SparkSession, dir: String, path: String,
      probes: Int = IvfProbes): DataFrame = {
    Publish.recover(s, path)
    val (_, queries) = split(s, dir)
    val probed = ivfProbes(queries, readCodebook(s, path), probes)
    // resident build + streamed batches, pruned to the probed cells.
    // One batch per micro-batch since the last rebuild, which retires
    // them: a planner-side listing, not a data cost.
    val index = Publish.readRoots(s, Publish.roots(s, path), "index.parquet", FloatRowsDdl)
      .filter(probedCells(probed))
    topK(ivfCandidates(index, probed))
  }

  // ------------------------------------------------------------------
  // Persisted LSH index — the [[buildIvfIndex]] triad for the
  // data-OBLIVIOUS family. Layout:
  //   <path>/meta.parquet                 (lsh_seed, n_tables, dim)
  //   <path>/index.parquet                (vec_id, embedding, nrm, bkey)
  //   <path>/stream/batch-…/index.parquet (streamed batches, same layout)
  // The "model" is the seed: the 16 cross-polytope rotations derive
  // deterministically from it inside [[graft.functions.CrossPolytopeKeys]],
  // so persisting (seed, tables, dim) persists the rotation tables —
  // serve VALIDATES the meta against the session constants instead of
  // silently probing a differently-seeded index. Unlike IVF (one cell
  // per vector), multi-table LSH stores each vector once PER TABLE —
  // a deliberate 16× storage-for-recall trade (the standard LSH
  // memory bill; a postings-only layout with a vec_id join back would
  // store once but pay a corpus shuffle per serve, the wrong side of
  // the trade for a read-mostly index).
  //
  // `index.parquet` is NOT partitioned by bucket, unlike the IVF
  // cells. The bucket space is small (tables × 2·dim = 2,048 keys at
  // any corpus size) and a serve probes [[QueryK]] × [[LshProbes]] =
  // 384 keys in each table's 128, so the probed buckets hold ~96% of
  // the index rows (95.7–96.4% at sf0.001–sf0.1). Bucket pruning
  // would skip at most ~4% of the scan, at the price of a driver
  // collect per serve and one directory per bucket per write. A root
  // with `bkey=N` directories still reads under [[LshRowsDdl]]:
  // partition discovery supplies `bkey`.
  // ------------------------------------------------------------------

  /** Recover the index root, then check its meta against the session
    * constants — the first step of every LSH entry point. The meta is
    * read under [[LshMetaDdl]], by name, so a reordered file still
    * validates; a missing or renamed column reads as null and rejects
    * the index like a mismatched value does. */
  private def lshMetaOk(s: SparkSession, path: String): Unit = {
    Publish.recover(s, path)
    val meta = Publish.readOwn(s, s"$path/meta.parquet", LshMetaDdl).collect()
    require(meta.sameElements(Seq(Row(LshSeed, LshTables, Dim))),
      s"LSH index at $path was built with " +
        meta.map(m => s"(seed=${m.get(0)}, tables=${m.get(1)}, dim=${m.get(2)})").mkString(", ") +
        s" — session expects ($LshSeed, $LshTables, $Dim); rebuild the index")
  }

  /** Columns of the LSH `meta.parquet`, one row. */
  private val LshMetaDdl = "lsh_seed BIGINT, n_tables INT, dim INT"

  /** Columns of the LSH `index.parquet` ([[lshAssign]]'s rows). */
  private val LshRowsDdl = "vec_id BIGINT, embedding ARRAY<FLOAT>, nrm DOUBLE, bkey INT"

  /** @param indexFilter bounds the initially-indexed subset (AnnSpec
    *   builds a partial index and upserts the remainder to prove
    *   serve-equivalence with a one-shot build).
    */
  private[graft] def buildLshIndex(s: SparkSession, dir: String, path: String,
      indexFilter: Column = lit(true)): Unit = {
    import s.implicits._
    val (corpus, _) = split(s, dir)
    // one swap of the root: meta and rows change together, and a
    // rebuild retires the streamed batches
    Publish(s, path) { tmp =>
      Seq((LshSeed, LshTables, Dim)).toDF("lsh_seed", "n_tables", "dim")
        .write.parquet(s"$tmp/meta.parquet")
      lshAssign(corpus.filter(indexFilter)).write.parquet(s"$tmp/index.parquet")
    }
  }

  /** Incremental LSH index maintenance: [[ivfUpsertBatch]]'s
    * contract with the bucket function as the model. Assignments are
    * exact forever because the rotations never retrain, so LSH has no
    * codebook drift to repair.
    */
  private[graft] def lshUpsertBatch(s: SparkSession, path: String,
      arrivals: DataFrame, batchId: Long): Unit =
    if (!arrivals.isEmpty) {
      lshMetaOk(s, path)
      Publish(s, Publish.batchOf(path, batchId)) { tmp =>
        lshAssign(arrivals).write.parquet(s"$tmp/index.parquet")
      }
    }

  /** Serve top-k from a prebuilt [[buildLshIndex]] index:
    * [[lshScored]]'s candidate step over the persisted rows (the
    * resident build and its streamed batches) instead of the corpus
    * assigned in memory. Same rows, same step, so serve ≡ inline by
    * construction (AnnSpec pins it). The whole index is scanned; see
    * the layout note above for why there is no bucket pruning.
    */
  private[graft] def lshServe(s: SparkSession, dir: String, path: String,
      probes: Int = LshProbes): DataFrame = {
    lshMetaOk(s, path)
    val (_, queries) = split(s, dir)
    val index = Publish.readRoots(s, Publish.roots(s, path), "index.parquet", LshRowsDdl)
    topK(lshCandidates(index, lshProbes(queries, probes)))
  }

  // ------------------------------------------------------------------
  // IVF-PQ: PRODUCT-QUANTIZED codes inside the persisted IVF index —
  // the full IVFADC layout of Jégou et al. 2011: the SCANNED half of
  // the index stores [[PqM]] one-byte codes plus one reconstruction
  // norm (16× more corpus per executor-GB than float32, where
  // per-vector int8 codes give 4×), scored via per-query
  // ADC lookup tables; the full-precision floats live in a rerank
  // half that is read only for the top-c candidate ids per query.
  // [[buildIvfIndex]] keeps floats in the scanned rows; this triad is
  // the compressed successor.
  //
  // Layout:
  //   <path>/codebook.parquet       (cell, centroid)           — IVF cells, frozen
  //   <path>/pq_codebook.parquet    (pos, v)                   — PQ sub-codebooks, frozen
  //   <path>/index.parquet/cell=N/  (vec_id, codes[16B], rn)   — PQ codes, scanned
  //   <path>/rerank.parquet/cell=N/ (vec_id, embedding, nrm)   — floats, point-read
  //   <path>/stream/batch-…/        (index.parquet, rerank.parquet) — streamed batches
  //
  // Serve cost shape: the serve is [[qAnnPq]]'s three steps over the
  // persisted halves. The query side is one row per query (its LUTs
  // and probed cells), broadcast once: [[QueryK]] rows, not one per
  // probed (query, cell). The ADC scan reads nProbe/k of the CODES
  // (~1/11 the bytes of the float index) and spends [[PqM]] table
  // adds per candidate. The float half is touched only through the
  // same probed-cell partition pruning plus a pushed `vec_id IN (…)`
  // filter over the queries×c shortlist ids: a bounded point lookup,
  // never a probed-cell float scan. AnnSpec asserts both prunings on
  // the executed plan and the size of the query-side broadcast.
  // ------------------------------------------------------------------

  /** Candidates reranked in float per query (c = 4·K): the standard
    * over-fetch that absorbs quantization rank noise — AnnSpec pins
    * the recall floor vs the float [[ivfServe]]. */
  private[graft] val PqRerankC = 4 * K

  /** Map-only PQ coding pass: [[PqM]] byte codes per vector plus the
    * reconstruction norm (the [[qAnnPq]] arithmetic as a
    * persisted-index projection, against FROZEN model arrays).
    *
    * Codes are the subspace argmins of the CELL RESIDUAL
    * ([[withResidual]] — `df` must carry `cell`), and the
    * reconstruction x̂ = c_cell + r̂ decomposes per disjoint subspace,
    * so `rn = sqrt(adcLookup(nlut_cell, codes))`, where `nlut_cell` is
    * row `cell` of the [[cellNlut]] table (16 × m·ks doubles) looked up
    * inside a [[graft.functions.CellRow]] expression.
    */
  private[graft] def pqCode(df: DataFrame, cb: Array[Double], cent: Array[Double]): DataFrame = {
    val vf = graft.functions.VectorFunctions
    val nlut = cellNlut(cent, cb)
    withResidual(df, cent)
      .withColumn("codes", vf.pqCodes(col("remb"), cb.toSeq, PqM, PqDsub))
      .withColumn("rn", sqrt(vf.adcLookup(
        vf.cellRow(col("cell"), nlut.flatten.toSeq, nlut.head.length), col("codes"))))
      .drop("remb")
  }

  /** Columns of the codes half [[pqCode]] feeds into `index.parquet`. */
  private val CodesDdl = "vec_id BIGINT, codes ARRAY<TINYINT>, rn DOUBLE, cell INT"

  /** Persist the PQ sub-codebooks as a flat (pos, v) model table, the
    * second frozen model of the triad; [[readPqModels]] reads it back. */
  private def writePqCodebook(s: SparkSession, path: String, cb: Array[Double]): Unit = {
    import s.implicits._
    cb.toSeq.zipWithIndex.map { case (v, p) => (p, v) }
      .toDF("pos", "v")
      .write.mode("overwrite").parquet(s"$path/pq_codebook.parquet")
  }

  private val PqCodebookDdl = "pos INT, v DOUBLE"

  /** The collected (pos, v) rows of `artifact`, each value placed at
    * `pos` on the driver ([[Publish.placeModelRows]] checks every
    * position is present once). The length must be a whole number of
    * m × dsub codebook entries, so a deleted last row is caught too. */
  private def placePqCodebook(artifact: String, rows: Array[Row]): Array[Double] = {
    require(rows.nonEmpty && rows.length % (PqM * PqDsub) == 0,
      s"model table $artifact has ${rows.length} rows, not a positive multiple of ${PqM * PqDsub}")
    Publish.placeModelRows(artifact, rows, "pos", 0, rows.length, "v")
      .map(r => r.getDouble(r.fieldIndex("v")))
  }

  /** Both frozen models of an IVF-PQ root, (cell codebook, PQ
    * sub-codebooks), in ONE collect: the union of the two tables, each
    * read under its declared DDL and tagged by `model`. Each half is
    * placed and checked on its own, so an error names its own
    * artifact. */
  private[graft] def readPqModels(s: SparkSession, path: String): (Array[Double], Array[Double]) = {
    val (cbArtifact, pqArtifact) = (s"$path/codebook.parquet", s"$path/pq_codebook.parquet")
    val (cb, pq) = Publish.readOwn(s, cbArtifact, CodebookDdl).withColumn("model", lit(0))
      .unionByName(Publish.readOwn(s, pqArtifact, PqCodebookDdl).withColumn("model", lit(1)),
        allowMissingColumns = true)
      .collect().partition(r => r.getInt(r.fieldIndex("model")) == 0)
    (placeCodebook(cbArtifact, cb), placePqCodebook(pqArtifact, pq))
  }

  /** Build the IVF-PQ index. One corpus pass writes the float rerank
    * half (cell-partitioned); the codes half derives from reading
    * that just-written local layout back — the corpus itself is
    * scanned once.
    *
    * The whole triad (cell codebook, PQ sub-codebooks, both halves)
    * is published as one root through [[Publish]], so codes never
    * serve under another build's codebook, and the swap retires every
    * streamed batch.
    *
    * @param indexFilter bounds the initially-indexed subset (AnnSpec
    * builds partial + [[ivfPqUpsertBatch]]es the rest to prove
    * serve-equivalence with a one-shot build).
    */
  private[graft] def buildIvfPqIndex(s: SparkSession, dir: String, path: String,
      indexFilter: Column = lit(true)): Unit = {
    val (corpus, _) = split(s, dir)
    val cent = sessionCodebook(s, dir, corpus)
    // the PQ sub-codebooks are the triad's second frozen model — like
    // the cell codebook they train on the DIR corpus (deterministic,
    // session-cached), so a partial build + upserts and a one-shot
    // build code identically (the AnnSpec serve-equivalence contract)
    val pqCb = sessionPqCodebooks(s, dir, corpus)
    Publish(s, path) { tmp =>
      writeCodebook(s, tmp, cent)
      writePqCodebook(s, tmp, pqCb)
      writePqHalves(s, tmp, corpus.filter(indexFilter), cent, pqCb)
    }
  }

  /** Write both IVF-PQ halves of `rows` under `root`: the float rerank
    * half, then the codes derived from reading it back, so `rows` is
    * scanned once. */
  private def writePqHalves(s: SparkSession, root: String, rows: DataFrame,
      cent: Array[Double], pqCb: Array[Double]): Unit = {
    ivfAssign(rows, cent)
      .select(col("vec_id"), col("embedding"), col("nrm"), col("cell"))
      .write.partitionBy("cell").parquet(s"$root/rerank.parquet")
    pqCode(Publish.readOwn(s, s"$root/rerank.parquet", FloatRowsDdl), pqCb, cent)
      .select(col("vec_id"), col("codes"), col("rn"), col("cell"))
      .write.partitionBy("cell").parquet(s"$root/index.parquet")
  }

  /** Incremental IVF-PQ index maintenance: [[ivfUpsertBatch]]'s
    * contract, the batch holding both halves ([[writePqHalves]]) under
    * the frozen codebooks. Both halves commit in the batch's one swap,
    * so a crash never leaves codes without floats or the reverse.
    */
  private[graft] def ivfPqUpsertBatch(s: SparkSession, path: String,
      arrivals: DataFrame, batchId: Long): Unit =
    if (!arrivals.isEmpty) {
      Publish.recover(s, path)
      val (cent, pqCb) = readPqModels(s, path)
      Publish(s, Publish.batchOf(path, batchId))(writePqHalves(s, _, arrivals, cent, pqCb))
    }

  /** Serve top-k from a prebuilt [[buildIvfPqIndex]] index: the
    * [[qAnnPq]] steps over the persisted halves. [[pqQueryRows]] takes
    * the [[ivfProbes]] rows as they are, each query carrying its probed
    * `cells`, [[pqShortlist]] ADC-scores the codes of
    * those cells down to the top-`rerankC` per query, and
    * [[pqRerank]] float-reranks exactly those ids to the top [[K]].
    *
    * Two bounded driver collects, both constant-sized by construction
    * (the [[ivfServe]] probed-cells precedent): the probed cells
    * (from the same query rows) and the shortlist pairs
    * (queries × rerankC).
    * The second lets the float half be read under a pushed
    * `vec_id IN` point filter instead of a probed-cell float scan,
    * the IVFADC read shape.
    */
  private[graft] def ivfPqServe(s: SparkSession, dir: String, path: String,
      probes: Int = IvfProbes, rerankC: Int = PqRerankC): DataFrame = {
    Publish.recover(s, path)
    val (_, queries) = split(s, dir)
    val (cent, pqCb) = readPqModels(s, path)
    val probed = ivfProbes(queries, cent, probes)
    val cellFilter = probedCells(probed)
    val qrows = pqQueryRows(probed, pqCb, cent)
    // the resident build and the committed streamed batches, each
    // pruned to the probed cells at the scan
    val roots = Publish.roots(s, path)
    val codes = Publish.readRoots(s, roots, "index.parquet", CodesDdl).filter(cellFilter)
    val shortlist = pqShortlist(codes, qrows, rerankC).select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val ids = shortlist.map(p => java.lang.Long.valueOf(p._2)).distinct
    // each shortlisted id names the queries that shortlisted it in a
    // literal map the float scan explodes, so the pairs never become a
    // driver-local table that a broadcast job ships back
    val queriesOf = shortlist.groupBy(_._2).map { case (n, ps) => n -> ps.map(_._1).toSeq }
    val pairs = Publish.readRoots(s, roots, "rerank.parquet", FloatRowsDdl)
      .filter(cellFilter)
      .filter(col("vec_id").isin(ids: _*))
      .select(col("vec_id").as("neighbor_id"), col("embedding"), col("nrm"),
        explode(element_at(typedLit(queriesOf), col("vec_id"))).as("query_id"))
    pqRerank(pairs, queries)
  }

  // ------------------------------------------------------------------
  // Row 49: int8-quantized brute force — the memory/bandwidth scale
  // path. Per-vector symmetric quantization (scale = max|x|/127)
  // compresses float32 embeddings 4×: 4× more corpus per executor-GB,
  // and the scoring loop is an integer MAC over byte arrays
  // ([[graft.functions.Dot8]]). Cosine in quantized space needs no
  // dequantization — the scales cancel:
  //   cos8 = dot8(a,b) / sqrt(dot8(a,a)·dot8(b,b)).
  // The ONLY approximation is the rounding in the codes; AnnSpec pins
  // the recall cost vs the exact float path. Composes with IVF/LSH
  // (quantize the bucketed candidates) — kept standalone here so the
  // quantization error is measured in isolation.
  // ------------------------------------------------------------------

  def qAnnQuantized(s: SparkSession, dir: String): DataFrame = {
    val vf = graft.functions.VectorFunctions
    val (corpus, queries) = split(s, dir)
    val qc = corpus
      .withColumn("codes", vf.vecCodes8(col("embedding"), vf.vecScale8(col("embedding"))))
      .select(col("vec_id"), col("codes"),
        sqrt(vf.dot8(col("codes"), col("codes")).cast("double")).as("n8"))
    val qq = queries
      .withColumn("q_codes", vf.vecCodes8(col("q_emb"), vf.vecScale8(col("q_emb"))))
      .select(col("query_id"), col("q_codes"),
        sqrt(vf.dot8(col("q_codes"), col("q_codes")).cast("double")).as("qn8"))
    val scored = qc.crossJoin(broadcast(qq))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        (vf.dot8(col("codes"), col("q_codes")).cast("double") / (col("n8") * col("qn8")))
          .as("cosine"))
    topK(scored)
  }

  /** Oracle for [[qAnnQuantized]] — fully hash-checked: every step of
    * the quantization is a single IEEE op or exact integer math, so no
    * accumulation-order mirroring is even needed. scale = max|x|/127
    * (max is order-invariant, one division); codes = rint(x/scale)
    * clamped — DuckDB's `round_even(x, 0)` IS Math.rint (half-to-even,
    * verified incl. -0.5 → -0.0); int8 MACs are exact BIGINT sums in
    * any order; the final cosine is one multiply and one divide.
    */
  /** The quantized program as prefixable CTEs (see [[bruteforceCtes]]). */
  private def quantizedCtes(p: String): String = {
    def codes(emb: String): String =
      s"""CASE WHEN list_max(list_transform($emb, x -> abs(CAST(x AS DOUBLE)))) = 0
         |  THEN list_transform($emb, x -> CAST(0 AS BIGINT))
         |  ELSE list_transform($emb, x -> CAST(LEAST(GREATEST(
         |    round_even(CAST(x AS DOUBLE)
         |      / (list_max(list_transform($emb, y -> abs(CAST(y AS DOUBLE)))) / 127.0), 0),
         |    -127.0), 127.0) AS BIGINT))
         |  END""".stripMargin
    def dot8(a: String, b: String): String =
      s"CAST(list_sum(list_transform(list_zip($a, $b), x -> x[1] * x[2])) AS DOUBLE)"
    s"""${p}coded AS (
       |  SELECT vec_id, ${codes("embedding")} AS codes
       |  FROM embeddings),
       |${p}base AS (
       |  SELECT vec_id, codes, sqrt(${dot8("codes", "codes")}) AS n8 FROM ${p}coded),
       |${qidsCte(p)},
       |${p}q AS (
       |  SELECT vec_id AS query_id, codes AS q_codes, n8 AS qn8
       |  FROM ${p}base WHERE vec_id IN (SELECT vec_id FROM ${p}qids)),
       |${p}scored AS (
       |  SELECT query_id, vec_id AS neighbor_id,
       |    ${dot8("codes", "q_codes")} / (n8 * qn8) AS cosine
       |  FROM ${p}base CROSS JOIN ${p}q
       |  WHERE vec_id <> query_id),
       |${p}r AS (
       |  SELECT query_id, neighbor_id, cosine,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |           ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rnk
       |  FROM ${p}scored)""".stripMargin
  }

  val qAnnQuantizedSql: String =
    s"""WITH ${quantizedCtes("")}
       |SELECT query_id, neighbor_id, rnk, cosine
       |FROM r WHERE rnk <= $K
       |ORDER BY query_id, rnk""".stripMargin

  /** Quantization-quality monitor — the continuous audit of the int8
    * path against the exact float baseline: per query, overlap@[[K]]
    * (recall in basis points) and the worst cosine error over the
    * agreed neighbors. The structural twin of [[qAnnRecall]] (which
    * monitors LSH and stays rows-only because LSH rotations are model
    * state); HERE both sides are bit-exact cross-engine, so the
    * monitor itself is fully hash-checked — the quantization-quality
    * claim lives in the driver gate, not just AnnSpec.
    *
    * Shape at scale: two broadcast-probed map-only scoring passes over
    * the corpus (each the respective query's plan) into k-row-per-query
    * top-k sets; the audit join and rollup are query-count-sized.
    */
  def qQuantRecall(s: SparkSession, dir: String): DataFrame = {
    val bf = qAnnBruteforce(s, dir)
      .select(col("query_id"), col("neighbor_id"), col("cosine"))
    val q8 = qAnnQuantized(s, dir)
      .select(col("query_id"), col("neighbor_id"), col("cosine").as("cos8"))
    bf.join(q8, Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(
        count(lit(1)).as("k"),
        count(col("cos8")).as("n_overlap"),
        max(when(col("cos8").isNotNull, abs(col("cosine") - col("cos8"))))
          .as("max_cos_err"))
      .select(col("query_id"), col("k"), col("n_overlap"),
        expr("(n_overlap * 10000) DIV k").as("recall_bp"),
        col("max_cos_err"))
  }

  val qQuantRecallSql: String =
    s"""WITH ${bruteforceCtes("bf_")},
       |${quantizedCtes("q8_")},
       |bfk AS (SELECT query_id, neighbor_id, cosine FROM bf_r WHERE rnk <= $K),
       |q8k AS (SELECT query_id, neighbor_id, cosine AS cos8 FROM q8_r WHERE rnk <= $K),
       |j AS (
       |  SELECT bfk.query_id, bfk.cosine, q8k.cos8
       |  FROM bfk LEFT JOIN q8k
       |    ON bfk.query_id = q8k.query_id AND bfk.neighbor_id = q8k.neighbor_id)
       |SELECT query_id, COUNT(*) AS k, COUNT(cos8) AS n_overlap,
       |  (COUNT(cos8) * 10000) // COUNT(*) AS recall_bp,
       |  MAX(CASE WHEN cos8 IS NOT NULL THEN abs(cosine - cos8) END) AS max_cos_err
       |FROM j GROUP BY query_id
       |ORDER BY query_id""".stripMargin

  // ------------------------------------------------------------------
  // Rows q_ann_pq / q_pq_recall: TRUE multi-subspace product
  // quantization (Jégou et al. 2011) — m sub-codebooks over disjoint
  // dim/m-dim slices, one byte code per subspace, ADC lookup-table
  // scoring. 32× compression (8 bytes vs 256 float bytes) where the
  // per-vector int8 path (q_ann_quantized) is 4× — the difference
  // between an embedding store that fits executor memory at 10⁸
  // vectors and one that doesn't. Training reuses the IVF Lloyd
  // device per subspace (deterministic md5 seed pick, exact
  // fixed-point means), so the oracle RE-TRAINS all m sub-codebooks
  // inside DuckDB the same way qAnnIvfSql re-trains its cells.
  // ------------------------------------------------------------------

  private[graft] val PqM = 16         // subspaces (one byte code each)
  private[graft] val PqDsub = Dim / PqM
  private[graft] val PqKs = 256       // centroids per sub-codebook (8-bit codes)
  private[graft] val PqTrainIters = 2
  /** ADC shortlist size before the exact float rerank — the
    * [[PqRerankC]] over-fetch device: final top-[[K]] recall equals
    * the probability the true neighbors survive the ADC top-c cut
    * (~97% at c=4K on the sf0.1 corpus, measured), because the rerank
    * restores exact order within the shortlist. */
  private[graft] val PqShortC = 4 * K

  /** RESIDUAL view of a celled frame (Jégou et al. 2011 §IV's
    * "multiple quantization with residuals"):
    * `remb[i] = float(double(embedding[i]) − c_cell[i])`. One exact
    * IEEE subtraction + one float rounding per component — both
    * engines perform the identical ops, so residuals are
    * bit-identical cross-engine. Requires a `cell` column (the frozen
    * [[sessionCodebook]] assignment); `c_cell` is row `cell` of the
    * codebook, looked up inside a [[graft.functions.CellRow]]
    * expression. Rows without a cell (a null embedding) have no
    * residual and are dropped.
    */
  private[graft] def withResidual(df: DataFrame, cent: Array[Double]): DataFrame =
    df.filter(col("cell").isNotNull)
      .withColumn("cvec", graft.functions.VectorFunctions.cellRow(col("cell"), cent.toSeq, Dim))
      .withColumn("remb",
        expr("zip_with(embedding, cvec, (x, c) -> CAST(CAST(x AS DOUBLE) - c AS FLOAT))"))
      .drop("cvec")

  /** Per-CELL reconstruction-norm² LUT in ADC layout: entry
    * `(m·ks + t)` of cell c is ‖c_sub(c,m) + cb_{m,t}‖² — the norm of
    * the RESIDUAL-coded reconstruction x̂ = c_cell + r̂ decomposes per
    * disjoint subspace, so `rn = sqrt(adcLookup(nlut_cell, codes))`.
    * Left-to-right component fold (the oracle's list_reduce order).
    */
  private[graft] def cellNlut(cent: Array[Double], cb: Array[Double]): Array[Array[Double]] = {
    val entries = cb.length / PqDsub // m*ks
    val ks = entries / PqM
    (0 until IvfCells).map { c =>
      val out = new Array[Double](entries)
      var e = 0
      while (e < entries) {
        val m = e / ks
        var acc = 0.0
        var i = 0
        while (i < PqDsub) {
          val x = cent(c * Dim + m * PqDsub + i) + cb(e * PqDsub + i)
          acc += x * x
          i += 1
        }
        out(e) = acc
        e += 1
      }
      out
    }.toArray
  }

  /** Train the m sub-codebooks: [[PqKs]] seed rows picked by the IVF
    * device (TakeOrdered on (md5(vec_id), vec_id) — SQL-replayable),
    * sliced per subspace, refined by `iters` Lloyd rounds
    * under subspace L2 (the PQ metric: minimal reconstruction error →
    * tight ADC dot estimates). ALL subspaces train in the same passes:
    * each round is ONE job ([[lloydRound]]), a map-only coding pass
    * folded into m·ks·dsub fixed-point partial sums per partition and
    * tree-merged on the executors at scale — the corpus never shuffles
    * (the [[trainCodebook]] shape, m-for-free).
    *
    * Trains on CELL RESIDUALS (x − c_cell under the frozen
    * [[sessionCodebook]] assignment — [[withResidual]]), the IVFADC
    * coding of Jégou et al. 2011 §IV: residual magnitudes are a
    * fraction of raw components, so the same 16×256 codebook budget
    * spends its resolution on the informative part. Measured on the
    * fixed query sample: raw-ADC recall@5 63.3→66.1% at sf0.1,
    * 78.6→81.6% at sf0.01 (numpy replica of the full deterministic
    * chain; the shipped chain's gain is pinned by `q_pq_recall`).
    *
    * Returned flattened with entry (m, t) component i at
    * `(m*PqKs + t)*PqDsub + i` (the [[graft.functions.PqKernels]]
    * layout).
    */
  private[graft] def trainPqCodebooks(s: SparkSession, corpus: DataFrame,
      cent: Array[Double], iters: Int = PqTrainIters): Array[Double] = {
    val rcorpus = withResidual(ivfAssign(corpus, cent), cent)
      .select(col("vec_id"), col("remb").as("embedding"))
    val seeds = rcorpus
      .withColumn("h", md5(col("vec_id").cast("string")))
      .orderBy(col("h"), col("vec_id")).limit(PqKs)
      .select(col("embedding").cast("array<double>").as("e"))
      .collect()
    require(seeds.nonEmpty, "PQ training needs a non-empty corpus")
    // a corpus smaller than PqKs trains with ks = N sub-centroids —
    // every downstream consumer derives ks from the codebook length
    // (the PqKernels layout), and the oracle's `WHERE t < PqKs` seed
    // cut yields the same N rows, so both engines degrade identically
    val ks = seeds.length
    var cb = new Array[Double](PqM * ks * PqDsub)
    for (t <- 0 until ks; m <- 0 until PqM; i <- 0 until PqDsub)
      cb((m * ks + t) * PqDsub + i) = seeds(t).getSeq[Double](0)(m * PqDsub + i)
    for (_ <- 1 to iters) {
      val coded = rcorpus.select(
        graft.functions.VectorFunctions.pqCodes(col("embedding"), cb.toSeq, PqM, PqDsub).as("slot"),
        col("embedding"))
      // component pos lies in subspace m = pos / dsub, whose code picks
      // the entry; & 0xFF reads the signed byte code as 0..255
      cb = lloydRound(coded, cb) { (r, pos) =>
        val m = pos / PqDsub
        (m * ks + (r.getArray(0).getByte(m) & 0xFF)) * PqDsub + pos % PqDsub
      }
    }
    cb
  }

  /** Session-scoped sub-codebook cache — the [[sessionCodebook]]
    * contract verbatim (model parameter: m·ks·dsub doubles; immutable
    * data dirs; [[clearModelCache]] drops it). */
  private val pqCodebookCache = new graft.plans.SessionCache[Array[Double]]

  private[graft] def sessionPqCodebooks(s: SparkSession, dir: String,
      corpus: DataFrame): Array[Double] =
    pqCodebookCache.getOrElseUpdate(s, dir)(
      trainPqCodebooks(s, corpus, sessionCodebook(s, dir, corpus)))

  /** The ADC query side: one row per query of `queries` (query_id,
    * q_emb, q_nrm, cells) as (query_id, lut, qc_arr, q_nrm, cells).
    * `lut` is the m·ks dot table against the residual sub-codebooks
    * `cb`; `qc_arr` holds the [[IvfCells]] coarse dots q·c_cell
    * (pqLut with one subspace of width [[Dim]] over the cell codebook,
    * the oracle's `pq_qc` fold), so the estimated dot of a code row
    * is `qc_arr[cell] + Σ_m lut[code_m]`. `cells` lists the cells the
    * query scores: every cell in memory, the probed ones when serving.
    * Built once per query, never per (query, cell).
    */
  private def pqQueryRows(queries: DataFrame, cb: Array[Double],
      cent: Array[Double]): DataFrame = {
    val vf = graft.functions.VectorFunctions
    queries.select(col("query_id"),
      vf.pqLut(col("q_emb"), cb.toSeq, PqM, PqDsub).as("lut"),
      vf.pqLut(col("q_emb"), cent.toSeq, 1, Dim).as("qc_arr"),
      col("q_nrm"), col("cells"))
  }

  /** The ADC shortlist: the code rows (vec_id, cell, codes, rn)
    * against the broadcast [[pqQueryRows]], each query scoring only
    * the rows of its `cells` with m table adds instead of [[Dim]]
    * multiply-adds. Estimated cosine = ADC dot / (rn · q_nrm), rn the
    * reconstruction norm [[pqCode]] stored. Drops the self-pair and
    * keeps each query's top `c` by (adc_cos desc, neighbor_id), ranked
    * `ark`, as (query_id, neighbor_id, adc_cos, ark).
    */
  private def pqShortlist(codes: DataFrame, qrows: DataFrame, c: Int): DataFrame =
    TopK(codes.crossJoin(broadcast(qrows))
      .filter(array_contains(col("cells"), col("cell")) && col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        ((element_at(col("qc_arr"), col("cell") + 1) +
          graft.functions.VectorFunctions.adcLookup(col("lut"), col("codes"))) /
          (col("rn") * col("q_nrm"))).as("adc_cos")),
      Seq("query_id"), Seq(col("adc_cos").desc, col("neighbor_id")), c, "ark")

  /** The exact float rerank of shortlisted pairs (query_id,
    * neighbor_id, embedding, nrm): joined to the broadcast queries,
    * cosine-scored and cut to the top [[K]]. Reads only what the
    * shortlist names, never a float corpus scan.
    */
  private def pqRerank(pairs: DataFrame, queries: DataFrame): DataFrame =
    topK(pairs
      .join(broadcast(queries), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"), cosine))

  /** The [[pqRerank]] pairs of an in-memory shortlist (query_id,
    * neighbor_id): the float rows (vec_id, embedding, nrm) joined to
    * the broadcast shortlist. */
  private def shortlisted(floats: DataFrame, shortlist: DataFrame): DataFrame =
    floats.select(col("vec_id").as("neighbor_id"), col("embedding"), col("nrm"))
      .join(broadcast(shortlist), Seq("neighbor_id"))

  /** The in-memory ADC shortlist of [[qAnnPq]] and [[qPqRecall]]: the
    * corpus coded under the session codebooks and every query scoring
    * every cell. At 100 TB this reads 16 code bytes per candidate where
    * the float scan reads 256, the scan that decides the serve cost.
    */
  private def pqAdcRanked(s: SparkSession, dir: String, c: Int): DataFrame = {
    val (corpus, queries) = split(s, dir)
    val cent = sessionCodebook(s, dir, corpus)
    val cb = sessionPqCodebooks(s, dir, corpus)
    val allCells = queries.withColumn("cells", typedLit((0 until IvfCells).toArray))
    pqShortlist(pqCode(ivfAssign(corpus, cent), cb, cent), pqQueryRows(allCells, cb, cent), c)
  }

  /** PQ-ADC top-k, IVFADC read shape (Jégou et al. 2011): the
    * [[PqShortC]] shortlist per query over the 16-byte codes of the
    * whole corpus, then [[pqRerank]] of exactly those pairs. The
    * rerank restores exact order inside the shortlist, so final
    * recall equals the shortlist's hit rate (the [[PqShortC]] note).
    * [[ivfPqServe]] runs the same three steps over a persisted index
    * and only the probed cells; [[qPqRecall]] is the quality audit.
    */
  def qAnnPq(s: SparkSession, dir: String): DataFrame = {
    val (corpus, queries) = split(s, dir)
    pqRerank(shortlisted(corpus, pqAdcRanked(s, dir, PqShortC).select("query_id", "neighbor_id")),
      queries)
  }

  /** PQ quality monitor — [[qQuantRecall]]'s shape over the PQ path:
    * per query, recall@[[K]] of the reranked [[qAnnPq]] serve (what
    * users see — the shortlist hit rate), of the raw ADC rank (what
    * the 16-byte codes alone can do — the quantization honesty
    * number), and of the cell-pruned [[qAnnIvfadc]] serve. One
    * in-memory ADC shortlist feeds both the rerank and the raw-ADC
    * column. Fully hash-checked: training, coding, LUT and fold
    * orders all replay in the oracle.
    */
  def qPqRecall(s: SparkSession, dir: String): DataFrame = {
    import graft.plans.Materialize.MaterializeOps
    val bf = qAnnBruteforce(s, dir)
      .select(col("query_id"), col("neighbor_id"), col("cosine"))
    // the ADC ranking pass (corpus×query scan + per-query window)
    // runs once and is checkpointed (queries×PqShortC rows, tiny);
    // the reranked serve and the raw-ADC column both read it, so the
    // ADC corpus scan is not derived twice
    val (corpus, queries) = split(s, dir)
    val adc = pqAdcRanked(s, dir, PqShortC)
      .select(col("query_id"), col("neighbor_id"), col("ark")).materialized
    val fin = pqRerank(shortlisted(corpus, adc.select("query_id", "neighbor_id")), queries)
      .select(col("query_id"), col("neighbor_id"), lit(1).as("hit_f"))
    val adcK = adc.filter(col("ark") <= K)
      .select(col("query_id"), col("neighbor_id"), lit(1).as("hit_a"))
    // the third column: what the PRODUCTION read — cell-pruned
    // ADC over nProbe/k of the index ([[qAnnIvfadc]]) — costs in
    // recall beside the full-scan shortlist's two numbers
    val ivfadcK = qAnnIvfadc(s, dir)
      .select(col("query_id"), col("neighbor_id"), lit(1).as("hit_v"))
    bf.join(fin, Seq("query_id", "neighbor_id"), "left")
      .join(adcK, Seq("query_id", "neighbor_id"), "left")
      .join(ivfadcK, Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(
        count(lit(1)).as("k"),
        count(col("hit_f")).as("n_overlap"),
        count(col("hit_a")).as("n_adc_overlap"),
        count(col("hit_v")).as("n_ivfadc_overlap"))
      .select(col("query_id"), col("k"), col("n_overlap"),
        expr("(n_overlap * 10000) DIV k").as("recall_bp"),
        col("n_adc_overlap"),
        expr("(n_adc_overlap * 10000) DIV k").as("adc_recall_bp"),
        col("n_ivfadc_overlap"),
        expr("(n_ivfadc_overlap * 10000) DIV k").as("ivfadc_recall_bp"))
  }

  // Oracle devices for the PQ program. Subspace L2 fold — the
  // [[Dedup.sqlDot]] convention on squared differences (centroid side
  // already DOUBLE, embedding side widened per element).
  private def pqL2(cv: String, sub: String): String =
    s"list_reduce(list_transform(list_zip($cv, $sub), " +
      "z -> (z[1] - CAST(z[2] AS DOUBLE)) * (z[1] - CAST(z[2] AS DOUBLE))), " +
      "(acc, v) -> acc + v)"

  // deterministic argmin without a corpus×ks window: min distance per
  // (vec, m), then the LOWEST t attaining it — exactly PqKernels'
  // strict-< tie rule, as two hash aggregates instead of one
  // (N·m·ks)-row partitioned sort (ks=256 makes the sort the oracle's
  // bottleneck at the 10× replica; the aggregates are not)
  private def pqArgmin(din: String, out: String): String =
    s"""$out AS (
       |  SELECT d.vec_id, d.m, MIN(d.t) AS code
       |  FROM $din d JOIN (
       |    SELECT vec_id, m, MIN(dist) AS dmin FROM $din GROUP BY vec_id, m) mn
       |    ON d.vec_id = mn.vec_id AND d.m = mn.m AND d.dist = mn.dmin
       |  GROUP BY d.vec_id, d.m)""".stripMargin

  // one PQ Lloyd round over ALL subspaces: L2-assign pq_sub to $cin,
  // roll exact fixed-point means per (m, code, pos), emit $cout
  // (empty codes keep $cin's centroid) — [[ivfLloydRound]] with the
  // subspace id threaded through every join
  private def pqLloydRound(cin: String, cout: String, n: Int): String =
    s"""pq_d$n AS MATERIALIZED (
       |  SELECT s.vec_id, s.m, c.t, ${pqL2("c.cvec", "s.sub")} AS dist
       |  FROM pq_sub s JOIN $cin c ON s.m = c.m),
       |${pqArgmin(s"pq_d$n", s"pq_asg$n")},
       |pq_m$n AS (
       |  SELECT a.m, a.code, fp.pos, SUM(fp.f) AS sm, COUNT(*) AS c
       |  FROM pq_asg$n a JOIN pq_fpos fp
       |    ON fp.vec_id = a.vec_id AND fp.pos // $PqDsub = a.m
       |  GROUP BY a.m, a.code, fp.pos),
       |$cout AS (
       |  SELECT ce.m, ce.t,
       |    list(COALESCE((CAST(mm.sm AS DOUBLE) / $FpScale.0) / CAST(mm.c AS DOUBLE), ce.cv)
       |         ORDER BY ce.pos) AS cvec
       |  FROM (SELECT m, t, unnest(range(m * $PqDsub, (m + 1) * $PqDsub)) AS pos,
       |          unnest(cvec) AS cv
       |        FROM $cin) ce
       |  LEFT JOIN pq_m$n mm ON ce.m = mm.m AND ce.t = mm.code AND ce.pos = mm.pos
       |  GROUP BY ce.m, ce.t)""".stripMargin

  /** The PQ program as CTEs (fixed `pq_` prefix): cell residuals,
    * subspace slices, fixed-point components, seed pick,
    * [[PqTrainIters]] Lloyd rounds, final codes, per-cell
    * reconstruction norms, per-query LUT + coarse cell dots and the
    * ADC ranking `pq_r`. Every double fold is list_reduce
    * (left-to-right) and every cross-subspace sum is an m-ORDERED
    * list fold — SUM() over doubles would be merge-order-dependent.
    *
    * The program quantizes CELL RESIDUALS (x − c_cell), so it
    * REQUIRES [[ivfTrainCtes]] in the same WITH (for `base`, `idx`
    * and `cent2` — the retrained cell codebook); every consumer
    * ([[qAnnPqSql]], [[qPqRecallSql]], [[qAnnIvfadcSql]]) composes
    * both chains.
    */
  private def pqCtes: String = {
    val subSlices = (0 until PqM).map { m =>
      val a = m * PqDsub + 1
      val b = (m + 1) * PqDsub
      s"SELECT vec_id, $m AS m, list_slice(remb, $a, $b) AS sub FROM pq_remb"
    }.mkString("\n  UNION ALL\n  ")
    val seedSlices = (0 until PqM).map { m =>
      val a = m * PqDsub + 1
      val b = (m + 1) * PqDsub
      s"SELECT t, $m AS m, list_transform(list_slice(remb, $a, $b), " +
        s"x -> CAST(x AS DOUBLE)) AS cvec FROM pq_seed"
    }.mkString("\n  UNION ALL\n  ")
    val qSlices = (0 until PqM).map { m =>
      val a = m * PqDsub + 1
      val b = (m + 1) * PqDsub
      s"SELECT query_id, $m AS m, list_slice(q_emb, $a, $b) AS sub FROM pq_q"
    }.mkString("\n  UNION ALL\n  ")
    val centSlices = (0 until PqM).map { m =>
      val a = m * PqDsub + 1
      val b = (m + 1) * PqDsub
      s"SELECT cell, $m AS m, list_slice(cvec, $a, $b) AS csub FROM cent2"
    }.mkString("\n  UNION ALL\n  ")
    s"""pq_remb AS MATERIALIZED (
       |  SELECT b.vec_id, i.cell,
       |    list_transform(list_zip(b.embedding, c.cvec),
       |      z -> CAST(CAST(z[1] AS DOUBLE) - z[2] AS FLOAT)) AS remb
       |  FROM base b JOIN idx i ON i.vec_id = b.vec_id
       |  JOIN cent2 c ON c.cell = i.cell),
       |pq_sub AS MATERIALIZED (
       |  $subSlices),
       |pq_fpos AS MATERIALIZED (
       |  SELECT vec_id, unnest(range(0, $Dim)) AS pos,
       |    CAST(round(CAST(unnest(remb) AS DOUBLE) * $FpScale) AS BIGINT) AS f
       |  FROM pq_remb),
       |pq_seed AS MATERIALIZED (
       |  SELECT t, remb FROM (
       |    SELECT remb,
       |      ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS t
       |    FROM pq_remb) z
       |  WHERE t < $PqKs),
       |pq_cb0 AS (
       |  $seedSlices),
       |${pqLloydRound("pq_cb0", "pq_cb1", 1)},
       |${pqLloydRound("pq_cb1", "pq_cb2", 2)},
       |pq_df AS MATERIALIZED (
       |  SELECT s.vec_id, s.m, c.t, ${pqL2("c.cvec", "s.sub")} AS dist
       |  FROM pq_sub s JOIN pq_cb2 c ON s.m = c.m),
       |${pqArgmin("pq_df", "pq_idx")},
       |pq_csub AS (
       |  $centSlices),
       |pq_n2 AS MATERIALIZED (
       |  SELECT cs.cell, cb.m, cb.t,
       |    list_reduce(list_transform(list_zip(cs.csub, cb.cvec),
       |      z -> (z[1] + z[2]) * (z[1] + z[2])), (a, b) -> a + b) AS n2
       |  FROM pq_csub cs JOIN pq_cb2 cb ON cs.m = cb.m),
       |pq_rn AS MATERIALIZED (
       |  SELECT i.vec_id, sqrt(list_reduce(list(nn.n2 ORDER BY i.m), (a, b) -> a + b)) AS rn
       |  FROM pq_idx i
       |  JOIN idx ic ON ic.vec_id = i.vec_id
       |  JOIN pq_n2 nn ON nn.cell = ic.cell AND i.m = nn.m AND i.code = nn.t
       |  GROUP BY i.vec_id),
       |${qidsCte("pq_")},
       |pq_base AS MATERIALIZED (
       |  SELECT vec_id, embedding, ${Dedup.sqlNorm("embedding")} AS nrm
       |  FROM embeddings),
       |pq_q AS (
       |  SELECT vec_id AS query_id, embedding AS q_emb, nrm AS q_nrm
       |  FROM pq_base WHERE vec_id IN (SELECT vec_id FROM pq_qids)),
       |pq_qsub AS (
       |  $qSlices),
       |pq_lut AS MATERIALIZED (
       |  SELECT s.query_id, c.m, c.t,
       |    list_reduce(list_transform(list_zip(c.cvec, s.sub),
       |      z -> z[1] * CAST(z[2] AS DOUBLE)), (a, b) -> a + b) AS d
       |  FROM pq_qsub s JOIN pq_cb2 c ON s.m = c.m),
       |pq_qc AS MATERIALIZED (
       |  SELECT q.query_id, c.cell,
       |    list_reduce(list_transform(list_zip(c.cvec, q.q_emb),
       |      z -> z[1] * CAST(z[2] AS DOUBLE)), (a, b) -> a + b) AS qc
       |  FROM pq_q q CROSS JOIN cent2 c),
       |pq_scored AS (
       |  SELECT l.query_id, i.vec_id AS neighbor_id,
       |    list_reduce(list(l.d ORDER BY l.m), (a, b) -> a + b) AS adc
       |  FROM pq_idx i JOIN pq_lut l ON l.m = i.m AND l.t = i.code
       |  WHERE i.vec_id <> l.query_id
       |  GROUP BY l.query_id, i.vec_id),
       |pq_r AS (
       |  SELECT s.query_id, s.neighbor_id,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY s.query_id
       |           ORDER BY (qq.qc + s.adc) / (r.rn * q.q_nrm) DESC, s.neighbor_id) AS BIGINT)
       |      AS ark
       |  FROM pq_scored s
       |  JOIN idx ic ON ic.vec_id = s.neighbor_id
       |  JOIN pq_qc qq ON qq.query_id = s.query_id AND qq.cell = ic.cell
       |  JOIN pq_rn r ON r.vec_id = s.neighbor_id
       |  JOIN pq_q q ON q.query_id = s.query_id),
       |pq_f AS (
       |  SELECT p.query_id, p.neighbor_id,
       |    ${Dedup.sqlDot("b.embedding", "q.q_emb")} / (b.nrm * q.q_nrm) AS cosine,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY p.query_id
       |           ORDER BY ${Dedup.sqlDot("b.embedding", "q.q_emb")} / (b.nrm * q.q_nrm)
       |             DESC, p.neighbor_id) AS BIGINT) AS rnk
       |  FROM (SELECT query_id, neighbor_id FROM pq_r WHERE ark <= $PqShortC) p
       |  JOIN pq_base b ON b.vec_id = p.neighbor_id
       |  JOIN pq_q q ON q.query_id = p.query_id)""".stripMargin
  }

  val qAnnPqSql: String =
    s"""WITH $ivfTrainCtes,
       |$pqCtes
       |SELECT query_id, neighbor_id, rnk, cosine
       |FROM pq_f WHERE rnk <= $K
       |ORDER BY query_id, rnk""".stripMargin

  val qPqRecallSql: String =
    s"""WITH ${bruteforceCtes("bf_")},
       |$ivfTrainCtes,
       |$pqCtes,
       |$ivfadcCtes,
       |bfk AS (SELECT query_id, neighbor_id FROM bf_r WHERE rnk <= $K),
       |pqf AS (SELECT query_id, neighbor_id, 1 AS hit_f FROM pq_f WHERE rnk <= $K),
       |adck AS (SELECT query_id, neighbor_id, 1 AS hit_a FROM pq_r WHERE ark <= $K),
       |vk AS (SELECT query_id, neighbor_id, 1 AS hit_v FROM va_f WHERE rnk <= $K),
       |j AS (
       |  SELECT bfk.query_id, pqf.hit_f, adck.hit_a, vk.hit_v
       |  FROM bfk
       |  LEFT JOIN pqf ON bfk.query_id = pqf.query_id AND bfk.neighbor_id = pqf.neighbor_id
       |  LEFT JOIN adck ON bfk.query_id = adck.query_id AND bfk.neighbor_id = adck.neighbor_id
       |  LEFT JOIN vk ON bfk.query_id = vk.query_id AND bfk.neighbor_id = vk.neighbor_id)
       |SELECT query_id, COUNT(*) AS k, COUNT(hit_f) AS n_overlap,
       |  (COUNT(hit_f) * 10000) // COUNT(*) AS recall_bp,
       |  COUNT(hit_a) AS n_adc_overlap,
       |  (COUNT(hit_a) * 10000) // COUNT(*) AS adc_recall_bp,
       |  COUNT(hit_v) AS n_ivfadc_overlap,
       |  (COUNT(hit_v) * 10000) // COUNT(*) AS ivfadc_recall_bp
       |FROM j GROUP BY query_id
       |ORDER BY query_id""".stripMargin

  // ------------------------------------------------------------------
  // q_ann_ivfadc — the PERSISTED IVFADC serve as an oracle-checked row:
  // cell probe (nProbe = IvfProbes) → ADC over the
  // probed cells' codes only → float point-rerank, i.e. [[ivfPqServe]]
  // registered as a `queries` entry against a session-built
  // [[buildIvfPqIndex]] index.
  // ------------------------------------------------------------------

  /** Session-scoped persisted IVF-PQ index (the [[sessionCodebook]]
    * contract extended from a model array to a model DIRECTORY): built
    * once per (session, dir) into a fresh temp root, served by every
    * subsequent [[qAnnIvfadc]]/[[qPqRecall]] invocation. Both frozen
    * models inside it come from the session caches, so the indexed
    * codes equal what any inline PQ row computes; a deployment builds
    * the index offline and amortizes further (the [[buildIvfIndex]]
    * note). [[clearModelCache]] drops the pointer; Spark deletes the
    * directory at JVM shutdown.
    */
  private val pqIndexCache = new graft.plans.SessionCache[String]

  private def sessionPqIndex(s: SparkSession, dir: String): String =
    pqIndexCache.getOrElseUpdate(s, dir) {
      val path = org.apache.spark.sql.GraftBridge
        .createTempDir("graft-ivfadc-session").toString + "/idx"
      buildIvfPqIndex(s, dir, path)
      path
    }

  /** The production ANN read (Jégou et al. 2011's IVFADC, the serve
    * half of the [[buildIvfPqIndex]] triad): per query, rank the
    * [[IvfCells]] cell centroids and keep [[IvfProbes]]; ADC-score
    * ONLY the probed cells' 16-byte codes (partition pruning at the
    * scan — nProbe/k of the index is read, AnnSpec/PlanSpec pin the
    * PartitionFilters); float-rerank exactly the per-query
    * top-[[PqRerankC]] shortlist under a pushed `vec_id IN` point
    * filter; cut at [[K]].
    *
    * vs `q_ann_pq`: same codes, same LUT arithmetic, but the ADC scan
    * covers nProbe/k of the corpus instead of all of it — the recall
    * cost of that pruning is `q_pq_recall.ivfadc_recall_bp`, beside
    * the full-scan shortlist's two columns. Fully hash-checked: the
    * oracle composes the [[qAnnIvfSql]] cell-Lloyd retrain with the
    * [[qAnnPqSql]] sub-codebook retrain and replays the serve tail.
    */
  def qAnnIvfadc(s: SparkSession, dir: String): DataFrame =
    ivfPqServe(s, dir, sessionPqIndex(s, dir))

  /** The IVFADC serve tail as CTEs (`va_` prefix) over the composed
    * [[ivfTrainCtes]] (cells: `idx`, probe ranks: `pr`) and [[pqCtes]]
    * (codes: `pq_idx`, recon norms: `pq_rn`, query LUTs: `pq_lut`)
    * chains — [[qAnnIvfadcSql]] and [[qPqRecallSql]] share it so the
    * serve row and its recall monitor cannot drift.
    */
  private def ivfadcCtes: String =
    s"""va_s AS (
       |  SELECT l.query_id, i.vec_id AS neighbor_id, ci.cell,
       |    list_reduce(list(l.d ORDER BY l.m), (a, b) -> a + b) AS adc
       |  FROM pq_idx i
       |  JOIN idx ci ON ci.vec_id = i.vec_id
       |  JOIN (SELECT query_id, cell FROM pr WHERE prk <= $IvfProbes) p
       |    ON p.cell = ci.cell
       |  JOIN pq_lut l ON l.m = i.m AND l.t = i.code AND l.query_id = p.query_id
       |  WHERE i.vec_id <> l.query_id
       |  GROUP BY l.query_id, i.vec_id, ci.cell),
       |va_r AS (
       |  SELECT s.query_id, s.neighbor_id,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY s.query_id
       |           ORDER BY (qq.qc + s.adc) / (r.rn * q.q_nrm) DESC, s.neighbor_id) AS BIGINT)
       |      AS ark
       |  FROM va_s s
       |  JOIN pq_qc qq ON qq.query_id = s.query_id AND qq.cell = s.cell
       |  JOIN pq_rn r ON r.vec_id = s.neighbor_id
       |  JOIN pq_q q ON q.query_id = s.query_id),
       |va_f AS (
       |  SELECT p.query_id, p.neighbor_id,
       |    ${Dedup.sqlDot("b.embedding", "q.q_emb")} / (b.nrm * q.q_nrm) AS cosine,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY p.query_id
       |           ORDER BY ${Dedup.sqlDot("b.embedding", "q.q_emb")} / (b.nrm * q.q_nrm)
       |             DESC, p.neighbor_id) AS BIGINT) AS rnk
       |  FROM (SELECT query_id, neighbor_id FROM va_r WHERE ark <= $PqRerankC) p
       |  JOIN pq_base b ON b.vec_id = p.neighbor_id
       |  JOIN pq_q q ON q.query_id = p.query_id)""".stripMargin

  val qAnnIvfadcSql: String =
    s"""WITH $ivfTrainCtes,
       |$pqCtes,
       |$ivfadcCtes
       |SELECT query_id, neighbor_id, rnk, cosine
       |FROM va_f WHERE rnk <= $K
       |ORDER BY query_id, rnk""".stripMargin

  // ------------------------------------------------------------------
  // Per-label embedding centroids — the class-prototype / cluster-seed
  // aggregate (nearest-centroid classification, IVF seeding, drift
  // monitoring all start here), and the repo's proof that VECTOR
  // aggregation can be oracle-checked bit-exactly.
  // ------------------------------------------------------------------

  private val CentroidFp = 1048576L // 2^20

  /** Mean embedding per label, bit-reproducibly: each float component
    * is widened to double (exact), scaled by 2^20 and rounded to an
    * integer (a float's 24-bit mantissa × 2^20 always fits), summed as
    * BIGINT (associative — no FP accumulation-order drift), and divided
    * ONCE at the end: both engines perform the identical single IEEE
    * division, so the double centroid matches DuckDB to the last bit.
    *
    * Shape at scale: posexplode multiplies rows ×dim, but partial
    * aggregation collapses each map partition to |labels|·dim rows
    * before the ONE shuffle — 100 TB of vectors moves a few KB per
    * partition. (The transform-free alternative — aggregating whole
    * arrays with a zip_with fold — is an interpreted per-element lambda
    * [SNIPPETS: HOF perf] AND a non-partial aggregate; this shape keeps
    * everything codegen'd and map-combined.)
    */
  def qEmbedCentroid(s: SparkSession, dir: String): DataFrame =
    Ingest.table(s, dir, "embeddings")
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy(col("label"), (col("pos") + 1).as("dim"))
      .agg(
        count(lit(1)).as("n_vecs"),
        sum(expr(s"CAST(round(CAST(v AS DOUBLE) * $CentroidFp) AS BIGINT)")).as("sum_fp"))
      .select(col("label"), col("dim"), col("n_vecs"), col("sum_fp"),
        (col("sum_fp").cast("double") /
          (col("n_vecs") * lit(CentroidFp)).cast("double")).as("centroid"))

  /** DuckDB zips parallel unnests in one SELECT — (component, ordinal)
    * pairs without a lateral join. */
  val qEmbedCentroidSql: String =
    s"""WITH ex AS (
       |  SELECT label,
       |    unnest(range(1, len(embedding) + 1)) AS dim,
       |    unnest(embedding) AS v
       |  FROM embeddings),
       |fp AS (
       |  SELECT label, dim,
       |    CAST(round(CAST(v AS DOUBLE) * $CentroidFp) AS BIGINT) AS f
       |  FROM ex)
       |SELECT label, CAST(dim AS INT) AS dim, COUNT(*) AS n_vecs,
       |  CAST(SUM(f) AS BIGINT) AS sum_fp,
       |  CAST(SUM(f) AS DOUBLE) / CAST(COUNT(*) * $CentroidFp AS DOUBLE) AS centroid
       |FROM fp GROUP BY label, dim
       |ORDER BY label, dim""".stripMargin

  /** Nearest-centroid classification (Rocchio / weak-labeling): assign
    * every embedding to the closest per-label mean by squared L2 — the
    * cluster-assignment primitive behind dataset auto-labeling and
    * embedding-space audits (confusion against the true label rides
    * along). ORACLE-CHECKED end to end, unlike the float top-k ANN
    * family: components are fixed-pointed to integers (scale
    * [[CentroidFp]]), the centroid is the INTEGER quotient sum DIV n
    * (Spark DIV and DuckDB // both truncate toward zero, verified
    * including negatives), and squared distances are exact BIGINT sums
    * (headroom: 64 dims × (2·2^20)² ≈ 2.8e14 ≪ 2^63). Argmin ties
    * break on label via the same (dist2, label) order in both engines.
    *
    * Shape at scale: centroids are a label×dim rollup of the exploded
    * corpus (partial-aggregated shuffle into a model-sized table);
    * assignment joins that table back BROADCAST (labels×dims rows — a
    * model parameter, like [[NearestCell]]'s codebook) and reduces per
    * (vec, label) with map-side combine; the final argmin window runs
    * on labels-per-vec rows. The corpus shuffles once (the explode
    * rollup), never all-pairs.
    */
  /** (vec_id, label, clabel, dist2, r) for each vec's two nearest
    * centroids, r their (dist2, clabel) rank: r=1 is the fixed-point
    * nearest-centroid assignment with its exact integer dist2, r=2 the
    * runner-up [[qClusterQuality]]'s margin needs. */
  private def centroidRanked(s: SparkSession, dir: String): DataFrame = {
    val fp = Ingest.table(s, dir, "embeddings")
      .select(col("vec_id"), col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .select(col("vec_id"), col("label"), (col("pos") + 1).as("dim"),
        expr(s"CAST(round(CAST(v AS DOUBLE) * $CentroidFp) AS BIGINT)").as("f"))
    val cent = fp.groupBy(col("label").as("clabel"), col("dim"))
      .agg(expr("sum(f) DIV count(1)").as("c"))
    val d2 = fp.join(broadcast(cent), "dim")
      .groupBy(col("vec_id"), col("label"), col("clabel"))
      .agg(sum((col("f") - col("c")) * (col("f") - col("c"))).as("dist2"))
    TopK(d2, Seq("vec_id"), Seq(col("dist2"), col("clabel")), 2, "r")
  }

  /** (vec_id, label, assigned cluster, exact integer dist2): the
    * assignment shared by [[qCentroidAssign]] (adds the confusion
    * column) and [[qSemdedup]] (uses the cluster as its pairwise-dedup
    * cell). */
  private def centroidAssignments(s: SparkSession, dir: String): DataFrame =
    centroidRanked(s, dir)
      .filter(col("r") === 1)
      .select(col("vec_id"), col("label"), col("clabel"), col("dist2"))

  def qCentroidAssign(s: SparkSession, dir: String): DataFrame =
    centroidAssignments(s, dir)
      .select(col("vec_id"), col("label").as("true_label"),
        col("clabel").as("assigned_label"), col("dist2"),
        when(col("clabel") === col("label"), 1L).otherwise(0L).as("correct"))

  /** Shared CTE prefix: the fixed-point assignment pipeline of
    * [[centroidAssignments]] in DuckDB SQL (consumed by both
    * [[qCentroidAssignSql]] and [[qSemdedupSql]]).
    */
  private val centroidAssignCtes: String =
    s"""ex AS (
       |  SELECT vec_id, label,
       |    unnest(range(1, len(embedding) + 1)) AS dim,
       |    unnest(embedding) AS v
       |  FROM embeddings),
       |fp AS (
       |  SELECT vec_id, label, dim,
       |    CAST(round(CAST(v AS DOUBLE) * $CentroidFp) AS BIGINT) AS f
       |  FROM ex),
       |cent AS (
       |  SELECT label AS clabel, dim, CAST(SUM(f) // COUNT(*) AS BIGINT) AS c
       |  FROM fp GROUP BY label, dim),
       |d2 AS (
       |  SELECT fp.vec_id, fp.label, cent.clabel,
       |    CAST(SUM((f - c) * (f - c)) AS BIGINT) AS dist2
       |  FROM fp JOIN cent ON fp.dim = cent.dim
       |  GROUP BY fp.vec_id, fp.label, cent.clabel),
       |rk AS (
       |  SELECT vec_id, label, clabel, dist2,
       |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist2, clabel) AS r
       |  FROM d2)""".stripMargin

  val qCentroidAssignSql: String =
    s"""WITH $centroidAssignCtes
       |SELECT vec_id, label AS true_label, clabel AS assigned_label, dist2,
       |  CAST(CASE WHEN clabel = label THEN 1 ELSE 0 END AS BIGINT) AS correct
       |FROM rk WHERE r = 1
       |ORDER BY vec_id""".stripMargin

  /** Per-cluster quality audit over the fixed-point nearest-centroid
    * assignment: member count, mean within-cluster squared distance
    * (cohesion), misassignment count vs the true label, and the mean
    * assignment MARGIN — per vector, how much farther the runner-up
    * centroid is, as (d2nd − d1st)·1000 DIV d2nd (per-mille; the
    * multiplier stays 10³ because dist2 reaches dims·(2·Fp)² ≈ 2⁴⁸
    * and ×10⁶ would overflow BIGINT — the [[CentroidFp]] headroom
    * note). Margin ≈ 0 = the vector sits on a cluster boundary; a
    * cluster whose mean margin collapses is not separable from its
    * neighbor and its [[qSemdedup]] pruning or mix quota should not
    * be trusted. The silhouette idea reduced to the two distances the
    * assignment already computed — exact integers, no new corpus
    * pass. Vectors with no runner-up (single-centroid corpus) or a
    * zero runner-up distance carry NULL margin and are excluded from
    * the margin mean (n_margin says how many counted).
    *
    * Shape at scale: reuses [[centroidRanked]] (one corpus explode
    * rollup + broadcast centroid join); the top-2 filter and per-vec
    * fold ride the same vec_id exchange as the argmin, and the final
    * rollup is |clusters|-bounded.
    */
  def qClusterQuality(s: SparkSession, dir: String): DataFrame =
    centroidRanked(s, dir)
      .groupBy(col("vec_id"), col("label"))
      .agg(
        max(when(col("r") === 1, col("clabel"))).as("cl"),
        max(when(col("r") === 1, col("dist2"))).as("d2a"),
        max(when(col("r") === 2, col("dist2"))).as("d2b"))
      .withColumn("margin_pml",
        expr("CASE WHEN d2b IS NULL OR d2b = 0 THEN NULL " +
          "ELSE ((d2b - d2a) * 1000) DIV d2b END"))
      .groupBy(col("cl").as("cluster"))
      .agg(
        count(lit(1)).as("n_vecs"),
        expr("sum(d2a) DIV count(1)").as("mean_within"),
        sum(when(col("label") =!= col("cl"), 1L).otherwise(0L)).as("n_misassigned"),
        count(col("margin_pml")).as("n_margin"),
        sum(col("margin_pml")).as("sum_margin"))
      .select(col("cluster"), col("n_vecs"), col("mean_within"), col("n_misassigned"),
        col("n_margin"),
        expr("CASE WHEN n_margin = 0 THEN NULL ELSE sum_margin DIV n_margin END")
          .as("mean_margin_pml"))

  val qClusterQualitySql: String =
    s"""WITH $centroidAssignCtes,
       |top2 AS (
       |  SELECT vec_id, label,
       |    MAX(CASE WHEN r = 1 THEN clabel END) AS cl,
       |    MAX(CASE WHEN r = 1 THEN dist2 END) AS d2a,
       |    MAX(CASE WHEN r = 2 THEN dist2 END) AS d2b
       |  FROM rk WHERE r <= 2 GROUP BY vec_id, label),
       |m AS (
       |  SELECT vec_id, label, cl, d2a,
       |    CASE WHEN d2b IS NULL OR d2b = 0 THEN NULL
       |         ELSE ((d2b - d2a) * 1000) // d2b END AS margin_pml
       |  FROM top2)
       |SELECT cl AS cluster,
       |  COUNT(*) AS n_vecs,
       |  CAST(CAST(SUM(d2a) AS BIGINT) // COUNT(*) AS BIGINT) AS mean_within,
       |  CAST(SUM(CASE WHEN label <> cl THEN 1 ELSE 0 END) AS BIGINT) AS n_misassigned,
       |  COUNT(margin_pml) AS n_margin,
       |  CASE WHEN COUNT(margin_pml) = 0 THEN NULL
       |       ELSE CAST(CAST(SUM(margin_pml) AS BIGINT) // COUNT(margin_pml) AS BIGINT)
       |  END AS mean_margin_pml
       |FROM m GROUP BY cl
       |ORDER BY cl""".stripMargin

  /** Embedding-space anomaly screen: per cluster, the robust
    * (median/MAD) fence on squared distance to the assigned centroid,
    * and how many vectors sit beyond 3 MADs — the corrupt-embedding /
    * wrong-space detector (a batch of zeroed, truncated, or
    * differently-normalized vectors lands far from every centroid and
    * trips this before it poisons [[qSemdedup]] cells or ANN
    * recall). The embedding twin of [[Audit.qMadOutlier]], sharing
    * its exact interpolated weighted-median device; d2 ≤ dims·(2·Fp)²
    * ≈ 2⁴⁸ < 2⁵³ keeps every median/deviation bit-exact in DOUBLE.
    *
    * Shape at scale: distances come from the audited centroid
    * pipeline (one corpus explode rollup + broadcast join); the
    * value→count histogram is near-per-vector for continuous d2, so
    * the median's per-cluster window sort is bounded by cluster
    * membership — with production cluster counts (k ≫ cores) the
    * sorts parallelize per cluster; the deviation pass reuses the
    * materialized histogram, and everything after is cluster-sized.
    */
  def qEmbedOutlier(s: SparkSession, dir: String): DataFrame = {
    val hist = centroidRanked(s, dir).filter(col("r") === 1)
      .groupBy(col("clabel").as("flag"), col("dist2").as("v"))
      .agg(count(lit(1)).as("c"))
      .materialized // median, deviation histogram and fence all consume it
    val med = Audit.weightedMedian(hist)
      .select(col("flag"), col("med").as("med_d2"), col("n").as("n_vecs"))
    val devHist = hist.join(broadcast(med), "flag")
      .groupBy(col("flag"), abs(col("v") - col("med_d2")).as("v"))
      .agg(sum("c").as("c"))
      .materialized
    val mad = Audit.weightedMedian(devHist).select(col("flag"), col("med").as("mad_d2"))
    val outliers = devHist.join(broadcast(mad), "flag")
      .groupBy(col("flag"))
      .agg(sum(when(col("v") > col("mad_d2") * 3, col("c")).otherwise(lit(0L)))
        .as("n_outliers"))
    med.join(mad, "flag").join(outliers, "flag")
      .select(col("flag").as("cluster"), col("n_vecs"),
        col("med_d2"), col("mad_d2"), col("n_outliers"))
  }

  val qEmbedOutlierSql: String =
    s"""WITH $centroidAssignCtes,
       |a AS (SELECT vec_id, clabel, dist2 FROM rk WHERE r = 1),
       |med AS (
       |  SELECT clabel AS flag, COUNT(*) AS n_vecs,
       |    quantile_cont(dist2, 0.5) AS med_d2
       |  FROM a GROUP BY clabel),
       |dev AS (
       |  SELECT a.clabel AS flag, abs(a.dist2 - m.med_d2) AS d
       |  FROM a JOIN med m ON a.clabel = m.flag),
       |mad AS (SELECT flag, quantile_cont(d, 0.5) AS mad_d2 FROM dev GROUP BY flag)
       |SELECT m.flag AS cluster, m.n_vecs, m.med_d2, mad.mad_d2,
       |  CAST(COALESCE(SUM(CASE WHEN dev.d > mad.mad_d2 * 3 THEN 1 END), 0) AS BIGINT)
       |    AS n_outliers
       |FROM med m JOIN mad ON m.flag = mad.flag
       |           JOIN dev ON dev.flag = m.flag
       |GROUP BY m.flag, m.n_vecs, m.med_d2, mad.mad_d2
       |ORDER BY cluster""".stripMargin

  private val ClusterKwK = 10
  private val ClusterKwFp = 1000000L

  /** c-TF-IDF cluster labeling (the BERTopic device, Grootendorst
    * 2022, arXiv:2203.05794): name each embedding-space cluster by its
    * most DISTINCTIVE terms — term frequency within the cluster's
    * documents over the number of clusters the term appears in (the
    * class-based idf), top-[[ClusterKwK]] per cluster. This is the
    * human-readable half of the clustering shelf: [[qCentroidAssign]]
    * says which cluster a doc is in, [[qSemdedup]] prunes within it,
    * this row says what the cluster IS — the report a curation team
    * reads before deciding to keep, down-weight, or drop a cluster.
    * Clusters are the same fixed-point nearest-centroid assignment the
    * rest of the shelf uses (exact integer dist2, bit-reproducible);
    * the doc side joins on doc_id = vec_id (the corpus contract).
    * Scoring is the [[TextOps.qTfidfKeywords]] integer device at
    * cluster granularity: score_fp = tf_c·10⁶ DIV cdf.
    *
    * Shape at scale: assignment is the audited centroid pipeline (one
    * posexplode rollup + broadcast argmin); the doc join is ONE
    * co-partitioned doc_id equi-join BEFORE the token explode (a
    * token-side join would multiply the probe by avg doc length); term
    * counts partial-aggregate into a |clusters|×vocab-bounded table,
    * its cluster-df is a rollup of that same table, and the rank
    * window runs on the MODEL-sized count table, never corpus rows
    * (the [[TextOps.qBigramTopk]] precedent).
    */
  /** The (cluster, term) count table — exposed un-materialized so
    * PlanSpec can pin its shape (the query materializes it: both the
    * score join and its cluster-df rollup consume it).
    */
  private[graft] def clusterTermCounts(s: SparkSession, dir: String): DataFrame = {
    val assign = centroidAssignments(s, dir)
      .select(col("vec_id").as("doc_id"), col("clabel").as("cluster"))
    Ingest.table(s, dir, "documents")
      .select(col("doc_id"), col("text"))
      .join(assign, "doc_id")
      .select(col("cluster"),
        explode(org.apache.spark.sql.functions.split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("cluster"), col("w"))
      .agg(count(lit(1)).as("tf_c"))
  }

  def qClusterKeywords(s: SparkSession, dir: String): DataFrame = {
    val tf = clusterTermCounts(s, dir).materialized
    val df = tf.groupBy(col("w")).agg(count(lit(1)).as("cdf"))
    val scored = tf.join(df, "w")
      .select(col("cluster"), col("w").as("term"), col("tf_c"), col("cdf"),
        expr(s"(tf_c * $ClusterKwFp) DIV cdf").as("score_fp"))
    TopK(scored, Seq("cluster"), Seq(col("score_fp").desc, col("term")), ClusterKwK, "rk")
      .select(col("cluster"), col("rk"), col("term"), col("tf_c"), col("cdf"), col("score_fp"))
  }

  val qClusterKeywordsSql: String =
    s"""WITH $centroidAssignCtes,
       |asg AS (SELECT vec_id AS doc_id, clabel AS cluster FROM rk WHERE r = 1),
       |tok AS (
       |  SELECT a.cluster, unnest(string_split(d.text, ' ')) AS w
       |  FROM documents d JOIN asg a ON d.doc_id = a.doc_id),
       |tf AS (
       |  SELECT cluster, w, COUNT(*) AS tf_c
       |  FROM tok WHERE len(w) > 0 GROUP BY cluster, w),
       |cdf AS (SELECT w, COUNT(*) AS cdf FROM tf GROUP BY w),
       |sc AS (
       |  SELECT tf.cluster, tf.w AS term, tf.tf_c, cdf.cdf,
       |    (tf.tf_c * $ClusterKwFp) // cdf.cdf AS score_fp
       |  FROM tf JOIN cdf ON tf.w = cdf.w),
       |rkd AS (
       |  SELECT cluster, term, tf_c, cdf, score_fp,
       |    ROW_NUMBER() OVER (PARTITION BY cluster
       |                       ORDER BY score_fp DESC, term) AS rk
       |  FROM sc)
       |SELECT cluster, rk, term, tf_c, cdf, score_fp
       |FROM rkd WHERE rk <= $ClusterKwK
       |ORDER BY cluster, rk""".stripMargin

  private val SemTau = 0.30
  private val SemClusterCap = 1000

  /** SemDeDup-style semantic dedup (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the embedding space, then prune
    * within-cluster pairs whose cosine exceeds [[SemTau]], keeping the
    * CENTROID-CLOSEST member of each hot pair (ties to the smaller
    * vec_id) — the deterministic variant of the paper's keep rule.
    * Clusters here are the oracle-checked fixed-point label centroids
    * ([[centroidAssignments]] — exact integer dist2, so the keep rank
    * is bit-reproducible); a production run swaps in the IVF codebook
    * cells ([[trainCodebook]]) at a k chosen so n/k keeps the
    * within-cell join tractable — that k-vs-cluster-width trade IS the
    * SemDeDup scaling story, and the [[SemClusterCap]] guard (same
    * device as qDedupEmbedding's hot-bucket cap) bounds the damage of
    * a degenerate cell. Pair verdicts are pair-local (A≈B marks the
    * worse of the two; transitive families are [[qDedupClusters]]'
    * job).
    *
    * Shape at scale: assignment is the one posexplode rollup +
    * broadcast argmin (corpus shuffles once); the pairwise stage is an
    * equi self-join on the cluster key — quadratic only in cluster
    * width, which k controls. Fully hash-checked: cluster ids and
    * dist2 are exact integers, cosines are the bit-exact
    * [[Dedup.sqlDot]] mirror.
    */
  def qSemdedup(s: SparkSession, dir: String): DataFrame = {
    val assign = centroidAssignments(s, dir)
      .select(col("vec_id"), col("clabel").as("cluster"), col("dist2"))
    // materialized: both self-join sides AND the final verdict select
    // consume this table — unmaterialized, the whole explode + argmin
    // assignment pipeline re-derives three times
    val base = Ingest.table(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding"), Dedup.norm("embedding").as("nrm"))
      .join(assign, Seq("vec_id"))
      .withColumn("csize", count(lit(1)).over(Window.partitionBy("cluster")))
      .materialized
    val capped = base.filter(col("csize") <= SemClusterCap)
    val a = capped.select(col("vec_id").as("id_a"), col("embedding").as("e_a"),
      col("nrm").as("n_a"), col("cluster"), col("dist2").as("d_a"))
    val b = capped.select(col("vec_id").as("id_b"), col("embedding").as("e_b"),
      col("nrm").as("n_b"), col("cluster"), col("dist2").as("d_b"))
    val verdict = a.join(b, Seq("cluster")).filter(col("id_a") =!= col("id_b"))
      .withColumn("cosine", Dedup.dotExpr("e_a", "e_b") / (col("n_a") * col("n_b")))
      .filter(col("cosine") >= SemTau)
      .groupBy(col("id_a").as("vec_id"))
      .agg(
        count(lit(1)).as("n_sem_mates"),
        max(col("cosine")).as("max_cosine"),
        // dropped iff some hot mate outranks this vector on
        // (dist2, vec_id) — exactly one side of every pair drops
        max(when(col("d_b") < col("d_a") ||
            (col("d_b") === col("d_a") && col("id_b") < col("id_a")), 1L)
          .otherwise(0L)).as("worse"))
    base.select(col("vec_id"), col("cluster"), col("dist2"))
      .join(verdict, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"), col("dist2"),
        coalesce(col("n_sem_mates"), lit(0L)).as("n_sem_mates"),
        col("max_cosine"),
        coalesce(col("worse") === 1L, lit(false)).as("is_dropped"))
  }

  val qSemdedupSql: String =
    s"""WITH $centroidAssignCtes,
       |asg AS (SELECT vec_id, clabel AS cluster, dist2 FROM rk WHERE r = 1),
       |base AS (
       |  SELECT e.vec_id, e.embedding, ${Dedup.sqlNorm("e.embedding")} AS nrm,
       |    a.cluster, a.dist2
       |  FROM embeddings e JOIN asg a ON e.vec_id = a.vec_id),
       |sized AS (
       |  SELECT *, COUNT(*) OVER (PARTITION BY cluster) AS csize FROM base),
       |hot AS (
       |  SELECT a.vec_id AS id_a, a.dist2 AS d_a, b.vec_id AS id_b, b.dist2 AS d_b,
       |    ${Dedup.sqlDot("a.embedding", "b.embedding")} / (a.nrm * b.nrm) AS cosine
       |  FROM (SELECT * FROM sized WHERE csize <= $SemClusterCap) a
       |  JOIN (SELECT * FROM sized WHERE csize <= $SemClusterCap) b
       |    ON a.cluster = b.cluster AND a.vec_id <> b.vec_id),
       |verdict AS (
       |  SELECT id_a AS vec_id, COUNT(*) AS n_sem_mates, MAX(cosine) AS max_cosine,
       |    MAX(CASE WHEN d_b < d_a OR (d_b = d_a AND id_b < id_a)
       |             THEN 1 ELSE 0 END) AS worse
       |  FROM hot WHERE cosine >= $SemTau
       |  GROUP BY id_a)
       |SELECT s.vec_id, s.cluster, s.dist2,
       |  CAST(COALESCE(v.n_sem_mates, 0) AS BIGINT) AS n_sem_mates,
       |  v.max_cosine,
       |  COALESCE(v.worse = 1, false) AS is_dropped
       |FROM sized s LEFT JOIN verdict v ON s.vec_id = v.vec_id
       |ORDER BY s.vec_id""".stripMargin

  /** Per-dimension embedding health audit: count, zero count, min/max
    * component, and the bit-exact fixed-point mean per dim — the first
    * check on a new embedding export (dead dimensions read as n_zero ≈
    * n_vecs or a collapsed min/max range; a shifted encoder shows up
    * as drifted means). Companion to [[qEmbedCentroid]] (same
    * fixed-point contract) but per-DIMENSION over the whole corpus,
    * label-free.
    *
    * Shape at scale: posexplode + ONE partial-aggregated shuffle into
    * a dim-sized key space (64 keys) — every map partition reduces to
    * |dims| rows before moving. min/max of floats widened to double
    * are order-invariant; the mean divides the exact BIGINT sum once.
    */
  def qEmbedStats(s: SparkSession, dir: String): DataFrame =
    Ingest.table(s, dir, "embeddings")
      .select(posexplode(col("embedding")).as(Seq("pos", "v")))
      .select((col("pos") + 1).as("dim"), col("v").cast("double").as("v"))
      .groupBy(col("dim"))
      .agg(
        count(lit(1)).as("n_vecs"),
        sum(when(col("v") === 0d, 1L).otherwise(0L)).as("n_zero"),
        min(col("v")).as("v_min"),
        max(col("v")).as("v_max"),
        sum(expr(s"CAST(round(v * $CentroidFp) AS BIGINT)")).as("sum_fp"))
      .withColumn("mean",
        col("sum_fp").cast("double") / (col("n_vecs") * lit(CentroidFp)).cast("double"))

  val qEmbedStatsSql: String =
    s"""WITH ex AS (
       |  SELECT unnest(range(1, len(embedding) + 1)) AS dim,
       |    CAST(unnest(embedding) AS DOUBLE) AS v
       |  FROM embeddings)
       |SELECT CAST(dim AS INT) AS dim, COUNT(*) AS n_vecs,
       |  CAST(SUM(CASE WHEN v = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
       |  MIN(v) AS v_min, MAX(v) AS v_max,
       |  CAST(SUM(CAST(round(v * $CentroidFp) AS BIGINT)) AS BIGINT) AS sum_fp,
       |  CAST(SUM(CAST(round(v * $CentroidFp) AS BIGINT)) AS DOUBLE)
       |    / CAST(COUNT(*) * $CentroidFp AS DOUBLE) AS mean
       |FROM ex GROUP BY dim
       |ORDER BY dim""".stripMargin

  /** Self-auditing ANN: per-query recall of the LSH scale path against
    * the exact brute-force baseline — the number an ANN deployment
    * watches continuously (recall silently decays as the corpus
    * drifts away from the index's trained/assumed distribution; this
    * row makes the decay a queryable table instead of a spec-time
    * assertion). recall_bp is fixed-point basis points of top-[[K]]
    * overlap. AnnSpec pins thresholds; this row surfaces the same
    * measurement through the driver's rows-check.
    *
    * Shape at scale: both sides are the already-audited top-k plans
    * (broadcast probes, no corpus self-shuffle); the overlap join is
    * queries×k-sized — negligible.
    */
  def qAnnRecall(s: SparkSession, dir: String): DataFrame = {
    val bf = qAnnBruteforce(s, dir).select(col("query_id"), col("neighbor_id"))
    val lsh = qAnnLsh(s, dir)
      .select(col("query_id").as("q2"), col("neighbor_id").as("n2"))
    bf.join(lsh, col("query_id") === col("q2") && col("neighbor_id") === col("n2"), "left")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("k"), count(col("n2")).as("n_overlap"))
      .select(col("query_id"), col("k"), col("n_overlap"),
        expr("(n_overlap * 10000) DIV k").as("recall_bp"))
  }

  /** Hybrid retrieval — the RAG serving pattern: vector recall
    * (cross-polytope LSH ANN) over-fetches, then each hit joins its
    * document metadata and is FILTERED by the corpus-build quality
    * verdict before the final per-query cut. Retrieval quality
    * compounds: a vector index over unfiltered text serves spam with
    * perfect cosine similarity — the filter belongs INSIDE the
    * serving path, not just the training build.
    *
    * Shape at scale: ANN candidates are queries×k-sized; the verdict
    * join probes them AGAINST the doc-keyed quality table (AQE
    * broadcasts the candidate side — the corpus-sized verdict table
    * never reshuffles for a lookup this small); the final re-rank is
    * a window over ≤k rows per query.
    */
  def qHybridSearch(s: SparkSession, dir: String): DataFrame = {
    val hits = qAnnLsh(s, dir)
    val quality = graft.operators.TextOps.qQualityScore(s, dir)
      .select(col("doc_id").as("neighbor_id"), col("is_keep"), col("n_words"))
    val kept = hits.join(quality, Seq("neighbor_id"), "left").filter(col("is_keep") === true)
    TopK(kept, Seq("query_id"), Seq(col("cosine").desc, col("neighbor_id")), 3, "rnk_kept")
      .select(col("query_id"), col("rnk_kept").cast("int").as("rnk_kept"), col("neighbor_id"),
        col("cosine"), col("n_words"))
  }

  // Multi-probe counts for the LSH recall curve: 1, 2, the deployed
  // LshProbes (3), and a doubling beyond it.
  private val LshProbeCurve = Seq(1, 2, LshProbes, 6)

  /** LSH multi-probe recall curve — the [[qAnnProbeCurve]] sibling for
    * the data-OBLIVIOUS index family: recall@[[K]] vs the exact
    * baseline per probed-vertex count. Probing costs queries×tables×p
    * broadcast rows and opens proportionally more candidate buckets,
    * so this row prices multi-probe the way the IVF curve prices
    * nProbe — together the two curves are the tuning story for both
    * standard ANN shelves. Fully hash-checked off the shared
    * [[lshCtes]] key chain (one rotation pass serves every probe
    * point — the oracle's `ranked` CTE is computed once).
    *
    * Shape at scale: each point re-joins the SAME bucketed corpus
    * (map-only keys) against a p-times-larger broadcast probe list;
    * the rotation/key work is shared inside one statement in the
    * oracle and amortized by the codegen key expression in Spark.
    */
  def qLshProbeCurve(s: SparkSession, dir: String): DataFrame = {
    import graft.plans.Materialize.MaterializeOps
    val bfk = qAnnBruteforce(s, dir)
      .select(col("query_id"), col("neighbor_id")).materialized
    val nb = bfk.agg(count(lit(1)).as("n_base"))
    // r21 OPTIMIZATION (guide §2.4 — same outputs, one candidate pass
    // instead of four): multi-probe key lists are PREFIX-NESTED (the
    // kernel emits probe ranks in order at index t·probes + p), so the
    // probes=p candidate set is exactly the max-probe pairs whose
    // minimal recruiting probe rank ≤ p. One bucketed join at the
    // curve's max probe count tags each pair with that rank; each
    // curve point is then a filter + per-query top-K window over the
    // checkpointed pair table (all four windows share its tiny scan)
    // instead of its own corpus-bucketing join + distinct + window.
    val maxP = LshProbeCurve.max
    val (corpus, queries) = split(s, dir)
    val probed = queries
      .select(col("query_id"), col("q_emb"), col("q_nrm"),
        posexplode(graft.functions.VectorFunctions
          .xpolyKeys(col("q_emb"), LshSeed, LshTables, Dim, maxP)).as(Seq("pidx", "bkey")))
      .select(col("query_id"), col("q_emb"), col("q_nrm"), col("bkey"),
        (col("pidx") % maxP + 1).as("prank"))
    val pairs = cosineScored(lshAssign(corpus).join(broadcast(probed), Seq("bkey")), "prank")
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(min(col("prank")).as("mpr"), max(col("cosine")).as("cosine"))
      .materialized
    LshProbeCurve.map { p =>
      topK(pairs.filter(col("mpr") <= p))
        .select(col("query_id"), col("neighbor_id"))
        .join(bfk, Seq("query_id", "neighbor_id"))
        .agg(count(lit(1)).as("n_hits"))
        .select(lit(p.toLong).as("n_probes"), col("n_hits"))
    }.reduce(_ unionByName _)
      .crossJoin(broadcast(nb))
      .select(col("n_probes"), col("n_base").as("n_baseline"), col("n_hits"),
        expr("(n_hits * 1000000) DIV n_base").as("recall_ppm"))
  }

  /** Oracle for [[qLshProbeCurve]]: the shared key chain, one
    * [[lshServeCtes]] tail per probe point, the brute-force baseline,
    * exact hit joins — the [[qAnnProbeCurveSql]] device on the LSH
    * shelf.
    */
  val qLshProbeCurveSql: String = {
    val serves = LshProbeCurve.map(p => lshServeCtes(s"p$p", p)).mkString(",\n")
    val hits = LshProbeCurve.map { p =>
      s"""h$p AS (
         |  SELECT CAST($p AS BIGINT) AS n_probes, CAST(COUNT(*) AS BIGINT) AS n_hits
         |  FROM (SELECT query_id, neighbor_id FROM rp$p WHERE rnk <= $K) lv
         |  JOIN bfk USING (query_id, neighbor_id))""".stripMargin
    }.mkString(",\n")
    val union = LshProbeCurve.map(p => s"SELECT * FROM h$p").mkString("\n    UNION ALL ")
    s"""WITH $lshCtes,
       |$serves,
       |bfscored AS (
       |  SELECT query_id, vec_id AS neighbor_id,
       |    ${Dedup.sqlDot("embedding", "q_emb")} / (nrm * q_nrm) AS cosine
       |  FROM base CROSS JOIN q
       |  WHERE vec_id <> query_id),
       |bfr AS (
       |  SELECT query_id, neighbor_id,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |           ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rnk
       |  FROM bfscored),
       |bfk AS (SELECT query_id, neighbor_id FROM bfr WHERE rnk <= $K),
       |nq AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_base FROM bfk),
       |$hits
       |SELECT n_probes, nq.n_base AS n_baseline, n_hits,
       |  (n_hits * 1000000) // nq.n_base AS recall_ppm
       |FROM ($union) CROSS JOIN nq
       |ORDER BY n_probes""".stripMargin
  }

  /** Oracle for [[qHybridSearch]] — promoted from rows-only (r14, the
    * same program as the [[qAnnRecallSql]] promotion): the shared
    * [[lshCtes]] chain joined against the [[TextOps.qQualityScoreSql]]
    * verdict, refiltered and re-ranked — the full RAG serving path in
    * one engine-exact statement.
    */
  val qHybridSearchSql: String = {
    val qual = graft.operators.TextOps.qQualityScoreBody
    s"""WITH $lshCtes,
       |hits AS (SELECT query_id, neighbor_id, cosine FROM r WHERE rnk <= $K),
       |qual AS ($qual),
       |kept AS (
       |  SELECT h.query_id, h.neighbor_id, h.cosine, qu.n_words,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY h.query_id
       |           ORDER BY h.cosine DESC, h.neighbor_id) AS INTEGER) AS rnk_kept
       |  FROM hits h JOIN qual qu ON qu.doc_id = h.neighbor_id AND qu.is_keep)
       |SELECT query_id, rnk_kept, neighbor_id, cosine, n_words
       |FROM kept WHERE rnk_kept <= 3
       |ORDER BY query_id, rnk_kept""".stripMargin
  }

  /** RRF dampening constant (Cormack et al. 2009's k = 60). */
  private val RrfK0 = 60
  private val RrfScale = 1000000L

  /** Reciprocal-rank fusion of two retrievers — the ensemble device
    * every hybrid retrieval stack ends with, as an ORACLE-CHECKED
    * member of the hybrid family (q_hybrid_search composes rows-only
    * programs; this one is exact end to end). Retriever A ranks by
    * COSINE (norm-invariant), retriever B by raw DOT product
    * (magnitude-weighted) — genuinely different rankings wherever
    * vector norms vary — and each neighbor in either top-[[K]] scores
    * Σ [[RrfScale]] DIV ([[RrfK0]] + rank): integer arithmetic, so
    * the fused ranking is bit-reproducible even though it fuses
    * float-scored lists (the ranks themselves are pinned by the
    * bit-exact sequential-fold cosine/dot device).
    *
    * Shape at scale: ONE scored pass (the broadcast-query crossJoin
    * the brute-force baseline already pays — a production stack feeds
    * LSH/IVF candidate lists instead, same fusion), both rank windows
    * ride the SAME query_id exchange (two Window nodes, one shuffle),
    * and the fused cut is per-query top-[[K]].
    */
  def qRrfFusion(s: SparkSession, dir: String): DataFrame = {
    val (corpus, queries) = split(s, dir)
    val scored = corpus.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("query_id"))
      .select(
        col("query_id"),
        col("vec_id").as("neighbor_id"),
        Dedup.dotExpr("embedding", "q_emb").as("dot"),
        (col("nrm") * col("q_nrm")).as("nn"))
      .withColumn("cosine", col("dot") / col("nn"))
    val wCos = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id"))
    val wDot = Window.partitionBy("query_id").orderBy(col("dot").desc, col("neighbor_id"))
    // either list's top K: an OR of two ranks, which no partial limit serves
    val fused = scored
      .withColumn("ra", row_number().over(wCos).cast("long"))
      .withColumn("rb", row_number().over(wDot).cast("long"))
      .filter(col("ra") <= K || col("rb") <= K)
      .withColumn("rrf_fp",
        when(col("ra") <= K, expr(s"$RrfScale DIV (${RrfK0}L + ra)")).otherwise(0L)
          + when(col("rb") <= K, expr(s"$RrfScale DIV (${RrfK0}L + rb)")).otherwise(0L))
    TopK(fused, Seq("query_id"), Seq(col("rrf_fp").desc, col("neighbor_id")), K, "fused_rnk")
      .select(col("query_id"), col("fused_rnk"), col("neighbor_id"), col("rrf_fp"))
  }

  val qRrfFusionSql: String =
    s"""WITH base AS (
       |  SELECT vec_id, embedding, ${Dedup.sqlNorm("embedding")} AS nrm
       |  FROM embeddings),
       |${qidsCte("")},
       |q AS (
       |  SELECT vec_id AS query_id, embedding AS q_emb, nrm AS q_nrm
       |  FROM base WHERE vec_id IN (SELECT vec_id FROM qids)),
       |scored AS (
       |  SELECT query_id, vec_id AS neighbor_id,
       |    ${Dedup.sqlDot("embedding", "q_emb")} AS dot,
       |    (nrm * q_nrm) AS nn
       |  FROM base CROSS JOIN q
       |  WHERE vec_id <> query_id),
       |ranked AS (
       |  SELECT query_id, neighbor_id,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY dot / nn DESC, neighbor_id) AS ra,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY dot DESC, neighbor_id) AS rb
       |  FROM scored),
       |fused AS (
       |  SELECT query_id, neighbor_id,
       |    (CASE WHEN ra <= $K THEN $RrfScale // ($RrfK0 + ra) ELSE 0 END
       |     + CASE WHEN rb <= $K THEN $RrfScale // ($RrfK0 + rb) ELSE 0 END) AS rrf_fp
       |  FROM ranked WHERE ra <= $K OR rb <= $K),
       |cut AS (
       |  SELECT query_id, neighbor_id, rrf_fp,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY rrf_fp DESC, neighbor_id) AS fused_rnk
       |  FROM fused)
       |SELECT query_id, fused_rnk, neighbor_id, rrf_fp
       |FROM cut WHERE fused_rnk <= $K
       |ORDER BY query_id, fused_rnk""".stripMargin

  /** Vector-norm histogram — the corrupted-export screen
    * ([[qEmbedStats]]'s per-vector sibling): zeroed, clipped or
    * double-scaled vectors land in histogram bins far from the
    * corpus mode. The squared norm is an EXACT integer (components
    * fixed-pointed at [[CentroidFp]], squares summed as BIGINT — the
    * [[qCentroidAssign]] arithmetic; headroom 64·(2·2^20)² ≪ 2^63),
    * binned by integral DIV — bit-identical cross-engine, so this
    * float-derived audit is fully ORACLE-CHECKED.
    *
    * Shape at scale: posexplode + per-vector partial aggregate (one
    * corpus shuffle on vec_id), then the bounded histogram rollup.
    */
  def qNormHist(s: SparkSession, dir: String): DataFrame = {
    val binW = CentroidFp * CentroidFp // norm² fixed bin: 1.0 in float units
    Ingest.table(s, dir, "embeddings")
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .select(col("vec_id"),
        expr(s"CAST(round(CAST(v AS DOUBLE) * $CentroidFp) AS BIGINT)").as("f"))
      .groupBy(col("vec_id"))
      .agg(sum(col("f") * col("f")).as("norm2_fp"))
      .groupBy(expr(s"norm2_fp DIV $binW").as("norm2_bin"))
      .agg(
        count(lit(1)).as("n_vecs"),
        min("norm2_fp").as("min_norm2_fp"),
        max("norm2_fp").as("max_norm2_fp"))
  }

  val qNormHistSql: String = {
    val binW = CentroidFp * CentroidFp
    s"""WITH ex AS (
       |  SELECT vec_id,
       |    CAST(round(CAST(unnest(embedding) AS DOUBLE) * $CentroidFp) AS BIGINT) AS f
       |  FROM embeddings),
       |n AS (
       |  SELECT vec_id, CAST(SUM(f * f) AS BIGINT) AS norm2_fp
       |  FROM ex GROUP BY vec_id)
       |SELECT norm2_fp // $binW AS norm2_bin, COUNT(*) AS n_vecs,
       |  MIN(norm2_fp) AS min_norm2_fp, MAX(norm2_fp) AS max_norm2_fp
       |FROM n GROUP BY 1
       |ORDER BY norm2_bin""".stripMargin
  }

  /** Embedding-space DRIFT audit: the corpus split into two halves by
    * vec_id parity (the stand-in for "yesterday's export vs today's"),
    * per-label centroids computed for each half in the
    * [[CentroidFp]] fixed point, and the squared L2 gap between the
    * two half-centroids reported per label. A re-run export whose
    * encoder drifted (or whose pooling changed) moves every centroid;
    * this is the model-sized screen that catches it before a 100 TB
    * re-embed lands in production — the embedding sibling of
    * [[graft.operators.Audit]]'s qKsDrift.
    *
    * Bit-exact by the [[qCentroidAssign]] rules: components
    * fixed-pointed, half-centroids are INTEGER quotients
    * (sum DIV count — both engines truncate toward zero), the gap an
    * exact BIGINT sum of squared quotient deltas (headroom: dims ×
    * (2·2²⁰)² ≪ 2⁶³). The only IEEE op is the final unit rescale.
    * Degenerate halves (a label present in one parity only) keep the
    * query total via greatest(n, 1) + COALESCE — both engines agree.
    *
    * Shape at scale: ONE corpus pass — the parity split rides as a
    * grouping key beside (label, dim) with conditional aggregation, so
    * there is no self-join of two filtered scans; the dist2 rollup
    * runs on the label×dim model table.
    */
  def qCentroidShift(s: SparkSession, dir: String): DataFrame =
    Ingest.table(s, dir, "embeddings")
      .select(col("label"), (col("vec_id") % 2).as("half"),
        posexplode(col("embedding")).as(Seq("pos", "v")))
      .select(col("label"), col("half"), col("pos"),
        expr(s"CAST(round(CAST(v AS DOUBLE) * $CentroidFp) AS BIGINT)").as("f"))
      .groupBy(col("label"), col("pos"))
      .agg(
        sum(when(col("half") === 0, 1L).otherwise(0L)).as("n_a"),
        coalesce(sum(when(col("half") === 0, col("f"))), lit(0L)).as("s_a"),
        sum(when(col("half") === 1, 1L).otherwise(0L)).as("n_b"),
        coalesce(sum(when(col("half") === 1, col("f"))), lit(0L)).as("s_b"))
      .select(col("label"), col("n_a"), col("n_b"),
        (expr("s_a DIV greatest(n_a, 1)") - expr("s_b DIV greatest(n_b, 1)")).as("dq"))
      .groupBy(col("label"))
      .agg(
        max("n_a").as("n_a"),
        max("n_b").as("n_b"),
        sum(col("dq") * col("dq")).as("dist2_fp"))
      .select(col("label"), col("n_a"), col("n_b"), col("dist2_fp"),
        (col("dist2_fp").cast("double") /
          lit((CentroidFp * CentroidFp).toDouble)).as("shift_sq"))

  val qCentroidShiftSql: String =
    s"""WITH ex AS (
       |  SELECT label, vec_id % 2 AS half,
       |    unnest(range(1, len(embedding) + 1)) AS dim,
       |    unnest(embedding) AS v
       |  FROM embeddings),
       |fp AS (
       |  SELECT label, half, dim,
       |    CAST(round(CAST(v AS DOUBLE) * $CentroidFp) AS BIGINT) AS f
       |  FROM ex),
       |g AS (
       |  SELECT label, dim,
       |    CAST(SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
       |    CAST(COALESCE(SUM(CASE WHEN half = 0 THEN f END), 0) AS BIGINT) AS s_a,
       |    CAST(SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
       |    CAST(COALESCE(SUM(CASE WHEN half = 1 THEN f END), 0) AS BIGINT) AS s_b
       |  FROM fp GROUP BY label, dim),
       |d AS (
       |  SELECT label, n_a, n_b,
       |    s_a // greatest(n_a, 1) - s_b // greatest(n_b, 1) AS dq
       |  FROM g)
       |SELECT label, MAX(n_a) AS n_a, MAX(n_b) AS n_b,
       |  CAST(SUM(dq * dq) AS BIGINT) AS dist2_fp,
       |  CAST(CAST(SUM(dq * dq) AS BIGINT) AS DOUBLE)
       |    / ${(CentroidFp * CentroidFp).toDouble} AS shift_sq
       |FROM d GROUP BY label
       |ORDER BY label""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_cluster_quality" -> qClusterQuality _,
    "q_embed_outlier"   -> qEmbedOutlier _,
    "q_norm_hist"       -> qNormHist _,
    "q_centroid_shift"  -> qCentroidShift _,
    "q_hybrid_search"   -> qHybridSearch _,
    "q_rrf_fusion"      -> qRrfFusion _,
    "q_ann_recall"      -> qAnnRecall _,
    "q_semdedup"        -> qSemdedup _,
    "q_quant_recall"    -> qQuantRecall _,
    "q_embed_stats"     -> qEmbedStats _,
    "q_centroid_assign" -> qCentroidAssign _,
    "q_cluster_keywords" -> qClusterKeywords _,
    "q_ann_bruteforce" -> qAnnBruteforce _,
    "q_ann_lsh"        -> qAnnLsh _,
    "q_ann_ivf"        -> qAnnIvf _,
    "q_ann_probe_curve" -> qAnnProbeCurve _,
    "q_lsh_probe_curve" -> qLshProbeCurve _,
    "q_ann_quantized"  -> qAnnQuantized _,
    "q_ann_pq"         -> qAnnPq _,
    "q_ann_ivfadc"     -> qAnnIvfadc _,
    "q_pq_recall"      -> qPqRecall _,
    "q_embed_centroid" -> qEmbedCentroid _
  )

  /** Every scoring path here is hash-checked: sequential list_reduce
    * replicates the native dot/norm accumulation order exactly, the
    * int8 path is single-IEEE-op / exact-integer throughout, the LSH
    * rotations interpolate as literal matrices and the IVF codebook
    * re-trains inside the oracle SQL itself (see [[qAnnLshSql]] /
    * [[qAnnIvfSql]]). Only q_ann_recall and q_hybrid_search remain
    * rows-only — pure compositions of the already-checked LSH and
    * brute-force programs (their own SQL would re-state both, proving
    * nothing new at 2× the oracle runtime).
    */
  val oracle: Map[String, String] = Map(
    "q_cluster_quality" -> qClusterQualitySql,
    "q_embed_outlier"   -> qEmbedOutlierSql,
    "q_rrf_fusion"      -> qRrfFusionSql,
    "q_ann_lsh"         -> qAnnLshSql,
    "q_ann_ivf"         -> qAnnIvfSql,
    "q_ann_probe_curve" -> qAnnProbeCurveSql,
    "q_lsh_probe_curve" -> qLshProbeCurveSql,
    "q_ann_recall"      -> qAnnRecallSql,
    "q_hybrid_search"   -> qHybridSearchSql,
    "q_ann_bruteforce"  -> qAnnBruteforceSql,
    "q_ann_quantized"   -> qAnnQuantizedSql,
    "q_ann_pq"          -> qAnnPqSql,
    "q_ann_ivfadc"      -> qAnnIvfadcSql,
    "q_pq_recall"       -> qPqRecallSql,
    "q_quant_recall"    -> qQuantRecallSql,
    "q_semdedup"        -> qSemdedupSql,
    "q_norm_hist"       -> qNormHistSql,
    "q_centroid_shift"  -> qCentroidShiftSql,
    "q_embed_stats"     -> qEmbedStatsSql,
    "q_embed_centroid"  -> qEmbedCentroidSql,
    "q_centroid_assign" -> qCentroidAssignSql,
    "q_cluster_keywords" -> qClusterKeywordsSql)
}
