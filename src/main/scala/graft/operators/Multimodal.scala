package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing (SURVEY.md §2 non-query component):
  * image/audio/video payloads ride as opaque `binary` columns with
  * typed metadata; decode / feature-extract runs per-partition so a
  * real codec would amortize its init across a partition's rows.
  *
  * The codec itself is a STUB — deterministic fake decode derived from
  * the payload bytes (image/audio libraries are absent in this
  * container by design). The Spark-side plumbing — schema, typed
  * Dataset, mapPartitions batch shape, partition-level codec init —
  * is the real, tested part; swap [[StubCodec]] for a JNI/JavaCV
  * binding and nothing else changes.
  */
object Multimodal {

  /** An undecoded media row (what `q_multimodal_meta` materializes). */
  case class MediaRow(doc_id: Long, media: Array[Byte], media_type: String)

  /** Decoded metadata + a fixed-width feature vector. */
  case class Decoded(doc_id: Long, media_type: String, width: Int, height: Int,
                     n_frames: Int, feature: Array[Float])

  /** Deterministic fake codec: "decodes" shape and a feature vector
    * from a rolling hash of the payload. A real implementation would
    * open the container format here — the signature is the contract.
    */
  object StubCodec {
    def init(): StubCodec.type = this // stands in for expensive codec init

    private def h(bytes: Array[Byte], salt: Long): Long = {
      var acc = salt
      var i = 0
      while (i < bytes.length) { acc = (acc * 1000003L + (bytes(i) & 0xff)) & 0xffffffffffffL; i += 1 }
      acc
    }

    /** The raw 48-bit payload hash ([[qPhashDedup]]'s seed for the
      * block-luminance expansion; a real codec would return decoded
      * pixel blocks here instead). */
    def baseHash(bytes: Array[Byte]): Long = h(bytes, salt = 17L)

    def decode(r: MediaRow): Decoded = {
      val base = h(r.media, salt = 17L)
      val (w, ht, frames) = r.media_type match {
        case t if t.startsWith("image") => (64 + (base % 1024).toInt, 64 + ((base >> 10) % 1024).toInt, 1)
        case t if t.startsWith("audio") => (1, 1, 8000 + (base % 80000).toInt) // samples
        case _                          => (320 + (base % 640).toInt, 240 + ((base >> 10) % 480).toInt, 24 + (base % 240).toInt)
      }
      val feat = Array.tabulate(8)(i => ((h(r.media, salt = 31L + i) % 2048) / 1024.0f) - 1.0f)
      Decoded(r.doc_id, r.media_type, w, ht, frames, feat)
    }
  }

  /** Decode a media Dataset per-partition: codec init once per
    * partition, rows streamed through it — the batch shape a real
    * decoder needs. Map-only: scales linearly with executors.
    */
  def decode(ds: Dataset[MediaRow]): Dataset[Decoded] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { rows =>
      val codec = StubCodec.init()
      rows.map(codec.decode)
    }
  }

  /** One sampled frame of a decoded video/audio payload. */
  case class Frame(doc_id: Long, media_type: String, frame_idx: Int, feature: Array[Float])

  /** Resize: the 1→1 media transform shape (thumbnailing, sample-rate
    * conversion). The stub maps the decoded dims onto the target box
    * preserving determinism; a real codec would rescale pixels here.
    * Map-only per-partition — the transform a 100 TB image pipeline
    * runs between decode and feature extraction.
    */
  def resize(ds: Dataset[Decoded], maxW: Int, maxH: Int): Dataset[Decoded] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { rows =>
      val codec = StubCodec.init()
      rows.map { d =>
        val scale = math.min(1.0, math.min(maxW.toDouble / d.width, maxH.toDouble / d.height))
        d.copy(width = math.max(1, (d.width * scale).toInt),
               height = math.max(1, (d.height * scale).toInt))
      }
    }
  }

  /** Frame sampling: the 1→N explode shape (keyframe extraction,
    * audio windowing). Every `stride`-th frame becomes its own row
    * with a per-frame feature — the row-multiplying step that turns a
    * video corpus into a training-image corpus. Output cardinality is
    * explicit (ceil(n_frames/stride)), so downstream volume is
    * plannable before the job runs.
    */
  def frameSample(ds: Dataset[Decoded], stride: Int): Dataset[Frame] = {
    require(stride >= 1, s"stride must be positive, got $stride")
    import ds.sparkSession.implicits._
    ds.mapPartitions { rows =>
      val codec = StubCodec.init()
      rows.flatMap { d =>
        (0 until d.n_frames by stride).iterator.map { i =>
          // deterministic per-frame feature: base feature rotated by
          // the frame index (a real codec would decode frame i here)
          val f = Array.tabulate(d.feature.length)(j =>
            d.feature((j + i) % d.feature.length))
          Frame(d.doc_id, d.media_type, i, f)
        }
      }
    }
  }

  /** End-to-end: build the media frame (as `q_multimodal_meta` does),
    * decode it, return metadata + feature summary.
    */
  def decodeTable(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = graft.sources.Ingest.table(s, dir, "documents")
      .select(
        col("doc_id"),
        col("text").cast("binary").as("media"),
        when(col("doc_id") % 3 === 0, "image/png")
          .when(col("doc_id") % 3 === 1, "audio/wav")
          .otherwise("video/mp4").as("media_type"))
      .as[MediaRow]
    decode(media)
      .select(col("doc_id"), col("media_type"), col("width"), col("height"),
        col("n_frames"), size(col("feature")).as("feature_dim"))
  }

  /** SURVEY §2 row 117 — the whole media pipeline as one queryable
    * plan: synthesize media columns, decode (per-partition codec
    * init), resize into a 512×512 box, frame-sample with a
    * per-modality stride (images decode to 1 frame; audio "frames"
    * are samples, so the stride is sample-rate-sized — output
    * cardinality stays plannable per the [[frameSample]] contract),
    * then roll the frame corpus up per media type. Fully hash-checked:
    * the stub codec is deterministic byte arithmetic,
    * so [[qMediaPipelineSql]] mirrors it — the typed mapPartitions
    * path stays the real plumbing under test, the oracle replays its
    * arithmetic. Per-stage semantics are additionally spec-tested in
    * MultimodalSpec.
    *
    * Shape at scale: every stage is map-only; the ONLY shuffle is the
    * final |media_type|-sized rollup. The 1→N frame explosion happens
    * inside mapPartitions — no Generate of the binary payload, and
    * payload bytes never survive past decode.
    */
  def qMediaPipeline(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = graft.sources.Ingest.table(s, dir, "documents")
      .select(
        col("doc_id"),
        col("text").cast("binary").as("media"),
        when(col("doc_id") % 3 === 0, "image/png")
          .when(col("doc_id") % 3 === 1, "audio/wav")
          .otherwise("video/mp4").as("media_type"))
      .as[MediaRow]
    val decoded = resize(decode(media), maxW = 512, maxH = 512)
    val img = frameSample(decoded.filter(col("media_type") === "image/png").as[Decoded], 1)
    val vid = frameSample(decoded.filter(col("media_type") === "video/mp4").as[Decoded], 8)
    val aud = frameSample(decoded.filter(col("media_type") === "audio/wav").as[Decoded], 8000)
    img.unionAll(vid).unionAll(aud)
      .groupBy(col("media_type"))
      .agg(
        countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_frames_sampled"),
        max(col("frame_idx")).as("max_frame_idx"),
        min(size(col("feature"))).as("feature_dim"))
  }

  /** Oracle for [[qMediaPipeline]] — fully hash-checked. The rollup's
    * columns depend ONLY on each doc's media_type and n_frames (resize
    * touches dims the rollup never reads; features only contribute
    * their fixed length 8), and n_frames comes from [[StubCodec]]'s
    * 48-bit rolling hash `acc = (acc·1000003 + byte) mod 2^48` over
    * the UTF-8 payload — exact in HUGEINT (acc < 2^48, ×1000003 <
    * 2^68 ≪ 2^127). Byte values are `unicode()` code points under the
    * corpus's all-ASCII contract (the [[OracleEmul.wordHashes]]
    * device). frameSample's 1→N explode reduces to closed forms:
    * count = ⌈n/stride⌉, max idx = ⌊(n−1)/stride⌋·stride.
    */
  val qMediaPipelineSql: String = {
    val mask = 281474976710656L // 2^48
    s"""WITH codes AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 3 = 0 THEN 'image/png'
       |         WHEN doc_id % 3 = 1 THEN 'audio/wav'
       |         ELSE 'video/mp4' END AS media_type,
       |    list_reduce(list_prepend(17::HUGEINT,
       |      list_transform(list_filter(string_split_regex(text, ''), c1 -> c1 <> ''),
       |        c2 -> unicode(c2)::HUGEINT)),
       |      (acc, b) -> (acc * 1000003 + b) % $mask::HUGEINT) AS base
       |  FROM documents),
       |d AS (
       |  SELECT doc_id, media_type,
       |    CASE WHEN media_type = 'image/png' THEN 1::HUGEINT
       |         WHEN media_type = 'audio/wav' THEN 8000 + base % 80000
       |         ELSE 24 + base % 240 END AS n_frames,
       |    CASE WHEN media_type = 'image/png' THEN 1
       |         WHEN media_type = 'video/mp4' THEN 8
       |         ELSE 8000 END AS stride
       |  FROM codes)
       |SELECT media_type,
       |  COUNT(DISTINCT doc_id) AS n_docs,
       |  CAST(SUM((n_frames + stride - 1) // stride) AS BIGINT) AS n_frames_sampled,
       |  CAST(MAX(((n_frames - 1) // stride) * stride) AS INTEGER) AS max_frame_idx,
       |  CAST(MIN(8) AS INTEGER) AS feature_dim
       |FROM d GROUP BY media_type
       |ORDER BY media_type""".stripMargin
  }

  // ------------------------------------------------------------------
  // Perceptual-hash media dedup: an average-hash
  // (aHash) fingerprint over the stub-decoded payload, then the
  // Dedup.scala banded-LSH candidate machinery reused verbatim.
  // 4 bands × 16 bits: any pair with hamming ≤ 3 shares ≥1 clean band
  // (pigeonhole — perfect recall at the verify threshold), and
  // 65536-value buckets keep candidate volume ~N²·4/65536 instead of
  // the N²·8/256 an 8-bit banding would cost — the band-width choice
  // IS the scale lever for a fingerprint family whose buckets are
  // value-dense. Hot buckets (a viral image reposted millions of
  // times) hit Dedup.candidatePairs' salt cap, same contract as text.
  // ------------------------------------------------------------------
  private val PhashBands = 4
  private val PhashBandBits = 16
  private val PhashHamThresh = 3
  private val Mask48 = 281474976710656L // 2^48

  /** One fingerprinted media row: the packed aHash band values. */
  case class Fingered(doc_id: Long, media_type: String, bands: Array[Long])

  /** Per-partition stub decode-to-fingerprint — the same mapPartitions
    * codec-init shape as [[decode]]: expand the payload's 48-bit seed
    * into 64 deterministic block luminances, take the aHash bit per
    * block (luminance > mean), pack [[PhashBands]] × [[PhashBandBits]]
    * band values. A real pHash computes its block luminances from
    * decoded pixels in exactly this slot. Computed in the codec (plain
    * JVM integer loops) rather than as chained higher-order-function
    * columns: CollapseProject inlines a lambda-referenced column's
    * whole expression PER ELEMENT, which made the declarative
    * formulation recompute px/avg/bits combinatorially (~66 s for
    * 5k rows, measured) — the codec loop is linear and matches the
    * DuckDB oracle bit for bit.
    */
  def fingerprintBands(ds: Dataset[MediaRow]): Dataset[Fingered] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { rows =>
      val codec = StubCodec.init()
      rows.map { r =>
        val base = StubCodec.baseHash(r.media)
        // Mid-square block expansion: the first formulation
        // (base·(2i+1)+i·c mod 256) was an arithmetic progression in i
        // modulo 256 — structured, so DISTINCT payloads piled onto a
        // handful of degenerate fingerprints (254 distinct over 50k
        // random seeds, measured; one 1400-member band bucket tripped
        // the salt cap at the 10× replica). Squaring the low 24 bits
        // and reading the mid bits (Knuth mid-square) is nonlinear in
        // i while staying exact in both Long and HUGEINT:
        // 38k distinct fingerprints / max 231-member bucket at 50k.
        val px = Array.tabulate(64) { i =>
          val a = (base + i * 99991L) % Mask48
          val b = a % (1L << 24)
          (((b * b + (a >> 24)) % Mask48) >> 24) % 256L
        }
        val avg = px.sum / 64L
        val bands = Array.tabulate(PhashBands) { j =>
          var acc = 0L
          var k = 0
          while (k < PhashBandBits) {
            if (px(j * PhashBandBits + k) > avg) acc += (1L << k)
            k += 1
          }
          acc
        }
        Fingered(r.doc_id, r.media_type, bands)
      }
    }
  }

  /** SURVEY §2 — perceptual-hash near-dup over media payloads: expand
    * each payload's 48-bit stub-decode seed into 64 deterministic
    * block luminances, take the average-hash bit per block
    * (luminance > mean — the classic aHash rule, transcendental-free),
    * pack the 64 bits into [[PhashBands]] 16-bit band values, surface
    * candidate pairs through [[Dedup.candidatePairs]]' salted band
    * join, verify exact hamming over the band arrays, and report the
    * per-media audit view ([[Dedup.qDedupEmbedding]]'s shape): every
    * payload with its fingerprint hex, candidate count, best mate and
    * min hamming, `is_dup` at hamming ≤ [[PhashHamThresh]].
    *
    * With the deterministic stub, byte-identical payloads (and only
    * those, avalanche) collide at hamming 0 — MultimodalSpec plants
    * such a family; with a real codec the same plan catches
    * recompressed/resized variants, because aHash bits move only where
    * block luminances cross the mean.
    *
    * Shape at scale: fingerprint is map-only mapPartitions (payload
    * bytes never survive it); the band explode is ×4; the only
    * corpus shuffles are the salted (band, bucket) candidate join and
    * the doc-keyed mate rollup. Verify joins ship 4-long band arrays,
    * not payloads.
    */
  /** The documents table reinterpreted as typed media payloads — the
    * fixture rule shared by [[qPhashDedup]] and [[qPhashBanding]]. */
  private def mediaOf(s: org.apache.spark.sql.SparkSession,
      dir: String): Dataset[MediaRow] = {
    import s.implicits._
    graft.sources.Ingest.table(s, dir, "documents")
      .select(
        col("doc_id"),
        col("text").cast("binary").as("media"),
        when(col("doc_id") % 3 === 0, "image/png")
          .when(col("doc_id") % 3 === 1, "audio/wav")
          .otherwise("video/mp4").as("media_type"))
      .as[MediaRow]
  }

  def qPhashDedup(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val media = mediaOf(s, dir)
    import graft.plans.Materialize._
    val fp = fingerprintBands(media).toDF()
      .select(col("doc_id"), col("media_type"),
        lower(expr(s"concat_ws('', transform(bands, b -> lpad(hex(b), ${PhashBandBits / 4}, '0')))"))
          .as("phash_hex"),
        col("bands"))
      .materialized
    // Fingerprint canonicalization (r15, the device now uniform across
    // every banded shelf — simhash/minhash/char-ngram/span/phash): the
    // 16-bit band buckets are a constant space, so band-bucket
    // population — and the candidate quadratic — grew with however
    // many payloads share a fingerprint (byte-identical re-uploads,
    // exactly the media mass that grows with crawl history). Banding
    // runs over DISTINCT fingerprints; per-member stats are arithmetic
    // on group sizes: a member of an m-deep family has m−1 hamming-0
    // mates (best = the family min id, or the second-min for the min
    // member itself), and each band-colliding group g' (hamming ≥ 1 —
    // distinct fingerprints always differ in some bit) contributes its
    // m' members with min mate id = g'.gid.
    val g = Canonical.groups(
      fp.select(col("doc_id"), col("phash_hex"), col("bands")),
      "doc_id", Seq("phash_hex", "bands"))
    val bandRows = g.select(col("gid").as("doc_id"),
      posexplode(col("bands")).as(Seq("band", "bucket")))
    val gPairs = Dedup.candidatePairs(bandRows)
      .join(g.select(col("gid").as("id_a"), col("bands").as("ba"), col("m").as("ma")), "id_a")
      .join(g.select(col("gid").as("id_b"), col("bands").as("bb"), col("m").as("mb")), "id_b")
      .withColumn("hamming", expr(
        "CAST(aggregate(zip_with(ba, bb, (x, y) -> bit_count(x ^ y)), 0, (a, v) -> a + v) AS BIGINT)"))
      .select("id_a", "id_b", "hamming", "ma", "mb")
    val gMates = gPairs.select(col("id_a").as("gid"), col("id_b").as("mate"), col("hamming"), col("mb").as("mm"))
      .unionAll(gPairs.select(col("id_b").as("gid"), col("id_a").as("mate"), col("hamming"), col("ma").as("mm")))
    val cross = gMates.groupBy(col("gid"))
      .agg(sum(col("mm")).as("n_cross"),
        min(struct(col("hamming"), col("mate"))).as("bc"))
    val mem = Canonical.members(
      fp.select(col("doc_id"), col("media_type"), col("phash_hex")),
      g, Seq("phash_hex")) // the hex determines the bands — join on it alone
    // second-min member per multi-member group: the min member's
    // within-family best mate
    val mn2 = mem.filter(col("doc_id") =!= col("gid"))
      .groupBy(col("gid")).agg(min(col("doc_id")).as("mn2"))
    mem
      .join(cross, Seq("gid"), "left")
      .join(mn2, Seq("gid"), "left")
      .select(col("doc_id"), col("media_type"), col("phash_hex"),
        (col("m") - 1 + coalesce(col("n_cross"), lit(0L))).as("n_candidates"),
        when(col("m") >= 2,
          when(col("doc_id") === col("gid"), col("mn2")).otherwise(col("gid")))
          .otherwise(col("bc.mate")).as("best_mate_id"),
        when(col("m") >= 2, lit(0L)).otherwise(col("bc.hamming")).as("min_hamming"))
      .select(col("doc_id"), col("media_type"), col("phash_hex"),
        col("n_candidates"), col("best_mate_id"), col("min_hamming"),
        coalesce(col("min_hamming") <= PhashHamThresh, lit(false)).as("is_dup"))
  }

  /** Oracle for [[qPhashDedup]] — fully hash-checked: the 48-bit seed
    * replays [[qMediaPipelineSql]]'s HUGEINT fold, the 64-block
    * expansion / mean / bit / band packing are pure integer lambda
    * arithmetic, candidates replay the band equi-join (the salt cap is
    * inert below 1000 members per 16-bit bucket at every oracle scale
    * — the banded-minhash precondition), and the best-mate pick
    * replays the min(struct) tie-break as a window.
    *
    * ASCII corpus contract (same as
    * [[OracleEmul.wordHashes]]): the 48-bit seed folds
    * `unicode(c)::HUGEINT` per CHARACTER while the Spark side
    * ([[StubCodec.baseHash]]) folds UTF-8 BYTES — equal only while
    * every payload codepoint is < U+0080, which the all-ASCII testdata
    * guarantees and MultimodalSpec pins (a non-ASCII payload diverges
    * in both fold length and values; a byte-true oracle would need
    * DuckDB-side blob iteration over encode(text)).
    */
  /** The stub-decode -> 64-block -> aHash-bit -> band-pack chain as
    * DuckDB CTEs ending at `fp` (doc_id, media_type, bands) — SHARED
    * by [[qPhashDedupSql]] and [[qPhashBandingSql]] so the dedup row
    * and its banding frontier replay ONE fingerprint model. */
  private val phashFpCtes: String =
    s"""codes AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 3 = 0 THEN 'image/png'
       |         WHEN doc_id % 3 = 1 THEN 'audio/wav'
       |         ELSE 'video/mp4' END AS media_type,
       |    list_reduce(list_prepend(17::HUGEINT,
       |      list_transform(list_filter(string_split_regex(text, ''), c1 -> c1 <> ''),
       |        c2 -> unicode(c2)::HUGEINT)),
       |      (acc, b) -> (acc * 1000003 + b) % $Mask48::HUGEINT) AS base
       |  FROM documents),
       |c1 AS (
       |  SELECT doc_id, media_type,
       |    list_transform(range(0, 64),
       |      i -> CAST(((((((base + i * 99991) % $Mask48) % 16777216)
       |                    * (((base + i * 99991) % $Mask48) % 16777216)
       |                  + ((base + i * 99991) % $Mask48) // 16777216) % $Mask48)
       |                 // 16777216) % 256 AS BIGINT)) AS px
       |  FROM codes),
       |c2 AS (SELECT *, CAST(list_sum(px) AS BIGINT) // 64 AS avg_px FROM c1),
       |c3 AS (SELECT doc_id, media_type,
       |         list_transform(px, p -> CASE WHEN p > avg_px THEN 1 ELSE 0 END) AS bits
       |       FROM c2),
       |fp AS MATERIALIZED (
       |  SELECT doc_id, media_type,
       |    list_transform(range(0, $PhashBands), j ->
       |      CAST(list_sum(list_transform(range(0, $PhashBandBits),
       |        k -> bits[j * $PhashBandBits + k + 1] * (1 << k))) AS BIGINT)) AS bands
       |  FROM c3)""".stripMargin

  val qPhashDedupSql: String =
    s"""WITH $phashFpCtes,
       |hexed AS (
       |  SELECT doc_id, media_type, bands,
       |    lower(list_aggregate(list_transform(bands,
       |      b -> lpad(lower(to_hex(b)), ${PhashBandBits / 4}, '0')), 'string_agg', '')) AS phash_hex
       |  FROM fp),
       |br AS (
       |  SELECT doc_id, CAST(j AS INTEGER) AS band, bands[j + 1] AS bucket
       |  FROM fp, range(0, $PhashBands) t(j)),
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM br a JOIN br b
       |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
       |ham AS (
       |  SELECT p.id_a, p.id_b,
       |    CAST(list_sum(list_transform(range(0, $PhashBands),
       |      j -> bit_count(xor(fa.bands[j + 1], fb.bands[j + 1])))) AS BIGINT) AS hamming
       |  FROM pairs p
       |  JOIN fp fa ON fa.doc_id = p.id_a
       |  JOIN fp fb ON fb.doc_id = p.id_b),
       |mates AS (
       |  SELECT id_a AS doc_id, id_b AS mate, hamming FROM ham
       |  UNION ALL
       |  SELECT id_b, id_a, hamming FROM ham),
       |agg AS (
       |  SELECT doc_id, COUNT(*) AS n_candidates, MIN(hamming) AS min_hamming
       |  FROM mates GROUP BY doc_id),
       |bm AS (
       |  SELECT doc_id, mate FROM (
       |    SELECT doc_id, mate,
       |      ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY hamming, mate) AS rn
       |    FROM mates) WHERE rn = 1)
       |SELECT h.doc_id, h.media_type, h.phash_hex,
       |  CAST(COALESCE(agg.n_candidates, 0) AS BIGINT) AS n_candidates,
       |  bm.mate AS best_mate_id,
       |  agg.min_hamming,
       |  COALESCE(agg.min_hamming <= $PhashHamThresh, FALSE) AS is_dup
       |FROM hexed h
       |LEFT JOIN agg ON h.doc_id = agg.doc_id
       |LEFT JOIN bm ON h.doc_id = bm.doc_id
       |ORDER BY h.doc_id""".stripMargin

  /** Band counts for the [[qPhashBanding]] frontier — each splits the
    * 64 aHash bits evenly (bits_per_band = 64 / n_bands). The shipped
    * dedup banding is the [[PhashBands]] = 4 point. */
  private[graft] val PhashBandingConfigs = Seq(2, 4, 8, 16)

  /** Banding recall/candidate-volume frontier of the phash shelf
    * (the media twin of `q_banding_curve`): per band
    * count b ∈ [[PhashBandingConfigs]], re-slice the SAME 64-bit aHash
    * fingerprint into b equal bands, surface candidates through the
    * salted band join, and score against hamming truth at ≤
    * [[PhashHamThresh]]. Banding here is PIGEONHOLE, not
    * probabilistic: h bit flips can dirty at most h bands, so every
    * pair with hamming ≤ b − 1 keeps a clean band — recall is exactly
    * 10000 bp for b > [[PhashHamThresh]] (MultimodalSpec pins it, and
    * pins candidate NESTING: a clean 2w-bit band is two clean w-bit
    * bands, so each config's candidates contain the coarser one's).
    * What the frontier PRICES is the b=2 point (32-bit bands cannot
    * guarantee hamming-3 recall — the measured shortfall) versus the
    * candidate-volume cost of finer bands (shorter band words collide
    * more often on near-miss fingerprints). Truth is the union-of-
    * configs device (the `q_banding_curve` contract): complete here,
    * because the b=16 config's pigeonhole guarantee surfaces every
    * hamming ≤ 3 pair.
    *
    * Canonical DISTINCT fingerprints throughout (the r15 device):
    * byte-identical re-uploads collapse before banding, so candidate
    * volume tracks distinct media, never crawl depth; hamming-0 pairs
    * are definitionally within-group and excluded — the frontier
    * measures the NEAR tier (1 ≤ hamming ≤ 3) that banding exists for.
    *
    * Shape at scale: fingerprint map pass → distinct-fingerprint
    * aggregate → per-config salted band self-joins (the only corpus
    * shuffles, each bounded by bucket collisions) → pair-sized truth
    * verify → 4-row report.
    */
  def qPhashBanding(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    import graft.plans.Materialize._
    val fp = fingerprintBands(mediaOf(s, dir)).toDF()
      .select(col("doc_id"), col("bands"))
    val reps = Canonical.groups(fp, "doc_id", Seq("bands"))
      .select(col("gid").as("doc_id"), col("bands"))
      .materialized
    // r21 OPTIMIZATION (guide §2.3/§2.4 + §8 — same outputs, the pair
    // set never shuffles): the configs NEST by pigeonhole (a clean
    // 2w-bit band is two clean w-bit bands), so the finest config's
    // (b=16, 4-bit nibble) candidate set CONTAINS every coarser
    // config's, and a pair's membership in a coarser config is a pure
    // function of its two fingerprints (∃ band slice with XOR 0).
    // The old shape materialized four per-config pair sets (the b=16
    // one quadratic in near-miss collisions — 6.3M distinct pairs at
    // sf0.1), unioned + distinct'd them, and joined each against a
    // truth set whose hamming came from interpreted higher-order
    // lambdas (~5.5 s per lambda column over the pair set). Now the
    // band rows CARRY the four 16-bit fingerprint words, the salted
    // nibble self-join emits each pair exactly once — at its FIRST
    // matching band (a codegen CASE over the 16 XOR nibbles filters
    // later-band re-emissions map-side) — and hamming + per-config
    // membership fold from plain bit_count/bitwise-AND expressions
    // into ONE aggregate. No distinct, no pair exchange, no lambdas:
    // the only shuffles left are the 80k-row band-table exchange and
    // the 1-row aggregate. (Under an ACTIVE hot-bucket salt cap the
    // sampled pair set differs from the old four-join sampling — both
    // are cap-degraded regimes the oracle never certifies; at every
    // oracle scale the cap is inert and the outputs are identical.)
    val sides = reps.select(
      col("doc_id"),
      col("bands")(0).as("w0"), col("bands")(1).as("w1"),
      col("bands")(2).as("w2"), col("bands")(3).as("w3"),
      posexplode(expr(
        "flatten(transform(bands, wd -> transform(sequence(0, 3), n -> shiftright(wd, n * 4) & 15)))"))
        .as(Seq("band", "bucket")))
    val xw = (0 until PhashBands).map(i => s"(a.w$i ^ b.w$i)")
    val firstMatch = (0 until 16).map(j => s"(((${xw(j / 4)} >> ${(j % 4) * 4}) & 15) = 0)")
      .zipWithIndex.map { case (c, j) => s"WHEN $c THEN $j" }
      .mkString("CASE ", " ", " ELSE 16 END")
    val flagged = Dedup.saltedBandJoin(sides)
      .filter(expr(s"a.band = ($firstMatch)"))
      .select((0 until PhashBands).map(i => expr(xw(i)).as(s"x$i")): _*)
      .select(
        expr("CAST(bit_count(x0) + bit_count(x1) + bit_count(x2) + bit_count(x3) AS BIGINT)")
          .as("hamming"),
        expr("(x0 | x1) = 0 OR (x2 | x3) = 0").as("c2"),
        expr("x0 = 0 OR x1 = 0 OR x2 = 0 OR x3 = 0").as("c4"),
        expr("(x0 & 255) = 0 OR (x0 & 65280) = 0 OR (x1 & 255) = 0 OR (x1 & 65280) = 0 OR " +
          "(x2 & 255) = 0 OR (x2 & 65280) = 0 OR (x3 & 255) = 0 OR (x3 & 65280) = 0").as("c8"))
    val aggr = flagged.agg(
      count(lit(1)).as("cand16"),
      coalesce(sum(when(col("c8"), 1L)), lit(0L)).as("cand8"),
      coalesce(sum(when(col("c4"), 1L)), lit(0L)).as("cand4"),
      coalesce(sum(when(col("c2"), 1L)), lit(0L)).as("cand2"),
      coalesce(sum(when(col("hamming") <= PhashHamThresh, 1L)), lit(0L)).as("true16"),
      coalesce(sum(when(col("c8") && col("hamming") <= PhashHamThresh, 1L)), lit(0L)).as("true8"),
      coalesce(sum(when(col("c4") && col("hamming") <= PhashHamThresh, 1L)), lit(0L)).as("true4"),
      coalesce(sum(when(col("c2") && col("hamming") <= PhashHamThresh, 1L)), lit(0L)).as("true2"))
    // truth = hamming ≤ thresh over the superset (pigeonhole-complete:
    // ≤ 3 flips cannot dirty all 16 nibble bands) — identical to the
    // old union-of-configs device.
    aggr.select(
        expr("""stack(4,
          CAST(2 AS BIGINT),  CAST(32 AS BIGINT), cand2,  true2,
          CAST(4 AS BIGINT),  CAST(16 AS BIGINT), cand4,  true4,
          CAST(8 AS BIGINT),  CAST(8 AS BIGINT),  cand8,  true8,
          CAST(16 AS BIGINT), CAST(4 AS BIGINT),  cand16, true16)
          AS (n_bands, bits_per_band, n_cand, n_true)"""),
        col("true16").as("n_truth"))
      .select(col("n_bands"), col("bits_per_band"),
        col("n_cand").as("n_cand_pairs"), col("n_true").as("n_true_pairs"),
        col("n_truth").as("n_truth_pairs"),
        expr("CASE WHEN n_truth = 0 THEN 0 ELSE (n_true * 10000) DIV n_truth END")
          .as("recall_bp"),
        expr("CASE WHEN n_cand = 0 THEN 0 ELSE (n_true * 10000) DIV n_cand END")
          .as("precision_bp"))
  }

  /** Oracle for [[qPhashBanding]] — the shared [[phashFpCtes]]
    * fingerprint model over DISTINCT fingerprints, one band-slice +
    * candidate self-join per config, union truth at hamming ≤
    * [[PhashHamThresh]], exact hit joins (the `q_banding_curve`
    * oracle shape). */
  val qPhashBandingSql: String = {
    val serves = PhashBandingConfigs.map { b =>
      val w = 64 / b
      s"""pb$b AS (
         |  SELECT doc_id, j,
         |    CAST(list_sum(list_transform(range(0, $w),
         |      k -> gbits[j * $w + k + 1] * (1::BIGINT << k))) AS BIGINT) AS bucket
         |  FROM gb, range(0, $b) t(j)),
         |m$b AS MATERIALIZED (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM pb$b a JOIN pb$b b
         |    ON a.j = b.j AND a.bucket = b.bucket AND a.doc_id < b.doc_id)""".stripMargin
    }.mkString(",\n")
    val union = PhashBandingConfigs.map(b => s"SELECT id_a, id_b FROM m$b")
      .mkString("\n    UNION ")
    val rows = PhashBandingConfigs.map { b =>
      s"""SELECT CAST($b AS BIGINT) AS n_bands, CAST(${64 / b} AS BIGINT) AS bits_per_band,
         |  (SELECT COUNT(*) FROM m$b) AS n_cand,
         |  (SELECT COUNT(*) FROM m$b JOIN truth USING (id_a, id_b)) AS n_true""".stripMargin
    }.mkString("\n  UNION ALL ")
    s"""WITH $phashFpCtes,
       |g AS MATERIALIZED (SELECT min(doc_id) AS doc_id, bands FROM fp GROUP BY bands),
       |gb AS MATERIALIZED (
       |  SELECT doc_id, bands, flatten(list_transform(bands,
       |    b -> list_transform(range(0, 16), k -> (b // (1::BIGINT << k)) % 2))) AS gbits
       |  FROM g),
       |$serves,
       |allp AS MATERIALIZED ($union),
       |truth AS MATERIALIZED (
       |  SELECT id_a, id_b FROM (
       |    SELECT p.id_a, p.id_b,
       |      CAST(list_sum(list_transform(range(0, $PhashBands),
       |        j -> bit_count(xor(fa.bands[j + 1], fb.bands[j + 1])))) AS BIGINT) AS hamming
       |    FROM allp p
       |    JOIN g fa ON fa.doc_id = p.id_a
       |    JOIN g fb ON fb.doc_id = p.id_b) v
       |  WHERE hamming <= $PhashHamThresh),
       |nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_truth FROM truth)
       |SELECT n_bands, bits_per_band,
       |  CAST(n_cand AS BIGINT) AS n_cand_pairs,
       |  CAST(n_true AS BIGINT) AS n_true_pairs,
       |  nt.n_truth AS n_truth_pairs,
       |  CAST(CASE WHEN nt.n_truth = 0 THEN 0 ELSE (n_true * 10000) // nt.n_truth END AS BIGINT) AS recall_bp,
       |  CAST(CASE WHEN n_cand = 0 THEN 0 ELSE (n_true * 10000) // n_cand END AS BIGINT) AS precision_bp
       |FROM ($rows) CROSS JOIN nt
       |ORDER BY n_bands""".stripMargin
  }

  def queries: Map[String, (org.apache.spark.sql.SparkSession, String) => DataFrame] = Map(
    "q_media_pipeline" -> qMediaPipeline _,
    "q_phash_dedup"    -> qPhashDedup _,
    "q_phash_banding"  -> qPhashBanding _)

  val oracle: Map[String, String] = Map(
    "q_media_pipeline" -> qMediaPipelineSql,
    "q_phash_dedup"    -> qPhashDedupSql,
    "q_phash_banding"  -> qPhashBandingSql)
}
