package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** THE exact-dup canonicalization device (one
  * definition of the collapse→compute→expand shape the banded-dedup
  * shelves share, so the sites cannot drift).
  *
  * The standing 100 TB observation behind it: candidate generation
  * that bands on CONTENT (minhash bands, simhash/phash bytes, char
  * n-grams, deletion signatures, span windows, rare shingles) goes
  * quadratic in exact-duplicate depth, because every copy of a text
  * carries the identical signature into the identical buckets — and
  * exact-dup mass is exactly what grows with crawl history. Collapsing
  * identical content to one representative BEFORE the explode/join
  * makes candidate density a function of DISTINCT content only;
  * within-group pairs need no verification (identical content ⇒
  * similarity is the measure's fixed point: Jaccard 1, hamming 0,
  * edit distance 0, containment 1) and are emitted directly at
  * output size.
  *
  * Three composable pieces:
  *   - [[groups]]: collapse on a content key → one row per distinct
  *     content with `gid` (min member id — also every shelf's
  *     survivor/tie-break rule), multiplicity `m`, and the first()
  *     of every carried column (carried columns are functions of the
  *     key, so first() is deterministic).
  *   - [[members]]: tag each input row with its group's gid — the
  *     output-sized expansion side. (Sites whose group key is already
  *     on the member row — e.g. the span family's md5 text key — skip
  *     the join and expand by the key itself; that is the degenerate
  *     membership, not a different device.)
  *   - [[expandPairs]]: verified REP-level pairs → member pairs.
  *     Cross-group member pairs inherit their group pair's verified
  *     payload (members share their rep's content, hence its
  *     measure); within-group pairs emit with the caller's fixed-point
  *     payload. `least/greatest` orientation reproduces the
  *     record-level `a.id < b.id` enumeration exactly once per
  *     unordered pair because group pairs are enumerated once.
  *
  * Oracle posture: for banded shelves whose rule is defined on
  * documents (minhash/ngram/simhash/entity), canonicalization is
  * plan-only — identical signatures collide in identical buckets, so
  * the oracle needs no group notion (holds while hot-bucket salt caps
  * stay un-engaged at oracle scales, which DedupSpec pins). Shelves
  * whose RULE itself quantifies over the corpus (containment's
  * rare-shingle df) must define the rule over distinct texts in both
  * engines — see qDedupContainment's oracle.
  */
private[graft] object Canonical {

  /** One row per distinct `keys` value: `gid` = min(`id`) (the
    * representative), `m` = member count, plus first() of every other
    * column of `d`. `d` must carry only id + keys + columns wanted on
    * the group row (anything else widens the aggregate for nothing).
    */
  def groups(d: DataFrame, id: String, keys: Seq[String]): DataFrame = {
    val carried = d.columns.filterNot(c => c == id || keys.contains(c))
    d.groupBy(keys.map(col): _*)
      .agg(min(col(id)).as("gid"),
        (count(lit(1)).as("m") +: carried.map(c => first(col(c)).as(c))): _*)
  }

  /** Every row of `d` tagged with its group's `gid` (and `m`): the
    * equi-join on `joinKeys` — pass a subset of the collapse keys when
    * one key functionally determines the rest (phash joins on the hex
    * alone). Rides the same key as [[groups]]' aggregate, so Catalyst
    * reuses the exchange; AQE broadcasts the group side while it fits.
    */
  def members(d: DataFrame, grp: DataFrame, joinKeys: Seq[String]): DataFrame =
    d.join(grp.select((joinKeys.map(col) ++ Seq(col("gid"), col("m"))): _*), joinKeys)

  /** Expand verified group pairs `vg` = (ga, gb, payload*) to member
    * pairs (outA, outB, payload*): cross-group rows via the two
    * membership joins (output-sized — the verify already proved them
    * matching), within-group rows from the per-group member self-join
    * with `withinPayload` (same arity/order as `payload`; columns may
    * reference the x-side member alias, e.g. `col("x.c_nationkey")`).
    */
  def expandPairs(vg: DataFrame, mem: DataFrame, memId: String,
      outA: String, outB: String,
      payload: Seq[String], withinPayload: Seq[Column]): DataFrame = {
    require(payload.length == withinPayload.length,
      s"payload/withinPayload arity mismatch: $payload")
    val cross = vg
      .join(mem.select(col("gid").as("ga"), col(memId).as("ka")), "ga")
      .join(mem.select(col("gid").as("gb"), col(memId).as("kb")), "gb")
      .select(least(col("ka"), col("kb")).as(outA) +:
        greatest(col("ka"), col("kb")).as(outB) +: payload.map(col): _*)
    val within = mem.as("x").join(mem.as("y"),
        col(s"x.$memId") < col(s"y.$memId") && col("x.gid") === col("y.gid"))
      .select(col(s"x.$memId").as(outA) +: col(s"y.$memId").as(outB) +:
        payload.zip(withinPayload).map { case (n, c) => c.as(n) }: _*)
    cross.unionAll(within)
  }
}
