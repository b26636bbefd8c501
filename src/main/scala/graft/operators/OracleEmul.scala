package graft.operators

/** DuckDB-SQL emulation of the JVM-side signature kernels
  * ([[graft.functions.NgramHashing]], [[graft.functions.CharNgramBase]])
  * — the device that promotes the banded near-dup family from
  * rows-only checks to fully hash-checked oracles.
  *
  * The JVM kernels wrap in 64-bit two's complement; DuckDB BIGINT
  * arithmetic raises on overflow instead of wrapping, so every
  * wrapping op is emulated in HUGEINT (128-bit) over the unsigned
  * residue ring [0, 2^64): products are split so no intermediate
  * exceeds 2^127, and signed reinterpretation (Java `floorMod` on a
  * negative long) subtracts 2^64 above 2^63. Verified bit-exact
  * against the generated-code kernels on the full sf0.01/sf0.1
  * corpora.
  *
  * Two DuckDB-1.0 performance facts shape the generated SQL (measured
  * 16× on the signature stage):
  *   - a literal-list index (`[...][st+1]`) inside an inner lambda is
  *     re-evaluated per ELEMENT — hoist it through a let-binding;
  *   - a CTE referenced more than once is inlined (re-computed) per
  *     consumer — the signature CTEs must be `AS MATERIALIZED`.
  * "let" is spelled `list_transform([e], v -> body)[1]`: DuckDB
  * lambdas are the only scalar binding form available inside an
  * expression.
  */
private[operators] object OracleEmul {

  private val W = "18446744073709551616::HUGEINT" // 2^64
  /** splitmix64 finalizer constants (NgramHashing.mix). */
  private val MixAdd = "11400714819323198485::HUGEINT" // 0x9E3779B97F4A7C15
  private val MixM1 = BigInt("13787848793156543929") // 0xBF58476D1CE4E5B9
  private val MixM2 = BigInt("10723151780598845931") // 0x94D049BB133111EB

  /** let-binding: evaluate `e` once as `v`, return `body`. */
  def let(v: String, e: String, body: String): String =
    s"list_transform([$e], $v -> $body)[1]"

  /** (v * c) mod 2^64 for a 64-bit unsigned constant c; `v` must be a
    * cheap expression (a bound variable) — it is referenced twice.
    * Split through the constant's 32-bit halves so every intermediate
    * stays below 2^97 < 2^127.
    */
  private def wrapMulC(v: String, c: BigInt): String = {
    val hi = c >> 32
    val lo = c & 0xFFFFFFFFL
    s"(($v * ${lo}::HUGEINT + (($v * ${hi}::HUGEINT) % 4294967296::HUGEINT)" +
      s" * 4294967296::HUGEINT) % $W)"
  }

  private val MixVar = """\bmza(\d+)""".r
  /** splitmix64-style finalizer on an expression in [0, 2^64). Its
    * let-variables are numbered one past the deepest `mza<n>` in `e`,
    * so they never capture a name `e` uses and the SQL text depends on
    * the argument alone.
    */
  def mix(e: String): String = {
    val n = MixVar.findAllMatchIn(e).map(_.group(1).toInt).maxOption.getOrElse(0) + 1
    val (z1, z2, z3) = (s"mza$n", s"mzb$n", s"mzc$n")
    let(z1, s"(($e + $MixAdd) % $W)",
      let(z2, wrapMulC(s"xor($z1, $z1 // 1073741824::HUGEINT)", MixM1), // >>> 30
        let(z3, wrapMulC(s"xor($z2, $z2 // 134217728::HUGEINT)", MixM2), // >>> 27
          s"xor($z3, $z3 // 2147483648::HUGEINT)"))) // >>> 31
  }

  /** Java Math.floorMod(signed64(u), m) for u in [0, 2^64). */
  def floorMod(e: String, v: String, m: String): String =
    let(v, e,
      s"((((CASE WHEN $v >= 9223372036854775808::HUGEINT THEN $v - $W ELSE $v END)" +
        s" % $m) + $m) % $m)")

  /** NgramHashing.wordHashes over a text column: single-space split
    * keeping empty tokens, per-word h = h*31 + charCode wrapped, then
    * mix. ASCII corpus contract: `unicode()` (code point) equals
    * Java's UTF-16 unit below U+10000; the testdata is all-ASCII.
    * The char filter drops the [''] that string_split_regex yields
    * for an EMPTY word, folding it to mix(0) exactly like the JVM.
    */
  def wordHashes(text: String): String = {
    val fold = "list_reduce(list_prepend(0::HUGEINT, " +
      "list_transform(list_filter(string_split_regex(wrd, ''), c1 -> c1 <> ''), " +
      s"c2 -> unicode(c2)::HUGEINT)), (ha, hb) -> ((ha * 31 + hb) % $W))"
    s"list_transform(string_split($text, ' '), wrd -> ${mix(fold)})"
  }

  /** NgramHashing.featureHash over every window of a word-hash list
    * column: m = max(nw-n+1, 1) windows, shorter at the tail.
    */
  def features(wh: String, n: Int): String = {
    val fold = s"list_reduce(list_prepend(0::HUGEINT, $wh[fi+1:least(fi+$n, length($wh))]), " +
      s"(fa, fb) -> ((fa * 1000003 + fb) % $W))"
    s"list_transform(range(greatest(length($wh) - ${n - 1}, 1)), fi -> ${mix(fold)})"
  }

  /** WordNgramHashes: the distinct verify set, domain floorMod 2^63-1. */
  def hashSet(feats: String): String =
    s"list_distinct(list_transform($feats, f1 -> " +
      s"${floorMod("f1", "lm", "9223372036854775807::HUGEINT")}))"

  /** k-slot MinHash signature over a feature-hash list already reduced
    * mod P: slot t = min over features of (a_t*h + b_t) mod P, with
    * the coefficient lookups let-hoisted out of the per-feature lambda.
    * Coefficients are interpolated as literals from the SAME
    * [[graft.functions.CharNgramMinHash.coeffs]] call the Spark
    * expression uses — one source of truth for the seeded model.
    */
  def minhashSig(fmod: String, seed: Long, k: Int): String = {
    val (a, b) = graft.functions.CharNgramMinHash.coeffs(seed, k)
    val av = a.mkString("[", ",", "]")
    val bv = b.mkString("[", ",", "]")
    s"list_transform(range($k), stv -> " +
      s"list_transform([$av[stv+1]], aa -> list_transform([$bv[stv+1]], bb -> " +
      s"list_aggregate(list_transform($fmod, hh -> (aa * hh + bb) % 2147483647), 'min'))[1])[1])"
  }

  /** Banded-LSH candidate CTEs over a signature-list table `sigTbl`
    * (doc_id, sig): band j's key is the signature SLICE — bucket
    * equality in the Spark plan is xxhash64(slice, j) equality, which
    * collides across distinct slices with probability ~2^-64 (none on
    * this corpus; DedupSpec pins the equivalence precondition that no
    * bucket tops the salt cap, keeping the hot-bucket guard inert).
    */
  def bandCandCtes(p: String, sigTbl: String, bands: Int, rows: Int): String =
    s"""${p}bnd AS (SELECT doc_id, j, sig[j*$rows+1:j*$rows+$rows] AS slice
       |  FROM $sigTbl, range($bands) t(j)),
       |${p}cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM ${p}bnd a JOIN ${p}bnd b
       |  ON a.j = b.j AND a.slice = b.slice AND a.doc_id < b.doc_id)""".stripMargin

  /** Exact-Jaccard SQL over two set-list columns (doubles exactly as
    * [[graft.functions.SortedJaccard]]: small-int division is a single
    * IEEE rounding on both engines).
    */
  def jaccard(sa: String, sb: String): String =
    s"CAST(length(list_intersect($sa, $sb)) AS DOUBLE) / " +
      s"CAST(length($sa) + length($sb) - length(list_intersect($sa, $sb)) AS DOUBLE)"
}
