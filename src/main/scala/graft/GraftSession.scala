package graft

import org.apache.spark.sql.SparkSession

/** Tuned SparkSession builder for the graft engine.
  *
  * One place to set the configs every entrypoint (Verify, Bench, tests,
  * streaming) needs:
  *   - AQE on (runtime partition coalescing + skew-join splitting) so plans
  *     tuned at sf0.01 survive 100x scale-ups without re-tuning.
  *   - shuffle partitions sized to the local core count, not the 200 default
  *     (on a real cluster this would be ~2-3x total executor cores).
  *   - broadcast threshold raised to 64 MB: every dimension table in the
  *     star schema (region/nation/supplier/part/customer at test SF) should
  *     broadcast so fact-side joins stay map-only.
  *   - parquet filter pushdown + UTC session time zone (oracle parity).
  *   - `nanosAsLong`: kept for older driver-generated events.parquet
  *     snapshots that stored TIMESTAMP(NANOS) (unreadable natively in
  *     Spark 4; read as raw int64 nanos instead). Current snapshots use
  *     TIMESTAMP(MICROS) NTZ — both encodings are normalized in
  *     [[graft.sources.Ingest.events]].
  *   - `file://` paths go through [[graft.io.GraftLocalFileSystem]] and,
  *     for `FileContext` users such as streaming checkpoints,
  *     [[graft.io.GraftLocalFs]]: Hadoop's checksummed local file
  *     systems, minus the `chmod` process Hadoop starts per created file
  *     and directory when libhadoop is absent and the `readlink` process
  *     at each end of a `FileContext` rename. Other schemes are
  *     untouched.
  *   - the UI is off, and the job, stage, task and SQL-execution state
  *     Spark keeps for it in the driver heap is capped to a few entries:
  *     nothing in graft reads the status store.
  *   - every parquet file graft writes (ELT outputs, ANN and dedup
  *     indexes, corpus shards, streaming sinks, Verify dumps) is zstd at
  *     parquet's default level 3, not Spark's default snappy. perfbench,
  *     seed 7, 4-core box: `elt_star` stores 1.25 bytes per input byte
  *     instead of 2.21 (ingest 18.56 → 9.50 MB, fact 16.18 → 10.09 MB,
  *     star report 4.36 → 2.37 MB, `dim_time` 1.33 → 0.94 MB) and
  *     `index_serve` 1.02 instead of 1.16, at the same wall. Readers take
  *     the codec from each file's footer (Spark, DuckDB, pyarrow), so
  *     snappy files written earlier and new zstd files read as one
  *     table. zstd-jni's recycling buffer pool is off: it kept about
  *     0.5 MB more heap live on `elt_star` for no measured speed. Pages stay parquet
  *     V1: DuckDB 1.0 cannot read the DELTA_BYTE_ARRAY pages V2 writes
  *     for a `decimal(38,2)` column whose dictionary overflows.
  *   - generated code stays warm across sessions. Spark's `CodeGenerator`
  *     caches each compiled class by (class loader, source), and by
  *     default every session gets its own executor class loader
  *     (artifact isolation), so each `newSession()` compiled the same
  *     whole-stage classes again with janino and ran them cold until the
  *     JIT caught up. With isolation off, every graft session's tasks run
  *     under the executor's default class loader; graft needs no
  *     per-session jars or classes, its expressions come in through
  *     [[graft.functions.GraftExtensions]]. The trade: jars and classes
  *     added with `addArtifact` become visible to every session that
  *     also runs with isolation off. The class cache holds 4,096 classes
  *     instead of Spark's 100: one cold IVF-PQ build → two upserts →
  *     serve at sf0.001 compiles 88, so 100, shared with everything
  *     else the JVM runs, evicted classes the lifecycle needed again,
  *     and one `graft.Bench` pass over all 220
  *     keys compiles 3,049 (sf0.01), so 1,000 left every measured pass
  *     recompiling about 3,000. The cached classes live in metaspace:
  *     about 200 MB once a whole Bench pass is cached. Measured on a
  *     4-core box: that IVF-PQ lifecycle compiled 58 classes again in a
  *     second fresh session, and 0 with both settings (AnnSpec); with a
  *     fresh `newSession()` per perfbench iteration, `index_serve`
  *     `wall_s` fell 12.5% (5.69 → 4.98 s median, 12 of 12 alternating
  *     pairs) and `elt_star` 17.5% (14.14 → 11.66 s, 6 of 6).
  *
  * The `spark.hadoop.*` entries reach the Hadoop configuration only
  * when this builder creates the SparkContext; on a context that is
  * already running they are dropped. So is the codegen cache size, a
  * static SQL conf that Spark reads once per JVM. The plain SQL entries
  * set on a running context reach the returned session but not its
  * `newSession()`s. Build the context through [[tune]] for any of these
  * to hold everywhere.
  */
object GraftSession {

  private val RetainedUiEntries = 10
  /** Generated classes the codegen cache keeps: above the 3,049 one
    * warm-up pass of all 220 `graft.Bench` keys compiles at sf0.01,
    * with a third spare because the cache evicts per hash segment. */
  private val CodegenCacheEntries = 4096

  def tune(b: SparkSession.Builder, shufflePartitions: Int = 32): SparkSession.Builder = b
    .withExtensions(new graft.functions.GraftExtensions)
    .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
    .config("spark.sql.adaptive.skewJoin.enabled", "true")
    .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
    .config("spark.sql.parquet.filterPushdown", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .config("spark.ui.retainedJobs", RetainedUiEntries.toString)
    .config("spark.ui.retainedStages", RetainedUiEntries.toString)
    .config("spark.ui.retainedTasks", RetainedUiEntries.toString)
    .config("spark.sql.ui.retainedExecutions", RetainedUiEntries.toString)
    .config("spark.hadoop.fs.file.impl", classOf[graft.io.GraftLocalFileSystem].getName)
    .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[graft.io.GraftLocalFs].getName)
    .config("spark.sql.parquet.compression.codec", "zstd")
    .config("spark.hadoop.parquet.compression.codec.zstd.bufferPool.enabled", "false")
    .config("spark.sql.artifact.isolation.enabled", "false")
    .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)

  /** Local session for tests / ad-hoc runs. */
  def local(cores: Int = 4): SparkSession = {
    val s = tune(SparkSession.builder().master(s"local[$cores]").appName("graft"), cores)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
