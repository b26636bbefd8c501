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
  *
  * The `spark.hadoop.*` entries reach the Hadoop configuration only
  * when this builder creates the SparkContext; on a context that is
  * already running they are dropped. The plain SQL entries set on a
  * running context reach the returned session but not its
  * `newSession()`s. Build the context through [[tune]] for either to
  * hold everywhere.
  */
object GraftSession {

  private val RetainedUiEntries = 10

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

  /** Local session for tests / ad-hoc runs. */
  def local(cores: Int = 4): SparkSession = {
    val s = tune(SparkSession.builder().master(s"local[$cores]").appName("graft"), cores)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
