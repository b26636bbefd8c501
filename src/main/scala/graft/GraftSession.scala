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

  /** Local session for tests / ad-hoc runs. */
  def local(cores: Int = 4): SparkSession = {
    val s = tune(SparkSession.builder().master(s"local[$cores]").appName("graft"), cores)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
