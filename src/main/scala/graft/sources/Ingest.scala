package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Readers for the engine's sources.
  *
  * Mirrors the reference's load surface (Postgres COPY of a pipe-delimited
  * CSV with header and empty-string nulls — /root/reference/dags/ELT.py:92-98)
  * plus the parquet test tables.
  */
object Ingest {

  /** Parquet table from a scale-factor directory.
    *
    * A table stored as one file is read under [[footerSchema]], so the
    * read runs no job; any other path (a directory, a glob) keeps
    * Spark's schema inference, which runs one job per read to merge
    * footers.
    */
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    footerSchema(spark, path).fold(spark.read.parquet(path))(spark.read.schema(_).parquet(path))
  }

  /** The schema Spark's parquet inference gives the single file at
    * `path`, read from its footer on the driver; `None` when `path` is
    * not one file. It is inference's own conversion: the Spark schema
    * the footer stores if any, else the parquet schema converted under
    * the session's SQL conf, so the NTZ and `nanosAsLong` rules
    * [[events]] depends on hold.
    */
  private[graft] def footerSchema(spark: SparkSession, path: String): Option[StructType] = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new Path(path)
    val status = try Some(p.getFileSystem(conf).getFileStatus(p))
      catch { case _: java.io.FileNotFoundException => None }
    status.filter(_.isFile).map { f =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(f, conf))
      val footer = try new Footer(f.getPath, reader.getFooter) finally reader.close()
      ParquetFileFormat.readSchemaFromFooter(footer,
        new ParquetToSparkSchemaConverter(spark.sessionState.conf))
    }
  }

  /** events table with its `ts` column normalized across physical encodings.
    *
    * The generated events.parquet has shipped with three encodings over
    * time: int64 TIMESTAMP(NANOS) (read as raw longs under
    * `spark.sql.legacy.parquet.nanosAsLong=true`), TIMESTAMP(MICROS,
    * isAdjustedToUTC=false) (read as TIMESTAMP_NTZ), and plain UTC
    * TIMESTAMP. All three normalize to `ts_ms` (epoch millis, the
    * cross-engine-safe representation — DuckDB's `epoch_ms(ts)` truncates
    * identically) and `ts` rebuilt as a millisecond-precision
    * TimestampType. The NTZ wall-clock equals the oracle's naive timestamp
    * because the session time zone is pinned to UTC (GraftSession), so
    * casting NTZ→TIMESTAMP is exact. Integer `div` (not `/`) for the nanos
    * branch — nanos exceed 2^53 so double division would lose bits.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val raw = table(spark, dir, "events")
    val tsMs = raw.schema("ts").dataType match {
      case LongType           => expr("ts div 1000000")
      case TimestampNTZType   => unix_millis(col("ts").cast(TimestampType))
      case _                  => unix_millis(col("ts"))
    }
    raw
      .withColumn("ts_ms", tsMs)
      .withColumn("ts", timestamp_millis(col("ts_ms")))
  }

  /** Pipe-delimited CSV with header and empty-string-as-NULL: the exact
    * semantics of the reference's `COPY ... (delimiter '|', format csv,
    * header, NULL '')` staging load (ELT.py:94-96), with an explicit typed
    * schema instead of Postgres DDL.
    */
  def csvPipe(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read
      .option("delimiter", "|")
      .option("header", "true")
      .option("nullValue", "")
      .option("timestampFormat", "yyyy/MM/dd hh:mm:ss a")
      .schema(schema)
      .csv(path)

  /** JSON lines source. */
  def jsonLines(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  /** ORC source — the second columnar format (both directions, see
    * [[writeOrc]]). Spark's native vectorized ORC reader gives the same
    * pushdown surface as parquet: predicate pushdown (min/max + bloom
    * stripe skipping), column pruning, partition pruning. IngestSpec
    * asserts the pushdown actually reaches the ORC scan, same as the
    * parquet tripwire.
    */
  def orc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** Schema-evolved parquet read: union the schemas of every file in
    * the dataset (columns added over the dataset's lifetime read as
    * NULL in older files) — the contract a long-lived ingest
    * directory needs once producers start adding fields. Off by
    * default in Spark because footer-merging costs a pass over every
    * file's metadata at planning time — which is exactly why it is an
    * EXPLICIT entry point here and not a global config: at 100 TB you
    * opt into the planning cost per evolved dataset, not per scan.
    */
  def parquetEvolved(spark: SparkSession, path: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(path)

  /** ORC sink (optionally partitioned) — interchange with
    * Hive/Trino-centric lakes that standardize on ORC.
    */
  def writeOrc(df: DataFrame, path: String, partitionCols: Seq[String] = Nil): Unit = {
    val w = df.write.mode("overwrite")
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w).orc(path)
  }

  /** Partitioned parquet writer — the scale-out sink: partition column
    * choice drives partition pruning for downstream readers.
    */
  def writePartitioned(df: DataFrame, path: String, partitionCols: Seq[String]): Unit =
    df.write.mode("overwrite").partitionBy(partitionCols: _*).parquet(path)

  /** Bucketed (and bucket-sorted) parquet table writer: pre-shuffles on
    * the bucket key once at write time so every later equi-join or
    * aggregation on that key reads co-located buckets and skips its
    * shuffle — the standing answer to "this fact table is joined on
    * orderkey every day" at 100 TB. Bucketed tables require the
    * catalog, hence `saveAsTable`.
    */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String, numBuckets: Int): Unit =
    df.write.mode("overwrite").format("parquet")
      .bucketBy(numBuckets, bucketCol).sortBy(bucketCol).saveAsTable(table)

  /** Interleaved Morton (Z-order) key over the low 16 bits of each
    * column: column j's bit i lands at z bit `i·k + (k−1−j)`, so for
    * two columns (a, b): a→odd bits, b→even bits. Pure integer
    * shift-mask-or terms, valid SQL in Spark AND DuckDB — the same
    * expression backs the `q_zorder_layout` planning statistic and
    * its oracle.
    */
  def zorderKeyExpr(cols: Seq[String], nBits: Int = 16): String = {
    val k = cols.size
    require(k >= 2, s"z-order interleave needs >= 2 columns, got $k")
    require(k * nBits <= 62, s"z key overflows a BIGINT: $k cols x $nBits bits")
    val terms = cols.zipWithIndex.flatMap { case (c, j) =>
      (0 until nBits).map(i => s"((($c >> $i) & 1) << ${i * k + (k - 1 - j)})")
    }
    terms.mkString("(", " | ", ")")
  }

  /** Z-order clustered parquet writer — the APPLY half of the
    * `q_zorder_layout` planning statistic: normalize
    * each column to an 8-bit bucket rank, interleave the ranks into a
    * Morton key, range-partition the rows on that key (each output
    * file owns a contiguous curve range) and sort within partitions —
    * so every file's parquet footer min/max is narrow in ALL
    * interleaved columns at once and point/range predicates on ANY of
    * them skip most files. This is `OPTIMIZE ... ZORDER BY` table
    * maintenance without the table format, including its key insight:
    * interleaving RAW bits breaks when column domains are asymmetric
    * (a 10-value dimension's bits sit below a 10⁶-value key's bits
    * and file-granularity splits never reach them — measured: zero
    * pruning on the narrow column), so what gets interleaved is each
    * column's rank. Ranks here are equi-width min/max buckets (exact,
    * one tiny agg job); heavily skewed keys would want approxQuantile
    * boundaries instead — same interleave, different rank map.
    * IngestSpec pins the skipping ratio against an unclustered write
    * of the same data.
    *
    * Shape at scale: one min/max agg (driver-sized model), one
    * shuffle + an in-partition sort — the cost every layout rewrite
    * pays. File assignment is DETERMINISTIC: file id = the z key
    * linearly scaled to `nFiles` slabs of the rank space (an exact
    * identity partitioner, not `repartitionByRange`'s sampled
    * bounds — those are seeded by the run-dependent shuffle id, so
    * two rewrites of identical data could land different file
    * geometry and pruning ratios; a layout pass must be
    * rebuild-stable or every incremental maintenance diff churns).
    * Each output file owns the same contiguous curve slab every run;
    * under the equi-width rank map's uniform-domain assumption the
    * slabs are also size-balanced (skewed domains want quantile
    * ranks — same interleave, same slabs). Curve slabs with no rows
    * write no file, so output files ≤ `nFiles`. NULL keys rank 0 and
    * cluster together at the curve's origin.
    */
  def zorderWrite(df: DataFrame, path: String, cols: Seq[String], nFiles: Int = 32): Unit = {
    require(nFiles >= 1, s"nFiles must be positive, got $nFiles")
    val nBins = 256 // 8 rank bits per column, ample at file granularity
    val stats = df.select(cols.flatMap(c =>
      Seq(min(col(c)).cast("double").as(s"lo_$c"),
        max(col(c)).cast("double").as(s"hi_$c"))): _*).head()
    val ranks = cols.zipWithIndex.map { case (c, j) =>
      // empty input or an all-NULL column has no min/max: every row
      // ranks 0 on that dimension (clusters at the curve origin, the
      // same rule NULL values already follow) instead of NPEing on the
      // null stats row
      if (stats.isNullAt(2 * j) || stats.isNullAt(2 * j + 1)) "0"
      else {
        val (lo, hi) = (stats.getDouble(2 * j), stats.getDouble(2 * j + 1))
        // hi+1 so the max value stays in bucket nBins (width_bucket's
        // upper bound is exclusive of the last in-range bucket)
        s"coalesce(width_bucket(CAST($c AS DOUBLE), $lo, ${hi + 1.0}, $nBins) - 1, 0)"
      }
    }
    val zc = "__graft_z"
    val fc = "__graft_zfile"
    val zBits = 8 * cols.size // rank space: z in [0, 2^zBits)
    val keyed = df
      .withColumn(zc, expr(zorderKeyExpr(ranks, nBits = 8)))
      .withColumn(fc, expr(s"CAST(($zc * ${nFiles}L) DIV ${1L << zBits} AS INT)"))
    val schema = keyed.schema
    val fIdx = schema.fieldIndex(fc)
    val placed = keyed.rdd
      .keyBy(_.getInt(fIdx))
      .partitionBy(new org.apache.spark.Partitioner {
        def numPartitions: Int = nFiles
        def getPartition(key: Any): Int = key.asInstanceOf[Int]
      })
      .values
    df.sparkSession.createDataFrame(placed, schema)
      .sortWithinPartitions(zc)
      .drop(zc, fc)
      .write.mode("overwrite").parquet(path)
  }

  /** Small-files compaction: rewrite a parquet dataset into
    * ~`targetBytes` files — the table-maintenance pass every streaming
    * or incremental sink needs (thousands of kilobyte files per
    * micro-batch turn scans into open/footer-read storms and kill
    * split planning at 100 TB). File count is derived from the
    * dataset's ACTUAL on-disk bytes (sum of leaf file sizes, not row
    * estimates), so `targetBytes` counts compressed bytes: with the
    * zstd codec [[graft.GraftSession]] sets, the same dataset is
    * smaller on disk than under snappy and the same target gives
    * fewer files. Unpartitioned datasets rewrite via one
    * `repartition(n)` round-robin shuffle — no key assumed,
    * size-balanced output. Hive-partitioned layouts (`key=value`
    * subdirectories, e.g. an IVF index from [[graft.operators.Ann]])
    * are detected and REWRITTEN WITH THE SAME `partitionBy`, keyed by
    * the partition columns, so downstream partition pruning survives
    * compaction; each partition value then lands in one task → one
    * file (a partition value larger than `targetBytes` still becomes
    * a single file — at that size the layout, not the compactor, is
    * the thing to fix). Returns (files before, files after).
    *
    * The rewrite is published through [[graft.plans.Publish]], so a
    * reader never sees a HALF-compacted dataset.
    */
  def compact(spark: SparkSession, path: String,
              targetBytes: Long = 128L * 1024 * 1024): (Int, Int) = {
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    val src = new org.apache.hadoop.fs.Path(path)
    graft.plans.Publish.recover(spark, path)
    def parquetLeaves(root: org.apache.hadoop.fs.Path) = {
      val it = fs.listFiles(root, true)
      val buf = scala.collection.mutable.ArrayBuffer.empty[org.apache.hadoop.fs.LocatedFileStatus]
      while (it.hasNext) { val f = it.next(); if (f.getPath.getName.endsWith(".parquet")) buf += f }
      buf.toSeq
    }
    val leaves = parquetLeaves(src)
    val before = leaves.size
    val totalBytes = leaves.map(_.getLen).sum
    val n = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
    // Hive-partition detection: walk down while every data directory at
    // a level is `name=value`, collecting the ordered partition spine.
    val partCols = {
      val cols = scala.collection.mutable.ArrayBuffer.empty[String]
      var level = src
      var go = true
      while (go) {
        val dirs = fs.listStatus(level).filter(s =>
          s.isDirectory && !s.getPath.getName.startsWith("_") && !s.getPath.getName.startsWith("."))
        val keys = dirs.map(_.getPath.getName.split("=", 2)).filter(_.length == 2).map(_(0)).distinct
        if (dirs.nonEmpty && keys.length == 1 && dirs.forall(_.getPath.getName.contains("="))) {
          cols += keys.head
          level = dirs.head.getPath
        } else go = false
      }
      cols.toSeq
    }
    val df = spark.read.parquet(path)
    val after = graft.plans.Publish(spark, path) { tmp =>
      val w =
        if (partCols.isEmpty) df.repartition(n).write
        else df.repartition(n, partCols.map(org.apache.spark.sql.functions.col): _*)
          .write.partitionBy(partCols: _*)
      w.parquet(tmp)
      parquetLeaves(new org.apache.hadoop.fs.Path(tmp)).size
    }
    (before, after)
  }

  /** Data acquisition: stream a source file into the staging area —
    * the analog of the reference's `fetchDataToLocal` (ELT.py:23-36,
    * a chunked HTTP download to local disk before the load step), with
    * the durability details that function skips: chunked copy to a
    * temp file, size + MD5 recorded, and an ATOMIC rename so a crashed
    * acquisition never leaves a half-written file where the loader
    * would read it. Sources are `java.net.URL`-openable (file:/ here;
    * the container has no egress — same streaming semantics for
    * http(s):/ outside it). Acquisition is a driver/edge-node action
    * by nature (the cluster-side load is [[csvPipe]]), so this is
    * deliberately not a Spark job.
    *
    * @return (bytes copied, hex MD5 of the content)
    */
  def acquire(srcUrl: String, destPath: String): (Long, String) = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val dest = Paths.get(destPath)
    if (dest.getParent != null) Files.createDirectories(dest.getParent)
    // open the source FIRST: an unreachable source must not leave any
    // artifact in the staging directory
    val md = java.security.MessageDigest.getInstance("MD5")
    val in = new java.net.URL(srcUrl).openStream()
    try {
      val tmp = Files.createTempFile(
        if (dest.getParent != null) dest.getParent else Paths.get("."), ".acquire-", ".part")
      try {
        val out = Files.newOutputStream(tmp)
        val total =
          try {
            val buf = new Array[Byte](1 << 16)
            var n = in.read(buf)
            var t = 0L
            while (n >= 0) {
              if (n > 0) { out.write(buf, 0, n); md.update(buf, 0, n); t += n }
              n = in.read(buf)
            }
            t
          } finally out.close() // close on EVERY path before move/delete
        Files.move(tmp, dest, StandardCopyOption.ATOMIC_MOVE,
          StandardCopyOption.REPLACE_EXISTING)
        (total, md.digest().map("%02x".format(_)).mkString)
      } finally Files.deleteIfExists(tmp) // no-op after a successful move
    } finally in.close()
  }

  /** Reporting export: the write half of the reference's
    * `fetchToGSheets` (ELT.py:346-358 pushes a query result to an
    * external sheet). The analog here is a single CSV file with
    * header — the interchange shape external consumers want.
    *
    * A report is SMALL by contract (the reference ships a few
    * thousand rows to a spreadsheet); `maxRows` enforces that
    * contract instead of letting a miswired 100 TB DataFrame funnel
    * through the single-file write — fail loudly, don't coalesce(1)
    * the lake. Large exports belong in [[writePartitioned]].
    *
    * @return number of rows exported
    */
  def exportReportCsv(df: DataFrame, destPath: String, maxRows: Int = 1000000): Long = {
    import java.nio.file.{Files, Paths}
    val capped = df.limit(maxRows + 1).collect()
    require(capped.length <= maxRows,
      s"report export exceeds $maxRows rows — use writePartitioned for large exports")
    val cols = df.columns
    // quote the RENDERED cell, whatever its type: array/struct renderings
    // carry commas too, and a bare \r splits a record as surely as \n
    def cell(v: Any): String = {
      val s = if (v == null) "" else v.toString
      if (s.exists(c => c == ',' || c == '"' || c == '\n' || c == '\r'))
        "\"" + s.replace("\"", "\"\"") + "\""
      else s
    }
    val dest = Paths.get(destPath)
    if (dest.getParent != null) Files.createDirectories(dest.getParent)
    val w = Files.newBufferedWriter(dest)
    try {
      w.write(cols.mkString(",")); w.newLine()
      capped.foreach { r =>
        w.write(cols.indices.map(i => cell(r.get(i))).mkString(",")); w.newLine()
      }
    } finally w.close()
    capped.length.toLong
  }
}
