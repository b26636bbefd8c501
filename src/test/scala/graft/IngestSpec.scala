package graft

import java.nio.file.Files
import org.apache.spark.sql.types._

import graft.sources.Ingest

/** csvPipe must reproduce the reference staging COPY semantics:
  * pipe delimiter, header row, empty string → NULL, 12-hour AM/PM
  * timestamps (ref dags/ELT.py:92-98).
  */
class IngestSpec extends SparkSpec {

  test("csvPipe: pipe delim, header, empty-string NULL, 12h AM/PM timestamps") {
    val dir = java.nio.file.Paths.get(tempDir("csv"))
    val f = dir.resolve("staging.csv")
    Files.writeString(f,
      """id|name|reported|resolved
        |1||2020/01/02 03:04:05 PM|true
        |2|Bob|2020/01/02 12:00:01 AM|
        |3|C||false
        |""".stripMargin)
    val schema = StructType(Seq(
      StructField("id", IntegerType),
      StructField("name", StringType),
      StructField("reported", TimestampType),
      StructField("resolved", BooleanType)))
    val got = Ingest.csvPipe(spark, f.toString, schema)
      .selectExpr("id", "name", "unix_millis(reported) AS rep_ms", "resolved")
      .orderBy("id").collect()

    assert(got.length === 3)
    assert(got(0).isNullAt(1), "empty string must read as NULL")
    assert(got(0).getLong(2) === 1577977445000L) // 2020-01-02T15:04:05Z
    assert(got(0).getBoolean(3) === true)
    assert(got(1).getString(1) === "Bob")
    assert(got(1).getLong(2) === 1577923201000L) // 2020-01-02T00:00:01Z (12 AM)
    assert(got(1).isNullAt(3))
    assert(got(2).isNullAt(2), "empty timestamp must read as NULL")
  }

  test("jsonLines: schema-first JSON-lines read with missing fields as NULL") {
    val dir = java.nio.file.Paths.get(tempDir("json"))
    val f = dir.resolve("rows.jsonl")
    Files.writeString(f,
      """{"id": 1, "name": "a", "score": 1.5}
        |{"id": 2, "score": 2.5}
        |{"id": 3, "name": "c"}
        |""".stripMargin)
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("name", StringType),
      StructField("score", DoubleType)))
    val got = Ingest.jsonLines(spark, f.toString, schema).orderBy("id").collect()
    assert(got.length === 3)
    assert(got(1).isNullAt(1), "missing name → NULL")
    assert(got(2).isNullAt(2), "missing score → NULL")
    assert(got(0).getString(1) === "a" && got(0).getDouble(2) === 1.5)
  }

  test("writePartitioned: reader filter becomes a partition filter, not a scan filter") {
    val dir = tempDir("part")
    val e = Ingest.events(spark, sf0001).select("event_id", "event_type", "value")
    Ingest.writePartitioned(e, dir, Seq("event_type"))
    val back = spark.read.parquet(dir).filter(org.apache.spark.sql.functions.col("event_type") === "click")
    val scan = back.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") && scan.contains("event_type"),
      s"event_type must prune partitions:\n$scan")
    assert(back.count() > 0)
  }

  test("zorderWrite: file-level min/max prunes point predicates on BOTH interleaved columns") {
    import org.apache.spark.sql.functions.{col, input_file_name, max, min}
    val dir = tempDir("zorder")
    val li = Ingest.table(spark, sf0001, "lineitem")
      .select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity")
    Ingest.zorderWrite(li, s"$dir/zorder", Seq("l_partkey", "l_suppkey"), nFiles = 16)
    li.repartition(16).write.parquet(s"$dir/unsorted") // same data, no clustering

    // per-file extents = exactly the parquet-footer min/max a scan
    // prunes with; a file "survives" a point predicate iff the value
    // falls inside its [min, max] range
    def survivorFrac(path: String, c: String, v: Long): Double = {
      val ext = spark.read.parquet(path)
        .groupBy(input_file_name().as("f"))
        .agg(min(c).as("lo"), max(c).as("hi"))
        .collect()
      ext.count(r => r.getLong(1) <= v && v <= r.getLong(2)).toDouble / ext.length
    }
    // probe both columns at their domain midpoints
    val (midPart, midSupp) = {
      val r = li.selectExpr("(min(l_partkey) + max(l_partkey)) DIV 2",
        "(min(l_suppkey) + max(l_suppkey)) DIV 2").head()
      (r.getLong(0), r.getLong(1))
    }
    val zPart = survivorFrac(s"$dir/zorder", "l_partkey", midPart)
    val zSupp = survivorFrac(s"$dir/zorder", "l_suppkey", midSupp)
    val uPart = survivorFrac(s"$dir/unsorted", "l_partkey", midPart)
    val uSupp = survivorFrac(s"$dir/unsorted", "l_suppkey", midSupp)
    // unclustered files span ~the whole key domain: nothing prunes
    assert(uPart >= 0.9 && uSupp >= 0.9,
      s"unclustered baseline should not prune (part=$uPart supp=$uSupp)")
    // the z-ordered layout must skip at least half the files on EACH
    // column from ONE clustered write — the whole point of interleaving
    assert(zPart <= 0.5 && zSupp <= 0.5,
      s"z-order must prune >=50% of files on both columns (part=$zPart supp=$zSupp)")
    // and the data survives the rewrite
    assert(spark.read.parquet(s"$dir/zorder").count() === li.count())
  }

  test("zorderWrite: empty input and all-NULL cluster columns write without stats NPE") {
    val s = spark
    import s.implicits._
    val dir = tempDir("zorder-edge")
    // empty input: no min/max stats at all
    val empty = Seq.empty[(Long, Long)].toDF("a", "b")
    Ingest.zorderWrite(empty, s"$dir/empty", Seq("a", "b"), nFiles = 4)
    assert(spark.read.parquet(s"$dir/empty").count() === 0)
    // an all-NULL cluster column: stats exist for one dimension only
    val someNull = Seq((1L, Option.empty[Long]), (2L, Option.empty[Long]))
      .toDF("a", "b")
    Ingest.zorderWrite(someNull, s"$dir/null", Seq("a", "b"), nFiles = 4)
    val back = spark.read.parquet(s"$dir/null")
    assert(back.count() === 2 &&
      back.filter(org.apache.spark.sql.functions.col("b").isNull).count() === 2,
      "rows and NULLs must survive the degenerate-stats rewrite")
  }

  test("writeBucketed: equi-join on the bucket key runs without a shuffle") {
    val s = spark
    import s.implicits._
    val conf = s.conf
    val (aqe, bc) = (conf.get("spark.sql.adaptive.enabled"),
      conf.get("spark.sql.autoBroadcastJoinThreshold"))
    try {
      conf.set("spark.sql.adaptive.enabled", "false")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val df1 = (1L to 1000L).map(i => (i, i * 2)).toDF("k", "v1")
      val df2 = (1L to 1000L).map(i => (i, i * 3)).toDF("k", "v2")
      Ingest.writeBucketed(df1, "graft_b1", "k", 8)
      Ingest.writeBucketed(df2, "graft_b2", "k", 8)
      val joined = s.table("graft_b1").join(s.table("graft_b2"), "k")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed join must not shuffle:\n$plan")
      assert(joined.count() === 1000)
    } finally {
      conf.set("spark.sql.adaptive.enabled", aqe)
      conf.set("spark.sql.autoBroadcastJoinThreshold", bc)
      s.sql("DROP TABLE IF EXISTS graft_b1")
      s.sql("DROP TABLE IF EXISTS graft_b2")
    }
  }

  test("orc: roundtrip preserves values; filters push down to the ORC scan") {
    val dir = tempDir("orc") + "/li"
    val li = Ingest.table(spark, sf0001, "lineitem")
      .select("l_orderkey", "l_quantity", "l_shipdate")
    Ingest.writeOrc(li, dir)
    val back = Ingest.orc(spark, dir)
    assert(back.count() === li.count())
    val filtered = back.filter(org.apache.spark.sql.functions.col("l_quantity") < 10)
    val scan = filtered.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters") && scan.contains("LessThan(l_quantity"),
      s"the quantity predicate must reach the ORC scan:\n$scan")
    val expected = li.filter("l_quantity < 10").count()
    assert(filtered.count() === expected)
  }

  test("orc: partitioned write prunes partitions on read") {
    val dir = tempDir("orc-part")
    val e = Ingest.events(spark, sf0001).select("event_id", "event_type", "value")
    Ingest.writeOrc(e, dir, Seq("event_type"))
    val back = Ingest.orc(spark, dir)
      .filter(org.apache.spark.sql.functions.col("event_type") === "click")
    val scan = back.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") && scan.contains("event_type"),
      s"event_type must prune ORC partitions:\n$scan")
    assert(back.count() > 0)
  }

  test("events: TIMESTAMP(NANOS) normalization to epoch millis") {
    val e = Ingest.events(spark, sf0001)
    val r = e.selectExpr("count(*) AS n",
      "sum(CASE WHEN unix_millis(ts) = ts_ms THEN 0 ELSE 1 END) AS bad").collect()(0)
    assert(r.getLong(0) > 0)
    assert(r.getLong(1) === 0, "ts and ts_ms must agree at millis precision")
  }

  test("table: a one-file table reads with no job, under the schema inference gives it") {
    import org.apache.spark.JobsOf
    val names = new java.io.File(sf0001).list().filter(_.endsWith(".parquet"))
      .map(_.stripSuffix(".parquet")).sorted.toSeq
    assert(names.size >= 10, s"fixture: sf0.001 tables $names")
    for (n <- names) {
      var read: org.apache.spark.sql.DataFrame = null
      val jobs = JobsOf(spark.sparkContext) { read = Ingest.table(spark, sf0001, n) }.size
      assert(jobs === 0, s"Ingest.table($n) launched $jobs jobs")
      assert(read.schema === spark.read.parquet(s"$sf0001/$n.parquet").schema, n)
    }
    // a table stored as a directory keeps inference
    val dir = tempDir("ingest-dir")
    spark.range(3).selectExpr("id", "CAST(id AS STRING) AS s").write.parquet(s"$dir/t.parquet")
    assert(Ingest.footerSchema(spark, s"$dir/t.parquet").isEmpty)
    assert(Ingest.table(spark, dir, "t").schema.fieldNames.toSeq === Seq("id", "s"))
  }

  test("acquire: streamed copy with size+md5, atomic into place") {
    val dir = java.nio.file.Paths.get(tempDir("acq"))
    val src = dir.resolve("remote.csv")
    val body = "a|b\n1|2\n3|4\n"
    Files.writeString(src, body)
    val dest = dir.resolve("staging/incoming.csv")
    val (n, md5) = Ingest.acquire(src.toUri.toString, dest.toString)
    assert(n === body.getBytes.length.toLong)
    val expected = java.security.MessageDigest.getInstance("MD5")
      .digest(body.getBytes).map("%02x".format(_)).mkString
    assert(md5 === expected, "content hash must match the source bytes")
    assert(Files.readString(dest) === body)
    assert(Files.list(dest.getParent)
      .filter(p => p.getFileName.toString.endsWith(".part")).count() === 0L,
      "no temp .part files may remain")
  }

  test("compact: many small files rewrite to the target count, values intact, no temp dirs") {
    val s = spark
    import s.implicits._
    val dir = tempDir("compact") + "/t.parquet"
    // 64 tiny files (a streaming sink's typical litter)
    (1L to 6400L).map(i => (i, s"row$i")).toDF("id", "v")
      .repartition(64).write.mode("overwrite").parquet(dir)
    val expected = spark.read.parquet(dir).collect().map(_.getLong(0)).sorted
    val total = {
      val d = new java.io.File(dir)
      d.listFiles.filter(_.getName.endsWith(".parquet")).map(_.length).sum
    }
    // target = all the data → exactly 1 output file (an exact divisor:
    // total/2 truncates on odd totals and ceil would then yield 3)
    val (before, after) = Ingest.compact(spark, dir, targetBytes = total)
    assert(before === 64)
    assert(after === 1, s"expected ceil(total/total) = 1 file, got $after")
    val back = spark.read.parquet(dir).collect()
    assert(back.map(_.getLong(0)).sorted === expected, "compaction must not change data")
    assert(!new java.io.File(graft.plans.Publish.tmpOf(dir)).exists() &&
      !new java.io.File(graft.plans.Publish.oldOf(dir)).exists(),
      "write-audit-publish must clean up its staging dirs")
  }

  test("compact: hive-partitioned layout is preserved, not flattened") {
    val s = spark
    import s.implicits._
    val dir = tempDir("compact-part") + "/t.parquet"
    (1L to 4000L).map(i => (i, (i % 4).toInt, s"row$i")).toDF("id", "cell", "v")
      .repartition(16).write.mode("overwrite").partitionBy("cell").parquet(dir)
    val expected = spark.read.parquet(dir).collect()
      .map(r => (r.getLong(0), r.getAs[Int]("cell"))).sorted
    val (before, after) = Ingest.compact(spark, dir, targetBytes = Long.MaxValue >> 1)
    assert(before > after, s"compaction must shrink file count ($before -> $after)")
    // the partition spine must survive: key=value subdirs still present
    val subdirs = new java.io.File(dir).listFiles.filter(_.isDirectory).map(_.getName)
    assert(subdirs.count(_.startsWith("cell=")) === 4,
      s"partitionBy layout must be re-applied, got dirs: ${subdirs.mkString(",")}")
    val back = spark.read.parquet(dir).collect()
      .map(r => (r.getLong(0), r.getAs[Int]("cell"))).sorted
    assert(back === expected, "partitioned compaction must not change data")
    // pruning still works post-compaction: one partition dir read
    val pruned = spark.read.parquet(dir)
      .where(org.apache.spark.sql.functions.col("cell") === 2)
    val scan = pruned.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") && pruned.count() === 1000L)
  }

  test("parquetEvolved: added columns union across file generations, old files read NULL") {
    val s = spark
    import s.implicits._
    val dir = tempDir("evolve")
    // generation 1: (doc_id, text); generation 2 adds lang
    Seq((1L, "alpha")).toDF("doc_id", "text")
      .write.mode("append").parquet(dir)
    Seq((2L, "beta", "en")).toDF("doc_id", "text", "lang")
      .write.mode("append").parquet(dir)
    val df = Ingest.parquetEvolved(spark, dir)
    assert(df.columns.sorted.toSeq === Seq("doc_id", "lang", "text"),
      "the merged schema must union both generations")
    val rows = df.select("doc_id", "text", "lang").orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), Option(r.getString(2))))
    assert(rows.toSeq === Seq((1L, "alpha", None), (2L, "beta", Some("en"))),
      "generation-1 rows surface the added column as NULL")
  }

  test("exportReportCsv: header + quoting, refuses oversized reports") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Paths.get(tempDir("report"))
    val out = dir.resolve("report.csv")
    val df = Seq((1L, "plain", 2.5), (2L, "with,comma \"q\"", 3.0))
      .toDF("id", "label", "val")
    val n = Ingest.exportReportCsv(df.orderBy("id"), out.toString)
    assert(n === 2L)
    val lines = Files.readAllLines(out)
    assert(lines.get(0) === "id,label,val")
    assert(lines.get(1) === "1,plain,2.5")
    assert(lines.get(2) === "2,\"with,comma \"\"q\"\"\",3.0")
    val big = (1L to 100L).toDF("id")
    intercept[IllegalArgumentException] {
      Ingest.exportReportCsv(big, dir.resolve("big.csv").toString, maxRows = 50)
    }
  }
}
