package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.PerfBridge
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.operators.{Ann, CorpusBuild, Relational, StarSchema}
import graft.SparkEntry

/** One public call of a workload iteration. `check` runs after the call,
  * outside its timed window, and returns failed-check reasons.
  */
final case class Step(name: String, run: () => Unit, check: () => Seq[String] = () => Nil)

/** A workload: the steps of one iteration in a fresh session, and the
  * checks that need the whole run.
  */
trait Workload {
  def iteration(s: SparkSession, dir: File): Seq[Step]
  /** The artifact the iteration publishes, walked for its size. */
  def artifact(dir: File): File
  /** Runs in the last iteration's session, after the timed iterations. */
  def finalChecks(s: SparkSession, work: File): Seq[String] = Nil
  def extra: Map[String, Any] = Map.empty
}

/** Runs one benchmark workload closed-loop from one client thread and
  * writes every measurement as one JSON document.
  *
  * {{{
  * Runner <workload> <inputDir> <warmupInputDir> <workDir> <seconds> <trace 0|1> <warmups> <cores> <out.json>
  * }}}
  *
  * Each iteration runs in a fresh `newSession()`, so graft's session-scoped
  * build-once caches start empty, while JIT and codegen stay warm from the
  * warm-up iterations. A step's time is the wall of its public call; the
  * checks between calls are not timed. With tracing on, a [[Recorder]]
  * collects the events each call caused.
  */
object Runner {

  private val nanoBase = System.nanoTime()
  private val msBase = System.currentTimeMillis().toDouble

  /** Epoch milliseconds with nanosecond resolution, on the same clock as
    * the scheduler's event timestamps. */
  def nowMs(): Double = msBase + (System.nanoTime() - nanoBase) / 1e6

  /** Driver heap in use after full collections at the end of an
    * iteration. A collection lets Spark's cleaner thread release the
    * broadcasts and shuffles of dropped plans, which the next collection
    * frees, so collect until the heap in use falls by less than 1 MiB. */
  private def liveHeap(): Long = {
    val mem = ManagementFactory.getMemoryMXBean
    var prev = Long.MaxValue
    var used = Long.MaxValue / 2
    var rounds = 0
    while (prev - used >= (1L << 20) && rounds < 10) {
      prev = used
      System.gc()
      Thread.sleep(100)
      used = mem.getHeapMemoryUsage.getUsed
      rounds += 1
    }
    math.min(prev, used)
  }

  def sizeOf(f: File): (Long, Long) =
    if (!f.exists) (0L, 0L)
    else if (f.isFile) (f.length, 1L)
    else f.listFiles.map(sizeOf).foldLeft((0L, 0L)) { case ((b, n), (b2, n2)) => (b + b2, n + n2) }

  def files(f: File): Set[String] =
    if (!f.exists) Set.empty
    else if (f.isFile) Set(f.getPath)
    else f.listFiles.toSet.flatMap(files)

  def deleteRec(f: File): Unit = {
    if (f.isDirectory) f.listFiles.foreach(deleteRec)
    f.delete()
  }

  private def reason(e: Throwable): String =
    s"${e.getClass.getName}: ${String.valueOf(e.getMessage).linesIterator.take(3).mkString(" | ")}"

  def main(args: Array[String]): Unit = {
    val Array(workloadName, input, warmInput, workPath, secondsArg, traceArg, warmupArg, coresArg, out) = args
    val seconds = secondsArg.toDouble
    val traced = traceArg == "1"
    val cores = coresArg.toInt
    val work = new File(workPath)

    val spark = GraftSession.tune(
        SparkSession.builder().master(s"local[$cores]").appName("graft-perfbench"), cores)
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val readyMs = nowMs()
    val sc = spark.sparkContext
    val recorder = new Recorder
    if (traced) sc.addSparkListener(recorder)

    def load(dir: String): Workload = workloadName match {
      case "elt_star" => new EltStar(dir)
      case "corpus_refresh" => new CorpusRefresh(dir)
      case "index_serve" => new IndexServe(dir)
    }
    val workload = load(input)
    // warm-up iterations may read a smaller input of the same shape
    val warmWorkload = if (warmInput == input) workload else load(warmInput)

    val iterations = mutable.ArrayBuffer.empty[Map[String, Any]]
    val failures = mutable.ArrayBuffer.empty[String]
    var attempted = 0
    var failed = 0

    def runIteration(i: Int, warm: Boolean): SparkSession = {
      val wl = if (warm) warmWorkload else workload
      val s = spark.newSession()
      if (traced) s.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        .listenerManager.register(recorder)
      val dir = new File(work, s"it$i")
      val art = wl.artifact(dir)
      val itStart = nowMs()
      val steps = wl.iteration(s, dir).map { st =>
        val group = s"it$i/${st.name}"
        val trace = if (traced) { PerfBridge.drain(sc); new StepTrace } else null
        val before = if (traced) files(art) else Set.empty[String]
        recorder.current = trace
        sc.setJobGroup(group, st.name, interruptOnCancel = false)
        val t0 = nowMs()
        val error = try { st.run(); None } catch { case NonFatal(e) => Some(reason(e)) }
        val t1 = nowMs()
        println(f"it$i ${st.name} ${(t1 - t0) / 1000}%.3f s${error.fold("")(e => s" FAILED $e")}")
        if (traced) PerfBridge.drain(sc)
        recorder.current = null
        val filesOut = if (traced) (files(art) -- before).size else 0
        sc.setJobGroup(s"it$i/check", "check", interruptOnCancel = false)
        val bad = error.toSeq ++ (if (error.isEmpty) {
          try st.check() catch { case NonFatal(e) => Seq(s"check raised ${reason(e)}") }
        } else Nil)
        sc.clearJobGroup()
        attempted += 1
        if (bad.nonEmpty) {
          failed += 1
          failures ++= bad.map(b => s"it$i/${st.name}: $b")
        }
        val (pubB, pubFiles) = sizeOf(art)
        Map("name" -> st.name, "group" -> group, "start" -> t0, "end" -> t1,
          "ok" -> bad.isEmpty, "publish_b" -> pubB, "publish_files" -> pubFiles,
          "files_out" -> filesOut) ++
          (if (traced) Map("trace" -> trace.toMap) else Map.empty)
      }
      val itEnd = nowMs()
      val (artB, artFiles) = sizeOf(art)
      iterations += Map("index" -> i, "warm" -> warm, "start" -> itStart, "end" -> itEnd,
        "steps" -> steps, "artifact_b" -> artB, "artifact_files" -> artFiles)
      // keep the latest iteration's outputs for the post-run checks only
      if (i > 0) deleteRec(new File(work, s"it${i - 1}"))
      s
    }
    var heapPeak = 0L
    var last: SparkSession = null
    def iterate(i: Int, warm: Boolean): Unit = {
      last = null
      last = runIteration(i, warm)
      heapPeak = math.max(heapPeak, liveHeap())
    }

    val warmups = warmupArg.toInt
    (0 until warmups).foreach(i => iterate(i, warm = true))
    val warmMs = nowMs()
    var i = warmups
    while (i == warmups || nowMs() - warmMs < seconds * 1000) {
      iterate(i, warm = false)
      i += 1
    }
    val timedEndMs = nowMs()
    sc.setJobGroup("final-check", "check", interruptOnCancel = false)
    val finalBad = try workload.finalChecks(last, work)
      catch { case NonFatal(e) => Seq(s"final check raised ${reason(e)}") }
    failures ++= finalBad.map(b => s"final: $b")
    failed += finalBad.size

    val runtime = ManagementFactory.getRuntimeMXBean
    val result = Map(
      "workload" -> workloadName,
      "env" -> Map(
        "spark" -> spark.version,
        "scala" -> scala.util.Properties.versionNumberString,
        "jdk" -> System.getProperty("java.version"),
        "master" -> sc.master,
        "cores" -> cores,
        "xmx_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
        "gc" -> ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getName).mkString("+"),
        "jvm_args" -> runtime.getInputArguments.asScala.filter(_.startsWith("-X")).mkString(" ")),
      "jvm_start_ms" -> runtime.getStartTime,
      "ready_ms" -> readyMs,
      "warm_ms" -> warmMs,
      "timed_end_ms" -> timedEndMs,
      "iterations" -> iterations.toSeq,
      "attempted" -> attempted,
      "failed" -> failed,
      "failures" -> failures.toSeq,
      "heap_peak_b" -> heapPeak,
      "extra" -> workload.extra)
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    val tmp = new File(out + ".tmp")
    mapper.writeValue(tmp, result)
    tmp.renameTo(new File(out))
    spark.stop()
  }
}

/** The reference ELT chain: typed staging ingest, the four dimensions, the
  * fact build, the star report and the monthly rollup, each written to
  * parquet. The outputs of the last iteration are compared with the
  * DuckDB oracle after the run.
  */
final class EltStar(input: String) extends Workload {
  val chain: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "q_ingest_typecast" -> StarSchema.qIngestTypecast _,
    "q_dim_date" -> StarSchema.qDimDate _,
    "q_dim_time" -> StarSchema.qDimTime _,
    "q_dim_geo" -> StarSchema.qDimGeo _,
    "q_dim_status" -> StarSchema.qDimStatus _,
    "q_fact_build" -> StarSchema.qFactBuild _,
    "q_star_report" -> StarSchema.qStarReport _,
    "q_monthly_trend" -> Relational.qMonthlyTrend _)

  def artifact(dir: File): File = new File(dir, "elt")

  def iteration(s: SparkSession, dir: File): Seq[Step] = chain.map { case (name, plan) =>
    Step(name, () => plan(s, input).write.mode("overwrite")
      .parquet(new File(artifact(dir), name).getAbsolutePath))
  }

  override def extra: Map[String, Any] =
    Map("oracle" -> chain.map { case (n, _) => n -> SparkEntry.oracleSql(n) }.toMap)
}

/** The corpus lifecycle: publish the corpus, fold in the increments, and
  * compact. Checks after the calls: the manifest sums match the shards,
  * no doc_id is committed twice, compaction keeps the committed row
  * multiset, and no staging directory is left behind.
  */
final class CorpusRefresh(input: String) extends Workload {
  private val increments =
    new File(input).list().filter(_.matches("inc_\\d+\\.parquet")).sorted.toSeq

  def artifact(dir: File): File = new File(dir, "corpus")

  private val rowCols = Seq("doc_id", "source", "lang", "toks", "lane", "pack_id", "text")

  /** (rows, order-free row signature, distinct doc_ids) of the committed
    * corpus. */
  private def committed(s: SparkSession, path: String): (Long, Long, Long) = {
    val ids = s.read.parquet(s"$path/manifest.parquet").select("shard").collect().map(_.getInt(0))
    val r = s.read.parquet(s"$path/shards.parquet")
      .filter(col("shard").isin(ids.map(Integer.valueOf): _*))
      .select(count(lit(1)), sum(xxhash64(rowCols.map(col): _*).cast("decimal(38,0)")),
        countDistinct(col("doc_id")))
      .head()
    (r.getLong(0), Option(r.getDecimal(1)).map(_.longValue).getOrElse(0L), r.getLong(2))
  }

  private def layoutChecks(s: SparkSession, path: String): Seq[String] = {
    val (rows, _, distinctIds) = committed(s, path)
    val m = s.read.parquet(s"$path/manifest.parquet")
    val manifestDocs = m.agg(sum(col("n_docs"))).head().getLong(0)
    val perShard = s.read.parquet(s"$path/shards.parquet").groupBy("shard")
      .agg(count(lit(1)), expr("bit_xor(xxhash64(doc_id, text))"))
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val shardMismatch = m.select("shard", "n_docs", "content_sig").collect()
      .filter(r => !perShard.get(r.getInt(0)).contains((r.getLong(1), r.getLong(2))))
    val leftovers = Seq(".publish.tmp", ".publish.old", ".build.tmp", ".compact.tmp", ".compact.old")
      .filter(sfx => new File(path + sfx).exists)
    Seq(
      if (manifestDocs != rows) Some(s"manifest docs $manifestDocs != committed rows $rows") else None,
      if (shardMismatch.nonEmpty) Some(s"manifest (n_docs, content_sig) != shard data for shards ${shardMismatch.map(_.getInt(0)).mkString(",")}") else None,
      if (distinctIds != rows) Some(s"${rows - distinctIds} doc_id committed twice") else None,
      if (leftovers.nonEmpty) Some(s"staging left behind: ${leftovers.mkString(",")}") else None
    ).flatten
  }

  private var beforeCompact: (Long, Long, Long) = null

  def iteration(s: SparkSession, dir: File): Seq[Step] = {
    val path = artifact(dir).getAbsolutePath
    val write = Step("corpus_write", () => CorpusBuild.corpusWrite(s, input, path).collect(),
      () => layoutChecks(s, path))
    val upserts = increments.zipWithIndex.map { case (inc, k) =>
      val last = k == increments.size - 1
      Step(s"corpus_upsert_$k",
        () => CorpusBuild.corpusUpsert(s, path, s.read.parquet(s"$input/$inc")).collect(),
        () => {
          if (last) beforeCompact = committed(s, path)
          layoutChecks(s, path)
        })
    }
    val compact = Step("corpus_compact", () => CorpusBuild.corpusCompact(s, path).collect(),
      () => {
        val after = committed(s, path)
        layoutChecks(s, path) ++
          (if (after != beforeCompact) Seq(s"compaction changed the committed rows: $beforeCompact -> $after") else Nil)
      })
    (write +: upserts) :+ compact
  }
}

/** The IVF-PQ index lifecycle: build over a seeded share of the vectors,
  * upsert the rest in seeded batches, then serve the audit queries. The
  * serve of every iteration must equal the serve of a one-shot build over
  * all vectors, made once after the timed run.
  */
final class IndexServe(input: String) extends Workload {
  private var batches: Map[Int, Array[Long]] = null
  private val served = mutable.ArrayBuffer.empty[Set[(Long, Long, Long)]]

  def artifact(dir: File): File = new File(dir, "ivfpq")

  private def serveSet(s: SparkSession, path: String): Set[(Long, Long, Long)] =
    Ann.ivfPqServe(s, input, path).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  def iteration(s: SparkSession, dir: File): Seq[Step] = {
    if (batches == null) batches = s.read.parquet(s"$input/batches.parquet").collect()
      .groupBy(_.getInt(1)).map { case (b, rows) => b -> rows.map(_.getLong(0)).sorted }
    val path = artifact(dir).getAbsolutePath
    def ids(b: Int) = col("vec_id").isin(batches(b).map(java.lang.Long.valueOf): _*)
    val build = Step("ivfpq_build", () => Ann.buildIvfPqIndex(s, input, path, ids(0)))
    val upserts = batches.keys.toSeq.filter(_ > 0).sorted.map { b =>
      Step(s"ivfpq_upsert_$b",
        () => Ann.ivfPqUpsertBatch(s, path, Ann.split(s, input)._1.filter(ids(b)), b.toLong))
    }
    val serve = Step("ivfpq_serve", () => served += serveSet(s, path))
    (build +: upserts) :+ serve
  }

  /** The one-shot build reuses the session's codebooks, which a partial
    * build trains on all vectors as well. */
  override def finalChecks(s: SparkSession, work: File): Seq[String] = {
    val path = new File(work, "oneshot/ivfpq").getAbsolutePath
    Ann.buildIvfPqIndex(s, input, path)
    val reference = serveSet(s, path)
    val bad = served.zipWithIndex.filter(_._1 != reference).map(_._2)
    if (bad.isEmpty) Nil
    else Seq(s"${bad.size} of ${served.size} serves differ from the one-shot build (first: serve #${bad.head})")
  }

  override def extra: Map[String, Any] = Map(
    "served" -> served.lastOption.getOrElse(Set.empty).toSeq.sorted.map(t => Seq(t._1, t._2, t._3)))
}
