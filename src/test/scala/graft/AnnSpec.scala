package graft

import org.apache.hadoop.fs.{FileUtil, Path}

import graft.operators.Ann
import graft.plans.Publish

/** ANN correctness: brute force is the exact baseline; the LSH variant
  * is graded on recall against it.
  */
class AnnSpec extends SparkSpec {

  private def topSets(rows: Array[org.apache.spark.sql.Row]): Map[Long, Set[Long]] =
    rows.groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }

  private def serveSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  private def conf = spark.sparkContext.hadoopConfiguration
  private def fs = new Path("/").getFileSystem(conf)
  private def exists(p: String): Boolean = fs.exists(new Path(p))

  /** The staging a crashed batch publish leaves beside committed batch
    * 3 of the index at `root`: a staging sibling of batch 4 holding
    * only `_temporary` (killed mid-write), then a replay of batch 3
    * parked between Publish's renames (batch 3 at `oldOf`, the replay
    * fully staged at `tmpOf`). Each must serve `expected` without
    * throwing and recover to no staging. */
  private def crashedBatchStates(root: String, expected: Set[(Long, Long, Long)])(
      serve: => Set[(Long, Long, Long)]): Unit = {
    val (b3, b4) = (Publish.batchOf(root, 3L), Publish.batchOf(root, 4L))
    assert(fs.mkdirs(new Path(Publish.tmpOf(b4), "index.parquet/_temporary/0")))
    assert(serve === expected, "a _temporary-only staging sibling must not be served")
    assert(!exists(Publish.tmpOf(b4)) && !exists(b4), "batch 4 never committed")
    assert(fs.rename(new Path(b3), new Path(Publish.oldOf(b3))))
    assert(FileUtil.copy(fs, new Path(Publish.oldOf(b3)), fs, new Path(Publish.tmpOf(b3)), false, conf))
    assert(serve === expected, "a replay parked between the renames must serve the committed batch")
    assert(exists(b3) && !exists(Publish.oldOf(b3)) && !exists(Publish.tmpOf(b3)),
      "recovery must put batch 3 back under its own name and drop the staging")
  }

  test("brute force returns exactly k ranked neighbors per query") {
    val rows = Ann.qAnnBruteforce(spark, sf0001).collect()
    val byQ = rows.groupBy(_.getLong(0))
    assert(byQ.size === Ann.QueryK,
      s"the query set is the fixed-size splitmix sample (QueryK=${Ann.QueryK})")
    byQ.foreach { case (q, rs) =>
      assert(rs.length === 5, s"query $q must have 5 neighbors")
      assert(rs.map(_.getLong(2)).sorted.toSeq === Seq(1L, 2L, 3L, 4L, 5L))
      val cosines = rs.sortBy(_.getLong(2)).map(_.getDouble(3))
      assert(cosines.zip(cosines.tail).forall { case (a, b) => a >= b },
        "cosine must be non-increasing in rank")
      assert(cosines.forall(c => c >= -1.0001 && c <= 1.0001))
    }
  }

  /** Recall AND candidate cost, asserted together — a recall number
    * without its candidate fraction is half a measurement.
    *
    * Context for the thresholds (measured, see Ann.scala's frontier
    * note): this corpus's true top-5 neighbors sit at cosine
    * 0.27-0.43, barely above random for dim=64, which caps what ANY
    * LSH family can do — recall ≥0.7 under 10% candidates is not
    * attainable here (best measured ≤13%: ~0.5). The chosen
    * cross-polytope config buys recall 0.82 at ~35% candidates; both
    * sides of that trade are asserted so a config change can't
    * silently buy recall with a corpus scan (candFrac → 1.0 would
    * "recall" 1.0).
    */
  test("LSH ANN recall@5 ≥ 0.7 with bounded, reported candidate fraction") {
    val brute = topSets(Ann.qAnnBruteforce(spark, sf0001).collect())
    val scored = Ann.lshScored(spark, sf0001, Ann.LshProbes).cache()
    try {
      val corpusN = graft.sources.Ingest.table(spark, sf0001, "embeddings").count()
      val candFrac = scored.count().toDouble / brute.size / corpusN
      val lsh = topSets(
        Ann.qAnnLsh(spark, sf0001).collect())
      val recalls = brute.map { case (q, bs) =>
        lsh.getOrElse(q, Set.empty).intersect(bs).size.toDouble / bs.size
      }
      val recall = recalls.sum / recalls.size
      info(f"LSH recall@5 over ${brute.size} queries: $recall%.3f, candidate fraction: $candFrac%.3f")
      assert(recall >= 0.7, f"cross-polytope 16×3-probe LSH should recall ≥ 0.7, got $recall%.3f")
      assert(candFrac < 0.5, f"candidates must stay a bounded corpus fraction, got $candFrac%.3f")
    } finally scored.unpersist()
  }

  /** IVF recall AND candidate cost, same double-sided contract as the
    * LSH test. nProbe/k = 6/16 bounds the EXPECTED candidate fraction
    * near 0.375, but cells are data-sized, so the assertion allows
    * skew headroom. The same unclustered-corpus frontier note applies
    * (true neighbors at cosine 0.27-0.43 ≈ barely above random):
    * data-dependent cells can't beat the LSH frontier here either —
    * the test pins that probing 6/16 of the codebook buys most of
    * brute force's answer set without a corpus scan.
    */
  test("IVF ANN recall@5 ≥ 0.6 with bounded, reported candidate fraction") {
    val brute = topSets(Ann.qAnnBruteforce(spark, sf0001).collect())
    val scored = Ann.ivfScored(spark, sf0001, Ann.IvfProbes).cache()
    try {
      val corpusN = graft.sources.Ingest.table(spark, sf0001, "embeddings").count()
      val candFrac = scored.count().toDouble / brute.size / corpusN
      val ivf = topSets(Ann.qAnnIvf(spark, sf0001).collect())
      val recalls = brute.map { case (q, bs) =>
        ivf.getOrElse(q, Set.empty).intersect(bs).size.toDouble / bs.size
      }
      val recall = recalls.sum / recalls.size
      info(f"IVF recall@5 over ${brute.size} queries: $recall%.3f, candidate fraction: $candFrac%.3f")
      assert(recall >= 0.6, f"IVF 16-cell 6-probe should recall ≥ 0.6, got $recall%.3f")
      assert(candFrac < 0.55, f"candidates must stay a bounded corpus fraction, got $candFrac%.3f")
    } finally scored.unpersist()
  }

  test("sessionCodebook: cached model bit-identical to a fresh train; second lookup serves cached") {
    // VERDICT r12 #1: the session cache must be a pure memoization —
    // trainCodebook is bit-deterministic (fixed-point Lloyd sums), so
    // the cached array equals a fresh train on the same immutable dir.
    val (corpus, _) = Ann.split(spark, sf0001)
    val cached = Ann.sessionCodebook(spark, sf0001, corpus)
    val fresh = Ann.trainCodebook(corpus, Ann.IvfIters)
    assert(cached.toSeq === fresh.toSeq,
      "session-cached codebook must equal a freshly trained one")
    assert(Ann.sessionCodebook(spark, sf0001, corpus) eq cached,
      "second lookup must return the cached model, not retrain")
  }

  test("persisted IVF index: serve == train-and-serve; scan prunes to the probed cells") {
    val path = tempDir("ivf")
    Ann.buildIvfIndex(spark, sf0001, path)
    val served = Ann.ivfServe(spark, sf0001, path)
    // same deterministic codebook (seeded Lloyd) → identical answers
    val inline = Ann.qAnnIvf(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val fromIndex = served.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(fromIndex === inline)
    val p = served.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters") && p.contains("cell"),
      s"the probed-cell isin must prune index partitions at the scan:\n$p")
  }

  test("persisted LSH index: serve == inline qAnnLsh; no bkey= directories") {
    import org.apache.spark.sql.functions.col
    val path = tempDir("lsh")
    Ann.buildLshIndex(spark, sf0001, path)
    // seed-derived rotations → identical bucket keys → identical answers
    assert(serveSet(Ann.lshServe(spark, sf0001, path)) === serveSet(Ann.qAnnLsh(spark, sf0001)))
    // a serve probes nearly every bucket, so the index table of the
    // root and of each batch is not partitioned by bucket
    val (corpus, _) = Ann.split(spark, sf0001)
    Ann.lshUpsertBatch(spark, path, corpus.filter(col("vec_id") % 7 === 0), 1L)
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(path))
    val bucketDirs = try walk.filter(_.getFileName.toString.startsWith("bkey=")).count()
      finally walk.close()
    assert(exists(s"${Publish.batchOf(path, 1L)}/index.parquet"))
    assert(bucketDirs === 0L, "a build and an upsert batch must write no bkey= directory")
  }

  test("LSH meta: read by name under its schema; a renamed or mismatched field asks for a rebuild") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.{col, lit}
    val path = tempDir("lsh-meta")
    Ann.buildLshIndex(spark, sf0001, path)
    val meta = s"$path/meta.parquet"
    val original = tempDir("lsh-meta-copy") + "/meta.parquet"
    spark.read.parquet(meta).write.parquet(original)
    def serveWith(edit: DataFrame => DataFrame): Unit = {
      assert(fs.delete(new Path(meta), true))
      edit(spark.read.parquet(original)).write.parquet(meta)
      Ann.lshServe(spark, sf0001, path)
    }
    serveWith(_.select("dim", "n_tables", "lsh_seed")) // column order is not read
    def rejected(edit: DataFrame => DataFrame): Unit = {
      val e = intercept[IllegalArgumentException](serveWith(edit))
      assert(e.getMessage.contains("rebuild the index"), e.getMessage)
    }
    rejected(_.withColumnRenamed("n_tables", "tables"))
    rejected(_.withColumn("n_tables", lit(8)))
    rejected(_.withColumn("lsh_seed", col("lsh_seed") + 1))
    rejected(df => df.union(df))
  }

  test("lshUpsertBatch: serve-after-upsert == one-shot build; replay idempotent; no assignment shuffle") {
    import org.apache.spark.sql.functions.col
    val full = tempDir("lsh-full")
    val incr = tempDir("lsh-incr")
    Ann.buildLshIndex(spark, sf0001, full)
    Ann.buildLshIndex(spark, sf0001, incr, col("vec_id") % 7 =!= 0)
    val (corpus, _) = Ann.split(spark, sf0001)
    val arrivals = corpus.filter(col("vec_id") % 7 === 0)
    // assignment is map-only (rotations ship inside the expression)
    val plan = Ann.lshAssign(arrivals).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"upsert assignment must never reshuffle the arrivals:\n$plan")
    Ann.lshUpsertBatch(spark, incr, arrivals, 3L)
    Ann.lshUpsertBatch(spark, incr, arrivals, 3L) // crash replay
    val residentN = spark.read.parquet(s"$incr/index.parquet").count()
    val streamN = spark.read.parquet(s"${Publish.batchOf(incr, 3L)}/index.parquet").count()
    assert(residentN + streamN === corpus.count() * Ann.LshTables,
      "replayed batch must not duplicate rows (one row per vector per table)")
    val ref = serveSet(Ann.lshServe(spark, sf0001, full))
    assert(serveSet(Ann.lshServe(spark, sf0001, incr)) === ref,
      "post-replay index must serve exactly what a rebuild serves")
    crashedBatchStates(incr, ref)(serveSet(Ann.lshServe(spark, sf0001, incr)))
    Ann.lshUpsertBatch(spark, incr, arrivals.filter(col("vec_id") < 0), 4L)
    assert(!exists(Publish.batchOf(incr, 4L)), "an empty batch must publish nothing")
    Ann.buildLshIndex(spark, sf0001, incr)
    assert(Publish.batches(spark, incr).isEmpty, "a full rebuild must retire the streamed batches")
  }

  test("ivfUpsertBatch: micro-batch replay is idempotent; empty batch is a no-op") {
    import org.apache.spark.sql.functions.col
    val full = tempDir("ivfb-full")
    val incr = tempDir("ivfb-incr")
    // one-shot reference index, and a partial build (the codebook still
    // trains on the full corpus) whose held-out arrivals are upserted
    Ann.buildIvfIndex(spark, sf0001, full)
    Ann.buildIvfIndex(spark, sf0001, incr, col("vec_id") % 7 =!= 0)
    val (corpus, _) = Ann.split(spark, sf0001)
    val arrivals = corpus.filter(col("vec_id") % 7 === 0)
    // the maintenance pass is map-only: no Exchange anywhere in the
    // assignment plan (the codebook ships inside the expression)
    val plan = Ann.ivfAssign(arrivals, Ann.readCodebook(spark, incr))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"upsert assignment must never reshuffle the arrivals (or the corpus):\n$plan")
    Ann.ivfUpsertBatch(spark, incr, arrivals, 3L)
    // crash-replay: foreachBatch re-delivers the SAME batch id after a
    // failure, and republishing it must converge to exactly-once
    // contents, not double-append
    Ann.ivfUpsertBatch(spark, incr, arrivals, 3L)
    val residentN = spark.read.parquet(s"$incr/index.parquet").count()
    val streamN = spark.read.parquet(s"${Publish.batchOf(incr, 3L)}/index.parquet").count()
    assert(residentN + streamN === corpus.count(),
      "replayed batch must not duplicate rows in the index")
    // identical codebook + exact assignment → identical serving answers
    val ref = serveSet(Ann.ivfServe(spark, sf0001, full))
    assert(serveSet(Ann.ivfServe(spark, sf0001, incr)) === ref,
      "post-replay index must serve exactly what a rebuild serves")
    crashedBatchStates(incr, ref)(serveSet(Ann.ivfServe(spark, sf0001, incr)))
    Ann.ivfUpsertBatch(spark, incr, arrivals.filter(col("vec_id") < 0), 4L)
    assert(!exists(Publish.batchOf(incr, 4L)), "an empty batch must publish nothing")
    Ann.buildIvfIndex(spark, sf0001, incr)
    assert(Publish.batches(spark, incr).isEmpty, "a full rebuild must retire the streamed batches")
  }

  test("IVF-PQ index: codes compress 2×+ on disk; recall ≥ 0.9 vs float serve; both scans prune") {
    val path = tempDir("ivfpq")
    val fullIvf = tempDir("ivfpq-ref")
    Ann.buildIvfPqIndex(spark, sf0001, path)
    Ann.buildIvfIndex(spark, sf0001, fullIvf)
    // compression: the scanned half stores 1-byte codes, the float
    // half 4-byte components — the 4× storage claim must survive
    // parquet encoding with at least 2× to spare
    def bytesUnder(p: String): Long = {
      def walk(f: java.io.File): Long =
        if (f.isDirectory) f.listFiles().map(walk).sum else f.length()
      walk(new java.io.File(p))
    }
    val codeBytes = bytesUnder(s"$path/index.parquet")
    val floatBytes = bytesUnder(s"$path/rerank.parquet")
    info(s"IVF-PQ scanned half: $codeBytes B vs float half: $floatBytes B")
    assert(codeBytes * 2 < floatBytes,
      s"int8 codes half must be at most half the float half on disk: $codeBytes vs $floatBytes")
    // recall floor vs the float serve (the q_quant_recall device): the
    // candidate cells are identical, so the only loss is a true top-K
    // neighbor falling out of the quantized top-(4K) over-fetch
    val ref = topSets(Ann.ivfServe(spark, sf0001, fullIvf).collect())
    val served = Ann.ivfPqServe(spark, sf0001, path)
    val got = topSets(served.collect())
    val recalls = ref.map { case (q, bs) =>
      got.getOrElse(q, Set.empty).intersect(bs).size.toDouble / bs.size
    }
    val recall = recalls.sum / recalls.size
    info(f"IVF-PQ recall@5 vs float IVF serve over ${ref.size} queries: $recall%.3f")
    assert(recall >= 0.9, f"float rerank of the int8 top-4K should recover ≥ 0.9, got $recall%.3f")
    // plan: the codes scan prunes to probed cells; the float scan is a
    // point lookup (probed cells AND a pushed vec_id IN filter)
    val p = served.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters") && p.contains("cell"),
      s"the probed-cell isin must prune both halves at the scan:\n$p")
    assert(p.contains("PushedFilters: [In(vec_id"),
      s"the rerank scan must push the candidate-id IN filter into parquet:\n$p")
  }

  test("ivfPqUpsertBatch: replay converges; a torn batch is invisible and heals on replay") {
    import org.apache.spark.sql.functions.col
    val full = tempDir("ivfpqb-full")
    val incr = tempDir("ivfpqb-incr")
    Ann.buildIvfPqIndex(spark, sf0001, full)
    Ann.buildIvfPqIndex(spark, sf0001, incr, col("vec_id") % 7 =!= 0)
    val (corpus, _) = Ann.split(spark, sf0001)
    val batch = corpus.filter(col("vec_id") % 7 === 0)
    def served = serveSet(Ann.ivfPqServe(spark, sf0001, incr))
    val ref = serveSet(Ann.ivfPqServe(spark, sf0001, full))
    val preBatch = served

    // a first attempt killed after the float half landed in staging and
    // before the codes half: the batch is invisible and its staging swept
    Ann.ivfPqUpsertBatch(spark, incr, batch, batchId = 3L)
    val b3 = Publish.batchOf(incr, 3L)
    assert(fs.rename(new Path(b3), new Path(Publish.tmpOf(b3))))
    assert(fs.delete(new Path(Publish.tmpOf(b3), "index.parquet"), true))
    assert(served === preBatch,
      "a torn batch (staged float half, no codes) must be INVISIBLE to serve")
    assert(!exists(Publish.tmpOf(b3)) && !exists(b3))

    // the replay publishes both halves in one swap; replaying a
    // committed batch converges to exactly-once contents
    Ann.ivfPqUpsertBatch(spark, incr, batch, batchId = 3L)
    Ann.ivfPqUpsertBatch(spark, incr, batch, batchId = 3L) // second replay: idempotent
    assert(served === ref,
      "replayed batch upserts must serve exactly what a one-shot build serves")
    crashedBatchStates(incr, ref)(served)

    // a full rebuild retires the streamed batches with the old root (no
    // old-codebook batch survives into a new-codebook serve)
    Ann.buildIvfPqIndex(spark, sf0001, incr)
    assert(Publish.batches(spark, incr).isEmpty, "a rebuild must retire the streamed batches")
    assert(served === ref)
  }

  test("q_ann_ivfadc: the registered row == explicit build + ivfPqServe, and recall is monitored") {
    val path = tempDir("ivfadc-row")
    Ann.buildIvfPqIndex(spark, sf0001, path)
    val exp = Ann.ivfPqServe(spark, sf0001, path).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val got = Ann.qAnnIvfadc(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === exp,
      "the session-built index must serve exactly what an explicit build serves")
    // the monitor's third column exists and sits at-or-below the
    // full-scan shortlist recall (cell pruning can only lose candidates)
    val rec = Ann.qPqRecall(spark, sf0001).collect()
    val full = rec.map(_.getAs[Long]("recall_bp")).sum
    val pruned = rec.map(_.getAs[Long]("ivfadc_recall_bp")).sum
    info(s"mean recall_bp full-scan=${full / rec.length} ivfadc=${pruned / rec.length}")
    assert(pruned <= full, "cell pruning cannot ADD recall over the full-scan shortlist")
    assert(pruned >= rec.length * 5000,
      "the production read should keep mean recall@5 above 50% on this corpus")
  }

  test("pqBatchCommitted: commit evidence is stamped at write time, independent of the reader's conf") {
    import org.apache.spark.sql.functions.col
    // a batch is committed iff its directory is in place under its own
    // name: Hadoop's _SUCCESS markers, which depend on the writer's
    // conf, play no part in the verdict
    val incr = tempDir("ivfpqm")
    Ann.buildIvfPqIndex(spark, sf0001, incr, col("vec_id") % 7 =!= 0)
    val (corpus, _) = Ann.split(spark, sf0001)
    def served = serveSet(Ann.ivfPqServe(spark, sf0001, incr))
    val preBatch = served
    // write the batch under a markers-DISABLED conf: no _SUCCESS lands
    conf.setBoolean("mapreduce.fileoutputcommitter.marksuccessfuljobs", false)
    try Ann.ivfPqUpsertBatch(spark, incr,
      corpus.filter(col("vec_id") % 7 === 0), batchId = 3L)
    finally conf.setBoolean("mapreduce.fileoutputcommitter.marksuccessfuljobs", true)
    val b3 = Publish.batchOf(incr, 3L)
    assert(!exists(s"$b3/index.parquet/_SUCCESS") && !exists(s"$b3/rerank.parquet/_SUCCESS"),
      "fixture: the markers-disabled write must leave no _SUCCESS")
    val committed = served // reader runs markers-ENABLED (default)
    assert(committed !== preBatch,
      "a markers-disabled writer's batch must be visible to a markers-enabled reader")
    // torn state: the batch's complete data files, staged but never
    // renamed in — data files alone are not commit evidence
    assert(fs.rename(new Path(b3), new Path(Publish.tmpOf(b3))))
    assert(served === preBatch, "a staged batch must read as uncommitted, however complete")
    assert(!exists(Publish.tmpOf(b3)), "the lister must sweep the staging")
    // the at-least-once replay republishes it — healed
    Ann.ivfPqUpsertBatch(spark, incr,
      corpus.filter(col("vec_id") % 7 === 0), batchId = 3L)
    assert(served === committed, "the replay must re-commit the batch")
  }

  test("buildIvfPqIndex: atomic triad publish — a crashed rebuild leaves the old index serving") {
    import org.apache.spark.sql.functions.col
    val path = tempDir("ivfpqswap") + "/idx"
    Ann.buildIvfPqIndex(spark, sf0001, path)
    def serveSet() = Ann.ivfPqServe(spark, sf0001, path).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val ref = serveSet()
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // crash DURING a rebuild's staging (new pq_codebook landed, new
    // codes not): the half-built state is all under the staging
    // sibling — the published triad is untouched and KEEPS serving
    // old-codebook codes under the old-codebook LUT
    val tmp = new org.apache.hadoop.fs.Path(graft.plans.Publish.tmpOf(path))
    fs.mkdirs(new org.apache.hadoop.fs.Path(tmp, "pq_codebook.parquet"))
    assert(serveSet() === ref,
      "a half-staged rebuild must be invisible: the old triad serves unchanged")
    // crash BETWEEN the publish swap's two renames: old index parked,
    // path absent — the next entry point heals it
    val old = new org.apache.hadoop.fs.Path(graft.plans.Publish.oldOf(path))
    assert(fs.rename(new org.apache.hadoop.fs.Path(path), old))
    assert(serveSet() === ref,
      "recovery must restore the parked index before the read")
    assert(!fs.exists(tmp), "recovery must sweep staging garbage")
    assert(!fs.exists(old))
  }

  test("IVF-PQ lifecycle: per-entry-point job budget; the coding pass broadcasts no local table") {
    import org.apache.spark.JobsOf
    import org.apache.spark.sql.execution.{LocalTableScanExec, QueryExecution}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.util.QueryExecutionListener
    object plans extends AdaptiveSparkPlanHelper
    // a fresh session: no model cached yet, so the build's count
    // includes training and does not depend on which test ran first
    val s = spark.newSession()
    val sc = s.sparkContext
    def jobsOf(body: => Unit): Int = JobsOf(sc)(body).size
    val path = tempDir("ivfpq-jobs") + "/idx"
    val (corpus, _) = Ann.split(s, sf0001)
    // (rows, bytes) of every broadcast carrying the ADC lookup tables,
    // and every broadcast of a driver-local table (the centroid rows a
    // probe step would join), over the executed plans of a serve
    val lutBroadcasts = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]
    val localBroadcastPlans = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val serveListener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        val p = qe.executedPlan
        plans.collect(p) {
          case b: BroadcastExchangeExec if b.output.exists(_.name == "lut") =>
            (b.metrics("numOutputRows").value, b.metrics("dataSize").value)
        }.foreach(lutBroadcasts.add)
        if (plans.collect(p) {
          case b: BroadcastExchangeExec if b.exists(_.isInstanceOf[LocalTableScanExec]) => b
        }.nonEmpty) localBroadcastPlans.add(p.toString)
      }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val build = jobsOf(Ann.buildIvfPqIndex(s, sf0001, path, col("vec_id") % 7 =!= 0))
    val upsert = jobsOf(Ann.ivfPqUpsertBatch(s, path, corpus.filter(col("vec_id") % 7 === 0), 1L))
    s.listenerManager.register(serveListener)
    val serve = try jobsOf(Ann.ivfPqServe(s, sf0001, path).collect())
      finally s.listenerManager.unregister(serveListener)
    info(s"jobs: build $build, upsert batch $upsert, serve $serve")
    // What each entry point pays:
    //   build 10: one seed pick and one job per Lloyd round for each
    //     of the two codebooks (2 + 2 rounds), then the writes;
    //   upsert 4: the empty-batch check, one read of both frozen
    //     models, the two halves' writes;
    //   serve 8: one read of both frozen models, the probed cells,
    //     the ADC shortlist, the reranked top-k, and the scans and
    //     broadcasts under them.
    // graft's own tables are read with their declared schema (no
    // footer-inference job), the PQ codebook without a sort, the
    // per-cell model rows ride in the coding expression (no broadcast
    // job), and each query ranks its probed cells inside one
    // expression (no centroid-table broadcast job, no window).
    // A Lloyd round as a grouped aggregate runs a map job and a result
    // job, and reading the two models in two collects one job more:
    // 14 / 5 / 9 jobs. Reading with schema inference, sorting and
    // broadcasting cost 21 / 12 / 21; the probe cross join, the
    // footer-inferred `embeddings` read and a local broadcast of the
    // shortlist pairs 15 / 5 / 13.
    assert(build <= 10, s"buildIvfPqIndex launched $build jobs")
    assert(upsert <= 4, s"ivfPqUpsertBatch launched $upsert jobs")
    assert(serve <= 8, s"ivfPqServe launched $serve jobs")
    // the query side is one row per query, not one per probed
    // (query, cell): a 16 × 256-double table each
    val luts = lutBroadcasts.toArray.map(_.asInstanceOf[(Long, Long)]).toSeq
    info(s"LUT broadcasts (rows, bytes): ${luts.mkString(", ")}")
    assert(luts.nonEmpty, "ivfPqServe must broadcast its query-side LUT rows")
    assert(luts.forall(_._1 <= Ann.QueryK),
      s"the LUT broadcast must carry at most ${Ann.QueryK} rows, got ${luts.mkString(", ")}")
    // the float IVF serve probes the same way
    val ivfPath = tempDir("ivf-jobs") + "/idx"
    Ann.buildIvfIndex(s, sf0001, ivfPath)
    s.listenerManager.register(serveListener)
    // counted only for its bus drain: the listener has seen every plan
    try jobsOf(Ann.ivfServe(s, sf0001, ivfPath).collect())
    finally s.listenerManager.unregister(serveListener)
    assert(localBroadcastPlans.isEmpty,
      s"a serve broadcast a driver-local table:\n${localBroadcastPlans.toArray.mkString("\n")}")

    val (cent, pqCb) = Ann.readPqModels(s, path)
    val coded = Ann.pqCode(Ann.ivfAssign(corpus, cent), pqCb, cent)
    assert(coded.count() == corpus.count())
    val p = coded.queryExecution.executedPlan
    val localBroadcasts = plans.collect(p) {
      case b: BroadcastExchangeExec if b.exists(_.isInstanceOf[LocalTableScanExec]) => b
    }
    assert(localBroadcasts.isEmpty,
      s"the coding pass must carry its per-cell model rows in expressions, not broadcast them:\n$p")
  }

  test("IVF-PQ lifecycle: a second fresh session compiles no generated class") {
    import org.apache.spark.metrics.source.CodegenMetrics
    import org.apache.spark.sql.functions.col
    // build → two upserts → serve in a fresh newSession(), as each
    // perfbench iteration runs it; the count is JVM-wide (the local
    // executor compiles into the same counter)
    def compilesOfLifecycle(tag: String): Long = {
      val s = spark.newSession()
      val path = tempDir(s"ivfpq-codegen-$tag") + "/idx"
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val (corpus, _) = Ann.split(s, sf0001)
      Ann.buildIvfPqIndex(s, sf0001, path, col("vec_id") % 7 > 1)
      Ann.ivfPqUpsertBatch(s, path, corpus.filter(col("vec_id") % 7 === 0), 1L)
      Ann.ivfPqUpsertBatch(s, path, corpus.filter(col("vec_id") % 7 === 1), 2L)
      Ann.ivfPqServe(s, sf0001, path).collect()
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    val first = compilesOfLifecycle("a")
    val second = compilesOfLifecycle("b")
    info(s"generated classes compiled: first session $first, second session $second")
    // every class the lifecycle needs stays in the codegen cache under
    // the one executor class loader GraftSession sets
    assert(second === 0, s"the second session compiled $second classes")
  }

  test("model reads: a shuffled multi-file codebook reads back; a missing, doubled or renamed row throws") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.{col, rand, when}
    val path = tempDir("ivfpq-model") + "/idx"
    Ann.buildIvfPqIndex(spark, sf0001, path)
    val cent = Ann.readCodebook(spark, path)
    val (cent2, pqCb) = Ann.readPqModels(spark, path)
    assert(java.util.Arrays.equals(cent2, cent), "both readers must place the same cell codebook")
    val tables = Seq("codebook.parquet", "pq_codebook.parquet")
    // copy both model tables under a fresh root, each through `edit`
    def rewrite(edit: String => DataFrame => DataFrame): String = {
      val root = tempDir("ivfpq-model-copy")
      tables.foreach(t => edit(t)(spark.read.parquet(s"$path/$t")).write.parquet(s"$root/$t"))
      root
    }
    // several files, rows in shuffled order: every row lands at its key
    val shuffle: DataFrame => DataFrame = _.orderBy(rand(7)).repartition(3)
    val shuffled = rewrite(_ => shuffle)
    for (t <- tables) assert(
      new java.io.File(s"$shuffled/$t").list().count(_.endsWith(".parquet")) > 1,
      s"fixture: $t must be written as several files")
    assert(Ann.readCodebook(spark, shuffled).sameElements(cent))
    val (shuffledCent, shuffledPq) = Ann.readPqModels(spark, shuffled)
    assert(shuffledCent.sameElements(cent) && shuffledPq.sameElements(pqCb))

    // each edit of `table` must be rejected by every reader of it, the
    // error naming that table and not its sibling
    val pqModels: String => Any = Ann.readPqModels(spark, _)
    def rejected(table: String, reads: Seq[String => Any])(edit: DataFrame => DataFrame): Unit = {
      val root = rewrite(t => if (t == table) edit.andThen(shuffle) else shuffle)
      for (read <- reads) {
        val e = intercept[IllegalArgumentException](read(root))
        assert(e.getMessage.contains(s"$root/$table"), s"the error must name the artifact: ${e.getMessage}")
      }
    }
    val last = pqCb.length - 1
    val pq = "pq_codebook.parquet"
    rejected(pq, Seq(pqModels))(_.filter(col("pos") =!= 100))
    rejected(pq, Seq(pqModels))(_.filter(col("pos") =!= last))
    rejected(pq, Seq(pqModels))(
      _.withColumn("pos", when(col("pos") === 101, 100).otherwise(col("pos"))))
    rejected(pq, Seq(pqModels))(_.withColumnRenamed("v", "value"))
    val cb = "codebook.parquet"
    val cbReads = Seq(Ann.readCodebook(spark, _: String), pqModels)
    rejected(cb, cbReads)(_.filter(col("cell") =!= 5))
    rejected(cb, cbReads)(
      _.withColumn("cell", when(col("cell") === 6, 5).otherwise(col("cell"))))
    rejected(cb, cbReads)(_.withColumnRenamed("centroid", "center"))
  }

  test("Lloyd rounds: both codebooks bit-equal to the posexplode-groupBy form, at any partitioning") {
    import org.apache.spark.sql.{Column, DataFrame, Row}
    import org.apache.spark.sql.functions._
    import graft.functions.VectorFunctions
    // The reference is the round as a grouped aggregate: explode every
    // component, sum its fixed-point value and count it per (slot,
    // component), collect, place; an entry no row reached keeps its
    // previous value.
    val fp = 1048576
    def groupedRound(prev: Array[Double], slotted: DataFrame, slotCols: Seq[Column])(
        at: Row => Int): Array[Double] = {
      val next = prev.clone()
      slotted.groupBy(slotCols: _*)
        .agg(sum(expr(s"CAST(round(v * $fp) AS BIGINT)")), count(lit(1)))
        .collect()
        .foreach { r =>
          val n = r.length
          next(at(r)) = r.getLong(n - 2).toDouble / fp / r.getLong(n - 1)
        }
      next
    }
    def refCodebook(corpus: DataFrame): Array[Double] = {
      var cent = Ann.trainCodebook(corpus, 0)
      val dim = cent.length / Ann.IvfCells
      for (_ <- 1 to Ann.IvfIters) {
        val exploded = corpus
          .select(VectorFunctions.nearestCell(col("embedding"), cent.toSeq, dim).as("cell"),
            col("embedding"))
          .select(col("cell"), posexplode(col("embedding")).as(Seq("pos", "v")))
        cent = groupedRound(cent, exploded, Seq(col("cell"), col("pos")))(r => r.getInt(0) * dim + r.getInt(1))
      }
      cent
    }
    def refPqCodebooks(corpus: DataFrame, cent: Array[Double]): Array[Double] = {
      val dsub = Ann.PqDsub
      var cb = Ann.trainPqCodebooks(spark, corpus, cent, 0)
      val ks = cb.length / (Ann.PqM * dsub)
      val residuals = Ann.withResidual(Ann.ivfAssign(corpus, cent), cent)
        .select(col("remb").as("embedding"))
      for (_ <- 1 to Ann.PqTrainIters) {
        val exploded = residuals
          .select(VectorFunctions.pqCodes(col("embedding"), cb.toSeq, Ann.PqM, dsub).as("codes"),
            col("embedding"))
          .select(col("codes"), posexplode(col("embedding")).as(Seq("pos", "v")))
          .select(expr(s"CAST(pos DIV $dsub AS INT)").as("m"),
            expr(s"CAST(element_at(codes, CAST(pos DIV $dsub AS INT) + 1) AS INT) & 255").as("code"),
            col("pos"), col("v"))
        cb = groupedRound(cb, exploded, Seq(col("m"), col("code"), col("pos"))) { r =>
          val m = r.getInt(0)
          (m * ks + r.getInt(1)) * dsub + r.getInt(2) - m * dsub
        }
      }
      cb
    }
    val (corpus, _) = Ann.split(spark, sf001)
    // the same corpus hashed on three keys into 7 partitions: at least
    // four of them are empty, and seven partial sums are enough for the
    // fold to merge them in a tree level on the executors
    val sevenWay = corpus.repartition(7, col("vec_id") % 3)
    val sizes = sevenWay.rdd.mapPartitions(it => Iterator(it.size)).collect()
    assert(sizes.length == 7 && sizes.contains(0), s"fixture: partition sizes ${sizes.mkString(", ")}")
    // 48 rows over three distinct vectors: most cells and codes draw no
    // row and keep their previous centroid
    val three = corpus.select("embedding").limit(3).collect().map(_.getSeq[Float](0)).toSeq
    val repeated = corpus.orderBy("vec_id").limit(48)
      .withColumn("embedding", element_at(typedLit(three), (col("vec_id") % 3 + 1).cast("int")))
    for ((name, c, ref) <- Seq(("as read", corpus, corpus), ("7 partitions", sevenWay, corpus),
        ("3 distinct vectors", repeated, repeated))) {
      val cent = refCodebook(ref)
      val trained = Ann.trainCodebook(c, Ann.IvfIters)
      assert(java.util.Arrays.equals(trained, cent), s"$name: the IVF codebook differs from the reference")
      assert(java.util.Arrays.equals(Ann.trainPqCodebooks(spark, c, trained), refPqCodebooks(ref, cent)),
        s"$name: the PQ codebooks differ from the reference")
    }
  }

  /** Int8 quantization costs 4× less memory; this pins what it costs
    * in ANSWER quality. 127 levels over a 64-dim unit-ish vector
    * perturbs each cosine by ~1e-3 — far below the corpus's typical
    * neighbor gaps — so top-5 should match the float path nearly
    * everywhere, and every quantized cosine must sit near its exact
    * value.
    */
  test("quantized ANN: top-5 recall vs exact ≥ 0.9 and cosines within 0.02") {
    val brute = Ann.qAnnBruteforce(spark, sf0001).collect()
    val exactSets = topSets(brute)
    val exactCos = brute.map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    val qrows = Ann.qAnnQuantized(spark, sf0001).collect()
    val qSets = topSets(qrows)
    val recalls = exactSets.map { case (q, bs) =>
      qSets.getOrElse(q, Set.empty).intersect(bs).size.toDouble / bs.size
    }
    val recall = recalls.sum / recalls.size
    info(f"int8 recall@5 over ${exactSets.size} queries: $recall%.3f")
    assert(recall >= 0.9, f"int8 rounding should barely move top-5, got $recall%.3f")
    qrows.foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      exactCos.get(key).foreach { e =>
        assert(math.abs(r.getDouble(3) - e) <= 0.02,
          s"pair $key: quantized cosine ${r.getDouble(3)} vs exact $e")
      }
    }
  }

  /** The PQ kernels must agree with a driver-side reference: codes
    * are the per-subspace L2 argmin (lowest id on ties), the ADC
    * lookup over a query LUT reconstructs Σ_m q_m·c_{m,code_m}, and
    * the served result's recall floor holds (rerank restores exact
    * order, so final recall = shortlist hit rate).
    */
  test("PQ: codes are subspace L2 argmins; ADC lookup = reconstructed dot; reranked recall ≥ 0.9") {
    import graft.functions.VectorFunctions
    val (corpus, _) = Ann.split(spark, sf0001)
    val cb = Ann.sessionPqCodebooks(spark, sf0001, corpus)
    val m = Ann.PqM; val dsub = Ann.PqDsub
    val ks = cb.length / (m * dsub)
    // driver-side reference on a handful of vectors
    val sample = corpus.limit(16)
      .select(org.apache.spark.sql.functions.col("vec_id"),
        org.apache.spark.sql.functions.col("embedding"),
        VectorFunctions.pqCodes(org.apache.spark.sql.functions.col("embedding"),
          cb.toSeq, m, dsub).as("codes"))
      .collect()
    sample.foreach { r =>
      val emb = r.getSeq[Float](1).toArray
      val codes = r.getSeq[Byte](2).toArray
      for (mm <- 0 until m) {
        val dists = (0 until ks).map { t =>
          var acc = 0.0
          for (i <- 0 until dsub) {
            val d = cb((mm * ks + t) * dsub + i) - emb(mm * dsub + i).toDouble
            acc += d * d
          }
          acc
        }
        val ref = dists.zipWithIndex.minBy { case (d, t) => (d, t) }._2
        assert((codes(mm) & 0xff) === ref,
          s"vec ${r.getLong(0)} subspace $mm: code ${codes(mm) & 0xff} != argmin $ref")
      }
      // ADC identity: lut lookup == Σ_m dot(q_m, c_{m, code_m}) for q = emb itself
      val lutRow = corpus.filter(org.apache.spark.sql.functions.col("vec_id") === r.getLong(0))
        .select(VectorFunctions.adcLookup(
          VectorFunctions.pqLut(org.apache.spark.sql.functions.col("embedding"), cb.toSeq, m, dsub),
          VectorFunctions.pqCodes(org.apache.spark.sql.functions.col("embedding"), cb.toSeq, m, dsub)))
        .collect()(0).getDouble(0)
      var refDot = 0.0
      for (mm <- 0 until m) {
        val t = codes(mm) & 0xff
        var acc = 0.0
        for (i <- 0 until dsub)
          acc += cb((mm * ks + t) * dsub + i) * emb(mm * dsub + i).toDouble
        refDot += acc
      }
      assert(math.abs(lutRow - refDot) < 1e-9,
        s"vec ${r.getLong(0)}: ADC lookup $lutRow != reconstructed dot $refDot")
    }
    // recall floor of the reranked serve
    val exactSets = topSets(Ann.qAnnBruteforce(spark, sf0001).collect())
    val pqSets = topSets(Ann.qAnnPq(spark, sf0001).collect())
    val recalls = exactSets.map { case (q, bs) =>
      pqSets.getOrElse(q, Set.empty).intersect(bs).size.toDouble / bs.size
    }
    val recall = recalls.sum / recalls.size
    info(f"PQ reranked recall@5 over ${exactSets.size} queries: $recall%.3f")
    assert(recall >= 0.9,
      f"ADC shortlist + exact rerank should recover ≥0.9 of exact top-5, got $recall%.3f")
    // cached codebooks are bit-deterministic (the sessionCodebook contract)
    assert(java.util.Arrays.equals(cb,
      Ann.trainPqCodebooks(spark, corpus, Ann.sessionCodebook(spark, sf0001, corpus))),
      "cached PQ codebooks must equal a fresh deterministic retrain")
  }

  test("q_embed_centroid: bit-exact against a driver-side fixed-point recompute") {
    val rows = Ann.qEmbedCentroid(spark, sf0001).collect()
      .map(r => ((r.getInt(0), r.getInt(1)), (r.getLong(2), r.getLong(3), r.getDouble(4))))
      .toMap
    val vecs = graft.sources.Ingest.table(spark, sf0001, "embeddings")
      .select("label", "embedding").collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1)))
    assert(rows.keySet.map(_._2) === (1 to 64).toSet, "all 64 dims present")
    val byLabel = vecs.groupBy(_._1)
    byLabel.foreach { case (label, vs) =>
      // round half AWAY FROM ZERO (what Spark's round() and DuckDB's
      // round() both do) — math.round alone is floor(x+0.5), which
      // disagrees on negative halves
      val dim1 = vs.map { v =>
        val x = v._2.head.toDouble * 1048576L
        math.signum(x).toLong * math.round(math.abs(x))
      }
      val (n, sumFp, centroid) = rows((label, 1))
      assert(n === vs.length.toLong)
      assert(sumFp === dim1.sum, s"label $label dim 1: integer sum must match exactly")
      assert(centroid === sumFp.toDouble / (n * 1048576L).toDouble,
        "single-division reconstruction must be bit-identical")
    }
  }

  /** Tiny embeddings table on disk for the cluster-quality audit. */
  private def embDir(rows: Seq[(Long, Seq[Float], Int)]): String = {
    val dir = tempDir("emb")
    val s = spark
    import s.implicits._
    rows.toDF("vec_id", "embedding", "label")
      .selectExpr("vec_id", "CAST(embedding AS ARRAY<FLOAT>) AS embedding",
        "CAST(label AS INT) AS label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }

  test("q_cluster_quality: exact fixed-point recompute on a hand corpus") {
    val Fp = 1048576L
    val vecs = Seq(
      (1L, Seq(0.0f, 0.0f), 0),
      (2L, Seq(0.2f, 0.0f), 0),
      (3L, Seq(1.0f, 0.0f), 1),
      (4L, Seq(0.8f, 0.0f), 1))
    val d = embDir(vecs)
    // mirror the pipeline: f = round-half-away(v * Fp), c = sum DIV n
    def fp(x: Float): Long = {
      val s = x.toDouble * Fp
      math.signum(s).toLong * math.round(math.abs(s))
    }
    val cents = vecs.groupBy(_._3).view.mapValues { vs =>
      Seq(0, 1).map(i => vs.map(v => fp(v._2(i))).sum / vs.length)
    }.toMap
    def d2(v: Seq[Float], c: Seq[Long]): Long =
      v.zip(c).map { case (x, cc) => val dx = fp(x) - cc; dx * dx }.sum
    val got = Ann.qClusterQuality(spark, d).collect()
      .map(r => r.getInt(0) -> r).toMap
    assert(got.keySet === Set(0, 1))
    for (cl <- Seq(0, 1)) {
      val members = vecs.filter(_._3 == cl)
      val within = members.map(v => d2(v._2, cents(cl)))
      val margins = members.map { v =>
        val a = d2(v._2, cents(cl)); val b = d2(v._2, cents(1 - cl))
        ((b - a) * 1000L) / b
      }
      assert(got(cl).getLong(1) === 2L, s"cluster $cl size")
      assert(got(cl).getLong(2) === within.sum / 2L, s"cluster $cl mean_within")
      assert(got(cl).getLong(3) === 0L, s"cluster $cl misassigned")
      assert(got(cl).getLong(4) === 2L, s"cluster $cl margin count")
      assert(got(cl).getLong(5) === margins.sum / 2L, s"cluster $cl mean margin")
    }
  }

  test("q_embed_outlier: a far vector trips the 3-MAD fence; tight cluster stays clean") {
    val d = embDir(Seq(
      (1L, Seq(0.0f, 0.0f), 0),
      (2L, Seq(0.01f, 0.0f), 0),
      (3L, Seq(-0.01f, 0.0f), 0),
      (4L, Seq(0.02f, 0.0f), 0),
      (5L, Seq(0.5f, 0.0f), 0))) // corrupt: far from the tight mass
    val r = Ann.qEmbedOutlier(spark, d).collect()
    assert(r.length === 1 && r(0).getInt(0) === 0)
    assert(r(0).getLong(1) === 5L)
    assert(r(0).getLong(4) === 1L, "exactly the far vector is beyond 3 MADs")
    assert(r(0).getDouble(2) >= 0.0 && r(0).getDouble(3) >= 0.0)
  }

  test("q_cluster_quality: single-label corpus has NULL margins, not a crash") {
    val d = embDir(Seq(
      (1L, Seq(0.1f, 0.2f), 7),
      (2L, Seq(0.3f, 0.1f), 7)))
    val r = Ann.qClusterQuality(spark, d).collect()
    assert(r.length === 1 && r(0).getInt(0) === 7)
    assert(r(0).getLong(1) === 2L && r(0).getLong(4) === 0L)
    assert(r(0).isNullAt(5), "no runner-up centroid -> NULL mean margin")
  }

  test("q_ann_probe_curve: recall is monotone in probes and full-probe recall is total") {
    val rows = Ann.qAnnProbeCurve(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).sortBy(_._1)
    assert(rows.map(_._1).toSeq === Seq(1L, 2L, 4L, 6L))
    assert(rows.map(_._2).distinct.size === 1, "one shared brute-force baseline")
    // more probed cells can only add candidates: hits never decrease
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a._3 <= b._3, s"recall must be monotone: probes ${a._1}->${b._1}")
    }
    // probing ALL 16 cells is exact by construction; the deployed
    // 6-probe point must already recover a usable majority
    assert(rows.last._4 >= 500000L,
      s"deployed probe point recovers ${rows.last._4} ppm — the curve knee moved")
    assert(rows.head._3 >= 1L, "even 1 probe finds the query's own cell neighbors")
  }

  test("q_lsh_probe_curve: multi-probe recall is monotone; the deployed point holds its floor") {
    val rows = Ann.qLshProbeCurve(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).sortBy(_._1)
    assert(rows.map(_._1).toSeq === Seq(1L, 2L, 3L, 6L))
    assert(rows.map(_._2).distinct.size === 1, "one shared brute-force baseline")
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a._3 <= b._3, s"multi-probe recall must be monotone: ${a._1}->${b._1}")
    }
    assert(rows(2)._4 >= 500000L,
      s"deployed 3-probe point recovers ${rows(2)._4} ppm — the curve knee moved")
  }
}
