package graft

import org.apache.spark.sql.functions._

import graft.plans.Materialize

/** The materialization switch: eager localCheckpoint by default,
  * reliable checkpoint (survives executor loss) when
  * `spark.graft.checkpoint.reliable=true` — the production setting for
  * preemptible / 1000-executor clusters, where a lost executor takes
  * its localCheckpoint blocks with it and (lineage being truncated)
  * forces a whole-job retry.
  */
class MaterializeSpec extends SparkSpec {

  private def resetConf(): Unit = {
    spark.conf.unset(Materialize.ReliableKey)
    spark.conf.unset(Materialize.DirKey)
  }

  test("default mode localCheckpoints: no checkpoint files, same rows, lineage truncated") {
    resetConf()
    val df = spark.range(100).select(col("id"), (col("id") % 7).as("k"))
    val m = Materialize(df)
    assert(m.rdd.isCheckpointed || m.rdd.getCheckpointFile.isEmpty,
      "local mode must not write to a reliable checkpoint dir")
    assert(m.queryExecution.optimizedPlan.collectLeaves().exists(
      _.getClass.getSimpleName == "LogicalRDD"),
      "materialization must truncate lineage to a scanned RDD")
    assert(m.groupBy(col("k")).count().count() === 7)
  }

  test("reliable mode without a checkpoint dir fails fast with the config hint") {
    spark.conf.set(Materialize.ReliableKey, "true")
    // note: setCheckpointDir is sticky on the context, so this must run
    // before any test that configures one; the guard keeps it honest
    try {
      if (spark.sparkContext.getCheckpointDir.isEmpty) {
        val e = intercept[IllegalArgumentException] {
          Materialize(spark.range(10).toDF())
        }
        assert(e.getMessage.contains(Materialize.DirKey))
      }
    } finally resetConf()
  }

  test("an operator runs end-to-end under reliable mode with identical results") {
    // the switch must be transparent to real query plans, not just toy
    // frames: q_vocab_coverage exercises a materialization feeding both
    // a driver collect (TakeOrdered top-k) and the main aggregate
    val expected = operators.TextOps.qVocabCoverage(spark, sf0001)
      .orderBy(col("k")).collect().toSeq
    val dir = tempDir("ckpt-e2e")
    spark.conf.set(Materialize.ReliableKey, "true")
    spark.conf.set(Materialize.DirKey, dir)
    try {
      val got = operators.TextOps.qVocabCoverage(spark, sf0001)
        .orderBy(col("k")).collect().toSeq
      assert(got === expected, "reliable materialization must not change results")
    } finally resetConf()
  }

  test("reliable mode writes a real checkpoint under the configured dir and returns equal rows") {
    val dir = tempDir("ckpt")
    spark.conf.set(Materialize.ReliableKey, "true")
    spark.conf.set(Materialize.DirKey, dir)
    try {
      val df = spark.range(1000).select(col("id"), (col("id") * 3 % 11).as("k"))
      val m = Materialize(df)
      // eager + reliable: files exist under the dir as soon as apply returns
      def files(p: java.io.File): Seq[java.io.File] = {
        val kids = Option(p.listFiles()).map(_.toSeq).getOrElse(Seq.empty)
        kids.filter(_.isFile) ++ kids.filter(_.isDirectory).flatMap(files)
      }
      assert(files(new java.io.File(dir)).nonEmpty,
        s"reliable checkpoint must persist blocks under $dir")
      // (Dataset.rdd derives a fresh RDD, so the checkpoint handle isn't
      // visible there — the persisted files above are the proof)
      assert(m.queryExecution.optimizedPlan.collectLeaves().exists(
        _.getClass.getSimpleName == "LogicalRDD"),
        "materialization must truncate lineage to a scanned RDD")
      // contents identical to the uncheckpointed computation
      assert(m.orderBy(col("id")).collect().toSeq ===
        df.orderBy(col("id")).collect().toSeq)
    } finally resetConf()
  }

}
