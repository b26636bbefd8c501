package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession

/** The codegen settings [[GraftSession]] sets: a `newSession()` runs
  * the generated classes its parent session compiled, instead of
  * compiling them again under a class loader of its own. */
class CodegenSpec extends SparkSpec {

  /** Generated classes janino compiled in this JVM so far (the local
    * executor shares the counter with the driver). */
  private def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("a codegen'd query compiles in spark and adds no compile in spark.newSession()") {
    // constants no other suite uses, so the first run compiles here
    def query(s: SparkSession) = s.range(0, 20000, 1, 4)
      .selectExpr("id % 7919 AS k", "id * 3 + 104729 AS v")
      .groupBy("k").agg(org.apache.spark.sql.functions.sum("v").as("s"))
      .orderBy("k")
    val before = compiles()
    val first = query(spark).collect()
    val afterFirst = compiles()
    val second = query(spark.newSession()).collect()
    val afterSecond = compiles()
    info(s"compiles: first session ${afterFirst - before}, newSession() ${afterSecond - afterFirst}")
    assert(afterFirst > before, "the query must run generated code")
    assert(afterSecond === afterFirst,
      "a newSession() must reuse the classes its parent session compiled")
    assert(second.toSeq === first.toSeq)
  }
}
