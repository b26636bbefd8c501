package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (getOrCreate — one JVM, one
  * SparkContext across the forked test run).
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = GraftSession.local(4)

  private val tempDirs = scala.collection.mutable.ArrayBuffer.empty[java.io.File]

  /** A new `graft-<tag>…` directory in the JVM temp dir, deleted with
    * everything under it when the suite ends. */
  def tempDir(tag: String): String = tempDirs.synchronized {
    val dir = java.nio.file.Files.createTempDirectory(s"graft-$tag").toFile
    tempDirs += dir
    dir.toString
  }

  override def afterAll(): Unit =
    try tempDirs.foreach(org.apache.commons.io.FileUtils.deleteQuietly)
    finally super.afterAll()
  val sf0001 = "/root/testdata/sf0.001"
  /** The 10× fixture — derive from here, never hard-code (ADVICE r14). */
  val sf001 = "/root/testdata/sf0.01"

  /** Write a tiny documents table into a temp sf-layout dir. */
  def docsDir(rows: Seq[(Long, String)]): String = {
    val dir = tempDir("docs")
    val s = spark
    import s.implicits._
    rows.toDF("doc_id", "text")
      .selectExpr("doc_id", "text", "'en' AS lang", "'src' AS source",
        "CAST(length(text) AS BIGINT) AS n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }
}
