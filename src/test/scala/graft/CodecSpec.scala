package graft

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.metadata.CompressionCodecName.{SNAPPY, ZSTD}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.functions._

import graft.operators.Ann
import graft.plans.Publish

/** The parquet codec [[GraftSession]] sets: every file a graft session
  * writes is zstd, and a table whose files mix codecs reads as one. */
class CodecSpec extends SparkSpec {

  /** The codecs of every column chunk of every parquet file under
    * `root`, read from the footers. */
  private def codecsUnder(root: String): Set[CompressionCodecName] = {
    import java.nio.file.{Files, Paths}
    val walk = Files.walk(Paths.get(root))
    val files = try walk.iterator.asScala.map(_.toString).filter(_.endsWith(".parquet"))
      .filter(p => Files.isRegularFile(Paths.get(p))).toList finally walk.close()
    assert(files.nonEmpty, s"no parquet files under $root")
    val conf = spark.sparkContext.hadoopConfiguration
    files.flatMap { f =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(f), conf))
      try reader.getFooter.getBlocks.asScala.flatMap(_.getColumns.asScala.map(_.getCodec))
      finally reader.close()
    }.toSet
  }

  test("every parquet file a graft session writes is zstd, a newSession()'s too") {
    val dir = tempDir("codec")
    spark.range(1000).withColumn("s", concat(lit("v"), col("id").cast("string")))
      .write.parquet(s"$dir/session")
    spark.newSession().range(1000).write.parquet(s"$dir/new-session")
    assert(codecsUnder(s"$dir/session") === Set(ZSTD))
    assert(codecsUnder(s"$dir/new-session") === Set(ZSTD))
  }

  test("an IVF index with a snappy root and a zstd stream batch serves like an all-zstd one") {
    val zstd = tempDir("codec-ivf") + "/zstd"
    val mixed = tempDir("codec-ivf") + "/mixed"
    Ann.buildIvfIndex(spark, sf0001, zstd, col("vec_id") % 7 =!= 0)
    // the same root written snappy, as an index built before the codec change
    Publish(spark, mixed) { tmp =>
      spark.read.parquet(s"$zstd/codebook.parquet")
        .write.option("compression", "snappy").parquet(s"$tmp/codebook.parquet")
      spark.read.parquet(s"$zstd/index.parquet")
        .write.option("compression", "snappy").partitionBy("cell").parquet(s"$tmp/index.parquet")
    }
    val (corpus, _) = Ann.split(spark, sf0001)
    val arrivals = corpus.filter(col("vec_id") % 7 === 0)
    Seq(zstd, mixed).foreach(Ann.ivfUpsertBatch(spark, _, arrivals, 3L))
    assert(codecsUnder(s"$mixed/index.parquet") === Set(SNAPPY))
    assert(codecsUnder(s"$mixed/codebook.parquet") === Set(SNAPPY))
    assert(codecsUnder(Publish.batchOf(mixed, 3L)) === Set(ZSTD))
    assert(codecsUnder(zstd) === Set(ZSTD))
    def rows(root: String) =
      Publish.readRoots(spark, Publish.roots(spark, root), "index.parquet", Ann.FloatRowsDdl)
        .collect().map(r => (r.getLong(0), r.getSeq[Float](1), r.getDouble(2), r.getInt(3))).toSet
    val expected = rows(zstd)
    assert(expected.size === corpus.count())
    assert(rows(mixed) === expected)
    def serve(root: String) = Ann.ivfServe(spark, sf0001, root).collect().toSet
    assert(serve(mixed) === serve(zstd))
  }
}
