package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.plans.SlotFold

class SlotFoldSpec extends SparkSpec {

  private def fold(rows: DataFrame, n: Int): Array[Long] =
    SlotFold(rows.select(col("slot").cast("int"), col("v").cast("long")), n) { (r, acc) =>
      SlotFold.add(acc, r.getInt(0), r.getLong(1))
    }

  test("SlotFold: the same slot sums at any partitioning; an overflow throws instead of wrapping") {
    val rows = spark.range(0, 1000).select((col("id") % 5).as("slot"), col("id").as("v"))
    val expected = (0L until 1000L).groupBy(_ % 5).toSeq.sortBy(_._1).map(_._2.sum)
    assert(fold(rows, 5).toSeq === expected)
    // 7 partitions, at least two of them empty
    assert(fold(rows.repartition(7, col("slot")), 5).toSeq === expected)
    def overflowed(e: Throwable): Boolean =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null).exists(_.isInstanceOf[ArithmeticException])
    // two maximal values in one partition's fold, then one in each of
    // two partitions, overflowing the merge
    for (parts <- Seq(1, 2)) {
      val big = spark.range(0, 2, 1, parts).select(lit(0).as("slot"), lit(Long.MaxValue).as("v"))
      val e = intercept[Exception](fold(big, 1))
      assert(overflowed(e), s"$parts partitions: expected an ArithmeticException, got $e")
    }
  }
}
