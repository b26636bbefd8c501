package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow

/** Fold rows into a model-sized long array: the one device for an
  * iterative trainer whose state between rounds is a few thousand
  * integer slots held on the driver.
  *
  * Each partition folds its Catalyst rows into its own `n`-slot array
  * (the caller's `fold` reads a row and adds into slots); the partial
  * arrays tree-merge slot by slot into one. It is ONE job with no
  * shuffle at this size; over many partitions `treeAggregate`'s levels
  * merge on the executors before the driver sees the last few. The
  * rows are never collected, so the pass costs the same at any corpus
  * size and its result is bounded by `n`, never by the data.
  *
  * Integer addition is associative and commutative, so the result is
  * bit-identical at any partitioning and merge order, as long as no
  * sum overflows. An overflow is a failure, never a wrap: [[add]] and
  * the merge use `Math.addExact`, which throws `ArithmeticException`,
  * as the grouped ANSI `sum` this replaces did. Folds add only through
  * [[add]].
  *
  * The row a `fold` sees is reused by the scan: read what it needs,
  * keep no reference to it.
  */
object SlotFold {

  def apply(rows: DataFrame, n: Int)(fold: (InternalRow, Array[Long]) => Unit): Array[Long] =
    rows.queryExecution.toRdd.treeAggregate(new Array[Long](n))(
      (acc, r) => { fold(r, acc); acc },
      (a, b) => {
        var i = 0
        while (i < n) { add(a, i, b(i)); i += 1 }
        a
      })

  /** `acc(i) += v`, throwing `ArithmeticException` on overflow. */
  def add(acc: Array[Long], i: Int, v: Long): Unit = acc(i) = Math.addExact(acc(i), v)
}
