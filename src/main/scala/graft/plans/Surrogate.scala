package graft.plans

import org.apache.spark.sql.{DataFrame, GraftBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, JoinedRow}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Scale-safe deterministic surrogate-key assignment.
  *
  * The reference's `id SERIAL` / `ROW_NUMBER() OVER (ORDER BY …)`
  * (ref dags/ELT.py:104, :195) is a *global* ordering — a naive Spark
  * `Window.orderBy` funnels the whole table through one partition,
  * which stalls/OOMs at 100 TB. This helper produces the identical
  * rank with a distributed plan: range-repartition + in-partition sort
  * on the order columns (partitions hold disjoint, ordered key
  * ranges), then `zipWithIndex` for the global index.
  *
  * Why `zipWithIndex` and not a two-branch DataFrame formulation
  * (per-partition counts aggregated in a side branch, joined back as
  * offsets): the side branch REPEATS the range exchange as a separate
  * subtree, and RangePartitioner samples its boundaries with a seed
  * derived from the physical RDD's id — two independent
  * materializations of the same logical `repartitionByRange` may pick
  * DIFFERENT boundaries, making the counts describe partitions the
  * ids were never assigned in (silently wrong ranks). Exchange/stage
  * reuse does not reliably rescue it: column pruning narrows the side
  * branch's exchange to the order columns, the two exchanges stop
  * being canonically equal, and AQE materializes both (observed on
  * Spark 4.1: two live `ShuffleQueryStage`s, zero reuse nodes).
  *
  * `zipWithIndex` is immune by construction: its eager count job and
  * the numbering job run over the SAME RDD instance — one
  * ShuffleDependency, one RangePartitioner with boundaries sampled
  * once on the driver — and the DAGScheduler serves both jobs from
  * the one materialized shuffle stage. Counts always describe exactly
  * the partitions the ids are assigned in, under any config. The
  * numbering zips the plan's own Catalyst rows (`queryExecution.toRdd`)
  * and appends the id with a [[JoinedRow]], so no row is converted to
  * an external `Row` and back; the result re-enters Catalyst through
  * [[GraftBridge.internalCreateDataFrame]].
  *
  * Determinism: the in-partition sort is total (callers pass a unique
  * ordering key), so shuffle-fetch order cannot perturb row order,
  * and the assigned value equals the global rank of the order columns
  * regardless of where the sampled boundaries fell.
  *
  * The range shuffle is the plan's ONLY exchange; no window and no
  * single-partition stage ever sees the raw data (SurrogateSpec pins
  * both the rank equality and the plan shape).
  */
object Surrogate {

  /** Append `name` = 1-based global rank of `orderCols` (must form a
    * unique key for a deterministic assignment).
    *
    * `df`'s plan runs more than once: in the range-sample pass that
    * picks the partition boundaries, again in a re-sample of any skewed
    * input partition, and finally in the shuffle-map stage. Callers
    * should therefore rank the narrowest raw rows and apply per-row
    * projections (casts, formats, regexps) to the ranked result.
    */
  def rankedId(df: DataFrame, orderCols: Seq[String], name: String): DataFrame = {
    val sorted = df
      .repartitionByRange(orderCols.map(col): _*)
      .sortWithinPartitions(orderCols.map(col): _*)
    val schema = sorted.schema.add(name, LongType, nullable = false)
    val rows = sorted.queryExecution.toRdd.zipWithIndex.mapPartitions[InternalRow] { it =>
      val id = new GenericInternalRow(1)
      val joined = new JoinedRow
      it.map { case (r, i) => id.setLong(0, i + 1L); joined(r, id) }
    }
    GraftBridge.internalCreateDataFrame(df.sparkSession, rows, schema)
      .select(df.columns.map(col) :+ col(name): _*)
  }
}
