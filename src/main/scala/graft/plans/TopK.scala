package graft.plans

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Per-group top-k: the one `ROW_NUMBER() OVER (PARTITION BY … ORDER
  * BY …) <= k` device.
  *
  * It owns the policy every per-group cut shares:
  *   - `row_number`, never `rank` or `dense_rank`: exactly k rows per
  *     group survive, whatever the ties;
  *   - the ordering must end in a unique key of the group (the caller's
  *     tie-break column), so the cut is a function of the data and not
  *     of shuffle-fetch order, and DuckDB's `ROW_NUMBER` agrees with it
  *     row for row;
  *   - the rank is a 1-based BIGINT, the type DuckDB's `ROW_NUMBER`
  *     returns;
  *   - the filter is `rank <= k` on the window's own integer output,
  *     the form Catalyst's `InferWindowGroupLimit` recognizes. Spark
  *     then plans a `WindowGroupLimit … Partial` below the partition
  *     key's hash exchange, so each map task ships at most k rows per
  *     group instead of every row (PlanSpec pins it per served key).
  *
  * Spark plans no partial limit when k is above
  * `spark.sql.optimizer.windowGroupLimitThreshold` (default 1000): the
  * window then sorts every row of every group after the exchange.
  * [[graft.operators.Analytics.cappedBaskets]] (k = `BasketCap` =
  * 1024) is the one caller above it.
  */
object TopK {

  /** Keep each `partitionBy` group's best `k` rows by `orderBy`, with
    * their 1-based rank appended as the BIGINT column `name`. */
  def apply(df: DataFrame, partitionBy: Seq[String], orderBy: Seq[Column], k: Int,
      name: String): DataFrame =
    df.withColumn(name, row_number().over(
        Window.partitionBy(partitionBy.map(col): _*).orderBy(orderBy: _*)))
      .filter(col(name) <= k)
      .withColumn(name, col(name).cast("long"))
}
