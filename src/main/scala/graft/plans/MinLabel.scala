package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.plans.Materialize._

/** Min-label propagation: the one connected-components device.
  *
  * Input is a SYMMETRIC edge list `(src, dst)` (every edge in both
  * directions). Every node starts labeled with its own id; each round
  * it takes the minimum of its label and its neighbors' labels. After k
  * rounds a label has travelled k hops, so the fixpoint — every node
  * labeled by the minimum id of its component — needs about diameter
  * rounds. Pure integer MIN: associative, partial-aggregated, and
  * bit-reproducible in any engine.
  *
  * Round 1 against identity labels is just `least(src, min(dst))` per
  * `src`, one partial-aggregated shuffle with no join. Each later round
  * is one edges⋈labels join with a min-aggregate on `dst`, then a left
  * merge into the previous labels (a node with no labeled neighbor
  * keeps its label).
  *
  * Every round is [[Materialize]]d and its moved count is read from
  * that checkpoint. The label table feeds both the next round's join
  * and its merge, so without a per-round cut the unrolled plan embeds
  * each round's subtree twice: 2^rounds duplication. The label table
  * is node-sized, so the checkpoint is a small job; GraphX/Pregel cut
  * lineage per superstep for the same reason.
  *
  * Stop rule: after the first round in which no label moved, or after
  * `maxRounds` rounds. Labels only fall, and a round is a function of
  * the previous round's labels alone, so a round that moved nothing
  * hands the next round the same input and nothing can move again: a
  * zero count certifies the labels are the fixpoint. A nonzero last
  * count says the bound stopped the run early; the caller decides
  * whether that is an error or a reported state.
  *
  * @return the labels `(nd, lab)` and the moved count of each round
  *         run (at least 1, at most `maxRounds`; only the last can be
  *         zero).
  */
object MinLabel {

  def apply(edges: DataFrame, maxRounds: Int): (DataFrame, Seq[Long]) = {
    // (nd, lab, nlab) -> checkpointed (nd, lab) and the count that moved
    def round(merged: DataFrame): (DataFrame, Long) = {
      val m = merged.select(col("nd"),
          least(col("lab"), coalesce(col("nlab"), col("lab"))).as("lab"),
          (col("nlab") < col("lab")).as("moved"))
        .materialized
      (m.select(col("nd"), col("lab")), m.filter(col("moved")).count())
    }
    val (seed, seedMoved) = round(edges.groupBy(col("src").as("nd"))
      .agg(min(col("dst")).as("nlab")).withColumn("lab", col("nd")))
    var lab = seed
    val moved = scala.collection.mutable.ArrayBuffer(seedMoved)
    while (moved.last > 0 && moved.length < maxRounds) {
      val nbr = edges.join(lab, edges("src") === lab("nd"))
        .groupBy(col("dst").as("nd")).agg(min(col("lab")).as("nlab"))
      val (next, n) = round(lab.join(nbr, Seq("nd"), "left"))
      lab = next
      moved += n
    }
    (lab, moved.toSeq)
  }
}
