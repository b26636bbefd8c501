package graft.plans

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Whole-artifact publish: THE device every rebuild of a persisted
  * artifact (corpus root and its manifest / lane tables, the near-dup
  * signature index root, IVF / LSH / IVF-PQ index roots, the TextOps
  * model tables, `Ingest.compact` rewrites) goes through, so a reader
  * never sees a half-written artifact.
  *
  * Protocol, for a target path `t`:
  *   1. '''recover''' `t` (below), which also deletes any stale staging;
  *   2. '''stage''': the caller writes the complete new artifact into
  *      the sibling [[tmpOf]]`(t)`;
  *   3. '''swap''' with two renames: `t` → [[oldOf]]`(t)` (skipped when
  *      `t` does not exist yet), then `tmpOf(t)` → `t`; then delete
  *      `oldOf(t)`.
  *
  * The commit point is rename 2 COMPLETING. Anything before it is an
  * uncommitted publish, so the original wins a torn swap: a failed
  * rename 2 renames the parked original back, and a process killed
  * between the renames leaves `t` absent with the original parked at
  * `oldOf(t)`, which recovery renames back. A kill after rename 2
  * leaves the new `t` plus a stale `oldOf(t)`, which recovery deletes.
  * A leftover `tmpOf(t)` is garbage in every state and is deleted.
  * Recovery needs only the target (the staging names derive from it),
  * is idempotent, and runs at the top of every entry point that reads
  * a published artifact ([[read]] for single-table artifacts).
  *
  * Streamed batches (the increments of the IVF, LSH and IVF-PQ
  * indexes, of the novelty hash index and of the near-dup signature
  * index) are published the same way, each as its own target
  * [[batchOf]]`(root, id)` = `<root>/stream/batch-%09d` holding the
  * same tables as the resident root. A batch is committed iff its
  * directory exists under its own name, and a replay is another
  * publish of the same batch. Readers list batches through [[batches]],
  * which recovers first, and read a table across the root and its
  * batches through [[roots]] and [[readRoots]]. A rebuild publishes the
  * whole root, which retires `<root>/stream` in its swap.
  * Recovery assumes no publish of the same target is in flight: run
  * beside one, it deletes the staging that publish is writing.
  *
  * Staging is a sibling OUTSIDE the target, so the published tree
  * never holds it. The swap is two renames, not one: a reader racing
  * it can briefly see no target at all. True atomic replacement needs
  * a level of indirection (a catalog entry, a manifest or a pointer
  * flip), which at scale is a table format's commit protocol; this is
  * the rewrite step under one.
  */
object Publish {

  /** Sibling the new artifact is staged into. */
  def tmpOf(target: String): String = target + ".publish.tmp"

  /** Sibling the previous artifact is parked at during the swap. */
  def oldOf(target: String): String = target + ".publish.old"

  private def fsOf(s: SparkSession, p: Path): FileSystem =
    p.getFileSystem(s.sparkContext.hadoopConfiguration)

  /** Recover `target`, let `write` stage the new artifact into the path
    * it is given ([[tmpOf]]`(target)`, absent on entry), and swap it in.
    * Returns what `write` returns. */
  def apply[T](s: SparkSession, target: String)(write: String => T): T = {
    recover(s, target)
    val (dst, tmp, old) = (new Path(target), new Path(tmpOf(target)), new Path(oldOf(target)))
    val out = write(tmp.toString)
    val fs = fsOf(s, dst)
    if (fs.exists(dst) && !fs.rename(dst, old))
      throw new java.io.IOException(s"publish: cannot park $dst at $old")
    if (!fs.rename(tmp, dst)) {
      if (fs.exists(old)) fs.rename(old, dst) // the original wins
      throw new java.io.IOException(s"publish: cannot rename $tmp to $dst")
    }
    fs.delete(old, true)
    out
  }

  /** Finish or roll back an interrupted swap of `target` and delete its
    * staging (see the protocol above). */
  def recover(s: SparkSession, target: String): Unit = {
    val (dst, tmp, old) = (new Path(target), new Path(tmpOf(target)), new Path(oldOf(target)))
    val fs = fsOf(s, dst)
    if (fs.exists(old)) {
      if (fs.exists(dst)) fs.delete(old, true)
      else if (!fs.rename(old, dst))
        throw new java.io.IOException(s"recover: cannot rename $old back to $dst")
    }
    fs.delete(tmp, true)
  }

  /** Target of streamed batch `id` under the artifact `root`. */
  def batchOf(root: String, id: Long): String = f"$root/stream/batch-$id%09d"

  private val BatchName = """batch-(\d+)(\.publish\.(?:tmp|old))?""".r

  /** The committed streamed batches under `root` as (id, path), in id
    * order. A batch found with a staging sibling is recovered first. */
  def batches(s: SparkSession, root: String): Seq[(Long, String)] = {
    val dir = new Path(s"$root/stream")
    val fs = fsOf(s, dir)
    val found = (if (fs.exists(dir)) fs.listStatus(dir).toSeq else Nil)
      .map(_.getPath.getName).collect { case BatchName(id, staging) => (id.toLong, staging) }
    found.filter(_._2 != null).map(_._1).distinct.foreach(id => recover(s, batchOf(root, id)))
    // after recovery a parked batch is back under its own name
    found.filter(_._2 != ".publish.tmp").map(_._1).distinct.sorted.map(id => id -> batchOf(root, id))
  }

  /** The artifact `root`, recovered first, followed by its committed
    * streamed batches; each holds the same tables. */
  def roots(s: SparkSession, root: String): Seq[String] = {
    recover(s, root)
    root +: batches(s, root).map(_._2)
  }

  /** A table an artifact's own writer produced, read under the schema
    * that writer declares. Spark would otherwise run a footer-reading
    * job to infer it on every read, and throw on a directory with no
    * data files, which reads as empty here. Columns still resolve by
    * name. */
  def readOwn(s: SparkSession, path: String, ddl: String): DataFrame =
    s.read.schema(ddl).parquet(path)

  /** `table` read under `ddl` from every root in `roots`, unioned; no
    * roots read as an empty table. */
  def readRoots(s: SparkSession, roots: Seq[String], table: String, ddl: String): DataFrame =
    roots.map(r => readOwn(s, s"$r/$table", ddl)).reduceOption(_ unionByName _)
      .getOrElse(s.read.schema(ddl).parquet())

  /** A published single-table artifact, recovered first. */
  def read(s: SparkSession, target: String): DataFrame = {
    recover(s, target)
    s.read.parquet(target)
  }
}
