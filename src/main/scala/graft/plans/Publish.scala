package graft.plans

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit, raise_error, when}
import org.apache.spark.sql.types.StructType

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
  * a published artifact ([[read]] for frozen models).
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
  *
  * Frozen models (the TextOps model tables, the IVF and PQ codebooks)
  * are read back under the DDL their writer declares beside them,
  * never a schema inferred from the footers: [[read]] for a model that
  * is its own target, [[readOwn]] for one inside an index root, and
  * [[placeModelRows]] to check a model collected to the driver.
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

  /** The declared model read: the frozen model at `target`, recovered
    * first and read under `ddl`, the layout its writer declares. Under
    * a declared schema a column the files lack reads as nulls, so a
    * null in a column `ddl` marks NOT NULL fails the task that reads
    * it, with an error naming `target` and the column: a model scored
    * on the executors cannot fall back to a default in silence. A model
    * collected to the driver is checked there instead
    * ([[placeModelRows]], [[modelRow]]). No job runs until the result
    * is used. */
  def read(s: SparkSession, target: String, ddl: String): DataFrame = {
    recover(s, target)
    val declared = StructType.fromDDL(ddl)
    readOwn(s, target, ddl).select(declared.fields.toSeq.map { f =>
      if (f.nullable) col(f.name)
      else when(col(f.name).isNull, raise_error(lit(s"model table $target has a null ${f.name}")))
        .otherwise(col(f.name)).as(f.name)
    }: _*)
  }

  /** Place each collected row of a frozen model table at its key:
    * every key must be non-null, in [first, first + n) and present
    * exactly once (keys start at 0 for array positions, at 1 for ranks
    * and rounds), and every `values` column non-null, or the read
    * throws naming `artifact`. A missing row would otherwise leave a
    * hole (or shift every later component), and a renamed column reads
    * back as nulls under a declared schema. Returns the rows in key
    * order. */
  def placeModelRows(artifact: String, rows: Array[Row], key: String, first: Int, n: Int,
      values: String*): Array[Row] = {
    require(rows.length == n, s"model table $artifact has ${rows.length} rows, expected $n")
    val placed = new Array[Row](n)
    rows.foreach { r =>
      requireValues(artifact, r, key +: values)
      val at = r.getAs[Number](key).longValue - first
      require(at >= 0 && at < n,
        s"model table $artifact: $key ${at + first} outside [$first, ${first + n})")
      require(placed(at.toInt) == null, s"model table $artifact: $key ${at + first} appears twice")
      placed(at.toInt) = r
    }
    placed
  }

  /** The one row of a single-row frozen model table, its `values`
    * columns non-null; anything else throws naming `artifact`. */
  def modelRow(artifact: String, rows: Array[Row], values: String*): Row = {
    require(rows.length == 1, s"model table $artifact has ${rows.length} rows, expected 1")
    requireValues(artifact, rows.head, values)
    rows.head
  }

  private def requireValues(artifact: String, r: Row, columns: Seq[String]): Unit =
    columns.foreach(c =>
      require(!r.isNullAt(r.fieldIndex(c)), s"model table $artifact has a null $c: $r"))
}
