package graft

import graft.operators.Audit

/** Data-audit battery: invariants the DuckDB hash compare already
  * enforces are not repeated here — these pin the SEMANTICS (profile
  * self-consistency, constraint-gate firing behavior, MAD robustness
  * properties) on sf0.001.
  */
class AuditSpec extends SparkSpec {

  test("q_profile: per-column rows agree on n_rows; key column is a dense unique key") {
    val rows = Audit.qProfile(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4), r.getString(5)))
    assert(rows.length === 6, "one profile row per profiled column")
    val nRows = rows.map(_._2).distinct
    assert(nRows.length === 1, s"all branches must count the same table: $nRows")
    rows.foreach { case (name, n, nNull, nDistinct, mn, mx) =>
      assert(nNull >= 0 && nDistinct <= n, s"$name: 0 ≤ nulls, distinct ≤ rows")
      assert(mn != null && mx != null, s"$name: min/max must stringify")
    }
    val Some(ok) = rows.find(_._1 == "o_orderkey")
    assert(ok._3 === 0L && ok._4 === ok._2,
      "o_orderkey: no nulls, distinct == rows (surrogate key contract)")
  }

  test("q_constraint_check: structural constraints clean, date-range gate fires") {
    val rows = Audit.qConstraintCheck(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(rows.map(_._1) === Seq("custkey_fk", "orderdate_in_range",
      "orderkey_not_null", "orderkey_unique", "status_domain", "totalprice_positive"))
    assert(rows.map(_._3).distinct.length === 1, "n_rows constant across constraints")
    val v = rows.map(r => r._1 -> r._2).toMap
    Seq("custkey_fk", "orderkey_not_null", "orderkey_unique",
      "status_domain", "totalprice_positive").foreach { c =>
      assert(v(c) === 0L, s"$c must be clean on generated data")
    }
    // Generated dates run 1995-2001; the 1992-1998 policy window must
    // actually FIRE — a gate that never fires proves nothing.
    assert(v("orderdate_in_range") > 0L, "date-range constraint must detect the 1999+ tail")
    assert(v("orderdate_in_range") < rows.head._3, "…but not flag every row")
  }

  test("q_mad_outlier: median/MAD within domain, outlier fence behaves") {
    val rows = Audit.qMadOutlier(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, med, mad, out) = (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getLong(4))
      assert(med >= 1.0 && med <= 50.0, "l_quantity domain is [1,50]")
      assert(mad >= 0.0 && mad <= 50.0)
      assert(out >= 0L && out <= n)
      // 3-MAD fence on a bounded near-uniform domain: an outlier count
      // over half the group would mean the fence collapsed.
      assert(out < n / 2, s"fence sanity: $out of $n flagged")
    }
  }

  test("q_reconcile: exact / within-1pct / mismatch / headless orders classified") {
    val s = spark
    import s.implicits._
    val dir = tempDir("recon")
    // one line each, discount/tax zero -> recomputed = extendedprice
    Seq(
      (1L, 100.00, "A"),  // stored = recomputed: exact
      (2L, 100.00, "A"),  // stored 100 vs recomputed 100.50: within 1%
      (3L, 100.00, "B"),  // stored 100 vs recomputed 150: mismatch
      (4L, 42.00, "B"))   // headless: no line items
      .toDF("o_orderkey", "o_totalprice", "o_orderstatus")
      .selectExpr("o_orderkey", "CAST(1 AS BIGINT) AS o_custkey", "o_orderstatus",
        "o_totalprice", "TIMESTAMP '1995-01-01' AS o_orderdate",
        "'1-URGENT' AS o_orderpriority")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    Seq(
      (1L, 100.00), (2L, 100.50), (3L, 150.00))
      .toDF("l_orderkey", "l_extendedprice")
      .selectExpr("l_orderkey", "CAST(1 AS BIGINT) AS l_partkey",
        "CAST(1 AS BIGINT) AS l_suppkey", "CAST(1 AS INT) AS l_linenumber",
        "CAST(1 AS DOUBLE) AS l_quantity", "l_extendedprice",
        "CAST(0 AS DOUBLE) AS l_discount", "CAST(0 AS DOUBLE) AS l_tax",
        "'N' AS l_returnflag", "'O' AS l_linestatus",
        "TIMESTAMP '1995-02-01' AS l_shipdate")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val got = graft.operators.Audit.qReconcile(spark, dir).collect()
      .map(r => r.getString(0) -> r).toMap
    val a = got("A")
    assert(a.getLong(1) === 2L && a.getLong(2) === 0L)
    assert(a.getLong(3) === 1L, "order 1 is the exact match")
    assert(a.getLong(4) === 2L, "orders 1 and 2 are within 1%")
    assert(a.getDouble(5) === 0.50 && a.getDouble(6) === 0.50)
    val b = got("B")
    assert(b.getLong(1) === 2L && b.getLong(2) === 1L, "order 4 is headless")
    assert(b.getLong(3) === 0L && b.getLong(4) === 0L)
    assert(b.getDouble(5) === 50.0 && b.getDouble(6) === 50.0)
  }
}
