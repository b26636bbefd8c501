#!/usr/bin/env python3
"""Local mirror of the driver's DuckDB-oracle correctness gate.

Usage: tools/check_oracle.py [sfdir] [verify_outdir] [json_out]

With json_out set, also writes a CORRECTNESS-style JSON artifact
({query: {status, rows, detail}}) — the committed-sweep format
(CORRECTNESS_SF1.json, VERDICT r14 #6).

For each query dumped by graft.Verify:
  - with an oracle SQL entry: run the SQL in DuckDB over the sf tables,
    sort columns by name, compare row-by-row with EXACT equality
    (mirrors the driver's hash match).
  - without: rows-only check (rows > 0).
A dump DuckDB cannot read (no parquet files, a corrupt footer) marks
that query fail with DuckDB's error and the sweep goes on; the exit
code is 1 if any query failed.
"""
import sys, os, json, glob
import duckdb

sfdir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
outdir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/gverify"
json_out = sys.argv[3] if len(sys.argv) > 3 else None
# CHECK_ONLY=q_a,q_b restricts the compare to named queries (the sf1
# sweep driver uses this to run each oracle under its own timeout).
only = os.environ.get("CHECK_ONLY")
only = set(only.split(",")) if only else None
report = {}

con = duckdb.connect()
for p in sorted(glob.glob(f"{sfdir}/*.parquet")):
    name = os.path.basename(p)[:-len(".parquet")]
    con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")

def mark(name, status, rows, detail=""):
    report[name] = {"status": status, "rows": rows, "detail": detail}

oracle = json.load(open(f"{outdir}/oracle_sql.json"))
result_dirs = {os.path.basename(d) for d in glob.glob(f"{outdir}/*") if os.path.isdir(d)}

def fetch_sorted_cols(rel):
    tbl = rel.fetch_arrow_table()
    cols = sorted(tbl.column_names)
    data = [tbl.column(c).to_pylist() for c in cols]
    rows = list(zip(*data)) if data else []
    # Arrow dtype per sorted column: the driver's hash is dtype-sensitive
    # (DuckDB HUGEINT vs Spark BIGINT escaped the value-only check twice
    # — r6 q_pack_sequences, r8 ×4), so the local mirror must compare
    # types, not just Python values.
    types = [str(tbl.schema.field(c).type) for c in cols]
    return cols, rows, types

fails, passes = 0, 0
for name in sorted(result_dirs | set(oracle)):
    if only is not None and name not in only:
        continue
    if name not in result_dirs:
        print(f"FAIL {name}: no Verify output (query crashed?)")
        mark(name, "fail", 0, "no Verify output")
        fails += 1
        continue
    # an empty or unreadable dump fails its own query, not the sweep
    gq = duckdb.connect()
    try:
        got_cols, got, got_types = fetch_sorted_cols(gq.sql(f"SELECT * FROM '{outdir}/{name}/*.parquet'"))
    except Exception as e:
        print(f"FAIL {name}: Verify output unreadable: {e}")
        mark(name, "fail", 0, f"Verify output unreadable: {e}")
        fails += 1
        continue
    if name not in oracle:
        if len(got) > 0:
            print(f"pass {name}: rows-only ({len(got)} rows)")
            mark(name, "pass_rows_only", len(got))
            passes += 1
        else:
            print(f"FAIL {name}: rows-only check, 0 rows")
            mark(name, "fail", 0, "rows-only check, 0 rows")
            fails += 1
        continue
    try:
        exp_cols, exp, exp_types = fetch_sorted_cols(con.sql(oracle[name]))
    except Exception as e:
        print(f"FAIL {name}: oracle SQL error: {e}")
        mark(name, "fail", len(got), f"oracle SQL error: {e}")
        fails += 1
        continue
    if [c.lower() for c in exp_cols] != [c.lower() for c in got_cols]:
        print(f"FAIL {name}: cols oracle={exp_cols} spark={got_cols}")
        mark(name, "fail", len(got), "column mismatch")
        fails += 1
        continue
    if exp_types != got_types:
        diffs = [f"{c}: oracle={et} spark={gt}"
                 for c, et, gt in zip(exp_cols, exp_types, got_types) if et != gt]
        print(f"FAIL {name}: dtype mismatch ({'; '.join(diffs)})")
        mark(name, "fail", len(got), f"dtype mismatch: {'; '.join(diffs)}")
        fails += 1
        continue
    if len(exp) != len(got):
        print(f"FAIL {name}: rows oracle={len(exp)} spark={len(got)}")
        mark(name, "fail", len(got), f"row count: oracle={len(exp)} spark={len(got)}")
        fails += 1
        continue
    bad = None
    for i, (er, gr) in enumerate(zip(exp, got)):
        if er != gr:
            bad = (i, er, gr)
            break
    if bad:
        i, er, gr = bad
        print(f"FAIL {name}: first diff at row {i}:")
        for c, ev, gv in zip(exp_cols, er, gr):
            mk = "  " if ev == gv else "->"
            print(f"  {mk} {c}: oracle={ev!r} spark={gv!r}")
        mark(name, "fail", len(got), f"value diff at row {i}")
        fails += 1
    else:
        print(f"pass {name}: {len(got)} rows hash-equal")
        mark(name, "pass", len(got))
        passes += 1

print(f"\n{passes} pass, {fails} fail")
if json_out:
    with open(json_out, "w") as f:
        json.dump({"sf": sfdir, "n_pass": passes, "n_fail": fails,
                   "queries": report}, f, indent=1, sort_keys=True)
    print(f"wrote {json_out}")
sys.exit(1 if fails else 0)
