#!/usr/bin/env python3
"""Convergence census of a graft.Verify dump.

Usage: tools/check_census.py <verify_outdir> <json_out>

q_components runs at most CcIters = 5 min-label rounds and carries each
round's moved-label count on every row (moved_r1..moved_r5). moved_r5 = 0
certifies the labels are the connected components; a nonzero moved_r5
means the bound stopped propagation early and the `comp` labels are not
components, even though the oracle (which unrolls the same five rounds)
still matches them. Writes {"q_components": {status, moved, detail}} to
json_out and exits 1 unless the census certifies.
"""
import glob, json, sys
import duckdb

outdir, json_out = sys.argv[1], sys.argv[2]
files = sorted(glob.glob(f"{outdir}/q_components/*.parquet"))
moved = []
if not files:
    status, detail = "fail_census", "no q_components result in the dump"
else:
    cols = ", ".join(f"max(moved_r{r})" for r in range(1, 6))
    *moved, rows = duckdb.sql(f"SELECT {cols}, count(*) FROM read_parquet({files!r})").fetchone()
    if rows == 0:
        status, detail = "fail_census", "q_components returned no rows"
    elif moved[-1] > 0:
        status = "fail_census"
        detail = (f"moved_r5 = {moved[-1]} > 0: min-label propagation did not converge "
                  f"in CcIters = 5 rounds, so comp is not a component label; raise CcIters "
                  f"(Analytics.qComponents and its oracle unroll the same constant)")
    else:
        status, detail = "pass_census", "moved_r5 = 0: labels are certified components"
json.dump({"q_components": {"status": status, "moved": moved, "detail": detail}},
          open(json_out, "w"), indent=1, sort_keys=True)
print(f"{status.upper()} q_components census: {detail} (moved per round {moved})")
sys.exit(0 if status == "pass_census" else 1)
