#!/bin/bash
# 10x-scale DuckDB oracle sweep (VERDICT r14 #6): the correctness gate
# at the sf1 replica, committed as CORRECTNESS_SF1.json. The r14 phash
# defect (distinct payloads collapsing onto 254 fingerprints) was caught
# exactly this way; this makes the catch systematic.
#
#   tools/run_oracle_sf1.sh [replica_dir] [outdir]
#
# Surface: FULL (VERDICT r16 #2) — every SparkEntry query with an
# oracle, discovered from the verify dump's oracle_sql.json rather
# than a hand-kept shelf list, so new rows join the sweep by existing.
# Every oracle runs under its own timeout (the 420 s per-oracle
# budget) so one heavy SQL cannot stall the sweep; a timeout records
# as "skipped_oracle_cost" with the budget named — an ADJUDICATED
# exclusion, never a silent pass. The heavy class is always the
# ORACLE's cost, not the engine's (DuckDB re-runs Lloyd folds,
# pairwise lambda scans, recursive CTE closures the engine expresses
# as bounded iterations).
set -e
REPLICA=${1:-/tmp/sf1}
OUT=${2:-/tmp/gv_sf1}
TIMEOUT_S=${TIMEOUT_S:-420}
# Heavy NON-ANN shelves (recursive/graph closures, banded-dedup and
# corpus-composition SQL) get a larger budget (ADVICE r16): dropping
# the global default from 900 to 420 must not silently shrink the
# adjudicated oracle coverage on shelves that legitimately need the
# time at 10x. The ANN audit family stays on the default — r17 made
# its baselines linear, so it no longer needs headroom.
HEAVY_TIMEOUT_S=${HEAVY_TIMEOUT_S:-900}
HEAVY_RE='dedup|span_|minhash|entity|corpus|jaccard|components|triangle|clustering|kcore|self_overlap|lsh_bucket|banding'
cd "$(dirname "$0")/.."
if [ ! -d "$REPLICA" ]; then
  echo "[sf1] building 10x replica at $REPLICA"
  python3 tools/make_replica.py /root/testdata/sf0.1 "$REPLICA" 10
fi

echo "[sf1] full-surface verify dump"
tools/run_verify.sh "$REPLICA" "$OUT" 2>&1 | grep -iE "\[verify\].*failed" || true

# q_components must certify its labels at this scale (moved_r5 = 0); a
# failed census fails the sweep after the oracle compares have run
CENSUS_OK=1
tools/check_census.py "$OUT" "$OUT/census.json" || CENSUS_OK=0

ALL=$(python3 -c "import json; print(','.join(sorted(json.load(open('$OUT/oracle_sql.json')))))")
echo "[sf1] oracle sweep over $(echo "$ALL" | tr ',' '\n' | wc -l) queries"

mkdir -p "$OUT/percheck"
for q in $(echo "$ALL" | tr ',' ' '); do
  t="$TIMEOUT_S"
  if echo "$q" | grep -qE "$HEAVY_RE"; then t="$HEAVY_TIMEOUT_S"; fi
  if CHECK_ONLY="$q" timeout "$t" \
      python3 tools/check_oracle.py "$REPLICA" "$OUT" "$OUT/percheck/$q.json" \
      > "$OUT/percheck/$q.log" 2>&1; then
    tail -2 "$OUT/percheck/$q.log" | head -1
  else
    rc=$?
    if [ "$rc" = 124 ]; then
      echo "SKIP $q: oracle exceeded ${t}s (skipped_oracle_cost)"
      echo "{\"sf\": \"$REPLICA\", \"n_pass\": 0, \"n_fail\": 0, \"queries\": {\"$q\": {\"status\": \"skipped_oracle_cost\", \"rows\": -1, \"detail\": \"oracle SQL exceeded ${t}s at 10x\"}}}" \
        > "$OUT/percheck/$q.json"
    else
      echo "FAIL $q: check exited $rc"
      head -5 "$OUT/percheck/$q.log"
    fi
  fi
done

python3 - "$OUT/percheck" CORRECTNESS_SF1.json "$REPLICA" "$OUT/census.json" <<'EOF'
import glob, json, sys
d, out, sf, census_json = sys.argv[1:5]
queries, npass, nfail, nskip = {}, 0, 0, 0
for p in sorted(glob.glob(f"{d}/*.json")):
    j = json.load(open(p))
    for k, v in j.get("queries", {}).items():
        queries[k] = v
        st = v["status"]
        if st.startswith("pass"): npass += 1
        elif st == "skipped_oracle_cost": nskip += 1
        else: nfail += 1
census = json.load(open(census_json))
nfail += sum(not v["status"].startswith("pass") for v in census.values())
json.dump({"sf": sf, "n_pass": npass, "n_fail": nfail,
           "n_skipped_oracle_cost": nskip, "queries": queries, "census": census},
          open(out, "w"), indent=1, sort_keys=True)
print(f"wrote {out}: {npass} pass, {nfail} fail, {nskip} skipped (oracle cost)")
# coverage tripwire (ADVICE r16): the skipped set must not grow vs the
# committed previous sweep — a timeout-budget change silently shrinking
# adjudicated coverage is exactly what this catches.
import os
if os.path.exists(out):  # compare against the just-overwritten git state
    import subprocess
    prev = subprocess.run(["git", "show", f"HEAD:{out}"], capture_output=True)
    if prev.returncode == 0:
        prevq = json.loads(prev.stdout).get("queries", {})
        prev_skip = {k for k, v in prevq.items() if v["status"] == "skipped_oracle_cost"}
        now_skip = {k for k, v in queries.items() if v["status"] == "skipped_oracle_cost"}
        grown = now_skip - prev_skip
        if grown:
            print(f"WARNING: skipped_oracle_cost set GREW vs the committed sweep: {sorted(grown)}")
            print("         raise HEAVY_TIMEOUT_S or adjudicate before committing")
EOF
if [ "$CENSUS_OK" = 0 ]; then
  echo "[sf1] FAILED: q_components census did not certify convergence (see census in CORRECTNESS_SF1.json)" >&2
  exit 1
fi
