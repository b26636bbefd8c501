#!/usr/bin/env bash
# Count the lines of code under src/main: non-blank lines of every .scala
# file, skipping lines that start with `//` and lines inside `/* … */`
# (the opening and closing lines included). Prints one "<count> <file>"
# line per file, then "<total> total".
#
#   tools/count_loc.sh            # counts the checkout this script sits in
#   tools/count_loc.sh <repo>     # counts another checkout
set -euo pipefail
root="${1:-$(cd "$(dirname "$0")/.." && pwd)}"
cd "$root"
find src/main -name '*.scala' | LC_ALL=C sort | while read -r f; do
  awk '
    inblock { if (index($0, "*/")) inblock = 0; next }
    /^[ \t]*$/ { next }
    /^[ \t]*\/\// { next }
    /^[ \t]*\/\*/ { if (!index(substr($0, index($0, "/*") + 2), "*/")) inblock = 1; next }
    { n++ }
    END { printf "%d %s\n", n, FILENAME }
  ' "$f"
done | awk '{ print; t += $1 } END { print t " total" }'
