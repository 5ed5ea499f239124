#!/usr/bin/env bash
# The full verification ladder, in the order that fails fastest:
#   1. driver contract smoke (entry() returns rows)
#   2. oracle gate at sf0.01 — every queries() key vs its DuckDB oracle
#   3. full pytest (operators, plans, properties, streaming)
#   4. [optional, slow] oracle gate at sf0.1 — scale invariance
#   5. [optional, slow] perfbench `interactive` and `curation` workloads,
#      one 20 s run each (perfbench/run.py; the last line of each run is
#      its end-to-end metrics JSON)
#
# Usage: scripts/verify_all.sh [--scale] [--bench]
set -euo pipefail
cd "$(dirname "$0")/.."

echo "== 1/5 driver contract =="
python -c "import __spark_entry__ as m; from agnes_spark import get_spark; \
  s = get_spark(); n = len(m.entry(s).collect()); assert n > 0, 'entry() empty'; \
  print(f'entry rows: {n}')" 2>/dev/null | tail -1

echo "== 2/5 oracle gate sf0.01 =="
python scripts/check_oracle.py 2>/dev/null | tail -2

echo "== 3/5 pytest =="
python -m pytest tests/ -x -q 2>/dev/null | tail -1

if [[ "${*}" == *--scale* ]]; then
  echo "== 4/5 oracle gate sf0.1 (scale invariance) =="
  SF_DIR=/root/testdata/sf0.1 python scripts/check_oracle.py 2>/dev/null | tail -2
fi

if [[ "${*}" == *--bench* ]]; then
  echo "== 5/5 perfbench interactive, curation =="
  for w in interactive curation; do
    python3 perfbench/run.py --workload "$w" --seed 1 --seconds 20 2>/dev/null | tail -1
  done
fi

echo "verify_all: done"
