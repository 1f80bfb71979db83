#!/usr/bin/env bash
# Closing-commit preflight gate (VERDICT-r08 task 3).
#
# Every round's FINAL commit must be preceded by a clean run of this
# script — it mechanizes the check r7 skipped (and shipped red) and r8
# performed by hand:
#   1. the full pytest suite,
#   2. strict DuckDB-oracle parity for every entry at all three SFs
#      (tools/check_oracles.py --sf all),
#   3. the driver's own canonicalizer over the 50-entry window
#      (tools/driver_sim.py),
# then prints the .py line counts of the package and of oracles/.
#
# Usage:  bash tools/preflight.sh            # from the repo root
# Exit:   0 only if all three stages pass; first failure aborts.
# Note:   takes ~20-30 min on local[32]; do not run Spark-heavy work
#         concurrently (BASELINE.md machine-band caveat).
set -euo pipefail
cd "$(dirname "$0")/.."

echo "=== preflight 1/3: pytest tests/ -x -q ==="
python -m pytest tests/ -x -q

echo "=== preflight 2/3: tools/check_oracles.py --sf all ==="
python tools/check_oracles.py --sf all

echo "=== preflight 3/3: tools/driver_sim.py (window, sf0.01) ==="
python tools/driver_sim.py

echo "=== PREFLIGHT PASS ==="
# the ROADMAP tracks the package number and wants it to fall; the DuckDB
# oracles live outside it, so the total is printed beside it
pkg=$(find flink_sql_security_spark -name '*.py' -exec cat {} + | wc -l)
orc=$(find oracles -name '*.py' -exec cat {} + | wc -l)
echo "oracles size: ${orc} lines of .py"
echo "package + oracles: $((pkg + orc)) lines of .py"
echo "package size: ${pkg} lines of .py"
