#!/bin/sh
# Full verification pipeline — everything the driver/judge checks,
# runnable locally in one shot (~20 min on local[32]):
#   sh tools/ci.sh
set -e
cd "$(dirname "$0")/.."
echo "== driver artifacts committed =="
if [ -n "$(git status --porcelain -- 'CORRECTNESS_r*.json' 'BENCH_r*.json')" ]; then
    echo "ci: CORRECTNESS/BENCH artifacts uncommitted — commit them in an artifact-only commit" >&2
    exit 1
fi
echo "== unit + streaming + oracle parity (sf0.001) =="
python -m pytest tests/ -x -q
echo "== CDC correctness smoke (40,000 envelopes against the cdcgen model) =="
smoke=$(python3 perfbench/run.py --workload cdc_backfill --seed 1 --seconds 0 --trace 0 | tail -n 1)
echo "$smoke"
case "$smoke" in
    *'"correct": true'*) ;;
    *) echo "ci: cdc_backfill sink counts differ from the model" >&2; exit 1 ;;
esac
echo "== batch_barrier correctness smoke (7 barrier-heavy queries against their DuckDB oracles) =="
smoke=$(python3 perfbench/run.py --workload batch_barrier --seed 1 --seconds 0 --trace 0 | tail -n 1)
echo "$smoke"
case "$smoke" in
    *'"correct": true'*) ;;
    *) echo "ci: batch_barrier results differ from their oracles" >&2; exit 1 ;;
esac
echo "== full oracle parity at driver scale (sf0.01) =="
STREAMFORGE_PARITY_SF=/root/testdata/sf0.01 python -m pytest tests/test_oracle_parity.py -q
echo "== every registered query has an oracle (no_oracle gate) =="
python -c "
from streamforge_spark import registry
registry.load_all()  # raises if any queries() name lacks oracle_sql()
assert set(registry.QUERIES) == set(registry.ORACLES), 'queries/oracles diverge'
print(f'{len(registry.QUERIES)} queries, all oracled')
"
echo "== oracle dtype-cast map current (HUGEINT drift lint) =="
python tools/gen_oracle_casts.py --check
echo "== physical-plan audit (PLANS.md) =="
python tools/plan_report.py
echo "== measured shuffle volumes (SHUFFLE.md) =="
python tools/shuffle_audit.py
echo "== headline bench (sf0.1) =="
python bench.py
