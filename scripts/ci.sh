#!/usr/bin/env bash
# One-command verification: unit/property/e2e suite, driver-contract oracle
# parity at two scales, a bench smoke and a perfbench correctness smoke.
# Mirrors what the round driver checks (CORRECTNESS_r{N} + BENCH_r{N}) plus
# the full pytest gate.
#
# Usage: bash scripts/ci.sh [--quick]
#   --quick: skip the sf0.1 oracle pass and both smokes (~7 min total
#            instead of ~25).
set -euo pipefail
cd "$(dirname "$0")/.."

echo "== pytest =="
# as the tier-1 gate runs it: Spark scratch in one local dir, a hard time
# limit, no .pytest_cache left in the tree
SPARK_LOCAL_DIRS="${SPARK_LOCAL_DIRS:-/tmp/spark-local}" timeout -k 10 2670 \
  python -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider

echo "== oracle parity @ sf0.01 =="
python scripts/check_oracles.py /root/testdata/sf0.01

echo "== CLI smoke: index (graphml + ann index) then batch query =="
rm -rf /tmp/ci_kg /tmp/ci_kg_ckpt
python scripts/submit_job.py --input /root/testdata/sf0.001/documents.parquet \
  --derive-interleaved --output /tmp/ci_kg --checkpoint /tmp/ci_kg_ckpt \
  --graphml --build-ann-index >/dev/null
test -s /tmp/ci_kg/graph_entity_relation.graphml
test -d /tmp/ci_kg/ann_index/centroids
printf 'What is ENTITY_1 related to?\n' > /tmp/ci_questions.txt
python scripts/query_job.py --kg /tmp/ci_kg --questions-file /tmp/ci_questions.txt \
  --ann-mode ivf > /tmp/ci_answer.txt
grep -q "ANSWER:" /tmp/ci_answer.txt
# the same query CLI under spark-submit: build_session keeps its master
SPARK_SUBMIT="$(python -c 'import os, pyspark; print(os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit"))')"
"$SPARK_SUBMIT" --master 'local[2]' scripts/query_job.py --kg /tmp/ci_kg \
  --questions-file /tmp/ci_questions.txt > /tmp/ci_answer_submit.txt
grep -q "ANSWER:" /tmp/ci_answer_submit.txt

if [[ "${1:-}" != "--quick" ]]; then
  echo "== oracle parity @ sf0.1 =="
  python scripts/check_oracles.py /root/testdata/sf0.1

  echo "== bench smoke @ sf0.1 =="
  SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 python bench.py

  echo "== perfbench correctness smoke =="
  # each run's last stdout line is its result JSON; it must be correct with
  # no failed operation (query_service checks every question's seeds against
  # a numpy top-k, kg_small the triples against DuckDB). The traced
  # query_service run must also show questions served from the
  # driver-resident index: 0 Spark jobs per question (median) and no RDD
  # block retained over the question list. Seed 7 is where the build's job
  # count once varied between the untraced and traced builds of a run.
  for args in "--workload query_service --seed 1 --trace 0" \
              "--workload kg_small --seed 1 --trace 1" \
              "--workload kg_small --seed 7 --trace 1" \
              "--workload query_service --seed 1 --trace 1"; do
    python3 perfbench/run.py $args | tail -n 1 | python3 -c '
import json, sys
res = json.loads(sys.stdin.read())
ok = res.get("correct") is True and res.get("failed") == 0
if "query_service --seed 1 --trace 1" in sys.argv[1]:
    m = {k: v["value"] for k, v in res.get("metrics", {}).items()}
    first, last = m.get("session.rdd_blocks.first"), m.get("session.rdd_blocks.last")
    print("query.jobs.p50", m.get("query.jobs.p50"), "session.rdd_blocks", first, "->", last)
    ok = ok and m.get("query.jobs.p50") == 0 and first is not None and last == first
print(("ok: " if ok else "FAILED: ") + sys.argv[1], {k: res.get(k) for k in ("correct", "attempted", "failed")})
sys.exit(0 if ok else 1)' "$args"
  done
fi

echo "CI OK"
