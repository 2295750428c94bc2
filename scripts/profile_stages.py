"""Per-stage scaling profile: run the KG pipeline at two core counts and
report each checkpointed stage's wall seconds + its 1->k scaling efficiency.

The scaling bench (scripts/scaling_bench.py) measures one end-to-end ratio;
this tool decomposes it so the stage that scales WORST — the one holding the
north-rule efficiency below target — is visible by name instead of inferred.

Usage: python scripts/profile_stages.py [sf_dir] [replicas] [cpu_list]
  e.g.  python scripts/profile_stages.py /root/testdata/sf0.1 400 1,4

Each level runs in its own subprocess (fresh JVM, same protocol as
scaling_bench). Stage timings come from the ParquetCheckpointer's stage()
wall clocks, i.e. they include the snapshot write — exactly what a scaling
leg pays. Output: one table + a RESULT json line.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

# the repo root; each `python -c` child gets it as argv[1] for its sys.path
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

RUNNER = """
import json, os, sys, tempfile, time
sys.path.insert(0, sys.argv[1])
from mmgraphrag_spark.session import build_session
from mmgraphrag_spark.pipeline import run_pipeline
from mmgraphrag_spark.plans import ParquetCheckpointer
from mmgraphrag_spark.sources.documents import interleave_from_flat
from bench import _scaled_documents, run_kg_pipeline

cpus = int(os.environ["SPARK_GRAFT_CPUS"])
sf_dir = os.environ["SPARK_GRAFT_SF_DIR"]
replicas = int(os.environ["SPARK_GRAFT_REPLICAS"])
spark = build_session("profile", cpus=cpus, shuffle_partitions=3 * cpus)
# warmup: same as scaling_bench legs
run_kg_pipeline(spark, sf_dir, 2)

root = tempfile.mkdtemp(prefix="kgprof_")
cp = ParquetCheckpointer(spark, root)
flat = _scaled_documents(spark, sf_dir, replicas)
n_docs = flat.count()
docs = interleave_from_flat(flat)
t0 = time.monotonic()
out = run_pipeline(spark, docs, checkpointer=cp)
n_triples = out["triples"].count()
wall = time.monotonic() - t0
# durable stages record wall_seconds in their _COMMIT.json markers;
# stage_light outputs live on the block manager (no marker) and land in
# the _uncheckpointed remainder together with the lazy tail
stages = {}
for name in sorted(os.listdir(root)):
    marker = os.path.join(root, name, "_COMMIT.json")
    if os.path.isfile(marker):
        with open(marker) as f:
            m = json.load(f)
        stages[name] = m["wall_seconds"]
stages["_uncheckpointed"] = round(wall - sum(stages.values()), 3)
print("RESULT " + json.dumps({
    "cpus": cpus, "wall": round(wall, 3), "n_docs": n_docs,
    "n_triples": n_triples, "stages": stages,
}))
spark.stop()
"""


def run_at(cpus: int, sf_dir: str, replicas: int) -> dict:
    env = dict(
        os.environ,
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_SF_DIR=sf_dir,
        SPARK_GRAFT_REPLICAS=str(replicas),
    )
    out = subprocess.run(
        [sys.executable, "-c", RUNNER, ROOT], env=env, capture_output=True, text=True,
        timeout=3600,
    )
    for line in out.stdout.splitlines():
        if line.startswith("RESULT "):
            return json.loads(line[len("RESULT "):])
    raise RuntimeError(f"no RESULT line; stderr tail: {out.stderr[-2000:]}")


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    replicas = int(sys.argv[2]) if len(sys.argv) > 2 else 400
    cpu_list = [int(c) for c in (sys.argv[3] if len(sys.argv) > 3 else "1,4").split(",")]

    results = {c: run_at(c, sf_dir, replicas) for c in cpu_list}
    base = cpu_list[0]
    names = list(results[base]["stages"])
    hdr = ["stage"] + [f"{c}c (s)" for c in cpu_list] + [
        f"eff {base}->{c}" for c in cpu_list[1:]
    ]
    print("| " + " | ".join(hdr) + " |")
    print("|" + "---|" * len(hdr))
    for name in names:
        row = [name]
        t_base = results[base]["stages"].get(name)
        for c in cpu_list:
            t = results[c]["stages"].get(name)
            row.append("-" if t is None else f"{t:.1f}")
        for c in cpu_list[1:]:
            t = results[c]["stages"].get(name)
            if t and t_base:
                row.append(f"{t_base / (t * (c / base)):.3f}")
            else:
                row.append("-")
        print("| " + " | ".join(row) + " |")
    walls = {c: results[c]["wall"] for c in cpu_list}
    effs = {
        c: round(walls[base] / (walls[c] * (c / base)), 3) for c in cpu_list[1:]
    }
    print("RESULT " + json.dumps({"walls": walls, "effs": effs,
                                  "n_docs": results[base]["n_docs"]}))


if __name__ == "__main__":
    main()
