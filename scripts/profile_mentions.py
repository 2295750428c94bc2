"""Decompose the mentions stage's 1->k scaling (see profile_stages.py).

Builds the chunk_rows snapshot ONCE, then at each cpu level times four
cumulative jobs over it:
  scan      read parquet snapshot, count(content) agg
  shuffle   + repartition(cpus) exchange
  udf       + mapInPandas DeterministicExtractor
  write     + parquet write of the records output

Usage: python scripts/profile_mentions.py [sf_dir] [replicas] [cpu_list]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile

# the repo root; each `python -c` child gets it as argv[1] for its sys.path
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SETUP = """
import json, os, sys
sys.path.insert(0, sys.argv[1])
from mmgraphrag_spark.session import build_session
from mmgraphrag_spark.operators import spans as S
from mmgraphrag_spark.sources.documents import interleave_from_flat
from bench import _scaled_documents

spark = build_session("setup", cpus=8, shuffle_partitions=24)
flat = _scaled_documents(spark, os.environ["SF_DIR"], int(os.environ["REPLICAS"]))
docs = interleave_from_flat(flat)
S.chunk_occurrences(S.explode_spans(docs)).write.mode("overwrite").parquet(
    os.environ["SNAP"])
print("SETUP done")
spark.stop()
"""

RUNNER = """
import json, os, sys, time
sys.path.insert(0, sys.argv[1])
from pyspark.sql import functions as F
from mmgraphrag_spark.session import build_session
from mmgraphrag_spark.operators.extract import DeterministicExtractor

cpus = int(os.environ["CPUS"])
spark = build_session("mprof", cpus=cpus, shuffle_partitions=3 * cpus)
snap = os.environ["SNAP"]
schema = "chunk_id string, doc_id string, records string"
be = DeterministicExtractor()

def read():
    return spark.read.parquet(snap).select("chunk_id", "doc_id", "content")

jobs = {
    "scan": lambda: read().agg(F.count("content")).collect(),
    "shuffle": lambda: read().repartition(cpus).agg(F.count("content")).collect(),
    "udf": lambda: read().repartition(cpus)
        .mapInPandas(be.map_batches, schema).agg(F.count("records")).collect(),
    "write": lambda: read().repartition(cpus)
        .mapInPandas(be.map_batches, schema).write.mode("overwrite")
        .parquet(os.environ["OUT"]),
}
# warmup: one limit(20000) pass through the UDF path JITs the codegen and
# forks/imports the python workers once, so the timed jobs measure steady state
read().limit(20000).repartition(cpus).mapInPandas(be.map_batches, schema).agg(
    F.count("records")).collect()
t = {}
for name, job in jobs.items():
    t0 = time.monotonic()
    job()
    t[name] = round(time.monotonic() - t0, 2)
print("RESULT " + json.dumps({"cpus": cpus, "times": t}))
spark.stop()
"""


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    replicas = sys.argv[2] if len(sys.argv) > 2 else "400"
    cpu_list = [int(c) for c in (sys.argv[3] if len(sys.argv) > 3 else "1,4").split(",")]

    snap = tempfile.mkdtemp(prefix="mprof_snap_")
    env = dict(os.environ, SF_DIR=sf_dir, REPLICAS=replicas,
               SNAP=os.path.join(snap, "chunk_rows"))
    subprocess.run([sys.executable, "-c", SETUP, ROOT], env=env, check=True,
                   capture_output=True, text=True, timeout=1800)
    results = {}
    for cpus in cpu_list:
        env2 = dict(env, CPUS=str(cpus), OUT=os.path.join(snap, f"out_{cpus}"))
        out = subprocess.run([sys.executable, "-c", RUNNER, ROOT], env=env2,
                             capture_output=True, text=True, timeout=3600)
        for line in out.stdout.splitlines():
            if line.startswith("RESULT "):
                results[cpus] = json.loads(line[len("RESULT "):])["times"]
                break
        else:
            raise RuntimeError(f"no RESULT; stderr: {out.stderr[-2000:]}")
    base = cpu_list[0]
    print("| job | " + " | ".join(f"{c}c (s)" for c in cpu_list) +
          " | " + " | ".join(f"eff {base}->{c}" for c in cpu_list[1:]) + " |")
    for name in results[base]:
        row = [name] + [f"{results[c][name]:.2f}" for c in cpu_list]
        for c in cpu_list[1:]:
            row.append(f"{results[base][name] / (results[c][name] * c / base):.3f}")
        print("| " + " | ".join(row) + " |")
    print("RESULT " + json.dumps(results))


if __name__ == "__main__":
    main()
