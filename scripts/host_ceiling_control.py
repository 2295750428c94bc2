"""Host scaling-ceiling control: the most favorable possible Spark job.

A pure-JVM whole-stage-codegen scan-and-aggregate (md5 over synthesized rows:
zero shuffle, zero Python, zero IO, zero driver actions in the loop) run at
the same two parallelism levels as scripts/scaling_bench.py. Its efficiency
is the best ANY job can measure on this host; the pipeline's ratio should be
read relative to it, not to the theoretical 1.0 (see BENCH.md "Host scaling
ceiling"). Run it in the same hour as a pipeline scaling run so both samples
see the same host load.

Usage: python scripts/host_ceiling_control.py [n_rows_millions] [N]
  (levels are local[N] vs local[4N]; default 60M rows, N=2)
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

# the repo root; each `python -c` child gets it as argv[1] for its sys.path
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

RUNNER = """
import os, time
import sys
sys.path.insert(0, sys.argv[1])
from mmgraphrag_spark.session import build_session
from pyspark.sql import functions as F
cpus = int(os.environ["CTRL_CPUS"])
rows = int(os.environ["CTRL_ROWS"])
spark = build_session("ceiling-control", cpus=cpus, shuffle_partitions=3 * cpus)
def job():
    df = spark.range(0, rows, 1, numPartitions=cpus * 3)
    return df.select(F.md5(F.col("id").cast("string")).alias("h")) \
             .select(F.max("h").alias("m")).collect()[0][0]
job()  # warmup: JIT the codegen path
t0 = time.time()
job()
print("RESULT %.3f" % (time.time() - t0))
spark.stop()
"""


def run_at(cpus: int, rows: int) -> float:
    env = dict(os.environ, CTRL_CPUS=str(cpus), CTRL_ROWS=str(rows))
    out = subprocess.run(
        [sys.executable, "-c", RUNNER, ROOT], env=env, capture_output=True, text=True,
        timeout=1800,
    )
    for line in out.stdout.splitlines():
        if line.startswith("RESULT "):
            return float(line[len("RESULT "):])
    raise RuntimeError(f"no RESULT line; stderr tail: {out.stderr[-2000:]}")


def main():
    rows = int(float(sys.argv[1]) * 1e6) if len(sys.argv) > 1 else 60_000_000
    n = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    secs = {}
    for cpus in (n, 4 * n):
        secs[cpus] = run_at(cpus, rows)
        print(f"local[{cpus}]: {secs[cpus]:.1f}s ({rows / secs[cpus] / 1e6:.1f}M rows/s)")
    eff = secs[n] / (4 * secs[4 * n])
    print(json.dumps({
        "control": "md5-scan-agg", "rows": rows, "n": n,
        "sec_n": round(secs[n], 2), "sec_4n": round(secs[4 * n], 2),
        "efficiency": round(eff, 3), "ts": time.strftime("%Y-%m-%d %H:%M"),
    }))


if __name__ == "__main__":
    main()
