"""Scaling-efficiency evidence for the north rule (N -> 4N executors).

This sandbox has no multi-executor cluster, so (per the round instructions) we
run the SAME KG-construction job at two parallelism levels — local[8] and
local[32] — on the SAME input, and report throughput at both plus the scaling
efficiency  eff = throughput(4N) / (4 * throughput(N)).

Each level runs in its own subprocess (fresh JVM) so nothing is shared.
Results are appended to BENCH.md.

Usage: python scripts/scaling_bench.py [sf_dir] [replicas] [N] [--interleave]

--interleave runs the legs A/B/A/B (N, 4N, N, 4N) instead of A/B and pairs
adjacent legs into TWO efficiency samples, with a ~15 s md5 capacity probe
(same codegen job as host_ceiling_control) before each leg. Rationale: this
host's contention is memory-bandwidth-shaped (invisible to /proc/stat steal)
and drifts minute-to-minute, so a single A/B run attributes window drift
entirely to the scaling ratio; interleaving spreads the drift across both
pairings and the per-leg probes record how much host capacity each leg
actually saw (see BENCH.md repeats 4-5, 2026-08-18).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

# the repo root; each `python -c` child gets it as argv[1] for its sys.path
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

RUNNER = """
import json, os, sys
sys.path.insert(0, sys.argv[1])
from mmgraphrag_spark.session import build_session
from bench import run_kg_pipeline
cpus = int(os.environ["SPARK_GRAFT_CPUS"])
spark = build_session("scaling", cpus=cpus, shuffle_partitions=3 * cpus)
# warmup: spawn+import python workers, JIT the codegen paths — cold-start
# penalizes wider configs (N workers x imports) and is not what the scaling
# criterion measures
run_kg_pipeline(spark, os.environ["SPARK_GRAFT_SF_DIR"], 2)
r = run_kg_pipeline(spark, os.environ["SPARK_GRAFT_SF_DIR"], int(os.environ["SPARK_GRAFT_REPLICAS"]))
print("RESULT " + json.dumps(r))
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
        # 2-core leg at 12M docs measured as slow as 7.2k docs/s in a heavy
        # host window (~28 min), and the 1-core leg at 18M docs projects to
        # ~31 min plus up to +40% host noise; anything tighter risks killing
        # a leg late in the run and losing the whole A/B/A/B sample
        timeout=3600,
    )
    for line in out.stdout.splitlines():
        if line.startswith("RESULT "):
            return json.loads(line[len("RESULT "):])
    raise RuntimeError(f"no RESULT line; stderr tail: {out.stderr[-2000:]}")


def probe_capacity(cpus: int, rows: int = 20_000_000) -> float:
    """~15 s md5 scan-agg at `cpus` threads -> host capacity in Mrows/s.

    Same whole-stage-codegen job as scripts/host_ceiling_control.py, sized
    down so the probe brackets a leg without becoming a run of its own."""
    from host_ceiling_control import run_at as ctrl_run_at

    return round(rows / ctrl_run_at(cpus, rows) / 1e6, 2)


def run_interleaved(sf_dir: str, replicas: int, n: int) -> None:
    """A/B/A/B legs with per-leg capacity probes; two paired eff samples."""
    order = (n, 4 * n, n, 4 * n)
    legs = []
    for cpus in order:
        cap = probe_capacity(cpus)
        r = run_at(cpus, sf_dir, replicas)
        r["cpus"] = cpus
        r["docs_per_sec"] = round(r["n_docs"] / r["seconds"], 2)
        r["capacity_mrows_s"] = cap
        legs.append(r)
        print(f"local[{cpus}]: {r['seconds']:.1f}s, {r['docs_per_sec']} docs/s "
              f"(probe {cap} Mrows/s)")
    # closing bracket: one trailing probe at the wide width, so the final leg
    # is probed on BOTH sides (legs 1-3 get their post-probe for free as the
    # next leg's pre-probe)
    cap_post = probe_capacity(order[-1])
    print(f"post-run probe at {order[-1]} threads: {cap_post} Mrows/s")
    pairs = [(legs[0], legs[1]), (legs[2], legs[3])]
    effs = [hi["docs_per_sec"] / (4 * lo["docs_per_sec"]) for lo, hi in pairs]
    mean_eff = sum(effs) / len(effs)
    print(f"paired efficiencies: {effs[0]:.3f}, {effs[1]:.3f}  mean {mean_eff:.3f}")

    rows = "\n".join(
        f"| {i + 1} | local[{r['cpus']}] | {r['seconds']:.1f} | "
        f"{r['docs_per_sec']} | {r['capacity_mrows_s']} |"
        for i, r in enumerate(legs)
    )
    section = f"""
## Interleaved scaling run — {sf_dir}, replicas={replicas}, N={n} vs 4N={4 * n}

A/B/A/B leg order with a ~15 s md5 capacity probe (Mrows/s) before each leg,
so window drift is spread across both pairings instead of landing on one
ratio (see the bandwidth-contention finding above):

| leg | level | wall (s) | docs/s | probe Mrows/s |
|---|---|---|---|---|
{rows}

**Paired efficiencies: {effs[0]:.3f} (legs 1-2), {effs[1]:.3f} (legs 3-4);
mean = {mean_eff:.3f}** (north-rule target: >= 0.8). Closing probe after
leg 4 at {order[-1]} threads: {cap_post} Mrows/s.
"""
    with open(os.path.join(ROOT, "BENCH.md"), "a") as f:
        f.write(section)
    print("appended to BENCH.md")


def main():
    args = [a for a in sys.argv[1:] if a != "--interleave"]
    interleave = "--interleave" in sys.argv[1:]
    sf_dir = args[0] if len(args) > 0 else "/root/testdata/sf0.1"
    replicas = int(args[1]) if len(args) > 1 else 4
    n = int(args[2]) if len(args) > 2 else 8
    if interleave:
        run_interleaved(sf_dir, replicas, n)
        return
    levels = {}
    for cpus in (n, 4 * n):
        r = run_at(cpus, sf_dir, replicas)
        r["docs_per_sec"] = round(r["n_docs"] / r["seconds"], 2)
        r["triples_per_sec"] = round(r["n_triples"] / r["seconds"], 2)
        levels[cpus] = r
        print(f"local[{cpus}]: {r['seconds']:.1f}s, {r['n_docs']} docs, "
              f"{r['docs_per_sec']} docs/s, {r['triples_per_sec']} triples/s")
    lo, hi = n, 4 * n
    eff = levels[hi]["docs_per_sec"] / (4 * levels[lo]["docs_per_sec"])
    print(f"scaling efficiency ({lo} -> {hi} cores): {eff:.3f}")

    section = f"""
## Scaling run — {sf_dir}, replicas={replicas}, N={lo} vs 4N={hi}

Same input, same job, two parallelism levels (fresh JVM each, warmed), sandbox
stand-in for N vs 4N executors:

| level | wall (s) | docs | docs/s | triples/s |
|---|---|---|---|---|
| local[{lo}]  | {levels[lo]['seconds']:.1f} | {levels[lo]['n_docs']} | {levels[lo]['docs_per_sec']} | {levels[lo]['triples_per_sec']} |
| local[{hi}] | {levels[hi]['seconds']:.1f} | {levels[hi]['n_docs']} | {levels[hi]['docs_per_sec']} | {levels[hi]['triples_per_sec']} |

**Scaling efficiency (throughput_{hi} / (4 x throughput_{lo})) = {eff:.3f}**
(north-rule target: >= 0.8)
"""
    with open(os.path.join(ROOT, "BENCH.md"), "a") as f:
        f.write(section)
    print("appended to BENCH.md")


if __name__ == "__main__":
    main()
