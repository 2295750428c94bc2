"""Host scaling-ceiling SWEEP: the md5 control's own 1->4-core efficiency
distribution across many adjacent windows.

Motivation (VERDICT r4 next-round #1): the north rule's >=0.8 criterion can
be established either by the pipeline's pooled ratio, or by "a same-hour
md5-bracketed demonstration that the host ceiling itself sits below 0.8" in
the measured windows. The ~15 s pre-leg probes in scaling_bench runs 10-13
already measure the control AT both widths in the pipeline's own windows
(control pair efficiencies 0.608-0.868), but each is a single short sample.
This sweep measures the ceiling as a distribution: K interleaved pairings
(1-core leg, 4-core leg, repeat), each leg a fresh subprocess (CLAUDE.md
rule 10 — no resident JVM), legs sized ~45-90 s so they sample the window
the way a real pipeline leg does rather than a 15 s burst.

The control is scripts/host_ceiling_control.py's job: whole-stage-codegen
md5 scan-agg — zero shuffle, zero Python, zero IO. Its efficiency is the
best ANY job can measure on this host; no pipeline can legitimately exceed
it in the same window (a higher pipeline ratio means the window drifted
between samples).

Usage: python scripts/ceiling_sweep.py [pairings] [rows_millions] [N]
  defaults: 6 pairings, 150M rows, N=1 (levels local[1] vs local[4])
Appends a table + summary to BENCH.md.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from host_ceiling_control import ROOT, run_at


def main() -> None:
    k = int(sys.argv[1]) if len(sys.argv) > 1 else 6
    rows = int(float(sys.argv[2]) * 1e6) if len(sys.argv) > 2 else 150_000_000
    n = int(sys.argv[3]) if len(sys.argv) > 3 else 1

    pairings = []
    for i in range(k):
        ts = time.strftime("%H:%M:%S")
        t_lo = run_at(n, rows)
        t_hi = run_at(4 * n, rows)
        eff = t_lo / (4 * t_hi)
        pairings.append({
            "ts": ts,
            "sec_n": round(t_lo, 1),
            "sec_4n": round(t_hi, 1),
            "mrows_n": round(rows / t_lo / 1e6, 2),
            "mrows_4n": round(rows / t_hi / 1e6, 2),
            "eff": round(eff, 3),
        })
        print(json.dumps(pairings[-1]), flush=True)

    effs = [p["eff"] for p in pairings]
    mean_eff = statistics.mean(effs)
    med_eff = statistics.median(effs)
    summary = {
        "pairings": k,
        "rows": rows,
        "n": n,
        "effs": effs,
        "mean": round(mean_eff, 3),
        "median": round(med_eff, 3),
        "min": min(effs),
        "max": max(effs),
        "below_0.8": sum(1 for e in effs if e < 0.8),
    }
    print(json.dumps(summary))

    table = "\n".join(
        f"| {i + 1} | {p['ts']} | {p['sec_n']} | {p['sec_4n']} | "
        f"{p['mrows_n']} | {p['mrows_4n']} | {p['eff']:.3f} |"
        for i, p in enumerate(pairings)
    )
    section = f"""
## Host-ceiling sweep — md5 control at local[{n}] vs local[{4 * n}], {rows // 10**6}M rows/leg, {k} pairings ({time.strftime("%Y-%m-%d %H:%M")} UTC)

Each leg is a fresh subprocess (rule 10); legs interleaved narrow/wide so
each pairing samples one window. The control is the most favorable possible
Spark job (zero shuffle / zero Python / zero IO whole-stage-codegen scan-agg)
— its ratio is the ceiling any job can express in that window:

| pairing | start | {n}c wall (s) | {4 * n}c wall (s) | {n}c Mrows/s | {4 * n}c Mrows/s | ceiling eff |
|---|---|---|---|---|---|---|
{table}

**Ceiling distribution: mean {mean_eff:.3f}, median {med_eff:.3f}, range
{min(effs):.3f}-{max(effs):.3f}; {summary['below_0.8']}/{k} pairings below the 0.8
criterion.**
"""
    with open(os.path.join(ROOT, "BENCH.md"), "a") as f:
        f.write(section)
    print("appended to BENCH.md")


if __name__ == "__main__":
    main()
