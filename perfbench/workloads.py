"""Benchmark workloads, each run in a fresh process started by ``run.py``.

    python3 perfbench/workloads.py --workload kg_small --seed 1 --seconds 5 \
        --trace 0 --cores 4 --work .perfbench/run-1

Prints one ``PERFBENCH_CHILD {...}`` line. One client drives a closed loop:
the next operation (a KG build, or a question) starts when the previous one
has returned and its output has been checked against an oracle. Each run
times a fixed number of operations, and more only until ``--seconds`` have
passed since the timed section opened.

With ``--trace 1`` the run also reads per-layer numbers from Spark's status
store (see ledger.py). It then times pairs of an untraced and a traced
operation, so it can report the tracing overhead and check that tracing adds
no Spark job.
"""

from __future__ import annotations

import time

T0 = time.monotonic()  # process start, before pyspark is imported

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
from concurrent.futures import ThreadPoolExecutor  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import numpy as np  # noqa: E402

import inputs  # noqa: E402
import ledger  # noqa: E402

KG_SMALL_DOCS = 5000  # the sf0.1 flat corpus size
KG_VOLUME_REPLICAS = 20  # 5000 x 20 = 100k docs
QS_DOCS, QS_ENTITIES = 300, 2000  # ~2.6k entities with two hubs; a 30-60 s cold build
# The build workloads time the first build in the process, as a one-shot
# index job runs: class loading, codegen and Python worker start included.
# Warm builds in one session were tried and vary twice as much from process
# to process on a 4-vCPU VM (IQR/median 0.21-0.27 against 0.13-0.15 over two
# sets of ten seeds), while two builds in one process agree within ~15%: more
# builds per run would not steady them, and the time budget allows one.
# Questions speed up by ~25% over the first ten. Waiting that out does not fit
# the budget either, so a run asks a fixed number of questions from a fixed
# point on the curve: how many are timed does not depend on host speed.
BUILD_OPS, BUILD_PAIRS = 1, 1
WARMUP_QUESTIONS, QUESTION_OPS, QUESTION_PAIRS = 2, 3, 2


class Run:
    """State of one benchmark process: session, counters, timings, trace."""

    def __init__(self, args):
        from mmgraphrag_spark.session import build_session

        self.seed, self.seconds, self.trace = args.seed, args.seconds, bool(args.trace)
        self.cores, self.work = args.cores, args.work
        self.setup = {"session_s": 0.0, "input_s": 0.0, "index_s": 0.0, "warmup_s": 0.0}
        self._mark_t = T0
        self.spark = build_session(
            "perfbench",
            cpus=self.cores,
            extra_conf={"spark.sql.warehouse.dir": os.path.join(self.work, "warehouse")},
        )
        self.sc = self.spark.sparkContext
        self.mark("session_s")
        self.attempted = self.failed = 0
        self.failures: list[str] = []
        self.latencies: list[float] = []
        self.reader = ledger.StatusReader(self.spark) if self.trace else None
        # traced-run accumulators
        self.builds: list[dict] = []
        self.questions: list[dict] = []
        self.asked: list[str] = []  # the timed questions, in order
        self.pairs: list[tuple] = []  # (untraced s, traced s, untraced jobs, traced jobs)
        self.health: list[dict] = []

    def mark(self, key: str) -> None:
        now = time.monotonic()
        self.setup[key] += now - self._mark_t
        self._mark_t = now

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(what)

    def jobs(self) -> list[dict]:
        return self.reader.new_jobs() if self.trace else []

    def post(self):
        """Job group for work done after an operation (checks, counts)."""
        if self.trace:
            self.sc.setJobGroup("post", "perfbench checks")

    def loop(self, op, ops: int, pairs: int) -> None:
        """Closed loop; ``op(i, traced)`` returns (latency s, Spark jobs).
        An untraced run times ``ops`` operations; a traced one ``pairs`` pairs
        of an untraced and a traced operation, alternating which goes first.
        Either goes on until ``seconds`` have passed."""
        if self.trace and not self.health:
            self.health.append(self.reader.health())
        start = self.setup_end = time.monotonic()
        i = 0
        while i < (pairs if self.trace else ops) or time.monotonic() - start < self.seconds:
            if self.trace:
                order = (False, True) if i % 2 == 0 else (True, False)
                res = {traced: op(i, traced) for traced in order}
                (u_s, u_jobs), (t_s, t_jobs) = res[False], res[True]
                self.pairs.append((u_s, t_s, u_jobs, t_jobs))
                self.latencies += [u_s, t_s]
            else:
                self.latencies.append(op(i, False)[0])
            i += 1
        if self.trace:
            self.health.append(self.reader.health())


# ---------------------------------------------------------------------------
# build workloads
# ---------------------------------------------------------------------------

def build_record(run: Run, tracer, out: dict, jobs: list, build_s: float, rdds_before) -> dict:
    """Ledger record of one traced build plus its wasted-work ratios, counted
    after the build's own jobs were read (the counts run in the "post" group)."""
    rec = ledger.build_record(run.reader, tracer, jobs, build_s, run.cores, rdds_before)
    rec["spans.dedup_kept_frac"] = out["chunks"].count() / tracer.outputs["chunk_rows"].count()
    sizes = tracer.outputs["fusion_blocks"].groupBy("block_id").count().collect()
    candidates = sum(r["count"] * (r["count"] - 1) // 2 for r in sizes)
    rec["fusion.alias_yield"] = out["aliases"].count() / max(candidates, 1)
    return rec


def kg_inputs(seed: int, cache: str, replicas: int) -> tuple:
    """The flat corpus parquet and its DuckDB oracle triples."""
    path = inputs.flat_parquet(cache, seed, KG_SMALL_DOCS, replicas)
    return path, inputs.oracle_kg_triples(path)


def kg_build(run: Run, prepared: tuple, replicas: int, durable: bool) -> None:
    from mmgraphrag_spark.pipeline import run_pipeline
    from mmgraphrag_spark.plans import LocalCheckpointer, ParquetCheckpointer
    from mmgraphrag_spark.sources.documents import interleave_from_flat

    path, want = prepared
    flat = run.spark.read.parquet(path)
    run.jobs()  # drop the set-up jobs (the parquet read)
    run.n_docs = KG_SMALL_DOCS * replicas
    run.mark("input_s")

    def build(i, traced, record=False):
        """One build; ``record`` keeps its per-layer record (traced only)."""
        ckpt_dir = os.path.join(run.work, f"ckpt-{i}-{int(traced)}")
        inner = ParquetCheckpointer(run.spark, ckpt_dir) if durable else LocalCheckpointer()
        rdds_before = run.reader.cached_rdds() if traced else {}
        t = time.monotonic()
        cp = ledger.TracingCheckpointer(inner, run.sc, f"b{i}", t) if traced else inner
        out = run_pipeline(run.spark, interleave_from_flat(flat), checkpointer=cp)
        out["triples"].count()
        t_end = time.monotonic()
        dt = t_end - t
        if traced:
            cp.finish(t_end)
        jobs = run.jobs()
        run.post()
        got = inputs.canonical_triples(
            out["triples"].select("subj", "pred", "obj", "weight").collect()
        )
        run.check(got == want, f"build {i}: triples differ from the DuckDB oracle")
        if record:
            run.builds.append(build_record(run, cp, out, jobs, dt, rdds_before))
        del out, cp
        shutil.rmtree(ckpt_dir, ignore_errors=True)
        run.jobs()  # drop the check jobs
        if run.trace:
            ledger.clear_group(run.sc)
        return dt, len(jobs)

    if run.trace:
        # per-layer numbers of the cold build, the one an untraced run times;
        # the warm pairs after it give the overhead and job-count checks
        run.health.append(run.reader.health())
        build(-1, True, record=True)
    run.loop(build, BUILD_OPS, BUILD_PAIRS)


# ---------------------------------------------------------------------------
# query service
# ---------------------------------------------------------------------------

def qs_inputs(seed: int, cache: str) -> tuple:
    """Corpus rows, oracle triples and the question list of one seed."""
    from mmgraphrag_spark import datagen

    corpus = datagen.generate_documents(n_docs=QS_DOCS, n_entities=QS_ENTITIES, seed=seed)
    question_list = inputs.questions(seed, inputs.mention_counts(corpus), 1000)
    return datagen.corpus_rows(corpus), datagen.oracle_triples(corpus), question_list


def query_service(run: Run, prepared: tuple) -> None:
    from mmgraphrag_spark import schema
    from mmgraphrag_spark import query as Q
    from mmgraphrag_spark.pipeline import run_pipeline
    from mmgraphrag_spark.plans import LocalCheckpointer

    rows, expected, question_list = prepared
    docs = run.spark.createDataFrame(rows, schema.DOCUMENTS)
    run.question_list = question_list
    run.mark("input_s")

    cp = LocalCheckpointer()
    if run.trace:
        rdds_before = run.reader.cached_rdds()
    t = time.monotonic()
    if run.trace:
        cp = ledger.TracingCheckpointer(cp, run.sc, "setup", t)
    kg = run_pipeline(run.spark, docs, checkpointer=cp)
    kg["triples"].count()
    t_end = time.monotonic()
    dt = t_end - t
    if run.trace:
        cp.finish(t_end)
        jobs = run.jobs()
        run.post()
        run.builds.append(build_record(run, cp, kg, jobs, dt, rdds_before))
    got = {(r["subj"], r["obj"], r["weight"]) for r in kg["triples"].collect()}
    tp = len(got & expected)
    p, r = tp / max(len(got), 1), tp / max(len(expected), 1)
    run.check(p >= 0.95 and r >= 0.95, f"setup build: P={p:.3f} R={r:.3f} below 0.95")
    vdb, _ = Q.load_or_build_query_state(
        run.spark, kg["entities"], os.path.join(run.work, "query_state"), "exact"
    )
    oracle = inputs.SeedOracle(kg["entities"].select("entity_name", "description").collect())
    run.jobs()
    if run.trace:
        ledger.clear_group(run.sc)
    run.mark("index_s")
    log_dir = os.path.join(run.work, "query_log")

    def ask(i, traced):
        q = question_list[i % len(question_list)]
        if i >= 0 and not traced:
            run.asked.append(q)
        if traced:
            run.sc.setJobGroup(f"q{i}", "perfbench question")
        t = time.monotonic()
        res = Q.local_query(run.spark, kg, q, vdb=vdb, log_dir=log_dir, ann_mode="exact")
        dt = time.monotonic() - t
        jobs = run.jobs()
        run.post()
        seeds = [row["entity_name"] for row in res["seeds"].orderBy("rnk").collect()]
        run.check(seeds == oracle.seeds(q), f"question {i}: seeds differ from the numpy top-k")
        if traced:
            rec = run.reader.totals(jobs)
            rec["ungrouped_jobs"] = sum(j["group"] != f"q{i}" for j in jobs)
            rec["seed_fill"] = len(seeds) / inputs.TOP_K
            run.questions.append(rec)
        run.jobs()
        if run.trace:
            ledger.clear_group(run.sc)
        return dt, len(jobs)

    for w in range(WARMUP_QUESTIONS):
        ask(-1 - w, False)
    run.mark("warmup_s")
    run.loop(ask, QUESTION_OPS, QUESTION_PAIRS)


# ---------------------------------------------------------------------------
# results
# ---------------------------------------------------------------------------

def _pct(xs, q):
    return float(np.percentile(xs, q)) if xs else 0.0


def end_to_end(run: Run) -> dict:
    """Set-up time and the median operation latency. A run times one build
    or three questions, too few for a tail percentile (``reported`` gives the
    max)."""
    return {
        "setup_s": {"value": run.setup_end - T0, "unit": "s"},
        "op_ms_p50": {"value": 1e3 * statistics.median(run.latencies), "unit": "ms"},
    }


PER_LAYER_UNITS = {"wall_s": "s", "cpu_s": "s", "run_s": "s", "shuffle_mb": "MB", "spill_mb": "MB"}


def per_layer(run: Run) -> dict:
    """Per-layer metrics of a traced run. The build metrics are those of the
    process's first, cold build: the timed build of a build workload, the
    set-up build of query_service. The query metrics are 0 on the build
    workloads, which ask nothing."""
    m: dict[str, tuple] = {}
    builds = run.builds  # one record
    build_keys = [f"{layer}.{f}" for layer in ledger.LAYERS for f in ledger.LAYER_FIELDS]
    for k in build_keys:
        m[k] = (_med(builds, k), PER_LAYER_UNITS.get(k.split(".", 1)[1], "count"))
    for k, unit in [("build.jobs", "count"), ("build.stages", "count"), ("build.cpu_s", "s"),
                    ("build.cpu_util", "ratio"), ("build.unstaged_s", "s"),
                    ("build.stage_cover", "ratio"), ("checkpoint.commits", "count"),
                    ("checkpoint.commit_s", "s"), ("checkpoint.write_mb", "MB"),
                    ("spans.dedup_kept_frac", "ratio"), ("fusion.alias_yield", "ratio")]:
        m[k] = (_med(builds, k), unit)
    qs = run.questions
    m["query.seed_fill"] = (_med(qs, "seed_fill"), "ratio")
    for f, unit in [("jobs", "count"), ("stages", "count"), ("tasks", "count"),
                    ("cpu_s", "s"), ("shuffle_mb", "MB")]:
        xs = [q[f] for q in qs]
        m[f"query.{f}.p50"] = (_pct(xs, 50), unit)
        m[f"query.{f}.p90"] = (_pct(xs, 90), unit)
    for f, unit in [("heap_used_mb", "MB"), ("rdd_blocks", "count"), ("loaded_classes", "count")]:
        m[f"session.{f}.first"] = (run.health[0][f], unit)
        m[f"session.{f}.last"] = (run.health[-1][f], unit)
    for k, v in run.setup.items():
        m[f"setup.{k}"] = (v, "s")
    u_s, t_s, u_j, t_j = zip(*run.pairs)
    m["trace.overhead"] = (statistics.median(t_s) / statistics.median(u_s), "ratio")
    m["trace.added_jobs"] = (statistics.median(t_j) - statistics.median(u_j), "count")
    ungrouped = sum(b["ungrouped_jobs"] for b in builds) + sum(q["ungrouped_jobs"] for q in qs)
    m["trace.ungrouped_jobs"] = (ungrouped, "count")
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def reported(run: Run, workload: str) -> dict:
    """The workload's own end-to-end figures, recorded with each result: a
    build's wall time and rate, or a question's latency and drift (median of
    the last third of the questions over the first third)."""
    lat = run.latencies
    med = statistics.median(lat)
    if workload.startswith("kg_"):
        m = {"build_s": (med, "s"), "docs_per_s": (run.n_docs / med, "docs/s")}
    else:
        third = max(1, len(lat) // 3)
        drift = statistics.median(lat[-third:]) / statistics.median(lat[:third])
        m = {"question_ms_p50": (1e3 * med, "ms"), "question_ms_max": (1e3 * max(lat), "ms"),
             "question_drift": (drift, "ratio")}
    m["samples"] = (len(lat), "count")
    m["error_rate"] = (run.failed / run.attempted, "fraction")
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def _med(recs, key):
    return float(statistics.median([r[key] for r in recs])) if recs else 0.0


def self_checks(run: Run, metrics: dict, exact_jobs: bool) -> list[str]:
    """The traced run's own checks on its instrument. ``exact_jobs``: the
    operation's Spark job count is deterministic, so traced and untraced
    counts must be equal (a build's is; a question's varies by one job from
    run to run, traced or not)."""
    out = []
    if exact_jobs and any(p[3] != p[2] for p in run.pairs):
        out.append("tracing changed the Spark job count of a build")
    cover = metrics["build.stage_cover"]["value"]
    if abs(cover - 1.0) > 0.05:
        out.append(f"build.stage_cover {cover:.3f} is not within 5% of 1")
    if metrics["trace.ungrouped_jobs"]["value"]:
        out.append("a traced job fell outside every layer group")
    return out


# name -> (input generation, run on the session): the first runs in a thread
# while the Spark session starts; both are set-up
WORKLOADS = {
    "kg_small": (lambda seed, cache: kg_inputs(seed, cache, 1),
                 lambda run, exp: kg_build(run, exp, 1, durable=False)),
    "kg_volume": (lambda seed, cache: kg_inputs(seed, cache, KG_VOLUME_REPLICAS),
                  lambda run, exp: kg_build(run, exp, KG_VOLUME_REPLICAS, durable=True)),
    "query_service": (qs_inputs, query_service),
}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--cores", type=int, required=True)
    ap.add_argument("--work", required=True)
    args = ap.parse_args()
    os.makedirs(args.work, exist_ok=True)
    prepare, body = WORKLOADS[args.workload]
    with ThreadPoolExecutor(1) as pool:
        prepared = pool.submit(prepare, args.seed, os.path.dirname(args.work))
        run = Run(args)
    try:
        body(run, prepared.result())
        if run.trace:
            metrics = per_layer(run)
            run.failures += self_checks(run, metrics, args.workload.startswith("kg_"))
        else:
            metrics = end_to_end(run)
        lat = run.latencies
        meta = {
            "workload": args.workload,
            "cores": args.cores,
            "spark_version": run.spark.version,
            "shuffle_partitions": run.spark.conf.get("spark.sql.shuffle.partitions"),
            "latencies_s": [round(x, 4) for x in lat],
            "setup_split_s": {k: round(v, 3) for k, v in run.setup.items()},
            "failures": run.failures,
        }
        if not run.trace:
            meta["reported"] = reported(run, args.workload)
        if run.asked:
            meta["question_hub_share"] = {
                "list": inputs.hub_share(run.question_list),
                "asked": inputs.hub_share(run.asked),
            }
        if run.trace:
            meta["pairs_untraced_traced"] = [
                [round(u_s, 4), round(t_s, 4), u_j, t_j] for u_s, t_s, u_j, t_j in run.pairs
            ]
        print("PERFBENCH_CHILD " + json.dumps({
            "correct": not run.failures,
            "attempted": run.attempted,
            "failed": run.failed,
            "metrics": metrics,
            "meta": meta,
        }), flush=True)
    finally:
        run.spark.stop()


if __name__ == "__main__":
    main()
