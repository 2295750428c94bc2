"""Benchmark: headline queries at $SPARK_GRAFT_SF_DIR on local[$SPARK_GRAFT_CPUS]
(default: every CPU).

Prints ONE JSON line:
    {"metric": "total_bench_seconds", "value": N, "unit": "sec",
     "queries": {...per-query seconds...}, "sf": ...,
     "kg_triples_per_sec": ..., "kg_docs_per_sec": ...}

The KG pipeline is the headline: documents -> spans -> chunks/media ->
extraction UDF -> A1/A2 merge -> scene graphs -> spectral fusion -> contraction
-> triples. SPARK_GRAFT_REPLICAS (default 1) unions tag-distinguished copies of
the corpus to scale input volume without changing semantics per copy.

Scaling-efficiency evidence (north rule N -> 4N): run scripts/scaling_bench.py,
which executes THIS pipeline at two parallelism levels and reports throughput +
efficiency into BENCH.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _scaled_documents(spark, sf_dir: str, replicas: int):
    from pyspark.sql import functions as F

    flat = spark.read.parquet(f"{sf_dir}/documents.parquet")
    para = spark.sparkContext.defaultParallelism
    if replicas > 1:
        # collision-free replica ids even for sparse/offset doc_ids: stride by
        # max(doc_id)+1, not the row count
        stride = flat.agg(F.max("doc_id")).first()[0] + 1
        # spread the small source across tasks BEFORE the explode so replica
        # expansion runs in parallel instead of inside the single input split.
        # That pre-spread is also the FINAL layout: each task expands its
        # slice of source docs in place, so partitions come out balanced and
        # re-hashing the expanded corpus by doc_id would shuffle the full
        # text a second time for no downstream benefit (every doc-keyed
        # consumer — dedup, J2/J3 — shuffles on its own key anyway; this is
        # the Iceberg-table-already-bucketed case of run_pipeline's guard).
        # Measured: the dropped exchange was ~3 s/2M docs at 4 cores and
        # scaled WORSE than the work it fed (see profile_mentions.py note).
        return flat.repartition(para).select(
            "doc_id", "text", F.explode(F.sequence(F.lit(0), F.lit(replicas - 1))).alias("r")
        ).select(
            (F.col("doc_id") + F.col("r") * stride).alias("doc_id"),
            # tag keeps replica text distinct so chunk-dedup doesn't collapse the volume
            F.concat(F.col("text"), F.lit(" replica "), F.col("r")).alias("text"),
        )
    return flat.repartition(para, "doc_id")


def run_kg_pipeline(spark, sf_dir: str, replicas: int = 1) -> dict:
    """Returns {"seconds", "n_triples", "n_docs"}.

    SPARK_GRAFT_CKPT=parquet routes stage snapshots to disk (fresh temp dir per
    run) — bounded memory at large replica counts; default keeps them on the
    block manager (fastest at small scale)."""
    from mmgraphrag_spark.pipeline import run_pipeline
    from mmgraphrag_spark.sources.documents import interleave_from_flat

    checkpointer = None
    if os.environ.get("SPARK_GRAFT_CKPT", "local") == "parquet":
        import tempfile

        from mmgraphrag_spark.plans import ParquetCheckpointer

        checkpointer = ParquetCheckpointer(
            spark,
            tempfile.mkdtemp(prefix="kgckpt_"),
            codec=os.environ.get("SPARK_GRAFT_CKPT_CODEC") or None,
        )

    flat = _scaled_documents(spark, sf_dir, replicas)
    n_docs = flat.count()
    docs = interleave_from_flat(flat)
    t0 = time.monotonic()
    out = run_pipeline(spark, docs, checkpointer=checkpointer)
    n_triples = out["triples"].count()
    dt = time.monotonic() - t0
    return {"seconds": dt, "n_triples": n_triples, "n_docs": n_docs}


def _standalone_probe_mrows(cpus: int) -> float:
    """The md5 capacity probe in its own short-lived process — the only
    reading that measures the HOST rather than this process's JVM state
    (see main()'s docstring for the same-minute 7 vs 41 Mrows/s evidence)."""
    import subprocess

    code = (
        "import sys,time; sys.path.insert(0, %r)\n"
        "from mmgraphrag_spark.session import build_session\n"
        "from pyspark.sql import functions as F\n"
        "spark = build_session('bench-probe', cpus=%d, shuffle_partitions=%d)\n"
        "rows = 20_000_000\n"
        "job = lambda: (spark.range(0, rows, 1, numPartitions=%d)\n"
        "    .select(F.md5(F.col('id').cast('string')).alias('h'))\n"
        "    .agg(F.max('h')).collect())\n"
        "job()\n"
        "t0 = time.monotonic(); job()\n"
        "print('PROBE_MROWS', round(rows / (time.monotonic() - t0) / 1e6, 2))\n"
        "spark.stop()\n"
    ) % (os.path.dirname(os.path.abspath(__file__)), cpus, cpus, cpus * 3)
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True
    ).stdout
    for line in out.splitlines():
        if line.startswith("PROBE_MROWS"):
            return float(line.split()[1])
    return float("nan")


def main() -> None:
    """Parent/child split: the query list runs in a CHILD process, and the
    post-run host probe runs in the parent only after the child has fully
    exited. Measured (BENCH.md round 5): a probe taken while the bench JVM
    is still resident reads 5.5-7.2 Mrows/s vs 41-46 seconds later once the
    process is gone — after spark.stop() the JVM spends tens of seconds in
    teardown (full GC of the dirtied heap + shuffle/checkpoint temp-dir
    deletion), and that, not host contention, floors a co-resident probe.
    A deliberately idle resident JVM costs only ~5% (A/B-tested), so the
    teardown activity is the whole effect."""
    from mmgraphrag_spark.session import default_cpus

    if os.environ.get("SPARK_GRAFT_BENCH_CHILD") != "1":
        import subprocess

        env = {**os.environ, "SPARK_GRAFT_BENCH_CHILD": "1"}
        child = subprocess.run(
            [sys.executable, os.path.abspath(__file__)],
            env=env, capture_output=True, text=True,
        )
        sys.stderr.write(child.stderr)
        line = ""
        for ln in child.stdout.splitlines():
            if ln.startswith("{"):
                line = ln
        if child.returncode != 0 or not line:
            sys.stdout.write(child.stdout)
            sys.exit(child.returncode or 1)
        result = json.loads(line)
        result["host_probe_mrows_post"] = _standalone_probe_mrows(
            default_cpus()
        )
        print(json.dumps(result))
        return

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = default_cpus()
    replicas = int(os.environ.get("SPARK_GRAFT_REPLICAS", "1"))

    from mmgraphrag_spark.session import build_session

    # 3x cores: finer shuffle tasks smooth stragglers at wider parallelism
    # (measured: 53 s -> 50 s at local[8] on the 2M-doc corpus)
    spark = build_session("bench", cpus=cpus, shuffle_partitions=3 * cpus)

    import __spark_entry__ as entry_mod

    def host_probe_mrows() -> float:
        """md5 scan-agg capacity probe (pure JVM, zero shuffle/IO): the
        host's absolute throughput in Mrows/s at this cpu count. BENCH.md
        documents run-to-run bandwidth contention of up to 2-5x on this VM —
        this number lets a reader normalize one bench line against another
        taken in a different window. Same whole-stage-codegen expression and
        cpus*3 partition layout as host_ceiling_control.RUNNER, but run
        in-session (scaling_bench's probes go through run_at, which spawns a
        subprocess + fresh SparkSession, so their ~15 s wall clock includes
        startup; the measured job itself is ~1-6 s depending on window)."""
        from pyspark.sql import functions as F

        rows = 20_000_000
        job = lambda: (
            spark.range(0, rows, 1, numPartitions=cpus * 3)
            .select(F.md5(F.col("id").cast("string")).alias("h"))
            .agg(F.max("h"))
            .collect()
        )
        job()  # JIT warm
        t0 = time.monotonic()
        job()
        return round(rows / (time.monotonic() - t0) / 1e6, 2)

    timings: dict[str, float] = {}

    # warmup at the smallest available sf: spawn+import python workers and
    # JIT the codegen paths once — the headline measures steady-state
    # throughput, not JVM/interpreter cold start (scaling_bench warms too)
    warm_dir = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.001")
    run_kg_pipeline(spark, warm_dir if os.path.isdir(warm_dir) else sf_dir, 1)

    probe_pre = host_probe_mrows()

    kg = run_kg_pipeline(spark, sf_dir, replicas)
    timings["kg_pipeline"] = round(kg["seconds"], 3)

    bench_queries = [
        "c1_chunking", "exact_dedup", "minhash_bands", "lsh_pairs", "simhash",
        "simhash_pairs", "near_dup_groups", "lang_id", "quality",
        "token_counts", "fingerprint", "link_stats",
        "ann_topk", "lsh_ann_topk", "ivf_topk", "embedding_near_dups",
        "embedding_near_dups_lsh", "centroid_dims",
        "a1_entity_merge", "a2_edge_merge", "a10_token_budget", "w4_ranking",
        "media_features", "w7_mm_limit", "p8_cache_hits",
        "repetition", "pii_scrub", "assign_split", "stratified_sample",
        "decontaminate", "decontaminate_spans", "pack_blocks", "pack_manifest",
        # NOT j13_media_rewrite: it reads the memoized _kg() pipeline run, so
        # its first-call timing is ~entirely a duplicate of the kg_pipeline
        # headline (measured 14.2 s vs <1 s for the join itself); its
        # correctness is covered by the driver's CORRECTNESS oracle row
    ]
    qs = entry_mod.queries()
    import gc

    for name in bench_queries:
        t0 = time.monotonic()
        n = qs[name](spark, sf_dir).count()
        timings[name] = round(time.monotonic() - t0, 3)
        # drop python-side refs so ContextCleaner can release the query's
        # localCheckpoint blocks — without this the block manager accumulates
        # every query's checkpoints and the JVM degrades over the list (the
        # in-session md5 probe falls ~35 -> ~10 Mrows/s front to back),
        # taxing later queries with GC pressure their plans didn't cause
        gc.collect()

    # the query-service IVF number: quantizer + inverted file built ONCE
    # OUTSIDE the timer (submit_job --build-ann-index shape), so this row is
    # the per-question probe cost alone — `ivf_topk` above deliberately keeps
    # the per-call refit because that is the exact-oracle shape
    from pyspark.sql import functions as F

    from mmgraphrag_spark.operators.similarity import build_ivf_index, ivf_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    idx = build_ivf_index(emb, n_centroids=8, max_iter=3)
    q = emb.filter(F.col("vec_id") < 5)
    t0 = time.monotonic()
    ivf_topk(None, q, k=10, n_probe=3, index=idx).count()
    timings["ivf_probe_prebuilt"] = round(time.monotonic() - t0, 3)

    total = round(sum(timings.values()), 3)
    sf = sf_dir.rstrip("/").split("sf")[-1]
    result = {
        "metric": "total_bench_seconds",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "cpus": cpus,
        "replicas": replicas,
        "kg_n_docs": kg["n_docs"],
        "kg_n_triples": kg["n_triples"],
        "kg_docs_per_sec": round(kg["n_docs"] / kg["seconds"], 2),
        "kg_triples_per_sec": round(kg["n_triples"] / kg["seconds"], 2),
        # host-capacity probes bracketing the run (md5 Mrows/s at this cpu
        # count; quiet-window reference ~16-17 at 8 cores, observed as low as
        # 4 under cross-VM bandwidth contention — see BENCH.md): compare
        # bench lines across windows via value/probe, not raw seconds.
        # post_injvm = this same probe at the END of the query list inside
        # this session — it under-reads host capacity ~4x (11-12 vs 41-46 in
        # the same minute; accumulated localCheckpoint block sets + GC churn),
        # so it is a JVM-heap-state signal, NOT a window signal. The true
        # post bracket (host_probe_mrows_post) is added by the parent process
        # after this child JVM has fully exited — see main()'s docstring.
        "host_probe_mrows_pre": probe_pre,
        "host_probe_mrows_post_injvm": host_probe_mrows(),
    }
    print(json.dumps(result))
    spark.stop()


if __name__ == "__main__":
    main()
