"""Graph-RAG query path tests (SURVEY.md §3.2 re-expression)."""

from __future__ import annotations

import gc
import os
import uuid
import weakref
from types import SimpleNamespace

import pytest

from mmgraphrag_spark import query as Q


def test_hash_embed_deterministic_unit():
    a = Q.hash_embed_text("ENTITY_1 is a PERSON")
    b = Q.hash_embed_text("ENTITY_1 is a PERSON")
    assert a == b
    assert abs(sum(x * x for x in a) - 1.0) < 1e-9


def test_ann_finds_named_entity(spark, pipeline_out):
    vdb = Q.build_entity_vdb(pipeline_out["entities"])
    qv = Q.hash_embed_text('"ENTITY_1" ENTITY_1')
    hits = Q.ann_entities(vdb, qv, top_k=5, threshold=0.0).collect()
    assert len(hits) == 5
    assert hits[0].rnk == 1


def test_local_query_end_to_end(spark, pipeline_out):
    out = Q.local_query(spark, pipeline_out, "What is ENTITY_1 related to?")
    assert out["seeds"].count() > 0
    assert out["edges"].count() > 0
    assert "-----Entities-----" in out["context"]
    assert "-----Relationships-----" in out["context"]
    assert "-----Sources-----" in out["context"]
    assert out["answer"].startswith("Q: What is ENTITY_1")


def test_query_log_appends(spark, pipeline_out, tmp_path):
    log_dir = str(tmp_path / "qlog")
    Q.local_query(spark, pipeline_out, "first?", log_dir=log_dir)
    Q.local_query(spark, pipeline_out, "second?", log_dir=log_dir)
    log = spark.read.parquet(log_dir)
    assert log.count() == 2
    assert {r.question for r in log.collect()} == {"first?", "second?"}


def test_query_log_reads_spark_and_driver_parts_alike(spark, tmp_path):
    """A log directory holding a part from the old Spark append and parts
    from the driver-side log_query reads back as one table: same schema,
    every row, timestamps from the write, text byte for byte."""
    from datetime import datetime, timezone

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    log_dir = str(tmp_path / "qlog")
    odd = "naïve — 東京\tcol\x00after NUL"
    written = {"old?": "old context", "new?": "new context", "odd?": odd}
    t0 = datetime.now(timezone.utc)
    spark.createDataFrame(
        [("old?", written["old?"], "old answer")], ["question", "context", "answer"]
    ).withColumn("ts", F.current_timestamp()).write.mode("append").parquet(log_dir)
    Q.log_query(spark, log_dir, "new?", written["new?"], "new answer")
    Q.log_query(spark, log_dir, "odd?", odd, "odd answer")
    t1 = datetime.now(timezone.utc)

    log = spark.read.parquet(log_dir)
    assert [(f.name, f.dataType) for f in log.schema.fields] == [
        ("question", T.StringType()), ("context", T.StringType()),
        ("answer", T.StringType()), ("ts", T.TimestampType()),
    ]
    rows = log.select("question", "context", F.unix_micros("ts").alias("us")).collect()
    assert sorted(r.question for r in rows) == sorted(written)
    lo, hi = (int(t.timestamp() * 1_000_000) for t in (t0, t1))
    for r in rows:
        assert r.us is not None and lo - 1 <= r.us <= hi + 1, (r, lo, hi)
        assert r.context.encode() == written[r.question].encode()
    assert not [n for n in os.listdir(log_dir) if "_tmp-" in n]


def test_log_query_runs_no_spark_job(spark, tmp_path):
    """log_query writes from the driver: a question's log append, into a
    fresh directory and into an existing one, starts no Spark job."""
    sc = spark.sparkContext
    log_dir = str(tmp_path / "qlog")
    sc.setJobGroup("log-only", "log_query without a job")
    try:
        Q.log_query(spark, log_dir, "first?", "ctx", "ans")
        Q.log_query(spark, log_dir, "second?", "ctx", "ans")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert list(sc.statusTracker().getJobIdsForGroup("log-only")) == []
    assert len([n for n in os.listdir(log_dir) if n.startswith("part-")]) == 2


def test_related_text_units_budget(spark, pipeline_out):
    vdb = Q.build_entity_vdb(pipeline_out["entities"]).localCheckpoint()
    qv = Q.hash_embed_text("ENTITY_2")
    ann = Q.ann_entities(vdb, qv, top_k=3, threshold=0.0)
    seeds = Q.seed_entities(pipeline_out["entities"], pipeline_out["edges"], ann)
    tu = Q.related_text_units(
        seeds, pipeline_out["entities"], pipeline_out["edges"],
        pipeline_out["chunks"], budget_tokens=50,
    )
    rows = tu.collect()
    # budget respected: total tokens of kept chunks <= 50
    total = sum(len(r.content.split()) for r in rows)
    assert total <= 50


def test_embed_backend_seam(spark):
    """M1 seam: a custom backend drives both the VDB and the query vector;
    the gated SentenceTransformer backend raises cleanly when absent."""
    import pytest as _pytest

    from mmgraphrag_spark.backends import embeddings as E

    class TwoHotBackend:
        def embed(self, texts):
            return [[1.0, 0.0] if "ENTITY_A" in t else [0.0, 1.0] for t in texts]

    ents = spark.createDataFrame(
        [('"ENTITY_A"', "T", "about a", ["c1"]), ('"ENTITY_B"', "T", "about b", ["c2"])],
        ["entity_name", "entity_type", "description", "source_ids"],
    )
    from mmgraphrag_spark.query import ann_entities, build_entity_vdb

    vdb = build_entity_vdb(ents, backend=TwoHotBackend())
    got = ann_entities(vdb, [1.0, 0.0], top_k=1).collect()
    assert got[0].entity_name == '"ENTITY_A"'

    try:
        import sentence_transformers  # noqa: F401

        has = True
    except ImportError:
        has = False
    if not has:
        with _pytest.raises(ImportError):
            E.SentenceTransformerBackend()
        assert isinstance(E.default_embed_backend(), E.HashEmbedBackend)


def test_ann_entities_plan_is_distributed_topk(spark, pipeline_out):
    """The per-query hot path must plan as TakeOrderedAndProject (per-
    partition top-k + k-row merge), NOT a global row_number window over the
    full VDB — the round-2 scale-killer (storage.py:298-323)."""
    vdb = Q.build_entity_vdb(pipeline_out["entities"])
    out = Q.ann_entities(vdb, Q.hash_embed_text("ENTITY_1"), top_k=5, threshold=0.0)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    # results unchanged vs the semantics: dense ranks 1..5, sim descending
    rows = out.orderBy("rnk").collect()
    assert [r.rnk for r in rows] == [1, 2, 3, 4, 5]
    assert all(rows[i].sim >= rows[i + 1].sim for i in range(4))


def test_related_edges_plans_hash_joins_only(spark, pipeline_out):
    """The seed-touch filter must plan as broadcast HASH joins: the naive
    disjunctive (src==s)|(tgt==s) semi-join has no equi-part and degrades to
    a BroadcastNestedLoopJoin — O(|edges| * k) comparisons per query.
    Semantics pinned against the disjunctive reference computed inline."""
    import pyspark.sql.functions as F

    edges = pipeline_out["edges"]
    seeds = (
        pipeline_out["entities"].select("entity_name").orderBy("entity_name").limit(3)
    )
    out = Q.related_edges(seeds, edges, budget_tokens=10**9)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan
    got = {(r.src, r.tgt) for r in out.collect()}
    s = {r.entity_name for r in seeds.collect()}
    want = {
        (r.src, r.tgt)
        for r in edges.collect()
        if r.src in s or r.tgt in s
    }
    assert got == want


def test_ann_modes_agree_on_planted_target(spark):
    """ann_mode wiring: a scripted embedding backend plants one entity whose
    vector matches the question exactly — all three modes must rank it #1,
    and approximate-mode recall vs exact is 1.0 on this construction."""

    class PlantedBackend:
        """Vector = one-hot-ish by entity index; the question maps to the
        TARGET's vector, sharing its sign-bit bucket and IVF cell exactly."""

        def embed(self, texts):
            out = []
            for t in texts:
                v = [0.0] * 16
                if "TARGET" in t:
                    v[0] = 1.0
                    v[8] = 1.0
                else:
                    idx = sum(ord(c) for c in t) % 7
                    v[1 + idx] = -1.0
                    v[9] = 1.0
                out.append(v)
            return out

    ents = spark.createDataFrame(
        [(f'"E_{i}"', "T", f"entity {i}", ["c1"]) for i in range(20)]
        + [('"TARGET"', "T", "the one", ["c2"])],
        ["entity_name", "entity_type", "description", "source_ids"],
    )
    vdb = Q.build_entity_vdb(ents, backend=PlantedBackend()).localCheckpoint()
    qv = PlantedBackend().embed(["find TARGET"])[0]
    exact = Q.ann_entities(vdb, qv, top_k=3, threshold=0.0).collect()
    assert exact[0].entity_name == '"TARGET"'
    for mode in ("lsh", "ivf"):
        got = Q.ann_entities_approx(
            vdb, qv, top_k=3, threshold=0.0, mode=mode, n_centroids=4
        ).orderBy("rnk").collect()
        assert got and got[0].entity_name == '"TARGET"', mode


def test_local_query_ann_modes_smoke(spark, pipeline_out):
    """local_query(ann_mode=...) end-to-end under each plan; lsh/ivf recall
    vs the exact seed set is reported and bounded below (hash embeddings are
    sign-random, so Hamming-1 multi-probe keeps a real fraction)."""
    exact = Q.local_query(spark, pipeline_out, "What is ENTITY_1 related to?",
                          threshold=0.0)
    exact_names = {r.entity_name for r in exact["seeds"].collect()}
    assert exact_names
    for mode in ("lsh", "ivf"):
        out = Q.local_query(spark, pipeline_out, "What is ENTITY_1 related to?",
                            threshold=0.0, ann_mode=mode)
        names = {r.entity_name for r in out["seeds"].collect()}
        assert names, mode  # bucketed probe still seeds the query
        assert names <= {r.entity_name for r in
                         pipeline_out["entities"].select("entity_name").collect()}
        assert "-----Entities-----" in out["context"]


def test_local_query_prebuilt_ivf_skips_vdb_build(spark, pipeline_out, monkeypatch):
    """Index-once-query-many: with a prebuilt IVF index, local_query must
    not rebuild (and eagerly materialize) the entity VDB per query — the
    inverted file already holds every corpus vector. Asserted by poisoning
    build_entity_vdb: the query must answer without ever calling it."""
    from pyspark.sql import functions as F

    from mmgraphrag_spark.operators.similarity import build_ivf_index

    vdb = Q.build_entity_vdb(pipeline_out["entities"]).localCheckpoint()
    idx = build_ivf_index(
        vdb.select(F.col("entity_name").alias("vec_id"), F.col("vec").alias("embedding")),
        n_centroids=4,
    )
    with_vdb = Q.local_query(spark, pipeline_out, "What is ENTITY_1 related to?",
                             threshold=0.0, ann_mode="ivf", ann_index=idx)
    expected = sorted(r.entity_name for r in with_vdb["seeds"].collect())

    def poisoned(*a, **k):
        raise AssertionError("build_entity_vdb must not run with a prebuilt index")

    monkeypatch.setattr(Q, "build_entity_vdb", poisoned)
    out = Q.local_query(spark, pipeline_out, "What is ENTITY_1 related to?",
                        threshold=0.0, ann_mode="ivf", ann_index=idx)
    assert sorted(r.entity_name for r in out["seeds"].collect()) == expected
    assert expected  # the probe actually seeded the query


def test_legacy_three_arg_answerer_still_works(spark, pipeline_out):
    """Answerers written to the pre-round-3 protocol (answer_image without
    image_b64) keep working — local_query inspects the signature before
    passing bytes."""

    class LegacyAnswerer:
        def answer(self, question, context):
            return "text answer"

        def answer_image(self, question, media_ref, context):
            return f"[legacy {media_ref}]"

        def merge(self, question, answers):
            return " | ".join(answers)

    from pyspark.sql import functions as F

    img = pipeline_out["entities"].filter(
        F.col("entity_type") == '"ORI_IMG"'
    ).first()
    refs = [s for s in img.source_ids if not s.startswith("chunk-")]
    media = spark.createDataFrame(
        [(refs[0], bytearray(b"JPEGBYTES"))], ["media_ref", "content"]
    )
    out = Q.local_query(
        spark, pipeline_out, f"what does {img.entity_name} show?",
        threshold=0.0, media=media, answerer=LegacyAnswerer(),
    )
    assert "[legacy " in out["answer"]


def test_multimodal_answer_carries_image_bytes(spark, pipeline_out):
    """The multimodal branch joins ranked ORI_IMG seeds to the media table
    and hands base64 bytes to answer_image (reference query.py:434-436)."""
    from pyspark.sql import functions as F

    img = pipeline_out["entities"].filter(
        F.col("entity_type") == '"ORI_IMG"'
    ).first()
    refs = [s for s in img.source_ids if not s.startswith("chunk-")]
    assert refs, "ORI_IMG entity should carry a media_ref source id"
    media = spark.createDataFrame(
        [(refs[0], bytearray(b"JPEGBYTES"))], ["media_ref", "content"]
    )
    out = Q.local_query(
        spark, pipeline_out, f"what does {img.entity_name} show?",
        threshold=0.0, media=media,
    )
    assert img.entity_name in out["mm_entities"]
    assert "+bytes" in out["answer"]  # TemplateAnswerer tags b64-bearing calls
    # without a media table the same query still answers, bytes-free
    out2 = Q.local_query(
        spark, pipeline_out, f"what does {img.entity_name} show?", threshold=0.0
    )
    assert "+bytes" not in out2["answer"]


def test_j13_media_rewrite_in_text_unit_scoring(spark):
    """J13 (reference query.py:44-61): with a media table, one-hop media refs
    rewrite to their associated chunk (raising its relation count); without
    one they contribute nothing; a neighbor citing both a chunk and an image
    associated with the SAME chunk counts once (set semantics)."""
    seeds = spark.createDataFrame(
        [('"A"', 1, ["chunk-1"])], ["entity_name", "rnk", "source_ids"]
    )
    entities = spark.createDataFrame(
        [
            ('"A"', ["chunk-1"]),
            # neighbor cites chunk-1 AND an image associated with chunk-1:
            # must count once, not twice
            ('"B"', ["chunk-1", "img://m1"]),
            # neighbor cites only an image associated with chunk-1
            ('"C"', ["img://m1"]),
            # neighbor with an unmapped media ref: contributes nothing
            ('"D"', ["img://orphan"]),
        ],
        ["entity_name", "source_ids"],
    )
    edges = spark.createDataFrame(
        [('"A"', '"B"'), ('"A"', '"C"'), ('"A"', '"D"')], ["src", "tgt"]
    )
    chunks = spark.createDataFrame(
        [("chunk-1", "some content here", 3)], ["chunk_id", "content", "tokens"]
    )
    media = spark.createDataFrame(
        [("img://m1", "d1", "chunk-1")], ["media_ref", "doc_id", "chunk_id"]
    )

    with_media = Q.related_text_units(
        seeds, entities, edges, chunks, media=media
    ).collect()
    assert len(with_media) == 1
    # B once (set-dedup) + C once via the rewrite; D's orphan ref dropped
    assert with_media[0].relation_counts == 2

    without = Q.related_text_units(seeds, entities, edges, chunks).collect()
    # no rewrite: only B's literal chunk-1 citation counts
    assert without[0].relation_counts == 1


# ---------------------------------------------------------------------------
# local_query against the distributed operator chain
# ---------------------------------------------------------------------------

def reference_query(spark, kg, question, *, vdb=None, ann_mode="exact",
                    ann_index=None, media=None, threshold=0.2,
                    text_budget=Q.TEXT_UNIT_BUDGET, edge_budget=Q.EDGE_BUDGET):
    """(context, answer, mm_entities) of ``question`` computed with the
    whole-table operators: seed_entities -> related_text_units /
    related_edges, the multimodal gate and a media join, all as Spark
    plans."""
    import base64

    from pyspark.sql import functions as F

    entities, edges, chunks = kg["entities"], kg["edges"], kg["chunks"]
    qv = Q.hash_embed_text(question)
    if vdb is None and ann_index is None:
        vdb = Q.build_entity_vdb(entities)
    if ann_mode == "exact":
        ann = Q.ann_entities(vdb, qv, threshold=threshold)
    else:
        ann = Q.ann_entities_approx(vdb, qv, threshold=threshold, mode=ann_mode,
                                    ann_index=ann_index)
    degrees = Q.node_degrees(edges)
    seeds = Q.seed_entities(entities, edges, ann.localCheckpoint(), degrees=degrees)
    seeds = seeds.localCheckpoint()
    text_units = Q.related_text_units(seeds, entities, edges, chunks, text_budget,
                                      media=kg.get("media_spans"))
    edge_rows = Q.related_edges(seeds, edges, edge_budget, degrees=degrees)

    def rows(df, schema):
        return df.select(*schema.names).collect()

    context = Q.assemble_context(
        rows(seeds.orderBy("rnk"), Q.SEEDS), rows(text_units, Q.TEXT_UNITS),
        rows(edge_rows, Q.RANKED_EDGES),
    )
    backend = Q.TemplateAnswerer()
    answer = backend.answer(question, context)
    imgs = Q.multimodal_entities(seeds).collect()
    b64 = {}
    if media is not None and imgs:
        refs = spark.createDataFrame(
            [(r.entity_name, c) for r in imgs for c in r.source_ids
             if not c.startswith("chunk-")],
            "entity_name string, media_ref string",
        )
        for r in (refs.join(media, "media_ref").groupBy("entity_name")
                  .agg(F.min("content").alias("content")).collect()):
            b64[r.entity_name] = base64.b64encode(bytes(r.content)).decode()
    mm = [r.entity_name for r in imgs]
    if mm:
        answer = backend.merge(question, [answer] + [
            backend.answer_image(question, n, context, image_b64=b64.get(n))
            for n in mm
        ])
    return context, answer, mm


@pytest.fixture(scope="module")
def query_kit(spark, pipeline_out):
    """A VDB, an ORI_IMG question with a one-image media table, and a
    prebuilt IVF index over the test KG."""
    from pyspark.sql import functions as F

    from mmgraphrag_spark.operators.similarity import build_ivf_index

    vdb = Q.build_entity_vdb(pipeline_out["entities"]).localCheckpoint()
    img = pipeline_out["entities"].filter(F.col("entity_type") == '"ORI_IMG"').first()
    ref = next(s for s in img.source_ids if not s.startswith("chunk-"))
    media = spark.createDataFrame([(ref, bytearray(b"JPEGBYTES"))], ["media_ref", "content"])
    return SimpleNamespace(
        kg=pipeline_out, vdb=vdb, media=media,
        img_question=f"what does {img.entity_name} show?",
        index=build_ivf_index(Q.vdb_as_corpus(vdb), n_centroids=4),
    )


# case -> kit -> (kg, question, local_query keywords); ``budgets`` swaps the
# module's token budgets for both paths
EQUIVALENCE_CASES = {
    "normal": lambda k: (k.kg, "What is ENTITY_1 related to?", {"vdb": k.vdb}),
    "hub": lambda k: (k.kg, "What is ENTITY_0 related to?", {"vdb": k.vdb}),
    "image_with_media": lambda k: (
        k.kg, k.img_question, {"vdb": k.vdb, "threshold": 0.0, "media": k.media}),
    "no_seed_above_threshold": lambda k: (
        k.kg, "What is ENTITY_1 related to?", {"vdb": k.vdb, "threshold": 2.0}),
    "kg_without_media_spans": lambda k: (
        {n: df for n, df in k.kg.items() if n != "media_spans"}, k.img_question,
        {"vdb": k.vdb, "threshold": 0.0}),
    "ivf_prebuilt_index": lambda k: (
        k.kg, "What is ENTITY_1 related to?",
        {"threshold": 0.0, "ann_mode": "ivf", "ann_index": k.index}),
    "tight_budgets": lambda k: (
        k.kg, "What is ENTITY_0 related to?", {"vdb": k.vdb, "budgets": (60, 40)}),
}


@pytest.fixture
def scan_path(monkeypatch):
    """Serve every lookup and the exact ANN from Spark: a zero-row index
    budget, and fresh caches so that no index built earlier is read."""
    monkeypatch.setattr(Q, "INDEX_ROWS", 0)
    monkeypatch.setattr(Q, "_TABLES", weakref.WeakKeyDictionary())
    monkeypatch.setattr(Q, "_VDBS", weakref.WeakKeyDictionary())


# the driver-resident index path keeps the plain case id; "-scan" forces the
# Spark lookups and ann_entities
@pytest.mark.parametrize("case, path", [
    pytest.param(c, p, id=c if p == "index" else f"{c}-scan")
    for c in sorted(EQUIVALENCE_CASES) for p in ("index", "scan")
])
def test_local_query_matches_operator_chain(spark, query_kit, monkeypatch, request, case, path):
    """local_query gives the byte-identical context, answer and multimodal
    entities of the whole-table operator chain, served from the
    driver-resident index and from Spark lookups alike."""
    if path == "scan":
        request.getfixturevalue("scan_path")
    kg, question, kw = EQUIVALENCE_CASES[case](query_kit)
    ref_kw = {n: v for n, v in kw.items() if n != "budgets"}
    if "budgets" in kw:
        text_budget, edge_budget = kw.pop("budgets")
        monkeypatch.setattr(Q, "TEXT_UNIT_BUDGET", text_budget)
        monkeypatch.setattr(Q, "EDGE_BUDGET", edge_budget)
        ref_kw.update(text_budget=text_budget, edge_budget=edge_budget)
    out = Q.local_query(spark, kg, question, **kw)
    context, answer, mm = reference_query(spark, kg, question, **ref_kw)
    assert out["context"] == context
    assert out["answer"] == answer
    assert out["mm_entities"] == mm
    # the path under test is the one that ran
    if "vdb" in kw:
        assert (Q._VDBS.get(kw["vdb"]) is None) == (path == "scan")
    if case != "no_seed_above_threshold":
        assert (Q._TABLES.get(kg["edges"]) is None) == (path == "scan")
    if case == "no_seed_above_threshold":
        assert context.count("\n") == 5  # three titles, three header rows
        assert out["seeds"].count() == 0
    if case == "image_with_media":
        assert "+bytes" in answer
    if case == "tight_budgets":
        full = reference_query(spark, kg, question, **ref_kw | {
            "text_budget": Q.TEXT_UNIT_BUDGET * 100, "edge_budget": Q.EDGE_BUDGET * 100})
        assert len(context) < len(full[0])  # the budgets did cut


def test_driver_ann_matches_ann_entities_bit_for_bit(spark):
    """The driver-side fold ranks a hand-made VDB exactly as ann_entities:
    duplicate vectors under different names tie and go by name, and a sim
    equal to the threshold is kept. A VDB with a NaN component, which Spark
    ranks above every number, falls back to ann_entities."""
    tie = [0.3, -1.7, 0.2, 2.9]
    vecs = [("d", tie), ("b", tie), ("a", tie), ("c", [1.1, 0.4, -0.9, 0.05]),
            ("e", [-2.0, 0.7, 0.1, 0.3]), ("f", [0.0, 0.0, 0.0, 0.0]),
            ("g", [0.9, 0.1, 0.35, 1.3])]
    schema = "entity_name string, vec array<double>"
    vdb = spark.createDataFrame(vecs, schema)
    qv = [0.35, -1.6, 0.2, 2.9]

    def spark_rows(df, top_k, threshold):
        return sorted(Q.ann_entities(df, qv, top_k, threshold).collect(), key=lambda r: r.rnk)

    def bits(rows):
        return [(r[0], repr(r[1]), r[2]) for r in rows]

    at = next(r.sim for r in spark_rows(vdb, 10, -2.0) if r.entity_name == "c")
    for top_k, threshold in [(10, -2.0), (2, -2.0), (10, at), (3, 0.0), (0, -2.0)]:
        got = Q._ann_rows(vdb, qv, top_k, threshold)
        assert bits(got) == bits(spark_rows(vdb, top_k, threshold)), (top_k, threshold)
    assert Q._VDBS[vdb] is not None  # the driver fold served them
    assert [r[0] for r in Q._ann_rows(vdb, qv, 2, -2.0)] == ["a", "b"]
    assert "c" in [r[0] for r in Q._ann_rows(vdb, qv, 10, at)]

    nan = spark.createDataFrame(vecs + [("h", [0.1, float("nan"), 0.2, 0.3])], schema)
    want = spark_rows(nan, 3, 0.0)
    assert want[0].entity_name == "h"
    assert bits(Q._ann_rows(nan, qv, 3, 0.0)) == bits(want)
    assert Q._VDBS[nan] is None


def _cached(spark) -> dict:
    """RDD id -> cached blocks, over the RDDs holding any."""
    return {r.id(): r.numCachedPartitions()
            for r in spark.sparkContext._jsc.sc().getRDDStorageInfo()
            if r.numCachedPartitions()}


def _jobs_of(spark, ask, question) -> list:
    """The Spark job ids one question runs, read from the status store,
    which runs no job."""
    sc = spark.sparkContext
    group = f"one-question-{uuid.uuid4()}"  # the status store keeps old groups' jobs
    sc.setJobGroup(group, "local_query job budget")
    try:
        ask(question)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return list(sc.statusTracker().getJobIdsForGroup(group))


def _warm_asker(spark, kg, tmp_path):
    """A logged exact-mode asker over ``kg`` and its own VDB, after one
    warm-up question on the hub, which looks up every KG table: each table's
    first lookup also decides its path (index or Spark), with one more job.
    The log directory exists from then on."""
    vdb = Q.build_entity_vdb(kg["entities"]).localCheckpoint()
    log_dir = str(tmp_path / "qlog")

    def ask(question):
        return Q.local_query(spark, kg, question, vdb=vdb, log_dir=log_dir)

    ask("What is ENTITY_0 related to?")
    assert all(kg[n] in Q._TABLES for n in ("entities", "edges", "chunks", "media_spans"))
    return ask


def test_local_query_job_budget_and_no_retained_blocks(spark, pipeline_out, tmp_path, scan_path):
    """On the Spark path (a KG over the index budget) a logged exact-mode
    question runs <= 7 Spark jobs (the ANN scan and the key-set lookups;
    the log append runs none), and five questions leave no cached block
    behind."""
    ask = _warm_asker(spark, pipeline_out, tmp_path)
    before = _cached(spark)
    jobs = _jobs_of(spark, ask, "What is ENTITY_1 related to?")
    assert 0 < len(jobs) <= 7, jobs
    for k in range(5):
        ask(f"What is ENTITY_{k} related to?")
    # the session is shared: earlier tests' RDDs may be cleaned meanwhile,
    # but no RDD may gain a block
    after = _cached(spark)
    assert all(after[i] == before.get(i) for i in after), (before, after)


def test_local_query_on_indexed_kg_runs_no_job(spark, pipeline_out, tmp_path):
    """Once a question has indexed the KG and the VDB on the driver, a
    logged question runs no Spark job, and five questions leave no cached
    block behind."""
    ask = _warm_asker(spark, pipeline_out, tmp_path)
    before = _cached(spark)
    assert _jobs_of(spark, ask, "What is ENTITY_1 related to?") == []
    for k in range(5):
        ask(f"What is ENTITY_{k} related to?")
    after = _cached(spark)
    assert all(after[i] == before.get(i) for i in after), (before, after)


def test_index_is_freed_with_its_dataframes(spark, pipeline_out, monkeypatch):
    """The caches hold their DataFrames weakly: once a kg dict and its VDB
    are gone, so is their index."""
    monkeypatch.setattr(Q, "_TABLES", type(Q._TABLES)())  # empty, of the module's kind
    monkeypatch.setattr(Q, "_VDBS", type(Q._VDBS)())
    kg = {n: pipeline_out[n].select("*") for n in ("entities", "edges", "chunks", "media_spans")}
    vdb = Q.build_entity_vdb(kg["entities"]).localCheckpoint()
    out = Q.local_query(spark, kg, "What is ENTITY_1 related to?", vdb=vdb)
    assert out["seeds"].count() > 0
    assert len(Q._TABLES) >= 3 and len(Q._VDBS) == 1
    refs = [weakref.ref(df) for df in [*kg.values(), vdb]]
    del kg, vdb, out
    gc.collect()
    assert all(r() is None for r in refs)
    assert len(Q._TABLES) == 0 and len(Q._VDBS) == 0
