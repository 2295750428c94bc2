"""MMGraphRAGSpark facade: the reference's three-line surface
(construct -> index(path) -> query(q), mmgraphrag.py:92-141) on Spark."""

from __future__ import annotations

import os

import pytest

from mmgraphrag_spark import datagen
from mmgraphrag_spark.api import INPUT_MODE_MARKDOWN, MMGraphRAGSpark


@pytest.fixture(scope="module")
def md_corpus_dir(tmp_path_factory):
    """A directory of .md files carrying datagen-style sentences, so the
    deterministic extractor finds real entities/relations."""
    root = tmp_path_factory.mktemp("md_corpus")
    corpus = datagen.generate_documents(n_docs=6)
    for i, doc in enumerate(corpus.docs):
        text = "\n\n".join(s[1] for s in doc.spans if s[0] == "text")
        (root / f"doc_{i}.md").write_text(text, encoding="utf-8")
    return str(root)


def test_index_then_query_roundtrip(spark, md_corpus_dir, tmp_path):
    wd = str(tmp_path / "wd")
    rag = MMGraphRAGSpark(wd, input_mode=INPUT_MODE_MARKDOWN, spark=spark)
    out = rag.index(md_corpus_dir)
    assert out["triples"].count() > 0
    # tables persisted under working_dir like the reference's kv stores
    for name in ("entities", "edges", "triples", "chunks"):
        assert os.path.isdir(os.path.join(wd, name)), name
    answer = rag.query("What is ENTITY_2 related to?")
    assert isinstance(answer, str) and answer
    # S9 sink: the query log landed in working_dir
    assert os.path.isdir(os.path.join(wd, "query_log"))


def test_fresh_instance_reopens_indexed_working_dir(spark, md_corpus_dir, tmp_path):
    """A NEW instance pointed at an indexed working_dir answers without
    calling index() — the reference's __post_init__ storage-reload
    semantics (mmgraphrag.py:104-124)."""
    wd = str(tmp_path / "wd")
    MMGraphRAGSpark(wd, spark=spark).index(md_corpus_dir)
    reopened = MMGraphRAGSpark(wd, spark=spark)
    answer = reopened.query("What is ENTITY_2 related to?")
    assert isinstance(answer, str) and answer


def test_query_before_index_raises(spark, tmp_path):
    rag = MMGraphRAGSpark(str(tmp_path / "empty_wd"), spark=spark)
    with pytest.raises(FileNotFoundError, match="index"):
        rag.query("anything")


def test_bad_input_mode_rejected(spark, tmp_path):
    with pytest.raises(ValueError, match="input_mode"):
        MMGraphRAGSpark(str(tmp_path / "wd"), input_mode=7, spark=spark)


def test_markdown_mode_surfaces_minerus_image_bytes(spark, tmp_path):
    """input_mode=2 (MinerU layout): image files beside the .md, referenced
    relatively by the tags, land in the working_dir media table keyed by the
    SAME ref string the document spans carry — so the query path's
    multimodal branch can attach the bytes."""
    src = tmp_path / "mineru_out"
    (src / "images").mkdir(parents=True)
    png = b"\x89PNG\r\n\x1a\nfakebytes"
    (src / "images" / "fig1.png").write_bytes(png)
    # the ./ form is common MinerU/markdown output — must normalize to the
    # same ref string the media table carries
    (src / "doc.md").write_text(
        "ENTITY_5 is a PERSON associated with topic_1.\n\n"
        "![figure one](./images/fig1.png)\n\n"
        "ENTITY_5 RELATES_TO ENTITY_6 (w=2) regarding topic_1.",
        encoding="utf-8",
    )
    wd = str(tmp_path / "wd")
    rag = MMGraphRAGSpark(wd, input_mode=INPUT_MODE_MARKDOWN, spark=spark)
    out = rag.index(str(src))
    media = spark.read.parquet(os.path.join(wd, "media"))
    rows = media.collect()
    assert [(r.media_ref, r.mime, bytes(r.content)) for r in rows] == [
        ("images/fig1.png", "image/png", png)
    ]
    # the document spans carry the identical ref — the tables join
    spans = out["media_spans"].collect()
    assert any(r.media_ref == "images/fig1.png" for r in spans)


def test_reindex_reflects_new_corpus_and_drops_stale_index(spark, md_corpus_dir, tmp_path,
                                                           monkeypatch):
    """Re-indexing a working_dir with a DIFFERENT corpus must not resume the
    previous run's stage snapshots (silent wrong output), must retire a
    persisted ann_index built over the previous graph's vectors, and must
    not answer from the driver-resident query index of the previous graph."""
    import shutil

    from mmgraphrag_spark import query as Q

    contexts = []
    real = Q.local_query

    def local_query(*args, **kwargs):
        out = real(*args, **kwargs)
        contexts.append(out["context"])
        return out

    monkeypatch.setattr(Q, "local_query", local_query)
    wd = str(tmp_path / "wd")
    rag = MMGraphRAGSpark(wd, spark=spark)
    rag.index(md_corpus_dir)
    assert rag.query("What is ENTITY_2 related to?")
    stale = contexts[-1].splitlines()[2].split(",\t")[1]  # corpus A's top seed
    assert stale.startswith('"ENTITY_')
    # fake a persisted index from an earlier submit_job --build-ann-index
    os.makedirs(os.path.join(wd, "ann_index", "centroids"), exist_ok=True)

    corpus_b = str(tmp_path / "corpus_b")
    os.makedirs(corpus_b)
    with open(os.path.join(corpus_b, "only.md"), "w", encoding="utf-8") as f:
        f.write(
            "ENTITY_90 is a PERSON associated with topic_0. "
            "ENTITY_90 RELATES_TO ENTITY_91 (w=3) regarding topic_0. "
            "ENTITY_91 is a GEO associated with topic_0."
        )
    out = rag.index(corpus_b)
    names = {r.entity_name for r in out["entities"].collect()}
    assert '"ENTITY_90"' in names
    # corpus A's graph is gone — stages were rebuilt, not resumed
    assert '"ENTITY_2"' not in names
    assert not os.path.isdir(os.path.join(wd, "ann_index"))
    # the same instance answers from the new graph
    assert rag.query("What is ENTITY_90 related to?")
    assert "ENTITY_90" in contexts[-1]
    assert stale not in contexts[-1] and "ENTITY_2" not in contexts[-1]
    shutil.rmtree(wd, ignore_errors=True)


def test_failed_reindex_leaves_query_working_from_disk(spark, md_corpus_dir, tmp_path, monkeypatch):
    """A re-index that dies mid-pipeline must not poison query(): the cached
    DataFrames (backed by the cleared checkpoint) are dropped up front, so
    the next query reloads the intact on-disk tables."""
    import mmgraphrag_spark.pipeline as pipeline_mod

    wd = str(tmp_path / "wd")
    rag = MMGraphRAGSpark(wd, spark=spark)
    rag.index(md_corpus_dir)
    assert rag.query("What is ENTITY_2 related to?")

    real = pipeline_mod.run_pipeline
    monkeypatch.setattr(pipeline_mod, "run_pipeline",
                        lambda *a, **k: (_ for _ in ()).throw(RuntimeError("boom")))
    with pytest.raises(RuntimeError, match="boom"):
        rag.index(md_corpus_dir)
    monkeypatch.setattr(pipeline_mod, "run_pipeline", real)
    # the old graph is still on disk; query must answer from it
    assert rag.query("What is ENTITY_2 related to?")


def test_save_ivf_index_replaces_stale_index_dir(spark, tmp_path):
    """Re-saving over an existing ann_index must leave NOTHING of the old
    one: stale label partitions would merge under dynamic partition
    overwrite, and a surviving centroids/ would make a crashed half-save
    look loadable."""
    from pyspark.sql import functions as F

    from mmgraphrag_spark.operators.similarity import (
        build_ivf_index,
        load_ivf_index,
        save_ivf_index,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    idx_dir = tmp_path / "ann_index"
    stale = idx_dir / "inverted" / "label=999"
    stale.mkdir(parents=True)
    (stale / "junk.parquet").write_bytes(b"stale")
    save_ivf_index(build_ivf_index(emb, n_centroids=4, max_iter=2), str(idx_dir))
    assert not stale.exists()
    _, inverted = load_ivf_index(spark, str(idx_dir))
    labels = {r.label for r in inverted.select("label").distinct().collect()}
    assert 999 not in labels and labels


def test_ivf_topk_requires_corpus_or_index(spark):
    from pyspark.sql import functions as F

    from mmgraphrag_spark.operators import similarity as SIM

    q = spark.range(1).select(
        F.lit("q").alias("vec_id"), F.array(F.lit(1.0)).alias("embedding")
    )
    with pytest.raises(ValueError, match="prebuilt index"):
        SIM.ivf_topk(None, q)


def test_ivf_query_mode_caches_index(spark, md_corpus_dir, tmp_path):
    """ann_mode='ivf' on the facade fits the quantizer once per instance;
    a second query reuses it (cache object identity)."""
    wd = str(tmp_path / "wd")
    rag = MMGraphRAGSpark(wd, spark=spark, ann_mode="ivf", threshold=0.0)
    rag.index(md_corpus_dir)
    a1 = rag.query("What is ENTITY_2 related to?")
    idx_after_first = rag._ann_index
    assert idx_after_first is not None
    a2 = rag.query("What is ENTITY_3 related to?")
    assert rag._ann_index is idx_after_first
    assert isinstance(a1, str) and isinstance(a2, str)
