"""Seeded benchmark inputs and the independent oracles their outputs are checked against.

Everything here is a pure function of the seed, so two runs with one seed see
identical inputs. Generated parquet is cached under the work directory, keyed
by seed and size: regenerating it is set-up cost, never build time.
"""

from __future__ import annotations

import os
import random

import numpy as np

# the vocabulary and length range (10-100 words) of the flat `documents` table
# that `__spark_entry__` reads, so chunking and dedup see text of the same shape
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ["en"] * 8 + ["zh", "es", "fr", "de"] * 3
DUP_EVERY = 50  # every 50th doc repeats an earlier text (exact-dedup path)
TOP_K, THRESHOLD = 10, 0.2  # local_query defaults, mirrored by the seed oracle


def flat_documents(seed: int, n_docs: int, replicas: int = 1) -> dict:
    """Columns of a flat corpus ``(doc_id, text, lang, source, n_chars)``.

    The seed picks the doc_id base (which moves every closed-form KG value
    derived from doc_id) and the text. ``replicas`` > 1 appends tagged copies
    of the corpus at a seeded stride, as ``bench._scaled_documents`` does, so
    chunk dedup cannot collapse the volume."""
    rng = random.Random(seed)
    base = rng.randrange(10**6)
    texts: list[str] = []
    for i in range(n_docs):
        if i % DUP_EVERY == DUP_EVERY - 1:
            texts.append(texts[rng.randrange(i)])
        else:
            texts.append(" ".join(rng.choices(VOCAB, k=rng.randint(10, 100))))
    langs = [rng.choice(LANGS) for _ in range(n_docs)]
    sources = [f"src{rng.randrange(20)}" for _ in range(n_docs)]
    stride = n_docs + rng.randrange(1, 1000)
    cols: dict[str, list] = {"doc_id": [], "text": [], "lang": [], "source": []}
    for r in range(replicas):
        tag = f" replica {r}" if replicas > 1 else ""
        cols["doc_id"] += [base + r * stride + i for i in range(n_docs)]
        cols["text"] += [t + tag for t in texts]
        cols["lang"] += langs
        cols["source"] += sources
    cols["n_chars"] = [len(t) for t in cols["text"]]
    return cols


def flat_parquet(work_dir: str, seed: int, n_docs: int, replicas: int = 1) -> str:
    """Path of the cached parquet for ``flat_documents(seed, n_docs, replicas)``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = os.path.join(work_dir, "inputs", f"flat-s{seed}-n{n_docs}-r{replicas}.parquet")
    if not os.path.exists(path):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = f"{path}.{os.getpid()}.tmp"
        pq.write_table(pa.table(flat_documents(seed, n_docs, replicas)), tmp)
        os.replace(tmp, path)
    return path


def oracle_kg_triples(flat_path: str) -> list[tuple]:
    """The DuckDB ``kg_triples`` oracle of ``__spark_entry__`` over the same
    parquet the pipeline reads, as sorted (subj, pred, obj, weight) rows."""
    import duckdb

    import __spark_entry__ as entry

    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{flat_path}')")
        rows = con.execute(entry.oracle_sql()["kg_triples"]).fetchall()
    finally:
        con.close()
    return canonical_triples(rows)


def canonical_triples(rows) -> list[tuple]:
    return sorted((s, p, o, round(float(w), 6)) for s, p, o, w in rows)


def mention_counts(corpus) -> dict[int, int]:
    """Entity id -> how often ``ENTITY_<k>`` occurs in a ``datagen`` corpus
    (mentions, relation endpoints and captions)."""
    from mmgraphrag_spark.datagen import CAPTION_RE

    counts: dict[int, int] = {}
    for doc in corpus.docs:
        for _, text, _, _ in doc.spans:
            for k in CAPTION_RE.findall(text):
                counts[int(k)] = counts.get(int(k), 0) + 1
    return counts


def questions(seed: int, counts: dict[int, int], n: int) -> list[str]:
    """Seeded question list ``What is ENTITY_k related to?``, with k drawn in
    proportion to its mention count, so hubs are asked about as often as the
    corpus names them."""
    rng = random.Random(seed * 7919 + 1)
    ks = sorted(counts)
    picks = rng.choices(ks, weights=[counts[k] for k in ks], k=n)
    return [f"What is ENTITY_{k} related to?" for k in picks]


def hub_share(question_list: list[str]) -> float:
    """Share of the questions that name a hub entity (``datagen.HUB_KS``)."""
    from mmgraphrag_spark.datagen import HUB_KS

    hubs = {f"What is ENTITY_{k} related to?" for k in HUB_KS}
    return sum(q in hubs for q in question_list) / max(len(question_list), 1)


class SeedOracle:
    """Brute-force cosine top-k over the entity VDB, recomputed in numpy.

    The fold order of ``functions.vectors.cosine_similarity_col`` (left fold
    over dimensions, 1e-12 added to the norm product) is kept, so similarities
    are bit-identical to Spark's and ties and the threshold cut resolve the
    same way: (sim desc, entity_name asc), sim >= threshold."""

    def __init__(self, entity_rows):
        from mmgraphrag_spark.query import hash_embed_text

        self.names = [r[0] for r in entity_rows]
        texts = [" ".join(x for x in r if x is not None) for r in entity_rows]
        self.vecs = np.array([hash_embed_text(t) for t in texts], dtype=np.float64)
        self.norms = np.sqrt(_fold(self.vecs, self.vecs))

    def seeds(self, question: str) -> list[str]:
        from mmgraphrag_spark.query import hash_embed_text

        q = np.array(hash_embed_text(question), dtype=np.float64)
        qn = np.sqrt(_fold(q[None, :], q[None, :]))[0]
        sims = _fold(self.vecs, np.broadcast_to(q, self.vecs.shape)) / (
            self.norms * qn + 1e-12
        )
        hits = [(-s, n) for s, n in zip(sims.tolist(), self.names) if s >= THRESHOLD]
        return [n for _, n in sorted(hits)[:TOP_K]]


def _fold(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Row-wise dot product accumulated left to right, like Spark's aggregate."""
    acc = np.zeros(a.shape[0])
    for j in range(a.shape[1]):
        acc = acc + a[:, j] * b[:, j]
    return acc
