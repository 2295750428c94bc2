"""Local graph-RAG query path (SURVEY.md §3.2; reference query.py:354-469).

Pipeline: embed(question) -> ANN top-k entities (cosine >= threshold, J8/J9/W6)
-> rehydrate node attrs + degree rank (J10, A6) -> most-related text units
(seed chunks + 1-hop co-occurrence scoring, J11/J12, W4) -> most-related edges
(degree+weight rank, W5) -> token-budget truncation (A10) -> three CSV context
sections (P12) -> answer backend (L11; deterministic template offline).

Embedding backend is the M1 seam: a vectorized pandas UDF. Offline mode uses
deterministic feature hashing (token -> signed bucket) of the same shape a
sentence-transformer backend would produce; swap ``embed_fn`` for a real model.

Scale notes: the reference answers a local query from memory (a numpy VDB,
a NetworkX graph), and so does ``local_query`` on a bounded KG. Each KG table
it reads (entities, edges, chunks, media_spans) and the caller's VDB is
collected to the driver by its first lookup (one Spark job), then held in a
driver-resident index: the rows, with a key -> row positions dict per key
column, and the VDB as a float64 matrix with its norms. The index is cached
per DataFrame object, weakly, so a re-index (which makes new DataFrames)
never reads a stale one, and an index is freed with its DataFrames. From
there a question runs no Spark job: the exact ANN is folded on the driver
with ``cosine_similarity_col``'s arithmetic and tie order, and the lookups
read the seeds' neighbourhood from the dicts — the edges touching the seeds,
the entity rows of the seeds and their 1-hop neighbours, the endpoints of
the edges touching those (their exact degrees, counted on the driver), the
media_spans rows of the neighbours' media refs, the seeds' chunks. Plain
Python then ranks and cuts those bounded rows. The budget is INDEX_ROWS rows
per DataFrame (measured driver RSS per row beside it). A table over budget
keeps one filtered scan per lookup (one Spark job, no shuffle), and a VDB
over budget, or one the driver fold cannot reproduce bit for bit, keeps
``ann_entities``' distributed top-k: ~7 jobs a question. The ``media`` image
bytes are always read by a filtered scan, since a row budget does not bound
them. The query log (``log_dir``) gets one driver-written parquet part per
question, through the Hadoop FS, with no Spark job. The distributed
operators below (node_degrees, seed_entities, one_hop_neighbors,
related_text_units, related_edges) are not the serving path: they state the
same rules as whole-table plans, for the oracle queries and the local_query
equivalence tests.
"""

from __future__ import annotations

import base64
import hashlib
import json
import os
import re
import uuid
import weakref
from collections import Counter, defaultdict
from datetime import datetime, timezone
from typing import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mmgraphrag_spark.functions.vectors import cosine_similarity_col
from mmgraphrag_spark.schema import EMBED_DIM

TEXT_UNIT_BUDGET, EDGE_BUDGET = 4000, 6000  # context token budgets (A10)

# ---------------------------------------------------------------------------
# M1: embedding backend (deterministic feature hashing; pluggable)
# ---------------------------------------------------------------------------

def hash_embed_text(text: str, dim: int = EMBED_DIM) -> list[float]:
    """Deterministic unit-norm embedding: each token adds +-1 to a hashed
    bucket (sign from the hash's next byte). Same function drives both the
    entity VDB and the query vector, so cosine similarity is meaningful."""
    v = np.zeros(dim, dtype=np.float64)
    for tok in (text or "").lower().split():
        h = hashlib.md5(tok.encode()).digest()
        v[h[0] % dim] += 1.0 if h[1] % 2 else -1.0
    n = np.linalg.norm(v)
    return (v / n if n > 0 else v).tolist()


def build_entity_vdb(entities: DataFrame, backend=None) -> DataFrame:
    """Entity VDB rows (reference create_EntityVDB, fusion.py:100-153):
    embed entity_name + description; returns (entity_name, vec).

    ``backend`` implements ``embed(texts) -> list[vec]`` (see
    backends/embeddings.py: HashEmbedBackend offline default,
    SentenceTransformerBackend in production — gated on the library)."""
    from mmgraphrag_spark.backends.embeddings import HashEmbedBackend

    backend = backend or HashEmbedBackend()

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield pd.DataFrame(
                {
                    "entity_name": pdf["entity_name"],
                    "vec": backend.embed(list(pdf["text"])),
                }
            )

    src = entities.select(
        "entity_name",
        F.concat_ws(" ", "entity_name", "description").alias("text"),
    )
    return src.mapInPandas(run, "entity_name string, vec array<double>")


def load_or_build_query_state(
    spark: SparkSession,
    entities: DataFrame,
    base_dir: str,
    ann_mode: str,
    embed_backend=None,
) -> tuple[DataFrame | None, tuple | None]:
    """(vdb, ann_index) for a query service — the ONE home of the
    load-or-build decision (scripts/query_job.py and api.MMGraphRAGSpark
    both route through here so the persisted-index layout/commit-marker
    convention has a single consumer). When ``ann_mode == "ivf"`` and a
    persisted ``<base_dir>/ann_index`` exists (its ``centroids/`` directory
    is the commit marker save_ivf_index writes last), load it — no VDB
    scan, embed, or quantizer refit at query time at all. Otherwise build
    the VDB once (localCheckpoint'ed for reuse across questions) and, for
    ivf, fit the index from it."""
    from mmgraphrag_spark.plans import fs_exists

    idx_dir = os.path.join(base_dir, "ann_index")
    if ann_mode == "ivf" and fs_exists(spark, os.path.join(idx_dir, "centroids")):
        from mmgraphrag_spark.operators.similarity import load_ivf_index

        return None, load_ivf_index(spark, idx_dir)
    vdb = build_entity_vdb(entities, backend=embed_backend).localCheckpoint()
    ann_index = None
    if ann_mode == "ivf":
        from mmgraphrag_spark.operators.similarity import build_ivf_index

        ann_index = build_ivf_index(vdb_as_corpus(vdb))
    return vdb, ann_index


def vdb_as_corpus(vdb: DataFrame) -> DataFrame:
    """Project the entity VDB into the (vec_id, embedding) corpus shape the
    operators/similarity functions consume — the single home of that schema
    contract (every IVF index builder call site routes through here)."""
    return vdb.select(
        F.col("entity_name").alias("vec_id"), F.col("vec").alias("embedding")
    )


# ---------------------------------------------------------------------------
# retrieval
# ---------------------------------------------------------------------------

def one_partition_key(col: str):
    """Constant window-partition key marking an INTENTIONAL single partition
    (input bounded by construction) without tripping Spark's "No Partition
    Defined" scale warning — which fires only on an EMPTY partition spec.
    NULL-safe: every row lands in the one group even when ``col`` is null.
    ORDER MATTERS: coalesce(length(c) * 0, 0) — the *0 child is nullable so
    Catalyst can't fold the whole thing to a literal (coalesce(length, 0)*0
    IS non-nullable -> folds to 0 -> the foldable key is dropped from the
    spec and the warning fires even on a bounded input)."""
    return F.coalesce(F.length(col) * 0, F.lit(0))


def _rank_bounded(scored: DataFrame, top_k: int) -> DataFrame:
    """Rank <= top_k pre-limited rows (the filter also ENFORCES the bound —
    an unbounded caller gets top_k rows, not a full global ranking)."""
    w = Window.partitionBy(one_partition_key("entity_name")).orderBy(
        F.desc("sim"), F.asc("entity_name")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= top_k)
        .select("entity_name", F.col("sim"), "rnk")
    )


def ann_entities(
    vdb: DataFrame,
    query_vec: list[float],
    top_k: int = 10,
    threshold: float = 0.2,
) -> DataFrame:
    """J9/W6: cosine >= threshold, top_k by similarity (storage.py:298-323).

    This is THE per-query hot path — at 100x entities a global row_number
    window would move every above-threshold row to one partition. Instead
    orderBy + limit plans as TakeOrderedAndProject (per-partition top-k,
    k-row merge), fully distributed; only the <= top_k survivors are ranked.
    """
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    scored = vdb.withColumn("sim", cosine_similarity_col(F.col("vec"), q)).filter(
        F.col("sim") >= threshold
    )
    top = scored.orderBy(F.desc("sim"), F.asc("entity_name")).limit(top_k)
    return _rank_bounded(top, top_k)


def ann_entities_approx(
    vdb: DataFrame | None,
    query_vec: list[float],
    top_k: int = 10,
    threshold: float = 0.2,
    mode: str = "lsh",
    n_bits: int = 8,
    n_centroids: int = 16,
    n_probe: int = 4,
    ann_index=None,
) -> DataFrame:
    """Scale-path ANN over the entity VDB: route the single query vector
    through similarity.lsh_topk (sign-bit multi-probe buckets) or
    similarity.ivf_topk (k-means inverted file) instead of scanning the full
    VDB. Same output shape as ann_entities; approximate recall (asserted vs
    exact in tests). Raise n_bits / n_centroids as the VDB grows — the plan
    shape is unchanged (bounded bucket equi-join). ``ann_index`` (mode
    "ivf": the result of similarity.build_ivf_index over this VDB) skips the
    per-call quantizer fit — a query service builds the index once; with an
    index, ``vdb`` may be None (the inverted file already holds every
    corpus vector, so no VDB scan or embed happens per query at all)."""
    from mmgraphrag_spark.operators import similarity as SIM

    if vdb is None:
        if mode != "ivf" or ann_index is None:
            raise ValueError("vdb=None requires mode='ivf' with a prebuilt ann_index")
        spark = ann_index[0].sparkSession
        corpus = None
    else:
        spark = vdb.sparkSession
        corpus = vdb_as_corpus(vdb)
    qdf = spark.createDataFrame(
        [("__query__", [float(x) for x in query_vec])],
        "vec_id string, embedding array<double>",
    )
    if mode == "lsh":
        hits = SIM.lsh_topk(corpus, qdf, k=top_k, n_bits=n_bits)
    elif mode == "ivf":
        hits = SIM.ivf_topk(
            corpus, qdf, k=top_k, n_centroids=n_centroids, n_probe=n_probe,
            index=ann_index,
        )
    else:
        raise ValueError(f"unknown ann mode: {mode!r}")
    scored = hits.select(
        F.col("neighbor_id").alias("entity_name"), F.col("cosine").alias("sim")
    ).filter(F.col("sim") >= threshold)
    # hits are already <= top_k per query; re-rank after the threshold cut so
    # rnk stays dense (1..n) like the exact path
    return _rank_bounded(scored, top_k)


def node_degrees(edges: DataFrame) -> DataFrame:
    """A6: degree per node (storage.py:453-460)."""
    nodes = edges.select(F.col("src").alias("entity_name")).unionAll(
        edges.select(F.col("tgt").alias("entity_name"))
    )
    return nodes.groupBy("entity_name").agg(F.count(F.lit(1)).alias("degree"))


def seed_entities(
    entities: DataFrame, edges: DataFrame, ann: DataFrame, degrees: DataFrame | None = None
) -> DataFrame:
    """J10: rehydrate ANN hits with node attrs + degree (query.py:239-253).
    Pass precomputed ``degrees`` when the caller needs them elsewhere too —
    node_degrees is a full edge scan + shuffle."""
    return (
        ann.join(entities, "entity_name")
        .join(degrees if degrees is not None else node_degrees(edges), "entity_name", "left")
        .fillna(0, subset=["degree"])
        .select("entity_name", "entity_type", "description", "source_ids", "sim", "rnk", "degree")
    )


def one_hop_neighbors(edges: DataFrame, seeds: DataFrame) -> DataFrame:
    """J11: union of both edge directions from the seed set (query.py:89-108)."""
    s = F.broadcast(seeds.select("entity_name"))
    fwd = edges.join(s, edges.src == s.entity_name).select(
        F.col("src").alias("seed"), F.col("tgt").alias("neighbor")
    )
    rev = edges.join(s, edges.tgt == s.entity_name).select(
        F.col("tgt").alias("seed"), F.col("src").alias("neighbor")
    )
    return fwd.unionByName(rev).distinct()


def related_text_units(
    seeds: DataFrame,
    entities: DataFrame,
    edges: DataFrame,
    chunks: DataFrame,
    budget_tokens: int = TEXT_UNIT_BUDGET,
    media: DataFrame | None = None,
) -> DataFrame:
    """J12 + W4 + A10 (query.py:63-155): seed source chunks scored by how many
    1-hop neighbors also cite them, ordered (seed rank asc, relation_counts
    desc), kept while the running token sum fits the budget.

    ``media`` (media_spans with the J2 chunk association) enables J13
    (query.py:44-61, 109-116 img_path2chunk_id): media refs in ONE-HOP
    provenance rewrite to the chunk the media span is associated with, so
    image evidence counts toward that chunk's relation score; refs with no
    association drop, and the per-neighbor provenance stays a SET after the
    rewrite (the reference rewrites inside set semantics — a neighbor citing
    both a chunk and an image associated with the same chunk counts once).
    Seed-side source ids keep the plain "chunk-" filter (P21), exactly where
    the reference applies it."""
    seed_chunks = seeds.select(
        "entity_name", F.col("rnk"), F.explode("source_ids").alias("chunk_id")
    ).filter(F.col("chunk_id").startswith("chunk-"))
    nbr_chunks = (
        one_hop_neighbors(edges, seeds)
        .join(
            entities.select(
                F.col("entity_name").alias("neighbor"), "source_ids"
            ),
            "neighbor",
        )
        .select("seed", "neighbor", F.explode("source_ids").alias("chunk_id"))
    )
    if media is not None:
        # ONE chunk per ref: the reference's path->chunk dict holds a single
        # association per image path; media_spans keeps one per OCCURRENCE,
        # so collapse deterministically (min) rather than fanning one ref's
        # evidence out to every associated chunk
        mmap = media.groupBy("media_ref").agg(
            F.min("chunk_id").alias("_mchunk")
        )
        nbr_chunks = (
            nbr_chunks.join(mmap, nbr_chunks.chunk_id == mmap.media_ref, "left")
            .withColumn(
                "chunk_id",
                F.when(
                    F.col("chunk_id").startswith("chunk-"), F.col("chunk_id")
                ).otherwise(F.col("_mchunk")),
            )
            .filter(F.col("chunk_id").isNotNull())
            .select("seed", "neighbor", "chunk_id")
            .distinct()
        )
    nbr_chunks = nbr_chunks.drop("neighbor")
    rel_counts = nbr_chunks.groupBy("chunk_id").agg(
        F.count(F.lit(1)).alias("relation_counts")
    )
    ranked = (
        seed_chunks.join(rel_counts, "chunk_id", "left")
        .fillna(0, subset=["relation_counts"])
        .groupBy("chunk_id")
        .agg(F.min("rnk").alias("order"), F.max("relation_counts").alias("relation_counts"))
        .join(chunks.select("chunk_id", "content", "tokens"), "chunk_id")
    )
    # single-partition window is intentional and safe: the input is bounded
    # by construction (top_k seeds x their cited chunks, not the corpus), and
    # the running token sum is inherently sequential (see one_partition_key).
    w = Window.partitionBy(one_partition_key("chunk_id")).orderBy(
        F.asc("order"), F.desc("relation_counts"), F.asc("chunk_id")
    )
    cum = (
        ranked.withColumn("_rn", F.row_number().over(w))
        .withColumn(
            "_cum",
            F.sum("tokens").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .filter(F.col("_cum") <= budget_tokens)
    )
    return cum.select("chunk_id", "content", "order", "relation_counts")


def related_edges(
    seeds: DataFrame,
    edges: DataFrame,
    budget_tokens: int = EDGE_BUDGET,
    degrees: DataFrame | None = None,
) -> DataFrame:
    """W5 + A10 (query.py:157-209): all seed edges ranked by (edge degree,
    weight) desc, token-truncated."""
    deg = degrees if degrees is not None else node_degrees(edges)
    # "edge touches any seed" as TWO broadcast hash left-joins + an OR filter
    # instead of a disjunctive left-semi: the (src==s)|(tgt==s) condition has
    # no equi-part, so Spark can only plan it as a BroadcastNestedLoopJoin —
    # O(|edges| * k) comparisons. Hash probes are O(|edges|). The seed
    # projection is deduped so the left-joins reproduce left-semi
    # multiplicity exactly.
    sd = seeds.select("entity_name").dropDuplicates(["entity_name"])
    ms = F.broadcast(sd.select(F.col("entity_name").alias("src"), F.lit(True).alias("_ms")))
    mt = F.broadcast(sd.select(F.col("entity_name").alias("tgt"), F.lit(True).alias("_mt")))
    seed_edges = (
        edges.join(ms, "src", "left")
        .join(mt, "tgt", "left")
        .filter(F.col("_ms").isNotNull() | F.col("_mt").isNotNull())
        .drop("_ms", "_mt")
        .join(deg.withColumnRenamed("entity_name", "src").withColumnRenamed("degree", "dsrc"), "src")
        .join(deg.withColumnRenamed("entity_name", "tgt").withColumnRenamed("degree", "dtgt"), "tgt")
        .withColumn("edge_rank", F.col("dsrc") + F.col("dtgt"))
    )
    # bounded input (seed edges only) + sequential budget sum: intentional
    # single partition (see one_partition_key)
    w = Window.partitionBy(one_partition_key("src")).orderBy(
        F.desc("edge_rank"), F.desc("weight"), F.asc("src"), F.asc("tgt")
    )
    toks = F.size(F.split(F.col("description"), r"\s+"))
    return (
        seed_edges.withColumn("_tok", toks)
        .withColumn(
            "_cum",
            F.sum("_tok").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .filter(F.col("_cum") <= budget_tokens)
        .select("src", "tgt", "description", "weight", "edge_rank")
    )


# ---------------------------------------------------------------------------
# per-question path: bounded lookups, then driver-side ranking
# ---------------------------------------------------------------------------

def _struct(**types) -> T.StructType:
    return T.StructType([T.StructField(n, t) for n, t in types.items()])


# local_query's rows; seeds come out in rank order, the rest in context order
_S = T.StringType()
SEEDS = _struct(entity_name=_S, entity_type=_S, description=_S, source_ids=T.ArrayType(_S),
                sim=T.DoubleType(), rnk=T.IntegerType(), degree=T.LongType())
TEXT_UNITS = _struct(chunk_id=_S, content=_S, order=T.IntegerType(),
                     relation_counts=T.LongType())
RANKED_EDGES = _struct(src=_S, tgt=_S, description=_S, weight=T.DoubleType(),
                       edge_rank=T.LongType())

# Spark's split(description, "\\s+") is a Java regex: ASCII whitespace only
_WS = re.compile(r"\s+", re.ASCII)


# Row budget of the driver-resident index, per DataFrame (KG table or VDB).
# Driver RSS per indexed row, measured on the query-service KG (2,581
# entities, 4,526 edges, 2,358 chunks, 600 media_spans rows): 0.8-1.2 KB for
# a KG-table row and 3.7 KB for a 64-dim VDB row (its collected Rows, before
# the matrix replaces them). At the budget that is ~60 MB per table and
# ~185 MB for a VDB; the bench KG's largest table uses 9% of it.
INDEX_ROWS = 50_000

# DataFrame -> its _Index (a VDB -> (names, matrix, norms)), or None when the
# DataFrame is served by Spark: over budget, or a VDB the driver fold cannot
# reproduce. Weak keys: a re-index makes new DataFrames, and an entry goes
# when its DataFrame does.
_TABLES: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()
_VDBS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _rows_within_budget(df: DataFrame) -> list | None:
    """Every row of ``df`` on the driver (one Spark job), or None when it
    has more than INDEX_ROWS."""
    rows = df.limit(INDEX_ROWS + 1).collect()
    return rows if len(rows) <= INDEX_ROWS else None


class _Index:
    """The rows of one DataFrame held on the driver, with a key -> row
    positions dict per key column, each built the first time it is asked
    for."""

    def __init__(self, columns: list[str], rows: list):
        self.columns, self.rows, self._by = columns, rows, {}

    def positions(self, col: str) -> dict:
        by = self._by.get(col)
        if by is None:
            by, j = defaultdict(list), self.columns.index(col)
            for i, r in enumerate(self.rows):
                by[r[j]].append(i)
            self._by[col] = by
        return by


def _scan(df: DataFrame, keys, key_cols: tuple, cols: tuple) -> list:
    """``cols`` of the rows of ``df`` whose value in any of ``key_cols`` is
    in ``keys``: one filtered scan (one Spark job, no shuffle), none at all
    for an empty key set. The keys travel as ONE JSON literal that constant
    folding turns into an array constant; a literal Column per key costs a
    Py4J round trip each (~0.6 ms), and a hub's neighbourhood has hundreds."""
    if not keys:
        return []
    wanted = F.from_json(F.lit(json.dumps(sorted(keys))), "array<string>")
    hit = F.array_contains(wanted, F.col(key_cols[0]))
    for c in key_cols[1:]:
        hit = hit | F.array_contains(wanted, F.col(c))
    return df.filter(hit).select(*cols).collect()


def _lookup(df: DataFrame, keys, key_cols: tuple, cols: tuple) -> list:
    """``_scan``'s rows, in its order and multiplicity, served from the
    driver-resident index of ``df``: its first lookup collects the
    DataFrame once (one Spark job); later ones run none. A DataFrame over
    INDEX_ROWS keeps the filtered scan."""
    if not keys:
        return []
    if df not in _TABLES:
        rows = _rows_within_budget(df)
        _TABLES[df] = None if rows is None else _Index(df.columns, rows)
    index = _TABLES[df]
    if index is None:
        return _scan(df, keys, key_cols, cols)
    hits = set()  # row positions: an edge matching at both ends comes once
    for c in key_cols:
        by = index.positions(c)
        for k in keys:
            hits.update(by.get(k, ()))
    at = [index.columns.index(c) for c in cols]
    return [tuple(index.rows[i][j] for j in at) for i in sorted(hits)]


def _fold(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Row-wise dot product accumulated left to right over the columns, as
    ``cosine_similarity_col``'s ``aggregate`` sums (a matmul sums in another
    order, and its last bits differ)."""
    acc = np.zeros(a.shape[0])
    for j in range(a.shape[1]):
        acc = acc + a[:, j] * b[:, j]
    return acc


def _held_vdb(vdb: DataFrame) -> tuple | None:
    """(names, matrix, norms) of the VDB, collected once; None when it is
    over budget or holds what Spark ranks differently: a null name or
    vector, vectors of different lengths (zip_with pads with nulls) or a
    non-finite component (Spark sorts NaN above every number)."""
    if vdb not in _VDBS:
        rows = _rows_within_budget(vdb)
        held = None
        if rows:
            names = [r["entity_name"] for r in rows]
            vecs = [r["vec"] for r in rows]
            if None not in names and all(v is not None for v in vecs) \
                    and len({len(v) for v in vecs}) == 1:
                m = np.asfortranarray(np.array(vecs, dtype=np.float64))
                if np.isfinite(m).all():
                    held = (names, m, np.sqrt(_fold(m, m)))
        _VDBS[vdb] = held
    return _VDBS[vdb]


def _ann_rows(vdb: DataFrame, query_vec, top_k: int, threshold: float) -> list:
    """``ann_entities``' rows (entity_name, sim, rnk) in rank order, computed
    on the driver from the VDB's index with the same arithmetic: the dot
    product and both norms folded left to right, then ``dot / (norm * qnorm
    + 1e-12)``; sim >= threshold, ordered (sim desc, entity_name asc), top_k
    numbered from 1. When the driver cannot reproduce that bit for bit (see
    ``_held_vdb``; a query of another length or with a non-finite component;
    a sim that overflows), ``ann_entities`` runs instead."""
    held = _held_vdb(vdb)
    q = np.asarray(query_vec, dtype=np.float64)[None, :]
    if held is not None and q.shape[1] == held[1].shape[1] and np.isfinite(q).all():
        names, m, norms = held
        with np.errstate(all="ignore"):
            sims = _fold(m, q) / (norms * np.sqrt(_fold(q, q))[0] + 1e-12)
        if np.isfinite(sims).all():
            ranked = sorted((-s, n) for s, n in zip(sims.tolist(), names) if s >= threshold)
            return [(n, -s, rnk) for rnk, (s, n) in enumerate(ranked[:top_k], 1)]
    return sorted(ann_entities(vdb, query_vec, top_k, threshold).collect(), key=lambda r: r["rnk"])


def _within_budget(rows: list, tokens: list, budget: int) -> list:
    """A10: keep the rows whose running token sum is <= budget (the window
    path's ``_cum <= budget`` filter)."""
    out, cum = [], 0
    for row, t in zip(rows, tokens):
        cum += t
        if cum <= budget:
            out.append(row)
    return out


def _rank_text_units(
    seeds: list, pairs: set, ents: dict, chunks: DataFrame,
    media_spans: DataFrame | None, budget: int,
) -> list:
    """related_text_units over the bounded rows: seed chunks scored by the
    1-hop neighbours citing them (J12; the J13 media rewrite and the
    per-(seed, neighbor, chunk) set only when ``media_spans`` is given),
    ordered (best seed rank, relation count desc, chunk_id), cut to the
    budget."""
    best: dict[str, int] = {}  # seed chunk -> min seed rank
    for s in seeds:
        for c in s[3]:
            if c is not None and c.startswith("chunk-"):
                best[c] = min(best.get(c, s[5]), s[5])
    cited = [
        (seed, nbr, c)
        for seed, nbr in pairs
        for e in ents.get(nbr, ())
        for c in e[3]
    ]
    if media_spans is not None:
        refs = {c for _, _, c in cited if c is not None and not c.startswith("chunk-")}
        home: dict[str, str] = {}  # media ref -> min associated chunk
        for ref, c in _lookup(media_spans, refs, ("media_ref",), ("media_ref", "chunk_id")):
            if c is not None and (ref not in home or c < home[ref]):
                home[ref] = c
        cited = {
            (seed, nbr, c if c is not None and c.startswith("chunk-") else home.get(c))
            for seed, nbr, c in cited
        }
    counts = Counter(c for _, _, c in cited)
    found = _lookup(chunks, best.keys(), ("chunk_id",), ("chunk_id", "content", "tokens"))
    ranked = sorted(found, key=lambda r: (best[r[0]], -counts[r[0]], r[0]))
    return _within_budget(
        [(c, content, best[c], counts[c]) for c, content, _ in ranked],
        [r[2] for r in ranked],
        budget,
    )


def _rank_edges(seed_edges: list, degree: Counter, budget: int) -> list:
    """related_edges over the bounded rows (W5): rank = sum of the endpoint
    degrees; ordered (rank desc, weight desc, src, tgt), cut to the budget."""
    ranked = sorted(
        ((s, t, d, w, degree[s] + degree[t]) for s, t, w, d in seed_edges),
        key=lambda e: (-e[4], -e[3], e[0], e[1]),
    )
    return _within_budget(ranked, [len(_WS.split(e[2])) for e in ranked], budget)


def _image_payloads(
    seeds: list, media: DataFrame | None, limit: int = 3
) -> list[tuple[str, str | None]]:
    """W7 + the reference's base64 image hand-off (query.py:434-436): the
    first ``limit`` ORI_IMG seeds by rank -> [(entity_name, image_b64 |
    None)], the image being the least content among the media rows of the
    entity's non-chunk source ids."""
    imgs = [s for s in seeds if s[1] == '"ORI_IMG"'][:limit]
    if media is None:
        return [(s[0], None) for s in imgs]
    refs = defaultdict(set)
    for s in imgs:
        refs[s[0]].update(
            c for c in s[3] if c is not None and not c.startswith("chunk-")
        )
    blobs = defaultdict(list)
    wanted = set().union(*refs.values())
    # image bytes: a row budget does not bound them, so no driver index
    for ref, blob in _scan(media, wanted, ("media_ref",), ("media_ref", "content")):
        if blob is not None:
            blobs[ref].append(bytes(blob))
    out = []
    for s in imgs:
        found = [b for r in refs[s[0]] for b in blobs[r]]
        out.append((s[0], base64.b64encode(min(found)).decode() if found else None))
    return out


# ---------------------------------------------------------------------------
# context assembly + answer
# ---------------------------------------------------------------------------

def _csv_section(rows: list, schema: T.StructType, cols: list[str], title: str) -> str:
    """P12: list-of-list -> ',\\t'-joined CSV text (base.py:259-265)."""
    at = [schema.names.index(c) for c in cols]
    lines = [",\t".join(cols)]
    for i, r in enumerate(rows):
        lines.append(",\t".join([str(i)] + [str(r[j]) for j in at]))
    return f"-----{title}-----\n" + "\n".join(lines)


def assemble_context(seeds: list, text_units: list, edge_rows: list) -> str:
    """query.py:264-311: three sections — entities, relationships, sources —
    from rows laid out as SEEDS, TEXT_UNITS and RANKED_EDGES."""
    return "\n".join(
        [
            _csv_section(seeds, SEEDS, ["entity_name", "entity_type", "description", "degree"], "Entities"),
            _csv_section(edge_rows, RANKED_EDGES, RANKED_EDGES.names, "Relationships"),
            _csv_section(text_units, TEXT_UNITS, ["content", "order", "relation_counts"], "Sources"),
        ]
    )


class TemplateAnswerer:
    """Deterministic offline stand-in for the RAG answer LLMs (L11-L13)."""

    def answer(self, question: str, context: str) -> str:
        top = context.splitlines()[2] if len(context.splitlines()) > 2 else ""
        return f"Q: {question}\nTop evidence: {top}"

    def answer_image(
        self, question: str, media_ref: str, context: str, image_b64: str | None = None
    ) -> str:
        """L12: per-image multimodal answer (stubbed: an MLLM backend sends
        the base64 image bytes as an image_url content part — see
        backends.llm.LLMAnswerer)."""
        tag = " +bytes" if image_b64 else ""
        return f"[image {media_ref}{tag}] relevant to: {question}"

    def merge(self, question: str, answers: list[str]) -> str:
        """L13: multi-answer merge."""
        return "\n".join(answers)


def multimodal_entities(seeds: DataFrame, limit: int = 3) -> DataFrame:
    """W7 (query.py:414-420): first ``number_of_mmentities`` ORI_IMG seeds."""
    return (
        seeds.filter(F.col("entity_type") == '"ORI_IMG"')
        .orderBy("rnk")
        .limit(limit)
    )


def log_query(spark: SparkSession, log_dir: str, question: str, context: str,
              answer: str) -> None:
    """S9 (query.py:395-397): append-mode query log — a parquet table of
    (question, context, answer, ts) instead of the reference's context.csv.

    Each call adds one snappy part file holding one row, serialized on the
    driver with pyarrow and written through the Hadoop FS (so hdfs:// and
    s3a:// log directories work) — no Spark job. ``ts`` is a UTC timestamp,
    which Spark reads as ``timestamp``, so ``spark.read.parquet(log_dir)``
    reads these parts and parts from a Spark ``write.mode("append")`` alike."""
    from mmgraphrag_spark.plans.checkpoint import _HadoopFS

    row = pa.table({
        "question": pa.array([question], pa.string()),
        "context": pa.array([context], pa.string()),
        "answer": pa.array([answer], pa.string()),
        "ts": pa.array([datetime.now(timezone.utc)], pa.timestamp("us", tz="UTC")),
    })
    buf = pa.BufferOutputStream()
    pq.write_table(row, buf, compression="snappy")
    path = os.path.join(log_dir, f"part-{uuid.uuid4()}.snappy.parquet")
    _HadoopFS(spark, log_dir).write_atomic(path, buf.getvalue().to_pybytes())


def local_query(
    spark: SparkSession,
    kg: dict,
    question: str,
    top_k: int = 10,
    threshold: float = 0.2,
    answerer=None,
    vdb: DataFrame | None = None,
    log_dir: str | None = None,
    embed_backend=None,
    ann_mode: str = "exact",
    ann_index=None,
    media: DataFrame | None = None,
) -> dict:
    """End-to-end local query over a run_pipeline() output dict.

    ``embed_backend`` (backends/embeddings.py) embeds BOTH the VDB and the
    question — they must share a space for the cosine ranking to mean
    anything. ``ann_mode`` picks the VDB ranking: "exact" (the full cosine
    top-k — the correctness baseline; folded on the driver from the
    index of the passed ``vdb``, else ``ann_entities``' distributed scan),
    "lsh" or "ivf" (bucketed approximate scans for VDBs too large to scan
    per query; pass ``ann_index`` from similarity.build_ivf_index to reuse
    one fitted quantizer across calls — refitting per question defeats the
    purpose). Pass the same ``kg`` DataFrames and ``vdb`` to every question:
    the first question on them builds the driver-resident index (see the
    module docstring), and each later one runs no Spark job while the KG
    is within INDEX_ROWS. ``media`` is an optional (media_ref, content
    binary) table; when given, ranked ORI_IMG seeds carry their base64
    image bytes into the multimodal answer branch. Returns {"seeds",
    "text_units", "edges", "context", "answer", "mm_entities"}; the first
    three are DataFrames over the question's bounded rows."""
    from mmgraphrag_spark.backends.embeddings import HashEmbedBackend

    entities, edges, chunks = kg["entities"], kg["edges"], kg["chunks"]
    embed_backend = embed_backend or HashEmbedBackend()
    # a prebuilt IVF index already holds every corpus vector — building (and
    # eagerly materializing) the VDB per query would re-scan + re-embed the
    # entities table for nothing, defeating index-once-query-many
    per_call_vdb = vdb is None and not (ann_mode == "ivf" and ann_index is not None)
    if per_call_vdb:
        vdb = build_entity_vdb(entities, backend=embed_backend).localCheckpoint()
    qv = embed_backend.embed([question])[0]
    if ann_mode == "exact" and not per_call_vdb:
        ann_rows = _ann_rows(vdb, qv, top_k, threshold)
    else:
        if ann_mode == "exact":  # indexing a VDB made for one question gains nothing
            ann = ann_entities(vdb, qv, top_k=top_k, threshold=threshold)
        else:
            ann = ann_entities_approx(
                vdb, qv, top_k=top_k, threshold=threshold, mode=ann_mode,
                ann_index=ann_index,
            )
        ann_rows = sorted(ann.collect(), key=lambda r: r["rnk"])
    hits = {r[0] for r in ann_rows}
    # edges touching the hits; their far ends hold every 1-hop neighbour
    hit_edges = _lookup(edges, hits, ("src", "tgt"), ("src", "tgt", "weight", "description"))
    ents = defaultdict(list)  # J10 rehydrate: hits and candidate neighbours
    near = hits.union(*((s, t) for s, t, _, _ in hit_edges))
    for e in _lookup(entities, near, ("entity_name",),
                     ("entity_name", "entity_type", "description", "source_ids")):
        ents[e[0]].append(e)
    seed_names = hits & ents.keys()
    seed_edges = [e for e in hit_edges if e[0] in seed_names or e[1] in seed_names]
    # J11: (seed, neighbor) over both edge directions
    pairs = {(s, t) for s, t, _, _ in seed_edges if s in seed_names} | {
        (t, s) for s, t, _, _ in seed_edges if t in seed_names
    }
    # A6: exact degrees of the seeds and neighbours — every endpoint of a
    # seed edge — from the edges touching them
    nodes = seed_names | {n for _, n in pairs}
    degree = Counter(x for st in _lookup(edges, nodes, ("src", "tgt"), ("src", "tgt")) for x in st)
    seeds = [
        (*e, sim, rnk, degree[e[0]])
        for name, sim, rnk in ann_rows
        for e in ents.get(name, ())
    ]
    # J13: the media_spans table (J2 chunk association) rewrites image refs
    # in one-hop provenance to their associated chunks
    text_units = _rank_text_units(
        seeds, pairs, ents, chunks, kg.get("media_spans"), TEXT_UNIT_BUDGET
    )
    edge_rows = _rank_edges(seed_edges, degree, EDGE_BUDGET)
    context = assemble_context(seeds, text_units, edge_rows)
    backend = answerer or TemplateAnswerer()
    answer = backend.answer(question, context)
    # multimodal branch (query.py:402-468): if ORI_IMG entities ranked, answer
    # per image (<=3, W7) with the image bytes attached when a media table is
    # available (query.py:434-436 sends base64 content) and merge (L12/L13)
    payloads = _image_payloads(seeds, media)
    mm = [name for name, _ in payloads]
    if mm:
        # third-party answerers written to the pre-round-3 3-arg protocol
        # (no image_b64) keep working — only pass bytes the backend can take
        import inspect

        params = inspect.signature(backend.answer_image).parameters
        takes_b64 = "image_b64" in params or any(
            p.kind == inspect.Parameter.VAR_KEYWORD for p in params.values()
        )
        img_answers = [
            backend.answer_image(question, name, context, image_b64=b64)
            if takes_b64
            else backend.answer_image(question, name, context)
            for name, b64 in payloads
        ]
        answer = backend.merge(question, [answer] + img_answers)
    if log_dir:
        log_query(spark, log_dir, question, context, answer)
    return {
        "seeds": spark.createDataFrame(seeds, SEEDS),
        "text_units": spark.createDataFrame(text_units, TEXT_UNITS),
        "edges": spark.createDataFrame(edge_rows, RANKED_EDGES),
        "context": context,
        "answer": answer,
        "mm_entities": mm,
    }
