"""Cross-modal entity fusion (SURVEY.md §2.8 M2-M7, §2.4 J3/J8/J14/J16, §4).

Reference pipeline (fusion.py:606-997): per image, gather "nearby" text entities
(chunk_order_index within +-1), spectral-cluster their description embeddings,
transfer a cluster label to each image entity via nearest neighbor, let an LLM
judge same-label candidates, then merge aligned pairs into the text graph with
entity canonicalization.

Spark-first re-expression (order-independent, per SURVEY §4 "sequential fold"
hazard):
  1. blocking     — one of three modes (pipeline ``blocking=``):
                    "neighborhood" (parity path, J3): one block per image with
                    the text entities within +-window chunks;
                    "lsh" (scale path): MinHash/LSH bands over char n-grams of
                    the normalized name (dedup.minhash_bands, the banding the
                    near-dup operators use);
                    "embedding": sign-bit buckets over name+description
                    embeddings (paraphrases whose names share no characters).
                    Block size is capped so the per-block O(n^3) eig stays
                    bounded; hub-entity skew handled by the cap + AQE.
  2. clustering   — applyInPandas per block: block-local tf-idf embeddings,
                    cosine Gram (M2), edge reweighting (M3), unnormalized
                    Laplacian + eigh with the reference's abs() quirk (M4),
                    epsilon-graph union-find clustering (M5 stand-in for DBSCAN,
                    documented deviation), nearest-text-neighbor label transfer
                    with a proper guard for tiny blocks (M6 — reference's
                    double-fit bug at fusion.py:315-319 is guarded, not copied).
  3. judging      — same-label candidate pairs (J14) through a pluggable judge
                    (deterministic normalized-name backend offline; LLM online).
  4. canonicalize — alias pairs -> connected components (hash-min loop) ->
                    contraction of entities/edges (J16). Canonical = the text
                    member with lexicographic-min name (deviation from the
                    reference's order-dependent fold, SURVEY §4).
"""

from __future__ import annotations

import math
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from mmgraphrag_spark import GRAPH_FIELD_SEP
from mmgraphrag_spark.functions import normalize_name
from mmgraphrag_spark.operators.dedup import minhash_bands

# ---------------------------------------------------------------------------
# 1. Blocking
# ---------------------------------------------------------------------------

def neighborhood_blocks(
    img_members: DataFrame,
    text_entity_occurrences: DataFrame,
    window: int = 1,
) -> DataFrame:
    """Parity blocking: one block per media span (= per image, like the
    reference's per-image fusion loop), containing the image's entities plus
    text entities sourced from chunks within +-window offsets in the same doc.

    img_members: (block_id=media_ref, doc_id, chunk_order_index, entity_name,
                  description)
    text_entity_occurrences: (entity_name, description, doc_id,
                  chunk_order_index) — one row per source-chunk occurrence.

    The join is an equi-join on doc_id plus a band predicate on the offset (J3)
    — Catalyst plans it as a shuffle join on doc_id; blocks never cross docs.
    """
    img = img_members.select(
        F.col("block_id"),
        F.col("doc_id"),
        F.col("chunk_order_index").alias("img_idx"),
    ).distinct()
    t = text_entity_occurrences.select(
        F.col("doc_id"),
        F.col("chunk_order_index").alias("txt_idx"),
        "entity_name",
        "description",
    )
    nearby = (
        img.join(t, "doc_id")
        .filter(F.abs(F.col("txt_idx") - F.col("img_idx")) <= window)
        .select(
            "block_id",
            "entity_name",
            F.lit("text").alias("kind"),
            "description",
        )
        .distinct()
    )
    img_nodes = img_members.select(
        "block_id", "entity_name", F.lit("img").alias("kind"), "description"
    ).distinct()
    return nearby.unionByName(img_nodes)

def name_key_lsh_blocks(
    entities_with_kind: DataFrame,
    bands: int = 4,
    rows_per_band: int = 2,
    char_ngram: int = 3,
) -> DataFrame:
    """Scale-path blocking for entity resolution: MinHash/LSH over CHARACTER
    n-grams of the normalized entity name (parenthetical qualifiers stripped —
    the same normalization the judge applies). Identical normalized names
    share every band; near-variant names collide with banding probability.
    Char n-grams via one regex-lookahead pass; the banding is
    :func:`dedup.minhash_bands`, so block ``b{b}|<sig>`` holds the names
    whose band-b signature is ``sig``.

    Input: (entity_name, kind, description); output (block_id, entity_name,
    kind, description) with one row per (entity, band).
    """
    key = F.regexp_replace(normalize_name(F.col("entity_name")), r"\([^)]*\)$", "")
    grams = F.regexp_extract_all(key, F.lit(r"(?=(.{%d}))" % char_ngram), 1)
    sh = F.when(F.size(grams) > 0, F.array_distinct(grams)).otherwise(F.array(key))
    keep = ["entity_name", "kind", "description"]
    return minhash_bands(
        entities_with_kind, sh, keep, bands=bands, rows_per_band=rows_per_band
    ).select(F.format_string("b%d|%s", "band", "sig").alias("block_id"), *keep)


def embedding_blocks(
    entities_with_kind: DataFrame,
    embed_backend=None,
    n_bits: int = 10,
    tables: int = 2,
) -> DataFrame:
    """Third blocking mode: EMBEDDING-similarity blocking — entities whose
    name+description embeddings share a sign-bit bucket become fusion
    candidates, with no positional or name-string constraint (catches
    paraphrased cross-modal duplicates the char-LSH path misses).

    Embeddings come from the M1 backend seam (hash-embed offline,
    sentence-transformers in production); buckets are the same axis-aligned
    sign-bit LSH the similarity/dedup operators use, over ``tables`` disjoint
    bit windows (a pair is a candidate if ANY table's buckets are within
    Hamming 1 — standard multi-table LSH recall amplification). IMAGE
    entities multi-probe Hamming-1 neighbors (they are the small side — the
    text corpus lands in ``tables`` buckets each, keeping membership linear).

    Recall depends on the backend: with real sentence embeddings matched
    entities sit at cosine >= 0.9 (sign-agreement ~0.9/bit -> ~93%+ recall at
    2 tables x 10 bits); the offline hash-embed stand-in is NOT semantic, so
    tests assert partial recall only. Output: (block_id, entity_name, kind,
    description), cap_blocks-compatible."""
    import pandas as pd  # noqa: F811 (executor-side)

    from mmgraphrag_spark.backends.embeddings import HashEmbedBackend
    from mmgraphrag_spark.operators.similarity import signbit_bucket

    backend = embed_backend or HashEmbedBackend()

    def run(batches):
        for pdf in batches:
            texts = [
                f"{n} {d or ''}" for n, d in zip(pdf["entity_name"], pdf["description"])
            ]
            out = pdf[["entity_name", "kind", "description"]].copy()
            out["vec"] = backend.embed(texts)
            yield out

    n_parts = entities_with_kind.sparkSession.sparkContext.defaultParallelism
    embedded = (
        entities_with_kind.select("entity_name", "kind", "description")
        .repartition(n_parts, "entity_name")
        .mapInPandas(
            run,
            "entity_name string, kind string, description string, vec array<double>",
        )
    )
    for t in range(tables):
        # disjoint bit window per table: sign bits of dims [t*n_bits+1 ..]
        sliced = F.slice(F.col("vec"), t * n_bits + 1, n_bits)
        embedded = embedded.withColumn(f"_bkt{t}", signbit_bucket(sliced, n_bits))
    embedded = embedded.localCheckpoint()  # consumed 2*tables times below
    parts = []
    for t in range(tables):
        bkt = F.col(f"_bkt{t}")
        parts.append(
            embedded.filter(F.col("kind") != "img").select(
                F.concat(F.lit(f"e{t}|"), bkt).alias("block_id"),
                "entity_name", "kind", "description",
            )
        )
        flips = F.array(
            bkt, *[bkt.bitwiseXOR(F.lit(1 << i)) for i in range(n_bits)]
        )
        parts.append(
            embedded.filter(F.col("kind") == "img")
            .select("entity_name", "kind", "description", F.explode(flips).alias("_b"))
            .select(
                F.concat(F.lit(f"e{t}|"), F.col("_b")).alias("block_id"),
                "entity_name", "kind", "description",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def cap_blocks(
    members: DataFrame, max_block: int = 2000, observation=None
) -> DataFrame:
    """Bound block cardinality so the per-block Gram/eig stays in UDF memory
    (SURVEY §7.4 block-size blowup): oversized blocks are salted into
    deterministic sub-blocks of <= max_block members. This is the hub-entity
    skew-salting point — a hot block becomes many bounded ones.

    Splitting is a recall trade (members of one oversized block can no longer
    alias across its sub-blocks) and downstream pair enumeration is
    O(max_block^2) per block — so a band that splits REPEATEDLY signals the
    blocking key is too coarse (lower the LSH band width / raise n_bits)
    rather than a reason to raise max_block. Pass a ``pyspark.sql.Observation``
    to surface it: metrics ``split_blocks`` (input blocks that overflowed) and
    ``extra_sub_blocks`` (additional blocks created) fire with the first
    action on the result, at zero extra jobs; :func:`log_split_blocks` turns
    them into a warning."""
    w = Window.partitionBy("block_id").orderBy("kind", "entity_name")
    numbered = members.withColumn("_rn", F.row_number().over(w))
    if observation is not None:
        rn = F.col("_rn")
        numbered = numbered.observe(
            observation,
            F.coalesce(
                F.sum((rn == max_block + 1).cast("long")), F.lit(0)
            ).alias("split_blocks"),
            F.coalesce(
                F.sum(((rn > 1) & (((rn - 1) % max_block) == 0)).cast("long")), F.lit(0)
            ).alias("extra_sub_blocks"),
        )
    return (
        numbered.withColumn(
            "block_id",
            F.concat_ws("#", "block_id", ((F.col("_rn") - 1) / max_block).cast("int")),
        )
        .drop("_rn")
    )


def log_split_blocks(observation, max_block: int) -> dict:
    """Read a cap_blocks Observation (after an action has run on its result!)
    and warn when any block overflowed — a pathological blocking band should
    be visible, not silently salted away. Returns the metrics dict."""
    import logging

    metrics = observation.get
    if metrics.get("split_blocks", 0):
        logging.getLogger("mmgraphrag_spark").warning(
            "fusion blocking: %d oversized blocks were salted into %d extra "
            "sub-blocks of <= %d members; repeated splitting means the "
            "blocking key is too coarse (widen LSH bands / raise n_bits) "
            "and trades alias recall across sub-blocks",
            metrics["split_blocks"],
            metrics["extra_sub_blocks"],
            max_block,
        )
    return metrics

# ---------------------------------------------------------------------------
# 2. Per-block spectral clustering (grouped-map pandas UDF)
# ---------------------------------------------------------------------------

def _tokenize(text: str) -> list:
    import re as _re

    return _re.findall(r"\w+", (text or "").lower())

def _dbscan_eps(emb: "np.ndarray", eps: float, min_samples: int) -> "np.ndarray":
    """Vectorized DBSCAN over dense coordinates (reference fusion.py:294-300
    semantics): core points have >= min_samples neighbors within eps
    (self counted, like sklearn); clusters are connected components of the
    core-core eps-graph; border points take the min adjacent core's cluster
    (deterministic stand-in for sklearn's scan-order assignment); everything
    else is noise label -1 — which the reference then USES as a regular group
    label, preserved here. Returns one label per row; cluster labels are the
    min core member index (stable, >= 0)."""
    nt = len(emb)
    sq = (emb * emb).sum(axis=1)
    d2 = sq[:, None] + sq[None, :] - 2.0 * (emb @ emb.T)
    d2 = (d2 + d2.T) * 0.5  # exact symmetry (BLAS rounding)
    adj = d2 <= eps * eps  # diagonal d2=0 keeps self-edges
    core = adj.sum(axis=1) >= min_samples
    tlabels = np.full(nt, -1, dtype=np.int64)
    if core.any():
        core_idx = np.flatnonzero(core)
        cadj = adj[np.ix_(core_idx, core_idx)]
        m = len(core_idx)
        lab = np.arange(m)
        while True:
            nbr_min = np.where(cadj, lab[None, :], m).min(axis=1)
            new = np.minimum(lab, nbr_min)
            new = new[new]  # pointer jumping: halve chain depth per round
            if np.array_equal(new, lab):
                break
            lab = new
        tlabels[core_idx] = core_idx[lab]
        border = (~core) & adj[:, core_idx].any(axis=1)
        if border.any():
            b_idx = np.flatnonzero(border)
            badj = adj[np.ix_(b_idx, core_idx)]
            core_lab = tlabels[core_idx]
            tlabels[b_idx] = np.where(
                badj, core_lab[None, :], np.iinfo(np.int64).max
            ).min(axis=1)
    return tlabels


def _cluster_block(
    names, kinds, descs, weights, roles, eps: float
):
    """numpy spectral clustering of one block (column slices, no pandas
    objects — at tens of thousands of tiny blocks per task, per-block
    DataFrame construction dominated the stage).

    Returns (node_names, node_kinds, labels ndarray)."""
    node_mask = roles == "node"
    n = int(node_mask.sum())
    if n == 0:
        return [], [], np.empty(0, dtype=np.int64)
    node_names = names[node_mask]
    node_kinds = kinds[node_mask]
    if n == 1:
        return list(node_names), list(node_kinds), np.zeros(1, dtype=np.int64)
    node_descs = descs[node_mask]
    # block-local tf-idf embeddings over name+description tokens
    docs = [
        _tokenize(name + " " + (desc or ""))
        for name, desc in zip(node_names, node_descs)
    ]
    vocab: dict = {}
    for toks in docs:
        for t in set(toks):
            vocab[t] = vocab.get(t, 0) + 1
    vlist = sorted(vocab)
    vidx = {t: i for i, t in enumerate(vlist)}
    X = np.zeros((n, len(vlist)))
    for i, toks in enumerate(docs):
        for t in toks:
            X[i, vidx[t]] += 1.0
    idf = np.log(1.0 + n / np.array([vocab[t] for t in vlist]))
    X *= idf
    norms = np.linalg.norm(X, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    Xn = X / norms
    # M2: cosine Gram
    A = Xn @ Xn.T
    np.fill_diagonal(A, 1.0)
    A = np.clip(A, 0.0, None)
    # M3: reweight known relationship pairs (symmetric), fusion.py:263-276
    idx = {name: i for i, name in enumerate(node_names)}
    edge_mask = ~node_mask
    for s, t, w in zip(names[edge_mask], descs[edge_mask], weights[edge_mask]):
        # edge rows smuggle src in entity_name, tgt in description
        if s in idx and t in idx:
            i, j = idx[s], idx[t]
            A[i, j] *= max(w, 1.0)
            A[j, i] = A[i, j]
    # The reference clusters the nearby TEXT entities only and brings image
    # entities in afterwards via kNN (fusion.py:280-330) — mirror that: the
    # Laplacian / eig / DBSCAN run on the text submatrix of the Gram.
    text_mask = node_kinds == "text"
    nt = int(text_mask.sum())
    labels = np.arange(n)
    if nt > 0:
        # M4: unnormalized Laplacian + eigendecomposition; reference uses
        # np.linalg.eig + abs() of possibly-complex eigvecs (fusion.py:286-292);
        # we use eigh on the symmetrized L (deterministic) and keep the abs().
        At = A[np.ix_(text_mask, text_mask)]
        D = np.diag(At.sum(axis=1))
        L = D - At
        L = (L + L.T) / 2.0
        k = max(2, math.ceil(math.sqrt(nt)))
        k = min(k, nt)
        vals, vecs = np.linalg.eigh(L)
        emb = np.abs(vecs[:, :k])
        # M5: DBSCAN over the spectral coords, reference parameters
        # (fusion.py:294-300): eps=0.5, min_samples = max(1, ceil(n_text/10)),
        # and the reference USES the noise label -1 as a regular group label
        # downstream — preserved. Fully vectorized: pairwise distances via the
        # Gram identity, core mask by neighbor count (self counted, like
        # sklearn), clusters = min-label propagation over the core-core
        # subgraph with pointer jumping, border points take the min adjacent
        # core's cluster (deterministic stand-in for sklearn's scan-order
        # assignment), everything else stays -1.
        min_samples = max(1, math.ceil(nt / 10))
        labels = labels.copy()
        labels[text_mask] = _dbscan_eps(emb, eps, min_samples)
    # M6: image entities take the label of the nearest TEXT entity by cosine
    # (n_neighbors=1 with a guard for blocks without text members; the
    # reference's unconditional n=3 refit crashes on tiny blocks — guarded).
    if text_mask.any() and not text_mask.all():
        sims = np.where(text_mask[None, :], A, -np.inf)  # cosine Gram
        nearest_txt = sims.argmax(axis=1)
        img_rows = ~text_mask
        labels[img_rows] = labels[nearest_txt[img_rows]]
    return list(node_names), list(node_kinds), labels

def spectral_cluster_blocks(
    members: DataFrame,
    block_edges: DataFrame | None = None,
    eps: float = 0.5,
) -> DataFrame:
    """(block_id, entity_name, kind, description) [+ block edges] ->
    (block_id, entity_name, kind, label) via applyInPandas per block.

    Edge rows are unioned in with role='edge' (src in entity_name, tgt in
    description, weight) so one grouped-map pass sees both. Blocks are bounded
    by cap_blocks upstream, keeping the O(n^3) eig per-task cheap.
    """
    nodes = members.select(
        "block_id",
        "entity_name",
        "kind",
        "description",
        F.lit(1.0).alias("weight"),
        F.lit("node").alias("role"),
    )
    if block_edges is not None:
        e = block_edges.select(
            "block_id",
            F.col("src").alias("entity_name"),
            F.lit("").alias("kind"),
            F.col("tgt").alias("description"),
            F.col("weight").cast("double").alias("weight"),
            F.lit("edge").alias("role"),
        )
        nodes = nodes.unionByName(e)

    out_schema = "block_id string, entity_name string, kind string, label long"

    def run_partition(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        # Blocks are tiny and numerous; per-group applyInPandas costs ~2-5ms
        # of pandas/Arrow overhead per group (measured: the fusion stage
        # barely scaled 8->32 cores). Instead: rows arrive hash-partitioned
        # and SORTED by block_id, so we stream Arrow batches, convert columns
        # to numpy ONCE per batch and cut groups at block-id change points
        # (pure array slicing — no per-block pandas objects, which dominated
        # the stage at tens of thousands of blocks per task), buffering the
        # possibly split trailing group across batch boundaries.
        pending: pd.DataFrame | None = None

        def emit(pdf: pd.DataFrame) -> pd.DataFrame:
            bid = pdf["block_id"].to_numpy()
            names = pdf["entity_name"].to_numpy()
            kinds = pdf["kind"].to_numpy()
            descs = pdf["description"].to_numpy()
            weights = pdf["weight"].to_numpy()
            roles = pdf["role"].to_numpy()
            cuts = np.flatnonzero(np.r_[True, bid[1:] != bid[:-1], True])
            out_bid, out_name, out_kind, out_label = [], [], [], []
            for s, e in zip(cuts[:-1], cuts[1:]):
                nn, nk, labels = _cluster_block(
                    names[s:e], kinds[s:e], descs[s:e], weights[s:e], roles[s:e], eps
                )
                out_bid.extend([bid[s]] * len(nn))
                out_name.extend(nn)
                out_kind.extend(nk)
                out_label.extend(labels.tolist())
            return pd.DataFrame(
                {
                    "block_id": out_bid,
                    "entity_name": out_name,
                    "kind": out_kind,
                    "label": out_label,
                }
            )

        for pdf in batches:
            if pending is not None:
                pdf = pd.concat([pending, pdf], ignore_index=True)
            if len(pdf) == 0:
                continue
            last_key = pdf["block_id"].iloc[-1]
            complete = pdf[pdf["block_id"] != last_key]
            pending = pdf[pdf["block_id"] == last_key]
            if len(complete):
                yield emit(complete)
        if pending is not None and len(pending):
            yield emit(pending)

    # EXPLICIT partition count: AQE would coalesce this tiny shuffle to 1-2
    # partitions (bytes-based), serializing the python stage — per-row python
    # cost is invisible to AQE's size heuristic. Explicit N disables coalescing
    # for this exchange.
    n_parts = nodes.sparkSession.sparkContext.defaultParallelism
    return (
        nodes.repartition(n_parts, "block_id")
        .sortWithinPartitions("block_id")
        .mapInPandas(run_partition, out_schema)
    )

# ---------------------------------------------------------------------------
# 3. Judge (J14)
# ---------------------------------------------------------------------------

def judge_alignment(
    clustered: DataFrame,
    backend=None,
    descriptions: DataFrame | None = None,
) -> DataFrame:
    """Same-block same-label (img, text) candidate pairs -> alias pairs (J14).

    ``backend=None`` (default, offline/deterministic): normalized image name
    with any trailing parenthesized qualifier stripped must equal the
    normalized text name — pure JVM expressions, stand-in for the reference's
    LLM judgment (fusion.py:227-242). One alias per image entity, best
    candidate by name order.

    ``backend`` set (e.g. :class:`mmgraphrag_spark.backends.llm.LLMJudge`):
    each image entity's same-cluster text candidates are gathered into ONE
    judge call — ``backend.judge(image_name, image_description, candidates)``
    must return the chosen candidate name or ``None`` (reference semantics:
    the reply must be exactly one candidate, anything else is no-match).
    ``descriptions`` (entity_name, description) feeds the judge prompt.
    Candidate gathering stays JVM-side; only the per-image judge call crosses
    into Python (Arrow batches, partitions pinned so AQE can't serialize the
    stage). Output: (alias, canonical).
    """
    img = clustered.filter(F.col("kind") == "img").select(
        "block_id", "label", F.col("entity_name").alias("img_name")
    )
    txt = clustered.filter(F.col("kind") == "text").select(
        "block_id", "label", F.col("entity_name").alias("txt_name")
    )
    if backend is None:
        img_norm = F.regexp_replace(normalize_name(F.col("img_name")), r"\([^)]*\)$", "")
        cand = (
            img.join(txt, ["block_id", "label"])
            .filter(img_norm == normalize_name(F.col("txt_name")))
            .select("img_name", "txt_name")
            .distinct()
        )
        w = Window.partitionBy("img_name").orderBy("txt_name")
        return (
            cand.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select(F.col("img_name").alias("alias"), F.col("txt_name").alias("canonical"))
        )

    cand = img.join(txt, ["block_id", "label"]).select("img_name", "txt_name").distinct()
    if descriptions is not None:
        desc = descriptions.select(
            F.col("entity_name").alias("img_name"),
            F.col("description").alias("img_desc"),
        )
        cand = cand.join(desc, "img_name", "left")
    else:
        cand = cand.withColumn("img_desc", F.lit(""))
    agg = cand.groupBy("img_name").agg(
        F.array_sort(F.collect_set("txt_name")).alias("cands"),
        F.coalesce(F.first("img_desc"), F.lit("")).alias("img_desc"),
    )

    def run(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        for pdf in batches:
            alias, canonical = [], []
            for name, desc, cands in zip(
                pdf["img_name"], pdf["img_desc"], pdf["cands"]
            ):
                cands = list(cands)
                choice = backend.judge(name, desc, cands)
                # hard validation mirroring the reference: the judged name
                # must be one of the offered candidates, else no match
                if choice is not None and choice in cands:
                    alias.append(name)
                    canonical.append(choice)
            yield pd.DataFrame({"alias": alias, "canonical": canonical})

    n_parts = clustered.sparkSession.sparkContext.defaultParallelism
    return agg.repartition(n_parts, "img_name").mapInPandas(
        run, "alias string, canonical string"
    )

def enhance_unaligned(
    entities: DataFrame,
    aliases: DataFrame,
    backend,
    img_types: tuple = ('"ORI_IMG"', '"IMG_ENTITY"', '"IMG"'),
) -> DataFrame:
    """L10 (reference fusion.py:556-595): image entities that the judge did
    NOT align get an LLM rewrite — clearer canonical name + fuller
    description. ``backend.enhance(items)`` takes/returns a list of
    {entity_name, entity_type, description} dicts matched by position (None =
    discard the batch, keep originals — the offline default behavior is
    simply not calling this operator).

    Returns (entity_name, enhanced_name, enhanced_description) rows for the
    entities the backend actually changed; the pipeline turns name changes
    into alias pairs (so the existing CC + contraction machinery performs the
    merge) and applies description updates before contraction."""
    import re as _re

    unaligned = (
        entities.filter(F.col("entity_type").isin(*img_types))
        .join(
            aliases.select(F.col("alias").alias("entity_name")),
            "entity_name",
            "left_anti",
        )
        .select("entity_name", "entity_type", "description")
    )

    def _quoted(name: str) -> str:
        name = (name or "").strip()
        if not (name.startswith('"') and name.endswith('"')):
            name = f'"{name}"'
        return name

    def run(batches):
        for pdf in batches:
            items = [
                {"entity_name": n, "entity_type": t, "description": d}
                for n, t, d in zip(
                    pdf["entity_name"], pdf["entity_type"], pdf["description"]
                )
            ]
            out = backend.enhance(items) if items else []
            olds, news, descs = [], [], []
            if out is not None:
                for orig, enh in zip(items, out):
                    new_name = _quoted(str(enh.get("entity_name", "")))
                    new_desc = str(enh.get("description", "") or "")
                    if new_name in ('""', ""):
                        continue
                    if new_name == orig["entity_name"] and (
                        not new_desc or new_desc == orig["description"]
                    ):
                        continue
                    olds.append(orig["entity_name"])
                    news.append(new_name)
                    descs.append(new_desc or orig["description"])
            yield pd.DataFrame(
                {
                    "entity_name": olds,
                    "enhanced_name": news,
                    "enhanced_description": descs,
                }
            )

    n_parts = entities.sparkSession.sparkContext.defaultParallelism
    return unaligned.repartition(n_parts, "entity_name").mapInPandas(
        run,
        "entity_name string, enhanced_name string, enhanced_description string",
    )


# ---------------------------------------------------------------------------
# 4. Connected components + contraction (J16)
# ---------------------------------------------------------------------------

def cluster_fusion(
    clustered: DataFrame, entities: DataFrame, backend
) -> DataFrame:
    """L9: one backend.fuse call per block deciding cluster-level fusion
    (reference fusion.py:459-545 judge_text_entity_alignment_clustering —
    there the unit is one image's KG; here it is the blocking unit, which the
    neighborhood path builds per image the same way).

    Per block, members are gathered JVM-side into one row (text entities
    grouped by cluster label, image entities with their labels — both sorted
    by name so the prompt is deterministic under Spark's nondeterministic
    collect order), then ONE Python call per block crosses the Arrow
    boundary. Output: merged records
    (block_id, entity_name, entity_type, description,
    source_image_entities, source_text_entities) — the LLM invents the
    merged name; apply with :func:`apply_cluster_fusion`.
    """
    enriched = clustered.join(
        entities.select("entity_name", "entity_type", "description"),
        "entity_name",
        "left",
    )
    per_block = enriched.groupBy("block_id").agg(
        F.collect_list(
            F.struct("label", "kind", "entity_name", "entity_type", "description")
        ).alias("members")
    )

    cols = (
        "block_id entity_name entity_type description "
        "source_image_entities source_text_entities"
    ).split()

    def run(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        for pdf in batches:
            out: dict = {k: [] for k in cols}
            for bid, members in zip(pdf["block_id"], pdf["members"]):
                clusters: dict = {}
                imgs = []
                for m in sorted(members, key=lambda m: m["entity_name"] or ""):
                    rec = {
                        "entity_name": m["entity_name"],
                        "entity_type": m["entity_type"] or "",
                        "description": m["description"] or "",
                    }
                    if m["kind"] == "img":
                        imgs.append({**rec, "label": int(m["label"])})
                    else:
                        clusters.setdefault(int(m["label"]), []).append(rec)
                cl = [
                    {"label": k, "text_entities": v}
                    for k, v in sorted(clusters.items())
                ]
                for it in backend.fuse(cl, imgs):
                    # reference fusion.py:539-544 DROPS items missing either
                    # source list; enforce that here so a third-party backend
                    # that skips the filter can't KeyError the whole stage
                    srcs_img = it.get("source_image_entities") or []
                    srcs_txt = it.get("source_text_entities") or []
                    if not srcs_img or not srcs_txt:
                        continue
                    out["block_id"].append(bid)
                    out["entity_name"].append(str(it.get("entity_name", "")))
                    out["entity_type"].append(str(it.get("entity_type", "")))
                    out["description"].append(str(it.get("description", "")))
                    out["source_image_entities"].append(
                        [str(x) for x in srcs_img]
                    )
                    out["source_text_entities"].append(
                        [str(x) for x in srcs_txt]
                    )
            yield pd.DataFrame(out)

    n_parts = clustered.sparkSession.sparkContext.defaultParallelism
    return per_block.repartition(n_parts, "block_id").mapInPandas(
        run,
        "block_id string, entity_name string, entity_type string, "
        "description string, source_image_entities array<string>, "
        "source_text_entities array<string>",
    )


def apply_cluster_fusion(
    entities: DataFrame,
    edges: DataFrame,
    merged: DataFrame,
    extra_pairs: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Apply L9 merged records with the reference's merge_graphs semantics
    (fusion.py:870-998): per record, every source entity contracts into the
    FIRST image source; that node is then renamed to the LLM's
    ensure_quoted merged name, its type/description become the LLM's merged
    values, and its source_ids become img0's ++ txt0's (the reference joins
    exactly those two nodes' source_id strings; we array-union them).
    Overlapping records resolve through the deterministic CC machinery
    instead of the reference's order-dependent sequential fold (same
    documented deviation as alias_map, SURVEY §4). ``extra_pairs`` lets L10
    enhancer renames ride the same contraction. ``merged`` is per-image LLM
    output — tiny — so the small frames derived from it (pairs, overrides,
    rename map) are the BROADCAST sides everywhere; they are materialized
    once (localCheckpoint) because each feeds several broadcast builds and a
    broadcast build re-executes its sub-plan (CLAUDE.md rule 8). The big
    entities table is never broadcast — its source_ids lookup is left-semi
    pruned to the handful of img0/txt0 keys first.

    Returns (entities, edges, aliases) where aliases maps every source
    entity — including the renamed target itself — to its FINAL
    (post-rename) canonical name.
    """
    from mmgraphrag_spark.functions.text import ensure_quoted

    recs = merged.select(
        ensure_quoted(F.col("entity_name")).alias("_new"),
        F.col("entity_type").alias("_ty"),
        F.col("description").alias("_desc"),
        F.col("source_image_entities").getItem(0).alias("_tgt"),
        F.col("source_text_entities").getItem(0).alias("_txt0"),
        F.array_distinct(
            F.concat("source_image_entities", "source_text_entities")
        ).alias("_sources"),
    ).localCheckpoint()
    pairs = (
        recs.select(F.explode("_sources").alias("alias"), F.col("_tgt").alias("canonical"))
        .filter(F.col("alias") != F.col("canonical"))
        .distinct()
    )
    if extra_pairs is not None:
        pairs = pairs.unionByName(extra_pairs)
    # records are disjoint stars unless a target is also someone's source or
    # a source appears in two records — then resolve transitively
    if not _disjoint_stars(pairs):
        # canonical per component: prefer a record target (img0), then a
        # node that was a canonical in the input pairs (e.g. an enhancer
        # rename target — a rename-only component has no record target and
        # must NOT be dropped), else the min member name.
        comp = connected_components(pairs)
        tgts = (
            recs.select(F.col("_tgt").alias("entity_name"))
            .distinct()
            .withColumn("_t0", F.lit(0))
        )
        cans = (
            pairs.select(F.col("canonical").alias("entity_name"))
            .distinct()
            .withColumn("_c1", F.lit(1))
        )
        canon = (
            comp.join(F.broadcast(tgts), "entity_name", "left")
            .join(F.broadcast(cans), "entity_name", "left")
            .withColumn("_p", F.coalesce("_t0", "_c1", F.lit(2)))
            .groupBy("component")
            .agg(
                F.min(F.struct(F.col("_p"), F.col("entity_name").alias("n")))
                .getField("n")
                .alias("canonical")
            )
        )
        pairs = (
            comp.join(canon, "component")
            .filter(F.col("entity_name") != F.col("canonical"))
            .select(F.col("entity_name").alias("alias"), "canonical")
        )
    # pairs feeds three broadcast builds inside contract() plus the aliases
    # output — materialize once (tiny)
    pairs = pairs.localCheckpoint()

    # per-target override (min-struct keeps it deterministic when two
    # records share a target): new name, type, description, img0++txt0 ids.
    # The source_ids lookup left-semi-prunes the BIG entities table down to
    # the few img0/txt0 keys (broadcasting the keys, never the table).
    keys = (
        recs.select(F.col("_tgt").alias("entity_name"))
        .unionByName(recs.select(F.col("_txt0").alias("entity_name")))
        .distinct()
    )
    sids = (
        entities.select("entity_name", F.col("source_ids").alias("_s"))
        .join(F.broadcast(keys), "entity_name", "left_semi")
        .localCheckpoint()
    )
    ov = (
        recs.groupBy("_tgt")
        .agg(F.min(F.struct("_new", "_ty", "_desc", "_txt0")).alias("o"))
        .select(
            "_tgt",
            F.col("o._new").alias("_new"),
            F.col("o._ty").alias("_ty"),
            F.col("o._desc").alias("_desc"),
            F.col("o._txt0").alias("_txt0"),
        )
        .join(F.broadcast(sids.withColumnRenamed("entity_name", "_tgt")), "_tgt", "left")
        .withColumnRenamed("_s", "_img_sids")
        .join(F.broadcast(sids.withColumnRenamed("entity_name", "_txt0")), "_txt0", "left")
        .withColumn(
            "_ov_sids",
            F.array_distinct(
                F.concat(
                    F.coalesce(F.col("_img_sids"), F.array().cast("array<string>")),
                    F.coalesce(F.col("_s"), F.array().cast("array<string>")),
                )
            ),
        )
        .select("_tgt", "_new", "_ty", "_desc", "_ov_sids")
        .localCheckpoint()  # feeds ents2 + two edge joins + the rename map
    )

    ents_c, edges_c = contract(entities, edges, pairs)
    ents2 = (
        ents_c.join(
            F.broadcast(ov), ents_c["entity_name"] == ov["_tgt"], "left"
        )
        .select(
            F.coalesce(F.col("_new"), F.col("entity_name")).alias("entity_name"),
            F.coalesce(F.col("_ty"), F.col("entity_type")).alias("entity_type"),
            F.coalesce(F.col("_desc"), F.col("description")).alias("description"),
            F.coalesce(F.col("_ov_sids"), F.col("source_ids")).alias("source_ids"),
        )
        # a rename can collide with an existing node — re-merge those groups
        .groupBy("entity_name")
        .agg(F.min("entity_type").alias("entity_type"), *_merged_attrs())
    )
    # rename only targets that SURVIVED contraction: under CC resolution a
    # record's target can itself be aliased into another component canonical
    # — renaming the dead name would emit alias rows pointing at an entity
    # that never materializes
    rmap = (
        ov.filter(F.col("_new") != F.col("_tgt"))
        .join(pairs.select(F.col("alias").alias("_tgt")), "_tgt", "left_anti")
        .select(F.col("_tgt").alias("old"), F.col("_new").alias("new"))
    )
    edges2 = _rewrite_merge_edges(
        edges_c,
        rmap.select(F.col("old").alias("alias"), F.col("new").alias("canonical")),
    )
    aliases = (
        pairs.join(
            F.broadcast(rmap.withColumnRenamed("old", "canonical")),
            "canonical",
            "left",
        )
        .select(
            "alias", F.coalesce(F.col("new"), F.col("canonical")).alias("canonical")
        )
        # the renamed target itself also resolves to its final name — without
        # this row a lookup of img0 against the fused graph would dangle
        .unionByName(
            rmap.select(F.col("old").alias("alias"), F.col("new").alias("canonical"))
        )
        .distinct()
    )
    return ents2, edges2, aliases


def connected_components(pairs: DataFrame, max_iter: int = 50) -> DataFrame:
    """Hash-min label propagation with stale pointer jumping over undirected
    (alias, canonical) pairs.

    Returns (entity_name, component) where component = min name/id reachable.
    Iterates until fixpoint with localCheckpoint per round to cut lineage
    (SURVEY §4 "connected components"); alias graphs are shallow (stars), so
    this converges in 2-3 rounds. Plain hash-min moves labels ONE hop per
    round — diameter-many rounds for long CHAINS (near-dup drift graphs at
    web scale chain for hundreds of hops). Each round therefore adds a
    pointer jump THROUGH THE PREVIOUS ROUND'S materialized labels: labels
    are node ids, so after the neighbor-min step the new label ``mid`` is
    joined back against last round's (entity_name -> component) map and
    replaced by ``component(mid)`` when smaller. The jump side is already
    checkpointed (it IS last round's output), so the extra equi-join
    recomputes nothing and the loop stays ONE driver action per round;
    min-label reach grows 2^k - 1 after k rounds (each round: +1 hop from
    the neighbor step, then doubling through the stale map), so max_iter=50
    covers any graph this engine could materialize. The late-round jump key
    skews toward component minima — probe-side skew on an equi-join, which
    AQE skew-join splits (session.py enables it). Raises RuntimeError
    instead of silently returning unconverged labels when ``max_iter`` is
    exhausted (a safety net, no longer a practical bound)."""
    # cut the (potentially huge) upstream lineage ONCE — every loop iteration
    # re-reads these edges, and without this the whole pipeline above would be
    # recomputed per round
    edges = (
        pairs.select(F.col("alias").alias("a"), F.col("canonical").alias("b"))
        .unionByName(pairs.select(F.col("canonical").alias("a"), F.col("alias").alias("b")))
        .distinct()
    ).localCheckpoint()
    comp = (
        edges.select(F.col("a").alias("entity_name"))
        .distinct()
        .withColumn("component", F.col("entity_name"))
    ).localCheckpoint()
    from pyspark.sql import Observation

    for _ in range(max_iter):
        nbr_min = (
            edges.join(comp, edges.b == comp.entity_name)
            .groupBy(F.col("a").alias("entity_name"))
            .agg(F.min("component").alias("nbr_comp"))
        )
        stepped = comp.join(nbr_min, "entity_name", "left").select(
            "entity_name",
            F.col("component").alias("old"),
            F.least(
                F.col("component"), F.coalesce(F.col("nbr_comp"), F.col("component"))
            ).alias("mid"),
        )
        # stale pointer jump: mid is a node id, so last round's checkpointed
        # map gives component(mid) without recomputing anything this round
        jumpmap = comp.select(
            F.col("entity_name").alias("mid"), F.col("component").alias("jumped")
        )
        final_col = F.least(F.col("mid"), F.coalesce(F.col("jumped"), F.col("mid")))
        # ONE driver action per round: the convergence probe is an
        # Observation riding the localCheckpoint materialization (the
        # fixpoint condition "no label decreased this round" is exactly
        # hash-min convergence — final == old for every row forces mid ==
        # old, i.e. adjacent labels equal, i.e. constant per component).
        obs = Observation()
        joined = stepped.join(jumpmap, "mid", "left").observe(
            obs,
            F.coalesce(
                F.sum((final_col < F.col("old")).cast("long")), F.lit(0)
            ).alias("changed"),
        )
        comp = joined.select(
            "entity_name", final_col.alias("component")
        ).localCheckpoint()
        if obs.get["changed"] == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds — "
            "the pair graph has a longer chain than expected; raise max_iter"
        )
    return comp

def largest_connected_component(edges: DataFrame) -> DataFrame:
    """U6 (storage.py:344-361, graspologic LCC — defined but unused in the
    reference pipeline; kept as an optional op): nodes of the largest CC of
    the undirected edge set, via the hash-min loop + a size argmax."""
    pairs = edges.select(F.col("src").alias("alias"), F.col("tgt").alias("canonical"))
    comp = connected_components(pairs)
    sizes = comp.groupBy("component").agg(F.count(F.lit(1)).alias("n"))
    top = sizes.orderBy(F.desc("n"), F.asc("component")).limit(1)
    return comp.join(F.broadcast(top), "component").select("entity_name")


def _disjoint_stars(pairs: DataFrame) -> bool:
    """True when (alias, canonical) pairs form a union of DISJOINT stars:
    (a) no canonical also appears as an alias (no chains) AND (b) no alias
    maps to two different canonicals (an alias with two canonicals merges
    BOTH stars into one component, which a star shortcut would wrongly
    split). Both conditions probe in ONE driver action; anything else needs
    :func:`connected_components`."""
    return (
        pairs.select(F.col("canonical").alias("x"))
        .join(pairs.select(F.col("alias").alias("x")), "x", "left_semi")
        .select(F.lit(1).alias("one"))
        .unionAll(
            pairs.groupBy("alias")
            .agg(F.count_distinct("canonical").alias("c"))
            .filter(F.col("c") > 1)
            .select(F.lit(1).alias("one"))
        )
        .limit(1)
        .count()
        == 0
    )


def alias_map(pairs: DataFrame, entities: DataFrame) -> DataFrame:
    """Alias pairs -> transitive alias map (alias -> canonical).

    Canonical per component prefers a non-image-typed member (the reference
    merges image entities INTO text entities), then lexicographic-min name —
    deterministic, replacing the reference's order-dependent sequential fold
    (fusion.py:1004-1020; deviation documented in SURVEY §4).
    """
    if _disjoint_stars(pairs):
        # each star's canonical is its own component id
        comp = (
            pairs.select(F.col("alias").alias("entity_name"), F.col("canonical").alias("component"))
            .unionByName(
                pairs.select(
                    F.col("canonical").alias("entity_name"), F.col("canonical").alias("component")
                )
            )
            .distinct()
        )
    else:
        comp = connected_components(pairs)
    typed = comp.join(
        entities.select("entity_name", "entity_type"), "entity_name", "left"
    ).withColumn(
        "_prio",
        F.when(
            F.col("entity_type").isin('"ORI_IMG"', '"IMG_ENTITY"', '"IMG"'), F.lit(1)
        ).otherwise(F.lit(0)),
    )
    canon = (
        typed.groupBy("component")
        .agg(
            F.min(F.struct(F.col("_prio"), F.col("entity_name").alias("n")))
            .getField("n")
            .alias("canonical")
        )
    )
    return (
        comp.join(canon, "component")
        .filter(F.col("entity_name") != F.col("canonical"))
        .select(F.col("entity_name").alias("alias"), "canonical")
    )

def _merged_attrs() -> list:
    """The A2 re-merge aggregates of a group of merged nodes or edges: the
    sorted union of their re-split descriptions and of their source ids."""
    descs = F.flatten(F.collect_list(F.split("description", GRAPH_FIELD_SEP)))
    return [
        F.concat_ws(GRAPH_FIELD_SEP, F.array_sort(F.array_distinct(descs))).alias(
            "description"
        ),
        F.array_distinct(F.flatten(F.collect_list("source_ids"))).alias("source_ids"),
    ]

def _rewrite_merge_edges(edges: DataFrame, mapping: DataFrame) -> DataFrame:
    """Rewrite edge endpoints through a tiny (alias, canonical) map
    (broadcast both joins), drop the self-loops merging creates, and
    re-merge undirected duplicates with the A2 aggregation (weight sum,
    re-split description union, source_id set union, min order). Shared by
    contract() and apply_cluster_fusion()'s rename pass — the two must stay
    semantically identical."""
    m_src = mapping.withColumnRenamed("alias", "src").withColumnRenamed(
        "canonical", "_cs"
    )
    m_tgt = mapping.withColumnRenamed("alias", "tgt").withColumnRenamed(
        "canonical", "_ct"
    )
    e = (
        edges.join(F.broadcast(m_src), "src", "left")
        .join(F.broadcast(m_tgt), "tgt", "left")
        .withColumn("_s", F.coalesce(F.col("_cs"), F.col("src")))
        .withColumn("_t", F.coalesce(F.col("_ct"), F.col("tgt")))
        .filter(F.col("_s") != F.col("_t"))  # self-loops from merged pairs drop
    )
    return (
        e.groupBy(
            F.least("_s", "_t").alias("src"), F.greatest("_s", "_t").alias("tgt")
        )
        .agg(
            F.sum("weight").alias("weight"),
            *_merged_attrs(),
            F.min("order").alias("order"),
        )
        .select("src", "tgt", "weight", "description", "source_ids", "order")
    )


def contract(
    entities: DataFrame, edges: DataFrame, aliases: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """Rewire edges and merge entities through the alias map (J16,
    fusion.py:936-991). The alias map is tiny relative to the graph ->
    broadcast both joins; re-merge groupBys are single hash shuffles with
    partial aggregation.
    """
    new_edges = _rewrite_merge_edges(edges, aliases)
    ent = entities.join(
        F.broadcast(aliases), entities["entity_name"] == aliases["alias"], "left"
    )
    ent = ent.withColumn("_name", F.coalesce(F.col("canonical"), F.col("entity_name")))
    new_entities = (
        ent.groupBy(F.col("_name").alias("entity_name"))
        .agg(
            # canonical member's own type wins (its name equals the group key)
            F.min(
                F.struct(
                    F.when(F.col("entity_name") == F.col("_name"), 0)
                    .otherwise(1)
                    .alias("p"),
                    F.col("entity_type").alias("t"),
                )
            )
            .getField("t")
            .alias("entity_type"),
            *_merged_attrs(),
        )
    )
    return new_entities, new_edges
