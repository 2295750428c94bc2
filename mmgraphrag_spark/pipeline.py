"""End-to-end KG construction pipeline (SURVEY.md §3.1 re-expressed Spark-first).

documents -> spans -> [chunks || media spans] -> mention/triple extraction ->
global A1/A2 merge -> scene graphs -> fusion (blocking -> spectral -> judge ->
CC -> contraction) -> canonical entities/edges/triples.

Every named stage goes through a checkpointer (plans/checkpoint.py):
LocalCheckpointer truncates the logical plan in memory (load-bearing — without
the cut, Catalyst re-analyzes an exponentially growing tree per action);
ParquetCheckpointer additionally makes the run durable/resumable (the Iceberg
snapshot stand-in). Documents are hash-partitioned by doc_id up front (the
north rule's layout); everything doc-local (chunking, context windows, J2/J3
joins) then reuses that partitioning or shuffles once on doc_id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mmgraphrag_spark.operators import extract as X
from mmgraphrag_spark.operators import fusion as FU
from mmgraphrag_spark.operators import merge as M
from mmgraphrag_spark.operators import scene as SC
from mmgraphrag_spark.operators import spans as S
from mmgraphrag_spark.plans import LocalCheckpointer


def run_pipeline(
    spark: SparkSession,
    documents: DataFrame,
    extractor=None,
    scene_backend=None,
    llm_cache: DataFrame | None = None,
    doc_partitions: int | None = None,
    fusion_window: int = 1,
    max_block: int = 2000,
    checkpointer=None,
    blocking: str = "neighborhood",
    judge_backend=None,
    summarizer=None,
    describer=None,
    tokenizer=None,
    enhancer=None,
    cluster_fuser=None,
    image_extractor=None,
    media_bytes: DataFrame | None = None,
    chunk_max_tokens: int = 1200,
    chunk_overlap: int = 100,
) -> dict:
    """Returns {"chunks", "media_spans", "entities", "edges", "triples",
    "aliases", "mentions", ...} DataFrames (each a committed stage snapshot).

    ``judge_backend``/``summarizer`` plug LLM-backed L7-L9 judging and L2
    summarization into the otherwise-deterministic offline pipeline (see
    backends.llm.LLMJudge / LLMSummarizer); None keeps the deterministic
    defaults."""
    cp = checkpointer or LocalCheckpointer()
    # Hash-partition documents by doc_id up front (north-rule layout). Without
    # this, a small parquet source arrives as ~1 input split and the whole
    # narrow chain (explode -> chunk -> extraction UDF) runs in ONE task.
    # Skipped when the input is already spread at least as wide as the
    # default parallelism (e.g. a pre-partitioned upstream table).
    if doc_partitions is not None:
        documents = documents.repartition(doc_partitions, "doc_id")
    elif documents.rdd.getNumPartitions() < spark.sparkContext.defaultParallelism:
        documents = documents.repartition(
            spark.sparkContext.defaultParallelism, "doc_id"
        )

    spans = S.explode_spans(documents)
    # ONE chunking pass, committed with content; everything downstream derives
    # from this snapshot (dedup window, slim fusion occurrences, J2 candidates)
    # window sizes are config (reference S8: chunk_token_size /
    # chunk_overlap_token_size, preprocessing.py:30-69 defaults 1200/100)
    chunk_rows = cp.stage(
        "chunk_rows",
        S.chunk_occurrences(
            spans,
            max_tokens=chunk_max_tokens,
            overlap=chunk_overlap,
            tokenizer=tokenizer,
        ),
    )
    # chunk dedup stays LAZY: the window runs inside its single heavy consumer
    # (the mentions stage) instead of paying a separate 2M-row materialization
    # + barrier; resume recomputes it from the committed chunk_rows snapshot.
    # The dedup's exchange is pinned explicitly (AQE-proof) so the extraction
    # UDF inherits its width and extract_mentions skips the second
    # full-content exchange it otherwise adds (profile_mentions.py: that
    # extra shuffle was the stage's worst 1->4-core anti-scaling term).
    n_parts = spark.sparkContext.defaultParallelism
    chunks = S.dedup_chunk_occurrences(chunk_rows, n_parts=n_parts)
    # fusion's neighborhood join needs only (chunk_id, position) per occurrence
    occurrences = chunk_rows.select("chunk_id", "doc_id", "chunk_order_index")
    # media path prunes at the DOCUMENT level with native array ops
    # (GetArrayStructFields + array_except — codegen, no interpreted lambda):
    # one derivation pass over the corpus finds media-carrying docs, and only
    # THEIR spans are exploded for the context window + J2 join.
    has_media = (
        F.size(
            F.array_except(F.col("spans").getField("kind"), F.array(F.lit("text")))
        )
        > 0
    )
    media_spans_src = S.explode_spans(documents.filter(has_media))
    # J2 must join against per-doc chunk OCCURRENCES, not deduped chunks: a
    # chunk shared across docs is attributed to its first doc after dedup, and
    # joining media on doc_id against that loses the candidate for every other
    # doc (surfaced at sf0.1 where derived grammar repeats past 3150 docs)
    # context rows are few (one per media span) — materialize them (light)
    # BEFORE the J2 join, whose broadcast id-set would otherwise re-derive
    # the whole context pipeline a second time
    media_ctx = cp.stage_light(
        "media_ctx", S.media_spans_with_context(media_spans_src, prefiltered=True)
    )
    media = cp.stage(
        "media_spans", S.associate_media_to_chunks(media_ctx, chunk_rows)
    )

    mentions = cp.stage(
        "mentions",
        X.extract_mentions(
            chunks, backend=extractor, llm_cache=llm_cache, pre_partitioned=True
        ),
    )
    # parse the record grammar ONCE: three consumers (edge merge, entity
    # merge, fusion's occurrence join) each re-ran the regex explode over the
    # whole mentions snapshot — at 100 TB that is re-parsing the corpus three
    # times. One slim union row-set, materialized light (plan cut, block
    # manager), refiltered per consumer with column pruning.
    ents_m0, rels_m0 = X.parse_mentions(mentions)
    mention_rows = cp.stage_light(
        "mention_rows",
        ents_m0.select(
            F.lit("e").alias("role"),
            F.col("entity_name").alias("a"),
            F.col("entity_type").alias("b"),
            "description",
            F.lit(None).cast("double").alias("weight"),
            "source_id",
        ).unionByName(
            rels_m0.select(
                F.lit("r").alias("role"),
                F.col("src").alias("a"),
                F.col("tgt").alias("b"),
                "description",
                "weight",
                "source_id",
            )
        ),
    )
    ents_m = mention_rows.filter(F.col("role") == "e").select(
        F.col("a").alias("entity_name"),
        F.col("b").alias("entity_type"),
        "description",
        "source_id",
    )
    rels_m = mention_rows.filter(F.col("role") == "r").select(
        F.col("a").alias("src"),
        F.col("b").alias("tgt"),
        "description",
        "weight",
        "source_id",
    )

    # L3: optional MLLM describer replaces the default segmentation=True flag
    # and supplies the ORI_IMG description; its flag gates object detection.
    # Durable commit: describer calls are paid + nondeterministic, so resume
    # must read them back rather than re-spend them (same rule as the judged
    # alias_pairs below).
    if describer is not None:
        media = cp.stage(
            "media_described",
            SC.describe_media(media, describer, media_bytes=media_bytes),
        )
    objects = SC.detect_scene_objects(media, backend=scene_backend)
    if image_extractor is not None:
        # L4-L6 LLM mode: per-image MLLM call sequence emits the record
        # grammar, parsed by the SAME JVM parser as text extraction.
        # Durable commit — paid, nondeterministic calls (resume re-reads).
        img_records = cp.stage(
            "image_records",
            SC.extract_image_mentions(
                media, image_extractor, objects=objects, media_bytes=media_bytes
            ),
        )
        img_ents_m, img_rels_m = X.parse_mentions(img_records)
    else:
        img_ents_m, img_rels_m = SC.scene_graph(media, objects)
    img_ents_m = cp.stage("image_entity_mentions", img_ents_m)

    all_ents_m = ents_m.unionByName(img_ents_m)
    all_rels_m = rels_m.unionByName(img_rels_m)

    edges = cp.stage("edges_prefusion", M.merge_edges(all_rels_m))
    entities = M.merge_entities(all_ents_m)
    entities = M.add_dangling_entities(entities, edges)
    entities = cp.stage(
        "entities_prefusion",
        M.summarize_long_descriptions(entities, backend=summarizer),
    )

    return {
        "spans": spans,
        "chunks": chunks,
        "media_spans": media,
        "mentions": mentions,
        "edges_prefusion": edges,
        "checkpointer": cp,
        **fuse(
            entities, edges, ents_m, img_ents_m, media, occurrences,
            window=fusion_window, max_block=max_block, checkpointer=cp,
            blocking=blocking, judge_backend=judge_backend,
            cluster_fuser=cluster_fuser, enhancer=enhancer,
        ),
    }


def fuse(
    entities: DataFrame,
    edges: DataFrame,
    ents_m: DataFrame,
    img_ents_m: DataFrame,
    media: DataFrame,
    occurrences: DataFrame,
    window: int = 1,
    max_block: int = 2000,
    checkpointer=None,
    blocking: str = "neighborhood",
    judge_backend=None,
    cluster_fuser=None,
    enhancer=None,
) -> dict:
    """The fusion tail of a batch build and of
    ``IncrementalIndexer.finalize_fused``: :func:`build_aliases`, then the
    optional L10 rewrite of unaligned image entities (descriptions apply
    before contraction, renames ride it as extra alias pairs), then
    contraction through the alias map (``FU.contract``) or, in L9 mode
    (``cluster_fuser`` set), through the fuser's merged records
    (``FU.apply_cluster_fusion``); committed as ``aliases``, ``entities``
    and ``edges``. The result's ``entities_prefusion`` carries L10's
    descriptions; L9 mode adds ``cluster_fused`` (the merged records)."""
    cp = checkpointer or LocalCheckpointer()
    found = build_aliases(
        entities, edges, ents_m, img_ents_m, media, occurrences,
        window=window, max_block=max_block, checkpointer=cp,
        blocking=blocking, judge_backend=judge_backend,
        cluster_fuser=cluster_fuser,
    )
    renames = None
    if enhancer is not None:
        # aligned = every alias, or in L9 mode every entity named in a
        # merged record's source lists (incl. the img0 target); the other
        # image entities are L10 candidates. Durable commit: enhancer output
        # is LLM-paid and nondeterministic (see the alias_pairs rule)
        aligned = found
        if cluster_fuser is not None:
            aligned = found.select(
                F.explode(
                    F.concat("source_image_entities", "source_text_entities")
                ).alias("alias")
            )
        enh = cp.stage(
            "enhanced_unaligned", FU.enhance_unaligned(entities, aligned, enhancer)
        )
        entities = (
            entities.join(
                enh.select("entity_name", "enhanced_description"), "entity_name", "left"
            )
            .withColumn(
                "description", F.coalesce("enhanced_description", "description")
            )
            .drop("enhanced_description")
        )
        renames = enh.filter(F.col("enhanced_name") != F.col("entity_name")).select(
            F.col("entity_name").alias("alias"),
            F.col("enhanced_name").alias("canonical"),
        )
    out = {"entities_prefusion": entities}
    if cluster_fuser is not None:
        entities_f, edges_f, aliases = FU.apply_cluster_fusion(
            entities, edges, found, extra_pairs=renames
        )
        aliases = cp.stage_light("aliases", aliases)
        out["cluster_fused"] = found
    else:
        aliases = found
        if renames is not None:
            # the rebuilt alias map is derived from durable inputs: light
            aliases = cp.stage_light(
                "aliases", FU.alias_map(found.unionByName(renames), entities)
            )
        entities_f, edges_f = FU.contract(entities, edges, aliases)
    entities_f = cp.stage("entities", entities_f)
    edges_f = cp.stage("edges", edges_f)
    return {
        **out,
        "entities": entities_f,
        "edges": edges_f,
        "triples": M.triples_view(edges_f),
        "aliases": aliases,
    }


def build_aliases(
    entities: DataFrame,
    edges: DataFrame,
    ents_m: DataFrame,
    img_ents_m: DataFrame,
    media: DataFrame,
    occurrences: DataFrame,
    window: int = 1,
    max_block: int = 2000,
    checkpointer=None,
    blocking: str = "neighborhood",
    judge_backend=None,
    cluster_fuser=None,
) -> DataFrame:
    """Fusion stages 1-4 -> alias map (alias -> canonical).

    ``cluster_fuser`` set (L9 mode): stages 1-2 run identically, then ONE
    fuser call per block replaces the per-pair judge, and the return value
    is the merged-record DataFrame (durable-committed — LLM-paid) for
    :func:`operators.fusion.apply_cluster_fusion`, not an alias map.

    ``blocking`` picks the candidate blocks ("neighborhood", "lsh" or
    "embedding"; see the operators.fusion module docstring).
    """
    cp = checkpointer or LocalCheckpointer()
    if blocking in ("lsh", "embedding"):
        typed = entities.withColumn(
            "kind",
            F.when(
                F.col("entity_type").isin('"ORI_IMG"', '"IMG_ENTITY"', '"IMG"'),
                F.lit("img"),
            ).otherwise(F.lit("text")),
        ).select("entity_name", "kind", "description")
        if blocking == "lsh":
            members = FU.name_key_lsh_blocks(typed)
        else:  # embedding-similarity blocking (M1 backend seam)
            members = FU.embedding_blocks(typed)
    else:
        # positions only: each text mention at its chunk's per-doc offsets (a
        # deduplicated chunk occurs in several docs), each image entity at its
        # media span's offset (media: one row per span, broadcast); the
        # descriptions join once, after blocking
        text_pos = (
            ents_m.select("entity_name", F.col("source_id").alias("chunk_id"))
            .join(occurrences, "chunk_id")
            .select("entity_name", "doc_id", "chunk_order_index")
        )
        img_pos = img_ents_m.select(
            "entity_name", F.col("source_id").alias("block_id")
        ).join(
            F.broadcast(media.select(
                F.col("media_ref").alias("block_id"), "doc_id", "chunk_order_index"
            )),
            "block_id",
        )
        members = (
            FU.neighborhood_blocks(img_pos, text_pos, window=window)
            .join(entities.select("entity_name", "description"), "entity_name")
            .select("block_id", "entity_name", "kind", "description")
        )
    # split-visibility: an Observation rides the stage-commit action (zero
    # extra jobs) and warns when blocks overflowed max_block — a repeatedly
    # splitting band is a blocking-key problem, not something to salt away
    # silently. Observation.get BLOCKS until an action runs the observed
    # plan, so only read it when (a) this is a fresh commit (a resumed run
    # skips the action — the metric would never fire) AND (b) the
    # checkpointer declares stage() eager (eager_stages; a third-party lazy
    # stage() returning the DataFrame unexecuted would hang the read).
    from pyspark.sql import Observation

    cap_obs = Observation("fusion_block_caps")
    fresh = not getattr(cp, "committed", lambda name: False)("fusion_blocks")
    members = cp.stage(
        "fusion_blocks",
        FU.cap_blocks(members, max_block=max_block, observation=cap_obs),
    )
    if fresh and getattr(cp, "eager_stages", False):
        FU.log_split_blocks(cap_obs, max_block)
    # within-block known relationships for Gram reweighting (M3).
    # JOIN ORDER MATTERS: edges ⋈ members on src alone explodes on hub
    # entities (an entity in B blocks duplicates each of its edges B times —
    # measured 50M intermediate rows at 2M docs). Instead enumerate candidate
    # pairs WITHIN each block first (bounded by block_size^2 per block, blocks
    # are capped) and equi-join edges on both endpoints at once.
    m1 = members.select("block_id", F.col("entity_name").alias("a"))
    m2 = members.select("block_id", F.col("entity_name").alias("b"))
    block_pairs = (
        m1.join(m2, "block_id")
        .filter(F.col("a") < F.col("b"))
        .select(
            "block_id",
            F.col("a").alias("src"),   # members pairs already match the
            F.col("b").alias("tgt"),   # canonical src<=tgt edge ordering
        )
        .distinct()
    )
    block_edges = block_pairs.join(
        edges.select("src", "tgt", "weight"), ["src", "tgt"]
    ).select("block_id", "src", "tgt", "weight")
    clustered = cp.stage(
        "fusion_clusters", FU.spectral_cluster_blocks(members, block_edges)
    )
    if cluster_fuser is not None:
        # durable commit: one paid, nondeterministic LLM call per block —
        # resume must read the verdicts back (same rule as alias_pairs)
        return cp.stage(
            "cluster_fused", FU.cluster_fusion(clustered, entities, cluster_fuser)
        )
    # alias pairs/maps are a few rows — light commits (plan cut only); a
    # durable parquet round-trip per tiny stage is pure fixed overhead.
    # EXCEPT when an LLM judge is plugged in: its verdicts are paid and
    # nondeterministic, so a crash-resume through stage_light would re-spend
    # the calls and could emit a different alias set. Durable-commit the
    # judged pairs then; the alias_map derivation from them is deterministic
    # and stays light either way.
    commit_pairs = cp.stage if judge_backend is not None else cp.stage_light
    pairs = commit_pairs(
        "alias_pairs",
        FU.judge_alignment(
            clustered,
            backend=judge_backend,
            descriptions=entities.select("entity_name", "description"),
        ),
    )
    return cp.stage_light("aliases", FU.alias_map(pairs, entities))
