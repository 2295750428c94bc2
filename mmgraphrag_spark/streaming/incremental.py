"""Incremental KG indexing over a document stream (SURVEY.md §2.10).

The reference is batch-only; the natural Spark extension is Structured
Streaming with ``foreachBatch`` re-using the SAME stage operators per
micro-batch, plus durable PARTIAL-AGGREGATE state so merges stay exact:

- ``entity_state(entity_name, entity_type, cnt, descs, srcs)`` — per-type
  counts + description/source sets. A1's mode-of-type needs the per-type
  counts, not the finalized rows, to stay correct across batches.
- ``edge_state(src, tgt, weight, ord, descs, srcs)`` — weight partial sums,
  min order, sets.
- ``seen_chunks(chunk_id)`` — J1 across batches: a chunk already extracted in
  an earlier batch is anti-joined away (preprocessing.py:112-119 semantics).

State is versioned parquet (state_v<N>/ + LATEST marker) — the Iceberg
``MERGE INTO`` stand-in; each batch commit is atomic (write new version, then
flip the marker). ``finalize()`` derives the exact same entities/edges a
fresh batch run over all documents would produce (asserted in tests).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mmgraphrag_spark import GRAPH_FIELD_SEP
from mmgraphrag_spark.operators import extract as X
from mmgraphrag_spark.operators import merge as M
from mmgraphrag_spark.operators import scene as SC
from mmgraphrag_spark.operators import spans as S


def _entity_state(ents_m: DataFrame) -> DataFrame:
    return ents_m.groupBy("entity_name", "entity_type").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.collect_set("description").alias("descs"),
        F.collect_set("source_id").alias("srcs"),
    )


def _edge_state(rels_m: DataFrame) -> DataFrame:
    s, t = F.least("src", "tgt"), F.greatest("src", "tgt")
    return (
        rels_m.withColumn("_s", s).withColumn("_t", t)
        .groupBy(F.col("_s").alias("src"), F.col("_t").alias("tgt"))
        .agg(
            F.sum("weight").alias("weight"),
            F.lit(1).alias("ord"),
            F.collect_set("description").alias("descs"),
            F.collect_set("source_id").alias("srcs"),
        )
    )


def _merge_sets(col):
    return F.array_distinct(F.flatten(F.collect_list(col)))


class IncrementalIndexer:
    """foreachBatch sink: documents micro-batch -> state merge -> commit."""

    def __init__(self, spark: SparkSession, state_dir: str, scene_backend=None,
                 extractor=None, image_extractor=None, media_bytes=None):
        self.spark = spark
        self.state_dir = state_dir
        self.scene_backend = scene_backend
        self.extractor = extractor
        # L4-L6 MLLM image mode (mirrors run_pipeline(image_extractor=)).
        # NOTE: a media_ref recurring across batches under distinct
        # (doc, ref, position) keys re-runs its (cached-by-stage-commit in
        # batch mode, paid here) extraction once per batch it newly appears
        # in — same per-occurrence semantics the deterministic scene path has.
        self.image_extractor = image_extractor
        # (media_ref, content binary) table: with a REAL vision endpoint the
        # extractor needs the image bytes a batch run would send
        # (run_pipeline(media_bytes=)); each micro-batch's new media joins
        # this table inside extract_image_mentions. Without it the b64 parts
        # are null — fine for byte-blind test backends only.
        self.media_bytes = media_bytes
        os.makedirs(state_dir, exist_ok=True)

    # -- state versioning -------------------------------------------------
    def _latest_marker(self) -> dict:
        p = os.path.join(self.state_dir, "LATEST")
        if not os.path.exists(p):
            return {"version": -1, "batch_id": -1}
        with open(p) as f:
            m = json.load(f)
        m.setdefault("batch_id", -1)
        return m

    def _latest(self) -> int:
        return self._latest_marker()["version"]

    def _load(self, version: int, name: str) -> DataFrame | None:
        if version < 0:
            return None
        p = os.path.join(self.state_dir, f"state_v{version}", name)
        # tolerate state tables that older versions didn't write (e.g.
        # seen_media added later): absent table == empty prior state
        if not os.path.exists(p):
            return None
        return self.spark.read.parquet(p)

    def _commit(self, version: int, tables: dict, batch_id: int = -1) -> None:
        root = os.path.join(self.state_dir, f"state_v{version}")
        for name, df in tables.items():
            df.write.mode("overwrite").parquet(os.path.join(root, name))
        tmp = os.path.join(self.state_dir, "LATEST.tmp")
        with open(tmp, "w") as f:
            json.dump({"version": version, "batch_id": batch_id}, f)
        os.replace(tmp, os.path.join(self.state_dir, "LATEST"))

    # -- batch processing -------------------------------------------------
    def process_batch(self, docs_batch: DataFrame, batch_id: int) -> None:
        # foreachBatch is at-least-once: after a crash between state commit and
        # stream-checkpoint advance, the SAME batch_id is replayed. seen_chunks
        # only guards text extraction — the additive cnt/weight aggregates would
        # be double-summed — so a batch whose id is already recorded in the
        # LATEST marker is a no-op (standard foreachBatch idempotency pattern).
        if batch_id >= 0 and batch_id <= self._latest_marker()["batch_id"]:
            return
        spans = S.explode_spans(docs_batch)
        chunk_rows = S.chunk_occurrences(spans).localCheckpoint()
        chunks = S.dedup_chunk_occurrences(chunk_rows).localCheckpoint()
        # J2 joins per-doc occurrences (see pipeline.py: dedup would misplace
        # shared chunks' doc attribution)
        media = S.associate_media_to_chunks(
            S.media_spans_with_context(spans), chunk_rows
        ).localCheckpoint()

        v = self._latest()
        seen = self._load(v, "seen_chunks")
        new_chunks = (
            S.filter_new_keys(chunks, seen, "chunk_id") if seen is not None else chunks
        ).localCheckpoint()

        mentions = X.extract_mentions(new_chunks, backend=self.extractor)
        ents_m, rels_m = X.parse_mentions(mentions)
        # J1 for the MEDIA side too: a re-delivered document's text chunks are
        # anti-joined away by seen_chunks, but its media spans would re-run
        # scene detection and double-sum entity cnt / containment weights —
        # guard media occurrences by their (doc, ref, position) key
        mkeys = ["doc_id", "media_ref", "chunk_order_index"]
        seen_m = self._load(v, "seen_media")
        new_media = (
            media.join(seen_m, mkeys, "left_anti") if seen_m is not None else media
        ).localCheckpoint()
        objects = SC.detect_scene_objects(new_media, backend=self.scene_backend)
        if self.image_extractor is not None:
            img_records = SC.extract_image_mentions(
                new_media, self.image_extractor, objects=objects,
                media_bytes=self.media_bytes,
            ).localCheckpoint()  # paid calls: one action, reused by both parses
            img_ents_m, img_rels_m = X.parse_mentions(img_records)
        else:
            img_ents_m, img_rels_m = SC.scene_graph(new_media, objects)

        d_ent = _entity_state(ents_m.unionByName(img_ents_m))
        d_edge = _edge_state(rels_m.unionByName(img_rels_m))

        old_ent, old_edge = self._load(v, "entity_state"), self._load(v, "edge_state")
        if old_ent is not None:
            d_ent = (
                old_ent.unionByName(d_ent)
                .groupBy("entity_name", "entity_type")
                .agg(
                    F.sum("cnt").alias("cnt"),
                    _merge_sets("descs").alias("descs"),
                    _merge_sets("srcs").alias("srcs"),
                )
            )
            d_edge = (
                old_edge.unionByName(d_edge)
                .groupBy("src", "tgt")
                .agg(
                    F.sum("weight").alias("weight"),
                    F.min("ord").alias("ord"),
                    _merge_sets("descs").alias("descs"),
                    _merge_sets("srcs").alias("srcs"),
                )
            )
        seen_next = (
            seen.unionByName(new_chunks.select("chunk_id")).distinct()
            if seen is not None
            else chunks.select("chunk_id").distinct()
        )
        seen_m_next = (
            seen_m.unionByName(new_media.select(*mkeys)).distinct()
            if seen_m is not None
            else media.select(*mkeys).distinct()
        )
        # fusion inputs (finalize_fused): distinct mention occurrences — text
        # mentions key on chunk_id, image mentions on media_ref — plus every
        # chunk's per-doc positions. All pure set-union state (idempotent
        # under re-union), so batch boundaries can't perturb them. seen_media
        # doubles as the media-position table (same key set).
        def _acc(name: str, delta: DataFrame) -> DataFrame:
            prior = self._load(v, name)
            if prior is None and v >= 0:
                # prior state exists but was written by a version without
                # this table: the accumulated set CANNOT be reconstructed
                # from here, so poison finalize_fused (which would otherwise
                # silently fuse over this batch's mentions only) while
                # letting the A1/A2 stream continue
                with open(
                    os.path.join(self.state_dir, "FUSION_TABLES_INCOMPLETE"), "w"
                ) as f:
                    f.write(name)
            return (
                prior.unionByName(delta).distinct() if prior is not None
                else delta.distinct()
            )

        text_ment = _acc("text_ment", ents_m.select("entity_name", "source_id"))
        img_ment = _acc("img_ment", img_ents_m.select("entity_name", "source_id"))
        chunk_occ = _acc(
            "chunk_occ", chunk_rows.select("chunk_id", "doc_id", "chunk_order_index")
        )
        self._commit(
            v + 1,
            {
                "entity_state": d_ent,
                "edge_state": d_edge,
                "seen_chunks": seen_next,
                "seen_media": seen_m_next,
                "text_ment": text_ment,
                "img_ment": img_ment,
                "chunk_occ": chunk_occ,
            },
            batch_id=batch_id,
        )

    # -- finalize ---------------------------------------------------------
    def finalize(self) -> tuple[DataFrame, DataFrame]:
        """Exact A1/A2 entities/edges from the accumulated state (identical to
        a fresh batch run over the full corpus; pre-fusion)."""
        v = self._latest()
        est, edg = self._load(v, "entity_state"), self._load(v, "edge_state")
        entities = (
            est.groupBy("entity_name")
            .agg(
                F.min(
                    F.struct((-F.col("cnt")).alias("nc"), F.col("entity_type").alias("t"))
                ).getField("t").alias("entity_type"),
                F.concat_ws(
                    GRAPH_FIELD_SEP, F.array_sort(_merge_sets("descs"))
                ).alias("description"),
                _merge_sets("srcs").alias("source_ids"),
            )
        )
        edges = edg.select(
            "src", "tgt", "weight",
            F.concat_ws(GRAPH_FIELD_SEP, F.array_sort("descs")).alias("description"),
            F.col("srcs").alias("source_ids"),
            F.col("ord").alias("order"),
        )
        entities = M.add_dangling_entities(entities, edges)
        return M.summarize_long_descriptions(entities), edges

    def finalize_fused(
        self,
        blocking: str = "neighborhood",
        window: int = 1,
        max_block: int = 2000,
        judge_backend=None,
        cluster_fuser=None,
    ) -> dict:
        """Full §2.10 closure: the batch pipeline's own fusion tail
        (``pipeline.fuse``) over the accumulated state, yielding canonical
        entities/edges/triples identical to a fresh batch run over every
        document seen so far (asserted through ``triples`` in
        test_streaming). Its ``aliases``, ``entities`` and ``edges`` are
        in-memory stage commits, computed before this returns.

        Fusion itself is a rerun over the final state, not an incremental
        delta — alias decisions are global (a batch-3 entity can alias a
        batch-1 entity), so any incremental variant would have to re-open
        closed clusters anyway. The state keeps exactly the fusion inputs
        (mention occurrence sets + positions), so the rerun never touches the
        raw documents."""
        from mmgraphrag_spark.pipeline import fuse

        entities, edges = self.finalize()
        entities = entities.localCheckpoint()
        edges = edges.localCheckpoint()
        v = self._latest()
        text_ment = self._load(v, "text_ment")
        img_ment = self._load(v, "img_ment")
        chunk_occ = self._load(v, "chunk_occ")
        media_occ = self._load(v, "seen_media")
        if any(t is None for t in (text_ment, img_ment, chunk_occ, media_occ)) or (
            os.path.exists(os.path.join(self.state_dir, "FUSION_TABLES_INCOMPLETE"))
        ):
            raise ValueError(
                "state predates the fusion tables (text_ment/img_ment/"
                "chunk_occ) for at least one committed batch; re-index with "
                "this version to use finalize_fused"
            )
        return fuse(
            entities, edges, text_ment, img_ment, media_occ, chunk_occ,
            window=window, max_block=max_block, blocking=blocking,
            judge_backend=judge_backend, cluster_fuser=cluster_fuser,
        )


def incremental_index_stream(
    spark: SparkSession,
    input_dir: str,
    state_dir: str,
    schema,
    scene_backend=None,
    extractor=None,
):
    """Wire a parquet-file document stream into the indexer with an
    availableNow trigger (processes current backlog then stops). Returns the
    (query, indexer) pair; callers await query.awaitTermination()."""
    indexer = IncrementalIndexer(
        spark, state_dir, scene_backend=scene_backend, extractor=extractor
    )
    stream = spark.readStream.schema(schema).parquet(input_dir)
    query = (
        stream.writeStream.foreachBatch(indexer.process_batch)
        .option("checkpointLocation", os.path.join(state_dir, "_stream_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    return query, indexer
