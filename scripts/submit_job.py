"""Cluster entry point for the KG-construction pipeline.

Launch on a cluster (the master/deploy-mode come from spark-submit; the
session builder adds no master when one is already set):

    cd /root/repo && zip -r /tmp/mmgraphrag_spark.zip mmgraphrag_spark
    spark-submit --py-files /tmp/mmgraphrag_spark.zip \
        scripts/submit_job.py \
        --input  s3://bucket/documents_iceberg_or_parquet \
        --output s3://bucket/kg_out \
        --checkpoint s3://bucket/kg_ckpt \
        --blocking lsh --doc-partitions 4096

Local smoke (same code path):

    python scripts/submit_job.py --input /root/testdata/sf0.001/documents.parquet \
        --derive-interleaved --output /tmp/kg_out --checkpoint /tmp/kg_ckpt

Outputs: parquet entities/, edges/, triples/ under --output, plus committed
stage snapshots (with lineage markers) under --checkpoint; a killed run
re-submitted with the same --checkpoint resumes from the last commit.
"""

from __future__ import annotations

import argparse
import sys
import os

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--input", required=True,
                   help="documents table path (doc_id, spans) — or a flat "
                        "(doc_id, text) table with --derive-interleaved")
    p.add_argument("--output", required=True)
    p.add_argument("--checkpoint", required=True)
    p.add_argument("--blocking", default="neighborhood",
                   choices=["neighborhood", "lsh", "embedding"])
    p.add_argument("--doc-partitions", type=int, default=None)
    p.add_argument("--max-block", type=int, default=2000)
    p.add_argument("--graphml", action="store_true",
                   help="also export the canonical graph as "
                        "<output>/graph_entity_relation.graphml — the "
                        "reference's native artifact (storage.py:428-429), "
                        "so its downstream tooling reads our output directly "
                        "(bounded single-file export; parquet stays the "
                        "at-scale format)")
    p.add_argument("--build-ann-index", action="store_true",
                   help="fit the IVF quantizer + inverted file over the "
                        "canonical entity VDB and persist them under "
                        "<output>/ann_index for query_job --ann-mode ivf "
                        "(index once, query many)")
    p.add_argument("--ann-centroids", type=int, default=16)
    p.add_argument("--media-bytes", default=None,
                   help="(media_ref, content binary) parquet table: feeds the "
                        "describer (L3) and is copied to <output>/media so "
                        "query_job's multimodal answers can attach image bytes")
    p.add_argument("--derive-interleaved", action="store_true",
                   help="input is a flat (doc_id, text) corpus; derive the "
                        "interleaved spans table deterministically")
    # LLM wiring (all optional; deterministic backends when unset). One
    # OpenAI-compatible endpoint serves extraction/judge/summarize; the
    # ingest front-ends (read_docx_dir / read_pdf_dir / read_markdown_dir)
    # feed --input upstream of this job.
    p.add_argument("--llm-base-url", default=None,
                   help="OpenAI-compatible endpoint; enables LLMExtractor, "
                        "LLMJudge and LLMSummarizer")
    p.add_argument("--llm-api-key", default=os.environ.get("OPENAI_API_KEY", ""))
    p.add_argument("--llm-model", default="gpt-4o-mini")
    p.add_argument("--cluster-fusion", action="store_true",
                   help="L9 alignment mode: one LLM fusion decision per "
                        "block over all clusters (reference "
                        "judge_text_entity_alignment_clustering) instead of "
                        "the per-pair judge; requires --llm-base-url")
    p.add_argument("--mllm-describe", action="store_true",
                   help="L3: describe each media span with the MLLM (its "
                        "segmentation flag gates object detection); requires "
                        "--llm-base-url")
    p.add_argument("--mllm-image-extraction", action="store_true",
                   help="L4-L6: per-image MLLM call sequence (crop describe, "
                        "whole-image scene extraction, crop alignment) "
                        "replaces deterministic scene-record synthesis; "
                        "requires --llm-base-url")
    p.add_argument("--max-gleaning", type=int, default=1)
    p.add_argument("--tokenizer", default="auto", choices=["auto", "regex"],
                   help="'auto' uses tiktoken when installed (P9), else the "
                        "regex fallback")
    p.add_argument("--chunk-tokens", type=int, default=1200,
                   help="chunk window size in tokens (reference chunk_token_size)")
    p.add_argument("--chunk-overlap", type=int, default=100,
                   help="window overlap in tokens (reference chunk_overlap_token_size)")
    args = p.parse_args()

    from mmgraphrag_spark.session import build_session

    spark = build_session("mmgraphrag_spark_index")

    from mmgraphrag_spark.pipeline import run_pipeline
    from mmgraphrag_spark.plans import ParquetCheckpointer

    docs = spark.read.parquet(args.input)
    if args.derive_interleaved:
        from mmgraphrag_spark.sources.documents import interleave_from_flat

        docs = interleave_from_flat(docs)

    extractor = judge = summarizer = fuser = describer = image_extractor = None
    if args.llm_base_url:
        from mmgraphrag_spark.backends.llm import (
            ChatClient,
            LLMClusterFuser,
            LLMExtractor,
            LLMJudge,
            LLMSummarizer,
            MllmDescriber,
            MllmImageExtractor,
        )

        client = ChatClient(
            args.llm_base_url, api_key=args.llm_api_key, model=args.llm_model
        )
        extractor = LLMExtractor(client, max_gleaning=args.max_gleaning)
        summarizer = LLMSummarizer(client)
        if args.cluster_fusion:
            fuser = LLMClusterFuser(client)
        else:
            judge = LLMJudge(client)
        if args.mllm_describe:
            describer = MllmDescriber(client)
        if args.mllm_image_extraction:
            image_extractor = MllmImageExtractor(client)
    elif args.cluster_fusion or args.mllm_describe or args.mllm_image_extraction:
        raise SystemExit(
            "--cluster-fusion/--mllm-describe/--mllm-image-extraction "
            "require --llm-base-url"
        )

    tokenizer = None
    if args.tokenizer == "auto":
        try:
            from mmgraphrag_spark.backends.tokenizer import TiktokenBackend

            tokenizer = TiktokenBackend()
        except ImportError:
            tokenizer = None  # whitespace JVM path
    elif args.tokenizer == "regex":
        from mmgraphrag_spark.backends.tokenizer import RegexTokenizerBackend

        tokenizer = RegexTokenizerBackend()

    media_bytes = spark.read.parquet(args.media_bytes) if args.media_bytes else None
    out = run_pipeline(
        spark,
        docs,
        extractor=extractor,
        media_bytes=media_bytes,
        doc_partitions=args.doc_partitions,
        max_block=args.max_block,
        blocking=args.blocking,
        checkpointer=ParquetCheckpointer(spark, args.checkpoint),
        judge_backend=judge,
        cluster_fuser=fuser,
        describer=describer,
        image_extractor=image_extractor,
        summarizer=summarizer,
        tokenizer=tokenizer,
        chunk_max_tokens=args.chunk_tokens,
        chunk_overlap=args.chunk_overlap,
    )
    # chunks + media land next to the graph: the query path (scripts/
    # query_job.py) needs the text units for context assembly
    for name in ("entities", "edges", "triples", "chunks", "media_spans"):
        out[name].write.mode("overwrite").parquet(os.path.join(args.output, name))
    # retire optional artifacts a PREVIOUS run into this --output left behind
    # when their flag/input is absent this run: a stale ann_index/media/graphml
    # would otherwise be silently picked up by query_job against the NEW graph
    from mmgraphrag_spark.plans import fs_delete

    if media_bytes is not None:
        media_bytes.write.mode("overwrite").parquet(os.path.join(args.output, "media"))
    else:
        fs_delete(spark, os.path.join(args.output, "media"))
    if args.graphml:
        from mmgraphrag_spark.sources.graphml import export_graphml

        export_graphml(
            spark.read.parquet(os.path.join(args.output, "entities")),
            spark.read.parquet(os.path.join(args.output, "edges")),
            os.path.join(args.output, "graph_entity_relation.graphml"),
        )
    else:
        fs_delete(spark, os.path.join(args.output, "graph_entity_relation.graphml"))
    if args.build_ann_index:
        # index-time ANN build (reference storage.py:125-155 builds its VDB
        # during indexing): quantizer + inverted file land next to the graph
        # so query_job --ann-mode ivf loads instead of refitting per process
        from mmgraphrag_spark.operators.similarity import (
            build_ivf_index,
            save_ivf_index,
        )
        from mmgraphrag_spark.query import build_entity_vdb, vdb_as_corpus

        vdb = build_entity_vdb(
            spark.read.parquet(os.path.join(args.output, "entities"))
        )
        save_ivf_index(
            build_ivf_index(vdb_as_corpus(vdb), n_centroids=args.ann_centroids),
            os.path.join(args.output, "ann_index"),
        )
    else:
        fs_delete(spark, os.path.join(args.output, "ann_index"))
    n = spark.read.parquet(os.path.join(args.output, "triples")).count()
    print(f"DONE triples={n} output={args.output}")
    spark.stop()


if __name__ == "__main__":
    main()
