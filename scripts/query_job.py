"""Query a built knowledge graph (the output directory of submit_job.py).

    python scripts/query_job.py --kg /tmp/kg_out \
        --question "What relates ENTITY_1 to ENTITY_2?" \
        [--questions-file questions.txt] \
        [--llm-base-url https://... --llm-model gpt-4o-mini] \
        [--log-dir /tmp/kg_querylog] [--top-k 10]

Runs the reference's local-query path (SURVEY.md §3.2): embed the question,
ANN over the entity VDB, degree-ranked context (text units + edges under
token budgets), then the answer backend — deterministic template offline,
LLMAnswerer (with the two-step multimodal merge) when an endpoint is given.
Prints the answer and writes the context log when --log-dir is set.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--kg", required=True, help="submit_job.py --output directory")
    p.add_argument("--question", default=None)
    p.add_argument("--questions-file", default=None,
                   help="file with one question per line (blank lines "
                        "skipped): answer them all in ONE Spark session — "
                        "the VDB / ANN index is built or loaded once and "
                        "shared, matching the reference's long-lived "
                        "instance answering repeated query() calls")
    p.add_argument("--top-k", type=int, default=10)
    p.add_argument("--threshold", type=float, default=0.2)
    p.add_argument("--ann-mode", default="exact", choices=["exact", "lsh", "ivf"],
                   help="entity-VDB ranking plan: exact distributed top-k "
                        "(default), or the LSH / IVF bucketed scans for VDBs "
                        "too large to scan per query")
    p.add_argument("--media", default=None,
                   help="(media_ref, content binary) parquet table; defaults "
                        "to <kg>/media when present. Ranked ORI_IMG seeds "
                        "carry base64 image bytes into the multimodal answer")
    p.add_argument("--log-dir", default=None)
    p.add_argument("--llm-base-url", default=None)
    p.add_argument("--llm-api-key", default=os.environ.get("OPENAI_API_KEY", ""))
    p.add_argument("--llm-model", default="gpt-4o-mini")
    args = p.parse_args()
    questions = [args.question] if args.question else []
    if args.questions_file:
        with open(args.questions_file, encoding="utf-8") as fh:
            questions += [ln.strip() for ln in fh if ln.strip()]
    if not questions:
        p.error("provide --question and/or --questions-file")

    from mmgraphrag_spark.session import build_session

    spark = build_session("mmgraphrag_spark_query")

    from mmgraphrag_spark.query import local_query

    kg = {
        name: spark.read.parquet(os.path.join(args.kg, name))
        for name in ("entities", "edges", "chunks")
    }
    # media_spans (J2 chunk association) enables the J13 provenance rewrite
    # in text-unit scoring; tolerate ONLY absence (media-free or pre-J13
    # index outputs) — a corrupt/unreadable table must surface, matching the
    # explicit-path rule for --media below
    from pyspark.errors import AnalysisException

    try:
        kg["media_spans"] = spark.read.parquet(
            os.path.join(args.kg, "media_spans")
        )
    except AnalysisException:
        pass
    # an EXPLICIT --media is always read (a read failure should surface, not
    # silently drop the images); only the implicit <kg>/media default probes
    # (scheme-aware fs_exists — os.path.isdir is always False for s3a://
    # etc. and a blind read trips Spark's noisy file-probe stack trace) and
    # tolerates absence
    from mmgraphrag_spark.plans import fs_exists

    if args.media:
        media = spark.read.parquet(args.media)
    else:
        default_media = os.path.join(args.kg, "media")
        media = spark.read.parquet(default_media) if fs_exists(spark, default_media) else None
    answerer = None
    if args.llm_base_url:
        from mmgraphrag_spark.backends.llm import ChatClient, LLMAnswerer

        answerer = LLMAnswerer(
            ChatClient(args.llm_base_url, api_key=args.llm_api_key, model=args.llm_model)
        )
    # the VDB / ANN index is built (or, for ivf with a persisted
    # submit_job --build-ann-index directory, loaded — no refit at query
    # time at all) ONCE and shared across every question in the list,
    # instead of per local_query call
    from mmgraphrag_spark.query import load_or_build_query_state

    vdb, ann_index = load_or_build_query_state(
        spark, kg["entities"], args.kg, args.ann_mode
    )
    for question in questions:
        out = local_query(
            spark,
            kg,
            question,
            top_k=args.top_k,
            threshold=args.threshold,
            answerer=answerer,
            vdb=vdb,
            log_dir=args.log_dir,
            ann_mode=args.ann_mode,
            ann_index=ann_index,
            media=media,
        )
        print("ANSWER:")
        print(out["answer"])
    spark.stop()


if __name__ == "__main__":
    main()
