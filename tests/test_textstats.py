"""Text-analysis tests: language ID, quality, token counts, fingerprint."""

from __future__ import annotations

from pyspark.sql import functions as F

from mmgraphrag_spark.operators import textstats as TS


def test_language_id(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat is in the house and the dog is with that"),
            (2, "el perro y la casa de los gatos con una mesa por ahi"),
            (3, "这是 一个 中文 句子 关于 猫"),
            (4, "zzz qqq xxx"),
        ],
        ["doc_id", "text"],
    )
    got = {r.id: r.lang for r in TS.language_id(df, "doc_id", "text").collect()}
    assert got[1] == "en"
    assert got[2] == "es"
    assert got[3] == "zh"
    assert got[4] == "und"


def test_quality_features(spark):
    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog near the river bank"),
            (2, "!!! ??? ... ###"),
        ],
        ["doc_id", "text"],
    )
    got = {r.id: r for r in TS.quality_features(df, "doc_id", "text").collect()}
    assert got[1].quality > got[2].quality
    assert got[2].punct_ratio > 0.5
    assert got[1].stopword_ratio > 0.1


def test_token_counts(spark):
    df = spark.createDataFrame([(1, "hello, world! it's 42")], ["doc_id", "text"])
    r = TS.token_counts(df, "doc_id", "text").first()
    assert r.ws_tokens == 4
    # hello , world ! it ' s 42  -> 8
    assert r.bpe_tokens == 8


def test_fingerprint_stability(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e f g h"), (2, "a b c d e f g h"), (3, "x y z w v u t s")],
        ["doc_id", "text"],
    )
    got = {r.id: r.fingerprint for r in TS.fingerprint(df, "doc_id", "text").collect()}
    assert got[1] == got[2]
    assert got[1] != got[3]


def test_repetition_features(spark):
    rows = [
        # 4 lines, 3 distinct -> dup_line_frac = 1 - 3/4 = 0.25; chars in
        # repeated lines = 2*7 of 7+8+7+8=30 -> 0.4667
        (1, "dup dup\nuniq one\ndup dup\nuniq two"),
        (2, "all lines differ\nhere too\nand here"),
        (3, ""),  # no lines, no grams -> all zeros
        # "go go go go": bigram "go go" occurs 3x (overlapping), 5 chars each,
        # norm len 11 -> 15/11 (uncapped by design: overlapping occurrences)
        (4, "go go go go"),
        # 6-word phrase repeated twice (norm len 35): two duplicated 5-grams
        # (cnt 2, len 14 each -> raw 56/35 capped to 1.0), one duplicated
        # 6-gram (cnt 2, len 17 -> 34/35), no duplicated 7..10-grams
        (5, "aa bb cc dd ee ff aa bb cc dd ee ff"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r.id: r for r in TS.repetition_features(df, "doc_id", "text").collect()}
    assert got[1].n_lines == 4 and got[1].dup_line_frac == 0.25
    assert got[1].dup_line_char_frac == round(14 / 30, 4)
    assert got[2].dup_line_frac == 0.0 and got[2].dup_line_char_frac == 0.0
    assert got[3].n_lines == 0 and got[3].top_bigram_char_frac == 0.0
    assert got[3].dup_5gram_char_frac == 0.0
    assert got[4].top_bigram_char_frac == round(15 / 11, 4)
    # "go go go" occurs 2x overlapping, len 8, norm len 11
    assert got[4].top_3gram_char_frac == round(16 / 11, 4)
    assert got[4].dup_5gram_char_frac == 0.0  # only 4 tokens
    r5 = got[5]
    # top 2-gram: five bigrams tie at cnt 2 -> max gram text "ee ff", len 5
    assert r5.top_bigram_char_frac == round(2 * 5 / 35, 4)
    assert r5.dup_5gram_char_frac == 1.0  # capped (raw 56/35)
    assert r5.dup_6gram_char_frac == round(34 / 35, 4)
    assert r5.dup_7gram_char_frac == 0.0 and r5.dup_10gram_char_frac == 0.0


def test_repetition_single_exchange_plan(spark):
    """The whole repetition plan hangs off ONE explicit repartition by id:
    groupBy(id, unit) and groupBy(id) both have their required distribution
    satisfied by it, so there is exactly one Exchange and zero joins (the
    scale invariant the docstring promises)."""
    df = spark.createDataFrame([(1, "a b\nc d")], ["doc_id", "text"])
    plan = (
        TS.repetition_features(df, "doc_id", "text")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Join" not in plan, plan


def test_pii_scrub(spark):
    rows = [
        (1, "mail bob@example.com or call +1 555 123 4567 from 10.0.0.1 ok"),
        (2, "nothing sensitive here"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    from mmgraphrag_spark.operators.textstats import pii_scrub

    got = {r.id: r for r in pii_scrub(df, "doc_id", "text").collect()}
    r = got[1]
    assert r.n_emails == 1 and r.n_ips == 1 and r.n_phones == 1
    assert "[EMAIL]" in r.clean_text and "[IP]" in r.clean_text and "[PHONE]" in r.clean_text
    assert "bob@" not in r.clean_text and "10.0.0.1" not in r.clean_text
    assert "555" not in r.clean_text
    assert got[2].clean_text == "nothing sensitive here"
    assert (got[2].n_emails, got[2].n_ips, got[2].n_phones) == (0, 0, 0)


def test_assign_split_deterministic_and_balanced(spark):
    from mmgraphrag_spark.operators.sampling import assign_split

    df = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    out = assign_split(df, "doc_id", seed="s1")
    counts = {r.split: r.c for r in out.groupBy("split").agg(F.count("*").alias("c")).collect()}
    # 80/10/10 within a loose tolerance at n=2000
    assert 0.74 < counts["train"] / 2000 < 0.86
    assert 0.06 < counts["val"] / 2000 < 0.14
    assert 0.06 < counts["test"] / 2000 < 0.14
    # stable under repartitioning (the whole point vs df.sample)
    again = assign_split(df.repartition(7), "doc_id", seed="s1")
    assert out.exceptAll(again).count() == 0 and again.exceptAll(out).count() == 0
    # a different seed reassigns
    other = assign_split(df, "doc_id", seed="s2")
    assert out.exceptAll(other).count() > 0


def test_deterministic_sample(spark):
    from mmgraphrag_spark.operators.sampling import deterministic_sample

    df = spark.range(0, 2000).withColumnRenamed("id", "doc_id").withColumn(
        "payload", F.col("doc_id") * 2
    )
    out = deterministic_sample(df, "doc_id", rate_per_256=26, seed="s")
    n = out.count()
    assert 0.06 < n / 2000 < 0.15  # ~10.2%
    # it's a filter: all original columns survive
    assert out.columns == ["doc_id", "payload"]
    # layout-independent and seed-keyed
    again = deterministic_sample(df.repartition(13), "doc_id", 26, seed="s")
    assert {r.doc_id for r in out.collect()} == {r.doc_id for r in again.collect()}
    # rate 256 keeps everything, rate 0 keeps nothing
    assert deterministic_sample(df, "doc_id", 256).count() == 2000
    assert deterministic_sample(df, "doc_id", 0).count() == 0


def test_stratified_sample_rates(spark):
    from mmgraphrag_spark.operators.sampling import stratified_sample

    df = spark.range(0, 3000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 3 == 0, "en").otherwise("fr").alias("lang"),
    )
    out = stratified_sample(
        df, "doc_id", "lang", {"en": 26, "fr": 256}, default_rate_per_256=0
    )
    got = {r.lang: r.c for r in out.groupBy("lang").agg(F.count("*").alias("c")).collect()}
    assert got["fr"] == 2000  # keep-all stratum is exact
    assert 0.05 < got["en"] / 1000 < 0.16  # ~10%
    # default rate drops unknown strata entirely
    df2 = df.withColumn("lang", F.lit("de"))
    assert stratified_sample(df2, "doc_id", "lang", {"en": 26}).count() == 0


def test_link_stats(spark):
    rows = [
        (1, "plain text with no links at all"),
        (2, "go to https://a.example/x and http://b.example/y?z=1 or write me@host.org"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    from mmgraphrag_spark.operators.textstats import link_stats

    out = {r.id: (r.n_urls, r.n_emails, r.url_char_ratio)
           for r in link_stats(df, "doc_id", "text").collect()}
    assert out[1] == (0, 0, 0.0)
    n_urls, n_emails, ratio = out[2]
    assert n_urls == 2 and n_emails == 1 and 0 < ratio < 1


def test_pack_training_blocks(spark):
    """Concat-and-chunk packing vs a pure-python replay: per-stream string-
    ordered offsets, straddling docs span the right blocks, zero-token docs
    pack to n_blocks=0, and the plan carries exactly one exchange."""
    import hashlib

    from mmgraphrag_spark.operators.sampling import pack_training_blocks

    rows = [(i, (i * 7) % 23) for i in range(200)] + [(900, 0), (901, 120)]
    df = spark.createDataFrame(rows, ["doc_id", "tokens"])
    out = pack_training_blocks(
        df, "doc_id", "tokens", block_tokens=16, n_streams=4, n_parts=4
    ).collect()

    # python replay of the exact contract
    def stream_of(i):
        return int(hashlib.md5(f"pack:{i}".encode()).hexdigest()[:2], 16) % 4

    streams: dict = {}
    for i, tok in rows:
        streams.setdefault(stream_of(i), []).append((str(i), tok))
    exp = {}
    for s, members in streams.items():
        pos = 0
        for sid, tok in sorted(members):
            start, end = pos // 16, (pos + max(tok - 1, 0)) // 16
            exp[sid] = (s, pos, start, end, 0 if tok == 0 else end - start + 1)
            pos += tok
    got = {
        r["id"]: (r["stream"], r["stream_pos"], r["start_block"],
                  r["end_block"], r["n_blocks"])
        for r in out
    }
    assert got == exp
    # a doc bigger than one block must straddle
    assert any(r["n_blocks"] > 1 for r in out)
    assert got["900"][4] == 0  # zero-token doc

    plan = pack_training_blocks(
        df, "doc_id", "tokens", block_tokens=16, n_streams=4, n_parts=4
    )._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan


def test_pack_manifest(spark):
    """The writer's inverse view: per (stream, block) doc slices replayed in
    pure python, full blocks sum to exactly block_tokens, slices agree with
    pack_training_blocks' spans, and the plan still has ONE exchange."""
    import hashlib

    from mmgraphrag_spark.operators.sampling import (
        pack_manifest,
        pack_training_blocks,
    )

    rows = [(i, (i * 7) % 23) for i in range(200)] + [(900, 0), (901, 120)]
    df = spark.createDataFrame(rows, ["doc_id", "tokens"])
    out = pack_manifest(
        df, "doc_id", "tokens", block_tokens=16, n_streams=4, n_parts=4
    ).collect()

    def stream_of(i):
        return int(hashlib.md5(f"pack:{i}".encode()).hexdigest()[:2], 16) % 4

    streams: dict = {}
    for i, tok in rows:
        streams.setdefault(stream_of(i), []).append((str(i), tok))
    exp = set()
    totals: dict = {}
    for s, members in streams.items():
        pos = 0
        for sid, tok in sorted(members):
            for blk in range(pos // 16, (pos + tok - 1) // 16 + 1) if tok else []:
                cut_s, cut_e = max(blk * 16, pos), min((blk + 1) * 16, pos + tok)
                exp.add((s, blk, sid, cut_s - blk * 16, cut_s - pos, cut_e - cut_s))
            pos += tok
        totals[s] = pos
    got = {
        (r["stream"], r["block"], r["id"], r["block_offset"], r["doc_offset"],
         r["slice_len"])
        for r in out
    }
    assert got == exp
    # zero-token docs contribute no slice; every other doc appears
    assert not any(r["id"] == "900" for r in out)
    # per (stream, block) the slices tile the block exactly: slice_len sums to
    # 16 for every block except each stream's final remainder block
    sums: dict = {}
    for r in out:
        sums[(r["stream"], r["block"])] = sums.get((r["stream"], r["block"]), 0) + r["slice_len"]
    for (s, blk), tot in sums.items():
        last_blk = (totals[s] - 1) // 16
        assert tot == (16 if blk < last_blk else totals[s] - last_blk * 16)

    plan = pack_manifest(
        df, "doc_id", "tokens", block_tokens=16, n_streams=4, n_parts=4
    )._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan


def test_stratified_sample_broadcast_fallback(spark):
    """Above max_case_strata the rate table becomes a broadcast-joined lookup:
    same surviving rows as the CASE path, original columns preserved, and it
    handles a 5k-strata table a CASE chain should never be asked to hold."""
    from mmgraphrag_spark.operators.sampling import stratified_sample

    df = spark.range(0, 3000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 3 == 0, "en").otherwise("fr").alias("lang"),
    )
    rates = {"en": 26, "fr": 256}
    case_path = stratified_sample(df, "doc_id", "lang", rates)
    join_path = stratified_sample(df, "doc_id", "lang", rates, max_case_strata=1)
    assert join_path.columns == df.columns
    assert case_path.exceptAll(join_path).count() == 0
    assert join_path.exceptAll(case_path).count() == 0
    plan = join_path._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan

    # 5k strata: odd-indexed strata keep-all, even drop-all; default unused
    big = spark.range(0, 5000).select(
        F.col("id").alias("doc_id"), F.concat(F.lit("s"), F.col("id")).alias("dom")
    )
    big_rates = {f"s{i}": (256 if i % 2 else 0) for i in range(5000)}
    kept = stratified_sample(big, "doc_id", "dom", big_rates).collect()
    assert {r.doc_id for r in kept} == {i for i in range(5000) if i % 2}


def test_stratified_sample_fallback_keeps_user_columns_and_key_type(spark):
    """The >max_case_strata lookup path: an input column named like the
    helper column passes through untouched, and an integer stratum column
    joins on its own type — the same rows as the CASE path."""
    from mmgraphrag_spark.operators.sampling import stratified_sample

    df = spark.range(0, 4000).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 100).cast("int").alias("bucket"),
        F.concat(F.lit("user-"), F.col("id")).alias("_thr"),
    )
    rates = {k: (256 if k % 3 else 13) for k in range(100)}  # 100 strata > 64
    case_path = stratified_sample(df, "doc_id", "bucket", rates, max_case_strata=1000)
    join_path = stratified_sample(df, "doc_id", "bucket", rates)
    plan = join_path._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan
    assert join_path.columns == df.columns
    got = sorted(tuple(r) for r in join_path.collect())
    assert got == sorted(tuple(r) for r in case_path.collect())
    assert 2000 < len(got) < 4000  # keep-all strata kept, the 13/256 ones cut


def test_fasttext_langid_backend_gated():
    """The production langid seam mirrors the YOLO/sentence-transformers
    gating: absent library -> NotImplementedError with the recipe; the
    marker heuristic stays the offline default and the oracle."""
    import pytest

    from mmgraphrag_spark.operators.textstats import FasttextLangIdBackend

    with pytest.raises(NotImplementedError, match="lid.176.bin"):
        FasttextLangIdBackend()
