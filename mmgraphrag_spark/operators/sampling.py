"""Deterministic, seed-stable sampling and split assignment for training-data
pipelines.

Why not df.sample(): Spark's sample() is partition-layout-dependent (the same
row can land in or out depending on how the input was split), which makes
train/val membership irreproducible across re-reads, repartitions, or engine
versions. A 100 TB corpus needs CONTENT-keyed membership: hash the row id with
a seed and compare against fixed thresholds, so every engine (Spark, DuckDB,
a Python oracle) assigns the identical split forever.

The hash bucket is the first two hex digits of md5("<seed>:<id>") — 256
uniform buckets compared LEXICOGRAPHICALLY against fixed-width hex literals,
which sidesteps every hex->int conversion discrepancy between engines. All
pure JVM expressions: WholeStageCodegen, zero shuffles, zero UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def hash_bucket(id_col: Column, seed: str) -> Column:
    """2-hex-digit (256-way) deterministic bucket of a row id under a seed."""
    return F.substring(F.md5(F.concat(F.lit(f"{seed}:"), id_col.cast("string"))), 1, 2)


def _hex2(n: int) -> str:
    if not 0 <= n <= 256:
        raise ValueError(f"threshold {n} outside [0, 256]")
    return format(n, "02x") if n < 256 else "zz"  # 'zz' > any hex pair


def assign_split(
    df: DataFrame,
    id_col: str,
    seed: str = "split",
    train: int = 205,
    val: int = 230,
) -> DataFrame:
    """(id, bucket, split): deterministic train/val/test assignment.

    `train` and `val` are CUMULATIVE bucket thresholds out of 256: bucket <
    train -> 'train', < val -> 'val', else 'test' (defaults ~80/10/10).
    Membership depends only on (seed, id) — stable under repartitioning,
    re-reads, and engine changes, unlike df.sample()/randomSplit()."""
    if not train <= val <= 256:
        raise ValueError(f"need train <= val <= 256, got {train}, {val}")
    b = hash_bucket(F.col(id_col), seed)
    return df.select(
        F.col(id_col).alias("id"),
        b.alias("bucket"),
        F.when(b < F.lit(_hex2(train)), F.lit("train"))
        .when(b < F.lit(_hex2(val)), F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )


def deterministic_sample(
    df: DataFrame, id_col: str, rate_per_256: int, seed: str = "sample"
) -> DataFrame:
    """Keep rows whose (seed, id) bucket falls below rate_per_256 (e.g. 26 ->
    ~10.2%). A filter, not a projection: all original columns survive, and the
    predicate is a pure scan-side expression (pushes past joins/projections
    like any other filter)."""
    return df.filter(hash_bucket(F.col(id_col), seed) < F.lit(_hex2(rate_per_256)))


def stratified_sample(
    df: DataFrame,
    id_col: str,
    stratum_col: str,
    rates_per_256: dict[str, int],
    default_rate_per_256: int = 0,
    seed: str = "stratified",
    max_case_strata: int = 64,
) -> DataFrame:
    """Per-stratum deterministic sampling: each stratum value gets its own
    keep-rate (in /256 units), e.g. downsample 'en' to 5% while keeping 100%
    of low-resource languages. Strata missing from `rates_per_256` use
    `default_rate_per_256`.

    Up to ``max_case_strata`` strata (default 64) the rate table folds into
    a CASE expression — no join, no shuffle, scan-side evaluable at any
    scale. Beyond that (per-domain rate tables with thousands of entries)
    a CASE chain of that depth bloats the expression tree and codegen, so
    the rates become a broadcast-joined lookup frame instead: still zero
    shuffles of the corpus side, and the same rows survive (equivalence
    asserted in tests at 5k strata). Either path is a pure filter — all
    original columns survive."""
    b = hash_bucket(F.col(id_col), seed)
    if len(rates_per_256) > max_case_strata:
        # the threshold column must not shadow an input column (Spark
        # resolves names case-insensitively), and the stratum key keeps its
        # real type so the join matches exactly what the CASE path compares
        taken = {c.lower() for c in df.columns}
        thr = "_thr"
        while thr in taken:
            thr = "_" + thr
        rates = df.sparkSession.createDataFrame(
            [(v, _hex2(r)) for v, r in sorted(rates_per_256.items())],
            T.StructType([
                T.StructField(stratum_col, df.schema[stratum_col].dataType),
                T.StructField(thr, T.StringType()),
            ]),
        )
        return (
            df.join(F.broadcast(rates), stratum_col, "left")
            .filter(b < F.coalesce(F.col(thr), F.lit(_hex2(default_rate_per_256))))
            .drop(thr)
            # the using-column join reorders stratum_col first; restore
            .select(*df.columns)
        )
    thr: Column = F.lit(_hex2(default_rate_per_256))
    for value, rate in sorted(rates_per_256.items()):
        thr = F.when(F.col(stratum_col) == value, F.lit(_hex2(rate))).otherwise(thr)
    return df.filter(b < thr)


def pack_training_blocks(
    df: DataFrame,
    id_col: str,
    tokens_col: str,
    block_tokens: int = 2048,
    n_streams: int = 256,
    n_parts: int | None = None,
) -> DataFrame:
    """GPT-style concat-and-chunk packing plan: documents are concatenated in
    a deterministic order and the token stream is cut into fixed
    ``block_tokens`` windows (documents may straddle block boundaries — the
    standard pretraining packing, not bin packing). Returns one row per doc:

        (id, stream, stream_pos, start_block, end_block, n_blocks)

    where ``stream_pos`` is the doc's first-token offset within its stream,
    ``start_block``/``end_block`` the first/last block index it lands in, and
    ``n_blocks`` how many blocks it spans — everything a writer needs to
    materialize block files without ever holding a stream in one place.

    Scale design: a single global token stream would need a GLOBAL cumulative
    sum (one unpartitioned window — the exact WindowExec scale-killer this
    repo bans). Instead docs are sharded into ``n_streams`` independent
    streams by the same content-keyed md5 bucket as assign_split — stable
    under repartitioning — and each stream packs independently: ONE exchange
    on the stream key, per-stream window cumsum, all closed-form (exact SQL
    oracle). Per-stream remainder waste is < block_tokens tokens, i.e.
    bounded by n_streams * block_tokens total regardless of corpus size.
    Empty docs (0 tokens) get n_blocks=0 with start_block=end_block=the
    block containing their offset position.

    Contract fine print: ids must be UNIQUE — duplicate ids tie in the
    ROWS-frame window orderBy and make stream_pos nondeterministic (run
    exact_dedup first if in doubt). And because the 256-way md5 bucket folds
    with ``% n_streams``, an n_streams that does not divide 256 gives the
    low-numbered streams ceil(256/n)/floor(256/n) of the buckets (~mild
    size skew); prefer power-of-2 n_streams for exactly uniform streams.
    """
    packed = _packed_streams(df, id_col, tokens_col, block_tokens, n_streams, n_parts)
    # bigint DIV, not floor(double /): a double quotient can misround at the
    # block boundary once per-stream token totals pass 2^53
    start = F.expr(f"stream_pos DIV {int(block_tokens)}")
    end = F.expr(
        f"(stream_pos + GREATEST(_tok - 1, 0)) DIV {int(block_tokens)}"
    )
    return packed.select(
        "id",
        "stream",
        "stream_pos",
        start.cast("bigint").alias("start_block"),
        end.cast("bigint").alias("end_block"),
        F.when(F.col("_tok") == 0, F.lit(0))
        .otherwise(end - start + 1)
        .cast("bigint")
        .alias("n_blocks"),
    )


def _packed_streams(
    df: DataFrame,
    id_col: str,
    tokens_col: str,
    block_tokens: int,
    n_streams: int,
    n_parts: int | None,
) -> DataFrame:
    """Shared core of pack_training_blocks / pack_manifest: (id, stream,
    _tok, stream_pos) — content-keyed stream assignment + the per-stream
    string-ordered cumulative token offset (the ONE exchange)."""
    if block_tokens <= 0:
        raise ValueError(f"block_tokens must be positive, got {block_tokens}")
    if not 1 <= n_streams <= 256:
        raise ValueError(f"n_streams must be in [1, 256], got {n_streams}")
    idc, tok = F.col(id_col), F.col(tokens_col).cast("bigint")
    # reuse the 256-way content-keyed bucket, folded down to n_streams
    stream = (
        F.conv(hash_bucket(idc, "pack"), 16, 10).cast("int") % n_streams
    ).alias("stream")
    base = df.select(
        idc.cast("string").alias("id"), tok.alias("_tok"), stream
    )
    if n_parts is not None:
        base = base.repartition(n_parts, "stream")
    w = (
        Window.partitionBy("stream")
        .orderBy("id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    pos = (F.sum("_tok").over(w) - F.col("_tok")).alias("stream_pos")
    return base.select("id", "stream", "_tok", pos)


def pack_manifest(
    df: DataFrame,
    id_col: str,
    tokens_col: str,
    block_tokens: int = 2048,
    n_streams: int = 256,
    n_parts: int | None = None,
) -> DataFrame:
    """The block writer's inverse view of pack_training_blocks: one row per
    (stream, block, doc slice) —

        (stream, block, id, block_offset, doc_offset, slice_len)

    meaning tokens [doc_offset, doc_offset + slice_len) of document ``id``
    fill positions [block_offset, block_offset + slice_len) of block
    ``block`` in stream ``stream``. Grouping by (stream, block) and ordering
    slices by block_offset reproduces each training block exactly; summing
    slice_len per block gives block_tokens except for each stream's final
    remainder block. Zero-token docs contribute no slice.

    Same contract fine print as pack_training_blocks (unique ids; prefer
    power-of-2 n_streams). Closed-form from the same per-stream cumsum: the
    doc's span [stream_pos, stream_pos + _tok) intersects each block index
    in [start_block, end_block] — explode that (bounded) range and clip.
    Still exactly ONE exchange (the stream-key window; the explode and
    arithmetic are narrow — plan-asserted in tests)."""
    packed = _packed_streams(df, id_col, tokens_col, block_tokens, n_streams, n_parts)
    bt = int(block_tokens)
    start = F.expr(f"stream_pos DIV {bt}")
    end = F.expr(f"(stream_pos + _tok - 1) DIV {bt}")
    sliced = packed.filter(F.col("_tok") > 0).select(
        "id",
        "stream",
        "stream_pos",
        "_tok",
        F.explode(F.sequence(start.cast("bigint"), end.cast("bigint"))).alias("block"),
    )
    blk_start = F.col("block") * bt  # stream offset where this block begins
    cut_start = F.greatest(blk_start, F.col("stream_pos"))
    cut_end = F.least(blk_start + bt, F.col("stream_pos") + F.col("_tok"))  # exclusive
    return sliced.select(
        "stream",
        "block",
        "id",
        (cut_start - blk_start).cast("bigint").alias("block_offset"),
        (cut_start - F.col("stream_pos")).cast("bigint").alias("doc_offset"),
        (cut_end - cut_start).cast("bigint").alias("slice_len"),
    )
