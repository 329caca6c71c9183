"""Sequence packing: assign documents to fixed-token-budget chunks.

The standard LLM training-prep step after filtering/dedup: documents
are concatenated in a deterministic order and the token stream is cut
into fixed-size context windows ("concat-and-chunk").  Each document
is assigned to the chunk where its FIRST token lands — the contract is
a pure function of (order, token counts, budget), so any engine
replays it exactly (the DuckDB oracle is a window cumsum).

Scale design: the global exclusive running sum is the whole problem —
``Window.orderBy`` without a partition key collapses to ONE task.  We
never do that: the keyed form windows per key (one shuffle on the
keys), and the global form range-buckets the order column
(:mod:`.range_buckets`), so every heavy stage remains fully parallel.

This extends the engine beyond the reference surface (the reference,
/root/reference/src/DataFrameIntervals.jl, is interval-join only);
packing is part of the large-scale training-pipeline layer
(SURVEY.md §7.1 item 8).
"""

from __future__ import annotations

from typing import Optional, Sequence, Union

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .range_buckets import BUCKET, attach, bucketize, summarize


def _by_cols(by) -> list:
    if by is None:
        return []
    return [by] if isinstance(by, str) else list(by)


def pack_sequences(
    df: DataFrame,
    budget: int,
    tokens_col: str = "n_tokens",
    order_col: str = "doc_id",
    by: Union[str, Sequence[str], None] = None,
    chunk_col: str = "chunk_id",
    offset_col: str = "chunk_offset",
) -> DataFrame:
    """Concat-and-chunk packing: documents ordered by ``order_col``
    (per ``by`` key when given) are laid out on one token stream; a row
    whose exclusive running token sum is ``s`` gets
    ``chunk_id = s DIV budget`` and ``chunk_offset = s MOD budget``.

    Documents longer than ``budget`` are allowed (they span chunks —
    chunk assignment is by first token, faithful to how GPT-style
    pipelines cut the concatenated stream).  ``order_col`` must be
    unique per key or the layout is nondeterministic.  A row whose
    ``order_col`` is NULL is not placed: its two output columns are NULL
    and it shifts no other row.

    Returns ``df`` + ``chunk_col`` + ``offset_col``.
    """
    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    by_cols = _by_cols(by)
    # a NULL order key has no place in the stream: it takes no tokens
    # and its own start (cumsum - tok) comes out NULL
    tok = F.when(F.col(order_col).isNotNull(), F.col(tokens_col).cast("long"))

    if by_cols:
        w = (
            Window.partitionBy(*by_cols)
            .orderBy(order_col)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        # inclusive cumsum minus own tokens = exclusive running sum
        start = (F.sum(tok).over(w) - tok).alias("__tok_start")
        out = df.select("*", start)
    else:
        out = _global_exclusive_cumsum(df, tok, order_col)

    return (
        out.withColumn(chunk_col, F.expr(f"__tok_start DIV {int(budget)}"))
        .withColumn(offset_col, F.pmod(F.col("__tok_start"), F.lit(int(budget))))
        .drop("__tok_start")
    )


def _global_exclusive_cumsum(
    df: DataFrame, tok, order_col: str
) -> DataFrame:
    """Keyless exclusive running sum of ``tok`` in ``order_col`` order
    without a single-partition exchange: cumsum per range bucket, plus
    the prefix sum of per-bucket totals (:mod:`.range_buckets`)."""
    u = bucketize(df, F.col(order_col))
    off_rows, acc = [], 0
    for r in summarize(u, F.sum(tok).alias("tsum")):
        off_rows.append((r[BUCKET], acc))
        acc += int(r["tsum"] or 0)
    w = (
        Window.partitionBy(BUCKET)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return attach(u, off_rows, {"__off": "long"}).select(
        *df.columns,
        (F.sum(tok).over(w) - tok + F.col("__off")).alias("__tok_start"),
    )


def pack_sequences_greedy(
    df: DataFrame,
    budget: int,
    tokens_col: str = "n_tokens",
    order_col: str = "doc_id",
    by: Union[str, Sequence[str], None] = None,
    chunk_col: str = "chunk_id",
) -> DataFrame:
    """No-split greedy packing: walk documents in ``order_col`` order
    (per key) and close the current chunk when the next document would
    overflow ``budget`` — documents never straddle chunks (sample-level
    packing, vs :func:`pack_sequences`'s concat-and-chunk token
    streams).  A document longer than ``budget`` gets a chunk of its
    own.  Deterministic, so an engine-independent oracle can replay it
    (sequential recursion — a recursive CTE in SQL).

    The running (chunk, fill) state is inherently sequential per key,
    so this is a keyed operator (``by`` required): one shuffle on the
    keys, then an Arrow-batched per-key pass.  At 100 TB parallelism
    comes from key cardinality — for a keyless corpus, pack within
    deterministic hash-partitions (add a bucket key) or use
    :func:`pack_sequences`, whose token-offset contract parallelizes
    without per-row state.
    """
    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    by_cols = _by_cols(by)
    if not by_cols:
        raise ValueError(
            "pack_sequences_greedy requires `by` keys — the greedy fill "
            "state is sequential per key (see docstring for keyless options)"
        )
    from pyspark.sql.types import LongType, StructField, StructType

    budget_i = int(budget)
    order_c, tokens_c = order_col, tokens_col
    out_schema = StructType(
        list(df.schema.fields) + [StructField(chunk_col, LongType())]
    )

    def pack(pdf):
        pdf = pdf.sort_values(order_c, kind="mergesort").reset_index(drop=True)
        chunks = []
        chunk, fill = 0, 0
        for t in pdf[tokens_c].astype("int64"):
            t = int(t)
            if fill > 0 and fill + t > budget_i:
                chunk, fill = chunk + 1, 0
            chunks.append(chunk)
            fill += t
        pdf[chunk_col] = chunks
        return pdf

    return df.groupBy(*by_cols).applyInPandas(pack, out_schema)


def pack_stats(
    packed: DataFrame,
    budget: int,
    tokens_col: str = "n_tokens",
    by: Union[str, Sequence[str], None] = None,
    chunk_col: str = "chunk_id",
) -> DataFrame:
    """Per-chunk fill statistics for a :func:`pack_sequences` output:
    documents per chunk, tokens STARTING in the chunk, and the fill
    ratio against ``budget`` (>1 when a long document spills into the
    next chunk).  One partial-aggregated shuffle on (keys, chunk)."""
    by_cols = _by_cols(by)
    return packed.groupBy(*by_cols, chunk_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col(tokens_col).cast("long")).alias("n_tokens"),
        (F.sum(F.col(tokens_col).cast("long")) / F.lit(float(budget))).alias(
            "fill_ratio"
        ),
    )


def chunk_documents(
    docs: DataFrame,
    chunk_tokens: int = 256,
    stride: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Sliding-window token chunking — the RAG/context-prep counterpart
    of :func:`pack_sequences`: each document expands into (possibly
    overlapping) windows of ``chunk_tokens`` whitespace tokens taken
    every ``stride`` tokens (``stride == chunk_tokens``, the default,
    is non-overlapping; smaller strides overlap for retrieval recall).

    Output: ``(id_col, chunk_id, chunk_start, n_tokens, chunk_text)``
    with ``chunk_id = chunk_start / stride``; the final window may be
    shorter; empty documents produce no rows.

    Scale shape: pure narrow expressions (tokenize → generated start
    sequence → explode → slice) — NO shuffle, no Python, pushdown and
    pruning flow through untouched."""
    if chunk_tokens <= 0:
        raise ValueError(f"chunk_tokens must be positive, got {chunk_tokens}")
    stride = chunk_tokens if stride is None else stride
    if not (0 < stride <= chunk_tokens):
        raise ValueError(
            f"need 0 < stride <= chunk_tokens, got {stride=} {chunk_tokens=}"
        )
    from ..functions.text import tokens

    n = F.size(F.col("__tl"))
    starts = F.sequence(F.lit(0), F.greatest(n - 1, F.lit(0)), F.lit(stride))
    ex = (
        docs.select(F.col(id_col), tokens(F.col(text_col)).alias("__tl"))
        .filter(F.size(F.col("__tl")) > 0)
        .select(F.col(id_col), "__tl", F.explode(starts).alias("__s"))
    )
    chunk = F.slice(F.col("__tl"), F.col("__s") + 1, chunk_tokens)
    return ex.select(
        F.col(id_col),
        (F.col("__s") / F.lit(stride)).cast("long").alias("chunk_id"),
        F.col("__s").cast("long").alias("chunk_start"),
        F.size(chunk).cast("long").alias("n_tokens"),
        F.array_join(chunk, " ").alias("chunk_text"),
    )


def chunk_by_sentences(
    df: DataFrame,
    text_col: str = "text",
    max_chars: int = 512,
    id_cols: Sequence[str] = ("doc_id",),
) -> DataFrame:
    """Sentence-aware greedy chunking — the packing stage that respects
    sentence boundaries (:func:`~..functions.text.split_sentences`):
    sentences fill a chunk greedily until adding the next one (plus a
    joining space) would exceed ``max_chars``, then a new chunk starts;
    a single sentence longer than ``max_chars`` still gets its own
    chunk (never split mid-sentence — the conservative long-context
    packing rule).  One row per (document, chunk): ``chunk_idx``,
    ``n_sentences``, ``chunk_text``.

    Scale shape: the greedy fold, the per-chunk regroup, and the final
    explode are ALL row-local array expressions — zero shuffles, zero
    Python, codegen'd end to end (plan-locked); per-row work is
    O(sentences · chunks), bounded by the document length.  The fold
    state is a (chunk_idx, acc_len, ids) struct threaded through
    ``F.aggregate``; chunks regroup by filtering the zipped
    (sentence, id) array per chunk id — no collect_list, so chunk text
    order is deterministic by construction.

    Expression-sharing shape (the round-11 fix): the sentence split
    (two regexes + per-element trim), the fold, and the zipped array
    are each materialized in their OWN projection before anything
    references them from inside a lambda.  Inlining them (the original
    shape) replayed the full regex split + fold once per chunk id per
    reference — the formatted plan carried SIX copies of the split and
    an inferred pre-Generate Filter that evaluated the entire chain
    again per row.  ``CollapseProject`` keeps the stages separate
    because each alias is non-cheap and consumed more than once; the
    explode is the ``_outer`` variant + a post-Generate null filter so
    no size() filter over the chunk expression is inferred below it."""
    from ..functions.text import split_sentences

    if max_chars < 1:
        raise ValueError(f"max_chars must be >= 1, got {max_chars}")
    st0 = F.struct(
        F.lit(0).cast("int").alias("idx"),
        F.lit(-1).cast("long").alias("acc"),
        F.array().cast("array<int>").alias("ids"),
    )

    def step(a, s):
        ln = F.length(s).cast("long")
        fresh = a.getField("acc") < 0
        over = a.getField("acc") + 1 + ln > F.lit(int(max_chars))
        nidx = (
            F.when(fresh, a.getField("idx"))
            .when(over, a.getField("idx") + 1)
            .otherwise(a.getField("idx"))
        )
        nacc = F.when(fresh | over, ln).otherwise(
            a.getField("acc") + 1 + ln
        )
        return F.struct(
            nidx.cast("int").alias("idx"),
            nacc.alias("acc"),
            F.concat(
                a.getField("ids"), F.array(nidx.cast("int"))
            ).alias("ids"),
        )

    # stage 1: the regex split, once per row
    d = df.select(*id_cols, split_sentences(F.col(text_col)).alias("__s"))
    # stage 2: the greedy fold, once per row
    d = d.select(
        *id_cols,
        "__s",
        F.aggregate(F.col("__s"), st0, step).getField("ids").alias("__i"),
    )
    # stage 3: the zipped (sentence, chunk-id) array + the chunk count
    d = d.select(
        *id_cols,
        F.size("__s").alias("__ns"),
        F.arrays_zip(
            F.col("__s").alias("s"), F.col("__i").alias("i")
        ).alias("__z"),
        F.when(F.size("__i") > 0, F.element_at("__i", -1)).alias("__last"),
    )

    def chunk_k(k):
        # bind the filtered slice ONCE via a one-element-array
        # transform (a per-k local let — the two consumers used to
        # re-run the filter each)
        return F.element_at(
            F.transform(
                F.array(F.filter(F.col("__z"), lambda p: p.getField("i") == k)),
                lambda z: F.struct(
                    F.array_join(
                        F.transform(z, lambda p: p.getField("s")), " "
                    ).alias("txt"),
                    F.size(z).alias("n"),
                ),
            ),
            1,
        )

    out = d.select(
        *id_cols,
        F.when(
            F.col("__ns") > 0,
            F.transform(F.sequence(F.lit(0), F.col("__last")), chunk_k),
        )
        .otherwise(F.array().cast(
            "array<struct<txt:string,n:int>>"
        ))
        .alias("__chunks"),
    )
    ex = out.select(
        *id_cols, F.posexplode_outer("__chunks").alias("chunk_idx", "__c")
    ).filter(F.col("chunk_idx").isNotNull())
    return ex.select(
        *id_cols,
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.col("__c.n").cast("long").alias("n_sentences"),
        F.col("__c.txt").alias("chunk_text"),
    )
