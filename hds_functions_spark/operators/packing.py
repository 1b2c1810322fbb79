"""Deterministic sequence packing: assign documents to fixed-token-budget
training shards.

Extension layer (SURVEY.md §7; no reference counterpart). A pretraining
pipeline's last step is packing documents into sequences/shards of a fixed
token budget. The classic greedy packer is inherently sequential; this
operator uses the *cumulative-offset* formulation every distributed
pipeline converges on: lay all documents end-to-end on a virtual token
tape (deterministic order) and cut the tape every ``budget`` tokens —
``seq_id = floor(cumulative_tokens_before / budget)``. Same semantics on
any cluster layout, pure window arithmetic, SQL-oracle-expressible.

Scale: a single global running sum would serialise on one partition, so
packing is two-level — documents are first bucketed into ``n_shards``
deterministic hash shards (independent, embarrassingly parallel), and the
running sum windows *within* each shard. One hash-partition exchange plus
one per-partition sort; no global sort, no driver state.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import token_count, tokens
from .sampling import split_bucket

__all__ = ["pack_sequences", "chunk_documents", "padding_waste_profile"]


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 256,
    overlap: int = 32,
) -> DataFrame:
    """Split each document into fixed-size token windows with overlap — the
    sequence-prep step for context-window training or embedding indexing.

    Output: one row per chunk — ``(id_col, chunk_id, chunk_n_tokens,
    chunk_text)`` with ``chunk_id`` 0-based, chunks of ``chunk_tokens``
    whitespace tokens starting every ``chunk_tokens - overlap`` tokens (the
    final chunk may be shorter). Token-less documents produce no chunks.

    Single narrow projection + ``posexplode`` — no shuffle, no UDF: the
    chunk boundaries are pure array arithmetic (``sequence`` + ``slice``),
    so Catalyst pipelines it into the scan at any scale; output fanout is
    ~n_tokens/stride per document (bounded, skew follows document length).
    """
    if chunk_tokens <= 0:
        raise ValueError(f"chunk_tokens must be positive (got {chunk_tokens})")
    if not 0 <= overlap < chunk_tokens:
        raise ValueError(
            f"overlap must be in [0, chunk_tokens) (got {overlap})"
        )
    stride = chunk_tokens - overlap
    toks = tokens(F.col(text_col))
    n = F.size(toks)
    n_chunks = F.greatest(
        F.ceil((n - F.lit(overlap)) / F.lit(stride)), F.lit(1)
    ).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.slice(toks, i * stride + 1, chunk_tokens),
    )
    return (
        df.filter(n >= 1)
        .select(
            F.col(id_col),
            F.posexplode(chunks).alias("chunk_id", "_chunk"),
        )
        .select(
            id_col,
            F.col("chunk_id").cast("long").alias("chunk_id"),
            F.size("_chunk").cast("long").alias("chunk_n_tokens"),
            F.array_join("_chunk", " ").alias("chunk_text"),
        )
    )


def pack_sequences(
    df: DataFrame,
    id_col: str = "doc_id",
    budget: int = 4096,
    n_shards: int | None = None,
    tokens_col: str | Column | None = None,
    text_col: str = "text",
    salt: str = "",
    tokens_per_shard: int = 8_000_000,
) -> DataFrame:
    """Assign each document a ``(shard, seq_id, seq_offset)``:

    - ``shard``: deterministic id-hash bucket in ``[0, n_shards)``;
    - ``seq_id``: which budget-sized sequence of the shard's virtual token
      tape the document starts in (``floor(tokens_before / budget)``);
    - ``seq_offset``: the document's token offset within that sequence.

    ``n_shards=None`` (the default) derives the shard count from the data:
    one aggregate job measures the total token count, then ``n_shards =
    max(defaultParallelism, ceil(total_tokens / tokens_per_shard))`` — so
    per-task window work is bounded by ``tokens_per_shard`` regardless of
    input size (a fixed shard count would put 1/n of a 100 TB corpus on
    one sort task). The eager sizing job is the same deliberate
    plan-breaking pattern as the reference's ``load_table``
    "latest"-archive resolution (table_management.py:74-82). Pass an
    explicit ``n_shards`` when the assignment must be reproducible across
    differently-sized inputs (e.g. oracle-checked fixtures).

    ``tokens_col`` may name an existing token-count column (or be a Column
    expression); by default whitespace ``token_count(text_col)`` is used.
    Documents within a shard are laid out in ascending ``id_col`` order, so
    the assignment is a pure function of (ids, token counts, salt,
    n_shards) — re-runs and repartitioning cannot move a document between
    sequences.

    Documents longer than ``budget`` span sequences (they start in their
    ``seq_id`` and overflow); splitting them is the tokeniser's job
    downstream — this operator decides placement, not truncation.
    """
    if budget <= 0:
        raise ValueError(f"budget must be positive (got {budget})")
    if n_shards is not None and n_shards <= 0:
        raise ValueError(f"n_shards must be positive (got {n_shards})")
    if tokens_col is None:
        n_tokens: Column = token_count(F.col(text_col))
    elif isinstance(tokens_col, str):
        n_tokens = F.col(tokens_col)
    else:
        n_tokens = tokens_col
    if n_shards is None:
        total = df.agg(
            F.coalesce(F.sum(n_tokens), F.lit(0)).alias("t")
        ).collect()[0]["t"]
        parallelism = df.sparkSession.sparkContext.defaultParallelism
        n_shards = max(parallelism, -(-int(total) // tokens_per_shard))
    shard = split_bucket(id_col, salt) % n_shards
    out = df.withColumn("_n_tokens", n_tokens).withColumn("shard", shard)
    w = (
        Window.partitionBy("shard")
        .orderBy(F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # tokens strictly before this doc on the shard's tape
    before = F.sum("_n_tokens").over(w) - F.col("_n_tokens")
    return (
        out.withColumn("_before", before)
        .withColumn(
            "seq_id", F.floor(F.col("_before") / F.lit(budget)).cast("long")
        )
        .withColumn(
            "seq_offset", (F.col("_before") % F.lit(budget)).cast("long")
        )
        .drop("_before")
        .withColumnRenamed("_n_tokens", "n_tokens")
    )


def padding_waste_profile(
    df: DataFrame,
    len_col: str,
    bucket: int = 64,
    max_len: int = 512,
    round_digits: int = 6,
) -> DataFrame:
    """Length-bucketed padding-waste analysis: if sequences are batched by
    rounding their (truncated) length up to the next multiple of
    ``bucket``, how many pad tokens does each bucket burn? The
    batch-shaping diagnostic used to pick bucket boundaries before
    training.

    ``seq_len = least(len, max_len)`` (truncation), ``bucket_len =
    ceil(max(seq_len, 1) / bucket) * bucket``. Output per bucket_len:
    ``n_seqs``, ``total_tokens``, ``total_padding``, and ``pad_frac`` =
    padding / (padding + tokens). ONE map-side-combinable groupBy whose
    exchange carries at most ``max_len / bucket`` rows — a constant.
    """
    if bucket < 1 or max_len < 1:
        raise ValueError("bucket and max_len must be >= 1")
    seq = F.least(F.col(len_col).cast("long"), F.lit(int(max_len)))
    blen = (
        F.ceil(F.greatest(seq, F.lit(1)) / F.lit(int(bucket)))
        * F.lit(int(bucket))
    ).cast("long")
    return (
        df.select(seq.alias("_seq"), blen.alias("bucket_len"))
        .groupBy("bucket_len")
        .agg(
            F.count(F.lit(1)).alias("n_seqs"),
            F.sum("_seq").alias("total_tokens"),
            F.sum(F.col("bucket_len") - F.col("_seq")).alias("total_padding"),
            F.round(
                F.sum(F.col("bucket_len") - F.col("_seq"))
                / (F.count(F.lit(1)) * F.col("bucket_len")),
                round_digits,
            ).alias("pad_frac"),
        )
    )
