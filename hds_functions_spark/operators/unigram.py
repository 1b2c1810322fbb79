"""Distributed unigram-LM (SentencePiece-style) tokenizer training.

The standard alternative to BPE that modern pipelines actually ship
(Kudo 2018, "Subword Regularization"): score a vocabulary of candidate
pieces by a unigram language model, segment with Viterbi, re-estimate,
prune. This module implements the *hard-EM* (Viterbi-EM) variant —
the E-step uses the single best segmentation rather than
forward-backward expected counts — which Kudo's paper notes as the
Viterbi approximation. Hard-EM is what makes the whole loop exactly
reproducible across engines:

- **Every cross-row aggregate is an integer.** Piece-usage counts are
  ``sum(word_freq)`` over Viterbi segmentations — bigints, so shuffle
  / aggregation order can never perturb them (no float-sum drift).
- **The only doubles are per-word DP products.** Piece probabilities
  are exact ratios of bigints (Laplace-smoothed,
  ``(cnt + 1) / (total + |vocab|)``), and the Viterbi recurrence is
  ``dp[j] = max_k dp[j-k] * p(piece)`` — IEEE multiply/compare with a
  deterministic tie-break (smallest ``k``), so Python, Spark and
  DuckDB produce bit-identical segmentations. No ``ln``/``exp``
  (libm results differ across engines); no float summation.

Spark-first shape, and the reason it scales:

- **Train on the word-frequency dictionary, not the corpus** (same
  collapse as :mod:`operators.bpe` — the reference tokenizer-training
  principle): the corpus reduces to ``(word, n)`` in ONE map-side
  combinable aggregate; every later frame is dictionary- or
  vocabulary-sized regardless of corpus bytes.
- **One equi-join + one combinable aggregate per EM pass.** Candidate
  piece occurrences are an explode of the dictionary (bounded by
  ``max_word_len * max_piece_len`` rows per word) equi-joined to the
  broadcastable vocabulary; usage counts are a combinable
  ``groupBy(piece).sum(n)``.
- **The per-word Viterbi DP is the justified Python crossing**: an
  iterative per-key DP with data-dependent traceback has no built-in
  expression form, so it runs Arrow-batched in ``mapInPandas`` over
  the dictionary-sized frame (the multimodal-decode precedent) —
  O(len * max_piece_len) per word, never corpus-sized.
- **No data-sized driver round-trips**: the loop materialises only
  vocabulary-sized frames per iteration (``localCheckpoint`` for
  lineage truncation, the BPE/connected-components precedent).

Reference scope note: ``bhfdschds/hds_functions`` has no tokenizer
surface; this is part of the LLM-pipeline extension layer (SURVEY §2
extensions), a sibling of ``operators/bpe.py``.
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .bpe import word_frequency_table

__all__ = [
    "unigram_train",
    "unigram_segment_words",
    "unigram_encode_stats",
    "viterbi_segment_py",
]

#: Output schema of the per-word Viterbi segmentation UDF.
_SEG_SCHEMA = StructType(
    [
        StructField("word", StringType()),
        StructField("n", LongType()),
        StructField("pieces", ArrayType(StringType())),
    ]
)


def _word_table(docs: DataFrame, text_col: str, max_word_len: int) -> DataFrame:
    """``(word, n, len)`` — the lowercased word dictionary, words
    truncated to ``max_word_len`` chars (re-aggregated after truncation
    so collided words merge). The oracle truncates identically."""
    wf = word_frequency_table(docs, text_col)
    return (
        wf.select(F.substring("word", 1, max_word_len).alias("word"), "n")
        .groupBy("word")
        .agg(F.sum("n").alias("n"))
        .withColumn("len", F.length("word"))
    )


def _occurrences(words: DataFrame, max_piece_len: int) -> DataFrame:
    """All substring occurrences ``(word, n, len, i, k, piece)`` with
    ``piece = word[i : i + k]``, ``1 <= k <= max_piece_len``. Bounded
    fanout: at most ``len * max_piece_len`` rows per dictionary word."""
    return (
        words.select(
            "word",
            "n",
            "len",
            F.explode(F.sequence(F.lit(0), F.col("len") - 1)).alias("i"),
        )
        .select(
            "word",
            "n",
            "len",
            "i",
            F.explode(
                F.sequence(
                    F.lit(1),
                    F.least(F.lit(max_piece_len), F.col("len") - F.col("i")),
                )
            ).alias("k"),
        )
        .withColumn("piece", F.col("word").substr(F.col("i") + 1, F.col("k")))
    )


def viterbi_segment_py(
    length: int, occs: "list[tuple[int, int, float, str]]"
) -> list[str]:
    """Pure-Python Viterbi over one word: ``occs`` holds
    ``(i, k, p, piece)`` candidates (piece = word[i:i+k] with model
    probability p). Maximises the product of piece probabilities;
    ties break to the SMALLEST ``k`` at each step — the exact rule the
    DuckDB oracle expresses as ``ORDER BY v DESC, k ASC``. Shared by
    the Spark UDF and the in-memory parity reference so they cannot
    drift. Returns [] when no full path exists (a character missing
    from the vocabulary — impossible when single chars are always
    kept, but fail closed rather than raise)."""
    lookup = {(int(o[0]), int(o[1])): (float(o[2]), o[3]) for o in occs}
    dp: list[float | None] = [None] * (length + 1)
    dp[0] = 1.0
    max_k = max((key[1] for key in lookup), default=1)
    for j in range(1, length + 1):
        best = None
        for k in range(1, min(max_k, j) + 1):
            prev = dp[j - k]
            hit = lookup.get((j - k, k))
            if prev is None or hit is None:
                continue
            v = prev * hit[0]
            if best is None or v > best:
                best = v
        dp[j] = best
    if dp[length] is None:
        return []
    pieces: list[str] = []
    j = length
    while j > 0:
        best = None
        best_k = None
        for k in range(1, min(max_k, j) + 1):
            prev = dp[j - k]
            hit = lookup.get((j - k, k))
            if prev is None or hit is None:
                continue
            v = prev * hit[0]
            if best is None or v > best:
                best, best_k = v, k
        pieces.append(lookup[(j - best_k, best_k)][1])
        j -= best_k
    pieces.reverse()
    return pieces


def unigram_segment_words(
    words: DataFrame, vocab: DataFrame, max_piece_len: int,
    occurrences: DataFrame | None = None,
) -> DataFrame:
    """Viterbi-best segmentation of every dictionary word under the
    vocabulary model: ``(word, n, pieces)``. One broadcast equi-join
    (occurrences x vocab) + one combinable collect per word + the
    Arrow-batched DP. ``vocab`` must carry ``(piece, p)``.
    ``occurrences`` lets the EM loop pass a persisted substring table
    (it is vocab-independent) instead of re-exploding per iteration."""
    if occurrences is None:
        occurrences = _occurrences(words, max_piece_len)
    occ = occurrences.join(
        F.broadcast(vocab.select("piece", "p")), on="piece"
    )
    grouped = occ.groupBy("word", "n", "len").agg(
        F.sort_array(
            F.collect_list(F.struct("i", "k", "p", "piece"))
        ).alias("occs")
    )

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            out = {"word": [], "n": [], "pieces": []}
            for word, n, length, occs in zip(
                pdf["word"], pdf["n"], pdf["len"], pdf["occs"]
            ):
                out["word"].append(word)
                out["n"].append(n)
                out["pieces"].append(
                    viterbi_segment_py(
                        int(length),
                        [(o["i"], o["k"], o["p"], o["piece"]) for o in occs],
                    )
                )
            yield pd.DataFrame(out)

    return grouped.mapInPandas(run, _SEG_SCHEMA)


def _prune_py(cnts: "dict[str, int]", max_vocab: int) -> "dict[str, int]":
    """Keep every single-character piece (coverage guarantee) plus the
    top ``max_vocab`` multi-char pieces by (cnt DESC, piece ASC) — a
    deterministic integer ordering, the SentencePiece prune-to-target
    loop without the float likelihood-loss score.

    Driver-side (the vocabulary is bounded at ``max_vocab`` plus the
    alphabet — never data-sized). Tie-break identity with the former
    Spark ``Window.orderBy(cnt DESC, piece ASC)``: Python ``str``
    comparison orders by code point, which equals Spark's UTF8String
    binary ordering (UTF-8 byte order preserves code-point order), and
    ``len(str)``/``F.length`` both count code points."""
    chars = {p: c for p, c in cnts.items() if len(p) == 1}
    multi = sorted(
        ((p, c) for p, c in cnts.items() if len(p) > 1),
        key=lambda x: (-x[1], x[0]),
    )[:max_vocab]
    return {**chars, **dict(multi)}


def _smoothed_probs_py(cnts: "dict[str, int]") -> "dict[str, float]":
    """M-step: Laplace-smoothed piece probabilities ``p = (cnt + 1) /
    (total + |vocab|)``, computed on the driver. All operands are
    Python ints far below 2**53, so int->double conversion is exact on
    both engines and the single IEEE division is bit-identical to the
    former Spark ``cast("double")`` division (CPython's int/int true
    division is correctly rounded). Smoothing keeps every kept piece
    strictly positive, so no zero-probability path can make the DP
    degenerate. Raises ``ValueError`` when ``total + |vocab|`` reaches
    2**53, where the bit-identity no longer holds (every ``cnt + 1`` is
    at most that denominator, so one check covers both operands)."""
    total, nv = sum(cnts.values()), len(cnts)
    if total + nv >= 2**53:
        raise ValueError(
            f"piece count total + |vocab| = {total + nv} is not below "
            "2**53: the double division would not be exact"
        )
    return {p: (c + 1) / (total + nv) for p, c in cnts.items()}


def _vocab_frame(spark, probs: "dict[str, float]", cnts: "dict[str, int]"):
    """The current vocabulary as a literal LocalRelation ``(piece, cnt,
    p)`` — broadcastable with NO job (the BPE literal-rewrite
    precedent). Rows sorted for deterministic output order."""
    return spark.createDataFrame(
        sorted((p, int(cnts[p]), float(probs[p])) for p in probs),
        "piece: string, cnt: bigint, p: double",
    )


def _train(
    docs: DataFrame,
    text_col: str,
    max_piece_len: int,
    max_word_len: int,
    min_seed_count: int,
    max_vocab: int,
    n_iterations: int,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Shared loop: returns ``(final vocab (piece, cnt, p), word
    dictionary, persisted occurrence table)``. Seed = all substrings
    (single chars always; multi-char gated by ``min_seed_count`` then
    top-``max_vocab``); each EM iteration re-counts pieces over Viterbi
    segmentations, prunes, and re-estimates probabilities.

    ONE Spark job per EM step (the vocab-sized count collect), plus one
    for the seed — the BPE trainer's literal-rewrite shape (r16 Batch
    A) applied to the EM loop: the counted vocabulary is bounded
    (``max_vocab`` + alphabet rows), so prune + M-step run on the
    driver and the next iteration joins against a LITERAL vocab frame.
    This replaces the former per-iteration ``localCheckpoint`` (an RDD
    materialisation job + a single-partition row_number Window per
    prune) while producing bit-identical probabilities — see
    the _prune_py/_smoothed_probs_py identity notes."""
    from ..caching import tracked_persist

    if max_piece_len < 2:
        raise ValueError(f"max_piece_len must be >= 2 (got {max_piece_len})")
    if n_iterations < 1:
        raise ValueError(f"n_iterations must be >= 1 (got {n_iterations})")
    spark = docs.sparkSession
    words = tracked_persist(_word_table(docs, text_col, max_word_len))
    # the substring-occurrence table is vocab-independent: persist it
    # once and reuse it for the seed count AND every EM iteration's
    # segmentation join (previously re-exploded 1 + n_iterations times)
    occ = tracked_persist(_occurrences(words, max_piece_len))
    seed = occ.groupBy("piece").agg(F.sum("n").alias("cnt")).filter(
        (F.length("piece") == 1) | (F.col("cnt") >= min_seed_count)
    )
    # the pruned seed is exactly: every single-char piece + the top
    # max_vocab multi-char pieces — fetch both in ONE bounded collect
    # (the top-k is a distributed TakeOrderedAndProject, never a
    # single-partition sort; chars are alphabet-bounded)
    seed_rows = (
        seed.filter(F.length("piece") == 1)
        .unionByName(
            seed.filter(F.length("piece") > 1)
            .orderBy(F.col("cnt").desc(), F.col("piece").asc())
            .limit(max_vocab)
        )
        .collect()
    )
    cnts = _prune_py({r["piece"]: int(r["cnt"]) for r in seed_rows}, max_vocab)
    probs = _smoothed_probs_py(cnts)
    for _step in range(n_iterations):
        segd = unigram_segment_words(
            words, _vocab_frame(spark, probs, cnts), max_piece_len, occ
        )
        cnt_rows = (
            segd.select("n", F.explode("pieces").alias("piece"))
            .groupBy("piece")
            .agg(F.sum("n").alias("cnt"))
            .collect()
        )
        got = {r["piece"]: int(r["cnt"]) for r in cnt_rows}
        # left-join semantics of the former vocab<-count attach: every
        # current-vocab piece survives into the count table, unseen
        # pieces at 0 (segmentation only ever emits in-vocab pieces,
        # so `got` can never contain a piece outside `probs`)
        cnts = _prune_py({p: got.get(p, 0) for p in probs}, max_vocab)
        probs = _smoothed_probs_py(cnts)
    return _vocab_frame(spark, probs, cnts), words, occ


def unigram_train(
    docs: DataFrame,
    text_col: str = "text",
    max_piece_len: int = 4,
    max_word_len: int = 8,
    min_seed_count: int = 2,
    max_vocab: int = 40,
    n_iterations: int = 2,
    round_digits: int = 9,
) -> DataFrame:
    """Train the unigram-LM vocabulary. Returns one row per kept piece:
    ``(piece, piece_len, n_uses, p_q9)`` — the piece, its length, its
    weighted usage count in the final E-step, and its smoothed model
    probability (rounded once, on output only)."""
    vocab, _words, _occ = _train(
        docs,
        text_col,
        max_piece_len,
        max_word_len,
        min_seed_count,
        max_vocab,
        n_iterations,
    )
    return vocab.select(
        "piece",
        F.length("piece").cast("int").alias("piece_len"),
        F.col("cnt").cast("long").alias("n_uses"),
        F.round("p", round_digits).alias("p_q9"),
    )


def unigram_encode_stats(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_piece_len: int = 4,
    max_word_len: int = 8,
    min_seed_count: int = 2,
    max_vocab: int = 40,
    n_iterations: int = 2,
    round_digits: int = 6,
) -> DataFrame:
    """Apply the trained tokenizer back to the corpus: per document,
    whitespace word count, unigram piece count under the final
    vocabulary, and pieces-per-word (the compression metric, as in
    :func:`operators.bpe.bpe_encode_stats`). One final Viterbi pass
    over the dictionary, then an equi-join of exploded (truncated) doc
    words against the dictionary-sized segmentation table."""
    from ..functions.text import tokens

    vocab, words, occ = _train(
        docs,
        text_col,
        max_piece_len,
        max_word_len,
        min_seed_count,
        max_vocab,
        n_iterations,
    )
    # reuse the persisted substring-occurrence table for the final
    # segmentation pass too (it is vocab-independent; previously this
    # call re-exploded the dictionary a second time)
    wseg = unigram_segment_words(words, vocab, max_piece_len, occ).select(
        "word", F.size("pieces").alias("n_pieces")
    )
    doc_words = docs.select(
        F.col(id_col),
        F.explode(
            F.transform(tokens(F.col(text_col)), lambda t: F.lower(t))
        ).alias("word"),
    ).select(
        id_col, F.substring("word", 1, max_word_len).alias("word")
    )
    return (
        doc_words.join(F.broadcast(wseg), on="word")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_pieces").cast("long").alias("n_pieces"),
        )
        .withColumn(
            "pieces_per_word",
            F.round(F.col("n_pieces") / F.col("n_words"), round_digits),
        )
    )
