"""Importance-resampling data selection (DSIR) for training corpora.

Implements Xie et al. 2023, "Data Selection for Language Models via
Importance Resampling" (NeurIPS 2023; PAPERS.md): given a RAW pool and
a small TARGET corpus exemplifying the distribution you want, score
every raw document by how target-like it is under hashed bag-of-ngram
generative models, then sample the selection ∝ importance weight via
Gumbel top-k. This is the principled replacement for binary quality
filters when curating pretraining mixtures (the paper's use case:
select Pile subsets matching Wikipedia/books targets). Extension layer
— no reference counterpart (SURVEY.md §7).

Spark-first shape, mirroring the retrieval/sampling modules:

- **Features are hashed buckets, not a vocabulary.** Word unigrams +
  bigrams hash into ``buckets`` slots via the portable 60-bit md5 hash
  (``functions.hashing`` — bit-identical in DuckDB, so the oracle can
  replay selection end-to-end). No vocab build, no OOV path, fixed
  state size at ANY corpus scale — the paper's own trick, load-bearing
  at 100 TB.
- **The two distributions are one combinable groupBy each** over
  (bucket) with add-``alpha`` smoothing; totals ride a 1-row crossJoin
  frame (the BM25 stats pattern). The log-ratio table is at most
  ``buckets`` rows — broadcast to the per-doc aggregate, so scoring is
  ONE map-side-combinable aggregate over the raw corpus's gram
  explode: no shuffle grows with the corpus beyond the doc-keyed
  combine.
- **Gumbel top-k is hash-deterministic** (the sampling-module
  contract): each doc's Gumbel noise derives from md5(doc_id, salt),
  never an RNG, so re-runs/retries/partitioning cannot change the
  selection and the oracle reproduces it exactly. The global top-k is
  ``orderBy(...).limit(k)`` — Spark executes TakeOrderedAndProject
  (per-partition heads + driver merge of k rows), NOT a single-task
  global sort.

Scale notes: the raw-side explode is ~2 rows per token (unigram +
bigram) carrying (doc_id, bucket int) — narrower than the BM25
postings build; both distribution aggregates combine map-side to at
most ``buckets`` rows. Nothing here funnels more than ``k`` result
rows or ``buckets`` state rows through the driver.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.hashing import stable_hash64
from ..functions.partitioning import ensure_min_partitions
from ..functions.text import tokens, word_ngrams

__all__ = [
    "hashed_ngram_buckets",
    "dsir_log_weights",
    "dsir_gumbel_topk",
]

#: uniform-noise resolution for the deterministic Gumbel draw
_GUMBEL_RES = 1_000_000


def _doc_grams(text_col: str, max_ngram: int) -> Column:
    """Lowercased word n-grams for n = 1..max_ngram, concatenated."""
    toks = F.transform(tokens(F.col(text_col)), lambda t: F.lower(t))
    parts = [toks]
    for n in range(2, max_ngram + 1):
        parts.append(word_ngrams(toks, n))
    out = parts[0]
    for p in parts[1:]:
        out = F.concat(out, p)
    return out


def hashed_ngram_buckets(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    buckets: int = 10_000,
    max_ngram: int = 2,
) -> DataFrame:
    """``(doc_id, bucket, cnt)`` hashed bag-of-ngram features: word
    unigrams..``max_ngram``-grams of the lowercased text, each hashed
    into ``[0, buckets)`` with the portable md5 hash. One explode + one
    map-side-combinable groupBy; documents with no tokens yield no
    rows (the scorer re-attaches them at weight 0)."""
    if buckets < 2:
        raise ValueError(f"buckets must be >= 2 (got {buckets})")
    if max_ngram < 1:
        raise ValueError(f"max_ngram must be >= 1 (got {max_ngram})")
    # the explode + per-gram md5 is the expensive pre-shuffle projection
    # — widen single-split inputs so it parallelises
    docs = ensure_min_partitions(docs)
    return (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.explode(_doc_grams(text_col, max_ngram)).alias("_g"),
        )
        .select("doc_id", (stable_hash64(F.col("_g")) % buckets).alias("bucket"))
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def dsir_log_weights(
    raw_docs: DataFrame,
    target_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    buckets: int = 10_000,
    alpha: float = 1.0,
    max_ngram: int = 2,
    round_digits: int = 6,
) -> DataFrame:
    """Per-raw-document DSIR log importance weight
    ``sum_b c_i[b] * (ln p_target[b] - ln p_raw[b])`` under add-``alpha``
    smoothed hashed bag-of-ngram models (Xie et al. 2023, eq. 2 with
    the hashed generative parametrisation of §3.1):
    ``p[b] = (count[b] + alpha) / (total + alpha * buckets)``.

    The log-ratio table is built from the raw side's observed buckets
    (a raw doc can only hold raw-observed buckets, so absent-from-raw
    never joins) with the target side left-joined and zero-coalesced —
    at most ``buckets`` rows, broadcast into the scoring aggregate.
    Raw documents with no tokens carry weight 0 (both models assign
    them probability 1 for the empty feature bag). Output:
    ``(doc_id, log_weight)`` for EVERY raw doc, rounded.
    """
    if alpha <= 0:
        raise ValueError(f"alpha must be positive (got {alpha})")
    from ..caching import tracked_persist

    # two consumers (the raw distribution agg + the scoring join) —
    # persist the combined per-doc bucket counts or the gram explode
    # and its doc-keyed combine run twice
    raw_b = tracked_persist(
        hashed_ngram_buckets(raw_docs, id_col, text_col, buckets, max_ngram)
    )
    tgt_b = hashed_ngram_buckets(
        target_docs, id_col, text_col, buckets, max_ngram
    )
    raw_dist = raw_b.groupBy("bucket").agg(F.sum("cnt").alias("_cr"))
    tgt_dist = tgt_b.groupBy("bucket").agg(F.sum("cnt").alias("_ct"))
    raw_tot = raw_dist.agg(F.sum("_cr").alias("_tr"))
    tgt_tot = tgt_dist.agg(F.coalesce(F.sum("_ct"), F.lit(0)).alias("_tt"))
    ratio = (
        raw_dist.join(tgt_dist, on="bucket", how="left")
        .crossJoin(F.broadcast(raw_tot))
        .crossJoin(F.broadcast(tgt_tot))
        .select(
            "bucket",
            (
                F.log(
                    (F.coalesce(F.col("_ct"), F.lit(0)) + alpha)
                    / (F.col("_tt") + alpha * buckets)
                )
                - F.log(
                    (F.col("_cr") + alpha) / (F.col("_tr") + alpha * buckets)
                )
            ).alias("_lr"),
        )
    )
    scored = (
        raw_b.join(F.broadcast(ratio), on="bucket")
        .groupBy("doc_id")
        .agg(F.round(F.sum(F.col("cnt") * F.col("_lr")), round_digits)
             .alias("log_weight"))
    )
    base = raw_docs.select(F.col(id_col).alias("doc_id"))
    return base.join(scored, on="doc_id", how="left").select(
        "doc_id",
        F.coalesce(F.col("log_weight"), F.lit(0.0)).alias("log_weight"),
    )


def dsir_gumbel_topk(
    weights: DataFrame,
    k: int,
    id_col: str = "doc_id",
    weight_col: str = "log_weight",
    salt: str = "",
    round_digits: int = 6,
) -> DataFrame:
    """Sample ``k`` rows without replacement with probability
    proportional to ``exp(weight)`` — the Gumbel top-k trick (the
    resampling step of DSIR): selection key ``weight + Gumbel(0,1)``,
    take the k largest. The Gumbel draw is HASH-deterministic:
    ``u = (md5-hash(id, salt) % res + 0.5) / res`` (never 0 or 1), then
    ``g = -ln(-ln(u))`` — so the selection is a pure function of
    (ids, weights, salt): re-runs and repartitioning cannot change it,
    and a SQL oracle replays it bit-for-bit. Keys round before ranking
    (ties break by id ascending) so engines agree at boundaries.

    The global top-k is ``orderBy().limit(k)`` — TakeOrderedAndProject,
    per-partition heads merged on the driver, never a one-task global
    sort. Output: ``(doc_id, log_weight, sel_key, rank)``.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1 (got {k})")
    u = (
        stable_hash64(F.concat(F.col(id_col).cast("string"), F.lit(salt)))
        % _GUMBEL_RES
        + 0.5
    ) / _GUMBEL_RES
    key = F.round(F.col(weight_col) - F.log(-F.log(u)), round_digits)
    top = (
        weights.select(
            F.col(id_col).alias("doc_id"),
            F.col(weight_col).alias("log_weight"),
            key.alias("sel_key"),
        )
        .orderBy(F.col("sel_key").desc(), F.col("doc_id"))
        .limit(k)
    )
    w = Window.orderBy(F.col("sel_key").desc(), F.col("doc_id"))
    # the rank window runs over the k already-selected rows only
    return top.withColumn("rank", F.row_number().over(w))
