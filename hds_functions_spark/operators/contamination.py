"""Eval-set decontamination: flag training documents that share word
n-grams with a held-out evaluation set.

Extension layer (SURVEY.md §7; no reference counterpart). Before
pretraining, every serious pipeline checks the corpus for verbatim overlap
with its evaluation benchmarks (the standard n-gram collision test, e.g.
GPT-3 appendix C / PaLM's 8-gram decontamination). The expensive shape is
corpus x eval all-pairs; this operator never builds it — both sides explode
to distinct n-grams and meet in an equi-join on the n-gram, so cost is
proportional to *shared* n-grams only (same shape as
``dedup.ngram_jaccard_pairs``).

Scale notes (100 TB corpus, bounded eval set):

- the eval side is benchmark-sized (thousands of docs); its exploded n-gram
  table is small and carries NO broadcast hint — the planner/AQE broadcasts
  it from real stats, falling back to a shuffle join if someone passes a
  corpus-sized "eval" set;
- the corpus side is a single narrow projection (id + n-gram) — no shuffle
  before the join; the per-doc aggregation shuffles ids + counts only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.partitioning import ensure_min_partitions
from ..functions.text import tokens, word_ngrams

__all__ = ["ngram_contamination", "embedding_contamination"]


def ngram_contamination(
    docs: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    eval_id_col: str = "eval_id",
    eval_text_col: str = "text",
    ngram: int = 3,
    min_shared: int = 1,
    max_eval_df: int | None = None,
) -> DataFrame:
    """Per-document contamination report against an eval set.

    Output: one row per corpus document sharing at least ``min_shared``
    distinct word ``ngram``-grams with the eval set —
    ``(id_col, n_shared_ngrams, n_eval_docs)`` where ``n_shared_ngrams``
    counts distinct shared n-grams and ``n_eval_docs`` counts distinct eval
    documents hit. Clean documents are absent (inner semantics): at corpus
    scale the report is the small side, the corpus is not re-emitted.

    ``max_eval_df`` drops n-grams present in more than that many eval
    documents before the join — the hot-gram guard: a boilerplate phrase
    shared by half the eval set would otherwise fan every corpus occurrence
    out by eval-df (the one unbounded term in the join size), while
    carrying no decontamination signal. With the cap, per-gram fanout is
    bounded by ``max_eval_df``. Use longer n-grams (8+) for production
    decontamination; short grams collide on ordinary prose.

    Tokenisation is lowercased whitespace words, matching the library's
    other n-gram operators.
    """
    if ngram < 1:
        raise ValueError(f"ngram must be >= 1 (got {ngram})")
    if min_shared < 1:
        raise ValueError(f"min_shared must be >= 1 (got {min_shared})")
    if max_eval_df is not None and max_eval_df < 1:
        raise ValueError(f"max_eval_df must be >= 1 (got {max_eval_df})")

    def grams(df: DataFrame, ident: str, text: str, out_id: str) -> DataFrame:
        return df.select(
            F.col(ident).alias(out_id),
            F.explode(
                F.array_distinct(
                    word_ngrams(tokens(F.lower(F.col(text))), ngram)
                )
            ).alias("_gram"),
        )

    # widen thin inputs: the tokenise+ngram projection is the expensive part
    # and must not run on one input split
    docs = ensure_min_partitions(docs)
    eval_df = ensure_min_partitions(eval_df)
    doc_grams = grams(docs, id_col, text_col, "_doc_id")
    eval_grams = grams(eval_df, eval_id_col, eval_text_col, "_eval_id")
    if max_eval_df is not None:
        # benchmark-sized aggregate: one extra shuffle on the SMALL side
        w = Window.partitionBy("_gram")
        eval_grams = eval_grams.withColumn(
            "_df", F.count("*").over(w)
        ).filter(F.col("_df") <= max_eval_df).drop("_df")
    return (
        doc_grams.join(eval_grams, on="_gram")
        .groupBy("_doc_id")
        .agg(
            F.countDistinct("_gram").alias("n_shared_ngrams"),
            F.countDistinct("_eval_id").alias("n_eval_docs"),
        )
        .filter(F.col("n_shared_ngrams") >= min_shared)
        .withColumnRenamed("_doc_id", id_col)
    )


def embedding_contamination(
    index: DataFrame,
    eval_queries: DataFrame,
    threshold: float = 0.3,
    n_centroids: int = 16,
    n_probe: int = 4,
    corpus_id: str = "vec_id",
    query_id: str = "query_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
    validate: bool = True,
) -> DataFrame:
    """Embedding-based (paraphrase-robust) decontamination: corpus
    documents whose embedding sits within cosine ``threshold`` of ANY
    eval-set embedding — the third leg next to exact n-gram overlap
    (:func:`ngram_contamination`, misses any rewording) and BM25
    retrieval (``retrieval.retrieval_decontam``, lexical — misses full
    paraphrases that share no terms). An eval answer rewritten into the
    corpus keeps its embedding neighborhood even when every surface
    n-gram changed; this is the leakage channel only a dense check
    closes.

    Candidate generation is the IVF probe over a built (typically
    persisted) :func:`~.similarity.ivf_index_build` index — the corpus
    is NEVER crossed with the eval set: each eval query scores exactly
    (true cosine, not an approximation) within its ``n_probe`` nearest
    inverted lists only, and the verdict thresholds that score. Output:
    one row per flagged corpus doc ``(corpus_id, n_hits,
    max_cosine)`` — hit count and strongest eval match, the removal-
    join shape shared with ``retrieval_decontam``; clean docs are
    absent (inner semantics).

    Scale: the eval side is benchmark-sized and broadcasts (queries ×
    n_probe probe rows); corpus cost is the probed lists only, and with
    the index saved ``partition_by='centroid_id'`` a fresh benchmark
    decontaminates against 100 TB of standing embeddings reading just
    the probed partitions. Recall is bounded by the probe (an eval
    neighbor assigned to an unprobed list is missed) — widen
    ``n_probe`` toward ``n_centroids`` for release-grade sweeps; the
    audit trio (``decontam_agreement``) quantifies what each leg
    uniquely catches.
    """
    from .similarity import (
        _index_centroids,
        _nearest_centroids,
        cosine_similarity,
    )

    # validate (default True): an index with no rows at corpus_id <
    # n_centroids (non-zero-based or non-numeric id space) must RAISE
    # here — a silently empty centroid table generates zero candidates
    # and the pass reads as 'no contamination found', the worst
    # failure mode for a decontamination check. validate=False is for
    # callers whose index is validated-by-construction in-plan.
    cent = _index_centroids(
        index, corpus_id, vec_col, n_centroids, validate=validate
    )
    probes = _nearest_centroids(
        eval_queries.select(
            F.col(query_id).alias("_qid"), F.col(vec_col).alias("_vec")
        ),
        cent,
        "_qid",
        n_probe,
        round_digits,
    ).select("_qid", F.col("_vec").alias("_qvec"), "_centroid_id")
    assigned = index.select(
        F.col(corpus_id).alias("_cid"),
        F.col("centroid_id").alias("_centroid_id"),
        F.col(vec_col).alias("_cvec"),
    )
    return (
        assigned.join(F.broadcast(probes), on="_centroid_id")
        .withColumn(
            "_cos",
            F.round(
                cosine_similarity(F.col("_qvec"), F.col("_cvec")),
                round_digits,
            ),
        )
        .filter(F.col("_cos") >= threshold)
        .groupBy("_cid")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_hits"),
            F.max("_cos").alias("max_cosine"),
        )
        .withColumnRenamed("_cid", corpus_id)
    )
