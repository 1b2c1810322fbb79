"""Extension-layer query registry, part 8 (round-10 additions).

Same contract as ``registry_ext.py``: every query has a DuckDB oracle
generated from the SAME constants so both sides compute identical
values by construction. This part closes the two extension gaps the
round-9 verdict ranked highest:

1. **Persisted-index incremental ANN** — the embedding counterpart of
   ``minhash_pairs_incremental``: the IVF inverted lists and the PQ
   codebooks/codes are built ONCE from the standing corpus, saved as
   real tables through ``save_table``, and a later ingest/query batch
   probes or encodes against the LOADED index without re-assignment or
   retraining. At 100 TB the corpus-side scan is the cost that must
   not repeat per batch; these queries prove (against the oracle) that
   the reloaded index serves a new batch bit-identically.

2. **Embedding-based decontamination** — the paraphrase-robust third
   leg next to exact n-gram overlap and BM25 retrieval, run on the
   SAME planted eval split, plus the three-way agreement audit that
   quantifies what each leg uniquely catches.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from .caching import scratch_path, shared_artifact
from .registry import ORACLES, QUERIES, _register, _t  # noqa: F401
from .registry_ext import (
    _DUCK_COS,
    _ND_BANDS,
    _ND_DIM,
    _ND_PLANES,
    _ND_THRESHOLD,
    _duck_bucket,
    _duck_plane_sig,
)
from .registry_ext3 import (
    _BM25_B,
    _BM25_K1,
    _BM25_MAX_DF,
    _BM25_NGRAM,
    _BM25_QUERY_TOKENS,
    _DECON_THRESHOLD,
    _duck_bm25_scored,
)
from .registry_ext6 import (
    _PQ_DIM,
    _PQ_ITER,
    _PQ_K,
    _PQ_M,
    _PQ_RD,
    _PQ_TOPK,
    _duck_pq_cte,
)

# --- persisted-index incremental ANN ----------------------------------------

#: the "tomorrow's ingest" batch: vec_id % mod == rem. rem = mod - 1 so
#: the deterministic coarse centroids (corpus vec_id < 16) all stay on
#: the standing-corpus side of the split.
_ANN_MOD = 50
_ANN_REM = 49
_ANN_K = 5
_ANN_CENTROIDS = 16
_ANN_PROBE = 4

#: the corpus/batch split as oracle CTEs (spliced before the trainers)
_ANN_SPLIT = f"""corpus AS (
  SELECT vec_id, embedding FROM embeddings
  WHERE vec_id % {_ANN_MOD} <> {_ANN_REM}),
newb AS (
  SELECT vec_id, embedding FROM embeddings
  WHERE vec_id % {_ANN_MOD} = {_ANN_REM})"""


def _ann_corpus_batch(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    corpus = emb.filter(F.col("vec_id") % _ANN_MOD != _ANN_REM)
    batch = emb.filter(F.col("vec_id") % _ANN_MOD == _ANN_REM)
    return corpus, batch


def _ivf_persisted_index(spark, sf_dir):
    """Build the IVF inverted lists from the standing corpus, save them
    partitioned by centroid_id (one directory per inverted list — the
    layout that lets a probe read only its probed lists), and return
    the RELOADED table as the session-shared ``ivf_index`` artifact, so
    every incremental query exercises the persisted index, never the
    in-memory lineage."""
    from .operators.similarity import ivf_index_build
    from .sources.tables import load_table, save_table

    def build():
        base = scratch_path(spark, sf_dir, "ann_ivf")
        td = {
            "ivf_index": {
                "path": os.path.join(base, "ivf_index"),
                "format": "parquet",
            }
        }
        corpus, _ = _ann_corpus_batch(spark, sf_dir)
        index = ivf_index_build(corpus, n_centroids=_ANN_CENTROIDS)
        save_table(index, "ivf_index", td, partition_by="centroid_id")
        return load_table("ivf_index", td)

    return shared_artifact(spark, sf_dir, "ivf_index", build)


def _pq_persisted_index(spark, sf_dir):
    """Train the PQ codebooks on the standing corpus only, encode the
    corpus, save BOTH artifacts (codes + codebook rows) as tables, and
    return the reloaded pair ``(codes_df, codebooks)`` as the
    session-shared ``pq_index`` artifact. The codebook collect on reload
    is the family's documented scalar boundary (m*k sub-centroids —
    kilobytes at any corpus scale)."""
    from .operators.similarity import (
        pq_codebooks_from_rows,
        pq_codebooks_to_rows,
        pq_encode,
        pq_train,
    )
    from .sources.tables import load_table, save_table

    def build():
        base = scratch_path(spark, sf_dir, "ann_pq")
        td = {
            "pq_codes": {
                "path": os.path.join(base, "pq_codes"),
                "format": "parquet",
            },
            "pq_books": {
                "path": os.path.join(base, "pq_books"),
                "format": "parquet",
            },
        }
        corpus, _ = _ann_corpus_batch(spark, sf_dir)
        books = pq_train(
            corpus, m=_PQ_M, k=_PQ_K, n_iter=_PQ_ITER, dim=_PQ_DIM,
            round_digits=_PQ_RD,
        )
        save_table(pq_encode(corpus, books), "pq_codes", td)
        save_table(pq_codebooks_to_rows(spark, books), "pq_books", td)
        return (
            load_table("pq_codes", td),
            pq_codebooks_from_rows(load_table("pq_books", td)),
        )

    return shared_artifact(spark, sf_dir, "pq_index", build)


def _duck_ivf_inc_sql() -> str:
    """IVF probe of the corpus-built index by the ingest batch — the
    registry_ext ``_duck_ivf_sql`` shape over the corpus/newb split
    (assignment and centroids from ``corpus`` only; probes from
    ``newb``)."""
    cos_ac = _DUCK_COS.format(a="e.embedding", b="c.cvec")
    cos_qc = _DUCK_COS.format(a="q.embedding", b="c.cvec")
    cos_fin = _DUCK_COS.format(a="p.qvec", b="a.avec")
    return f"""
WITH {_ANN_SPLIT},
cent AS (
    SELECT vec_id AS centroid_id, embedding AS cvec FROM corpus
    WHERE vec_id < {_ANN_CENTROIDS}
), assigned AS (
    SELECT e.vec_id AS cid, e.embedding AS avec, c.centroid_id,
           row_number() OVER (PARTITION BY e.vec_id
                ORDER BY {cos_ac} DESC, c.centroid_id) AS rn
    FROM corpus e CROSS JOIN cent c
    QUALIFY rn = 1
), probes AS (
    SELECT q.vec_id AS query_id, q.embedding AS qvec, c.centroid_id,
           row_number() OVER (PARTITION BY q.vec_id
                ORDER BY {cos_qc} DESC, c.centroid_id) AS rn
    FROM newb q CROSS JOIN cent c
    QUALIFY rn <= {_ANN_PROBE}
), scored AS (
    SELECT p.query_id, a.cid AS vec_id, {cos_fin} AS cosine_sim
    FROM assigned a JOIN probes p USING (centroid_id)
    WHERE a.cid <> p.query_id
)
SELECT query_id, vec_id, cosine_sim,
       CAST(row_number() OVER (PARTITION BY query_id
            ORDER BY cosine_sim DESC, vec_id) AS INTEGER) AS row_index
FROM scored
QUALIFY row_index <= {_ANN_K}
"""


@_register("similarity_ivf_probe_incremental", _duck_ivf_inc_sql())
def similarity_ivf_probe_incremental(spark, sf_dir):
    """A new embedding batch (vec_id % {mod} == {rem} — "tomorrow's
    ingest") probes a PERSISTED IVF index of the standing corpus:
    inverted lists built once by ivf_index_build, saved via save_table
    partitioned by centroid_id (one directory per list), reloaded, and
    served by ivf_probe_index — NO corpus re-assignment, no centroid
    recomputation; the batch pays probe cost only. The embedding
    counterpart of minhash_pairs_incremental, and the factored probe is
    the same arithmetic as ivf_cosine_topk, so one-shot and
    persisted-index answers can never drift (the oracle recomputes the
    whole thing from scratch and must agree on every neighbor).""".format(
        mod=_ANN_MOD, rem=_ANN_REM
    )
    from .operators.similarity import ivf_probe_index

    _, batch = _ann_corpus_batch(spark, sf_dir)
    index = _ivf_persisted_index(spark, sf_dir)
    queries = batch.select(F.col("vec_id").alias("query_id"), "embedding")
    return ivf_probe_index(
        index, queries, k=_ANN_K,
        n_centroids=_ANN_CENTROIDS, n_probe=_ANN_PROBE,
    )


def _duck_pq_inc_sql() -> str:
    """ADC over corpus-trained codebooks + corpus codes, probed by the
    ingest batch — registry_ext6's ADC query with train/encode = corpus
    and q = newb."""
    sub = _PQ_DIM // _PQ_M
    adc = " + ".join(
        "(" + " + ".join(
            f"(q.embedding[{s * sub + i}]::DOUBLE - b{s}.c[{i}]) * "
            f"(q.embedding[{s * sub + i}]::DOUBLE - b{s}.c[{i}])"
            for i in range(1, sub + 1)
        ) + ")"
        for s in range(_PQ_M)
    )
    return f"""
{_duck_pq_cte(train_src="corpus", encode_src="corpus", prelude=_ANN_SPLIT)},
q AS (SELECT vec_id AS query_id, embedding FROM newb),
adc AS (
  SELECT q.query_id, codes.vec_id, round({adc}, 6) AS adc_dist
  FROM codes
  CROSS JOIN q
  {" ".join(f"JOIN cb_s{s} b{s} ON b{s}.cluster = codes.code_{s}"
             for s in range(_PQ_M))}
  WHERE q.query_id <> codes.vec_id
)
SELECT query_id, vec_id, adc_dist,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY adc_dist, vec_id) AS INTEGER) AS rank
FROM adc
QUALIFY row_number() OVER (PARTITION BY query_id
                           ORDER BY adc_dist, vec_id) <= {_PQ_TOPK}
"""


@_register("similarity_pq_probe_incremental", _duck_pq_inc_sql())
def similarity_pq_probe_incremental(spark, sf_dir):
    """ADC top-{k} where BOTH halves of the PQ index come off disk: the
    codebooks (saved as an m*k-row table by pq_codebooks_to_rows) and
    the corpus codes were trained/encoded once from the standing
    corpus, persisted via save_table, and reloaded — the new query
    batch scores against them with NO Lloyd retraining and no corpus
    re-encode. Doubles round-trip parquet exactly, so the loaded
    codebook scores bit-identically to the trained one; the oracle
    re-runs the full per-subspace Lloyd from scratch and must agree on
    every ranked neighbor.""".format(k=_PQ_TOPK)
    from .operators.similarity import pq_adc_topk

    _, batch = _ann_corpus_batch(spark, sf_dir)
    codes, books = _pq_persisted_index(spark, sf_dir)
    queries = batch.select(F.col("vec_id").alias("query_id"), "embedding")
    return pq_adc_topk(codes, queries, books, k=_PQ_TOPK)


@_register(
    "similarity_pq_ingest_codes",
    f"""
{_duck_pq_cte(train_src="corpus", encode_src="newb", prelude=_ANN_SPLIT)}
SELECT * FROM codes
""",
)
def similarity_pq_ingest_codes(spark, sf_dir):
    """The ingest half of the incremental PQ story: the new embedding
    batch is ENCODED against the persisted (reloaded) codebooks — the
    daily operation that extends the codes table without touching the
    standing corpus or re-running Lloyd. One pure projection against
    literal codebooks (zero shuffle); append the result to the saved
    codes table and the index has absorbed the batch. The oracle
    trains on the corpus split and assigns the batch in its final
    round, mirroring exactly the train-corpus/encode-batch split."""
    from .operators.similarity import pq_encode

    _, batch = _ann_corpus_batch(spark, sf_dir)
    _, books = _pq_persisted_index(spark, sf_dir)
    return pq_encode(batch, books)


# --- embedding-based decontamination ----------------------------------------

#: the SAME planted eval split as decontam_ngram_overlap: hash bucket
#: of doc_id (== vec_id for the embeddings table) under this salt,
#: eval = bucket < cut (10% of the 10k buckets).
_EDC_SALT = "decontam"
_EDC_CUT = 1000
#: exact-cosine flag threshold (the dedup_embedding near-dup regime)
_EDC_THRESHOLD = 0.3
_EDC_NGRAM = 4
_EDC_MAX_EVAL_DF = 100


def _edc_persisted_index(spark, sf_dir):
    """Build the IVF inverted lists from the DECONTAM standing corpus
    (the bucket >= cut side of the EDC split, NOT the ANN % 50 split
    behind ``ivf_index``), save them partitioned by centroid_id, and
    return the RELOADED table as the session-shared ``edc_index``
    artifact — shared by all three queries that run the embedding decontamination leg
    (``decontam_embedding``, ``decontam_agreement``,
    ``pipeline_decontam_purge``; bench-gated as the ``edc_index``
    group). At 100 TB this is the point of the operator: the standing
    corpus is assigned ONCE and every benchmark sweep reads only its
    probed partitions — rebuilding per query, as these queries did
    before r11, re-pays the corpus scan three times per suite run."""
    from .operators.sampling import split_bucket
    from .operators.similarity import ivf_index_build
    from .sources.tables import load_table, save_table

    def build():
        base = scratch_path(spark, sf_dir, "edc_ivf")
        td = {
            "edc_index": {
                "path": os.path.join(base, "edc_index"),
                "format": "parquet",
            }
        }
        emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
        corpus = emb.filter(split_bucket("vec_id", _EDC_SALT) >= _EDC_CUT)
        save_table(
            ivf_index_build(corpus, n_centroids=_ANN_CENTROIDS),
            "edc_index",
            td,
            partition_by="centroid_id",
        )
        return load_table("edc_index", td)

    return shared_artifact(spark, sf_dir, "edc_index", build)


def _duck_edc_sql() -> str:
    cos_ac = _DUCK_COS.format(a="e.embedding", b="c.cvec")
    cos_qc = _DUCK_COS.format(a="q.embedding", b="c.cvec")
    cos_fin = _DUCK_COS.format(a="p.qvec", b="a.avec")
    return f"""
WITH split AS (
    SELECT vec_id, embedding,
           {_duck_bucket('vec_id', _EDC_SALT)} AS bucket
    FROM embeddings
), corpus AS (
    SELECT vec_id, embedding FROM split WHERE bucket >= {_EDC_CUT}
), ev AS (
    SELECT vec_id AS query_id, embedding FROM split WHERE bucket < {_EDC_CUT}
), cent AS (
    SELECT vec_id AS centroid_id, embedding AS cvec FROM corpus
    WHERE vec_id < {_ANN_CENTROIDS}
), assigned AS (
    SELECT e.vec_id AS cid, e.embedding AS avec, c.centroid_id,
           row_number() OVER (PARTITION BY e.vec_id
                ORDER BY {cos_ac} DESC, c.centroid_id) AS rn
    FROM corpus e CROSS JOIN cent c
    QUALIFY rn = 1
), probes AS (
    SELECT q.query_id, q.embedding AS qvec, c.centroid_id,
           row_number() OVER (PARTITION BY q.query_id
                ORDER BY {cos_qc} DESC, c.centroid_id) AS rn
    FROM ev q CROSS JOIN cent c
    QUALIFY rn <= {_ANN_PROBE}
), scored AS (
    SELECT p.query_id, a.cid, {cos_fin} AS cos
    FROM assigned a JOIN probes p USING (centroid_id)
)
SELECT cid AS vec_id,
       CAST(count(*) AS BIGINT) AS n_hits,
       max(cos) AS max_cosine
FROM scored WHERE cos >= {_EDC_THRESHOLD}
GROUP BY 1
"""


@_register("decontam_embedding", _duck_edc_sql())
def decontam_embedding(spark, sf_dir):
    """Embedding-based (paraphrase-robust) decontamination: corpus
    documents whose embedding sits within cosine {t} of ANY doc in the
    planted eval split (the SAME 10% hash split decontam_ngram_overlap
    uses; vec_id == doc_id in the testdata) — the leakage channel only
    a dense check closes: an eval answer reworded into the corpus
    keeps its embedding neighborhood after every surface n-gram
    changed. Candidates come from the IVF probe (each eval query
    scores exact cosine within its {p} nearest inverted lists — the
    corpus is never crossed with the eval set), so at scale a saved
    centroid-partitioned index serves a fresh benchmark reading only
    the probed partitions. Output (vec_id, n_hits, max_cosine), the
    removal-join shape shared with retrieval_decontam. See
    operators/contamination.py:embedding_contamination.""".format(
        t=_EDC_THRESHOLD, p=_ANN_PROBE
    )
    from .operators.contamination import embedding_contamination
    from .operators.sampling import split_bucket

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    ev = emb.filter(split_bucket("vec_id", _EDC_SALT) < _EDC_CUT).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    # the PERSISTED standing-corpus index (built+saved once per session,
    # reloaded from its centroid-partitioned table) — the r10 doctrine
    # applied to the decontam family itself: a fresh benchmark probes
    # the saved artifact instead of re-assigning the corpus per run.
    # validate=True here is cheap (a limit-16 filter on the loaded
    # parquet) and exercises the fail-closed path on the real artifact.
    index = _edc_persisted_index(spark, sf_dir)
    return embedding_contamination(
        index, ev, threshold=_EDC_THRESHOLD,
        n_centroids=_ANN_CENTROIDS, n_probe=_ANN_PROBE,
    )


def _duck_agreement_sql() -> str:
    """Three-way decontam agreement on the SAME eval split: the BM25
    leg re-parameterised to index corpus-side docs and query the eval
    docs; the n-gram and embedding legs reused verbatim from their
    registered oracles (the similarity_recall DRY pattern: drift
    propagates)."""
    corpus_pred = f"{_duck_bucket('doc_id', _EDC_SALT)} >= {_EDC_CUT}"
    query_pred = f"{_duck_bucket('doc_id', _EDC_SALT)} < {_EDC_CUT}"
    return f"""
WITH {_duck_bm25_scored(corpus_pred=corpus_pred, query_pred=query_pred)},
bmf AS (
  SELECT DISTINCT doc_id FROM scored WHERE score >= {_DECON_THRESHOLD}
), ngf AS (
  SELECT DISTINCT doc_id FROM ({ORACLES['decontam_ngram_overlap']})
), edf AS (
  SELECT DISTINCT vec_id AS doc_id FROM ({ORACLES['decontam_embedding']})
), ids AS (
  SELECT doc_id FROM bmf UNION
  SELECT doc_id FROM ngf UNION
  SELECT doc_id FROM edf
)
SELECT (b.doc_id IS NOT NULL) AS bm25_flag,
       (n.doc_id IS NOT NULL) AS ngram_flag,
       (e.doc_id IS NOT NULL) AS embedding_flag,
       CAST(count(*) AS BIGINT) AS n_docs
FROM ids
LEFT JOIN bmf b USING (doc_id)
LEFT JOIN ngf n USING (doc_id)
LEFT JOIN edf e USING (doc_id)
GROUP BY 1, 2, 3
"""


@_register("decontam_agreement", _duck_agreement_sql())
def decontam_agreement(spark, sf_dir):
    """The decontamination TRIO audited against each other on the SAME
    planted eval split: BM25 retrieval (lexical), exact word-4-gram
    overlap, and embedding cosine — per flag combination, how many
    corpus docs each subset of methods catches. The single-method
    blind spots made measurable: embedding-only rows are the
    paraphrase leakage the lexical legs miss; lexical-only rows are
    short verbatim collisions below the dense threshold. All three
    legs are bounded candidate generation (term equi-join with hot-
    gram caps / gram equi-join / IVF probe) — the audit never builds
    corpus x eval. Output one row per (bm25_flag, ngram_flag,
    embedding_flag) with flagged-doc counts."""
    from .functions.text import tokens
    from .operators.contamination import ngram_contamination
    from .operators.retrieval import retrieval_decontam
    from .operators.sampling import split_bucket

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    bucket = split_bucket("doc_id", _EDC_SALT)
    corpus_docs = docs.filter(bucket >= _EDC_CUT)
    eval_docs = docs.filter(bucket < _EDC_CUT)

    bm_queries = eval_docs.select(
        F.col("doc_id").alias("query_id"),
        F.array_join(
            F.slice(tokens(F.col("text")), 1, _BM25_QUERY_TOKENS), " "
        ).alias("query_text"),
    )
    bm = retrieval_decontam(
        corpus_docs, bm_queries, threshold=_DECON_THRESHOLD,
        k1=_BM25_K1, b=_BM25_B, max_df_frac=_BM25_MAX_DF,
        term_ngram=_BM25_NGRAM,
    ).select("doc_id")
    ng = ngram_contamination(
        corpus_docs,
        eval_docs.withColumnRenamed("doc_id", "eval_id"),
        ngram=_EDC_NGRAM,
        max_eval_df=_EDC_MAX_EVAL_DF,
    ).select("doc_id")
    ed = decontam_embedding(spark, sf_dir).select(
        F.col("vec_id").alias("doc_id")
    )

    # Full-outer-join chain instead of the former union().distinct() +
    # three left joins: each flag frame is keyed on distinct doc_ids
    # (all three legs end in a per-doc groupBy), so the outer-join
    # result has exactly one row per doc in the UNION of the three key
    # sets with a null flag marking non-membership — identical rows,
    # but every leg subtree appears ONCE in the plan instead of twice
    # (profiled r17: the union consumer and the flag-join consumer each
    # re-ran the whole leg — e.g. the embedding probe twice at ~7 s of
    # task time per copy; guide §7.2 "duplicated subtrees").
    flag = lambda df, name: df.withColumn(name, F.lit(True))  # noqa: E731
    out = (
        flag(bm, "_bm")
        .join(flag(ng, "_ng"), on="doc_id", how="full")
        .join(flag(ed, "_ed"), on="doc_id", how="full")
        .groupBy(
            F.coalesce(F.col("_bm"), F.lit(False)).alias("bm25_flag"),
            F.coalesce(F.col("_ng"), F.lit(False)).alias("ngram_flag"),
            F.coalesce(F.col("_ed"), F.lit(False)).alias("embedding_flag"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )
    return out


@_register(
    "similarity_ivf_ingest_assign",
    f"""
WITH {_ANN_SPLIT},
cent AS (
    SELECT vec_id AS centroid_id, embedding AS cvec FROM corpus
    WHERE vec_id < {_ANN_CENTROIDS}
)
SELECT q.vec_id, c.centroid_id
FROM newb q CROSS JOIN cent c
QUALIFY row_number() OVER (
    PARTITION BY q.vec_id
    ORDER BY {_DUCK_COS.format(a="q.embedding", b="c.cvec")} DESC,
             c.centroid_id) = 1
""",
)
def similarity_ivf_ingest_assign(spark, sf_dir):
    """The ingest half of the persisted IVF index: the new embedding
    batch assigned against the index's FROZEN coarse centroids
    (ivf_index_append) — append these rows to the saved
    centroid-partitioned table and the index has absorbed the batch
    with no corpus re-assignment and no centroid recompute. One
    broadcast-join scan of the batch, cost independent of corpus size
    — the IVF counterpart of similarity_pq_ingest_codes. Output
    (vec_id, centroid_id) for the batch."""
    from .operators.similarity import ivf_index_append

    _, batch = _ann_corpus_batch(spark, sf_dir)
    index = _ivf_persisted_index(spark, sf_dir)
    return ivf_index_append(
        index, batch, n_centroids=_ANN_CENTROIDS
    ).select("vec_id", "centroid_id")


def _duck_purge_sql() -> str:
    """The decontam purge: corpus docs minus the union of the three
    flag lists, reported per source — reuses the agreement CTE legs."""
    corpus_pred = f"{_duck_bucket('doc_id', _EDC_SALT)} >= {_EDC_CUT}"
    query_pred = f"{_duck_bucket('doc_id', _EDC_SALT)} < {_EDC_CUT}"
    return f"""
WITH {_duck_bm25_scored(corpus_pred=corpus_pred, query_pred=query_pred)},
flagged AS (
  SELECT DISTINCT doc_id FROM scored WHERE score >= {_DECON_THRESHOLD}
  UNION
  SELECT DISTINCT doc_id FROM ({ORACLES['decontam_ngram_overlap']})
  UNION
  SELECT DISTINCT vec_id AS doc_id FROM ({ORACLES['decontam_embedding']})
)
SELECT d.source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(f.doc_id) AS BIGINT) AS n_flagged,
       CAST(count(*) - count(f.doc_id) AS BIGINT) AS n_kept
FROM documents d
LEFT JOIN flagged f USING (doc_id)
WHERE {corpus_pred.replace('doc_id', 'd.doc_id')}
GROUP BY 1
"""


def _duck_ivf_drift_sql() -> str:
    """Per-centroid fit of the corpus vs the ingest batch — assignment
    via the shared rounded-cosine argmax; the fit mean runs over RAW
    doubles and rounds once (an inner per-member round would
    manufacture exact decimal halves that the engines round apart)."""
    cos_ac = _DUCK_COS.format(a="e.embedding", b="c.cvec")
    cos_qc = _DUCK_COS.format(a="q.embedding", b="c.cvec")
    cos_fit = (
        "(list_dot_product({a}::DOUBLE[], {b}::DOUBLE[])"
        " / (sqrt(list_dot_product({a}::DOUBLE[], {a}::DOUBLE[]))"
        " * sqrt(list_dot_product({b}::DOUBLE[], {b}::DOUBLE[]))))"
    ).format(a="m.vec", b="c.cvec")
    return f"""
WITH {_ANN_SPLIT},
cent AS (
    SELECT vec_id AS centroid_id, embedding AS cvec FROM corpus
    WHERE vec_id < {_ANN_CENTROIDS}
), assigned AS (
    SELECT e.vec_id, e.embedding AS vec, c.centroid_id
    FROM corpus e CROSS JOIN cent c
    QUALIFY row_number() OVER (PARTITION BY e.vec_id
                ORDER BY {cos_ac} DESC, c.centroid_id) = 1
), bassigned AS (
    SELECT q.vec_id, q.embedding AS vec, c.centroid_id
    FROM newb q CROSS JOIN cent c
    QUALIFY row_number() OVER (PARTITION BY q.vec_id
                ORDER BY {cos_qc} DESC, c.centroid_id) = 1
), csim AS (
    SELECT m.centroid_id, CAST(count(*) AS BIGINT) AS n_corpus,
           round(avg({cos_fit}), 4) AS mean_sim_corpus
    FROM assigned m JOIN cent c USING (centroid_id) GROUP BY 1
), bsim AS (
    SELECT m.centroid_id, CAST(count(*) AS BIGINT) AS n_batch,
           round(avg({cos_fit}), 4) AS mean_sim_batch
    FROM bassigned m JOIN cent c USING (centroid_id) GROUP BY 1
)
SELECT centroid_id,
       CAST(coalesce(n_corpus, 0) AS BIGINT) AS n_corpus,
       mean_sim_corpus,
       CAST(coalesce(n_batch, 0) AS BIGINT) AS n_batch,
       mean_sim_batch,
       round(mean_sim_batch - mean_sim_corpus, 4) AS sim_delta
FROM csim FULL OUTER JOIN bsim USING (centroid_id)
"""


@_register("similarity_index_drift", _duck_ivf_drift_sql())
def similarity_index_drift(spark, sf_dir):
    """The retrain-policy monitor of the persisted-index family: per
    coarse centroid, the standing corpus's mean member-to-centroid
    cosine versus the new ingest batch's — a persistently negative
    sim_delta (the batch fits the FROZEN quantizer worse than the data
    it was trained on) or a batch piling into few lists is the signal
    to schedule the deliberate retrain-and-rebuild that
    ivf_index_append explicitly never does implicitly. One
    broadcast-sized centroid join per side + two combinable aggregates
    to n_centroids rows; the corpus side reads the SAVED index, not
    the raw corpus. See operators/similarity.py:ivf_assignment_drift."""
    from .operators.similarity import ivf_assignment_drift

    _, batch = _ann_corpus_batch(spark, sf_dir)
    index = _ivf_persisted_index(spark, sf_dir)
    return ivf_assignment_drift(index, batch, n_centroids=_ANN_CENTROIDS)


def _duck_ivf_probe_recall_sql() -> str:
    """Recall@k of the incremental IVF probe vs brute-force exact over
    the SAME corpus/batch split, composed from the registered oracle
    (the similarity_recall DRY pattern: drift propagates)."""
    cos = _DUCK_COS.format(a="q.embedding", b="c.embedding")
    return f"""
WITH {_ANN_SPLIT},
exact AS (
  SELECT query_id, vec_id FROM (
    SELECT q.vec_id AS query_id, c.vec_id, {cos} AS cosine_sim
    FROM newb q JOIN corpus c ON c.vec_id <> q.vec_id
  )
  QUALIFY row_number() OVER (PARTITION BY query_id
                             ORDER BY cosine_sim DESC, vec_id) <= {_ANN_K}
), appr AS (
  SELECT query_id, vec_id FROM ({ORACLES['similarity_ivf_probe_incremental']})
), hits AS (
  SELECT count(*) AS n_hit FROM appr a
  WHERE EXISTS (SELECT 1 FROM exact e
                WHERE e.query_id = a.query_id AND e.vec_id = a.vec_id)
)
SELECT 'ivf_probe_incremental' AS method,
       CAST(n_hit AS BIGINT) AS n_hit,
       CAST((SELECT count(*) FROM exact) AS BIGINT) AS n_exact,
       round(n_hit / (SELECT count(*) FROM exact), 4) AS recall
FROM hits
"""


@_register("similarity_ivf_probe_recall", _duck_ivf_probe_recall_sql())
def similarity_ivf_probe_recall(spark, sf_dir):
    """Measured recall@{k} of the persisted-index incremental probe
    against exact brute-force cosine over the SAME corpus/batch split —
    the family convention: every approximate path ships with its
    priced recall (what the n_probe={p}/{c} truncation actually costs
    on this corpus). The exact side is batch-sized and broadcasts into
    the semi join.""".format(k=_ANN_K, p=_ANN_PROBE, c=_ANN_CENTROIDS)
    from .operators.similarity import cosine_topk

    corpus, batch = _ann_corpus_batch(spark, sf_dir)
    queries = batch.select(F.col("vec_id").alias("query_id"), "embedding")
    exact = cosine_topk(corpus, queries, k=_ANN_K).select(
        "query_id", "vec_id"
    )
    appr = similarity_ivf_probe_incremental(spark, sf_dir).select(
        "query_id", "vec_id"
    )
    hits = appr.join(F.broadcast(exact), on=["query_id", "vec_id"]).agg(
        F.count(F.lit(1)).alias("n_hit")
    )
    n_exact = exact.agg(F.count(F.lit(1)).alias("n_exact"))
    return hits.crossJoin(F.broadcast(n_exact)).select(
        F.lit("ivf_probe_incremental").alias("method"),
        F.col("n_hit").cast("long").alias("n_hit"),
        F.col("n_exact").cast("long").alias("n_exact"),
        F.round(F.col("n_hit") / F.col("n_exact"), 4).alias("recall"),
    )


@_register(
    "streaming_pq_ingest",
    f"""
{_duck_pq_cte(train_src="corpus", encode_src="newb", prelude=_ANN_SPLIT)}
SELECT * FROM codes
""",
)
def streaming_pq_ingest(spark, sf_dir):
    """The PQ ingest leg as a STREAM: embedding batches arrive as a
    file stream and each micro-batch is encoded inside ``foreachBatch``
    against the persisted (frozen) codebooks, appended to a durable
    sink with checkpointed resume. Encoding is per-row against static
    literal codebooks, so the drained codes are micro-batch-invariant
    and must equal the batch ``similarity_pq_ingest_codes`` result —
    exactly what the (shared) oracle asserts. The streaming shape every
    continuous-ingest index maintenance job runs; the sink IS the codes
    table extension."""
    from .operators.similarity import pq_encode
    from .streaming.stream_ops import read_parquet_stream, stream_score_batches

    # deterministic replay: empty sink + checkpoint so every invocation
    # reprocesses the full (finite) stream from scratch
    base = scratch_path(spark, sf_dir, "pq_stream")

    _, books = _pq_persisted_index(spark, sf_dir)
    stream = read_parquet_stream(
        spark, f"{sf_dir}/embeddings.parquet"
    ).filter(F.col("vec_id") % _ANN_MOD == _ANN_REM)

    def encode(batch_df):
        return pq_encode(batch_df.select("vec_id", "embedding"), books)

    return stream_score_batches(
        stream,
        encode,
        path=f"{base}/sink",
        checkpoint_dir=f"{base}/ckpt",
        state_partitions=8,
    ).select("vec_id", "code_0", "code_1", "code_2", "code_3")


# --- column-level version drift ---------------------------------------------

_VD_COLS = ["o_orderstatus", "o_orderpriority", "o_totalprice", "o_custkey"]


def _duck_version_drift_sql() -> str:
    """Per-column stats of two archive snapshots (disjoint %3 slices of
    orders) joined into the drift report — the oracle mirror of
    profile_columns x2 + the drift arithmetic."""
    def prof(src):
        return "\nUNION ALL\n".join(
            f"""SELECT '{c}' AS column_name,
       count(*) AS n_rows,
       CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_nulls,
       count(DISTINCT {c}) AS n_distinct,
       min({c})::VARCHAR AS min_value,
       max({c})::VARCHAR AS max_value
FROM {src}"""
            for c in _VD_COLS
        )
    return f"""
WITH va AS (SELECT * FROM orders WHERE o_orderkey % 3 = 0),
vb AS (SELECT * FROM orders WHERE o_orderkey % 3 = 1),
pa AS (
{prof('va')}
), pb AS (
{prof('vb')}
)
SELECT a.column_name,
       a.n_rows AS n_rows_a, b.n_rows AS n_rows_b,
       round(CASE WHEN a.n_rows > 0
                  THEN a.n_nulls / (1.0 * a.n_rows) END, 6) AS null_frac_a,
       round(CASE WHEN b.n_rows > 0
                  THEN b.n_nulls / (1.0 * b.n_rows) END, 6) AS null_frac_b,
       round(CASE WHEN b.n_rows > 0
                  THEN b.n_nulls / (1.0 * b.n_rows) END
             - CASE WHEN a.n_rows > 0
                    THEN a.n_nulls / (1.0 * a.n_rows) END, 6)
           AS null_frac_delta,
       a.n_distinct AS n_distinct_a, b.n_distinct AS n_distinct_b,
       round(CASE WHEN a.n_distinct > 0
                  THEN b.n_distinct / (1.0 * a.n_distinct) END, 6)
           AS distinct_ratio,
       (a.min_value IS DISTINCT FROM b.min_value) AS min_changed,
       (a.max_value IS DISTINCT FROM b.max_value) AS max_changed
FROM pa a JOIN pb b USING (column_name)
"""


@_register("table_version_drift", _duck_version_drift_sql())
def table_version_drift(spark, sf_dir):
    """Column-level drift between two REAL archive snapshots (written
    and re-loaded through save_archive_snapshot/load_table, one
    partition per date): per column, row/null-fraction movement,
    distinct-cardinality ratio, and whether the value range's min/max
    moved — how upstream schema accidents (renamed source fields, unit
    changes, truncated loads) surface before poisoning a pipeline; the
    column-level companion of table_diff_versions' row-level diff. Two
    scan-pruned profile passes joined at len(columns) rows. See
    operators/profiling.py:profile_version_drift."""
    import os

    from .operators.profiling import profile_version_drift
    from .sources.tables import load_table, save_archive_snapshot

    base = scratch_path(spark, sf_dir, "vdrift")
    td = {"arch": {"path": os.path.join(base, "arch"), "format": "parquet"}}
    o = _t(spark, sf_dir, "orders")
    for i, day in enumerate(("2024-01-01", "2024-02-01")):
        save_archive_snapshot(
            o.filter(F.col("o_orderkey") % 3 == i), "arch", day, td
        )
    va = load_table("arch", {"arch": {**td["arch"], "archive_date": "2024-01-01"}})
    vb = load_table("arch", {"arch": {**td["arch"], "archive_date": "2024-02-01"}})
    return profile_version_drift(va, vb, _VD_COLS)


# --- incremental embedding near-dup pairs -----------------------------------


def _duck_embdup_inc_sql() -> str:
    """Banded-LSH near-dup pairs touching the ingest batch — the
    registry_ext ``_duck_near_dup_sql`` shape over the corpus/newb
    split with the incremental orientation rules."""
    from .operators.similarity import hyperplanes

    planes = hyperplanes(_ND_PLANES, _ND_DIM)
    rpb = _ND_PLANES // _ND_BANDS
    band_cols = ", ".join(
        _duck_plane_sig(planes[b * rpb : (b + 1) * rpb], "embedding")
        + f" AS band_{b}"
        for b in range(_ND_BANDS)
    )
    def banded(src):
        return "\n  UNION ALL ".join(
            f"SELECT vec_id, {b} AS band, band_{b} AS bits FROM {src}"
            for b in range(_ND_BANDS)
        )
    cos = _DUCK_COS.format(a="ea.embedding", b="eb.embedding")
    return f"""
WITH {_ANN_SPLIT},
nsig AS (SELECT vec_id, {band_cols} FROM newb),
csig AS (SELECT vec_id, {band_cols} FROM corpus),
nbanded AS (
  {banded('nsig')}
), cbanded AS (
  {banded('csig')}
), build AS (
  SELECT vec_id, band, bits, FALSE AS is_new FROM cbanded
  UNION ALL
  SELECT vec_id, band, bits, TRUE AS is_new FROM nbanded
), pairs AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b,
         NOT b.is_new AS cross_batch
  FROM nbanded a JOIN build b USING (band, bits)
  WHERE (NOT b.is_new AND a.vec_id <> b.vec_id)
     OR (b.is_new AND a.vec_id < b.vec_id)
)
SELECT id_a, id_b, cross_batch, {cos} AS cosine_sim
FROM pairs
JOIN embeddings ea ON ea.vec_id = id_a
JOIN embeddings eb ON eb.vec_id = id_b
WHERE {cos} >= {_ND_THRESHOLD}
"""


@_register("dedup_embedding_incremental", _duck_embdup_inc_sql())
def dedup_embedding_incremental(spark, sf_dir):
    """Incremental embedding near-dup pairs: LSH-banded candidates
    where at least one side is the ingest batch — the continuous-
    ingest shape completing the incremental family (minhash,
    winnowing, exact spans, novelty, and now embedding pairs): the
    corpus is never self-joined again; candidate cost is |batch| x
    bucket-density. Fixed-literal hyperplanes mean signatures never
    drift between ingests. Output (id_a, id_b, cross_batch,
    cosine_sim) exact-verified at {t}. See
    operators/dedup.py:embedding_near_dup_pairs_incremental.""".format(
        t=_ND_THRESHOLD
    )
    from .operators.dedup import embedding_near_dup_pairs_incremental

    corpus, batch = _ann_corpus_batch(spark, sf_dir)
    return embedding_near_dup_pairs_incremental(
        batch, corpus,
        threshold=_ND_THRESHOLD, n_planes=_ND_PLANES,
        bands=_ND_BANDS, dim=_ND_DIM,
    )


# --- k-core decomposition ---------------------------------------------------

_KC_K = 40
_KC_ITER = 3


def _duck_kcore_sql() -> str:
    """Unrolled synchronous peeling rounds over the customer-supplier
    co-purchase graph (the graph_pagerank/LPA edge build): each round
    keeps nodes whose degree among survivors is >= k."""
    parts = [f"""
base AS (
  SELECT DISTINCT 2 * o.o_custkey AS c, 2 * l.l_suppkey + 1 AS s
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
e AS (SELECT c AS src, s AS dst FROM base
      UNION SELECT s, c FROM base),
a0 AS (SELECT src AS node FROM e UNION SELECT dst FROM e)"""]
    prev = "a0"
    for i in range(1, _KC_ITER + 1):
        parts.append(f""",
a{i} AS (
  SELECT src AS node FROM e
  WHERE src IN (SELECT node FROM {prev})
    AND dst IN (SELECT node FROM {prev})
  GROUP BY 1 HAVING count(*) >= {_KC_K})""")
        prev = f"a{i}"
    return ("WITH " + "".join(parts) + f"""
SELECT src AS node, CAST(count(*) AS BIGINT) AS core_degree
FROM e
WHERE src IN (SELECT node FROM {prev})
  AND dst IN (SELECT node FROM {prev})
GROUP BY 1
""")


@_register("graph_kcore", _duck_kcore_sql())
def graph_kcore(spark, sf_dir):
    """The {k}-core of the customer-supplier co-purchase graph by
    synchronous peeling ({n} fixed rounds — the LPA budget contract,
    so the oracle unrolls every round): the maximal-subgraph density
    filter that isolates boilerplate hubs and spam farms in a
    similarity graph the way components cannot (a giant component is
    reachability; a deep core is sustained mutual density). Per round:
    two survivor semi-joins + one combinable degree count — survivor
    state is 1 row/node. Output (node, core_degree) inside the final
    core. See operators/graph.py:k_core.""".format(k=_KC_K, n=_KC_ITER)
    from .operators.graph import k_core

    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    joined = orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
    edges = joined.select(
        (F.col("o_custkey") * 2).alias("src"),
        (F.col("l_suppkey") * 2 + 1).alias("dst"),
    )
    both = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    return k_core(both, k=_KC_K, n_iter=_KC_ITER)


# --- epsilon-DP noisy sums (clipped) ----------------------------------------

_DPS_EPS = 1.0
_DPS_CLIP = 100000.0
_DPS_SALT = "r10"


@_register(
    "privacy_dp_sums",
    f"""
WITH s AS (
  SELECT o_orderpriority,
         sum(least(greatest(o_totalprice::DOUBLE, 0.0), {_DPS_CLIP})) AS sm
  FROM orders GROUP BY 1),
u AS (
  SELECT o_orderpriority, sm,
         ((('0x' || substr(md5(coalesce(o_orderpriority::VARCHAR,
                                        chr(0) || 'null')
                               || chr(31) || '{_DPS_SALT}' || chr(2)),
                    1, 15))::BIGINT
           % 1000000) + 0.5) / 1000000.0 AS u
  FROM s)
SELECT o_orderpriority,
       round(sm + (-{_DPS_CLIP} / {_DPS_EPS}) * sign(u - 0.5)
               * ln(1.0 - 2.0 * abs(u - 0.5)), 4) AS noisy_sum
FROM u
""",
)
def privacy_dp_sums(spark, sf_dir):
    """Epsilon-DP revenue sums per order priority: each order's
    contribution CLIPPED into [0, {clip:.0f}] (clipping bounds the
    sensitivity — one individual moves any sum by at most the clip, so
    noise scale = clip/epsilon), released with the repo's
    hash-deterministic Laplace protocol, salt domain-separated from
    the count release over the same groups (salt || chr(2)) so a joint
    (count, sum) release never reuses a draw. With privacy_dp_counts
    this gives a private mean — the complete DP aggregate pair. The
    oracle replays the release bit-for-bit. See
    operators/privacy.py:dp_noisy_sums.""".format(clip=_DPS_CLIP)
    from .operators.privacy import dp_noisy_sums

    return dp_noisy_sums(
        _t(spark, sf_dir, "orders"),
        value_col="o_totalprice",
        group_cols=["o_orderpriority"],
        clip=_DPS_CLIP,
        epsilon=_DPS_EPS,
        salt=_DPS_SALT,
    )


@_register("pipeline_decontam_purge", _duck_purge_sql())
def pipeline_decontam_purge(spark, sf_dir):
    """The decontamination trio APPLIED: corpus documents flagged by
    ANY of the three legs (BM25 retrieval, exact 4-gram overlap,
    embedding cosine — all on the shared planted eval split) are
    removed, and the purge is reported per source: docs scanned,
    flagged, kept. The anti-join consumes the union flag list — the
    shape every removal pipeline ends with; at scale the flag list is
    report-sized and broadcasts into the corpus scan. Composes
    decontam_agreement's legs into the production endpoint."""
    from .functions.text import tokens
    from .operators.contamination import ngram_contamination
    from .operators.retrieval import retrieval_decontam
    from .operators.sampling import split_bucket

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "source")
    bucket = split_bucket("doc_id", _EDC_SALT)
    corpus_docs = docs.filter(bucket >= _EDC_CUT)
    eval_docs = docs.filter(bucket < _EDC_CUT)

    bm_queries = eval_docs.select(
        F.col("doc_id").alias("query_id"),
        F.array_join(
            F.slice(tokens(F.col("text")), 1, _BM25_QUERY_TOKENS), " "
        ).alias("query_text"),
    )
    bm = retrieval_decontam(
        corpus_docs.select("doc_id", "text"), bm_queries,
        threshold=_DECON_THRESHOLD,
        k1=_BM25_K1, b=_BM25_B, max_df_frac=_BM25_MAX_DF,
        term_ngram=_BM25_NGRAM,
    ).select("doc_id")
    ng = ngram_contamination(
        corpus_docs.select("doc_id", "text"),
        eval_docs.select(
            F.col("doc_id").alias("eval_id"), "text"
        ),
        ngram=_EDC_NGRAM,
        max_eval_df=_EDC_MAX_EVAL_DF,
    ).select("doc_id")
    ed = decontam_embedding(spark, sf_dir).select(
        F.col("vec_id").alias("doc_id")
    )
    flagged = bm.union(ng).union(ed).distinct().withColumn(
        "_f", F.lit(True)
    )
    return (
        corpus_docs.join(F.broadcast(flagged), on="doc_id", how="left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.count("_f").cast("long").alias("n_flagged"),
            (F.count(F.lit(1)) - F.count("_f")).cast("long").alias("n_kept"),
        )
    )


# --- per-source incremental data card (card per snapshot, drift between) -----


def _duck_card_trend_sql() -> str:
    """Two per-source card legs (the pipeline_data_card quality/token
    arithmetic) over the two snapshot predicates, full-outer-joined on
    source — composing the registered text_quality oracle so scorer
    drift propagates into this oracle automatically."""
    from .registry_ext7 import _NB_DUCK_TOK

    leg = """
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_tok) AS BIGINT) AS n_tokens,
         sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) / (1.0 * count(*))
           AS pct_en_raw,
         avg(quality_score) AS mq_raw
  FROM (SELECT doc_id, source, lang, len({tok}) AS n_tok
        FROM documents WHERE {pred}) d
  JOIN q USING (doc_id) GROUP BY 1"""
    return f"""
WITH q AS ({{quality_oracle}}),
ca AS ({leg.format(tok=_NB_DUCK_TOK, pred="doc_id % 4 <> 0")}),
cb AS ({leg.format(tok=_NB_DUCK_TOK, pred="TRUE")})
SELECT coalesce(ca.source, cb.source) AS source,
       ca.n_docs AS n_docs_a, cb.n_docs AS n_docs_b,
       round(cb.n_docs / (1.0 * ca.n_docs), 4) AS n_docs_ratio,
       ca.n_tokens AS n_tokens_a, cb.n_tokens AS n_tokens_b,
       round((cb.n_tokens - ca.n_tokens) / (1.0 * ca.n_tokens), 4)
         AS token_delta_frac,
       round(ca.pct_en_raw, 4) AS pct_en_a,
       round(cb.pct_en_raw, 4) AS pct_en_b,
       round(ca.mq_raw, 4) AS mean_quality_a,
       round(cb.mq_raw, 4) AS mean_quality_b,
       round(cb.mq_raw - ca.mq_raw, 4) AS quality_delta
FROM ca FULL JOIN cb ON ca.source = cb.source
""".format(quality_oracle=ORACLES["text_quality"])


@_register("pipeline_card_trend", _duck_card_trend_sql())
def pipeline_card_trend(spark, sf_dir):
    """The per-source INCREMENTAL data card — pipeline_data_card's
    volume/language/quality legs computed per ARCHIVE SNAPSHOT and
    joined into the trend report (profile_version_drift's a/b-delta
    shape, keyed by source instead of column): what a monthly crawl
    refresh ships next to the card itself, surfacing 'source X grew
    40% but its mean quality fell' before the mixture planner consumes
    the new snapshot. Snapshot v1 (2024-01-01) is the doc_id % 4 != 0
    subset, v2 (2024-02-01) the full table — a growing crawl written
    and re-loaded through real save_archive_snapshot partitions, like
    table_version_drift. Full-outer on source so a source appearing in
    only one snapshot reports NULL on the missing side (the
    new-source/vanished-source signal). Deltas round ONCE from raw
    aggregates (never deltas of rounded values). At 100 TB each card
    leg is one scan-pruned aggregate to |sources| rows; the trend join
    is report-sized."""
    import os

    from .functions.text import add_quality_score, token_count
    from .sources.tables import load_table, save_archive_snapshot

    base = scratch_path(spark, sf_dir, "cardtrend")
    td = {"arch": {"path": os.path.join(base, "arch"), "format": "parquet"}}
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "text", "source", "lang"
    )
    save_archive_snapshot(
        docs.filter(F.col("doc_id") % 4 != 0), "arch", "2024-01-01", td
    )
    save_archive_snapshot(docs, "arch", "2024-02-01", td)

    def card(df):
        q = add_quality_score(df).select("doc_id", "quality_score")
        return (
            df.select(
                "doc_id", "source", "lang",
                token_count(F.col("text")).alias("n_tok"),
            )
            .join(q, on="doc_id")
            .groupBy("source")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_docs"),
                F.sum("n_tok").cast("long").alias("n_tokens"),
                (
                    F.sum(F.when(F.col("lang") == "en", 1).otherwise(0))
                    / F.count(F.lit(1))
                ).alias("pct_en_raw"),
                F.avg("quality_score").alias("mq_raw"),
            )
        )

    ca = card(
        load_table(
            "arch", {"arch": {**td["arch"], "archive_date": "2024-01-01"}}
        )
    ).select(
        "source",
        F.col("n_docs").alias("n_docs_a"),
        F.col("n_tokens").alias("n_tokens_a"),
        F.col("pct_en_raw").alias("_pe_a"),
        F.col("mq_raw").alias("_mq_a"),
    )
    cb = card(
        load_table(
            "arch", {"arch": {**td["arch"], "archive_date": "2024-02-01"}}
        )
    ).select(
        "source",
        F.col("n_docs").alias("n_docs_b"),
        F.col("n_tokens").alias("n_tokens_b"),
        F.col("pct_en_raw").alias("_pe_b"),
        F.col("mq_raw").alias("_mq_b"),
    )
    return ca.join(cb, on="source", how="full_outer").select(
        "source",
        "n_docs_a",
        "n_docs_b",
        F.round(F.col("n_docs_b") / F.col("n_docs_a"), 4).alias(
            "n_docs_ratio"
        ),
        "n_tokens_a",
        "n_tokens_b",
        F.round(
            (F.col("n_tokens_b") - F.col("n_tokens_a"))
            / F.col("n_tokens_a"),
            4,
        ).alias("token_delta_frac"),
        F.round(F.col("_pe_a"), 4).alias("pct_en_a"),
        F.round(F.col("_pe_b"), 4).alias("pct_en_b"),
        F.round(F.col("_mq_a"), 4).alias("mean_quality_a"),
        F.round(F.col("_mq_b"), 4).alias("mean_quality_b"),
        F.round(F.col("_mq_b") - F.col("_mq_a"), 4).alias("quality_delta"),
    )


# --- baseline-JPEG multimodal decode ------------------------------------------


def _duck_jpeg_sql() -> str:
    """Closed-form prediction of the DC-exact JPEG fixture decode:
    w8/h8 blocks from md5 bytes 0/1, block k constant luma (d3+k)%256,
    so pixel_sum = 3 (gray->RGB) * 64 (px/block) * sum of the first
    nb = w8*h8 terms of the mod-256 ramp — the PNG oracle's
    split-range CASE with L = nb."""
    return """
WITH b AS (
  SELECT doc_id,
         1 + ('0x' || substr(md5(text), 1, 2))::INTEGER % 8 AS w8,
         1 + ('0x' || substr(md5(text), 3, 2))::INTEGER % 8 AS h8,
         ('0x' || substr(md5(text), 7, 2))::INTEGER AS a
  FROM documents
), n AS (SELECT doc_id, w8, h8, a, w8 * h8 AS nb FROM b)
SELECT doc_id,
       CAST(8 * w8 AS INTEGER) AS width,
       CAST(8 * h8 AS INTEGER) AS height,
       CAST(192 * (
         CASE WHEN a + nb <= 256
              THEN nb * a + nb * (nb - 1) // 2
              ELSE (a + 255) * (256 - a) // 2
                   + (nb + a - 256) * (nb + a - 257) // 2
         END) AS BIGINT) AS pixel_sum
FROM n
"""


@_register("multimodal_image_jpeg", _duck_jpeg_sql())
def multimodal_image_jpeg(spark, sf_dir):
    """REAL lossy-codec path: synthesize deterministic baseline JPEGs
    worker-side (grayscale, constant 8x8 blocks, all-8s quantization —
    the protocol that makes the DC path LOSSLESS), then run the FULL
    baseline decode — marker walk, DHT canonical Huffman,
    DPCM + run-length entropy decode, dequantize, 2-D IDCT, level
    shift — and emit dims plus the exact sum of every decoded RGB
    byte. A wrong Huffman code, DC predictor, zigzag position,
    quantizer index, or IDCT scale anywhere changes ``pixel_sum``; the
    AC/color/restart paths the exact fixture cannot reach are pinned
    by roundtrip property tests (error <= quantization bound).
    Arrow-batched ``mapInPandas``, 1 row in -> 1 row out, no shuffle.
    See operators/media_codecs.py:decode_jpeg_baseline."""
    from .operators.multimodal import (
        image_content_profile,
        synthesize_media_payloads,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return image_content_profile(
        synthesize_media_payloads(docs, "jpeg")
    ).select("doc_id", "width", "height", "pixel_sum")


@_register("multimodal_image_jpeg_progressive", _duck_jpeg_sql())
def multimodal_image_jpeg_progressive(spark, sf_dir):
    """REAL progressive-codec path (r16): the DC-exact pixel protocol of
    multimodal_image_jpeg emitted through the SOF2 successive-
    approximation scan script (DC + banded AC first scans at bit 1,
    then DC/AC refinement scans to bit 0 — the shape real web encoders
    produce), decoded by the full T.81 Annex G machinery in
    :func:`media_codecs.decode_jpeg_progressive`: multi-scan marker
    walk, EOBRUN run coding, zero-history refinement runs with
    positionally-interleaved correction bits. The ORACLE IS IDENTICAL
    to the baseline query's closed form — progressive is a bit-exact
    re-encoding, so any drift between the two entropy pipelines
    (point transform, refinement bit order, EOB-run corrections)
    changes ``pixel_sum``. The AC/color paths the exact fixture cannot
    reach are pinned by roundtrip property tests asserting progressive
    decode == baseline decode on random images. Arrow-batched
    ``mapInPandas``, 1 row -> 1 row, no shuffle."""
    from .operators.multimodal import (
        image_content_profile,
        synthesize_media_payloads,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return image_content_profile(
        synthesize_media_payloads(docs, "jpeg_progressive")
    ).select("doc_id", "width", "height", "pixel_sum")


# --- MJPEG compressed-video decode --------------------------------------------


def _duck_mjpeg_sql() -> str:
    """Per-frame closed form of the MJPEG clip decode: the JPEG DC-exact
    block protocol with frame offset f (block k of frame f = constant
    luma (d3+f+k) % 256), clip shape from the y4m rules (4:4 blocks
    cap, fps list, 1..6 frames). Each frame's pixel_sum is the
    split-range ramp CASE with start a_f = (d3+f) % 256 and length
    nb = w8*h8 <= 16."""
    return """
WITH b AS (
  SELECT doc_id,
         1 + ('0x' || substr(md5(text), 1, 2))::INTEGER % 4 AS w8,
         1 + ('0x' || substr(md5(text), 3, 2))::INTEGER % 4 AS h8,
         ('0x' || substr(md5(text), 7, 2))::INTEGER AS a,
         [10, 24, 25, 30][1 + ('0x' || substr(md5(text), 9, 2))::INTEGER % 4]
           AS fps,
         1 + ('0x' || substr(md5(text), 21, 2))::INTEGER % 6 AS nf
  FROM documents
), fr AS (
  SELECT doc_id, w8, h8, fps, nf, f.f AS frame_index,
         (a + f.f) % 256 AS af, w8 * h8 AS nb
  FROM b, LATERAL (SELECT unnest(generate_series(0, nf - 1)) AS f) f
)
SELECT doc_id,
       CAST(frame_index AS INTEGER) AS frame_index,
       CAST(8 * w8 AS INTEGER) AS width,
       CAST(8 * h8 AS INTEGER) AS height,
       CAST(fps AS INTEGER) AS fps,
       CAST(nf AS INTEGER) AS n_frames_total,
       CAST(192 * (
         CASE WHEN af + nb <= 256
              THEN nb * af + nb * (nb - 1) // 2
              ELSE (af + 255) * (256 - af) // 2
                   + (nb + af - 256) * (nb + af - 257) // 2
         END) AS BIGINT) AS pixel_sum
FROM fr
"""


@_register("multimodal_video_mjpeg", _duck_mjpeg_sql())
def multimodal_video_mjpeg(spark, sf_dir):
    """REAL compressed-VIDEO path: synthesize deterministic MJPEG AVI
    clips worker-side (RIFF container, 'MJPG' fourcc, one complete
    DC-exact baseline JPEG per '00dc' movi chunk), then walk the
    container and decode EVERY frame through the full JPEG pipeline —
    one output row per frame carrying dims, fps, frame count, and the
    exact sum of every decoded RGB byte. A wrong chunk boundary,
    frame-order slip, Huffman code, or IDCT scale anywhere changes a
    frame's pixel_sum; the 1-clip-to-n-frames Arrow batch shape means
    downstream operators parallelise over frames, not clips. See
    operators/media_codecs.py:avi_jpeg_frames and
    operators/multimodal.py:mjpeg_video_profile."""
    from .operators.multimodal import (
        mjpeg_video_profile,
        synthesize_media_payloads,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return mjpeg_video_profile(synthesize_media_payloads(docs, "avi"))


def _duck_video_dedup_sql() -> str:
    """Duplicate-frame groups predicted from the protocol: under the
    fixture rules a frame's decoded content is FULLY determined by
    (w8, h8, af = (d3 + frame) % 256), so grouping the protocol triples
    must yield exactly the groups Spark finds by grouping the md5 of
    the ACTUALLY DECODED bytes — any decode defect that merges or
    splits content groups breaks the multiset equality."""
    return """
WITH b AS (
  SELECT doc_id,
         1 + ('0x' || substr(md5(text), 1, 2))::INTEGER % 4 AS w8,
         1 + ('0x' || substr(md5(text), 3, 2))::INTEGER % 4 AS h8,
         ('0x' || substr(md5(text), 7, 2))::INTEGER AS a,
         1 + ('0x' || substr(md5(text), 21, 2))::INTEGER % 6 AS nf
  FROM documents
), fr AS (
  SELECT doc_id, w8, h8, (a + f.f) % 256 AS af
  FROM b, LATERAL (SELECT unnest(generate_series(0, nf - 1)) AS f) f
)
SELECT CAST(8 * w8 AS INTEGER) AS width,
       CAST(8 * h8 AS INTEGER) AS height,
       CAST(count(*) AS BIGINT) AS n_frames,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_clips,
       min(doc_id) AS canonical_doc_id
FROM fr
GROUP BY w8, h8, af
HAVING count(*) > 1
"""


@_register("multimodal_video_dedup", _duck_video_dedup_sql())
def multimodal_video_dedup(spark, sf_dir):
    """VIDEO dedup: duplicated footage found by exact content signature
    — every MJPEG frame decoded through the full JPEG pipeline, md5'd,
    and hash-grouped JVM-side (``groupBy(width, height, frame_md5)``,
    never frame-pairwise), emitting one row per duplicate-frame group
    with its frame/clip counts and canonical clip. The exact-document-
    dedup shape lifted to video: at 100 TB the aggregate map-side
    combines and the only Python cost is the decode itself. The oracle
    groups the fixture protocol's content triple instead of the md5 —
    multiset equality holds iff the decoder reconstructs byte-identical
    pixels exactly when the protocol says frames are identical. See
    operators/multimodal.py:mjpeg_frame_signatures."""
    from .operators.multimodal import (
        mjpeg_frame_signatures,
        synthesize_media_payloads,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    sigs = mjpeg_frame_signatures(synthesize_media_payloads(docs, "avi"))
    return (
        sigs.groupBy("width", "height", "frame_md5")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_frames"),
            F.countDistinct("doc_id").cast("long").alias("n_clips"),
            F.min("doc_id").alias("canonical_doc_id"),
        )
        .filter(F.col("n_frames") > 1)
        .drop("frame_md5")
    )

from . import registry_ext9  # noqa: E402,F401  (round-12 registrations)
