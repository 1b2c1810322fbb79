"""Extension-layer query registry, part 7 (round-9 continuation).

Same contract as ``registry_ext.py``: every query has a DuckDB oracle
generated from the SAME constants so both sides compute identical
values by construction. This part: the closed-form multinomial Naive
Bayes text classifier (the fasttext-shaped language-ID / quality /
domain-routing filter every pretraining pipeline carries), trained and
scored entirely with Spark aggregations — plus downstream curation
queries built on it.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .caching import scratch_path
from .registry import ORACLES, QUERIES, _register, _t  # noqa: F401

# Direct `import hds_functions_spark.registry_extN` must see every
# upstream ORACLES/QUERIES entry this module reads at import time:
# pull the chain head, which registers all earlier ext modules before
# this body continues. Via the normal chain import this resolves to
# the already-in-progress module in sys.modules (PEP 328 circular
# import), a no-op.
from . import registry_ext  # noqa: E402,F401

# --- multinomial Naive Bayes language classifier ----------------------------

#: add-alpha smoothing for token likelihoods
_NB_ALPHA = 1.0
#: holdout: every ``mod``-th doc is scored, the rest train
_NB_HOLDOUT_MOD = 5
#: model-inspection query keeps tokens observed at least this often
_NB_MIN_CNT = 5

#: DuckDB mirror of ``functions.text.tokens`` + per-token lower()
_NB_DUCK_TOK = (
    "CASE WHEN trim(text) = '' THEN []::VARCHAR[] "
    "ELSE string_split_regex(trim(lower(text)), '\\s+') END"
)


def _duck_nb_model_cte() -> str:
    """CTE chain ending in ``ll(token, label, cnt, log_lik)`` +
    ``stats(label, n_docs, n_tokens, vocab_size, log_prior, floor_ll)``
    — the oracle mirror of :func:`operators.classify.nb_class_stats` /
    :func:`nb_token_loglik` trained on the ``doc_id % mod <> 0`` slice
    with ``lang`` as the label."""
    a, mod = _NB_ALPHA, _NB_HOLDOUT_MOD
    return f"""
tok_train AS (
  SELECT lang AS label, doc_id, unnest({_NB_DUCK_TOK}) AS token
  FROM documents WHERE doc_id % {mod} <> 0),
cls AS (
  SELECT label, count(DISTINCT doc_id) AS n_docs, count(*) AS n_tokens
  FROM tok_train GROUP BY 1),
vtot AS (SELECT count(DISTINCT token) AS v FROM tok_train),
ndtot AS (SELECT count(DISTINCT doc_id) AS ndocs FROM documents
          WHERE doc_id % {mod} <> 0),
stats AS (
  SELECT label, n_docs, n_tokens, v AS vocab_size,
         ln(n_docs / (1.0 * ndocs)) AS log_prior,
         ln({a} / (n_tokens + {a} * v)) AS floor_ll
  FROM cls CROSS JOIN vtot CROSS JOIN ndtot),
cnts AS (
  SELECT token, label, count(*) AS cnt FROM tok_train GROUP BY 1, 2),
ll AS (
  SELECT token, cnts.label, cnt,
         ln((cnt + {a}) / (n_tokens + {a} * vocab_size)) AS log_lik
  FROM cnts JOIN stats ON cnts.label = stats.label)
"""


def _duck_nb_predict_cte() -> str:
    """Extends the model CTEs with ``pred(doc_id, label_pred, score,
    n_invocab)`` — the oracle mirror of
    :func:`operators.classify.nb_predict` over the holdout slice."""
    mod = _NB_HOLDOUT_MOD
    return f"""{_duck_nb_model_cte()},
tok_score AS (
  SELECT doc_id, token, count(*) AS cnt_d
  FROM (SELECT doc_id, unnest({_NB_DUCK_TOK}) AS token
        FROM documents WHERE doc_id % {mod} = 0)
  GROUP BY 1, 2),
deltas AS (
  SELECT doc_id, ll.label,
         sum(cnt_d * (log_lik - floor_ll)) AS delta
  FROM tok_score JOIN ll USING (token)
  JOIN stats ON ll.label = stats.label
  GROUP BY 1, 2),
inv AS (
  SELECT doc_id, CAST(sum(cnt_d) AS BIGINT) AS n_invocab
  FROM tok_score
  WHERE token IN (SELECT DISTINCT token FROM ll)
  GROUP BY 1),
scored AS (
  SELECT d.doc_id, stats.label,
         coalesce(inv.n_invocab, 0) AS n_invocab,
         round(stats.log_prior
               + coalesce(inv.n_invocab, 0) * stats.floor_ll
               + coalesce(deltas.delta, 0.0), 6) AS score
  FROM (SELECT doc_id FROM documents WHERE doc_id % {mod} = 0) d
  CROSS JOIN stats
  LEFT JOIN inv ON d.doc_id = inv.doc_id
  LEFT JOIN deltas ON d.doc_id = deltas.doc_id
                  AND stats.label = deltas.label),
pred AS (
  SELECT doc_id, label AS label_pred, score, n_invocab
  FROM scored
  QUALIFY row_number() OVER (
      PARTITION BY doc_id ORDER BY score DESC, label) = 1)
"""


def _nb_slices(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    train = docs.filter(F.col("doc_id") % _NB_HOLDOUT_MOD != 0)
    score = docs.filter(F.col("doc_id") % _NB_HOLDOUT_MOD == 0)
    return train, score


def _nb_predictions(spark, sf_dir):
    from .caching import tracked_persist
    from .operators.classify import (
        nb_class_stats,
        nb_predict,
        nb_token_counts,
        nb_token_loglik,
    )

    train, score = _nb_slices(spark, sf_dir)
    # ONE training explode: both model halves derive from the shared
    # persisted (token, label, cnt) frame (r17 — previously stats and
    # model each re-ran the tokenise/explode scan as twin stages that
    # neither exchange reuse nor their own persists deduplicated);
    # stats still feeds the model build AND two scoring branches, the
    # model the delta join AND the vocab probe — all three frames are
    # vocab-bounded, C-row, or observed-pair-sized
    tc = tracked_persist(nb_token_counts(train))
    stats = tracked_persist(
        nb_class_stats(train, alpha=_NB_ALPHA, token_counts=tc)
    )
    model = tracked_persist(
        nb_token_loglik(train, stats, alpha=_NB_ALPHA, token_counts=tc)
    )
    return score, nb_predict(score, model, stats)


@_register(
    "classify_nb_model",
    f"""
WITH {_duck_nb_model_cte()}
SELECT token, label, cnt, round(log_lik, 6) AS log_lik
FROM ll WHERE cnt >= {_NB_MIN_CNT}
""",
)
def classify_nb_model(spark, sf_dir):
    """The trained sparse NB model (tokens observed >= {m} times):
    per-(token, label) add-{a}-smoothed log-likelihoods over the
    training slice. Training is two map-side-combinable groupBys plus a
    broadcast of the C-row class-stats frame — closed form, one pass,
    no iteration (operators/classify.py module doc). The min-count
    filter bounds the INSPECTION output only; scoring uses the full
    sparse model.""".format(m=_NB_MIN_CNT, a=_NB_ALPHA)
    from .caching import tracked_persist
    from .operators.classify import (
        nb_class_stats,
        nb_token_counts,
        nb_token_loglik,
    )

    train, _ = _nb_slices(spark, sf_dir)
    # share the one training explode between the two model halves
    # (same shape as _nb_predictions — see the r17 note there)
    tc = tracked_persist(nb_token_counts(train))
    stats = nb_class_stats(train, alpha=_NB_ALPHA, token_counts=tc)
    model = nb_token_loglik(train, stats, alpha=_NB_ALPHA, token_counts=tc)
    return model.filter(F.col("cnt") >= _NB_MIN_CNT).select(
        "token", "label", "cnt", F.round("log_lik", 6).alias("log_lik")
    )


@_register(
    "classify_nb_predict",
    f"""
WITH {_duck_nb_predict_cte()}
SELECT pred.doc_id, d.lang, label_pred, score, n_invocab
FROM pred JOIN documents d ON pred.doc_id = d.doc_id
""",
)
def classify_nb_predict(spark, sf_dir):
    """Held-out language-ID predictions (every {mod}-th doc): the
    sparse-delta NB argmax with the true label attached. The doc
    explode joins the model on ``token`` only; per-(doc, class) deltas
    combine map-side; the argmax is a C-row-per-doc window over scores
    ROUNDED before ranking so cross-engine ulp drift cannot flip the
    prediction.""".format(mod=_NB_HOLDOUT_MOD)
    score, pred = _nb_predictions(spark, sf_dir)
    return pred.join(
        score.select("doc_id", "lang"), on="doc_id"
    ).select(
        "doc_id",
        "lang",
        "label_pred",
        "score",
        F.col("n_invocab").cast("long").alias("n_invocab"),
    )


@_register(
    "classify_nb_confusion",
    f"""
WITH {_duck_nb_predict_cte()}
SELECT d.lang, label_pred, count(*) AS n,
       CAST(sum(CASE WHEN d.lang = label_pred THEN 1 ELSE 0 END) AS BIGINT)
           AS n_correct
FROM pred JOIN documents d ON pred.doc_id = d.doc_id
GROUP BY 1, 2
""",
)
def classify_nb_confusion(spark, sf_dir):
    """Language-ID confusion matrix over the holdout: (true lang,
    predicted label, count). The classifier's quality-gate view — in a
    curation pipeline this is the audit table that decides whether the
    filter is trustworthy enough to route documents. Output is at most
    C^2 rows.""".format()
    score, pred = _nb_predictions(spark, sf_dir)
    return (
        pred.join(score.select("doc_id", "lang"), on="doc_id")
        .groupBy("lang", "label_pred")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.when(F.col("lang") == F.col("label_pred"), 1).otherwise(0)
            ).cast("long").alias("n_correct"),
        )
    )


# --- token-budget mixture planning ------------------------------------------

#: mixture temperature (alpha < 1 up-weights low-resource sources)
_MIX_ALPHA = 0.7
#: token budget as a multiple of the corpus's total tokens
_MIX_BUDGET_MULT = 2.0


@_register(
    "mixture_epoch_plan",
    f"""
WITH d AS (
  SELECT source, len({_NB_DUCK_TOK}) AS n_tok FROM documents),
c AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_tok) AS BIGINT) AS n_tokens
  FROM d GROUP BY 1),
z AS (
  SELECT sum(pow(n_tokens::DOUBLE, {_MIX_ALPHA})) AS z,
         sum(n_tokens) AS n
  FROM c)
SELECT source, n_docs, n_tokens,
       round(n_tokens::DOUBLE / z.n, 6) AS natural_share,
       round(pow(n_tokens::DOUBLE, {_MIX_ALPHA}) / z.z, 6) AS weight,
       round(pow(n_tokens::DOUBLE, {_MIX_ALPHA}) / z.z
             * z.n * {_MIX_BUDGET_MULT}, 1) AS tokens_needed,
       round(pow(n_tokens::DOUBLE, {_MIX_ALPHA}) / z.z
             * z.n * {_MIX_BUDGET_MULT} / n_tokens, 6) AS epochs,
       round(least(pow(n_tokens::DOUBLE, {_MIX_ALPHA}) / z.z
                   * z.n * {_MIX_BUDGET_MULT} / n_tokens, 1.0), 6)
           AS sample_rate
FROM c, z
""",
)
def mixture_epoch_plan(spark, sf_dir):
    """Token-budget mixture planning (alpha = {a}, budget = {m}x total
    tokens): the LLaMA-style "sampling proportion & epochs" table —
    per-source temperature-smoothed token share converted into
    tokens_needed / epochs / per-pass sample_rate loader directives.
    One corpus scan, then everything runs on the C-row source frame
    (operators/sampling.py:mixture_epoch_plan).""".format(
        a=_MIX_ALPHA, m=_MIX_BUDGET_MULT
    )
    from .functions.text import token_count
    from .operators.sampling import mixture_epoch_plan as plan

    docs = _t(spark, sf_dir, "documents").select(
        "source", token_count(F.col("text")).alias("n_tokens")
    )
    return plan(
        docs,
        source_col="source",
        size_col="n_tokens",
        alpha=_MIX_ALPHA,
        budget_multiplier=_MIX_BUDGET_MULT,
    )


# --- n-gram novelty (diminishing-returns curve) ------------------------------

#: shingle width for the novelty signal
_NOV_NGRAM = 5


def _duck_ngrams(lst: str, n: int) -> str:
    body = " || ' ' || ".join(f"{lst}[i + {k}]" for k in range(n))
    return (
        f"CASE WHEN len({lst}) < {n} THEN []::VARCHAR[] "
        f"ELSE list_transform(generate_series(1, len({lst}) - {n - 1}), "
        f"i -> {body}) END"
    )


@_register(
    "text_novelty",
    f"""
WITH d AS (
  SELECT doc_id, {_NB_DUCK_TOK} AS t FROM documents),
g AS (
  SELECT DISTINCT doc_id, unnest({_duck_ngrams('t', _NOV_NGRAM)}) AS gram
  FROM d),
f AS (SELECT gram, min(doc_id) AS first_doc FROM g GROUP BY 1),
per AS (
  SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
         CAST(sum(CASE WHEN first_doc = g.doc_id THEN 1 ELSE 0 END)
              AS BIGINT) AS n_novel
  FROM g JOIN f USING (gram) GROUP BY 1)
SELECT d.doc_id,
       coalesce(n_grams, 0) AS n_grams,
       coalesce(n_novel, 0) AS n_novel,
       round(coalesce(n_novel::DOUBLE / n_grams, 0.0), 6) AS novelty
FROM (SELECT doc_id FROM documents) d LEFT JOIN per USING (doc_id)
""",
)
def text_novelty(spark, sf_dir):
    """Per-document {n}-gram novelty against everything ingested
    before it (doc_id as ingest order): the share of the doc's
    distinct shingles first seen in THIS doc — the diminishing-returns
    curve corpus-growth decisions read. Linear plan: distinct-gram
    explode, min-combine per gram, join back, per-doc count
    (operators/profiling.py:ngram_novelty).""".format(n=_NOV_NGRAM)
    from .operators.profiling import ngram_novelty

    return ngram_novelty(
        _t(spark, sf_dir, "documents").select("doc_id", "text"),
        ngram=_NOV_NGRAM,
    )


# --- perplexity-contrast selection (KN context gain) -------------------------

#: absolute discount, matching the text_kn_trigram_logprob query
_CG_D = 0.75
#: even doc_ids train the model; ALL docs are scored
_CG_TRAIN_MOD = 2

#: whitespace tokens, no lowercasing — the KN-family convention
_CG_DUCK_TOK = (
    "CASE WHEN trim(text) = '' THEN []::VARCHAR[] "
    "ELSE string_split_regex(trim(text), '\\s+') END"
)


@_register(
    "select_context_gain",
    f"""
WITH toks AS (
    SELECT doc_id, {_CG_DUCK_TOK} AS t FROM documents
), tri_all AS (
    SELECT doc_id, t[i] AS u, t[i + 1] AS v, t[i + 2] AS w
    FROM toks, UNNEST(generate_series(1, len(t) - 2)) AS g(i)
    WHERE len(t) >= 3
), tri AS (
    SELECT * FROM tri_all WHERE doc_id % {_CG_TRAIN_MOD} = 0
), c3 AS (
    SELECT u, v, w, count(*) AS c3 FROM tri GROUP BY 1, 2, 3
), ctx3 AS (
    SELECT u, v, sum(c3) AS c3ctx, count(*) AS t3 FROM c3 GROUP BY 1, 2
), n2 AS (
    SELECT v, w, count(*) AS n2 FROM c3 GROUP BY 1, 2
), ctx2 AS (
    SELECT v, sum(n2) AS ctx2, count(*) AS t2 FROM n2 GROUP BY 1
), n1 AS (
    SELECT w, count(*) AS n1 FROM n2 GROUP BY 1
), tot1 AS (
    SELECT sum(n1) AS tot1 FROM n1
), scored AS (
    SELECT s.doc_id, n1.n1,
           (CASE WHEN ctx2.ctx2 IS NOT NULL THEN
                greatest(coalesce(n2.n2, 0) - {_CG_D}, 0.0) / ctx2.ctx2
                + {_CG_D} * ctx2.t2 / ctx2.ctx2 * (n1.n1 / tot1.tot1)
            ELSE n1.n1 / tot1.tot1 END) AS p2,
           (CASE WHEN ctx3.c3ctx IS NOT NULL THEN
                greatest(coalesce(c3.c3, 0) - {_CG_D}, 0.0) / ctx3.c3ctx
                + {_CG_D} * ctx3.t3 / ctx3.c3ctx *
                  (CASE WHEN ctx2.ctx2 IS NOT NULL THEN
                       greatest(coalesce(n2.n2, 0) - {_CG_D}, 0.0) / ctx2.ctx2
                       + {_CG_D} * ctx2.t2 / ctx2.ctx2 * (n1.n1 / tot1.tot1)
                   ELSE n1.n1 / tot1.tot1 END)
            ELSE NULL END) AS p3raw
    FROM tri_all s
    LEFT JOIN c3 USING (u, v, w)
    LEFT JOIN ctx3 USING (u, v)
    LEFT JOIN n2 USING (v, w)
    LEFT JOIN ctx2 USING (v)
    LEFT JOIN n1 USING (w)
    CROSS JOIN tot1
), lps AS (
    SELECT doc_id,
           CASE WHEN n1 IS NOT NULL THEN ln(coalesce(p3raw, p2)) END AS lp3,
           CASE WHEN n1 IS NOT NULL THEN ln(p2) END AS lp2
    FROM scored
)
SELECT doc_id,
       CAST(count(lp3) AS BIGINT) AS n_scored,
       round(avg(lp3), 4) AS avg_lp3,
       round(avg(lp2), 4) AS avg_lp2,
       round(avg(lp3) - avg(lp2), 4) AS context_gain
FROM lps
GROUP BY 1
HAVING count(lp3) >= 1
""",
)
def select_context_gain(spark, sf_dir):
    """Perplexity-contrast selection signal: per-document difference
    between the KN trigram-model and bigram-model average
    log-likelihood of the SAME positions (the RHO-loss / model-contrast
    family — rare vocabulary depresses both models equally and cancels,
    so the gain isolates how much CONTEXT predicts the doc). Both
    averages come from one scoring pass: the bigram level is the
    backoff already inside the trigram chain, so the contrast costs
    zero extra shuffles (operators/profiling.py:kn_context_gain_scores).
    Even doc_ids train; all docs score."""
    from .operators.profiling import kn_context_gain_scores

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    train = docs.filter(F.col("doc_id") % _CG_TRAIN_MOD == 0)
    return kn_context_gain_scores(train, docs, discount=_CG_D)


# --- embedding outlier audit (k-th-NN distance) ------------------------------

#: neighbour rank used for the distance score
_OUT_K = 10
#: deterministic query sample: every 20th vector audits against the corpus
_OUT_MOD = 20


@_register(
    "embedding_outlier_knn",
    f"""
WITH queries AS (
    SELECT vec_id AS query_id, embedding FROM embeddings
    WHERE vec_id % {_OUT_MOD} = 0
), scored AS (
    SELECT q.query_id, c.vec_id,
           round(
             list_dot_product(q.embedding::DOUBLE[], c.embedding::DOUBLE[])
             / (sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]))
                * sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]))),
             6) AS cosine_sim
    FROM queries q JOIN embeddings c ON c.vec_id <> q.query_id
), topk AS (
    SELECT query_id, cosine_sim,
           CAST(row_number() OVER (PARTITION BY query_id
                ORDER BY cosine_sim DESC, vec_id) AS INTEGER) AS row_index
    FROM scored
    QUALIFY row_index <= {_OUT_K}
)
SELECT query_id, cosine_sim AS kth_sim,
       round(1.0 - cosine_sim, 6) AS outlier_score,
       row_index AS n_neighbors
FROM topk
QUALIFY row_number() OVER (PARTITION BY query_id
                           ORDER BY row_index DESC) = 1
""",
)
def embedding_outlier_knn(spark, sf_dir):
    """Distance-based embedding outlier audit (Ramaswamy et al. 2000):
    for every {mod}-th vector, the cosine distance to its {k}-th
    nearest neighbour over the FULL corpus — exact brute force over a
    deterministic query sample, so cost is linear in corpus size per
    audited vector (the audit-grade companion to the ANN family, like
    similarity_recall). High scores flag junk clusters / encoder
    failures before SemDeDup-style stages trust the embedding column
    (operators/similarity.py:knn_outlier_scores).""".format(
        mod=_OUT_MOD, k=_OUT_K
    )
    from .operators.similarity import knn_outlier_scores

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % _OUT_MOD == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return knn_outlier_scores(emb, queries, k=_OUT_K)


# --- capstone: quality-gated mixture curation --------------------------------

#: docs must clear the corpus-mean context gain (rounded to 6 on both
#: engines before the comparison so ulp drift in the mean cannot flip
#: membership) ...
#: ... and at least this much 5-gram novelty
_PMC_MIN_NOVELTY = 0.5


@_register(
    "pipeline_mixture_curation",
    f"""
WITH gain AS ({{gain_oracle}}),
nov AS ({{nov_oracle}}),
base AS (
  SELECT d.doc_id, d.source, len({_NB_DUCK_TOK}) AS n_tok,
         g.context_gain, n.novelty
  FROM documents d
  JOIN gain g USING (doc_id)
  JOIN nov n USING (doc_id)),
m AS (SELECT round(avg(context_gain), 6) AS mg FROM base),
kept AS (
  SELECT base.* FROM base, m
  WHERE context_gain > m.mg AND novelty >= {_PMC_MIN_NOVELTY}),
c AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_tok) AS BIGINT) AS n_tokens,
         round(avg(context_gain), 4) AS mean_gain,
         round(avg(novelty), 4) AS mean_novelty
  FROM kept GROUP BY 1),
z AS (
  SELECT sum(pow(n_tokens::DOUBLE, {_MIX_ALPHA})) AS z,
         sum(n_tokens) AS n
  FROM c)
SELECT source, n_docs, n_tokens,
       round(pow(n_tokens::DOUBLE, {_MIX_ALPHA}) / z.z, 6) AS weight,
       round(pow(n_tokens::DOUBLE, {_MIX_ALPHA}) / z.z
             * z.n * {_MIX_BUDGET_MULT} / n_tokens, 6) AS epochs,
       mean_gain, mean_novelty
FROM c, z
""".format(
        gain_oracle=ORACLES["select_context_gain"],
        nov_oracle=ORACLES["text_novelty"],
    ),
)
def pipeline_mixture_curation(spark, sf_dir):
    """The quality-gated mixture-curation spine as ONE lazy Catalyst
    plan: KN context gain (perplexity-contrast selection) and 5-gram
    novelty score every document; docs clearing the corpus-mean gain
    AND the novelty floor survive; the survivors feed the
    temperature-smoothed token-budget mixture plan, with per-source
    mean quality attached — the table a curated pretraining run is
    actually configured from. Every stage is the already-audited
    operator (kn_context_gain_scores, ngram_novelty,
    mixture_epoch_plan); the gate threshold is a broadcast 1-row mean
    (rounded to 6 on both engines), never a global sort. Oracle
    composes the registered gain/novelty oracles so drift propagates."""
    from .functions.text import token_count
    from .operators.profiling import kn_context_gain_scores, ngram_novelty
    from .operators.sampling import mixture_epoch_plan as plan

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "source")
    train = docs.filter(F.col("doc_id") % _CG_TRAIN_MOD == 0).select(
        "doc_id", "text"
    )
    gain = kn_context_gain_scores(train, docs.select("doc_id", "text"),
                                  discount=_CG_D)
    nov = ngram_novelty(docs.select("doc_id", "text"), ngram=_NOV_NGRAM)
    # two consumers (the gate threshold aggregate and the kept filter)
    # read the gain+novelty DAG; measured A/B says DON'T persist here —
    # Spark's ReusedExchange already shares the heavy subplans and the
    # persisted frame's materialisation costs more than the re-read
    # (6.1 s warm unpersisted vs 8.1 s persisted at sf0.1)
    base = (
        docs.select(
            "doc_id", "source", token_count(F.col("text")).alias("n_tok")
        )
        .join(gain.select("doc_id", "context_gain"), on="doc_id")
        .join(nov.select("doc_id", "novelty"), on="doc_id")
    )
    mean_gain = base.agg(
        F.round(F.avg("context_gain"), 6).alias("_mg")
    )
    kept = base.crossJoin(F.broadcast(mean_gain)).filter(
        (F.col("context_gain") > F.col("_mg"))
        & (F.col("novelty") >= _PMC_MIN_NOVELTY)
    )
    quality = kept.groupBy("source").agg(
        F.round(F.avg("context_gain"), 4).alias("mean_gain"),
        F.round(F.avg("novelty"), 4).alias("mean_novelty"),
    )
    mix = plan(
        kept.select("source", F.col("n_tok").alias("n_tokens")),
        source_col="source",
        size_col="n_tokens",
        alpha=_MIX_ALPHA,
        budget_multiplier=_MIX_BUDGET_MULT,
    )
    return mix.join(quality, on="source").select(
        "source", "n_docs", "n_tokens", "weight", "epochs",
        "mean_gain", "mean_novelty",
    )


# --- cross-source verbatim-copy matrix ---------------------------------------


def _duck_source_matrix_sql() -> str:
    from .registry_ext4 import _duck_winnow_fp_cte

    return f"""
WITH {_duck_winnow_fp_cte()},
src_fp AS (
  SELECT DISTINCT d.source AS src, k.fingerprint
  FROM kept k JOIN documents d USING (doc_id))
SELECT a.src AS source_a, b.src AS source_b,
       CAST(count(*) AS BIGINT) AS n_shared_fps
FROM src_fp a JOIN src_fp b
  ON a.fingerprint = b.fingerprint AND a.src < b.src
GROUP BY 1, 2
"""


@_register("dedup_source_matrix", _duck_source_matrix_sql())
def dedup_source_matrix(spark, sf_dir):
    """Cross-source verbatim-copy matrix: distinct winnowing
    fingerprints shared by each source pair — the provenance audit
    behind mixture decisions (re-crawl detection), rolled up from the
    MOSS copy detector. Reuses the session-cached df-capped fingerprint
    table shared with dedup_winnowing; the matrix build collapses to
    DISTINCT (source, fingerprint) before self-joining, so fanout is
    at most S^2 per fingerprint with S = source count — no doc x doc
    blowup, no hot-fp cap (operators/dedup.py:source_overlap_matrix)."""
    from .operators.dedup import source_overlap_matrix
    from .registry_ext4 import _shared_winnow_fps

    from .registry_ext4 import _WN_MAX_DF

    return source_overlap_matrix(
        _shared_winnow_fps(spark, sf_dir),
        _t(spark, sf_dir, "documents").select("doc_id", "source"),
        max_doc_freq=_WN_MAX_DF,
    )


# --- soft dedup: inverse-cluster-size reweighting ----------------------------


@_register(
    "dedup_soft_weights",
    f"""
WITH comp AS (SELECT * FROM ({{cc_oracle}})),
sizes AS (
  SELECT component, CAST(count(*) AS BIGINT) AS size FROM comp GROUP BY 1
),
doc_sz AS (
  SELECT d.doc_id, d.source, coalesce(s.size, 1) AS size
  FROM documents d
  LEFT JOIN comp USING (doc_id)
  LEFT JOIN sizes s USING (component))
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       round(sum(1.0 / size), 6) AS effective_docs,
       round(sum(1.0 / size) / count(*), 6) AS dedup_ratio,
       CAST(sum(CASE WHEN size > 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_in_clusters
FROM doc_sz GROUP BY 1
""".format(cc_oracle=ORACLES["dedup_clusters_cc"]),
)
def dedup_soft_weights(spark, sf_dir):
    """SOFT deduplication: instead of dropping near-duplicates, every
    document gets sampling weight 1/|its duplicate cluster| (singletons
    weigh 1), so each duplicate FAMILY contributes one effective
    document — the reweighting alternative to hard removal (keeps rare
    variants, removes the repetition bias; the "soft dedup" regime in
    recent data-curation work). Per-source rollup: effective document
    mass and the dedup ratio a mixture plan would correct by. Reuses
    the session-shared MinHash + connected-components clusters table;
    the weighting itself is one broadcast-sized size join + one
    aggregate. Oracle composes the registered clusters oracle."""
    from .registry_ext import _shared_clusters

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    comp = _shared_clusters(spark, sf_dir)
    sizes = comp.groupBy("component").agg(F.count(F.lit(1)).alias("size"))
    doc_sz = (
        docs.join(comp, on="doc_id", how="left")
        .join(sizes, on="component", how="left")
        .select(
            "source", F.coalesce(F.col("size"), F.lit(1)).alias("size")
        )
    )
    return doc_sz.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.round(F.sum(1.0 / F.col("size")), 6).alias("effective_docs"),
        F.round(
            F.sum(1.0 / F.col("size")) / F.count(F.lit(1)), 6
        ).alias("dedup_ratio"),
        F.sum(F.when(F.col("size") > 1, 1).otherwise(0))
        .cast("long")
        .alias("n_in_clusters"),
    )


# --- NB calibration audit -----------------------------------------------------

_NB_CAL_DECILES = 10


#: decile cut fractions, shared verbatim with the oracle SQL
_NB_CAL_FRACS = ", ".join(
    repr(i / _NB_CAL_DECILES) for i in range(1, _NB_CAL_DECILES)
)


@_register(
    "classify_nb_calibration",
    f"""
WITH {_duck_nb_predict_cte()},
cal_scored AS (
  SELECT p.doc_id, p.score, p.label_pred, d.lang
  FROM pred p JOIN documents d ON p.doc_id = d.doc_id),
cal_cuts AS (
  SELECT list_transform(quantile_cont(round(score, 6), [{_NB_CAL_FRACS}]),
                        x -> round(x, 6)) AS cuts
  FROM cal_scored),
cal_ranked AS (
  SELECT s.score, s.label_pred, s.lang,
         CAST({_NB_CAL_DECILES} - len(list_filter(c.cuts,
              v -> v <= round(s.score, 6))) AS INTEGER) AS decile
  FROM cal_scored s, cal_cuts c)
SELECT decile,
       CAST(count(*) AS BIGINT) AS n_docs,
       round(avg(score), 4) AS mean_score,
       CAST(sum(CASE WHEN lang = label_pred THEN 1 ELSE 0 END) AS BIGINT)
           AS n_correct,
       round(sum(CASE WHEN lang = label_pred THEN 1 ELSE 0 END)
             / (1.0 * count(*)), 4) AS accuracy
FROM cal_ranked GROUP BY 1
""",
)
def classify_nb_calibration(spark, sf_dir):
    """Classifier calibration audit: holdout predictions cut into
    confidence deciles (by argmax score), accuracy per decile — the
    table that decides WHERE to set a routing threshold (well-calibrated
    = accuracy falls with the decile). Decile assignment is
    :func:`~hds_functions_spark.functions.layout.bucket_by_quantiles_desc`
    (exact cuts + 1-row broadcast + codegen filter-count), replacing the
    r09 global ``ntile()`` single-partition sort — boundary ties now
    share a decile instead of splitting by doc_id."""
    from .functions.layout import bucket_by_quantiles_desc

    score, pred = _nb_predictions(spark, sf_dir)
    joined = pred.join(score.select("doc_id", "lang"), on="doc_id")
    ranked = bucket_by_quantiles_desc(
        joined, "score", _NB_CAL_DECILES, bucket_col="decile"
    )
    return ranked.groupBy("decile").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.round(F.avg("score"), 4).alias("mean_score"),
        F.sum(F.when(F.col("lang") == F.col("label_pred"), 1).otherwise(0))
        .cast("long")
        .alias("n_correct"),
        F.round(
            F.sum(
                F.when(F.col("lang") == F.col("label_pred"), 1).otherwise(0)
            )
            / F.count(F.lit(1)),
            4,
        ).alias("accuracy"),
    )


# --- incremental n-gram novelty (continuous-ingest mode) ----------------------

#: batch selector: every 13th document is "newly ingested" (the
#: exact-spans-incremental convention)
_NOVI_BATCH_MOD = 13


@_register(
    "text_novelty_incremental",
    f"""
WITH d AS (
  SELECT doc_id, {_NB_DUCK_TOK} AS t FROM documents),
bg AS (
  SELECT DISTINCT doc_id, unnest({_duck_ngrams('t', _NOV_NGRAM)}) AS gram
  FROM d WHERE doc_id % {_NOVI_BATCH_MOD} = 0),
cg AS (
  SELECT DISTINCT unnest({_duck_ngrams('t', _NOV_NGRAM)}) AS gram
  FROM d WHERE doc_id % {_NOVI_BATCH_MOD} <> 0),
fb AS (SELECT gram, min(doc_id) AS first_doc FROM bg GROUP BY 1),
per AS (
  SELECT bg.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
         CAST(sum(CASE WHEN cg.gram IS NULL
                        AND fb.first_doc = bg.doc_id
                   THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
  FROM bg JOIN fb USING (gram)
  LEFT JOIN cg ON bg.gram = cg.gram
  GROUP BY 1)
SELECT b.doc_id,
       coalesce(n_grams, 0) AS n_grams,
       coalesce(n_novel, 0) AS n_novel,
       round(coalesce(n_novel::DOUBLE / n_grams, 0.0), 6) AS novelty
FROM (SELECT doc_id FROM documents
      WHERE doc_id % {_NOVI_BATCH_MOD} = 0) b
LEFT JOIN per USING (doc_id)
""",
)
def text_novelty_incremental(spark, sf_dir):
    """{n}-gram novelty of a NEW BATCH (every {m}-th doc) against the
    existing corpus — the continuous-ingest mode of text_novelty: a
    batch shingle is novel iff no corpus doc carries it and this is the
    first batch doc that does. Corpus-side cost is one scan projected
    to distinct grams (never per-doc aggregation, never re-scoring) —
    ingest stays batch-proportional
    (operators/profiling.py:ngram_novelty_incremental).""".format(
        n=_NOV_NGRAM, m=_NOVI_BATCH_MOD
    )
    from .operators.profiling import ngram_novelty_incremental

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    batch = docs.filter(F.col("doc_id") % _NOVI_BATCH_MOD == 0)
    corpus = docs.filter(F.col("doc_id") % _NOVI_BATCH_MOD != 0)
    return ngram_novelty_incremental(batch, corpus, ngram=_NOV_NGRAM)


# --- Matryoshka truncation recall audit ---------------------------------------

#: prefix dimensions audited against the full 64-dim exact top-k
_TR_DIMS = (8, 16, 32)


def _duck_trunc_recall_sql() -> str:
    from .registry_ext import _KNN_K, _KNN_QUERY_MOD

    def trunc_topk(d):
        return f"""
    SELECT 'trunc{d:02d}' AS method, query_id, vec_id FROM (
      SELECT q.query_id, c.vec_id,
             round(
               list_dot_product(q.embedding[1:{d}]::DOUBLE[],
                                c.embedding[1:{d}]::DOUBLE[])
               / (sqrt(list_dot_product(q.embedding[1:{d}]::DOUBLE[],
                                        q.embedding[1:{d}]::DOUBLE[]))
                  * sqrt(list_dot_product(c.embedding[1:{d}]::DOUBLE[],
                                          c.embedding[1:{d}]::DOUBLE[]))),
               6) AS cosine_sim
      FROM (SELECT vec_id AS query_id, embedding FROM embeddings
            WHERE vec_id % {_KNN_QUERY_MOD} = 0) q
      JOIN embeddings c ON c.vec_id <> q.query_id
      QUALIFY row_number() OVER (PARTITION BY query_id
          ORDER BY cosine_sim DESC, vec_id) <= {_KNN_K})
"""

    approx = "\n    UNION ALL\n".join(trunc_topk(d) for d in _TR_DIMS)
    from .registry import ORACLES as _O

    return f"""
WITH exact AS ({_O['similarity_knn']}),
approx AS (
{approx}
), hits AS (
    SELECT method, count(*) AS n_hit FROM approx a
    WHERE EXISTS (SELECT 1 FROM exact e
                  WHERE e.query_id = a.query_id AND e.vec_id = a.vec_id)
    GROUP BY method
)
SELECT method, CAST(n_hit AS BIGINT) AS n_hit,
       CAST((SELECT count(*) FROM exact) AS BIGINT) AS n_exact,
       round(n_hit / (SELECT count(*) FROM exact), 4) AS recall
FROM hits
"""


@_register("similarity_truncation_recall", _duck_trunc_recall_sql())
def similarity_truncation_recall(spark, sf_dir):
    """Matryoshka truncation audit (Kusupati et al. 2022): recall@5 of
    prefix-truncated cosine top-k (8/16/32 of 64 dims) against the
    full-dimension exact top-k — the measurement that prices how much
    ANN state/shuffle/arithmetic a truncated index saves at a given
    recall target (at 100 TB every stored dim is corpus-sized state).
    Same composition as similarity_recall: the exact frame broadcasts
    into per-method semi-joins; the truncation itself is a prefix
    slice feeding the audited brute-force scorer
    (operators/similarity.py:truncated_cosine_topk)."""
    from .operators.similarity import truncated_cosine_topk
    from .registry_ext import _KNN_K, _KNN_QUERY_MOD, similarity_knn

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % _KNN_QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = similarity_knn(spark, sf_dir).select("query_id", "vec_id")
    approx = None
    for d in _TR_DIMS:
        t = truncated_cosine_topk(emb, queries, dims=d, k=_KNN_K).select(
            F.lit(f"trunc{d:02d}").alias("method"), "query_id", "vec_id"
        )
        approx = t if approx is None else approx.unionByName(t)
    hits = (
        approx.join(F.broadcast(exact), ["query_id", "vec_id"], "leftsemi")
        .groupBy("method")
        .agg(F.count("*").alias("n_hit"))
    )
    totals = exact.agg(F.count("*").alias("n_exact"))
    return hits.crossJoin(F.broadcast(totals)).select(
        "method",
        F.col("n_hit").cast("long").alias("n_hit"),
        F.col("n_exact").cast("long").alias("n_exact"),
        F.round(F.col("n_hit") / F.col("n_exact"), 4).alias("recall"),
    )


# --- streaming NB router (foreachBatch model scoring) -------------------------


@_register(
    "streaming_nb_router",
    f"""
WITH {_duck_nb_predict_cte()}
SELECT label_pred,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN d.lang = label_pred THEN 1 ELSE 0 END) AS BIGINT)
           AS n_correct,
       round(avg(score), 4) AS mean_score
FROM pred JOIN documents d ON pred.doc_id = d.doc_id
GROUP BY 1
""",
)
def streaming_nb_router(spark, sf_dir):
    """The production STREAMING model-scoring recipe: documents arrive
    as a file stream; each micro-batch is scored inside ``foreachBatch``
    with the full BATCH NB operator (broadcast model join + per-doc
    argmax — shapes the streaming planner refuses) against the
    batch-trained static model, appended to a durable sink with
    checkpointed resume; the routed-volume report reads the sink.
    Per-doc scores are micro-batch-invariant by construction (the model
    is static, scoring is per-row), so the drained result equals the
    batch predictions — which is exactly what the oracle asserts.
    See streaming/stream_ops.py:stream_score_batches."""
    from .operators.classify import nb_class_stats, nb_predict, nb_token_loglik
    from .streaming.stream_ops import read_parquet_stream, stream_score_batches

    # deterministic replay: empty sink + checkpoint so every invocation
    # reprocesses the full (finite) stream from scratch
    base = scratch_path(spark, sf_dir, "nb_router")

    train, _ = _nb_slices(spark, sf_dir)
    from .caching import tracked_persist

    stats = tracked_persist(nb_class_stats(train, alpha=_NB_ALPHA))
    model = tracked_persist(nb_token_loglik(train, stats, alpha=_NB_ALPHA))
    truth = _t(spark, sf_dir, "documents").select("doc_id", "lang")

    stream = read_parquet_stream(
        spark, f"{sf_dir}/documents.parquet"
    ).filter(F.col("doc_id") % _NB_HOLDOUT_MOD == 0)

    def score(batch_df):
        return nb_predict(batch_df, model, stats).join(truth, on="doc_id")

    scored = stream_score_batches(
        stream,
        score,
        path=f"{base}/sink",
        checkpoint_dir=f"{base}/ckpt",
        state_partitions=8,
    )
    return scored.groupBy("label_pred").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.when(F.col("lang") == F.col("label_pred"), 1).otherwise(0))
        .cast("long")
        .alias("n_correct"),
        F.round(F.avg("score"), 4).alias("mean_score"),
    )


# --- the per-source data card -------------------------------------------------


@_register(
    "pipeline_data_card",
    f"""
WITH q AS ({{quality_oracle}}),
nov AS ({{nov_oracle}}),
comp AS (SELECT * FROM ({{cc_oracle}})),
sizes AS (
  SELECT component, CAST(count(*) AS BIGINT) AS size FROM comp GROUP BY 1
),
base AS (
  SELECT d.doc_id, d.source, d.lang, len({_NB_DUCK_TOK}) AS n_tok,
         q.quality_score, nov.novelty, coalesce(s.size, 1) AS dup_size
  FROM documents d
  JOIN q USING (doc_id)
  JOIN nov USING (doc_id)
  LEFT JOIN comp USING (doc_id)
  LEFT JOIN sizes s USING (component))
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       round(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
             / (1.0 * count(*)), 4) AS pct_en,
       round(avg(quality_score), 4) AS mean_quality,
       round(sum(1.0 / dup_size) / count(*), 4) AS dedup_ratio,
       round(avg(novelty), 4) AS mean_novelty
FROM base GROUP BY 1
""".format(
        quality_oracle=ORACLES["text_quality"],
        nov_oracle=ORACLES["text_novelty"],
        cc_oracle=ORACLES["dedup_clusters_cc"],
    ),
)
def pipeline_data_card(spark, sf_dir):
    """The per-source DATA CARD — the one-page artifact a curated corpus
    ships with: document/token volume, English share, mean heuristic
    quality, soft-dedup ratio (effective docs / docs, from the shared
    MinHash+CC clusters) and mean 5-gram novelty, per source, in ONE
    lazy plan. Every column is an already-audited operator
    (add_quality_score, ngram_novelty, dedup_clusters); the rollup adds
    two doc-keyed joins and one aggregate. Oracle composes the
    registered quality/novelty/clusters oracles so drift propagates."""
    from .functions.text import token_count
    from .operators.profiling import ngram_novelty
    from .functions.text import add_quality_score
    from .registry_ext import _shared_clusters

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "text", "source", "lang"
    )
    q = add_quality_score(docs).select("doc_id", "quality_score")
    nov = ngram_novelty(docs.select("doc_id", "text"), ngram=_NOV_NGRAM)
    comp = _shared_clusters(spark, sf_dir)
    sizes = comp.groupBy("component").agg(F.count(F.lit(1)).alias("size"))
    base = (
        docs.select(
            "doc_id", "source", "lang",
            token_count(F.col("text")).alias("n_tok"),
        )
        .join(q, on="doc_id")
        .join(nov.select("doc_id", "novelty"), on="doc_id")
        .join(comp, on="doc_id", how="left")
        .join(sizes, on="component", how="left")
        .withColumn("dup_size", F.coalesce(F.col("size"), F.lit(1)))
    )
    return base.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("n_tokens"),
        F.round(
            F.sum(F.when(F.col("lang") == "en", 1).otherwise(0))
            / F.count(F.lit(1)),
            4,
        ).alias("pct_en"),
        F.round(F.avg("quality_score"), 4).alias("mean_quality"),
        F.round(
            F.sum(1.0 / F.col("dup_size")) / F.count(F.lit(1)), 4
        ).alias("dedup_ratio"),
        F.round(F.avg("novelty"), 4).alias("mean_novelty"),
    )


# --- TPC-H Q1-style pricing summary -------------------------------------------


@_register(
    "analytics_pricing_summary",
    """
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT)
           AS sum_qty_cents,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
           AS sum_base_cents,
       CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                     AS BIGINT)) AS BIGINT) AS sum_disc_cents,
       CAST(sum(CAST(round(l_extendedprice * (1 - l_discount)
                           * (1 + l_tax) * 100) AS BIGINT)) AS BIGINT)
           AS sum_charge_cents,
       round(avg(l_quantity), 4) AS avg_qty,
       round(avg(l_extendedprice), 4) AS avg_price,
       round(avg(l_discount), 6) AS avg_disc,
       CAST(count(*) AS BIGINT) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY 1, 2
""",
)
def analytics_pricing_summary(spark, sf_dir):
    """The TPC-H Q1 pricing summary (the canonical scan-heavy aggregate
    every OLAP engine is judged on): per (returnflag, linestatus) sums
    and averages over shipped lineitems. Spark-first notes: the filter
    and 7-column projection push into the parquet scan (ReadSchema
    prunes 9 of 16 columns); the money sums accumulate as INTEGER
    cents (deterministic across engines and partition orders — the
    float-sum ulp problem engineered out, the registry convention);
    one map-side-combinable aggregate, 6 output rows."""
    li = _t(spark, sf_dir, "lineitem")
    cents = lambda c: F.round(c * 100).cast("long")  # noqa: E731
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(cents(F.col("l_quantity"))).cast("long").alias(
                "sum_qty_cents"
            ),
            F.sum(cents(F.col("l_extendedprice"))).cast("long").alias(
                "sum_base_cents"
            ),
            F.sum(
                cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))
            ).cast("long").alias("sum_disc_cents"),
            F.sum(
                cents(
                    F.col("l_extendedprice")
                    * (1 - F.col("l_discount"))
                    * (1 + F.col("l_tax"))
                )
            ).cast("long").alias("sum_charge_cents"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).cast("long").alias("count_order"),
        )
    )


# --- Gopher rule-level audit ---------------------------------------------------


def _duck_gopher_sql() -> str:
    from .operators.quality import GOPHER_STOPWORDS

    toks = (
        "CASE WHEN trim(text) = '' THEN []::VARCHAR[] "
        "ELSE string_split_regex(trim(text), '\\s+') END"
    )
    stop_hits = " + ".join(
        f"CASE WHEN list_contains(lt, '{w}') THEN 1 ELSE 0 END"
        for w in GOPHER_STOPWORDS
    )
    rules = [
        "word_count", "mean_word_length", "symbol_ratio", "bullet_ratio",
        "ellipsis_ratio", "alpha_ratio", "stopword_hits", "all_rules",
    ]
    unpivot = "\nUNION ALL\n".join(
        f"SELECT '{r}' AS rule, n_docs, {r} AS n_fail, "
        f"round({r} / (1.0 * n_docs), 4) AS fail_rate FROM agg"
        for r in rules
    )
    return f"""
WITH base AS (
  SELECT doc_id, text, {toks} AS t,
         list_transform({toks}, s -> lower(s)) AS lt,
         string_split(text, chr(10)) AS lines
  FROM documents),
feat AS (
  SELECT doc_id,
         len(t) AS n_words,
         CASE WHEN len(t) > 0 THEN
           list_sum(list_transform(t, s -> length(s)))::DOUBLE / len(t)
         END AS mean_wl,
         length(text) - length(replace(text, '#', '')) AS n_hash,
         (length(text) - length(replace(text, '...', ''))) / 3.0
             AS n_ellipsis,
         len(lines) AS n_lines,
         CASE WHEN len(lines) > 0 THEN
           len(list_filter(lines, l -> ltrim(l) LIKE '-%'
                                    OR ltrim(l) LIKE '*%'))
             / (1.0 * len(lines)) END AS bullet_frac,
         CASE WHEN len(lines) > 0 THEN
           len(list_filter(lines, l -> rtrim(l) LIKE '%...'))
             / (1.0 * len(lines)) END AS ellipsis_frac,
         CASE WHEN len(t) > 0 THEN
           len(list_filter(t, s -> regexp_matches(s, '[A-Za-z]')))
             / (1.0 * len(t)) END AS alpha_frac,
         {stop_hits} AS stop_hits
  FROM base),
flags AS (
  SELECT doc_id,
    CASE WHEN n_words < 50 OR n_words > 100000 THEN 1 ELSE 0 END
        AS word_count,
    CASE WHEN coalesce(mean_wl >= 3 AND mean_wl <= 10, FALSE)
         THEN 0 ELSE 1 END AS mean_word_length,
    CASE WHEN coalesce((n_hash + n_ellipsis) / n_words > 0.1, TRUE)
         THEN 1 ELSE 0 END AS symbol_ratio,
    CASE WHEN coalesce(bullet_frac > 0.9, FALSE) THEN 1 ELSE 0 END
        AS bullet_ratio,
    CASE WHEN coalesce(ellipsis_frac > 0.3, FALSE) THEN 1 ELSE 0 END
        AS ellipsis_ratio,
    CASE WHEN coalesce(alpha_frac >= 0.8, FALSE) THEN 0 ELSE 1 END
        AS alpha_ratio,
    CASE WHEN stop_hits < 2 THEN 1 ELSE 0 END AS stopword_hits
  FROM feat),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(word_count) AS BIGINT) AS word_count,
         CAST(sum(mean_word_length) AS BIGINT) AS mean_word_length,
         CAST(sum(symbol_ratio) AS BIGINT) AS symbol_ratio,
         CAST(sum(bullet_ratio) AS BIGINT) AS bullet_ratio,
         CAST(sum(ellipsis_ratio) AS BIGINT) AS ellipsis_ratio,
         CAST(sum(alpha_ratio) AS BIGINT) AS alpha_ratio,
         CAST(sum(stopword_hits) AS BIGINT) AS stopword_hits,
         CAST(sum(greatest(word_count, mean_word_length, symbol_ratio,
                           bullet_ratio, ellipsis_ratio, alpha_ratio,
                           stopword_hits)) AS BIGINT) AS all_rules
  FROM flags)
{unpivot}
"""


@_register("quality_gopher_rules", _duck_gopher_sql())
def quality_gopher_rules(spark, sf_dir):
    """Rule-level audit of the Gopher quality filters (Rae et al. 2021
    Table A1): per rule, how many documents fail — the calibration
    report read BEFORE enforcing a ruleset on a new corpus (on this
    synthetic non-English-prose corpus the English stopword rule fails
    100% and word_count ~43%: exactly the mis-calibration the table
    exists to expose). One corpus scan, every signal a JVM
    higher-order function, one combinable aggregate row unpivoted to
    8 rule rows (operators/quality.py:gopher_rule_audit)."""
    from .operators.quality import gopher_rule_audit

    return gopher_rule_audit(
        _t(spark, sf_dir, "documents").select("doc_id", "text")
    )


# --- retrieval ranking-quality audit -------------------------------------------


@_register(
    "retrieval_mrr_audit",
    """
WITH topk AS ({bm25_oracle}),
labeled AS (
  SELECT t.query_id, t.doc_id, t.rank,
         CASE WHEN t.doc_id = t.query_id THEN 1 ELSE 0 END AS is_self,
         CASE WHEN dq.source = dr.source THEN 1 ELSE 0 END AS same_source
  FROM topk t
  JOIN documents dq ON t.query_id = dq.doc_id
  JOIN documents dr ON t.doc_id = dr.doc_id),
per_query AS (
  SELECT query_id,
         coalesce(max(CASE WHEN is_self = 1 THEN 1.0 / rank END), 0.0)
             AS self_rr,
         coalesce(max(CASE WHEN same_source = 1 THEN 1.0 / rank END), 0.0)
             AS source_rr,
         max(same_source) AS source_hit
  FROM labeled GROUP BY 1)
SELECT CAST(count(*) AS BIGINT) AS n_queries,
       round(avg(self_rr), 4) AS self_mrr,
       round(avg(source_rr), 4) AS source_mrr,
       round(avg(source_hit), 4) AS source_hit_rate
FROM per_query
""".format(bm25_oracle=ORACLES["retrieval_bm25"]),
)
def retrieval_mrr_audit(spark, sf_dir):
    """Ranking-quality audit of the BM25 retriever: mean reciprocal
    rank of (a) SELF-retrieval — each benchmark query is drawn from a
    known document, so its own document surfacing at rank 1 is the
    built-in relevance label (self_mrr near 1.0 = the retriever works)
    — and (b) SOURCE-match relevance (any same-source hit in the
    top-5), plus the source hit rate. The retrieval-eval table every
    index change is judged by, priced as one aggregate over the
    already-computed top-k frame (the per-query RR fold is
    max(1/rank), map-side combinable). Oracle composes the registered
    BM25 oracle so drift propagates."""
    from .registry_ext3 import retrieval_bm25

    topk = retrieval_bm25(spark, sf_dir)
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    labeled = (
        topk.join(
            docs.select(
                F.col("doc_id").alias("query_id"),
                F.col("source").alias("_qsrc"),
            ),
            on="query_id",
        )
        .join(docs.select("doc_id", F.col("source").alias("_rsrc")), on="doc_id")
        .select(
            "query_id",
            "rank",
            F.when(F.col("doc_id") == F.col("query_id"), 1)
            .otherwise(0)
            .alias("is_self"),
            F.when(F.col("_qsrc") == F.col("_rsrc"), 1)
            .otherwise(0)
            .alias("same_source"),
        )
    )
    per_query = labeled.groupBy("query_id").agg(
        F.coalesce(
            F.max(F.when(F.col("is_self") == 1, 1.0 / F.col("rank"))),
            F.lit(0.0),
        ).alias("self_rr"),
        F.coalesce(
            F.max(F.when(F.col("same_source") == 1, 1.0 / F.col("rank"))),
            F.lit(0.0),
        ).alias("source_rr"),
        F.max("same_source").alias("source_hit"),
    )
    return per_query.agg(
        F.count(F.lit(1)).cast("long").alias("n_queries"),
        F.round(F.avg("self_rr"), 4).alias("self_mrr"),
        F.round(F.avg("source_rr"), 4).alias("source_mrr"),
        F.round(F.avg("source_hit"), 4).alias("source_hit_rate"),
    )


# --- streaming daily HLL distinct users ----------------------------------------


def _duck_stream_hll_sql() -> str:
    from .functions.sketches import _HLL_ALPHA, _HLL_M, _HLL_TAIL_BITS

    t = _HLL_TAIL_BITS
    am2 = _HLL_ALPHA * _HLL_M * _HLL_M
    return f"""
WITH rt AS (
  SELECT date_trunc('day', ts)::DATE AS day,
         ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT AS h
  FROM events WHERE user_id IS NOT NULL),
regs AS (
  SELECT day, h >> {t} AS b,
         max(CASE WHEN (h & {(1 << t) - 1}) = 0 THEN {t + 1}
             ELSE {t + 1} - length(format('{{:b}}', h & {(1 << t) - 1}))
             END) AS m
  FROM rt GROUP BY 1, 2),
folded AS (
  SELECT day, sum(power(2.0, -m)) AS sum_present,
         CAST(count(*) AS BIGINT) AS present
  FROM regs GROUP BY 1),
est AS (
  SELECT day, present,
         {am2!r} / (sum_present + ({_HLL_M} - present)) AS raw,
         {_HLL_M} - present AS zeros
  FROM folded),
fin AS (
  SELECT day, present,
         CASE WHEN raw <= {2.5 * _HLL_M!r} AND zeros > 0
              THEN {float(_HLL_M)!r} * ln({float(_HLL_M)!r} / zeros)
              ELSE raw END AS estimate
  FROM est),
ex AS (
  SELECT date_trunc('day', ts)::DATE AS day,
         CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct
  FROM events GROUP BY 1)
SELECT f.day, present AS n_registers, round(estimate, 4) AS estimate,
       exact_distinct,
       round(abs(round(estimate, 4) - exact_distinct)
             / exact_distinct, 4) AS rel_error
FROM fin f JOIN ex USING (day)
"""


@_register("streaming_hll_daily", _duck_stream_hll_sql())
def streaming_hll_daily(spark, sf_dir):
    """Streaming daily distinct-user estimates from MERGEABLE HLL
    state: the per-(day, bucket) max-rho registers fold micro-batch by
    micro-batch (max is the canonical mergeable aggregate — complete
    mode, AvailableNow), the drained state feeds the SAME estimate
    read-out the batch operator uses (hll_estimate_from_registers —
    shared code, cannot drift), and the oracle recomputes every
    register and the small-range correction bit-for-bit. State per day
    is at most 256 register rows regardless of stream length — the
    approximate-streaming-analytics shape that replaces exact
    count-distinct (whose state grows with cardinality) at 100 TB.
    Exact-count audit columns attached from the batch side."""
    from .functions.sketches import (
        hll_estimate_from_registers,
        hll_register_rows,
    )
    from .registry_ext import _STATE_PARTITIONS, _events_stream
    from .streaming import run_stream_to_memory

    ev = _events_stream(spark, sf_dir).withColumn(
        "day", F.to_date(F.date_trunc("day", F.col("ts")))
    )
    regs = hll_register_rows(ev, "user_id", group_cols=["day"])
    drained = run_stream_to_memory(
        regs, output_mode="complete", state_partitions=_STATE_PARTITIONS
    )
    est = hll_estimate_from_registers(drained, group_cols=["day"])
    exact = (
        _t(spark, sf_dir, "events")
        .withColumn("day", F.to_date(F.date_trunc("day", F.col("ts"))))
        .groupBy("day")
        .agg(F.count_distinct("user_id").alias("exact_distinct"))
    )
    return est.join(exact, on="day").select(
        "day",
        "n_registers",
        "estimate",
        "exact_distinct",
        F.round(
            F.abs(F.col("estimate") - F.col("exact_distinct"))
            / F.col("exact_distinct"),
            4,
        ).alias("rel_error"),
    )


# --- tokenizer fertility audit --------------------------------------------------


@_register(
    "text_bpe_fertility",
    """
WITH enc AS ({bpe_oracle})
SELECT d.lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(enc.n_words) AS BIGINT) AS n_words,
       CAST(sum(enc.n_subwords) AS BIGINT) AS n_subwords,
       round(sum(enc.n_subwords)::DOUBLE / sum(enc.n_words), 6)
           AS fertility
FROM enc JOIN documents d USING (doc_id)
GROUP BY 1
""".format(bpe_oracle=ORACLES["text_bpe_encode"]),
)
def text_bpe_fertility(spark, sf_dir):
    """Tokenizer FERTILITY per language (subwords emitted per word
    under the trained BPE merges) — the standard multilingual
    tokenizer-equity metric: a language with 2x the fertility pays 2x
    the sequence length (and 2x the compute, and half the effective
    context) for the same text, which is exactly what a vocabulary
    rebalance decision needs to see. One per-lang aggregate over the
    already-audited per-doc encode stats; oracle composes the
    registered BPE-encode oracle (which re-derives the merge chain in
    SQL) so tokenizer drift propagates here too."""
    from .operators.bpe import bpe_encode_stats
    from .registry_ext3 import _BPE_MERGES

    docs = _t(spark, sf_dir, "documents")
    enc = bpe_encode_stats(docs, n_merges=_BPE_MERGES)
    return (
        enc.join(docs.select("doc_id", "lang"), on="doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_words").cast("long").alias("n_words"),
            F.sum("n_subwords").cast("long").alias("n_subwords"),
            F.round(
                F.sum("n_subwords") / F.sum("n_words"), 6
            ).alias("fertility"),
        )
    )


# --- epsilon-DP noisy counts ------------------------------------------------------

_DP_EPS = 1.0
_DP_SALT = "r9"


@_register(
    "privacy_dp_counts",
    f"""
WITH c AS (
  SELECT o_orderpriority, count(*) AS n FROM orders GROUP BY 1),
u AS (
  SELECT o_orderpriority, n,
         ((('0x' || substr(md5(coalesce(o_orderpriority::VARCHAR,
                                        chr(0) || 'null')
                               || chr(31) || '{_DP_SALT}'), 1, 15))::BIGINT
           % 1000000) + 0.5) / 1000000.0 AS u
  FROM c)
SELECT o_orderpriority,
       round(n + (-1.0 / {_DP_EPS}) * sign(u - 0.5)
               * ln(1.0 - 2.0 * abs(u - 0.5)), 4) AS noisy_count
FROM u
""",
)
def privacy_dp_counts(spark, sf_dir):
    """Epsilon-DP noisy order counts per priority (Laplace 1/{eps},
    sensitivity-1 count release) with HASH-DETERMINISTIC noise: the
    draw derives from md5(group, salt) via inverse-CDF, so re-runs
    release the SAME value (fresh noise per run is itself a leak —
    averaging cancels it; rotating the salt is the accounted new
    release) and the oracle replays the release bit-for-bit. Completes
    the disclosure-control family: rounding, redaction, suppression,
    k-anonymity, l-diversity, t-closeness, and now a calibrated-noise
    mechanism (operators/privacy.py:dp_noisy_counts).""".format(
        eps=_DP_EPS
    )
    from .operators.privacy import dp_noisy_counts

    return dp_noisy_counts(
        _t(spark, sf_dir, "orders"),
        group_cols=["o_orderpriority"],
        epsilon=_DP_EPS,
        salt=_DP_SALT,
    )


# --- epoch expansion: the mixture plan materialised ----------------------------

_EE_SALT = "r9"


@_register(
    "sample_epoch_expand",
    f"""
WITH plan AS (
  SELECT source, epochs FROM ({{mix_oracle}})),
expanded AS (
  SELECT d.doc_id, d.source,
         CAST(floor(p.epochs) AS INTEGER)
         + CASE WHEN ((('0x' || substr(md5(d.doc_id::VARCHAR
                                          || chr(31) || '{_EE_SALT}'),
                        1, 15))::BIGINT % 10000) + 0.5) / 10000.0
                     < p.epochs - floor(p.epochs)
                THEN 1 ELSE 0 END AS n
  FROM documents d JOIN plan p USING (source))
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n) AS BIGINT) AS n_copies,
       round(sum(n) / (1.0 * count(*)), 4) AS realised_epochs
FROM expanded GROUP BY 1
""".format(mix_oracle=ORACLES["mixture_epoch_plan"]),
)
def sample_epoch_expand(spark, sf_dir):
    """The mixture plan MATERIALISED: each document repeated floor(e)
    times plus a hash-deterministic fractional copy (expected copies =
    the plan's epochs exactly; re-runs reproduce the same expansion —
    the Gumbel-family determinism contract), reported per source as
    realised epochs against the plan. The plan frame broadcasts; the
    expansion is one explode(sequence) — zero shuffles until the
    per-source audit aggregate. Closes the loop from
    mixture_epoch_plan to a loader-ready dataset
    (operators/sampling.py:epoch_expand)."""
    from .functions.text import token_count
    from .operators.sampling import epoch_expand
    from .operators.sampling import mixture_epoch_plan as plan_fn

    docs = _t(spark, sf_dir, "documents")
    plan = plan_fn(
        docs.select("source", token_count(F.col("text")).alias("n_tokens")),
        source_col="source",
        size_col="n_tokens",
        alpha=_MIX_ALPHA,
        budget_multiplier=_MIX_BUDGET_MULT,
    )
    expanded = epoch_expand(
        docs.select("doc_id", "source"),
        plan.select("source", "epochs"),
        salt=_EE_SALT,
    )
    base = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    copies = expanded.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_copies")
    )
    return base.join(copies, on="source").select(
        "source",
        "n_docs",
        "n_copies",
        F.round(F.col("n_copies") / F.col("n_docs"), 4).alias(
            "realised_epochs"
        ),
    )


# --- right-to-be-forgotten delete audit -----------------------------------------


@_register(
    "table_tombstone_delete",
    """
WITH t AS (SELECT o_orderkey FROM orders WHERE o_orderkey % 7 = 0)
SELECT CAST((SELECT count(*) FROM orders) AS BIGINT) AS n_before,
       CAST((SELECT count(*) FROM t) AS BIGINT) AS n_tombstones,
       CAST((SELECT count(*) FROM t) AS BIGINT) AS n_deleted,
       CAST((SELECT count(*) FROM orders WHERE o_orderkey % 7 <> 0)
            AS BIGINT) AS n_after
""",
)
def table_tombstone_delete(spark, sf_dir):
    """Right-to-be-forgotten lifecycle through REAL parquet: save the
    orders table, hard-delete every key %7==0 via tombstone_delete
    (left-anti rewrite + the upsert family's temp-write directory-swap
    protocol, so a reader never sees a half-deleted table), and return
    the 1-row erasure audit the request is closed with. The oracle pins
    all four counts; only a correct anti-join AND a correct swap
    reproduce n_after (sources/tables.py:tombstone_delete)."""
    import os

    from .sources.tables import save_table, tombstone_delete

    base = scratch_path(spark, sf_dir, "tombstone")
    td = {"tbl": {"path": os.path.join(base, "tbl"), "format": "parquet"}}
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    save_table(o, "tbl", table_directory=td)
    tombs = o.filter(F.col("o_orderkey") % 7 == 0).select("o_orderkey")
    return tombstone_delete(tombs, "tbl", "o_orderkey", td)

from . import registry_ext8  # noqa: E402,F401  (round-10 registrations)
