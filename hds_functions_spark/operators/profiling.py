"""Data-profiling operators: per-column statistics and TF-IDF term scoring.

Extension layer (SURVEY.md §7). Curation at 100 TB starts with knowing the
data: null rates, cardinalities, and the terms that characterise each
document. Both operators are single-pass compositions of built-in
aggregates — no UDFs, no driver collects.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.partitioning import ensure_min_partitions
from ..functions.text import tokens, word_ngrams

__all__ = [
    "ngram_novelty",
    "ngram_novelty_incremental",
    "kn_context_gain_scores",
    "profile_columns",
    "profile_version_drift",
    "tf_idf_top_terms",
    "group_quantiles",
    "key_skew_profile",
    "bigram_logprob_scores",
    "kn_trigram_logprob_scores",
    "char_entropy_scores",
    "build_vocabulary",
    "oov_rate",
    "bpe_pair_counts",
    "correlation_matrix",
    "zipf_fit",
]


def profile_columns(
    df: DataFrame,
    columns: list[str] | None = None,
    approx_distinct: bool = False,
) -> DataFrame:
    """Long-format profile: one row per column with row/null/distinct counts
    and min/max (stringified so heterogeneous column types stack).

    Plan shape: one independent branch per column — ``groupBy(col)`` then a
    scalar aggregate over the per-value counts — unioned together. Each
    branch prunes the scan to its single column (columnar formats read
    nothing else) and dedups map-side in the partial hash aggregate, so the
    shuffle carries only distinct values. The obvious alternative, one wide
    aggregate with k ``countDistinct``\\s, plans an Expand that multiplies
    every input row (k+1)x before the shuffle — measured 20x slower on a
    4-column profile.

    ``approx_distinct=True`` replaces the per-column groupBy branches with
    ONE wide ``approx_count_distinct`` (HLL) aggregate — no per-value
    shuffle at all, ~2% cardinality error: the right trade at extreme
    cardinalities (billions of distinct ids) where even a distinct-values
    shuffle is a cost.
    """
    cols = columns or df.columns
    missing = [c for c in cols if c not in df.columns]
    if missing:
        raise ValueError(f"columns not in DataFrame: {missing}")

    if approx_distinct:
        wide = df.select(*cols).agg(
            F.count("*").alias("_n"),
            *[F.count(F.when(F.col(c).isNull(), 1)).alias(f"_nn_{c}")
              for c in cols],
            *[F.approx_count_distinct(c).alias(f"_nd_{c}") for c in cols],
            *[F.min(F.col(c)).cast("string").alias(f"_min_{c}") for c in cols],
            *[F.max(F.col(c)).cast("string").alias(f"_max_{c}") for c in cols],
        )
        out = None
        for c in cols:
            b = wide.select(
                F.lit(c).alias("column_name"),
                F.col("_n").alias("n_rows"),
                F.col(f"_nn_{c}").alias("n_nulls"),
                F.col(f"_nd_{c}").alias("n_distinct"),
                F.col(f"_min_{c}").alias("min_value"),
                F.col(f"_max_{c}").alias("max_value"),
            )
            out = b if out is None else out.unionByName(b)
        return out

    def branch(c: str) -> DataFrame:
        per_val = (
            df.select(c)
            .groupBy(c)
            .agg(F.count("*").alias("_cnt"))
        )
        return per_val.agg(
            F.lit(c).alias("column_name"),
            F.coalesce(F.sum("_cnt"), F.lit(0)).alias("n_rows"),
            F.coalesce(
                F.sum(F.when(F.col(c).isNull(), F.col("_cnt"))), F.lit(0)
            ).alias("n_nulls"),
            F.count(F.when(F.col(c).isNotNull(), 1)).alias("n_distinct"),
            # min/max in the column's NATIVE type, stringified after the
            # aggregate: numeric min, not lexicographic — and the only
            # engine-rendered string is the single final value, not every
            # cell (Spark's and DuckDB's double->string renderings differ
            # on intermediate values, e.g. scientific notation >= 1e7).
            F.min(F.col(c)).cast("string").alias("min_value"),
            F.max(F.col(c)).cast("string").alias("max_value"),
        )

    out = branch(cols[0])
    for c in cols[1:]:
        out = out.unionByName(branch(c))
    return out


def tf_idf_top_terms(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    round_digits: int = 6,
) -> DataFrame:
    """Top-``k`` characteristic terms per document by smoothed TF-IDF.

    tf = term count within the doc; idf = ln((N + 1) / (df + 1)) + 1
    (sklearn's smoothed variant — never zero or negative, published
    formula). Ties broken by term ascending for determinism. Output:
    (id, term, tf, score) — ``score`` rounded for cross-engine parity.

    Plan shape: explode tokens -> two hash aggregations (per-doc-term tf,
    per-term df) -> broadcast the corpus size (a literal via scalar agg is
    avoided; N comes from countDistinct over the exploded frame's source)
    -> window top-k per doc. The df table is doc-frequency keyed by term —
    orders of magnitude smaller than the corpus — and joins the tf table on
    term (broadcast when it fits, AQE decides).
    """
    toks = df.select(
        F.col(id_col), F.explode(tokens(F.lower(F.col(text_col)))).alias("term")
    )
    tf = toks.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    doc_freq = toks.groupBy("term").agg(
        F.countDistinct(id_col).alias("df")
    )
    n_docs = df.select(id_col).distinct().count()  # scalar; one tiny job
    idf = doc_freq.withColumn(
        "idf", F.log((F.lit(float(n_docs + 1))) / (F.col("df") + 1)) + F.lit(1.0)
    )
    scored = tf.join(idf, on="term").withColumn(
        "score", F.round(F.col("tf") * F.col("idf"), round_digits)
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("score").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .select(id_col, "term", "tf", "score")
    )


def group_quantiles(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    quantiles: list[float] = (0.25, 0.5, 0.75, 0.95),
    round_digits: int = 6,
) -> DataFrame:
    """Exact linear-interpolation quantiles (type-7, the R/NumPy/DuckDB
    ``quantile_cont`` default) of ``value_col`` per group, plus the group
    count — the per-language length thresholds a curation pipeline filters
    against.

    Uses Spark's exact ``percentile`` aggregate (sort-based within each
    group's partial), not ``percentile_approx``: curation thresholds become
    filter boundaries, so 2% sketch error moves real documents. Swap to
    ``percentile_approx`` only when group cardinalities make exact sorting
    prohibitive.
    """
    qs = list(quantiles)
    aggs = [
        F.round(
            F.percentile(F.col(value_col), F.lit(q)), round_digits
        ).alias(f"p{int(q * 100):02d}")
        for q in qs
    ]
    return df.groupBy(*group_cols).agg(
        F.count("*").alias("n_rows"), *aggs
    )


def key_skew_profile(
    df: DataFrame,
    key_cols: list[str],
    top_n: int = 10,
    round_digits: int = 6,
) -> DataFrame:
    """Heavy-hitter profile of a join/aggregation key: the ``top_n`` most
    frequent key values with their share of all rows, plus corpus-level
    context (total rows, distinct keys, a uniform key's expected share).

    This is the diagnosis step before choosing a skew mitigation
    (salting / AQE skew-join / broadcast): a key whose ``share`` is orders
    of magnitude above ``uniform_share`` serialises its whole group onto
    one task in any co-partitioned plan.

    Plan shape: one ``groupBy(key)`` count (map-side partial combine, the
    shuffle carries distinct keys only) -> tiny scalar aggregate over the
    per-key counts -> WindowGroupLimit top-``top_n`` -> 1-row broadcast
    crossJoin re-attach of the totals. Nothing corpus-sized moves after
    the first aggregation; null keys count as a key (they hash-collide
    onto one task in a real join — the exact pathology worth surfacing).
    """
    if not key_cols:
        raise ValueError("key_cols must name at least one column")
    per_key = df.groupBy(*key_cols).agg(F.count("*").alias("key_rows"))
    totals = per_key.agg(
        F.coalesce(F.sum("key_rows"), F.lit(0)).alias("total_rows"),
        F.count("*").alias("n_keys"),
    )
    w = Window.orderBy(F.col("key_rows").desc(), *[F.col(c).asc() for c in key_cols])
    top = per_key.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= top_n
    )
    return (
        top.crossJoin(F.broadcast(totals))
        .select(
            "rank",
            *key_cols,
            "key_rows",
            "total_rows",
            "n_keys",
            F.round(F.col("key_rows") / F.col("total_rows"), round_digits).alias(
                "share"
            ),
            F.round(F.lit(1.0) / F.col("n_keys"), round_digits).alias(
                "uniform_share"
            ),
        )
    )


def bigram_logprob_scores(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    round_digits: int = 4,
) -> DataFrame:
    """Per-document average bigram log-likelihood under the corpus's own
    MLE bigram model — the CCNet/Gopher-style LM quality signal: documents
    whose token transitions are unusual for the corpus (boilerplate,
    gibberish, wrong-language) score low and become filter candidates.

    ``P(w2|w1) = c(w1,w2) / c(w1·)`` with counts over all corpus bigrams
    (``c(w1·)`` = bigrams whose context is ``w1``, the consistent MLE
    denominator — every observed bigram has P > 0, no smoothing needed).
    Output: (id, n_bigrams, avg_logprob) for documents with >= 2 tokens.

    Plan shape: one explode of adjacent token pairs -> two hash aggregates
    (bigram counts, context counts — both vocabulary-bounded, far smaller
    than the corpus) -> equi-joins back on the gram keys (1 stats row per
    bigram: no fanout, hot bigrams are probe traffic, not row explosion)
    -> per-doc aggregate. All shuffles are keyed on grams or the doc id;
    nothing corpus-sized is broadcast.
    """
    toks = df.select(
        F.col(id_col), tokens(F.col(text_col)).alias("_t")
    ).filter(F.size("_t") >= 2)
    bigrams = toks.select(
        id_col,
        F.explode(
            F.expr(
                "transform(sequence(0, size(_t) - 2), "
                "i -> struct(_t[i] AS w1, _t[i + 1] AS w2))"
            )
        ).alias("_bg"),
    ).select(id_col, F.col("_bg.w1").alias("w1"), F.col("_bg.w2").alias("w2"))
    bigram_counts = bigrams.groupBy("w1", "w2").agg(F.count("*").alias("_c2"))
    context_counts = bigrams.groupBy("w1").agg(F.count("*").alias("_c1"))
    scored = (
        bigrams.join(bigram_counts, on=["w1", "w2"])
        .join(context_counts, on="w1")
        .withColumn("_lp", F.log(F.col("_c2") / F.col("_c1")))
    )
    return scored.groupBy(id_col).agg(
        F.count("*").alias("n_bigrams"),
        F.round(F.avg("_lp"), round_digits).alias("avg_logprob"),
    )


def char_entropy_scores(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    round_digits: int = 4,
) -> DataFrame:
    """Per-document Shannon entropy (nats) of the character distribution —
    a quality signal orthogonal to repetition stats: near-zero entropy is
    degenerate padding ("aaaa..."), unusually high entropy is
    random-looking junk (base64 blobs, minified/encrypted payloads);
    natural text sits in a stable mid band per language.

    ``H = -sum_c p_c ln p_c`` with ``p_c`` the within-document character
    frequency. Output: (id, n_chars, entropy) for non-empty documents.

    Plan shape: ZERO-shuffle narrow projection (round 5 — the original
    explode -> (doc, char) -> doc double-shuffle moved |text| records per
    doc through the first exchange; at corpus scale that exchange IS the
    job). Per-row higher-order functions compute the count vector
    JVM-side: sort the char array, find run boundaries, difference them
    into run lengths, then fold ``c * ln c`` — O(n log n) per document,
    alphabet-independent, whole-stage-codegen eligible, and nothing
    shuffles at any scale.
    """
    n = F.size(F.col("_cs"))
    bounded = (
        df.filter(F.length(F.col(text_col)) > 0)
        .withColumn("_cs", F.array_sort(F.split(F.col(text_col), "")))
        .withColumn(
            "_bnd",
            F.concat(
                F.expr("filter(sequence(0, size(_cs) - 1), "
                       "i -> i = 0 OR _cs[i] != _cs[i - 1])"),
                F.array(n),
            ),
        )
        .withColumn(
            "_clogc",
            F.expr(
                "aggregate(transform(sequence(0, size(_bnd) - 2), "
                "j -> _bnd[j + 1] - _bnd[j]), "
                "cast(0 as double), (acc, c) -> acc + c * ln(c))"
            ),
        )
    )
    return bounded.select(
        id_col,
        n.cast("long").alias("n_chars"),
        F.round(
            F.log(n.cast("double")) - F.col("_clogc") / n,
            round_digits,
        ).alias("entropy"),
    )


def build_vocabulary(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 2,
    lowercase: bool = True,
) -> DataFrame:
    """Corpus vocabulary with frequency-ranked ids: every token occurring
    at least ``min_count`` times, as ``(token, count, vocab_id)`` with
    ``vocab_id`` = 0-based dense rank by (count desc, token asc) — the
    id assignment convention tokenizer training and embedding-table
    construction expect (frequent tokens get small ids).

    Plan shape: token explode -> token-keyed count (map-side combine; the
    shuffle carries distinct tokens) -> ``min_count`` filter -> global
    ordering via :func:`~hds_functions_spark.operators.ids.assign_dense_ids`
    (range-partition + per-partition offsets — a data-parallel total
    order, NOT a one-partition ``row_number`` window, so a 100M-token
    vocabulary ranks without serialising onto one task).
    """
    if min_count < 1:
        raise ValueError(f"min_count must be >= 1 (got {min_count})")
    from ..functions.text import tokens as _tokens
    from .ids import assign_dense_ids

    tok = F.explode(_tokens(F.col(text_col))).alias("token")
    counts = (
        df.select(tok)
        .select(F.lower(F.col("token")).alias("token") if lowercase
                else F.col("token"))
        .groupBy("token")
        .agg(F.count("*").alias("count"))
        .filter(F.col("count") >= min_count)
    )
    return assign_dense_ids(
        counts,
        order_by=[F.col("count").desc(), F.col("token").asc()],
        id_col="vocab_id",
    )


def oov_rate(
    docs: DataFrame,
    vocab: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    vocab_token_col: str = "token",
    lowercase: bool = True,
    round_digits: int = 6,
    broadcast_vocab: bool = True,
) -> DataFrame:
    """Per-document out-of-vocabulary rate against a vocabulary table —
    the tokenizer-coverage check run before committing a vocab: how much
    of each document would map to <unk>.

    Output: ``(id_col, n_tokens, n_oov, oov_rate)``; empty documents get
    ``n_tokens = 0`` and a NULL rate. Plan shape: token explode (outer,
    so empty docs survive) -> **broadcast** left join against the vocab
    (a vocabulary is bounded by distinct-token count, small relative to
    the corpus — never shuffle the corpus to meet it) -> one map-side-
    combinable groupBy back to documents. The exchange carries only
    (doc_id, two ints).

    ``broadcast_vocab=False`` drops the hint for vocabularies too large
    to ship to every executor (100M+ entries): the join then shuffles
    the exploded corpus on the token key — correct, one extra exchange
    — and the planner may still choose broadcast from real stats.
    """
    from ..functions.text import tokens as _tokens

    tok = F.explode_outer(_tokens(F.col(text_col))).alias("_tok")
    exploded = docs.select(F.col(id_col), tok)
    if lowercase:
        exploded = exploded.withColumn("_tok", F.lower(F.col("_tok")))
    vocab_side = vocab.select(F.col(vocab_token_col).alias("_tok")).withColumn(
        "_in_vocab", F.lit(1)
    )
    if broadcast_vocab:
        vocab_side = F.broadcast(vocab_side)
    hits = exploded.join(vocab_side, on="_tok", how="left")
    return hits.groupBy(id_col).agg(
        F.count("_tok").alias("n_tokens"),
        F.count(F.when(F.col("_tok").isNotNull()
                       & F.col("_in_vocab").isNull(), 1)).alias("n_oov"),
        F.when(
            F.count("_tok") > 0,
            F.round(
                F.count(F.when(F.col("_tok").isNotNull()
                               & F.col("_in_vocab").isNull(), 1))
                / F.count("_tok"),
                round_digits,
            ),
        ).alias("oov_rate"),
    )


def bpe_pair_counts(
    df: DataFrame,
    text_col: str = "text",
    top_n: int = 50,
) -> DataFrame:
    """One BPE merge step, distributed: count adjacent character pairs
    inside lowercased whitespace tokens across the corpus and return the
    ``top_n`` most frequent — the statistic a byte-pair-encoding
    tokenizer trainer computes per merge round (iterate externally,
    applying merges between rounds).

    Plan shape: pairs are generated JVM-side with sequence/substr HOFs
    (no UDF), the count is map-side combinable (the exchange carries
    distinct pairs, bounded by |alphabet|^2), and the global top-n goes
    through the rank-then-filter path Catalyst rewrites to
    WindowGroupLimit — never a single-partition sort of the pair table.
    """
    from ..functions.text import tokens as _tokens
    from .topk import select_top_rows

    t = F.col("_tok")
    pair_idx = F.when(
        F.length(t) >= 2, F.sequence(F.lit(1), F.length(t) - 1)
    ).otherwise(F.array().cast("array<int>"))
    pairs = (
        df.select(F.explode(_tokens(F.col(text_col))).alias("_tok"))
        .select(F.lower(t).alias("_tok"))
        .select(
            F.explode(
                F.transform(pair_idx, lambda i: t.substr(i, F.lit(2)))
            ).alias("pair")
        )
        .groupBy("pair")
        .agg(F.count(F.lit(1)).alias("count"))
    )
    return select_top_rows(
        pairs,
        method="row_number",
        n=top_n,
        partition_by=None,
        order_by=[F.col("count").desc(), F.col("pair").asc()],
    )


def correlation_matrix(
    df: DataFrame,
    columns: list[str],
    round_digits: int = 6,
) -> DataFrame:
    """Pairwise Pearson correlations of numeric columns, long format
    ``(col_a, col_b, corr)`` with col_a < col_b — the colinearity screen
    run before feature selection / leakage hunts.

    ONE aggregate computes all k*(k-1)/2 coefficients (each an
    order-insensitive co-moment aggregate, map-side combinable); the
    wide single row is then melted with a constant-size Expand. Nothing
    data-proportional leaves the aggregate.
    """
    if len(columns) < 2:
        raise ValueError("need at least 2 columns")
    pairs = [
        (a, b)
        for i, a in enumerate(columns)
        for b in columns[i + 1:]
    ]
    wide = df.agg(
        *[
            F.round(F.corr(a, b), round_digits).alias(f"{a}|{b}")
            for a, b in pairs
        ]
    )
    stack_args = ", ".join(
        f"'{a}', '{b}', `{a}|{b}`" for a, b in pairs
    )
    return wide.select(
        F.expr(
            f"stack({len(pairs)}, {stack_args}) AS (col_a, col_b, corr)"
        )
    )


def zipf_fit(
    vocab: DataFrame,
    count_col: str = "count",
    rank_col: str = "vocab_id",
    round_digits: int = 6,
) -> DataFrame:
    """Zipf's-law fit over a frequency-ranked vocabulary: ordinary
    least squares of ``ln(count)`` on ``ln(rank)`` (rank = vocab_id + 1).
    Natural text sits near slope -1; a corpus whose slope drifts far
    from that is template-heavy (too flat) or boilerplate-dominated
    (too steep) — a one-row corpus-health audit.

    ONE regression aggregate (built-in ``regr_slope``/``regr_intercept``
    co-moments, map-side combinable) over the vocabulary table.
    """
    x = F.log(F.col(rank_col).cast("double") + 1.0)
    y = F.log(F.col(count_col).cast("double"))
    return vocab.agg(
        F.round(F.regr_slope(y, x), round_digits).alias("zipf_slope"),
        F.round(F.regr_intercept(y, x), round_digits).alias("zipf_intercept"),
        F.count(F.lit(1)).alias("n_vocab"),
    )


def _kn_scored_trigrams(
    train_docs: DataFrame,
    score_docs: DataFrame,
    id_col: str,
    text_col: str,
    discount: float,
) -> tuple[DataFrame, Column, Column]:
    """The interpolated Kneser-Ney chain shared by
    :func:`kn_trigram_logprob_scores` and :func:`kn_context_gain_scores`:
    the ``(doc_id, u, v, w)`` trigrams of ``score_docs`` joined to the
    five stat tables fitted on ``train_docs``, plus the bigram ``p2``
    and trigram ``p3`` probability Columns over that frame. ``_n1`` is
    null exactly when ``w`` is OOV (never seen as a continuation)."""
    if not 0 < discount < 1:
        raise ValueError(f"discount must be in (0, 1) (got {discount})")
    D = float(discount)

    def trigrams(docs: DataFrame) -> DataFrame:
        toks = docs.select(
            F.col(id_col).alias("doc_id"), tokens(F.col(text_col)).alias("_t")
        ).filter(F.size("_t") >= 3)
        return toks.select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(_t) - 3), "
                    "i -> struct(_t[i] AS u, _t[i + 1] AS v, _t[i + 2] AS w))"
                )
            ).alias("_tg"),
        ).select(
            "doc_id",
            F.col("_tg.u").alias("u"),
            F.col("_tg.v").alias("v"),
            F.col("_tg.w").alias("w"),
        )

    tri = trigrams(train_docs)
    c3 = tri.groupBy("u", "v", "w").agg(F.count("*").alias("_c3"))
    ctx3 = c3.groupBy("u", "v").agg(
        F.sum("_c3").alias("_c3ctx"), F.count("*").alias("_t3")
    )
    n2 = c3.groupBy("v", "w").agg(F.count("*").alias("_n2"))
    ctx2 = n2.groupBy("v").agg(
        F.sum("_n2").alias("_ctx2"), F.count("*").alias("_t2")
    )
    n1 = n2.groupBy("w").agg(F.count("*").alias("_n1"))
    total1 = n1.agg(F.sum("_n1").alias("_tot1"))

    scored = (
        trigrams(score_docs)
        .join(c3, on=["u", "v", "w"], how="left")
        .join(ctx3, on=["u", "v"], how="left")
        .join(n2, on=["v", "w"], how="left")
        .join(ctx2, on="v", how="left")
        .join(n1, on="w", how="left")
        .crossJoin(F.broadcast(total1))
    )
    p1 = F.col("_n1") / F.col("_tot1")
    p2 = F.when(
        F.col("_ctx2").isNotNull(),
        F.greatest(F.coalesce(F.col("_n2"), F.lit(0)) - D, F.lit(0.0))
        / F.col("_ctx2")
        + D * F.col("_t2") / F.col("_ctx2") * p1,
    ).otherwise(p1)
    p3 = F.when(
        F.col("_c3ctx").isNotNull(),
        F.greatest(F.coalesce(F.col("_c3"), F.lit(0)) - D, F.lit(0.0))
        / F.col("_c3ctx")
        + D * F.col("_t3") / F.col("_c3ctx") * p2,
    ).otherwise(p2)
    return scored, p2, p3


def kn_trigram_logprob_scores(
    train_docs: DataFrame,
    score_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    discount: float = 0.75,
    round_digits: int = 4,
) -> DataFrame:
    """Per-document average trigram log-likelihood under an interpolated
    Kneser-Ney model (Chen & Goodman 1999, the smoothing inside
    KenLM-style perplexity filters a la CCNet) fitted on ``train_docs``
    — the principled upgrade of :func:`bigram_logprob_scores`: instead
    of unsmoothed MLE over the scored corpus itself, a held-out-trained
    model with absolute discounting and CONTINUATION-count backoff, so
    "francisco" (frequent but only ever after "san") stops looking like
    a plausible continuation everywhere.

    The exact chain, per scored trigram (u, v, w):

    - ``p1(w) = N1+(..w) / N1+(...)`` — unigram CONTINUATION probability
      (how many distinct bigram types end in w), never raw frequency;
    - ``p2(w|v) = max(N1+(.vw) - D, 0)/N1+(.v.) + D*T2(v)/N1+(.v.) * p1(w)``
      with ``T2(v)`` the distinct continuations of v;
    - ``p3(w|uv) = max(c(uvw) - D, 0)/c(uv.) + D*T3(uv)/c(uv.) * p2(w|v)``
      with ``c(uv.) = sum_w c(uvw)`` and ``T3(uv)`` distinct w after uv.

    Score-time novelty degrades gracefully and deterministically:
    an unseen trigram context (u, v) backs off to ``p2``; an unseen
    bigram context v backs off to ``p1``; a w never seen as a
    continuation is OOV — it cannot receive KN mass — so its trigrams
    are excluded and reported via ``n_scored``/``coverage`` instead of
    poisoning the average (the oracle replicates the exclusion
    exactly). Output: ``(doc_id, n_trigrams, n_scored, coverage,
    avg_logprob)`` for score docs with >= 1 scoreable trigram.

    Plan shape (the bigram_logprob_scores shape, one level deeper): one
    trigram explode per side; FIVE stat tables (c3, (c3ctx, T3), n2,
    (ctx2, T2), n1) — all gram-keyed hash aggregates, all
    vocabulary-bounded, far smaller than the corpus; equi-joins back on
    the gram keys with no fanout (one stats row per key — hot grams are
    probe traffic, not row explosion); one per-doc aggregate. The n1
    total rides a 1-row broadcast crossJoin. Nothing corpus-sized is
    broadcast or collected.
    """
    scored, _, p3 = _kn_scored_trigrams(
        train_docs, score_docs, id_col, text_col, discount
    )
    lp = F.when(F.col("_n1").isNotNull(), F.log(p3))  # OOV w -> null, excluded
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_trigrams"),
            F.count(lp).alias("n_scored"),
            F.round(F.count(lp) / F.count("*"), round_digits).alias("coverage"),
            F.round(F.avg(lp), round_digits).alias("avg_logprob"),
        )
        .filter(F.col("n_scored") >= 1)
    )


def ngram_novelty(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 5,
    round_digits: int = 6,
) -> DataFrame:
    """Per-document n-gram NOVELTY against everything ingested before
    it: the fraction of the document's distinct word ``ngram``-shingles
    whose FIRST occurrence (minimum ``id_col`` over the corpus, ids
    standing in for ingest order) is this document. The
    diminishing-returns curve every corpus-growth decision reads — a
    near-zero novelty tail means new data is re-crawling what the
    corpus already holds (the signal behind dedup-aware crawl
    scheduling and data-constrained scaling analyses).

    Output: ``(doc_id, n_grams, n_novel, novelty)`` for every input
    document; gramless docs (shorter than ``ngram`` tokens) carry
    ``(0, 0, 0.0)``.

    Plan shape: one distinct-(doc, gram) explode, one
    map-side-combinable ``min(doc_id)`` per gram, one join back on
    gram, one per-doc count — every stage linear in corpus grams,
    nothing quadratic, no driver state. At 100 TB the gram frame is the
    only heavy exchange (~n tokens per doc); it shuffles on the gram
    key, which is naturally high-cardinality and unskewed (boilerplate
    mega-grams cap at corpus doc count, and the min-combine collapses
    them map-side before the exchange).
    """
    if ngram < 1:
        raise ValueError(f"ngram must be >= 1 (got {ngram})")
    # widen thin inputs: the tokenise+shingle explode is the expensive
    # part and the gram frame is consumed TWICE (min-combine + join
    # back), so on a single-split input it ran serially — twice — on one
    # core (measured: two back-to-back 1-task 1.3-1.4 s stages at
    # sf0.1). Both consumers hang off the same exchange (ReusedExchange),
    # so the explode also computes once.
    docs = ensure_min_partitions(docs)
    toks = F.transform(tokens(F.col(text_col)), lambda t: F.lower(t))
    grams = (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.explode(F.array_distinct(word_ngrams(toks, ngram))).alias(
                "gram"
            ),
        )
    )
    first = grams.groupBy("gram").agg(F.min("doc_id").alias("first_doc"))
    per_doc = (
        grams.join(first, on="gram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
            ).cast("long").alias("n_novel"),
        )
    )
    return (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(per_doc, on="doc_id", how="left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_grams"), F.lit(0)).alias("n_grams"),
            F.coalesce(F.col("n_novel"), F.lit(0)).alias("n_novel"),
            F.round(
                F.coalesce(F.col("n_novel") / F.col("n_grams"), F.lit(0.0)),
                round_digits,
            ).alias("novelty"),
        )
    )


def kn_context_gain_scores(
    train_docs: DataFrame,
    score_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    discount: float = 0.75,
    round_digits: int = 4,
) -> DataFrame:
    """Per-document CONTEXT GAIN under the interpolated Kneser-Ney
    chain: the difference between the trigram-model and bigram-model
    average log-likelihood of the same positions — the
    perplexity-contrast selection signal (the RHO-loss / DeepSeekMath
    family: score data by how much a bigger model likes it RELATIVE to
    a smaller one, which cancels surface factors like rare vocabulary
    that depress both models equally).

    Both scores come from ONE scoring pass: the KN chain of
    :func:`kn_trigram_logprob_scores` already computes the bigram level
    ``p2(w|v)`` as the backoff inside ``p3(w|uv)``, so this operator
    logs both and diffs the per-doc averages — same five
    vocabulary-bounded stat tables, same gram-keyed equi-joins, zero
    extra shuffles versus scoring the trigram model alone. Positions
    whose ``w`` is OOV are excluded from BOTH averages (identical
    denominators, so the diff is a true paired contrast).

    Output: ``(doc_id, n_scored, avg_lp3, avg_lp2, context_gain)`` for
    score docs with >= 1 scoreable trigram; ``context_gain =
    avg_lp3 - avg_lp2`` (rounded last, computed from the unrounded
    averages). High gain = trigram context strongly predicts the doc
    (natural, well-formed text); near-zero gain = context-free noise.
    """
    scored, p2, p3 = _kn_scored_trigrams(
        train_docs, score_docs, id_col, text_col, discount
    )
    seen = F.col("_n1").isNotNull()
    lp3 = F.when(seen, F.log(p3))
    lp2 = F.when(seen, F.log(p2))
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(lp3).alias("n_scored"),
            F.round(F.avg(lp3), round_digits).alias("avg_lp3"),
            F.round(F.avg(lp2), round_digits).alias("avg_lp2"),
            F.round(F.avg(lp3) - F.avg(lp2), round_digits).alias(
                "context_gain"
            ),
        )
        .filter(F.col("n_scored") >= 1)
    )


def ngram_novelty_incremental(
    batch_docs: DataFrame,
    corpus_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 5,
    round_digits: int = 6,
) -> DataFrame:
    """:func:`ngram_novelty` for a NEW BATCH against an existing corpus
    — the continuous-ingest mode (the design move shared with
    ``winnowing_overlap_incremental`` / ``exact_substring_spans_
    incremental``): a batch document's shingle is novel iff it occurs
    in NO corpus document and this is the first batch document (minimum
    ``id_col`` within the batch) carrying it. When every corpus id
    precedes every batch id this equals the full build restricted to
    batch docs (the property suite pins that slice identity); under
    interleaved ids it is the production semantic — "new versus
    everything already ingested plus earlier batch arrivals".

    Corpus-side cost is ONE scan projected to distinct grams — the
    corpus is never aggregated per document and never re-scored, so
    ingest cost stays proportional to the batch plus one corpus read
    (at 100 TB: maintain the corpus gram set as a bucketed artifact
    keyed on the gram and the anti-join is shuffle-free on the corpus
    side). Output: ``(doc_id, n_grams, n_novel, novelty)`` for every
    batch document, gramless docs as ``(0, 0, 0.0)``.
    """
    if ngram < 1:
        raise ValueError(f"ngram must be >= 1 (got {ngram})")
    # same single-split hazard as ngram_novelty: the batch gram frame
    # is consumed twice (first-in-batch combine + join back) and the
    # corpus side pays its one distinct-gram scan — widen both so the
    # explodes parallelise
    batch_docs = ensure_min_partitions(batch_docs)
    corpus_docs = ensure_min_partitions(corpus_docs)

    def grams(docs):
        toks = F.transform(tokens(F.col(text_col)), lambda t: F.lower(t))
        return docs.select(
            F.col(id_col).alias("doc_id"),
            F.explode(F.array_distinct(word_ngrams(toks, ngram))).alias(
                "gram"
            ),
        )

    bg = grams(batch_docs)
    corpus_grams = grams(corpus_docs).select("gram").distinct()
    first_in_batch = bg.groupBy("gram").agg(
        F.min("doc_id").alias("first_doc")
    )
    flagged = (
        bg.join(first_in_batch, on="gram")
        .join(corpus_grams.withColumn("_hit", F.lit(1)), on="gram", how="left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(
                F.when(
                    F.col("_hit").isNull()
                    & (F.col("first_doc") == F.col("doc_id")),
                    1,
                ).otherwise(0)
            ).cast("long").alias("n_novel"),
        )
    )
    return (
        batch_docs.select(F.col(id_col).alias("doc_id"))
        .join(flagged, on="doc_id", how="left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_grams"), F.lit(0)).alias("n_grams"),
            F.coalesce(F.col("n_novel"), F.lit(0)).alias("n_novel"),
            F.round(
                F.coalesce(F.col("n_novel") / F.col("n_grams"), F.lit(0.0)),
                round_digits,
            ).alias("novelty"),
        )
    )


def profile_version_drift(
    df_a: DataFrame,
    df_b: DataFrame,
    columns: list[str],
    round_digits: int = 6,
) -> DataFrame:
    """Column-level drift between two versions of the same table — the
    data-quality monitor every versioned/archived dataset needs beside
    the row-level ``diff_versions``: per column, row and null-fraction
    movement, distinct-cardinality ratio, and whether the value RANGE
    (min/max) moved. A jump in null fraction or a range edge shifting is
    how upstream schema accidents (a renamed source field, a unit
    change, a truncated load) surface before they poison a pipeline.

    Composes two :func:`profile_columns` passes (each column a
    scan-pruned branch that dedups map-side) joined on the column name
    — the joined sides are len(columns) rows, so everything after the
    profiles is free. Output per column: ``(column_name, n_rows_a,
    n_rows_b, null_frac_a, null_frac_b, null_frac_delta, n_distinct_a,
    n_distinct_b, distinct_ratio, min_changed, max_changed)``; ratios
    NULL when the denominator side is empty. At 100 TB run the
    profiles with ``approx_distinct`` semantics by profiling upstream
    (the exact per-column distinct shuffle is the only corpus-scale
    term; HLL replaces it at ~2% error) — the drift arithmetic is
    version-count-sized either way.
    """
    a = profile_columns(df_a, columns)
    b = profile_columns(df_b, columns)
    ra = a.select(
        "column_name",
        F.col("n_rows").alias("n_rows_a"),
        F.col("n_nulls").alias("_nulls_a"),
        F.col("n_distinct").alias("n_distinct_a"),
        F.col("min_value").alias("_min_a"),
        F.col("max_value").alias("_max_a"),
    )
    rb = b.select(
        "column_name",
        F.col("n_rows").alias("n_rows_b"),
        F.col("n_nulls").alias("_nulls_b"),
        F.col("n_distinct").alias("n_distinct_b"),
        F.col("min_value").alias("_min_b"),
        F.col("max_value").alias("_max_b"),
    )
    nf_a = F.when(
        F.col("n_rows_a") > 0, F.col("_nulls_a") / F.col("n_rows_a")
    )
    nf_b = F.when(
        F.col("n_rows_b") > 0, F.col("_nulls_b") / F.col("n_rows_b")
    )
    return ra.join(rb, on="column_name").select(
        "column_name",
        "n_rows_a",
        "n_rows_b",
        F.round(nf_a, round_digits).alias("null_frac_a"),
        F.round(nf_b, round_digits).alias("null_frac_b"),
        F.round(nf_b - nf_a, round_digits).alias("null_frac_delta"),
        "n_distinct_a",
        "n_distinct_b",
        F.round(
            F.when(
                F.col("n_distinct_a") > 0,
                F.col("n_distinct_b") / F.col("n_distinct_a"),
            ),
            round_digits,
        ).alias("distinct_ratio"),
        (~F.col("_min_a").eqNullSafe(F.col("_min_b"))).alias("min_changed"),
        (~F.col("_max_a").eqNullSafe(F.col("_max_b"))).alias("max_changed"),
    )
