"""Extension-layer query registry, part 2 (round-5 additions).

Same contract as ``registry_ext.py``: every query has a DuckDB oracle
generated from the SAME constants so both sides compute identical values
by construction. Oracles that build on an already-registered query's
semantics embed that query's oracle SQL as a subquery, keeping the two
registries in lockstep automatically.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .caching import scratch_path, shared_artifact
from .registry import ORACLES, QUERIES, _register, _t  # noqa: F401

# Direct `import hds_functions_spark.registry_extN` must see every
# upstream ORACLES/QUERIES entry this module reads at import time:
# pull the chain head, which registers all earlier ext modules before
# this body continues. Via the normal chain import this resolves to
# the already-in-progress module in sys.modules (PEP 328 circular
# import), a no-op.
from . import registry_ext  # noqa: E402,F401

# --- distributed k-means over embeddings ---------------------------------

#: k-means constants shared by the Spark operator call and the oracle.
_KM_K = 10
_KM_ITER = 2
_KM_DIM = 64
_KM_RD = 4  # centroid/means rounding digits (see clustering.py docstring)


def _duck_kmeans_cte() -> str:
    """Unrolled Lloyd iterations as DuckDB CTEs, mirroring
    :mod:`~hds_functions_spark.operators.clustering` exactly: init = the
    k vec_ids with the smallest multiplicative hash (same int64
    arithmetic as ``clustering.init_seed_key``, so the selected seed set
    is identical; centroid INDEX order is by vec_id on both sides); each
    assignment computes the squared-L2 distance as the SAME
    left-associative 64-term chain the Spark side spells, so IEEE
    results are bit-identical; per-iteration means are rounded to
    ``_KM_RD`` digits on both sides before re-use, making every later
    iteration independent of partial-aggregation order."""
    from .operators.clustering import (
        INIT_HASH_MOD, INIT_HASH_MULT, INIT_HASH_PRIME,
    )

    d = _KM_DIM
    seed_key = (
        f"((vec_id % {INIT_HASH_PRIME}) * {INIT_HASH_MULT})"
        f" % {INIT_HASH_MOD}"
    )
    dist = " + ".join(
        f"(e.embedding[{i}]::DOUBLE - c.c[{i}]) * "
        f"(e.embedding[{i}]::DOUBLE - c.c[{i}])"
        for i in range(1, d + 1)
    )
    means = ", ".join(
        f"round(sum(e.embedding[{i}]::DOUBLE) / count(*), {_KM_RD}) AS s{i}"
        for i in range(1, d + 1)
    )
    listv = ", ".join(f"m.s{i}" for i in range(1, d + 1))
    parts = [
        f"""
init AS (
  SELECT vec_id, embedding FROM embeddings
  ORDER BY {seed_key}, vec_id LIMIT {_KM_K}
),
c0 AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cluster,
         list_transform(embedding, x -> x::DOUBLE) AS c
  FROM init
)"""
    ]
    prev = "c0"
    # _KM_ITER mean-updates, then one final assignment with the result.
    for it in range(1, _KM_ITER + 2):
        parts.append(
            f""",
a{it} AS (
  SELECT e.vec_id, c.cluster, {dist} AS dist
  FROM embeddings e CROSS JOIN {prev} c
),
asn{it} AS (
  SELECT vec_id, cluster, dist FROM (
    SELECT vec_id, cluster, dist,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY dist, cluster) AS rn
    FROM a{it}
  ) WHERE rn = 1
)"""
        )
        if it <= _KM_ITER:
            parts.append(
                f""",
m{it} AS (
  SELECT a.cluster, {means}
  FROM asn{it} a JOIN embeddings e USING (vec_id) GROUP BY a.cluster
),
c{it} AS (
  SELECT p.cluster,
         CASE WHEN m.cluster IS NULL THEN p.c ELSE [{listv}] END AS c
  FROM {prev} p LEFT JOIN m{it} m ON p.cluster = m.cluster
)"""
            )
            prev = f"c{it}"
    return "WITH " + "".join(parts)


_KM_FINAL = f"asn{_KM_ITER + 1}"


def _shared_kmeans_centroids(spark, sf_dir) -> list[list[float]]:
    """The session-shared ``kmeans_centroids`` artifact: k*dim
    driver-side floats, so there is nothing to persist or unpersist;
    every consumer shares one fit (4 Spark jobs) and re-assignment is a
    single codegen projection."""
    from .operators.clustering import kmeans_fit

    return shared_artifact(
        spark, sf_dir, "kmeans_centroids",
        lambda: kmeans_fit(
            _t(spark, sf_dir, "embeddings").select("vec_id", "embedding"),
            k=_KM_K, n_iter=_KM_ITER, dim=_KM_DIM, round_digits=_KM_RD,
        ),
    )


@_register(
    "cluster_kmeans",
    f"""
{_duck_kmeans_cte()}
SELECT vec_id, cluster, round(dist, {_KM_RD}) AS dist FROM {_KM_FINAL}
""",
)
def cluster_kmeans(spark, sf_dir):
    """Distributed Lloyd's k-means over the embedding corpus (k=10, 2
    iterations, deterministic lowest-id init) — the SemDeDup-style
    semantic bucketing primitive. Assignment is a broadcast-literal
    codegen projection (no join/shuffle/UDF); each update ships only
    k*(dim+1) scalars to the driver, a constant at any corpus size. The
    oracle unrolls the same iterations as CTEs with the same rounding
    and the same left-associative distance chains."""
    from .operators.clustering import kmeans_assign

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    assigned = kmeans_assign(emb, _shared_kmeans_centroids(spark, sf_dir))
    return assigned.select(
        "vec_id", "cluster", F.round("dist", _KM_RD).alias("dist")
    )


@_register(
    "cluster_kmeans_profile",
    f"""
{_duck_kmeans_cte()},
lab AS (
  SELECT a.cluster, e.label, count(*) AS cnt
  FROM {_KM_FINAL} a JOIN embeddings e USING (vec_id) GROUP BY 1, 2
),
tot AS (
  SELECT cluster, CAST(count(*) AS BIGINT) AS n_members,
         round(avg(dist), {_KM_RD}) AS avg_dist
  FROM {_KM_FINAL} GROUP BY 1
),
top AS (
  SELECT cluster, label, cnt,
         row_number() OVER (PARTITION BY cluster
                            ORDER BY cnt DESC, label) AS rn
  FROM lab
)
SELECT t.cluster, t.n_members, t.avg_dist, p.label AS top_label,
       round(p.cnt::DOUBLE / t.n_members, {_KM_RD}) AS top_label_share
FROM tot t JOIN top p ON t.cluster = p.cluster AND p.rn = 1
""",
)
def cluster_kmeans_profile(spark, sf_dir):
    """Cluster evaluation table: size, mean squared distance, and
    majority label + its share per k-means cluster — the label-mixture
    audit run after clustering (the testdata labels are independent of
    the vectors, so shares sit near uniform; on separable data this IS
    the purity table). Two tiny aggregates over the assignment (k rows
    each) joined broadcast-side."""
    from .operators.clustering import kmeans_assign

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", "label"
    )
    assigned = kmeans_assign(emb, _shared_kmeans_centroids(spark, sf_dir))
    counts = assigned.groupBy("cluster", "label").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    wn = Window.partitionBy("cluster").orderBy(
        F.col("cnt").desc(), F.col("label")
    )
    top = (
        counts.withColumn("rn", F.row_number().over(wn))
        .filter(F.col("rn") == 1)
        .select("cluster", F.col("label").alias("top_label"), "cnt")
    )
    tot = assigned.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.round(F.avg("dist"), _KM_RD).alias("avg_dist"),
    )
    return tot.join(F.broadcast(top), on="cluster").select(
        "cluster",
        "n_members",
        "avg_dist",
        "top_label",
        F.round(F.col("cnt") / F.col("n_members"), _KM_RD).alias(
            "top_label_share"
        ),
    )


# --- event-stream behavioural features -----------------------------------


@_register(
    "events_transitions",
    """
WITH pairs AS (
  SELECT event_type AS from_type,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS to_type
  FROM events
)
SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n_transitions
FROM pairs WHERE to_type IS NOT NULL GROUP BY 1, 2
""",
)
def events_transitions(spark, sf_dir):
    """First-order Markov transition counts between event types within
    each user stream — ONE window shuffle for the ``lead`` pairing, then
    a count whose exchange carries at most |types|^2 rows."""
    from .operators.events import transition_counts

    return transition_counts(
        _t(spark, sf_dir, "events"),
        key_col="user_id",
        type_col="event_type",
        ts_col="ts",
        tie_col="event_id",
    )


_TD_HALF_LIFE = 30.0


def _duck_time_decay_sql() -> str:
    import math

    lam = math.log(2.0) / _TD_HALF_LIFE
    w = f"exp(-{lam!r} * ((ref_us - epoch_us(ts)) / 86400000000.0))"
    return f"""
WITH ref AS (SELECT max(epoch_us(ts)) AS ref_us FROM events)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum({w}), 6) AS decayed_count,
       round(sum({w} * value), 6) AS decayed_value
FROM events, ref GROUP BY 1
"""


@_register("events_time_decay", None)  # oracle attached below
def events_time_decay(spark, sf_dir):
    """Per-user exponentially time-decayed activity (half-life 30 days,
    anchored at the global max timestamp) — the recency-weighted
    engagement feature. Scalar aggregate -> 1-row broadcast attach ->
    ONE map-side-combinable groupBy; weights are codegen arithmetic."""
    from .operators.events import time_decayed_agg

    return time_decayed_agg(
        _t(spark, sf_dir, "events"),
        key_col="user_id",
        ts_col="ts",
        value_col="value",
        half_life_days=_TD_HALF_LIFE,
    )


ORACLES["events_time_decay"] = _duck_time_decay_sql()


# --- tokenizer coverage / batch shaping / curation sweeps ----------------


@_register(
    "text_oov_rate",
    f"""
WITH toks AS (
  SELECT doc_id,
         unnest(CASE WHEN trim(text) = '' THEN [NULL]::VARCHAR[]
                ELSE string_split_regex(trim(lower(text)), '\\s+')
                END) AS tok
  FROM documents
), vocab AS (
  SELECT token FROM ({ORACLES["text_vocab_build"]})
), j AS (
  SELECT t.doc_id, t.tok, v.token IS NOT NULL AS in_v
  FROM toks t LEFT JOIN vocab v ON t.tok = v.token
)
SELECT doc_id,
       CAST(count(tok) AS BIGINT) AS n_tokens,
       CAST(count(CASE WHEN tok IS NOT NULL AND NOT in_v THEN 1 END)
            AS BIGINT) AS n_oov,
       CASE WHEN count(tok) > 0 THEN
         round(count(CASE WHEN tok IS NOT NULL AND NOT in_v THEN 1 END)
               ::DOUBLE / count(tok), 6)
       END AS oov_rate
FROM j GROUP BY 1
""",
)
def text_oov_rate(spark, sf_dir):
    """Per-document out-of-vocabulary rate against the corpus vocabulary
    (count >= 5) — the tokenizer-coverage audit. Token explode (outer,
    empty docs survive) -> broadcast join against the bounded vocab ->
    one groupBy back to documents. The oracle embeds the registered
    vocab oracle as a subquery so the two stay in lockstep."""
    from .operators.profiling import build_vocabulary, oov_rate
    from .registry_ext import _VOCAB_MIN_COUNT

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    vocab = build_vocabulary(docs, min_count=_VOCAB_MIN_COUNT)
    return oov_rate(docs, vocab)


@_register(
    "text_quality_retention",
    f"""
WITH g AS (
  SELECT quality_score, count(*) AS n_docs
  FROM ({ORACLES["text_quality"]}) GROUP BY 1
)
SELECT quality_score,
       CAST(n_docs AS BIGINT) AS n_docs,
       CAST(sum(n_docs) OVER (ORDER BY quality_score DESC
                              ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS n_retained,
       round(sum(n_docs) OVER (ORDER BY quality_score DESC
                               ROWS UNBOUNDED PRECEDING)::DOUBLE
             / sum(n_docs) OVER (), 6) AS retained_frac
FROM g
""",
)
def text_quality_retention(spark, sf_dir):
    """Threshold-sweep retention curve for the heuristic quality score:
    for each score level, how many documents a 'keep score >= s' filter
    retains — the curve a curation run reads before picking a cutoff.
    The groupBy collapses the corpus to <= 5 rows BEFORE the cumulative
    window, so the one-partition window is constant-sized by
    construction (same pattern as the flowchart operator). The oracle
    embeds the registered text_quality oracle as a subquery."""
    from .functions.text import add_quality_score

    scored = add_quality_score(
        _t(spark, sf_dir, "documents").select("doc_id", "text")
    )
    g = scored.groupBy("quality_score").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    w_cum = Window.orderBy(F.col("quality_score").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.partitionBy()
    return g.select(
        "quality_score",
        "n_docs",
        F.sum("n_docs").over(w_cum).alias("n_retained"),
        F.round(
            F.sum("n_docs").over(w_cum) / F.sum("n_docs").over(w_all), 6
        ).alias("retained_frac"),
    )


_PACK_BUCKET = 64
_PACK_MAX_LEN = 512


@_register(
    "pack_efficiency",
    f"""
WITH lens AS (
  SELECT least(CASE WHEN trim(text) = '' THEN 0
               ELSE len(string_split_regex(trim(text), '\\s+')) END,
               {_PACK_MAX_LEN})::BIGINT AS seq
  FROM documents
), shaped AS (
  SELECT seq,
         (ceil(greatest(seq, 1)::DOUBLE / {_PACK_BUCKET})
          * {_PACK_BUCKET})::BIGINT AS bucket_len
  FROM lens
)
SELECT bucket_len,
       CAST(count(*) AS BIGINT) AS n_seqs,
       CAST(sum(seq) AS BIGINT) AS total_tokens,
       CAST(sum(bucket_len - seq) AS BIGINT) AS total_padding,
       round(sum(bucket_len - seq)::DOUBLE / (count(*) * bucket_len), 6)
           AS pad_frac
FROM shaped GROUP BY 1
""",
)
def pack_efficiency(spark, sf_dir):
    """Length-bucketed padding-waste profile (bucket=64, truncate at
    512): how many pad tokens each batch-shape bucket burns — the
    batch-shaping diagnostic before training. ONE map-side-combinable
    groupBy; the exchange carries at most max_len/bucket rows."""
    from .functions.text import tokens
    from .operators.packing import padding_waste_profile

    docs = _t(spark, sf_dir, "documents").select(
        F.size(tokens(F.col("text"))).alias("n_tokens")
    )
    return padding_waste_profile(
        docs, "n_tokens", bucket=_PACK_BUCKET, max_len=_PACK_MAX_LEN
    )


# --- graph shape / anomaly / OLAP cube / semantic dedup ------------------


@_register(
    "dedup_degree_stats",
    f"""
WITH sym AS (
  SELECT id_a AS node FROM ({ORACLES["dedup_minhash_pairs"]}) p1
  UNION ALL
  SELECT id_b AS node FROM ({ORACLES["dedup_minhash_pairs"]}) p2
), deg AS (
  SELECT node, CAST(count(*) AS BIGINT) AS degree FROM sym GROUP BY 1
)
SELECT degree, CAST(count(*) AS BIGINT) AS n_nodes FROM deg GROUP BY 1
""",
)
def dedup_degree_stats(spark, sf_dir):
    """Degree histogram of the MinHash near-dup graph — the shape check
    run before connected components (a heavy tail predicts hot
    components; a spike means a degenerate band). Reuses the registered
    pair generator verbatim; two count aggregates on top."""
    from .operators.dedup import degree_distribution, minhash_pairs
    from .registry_ext import _MH_BANDS, _MH_NUM_HASHES, _MH_SHINGLE

    docs = _t(spark, sf_dir, "documents").filter(
        F.length("text") >= _MH_SHINGLE
    )
    # degree_distribution's self-union duplicates the post-shuffle pair
    # work, but a matched r16 A/B measured persisting the pair frame
    # SLOWER (3.08 s vs 2.29 s): the duplicate branches share every
    # exchange and overlap on idle cores, while the persist serialises
    # materialisation — left unpersisted on that evidence
    pairs = minhash_pairs(
        docs, num_hashes=_MH_NUM_HASHES, shingle_size=_MH_SHINGLE,
        bands=_MH_BANDS,
    )
    return degree_distribution(pairs)


@_register(
    "events_anomaly_daily",
    """
WITH daily AS (
  SELECT user_id, date_trunc('day', ts)::DATE AS day,
         CAST(count(*) AS BIGINT) AS n_events
  FROM events GROUP BY 1, 2
), scored AS (
  SELECT user_id, day, n_events,
         round((n_events - avg(n_events) OVER w)
               / nullif(stddev(n_events) OVER w, 0.0), 6) AS z
  FROM daily WINDOW w AS (PARTITION BY user_id)
)
SELECT user_id, day, n_events, z FROM scored WHERE abs(z) >= 2.0
""",
)
def events_anomaly_daily(spark, sf_dir):
    """Per-user daily-volume anomalies: days deviating >= 2 sample
    stddevs from that user's own daily baseline. The corpus collapses to
    (user, day) counts in ONE map-side-combinable aggregate before the
    per-user stats window touches anything."""
    from .operators.events import daily_count_anomalies

    return daily_count_anomalies(
        _t(spark, sf_dir, "events"), key_col="user_id", ts_col="ts",
        z_threshold=2.0,
    )


@_register(
    "analytics_cube",
    """
SELECT o_orderstatus, o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS revenue_cents,
       CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
       CAST(GROUPING(o_orderpriority) AS INT) AS g_priority
FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
""",
)
def analytics_cube(spark, sf_dir):
    """OLAP cube over orders: revenue and counts at every (status,
    priority) granularity including subtotals and the grand total —
    Spark's Expand-based CUBE (one scan, map-side combinable partial
    aggregation per grouping set). GROUPING flags disambiguate rolled-up
    NULLs. Integer-cent accumulation keeps the sums order-independent
    and oracle-exact."""
    rev = F.round(F.col("o_totalprice") * 100).cast("long")
    return (
        _t(spark, sf_dir, "orders")
        .select("o_orderstatus", "o_orderpriority", rev.alias("_cents"))
        .cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("_cents").alias("revenue_cents"),
            F.grouping("o_orderstatus").cast("int").alias("g_status"),
            F.grouping("o_orderpriority").cast("int").alias("g_priority"),
        )
    )


_SD_THRESHOLD = 0.25


def _duck_semantic_dedup_sql() -> str:
    dot = " + ".join(
        f"ea.embedding[{i}]::DOUBLE * eb.embedding[{i}]::DOUBLE"
        for i in range(1, _KM_DIM + 1)
    )
    return f"""
{_duck_kmeans_cte()},
pr AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b, round({dot}, 6) AS dot
  FROM {_KM_FINAL} a
  JOIN {_KM_FINAL} b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
  JOIN embeddings ea ON ea.vec_id = a.vec_id
  JOIN embeddings eb ON eb.vec_id = b.vec_id
)
SELECT a.vec_id, a.cluster
FROM {_KM_FINAL} a
WHERE a.vec_id NOT IN (
  SELECT id_b FROM pr WHERE dot >= {_SD_THRESHOLD}
)
"""


@_register("cluster_semantic_dedup", None)  # oracle attached below
def cluster_semantic_dedup(spark, sf_dir):
    """SemDeDup end-to-end: k-means bucketing -> within-cluster dot >=
    0.25 pairs (quadratic in CLUSTER size only, never corpus size) ->
    greedy keep-lowest-id. Returns the surviving (vec_id, cluster) rows.
    Shares the session centroid cache with the other cluster queries."""
    from .operators.clustering import semantic_dedup

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    kept = semantic_dedup(
        emb, _shared_kmeans_centroids(spark, sf_dir),
        threshold=_SD_THRESHOLD,
    )
    return kept.select("vec_id", "cluster")


ORACLES["cluster_semantic_dedup"] = _duck_semantic_dedup_sql()


# --- layout pruning simulation / join audit ------------------------------

_PS_FILES = 64
_PS_BOX = (64, 127, 46, 81)  # price bins 150k-300k x date bins ~year 1996
_PS_BITS = 8
_PS_PRICE = (0.0, 600000.0)
_PS_DAYS = (9000.0, 11700.0)  # epoch-day bounds covering the order dates


def _duck_pruning_sql() -> str:
    fracs = ", ".join(repr(i / _PS_FILES) for i in range(1, _PS_FILES))
    a_lo, a_hi, b_lo, b_hi = _PS_BOX
    n = (1 << _PS_BITS) - 1

    def quant(expr: str, lo: float, hi: float) -> str:
        return (
            f"least(greatest(floor((({expr})::DOUBLE - {lo!r}) "
            f"/ {hi - lo!r} * {float(n)!r}), 0), {n})::BIGINT"
        )

    qa = quant("o_totalprice", *_PS_PRICE)
    qb = quant("epoch_us(o_orderdate) / 86400000000.0", *_PS_DAYS)
    terms = []
    for i in range(_PS_BITS):
        terms.append(f"(((a >> {i}) & 1) << {2 * i})")
        terms.append(f"(((b >> {i}) & 1) << {2 * i + 1})")
    interleave = " + ".join(terms)

    def layout(tag: str, name: str, col: str) -> str:
        return f"""
{tag}_cuts AS (
  SELECT list_transform(quantile_cont({col}, [{fracs}]),
                        x -> round(x, 6)) AS cuts
  FROM z
),
{tag}_b AS (
  SELECT z.price_bin, z.date_bin,
         len(list_filter(c.cuts, v -> v <= z.{col}))::INT AS bucket
  FROM z, {tag}_cuts c
),
{tag}_s AS (
  SELECT bucket,
         min(price_bin) AS mina, max(price_bin) AS maxa,
         min(date_bin) AS minb, max(date_bin) AS maxb
  FROM {tag}_b GROUP BY 1
),
{tag}_agg AS (
  SELECT '{name}' AS layout,
         CAST(count(*) AS BIGINT) AS n_files,
         CAST(sum(CASE WHEN maxa >= {a_lo} AND mina <= {a_hi}
                        AND maxb >= {b_lo} AND minb <= {b_hi}
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_scanned
  FROM {tag}_s
)"""

    return f"""
WITH q AS (
  SELECT o_orderkey, {qa} AS a, {qb} AS b FROM orders
),
z AS (
  SELECT o_orderkey, a AS price_bin, b AS date_bin,
         ({interleave})::BIGINT AS zcode
  FROM q
),
{layout("arr", "arrival", "o_orderkey")[1:]},
{layout("zo", "zorder", "zcode")[1:]}
SELECT layout, n_files, n_scanned,
       round(n_scanned::DOUBLE / n_files, 6) AS scan_frac
FROM (SELECT * FROM arr_agg UNION ALL SELECT * FROM zo_agg)
"""


@_register("layout_pruning_sim", None)  # oracle attached below
def layout_pruning_sim(spark, sf_dir):
    """What Z-order buys, measured: simulate 64 equal-frequency files
    under arrival order vs (price, date) Z-order, compute per-file
    min/max stats (what parquet row groups store), and count the files a
    2-D range predicate (a price band within one year) must read under
    each layout. Bucketing is exact-percentile cuts attached by 1-row
    broadcast (no global sort, no one-partition window); after bucketing
    only 64 rows per layout move."""
    from .functions.layout import (
        morton_code,
        pruning_simulation,
        quantize_to_bins,
    )

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        quantize_to_bins("o_totalprice", *_PS_PRICE, _PS_BITS)
            .alias("price_bin"),
        quantize_to_bins(
            F.unix_micros(F.col("o_orderdate").cast("timestamp"))
            / F.lit(86400000000.0),
            *_PS_DAYS,
            _PS_BITS,
        ).alias("date_bin"),
    )
    z = orders.withColumn(
        "zcode", morton_code(F.col("price_bin"), F.col("date_bin"), _PS_BITS)
    )
    # exact=True pinned: the oracle unrolls exact percentile cuts, and
    # the registry gate needs determinism; the library default is the
    # approx sketch (the production setting — see pruning_simulation)
    return pruning_simulation(
        z, "o_orderkey", "zcode", "price_bin", "date_bin",
        n_files=_PS_FILES, box=_PS_BOX, exact=True,
    )


ORACLES["layout_pruning_sim"] = _duck_pruning_sql()


@_register(
    "quality_join_audit",
    """
WITH lc AS (SELECT o_custkey AS k, count(*) AS ln FROM orders GROUP BY 1),
rc AS (SELECT c_custkey AS k, count(*) AS rn FROM customer GROUP BY 1),
j AS (SELECT lc.ln, rc.rn FROM lc FULL OUTER JOIN rc USING (k))
SELECT CAST(count(ln) AS BIGINT) AS n_left_keys,
       CAST(count(rn) AS BIGINT) AS n_right_keys,
       CAST(sum(CASE WHEN ln IS NOT NULL AND rn IS NOT NULL
                THEN 1 ELSE 0 END) AS BIGINT) AS n_both,
       CAST(sum(CASE WHEN rn IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_left_only,
       CAST(sum(CASE WHEN ln IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_right_only,
       CAST(max(ln) AS BIGINT) AS max_left_mult,
       CAST(max(rn) AS BIGINT) AS max_right_mult,
       CAST(sum(CASE WHEN ln IS NOT NULL AND rn IS NOT NULL
                THEN ln * rn END) AS BIGINT) AS n_join_rows
FROM j
""",
)
def quality_join_audit(spark, sf_dir):
    """Pre-join cardinality audit of orders JOIN customer on custkey:
    key-space overlap, per-side max multiplicity (hot-key blowup
    warning), and the exact inner-join output cardinality — computed
    from per-key counts, so the audit never joins the data rows
    themselves."""
    from .operators.quality import join_key_audit

    return join_key_audit(
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "customer"),
        "o_custkey",
        "c_custkey",
    )


# --- pivot / SCD2 history / BPE pair counting ----------------------------

_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


@_register(
    "wrangle_pivot",
    f"""
SELECT user_id,
  {", ".join(
    f"CAST(count(CASE WHEN event_type = '{t}' THEN 1 END) AS BIGINT)"
    f" AS n_{t}" for t in _EVENT_TYPES)}
FROM events GROUP BY 1
""",
)
def wrangle_pivot(spark, sf_dir):
    """Long-to-wide event-type counts per user via pivot with EXPLICIT
    values — no hidden collect-distinct pass, one map-side-combinable
    aggregate. The oracle is the equivalent conditional aggregation."""
    from .operators.wrangling import pivot_counts

    return pivot_counts(
        _t(spark, sf_dir, "events"),
        key_col="user_id",
        pivot_col="event_type",
        values=_EVENT_TYPES,
        count_col_prefix="n_",
    )


@_register(
    "table_scd2",
    """
WITH base AS (
  SELECT o_orderkey AS k, o_orderstatus AS st, o_totalprice AS p
  FROM orders
), v AS (
  SELECT k, st, p, 1 AS version FROM base
  UNION ALL
  SELECT k, st, CASE WHEN k % 7 = 0 THEN p + 1.0 ELSE p END, 2
  FROM base WHERE k % 11 <> 0
  UNION ALL
  SELECT k, st,
         p + CASE WHEN k % 7 = 0 THEN 1.0 ELSE 0.0 END
           + CASE WHEN k % 5 = 0 THEN 2.0 ELSE 0.0 END, 3
  FROM base
), marked AS (
  SELECT k, st, p, version,
         CASE WHEN lag(version) OVER w IS NULL
                OR st IS DISTINCT FROM lag(st) OVER w
                OR p IS DISTINCT FROM lag(p) OVER w
                OR version <> lag(version) OVER w + 1
         THEN 1 ELSE 0 END AS new_run
  FROM v WINDOW w AS (PARTITION BY k ORDER BY version)
), isl AS (
  SELECT *,
         sum(new_run) OVER (PARTITION BY k ORDER BY version
                            ROWS UNBOUNDED PRECEDING) AS run,
         max(version) OVER (PARTITION BY k) AS kmv
  FROM marked
)
SELECT k AS o_orderkey,
       min(st) AS o_orderstatus,
       min(p) AS o_totalprice,
       CAST(min(version) AS INT) AS valid_from,
       CAST(CASE WHEN max(version) < min(kmv) THEN max(version) END AS INT)
           AS valid_to
FROM isl GROUP BY k, run
""",
)
def table_scd2(spark, sf_dir):
    """Slowly-changing-dimension type-2 build: three deterministic
    snapshot versions of orders (price bumps for key%7 at v2, key%5 at
    v3; key%11 absent from v2 — a gap that must split validity) are
    collapsed into per-key validity ranges with the distributed
    gaps-and-islands plan (ONE key shuffle). valid_to NULL = current."""
    from .sources.tables import scd2_collapse

    base = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey"), F.col("o_orderstatus"), F.col("o_totalprice")
    )
    v1 = base.withColumn("version", F.lit(1))
    v2 = (
        base.filter(F.col("o_orderkey") % 11 != 0)
        .withColumn(
            "o_totalprice",
            F.when(
                F.col("o_orderkey") % 7 == 0, F.col("o_totalprice") + 1.0
            ).otherwise(F.col("o_totalprice")),
        )
        .withColumn("version", F.lit(2))
    )
    v3 = base.withColumn(
        "o_totalprice",
        F.col("o_totalprice")
        + F.when(F.col("o_orderkey") % 7 == 0, 1.0).otherwise(0.0)
        + F.when(F.col("o_orderkey") % 5 == 0, 2.0).otherwise(0.0),
    ).withColumn("version", F.lit(3))
    return scd2_collapse(
        v1.unionByName(v2).unionByName(v3),
        key_cols=["o_orderkey"],
        version_col="version",
        compare_cols=["o_orderstatus", "o_totalprice"],
    )


_BPE_TOP_N = 50


@_register(
    "text_bpe_pairs",
    f"""
WITH toks AS (
  SELECT unnest(CASE WHEN trim(text) = '' THEN []::VARCHAR[]
                ELSE string_split_regex(trim(lower(text)), '\\s+')
                END) AS tok
  FROM documents
), pairs AS (
  SELECT unnest(list_transform(range(1, greatest(length(tok), 1)),
                               i -> tok[i:i+1])) AS pair
  FROM toks
), counts AS (
  SELECT pair, CAST(count(*) AS BIGINT) AS count FROM pairs GROUP BY 1
)
SELECT pair, count FROM (
  SELECT pair, count,
         row_number() OVER (ORDER BY count DESC, pair) AS rn
  FROM counts
) WHERE rn <= {_BPE_TOP_N}
""",
)
def text_bpe_pairs(spark, sf_dir):
    """One distributed BPE merge step: the 50 most frequent adjacent
    character pairs inside lowercased tokens — the per-round statistic
    of byte-pair-encoding tokenizer training. Pair generation is
    sequence/substr HOFs (no UDF); the count exchange is bounded by
    |alphabet|^2; the global top-n is rank-then-filter
    (WindowGroupLimit)."""
    from .operators.profiling import bpe_pair_counts

    return bpe_pair_counts(
        _t(spark, sf_dir, "documents"), top_n=_BPE_TOP_N
    )


# --- RFM segmentation / co-occurrence PMI / cluster-size histogram -------

_RFM_TILES = 4


def _duck_rfm_sql() -> str:
    fracs = ", ".join(repr(i / _RFM_TILES) for i in range(1, _RFM_TILES))

    def cuts(tag: str, col: str) -> str:
        return (
            f"{tag} AS (SELECT list_transform("
            f"quantile_cont({col}, [{fracs}]), x -> round(x, 6)) AS cuts "
            f"FROM pk)"
        )

    def score(tag: str, col: str) -> str:
        return f"len(list_filter({tag}.cuts, c -> c <= {col}))::INT"

    return f"""
WITH ref AS (SELECT max(epoch_us(ts)) AS ref_us FROM events),
pk AS (
  SELECT user_id,
         round((min(ref_us) - max(epoch_us(ts))) / 86400000000.0, 6)
             AS recency_days,
         CAST(count(*) AS BIGINT) AS frequency,
         round(sum(value), 6) AS monetary
  FROM events, ref GROUP BY 1
),
{cuts("rc", "recency_days")},
{cuts("fc", "frequency")},
{cuts("mc", "monetary")}
SELECT user_id, recency_days, frequency, monetary,
       {score("rc", "recency_days")} AS r_score,
       {score("fc", "frequency")} AS f_score,
       {score("mc", "monetary")} AS m_score
FROM pk, rc, fc, mc
"""


@_register("events_rfm", None)  # oracle attached below
def events_rfm(spark, sf_dir):
    """RFM segmentation: per-user recency/frequency/monetary collapsed
    in ONE aggregate, each dimension scored into quartiles via the
    exact-percentile bucket machinery (broadcast cuts — no ntile over a
    one-partition window)."""
    from .operators.events import rfm_scores

    return rfm_scores(
        _t(spark, sf_dir, "events"), key_col="user_id", ts_col="ts",
        value_col="value", n_tiles=_RFM_TILES,
    )


ORACLES["events_rfm"] = _duck_rfm_sql()


@_register(
    "events_cooccurrence",
    """
WITH ordered AS (
  SELECT user_id, ts, event_type,
         CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
              THEN 1 ELSE 0 END AS new_s
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), sess AS (
  SELECT user_id, event_type,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                          ROWS UNBOUNDED PRECEDING) AS s
  FROM ordered
), st AS (
  SELECT DISTINCT user_id, s, event_type FROM sess
), n AS (
  SELECT count(*) AS n FROM (SELECT DISTINCT user_id, s FROM st)
), marg AS (
  SELECT event_type, count(*) AS m FROM st GROUP BY 1
), pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         CAST(count(*) AS BIGINT) AS n_ab
  FROM st a
  JOIN st b ON a.user_id = b.user_id AND a.s = b.s
           AND a.event_type < b.event_type
  GROUP BY 1, 2
)
SELECT type_a, type_b, n_ab,
       round(ln(n_ab::DOUBLE * n.n / (ma.m * mb.m)), 6) AS pmi
FROM pairs
JOIN marg ma ON ma.event_type = pairs.type_a
JOIN marg mb ON mb.event_type = pairs.type_b
CROSS JOIN n
""",
)
def events_cooccurrence(spark, sf_dir):
    """Session-level PMI between event types (30-minute sessions): the
    association table behind market-basket / next-action analysis.
    Events collapse to distinct (session, type) — bounded by sessions *
    |types| — before the session-key self-join; marginals broadcast
    back."""
    from .operators.events import type_cooccurrence_pmi

    return type_cooccurrence_pmi(
        _t(spark, sf_dir, "events"), key_col="user_id", ts_col="ts",
        type_col="event_type", gap_seconds=1800,
    )


@_register(
    "dedup_cluster_sizes",
    f"""
WITH comp AS (SELECT * FROM ({ORACLES["dedup_clusters_cc"]})),
sizes AS (
  SELECT component, CAST(count(*) AS BIGINT) AS size FROM comp GROUP BY 1
)
SELECT size, CAST(count(*) AS BIGINT) AS n_clusters FROM sizes GROUP BY 1
""",
)
def dedup_cluster_sizes(spark, sf_dir):
    """Near-dup component-size histogram — THE dedup report (how much
    of the corpus sits in how-big duplicate families; a heavy tail here
    means a hot component and motivates the banded pair caps). Two
    count aggregates over the session-shared persisted clusters table —
    the expensive MinHash + connected-components work is not repeated."""
    from .registry_ext import _shared_clusters

    cl = _shared_clusters(spark, sf_dir)
    sizes = cl.groupBy("component").agg(F.count(F.lit(1)).alias("size"))
    return sizes.groupBy("size").agg(
        F.count(F.lit(1)).alias("n_clusters")
    )


# --- perceptual image hashing --------------------------------------------


def _duck_ahash_sql() -> str:
    """Mirror of synthesize_image + media_codecs.ahash64: dims and the
    ramp pixel pattern come from md5(seed) by the fixed synthesis
    protocol, so the 8x8 lattice samples, the strict-mean threshold and
    the split hash halves are all integer-computable in SQL — the oracle
    checks the REAL decode+hash path bit-for-bit."""
    return """
WITH b AS (
  SELECT doc_id,
         1 + ('0x' || substr(md5(text), 1, 2))::INTEGER % 64 AS w,
         1 + ('0x' || substr(md5(text), 3, 2))::INTEGER % 64 AS h,
         ('0x' || substr(md5(text), 7, 2))::INTEGER AS d3
  FROM documents
), g AS (
  SELECT doc_id, w, h, (i.i * 8 + j.j) AS idx,
         ((d3 + (((i.i * h) // 8) * w + ((j.j * w) // 8)) * 3) % 256)
         + ((d3 + (((i.i * h) // 8) * w + ((j.j * w) // 8)) * 3 + 1) % 256)
         + ((d3 + (((i.i * h) // 8) * w + ((j.j * w) // 8)) * 3 + 2) % 256)
             AS s
  FROM b, range(0, 8) i(i), range(0, 8) j(j)
), t AS (
  SELECT doc_id, sum(s) AS total FROM g GROUP BY 1
), bits AS (
  SELECT g.doc_id, g.w, g.h, idx,
         CASE WHEN s * 64 > t.total THEN 1 ELSE 0 END AS bit
  FROM g JOIN t USING (doc_id)
)
SELECT doc_id,
       CAST(min(w) AS INTEGER) AS width,
       CAST(min(h) AS INTEGER) AS height,
       CAST(sum(CASE WHEN idx >= 32 THEN bit::BIGINT << (idx - 32)
                ELSE 0 END) AS BIGINT) AS ahash_hi,
       CAST(sum(CASE WHEN idx < 32 THEN bit::BIGINT << idx
                ELSE 0 END) AS BIGINT) AS ahash_lo
FROM bits GROUP BY doc_id
"""


@_register("multimodal_ahash", None)  # oracle attached below
def multimodal_ahash(spark, sf_dir):
    """Perceptual average-hash of every synthesized image through the
    REAL decode path (PPM/BMP byte parsing -> numpy lattice sample ->
    strict-mean threshold), Arrow-batched, no shuffle. The oracle
    recomputes the 64 bits integer-exactly from the synthesis
    protocol."""
    from .operators.multimodal import image_ahash, synthesize_media_payloads

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return image_ahash(synthesize_media_payloads(docs, "image"))


ORACLES["multimodal_ahash"] = _duck_ahash_sql()


@_register("multimodal_ahash_dups", None)  # oracle attached below
def multimodal_ahash_dups(spark, sf_dir):
    """Image-level duplicate groups by perceptual hash: identical
    content hashes identically regardless of container, and VISUALLY
    equivalent content (the synthetic ramp images produce recurring
    brightness-stripe patterns) collapses too — which is precisely what
    a perceptual hash is for. One combinable aggregate on the hash
    halves; near-miss detection at small Hamming distance is pinned by
    the unit tests with perturbed pixels."""
    from .operators.multimodal import (
        ahash_duplicate_groups,
        image_ahash,
        synthesize_media_payloads,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return ahash_duplicate_groups(
        image_ahash(synthesize_media_payloads(docs, "image"))
    )


@_register("multimodal_image_png", None)  # oracle attached below
def multimodal_image_png(spark, sf_dir):
    """REAL compressed-image path: synthesize deterministic PNGs
    worker-side (zlib-compressed scanlines whose filter types cycle
    through all five of None/Sub/Up/Average/Paeth), then run the FULL
    decode — signature + CRC walk, inflate, filter
    reconstruction — and emit dims, the exact sum of every decoded RGB
    byte, and the perceptual hash. The pixel pattern matches the PPM/BMP
    synthesis, so the oracle predicts the post-DECOMPRESSION content
    closed-form: a wrong Paeth predictor or row offset anywhere changes
    ``pixel_sum``; the ahash halves equal the uncompressed containers'
    (cross-container invariance). Arrow-batched ``mapInPandas``, no
    shuffle, 1 row in -> 1 row out."""
    from .operators.multimodal import (
        image_content_profile,
        synthesize_media_payloads,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return image_content_profile(synthesize_media_payloads(docs, "png"))


# pixel_sum closed form: the decoded bytes are the ramp (d3+j)%256 for
# j in 0..L-1 (L = 3*w*h); any 256 consecutive j sum to 32640, and the
# remainder is the same split-range CASE the video oracle uses (i=0).
ORACLES["multimodal_image_png"] = f"""
WITH h AS ({_duck_ahash_sql()}),
b AS (
  SELECT doc_id,
         3 * (1 + ('0x' || substr(md5(text), 1, 2))::INTEGER % 64)
           * (1 + ('0x' || substr(md5(text), 3, 2))::INTEGER % 64) AS L,
         ('0x' || substr(md5(text), 7, 2))::INTEGER AS a
  FROM documents
)
SELECT h.doc_id, h.width, h.height,
       (b.L // 256 * 32640 +
        CASE WHEN b.a + (b.L % 256) <= 256
             THEN (b.L % 256) * b.a + (b.L % 256) * ((b.L % 256) - 1) // 2
             ELSE (b.a + 255) * (256 - b.a) // 2
                  + ((b.L % 256) + b.a - 256) * ((b.L % 256) + b.a - 257) // 2
        END)::BIGINT AS pixel_sum,
       h.ahash_hi, h.ahash_lo
FROM h JOIN b USING (doc_id)
"""


ORACLES["multimodal_ahash_dups"] = f"""
WITH h AS ({_duck_ahash_sql()})
SELECT ahash_hi, ahash_lo,
       CAST(count(*) AS BIGINT) AS n_images,
       min(doc_id) AS canonical_doc_id
FROM h GROUP BY 1, 2 HAVING count(*) > 1
"""


# --- streaming: Markov pair stream (stream-batch parity) -----------------


@_register(
    "streaming_transitions",
    """
WITH pairs AS (
  SELECT event_type AS from_type,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS to_type
  FROM events
)
SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n_transitions
FROM pairs WHERE to_type IS NOT NULL GROUP BY 1, 2
""",
)
def streaming_transitions(spark, sf_dir):
    """Streaming Markov pairs via applyInPandasWithState (the last event
    per key bridges micro-batch boundaries), drained AvailableNow and
    counted — stream-batch parity: the result equals the batch
    events_transitions oracle exactly."""
    from .registry_ext import _STATE_PARTITIONS, _events_stream
    from .streaming.stream_ops import run_stream_to_memory, stream_transitions

    pairs = stream_transitions(_events_stream(spark, sf_dir))
    drained = run_stream_to_memory(
        pairs, output_mode="append", state_partitions=_STATE_PARTITIONS
    )
    return drained.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).alias("n_transitions")
    )


# --- asymmetric containment ----------------------------------------------

_CT_NGRAM = 3
_CT_MIN = 0.5
_CT_MAX_DF = 5


@_register(
    "dedup_containment",
    f"""
WITH toks AS (
    SELECT doc_id, CASE WHEN trim(text) = '' THEN []::VARCHAR[]
                   ELSE string_split_regex(trim(text), '\\s+') END AS t
    FROM documents
), grams AS (
    SELECT doc_id, unnest(list_distinct(
        CASE WHEN len(t) < {_CT_NGRAM} THEN []::VARCHAR[]
             ELSE list_transform(
                 generate_series(1, len(t) - {_CT_NGRAM - 1}),
                 i -> array_to_string(t[i:i+{_CT_NGRAM - 1}], ' '))
        END)) AS gram
    FROM toks
), kept AS (
    SELECT doc_id, gram FROM grams
    QUALIFY count(*) OVER (PARTITION BY gram) <= {_CT_MAX_DF}
), counts AS (
    SELECT doc_id, count(*) AS n_grams FROM kept GROUP BY doc_id
), inter AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
    FROM kept a JOIN kept b USING (gram)
    WHERE a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT id_a, id_b,
       round(n_inter::DOUBLE / ca.n_grams, 6) AS containment_a_in_b,
       round(n_inter::DOUBLE / cb.n_grams, 6) AS containment_b_in_a
FROM inter
JOIN counts ca ON ca.doc_id = id_a
JOIN counts cb ON cb.doc_id = id_b
WHERE greatest(round(n_inter::DOUBLE / ca.n_grams, 6),
               round(n_inter::DOUBLE / cb.n_grams, 6)) >= {_CT_MIN}
""",
)
def dedup_containment(spark, sf_dir):
    """Asymmetric 3-gram containment pairs (either direction >= 0.5,
    hot-gram df cap 5) — the quote/clone direction Jaccard hides; shares
    the capped-gram candidate machinery with dedup_ngram_jaccard."""
    from .operators.dedup import ngram_containment_pairs

    return ngram_containment_pairs(
        _t(spark, sf_dir, "documents"),
        ngram=_CT_NGRAM,
        min_containment=_CT_MIN,
        max_doc_freq=_CT_MAX_DF,
    )


# --- l-diversity / unpivot / revenue share -------------------------------

_LDIV_L = 4


@_register(
    "privacy_l_diversity",
    f"""
SELECT c_mktsegment, c_nationkey,
       CAST(floor(c_acctbal / 2000) AS BIGINT) AS acctbal_band,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(DISTINCT floor(c_acctbal / 250)) AS BIGINT)
           AS n_distinct_sensitive
FROM customer
GROUP BY 1, 2, 3
HAVING count(DISTINCT floor(c_acctbal / 250)) < {_LDIV_L}
""",
)
def privacy_l_diversity(spark, sf_dir):
    """l-diversity audit (l=4) over (segment x nation x coarse 2000-wide
    balance band) with the FINE 250-wide balance bin as the sensitive
    attribute — catches the homogeneity attack k-anonymity misses: a
    group k-anonymous on the coarse band still discloses when its members
    cluster into fewer than l of the fine bins inside it. The banded
    quasi-identifier keeps the audit non-vacuous at every test scale
    (segment x nation alone saturates past ~10k customers: 37 violations
    at sf0.1, 556 at sf0.01). One combinable aggregate per
    quasi-identifier combination."""
    from .operators.privacy import l_diversity_violations

    cust = _t(spark, sf_dir, "customer").select(
        "c_mktsegment", "c_nationkey",
        F.floor(F.col("c_acctbal") / 2000).cast("long").alias("acctbal_band"),
        F.floor(F.col("c_acctbal") / 250).alias("_sensitive"),
    )
    return l_diversity_violations(
        cust, ["c_mktsegment", "c_nationkey", "acctbal_band"], "_sensitive",
        l=_LDIV_L,
    ).select(
        "c_mktsegment", "c_nationkey", "acctbal_band",
        "n_rows", "n_distinct_sensitive",
    )


@_register(
    "wrangle_unpivot",
    """
SELECT l_orderkey, l_linenumber, metric, value FROM (
  SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric,
         l_quantity::DOUBLE AS value FROM lineitem
  UNION ALL
  SELECT l_orderkey, l_linenumber, 'l_extendedprice',
         l_extendedprice::DOUBLE FROM lineitem
  UNION ALL
  SELECT l_orderkey, l_linenumber, 'l_discount',
         l_discount::DOUBLE FROM lineitem
)
""",
)
def wrangle_unpivot(spark, sf_dir):
    """Wide-to-long melt of three lineitem measures — the inverse of the
    pivot: built-in unpivot (Expand: one scan, no join), one output row
    per (row, measure)."""
    from .operators.wrangling import unpivot_columns

    return unpivot_columns(
        _t(spark, sf_dir, "lineitem"),
        id_cols=["l_orderkey", "l_linenumber"],
        value_cols=["l_quantity", "l_extendedprice", "l_discount"],
    )


@_register(
    "analytics_share",
    """
WITH rev AS (
  SELECT n.n_name,
         date_trunc('year', o.o_orderdate)::DATE AS order_year,
         CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS revenue_cents
  FROM orders o
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n ON n.n_nationkey = c.c_nationkey
  GROUP BY 1, 2
)
SELECT n_name, order_year, revenue_cents,
       round(revenue_cents::DOUBLE
             / sum(revenue_cents) OVER (PARTITION BY order_year), 6)
           AS year_share
FROM rev
""",
)
def analytics_share(spark, sf_dir):
    """Ratio-to-report: each nation's share of yearly revenue — the
    window-over-aggregate pattern. The corpus collapses to (nation,
    year) integer-cent sums BEFORE the share window, so the window
    partition is |nations| rows per year; nation is broadcast (25 rows
    at every scale factor), customer is size-gated by the planner."""
    orders = _t(spark, sf_dir, "orders").select(
        "o_custkey",
        F.date_trunc("year", F.col("o_orderdate")).cast("date")
            .alias("order_year"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("_cents"),
    )
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rev = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name", "order_year")
        .agg(F.sum("_cents").alias("revenue_cents"))
    )
    w = Window.partitionBy("order_year")
    return rev.select(
        "n_name", "order_year", "revenue_cents",
        F.round(
            F.col("revenue_cents") / F.sum("revenue_cents").over(w), 6
        ).alias("year_share"),
    )


# --- correlation screen / Zipf audit -------------------------------------

_CORR_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


@_register(
    "profile_correlations",
    f"""
WITH w AS (
  SELECT
    {", ".join(
        f"round(corr({a}, {b}), 6) AS c_{i}"
        for i, (a, b) in enumerate(
            (a, b)
            for j, a in enumerate(_CORR_COLS)
            for b in _CORR_COLS[j + 1:]
        )
    )}
  FROM lineitem
)
{" UNION ALL ".join(
    f"SELECT '{a}' AS col_a, '{b}' AS col_b, c_{i} AS corr FROM w"
    for i, (a, b) in enumerate(
        (a, b)
        for j, a in enumerate(_CORR_COLS)
        for b in _CORR_COLS[j + 1:]
    )
)}
""",
)
def profile_correlations(spark, sf_dir):
    """Pairwise Pearson correlation screen over the lineitem measures —
    ONE co-moment aggregate computes all six coefficients, then a
    constant-size Expand melts the row to long format."""
    from .operators.profiling import correlation_matrix

    return correlation_matrix(
        _t(spark, sf_dir, "lineitem").select(*_CORR_COLS), _CORR_COLS
    )


@_register(
    "text_zipf",
    f"""
WITH vocab AS ({ORACLES["text_vocab_build"]})
SELECT round(regr_slope(ln(count::DOUBLE), ln((vocab_id + 1)::DOUBLE)), 6)
           AS zipf_slope,
       round(regr_intercept(ln(count::DOUBLE),
                            ln((vocab_id + 1)::DOUBLE)), 6)
           AS zipf_intercept,
       CAST(count(*) AS BIGINT) AS n_vocab
FROM vocab
""",
)
def text_zipf(spark, sf_dir):
    """Zipf's-law fit of the corpus vocabulary (OLS of ln-frequency on
    ln-rank; natural text sits near slope -1) — a one-row corpus-health
    audit computed by a single regression co-moment aggregate over the
    registered vocabulary. The oracle embeds the vocab oracle."""
    from .operators.profiling import build_vocabulary, zipf_fit
    from .registry_ext import _VOCAB_MIN_COUNT

    vocab = build_vocabulary(
        _t(spark, sf_dir, "documents").select("text"),
        min_count=_VOCAB_MIN_COUNT,
    )
    return zipf_fit(vocab)


# --- ORC source roundtrip -------------------------------------------------


@_register(
    "source_orc_roundtrip",
    """
SELECT l_returnflag, l_linestatus,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
           AS price_cents
FROM lineitem
GROUP BY 1, 2
""",
)
def source_orc_roundtrip(spark, sf_dir):
    """Multi-format source coverage: lineitem written as ORC (Spark's
    other native columnar format — predicate pushdown and column pruning
    work the same as parquet) and read back through save_table/
    load_table's format plumbing; the grouped integer-cent aggregate
    over the roundtripped data must equal the oracle computed from the
    original parquet — the roundtrip is exact or the hash breaks."""
    base = scratch_path(spark, sf_dir, "orc_rt")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_linestatus", "l_extendedprice"
    )
    li.write.format("orc").mode("overwrite").save(base)
    back = spark.read.format("orc").load(base)
    return back.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(
            F.round(F.col("l_extendedprice") * 100).cast("long")
        ).alias("price_cents"),
    )


# --- semantic pretraining-prep pipeline ----------------------------------

_SP_MIN_QUALITY = 0.5


def _duck_semantic_prep_sql() -> str:
    dot = " + ".join(
        f"ea.embedding[{i}]::DOUBLE * eb.embedding[{i}]::DOUBLE"
        for i in range(1, _KM_DIM + 1)
    )
    return f"""
{_duck_kmeans_cte()},
pr AS (
  SELECT b.vec_id AS id_b
  FROM {_KM_FINAL} a
  JOIN {_KM_FINAL} b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
  JOIN embeddings ea ON ea.vec_id = a.vec_id
  JOIN embeddings eb ON eb.vec_id = b.vec_id
  WHERE round({dot}, 6) >= {_SD_THRESHOLD}
),
surv AS (
  SELECT a.vec_id, a.cluster FROM {_KM_FINAL} a
  WHERE a.vec_id NOT IN (SELECT id_b FROM pr)
),
q AS (
  SELECT doc_id, quality_score FROM ({{QUALITY}})
),
kept AS (
  SELECT s.cluster, d.doc_id, d.text, q.quality_score
  FROM surv s
  JOIN documents d ON d.doc_id = s.vec_id
  JOIN q ON q.doc_id = d.doc_id
  WHERE q.quality_score >= {_SP_MIN_QUALITY}
),
ktoks AS (
  SELECT cluster, quality_score,
         CASE WHEN trim(text) = '' THEN 0
         ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tok
  FROM kept
)
SELECT cluster,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS total_tokens,
       round(avg(quality_score), 6) AS mean_quality
FROM ktoks GROUP BY 1
"""


@_register("pipeline_semantic_prep", None)  # oracle attached below
def pipeline_semantic_prep(spark, sf_dir):
    """Semantic training-data preparation as ONE lazy plan composing the
    round-5 capabilities: k-means bucketing -> within-cluster semantic
    dedup (keep-lowest-id) -> heuristic quality gate (>= 0.5) -> per-
    cluster token budgets — the table a data-mixture planner reads to
    weight semantic buckets. Documents and embeddings align on id; the
    doc join is key-equi after the ids-only dedup, so nothing wider than
    (id, cluster) moves until the surviving texts are read."""
    from .functions.text import add_quality_score, token_count
    from .operators.clustering import semantic_dedup

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    surv = semantic_dedup(
        emb, _shared_kmeans_centroids(spark, sf_dir),
        threshold=_SD_THRESHOLD,
    ).select(F.col("vec_id").alias("doc_id"), "cluster")
    docs = add_quality_score(
        _t(spark, sf_dir, "documents").select("doc_id", "text")
    ).filter(F.col("quality_score") >= _SP_MIN_QUALITY)
    kept = surv.join(docs, on="doc_id")
    return kept.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count(F.col("text"))).alias("total_tokens"),
        F.round(F.avg("quality_score"), 6).alias("mean_quality"),
    )


ORACLES["pipeline_semantic_prep"] = _duck_semantic_prep_sql().replace(
    "{QUALITY}", ORACLES["text_quality"]
)


# --- window dedup / hourly top type / temperature mixture ----------------


@_register(
    "events_window_dedup",
    """
WITH b AS (
  SELECT event_id, user_id, ts, event_type,
         floor(epoch_us(ts) / 300000000.0)::BIGINT AS bucket
  FROM events
), r AS (
  SELECT event_id, user_id, ts, event_type,
         row_number() OVER (PARTITION BY user_id, event_type, bucket
                            ORDER BY ts, event_id) AS rn
  FROM b
)
SELECT event_id, user_id, ts, event_type FROM r WHERE rn = 1
""",
)
def events_window_dedup(spark, sf_dir):
    """Telemetry dedup: first event per (user, type, 5-minute bucket) —
    retry storms and double-fires collapse to one row. Rank-then-filter
    goes through WindowGroupLimit (partial pruning before the
    exchange)."""
    from .operators.events import dedup_events_in_window

    return dedup_events_in_window(
        _t(spark, sf_dir, "events").select(
            "event_id", "user_id", "ts", "event_type"
        ),
        key_cols=["user_id", "event_type"],
        window_seconds=300,
    )


@_register(
    "events_top_type_hourly",
    """
WITH c AS (
  SELECT date_trunc('hour', ts) AS window_start, event_type,
         CAST(count(*) AS BIGINT) AS n_events
  FROM events GROUP BY 1, 2
), r AS (
  SELECT window_start, event_type, n_events,
         row_number() OVER (PARTITION BY window_start
                            ORDER BY n_events DESC, event_type) AS rn
  FROM c
)
SELECT window_start, window_start + INTERVAL 1 HOUR AS window_end,
       event_type, n_events
FROM r WHERE rn = 1
""",
)
def events_top_type_hourly(spark, sf_dir):
    """Dominant event type per hour — counts collapse map-side per
    (window, type) before a rank over at most |types| rows per
    window."""
    from .operators.events import top_types_per_window

    return top_types_per_window(
        _t(spark, sf_dir, "events"), duration="1 hour", top_n=1
    )


_TW_ALPHA = 0.7


@_register(
    "sample_temperature",
    f"""
WITH c AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs
  FROM documents GROUP BY 1
), z AS (
  SELECT sum(pow(n_docs::DOUBLE, {_TW_ALPHA})) AS z,
         sum(n_docs) AS n FROM c
)
SELECT source, n_docs,
       round(pow(n_docs::DOUBLE, {_TW_ALPHA}) / z.z, 6) AS weight,
       round((pow(n_docs::DOUBLE, {_TW_ALPHA}) / z.z)
             / (n_docs::DOUBLE / z.n), 6) AS per_doc_rate
FROM c, z
""",
)
def sample_temperature(spark, sf_dir):
    """Temperature-based mixture weights over document sources (alpha =
    0.7): p_i = n_i^alpha / sum n_j^alpha — the standard low-resource
    up-weighting a multi-source sampling plan starts from. One
    per-source aggregate + a broadcast normaliser."""
    from .operators.sampling import temperature_weights

    return temperature_weights(
        _t(spark, sf_dir, "documents"), source_col="source",
        alpha=_TW_ALPHA,
    )


# --- engagement metrics / lexical diversity ------------------------------


@_register(
    "events_active_users",
    """
WITH dau AS (
  SELECT day, CAST(count(*) AS BIGINT) AS dau FROM (
    SELECT DISTINCT date_trunc('day', ts)::DATE AS day, user_id
    FROM events
  ) GROUP BY 1
), mau AS (
  SELECT m, CAST(count(*) AS BIGINT) AS mau FROM (
    SELECT DISTINCT date_trunc('month', ts)::DATE AS m, user_id
    FROM events
  ) GROUP BY 1
)
SELECT day, dau, mau, round(dau::DOUBLE / mau, 6) AS stickiness
FROM dau JOIN mau ON date_trunc('month', day)::DATE = mau.m
""",
)
def events_active_users(spark, sf_dir):
    """DAU / MAU / stickiness per day — the engagement headline. Two
    per-grain distinct aggregates; the month table (one row per month)
    joins broadcast-side."""
    from .operators.events import active_user_stats

    return active_user_stats(_t(spark, sf_dir, "events"))


@_register(
    "text_ttr",
    """
WITH toks AS (
  SELECT doc_id, CASE WHEN trim(lower(text)) = '' THEN []::VARCHAR[]
         ELSE string_split_regex(trim(lower(text)), '\\s+') END AS t
  FROM documents
)
SELECT doc_id,
       CASE WHEN len(t) > 0
            THEN round(len(list_distinct(t))::DOUBLE / len(t), 6)
       END AS type_token_ratio
FROM toks
""",
)
def text_ttr(spark, sf_dir):
    """Per-document type-token ratio (lexical diversity) — template and
    boilerplate text scores low. Pure array expressions, zero
    shuffle."""
    from .functions.text import add_type_token_ratio

    return add_type_token_ratio(
        _t(spark, sf_dir, "documents").select("doc_id", "text")
    ).select("doc_id", "type_token_ratio")


from . import registry_ext3  # noqa: E402,F401  (round-6 registrations)
