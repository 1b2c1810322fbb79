"""Similarity search over embedding columns (``array<float>``).

Extension layer (SURVEY.md §7): brute-force cosine top-k as the exact
baseline, and a random-hyperplane LSH bucketed variant as the scale path.
Dot products are computed with built-in array expressions
(``zip_with`` + ``aggregate``) in double precision — JVM-side, no UDFs.

Scale notes: brute force is O(|queries| × |corpus|) with the query side
broadcast — correct choice when queries are few. The LSH variant buckets
the corpus by sign-pattern of ``n_planes`` fixed random hyperplanes and
only scores within matching buckets: at 100 TB the corpus side stays
hash-partitioned by bucket and never materialises the cross product.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.partitioning import ensure_min_partitions
from .topk import first_row

__all__ = [
    "knn_outlier_scores",
    "truncated_cosine_topk",
    "embedding_centroids",
    "dot_product",
    "l2_norm",
    "cosine_similarity",
    "cosine_topk",
    "lsh_cosine_topk",
    "lsh_multiprobe_cosine_topk",
    "hyperplanes",
    "plane_signature",
    "ivf_cosine_topk",
    "ivf_index_build",
    "ivf_index_append",
    "ivf_assignment_drift",
    "ivf_probe_index",
    "quantize_embeddings",
    "quantized_cosine_topk",
    "random_projection",
    "pq_train",
    "pq_encode",
    "pq_adc_topk",
    "pq_codebooks_to_rows",
    "pq_codebooks_from_rows",
    "pca_power_components",
    "pca_project",
]


def dot_product(a: Column, b: Column) -> Column:
    """Left-to-right double-precision fold of elementwise products."""
    return F.aggregate(
        F.zip_with(a.cast("array<double>"), b.cast("array<double>"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot_product(a, a))


def cosine_similarity(a: Column, b: Column) -> Column:
    """Cosine similarity in double precision; null/zero-norm safe (null)."""
    denom = l2_norm(a) * l2_norm(b)
    return F.when(denom > 0, dot_product(a, b) / denom)


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    corpus_id: str = "vec_id",
    query_id: str = "query_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """Exact top-k cosine neighbours per query (brute force, query side
    broadcast). Self-matches (same id) are excluded.

    Similarity is rounded to ``round_digits`` and ties broken by corpus id,
    making the result set fully deterministic. Output:
    (query_id, vec_id, cosine_sim, row_index 1..k).
    """
    q = queries.select(
        F.col(query_id).alias("_qid"), F.col(vec_col).alias("_qvec")
    )
    c = ensure_min_partitions(corpus).select(
        F.col(corpus_id).alias("_cid"), F.col(vec_col).alias("_cvec")
    )
    scored = (
        c.join(F.broadcast(q), F.col("_qid") != F.col("_cid"))
        .withColumn(
            "cosine_sim",
            F.round(cosine_similarity(F.col("_qvec"), F.col("_cvec")), round_digits),
        )
    )
    top = first_row(
        scored,
        n=k,
        partition_by=["_qid"],
        order_by=[F.col("cosine_sim").desc(), F.col("_cid").asc()],
        return_index_column=True,
        index_column_name="row_index",
    )
    return top.select(
        F.col("_qid").alias(query_id),
        F.col("_cid").alias(corpus_id),
        "cosine_sim",
        F.col("row_index").cast("int").alias("row_index"),
    )


def quantize_embeddings(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qvec_col: str = "qvec",
    scale_col: str = "scale",
) -> DataFrame:
    """Symmetric int8 quantization of an embedding column: per-vector
    ``scale = max(|v_i|) / 127`` and ``q_i = round(v_i / scale)`` in
    [-127, 127] (``v_i ~= q_i * scale``). An all-zero vector quantizes to
    all zeros with scale 0.

    At corpus scale this is the memory lever for vector workloads: a
    64-dim float64 embedding is 512 B, its int8 form 64 B + one float —
    ~8x more vectors per executor/page before any index structure. Cosine
    is scale-invariant, so quantized cosine needs only the int vectors;
    ``scale`` is carried for dot/L2 reconstruction.

    Pure projection (HOF transform, no UDF, no shuffle).
    """
    v = F.col(vec_col).cast("array<double>")
    max_abs = F.array_max(F.transform(v, lambda x: F.abs(x)))
    scale = (max_abs / F.lit(127.0)).alias(scale_col)
    q = F.when(
        max_abs > 0,
        F.transform(v, lambda x: F.round(x * 127.0 / max_abs).cast("int")),
    ).otherwise(F.transform(v, lambda x: F.lit(0)))
    return df.select(
        F.col(id_col), scale, q.alias(qvec_col)
    )


def quantized_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    corpus_id: str = "vec_id",
    query_id: str = "query_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """Brute-force top-k cosine over int8-QUANTIZED vectors — the memory-
    bounded scale path: same plan shape as :func:`cosine_topk` but the
    broadcast query table and the corpus scan carry 1-byte components, and
    the inner fold is integer multiply-accumulate (exact in long — no
    float rounding inside the dot product). Cosine is scale-invariant, so
    the per-vector quantization scale cancels; the result approximates the
    float cosine with O(1/127) component error.

    Output schema matches :func:`cosine_topk`; self-matches excluded,
    ties broken by corpus id.
    """
    def int_cos(a: Column, b: Column) -> Column:
        prod = F.zip_with(a, b, lambda x, y: x.cast("long") * y.cast("long"))
        dot = F.aggregate(prod, F.lit(0).cast("long"), lambda acc, v: acc + v)
        na = F.aggregate(
            F.transform(a, lambda x: x.cast("long") * x.cast("long")),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )
        nb = F.aggregate(
            F.transform(b, lambda x: x.cast("long") * x.cast("long")),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )
        denom = F.sqrt(na.cast("double")) * F.sqrt(nb.cast("double"))
        return F.when(denom > 0, dot.cast("double") / denom)

    q = quantize_embeddings(queries, query_id, vec_col).select(
        F.col(query_id).alias("_qid"), F.col("qvec").alias("_qvec")
    )
    c = quantize_embeddings(
        ensure_min_partitions(corpus), corpus_id, vec_col
    ).select(F.col(corpus_id).alias("_cid"), F.col("qvec").alias("_cvec"))
    scored = c.join(F.broadcast(q), F.col("_qid") != F.col("_cid")).withColumn(
        "cosine_sim",
        F.round(int_cos(F.col("_qvec"), F.col("_cvec")), round_digits),
    )
    top = first_row(
        scored,
        n=k,
        partition_by=["_qid"],
        order_by=[F.col("cosine_sim").desc(), F.col("_cid").asc()],
        return_index_column=True,
        index_column_name="row_index",
    )
    return top.select(
        F.col("_qid").alias(query_id),
        F.col("_cid").alias(corpus_id),
        "cosine_sim",
        F.col("row_index").cast("int").alias("row_index"),
    )


def hyperplanes(n_planes: int, dim: int) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (fixed xorshift64 stream),
    values in [-1, 1] — embedded as literals so results are reproducible."""
    planes = []
    state = 2_463_534_242
    for _ in range(n_planes):
        row = []
        for _ in range(dim):
            state ^= (state << 13) & 0xFFFFFFFFFFFFFFFF
            state ^= state >> 7
            state ^= (state << 17) & 0xFFFFFFFFFFFFFFFF
            row.append((state % 2_000_001) / 1_000_000.0 - 1.0)
        planes.append(row)
    return planes


def random_projection(
    df: DataFrame,
    out_dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "projected",
    dim: int = 64,
    round_digits: int = 6,
) -> DataFrame:
    """Johnson-Lindenstrauss dimensionality reduction with a FIXED
    deterministic projection matrix (the same xorshift64 stream as
    :func:`hyperplanes`, scaled ``1/sqrt(out_dim)``) — distances and inner
    products are preserved within JL distortion, so a 64 -> 16 projection
    makes every downstream brute-force / LSH / IVF pass ~4x cheaper as a
    prefilter, re-scoring survivors at full dimension.

    Determinism is the point: the matrix is code, not state — any two
    sessions (and the SQL oracle) project identically, so projected
    vectors are joinable across runs. Pure HOF projection: the matrix
    embeds as literals, no shuffle, no UDF, whole-stage codegen.
    """
    if out_dim < 1:
        raise ValueError(f"out_dim must be >= 1 (got {out_dim})")
    from ..functions.sqlexpr import dlit, dot_fold_sql, quote_ident

    planes = hyperplanes(out_dim, dim)
    scale = 1.0 / (out_dim ** 0.5)
    # one F.expr parse instead of out_dim * dim F.lit py4j round trips
    # (identical analyzed tree: same zip_with/aggregate fold, same
    # double literals — see functions/sqlexpr.py)
    v = quote_ident(vec_col)
    comps = [
        f"round({dot_fold_sql(v, plane)} * {dlit(scale)}, {int(round_digits)})"
        for plane in planes
    ]
    proj = F.expr("array(" + ",".join(comps) + ")")
    return df.select(F.col(id_col), proj.alias(out_col))


def plane_signature(vec: Column | str, planes: list[list[float]]) -> Column:
    """Sign-bit signature of ``vec`` against fixed hyperplanes, packed into
    one long (bit i set iff dot(vec, planes[i]) > 0). JVM-side only.

    Pass the column NAME (str) where possible: the signature tree embeds
    ``n_planes * dim`` literals, and rendering it as one ``F.expr`` SQL
    string costs a single py4j round trip instead of one per literal
    (~800 ms -> ~1 ms driver time for 12 x 64 — bit-identical analyzed
    expression, pinned by test_plane_signature_sql_identity)."""
    if isinstance(vec, str):
        from ..functions.sqlexpr import dot_fold_sql, quote_ident

        v = quote_ident(vec)
        bits = [
            f"(case when {dot_fold_sql(v, plane)} > 0 "
            f"then cast({1 << i} as bigint) else cast(0 as bigint) end)"
            for i, plane in enumerate(planes)
        ]
        return F.expr("(" + " + ".join(bits) + ")")
    bits = [
        F.when(
            F.aggregate(
                F.zip_with(
                    vec.cast("array<double>"),
                    F.array(*[F.lit(w) for w in plane]),
                    lambda x, w: x * w,
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            > 0,
            F.lit(1 << i).cast("long"),
        ).otherwise(F.lit(0).cast("long"))
        for i, plane in enumerate(planes)
    ]
    out = bits[0]
    for bcol in bits[1:]:
        out = out + bcol
    return out


def lsh_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    corpus_id: str = "vec_id",
    query_id: str = "query_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    dim: int = 64,
    round_digits: int = 6,
) -> DataFrame:
    """Approximate top-k: random-hyperplane signature buckets, then exact
    cosine within the query's bucket only. Recall < 1 by design; the scale
    path when brute force is too expensive. Same output schema as
    :func:`cosine_topk`.
    """
    planes = hyperplanes(n_planes, dim)

    q = queries.select(
        F.col(query_id).alias("_qid"),
        F.col(vec_col).alias("_qvec"),
        plane_signature(vec_col, planes).alias("_bucket"),
    )
    c = corpus.select(
        F.col(corpus_id).alias("_cid"),
        F.col(vec_col).alias("_cvec"),
        plane_signature(vec_col, planes).alias("_bucket"),
    )
    scored = (
        c.join(F.broadcast(q), on="_bucket")
        .filter(F.col("_qid") != F.col("_cid"))
        .withColumn(
            "cosine_sim",
            F.round(cosine_similarity(F.col("_qvec"), F.col("_cvec")), round_digits),
        )
    )
    top = first_row(
        scored,
        n=k,
        partition_by=["_qid"],
        order_by=[F.col("cosine_sim").desc(), F.col("_cid").asc()],
        return_index_column=True,
        index_column_name="row_index",
    )
    return top.select(
        F.col("_qid").alias(query_id),
        F.col("_cid").alias(corpus_id),
        "cosine_sim",
        F.col("row_index").cast("int").alias("row_index"),
    )


def lsh_banded_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    bands: int = 4,
    planes_per_band: int = 3,
    corpus_id: str = "vec_id",
    query_id: str = "query_id",
    vec_col: str = "embedding",
    dim: int = 64,
    round_digits: int = 6,
) -> DataFrame:
    """Approximate top-k with multi-band OR-amplification: a point is a
    candidate if it shares ANY of the ``bands`` band signatures
    (``planes_per_band`` sign bits each) with the query.

    This is the production LSH shape (single-bucket
    :func:`lsh_cosine_topk`'s recall collapses as planes grow — measured
    in BASELINE.md; OR-ing bands recovers it at bounded candidate cost:
    P[candidate] = 1-(1-p^r)^B for per-plane agreement p). Plan shape:
    band signatures explode to ``bands`` rows per point, the band
    equi-join carries ids only, candidates are de-duplicated BEFORE the
    exact-cosine scoring (one scoring per unique pair), and vectors
    re-attach afterwards — query side broadcast (small), corpus side
    size-gated by the planner. Same output schema as :func:`cosine_topk`.
    """
    planes = hyperplanes(bands * planes_per_band, dim)

    def banded(df: DataFrame, ident: str) -> DataFrame:
        sigs = [
            plane_signature(
                vec_col,
                planes[b * planes_per_band : (b + 1) * planes_per_band],
            )
            for b in range(bands)
        ]
        return df.select(
            F.col(ident), F.posexplode(F.array(*sigs)).alias("_band", "_bits")
        )

    c_banded = banded(corpus.select(F.col(corpus_id).alias("_cid"), vec_col), "_cid")
    q_banded = banded(queries.select(F.col(query_id).alias("_qid"), vec_col), "_qid")
    cand = (
        c_banded.join(F.broadcast(q_banded), on=["_band", "_bits"])
        .filter(F.col("_qid") != F.col("_cid"))
        .select("_qid", "_cid")
        .distinct()
    )
    qvecs = queries.select(
        F.col(query_id).alias("_qid"), F.col(vec_col).alias("_qvec")
    )
    cvecs = corpus.select(
        F.col(corpus_id).alias("_cid"), F.col(vec_col).alias("_cvec")
    )
    scored = (
        cand.join(F.broadcast(qvecs), on="_qid")
        .join(cvecs, on="_cid")
        .withColumn(
            "cosine_sim",
            F.round(cosine_similarity(F.col("_qvec"), F.col("_cvec")), round_digits),
        )
    )
    top = first_row(
        scored,
        n=k,
        partition_by=["_qid"],
        order_by=[F.col("cosine_sim").desc(), F.col("_cid").asc()],
        return_index_column=True,
        index_column_name="row_index",
    )
    return top.select(
        F.col("_qid").alias(query_id),
        F.col("_cid").alias(corpus_id),
        "cosine_sim",
        F.col("row_index").cast("int").alias("row_index"),
    )


def ivf_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    corpus_id: str = "vec_id",
    query_id: str = "query_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """IVF-style approximate top-k: a coarse quantizer partitions the corpus
    into ``n_centroids`` inverted lists; each query probes only its
    ``n_probe`` nearest lists and scores exactly within them.

    The coarse centroids are the corpus vectors with id < ``n_centroids``
    (deterministic — no iterative k-means, so the Spark plan and the SQL
    oracle compute bit-identical assignments; swap in a trained codebook at
    scale without changing the dataflow). Assignment uses a broadcast of the
    centroid table and a map-side ``max(struct(...))`` partial aggregate, so
    the only shuffles are the final per-corpus-id argmax and the per-query
    top-k — at 100 TB the corpus is scanned once and never self-joined.

    Same output schema as :func:`cosine_topk`:
    (query_id, vec_id, cosine_sim, row_index 1..k).

    Factored as :func:`ivf_index_build` (the corpus-side inverted
    lists) composed with :func:`ivf_probe_index` (the query-side probe)
    — the single arithmetic path shared with the persisted-index
    incremental variant, so one-shot and probe-a-saved-index results
    can never drift.
    """
    index = ivf_index_build(
        corpus,
        n_centroids=n_centroids,
        corpus_id=corpus_id,
        vec_col=vec_col,
        round_digits=round_digits,
    )
    return ivf_probe_index(
        index,
        queries,
        k=k,
        n_centroids=n_centroids,
        n_probe=n_probe,
        corpus_id=corpus_id,
        query_id=query_id,
        vec_col=vec_col,
        round_digits=round_digits,
        # the index was built by ivf_index_build two lines up, which
        # itself validated the centroid convention against the raw
        # corpus — re-counting here would evaluate the build agg twice
        validate=False,
    )


def _nearest_centroids(
    df: DataFrame,
    cent: DataFrame,
    id_alias: str,
    n_keep: int,
    round_digits: int,
) -> DataFrame:
    """id -> its ``n_keep`` nearest centroids (rounded cosine, centroid-id
    tie-break). ``df`` carries ``(id_alias, _vec)``; ``cent`` is the
    broadcast-sized ``(_centroid_id, _cent_vec)`` table."""
    scored = df.join(F.broadcast(cent)).withColumn(
        "_csim",
        F.round(
            cosine_similarity(F.col("_vec"), F.col("_cent_vec")), round_digits
        ),
    )
    # max_by-style partial agg: struct max orders by (sim, -centroid_id),
    # i.e. ties go to the smaller centroid id — map-side combinable.
    if n_keep == 1:
        best = scored.groupBy(id_alias, "_vec").agg(
            F.max(
                F.struct(
                    F.col("_csim").alias("s"),
                    (-F.col("_centroid_id")).cast("long").alias("negid"),
                )
            ).alias("_best")
        )
        return best.select(
            id_alias, "_vec", (-F.col("_best.negid")).alias("_centroid_id")
        )
    top = first_row(
        scored,
        n=n_keep,
        partition_by=[id_alias],
        order_by=[F.col("_csim").desc(), F.col("_centroid_id").asc()],
    )
    return top.select(id_alias, "_vec", "_centroid_id")


def ivf_index_build(
    corpus: DataFrame,
    n_centroids: int = 16,
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """The corpus side of IVF as a PERSISTABLE table: every corpus
    vector assigned to its nearest coarse centroid — the inverted
    lists. Output ``(corpus_id, centroid_id, vec_col)``; the coarse
    centroids (corpus vectors with id < ``n_centroids``, the family's
    deterministic quantizer) are rows OF the index (their own
    ``corpus_id`` < ``n_centroids``), so a saved index is
    self-contained — :func:`ivf_probe_index` re-derives the centroid
    table from it with one broadcast-sized filter and never needs the
    raw corpus.

    This is the expensive half of IVF (one full corpus scan against the
    broadcast centroid table, map-side-combinable argmax) and the half
    that does NOT change when tomorrow's queries arrive: build it once,
    ``save_table(..., partition_by='centroid_id')`` so each inverted
    list is its own partition directory, and every subsequent batch
    pays only probe cost — the continuous-ingest shape
    (:func:`~hds_functions_spark.operators.dedup.minhash_pairs_incremental`
    for embeddings). At 100 TB the index table is the corpus plus one
    long per row; re-assignment per query batch would be the scan that
    dominates, and this factoring is what removes it.
    """
    cent = _index_centroids(corpus, corpus_id, vec_col, n_centroids)
    corpus = ensure_min_partitions(corpus)  # parallelise centroid assignment
    assigned = _nearest_centroids(
        corpus.select(
            F.col(corpus_id).alias("_cid"), F.col(vec_col).alias("_vec")
        ),
        cent,
        "_cid",
        1,
        round_digits,
    )
    return assigned.select(
        F.col("_cid").alias(corpus_id),
        F.col("_centroid_id").alias("centroid_id"),
        F.col("_vec").alias(vec_col),
    )


def _index_centroids(
    index: DataFrame,
    corpus_id: str,
    vec_col: str,
    n_centroids: int,
    validate: bool = True,
) -> DataFrame:
    """Re-derive the coarse-centroid table from a persisted IVF index
    (the rows whose ``corpus_id`` < ``n_centroids`` — the family's
    self-contained quantizer convention, see :func:`ivf_index_build`).

    With ``validate=True`` (the default for every consumer that would
    otherwise FAIL OPEN) the derived table is counted and a
    ``ValueError`` is raised when it is EMPTY or far below
    ``n_centroids`` (fewer than half): an index whose id space is
    non-zero-based or non-numeric yields an empty centroid table,
    which would make a probe generate zero candidates and a
    decontamination pass read as 'no contamination found' — the worst
    silent failure mode. A small shortfall is tolerated (a filtered
    corpus legitimately loses some low ids — e.g. a bucket-split
    corpus/eval partition); the half threshold separates 'a few lists
    missing' from 'wrong id space'. The count is one extra scan
    bounded to ``n_centroids`` output rows (the centroid derivation
    itself already scans); callers on a hot path whose index is
    validated-by-construction may pass ``validate=False``.
    """
    cent = index.filter(F.col(corpus_id) < n_centroids).select(
        F.col(corpus_id).alias("_centroid_id"),
        F.col(vec_col).alias("_cent_vec"),
    )
    if validate:
        n = cent.limit(n_centroids).count()
        if n == 0 or n * 2 < n_centroids:
            raise ValueError(
                f"IVF index yields {n} coarse centroids where "
                f"n_centroids={n_centroids} were expected: the quantizer "
                f"convention requires index rows with {corpus_id} in "
                f"[0, {n_centroids}) (ivf_index_build writes them). A "
                "non-zero-based or non-numeric id space would silently "
                "produce zero probe candidates — refusing to fail open."
            )
    return cent


def ivf_index_append(
    index: DataFrame,
    new_batch: DataFrame,
    n_centroids: int = 16,
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """The ingest half of the persisted IVF story: assign a NEW
    embedding batch against the index's EXISTING coarse centroids
    (re-derived from index rows with id < ``n_centroids``) and return
    the batch's index rows ``(corpus_id, centroid_id, vec_col)`` —
    append them to the saved index table and it has absorbed the batch
    with NO re-assignment of the standing corpus and no centroid
    recomputation (the quantizer is frozen; periodic re-training is a
    separate, deliberate operation because it invalidates every
    existing assignment).

    Cost is one broadcast-join scan of the batch — proportional to the
    ingest, independent of corpus size: the same daily-ingest shape as
    :func:`pq_encode` against frozen codebooks and
    :func:`~hds_functions_spark.operators.dedup.minhash_pairs_incremental`.
    """
    cent = _index_centroids(index, corpus_id, vec_col, n_centroids)
    assigned = _nearest_centroids(
        new_batch.select(
            F.col(corpus_id).alias("_cid"), F.col(vec_col).alias("_vec")
        ),
        cent,
        "_cid",
        1,
        round_digits,
    )
    return assigned.select(
        F.col("_cid").alias(corpus_id),
        F.col("_centroid_id").alias("centroid_id"),
        F.col("_vec").alias(vec_col),
    )


def ivf_assignment_drift(
    index: DataFrame,
    new_batch: DataFrame,
    n_centroids: int = 16,
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 4,
    quantizer_round_digits: int = 6,
) -> DataFrame:
    """The retrain-policy monitor every FROZEN-quantizer index needs:
    per coarse centroid, how well the standing corpus fits its list
    versus how well a new ingest batch does — ``(centroid_id,
    n_corpus, mean_sim_corpus, n_batch, mean_sim_batch, sim_delta)``
    where each ``mean_sim`` is the average cosine between a list's
    members and its centroid and ``sim_delta = mean_sim_batch -
    mean_sim_corpus`` (NULL for lists one side does not touch).

    A persistently negative ``sim_delta`` (the batch sits farther from
    the centroids than the corpus the quantizer was trained on) or a
    batch piling into few lists is the signal that the data
    distribution has drifted and the deliberate retrain-and-rebuild
    (:func:`ivf_index_build` from scratch) is due — the decision
    :func:`ivf_index_append` explicitly does not make for you.

    Cost: one broadcast-sized centroid join over each side + two
    map-side-combinable aggregates to ``n_centroids`` rows; the corpus
    side reads the saved index table, never the raw corpus.

    ``quantizer_round_digits`` is the similarity rounding used when
    assigning the NEW batch to centroids and must match the
    ``round_digits`` the index was BUILT with (both default 6): the
    corpus side reuses the stored assignments, so a mismatched batch
    rounding would make tie-breaks inconsistent between the two sides
    and skew per-list counts. ``round_digits`` only rounds the output
    statistics.
    """
    cent = _index_centroids(index, corpus_id, vec_col, n_centroids)
    corpus_sim = (
        index.select(
            F.col("centroid_id").alias("_centroid_id"),
            F.col(vec_col).alias("_vec"),
        )
        .join(F.broadcast(cent), on="_centroid_id")
        .groupBy("_centroid_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_corpus"),
            # the mean runs over RAW doubles and rounds once: an inner
            # per-member round would manufacture exact decimal halves
            # that Spark (decimal-string HALF_UP) and a binary-double
            # oracle then round apart at the outer digit
            F.round(
                F.avg(cosine_similarity(F.col("_vec"), F.col("_cent_vec"))),
                round_digits,
            ).alias("mean_sim_corpus"),
        )
    )
    batch_sim = (
        _nearest_centroids(
            new_batch.select(
                F.col(corpus_id).alias("_bid"), F.col(vec_col).alias("_vec")
            ),
            cent,
            "_bid",
            1,
            quantizer_round_digits,
        )
        .join(F.broadcast(cent), on="_centroid_id")
        .groupBy("_centroid_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_batch"),
            F.round(
                F.avg(cosine_similarity(F.col("_vec"), F.col("_cent_vec"))),
                round_digits,
            ).alias("mean_sim_batch"),
        )
    )
    return (
        corpus_sim.join(batch_sim, on="_centroid_id", how="full_outer")
        .select(
            F.col("_centroid_id").alias("centroid_id"),
            F.coalesce(F.col("n_corpus"), F.lit(0)).alias("n_corpus"),
            "mean_sim_corpus",
            F.coalesce(F.col("n_batch"), F.lit(0)).alias("n_batch"),
            "mean_sim_batch",
            F.round(
                F.col("mean_sim_batch") - F.col("mean_sim_corpus"),
                round_digits,
            ).alias("sim_delta"),
        )
    )


def ivf_probe_index(
    index: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    corpus_id: str = "vec_id",
    query_id: str = "query_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
    validate: bool = True,
) -> DataFrame:
    """Probe a built (typically persisted-and-reloaded) IVF index: each
    query ranks the ``n_centroids`` coarse centroids (re-derived from
    the index rows with id < ``n_centroids``), keeps its ``n_probe``
    nearest lists, and scores exactly within them. Same output schema
    and same arithmetic as :func:`ivf_cosine_topk` — that function IS
    this probe over a freshly built index.

    Scale shape: the probe set (queries × n_probe) broadcasts into the
    index scan, so a saved index partitioned by ``centroid_id`` serves
    a new embedding batch at probe-side cost only — no corpus
    re-assignment, no centroid retraining; with the probes broadcast,
    Spark can skip unprobed inverted lists via dynamic partition/file
    pruning instead of rescanning the corpus.

    ``validate=True`` (default) counts the re-derived centroid table
    and raises if it is empty/short — an index with a non-zero-based
    id space would otherwise silently probe NOTHING and return an
    empty result. Pass ``validate=False`` only when the index is
    validated-by-construction in the same plan (e.g.
    :func:`ivf_cosine_topk`, which builds it two lines up — counting
    there would evaluate the build aggregation twice).
    """
    cent = _index_centroids(
        index, corpus_id, vec_col, n_centroids, validate=validate
    )
    probes = _nearest_centroids(
        queries.select(
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
    scored = (
        assigned.join(F.broadcast(probes), on="_centroid_id")
        .filter(F.col("_qid") != F.col("_cid"))
        .withColumn(
            "cosine_sim",
            F.round(
                cosine_similarity(F.col("_qvec"), F.col("_cvec")), round_digits
            ),
        )
    )
    top = first_row(
        scored,
        n=k,
        partition_by=["_qid"],
        order_by=[F.col("cosine_sim").desc(), F.col("_cid").asc()],
        return_index_column=True,
        index_column_name="row_index",
    )
    return top.select(
        F.col("_qid").alias(query_id),
        F.col("_cid").alias(corpus_id),
        "cosine_sim",
        F.col("row_index").cast("int").alias("row_index"),
    )


def embedding_centroids(
    df: DataFrame,
    group_cols: list[str],
    vec_col: str = "embedding",
    dim: int = 64,
    round_digits: int | None = None,
) -> DataFrame:
    """Element-wise mean vector per group (``centroid``) plus member count.

    The centroid aggregation every embedding pipeline needs (cluster
    centers for IVF coarse quantisation, per-source drift monitoring,
    class prototypes). Expressed as ``dim`` scalar ``avg`` aggregates
    reassembled into one array — partial aggregation combines map-side, so
    the shuffle carries one partial sum vector per (partition, group), not
    the corpus. ``round_digits`` rounds each component (cross-engine float
    parity); None keeps full precision.
    """
    comps = [
        F.avg(F.col(vec_col)[i]).alias(f"_c{i}") for i in range(dim)
    ]
    agged = df.groupBy(*group_cols).agg(
        F.count("*").alias("n_vectors"), *comps
    )
    parts = [F.col(f"_c{i}") for i in range(dim)]
    if round_digits is not None:
        parts = [F.round(p, round_digits) for p in parts]
    return agged.select(
        *group_cols, "n_vectors", F.array(*parts).alias("centroid")
    )


# --- product quantization (Jegou, Douze & Schmid 2011) ---------------------

def _pq_validate(dim: int, m: int):
    if m < 1 or dim % m != 0:
        raise ValueError(
            f"m must divide the vector dimension (dim={dim}, m={m})"
        )


def pq_train(
    df: DataFrame,
    m: int = 4,
    k: int = 8,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    round_digits: int = 6,
) -> list[list[list[float]]]:
    """Train a product-quantization codebook (Jegou, Douze & Schmid,
    "Product Quantization for Nearest Neighbor Search", TPAMI 2011):
    split the vector into ``m`` contiguous subspaces and fit an
    independent ``k``-centroid k-means per subspace. Returns ``m``
    codebooks of ``k`` sub-centroids each.

    The memory story PQ buys at corpus scale: a vector compresses to
    ``m`` small codes (here one byte each at k <= 256) instead of
    ``dim`` floats — with m=4, k=8 a 64-dim float64 vector is 4 bytes
    of codes vs 512 raw, while ADC still scores against FLOAT
    sub-centroids (quantization error only on the corpus side, not the
    query — asymmetric distance, the paper's key accuracy move over
    symmetric code-to-code distance).

    Training reuses :func:`clustering.kmeans_fit` per subspace on a
    sliced projection: each of the ``m * n_iter`` Lloyd rounds is one
    codegen assignment + one groupBy shipping ``k*(dim/m + 1)`` scalars
    to the driver; seeds derive from the deterministic id-hash spread,
    so the codebook — and everything downstream — is reproducible by a
    SQL oracle.
    """
    from .clustering import kmeans_fit

    if dim is None:
        first = df.select(F.size(F.col(vec_col)).alias("d")).first()
        if first is None:
            raise ValueError("cannot train PQ on an empty DataFrame")
        dim = first["d"]
    _pq_validate(dim, m)
    sub = dim // m
    books = []
    for s in range(m):
        sliced = df.select(
            F.col(id_col).alias(id_col),
            F.slice(F.col(vec_col), s * sub + 1, sub).alias("_sub"),
        )
        books.append(
            kmeans_fit(
                sliced, vec_col="_sub", id_col=id_col, k=k,
                n_iter=n_iter, dim=sub, round_digits=round_digits,
            )
        )
    return books


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode every vector as its per-subspace nearest-centroid indices:
    ``(vec_id, code_0 .. code_{m-1})`` scalar int columns (scalar, not
    array, so result frames canonicalise/sort cleanly). One pure
    projection — the codebooks are array literals, the argmin is the
    shared lexicographic struct-min (ties to the lowest index, malformed
    vectors pinned to +Inf -> code 0) — zero shuffle, zero UDFs,
    pushdown-friendly at any scale."""
    from ..functions.sqlexpr import quote_ident

    m = len(codebooks)
    sub = len(codebooks[0][0])
    v = quote_ident(vec_col)
    cols = [F.col(id_col).alias("vec_id")]
    for s in range(m):
        # one F.expr parse per subspace instead of k struct/lit trees
        # (bit-identical analyzed expression; see functions/sqlexpr.py)
        best = F.expr(
            _best_centroid_sql(f"slice({v}, {s * sub + 1}, {sub})", codebooks[s])
        )
        cols.append(best["i"].cast("int").alias(f"code_{s}"))
    return df.select(*cols)


def pq_codebooks_to_rows(spark, codebooks: list[list[list[float]]]) -> DataFrame:
    """The trained PQ codebooks as a PERSISTABLE frame: one row per
    (subspace, cluster) with the sub-centroid as ``array<double>`` —
    ``m * k`` rows total (tens of floats each), the fixed-size model
    state that makes the PQ index incremental: train once on the
    standing corpus, ``save_table`` this frame next to the codes table,
    and every later ingest/query batch loads it back instead of
    re-running Lloyd. Inverse: :func:`pq_codebooks_from_rows`."""
    rows = [
        (s, c, [float(x) for x in cent])
        for s, book in enumerate(codebooks)
        for c, cent in enumerate(book)
    ]
    return spark.createDataFrame(
        rows, "subspace int, cluster int, centroid array<double>"
    )


def pq_codebooks_from_rows(df: DataFrame) -> list[list[list[float]]]:
    """Rebuild the nested-list codebooks from a (re-loaded)
    :func:`pq_codebooks_to_rows` frame. The collect is the documented
    scalar boundary of the PQ family: ``m * k`` sub-centroids
    (kilobytes at any corpus scale — the codebook is model state, not
    data), after which encoding and ADC scoring are pure literal-
    codebook projections again. Doubles round-trip parquet exactly, so
    a saved-and-loaded codebook scores bit-identically to the trained
    one."""
    rows = df.select("subspace", "cluster", "centroid").collect()
    if not rows:
        raise ValueError("empty codebook frame")
    m = max(r["subspace"] for r in rows) + 1
    k = max(r["cluster"] for r in rows) + 1
    books: list[list[list[float] | None]] = [
        [None] * k for _ in range(m)
    ]
    for r in rows:
        books[r["subspace"]][r["cluster"]] = [float(x) for x in r["centroid"]]
    missing = [
        (s, c) for s in range(m) for c in range(k) if books[s][c] is None
    ]
    if missing:
        raise ValueError(f"codebook frame has holes at {missing[:5]}")
    return books  # type: ignore[return-value]


def _best_centroid_sql(vec_sql: str, centroids: list[list[float]]) -> str:
    """:func:`clustering._best_centroid` generalised to a column
    EXPRESSION (a slice), rendered as SQL text: struct(dist, idx)
    argmin over literal centroids, +Inf-pinned on malformed input.
    Parsed by one ``F.expr`` call — identical analyzed tree to the
    per-centroid Column construction it replaced, for one py4j round
    trip instead of O(k) (see functions/sqlexpr.py)."""
    from ..functions.sqlexpr import sq_dist_fold_sql

    structs = [
        "named_struct('d', coalesce("
        + sq_dist_fold_sql(vec_sql, c)
        + ", double('Infinity')), 'i', "
        + str(i)
        + ")"
        for i, c in enumerate(centroids)
    ]
    return "array_min(array(" + ",".join(structs) + "))"


def pq_adc_topk(
    codes: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    k: int = 5,
    query_id: str = "query_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """Asymmetric-distance top-k: approximate nearest corpus vectors per
    query, scoring the query's FLOAT subvectors against each corpus
    vector's sub-CENTROIDS (codes look the centroid up; the query is
    never quantized — ADC, the accurate half of the PQ paper's two
    estimators). Distance = sum over subspaces of squared-L2(q_sub,
    centroid[code_sub]).

    Plan shape: the query side broadcasts (suite-sized) against the
    codes table — which carries ``m`` ints per corpus vector, the whole
    point: at 100 TB the scan side is ~byte-per-subspace, an order of
    magnitude less I/O than raw vectors, and the distance arithmetic is
    ``m`` small folds against literal codebooks instead of a ``dim``
    fold. Self-matches (query_id == vec_id) are excluded, distances
    round before the rank (ties by vec_id), and the per-query top-k
    rides WindowGroupLimit. Output: ``(query_id, vec_id, adc_dist,
    rank)``."""
    if k < 1:
        raise ValueError(f"k must be >= 1 (got {k})")
    from ..functions.sqlexpr import darray2, quote_ident

    m = len(codebooks)
    sub = len(codebooks[0][0])
    v = quote_ident(vec_col)
    # one F.expr parse for the whole ADC distance chain instead of
    # m * k * sub literal round trips (bit-identical analyzed tree:
    # same left-assoc sum from 0.0, same zip_with/aggregate folds;
    # centroid lookup stays a literal array-of-arrays indexed by code)
    terms = ["0.0D"]
    for s in range(m):
        terms.append(
            f"aggregate(zip_with(cast(slice({v}, {s * sub + 1}, {sub}) "
            f"as array<double>), get({darray2(codebooks[s])}, `code_{s}`), "
            "(x, y) -> (x - y) * (x - y)), 0.0D, (acc, t) -> acc + t)"
        )
    dist = F.expr(" + ".join(terms))
    scored = (
        codes.join(
            F.broadcast(
                queries.select(F.col(query_id).alias("query_id"), vec_col)
            ),
            F.col("query_id") != F.col("vec_id"),
        )
        .select(
            "query_id",
            "vec_id",
            F.round(dist, round_digits).alias("adc_dist"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), F.col("vec_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


# --- principal components via matrix-free power iteration ------------------

def pca_power_components(
    df: DataFrame,
    vec_col: str = "embedding",
    n_components: int = 2,
    n_iter: int = 3,
    dim: int | None = None,
    round_digits: int = 4,
) -> tuple[list[float], list[list[float]]]:
    """Top principal components of an embedding column by MATRIX-FREE
    power iteration with deflation — PCA without ever materialising the
    covariance matrix: each iteration computes ``C v = (1/n) sum_i
    (x_i - mu) ((x_i - mu) . v)`` directly as ONE data pass (a per-row
    fold for the projection scalar, then ``dim`` combinable sums), so
    the shuffled state per pass is ``dim`` scalars no matter the corpus
    size — the same driver-scalars-per-iteration discipline as
    :func:`clustering.kmeans_fit`. Components after the first run on
    the deflated residual ``y = x - mu - ((x - mu) . v_prev) v_prev``,
    spelled as expressions (the data is never rewritten).

    Deterministic and SQL-replayable: the start vector is the fixed
    uniform unit vector, every ``C v`` coordinate and every normalised
    component rounds to ``round_digits`` per iteration (decoupling the
    result from partial-aggregation order — the k-means trick), and
    dot products are left-associative folds equal to an explicit SQL
    chain. Returns ``(mean, components)`` — driver-side floats sized
    ``dim`` and ``n_components x dim``.

    Use: project for a low-dim ANN prefilter or visualisation
    (:func:`pca_project`), or whiten before cosine workloads where a
    dominant direction swamps the geometry.
    """
    if n_components < 1 or n_iter < 1:
        raise ValueError(
            f"need n_components >= 1 and n_iter >= 1 "
            f"(got {n_components}, {n_iter})"
        )
    if dim is None:
        first = df.select(F.size(F.col(vec_col)).alias("d")).first()
        if first is None:
            raise ValueError("cannot fit PCA on an empty DataFrame")
        dim = first["d"]
    v = F.col(vec_col).cast("array<double>")
    # all roundings happen Spark-side (F.round = HALF_UP) or via the
    # half-away helper below — never Python's round(), whose banker's
    # rounding would diverge from the SQL oracle at .5 boundaries
    mean_row = df.agg(
        *[F.round(F.avg(F.get(v, j)), round_digits).alias(f"_m{j}")
          for j in range(dim)],
        F.count(F.lit(1)).alias("_n"),
    ).collect()[0]
    mu = [float(mean_row[f"_m{j}"]) for j in range(dim)]
    n = mean_row["_n"]

    import math

    def _round_half_away(x: float, d: int) -> float:
        scale = 10 ** d
        return math.copysign(math.floor(abs(x) * scale + 0.5), x) / scale

    def centered(j: int, vcol=None):
        return F.get(vcol if vcol is not None else v, j) - mu[j]

    components: list[list[float]] = []
    for _c in range(n_components):
        comp = [1.0 / (dim ** 0.5)] * dim  # fixed uniform start
        for _ in range(n_iter):
            # Bind the per-row deflation projections and the iteration
            # projection as REAL columns, never inlined subexpressions:
            # inlining duplicates the 64-term dot chains 64x inside every
            # aggregate column and the expression tree alone OOMs the
            # driver. A bound column evaluates once per row — exactly how
            # the SQL oracle binds them via CTEs, so values are identical.
            cur = df.select(F.col(vec_col).cast("array<double>").alias("_v"))
            vcol = F.col("_v")
            for i, p in enumerate(components):
                sp = F.lit(0.0)
                for j in range(dim):
                    sp = sp + centered(j, vcol) * p[j]
                cur = cur.withColumn(f"_sp{i}", sp)

            def resid(j: int):
                e = centered(j, vcol)
                for i, p in enumerate(components):
                    e = e - F.col(f"_sp{i}") * p[j]
                return e

            s = F.lit(0.0)
            for j in range(dim):
                s = s + resid(j) * comp[j]
            cur = cur.withColumn("_s", s)
            row = cur.agg(
                *[
                    F.round(F.sum(F.col("_s") * resid(j)) / n, round_digits)
                    .alias(f"_c{j}")
                    for j in range(dim)
                ]
            ).collect()[0]
            cv = [float(row[f"_c{j}"]) for j in range(dim)]
            norm = sum(x * x for x in cv) ** 0.5
            if norm == 0:  # degenerate direction; keep the start vector
                break
            comp = [_round_half_away(x / norm, round_digits) for x in cv]
        components.append(comp)
    return mu, components


def pca_project(
    df: DataFrame,
    mean: list[float],
    components: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """Project each vector onto the fitted components: ``(vec_id, pc_0,
    pc_1, ...)`` scalar columns, one pure projection against literal
    mean/component vectors — zero shuffle at any scale (the ANN
    prefilter / visualisation / whitening input)."""
    v = F.col(vec_col).cast("array<double>")
    cols = [F.col(id_col).alias("vec_id")]
    for c, comp in enumerate(components):
        acc = F.lit(0.0)
        for j, w in enumerate(comp):
            acc = acc + (F.get(v, j) - mean[j]) * w
        cols.append(F.round(acc, round_digits).alias(f"pc_{c}"))
    return df.select(*cols)


def lsh_multiprobe_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    corpus_id: str = "vec_id",
    query_id: str = "query_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    dim: int = 64,
    round_digits: int = 6,
) -> DataFrame:
    """Multi-probe LSH top-k (Lv et al., "Multi-Probe LSH", VLDB 2007):
    each query probes its own hyperplane bucket AND every bucket at
    Hamming distance 1 (one sign bit flipped) — the buckets a borderline
    vector most likely fell into. Recall rises toward brute force
    without more hash tables or a denser corpus index: candidate volume
    grows ~(n_planes + 1)x per query while the corpus side still
    carries ONE signature per vector and the join stays equi on the
    bucket key (at 100 TB: same bucket-partitioned corpus layout as
    :func:`lsh_cosine_topk`, only the broadcast query side fans out).
    A corpus vector has one bucket and the probe set is distinct, so
    each (query, candidate) pair arises at most once — no dedup pass.
    Exact cosine within candidates; output schema matches
    :func:`cosine_topk`.
    """
    planes = hyperplanes(n_planes, dim)
    sig = plane_signature(vec_col, planes)
    probes = F.array(
        sig, *[sig.bitwiseXOR(F.lit(1 << i)) for i in range(n_planes)]
    )
    q = queries.select(
        F.col(query_id).alias("_qid"),
        F.col(vec_col).alias("_qvec"),
        F.explode(probes).alias("_bucket"),
    )
    c = corpus.select(
        F.col(corpus_id).alias("_cid"),
        F.col(vec_col).alias("_cvec"),
        plane_signature(vec_col, planes).alias("_bucket"),
    )
    scored = (
        c.join(F.broadcast(q), on="_bucket")
        .filter(F.col("_qid") != F.col("_cid"))
        .withColumn(
            "cosine_sim",
            F.round(
                cosine_similarity(F.col("_qvec"), F.col("_cvec")), round_digits
            ),
        )
    )
    top = first_row(
        scored,
        n=k,
        partition_by=["_qid"],
        order_by=[F.col("cosine_sim").desc(), F.col("_cid").asc()],
        return_index_column=True,
        index_column_name="row_index",
    )
    return top.select(
        F.col("_qid").alias(query_id),
        F.col("_cid").alias(corpus_id),
        "cosine_sim",
        F.col("row_index").cast("int").alias("row_index"),
    )


def knn_outlier_scores(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    corpus_id: str = "vec_id",
    query_id: str = "query_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """k-th-nearest-neighbour cosine-distance outlier scores: for each
    query vector, ``outlier_score = 1 - cos(k-th NN)`` — the classic
    distance-based outlier signal (Ramaswamy et al. 2000) a curation
    pipeline uses to audit an embedding column for junk clusters,
    encoder failures and off-distribution content before
    embedding-dependent stages (SemDeDup, ANN dedup) trust it.

    Exact by construction (it reuses :func:`cosine_topk`'s brute-force
    scoring), so it is the AUDIT-grade path: run it over a
    deterministic SAMPLE of queries against the full corpus — linear in
    corpus size per query, never corpus x corpus. Queries with fewer
    than ``k`` neighbours (corpus smaller than k+1) fall back to their
    farthest available neighbour; ``n_neighbors`` reports which.
    Output: ``(query_id, kth_sim, outlier_score, n_neighbors)``.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1 (got {k})")
    top = cosine_topk(
        corpus,
        queries,
        k=k,
        corpus_id=corpus_id,
        query_id=query_id,
        vec_col=vec_col,
        round_digits=round_digits,
    )
    w = Window.partitionBy(query_id).orderBy(F.col("row_index").desc())
    return (
        top.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            query_id,
            F.col("cosine_sim").alias("kth_sim"),
            F.round(F.lit(1.0) - F.col("cosine_sim"), round_digits).alias(
                "outlier_score"
            ),
            F.col("row_index").cast("int").alias("n_neighbors"),
        )
    )


def truncated_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dims: int,
    k: int = 5,
    corpus_id: str = "vec_id",
    query_id: str = "query_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """Exact top-k cosine neighbours computed on the FIRST ``dims``
    components only — the Matryoshka-style prefix-truncation regime
    (Kusupati et al. 2022): at 100 TB the dominant ANN costs (shuffle
    bytes, pairwise arithmetic, index state) all scale with the stored
    dimension, so the practical question is how few prefix dims keep
    recall — answered by :func:`similarity.py`'s recall-audit queries
    pairing this against the full-dimension top-k.

    A two-line composition by design: slice both sides' vectors, then
    reuse :func:`cosine_topk` (same brute-force scoring, same
    determinism contract). Raises if any vector is shorter than
    ``dims`` would silently allow — the slice is strict.
    """
    if dims < 1:
        raise ValueError(f"dims must be >= 1 (got {dims})")
    c = corpus.select(
        F.col(corpus_id),
        F.slice(F.col(vec_col), 1, dims).alias(vec_col),
    )
    q = queries.select(
        F.col(query_id),
        F.slice(F.col(vec_col), 1, dims).alias(vec_col),
    )
    return cosine_topk(
        c, q, k=k, corpus_id=corpus_id, query_id=query_id,
        vec_col=vec_col, round_digits=round_digits,
    )
