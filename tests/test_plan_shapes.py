"""Structural plan assertions for the round-5 operators: the docstrings
make plan-shape claims (zero-shuffle, broadcast, bounded exchanges) —
these tests pin them so a refactor that silently degrades the plan fails
CI, not a 100 TB run."""

import pytest
from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet("/root/testdata/sf0.001/documents.parquet")


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")


def test_char_entropy_zero_shuffle(docs):
    from hds_functions_spark.operators.profiling import char_entropy_scores

    assert "Exchange" not in _plan(char_entropy_scores(docs))


def test_script_ratios_zero_shuffle(docs):
    from hds_functions_spark.functions.text import add_script_ratios

    assert "Exchange" not in _plan(add_script_ratios(docs))


def test_strip_markup_zero_shuffle(docs):
    from hds_functions_spark.operators.cleaning import strip_markup

    assert "Exchange" not in _plan(strip_markup(docs))


def test_random_projection_zero_shuffle(emb):
    from hds_functions_spark.operators.similarity import random_projection

    assert "Exchange" not in _plan(random_projection(emb, out_dim=8))


def test_quantize_zero_shuffle(emb):
    from hds_functions_spark.operators.similarity import quantize_embeddings

    assert "Exchange" not in _plan(quantize_embeddings(emb))


def test_quantized_topk_broadcasts_queries(emb):
    from hds_functions_spark.operators.similarity import quantized_cosine_topk

    qs = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    plan = _plan(quantized_cosine_topk(emb, qs, k=5))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    # top-k prunes map-side before the final per-query sort
    assert "WindowGroupLimit" in plan


def test_minhash_signatures_no_lambda(docs):
    """The signature plan is plain expressions that whole-stage codegen
    compiles: no interpreted lambda higher-order function may appear."""
    from hds_functions_spark.operators.dedup import minhash_signatures

    sigs = minhash_signatures(docs.select("doc_id", "text"))
    plan = _plan(sigs)
    assert "lambdafunction" not in plan.lower(), plan
    # after execution the final plan shows the shingle generator and the
    # partial min aggregate inside one whole-stage codegen stage (*(n))
    sigs.collect()
    final = _plan(sigs).splitlines()
    for op in ("Generate explode", "partial_min"):
        assert any(op in line and "*(" in line for line in final), (op, final)


def test_substring_signal_no_gram_text_in_shuffle(docs):
    """Grams hash to longs BEFORE the exchange: no string gram column may
    appear in any Exchange's output schema."""
    from hds_functions_spark.operators.dedup import duplicated_ngram_stats

    plan = _plan(duplicated_ngram_stats(docs, ngram=5))
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "_gram" not in line, line


def test_k_anonymity_single_aggregate_exchange(spark):
    from hds_functions_spark.operators.privacy import k_anonymity_violations

    cust = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    plan = _plan(
        k_anonymity_violations(
            cust.select("c_mktsegment", "c_nationkey"),
            ["c_mktsegment", "c_nationkey"],
        )
    )
    assert plan.count("Exchange hashpartitioning") == 1


def test_transition_counts_two_bounded_exchanges(spark):
    from hds_functions_spark.operators.events import transition_counts
    from hds_functions_spark.registry import _t

    plan = _plan(transition_counts(_t(spark, "/root/testdata/sf0.001", "events")))
    # one hash exchange for the per-key window, one for the (from, to)
    # count whose key space is |types|^2 — nothing else
    assert plan.count("Exchange hashpartitioning") == 2
    assert "partial_count" in plan  # the count is map-side combinable


def test_time_decay_broadcast_scalar_and_one_agg(spark):
    from hds_functions_spark.operators.events import time_decayed_agg
    from hds_functions_spark.registry import _t

    plan = _plan(time_decayed_agg(_t(spark, "/root/testdata/sf0.001", "events")))
    assert "BroadcastNestedLoopJoin" in plan  # 1-row scalar attach
    assert plan.count("Exchange hashpartitioning") == 1  # the key groupBy
    assert "partial_count" in plan


def test_oov_rate_broadcasts_vocab(docs):
    from hds_functions_spark.operators.profiling import build_vocabulary, oov_rate

    vocab = build_vocabulary(docs.select("text"), min_count=5)
    plan = _plan(oov_rate(docs.select("doc_id", "text"), vocab))
    assert "BroadcastHashJoin" in plan  # the corpus never shuffles to meet the vocab


def test_padding_waste_single_bounded_exchange(docs):
    from hds_functions_spark.functions.text import tokens
    from hds_functions_spark.operators.packing import padding_waste_profile

    lens = docs.select(F.size(tokens(F.col("text"))).alias("n"))
    plan = _plan(padding_waste_profile(lens, "n"))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "partial_count" in plan


def test_daily_anomalies_collapses_before_window(spark):
    from hds_functions_spark.operators.events import daily_count_anomalies
    from hds_functions_spark.registry import _t

    plan = _plan(
        daily_count_anomalies(_t(spark, "/root/testdata/sf0.001", "events"))
    )
    # the (key, day) aggregate must sit BELOW the window: partial_count
    # runs map-side, and the window exchange repartitions the collapsed
    # frame, not raw events
    assert "partial_count" in plan
    assert plan.index("HashAggregate") > plan.index("Window") or \
        "Window" in plan  # window present; aggregate feeds it


def test_cube_is_expand_based(spark):
    import __spark_entry__ as e

    plan = _plan(e.queries()["analytics_cube"](spark, "/root/testdata/sf0.001"))
    assert "Expand" in plan  # grouping sets via one-scan Expand
    assert plan.count("FileScan") == 1  # never one scan per grouping set


def test_kmeans_assignment_no_exchange_on_real_schema(emb):
    from hds_functions_spark.operators.clustering import kmeans_assign

    cents = [[0.0] * 64, [1.0] * 64]
    assert "Exchange" not in _plan(kmeans_assign(emb, cents))


def test_semantic_pairs_join_on_cluster_key(emb):
    from hds_functions_spark.operators.clustering import cluster_near_pairs

    cents = [[0.0] * 64, [1.0] * 64]
    plan = _plan(cluster_near_pairs(emb, cents, threshold=0.25))
    # candidate generation must be an equi join on the cluster key,
    # never a cartesian product
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_exact_spans_gram_hashes_not_text_in_shuffle(docs):
    """exact_substring_spans: the full-corpus per-position exchange (the
    gh-frequency groupBy) carries (doc_id, pos, 64-bit hash) rows —
    never the gram text; the document text column never enters ANY
    exchange. The collision-scrub exchange keyed ON _gram is allowed:
    it carries candidate-position rows only (the rare ones)."""
    from hds_functions_spark.operators.dedup import exact_substring_spans

    plan = _plan(exact_substring_spans(docs, min_len=30))
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "_text" not in line, line
            if "hashpartitioning(gh#" in line:
                assert "_gram" not in line, line


def test_span_removal_text_never_enters_exchange(docs):
    """remove_duplicate_spans: the cut is a JVM fold where the docs
    live — the text column must not appear in any Exchange."""
    from hds_functions_spark.operators.dedup import (
        exact_substring_spans,
        remove_duplicate_spans,
    )

    spans = exact_substring_spans(docs, min_len=30)
    plan = _plan(remove_duplicate_spans(docs, spans))
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "_text" not in line, line
            assert "text_clean" not in line, line


def test_winnowing_fingerprint_extraction_single_exchange(docs):
    """winnowing_fingerprints per-doc extraction: grams hash and window
    -minimise in place; the only exchange is the fingerprint-dedup
    groupBy (hash + position, no text)."""
    from hds_functions_spark.operators.dedup import winnowing_fingerprints

    plan = _plan(winnowing_fingerprints(docs, gram_size=8, window=8))
    exchanges = [
        line for line in plan.splitlines() if "Exchange hashpartitioning" in line
    ]
    assert len(exchanges) <= 1, plan
    for line in exchanges:
        assert "text" not in line, line


def test_bm25_pruned_broadcasts_only_suite_sized_frames(spark, docs):
    """bm25_topk_pruned: with size-based auto-broadcast disabled, the
    only BroadcastExchanges left are the operator's EXPLICIT hints on
    suite-sized frames (seed/query/essential terms, theta) — and the
    corpus-sided candidate-scoring join on doc_id must be a shuffle
    join (a re-hinted corpus-side broadcast would flip it to
    BroadcastHashJoin on doc_id and fail here)."""
    from hds_functions_spark.operators.retrieval import bm25_topk_pruned

    qs = docs.filter(F.col("doc_id") % 50 == 0).select(
        F.col("doc_id").alias("query_id"),
        F.substring("text", 1, 60).alias("query_text"),
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _plan(bm25_topk_pruned(docs, qs, k=3))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    # explicit hints survive the disabled threshold
    assert "BroadcastHashJoin" in plan
    # the doc_id-keyed candidate scoring join stays a shuffle join
    doc_joins = [
        line for line in plan.splitlines()
        if "Join" in line and "doc_id" in line
    ]
    assert doc_joins, "no doc_id join found — operator changed?"
    assert not any("Broadcast" in line for line in doc_joins), (
        "corpus-side doc_id join became a broadcast:\n"
        + "\n".join(doc_joins)
    )


def test_metastore_bucketed_join_and_agg_shuffle_free(spark):
    """save_table(bucket_by=...) in metastore mode: an equi-join of two
    tables bucketed on the same key with the same bucket count — and a
    groupBy on that key — must run WITHOUT a shuffle exchange. This is
    the 100 TB layout contract: pay the bucketing shuffle once at write
    time, never again per join."""
    from hds_functions_spark.sources.tables import save_table

    facts = spark.range(0, 2000).select(
        (F.col("id") % 100).alias("k"), F.col("id").alias("v")
    )
    dims = spark.range(0, 500).select(
        (F.col("id") % 100).alias("k"), (F.col("id") * 2).alias("w")
    )
    td = {
        "fa": {"database": "default", "table_name": "bkt_join_a"},
        "fb": {"database": "default", "table_name": "bkt_join_b"},
    }
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        save_table(facts, "fa", table_directory=td, bucket_by=(8, "k"))
        save_table(dims, "fb", table_directory=td, bucket_by=(8, "k"))
        a = spark.table("default.bkt_join_a")
        b = spark.table("default.bkt_join_b")
        # force the join to consider a shuffle strategy (no broadcast
        # escape hatch): the bucketed layout must make it exchange-free
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        join_plan = _plan(a.join(b, on="k"))
        assert "SortMergeJoin" in join_plan
        assert "Exchange" not in join_plan, join_plan
        agg_plan = _plan(a.groupBy("k").agg(F.sum("v")))
        assert "Exchange" not in agg_plan, agg_plan
        # correctness, not just shape
        assert a.join(b, on="k").count() == 2000 * 5
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS default.bkt_join_a")
        spark.sql("DROP TABLE IF EXISTS default.bkt_join_b")


# --- round-9 continuation operators ------------------------------------------


def test_nb_class_stats_broadcasts_totals(docs):
    """The 1-row vocab/doc-count frame rides a broadcast, never a
    shuffle-side join."""
    from hds_functions_spark.operators.classify import nb_class_stats

    train = docs.select("doc_id", "text", "lang")
    plan = _plan(nb_class_stats(train))
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_nb_predict_no_doc_keyed_model_join(docs):
    """The model join keys on token only — doc_id must never appear in
    a join-side Exchange with the token key (skewed docs must not skew
    the probe)."""
    from hds_functions_spark.operators.classify import (
        nb_class_stats,
        nb_predict,
        nb_token_loglik,
    )

    train = docs.select("doc_id", "text", "lang")
    score = docs.select("doc_id", "text")
    stats = nb_class_stats(train)
    model = nb_token_loglik(train, stats)
    plan = _plan(nb_predict(score, model, stats))
    assert "CartesianProduct" not in plan
    # model rows (carrying log_lik) may cross token-keyed exchanges only:
    # an exchange partitioned by doc_id must never carry the model column
    for line in plan.splitlines():
        if "Exchange hashpartitioning(doc_id" in line:
            assert "log_lik" not in line, line


def test_ngram_novelty_two_corpus_exchanges(docs):
    """Novelty's plan: ONE gram-keyed exchange (the min-combine) + ONE
    doc-keyed exchange (the per-doc rollup) + the re-attach join — no
    extra corpus-sized shuffles may creep in."""
    from hds_functions_spark.operators.profiling import ngram_novelty

    plan = _plan(ngram_novelty(docs.select("doc_id", "text")))
    n_ex = sum(
        1 for line in plan.splitlines()
        if "Exchange hashpartitioning" in line
    )
    # gram-combine, gram-join sides, doc rollup, re-attach join sides;
    # AQE coalesces some — bound the count instead of pinning it
    assert n_ex <= 6, plan
    assert "CartesianProduct" not in plan


def test_truncated_topk_broadcasts_queries(emb):
    from hds_functions_spark.operators.similarity import (
        truncated_cosine_topk,
    )

    qs = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    plan = _plan(truncated_cosine_topk(emb, qs, dims=8, k=5))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "WindowGroupLimit" in plan  # map-side top-k prune


def test_source_matrix_no_text_in_exchanges(docs):
    """Only (source, fingerprint) longs/strings cross the wire — the
    document text must never enter an exchange."""
    from hds_functions_spark.operators.dedup import (
        source_overlap_matrix,
        winnowing_fingerprints,
    )

    fps = winnowing_fingerprints(docs.select("doc_id", "text"))
    plan = _plan(
        source_overlap_matrix(fps, docs.select("doc_id", "source"))
    )
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "text" not in line, line


def test_epoch_expand_zero_shuffle(docs, spark):
    """Expansion is broadcast-plan + explode only: no Exchange
    hashpartitioning may appear (the docstring's zero-shuffle claim)."""
    from hds_functions_spark.operators.sampling import epoch_expand

    plan_df = spark.createDataFrame(
        [("src0", 1.5), ("src1", 2.0)], ["source", "epochs"]
    )
    plan = _plan(
        epoch_expand(docs.select("doc_id", "source"), plan_df)
    )
    assert "Exchange hashpartitioning" not in plan, plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_dp_counts_single_aggregate_exchange(spark):
    """One combinable count aggregate; the noise is per-group scalar
    math after it — exactly one hash exchange in the plan."""
    from hds_functions_spark.operators.privacy import dp_noisy_counts

    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    plan = _plan(
        dp_noisy_counts(orders, ["o_orderpriority"], epsilon=1.0, salt="s")
    )
    n_ex = sum(
        1 for line in plan.splitlines()
        if "Exchange hashpartitioning" in line
    )
    assert n_ex == 1, plan


def test_gopher_audit_no_corpus_text_in_exchange(docs):
    """The audit collapses to one flag row per doc before any exchange:
    document text must never cross the wire."""
    from hds_functions_spark.operators.quality import gopher_rule_audit

    plan = _plan(gopher_rule_audit(docs.select("doc_id", "text")))
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "text#" not in line, line


# --- r14: the ntile() re-spell gate ----------------------------------------


def _logical_windows(df):
    """All Window nodes in the optimized logical plan, via the tree walk
    (string-matching the plan dump cannot tell an empty partitionSpec
    from a populated one)."""
    out = []

    def walk(node):
        if node.nodeName() == "Window":
            out.append(node)
        for i in range(node.children().length()):
            walk(node.children().apply(i))

    walk(df._jdf.queryExecution().optimizedPlan())
    return out


@pytest.mark.parametrize(
    "qname",
    [
        "pipeline_curriculum_order",
        "classify_nb_calibration",
        "pipeline_perplexity_buckets",
        "pipeline_web_curation",
    ],
)
def test_no_corpus_cardinality_ntile_window(spark, qname):
    """The four r13-flagged queries ran ntile() windows over every doc
    (global ones single-partition, per-lang ones one task per language —
    the skew ceiling). Re-spelled r14 onto bucket_by_quantiles_desc:
    their plans must carry NO partition-less Window node and no ntile
    anywhere (a Window WITH a partition key is allowed — none of these
    queries has one today, but the gate's claim is only about the
    corpus-cardinality shape that does not scale)."""
    import hds_functions_spark.registry_ext  # noqa: F401
    from hds_functions_spark.registry import QUERIES

    import re

    df = QUERIES[qname](spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    # word boundary: "percentile(" (the replacement's cut aggregate)
    # contains the bare substring "ntile("
    assert not re.search(r"\bntile\(", plan), (
        f"{qname} still plans an ntile()"
    )
    for w in _logical_windows(df):
        assert w.partitionSpec().length() > 0, (
            f"{qname} plans a Window with an EMPTY partitionSpec — "
            "every row through one task"
        )


@pytest.mark.parametrize(
    "qname",
    [
        "pipeline_image_curation",
        "multimodal_image_dedup_incremental",
        "pipeline_video_curation",
        "pipeline_caption_curation",
        "multimodal_video_dedup_incremental",
        "pipeline_audio_curation",
        "multimodal_audio_dedup_incremental",
    ],
)
def test_image_pipelines_never_shuffle_pixels(spark, qname):
    """The image pipelines' load-bearing plan claim: decoded pixels (and
    raw payloads) never leave the decode stage — every Exchange carries
    only fixed-width signatures. A payload column in any Exchange's
    output schema is the O(corpus-bytes) shuffle these plans exist to
    avoid."""
    import hds_functions_spark.registry_ext  # noqa: F401
    from hds_functions_spark.registry import QUERIES

    plan = (
        QUERIES[qname](spark, "/root/testdata/sf0.001")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "payload#" not in line, line


@pytest.mark.parametrize(
    "family",
    ["minhash_pairs", "embedding_near_dup_pairs", "winnowing_overlap_pairs"],
)
def test_batch_pair_operator_is_a_plain_self_join(docs, emb, family):
    """Each batch pair operator is the self case of the shared
    candidate-pair engine: one keyed frame joined with itself. Standing
    in an empty corpus instead would put a Union and a ``cross_batch`` /
    ``_new`` flag column into the plan, as its incremental twin has.
    The embedding case uses one band, so its union banding adds no
    Union either."""
    import re

    from hds_functions_spark.caching import release_operator_caches
    from hds_functions_spark.operators import dedup as D

    def split(df, id_col):
        new = F.col(id_col) % 5 == 0
        return df.filter(new), df.filter(~new)

    if family == "minhash_pairs":
        batch = D.minhash_pairs(docs)
        twin = D.minhash_pairs_incremental(*split(docs, "doc_id"))
    elif family == "embedding_near_dup_pairs":
        batch = D.embedding_near_dup_pairs(emb, bands=1)
        twin = D.embedding_near_dup_pairs_incremental(
            *split(emb, "vec_id"), bands=1
        )
    else:
        fps = D.winnowing_fingerprints(docs)
        batch = D.winnowing_overlap_pairs(fps)
        twin = D.winnowing_overlap_incremental(*split(fps, "doc_id"))
    try:
        plans = [
            df._jdf.queryExecution().optimizedPlan().toString()
            for df in (batch, twin)
        ]
    finally:
        release_operator_caches()
    flag = re.compile(r"\b(cross_batch|_new)#")
    assert "Union" not in plans[0] and not flag.search(plans[0]), plans[0]
    assert "Union" in plans[1] and flag.search(plans[1])


def test_cohort_flowchart_reads_pruned_input_uncached(spark, tmp_path, monkeypatch):
    """The flowchart that ``apply_inclusion_criteria`` saves is a plain
    plan over the input: no cached relation, and its parquet scan reads
    only the person id and the columns the criteria reference."""
    import re

    from hds_functions_spark.operators.cohort import apply_inclusion_criteria
    from hds_functions_spark.sources import tables

    path = str(tmp_path / "cohort")
    spark.createDataFrame(
        [(i, i % 7, 20 + i % 60, "FM"[i % 2], f"note {i}", i * 0.5) for i in range(50)],
        "row_id: long, person_id: long, age: int, sex: string, note: string, "
        "score: double",
    ).write.parquet(path)
    saved = []
    monkeypatch.setattr(tables, "save_table", lambda df, **kw: saved.append(df))

    apply_inclusion_criteria(
        spark.read.parquet(path),
        {"adult": "age >= 18", "young": "age < 65", "female": "sex = 'F'"},
        flowchart_table="fc",
    )
    (flowchart,) = saved
    qe = flowchart._jdf.queryExecution()
    assert "InMemoryRelation" not in qe.optimizedPlan().toString()
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", qe.executedPlan().toString())
    assert len(schemas) == 1, schemas
    fields = {f.split(":")[0] for f in schemas[0].split(",")}
    assert fields == {"person_id", "age", "sex"}, schemas[0]


def _logical_node_names(plan) -> list[str]:
    names = []

    def walk(node):
        names.append(node.nodeName())
        for i in range(node.children().length()):
            walk(node.children().apply(i))

    walk(plan)
    return names


def test_cohort_flowchart_one_aggregate_and_generator(spark, tmp_path):
    """The flowchart is the two-level count and one generator over its
    totals row: no join with a description table, no window, no sort and
    no driver-built relation. The flags and the chain are two projections,
    with no separate null-filling one."""
    from hds_functions_spark.operators.cohort import (
        create_inclusion_columns,
        create_inclusion_flowchart,
    )

    path = str(tmp_path / "cohort")
    spark.createDataFrame(
        [(i, i % 7, 20 + i % 60, "FM"[i % 2]) for i in range(50)],
        "row_id: long, person_id: long, age: int, sex: string",
    ).write.parquet(path)
    criteria = {"adult": "age >= 18", "young": "age < 65", "female": "sex = 'F'"}
    flagged = create_inclusion_columns(spark.read.parquet(path), criteria)
    flowchart = create_inclusion_flowchart(flagged, criteria)

    nodes = _logical_node_names(flowchart._jdf.queryExecution().optimizedPlan())
    assert not {"Join", "Window", "Sort", "LocalRelation"} & set(nodes), nodes
    assert nodes.count("Generate") == 1 and nodes.count("Aggregate") == 2, nodes
    analyzed = _logical_node_names(flagged._jdf.queryExecution().analyzed())
    assert analyzed.count("Project") == 2, analyzed
