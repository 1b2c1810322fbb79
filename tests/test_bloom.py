"""Bloom-filter membership: no false negatives (the hard guarantee),
parity with a pure-Python bitmap simulation, the zero-shuffle probe
plan, decontam/audit consistency, validation."""

import hashlib

import pytest
from pyspark.sql import functions as F

from hds_functions_spark.functions.hashing import (
    MERSENNE_PRIME_31,
    minhash_permutation_constants,
)
from hds_functions_spark.operators.bloom import (
    WORD_BITS,
    bloom_build,
    bloom_decontam,
    bloom_fp_audit,
    bloom_probe,
)

N_BITS = 1 << 12
N_HASHES = 3


def _py_positions(key: str):
    h = int(hashlib.md5(key.encode()).hexdigest()[:15], 16)
    h %= MERSENNE_PRIME_31
    return [
        ((a * h + b) % MERSENNE_PRIME_31) % N_BITS
        for a, b in minhash_permutation_constants(N_HASHES)
    ]


def _py_bloom(keys):
    words = {}
    for k in keys:
        for pos in _py_positions(k):
            w, bit = pos // WORD_BITS, pos % WORD_BITS
            words[w] = words.get(w, 0) | (1 << bit)
    return words


def _py_member(words, key):
    return all(
        words.get(pos // WORD_BITS, 0) & (1 << (pos % WORD_BITS))
        for pos in _py_positions(key)
    )


def _keys_df(spark, keys):
    return spark.createDataFrame([(k,) for k in keys], "key string")


def test_build_matches_python_bitmap(spark):
    keys = [f"gram-{i}" for i in range(50)]
    built = {
        r["word_idx"]: r["word"]
        for r in bloom_build(
            _keys_df(spark, keys), n_bits=N_BITS, n_hashes=N_HASHES
        ).collect()
    }
    assert built == _py_bloom(keys)


def test_probe_matches_python_and_never_false_negative(spark):
    members = [f"in-{i}" for i in range(40)]
    probes = members + [f"out-{i}" for i in range(200)]
    bloom = bloom_build(
        _keys_df(spark, members), n_bits=N_BITS, n_hashes=N_HASHES
    )
    got = {
        r["key"]: r["bloom_hit"]
        for r in bloom_probe(
            _keys_df(spark, probes), bloom, n_bits=N_BITS,
            n_hashes=N_HASHES,
        ).collect()
    }
    ref = _py_bloom(members)
    for k in probes:
        assert got[k] == _py_member(ref, k)
    for k in members:  # the hard guarantee
        assert got[k] is True


@pytest.mark.parametrize("method", ["literal", "broadcast"])
def test_probe_plan_has_no_corpus_shuffle(spark, method):
    """The probe must be map-side only: a broadcast exchange for the
    1-row bitmap is fine; a hash-partitioned exchange on the probed
    frame is the design bug the operator exists to avoid."""
    bloom = bloom_build(
        _keys_df(spark, ["a", "b"]), n_bits=N_BITS, n_hashes=N_HASHES
    )
    probed = bloom_probe(
        _keys_df(spark, ["a", "c"]), bloom, n_bits=N_BITS,
        n_hashes=N_HASHES, method=method,
    )
    plan = probed._jdf.queryExecution().executedPlan().toString()
    # the bitmap BUILD may aggregate (bitmap-sized, under the broadcast
    # subtree); the probed side — everything printed above it — must not
    probe_side = plan.split("BroadcastExchange")[0]
    assert "Exchange" not in probe_side, probe_side
    if method == "literal":  # no join at all: the bitmap is plan data
        assert "Join" not in plan, plan


def test_probe_methods_identical(spark):
    members = [f"in-{i}" for i in range(30)]
    probes = members + [f"out-{i}" for i in range(100)]
    bloom = bloom_build(
        _keys_df(spark, members), n_bits=N_BITS, n_hashes=N_HASHES
    )
    results = [
        sorted(
            (r["key"], r["bloom_hit"])
            for r in bloom_probe(
                _keys_df(spark, probes), bloom, n_bits=N_BITS,
                n_hashes=N_HASHES, method=m,
            ).collect()
        )
        for m in ("literal", "broadcast", "auto")
    ]
    assert results[0] == results[1] == results[2]
    with pytest.raises(ValueError, match="method"):
        bloom_probe(
            _keys_df(spark, probes), bloom, n_bits=N_BITS,
            n_hashes=N_HASHES, method="nope",
        )


def test_extra_columns_and_duplicates_survive(spark):
    df = spark.createDataFrame(
        [(1, "a", 10.0), (2, "a", 20.0), (3, "zzz", 30.0)],
        "id long, key string, v double",
    )
    bloom = bloom_build(
        _keys_df(spark, ["a"]), n_bits=N_BITS, n_hashes=N_HASHES
    )
    out = bloom_probe(df, bloom, n_bits=N_BITS, n_hashes=N_HASHES)
    rows = {r["id"]: (r["v"], r["bloom_hit"]) for r in out.collect()}
    assert rows[1] == (10.0, True) and rows[2] == (20.0, True)
    assert rows[3][0] == 30.0


def test_empty_filter_hits_nothing(spark):
    bloom = bloom_build(
        _keys_df(spark, []).filter(F.lit(False)),
        n_bits=N_BITS, n_hashes=N_HASHES,
    )
    out = bloom_probe(
        _keys_df(spark, ["a", "b"]), bloom, n_bits=N_BITS,
        n_hashes=N_HASHES,
    )
    assert [r["bloom_hit"] for r in out.collect()] == [False, False]


def _docs(spark, rows, id_col="doc_id"):
    return spark.createDataFrame(rows, f"{id_col} long, text string")


def test_decontam_flags_shared_grams(spark):
    corpus = _docs(
        spark,
        [
            (1, "alpha beta gamma delta end"),
            (2, "completely different words here now"),
        ],
    )
    ev = _docs(spark, [(100, "alpha beta gamma delta")], id_col="eval_id")
    out = bloom_decontam(
        corpus, ev, ngram=4, n_bits=N_BITS, n_hashes=N_HASHES
    ).collect()
    flagged = {r["doc_id"]: r["n_bloom_hits"] for r in out}
    assert 1 in flagged and flagged[1] >= 1  # shares 'alpha beta gamma delta'
    # doc 2 may only appear via an fp collision; its true shared grams are 0


def test_audit_counts_are_consistent(spark):
    corpus = _docs(
        spark,
        [(i, f"tok{i} tok{i+1} tok{i+2} tok{i+3} tok{i+4}") for i in range(30)],
    )
    ev = _docs(
        spark,
        [(100, "tok0 tok1 tok2 tok3 tok4")],
        id_col="eval_id",
    )
    row = bloom_fp_audit(
        corpus, ev, ngram=4, n_bits=N_BITS, n_hashes=N_HASHES
    ).collect()[0]
    assert row["n_pass"] == row["n_true_pos"] + row["n_false_pos"]
    # both true grams of eval doc occur in corpus docs 0 and 1
    assert row["n_true_pos"] >= 2
    assert 0 <= row["fp_rate"] <= 1


def test_validation(spark):
    df = _keys_df(spark, ["a"])
    with pytest.raises(ValueError, match="n_bits"):
        bloom_build(df, n_bits=10)
    with pytest.raises(ValueError, match="n_hashes"):
        bloom_build(df, n_hashes=0)
    with pytest.raises(ValueError, match="n_hashes"):
        bloom_probe(df, df, n_hashes=0)
    with pytest.raises(ValueError, match="ngram"):
        bloom_decontam(
            _docs(spark, [(1, "a")]),
            _docs(spark, [(2, "b")], id_col="eval_id"),
            ngram=0,
        )


def test_merge_identity_with_monolithic(spark):
    """bit_or associativity: merged per-batch bitmaps == one build over
    the union of keys, bit for bit."""
    a = [f"k{i}" for i in range(0, 40, 2)]
    b = [f"k{i}" for i in range(1, 40, 2)] + ["k0"]  # overlap too
    from hds_functions_spark.operators.bloom import bloom_merge

    merged = {
        r["word_idx"]: r["word"]
        for r in bloom_merge(
            bloom_build(_keys_df(spark, a), n_bits=N_BITS, n_hashes=N_HASHES),
            bloom_build(_keys_df(spark, b), n_bits=N_BITS, n_hashes=N_HASHES),
        ).collect()
    }
    mono = {
        r["word_idx"]: r["word"]
        for r in bloom_build(
            _keys_df(spark, sorted(set(a + b))),
            n_bits=N_BITS, n_hashes=N_HASHES,
        ).collect()
    }
    assert merged == mono
    with pytest.raises(ValueError, match="at least one"):
        bloom_merge()


def test_decontam_prebuilt_bloom_path(spark):
    corpus = _docs(spark, [(1, "alpha beta gamma delta end")])
    ev = _docs(spark, [(100, "alpha beta gamma delta")], id_col="eval_id")
    from hds_functions_spark.operators.bloom import _doc_grams
    from pyspark.sql import functions as F

    grams = _doc_grams(ev, "eval_id", "text", 4).select(
        F.col("_gram").alias("key")
    ).distinct()
    bloom = bloom_build(grams, n_bits=N_BITS, n_hashes=N_HASHES)
    direct = sorted(
        tuple(r) for r in bloom_decontam(
            corpus, ev, ngram=4, n_bits=N_BITS, n_hashes=N_HASHES
        ).collect()
    )
    via_prebuilt = sorted(
        tuple(r) for r in bloom_decontam(
            corpus, ev, ngram=4, n_bits=N_BITS, n_hashes=N_HASHES,
            prebuilt_bloom=bloom,
        ).collect()
    )
    assert direct == via_prebuilt
