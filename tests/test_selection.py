"""DSIR importance-resampling selection (operators/selection.py): parity
with a pure-Python oracle sharing the md5 hash protocol, plus the
determinism / structural contracts."""

from __future__ import annotations

import hashlib
import math
import random

import pytest
from pyspark.sql import functions as F

BUCKETS = 64  # small space so bucket collisions are exercised
ALPHA = 1.0


def _h60(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _grams(text: str) -> list[str]:
    toks = [t.lower() for t in text.split()]
    return toks + [f"{a} {b}" for a, b in zip(toks, toks[1:])]


def _bag(text: str) -> dict[int, int]:
    out: dict[int, int] = {}
    for g in _grams(text):
        b = _h60(g) % BUCKETS
        out[b] = out.get(b, 0) + 1
    return out


def _py_weights(raw: dict[int, str], tgt: dict[int, str]) -> dict[int, float]:
    cr: dict[int, int] = {}
    ct: dict[int, int] = {}
    for t in raw.values():
        for b, c in _bag(t).items():
            cr[b] = cr.get(b, 0) + c
    for t in tgt.values():
        for b, c in _bag(t).items():
            ct[b] = ct.get(b, 0) + c
    tr, tt = sum(cr.values()), sum(ct.values())
    out = {}
    for d, text in raw.items():
        w = 0.0
        for b, c in _bag(text).items():
            lr = math.log((ct.get(b, 0) + ALPHA) / (tt + ALPHA * BUCKETS)) - \
                 math.log((cr[b] + ALPHA) / (tr + ALPHA * BUCKETS))
            w += c * lr
        out[d] = round(w, 6)
    return out


def _corpora(seed: int):
    rng = random.Random(seed)
    tgt_vocab = ["alpha", "beta", "gamma", "delta", "epsilon"]
    raw_vocab = tgt_vocab + ["noise", "junk", "spam", "filler", "blob"]
    tgt = {
        1000 + i: " ".join(rng.choice(tgt_vocab) for _ in range(rng.randint(3, 12)))
        for i in range(10)
    }
    raw = {}
    for i in range(30):
        # half the raw docs lean target-like, half lean noisy
        vocab = tgt_vocab if i % 2 == 0 else raw_vocab
        raw[i] = " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 12)))
    return raw, tgt


def _frames(spark, raw, tgt):
    rdf = spark.createDataFrame(list(raw.items()), "doc_id long, text string")
    tdf = spark.createDataFrame(list(tgt.items()), "doc_id long, text string")
    return rdf, tdf


@pytest.mark.parametrize("seed", [7, 31])
def test_dsir_weights_match_python_oracle(spark, seed):
    from hds_functions_spark.operators.selection import dsir_log_weights

    raw, tgt = _corpora(seed)
    rdf, tdf = _frames(spark, raw, tgt)
    got = {
        r.doc_id: r.log_weight
        for r in dsir_log_weights(rdf, tdf, buckets=BUCKETS, alpha=ALPHA).collect()
    }
    exp = _py_weights(raw, tgt)
    assert set(got) == set(raw)  # every raw doc scored, tokenless included
    for d in raw:
        assert got[d] == pytest.approx(exp[d], abs=2e-6), d


def test_dsir_weights_directionality(spark):
    """Docs made of target-vocabulary grams must outweigh noise docs."""
    from hds_functions_spark.operators.selection import dsir_log_weights

    tgt = {100 + i: "alpha beta gamma alpha beta" for i in range(5)}
    raw = {0: "alpha beta gamma alpha", 1: "junk spam noise filler"}
    rdf, tdf = _frames(spark, raw, tgt)
    got = {
        r.doc_id: r.log_weight
        for r in dsir_log_weights(rdf, tdf, buckets=BUCKETS).collect()
    }
    assert got[0] > got[1]


def test_dsir_empty_doc_weighs_zero(spark):
    from hds_functions_spark.operators.selection import dsir_log_weights

    raw = {0: "", 1: "   ", 2: "alpha"}
    tgt = {9: "alpha beta"}
    rdf, tdf = _frames(spark, raw, tgt)
    got = {
        r.doc_id: r.log_weight
        for r in dsir_log_weights(rdf, tdf, buckets=BUCKETS).collect()
    }
    assert got[0] == 0.0 and got[1] == 0.0 and got[2] != 0.0


def test_gumbel_topk_deterministic_and_salted(spark):
    from hds_functions_spark.operators.selection import dsir_gumbel_topk

    weights = spark.createDataFrame(
        [(i, float(i % 7) / 3.0) for i in range(200)],
        "doc_id long, log_weight double",
    )
    a = [tuple(r) for r in dsir_gumbel_topk(weights, k=20, salt="s1").collect()]
    b = [tuple(r) for r in dsir_gumbel_topk(weights, k=20, salt="s1").collect()]
    c = [tuple(r) for r in dsir_gumbel_topk(weights, k=20, salt="s2").collect()]
    assert a == b  # pure function of (ids, weights, salt)
    assert a != c  # the salt re-draws the noise
    assert [r[3] for r in a] == list(range(1, 21))  # dense ranks 1..k
    # python replay of the gumbel keys — exact protocol parity
    for doc_id, lw, key, _rank in a:
        u = (_h60(f"{doc_id}s1") % 1_000_000 + 0.5) / 1_000_000
        assert key == pytest.approx(
            round(lw - math.log(-math.log(u)), 6), abs=1e-9
        )


def test_gumbel_topk_respects_weights_statistically(spark):
    """With weights log(9) vs 0, the exp-weighted group (9x likelier)
    must dominate the selection."""
    from hds_functions_spark.operators.selection import dsir_gumbel_topk

    rows = [(i, math.log(9.0) if i < 500 else 0.0) for i in range(1000)]
    weights = spark.createDataFrame(rows, "doc_id long, log_weight double")
    sel = dsir_gumbel_topk(weights, k=100, salt="stat").collect()
    heavy = sum(1 for r in sel if r.doc_id < 500)
    assert heavy > 75  # E[heavy] = 90, sigma = 3; >75 is a 5-sigma bound


def test_selection_validation(spark):
    from hds_functions_spark.operators.selection import (
        dsir_gumbel_topk,
        dsir_log_weights,
        hashed_ngram_buckets,
    )

    df = spark.createDataFrame([(0, "a b")], "doc_id long, text string")
    with pytest.raises(ValueError, match="buckets"):
        hashed_ngram_buckets(df, buckets=1)
    with pytest.raises(ValueError, match="max_ngram"):
        hashed_ngram_buckets(df, max_ngram=0)
    with pytest.raises(ValueError, match="alpha"):
        dsir_log_weights(df, df, alpha=0.0)
    w = spark.createDataFrame([(0, 0.0)], "doc_id long, log_weight double")
    with pytest.raises(ValueError, match="k must be"):
        dsir_gumbel_topk(w, k=0)


def test_bootstrap_ci_contract(spark):
    """Poisson-bootstrap CI: deterministic, salted, brackets the point
    estimate for well-behaved data, and matches a pure-Python replay."""
    import hashlib
    import math

    from hds_functions_spark.operators.quality import (
        _BOOT_RES,
        _POISSON1_CDF,
        bootstrap_mean_ci,
    )

    vals = {i: float((i * 37) % 100) for i in range(300)}
    df = spark.createDataFrame(list(vals.items()), "doc_id long, x double")
    row = bootstrap_mean_ci(
        df, "x", "doc_id", n_resamples=60, alpha=0.1, salt="s"
    ).collect()[0]
    row2 = bootstrap_mean_ci(
        df, "x", "doc_id", n_resamples=60, alpha=0.1, salt="s"
    ).collect()[0]
    assert tuple(row) == tuple(row2)  # hash-deterministic
    assert row.ci_lo <= row.point_est <= row.ci_hi
    assert row.n_resamples == 60
    other = bootstrap_mean_ci(
        df, "x", "doc_id", n_resamples=60, alpha=0.1, salt="t"
    ).collect()[0]
    assert (other.ci_lo, other.ci_hi) != (row.ci_lo, row.ci_hi)

    # pure-Python replay of the exact protocol
    def h60(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    means = []
    for r in range(1, 61):
        num = den = 0.0
        for i, x in vals.items():
            u = (h60(f"{i}s{r}") % _BOOT_RES + 0.5) / _BOOT_RES
            w = sum(1 for c in _POISSON1_CDF if c < u)
            num += w * x
            den += w
        means.append((num / den, r))
    means.sort()
    lo_rank = int(math.floor(0.1 / 2 * 60)) + 1
    exp_lo = round(means[lo_rank - 1][0], 6)
    exp_hi = round(means[60 - lo_rank][0], 6)
    assert row.ci_lo == pytest.approx(exp_lo, abs=2e-6)
    assert row.ci_hi == pytest.approx(exp_hi, abs=2e-6)

    with pytest.raises(ValueError, match="n_resamples"):
        bootstrap_mean_ci(df, "x", "doc_id", n_resamples=1)
    with pytest.raises(ValueError, match="alpha"):
        bootstrap_mean_ci(df, "x", "doc_id", alpha=1.5)


def test_bootstrap_ci_drops_zero_weight_resamples(spark):
    """A resample whose Poisson weights are ALL zero (probability
    0.368^n — material for tiny inputs) has no mean; it must be dropped
    BEFORE the rank window (a NULL sorts first and would displace
    ci_lo) and the order-statistic ranks re-derived from the surviving
    count, which n_resamples reports."""
    import hashlib
    import math

    from hds_functions_spark.operators.quality import (
        _BOOT_RES,
        _POISSON1_CDF,
        bootstrap_mean_ci,
    )

    # single row: each resample survives only if its one weight is > 0
    df = spark.createDataFrame([(7, 42.0)], "doc_id long, x double")
    R, alpha, salt = 40, 0.1, "z"

    def h60(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    surviving = 0
    for r in range(1, R + 1):
        u = (h60(f"7{salt}{r}") % _BOOT_RES + 0.5) / _BOOT_RES
        if sum(1 for c in _POISSON1_CDF if c < u) > 0:
            surviving += 1
    assert 0 < surviving < R  # the scenario the fix exists for

    row = bootstrap_mean_ci(
        df, "x", "doc_id", n_resamples=R, alpha=alpha, salt=salt
    ).collect()[0]
    assert row.n_resamples == surviving
    # every surviving resample mean is exactly 42.0 (one row), so the
    # bounds are 42.0 — a NULL leaking into the window would have made
    # ci_lo NULL instead
    assert row.ci_lo == pytest.approx(42.0)
    assert row.ci_hi == pytest.approx(42.0)
    lo_rank = int(math.floor(alpha / 2 * surviving)) + 1
    assert lo_rank <= surviving
