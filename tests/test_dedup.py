"""Dedup operator tests: exact, minhash, jaccard, simhash."""

import pytest
from pyspark.sql import functions as F

from hds_functions_spark.operators.dedup import (
    add_simhash,
    duplicate_groups,
    exact_dedup,
    minhash_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash_pairs,
)

BASE = "the quick brown fox jumps over the lazy dog and runs far away today"


@pytest.fixture()
def docs(spark):
    return spark.createDataFrame(
        [
            (1, BASE),
            (2, BASE),  # exact duplicate of 1
            (3, BASE.replace("lazy", "sleepy")),  # near-dup of 1
            (4, "completely unrelated content about spark shuffles and joins"),
            (5, "xy"),  # shorter than shingle size
        ],
        "doc_id: long, text: string",
    )


def test_exact_dedup_keeps_min_id(docs):
    out = exact_dedup(docs, ["text"], "doc_id")
    kept = sorted(r["doc_id"] for r in out.collect())
    assert kept == [1, 3, 4, 5]  # doc 2 dropped (same text as 1, higher id)


def test_exact_dedup_keep_max(docs):
    out = exact_dedup(docs, ["text"], "doc_id", keep="max")
    kept = sorted(r["doc_id"] for r in out.collect())
    assert kept == [2, 3, 4, 5]


def test_duplicate_groups(docs):
    out = duplicate_groups(docs, ["text"], "doc_id").collect()
    assert len(out) == 1
    assert out[0]["n_rows"] == 2 and out[0]["keep_id"] == 1


def test_minhash_signature_properties(docs):
    sigs = {r["doc_id"]: r["signature"] for r in
            minhash_signatures(docs, num_hashes=16).collect()}
    assert len(sigs[1]) == 16
    assert sigs[1] == sigs[2]  # identical text -> identical signature
    agree_13 = sum(a == b for a, b in zip(sigs[1], sigs[3]))
    agree_14 = sum(a == b for a, b in zip(sigs[1], sigs[4]))
    assert agree_13 > agree_14  # near-dup agrees more than unrelated
    assert all(v is None for v in sigs[5])  # too short for shingles


# texts where the shingle plan could diverge from a per-row spelling:
# empty/null/short/exactly-k, non-BMP code points, combining marks, and
# case maps that change the length (İ) or are context-dependent (Σ)
EDGE_TEXTS = [
    (1, ""),
    (2, None),
    (3, "abc"),
    (4, "abcde"),
    (5, "hi 😀 there 😀😀 emoji 🧑‍🚀"),
    (6, "cafe\u0301 combining e\u0301\u0301 marks"),
    (7, "İSTANBUL ΣΟΦΊΑ ΟΔΌΣ İİİ"),
    (8, "ﬃ ligature ß STRASSE ﬃﬃ"),
    (9, "aaaaaaa"),
    (10, BASE),
    (11, "x"),
]


def _reference_signatures(text, num_hashes, shingle_size=5):
    """The former per-row spelling of minhash_signatures: let_-bound
    distinct shingle hashes, one array_min per permutation (lambda
    higher-order functions throughout)."""
    from hds_functions_spark.functions.exprs import let_
    from hds_functions_spark.functions.hashing import (
        MERSENNE_PRIME_31,
        minhash_permutation_constants,
        stable_hash64,
    )
    from hds_functions_spark.functions.text import char_ngrams

    def permute(a, b):
        return lambda h: (h * a + b) % MERSENNE_PRIME_31

    shingles = F.array_distinct(char_ngrams(F.lower(text), shingle_size))
    hashes = F.transform(
        shingles, lambda s: stable_hash64(s) % MERSENNE_PRIME_31
    )
    return let_(
        hashes,
        lambda hs: F.array(
            *[
                F.array_min(F.transform(hs, permute(a, b)))
                for a, b in minhash_permutation_constants(num_hashes)
            ]
        ),
    )


@pytest.mark.parametrize("num_hashes", [16, 32, 128])
def test_minhash_signatures_match_reference(spark, num_hashes):
    """Bit-identical to the per-row spelling. 128 permutations exceed
    spark.sql.codegen.maxFields, so the aggregate runs without
    whole-stage codegen there: same results, only slower."""
    df = spark.createDataFrame(EDGE_TEXTS, "doc_id: long, text: string")
    ref = {
        r["doc_id"]: r["s"]
        for r in df.select(
            "doc_id", _reference_signatures(F.col("text"), num_hashes).alias("s")
        ).collect()
    }
    got = minhash_signatures(df, num_hashes=num_hashes).collect()
    assert len(got) == len(EDGE_TEXTS)
    assert {r["doc_id"]: r["signature"] for r in got} == ref
    assert all(len(sig) == num_hashes for sig in ref.values())


def test_minhash_signatures_one_row_per_input_row(spark):
    """Duplicate and null ids keep one row per input row (the group-by
    key is a per-row id, not the document id)."""
    df = spark.createDataFrame(
        [(1, BASE), (1, "another text for the same id"), (None, BASE),
         (None, "xy"), (None, None)],
        "doc_id: long, text: string",
    )
    from collections import Counter

    ref = Counter(
        (r["doc_id"], tuple(r["s"]))
        for r in df.select(
            "doc_id", _reference_signatures(F.col("text"), 16).alias("s")
        ).collect()
    )
    got = Counter(
        (r["doc_id"], tuple(r["signature"]))
        for r in minhash_signatures(df, num_hashes=16).collect()
    )
    assert got == ref and sum(got.values()) == 5


def test_minhash_pairs_finds_duplicates(docs):
    pairs = minhash_pairs(docs.filter("doc_id < 5"), num_hashes=16, bands=4)
    got = {(r["id_a"], r["id_b"]): r["est_jaccard"] for r in pairs.collect()}
    assert got[(1, 2)] == 1.0
    if (1, 3) in got:
        assert got[(1, 3)] > 0.3


def test_ngram_jaccard_pairs(docs):
    pairs = ngram_jaccard_pairs(docs, ngram=3, min_jaccard=0.2)
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs.collect()}
    assert got[(1, 2)] == 1.0
    assert (1, 3) in got  # one word changed -> still similar 3-gram sets
    assert (1, 4) not in got


def test_ngram_jaccard_hot_gram_cap(spark):
    """Docs sharing ONLY a boilerplate trigram (df above the cap) must not
    pair; docs sharing rare grams keep a Jaccard computed over kept grams."""
    boiler = "all rights reserved"
    rows = [(i, f"{boiler} unique{i} filler{i} tail{i}") for i in range(1, 7)]
    rows.append((7, f"{boiler} shared rare gram alpha beta"))
    rows.append((8, f"{boiler} shared rare gram alpha gamma"))
    docs = spark.createDataFrame(rows, "doc_id: long, text: string")

    uncapped = ngram_jaccard_pairs(
        docs, ngram=3, min_jaccard=0.01, max_doc_freq=None
    )
    got_un = {(r["id_a"], r["id_b"]) for r in uncapped.collect()}
    assert (1, 2) in got_un  # boilerplate alone pairs everything uncapped

    capped = ngram_jaccard_pairs(docs, ngram=3, min_jaccard=0.01, max_doc_freq=5)
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in capped.collect()}
    assert (1, 2) not in got  # boilerplate-only pair suppressed
    assert (7, 8) in got  # rare-gram pair survives
    # Jaccard over KEPT grams: docs 7/8 each have 6 trigrams; "all rights
    # reserved" (df=8) is dropped, 5 kept each, 4 shared -> 4/6.
    assert abs(got[(7, 8)] - 4 / 6) < 1e-9

    with pytest.raises(ValueError):
        ngram_jaccard_pairs(docs, max_doc_freq=1)


def test_simhash_near_duplicates(docs):
    out = {r["doc_id"]: r["simhash"] for r in add_simhash(docs).collect()}
    assert out[1] == out[2]
    ham_13 = bin(out[1] ^ out[3]).count("1")
    ham_14 = bin(out[1] ^ out[4]).count("1")
    assert ham_13 < ham_14  # near-dup closer in hamming space


def test_simhash_pairs(docs):
    pairs = simhash_pairs(docs, max_hamming=6)
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in pairs.collect()}
    assert got[(1, 2)] == 0


# --- connected components -------------------------------------------------

def test_connected_components_chain_and_singletons(spark):
    """A 6-node chain (worst case for diameter-bound propagation), a
    2-node component, and universe singletons."""
    from hds_functions_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (10, 11)],
        "id_a: long, id_b: long",
    )
    nodes = spark.createDataFrame([(i,) for i in [1, 2, 3, 4, 5, 6, 10, 11, 99]], "id: long")
    out = connected_components(pairs, nodes=nodes)
    got = {r["id"]: r["component"] for r in out.collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 6: 1, 10: 10, 11: 10, 99: 99}


def test_connected_components_no_pairs(spark):
    from hds_functions_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame([], "id_a: long, id_b: long")
    nodes = spark.createDataFrame([(7,), (8,)], "id: long")
    got = {r["id"]: r["component"] for r in connected_components(pairs, nodes=nodes).collect()}
    assert got == {7: 7, 8: 8}


def test_connected_components_random_vs_union_find(spark):
    """Randomised graph against a pure-Python union-find reference."""
    import random

    from hds_functions_spark.operators.dedup import connected_components

    rng = random.Random(42)
    n = 60
    edges = [
        (rng.randrange(n), rng.randrange(n)) for _ in range(80)
    ]
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expected = {i: find(i) for i in range(n)}

    pairs = spark.createDataFrame(edges, "id_a: long, id_b: long")
    nodes = spark.createDataFrame([(i,) for i in range(n)], "id: long")
    got = {r["id"]: r["component"] for r in connected_components(pairs, nodes=nodes).collect()}
    assert got == expected


def test_dedup_clusters_end_to_end(docs):
    from hds_functions_spark.operators.dedup import dedup_clusters

    out = dedup_clusters(docs, min_jaccard=0.5).collect()
    comp = {r["doc_id"]: r["component"] for r in out}
    canon = {r["doc_id"]: r["is_canonical"] for r in out}
    # 1, 2 exact dups; 3 near-dup of 1 -> one cluster rooted at 1
    assert comp[1] == comp[2] == comp[3] == 1
    assert comp[4] == 4 and comp[5] == 5  # singletons
    assert canon == {1: True, 2: False, 3: False, 4: True, 5: True}


@pytest.mark.parametrize("local_finish_edges", [0, 2])
def test_connected_components_distributed_path(spark, local_finish_edges):
    """Force star contraction (local_finish_edges=0: pure distributed;
    =2: distributed rounds then local handoff) — same answer as default."""
    from hds_functions_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (10, 11)],
        "id_a: long, id_b: long",
    )
    out = connected_components(
        pairs, max_iterations=30, local_finish_edges=local_finish_edges
    )
    got = {r["id"]: r["component"] for r in out.collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 6: 1, 10: 10, 11: 10}


def test_connected_components_string_ids(spark):
    from hds_functions_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y")], "id_a: string, id_b: string"
    )
    got = {r["id"]: r["component"] for r in connected_components(pairs).collect()}
    assert got == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}


def test_duplicated_ngram_stats(spark):
    from hds_functions_spark.operators.dedup import duplicated_ngram_stats

    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps"),      # shares 2 trigrams with 2
            (2, "see the quick brown fox"),
            (3, "totally unique words here now"),  # no duplication
            (4, "x y z x y z x y"),                # within-doc repeats only
            (5, "ab"),                             # < n tokens: no output row
        ],
        "doc_id: long, text: string",
    )
    out = {r["doc_id"]: r for r in duplicated_ngram_stats(df, ngram=3).collect()}
    assert set(out) == {1, 2, 3, 4}
    assert (out[1]["n_grams"], out[1]["n_dup_grams"], out[1]["n_cross_dup_grams"]) == (3, 2, 2)
    assert out[1]["dup_fraction"] == pytest.approx(2 / 3, abs=1e-6)
    assert (out[2]["n_grams"], out[2]["n_dup_grams"]) == (3, 2)
    assert (out[3]["n_dup_grams"], out[3]["n_cross_dup_grams"]) == (0, 0)
    # doc 4: 6 trigram instances, every gram repeats WITHIN the doc but
    # never crosses documents
    assert (out[4]["n_grams"], out[4]["n_dup_grams"], out[4]["n_cross_dup_grams"]) == (6, 6, 0)
    assert out[4]["cross_dup_fraction"] == 0.0

    with pytest.raises(ValueError, match="ngram"):
        duplicated_ngram_stats(df, ngram=0)


class TestContainmentPairs:
    def test_full_containment_of_quoted_doc(self, spark):
        from hds_functions_spark.operators.dedup import (
            ngram_containment_pairs,
        )

        long_doc = "a b c d e f g h"
        quote = "c d e f"  # every 3-gram of this is inside long_doc
        df = spark.createDataFrame(
            [(1, long_doc), (2, quote), (3, "x y z w")],
            "doc_id long, text string",
        )
        out = ngram_containment_pairs(df, ngram=3, min_containment=0.5)
        rows = {(r["id_a"], r["id_b"]): r for r in out.collect()}
        assert (1, 2) in rows
        r = rows[(1, 2)]
        assert r["containment_b_in_a"] == 1.0  # quote fully inside long
        # long doc only partially covered by the quote's grams
        assert r["containment_a_in_b"] == pytest.approx(2 / 6, abs=1e-6)
        assert (1, 3) not in rows and (2, 3) not in rows

    def test_jaccard_would_miss_the_same_pair(self, spark):
        from hds_functions_spark.operators.dedup import (
            ngram_containment_pairs,
            ngram_jaccard_pairs,
        )

        long_doc = " ".join(f"w{i}" for i in range(40))
        quote = " ".join(f"w{i}" for i in range(10, 14))
        df = spark.createDataFrame(
            [(1, long_doc), (2, quote)], "doc_id long, text string"
        )
        jac = ngram_jaccard_pairs(df, ngram=3, min_jaccard=0.5)
        cont = ngram_containment_pairs(df, ngram=3, min_containment=0.9)
        assert jac.count() == 0  # low symmetric overlap
        assert cont.count() == 1  # but the quote IS fully contained


def _minhash_frames(spark):
    base = "the quick brown fox jumps over the lazy dog and runs away"
    rows_corpus = [
        (1, base),
        (2, base + " slightly changed tail here"),
        (3, "completely different content about spark query engines"),
    ]
    rows_new = [
        (100, base),  # near-dup of corpus docs 1 and 2
        (101, base + " slightly changed tail here"),
        (102, "nothing like anything else in any corpus at all zzz"),
    ]
    mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")
    return mk(rows_new), mk(rows_corpus)


class TestIncrementalMinhash:
    def test_finds_cross_and_within_batch_pairs(self, spark):
        from hds_functions_spark.operators.dedup import (
            minhash_pairs_incremental,
        )

        new, corpus = _minhash_frames(spark)
        out = minhash_pairs_incremental(
            new, corpus, min_jaccard=0.5
        ).collect()
        got = {(r["id_a"], r["id_b"]): r["cross_batch"] for r in out}
        # new doc 100 duplicates corpus doc 1 (cross-batch, new id first)
        assert got.get((100, 1)) is True
        assert got.get((101, 2)) is True
        # within the new batch 100 and 101 are near (same base text)
        assert (100, 101) in got and got[(100, 101)] is False
        # the unique new doc matches nothing
        assert not any(100 < a < 200 and a == 102 for a, _ in got)

    def test_corpus_pairs_never_emitted(self, spark):
        from hds_functions_spark.operators.dedup import (
            minhash_pairs_incremental,
        )

        new, corpus = _minhash_frames(spark)
        out = minhash_pairs_incremental(new, corpus, min_jaccard=0.0).collect()
        # corpus docs 1 and 2 are near-dups of each other, but that pair
        # is old work — it must NOT reappear
        assert all(r["id_a"] >= 100 for r in out)


# --- robust winnowing fingerprints ---------------------------------------

def _wfp(spark, rows, **kw):
    from hds_functions_spark.operators.dedup import winnowing_fingerprints

    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    out = {}
    for r in winnowing_fingerprints(df, **kw).collect():
        out.setdefault(r["doc_id"], set()).add(r["fingerprint"])
    return out


def _ref_winnow(text, k, w):
    """Pure-Python reference: min Karp-Rabin gram hash per window."""
    from hds_functions_spark.operators.dedup import WINNOW_BASE, WINNOW_PRIME

    s = text.lower()
    if len(s) < k + w - 1:
        return set()

    def gh(i):
        h = ord(s[i])
        for j in range(1, k):
            h = (h * WINNOW_BASE + ord(s[i + j])) % WINNOW_PRIME
        return h

    hs = [gh(i) for i in range(len(s) - k + 1)]
    return {min(hs[j:j + w]) for j in range(len(hs) - w + 1)}


def test_winnowing_matches_python_reference(spark):
    texts = [
        "the quick brown fox jumps over the lazy dog",
        "pack my box with five dozen liquor jugs",
        "aaaaaaaaaaaaaaaaaaaa",
        "short",
    ]
    rows = list(enumerate(texts))
    out = _wfp(spark, rows, gram_size=5, window=4)
    for i, t in rows:
        expect = _ref_winnow(t, 5, 4)
        assert out.get(i, set()) == expect, i


def test_winnowing_shared_substring_guarantee(spark):
    # docs sharing a substring of length >= k + w - 1 share a fingerprint
    shared = "unmistakable-shared-run-of-text"
    rows = [
        (1, "prefix one " + shared + " suffix alpha"),
        (2, "totally different opening " + shared + " and ending"),
    ]
    out = _wfp(spark, rows, gram_size=8, window=8)
    assert out[1] & out[2]


def test_winnowing_short_docs_excluded(spark):
    out = _wfp(spark, [(1, "tiny")], gram_size=8, window=8)
    assert out == {}


def test_winnowing_overlap_pairs_and_df_cap(spark):
    from hds_functions_spark.operators.dedup import (
        winnowing_fingerprints,
        winnowing_overlap_pairs,
    )

    shared = "a long enough duplicated passage of text here"
    rows = [
        (1, shared + " one"),
        (2, shared + " two"),
        (3, "entirely unrelated content with no copying at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    fps = winnowing_fingerprints(df, gram_size=8, window=8)
    pairs = {
        (r["id_a"], r["id_b"]): r["n_shared"]
        for r in winnowing_overlap_pairs(fps, min_shared=2).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] >= 2
    assert not any(3 in p for p in pairs)
    # df cap of 1 drops every fingerprint shared by 2+ docs -> no pairs
    none = winnowing_overlap_pairs(fps, min_shared=1, max_doc_freq=1)
    assert none.count() == 0


def test_winnowing_validation(spark):
    import pytest
    from hds_functions_spark.operators.dedup import (
        winnowing_fingerprints,
        winnowing_overlap_pairs,
    )

    df = spark.createDataFrame([(1, "abc")], "doc_id: long, text: string")
    with pytest.raises(ValueError, match="gram_size"):
        winnowing_fingerprints(df, gram_size=0)
    with pytest.raises(ValueError, match="window"):
        winnowing_fingerprints(df, window=0)
    with pytest.raises(ValueError, match="min_shared"):
        winnowing_overlap_pairs(df.selectExpr("doc_id", "'x' AS fingerprint"), min_shared=0)


def test_winnowing_incremental_df_cap_counts_both_sides(spark):
    from hds_functions_spark.operators.dedup import (
        winnowing_fingerprints,
        winnowing_overlap_incremental,
    )

    shared = "boilerplate string present everywhere in all documents"
    rows = [(i, shared) for i in range(1, 4)] + [(10, shared), (11, shared)]
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    fps = winnowing_fingerprints(df, gram_size=8, window=8)
    new_fps = fps.filter(F.col("doc_id") >= 10)
    corp_fps = fps.filter(F.col("doc_id") < 10)
    # every fingerprint is in all 5 docs; cap 4 drops them all
    assert winnowing_overlap_incremental(
        new_fps, corp_fps, min_shared=1, max_doc_freq=4
    ).count() == 0
    # cap 5 keeps them
    assert winnowing_overlap_incremental(
        new_fps, corp_fps, min_shared=1, max_doc_freq=5
    ).count() > 0


def test_exact_substring_spans_golden(spark):
    """Golden end-to-end: two docs share one 12-char passage; the span
    names its exact 1-based boundaries and the cut removes exactly it."""
    from hds_functions_spark.operators.dedup import (
        exact_substring_spans,
        remove_duplicate_spans,
    )

    docs = spark.createDataFrame(
        [
            (1, "intro SHARED-PASSAGE outro"),
            (2, "xx SHARED-PASSAGE yy"),
            (3, "completely original text"),
        ],
        "doc_id: long, text: string",
    )
    spans = exact_substring_spans(docs, min_len=10)
    got = {(r.doc_id, r.span_start, r.span_end, r.span_len)
           for r in spans.collect()}
    # the shared region is " SHARED-PASSAGE " (16 chars — flanking
    # spaces are shared too): doc 1 at 6..21, doc 2 at 3..18
    assert got == {(1, 6, 21, 16), (2, 3, 18, 16)}
    cut = {r.doc_id: (r.text_clean, r.n_removed)
           for r in remove_duplicate_spans(docs, spans).collect()}
    assert cut[1] == ("introoutro", 16)
    assert cut[2] == ("xxyy", 16)
    assert cut[3] == ("completely original text", 0)


# --- source_overlap_matrix ---------------------------------------------------


def test_source_overlap_matrix_counts_distinct_shared_fps(spark):
    from pyspark.sql import Row

    from hds_functions_spark.operators.dedup import source_overlap_matrix

    fps = spark.createDataFrame(
        [
            (1, 100), (1, 200),          # doc 1 (src a)
            (2, 100), (2, 300),          # doc 2 (src a) — 100 repeats in a
            (3, 100), (3, 200), (3, 400),  # doc 3 (src b)
            (4, 500),                    # doc 4 (src c): no overlap
        ],
        ["doc_id", "fingerprint"],
    )
    srcs = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b"), (4, "c")], ["doc_id", "source"]
    )
    out = {
        (r["source_a"], r["source_b"]): r["n_shared_fps"]
        for r in source_overlap_matrix(fps, srcs).collect()
    }
    # a and b share fps {100, 200} — distinct VALUES, not doc pairs
    assert out == {("a", "b"): 2}


def test_source_overlap_matrix_df_cap_drops_boilerplate(spark):
    from hds_functions_spark.operators.dedup import source_overlap_matrix

    # fp 100 is in 3 docs (boilerplate at cap 2); fp 200 in 2 docs
    fps = spark.createDataFrame(
        [(1, 100), (2, 100), (3, 100), (1, 200), (3, 200)],
        ["doc_id", "fingerprint"],
    )
    srcs = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b")], ["doc_id", "source"]
    )
    capped = {
        (r["source_a"], r["source_b"]): r["n_shared_fps"]
        for r in source_overlap_matrix(fps, srcs, max_doc_freq=2).collect()
    }
    assert capped == {("a", "b"): 1}  # only fp 200 survives


def _embedding_frames(spark):
    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).select("vec_id", "embedding")
    corpus = emb.filter(F.col("vec_id") % 10 != 7)
    batch = emb.filter(F.col("vec_id") % 10 == 7)
    return batch, corpus


class TestIncrementalEmbeddingPairs:
    def test_corpus_pairs_never_emitted(self, spark):
        from hds_functions_spark.operators.dedup import (
            embedding_near_dup_pairs_incremental,
        )

        batch, corpus = _embedding_frames(spark)
        out = embedding_near_dup_pairs_incremental(
            batch, corpus, threshold=0.0
        ).collect()
        batch_ids = {r["vec_id"] for r in batch.collect()}
        assert out and all(r["id_a"] in batch_ids for r in out)


# --- incremental twins: the slice identity of every pair family -------


def _slice_case(spark, family):
    """``(batch_op, incremental_op, new, corpus, id_col, score)`` of one
    pair family, on a batch whose ids are disjoint from the corpus'."""
    from hds_functions_spark.operators import dedup as D

    if family == "minhash":
        new, corpus = _minhash_frames(spark)
        return (
            lambda f: D.minhash_pairs(f, min_jaccard=0.5),
            lambda n, c: D.minhash_pairs_incremental(n, c, min_jaccard=0.5),
            new, corpus, "doc_id", "est_jaccard",
        )
    if family == "embedding":
        new, corpus = _embedding_frames(spark)
        return (
            lambda f: D.embedding_near_dup_pairs(f, threshold=0.2),
            lambda n, c: D.embedding_near_dup_pairs_incremental(
                n, c, threshold=0.2
            ),
            new, corpus, "vec_id", "cosine_sim",
        )
    shared = "the same duplicated passage of shared text appears here"
    rows = [
        (1, shared + " corpus one"),
        (2, shared + " corpus two"),
        (3, "completely unrelated corpus document number three"),
        (10, shared + " batch arrival"),
        (11, "another unrelated batch document entirely"),
        (12, shared + " second batch arrival"),
    ]
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    fps = D.winnowing_fingerprints(df, gram_size=8, window=8)
    return (
        lambda f: D.winnowing_overlap_pairs(f, min_shared=2),
        lambda n, c: D.winnowing_overlap_incremental(n, c, min_shared=2),
        fps.filter(F.col("doc_id") >= 10),
        fps.filter(F.col("doc_id") < 10),
        "doc_id", "n_shared",
    )


@pytest.mark.parametrize("ansi", [False, True], ids=["ansi_off", "ansi_on"])
@pytest.mark.parametrize("family", ["minhash", "embedding", "winnowing"])
def test_incremental_slice_identity(spark, family, ansi):
    """incremental(new, corpus) == batch(new + corpus) restricted to the
    pairs touching ``new`` — identical pairs and scores, a new id
    leading every pair, ``cross_batch`` set exactly on new-corpus pairs.
    With an empty corpus the incremental twin is the batch operator on
    ``new``."""
    batch_op, inc_op, new, corpus, id_col, score = _slice_case(spark, family)
    spark.conf.set("spark.sql.ansi.enabled", str(ansi).lower())
    try:
        new_ids = {r[0] for r in new.select(id_col).collect()}
        full = {
            (r["id_a"], r["id_b"]): r[score]
            for r in batch_op(new.unionByName(corpus)).collect()
            if r["id_a"] in new_ids or r["id_b"] in new_ids
        }
        rows = inc_op(new, corpus).collect()
        got = {
            (min(r["id_a"], r["id_b"]), max(r["id_a"], r["id_b"])): r[score]
            for r in rows
        }
        assert got == full
        assert any(r["cross_batch"] for r in rows)
        assert any(not r["cross_batch"] for r in rows)
        for r in rows:
            assert r["id_a"] in new_ids
            if r["cross_batch"]:
                assert r["id_b"] not in new_ids
            else:
                assert r["id_b"] in new_ids and r["id_a"] < r["id_b"]

        alone = {
            (r["id_a"], r["id_b"]): r[score] for r in batch_op(new).collect()
        }
        empty = inc_op(new, corpus.limit(0)).collect()
        assert {(r["id_a"], r["id_b"]): r[score] for r in empty} == alone
        assert not any(r["cross_batch"] for r in empty)
    finally:
        spark.conf.set("spark.sql.ansi.enabled", "false")


# --- sub-document (paragraph) near-dedup, r16 ----------------------------


def test_split_paragraphs(spark):
    from hds_functions_spark.operators.dedup import split_paragraphs

    df = spark.createDataFrame(
        [(1, "para one\n\npara two\n\n\n  \n\npara three"), (2, "solo")],
        "doc_id: long, text: string",
    )
    rows = split_paragraphs(df).collect()
    got = {(r["doc_id"], r["para_pos"]): r["para"] for r in rows}
    # the all-whitespace segment is dropped but positions keep the
    # original split numbering
    assert got == {
        (1, 0): "para one", (1, 1): "para two", (1, 3): "para three",
        (2, 0): "solo",
    }


def test_minhash_pairs_subdoc_cross_doc(spark):
    """A boilerplate paragraph shared by two otherwise-unrelated docs is
    caught at paragraph granularity (doc-level minhash would dilute it),
    with positions re-attached; same-doc repeats only with
    cross_doc_only=False."""
    from hds_functions_spark.operators.dedup import (
        minhash_pairs_subdoc,
        split_paragraphs,
    )

    boiler = "subscribe to our newsletter for weekly updates and offers"
    df = spark.createDataFrame(
        [
            (1, f"totally original research about graph theory\n\n{boiler}"),
            (2, f"{boiler}\n\nrecipes for sourdough bread and pastries"),
            (3, f"{boiler}\n\nmore text\n\n{boiler}"),
        ],
        "doc_id: long, text: string",
    )
    paras = split_paragraphs(df)
    pairs = minhash_pairs_subdoc(paras, num_hashes=16, bands=4,
                                 min_jaccard=0.9)
    got = {(r["doc_a"], r["pos_a"], r["doc_b"], r["pos_b"])
           for r in pairs.collect()}
    assert (1, 1, 2, 0) in got
    assert (1, 1, 3, 0) in got and (1, 1, 3, 2) in got
    assert all(a != b for a, _, b, _ in got)  # cross-doc only
    with_self = minhash_pairs_subdoc(
        paras, num_hashes=16, bands=4, min_jaccard=0.9,
        cross_doc_only=False,
    )
    got_self = {(r["doc_a"], r["pos_a"], r["doc_b"], r["pos_b"])
                for r in with_self.collect()}
    assert (3, 0, 3, 2) in got_self  # within-doc repeat surfaced


def test_minhash_pairs_subdoc_slice_identity(docs):
    """On single-paragraph documents, sub-document pairs == doc-level
    minhash_pairs exactly (the r15-verdict slice-identity contract)."""
    from hds_functions_spark.operators.dedup import (
        minhash_pairs,
        minhash_pairs_subdoc,
        split_paragraphs,
    )

    doc_level = {
        (r["id_a"], r["id_b"]): r["est_jaccard"]
        for r in minhash_pairs(docs, num_hashes=16, bands=4).collect()
    }
    sub = minhash_pairs_subdoc(
        split_paragraphs(docs), num_hashes=16, bands=4
    ).collect()
    sub_level = {(r["doc_a"], r["doc_b"]): r["est_jaccard"] for r in sub}
    assert all((r["pos_a"], r["pos_b"]) == (0, 0) for r in sub)
    assert sub_level == doc_level and len(doc_level) > 0


def test_minhash_pairs_subdoc_contract_violation(spark):
    from hds_functions_spark.operators.dedup import minhash_pairs_subdoc

    bad = spark.createDataFrame(
        [(1, 0, "some paragraph text here"),
         (1, 7, "another paragraph body text")],
        "doc_id: long, para_pos: int, para: string",
    )
    with pytest.raises(Exception, match="out of contract"):
        minhash_pairs_subdoc(bad, para_stride=5).collect()


def test_dedup_paragraph_pairs_classes_reachable(spark):
    """Registry protocol (r16): exact boilerplate pairs, near-but-not-
    exact mutation pairs, and content-window pairs must ALL be present,
    and the quadratic-blowup regression (one global boiler template ->
    ~every doc pair emitted) stays dead: output is a small fraction of
    all doc pairs."""
    import hds_functions_spark.registry_ext  # noqa: F401
    from hds_functions_spark.registry import QUERIES

    sf = "/root/testdata/sf0.01"
    out = QUERIES["dedup_paragraph_pairs"](spark, sf).toPandas()
    n_docs = spark.read.parquet(f"{sf}/documents.parquet").count()
    assert len(out) < 0.02 * n_docs * (n_docs - 1) / 2  # no blowup
    assert (out.n_exact_paras > 0).any()
    assert (out.max_est_jaccard < 1.0).any()  # near-only doc pairs
    assert (out.n_para_pairs >= out.n_exact_paras).all()
    assert (out.doc_a < out.doc_b).all()


class TestHotBucketGrid:
    """r17 skew guard: hot LSH buckets split into an S x S cell grid
    (dedup._LSH_BUCKET_CHUNK). The pair set must be IDENTICAL with the
    grid forced on (tiny chunk) and effectively off (huge chunk)."""

    def _hot_corpus(self, spark):
        # 12 identical docs (one hot bucket per band) + distinct tail
        rows = [(i, BASE) for i in range(12)] + [
            (100 + i, f"unique document number {i} with plenty of words "
                      "to shingle abcde fghij klmno")
            for i in range(8)
        ]
        return spark.createDataFrame(rows, "doc_id: long, text: string")

    def _pairs_set(self, df):
        from hds_functions_spark.caching import release_operator_caches

        try:
            return {
                (r["id_a"], r["id_b"], round(r["est_jaccard"], 9))
                for r in minhash_pairs(df).collect()
            }
        finally:
            release_operator_caches()

    def test_grid_identity_self_join(self, spark, monkeypatch):
        from hds_functions_spark.operators import dedup as D

        docs = self._hot_corpus(spark)
        # rate 1 = exact counting (pmod(x, 1) == 0 for every row), so
        # the tiny corpus is guaranteed to trip the lowered chunk
        monkeypatch.setattr(D, "_LSH_HOT_SAMPLE", 1)
        monkeypatch.setattr(D, "_LSH_BUCKET_CHUNK", 1 << 30)
        off = self._pairs_set(docs)
        monkeypatch.setattr(D, "_LSH_BUCKET_CHUNK", 3)  # force S >= 4
        on = self._pairs_set(docs)
        assert on == off
        # sanity: the hot bucket really produced quadratic pairs
        assert len(on) >= 12 * 11 // 2

    def test_grid_identity_incremental(self, spark, monkeypatch):
        from hds_functions_spark.operators import dedup as D
        from hds_functions_spark.operators.dedup import (
            minhash_pairs_incremental,
        )

        monkeypatch.setattr(D, "_LSH_HOT_SAMPLE", 1)
        corpus = self._hot_corpus(spark)
        new = spark.createDataFrame(
            [(200, BASE), (201, BASE.replace("lazy", "sleepy")),
             (202, "fresh unrelated payload with words to shingle nicely")],
            "doc_id: long, text: string",
        )

        def run():
            from hds_functions_spark.caching import release_operator_caches

            try:
                return {
                    (r["id_a"], r["id_b"], r["cross_batch"],
                     round(r["est_jaccard"], 9))
                    for r in minhash_pairs_incremental(new, corpus).collect()
                }
            finally:
                release_operator_caches()

        monkeypatch.setattr(D, "_LSH_BUCKET_CHUNK", 1 << 30)
        off = run()
        monkeypatch.setattr(D, "_LSH_BUCKET_CHUNK", 2)  # force S > 1
        on = run()
        assert on == off
        assert any(cb for _a, _b, cb, _e in on)  # cross-batch pairs exist

    def test_grid_splits_hot_bucket_keys(self, spark, monkeypatch):
        # the mechanism itself: with a tiny chunk the banded join input
        # carries S > 1 and pair work spreads over multiple grid cells
        from hds_functions_spark.operators import dedup as D

        monkeypatch.setattr(D, "_LSH_HOT_SAMPLE", 1)
        docs = self._hot_corpus(spark)
        banded = docs.select(
            F.col("doc_id"), F.lit(0).alias("band"),
            F.hash("text").alias("band_hash"),
        )
        hot = D._hot_buckets(banded, "doc_id", chunk=3)
        rows = hot.collect()
        assert len(rows) == 1 and rows[0]["_s"] == 4  # ceil(12 / 3)
        gridded = D._attach_grid(banded, hot, "doc_id")
        homes = {
            r["_home"] for r in gridded.filter(F.col("_s") > 1).collect()
        }
        assert homes and homes <= set(range(4)) and len(homes) > 1
