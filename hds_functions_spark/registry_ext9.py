"""Extension-layer query registry, part 9 (round-12 additions).

Same contract as ``registry_ext.py``: every query has a DuckDB oracle
generated from the SAME constants so both sides compute identical
values by construction. Round-12 closes the verdict's punch list:

1. **Unigram-LM tokenizer training** (Kudo 2018, hard-EM variant) —
   the SentencePiece-style alternative to BPE. The oracle unrolls BOTH
   the EM iterations AND the per-position Viterbi DP/traceback as
   generated CTE chains; parity is exact because every cross-row
   aggregate is integer and the only doubles are per-word DP products
   (IEEE multiply/compare, identical in Python and DuckDB).
2. **Perceptual DCT hash (pHash) near-dup image grouping** — the
   ahash upgrade riding the baseline-JPEG DCT machinery.
3. **WARC source reader** — the container web corpora actually arrive
   in, with the corrupt-record quarantine contract.
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
from .registry_ext3 import _DUCK_TOK

# --- unigram-LM (SentencePiece-style) tokenizer ------------------------------

#: Constants shared verbatim by operators/unigram.py defaults and the
#: oracle below — change in lockstep.
_UG_M = 4  # max piece length
_UG_LMAX = 8  # word truncation length
_UG_SEED_MIN = 2  # seed min count for multi-char pieces
_UG_V = 40  # max multi-char vocabulary after each prune
_UG_ITERS = 2  # EM iterations


def _duck_ug_prune(src: str) -> str:
    """Keep all single-char pieces + top-V multi-char by (cnt DESC,
    piece ASC) — mirrors operators/unigram.py:_prune."""
    return f"""
  SELECT piece, cnt FROM {src} WHERE length(piece) = 1
  UNION ALL
  SELECT piece, cnt FROM (
    SELECT piece, cnt,
           row_number() OVER (ORDER BY cnt DESC, piece ASC) AS rk
    FROM {src} WHERE length(piece) > 1) WHERE rk <= {_UG_V}"""


def _duck_ug_mstep(src: str) -> str:
    """Laplace-smoothed probabilities as exact bigint ratios — mirrors
    operators/unigram.py:_smoothed_probs (one IEEE double division)."""
    return f"""
  SELECT piece, cnt,
         CAST(cnt + 1 AS DOUBLE) / CAST(t.total + t.nv AS DOUBLE) AS p
  FROM {src}, (SELECT sum(cnt) AS total, count(*) AS nv FROM {src}) t"""


def _duck_ug_viterbi(pref: str, probs: str) -> str:
    """One full Viterbi pass as generated CTEs: ``{pref}o`` candidate
    occurrences under ``probs``, ``{pref}d{{j}}`` the DP value at
    position j (``dp[j] = max_k dp[j-k] * p``), ``{pref}b{{t}}`` the
    traceback steps (argmax by ``v DESC, k ASC`` — ties to the
    smallest k, the exact rule of unigram.py:viterbi_segment_py), and
    ``{pref}cnt`` the weighted piece-usage counts of the E-step.
    MATERIALIZED: the DP chain references each level up to
    {_UG_M} times — inlining would expand ~{_UG_M}^{_UG_LMAX} scans."""
    parts = [
        f""",
{pref}o AS MATERIALIZED (
  SELECT o.word, o.n, o.len, o.i, o.k, o.piece, v.p
  FROM occ o JOIN {probs} v USING (piece)),
{pref}d0 AS (SELECT word, CAST(1.0 AS DOUBLE) AS v FROM wds)"""
    ]
    for j in range(1, _UG_LMAX + 1):
        cands = "\n    UNION ALL\n".join(
            f"""    SELECT o.word, d.v * o.p AS v
    FROM {pref}o o JOIN {pref}d{j - k} d ON d.word = o.word
    WHERE o.i = {j - k} AND o.k = {k}"""
            for k in range(1, min(_UG_M, j) + 1)
        )
        parts.append(
            f""",
{pref}d{j} AS MATERIALIZED (SELECT word, max(v) AS v FROM (
{cands}) GROUP BY 1)"""
        )
    dpall = "\n  UNION ALL\n".join(
        f"  SELECT word, {j} AS j, v FROM {pref}d{j}"
        for j in range(0, _UG_LMAX + 1)
    )
    parts.append(
        f""",
{pref}dp AS MATERIALIZED (
{dpall}),
{pref}b0 AS (SELECT word, n, len AS pos FROM wds)"""
    )
    for t in range(1, _UG_LMAX + 1):
        parts.append(
            f""",
{pref}b{t} AS MATERIALIZED (
  SELECT word, n, pos, piece FROM (
    SELECT b.word, b.n, o.i AS pos, o.piece,
           row_number() OVER (PARTITION BY b.word
                              ORDER BY d.v * o.p DESC, o.k ASC) AS rn
    FROM {pref}b{t - 1} b
    JOIN {pref}o o ON o.word = b.word AND o.i + o.k = b.pos
    JOIN {pref}dp d ON d.word = b.word AND d.j = o.i
    WHERE b.pos > 0) WHERE rn = 1)"""
        )
    segsel = "\n  UNION ALL\n".join(
        f"  SELECT word, n, piece FROM {pref}b{t}"
        for t in range(1, _UG_LMAX + 1)
    )
    parts.append(
        f""",
{pref}seg AS MATERIALIZED (
{segsel}),
{pref}cnt AS (SELECT piece, CAST(sum(n) AS BIGINT) AS cnt
              FROM {pref}seg GROUP BY 1)"""
    )
    return "".join(parts)


def _duck_ug_parts() -> str:
    """Shared unrolled training chain ending in ``v{_UG_ITERS}`` =
    the final vocabulary ``(piece, cnt, p)``."""
    parts = [
        f"""
w_raw AS (SELECT unnest({_DUCK_TOK}) AS word FROM documents),
wf AS MATERIALIZED (
  SELECT substr(word, 1, {_UG_LMAX}) AS word,
         CAST(count(*) AS BIGINT) AS n
  FROM w_raw GROUP BY 1),
wds AS (SELECT word, n, length(word) AS len FROM wf),
occ AS MATERIALIZED (
  SELECT word, n, len, i, k, substr(word, i + 1, k) AS piece
  FROM wds,
       unnest(generate_series(0, len - 1)) AS t(i),
       unnest(generate_series(1, least({_UG_M}, len - i))) AS u(k)),
seed AS (SELECT piece, CAST(sum(n) AS BIGINT) AS cnt FROM occ GROUP BY 1),
v0cand AS (SELECT piece, cnt FROM seed
           WHERE length(piece) = 1 OR cnt >= {_UG_SEED_MIN}),
v0k AS ({_duck_ug_prune('v0cand')}),
v0 AS MATERIALIZED ({_duck_ug_mstep('v0k')})"""
    ]
    for it in range(1, _UG_ITERS + 1):
        parts.append(_duck_ug_viterbi(f"e{it}", f"v{it - 1}"))
        parts.append(
            f""",
v{it}cand AS (SELECT v.piece, coalesce(c.cnt, 0) AS cnt
              FROM (SELECT piece FROM v{it - 1}) v
              LEFT JOIN e{it}cnt c USING (piece)),
v{it}k AS ({_duck_ug_prune(f'v{it}cand')}),
v{it} AS MATERIALIZED ({_duck_ug_mstep(f'v{it}k')})"""
        )
    return "".join(parts)


def _duck_ug_train_sql() -> str:
    return f"""
WITH {_duck_ug_parts()}
SELECT piece, CAST(length(piece) AS INTEGER) AS piece_len,
       CAST(cnt AS BIGINT) AS n_uses, round(p, 9) AS p_q9
FROM v{_UG_ITERS}
"""


@_register("text_unigram_train", _duck_ug_train_sql())
def text_unigram_train(spark, sf_dir):
    """Unigram-LM (SentencePiece-style) tokenizer training, the
    hard-EM (Viterbi-EM) variant of Kudo 2018: seed vocabulary = all
    substrings of the word dictionary (single chars always kept for
    coverage), then per EM iteration a Viterbi-best segmentation of
    every dictionary word, integer usage re-counts, a deterministic
    top-V prune, and Laplace-smoothed re-estimation. The corpus
    collapses to its word-frequency dictionary in one combinable
    aggregate, so training cost is dictionary-sized at any corpus
    scale; the per-word DP is the one justified Python crossing
    (Arrow-batched mapInPandas). The oracle unrolls both EM iterations
    and the position loop — parity is exact because counts are
    bigints and DP products are bit-identical IEEE doubles. See
    operators/unigram.py module docstring."""
    from .operators.unigram import unigram_train

    return unigram_train(
        _t(spark, sf_dir, "documents"),
        max_piece_len=_UG_M,
        max_word_len=_UG_LMAX,
        min_seed_count=_UG_SEED_MIN,
        max_vocab=_UG_V,
        n_iterations=_UG_ITERS,
    )


def _duck_ug_encode_sql() -> str:
    return f"""
WITH {_duck_ug_parts()}{_duck_ug_viterbi('fz', f'v{_UG_ITERS}')},
wseg AS (SELECT word, CAST(count(*) AS BIGINT) AS n_pieces
         FROM fzseg GROUP BY 1),
docw AS (SELECT doc_id, substr(word, 1, {_UG_LMAX}) AS word FROM (
           SELECT doc_id, unnest({_DUCK_TOK}) AS word FROM documents))
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(n_pieces) AS BIGINT) AS n_pieces,
       round(CAST(sum(n_pieces) AS DOUBLE) / count(*), 6) AS pieces_per_word
FROM docw JOIN wseg USING (word) GROUP BY 1
"""


@_register("text_unigram_encode", _duck_ug_encode_sql())
def text_unigram_encode(spark, sf_dir):
    """The trained unigram tokenizer applied back to the corpus: per
    document, word count, Viterbi piece count under the final
    vocabulary, and pieces-per-word — the compression metric, the
    sibling of text_bpe_encode. One final Viterbi pass over the
    DICTIONARY (never the corpus), then an equi-join of exploded doc
    words against the broadcastable word->piece-count table."""
    from .operators.unigram import unigram_encode_stats

    return unigram_encode_stats(
        _t(spark, sf_dir, "documents"),
        max_piece_len=_UG_M,
        max_word_len=_UG_LMAX,
        min_seed_count=_UG_SEED_MIN,
        max_vocab=_UG_V,
        n_iterations=_UG_ITERS,
    )


# --- perceptual DCT hash (pHash) near-dup image grouping --------------------


def _duck_phash_cte() -> str:
    """Mirror of synthesize_image + media_codecs.phash64: the 32x32
    gray lattice comes closed-form from the md5 synthesis protocol
    (the ahash oracle's expression at a 32-wide lattice), and the 2-D
    DCT is two integer matmuls against the EXACT fixed-point cosine
    table embedded below (generated from media_codecs._PHASH_T, the
    same list the Python side multiplies with) — so the whole hash is
    bigint arithmetic, bit-identical by construction."""
    from .operators.media_codecs import _PHASH_GRID, _PHASH_KEEP, _PHASH_T

    rows = ",\n    ".join(
        ", ".join(
            f"({u}, {x}, {_PHASH_T[u][x]})" for x in range(_PHASH_GRID)
        )
        for u in range(_PHASH_KEEP)
    )
    g = _PHASH_GRID
    pix = f"(((i.i * h) // {g}) * w + ((j.j * w) // {g}))"
    return f"""
WITH b AS (
  SELECT doc_id,
         1 + ('0x' || substr(md5(text), 1, 2))::INTEGER % 64 AS w,
         1 + ('0x' || substr(md5(text), 3, 2))::INTEGER % 64 AS h,
         ('0x' || substr(md5(text), 7, 2))::INTEGER AS d3
  FROM documents
), t AS (
  SELECT * FROM (VALUES
    {rows}) AS q(u, x, tv)
), g AS (
  SELECT doc_id, i.i AS i, j.j AS j,
         ((d3 + {pix} * 3) % 256)
         + ((d3 + {pix} * 3 + 1) % 256)
         + ((d3 + {pix} * 3 + 2) % 256) AS s
  FROM b, range(0, {g}) i(i), range(0, {g}) j(j)
), r AS (
  SELECT g.doc_id, g.i, tv.u AS v, sum(g.s * tv.tv) AS rv
  FROM g JOIN t tv ON tv.x = g.j GROUP BY 1, 2, 3
), c AS (
  SELECT r.doc_id, tu.u AS u, r.v, CAST(sum(r.rv * tu.tv) AS BIGINT) AS cv
  FROM r JOIN t tu ON tu.x = r.i GROUP BY 1, 2, 3
), tot AS (
  SELECT doc_id,
         sum(CASE WHEN u = 0 AND v = 0 THEN 0 ELSE cv END) AS total
  FROM c GROUP BY 1
), bits AS (
  SELECT c.doc_id, u * {_PHASH_KEEP} + v AS idx,
         CASE WHEN cv * 63 > total THEN 1 ELSE 0 END AS bit
  FROM c JOIN tot USING (doc_id) WHERE NOT (u = 0 AND v = 0)
), ph AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN idx >= 32 THEN bit::BIGINT << (idx - 32)
                  ELSE 0 END) AS BIGINT) AS phash_hi,
         CAST(sum(CASE WHEN idx < 32 THEN bit::BIGINT << idx
                  ELSE 0 END) AS BIGINT) AS phash_lo
  FROM bits GROUP BY 1
)
{{select}}
"""


def _duck_phash_sql() -> str:
    return _duck_phash_cte().format(select="""
SELECT phash_hi, phash_lo, CAST(count(*) AS BIGINT) AS n_images,
       min(doc_id) AS canonical_doc_id
FROM ph GROUP BY 1, 2 HAVING count(*) > 1""")


@_register("multimodal_phash_dups", _duck_phash_sql())
def multimodal_phash_dups(spark, sf_dir):
    """NEAR-duplicate image groups by perceptual DCT hash: every
    synthesized image through the REAL decode path, the fixed-point
    integer 2-D DCT, and one combinable aggregate on the 63 sign-vs-
    mean bits of the low-frequency block — the production upgrade of
    multimodal_ahash_dups (low-frequency structure survives lossy
    re-encodes that flip ahash bits; requantization invariance is
    pinned by unit test against the JPEG round-trip). Never pairwise:
    hash-equality grouping, the exact-dedup shape. The oracle
    recomputes all 63 bits integer-exactly from the synthesis protocol
    and the SAME embedded cosine table."""
    from .operators.multimodal import (
        image_phash,
        phash_duplicate_groups,
        synthesize_media_payloads,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return phash_duplicate_groups(
        image_phash(synthesize_media_payloads(docs, "image"))
    )


# --- WARC/WET source roundtrip ----------------------------------------------


@_register(
    "source_warc_corpus",
    """
SELECT lang AS content_language, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(length(text)) AS BIGINT) AS total_chars
FROM documents
WHERE doc_id % 3 <> 1
GROUP BY 1
""",
)
def source_warc_corpus(spark, sf_dir):
    """WARC corpus lifecycle: write a documents subset as real
    ``.warc.gz`` archives (concatenated per-record gzip members, WET
    'conversion' records carrying the language in
    WARC-Identified-Content-Language — the Common Crawl layout),
    EXECUTOR-side via applyInPandas (one archive per bucket, never a
    driver loop), read them back with read_warc_corpus (binaryFile
    scan, one task per archive, pure-stdlib member walk), assert zero
    quarantined rows, and aggregate. The oracle runs the same
    aggregate on the parquet source — any writer/reader drift (lost
    records, header mangling, payload truncation) breaks the match.
    See sources/warc.py for the quarantine contract."""
    import os

    from .sources.warc import read_warc_corpus

    path = scratch_path(spark, sf_dir, "warc_corpus")
    os.makedirs(path, exist_ok=True)
    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 3 != 1)
        .select("doc_id", "text", "lang")
        .withColumn("bucket", (F.col("doc_id") % 8).cast("int"))
    )

    def write_bucket(pdf):
        import pandas as pd

        from hds_functions_spark.sources.warc import (
            build_warc_gz,
            build_warc_record,
        )

        b = int(pdf["bucket"].iloc[0])
        recs = []
        for doc_id, text, lang in zip(
            pdf["doc_id"], pdf["text"], pdf["lang"]
        ):
            recs.append(
                build_warc_record(
                    {
                        "WARC-Type": "conversion",
                        "WARC-Record-ID": f"<urn:doc:{doc_id}>",
                        "WARC-Target-URI": f"http://example.com/doc/{doc_id}",
                        "WARC-Date": "2024-01-01T00:00:00Z",
                        "WARC-Identified-Content-Language": str(lang),
                    },
                    str(text).encode("utf-8"),
                )
            )
        with open(os.path.join(path, f"part-{b:04d}.warc.gz"), "wb") as f:
            f.write(build_warc_gz(recs))
        return pd.DataFrame({"bucket": [b], "n": [len(recs)]})

    written = docs.groupBy("bucket").applyInPandas(
        write_bucket, "bucket int, n long"
    )
    n_written = written.agg(F.sum("n")).first()[0]
    df = read_warc_corpus(path, spark)
    stats = df.agg(
        F.count(F.when(F.col("_corrupt_record").isNotNull(), 1)).alias("c"),
        F.count(F.when(F.col("_corrupt_record").isNull(), 1)).alias("n"),
    ).first()
    if stats["c"] or stats["n"] != n_written:
        raise ValueError(
            f"warc roundtrip drift at {path}: wrote {n_written}, read "
            f"{stats['n']} clean + {stats['c']} corrupt"
        )
    return (
        df.filter(F.col("_corrupt_record").isNull())
        .groupBy("content_language")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.length("payload")).cast("long").alias("total_chars"),
        )
    )


@_register(
    "multimodal_phash",
    _duck_phash_cte().format(select="""
SELECT b2.doc_id,
       CAST(b2.w AS INTEGER) AS width, CAST(b2.h AS INTEGER) AS height,
       ph.phash_hi, ph.phash_lo
FROM ph JOIN b b2 USING (doc_id)"""),
)
def multimodal_phash(spark, sf_dir):
    """Per-image perceptual DCT hash through the REAL decode path —
    the bit-strength companion of multimodal_phash_dups: the dup query
    only driver-checks COLLIDING hashes, this one checks all 63 bits
    of EVERY image against the oracle's integer-exact recomputation
    (any drift in the lattice sampling, the fixed-point DCT, or the
    mean-threshold flips a bit somewhere in 500-80k images). Zero
    shuffle: 1 row in -> 1 row out, Arrow-batched."""
    from .operators.multimodal import image_phash, synthesize_media_payloads

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return image_phash(synthesize_media_payloads(docs, "image"))


@_register(
    "source_warc_quarantine",
    """
SELECT CAST(sum(CASE WHEN doc_id % 17 <> 3 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_clean,
       CAST(sum(CASE WHEN doc_id % 17 = 3 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_quarantined,
       CAST(sum(CASE WHEN doc_id % 17 <> 3 THEN length(text)
                ELSE 0 END) AS BIGINT) AS clean_chars
FROM documents
""",
)
def source_warc_quarantine(spark, sf_dir):
    """The quarantine contract under DRIVER oracle check (the
    roundtrip query proves the clean path; this proves the FAILURE
    path): archives are written with a planted malformed record for
    every ``doc_id % 17 == 3`` document (valid WARC framing, garbage
    Content-Length — the classic torn-crawl shape), read back, and
    counted. Exactly one `_corrupt_record` row must appear per planted
    corruption, the walker must resync so every OTHER record survives
    intact, and the clean payload volume must match the parquet
    closed form. See sources/warc.py parse_warc_stream."""
    import os

    from .sources.warc import read_warc_corpus

    path = scratch_path(spark, sf_dir, "warc_quar")
    os.makedirs(path, exist_ok=True)
    docs = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .withColumn("bucket", (F.col("doc_id") % 8).cast("int"))
    )

    def write_bucket(pdf):
        import pandas as pd

        from hds_functions_spark.sources.warc import (
            build_warc_gz,
            build_warc_record,
        )

        b = int(pdf["bucket"].iloc[0])
        recs = []
        for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
            rec = build_warc_record(
                {
                    "WARC-Type": "conversion",
                    "WARC-Record-ID": f"<urn:doc:{doc_id}>",
                },
                str(text).encode("utf-8"),
            )
            if int(doc_id) % 17 == 3:  # plant the torn record
                n = len(str(text).encode("utf-8"))
                rec = rec.replace(
                    f"Content-Length: {n}".encode(),
                    b"Content-Length: xx",
                )
            recs.append(rec)
        with open(os.path.join(path, f"part-{b:04d}.warc.gz"), "wb") as f:
            f.write(build_warc_gz(recs))
        return pd.DataFrame({"bucket": [b], "n": [len(recs)]})

    docs.groupBy("bucket").applyInPandas(
        write_bucket, "bucket int, n long"
    ).agg(F.sum("n")).collect()
    df = read_warc_corpus(path, spark)
    return df.agg(
        F.count(F.when(F.col("_corrupt_record").isNull(), 1)).cast(
            "long"
        ).alias("n_clean"),
        F.count(F.when(F.col("_corrupt_record").isNotNull(), 1)).cast(
            "long"
        ).alias("n_quarantined"),
        F.sum(
            F.when(
                F.col("_corrupt_record").isNull(), F.length("payload")
            ).otherwise(F.lit(0))
        ).cast("long").alias("clean_chars"),
    )


from . import registry_ext10  # noqa: E402,F401  (round-12 second batch)
