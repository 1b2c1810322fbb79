"""Extension-layer query registry, part 11 (round-13).

Same contract as ``registry_ext.py``: every query has a DuckDB oracle
generated from the SAME constants so both sides compute identical
values by construction. This batch closes the r12 verdict's frontier
items:

1. **Perceptual audio fingerprint** — audio's pHash tier (the exact
   tier is ``multimodal_audio_dedup``'s PCM md5): a 56-bit
   banded-energy sign hash (Haitsma & Kalker 2002) computed through
   the real RIFF/PCM walk, integer-exact end to end so the oracle
   replays every bit from the synthesis protocol.
"""

from __future__ import annotations

from pyspark.sql import functions as F  # noqa: F401  (used by later queries)

from .caching import scratch_path
from .registry import ORACLES, QUERIES, _register, _t  # noqa: F401

# Direct `import hds_functions_spark.registry_extN` must see every
# upstream ORACLES/QUERIES entry this module reads at import time:
# pull the chain head, which registers all earlier ext modules before
# this body continues. Via the normal chain import this resolves to
# the already-in-progress module in sys.modules (PEP 328 circular
# import), a no-op.
from . import registry_ext  # noqa: E402,F401


# --- perceptual audio fingerprint ------------------------------------------


def _duck_audio_phash_cte(src: str = "documents") -> str:
    """Mirror of synthesize_wav_tones + media_codecs.audio_phash56: the
    PCM samples come closed-form from the md5 synthesis protocol
    (segment amplitude/half-period tables as per-doc lists), the Walsh
    band correlations are integer sums grouped by (time segment, band),
    and the 56 hash bits are the signs of the Haitsma-Kalker
    double-differences of the squared correlations — pure bigint
    arithmetic, bit-identical by construction (|S| <= 8672 * 1024 so
    S^2 < 2^48, comfortably BIGINT). Byte k of md5(seed) is hex substr
    position 2k+1; segment s uses amp byte (9+s) % 16 and half-period
    byte (s*2+3) % 16, matching the Python protocol exactly."""
    amp_pos = [2 * ((9 + s) % 16) + 1 for s in range(8)]
    per_pos = [2 * ((s * 2 + 3) % 16) + 1 for s in range(8)]
    amps = ",\n          ".join(
        f"256 + ('0x' || substr(md5(text), {p}, 2))::INTEGER * 16"
        for p in amp_pos
    )
    pers = ",\n          ".join(
        f"1 << (('0x' || substr(md5(text), {p}, 2))::INTEGER % 4)"
        for p in per_pos
    )
    return f"""
WITH b AS (
  SELECT doc_id,
         ([8000,16000,22050,44100,48000])[
             ('0x' || substr(md5(text), 11, 2))::INTEGER % 5 + 1] AS rate,
         1 + ('0x' || substr(md5(text), 13, 2))::INTEGER % 2 AS ch,
         512 + (('0x' || substr(md5(text), 15, 2))::INTEGER * 256
                + ('0x' || substr(md5(text), 17, 2))::INTEGER) % 512
             AS frames,
         [{amps}] AS amps,
         [{pers}] AS pers
  FROM {src}
), smp AS (
  SELECT doc_id, frames,
         t.i AS i,
         ch * (CASE WHEN ((t.i // pers[(t.i * 8) // frames + 1]) % 2) = 0
                    THEN amps[(t.i * 8) // frames + 1]
                    ELSE -amps[(t.i * 8) // frames + 1] END) AS mono
  FROM b CROSS JOIN range(0, 1024) t(i)
  WHERE t.i < frames
), sb AS (
  SELECT doc_id, (i * 9) // frames AS f, bb.b AS band,
         CAST(sum(mono * (1 - 2 * ((i >> bb.b) & 1))) AS BIGINT) AS s
  FROM smp CROSS JOIN range(0, 8) bb(b)
  GROUP BY 1, 2, 3
), en AS (
  SELECT doc_id, f, band, s * s AS e FROM sb
), bits AS (
  SELECT a.doc_id, (a.f - 1) * 7 + a.band AS idx,
         CASE WHEN a.e - ab.e - pf.e + pb.e > 0 THEN 1 ELSE 0 END AS bit
  FROM en a
  JOIN en ab ON ab.doc_id = a.doc_id AND ab.f = a.f
            AND ab.band = a.band + 1
  JOIN en pf ON pf.doc_id = a.doc_id AND pf.f = a.f - 1
            AND pf.band = a.band
  JOIN en pb ON pb.doc_id = a.doc_id AND pb.f = a.f - 1
            AND pb.band = a.band + 1
  WHERE a.f >= 1 AND a.band <= 6
), ph AS (
  SELECT doc_id, CAST(sum(bit::BIGINT << idx) AS BIGINT) AS aphash
  FROM bits GROUP BY 1
)
{{select}}
"""


@_register(
    "multimodal_audio_phash",
    _duck_audio_phash_cte().format(select="""
SELECT b.doc_id, CAST(b.rate AS INTEGER) AS sample_rate,
       CAST(b.ch AS INTEGER) AS n_channels,
       CAST(b.frames AS INTEGER) AS n_frames, ph.aphash
FROM ph JOIN b USING (doc_id)"""),
)
def multimodal_audio_phash(spark, sf_dir):
    """Per-clip PERCEPTUAL audio fingerprint through the real decode
    path — audio's pHash tier, closing the r12 verdict's named gap
    (multimodal_audio_dedup's exact PCM md5 dies on one re-encode;
    these 56 banded-energy sign bits survive uniform gain, +/-1-LSB
    dither, and mono folds — pinned by unit test). The oracle
    recomputes every bit integer-exactly from the synthesis protocol
    (rich wav_tones content: 8 seed-derived amplitude/period segments —
    the constant-amplitude 'wav' fixture is spectrally degenerate and
    would hash identically everywhere). Zero shuffle: 1 row in ->
    1 row out, Arrow-batched. See operators/media_codecs.py:
    audio_phash56 and operators/multimodal.py:audio_phash."""
    from .operators.multimodal import audio_phash, synthesize_media_payloads

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return audio_phash(synthesize_media_payloads(docs, "wav_tones"))


# --- two-level (tree) coarse quantizer assignment ---------------------------


@_register("clustering_tree_assign", None)  # oracle attached below
def clustering_tree_assign(spark, sf_dir):
    """The beyond-broadcast assignment path under ORACLE check: the
    same fitted centroids as cluster_kmeans, assigned through
    ``kmeans_assign(method="tree")`` — a ~sqrt(k)-cell coarse codebook
    broadcast + triangle-inequality-pruned centroid-side equi-join
    (operators/clustering.py:build_tree_codebook). The tree path is
    EXACT, so this query shares cluster_kmeans' oracle row for row: a
    green match proves the pruning bounds never drop a winner and the
    equi-join argmin reproduces the projection argmin bit-for-bit,
    ties included. Scale story: the centroid matrix never broadcasts
    (SCALE.md names k=65k x dim 768 ~ 400 MB as the death of the
    broadcast path); each vector crosses ONE exchange keyed by its
    probed coarse cells (fanout typically 1-2)."""
    from .operators.clustering import kmeans_assign
    from .registry_ext2 import _KM_RD, _shared_kmeans_centroids

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    assigned = kmeans_assign(
        emb,
        _shared_kmeans_centroids(spark, sf_dir),
        method="tree",
        id_col="vec_id",
    )
    return assigned.select(
        "vec_id", "cluster", F.round("dist", _KM_RD).alias("dist")
    )


# cluster_kmeans' oracle IS this query's oracle — exactness of the tree
# path is the claim under check (ext2 registers earlier in the chain, so
# the key exists by the time this module executes)
ORACLES["clustering_tree_assign"] = ORACLES["cluster_kmeans"]


# --- WARC -> curated corpus, end to end ------------------------------------

#: the web-curation pipeline's document slice (the warc-corpus protocol)
_WC_MOD = 3
#: quality gate: at least 3 of the 4 heuristic rules must pass
_WC_QUALITY_MIN = 0.75
#: CCNet buckets per predicted language; the tail bucket is dropped
_WC_BUCKETS = 3
#: bucket cut fractions, shared verbatim with the oracle SQL
_WC_FRACS = ", ".join(repr(i / _WC_BUCKETS) for i in range(1, _WC_BUCKETS))

#: the pipeline SIZES its bitmap from the measured dirty set instead of
#: reusing decontam_bloom's 2^16 demo constant — both fixed sizes were
#: measured to saturate one scale step later (2^16 at sf0.1: ~60% fill,
#: 0.22 fp/gram, 2977 of 2980 docs false-flagged; 2^20 at the 16x row:
#: kept_docs collapsed 517 -> 37). The rule: smallest power of two >=
#: BITS_PER_KEY * |distinct eval grams|, clamped to [2^16, 2^26].
#: 32 bits/key holds the per-GRAM fp near (1-e^(-3/32))^3 ~ 7e-4 so a
#: 40-gram document's any-hit fp stays ~3% — doc-level flagging
#: amplifies gram fp by the probe count, which is why the usual
#: ~10 bits/key membership sizing is NOT enough here. Both engines
#: compute the ladder from the same constants (exact integer CASE
#: chain, no float log2 at the boundary).
_WC_BLOOM_BITS_PER_KEY = 32
_WC_BLOOM_MIN_LOG2 = 16
_WC_BLOOM_MAX_LOG2 = 26


def _wc_bloom_bits(n_keys: int) -> int:
    """Smallest power-of-two bitmap >= BITS_PER_KEY * n_keys (clamped)."""
    for b in range(_WC_BLOOM_MIN_LOG2, _WC_BLOOM_MAX_LOG2 + 1):
        if (1 << b) >= _WC_BLOOM_BITS_PER_KEY * n_keys:
            return 1 << b
    return 1 << _WC_BLOOM_MAX_LOG2


def _wc_bloom_bits_sql(n_expr: str) -> str:
    """The same ladder as :func:`_wc_bloom_bits`, as an exact SQL CASE."""
    cases = "\n    ".join(
        f"WHEN {1 << b} >= {_WC_BLOOM_BITS_PER_KEY} * (({n_expr})::BIGINT) "
        f"THEN {1 << b}"
        for b in range(_WC_BLOOM_MIN_LOG2, _WC_BLOOM_MAX_LOG2 + 1)
    )
    return f"CASE\n    {cases}\n    ELSE {1 << _WC_BLOOM_MAX_LOG2} END"

#: the raw-web wrapper applied before writing payloads into WARC — a
#: fixed tag soup (block markup + script-with-content + entity) whose
#: strip recovers exactly the whitespace-collapsed original text, so
#: every later stage runs on what a real crawl pipeline would see
_WC_WRAP_PRE = '<html><body><p class="x">'
_WC_WRAP_POST = (
    '</p><script type="text/javascript">var x = 1;</script>'
    "&nbsp;</body></html>"
)


def _duck_web_curation_sql() -> str:
    """The whole pipeline composed from the REGISTERED family oracles:
    strip/langid/quality come from the parameterised builders the
    standalone queries register (one expression text, drift
    propagates), the bloom chain re-spells registry_ext10's with the
    same constants/hash builders but a two-basis split (eval grams
    from the ORIGINAL documents, probe grams from the curated corpus),
    and the Kneser-Ney scorer is the registered oracle re-based onto
    the decontaminated set by source substitution (asserted
    single-site). Nested WITHs scope each component's internal CTEs."""
    from .registry_ext import (
        _DUCK_TOKENS_LOWER,
        _duck_bucket,
        _duck_lang_sql,
        _duck_quality_sql,
        _duck_strip_markup,
    )
    from .registry_ext10 import (
        _BLOOM_CUT,
        _BLOOM_HASHES,
        _BLOOM_NGRAM,
        _BLOOM_SALT,
        _BLOOM_WORD,
    )
    from .functions.hashing import (
        MERSENNE_PRIME_31,
        minhash_permutation_constants,
        stable_hash_sql,
    )

    # same LCG position arithmetic as registry_ext10._duck_bloom_positions
    # (and operators/bloom.py), parameterised on the pipeline's bitmap size
    consts = minhash_permutation_constants(_BLOOM_HASHES)
    hvar = stable_hash_sql("gram")
    # bitmap size is DATA-dependent (the sizing ladder above): sz rides
    # a cross join, positions take modulo its single-row bits column
    positions = "[" + ", ".join(
        f"((({a} * ({hvar} % {MERSENNE_PRIME_31}) + {b}) "
        f"% {MERSENNE_PRIME_31}) % sz.bits)"
        for a, b in consts
    ) + "]"

    kn_sql = ORACLES["text_kn_trigram_logprob"]
    assert kn_sql.count("FROM documents") == 1, "KN oracle basis drifted"
    kn_rebased = kn_sql.replace("FROM documents", "FROM decon")
    gram_list = f"""list_distinct(
      CASE WHEN len(t) < {_BLOOM_NGRAM} THEN []::VARCHAR[]
           ELSE list_transform(
               generate_series(1, len(t) - {_BLOOM_NGRAM - 1}),
               i -> array_to_string(t[i:i+{_BLOOM_NGRAM - 1}], ' '))
      END)"""
    wrap = (
        f"'{_WC_WRAP_PRE}' || text || "
        + "'"
        + _WC_WRAP_POST.replace("'", "''")
        + "'"
    )
    return f"""
WITH raw AS (
  SELECT doc_id, {wrap} AS text
  FROM documents WHERE doc_id % {_WC_MOD} <> 1
), stripped AS (
  SELECT doc_id, {_duck_strip_markup('text')} AS text FROM raw
), lang AS ({_duck_lang_sql('stripped')}
), qual AS ({_duck_quality_sql('stripped')}
), gated AS (
  SELECT s.doc_id, s.text, l.lang_pred
  FROM stripped s JOIN lang l USING (doc_id) JOIN qual q USING (doc_id)
  WHERE q.quality_score >= {_WC_QUALITY_MIN}
), etoks AS (
  SELECT doc_id, {_DUCK_TOKENS_LOWER} AS t FROM documents
  WHERE {_duck_bucket('doc_id', _BLOOM_SALT)} < {_BLOOM_CUT}
), eval_grams AS (
  SELECT DISTINCT unnest({gram_list}) AS gram FROM etoks
), sz AS (
  SELECT {_wc_bloom_bits_sql('n')} AS bits
  FROM (SELECT count(*) AS n FROM eval_grams)
), epos AS (
  SELECT unnest({positions}) AS pos
  FROM eval_grams CROSS JOIN sz
), words AS (
  SELECT pos // {_BLOOM_WORD} AS word_idx,
         bit_or(1::BIGINT << CAST(pos % {_BLOOM_WORD} AS INTEGER)) AS word
  FROM epos GROUP BY 1
), corpus AS (
  SELECT doc_id, text, lang_pred FROM gated
  WHERE {_duck_bucket('doc_id', _BLOOM_SALT)} >= {_BLOOM_CUT}
), cgrams AS (
  SELECT doc_id, unnest({gram_list}) AS gram
  FROM (SELECT doc_id, {_DUCK_TOKENS_LOWER} AS t FROM corpus)
), cpos AS (
  SELECT doc_id, gram,
         unnest({positions}) AS pos
  FROM cgrams CROSS JOIN sz
), flagged AS (
  SELECT DISTINCT doc_id FROM (
    SELECT doc_id, gram
    FROM cpos LEFT JOIN words ON cpos.pos // {_BLOOM_WORD} = words.word_idx
    GROUP BY doc_id, gram
    HAVING sum(CASE WHEN word IS NOT NULL AND
        (word & (1::BIGINT << CAST(pos % {_BLOOM_WORD} AS INTEGER))) <> 0
        THEN 1 ELSE 0 END) = {_BLOOM_HASHES})
), decon AS (
  SELECT c.doc_id, c.text, c.lang_pred
  FROM corpus c LEFT JOIN flagged f USING (doc_id)
  WHERE f.doc_id IS NULL
), kn AS ({kn_rebased}
), scored AS (
  SELECT d.lang_pred, k.avg_logprob, length(d.text) AS n_chars
  FROM kn k JOIN decon d USING (doc_id)
), cuts AS (
  SELECT lang_pred,
         list_transform(quantile_cont(round(avg_logprob, 6),
                                      [{_WC_FRACS}]),
                        x -> round(x, 6)) AS cuts
  FROM scored GROUP BY lang_pred
), ranked AS (
  SELECT s.lang_pred, s.avg_logprob, s.n_chars,
         CAST({_WC_BUCKETS} - len(list_filter(c.cuts,
              v -> v <= round(s.avg_logprob, 6))) AS INTEGER) AS bucket
  FROM scored s JOIN cuts c USING (lang_pred)
)
SELECT lang_pred, bucket,
       CAST(count(*) AS BIGINT) AS n_docs,
       round(CAST(sum(CAST(round(avg_logprob * 10000) AS BIGINT)) AS DOUBLE)
             / count(*)) / 10000.0 AS mean_logprob,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       (bucket < {_WC_BUCKETS}) AS kept
FROM ranked GROUP BY 1, 2
"""


@_register("pipeline_web_curation", None)  # oracle attached below
def pipeline_web_curation(spark, sf_dir):
    """WARC -> curated corpus END TO END — the query a 100 TB web-corpus
    user runs first, composing six registered families into one run:
    documents wrapped in raw-web tag soup are written as real
    ``.warc.gz`` archives EXECUTOR-side and read back through the
    binaryFile WARC walk (any IO drift breaks every downstream count),
    then markup stripping, stopword language ID, the heuristic quality
    gate (>= 3 of 4 rules), Bloom-bitmap decontamination against the
    held-out eval split (zero corpus shuffle), and CCNet-style
    per-language perplexity buckets over the survivors (Kneser-Ney
    trained on the decontaminated set's even half), tail marked
    dropped. From the WARC read onward the whole chain is ONE lazy
    Catalyst plan. Oracle: the registered component oracles composed
    over the same bases (see _duck_web_curation_sql)."""
    import os

    from .functions.layout import bucket_by_quantiles_desc
    from .operators.bloom import bloom_decontam
    from .operators.cleaning import strip_markup
    from .operators.profiling import kn_trigram_logprob_scores
    from .operators.sampling import split_bucket
    from .functions.text import add_language_id, add_quality_score
    from .registry_ext6 import _KN_D, _KN_TRAIN_MOD
    from .registry_ext10 import (

        _BLOOM_CUT,
        _BLOOM_HASHES,
        _BLOOM_NGRAM,
        _BLOOM_SALT,
    )
    from .sources.warc import read_warc_corpus

    path = scratch_path(spark, sf_dir, "warc_cur")
    os.makedirs(path, exist_ok=True)
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    wrapped = docs.filter(F.col("doc_id") % _WC_MOD != 1).select(
        "doc_id",
        "lang",
        F.concat(
            F.lit(_WC_WRAP_PRE), F.col("text"), F.lit(_WC_WRAP_POST)
        ).alias("html"),
        (F.col("doc_id") % 8).cast("int").alias("bucket"),
    )

    def write_bucket(pdf):
        import pandas as pd

        from hds_functions_spark.sources.warc import (
            build_warc_gz,
            build_warc_record,
        )

        b = int(pdf["bucket"].iloc[0])
        recs = [
            build_warc_record(
                {
                    "WARC-Type": "conversion",
                    "WARC-Record-ID": f"<urn:doc:{doc_id}>",
                    "WARC-Target-URI": f"http://example.com/doc/{doc_id}",
                    "WARC-Date": "2024-01-01T00:00:00Z",
                    "WARC-Identified-Content-Language": str(lang),
                },
                str(html).encode("utf-8"),
            )
            for doc_id, html, lang in zip(
                pdf["doc_id"], pdf["html"], pdf["lang"]
            )
        ]
        with open(os.path.join(path, f"part-{b:04d}.warc.gz"), "wb") as f:
            f.write(build_warc_gz(recs))
        return pd.DataFrame({"bucket": [b], "n": [len(recs)]})

    written = wrapped.groupBy("bucket").applyInPandas(
        write_bucket, "bucket int, n long"
    )
    n_written = written.agg(F.sum("n")).first()[0]
    warc = read_warc_corpus(path, spark)

    # ONE WARC walk for validation AND the corpus (r16 verdict item 5,
    # the pipeline_url_curation trick): the gunzip+parse -> strip ->
    # language/quality chain runs once into a persisted frame that the
    # roundtrip-drift validation action (which must execute anyway)
    # materialises; previously the validation was a SEPARATE full walk.
    # The frame keeps the per-record corrupt flag for the validation
    # counts, but text/lang_pred are nulled for every record the gate
    # or the eval split drops — what persists is the SURVIVORS' stripped
    # text plus two scalar columns per dropped record, never the raw
    # corpus-wide payloads (the r16-adjudicated wrong trade at 100 TB).
    # Without the persist, the walk + strip re-run per consumer
    # (measured r15: six ~8-task stages re-reading the archives, ~58 s
    # of the query's 72 s task time).
    from .caching import tracked_persist

    raw = warc.select(
        F.col("_corrupt_record").isNotNull().alias("is_corrupt"),
        F.regexp_extract("record_id", r"urn:doc:(\d+)", 1)
        .cast("long")
        .alias("doc_id"),
        F.col("payload").alias("text"),
    )
    bucket = split_bucket("doc_id", _BLOOM_SALT)
    processed = add_quality_score(add_language_id(strip_markup(raw)))
    keep = (
        (~F.col("is_corrupt"))
        & (F.col("quality_score") >= _WC_QUALITY_MIN)
        & (bucket >= _BLOOM_CUT)
    )
    staged = tracked_persist(
        processed.select(
            "is_corrupt",
            keep.alias("_keep"),
            F.when(keep, F.col("doc_id")).alias("doc_id"),
            F.when(keep, F.col("text")).alias("text"),
            F.when(keep, F.col("lang_pred")).alias("lang_pred"),
        )
    )
    stats = staged.agg(
        F.count(F.when(F.col("is_corrupt"), 1)).alias("c"),
        F.count(F.when(~F.col("is_corrupt"), 1)).alias("n"),
    ).first()
    if stats["c"] or stats["n"] != n_written:
        raise ValueError(
            f"warc curation roundtrip drift at {path}: wrote {n_written}, "
            f"read {stats['n']} clean + {stats['c']} corrupt"
        )

    corpus = staged.filter(F.col("_keep")).select(
        "doc_id", "text", "lang_pred"
    )
    eval_df = docs.filter(bucket < _BLOOM_CUT).select(
        F.col("doc_id").alias("eval_id"), "text"
    )
    # size the bitmap from the MEASURED dirty set (one combinable
    # count over the eval side — eval is benchmark-sized, never
    # corpus-sized); both fixed-size attempts saturated one scale step
    # later, see the sizing-ladder comment above
    from .operators.bloom import _doc_grams

    n_keys = (
        _doc_grams(eval_df, "eval_id", "text", _BLOOM_NGRAM)
        .select("_gram")
        .distinct()
        .count()
    )
    flagged = bloom_decontam(
        corpus.select("doc_id", "text"), eval_df,
        ngram=_BLOOM_NGRAM, n_bits=_wc_bloom_bits(n_keys),
        n_hashes=_BLOOM_HASHES,
    ).select("doc_id")
    decon = corpus.join(flagged, on="doc_id", how="left_anti")
    kn = kn_trigram_logprob_scores(
        decon.filter(F.col("doc_id") % _KN_TRAIN_MOD == 0).select(
            "doc_id", "text"
        ),
        decon.select("doc_id", "text"),
        discount=_KN_D,
    )
    # per-lang tercile cuts + broadcast attach (bucket_by_quantiles_desc)
    # replaced the r13 per-lang ntile() here: the window sorted every
    # language's docs through ONE task each — the skew ceiling at corpus
    # scale; boundary ties now share a bucket instead of splitting by
    # doc_id (the oracle's cut CTE mirrors the policy)
    ranked = bucket_by_quantiles_desc(
        kn.join(
            decon.select(
                "doc_id", "lang_pred", F.length("text").alias("n_chars")
            ),
            on="doc_id",
        ),
        "avg_logprob",
        _WC_BUCKETS,
        group_cols=["lang_pred"],
    )
    # bucket mean via EXACT integer accumulation (per-doc scores carry 4
    # decimals, so x10^4 is integral): a float avg()'s partial-sum order
    # differs between engines and flips the last rounded digit — the
    # README's "integer accumulation where float order would differ"
    # discipline; the one division and the half-away-from-zero round are
    # bit-identical in both engines (verified)
    return ranked.groupBy("lang_pred", "bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        (
            F.round(
                F.sum(F.round(F.col("avg_logprob") * 10000).cast("long"))
                .cast("double")
                / F.count(F.lit(1))
            )
            / F.lit(10000.0)
        ).alias("mean_logprob"),
        F.sum("n_chars").cast("long").alias("total_chars"),
    ).withColumn("kept", F.col("bucket") < _WC_BUCKETS)


ORACLES["pipeline_web_curation"] = _duck_web_curation_sql()


# --- perceptual audio near-dup grouping ------------------------------------

#: doc_id % 9 == 5 docs are a MONO-FOLD RE-ENCODE of their leader
#: (doc_id - 5): synthesized from the leader's seed, then downmixed —
#: the exact tier's pcm_md5 changes (stereo leaders), the perceptual
#: hash does not (clip-free channel sum is scale-free in the sign bits)
_APD_DUP_MOD = 9


def _duck_audio_phash_dups_sql() -> str:
    """The seeds CTE of multimodal_audio_dedup's oracle feeding the
    audio-phash CTE: the downmix is hash-INVARIANT by construction, so
    the duplicate groups Spark finds by hashing the actually-downmixed
    payloads must equal the groups predicted by hashing each doc's SEED
    — multiset equality proves both the fingerprint's fold invariance
    and the downmix re-encode path in one driver row."""
    return f"""
WITH seeds AS (
  SELECT d.doc_id,
         CASE WHEN d.doc_id % {_APD_DUP_MOD} = 5 AND l.text IS NOT NULL
              THEN l.text ELSE d.text END AS text
  FROM documents d
  LEFT JOIN documents l ON l.doc_id = d.doc_id - 5
), hashed AS ({_duck_audio_phash_cte('seeds').format(select='''
SELECT b.doc_id, ph.aphash FROM ph JOIN b USING (doc_id)''')}
)
SELECT aphash, CAST(count(*) AS BIGINT) AS n_clips,
       min(doc_id) AS canonical_doc_id
FROM hashed GROUP BY 1 HAVING count(*) > 1
"""


@_register("multimodal_audio_phash_dups", _duck_audio_phash_dups_sql())
def multimodal_audio_phash_dups(spark, sf_dir):
    """NEAR-duplicate audio groups by perceptual fingerprint — the
    query the exact tier cannot answer: every doc_id % 9 == 5 clip is
    its leader's recording RE-ENCODED (synthesized from the leader's
    seed, then downmixed to mono through the real decode->fold->re-wrap
    path in operators/multimodal.py:audio_downmix), so its PCM md5
    differs from the leader's whenever the leader is stereo — yet the
    56-bit banded-energy hash is fold-invariant, and one combinable
    hash-equality groupBy recovers exactly the (leader, re-encode)
    pairs. Never pairwise; the grouping cost is the exact-dedup shape
    at any scale."""
    from .operators.multimodal import (
        audio_downmix,
        audio_phash,
        synthesize_media_payloads,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    leaders = docs.select(
        (F.col("doc_id") + 5).alias("doc_id"),
        F.col("text").alias("_leader_text"),
    )
    is_dup = (F.col("doc_id") % _APD_DUP_MOD == 5) & F.col(
        "_leader_text"
    ).isNotNull()
    seeded = docs.join(leaders, on="doc_id", how="left").select(
        "doc_id",
        F.when(is_dup, F.col("_leader_text"))
        .otherwise(F.col("text"))
        .alias("text"),
        is_dup.alias("_is_dup"),
    )
    payloads = synthesize_media_payloads(
        seeded, "wav_tones"
    ).join(seeded.select("doc_id", "_is_dup"), on="doc_id")
    reencoded = audio_downmix(
        payloads.filter(F.col("_is_dup")).select("doc_id", "payload")
    )
    combined = payloads.filter(~F.col("_is_dup")).select(
        "doc_id", "payload"
    ).unionByName(reencoded)
    return (
        audio_phash(combined)
        .groupBy("aphash")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_clips"),
            F.min("doc_id").alias("canonical_doc_id"),
        )
        .filter(F.col("n_clips") > 1)
    )


from . import registry_ext12  # noqa: E402,F401  (round-14 registrations)
