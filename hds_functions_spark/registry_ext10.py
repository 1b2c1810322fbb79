"""Extension-layer query registry, part 10 (round-12, second batch).

Same contract as ``registry_ext.py``: every query has a DuckDB oracle
generated from the SAME constants so both sides compute identical
values by construction. This batch widens three families the r11
verdict graded as first-class:

1. **Hybrid retrieval** — reciprocal-rank fusion (Cormack, Clarke &
   Buettcher 2009) of the BM25 leg and the dense cosine leg: the
   standard way production search combines a lexical and an embedding
   ranking without score calibration.
2. **Bloom-filter decontamination** — the shuffle-free membership
   pre-filter: the eval set's n-grams collapse into a fixed bitmap
   that broadcasts once; the corpus probe is pure map-side expression
   work (zero corpus shuffle at any scale). False positives are part
   of the contract (same arithmetic both engines), and the audit query
   measures the realised fp rate against the exact join.
3. **WordPiece tokenizer training** — the likelihood-scored merge
   trainer (Schuster & Nakajima 2012) completing the trio next to BPE
   (count-scored) and unigram-LM (EM-pruned): same dictionary-collapse
   / two-space-separator machinery, argmax by
   ``count(ab) / (count(a) * count(b))`` — one IEEE double division of
   exact bigint counts, bit-identical across engines.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .caching import scratch_path
from .functions.hashing import (
    MERSENNE_PRIME_31,
    minhash_permutation_constants,
    stable_hash_sql,
)
from .registry import ORACLES, QUERIES, _register, _t  # noqa: F401
from .registry_ext import _DUCK_COS, _DUCK_TOKENS_LOWER, _duck_bucket
from .registry_ext3 import (
    _BM25_QUERY_MOD,
    _DUCK_TOK,
    _bm25_inputs,
    _duck_bm25_scored,
)

# --- hybrid retrieval: reciprocal-rank fusion -----------------------------

_RRF_LEG_K = 20  # per-leg top-k fed into the fusion
_RRF_K = 10      # fused top-k returned
_RRF_KRRF = 60   # the standard RRF damping constant


@_register(
    "retrieval_rrf_fusion",
    f"""
WITH {_duck_bm25_scored()},
bmtop AS (
  SELECT query_id, doc_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id) AS r
  FROM scored
  QUALIFY r <= {_RRF_LEG_K}),
dq AS (
  SELECT vec_id AS query_id, embedding FROM embeddings
  WHERE vec_id % {_BM25_QUERY_MOD} = 0),
dscored AS (
  SELECT q.query_id, c.vec_id AS doc_id,
         {_DUCK_COS.format(a='q.embedding', b='c.embedding')} AS cs
  FROM dq q JOIN embeddings c ON c.vec_id <> q.query_id),
dtop AS (
  SELECT query_id, doc_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cs DESC, doc_id) AS r
  FROM dscored
  QUALIFY r <= {_RRF_LEG_K}),
leg AS (
  SELECT query_id, doc_id, r FROM bmtop
  UNION ALL
  SELECT query_id, doc_id, r FROM dtop),
fused AS (
  SELECT query_id, doc_id,
         round(sum(1.0::DOUBLE / ({_RRF_KRRF} + r)), 6) AS rrf_score,
         CAST(count(*) AS BIGINT) AS n_legs
  FROM leg GROUP BY 1, 2)
SELECT query_id, doc_id, rrf_score, n_legs,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY rrf_score DESC, doc_id)
            AS INTEGER) AS rank
FROM fused
QUALIFY rank <= {_RRF_K}
""",
)
def retrieval_rrf_fusion(spark, sf_dir):
    """Hybrid retrieval: the BM25 bigram leg and the dense cosine leg
    (vec_id == doc_id in the testdata) each rank their top-20 per
    query; reciprocal-rank fusion (1/(60+rank), summed across legs)
    returns the fused top-10. Rank-based fusion needs no score
    calibration between an unbounded BM25 sum and a [-1,1] cosine —
    which is why it is THE production hybrid combiner. The legs are
    the expensive, already-scale-designed parts; the fusion itself is
    suite-sized (|queries| x k rows per leg -> one union + one
    combinable groupBy + one WindowGroupLimit rank). See
    operators/retrieval.py:rrf_fuse."""
    from .operators.retrieval import bm25_topk, rrf_fuse
    from .operators.similarity import cosine_topk

    docs, queries = _bm25_inputs(spark, sf_dir)
    sparse = bm25_topk(
        docs, queries, k=_RRF_LEG_K, term_ngram=2
    ).select("query_id", "doc_id", "rank")
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    dq = emb.filter(F.col("vec_id") % _BM25_QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    dense = cosine_topk(emb, dq, k=_RRF_LEG_K).select(
        "query_id",
        F.col("vec_id").alias("doc_id"),
        F.col("row_index").alias("rank"),
    )
    return rrf_fuse([sparse, dense], k=_RRF_K, k_rrf=_RRF_KRRF)


# --- Bloom-filter decontamination ----------------------------------------

_BLOOM_NGRAM = 4          # word 4-grams, the exact-join leg's unit
_BLOOM_SALT = "decontam"  # same eval split as decontam_ngram_overlap
_BLOOM_CUT = 1000
_BLOOM_BITS = 1 << 16
_BLOOM_HASHES = 3
_BLOOM_WORD = 60          # bits packed per bitmap word (operators.bloom)


def _duck_bloom_positions(hvar: str) -> str:
    """DuckDB list of the _BLOOM_HASHES bit positions for a 60-bit
    portable hash expression — the same fixed LCG constants
    operators/bloom.py embeds."""
    consts = minhash_permutation_constants(_BLOOM_HASHES)
    exprs = ", ".join(
        f"((({a} * ({hvar} % {MERSENNE_PRIME_31}) + {b}) "
        f"% {MERSENNE_PRIME_31}) % {_BLOOM_BITS})"
        for a, b in consts
    )
    return f"[{exprs}]"


def _duck_bloom_parts() -> str:
    """Shared CTE chain: corpus/eval distinct doc 4-grams on the
    decontam hash split, the eval-side bitmap words, and the per-
    (doc, gram) probe verdict ``passed(doc_id, gram)``."""
    return f"""
toks AS (
  SELECT doc_id, {_DUCK_TOKENS_LOWER} AS t,
         {_duck_bucket('doc_id', _BLOOM_SALT)} AS bucket
  FROM documents),
grams AS (
  SELECT doc_id, bucket, unnest(list_distinct(
      CASE WHEN len(t) < {_BLOOM_NGRAM} THEN []::VARCHAR[]
           ELSE list_transform(
               generate_series(1, len(t) - {_BLOOM_NGRAM - 1}),
               i -> array_to_string(t[i:i+{_BLOOM_NGRAM - 1}], ' '))
      END)) AS gram
  FROM toks),
eval_grams AS (
  SELECT DISTINCT gram FROM grams WHERE bucket < {_BLOOM_CUT}),
epos AS (
  SELECT unnest({_duck_bloom_positions(stable_hash_sql('gram'))}) AS pos
  FROM eval_grams),
words AS (
  SELECT pos // {_BLOOM_WORD} AS word_idx,
         bit_or(1::BIGINT << CAST(pos % {_BLOOM_WORD} AS INTEGER))
             AS word
  FROM epos GROUP BY 1),
cgrams AS (
  SELECT doc_id, gram FROM grams WHERE bucket >= {_BLOOM_CUT}),
cpos AS (
  SELECT doc_id, gram,
         unnest({_duck_bloom_positions(stable_hash_sql('gram'))}) AS pos
  FROM cgrams),
passed AS (
  SELECT doc_id, gram
  FROM cpos LEFT JOIN words ON cpos.pos // {_BLOOM_WORD} = words.word_idx
  GROUP BY doc_id, gram
  HAVING sum(CASE WHEN word IS NOT NULL AND
      (word & (1::BIGINT << CAST(pos % {_BLOOM_WORD} AS INTEGER))) <> 0
      THEN 1 ELSE 0 END) = {_BLOOM_HASHES})"""


@_register(
    "decontam_bloom",
    f"""
WITH {_duck_bloom_parts()}
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bloom_hits
FROM passed GROUP BY 1
""",
)
def decontam_bloom(spark, sf_dir):
    """Bloom-filtered n-gram decontamination on the SAME 10% hash split
    as decontam_ngram_overlap: the eval set's distinct word 4-grams
    collapse into a 2**16-bit / 3-hash bitmap (portable-md5 positions,
    60 bits per word; dense-array literal at this size, 1-row broadcast
    above LITERAL_BLOOM_WORDS); each corpus doc's grams are probed by
    an unrolled map-side conjunction of O(1) array-index bit tests —
    the corpus NEVER shuffles and
    the only exchange is the flagged-doc hit counts. This is the
    100 TB volume reducer in front of the exact gram join: membership
    has no join fanout, so no hot-gram cap is needed, and false
    positives are part of the deterministic contract (the oracle
    replays the identical hash/bit arithmetic — this row set includes
    the predictable fp handful, measured by decontam_bloom_audit).
    See operators/bloom.py."""
    from .operators.bloom import bloom_decontam
    from .operators.sampling import split_bucket

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    bucket = split_bucket("doc_id", _BLOOM_SALT)
    corpus = docs.filter(bucket >= _BLOOM_CUT)
    eval_df = docs.filter(bucket < _BLOOM_CUT).withColumnRenamed(
        "doc_id", "eval_id"
    )
    return bloom_decontam(
        corpus, eval_df,
        ngram=_BLOOM_NGRAM, n_bits=_BLOOM_BITS, n_hashes=_BLOOM_HASHES,
    )


@_register(
    "decontam_bloom_audit",
    f"""
WITH {_duck_bloom_parts()},
probe AS (
  SELECT c.doc_id, c.gram,
         (p.gram IS NOT NULL) AS hit,
         (e.gram IS NOT NULL) AS member
  FROM cgrams c
  LEFT JOIN passed p ON c.doc_id = p.doc_id AND c.gram = p.gram
  LEFT JOIN eval_grams e ON c.gram = e.gram)
SELECT CAST(count(*) AS BIGINT) AS n_probe_grams,
       CAST(sum(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
       CAST(sum(CASE WHEN hit AND member THEN 1 ELSE 0 END) AS BIGINT)
           AS n_true_pos,
       CAST(sum(CASE WHEN hit AND NOT member THEN 1 ELSE 0 END) AS BIGINT)
           AS n_false_pos,
       round(sum(CASE WHEN hit AND NOT member THEN 1 ELSE 0 END)::DOUBLE
             / sum(CASE WHEN NOT member THEN 1 ELSE 0 END), 6) AS fp_rate
FROM probe
""",
)
def decontam_bloom_audit(spark, sf_dir):
    """The realised false-positive audit of decontam_bloom: every
    corpus (doc, gram) probe split by bloom verdict x true membership.
    Bloom filters cannot false-negative, so n_pass = n_true_pos +
    n_false_pos and the exact-join verify stage only ever reruns the
    passed minority; fp_rate is the number to hold against the design
    (1 - e^(-kn/m))^k. One aggregate over the probe frame — the truth
    join runs on grams, never docs x docs."""
    from .operators.bloom import bloom_fp_audit
    from .operators.sampling import split_bucket

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    bucket = split_bucket("doc_id", _BLOOM_SALT)
    corpus = docs.filter(bucket >= _BLOOM_CUT)
    eval_df = docs.filter(bucket < _BLOOM_CUT).withColumnRenamed(
        "doc_id", "eval_id"
    )
    return bloom_fp_audit(
        corpus, eval_df,
        ngram=_BLOOM_NGRAM, n_bits=_BLOOM_BITS, n_hashes=_BLOOM_HASHES,
    )


# --- WordPiece merge training --------------------------------------------

_WP_MERGES = 5


def _duck_wp_parts() -> str:
    """Unrolled WordPiece CTE chain — the BPE chain
    (registry_ext3._duck_bpe_parts: same separator protocol, same
    literal replace rewrite) with the likelihood argmax: per step,
    current symbol unigram counts s{{i}}, pair counts p{{i}}, score =
    cnt / (cnt_a * cnt_b) as ONE double division of exact counts,
    argmax by (score DESC, a, b)."""
    parts = [f"""
wf AS (
  SELECT word, count(*) AS n FROM (
    SELECT unnest({_DUCK_TOK}) AS word FROM documents)
  GROUP BY 1),
w0 AS (
  SELECT word, n,
         '  ' || array_to_string(string_split(word, ''), '  ') || '  '
             AS sym
  FROM wf)"""]
    for i in range(1, _WP_MERGES + 1):
        parts.append(f""",
s{i} AS (
  SELECT s, sum(n) AS scnt
  FROM (SELECT n, unnest(string_split(trim(sym), '  ')) AS s
        FROM w{i - 1})
  GROUP BY 1),
p{i} AS (
  SELECT t[j] AS a, t[j + 1] AS b, sum(n) AS cnt
  FROM (SELECT n, string_split(trim(sym), '  ') AS t FROM w{i - 1}),
       UNNEST(generate_series(1, len(t) - 1)) AS u(j)
  GROUP BY 1, 2),
sc{i} AS (
  SELECT a, b, cnt, ca.scnt AS cnt_a, cb.scnt AS cnt_b,
         cnt::DOUBLE / (ca.scnt::DOUBLE * cb.scnt::DOUBLE) AS score
  FROM p{i} JOIN s{i} ca ON a = ca.s JOIN s{i} cb ON b = cb.s),
b{i} AS (SELECT * FROM sc{i} ORDER BY score DESC, a, b LIMIT 1),
w{i} AS (
  SELECT word, n, replace(sym, ' ' || b.a || '  ' || b.b || ' ',
                          ' ' || b.a || b.b || ' ') AS sym
  FROM w{i - 1}, b{i} b)""")
    return "".join(parts)


def _duck_wp_train_sql() -> str:
    sel = [
        f"SELECT {i} AS step, a AS merge_left, b AS merge_right,\n"
        f"       CAST(cnt AS BIGINT) AS pair_count,\n"
        f"       CAST(cnt_a AS BIGINT) AS count_left,\n"
        f"       CAST(cnt_b AS BIGINT) AS count_right,\n"
        f"       round(score, 12) AS score FROM b{i}"
        for i in range(1, _WP_MERGES + 1)
    ]
    return "WITH " + _duck_wp_parts() + "\n" + "\nUNION ALL\n".join(sel)


@_register("text_wordpiece_train", None)  # oracle attached below
def text_wordpiece_train(spark, sf_dir):
    """Distributed WordPiece training: the first 5 likelihood-scored
    merges — BPE's dictionary-collapse loop with the argmax switched
    to count(ab)/(count(a)*count(b)) over the CURRENT symbol unigram
    counts (one extra vocabulary-sized aggregate + equi-join per
    step). Exact bigint counts, one IEEE double division for the
    score, ties to the lexicographically smallest pair — so the
    unrolled oracle reproduces every argmax bit-exactly. Completes the
    tokenizer-trainer trio (BPE / unigram-LM / WordPiece). See
    operators/wordpiece.py."""
    from .operators.wordpiece import wordpiece_train_merges

    return wordpiece_train_merges(
        _t(spark, sf_dir, "documents"), n_merges=_WP_MERGES
    )


ORACLES["text_wordpiece_train"] = _duck_wp_train_sql()


@_register("text_wordpiece_encode", None)  # oracle attached below
def text_wordpiece_encode(spark, sf_dir):
    """The trained WordPiece tokenizer applied back to the corpus: per
    document, word count, subword count under the 5 learned merges,
    and subwords-per-word (fertility). The oracle re-derives the same
    merges and the same dictionary in SQL, so a drift anywhere in the
    likelihood-training chain surfaces here too."""
    from .operators.wordpiece import wordpiece_encode_stats

    return wordpiece_encode_stats(
        _t(spark, sf_dir, "documents"), n_merges=_WP_MERGES
    )


ORACLES["text_wordpiece_encode"] = f"""
WITH {_duck_wp_parts()},
final_dict AS (
  SELECT word, len(string_split(trim(sym), '  ')) AS n_sub
  FROM w{_WP_MERGES}),
doc_words AS (
  SELECT doc_id, unnest({_DUCK_TOK}) AS word FROM documents)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(n_sub) AS BIGINT) AS n_subwords,
       round(sum(n_sub)::DOUBLE / count(*), 6) AS subwords_per_word
FROM doc_words JOIN final_dict USING (word)
GROUP BY 1
"""


# --- MinHash-LSH banding planner ------------------------------------------

_LSHP_H = 128      # signature length to factorise
_LSHP_T = 0.5      # target Jaccard threshold
_LSHP_STEPS = 1000  # midpoint-rule integration steps


def _duck_lsh_plan_sql() -> str:
    from .operators.lsh_plan import band_factorisations

    vals = ", ".join(
        f"({b}, {r})" for b, r in band_factorisations(_LSHP_H)
    )
    n, t = _LSHP_STEPS, _LSHP_T

    def p(s: str) -> str:
        return f"(1 - pow(1 - pow({s}, rows_per_band::DOUBLE), bands::DOUBLE))"

    def fold(term: str) -> str:
        return (
            f"round(list_reduce(list_transform(generate_series(0, {n - 1}),"
            f" i -> {term}), (a, x) -> a + x) / {n}, 6)"
        )

    s = f"((i::DOUBLE + 0.5) / {n})"
    fp_term = f"CASE WHEN {s} < {t} THEN {p(s)} ELSE 0.0::DOUBLE END"
    fn_term = f"CASE WHEN {s} >= {t} THEN 1 - {p(s)} ELSE 0.0::DOUBLE END"
    return f"""
WITH plans(bands, rows_per_band) AS (VALUES {vals}),
scored AS (
  SELECT bands, rows_per_band,
         round(pow(1 - pow(0.5, 1.0 / bands::DOUBLE),
                   1.0 / rows_per_band::DOUBLE), 6) AS s50,
         round({p(str(t))}, 6) AS p_at_threshold,
         {fold(fp_term)} AS fp_area,
         {fold(fn_term)} AS fn_area
  FROM plans),
final AS (
  SELECT *, round(fp_area + fn_area, 6) AS total_error FROM scored)
SELECT bands, rows_per_band, s50, p_at_threshold, fp_area, fn_area,
       total_error,
       CAST(row_number() OVER (ORDER BY total_error ASC, bands ASC)
            AS INTEGER) AS plan_rank
FROM final
"""


@_register("dedup_lsh_plan", _duck_lsh_plan_sql())
def dedup_lsh_plan(spark, sf_dir):
    """The MinHash-LSH banding planner: every (bands, rows)
    factorisation of a 128-hash signature scored against Jaccard 0.5
    by the two S-curve error integrals — fp_area (below-threshold
    candidate mass = wasted verify shuffle) and fn_area
    (above-threshold miss mass = silent under-dedup). plan_rank 1 is
    the recommendation. Kept as a registry query so the banding the
    cluster runs on is a number the oracle checked: both engines fold
    the midpoint rule in index order (Spark ``aggregate``/DuckDB
    ``list_reduce`` — ordered left folds, not unordered SUM). See
    operators/lsh_plan.py."""
    from .operators.lsh_plan import lsh_band_plan

    return lsh_band_plan(
        spark, num_hashes=_LSHP_H, threshold=_LSHP_T, n_steps=_LSHP_STEPS
    )


# --- CCNet-style perplexity buckets ---------------------------------------

_PPL_BUCKETS = 3  # head / middle / tail


#: bucket cut fractions, shared verbatim with the oracle SQL
_PPL_FRACS = ", ".join(repr(i / _PPL_BUCKETS) for i in range(1, _PPL_BUCKETS))


def _duck_ppl_sql() -> str:
    from .registry_ext6 import _KN_TRAIN_MOD  # noqa: F401  (doc link)

    return f"""
WITH kn AS ({{kn_oracle}}),
scored AS (
  SELECT d.lang, k.avg_logprob, d.n_chars
  FROM kn k JOIN documents d USING (doc_id)),
cuts AS (
  SELECT lang,
         list_transform(quantile_cont(round(avg_logprob, 6),
                                      [{_PPL_FRACS}]),
                        x -> round(x, 6)) AS cuts
  FROM scored GROUP BY lang),
ranked AS (
  SELECT s.lang, s.avg_logprob, s.n_chars,
         CAST({_PPL_BUCKETS} - len(list_filter(c.cuts,
              v -> v <= round(s.avg_logprob, 6))) AS INTEGER) AS bucket
  FROM scored s JOIN cuts c USING (lang))
SELECT lang, bucket,
       CAST(count(*) AS BIGINT) AS n_docs,
       round(avg(avg_logprob), 4) AS mean_logprob,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       (bucket < {_PPL_BUCKETS}) AS kept
FROM ranked GROUP BY 1, 2
"""


@_register("pipeline_perplexity_buckets", None)  # oracle attached below
def pipeline_perplexity_buckets(spark, sf_dir):
    """CCNet-style perplexity bucketing (Wenzek et al. 2020): the
    held-out-trained Kneser-Ney LM scores every document; per
    LANGUAGE, tercile cuts over descending log-likelihood split the
    corpus into head/middle/tail, and the tail (the lowest-likelihood
    third — boilerplate, gibberish, wrong-language residue) is marked
    dropped. Per-language bucketing is the part that matters: a global
    cutoff would silently delete whole low-resource languages whose
    absolute perplexity runs higher. Output: per (lang, bucket) doc
    count, mean score, character mass, and the keep verdict. Bucketing
    is
    :func:`~hds_functions_spark.functions.layout.bucket_by_quantiles_desc`
    grouped by lang — per-language cuts in ONE combinable aggregate,
    broadcast equi-join back, codegen filter-count — replacing the r12
    per-lang ``ntile()`` whose partitions-by-language window sorted
    every language's docs through ONE task each (the skew ceiling at
    corpus scale; boundary ties now share a bucket instead of
    splitting by doc_id). The oracle composes the registered KN oracle
    so drift propagates."""
    from .functions.layout import bucket_by_quantiles_desc
    from .operators.profiling import kn_trigram_logprob_scores
    from .registry_ext6 import _KN_D, _KN_TRAIN_MOD

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "n_chars"
    )
    train = docs.filter(F.col("doc_id") % _KN_TRAIN_MOD == 0).select(
        "doc_id", "text"
    )
    kn = kn_trigram_logprob_scores(
        train, docs.select("doc_id", "text"), discount=_KN_D
    )
    ranked = bucket_by_quantiles_desc(
        kn.join(docs.select("doc_id", "lang", "n_chars"), on="doc_id"),
        "avg_logprob",
        _PPL_BUCKETS,
        group_cols=["lang"],
    )
    return ranked.groupBy("lang", "bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.round(F.avg("avg_logprob"), 4).alias("mean_logprob"),
        F.sum("n_chars").cast("long").alias("total_chars"),
    ).withColumn("kept", F.col("bucket") < _PPL_BUCKETS)


ORACLES["pipeline_perplexity_buckets"] = _duck_ppl_sql().format(
    kn_oracle=ORACLES["text_kn_trigram_logprob"]
)


# --- incremental (merged-bitmap) bloom decontam ---------------------------

_BLOOM_DELTA_MOD = 3  # eval_id % 3 == 0 plays the nightly delta batch


@_register(
    "decontam_bloom_incremental",
    ORACLES["decontam_bloom"],  # IDENTITY: merged == monolithic, exactly
)
def decontam_bloom_incremental(spark, sf_dir):
    """Continuous-ingest bloom decontamination, pinned as an IDENTITY:
    the eval split is partitioned into a standing set and a delta
    batch (eval_id % 3), each builds its own bitmap, bloom_merge ORs
    them — and because bit_or is associative/commutative the merged
    bitmap is BIT-identical to the monolithic build, so this query's
    oracle IS decontam_bloom's oracle, row for row. That is the
    operational property that matters at 100 TB: a standing dirty-set
    bitmap absorbs each day's delta without re-reading standing keys
    (same slice-identity discipline as the minhash/winnowing/spans
    incremental variants). See operators/bloom.py:bloom_merge."""
    from .operators.bloom import bloom_build, bloom_decontam, bloom_merge
    from .operators.bloom import _doc_grams
    from .operators.sampling import split_bucket

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    bucket = split_bucket("doc_id", _BLOOM_SALT)
    corpus = docs.filter(bucket >= _BLOOM_CUT)
    eval_df = docs.filter(bucket < _BLOOM_CUT).withColumnRenamed(
        "doc_id", "eval_id"
    )

    def bitmap(part):
        grams = _doc_grams(part, "eval_id", "text", _BLOOM_NGRAM).select(
            F.col("_gram").alias("key")
        ).distinct()
        return bloom_build(grams, "key", _BLOOM_BITS, _BLOOM_HASHES)

    standing = bitmap(eval_df.filter(F.col("eval_id") % _BLOOM_DELTA_MOD != 0))
    delta = bitmap(eval_df.filter(F.col("eval_id") % _BLOOM_DELTA_MOD == 0))
    merged = bloom_merge(standing, delta)
    return bloom_decontam(
        corpus, eval_df,
        ngram=_BLOOM_NGRAM, n_bits=_BLOOM_BITS, n_hashes=_BLOOM_HASHES,
        prebuilt_bloom=merged,
    )


# --- epsilon-DP quantiles (exponential mechanism) -------------------------

_DPQ_EPS = 1.0
_DPQ_SALT = "r12dpq"
_DPQ_LO, _DPQ_HI = 1, 50  # l_quantity's policy domain (integer grid)
_DPQ_M = _DPQ_HI - _DPQ_LO + 1


def _duck_dpq_sql() -> str:
    key = (
        "coalesce(l_returnflag::VARCHAR, chr(0) || 'null') || chr(31) || "
        "coalesce(l_linestatus::VARCHAR, chr(0) || 'null') || chr(31) || "
        f"t::VARCHAR || chr(31) || '{_DPQ_SALT}' || chr(3)"
    )
    u = (
        f"((('0x' || substr(md5({key}), 1, 15))::BIGINT % 1000000) + 0.5)"
        " / 1000000.0"
    )
    return f"""
WITH vals AS (
  SELECT l_returnflag, l_linestatus, l_quantity::DOUBLE AS v
  FROM lineitem),
n AS (
  SELECT l_returnflag, l_linestatus, count(*) AS n FROM vals GROUP BY 1, 2),
bc AS (
  SELECT l_returnflag, l_linestatus,
         LEAST(GREATEST(
             CASE WHEN v <= {_DPQ_LO} THEN 0
                  ELSE CAST(ceil(v - {_DPQ_LO}) AS BIGINT) END,
             0), {_DPQ_M}) AS j,
         count(*) AS c
  FROM vals GROUP BY 1, 2, 3),
grid AS (
  SELECT l_returnflag, l_linestatus, n,
         unnest(generate_series(0, {_DPQ_M - 1})) AS i
  FROM n),
j2 AS (
  SELECT g.l_returnflag, g.l_linestatus, g.n, g.i,
         coalesce(b.c, 0) AS c
  FROM grid g LEFT JOIN bc b
    ON g.l_returnflag = b.l_returnflag
   AND g.l_linestatus = b.l_linestatus AND g.i = b.j),
cum AS (
  SELECT *, sum(c) OVER (PARTITION BY l_returnflag, l_linestatus
                         ORDER BY i ROWS UNBOUNDED PRECEDING) AS cum
  FROM j2),
sc AS (
  SELECT l_returnflag, l_linestatus,
         ({_DPQ_LO} + i * 1.0)::DOUBLE AS t,
         round({_DPQ_EPS / 2.0} * (-abs(cum - 0.5 * n))
               + (-ln(-ln({u}))), 6) AS score
  FROM cum)
SELECT l_returnflag, l_linestatus, t AS dp_quantile
FROM sc
QUALIFY row_number() OVER (PARTITION BY l_returnflag, l_linestatus
                           ORDER BY score DESC, t) = 1
"""


@_register("privacy_dp_quantiles", _duck_dpq_sql())
def privacy_dp_quantiles(spark, sf_dir):
    """Epsilon-DP median of l_quantity per (returnflag, linestatus) via
    the EXPONENTIAL mechanism — the selection mechanism a quantile
    release requires (its unbounded local sensitivity rules out
    additive noise): every point of the fixed policy grid 1..50 scores
    the rank utility -|#(v<=t) - n/2| and the winner is drawn by the
    Gumbel-max trick with the repo's hash-deterministic protocol (the
    Gumbel variate derives from md5(group, t, salt), so re-runs
    release the SAME value and the salt-holding oracle replays the
    selection exactly; scores round to 6 before the argmax so last-ulp
    ln() differences between engines cannot flip a winner). Completes
    the DP trio: counts + sums + quantiles. See
    operators/privacy.py:dp_quantile."""
    from .operators.privacy import dp_quantile

    return dp_quantile(
        _t(spark, sf_dir, "lineitem"),
        value_col="l_quantity",
        group_cols=["l_returnflag", "l_linestatus"],
        domain_lo=_DPQ_LO,
        domain_hi=_DPQ_HI,
        domain_step=1.0,
        q=0.5,
        epsilon=_DPQ_EPS,
        salt=_DPQ_SALT,
    )


# --- streaming bloom decontamination --------------------------------------


@_register("streaming_bloom_decontam", ORACLES["decontam_bloom"])
def streaming_bloom_decontam(spark, sf_dir):
    """The continuous-ingest decontamination recipe END TO END: corpus
    documents arrive as a file stream; each micro-batch probes the
    STATIC eval-gram bitmap (built once, persisted, its dense-literal
    collect amortised across batches) inside ``foreachBatch`` and
    appends its flagged docs to a durable checkpointed sink. The probe
    is per-row and the bitmap is static, so per-doc verdicts are
    micro-batch-invariant and the drained sink equals the batch
    decontam_bloom rows exactly — which is what the oracle asserts
    (this query's oracle IS decontam_bloom's). Pair with bloom_merge:
    when the eval set itself grows, the standing bitmap absorbs the
    delta and the stream keeps probing the merged artifact. See
    streaming/stream_ops.py + operators/bloom.py."""
    from .caching import tracked_persist
    from .operators.bloom import bloom_build, bloom_decontam, _doc_grams
    from .operators.sampling import split_bucket
    from .streaming.stream_ops import (
        read_parquet_stream,
        stream_score_batches,
    )

    base = scratch_path(spark, sf_dir, "bloom_stream")  # deterministic replay

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    bucket = split_bucket("doc_id", _BLOOM_SALT)
    eval_grams = _doc_grams(
        docs.filter(bucket < _BLOOM_CUT).withColumnRenamed(
            "doc_id", "eval_id"
        ),
        "eval_id", "text", _BLOOM_NGRAM,
    ).select(F.col("_gram").alias("key")).distinct()
    bloom = tracked_persist(
        bloom_build(eval_grams, "key", _BLOOM_BITS, _BLOOM_HASHES)
    )

    stream = read_parquet_stream(
        spark, f"{sf_dir}/documents.parquet"
    ).filter(split_bucket("doc_id", _BLOOM_SALT) >= _BLOOM_CUT)

    def score(batch_df):
        return bloom_decontam(
            batch_df.select("doc_id", "text"), None,
            ngram=_BLOOM_NGRAM, n_bits=_BLOOM_BITS,
            n_hashes=_BLOOM_HASHES, prebuilt_bloom=bloom,
        )

    return stream_score_batches(
        stream,
        score,
        path=f"{base}/sink",
        checkpoint_dir=f"{base}/ckpt",
        state_partitions=8,
    )


# --- audio dedup ----------------------------------------------------------

_AUD_DUP_MOD = 9  # doc_id % 9 == 5 docs reuse the leader's (doc_id-5) seed


def _duck_audio_dedup_sql() -> str:
    """Duplicate-audio groups predicted from the WAV fixture protocol:
    decoded PCM content is FULLY determined by (channels, frames, amp)
    and the header adds rate, so grouping the protocol quadruple of
    each doc's SEED text must yield exactly the groups Spark finds by
    grouping the md5 of the actually parsed data bytes (the video-dedup
    multiset-equality pattern lifted to audio)."""
    return f"""
WITH seeds AS (
  SELECT d.doc_id,
         CASE WHEN d.doc_id % {_AUD_DUP_MOD} = 5 AND l.text IS NOT NULL
              THEN l.text ELSE d.text END AS seed
  FROM documents d
  LEFT JOIN documents l ON l.doc_id = d.doc_id - 5
), b AS (
  SELECT doc_id,
         ([8000,16000,22050,44100,48000])[
             ('0x' || substr(md5(seed), 11, 2))::INTEGER % 5 + 1] AS rate,
         1 + ('0x' || substr(md5(seed), 13, 2))::INTEGER % 2 AS ch,
         200 + (('0x' || substr(md5(seed), 15, 2))::INTEGER * 256
                + ('0x' || substr(md5(seed), 17, 2))::INTEGER) % 800
             AS frames,
         ('0x' || substr(md5(seed), 19, 2))::INTEGER AS amp
  FROM seeds
)
SELECT CAST(rate AS INTEGER) AS sample_rate,
       CAST(ch AS INTEGER) AS n_channels,
       CAST(frames AS INTEGER) AS n_frames,
       CAST(count(*) AS BIGINT) AS n_docs,
       min(doc_id) AS canonical_doc_id
FROM b
GROUP BY rate, ch, frames, amp
HAVING count(*) > 1
"""


@_register("multimodal_audio_dedup", _duck_audio_dedup_sql())
def multimodal_audio_dedup(spark, sf_dir):
    """AUDIO dedup: duplicated recordings found by exact content
    signature — every WAV parsed through the real RIFF/PCM16 walk, its
    data bytes md5'd, and hash-grouped JVM-side (``groupBy(rate,
    channels, pcm_md5)``, never pairwise), emitting one row per
    duplicate group with doc count and canonical doc. Completes the
    multimodal dedup family (image ahash/pHash, video frame-md5, now
    audio). Duplicates are PLANTED (every doc_id % 9 == 5 clip is
    synthesized from its leader's text, the WARC-quarantine planting
    pattern) because the protocol's content space is too large for
    natural collisions at gate scale; the oracle groups the protocol
    quadruple of the seeds, so multiset equality holds iff the parser
    reconstructs byte-identical PCM exactly when the protocol says it
    must. See operators/multimodal.py:audio_signatures."""
    from .operators.multimodal import (
        audio_signatures,
        synthesize_media_payloads,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    leaders = docs.select(
        (F.col("doc_id") + 5).alias("doc_id"),
        F.col("text").alias("_leader_text"),
    )
    seeded = (
        docs.join(leaders, on="doc_id", how="left")
        .select(
            "doc_id",
            F.when(
                (F.col("doc_id") % _AUD_DUP_MOD == 5)
                & F.col("_leader_text").isNotNull(),
                F.col("_leader_text"),
            ).otherwise(F.col("text")).alias("text"),
        )
    )
    sigs = audio_signatures(synthesize_media_payloads(seeded, "wav"))
    return (
        sigs.groupBy("sample_rate", "n_channels", "n_frames", "pcm_md5")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min("doc_id").alias("canonical_doc_id"),
        )
        .filter(F.col("n_docs") > 1)
        .drop("pcm_md5")
    )

from . import registry_ext11  # noqa: E402,F401  (round-13 registrations)
