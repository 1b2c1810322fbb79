"""Extension-layer query registry, part 12 (round-14).

Same contract as ``registry_ext.py``: every query has a DuckDB oracle
generated from the SAME constants so both sides compute identical
values by construction. This batch lands the r13 verdict's multimodal
capstone:

**pipeline_image_curation** — the image twin of pipeline_web_curation:
a mixed-container image corpus (PNG / baseline-JPEG / PPM, with
protocol re-encodes playing the duplicate class) decoded ONCE through
the real codecs, exact-deduped on the decoded-pixel md5
(container-independent, the audio tier's pcm_md5 applied to images),
near-deduped on the perceptual DCT hash, and rolled into a per-source
curated-image card. The oracle replays every stage closed-form from
the synthesis protocols (the ramp and DC-exact-block pixel patterns
are both SQL-computable, and the fixed-point DCT table is embedded
verbatim), so drift anywhere in the decode -> signature -> tiering
chain breaks the match.

**multimodal_image_dedup_incremental** — the continuous-ingest twin of
the pipeline's two dedup tiers (the operational shape every other
dedup family already carries): a nightly image batch probes a STANDING
signature index by exact key then canonical phash, never re-decoding
or re-deduping the standing corpus; the oracle composes the SAME sig
CTE builder with standing-first tiering.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .registry import ORACLES, QUERIES, _register, _t  # noqa: F401

# Direct `import hds_functions_spark.registry_extN` must see every
# upstream ORACLES/QUERIES entry this module reads at import time:
# pull the chain head, which registers all earlier ext modules before
# this body continues. Via the normal chain import this resolves to
# the already-in-progress module in sys.modules (PEP 328 circular
# import), a no-op.
from . import registry_ext  # noqa: E402,F401


# --- image curation pipeline -------------------------------------------------

#: container assignment: doc_id % 3 -> 0 PNG, 1 baseline JPEG, 2 PPM
_IC_CONTAINER_MOD = 3
#: lossless-container docs with doc_id % 5 == 2 ALSO ship a re-encode
#: in the sibling lossless container (png <-> ppm): the same decoded
#: pixels under a different container — the duplicate class the exact
#: tier exists to catch (JPEG is excluded: re-encoding through a lossy
#: codec is the perceptual tier's job, not the exact tier's)
_IC_REENC_MOD = 5


def _duck_image_sig_ctes() -> str:
    """The shared CTE chain ``docs -> imgs -> ... -> sig`` replaying
    every per-image signature closed-form — composed by BOTH the
    curation pipeline's oracle and the incremental (continuous-ingest)
    twin's, so the two cannot drift. Pixel content is a pure function
    of the synthesis protocol, so the exact tier's
    md5-of-decoded-pixels groups equal the protocol's (family, w, h,
    d3) classes (within a family the first pixel byte and the dims
    recover the parameters — injective; across families ramp bytes
    strictly increment mod 256 while block rows repeat, so no
    collision). The perceptual tier is recomputed bit-for-bit: the
    32x32 gray lattice comes closed-form from each family's pixel
    pattern and the 2-D DCT is two integer matmuls against the exact
    fixed-point cosine table (media_codecs._PHASH_T) embedded below —
    the registry_ext9 phash oracle's machinery over BOTH pixel
    families."""
    from .operators.media_codecs import _PHASH_GRID, _PHASH_KEEP, _PHASH_T

    rows = ",\n    ".join(
        ", ".join(
            f"({u}, {x}, {_PHASH_T[u][x]})" for x in range(_PHASH_GRID)
        )
        for u in range(_PHASH_KEEP)
    )
    g = _PHASH_GRID
    # ramp family lattice sample (the ext9 expression, g=32)
    rpix = f"(((i.i * h) // {g}) * w + ((j.j * w) // {g}))"
    # block family: constant-luma 8x8 blocks, gray = 3 * ((d3 + k) % 256)
    bk = (
        f"((((i.i * h) // {g}) // 8) * (w // 8) + (((j.j * w) // {g}) // 8))"
    )
    ramp_sum = """
(3 * w * h) // 256 * 32640 +
CASE WHEN d3 + ((3 * w * h) % 256) <= 256
     THEN ((3 * w * h) % 256) * d3
          + ((3 * w * h) % 256) * (((3 * w * h) % 256) - 1) // 2
     ELSE (d3 + 255) * (256 - d3) // 2
          + (((3 * w * h) % 256) + d3 - 256)
            * (((3 * w * h) % 256) + d3 - 257) // 2
END"""
    blk_sum = """
192 * (
CASE WHEN d3 + (w // 8) * (h // 8) <= 256
     THEN (w // 8) * (h // 8) * d3
          + (w // 8) * (h // 8) * ((w // 8) * (h // 8) - 1) // 2
     ELSE (d3 + 255) * (256 - d3) // 2
          + ((w // 8) * (h // 8) + d3 - 256)
            * ((w // 8) * (h // 8) + d3 - 257) // 2
END)"""
    return f"""
docs AS (
  SELECT doc_id, text, source, doc_id % {_IC_CONTAINER_MOD} AS cmod
  FROM documents
), imgs AS (
  SELECT doc_id, doc_id * 2 AS img_id, cmod, text, source FROM docs
  UNION ALL
  SELECT doc_id, doc_id * 2 + 1, cmod, text, source FROM docs
  WHERE cmod <> 1 AND doc_id % {_IC_REENC_MOD} = 2
), fam AS (
  SELECT img_id, source, cmod,
         CASE WHEN cmod = 1
              THEN 8 * (1 + ('0x' || substr(md5(text), 1, 2))::INTEGER % 8)
              ELSE 1 + ('0x' || substr(md5(text), 1, 2))::INTEGER % 64
         END AS w,
         CASE WHEN cmod = 1
              THEN 8 * (1 + ('0x' || substr(md5(text), 3, 2))::INTEGER % 8)
              ELSE 1 + ('0x' || substr(md5(text), 3, 2))::INTEGER % 64
         END AS h,
         ('0x' || substr(md5(text), 7, 2))::INTEGER AS d3
  FROM imgs
), sigbase AS (
  SELECT img_id, source, w, h,
         CASE WHEN cmod = 1 THEN 'b' ELSE 'r' END
             || ':' || w || ':' || h || ':' || d3 AS exact_key,
         CAST(CASE WHEN cmod = 1 THEN {blk_sum}
                   ELSE {ramp_sum} END AS BIGINT) AS pixel_sum,
         cmod, d3
  FROM fam
), t AS (
  SELECT * FROM (VALUES
    {rows}) AS q(u, x, tv)
), gl AS (
  SELECT img_id, i.i AS i, j.j AS j,
         CASE WHEN cmod = 1 THEN 3 * ((d3 + {bk}) % 256)
              ELSE ((d3 + {rpix} * 3) % 256)
                   + ((d3 + {rpix} * 3 + 1) % 256)
                   + ((d3 + {rpix} * 3 + 2) % 256)
         END AS s
  FROM sigbase, range(0, {g}) i(i), range(0, {g}) j(j)
), r AS (
  SELECT gl.img_id, gl.i, tv.u AS v, sum(gl.s * tv.tv) AS rv
  FROM gl JOIN t tv ON tv.x = gl.j GROUP BY 1, 2, 3
), c AS (
  SELECT r.img_id, tu.u AS u, r.v, CAST(sum(r.rv * tu.tv) AS BIGINT) AS cv
  FROM r JOIN t tu ON tu.x = r.i GROUP BY 1, 2, 3
), tot AS (
  SELECT img_id,
         sum(CASE WHEN u = 0 AND v = 0 THEN 0 ELSE cv END) AS total
  FROM c GROUP BY 1
), bits AS (
  SELECT c.img_id, u * {_PHASH_KEEP} + v AS idx,
         CASE WHEN cv * 63 > total THEN 1 ELSE 0 END AS bit
  FROM c JOIN tot USING (img_id) WHERE NOT (u = 0 AND v = 0)
), ph AS (
  SELECT img_id,
         CAST(sum(CASE WHEN idx >= 32 THEN bit::BIGINT << (idx - 32)
                  ELSE 0 END) AS BIGINT) AS phash_hi,
         CAST(sum(CASE WHEN idx < 32 THEN bit::BIGINT << idx
                  ELSE 0 END) AS BIGINT) AS phash_lo
  FROM bits GROUP BY 1
), sig AS (
  SELECT s.img_id, s.source, s.w, s.h, s.exact_key, s.pixel_sum,
         ph.phash_hi, ph.phash_lo
  FROM sigbase s JOIN ph USING (img_id)
)"""


def _duck_image_curation_sql() -> str:
    """Tiering + per-source card over :func:`_duck_image_sig_ctes`."""
    return f"""
WITH {_duck_image_sig_ctes()},
ex AS (
  SELECT exact_key, min(img_id) AS exact_canon FROM sig GROUP BY 1
), s2 AS (
  SELECT sig.*, ex.exact_canon FROM sig JOIN ex USING (exact_key)
), pm AS (
  SELECT phash_hi, phash_lo, min(img_id) AS ph_canon
  FROM s2 WHERE img_id = exact_canon GROUP BY 1, 2
), verdicts AS (
  SELECT s2.source, s2.pixel_sum, 3 * s2.w * s2.h AS px,
         CASE WHEN s2.img_id <> s2.exact_canon THEN 'exact_dup'
              WHEN s2.img_id <> pm.ph_canon THEN 'phash_dup'
              ELSE 'curated' END AS verdict
  FROM s2 LEFT JOIN pm
    ON s2.phash_hi = pm.phash_hi AND s2.phash_lo = pm.phash_lo
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_images,
       CAST(sum(CASE WHEN verdict = 'exact_dup' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_exact_dups,
       CAST(sum(CASE WHEN verdict = 'phash_dup' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_phash_dups,
       CAST(sum(CASE WHEN verdict = 'curated' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_curated,
       CAST(sum(CASE WHEN verdict = 'curated' THEN px ELSE 0 END)
            AS BIGINT) AS curated_pixel_bytes,
       CAST(sum(CASE WHEN verdict = 'curated' THEN pixel_sum ELSE 0 END)
            AS BIGINT) AS curated_pixel_sum
FROM verdicts GROUP BY 1
"""


@_register("pipeline_image_curation", None)  # oracle attached below
def pipeline_image_curation(spark, sf_dir):
    """Image curation END TO END — the multimodal capstone composing
    the registered families the way pipeline_web_curation does for
    text: a mixed-container corpus (PNG / baseline-JPEG / PPM by
    doc_id % 3, plus png<->ppm protocol RE-ENCODES as the exact-dup
    class) is decoded ONCE through the real codec walk
    (operators/multimodal.py:image_signatures — inflate + filter
    reconstruction for PNG, Huffman + IDCT for JPEG), exact-deduped on
    the decoded-pixel md5 (container-independent), near-deduped on the
    perceptual DCT hash over the surviving canonicals, and rolled into
    one curated-image card per source (counts per verdict tier +
    curated pixel mass + the pixel_sum content checksum, so a decode
    corruption anywhere surfaces as a value mismatch, not just a
    count).

    Plan shape at 100 TB: synthesis and decode are Arrow-batched
    ``mapInPandas``, executor-linear, and pixels NEVER leave that
    stage — only fixed-width signatures shuffle. Each dedup tier is
    one map-side-combinable groupBy (md5 key, then the two phash
    longs) plus a signature-sized equi-join back; no windows, no
    pairwise comparison, no driver round-trip anywhere."""
    from .caching import tracked_persist
    from .operators.multimodal import image_signatures

    docs, corpus = _image_corpus(spark, sf_dir)
    # persist the signature frame: it feeds BOTH tier aggregates and the
    # verdict join, and without the persist each branch re-executes the
    # synthesize+decode chain (measured: 21 file scans in the executed
    # plan — at corpus scale that re-decodes every image per branch)
    sig = tracked_persist(
        image_signatures(corpus).filter(F.col("pixel_md5").isNotNull())
    )
    ex = sig.groupBy("pixel_md5").agg(F.min("img_id").alias("exact_canon"))
    s2 = sig.join(ex, on="pixel_md5")
    pm = (
        s2.filter(F.col("img_id") == F.col("exact_canon"))
        .groupBy("phash_hi", "phash_lo")
        .agg(F.min("img_id").alias("ph_canon"))
    )
    verdict = (
        F.when(F.col("img_id") != F.col("exact_canon"), F.lit("exact_dup"))
        .when(F.col("img_id") != F.col("ph_canon"), F.lit("phash_dup"))
        .otherwise(F.lit("curated"))
    )
    tiered = (
        s2.join(pm, on=["phash_hi", "phash_lo"], how="left")
        .withColumn("verdict", verdict)
        .withColumn("doc_id", F.shiftright(F.col("img_id"), 1))
    )
    curated = F.col("verdict") == "curated"
    return (
        tiered.join(docs.select("doc_id", "source"), on="doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_images"),
            F.sum((F.col("verdict") == "exact_dup").cast("long")).alias(
                "n_exact_dups"
            ),
            F.sum((F.col("verdict") == "phash_dup").cast("long")).alias(
                "n_phash_dups"
            ),
            F.sum(curated.cast("long")).alias("n_curated"),
            F.sum(
                F.when(curated, 3 * F.col("width") * F.col("height"))
                .otherwise(0)
                .cast("long")
            ).alias("curated_pixel_bytes"),
            F.sum(F.when(curated, F.col("pixel_sum")).otherwise(0)).alias(
                "curated_pixel_sum"
            ),
        )
    )


ORACLES["pipeline_image_curation"] = _duck_image_curation_sql()


# --- incremental (continuous-ingest) image dedup -----------------------------

#: batch selector: images with img_id % 13 < 2 are "newly ingested"
#: (the spans/minhash/novelty incremental convention at IMAGE rather
#: than doc granularity, widened to a 2-residue window — deliberately:
#: a doc-level selector keeps every re-encode in the same batch as its
#: base and the standing-probe leg is protocol-unreachable, while a
#: single-residue image selector can never catch BOTH members of a
#: consecutive-img_id pair and the batch-internal leg is unreachable;
#: residues {0,1} make pairs straddle when the base lands on residue 1
#: (exact-vs-standing fires) and fall inside when it lands on residue
#: 0 (exact-in-batch fires) — every verdict class is exercised)
_ICI_BATCH_MOD = 13
_ICI_BATCH_RESIDUES = 2


def _duck_image_incremental_sql() -> str:
    """The nightly-ingest report, closed-form over the SAME sig CTEs as
    the curation oracle (shared builder — the two cannot drift): batch
    images probe the standing index's exact keys, then the standing
    CANONICAL phash set, then dedup among themselves. Verdicts are
    defined standing-first (a standing match wins regardless of ids),
    so the semantics are those of an immutable persisted index."""
    return f"""
WITH {_duck_image_sig_ctes()},
b AS (SELECT * FROM sig WHERE img_id % {_ICI_BATCH_MOD} < {_ICI_BATCH_RESIDUES}),
st AS (SELECT * FROM sig WHERE img_id % {_ICI_BATCH_MOD} >= {_ICI_BATCH_RESIDUES}),
stk AS (SELECT DISTINCT exact_key FROM st),
stc AS (SELECT exact_key, min(img_id) AS c FROM st GROUP BY 1),
stph AS (
  SELECT DISTINCT s.phash_hi, s.phash_lo
  FROM st s JOIN stc ON s.exact_key = stc.exact_key AND s.img_id = stc.c),
bex AS (SELECT exact_key, min(img_id) AS bc FROM b GROUP BY 1),
bj AS (
  SELECT b.*, (stk.exact_key IS NOT NULL) AS hit_sk, bex.bc
  FROM b LEFT JOIN stk USING (exact_key) JOIN bex USING (exact_key)),
bphmin AS (
  SELECT phash_hi, phash_lo, min(img_id) AS pc
  FROM bj WHERE NOT hit_sk AND img_id = bc GROUP BY 1, 2),
verd AS (
  SELECT bj.source,
         CASE WHEN bj.hit_sk THEN 'exact_dup_standing'
              WHEN bj.img_id <> bj.bc THEN 'exact_dup_batch'
              WHEN stph.phash_hi IS NOT NULL THEN 'phash_dup'
              WHEN bj.img_id <> bphmin.pc THEN 'phash_dup'
              ELSE 'novel' END AS verdict
  FROM bj
  LEFT JOIN stph
    ON bj.phash_hi = stph.phash_hi AND bj.phash_lo = stph.phash_lo
  LEFT JOIN bphmin
    ON bj.phash_hi = bphmin.phash_hi AND bj.phash_lo = bphmin.phash_lo)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_batch_images,
       CAST(sum(CASE WHEN verdict = 'exact_dup_standing' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_exact_dup_standing,
       CAST(sum(CASE WHEN verdict = 'exact_dup_batch' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_exact_dup_batch,
       CAST(sum(CASE WHEN verdict = 'phash_dup' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_phash_dup,
       CAST(sum(CASE WHEN verdict = 'novel' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_novel
FROM verd GROUP BY 1
"""


def _seed_coalesce_target(docs) -> int:
    """Partition target for coalescing a union of media branches
    synthesized from the seed ``docs``: ``max(defaultParallelism, seed
    splits)``. The floor keeps a production seed that already arrives in
    thousands of splits at its own granularity — a bare
    ``defaultParallelism`` would cap the expensive Python parse stage at
    core count and inflate per-task memory (r16 verdict item 2 / ADVICE).
    A seed whose split count its plan does not state (see
    functions/partitioning.py) gets the bare ``defaultParallelism``."""
    from .functions.partitioning import planned_partitions

    sc = docs.sparkSession.sparkContext
    return max(sc.defaultParallelism, planned_partitions(docs) or 0)


def _image_corpus_of(docs, img_pred=None):
    """The mixed-container image corpus over an arbitrary documents
    frame (base container by doc_id % 3, png<->ppm re-encodes) — split
    out of :func:`_image_corpus` so the streaming ingest twin can build
    the SAME corpus per micro-batch (registry_ext13).

    ``img_pred``: optional ``img_id-Column -> boolean Column`` filter
    applied BELOW the synthesis. ``img_id = doc_id * 2 + variant`` and
    ``variant`` is a constant within each synth branch, so the
    predicate can be evaluated on the seed rows — callers that only
    need a residue slice of the corpus (the streaming twin's standing /
    batch split) skip SYNTHESIZING the other residues entirely, which
    is the dominant cost (PNG/JPEG encode), instead of filtering the
    finished payloads. Row-for-row identical to filtering the full
    corpus on the same predicate (pinned by test)."""
    from .operators.multimodal import synthesize_media_payloads

    # Coalesce the union back to the seed's width: a 5-way union of
    # width-N branches otherwise yields 5N partitions, and every
    # downstream consumer is a CHAINED double Python crossing
    # (synthesize + decode/signature) whose per-task overhead dwarfs ~30
    # rows of codec work (measured on the streaming twin's standing
    # side: 160 tasks / ~90 s task time for 6.7 s of single-threaded
    # work). The coalesce is a narrow no-shuffle merge.
    target = _seed_coalesce_target(docs)

    cmod = F.col("doc_id") % _IC_CONTAINER_MOD

    def synth(frame, kind, variant):
        if img_pred is not None:
            frame = frame.filter(
                img_pred(F.col("doc_id") * 2 + F.lit(variant))
            )
        return synthesize_media_payloads(frame, kind).select(
            (F.col("doc_id") * 2 + F.lit(variant)).alias("img_id"),
            "payload",
        )

    reenc = (F.col("doc_id") % _IC_REENC_MOD) == 2
    return (
        synth(docs.filter(cmod == 0), "png", 0)
        .unionByName(synth(docs.filter(cmod == 1), "jpeg", 0))
        .unionByName(synth(docs.filter(cmod == 2), "ppm", 0))
        .unionByName(synth(docs.filter((cmod == 0) & reenc), "ppm", 1))
        .unionByName(synth(docs.filter((cmod == 2) & reenc), "png", 1))
        .coalesce(target)
    )


def _image_corpus(spark, sf_dir):
    """The mixed-container image corpus the curation pipeline defines,
    shared by the full pipeline and the incremental twin."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "source")
    return docs, _image_corpus_of(docs)


@_register("multimodal_image_dedup_incremental", None)  # oracle below
def multimodal_image_dedup_incremental(spark, sf_dir):
    """Continuous-ingest image dedup — the incremental twin of
    pipeline_image_curation's two dedup tiers (the same operational
    shape as the spans/minhash/winnowing/bloom incrementals): a
    nightly batch of new images (img_id % 13 < 2 plays the delta)
    probes a STANDING signature index instead of re-deduping the
    corpus. Exact tier = one equi-join of batch pixel-md5 keys against
    the index's key set; perceptual tier = one equi-join of surviving
    batch canonicals' phash against the index's CANONICAL phash set;
    batch-internal dedup is one combinable groupBy per tier. Standing
    matches win regardless of ids (an immutable persisted index's
    semantics). Output: the per-source ingest report (exact-vs-standing
    / exact-in-batch / perceptual / novel).

    At 100 TB the standing index is signatures persisted once
    (~60 B/image) — each night's work is batch-decode + key-sized
    joins; standing pixels are NEVER re-decoded and standing x standing
    work is never repeated (here the index is rebuilt in-query because
    the registry gate needs a self-contained plan; the probe shape is
    the claim). Oracle: the SAME sig CTE builder as the pipeline's,
    with the tiering re-spelled for the standing-first semantics."""
    from .caching import tracked_persist
    from .operators.multimodal import image_ingest_verdicts, image_signatures

    docs, corpus = _image_corpus(spark, sf_dir)
    # persist: the index legs (keys, canonicals, canonical phashes) and
    # the batch probes all branch off this one decode (measured: 41
    # file scans without it — the decode re-ran per branch)
    sig = tracked_persist(
        image_signatures(corpus).filter(F.col("pixel_md5").isNotNull())
    )
    is_batch = F.col("img_id") % _ICI_BATCH_MOD < _ICI_BATCH_RESIDUES
    tiered = image_ingest_verdicts(
        sig.filter(is_batch), sig.filter(~is_batch)
    ).withColumn("doc_id", F.shiftright(F.col("img_id"), 1))

    def n_of(v):
        return F.sum((F.col("verdict") == v).cast("long"))

    return (
        tiered.join(docs.select("doc_id", "source"), on="doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_batch_images"),
            n_of("exact_dup_standing").alias("n_exact_dup_standing"),
            n_of("exact_dup_batch").alias("n_exact_dup_batch"),
            n_of("phash_dup").alias("n_phash_dup"),
            n_of("novel").alias("n_novel"),
        )
    )


ORACLES["multimodal_image_dedup_incremental"] = _duck_image_incremental_sql()

from . import registry_ext13  # noqa: E402,F401  (round-15 registrations)
