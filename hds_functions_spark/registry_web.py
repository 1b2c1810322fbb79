"""Extension-layer query registry: URL/domain web-curation family (r16).

Family-named module (the r15 verdict's registry-maintainability item:
new registries are named by FAMILY, not by round — the query -> module
index lives in README). Same contract as ``registry_ext.py``: every
query has a DuckDB oracle generated from the SAME constants so both
sides compute identical values by construction.

The synthesized-URL protocol: every document gets a deterministic messy
URL (pure function of ``doc_id`` — case noise, ``www.``/``cdn.``
subdomains, default and non-default ports, duplicate/trailing slashes,
tracking params, param-order shuffles, fragments) built identically in
Spark and DuckDB. The Spark side runs the REAL parser/canonicalizer
(``operators/urls.py``) over the messy strings; the oracle derives the
canonical answer CLOSED-FORM from the protocol (it never parses), so a
parse bug cannot cancel itself out.

Cross-doc canonical-URL collisions require doc_id congruence mod
lcm(2,5,7,4,50,3,9) = 6300 — beyond every driver sf (sf0.1 = 5000
docs), so each doc owns one canonical page; the capstone's revisit
protocol is the only intended source of canonical dups (asserted in
tests/test_urls_registry.py).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .caching import scratch_path
from .registry import (  # noqa: F401
    ORACLES,
    QUERIES,
    _register,
    _t,
)

# Direct `import hds_functions_spark.registry_web` must see every
# upstream ORACLES/QUERIES entry: pull the chain head (no-op when
# already importing, PEP 328 circular import).
from . import registry_ext  # noqa: E402,F401
from .operators.sampling import _bucket_sql as _duck_bucket  # noqa: E402

# --- synthesized-URL protocol constants (shared Spark <-> DuckDB) -----

_U_NSITES = 7
_U_TLDS = ("com", "org", "co.uk", "io")  # doc_id % 4
#: Non-nested by construction (no entry is a dot-suffix of another), so
#: the "most-specific match" the operator reports is unique and the
#: oracle's per-entry CASE needs no precedence rule.
_U_BLOCKLIST = ("site3.com", "site5.co.uk", "cdn.site2.io", "site1.org")
_U_CAP, _U_CAP_SALT = 10, "urlcap"
_PU_CAP, _PU_CAP_SALT = 12, "pucap"
_PU_MOD = 8  # WARC bucket fan-out for the capstone's executor-side write


def _messy_url(d):
    """Full-noise synthesized URL, Spark side. TWIN of ``_DUCK_URL`` —
    edit together."""
    tld = F.element_at(
        F.array(*[F.lit(t) for t in _U_TLDS]), ((d % 4) + 1).cast("int")
    )
    hostbase = F.concat(
        F.when(d % 5 == 0, F.lit("www."))
        .when(d % 5 == 1, F.lit("cdn."))
        .otherwise(F.lit("")),
        F.lit("site"),
        (d % _U_NSITES).cast("string"),
        F.lit("."),
        tld,
    )
    host = F.when(d % 23 == 0, F.upper(hostbase)).otherwise(hostbase)
    scheme = F.when(d % 2 == 0, F.lit("http")).otherwise(F.lit("https"))
    port = (
        F.when(d % 19 == 0, F.lit(":8080"))
        .when(
            d % 11 == 0,
            F.when(d % 2 == 0, F.lit(":80")).otherwise(F.lit(":443")),
        )
        .otherwise(F.lit(""))
    )
    path = F.concat(
        F.lit("/p"),
        (d % 50).cast("string"),
        F.when(d % 6 == 0, F.lit("//")).otherwise(F.lit("")),
    )
    k = (d % 9).cast("string")
    query = (
        F.when(d % 3 == 0, F.concat(F.lit("?utm_source=f&id="), k))
        .when(d % 3 == 1, F.concat(F.lit("?id="), k, F.lit("&b=2")))
        .when(d % 17 == 0, F.concat(F.lit("?b=2&id="), k))
        .otherwise(F.lit(""))
    )
    frag = F.when(
        d % 13 == 0, F.concat(F.lit("#s"), (d % 3).cast("string"))
    ).otherwise(F.lit(""))
    return F.concat(scheme, F.lit("://"), host, port, path, query, frag)


_DUCK_TLD = (
    "(CASE doc_id % 4 WHEN 0 THEN 'com' WHEN 1 THEN 'org' "
    "WHEN 2 THEN 'co.uk' ELSE 'io' END)"
)
_DUCK_K = "CAST(doc_id % 9 AS VARCHAR)"
_DUCK_HOSTBASE = (
    "((CASE WHEN doc_id % 5 = 0 THEN 'www.' WHEN doc_id % 5 = 1 "
    "THEN 'cdn.' ELSE '' END) || 'site' || "
    f"CAST(doc_id % {_U_NSITES} AS VARCHAR) || '.' || {_DUCK_TLD})"
)
#: Raw messy URL — TWIN of :func:`_messy_url`, edit together.
_DUCK_URL = (
    "((CASE WHEN doc_id % 2 = 0 THEN 'http' ELSE 'https' END) || '://' "
    f"|| (CASE WHEN doc_id % 23 = 0 THEN upper({_DUCK_HOSTBASE}) "
    f"ELSE {_DUCK_HOSTBASE} END) "
    "|| (CASE WHEN doc_id % 19 = 0 THEN ':8080' WHEN doc_id % 11 = 0 "
    "THEN (CASE WHEN doc_id % 2 = 0 THEN ':80' ELSE ':443' END) "
    "ELSE '' END) "
    "|| '/p' || CAST(doc_id % 50 AS VARCHAR) "
    "|| (CASE WHEN doc_id % 6 = 0 THEN '//' ELSE '' END) "
    f"|| (CASE WHEN doc_id % 3 = 0 THEN '?utm_source=f&id=' || {_DUCK_K} "
    f"WHEN doc_id % 3 = 1 THEN '?id=' || {_DUCK_K} || '&b=2' "
    f"WHEN doc_id % 17 = 0 THEN '?b=2&id=' || {_DUCK_K} ELSE '' END) "
    "|| (CASE WHEN doc_id % 13 = 0 THEN '#s' || "
    "CAST(doc_id % 3 AS VARCHAR) ELSE '' END))"
)
#: Closed-form CANONICAL derivations (the oracle never parses): what
#: url_canonicalize must produce for the messy URL above.
_DUCK_HOSTNAME = (
    "((CASE WHEN doc_id % 5 = 1 THEN 'cdn.' ELSE '' END) || 'site' || "
    f"CAST(doc_id % {_U_NSITES} AS VARCHAR) || '.' || {_DUCK_TLD})"
)
_DUCK_HOST = (
    f"({_DUCK_HOSTNAME} || "
    "(CASE WHEN doc_id % 19 = 0 THEN ':8080' ELSE '' END))"
)
_DUCK_DOMAIN = (
    f"('site' || CAST(doc_id % {_U_NSITES} AS VARCHAR) || '.' "
    f"|| {_DUCK_TLD})"
)
_DUCK_QCANON = (
    f"(CASE WHEN doc_id % 3 = 0 THEN 'id=' || {_DUCK_K} "
    f"WHEN doc_id % 3 = 1 THEN 'b=2&id=' || {_DUCK_K} "
    f"WHEN doc_id % 17 = 0 THEN 'b=2&id=' || {_DUCK_K} ELSE '' END)"
)
_DUCK_URL_CANON = (
    "((CASE WHEN doc_id % 2 = 0 THEN 'http' ELSE 'https' END) || '://' "
    f"|| {_DUCK_HOST} || '/p' || CAST(doc_id % 50 AS VARCHAR) "
    f"|| (CASE WHEN {_DUCK_QCANON} = '' THEN '' "
    f"ELSE '?' || {_DUCK_QCANON} END))"
)


def _messy_url_revisit(d):
    """Revisit noise profile: a SECOND raw spelling of the SAME
    canonical page as :func:`_messy_url` — always-``www.`` prefix,
    always a default (or the kept ``:8080``) port, doubled trailing
    slash, shuffled/decoy params, constant fragment, its own case-noise
    modulus. TWIN of ``_DUCK_URL_REVISIT`` — edit together."""
    tld = F.element_at(
        F.array(*[F.lit(t) for t in _U_TLDS]), ((d % 4) + 1).cast("int")
    )
    hostbase = F.concat(
        F.lit("www."),
        F.when(d % 5 == 1, F.lit("cdn.")).otherwise(F.lit("")),
        F.lit("site"),
        (d % _U_NSITES).cast("string"),
        F.lit("."),
        tld,
    )
    host = F.when(d % 29 == 0, F.upper(hostbase)).otherwise(hostbase)
    scheme = F.when(d % 2 == 0, F.lit("http")).otherwise(F.lit("https"))
    port = (
        F.when(d % 19 == 0, F.lit(":8080"))
        .otherwise(
            F.when(d % 2 == 0, F.lit(":80")).otherwise(F.lit(":443"))
        )
    )
    k = (d % 9).cast("string")
    query = (
        F.when(d % 3 == 0, F.concat(F.lit("?id="), k,
                                    F.lit("&utm_source=r")))
        .when(d % 3 == 1, F.concat(F.lit("?b=2&id="), k))
        .when(d % 17 == 0, F.concat(F.lit("?id="), k, F.lit("&b=2")))
        .otherwise(F.lit("?utm_campaign=z"))
    )
    return F.concat(
        scheme, F.lit("://"), host, port,
        F.lit("/p"), (d % 50).cast("string"), F.lit("//"),
        query, F.lit("#x"),
    )


_DUCK_HOSTBASE_REVISIT = (
    "('www.' || (CASE WHEN doc_id % 5 = 1 THEN 'cdn.' ELSE '' END) || "
    f"'site' || CAST(doc_id % {_U_NSITES} AS VARCHAR) || '.' "
    f"|| {_DUCK_TLD})"
)
#: Raw revisit URL — TWIN of :func:`_messy_url_revisit`, edit together.
_DUCK_URL_REVISIT = (
    "((CASE WHEN doc_id % 2 = 0 THEN 'http' ELSE 'https' END) || '://' "
    f"|| (CASE WHEN doc_id % 29 = 0 THEN upper({_DUCK_HOSTBASE_REVISIT}) "
    f"ELSE {_DUCK_HOSTBASE_REVISIT} END) "
    "|| (CASE WHEN doc_id % 19 = 0 THEN ':8080' "
    "WHEN doc_id % 2 = 0 THEN ':80' ELSE ':443' END) "
    "|| '/p' || CAST(doc_id % 50 AS VARCHAR) || '//' "
    f"|| (CASE WHEN doc_id % 3 = 0 THEN '?id=' || {_DUCK_K} "
    "|| '&utm_source=r' "
    f"WHEN doc_id % 3 = 1 THEN '?b=2&id=' || {_DUCK_K} "
    f"WHEN doc_id % 17 = 0 THEN '?id=' || {_DUCK_K} || '&b=2' "
    "ELSE '?utm_campaign=z' END) || '#x')"
)


def _duck_blocked(hostname_expr: str) -> str:
    """CASE yielding the matching blocklist entry (or NULL) for a
    portless hostname — suffix semantics, entries non-nested so the
    match is unique."""
    arms = " ".join(
        f"WHEN {hostname_expr} = '{e}' OR {hostname_expr} LIKE '%.{e}' "
        f"THEN '{e}'"
        for e in _U_BLOCKLIST
    )
    return f"(CASE {arms} ELSE NULL END)"


def _web_urls(spark, sf_dir):
    """documents + the synthesized messy URL (shared base of the three
    family queries)."""
    return _t(spark, sf_dir, "documents").select(
        "doc_id", _messy_url(F.col("doc_id")).alias("url")
    )


@_register(
    "web_url_canonicalize",
    f"""
WITH wu_syn AS (
  SELECT doc_id, {_DUCK_URL} AS url, {_DUCK_HOST} AS host,
         {_DUCK_DOMAIN} AS domain, {_DUCK_URL_CANON} AS url_canon
  FROM documents
  UNION ALL
  SELECT doc_id, {_DUCK_URL_REVISIT} AS url, {_DUCK_HOST} AS host,
         {_DUCK_DOMAIN} AS domain, {_DUCK_URL_CANON} AS url_canon
  FROM documents WHERE doc_id % 3 <> 2
)
SELECT domain,
       CAST(count(*) AS BIGINT) AS n_fetches,
       CAST(count(DISTINCT host) AS BIGINT) AS n_hosts,
       CAST(count(DISTINCT url) AS BIGINT) AS n_raw_urls,
       CAST(count(DISTINCT url_canon) AS BIGINT) AS n_canon_urls
FROM wu_syn GROUP BY 1
""",
)
def web_url_canonicalize(spark, sf_dir):
    """Canonical-URL keying over a deterministically-messy crawl with
    revisits (2/3 of pages fetched TWICE under different noise): the
    real parser (:func:`operators.urls.url_canonicalize` — regex parse,
    default-port/``www.``/fragment/tracking-param stripping, param
    sort, slash normalization) vs the oracle's closed-form protocol
    replay. Per registrable domain: fetches, distinct hosts, raw vs
    canonical distinct URLs — the canonical key must collapse every
    revisit pair (raw > canon) and nothing else (canon = docs).

    Plan: one narrow codegen projection + one combinable groupBy —
    no UDF, no window; at 100 TB the shuffle carries domain-cardinality
    rows."""
    from .operators.urls import url_canonicalize

    d = F.col("doc_id")
    base = _t(spark, sf_dir, "documents").select("doc_id")
    fetches = base.select(
        "doc_id", _messy_url(d).alias("url")
    ).unionByName(
        base.filter(d % 3 != 2).select(
            "doc_id", _messy_url_revisit(d).alias("url")
        )
    )
    c = url_canonicalize(fetches)
    return c.groupBy("domain").agg(
        F.count(F.lit(1)).cast("long").alias("n_fetches"),
        F.countDistinct("host").cast("long").alias("n_hosts"),
        F.countDistinct("url").cast("long").alias("n_raw_urls"),
        F.countDistinct("url_canon").cast("long").alias("n_canon_urls"),
    )


@_register(
    "web_domain_blocklist",
    f"""
WITH wdb_syn AS (
  SELECT doc_id, {_DUCK_HOSTNAME} AS hostname, {_DUCK_HOST} AS host,
         {_DUCK_DOMAIN} AS domain
  FROM documents
)
SELECT coalesce({_duck_blocked('hostname')}, 'kept') AS status,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT host) AS BIGINT) AS n_hosts,
       CAST(count(DISTINCT domain) AS BIGINT) AS n_domains
FROM wdb_syn GROUP BY 1
""",
)
def web_domain_blocklist(spark, sf_dir):
    """Suffix-chain domain blocklist audit: registrable-domain entries
    block every subdomain (``site3.com`` catches ``cdn.site3.com``),
    full-host entries block exactly one subtree (``cdn.site2.io``
    leaves ``site2.io`` alone). The blocklist ships as a LITERAL array
    (config-sized, the reference's codelist pattern) so matching is a
    pure JVM expression — zero joins, zero shuffle before the count.
    Output: per matched entry (or ``kept``) doc/host/domain counts."""
    from .operators.urls import filter_domain_blocklist, url_canonicalize

    c = url_canonicalize(_web_urls(spark, sf_dir))
    tagged = filter_domain_blocklist(
        c, _U_BLOCKLIST, matched_col="blocked_by"
    )
    return tagged.groupBy(
        F.coalesce(F.col("blocked_by"), F.lit("kept")).alias("status")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.countDistinct("host").cast("long").alias("n_hosts"),
        F.countDistinct("domain").cast("long").alias("n_domains"),
    )


@_register(
    "web_domain_caps",
    f"""
WITH wdc_syn AS (
  SELECT doc_id, {_DUCK_HOSTNAME} AS hostname, {_DUCK_DOMAIN} AS domain
  FROM documents
), wdc_surv AS (
  SELECT doc_id, domain FROM wdc_syn
  WHERE {_duck_blocked('hostname')} IS NULL
), wdc_ranked AS (
  SELECT domain, doc_id,
         row_number() OVER (PARTITION BY domain
             ORDER BY {_duck_bucket('doc_id', _U_CAP_SALT)} ASC,
                      doc_id ASC) AS wdc_rn
  FROM wdc_surv
)
SELECT domain,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN wdc_rn <= {_U_CAP} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_kept,
       CAST(sum(CASE WHEN wdc_rn > {_U_CAP} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_dropped
FROM wdc_ranked GROUP BY 1
""",
)
def web_domain_caps(spark, sf_dir):
    """Per-domain document caps after blocklisting — "no domain
    contributes more than N pages": deterministic id-hash order
    (nested in N), Catalyst's ``WindowGroupLimit`` pruning map-side.
    Output per domain: docs seen, kept, dropped. The pre/post counts
    come from one shared canonicalized subplan aggregated twice and
    broadcast-joined (domain cardinality — tiny)."""
    from .operators.urls import (
        cap_per_domain,
        filter_domain_blocklist,
        url_canonicalize,
    )

    c = url_canonicalize(_web_urls(spark, sf_dir))
    surv = filter_domain_blocklist(c, _U_BLOCKLIST).select(
        "doc_id", "domain"
    )
    capped = cap_per_domain(surv, "doc_id", "domain", _U_CAP,
                            salt=_U_CAP_SALT)
    pre = surv.groupBy("domain").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    post = capped.groupBy("domain").agg(
        F.count(F.lit(1)).cast("long").alias("n_kept")
    )
    return pre.join(F.broadcast(post), "domain").select(
        "domain",
        "n_docs",
        "n_kept",
        (F.col("n_docs") - F.col("n_kept")).cast("long").alias("n_dropped"),
    )


# --- capstone: WARC-fed URL curation ----------------------------------
#
# Revisit protocol: crawl 'a' covers every doc with LOW noise; crawl 'b'
# re-fetches docs with doc_id % 3 != 2 under HIGH noise (www., default
# port, doubled slash, utm params, param-order shuffle, case noise,
# fragment) such that canon(b) == canon(a) by construction — canonical
# URL dedup must collapse exactly the revisits.


def _crawl_a_url(d):
    """Low-noise crawl-A URL. TWIN of the oracle's closed-form (crawl A
    contributes no noise the canonicalizer must undo except trailing
    slash)."""
    tld = F.element_at(
        F.array(*[F.lit(t) for t in _U_TLDS]), ((d % 4) + 1).cast("int")
    )
    host = F.concat(
        F.when(d % 5 == 1, F.lit("cdn.")).otherwise(F.lit("")),
        F.lit("site"),
        (d % _U_NSITES).cast("string"),
        F.lit("."),
        tld,
    )
    scheme = F.when(d % 2 == 0, F.lit("http")).otherwise(F.lit("https"))
    k = (d % 9).cast("string")
    return F.concat(
        scheme,
        F.lit("://"),
        host,
        F.lit("/p"),
        (d % 50).cast("string"),
        F.when(d % 6 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(d % 3 == 1, F.concat(F.lit("?b=2&id="), k)).otherwise(
            F.lit("")
        ),
    )


def _crawl_b_url(d):
    """High-noise revisit URL — canonicalizes to exactly
    ``canon(_crawl_a_url(d))``."""
    tld = F.element_at(
        F.array(*[F.lit(t) for t in _U_TLDS]), ((d % 4) + 1).cast("int")
    )
    hostbase = F.concat(
        F.lit("www."),
        F.when(d % 5 == 1, F.lit("cdn.")).otherwise(F.lit("")),
        F.lit("site"),
        (d % _U_NSITES).cast("string"),
        F.lit("."),
        tld,
    )
    host = F.when(d % 23 == 0, F.upper(hostbase)).otherwise(hostbase)
    scheme = F.when(d % 2 == 0, F.lit("http")).otherwise(F.lit("https"))
    port = F.when(d % 2 == 0, F.lit(":80")).otherwise(F.lit(":443"))
    k = (d % 9).cast("string")
    query = F.when(
        d % 3 == 1, F.concat(F.lit("?id="), k, F.lit("&b=2&utm_source=f"))
    ).otherwise(F.lit("?utm_medium=m"))
    return F.concat(
        scheme,
        F.lit("://"),
        host,
        port,
        F.lit("/p"),
        (d % 50).cast("string"),
        F.lit("//"),
        query,
        F.lit("#top"),
    )


_DUCK_PU_HOSTNAME = (
    "((CASE WHEN doc_id % 5 = 1 THEN 'cdn.' ELSE '' END) || 'site' || "
    f"CAST(doc_id % {_U_NSITES} AS VARCHAR) || '.' || {_DUCK_TLD})"
)


def _duck_url_curation_sql() -> str:
    qcanon = (
        f"(CASE WHEN doc_id % 3 = 1 THEN 'b=2&id=' || {_DUCK_K} "
        "ELSE '' END)"
    )
    return f"""
WITH wpu_pages AS (
  SELECT doc_id, {_DUCK_PU_HOSTNAME} AS hostname,
         {_DUCK_DOMAIN} AS domain,
         regexp_replace({_DUCK_DOMAIN}, '^[^.]*\\.', '') AS tld,
         {_duck_blocked(_DUCK_PU_HOSTNAME)} AS blocked_by,
         (CASE WHEN doc_id % 3 <> 2 THEN 2 ELSE 1 END) AS n_recs,
         length(text) AS n_chars
  FROM documents
), wpu_ranked AS (
  SELECT *,
         row_number() OVER (PARTITION BY domain
             ORDER BY {_duck_bucket('doc_id', _PU_CAP_SALT)} ASC,
                      doc_id ASC) AS wpu_rn
  FROM wpu_pages WHERE blocked_by IS NULL
), wpu_all AS (
  SELECT p.tld, p.n_recs, p.n_chars,
         (p.blocked_by IS NOT NULL) AS is_blocked,
         coalesce(r.wpu_rn, 0) AS wpu_rn
  FROM wpu_pages p
  LEFT JOIN wpu_ranked r USING (doc_id)
)
SELECT tld,
       CAST(sum(n_recs) AS BIGINT) AS n_records,
       CAST(count(*) AS BIGINT) AS n_pages,
       CAST(sum(n_recs) - count(*) AS BIGINT) AS n_url_dups,
       CAST(sum(CASE WHEN is_blocked THEN 1 ELSE 0 END) AS BIGINT)
           AS n_blocked,
       CAST(sum(CASE WHEN NOT is_blocked AND wpu_rn > {_PU_CAP}
                THEN 1 ELSE 0 END) AS BIGINT) AS n_capped_out,
       CAST(sum(CASE WHEN NOT is_blocked AND wpu_rn <= {_PU_CAP}
                THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(sum(CASE WHEN NOT is_blocked AND wpu_rn <= {_PU_CAP}
                THEN n_chars ELSE 0 END) AS BIGINT) AS kept_chars
FROM wpu_all GROUP BY 1
"""


@_register("pipeline_url_curation", None)  # oracle attached below
def pipeline_url_curation(spark, sf_dir):
    """WARC -> URL-curated corpus END TO END: the crawl-plus-revisit
    corpus (every doc fetched once low-noise, 2/3 re-fetched high-noise
    with the same canonical target) is written as real ``.warc.gz``
    archives EXECUTOR-side with ``WARC-Target-URI`` carrying the messy
    URL, read back through the binaryFile WARC walk, and curated at URL
    granularity: canonical-key revisit dedup (DISTINCT on the
    canonical projection — each page's attributes are a pure function
    of its doc, so no tie-break is needed), suffix blocklist, and
    per-domain caps, rolled into a per-TLD crawl-health card. The
    oracle replays the whole protocol closed-form (it never parses a
    URL or a WARC byte).

    Plan at 100 TB: from the WARC read onward one lazy chain — parse +
    canonicalize are codegen expressions, dedup is an exchange on the
    canonical projection (fixed-width keys, payload text rides once),
    blocklist is a literal-array filter (no join), the cap is
    ``WindowGroupLimit``-pruned, and the card is one combinable
    groupBy on tld."""
    import os

    from .operators.urls import (
        cap_per_domain,
        filter_domain_blocklist,
        url_canonicalize,
    )
    from .sources.warc import read_warc_corpus

    path = scratch_path(spark, sf_dir, "url_cur")
    os.makedirs(path, exist_ok=True)

    d = F.col("doc_id")
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    crawl_a = docs.select(
        "doc_id", F.lit("a").alias("crawl"),
        _crawl_a_url(d).alias("url"), "text",
    )
    crawl_b = docs.filter(d % 3 != 2).select(
        "doc_id", F.lit("b").alias("crawl"),
        _crawl_b_url(d).alias("url"), "text",
    )
    fetches = crawl_a.unionByName(crawl_b).withColumn(
        "bucket", (d % _PU_MOD).cast("int")
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
                    "WARC-Type": "response",
                    "WARC-Record-ID": f"<urn:doc:{doc_id}:{crawl}>",
                    "WARC-Target-URI": str(url),
                    "WARC-Date": "2024-01-01T00:00:00Z",
                },
                str(text).encode("utf-8"),
            )
            for doc_id, crawl, url, text in zip(
                pdf["doc_id"], pdf["crawl"], pdf["url"], pdf["text"]
            )
        ]
        with open(os.path.join(path, f"part-{b:04d}.warc.gz"), "wb") as f:
            f.write(build_warc_gz(recs))
        return pd.DataFrame({"bucket": [b], "n": [len(recs)]})

    written = fetches.groupBy("bucket").applyInPandas(
        write_bucket, "bucket int, n long"
    )
    n_written = written.agg(F.sum("n")).first()[0]
    warc = read_warc_corpus(path, spark)
    # Project the archive walk down to its fixed-width observables and
    # persist: the gunzip+parse (the expensive part — payload text never
    # needs to survive past this point) runs ONCE, materialised by the
    # roundtrip-drift validation action that must execute anyway, instead
    # of three times (validation + the two plan consumers of `canon`:
    # the distinct'd page frame and the per-tld record counts). Unlike
    # the duplicate-subtree persists reverted in r16 Batch B, nothing is
    # serialised here that wasn't already: the validation `.first()` is
    # a sequential barrier by construction.
    from .caching import tracked_persist

    base = tracked_persist(
        warc.select(
            F.col("_corrupt_record").isNotNull().alias("is_corrupt"),
            F.regexp_extract("record_id", r"urn:doc:(\d+):", 1)
            .cast("long")
            .alias("doc_id"),
            F.col("target_uri").alias("url"),
            F.length("payload").alias("n_chars"),
        )
    )
    stats = base.agg(
        F.count(F.when(F.col("is_corrupt"), 1)).alias("c"),
        F.count(F.when(~F.col("is_corrupt"), 1)).alias("n"),
    ).first()
    if stats["c"] or stats["n"] != n_written:
        raise ValueError(
            f"url curation warc roundtrip drift at {path}: wrote "
            f"{n_written}, read {stats['n']} clean + {stats['c']} corrupt"
        )

    records = base.filter(~F.col("is_corrupt")).select(
        "doc_id", "url", "n_chars"
    )
    canon = url_canonicalize(records)
    pages = canon.select(
        "doc_id",
        "host",
        "domain",
        F.regexp_replace("domain", r"^[^.]*\.", "").alias("tld"),
        "url_canon",
        "n_chars",
    ).distinct()
    rec_counts = canon.groupBy(
        F.regexp_replace("domain", r"^[^.]*\.", "").alias("tld")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_records"))

    tagged = filter_domain_blocklist(
        pages, _U_BLOCKLIST, matched_col="blocked_by"
    )
    surv = tagged.filter(F.col("blocked_by").isNull())
    kept = cap_per_domain(surv, "doc_id", "domain", _PU_CAP,
                          salt=_PU_CAP_SALT)
    page_card = tagged.groupBy("tld").agg(
        F.count(F.lit(1)).cast("long").alias("n_pages"),
        F.count(F.when(F.col("blocked_by").isNotNull(), 1))
        .cast("long")
        .alias("n_blocked"),
    )
    kept_card = kept.groupBy("tld").agg(
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.sum("n_chars").cast("long").alias("kept_chars"),
    )
    return (
        rec_counts.join(F.broadcast(page_card), "tld")
        .join(F.broadcast(kept_card), "tld")
        .select(
            "tld",
            "n_records",
            "n_pages",
            (F.col("n_records") - F.col("n_pages"))
            .cast("long")
            .alias("n_url_dups"),
            "n_blocked",
            (F.col("n_pages") - F.col("n_blocked") - F.col("n_kept"))
            .cast("long")
            .alias("n_capped_out"),
            "n_kept",
            "kept_chars",
        )
    )


ORACLES["pipeline_url_curation"] = _duck_url_curation_sql()
