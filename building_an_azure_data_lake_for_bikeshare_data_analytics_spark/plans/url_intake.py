"""q238 — URL/domain canonicalization + host-level dedup intake head
(r6 verdict item 5), extending the intake family q226-q229 with the
most-used real crawl-intake operator the surface lacked: CCNet/
RefinedWeb-style URL normalization and per-registrable-domain quota
accounting.

The driver testdata carries no URL column, so the query SYNTHESIZES a
deterministic messy URL per document from (doc_id, source) — scheme
case noise, ``WWW.`` prefixes, default and non-default ports, tracking
params in shuffled order, fragments, trailing slashes — with the SAME
arithmetic in the Spark plan and the DuckDB oracle (the house pattern
for modalities the testdata lacks, cf. multimodal payloads). The
deliverable is the canonicalization pipeline in ``functions/url.py``:
pure Column expressions, value-oracled end-to-end here and pinned
against an independent urllib.parse reimplementation in
``tests/test_url_intake.py``.

Scale shape: synthesis + canonicalization are map-side codegen'd
expressions; the only shuffle is one domain-keyed aggregate (two-phase,
count-distinct expands to at most 3x the row stream); the corpus total
is a 1-row broadcast scalar (whitelisted BNLJ). Output is bounded by
domain cardinality. Registered LAST in plans/registry.py — insertion
order is registration order, and the gate scheduler's overflow rule
defers brand-new queries to the next round automatically.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions.url import canonical_url, host_of, registrable_domain
from .base import _ts, query

#: a domain holding more than this fraction of the corpus trips the
#: over-quota flag (RefinedWeb caps per-domain contributions so one
#: boilerplate-heavy host cannot dominate a training mix)
_QUOTA_FRAC = 0.08

# -- deterministic messy-URL synthesis, written ONCE as ANSI SQL that both
#    DuckDB (verbatim) and the Spark plan (F.expr) evaluate, so the two
#    engines cannot drift on the synthesis arithmetic
_URL_SYNTH_SQL = """
    CASE doc_id % 3 WHEN 0 THEN 'HTTP://' WHEN 1 THEN 'https://'
         ELSE 'http://' END
    || CASE WHEN doc_id % 2 = 0 THEN 'WWW.' ELSE '' END
    || source
    || CASE WHEN doc_id % 5 = 0 THEN '.co.uk' ELSE '.com' END
    || CASE doc_id % 7 WHEN 0 THEN ':443' WHEN 1 THEN ':8080' ELSE '' END
    || '/article/' || CAST(doc_id % 40 AS STRING)
    || CASE WHEN doc_id % 13 = 0 THEN '/' ELSE '' END
    || CASE doc_id % 4
         WHEN 0 THEN '?id=' || CAST(doc_id % 40 AS STRING) || '&utm_source=feed'
         WHEN 1 THEN '?utm_campaign=x&id=' || CAST(doc_id % 40 AS STRING)
         WHEN 2 THEN '?gclid=abc123&id=' || CAST(doc_id % 40 AS STRING)
         ELSE '' END
    || CASE WHEN doc_id % 9 = 0 THEN '#section-2' ELSE '' END
"""

# -- DuckDB twin of functions/url.py, over the synthesized column
_URL_SQL = f"""WITH raw AS (
      SELECT doc_id, ({_URL_SYNTH_SQL}) AS url FROM documents),
    nofrag AS (SELECT doc_id, regexp_replace(url, '#.*$', '') AS u FROM raw),
    parts AS (
      SELECT doc_id,
             regexp_replace(
                 regexp_replace(
                     lower(regexp_replace(
                         regexp_extract(u, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1),
                         '^.*@', '')),
                     '^www\\.', ''),
                 ':(80|443)$', '') AS host_c,
             regexp_replace(
                 regexp_extract(u, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1),
                 '/$', '') AS path_c,
             coalesce(array_to_string(
                 list_sort(list_filter(
                     str_split(regexp_extract(u, '\\?([^#]*)$', 1), '&'),
                     p -> p <> '' AND NOT regexp_matches(p, '^(utm_[a-z]+|fbclid|gclid|ref)='))),
                 '&'), '') AS query_c
      FROM nofrag),
    named AS (
      -- domain labels come from the host with any :port stripped (ports
      -- address origins, never domains — mirrors functions/url.py)
      SELECT *, str_split(regexp_replace(host_c, ':[0-9]+$', ''), '.') AS labels
      FROM parts),
    canon AS (
      SELECT doc_id, host_c,
             host_c || path_c
                 || CASE WHEN query_c = '' THEN '' ELSE '?' || query_c END
                 AS canonical,
             CASE WHEN len(labels) >= 3
                       AND array_to_string(labels[len(labels)-1:], '.')
                           IN ('co.uk', 'com.au', 'co.jp')
                  THEN array_to_string(labels[len(labels)-2:], '.')
                  ELSE array_to_string(labels[greatest(len(labels)-1, 1):], '.')
             END AS domain
      FROM named),
    tot AS (SELECT count(*) AS total_docs FROM canon)
    SELECT domain,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT host_c) AS BIGINT) AS n_hosts,
           CAST(count(DISTINCT canonical) AS BIGINT) AS n_urls,
           CAST(count(*) - count(DISTINCT canonical) AS BIGINT) AS dup_docs,
           round((count(*) - count(DISTINCT canonical))
                 / CAST(count(*) AS DOUBLE), 6) AS dup_frac,
           count(*) > {_QUOTA_FRAC} * total_docs AS over_quota
    FROM canon CROSS JOIN tot
    GROUP BY domain, total_docs
    ORDER BY domain"""


@query(
    "q238_url_host_dedup",
    _URL_SQL,
    tags=("intake", "url", "dedup", "quota", "canonicalization"),
)
def q238(spark, sf):
    """Per-registrable-domain intake ledger over canonicalized URLs:
    doc count, distinct hosts, distinct canonical URLs, dup mass (docs
    collapsing onto an already-seen canonical URL), dup fraction, and
    the over-quota flag at _QUOTA_FRAC of the corpus. The synthesis SQL
    string is evaluated verbatim by F.expr, so the messy input is
    bit-identical across engines; the canonicalization itself is the
    functions/url.py Column pipeline."""
    # _ts (r12): the URL synth + canonicalization chain is per-row heavy
    docs = _ts(spark, sf, "documents", "doc_id", "source").select(
        "doc_id", F.expr(_URL_SYNTH_SQL).alias("url")
    )
    canon = docs.select(
        host_of("url").alias("host_c"),
        canonical_url("url").alias("canonical"),
    ).withColumn("domain", registrable_domain("host_c"))
    total = canon.agg(F.count(F.lit(1)).alias("total_docs"))
    return (
        canon.groupBy("domain")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("host_c").alias("n_hosts"),
            F.countDistinct("canonical").alias("n_urls"),
        )
        # 1-row corpus total: broadcast scalar, whitelisted BNLJ
        .crossJoin(F.broadcast(total))
        .select(
            "domain",
            "n_docs",
            "n_hosts",
            "n_urls",
            (F.col("n_docs") - F.col("n_urls")).alias("dup_docs"),
            F.round(
                (F.col("n_docs") - F.col("n_urls"))
                / F.col("n_docs").cast("double"),
                6,
            ).alias("dup_frac"),
            (
                F.col("n_docs").cast("double")
                > F.lit(_QUOTA_FRAC) * F.col("total_docs")
            ).alias("over_quota"),
        )
        .orderBy("domain")
    )
