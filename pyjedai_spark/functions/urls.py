"""URL canonicalization + URL-keyed dedup — the first dedup pass of a
Common-Crawl-style pipeline (the north rule's corpus is keyed by url;
crawls re-fetch the same page under trivially-different URLs).

Pure column expressions (JVM codegen, exact DuckDB oracle). The regex
subset is shared Java-regex / RE2: no lookarounds, no backrefs.

Canonicalization rules (documented, deterministic):
- scheme and host lowercased; default ports ``:80``/``:443`` stripped
- fragment dropped
- tracking query params dropped (``utm_*``, ``fbclid``, ``gclid``)
- remaining query params sorted bytewise and re-joined with ``&``
- trailing slashes stripped from the path (path case preserved)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .survivors import _best_members

# RFC-3986-ish splitter, shared Java/RE2 syntax.
_URL_RE = (r"^(?:([a-zA-Z][a-zA-Z0-9+.-]*)://)?"  # 1 scheme
           r"([^/?#]*)"                            # 2 authority
           r"([^?#]*)"                             # 3 path
           r"(?:\?([^#]*))?"                       # 4 query
           r"(?:#.*)?$")                           # fragment (dropped)

TRACKING_PARAM_RE = r"^(utm_[^=]*|fbclid|gclid)(=|$)"


def canonical_url(col) -> Column:
    """Canonical form of a URL column per the module rules."""
    u = F.col(col) if isinstance(col, str) else col
    scheme = F.lower(F.regexp_extract(u, _URL_RE, 1))
    host = F.regexp_replace(
        F.lower(F.regexp_extract(u, _URL_RE, 2)), r":(80|443)$", "")
    path = F.regexp_replace(F.regexp_extract(u, _URL_RE, 3), r"/+$", "")
    q = F.regexp_extract(u, _URL_RE, 4)
    params = F.array_sort(F.filter(
        F.split(q, "&"),
        lambda p: (p != "") & ~p.rlike(TRACKING_PARAM_RE)))
    qs = F.array_join(params, "&")
    return F.concat(
        F.when(scheme != "", F.concat(scheme, F.lit("://"))).otherwise(F.lit("")),
        host, path,
        F.when(qs != "", F.concat(F.lit("?"), qs)).otherwise(F.lit("")))


def _url_key(url_col, id_col) -> Column:
    """Group key of URL dedup: the canonical URL, or for a NULL url a
    per-doc sentinel (a NUL byte, ``null:``, then the eid; NUL cannot
    appear in a canonicalized URL), so null-url docs stay their own
    singletons instead of vanishing from a join on a NULL key or
    grouping together as one bogus duplicate group."""
    return F.coalesce(canonical_url(url_col),
                      F.concat(F.lit("\x00null:"), F.col(id_col).cast("string")))


def url_dedup(docs: DataFrame, id_col: str = "doc_id",
              url_col: str = "url", ranks: DataFrame | None = None,
              rank_col: str = "rank") -> DataFrame:
    """Per doc: its canonical URL and the survivor (min id sharing that
    canonical URL). One groupBy on the canonical key — partial+final
    aggregate, then a key-partitioned join back; no windows, no skew
    sensitivity beyond the aggregate's own map-side combine.

    A NULL url (common in real crawl data) gets a per-doc sentinel key
    (:func:`_url_key`), so null-url docs survive as their own
    singletons; ``url_canon`` is reported as NULL for them.

    ``ranks`` (optional, (id_col, rank_col) numeric): tiered survivor
    policy — the survivor becomes the HIGHEST-ranked member of each
    URL group (quality score, source-tier priority); ties and
    unranked/NULL/NaN-ranked members sort last and break to min id, so
    it degrades to the min-id default when every rank ties. The rule is
    the shared min-struct aggregate of
    :func:`~pyjedai_spark.functions.survivors._best_members`, so ids of
    any orderable type work."""
    d = docs.select(F.col(id_col).alias("eid"),
                    _url_key(url_col, id_col).alias("_key"),
                    canonical_url(url_col).alias("url_canon"))
    survivors = _best_members(d, "_key", ranks, id_col, rank_col)
    return d.join(survivors, "_key").select(
        "eid", "url_canon", "survivor",
        (F.col("eid") != F.col("survivor")).cast("long").alias("is_dup"))
