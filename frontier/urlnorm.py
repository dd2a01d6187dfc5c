"""URL canonicalization as pure column expressions (crawl-core dedup aid).

The reference deduplicates URLs by exact string identity (first-wins within
a sitemap, usp/fetch_parse.py:1004-1007); at Common-Crawl scale the same
page arrives spelled many ways.  :func:`canonical_url` maps the common
equivalent spellings to one representative so the R8 seen-set and the
dedup families collapse them:

* scheme and host lowercased (RFC 3986 §6.2.2.1);
* default port stripped (``:80`` for http, ``:443`` for https);
* empty path → ``/``;
* fragment dropped (never sent to the server);
* tracking query params dropped (``utm_*``, ``gclid``, ``fbclid``,
  ``msclkid`` — the industry-standard click-ID set);
* remaining query params sorted byte-wise (param order is almost never
  semantic); empty query → no ``?``.

Deliberately NOT done (they change semantics or need per-site knowledge):
percent-decoding, path case-folding, duplicate-slash collapse, index.html
stripping.

Everything is built from ``regexp_extract`` / higher-order array functions —
JVM codegen end to end, no UDF, no shuffle; at 10¹⁰ rows this is a free
map-side projection.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

#: query params that never affect content (click/campaign tracking)
TRACKING_PARAM_RE = r"^(utm_[a-z]+|gclid|fbclid|msclkid)="

_SCHEME_RE = r"^([A-Za-z][A-Za-z0-9+.\-]*)://"
_HOSTPORT_RE = r"^[A-Za-z][A-Za-z0-9+.\-]*://([^/?#]*)"
#: raw path + query (no fragment) — the RFC 9309 robots match target
_PATHQUERY_RE = r"^[A-Za-z][A-Za-z0-9+.\-]*://[^/?#]*([^#]*)"


def host_expr(url: Column | str) -> Column:
    """Lowercased hostname extracted by regex — NEVER throws, unlike
    ``parse_url`` (Spark 4 raises INVALID_URL on malformed percent-escapes,
    which a 10¹⁰-row web corpus is guaranteed to contain).  Drops userinfo
    and port; unwraps bracketed IPv6.  Empty → NULL."""
    url = F.col(url) if isinstance(url, str) else url
    hostport = F.regexp_extract(url, _HOSTPORT_RE, 1)
    hostport = F.regexp_replace(hostport, r"^.*@", "")  # userinfo
    host = F.when(
        hostport.startswith("["),
        F.regexp_extract(hostport, r"^\[([^\]]*)\]", 1),
    ).otherwise(F.regexp_replace(hostport, r":[0-9]*$", ""))
    host = F.lower(host)
    return F.when(host == "", F.lit(None)).otherwise(host)


def pathquery_expr(url: Column | str) -> Column:
    """Raw path+query octets (fragment stripped), ``'' → '/'`` — the RFC
    9309 match target, extracted by regex so malformed URLs match exactly
    like the scalar engine instead of erroring or silently passing."""
    url = F.col(url) if isinstance(url, str) else url
    pq = F.regexp_extract(url, _PATHQUERY_RE, 1)
    return F.when(pq == "", F.lit("/")).otherwise(pq)


def canonical_url(url: Column | str) -> Column:
    """Canonical spelling of ``url`` per the module contract (codegen-only).

    URLs without a ``scheme://host`` shape pass through UNCHANGED — mapping
    every unparseable string to one key would silently merge distinct rows
    in a canonical-keyed dedup (review-caught)."""
    url = F.col(url) if isinstance(url, str) else url
    scheme = F.lower(F.regexp_extract(url, _SCHEME_RE, 1))
    hostport = F.lower(F.regexp_extract(url, _HOSTPORT_RE, 1))
    # strip ONLY the scheme's default port; any explicit non-default port
    # (:8080, :8443) is semantic and kept — the anchored regex cannot touch
    # it, and bracketed IPv6 hosts pass through safely
    host = (
        F.when(scheme == "http", F.regexp_replace(hostport, ":80$", ""))
        .when(scheme == "https", F.regexp_replace(hostport, ":443$", ""))
        .otherwise(hostport)
    )
    # fragment is stripped FIRST: a '?' inside the fragment is not a query
    # (review-caught: '#sec?x=1' must not resurrect as '?x=1')
    pathquery = F.regexp_extract(url, _PATHQUERY_RE, 1)
    path = F.regexp_extract(pathquery, r"^([^?]*)", 1)
    path = F.when(path == "", F.lit("/")).otherwise(path)
    query = F.regexp_extract(pathquery, r"\?(.*)$", 1)
    kept = F.array_sort(
        F.filter(
            F.split(query, "&"),
            lambda p: (p != "") & ~p.rlike(TRACKING_PARAM_RE),
        )
    )
    query_part = F.when(
        F.size(kept) > 0, F.concat(F.lit("?"), F.array_join(kept, "&"))
    ).otherwise(F.lit(""))
    canonical = F.concat(scheme, F.lit("://"), host, path, query_part)
    return F.when((scheme == "") | (hostport == ""), url).otherwise(canonical)
