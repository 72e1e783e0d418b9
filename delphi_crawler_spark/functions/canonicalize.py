"""URL canonicalization + key construction (reference parity: C1-C3).

The reference canonicalizes Maven coordinates into fetch URLs by RFC-3986
resolution + percent-encoding (MavenIdentifier.scala:31-46, golden-tested in
MavenURLConstructionCheck.scala:28-46 — e.g. ``${parent.version}`` must
encode to ``%24%7Bparent.version%7D``), and builds a canonical unique string
``repo:group:artifact:version`` used as the dedup/upsert key
(MavenIdentifier.scala:25-27, ElasticStoreQueries.scala:66).

Our engine operates on web URLs; the same contract becomes:

``canonicalize_url``  (vectorized pandas UDF — the ONLY Python in this
module's hot path, Arrow-batched, no per-row Spark UDF):
  1. trim whitespace; drop fragment
  2. scheme lowercased; only http/https accepted (else NULL = malformed,
     the analogue of the reference's malformed-index-record skip,
     IndexProcessing.scala:78-99)
  3. host lowercased, trailing dot stripped, default port removed
     (80 for http, 443 for https)
  4. path dot-segments resolved (RFC 3986 §5.2.4), empty path -> "/"
  5. every path segment / query percent-encoded over the RFC 3986
     unreserved set (existing ``%XX`` escapes preserved + hex uppercased;
     raw ``${...}``, spaces etc. encoded — matching the reference's golden
     vectors ``%24%7B...%7D``)

Key columns (pure JVM-side Spark functions, zero Python):
  - ``host``      regexp from canonical url
  - ``host_rev``  reversed host labels (com.example.www) — north-rule key
  - ``url_hash``  Spark ``hash()`` = 32-bit Murmur3 (the north rule's
                  murmur3 requirement)
  - ``url_hash64`` ``xxhash64()`` — bloom-filter key
"""

from __future__ import annotations

import re
from urllib.parse import quote

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

_SCHEME_RE = re.compile(r"^([A-Za-z][A-Za-z0-9+.\-]*)://")
_DEFAULT_PORTS = {"http": "80", "https": "443"}
# RFC 3986 unreserved + '%' so pre-encoded escapes survive un-doubled.
_SEG_SAFE = "%-._~"
_QUERY_SAFE = "%-._~=&+"
_PCT_RE = re.compile(r"%[0-9a-fA-F]{2}")


def _resolve_dot_segments(path: str) -> str:
    """RFC 3986 §5.2.4 remove_dot_segments."""
    out: list[str] = []
    for seg in path.split("/"):
        if seg == ".":
            continue
        if seg == "..":
            if out:
                out.pop()
            continue
        out.append(seg)
    # preserve trailing slash produced by '.'/'..' final segments
    if path.endswith(("/.", "/..")) or path.endswith("/"):
        if not out or out[-1] != "":
            out.append("")
    resolved = "/".join(out)
    if not resolved.startswith("/"):
        resolved = "/" + resolved
    return resolved


def canonicalize_url_py(raw: str | None) -> str | None:
    """Pure-Python single-URL canonicalizer.

    This is the semantic source of truth: the pandas UDF applies it per
    Arrow batch, the pure-Python scheduler oracle (plans/oracle.py) calls it
    directly, and the golden-vector tests pin its output byte-for-byte.
    Returns None for malformed/unsupported URLs.
    """
    if raw is None:
        return None
    s = raw.strip()
    m = _SCHEME_RE.match(s)
    if not m:
        return None
    scheme = m.group(1).lower()
    if scheme not in ("http", "https"):
        return None
    rest = s[m.end():]
    # split off fragment first (dropped), then query
    rest = rest.split("#", 1)[0]
    if "?" in rest:
        rest, query = rest.split("?", 1)
    else:
        query = None
    # authority = up to first '/'
    if "/" in rest:
        authority, path = rest.split("/", 1)
        path = "/" + path
    else:
        authority, path = rest, ""
    # drop userinfo
    if "@" in authority:
        authority = authority.rsplit("@", 1)[1]
    host, port = authority, None
    if ":" in authority:
        host, port = authority.rsplit(":", 1)
        # a second ':' (``a.com:443:443``) is not a host:port authority
        if not port.isdigit() or ":" in host:
            return None
    host = host.lower().rstrip(".")
    if not host:
        return None
    if port is not None and port != _DEFAULT_PORTS.get(scheme):
        hostport = f"{host}:{port}"
    else:
        hostport = host
    path = _resolve_dot_segments(path) if path else "/"
    segs = [quote(seg, safe=_SEG_SAFE) for seg in path.split("/")]
    path = "/".join(segs)
    path = _PCT_RE.sub(lambda mm: mm.group(0).upper(), path)
    out = f"{scheme}://{hostport}{path}"
    if query is not None:
        q = quote(query, safe=_QUERY_SAFE)
        q = _PCT_RE.sub(lambda mm: mm.group(0).upper(), q)
        out = f"{out}?{q}"
    return out


# Fast-path detector: URLs that are ALREADY canonical. Charclasses admit
# only characters the canonicalizer passes through unchanged (lowercase
# scheme/host, RFC 3986 unreserved path/query chars, no '%', no userinfo/
# port/fragment, non-empty path, no dot segments), so for a matching URL
# canonicalize_url_py is the identity — equivalence property-tested in
# tests/test_canonicalize.py.
_FAST_RE = (
    r"^(https?)://"
    r"([a-z0-9\-]+(?:\.[a-z0-9\-]+)*)"          # host: no trailing dot, no port
    r"((?:/[A-Za-z0-9\-_~./]*)?)"               # path: unreserved + '/'
    r"((?:\?[A-Za-z0-9\-_~.=&+]*)?)$"           # query: unreserved + =&+
)
_DOTSEG_RE = r"/\.\.?(?:/|$)"  # '.' or '..' as a full path segment


def canonicalize_urls_pd(urls: pd.Series) -> pd.Series:
    """Vectorized canonicalization over a pandas batch: pandas str-ops
    detect already-canonical URLs (the overwhelming majority in a real
    frontier) and pass them through; only dirty rows (case/port/dot-segment/
    encoding junk) take the per-row python path. Output is byte-identical to
    ``canonicalize_url_py`` row-wise."""
    s = urls.str.strip()
    ext = s.str.extract(_FAST_RE)
    fast = (
        ext[0].notna()
        & (ext[2] != "")  # canonical already has a path → identity, no concat
        & ~ext[2].str.contains(_DOTSEG_RE, regex=True, na=False)
    )
    out = pd.Series(None, index=urls.index, dtype=object)
    out[fast] = s[fast]
    slow = ~fast
    if slow.any():
        out[slow] = urls[slow].map(canonicalize_url_py, na_action="ignore")
    return out


@F.pandas_udf(StringType())
def _canonicalize_url_udf(urls: pd.Series) -> pd.Series:
    """Arrow-vectorized canonicalization (C1). NULL = malformed (F5)."""
    return canonicalize_urls_pd(urls)


def canonicalize_url(url: Column | str) -> Column:
    """C1 canonicalization (Arrow-vectorized pandas UDF; NULL = malformed).

    The fast path for already-canonical URLs lives INSIDE the batch
    (``canonicalize_urls_pd``: one vectorized regex extract classifies the
    batch; canonical rows are passed through with zero per-row work). The
    ArrowEvalPython node materializes the result once, so downstream
    consumers (filter, hash keys, host extract, shuffle partitioning) read
    a plain column. A JVM-side ``rlike`` split in front of the UDF is
    slower here: Catalyst inlines its CASE into every consumer, so the
    regex re-runs per consumer (~13% slower on the 2M-URL crawl core,
    BENCH.md round-4 A/B)."""
    u = F.col(url) if isinstance(url, str) else url
    return _canonicalize_url_udf(u)


# ---------------------------------------------------------------- key columns
# All pure Spark Column expressions — JVM-side, whole-stage-codegen'd.

_HOST_REGEX = r"^[a-z][a-z0-9+.\-]*://([^/:?#]+)"


def host_col(url: Column) -> Column:
    """Host (no port) from a *canonical* URL — JVM regexp, no Python."""
    return F.regexp_extract(url, _HOST_REGEX, 1)


def host_rev_col(host: Column) -> Column:
    """Reversed host labels: www.example.com -> com.example.www.

    North-rule key: groups URLs of one registrable domain lexically
    adjacent, so Iceberg host-bucket partitioning and per-host politeness
    windows cluster well. Pure Spark: split + reverse + rejoin.
    """
    return F.array_join(F.reverse(F.split(host, r"\.")), ".")


def url_hash_col(url: Column) -> Column:
    """32-bit Murmur3 (Spark ``hash()``) — the north rule's murmur3 key."""
    return F.hash(url)


def url_hash64_col(url: Column) -> Column:
    """xxhash64 — the 64-bit bloom-filter key."""
    return F.xxhash64(url)


def with_url_keys(df, url_col_name: str = "url", minimal: bool = False):
    """Attach the standard key columns to a DataFrame of canonical URLs.

    ``minimal=True`` attaches only the two keys the SCHEDULING core
    consumes (``host`` for robots/politeness, ``url_hash64`` for the
    bloom/anti-join) — the frontier-append-only keys (``host_rev``,
    murmur3 ``url_hash``) are then attached by
    :func:`complete_url_keys` AFTER dedup/anti-join, on the O(new) rows.
    Rationale: ``first_occurrence_dedup``'s min_by struct carries every
    column through the exchange (nested pruning can't reach inside the
    aggregate), so deriving append-only strings pre-dedup shuffles them
    for every CANDIDATE instead of computing them once per SURVIVOR —
    at 10^10 candidates/round that is the difference between shuffling
    and not shuffling an extra host-sized string per row."""
    u = F.col(url_col_name)
    out = df.withColumn("host", host_col(u)).withColumn(
        "url_hash64", url_hash64_col(u)
    )
    if minimal:
        return out
    return out.withColumn("host_rev", host_rev_col(F.col("host"))).withColumn(
        "url_hash", url_hash_col(u)
    )


def complete_url_keys(df, url_col_name: str = "url"):
    """Attach the frontier-append keys (``host``, ``host_rev``, murmur3
    ``url_hash``) to a frame that went through
    ``with_url_keys(minimal=True)`` — call on dedup/anti-join SURVIVORS,
    narrow and codegen'd, no shuffle. ``host`` is restored here when the
    caller shed it before the F1 exchange (it is a pure regexp of the
    canonical url, so recomputing O(survivors) beats shuffling an extra
    host-sized string per O(candidates) row — measured ~13% off the 8M-URL
    crawl core at local[8])."""
    u = F.col(url_col_name)
    out = df
    if "host" not in out.columns:
        out = out.withColumn("host", host_col(u))
    if "host_rev" not in out.columns:
        out = out.withColumn("host_rev", host_rev_col(F.col("host")))
    if "url_hash" not in out.columns:
        out = out.withColumn("url_hash", url_hash_col(u))
    return out


# ------------------------------------------------- tracking-param stripping

#: query parameters that never change the resource: ad-click and analytics
#: attribution tokens (public lists: utm_* from Google Analytics, the
#: gclid/fbclid/msclkid click ids, mc_eid Mailchimp). Kept as an explicit
#: tuple — crawl operators MUST be able to state exactly what they strip.
TRACKING_PARAM_PREFIXES = ("utm_",)
TRACKING_PARAMS = ("gclid", "fbclid", "msclkid", "mc_eid", "igshid", "ref_src")


def strip_tracking_params(url: Column) -> Column:
    """Remove tracking-only query parameters from an (already canonical)
    URL — the single highest-yield URL-dedup normalization on real web
    frontiers, where the same article arrives once per ad campaign.

    Pure JVM column math (codegen, no Python): split off the query, filter
    its ``&``-separated params through an array higher-order filter
    (name match on the public tracking lists above), rejoin, drop the
    ``?`` when nothing survives. Non-query URLs pass through unchanged;
    param ORDER is preserved (canonicalize_url has already sorted it, so
    stripping keeps the canonical order stable)."""
    base = F.regexp_extract(url, r"^([^?]*)", 1)
    query = F.regexp_extract(url, r"^[^?]*\?(.*)$", 1)
    params = F.split(query, "&")
    name_of = lambda p: F.regexp_extract(p, r"^([^=]*)", 1)  # noqa: E731
    is_tracking = lambda p: (  # noqa: E731
        F.array_contains(
            F.array(*[F.lit(t) for t in TRACKING_PARAMS]), name_of(p)
        )
        | F.lit(False)
        | F.reduce(
            F.array(*[F.lit(pre) for pre in TRACKING_PARAM_PREFIXES]),
            F.lit(False),
            lambda acc, pre: acc | name_of(p).startswith(pre),
        )
    )
    kept = F.filter(params, lambda p: (p != "") & ~is_tracking(p))
    rebuilt = F.when(F.size(kept) > 0, F.concat(base, F.lit("?"), F.array_join(kept, "&"))).otherwise(base)
    return F.when(url.contains("?"), rebuilt).otherwise(url)


# ------------------------------------------------------------- IDN / punycode
def host_to_ascii_py(host: str | None) -> str | None:
    """IDNA ToASCII (RFC 3490 nameprep + RFC 3492 punycode, the stdlib
    ``idna`` codec) per hostname — the reference scalar implementation.
    Already-ASCII hosts pass through untouched; hosts the codec rejects
    (empty labels, length violations) pass through unchanged — the gate is
    fail-open like the bloom filter, a crawler must not lose a URL to an
    encoding corner."""
    if host is None:
        return None
    if host.isascii():
        return host
    try:
        return host.encode("idna").decode("ascii")
    except UnicodeError:
        return host


@F.pandas_udf(StringType())
def _host_ascii_udf(hosts: pd.Series) -> pd.Series:
    return hosts.map(host_to_ascii_py)


def host_to_ascii(host: Column | str) -> Column:
    """Internationalized hostname → ASCII-compatible (punycode) form.

    Plan shape: a JVM ``rlike`` pre-split keeps the overwhelmingly-common
    all-ASCII host on the pure-codegen path (the Python hop is never paid
    for it); only non-ASCII hosts route through the Arrow-batched pandas
    UDF. Mirrors the canonicalize_url fast-path discipline."""
    col = F.col(host) if isinstance(host, str) else host
    return F.when(col.rlike(r"^[\x00-\x7F]*$"), col).otherwise(_host_ascii_udf(col))


def fold_host_aliases(host: Column) -> Column:
    """Fold mobile/AMP/www host aliases onto the canonical registrable
    identity: ``www.`` / ``m.`` / ``mobile.`` / ``amp.`` prefixes (and
    one stacked combination like ``amp.m.``) collapse — the static
    companion to the DUST parameter learner (``dust_fold`` handles
    query-string identities; this handles the subdomain conventions that
    need no learning, per the alias families every canonicalizer
    special-cases). One JVM regexp — anchored, single pass, repeated via
    two applications to clear one level of stacking; deeper stacks are
    left alone (a real ``m.amp.m.`` host is a trap signal, not an
    alias)."""
    once = F.regexp_replace(host, r"^(www|m|mobile|amp)\.", "")
    return F.regexp_replace(once, r"^(www|m|mobile|amp)\.", "")


def url_structure_cols(url: Column) -> dict[str, Column]:
    """Structural URL features — the per-URL vector crawl-value models
    score before a fetch (long, deep, digit-ridden, parameter-heavy URLs
    correlate with low-value template pages; the ML companion to the
    rule-based trap/DUST gates): total length, path depth, query-param
    count, digit share of the path, and a static low-value flag at the
    conventional thresholds (depth > 6, params > 4, digits > 40%, or
    length > 200). Pure JVM regexp/split — zero shuffle."""
    rest = F.regexp_replace(url, r"^[A-Za-z][A-Za-z0-9+.-]*://", "")
    path_q = F.regexp_extract(rest, r"^[^/]*(/[^?#]*)?", 1)
    query = F.regexp_extract(url, r"\?([^#]*)", 1)
    segs = F.filter(F.split(path_q, "/"), lambda s: s != "")
    depth = F.size(segs).cast("bigint")
    n_params = F.when(query == "", F.lit(0)).otherwise(
        F.size(F.split(query, "&"))
    ).cast("bigint")
    plen = F.length(path_q)
    digits = F.length(F.regexp_replace(path_q, r"[^0-9]", ""))
    digit_share = F.when(
        plen > 0, F.round(digits.cast("double") / plen.cast("double"), 6)
    ).otherwise(F.lit(0.0))
    total_len = F.length(url).cast("bigint")
    low_value = (
        (depth > 6)
        | (n_params > 4)
        | (digit_share > 0.4)
        | (total_len > 200)
    )
    return {
        "url_len": total_len,
        "path_depth": depth,
        "n_params": n_params,
        "digit_share": digit_share,
        "low_value_flag": low_value,
    }
