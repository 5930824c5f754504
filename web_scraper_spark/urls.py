"""URL canonicalization + hashing (north-rule: RFC 3986 normalize,
percent-decode, host lowercasing; xxhash64 dedup keys).

The reference deduplicates on *exact* URL strings with no normalization
(SURVEY.md F1, CrawlPaperTuoiTre.py:101-103); the engine canonicalizes
first so equivalent spellings collapse. Three implementations, kept in
lock-step by tests/test_urls.py (property-based) and the
``url_canonicalize`` oracle:

- :func:`canon_url_py` — pure-Python, used by the sequential simulator
  and as the tests' reference.
- :func:`canon_url` — a native Column expression, no Python stage. The
  structural normalization (scheme/host lowercase, default-port strip,
  fragment strip, empty-path → '/', duplicate-slash collapse) is plain
  Catalyst; the percent step (decode unreserved ``%XX``, upper-case the
  other escapes) splits the path+query on '%' and maps each escape
  through a 66-entry literal map. Its array lambda is interpreted, so it
  sits behind ``contains('%')`` and %-free URLs stay in codegen.
- :func:`canon_url_sql` — the DuckDB twin of :func:`canon_url`.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

_DEFAULT_PORTS = {"http": "80", "https": "443"}
_UNRESERVED = set(
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789-._~"
)
_PCT_RE = re.compile(r"%([0-9A-Fa-f]{2})")
_URL_RE = re.compile(r"^(?P<scheme>[A-Za-z][A-Za-z0-9+.-]*)://(?P<auth>[^/?#]*)(?P<rest>.*)$")


def _pct_norm(m: re.Match) -> str:
    ch = chr(int(m.group(1), 16))
    if ch in _UNRESERVED:
        return ch
    return "%" + m.group(1).upper()


def canon_url_py(url: str) -> str:
    """RFC 3986 normalization: lowercase scheme+host, drop default port,
    drop fragment, percent-decode unreserved octets + uppercase remaining
    escapes, empty path → '/', collapse duplicate path slashes."""
    if url is None:
        return None
    url = url.strip()
    m = _URL_RE.match(url)
    if not m:
        return url  # non-absolute; leave as-is (reference never sees these)
    scheme = m.group("scheme").lower()
    auth = m.group("auth").lower()
    if ":" in auth:
        host, port = auth.rsplit(":", 1)
        if port == _DEFAULT_PORTS.get(scheme, ""):
            auth = host
    rest = m.group("rest").split("#", 1)[0]
    rest = _PCT_RE.sub(_pct_norm, rest)
    # collapse duplicate slashes in the path (not the query)
    if "?" in rest:
        path, query = rest.split("?", 1)
        rest = re.sub(r"/{2,}", "/", path) + "?" + query
    else:
        rest = re.sub(r"/{2,}", "/", rest)
    if not rest.startswith("/"):
        rest = "/" + rest
    return f"{scheme}://{auth}{rest}"


# unreserved octet (upper-case hex) -> its character: the 66 escapes the
# percent step decodes; every other %XX is only upper-cased
_UNRESERVED_BY_HEX = {f"{ord(ch):02X}": ch for ch in sorted(_UNRESERVED)}


def _pct_norm_col(rest: Column) -> Column:
    """Native twin of ``_PCT_RE.sub(_pct_norm, rest)`` over the pieces of
    ``split(rest, '%')``. The first piece is the text before any '%' and
    stays as is. Each later one followed a '%': if it starts with two hex
    digits they are the escape, decoded through the unreserved map or else
    upper-cased; otherwise the '%' is kept verbatim. Hex digits are never
    '%', so this equals the regex's non-overlapping left-to-right scan.
    The array lambda is interpreted, so %-free strings skip it behind
    ``contains('%')``."""
    decode = F.create_map(*[F.lit(x) for kv in _UNRESERVED_BY_HEX.items() for x in kv])

    def piece(p: Column, i: Column) -> Column:
        hx = F.upper(F.substring(p, 1, 2))
        esc = F.coalesce(F.try_element_at(decode, hx), F.concat(F.lit("%"), hx))
        return (
            F.when(i == 0, p)
            .when(p.rlike("^[0-9A-Fa-f]{2}"), F.concat(esc, p.substr(F.lit(3), F.length(p))))
            .otherwise(F.concat(F.lit("%"), p))
        )

    pieces = F.transform(F.split(rest, "%", -1), piece)
    return F.when(rest.contains("%"), F.array_join(pieces, "")).otherwise(rest)


def canon_url(col: Column) -> Column:
    """Canonicalize a URL column: the native Catalyst twin of
    :func:`canon_url_py`."""
    c = F.trim(col)
    scheme = F.lower(F.regexp_extract(c, r"^([A-Za-z][A-Za-z0-9+.\-]*)://", 1))
    auth = F.lower(F.regexp_extract(c, r"^[A-Za-z][A-Za-z0-9+.\-]*://([^/?#]*)", 1))
    # strip default port for the scheme
    auth = (
        F.when((scheme == "http") & auth.endswith(":80"), F.substring(auth, F.lit(1), F.length(auth) - 3))
        .when((scheme == "https") & auth.endswith(":443"), F.substring(auth, F.lit(1), F.length(auth) - 4))
        .otherwise(auth)
    )
    rest = _pct_norm_col(F.regexp_extract(c, r"^[A-Za-z][A-Za-z0-9+.\-]*://[^/?#]*([^#]*)", 1))
    path = F.regexp_extract(rest, r"^([^?]*)", 1)
    query = F.regexp_extract(rest, r"^[^?]*(\?.*)?$", 1)
    path = F.regexp_replace(path, r"/{2,}", "/")
    path = F.when(path == "", F.lit("/")).otherwise(
        F.when(~path.startswith("/"), F.concat(F.lit("/"), path)).otherwise(path)
    )
    canon = F.concat(scheme, F.lit("://"), auth, path, query)
    # non-absolute inputs pass through untouched (scheme regex missed)
    return F.when(scheme == "", c).otherwise(canon)


def with_canon(df, src: str = "url", out: str = "url_canon"):
    """Attach the canonical URL of column ``src`` as ``out`` (NULL -> NULL)."""
    return df.withColumn(out, canon_url(F.col(src)))


def url_host(col: Column) -> Column:
    """Lowercased host of a URL column — native (``parse_url`` is JVM-side)."""
    return F.lower(F.parse_url(col, F.lit("HOST")))


def url_hash(col: Column) -> Column:
    """64-bit dedup key: xxhash64 over the canonical URL (native)."""
    return F.xxhash64(col)


def url_bucket(hash_col: Column, n_buckets: int) -> Column:
    """Seen-set bucket of a :func:`url_hash` value: ``pmod(hash, n)``."""
    return F.pmod(hash_col, F.lit(n_buckets)).cast("int")


def host_py(url: str) -> str:
    m = _URL_RE.match(url or "")
    if not m:
        return ""
    return m.group("auth").lower().rsplit(":", 1)[0] if ":" in m.group("auth") else m.group("auth").lower()


def _pct_norm_sql(rest: str) -> str:
    """DuckDB twin of :func:`_pct_norm_col` (list lambdas index from 1)."""
    decode = ", ".join(f"'{h}': '{ch}'" for h, ch in _UNRESERVED_BY_HEX.items())
    return f"""
        CASE WHEN contains({rest}, '%') THEN array_to_string(list_transform(
            string_split({rest}, '%'),
            (_p, _i) -> CASE
                WHEN _i = 1 THEN _p
                WHEN regexp_matches(_p, '^[0-9A-Fa-f]{{2}}')
                    THEN coalesce(
                        MAP {{{decode}}}[upper(substr(_p, 1, 2))][1],
                        '%' || upper(substr(_p, 1, 2))
                    ) || substr(_p, 3)
                ELSE '%' || _p END
        ), '') ELSE {rest} END
    """


def canon_url_sql(expr: str) -> str:
    """DuckDB twin of :func:`canon_url`, regexp-for-regexp (RE2-safe: no
    backreferences or lookarounds), percent step included."""
    c = f"trim({expr})"
    scheme = f"lower(regexp_extract({c}, '^([A-Za-z][A-Za-z0-9+.\\-]*)://', 1))"
    auth0 = f"lower(regexp_extract({c}, '^[A-Za-z][A-Za-z0-9+.\\-]*://([^/?#]*)', 1))"
    auth = f"""
        CASE WHEN {scheme} = 'http' AND {auth0} LIKE '%:80'
                 THEN substr({auth0}, 1, length({auth0}) - 3)
             WHEN {scheme} = 'https' AND {auth0} LIKE '%:443'
                 THEN substr({auth0}, 1, length({auth0}) - 4)
             ELSE {auth0} END
    """
    rest = _pct_norm_sql(f"regexp_extract({c}, '^[A-Za-z][A-Za-z0-9+.\\-]*://[^/?#]*([^#]*)', 1)")
    path0 = f"regexp_replace(regexp_extract({rest}, '^([^?]*)', 1), '/{{2,}}', '/', 'g')"
    path = f"""
        CASE WHEN {path0} = '' THEN '/'
             WHEN {path0} NOT LIKE '/%' THEN '/' || {path0}
             ELSE {path0} END
    """
    query = f"regexp_extract({rest}, '^[^?]*(\\?.*)?$', 1)"
    return f"""
        CASE WHEN {scheme} = '' THEN {c}
             ELSE {scheme} || '://' || {auth} || {path} || {query} END
    """
