"""URL-level filtering before fetch: blocklist + soft word scoring.

The RefinedWeb recipe (Penedo et al. 2023, §3.1 "URL filtering") drops
candidate URLs before ever fetching them, on three signals: (1) an
exact domain blocklist (their 4.6M-domain adult/fraud list), (2) a soft
word score over the URL text — weighted matches of flagged words, with
a drop threshold, so "casino" in a path is damning while a single
mild term is not — and (3) explicit non-content exclusions (binary /
media file extensions a text crawl should never fetch). The reference
crawler fetches whatever its listing pages link
(/root/reference/CrawlPaperTuoiTre.py:60-118 — single trusted site, no
URL vetting); a frontier at the 10^10-URL design point filters BEFORE
spending fetch budget, where it is ~free.

Both lists here are small stand-ins (config, like text.LANG_MARKERS and
c4.BAD_WORDS — production swaps in the published lists); weights are
INTEGERS so the score is exact in both engines.

Plan shape at 100 TB: pure whole-stage-codegen scan — host/extension by
regexp, the word score as one bounded fold over the URL's path words
(CASE-chain weight lookup, identical expression in the DuckDB twin); no
joins (the blocklist folds into an isin literal — a 4.6M-entry
production list would instead broadcast-join on host, same shape as the
politeness host_state), no shuffles, no Python.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Stand-in blocklist domains + scored URL words (config; weights int).
BLOCKED_DOMAINS = ["h0.example", "h1.example", "h2.example"]
WORD_WEIGHTS: dict[str, int] = {
    "casino": 60,
    "webcam": 60,
    "escort": 60,
    "stream": 25,
    "video": 25,
    "download": 25,
    "free": 10,
    "online": 10,
}
SCORE_THRESHOLD = 50  # drop when the summed word score reaches this
MEDIA_EXTENSIONS = ["jpg", "jpeg", "png", "gif", "mp3", "mp4", "zip", "exe"]

HOST_RE = r"^[a-z]+://([^/:]+)"
QUERY_FRAG_RE = r"[?#].*$"
EXT_RE = r"\.([a-z0-9]+)$"  # applied to the case-folded path, query/fragment stripped
WORD_SPLIT_RE = r"[^a-z0-9]+"


def _score(words: Column) -> Column:
    def step(acc, x):
        chain = F.lit(0)
        for w, wt in WORD_WEIGHTS.items():
            chain = F.when(x == w, F.lit(wt)).otherwise(chain)
        return acc + chain.cast("bigint")

    return F.aggregate(words, F.lit(0).cast("bigint"), step)


def _score_sql(words_expr: str) -> str:
    chain = " ".join(
        f"WHEN x = '{w}' THEN {wt}" for w, wt in WORD_WEIGHTS.items()
    )
    return (
        f"coalesce(list_sum(list_transform({words_expr}, "
        f"x -> (CASE {chain} ELSE 0 END)::BIGINT)), 0)::BIGINT"
    )


def url_filter(urls: DataFrame) -> DataFrame:
    """Per-URL fetch-worthiness triage on the ``url`` column.

    Output: (url, host, extension, url_score, disposition) with
    disposition ∈ blocked_domain | media_extension | word_score | keep —
    first matching rule wins (exact list beats soft score, the
    RefinedWeb precedence).
    """
    # match on the case-folded URL: this filter runs BEFORE
    # canonicalization (pre-fetch triage), so 'HTTPS://H0.Example/...'
    # must still hit the blocklist; the output keeps the original url
    lurl = F.lower(F.col("url"))
    host = F.regexp_extract(lurl, HOST_RE, 1)
    path = F.regexp_replace(lurl, HOST_RE, "")
    # extension from the PATH, not the raw url: a bare-domain URL must
    # not match its TLD as a file extension, and '/pic.jpg?w=200' must
    # not hide its extension behind the query string
    ext = F.regexp_extract(F.regexp_replace(path, QUERY_FRAG_RE, ""), EXT_RE, 1)
    words = F.filter(
        F.split(path, WORD_SPLIT_RE), lambda x: F.length(x) > 0
    )
    score = _score(words)
    return urls.select(
        "url",
        host.alias("host"),
        ext.alias("extension"),
        score.alias("url_score"),
        F.when(host.isin(BLOCKED_DOMAINS), F.lit("blocked_domain"))
        .when(ext.isin(MEDIA_EXTENSIONS), F.lit("media_extension"))
        .when(score >= SCORE_THRESHOLD, F.lit("word_score"))
        .otherwise(F.lit("keep"))
        .alias("disposition"),
    )


def url_filter_sql(urls_cte: str) -> str:
    """DuckDB value-exact twin over a CTE producing a ``url`` column."""
    blocked = ", ".join(f"'{d}'" for d in BLOCKED_DOMAINS)
    media = ", ".join(f"'{e}'" for e in MEDIA_EXTENSIONS)
    words = (
        f"list_filter(string_split_regex("
        f"regexp_replace(lurl, '{HOST_RE}', ''), '{WORD_SPLIT_RE}'), "
        f"x -> length(x) > 0)"
    )
    score = _score_sql(words)
    return f"""
        WITH urls AS ({urls_cte}),
        low AS (SELECT url, lower(url) AS lurl FROM urls),
        feat AS (
            SELECT url,
                   regexp_extract(lurl, '{HOST_RE}', 1) AS host,
                   regexp_extract(
                       regexp_replace(
                           regexp_replace(lurl, '{HOST_RE}', ''),
                           '{QUERY_FRAG_RE}', ''),
                       '{EXT_RE}', 1) AS extension,
                   {score} AS url_score
            FROM low
        )
        SELECT url, host, extension, url_score,
               (CASE WHEN host IN ({blocked}) THEN 'blocked_domain'
                     WHEN extension IN ({media}) THEN 'media_extension'
                     WHEN url_score >= {SCORE_THRESHOLD} THEN 'word_score'
                     ELSE 'keep' END) AS disposition
        FROM feat
    """
