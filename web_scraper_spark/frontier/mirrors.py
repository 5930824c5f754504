"""Mirror-host detection: which hosts serve (near-)identical URL path sets.

A web-scale crawler wastes budget and pollutes dedup statistics if it
crawls mirrors as independent sites (Bharat & Broder, "Mirror, mirror on
the web", WWW 1999 — their Phase 1 "URL-string similarity" signal). The
reference crawls three fixed news hosts and never needs this
(`/root/reference/CrawlPaper_TuoiTre.py` hard-codes its site); at
10^10-URL frontier scale, host-level mirror collapse is a first-class
frontier-hygiene operator.

``mirror_pairs`` computes exact path-set Jaccard between host pairs via
the inverted-index shape of ``dedup.posting_pairs`` — never a host×host
crossJoin:

1. distinct ``(host, path)`` — one shuffle;
2. per-path host postings, shuffled on path; paths on more than
   ``max_hosts_per_path`` hosts are dropped by a hosts-per-path count
   window (navigational boilerplate paths like ``/`` or ``/index.html``
   appear everywhere and carry no mirror signal — the same
   non-discriminative-key cap as LSH bucket caps, and it bounds the
   self-join fan-out to cap² per path);
3. pair intersection counts from a self-join ON path: both sides read
   step 2's path exchange, the second as a ReusedExchange, then one
   shuffle on the host pair for the count;
4. per-host set sizes joined back; ``J = inter / (|A| + |B| − inter)``
   (exact integer counts; the division of two small exact integers is
   bit-identical across engines).

Pairs with J ≥ tau are reported. At 100 TB the distinct + postings are
map-side-combined shuffles on 60-byte keys; nothing is collected.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from web_scraper_spark.operators.dedup import _with_set_sizes, posting_pairs

MIRROR_TAU = 0.5
MAX_HOSTS_PER_PATH = 100


def mirror_pairs(
    urls: DataFrame,
    tau: float = MIRROR_TAU,
    max_hosts_per_path: int = MAX_HOSTS_PER_PATH,
) -> DataFrame:
    """Host pairs with path-set Jaccard ≥ tau. Input: one ``url`` column
    (duplicates tolerated). Output: (host_a, host_b, inter, n_a, n_b,
    jaccard), host_a < host_b."""
    hp = urls.select(
        F.regexp_extract(F.col("url"), r"^[a-z]+://([^/]+)", 1).alias("host"),
        F.regexp_replace(F.col("url"), r"^[a-z]+://[^/]+", "").alias("path"),
    ).distinct()
    inter = posting_pairs(hp, "path", "host", max_hosts_per_path)
    out = _with_set_sizes(inter, hp, "host").select(
        F.col("a").alias("host_a"),
        F.col("b").alias("host_b"),
        F.col("n_common").alias("inter"),
        "n_a",
        "n_b",
    )
    jaccard = F.round(F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter")), 6)
    return out.withColumn("jaccard", jaccard).where(F.col("jaccard") >= tau)


def mirror_pairs_sql(
    urls_cte: str,
    tau: float = MIRROR_TAU,
    max_hosts_per_path: int = MAX_HOSTS_PER_PATH,
) -> str:
    """DuckDB twin over a CTE producing a single ``url`` column."""
    return f"""
        WITH urls AS ({urls_cte}),
        hp AS (
            SELECT DISTINCT
                   regexp_extract(url, '^[a-z]+://([^/]+)', 1) AS host,
                   regexp_replace(url, '^[a-z]+://[^/]+', '') AS path
            FROM urls
        ),
        sizes AS (SELECT host, count(*)::BIGINT AS n FROM hp GROUP BY 1),
        keep AS (
            SELECT path FROM hp GROUP BY path
            HAVING count(*) <= {max_hosts_per_path}
        ),
        discr AS (SELECT hp.host, hp.path FROM hp JOIN keep USING (path)),
        inter AS (
            SELECT a.host AS host_a, b.host AS host_b,
                   count(*)::BIGINT AS inter
            FROM discr a JOIN discr b
              ON a.path = b.path AND a.host < b.host
            GROUP BY 1, 2
        )
        SELECT host_a, host_b, inter, sa.n AS n_a, sb.n AS n_b,
               round(inter / (sa.n + sb.n - inter), 6) AS jaccard
        FROM inter
        JOIN sizes sa ON sa.host = host_a
        JOIN sizes sb ON sb.host = host_b
        WHERE round(inter / (sa.n + sb.n - inter), 6) >= {tau}
    """
