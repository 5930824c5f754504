"""Co-citation link similarity (Small 1973; Kessler 1963 coupling).

Two pages co-cited by many of the same sources are topically related —
the classic link-graph similarity signal (Small's co-citation; the
transpose, Kessler's bibliographic coupling, relates two SOURCES that
cite the same targets). Crawl schedulers use it to find related hubs
and duplicate-content constellations that textual near-dup misses
(mirrors.py compares path SETS per host; this compares LINK
neighborhoods per page). The reference never aggregates its link graph
(/root/reference/CrawlPaperTuoiTre.py:60-118 walks listings one page at
a time); this follows the published measure.

Pair formation is the repo's standard inverted-index discipline (the
containment_pairs / mirrors shape — NEVER a crossJoin): group links by
source, keep each source's first ``fanout_cap`` targets in a
DETERMINISTIC order (dst ascending — both engines rank identically, so
the cap is oracle-mirrored, the "no silent caps" rule), and form pairs
only within a source. A source with fanout f contributes at most
min(f, cap)²/2 pairs, so hub pages cannot explode the pair space; the
cap, like the LSH bucket cap, is counted and reported by the caller's
cap audit at production scale.

Plan shape at 100 TB: one distinct on (src, dst), then a src-partitioned
rank window. The window does NOT ride the distinct's shuffle: that one is
hash-partitioned on (src, dst), so Catalyst inserts a second exchange on
src, with a partial top-``fanout_cap`` limit per src before it so at most
the cap per src and input partition crosses it. The self-join
(``dedup.posting_pairs`` with no df cap) reads that src exchange on both
sides, the second as a ReusedExchange, then one
map-side-combined count on the pair key. Only (src, dst) string pairs
ever shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from web_scraper_spark.operators.dedup import posting_pairs

FANOUT_CAP = 64  # per-source outdegree cap before pair formation
MIN_COMMON = 2  # report pairs co-cited by at least this many sources


def co_citation(
    links: DataFrame,
    fanout_cap: int = FANOUT_CAP,
    min_common: int = MIN_COMMON,
) -> DataFrame:
    """Co-citation counts over a (src, dst) link frame.

    Returns (url_a, url_b, n_common_srcs) with url_a < url_b and
    n_common_srcs >= ``min_common``: the number of distinct sources
    linking BOTH targets (each source's target list capped at
    ``fanout_cap`` in dst order first).
    """
    # the distinct shuffles on (src, dst), so this window adds an exchange on src
    w = Window.partitionBy("src").orderBy("dst")
    ranked = (
        links.select("src", "dst")
        .distinct()
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= fanout_cap)
        .drop("_rn")
    )
    return posting_pairs(ranked, "src", "dst").select(
        F.col("a").alias("url_a"),
        F.col("b").alias("url_b"),
        F.col("n_common").alias("n_common_srcs"),
    ).where(F.col("n_common_srcs") >= min_common)


def bib_coupling(
    links: DataFrame,
    fanout_cap: int = FANOUT_CAP,
    min_common: int = MIN_COMMON,
) -> DataFrame:
    """Bibliographic coupling (Kessler 1963): SOURCE pairs linking >=
    ``min_common`` common targets — exactly co-citation on the
    transposed link graph, so the same capped-inverted-index plan runs
    with the edge reversed (the cap becomes a per-TARGET indegree cap,
    bounding hot sinks the way the fanout cap bounds hub pages).
    Returns (url_a, url_b, n_common_dsts)."""
    flipped = links.select(
        F.col("dst").alias("src"), F.col("src").alias("dst")
    )
    return co_citation(flipped, fanout_cap, min_common).select(
        "url_a", "url_b", F.col("n_common_srcs").alias("n_common_dsts")
    )


def co_citation_sql(
    links_cte: str,
    fanout_cap: int = FANOUT_CAP,
    min_common: int = MIN_COMMON,
) -> str:
    """DuckDB value-exact twin over a CTE producing (src, dst)."""
    return f"""
        WITH links AS ({links_cte}),
        dedup AS (SELECT DISTINCT src, dst FROM links),
        ranked AS (
            SELECT src, dst
            FROM (SELECT src, dst, row_number() OVER (
                      PARTITION BY src ORDER BY dst) AS rn
                  FROM dedup)
            WHERE rn <= {fanout_cap}
        )
        SELECT a.dst AS url_a, b.dst AS url_b,
               count(*)::BIGINT AS n_common_srcs
        FROM ranked a JOIN ranked b ON a.src = b.src AND a.dst < b.dst
        GROUP BY 1, 2
        HAVING count(*) >= {min_common}
    """


def bib_coupling_sql(
    links_cte: str,
    fanout_cap: int = FANOUT_CAP,
    min_common: int = MIN_COMMON,
) -> str:
    """DuckDB twin of :func:`bib_coupling` — the co-citation body over
    the transposed edge list, count column renamed."""
    flipped = f"SELECT dst AS src, src AS dst FROM ({links_cte})"
    body = co_citation_sql(flipped, fanout_cap, min_common)
    return f"""
        SELECT url_a, url_b, n_common_srcs AS n_common_dsts
        FROM ({body})
    """
