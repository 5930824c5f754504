"""sitemaps.org parsing (frontier/sitemap.py): grammar edges, DuckDB
twin value-equality, plan shape (pure codegen — zero Python), and the
crawl-tier contract that parsed locs are seedable URLs."""

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

from web_scraper_spark.frontier.sitemap import sitemap_entries, sitemap_entries_sql

LEAF = """<?xml version="1.0" encoding="UTF-8"?>
<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
  <url>
    <loc>https://alpha.example/doc/1&amp;ref=sm</loc>
    <lastmod>2025-12-01</lastmod>
    <changefreq>daily</changefreq>
    <priority>0.8</priority>
  </url>
  <url><loc> https://alpha.example/doc/2 </loc></url>
  <url><lastmod>2025-01-01</lastmod></url>
  <url><loc>https://alpha.example/x?a=1&amp;amp;b=2&lt;&gt;&quot;&apos;</loc><priority>1.0</priority></url>
</urlset>"""

INDEX = """<sitemapindex xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
<sitemap><loc>https://alpha.example/sitemap-1.xml</loc><lastmod>2025-12-02T08:00:00+00:00</lastmod></sitemap>
<sitemap>
  <loc>https://alpha.example/sitemap-2.xml</loc>
</sitemap>
</sitemapindex>"""

ROWS = [
    ("https://alpha.example/sitemap-1.xml", LEAF),
    ("https://alpha.example/sitemap.xml", INDEX),
]


@pytest.fixture(scope="module")
def parsed(spark):
    df = spark.createDataFrame(ROWS, "sitemap_url string, body string")
    return sitemap_entries(df).orderBy("sitemap_url", "pos").collect()


def test_grammar_edges(parsed):
    leaf = [r for r in parsed if r["kind"] == "url"]
    idx = [r for r in parsed if r["kind"] == "sitemap"]
    # entity unescape incl. the &amp;-last round-trip; whitespace strip;
    # loc-less entry dropped but positions preserved
    assert [r["pos"] for r in leaf] == [1, 2, 4]
    assert leaf[0]["loc"] == "https://alpha.example/doc/1&ref=sm"
    assert leaf[0]["lastmod"] == "2025-12-01"
    assert leaf[0]["changefreq"] == "daily"
    assert float(leaf[0]["priority"]) == 0.8
    assert leaf[1]["loc"] == "https://alpha.example/doc/2"
    assert leaf[1]["lastmod"] is None and leaf[1]["priority"] is None
    assert leaf[2]["loc"] == 'https://alpha.example/x?a=1&amp;b=2<>"\''
    assert float(leaf[2]["priority"]) == 1.0
    # index children keep their own lastmod and order
    assert [r["loc"] for r in idx] == [
        "https://alpha.example/sitemap-1.xml",
        "https://alpha.example/sitemap-2.xml",
    ]
    assert idx[0]["lastmod"] == "2025-12-02T08:00:00+00:00"


def test_duckdb_twin_value_equality(spark, parsed):
    con = duckdb.connect()
    con.register("raw", pd.DataFrame(ROWS, columns=["sitemap_url", "body"]))
    want = con.execute(
        "WITH bodies AS (SELECT * FROM raw) "
        + sitemap_entries_sql("bodies")
        + " ORDER BY sitemap_url, pos"
    ).fetchall()
    got = [
        (
            r["sitemap_url"], r["kind"], r["pos"], r["loc"], r["lastmod"],
            r["changefreq"],
            None if r["priority"] is None else float(r["priority"]),
        )
        for r in parsed
    ]
    want = [
        tuple(None if v is None else (float(v) if i == 6 else v) for i, v in enumerate(row))
        for row in want
    ]
    assert got == want


def test_plan_is_pure_codegen(spark):
    df = spark.createDataFrame(ROWS, "sitemap_url string, body string")
    plan = sitemap_entries(df)._jdf.queryExecution().executedPlan().toString()
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas", "Exchange"):
        assert marker not in plan, f"{marker} in sitemap plan:\n{plan}"


def test_parsed_locs_seed_the_frontier(spark):
    """Crawl-tier contract: leaf locs are canonicalizable seed URLs — the
    sitemap tier plugs in front of the engine's expand/dedup path."""
    from web_scraper_spark.urls import canon_url, url_hash

    df = spark.createDataFrame(ROWS, "sitemap_url string, body string")
    seeds = (
        sitemap_entries(df)
        .where(F.col("kind") == "url")
        .select(canon_url(F.col("loc")).alias("url_canon"))
        .select("url_canon", url_hash(F.col("url_canon")).alias("url_hash"))
        .collect()
    )
    assert len(seeds) == 3
    assert all(r["url_hash"] is not None for r in seeds)
    assert all(r["url_canon"].startswith("https://alpha.example/") for r in seeds)
