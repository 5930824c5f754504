"""RefinedWeb-style URL filtering (frontier/urlfilter.py).

Value-exactness vs DuckDB on the registered synthetic population is
covered by the oracle replica (`url_filter`); these tests pin rule
semantics, precedence, edge cases, and the twin on planted URLs.
"""

import duckdb
import pandas as pd

from web_scraper_spark.frontier import urlfilter as uf


def _urls(spark, urls):
    return spark.createDataFrame([(u,) for u in urls], "url string")


def _run(spark, urls):
    return {r["url"]: r.asDict() for r in uf.url_filter(_urls(spark, urls)).collect()}


def test_rule_dispositions(spark):
    out = _run(spark, [
        "https://h0.example/news/tech-1.html",      # blocked domain
        "https://h5.example/news/pic-2.jpg",        # media extension
        "https://h5.example/casino/blog-3.html",    # casino=60 >= 50
        "https://h5.example/stream/video-4.html",   # 25+25 = 50 >= 50
        "https://h5.example/stream/free-5.html",    # 25+10 = 35 keep
        "https://h5.example/news/sports-6.html",    # score 0 keep
    ])
    assert out["https://h0.example/news/tech-1.html"]["disposition"] == "blocked_domain"
    assert out["https://h5.example/news/pic-2.jpg"]["disposition"] == "media_extension"
    assert out["https://h5.example/casino/blog-3.html"]["disposition"] == "word_score"
    assert out["https://h5.example/casino/blog-3.html"]["url_score"] == 60
    assert out["https://h5.example/stream/video-4.html"]["disposition"] == "word_score"
    assert out["https://h5.example/stream/video-4.html"]["url_score"] == 50
    assert out["https://h5.example/stream/free-5.html"]["disposition"] == "keep"
    assert out["https://h5.example/stream/free-5.html"]["url_score"] == 35
    assert out["https://h5.example/news/sports-6.html"]["url_score"] == 0


def test_precedence_and_edges(spark):
    out = _run(spark, [
        # blocked domain wins over media ext and word score
        "https://h1.example/casino/x.jpg",
        # media ext wins over word score
        "https://h6.example/casino/x.jpg",
        # bare domain: no extension match on the TLD, empty path words
        "https://h6.example",
        # uppercase extension folds
        "https://h6.example/a/b.JPG",
        # case-folded matching: mixed-case host/scheme still blocks
        # (the filter runs pre-canonicalization)
        "HTTPS://H0.Example/news/x.html",
        "https://h5.example/CASINO/x.html",
    ])
    assert out["https://h1.example/casino/x.jpg"]["disposition"] == "blocked_domain"
    assert out["https://h6.example/casino/x.jpg"]["disposition"] == "media_extension"
    bare = out["https://h6.example"]
    assert bare["extension"] == "" and bare["url_score"] == 0
    assert bare["disposition"] == "keep"
    assert out["https://h6.example/a/b.JPG"]["disposition"] == "media_extension"
    assert out["HTTPS://H0.Example/news/x.html"]["disposition"] == "blocked_domain"
    assert out["https://h5.example/CASINO/x.html"]["disposition"] == "word_score"


def test_duckdb_twin_on_planted(spark):
    urls = [
        "https://h0.example/news/tech-1.html",
        "https://h5.example/casino/download-2",
        "https://h6.example/stream/video.mp3",
        "https://h7.example",
        "https://h7.example/free/online/casino/x.html",
        "HTTPS://H1.Example/Stream/Video-9.HTML",
    ]
    df = uf.url_filter(_urls(spark, urls))
    sdata = sorted(map(tuple, df.collect()))
    con = duckdb.connect()
    con.register("planted", pd.DataFrame({"url": urls}))
    odata = sorted(map(tuple, con.execute(
        uf.url_filter_sql("SELECT url FROM planted")).fetchall()))
    assert sdata == odata


def test_query_string_media_url_twin(spark):
    """The extension comes from the path alone: a query string or fragment
    after a media file must not hide it, and a media name inside the query
    must not lend it one — on both engines."""
    urls = [
        "https://h5.example/pic.jpg?w=200",
        "https://h5.example/a/clip.MP4#t=10",
        "https://h5.example/a/page.html?img=x.jpg",
        "https://h5.example/a/page?img=x.jpg",
    ]
    df = uf.url_filter(_urls(spark, urls))
    out = {r["url"]: r for r in df.collect()}
    assert out["https://h5.example/pic.jpg?w=200"]["disposition"] == "media_extension"
    assert out["https://h5.example/pic.jpg?w=200"]["extension"] == "jpg"
    assert out["https://h5.example/a/clip.MP4#t=10"]["disposition"] == "media_extension"
    assert out["https://h5.example/a/page.html?img=x.jpg"]["extension"] == "html"
    assert out["https://h5.example/a/page?img=x.jpg"]["extension"] == ""
    assert out["https://h5.example/a/page?img=x.jpg"]["disposition"] == "keep"
    con = duckdb.connect()
    con.register("planted", pd.DataFrame({"url": urls}))
    odata = sorted(map(tuple, con.execute(
        uf.url_filter_sql("SELECT url FROM planted")).fetchall()))
    assert sorted(map(tuple, df.collect())) == odata


def test_plan_is_scan_only(spark):
    df = uf.url_filter(_urls(spark, ["https://h5.example/a/b.html"]))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "Exchange" not in plan  # no shuffle: pure per-row triage
