"""URL canonicalization properties (SURVEY.md §5 property-based tests)."""

import string

from hypothesis import given, settings
from hypothesis import strategies as st

from web_scraper_spark.urls import canon_url_py, host_py

path_chars = st.text(
    alphabet=string.ascii_letters + string.digits + "-._~/%?&=+",
    max_size=30,
)
hosts = st.from_regex(r"[a-zA-Z0-9][a-zA-Z0-9.\-]{0,20}", fullmatch=True)
schemes = st.sampled_from(["http", "https", "HTTP", "Https"])
urls = st.builds(
    lambda s, h, p: f"{s}://{h}/{p}", schemes, hosts, path_chars
)


@given(urls)
@settings(max_examples=300, deadline=None)
def test_canon_idempotent(u):
    c = canon_url_py(u)
    assert canon_url_py(c) == c


@given(urls)
@settings(max_examples=200, deadline=None)
def test_canon_lowercases_scheme_host(u):
    c = canon_url_py(u)
    scheme, rest = c.split("://", 1)
    host = rest.split("/", 1)[0]
    assert scheme == scheme.lower()
    assert host == host.lower()


def test_canon_examples():
    assert canon_url_py("HTTP://Example.COM:80/a//b#frag") == "http://example.com/a/b"
    assert canon_url_py("https://example.com:443/x") == "https://example.com/x"
    assert canon_url_py("https://example.com:8443/x") == "https://example.com:8443/x"
    assert canon_url_py("https://example.com") == "https://example.com/"
    # percent-decode unreserved, uppercase other escapes
    assert canon_url_py("https://e.com/%41%2fb") == "https://e.com/A%2Fb"
    assert canon_url_py("https://e.com/a?q=1//2#z") == "https://e.com/a?q=1//2"
    assert host_py("https://Ex.COM:8080/a") == "ex.com"


def test_with_canon_split_semantics_and_plan(spark):
    """with_canon must equal canon_url_py on every row (%-free URLs, every
    kind of escape in path and query, NULL passthrough) and its plan must
    carry no Python stage: the percent step is native too."""
    from web_scraper_spark.urls import with_canon

    samples = [
        "HTTP://Example.COM:80/a//b#frag",
        "https://alpha.example/kinh-te.htm",
        "https://beta.example/kinh-te-p2",
        "https://e.com/a?q=1//2#z",
        "https://example.com",
        "https://Example.com:8443/x",
        "https://b.example/p%61th/%7Euser",   # unreserved escapes decode
        "https://c.example/ok",
        None,
        "relative/path",
        "https://x.example/a%2Fb",            # reserved escape: must NOT decode
        "https://x.example/50%25off?q=%20x",  # %25/%20 preserved (uppercased)
        "https://x.example/bad%zz",           # invalid escape passes through
        "https://x.example/trail%",
        "https://x.example/caf%c3%a9",        # non-ASCII octets: upper-cased only
        "https://x.example/%%41",             # stray '%' kept, then %41 -> A
        "https://x.example/%2541",            # %25 is not re-scanned: no A
        "https://x.example/%7e",              # lower-case hex of '~' decodes
        "https://x.example/p?q=%7e%2f%41",    # escapes inside the query
    ]
    df = spark.createDataFrame([(s,) for s in samples], "url string")
    out = with_canon(df)
    got = {r["url"]: r["url_canon"] for r in out.collect()}
    assert len(got) == len(samples)
    for s in samples:
        assert got[s] == (canon_url_py(s) if s is not None else None), s
    assert got["https://x.example/%%41"] == "https://x.example/%A"
    assert got["https://x.example/%2541"] == "https://x.example/%2541"
    plan = out._jdf.queryExecution().executedPlan().toString()
    n_python = plan.count("ArrowEvalPython") + plan.count("BatchEvalPython")
    assert n_python == 0


escaped_pieces = st.one_of(
    st.text(alphabet=string.ascii_letters + string.digits + "-._~/?&=+", max_size=4),
    st.just("%"),
    st.builds(lambda a: "%" + a, st.sampled_from(string.hexdigits)),
    st.builds(
        lambda a, b: "%" + a + b,
        st.sampled_from(string.hexdigits),
        st.sampled_from(string.hexdigits),
    ),
    st.just("%zz"),
)
escaped_urls = st.builds(
    lambda s, h, ps: f"{s}://{h}/{''.join(ps)}",
    schemes,
    hosts,
    st.lists(escaped_pieces, max_size=8),
)


def test_with_canon_matches_python_on_escaped_urls(spark):
    """Property: the native with_canon equals canon_url_py over URLs built
    from random '%', '%X', '%XX' and '%zz' pieces, checked in one collect."""
    from hypothesis import HealthCheck

    from web_scraper_spark.urls import with_canon

    samples = []

    @given(escaped_urls)
    @settings(
        max_examples=500, deadline=None, database=None, derandomize=True,
        suppress_health_check=list(HealthCheck),
    )
    def draw(u):
        samples.append(u)

    draw()
    assert len(samples) >= 100 and any("%" in u for u in samples)
    df = spark.createDataFrame([(u,) for u in samples], "url string")
    got = [(r["url"], r["url_canon"]) for r in with_canon(df).collect()]
    bad = [(u, c, canon_url_py(u)) for u, c in got if c != canon_url_py(u)]
    assert not bad, bad[:5]


def test_xxhash_bucket_stability(spark):
    """url_hash is Spark-native xxhash64 — stable across sessions/plans."""
    from pyspark.sql import functions as F

    from web_scraper_spark.urls import url_hash

    df = spark.createDataFrame([("https://a.example/x",)], "url string")
    h1 = df.select(url_hash(F.col("url")).alias("h")).collect()[0]["h"]
    h2 = spark.sql("SELECT xxhash64('https://a.example/x') AS h").collect()[0]["h"]
    assert h1 == h2
