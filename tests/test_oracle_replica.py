"""Pytest coverage for the registry's oracle contract.

The driver gate only value-checks the FIRST 50 ``queries()`` entries, so
oracled queries parked past the window (strict sub-plans / SQL-twins of
in-window queries, demoted in r3 to make room for the curation tier)
need their value-exactness proven here — same comparison as the driver
(row count, column-name set, order-insensitive normalized values), same
code as tests/oracle_check.py.

Also pins the window contract itself: every one of the first 50 entries
must have an oracle, and every oracle key must name a registered query —
a regression here silently blanks driver-gate rows.
"""

import duckdb
import pytest

import __spark_entry__ as e
from tests.oracle_check import TABLES, frame_key

SF_DIR = "/root/testdata/sf0.001"

_QS = e.queries()
_OS = e.oracle_sql()
BEYOND_WINDOW = [n for n in list(_QS)[50:] if n in _OS]


def test_gate_window_contract():
    names = list(_QS)
    assert all(n in _OS for n in names[:50]), [
        n for n in names[:50] if n not in _OS
    ]
    assert not set(_OS) - set(_QS)  # no orphan oracle keys
    # the demoted set is exactly the declared one — adding an oracled query
    # past the window without test coverage here must fail loudly
    assert set(BEYOND_WINDOW) == {
        "minhash_signatures",
        "simhash",
        "q1_via_sql",
        "keyword_search",
        "bm25_topk",
        "bm25_topk_incremental",  # r4: ≡ full-corpus bm25_topk oracle
        "phrase_search",          # r4: positional-postings phrase match
        "sitemap_parse",          # r4: sitemaps.org pure-codegen extract
        "line_dedup",             # r4: CCNet line dedup, first-wins
        "stratified_sample",      # r4: deterministic mixture sampler
        "warc_parse",             # r4: WARC codegen parse tier roundtrip
        "lm_perplexity",          # r4: relational bigram-LM CCNet stage
        "dup_spans",              # r4: substring-dedup spans (Lee et al.)
        "strip_dup_spans",        # r4: first-wins span removal transform
        "hll_cardinality",        # r4: portable HLL register summary
        "domain_stats",           # r4: per-source triage rollup
        "cohort_retention",       # r4: weekly cohort-retention matrix
        "containment_pairs",      # r4: Broder asymmetric near-dup
        "crawl_trap_stats",       # r4: per-host URL-template trap flag
        "source_kl",              # r4: per-source KL drift vs corpus
        "snapshot_diff",          # r4: added/removed/modified changelog
        "stream_attribution",     # r4: watermarked stream-stream join
        "recrawl_policy",         # r4: change-rate recrawl estimator
        "anchor_text",            # r4: anchor-text aggregation per target
        "frontier_priority",      # r4: inlink-scored priority queue
        "mirror_hosts",           # r4: Bharat–Broder mirror detection
        "cms_heavy_hitters",      # r4: Count-Min frequency sketch top-k
        "url_canonicalize",       # r4: RFC 3986 canon vs native SQL twin
        "focused_frontier",       # r4: anchor-relevance focused scoring
        "sessionize_native",      # r4: built-in session_window sessions
        "quantile_sketch",        # r4: mergeable binned-quantile family
        "resolve_redirects",      # r4: iterative oracle (pointer doubling)
        "host_health",            # r4: per-host circuit-breaker rollup
        "frontier_schedule",      # r5: composed round scheduler (gates+rank)
        "opic_priority",          # r5: unrolled-iteration OPIC twin
        "pagerank_scores",        # r5: unrolled-iteration PageRank twin
        "link_hits",              # r5: unrolled-iteration HITS twin
        "curation_disposition",   # r5: composed end-to-end pipeline twin
        "incremental_dedup",      # r5: union-subset identity twin
        "dedup_centrality",       # r5: labels + unrolled-pagerank argmax
        "robots_parse",           # r5: robotparser group machine as windows
        "ann_topk_blocked",       # r5: BLAS candidates + fold-exact verify
        "near_pairs_blocked",     # r5: block-pair BLAS + fold-exact verify
        "ann_ivf_sampled",        # r5: sampled-quantizer IVF, fully relational
        "semdedup_sampled",       # r5: relational SemDeDup, sampled quantizer
        "word_segment",           # r5: greedy matcher as recursive-CTE walk
        "dsir_sample",            # r5: DSIR importance resampling (Xie 2023)
        "warc_records",           # r5: byte-walk parser, writer-roundtrip twin
        "sessionize_stream",      # r5: exact-micros state, shares batch oracle
        "pmi_collocations",       # r5: Church & Hanks PMI top-k pairs
        "tfidf_keywords",         # r5: per-doc TF-IDF keyword extraction
        "winnow_fingerprints",    # r5: MOSS winnowing selected-set summary
        "c4_filters",             # r5: C4 cleaning rules over chunk lines
        "readability_scores",     # r5: Flesch / Flesch–Kincaid formulas
        "pack_chunks",            # r5: sequence-packing placement map
        "url_filter",             # r5: RefinedWeb URL triage dispositions
        "co_citation_pairs",      # r5: Small 1973 co-citation similarity
        "zipf_fit",               # r5: decimal-exact Zipf regression
        "bib_coupling_pairs",     # r5: Kessler 1963 coupling (transpose)
        "winnow_overlap_pairs",   # r5: MOSS matching via fp inverted index
        "winnow_incremental",     # r5: delta-vs-index MOSS, union-subset twin
    }


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


def _assert_matches_duckdb(spark, duck, name):
    df = _QS[name](spark, SF_DIR)
    scols = df.columns
    sdata = [tuple(r) for r in df.collect()]
    rel = duck.execute(_OS[name])
    ocols = [d[0] for d in rel.description]
    odata = rel.fetchall()
    assert sorted(scols) == sorted(ocols)
    assert len(sdata) == len(odata)
    assert frame_key(sdata, scols) == frame_key(odata, ocols)


@pytest.mark.parametrize("name", BEYOND_WINDOW)
def test_oracled_beyond_window_matches_duckdb(spark, duck, name):
    _assert_matches_duckdb(spark, duck, name)


@pytest.mark.parametrize("name", ["media_stats", "media_features"])
def test_media_gate_entries_match_duckdb(spark, duck, name):
    """The two media entries inside the 50-entry gate window against their
    DuckDB twins; both are plain Column expressions, so no plan runs Python."""
    plan = _QS[name](spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
    for marker in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython"):
        assert marker not in plan, marker
    _assert_matches_duckdb(spark, duck, name)
