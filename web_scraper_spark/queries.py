"""Driver-contract query registry: (spark callable, DuckDB oracle SQL) pairs.

Every implemented operator from SURVEY.md §2 plus the training-data
pipeline ops (dedup / similarity / text analysis / multimodal) registers
here; __spark_entry__.py re-exports. Column names and types are aliased
identically on both sides — the driver's compare sorts columns by name and
hashes values, so aliases ARE the contract.

Registry order is part of the driver contract: the gate value-checks the
FIRST 50 entries, so the 50 highest-value oracled queries come first;
oracled queries past the window and oracle-less rows-only queries
(stateful crawl rounds, LDA, BLAS float paths) follow, all verified by
tests/oracle_check.py + tests/test_oracle_replica.py / targeted pytest.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from web_scraper_spark.operators import analytics as an
from web_scraper_spark.operators import curation as cu
from web_scraper_spark.operators import incremental as inc
from web_scraper_spark.operators import collocations as colc
from web_scraper_spark.operators import tfidf as tfi
from web_scraper_spark.operators import dsir as dsr_mod
from web_scraper_spark.operators import winnow as winn
from web_scraper_spark.operators import c4 as c4_mod
from web_scraper_spark.operators import readability as readb
from web_scraper_spark.operators import packing as packg
from web_scraper_spark.operators import zipf as zp_mod
from web_scraper_spark.operators import lm as lmod
from web_scraper_spark.operators import dedup as dd
from web_scraper_spark.operators import multimodal as mm
from web_scraper_spark.frontier import sitemap as sm
from web_scraper_spark.frontier import linkgraph as lg
from web_scraper_spark.frontier import mirrors as mi
from web_scraper_spark.frontier import recrawl as rc
from web_scraper_spark.frontier import health as hl_mod
from web_scraper_spark.frontier import redirects as rd_mod
from web_scraper_spark.frontier import schedule as sch_mod
from web_scraper_spark.frontier import traps as tr
from web_scraper_spark.frontier import robots as rb_mod
from web_scraper_spark.frontier import urlfilter as uf_mod
from web_scraper_spark.frontier import cocitation as cc_mod
from web_scraper_spark.operators import graphalgo as ga_mod
from web_scraper_spark.sources import warc as wa
from web_scraper_spark.operators import phrase as ph
from web_scraper_spark.operators import search as se
from web_scraper_spark.operators import sketch as sko
from web_scraper_spark.operators import similarity as sim
from web_scraper_spark.urls import canon_url_sql
from web_scraper_spark.operators.text import (
    bpe_token_count,
    bpe_token_count_sql,
    cjk_ratio,
    cjk_ratio_sql,
    clean_text,
    clean_text_sql,
    fingerprint_columns,
    fingerprint_sql,
    lang_pred,
    lang_pred_sql,
    quality_columns,
    quality_sql,
    tokens,
    tokens_sql,
)

QueryFn = Callable[[SparkSession, str], DataFrame]


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------

def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting (whitespace + BPE-ish regex) per language."""
    docs = _docs(spark, sf_dir)
    tok = tokens(F.col("text"))
    return (
        docs.select(
            "lang",
            F.size(tok).cast("bigint").alias("ws_tokens"),
            bpe_token_count(F.col("text")).alias("bpe_tokens"),
        )
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("ws_tokens").cast("bigint").alias("total_ws_tokens"),
            F.sum("bpe_tokens").cast("bigint").alias("total_bpe_tokens"),
            F.round(F.avg("ws_tokens"), 4).alias("avg_ws_tokens"),
        )
    )


TOKEN_STATS_SQL = f"""
    SELECT lang,
           count(*) AS n_docs,
           sum(len({tokens_sql('text')}))::BIGINT AS total_ws_tokens,
           sum({bpe_token_count_sql('text')})::BIGINT AS total_bpe_tokens,
           round(avg(len({tokens_sql('text')})), 4) AS avg_ws_tokens
    FROM documents GROUP BY lang
"""


def q_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/Gopher-style quality features + composite score per doc."""
    docs = _docs(spark, sf_dir)
    cols = quality_columns("text")
    return docs.select("doc_id", *[v.alias(k) for k, v in cols.items()])


_qsql = quality_sql("text")
QUALITY_SCORES_SQL = (
    "SELECT doc_id, "
    + ", ".join(f"{v} AS {k}" for k, v in _qsql.items())
    + " FROM documents"
)


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic: confusion counts of label vs prediction."""
    docs = _docs(spark, sf_dir)
    tok = tokens(clean_text(F.col("text")))
    pred = lang_pred(tok, cjk_ratio(F.col("text")))
    return (
        docs.select("lang", pred.alias("lang_pred"))
        .groupBy("lang", "lang_pred")
        .agg(F.count("*").alias("n_docs"))
    )


LANG_ID_SQL = f"""
    SELECT lang,
           {lang_pred_sql(tokens_sql('text'), cjk_ratio_sql('text'))} AS lang_pred,
           count(*) AS n_docs
    FROM documents GROUP BY 1, 2
"""


def q_doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-hash + min/max shingle-hash fingerprints per doc."""
    docs = _docs(spark, sf_dir)
    cols = fingerprint_columns("text")
    return docs.select("doc_id", *[v.alias(k) for k, v in cols.items()])


_fsql = fingerprint_sql("text")
DOC_FINGERPRINTS_SQL = (
    "SELECT doc_id, "
    + ", ".join(f"{v} AS {k}" for k, v in _fsql.items())
    + " FROM documents"
)


# ---------------------------------------------------------------------------
# Corpus curation (decontamination / PII / repetition)
# ---------------------------------------------------------------------------

def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag corpus docs sharing any 8-gram with
    the held-out benchmark subset (broadcast gram join — see
    operators/curation.py)."""
    return cu.decontaminate(_docs(spark, sf_dir))


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Counted email/IP/phone redaction chain (pure codegen)."""
    return cu.pii_scrub(_docs(spark, sf_dir))


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals (one tagged explode, one shuffle)."""
    return cu.repetition_stats(_docs(spark, sf_dir))


def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style corpus-wide line dedup, first occurrence wins (one
    explode → one line-hash shuffle → one per-doc rollup)."""
    return cu.line_dedup(_docs(spark, sf_dir))


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified mixture sampler (integer quotas, hash-order
    per-stratum rank — the data-mixing stage of a training pipeline)."""
    return cu.stratified_sample(_docs(spark, sf_dir))


def q_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring-level dedup accounting (Lee et al. 2022): per-doc
    maximal token spans covered by a corpus-repeated 8-gram (gram-anchor
    formulation of the suffix-array recipe — see operators/curation.py)."""
    return cu.dup_spans(_docs(spark, sf_dir))


def q_domain_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RefinedWeb/C4-style per-source triage rollup: doc/token counts,
    decimal-exact mean quality, corpus-wide exact-dup rate, flag (see
    operators/curation.py::domain_stats)."""
    return cu.domain_stats(_docs(spark, sf_dir))


def q_source_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source unigram-distribution KL divergence vs the corpus — the
    domain-drift companion to domain_stats (see
    operators/curation.py::source_kl)."""
    return cu.source_kl(_docs(spark, sf_dir))


def q_link_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs & authorities (operators/graphalgo.py::hits) over the
    directed customer→supplier purchase graph (lineitem ⋈ orders) — the
    crawl-priority complement to dedup_centrality's PageRank.
    VALUE-EXACT oracled (r5, the unrolled-iteration recipe): the fixed
    4-iteration mutual-reinforcement loop + final L2 normalization
    unroll into graphalgo.hits_sql's CTE chain; this purchase graph has
    a wide spectral gap (residual ~3e-6 by iteration 4), and the
    normalized values are O(1/sqrt n) rounded at 6 dp, ~9 orders above
    the engines' summation-order drift. numpy-twin equality, partition
    invariance, and bipartite-star semantics stay asserted in
    tests/test_graphalgo.py."""
    from web_scraper_spark.operators import graphalgo as ga

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_suppkey"
    )
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_custkey"
    )
    edges = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("src"),
        F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("dst"),
    )
    # 4 fixed iterations: HITS converges geometrically in the spectral
    # gap of AᵀA and this bipartite graph's ranking is stable well
    # before that; the wall is per-iteration JOB constants at toy SF
    # (the dedup_centrality lesson), so the registered query keeps the
    # iteration count at the knee
    return ga.hits(edges, n_iter=4, round_dp=6)


def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-level snapshot diff (operators/incremental.py::
    snapshot_diff) between the documents table and a deterministic
    second snapshot derived from it: doc_id%97==0 removed, %89==0
    rewritten (appended revision marker), %101==0 respawned as new docs
    at doc_id+10_000_000. The SQL oracle synthesizes the identical v2,
    so the (doc_id, change) changelog is value-exact."""
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    kept = docs.where(F.col("doc_id") % 97 != 0)
    v2 = kept.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 89 == 0, F.concat(F.col("text"), F.lit(" [rev2]"))
        ).otherwise(F.col("text")).alias("text"),
    ).unionByName(
        docs.where(F.col("doc_id") % 101 == 0).select(
            (F.col("doc_id") + 10_000_000).alias("doc_id"),
            F.concat(F.lit("new page "), F.col("doc_id").cast("string")).alias("text"),
        )
    )
    return inc.snapshot_diff(docs, v2)


SNAPSHOT_V2_CTE = """
    SELECT doc_id,
           CASE WHEN doc_id % 89 = 0 THEN text || ' [rev2]' ELSE text END AS text
    FROM documents WHERE doc_id % 97 <> 0
    UNION ALL
    SELECT doc_id + 10000000 AS doc_id,
           'new page ' || CAST(doc_id AS VARCHAR) AS text
    FROM documents WHERE doc_id % 101 = 0
"""


def q_hll_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language HLL token-cardinality sketch: the exact integer
    register summary (m, v_zero, harmonic-sum numerator) — estimate,
    accuracy and shard-merge are pytest-asserted (tests/test_sketch.py,
    operators/sketch.py)."""
    return sko.hll_token_sketch(_docs(spark, sf_dir))


def q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min heavy hitters (operators/sketch.py::cms_topk, Cormode &
    Muthukrishnan 2005): top-20 corpus tokens by sketch estimate next to
    their exact counts — the mergeable point-frequency companion to
    hll_cardinality. Value-exact: both engines build the identical d×w
    integer counter table from the seeded hash60 family."""
    return sko.cms_topk(_docs(spark, sf_dir))


def q_strip_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lee et al. 2022 substring dedup as a transformation: rewrite each
    document with every duplicated span removed, corpus-first occurrence
    wins (accounting twin: dup_spans — see operators/curation.py)."""
    return cu.strip_dup_spans(_docs(spark, sf_dir))


def q_dedup_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical representative per near-dup cluster: PageRank the
    MinHash-LSH pair graph, keep each cluster's highest-centrality member
    (operators/graphalgo.py). VALUE-EXACT oracled (r5):
    graphalgo.cluster_representatives_sql composes the recursive
    min-reachable label CTE with the unrolled fixed-iteration pagerank
    twin over ONE materialized pair frame; ranks rounded at 6 dp (the
    proven pagerank_scores headroom), so the per-cluster argmax window
    ties identically on both engines. The equality-to-numpy power
    iteration stays asserted in tests/test_graphalgo.py."""
    from web_scraper_spark.operators import graphalgo as ga

    pairs = dd.minhash_lsh_pairs(_docs(spark, sf_dir), tau=0.4)
    # ONE materialization of the pair pipeline: the undirected edge frame
    # (eager localCheckpoint) feeds BOTH the label propagation and the
    # rank graph (r3 VERDICT item 1 — previously each built its own).
    edges = dd.undirected_edges(pairs)
    labels = dd.dedup_clusters(pairs, edges=edges)
    # 6 iterations: representative ORDER stabilizes far earlier than rank
    # values converge (the argmax is decided by degree structure within a
    # cluster); pagerank-value exactness keeps its own 10-iter numpy test
    return ga.cluster_representatives(
        pairs, labels, n_iter=6, edges=edges, round_dp=6
    )


def q_keyword_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive inverted-index search (terms pushed into the scan)."""
    return se.keyword_search(_docs(spark, sf_dir))


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 per query (decimal-summed term scores, rank by query)."""
    return se.bm25_topk(_docs(spark, sf_dir), k=10)


# one persisted index per (sf_dir): the corpus side is tokenized ONCE per
# session, every later invocation (gate + bench repeats) reads the parquet
# index — the exact production shape being modeled
_BM25_INDEX_MEMO: dict[str, str] = {}


def q_bm25_topk_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental BM25 (se.bm25_topk_incremental): docs with
    doc_id % 10 == 0 are the 'new batch'; the rest is the PERSISTED
    postings index (se.build_postings_index — tokenized once, parquet
    thereafter). Scores/ranks are value-identical to full-corpus
    bm25_topk, so the oracle is the plain bm25_topk_sql over all
    documents — a full value-exact DuckDB check of the merge path.
    Mirrors incremental_dedup's delta-vs-corpus split (dedup.
    delta_near_dups); zero-tokenization-over-corpus is plan-asserted in
    tests/test_search.py."""
    docs = _docs(spark, sf_dir)
    path = _BM25_INDEX_MEMO.get(sf_dir)
    if path is None:
        import tempfile

        path = tempfile.mkdtemp(prefix="bm25_index_")
        se.build_postings_index(docs.where(F.col("doc_id") % 10 != 0), path)
        _BM25_INDEX_MEMO[sf_dir] = path
    return se.bm25_topk_incremental(
        spark, path, docs.where(F.col("doc_id") % 10 == 0), k=10
    )


# ---------------------------------------------------------------------------
# Dedup tiers
# ---------------------------------------------------------------------------

def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dd.exact_dup_groups(_docs(spark, sf_dir))


def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signatures via the one-pass Arrow sketch (bit-identical to the
    expression form dd.minhash_signatures_arrays, whose SQL stays the
    oracle — same pattern as q_simhash)."""
    return dd.minhash_signatures_arrow(_docs(spark, sf_dir))


def q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dd.minhash_lsh_pairs(_docs(spark, sf_dir), tau=0.4)


def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard over HASHED postings: the shingle strings are
    hashed inside the one-pass Arrow sketch (dd.sketch_docs — the same
    pass MinHash rides), so the postings build skips the interpreted HOF
    shingle expression (~10× cheaper at sf0.1). Pair counts and jaccard
    values are identical to the string-postings form (hash60 collisions
    negligible; equality asserted in tests), so the string-based oracle
    stays value-exact."""
    postings = dd.sketch_docs(_docs(spark, sf_dir)).select(
        "doc_id", F.explode("shset").alias("shingle")
    )
    return dd.jaccard_pairs(postings, tau=0.4)


def q_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broder containment pairs (asymmetric near-dup: excerpt/quote
    inside a longer doc) over the same hashed postings the Jaccard tier
    rides — see operators/dedup.py::containment_pairs."""
    postings = dd.sketch_docs(_docs(spark, sf_dir)).select(
        "doc_id", F.explode("shset").alias("shingle")
    )
    return dd.containment_pairs(postings, tau=0.8)


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash signatures via the one-pass Arrow sketch (bit-identical to
    the expression form dd.simhash, whose SQL stays the oracle)."""
    return dd.simhash_arrow(_docs(spark, sf_dir))


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dd.simhash_near_pairs(dd.simhash_arrow(_docs(spark, sf_dir)), max_hamming=3)


def q_embedding_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine near-pairs via the blocked-BLAS candidate filter +
    fold-exact verify (similarity.near_pairs_exact_blocked) — value-exact
    against the brute-force all-pairs oracle, but no crossJoin and no
    per-pair interpreted fold (r1's 28 s scale-killer). The naive plan
    survives as dd.embedding_near_pairs (the oracle twin's shape)."""
    return sim.near_pairs_exact_blocked(_emb(spark, sf_dir), tau=0.28)


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the MinHash near-dup graph — iterative
    label propagation (driver fixpoint), oracled by a recursive CTE."""
    pairs = dd.minhash_lsh_pairs(_docs(spark, sf_dir), tau=0.4)
    return dd.dedup_clusters(pairs)


def q_corpus_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed training-corpus cleaning pipeline (C4-style):
    quality gate → near-dup removal (keep each cluster's min doc_id) →
    cleaned projection. One declarative plan across the tiers."""
    docs = _docs(spark, sf_dir)
    quality = quality_columns("text")
    pairs = dd.minhash_lsh_pairs(docs, tau=0.4)
    drop = dd.dedup_clusters(pairs).where(F.col("doc_id") != F.col("cluster_id")).select("doc_id")
    return (
        docs.select(
            "doc_id", "lang",
            quality["n_tokens"].alias("n_tokens"),
            quality["quality_score"].alias("quality_score"),
            clean_text(F.col("text")).alias("text_clean"),
        )
        .where(F.col("quality_score") >= 0.5)
        .join(drop, on="doc_id", how="left_anti")
    )


def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental delta-vs-corpus near-dup (dd.delta_near_dups): docs with
    doc_id % 10 == 0 are the 'new batch', the rest the persisted corpus —
    only the delta is ever sketched; the corpus side enters as its
    signature table. VALUE-EXACT oracled (r5): the operator's contract is
    the union-subset identity, so the registry twin is
    minhash_lsh_pairs_sql(documents) WHERE a delta doc participates;
    tests/test_incremental.py additionally asserts equality to the
    minhash_lsh_pairs(union) subset and an only-one-Arrow-pass plan
    shape."""
    docs = _docs(spark, sf_dir)
    corpus_sk = dd.sketch_docs(docs.where(F.col("doc_id") % 10 != 0)).localCheckpoint(
        eager=True
    )
    return dd.delta_near_dups(
        corpus_sk, docs.where(F.col("doc_id") % 10 == 0), tau=0.4
    ).orderBy("doc_a", "doc_b")


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------

def q_ann_brute_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sim.brute_topk(_emb(spark, sf_dir), n_queries=5, k=10)


def q_ann_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sim.lsh_ann_pairs(_emb(spark, sf_dir), tau=0.25, n_tables=2)


def q_ann_topk_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """numpy block-matmul exact top-k with fold-exact re-verify of the
    bounded candidate set — value-exact against the same DuckDB oracle as
    ann_brute_topk (brute_topk_sql); equality also asserted in tests."""
    return sim.brute_topk_blocked(_emb(spark, sf_dir), n_queries=5, k=10)


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (k-means coarse quantizer) approximate top-k — rows-only
    (Spark-ML fit); recall vs brute asserted in tests."""
    return sim.ivf_topk(_emb(spark, sf_dir), n_queries=5, k=10, n_cells=16, n_probe=4)


def q_ann_ivf_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-k with the hash-SAMPLED coarse quantizer (FAISS sampled-init
    form, zero Lloyd steps): centroids are exact corpus vectors chosen by
    hash60 rank, so the entire index build + probe is relational and
    value-exact DuckDB-oracled (similarity.ivf_sampled_topk_sql) — the
    oracled twin of the Lloyd-trained ann_ivf_topk, whose float centroid
    means are summation-order dependent. Recall vs brute and cross-engine
    equality asserted in tests."""
    return sim.ivf_sampled_topk(
        _emb(spark, sf_dir), n_queries=5, k=10, n_cells=16, n_probe=6
    )


def q_semdedup_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup under the hash-sampled quantizer — fully relational and
    value-exact DuckDB-oracled (similarity.semdedup_sampled_sql), the
    oracled twin of the Lloyd-trained q_semdedup. eps sits at the
    synthetic corpus's near-dup band (0.35, the near_pairs_blocked tau)
    so the prune actually fires: ~58 of 500 dropped at sf0.01."""
    return sim.semdedup_sampled(_emb(spark, sf_dir), n_cells=16, eps=0.35)


def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup: k-means the embeddings (the IVF quantizer fit, reused),
    then earlier-wins near-duplicate prune within each cluster — rows-only
    (ML fit + BLAS); numpy-twin equality + partition invariance asserted
    in tests/test_semdedup.py."""
    return sim.semdedup(_emb(spark, sf_dir), n_cells=16, eps=0.95)


def q_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet LM stage: add-k bigram perplexity per doc + head/middle/tail
    thirds — fully relational, so the trained-model stage is value-exact
    DuckDB-oracled (operators/lm.py)."""
    return lmod.lm_perplexity(_docs(spark, sf_dir))


def q_dsir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance resampling (Xie et al. 2023): hashed-ngram bucket
    models for target vs raw, per-doc log importance weight, Gumbel
    top-k selection — the bucket model is FIXED-SIZE (4096 rows) so at
    100 TB it broadcasts where lm_perplexity must shuffle-join. Value-
    exact DuckDB oracle (operators/dsir.py)."""
    return dsr_mod.dsir_sample(_docs(spark, sf_dir))


def q_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Church & Hanks PMI collocations: top-k adjacent word pairs by
    pointwise mutual information, min-count noise rule first — two
    vocabulary-sized count aggregates + co-partitioned joins (the
    lm_perplexity shape), two-phase global rank. Value-exact DuckDB
    oracle (operators/collocations.py)."""
    return colc.pmi_collocations(_docs(spark, sf_dir))


def q_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF keyword extraction: top-5 terms per document by
    tf·ln(N/df) — derives the keyword column the reference stores
    verbatim from page meta tags. One (doc_id, term) reduce, df over
    the reduced frame, doc-partitioned rank window. Value-exact DuckDB
    oracle (operators/tfidf.py)."""
    return tfi.tfidf_keywords(_docs(spark, sf_dir))


def q_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (MOSS) local fingerprints: sliding-window min over
    hashed word 4-grams, per-doc summary of the selected set (count +
    min/max + bit_xor fold). One explode of 8-byte gram hashes, one
    doc_id shuffle serving window + distinct + rollup. Value-exact
    DuckDB oracle (operators/winnow.py)."""
    return winn.winnow_fingerprints(_docs(spark, sf_dir))


def q_c4_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 cleaning rules (Raffel et al. 2020 §2.2) over synthesized
    12-token chunk lines: short-line / javascript line drops, badword /
    lorem-ipsum / curly-brace / few-lines page dispositions; terminal
    punctuation reported (the corpus is punctuation-free; the gating
    variant is planted-text tested). One struct-array explode + one
    doc_id rollup. Value-exact DuckDB oracle (operators/c4.py)."""
    return c4_mod.c4_filters(_docs(spark, sf_dir))


def q_readability_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch Reading Ease + Flesch–Kincaid grade per document
    (vowel-group syllable heuristic, sentence floor 1 on the
    punctuation-free corpus). Pure codegen scan, zero shuffles.
    Value-exact DuckDB oracle (operators/readability.py)."""
    return readb.readability_scores(_docs(spark, sf_dir))


def q_pack_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style concat-and-chunk sequence-packing placement map: each
    document's start offset in the global token stream (two-phase
    exclusive cumsum — never a single-partition window), first/last
    context-window pack touched, boundary-crossing flag. All integer
    arithmetic. Value-exact DuckDB oracle (operators/packing.py)."""
    return packg.pack_chunks(_docs(spark, sf_dir))


def _curation_final(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared sub-plan: every RELATIONAL curation stage composed in
    production order → (doc_id, lang, source, text, drop_reason), NULL
    drop_reason = kept in the final mix. `q_curation_disposition`
    projects this (value-exact oracled); `q_curation_pipeline` adds the
    trained-BPE token budget on top (rows-only).

        quality gate (C4 heuristics, score ≥ 0.55)
        → LM perplexity filter (drop the 'tail' third — CCNet)
        → exact dedup (content-hash keep-first)
        → near-dup removal (MinHash-LSH clusters, keep representative)
        → stratified language mixing (integer quotas)
        → BPE token budget for the surviving mix

    Cost profile: wall ≈ Σ of the individually-benched stages (~20 s at
    sf0.1 — LM fit 4.7 + LSH 1.8 + clusters 3.8 + stratified 2.7 + BPE
    train/encode ~5), NOT a multiple of them: the two multi-referenced
    frames are severed with eager localCheckpoint so no stage recomputes.
    """
    from pyspark.sql import Window

    from web_scraper_spark.operators.text import clean_text as _ct

    docs = _docs(spark, sf_dir)
    q = quality_columns("text")
    flags = docs.select(
        "doc_id", "lang", "source", "text", q["quality_score"].alias("qs")
    )

    lm_bucket = lmod.lm_perplexity(docs).select("doc_id", "bucket")

    hash_w = Window.partitionBy("chash")
    exact = docs.select(
        "doc_id", F.md5(F.lower(_ct(F.col("text")))).alias("chash")
    ).select(
        "doc_id",
        (F.col("doc_id") != F.min("doc_id").over(hash_w)).alias("exact_dup"),
    )

    near_drop = (
        dd.dedup_clusters(dd.minhash_lsh_pairs(docs, tau=0.4))
        .where(F.col("doc_id") != F.col("cluster_id"))
        .select("doc_id", F.lit(True).alias("near_dup"))
    )

    staged = (
        flags.join(lm_bucket, on="doc_id", how="left")
        .join(exact, on="doc_id")
        .join(near_drop, on="doc_id", how="left")
        .select(
            "doc_id", "lang", "source", "text",
            F.when(F.col("qs") < 0.55, "quality")
            .when(F.coalesce(F.col("bucket"), F.lit("tail")) == "tail", "lm_tail")
            .when(F.col("exact_dup"), "exact_dup")
            .when(F.coalesce(F.col("near_dup"), F.lit(False)), "near_dup")
            .alias("drop_reason"),
        )
        # referenced 3× downstream (survivors / final / final's self-join):
        # without severing, the LM-perplexity + LSH-cluster sub-plans
        # recompute per reference (29 s → ~8 s at sf0.1). Eager
        # localCheckpoint = RDD-scoped storage, freed by ContextCleaner.
        .localCheckpoint(eager=True)
    )
    survivors = staged.filter(F.col("drop_reason").isNull())
    sampled = cu.stratified_sample(survivors).select(
        "doc_id", F.lit(True).alias("in_mix")
    )
    final = staged.join(sampled, on="doc_id", how="left").select(
        "doc_id", "lang", "source", "text",
        F.coalesce(
            "drop_reason",
            F.when(~F.coalesce(F.col("in_mix"), F.lit(False)), "not_sampled"),
        ).alias("drop_reason"),
    ).localCheckpoint(eager=True)  # referenced twice (kept + result join)
    return final


def q_curation_disposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end curation DISPOSITION — every relational stage of
    the training-data pipeline composed in production order, value-exact
    oracled (r5): quality gate (<0.55) → CCNet LM-perplexity tail drop →
    exact dedup (content-hash keep-first) → MinHash-LSH near-dup removal
    → stratified language mixing. Output (doc_id, drop_reason), NULL =
    kept in the final mix.

    The DuckDB twin (CURATION_DISPOSITION_SQL) composes the SAME oracle
    bodies the individual stage queries use — lm_perplexity_sql,
    exact-dup window, dedup_clusters_sql(minhash_lsh_pairs_sql),
    stratified_sample_sql pointed at the survivors CTE — so the full
    pipeline precedence, not just each stage, is under the value-exact
    regime. Only the trained-BPE token budget stays rows-only (see
    q_curation_pipeline)."""
    return _curation_final(spark, sf_dir).select("doc_id", "drop_reason")


def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE full training-data pipeline as one DataFrame program — the
    composed disposition (see q_curation_disposition, value-exact
    oracled) plus the trained-BPE token budget for the surviving mix.

    Output: doc_id, drop_reason (first failing stage, NULL = kept),
    n_bpe_tokens (survivors only). Rows-only (composes the trained BPE
    tier); the relational prefix is oracled as curation_disposition and
    per-stage consistency vs the individual oracled queries is asserted
    in tests/test_curation_pipeline.py."""
    from web_scraper_spark.pipeline import bpe as _bpe

    final = _curation_final(spark, sf_dir)
    kept = final.filter(F.col("drop_reason").isNull()).select(
        "doc_id", "lang", "source", "text"
    )
    budget = _bpe.bpe_tokens(kept).select("doc_id", "n_bpe_tokens")
    return (
        final.join(budget, on="doc_id", how="left")
        .select("doc_id", "drop_reason", "n_bpe_tokens")
    )


def _curation_disposition_sql() -> str:
    """DuckDB twin of q_curation_disposition: the stage oracle bodies
    (each individually value-exact green) composed as subquery CTEs in
    the pipeline's production precedence. stratified_sample_sql's
    source is pointed at the survivors CTE — the one stage that runs on
    a filtered frame rather than the full corpus."""
    clusters = dd.dedup_clusters_sql(dd.minhash_lsh_pairs_sql("documents", tau=0.4))
    lm = lmod.lm_perplexity_sql()
    samp = cu.stratified_sample_sql(table="survivors")
    norm = f"lower({clean_text_sql('text')})"
    return f"""
        WITH flags AS (
            SELECT doc_id, lang, source, {_qsql["quality_score"]} AS qs
            FROM documents
        ),
        lmb AS (SELECT doc_id, bucket FROM ({lm}) lmq),
        ex AS (
            SELECT doc_id,
                   doc_id != min(doc_id) OVER (PARTITION BY md5({norm}))
                       AS exact_dup
            FROM documents
        ),
        near AS (
            SELECT doc_id FROM ({clusters}) cl WHERE doc_id != cluster_id
        ),
        staged AS (
            SELECT f.doc_id, f.lang, f.source,
                   CASE WHEN f.qs < 0.55 THEN 'quality'
                        WHEN coalesce(l.bucket, 'tail') = 'tail' THEN 'lm_tail'
                        WHEN e.exact_dup THEN 'exact_dup'
                        WHEN n.doc_id IS NOT NULL THEN 'near_dup'
                   END AS drop_reason
            FROM flags f
            JOIN ex e USING (doc_id)
            LEFT JOIN lmb l USING (doc_id)
            LEFT JOIN near n USING (doc_id)
        ),
        survivors AS (
            SELECT doc_id, lang, source FROM staged WHERE drop_reason IS NULL
        ),
        samp AS (SELECT doc_id FROM ({samp}) sq)
        SELECT s.doc_id,
               coalesce(s.drop_reason,
                        CASE WHEN m.doc_id IS NULL THEN 'not_sampled' END)
                   AS drop_reason
        FROM staged s LEFT JOIN samp m USING (doc_id)
    """


def q_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained BPE tokenizer: merges learned from the train split's
    word-frequency table (Sennrich recipe), applied in one Arrow pass —
    rows-only (trained model; roundtrip/determinism/hand-computed-merge
    tests in tests/test_bpe.py)."""
    from web_scraper_spark.pipeline.bpe import bpe_tokens

    return bpe_tokens(_docs(spark, sf_dir))


def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained quality filter (CCNet-style model stage): Spark ML logistic
    regression over codegen features, fit on clean-vs-corrupted twins,
    scoring the held-out split — rows-only (ML fit); held-out accuracy
    floors asserted in tests/test_quality_clf.py."""
    from web_scraper_spark.pipeline.quality_clf import quality_classifier

    return quality_classifier(_docs(spark, sf_dir))


def q_near_pairs_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked exact cosine pairs at a tighter threshold (tau 0.35) via
    the distributed block-pair plan — r1's version collected the whole
    corpus matrix to the driver (flagged as a scale-killer); this one
    ships per-block matrices executor-to-executor only. The stage-2
    fold re-verify makes values bit-identical to the all-pairs oracle
    (embedding_near_pairs_sql at tau 0.35) — value-exact oracled."""
    return sim.near_pairs_exact_blocked(_emb(spark, sf_dir), tau=0.35, n_blocks=8)


def q1_via_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL-API surface: identical TPC-H Q1 text through spark.sql
    (Catalyst produces the same plan as the DataFrame form)."""
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").createOrReplaceTempView("lineitem")
    # money sums go through DECIMAL(18,6) so summation order can never
    # flip a rounded penny (see operators.analytics.dec_sum)
    return spark.sql("""
        SELECT l_returnflag, l_linestatus,
               CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_base_price,
               CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_disc_price,
               CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_charge,
               round(CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) / count(l_quantity), 6) AS avg_qty,
               round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) / count(l_extendedprice), 6) AS avg_price,
               round(CAST(sum(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE) / count(l_discount), 6) AS avg_disc,
               count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= DATE '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
    """)


# ---------------------------------------------------------------------------
# Multimodal
# ---------------------------------------------------------------------------

def q_media_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from web_scraper_spark.operators.multimodal import media_stats

    return media_stats(spark, sf_dir)


def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from web_scraper_spark.operators.multimodal import media_features

    return media_features(spark, sf_dir)


MEDIA_FEATURES_SQL = (
    """
    WITH feats AS (
        SELECT doc_id AS media_id,
               ['image','audio','video'][(doc_id % 3 + 1)::INT] AS kind,
               list_transform(generate_series(0, 7),
                   i -> round((('0x' || substr(md5(text), i*2+1, 2))::INT) / 255.0, 6)) AS f
        FROM documents)
    SELECT kind, count(*) AS n_items, """
    + ", ".join(f"round(avg(f[{i + 1}]), 6) AS f{i}_mean" for i in range(8))
    + " FROM feats GROUP BY kind"
)


def q_keyword_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X14 (ConnectAndSave.py:139-150): packed keyword string → cleaned
    array via transform/filter HOFs → explode → counts. p_type plays the
    comma-less packed keyword column (split on space)."""
    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    arr = F.transform(F.split(F.col("p_type"), " "), lambda x: F.lower(F.trim(x)))
    cleaned = F.filter(arr, lambda x: (x != "") & (x != "null") & (x != "nan"))
    return (
        part.select(F.explode(cleaned).alias("keyword"))
        .groupBy("keyword")
        .agg(F.count("*").alias("n_parts"))
    )


KEYWORD_SPLIT_SQL = """
    SELECT keyword, count(*) AS n_parts
    FROM (
        SELECT unnest(list_filter(
            list_transform(string_split(p_type, ' '), x -> lower(trim(x))),
            x -> x != '' AND x != 'null' AND x != 'nan')) AS keyword
        FROM part
    )
    GROUP BY keyword
"""


def q_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction: JSON props column → typed field →
    aggregation (get_json_object stays JVM-side; at scale prefer
    from_json with an explicit schema for pushdown-friendly columns)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    k = F.get_json_object(F.col("props"), "$.k").cast("int")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("k").alias("n_with_k"),
            F.round(F.avg("k"), 4).alias("avg_k"),
            F.max("k").alias("max_k"),
        )
    )


JSON_PROPS_SQL = """
    SELECT event_type,
           count(k) AS n_with_k,
           round(avg(k), 4) AS avg_k,
           max(k) AS max_k
    FROM (
        SELECT event_type,
               TRY_CAST(json_extract_string(props, '$.k') AS INT) AS k
        FROM events
    )
    GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# Pipeline stages (E2/E3) + streaming
# ---------------------------------------------------------------------------

def q_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-sequence funnel per user (view → click → purchase, strictly
    increasing timestamps): per-user min-ts per stage with ordering
    constraints — one groupBy, no self-joins."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    stage_min = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view"),
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("t_click"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("t_buy"),
    )
    reached = (
        F.when(
            F.col("t_view").isNotNull()
            & F.col("t_click").isNotNull()
            & F.col("t_buy").isNotNull()
            & (F.col("t_view") < F.col("t_click"))
            & (F.col("t_click") < F.col("t_buy")),
            3,
        )
        .when(
            F.col("t_view").isNotNull()
            & F.col("t_click").isNotNull()
            & (F.col("t_view") < F.col("t_click")),
            2,
        )
        .when(F.col("t_view").isNotNull(), 1)
        .otherwise(0)
    )
    return (
        stage_min.select(reached.alias("funnel_stage"))
        .groupBy("funnel_stage")
        .agg(F.count("*").alias("n_users"))
    )


EVENT_FUNNEL_SQL = """
    WITH stage_min AS (
        SELECT user_id,
               min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
               min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
               min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_buy
        FROM events GROUP BY user_id
    )
    SELECT CASE
             WHEN t_view IS NOT NULL AND t_click IS NOT NULL AND t_buy IS NOT NULL
                  AND t_view < t_click AND t_click < t_buy THEN 3
             WHEN t_view IS NOT NULL AND t_click IS NOT NULL
                  AND t_view < t_click THEN 2
             WHEN t_view IS NOT NULL THEN 1
             ELSE 0 END AS funnel_stage,
           count(*) AS n_users
    FROM stage_min GROUP BY 1
"""


def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort-retention matrix over the event stream: each user's
    cohort is the ISO week (Monday-truncated) of their FIRST event;
    ``n_active`` counts distinct users from that cohort seen ``age_weeks``
    weeks later, ``retention`` their fraction of the cohort (age 0 is the
    cohort itself by construction, retention 1.0). The classic growth
    rollup the reference's analytics consumers run downstream of its
    event log (fetch/parse timestamps per URL in the crawl scripts'
    print-logging, e.g. CrawlPaperTuoiTre.py's per-article loop).

    Plan shape — built for billions of events: ONE shuffle on user_id
    with a map-side partial ``collect_set(week)`` (bounded: ≤ calendar
    weeks in the corpus window, so per-user state is tiny regardless of
    event volume), explode the per-user week set, then one
    map-side-combined groupBy on (cohort_week, age_weeks) — rows past
    the first exchange carry two dates, never events. Cohort sizes come
    from the age-0 rows of the SAME aggregate via a broadcast self-join
    (one row per cohort). Week arithmetic stays engine-portable: both
    engines truncate weeks to Monday, so the day difference is exactly
    divisible by 7 and the int cast can't round differently; retention
    is an integer-ratio double rounded to 6 dp (the dup_frac contract).
    """
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    per_user = (
        ev.select(
            "user_id",
            F.date_trunc("week", F.col("ts")).cast("date").alias("wk"),
        )
        .groupBy("user_id")
        .agg(
            F.min("wk").alias("cohort_week"),
            F.collect_set("wk").alias("weeks"),
        )
    )
    agg = (
        per_user.select(
            "cohort_week", F.explode("weeks").alias("wk")
        )
        .groupBy(
            "cohort_week",
            (F.datediff(F.col("wk"), F.col("cohort_week")) / 7)
            .cast("int")
            .alias("age_weeks"),
        )
        .agg(F.count("*").cast("bigint").alias("n_active"))
    )
    # agg is referenced twice (matrix + cohort sizes); without a sever the
    # sizes branch re-derives the whole sub-plan — a second full events
    # scan at scale. The frame is tiny (cohorts × ages rows), so an eager
    # RDD-scoped checkpoint pins it (CLAUDE.md multi-reference invariant).
    agg = agg.localCheckpoint(eager=True)
    sizes = agg.where(F.col("age_weeks") == 0).select(
        "cohort_week", F.col("n_active").alias("cohort_size")
    )
    return agg.join(F.broadcast(sizes), "cohort_week").select(
        "cohort_week",
        "age_weeks",
        "n_active",
        "cohort_size",
        F.round(
            F.col("n_active").cast("double") / F.col("cohort_size"), 6
        ).alias("retention"),
    )


COHORT_RETENTION_SQL = """
    WITH uw AS (
        SELECT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk
        FROM events GROUP BY 1, 2
    ),
    cu AS (
        SELECT wk, min(wk) OVER (PARTITION BY user_id) AS cohort_week
        FROM uw
    ),
    agg AS (
        SELECT cohort_week,
               CAST(datediff('day', cohort_week, wk) / 7 AS INT) AS age_weeks,
               count(*)::BIGINT AS n_active
        FROM cu GROUP BY 1, 2
    )
    SELECT a.cohort_week, a.age_weeks, a.n_active,
           c.n_active AS cohort_size,
           round(a.n_active::DOUBLE / c.n_active, 6) AS retention
    FROM agg a JOIN agg c
      ON a.cohort_week = c.cohort_week AND c.age_weeks = 0
"""


def q_crawl_trap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawler-trap detection (frontier/traps.py::trap_stats) over a
    deterministic synthetic frontier URL set derived from orders: 40
    hosts; two of them (custkey%40 ∈ {3,17}) serve a calendar trap
    (/cal/<day>/<hour> — one template, unbounded distinct URLs), the
    rest a bounded two-template catalog. The SQL oracle synthesizes the
    identical URLs, so host counts and the trap flag are value-exact."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    hostnum = (F.col("o_custkey") % 40).cast("string")
    trap_path = F.concat(
        F.lit("/cal/"),
        (F.col("o_orderkey") % 365).cast("string"),
        F.lit("/"),
        (F.col("o_orderkey") % 24).cast("string"),
    )
    normal_path = F.when(
        F.col("o_orderkey") % 2 == 0,
        F.concat(F.lit("/cat/"), (F.col("o_orderkey") % 8).cast("string"), F.lit("/page")),
    ).otherwise(
        F.concat(F.lit("/item/"), (F.col("o_orderkey") % 50).cast("string"))
    )
    url = F.concat(
        F.lit("https://h"),
        hostnum,
        F.lit(".example"),
        F.when((F.col("o_custkey") % 40).isin(3, 17), trap_path).otherwise(normal_path),
    )
    return tr.trap_stats(orders.select(url.alias("url")))


def q_recrawl_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cho–Garcia-Molina change-rate estimation (frontier/recrawl.py::
    change_rate) over a deterministic synthetic fetch history: 300 URLs
    (custkey mod), fetch_seq = orderkey, and a content hash that steps
    every K orderkeys with K varying per URL (100·(1 + custkey%50)) —
    small-K URLs change nearly every fetch (hot tier), large-K ones
    almost never (cold). The SQL oracle synthesizes the identical
    history, so rates and tiers are value-exact."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    url = F.concat(F.lit("u"), (F.col("o_custkey") % 300).cast("string"))
    k = 100 * (1 + F.col("o_custkey") % 50)
    version = F.floor(F.col("o_orderkey") / k).cast("bigint").cast("string")
    fetches = orders.select(
        url.alias("url"),
        F.col("o_orderkey").alias("fetch_seq"),
        F.md5(F.concat(url, F.lit(":"), version)).alias("content_hash"),
    )
    return rc.change_rate(fetches)


RECRAWL_FETCHES_CTE = """
    SELECT 'u' || CAST(o_custkey % 300 AS VARCHAR) AS url,
           o_orderkey AS fetch_seq,
           md5('u' || CAST(o_custkey % 300 AS VARCHAR) || ':'
               || CAST(CAST(FLOOR(o_orderkey
                       / (100 * (1 + o_custkey % 50))) AS BIGINT) AS VARCHAR))
               AS content_hash
    FROM orders
"""


TRAP_URLS_CTE = """
    SELECT 'https://h' || CAST(o_custkey % 40 AS VARCHAR) || '.example' ||
           CASE WHEN (o_custkey % 40) IN (3, 17)
                THEN '/cal/' || CAST(o_orderkey % 365 AS VARCHAR)
                     || '/' || CAST(o_orderkey % 24 AS VARCHAR)
                WHEN o_orderkey % 2 = 0
                THEN '/cat/' || CAST(o_orderkey % 8 AS VARCHAR) || '/page'
                ELSE '/item/' || CAST(o_orderkey % 50 AS VARCHAR)
           END AS url
    FROM orders
"""


def _synthetic_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hyperlink graph derived from lineitem: (src, dst,
    anchor). 30 hosts × 500 pages each; src keyed on (suppkey, partkey),
    dst on (partkey, orderkey), anchor text three vocabulary words. The
    SQL twin LINKS_CTE synthesizes the identical rows."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_partkey", "l_suppkey"
    )

    def url(host, page):
        return F.concat(
            F.lit("https://h"),
            host.cast("string"),
            F.lit(".example/p"),
            page.cast("string"),
        )

    return li.select(
        url(F.col("l_suppkey") % 30, F.col("l_partkey") % 500).alias("src"),
        url(F.col("l_partkey") % 30, F.col("l_orderkey") % 500).alias("dst"),
        F.concat(
            F.lit("w"),
            (F.col("l_partkey") % 40).cast("string"),
            F.lit(" w"),
            ((F.col("l_partkey") + 7) % 40).cast("string"),
            F.lit(" w"),
            (F.col("l_orderkey") % 40).cast("string"),
        ).alias("anchor"),
    )


LINKS_CTE = """
    SELECT 'https://h' || CAST(l_suppkey % 30 AS VARCHAR) || '.example/p'
               || CAST(l_partkey % 500 AS VARCHAR) AS src,
           'https://h' || CAST(l_partkey % 30 AS VARCHAR) || '.example/p'
               || CAST(l_orderkey % 500 AS VARCHAR) AS dst,
           'w' || CAST(l_partkey % 40 AS VARCHAR)
               || ' w' || CAST((l_partkey + 7) % 40 AS VARCHAR)
               || ' w' || CAST(l_orderkey % 40 AS VARCHAR) AS anchor
    FROM lineitem
"""


def q_anchor_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anchor-text aggregation (frontier/linkgraph.py::anchor_summary)
    over the deterministic synthetic link graph: per target URL, inlink
    count, distinct referring hosts, and the top-3 anchor terms — the
    Brin & Page §2.2 / Nutch AnchorIndexer signal the reference's
    listing-walk (`/root/reference/CrawlPaper_TuoiTre.py:60-118`) never
    aggregates. Value-exact: the SQL oracle synthesizes identical links."""
    from web_scraper_spark.frontier import linkgraph as lg

    return lg.anchor_summary(_synthetic_links(spark, sf_dir))


def q_frontier_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inlink-scored priority frontier queue (frontier/linkgraph.py::
    frontier_priority): frontier(url, depth) from orders, inlink evidence
    from the synthetic link graph, integer priority, and a TOTAL-ORDER
    queue position via the two-phase global rank (no single-task window —
    plan-asserted in tests/test_plans.py). The north-star's "priority
    frontier queue (depth + inlink score) materialized as sorted
    partitions", value-exact against a DuckDB global-window oracle."""
    from web_scraper_spark.frontier import linkgraph as lg

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    frontier = orders.select(
        F.concat(
            F.lit("https://h"),
            (F.col("o_custkey") % 30).cast("string"),
            F.lit(".example/p"),
            (F.col("o_orderkey") % 500).cast("string"),
        ).alias("url"),
        ((F.col("o_custkey") % 30 + F.col("o_orderkey") % 500) % 6)
        .cast("bigint")
        .alias("depth"),
    ).distinct()
    return lg.frontier_priority(frontier, _synthetic_links(spark, sf_dir))


FRONTIER_CTE = """
    SELECT DISTINCT
           'https://h' || CAST(o_custkey % 30 AS VARCHAR) || '.example/p'
               || CAST(o_orderkey % 500 AS VARCHAR) AS url,
           ((o_custkey % 30 + o_orderkey % 500) % 6)::BIGINT AS depth
    FROM orders
"""


def q_mirror_hosts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mirror-host detection (frontier/mirrors.py::mirror_pairs, Bharat &
    Broder 1999) over a deterministic synthetic host/path population: 40
    hosts in 20 families; partners h and h+20 share a family path space
    (J up to 1.0); hosts 0-3 additionally serve host-private ``/x/``
    paths, degrading their partner Jaccard toward the 0.5 threshold. The
    SQL oracle synthesizes the identical URLs, so intersection counts,
    set sizes, and Jaccard are value-exact."""
    from web_scraper_spark.frontier import mirrors as mi

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    host = (F.col("o_custkey") % 40).cast("string")
    extra = F.concat(
        F.lit("/x/"), host, F.lit("/"), (F.col("o_orderkey") % 6).cast("string")
    )
    normal = F.concat(
        F.lit("/d/"),
        (F.col("o_custkey") % 20).cast("string"),
        F.lit("-"),
        (F.col("o_orderkey") % 12).cast("string"),
    )
    url = F.concat(
        F.lit("https://m"),
        host,
        F.lit(".example"),
        F.when(
            ((F.col("o_custkey") % 40) < 4) & (F.col("o_orderkey") % 3 == 0), extra
        ).otherwise(normal),
    )
    return mi.mirror_pairs(orders.select(url.alias("url")))


MIRROR_URLS_CTE = """
    SELECT 'https://m' || CAST(o_custkey % 40 AS VARCHAR) || '.example' ||
           CASE WHEN (o_custkey % 40) < 4 AND o_orderkey % 3 = 0
                THEN '/x/' || CAST(o_custkey % 40 AS VARCHAR) || '/'
                     || CAST(o_orderkey % 6 AS VARCHAR)
                ELSE '/d/' || CAST(o_custkey % 20 AS VARCHAR) || '-'
                     || CAST(o_orderkey % 12 AS VARCHAR)
           END AS url
    FROM orders
"""


def q_host_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host fetch-health circuit breaker (frontier/health.py::
    host_health) over a deterministic synthetic fetch log: 50 hosts —
    hosts ≡7 (mod 10) time out 60% (suspended), hosts ≡3 serve 5xx 25%
    (degraded), the rest fail ~2% (healthy); a sparse 'tiny.example'
    host is all-errors but below the evidence floor at small SF. 4xx
    counts as served — only transport/server failures gate. Value-exact:
    exact integer counts, one IEEE ratio rounded 6 dp."""
    from web_scraper_spark.frontier import health as hl

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    h = F.col("o_custkey") % 50
    k = F.col("o_orderkey")
    status = (
        F.when((h % 10 == 7) & (k % 5 < 3), "timeout")
        .when((h % 10 == 3) & (k % 4 == 0), "http_5xx")
        .when(k % 50 == 0, "conn_refused")
        .when(k % 9 == 0, "http_404")
        .otherwise("crawled")
    )
    url = F.concat(
        F.lit("https://f"), h.cast("string"), F.lit(".example/p"), (k % 100).cast("string")
    )
    log = orders.select(url.alias("url"), status.alias("status")).unionByName(
        orders.where(k % 400 == 0).select(
            F.concat(F.lit("https://tiny.example/p"), (k % 7).cast("string")).alias(
                "url"
            ),
            F.lit("timeout").alias("status"),
        )
    )
    return hl.host_health(log)


FETCH_HEALTH_CTE = """
    SELECT 'https://f' || CAST(o_custkey % 50 AS VARCHAR) || '.example/p'
               || CAST(o_orderkey % 100 AS VARCHAR) AS url,
           CASE WHEN (o_custkey % 50) % 10 = 7 AND o_orderkey % 5 < 3
                THEN 'timeout'
                WHEN (o_custkey % 50) % 10 = 3 AND o_orderkey % 4 = 0
                THEN 'http_5xx'
                WHEN o_orderkey % 50 = 0 THEN 'conn_refused'
                WHEN o_orderkey % 9 = 0 THEN 'http_404'
                ELSE 'crawled' END AS status
    FROM orders
    UNION ALL
    SELECT 'https://tiny.example/p' || CAST(o_orderkey % 7 AS VARCHAR),
           'timeout'
    FROM orders WHERE o_orderkey % 400 = 0
"""


def q_resolve_redirects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redirect-chain resolution (frontier/redirects.py::resolve_redirects)
    over a deterministic synthetic redirect graph: 3000 URL slots in
    chains u4→u3→u2→u1→u0 (every id mod 5 ≠ 0 redirects one step down;
    multiples of 5 are terminal) plus one literal 2-cycle that must come
    back ``resolved = false``. The first ITERATIVE operator under the
    value-exact oracle regime: pointer doubling on the Spark side vs a
    bounded WITH RECURSIVE walk in DuckDB — terminal URLs and exact hop
    counts must match bit-for-bit."""
    from web_scraper_spark.frontier import redirects as rd

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    rid = F.col("o_orderkey") % 3000
    edges = (
        orders.where(rid % 5 != 0)
        .select(
            F.concat(F.lit("https://r.example/u"), rid.cast("string")).alias("src"),
            F.concat(F.lit("https://r.example/u"), (rid - 1).cast("string")).alias(
                "dst"
            ),
        )
        .distinct()
        .unionByName(
            spark.createDataFrame(
                [
                    ("https://c.example/a", "https://c.example/b"),
                    ("https://c.example/b", "https://c.example/a"),
                ],
                "src string, dst string",
            )
        )
    )
    return rd.resolve_redirects(edges)


REDIRECTS_CTE = """
    SELECT DISTINCT
           'https://r.example/u' || CAST(o_orderkey % 3000 AS VARCHAR) AS src,
           'https://r.example/u' || CAST(o_orderkey % 3000 - 1 AS VARCHAR) AS dst
    FROM orders WHERE (o_orderkey % 3000) % 5 <> 0
    UNION ALL SELECT 'https://c.example/a', 'https://c.example/b'
    UNION ALL SELECT 'https://c.example/b', 'https://c.example/a'
"""


def q_frontier_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed frontier-round scheduler (frontier/schedule.py::
    frontier_schedule): redirect resolution, per-host health gating,
    per-template trap budgets, recrawl cadence, and inlink priority in
    ONE selection plan — the r4 verdict's #2 task. All five signal
    families are synthesized deterministically in the SAME URL space
    (hosts h0-h29, pages p0-p499, the _synthetic_links graph's dst
    space) so the gates actually engage: pages p≡7,8,9 (mod 10)
    redirect down-chain (aliases collapse onto p≡6), one literal 2-cycle
    URL must be dropped as unresolvable, hosts ≡7 (mod 10) trip the
    suspension circuit breaker and ≡3 the degraded tier, host h5 serves
    a calendar trap (/cal/D/H — one URL template exceeding the 600-URL
    budget; the /pN template stays under it), and per-URL fetch
    histories defer cold pages / boost hot ones. Value-exact: every
    stage reuses its component operator's oracle body; priorities are
    exact integer arithmetic; the twin SQL synthesizes identical rows."""
    from web_scraper_spark.frontier import schedule as sch

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    h = (F.col("o_custkey") % 30).cast("string")
    p = F.col("o_orderkey") % 500

    def url(host_s, page_c):
        return F.concat(
            F.lit("https://h"), host_s, F.lit(".example/p"), page_c.cast("string")
        )

    frontier = (
        orders.select(
            url(h, p).alias("url"),
            ((F.col("o_custkey") % 30 + p) % 6).cast("bigint").alias("depth"),
        )
        .distinct()
        .unionByName(
            orders.select(
                F.concat(
                    F.lit("https://h5.example/cal/"),
                    (F.col("o_orderkey") % 365).cast("string"),
                    F.lit("/"),
                    (F.col("o_orderkey") % 24).cast("string"),
                ).alias("url"),
                F.lit(1).cast("bigint").alias("depth"),
            ).distinct()
        )
        .unionByName(
            spark.createDataFrame(
                [("https://h1.example/pc1", 0)], "url string, depth bigint"
            )
        )
    )
    redirects = (
        orders.where((p % 10).isin(7, 8, 9))
        .select(url(h, p).alias("src"), url(h, p - 1).alias("dst"))
        .distinct()
        .unionByName(
            spark.createDataFrame(
                [
                    ("https://h1.example/pc1", "https://h1.example/pc2"),
                    ("https://h1.example/pc2", "https://h1.example/pc1"),
                ],
                "src string, dst string",
            )
        )
    )
    hmod = (F.col("o_custkey") % 30) % 10
    k = F.col("o_orderkey")
    fetch_log = orders.select(
        url(h, k % 100).alias("url"),
        F.when((hmod == 7) & (k % 5 < 3), "timeout")
        .when((hmod == 3) & (k % 4 == 0), "http_5xx")
        .when(k % 50 == 0, "conn_refused")
        .when(k % 9 == 0, "http_404")
        .otherwise("crawled")
        .alias("status"),
    )
    kk = 1000 * (1 + F.col("o_custkey") % 50)
    hist_url = url(h, F.col("o_custkey") % 500)
    fetch_history = orders.select(
        hist_url.alias("url"),
        k.alias("fetch_seq"),
        F.md5(
            F.concat(
                hist_url,
                F.lit(":"),
                F.floor(k / kk).cast("bigint").cast("string"),
            )
        ).alias("content_hash"),
    )
    links = _synthetic_links(spark, sf_dir)
    return sch.frontier_schedule(
        frontier, links, redirects, fetch_log, fetch_history, template_cap=600
    )


SCHEDULE_FRONTIER_CTE = """
    SELECT DISTINCT
           'https://h' || CAST(o_custkey % 30 AS VARCHAR) || '.example/p'
               || CAST(o_orderkey % 500 AS VARCHAR) AS url,
           ((o_custkey % 30 + o_orderkey % 500) % 6)::BIGINT AS depth
    FROM orders
    UNION ALL
    SELECT DISTINCT
           'https://h5.example/cal/' || CAST(o_orderkey % 365 AS VARCHAR)
               || '/' || CAST(o_orderkey % 24 AS VARCHAR) AS url,
           1::BIGINT AS depth
    FROM orders
    UNION ALL SELECT 'https://h1.example/pc1', 0::BIGINT
"""

SCHEDULE_REDIRECTS_CTE = """
    SELECT DISTINCT
           'https://h' || CAST(o_custkey % 30 AS VARCHAR) || '.example/p'
               || CAST(o_orderkey % 500 AS VARCHAR) AS src,
           'https://h' || CAST(o_custkey % 30 AS VARCHAR) || '.example/p'
               || CAST(o_orderkey % 500 - 1 AS VARCHAR) AS dst
    FROM orders WHERE (o_orderkey % 500) % 10 IN (7, 8, 9)
    UNION ALL SELECT 'https://h1.example/pc1', 'https://h1.example/pc2'
    UNION ALL SELECT 'https://h1.example/pc2', 'https://h1.example/pc1'
"""

SCHEDULE_FETCH_LOG_CTE = """
    SELECT 'https://h' || CAST(o_custkey % 30 AS VARCHAR) || '.example/p'
               || CAST(o_orderkey % 100 AS VARCHAR) AS url,
           CASE WHEN (o_custkey % 30) % 10 = 7 AND o_orderkey % 5 < 3
                THEN 'timeout'
                WHEN (o_custkey % 30) % 10 = 3 AND o_orderkey % 4 = 0
                THEN 'http_5xx'
                WHEN o_orderkey % 50 = 0 THEN 'conn_refused'
                WHEN o_orderkey % 9 = 0 THEN 'http_404'
                ELSE 'crawled' END AS status
    FROM orders
"""

SCHEDULE_HISTORY_CTE = """
    SELECT 'https://h' || CAST(o_custkey % 30 AS VARCHAR) || '.example/p'
               || CAST(o_custkey % 500 AS VARCHAR) AS url,
           o_orderkey AS fetch_seq,
           md5('https://h' || CAST(o_custkey % 30 AS VARCHAR) || '.example/p'
               || CAST(o_custkey % 500 AS VARCHAR) || ':'
               || CAST(CAST(FLOOR(o_orderkey
                       / (1000 * (1 + o_custkey % 50))) AS BIGINT) AS VARCHAR))
               AS content_hash
    FROM orders
"""


def q_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binned quantile sketch (operators/sketch.py::binned_quantiles) —
    the third mergeable-sketch family next to hll_cardinality and
    cms_heavy_hitters: per-lang quality-score quantiles off a fixed-size
    integer histogram (merge = cell-wise sum; quantile rule pure integer
    arithmetic; bin edges exact DECIMAL). Value-exact across engines by
    construction — the exact-percentile twin quality_percentiles bounds
    its quantization error in tests/test_sketch.py."""
    return sko.binned_quantiles(_docs(spark, sf_dir))


def q_sessionize_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's NATIVE ``session_window`` (dynamic-gap session aggregation,
    the built-in alternative to the custom lag+cumsum batch sessionizer
    and the applyInPandasWithState stream): one groupBy, merge-on-overlap
    semantics. Boundary convention differs from streaming/sessionize.py
    at exactly-gap spacing — session_window windows are half-open
    ``[ts, ts+gap)``, so a successor at precisely +gap starts a NEW
    session (the custom tier keeps it); the DuckDB twin mirrors ``>=``.
    session_end is the native window end = last event + gap."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (
        ev.groupBy(
            F.session_window("ts", "30 minutes").alias("w"), "user_id"
        )
        .agg(F.count("*").cast("bigint").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


SESSIONIZE_NATIVE_ORACLE = """
    WITH marked AS (
        SELECT user_id, ts, event_id,
               CASE WHEN epoch(ts) - epoch(lag(ts) OVER
                         (PARTITION BY user_id ORDER BY ts, event_id))
                         >= 1800
                    THEN 1 ELSE 0 END AS boundary
        FROM events
    ),
    with_sess AS (
        SELECT user_id, ts,
               sum(boundary) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS UNBOUNDED PRECEDING) AS session_id
        FROM marked
    )
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) + INTERVAL 30 MINUTE AS session_end,
           count(*)::BIGINT AS n_events
    FROM with_sess GROUP BY user_id, session_id
"""


def q_opic_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPIC adaptive page importance (operators/graphalgo.py::opic,
    Abiteboul–Preda–Cobena WWW 2003) over the synthetic link graph —
    the anytime crawl-ordering estimator (cash/history, usable
    mid-crawl) next to frontier_priority's inlink count and
    dedup_centrality's PageRank. VALUE-EXACT oracled (r5, the
    resolve_redirects recipe extended to power iteration): the fixed
    6-iteration loop unrolls into a DuckDB CTE chain
    (graphalgo.opic_sql), per-step dangling-cash scalars restated as
    scalar subqueries; scores rounded to 6 dp — values are O(1/n)
    ≈ 7e-5 while the engines' summation-order drift is ~1e-15, so the
    rounding sits ~9 orders above the noise (the source_kl argument).
    numpy-twin equality / partition invariance / anytime-ranking stay
    asserted in tests/test_graphalgo.py. 6 iterations: the RANKING
    stabilizes at the knee; per-iteration job constants dominate toy SF
    (the dedup_centrality lesson)."""
    from web_scraper_spark.operators import graphalgo as ga

    links = _synthetic_links(spark, sf_dir).select("src", "dst")
    return ga.opic(links, n_iter=6, round_dp=6)


def q_pagerank_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plain PageRank (Brin & Page 1998; operators/graphalgo.py::
    pagerank) over the synthetic link graph — the global-importance
    complement to OPIC's anytime estimate, the same operator
    dedup_centrality runs on the near-dup pair graph. VALUE-EXACT
    oracled (r5): the fixed 6-iteration power loop unrolls into the
    DuckDB CTE chain of graphalgo.pagerank_sql, teleport + dangling
    redistribution restated per step, 6-dp rounding (see
    q_opic_priority for the precision argument)."""
    from web_scraper_spark.operators import graphalgo as ga

    links = _synthetic_links(spark, sf_dir).select("src", "dst")
    return ga.pagerank(links, n_iter=6, round_dp=6)


def q_focused_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Focused-crawl frontier scoring (Chakrabarti, van den Berg & Dom
    1999): target URLs scored by the topic relevance of their INBOUND
    anchor text — a broadcast topic-lexicon join over the anchor term
    stream, decimal-summed weights so the score is value-exact across
    engines/partitionings. The deterministic lexicon weights terms
    w0..w9 at (10−i)/10; output is (url, n_hits, relevance) for every
    target at least one lexicon term points at."""
    links = _synthetic_links(spark, sf_dir)
    lex = spark.range(10).select(
        F.concat(F.lit("w"), F.col("id").cast("string")).alias("term"),
        ((F.lit(10) - F.col("id")) / F.lit(10.0)).alias("w"),
    )
    terms = links.select("dst", F.explode(tokens(F.col("anchor"))).alias("term"))
    return (
        terms.join(F.broadcast(lex), "term")
        .groupBy("dst")
        .agg(
            F.count("*").cast("bigint").alias("n_hits"),
            an.dec_sum(F.col("w")).alias("relevance"),
        )
        .select(F.col("dst").alias("url"), "n_hits", "relevance")
    )


FOCUSED_ORACLE = f"""
    WITH links AS ({{links}}),
    lex AS (
        SELECT 'w' || CAST(i AS VARCHAR) AS term, (10 - i) / 10.0 AS w
        FROM range(10) t(i)
    ),
    terms AS (
        SELECT dst, unnest({{tok}}) AS term FROM links
    )
    SELECT dst AS url, count(*)::BIGINT AS n_hits,
           {an.dec_sum_sql('w')} AS relevance
    FROM terms JOIN lex USING (term)
    GROUP BY 1
"""


def q_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFC 3986 URL canonicalization (urls.py::with_canon — the north
    rule's normalize step ahead of the xxhash64 seen-set) over a
    deterministic synthetic URL population exercising every rule:
    scheme/host case-fold, default-port strip (:80/:443, non-default
    kept), fragment strip, duplicate-slash collapse, empty-path → '/',
    query preservation, percent escapes (unreserved decoded, others
    upper-cased, stray '%' kept, in path and query) and non-absolute
    passthrough. The whole chain is native Catalyst, no Python stage; the
    oracle runs urls.canon_url_sql, its regexp-for-regexp DuckDB twin."""
    from web_scraper_spark.urls import with_canon

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    h = (F.col("o_custkey") % 20).cast("string")
    k = (F.col("o_orderkey") % 50).cast("string")
    case = F.col("o_orderkey") % 9
    url = (
        F.when(case == 0, F.concat(F.lit("http://site"), h, F.lit(".example/p/"), k))
        .when(case == 1, F.concat(F.lit("HTTP://SITE"), h, F.lit(".EXAMPLE/P/"), k))
        .when(case == 2, F.concat(F.lit("http://site"), h, F.lit(".example:80/p/"), k))
        .when(case == 3, F.concat(F.lit("https://site"), h, F.lit(".example:443/p/"), k))
        .when(case == 4, F.concat(F.lit("https://site"), h, F.lit(".example:8443/p/"), k))
        .when(case == 5, F.concat(F.lit("http://site"), h, F.lit(".example")))
        .when(case == 6, F.concat(F.lit("http://site"), h, F.lit(".example//a//"), k, F.lit("?q=1#frag")))
        .when(case == 7, F.concat(F.lit("https://site"), h, F.lit(".example/%7e"), k, F.lit("/%2f%c3%a9%zz%%41%2541?q=%7E%20#%41")))
        .otherwise(F.concat(F.lit("relative/p/"), k))
    )
    return with_canon(orders.select(url.alias("url"))).distinct()


CANON_URLS_CTE = """
    SELECT CASE o_orderkey % 9
             WHEN 0 THEN 'http://site' || CAST(o_custkey % 20 AS VARCHAR)
                        || '.example/p/' || CAST(o_orderkey % 50 AS VARCHAR)
             WHEN 1 THEN 'HTTP://SITE' || CAST(o_custkey % 20 AS VARCHAR)
                        || '.EXAMPLE/P/' || CAST(o_orderkey % 50 AS VARCHAR)
             WHEN 2 THEN 'http://site' || CAST(o_custkey % 20 AS VARCHAR)
                        || '.example:80/p/' || CAST(o_orderkey % 50 AS VARCHAR)
             WHEN 3 THEN 'https://site' || CAST(o_custkey % 20 AS VARCHAR)
                        || '.example:443/p/' || CAST(o_orderkey % 50 AS VARCHAR)
             WHEN 4 THEN 'https://site' || CAST(o_custkey % 20 AS VARCHAR)
                        || '.example:8443/p/' || CAST(o_orderkey % 50 AS VARCHAR)
             WHEN 5 THEN 'http://site' || CAST(o_custkey % 20 AS VARCHAR)
                        || '.example'
             WHEN 6 THEN 'http://site' || CAST(o_custkey % 20 AS VARCHAR)
                        || '.example//a//' || CAST(o_orderkey % 50 AS VARCHAR)
                        || '?q=1#frag'
             WHEN 7 THEN 'https://site' || CAST(o_custkey % 20 AS VARCHAR)
                        || '.example/%7e' || CAST(o_orderkey % 50 AS VARCHAR)
                        || '/%2f%c3%a9%zz%%41%2541?q=%7E%20#%41'
             ELSE 'relative/p/' || CAST(o_orderkey % 50 AS VARCHAR)
           END AS url
    FROM orders
"""

# word pool / extension schedule for the url_filter population: indices
# derive from lineitem integers so the SQL CTE can build IDENTICAL urls
_UF_WORDS = [
    "casino", "stream", "video", "download", "free", "online",
    "news", "sports", "tech", "travel", "shop", "blog",
]
_UF_EXTS = ["html", "html", "jpg", "mp3", ""]


def _synthetic_filter_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic URL population for url_filter: hosts h0-h7 (h0-h2
    blocklisted), path words drawn from _UF_WORDS by l_partkey (covering
    hard drops like 'casino', threshold sums like 'stream'+'video', and
    benign combos), extensions by l_orderkey incl. media types."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_partkey", "l_suppkey"
    )
    words = F.array(*[F.lit(x) for x in _UF_WORDS])
    exts = F.array(*[F.lit(x) for x in _UF_EXTS])
    w1 = F.element_at(words, (F.col("l_partkey") % 12 + 1).cast("int"))
    w2 = F.element_at(words, ((F.col("l_partkey") + 5) % 12 + 1).cast("int"))
    e = F.element_at(exts, (F.col("l_orderkey") % 5 + 1).cast("int"))
    url = F.concat(
        F.lit("https://h"),
        (F.col("l_suppkey") % 8).cast("string"),
        F.lit(".example/"),
        w1,
        F.lit("/"),
        w2,
        F.lit("-"),
        (F.col("l_partkey") % 100).cast("string"),
        F.when(e == "", F.lit("")).otherwise(F.concat(F.lit("."), e)),
    )
    return li.select(url.alias("url")).distinct()


FILTER_URLS_CTE = f"""
    SELECT DISTINCT
           'https://h' || CAST(l_suppkey % 8 AS VARCHAR) || '.example/'
           || ({_UF_WORDS!r}[(l_partkey % 12) + 1])
           || '/' || ({_UF_WORDS!r}[((l_partkey + 5) % 12) + 1])
           || '-' || CAST(l_partkey % 100 AS VARCHAR)
           || (CASE WHEN ({_UF_EXTS!r}[(l_orderkey % 5) + 1]) = '' THEN ''
                    ELSE '.' || ({_UF_EXTS!r}[(l_orderkey % 5) + 1]) END)
               AS url
    FROM lineitem
"""


def q_url_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RefinedWeb-style URL filtering before fetch (frontier/
    urlfilter.py — Penedo et al. 2023 §3.1): exact domain blocklist,
    media-extension exclusion, and the soft weighted word score with a
    drop threshold, first-matching-rule precedence. Pure codegen scan
    over a deterministic synthetic URL population; the oracle builds
    identical URLs. Value-exact DuckDB oracle."""
    return uf_mod.url_filter(_synthetic_filter_urls(spark, sf_dir))


def q_co_citation_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-citation link similarity (frontier/cocitation.py — Small 1973):
    target pairs co-cited by >= 2 common sources over the deterministic
    synthetic link graph, pair formation via the capped inverted index
    (per-source fanout cap in dst order, oracle-mirrored — never a
    crossJoin). Value-exact DuckDB oracle over identical links."""
    return cc_mod.co_citation(_synthetic_links(spark, sf_dir))


def q_winnow_overlap_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MOSS matching step (operators/winnow.py): document pairs
    sharing >= 2 selected winnowing fingerprints — local-overlap
    near-dup detection (a copied >= k+w-1-token passage forces a shared
    fingerprint). Boilerplate fps dropped by the max-df rule BEFORE the
    inverted-index self-join (cap oracle-mirrored). Value-exact DuckDB
    oracle."""
    return winn.winnow_overlap_pairs(_docs(spark, sf_dir))


def q_winnow_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MOSS matching (winn.winnow_overlap_incremental): docs
    with doc_id % 10 == 0 are the new batch, the rest the persisted
    fingerprint index — the corpus is never re-fingerprinted (zero
    Generates in the match plan, plan-asserted). VALUE-EXACT oracled via
    the union-subset identity: winnow_overlap_pairs over ALL documents
    restricted to delta-involving pairs (the incremental_dedup
    recipe)."""
    docs = _docs(spark, sf_dir)
    corpus_fps = winn.build_winnow_index(
        docs.where(F.col("doc_id") % 10 != 0)
    ).localCheckpoint(eager=True)
    return winn.winnow_overlap_incremental(
        corpus_fps, docs.where(F.col("doc_id") % 10 == 0)
    )


def q_bib_coupling_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bibliographic coupling (frontier/cocitation.py — Kessler 1963):
    source pairs sharing >= 2 linked targets — co-citation on the
    transposed graph, same capped inverted index (the cap bounding hot
    TARGETS' indegree). Value-exact DuckDB oracle over identical
    links."""
    return cc_mod.bib_coupling(_synthetic_links(spark, sf_dir))


def q_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language Zipf-law fit (operators/zipf.py — Zipf 1949): the
    least-squares slope/intercept over (ln rank, ln freq), every float
    sum an order-independent DECIMAL(18,6) fold of 6-dp-rounded terms
    (the dec_sum money discipline applied to regression — partial
    aggregation can never move the result). Value-exact DuckDB
    oracle."""
    return zp_mod.zipf_fit(_docs(spark, sf_dir))


def q_quality_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles of the quality score per language
    (the corpus-threshold calibration query a cleaning pipeline runs
    before picking its cut)."""
    docs = _docs(spark, sf_dir)
    score = quality_columns("text")["quality_score"]
    scored = docs.select("lang", score.alias("q"))
    return scored.groupBy("lang").agg(
        F.round(F.expr("percentile(q, 0.25)"), 6).alias("p25"),
        F.round(F.expr("percentile(q, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(q, 0.9)"), 6).alias("p90"),
        F.count("*").alias("n_docs"),
    )


QUALITY_PERCENTILES_SQL = f"""
    WITH scored AS (SELECT lang, {_qsql["quality_score"]} AS q FROM documents)
    SELECT lang,
           round(quantile_cont(q, 0.25), 6) AS p25,
           round(quantile_cont(q, 0.5), 6) AS p50,
           round(quantile_cont(q, 0.9), 6) AS p90,
           count(*) AS n_docs
    FROM scored GROUP BY lang
"""


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (events ⟗asof orders on user_id=o_custkey, latest order
    at-or-before the event): Spark composition (union + keyed window
    carry-forward, one shuffle) vs DuckDB's native ASOF JOIN oracle.
    Aggregated per (event_type, matched order status) to keep the result
    compact."""
    from web_scraper_spark.operators.asof import asof_join

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "user_id", "ts", "event_type"
    )
    # right side reduced to ONE row per (key, ts): asof with duplicate
    # right timestamps is ambiguous in any engine — the reduction makes
    # both formulations deterministic
    orders = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .groupBy(
            F.col("o_custkey").alias("user_id"), "o_orderdate"
        )
        .agg(
            F.max("o_orderstatus").alias("o_orderstatus"),
            F.round(F.max("o_totalprice"), 2).alias("o_totalprice"),
        )
    )
    joined = asof_join(
        ev, orders, key="user_id", left_ts="ts", right_ts="o_orderdate",
        payload_cols=["o_orderstatus", "o_totalprice"],
    )
    return (
        joined.groupBy("event_type", F.col("o_orderstatus").alias("order_status"))
        .agg(
            F.count("*").alias("n_events"),
            an.dec_sum(F.col("o_totalprice")).alias("sum_price"),
        )
    )


ASOF_JOIN_SQL = """
    WITH o AS (
        SELECT o_custkey AS user_id, o_orderdate,
               max(o_orderstatus) AS o_orderstatus,
               round(max(o_totalprice), 2) AS o_totalprice
        FROM orders GROUP BY 1, 2
    ),
    j AS (
        SELECT e.event_type, o.o_orderstatus AS order_status, o.o_totalprice
        FROM events e
        ASOF LEFT JOIN o
          ON e.user_id = o.user_id AND e.ts >= o.o_orderdate
    )
    SELECT event_type, order_status,
           count(*) AS n_events,
           round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2)::DOUBLE AS sum_price
    FROM j GROUP BY 1, 2
"""


def q_deep_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X9 10-step clean chain (native; NFC UDF off for the ASCII corpus)."""
    from web_scraper_spark.pipeline.articles import deep_clean

    return _docs(spark, sf_dir).select("doc_id", deep_clean(F.col("text")).alias("text_clean"))


def _deep_clean_sql() -> str:
    from web_scraper_spark.pipeline.articles import deep_clean_sql

    return f"SELECT doc_id, {deep_clean_sql('text')} AS text_clean FROM documents"


def q_sentence_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X10 sentence split + F12 length gate, position-preserving."""
    from web_scraper_spark.pipeline.entities import split_sentences

    return _docs(spark, sf_dir).select(
        "doc_id",
        F.posexplode(split_sentences(F.col("text"))).alias("sentence_pos", "sentence"),
    )


def _sentence_split_sql() -> str:
    from web_scraper_spark.pipeline.entities import split_sentences_sql

    sents = split_sentences_sql("text")
    return f"""
        WITH s AS (SELECT doc_id, {sents} AS sents FROM documents)
        SELECT doc_id, (i - 1)::INT AS sentence_pos, sents[i] AS sentence
        FROM s, unnest(generate_series(1, len(sents))) AS g(i)
    """


def q_relation_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3 stage 3: sentence-grouped entity pairs → hybrid classify →
    first-writer-wins typed edges. Documents play articles (one sentence =
    the full text, tokens = entities)."""
    from web_scraper_spark.operators.text import clean_text, tokens
    from web_scraper_spark.pipeline.relations import extract_relations

    docs = _docs(spark, sf_dir)
    doc_sentences = docs.select(
        F.col("doc_id").alias("article_id"),
        F.col("text").alias("sentence"),
        F.explode(tokens(clean_text(F.col("text")))).alias("entity"),
    ).where(F.length("entity") >= 4)
    return extract_relations(doc_sentences)


def q_relation_extract_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """relation_extract at production vocab scale: the same E3 stage-3
    plan driven by the full-size 19-type × ~1,120-phrase synthetic
    vocabulary (functions.vocab.synth_vocab) — one compiled Java-regex
    alternation per type (largest: 226 phrases), exactly the shape of the
    reference's relation_vocab.json (relation_extraction.py:181-184)."""
    from web_scraper_spark.functions.vocab import synth_vocab
    from web_scraper_spark.operators.text import clean_text, tokens
    from web_scraper_spark.pipeline.relations import compile_vocab, extract_relations

    docs = _docs(spark, sf_dir)
    doc_sentences = docs.select(
        F.col("doc_id").alias("article_id"),
        F.col("text").alias("sentence"),
        F.explode(tokens(clean_text(F.col("text")))).alias("entity"),
    ).where(F.length("entity") >= 6)
    return extract_relations(doc_sentences, vocab=compile_vocab(synth_vocab()))


def _relation_extract_sql(vocab: dict | None = None, min_entity_len: int = 4) -> str:
    from web_scraper_spark.pipeline.relations import regex_tier_sql

    rel = regex_tier_sql("sentence", vocab)
    return f"""
        WITH ents AS (
            SELECT DISTINCT doc_id AS article_id, text AS sentence, t.token AS entity
            FROM documents, unnest({tokens_sql(clean_text_sql('text'))}) AS t(token)
            WHERE length(t.token) >= {min_entity_len}
        ),
        pairs AS (
            SELECT a.entity AS e1, b.entity AS e2, a.sentence AS sentence
            FROM ents a JOIN ents b
              ON a.article_id = b.article_id AND a.sentence = b.sentence
             AND a.entity < b.entity
        ),
        classified AS (
            SELECT sentence, coalesce({rel}, 'RELATED_TO') AS rel_type
            FROM (SELECT DISTINCT sentence FROM pairs)
        )
        SELECT e1, e2,
               CASE WHEN regexp_matches(upper(regexp_replace(rel_type, '[^a-zA-Z0-9_]', '_', 'g')), '^[0-9]')
                    THEN 'REL_' || upper(regexp_replace(rel_type, '[^a-zA-Z0-9_]', '_', 'g'))
                    ELSE upper(regexp_replace(rel_type, '[^a-zA-Z0-9_]', '_', 'g')) END AS rel_type,
               min(p.sentence) AS example, count(*) AS n_sentences
        FROM pairs p JOIN classified USING (sentence)
        GROUP BY 1, 2, 3
    """


def _kg_frames(spark: SparkSession, sf_dir: str):
    from web_scraper_spark.operators.text import clean_text, tokens

    docs = _docs(spark, sf_dir)
    articles = docs.select(
        F.col("doc_id").alias("article_id"),
        F.substring("text", 1, 30).alias("title"),
        "source",
        F.col("lang").alias("category"),
    )
    entities = docs.select(
        F.col("doc_id").alias("article_id"),
        F.explode(tokens(clean_text(F.col("text")))).alias("entity"),
    ).where(F.length("entity") >= 4).distinct()
    return articles, entities


def q_kg_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3 stage 2: property-graph build; returns per-label/edge-type
    cardinalities (the graph loader's manifest)."""
    from web_scraper_spark.pipeline.kg import build_edges, build_nodes

    articles, entities = _kg_frames(spark, sf_dir)
    nodes = build_nodes(articles, entities).groupBy("label").agg(F.count("*").alias("n"))
    edges = build_edges(articles, entities).groupBy("edge_type").agg(F.count("*").alias("n"))
    return nodes.select(F.col("label").alias("kind"), "n").unionByName(
        edges.select(F.col("edge_type").alias("kind"), "n")
    )


KG_GRAPH_SQL = f"""
    WITH ents AS (
        SELECT DISTINCT doc_id AS article_id, t.token AS entity
        FROM documents, unnest({{tok}}) AS t(token)
        WHERE length(t.token) >= 4
    )
    SELECT 'Article' AS kind, count(*) AS n FROM documents
    UNION ALL SELECT 'Source', count(DISTINCT source) FROM documents
    UNION ALL SELECT 'Category', count(DISTINCT lang) FROM documents
    UNION ALL SELECT 'Entity', count(DISTINCT entity) FROM ents
    UNION ALL SELECT 'MENTIONS', count(*) FROM ents
    UNION ALL SELECT 'PUBLISHED_BY', count(*) FROM documents
    UNION ALL SELECT 'HAS_CATEGORY', count(*) FROM documents
"""


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization (30-min gap) — lag + conditional cumsum."""
    from web_scraper_spark.streaming.sessionize import sessionize_batch

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return sessionize_batch(ev)


def q_stream_slot_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST1 as real Structured Streaming (AvailableNow); oracle = the batch
    3-hour-slot SQL, which the complete-mode stream must equal."""
    from web_scraper_spark.streaming.windows import stream_slot_counts

    return stream_slot_counts(spark, sf_dir)


def _attribution_sql_oracle() -> str:
    from web_scraper_spark.streaming.windows import attribution_sql

    return attribution_sql()


def q_stream_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream join (view → click within 1 hour, same
    user) run as a real Structured Streaming query; value-exact vs the
    DuckDB interval join under the single-batch horizon contract
    (streaming/windows.py::stream_attribution)."""
    from web_scraper_spark.streaming.windows import stream_attribution

    return stream_attribution(spark, sf_dir)


def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST3 stateful streaming dedup on event_id."""
    from web_scraper_spark.streaming.windows import stream_dedup_counts

    return stream_dedup_counts(spark, sf_dir)


def q_ner_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3 stage 1 end-to-end (sentence split → vectorized NER → normalize →
    validity → dedup → frequency gate), driven by the IN-REPO statistical
    model (pipeline/perceptron_ner — averaged perceptron over multi-type
    BIO, trained on a seeded synthetic corpus), not the capitalization
    fallback: the P2 swap point runs a real model-shaped tag stream
    (PER/LOC/ORG switches, orphan I- tags). The corpus is lowercase, so a
    deterministic recase (hash-picked tokens) gives shape features signal.
    Rows-only: the NER UDF is the non-SQL stage. Deterministic: training
    is seeded, so weights (and thus rows) are identical on every run."""
    from web_scraper_spark.operators.hashing import hash60
    from web_scraper_spark.operators.text import clean_text, tokens
    from web_scraper_spark.pipeline.entities import extract_entities
    from web_scraper_spark.pipeline.perceptron_ner import default_tagger

    from web_scraper_spark.operators.dedup import _fan_out

    # fan out the one-file scan: the recase is an interpreted Catalyst HOF
    # (hash60 per token) — serialized through a single task it costs ~4 s
    # at sf0.1, spread over the cores it is noise (no-op at scale)
    docs = _fan_out(_docs(spark, sf_dir))
    recased = docs.select(
        "doc_id",
        F.array_join(
            F.transform(
                tokens(clean_text(F.col("text"))),
                lambda t: F.when(hash60(t) % 5 == 0, F.initcap(t)).otherwise(t),
            ),
            " ",
        ).alias("text"),
    )
    return extract_entities(recased, min_freq=2, tagger=default_tagger()).orderBy(
        "article_id", "entity", "entity_type"
    )


def q_sessionize_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandasWithState sessionization (closed sessions). Session
    bounds ride through state as exact integer microseconds, so the
    stream is value-identical to the batch tier and shares its DuckDB
    oracle body (the repo's only value-exact-oracled STREAMING-STATE
    query); full-row equality also asserted in tests."""
    from web_scraper_spark.streaming.sessionize import sessionize_stream

    return sessionize_stream(spark, sf_dir)


# ---------------------------------------------------------------------------
# Rows-only queries (non-SQL-expressible: stateful crawl, ML fit)
# ---------------------------------------------------------------------------

def q_crawl_fetch_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end crawl over the deterministic synthetic site: runs the
    full frontier engine (bloom dedup → politeness → fetch-join → parse →
    window filter → checkpoint) and returns the canonical-ordered fetch
    log. Stateful + fixpoint → rows-only check; crawl-equivalence vs the
    sequential simulator is asserted in tests/test_crawl.py."""
    import tempfile

    from web_scraper_spark.frontier.engine import CrawlConfig, CrawlEngine
    from web_scraper_spark.synth import build_pages_df, build_robots_df, seed_urls
    from web_scraper_spark.synth.sitegen import SiteConfig

    site = SiteConfig()
    cfg = CrawlConfig(as_of="2025-12-01T22:30:00", round_seconds=30.0, max_rounds=6)
    # eager localCheckpoint, not cache(): RDD-scoped storage the
    # ContextCleaner frees when the frame drops — a cache() here leaked
    # one session-lifetime frame per gate/bench invocation (r3 VERDICT
    # item 7; same fix as the r2 jaccard_pairs cache)
    pages = build_pages_df(spark, site).localCheckpoint(eager=True)
    eng = CrawlEngine(
        spark,
        pages,
        build_robots_df(spark, site),
        tempfile.mkdtemp(prefix="crawl_q_"),
        cfg,
    )
    eng.run(seeds=seed_urls(site))
    return eng.state.read_fetch_log().orderBy("fetch_pos").select(
        "round", "fetch_pos", "url_canon", "host", "depth", "status", "title"
    )


def q_lda_topics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from web_scraper_spark.operators.topics import lda_doc_topics

    return lda_doc_topics(spark, sf_dir)


def q_word_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained word segmentation (the ViTokenizer-tier model,
    reference ConnectAndSave.py:81): fit mines adjacent 2-/3-gram
    collocations natively (zip_with + one groupBy + bounded top-K), apply
    is greedy maximal matching in one Arrow pass. Value-exact
    DuckDB-oracled (r5): the greedy left-to-right consumption is a
    functional-graph walk — pos -> pos + step(pos) with step
    precomputable per position — so the resolve_redirects recursive-CTE
    recipe oracles the TRAINED MODEL APPLY end-to-end
    (pipeline/segment.word_segment_sql)."""
    from web_scraper_spark.operators import hashing
    from web_scraper_spark.pipeline.segment import fit_lexicon, segment_docs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    lexicon = fit_lexicon(docs, min_count=5, max_phrases=5000)
    return segment_docs(docs, lexicon).select(
        "doc_id", "n_tokens", "n_words", hashing.hash60(F.col("segmented")).alias("seg_hash")
    )


def _word_segment_sql_oracle() -> str:
    from web_scraper_spark.pipeline.segment import word_segment_sql

    return word_segment_sql("documents", min_count=5, max_phrases=5000)


def _robots_oracle_bodies() -> list[tuple[str, str]]:
    """The deterministic (host, robots_txt) fixture both engines parse:
    the synth hosts' rendered bodies + the grammar-edge set (see
    frontier/robots.py::ROBOTS_GRAMMAR_EDGES)."""
    from web_scraper_spark.frontier.robots import (
        ROBOTS_GRAMMAR_EDGES,
        render_robots_txt,
    )
    from web_scraper_spark.synth.sitegen import SiteConfig

    cfg = SiteConfig()
    rows = []
    for source, base in cfg.hosts.items():
        rows.append(
            (
                base.split("//", 1)[1],
                render_robots_txt(
                    float(cfg.crawl_delay[source]),
                    list(cfg.robots_disallow[source]),
                ),
            )
        )
    return rows + list(ROBOTS_GRAMMAR_EDGES)


def q_robots_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw per-host robots.txt bodies → politeness rules (host,
    crawl_delay, one row per disallow prefix). The north-star's
    "robots.txt rules" step from actual bytes: synth hosts' bodies plus
    grammar-edge files (multi-agent groups, comments, empty Disallow,
    blank-line group closing, agents-only discard, unparsable
    Crawl-delay, state-0 preambles, junk lines, specific-agent-only
    hosts). VALUE-EXACT oracled (r5): the urllib.robotparser group
    machine restates as one window-function pass in DuckDB
    (robots.py::robots_parse_sql — group id = running sum of
    group-opening flags, liveness = before the group's first blank);
    robotparser-decision equality stays in tests/test_robots.py."""
    from web_scraper_spark.frontier.robots import parse_robots_txt

    bodies = spark.createDataFrame(
        _robots_oracle_bodies(), "host string, robots_txt string"
    )
    rules = parse_robots_txt(bodies, default_delay=1.0)
    return (
        rules.select(
            "host", "crawl_delay",
            F.explode_outer("disallow").alias("disallow_prefix"),
        )
        .orderBy("host", "disallow_prefix")
    )


# ---------------------------------------------------------------------------
# Registry
# ---------------------------------------------------------------------------

def q_sitemap_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sitemaps.org discovery (frontier/sitemap.py): per-source leaf
    sitemaps + one index, synthesized deterministically from the
    documents table IN BOTH ENGINES (same concat/string_agg expressions),
    parsed by the pure-codegen extractor — loc entity-unescape, optional
    lastmod/changefreq/priority, index children. Value-exact oracle."""
    from web_scraper_spark.frontier.sitemap import sitemap_entries

    docs = _docs(spark, sf_dir).where(F.col("doc_id") % 25 == 0)
    frag = F.concat(
        F.lit("<url><loc>https://"), F.col("source"), F.lit(".example.com/doc/"),
        F.col("doc_id").cast("string"), F.lit("&amp;ref=sm</loc>"),
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat(
                F.lit("<lastmod>2025-12-"),
                F.lpad((F.col("doc_id") % 28 + 1).cast("string"), 2, "0"),
                F.lit("</lastmod>"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit("<priority>0."), (F.col("doc_id") % 10).cast("string"),
                F.lit("</priority>"),
            ),
        ).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 5 == 0, F.lit("<changefreq>daily</changefreq>"))
        .otherwise(F.lit("")),
        F.lit("</url>"),
    )

    def _frag_of(x):
        return x["frag"]

    leaves = (
        docs.select("source", "doc_id", frag.alias("frag"))
        .groupBy("source")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("doc_id", "frag"))),
                    _frag_of,
                ),
                "",
            ).alias("inner")
        )
        .select(
            F.concat(
                F.lit("https://"), F.col("source"), F.lit(".example.com/sitemap-1.xml")
            ).alias("sitemap_url"),
            F.concat(
                F.lit('<?xml version="1.0"?><urlset>'), F.col("inner"),
                F.lit("</urlset>"),
            ).alias("body"),
        )
    )
    index = (
        docs.select("source").distinct()
        .groupBy()
        .agg(
            F.array_join(
                F.array_sort(
                    F.collect_list(
                        F.concat(
                            F.lit("<sitemap><loc>https://"), F.col("source"),
                            F.lit(".example.com/sitemap-1.xml</loc></sitemap>"),
                        )
                    )
                ),
                "",
            ).alias("inner")
        )
        .select(
            F.lit("https://hub.example.com/sitemap.xml").alias("sitemap_url"),
            F.concat(
                F.lit("<sitemapindex>"), F.col("inner"), F.lit("</sitemapindex>")
            ).alias("body"),
        )
    )
    return sitemap_entries(leaves.unionByName(index))


def warc_archives_df(docs: DataFrame) -> DataFrame:
    """Deterministic per-source WARC archives synthesized from documents
    (the Spark half; WARC_SQL_BODIES is the value-identical DuckDB half).
    One archive body per source, records in doc_id order — the Common
    Crawl sharding unit."""
    date = F.concat(
        F.lit("2025-12-"),
        F.lpad((F.col("doc_id") % 28 + 1).cast("string"), 2, "0"),
        F.lit("T"),
        F.lpad((F.col("doc_id") % 24).cast("string"), 2, "0"),
        F.lit(":00:00Z"),
    )
    url = F.concat(
        F.lit("https://"), F.col("source"), F.lit(".example.com/doc/"),
        F.col("doc_id").cast("string"),
    )
    rec = wa.warc_record(url, date, F.col("text"))

    def _rec_of(x):
        return x["rec"]

    return (
        docs.select("source", "doc_id", rec.alias("rec"))
        .groupBy("source")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("doc_id", "rec"))),
                    _rec_of,
                ),
                "",
            ).alias("body")
        )
        .select(F.concat(F.col("source"), F.lit(".warc")).alias("archive"), "body")
    )


_WARC_URL_SQL = "'https://' || source || '.example.com/doc/' || doc_id::VARCHAR"
_WARC_DATE_SQL = (
    "'2025-12-' || lpad((doc_id % 28 + 1)::VARCHAR, 2, '0') || 'T' "
    "|| lpad((doc_id % 24)::VARCHAR, 2, '0') || ':00:00Z'"
)
WARC_SQL_BODIES = f"""
    recs AS (
        SELECT source, doc_id,
               {wa.warc_record_sql(_WARC_URL_SQL, _WARC_DATE_SQL, 'text')} AS rec
        FROM documents),
    bodies AS (
        SELECT source || '.warc' AS archive,
               string_agg(rec, '' ORDER BY doc_id) AS body
        FROM recs GROUP BY source)
"""


def q_warc_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC codegen parse tier over per-source synthesized archives:
    record split + typed field extracts + Content-Length cross-check,
    zero Python in the plan (sources/warc.py)."""
    return wa.warc_entries(warc_archives_df(_docs(spark, sf_dir)))


def q_warc_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL byte-walk WARC parser (Content-Length jumps) over the same
    archives. Value-exact oracled by WRITER-ROUNDTRIP IDENTITY: the
    archives are synthesized from documents in doc_id order, so the
    DuckDB twin re-derives every parsed field (url, date, octet length,
    payload, per-archive record index) straight from documents — the
    parser must invert the writer byte-exactly to hash-match. Decoy
    robustness (payloads containing record-boundary lookalikes) is
    pytest-asserted in tests/test_warc.py."""
    return wa.warc_records_stream(warc_archives_df(_docs(spark, sf_dir)))


WARC_RECORDS_ORACLE = f"""
    SELECT source || '.warc' AS archive,
           (row_number() OVER (PARTITION BY source ORDER BY doc_id) - 1)::INT
               AS rec_idx,
           {_WARC_URL_SQL} AS url,
           {_WARC_DATE_SQL} AS warc_date,
           strlen(text)::BIGINT AS content_length,
           text AS payload
    FROM documents
"""


SITEMAP_PARSE_SQL_BODIES = """
    src AS (SELECT * FROM documents WHERE doc_id % 25 = 0),
    frags AS (
        SELECT source, doc_id,
            '<url><loc>https://' || source || '.example.com/doc/'
            || doc_id::VARCHAR || '&amp;ref=sm</loc>'
            || CASE WHEN doc_id % 2 = 0
                    THEN '<lastmod>2025-12-' || lpad((doc_id % 28 + 1)::VARCHAR, 2, '0') || '</lastmod>'
                    ELSE '' END
            || CASE WHEN doc_id % 3 = 0
                    THEN '<priority>0.' || (doc_id % 10)::VARCHAR || '</priority>'
                    ELSE '' END
            || CASE WHEN doc_id % 5 = 0
                    THEN '<changefreq>daily</changefreq>' ELSE '' END
            || '</url>' AS frag
        FROM src),
    leaves AS (
        SELECT 'https://' || source || '.example.com/sitemap-1.xml' AS sitemap_url,
               '<?xml version="1.0"?><urlset>'
               || string_agg(frag, '' ORDER BY doc_id) || '</urlset>' AS body
        FROM frags GROUP BY source),
    idx AS (
        SELECT 'https://hub.example.com/sitemap.xml' AS sitemap_url,
               '<sitemapindex>' || string_agg(
                   '<sitemap><loc>https://' || source
                   || '.example.com/sitemap-1.xml</loc></sitemap>',
                   '' ORDER BY source) || '</sitemapindex>' AS body
        FROM (SELECT DISTINCT source FROM src)),
    bodies AS (SELECT * FROM leaves UNION ALL SELECT * FROM idx)
"""


def q_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-phrase search over positional postings (operators/phrase.py):
    anchor-cover GROUP BY formulation, one posexplode, phrase vocab
    filtered inside the codegen pipeline. Value-exact oracle."""
    from web_scraper_spark.operators.phrase import phrase_search

    return phrase_search(_docs(spark, sf_dir))


def queries() -> dict[str, QueryFn]:
    return {
        # relational core (SURVEY §2.2/2.5/2.6/2.7)
        "q1_pricing_summary": an.q1_pricing_summary,
        "q3_shipping_priority": an.q3_shipping_priority,
        "q5_local_suppliers": an.q5_local_suppliers,
        "top3_parts_per_supplier": an.top3_parts_per_supplier,
        "top_category_per_group": an.top_category_per_group,
        "rollup_order_grains": an.rollup_order_grains,
        "slot_window_events": an.slot_window_events,
        "date_parts_histogram": an.date_parts_histogram,
        "seen_anti_join": an.seen_anti_join,
        "multi_source_union": an.multi_source_union,
        "assign_ids": an.assign_ids,
        "md5_cache_key": an.md5_cache_key,
        "entity_frequency": an.entity_frequency,
        "valid_entity_filter": an.valid_entity_filter,
        "sentence_entity_pairs": an.sentence_entity_pairs,
        "stopword_semijoin": an.stopword_semijoin,
        "relation_sanitize": an.relation_sanitize,
        "pagination_expand": an.pagination_expand,
        "case_insensitive_dedup": an.case_insensitive_dedup,
        # text analysis
        "token_stats": q_token_stats,
        "quality_scores": q_quality_scores,
        "lang_id": q_lang_id,
        "doc_fingerprints": q_doc_fingerprints,
        # corpus curation
        "decontaminate": q_decontaminate,
        "pii_scrub": q_pii_scrub,
        "repetition_stats": q_repetition_stats,
        # dedup
        "exact_dedup": q_exact_dedup,
        "minhash_lsh_pairs": q_minhash_lsh_pairs,
        "ngram_jaccard_pairs": q_ngram_jaccard_pairs,
        "simhash_pairs": q_simhash_pairs,
        "embedding_near_pairs": q_embedding_near_pairs,
        "dedup_clusters": q_dedup_clusters,
        "corpus_filter": q_corpus_filter,
        # similarity search
        "ann_brute_topk": q_ann_brute_topk,
        "ann_lsh_pairs": q_ann_lsh_pairs,
        # multimodal
        "media_stats": q_media_stats,
        "media_features": q_media_features,
        "keyword_split": q_keyword_split,
        "json_props": q_json_props,
        "event_funnel": q_event_funnel,
        "quality_percentiles": q_quality_percentiles,
        "asof_join": q_asof_join,
        # pipeline stages (E2/E3)
        "deep_clean": q_deep_clean,
        "sentence_split": q_sentence_split,
        "relation_extract": q_relation_extract,
        "relation_extract_full": q_relation_extract_full,
        "kg_graph": q_kg_graph,
        # streaming
        "sessionize": q_sessionize,
        "stream_slot_window": q_stream_slot_window,
        "stream_dedup": q_stream_dedup,
        # --- driver-gate window boundary (first 50 entries end here) ---
        # Oracled-but-beyond-window: these three are strict sub-plans /
        # SQL-twins of green in-window queries (signatures ⊂ lsh_pairs,
        # simhash ⊂ simhash_pairs, q1_via_sql ≡ q1_pricing_summary), demoted
        # in r3 to make window room for the curation tier. They KEEP their
        # oracle_sql entries — tests/oracle_check.py (the pytest replica)
        # verifies all oracled queries, in-window or not.
        "minhash_signatures": q_minhash_signatures,
        "simhash": q_simhash,
        "q1_via_sql": q1_via_sql,
        # r3 search tier: oracled beyond the window (same pytest coverage)
        "keyword_search": q_keyword_search,
        "bm25_topk": q_bm25_topk,
        # r4: incremental index maintenance — oracled (≡ full-corpus BM25)
        "bm25_topk_incremental": q_bm25_topk_incremental,
        # r4: exact-phrase search + sitemap discovery — oracled beyond the
        # window (same pytest replica coverage as the rest of this block)
        "phrase_search": q_phrase_search,
        "sitemap_parse": q_sitemap_parse,
        # r4: curation additions — oracled beyond the window (pytest replica)
        "line_dedup": q_line_dedup,
        "stratified_sample": q_stratified_sample,
        # r4: WARC container roundtrip — oracled beyond the window
        "warc_parse": q_warc_parse,
        # r4: relational bigram-LM perplexity (CCNet stage) — oracled
        "lm_perplexity": q_lm_perplexity,
        # r4: substring-level dedup spans (Lee et al. 2022) — oracled
        "dup_spans": q_dup_spans,
        # r4: the matching transformation (first-wins removal) — oracled
        "strip_dup_spans": q_strip_dup_spans,
        # r4: engine-portable HLL register state — oracled
        "hll_cardinality": q_hll_cardinality,
        # r4: per-source (domain) triage rollup — oracled
        "domain_stats": q_domain_stats,
        # r4: weekly cohort-retention matrix — oracled
        "cohort_retention": q_cohort_retention,
        # r4: Broder containment (asymmetric near-dup) — oracled
        "containment_pairs": q_containment_pairs,
        # r4: crawler-trap detection (per-host URL-template budget) — oracled
        "crawl_trap_stats": q_crawl_trap_stats,
        # r4: per-source distribution drift (KL vs corpus) — oracled
        "source_kl": q_source_kl,
        # r4: snapshot changelog (added/removed/modified) — oracled
        "snapshot_diff": q_snapshot_diff,
        # r4: watermarked stream-stream attribution join — oracled
        "stream_attribution": q_stream_attribution,
        # r4: Cho–Garcia-Molina recrawl change-rate estimator — oracled
        "recrawl_policy": q_recrawl_policy,
        # r4: anchor-text aggregation + inlink-priority frontier queue
        # over the deterministic synthetic link graph — oracled
        "anchor_text": q_anchor_text,
        "frontier_priority": q_frontier_priority,
        # r4: Bharat–Broder mirror-host detection — oracled
        "mirror_hosts": q_mirror_hosts,
        # r4: Count-Min heavy hitters (mergeable frequency sketch) — oracled
        "cms_heavy_hitters": q_cms_heavy_hitters,
        # r4: RFC 3986 canonicalization vs the native-chain SQL twin — oracled
        "url_canonicalize": q_url_canonicalize,
        # r4: focused-crawl anchor-relevance scoring — oracled
        "focused_frontier": q_focused_frontier,
        # r4: native session_window (built-in dynamic-gap sessions) — oracled
        "sessionize_native": q_sessionize_native,
        # r4: binned quantile sketch (mergeable histogram) — oracled
        "quantile_sketch": q_quantile_sketch,
        # r4: redirect-chain resolution — the first value-exact ITERATIVE
        # oracle (pointer doubling vs bounded recursive CTE)
        "resolve_redirects": q_resolve_redirects,
        # r4: per-host fetch-health circuit breaker — oracled
        "host_health": q_host_health,
        # r5: the COMPOSED round scheduler (redirects + health + traps +
        # recrawl cadence + inlink priority in one selection plan) — oracled
        "frontier_schedule": q_frontier_schedule,
        # rows-only (non-SQL: BLAS summation order / ML fit / UDF-stateful /
        # crawl fixpoint) — pytest-verified
        # (equality-to-oracled-twin / recall / simulator-equivalence).
        "ann_topk_blocked": q_ann_topk_blocked,
        "near_pairs_blocked": q_near_pairs_blocked,
        "ann_ivf_topk": q_ann_ivf_topk,
        "semdedup": q_semdedup,
        "warc_records": q_warc_records,
        "quality_classifier": q_quality_classifier,
        "bpe_tokens": q_bpe_tokens,
        "curation_pipeline": q_curation_pipeline,
        "ner_entities": q_ner_entities,
        "sessionize_stream": q_sessionize_stream,
        "crawl_fetch_log": q_crawl_fetch_log,
        "lda_topics": q_lda_topics,
        "word_segment": q_word_segment,
        "robots_parse": q_robots_parse,
        "incremental_dedup": q_incremental_dedup,
        "dedup_centrality": q_dedup_centrality,
        "link_hits": q_link_hits,
        # r5: OPIC + PageRank promoted rows-only → value-exact oracled
        # (unrolled fixed-iteration DuckDB twins, graphalgo.*_sql)
        "opic_priority": q_opic_priority,
        "pagerank_scores": q_pagerank_scores,
        "curation_disposition": q_curation_disposition,
        "ann_ivf_sampled": q_ann_ivf_sampled,
        "semdedup_sampled": q_semdedup_sampled,
        "dsir_sample": q_dsir_sample,
        "pmi_collocations": q_pmi_collocations,
        "tfidf_keywords": q_tfidf_keywords,
        # r5: winnowing local fingerprints (Schleimer et al. 2003)
        "winnow_fingerprints": q_winnow_fingerprints,
        # r5: C4 page/line cleaning rules (Raffel et al. 2020)
        "c4_filters": q_c4_filters,
        # r5: Flesch / Flesch–Kincaid readability formulas
        "readability_scores": q_readability_scores,
        # r5: concat-and-chunk sequence-packing placement map
        "pack_chunks": q_pack_chunks,
        # r5: RefinedWeb URL filtering (blocklist + word score)
        "url_filter": q_url_filter,
        # r5: co-citation link similarity (Small 1973)
        "co_citation_pairs": q_co_citation_pairs,
        # r5: Zipf-law fit via order-independent decimal regression
        "zipf_fit": q_zipf_fit,
        # r5: bibliographic coupling (Kessler 1963, the transpose)
        "bib_coupling_pairs": q_bib_coupling_pairs,
        # r5: MOSS matching — winnowing fingerprint overlap pairs
        "winnow_overlap_pairs": q_winnow_overlap_pairs,
        # r5: incremental MOSS matching vs the persisted fp index
        "winnow_incremental": q_winnow_incremental,
    }


# Shared TPC-H Q1 oracle body (decimal-exact money sums — dec_sum contract)
_Q1_ORACLE = f"""
    SELECT l_returnflag, l_linestatus,
           sum(CAST(l_quantity AS DECIMAL(18,6)))::DOUBLE AS sum_qty,
           sum(CAST(l_extendedprice AS DECIMAL(18,6)))::DOUBLE AS sum_base_price,
           {an.dec_sum_sql('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
           {an.dec_sum_sql('l_extendedprice * (1 - l_discount) * (1 + l_tax)')} AS sum_charge,
           {an.dec_avg_sql('l_quantity')} AS avg_qty,
           {an.dec_avg_sql('l_extendedprice')} AS avg_price,
           {an.dec_avg_sql('l_discount')} AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= DATE '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
"""


def oracle_sql() -> dict[str, str]:
    sh_cte = dd.doc_shingles_sql("documents")
    return {
        "q1_pricing_summary": _Q1_ORACLE + " ORDER BY l_returnflag, l_linestatus",
        "q1_via_sql": _Q1_ORACLE,
        "decontaminate": cu.decontaminate_sql(),
        "pii_scrub": cu.pii_scrub_sql(),
        "repetition_stats": cu.repetition_stats_sql(),
        "keyword_search": se.keyword_search_sql(),
        "bm25_topk": se.bm25_topk_sql(k=10),
        # the incremental merge must reproduce full-corpus BM25 exactly —
        # same oracle body as bm25_topk (the whole point of the check)
        "bm25_topk_incremental": se.bm25_topk_sql(k=10),
        "phrase_search": ph.phrase_search_sql(),
        "line_dedup": cu.line_dedup_sql(),
        "stratified_sample": cu.stratified_sample_sql(),
        "warc_parse": (
            "WITH " + WARC_SQL_BODIES + ", entries AS ("
            + wa.warc_entries_sql("bodies")
            + ") SELECT * FROM entries"
        ),
        "lm_perplexity": lmod.lm_perplexity_sql(),
        # roundtrip identity: the byte-walk parser must invert the writer
        "warc_records": WARC_RECORDS_ORACLE,
        "dup_spans": cu.dup_spans_sql(),
        "strip_dup_spans": cu.strip_dup_spans_sql(),
        "hll_cardinality": sko.hll_token_sketch_sql(),
        "domain_stats": cu.domain_stats_sql(),
        "cohort_retention": COHORT_RETENTION_SQL,
        "containment_pairs": dd.containment_pairs_sql(sh_cte, tau=0.8),
        "crawl_trap_stats": tr.trap_stats_sql(TRAP_URLS_CTE),
        "source_kl": cu.source_kl_sql(),
        "snapshot_diff": inc.snapshot_diff_sql(
            "SELECT doc_id, text FROM documents", SNAPSHOT_V2_CTE
        ),
        "stream_attribution": _attribution_sql_oracle(),
        "recrawl_policy": rc.change_rate_sql(RECRAWL_FETCHES_CTE),
        "anchor_text": lg.anchor_summary_sql(LINKS_CTE),
        "frontier_priority": lg.frontier_priority_sql(FRONTIER_CTE, LINKS_CTE),
        "mirror_hosts": mi.mirror_pairs_sql(MIRROR_URLS_CTE),
        "cms_heavy_hitters": sko.cms_topk_sql(),
        "url_canonicalize": (
            "WITH urls AS (" + CANON_URLS_CTE + ") SELECT DISTINCT url, "
            + canon_url_sql("url") + " AS url_canon FROM urls"
        ),
        "focused_frontier": FOCUSED_ORACLE.format(
            links=LINKS_CTE, tok=tokens_sql("anchor")
        ),
        "sessionize_native": SESSIONIZE_NATIVE_ORACLE,
        "quantile_sketch": sko.binned_quantiles_sql(),
        "resolve_redirects": rd_mod.resolve_redirects_sql(REDIRECTS_CTE),
        "host_health": hl_mod.host_health_sql(FETCH_HEALTH_CTE),
        "frontier_schedule": sch_mod.frontier_schedule_sql(
            SCHEDULE_FRONTIER_CTE,
            LINKS_CTE,
            SCHEDULE_REDIRECTS_CTE,
            SCHEDULE_FETCH_LOG_CTE,
            SCHEDULE_HISTORY_CTE,
            template_cap=600,
        ),
        "sitemap_parse": (
            "WITH " + SITEMAP_PARSE_SQL_BODIES + ", entries AS ("
            + sm.sitemap_entries_sql("bodies")
            + ") SELECT * FROM entries"
        ),
        # r5: iterative link-analysis oracles (unrolled power iteration)
        "opic_priority": ga_mod.opic_sql(LINKS_CTE, n_iter=6, round_dp=6),
        "pagerank_scores": ga_mod.pagerank_sql(LINKS_CTE, n_iter=6, round_dp=6),
        "link_hits": ga_mod.hits_sql(
            """
            SELECT 'c' || CAST(o_custkey AS VARCHAR) AS src,
                   's' || CAST(l_suppkey AS VARCHAR) AS dst
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            """,
            n_iter=4,
            round_dp=6,
        ),
        "q3_shipping_priority": f"""
            SELECT l_orderkey, o_orderdate, o_orderpriority,
                   {an.dec_sum_sql('l_extendedprice * (1 - l_discount)')} AS revenue
            FROM customer
            JOIN orders ON o_custkey = c_custkey
            JOIN lineitem ON l_orderkey = o_orderkey
            WHERE c_mktsegment = 'BUILDING'
              AND o_orderdate < DATE '1998-03-15'
              AND l_shipdate > DATE '1998-03-15'
            GROUP BY 1, 2, 3
            ORDER BY revenue DESC, l_orderkey ASC
            LIMIT 10
        """,
        "q5_local_suppliers": f"""
            SELECT n_name AS nation,
                   {an.dec_sum_sql('l_extendedprice * (1 - l_discount)')} AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
            JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE r_name = 'ASIA'
            GROUP BY 1
            ORDER BY revenue DESC, nation ASC
        """,
        "top3_parts_per_supplier": f"""
            SELECT l_suppkey, l_partkey, revenue, rank::INT AS rank FROM (
                SELECT l_suppkey, l_partkey, revenue,
                       row_number() OVER (
                           PARTITION BY l_suppkey
                           ORDER BY revenue DESC, l_partkey ASC) AS rank
                FROM (
                    SELECT l_suppkey, l_partkey,
                           {an.dec_sum_sql('l_extendedprice * (1 - l_discount)')} AS revenue
                    FROM lineitem GROUP BY 1, 2
                )
            ) WHERE rank <= 3
        """,
        "top_category_per_group": """
            SELECT lang, source AS top_source, n AS n_docs FROM (
                SELECT lang, source, count(*) AS n,
                       row_number() OVER (
                           PARTITION BY lang ORDER BY count(*) DESC, source ASC) AS rn
                FROM documents GROUP BY lang, source
            ) WHERE rn = 1
        """,
        "rollup_order_grains": f"""
            SELECT coalesce(yr, -1) AS yr, coalesce(qtr, -1) AS qtr,
                   count(*) AS n_orders,
                   {an.dec_sum_sql('o_totalprice')} AS total_price
            FROM (
                SELECT year(o_orderdate)::INT AS yr,
                       quarter(o_orderdate)::INT AS qtr,
                       o_totalprice
                FROM orders
            )
            GROUP BY ROLLUP(yr, qtr)
        """,
        "slot_window_events": f"""
            SELECT time_bucket(INTERVAL 3 HOURS, ts) AS slot_start, event_type,
                   count(*) AS n_events,
                   {an.dec_sum_sql('value')} AS sum_value
            FROM events GROUP BY 1, 2
        """,
        "date_parts_histogram": """
            SELECT year(o_orderdate)::INT AS yr, month(o_orderdate)::INT AS mth,
                   count(*) AS n_orders
            FROM orders GROUP BY 1, 2
        """,
        "seen_anti_join": """
            SELECT event_type, count(*) AS n_unseen
            FROM events e
            WHERE NOT EXISTS (
                SELECT 1 FROM events s
                WHERE s.event_id % 7 = 0 AND s.event_id = e.event_id)
            GROUP BY 1
        """,
        "multi_source_union": """
            WITH u AS (
                SELECT 'feed_a' AS feed, n_chars FROM documents WHERE source = 'src0'
                UNION ALL
                SELECT 'feed_b' AS feed, n_chars FROM documents WHERE source = 'src1'
                UNION ALL
                SELECT 'feed_zh' AS feed, n_chars FROM documents WHERE lang = 'zh'
            )
            SELECT feed, count(*) AS n_docs, sum(n_chars)::BIGINT AS total_chars
            FROM u GROUP BY 1
        """,
        "assign_ids": """
            WITH existing AS (
                SELECT doc_id, doc_id::BIGINT AS assigned_id
                FROM documents WHERE doc_id % 3 = 0
            ),
            base AS (SELECT coalesce(max(assigned_id), 0) AS b FROM existing),
            fresh AS (
                SELECT doc_id,
                       (row_number() OVER (ORDER BY doc_id) + (SELECT b FROM base))::BIGINT
                           AS assigned_id
                FROM documents WHERE doc_id % 3 != 0
            )
            SELECT * FROM existing UNION ALL SELECT * FROM fresh
        """,
        "md5_cache_key": """
            SELECT source,
                   md5(string_agg(md5(text), '|' ORDER BY md5(text))) AS cache_key,
                   count(*) AS n_docs
            FROM documents GROUP BY source
        """,
        "entity_frequency": f"""
            WITH tok AS (
                SELECT doc_id, t.token AS token
                FROM documents, unnest({tokens_sql('text')}) AS t(token)
            )
            SELECT token, count(*) AS freq, count(DISTINCT doc_id) AS n_docs
            FROM tok GROUP BY token HAVING count(*) >= 50
        """,
        "valid_entity_filter": f"""
            WITH tok AS (
                SELECT DISTINCT doc_id, t.token AS token
                FROM documents, unnest({tokens_sql('text')}) AS t(token)
            )
            SELECT token, count(*) AS n_docs
            FROM tok
            WHERE length(token) >= 2 AND length(token) <= 100
              AND regexp_matches(token, '[A-Za-z]')
              AND NOT regexp_matches(token, '^[0-9]+$')
              AND NOT (repeat(token[1:1], length(token)) = token)
              AND NOT list_contains(['the','a','of','and','to','in','is','that','for','on','with','as','by','at'], lower(token))
            GROUP BY token
        """,
        "sentence_entity_pairs": f"""
            WITH tok AS (
                SELECT DISTINCT doc_id, t.token AS token
                FROM documents, unnest({tokens_sql('text')}) AS t(token)
            )
            SELECT a.token AS e1, b.token AS e2, count(*) AS support
            FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND a.token < b.token
            GROUP BY 1, 2 HAVING count(*) >= 100
        """,
        "stopword_semijoin": f"""
            SELECT doc_id,
                   len(list_filter({tokens_sql('text')},
                       x -> NOT list_contains(['the','a','of','and','to','in','is','that','for','on','with','as','by','at'], x))) = 0
                       AS all_stopwords,
                   len(list_distinct(list_filter({tokens_sql('text')},
                       x -> NOT list_contains(['the','a','of','and','to','in','is','that','for','on','with','as','by','at'], x))))::INT
                       AS n_nonstop_kinds
            FROM documents
        """,
        "relation_sanitize": """
            SELECT event_id,
                   CASE WHEN regexp_matches(up, '^[0-9]') THEN 'REL_' || up ELSE up END AS rel_type
            FROM (
                SELECT event_id,
                       upper(regexp_replace(event_type || '-' || (event_id % 3)::VARCHAR,
                                            '[^a-zA-Z0-9_]', '_', 'g')) AS up
                FROM events
            )
        """,
        "pagination_expand": """
            SELECT s_suppkey, p.page_no::INT AS page_no,
                   'https://example.com/s/' || s_suppkey::VARCHAR || '-p' || p.page_no::VARCHAR AS page_url
            FROM supplier, unnest(generate_series(1, (s_suppkey % 5 + 1)::INT)) AS p(page_no)
        """,
        "case_insensitive_dedup": f"""
            WITH tok AS (
                SELECT DISTINCT doc_id,
                       CASE WHEN doc_id % 2 = 1
                            THEN upper(t.token[1:1]) || lower(t.token[2:])
                            ELSE t.token END AS entity
                FROM documents, unnest({tokens_sql('text')}) AS t(token)
            ),
            ents AS (SELECT DISTINCT entity FROM tok)
            SELECT entity AS canonical_entity FROM (
                SELECT entity,
                       row_number() OVER (
                           PARTITION BY lower(entity)
                           ORDER BY CASE WHEN regexp_matches(entity, '^[A-Z]') THEN 0 ELSE 1 END,
                                    entity ASC) AS rn
                FROM ents
            ) WHERE rn = 1
        """,
        # text analysis
        "token_stats": TOKEN_STATS_SQL,
        "quality_scores": QUALITY_SCORES_SQL,
        "lang_id": LANG_ID_SQL,
        "doc_fingerprints": DOC_FINGERPRINTS_SQL,
        # dedup
        "exact_dedup": dd.exact_dup_groups_sql("documents"),
        "minhash_signatures": dd.minhash_signatures_arrays_sql("documents"),
        "minhash_lsh_pairs": dd.minhash_lsh_pairs_sql("documents", tau=0.4),
        "ngram_jaccard_pairs": dd.jaccard_pairs_sql(sh_cte, tau=0.4),
        "simhash": dd.simhash_sql("documents"),
        "simhash_pairs": dd.simhash_near_pairs_sql("documents", max_hamming=3),
        "embedding_near_pairs": dd.embedding_near_pairs_sql("embeddings", tau=0.28),
        "dedup_clusters": dd.dedup_clusters_sql(dd.minhash_lsh_pairs_sql("documents", tau=0.4)),
        # r5: the composed end-to-end curation disposition (stage bodies
        # reused; only the trained-BPE budget column stays rows-only)
        "curation_disposition": _curation_disposition_sql(),
        # r5: the incremental tier's contract IS the union-subset identity,
        # so its oracle is the full-corpus pairs twin + delta-membership
        # filter (promoted from tests/test_incremental.py's pytest oracle)
        "incremental_dedup": (
            f"SELECT * FROM ({dd.minhash_lsh_pairs_sql('documents', tau=0.4)}) u"
            " WHERE doc_a % 10 = 0 OR doc_b % 10 = 0"
        ),
        # r5: cluster labels (recursive CTE) + unrolled pagerank composed
        # over one materialized LSH pair frame, then the argmax window
        "dedup_centrality": ga_mod.cluster_representatives_sql(
            dd.minhash_lsh_pairs_sql("documents", tau=0.4), n_iter=6, round_dp=6
        ),
        "corpus_filter": f"""
            WITH clusters AS ({dd.dedup_clusters_sql(dd.minhash_lsh_pairs_sql("documents", tau=0.4))}),
            drop_ids AS (SELECT doc_id FROM clusters WHERE doc_id != cluster_id)
            SELECT doc_id, lang,
                   {_qsql["n_tokens"]} AS n_tokens,
                   {_qsql["quality_score"]} AS quality_score,
                   {clean_text_sql("text")} AS text_clean
            FROM documents
            WHERE {_qsql["quality_score"]} >= 0.5
              AND doc_id NOT IN (SELECT doc_id FROM drop_ids)
        """,
        # similarity
        "ann_brute_topk": sim.brute_topk_sql("embeddings", n_queries=5, k=10),
        "ann_lsh_pairs": sim.lsh_ann_pairs_sql("embeddings", tau=0.25, n_tables=2),
        # the blocked-BLAS paths re-verify candidates with the sequential
        # fold (cosine_expr), so the exact all-pairs oracles apply verbatim
        "ann_topk_blocked": sim.brute_topk_sql("embeddings", n_queries=5, k=10),
        "near_pairs_blocked": dd.embedding_near_pairs_sql("embeddings", tau=0.35),
        # multimodal
        "media_stats": mm.media_stats_sql(),
        "media_features": MEDIA_FEATURES_SQL,
        "keyword_split": KEYWORD_SPLIT_SQL,
        "json_props": JSON_PROPS_SQL,
        "event_funnel": EVENT_FUNNEL_SQL,
        "quality_percentiles": QUALITY_PERCENTILES_SQL,
        "asof_join": ASOF_JOIN_SQL,
        # pipeline + streaming
        "deep_clean": _deep_clean_sql(),
        "sentence_split": _sentence_split_sql(),
        "relation_extract": _relation_extract_sql(),
        "relation_extract_full": _relation_extract_full_sql(),
        "kg_graph": KG_GRAPH_SQL.format(tok=tokens_sql(clean_text_sql("text"))),
        "sessionize": _sessionize_sql(),
        # the stream carries exact integer-microsecond bounds through
        # state, so it shares the batch tier's oracle body verbatim
        "sessionize_stream": _sessionize_sql(),
        "stream_slot_window": oracle_sql_slot_window(),
        "stream_dedup": """
            SELECT event_type, count(DISTINCT event_id) AS n_unique
            FROM events GROUP BY 1
        """,
        # r5: urllib.robotparser's group state machine as one
        # window-function pass (no recursion) over the shared body fixture
        "robots_parse": rb_mod.robots_parse_sql(
            _robots_oracle_bodies(), default_delay=1.0
        ),
        # r5: the ENTIRE IVF path — sampled coarse quantizer, cell
        # assignment, probe, exact rescoring — as one SQL expression
        "ann_ivf_sampled": sim.ivf_sampled_topk_sql(
            "embeddings", n_queries=5, k=10, n_cells=16, n_probe=6
        ),
        # r5: SemDeDup's earlier-wins rule is relational once the
        # quantizer is sampled — assignment, within-cell max, prune flag
        "semdedup_sampled": sim.semdedup_sampled_sql(
            "embeddings", n_cells=16, eps=0.35
        ),
        "dsir_sample": dsr_mod.dsir_sample_sql(),
        # r5: Church & Hanks PMI — three integer-ratio lns rounded 6 dp
        # in one expression, total-ordered top-k
        "pmi_collocations": colc.pmi_collocations_sql(),
        # r5: TF-IDF keyword extraction — integer tf × 6-dp idf,
        # doc-partitioned top-k window
        "tfidf_keywords": tfi.tfidf_keywords_sql(),
        # r5: winnowing fingerprint summary — window min over gram
        # hashes, distinct-set bit_xor fold (order-insensitive)
        "winnow_fingerprints": winn.winnow_fingerprints_sql(),
        # r5: C4 rules over chunk lines — punct gate reported (corpus
        # is punctuation-free); gating variant planted-text tested
        "c4_filters": c4_mod.c4_filters_sql(),
        # r5: Flesch/FK — 6-dp component ratios into 4-dp scores
        "readability_scores": readb.readability_scores_sql(),
        # r5: packing placement — exclusive integer cumsum + DIV, the
        # two-phase global window restated as one SQL window
        "pack_chunks": packg.pack_chunks_sql(),
        # r5: URL triage — blocklist/extension/word-score dispositions
        # over a CTE building the identical synthetic URL population
        "url_filter": uf_mod.url_filter_sql(FILTER_URLS_CTE),
        # r5: co-citation pairs — capped inverted-index self-join over
        # the same synthetic link CTE the anchor tier uses
        "co_citation_pairs": cc_mod.co_citation_sql(LINKS_CTE),
        # r5: Zipf regression — 6-dp terms summed as DECIMAL(18,6), so
        # the float sums are associative and engine-identical
        "zipf_fit": zp_mod.zipf_fit_sql(),
        # r5: coupling — the co-citation body over the transposed edges
        "bib_coupling_pairs": cc_mod.bib_coupling_sql(LINKS_CTE),
        # r5: MOSS matching — selected-fp inverted index, max-df cap
        "winnow_overlap_pairs": winn.winnow_overlap_pairs_sql(),
        # r5: incremental MOSS — union-subset identity twin (the full
        # matcher restricted to pairs with a delta member)
        "winnow_incremental": f"""
            SELECT * FROM ({winn.winnow_overlap_pairs_sql()})
            WHERE doc_a % 10 = 0 OR doc_b % 10 = 0
        """,
        # r5: greedy maximal matching = a functional-graph walk, so the
        # trained segmenter (fit + apply) oracles as one recursive CTE
        "word_segment": _word_segment_sql_oracle(),
        # ner_entities / sessionize_stream / crawl_fetch_log / lda_topics:
        # UDF-stateful / ML — rows-only by design
    }


def _relation_extract_full_sql() -> str:
    from web_scraper_spark.functions.vocab import synth_vocab
    from web_scraper_spark.pipeline.relations import compile_vocab

    return _relation_extract_sql(vocab=compile_vocab(synth_vocab()), min_entity_len=6)


def _sessionize_sql() -> str:
    from web_scraper_spark.streaming.sessionize import sessionize_batch_sql

    return sessionize_batch_sql("events")


def oracle_sql_slot_window() -> str:
    return f"""
        SELECT time_bucket(INTERVAL 3 HOURS, ts) AS slot_start, event_type,
               count(*) AS n_events,
               {an.dec_sum_sql('value')} AS sum_value
        FROM events GROUP BY 1, 2
    """
