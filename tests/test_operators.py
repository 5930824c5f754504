"""Unit tests for the operator library (dedup tiers, similarity, text ops)
with hand-checkable fixtures, plus Spark↔DuckDB↔Python
hash portability — the property every oracle-checked sketch rests on."""

from __future__ import annotations

import math

import duckdb
import pytest
from pyspark.sql import functions as F

from web_scraper_spark.operators import dedup as dd
from web_scraper_spark.operators import similarity as sim
from web_scraper_spark.operators.hashing import hash60, hash60_py, hash60_sql


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog today"),
        (2, "the quick brown fox jumps over the lazy dog today"),  # exact dup of 1
        (3, "the quick brown fox jumps over the lazy cat today"),  # near dup of 1
        (4, "completely different content about spark partitions and shuffles here"),
        (5, "aa"),  # degenerate: 2 tokens → no 3-shingles
        (6, ""),  # empty
        # high-overlap near-dup pair (jaccard ≈ 0.9): LSH recall test
        (7, "one two three four five six seven eight nine ten eleven twelve "
            "thirteen fourteen fifteen sixteen seventeen eighteen nineteen twenty"),
        (8, "one two three four five six seven eight nine ten eleven twelve "
            "thirteen fourteen fifteen sixteen seventeen eighteen nineteen hundred"),
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_hash60_portable(spark):
    samples = ["abc", "the quick", "ünïcode ☃", "a:b:c", ""]
    sdf = spark.createDataFrame([(s,) for s in samples], "s string")
    got = {r["s"]: r["h"] for r in sdf.select("s", hash60(F.col("s")).alias("h")).collect()}
    con = duckdb.connect()
    for s in samples:
        assert got[s] == hash60_py(s)
        assert got[s] == con.execute(f"select {hash60_sql('?')}", [s]).fetchone()[0]


def test_exact_dedup_finds_duplicates(docs):
    groups = {r["keeper_id"]: r["n_copies"] for r in dd.exact_dup_groups(docs).collect()}
    assert groups[1] == 2  # docs 1 and 2 collapse, min id keeps
    assert groups[3] == 1


def test_shingles_and_jaccard(docs):
    sh = dd.doc_shingles(docs)
    by_doc = sh.groupBy("doc_id").count().collect()
    counts = {r["doc_id"]: r["count"] for r in by_doc}
    assert counts[1] == 8  # 10 tokens → 8 distinct 3-shingles
    assert 5 not in counts and 6 not in counts  # degenerate docs drop out
    pairs = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in dd.jaccard_pairs(sh, 0.2).collect()}
    assert pairs[(1, 2)] == 1.0
    # docs 1 vs 3 differ in one token ('dog'→'cat') → the 2 shingles
    # containing it differ: common = 6, union = 10, j = 0.6
    assert math.isclose(pairs[(1, 3)], 0.6)
    assert (1, 4) not in pairs


def test_minhash_lsh_pipeline(docs):
    got = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in dd.minhash_lsh_pairs(docs, tau=0.3).collect()}
    assert got[(1, 2)] == 1.0  # exact dup always collides in every band
    # 18 tokens shared of 16+16 shingles, 15 common → j = 15/17 ≈ 0.88:
    # collision probability 1-(1-j^3)^4 ≈ 0.98 and deterministic given the
    # fixed hash family — recall of a true near-dup
    assert (7, 8) in got
    assert all(j >= 0.3 for j in got.values())
    # every emitted jaccard equals the exact inverted-index tier's value
    exact = {(r["doc_a"], r["doc_b"]): r["jaccard"]
             for r in dd.jaccard_pairs(dd.doc_shingles(docs), 0.3).collect()}
    for pair, j in got.items():
        assert exact[pair] == j


def test_simhash_properties(docs):
    sh = {r["doc_id"]: r["simhash"] for r in dd.simhash(docs).collect()}
    assert sh[1] == sh[2]  # identical text → identical simhash
    assert 0 <= sh[1] < 2 ** 32
    ham_13 = bin(sh[1] ^ sh[3]).count("1")
    ham_14 = bin(sh[1] ^ sh[4]).count("1")
    assert ham_13 < ham_14  # near dup closer than unrelated doc
    pairs = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in
             dd.simhash_near_pairs(dd.simhash(docs), max_hamming=3).collect()}
    assert pairs[(1, 2)] == 0


def test_dec_sum_order_insensitive_cross_engine(spark):
    """The decimal-exact money-sum contract: identical rounded result for
    any summation order and in both engines — including values engineered
    to land a double-sum on a .005 rounding boundary (the r1 penny bug)."""
    import numpy as np

    from web_scraper_spark.operators.analytics import dec_sum, dec_sum_sql

    rng = np.random.default_rng(99)
    vals = list(np.round(rng.uniform(0.0, 99999.99, 5000), 4))
    vals += [0.0025, 0.0025, 0.005, 12345.0049, 0.0001]  # boundary pressure
    df = spark.createDataFrame([(i, float(v)) for i, v in enumerate(vals)], "i bigint, v double")
    fwd = df.orderBy("i").coalesce(1).agg(dec_sum(F.col("v")).alias("s")).collect()[0]["s"]
    rev = df.orderBy(F.col("i").desc()).coalesce(1).agg(dec_sum(F.col("v")).alias("s")).collect()[0]["s"]
    shuf = df.repartition(16).agg(dec_sum(F.col("v")).alias("s")).collect()[0]["s"]
    con = duckdb.connect()
    con.register("t", df.toPandas())
    duck = con.execute(f"SELECT {dec_sum_sql('v')} AS s FROM t").fetchone()[0]
    assert fwd == rev == shuf == duck


def test_simhash_arrow_equals_expression(docs):
    """The one-pass Arrow sketch must be bit-identical to the 32-HOF
    expression form (which remains the DuckDB oracle's shape)."""
    exp = {r["doc_id"]: r["simhash"] for r in dd.simhash(docs).collect()}
    arw = {r["doc_id"]: r["simhash"] for r in dd.simhash_arrow(docs).collect()}
    assert exp == arw


def test_jaccard_stop_shingle_cap(spark):
    """A boilerplate shingle shared by EVERY doc must not explode the
    posting self-join: with max_df capping it out, pairs supported only
    by the boilerplate disappear, genuinely-similar pairs survive."""
    boiler = "all rights reserved everywhere"
    rows = [(i, f"unique{i} distinct{i} tokens{i} here {boiler}") for i in range(20)]
    rows += [(100, "same body text repeated fully"), (101, "same body text repeated fully")]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    sh = dd.doc_shingles(docs)
    uncapped = {(r["doc_a"], r["doc_b"]) for r in dd.jaccard_pairs(sh, tau=0.2, max_df=10**6).collect()}
    capped = {(r["doc_a"], r["doc_b"]) for r in dd.jaccard_pairs(sh, tau=0.2, max_df=10).collect()}
    assert (100, 101) in capped            # true dup pair survives the cap
    assert capped < uncapped               # boilerplate-only pairs are gone
    assert all(a < 100 and b < 100 for a, b in uncapped - capped)


def test_posting_pairs_hand_case(spark):
    """The df cap is inclusive (a key held by exactly max_df entities
    stays, max_df + 1 goes), a two-column key is one key, max_df=None
    keeps every key, and n_common counts shared keys exactly, a < b."""
    def pairs(df, key, max_df):
        out = dd.posting_pairs(df, key, "ent", max_df)
        assert out.columns == ["a", "b", "n_common"]
        return {(r["a"], r["b"]): r["n_common"] for r in out.collect()}

    one = spark.createDataFrame(
        [("k2", 1), ("k2", 2)]
        + [("k3", e) for e in (3, 1, 2)]  # exactly max_df = 3 holders
        + [("k4", e) for e in (4, 3, 2, 1)],  # max_df + 1 holders
        "key string, ent bigint",
    )
    assert pairs(one, "key", 3) == {(1, 2): 2, (1, 3): 1, (2, 3): 1}
    assert pairs(one, "key", None) == {
        (1, 2): 3, (1, 3): 2, (2, 3): 2, (1, 4): 1, (2, 4): 1, (3, 4): 1,
    }
    # (0, x) and (1, x) are different keys, though they share a bkey
    two = spark.createDataFrame(
        [(0, "x", 2), (0, "x", 1), (1, "x", 1), (1, "x", 2), (1, "x", 3)],
        "band int, bkey string, ent bigint",
    )
    assert pairs(two, ["band", "bkey"], None) == {(1, 2): 2, (1, 3): 1, (2, 3): 1}
    assert pairs(two, ["band", "bkey"], 2) == {(1, 2): 1}


def test_lsh_ann_bucket_cap(spark):
    """A degenerate bucket (many identical vectors) is dropped by
    max_bucket instead of emitting B(B-1)/2 candidates."""
    v = [1.0] * 8
    w = [1.0] * 7 + [-1.0]
    rows = [(i, v) for i in range(40)] + [(100, w), (101, w)]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    capped = {
        (r["vec_a"], r["vec_b"])
        for r in sim.lsh_ann_pairs(emb, tau=0.5, n_tables=2, max_bucket=10).collect()
    }
    assert all(a >= 100 for a, _ in capped)  # the 40-clone bucket never pairs
    uncapped = {
        (r["vec_a"], r["vec_b"])
        for r in sim.lsh_ann_pairs(emb, tau=0.5, n_tables=2, max_bucket=1000).collect()
    }
    assert len(uncapped) > len(capped)


def test_blocked_exact_pairs_equal_naive(spark, sf_dir):
    """near_pairs_exact_blocked must reproduce the naive all-pairs fold
    plan exactly (ids AND 6-dp values) — it is the registered query."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    naive = {(r["vec_a"], r["vec_b"]): r["cos_sim"]
             for r in dd.embedding_near_pairs(emb, tau=0.3).collect()}
    blocked = {(r["vec_a"], r["vec_b"]): r["cos_sim"]
               for r in sim.near_pairs_exact_blocked(emb, tau=0.3).collect()}
    assert naive == blocked


def test_asof_join_semantics(spark):
    from web_scraper_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 10, "e1"), (1, 25, "e2"), (2, 5, "e3"), (3, 50, "e4")],
        "k bigint, t bigint, ev string",
    )
    right = spark.createDataFrame(
        [(1, 10, "a"), (1, 20, "b"), (2, 7, "c")],
        "k bigint, rt bigint, payload string",
    )
    got = {r["ev"]: r["payload"] for r in asof_join(
        left, right, key="k", left_ts="t", right_ts="rt", payload_cols=["payload"]
    ).collect()}
    assert got["e1"] == "a"   # equal timestamp matches (<=)
    assert got["e2"] == "b"   # latest earlier row wins
    assert got["e3"] is None  # no right row early enough
    assert got["e4"] is None  # key with no right rows at all


def test_asof_join_null_payload_atomic(spark):
    from web_scraper_spark.operators.asof import asof_join

    left = spark.createDataFrame([(1, 30, "e1")], "k bigint, t bigint, ev string")
    right = spark.createDataFrame(
        [(1, 10, "a", 100.0), (1, 20, None, 200.0)],
        "k bigint, rt bigint, p1 string, p2 double",
    )
    row = asof_join(
        left, right, key="k", left_ts="t", right_ts="rt", payload_cols=["p1", "p2"]
    ).collect()[0]
    # the as-of match is rt=20, whose p1 is genuinely NULL: a per-column
    # carry would resurrect 'a' from rt=10 — the struct carry must not
    assert row["p1"] is None
    assert row["p2"] == 200.0


def test_sketch_matches_expression_on_whitespace_edges(spark):
    """sketch_docs (Arrow pass) must reproduce the Column/DuckDB tokenize
    semantics exactly, including leading/trailing \\t and \\n (space-only
    trim + \\s+ collapse leaves a leading empty token)."""
    rows = [
        (1, "\t the quick brown fox jumps over the lazy dog\n"),
        (2, "\n\nline one more text two three four five six seven\t"),
        (3, "   plain doc with ordinary spacing here   "),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    sk = {r["doc_id"]: list(r["mins"]) for r in dd.sketch_docs(docs).collect()}
    cols = [f"mh{i}" for i in range(dd.N_MINHASH)]
    exp = {
        r["doc_id"]: [r[c] for c in cols]
        for r in dd.minhash_signatures_arrays(docs).collect()
    }
    assert sk == exp
    arrow = {
        r["doc_id"]: [r[c] for c in cols]
        for r in dd.minhash_signatures_arrow(docs).collect()
    }
    assert arrow == exp  # the registered Arrow form == the expression twin
    con = duckdb.connect()
    con.register("documents", docs.toPandas())
    dk = con.execute(dd.minhash_signatures_arrays_sql("documents")).fetchdf()
    for _, r in dk.iterrows():
        assert sk[r["doc_id"]] == [r[c] for c in cols]


def test_dedup_clusters_label_propagation(spark):
    # two components: {1,2,3} (chain, min 1) and {10,20} (min 10)
    pairs = spark.createDataFrame(
        [(2, 3, 0.9), (1, 2, 0.8), (10, 20, 0.7)],
        "doc_a bigint, doc_b bigint, jaccard double",
    )
    got = {r["doc_id"]: r["cluster_id"] for r in dd.dedup_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 20: 10}


@pytest.fixture(scope="module")
def emb(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0, 0.0]),
        (2, [0.0, 1.0, 0.0, 0.0]),
        (3, [-1.0, 0.0, 0.0, 0.0]),
    ]
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")


def test_cosine_pairs_exact(emb):
    pairs = {(r["vec_a"], r["vec_b"]): r["cos_sim"] for r in
             dd.embedding_near_pairs(emb, tau=-1.1).collect()}
    assert pairs[(0, 2)] == 0.0
    assert pairs[(0, 3)] == -1.0
    expected = 0.9 / math.sqrt(0.81 + 0.01)
    assert math.isclose(pairs[(0, 1)], round(expected, 6), abs_tol=1e-6)


def test_brute_topk_ordering(emb):
    got = sim.brute_topk(emb, n_queries=1, k=3).collect()
    order = [r["neighbor_id"] for r in sorted(got, key=lambda r: r["rank"])]
    assert order == [1, 2, 3]  # by descending cosine to vec 0


def test_blocked_topk_equals_fold_topk(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    fold = {(r["query_id"], r["rank"]): (r["neighbor_id"], r["cos_sim"])
            for r in sim.brute_topk(emb, n_queries=3, k=5).collect()}
    fast = {(r["query_id"], r["rank"]): (r["neighbor_id"], r["cos_sim"])
            for r in sim.brute_topk_blocked(emb, n_queries=3, k=5).collect()}
    # stage-2 fold re-verify makes the blocked path bit-identical
    assert fold == fast


def test_blocked_pairs_equal_fold_pairs(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    fold = {(r["vec_a"], r["vec_b"]): r["cos_sim"]
            for r in dd.embedding_near_pairs(emb, tau=0.25).collect()}
    fast = {(r["vec_a"], r["vec_b"]): r["cos_sim"]
            for r in sim.near_pairs_blocked(emb, tau=0.25).collect()}
    assert fold.keys() == fast.keys()
    assert all(abs(fold[k] - fast[k]) < 1e-5 for k in fold)


def test_lsh_ann_recalls_close_pair(spark):
    # 64-dim so signatures use the real plane dimensionality
    base = [1.0] + [0.0] * 63
    near = [1.0, 0.001] + [0.0] * 62  # cos ≈ 0.9999995 → collides in both tables
    far = [0.0] * 63 + [1.0]
    emb64 = spark.createDataFrame(
        [(0, base), (1, near), (2, far)], "vec_id bigint, embedding array<double>"
    )
    got = {(r["vec_a"], r["vec_b"]) for r in sim.lsh_ann_pairs(emb64, tau=0.9, n_tables=2).collect()}
    assert (0, 1) in got
    assert (0, 2) not in got  # cosine 0 < tau even if bucketed together


def test_lang_id_charset_and_markers(spark):
    from web_scraper_spark.operators.text import cjk_ratio, clean_text, lang_pred, tokens

    rows = [
        (1, "the cat is in the house and that is fine"),
        (2, "der hund ist nicht in das haus und zu"),
        (3, "这是一个中文文档 完全是中文内容 没有别的"),
        (4, "xyzzy plugh"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    tok = tokens(clean_text(F.col("text")))
    got = {r["doc_id"]: r["p"] for r in df.select("doc_id", lang_pred(tok, cjk_ratio(F.col("text"))).alias("p")).collect()}
    assert got[1] == "en"
    assert got[2] == "de"
    assert got[3] == "zh"
    assert got[4] == "und"


def test_quality_empty_text_guard(spark):
    from web_scraper_spark.operators.text import quality_columns

    df = spark.createDataFrame([(1, ""), (2, "   ")], "doc_id int, text string")
    cols = quality_columns("text")
    rows = df.select(cols["n_tokens"].alias("n"), cols["quality_score"].alias("q")).collect()
    for r in rows:
        assert r["n"] == 0
        assert r["q"] is not None and not math.isnan(r["q"])


# ---------------------------------------------------------------------------
# cohort_retention (weekly cohort matrix)
# ---------------------------------------------------------------------------


def test_cohort_retention_hand_matrix(spark, tmp_path):
    """Hand-computed cohort matrix: Monday truncation (a Sunday-night
    event lands in its Monday's week), within-week duplicate events count
    once, age-0 retention is exactly 1.0, and fractions round like the
    oracle (1/3 -> 0.333333)."""
    import datetime as dt

    from web_scraper_spark.queries import q_cohort_retention

    def ts(day, h=9, m=0):
        return dt.datetime(2024, 1, day, h, m)

    rows = [
        # cohort W0 (week of Mon 2024-01-01): users 1,2,3
        (1, ts(1)), (1, ts(2)),          # two W0 events: counted once
        (1, ts(8)), (1, ts(15)),         # active W1 and W2
        (2, ts(3)), (2, ts(16)),         # active W0 and W2
        (3, ts(7, 23, 59)),              # Sunday night: still W0
        # cohort W1 (week of Mon 2024-01-08): user 4
        (4, ts(9)), (4, ts(17)),
    ]
    ev = spark.createDataFrame(rows, "user_id bigint, ts timestamp")
    ev.write.parquet(str(tmp_path / "events.parquet"))
    out = {
        (str(r["cohort_week"]), r["age_weeks"]): r
        for r in q_cohort_retention(spark, str(tmp_path)).collect()
    }
    assert len(out) == 5
    w0, w1 = "2024-01-01", "2024-01-08"
    assert out[(w0, 0)]["n_active"] == 3 and out[(w0, 0)]["retention"] == 1.0
    assert out[(w0, 0)]["cohort_size"] == 3
    assert out[(w0, 1)]["n_active"] == 1 and out[(w0, 1)]["retention"] == 0.333333
    assert out[(w0, 2)]["n_active"] == 2 and out[(w0, 2)]["retention"] == 0.666667
    assert out[(w1, 0)]["n_active"] == 1 and out[(w1, 0)]["retention"] == 1.0
    assert out[(w1, 1)]["n_active"] == 1 and out[(w1, 1)]["cohort_size"] == 1


# ---------------------------------------------------------------------------
# containment_pairs (Broder asymmetric near-dup)
# ---------------------------------------------------------------------------


def test_containment_catches_excerpt_jaccard_misses(spark):
    """A 10-token excerpt of a 40-token doc: every excerpt shingle is in
    the container (containment 1.0) but Jaccard is ~0.2 — below the 0.4
    jaccard tier threshold. The asymmetric measure is the only one that
    flags the pair, and the direction columns identify which side is the
    excerpt."""
    big = " ".join(f"w{i}" for i in range(40))
    excerpt = " ".join(f"w{i}" for i in range(10, 20))
    other = " ".join(f"z{i}" for i in range(20))
    df = spark.createDataFrame(
        [(1, big), (2, excerpt), (3, other)], "doc_id bigint, text string"
    )
    sh = dd.doc_shingles(df)
    pairs = {(r["doc_a"], r["doc_b"]): r for r in dd.containment_pairs(sh, tau=0.8).collect()}
    assert set(pairs) == {(1, 2)}
    r = pairs[(1, 2)]
    # doc 2 (the excerpt, 8 shingles) fully contained in doc 1 (38 shingles)
    assert r["cont_b_in_a"] == 1.0
    assert r["cont_a_in_b"] == round(8 / 38, 6)
    # symmetric jaccard misses it at its own threshold
    assert dd.jaccard_pairs(sh, tau=0.4).where(
        "doc_a = 1 and doc_b = 2"
    ).count() == 0


def test_containment_pairs_max_df_cap(spark):
    """A shingle shared by every doc is dropped by the df cap before the
    self-join, so a corpus-wide boilerplate shingle alone cannot form
    pairs; set sizes stay exact (computed pre-prune) so containment
    values for surviving pairs are unchanged."""
    boiler = "same same same"
    rows = [(i, f"u{i} v{i} {boiler}") for i in range(1, 6)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    sh = dd.doc_shingles(df)
    # cap of 1 drops every shared shingle -> no pairs at all
    assert dd.containment_pairs(sh, tau=0.1, max_df=1).count() == 0
