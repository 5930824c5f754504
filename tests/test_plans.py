"""Plan-shape regression tests — the 100 TB guarantees, asserted on the
physical plan so a refactor cannot silently reintroduce a shuffle or lose
pushdown.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from web_scraper_spark.operators import dedup as dd


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_minhash_signatures_zero_shuffle(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _plan(dd.minhash_signatures_arrays(docs))
    assert "Exchange" not in plan  # pure narrow map over the scan


def test_simhash_zero_shuffle(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _plan(dd.simhash(docs))
    assert "Exchange" not in plan


def test_q1_pushdown_and_pruning(spark, sf_dir):
    from web_scraper_spark.operators.analytics import q1_pricing_summary

    plan = _plan(q1_pricing_summary(spark, sf_dir))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # column pruning: the scan must not read the unused l_orderkey
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_orderkey" not in read_schema and "l_quantity" in read_schema


def test_q3_broadcasts_dimension(spark, sf_dir):
    from web_scraper_spark.operators.analytics import q3_shipping_priority

    plan = _plan(q3_shipping_priority(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_no_single_partition_windows(spark, sf_dir):
    """The r1 scale-killers: a Window with no partitionBy serializes the
    whole frame through one task (plan shows a SinglePartition exchange).
    assign_ids and the two-phase global rank must never reintroduce one."""
    from web_scraper_spark.operators.analytics import assign_ids
    from web_scraper_spark.operators.ranking import with_global_rank

    plan = _plan(assign_ids(spark, sf_dir))
    assert "SinglePartition" not in plan

    df = spark.range(1000).select(F.col("id"), (F.col("id") % 7).alias("k"))
    ranked, handle = with_global_rank(df, [F.col("k").asc(), F.col("id").asc()], "rk")
    assert "SinglePartition" not in _plan(ranked)
    # and the ranks equal the global-window reference
    w = Window.orderBy(F.col("k").asc(), F.col("id").asc())
    want = {
        (r["id"], r["rk"])
        for r in df.withColumn("rk", F.row_number().over(w).cast("long")).collect()
    }
    got = {(r["id"], r["rk"]) for r in ranked.collect()}
    handle.unpersist()
    assert got == want


def test_frontier_canon_native_for_percent_free(spark):
    """The frontier-expand key derivation runs no Python stage at all:
    canonicalization, percent step included, is native."""
    from web_scraper_spark.frontier.engine import _with_keys

    df = spark.createDataFrame(
        [(f"https://h{i % 9}.example/p/{i}",) for i in range(100)], "url string"
    )
    keyed = _with_keys(df, 16)
    plan = _plan(keyed)
    n_python = plan.count("ArrowEvalPython") + plan.count("BatchEvalPython")
    assert n_python == 0
    assert keyed.filter(F.col("url_canon").isNull()).count() == 0


def test_posting_pairs_cap_and_self_join_share_one_exchange(spark):
    """posting_pairs takes df from a window over the key, so ONE
    hashpartitioning(key) exchange feeds the df cap and the self-join;
    the join's other side is a ReusedExchange of it, not a second
    shuffle. Checked on the final adaptive plan, after execution."""
    import re

    postings = spark.createDataFrame(
        [(k % 7, e) for e in range(40) for k in range(e % 5, e % 5 + 3)],
        "pkey int, ent bigint",
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ
        pairs = dd.posting_pairs(postings, "pkey", "ent", max_df=20)
        pairs.collect()
        plan = _plan(pairs).split("== Initial Plan ==")[0]
        assert "SortMergeJoin" in plan and "Window" in plan
        assert len(re.findall(r"\+- Exchange hashpartitioning\(pkey#", plan)) == 1, plan
        assert len(re.findall(
            r"ReusedExchange \[[^\]]*\], Exchange hashpartitioning\(pkey#", plan
        )) == 1, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_bucketed_join_is_exchange_free(spark, sf_dir, tmp_path):
    """Co-bucketed writes make the fact-fact join shuffle-free: the SMJ
    reads matching buckets directly — no Exchange on either side. This is
    the 100 TB co-location strategy (README 'Deployment & sizing')."""
    from web_scraper_spark.sources.bucketed import cobucketed_join, write_bucketed

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        F.col("l_orderkey").alias("orderkey"), "l_quantity"
    )
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        F.col("o_orderkey").alias("orderkey"), "o_totalprice"
    )
    write_bucketed(li, "b_lineitem", ["orderkey"], n_buckets=8, sort_cols=["orderkey"])
    write_bucketed(orders, "b_orders", ["orderkey"], n_buckets=8, sort_cols=["orderkey"])
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ
        joined = cobucketed_join(spark, "b_lineitem", "b_orders", on=["orderkey"])
        plan = _plan(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan  # zero shuffles: buckets align
        # and the join is correct
        want = li.join(orders, on="orderkey").count()
        assert joined.count() == want
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS b_lineitem")
        spark.sql("DROP TABLE IF EXISTS b_orders")


def test_two_phase_politeness_equals_single_window(spark):
    """The salted pre-cap must be output-identical to the plain per-host
    budget window — including under heavy skew (one hot host)."""
    from web_scraper_spark.frontier.politeness import select_round

    n = 5000
    df = spark.range(n).select(
        F.when(F.col("id") % 2 == 0, F.lit("hot.example"))
        .otherwise(F.concat(F.lit("h"), (F.col("id") % 50).cast("string"), F.lit(".example")))
        .alias("host"),
        F.concat(F.lit("https://x/"), F.col("id").cast("string")).alias("url_canon"),
        F.xxhash64("id").alias("url_hash"),
        (F.col("id") % 3).cast("int").alias("depth"),
        (F.col("id") % 7).cast("long").alias("inlinks"),
        F.lit(0).alias("source_pos"),
        F.lit(0).alias("category_pos"),
        F.lit(0).alias("page_no"),
        (F.col("id") % 11).cast("int").alias("listing_pos"),
    )
    robots = spark.createDataFrame(
        [("hot.example", 0.5)], "host string, crawl_delay double"
    ).withColumn("disallow", F.array().cast("array<string>"))
    two_phase = select_round(df, robots, round_seconds=20.0, default_crawl_delay=1.0, salt=8)

    # plain single-window reference implementation
    from web_scraper_spark.frontier.politeness import priority_order

    with_delay = df.join(
        F.broadcast(robots.select("host", "crawl_delay")), on="host", how="left"
    ).withColumn("crawl_delay", F.coalesce(F.col("crawl_delay"), F.lit(1.0)))
    budget = F.floor(F.lit(20.0) / F.col("crawl_delay"))
    w = Window.partitionBy("host").orderBy(*priority_order())
    plain = (
        with_delay.withColumn("host_rank", F.row_number().over(w))
        .filter(F.col("host_rank") <= budget)
    )
    got = {(r["host"], r["url_canon"], r["host_rank"]) for r in two_phase.collect()}
    want = {(r["host"], r["url_canon"], r["host_rank"]) for r in plain.collect()}
    assert got == want
    # hot host got exactly its budget (40 fetches at 0.5s delay in 20s)
    assert sum(1 for h, _, _ in got if h == "hot.example") == 40


def test_frontier_sort_order_enables_rowgroup_skipping(spark, tmp_path):
    """The committer writes frontier files sorted by the priority key
    (frontier/state.py sortWithinPartitions — the Iceberg sort-order
    analogue). Prove the skip is REAL, not just claimed: in a
    multi-row-group frontier file the depth column's footer stats are
    clustered (most row groups are single-depth), so a top-priority
    depth=0 read can discard most row groups from the footers alone —
    and the filter actually reaches the scan as a pushed predicate."""
    import pyarrow.parquet as pq

    n = 400_000
    fr = spark.range(n).select(
        (F.col("id") % 3).cast("int").alias("depth"),
        (F.col("id") % 5).cast("int").alias("source_pos"),
        (F.col("id") % 7).cast("int").alias("category_pos"),
        (F.col("id") % 11).cast("int").alias("page_no"),
        (F.col("id") % 13).cast("int").alias("listing_pos"),
        F.concat(F.lit("https://h.example/a-"), F.col("id")).alias("url"),
    )
    out = str(tmp_path / "frontier_sorted")
    (
        fr.repartition(2)
        .sortWithinPartitions(
            "depth", "source_pos", "category_pos", "page_no", "listing_pos"
        )
        # small row groups so one file holds many — the 100 TB shape in
        # miniature (a real frontier file holds hundreds of row groups)
        .write.option("parquet.block.size", 256 * 1024)
        .mode("overwrite")
        .parquet(out)
    )
    groups = []  # (min_depth, max_depth) per row group across all files
    import os as _os

    for name in _os.listdir(out):
        if not name.endswith(".parquet"):
            continue
        md = pq.ParquetFile(_os.path.join(out, name)).metadata
        depth_idx = md.schema.names.index("depth")
        for g in range(md.num_row_groups):
            st = md.row_group(g).column(depth_idx).statistics
            groups.append((st.min, st.max))
    assert len(groups) >= 6, groups  # genuinely multi-row-group
    single_depth = sum(1 for lo, hi in groups if lo == hi)
    assert single_depth / len(groups) >= 0.5, groups  # sorted → clustered
    # a depth=0 scan can skip every row group whose range excludes 0
    skippable = sum(1 for lo, hi in groups if not (lo <= 0 <= hi))
    assert skippable / len(groups) >= 0.4, groups
    # and Spark pushes the predicate down to the scan
    plan = _plan(spark.read.parquet(out).where(F.col("depth") == 0))
    assert "PushedFilters: [IsNotNull(depth), EqualTo(depth,0)]" in plan, plan
