"""Benchmark driver: one JSON line on stdout.

    python bench.py             # headline queries at $SPARK_GRAFT_SF_DIR
                                # (default /root/testdata/sf0.1) on
                                # local[$SPARK_GRAFT_CPUS] + frontier and
                                # crawl throughput
    python bench.py --scaling   # north-rule scaling evidence: the same
                                # frontier job at local[8] vs local[32],
                                # throughput at both + efficiency
    SPARK_GRAFT_CRAWL_APC=1600 python bench.py --crawl-scaling
                                # crawl e2e N->4N efficiency at a chosen
                                # round size (evidence the per-round
                                # constant amortizes as rounds grow)

Headline metric (BASELINE.json north rule): frontier URLs expanded+deduped
per second. The frontier microbench generates a deterministic synthetic
frontier with spark.range (no external data), canonicalizes (native
expression path), hashes, anti-joins a half-size seen set, and runs the
per-host politeness budget window — the exact hot path of
frontier/engine.py minus parse (which bench_crawl covers end-to-end).
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time


def _get_spark(cpus: int, pin: bool = False):
    """Session at a given parallelism. pin=True restricts the WHOLE process
    (and the child JVM it launches) to `cpus` physical cores — an honest
    emulation of an N-core executor node; without it, a local[N] JVM's GC/
    shuffle/IO threads silently borrow the other cores and understate the
    true N-core wall time. Must be called before the first JVM launch in
    the process (affinity is inherited at fork)."""
    if pin:
        os.sched_setaffinity(0, set(range(cpus)))
    from web_scraper_spark.session import get_spark

    return get_spark(
        app_name=f"bench_{cpus}",
        master=f"local[{cpus}]",
        shuffle_partitions=max(cpus * 2, 8),
        extra_conf={"spark.sql.files.maxPartitionBytes": str(32 * 1024 * 1024)},
    )


# ---------------------------------------------------------------------------
# Frontier expand+dedup microbench (north-star hot path)
# ---------------------------------------------------------------------------

def synth_frontier(spark, n_urls: int):
    """Deterministic synthetic frontier: n_urls URLs over 1000 hosts with a
    hot-host skew (host 0 gets ~10%), plus query strings and mixed-case
    spellings so canonicalization has real work."""
    from pyspark.sql import functions as F

    r = spark.range(n_urls)
    host_id = F.when(F.col("id") % 10 == 0, F.lit(0)).otherwise(
        F.pmod(F.xxhash64("id"), F.lit(1000))
    )
    return r.select(
        F.concat(
            F.lit("HTTP://Host-"),
            host_id.cast("string"),
            F.lit(".example.com:80/Path//"),
            (F.col("id") % 97).cast("string"),
            F.lit("/article-"),
            F.col("id").cast("string"),
            F.lit(".htm?ref=rss#frag"),
        ).alias("url"),
        (F.col("id") % 3).cast("int").alias("depth"),
        F.pmod(F.xxhash64("id") + 7, F.lit(100)).cast("long").alias("inlinks"),
    )


def bench_frontier(spark, n_urls: int = 12_000_000, budget: int = 200, salt: int = 16) -> dict:
    """Expand+dedup+schedule throughput in URLs/s (north-star metric).

    Uses the engine's two-phase politeness shape (politeness.select_round):
    salted pre-cap spreads the hot host over `salt` tasks before the exact
    per-host budget window — without it, the 10%-hot host serializes one
    task and caps scaling."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from web_scraper_spark.urls import canon_url, url_hash, url_host

    fr = synth_frontier(spark, n_urls)
    seen = (
        spark.range(0, n_urls, 2)
        .select(
            F.xxhash64(
                F.concat(F.lit("seen-"), (F.col("id") % (n_urls // 2)).cast("string"))
            ).alias("url_hash")
        )
        .unionByName(
            # half the seen set actually overlaps the frontier's hash space
            synth_frontier(spark, n_urls // 4).select(
                url_hash(canon_url(F.col("url"))).alias("url_hash")
            )
        )
    )
    t0 = time.monotonic()
    keyed = fr.select(
        canon_url(F.col("url")).alias("url_canon"),
        "depth",
        "inlinks",
    ).select("url_canon", "depth", "inlinks", url_hash(F.col("url_canon")).alias("url_hash"),
             url_host(F.col("url_canon")).alias("host"))
    new = keyed.join(seen, on="url_hash", how="left_anti")
    # tie-break on url_hash, not url_canon: same determinism, 8-byte sort
    # keys instead of 60-char strings — the sort is bandwidth-bound
    order = [F.col("depth").asc(), F.col("inlinks").desc(), F.col("url_hash").asc()]
    w_pre = Window.partitionBy("host", F.pmod(F.col("url_hash"), F.lit(salt))).orderBy(*order)
    precapped = (
        new.withColumn("pre_rank", F.row_number().over(w_pre))
        .where(F.col("pre_rank") <= budget)
    )
    w = Window.partitionBy("host").orderBy(*order)
    selected = (
        precapped.withColumn("host_rank", F.row_number().over(w))
        .where(F.col("host_rank") <= budget)
    )
    n_out = selected.count()
    wall = time.monotonic() - t0
    return {"n_urls": n_urls, "n_selected": n_out, "wall_s": round(wall, 3),
            "urls_per_s": round(n_urls / wall, 1)}


def bench_parse(spark, articles_per_category: int = 400) -> dict:
    """Parse-stage throughput: the mapInPandas HTML extract over the
    rendered synthetic corpus — the scale-dominant crawl cost (at 100 TB
    the parse is ~all the CPU; rounds and commits amortize away)."""
    from pyspark.sql import functions as F

    from web_scraper_spark.html.udfs import parse_pages
    from web_scraper_spark.synth import build_pages_df
    from web_scraper_spark.synth.sitegen import SiteConfig, build_site

    site = SiteConfig(n_categories=6, articles_per_category=articles_per_category)
    pages = build_pages_df(spark, site).cache()
    n_pages = pages.count()  # materialize corpus outside the timed window
    specs = {s["url"]: s for s in build_site(site)}
    meta = spark.createDataFrame(
        [
            (u, s["source"], {"home": 0, "listing": 1, "article": 2}[s["kind"]],
             s.get("category_name", ""), int(s.get("category_pos", -1)),
             int(s.get("page_no", 0)), int(s.get("listing_pos", -1)))
            for u, s in specs.items()
        ],
        "url string, source string, depth int, category_name string, "
        "category_pos int, page_no int, listing_pos int",
    )
    fetched = pages.select("url", "html").join(meta, "url")
    # warm the Python worker pool (a long-running crawl reuses workers;
    # cold-start would otherwise be billed to the short timed window)
    parse_pages(fetched.limit(64)).count()
    t0 = time.monotonic()
    n_recs = parse_pages(fetched).count()
    wall = time.monotonic() - t0
    pages.unpersist()
    return {
        "n_pages": n_pages,
        "n_records": n_recs,
        "wall_s": round(wall, 3),
        "pages_per_s": round(n_pages / wall, 1),
    }


def bench_crawl(spark, articles_per_category: int = 400) -> dict:
    """End-to-end crawl (fetch-join + parse + window filter + checkpoint)
    over a scaled synthetic site; URLs/s across all rounds."""
    from web_scraper_spark.frontier.engine import CrawlConfig, CrawlEngine
    from web_scraper_spark.synth import build_pages_df, build_robots_df, seed_urls
    from web_scraper_spark.synth.sitegen import SiteConfig

    site = SiteConfig(n_categories=6, articles_per_category=articles_per_category)
    pages = build_pages_df(spark, site).cache()
    pages.count()  # materialize the corpus outside the timed section
    cfg = CrawlConfig(
        as_of="2025-12-01T22:30:00", round_seconds=3600.0, max_rounds=8,
    )
    state_dir = tempfile.mkdtemp(prefix="bench_crawl_")
    eng = CrawlEngine(spark, pages, build_robots_df(spark, site), state_dir, cfg)
    t0 = time.monotonic()
    results = eng.run(seeds=seed_urls(site))
    wall = time.monotonic() - t0
    n_fetched = sum(r.metrics["fetched"] for r in results)
    n_expanded = sum(r.metrics["frontier_in"] + r.metrics["frontier_next"] for r in results)
    pages.unpersist()
    return {
        "rounds": len(results),
        "fetched": n_fetched,
        "frontier_urls": n_expanded,
        "wall_s": round(wall, 3),
        "urls_per_s": round(n_expanded / wall, 1) if wall else None,
    }


# ---------------------------------------------------------------------------
# Headline operator queries
# ---------------------------------------------------------------------------

HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_suppliers",
    "top3_parts_per_supplier",
    "rollup_order_grains",
    "slot_window_events",
    "token_stats",
    "quality_scores",
    "doc_fingerprints",
    "exact_dedup",
    "minhash_lsh_pairs",
    "simhash_pairs",
    "ngram_jaccard_pairs",
    "embedding_near_pairs",
    "near_pairs_blocked",
    "dedup_clusters",
    "dedup_centrality",       # PageRank reps: dangling mass rides the checkpoint job
    "corpus_filter",
    "incremental_dedup",      # delta-vs-corpus: only the 10% batch is sketched
    "ann_brute_topk",
    "ann_topk_blocked",
    "ann_lsh_pairs",
    "sessionize",
    "relation_extract",
    "relation_extract_full",  # 19-type x ~1,120-phrase vocab through the regex tier
    "ner_entities",           # P2 with the in-repo perceptron model tagger
    "assign_ids",             # two-phase global rank (no single-partition window)
    "stream_slot_window",
    "media_features",
    "word_segment",           # corpus-trained maximal-matching segmenter (fit+apply)
    "decontaminate",          # benchmark 8-gram overlap (broadcast gram join)
    "pii_scrub",              # counted redaction chains (pure codegen)
    "repetition_stats",       # Gopher repetition signals (one tagged explode)
    "keyword_search",         # conjunctive inverted-index search
    "bm25_topk",              # BM25 top-10/query, decimal-summed scores
    "bm25_topk_incremental",  # delta-only tokenization vs persisted index
    "robots_parse",           # robots.txt parse + rule application
    "ann_ivf_topk",           # persisted IVF index probe (partition-pruned)
    "lda_topics",             # Spark ML EM LDA fit + argmax (grain-k)
    "sessionize_stream",      # applyInPandasWithState sessionization
]

# registered queries NOT timed per-query, and why — "no silent caps"
# applied to bench coverage itself (r3 VERDICT): every OTHER registered
# query is timed (HEADLINE order first, the remainder appended sorted by
# name in bench_queries), so a new queries() entry can never be silently
# untimed.
UNTIMED = {
    "crawl_fetch_log": "full crawl engine run; timed directly by the "
    "crawl_end_to_end section (same engine, controlled round count)",
}


def caps_report(
    spark, sf_dir: str, max_bucket: int = 64, max_df: int = 1000,
    inject_hot: int = 0,
) -> dict:
    """No-silent-caps accounting: how much the dedup tiers' safety caps
    actually dropped at this SF. A bench that bounds coverage (hot LSH
    buckets, stop-shingle postings) must SAY what it dropped — zero here
    means the caps exist but did not engage on this corpus.

    ``inject_hot=M`` unions M clones of one document before sketching —
    the controlled skew a 100 TB web corpus exhibits naturally (mirror
    farms, boilerplate): with M > max_df every shingle of that document
    blows the posting cap, and with M > max_bucket its identical LSH
    band keys blow the bucket cap, so the report demonstrates both caps
    ENGAGING with exact dropped-row counts instead of merely existing."""
    from pyspark.sql import functions as F

    from web_scraper_spark.operators import dedup as dd

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    if inject_hot:
        hot = docs.orderBy("doc_id").limit(1).select("text")
        clones = (
            spark.range(inject_hot)
            .crossJoin(F.broadcast(hot))
            .select((F.lit(10**9) + F.col("id")).alias("doc_id"), "text")
        )
        docs = docs.select("doc_id", "text").unionByName(clones)
    sk = dd.sketch_docs(docs).localCheckpoint(eager=True)
    rows = dd.N_MINHASH // dd.N_BANDS
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.md5(
                F.concat_ws(
                    ",", *[F.element_at("mins", b * rows + r + 1) for r in range(rows)]
                )
            ).alias("bkey"),
        )
        for b in range(dd.N_BANDS)
    ]
    bsizes = (
        sk.select(F.explode(F.array(*band_structs)).alias("x"))
        .select("x.band", "x.bkey")
        .groupBy("band", "bkey")
        .count()
    )
    hot = bsizes.where(F.col("count") > max_bucket).agg(
        F.count("*").alias("n"), F.sum("count").alias("rows")
    ).collect()[0]
    postings = sk.select(F.explode("shset").alias("sh")).groupBy("sh").count()
    hot_p = postings.where(F.col("count") > max_df).agg(
        F.count("*").alias("n"), F.sum("count").alias("rows")
    ).collect()[0]
    return {
        "max_bucket": max_bucket,
        "lsh_buckets_over_cap": int(hot["n"] or 0),
        "lsh_rows_in_capped_buckets": int(hot["rows"] or 0),
        "max_df": max_df,
        "postings_over_max_df": int(hot_p["n"] or 0),
        "posting_rows_dropped": int(hot_p["rows"] or 0),
        "injected_clones": inject_hot,
    }


def bench_queries(spark, sf_dir: str, repeats: int = 2) -> dict[str, float]:
    """Best-of-`repeats` per query: the sandbox hypervisor throttles in
    waves (same-code walls vary ±40%), and the minimum is the least-
    contended, most hardware-faithful sample — the same rejection rule
    the scaling protocol uses."""
    from web_scraper_spark.queries import queries

    qs = queries()
    order = HEADLINE + sorted(set(qs) - set(HEADLINE) - set(UNTIMED))
    timings: dict[str, float] = {}
    for name in order:
        fn = qs[name]
        best = None
        for _ in range(repeats):
            t0 = time.monotonic()
            # count() forces full execution without driver-side collect cost
            fn(spark, sf_dir).count()
            wall = time.monotonic() - t0
            best = wall if best is None else min(best, wall)
        timings[name] = round(best, 3)
    return timings


# ---------------------------------------------------------------------------
# 10x SF stress (curation/search tiers): near-linear scaling evidence
# ---------------------------------------------------------------------------

def build_stress_docs(spark, sf_dir: str, mult: int = 10) -> str:
    """Deterministic mult-x documents table: each source doc yields `mult`
    variants (replica 0 verbatim; replica r>0 prefixed with a replica tag
    so token/gram inventories grow with the corpus instead of collapsing
    to exact clones). doc_id shifts by r*10^9 — a multiple of every
    modulus the curation queries split on (bench_mod=25, delta %10), so
    benchmark/delta proportions are preserved at the larger scale."""
    from pyspark.sql import functions as F

    out = tempfile.mkdtemp(prefix="bench_stress_sf_")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    reps = spark.range(mult).toDF("rep")
    big = docs.crossJoin(F.broadcast(reps)).select(
        (F.col("doc_id") + F.col("rep") * F.lit(10**9)).alias("doc_id"),
        F.when(F.col("rep") == 0, F.col("text"))
        .otherwise(
            F.concat(
                F.lit("variant "), F.col("rep").cast("string"), F.lit(" "),
                F.col("text"),
            )
        )
        .alias("text"),
        "lang",
        "source",
    )
    big = big.withColumn("n_chars", F.length("text").cast("long"))
    big.repartition(32).write.mode("overwrite").parquet(f"{out}/documents.parquet")
    return out


STRESS_QUERIES = ["decontaminate", "repetition_stats", "bm25_topk"]


def sf_stress(spark, sf_dir: str, mult: int = 10, repeats: int = 2) -> dict:
    """Walls for the curation/search headline shapes at 1x and mult-x the
    same corpus, plus cap counters at mult-x: the 'one tagged explode /
    broadcast gram join / postings pipeline' plans must hold near-linear
    wall growth (<= ~mult, VM throttling variance aside) — the r3 VERDICT
    asked for this as the tiers' scale-up evidence."""
    from web_scraper_spark.queries import queries

    qs = queries()
    stress_dir = build_stress_docs(spark, sf_dir, mult)
    out: dict = {"mult": mult, "queries": {}}
    for name in STRESS_QUERIES:
        fn = qs[name]
        walls = {}
        for label, d in (("base_s", sf_dir), ("stress_s", stress_dir)):
            best = None
            for _ in range(repeats):
                t0 = time.monotonic()
                fn(spark, d).count()
                wall = time.monotonic() - t0
                best = wall if best is None else min(best, wall)
            walls[label] = round(best, 3)
        walls["wall_growth"] = round(walls["stress_s"] / walls["base_s"], 2)
        out["queries"][name] = walls
    # cap counters at the stressed scale — the "no silent caps" accounting
    # must hold where the caps are most likely to engage
    out["caps_at_stress"] = caps_report(spark, stress_dir)
    return out


# ---------------------------------------------------------------------------
# Early-exit convergence (r5): the iterative tier's tol mode vs a fixed
# production-cap run on each algorithm's REGISTERED input graph. The
# registered/oracled queries keep fixed-iteration mode (the DuckDB twin
# unrolls a fixed count); this section evidences what a production caller
# saves by riding the per-iteration Observation's convergence signal
# (zero extra Spark jobs — operators/graphalgo.py). HITS runs on the
# purchase graph (q_link_hits's input, wide spectral gap: d/s reaches
# 1e-15 by iteration ~10); the symmetric synthetic-links graph is
# near-degenerate in its top eigenspace (d/s plateaus ~0.014), where NOT
# exiting is the correct behavior — the cap is the guard there.
# ---------------------------------------------------------------------------


def bench_early_exit(spark, sf_dir: str) -> dict:
    from pyspark.sql import functions as F

    from web_scraper_spark.operators import graphalgo as ga
    from web_scraper_spark.queries import _synthetic_links

    links = (
        _synthetic_links(spark, sf_dir)
        .select("src", "dst")
        .localCheckpoint(eager=True)  # input prep excluded from walls
    )
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_suppkey"
    )
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_custkey"
    )
    purchase = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("dst"),
        )
        .localCheckpoint(eager=True)
    )
    cases = (
        ("pagerank", ga.pagerank, links, 20, 1e-4),
        ("opic", ga.opic, links, 20, 1e-4),
        ("hits", ga.hits, purchase, 10, 1e-6),
    )
    out: dict = {}
    for name, fn, edges, cap, tol in cases:
        t0 = time.monotonic()
        fn(edges, n_iter=cap).count()
        fixed_s = time.monotonic() - t0
        iters: list = []
        t0 = time.monotonic()
        fn(edges, n_iter=cap, tol=tol, iters_out=iters).count()
        tol_s = time.monotonic() - t0
        out[name] = {
            "cap": cap,
            "tol": tol,
            "fixed_s": round(fixed_s, 3),
            "tol_s": round(tol_s, 3),
            "tol_iters": iters[0],
            "wall_ratio": round(tol_s / fixed_s, 3),
        }
    return out


# ---------------------------------------------------------------------------

def run_default() -> dict:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").split("sf")[-1]
    spark = _get_spark(cpus)
    spark.range(1000).count()  # JVM warmup
    # Arrow-worker warmup: spawn the Python worker pool once so the first
    # mapInPandas query measures steady-state throughput, not the ~2-3 s
    # one-time daemon fork (a long-lived cluster pays that once per
    # executor lifetime, not per query)
    def _ident(it):
        yield from it

    spark.range(cpus * 4, numPartitions=cpus).toDF("id").mapInPandas(
        _ident, "id long"
    ).count()
    timings = bench_queries(spark, sf_dir)
    stress = sf_stress(spark, sf_dir)
    caps = caps_report(spark, sf_dir)
    # skew-injected twin: proves the caps engage (mirror-farm shape) with
    # exact drop counts — "no silent caps" applied to the bench itself
    caps_injected = caps_report(spark, sf_dir, inject_hot=1100)
    # headline metric: best-of-2 (hypervisor-wave rejection, as above)
    frontier = min(
        (bench_frontier(spark) for _ in range(2)), key=lambda r: r["wall_s"]
    )
    parse = bench_parse(spark)
    crawl = bench_crawl(spark)
    early_exit = bench_early_exit(spark, sf_dir)
    spark.stop()
    return {
        "metric": "frontier URLs expanded+deduped per second (synthetic 2M-URL frontier, local mode)",
        "value": frontier["urls_per_s"],
        "unit": "urls/s",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "frontier": frontier,
        "parse_stage": parse,
        "crawl_end_to_end": crawl,
        "caps": caps,
        "caps_injected": caps_injected,
        "sf_stress": stress,
        "early_exit": early_exit,
        "untimed": UNTIMED,
        "cpus": cpus,
    }


def bench_calibration(spark, n: int = 100_000_000) -> float:
    """Machine-parallelism calibration: an embarrassingly-parallel pure-
    codegen job (hash of generated strings, no shuffle, no Python). Its
    N→4N speedup is the CEILING this box can deliver — on the sandbox VM
    that ceiling is well under 4x (frequency/bandwidth scaling under
    load), so job efficiency is reported both raw and normalized to it."""
    from pyspark.sql import functions as F

    t0 = time.monotonic()
    df = spark.range(n, numPartitions=max(spark.sparkContext.defaultParallelism * 4, 8)).select(
        F.xxhash64(F.concat(F.lit("u-"), F.col("id").cast("string"))).alias("h")
    )
    df.agg(F.max("h")).collect()
    return round(time.monotonic() - t0, 3)


def run_level(cpus: int, repeats: int = 2) -> dict:
    """One pinned measurement (child process of --scaling): N physical
    cores, local[N], fresh JVM. Best-of-`repeats` — the sandbox VM's
    hypervisor throttles unpredictably (single-run walls vary ±30%), and
    the minimum wall is the least-contended, most hardware-faithful
    sample."""
    spark = _get_spark(cpus, pin=True)
    spark.range(1000).count()
    calibration_s = min(bench_calibration(spark) for _ in range(repeats))
    frontier = min((bench_frontier(spark) for _ in range(repeats)), key=lambda r: r["wall_s"])
    # r5: a second, 4x-larger frontier size (48M URLs) — the design-point
    # claim is that efficiency RISES as per-job constants amortize over
    # more rows (BENCH_CRAWL_BY_SIZE showed it crawl-side); one run per
    # level per pass (the --scaling alternation still gives best-of-2)
    frontier_48m = bench_frontier(spark, n_urls=48_000_000)
    parse = min((bench_parse(spark, articles_per_category=800) for _ in range(repeats)), key=lambda r: r["wall_s"])
    crawl = bench_crawl(spark)
    spark.stop()
    return {
        "cpus": cpus,
        "calibration_s": calibration_s,
        "frontier": frontier,
        "frontier_48m": frontier_48m,
        "parse": parse,
        "crawl": crawl,
    }


def run_scaling(n: int = 2, n4: int = 8) -> dict:
    """North-rule evidence: the same job at N and 4N cores.

    Each level runs in its own subprocess because CPU affinity is
    inherited by the JVM at launch and cannot be changed for a running
    gateway — a fresh process per level is the only honest measurement."""
    import subprocess

    def one_level(cpus: int) -> dict:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--level", str(cpus)],
            capture_output=True,
            text=True,
            check=True,
        )
        return json.loads(proc.stdout.strip().splitlines()[-1])

    # Two alternating passes (N, 4N, N, 4N), best per level: the sandbox
    # hypervisor throttles in slow waves, and a single N-then-4N sequence
    # can land each level in a different wave — alternation + min cancels it.
    out: dict = {"levels": {}}
    for _pass in range(2):
        for cpus in (n, n4):
            got = one_level(cpus)
            key = str(cpus)
            prev = out["levels"].get(key)
            if prev is None:
                out["levels"][key] = got
            else:
                prev["calibration_s"] = min(prev["calibration_s"], got["calibration_s"])
                for job in ("frontier", "frontier_48m", "parse", "crawl"):
                    if got[job]["wall_s"] < prev[job]["wall_s"]:
                        prev[job] = got[job]
    fN = out["levels"][str(n)]["frontier"]["urls_per_s"]
    f4N = out["levels"][str(n4)]["frontier"]["urls_per_s"]
    f48N = out["levels"][str(n)]["frontier_48m"]["urls_per_s"]
    f48_4N = out["levels"][str(n4)]["frontier_48m"]["urls_per_s"]
    cN = out["levels"][str(n)]["crawl"]["urls_per_s"]
    c4N = out["levels"][str(n4)]["crawl"]["urls_per_s"]
    calN = out["levels"][str(n)]["calibration_s"]
    cal4N = out["levels"][str(n4)]["calibration_s"]
    machine_speedup = calN / cal4N
    ratio = n4 / n
    pN = out["levels"][str(n)]["parse"]["pages_per_s"]
    p4N = out["levels"][str(n4)]["parse"]["pages_per_s"]
    out["machine_speedup"] = round(machine_speedup, 3)
    out["machine_efficiency"] = round(machine_speedup / ratio, 3)
    out["frontier_scaling_efficiency"] = round(f4N / (ratio * fN), 3)
    # r5: the same job at 4x the frontier rows — the efficiency-vs-size
    # comparison (rising = constants amortize, the 100 TB design claim)
    out["frontier48_scaling_efficiency"] = round(f48_4N / (ratio * f48N), 3)
    out["frontier_efficiency_by_size"] = {
        "12M": out["frontier_scaling_efficiency"],
        "48M": out["frontier48_scaling_efficiency"],
    }
    out["parse_scaling_efficiency"] = round(p4N / (ratio * pN), 3)
    out["crawl_scaling_efficiency"] = round(c4N / (ratio * cN), 3)
    # job speedup normalized to what the hardware proved it can deliver on
    # a shuffle-free perfectly-parallel job
    out["frontier_efficiency_vs_machine"] = round((f4N / fN) / machine_speedup, 3)
    out["frontier48_efficiency_vs_machine"] = round(
        (f48_4N / f48N) / machine_speedup, 3
    )
    out["metric"] = (
        f"frontier throughput scaling efficiency, local[{n}] -> local[{n4}] "
        f"(CPU-pinned; machine ceiling measured by calibration job)"
    )
    out["value"] = out["frontier_scaling_efficiency"]
    out["unit"] = "efficiency"
    return out


def run_crawl_level(cpus: int) -> dict:
    """Crawl-only pinned level (child of --crawl-scaling). Site size via
    $SPARK_GRAFT_CRAWL_APC (articles per category; default 400)."""
    apc = int(os.environ.get("SPARK_GRAFT_CRAWL_APC", "400"))
    spark = _get_spark(cpus, pin=True)
    spark.range(1000).count()
    crawl = bench_crawl(spark, articles_per_category=apc)
    spark.stop()
    return {"cpus": cpus, "articles_per_category": apc, "crawl": crawl}


def run_crawl_scaling(n: int = 2, n4: int = 8) -> dict:
    """Crawl end-to-end scaling at a configurable ROUND SIZE: the per-round
    commit/planning constant is fixed, so efficiency must RISE with round
    size — this mode evidences that the toy-bench crawl efficiency is
    amortization, not a serial bottleneck. Same alternating best-of-2
    pinned-subprocess protocol as --scaling."""
    import subprocess

    def one_level(cpus: int) -> dict:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--crawl-level", str(cpus)],
            capture_output=True, text=True, check=True,
        )
        return json.loads(proc.stdout.strip().splitlines()[-1])

    out: dict = {"levels": {}}
    for _pass in range(2):
        for cpus in (n, n4):
            got = one_level(cpus)
            prev = out["levels"].get(str(cpus))
            if prev is None or got["crawl"]["wall_s"] < prev["crawl"]["wall_s"]:
                out["levels"][str(cpus)] = got
    cN = out["levels"][str(n)]["crawl"]["urls_per_s"]
    c4N = out["levels"][str(n4)]["crawl"]["urls_per_s"]
    out["articles_per_category"] = out["levels"][str(n)]["articles_per_category"]
    out["crawl_scaling_efficiency"] = round(c4N / ((n4 / n) * cN), 3)
    out["metric"] = (
        f"crawl end-to-end scaling efficiency, local[{n}] -> local[{n4}] "
        f"(CPU-pinned, articles_per_category={out['articles_per_category']})"
    )
    out["value"] = out["crawl_scaling_efficiency"]
    out["unit"] = "efficiency"
    return out


def compact_result(result: dict, full_name: str, budget: int = 1500) -> dict:
    """Compact bench summary for the FINAL stdout line.

    The driver that records BENCH_r{N}.json keeps only the last ~2,000
    chars of stdout and parses the final JSON line; the full per-query map
    (106+ entries, ~4.4 KB) outgrew that window in round 4 and the round's
    structured bench was lost (`parsed: null`). The final line is now a
    bounded summary — headline metric, frontier/parse/crawl sections, cap
    engagement, sf-stress growth, and the slowest queries — with the full
    per-query map written to ``full_name`` and referenced by name.
    """
    q = dict(result.get("queries", {}))
    slowest = dict(sorted(q.items(), key=lambda kv: -kv[1])[:8])
    caps_inj = result.get("caps_injected", {})
    out = {
        "metric": result["metric"],
        "value": result["value"],
        "unit": result["unit"],
        "sf": result.get("sf"),
        "cpus": result.get("cpus"),
        "queries": slowest,
        "queries_digest": {
            "n_timed": len(q),
            "total_s": round(sum(q.values()), 1),
            "full_map": full_name,
        },
        "frontier": result.get("frontier"),
        "parse_stage": result.get("parse_stage"),
        "crawl_end_to_end": result.get("crawl_end_to_end"),
        "caps_injected": {
            k: caps_inj.get(k)
            for k in (
                "lsh_buckets_over_cap",
                "lsh_rows_in_capped_buckets",
                "posting_rows_dropped",
                "injected_clones",
            )
        },
        "sf_stress": {
            k: v["wall_growth"]
            for k, v in result.get("sf_stress", {}).get("queries", {}).items()
        },
        "early_exit": {
            k: f"{v['tol_s']}s/{v['tol_iters']}it vs {v['fixed_s']}s/{v['cap']}it"
            for k, v in result.get("early_exit", {}).items()
        },
    }
    # guarantee the budget: shed slowest-query entries first, then the
    # stress map — the headline metric + sections always survive
    while len(json.dumps(out)) > budget and out["queries"]:
        out["queries"].popitem()
    if len(json.dumps(out)) > budget:
        out.pop("sf_stress", None)
    if len(json.dumps(out)) > budget:
        out.pop("early_exit", None)
    return out


if __name__ == "__main__":
    if "--level" in sys.argv:
        result = run_level(int(sys.argv[sys.argv.index("--level") + 1]))
    elif "--crawl-level" in sys.argv:
        result = run_crawl_level(int(sys.argv[sys.argv.index("--crawl-level") + 1]))
    elif "--crawl-scaling" in sys.argv:
        result = run_crawl_scaling()
    elif "--scaling" in sys.argv:
        # optional level override: `--scaling 8 32` measures local[8] ->
        # local[32] instead of the default 2 -> 8 (the brief's example
        # pair; both levels multi-core, so the 2-core turbo asymmetry
        # documented in BASELINE.md does not apply — at the price of 4N
        # being the whole machine, so OS jitter shares the 4N cores)
        i = sys.argv.index("--scaling")
        rest = [a for a in sys.argv[i + 1 : i + 3] if a.isdigit()]
        if len(rest) == 2:
            result = run_scaling(int(rest[0]), int(rest[1]))
        else:
            result = run_scaling()
    elif "--sf-stress" in sys.argv:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
        sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
        spark = _get_spark(cpus)
        spark.range(1000).count()
        result = sf_stress(spark, sf_dir)
        spark.stop()
    else:
        result = run_default()
        full_path = os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "BENCH_LOCAL.json"
        )
        with open(full_path, "w") as f:
            json.dump(result, f, indent=2, sort_keys=True)
        result = compact_result(result, os.path.basename(full_path))
        line = json.dumps(result)
        assert len(line) <= 1900, f"final bench line too long: {len(line)}"
        print(line)
        sys.exit(0)
    print(json.dumps(result))
