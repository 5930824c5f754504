"""Crawl-equivalence, politeness, resume, and Bloom tests (SURVEY.md §5).

The central correctness contract of the north rule:
 - engine fetch ORDER == sequential simulator order (canonical key, T4)
 - final URL-seen SET equality (strict)
 - byte-identical extracted text per URL
 - per-host politeness budget never exceeded in any round
 - kill-after-round-k resume reproduces the exact same final state
"""

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from web_scraper_spark.frontier.engine import CrawlConfig, CrawlEngine
from web_scraper_spark.frontier.simulator import simulate_crawl
from web_scraper_spark.synth.sitegen import (
    SiteConfig,
    build_pages_df,
    build_robots_df,
    seed_urls,
)

CRAWL = CrawlConfig(as_of="2025-12-01T22:30:00", round_seconds=30.0, max_rounds=8)


@pytest.fixture(scope="module")
def crawl_run(spark, site_cfg):
    pages = build_pages_df(spark, site_cfg).cache()
    robots = build_robots_df(spark, site_cfg)
    sd = tempfile.mkdtemp(prefix="crawlstate_")
    eng = CrawlEngine(spark, pages, robots, sd, CRAWL)
    results = eng.run(seeds=seed_urls(site_cfg))
    sim = simulate_crawl(site_cfg, CRAWL, seed_urls(site_cfg))
    yield eng, results, sim, pages
    shutil.rmtree(sd, ignore_errors=True)


def test_crawl_order_equality(crawl_run):
    eng, results, sim, _ = crawl_run
    log = eng.state.read_fetch_log().orderBy("round", "fetch_pos").collect()
    eng_order = [(r["round"], r["url_canon"], r["status"]) for r in log]
    sim_order = [(r["round"], r["url_canon"], r["status"]) for r in sim.fetch_log]
    assert eng_order == sim_order
    assert len(eng_order) > 50


def test_seen_set_equality(crawl_run):
    eng, results, sim, _ = crawl_run
    eng_seen = {r["url_canon"] for r in eng.state.read_seen(999).collect()}
    assert eng_seen == sim.seen


def test_byte_identical_text(crawl_run):
    """Extracted text per URL: engine == simulator == pages.text column."""
    eng, _, sim, pages = crawl_run
    log = eng.state.read_fetch_log().filter(
        (F.col("status") == "crawled") & (F.col("depth") == 2)
    )
    eng_content = {r["url_canon"]: r["content"] for r in log.collect()}
    sim_content = {
        r["url_canon"]: r["content"]
        for r in sim.fetch_log
        if r["status"] == "crawled" and r["depth"] == 2
    }
    assert eng_content == sim_content and len(eng_content) > 0
    # and against the pages table's precomputed text column
    from web_scraper_spark.urls import canon_url

    ref = {
        r["c"]: r["text"]
        for r in pages.select(canon_url(F.col("url")).alias("c"), "text").collect()
    }
    for c, content in eng_content.items():
        assert ref[c] == content


def test_politeness_budget_invariant(crawl_run, site_cfg):
    """No host exceeds floor(round_seconds/crawl_delay) fetches per round."""
    eng, _, _, _ = crawl_run
    budgets = {
        base.split("//")[1]: int(CRAWL.round_seconds // site_cfg.crawl_delay[src])
        for src, base in site_cfg.hosts.items()
    }
    per = (
        eng.state.read_fetch_log()
        .groupBy("round", "host")
        .count()
        .collect()
    )
    for r in per:
        assert r["count"] <= budgets[r["host"]], (r["round"], r["host"], r["count"])


def test_robots_and_excluded_category(crawl_run):
    """gamma's /video listing is robots-blocked AND category-excluded —
    no fetched URL may be under it, and no Video-category article fetched."""
    eng, _, _, _ = crawl_run
    log = eng.state.read_fetch_log()
    assert log.filter(F.col("url_canon").contains("/video")).count() == 0
    assert (
        log.filter((F.col("source") == "gamma") & (F.col("category_name") == "Video"))
        .count()
        == 0
    )


def test_metrics_and_lineage_present(crawl_run):
    eng, results, _, _ = crawl_run
    for rr in results:
        man = eng.state.manifest(rr.round)
        assert man["metrics"]["fetched"] >= 0
        assert "frontier" in man["lineage"] and "fetch_log" in man["lineage"]
        assert sum(man["lineage"]["fetch_log"]) == man["metrics"]["fetched"]


def test_resume_reproduces_final_state(spark, site_cfg, crawl_run):
    """Kill after round 2 (drop later snapshots) → resume → identical
    final fetch log and seen set, no double-fetch (ST4)."""
    eng, results, sim, pages = crawl_run
    robots = build_robots_df(spark, site_cfg)
    sd2 = tempfile.mkdtemp(prefix="crawlresume_")
    try:
        e2 = CrawlEngine(spark, pages, robots, sd2, CRAWL)
        e2.run(seeds=seed_urls(site_cfg))
        full_log = [
            (r["round"], r["fetch_pos"], r["url_canon"], r["status"])
            for r in e2.state.read_fetch_log().orderBy("round", "fetch_pos").collect()
        ]
        e2.state.drop_rounds_after(2)
        assert e2.state.last_committed_round() == 2
        e3 = CrawlEngine(spark, pages, robots, sd2, CRAWL)
        # resume must derive its fetch_pos offset from manifest lineage
        # alone — never a scan of the committed fetch logs (at the 10^10
        # design point that is a full multi-round parquet re-read)
        def _no_log_scan(*a, **k):
            raise AssertionError("resume scanned the fetch log (use manifests)")

        e3.state.read_fetch_log = _no_log_scan
        e3.run(resume=True)
        del e3.state.read_fetch_log
        resumed_log = [
            (r["round"], r["fetch_pos"], r["url_canon"], r["status"])
            for r in e3.state.read_fetch_log().orderBy("round", "fetch_pos").collect()
        ]
        assert resumed_log == full_log  # incl. fetch_pos: offset exact
        # no double fetch of sealed URLs
        crawled = [u for _, _, u, s in resumed_log if s == "crawled"]
        assert len(crawled) == len(set(crawled))
    finally:
        shutil.rmtree(sd2, ignore_errors=True)


def test_bloom_no_false_negatives():
    import numpy as np

    from web_scraper_spark.frontier.bloom import BloomSpec

    spec = BloomSpec(n_buckets=4, bits_per_bucket=1 << 12, k=5)
    rng = np.random.default_rng(42)
    members = rng.integers(-(2**62), 2**62, size=2000, dtype=np.int64)
    bm = spec.build_bitmap(members)
    assert spec.maybe_contains(bm, members).all()  # zero false negatives
    others = rng.integers(-(2**62), 2**62, size=2000, dtype=np.int64)
    others = np.setdiff1d(others, members)
    fp = spec.maybe_contains(bm, others).mean()
    assert fp < 0.9  # loose: bitmap is deliberately small here


def test_auto_compaction_preserves_crawl_state(spark):
    """compact_every folds the seen-delta tail mid-crawl; the final seen
    set and fetch log must equal the uncompacted crawl exactly."""
    site = SiteConfig(n_categories=3, articles_per_category=6)
    pages = build_pages_df(spark, site).cache()
    robots = build_robots_df(spark, site)
    cfg_plain = CrawlConfig(as_of="2025-12-01T22:30:00", round_seconds=30.0, max_rounds=5)
    cfg_comp = CrawlConfig(
        as_of="2025-12-01T22:30:00", round_seconds=30.0, max_rounds=5, compact_every=2
    )
    d1, d2 = tempfile.mkdtemp(prefix="nc_"), tempfile.mkdtemp(prefix="cc_")
    try:
        e1 = CrawlEngine(spark, pages, robots, d1, cfg_plain)
        e1.run(seeds=seed_urls(site))
        e2 = CrawlEngine(spark, pages, robots, d2, cfg_comp)
        e2.run(seeds=seed_urls(site))
        import os

        assert any(n.startswith("seen_compact=") for n in os.listdir(d2))
        s1 = {r["url_canon"] for r in e1.state.read_seen(999).collect()}
        s2 = {r["url_canon"] for r in e2.state.read_seen(999).collect()}
        assert s1 == s2
        l1 = [(r["round"], r["url_canon"], r["status"])
              for r in e1.state.read_fetch_log().orderBy("round", "fetch_pos").collect()]
        l2 = [(r["round"], r["url_canon"], r["status"])
              for r in e2.state.read_fetch_log().orderBy("round", "fetch_pos").collect()]
        assert l1 == l2
    finally:
        shutil.rmtree(d1, ignore_errors=True)
        shutil.rmtree(d2, ignore_errors=True)
        pages.unpersist()


def test_crawl_equivalence_yesterday_window_and_relative_times(spark):
    """F4 parameterized to the VnNet yesterday window (slug date ==
    as_of-1) and beta rendering relative visible times ('Hôm qua, H:MM',
    'N phút trước') that only parse against the as_of anchor — engine and
    simulator must still agree row-for-row."""
    as_of = "2025-12-02T22:30:00"
    site = SiteConfig(n_categories=3, articles_per_category=8, relative_as_of=as_of)
    cfg = CrawlConfig(
        as_of=as_of, round_seconds=30.0, max_rounds=6, alpha_date_mode="yesterday"
    )
    pages = build_pages_df(spark, site).cache()
    sd = tempfile.mkdtemp(prefix="crawl_yday_")
    try:
        eng = CrawlEngine(spark, pages, build_robots_df(spark, site), sd, cfg)
        eng.run(seeds=seed_urls(site))
        sim = simulate_crawl(site, cfg, seed_urls(site))
        log = eng.state.read_fetch_log().orderBy("round", "fetch_pos").collect()
        eng_order = [(r["round"], r["url_canon"], r["status"]) for r in log]
        sim_order = [(r["round"], r["url_canon"], r["status"]) for r in sim.fetch_log]
        assert eng_order == sim_order and len(eng_order) > 20
        # the yesterday window bites: every fetched alpha article slug is
        # dated as_of-1 (20251201), none dated as_of (20251202)
        alpha_d2 = [r for r in log if "alpha" in r["url_canon"] and r["depth"] == 2]
        assert alpha_d2
        assert all("20251201" in r["url_canon"] for r in alpha_d2)
        # relative forms really occurred AND parsed (publish_ts non-null)
        rel = [
            r for r in log
            if r["time_str"] and ("trước" in r["time_str"] or "Hôm qua" in r["time_str"])
        ]
        assert rel
        assert all(r["publish_ts"] is not None for r in rel)
    finally:
        shutil.rmtree(sd, ignore_errors=True)
        pages.unpersist()


def test_bloom_table_incremental_merge_and_split(spark):
    """Table-resident blooms: OR-merging per-round delta bitmaps must equal
    the bitmap built from the full seen set, and the cogrouped split must
    route every truly-seen hash to the maybe side (no false negatives)."""
    import numpy as np

    from web_scraper_spark.frontier.bloom import (
        BloomSpec,
        bucket_bloom_df,
        merge_bloom_tables,
        split_by_bloom_table,
    )

    spec = BloomSpec(n_buckets=4, bits_per_bucket=1 << 12, k=5)
    rng = np.random.default_rng(7)
    h1 = rng.integers(-(2**62), 2**62, size=500, dtype=np.int64)
    h2 = rng.integers(-(2**62), 2**62, size=500, dtype=np.int64)

    def to_df(hs):
        return spark.createDataFrame(
            [(int(h), int(h) % 4) for h in hs], "url_hash long, bucket int"
        )

    full = {
        r["bucket"]: bytes(r["bitmap"])
        for r in bucket_bloom_df(to_df(np.concatenate([h1, h2])), spec).collect()
    }
    merged = {
        r["bucket"]: bytes(r["bitmap"])
        for r in merge_bloom_tables(
            bucket_bloom_df(to_df(h1), spec), bucket_bloom_df(to_df(h2), spec)
        ).collect()
    }
    assert full == merged  # incremental OR == rebuild from scratch

    bloom_df = bucket_bloom_df(to_df(h1), spec)
    fresh = np.setdiff1d(rng.integers(-(2**62), 2**62, size=500, dtype=np.int64), h1)
    cand = to_df(np.concatenate([h1[:100], fresh]))
    new, maybe, handle = split_by_bloom_table(cand, bloom_df, spec)
    maybe_hashes = {r["url_hash"] for r in maybe.collect()}
    assert set(int(h) for h in h1[:100]) <= maybe_hashes  # zero false negatives
    assert new.count() > 0  # most fresh hashes pass straight through
    handle.unpersist()


def test_slot_window_skip_not_seal(crawl_run):
    """F3: out-of-window articles are logged but never enter `seen`."""
    eng, _, _, _ = crawl_run
    log = eng.state.read_fetch_log()
    skipped = {
        r["url_canon"]
        for r in log.filter(F.col("status") == "skipped_out_of_window").collect()
    }
    assert skipped  # config chosen so some articles fall outside the slot
    seen = {r["url_canon"] for r in eng.state.read_seen(999).collect()}
    assert not (skipped & seen)


def test_concurrent_commit_second_writer_raises(spark):
    """Two committers racing one round (Iceberg commit-conflict analogue):
    the second raises and the first's committed state is untouched."""
    import os

    from web_scraper_spark.frontier.engine import seed_frontier
    from web_scraper_spark.frontier.state import (
        ConcurrentCommitError,
        CrawlState,
        FETCH_LOG_SCHEMA,
    )

    sd = tempfile.mkdtemp(prefix="commitrace_")
    try:
        cfg = CrawlConfig()
        fr = seed_frontier(spark, ["https://alpha.example"], cfg)
        empty_seen = spark.createDataFrame(
            [], "url_hash long, bucket int, url_canon string, round int"
        )
        empty_log = spark.createDataFrame([], FETCH_LOG_SCHEMA)
        s1 = CrawlState(spark, sd)
        s2 = CrawlState(spark, sd)
        man = s1.commit_round(0, fr, empty_seen, empty_log, {"w": 1})
        # committed round: the loser fails fast on the manifest CAS
        with pytest.raises(ConcurrentCommitError):
            s2.commit_round(0, fr, empty_seen, empty_log, {"w": 2})
        assert s1.manifest(0)["metrics"]["w"] == 1  # winner's state intact
        assert sum(s1.manifest(0)["lineage"]["frontier"]) == sum(
            man["lineage"]["frontier"]
        )
        # in-flight round (lock held, no manifest yet): loser fails on the
        # lease BEFORE writing any data files
        rd1 = s1._round_dir(1)
        os.makedirs(rd1, exist_ok=True)
        lock = os.path.join(rd1, ".commit-lock")
        with open(lock, "w") as f:
            f.write("424242")
        with pytest.raises(ConcurrentCommitError):
            s2.commit_round(1, fr, empty_seen, empty_log, {})
        assert not os.path.exists(os.path.join(rd1, "manifest.json"))
        # stale lease (crashed committer): stolen, commit proceeds
        old = __import__("time").time() - 2 * CrawlState.LOCK_LEASE_S
        os.utime(lock, (old, old))
        s2.commit_round(1, fr, empty_seen, empty_log, {"w": 2})
        assert s2.manifest(1)["metrics"]["w"] == 2
    finally:
        shutil.rmtree(sd, ignore_errors=True)


def test_default_compaction_keeps_seen_read_short(spark):
    """compact_every defaults ON; after compaction the seen read touches
    base + short delta tail, not one delta path per round (LSM contract)."""
    assert CrawlConfig().compact_every > 0  # the default is on
    site = SiteConfig(n_categories=3, articles_per_category=6)
    pages = build_pages_df(spark, site).cache()
    robots = build_robots_df(spark, site)
    cfg = CrawlConfig(
        as_of="2025-12-01T22:30:00", round_seconds=30.0, max_rounds=5, compact_every=2
    )
    sd = tempfile.mkdtemp(prefix="lsm_")
    try:
        eng = CrawlEngine(spark, pages, robots, sd, cfg)
        results = eng.run(seeds=seed_urls(site))
        last = eng.state.last_committed_round()
        assert last >= 4
        # base + at most (cadence) trailing deltas — NOT `last` paths
        paths = eng.state.seen_paths(last)
        assert len(paths) <= 1 + cfg.compact_every
        assert any("seen_compact=" in p for p in paths)
    finally:
        shutil.rmtree(sd, ignore_errors=True)
        pages.unpersist()


@pytest.fixture(scope="module")
def finished_crawl(spark):
    """A small crawl run to completion without auto-compaction, then
    resumed once more: that extra round has an empty frontier and seals
    nothing, so its seen delta touches no bucket. Tests copy the state
    dir before changing it."""
    site = SiteConfig(n_categories=3, articles_per_category=6)
    pages = build_pages_df(spark, site).cache()
    robots = build_robots_df(spark, site)
    cfg = CrawlConfig(as_of="2025-12-01T22:30:00", round_seconds=30.0, compact_every=0)
    sd = tempfile.mkdtemp(prefix="finished_")
    eng = CrawlEngine(spark, pages, robots, sd, cfg)
    eng.run(seeds=seed_urls(site))
    eng.run(resume=True)
    last = eng.state.last_committed_round()
    assert eng.state._delta_buckets(last - 1, last) == set()
    sim = simulate_crawl(site, cfg, seed_urls(site))
    yield sd, last, sim, (pages, robots, cfg)
    shutil.rmtree(sd, ignore_errors=True)
    pages.unpersist()


def _copy_state(spark, src):
    from web_scraper_spark.frontier.state import CrawlState

    dst = tempfile.mkdtemp(prefix="statecopy_")
    shutil.copytree(src, dst, dirs_exist_ok=True)
    return CrawlState(spark, dst)


def test_compact_seen_rerun_on_committed_round(spark, finished_crawl):
    """A second compact_seen(k) on a committed k is a no-op (it used to
    take its own data/ as the base and hard-link onto itself)."""
    sd, last, sim, _ = finished_crawl
    st = _copy_state(spark, sd)
    try:
        assert st.compact_seen(last) == last
        assert st.compact_seen(last) == last
        assert {r["url_canon"] for r in st.read_seen(last).collect()} == sim.seen
    finally:
        shutil.rmtree(st.dir, ignore_errors=True)


def test_compact_seen_rerun_after_interrupted_link_only_compaction(spark, finished_crawl):
    """A compaction whose delta tail touched no bucket only hard-links the
    previous base. Killed after the first bucket, its rerun must start
    over instead of linking onto the links already there."""
    import os

    sd, last, sim, _ = finished_crawl
    st = _copy_state(spark, sd)
    try:
        st.compact_seen(last - 1)
        link = st._link_bucket_dir

        def killed_after_one_bucket(src, dst):
            link(src, dst)
            raise RuntimeError("killed mid-compaction")

        st._link_bucket_dir = killed_after_one_bucket
        with pytest.raises(RuntimeError, match="killed"):
            st.compact_seen(last)
        del st._link_bucket_dir
        assert st.compact_seen(last) == last
        assert st.seen_paths(last) == [os.path.join(st._compaction_dir(last), "data")]
        assert {r["url_canon"] for r in st.read_seen(last).collect()} == sim.seen
    finally:
        shutil.rmtree(st.dir, ignore_errors=True)


def test_resume_with_lost_manifest_raises(spark, finished_crawl):
    """Resume sums fetch_log lineage from every round's manifest; a lost
    manifest must fail loudly instead of shifting later fetch_pos."""
    import os

    sd, _, _, (pages, robots, cfg) = finished_crawl
    st = _copy_state(spark, sd)
    try:
        st.drop_rounds_after(3)
        os.remove(os.path.join(st._round_dir(1), "manifest.json"))
        eng = CrawlEngine(spark, pages, robots, st.dir, cfg)
        with pytest.raises(FileNotFoundError):
            eng.run(resume=True)
        assert st.last_committed_round() == 3  # nothing was committed
    finally:
        shutil.rmtree(st.dir, ignore_errors=True)


def test_politeness_continuity_across_short_rounds(spark):
    """round_seconds shorter than some crawl_delays: the per-host schedule
    phase must carry across round boundaries — consecutive fetch times
    (round start + fetch_slot_s) never closer than crawl_delay, and a host
    with crawl_delay > round_seconds is throttled, not starved (ST5)."""
    R = 5.0
    delays = {"alpha": 7.0, "beta": 0.5, "gamma": 2.0}
    site = SiteConfig(n_categories=2, articles_per_category=4, crawl_delay=delays)
    cfg = CrawlConfig(as_of="2025-12-01T22:30:00", round_seconds=R, max_rounds=10)
    pages = build_pages_df(spark, site).cache()
    sd = tempfile.mkdtemp(prefix="cont_")
    try:
        eng = CrawlEngine(spark, pages, build_robots_df(spark, site), sd, cfg)
        eng.run(seeds=seed_urls(site))
        log = eng.state.read_fetch_log().orderBy("round", "fetch_pos").collect()
        # engine == simulator under the carry (both implement it)
        sim = simulate_crawl(site, cfg, seed_urls(site))
        assert [(r["round"], r["url_canon"], r["status"]) for r in log] == [
            (r["round"], r["url_canon"], r["status"]) for r in sim.fetch_log
        ]
        # absolute schedule: round k occupies [(k-1)*R, k*R)
        by_host = {}
        for r in log:
            by_host.setdefault(r["host"], []).append(
                (r["round"] - 1) * R + r["fetch_slot_s"]
            )
        budgets = {
            base.split("//")[1]: delays[src] for src, base in site.hosts.items()
        }
        for host, times in by_host.items():
            d = budgets[host]
            for a, b in zip(times, times[1:]):
                assert b - a >= d - 1e-9, (host, a, b, d)
        # the d=7 > R=5 host is fetched (no starvation), at exactly 1/7 Hz
        slow = [h for h, d in budgets.items() if d > R]
        assert slow and all(len(by_host.get(h, [])) >= 2 for h in slow)
    finally:
        shutil.rmtree(sd, ignore_errors=True)
        pages.unpersist()


def test_bloom_enabled_mid_crawl_no_recrawl(spark):
    """Enabling the Bloom pre-filter on an existing bloom-less state dir
    must rebuild the bitmap table from the FULL seen set at the first
    bloom commit — a delta-only table would mark rounds-1..k URLs
    'definitely new' and re-crawl them in every later round."""
    site = SiteConfig(n_categories=3, articles_per_category=6)
    pages = build_pages_df(spark, site).cache()
    robots = build_robots_df(spark, site)
    base_cfg = dict(as_of="2025-12-01T22:30:00", round_seconds=30.0)
    d_ref, d_mid = tempfile.mkdtemp(prefix="bref_"), tempfile.mkdtemp(prefix="bmid_")
    try:
        # reference: bloom on from the start, uninterrupted
        ref = CrawlEngine(
            spark, pages, robots, d_ref,
            CrawlConfig(**base_cfg, max_rounds=8, use_bloom=True),
        )
        ref.run(seeds=seed_urls(site))
        ref_log = [
            (r["round"], r["url_canon"], r["status"])
            for r in ref.state.read_fetch_log().orderBy("round", "fetch_pos").collect()
        ]
        # phase 1: no bloom for 2 rounds; phase 2: bloom enabled on resume
        e1 = CrawlEngine(
            spark, pages, robots, d_mid,
            CrawlConfig(**base_cfg, max_rounds=2, use_bloom=False),
        )
        e1.run(seeds=seed_urls(site))
        e2 = CrawlEngine(
            spark, pages, robots, d_mid,
            CrawlConfig(**base_cfg, max_rounds=8, use_bloom=True),
        )
        e2.run(resume=True)
        mid_log = [
            (r["round"], r["url_canon"], r["status"])
            for r in e2.state.read_fetch_log().orderBy("round", "fetch_pos").collect()
        ]
        assert mid_log == ref_log
        crawled = [u for _, u, s in mid_log if s == "crawled"]
        assert len(crawled) == len(set(crawled))  # nothing re-crawled
        # and later rounds really have a committed bloom table to read
        assert e2.state.read_blooms(e2.state.last_committed_round()) is not None
    finally:
        shutil.rmtree(d_ref, ignore_errors=True)
        shutil.rmtree(d_mid, ignore_errors=True)
        pages.unpersist()


def test_crawl_fetch_log_query_leaves_no_cached_frames(spark):
    """r3 VERDICT item 7: q_crawl_fetch_log must not leak a
    session-lifetime CacheManager entry (its pages frame is an RDD-scoped
    localCheckpoint now, freed by the ContextCleaner when dropped)."""
    from web_scraper_spark.queries import q_crawl_fetch_log

    spark.catalog.clearCache()  # other tests' caches recompute on demand
    cm = spark._jsparkSession.sharedState().cacheManager()
    assert cm.isEmpty()
    out = q_crawl_fetch_log(spark, "unused")
    assert out.count() > 0
    assert cm.isEmpty()  # no df.cache() survived the query


def test_crawl_equivalence_sitemap_seeded(spark):
    """r5 — discovery starts from the site's sitemaps instead of the menu
    walk (VERDICT item 7): engine.run(sitemap_bodies=...) must equal the
    sequential simulator seeded from the SAME bodies — fetch order, final
    seen set, and extracted text — and must never fetch a hub page (all
    discovery came from the sitemap, depth-2 article entries only). A
    missing_article_mod source exercises fetch_failed + retry under
    sitemap seeding; the lastmod window drops off-as_of-date entries."""
    from web_scraper_spark.synth.sitegen import (
        build_sitemap_bodies,
        build_sitemaps_df,
    )

    site = SiteConfig(missing_article_mod={"beta": 6})
    cfg = CrawlConfig(as_of="2025-12-01T22:30:00", round_seconds=30.0, max_rounds=8)
    pages = build_pages_df(spark, site).cache()
    robots = build_robots_df(spark, site)
    sd = tempfile.mkdtemp(prefix="crawlstate_sm_")
    try:
        eng = CrawlEngine(spark, pages, robots, sd, cfg)
        eng.run(sitemap_bodies=build_sitemaps_df(spark, site))
        sim = simulate_crawl(site, cfg, sitemap_bodies=build_sitemap_bodies(site))

        log = eng.state.read_fetch_log().orderBy("round", "fetch_pos").collect()
        eng_order = [(r["round"], r["url_canon"], r["status"]) for r in log]
        sim_order = [(r["round"], r["url_canon"], r["status"]) for r in sim.fetch_log]
        assert eng_order == sim_order
        statuses = {r["status"] for r in log}
        assert "crawled" in statuses            # in-window articles sealed
        assert "fetch_failed" in statuses       # missing_article_mod hit
        assert all(r["depth"] == 2 for r in log)  # no menu walk anywhere
        eng_seen = {r["url_canon"] for r in eng.state.read_seen(999).collect()}
        assert eng_seen == sim.seen and len(eng_seen) > 0

        # byte-identity rides through the sitemap path too
        eng_content = {
            r["url_canon"]: r["content"] for r in log if r["status"] == "crawled"
        }
        sim_content = {
            r["url_canon"]: r["content"]
            for r in sim.fetch_log
            if r["status"] == "crawled"
        }
        assert eng_content == sim_content

        # lastmod window engaged: round-0 frontier holds only as_of-dated
        # entries, strictly fewer than the full article census
        n_seeded = eng.state.read_frontier(0).count()
        n_all = sum(
            site.articles_per_category
            for _src in site.hosts
            for _c in range(site.n_categories + (_src == "gamma"))
        )
        assert 0 < n_seeded < n_all
    finally:
        shutil.rmtree(sd, ignore_errors=True)
        pages.unpersist()
