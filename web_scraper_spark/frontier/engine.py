"""Frontier round engine (SURVEY.md §3 E1 / §7 step 4 — the north rule).

Each round is one declarative DataFrame plan, committed atomically:

    frontier ⟕̸ seen (Bloom pre-filter + anti-join on          [O1: dedup
        (bucket, url_hash); the seen side is shuffled in full)  before fetch]
        → robots filter (broadcast)
        → politeness selection (per-host budget window)
        → salted repartition (hot-host skew spread)
        → "fetch" (join against the stored pages table — the sandbox
           stand-in for the network; a live variant would be a batched
           HTTP mapInPandas at this exact point)
        → parse/extract (one mapInPandas pass → articles + outlinks)
        → slot-window filter with skip-but-don't-seal (F2/F3)
        → outlink canonicalization + crawl-policy filters (F4/F5/F6)
        → pagination URL synthesis (H6: sequence+explode, no fetch)
        → next frontier = carryover ∪ requeued failures ∪ new links
        → commit(frontier', seen_delta, fetch_log, manifest+lineage)

The loop over rounds is driver-orchestrated batch (a fixpoint over
snapshots), not Structured Streaming — each round must be one atomic
multi-table commit (SURVEY.md §7 "Hard parts").

Crawl order: the canonical deterministic key (round, then
politeness.PRIORITY_ORDER) — SURVEY.md T4. The sequential simulator
(frontier/simulator.py) reproduces it exactly; tests assert equality of
both the ordered fetch log and the final URL-seen set.
"""

from __future__ import annotations

import os
import time as _time
from dataclasses import dataclass, field
from datetime import datetime, timedelta

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from web_scraper_spark.frontier.bloom import (
    BloomSpec,
    bucket_bloom_df,
    split_by_bloom_table,
)
from web_scraper_spark.frontier.politeness import priority_order, robots_filter, select_round
from web_scraper_spark.frontier.state import CrawlState, FETCH_LOG_SCHEMA, FRONTIER_SCHEMA
from web_scraper_spark.functions.timeparse import parse_time_col
from web_scraper_spark.html.udfs import parse_pages
from web_scraper_spark.urls import url_bucket, url_hash, url_host, with_canon


@dataclass
class CrawlConfig:
    as_of: str = "2025-12-01T22:30:00"  # parameterized clock (never now())
    slot_hours: int = 3  # tumbling slot, CrawlPaperTuoiTre.py:21-27
    round_seconds: float = 60.0  # politeness budget window per round
    max_rounds: int = 8
    n_buckets: int = 16
    salt: int = 8
    max_fail: int = 3  # retry budget, CrawlPaperTuoiTre.py:105
    use_bloom: bool = True
    default_crawl_delay: float = 1.0
    # F6 — category exclusion (gamma/ZNews shape), CrawlPaperZNews.py:34-40
    excluded_categories: tuple = ("Video",)
    sources_by_pos: tuple = ("alpha", "beta", "gamma")  # seed-list order
    # auto-compaction cadence for the seen table's LSM tail: every K
    # committed rounds, fold base+deltas into one bucketed base (0 = off).
    # ON by default — without it the union-of-deltas read grows linearly
    # with rounds, a silent unbounded cost in any long-running crawl.
    compact_every: int = 8
    # F4 — alpha URL-slug date window: "as_of" keeps slug date == as_of
    # (TuoiTre shape); "yesterday" keeps slug date == as_of - 1 day (the
    # VnNet variant, CrawlPaperVnNet.py:129-141: crawl yesterday's
    # articles, skip today's, old slugs terminate the scroll)
    alpha_date_mode: str = "as_of"
    # r5 — hygiene scheduling (frontier/schedule.py composed into the
    # round loop): health circuit breaker + trap budget on candidate
    # selection, redirect resolution on new outlinks before seen-insert.
    # OFF by default: the reference's single-site loop needs none of
    # these, and the crawl-equality contract covers both modes.
    hygiene: bool = False
    # per-(host, URL-template) distinct-URL budget (traps.py semantics);
    # the default is far above any real site section — tests lower it
    trap_template_cap: int = 10_000
    # per-host circuit breaker: ≥ suspend_rate errors over ≥ min_evidence
    # logged fetches gates the host out of candidate selection. The
    # engine's replay fetch stage only produces 'fetch_failed'; a live
    # fetch_fn may log transport statuses — list them all here.
    health_min_evidence: int = 20
    health_suspend_rate: float = 0.5
    health_error_statuses: tuple = ("fetch_failed", "timeout", "http_5xx", "conn_refused")

    def alpha_target_date(self):
        d = datetime.fromisoformat(self.as_of).date()
        return d - timedelta(days=1) if self.alpha_date_mode == "yesterday" else d

    def slot_bounds(self) -> tuple[datetime, datetime]:
        t = datetime.fromisoformat(self.as_of)
        start = t.replace(hour=(t.hour // self.slot_hours) * self.slot_hours, minute=0, second=0, microsecond=0)
        return start, start + timedelta(hours=self.slot_hours)


@dataclass
class RoundResult:
    round: int
    metrics: dict = field(default_factory=dict)


def _with_keys(df: DataFrame, n_buckets: int) -> DataFrame:
    """Attach url_canon / url_hash / bucket / host derived columns.

    Canonicalization (urls.with_canon) is one native projection with no
    Python stage; only URLs containing '%' enter its interpreted
    percent-escape lambda, so the keying of %-free links stays in
    whole-stage codegen."""
    return (
        with_canon(df, "url", "url_canon")
        .withColumn("url_hash", url_hash(F.col("url_canon")))
        .withColumn("bucket", url_bucket(F.col("url_hash"), n_buckets))
        .withColumn("host", url_host(F.col("url_canon")))
    )


def seed_frontier(spark: SparkSession, seeds: list[str], cfg: CrawlConfig) -> DataFrame:
    src_pos = {s: i for i, s in enumerate(cfg.sources_by_pos)}
    rows = []
    for u in seeds:
        host = u.split("/")[2]
        source = host.split(".")[0]
        rows.append((u, source, src_pos.get(source, 99)))
    df = spark.createDataFrame(rows, "url string, source string, source_pos int")
    return (
        _with_keys(df, cfg.n_buckets)
        .withColumn("depth", F.lit(0))
        .withColumn("category_name", F.lit(""))
        .withColumn("category_pos", F.lit(-1))
        .withColumn("page_no", F.lit(0))
        .withColumn("listing_pos", F.lit(-1))
        .withColumn("listing_date", F.lit(""))
        .withColumn("inlinks", F.lit(0).cast("long"))
        .withColumn("fail_count", F.lit(0))
        .withColumn("round_added", F.lit(0))
        .select(*[f.split(" ")[0] for f in FRONTIER_SCHEMA.replace(", ", ",").split(",")])
    )


def seed_frontier_from_sitemaps(
    spark: SparkSession, bodies: DataFrame, cfg: CrawlConfig
) -> DataFrame:
    """Round-0 frontier from raw sitemap XML bodies (sitemaps.org) — the
    discovery channel the reference lacks entirely (its crawler.py only
    walks menus/listings) but every production news crawler leads with.

    bodies: (sitemap_url, body) rows. Leaf ``<urlset>`` entries become
    depth-2 frontier entries (article URLs — no hub fetches needed for
    discovery); ``<sitemapindex>`` rows are ignored here because the
    caller already materialized every leaf body (a live crawler fetches
    index children first — tiny metadata I/O, not a scale concern).

    Scale shape: the parse is frontier/sitemap.py's pure-codegen explode
    (one row per ≤50 MB body fans to ≤50k entries), the dedup is one
    url_canon-partitioned window — no driver collection anywhere, so a
    10^8-entry sitemap dump seeds at scan speed. Entry priority: sitemap
    position (``listing_pos``), the protocol's deterministic order;
    duplicate locs keep the first (source_pos, pos) entry and aggregate
    into ``inlinks``, mirroring _next_frontier's first-discovery-wins.
    Simulator twin: frontier/simulator.py seeds from the same bodies;
    crawl-equality asserted in tests/test_crawl.py."""
    from web_scraper_spark.frontier.sitemap import sitemap_entries

    src_pos_map = F.create_map(
        *[x for i, s in enumerate(cfg.sources_by_pos) for x in (F.lit(s), F.lit(i))]
    )
    # keep only entries whose <lastmod> DATE == as_of's date (the
    # daily-crawl analogue of F4's slug-date window); entries without a
    # parseable lastmod are dropped
    as_of_date = datetime.fromisoformat(cfg.as_of).date()
    entries = (
        sitemap_entries(bodies)
        .where(F.col("kind") == "url")
        .where(
            F.expr("try_to_date(substring(lastmod, 1, 10), 'yyyy-MM-dd')")
            == F.lit(as_of_date)
        )
    )
    keyed = _with_keys(
        entries.select(
            F.col("loc").alias("url"), F.col("pos").alias("listing_pos")
        ),
        cfg.n_buckets,
    )
    keyed = keyed.withColumn(
        "source", F.split_part(F.col("host"), F.lit("."), F.lit(1))
    ).withColumn(
        "source_pos", F.coalesce(src_pos_map[F.col("source")], F.lit(99))
    )
    w = Window.partitionBy("url_canon").orderBy("source_pos", "listing_pos", "url")
    return (
        keyed.withColumn(
            "inlinks",
            F.count("*").over(Window.partitionBy("url_canon")).cast("long"),
        )
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
        .withColumn("depth", F.lit(2))
        .withColumn("category_name", F.lit(""))
        .withColumn("category_pos", F.lit(-1))
        .withColumn("page_no", F.lit(0))
        .withColumn("listing_date", F.lit(""))
        .withColumn("fail_count", F.lit(0))
        .withColumn("round_added", F.lit(0))
        .select(*[f.split(" ")[0] for f in FRONTIER_SCHEMA.replace(", ", ",").split(",")])
    )


def prepare_pages(pages: DataFrame) -> DataFrame:
    """Key the stored pages table by canonical URL. The result is lazy:
    every round's fetch join re-derives the key over the whole table (at
    scale this would be a materialized column of the table)."""
    return with_canon(pages.select("url", "html"), "url", "url_canon").select(
        "url_canon", "html"
    )


class CrawlEngine:
    def __init__(
        self,
        spark: SparkSession,
        pages: DataFrame | None,
        robots: DataFrame,
        state_dir: str,
        cfg: CrawlConfig | None = None,
        fetch_fn=None,
        redirects: DataFrame | None = None,
    ):
        """fetch_fn: optional live-fetch stage — a callable
        df(url, fetch_slot_s) → df(url, html, ...) (see fetch/http.py).
        Default resolves against the stored ``pages`` table (WARC-replay
        semantics). Both run at the identical plan point, after the dedup
        gate and politeness selection.

        redirects: optional (src, dst) redirect-edge table, consumed only
        under ``cfg.hygiene``: new outlinks are resolved to their terminal
        targets BEFORE canonicalization/seen-insert (pointer-doubled once
        at first use — the map is static metadata); URLs whose chain
        cycles are dropped as unfetchable. Sources/targets must be in the
        same raw form pages emit hrefs in."""
        self.spark = spark
        self.cfg = cfg or CrawlConfig()
        self.bloom_spec = (
            BloomSpec(n_buckets=self.cfg.n_buckets, bits_per_bucket=1 << 17)
            if self.cfg.use_bloom
            else None
        )
        self.state = CrawlState(
            spark, state_dir, self.cfg.n_buckets, bloom_spec=self.bloom_spec
        )
        self.pages_keyed = prepare_pages(pages) if pages is not None else None
        self.fetch_fn = fetch_fn
        if pages is None and fetch_fn is None:
            raise ValueError("need a pages table or a fetch_fn")
        self.robots = robots
        self._redirects = redirects if self.cfg.hygiene else None
        self._redirect_map: DataFrame | None = None  # resolved lazily, once

    def _resolved_redirects(self) -> DataFrame | None:
        """Terminal-target map for new outlinks (hygiene mode): pointer-
        doubled ONCE (the edge table is static metadata) and pinned with
        an eager localCheckpoint so every round joins the same
        materialized frame instead of re-running the doubling loop."""
        if self._redirects is None:
            return None
        if self._redirect_map is None:
            from web_scraper_spark.frontier.redirects import resolve_redirects

            self._redirect_map = resolve_redirects(self._redirects).localCheckpoint(
                eager=True
            )
        return self._redirect_map

    # ------------------------------------------------------------------

    def init(
        self,
        seeds: list[str] | None = None,
        sitemap_bodies: DataFrame | None = None,
    ) -> None:
        """Commit round 0: seed frontier, empty seen/log. Discovery starts
        either from a URL seed list (menu-walk mode, the reference shape)
        or from raw sitemap bodies (seed_frontier_from_sitemaps) —
        exactly one of the two.

        Fresh-crawl semantics: any previous snapshots in the state dir are
        dropped first — re-seeding means "start over", and the committer's
        concurrent-writer CAS must not mistake a restart for a commit race
        (two engines racing a FRESH start on one dir still conflict: both
        clear, then exactly one wins the round-0 manifest link)."""
        import shutil

        assert (seeds is None) != (sitemap_bodies is None), (
            "exactly one of seeds / sitemap_bodies"
        )
        for name in list(os.listdir(self.state.dir)):
            if name.startswith(("round=", "seen_compact=")):
                shutil.rmtree(os.path.join(self.state.dir, name), ignore_errors=True)
        empty_seen = self.spark.createDataFrame([], "url_hash long, bucket int, url_canon string, round int")
        empty_log = self.spark.createDataFrame([], FETCH_LOG_SCHEMA)
        if sitemap_bodies is not None:
            fr = seed_frontier_from_sitemaps(self.spark, sitemap_bodies, self.cfg)
            meta = {"seeded_from_sitemaps": True}
        else:
            fr = seed_frontier(self.spark, seeds, self.cfg)
            meta = {"seeded": len(seeds)}
        self.state.commit_round(0, fr, empty_seen, empty_log, meta)

    # ------------------------------------------------------------------

    def run(
        self,
        seeds: list[str] | None = None,
        resume: bool = False,
        sitemap_bodies: DataFrame | None = None,
    ) -> list[RoundResult]:
        last = self.state.last_committed_round()
        if not resume or last is None:
            assert seeds is not None or sitemap_bodies is not None, (
                "seeds or sitemap_bodies required for a fresh crawl"
            )
            self.init(seeds, sitemap_bodies=sitemap_bodies)
            last = 0
        results = []
        fetch_offset = self._fetch_offset(last)
        for k in range(last + 1, last + 1 + self.cfg.max_rounds):
            res, n_fetched, n_frontier_next = self._run_round(k, fetch_offset)
            results.append(res)
            fetch_offset += n_fetched
            if self.cfg.compact_every and k % self.cfg.compact_every == 0:
                self.state.compact_seen(k)  # fold the delta tail (LSM)
            if n_frontier_next == 0:
                break
        return results

    def _fetch_offset(self, upto: int) -> int:
        """Total fetch_log rows committed through round ``upto``, summed
        from the manifests' lineage (exact per-file counts recorded at
        commit time) — NOT a scan of the logs themselves: at the 10^10-row
        design point re-counting the full multi-round log on every resume
        is a full parquet scan for a number the metadata already holds.

        The sum starts at the first committed round (a state dir may be
        started past round 0 by committing a frontier directly). A round
        without a manifest after that raises: skipping it would shift
        every later ``fetch_pos``."""
        first = min(self.state.committed_rounds())
        return sum(
            sum(self.state.manifest(i)["lineage"]["fetch_log"])
            for i in range(first, upto + 1)
        )

    # ------------------------------------------------------------------

    def _run_round(self, k: int, fetch_offset: int) -> tuple[RoundResult, int, int]:
        cfg = self.cfg
        t0 = _time.monotonic()
        slot_start, slot_end = cfg.slot_bounds()
        as_of_date = datetime.fromisoformat(cfg.as_of).date()

        frontier = self.state.read_frontier(k - 1)
        seen = self.state.read_seen(k - 1)

        # O1: dedup gate strictly before fetch/parse (never rely on Catalyst
        # to reorder around the opaque parse UDF — SURVEY.md §4)
        if cfg.use_bloom and k > 1:
            # table-resident blooms: the committed (bucket, bitmap) table of
            # round k-1 (incrementally maintained by commit_round); fallback
            # builds it distributedly from the seen table (still no driver
            # collect) when resuming a pre-bloom state dir
            bloom_df = self.state.read_blooms(k - 1)
            if bloom_df is None:
                bloom_df = bucket_bloom_df(seen, self.bloom_spec)
            definitely_new, maybe, bloom_handle = split_by_bloom_table(
                frontier, bloom_df, self.bloom_spec
            )
            maybe_clean = maybe.join(seen, on=["bucket", "url_hash"], how="left_anti")
            candidates = definitely_new.unionByName(maybe_clean)
        else:
            bloom_handle = None
            candidates = frontier.join(seen, on=["bucket", "url_hash"], how="left_anti")

        candidates = robots_filter(candidates, self.robots)
        if cfg.hygiene:
            candidates = self._hygiene_gate(k, candidates)
        candidates = candidates.cache()
        # cross-round politeness continuity: the per-host schedule phase
        # committed with round k-1 seeds this round's budgets/slots, so
        # back-to-back short rounds can't exceed a host's rate at the
        # boundary (ST5; absent for round 1 / pre-continuity state dirs)
        host_state = self.state.read_host_state(k - 1)
        selected = select_round(
            candidates, self.robots, cfg.round_seconds, cfg.default_crawl_delay,
            cfg.salt, host_state=host_state,
        ).cache()

        # canonical crawl order within the round → global fetch_pos.
        # Two-phase rank (operators/ranking.py), NOT a global window — the
        # old Window.orderBy(priority) serialized the whole round batch
        # through one task (r1 bench logged the WindowExec warning).
        from web_scraper_spark.operators.ranking import with_global_rank

        ranked, rank_handle = with_global_rank(
            selected, priority_order(), "_rank"
        )
        ordered = ranked.withColumn(
            "fetch_pos", F.col("_rank") + F.lit(fetch_offset)
        ).drop("_rank")

        if self.fetch_fn is not None:
            res = self.fetch_fn(ordered.select("url", "fetch_slot_s"))
            fetched = ordered.join(res.select("url", "html"), on="url", how="left").cache()
        else:
            fetched = ordered.join(self.pages_keyed, on="url_canon", how="left").cache()
        got = fetched.filter(F.col("html").isNotNull())
        missing = fetched.filter(F.col("html").isNull())

        parsed = parse_pages(
            got.select(
                "url", "source", "depth", "category_name", "category_pos",
                "page_no", "listing_pos", "html",
            )
        ).cache()

        articles = (
            parsed.filter(F.col("rec_type") == "article")
            # as_of-anchored: beta's relative forms ('X giờ trước', 'Hôm
            # qua, HH:MM') resolve against the parameter clock, never now()
            .withColumn(
                "publish_ts",
                parse_time_col(
                    F.col("source"),
                    F.col("time_str"),
                    as_of=F.lit(cfg.as_of).cast("timestamp"),
                ),
            )
            .withColumn(
                "in_window",
                F.col("publish_ts").between(F.lit(slot_start), F.lit(slot_end)),
            )
        )

        # fetch_log: every selected URL gets an outcome row (ST2/F3 statuses)
        art_status = articles.select(
            "url",
            F.when(F.col("in_window"), F.lit("crawled"))
            .otherwise(F.lit("skipped_out_of_window"))
            .alias("status"),
            "keyword", "time_str", "title", "content", "publish_ts",
        )
        log = (
            ordered.join(art_status, on="url", how="left")
            .join(missing.select("url", F.lit("fetch_failed").alias("_miss")), on="url", how="left")
            .withColumn(
                "status",
                F.coalesce(
                    F.col("_miss"),                                  # fetch failed
                    F.col("status"),                                 # article outcome
                    F.when(F.col("depth") < 2, F.lit("crawled")),    # hub pages
                    F.lit("parse_empty"),
                ),
            )
            .select(
                F.lit(k).alias("round"), F.col("fetch_pos").cast("long"),
                "url", "url_canon", "host", "source", "depth",
                "category_name", "category_pos", "page_no", "listing_pos",
                "status", "keyword", "time_str", "title", "content",
                "publish_ts", "fetch_slot_s",
            )
            # the log plan feeds two committed datasets (fetch_log, and
            # seen_delta via the sealed filter) — cache so the join chain
            # executes once per round
            .cache()
        )

        # F3 skip-but-don't-seal: only successful in-window articles and
        # successfully fetched hub pages (depth<2) enter the seen set
        sealed = log.filter(F.col("status") == "crawled")
        canon_hash = url_hash(F.col("url_canon"))
        seen_delta = sealed.select(
            canon_hash.alias("url_hash"),
            url_bucket(canon_hash, cfg.n_buckets).alias("bucket"),
            "url_canon",
            F.lit(k).alias("round"),
        )

        frontier_next = self._next_frontier(k, candidates, ordered, missing, parsed, as_of_date)

        # Zero metric-only executions of the round plan: the committer
        # derives status counts from the WRITTEN fetch_log (a scan of the
        # small committed file), row counts come free from parquet footers
        # (lineage), and frontier_in comes from the previous manifest.
        n_frontier = sum(self.state.manifest(k - 1)["lineage"]["frontier"])
        from web_scraper_spark.frontier.politeness import next_host_state

        man = self.state.commit_round(
            k, frontier_next, seen_delta, log, {"frontier_in": n_frontier},
            host_state=next_host_state(
                log, host_state, self.robots, cfg.round_seconds, cfg.default_crawl_delay
            ),
        )
        metrics = {k_: v for k_, v in man["metrics"].items() if k_ != "status_counts"}
        n_log = metrics["fetched"]
        n_next = sum(man["lineage"]["frontier"])
        wall = _time.monotonic() - t0
        metrics.update(
            frontier_next=n_next,
            wall_s=round(wall, 3),
            urls_per_s=round((n_frontier + n_next) / wall, 1) if wall > 0 else None,
        )
        candidates.unpersist()
        selected.unpersist()
        rank_handle.unpersist()
        fetched.unpersist()
        parsed.unpersist()
        log.unpersist()
        if bloom_handle is not None:
            bloom_handle.unpersist()
        return RoundResult(k, metrics), n_log, n_next


    # ------------------------------------------------------------------

    def _hygiene_gate(self, k: int, candidates: DataFrame) -> DataFrame:
        """Health circuit breaker + per-template trap budget on the
        round's candidate set (frontier/schedule.py semantics composed
        into the loop; simulator-mirrored). Both signal frames are
        metadata-sized — one row per suspended host / over-budget
        template cell — and broadcast against the frontier, so the round
        plan gains no non-metadata shuffle (plan-asserted in
        tests/test_plans.py). Gated URLs leave the frontier permanently,
        exactly like robots-blocked ones (carryover is computed from
        candidates): the circuit breaker trips for the crawl."""
        from web_scraper_spark.frontier.traps import url_template

        cfg = self.cfg
        log = self.state.read_fetch_log(k - 1)
        err = F.when(
            F.col("status").isin(*cfg.health_error_statuses), 1
        ).otherwise(0)
        stats = (
            log.select("host", err.alias("_err"))
            .groupBy("host")
            .agg(F.count("*").alias("_n"), F.sum("_err").alias("_e"))
        )
        suspended = stats.where(
            (F.col("_n") >= cfg.health_min_evidence)
            & (F.col("_e") / F.col("_n") >= cfg.health_suspend_rate)
        ).select("host")
        gated = candidates.join(F.broadcast(suspended), "host", "left_anti")
        # trap budget over the post-health candidate set (candidates are
        # unique per url_canon, so count(*) == distinct-URL count)
        cells = (
            gated.select("host", url_template(F.col("url_canon")).alias("_tmpl"))
            .groupBy("host", "_tmpl")
            .agg(F.count("*").alias("_n"))
            .where(F.col("_n") > cfg.trap_template_cap)
            .select("host", "_tmpl")
        )
        return (
            gated.withColumn("_tmpl", url_template(F.col("url_canon")))
            .join(F.broadcast(cells), ["host", "_tmpl"], "left_anti")
            .select(*candidates.columns)  # keep the frontier column order
        )

    def _next_frontier(
        self,
        k: int,
        candidates: DataFrame,
        selected: DataFrame,
        missing: DataFrame,
        parsed: DataFrame,
        as_of_date,
    ) -> DataFrame:
        """Next round's queue. Carryover is computed from *candidates*
        (post seen-anti-join, post robots), so already-fetched and
        robots-blocked URLs leave the frontier permanently and the
        fixpoint terminates."""
        cfg = self.cfg
        frontier_cols = [f.strip().split(" ")[0] for f in FRONTIER_SCHEMA.split(",")]

        # (a) carryover: candidates not selected this round (budget-deferred)
        carry = candidates.join(
            selected.select("url_canon"), on="url_canon", how="left_anti"
        ).select(*frontier_cols)

        # (b) failed fetches requeue with fail_count+1 (ST7 retry budget)
        requeue = (
            missing.withColumn("fail_count", F.col("fail_count") + 1)
            .filter(F.col("fail_count") < cfg.max_fail)
            .select(*frontier_cols)
        )

        # (c) new links from this round's parses
        src_pos_map = F.create_map(
            *[x for i, s in enumerate(cfg.sources_by_pos) for x in (F.lit(s), F.lit(i))]
        )
        cat_links = (
            parsed.filter(F.col("rec_type") == "cat_link")
            # F6: excluded categories (gamma shape)
            .filter(
                (F.col("source") != "gamma")
                | ~F.col("anchor").isin(list(cfg.excluded_categories))
            )
            .select(
                F.col("out_url").alias("url"), "source",
                F.lit(1).alias("depth"),
                F.col("anchor").alias("category_name"),
                "category_pos",
                F.lit(1).alias("page_no"),
                F.lit(-1).alias("listing_pos"),
                F.lit("").alias("listing_date"),
            )
        )
        art_links = (
            parsed.filter(F.col("rec_type") == "art_link")
            .select(
                F.col("out_url").alias("url"), "source",
                F.lit(2).alias("depth"),
                "category_name", "category_pos", "page_no", "listing_pos",
                F.coalesce("listing_date", F.lit("")).alias("listing_date"),
            )
            # F4: alpha URL-slug date filter — target date parameterized:
            # == as_of (TuoiTre) or == as_of-1 (VnNet yesterday window)
            .filter(
                (F.col("source") != "alpha")
                | (
                    F.expr(r"try_to_date(regexp_extract(url, '-(\\d{8})\\d*\\.htm$', 1), 'yyyyMMdd')")
                    == F.lit(cfg.alpha_target_date())
                )
            )
            # F5: gamma listing-date filter (CrawlPaperZNews.py:218-237)
            .filter(
                (F.col("source") != "gamma")
                | (
                    F.expr("try_to_date(listing_date, 'dd/MM/yyyy')")
                    == F.lit(as_of_date)
                )
            )
        )
        # H6: beta pagination synthesis — sequence+explode, no fetch needed
        page_links = (
            parsed.filter((F.col("rec_type") == "page_meta") & (F.col("last_page") > 1))
            .select(
                F.explode(F.sequence(F.lit(2), F.col("last_page"))).alias("p"),
                "url", "source", "category_name", "category_pos",
            )
            .select(
                F.concat(F.col("url"), F.lit("-p"), F.col("p")).alias("url"),
                "source",
                F.lit(1).alias("depth"),
                "category_name", "category_pos",
                F.col("p").cast("int").alias("page_no"),
                F.lit(-1).alias("listing_pos"),
                F.lit("").alias("listing_date"),
            )
        )

        new_links = cat_links.unionByName(art_links).unionByName(page_links)
        # hygiene: resolve new outlinks through the redirect map BEFORE
        # canonicalization/seen-insert; cycle/over-bound chains are
        # unfetchable and dropped (frontier/redirects.py semantics)
        rmap = self._resolved_redirects()
        if rmap is not None:
            r = rmap.select(F.col("url").alias("_r_src"), "final_url", "resolved")
            new_links = (
                new_links.join(r, new_links.url == F.col("_r_src"), "left")
                .where(F.col("resolved").isNull() | F.col("resolved"))
                .withColumn("url", F.coalesce(F.col("final_url"), F.col("url")))
                .drop("_r_src", "final_url", "resolved")
            )
        new_keyed = _with_keys(new_links, cfg.n_buckets).withColumn(
            "source_pos", src_pos_map[F.col("source")]
        )
        # within-round dedup: first discovery (by canonical order) wins
        # metadata; inlink count aggregates (priority signal)
        w = Window.partitionBy("url_canon").orderBy(
            "source_pos", "category_pos", "page_no", "listing_pos"
        )
        new_entries = (
            new_keyed.withColumn("inlinks", F.count("*").over(Window.partitionBy("url_canon")).cast("long"))
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
            .withColumn("fail_count", F.lit(0))
            .withColumn("round_added", F.lit(k))
            .select(*frontier_cols)
        )

        merged = carry.unionByName(requeue).unionByName(new_entries)
        # cross-version dedup: keep the earliest-added entry per canonical URL
        w2 = Window.partitionBy("url_canon").orderBy("round_added", "listing_pos")
        return (
            merged.withColumn("_rn", F.row_number().over(w2))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
