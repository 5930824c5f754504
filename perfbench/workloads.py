"""The benchmark's workloads. Each builds its inputs from the seed, runs
timed passes through the engine's public functions only, and checks its
outputs against an independent computation outside the timer.

Why these two (each stresses layers the other leaves idle):

- crawl_site: a fresh crawl of a small generated news site. The frontier
  is tiny and fits the Bloom filter, so time goes to parse, per-round
  commits and the per-job constants of a round.
- frontier_round: one engine round over a large committed frontier and a
  seen set past the Bloom filter's capacity, with a fetch stage that
  returns few pages. Time goes to Bloom split, anti-join, politeness,
  ranking and one large state write.
"""

from __future__ import annotations

import glob
import os
import shutil
import tempfile

AS_OF = "2025-12-01T22:30:00"


# ---------------------------------------------------------------------------
# crawl_site
# ---------------------------------------------------------------------------


class CrawlSite:
    """Fresh ``CrawlEngine.run(seeds=...)`` over a generated site.

    Two rounds per pass (home pages, then category listings) keep one
    pass near 20 s on 4 cores: a round costs ~10 s of per-job constants
    here, whatever its size. ``compact_every=2`` makes ``compact_seen``
    run once per pass."""

    SITE = {"n_categories": 6, "articles_per_category": 12}
    CRAWL = {"as_of": AS_OF, "round_seconds": 30.0, "max_rounds": 2, "compact_every": 2}
    item_unit = "pages"

    def __init__(self, spark, seed: int, work: str):
        self.spark, self.seed = spark, seed
        self.state_root = os.path.join(work, "crawl_state")
        self.engine = None

    def setup(self) -> None:
        from web_scraper_spark.frontier.engine import CrawlConfig
        from web_scraper_spark.synth import SiteConfig, build_pages_df, build_robots_df

        self.site = SiteConfig(seed=self.seed, **self.SITE)
        self.cfg = CrawlConfig(**self.CRAWL)
        self.pages = build_pages_df(self.spark, self.site).cache()
        self.pages.count()
        self.robots = build_robots_df(self.spark, self.site).cache()
        self.robots.count()

    def reset(self) -> None:
        from web_scraper_spark.frontier.engine import CrawlEngine

        if self.engine is not None:
            shutil.rmtree(self.engine.state.dir, ignore_errors=True)
        os.makedirs(self.state_root, exist_ok=True)
        self.engine = CrawlEngine(
            self.spark, self.pages, self.robots,
            tempfile.mkdtemp(dir=self.state_root), self.cfg,
        )

    def run_pass(self) -> int:
        from web_scraper_spark.synth import seed_urls

        results = self.engine.run(seeds=seed_urls(self.site))
        return sum(r.metrics["fetched"] for r in results)

    def check(self) -> list[tuple[str, bool]]:
        """The tests/test_crawl.py contract: ordered fetch log and final
        seen set equal the sequential simulator's."""
        from web_scraper_spark.frontier.simulator import simulate_crawl
        from web_scraper_spark.synth import seed_urls

        sim = simulate_crawl(self.site, self.cfg, seed_urls(self.site))
        log = self.engine.state.read_fetch_log().orderBy("round", "fetch_pos").collect()
        eng_order = [(r["round"], r["url_canon"], r["status"]) for r in log]
        sim_order = [(r["round"], r["url_canon"], r["status"]) for r in sim.fetch_log]
        eng_seen = {r["url_canon"] for r in self.engine.state.read_seen(999).collect()}
        return [
            ("crawl_order", eng_order == sim_order and len(eng_order) > 0),
            ("seen_set", eng_seen == sim.seen),
        ]


# ---------------------------------------------------------------------------
# frontier_round
# ---------------------------------------------------------------------------


class FrontierRound:
    """Round 1 is committed once with ``CrawlState.commit_round``; each
    pass drops round 2 (untimed) and times ``run(resume=True)`` for one
    round, the first round that takes the Bloom path.

    Sizes: N_FRONTIER URLs over N_HOSTS hosts (host 0 holds 10%), a seen
    set of N_SEEN URLs (a quarter of the frontier plus unrelated URLs).
    The engine's 16 buckets x 2^17 bits with k=5 hold ~14k URLs per
    bucket at 1% false positives; N_SEEN / 16 = 25k is nearly twice
    that (11% false positives measured), the over-full state a
    fixed-size filter reaches on a growing crawl."""

    N_FRONTIER = 100_000
    N_SEEN = 400_000
    N_HOSTS = 1000
    ROUND_SECONDS = 20.0
    FETCH_ONE_IN = 64  # the fetch stage returns a page for 1 URL in 64
    item_unit = "urls"

    def __init__(self, spark, seed: int, work: str):
        self.spark, self.seed = spark, seed
        self.state_dir = os.path.join(work, "frontier_state")

    def _urls(self, lo: int, hi: int):
        from pyspark.sql import functions as F

        from web_scraper_spark.urls import url_hash, url_host, with_canon

        s = F.lit(self.seed)
        host_id = F.when(F.col("id") % 10 == 0, F.lit(0)).otherwise(
            F.pmod(F.xxhash64("id", s), F.lit(self.N_HOSTS))
        )
        df = self.spark.range(lo, hi).select(
            "id",
            F.concat(
                F.lit("HTTP://Host-"), host_id.cast("string"),
                F.lit(f".Example.com:80/s{self.seed}//"),
                (F.col("id") % 97).cast("string"),
                F.lit("/article-"), F.col("id").cast("string"),
                F.lit(".htm#frag"),
            ).alias("url"),
        )
        return (
            with_canon(df, "url", "url_canon")
            .withColumn("url_hash", url_hash(F.col("url_canon")))
            .withColumn("bucket", F.pmod(F.col("url_hash"), F.lit(16)).cast("int"))
            .withColumn("host", url_host(F.col("url_canon")))
        )

    def _robots(self):
        rows = []
        for i in range(self.N_HOSTS):
            delay = (0.5, 1.0, 2.0, 4.0)[(i + self.seed) % 4]
            disallow = [f"/s{self.seed}/13/"] if i % 10 == 3 else []
            rows.append((f"host-{i}.example.com", delay, disallow))
        return self.spark.createDataFrame(
            rows, "host string, crawl_delay double, disallow array<string>"
        )

    def _fetch(self, df):
        from pyspark.sql import functions as F

        page = b"<html><head><title>t</title></head><body><p>x</p></body></html>"
        return df.where(
            F.pmod(F.xxhash64("url"), F.lit(self.FETCH_ONE_IN)) == 0
        ).select("url", F.lit(page).alias("html"))

    def setup(self) -> None:
        from pyspark.sql import functions as F

        from web_scraper_spark.frontier.engine import CrawlConfig, CrawlEngine
        from web_scraper_spark.frontier.state import FETCH_LOG_SCHEMA, FRONTIER_SCHEMA

        cols = [c.strip().split(" ")[0] for c in FRONTIER_SCHEMA.split(",")]
        srcs = F.array(F.lit("alpha"), F.lit("beta"), F.lit("gamma"))
        h = F.xxhash64("id", F.lit(self.seed + 1))
        frontier = self._urls(0, self.N_FRONTIER).select(
            "url", "url_canon", "url_hash", "bucket", "host",
            F.element_at(srcs, (F.col("id") % 3 + 1).cast("int")).alias("source"),
            (F.col("id") % 3).cast("int").alias("source_pos"),
            (F.pmod(h, F.lit(2)) + 1).cast("int").alias("depth"),
            F.lit("").alias("category_name"),
            (F.col("id") % 7).cast("int").alias("category_pos"),
            F.lit(1).alias("page_no"),
            (F.col("id") % 50).cast("int").alias("listing_pos"),
            F.lit("").alias("listing_date"),
            F.pmod(h, F.lit(100)).alias("inlinks"),
            F.lit(0).alias("fail_count"),
            F.lit(1).alias("round_added"),
        ).select(*cols)
        seen_extra = self.N_SEEN - self.N_FRONTIER // 4
        seen = (
            self._urls(0, self.N_FRONTIER).where(F.col("id") % 4 == 0)
            .unionByName(self._urls(self.N_FRONTIER, self.N_FRONTIER + seen_extra))
            .select("url_hash", "bucket", "url_canon", F.lit(1).alias("round"))
        )
        self.robots = self._robots().cache()
        self.cfg = CrawlConfig(
            as_of=AS_OF, round_seconds=self.ROUND_SECONDS, max_rounds=1, compact_every=0
        )
        self.engine = CrawlEngine(
            self.spark, None, self.robots, self.state_dir, self.cfg, fetch_fn=self._fetch
        )
        # round 1 is the last committed round, so the timed round is k=2,
        # the first that takes the Bloom path; a committed round 0 would
        # add nothing the resumed round reads
        self.engine.state.commit_round(
            1, frontier, seen, self.spark.createDataFrame([], FETCH_LOG_SCHEMA),
            {"frontier_in": 0},
        )

    def reset(self) -> None:
        self.engine.state.drop_rounds_after(1)

    def run_pass(self) -> int:
        (res,) = self.engine.run(resume=True)
        return res.metrics["frontier_in"] + res.metrics["frontier_next"]

    def check(self) -> list[tuple[str, bool]]:
        """Round 2's (url_canon, fetch_pos) set against DuckDB: anti-join
        with the seen set, robots prefixes, per-host budget
        ceil(round_seconds / crawl_delay), then the canonical priority
        order over the whole batch."""
        import duckdb

        st = self.engine.state
        rd = st._round_dir
        robots = self.robots.toPandas()
        seen_files = [
            f for p in st.seen_paths(1) for f in glob.glob(os.path.join(p, "*", "*.parquet"))
        ]
        order = ("depth, inlinks DESC, source_pos, category_pos, page_no, "
                 "listing_pos, url_canon")
        con = duckdb.connect()
        try:
            con.register("robots", robots)
            expected = con.execute(f"""
                WITH fr AS (SELECT * FROM read_parquet('{rd(1)}/frontier/*.parquet')),
                seen AS (SELECT url_hash, bucket FROM read_parquet({seen_files!r},
                                                                   hive_partitioning = true)),
                cand AS (SELECT * FROM fr
                         WHERE NOT EXISTS (SELECT 1 FROM seen s
                                           WHERE s.url_hash = fr.url_hash
                                             AND s.bucket = fr.bucket)),
                allowed AS (
                    SELECT c.*, coalesce(r.crawl_delay, 1.0) AS crawl_delay
                    FROM cand c LEFT JOIN robots r USING (host)
                    WHERE r.disallow IS NULL OR len(list_filter(r.disallow, d -> starts_with(
                        regexp_extract(c.url_canon, '^[a-z][a-z0-9+.\\-]*://[^/]*(/.*)$', 1), d))) = 0),
                ranked AS (SELECT *, row_number() OVER (PARTITION BY host ORDER BY {order}) AS hr
                           FROM allowed)
                SELECT url_canon, row_number() OVER (ORDER BY {order}) AS fetch_pos
                FROM ranked WHERE hr <= ceil({self.ROUND_SECONDS} / crawl_delay)
            """).fetchall()
            got = con.execute(
                f"SELECT url_canon, fetch_pos FROM read_parquet('{rd(2)}/fetch_log/*.parquet')"
            ).fetchall()
        finally:
            con.close()
        return [("round_selection", sorted(got) == sorted(expected) and len(got) > 0)]


WORKLOADS = {
    "crawl_site": CrawlSite,
    "frontier_round": FrontierRound,
}
