"""Sequential reference crawl simulator — the golden oracle (SURVEY.md §5).

Re-implements the reference's crawl loop (CrawlPaper*.py nested
category → page → article loops) as a tiny in-process sequential program
pinned to the *canonical* deterministic order (SURVEY.md T4 — the
reference iterates Python sets, whose order is only reproducible under a
fixed PYTHONHASHSEED; the documented canonical key replaces it).

It applies the identical crawl policy as the Spark engine — seen-set
dedup gate (F1), robots + per-host politeness budget (ST5), slot-window
filter with skip-but-don't-seal (F2/F3), slug/listing-date filters
(F4/F5), category exclusion (F6), pagination synthesis (H6) — using the
same shared extraction functions, so tests can assert:

- final URL-seen set equality (strict), and
- fetch-order equality against the engine's (round, fetch_pos) log.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field
from datetime import datetime

from web_scraper_spark.frontier.engine import CrawlConfig
from web_scraper_spark.functions.timeparse import parse_time_py
from web_scraper_spark.html.extract import extract_article, extract_links
from web_scraper_spark.synth.sitegen import SiteConfig, build_site, render_page
from web_scraper_spark.urls import canon_url_py, host_py


@dataclass
class SimEntry:
    url: str
    source: str
    source_pos: int
    depth: int
    category_name: str = ""
    category_pos: int = -1
    page_no: int = 0
    listing_pos: int = -1
    listing_date: str = ""
    inlinks: int = 0
    fail_count: int = 0
    round_added: int = 0

    def priority_key(self, url_canon: str):
        # politeness.PRIORITY_ORDER, verbatim
        return (
            self.depth,
            -self.inlinks,
            self.source_pos,
            self.category_pos,
            self.page_no,
            self.listing_pos,
            url_canon,
        )


@dataclass
class SimResult:
    fetch_log: list = field(default_factory=list)  # dict rows in fetch order
    seen: set = field(default_factory=set)  # canonical URLs
    rounds: int = 0


def _resolve_redirect_py(
    redirects: dict[str, str], url: str, max_hops: int = 16
) -> str | None:
    """Pointer-chase twin of frontier/redirects.py::resolve_redirects:
    walk up to ``max_hops`` jumps; if the reached URL still redirects
    (cycle / over-bound chain) the URL is unfetchable → None."""
    cur = url
    for _ in range(max_hops):
        nxt = redirects.get(cur)
        if nxt is None:
            return cur
        cur = nxt
    return None if cur in redirects else cur


def _sitemap_seed_entries(
    crawl_cfg: CrawlConfig, sitemap_bodies: list[tuple[str, str]], src_pos: dict
) -> dict[str, SimEntry]:
    """Pure-Python twin of engine.seed_frontier_from_sitemaps: parse leaf
    ``<urlset>`` bodies with the SAME regexes/entity chain as
    frontier/sitemap.py, apply the lastmod == as_of-date window, and seed
    depth-2 entries in (source_pos, pos, url) order (the engine's
    first-wins dedup key), inlinks aggregating duplicate locs via _add."""
    import re

    from web_scraper_spark.frontier.sitemap import _ENTITIES, _FIELD_RES, _URL_BLOCK_RE

    as_of_date = datetime.fromisoformat(crawl_cfg.as_of).date()
    parsed: list[tuple[int, int, str]] = []  # (source_pos, pos, loc)
    for _sm_url, body in sitemap_bodies:
        if "<sitemapindex" in body:
            continue  # engine seeds from leaf entries only (documented)
        for pos0, block in enumerate(re.findall(_URL_BLOCK_RE, body)):
            m = re.search(_FIELD_RES["loc"], block)
            loc = m.group(1).strip() if m else ""
            if not loc:
                continue
            for ent, ch in _ENTITIES:
                loc = loc.replace(ent, ch)
            lm = re.search(_FIELD_RES["lastmod"], block)
            lastmod = lm.group(1).strip() if lm else ""
            try:
                ok = datetime.strptime(lastmod[:10], "%Y-%m-%d").date() == as_of_date
            except ValueError:
                ok = False
            if not ok:
                continue
            source = loc.split("/")[2].split(".")[0]
            parsed.append((src_pos.get(source, 99), pos0 + 1, loc))
    entries: dict[str, SimEntry] = {}
    for sp, pos, loc in sorted(parsed):
        source = loc.split("/")[2].split(".")[0]
        _add(entries, loc, source, src_pos, depth=2, listing_pos=pos, round_added=0)
    return entries


def simulate_crawl(
    site_cfg: SiteConfig,
    crawl_cfg: CrawlConfig,
    seeds: list[str] | None = None,
    redirects: dict[str, str] | None = None,
    sitemap_bodies: list[tuple[str, str]] | None = None,
) -> SimResult:
    specs = {canon_url_py(s["url"]): s for s in build_site(site_cfg)}
    robots = {}
    for source, base in site_cfg.hosts.items():
        robots[base.split("//")[1]] = (
            float(site_cfg.crawl_delay[source]),
            tuple(site_cfg.robots_disallow[source]),
        )

    slot_start, slot_end = crawl_cfg.slot_bounds()
    as_of_dt = datetime.fromisoformat(crawl_cfg.as_of)
    as_of_date = as_of_dt.date()
    alpha_target = crawl_cfg.alpha_target_date()  # F4 as_of/yesterday mode
    src_pos = {s: i for i, s in enumerate(crawl_cfg.sources_by_pos)}

    assert (seeds is None) != (sitemap_bodies is None), (
        "exactly one of seeds / sitemap_bodies"
    )
    if sitemap_bodies is not None:
        frontier = _sitemap_seed_entries(crawl_cfg, sitemap_bodies, src_pos)
    else:
        frontier = {}
        for u in seeds:
            host = u.split("/")[2]
            source = host.split(".")[0]
            frontier[canon_url_py(u)] = SimEntry(
                url=u, source=source, source_pos=src_pos.get(source, 99), depth=0
            )

    res = SimResult()
    fetch_pos = 0
    host_nf: dict[str, float] = {}  # per-host schedule debt (ST5 continuity)
    for k in range(1, crawl_cfg.max_rounds + 1):
        # hygiene: per-host circuit breaker from rounds < k fetch outcomes
        # (mirrors CrawlEngine._hygiene_gate's read_fetch_log(k-1) rollup)
        suspended: set[str] = set()
        if crawl_cfg.hygiene:
            hstats: dict[str, list[int]] = {}
            for row in res.fetch_log:
                h = host_py(row["url_canon"])
                s = hstats.setdefault(h, [0, 0])
                s[0] += 1
                s[1] += row["status"] in crawl_cfg.health_error_statuses
            suspended = {
                h
                for h, (n, nerr) in hstats.items()
                if n >= crawl_cfg.health_min_evidence
                and nerr / n >= crawl_cfg.health_suspend_rate
            }
        # dedup gate (F1) + robots [+ health circuit breaker]
        candidates = {}
        for canon, e in frontier.items():
            if canon in res.seen:
                continue
            host = host_py(canon)
            delay, disallow = robots.get(host, (crawl_cfg.default_crawl_delay, ()))
            path = "/" + canon.split("/", 3)[3] if len(canon.split("/", 3)) > 3 else "/"
            if any(path.startswith(d) for d in disallow):
                continue
            if host in suspended:
                continue
            candidates[canon] = e
        # hygiene: per-(host, URL-template) trap budget over the
        # post-robots post-health candidate set (engine order)
        if crawl_cfg.hygiene:
            import re

            cells: dict[tuple[str, str], int] = {}
            tmpl: dict[str, tuple[str, str]] = {}
            for canon in candidates:
                t = (
                    host_py(canon),
                    re.sub("[0-9]+", "N", re.sub(r"^[a-z]+://[^/]+", "", canon)),
                )
                tmpl[canon] = t
                cells[t] = cells.get(t, 0) + 1
            candidates = {
                c: e
                for c, e in candidates.items()
                if cells[tmpl[c]] <= crawl_cfg.trap_template_cap
            }

        # per-host politeness budget, canonical priority order (ST5).
        # Cross-round continuity mirrors politeness.select_round: host_nf
        # carries each host's schedule phase over the boundary — budget =
        # ceil((R - next_free)/delay) slots fitting inside the window.
        by_host: dict[str, list[str]] = {}
        for canon, e in sorted(candidates.items(), key=lambda kv: kv[1].priority_key(kv[0])):
            by_host.setdefault(host_py(canon), []).append(canon)
        selected = []
        sel_per_host: dict[str, int] = {}
        for host, canons in by_host.items():
            delay, _ = robots.get(host, (crawl_cfg.default_crawl_delay, ()))
            nf = host_nf.get(host, 0.0)
            budget = (
                math.ceil((crawl_cfg.round_seconds - nf) / delay)
                if nf < crawl_cfg.round_seconds
                else 0
            )
            selected.extend(canons[:budget])
            sel_per_host[host] = min(budget, len(canons))
        selected.sort(key=lambda c: candidates[c].priority_key(c))
        # debt update — politeness.next_host_state, verbatim: hosts not
        # fetched this round decay by the window; zero-debt hosts drop out
        nxt_nf: dict[str, float] = {}
        for host in set(host_nf) | set(sel_per_host):
            delay, _ = robots.get(host, (crawl_cfg.default_crawl_delay, ()))
            nf = (
                host_nf.get(host, 0.0)
                + sel_per_host.get(host, 0) * delay
                - crawl_cfg.round_seconds
            )
            if nf > 0:
                nxt_nf[host] = nf
        host_nf = nxt_nf

        def add(entries, href, source, **kw):
            # hygiene: resolve through the redirect map before insert;
            # cycle/over-bound chains are unfetchable and dropped
            if crawl_cfg.hygiene and redirects:
                href = _resolve_redirect_py(redirects, href)
                if href is None:
                    return
            _add(entries, href, source, src_pos, **kw)

        if not selected and not candidates:
            # frontier truly exhausted — a budget-starved round (candidates
            # exist but every host is in schedule debt) instead falls
            # through as an EMPTY round, exactly like the engine, which
            # only stops when frontier_next is empty
            res.rounds = k - 1
            return res

        new_entries: dict[str, SimEntry] = {}
        for canon in selected:
            e = candidates[canon]
            fetch_pos += 1
            spec = specs.get(canon)
            if spec is None:
                e.fail_count += 1
                row = {"round": k, "fetch_pos": fetch_pos, "url": e.url,
                       "url_canon": canon, "status": "fetch_failed", "depth": e.depth}
                res.fetch_log.append(row)
                if e.fail_count < crawl_cfg.max_fail:
                    new_entries.setdefault(canon, e)
                continue
            html = render_page(spec)
            status = "crawled"
            art = None
            if e.depth == 2:
                art = extract_article(e.source, e.url, e.category_name, html)
                pt = parse_time_py(e.source, art.time, as_of=as_of_dt)
                if pt is None or not (slot_start <= pt <= slot_end):
                    status = "skipped_out_of_window"  # F3: not sealed
            row = {
                "round": k, "fetch_pos": fetch_pos, "url": e.url, "url_canon": canon,
                "status": status, "depth": e.depth,
                "category_name": art.category if art else e.category_name,
                "title": art.title if art else None,
                "content": art.content if art else None,
                "keyword": art.keyword if art else None,
                "time_str": art.time if art else None,
            }
            res.fetch_log.append(row)
            if status == "crawled":
                res.seen.add(canon)

            # frontier expansion (depth<2 only — BFS depth cap)
            if e.depth < 2:
                kind = "home" if e.depth == 0 else "listing"
                base = canon.split("/", 3)[0] + "//" + canon.split("/", 3)[2]
                links = extract_links(e.source, kind, base, html)
                if kind == "home":
                    for pos, (href, name) in enumerate(links.categories):
                        if e.source == "gamma" and name in crawl_cfg.excluded_categories:
                            continue  # F6
                        add(new_entries, href, e.source, depth=1,
                            category_name=name, category_pos=pos, page_no=1,
                            round_added=k)
                else:
                    for pos, href in enumerate(links.articles):
                        ld = links.listing_dates[pos] if pos < len(links.listing_dates) else ""
                        if e.source == "alpha":  # F4 slug-date
                            import re

                            m = re.search(r"-(\d{8})\d*\.htm$", href)
                            if not m or datetime.strptime(m.group(1), "%Y%m%d").date() != alpha_target:
                                continue
                        if e.source == "gamma":  # F5 listing-date
                            try:
                                if datetime.strptime(ld, "%d/%m/%Y").date() != as_of_date:
                                    continue
                            except ValueError:
                                continue
                        add(new_entries, href, e.source, depth=2,
                            category_name=e.category_name, category_pos=e.category_pos,
                            page_no=e.page_no, listing_pos=pos, listing_date=ld,
                            round_added=k)
                    if e.source == "beta" and e.page_no == 1 and links.last_page > 1:
                        for p in range(2, links.last_page + 1):
                            add(new_entries, f"{e.url}-p{p}", e.source,
                                depth=1, category_name=e.category_name,
                                category_pos=e.category_pos, page_no=p,
                                round_added=k)

        # next frontier: carryover (candidates minus selected) ∪ new entries,
        # earliest-added entry wins on conflict (engine _next_frontier w2)
        sel_set = set(selected)
        nxt = {c: e for c, e in candidates.items() if c not in sel_set}
        for canon, e in new_entries.items():
            if canon not in nxt:
                nxt[canon] = e
        frontier = nxt
        if not frontier:
            res.rounds = k
            return res
    res.rounds = crawl_cfg.max_rounds
    return res


def _add(entries: dict, href: str, source: str, src_pos: dict, **kw):
    canon = canon_url_py(href)
    if canon in entries:
        entries[canon].inlinks += 1
        return
    e = SimEntry(url=href, source=source, source_pos=src_pos.get(source, 99), **kw)
    e.inlinks = 1
    entries[canon] = e
