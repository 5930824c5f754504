"""Traced run: layer spans recorded around the engine's public entry points,
plus a parser for Spark's JSON event log.

A span is (name, start, end, parent). Each wrapper materialises the frame
its layer returns (``localCheckpoint(eager=True)``) so the span holds that
layer's own Spark work instead of leaving it to whichever later action
first touches the lazy plan. Jobs and stages from the event log are
attributed to spans by submission time: to the traced passes for the
spark.* metrics, to the engine.round spans for jobs per round.

Spans are kept in memory and turned into metrics after the session stops
(the event log is complete only then).
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self.counts: dict[str, float] = {}
        self._stack: list[int] = []
        self._undo: list[tuple[object, str, object]] = []
        self.last_seen = None  # seen frame the engine read for the current round

    # -- spans ---------------------------------------------------------------

    @contextmanager
    def span(self, name: str):
        rec = {"name": name, "start": time.time(), "end": None,
               "parent": self._stack[-1] if self._stack else None}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def add(self, key: str, value: float) -> None:
        self.counts[key] = self.counts.get(key, 0) + value

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name and s["end"]]

    def self_time(self, name: str) -> float:
        """Summed self time of every span called ``name``: its duration minus
        the part covered by its direct children."""
        total = 0.0
        for i, s in enumerate(self.spans):
            if s["name"] != name or s["end"] is None:
                continue
            child = sum(
                c["end"] - c["start"] for c in self.spans
                if c["parent"] == i and c["end"] is not None
            )
            total += (s["end"] - s["start"]) - child
        return total

    # -- wrappers ------------------------------------------------------------

    def _patch(self, owner, attr: str, wrapper) -> None:
        self._undo.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, wrapper)

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    def install_engine(self) -> None:
        """Wrap each layer entry point the way frontier/engine.py calls it."""
        from web_scraper_spark.frontier import engine as eng
        from web_scraper_spark.frontier.state import CrawlState
        from web_scraper_spark.operators import ranking

        tr = self

        def pin(df):
            return df.localCheckpoint(eager=True)

        orig_round = eng.CrawlEngine._run_round

        def run_round(self_, k, fetch_offset):
            with tr.span("engine.round"):
                return orig_round(self_, k, fetch_offset)

        orig_keys = eng._with_keys

        def with_keys(df, n_buckets):
            n = df.count()
            n_pct = df.where(df["url"].contains("%")).count()
            tr.add("urls.rows", n)
            tr.add("urls.udf_rows", n_pct)
            with tr.span("urls.keying"):
                return pin(orig_keys(df, n_buckets))

        orig_split = eng.split_by_bloom_table

        def split(cand, bloom_df, spec):
            with tr.span("bloom.split"):
                new, maybe, handle = orig_split(cand, bloom_df, spec)
                new, maybe = pin(new), pin(maybe)
            n_new, n_maybe = new.count(), maybe.count()
            tr.add("bloom.new", n_new)
            tr.add("bloom.maybe", n_maybe)
            if tr.last_seen is not None:
                fp = maybe.join(tr.last_seen, on=["bucket", "url_hash"], how="left_anti").count()
                tr.add("bloom.false_pos", fp)
            tr.counts["bloom.bitmap_bytes"] = spec.n_buckets * spec.m / 8
            return new, maybe, handle

        orig_robots = eng.robots_filter

        def robots_filter(df, robots):
            # the input is the seen anti-join's lazy output: pin it first so
            # the robots span holds only the robots join
            with tr.span("engine.antijoin"):
                df = pin(df)
            with tr.span("politeness.robots"):
                return pin(orig_robots(df, robots))

        orig_select = eng.select_round

        def select_round(cand, *a, **kw):
            n_in = cand.count()
            with tr.span("politeness.select"):
                out = pin(orig_select(cand, *a, **kw))
            per_host = [r["count"] for r in out.groupBy("host").count().collect()]
            tr.add("politeness.candidates", n_in)
            tr.add("politeness.selected", sum(per_host))
            if per_host:
                tr.counts["politeness.host_skew"] = max(
                    tr.counts.get("politeness.host_skew", 0.0),
                    max(per_host) / statistics.mean(per_host),
                )
            return out

        orig_rank = ranking.with_global_rank

        def with_global_rank(df, order_cols, out_col, num_partitions=None):
            with tr.span("ranking.rank"):
                out, handle = orig_rank(df, order_cols, out_col, num_partitions)
                return pin(out), handle

        orig_parse = eng.parse_pages

        def parse_pages(df):
            # the parse input is the lazy fetch join (replay table or fetch_fn)
            with tr.span("fetch.join"):
                df = pin(df)
            n_pages = df.count()
            with tr.span("html.parse"):
                out = pin(orig_parse(df))
            tr.add("html.pages", n_pages)
            tr.add("html.records", out.count())
            return out

        orig_commit = CrawlState.commit_round

        def commit_round(self_, k, *a, **kw):
            with tr.span("state.commit"):
                man = orig_commit(self_, k, *a, **kw)
            n_files, n_bytes = _tree_size(self_._round_dir(k))
            tr.add("state.files_written", n_files)
            tr.add("state.bytes_written", n_bytes)
            m = man.get("metrics", {})
            tr.add("fetch.selected", m.get("selected", 0))
            return man

        orig_compact = CrawlState.compact_seen

        def compact_seen(self_, upto_round=None):
            with tr.span("state.compact"):
                upto = orig_compact(self_, upto_round)
            tr.add("state.compact_bytes", _tree_size(self_._compaction_dir(upto))[1])
            return upto

        orig_read_seen = CrawlState.read_seen

        def read_seen(self_, upto_round):
            tr.add("state.seen_paths", len(self_.seen_paths(upto_round)))
            tr.add("state.seen_reads", 1)
            tr.last_seen = orig_read_seen(self_, upto_round)
            return tr.last_seen

        self._patch(eng.CrawlEngine, "_run_round", run_round)
        self._patch(eng, "_with_keys", with_keys)
        self._patch(eng, "split_by_bloom_table", split)
        self._patch(eng, "robots_filter", robots_filter)
        self._patch(eng, "select_round", select_round)
        self._patch(ranking, "with_global_rank", with_global_rank)
        self._patch(eng, "parse_pages", parse_pages)
        self._patch(CrawlState, "commit_round", commit_round)
        self._patch(CrawlState, "compact_seen", compact_seen)
        self._patch(CrawlState, "read_seen", read_seen)


def _tree_size(path: str) -> tuple[int, int]:
    n_files = n_bytes = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            if f.endswith(".crc"):
                continue
            n_files += 1
            n_bytes += os.path.getsize(os.path.join(dirpath, f))
    return n_files, n_bytes


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------


def read_event_log(event_dir: str) -> dict:
    """Jobs and stages (with summed task metrics) from the one uncompressed
    event log file the benchmark's session wrote into ``event_dir``."""
    jobs: dict[int, dict] = {}
    stages: dict[tuple[int, int], dict] = {}
    names = [n for n in os.listdir(event_dir) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {event_dir}, found {names}")
    with open(os.path.join(event_dir, names[0])) as f:
        for line in f:
            e = json.loads(line)
            ev = e["Event"]
            if ev == "SparkListenerJobStart":
                jobs[e["Job ID"]] = {"start": e["Submission Time"], "end": None}
            elif ev == "SparkListenerJobEnd":
                jobs[e["Job ID"]]["end"] = e["Completion Time"]
            elif ev == "SparkListenerStageSubmitted":
                si = e["Stage Info"]
                stages[(si["Stage ID"], si["Stage Attempt ID"])] = {
                    "submit": si.get("Submission Time"), "tasks": [],
                    "run_ms": 0, "gc_ms": 0, "shuffle_read": 0,
                    "shuffle_write": 0, "spill": 0,
                }
            elif ev == "SparkListenerTaskEnd":
                st = stages.get((e["Stage ID"], e["Stage Attempt ID"]))
                tm = e.get("Task Metrics")
                if st is None or not tm:
                    continue
                st["tasks"].append(tm["Executor Run Time"])
                st["run_ms"] += tm["Executor Run Time"]
                st["gc_ms"] += tm["JVM GC Time"]
                rd = tm["Shuffle Read Metrics"]
                st["shuffle_read"] += rd["Remote Bytes Read"] + rd["Local Bytes Read"]
                st["shuffle_write"] += tm["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                st["spill"] += tm["Memory Bytes Spilled"] + tm["Disk Bytes Spilled"]
    return {"jobs": list(jobs.values()), "stages": list(stages.values())}


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, cur = 0.0, None
    for a, b in sorted(intervals):
        if cur is None or a > cur[1]:
            if cur is not None:
                total += cur[1] - cur[0]
            cur = [a, b]
        else:
            cur[1] = max(cur[1], b)
    return total + (cur[1] - cur[0] if cur else 0.0)


def spark_metrics(log: dict, windows: list[tuple[float, float]]) -> dict:
    """spark.* metrics for the jobs and stages submitted inside ``windows``
    (epoch seconds), per window: the traced passes."""
    def inside(t_ms):
        return t_ms is not None and any(a * 1000 <= t_ms <= b * 1000 for a, b in windows)

    jobs = [j for j in log["jobs"] if inside(j["start"]) and j["end"] is not None]
    stages = [s for s in log["stages"] if inside(s["submit"])]
    n = max(1, len(windows))
    wall_ms = sum(b - a for a, b in windows) * 1000
    skews = [
        max(s["tasks"]) / statistics.median(s["tasks"])
        for s in stages
        if len(s["tasks"]) >= 4 and statistics.median(s["tasks"]) > 0
    ]
    return {
        "spark.jobs": len(jobs) / n,
        "spark.stages": len(stages) / n,
        "spark.tasks": sum(len(s["tasks"]) for s in stages) / n,
        "spark.task_s": sum(s["run_ms"] for s in stages) / 1000 / n,
        "spark.busy_share": _union_ms([(j["start"], j["end"]) for j in jobs]) / wall_ms if wall_ms else 0.0,
        "spark.shuffle_read_bytes": sum(s["shuffle_read"] for s in stages) / n,
        "spark.shuffle_write_bytes": sum(s["shuffle_write"] for s in stages) / n,
        "spark.spill_bytes": sum(s["spill"] for s in stages) / n,
        "spark.gc_s": sum(s["gc_ms"] for s in stages) / 1000 / n,
        "spark.task_skew": statistics.median(skews) if skews else 1.0,
    }


def jobs_in(log: dict, spans: list[dict]) -> int:
    return sum(
        1 for j in log["jobs"]
        if any(s["start"] * 1000 <= j["start"] <= s["end"] * 1000 for s in spans)
    )
