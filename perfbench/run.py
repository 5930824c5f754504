"""Repository benchmark: one workload per run, one JSON result line.

    python3 perfbench/run.py --workload crawl_site --seed 1 --seconds 20 --trace 0

Run from the repository root. One driver process runs a Spark session at
local[<cores available to the process>] and drives the engine as a closed
loop with one client: each timed pass starts after the previous one ends.

--trace 0 prints the end-to-end metrics: set-up time (session start,
input generation and one untimed warm pass), the median pass time, the
median work rate and the peak resident memory of the driver Python and
JVM processes. --trace 1 starts the session with Spark's event log on,
times untraced passes, then traced passes with a span around each layer
entry point, and prints the per-layer metrics (see README.md).

Everything the run writes (state dirs, event log, Spark scratch, temp
files) goes under .perfbench_work/ in the repository and is removed at
exit. The last stdout line is the result; stderr carries Spark's logs.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# a fixed-size heap (-Xms = -Xmx) keeps the JVM from resizing it at
# GC-timing-dependent moments, which made peak RSS wander run to run
DRIVER_MEMORY = "3g"


def _rss_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _quartiles(values: list[float]) -> dict:
    if len(values) < 2:
        return {"median": values[0], "q1": values[0], "q3": values[0], "n": len(values)}
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return {"median": statistics.median(values), "q1": q1, "q3": q3, "n": len(values)}


class Session:
    """The benchmark's Spark session, its JVM process and scratch dirs."""

    def __init__(self, work: str, cpus: int, event_dir: str | None):
        tmp = os.path.join(work, "tmp")
        local = os.path.join(work, "spark-local")
        os.makedirs(tmp)
        os.makedirs(local)
        # the launcher, the JVM and the Python workers all inherit these
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LOCAL_DIRS"] = local
        # spark-submit's launcher JVM, started before the driver JVM
        os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        )
        tempfile.tempdir = tmp
        conf = {
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Xms{DRIVER_MEMORY} -Djava.io.tmpdir={tmp} -Dderby.system.home={work} "
                "-XX:-UsePerfData"
            ),
            "spark.ui.showConsoleProgress": "false",
        }
        if event_dir:
            os.makedirs(event_dir)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        from pyspark import SparkContext

        from web_scraper_spark.session import get_spark

        self.spark = get_spark(
            app_name="perfbench", master=f"local[{cpus}]",
            shuffle_partitions=cpus, extra_conf=conf,
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.proc = SparkContext._gateway.proc
        # start the Arrow Python workers once, outside any measurement
        self.spark.range(4 * cpus).mapInPandas(lambda it: it, "id long").count()

    def peak_rss_mb(self) -> float:
        return _rss_hwm_mb(os.getpid()) + _rss_hwm_mb(self.proc.pid)

    def stop(self) -> None:
        from pyspark import SparkContext

        self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if self.proc.stdin:
            self.proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            self.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait(timeout=30)


def timed_passes(wl, seconds: float, failures: list) -> tuple[list, list]:
    """Closed loop: passes back to back (untimed reset in between), at
    least one, and another only while the last pass's time still fits in
    ``seconds``. Stopping at a time threshold instead would make a pass
    lasting about ``seconds`` run once or twice by chance, and the median
    of a run would jump with it. Returns (pass seconds, items per s)."""
    walls, rates = [], []
    spent = 0.0
    while not walls or spent + walls[-1] <= seconds:
        wl.reset()
        t0 = time.monotonic()
        try:
            items = wl.run_pass()
        except Exception:
            traceback.print_exc()
            failures.append("pass")
            spent += time.monotonic() - t0
            if len(failures) > 3:
                break
            continue
        dt = time.monotonic() - t0
        spent += dt
        walls.append(dt)
        rates.append(items / dt)
    return walls, rates


def run_checks(wl, failures: list) -> int:
    try:
        checks = wl.check()
    except Exception:
        traceback.print_exc()
        failures.append("check")
        return 1
    for name, ok in checks:
        print(f"check {name}: {'ok' if ok else 'MISMATCH'}", file=sys.stderr)
        if not ok:
            failures.append(f"check:{name}")
    return len(checks)


def traced_run(wl, seconds: float, failures: list):
    """Half the time untraced, half with layer spans: returns the tracer,
    the untraced pass seconds and the traced passes' (start, end) epochs."""
    import spans

    untraced, _ = timed_passes(wl, seconds / 2, failures)
    tracer = spans.Tracer()
    tracer.install_engine()
    traced, spent = [], 0.0
    try:
        while not traced or spent + traced[-1][1] - traced[-1][0] <= seconds / 2:
            wl.reset()
            with tracer.span("pass") as sp:
                try:
                    wl.run_pass()
                except Exception:
                    traceback.print_exc()
                    failures.append("pass")
                    if len(failures) > 3:
                        break
                    continue
            spent += sp["end"] - sp["start"]
            traced.append((sp["start"], sp["end"]))
    finally:
        tracer.uninstall()
    return tracer, untraced, traced


def layer_metrics(tracer, log: dict, windows: list) -> dict:
    """Per-layer metrics, per traced pass; a layer that does not run on the
    workload reads 0."""
    import spans

    n = len(windows)
    c = tracer.counts.get

    def ratio(a, b):
        return a / b if b else 0.0

    rounds = tracer.durations("engine.round")
    round_spans = [s for s in tracer.spans if s["name"] == "engine.round"]
    parse_s = tracer.self_time("html.parse")
    out = {
        "engine.round_s": (statistics.median(rounds) if rounds else 0.0, "s"),
        "engine.round_self_s": (tracer.self_time("engine.round") / n, "s"),
        "engine.rounds": (len(rounds) / n, "count"),
        "engine.jobs_per_round": (ratio(spans.jobs_in(log, round_spans), len(rounds)), "count"),
        "engine.antijoin_s": (tracer.self_time("engine.antijoin") / n, "s"),
        "state.commit_s": (tracer.self_time("state.commit") / n, "s"),
        "state.bytes_written": (c("state.bytes_written", 0) / n, "bytes"),
        "state.files_written": (c("state.files_written", 0) / n, "count"),
        "state.compact_s": (tracer.self_time("state.compact") / n, "s"),
        "state.compact_bytes": (c("state.compact_bytes", 0) / n, "bytes"),
        "state.seen_paths": (ratio(c("state.seen_paths", 0), c("state.seen_reads", 0)), "count"),
        "bloom.split_s": (tracer.self_time("bloom.split") / n, "s"),
        "bloom.definitely_new_ratio": (
            ratio(c("bloom.new", 0), c("bloom.new", 0) + c("bloom.maybe", 0)), "ratio"),
        "bloom.false_positive_rate": (
            ratio(c("bloom.false_pos", 0), c("bloom.false_pos", 0) + c("bloom.new", 0)), "ratio"),
        "bloom.bitmap_bytes": (c("bloom.bitmap_bytes", 0), "bytes"),
        "urls.keying_s": (tracer.self_time("urls.keying") / n, "s"),
        "urls.udf_share": (ratio(c("urls.udf_rows", 0), c("urls.rows", 0)), "ratio"),
        "politeness.robots_s": (tracer.self_time("politeness.robots") / n, "s"),
        "politeness.select_s": (tracer.self_time("politeness.select") / n, "s"),
        "politeness.selected_ratio": (
            ratio(c("politeness.selected", 0), c("politeness.candidates", 0)), "ratio"),
        "politeness.host_skew": (c("politeness.host_skew", 0.0), "ratio"),
        "ranking.rank_s": (tracer.self_time("ranking.rank") / n, "s"),
        "fetch.join_s": (tracer.self_time("fetch.join") / n, "s"),
        "fetch.hit_ratio": (ratio(c("html.pages", 0), c("fetch.selected", 0)), "ratio"),
        "html.parse_s": (parse_s / n, "s"),
        "html.pages_per_s": (ratio(c("html.pages", 0), parse_s), "1/s"),
        "html.records_per_page": (ratio(c("html.records", 0), c("html.pages", 0)), "ratio"),
    }
    units = {"_s": "s", "_bytes": "bytes", "_share": "ratio", "_skew": "ratio"}
    for k, v in spans.spark_metrics(log, windows).items():
        unit = next((u for suf, u in units.items() if k.endswith(suf)), "count")
        out[k] = (v, unit)
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "web_scraper_spark", "frontier", "engine.py")):
        print(f"perfbench: no web_scraper_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import spans
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    cpus = len(os.sched_getaffinity(0))
    base = os.path.join(ROOT, ".perfbench_work")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=base)
    event_dir = os.path.join(work, "events") if args.trace else None
    session = None
    try:
        t0 = time.monotonic()
        session = Session(work, cpus, event_dir)
        session_s = time.monotonic() - t0
        import pyarrow
        import pyspark

        env = {
            "nproc": cpus, "python": sys.version.split()[0],
            "spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
            "workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace,
        }
        print(json.dumps({"env": env}), flush=True)

        wl = WORKLOADS[args.workload](session.spark, args.seed, work)
        failures: list[str] = []
        t0 = time.monotonic()
        wl.setup()
        input_s = time.monotonic() - t0
        wl.reset()
        t0 = time.monotonic()
        wl.run_pass()  # warm pass: JIT, codegen, Python workers, file caches
        warm_s = time.monotonic() - t0

        if not args.trace:
            walls, rates = timed_passes(wl, args.seconds, failures)
            peak_rss_mb = session.peak_rss_mb()  # before the checks' DuckDB work
            n_checks = run_checks(wl, failures)
            if not walls:
                print("perfbench: every timed pass failed", file=sys.stderr)
                return 1
            wall, rate = _quartiles(walls), _quartiles(rates)
            print(json.dumps({"setup": {"session_s": session_s, "input_s": input_s,
                                        "warm_s": warm_s},
                              "wall_s": wall, "items_per_s": rate,
                              "passes_s": walls, "item": wl.item_unit}), flush=True)
            metrics = {
                "setup_s": (session_s + input_s + warm_s, "s"),
                "wall_s": (wall["median"], "s"),
                "items_per_s": (rate["median"], "1/s"),
                "peak_rss_mb": (peak_rss_mb, "MB"),
            }
            attempted = len(walls) + failures.count("pass") + n_checks
        else:
            tracer, untraced, traced = traced_run(wl, args.seconds, failures)
            n_checks = run_checks(wl, failures)
            session.stop()
            session = None
            if not untraced or not traced:
                print("perfbench: every timed pass failed", file=sys.stderr)
                return 1
            metrics = layer_metrics(tracer, spans.read_event_log(event_dir), traced)
            metrics["trace.overhead_s"] = (
                statistics.median(b - a for a, b in traced) - statistics.median(untraced), "s")
            attempted = len(untraced) + len(traced) + failures.count("pass") + n_checks

        result = {
            "correct": not failures,
            "attempted": attempted,
            "failed": len(failures),
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
        print(json.dumps(result), flush=True)
        return 0
    finally:
        if session is not None:
            session.stop()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
