"""Iceberg-style snapshot state store for the crawl (SURVEY.md ST4/S10/S11).

True Iceberg needs its runtime jar (not in this sandbox), so the state
store implements the same *contract* on plain parquet + manifests:

- every round commits three datasets under ``round=K/``:
  ``frontier/`` (next round's queue), ``seen_delta/`` (URLs sealed this
  round, hash-bucketed), ``fetch_log/`` (per-URL outcome + canonical
  crawl order + extracted fields);
- a round is visible only once its ``manifest.json`` exists — the
  manifest is written to a temp name and atomically ``rename``d, so a
  kill mid-round leaves the previous snapshot intact (atomic multi-table
  commit per round);
- the manifest carries per-partition row counts for each dataset
  (lineage + metrics per north-rule) plus round-level metrics;
- resume = open the highest round with a manifest; partially written
  directories from a crashed round are simply overwritten.

The reference's analogues: seen-set rebuilt by re-reading its output CSV
(CrawlPaperTuoiTre.py:56-67), pickled frontier (``crawler_state.pkl``),
chunk checkpoint json (create_KG.py:15-30).
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
import time as _time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class ConcurrentCommitError(RuntimeError):
    """Two committers raced on the same round (Iceberg's commit-conflict
    analogue): the loser must not touch the winner's committed files."""


class SnapshotExpiredError(RuntimeError):
    """Time-travel read against a round whose queue/seen data was removed
    by ``expire_snapshots`` (Iceberg's 'snapshot no longer available'):
    the manifest survives for lineage/metrics, the data does not."""

FRONTIER_SCHEMA = (
    "url string, url_canon string, url_hash long, bucket int, host string, "
    "source string, source_pos int, depth int, "
    "category_name string, category_pos int, page_no int, listing_pos int, "
    "listing_date string, inlinks long, fail_count int, round_added int"
)
SEEN_SCHEMA = "url_hash long, bucket int, url_canon string, round int"
FETCH_LOG_SCHEMA = (
    "round int, fetch_pos long, url string, url_canon string, host string, "
    "source string, depth int, category_name string, category_pos int, "
    "page_no int, listing_pos int, status string, "
    "keyword string, time_str string, title string, content string, "
    "publish_ts timestamp, fetch_slot_s double"
)


def _partition_counts(path: str) -> list[int]:
    """Per-file row counts straight from the parquet footers — the lineage
    record costs metadata reads, not a rescan of what was just written
    (footer num_rows is exact; one output file = one partition artifact)."""
    import pyarrow.parquet as pq

    counts = []
    for name in sorted(os.listdir(path)):
        full = os.path.join(path, name)
        if name.startswith("bucket="):  # partitioned layout: recurse one level
            counts.extend(_partition_counts(full))
        elif name.endswith(".parquet"):
            counts.append(pq.ParquetFile(full).metadata.num_rows)
    return counts


BLOOM_TABLE_SCHEMA = "bucket int, bitmap binary"


class CrawlState:
    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        n_buckets: int = 16,
        bloom_spec=None,
    ):
        """bloom_spec: when set, each commit also maintains the
        (bucket, bitmap) Bloom table incrementally — blooms(k) =
        blooms(k-1) OR bitmaps(seen_delta(k)) — entirely executor-side."""
        self.spark = spark
        self.dir = state_dir
        self.n_buckets = n_buckets
        self.bloom_spec = bloom_spec
        os.makedirs(state_dir, exist_ok=True)

    # -- round bookkeeping ---------------------------------------------------

    def _round_dir(self, k: int) -> str:
        return os.path.join(self.dir, f"round={k:04d}")

    def last_committed_round(self) -> int | None:
        best = None
        if not os.path.isdir(self.dir):
            return None
        for name in os.listdir(self.dir):
            if name.startswith("round=") and os.path.exists(
                os.path.join(self.dir, name, "manifest.json")
            ):
                k = int(name.split("=")[1])
                best = k if best is None else max(best, k)
        return best

    def manifest(self, k: int) -> dict:
        with open(os.path.join(self._round_dir(k), "manifest.json")) as f:
            return json.load(f)

    # -- readers -------------------------------------------------------------

    def read_frontier(self, k: int) -> DataFrame:
        return self.spark.read.schema(FRONTIER_SCHEMA).parquet(
            os.path.join(self._round_dir(k), "frontier")
        )

    def seen_paths(self, upto_round: int) -> list[str]:
        """The parquet paths a seen read at ``upto_round`` touches:
        compacted base (if any) + the delta tail. Exposed so tests can
        assert the LSM read stays base+short-tail under auto-compaction."""
        base_round, base_path = self._latest_compaction(upto_round)
        paths = [
            os.path.join(self._round_dir(i), "seen_delta")
            for i in range(base_round + 1, upto_round + 1)
            if os.path.exists(os.path.join(self._round_dir(i), "seen_delta"))
        ]
        return ([base_path] if base_path else []) + paths

    def read_seen(self, upto_round: int) -> DataFrame:
        """The seen table at round `upto_round`: compacted base (if any)
        plus the delta tail — the classic LSM read. Without periodic
        compaction the union-of-deltas read grows linearly with rounds;
        ``compact_seen`` folds deltas into one bucketed base."""
        from functools import reduce

        dfs = [
            self.spark.read.schema(SEEN_SCHEMA).parquet(p).select(
                "url_hash", "bucket", "url_canon", "round"
            )
            for p in self.seen_paths(upto_round)
        ]
        if not dfs:
            return self.spark.createDataFrame([], SEEN_SCHEMA)
        return reduce(lambda a, b: a.unionByName(b), dfs)

    # -- seen compaction ------------------------------------------------------

    def _compaction_dir(self, k: int) -> str:
        return os.path.join(self.dir, f"seen_compact={k:04d}")

    def _latest_compaction(self, upto_round: int) -> tuple[int, str | None]:
        best, path = -1, None
        for name in os.listdir(self.dir):
            if name.startswith("seen_compact=") and os.path.exists(
                os.path.join(self.dir, name, "_COMMITTED")
            ):
                k = int(name.split("=")[1])
                if best < k <= upto_round:
                    best, path = k, os.path.join(self.dir, name, "data")
        return best, path

    def _delta_buckets(self, lo_round: int, hi_round: int) -> set[int]:
        """Buckets touched by seen deltas in rounds (lo, hi] — read from the
        hive partition DIRECTORY NAMES, a pure metadata listing (Iceberg's
        manifest partition-summary analogue): no data file is opened."""
        touched: set[int] = set()
        for i in range(lo_round + 1, hi_round + 1):
            p = os.path.join(self._round_dir(i), "seen_delta")
            if not os.path.isdir(p):
                continue
            for name in os.listdir(p):
                if name.startswith("bucket="):
                    touched.add(int(name.split("=")[1]))
        return touched

    @staticmethod
    def _link_bucket_dir(src: str, dst: str) -> None:
        os.makedirs(dst, exist_ok=True)
        for name in os.listdir(src):
            if name.endswith(".parquet"):
                os.link(os.path.join(src, name), os.path.join(dst, name))

    def compact_seen(self, upto_round: int | None = None) -> int:
        """Fold all seen deltas ≤ upto_round into one bucket-partitioned
        base (atomic: visible only after the _COMMITTED marker lands).
        Readers at or past that round switch to base + tail; older
        compactions and the folded deltas become garbage (kept — cheap,
        and crash-simulating tests drop round dirs independently).
        Re-running is safe: a committed round returns at once, and an
        interrupted attempt is cleared and redone.

        Incremental (Iceberg ``overwritePartitions`` analogue): when a
        previous compaction exists, only the buckets the delta tail
        actually touched are re-read and rewritten; every untouched
        bucket's parquet files are HARD-LINKED from the previous base —
        a metadata-only carry, exactly how Iceberg's replacePartitions
        commit re-points manifests at unchanged data files. Compaction
        cost is therefore proportional to the churned partitions, not the
        table size — at the 10^10-URL design point a round that sealed
        URLs in 3% of the buckets re-writes 3% of the base."""
        upto = self.last_committed_round() if upto_round is None else upto_round
        cd = self._compaction_dir(upto)
        if os.path.exists(os.path.join(cd, "_COMMITTED")):
            return upto  # already folded; the base must not link onto itself
        # an interrupted earlier attempt may have left files or hard links
        # here; nothing reads an uncommitted compaction, so start clean
        shutil.rmtree(cd, ignore_errors=True)
        base_round, base_path = self._latest_compaction(upto)
        data = os.path.join(cd, "data")
        if base_path is None:
            # first compaction: full fold
            self.read_seen(upto).repartition(F.col("bucket")).write.mode(
                "overwrite"
            ).partitionBy("bucket").parquet(data)
        else:
            touched = self._delta_buckets(base_round, upto)
            if touched:
                tail = self.read_seen(upto).where(
                    F.col("bucket").isin(*[int(b) for b in touched])
                )
                # the base read is PARTITION-PRUNED to the touched buckets
                # (bucket is the hive partition column, so the untouched
                # directories are never scanned)
                tail.repartition(F.col("bucket")).write.mode(
                    "overwrite"
                ).partitionBy("bucket").parquet(data)
            os.makedirs(data, exist_ok=True)
            for name in os.listdir(base_path):
                if name.startswith("bucket=") and int(name.split("=")[1]) not in touched:
                    self._link_bucket_dir(
                        os.path.join(base_path, name), os.path.join(data, name)
                    )
        with open(os.path.join(cd, "_COMMITTED"), "w") as f:
            f.write(str(upto))
        return upto

    def read_blooms(self, k: int) -> DataFrame | None:
        """The committed (bucket, bitmap) Bloom table of round k, or None
        when that round has no bloom dataset (pre-bloom state dirs)."""
        p = os.path.join(self._round_dir(k), "bloom")
        if not os.path.isdir(p):
            return None
        return self.spark.read.schema(BLOOM_TABLE_SCHEMA).parquet(p)

    HOST_STATE_SCHEMA = "host string, next_free_s double"

    def read_host_state(self, k: int) -> DataFrame | None:
        """Per-host politeness carry state committed with round k
        (host, next_free_s = seconds into the NEXT round before the host
        may fetch again), or None when absent (pre-continuity state dirs,
        or a round where every host's carry decayed to zero)."""
        p = os.path.join(self._round_dir(k), "host_state")
        if not os.path.isdir(p):
            return None
        return self.spark.read.schema(self.HOST_STATE_SCHEMA).parquet(p)

    def read_fetch_log(self, upto_round: int | None = None) -> DataFrame:
        upto = self.last_committed_round() if upto_round is None else upto_round
        paths = [
            os.path.join(self._round_dir(i), "fetch_log")
            for i in range(upto + 1)
            if os.path.exists(os.path.join(self._round_dir(i), "fetch_log"))
        ]
        if not paths:
            return self.spark.createDataFrame([], FETCH_LOG_SCHEMA)
        return self.spark.read.schema(FETCH_LOG_SCHEMA).parquet(*paths)

    # -- committer -----------------------------------------------------------

    # a committer holding the round lock longer than this with no manifest
    # is presumed dead (crashed mid-commit); the next committer steals it
    LOCK_LEASE_S = 3600.0

    def _acquire_commit_lock(self, k: int) -> str:
        """O_EXCL lease file guarding the round's data writes: the second
        of two concurrent committers fails HERE, before it can clobber the
        first one's files (the manifest link below is the second, airtight
        gate). A stale lock (crash mid-commit: lock present, no manifest,
        older than LOCK_LEASE_S) is stolen once."""
        rd = self._round_dir(k)
        lock = os.path.join(rd, ".commit-lock")
        for attempt in (0, 1):
            try:
                fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                os.write(fd, str(os.getpid()).encode())
                os.close(fd)
                return lock
            except FileExistsError:
                try:
                    age = _time.time() - os.path.getmtime(lock)
                except FileNotFoundError:
                    continue  # holder just released/stole — retry once
                if attempt == 0 and age > self.LOCK_LEASE_S:
                    try:
                        os.unlink(lock)  # steal the stale lease
                    except FileNotFoundError:
                        pass
                    continue
                raise ConcurrentCommitError(
                    f"round {k} is being committed by another writer "
                    f"(lock {lock}, age {age:.0f}s)"
                )
        raise ConcurrentCommitError(f"round {k}: could not acquire commit lock")

    def commit_round(
        self,
        k: int,
        frontier_next: DataFrame,
        seen_delta: DataFrame,
        fetch_log: DataFrame,
        metrics: dict,
        host_state: DataFrame | None = None,
    ) -> dict:
        rd = self._round_dir(k)
        os.makedirs(rd, exist_ok=True)
        if os.path.exists(os.path.join(rd, "manifest.json")):
            raise ConcurrentCommitError(f"round {k} already committed")
        lock = self._acquire_commit_lock(k)
        try:
            return self._commit_round_locked(
                k, rd, frontier_next, seen_delta, fetch_log, metrics, host_state
            )
        finally:
            try:
                os.unlink(lock)
            except FileNotFoundError:
                pass

    # the closed status vocabulary the engine writes (frontier/engine.py
    # fetch-log coalesce). commit_round observes a count per status DURING
    # the fetch_log write; an unexpected status trips the total-vs-sum
    # check and falls back to an exact scan, so generic callers stay safe.
    LOG_STATUSES = ("crawled", "skipped_out_of_window", "fetch_failed", "parse_empty")

    def _commit_round_locked(
        self, k, rd, frontier_next, seen_delta, fetch_log, metrics, host_state
    ) -> dict:
        from concurrent.futures import ThreadPoolExecutor

        from pyspark.sql import Observation

        lineage = {}
        # per-status metrics ride the fetch_log write itself (CollectMetrics:
        # exactly-once per written row) — zero metric-only jobs per round
        obs = Observation(f"fetch_log_status_r{k}")
        observed = fetch_log.observe(
            obs,
            F.count(F.lit(1)).alias("total"),
            *[F.count_if(F.col("status") == s).alias(s) for s in self.LOG_STATUSES],
        )
        # the fetch_log write runs FIRST and alone: its plan materializes the
        # round's shared cached frames (parse/join chain), so the concurrent
        # writes below all read hot caches instead of racing to compute them
        observed.write.mode("overwrite").parquet(os.path.join(rd, "fetch_log"))
        lineage["fetch_log"] = _partition_counts(os.path.join(rd, "fetch_log"))
        row = obs.get
        sc = {s: row[s] for s in self.LOG_STATUSES if row[s] > 0}
        if sum(sc.values()) != row["total"]:
            # a status outside the engine vocabulary: recount exactly
            sc = {
                r["status"]: r["count"]
                for r in self.spark.read.schema(FETCH_LOG_SCHEMA)
                .parquet(os.path.join(rd, "fetch_log"))
                .groupBy("status")
                .count()
                .collect()
            }
        metrics = {
            **metrics,
            "status_counts": sc,
            "selected": sum(sc.values()),
            "fetched": sum(sc.values()),
            "crawled": sc.get("crawled", 0),
            "skipped_out_of_window": sc.get("skipped_out_of_window", 0),
            "fetch_failed": sc.get("fetch_failed", 0),
        }

        # the remaining datasets are pairwise independent (bloom depends only
        # on the written seen_delta) — issue them as concurrent Spark jobs so
        # the per-job scheduling constant is paid once, not per dataset. At
        # cluster scale this also overlaps each write's straggler tail.
        def _write_frontier() -> list[int]:
            # frontier sorted by the canonical priority key within partitions
            # → the parquet files are priority-ordered (Iceberg sort-order
            # analogue, SURVEY.md §4: top-priority reads file-skip at scale)
            fr = frontier_next.sortWithinPartitions(
                "depth", "source_pos", "category_pos", "page_no", "listing_pos"
            )
            fr.write.mode("overwrite").parquet(os.path.join(rd, "frontier"))
            return _partition_counts(os.path.join(rd, "frontier"))

        def _write_seen_then_bloom() -> list[int]:
            sd = seen_delta.repartition(F.col("bucket"))
            sd.write.mode("overwrite").partitionBy("bucket").parquet(
                os.path.join(rd, "seen_delta")
            )
            counts = _partition_counts(os.path.join(rd, "seen_delta"))
            if self.bloom_spec is not None:
                # incremental bloom: bitmaps of THIS round's delta (re-read
                # from what was just written — no upstream recompute)
                # OR-merged into the previous round's table; no bitmap ever
                # touches the driver
                from web_scraper_spark.frontier.bloom import (
                    bucket_bloom_df,
                    merge_bloom_tables,
                )

                prev = self.read_blooms(k - 1)
                if prev is not None:
                    delta = bucket_bloom_df(
                        self.spark.read.schema(SEEN_SCHEMA).parquet(
                            os.path.join(rd, "seen_delta")
                        ),
                        self.bloom_spec,
                    )
                    merged = merge_bloom_tables(prev, delta)
                elif k > 1:
                    # resuming a pre-bloom state dir (or bloom enabled
                    # mid-crawl): a delta-only bitmap would poison every later
                    # round — URLs sealed in rounds 1..k-1 would test
                    # "definitely new", skip the exact anti-join, and be
                    # re-crawled. Rebuild ONCE from the full seen set (which
                    # includes this round's just-written delta); later rounds
                    # resume the cheap incremental OR-merge from here.
                    merged = bucket_bloom_df(self.read_seen(k), self.bloom_spec)
                else:
                    merged = bucket_bloom_df(
                        self.spark.read.schema(SEEN_SCHEMA).parquet(
                            os.path.join(rd, "seen_delta")
                        ),
                        self.bloom_spec,
                    )
                merged.write.mode("overwrite").parquet(os.path.join(rd, "bloom"))
            return counts

        def _write_host_state() -> None:
            if host_state is not None:
                host_state.write.mode("overwrite").parquet(
                    os.path.join(rd, "host_state")
                )

        with ThreadPoolExecutor(max_workers=3) as ex:
            f_frontier = ex.submit(_write_frontier)
            f_seen = ex.submit(_write_seen_then_bloom)
            f_host = ex.submit(_write_host_state)
            lineage["frontier"] = f_frontier.result()
            lineage["seen_delta"] = f_seen.result()
            f_host.result()
        man = {"round": k, "lineage": lineage, "metrics": metrics}
        fd, tmp = tempfile.mkstemp(dir=rd, prefix=".manifest-")
        with os.fdopen(fd, "w") as f:
            json.dump(man, f, indent=1)
        # commit point: hard-link CAS — unlike rename, link() FAILS if the
        # manifest already exists, so of two racing committers exactly one
        # wins and the loser raises instead of silently overwriting
        try:
            os.link(tmp, os.path.join(rd, "manifest.json"))
        except FileExistsError:
            raise ConcurrentCommitError(f"round {k}: lost commit race")
        finally:
            os.unlink(tmp)
        return man

    def drop_rounds_after(self, k: int) -> None:
        """Test/ops helper: simulate a crash by removing snapshots > k."""
        for name in list(os.listdir(self.dir)):
            if name.startswith("round=") and int(name.split("=")[1]) > k:
                shutil.rmtree(os.path.join(self.dir, name))

    # -- time travel + snapshot expiry (Iceberg behaviors, r3 VERDICT 4) ------

    def committed_rounds(self) -> list[int]:
        """All rounds with a manifest, ascending (the snapshot log)."""
        out = []
        if os.path.isdir(self.dir):
            for name in os.listdir(self.dir):
                if name.startswith("round=") and os.path.exists(
                    os.path.join(self.dir, name, "manifest.json")
                ):
                    out.append(int(name.split("=")[1]))
        return sorted(out)

    def is_expired(self, k: int) -> bool:
        return os.path.exists(os.path.join(self._round_dir(k), ".expired"))

    def read_as_of(self, table: str, k: int) -> DataFrame:
        """Time-travel read: the state of ``table`` as of committed round
        ``k`` — exactly what a reader at round k saw.

        tables: ``frontier`` (round k's outgoing queue), ``seen`` (full
        seen set through round k: compaction base ≤ k + delta tail),
        ``fetch_log`` / alias ``pages`` (cumulative log through round k).

        fetch_log time travel SURVIVES ``expire_snapshots`` — the log is
        append-only current-table data, so old rounds' partitions are
        never expired (the Iceberg distinction between data referenced by
        the live table and snapshot-only data). frontier/seen reads at an
        expired round raise SnapshotExpiredError."""
        if not os.path.exists(os.path.join(self._round_dir(k), "manifest.json")):
            raise ValueError(f"round {k} was never committed")
        if table == "frontier":
            if not os.path.isdir(os.path.join(self._round_dir(k), "frontier")):
                raise SnapshotExpiredError(
                    f"frontier of round {k} was removed by expire_snapshots"
                )
            return self.read_frontier(k)
        if table == "seen":
            base_round, _ = self._latest_compaction(k)
            for i in range(base_round + 1, k + 1):
                rd = self._round_dir(i)
                if os.path.exists(
                    os.path.join(rd, "manifest.json")
                ) and not os.path.isdir(os.path.join(rd, "seen_delta")):
                    raise SnapshotExpiredError(
                        f"seen state at round {k} needs the round-{i} delta, "
                        "which was removed by expire_snapshots"
                    )
            return self.read_seen(k)
        if table in ("fetch_log", "pages"):
            return self.read_fetch_log(k)
        raise ValueError(f"unknown table {table!r} (frontier|seen|fetch_log|pages)")

    def expire_snapshots(self, keep_last: int) -> dict:
        """Expire time-travel for all but the last ``keep_last`` committed
        rounds, freeing the files only those snapshots reference — without
        breaking resume, compaction, or current-table reads.

        What goes, per expired round: ``frontier/`` (queue superseded by
        later rounds), ``seen_delta/`` (first folded into a compaction
        base at the expiry cutoff so retained reads never need it),
        ``bloom/`` and ``host_state/`` (only the latest round's carry is
        live). Superseded compaction bases below the cutoff base are also
        dropped — hard-link-aware: unlink only decrements the link count,
        so parquet inodes shared with the kept base survive (the same
        metadata-only carry ``compact_seen`` exploits when linking
        untouched buckets forward).

        What stays: every ``manifest.json`` (resume sums fetch_log lineage
        across ALL rounds — frontier/engine.py._fetch_offset) and every
        ``fetch_log/`` partition (append-only current-table data).

        Returns {"expired_rounds", "files_freed", "bytes_freed"}."""
        rounds = self.committed_rounds()
        if not rounds or keep_last < 1:
            return {"expired_rounds": [], "files_freed": 0, "bytes_freed": 0}
        last = rounds[-1]
        cutoff = last - keep_last + 1  # rounds >= cutoff stay time-travelable
        expired = [k for k in rounds if k < cutoff and not self.is_expired(k)]
        if not expired:
            return {"expired_rounds": [], "files_freed": 0, "bytes_freed": 0}
        # fold every delta an expired round contributes into a base at
        # cutoff-1, so retained readers (r >= cutoff) resolve to
        # base(<=r) + retained-only deltas
        base_round, _ = self._latest_compaction(last)
        if base_round < cutoff - 1:
            self.compact_seen(cutoff - 1)

        files_freed = 0
        bytes_freed = 0

        def _rm(path: str) -> None:
            nonlocal files_freed, bytes_freed
            if not os.path.isdir(path):
                return
            for root, _dirs, files in os.walk(path):
                for f in files:
                    full = os.path.join(root, f)
                    st = os.stat(full)
                    files_freed += 1
                    # a hard-linked inode is only FREED when its last name
                    # goes; count bytes only for the final link
                    if st.st_nlink == 1:
                        bytes_freed += st.st_size
            shutil.rmtree(path)

        # superseded bases: a reader at round r resolves to the HIGHEST base
        # <= r, so the only bases still referenced are {base(r) : r retained}
        # (r >= cutoff; future rounds resolve like r = last) — everything
        # else is unreachable and goes
        bases = sorted(
            int(n.split("=")[1])
            for n in os.listdir(self.dir)
            if n.startswith("seen_compact=")
            and os.path.exists(os.path.join(self.dir, n, "_COMMITTED"))
        )
        needed = set()
        for r in range(cutoff, last + 1):
            covering = [b for b in bases if b <= r]
            if covering:
                needed.add(max(covering))
        for b in bases:
            if b not in needed:
                _rm(self._compaction_dir(b))

        for k in expired:
            rd = self._round_dir(k)
            for sub in ("frontier", "seen_delta", "bloom", "host_state"):
                _rm(os.path.join(rd, sub))
            with open(os.path.join(rd, ".expired"), "w") as f:
                f.write(str(cutoff))
        return {
            "expired_rounds": expired,
            "files_freed": files_freed,
            "bytes_freed": bytes_freed,
        }

    # -- keyed tables: MERGE INTO emulation (SURVEY §1.4 S7/S13) -------------
    #
    # The design maps the reference's DELETE-WHERE-key + INSERT refresh
    # (S7, /root/reference/ConnectAndSave.py:236-257) and its content-hash
    # cache upsert (S13, ConnectAndSave.py:122-123,294-300) to Iceberg
    # `MERGE INTO`. No Iceberg runtime ships in this sandbox, so the store
    # emulates the copy-on-write MERGE commit the same way compact_seen
    # emulates replacePartitions: versioned bucket-partitioned parquet
    # where only KEY-TOUCHED buckets are rewritten and every untouched
    # bucket's files are HARD-LINKED from the previous version — a
    # metadata-only carry. Merge cost is proportional to churned
    # partitions, not table size.
    #
    # Semantics are keyed GROUP-REPLACE (exactly refresh_delete_insert's,
    # which the merged-frame computation routes through): every base row
    # whose key appears in `updates` is replaced by the update rows of
    # that key, unmatched update keys insert, and `delete_keys` rows
    # vanish (MERGE ... WHEN MATCHED THEN DELETE). This covers both the
    # unique-key upsert (S13) and the multi-row-per-key refresh (S7).

    def _table_dir(self, name: str) -> str:
        return os.path.join(self.dir, f"table={name}")

    def table_versions(self, name: str) -> list[int]:
        td = self._table_dir(name)
        if not os.path.isdir(td):
            return []
        return sorted(
            int(n.split("=")[1])
            for n in os.listdir(td)
            if n.startswith("v=")
            and os.path.exists(os.path.join(td, n, "_COMMITTED"))
        )

    def _table_meta(self, name: str) -> dict:
        with open(os.path.join(self._table_dir(name), "meta.json")) as f:
            return json.load(f)

    def _bucket_col(self, key: str):
        return F.pmod(
            F.xxhash64(F.col(key).cast("string")), F.lit(self.n_buckets)
        ).cast("int")

    def write_table(self, name: str, df: DataFrame, key: str) -> int:
        """Version-0 full write of a keyed table, bucket-partitioned by
        xxhash64(key) — the layout merge_into's pruning relies on."""
        td = self._table_dir(name)
        vd = os.path.join(td, "v=0000")
        data = os.path.join(vd, "data")
        df.withColumn("_mbucket", self._bucket_col(key)).repartition(
            F.col("_mbucket")
        ).write.mode("overwrite").partitionBy("_mbucket").parquet(data)
        with open(os.path.join(td, "meta.json"), "w") as f:
            json.dump({"key": key, "columns": df.columns}, f)
        with open(os.path.join(vd, "_COMMITTED"), "w") as f:
            f.write("0")
        return 0

    def read_table(self, name: str, version: int | None = None) -> DataFrame:
        versions = self.table_versions(name)
        if not versions:
            raise FileNotFoundError(f"no committed versions of table {name}")
        v = versions[-1] if version is None else version
        if v not in versions:
            raise FileNotFoundError(f"table {name} has no version {v}")
        cols = self._table_meta(name)["columns"]
        data = os.path.join(self._table_dir(name), f"v={v:04d}", "data")
        return self.spark.read.parquet(data).select(*cols)

    def merge_into(
        self,
        name: str,
        updates: DataFrame,
        delete_keys: DataFrame | None = None,
    ) -> dict:
        """Keyed MERGE commit: copy-on-write partition rewrite.

        Only buckets containing an updated or deleted key are re-read
        (hive partition-pruned) and rewritten; every other bucket is
        hard-linked from the previous version. The merged content of a
        touched bucket is computed by sources/csvio.py::
        refresh_delete_insert — the S7 transform IS the merge body.
        Returns {"version", "touched_buckets", "linked_buckets"}.
        """
        from web_scraper_spark.sources.csvio import refresh_delete_insert

        versions = self.table_versions(name)
        if not versions:
            raise FileNotFoundError(f"merge_into target {name} does not exist")
        key = self._table_meta(name)["key"]
        cols = self._table_meta(name)["columns"]
        prev = versions[-1]
        prev_data = os.path.join(self._table_dir(name), f"v={prev:04d}", "data")
        v = prev + 1
        vd = os.path.join(self._table_dir(name), f"v={v:04d}")
        data = os.path.join(vd, "data")

        up = updates.select(*cols).withColumn("_mbucket", self._bucket_col(key))
        del_keys = (
            delete_keys.select(F.col(key)).distinct()
            if delete_keys is not None
            else None
        )
        # touched buckets: metadata-sized collect (≤ n_buckets ints)
        touched = {
            r["_mbucket"]
            for r in up.select("_mbucket").distinct().collect()
        }
        if del_keys is not None:
            touched |= {
                r["_mbucket"]
                for r in del_keys.withColumn("_mbucket", self._bucket_col(key))
                .select("_mbucket")
                .distinct()
                .collect()
            }
        if touched:
            base = (
                self.spark.read.parquet(prev_data)
                .where(F.col("_mbucket").isin(*[int(b) for b in touched]))
                .select(*cols)
            )
            if del_keys is not None:
                base = base.join(del_keys, on=key, how="left_anti")
            merged = refresh_delete_insert(base, up.select(*cols), [key])
            merged.withColumn("_mbucket", self._bucket_col(key)).repartition(
                F.col("_mbucket")
            ).write.mode("overwrite").partitionBy("_mbucket").parquet(data)
        os.makedirs(data, exist_ok=True)
        linked = []
        for n in os.listdir(prev_data):
            if n.startswith("_mbucket=") and int(n.split("=")[1]) not in touched:
                self._link_bucket_dir(
                    os.path.join(prev_data, n), os.path.join(data, n)
                )
                linked.append(int(n.split("=")[1]))
        with open(os.path.join(vd, "_COMMITTED"), "w") as f:
            f.write(str(v))
        return {
            "version": v,
            "touched_buckets": sorted(int(b) for b in touched),
            "linked_buckets": sorted(linked),
        }
