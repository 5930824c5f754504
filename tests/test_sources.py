"""CSV connector + refresh + relative-time parse tests."""

from __future__ import annotations

import os
import tempfile
from datetime import datetime

from pyspark.sql import functions as F

from web_scraper_spark.sources.csvio import (
    ARTICLE_COLUMNS,
    read_articles_csv,
    refresh_delete_insert,
    seen_urls_from_csv,
    write_articles_csv,
)


def _article_rows(spark, n=5, tag="a"):
    rows = [
        (f"src{tag}", f"https://x.example/{tag}-{i}", "cat", "k1,k2",
         "01/12/2025 10:00 GMT+7", f"title {i}", f'content "quoted" {i}\nsecond line')
        for i in range(n)
    ]
    return spark.createDataFrame(rows, ", ".join(f"{c} string" for c in ARTICLE_COLUMNS))


def test_csv_roundtrip_with_quotes_and_newlines(spark):
    df = _article_rows(spark)
    d = tempfile.mkdtemp()
    write_articles_csv(df, f"{d}/articles")
    back = read_articles_csv(spark, f"{d}/articles")
    assert back.count() == 5
    got = {r["Content"] for r in back.collect()}
    assert 'content "quoted" 0\nsecond line' in got
    assert sorted(back.columns) == sorted(ARTICLE_COLUMNS)


def test_permissive_corrupt_rows_auditable(spark):
    d = tempfile.mkdtemp()
    with open(os.path.join(d, "bad.csv"), "w", encoding="utf-8") as f:
        f.write(",".join(ARTICLE_COLUMNS) + "\n")
        f.write('s,https://x/1,c,k,t,ti,co\n')
        f.write('"unterminated quote field,oops\n')
    ok = read_articles_csv(spark, d)
    assert ok.count() == 1
    audited = read_articles_csv(spark, d, keep_corrupt=True)
    assert audited.where(F.col("_corrupt_record").isNotNull()).count() == 1


def test_seen_urls_projection(spark):
    d = tempfile.mkdtemp()
    write_articles_csv(_article_rows(spark, 4), f"{d}/articles")
    seen = seen_urls_from_csv(spark, f"{d}/articles")
    assert seen.count() == 4
    assert {r["url"] for r in seen.collect()} == {f"https://x.example/a-{i}" for i in range(4)}


def test_refresh_delete_insert_idempotent(spark):
    existing = spark.createDataFrame(
        [(1, "old1"), (2, "old2"), (3, "keep")], "paper_id bigint, topic string"
    )
    fresh = spark.createDataFrame(
        [(1, "new1"), (2, "new2")], "paper_id bigint, topic string"
    )
    once = refresh_delete_insert(existing, fresh, ["paper_id"])
    twice = refresh_delete_insert(once, fresh, ["paper_id"])
    got = {(r["paper_id"], r["topic"]) for r in twice.collect()}
    assert got == {(1, "new1"), (2, "new2"), (3, "keep")}
    assert once.count() == twice.count() == 3


def test_relative_time_forms(spark):
    from web_scraper_spark.functions.timeparse import parse_time_col

    as_of = F.lit(datetime(2025, 12, 1, 22, 30))
    rows = [
        ("beta", "3 giờ trước"),
        ("beta", "45 phút trước"),
        ("beta", "Hôm qua, 9:15"),
        ("beta", "Thứ hai, 1/12/2025, 08:00 (GMT+7)"),
    ]
    df = spark.createDataFrame(rows, "source string, time_str string")
    got = [r["ts"] for r in df.select(
        parse_time_col(F.col("source"), F.col("time_str"), as_of=as_of).alias("ts")
    ).collect()]
    assert got[0] == datetime(2025, 12, 1, 19, 30)
    assert got[1] == datetime(2025, 12, 1, 21, 45)
    assert got[2] == datetime(2025, 11, 30, 9, 15)
    assert got[3] == datetime(2025, 12, 1, 8, 0)


# ---------------------------------------------------------------------------
# Day-partitioned pages store (Iceberg days(warc_ts) analogue)
# ---------------------------------------------------------------------------

def test_pages_day_partitioned_slot_read_prunes(spark):
    import os
    from datetime import datetime

    from web_scraper_spark.sources.pages import (
        read_pages_slot,
        write_pages_partitioned,
    )

    rows = [
        (
            f"https://h.example/{d}/{i}",
            datetime(2025, 12, d, h, 30),
            bytes([d, i]),
            f"text {d} {i}",
            "vi",
        )
        for d in (1, 2, 3, 4)
        for i, h in enumerate((1, 10, 22))
    ]
    pages = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, lang string"
    )
    d = tempfile.mkdtemp()
    path = f"{d}/pages"
    write_pages_partitioned(pages, path)

    # hive layout: one directory per capture day
    days = sorted(n for n in os.listdir(path) if n.startswith("p_day="))
    assert days == [f"p_day=2025-12-0{k}" for k in (1, 2, 3, 4)]

    # 3-hour slot read on day 2: directory pruning + row-group pushdown
    slot = read_pages_slot(
        spark, path, datetime(2025, 12, 2, 9, 0), datetime(2025, 12, 2, 12, 0)
    )
    got = [(r["url"], r["warc_ts"]) for r in slot.collect()]
    assert got == [("https://h.example/2/1", datetime(2025, 12, 2, 10, 30))]
    assert slot.columns == ["url", "warc_ts", "html", "text", "lang"]

    plan = slot._jdf.queryExecution().executedPlan().toString()
    part_lines = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert part_lines and "p_day" in part_lines[0]          # directory pruning
    assert "PushedFilters" in plan and "warc_ts" in plan    # row-group skipping
    # runtime proof, not just plan text: the executed scan touched ONE of
    # the four day partitions (inputFiles() would list all pre-pruning)
    assert _scan_metric(slot, "numPartitions") == 1

    # a multi-day window reads exactly the two surviving day partitions
    wide = read_pages_slot(
        spark, path, datetime(2025, 12, 2, 0, 0), datetime(2025, 12, 4, 0, 0)
    )
    assert len(wide.collect()) == 6  # collect: materialize THIS df's plan
    assert _scan_metric(wide, "numPartitions") == 2


def _scan_metric(df, key: str) -> int:
    """Sum a FileSourceScanExec SQL metric over the df's executed plan
    (the df must already have run an action)."""
    out = []

    def walk(node):
        name = node.getClass().getSimpleName()
        if name == "FileSourceScanExec":
            out.append(int(node.metrics().apply(key).value()))
        for i in range(node.children().size()):
            walk(node.children().apply(i))
        if name == "AdaptiveSparkPlanExec":
            walk(node.executedPlan())

    walk(df._jdf.queryExecution().executedPlan())
    return sum(out)
