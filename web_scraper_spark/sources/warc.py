"""WARC (ISO 28500) record writer + readers — the Common-Crawl container.

The baseline's input hint is a Common-Crawl-style pages table; Common
Crawl ships as WARC archives, so a production ingest needs (a) a WARC
writer to serialize fetched pages and (b) parsers to get records back
out. The reference scraper has no archive layer at all (it fetches and
immediately parses, CrawlPaperTuoiTre.py fetch loop); this follows the
public WARC/1.0 spec (https://iipc.github.io/warc-specifications/).

Three tiers:

- ``warc_record`` / ``warc_record_sql`` — pure-codegen record builder:
  one concat expression per page, Content-Length = UTF-8 octet length
  (Spark ``octet_length`` ≡ DuckDB ``strlen``), so archives assemble
  engine-portably with string_agg/collect_list.
- ``warc_entries`` / ``warc_entries_sql`` — pure-codegen parse tier
  (regex record split + per-field extracts, zero Python, RE2-safe):
  valid when payloads contain no CRLFCRLF / record-boundary lookalikes
  — true for extracted-TEXT payloads (the oracled query's input), NOT
  for raw html bytes. ``length_ok`` cross-checks the declared
  Content-Length against the parsed payload's octet length.
- ``warc_records_stream`` — the REAL parser (rows-only): one
  mapInPandas pass that walks each archive BY BYTES with Content-Length
  jumps, so payloads containing ``WARC/1.0`` banners or blank lines
  parse correctly (asserted with planted decoys in tests/test_warc.py).

Scale shape: one row per archive body in, explode/iterate per record
out — archives are the unit of parallelism exactly as Common Crawl
shards them (~1 GB gzipped each); no shuffle is needed until the caller
aggregates. The stream parser holds one Arrow batch of archives (one
archive per row) in memory at a time.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from web_scraper_spark.operators.hashing import hash60, hash60_sql

CRLF = "\r\n"
_CRLF_SQL = "(chr(13) || chr(10))"

# one full record: version line, headers (no blank line inside), blank
# line, payload, record terminator. Non-greedy both hops → valid only
# when the payload itself contains no CRLFCRLF (the codegen-tier
# contract; raw html goes through warc_records_stream instead).
_RECORD_RE = r"(?s)WARC/1\.0\r\n.*?\r\n\r\n.*?\r\n\r\n"
_FIELD_RES = {
    "url": r"WARC-Target-URI: (.*?)\r\n",
    "warc_date": r"WARC-Date: (.*?)\r\n",
    "content_length": r"Content-Length: ([0-9]+)\r\n",
}
_PAYLOAD_RE = r"(?s)\r\n\r\n(.*?)\r\n\r\n$"


def warc_record(url: Column, date: Column, payload: Column) -> Column:
    """One WARC/1.0 response record (a single codegen concat)."""
    return F.concat(
        F.lit("WARC/1.0" + CRLF),
        F.lit("WARC-Type: response" + CRLF),
        F.lit("WARC-Target-URI: "), url, F.lit(CRLF),
        F.lit("WARC-Date: "), date, F.lit(CRLF),
        F.lit("WARC-Record-ID: <urn:x-hash60:"),
        hash60(url).cast("string"), F.lit(">" + CRLF),
        F.lit("Content-Type: text/plain" + CRLF),
        F.lit("Content-Length: "),
        F.octet_length(payload).cast("string"), F.lit(CRLF),
        F.lit(CRLF), payload, F.lit(CRLF + CRLF),
    )


def warc_record_sql(url: str, date: str, payload: str) -> str:
    c = _CRLF_SQL
    return (
        f"('WARC/1.0' || {c} || 'WARC-Type: response' || {c}"
        f" || 'WARC-Target-URI: ' || {url} || {c}"
        f" || 'WARC-Date: ' || {date} || {c}"
        f" || 'WARC-Record-ID: <urn:x-hash60:' || {hash60_sql(url)}::VARCHAR || '>' || {c}"
        f" || 'Content-Type: text/plain' || {c}"
        f" || 'Content-Length: ' || strlen({payload})::VARCHAR || {c}"
        f" || {c} || {payload} || {c} || {c})"
    )


def warc_entries(
    archives: DataFrame, archive_col: str = "archive", body_col: str = "body"
) -> DataFrame:
    """Codegen parse tier: explode record blocks, extract typed fields.

    Zero Python in the plan; ``length_ok`` re-derives the payload octet
    length and compares against the declared Content-Length — a malformed
    or truncated record surfaces as ``length_ok = false``, not a crash.
    """
    rec = F.col("rec")
    out = archives.select(
        F.col(archive_col).alias("archive"),
        F.explode(
            F.regexp_extract_all(F.col(body_col), F.lit(_RECORD_RE), F.lit(0))
        ).alias("rec"),
    )
    cols = [
        F.regexp_extract(rec, _FIELD_RES["url"], 1).alias("url"),
        F.regexp_extract(rec, _FIELD_RES["warc_date"], 1).alias("warc_date"),
        F.regexp_extract(rec, _FIELD_RES["content_length"], 1)
        .cast("bigint")
        .alias("content_length"),
        F.regexp_extract(rec, _PAYLOAD_RE, 1).alias("payload"),
    ]
    return out.select("archive", *cols).withColumn(
        "length_ok",
        F.octet_length(F.col("payload")) == F.col("content_length"),
    )


def warc_entries_sql(bodies_cte: str = "bodies") -> str:
    """DuckDB twin of :func:`warc_entries` over a CTE with
    (archive, body) columns."""
    f = {k: v.replace("'", "''") for k, v in _FIELD_RES.items()}
    return f"""
        SELECT archive,
               regexp_extract(rec, '{f["url"]}', 1) AS url,
               regexp_extract(rec, '{f["warc_date"]}', 1) AS warc_date,
               regexp_extract(rec, '{f["content_length"]}', 1)::BIGINT
                   AS content_length,
               regexp_extract(rec, '{_PAYLOAD_RE}', 1) AS payload,
               strlen(regexp_extract(rec, '{_PAYLOAD_RE}', 1))
                   = regexp_extract(rec, '{f["content_length"]}', 1)::BIGINT
                   AS length_ok
        FROM (
            SELECT archive,
                   unnest(regexp_extract_all(body, '{_RECORD_RE}')) AS rec
            FROM {bodies_cte}
        )
    """


def warc_records_stream(
    archives: DataFrame, archive_col: str = "archive", body_col: str = "body"
) -> DataFrame:
    """The REAL WARC parser: byte-walk with Content-Length jumps.

    Handles payloads containing record-boundary lookalikes (``WARC/1.0``
    banners, CRLFCRLF blank lines) that break any regex split — the parse
    position advances by the DECLARED length, per spec, never by pattern
    search inside the payload. Content-Length counts octets, so the walk
    runs on the UTF-8 encoding and decodes each payload slice after.

    Rows-only (imperative per-archive walk); writer-roundtrip
    byte-identity incl. multibyte payloads and planted decoys asserted
    in tests/test_warc.py.
    """
    import pandas as pd

    magic = b"WARC/1.0\r\n"

    def walk(it):
        for pdf in it:
            rows = []
            for aid, body in zip(pdf[archive_col], pdf[body_col]):
                b = body.encode("utf-8")
                i, idx = 0, 0
                while True:
                    j = b.find(magic, i)
                    if j < 0:
                        break
                    he = b.find(b"\r\n\r\n", j)
                    if he < 0:
                        break
                    hdrs = b[j + len(magic): he].decode("utf-8")
                    hmap = dict(
                        line.split(": ", 1)
                        for line in hdrs.split(CRLF)
                        if ": " in line
                    )
                    n = int(hmap.get("Content-Length", "0"))
                    payload = b[he + 4: he + 4 + n].decode("utf-8")
                    rows.append(
                        (
                            aid,
                            idx,
                            hmap.get("WARC-Target-URI", ""),
                            hmap.get("WARC-Date", ""),
                            n,
                            payload,
                        )
                    )
                    i = he + 4 + n + 4  # payload + record terminator
                    idx += 1
            if rows:
                yield pd.DataFrame(
                    rows,
                    columns=[
                        "archive", "rec_idx", "url",
                        "warc_date", "content_length", "payload",
                    ],
                )

    return archives.select(archive_col, body_col).mapInPandas(
        walk,
        schema=(
            "archive string, rec_idx int, url string, "
            "warc_date string, content_length bigint, payload string"
        ),
    )
