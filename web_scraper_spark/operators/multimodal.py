"""Media payloads as a binary column: the two registry media queries.

The target input table carries ``html:binary``; a training-data pipeline
extends the same pattern to media payloads. ``synth_media`` derives a
deterministic media table (media_id, kind, payload binary, meta struct)
from the documents, and both queries over it are plain Column
expressions — size, md5 content hash and md5-derived features are
computed in the scan's codegen stage and never leave the JVM. Each has a
DuckDB twin (``media_stats_sql``, ``queries.MEDIA_FEATURES_SQL``).
``sniff_mime`` tags payloads with a MIME type from their leading magic
bytes, also as one native expression.

No payload is decoded: the reference scraper handles text only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# magic-byte → mime sniff table (native CASE over the first payload bytes).
# Container formats that need more than a prefix (RIFF form type, mp4
# 'ftyp' brand) get dedicated rules in sniff_mime (ADVICE r3).
_MAGIC = [
    ("89504e47", "image/png"),
    ("ffd8ff", "image/jpeg"),
    ("47494638", "image/gif"),
    ("59555634", "video/x-yuv4mpeg"),
    ("49443303", "audio/mpeg"),
]

FEATURE_DIM = 8


def synth_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic media table derived from documents: the text bytes act
    as the opaque payload (what matters is binary-column plumbing, not
    payload realism). kind cycles image/audio/video by doc_id."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    kind = F.element_at(
        F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
        (F.col("doc_id") % 3 + 1).cast("int"),
    )
    payload = F.encode(F.col("text"), "UTF-8")
    return docs.select(
        F.col("doc_id").alias("media_id"),
        kind.alias("kind"),
        payload.alias("payload"),
        F.struct(
            F.lit(None).cast("string").alias("mime"),
            F.length(payload).cast("bigint").alias("n_bytes"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
        ).alias("meta"),
    )


def sniff_mime(media: DataFrame) -> DataFrame:
    """Native magic-byte sniff — runs inside the scan's codegen stage.

    Container-aware (ADVICE r3): RIFF is only audio/wav when the form
    type at bytes 9-12 is 'WAVE' (AVI 'AVI ' and WebP 'WEBP' share the
    RIFF magic and sniff to their own mimes); mp4 matches the 'ftyp'
    brand at byte offset 5 rather than one specific box length."""
    head = F.lower(F.hex(F.substring(F.col("payload"), 1, 4)))
    form = F.lower(F.hex(F.substring(F.col("payload"), 9, 4)))  # RIFF form type
    brand = F.lower(F.hex(F.substring(F.col("payload"), 5, 4)))  # mp4 box type
    mime = F.lit("application/octet-stream")
    for magic, m in reversed(_MAGIC):
        mime = F.when(head.startswith(magic), F.lit(m)).otherwise(mime)
    is_riff = head == "52494646"
    return media.withColumn(
        "sniffed_mime",
        F.when(is_riff & (form == "57415645"), F.lit("audio/wav"))  # WAVE
        .when(is_riff & (form == "41564920"), F.lit("video/x-msvideo"))  # 'AVI '
        .when(is_riff & (form == "57454250"), F.lit("image/webp"))  # WEBP
        .when(is_riff, F.lit("application/x-riff"))
        .when(brand == "66747970", F.lit("video/mp4"))  # 'ftyp' at offset 5
        .otherwise(mime),
    )


def media_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """queries() entry: native metadata aggregation over the binary column
    (payload size + content hash distribution per kind) — proves the
    binary column is scanned, pruned and hashed JVM-side."""
    media = synth_media(spark, sf_dir)
    return (
        media.select(
            "kind",
            F.length("payload").cast("bigint").alias("n_bytes"),
            F.md5("payload").alias("content_hash"),
        )
        .groupBy("kind")
        .agg(
            F.count("*").alias("n_items"),
            F.sum("n_bytes").cast("bigint").alias("total_bytes"),
            F.round(F.avg("n_bytes"), 4).alias("avg_bytes"),
            F.countDistinct("content_hash").alias("n_distinct"),
        )
    )


def media_stats_sql() -> str:
    """Oracle twin of media_stats over the documents view (encode() is a
    byte-identity for the synthetic corpus text)."""
    return """
        WITH media AS (
            SELECT doc_id AS media_id,
                   ['image','audio','video'][(doc_id % 3 + 1)::INT] AS kind,
                   encode(text) AS payload,
                   md5(text) AS content_hash
            FROM documents
        )
        SELECT kind,
               count(*) AS n_items,
               sum(octet_length(payload))::BIGINT AS total_bytes,
               round(avg(octet_length(payload)), 4) AS avg_bytes,
               count(DISTINCT content_hash) AS n_distinct
        FROM media GROUP BY kind
    """


def media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """queries() entry: per-kind mean of an md5-derived feature vector
    (what an embedding-quality monitor would compute post-decode).
    Feature i is byte i of md5(payload) / 255, rounded to 6 places — the
    same expression as the DuckDB twin, so no Python runs per row."""
    digest = synth_media(spark, sf_dir).select("kind", F.md5("payload").alias("md5"))
    feats = [
        F.round(F.conv(F.substring("md5", 2 * i + 1, 2), 16, 10).cast("int") / 255.0, 6)
        for i in range(FEATURE_DIM)
    ]
    return digest.groupBy("kind").agg(
        F.count("*").alias("n_items"),
        *(F.round(F.avg(f), 6).alias(f"f{i}_mean") for i, f in enumerate(feats)),
    )
