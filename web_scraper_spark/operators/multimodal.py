"""Media payloads as a binary column: the two registry media queries.

The target input table carries ``html:binary``; a training-data pipeline
extends the same pattern to media payloads. ``synth_media`` derives a
deterministic media table (media_id, kind, payload binary, meta struct)
from the documents, and both queries over it are plain Column
expressions — size, md5 content hash and md5-derived features are
computed in the scan's codegen stage and never leave the JVM. Each has a
DuckDB twin (``media_stats_sql``, ``queries.MEDIA_FEATURES_SQL``).

No payload is decoded: the reference scraper handles text only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

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
