"""Property-graph construction (SURVEY.md E3 stage 2 / create_KG.py).

The reference streams CSV chunks through per-row Cypher MERGE batches
(create_KG.py:32-51, 95-138). The engine builds the graph as two
DataFrames — nodes(node_id, label, props...) and edges(src, dst,
edge_type, props...) — where Cypher MERGE semantics are exactly
``dropDuplicates`` on the natural key (S8): idempotent re-runs produce the
same graph. No sink is wired: the registry's ``kg_graph`` query reports
the per-label and per-edge-type cardinalities of the two frames.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _norm(col, default: str = "unknown"):
    """X16 (create_KG.py:8-12): NaN/empty → default, strip."""
    t = F.trim(col)
    return F.when(t.isNull() | (t == "") | (F.lower(t) == "nan"), F.lit(default)).otherwise(t)


def build_nodes(articles: DataFrame, entities: DataFrame) -> DataFrame:
    """Node table: Article / Source / Category / Entity labels
    (create_KG.py:34-49). node_id is namespaced to keep labels disjoint."""
    art = articles.select(
        F.concat(F.lit("article:"), F.col("article_id").cast("string")).alias("node_id"),
        F.lit("Article").alias("label"),
        _norm(F.col("title"), "untitled").alias("name"),
    )
    src = articles.select(
        F.concat(F.lit("source:"), _norm(F.col("source"))).alias("node_id"),
        F.lit("Source").alias("label"),
        _norm(F.col("source")).alias("name"),
    )
    cat = articles.select(
        F.concat(F.lit("category:"), _norm(F.col("category"))).alias("node_id"),
        F.lit("Category").alias("label"),
        _norm(F.col("category")).alias("name"),
    )
    ent = entities.select(
        F.concat(F.lit("entity:"), F.col("entity")).alias("node_id"),
        F.lit("Entity").alias("label"),
        F.col("entity").alias("name"),
    )
    # MERGE ≈ dropDuplicates on the natural key
    return art.unionByName(src).unionByName(cat).unionByName(ent).dropDuplicates(["node_id"])


def build_edges(articles: DataFrame, entities: DataFrame, relations: DataFrame | None = None) -> DataFrame:
    """Edge table: MENTIONS / PUBLISHED_BY / HAS_CATEGORY + typed
    entity-entity relation edges (create_KG.py:34-49,
    relation_extraction.py:229-236)."""
    mentions = entities.select(
        F.concat(F.lit("article:"), F.col("article_id").cast("string")).alias("src"),
        F.concat(F.lit("entity:"), F.col("entity")).alias("dst"),
        F.lit("MENTIONS").alias("edge_type"),
        F.lit(None).cast("string").alias("example"),
    )
    published = articles.select(
        F.concat(F.lit("article:"), F.col("article_id").cast("string")).alias("src"),
        F.concat(F.lit("source:"), _norm(F.col("source"))).alias("dst"),
        F.lit("PUBLISHED_BY").alias("edge_type"),
        F.lit(None).cast("string").alias("example"),
    )
    has_cat = articles.select(
        F.concat(F.lit("article:"), F.col("article_id").cast("string")).alias("src"),
        F.concat(F.lit("category:"), _norm(F.col("category"))).alias("dst"),
        F.lit("HAS_CATEGORY").alias("edge_type"),
        F.lit(None).cast("string").alias("example"),
    )
    edges = mentions.unionByName(published).unionByName(has_cat)
    if relations is not None:
        rel_edges = relations.select(
            F.concat(F.lit("entity:"), F.col("e1")).alias("src"),
            F.concat(F.lit("entity:"), F.col("e2")).alias("dst"),
            F.col("rel_type").alias("edge_type"),
            F.col("example"),
        )
        edges = edges.unionByName(rel_edges)
    # MERGE on (src, dst, type); ON CREATE SET example = first writer wins
    from pyspark.sql import Window

    w = Window.partitionBy("src", "dst", "edge_type").orderBy(
        F.col("example").asc_nulls_last()
    )
    deduped = (
        edges.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    # semi-join edge endpoints against nodes is the loader's FK check (J7);
    # here both sides derive from the same frames so it is definitionally true
    return deduped

