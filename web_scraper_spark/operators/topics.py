"""Topic-model stage (SURVEY.md A8-A10): CountVectorizer + LDA via Spark ML.

The reference fits sklearn LDA per time grain (ConnectAndSave.py:197-212
and the week/quarter/year clones); the engine is one parameterized
pipeline, seed-pinned, over any filtered slice. Spark ML LDA distributes
the E-step across executors (each partition computes sufficient statistics
over its documents), so the fit scales with the corpus — sklearn's
single-process fit is the 100 TB wall the reference would hit.

Not SQL-expressible → registered as a rows-only query (no oracle entry);
determinism comes from seed=42 + deterministic tokenization.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def fit_topics(
    docs: DataFrame,
    k: int = 5,
    vocab_size: int = 2000,
    max_iter: int = 20,
    seed: int = 42,
) -> tuple[DataFrame, DataFrame]:
    """Returns (doc_topics(doc_id, topic), topic_keywords(topic, keyword,
    weight_pct, rank)) — the reference's topic_* and topic_keywords*
    tables (ConnectAndSave.py:244-292) from one fitted model.

    Doc topic = argmax of the topic distribution (A9); keywords = top
    terms with percent weights (A10/X18, round(w*100/sum, 1))."""
    from pyspark.ml.clustering import LDA
    from pyspark.ml.feature import CountVectorizer

    from web_scraper_spark.operators.text import clean_text, tokens

    toks = docs.select("doc_id", tokens(clean_text(F.col("text"))).alias("tokens"))
    cv = CountVectorizer(
        inputCol="tokens", outputCol="features", vocabSize=vocab_size, minDF=1.0
    )
    cv_model = cv.fit(toks)
    vec = cv_model.transform(toks)
    lda = LDA(k=k, seed=seed, maxIter=max_iter, optimizer="em", featuresCol="features")
    model = lda.fit(vec)

    transformed = model.transform(vec)
    # A9 argmax via vector_to_array + array_position(max) — native, no UDF
    from pyspark.ml.functions import vector_to_array

    dist = vector_to_array(F.col("topicDistribution"))
    doc_topics = transformed.select(
        "doc_id",
        (F.array_position(dist, F.array_max(dist)) - 1).cast("int").alias("topic"),
    )

    vocab = cv_model.vocabulary
    topics = model.describeTopics(10)
    vocab_df = docs.sparkSession.createDataFrame(
        [(i, w) for i, w in enumerate(vocab)], "term_idx int, keyword string"
    )
    exploded = topics.select(
        F.col("topic"),
        F.explode(F.arrays_zip("termIndices", "termWeights")).alias("tw"),
    ).select(
        "topic",
        F.col("tw.termIndices").alias("term_idx"),
        F.col("tw.termWeights").alias("w"),
    )
    wsum = Window.partitionBy("topic")
    topic_keywords = (
        exploded.join(F.broadcast(vocab_df), "term_idx")
        .withColumn("weight_pct", F.round(F.col("w") * 100.0 / F.sum("w").over(wsum), 1))
        .withColumn(
            "rank",
            F.row_number().over(
                Window.partitionBy("topic").orderBy(F.col("w").desc(), F.col("keyword").asc())
            ),
        )
        .select("topic", "keyword", "weight_pct", F.col("rank").cast("int").alias("rank"))
    )
    return doc_topics, topic_keywords


def topic_labels(doc_topics: DataFrame, topic_keywords: DataFrame) -> DataFrame:
    """X17 topic label synthesis ('_'.join(top2).lower(),
    ConnectAndSave.py:218-231) as a native expression over the keyword table."""
    # collect_list order is not deterministic under shuffle — sort the
    # (rank, keyword) structs post-collect to pin the label
    ordered = F.transform(
        F.array_sort(F.collect_list(F.struct(F.col("rank"), F.col("keyword")))),
        lambda s: s.keyword,
    )
    top2 = (
        topic_keywords.where(F.col("rank") <= 2)
        .groupBy("topic")
        .agg(F.array_join(ordered, "_").alias("raw"))
        .select(
            "topic",
            F.lower(F.regexp_replace(F.col("raw"), " ", "_")).alias("topic_name"),
        )
    )
    return doc_topics.join(F.broadcast(top2), "topic").select("doc_id", "topic", "topic_name")


def lda_doc_topics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """queries() entry: deterministic doc→topic assignment with labels."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    doc_topics, topic_keywords = fit_topics(docs, k=5, max_iter=20, seed=42)
    return topic_labels(doc_topics, topic_keywords).orderBy("doc_id")
