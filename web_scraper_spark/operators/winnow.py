"""Winnowing document fingerprints (Schleimer, Wilkerson & Aiken 2003).

The MOSS local fingerprinting algorithm: hash every word k-gram, slide a
window of ``w`` consecutive gram hashes over the document, and select the
minimum hash in each window. The selected set is a position-robust
fingerprint — any shared substring of length ``k + w - 1`` tokens between
two documents is GUARANTEED to contribute at least one common selected
hash (the winnowing guarantee, Schleimer et al. §3), while the density of
selected hashes is ~2/(w+1) of all grams. It complements the repo's
dedup family: MinHash/SimHash sketch GLOBAL similarity, dup_spans finds
exact substring clones corpus-wide, winnowing gives each document a
compact LOCAL fingerprint set suitable for plagiarism-style overlap
lookup (index the fingerprints, not the text).

Variant: positions within ``w-1`` of the document tail use the shrinking
suffix window (equivalent to running standard winnowing on a sequence
padded with +inf sentinels), so every document with at least one gram
yields at least one fingerprint — short documents are never silently
unfingerprintable. Window count therefore equals gram count; selection
density is unchanged away from the tail.

The reference's only content fingerprint is a full-text md5
(/root/reference/ConnectAndSave.py:122-123 — exact-dup key only); this
operator adds the overlap-robust form from the public literature.

Output is a per-document summary of the selected set — count, min, max,
and an order-insensitive bit_xor fold over the DISTINCT selected hashes —
so the result stays doc-count-sized while remaining value-sensitive to
every selected fingerprint (any change to the set moves fp_xor).

Plan shape at 100 TB: one explode of (doc_id, pos, 8-byte gram hash)
triples — the text itself never shuffles — then ONE hash shuffle on
doc_id that serves all three downstream steps: the pos-ordered sliding
window min, the (doc_id, fp) distinct reduce, and the per-doc rollup all
ride the same doc_id partitioning (Catalyst reuses the exchange; no
second shuffle). hash60 keeps the selected values engine-portable for
the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from web_scraper_spark.operators.dedup import _fan_out, posting_pairs
from web_scraper_spark.operators.hashing import hash60, hash60_sql
from web_scraper_spark.operators.text import (
    clean_text,
    clean_text_sql,
    tokens,
    tokens_sql,
    word_shingles,
    word_shingles_sql,
)

GRAM_K = 4  # word k-gram size (noise threshold = matches shorter than k)
WINDOW_W = 5  # winnowing window; guarantee threshold t = k + w - 1 = 8


def _gram_hashes(text_col) -> F.Column:
    tok = tokens(F.lower(clean_text(text_col)))
    return F.transform(word_shingles(tok, GRAM_K), lambda s: hash60(s))


def winnow_fingerprints(docs: DataFrame, w: int = WINDOW_W) -> DataFrame:
    """Per-document winnowing fingerprint summary.

    Returns one row per input document:
    (doc_id, n_grams, n_fps, fp_min, fp_max, fp_xor) — gram count, number
    of DISTINCT selected fingerprints, their min/max, and their bit_xor
    fold. Documents with fewer than GRAM_K tokens have no grams and
    report all-zero.
    """
    sel = _selected(docs, w)
    per = sel.groupBy("doc_id").agg(
        F.sum("n_sel").cast("bigint").alias("n_grams"),
        F.count("*").cast("bigint").alias("n_fps"),
        F.min("fp").alias("fp_min"),
        F.max("fp").alias("fp_max"),
        F.expr("bit_xor(fp)").alias("fp_xor"),
    )
    z = F.lit(0).cast("bigint")
    return docs.select("doc_id").join(per, on="doc_id", how="left").select(
        "doc_id",
        F.coalesce("n_grams", z).alias("n_grams"),
        F.coalesce("n_fps", z).alias("n_fps"),
        F.coalesce("fp_min", z).alias("fp_min"),
        F.coalesce("fp_max", z).alias("fp_max"),
        F.coalesce("fp_xor", z).alias("fp_xor"),
    )


FP_MAX_DF = 64  # fingerprints shared by more docs are boilerplate — drop
MIN_SHARED = 2  # report pairs sharing at least this many fingerprints


def _selected(docs: DataFrame, w: int) -> DataFrame:
    """The shared winnowing pipeline: distinct (doc_id, fp, n_sel) rows —
    each document's selected fingerprints with the number of windows
    selecting them (every position selects exactly one fp, so
    sum(n_sel) per doc = gram count). One explode of 8-byte hashes, one
    doc_id shuffle serving window + distinct."""
    grams = _fan_out(docs.select("doc_id", "text")).select(
        "doc_id", F.posexplode(_gram_hashes(F.col("text"))).alias("pos", "h")
    )
    win = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, w - 1)
    return (
        grams.select("doc_id", F.min("h").over(win).alias("fp"))
        .groupBy("doc_id", "fp")
        .agg(F.count("*").cast("bigint").alias("n_sel"))
    )


def winnow_overlap_pairs(
    docs: DataFrame,
    w: int = WINDOW_W,
    max_fp_df: int = FP_MAX_DF,
    min_shared: int = MIN_SHARED,
) -> DataFrame:
    """The MOSS matching step: document pairs sharing >= ``min_shared``
    selected fingerprints — local-overlap near-dup detection that
    catches a copied passage the global MinHash sketch dilutes (any
    shared run of k + w - 1 tokens forces >= 1 common fingerprint).

    Pair formation is the inverted-index discipline: fingerprints held
    by more than ``max_fp_df`` documents are boilerplate and dropped
    BEFORE the self-join (the postings max_df / LSH bucket-cap rule —
    deterministic, oracle-mirrored, and it bounds any fingerprint's pair
    contribution at max_fp_df²/2). Returns (doc_a, doc_b, n_shared_fps).
    """
    # eager localCheckpoint: sel feeds both sides of the self-join
    sel = _selected(docs, w).drop("n_sel").localCheckpoint(eager=True)
    return _shared_at_least(posting_pairs(sel, "fp", "doc_id", max_fp_df), min_shared)


def _shared_at_least(pairs: DataFrame, min_shared: int) -> DataFrame:
    """posting_pairs rows as (doc_a, doc_b, n_shared_fps), >= min_shared."""
    return pairs.select(
        F.col("a").alias("doc_a"),
        F.col("b").alias("doc_b"),
        F.col("n_common").alias("n_shared_fps"),
    ).where(F.col("n_shared_fps") >= min_shared)


def build_winnow_index(docs: DataFrame, w: int = WINDOW_W) -> DataFrame:
    """The persistable fingerprint index: distinct (doc_id, fp) selected
    pairs — write this once per corpus (parquet, bucketed by fp at
    production scale) and match every future batch against it with
    :func:`winnow_overlap_incremental` without ever re-fingerprinting
    the corpus (the build_postings_index / sketch_docs discipline)."""
    return _selected(docs, w).drop("n_sel")


def winnow_overlap_incremental(
    corpus_fps: DataFrame,
    delta_docs: DataFrame,
    w: int = WINDOW_W,
    max_fp_df: int = FP_MAX_DF,
    min_shared: int = MIN_SHARED,
) -> DataFrame:
    """Incremental MOSS matching: a NEW batch against the PERSISTED
    fingerprint index — the production loop (daily crawl increment vs
    historical corpus) where re-fingerprinting the corpus would be
    O(corpus) per batch.

    ``corpus_fps`` is the persisted output of :func:`build_winnow_index`;
    corpus TEXT is never touched and the only Generate in the plan is
    the delta's own gram explode (plan-asserted in tests/test_winnow.py).

    Result contract (the delta_near_dups union-subset identity):
    exactly ``winnow_overlap_pairs(corpus ∪ delta)`` restricted to pairs
    with at least one delta doc. That restriction makes the computation
    O(|delta| + touched postings): every shared fingerprint of a
    delta-involving pair is BY DEFINITION held by a delta doc, so the
    corpus index is semi-join-pruned to delta-touched fingerprints
    before anything else — and for those fingerprints the pruned frame
    still holds EVERY union holder, so the max-df boilerplate cap counts
    corpus+delta members together exactly as the union run would (a
    fingerprint pushed over the cap by the delta is dropped on both
    paths).
    """
    dsel = _selected(delta_docs, w).drop("n_sel").localCheckpoint(eager=True)
    touched = dsel.select("fp").distinct()
    corpus_touched = corpus_fps.join(touched, on="fp", how="leftsemi")
    union_touched = corpus_touched.unionByName(dsel).distinct()
    pairs = posting_pairs(union_touched, "fp", "doc_id", max_fp_df)
    # keep pairs with a delta member; filtering after the count is exact,
    # since delta membership is a property of the pair, not of the fp
    delta_ids = dsel.select("doc_id").distinct()
    da = delta_ids.select(F.col("doc_id").alias("a"), F.lit(True).alias("da"))
    db = delta_ids.select(F.col("doc_id").alias("b"), F.lit(True).alias("db"))
    pairs = (
        pairs.join(da, "a", "left")
        .join(db, "b", "left")
        .where(F.col("da").isNotNull() | F.col("db").isNotNull())
    )
    return _shared_at_least(pairs, min_shared)


def winnow_overlap_pairs_sql(
    w: int = WINDOW_W,
    max_fp_df: int = FP_MAX_DF,
    min_shared: int = MIN_SHARED,
) -> str:
    """DuckDB value-exact twin of :func:`winnow_overlap_pairs`."""
    tok = tokens_sql(f"lower({clean_text_sql('text')})")
    grams = word_shingles_sql("tok", GRAM_K)
    h = hash60_sql("g")
    return f"""
        WITH base AS (SELECT doc_id, {tok} AS tok FROM documents),
        gs AS (SELECT doc_id, list_transform({grams}, g -> {h}) AS hs
               FROM base),
        g AS (
            SELECT doc_id, s.pos AS pos, s.h AS h
            FROM (SELECT doc_id, unnest(
                      list_transform(range(len(hs)),
                                     i -> {{'pos': i, 'h': hs[i + 1]}})) AS s
                  FROM gs)
        ),
        sel AS (
            SELECT DISTINCT doc_id,
                   min(h) OVER (PARTITION BY doc_id ORDER BY pos
                                ROWS BETWEEN CURRENT ROW
                                AND {w - 1} FOLLOWING) AS fp
            FROM g
        ),
        kept AS (
            SELECT doc_id, fp FROM sel
            WHERE fp IN (SELECT fp FROM sel GROUP BY fp
                         HAVING count(*) <= {max_fp_df})
        )
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               count(*)::BIGINT AS n_shared_fps
        FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
        GROUP BY 1, 2
        HAVING count(*) >= {min_shared}
    """


def winnow_fingerprints_sql(w: int = WINDOW_W) -> str:
    """DuckDB value-exact twin of :func:`winnow_fingerprints`."""
    tok = tokens_sql(f"lower({clean_text_sql('text')})")
    grams = word_shingles_sql("tok", GRAM_K)
    h = hash60_sql("g")
    return f"""
        WITH base AS (SELECT doc_id, {tok} AS tok FROM documents),
        gs AS (SELECT doc_id, list_transform({grams}, g -> {h}) AS hs
               FROM base),
        g AS (
            SELECT doc_id, s.pos AS pos, s.h AS h
            FROM (SELECT doc_id, unnest(
                      list_transform(range(len(hs)),
                                     i -> {{'pos': i, 'h': hs[i + 1]}})) AS s
                  FROM gs)
        ),
        wins AS (
            SELECT doc_id,
                   min(h) OVER (PARTITION BY doc_id ORDER BY pos
                                ROWS BETWEEN CURRENT ROW
                                AND {w - 1} FOLLOWING) AS fp
            FROM g
        ),
        sel AS (SELECT doc_id, fp, count(*)::BIGINT AS n_sel
                FROM wins GROUP BY 1, 2),
        per AS (
            SELECT doc_id,
                   sum(n_sel)::BIGINT AS n_grams,
                   count(*)::BIGINT AS n_fps,
                   min(fp) AS fp_min,
                   max(fp) AS fp_max,
                   bit_xor(fp) AS fp_xor
            FROM sel GROUP BY 1
        )
        SELECT d.doc_id,
               coalesce(per.n_grams, 0)::BIGINT AS n_grams,
               coalesce(per.n_fps, 0)::BIGINT AS n_fps,
               coalesce(per.fp_min, 0)::BIGINT AS fp_min,
               coalesce(per.fp_max, 0)::BIGINT AS fp_max,
               coalesce(per.fp_xor, 0)::BIGINT AS fp_xor
        FROM documents d LEFT JOIN per USING (doc_id)
    """
