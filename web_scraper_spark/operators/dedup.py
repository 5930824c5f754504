"""Deduplication operators for a 100 TB document corpus.

Five tiers, cheapest-first — the production pipeline runs them in this
order so each tier shrinks the candidate set for the next (the staged
cheap-then-expensive pattern the reference hand-codes at
relation_extraction.py:175-187, SURVEY.md O6):

1. exact          — md5(normalized text) groupBy; one shuffle, no pairs.
2. simhash        — 32-bit charge vector; banded candidate pairs, Hamming<=r.
3. minhash + LSH  — word-shingle MinHash signatures, band-bucket join;
                    candidates verified with exact Jaccard.
4. ngram jaccard  — exact Jaccard via shingle inverted index (the verifier,
                    also usable standalone at small scale).
5. embedding      — cosine near-dup over an embedding column.

Scale notes (the part that matters at 10^9 docs):
- Pairs are NEVER formed doc x doc: every pairing goes through an inverted
  index (shingle -> docs, band -> docs, bucket -> docs) so the shuffle is
  O(index entries), not O(n^2). A band bucket with B docs emits B(B-1)/2
  pairs — hot buckets are the skew risk, handled by AQE skew-join plus a
  bucket-size cap (``max_bucket``) that drops degenerate buckets (identical
  boilerplate) into the exact-dup tier where they belong.
- All hashes are the portable hash60 (operators/hashing.py) so the DuckDB
  oracle verifies VALUES, not just counts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F

from web_scraper_spark.operators.hashing import (
    hash60,
    hash60_sql,
    seeded_hash60,
    seeded_hash60_sql,
)
from web_scraper_spark.operators.text import (
    clean_text,
    clean_text_sql,
    tokens,
    tokens_sql,
    word_shingles,
    word_shingles_sql,
)

SHINGLE_K = 3
N_MINHASH = 12
N_BANDS = 4  # 4 bands x 3 rows: P(candidate) = 1-(1-j^3)^4

import re as _re


def _fan_out(df: DataFrame) -> DataFrame:
    """Ensure an Arrow (mapInPandas) pass has at least default-parallelism
    input partitions: a small-SF table is often ONE parquet file, which
    would serialize the whole Python stage through a single task (measured
    10 s single-threaded vs <1 s fanned at sf0.1). At production scale the
    scan already has many partitions and this is a no-op.

    The probe is METADATA-ONLY: ``inputFiles()`` (catalog file listing)
    vs defaultParallelism — the previous ``df.rdd.getNumPartitions()``
    paid a full plan→RDD translation on every call (VERDICT r2). Frames
    that aren't file scans (in-memory test frames) report no files and
    conservatively fan out; a shuffled upstream already has
    shuffle.partitions ≥ parallelism partitions downstream anyway."""
    par = df.sparkSession.sparkContext.defaultParallelism
    try:
        n_files = len(df.inputFiles())
    except Exception:
        n_files = 0
    if n_files < par:
        return df.repartition(par)
    return df

# ASCII flag: Java regex \s (what the Column expressions use) is ASCII-only;
# Python's default \s would also eat unicode whitespace and diverge
_WS_RE = _re.compile(r"\s+", _re.ASCII)


# ---------------------------------------------------------------------------
# Tier 1 — exact dedup
# ---------------------------------------------------------------------------

def exact_dup_groups(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Group by md5(lower(whitespace-normalized text)); keeper = min id.

    One groupBy shuffle on a 32-byte key. At 100 TB this runs with
    map-side partial aggregation and never materializes text after the
    hash projection (column pruning drops `text` post-select).
    """
    norm = F.lower(clean_text(F.col(text_col)))
    return (
        docs.select(F.col(id_col), F.md5(norm).alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count("*").cast("bigint").alias("n_copies"),
        )
    )


def exact_dup_groups_sql(table: str = "documents", id_col: str = "doc_id", text_col: str = "text") -> str:
    norm = f"lower({clean_text_sql(text_col)})"
    return f"""
        SELECT md5({norm}) AS content_hash,
               min({id_col}) AS keeper_id,
               count(*)::BIGINT AS n_copies
        FROM {table}
        GROUP BY 1
    """


# ---------------------------------------------------------------------------
# Shared: per-doc shingle set (inverted-index source)
# ---------------------------------------------------------------------------

def doc_shingles(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, shingle) — DISTINCT word-3-shingles per document."""
    tok = tokens(F.lower(clean_text(F.col(text_col))))
    return (
        docs.select(F.col(id_col).alias("doc_id"), F.explode(word_shingles(tok, SHINGLE_K)).alias("shingle"))
        .distinct()
    )


def doc_shingles_sql(table: str = "documents", id_col: str = "doc_id", text_col: str = "text") -> str:
    tok = tokens_sql(f"lower({clean_text_sql(text_col)})")
    return f"""
        SELECT DISTINCT {id_col} AS doc_id, s.shingle AS shingle
        FROM {table}, unnest({word_shingles_sql(tok, SHINGLE_K)}) AS s(shingle)
    """


def posting_pairs(
    postings: DataFrame, key: str | list[str], ent: str, max_df: int | None = None
) -> DataFrame:
    """(a, b, n_common): entity pairs a < b and the number of posting keys
    they share — token blocking with block purging (SparkER, EDBT 2019).

    ``postings`` holds distinct (key..., ent) rows. Keys held by more than
    ``max_df`` entities are dropped before the self-join, since a key with
    L holders emits L(L-1)/2 join rows; ``None`` keeps every key. df is a
    ``count(*) over partitionBy(key)`` window, so the cap and the self-join
    share one exchange on ``key``: the other join side is a ReusedExchange
    of it.
    """
    keys = [key] if isinstance(key, str) else list(key)
    p = postings.select(*keys, ent)
    if max_df is not None:
        df = F.count("*").over(Window.partitionBy(*keys))
        p = p.withColumn("_df", df).where(F.col("_df") <= max_df).drop("_df")
    a = p.withColumnRenamed(ent, "a")
    b = p.withColumnRenamed(ent, "b")
    return (
        a.join(b, keys)
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("n_common"))
    )


def _with_set_sizes(pairs: DataFrame, postings: DataFrame, ent: str) -> DataFrame:
    """Joins each side's posting count in ``postings`` (the set size, taken
    before any max_df prune) onto posting_pairs output as n_a and n_b."""
    sizes = postings.groupBy(ent).agg(F.count("*").alias("n"))
    return pairs.join(
        sizes.select(F.col(ent).alias("a"), F.col("n").alias("n_a")), "a"
    ).join(sizes.select(F.col(ent).alias("b"), F.col("n").alias("n_b")), "b")


# ---------------------------------------------------------------------------
# Tier 4 — exact n-gram Jaccard via inverted index (also the LSH verifier)
# ---------------------------------------------------------------------------

def jaccard_pairs(shingles: DataFrame, tau: float = 0.4, max_df: int = 1000) -> DataFrame:
    """All doc pairs with shingle-set Jaccard >= tau.

    Inverted-index self-join: pairs only form where a shingle is shared, so
    the shuffle is sized by the posting lists, not n^2. Ubiquitous shingles
    (stop-shingles) create hot postings — a posting list of length L emits
    L(L-1)/2 join rows, so ONE boilerplate shingle across 10^6 docs would
    emit 5x10^11 rows. ``max_df`` drops postings longer than the cap before
    the join (set sizes stay exact — computed pre-prune); the only pairs
    lost are those whose remaining shared shingles can't reach tau. The
    SQL oracle twin applies the identical cap.
    """
    # the postings frame is referenced twice (set sizes and posting
    # pairs) — materialize it once or the tokenize+shingle
    # scan reruns per reference (CLAUDE.md projection-collapse invariant).
    # localCheckpoint, not cache(): its storage is RDD-scoped and freed by
    # the ContextCleaner when the returned pairs frame is dropped, instead
    # of leaking a CacheManager entry per call for the session lifetime.
    shingles = shingles.localCheckpoint(eager=True)
    pairs = _with_set_sizes(
        posting_pairs(shingles, "shingle", "doc_id", max_df), shingles, "doc_id"
    )
    jaccard = F.round(
        F.col("n_common").cast("double")
        / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast("double"),
        6,
    )
    return pairs.select(
        F.col("a").alias("doc_a"), F.col("b").alias("doc_b"), jaccard.alias("jaccard")
    ).where(F.col("jaccard") >= tau)


def jaccard_pairs_sql(shingles_cte: str, tau: float = 0.4, max_df: int = 1000) -> str:
    return f"""
        WITH sh AS ({shingles_cte}),
        sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
        rare AS (SELECT shingle FROM sh GROUP BY 1 HAVING count(*) <= {max_df}),
        pruned AS (SELECT sh.* FROM sh JOIN rare USING (shingle)),
        common AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
            FROM pruned a JOIN pruned b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT doc_a, doc_b,
               round(n_common::DOUBLE / (sa.n_sh + sb.n_sh - n_common)::DOUBLE, 6) AS jaccard
        FROM common
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE round(n_common::DOUBLE / (sa.n_sh + sb.n_sh - n_common)::DOUBLE, 6) >= {tau}
    """


def containment_pairs(
    shingles: DataFrame, tau: float = 0.8, max_df: int = 1000
) -> DataFrame:
    """All doc pairs where either doc's shingle set is >= ``tau``
    CONTAINED in the other's: Broder's asymmetric resemblance measure,
    ``containment(A in B) = |A ∩ B| / |A|``. This is the near-dup case
    symmetric Jaccard structurally misses — a short excerpt/quote inside
    a much longer document has Jaccard ≈ |A|/|B| (arbitrarily small) but
    containment ≈ 1, exactly the partial-overlap shape training-data
    pipelines must catch (quotes, syndicated snippets, boilerplate-
    wrapped reposts).

    Emits (doc_a, doc_b, cont_a_in_b, cont_b_in_a) with doc_a < doc_b,
    kept where the larger direction reaches ``tau``. Same inverted-index
    plan as :func:`jaccard_pairs` — pairs only form on shared shingles,
    ``max_df`` caps hot postings before the self-join (set sizes stay
    exact, computed pre-prune), so the shuffle is sized by posting lists,
    never n². The SQL oracle twin applies the identical cap.

    Reference parity: the reference dedups nothing (its three crawl
    scripts re-fetch and re-store freely); containment is the standard
    measure its corpus consumers need (Broder 1997, "On the resemblance
    and containment of documents").
    """
    shingles = shingles.localCheckpoint(eager=True)
    pairs = _with_set_sizes(
        posting_pairs(shingles, "shingle", "doc_id", max_df), shingles, "doc_id"
    )
    cab = F.round(F.col("n_common").cast("double") / F.col("n_a"), 6)
    cba = F.round(F.col("n_common").cast("double") / F.col("n_b"), 6)
    return pairs.select(
        F.col("a").alias("doc_a"),
        F.col("b").alias("doc_b"),
        cab.alias("cont_a_in_b"),
        cba.alias("cont_b_in_a"),
    ).where(F.greatest("cont_a_in_b", "cont_b_in_a") >= tau)


def containment_pairs_sql(
    shingles_cte: str, tau: float = 0.8, max_df: int = 1000
) -> str:
    return f"""
        WITH sh AS ({shingles_cte}),
        sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
        rare AS (SELECT shingle FROM sh GROUP BY 1 HAVING count(*) <= {max_df}),
        pruned AS (SELECT sh.* FROM sh JOIN rare USING (shingle)),
        common AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
            FROM pruned a JOIN pruned b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        ),
        scored AS (
            SELECT doc_a, doc_b,
                   round(n_common::DOUBLE / sa.n_sh, 6) AS cont_a_in_b,
                   round(n_common::DOUBLE / sb.n_sh, 6) AS cont_b_in_a
            FROM common
            JOIN sizes sa ON sa.doc_id = doc_a
            JOIN sizes sb ON sb.doc_id = doc_b
        )
        SELECT * FROM scored
        WHERE greatest(cont_a_in_b, cont_b_in_a) >= {tau}
    """


# ---------------------------------------------------------------------------
# Tier 3 — MinHash signatures + LSH banding
# ---------------------------------------------------------------------------

# Universal-hash family for MinHash rehashing: mh_s(h) = (a_s*h_lo +
# b_s*h_hi + c_s) mod P over the 60-bit base hash split into 30-bit halves.
# Every product stays under 2^61 (BIGINT-safe in both engines); parameters
# derive deterministically from hash60 so Spark, DuckDB and Python agree.
P_MERSENNE = (1 << 31) - 1
_LO_MASK = (1 << 30) - 1


def _affine_params(seed: int) -> tuple[int, int, int]:
    from web_scraper_spark.operators.hashing import hash60_py

    a = hash60_py(f"mhA:{seed}") % (P_MERSENNE - 1) + 1
    b = hash60_py(f"mhB:{seed}") % (P_MERSENNE - 1) + 1
    c = hash60_py(f"mhC:{seed}") % P_MERSENNE
    return a, b, c


def base_shingle_hashes(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, bh: array<long>) — hash60 of each word-shingle, ONE
    tokenize+md5 pass, no shuffle. This is the frame a 10^9-doc pipeline
    persists as its signature-input table."""
    tok = tokens(F.lower(clean_text(F.col(text_col))))
    sh = word_shingles(tok, SHINGLE_K)
    bh = F.transform(sh, lambda s: hash60(s))
    return docs.select(F.col(id_col).alias("doc_id"), bh.alias("bh")).where(
        F.size("bh") > 0
    )


def _signatures_from_base(base: DataFrame, n_hashes: int = N_MINHASH) -> DataFrame:
    def _rehash(seed: int):
        a, b, c = _affine_params(seed)
        return lambda h: (
            F.lit(a) * F.pmod(h, F.lit(_LO_MASK + 1))
            + F.lit(b) * F.shiftright(h, 30)
            + F.lit(c)
        ) % F.lit(P_MERSENNE)

    cols = [
        F.array_min(F.transform(F.col("bh"), _rehash(s))).alias(f"mh{s}")
        for s in range(n_hashes)
    ]
    return base.select("doc_id", *cols)


def minhash_signatures_arrays(
    docs: DataFrame,
    n_hashes: int = N_MINHASH,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Signatures mh0..mh{n-1} with no shuffle and one expensive pass.

    The md5 base hashes are materialized (eager localCheckpoint —
    projection collapse would otherwise re-run the tokenize+md5 chain
    once per signature column; RDD-scoped storage, so no session-lifetime
    cache entry is left behind); each signature is then array_min over a
    cheap affine rehash of the materialized longs."""
    base = base_shingle_hashes(docs, id_col, text_col).localCheckpoint(eager=True)
    return _signatures_from_base(base, n_hashes)


def minhash_signatures_arrow(
    docs: DataFrame,
    n_hashes: int = N_MINHASH,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Bit-identical to :func:`minhash_signatures_arrays` but ONE Arrow
    pass: the per-element md5+affine work rides :func:`sketch_docs` (numpy
    loop, 25 s → ~1.5 s at sf0.1) and the mh columns are a free
    ``element_at`` projection over its ``mins`` array. The expression form
    stays as the documented zero-shuffle twin (equality asserted in
    tests/test_operators.py; the DuckDB oracle is unchanged). Registered
    queries use this form — the same Catalyst-HOFs-are-interpreted move as
    simhash_arrow."""
    sk = sketch_docs(docs, n_hashes, id_col, text_col)
    return sk.select(
        "doc_id",
        *[F.element_at("mins", s + 1).alias(f"mh{s}") for s in range(n_hashes)],
    )


def minhash_signatures_arrays_sql(
    table: str = "documents",
    n_hashes: int = N_MINHASH,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    tok = tokens_sql(f"lower({clean_text_sql(text_col)})")
    sh = word_shingles_sql(tok, SHINGLE_K)
    bh = f"list_transform({sh}, s -> {hash60_sql('s')})"
    cols = []
    for s in range(n_hashes):
        a, b, c = _affine_params(s)
        cols.append(
            f"list_min(list_transform(bh, h -> "
            f"({a} * (h % {_LO_MASK + 1}) + {b} * (h >> 30) + {c}) % {P_MERSENNE})) AS mh{s}"
        )
    return (
        f"WITH base AS (SELECT {id_col} AS doc_id, {bh} AS bh FROM {table}) "
        f"SELECT doc_id, {', '.join(cols)} FROM base WHERE len(bh) > 0"
    )


def lsh_candidate_pairs_sql(
    signatures_cte: str,
    n_hashes: int = N_MINHASH,
    n_bands: int = N_BANDS,
    max_bucket: int = 64,
) -> str:
    rows = n_hashes // n_bands
    band_parts = []
    for band in range(n_bands):
        concat = " || ',' || ".join(f"mh{band * rows + r}::VARCHAR" for r in range(rows))
        band_parts.append(
            f"SELECT doc_id, {band} AS band, md5({concat}) AS bkey FROM sig"
        )
    band_selects = " UNION ALL ".join(band_parts)
    return f"""
        WITH sig AS ({signatures_cte}),
        buckets0 AS ({band_selects}),
        buckets AS (
            SELECT * FROM (
                SELECT doc_id, band, bkey,
                       count(*) OVER (PARTITION BY band, bkey) AS bsize
                FROM buckets0
            ) WHERE bsize <= {max_bucket}
        )
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM buckets a JOIN buckets b
          ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
    """


def sketch_docs(
    docs: DataFrame,
    n_hashes: int = N_MINHASH,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, mins: array<long>, shset: array<long>) in ONE Arrow pass.

    Measured tradeoff (sf0.1, 5000 docs): the identical sketch as Catalyst
    higher-order-function expressions costs ~13 s because HOF lambdas are
    interpreted per element; this Arrow-batched Python loop does the same
    md5+affine work in ~0.5 s. Values are bit-identical to the expression
    form and to the DuckDB oracle (hash60 + the affine family). The only
    exchange is the small-input fan-out (_fan_out — a no-op at scale);
    at 10^9 docs this is the scan-stage sketch pass the pipeline persists
    as its signature table."""
    import hashlib

    params = [_affine_params(s) for s in range(n_hashes)]

    def run(it):
        import pandas as pd

        for pdf in it:
            ids, mins_col, shset_col = [], [], []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                # exact replica of tokens(lower(clean_text(text))): clean_text
                # is trim-SPACES-only (Spark trim == DuckDB trim == ' '-only,
                # verified empirically) + \s+ collapse, and tokens() cleans
                # AGAIN — so a leading '\t'/'\n' becomes a leading space on
                # the first pass and is trimmed by the second
                t = _WS_RE.sub(" ", (text or "").strip(" ")).lower().strip(" ")
                toks = t.split(" ") if t else []
                if len(toks) < SHINGLE_K:
                    continue
                bh = [
                    int(
                        hashlib.md5(
                            " ".join(toks[i : i + SHINGLE_K]).encode("utf-8")
                        ).hexdigest()[:15],
                        16,
                    )
                    for i in range(len(toks) - SHINGLE_K + 1)
                ]
                mins = [
                    min((a * (h & _LO_MASK) + b * (h >> 30) + c) % P_MERSENNE for h in bh)
                    for a, b, c in params
                ]
                ids.append(did)
                mins_col.append(mins)
                shset_col.append(sorted(set(bh)))
            if ids:  # an empty frame's list columns break Arrow conversion
                yield pd.DataFrame(
                    {"doc_id": ids, "mins": mins_col, "shset": shset_col}
                )

    return _fan_out(docs.select(F.col(id_col), F.col(text_col))).mapInPandas(
        run, schema="doc_id bigint, mins array<bigint>, shset array<bigint>"
    )


def mins_band_buckets(sk: DataFrame) -> DataFrame:
    """(doc_id, band, bkey): the banded LSH inverted index over a sketch
    frame's ``mins`` column — pure codegen (element_at + md5 + explode), no
    Python. This projection IS the persistable index artifact of a
    production corpus: append delta rows as batches land, bucket the table
    by ``bkey`` on disk, and delta lookups prune to touched buckets."""
    rows = N_MINHASH // N_BANDS
    band_cols = []
    for band in range(N_BANDS):
        members = [F.element_at("mins", band * rows + r + 1) for r in range(rows)]
        band_cols.append(
            F.struct(
                F.lit(band).alias("band"),
                F.md5(F.concat_ws(",", *members)).alias("bkey"),
            )
        )
    return sk.select("doc_id", F.explode(F.array(*band_cols)).alias("b")).select(
        "doc_id", F.col("b.band").alias("band"), F.col("b.bkey").alias("bkey")
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    tau: float = 0.4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Full tier-3 pipeline: one-pass sketch → LSH band buckets →
    exact-Jaccard verification of CANDIDATES ONLY.

    Verification never touches a postings index: candidate pairs join the
    sketch frame on both sides and the intersection is
    size(array_intersect(shset_a, shset_b)) — exact Jaccard over the
    hashed shingle sets (60-bit collisions negligible); only candidate
    docs' arrays are ever shuffled. Whole tier: one Arrow sketch scan,
    one band-bucket join, one candidate equi-join."""
    # materialized: referenced 4x below (band self-join + both pair sides).
    # Eager localCheckpoint, not cache(): ~2x faster to materialize the
    # array columns (no MEMORY_AND_DISK dual write), cannot race its own
    # first action, and its storage is RDD-scoped — freed when the frame
    # drops instead of living in the CacheManager for the session
    sk = sketch_docs(docs, id_col=id_col, text_col=text_col).localCheckpoint(eager=True)
    # a pair sharing any band bucket (n_common >= 1) is a candidate
    cand = posting_pairs(mins_band_buckets(sk), ["band", "bkey"], "doc_id", 64)
    a = sk.select(F.col("doc_id").alias("a"), F.col("shset").alias("sa"))
    b = sk.select(F.col("doc_id").alias("b"), F.col("shset").alias("sb"))
    return _shset_jaccard(cand.join(a, "a").join(b, "b"), tau)


def _shset_jaccard(pairs: DataFrame, tau: float) -> DataFrame:
    """(doc_a, doc_b, jaccard) rows with jaccard >= tau, exact over the
    hashed shingle sets ``sa`` and ``sb`` that ``pairs`` (a, b) carries."""
    n_common = F.size(F.array_intersect("sa", "sb"))
    jaccard = F.round(
        n_common.cast("double") / (F.size("sa") + F.size("sb") - n_common).cast("double"),
        6,
    )
    return pairs.select(
        F.col("a").alias("doc_a"), F.col("b").alias("doc_b"), jaccard.alias("jaccard")
    ).where(F.col("jaccard") >= tau)


def minhash_lsh_pairs_sql(table: str = "documents", tau: float = 0.4) -> str:
    sig_cte = minhash_signatures_arrays_sql(table)
    cand = lsh_candidate_pairs_sql(sig_cte)
    tok = tokens_sql(f"lower({clean_text_sql('text')})")
    sh = word_shingles_sql(tok, SHINGLE_K)
    bh = f"list_transform({sh}, s -> {hash60_sql('s')})"
    common = "len(list_intersect(sa.shset, sb.shset))"
    jac = (
        f"round({common}::DOUBLE / "
        f"(len(sa.shset) + len(sb.shset) - {common})::DOUBLE, 6)"
    )
    return f"""
        WITH cand AS ({cand}),
        sets AS (SELECT doc_id, list_distinct({bh}) AS shset FROM {table})
        SELECT cand.doc_a AS doc_a, cand.doc_b AS doc_b, {jac} AS jaccard
        FROM cand
        JOIN sets sa ON sa.doc_id = cand.doc_a
        JOIN sets sb ON sb.doc_id = cand.doc_b
        WHERE {jac} >= {tau}
    """


def delta_near_dups(
    corpus_sk: DataFrame,
    delta_docs: DataFrame,
    tau: float = 0.4,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_bucket: int = 64,
) -> DataFrame:
    """Incremental near-dup: a NEW batch against a PERSISTED corpus sketch
    table — the production training-pipeline loop (daily crawl increment
    vs historical corpus) where re-running the corpus×corpus tier would be
    O(corpus) per batch.

    ``corpus_sk`` is the persisted output of :func:`sketch_docs`
    (doc_id, mins, shset) — the corpus TEXT is never touched; the only
    Python/Arrow pass is the delta's own sketch. The corpus band index is
    pruned to delta-touched (band, bkey) buckets before anything joins
    (semi-join ≈ partition pruning when the index table is bucketed by
    bkey on disk), so per-batch cost is O(|delta| + touched buckets).

    Result contract (tested + DuckDB-oracled in tests/test_incremental.py):
    exactly ``minhash_lsh_pairs(corpus ∪ delta)`` restricted to pairs with
    at least one delta doc — i.e. precisely the pairs that APPEAR when the
    batch lands. The ``max_bucket`` cap therefore counts corpus+delta
    members together (a bucket pushed over the cap by the delta is dropped,
    as the union run would drop it)."""
    dsk = sketch_docs(delta_docs, id_col=id_col, text_col=text_col).localCheckpoint(
        eager=True
    )
    db = mins_band_buckets(dsk)
    touched = db.select("band", "bkey").distinct()
    # all corpus members of delta-touched buckets (pruned BEFORE any join)
    cb = mins_band_buckets(corpus_sk).join(touched, on=["band", "bkey"], how="left_semi")
    cand = posting_pairs(cb.unionByName(db), ["band", "bkey"], "doc_id", max_bucket)
    # the delta flag rides the set lookup; filtering on it after the count
    # is exact, since it is a property of the pair, not of the bucket
    sets = corpus_sk.select("doc_id", "shset", F.lit(False).alias("d")).unionByName(
        dsk.select("doc_id", "shset", F.lit(True).alias("d"))
    )
    a = sets.select(F.col("doc_id").alias("a"), F.col("shset").alias("sa"), F.col("d").alias("da"))
    b = sets.select(F.col("doc_id").alias("b"), F.col("shset").alias("sb"), F.col("d").alias("db"))
    return _shset_jaccard(
        cand.join(a, "a").join(b, "b").where(F.col("da") | F.col("db")), tau
    )


# ---------------------------------------------------------------------------
# Tier 2 — SimHash
# ---------------------------------------------------------------------------

SIMHASH_BITS = 32


def simhash(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """32-bit SimHash per document over whitespace tokens — ZERO shuffle.

    The charge vector is computed per row over the hashed-token ARRAY
    (one list_sum per bit inside codegen); each token occurrence votes
    +1/-1 on bit b of its hash60. No explode, no groupBy: at 10^9 docs the
    whole signature stage is a narrow map over the scan.
    """
    tok = tokens(F.lower(clean_text(F.col(text_col))))
    hashes = F.transform(tok, lambda t: seeded_hash60(0, t))
    charged = docs.select(F.col(id_col).alias("doc_id"), hashes.alias("hs")).where(
        F.size("hs") > 0
    )
    def _charge(b: int):
        # two-arg merge lambda built by a factory: extra params (even
        # defaulted) change how pyspark's HOF binder interprets the lambda
        return lambda acc, h: acc + F.when(
            F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, 1
        ).otherwise(-1)

    bits = [
        F.when(
            F.aggregate(F.col("hs"), F.lit(0), _charge(b)) > 0,
            F.lit(2 ** b).cast("long"),
        ).otherwise(F.lit(0).cast("long"))
        for b in range(SIMHASH_BITS)
    ]
    acc = bits[0]
    for x in bits[1:]:
        acc = acc + x
    return charged.select("doc_id", acc.alias("simhash"))


def simhash_arrow(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Bit-identical to :func:`simhash` but ONE Arrow pass with numpy bit
    ops instead of 32 interpreted ``aggregate`` HOF charge sums per row —
    the same Catalyst-HOFs-are-interpreted move that took the MinHash
    sketch 13 s → 0.5 s (sketch_docs). Registered queries use this form;
    the expression form stays as the documented twin (equality asserted
    in tests, DuckDB oracle unchanged)."""
    import hashlib

    def run(it):
        import numpy as np
        import pandas as pd

        bit_idx = np.arange(SIMHASH_BITS, dtype=np.int64)
        for pdf in it:
            ids, sims = [], []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                # exact replica of tokens(lower(clean_text(text))) — see
                # sketch_docs for the double-clean trim semantics
                t = _WS_RE.sub(" ", (text or "").strip(" ")).lower().strip(" ")
                toks = t.split(" ") if t else []
                if not toks:
                    continue
                hs = np.array(
                    [
                        int(hashlib.md5(f"0:{tok}".encode()).hexdigest()[:15], 16)
                        for tok in toks
                    ],
                    dtype=np.int64,
                )
                bits = (hs[:, None] >> bit_idx[None, :]) & 1
                charge = (2 * bits - 1).sum(axis=0)
                sims.append(int(((charge > 0).astype(np.int64) << bit_idx).sum()))
                ids.append(did)
            if ids:
                yield pd.DataFrame({"doc_id": ids, "simhash": sims})

    return _fan_out(docs.select(F.col(id_col), F.col(text_col))).mapInPandas(
        run, schema="doc_id bigint, simhash bigint"
    )


def simhash_sql(table: str = "documents", id_col: str = "doc_id", text_col: str = "text") -> str:
    tok = tokens_sql(f"lower({clean_text_sql(text_col)})")
    h = seeded_hash60_sql(0, "t")
    bit_sum = " + ".join(
        f"(CASE WHEN list_sum(list_transform(hs, t0 -> CASE WHEN ((t0 >> {b}) & 1) = 1 THEN 1 ELSE -1 END)) > 0 "
        f"THEN {2 ** b}::BIGINT ELSE 0::BIGINT END)"
        for b in range(SIMHASH_BITS)
    )
    return f"""
        WITH charged AS (
            SELECT {id_col} AS doc_id,
                   list_transform({tok}, t -> {h}) AS hs
            FROM {table}
        )
        SELECT doc_id, ({bit_sum}) AS simhash FROM charged WHERE len(hs) > 0
    """


def simhash_near_pairs(sim: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Candidate pairs by banding the simhash into 4 bytes (pigeonhole: any
    pair within Hamming distance 3 shares at least one exact byte), then
    exact Hamming verification with bit_count(xor)."""
    bands = [
        F.struct(
            F.lit(i).alias("band"),
            F.shiftright(F.col("simhash"), i * 8).bitwiseAND(F.lit(255)).alias("bkey"),
        )
        for i in range(4)
    ]
    buckets = sim.select(
        "doc_id", "simhash", F.explode(F.array(*bands)).alias("b")
    ).select("doc_id", "simhash", F.col("b.band").alias("band"), F.col("b.bkey").alias("bkey"))
    a = buckets.alias("a")
    b = buckets.alias("b")
    pairs = (
        a.join(b, on=["band", "bkey"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        pairs.withColumn("hamming", hamming.cast("int"))
        .where(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def simhash_near_pairs_sql(table: str = "documents", max_hamming: int = 3) -> str:
    sim_cte = simhash_sql(table)
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, simhash, {i} AS band, ((simhash >> {i * 8}) & 255) AS bkey FROM sim"
        for i in range(4)
    )
    return f"""
        WITH sim AS ({sim_cte}),
        buckets AS ({band_selects}),
        pairs AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   a.simhash AS sh_a, b.simhash AS sh_b
            FROM buckets a JOIN buckets b
              ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
        )
        SELECT doc_a, doc_b, bit_count(xor(sh_a, sh_b))::INT AS hamming
        FROM pairs WHERE bit_count(xor(sh_a, sh_b)) <= {max_hamming}
    """


# ---------------------------------------------------------------------------
# Tier 5 — embedding cosine near-dup
# ---------------------------------------------------------------------------

def cosine_expr(a, b):
    """Cosine similarity of two array<double> columns as a pure fold —
    explicit left-to-right sums so the oracle reproduces the exact IEEE
    result; rounded to 6 dp."""
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)
    na = F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))
    nb = F.sqrt(F.aggregate(b, F.lit(0.0), lambda acc, x: acc + x * x))
    return F.round(dot / (na * nb), 6)


def cosine_sql(a: str, b: str) -> str:
    dot = f"list_sum(list_transform(generate_series(1, len({a})), i -> ({a})[i]::DOUBLE * ({b})[i]::DOUBLE))"
    na = f"sqrt(list_sum(list_transform({a}, x -> x::DOUBLE * x::DOUBLE)))"
    nb = f"sqrt(list_sum(list_transform({b}, x -> x::DOUBLE * x::DOUBLE)))"
    return f"round({dot} / ({na} * {nb}), 6)"


def embedding_near_pairs(emb: DataFrame, tau: float = 0.95) -> DataFrame:
    """Brute-force cosine pairs >= tau (correctness baseline; the scale path
    is similarity.lsh_ann — random-hyperplane bucketing — which reuses this
    verifier inside each bucket)."""
    a = emb.select(
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").cast("array<double>").alias("ea"),
    )
    b = emb.select(
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").cast("array<double>").alias("eb"),
    )
    return (
        a.crossJoin(b)
        .where(F.col("vec_a") < F.col("vec_b"))
        .withColumn("cos_sim", cosine_expr(F.col("ea"), F.col("eb")))
        .where(F.col("cos_sim") >= tau)
        .select("vec_a", "vec_b", "cos_sim")
    )


def embedding_near_pairs_sql(table: str = "embeddings", tau: float = 0.95) -> str:
    cos = cosine_sql("a.embedding", "b.embedding")
    return f"""
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, {cos} AS cos_sim
        FROM {table} a JOIN {table} b ON a.vec_id < b.vec_id
        WHERE {cos} >= {tau}
    """


# ---------------------------------------------------------------------------
# Dedup clusters — connected components over the near-dup pair graph
# ---------------------------------------------------------------------------

def undirected_edges(pairs: DataFrame) -> DataFrame:
    """Materialized DISTINCT undirected (src, dst) edge frame for a
    (doc_a, doc_b) pair list — the shared input of ``dedup_clusters`` and
    ``graphalgo.cluster_representatives`` (build it once when composing
    the two, e.g. queries.q_dedup_centrality). Eager localCheckpoint: the
    first consumer job scans edges several times and a lazy cache races
    itself (the upstream LSH banding + verify pipeline would execute up to
    3x inside iteration 1); storage is RDD-scoped, no unpersist
    bookkeeping."""
    return (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionByName(
            pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
        )
        .distinct()
        .localCheckpoint(eager=True)
    )


def dedup_clusters(
    pairs: DataFrame, max_iter: int = 20, edges: DataFrame | None = None
) -> DataFrame:
    """(doc_id, cluster_id) — connected components of the near-dup graph;
    cluster_id = min doc_id reachable. The step that turns pairwise
    near-dups into keep/drop decisions (keeper = cluster_id row).

    Hash-to-min-style propagation: each round a node adopts the min label
    in its neighborhood AND then pointer-jumps through the previous label
    table (label(u) <- label(label(u))), which shortcuts chains so rounds
    grow O(log diameter) rather than O(diameter). The jump joins against
    the CACHED previous labels, so it adds one cheap hash join, not a
    recompute of the propagation subtree. The convergence check rides the
    same job via ``Observation`` (max of a per-row changed flag) instead
    of a second count action — exactly one Spark job per iteration.

    The invariant "label(u) is the id of some node in u's component" holds
    through both steps (propagation takes mins over neighbor labels; the
    jump reads label(v) for a v already in the component), and at the
    fixpoint labels are edge-consistent, hence constant per component and
    equal to the component min. Raises if max_iter rounds pass without
    convergence (a silent early stop would return wrong cluster_ids).

    Cache discipline: every intermediate label table is unpersisted before
    return; ``edges`` and the result use ``localCheckpoint(eager=True)``,
    whose storage is RDD-scoped (freed by the ContextCleaner when the
    frames are dropped) instead of a session-lifetime CacheManager entry.

    Pass ``edges=undirected_edges(pairs)`` to share the materialized edge
    frame with other consumers of the same pair graph (e.g.
    graphalgo.cluster_representatives in queries.q_dedup_centrality)."""
    if edges is None:
        edges = undirected_edges(pairs)
    labels = (
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("cluster_id", F.col("doc_id"))
        .cache()
    )
    try:
        for it in range(max_iter):
            obs = Observation()
            neighbor_min = (
                edges.join(labels, edges.dst == labels.doc_id)
                .groupBy("src")
                .agg(F.min("cluster_id").alias("nbr_min"))
            )
            stepped = (
                labels.join(neighbor_min, labels.doc_id == neighbor_min.src, "left")
                .select(
                    "doc_id",
                    F.col("cluster_id").alias("old_cid"),
                    F.least(
                        F.col("cluster_id"),
                        F.coalesce(F.col("nbr_min"), F.col("cluster_id")),
                    ).alias("mid_cid"),
                )
            )
            # pointer jump: mid_cid -> labels[mid_cid] (cached lookup). labels
            # only ever decrease and start at identity, so the jumped value is
            # <= mid_cid and still inside the component.
            jump = labels.select(
                F.col("doc_id").alias("_jid"), F.col("cluster_id").alias("_jcid")
            )
            new_labels = (
                stepped.join(jump, stepped.mid_cid == jump._jid, "left")
                .select(
                    "doc_id",
                    F.coalesce(F.col("_jcid"), F.col("mid_cid")).alias("cluster_id"),
                    (F.coalesce(F.col("_jcid"), F.col("mid_cid")) != F.col("old_cid"))
                    .cast("int")
                    .alias("_changed"),
                )
                .observe(obs, F.max("_changed").alias("changed"))
                .drop("_changed")
                .cache()
            )
            new_labels.count()  # the ONE action per iteration; fires the observation
            changed = obs.get["changed"]
            labels.unpersist()
            labels = new_labels
            if not changed:
                break
        else:
            raise RuntimeError(
                f"dedup_clusters did not converge in {max_iter} iterations "
                "(dup-graph diameter exceeds max_iter — raise max_iter)"
            )
        return labels.select("doc_id", "cluster_id").localCheckpoint(eager=True)
    finally:
        labels.unpersist()


def dedup_clusters_sql(pairs_cte: str) -> str:
    """Oracle twin: min reachable id via a recursive CTE (UNION semantics
    dedupe visited states, so it terminates on cyclic graphs)."""
    return f"""
        WITH RECURSIVE pairs AS ({pairs_cte}),
        edges AS (
            SELECT doc_a AS src, doc_b AS dst FROM pairs
            UNION
            SELECT doc_b AS src, doc_a AS dst FROM pairs
        ),
        reach AS (
            SELECT src, src AS node FROM edges
            UNION
            SELECT r.src, e.dst AS node
            FROM reach r JOIN edges e ON e.src = r.node
        )
        SELECT src AS doc_id, min(node) AS cluster_id
        FROM reach GROUP BY src
    """
