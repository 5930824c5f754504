"""Corpus-curation operators: decontamination, PII scrubbing, repetition.

Three training-data-pipeline stages a 100 TB corpus needs beyond dedup
(operators/dedup.py) and quality scoring (operators/text.py):

- **Benchmark decontamination** — flag corpus documents sharing any word
  n-gram with a held-out benchmark/eval set, the standard guard against
  test-set leakage into training data. The benchmark side is tiny by
  construction (eval suites are KBs against a 100 TB corpus), so the
  gram-set join is a broadcast hash join: the corpus side streams through
  one explode + one map-side-combined groupBy, no corpus-sized shuffle of
  text, and no pairwise anything.
- **PII scrubbing** — redact emails / IPv4s / phone numbers with counted
  regexp_replace chains. Pure whole-stage-codegen Column expressions
  (regexp_count + regexp_replace), trivially data-parallel at any scale.
- **Repetition statistics** — Gopher-style repetition signals (most
  frequent token / 2-gram fraction, duplicate 2-/3-gram fractions).
  Spark side computes all gram sizes in ONE explode of a tagged struct
  array → one shuffle on (doc_id, n, gram) with map-side partial
  aggregation, then one per-doc rollup; the DuckDB oracle uses three
  plain per-size CTEs (same values, clarity over speed — the oracle runs
  at sf0.01).

The reference has no curation tier (its dedup is the per-URL seen set,
CrawlPaperTuoiTre.py:60-66); these follow the published C4/Gopher-style
rules. Every operator has an exact DuckDB twin so the driver gate can
verify values, not just row counts.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from web_scraper_spark.operators.hashing import hash60, hash60_sql
from web_scraper_spark.operators.text import (
    clean_text,
    clean_text_sql,
    tokens,
    tokens_sql,
    word_shingles,
    word_shingles_sql,
)

# ---------------------------------------------------------------------------
# Benchmark decontamination (n-gram overlap vs a held-out eval set)
# ---------------------------------------------------------------------------

DECON_NGRAM = 8  # 8-gram overlap: the common published decontamination window


def _gram_set(text_col: Column, n: int) -> Column:
    """Distinct hash60 values of the word n-grams of normalized text."""
    tok = tokens(F.lower(clean_text(text_col)))
    return F.array_distinct(
        F.transform(word_shingles(tok, n), lambda s: hash60(s))
    )


def _gram_set_sql(text_expr: str, n: int) -> str:
    tok = tokens_sql(f"lower({clean_text_sql(text_expr)})")
    return (
        f"list_distinct(list_transform({word_shingles_sql(tok, n)}, "
        f"s -> {hash60_sql('s')}))"
    )


def decontaminate(
    docs: DataFrame, bench_mod: int = 25, n: int = DECON_NGRAM
) -> DataFrame:
    """Per-corpus-doc overlap with the benchmark subset's n-gram inventory.

    ``doc_id % bench_mod == 0`` plays the held-out benchmark; the rest is
    the training corpus. Plan shape (the part that must survive 100 TB):
    the benchmark gram inventory is distinct-ed then **broadcast**; the
    corpus side is explode → broadcast-join → groupBy(doc_id), i.e. one
    corpus-partitioned aggregation and zero corpus-side text shuffles.
    """
    sketch = docs.select("doc_id", _gram_set(F.col("text"), n).alias("gset"))
    corpus = sketch.filter(F.col("doc_id") % bench_mod != 0)
    bench_grams = (
        sketch.filter(F.col("doc_id") % bench_mod == 0)
        .select(F.explode("gset").alias("g"))
        .distinct()
    )
    overlap = (
        corpus.select("doc_id", F.explode("gset").alias("g"))
        .join(F.broadcast(bench_grams), on="g", how="inner")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_overlap"))
    )
    return (
        corpus.select("doc_id", F.size("gset").cast("bigint").alias("n_grams"))
        .join(overlap, on="doc_id", how="left")
        .select(
            "doc_id",
            "n_grams",
            F.coalesce(F.col("n_overlap"), F.lit(0)).cast("bigint").alias("n_overlap"),
            (F.coalesce(F.col("n_overlap"), F.lit(0)) > 0).alias("contaminated"),
        )
    )


def decontaminate_sql(bench_mod: int = 25, n: int = DECON_NGRAM) -> str:
    gset = _gram_set_sql("text", n)
    return f"""
        WITH sk AS (SELECT doc_id, {gset} AS gset FROM documents),
        bench AS (
            SELECT DISTINCT g
            FROM (SELECT unnest(gset) AS g FROM sk WHERE doc_id % {bench_mod} = 0)
        ),
        ov AS (
            SELECT c.doc_id, count(*) AS n_overlap
            FROM (
                SELECT doc_id, unnest(gset) AS g FROM sk
                WHERE doc_id % {bench_mod} != 0
            ) c JOIN bench USING (g)
            GROUP BY 1
        )
        SELECT sk.doc_id,
               len(sk.gset)::BIGINT AS n_grams,
               coalesce(ov.n_overlap, 0)::BIGINT AS n_overlap,
               coalesce(ov.n_overlap, 0) > 0 AS contaminated
        FROM sk LEFT JOIN ov USING (doc_id)
        WHERE sk.doc_id % {bench_mod} != 0
    """


# ---------------------------------------------------------------------------
# PII scrubbing (counted redaction chains)
# ---------------------------------------------------------------------------

# RE2-compatible (no backreferences/lookarounds — the oracle invariant)
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PHONE_RE = r"\+\d[\d-]{6,14}\d"


def _with_synth_pii(text_col: Column, id_col: Column) -> Column:
    """Deterministically embed PII into every 7th document (the parquet
    corpus is PII-free word soup; the redaction paths need real targets)."""
    d = id_col.cast("bigint")
    return F.when(
        d % 7 == 0,
        F.concat(
            text_col,
            F.lit(" contact user"), d.cast("string"),
            F.lit("@mail.example.com at 192.168."),
            (d % 256).cast("string"), F.lit("."), ((d * 7) % 256).cast("string"),
            F.lit(" call +1-555-01"),
            F.lpad((d % 100).cast("string"), 2, "0"),
        ),
    ).otherwise(text_col)


def _synth_pii_sql(text_expr: str, id_expr: str) -> str:
    return (
        f"(CASE WHEN {id_expr} % 7 = 0 THEN {text_expr} || ' contact user' || "
        f"{id_expr}::VARCHAR || '@mail.example.com at 192.168.' || "
        f"({id_expr} % 256)::VARCHAR || '.' || (({id_expr} * 7) % 256)::VARCHAR || "
        f"' call +1-555-01' || lpad(({id_expr} % 100)::VARCHAR, 2, '0') "
        f"ELSE {text_expr} END)"
    )


def pii_scrub(docs: DataFrame) -> DataFrame:
    """Redact emails → IPv4s → phones (in that order, so counts compose),
    reporting per-document counts and the scrubbed text. One pure-codegen
    projection; embarrassingly parallel at any scale."""
    raw = _with_synth_pii(F.col("text"), F.col("doc_id"))
    after_email = F.regexp_replace(raw, EMAIL_RE, "[EMAIL]")
    after_ip = F.regexp_replace(after_email, IPV4_RE, "[IP]")
    after_phone = F.regexp_replace(after_ip, PHONE_RE, "[PHONE]")
    return docs.select(
        "doc_id",
        F.regexp_count(raw, F.lit(EMAIL_RE)).cast("bigint").alias("n_emails"),
        F.regexp_count(after_email, F.lit(IPV4_RE)).cast("bigint").alias("n_ips"),
        F.regexp_count(after_ip, F.lit(PHONE_RE)).cast("bigint").alias("n_phones"),
        after_phone.alias("scrubbed"),
    )


def pii_scrub_sql() -> str:
    raw = _synth_pii_sql("text", "doc_id")
    after_email = f"regexp_replace({raw}, '{EMAIL_RE}', '[EMAIL]', 'g')"
    after_ip = f"regexp_replace({after_email}, '{IPV4_RE}', '[IP]', 'g')"
    after_phone = f"regexp_replace({after_ip}, '{PHONE_RE}', '[PHONE]', 'g')"
    return f"""
        SELECT doc_id,
               len(regexp_extract_all({raw}, '{EMAIL_RE}'))::BIGINT AS n_emails,
               len(regexp_extract_all({after_email}, '{IPV4_RE}'))::BIGINT AS n_ips,
               len(regexp_extract_all({after_ip}, '{PHONE_RE}'))::BIGINT AS n_phones,
               {after_phone} AS scrubbed
        FROM documents
    """


# ---------------------------------------------------------------------------
# Line-level dedup (CCNet-style first-occurrence-wins line removal)
# ---------------------------------------------------------------------------

LINE_TOKENS = 12  # synthetic "line" = 12-token chunk (corpus text has no \n)


def _line_structs(text_col: Column, chunk: int) -> Column:
    """Array of ``{li, h}`` structs: sequential ``chunk``-token slices of the
    normalized token stream, each hashed with the oracle-portable hash60.

    The parquet corpus is newline-free word soup, so "lines" are synthesized
    as fixed token windows — the plan shape (explode → first-wins on the
    line-hash key → per-doc rollup) is exactly CCNet's paragraph dedup and is
    what must survive 100 TB; the line boundary rule is a pluggable detail.
    """
    tok = tokens(F.lower(clean_text(text_col)))
    n_chunks = F.ceil(F.size(tok) / F.lit(chunk)).cast("int")
    idx = F.when(n_chunks > 0, F.sequence(F.lit(0), n_chunks - 1)).otherwise(
        F.array().cast("array<int>")
    )
    return F.transform(
        idx,
        lambda i: F.struct(
            i.alias("li"),
            hash60(
                F.array_join(F.slice(tok, i * chunk + 1, chunk), " ")
            ).alias("h"),
        ),
    )


def line_dedup(docs: DataFrame, chunk: int = LINE_TOKENS) -> DataFrame:
    """CCNet-style corpus-wide line dedup accounting, first occurrence wins.

    A line is *kept* iff its (hash60) key has not appeared earlier in the
    corpus, "earlier" being the deterministic total order (doc_id, line_idx).
    Output per document: ``n_lines``, ``n_kept``, ``dup_line_frac``.

    Plan shape at 100 TB: ONE explode of per-doc line structs → ONE shuffle
    on the 60-bit line hash (row_number window, partitioned by hash — never
    a single-partition window) → ONE per-doc rollup. Text itself never
    shuffles; only (doc_id, line_idx, hash) triples do.

    The reference has no line dedup (its dedup is the per-URL seen set,
    CrawlPaperTuoiTre.py:60-66); this follows the published CCNet recipe.
    """
    from pyspark.sql import Window

    lines = docs.select(
        "doc_id", F.explode(_line_structs(F.col("text"), chunk)).alias("s")
    ).select("doc_id", F.col("s.li").alias("li"), F.col("s.h").alias("h"))
    w = Window.partitionBy("h").orderBy("doc_id", "li")
    ranked = lines.select(
        "doc_id", (F.row_number().over(w) == 1).alias("kept")
    )
    per_doc = ranked.groupBy("doc_id").agg(
        F.count("*").alias("n_lines"),
        F.sum(F.col("kept").cast("bigint")).alias("n_kept"),
    )
    return (
        docs.select("doc_id")
        .join(per_doc, on="doc_id", how="left")
        .select(
            "doc_id",
            F.coalesce("n_lines", F.lit(0)).cast("bigint").alias("n_lines"),
            F.coalesce("n_kept", F.lit(0)).cast("bigint").alias("n_kept"),
            F.round(
                (
                    F.coalesce("n_lines", F.lit(0))
                    - F.coalesce("n_kept", F.lit(0))
                ).cast("double")
                / F.greatest(F.coalesce("n_lines", F.lit(0)), F.lit(1)),
                6,
            ).alias("dup_line_frac"),
        )
    )


def line_dedup_sql(chunk: int = LINE_TOKENS) -> str:
    tok = tokens_sql(f"lower({clean_text_sql('text')})")
    h = hash60_sql(
        f"array_to_string(tok[(i*{chunk}+1):(i*{chunk}+{chunk})], ' ')"
    )
    return f"""
        WITH toks AS (SELECT doc_id, {tok} AS tok FROM documents),
        lines AS (
            SELECT doc_id, unnest(
                list_transform(
                    range(ceil(len(tok) / {chunk}.0)::BIGINT),
                    i -> {{'li': i, 'h': {h}}}
                )) AS s
            FROM toks
        ),
        ranked AS (
            SELECT doc_id,
                   row_number() OVER (PARTITION BY s.h ORDER BY doc_id, s.li)
                       = 1 AS kept
            FROM lines
        ),
        per AS (
            SELECT doc_id, count(*) AS n_lines,
                   sum(CASE WHEN kept THEN 1 ELSE 0 END) AS n_kept
            FROM ranked GROUP BY 1
        )
        SELECT d.doc_id,
               coalesce(per.n_lines, 0)::BIGINT AS n_lines,
               coalesce(per.n_kept, 0)::BIGINT AS n_kept,
               round((coalesce(per.n_lines, 0) - coalesce(per.n_kept, 0))::DOUBLE
                     / greatest(coalesce(per.n_lines, 0), 1), 6)
                   AS dup_line_frac
        FROM documents d LEFT JOIN per USING (doc_id)
    """


# ---------------------------------------------------------------------------
# Stratified mixture sampling (deterministic data mixing)
# ---------------------------------------------------------------------------

# Target language mixture, integer parts-per-100 (integer arithmetic end to
# end so Spark and DuckDB can never disagree on a rounded quota).
MIX_WEIGHTS: dict[str, int] = {"en": 40, "zh": 20, "de": 15, "fr": 15, "es": 10}


def stratified_sample(
    docs: DataFrame, weights: dict[str, int] | None = None
) -> DataFrame:
    """Deterministic stratified sampler for training-data mixing.

    Given integer mixture weights (parts per 100) over ``lang``, find the
    largest total size N the corpus can supply at that mixture
    (``N = min_l floor(avail_l * 100 / w_l)``), set per-stratum quotas
    ``floor(w_l * N / 100)``, and keep each stratum's quota-many docs in
    hash order (hash60(doc_id || ':mix'), doc_id) — a deterministic,
    engine-portable "random" sample.

    Plan shape at 100 TB: per-stratum counts are one map-side-combined
    aggregate over ≤|langs| keys; the scalar N and the quota table are
    broadcast back (broadcast-scalar crossJoin — the repo-sanctioned
    pattern); ranking is a window partitioned by lang (never
    single-partition; stratum skew is bounded by the stratum count). Only
    (doc_id, lang, source, hash) ever shuffles — no text movement.
    """
    w = weights or MIX_WEIGHTS
    from pyspark.sql import Window

    spark = docs.sparkSession
    spine = spark.createDataFrame(
        [(k, v) for k, v in sorted(w.items())], "lang string, w int"
    )
    counts = docs.groupBy("lang").agg(F.count("*").alias("c"))
    caps = (
        spine.join(counts, on="lang", how="left")
        .select("lang", "w", F.coalesce("c", F.lit(0)).alias("c"))
        .select("lang", "w", F.expr("c * 100 div w").alias("cap"))
    )
    nmax = caps.agg(F.min("cap").alias("n"))
    quotas = caps.crossJoin(F.broadcast(nmax)).select(
        "lang", F.expr("w * n div 100").alias("quota")
    )
    rank_w = Window.partitionBy("lang").orderBy(
        hash60(F.concat(F.col("doc_id").cast("string"), F.lit(":mix"))),
        "doc_id",
    )
    ranked = (
        docs.filter(F.col("lang").isin(*w))
        .select("doc_id", "lang", "source")
        .withColumn("samp_rank", F.row_number().over(rank_w))
    )
    return ranked.join(F.broadcast(quotas), on="lang").filter(
        F.col("samp_rank") <= F.col("quota")
    ).select("doc_id", "lang", "source", "samp_rank")


def stratified_sample_sql(
    weights: dict[str, int] | None = None, table: str = "documents"
) -> str:
    """``table`` may be any relation/CTE name carrying (doc_id, lang,
    source) — the composed curation-disposition oracle points it at its
    survivors CTE."""
    w = weights or MIX_WEIGHTS
    vals = ", ".join(f"('{k}', {v})" for k, v in sorted(w.items()))
    langs = ", ".join(f"'{k}'" for k in sorted(w))
    h = hash60_sql("doc_id::VARCHAR || ':mix'")
    return f"""
        WITH wt(lang, w) AS (VALUES {vals}),
        c AS (SELECT lang, count(*) AS c FROM {table} GROUP BY 1),
        caps AS (
            SELECT wt.lang, wt.w, coalesce(c.c, 0) * 100 // wt.w AS cap
            FROM wt LEFT JOIN c USING (lang)
        ),
        q AS (
            SELECT lang, w * (SELECT min(cap) FROM caps) // 100 AS quota
            FROM caps
        ),
        r AS (
            SELECT doc_id, lang, source,
                   row_number() OVER (
                       PARTITION BY lang ORDER BY {h}, doc_id) AS samp_rank
            FROM {table} WHERE lang IN ({langs})
        )
        SELECT r.doc_id, r.lang, r.source, r.samp_rank::INT AS samp_rank
        FROM r JOIN q USING (lang)
        WHERE r.samp_rank <= q.quota
    """


# ---------------------------------------------------------------------------
# Repetition statistics (Gopher-style repetition signals)
# ---------------------------------------------------------------------------

def repetition_stats(docs: DataFrame) -> DataFrame:
    """Per-document repetition signals over normalized lowercase tokens:

    - ``top_token_frac``  — most frequent token count / total tokens
    - ``top_2gram_frac``  — most frequent 2-gram count / total 2-grams
    - ``dup_2gram_frac``  — fraction of 2-gram occurrences whose gram
      appears more than once
    - ``dup_3gram_frac``  — same for 3-grams
    - ``flagged``         — Gopher-style gate (top-2-gram > 0.20 or
      duplicate-3-gram > 0.30)

    All gram sizes ride ONE tagged explode → one shuffle on
    (doc_id, n, gram) with map-side combine → one per-doc rollup; docs too
    short for a gram size get 0.0 (left join from the doc spine).
    """
    tok = tokens(F.lower(clean_text(F.col("text"))))

    def tag(arr: Column, n: int) -> Column:
        # closure factory: PySpark HOF lambdas must be single-arg
        return F.transform(arr, lambda g: F.struct(F.lit(n).alias("n"), g.alias("g")))

    tagged = F.concat(
        tag(tok, 1), tag(word_shingles(tok, 2), 2), tag(word_shingles(tok, 3), 3)
    )
    grams = docs.select(
        "doc_id", F.explode(tagged).alias("t")
    ).select("doc_id", F.col("t.n").alias("n"), F.col("t.g").alias("g"))
    per_gram = grams.groupBy("doc_id", "n", "g").agg(F.count("*").alias("c"))

    def _tot(n: int) -> Column:
        # coalesce BEFORE greatest: Spark and DuckDB disagree on whether
        # greatest() ignores NULL arguments, so never hand it one
        return F.coalesce(F.sum(F.when(F.col("n") == n, F.col("c"))), F.lit(0))

    def _top_frac(n: int) -> Column:
        return F.round(
            F.max(F.when(F.col("n") == n, F.col("c"))).cast("double")
            / F.greatest(_tot(n), F.lit(1)),
            6,
        )

    def _dup_frac(n: int) -> Column:
        dup = F.sum(F.when((F.col("n") == n) & (F.col("c") > 1), F.col("c")))
        return F.round(
            F.coalesce(dup, F.lit(0)).cast("double") / F.greatest(_tot(n), F.lit(1)), 6
        )

    per_doc = per_gram.groupBy("doc_id").agg(
        F.coalesce(_tot(1), F.lit(0)).cast("bigint").alias("n_tokens"),
        F.coalesce(_top_frac(1), F.lit(0.0)).alias("top_token_frac"),
        F.coalesce(_top_frac(2), F.lit(0.0)).alias("top_2gram_frac"),
        _dup_frac(2).alias("dup_2gram_frac"),
        _dup_frac(3).alias("dup_3gram_frac"),
    )
    return (
        docs.select("doc_id")
        .join(per_doc, on="doc_id", how="left")
        .select(
            "doc_id",
            F.coalesce("n_tokens", F.lit(0)).cast("bigint").alias("n_tokens"),
            *[
                F.coalesce(c, F.lit(0.0)).alias(c)
                for c in (
                    "top_token_frac",
                    "top_2gram_frac",
                    "dup_2gram_frac",
                    "dup_3gram_frac",
                )
            ],
            (
                (F.coalesce(F.col("top_2gram_frac"), F.lit(0.0)) > 0.20)
                | (F.coalesce(F.col("dup_3gram_frac"), F.lit(0.0)) > 0.30)
            ).alias("flagged"),
        )
    )


def repetition_stats_sql() -> str:
    tok = tokens_sql(f"lower({clean_text_sql('text')})")

    def cte(n: int) -> str:
        grams = tok if n == 1 else word_shingles_sql(tok, n)
        return f"""
        g{n} AS (
            SELECT doc_id, g, count(*) AS c
            FROM (SELECT doc_id, unnest({grams}) AS g FROM documents)
            GROUP BY 1, 2
        ),
        a{n} AS (
            SELECT doc_id, sum(c) AS tot, max(c) AS top,
                   sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup
            FROM g{n} GROUP BY 1
        )"""

    return f"""
        WITH {cte(1)}, {cte(2)}, {cte(3)}
        SELECT d.doc_id,
               coalesce(a1.tot, 0)::BIGINT AS n_tokens,
               coalesce(round(a1.top::DOUBLE / greatest(a1.tot, 1), 6), 0.0) AS top_token_frac,
               coalesce(round(a2.top::DOUBLE / greatest(a2.tot, 1), 6), 0.0) AS top_2gram_frac,
               coalesce(round(a2.dup::DOUBLE / greatest(a2.tot, 1), 6), 0.0) AS dup_2gram_frac,
               coalesce(round(a3.dup::DOUBLE / greatest(a3.tot, 1), 6), 0.0) AS dup_3gram_frac,
               (coalesce(round(a2.top::DOUBLE / greatest(a2.tot, 1), 6), 0.0) > 0.20
                OR coalesce(round(a3.dup::DOUBLE / greatest(a3.tot, 1), 6), 0.0) > 0.30)
                   AS flagged
        FROM documents d
        LEFT JOIN a1 USING (doc_id)
        LEFT JOIN a2 USING (doc_id)
        LEFT JOIN a3 USING (doc_id)
    """


# ---------------------------------------------------------------------------
# Duplicate-span detection (exact substring dedup, Lee et al. 2022)
# ---------------------------------------------------------------------------

SPAN_NGRAM = 8  # a span is duplicated if covered by a repeated 8-token gram


def dup_spans(docs: DataFrame, k: int = SPAN_NGRAM) -> DataFrame:
    """Exact substring-level dedup accounting ("Deduplicating Training Data
    Makes Language Models Better", Lee et al. 2022): find, per document, the
    maximal token spans covered by some ``k``-gram that occurs more than once
    anywhere in the corpus (including elsewhere in the same document). This
    is the span granularity between doc-level exact dedup (operators/dedup.py)
    and CCNet line dedup (``line_dedup``): boilerplate banners, quoted
    passages and templated paragraphs surface as spans even when the
    documents containing them are globally unique.

    Published implementations build a corpus suffix array; the Spark-native
    equivalent replaces it with the gram-anchor formulation — every repeated
    substring of length >= k is exactly a run of repeated k-grams at unit
    stride, so maximal duplicated spans are recoverable relationally:

    1. one posexplode of per-doc k-grams -> ``(doc_id, pos, hash60(gram))``;
    2. duplicated-gram membership via ``count(*) over (partition by h) >=
       2`` — the line_dedup idiom: ONE shuffle of the triples on the gram
       key and the membership test rides it, instead of a groupBy plus a
       join back that would re-run the interpreted shingle HOF over the
       whole corpus a second time (CLAUDE.md multi-reference invariant).
       Membership only, no pair formation, so no max_df cap is needed (a
       gram seen a billion times is still one key, one window group);
    3. gaps-and-islands per document: anchor positions p and q (q > p)
       belong to one span iff ``q - p <= k`` (their k-token windows overlap
       or touch), detected with lag + running sum over a window partitioned
       by ``doc_id`` — never a single-partition window;
    4. per-island extents (``span_start = min(p)``, ``span_end =
       max(p)+k-1``) -> one per-doc rollup joined onto the doc spine.

    Text never shuffles — only ``(doc_id, pos, h)`` triples; both shuffles
    (gram key, then doc_id) carry 20-byte rows. Output per document:
    ``n_tokens``, ``n_spans``, ``dup_tokens`` (tokens inside duplicated
    spans), ``longest_span``, ``dup_frac``; docs shorter than ``k`` tokens
    or with no repeated gram report zeros.

    The reference dedups only whole URLs (CrawlPaperTuoiTre.py:60-66); this
    is the published substring recipe its training-data consumers need.
    """
    from pyspark.sql import Window

    from web_scraper_spark.operators.dedup import _fan_out

    tok = tokens(F.lower(clean_text(F.col("text"))))
    grams = _fan_out(docs.select("doc_id", "text")).select(
        "doc_id", F.posexplode(word_shingles(tok, k)).alias("pos", "g")
    ).select("doc_id", "pos", hash60(F.col("g")).alias("h"))
    anchors = (
        grams.withColumn("c", F.count("*").over(Window.partitionBy("h")))
        .filter(F.col("c") >= 2)
        .select("doc_id", "pos")
    )

    w = Window.partitionBy("doc_id").orderBy("pos")
    marked = anchors.select(
        "doc_id",
        "pos",
        F.when(F.col("pos") - F.lag("pos").over(w) <= k, F.lit(0))
        .otherwise(F.lit(1))
        .alias("brk"),
    )
    islands = marked.select(
        "doc_id",
        "pos",
        F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("isl"),
    )
    spans = islands.groupBy("doc_id", "isl").agg(
        (F.max("pos") + k - F.min("pos")).cast("bigint").alias("span_len")
    )
    per_doc = spans.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_spans"),
        F.sum("span_len").cast("bigint").alias("dup_tokens"),
        F.max("span_len").cast("bigint").alias("longest_span"),
    )
    spine = docs.select(
        "doc_id", F.size(tok).cast("bigint").alias("n_tokens")
    )
    return (
        spine.join(per_doc, on="doc_id", how="left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("n_spans", F.lit(0)).cast("bigint").alias("n_spans"),
            F.coalesce("dup_tokens", F.lit(0)).cast("bigint").alias("dup_tokens"),
            F.coalesce("longest_span", F.lit(0)).cast("bigint").alias("longest_span"),
            F.round(
                F.coalesce("dup_tokens", F.lit(0)).cast("double")
                / F.greatest(F.col("n_tokens"), F.lit(1)),
                6,
            ).alias("dup_frac"),
        )
    )


def dup_spans_sql(k: int = SPAN_NGRAM) -> str:
    tok = tokens_sql(f"lower({clean_text_sql('text')})")
    h = hash60_sql(f"array_to_string(tok[i:i+{k - 1}], ' ')")
    return f"""
        WITH toks AS (SELECT doc_id, {tok} AS tok FROM documents),
        grams AS (
            SELECT doc_id, s.pos AS pos, s.h AS h
            FROM (
                SELECT doc_id, unnest(
                    CASE WHEN len(tok) < {k} THEN [] ELSE
                        list_transform(
                            generate_series(1, len(tok) - {k - 1}),
                            i -> {{'pos': i - 1, 'h': {h}}})
                    END) AS s
                FROM toks
            )
        ),
        dup_keys AS (SELECT h FROM grams GROUP BY 1 HAVING count(*) >= 2),
        anchors AS (SELECT doc_id, pos FROM grams SEMI JOIN dup_keys USING (h)),
        marked AS (
            SELECT doc_id, pos,
                   CASE WHEN pos - lag(pos) OVER (
                       PARTITION BY doc_id ORDER BY pos) <= {k}
                   THEN 0 ELSE 1 END AS brk
            FROM anchors
        ),
        islands AS (
            SELECT doc_id, pos,
                   sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
                                  ROWS UNBOUNDED PRECEDING) AS isl
            FROM marked
        ),
        spans AS (
            SELECT doc_id, isl, (max(pos) + {k} - min(pos))::BIGINT AS span_len
            FROM islands GROUP BY 1, 2
        ),
        per AS (
            SELECT doc_id, count(*)::BIGINT AS n_spans,
                   sum(span_len)::BIGINT AS dup_tokens,
                   max(span_len)::BIGINT AS longest_span
            FROM spans GROUP BY 1
        )
        SELECT t.doc_id,
               len(t.tok)::BIGINT AS n_tokens,
               coalesce(per.n_spans, 0)::BIGINT AS n_spans,
               coalesce(per.dup_tokens, 0)::BIGINT AS dup_tokens,
               coalesce(per.longest_span, 0)::BIGINT AS longest_span,
               round(coalesce(per.dup_tokens, 0)::DOUBLE
                     / greatest(len(t.tok), 1), 6) AS dup_frac
        FROM toks t LEFT JOIN per USING (doc_id)
    """


def strip_dup_spans(docs: DataFrame, k: int = SPAN_NGRAM) -> DataFrame:
    """The Lee et al. 2022 exact-substring dedup as a TRANSFORMATION:
    rewrite every document with the duplicated spans removed, keeping only
    the corpus-first occurrence of each repeated ``k``-gram (``dup_spans``
    is the accounting twin; this one produces the cleaned training text).

    First-wins is the deterministic total order (doc_id, pos): for each
    gram key the earliest anchor survives, every later occurrence marks
    its k-token window for removal — so a passage shared by N documents
    survives once (in the lowest-doc_id host), and a within-document
    repeat keeps its first copy. The anchor rank is a ``row_number`` over
    the gram-key window riding the SAME single hash shuffle as
    ``dup_spans``'s membership count (rank > 1 ⟺ duplicated-and-not-first;
    the interpreted shingle HOF still runs exactly once over the corpus).

    Removal is token-granular and fully relational — text reassembly is
    the only stage where token text itself shuffles (inherent to any
    rewrite), and it shuffles exactly once, co-partitioned on doc_id:

    1. dup anchors (rank > 1) -> gaps-and-islands -> per-doc spans
       (start, end) exactly as in ``dup_spans``;
    2. spans -> ``explode(sequence(start, end))`` -> the distinct
       (doc_id, idx) removed-token set (distinct is needed only across
       islands, which never overlap, so it is a no-op dedup kept for
       safety — co-partitioned with the token side);
    3. tokens posexploded to (doc_id, pos, tok) LEFT ANTI JOIN the
       removed set on (doc_id, pos) — both sides hash-partitioned the
       same way;
    4. one groupBy(doc_id) reassembly: ``array_sort(collect_list(
       struct(pos, tok)))`` then a projection transform + concat_ws — the
       engine-portable ordered string_agg.

    Gram matching is case-insensitive (lowered, like ``dup_spans``);
    the reassembled text preserves the ORIGINAL token case — positions
    align because lowering never changes whitespace. Output per document:
    ``n_tokens``, ``n_removed``, ``text_clean`` (cleaned original-case
    text, '' when everything was removed or the doc was empty).

    The reference dedups only whole URLs (CrawlPaperTuoiTre.py:60-66).
    """
    from pyspark.sql import Window

    from web_scraper_spark.operators.dedup import _fan_out

    tok_orig = tokens(clean_text(F.col("text")))
    base = _fan_out(docs.select("doc_id", "text"))
    grams = base.select(
        "doc_id",
        F.posexplode(word_shingles(F.transform(tok_orig, F.lower), k)).alias(
            "pos", "g"
        ),
    ).select("doc_id", "pos", hash60(F.col("g")).alias("h"))
    dup_anchors = (
        grams.withColumn(
            "rn",
            F.row_number().over(Window.partitionBy("h").orderBy("doc_id", "pos")),
        )
        .filter(F.col("rn") > 1)
        .select("doc_id", "pos")
    )

    w = Window.partitionBy("doc_id").orderBy("pos")
    islands = dup_anchors.select(
        "doc_id",
        "pos",
        F.sum(
            F.when(F.col("pos") - F.lag("pos").over(w) <= k, F.lit(0))
            .otherwise(F.lit(1))
        )
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("isl"),
    )
    spans = islands.groupBy("doc_id", "isl").agg(
        F.min("pos").alias("start"), (F.max("pos") + k - 1).alias("end")
    )
    removed = spans.select(
        "doc_id", F.explode(F.sequence("start", "end")).alias("pos")
    ).distinct()

    toks = base.select(
        "doc_id", F.posexplode(tok_orig).alias("pos", "tok")
    )
    kept = toks.join(removed, on=["doc_id", "pos"], how="left_anti")
    rebuilt = kept.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_kept"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda s: s["tok"],
            ),
        ).alias("text_clean"),
    )
    spine = docs.select(
        "doc_id", F.size(tok_orig).cast("bigint").alias("n_tokens")
    )
    return (
        spine.join(rebuilt, on="doc_id", how="left")
        .select(
            "doc_id",
            "n_tokens",
            (F.col("n_tokens") - F.coalesce("n_kept", F.lit(0)))
            .cast("bigint")
            .alias("n_removed"),
            F.coalesce("text_clean", F.lit("")).alias("text_clean"),
        )
    )


def strip_dup_spans_sql(k: int = SPAN_NGRAM) -> str:
    tok = tokens_sql(clean_text_sql("text"))
    h = hash60_sql(f"lower(array_to_string(tok[i:i+{k - 1}], ' '))")
    return f"""
        WITH toks AS (SELECT doc_id, {tok} AS tok FROM documents),
        grams AS (
            SELECT doc_id, s.pos AS pos, s.h AS h
            FROM (
                SELECT doc_id, unnest(
                    CASE WHEN len(tok) < {k} THEN [] ELSE
                        list_transform(
                            generate_series(1, len(tok) - {k - 1}),
                            i -> {{'pos': i - 1, 'h': {h}}})
                    END) AS s
                FROM toks
            )
        ),
        dup_anchors AS (
            SELECT doc_id, pos FROM (
                SELECT doc_id, pos,
                       row_number() OVER (PARTITION BY h
                                          ORDER BY doc_id, pos) AS rn
                FROM grams
            ) WHERE rn > 1
        ),
        marked AS (
            SELECT doc_id, pos,
                   CASE WHEN pos - lag(pos) OVER (
                       PARTITION BY doc_id ORDER BY pos) <= {k}
                   THEN 0 ELSE 1 END AS brk
            FROM dup_anchors
        ),
        islands AS (
            SELECT doc_id, pos,
                   sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
                                  ROWS UNBOUNDED PRECEDING) AS isl
            FROM marked
        ),
        spans AS (
            SELECT doc_id, isl, min(pos) AS s, max(pos) + {k - 1} AS e
            FROM islands GROUP BY 1, 2
        ),
        removed AS (
            SELECT DISTINCT doc_id, unnest(generate_series(s, e)) AS pos
            FROM spans
        ),
        tokp AS (
            SELECT doc_id, u.p - 1 AS pos, tok[u.p] AS tk
            FROM toks, unnest(generate_series(1, len(tok))) AS u(p)
        ),
        kept AS (
            SELECT doc_id, pos, tk FROM tokp
            ANTI JOIN removed USING (doc_id, pos)
        ),
        rebuilt AS (
            SELECT doc_id, count(*)::BIGINT AS n_kept,
                   string_agg(tk, ' ' ORDER BY pos) AS text_clean
            FROM kept GROUP BY 1
        )
        SELECT t.doc_id,
               len(t.tok)::BIGINT AS n_tokens,
               (len(t.tok) - coalesce(r.n_kept, 0))::BIGINT AS n_removed,
               coalesce(r.text_clean, '') AS text_clean
        FROM toks t LEFT JOIN rebuilt r USING (doc_id)
    """


# ---------------------------------------------------------------------------
# Domain-level triage (RefinedWeb/C4-style per-source rollup)
# ---------------------------------------------------------------------------

DOMAIN_MIN_QUALITY = 0.5   # flag sources whose mean quality falls below
DOMAIN_MAX_DUP_FRAC = 0.5  # ... or more than half of whose docs are clones


def domain_stats(docs: DataFrame) -> DataFrame:
    """Per-``source`` (host/domain) curation rollup — the published
    pipelines' *domain*-granular filtering stage (C4's blocklist,
    RefinedWeb's per-domain heuristics): individual-document rules miss
    systematically bad hosts (mirror farms, template sites, SEO spam)
    whose every page narrowly passes, while the host-level aggregate is
    unmistakable. Emits, per source: ``n_docs``, ``n_tokens`` (sum),
    ``avg_quality`` (decimal-exact mean of the C4-style per-doc score —
    double averages are summation-order dependent across engines, the
    dec_avg contract), ``dup_docs`` / ``dup_frac`` (documents whose
    normalized content hash appears more than once ANYWHERE in the
    corpus, exact_dedup's key: md5(lower(clean)) — a mirror of another
    host's page counts against both hosts), and ``flagged``.

    Plan shape: one scan -> pure-codegen (source, n_tokens, qs, h)
    projection -> the corpus-wide dup membership as ``count(*) over
    (partition by h)`` riding ONE hash shuffle (the line_dedup idiom) ->
    one map-side-combined groupBy(source). Text never shuffles; rows
    carry ~40 bytes. Sources ≪ rows, so the final aggregate is tiny.

    The reference crawls three hardcoded hosts and rates none of them
    (CrawlPaperTuoiTre.py / CrawlPaperVNExpress.py / CrawlPaperZNews.py);
    this is the rollup its 100 TB successor gates ingestion with.
    """
    from pyspark.sql import Window

    from web_scraper_spark.operators.analytics import dec_avg
    from web_scraper_spark.operators.dedup import _fan_out
    from web_scraper_spark.operators.text import quality_columns

    q = quality_columns("text")
    base = _fan_out(docs.select("source", "text")).select(
        "source",
        q["n_tokens"].alias("nt"),
        q["quality_score"].alias("qs"),
        hash60(F.lower(clean_text(F.col("text")))).alias("h"),
    )
    with_dup = base.select(
        "source",
        "nt",
        "qs",
        (F.count("*").over(Window.partitionBy("h")) > 1).alias("dup"),
    )
    return (
        with_dup.groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("nt").cast("bigint").alias("n_tokens"),
            dec_avg(F.col("qs")).alias("avg_quality"),
            F.sum(F.col("dup").cast("bigint")).cast("bigint").alias("dup_docs"),
        )
        .select(
            "source",
            "n_docs",
            "n_tokens",
            "avg_quality",
            "dup_docs",
            F.round(
                F.col("dup_docs").cast("double")
                / F.greatest(F.col("n_docs"), F.lit(1)),
                6,
            ).alias("dup_frac"),
            (
                (F.col("avg_quality") < DOMAIN_MIN_QUALITY)
                | (
                    F.col("dup_docs").cast("double")
                    / F.greatest(F.col("n_docs"), F.lit(1))
                    > DOMAIN_MAX_DUP_FRAC
                )
            ).alias("flagged"),
        )
    )


def domain_stats_sql() -> str:
    from web_scraper_spark.operators.analytics import dec_avg_sql
    from web_scraper_spark.operators.text import quality_sql

    q = quality_sql("text")
    h = hash60_sql(f"lower({clean_text_sql('text')})")
    return f"""
        WITH base AS (
            SELECT source,
                   {q['n_tokens']} AS nt,
                   {q['quality_score']} AS qs,
                   {h} AS h
            FROM documents
        ),
        with_dup AS (
            SELECT source, nt, qs,
                   count(*) OVER (PARTITION BY h) > 1 AS dup
            FROM base
        ),
        agg AS (
            SELECT source,
                   count(*)::BIGINT AS n_docs,
                   sum(nt)::BIGINT AS n_tokens,
                   {dec_avg_sql('qs')} AS avg_quality,
                   sum(CASE WHEN dup THEN 1 ELSE 0 END)::BIGINT AS dup_docs
            FROM with_dup GROUP BY 1
        )
        SELECT source, n_docs, n_tokens, avg_quality, dup_docs,
               round(dup_docs::DOUBLE / greatest(n_docs, 1), 6) AS dup_frac,
               (avg_quality < {DOMAIN_MIN_QUALITY}
                OR dup_docs::DOUBLE / greatest(n_docs, 1)
                   > {DOMAIN_MAX_DUP_FRAC}) AS flagged
        FROM agg
    """


# ---------------------------------------------------------------------------
# Per-source distribution drift (KL divergence vs the corpus)
# ---------------------------------------------------------------------------


def source_kl(docs: DataFrame) -> DataFrame:
    """KL divergence of each source's unigram token distribution from the
    corpus distribution: ``KL(source ‖ corpus) = Σ_t p_s(t) ·
    ln(p_s(t)/p_c(t))`` — the drift signal curation pipelines use to
    spot template farms, machine-generated text, and off-domain hosts
    whose per-document scores look normal but whose aggregate vocabulary
    doesn't (the CCNet/RefinedWeb domain-profiling companion to
    :func:`domain_stats`' dup/quality gate). KL ≥ 0, with 0 only when
    the source's token mix equals the corpus mix.

    Engine-portability (the lm_perplexity recipe): the ln argument is
    computed as the single product ratio ``(c_st·n)/(n_s·c_t)`` — every
    double op except ``ln`` itself is IEEE-correctly-rounded and thus
    bit-identical across engines; the lone libm call is rounded to 6 dp
    before use, and the per-term products are summed via the dec_sum
    DECIMAL(18,6) contract so summation order can't flip the rounded
    output.

    Plan shape: one explode → ONE (source, token) map-side-combined
    count; everything downstream operates on the vocabulary-sized count
    table (eager-checkpointed once — it feeds three aggregates):
    per-source totals broadcast (sources ≪ vocab), corpus term counts as
    a co-partitioned token join, the grand total a broadcast scalar.
    Text never shuffles; no frame after the first exchange scales with
    corpus size, only with vocabulary.
    """
    from web_scraper_spark.operators.analytics import dec_sum
    from web_scraper_spark.operators.dedup import _fan_out

    toks = _fan_out(docs.select("source", "text")).select(
        "source",
        F.explode(tokens(F.lower(clean_text(F.col("text"))))).alias("token"),
    )
    c_st = (
        toks.groupBy("source", "token")
        .agg(F.count("*").cast("bigint").alias("c_st"))
        .localCheckpoint(eager=True)
    )
    n_s = c_st.groupBy("source").agg(F.sum("c_st").cast("bigint").alias("n_s"))
    c_t = c_st.groupBy("token").agg(F.sum("c_st").cast("bigint").alias("c_t"))
    n_tot = n_s.agg(F.sum("n_s").cast("bigint").alias("n_tot"))
    joined = (
        c_st.join(c_t, "token")
        .join(F.broadcast(n_s), "source")
        .crossJoin(F.broadcast(n_tot))
    )
    p_s = F.col("c_st").cast("double") / F.col("n_s").cast("double")
    ratio = (F.col("c_st").cast("double") * F.col("n_tot").cast("double")) / (
        F.col("n_s").cast("double") * F.col("c_t").cast("double")
    )
    term = p_s * F.round(F.log(ratio), 6)
    return (
        joined.groupBy("source")
        .agg(
            F.max("n_s").cast("bigint").alias("n_tokens"),
            F.count("*").cast("bigint").alias("n_types"),
            dec_sum(term, 6).alias("kl_divergence"),
        )
        .select("source", "n_tokens", "n_types", "kl_divergence")
    )


def source_kl_sql() -> str:
    from web_scraper_spark.operators.analytics import dec_sum_sql

    tok = tokens_sql("lower(" + clean_text_sql("text") + ")")
    return f"""
        WITH toks AS (
            SELECT source, unnest({tok}) AS token FROM documents
        ),
        c_st AS (
            SELECT source, token, count(*)::BIGINT AS c_st
            FROM toks GROUP BY 1, 2
        ),
        n_s AS (SELECT source, sum(c_st)::BIGINT AS n_s FROM c_st GROUP BY 1),
        c_t AS (SELECT token, sum(c_st)::BIGINT AS c_t FROM c_st GROUP BY 1),
        n_tot AS (SELECT sum(n_s)::BIGINT AS n_tot FROM n_s),
        terms AS (
            SELECT source, n_s,
                   (c_st::DOUBLE / n_s::DOUBLE)
                   * round(ln((c_st::DOUBLE * n_tot::DOUBLE)
                              / (n_s::DOUBLE * c_t::DOUBLE)), 6) AS term
            FROM c_st JOIN c_t USING (token) JOIN n_s USING (source), n_tot
        )
        SELECT source,
               max(n_s)::BIGINT AS n_tokens,
               count(*)::BIGINT AS n_types,
               {dec_sum_sql('term', 6)} AS kl_divergence
        FROM terms GROUP BY 1
    """
