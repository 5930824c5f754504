"""Relational analytics operators (SURVEY.md §2) over the testdata tables.

Each function is one operator family from the reference, re-expressed as a
declarative DataFrame plan with its DuckDB-SQL oracle twin defined next to
it (in queries.py). Spark-first notes per operator are in docstrings; the
common themes:

- dimension tables (region/nation, literal maps) broadcast — no shuffle;
- every aggregation is a plain groupBy so Catalyst runs map-side partial
  aggregation (the 100 TB shape: shuffle carries partial states, not rows);
- top-k is window row_number over a groupBy'd (already reduced) frame, not
  a global sort;
- sums over integers cast to bigint/double explicitly so the oracle's
  types line up.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from web_scraper_spark.operators.dedup import posting_pairs


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# Order-insensitive money arithmetic. A double sum is summation-order
# dependent, so the same query can differ in the last bits between two
# engines (or two cluster sizes) and round(sum, 2) flips a penny when the
# true value sits on a .005 boundary. Fix: cast each term to DECIMAL(18,6)
# first — no binary double can tie at the 7th decimal (10^-7 has a 5^7
# factor, unrepresentable in base 2), so the per-row cast rounds
# identically in any engine — then sum exactly in decimal, round HALF_UP
# (Spark and DuckDB agree for decimals), and cast back to double for a
# stable output schema.

MONEY_DEC = "decimal(18,6)"


def dec_sum(expr, scale: int = 2):
    return F.round(F.sum(expr.cast(MONEY_DEC)), scale).cast("double")


def dec_sum_sql(expr: str, scale: int = 2) -> str:
    return f"round(sum(CAST({expr} AS DECIMAL(18,6))), {scale})::DOUBLE"


def dec_avg(expr, scale: int = 6):
    """avg with the division done in DECIMAL, not double: Spark's
    decimal(38,6)/decimal(20,0) adjusts to a scale-6 quotient rounded
    HALF_UP — a single exact rounding of the true rational sum/count.
    (The previous double-quotient version rounded a DOUBLE, where Spark's
    BigDecimal HALF_UP and DuckDB's scaled-multiply can disagree in the
    6th decimal on a boundary — same last-digit-flip class dec_sum kills.)"""
    return F.round(F.sum(expr.cast(MONEY_DEC)) / F.count(expr), scale).cast("double")


def dec_avg_sql(expr: str, scale: int = 6) -> str:
    """DuckDB twin. DuckDB's ``/`` on decimals returns DOUBLE, so exact
    HALF_UP decimal division is emulated in integers: numerator N =
    sum of per-row scale-6 unscaled values (HUGEINT-exact), denominator
    D = count * 10^(6-scale); HALF_UP(|N|/D) = (2|N| + D) // (2D), sign
    restored, then rebuilt as a DECIMAL at the target scale and cast to
    double — bit-identical to the Spark twin's decimal quotient."""
    assert 0 <= scale <= 6
    pow10 = 10 ** (6 - scale)
    unit = f"CAST({10 ** -scale:.{scale}f} AS DECIMAL({scale + 1},{scale}))" if scale else "1"
    n = f"sum(CAST(CAST({expr} AS DECIMAL(18,6)) * 1000000 AS BIGINT))"
    d = f"(count({expr}) * {pow10})"
    q = f"((2 * abs({n}) + {d}) // (2 * {d}))"
    val = f"(CASE WHEN {n} < 0 THEN -{q} ELSE {q} END)"
    return f"CAST(CAST({val} AS DECIMAL(31,0)) * {unit} AS DOUBLE)"


# ---------------------------------------------------------------------------
# TPC-H-shaped core (scan → filter → partial agg → shuffle agg)
# ---------------------------------------------------------------------------

def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape (A-series groupBy aggregate; SURVEY A11 counts).

    The scan should show PushedFilters on l_shipdate and a ReadSchema of
    only the 7 needed columns; the agg is 2-phase (partial_ + final)."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("date"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast(MONEY_DEC)).cast("double").alias("sum_qty"),
            F.sum(F.col("l_extendedprice").cast(MONEY_DEC)).cast("double").alias("sum_base_price"),
            dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("sum_disc_price"),
            dec_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))
            ).alias("sum_charge"),
            dec_avg(F.col("l_quantity")).alias("avg_qty"),
            dec_avg(F.col("l_extendedprice")).alias("avg_price"),
            dec_avg(F.col("l_discount")).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: 3-way join + agg + top-10 (J-series + T-series).

    customer is the small side → broadcast; orders⋈lineitem shuffles on
    o_orderkey (the natural co-partition key at scale)."""
    cust = load(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    orders = load(spark, sf_dir, "orders").where(F.col("o_orderdate") < F.lit("1998-03-15").cast("date"))
    li = load(spark, sf_dir, "lineitem").where(F.col("l_shipdate") > F.lit("1998-03-15").cast("date"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


def q5_local_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: snowflake join through region→nation→(cust,supp).

    region/nation broadcast (tiny dims); the c_nationkey = s_nationkey
    residual keeps only 'local' supply — Catalyst pushes it into the join."""
    region = load(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    nation = load(spark, sf_dir, "nation")
    cust = load(spark, sf_dir, "customer")
    supp = load(spark, sf_dir, "supplier")
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, (li.l_suppkey == supp.s_suppkey) & (cust.c_nationkey == supp.s_nationkey))
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("nation").asc())
    )


# ---------------------------------------------------------------------------
# Window / top-k / rollup (SURVEY A1-A2, T1-T3, §2.6 grain note)
# ---------------------------------------------------------------------------

def top3_parts_per_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2/T2 shape (Counter.most_common(3), ConnectAndSave.py:144):
    groupBy first (reduce), THEN window-rank the reduced frame — the rank
    shuffle carries one row per (supplier, part), never raw lineitems."""
    li = load(spark, sf_dir, "lineitem")
    per = li.groupBy("l_suppkey", "l_partkey").agg(
        dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue")
    )
    w = Window.partitionBy("l_suppkey").orderBy(F.col("revenue").desc(), F.col("l_partkey").asc())
    return (
        per.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select("l_suppkey", "l_partkey", "revenue", F.col("rank").cast("int").alias("rank"))
    )


def top_category_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/T1 (value_counts().index[0], ConnectAndSave.py:134-135):
    max_by over counted pairs with a deterministic tie-break."""
    docs = load(spark, sf_dir, "documents")
    counts = docs.groupBy("lang", "source").agg(F.count("*").alias("n"))
    w = Window.partitionBy("lang").orderBy(F.col("n").desc(), F.col("source").asc())
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("lang", F.col("source").alias("top_source"), F.col("n").alias("n_docs"))
    )


def rollup_order_grains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.6: the reference reruns the same aggregation at month/week/
    quarter/year grains (ConnectAndSave.py:160,316,451,606); the engine is
    ONE rollup — Spark computes all grains in a single pass."""
    orders = load(spark, sf_dir, "orders")
    return (
        orders.withColumn("yr", F.year("o_orderdate"))
        .withColumn("qtr", F.quarter("o_orderdate"))
        .rollup("yr", "qtr")
        .agg(
            F.count("*").alias("n_orders"),
            dec_sum(F.col("o_totalprice")).alias("total_price"),
        )
        .select(
            F.coalesce(F.col("yr"), F.lit(-1)).alias("yr"),
            F.coalesce(F.col("qtr"), F.lit(-1)).alias("qtr"),
            "n_orders",
            "total_price",
        )
    )


def slot_window_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2/ST1: the reference's 3-hour crawl slots (CrawlPaperTuoiTre.py:
    21-27, actions.yml cron) as a tumbling window aggregation."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "3 hours").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            dec_sum(F.col("value")).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("slot_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def date_parts_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5 (dt.year/.month/.day, ConnectAndSave.py:67-69)."""
    orders = load(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            F.year("o_orderdate").alias("yr"),
            F.month("o_orderdate").alias("mth"),
        )
        .agg(F.count("*").alias("n_orders"))
    )


# ---------------------------------------------------------------------------
# Dedup-gate / union / id-assignment shapes (J1, U1, X15)
# ---------------------------------------------------------------------------

def seen_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1/F1 — the central dedup gate as a left_anti equi-join. The 'seen'
    side here is a filter of the same table; in the crawl engine it is the
    bucketed seen table + Bloom pre-filter (frontier/engine.py)."""
    ev = load(spark, sf_dir, "events")
    seen = ev.where(F.col("event_id") % 7 == 0).select("event_id")
    return (
        ev.join(seen, on="event_id", how="left_anti")
        .groupBy("event_type")
        .agg(F.count("*").alias("n_unseen"))
    )


def multi_source_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1 (SummaryPaper.py:36-44): per-source frames union'd with a tag.
    unionByName is a zero-shuffle concatenation of partitions."""
    docs = load(spark, sf_dir, "documents")
    a = docs.where(F.col("source") == "src0").withColumn("feed", F.lit("feed_a"))
    b = docs.where(F.col("source") == "src1").withColumn("feed", F.lit("feed_b"))
    c = docs.where(F.col("lang") == "zh").withColumn("feed", F.lit("feed_zh"))
    return (
        a.unionByName(b)
        .unionByName(c)
        .groupBy("feed")
        .agg(F.count("*").alias("n_docs"), F.sum("n_chars").cast("bigint").alias("total_chars"))
    )


def assign_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X15 (preprocessing_extract_entity.py:552-613): the reference's
    stateful per-row id counter becomes a deterministic global rank over a
    total order + max(existing)+offset — same ids on any cluster size.
    The rank is the two-phase construction (operators/ranking.py), not a
    single-partition global window. Docs with doc_id % 3 == 0 play the
    'already registered' set."""
    from web_scraper_spark.operators.ranking import with_global_rank

    docs = load(spark, sf_dir, "documents")
    existing = docs.where(F.col("doc_id") % 3 == 0).select(
        "doc_id", F.col("doc_id").cast("bigint").alias("assigned_id")
    )
    base = existing.agg(F.max("assigned_id")).collect()[0][0] or 0
    new = docs.join(existing.select("doc_id"), on="doc_id", how="left_anti")
    ranked, _handle = with_global_rank(new, [F.col("doc_id").asc()], "_rank")
    new_ids = ranked.select(
        "doc_id",
        (F.col("_rank") + F.lit(base)).cast("bigint").alias("assigned_id"),
    )
    return existing.unionByName(new_ids)


def md5_cache_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S13/X13 (get_data_hash, ConnectAndSave.py:122-123): order-insensitive
    content hash per group = md5 over the sorted concatenation."""
    docs = load(spark, sf_dir, "documents")
    return (
        docs.groupBy("source")
        .agg(
            F.md5(F.concat_ws("|", F.sort_array(F.collect_list(F.md5("text"))))).alias("cache_key"),
            F.count("*").alias("n_docs"),
        )
    )


# ---------------------------------------------------------------------------
# Token / entity shapes over documents (F10, F11, A3-A6, J5, J6)
# ---------------------------------------------------------------------------

def _doc_tokens(docs: DataFrame) -> DataFrame:
    from web_scraper_spark.operators.text import clean_text, tokens

    return docs.select(
        "doc_id", F.explode(tokens(clean_text(F.col("text")))).alias("token")
    )


def entity_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 + F11 (value_counts + MIN_FREQUENCY,
    preprocessing_extract_entity.py:515-527): global counts, min-freq gate."""
    docs = load(spark, sf_dir, "documents")
    return (
        _doc_tokens(docs)
        .groupBy("token")
        .agg(F.count("*").alias("freq"), F.countDistinct("doc_id").alias("n_docs"))
        .where(F.col("freq") >= 50)
    )


def valid_entity_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F10 (is_valid_entity, preprocessing_extract_entity.py:145-183):
    the 8-rule conjunctive predicate as one native boolean Column chain."""
    from web_scraper_spark.operators.text import EN_STOPWORDS

    docs = load(spark, sf_dir, "documents")
    tok = _doc_tokens(docs).select("doc_id", "token").distinct()
    t = F.col("token")
    # repeated-single-char test without a regex backreference (the DuckDB
    # oracle's RE2 engine has none): token == first-char repeated len times
    repeated = t == F.expr("repeat(substring(token, 1, 1), length(token))")
    valid = (
        (F.length(t) >= 2)
        & (F.length(t) <= 100)
        & t.rlike("[A-Za-z]")
        & ~t.rlike("^[0-9]+$")
        & ~repeated
        & ~F.lower(t).isin(EN_STOPWORDS)
    )
    return (
        tok.where(valid)
        .groupBy("token")
        .agg(F.count("*").alias("n_docs"))
    )


def sentence_entity_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5 + A6 (combinations(entities, 2) per sentence,
    relation_extraction.py:260-286): unordered co-occurrence pairs via
    dedup.posting_pairs over the distinct (doc, token) index, doc as the
    key and no cap. Top pairs by support."""
    docs = load(spark, sf_dir, "documents")
    tok = _doc_tokens(docs).distinct()
    return posting_pairs(tok, "doc_id", "token").select(
        F.col("a").alias("e1"), F.col("b").alias("e2"), F.col("n_common").alias("support")
    ).where(F.col("support") >= 100)


def stopword_semijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6 (all-stopword entity test, preprocessing_extract_entity.py:139-143):
    size(array_except(tokens, stopwords)) == 0 with a broadcast-literal
    stopword array — counts docs that are pure stopword soup."""
    from web_scraper_spark.operators.text import EN_STOPWORDS, clean_text, tokens

    docs = load(spark, sf_dir, "documents")
    stop = F.array(*[F.lit(s) for s in EN_STOPWORDS])
    tok = tokens(clean_text(F.col("text")))
    n_nonstop = F.size(F.array_except(tok, stop))
    return docs.select(
        "doc_id", (n_nonstop == 0).alias("all_stopwords"), n_nonstop.alias("n_nonstop_kinds")
    )


def relation_sanitize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X12 (sanitize_relationship_type, relation_extraction.py:200-215):
    uppercase, non-alnum → '_', 'REL_' prefix when digit-led."""
    ev = load(spark, sf_dir, "events")
    raw = F.concat_ws("-", F.col("event_type"), (F.col("event_id") % 3).cast("string"))
    up = F.upper(F.regexp_replace(raw, "[^a-zA-Z0-9_]", "_"))
    rel = F.when(up.rlike("^[0-9]"), F.concat(F.lit("REL_"), up)).otherwise(up)
    return ev.select(F.col("event_id"), rel.alias("rel_type"))


def pagination_expand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H6 (pagination synthesis, CrawlPaperVNExpress.py:222-235):
    sequence + explode generates rows without fetching — the lateral
    row-generator shape."""
    supp = load(spark, sf_dir, "supplier")
    last_page = (F.col("s_suppkey") % 5 + 1).cast("int")
    return (
        supp.select("s_suppkey", F.explode(F.sequence(F.lit(1), last_page)).alias("page_no"))
        .withColumn("page_url", F.concat(F.lit("https://example.com/s/"), F.col("s_suppkey"), F.lit("-p"), F.col("page_no")))
    )


def case_insensitive_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 (keep the capitalized variant per lower(entity),
    preprocessing_extract_entity.py:300-321). Case variants synthesized
    deterministically (initcap on odd doc_ids) since the corpus is
    lowercase; the operator is the window-rank-1 shape."""
    docs = load(spark, sf_dir, "documents")
    tok = _doc_tokens(docs).select(
        "doc_id",
        F.when(F.col("doc_id") % 2 == 1, F.initcap("token")).otherwise(F.col("token")).alias("entity"),
    ).distinct()
    w = Window.partitionBy(F.lower(F.col("entity"))).orderBy(
        F.when(F.col("entity").rlike("^[A-Z]"), 0).otherwise(1), F.col("entity").asc()
    )
    return (
        tok.select("entity").distinct()
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(F.col("entity").alias("canonical_entity"))
    )
