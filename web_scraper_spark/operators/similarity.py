"""Approximate-nearest-neighbor search over an embedding column.

Two paths:
- brute_topk: exact cosine top-k (the correctness baseline; also the right
  plan when the query set is small — queries broadcast, one pass over the
  corpus, per-partition top-k via window rank under AQE).
- lsh_ann: random-hyperplane LSH (SimHash-for-vectors). Each vector gets a
  B-bit signature (sign of <v, h_p> for B deterministic pseudo-random
  hyperplanes); vectors sharing a signature bucket are candidates, scored
  exactly within the bucket. At 10^9 vectors the bucket join replaces the
  O(n*q) scan with O(bucket-size * q); multiple independent tables
  (``n_tables``) recover recall the way standard LSH theory prescribes.

The hyperplanes are hash-derived (hash60 of (table, plane, dim) mapped to
[-1000, 1000] / 1000), so the DuckDB oracle can reproduce the exact same
planes — no RNG state, no numpy on the driver, deterministic across
engines and cluster sizes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from web_scraper_spark.operators.dedup import cosine_expr, cosine_sql, posting_pairs

N_PLANES = 8


def brute_topk(emb: DataFrame, n_queries: int = 5, k: int = 10) -> DataFrame:
    """Exact top-k neighbors for each query vector (vec_id < n_queries).

    The query side is dimension-sized → broadcast, so the only shuffle is
    the final per-query top-k (a window over rank, partial top-k pushed
    map-side by AQE's partial aggregation of sort-limit).
    """
    q = emb.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("qv"),
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").cast("array<double>").alias("cv"),
    )
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos_sim", cosine_expr(F.col("qv"), F.col("cv")))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", F.col("rank").cast("int").alias("rank"))
    )


def brute_topk_sql(table: str = "embeddings", n_queries: int = 5, k: int = 10) -> str:
    cos = cosine_sql("q.embedding", "c.embedding")
    return f"""
        WITH scored AS (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, {cos} AS cos_sim
            FROM {table} q JOIN {table} c ON q.vec_id != c.vec_id
            WHERE q.vec_id < {n_queries}
        )
        SELECT query_id, neighbor_id, cos_sim, rank::INT AS rank FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC
            ) AS rank
            FROM scored
        ) WHERE rank <= {k}
    """


def brute_topk_blocked(emb: DataFrame, n_queries: int = 5, k: int = 10) -> DataFrame:
    """numpy block-matmul fast path for exact top-k, fold-exact verified.

    The expression-fold cosine (brute_topk) evaluates 64 multiply-adds per
    pair inside codegen — correct but scalar. Stage 1 broadcasts the (tiny)
    normalized query matrix into an Arrow mapInPandas stage and computes
    Q @ X_block.T per record batch with BLAS, emitting each batch's local
    top-k CANDIDATE ids with a tie margin: every neighbor within 2e-6 of
    the batch's kth BLAS score. The margin dominates both the BLAS-vs-fold
    reordering error (~1e-13) and the 6-dp rounding step (5e-7), so any
    neighbor that could outrank the kth under the fold's rounded score is
    retained. Stage 2 re-scores the (batches x q x ~k)-bounded candidate
    set with the sequential fold expression (cosine_expr) and takes the
    global top-k — emitted values are bit-identical to brute_topk, so the
    same DuckDB oracle (brute_topk_sql) verifies this path value-exactly.
    ~50-100x the all-pairs fold's throughput: the O(n*q) arithmetic runs in
    BLAS; the fold only touches the candidate sliver.
    """
    import numpy as np
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    q_rows = (
        emb.where(F.col("vec_id") < n_queries)
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
        .collect()
    )
    q_ids = np.array([r["vec_id"] for r in q_rows])
    Q = np.array([r["v"] for r in q_rows])
    # same zero-norm guard as the corpus side: a degenerate all-zero query
    # must yield 0.0 sims (candidates still emitted, matching brute_topk's
    # shape), not a NaN row that would filter every candidate out
    Q = Q / np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-12)
    margin = 2e-6

    def batches(it):
        import pandas as pd

        for pdf in it:
            X = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            ids = pdf["vec_id"].to_numpy()
            X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
            sims = Q @ X.T  # (q, batch)
            out = []
            for qi, qid in enumerate(q_ids):
                row = sims[qi]
                mask = ids != qid
                cand_sims = row[mask]
                cand_ids = ids[mask]
                if len(cand_sims) == 0:
                    continue
                if len(cand_sims) > k:
                    kth = np.partition(cand_sims, -k)[-k]
                    keep = cand_sims >= kth - margin
                    cand_ids = cand_ids[keep]
                for cid in cand_ids:
                    out.append((int(qid), int(cid)))
            yield pd.DataFrame(out, columns=["query_id", "neighbor_id"])

    cand = emb.select("vec_id", "embedding").mapInPandas(
        batches, schema="query_id bigint, neighbor_id bigint"
    )
    qv = emb.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("qv"),
    )
    cv = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").cast("array<double>").alias("cv"),
    )
    scored = (
        cand.join(F.broadcast(qv), "query_id")
        .join(cv, "neighbor_id")
        .withColumn("cos_sim", cosine_expr(F.col("qv"), F.col("cv")))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", F.col("rank").cast("int").alias("rank"))
    )


def near_pairs_blocked(emb: DataFrame, tau: float = 0.9) -> DataFrame:
    """SMALL-CORPUS reference path (test twin only — not registered): the
    normalized corpus matrix is collected to the driver and closure-shipped
    to every task. The production plan is :func:`near_pairs_exact_blocked`,
    which keeps all matrix blocks executor-side. Rows-only values (BLAS
    summation order vs the fold); equality asserted in tests at 1e-5."""
    import numpy as np
    from pyspark.sql import functions as F

    rows = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v")).collect()
    ids_all = np.array([r["vec_id"] for r in rows])
    M = np.array([r["v"] for r in rows])
    M = M / np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-12)

    def batches(it):
        import pandas as pd

        for pdf in it:
            X = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            ids = pdf["vec_id"].to_numpy()
            X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
            sims = X @ M.T  # (batch, all)
            bi, aj = np.nonzero(sims >= tau)
            out = []
            for i, j in zip(bi, aj):
                a, b = ids[i], ids_all[j]
                if a < b:
                    out.append((int(a), int(b), round(float(sims[i, j]), 6)))
            if out:
                yield pd.DataFrame(out, columns=["vec_a", "vec_b", "cos_sim"])

    return emb.select("vec_id", "embedding").mapInPandas(
        batches, schema="vec_a bigint, vec_b bigint, cos_sim double"
    )


def near_pairs_exact_blocked(
    emb: DataFrame, tau: float = 0.9, n_blocks: int = 16, margin: float = 1e-5
) -> DataFrame:
    """Exact cosine near-pairs (same contract as dedup.embedding_near_pairs)
    without the crossJoin OR the driver-resident corpus matrix.

    Stage 1 — BLAS candidate filter: vectors pack into ``n_blocks`` block
    matrices executor-side (applyInPandas per block); the B(B+1)/2 block
    PAIRS form via a tiny non-equi join on block ids; each pair computes
    X_a @ X_b.T with BLAS and emits only id pairs with sim >= tau-margin.
    All O(n²) arithmetic runs in BLAS on executors; the shuffle carries
    B² matrix rows plus surviving candidates — no per-pair row explosion,
    no driver state (vs near_pairs_blocked's full-corpus collect).
    At larger corpora n_blocks grows ~sqrt(n) to bound block bytes.

    Stage 2 — exact verify: candidates join the embeddings and re-score
    with the sequential fold expression (cosine_expr), so emitted values
    are bit-identical to the brute-force all-pairs oracle. The margin
    (1e-5 >> BLAS-vs-fold reordering error ~1e-13 and the 6-dp rounding
    step 5e-7) guarantees no pair at or above tau is lost.
    """
    import numpy as np
    import pandas as pd

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["vec_id"].to_numpy()
        M = np.array(pdf["embedding"].tolist(), dtype=np.float64)
        M = M / np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-12)
        return pd.DataFrame(
            {
                "blk": [int(pdf["_blk"].iloc[0])],
                "ids": [ids.tolist()],
                "mat": [M.ravel().tolist()],
                "dim": [int(M.shape[1])],
            }
        )

    blocks = (
        emb.select(
            "vec_id",
            F.col("embedding").cast("array<double>").alias("embedding"),
            F.pmod(F.col("vec_id"), F.lit(n_blocks)).alias("_blk"),
        )
        .groupBy("_blk")
        .applyInPandas(pack, schema="blk int, ids array<bigint>, mat array<double>, dim int")
    )
    a = blocks.alias("a")
    b = blocks.alias("b")
    block_pairs = a.join(b, F.col("a.blk") <= F.col("b.blk")).select(
        F.col("a.blk").alias("blk_a"),
        F.col("a.ids").alias("ids_a"),
        F.col("a.mat").alias("mat_a"),
        F.col("a.dim").alias("dim"),
        F.col("b.blk").alias("blk_b"),
        F.col("b.ids").alias("ids_b"),
        F.col("b.mat").alias("mat_b"),
    )

    cut = tau - margin

    def score(it):
        for pdf in it:
            out_a, out_b = [], []
            for row in pdf.itertuples(index=False):
                ia = np.asarray(row.ids_a, dtype=np.int64)
                ib = np.asarray(row.ids_b, dtype=np.int64)
                Ma = np.asarray(row.mat_a, dtype=np.float64).reshape(len(ia), row.dim)
                Mb = np.asarray(row.mat_b, dtype=np.float64).reshape(len(ib), row.dim)
                S = Ma @ Mb.T
                ii, jj = np.nonzero(S >= cut)
                for i, j in zip(ii, jj):
                    x, y = int(ia[i]), int(ib[j])
                    if x == y:
                        continue
                    out_a.append(min(x, y))
                    out_b.append(max(x, y))
            if out_a:
                yield pd.DataFrame({"vec_a": out_a, "vec_b": out_b}).drop_duplicates()

    cand = block_pairs.mapInPandas(score, schema="vec_a bigint, vec_b bigint").distinct()
    ea = emb.select(
        F.col("vec_id").alias("vec_a"), F.col("embedding").cast("array<double>").alias("ea")
    )
    eb = emb.select(
        F.col("vec_id").alias("vec_b"), F.col("embedding").cast("array<double>").alias("eb")
    )
    return (
        cand.join(ea, "vec_a")
        .join(eb, "vec_b")
        .withColumn("cos_sim", cosine_expr(F.col("ea"), F.col("eb")))
        .where(F.col("cos_sim") >= tau)
        .select("vec_a", "vec_b", "cos_sim")
    )


# ---------------------------------------------------------------------------
# Random-hyperplane LSH
# ---------------------------------------------------------------------------

EMB_DIM = 64


def plane_weights_py(table_no: int, plane: int, dim: int = EMB_DIM) -> list[float]:
    """Deterministic pseudo-random hyperplane in [-1, 1]^dim: hash60 of the
    (table, plane, dim-index) triple, reduced mod 2001, centered and scaled.
    Exact multiples of 0.001, so the literal round-trips identically through
    Spark and DuckDB SQL text. Computed ONCE on the driver and inlined as a
    literal array — never per row (1000x cheaper than hashing in-plan)."""
    from web_scraper_spark.operators.hashing import hash60_py

    return [
        ((hash60_py(f"t{table_no}_p{plane}_{i}") % 2001) - 1000) / 1000.0
        for i in range(dim)
    ]


def lsh_signature(vec, table_no: int = 0, n_planes: int = N_PLANES, dim: int = EMB_DIM):
    """B-bit bucket id: bit p = [ sum_i w(p,i) * v[i] > 0 ]."""
    acc = F.lit(0).cast("long")
    for p in range(n_planes):
        w = F.array(*[F.lit(x) for x in plane_weights_py(table_no, p, dim)])
        proj = F.aggregate(
            F.zip_with(vec, w, lambda x, wi: x * wi),
            F.lit(0.0),
            lambda a, x: a + x,
        )
        acc = acc + F.when(proj > 0, F.lit(2 ** p).cast("long")).otherwise(F.lit(0).cast("long"))
    return acc


def lsh_signature_sql(vec: str, table_no: int = 0, n_planes: int = N_PLANES, dim: int = EMB_DIM) -> str:
    terms = []
    for p in range(n_planes):
        w = "[" + ", ".join(repr(x) for x in plane_weights_py(table_no, p, dim)) + "]"
        proj = (
            f"list_sum(list_transform(generate_series(1, len({vec})), "
            f"i -> ({vec})[i]::DOUBLE * ({w})[i]))"
        )
        terms.append(f"(CASE WHEN ({proj}) > 0 THEN {2 ** p}::BIGINT ELSE 0::BIGINT END)")
    return "(" + " + ".join(terms) + ")"


def lsh_buckets(emb: DataFrame, n_tables: int = 2, n_planes: int = N_PLANES) -> DataFrame:
    """(vec_id, tbl, bucket) assignment across independent LSH tables."""
    vec = F.col("embedding").cast("array<double>")
    sigs = [
        F.struct(F.lit(t).alias("tbl"), lsh_signature(vec, t, n_planes).alias("bucket"))
        for t in range(n_tables)
    ]
    return emb.select(
        "vec_id", F.explode(F.array(*sigs)).alias("s")
    ).select("vec_id", F.col("s.tbl").alias("tbl"), F.col("s.bucket").alias("bucket"))


def lsh_buckets_sql(table: str = "embeddings", n_tables: int = 2, n_planes: int = N_PLANES) -> str:
    selects = " UNION ALL ".join(
        f"SELECT vec_id, {t} AS tbl, {lsh_signature_sql('embedding', t, n_planes)} AS bucket FROM {table}"
        for t in range(n_tables)
    )
    return selects


def build_ivf_index(
    emb: DataFrame, n_cells: int = 16, seed: int = 42
) -> tuple[DataFrame, list[list[float]]]:
    """Fit the IVF coarse quantizer ONCE and return the persistable
    artifacts: (assignments ``(cell, vec_id, arr)`` — write it
    ``partitionBy("cell")`` so probes prune partitions — and the centroid
    table as a plain list, small enough to ship as a config/broadcast).

    The production loop builds this on the corpus once, persists both, and
    every later query batch probes from the stored table without refitting
    (ivf_probe) — k-means never reruns per batch."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    vecs = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("arr")
    ).withColumn("features", array_to_vector("arr"))
    km = KMeans(k=n_cells, seed=seed, featuresCol="features", predictionCol="cell")
    model = km.fit(vecs)
    assigned = model.transform(vecs).select("cell", "vec_id", "arr")
    centroids = [[float(x) for x in c] for c in model.clusterCenters()]
    return assigned, centroids


def ivf_probe(
    index: DataFrame,
    centroids: list[list[float]],
    queries: DataFrame,
    k: int = 10,
    n_probe: int = 4,
) -> DataFrame:
    """Top-k from a PERSISTED IVF index (build_ivf_index artifacts) for a
    ``(query_id, qv)`` batch — no refit, no full scan.

    The probed cell set is collected (bounded: ≤ n_queries × n_probe ints,
    a metadata-sized collect exactly like the politeness host list) and
    applied as a STATIC ``cell IN (...)`` predicate, so a cell-partitioned
    parquet index prunes at plan time — the Iceberg/partition-pruning read
    shape (the scan's PartitionFilters carry the IN-list, plan-asserted in
    tests/test_pipeline.py::test_ivf_probe_from_persisted_index). Exact
    cosine only inside probed cells; queries that are corpus members
    exclude themselves."""
    from pyspark.sql import Window

    cent_df = index.sparkSession.createDataFrame(
        [(i, c) for i, c in enumerate(centroids)], "cell int, centroid array<double>"
    )
    q_cells = (
        F.broadcast(queries)
        .crossJoin(F.broadcast(cent_df))
        .withColumn("c_sim", cosine_expr(F.col("qv"), F.col("centroid")))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("c_sim").desc(), F.col("cell").asc())
    probes = (
        q_cells.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= n_probe)
        .select("query_id", "qv", "cell")
    )
    cells = sorted({r["cell"] for r in probes.select("cell").distinct().collect()})
    scored = (
        probes.join(index.where(F.col("cell").isin(cells)), on="cell")
        .where(F.col("query_id") != F.col("vec_id"))
        .withColumn("cos_sim", cosine_expr(F.col("qv"), F.col("arr")))
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w2))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            "cos_sim",
            F.col("rank").cast("int").alias("rank"),
        )
    )


def ivf_topk(
    emb: DataFrame,
    n_queries: int = 5,
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
    seed: int = 42,
) -> DataFrame:
    """IVF approximate top-k: k-means coarse quantizer (Spark ML, seeded),
    queries probe their n_probe nearest cells, exact cosine within probed
    cells only — build_ivf_index + ivf_probe composed in one session (the
    persisted-index path is the same code probing from parquet; see
    tests/test_pipeline.py::test_ivf_probe_from_persisted_index).

    The scale shape: the corpus is written PARTITIONED BY cell (each cell
    a contiguous parquet range), a query touches n_probe/n_cells of the
    data — partition pruning does the skipping. Recall rises with n_probe
    (n_probe = n_cells degenerates to exact brute force). ML fit → not
    SQL-expressible → rows-only; recall vs brute asserted in tests."""
    assigned, centroids = build_ivf_index(emb, n_cells=n_cells, seed=seed)
    queries = assigned.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("arr").alias("qv")
    )
    return ivf_probe(assigned, centroids, queries, k=k, n_probe=n_probe)


def dist2_expr(a, b):
    """Squared L2 distance of two array<double> columns as the same
    explicit left-to-right fold as cosine_expr — IEEE-identical in both
    engines (no rounding: only used for argmin comparisons, where the
    inputs are bit-identical so the comparisons agree)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def dist2_sql(a: str, b: str) -> str:
    return (
        f"list_sum(list_transform(generate_series(1, len({a})), "
        f"i -> (({a})[i]::DOUBLE - ({b})[i]::DOUBLE) * (({a})[i]::DOUBLE - ({b})[i]::DOUBLE)))"
    )


def sampled_centroids(emb: DataFrame, n_cells: int = 16) -> DataFrame:
    """The hash-sampled coarse quantizer's centroid table ``(cell, cv)``:
    the ``n_cells`` corpus vectors whose hash60('ivfc:' || vec_id) ranks
    smallest (deterministic uniform sample, FAISS sampled-init form with
    zero Lloyd steps; cell id = rank among the seeds). Centroids are
    EXACT COPIES of data vectors, so everything downstream is
    relational and engine-portable — see sampled_cells_sql_cte for the
    DuckDB twin of the whole assignment. The seed pick is
    TakeOrderedAndProject (distributed partial top-k) + an
    n_cells-row collect (metadata-sized, like the politeness host
    list)."""
    from web_scraper_spark.operators.hashing import hash60

    seed_rows = (
        emb.select(
            "vec_id",
            hash60(F.concat(F.lit("ivfc:"), F.col("vec_id").cast("string"))).alias("h"),
        )
        .orderBy("h", "vec_id")
        .limit(n_cells)
        .collect()
    )
    cell_of = {
        int(r["vec_id"]): i
        for i, r in enumerate(sorted(seed_rows, key=lambda r: (r["h"], r["vec_id"])))
    }
    cell_map = F.create_map(
        *[x for vid, c in cell_of.items() for x in (F.lit(vid), F.lit(c))]
    )
    return emb.where(F.col("vec_id").isin(*cell_of.keys())).select(
        cell_map[F.col("vec_id")].alias("cell"),
        F.col("embedding").cast("array<double>").alias("cv"),
    )


def _sampled_dists(emb: DataFrame, n_cells: int = 16) -> DataFrame:
    """Per-(vector, centroid) squared distances under the sampled
    quantizer: broadcast join against the n_cells centroid rows — the
    shared sub-plan of assignment (argmin over all rows) and probe
    (rank over the query rows)."""
    cent = sampled_centroids(emb, n_cells)
    pts = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    return pts.crossJoin(F.broadcast(cent)).select(
        "vec_id", "cell", dist2_expr(F.col("v"), F.col("cv")).alias("dist2")
    )


def _argmin_cells(dists: DataFrame) -> DataFrame:
    """(vec_id, cell) argmin as a map-side-combinable min(struct(dist2,
    cell)) — no window, vectors never shuffle (only (vec_id, dist2,
    cell) triples reach the one exchange); ties break on cell id."""
    return (
        dists.groupBy("vec_id")
        .agg(F.min(F.struct("dist2", "cell")).alias("m"))
        .select("vec_id", F.col("m.cell").alias("cell"))
    )


def sampled_cells(emb: DataFrame, n_cells: int = 16) -> DataFrame:
    """Cell assignment ``(vec_id, cell)`` under the sampled quantizer."""
    return _argmin_cells(_sampled_dists(emb, n_cells))


def sampled_cells_sql_cte(table: str = "embeddings", n_cells: int = 16) -> str:
    """The seeds/cent/dists/assigned CTE chain — the DuckDB twin of
    sampled_centroids + sampled_cells, shared by ivf_sampled_topk_sql
    and semdedup_sampled_sql (compose inside a WITH list)."""
    from web_scraper_spark.operators.hashing import hash60_sql

    h = hash60_sql("'ivfc:' || vec_id::VARCHAR")
    d = dist2_sql("e.embedding", "c.cv")
    return f"""
        seeds AS (
            SELECT vec_id, {h} AS h FROM {table}
            ORDER BY h, vec_id LIMIT {n_cells}
        ),
        cent AS (
            SELECT row_number() OVER (ORDER BY s.h, s.vec_id) - 1 AS cell,
                   e.embedding AS cv
            FROM seeds s JOIN {table} e USING (vec_id)
        ),
        dists AS (
            SELECT e.vec_id, c.cell, {d} AS dist2
            FROM {table} e CROSS JOIN cent c
        ),
        assigned AS (
            SELECT vec_id, cell FROM (
                SELECT vec_id, cell,
                       row_number() OVER (PARTITION BY vec_id ORDER BY dist2, cell) AS rn
                FROM dists
            ) WHERE rn = 1
        )"""


def ivf_sampled_topk(
    emb: DataFrame,
    n_queries: int = 5,
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
) -> DataFrame:
    """IVF approximate top-k with a SAMPLED coarse quantizer — the fully
    relational, value-exact-oracle variant of ivf_topk.

    The quantizer is the FAISS sampled-init form with zero Lloyd steps:
    the ``n_cells`` centroids are the corpus vectors whose
    hash60('ivfc:' || vec_id) ranks smallest (a deterministic uniform
    sample; cell id = rank among the seeds). Because centroids are EXACT
    COPIES of data vectors and every distance is the sequential fold
    (dist2_expr), cell assignment, probe selection and final scores are
    bit-identical in Spark and DuckDB — the whole index build + probe is
    one SQL expression (ivf_sampled_topk_sql), unlike the Lloyd-trained
    ivf_topk whose float centroid MEANS are summation-order dependent.
    Recall is below the trained quantizer's at equal n_probe (centroids
    aren't optimized), standard for sampled-init IVF; raise n_probe to
    compensate — n_probe = n_cells degenerates to exact brute force.

    Scale shape: identical to ivf_topk — assignment is a broadcast join
    against ``n_cells`` rows with a map-side-combinable min(struct) argmin
    (no window, no shuffle of the vectors beyond the one groupBy), and
    the probed join touches n_probe/n_cells of the corpus.
    """
    dists = _sampled_dists(emb, n_cells)
    assigned = _argmin_cells(dists)
    wq = Window.partitionBy("vec_id").orderBy("dist2", "cell")
    probe = (
        dists.where(F.col("vec_id") < n_queries)
        .withColumn("rn", F.row_number().over(wq))
        .where(F.col("rn") <= n_probe)
        .select(F.col("vec_id").alias("query_id"), "cell")
    )
    cand = (
        probe.join(assigned, "cell")
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
    )
    qv = emb.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("qv"),
    )
    cv = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").cast("array<double>").alias("nv"),
    )
    scored = (
        cand.join(F.broadcast(qv), "query_id")
        .join(cv, "neighbor_id")
        .withColumn("cos_sim", cosine_expr(F.col("qv"), F.col("nv")))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", F.col("rank").cast("int").alias("rank"))
    )


def ivf_sampled_topk_sql(
    table: str = "embeddings",
    n_queries: int = 5,
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
) -> str:
    cos = cosine_sql("q.embedding", "n.embedding")
    return f"""
        WITH {sampled_cells_sql_cte(table, n_cells)},
        probe AS (
            SELECT vec_id AS query_id, cell FROM (
                SELECT vec_id, cell,
                       row_number() OVER (PARTITION BY vec_id ORDER BY dist2, cell) AS rn
                FROM dists WHERE vec_id < {n_queries}
            ) WHERE rn <= {n_probe}
        ),
        cand AS (
            SELECT p.query_id, a.vec_id AS neighbor_id
            FROM probe p JOIN assigned a USING (cell)
            WHERE a.vec_id != p.query_id
        ),
        scored AS (
            SELECT cand.query_id, cand.neighbor_id, {cos} AS cos_sim
            FROM cand
            JOIN {table} q ON q.vec_id = cand.query_id
            JOIN {table} n ON n.vec_id = cand.neighbor_id
        )
        SELECT query_id, neighbor_id, cos_sim, rank::INT AS rank FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC
            ) AS rank
            FROM scored
        ) WHERE rank <= {k}
    """


def lsh_ann_pairs(
    emb: DataFrame, tau: float = 0.9, n_tables: int = 2, max_bucket: int = 64
) -> DataFrame:
    """Near-neighbor pairs via bucket collision in any table, exact-scored.

    The cross-join disappears: candidates only form inside (tbl, bucket)
    groups. Hot buckets (dense regions) are the skew case: a bucket of B
    vectors emits B(B-1)/2 candidates, so ``max_bucket`` drops degenerate
    buckets entirely (same policy as dedup.minhash_lsh_pairs — an
    over-dense bucket means the hyperplanes don't discriminate there, and
    another table usually recovers the pair). The SQL oracle twin applies
    the identical cap, keeping the driver check value-exact.
    """
    cand = posting_pairs(
        lsh_buckets(emb, n_tables), ["tbl", "bucket"], "vec_id", max_bucket
    ).select(F.col("a").alias("vec_a"), F.col("b").alias("vec_b"))
    ea = emb.select(F.col("vec_id").alias("vec_a"), F.col("embedding").cast("array<double>").alias("ea"))
    eb = emb.select(F.col("vec_id").alias("vec_b"), F.col("embedding").cast("array<double>").alias("eb"))
    return (
        cand.join(ea, "vec_a")
        .join(eb, "vec_b")
        .withColumn("cos_sim", cosine_expr(F.col("ea"), F.col("eb")))
        .where(F.col("cos_sim") >= tau)
        .select("vec_a", "vec_b", "cos_sim")
    )


def lsh_ann_pairs_sql(
    table: str = "embeddings", tau: float = 0.9, n_tables: int = 2, max_bucket: int = 64
) -> str:
    cos = cosine_sql("ea.embedding", "eb.embedding")
    return f"""
        WITH buckets0 AS ({lsh_buckets_sql(table, n_tables)}),
        buckets AS (
            SELECT * FROM (
                SELECT vec_id, tbl, bucket,
                       count(*) OVER (PARTITION BY tbl, bucket) AS bsize
                FROM buckets0
            ) WHERE bsize <= {max_bucket}
        ),
        cand AS (
            SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
            FROM buckets a JOIN buckets b
              ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id
        )
        SELECT vec_a, vec_b, {cos} AS cos_sim
        FROM cand
        JOIN {table} ea ON ea.vec_id = vec_a
        JOIN {table} eb ON eb.vec_id = vec_b
        WHERE {cos} >= {tau}
    """


# ---------------------------------------------------------------------------
# SemDeDup: semantic dedup by within-cluster embedding similarity
# ---------------------------------------------------------------------------

def semdedup_within(assigned: DataFrame, eps: float = 0.95, row_chunk: int = 1024) -> DataFrame:
    """Within-cell SemDeDup prune over a ``(cell, vec_id, arr)`` frame.

    Rule (deterministic, parallel-friendly): a vector is DROPPED iff some
    vector with a smaller vec_id in the SAME cell has cosine similarity
    >= eps to it — "earlier wins", the embedding-space analogue of
    dedup.exact_dedup's keep-first semantics. (The published SemDeDup
    recipe keeps one member per duplicate group by distance-to-centroid;
    the earlier-wins relaxation needs no second pass and keeps the same
    asymptotics.)

    Output per vector: ``cell``, ``max_prior_sim`` (max cosine to any
    earlier in-cell vector; -1.0 — the cosine lower bound — for a cell's
    first vector), ``kept``.

    Plan shape at 100 TB: ONE shuffle on cell (applyInPandas), O(c²/2)
    BLAS flops per cell with memory bounded by ``row_chunk`` matrix rows
    regardless of cell size. Cell population is the quantizer's job:
    n_cells grows ~N/target_cell_size, exactly the IVF sizing rule
    (build_ivf_index); a degenerate hot cell is the same skew case as
    lsh_ann_pairs' max_bucket and would be split by raising n_cells.

    Rows-only (ML fit upstream + BLAS float path): numpy-twin equality
    and partition invariance asserted in tests/test_semdedup.py.
    """
    import numpy as np
    import pandas as pd

    def per_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        ids = pdf["vec_id"].to_numpy()
        M = np.array(pdf["arr"].tolist(), dtype=np.float64)
        M = M / np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-12)
        n = len(ids)
        max_prior = np.full(n, -1.0)
        for s in range(1, n, row_chunk):
            e = min(s + row_chunk, n)
            S = M[s:e] @ M[:e].T  # rows s..e-1 vs ALL rows < e
            for local, g in enumerate(range(s, e)):
                max_prior[g] = S[local, :g].max()
        return pd.DataFrame(
            {
                "vec_id": ids,
                "cell": pdf["cell"].to_numpy(),
                "max_prior_sim": np.round(max_prior, 6),
                "kept": max_prior < eps,
            }
        )

    return assigned.groupBy("cell").applyInPandas(
        per_cell, schema="vec_id bigint, cell int, max_prior_sim double, kept boolean"
    )


def semdedup(
    emb: DataFrame, n_cells: int = 16, eps: float = 0.95, seed: int = 42
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): k-means the embedding space, then
    drop near-duplicate vectors within each cluster (semdedup_within).

    The quantizer fit is build_ivf_index — the same persistable artifact
    the ANN index uses, so a production pipeline fits k-means ONCE and
    feeds both the search index and the semantic dedup pass from it.
    The reference has no embedding tier at all (its dedup is the per-URL
    seen set, CrawlPaperTuoiTre.py:60-66)."""
    assigned, _ = build_ivf_index(emb, n_cells=n_cells, seed=seed)
    return semdedup_within(assigned, eps=eps)


def semdedup_sampled(emb: DataFrame, n_cells: int = 16, eps: float = 0.95) -> DataFrame:
    """SemDeDup under the hash-SAMPLED quantizer — the fully relational,
    value-exact-oracle twin of :func:`semdedup` (which stays the
    recall-optimal Lloyd-trained variant).

    Same earlier-wins rule as semdedup_within: a vector is DROPPED iff
    some smaller-vec_id vector in its cell has cosine >= eps;
    ``max_prior_sim`` is the max cosine to any earlier in-cell vector
    (-1.0 for a cell's first). Two differences make it engine-portable:
    the quantizer is sampled_cells (exact data-vector centroids, no
    float means) and the max runs over the ROUNDED-6dp fold cosines
    (semdedup_within maxes raw BLAS values then rounds — same result
    except exactly at a 5e-7 rounding boundary).

    Plan shape: assignment as in sampled_cells; within-cell pairs form
    via a cell-keyed self-join (pair count = Σc²/2 — the quantizer's
    n_cells ~ N/target_cell_size sizing rule bounds it, identically to
    semdedup_within's flop count), one groupBy max, one left join back.
    The per-pair fold is interpreted — at the 10^10 design point the
    BLAS semdedup_within form does the arithmetic; this plan is the
    oracle twin (semdedup_sampled_sql).
    """
    # the assignment frame feeds BOTH the pair self-join and the final
    # left join — eager localCheckpoint so the N x n_cells dist2 fold and
    # its argmin exchange run once, not once per reference (the repo's
    # cache-before-multi-reference rule; storage is RDD-scoped)
    assigned = sampled_cells(emb, n_cells).localCheckpoint(eager=True)
    vecs = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    av = assigned.join(vecs, "vec_id")
    a = av.select(
        F.col("cell"), F.col("vec_id").alias("vec_a"), F.col("v").alias("va")
    )
    b = av.select(
        F.col("cell"), F.col("vec_id").alias("vec_b"), F.col("v").alias("vb")
    )
    mx = (
        a.join(b, "cell")
        .where(F.col("vec_a") < F.col("vec_b"))
        .select(
            F.col("vec_b").alias("vec_id"),
            cosine_expr(F.col("va"), F.col("vb")).alias("sim"),
        )
        .groupBy("vec_id")
        .agg(F.max("sim").alias("m"))
    )
    prior = F.coalesce(F.col("m"), F.lit(-1.0))
    return (
        assigned.join(mx, "vec_id", "left")
        .select(
            "vec_id",
            F.col("cell").cast("int").alias("cell"),
            prior.alias("max_prior_sim"),
            (prior < F.lit(eps)).alias("kept"),
        )
    )


def semdedup_sampled_sql(
    table: str = "embeddings", n_cells: int = 16, eps: float = 0.95
) -> str:
    cos = cosine_sql("ea.embedding", "eb.embedding")
    return f"""
        WITH {sampled_cells_sql_cte(table, n_cells)},
        mx AS (
            SELECT b.vec_id, max({cos}) AS m
            FROM assigned a
            JOIN assigned b ON a.cell = b.cell AND a.vec_id < b.vec_id
            JOIN {table} ea ON ea.vec_id = a.vec_id
            JOIN {table} eb ON eb.vec_id = b.vec_id
            GROUP BY b.vec_id
        )
        SELECT a.vec_id, a.cell::INT AS cell,
               coalesce(mx.m, -1.0) AS max_prior_sim,
               coalesce(mx.m, -1.0) < {eps} AS kept
        FROM assigned a LEFT JOIN mx ON mx.vec_id = a.vec_id
    """
