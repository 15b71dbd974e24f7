"""Similarity search over dense embedding columns (array<float>).

Re-expresses the reference's numpy mat-vec cosine search
(/root/reference/src/triage/embeddings.py:118-145: corpus @ query,
argsort desc, top-k, threshold, exact-dup drop at 0.999) as Spark plans:

  * cosine_topk            — brute-force baseline: per-row dot product
                             via zip_with + aggregate (JVM higher-order
                             fns, float64 in-order accumulation), global
                             TakeOrderedAndProject top-k. Exact; O(N·d).
  * with_lsh_signatures    — ONE Arrow pass computing ALL sign-LSH table
                             signatures (single (tables*bits, dim)
                             matmul per batch). The scale path stores
                             these columns at ingest (partition/bucket
                             by sig_0) so query candidate generation is
                             a metadata filter, not a scan per table.
  * lsh_ann_topk           — approximate top-k: ONE scan filtered by
                             OR(sig_t == qsig_t) over the signature
                             columns (precomputed or computed inline in
                             the same single pass), exact cosine on the
                             candidates only.
  * embedding_dup_pairs    — near-dup pairs (M5): signatures once, ONE
                             self-join on exploded (table, sig) buckets,
                             exact cosine verify.
  * cosine_dup_pairs_exact — exact all-pairs >= threshold via blocked
                             matrix products: O(n^2) by definition, but
                             distributed over G*(G+1)/2 block-pair tasks
                             with BLAS inside — the ground-truth/verify
                             kernel; LSH above is the scale path.

Vectors are expected L2-normalized (dot == cosine), matching the
reference contract (/root/reference/src/triage/embeddings.py:87-94).

Recall math for sign-LSH (random hyperplanes): a pair at angle theta
collides in one b-bit table with p = (1 - theta/pi)^b; with t tables,
recall = 1 - (1-p)^t. For near-dups at cosine 0.9 (theta ~ 0.451):
b=16, t=32 gives ~0.94 recall with 65k buckets/table; the defaults
below (b=8, t=4) are sized for the weakly-clustered 64-dim fixture.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def dot_col(a: Column, b: Column) -> Column:
    """In-order float64 dot product of two array<float> columns —
    bit-identical to the DuckDB oracle's list_transform/list_sum form."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def cosine_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_exact: bool = False,
) -> DataFrame:
    """Brute-force top-k: (vec_id, score double) — exact baseline.

    The literal query vector is a constant folded into the plan (the
    broadcast degenerate case); orderBy+limit compiles to
    TakeOrderedAndProject: per-partition heaps, no global sort.
    ``exclude_exact`` reproduces the reference's self-match drop
    (score < 0.999, /root/reference/ui_premium.py:1360-1375).
    """
    q = F.array(*[F.lit(float(v)) for v in query_vec])
    scored = embeddings.select(
        F.col(id_col).alias("vec_id"),
        F.round(dot_col(F.col(vec_col), q), 5).alias("score"),
    )
    if exclude_exact:
        scored = scored.filter(F.col("score") < 0.999)
    return scored.orderBy(F.col("score").desc(), F.col("vec_id").asc()).limit(k)


# ------------------------------------------------------------ sign LSH


def plane_matrix(dim: int, n_tables: int, bits_per_table: int, seed: int = 42) -> np.ndarray:
    """Stacked random hyperplanes, shape (n_tables * bits_per_table, dim)
    — one matmul computes every table's signature bits. Per-table planes
    are seeded independently (seed + 1000*t) for reproducibility."""
    rows = []
    for t in range(n_tables):
        rng = np.random.RandomState(seed + 1000 * t)
        rows.append(rng.randn(bits_per_table, dim))
    return np.vstack(rows)


def _pack_signatures(signs: np.ndarray, n_tables: int, bits: int) -> np.ndarray:
    """(n, tables*bits) bool -> (n, tables) int64 bit-packed signatures."""
    weights = (1 << np.arange(bits, dtype=np.int64))
    out = np.empty((signs.shape[0], n_tables), dtype=np.int64)
    for t in range(n_tables):
        out[:, t] = signs[:, t * bits : (t + 1) * bits] @ weights
    return out


def with_lsh_signatures(
    embeddings: DataFrame,
    n_tables: int = 8,
    bits_per_table: int = 4,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Adds sig_0..sig_{n_tables-1} long columns in ONE Arrow pass
    (single stacked matmul per batch). At ingest scale these columns are
    written with the table (bucket/partition by sig_0) so ANN candidate
    generation never rescans vectors."""
    if dim is None:
        dim = len(embeddings.select(vec_col).first()[0])
    planes = plane_matrix(dim, n_tables, bits_per_table, seed)

    def kernel(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            mat = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
            sigs = _pack_signatures(mat @ planes.T > 0, n_tables, bits_per_table)
            out = {id_col: pdf[id_col].to_numpy(), vec_col: pdf[vec_col]}
            for t in range(n_tables):
                out[f"sig_{t}"] = sigs[:, t]
            yield pd.DataFrame(out)

    in_schema = embeddings.select(id_col, vec_col).schema
    schema = (
        f"{id_col} {in_schema[0].dataType.simpleString()}, "
        f"{vec_col} {in_schema[1].dataType.simpleString()}, "
        + ", ".join(f"sig_{t} long" for t in range(n_tables))
    )
    return embeddings.select(id_col, vec_col).mapInPandas(kernel, schema=schema)


def query_signatures(
    query_vec: list[float], n_tables: int = 8, bits_per_table: int = 4, seed: int = 42
) -> list[int]:
    q = np.asarray(query_vec, dtype=np.float64)
    planes = plane_matrix(len(query_vec), n_tables, bits_per_table, seed)
    sigs = _pack_signatures((planes @ q > 0)[None, :], n_tables, bits_per_table)
    return [int(s) for s in sigs[0]]


def lsh_ann_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_tables: int = 8,
    bits_per_table: int = 4,
    seed: int = 42,
    signatures: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k: rows colliding with the query in >= 1 of
    ``n_tables`` sign-LSH tables are scored — ONE scan with an OR filter
    over the signature columns (not one scan per table).

    ``signatures``: a DataFrame that already carries sig_* columns
    (from with_lsh_signatures at ingest, stored + bucketed); when given,
    candidate generation touches only stored metadata columns. Defaults
    (8 tables x 4 bits) target weakly-clustered corpora (top-k cosines
    ~0.3); for strongly clustered data raise bits_per_table.
    """
    sigdf = (
        signatures
        if signatures is not None
        else with_lsh_signatures(
            embeddings, n_tables, bits_per_table, seed, id_col, vec_col,
            dim=len(query_vec),
        )
    )
    qsigs = query_signatures(query_vec, n_tables, bits_per_table, seed)
    cond = F.lit(False)
    for t, qs in enumerate(qsigs):
        cond = cond | (F.col(f"sig_{t}") == F.lit(qs))
    cand = sigdf.filter(cond).select(id_col, vec_col)
    return cosine_topk(cand, query_vec, k=k, id_col=id_col, vec_col=vec_col)


def lsh_ann_topk_batch(
    sigdf: DataFrame,
    queries: list[tuple[str, list[float]]],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_tables: int = 8,
    bits_per_table: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Batched distributed ANN over a signature-carrying table: for a
    SET of queries at once, (query_id, id, cos, rank) with rank <= k per
    query among the sign-LSH candidates of that query.

    Execution shape (the 100 TB plan): signatures unpivot to long form
    (id, tbl, s) via one inline-explode — no per-table scan; query
    signatures (|Q| x n_tables rows, computed driver-side from the same
    plane matrix) broadcast onto an EQUI-join (tbl, s) — never a nested-
    loop OR-of-columns; candidates dedup with one hash-agg; scoring
    touches candidate vectors only. No driver loop over queries (the
    single-query lsh_ann_topk would launch |Q| jobs)."""
    qids = [q for q, _v in queries]
    if len(set(qids)) != len(qids):
        # a duplicated query_id would fan out through the qv join and
        # fill the per-query rank window with duplicate docs
        raise ValueError(f"duplicate query_id in batch: {sorted(qids)}")
    qsig_rows = []
    qv_rows = []
    for qid, qvec in queries:
        for t, s in enumerate(
            query_signatures(qvec, n_tables, bits_per_table, seed)
        ):
            qsig_rows.append((qid, t, s))
        qv_rows.append((qid, [float(x) for x in qvec]))
    spark = sigdf.sparkSession
    from alertsage_spark.session import local_df

    qsig = local_df(spark, qsig_rows, "query_id string, tbl int, s long")
    qv = local_df(spark, qv_rows, "query_id string, qv array<double>")
    sig_long = sigdf.select(
        id_col,
        F.inline(
            F.array(
                *[
                    F.struct(
                        F.lit(t).cast("int").alias("tbl"),
                        F.col(f"sig_{t}").alias("s"),
                    )
                    for t in range(n_tables)
                ]
            )
        ),
    )
    cand = (
        sig_long.join(F.broadcast(qsig), ["tbl", "s"])
        .select("query_id", id_col)
        .distinct()
    )
    scored = (
        # cand is top-of-aggregation tiny but its size ESTIMATE is not;
        # broadcast it so the signature table is never shuffled (r6)
        F.broadcast(cand).join(sigdf.select(id_col, vec_col), id_col)
        .join(F.broadcast(qv), "query_id")
        .select(
            "query_id",
            id_col,
            F.round(dot_col(F.col(vec_col), F.col("qv")), 5).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
    )


def embedding_dup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.90,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_tables: int = 4,
    bits_per_table: int = 8,
    seed: int = 42,
    dim: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (the reference's M5 operator,
    sim >= 0.90): signatures computed ONCE, exploded to (table, sig)
    bucket rows, ONE equi-self-join, exact cosine verify — no all-pairs
    crossJoin and no per-table scans. Bucket count per table is
    2^bits_per_table; size bits/tables from the recall math in the
    module docstring (b=16, t=32 for production 0.9-threshold dedup)."""
    sigdf = with_lsh_signatures(
        embeddings, n_tables, bits_per_table, seed, id_col, vec_col, dim
    )
    bucketed = sigdf.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("emb"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("tbl"), F.col(f"sig_{t}").alias("sig")
                    )
                    for t in range(n_tables)
                ]
            )
        ).alias("b"),
    ).select("vec_id", "emb", "b.tbl", "b.sig")
    x, y = bucketed.alias("x"), bucketed.alias("y")
    pairs = (
        x.join(
            y,
            (F.col("x.tbl") == F.col("y.tbl"))
            & (F.col("x.sig") == F.col("y.sig"))
            & (F.col("x.vec_id") < F.col("y.vec_id")),
        )
        .select(
            F.col("x.vec_id").alias("id_a"),
            F.col("y.vec_id").alias("id_b"),
            F.round(dot_col(F.col("x.emb"), F.col("y.emb")), 5).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
        .dropDuplicates(["id_a", "id_b"])
    )
    return pairs


def with_ivf_lists(
    embeddings: DataFrame,
    n_lists: int = 16,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """IVF coarse quantizer (the FAISS-style inverted-file layout):
    KMeans centroids + per-row list assignment. Returns (assigned
    DataFrame with an `ivf_list` int column, centroid ndarray). At
    ingest scale the assignment is stored and the table partitioned by
    ivf_list, so probing reads only the probed partitions (partition
    pruning — stronger than a filter)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    emb = embeddings.select(
        id_col, vec_col, array_to_vector(F.col(vec_col)).alias("_fv")
    )
    model = KMeans(k=n_lists, seed=seed, featuresCol="_fv").fit(emb)
    assigned = model.transform(emb).select(
        id_col, vec_col, F.col("prediction").cast("int").alias("ivf_list")
    )
    return assigned, np.array(model.clusterCenters())


def ivf_ann_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_lists: int = 16,
    n_probe: int = 4,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assigned: DataFrame | None = None,
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """IVF approximate top-k: score only rows in the n_probe lists whose
    centroids are nearest the query — candidates ~ n * n_probe/n_lists.
    Pass (assigned, centroids) from with_ivf_lists to skip re-fitting
    (the stored/ingest path); recall tuning = raise n_probe."""
    if assigned is None or centroids is None:
        assigned, centroids = with_ivf_lists(
            embeddings, n_lists, seed, id_col, vec_col
        )
    q = np.asarray(query_vec, dtype=np.float64)
    d = np.linalg.norm(centroids - q[None, :], axis=1)
    probe = [int(i) for i in np.argsort(d)[:n_probe]]
    cand = assigned.filter(F.col("ivf_list").isin(probe)).select(id_col, vec_col)
    return cosine_topk(cand, query_vec, k=k, id_col=id_col, vec_col=vec_col)


def ivf_assign_expr(
    embeddings: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF list assignment against LITERAL centroids via pure JVM
    higher-order expressions: argmax of the per-centroid dot products
    (== argmin L2 for normalized vectors), first-index tie-break.

    This is the deterministic coarse-quantizer variant (centroids =
    sampled corpus rows, no Lloyd refinement): unlike pyspark.ml KMeans
    (whose init sampling depends on partitioning), the assignment is a
    pure function of (vector, centroids), and because dot_col
    accumulates in element order it is bit-identical to a SQL
    list_sum replica — which is what lets catalog.sim_ann_ivf_recall
    hash-certify the IVF probe/assign/score mechanics against DuckDB.
    """
    dots = F.array(
        *[
            dot_col(F.col(vec_col), F.array(*[F.lit(float(x)) for x in cv]))
            for cv in centroids
        ]
    )
    return embeddings.withColumn(
        "ivf_list", (F.array_position(dots, F.array_max(dots)) - 1).cast("int")
    )


def cosine_dup_pairs_exact(
    embeddings: DataFrame,
    threshold: float = 0.90,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_blocks: int = 8,
) -> DataFrame:
    """EXACT all-pairs cosine >= threshold via blocked matrix products.

    O(n^2) by definition; distributed as G*(G+1)/2 block-pair tasks
    (G = n_blocks), each a BLAS matmul over two in-memory blocks of
    ~n/G vectors. Size n_blocks so a block fits an executor; use
    embedding_dup_pairs (LSH) as the subquadratic scale path and this
    as the ground-truth / verification kernel.
    """
    blocks = (
        embeddings.select(
            # hash-based blocking: supports string ids (plain % requires
            # numeric) and spreads skewed id ranges uniformly
            F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks)).cast("int").alias("g"),
            F.struct(F.col(id_col).alias("i"), F.col(vec_col).alias("v")).alias("s"),
        )
        .groupBy("g")
        .agg(F.collect_list("s").alias("vs"))
    )
    a, b = blocks.alias("a"), blocks.alias("b")
    pairs = a.join(b, F.col("a.g") <= F.col("b.g")).select(
        F.col("a.g").alias("ga"), F.col("b.g").alias("gb"),
        F.col("a.vs").alias("va"), F.col("b.vs").alias("vb"),
    )

    thr = float(threshold)
    # output id type follows the input id column (numeric or string ids
    # both work: np.minimum/maximum order strings lexicographically,
    # matching the `id_a < id_b` pair-ordering convention)
    id_type = embeddings.schema[id_col].dataType.simpleString()

    def kernel(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            for _, row in pdf.iterrows():
                ia = np.array([s["i"] for s in row["va"]])
                ma = np.vstack([np.asarray(s["v"], dtype=np.float64) for s in row["va"]])
                same = row["ga"] == row["gb"]
                if same:
                    ib, mb = ia, ma
                else:
                    ib = np.array([s["i"] for s in row["vb"]])
                    mb = np.vstack([np.asarray(s["v"], dtype=np.float64) for s in row["vb"]])
                cos = np.round(ma @ mb.T, 5)
                ai, bi = np.nonzero(cos >= thr)
                id_a, id_b = ia[ai], ib[bi]
                swap = id_a <= id_b  # np.where, not np.minimum: works for string ids too
                lo = np.where(swap, id_a, id_b)
                hi = np.where(swap, id_b, id_a)
                keep = lo < hi
                yield pd.DataFrame(
                    {
                        "id_a": lo[keep],
                        "id_b": hi[keep],
                        "cosine": cos[ai, bi][keep],
                    }
                ).drop_duplicates(["id_a", "id_b"])

    return pairs.mapInPandas(
        kernel, schema=f"id_a {id_type}, id_b {id_type}, cosine double"
    ).dropDuplicates(["id_a", "id_b"])
