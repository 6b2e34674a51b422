"""Distributed k-means (Lloyd) over embedding columns.

Training-data pipelines cluster corpus embeddings to balance data
mixtures, pick semantic-dedup representatives, and build curriculum
buckets. Reference anchor: Bento's embedding processors stop at
transport (nlp_* plugins); clustering is part of this engine's
LLM-pipeline superset (SURVEY.md §2.8).

Spark-first shape, sized for 100 TB:

* per-iteration state is O(k * dim) doubles on the driver — centers
  ship to executors inside the assignment closure (no join, no
  broadcast table);
* assignment is an Arrow-batched vectorized distance kernel (the MLlib
  broadcast-centers + BLAS shape); each Lloyd iteration is one job over
  the id-range-spread input (``range_spread``: its range exchange and
  sampling pass re-run for the init collect and for every iteration's
  collect, since shuffle reuse does not span actions): assign + a
  narrow per-(cluster, dim) partial ``avg`` aggregate (map-side combine
  reduces every partition to k*dim rows before the shuffle);
* distances fold over dims sequentially, bit-identical to the DuckDB
  oracle's ``list_reduce`` fold, so the iterative algorithm is
  hash-checkable end-to-end;
* center coordinates are rounded (HALF_UP, 6 dp) after every update on
  BOTH sides, which pins the engines' float aggregation orders to the
  same value and keeps iterations from drifting apart.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def assign_clusters(
    df: DataFrame, vec_col: str, centers: list[list[float]]
) -> Column:
    """``struct(d, c)`` of the nearest center (ties -> lowest cluster
    id; numpy argmin takes the first minimum).

    Arrow-batched numpy rather than codegen: a statically expanded
    k*dim expression tree costs ~5 s of Catalyst/Janino compile *per
    center refresh* (every Lloyd iteration embeds new literals), while
    the batched form is compile-free and does the distance math
    vectorized over rows — the same shape MLlib uses (broadcast centers
    + BLAS). The fold over dims is an explicit sequential loop so every
    distance is bit-identical to the DuckDB oracle's ``list_reduce``
    left fold; only the across-rows direction is vectorized."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    C = [np.asarray(c, dtype=np.float64) for c in centers]

    @pandas_udf("struct<d: double, c: int>")
    def run(s: pd.Series) -> pd.DataFrame:
        if len(s) == 0:
            return pd.DataFrame(
                {"d": pd.Series([], dtype="float64"),
                 "c": pd.Series([], dtype="int32")}
            )
        X = np.stack(s.to_numpy()).astype(np.float64)
        n, dim = X.shape
        dists = []
        for c in C:
            acc = np.zeros(n)
            for i in range(dim):  # sequential over dims = left fold
                t = X[:, i] - c[i]
                acc = acc + t * t
            dists.append(acc)
        D = np.stack(dists, axis=1)
        cl = np.argmin(D, axis=1)
        return pd.DataFrame(
            {"d": D[np.arange(n), cl], "c": cl.astype("int32")}
        )

    return run(F.col(vec_col))


def kmeans_lloyd(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    k: int = 4,
    iters: int = 2,
) -> DataFrame:
    """Lloyd k-means; returns ``(id, cluster, dist)`` after ``iters``
    center updates. Init = the embeddings of the k smallest ids
    (deterministic, cluster j <- j-th smallest id)."""
    from bento_spark.operators.dedup import range_spread

    # every iteration's assign (Arrow UDF) + posexplode stage runs in
    # the SCAN stage, which local few-file parquet concentrates on 1-2
    # tasks (measured 8.0 -> 1.6s at sf1 once spread). range_spread on
    # the id — NOT a round-robin repartition — because callers rely on
    # the output arriving in id order (kmeans_embedding_mixture has no
    # final orderBy; the driver hash is row-order-sensitive): range
    # partitions concatenate in key order and the final select is
    # narrow, so the sortWithinPartitions below reproduces the exact
    # scan order the unspread plan emitted. Center math is unchanged:
    # the per-(cluster, dim) round(avg, 6) updates — the only
    # float-order-sensitive piece — were compared bit-identical
    # spread-vs-plain at all four SFs.
    df = range_spread(df, id_col)
    init = df.select(id_col, vec_col).orderBy(id_col).limit(k).collect()
    if len(init) < k:
        raise ValueError(f"need >= {k} rows to init {k} centers")
    centers = [[float(x) for x in r[vec_col]] for r in init]

    for _ in range(iters):
        best = assign_clusters(df, vec_col, centers)
        # posexplode -> narrow (cluster, dim) aggregate: one small
        # expression to compile (vs 64 wide agg columns), and partial
        # avg combines to k*dim rows per partition before the shuffle
        updated = (
            df.select(
                best["c"].alias("cluster"),
                F.posexplode(F.col(vec_col).cast("array<double>")).alias(
                    "i", "x"
                ),
            )
            .groupBy("cluster", "i")
            .agg(F.round(F.avg("x"), 6).alias("a"))
            .collect()
        )
        seen = {r["cluster"] for r in updated}
        if len(seen) < k:
            # an emptied cluster would silently desync from the oracle
            raise ValueError(f"cluster emptied: {len(seen)} of {k} left")
        by_cl: dict[int, list[float]] = {j: [0.0] * dim for j in range(k)}
        for r in updated:
            by_cl[r["cluster"]][r["i"]] = r["a"]
        centers = [by_cl[j] for j in range(k)]

    best = assign_clusters(df, vec_col, centers)
    return df.select(
        F.col(id_col),
        best["c"].cast("int").alias("cluster"),
        F.round(best["d"], 6).alias("dist"),
    ).sortWithinPartitions(id_col)


def kmeans_sql(
    table: str, id_col: str, vec_col: str, dim: int, k: int = 4, iters: int = 2
) -> str:
    """DuckDB twin of :func:`kmeans_lloyd`: same init, same fold order,
    same per-update rounding, unrolled one CTE pair per iteration."""
    dist = (
        f"list_reduce(list_transform(range(1, {dim + 1}), "
        f"i -> (v[i] - cv[i]) * (v[i] - cv[i])), (x, y) -> x + y)"
    )
    ctes = [
        f"e AS (SELECT {id_col} AS id, {vec_col}::DOUBLE[] AS v FROM {table})",
        f"c0 AS (SELECT (row_number() OVER (ORDER BY id)) - 1 AS cl, v AS cv "
        f"FROM (SELECT id, v FROM e ORDER BY id LIMIT {k}))",
    ]
    for it in range(iters):
        ctes.append(
            f"a{it} AS (SELECT id, cl FROM ("
            f"SELECT id, cl, row_number() OVER (PARTITION BY id "
            f"ORDER BY {dist}, cl) AS rn FROM e CROSS JOIN c{it}) WHERE rn = 1)"
        )
        ctes.append(
            f"c{it + 1} AS (SELECT cl, list(a ORDER BY i) AS cv FROM ("
            f"SELECT a{it}.cl AS cl, i, round(avg(v[i]), 6) AS a "
            f"FROM a{it} JOIN e USING (id) CROSS JOIN range(1, {dim + 1}) t(i) "
            f"GROUP BY a{it}.cl, i) GROUP BY cl)"
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
    SELECT id AS {id_col}, CAST(cl AS INT) AS cluster, round(dist, 6) AS dist
    FROM (SELECT id, cl, {dist} AS dist,
                 row_number() OVER (PARTITION BY id ORDER BY {dist}, cl) AS rn
          FROM e CROSS JOIN c{iters}) WHERE rn = 1
    ORDER BY {id_col}
    """
    )


# ---------------------------------------------------------------------------
# SemDeDup: cluster-then-prune semantic deduplication
# ---------------------------------------------------------------------------

def semdedup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    k: int = 4,
    iters: int = 2,
    threshold: float = 0.95,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): k-means the
    embedding space, then prune near-duplicates WITHIN each cluster —
    the clustering bounds the pairwise comparison to cluster size, so
    the quadratic term is O(sum c_i^2) instead of O(n^2).

    Retention rule (deterministic, the paper's "keep one per group"
    made order-stable): a document is dropped iff a LOWER-id document
    in its cluster has cosine similarity >= threshold with it.

    Returns (id, cluster, keep). Scale: k must grow with the corpus
    (k ~ n / target_cluster_size) to bound the within-cluster join —
    at gate scale k=4 over 500 vectors; at 100 TB you run k in the
    tens of thousands so each cluster stays task-sized, exactly the
    paper's regime (50k clusters for LAION). The pair join is an
    equi-join on cluster id; no cross-cluster pair ever materializes.
    """
    import numpy as np
    import pandas as pd

    from bento_spark.functions.vectors import as_double, l2sq_expr

    assigned = kmeans_lloyd(df, id_col, vec_col, dim, k=k, iters=iters)
    # e is consumed twice (the dominance stage's input plus the final
    # keep-join); the localCheckpoint runs the assignment + join once
    # instead of per consumer. The per-row norm is precomputed with the
    # single-F.expr l2 form (the Column-object chain cost ~3*dim py4j
    # round trips of pure plan build).
    e = (
        df.select(F.col(id_col).alias("id"), as_double(F.col(vec_col)).alias("v"))
        .join(
            assigned.select(F.col(id_col).alias("id"), "cluster"), "id"
        )
        .withColumn("nrm", F.sqrt(l2sq_expr("v", dim)))
        .localCheckpoint(eager=False)
    )
    # Dominance per cluster as ONE Arrow block instead of a self-join:
    # the r12/r13 expression form pushed the dim-term cosine INTO the
    # SortMergeJoin condition, where it is evaluated per candidate pair
    # OUTSIDE whole-stage codegen (~14 µs/pair interpreted) on at most
    # k join keys — 4 tasks and 14.5s at the sf1 gate. The block
    # computes the same pairs vectorized (measured 0.45s, 30x) and
    # stays CLUSTER-LOCAL — nothing is broadcast or collected, so the
    # operator's scale contract is unchanged: k grows with the corpus
    # so each cluster fits a task (the paper's 50k-clusters regime),
    # which is exactly the bound applyInPandas needs.
    #
    # Bit-exactness (same discipline as operators/similarity._chain_dots
    # and the gemm pair path): the accumulator starts at v[0]*w[0] and
    # adds v[i]*w[i] in ascending i — the same left-associative IEEE
    # order as the dot_expr chain — and the divisor is the same single
    # nrm_a*nrm_b product, so every pair's cosine and threshold compare
    # are bit-identical to the expression form (equality verified over
    # 4 SFs x 5 thresholds incl. 1722-id non-empty sets).
    #
    # Zero-norm rows: 0/0 is NaN here and NaN >= thr is False, so a
    # zero vector dominates nothing and is never dominated. The DuckDB
    # twin agrees: its 0.0/0.0 is NULL, and NULL >= thr drops the pair.
    thr = float(threshold)

    def _dominated(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["id"].to_numpy()
        mat = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["v"]])
        nrm = pdf["nrm"].to_numpy(dtype=np.float64)
        acc = np.multiply.outer(mat[:, 0], mat[:, 0])
        for i in range(1, mat.shape[1]):
            acc += np.multiply.outer(mat[:, i], mat[:, i])
        with np.errstate(invalid="ignore", divide="ignore"):
            cos = acc / np.multiply.outer(nrm, nrm)
        lt = ids[:, None] < ids[None, :]
        return pd.DataFrame({"id": ids[np.unique(np.nonzero((cos >= thr) & lt)[1])]})

    # ids are unique per cluster row and clusters partition the ids, so
    # the union of per-cluster outputs is already duplicate-free (the
    # old pair join needed a distinct; this shape does not). Any
    # orderable id type: the kernel compares the ids as the column's own
    # numpy values and returns them under the column's Spark type.
    dominated = e.groupBy("cluster").applyInPandas(
        _dominated, T.StructType([T.StructField("id", df.schema[id_col].dataType)])
    )
    return (
        e.join(dominated.withColumn("__dom", F.lit(True)), "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.col("cluster"),
            F.col("__dom").isNull().alias("keep"),
        )
    )


def semdedup_sql(
    table: str, id_col: str, vec_col: str, dim: int,
    k: int = 4, iters: int = 2, threshold: float = 0.95,
) -> str:
    """DuckDB twin of :func:`semdedup`: the kmeans_sql iteration CTEs
    plus a within-cluster dominance pair join, same fold order for the
    cosine so values match bit-for-bit."""
    from bento_spark.functions.vectors import cosine_sql

    base = kmeans_sql(table, id_col, vec_col, dim=dim, k=k, iters=iters)
    # reuse kmeans_sql's WITH-chain: strip its final SELECT (the last
    # block starting "SELECT id AS <id_col>"; with id_col "id" the `e`
    # CTE starts the same way), keep the CTEs
    cut = base.rindex(f"SELECT id AS {id_col}")
    with_part = base[:cut].rstrip().rstrip(",") + ","
    # the final assignment CTE name is a{iters-1}... the final SELECT in
    # kmeans_sql re-derives from c{iters}; mirror that derivation here
    cos = cosine_sql("a.v", "b.v", dim)  # flat chains: same fold order
    return f"""{with_part}
    fin AS (
      SELECT id, cl FROM (
        SELECT id, cl, row_number() OVER (PARTITION BY id ORDER BY
          list_reduce(list_transform(range(1, {dim + 1}),
            i -> (v[i] - cv[i]) * (v[i] - cv[i])), (x, y) -> x + y), cl) AS rn
        FROM e CROSS JOIN c{iters}) WHERE rn = 1
    ),
    ec AS (SELECT e.id, e.v, fin.cl FROM e JOIN fin USING (id)),
    dominated AS (
      SELECT DISTINCT b.id AS id
      FROM ec a JOIN ec b ON a.cl = b.cl AND a.id < b.id
      WHERE {cos} >= {threshold}
    )
    SELECT ec.id AS {id_col}, CAST(ec.cl AS INT) AS cluster,
           dominated.id IS NULL AS keep
    FROM ec LEFT JOIN dominated ON ec.id = dominated.id
    ORDER BY {id_col}
    """
