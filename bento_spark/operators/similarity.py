"""Similarity search over embedding columns (``array<float>``).

Training-data superset (SURVEY.md §7 phase 5); nearest reference
analogue is the HuggingFace feature-extraction processor
(internal/impl/huggingface/processor_feature_extraction.go) which only
PRODUCES embeddings — the reference has no vector search.

Scale design (100 TB):
* brute-force top-k: broadcast the (small) query set, stream the corpus
  once — no corpus shuffle at all; per-partition partial top-k via the
  window only shuffles (n_queries × k)-bounded data after AQE.
* sign-LSH: deterministic random-hyperplane buckets; corpus is hashed
  once (narrow), probing is an equi-join on bucket id with hamming-1
  multiprobe for recall. Bucket count scales with corpus size; planes
  are seeded constants so the index is reproducible across runs.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from bento_spark.functions.vectors import as_double, dot_expr, l2sq_expr


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
    dim: int | None = None,
    prefiltered_nonzero: bool = False,
) -> DataFrame:
    """Exact cosine top-k per query vector (the recall=1 baseline).

    ``queries`` must be small (it is broadcast); the corpus is scanned
    exactly once with no shuffle before the bounded top-k window. With
    a static ``dim`` the dot product is codegen'd (see vectors.dot).

    ``prefiltered_nonzero=True`` skips the zero-norm guard: when
    ``vec_col`` is a Python-UDF output (e.g. the featurizer), a filter
    referencing it is inlined by Catalyst into a SECOND ArrowEvalPython
    node — the whole corpus gets embedded twice. Callers that already
    exclude zero vectors upstream (e.g. a token-count prefilter
    matching the featurizer's support) pass True to keep one UDF eval
    per branch."""
    from bento_spark.operators.dedup import ensure_parallelism

    # Norms are computed ONCE PER ROW on each side before the join; the
    # per-pair expression is then just the dot product (dim terms, not
    # 3*dim) — same values, same accumulation order, but a 3x smaller
    # tree for Catalyst analysis + codegen in the pair stage (the
    # dominant cost of the whole query at bench scale).
    # Zero-norm vectors (e.g. an empty document embedded to all-zeros)
    # have undefined cosine; unguarded they'd divide to NaN, which sorts
    # ABOVE every real similarity under DESC and tops every ranking.
    # Excluded on both sides — same semantics as the SQL oracles, whose
    # norm CTEs never produce such rows. The guard is exists(x != 0),
    # NOT cnrm > 0: a predicate on cnrm is pushed below the projection
    # and re-derived over the RAW column, where every subscript of the
    # 64-term sum re-casts the whole array (measured 3.5x on the whole
    # query); exists() is one short-circuiting array pass.
    nonzero = lambda v: F.exists(v, lambda x: x != 0)  # noqa: E731
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), as_double(F.col(vec_col)).alias("cv")
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double(F.col(vec_col)).alias("qv")
    )
    if not prefiltered_nonzero:
        c, q = c.filter(nonzero("cv")), q.filter(nonzero("qv"))
    c = ensure_parallelism(
        c.withColumn("cnrm", F.sqrt(l2sq_expr("cv", dim)))
    )
    q = q.withColumn("qnrm", F.sqrt(l2sq_expr("qv", dim)))
    sim = F.round(
        dot_expr("qv", "cv", dim) / (F.col("qnrm") * F.col("cnrm")), 6
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.col("neighbor_id")
    )
    return (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", sim.alias("cos_sim"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic Gaussian hyperplanes for sign-LSH."""
    rng = np.random.default_rng(seed)
    return [[float(x) for x in row] for row in rng.standard_normal((n_planes, dim))]


def _chain_dots(V: np.ndarray, C: np.ndarray) -> np.ndarray:
    """(n, dim) x (m, dim) -> (n, m) dot products with LEFT-ASSOCIATIVE
    per-element accumulation: acc = ((v0*c0 + v1*c1) + v2*c2) + ..., each
    product and add individually IEEE-rounded — bit-identical to the
    codegen'd literal chains and to the oracle's list_reduce fold.
    np.dot/GEMM uses blocked/pairwise summation and CANNOT back a
    hash-checked oracle on float-valued vectors; this explicit dim-step
    loop can (each step is one vectorized elementwise multiply then one
    add over the whole batch, so it is still numpy-speed)."""
    acc = V[:, 0, None] * C[None, :, 0]
    for i in range(1, C.shape[1]):
        acc = acc + V[:, i, None] * C[None, :, i]
    return acc


def lsh_bucket(vec_name: str, planes: list[list[float]]) -> Column:
    """Sign-LSH bucket id as ONE inline expression: bit j =
    (vec · plane_j) > 0 over literal multiply-add chains. Reference
    form only — bit-identical to ``_lsh_bucket_udf`` (same left-assoc
    accumulation), but at planes x dim = 256 its generated code blows
    Janino's 64 KB method limit when fused with anything else; the
    production probe path is the Arrow UDF."""
    parts = []
    for j, p in enumerate(planes):
        d = " + ".join(f"{vec_name}[{i}] * {repr(c)}D" for i, c in enumerate(p))
        parts.append(f"(CASE WHEN {d} > 0.0D THEN {1 << j} ELSE 0 END)")
    return F.expr("(" + " + ".join(parts) + ")")


def auto_n_planes(
    n_rows: int, target_bucket: int = 256, lo: int = 4, hi: int = 24
) -> int:
    """Plane count scaling with corpus size: 2^planes buckets sized
    ~``target_bucket`` rows. A FIXED plane count makes bucket population
    (and probe cost) grow linearly with the corpus — LSH in name only at
    100x scale; log2 scaling keeps the per-probe work constant."""
    import math

    if n_rows <= target_bucket:
        return lo
    return min(hi, max(lo, math.ceil(math.log2(n_rows / target_bucket))))


def _lsh_bucket_udf(planes: list[list[float]]):
    """Arrow-batched sign-LSH bucket id: bit j = (vec · plane_j) > 0.

    The dots use the exact left-assoc chain (``_chain_dots``), so the
    sign tests — and therefore every bucket id — are bit-identical to
    the literal-chain/codegen form and to the oracle's list_reduce.
    One Python crossing per side replaces the (planes x dim)-term
    generated expressions whose fused probe stage exceeded Janino's
    64 KB method limit: WSCG never compiled for it, and the multi-second
    failed compile was re-paid every run (r12 worked around it with a
    scoped session-global ``codegen.wholeStage=false`` + eager
    localCheckpoint — both removed by this form; every stage now
    compiles and caches). Return type INT, matching the old CASE-sum."""
    P = np.asarray(planes, dtype=np.float64)
    shifts = (1 << np.arange(P.shape[0], dtype=np.int64))[None, :]

    @F.pandas_udf("int")
    def bucket(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype="int32")
        V = np.stack(v.to_numpy()).astype(np.float64)
        bits = (_chain_dots(V, P) > 0.0).astype(np.int64) * shifts
        return pd.Series(bits.sum(axis=1).astype(np.int32))

    # nondeterministic stops InferFiltersFromConstraints' isnotnull on
    # the join key from being pushed below the projection, which
    # DUPLICATES the UDF into a second ArrowEvalPython node (guide
    # §4.4; observed in the first r13 plan dump: every corpus row paid
    # the bucket UDF + Arrow transfer twice). Values are in fact
    # deterministic, so results are unchanged.
    return bucket.asNondeterministic()


def lsh_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
    n_planes: int | None = 4,
    dim: int = 64,
    seed: int = 42,
    multiprobe: bool = True,
) -> DataFrame:
    """Approximate cosine top-k: sign-LSH bucketing + hamming-1 multiprobe.

    The corpus is bucketed once (narrow map); each query probes its own
    bucket plus the ``n_planes`` hamming-1 buckets, so the join touches
    ~(1+n_planes)/2^n_planes of the corpus instead of all of it.
    ``n_planes=None`` scales the plane count with the corpus
    (``auto_n_planes``: ~256-row buckets) — the scale path; a fixed
    plane count is only for oracle-pinned tests.
    """
    if n_planes is None:
        # parquet count() is metadata-only — cheap even at 100 TB
        n_planes = auto_n_planes(corpus.count())
    planes = hyperplanes(dim, n_planes, seed)
    bucket_udf = _lsh_bucket_udf(planes)
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        as_double(F.col(vec_col)).alias("cv"),
    ).filter(F.exists("cv", lambda x: x != 0)).select(  # zero-norm: NaN
        "neighbor_id",
        "cv",
        bucket_udf("cv").alias("bucket"),
        F.sqrt(l2sq_expr("cv", dim)).alias("cnrm"),
    )
    # Probe buckets via exploded XOR *deltas*, not N copies of the bucket
    # expression: exploding literal deltas keeps qbucket below the
    # Generate node, computed once per query row.
    deltas = [0] + ([1 << j for j in range(n_planes)] if multiprobe else [])
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double(F.col(vec_col)).alias("qv")
    ).filter(F.exists("qv", lambda x: x != 0)).select(  # zero-norm: NaN
        "query_id",
        "qv",
        F.sqrt(l2sq_expr("qv", dim)).alias("qnrm"),
        bucket_udf("qv").alias("qbucket"),
        F.explode(F.array(*[F.lit(d) for d in deltas])).alias("__delta"),
    ).select(
        "query_id",
        "qv",
        "qnrm",
        F.col("qbucket").bitwiseXOR(F.col("__delta")).alias("bucket"),
    )
    sim = F.round(
        dot_expr("qv", "cv", dim) / (F.col("qnrm") * F.col("cnrm")), 6
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.col("neighbor_id"))
    return (
        c.join(F.broadcast(q), ["bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", sim.alias("cos_sim"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def brute_force_topk_gemm(
    corpus: DataFrame,
    queries: DataFrame | tuple,
    id_col: str,
    vec_col: str,
    k: int = 10,
    max_queries: int = 4096,
) -> DataFrame:
    """Exact cosine top-k via per-partition numpy GEMM — the
    INTEGER-VECTOR fast path.

    The codegen'd pair form (brute_force_topk) evaluates dim
    multiply-adds per pair through expression codegen with per-subscript
    array bounds checks — at 1k queries x 50k corpus that is the whole
    query's cost. Here each Arrow batch does ONE BLAS matmul
    (batch x dim @ dim x nq), then per-query partial top-k inside the
    partition, so the only shuffled data is the
    (partitions x nq x k)-bounded candidate set before the exact final
    window. 100x fewer rows through the exchange than the pair join,
    and the flops run in BLAS instead of codegen.

    EXACTNESS CONTRACT — why this can back a hash-checked gate query:
    the inputs must be integer-valued vectors (e.g. the hashed-n-gram
    featurizer's count vectors). Integer dot products are exact in
    float64 REGARDLESS of accumulation order, so GEMM == the oracle's
    sum() bit-for-bit; norms/division are single correctly-rounded IEEE
    ops. Float-valued corpora (the `embeddings` table) must keep the
    codegen path, where Spark's left-to-right sum matches the oracle's
    fold order.

    Partial top-k is exact because the ranking key (cos DESC,
    neighbor_id ASC) is a TOTAL order (ids are unique): any global
    top-k row is top-k within its own partition, so per-partition
    truncation to k by that exact key loses nothing. Inside a batch,
    the argpartition-by-cosine prefilter keeps the full tie group at
    the k-th cosine, then the (cos, id) sort truncates it back to k —
    tie-heavy data (e.g. many zero-similarity pairs) costs one sort of
    the tie group, never an unbounded candidate set.

    BOUNDED-QUERY CONTRACT — ``max_queries`` is ENFORCED, mirroring
    dedup_embedding_cosine's ``max_rows`` routing: the query matrix is
    collected to the driver and shipped to every task, so an unbounded
    query set turns both the driver collect and the per-task GEMM into
    O(corpus) at a fixed query fraction. Callers with larger query sets
    belong on ``lsh_ann_topk`` (bucketed equi-join, no driver
    materialization). Q ships via ``SparkContext.broadcast`` — one
    torrent transfer per executor, not a copy serialized into every
    task binary."""
    from pyspark.sql.types import (
        DoubleType, LongType, StructField, StructType,
    )

    if isinstance(queries, tuple):
        # Pre-collected (ids, matrix) query set: callers whose query
        # vectors come from a Python-UDF featurizer hand the matrix over
        # directly instead of a DataFrame — collecting a LIMIT through
        # an ArrowEvalPython stage runs CollectLimit's incremental
        # partition rounds with a Python-worker launch per round
        # (measured ~2.3s warm for 100 rows at sf0.1; the whole-corpus
        # featurize itself is ~2.1s). The guard contract is the caller's
        # responsibility here: the tuple is by construction bounded.
        q_ids = np.asarray(queries[0], dtype=np.int64)
        Q = np.asarray(queries[1], dtype=np.float64)
        if len(q_ids) == 0:
            raise ValueError("brute_force_topk_gemm: empty query set")
        if len(q_ids) > max_queries:
            raise ValueError(
                f"brute_force_topk_gemm: query set exceeds max_queries="
                f"{max_queries} (pre-collected form)"
            )
    else:
        q_rows = queries.select(
            F.col(id_col).cast("long"), as_double(F.col(vec_col))
        ).limit(max_queries + 1).collect()
        if not q_rows:
            raise ValueError("brute_force_topk_gemm: empty query set")
        if len(q_rows) > max_queries:
            raise ValueError(
                f"brute_force_topk_gemm: query set exceeds max_queries="
                f"{max_queries}; the GEMM path materializes Q on the driver "
                f"and broadcasts it to every task, so it is for BOUNDED query "
                f"sets only — use lsh_ann_topk for large query sets (bucketed "
                f"equi-join, fully distributed), or raise max_queries "
                f"explicitly if the memory cost is understood"
            )
        q_ids = np.array([r[0] for r in q_rows], dtype=np.int64)
        Q = np.array([r[1] for r in q_rows], dtype=np.float64)
    q_norm = np.sqrt((Q * Q).sum(axis=1))
    keep = q_norm > 0
    q_ids, Q, q_norm = q_ids[keep], Q[keep], q_norm[keep]
    nq = len(q_ids)
    bc = corpus.sparkSession.sparkContext.broadcast((q_ids, Q, q_norm))

    out_schema = StructType([
        StructField("query_id", LongType()),
        StructField("neighbor_id", LongType()),
        StructField("cos_sim", DoubleType()),
    ])

    def gen(batches):
        import pandas as pd

        q_ids, Q, q_norm = bc.value
        # per-query candidate buffers across the partition's batches
        cand: list[list[tuple[float, int]]] = [[] for _ in range(nq)]
        for pdf in batches:
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            V = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            cn = np.sqrt((V * V).sum(axis=1))
            ok = cn > 0
            if not ok.all():
                ids, V, cn = ids[ok], V[ok], cn[ok]
            if len(ids) == 0:
                continue
            cos = (V @ Q.T) / np.outer(cn, q_norm)  # b x nq
            # self-pairs excluded exactly like the pair join's predicate
            self_mask = ids[:, None] == q_ids[None, :]
            cos[self_mask] = -np.inf
            b = len(ids)
            kk = min(k, b)
            # cosine-only prefilter (vectorized), then exact (cos DESC,
            # id ASC) truncation of the kept rows to k
            part = np.argpartition(-cos, kk - 1, axis=0)[:kk]
            for j in range(nq):
                vk = cos[part[:, j], j].min()
                rows = np.nonzero(cos[:, j] >= vk)[0]
                got = sorted(
                    zip(cos[rows, j].tolist(), ids[rows].tolist()),
                    key=lambda t: (-t[0], t[1]),
                )[:kk]
                cand[j].extend(got)
        rows_out = []
        for j in range(nq):
            if not cand[j]:
                continue
            cand[j].sort(key=lambda t: (-t[0], t[1]))
            for cos_v, nid in cand[j][:k]:
                rows_out.append((int(q_ids[j]), int(nid), float(cos_v)))
        yield pd.DataFrame(
            rows_out, columns=["query_id", "neighbor_id", "cos_sim"]
        )

    candidates = corpus.select(
        F.col(id_col), as_double(F.col(vec_col)).alias(vec_col)
    ).mapInPandas(gen, out_schema)
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.col("neighbor_id")
    )
    return candidates.withColumn(
        "rank", F.row_number().over(w)
    ).filter(F.col("rank") <= k)


def ivf_centroids(dim: int, n_cells: int, seed: int = 7) -> list[list[float]]:
    """Deterministic Gaussian cell centroids for a seeded IVF index.

    Random centroids give a valid Voronoi partition (coarse-quantizer
    recall is lower than trained k-means, but the partition/probe
    mechanics — the part that must scale — are identical); callers with
    a training budget pass k-means centroids from operators/clustering
    instead. The gate query uses the seeded form so the DuckDB oracle
    can embed the SAME centroids as literals (the LSH-planes trick)."""
    rng = np.random.default_rng(seed)
    return [[float(x) for x in row] for row in rng.standard_normal((n_cells, dim))]


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
    centroids: list[list[float]] | None = None,
    n_cells: int = 8,
    nprobe: int = 2,
    dim: int = 64,
    seed: int = 7,
) -> DataFrame:
    """IVF approximate cosine top-k: coarse-quantize the corpus into
    Voronoi cells once (narrow map — one literal argmax expression per
    row, no shuffle), probe each query's ``nprobe`` nearest cells, and
    search exactly within the probed cells.

    100 TB design: the index pass adds ONE int column during the scan;
    the join is a broadcast equi-join on cell id touching
    ~nprobe/n_cells of the corpus; n_cells scales with corpus size the
    same way auto_n_planes does for LSH (cells ~ rows/target so
    per-probe work stays constant). No driver state beyond the
    centroid list itself.

    Affinities (vec · centroid / |centroid|) are computed in one Arrow
    UDF per side via the exact left-assoc chain (``_chain_dots``) over
    the centroid matrix — bit-identical doubles to the old (cells x dim)
    literal-chain expressions, so cell assignment and probe ranking are
    unchanged. The literal form was unusable either way: fused under
    WSCG it blew Janino's 64 KB method limit (failed compile re-paid
    every run), and the r12 identity-``transform()`` barrier that
    avoided the compile left the chains INTERPRETED — measured r13 at
    sf1 (20k vectors): 31.5s warm per execution vs milliseconds of
    numpy here. Ties: np.argmax keeps the first (lowest-index) maximum,
    matching array_position/list_position; the stable argsort keeps
    lowest cell index first on equal affinities, matching the old
    row_number ORDER BY d DESC, j ASC."""
    import math

    if centroids is None:
        centroids = ivf_centroids(dim, n_cells, seed)
    C = np.asarray(centroids, dtype=np.float64)
    # same Python-float norm sequence the literal form embedded as reprs
    nrms = np.asarray(
        [math.sqrt(sum(x * x for x in cent)) for cent in centroids]
    )
    n_probe = min(nprobe, len(centroids))

    @F.pandas_udf("long")
    def cell_of(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype="int64")
        V = np.stack(v.to_numpy()).astype(np.float64)
        affs = _chain_dots(V, C) / nrms[None, :]
        return pd.Series(np.argmax(affs, axis=1).astype(np.int64))

    # same §4.4 anti-duplication as _lsh_bucket_udf (the cell join key
    # grows an inferred isnotnull that would re-evaluate the UDF)
    cell_of = cell_of.asNondeterministic()

    @F.pandas_udf("array<int>")
    def probe_cells(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype=object)
        V = np.stack(v.to_numpy()).astype(np.float64)
        affs = _chain_dots(V, C) / nrms[None, :]
        order = np.argsort(-affs, axis=1, kind="stable")[:, :n_probe]
        return pd.Series(list(order.astype(np.int32)))

    c = (
        corpus.select(
            F.col(id_col).alias("neighbor_id"), as_double(F.col(vec_col)).alias("cv")
        )
        .filter(F.exists("cv", lambda x: x != 0))  # zero-norm: NaN cosine
        .select(
            "neighbor_id",
            "cv",
            cell_of("cv").alias("cell"),
            F.sqrt(l2sq_expr("cv", dim)).alias("cnrm"),
        )
    )
    # probe cells: rank ALL cell affinities per query (small side only —
    # the corpus never explodes), keep the top nprobe
    q = (
        queries.select(
            F.col(id_col).alias("query_id"), as_double(F.col(vec_col)).alias("qv")
        )
        .filter(F.exists("qv", lambda x: x != 0))
        .select(
            "query_id",
            "qv",
            F.sqrt(l2sq_expr("qv", dim)).alias("qnrm"),
            F.explode(probe_cells("qv")).alias("cell"),
        )
    )
    sim = F.round(
        dot_expr("qv", "cv", dim) / (F.col("qnrm") * F.col("cnrm")), 6
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.col("neighbor_id"))
    return (
        c.join(F.broadcast(q), ["cell"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", sim.alias("cos_sim"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )
