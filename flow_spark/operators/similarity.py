"""Similarity search over embedding columns (array<float>).

Two paths, as the 100 TB design requires:

- **Brute-force cosine top-k** — the correctness baseline: broadcast the
  (small) query set, one scan over candidates, per-query top-k via window.
  Cost O(|Q| * |C|); right answer, used to validate the approximate path.
- **LSH-bucketed ANN (random hyperplanes)** — the scale path: each vector
  gets a B-bit signature (sign of dot with B deterministic hyperplanes);
  queries only compare against candidates in the same bucket, shrinking the
  candidate set ~2^B-fold.  Hyperplane weights derive from the portable
  md5 hash so the whole pipeline is oracle-checkable and identical across
  engines/runs.

Vector math is JVM-side (zip_with/aggregate fold, sequential order =
deterministic FP).  A numpy Pandas-UDF variant of the dot product is
provided for wide-vector workloads where Arrow batching beats codegen.

Embedding-cosine near-dup (dedup flavor) reuses the same primitives.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from flow_spark.functions.vectors import (
    dot,
    l2_norm,
    sql_dot,
    sql_double_array,
)


def brute_force_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k: (query_id, neighbor_id, rank, cos).

    Excludes self-matches.  The query side is broadcast — at scale the
    candidate scan is the only pass over the big table.
    """
    # norms are precomputed per ROW, not per pair: inside the join each
    # candidate norm would be re-folded |Q| times (and each query norm |C|
    # times) — same cosine value (dot/(sqrt(na)*sqrt(nb)), identical IEEE
    # ops), ~3x less fold work
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        l2_norm(F.col(vec_col)).alias("qnrm"),
    )
    # scoring is CPU-bound (|Q| dots per candidate row); embedding tables
    # often arrive as one fat file -> spread candidates across the cluster
    nparts = candidates.sparkSession.sparkContext.defaultParallelism
    c = candidates.repartition(nparts).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cvec"),
        l2_norm(F.col(vec_col)).alias("cnrm"),
    )
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos", dot(F.col("qvec"), F.col("cvec")) / (F.col("qnrm") * F.col("cnrm")))
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("cos", 4).alias("cos"))
    )


def _hyperplane_weights(plane: int, dim: int) -> list[float]:
    """Same md5-derived weights computed driver-side: they are ROW-
    INDEPENDENT constants, so evaluating the md5 chain inside the plan
    would redo dim*n_planes hashes per row (the dominant LSH cost,
    measured ~40% of sim_lsh_ann).  Python md5 is bit-identical to
    Spark's/DuckDB's, so the shipped literals match the oracle exactly."""
    import hashlib

    out = []
    for j in range(dim):
        h = int(hashlib.md5(f"lshhp{plane}_{j}".encode()).hexdigest()[:15], 16)
        out.append((h % 2001 - 1000) / 1000.0)
    return out


def lsh_signature(vec_sql: str, dim: int, n_planes: int = 8) -> Column:
    """B-bit signature: bit p = 1 iff dot(vec, plane_p) >= 0.

    `vec_sql` is a SQL fragment (usually just the column name).  The whole
    signature is ONE expr string — per-element F.lit() literals would cost
    dim * n_planes py4j round trips of plan-build (~0.5 s at 64x8,
    measured; the driver-side analog of a row-level UDF tax).
    """
    bits = []
    for p in range(n_planes):
        plane = sql_double_array(_hyperplane_weights(p, dim))
        bits.append(
            f"(CASE WHEN {sql_dot(vec_sql, plane)} >= CAST(0.0 AS DOUBLE) "
            f"THEN {2**p} ELSE 0 END)"
        )
    return F.expr("CAST((" + " + ".join(bits) + ") AS INT)")


def lsh_topk(
    queries: DataFrame,
    candidates: DataFrame,
    dim: int,
    k: int = 3,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: exact cosine ranking within the query's LSH bucket."""
    sig = lsh_signature(vec_col, dim, n_planes)
    nparts = candidates.sparkSession.sparkContext.defaultParallelism
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        sig.alias("bucket"),
        l2_norm(F.col(vec_col)).alias("qnrm"),
    )
    c = candidates.repartition(nparts).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cvec"),
        sig.alias("bucket"),
        l2_norm(F.col(vec_col)).alias("cnrm"),
    )
    scored = (
        c.join(F.broadcast(q), ["bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos", dot(F.col("qvec"), F.col("cvec")) / (F.col("qnrm") * F.col("cnrm")))
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("cos", 4).alias("cos"))
    )


def ivf_assign(
    vectors: DataFrame,
    centroids: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign each vector to its nearest centroid (max cosine, tie -> lower
    centroid id).  Centroids are a tiny model parameter (k rows) shipped as
    literals, so assignment is a pure map — zero shuffle over the big table.
    In production the centroid list comes from MLlib KMeans; here it is any
    deterministic pick so the whole index is oracle-checkable.
    """
    # one expr string for the whole argmax — per-element F.lit() centroids
    # would cost k * dim py4j round trips of plan-build (1.5 s measured at
    # 16x64); the literal-norm subtrees constant-fold in Catalyst
    norm_sql = (
        f"sqrt(aggregate({vec_col}, CAST(0.0 AS DOUBLE), "
        "(acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"
    )
    entries = []
    for cid, cvec in centroids:
        lit_vec = sql_double_array(float(x) for x in cvec)
        lit_norm = (
            f"sqrt(aggregate({lit_vec}, CAST(0.0 AS DOUBLE), "
            "(acc, x) -> acc + x * x))"
        )
        cos = f"({sql_dot(vec_col, lit_vec)} / ({norm_sql} * {lit_norm}))"
        # struct max orders field-by-field: highest cos wins, ties go to the
        # smaller centroid id via the negated second field
        entries.append(f"named_struct('cos', {cos}, 'ncid', {-cid})")
    best = F.expr("array_max(array(" + ",".join(entries) + "))")
    return vectors.select(
        F.col(id_col),
        F.col(vec_col).alias("v"),
        (-best["ncid"]).cast("int").alias("cluster"),
    )


def ivf_probe_clusters(
    vectors: DataFrame,
    centroids: list[tuple[int, list[float]]],
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, v, cluster) with one row per probed cluster — the query-side
    fan-out of IVF nprobe > 1.  Probing the n nearest lists instead of one
    is THE recall/cost knob of a production IVF index: candidates whose
    true nearest list wasn't the query's first choice become reachable at
    n x the scan cost (still |C| * n / k_centroids, never the full table).
    Same single-expr literal argsort as ivf_assign, sliced to n."""
    norm_sql = (
        f"sqrt(aggregate({vec_col}, CAST(0.0 AS DOUBLE), "
        "(acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"
    )
    entries = []
    for cid, cvec in centroids:
        lit_vec = sql_double_array(float(x) for x in cvec)
        lit_norm = (
            f"sqrt(aggregate({lit_vec}, CAST(0.0 AS DOUBLE), "
            "(acc, x) -> acc + x * x))"
        )
        cos = f"({sql_dot(vec_col, lit_vec)} / ({norm_sql} * {lit_norm}))"
        # ascending struct sort on (-cos, cid) = cos DESC, ties to low cid
        entries.append(f"named_struct('ncos', -({cos}), 'cid', {cid})")
    arr = f"slice(array_sort(array({','.join(entries)})), 1, {nprobe})"
    return vectors.select(
        F.col(id_col),
        F.col(vec_col).alias("v"),
        F.explode(F.expr(arr)).alias("pc"),
    ).select(id_col, "v", F.col("pc.cid").cast("int").alias("cluster"))


def ivf_topk(
    queries: DataFrame,
    candidates: DataFrame,
    centroids: list[tuple[int, list[float]]],
    k: int = 3,
    nprobe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF ANN: exact cosine top-k within the query's nprobe nearest lists.

    The inverted-file structure is the `cluster` column: at scale the
    candidate table is written partitioned by it, so a probe reads nprobe
    partitions (|C| * nprobe / k_centroids rows) instead of the full table.
    """
    if nprobe > 1:
        q = ivf_probe_clusters(queries, centroids, nprobe, id_col, vec_col)
    else:
        q = ivf_assign(queries, centroids, id_col, vec_col)
    q = q.select(
        F.col(id_col).alias("query_id"),
        F.col("v").alias("qvec"),
        "cluster",
        l2_norm(F.col("v")).alias("qnrm"),
    )
    nparts = candidates.sparkSession.sparkContext.defaultParallelism
    c = ivf_assign(candidates.repartition(nparts), centroids, id_col, vec_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.col("v").alias("cvec"),
        "cluster",
        l2_norm(F.col("v")).alias("cnrm"),
    )
    scored = (
        c.join(F.broadcast(q), ["cluster"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos", dot(F.col("qvec"), F.col("cvec")) / (F.col("qnrm") * F.col("cnrm")))
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("cos", 4).alias("cos"))
    )


def cosine_neardup_pairs(
    vectors: DataFrame,
    threshold: float,
    partition_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(a < b) pairs with cosine >= threshold, pruned to same partition_col.

    The partition column stands in for an IVF/LSH bucket: pair generation is
    quadratic only WITHIN a bucket, never globally.
    """
    v = vectors.select(
        F.col(id_col), F.col(partition_col).alias("part"), F.col(vec_col).alias("v"),
        l2_norm(F.col(vec_col)).alias("nrm"),
    )
    a, b = v.alias("a"), v.alias("b")
    cos = dot(F.col("a.v"), F.col("b.v")) / (F.col("a.nrm") * F.col("b.nrm"))
    return (
        a.join(
            b,
            (F.col("a.part") == F.col("b.part"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .withColumn("cos", cos)
        .filter(F.col("cos") >= threshold)
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.round("cos", 4).alias("cos"),
        )
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) + asymmetric distance computation (ADC)
# ---------------------------------------------------------------------------
#
# The third ANN path next to LSH and IVF, and the one that changes the
# 100 TB economics: candidates are stored as M small codes (here 4 codes of
# 4 bits -> 2 bytes per vector instead of 256 bytes of float32), and query
# scoring never reconstructs the vector — the query precomputes one
# M x K distance table and each candidate costs M array lookups.  Encode and
# scan are both pure JVM column expressions (slice + zip_with/aggregate +
# element_at), so the scan stays inside whole-stage codegen; training is a
# bounded driver-side Lloyd's run on a deterministic sample (the same
# "small model parameter shipped as literals" shape as ivf_assign).


def pq_train(
    sample: "list[list[float]]",
    n_subspaces: int = 4,
    n_centroids: int = 16,
    n_iters: int = 8,
) -> "list[list[list[float]]]":
    """Train PQ codebooks: per subspace, k-means over the sample's slice.

    Deterministic: init picks evenly spaced rows of the (caller-ordered)
    sample; Lloyd's iterations are plain numpy float64 on the driver.
    Returns codebooks[m][k] = centroid vector of subspace m.
    """
    x = np.asarray(sample, dtype=np.float64)
    n, dim = x.shape
    if dim % n_subspaces:
        raise ValueError(f"dim {dim} not divisible by {n_subspaces} subspaces")
    dsub = dim // n_subspaces
    books: list[list[list[float]]] = []
    for m in range(n_subspaces):
        sub = x[:, m * dsub : (m + 1) * dsub]
        init_idx = [int(i * n / n_centroids) for i in range(n_centroids)]
        cents = sub[init_idx].copy()
        for _ in range(n_iters):
            d2 = ((sub[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(n_centroids):
                mask = assign == c
                if mask.any():
                    cents[c] = sub[mask].mean(axis=0)
        books.append([[float(v) for v in c] for c in cents])
    return books


def _sq_l2(a: Column, b: Column) -> Column:
    """Squared L2 distance between two array columns (JVM fold)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _codebook_sql(codebooks: "list[list[list[float]]]") -> str:
    """The full codebook as ONE array<array<array<double>>> literal
    (m -> k -> dsub).  Bound to a column once per plan: the round-2
    repeated-per-cell literal form made plan size grow with M x K
    (2.5 MiB task binaries at 16x16) — one copy keeps plan bytes
    independent of how many cells reference it."""
    return (
        "array("
        + ",".join(
            "array(" + ",".join(sql_double_array(cent) for cent in book) + ")"
            for book in codebooks
        )
        + ")"
    )


def _encode_expr(vec_col: str, cb_col: str, m_count: int, dsub: int) -> str:
    """codes array<int> via nested higher-order functions: per subspace m,
    argmin over the k codebook entries.  argmin runs as array_min over
    (distance, code) structs — struct ordering is field-by-field, so ties
    resolve to the lower code id, deterministically.  The distance is the
    zip_with/aggregate left-fold of squared differences (bit-identical to
    the oracle's list_sum of squared diffs)."""
    return (
        f"transform(sequence(0, {m_count - 1}), m -> "
        f"array_min(transform({cb_col}[m], (cent, c) -> "
        "named_struct('d', "
        f"aggregate(zip_with(slice(CAST({vec_col} AS ARRAY<DOUBLE>), m * {dsub} + 1, {dsub}), "
        "cent, (x, y) -> (x - y) * (x - y)), "
        "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v), "
        "'code', c))).code)"
    )


def pq_encode(
    vectors: DataFrame,
    codebooks: "list[list[list[float]]]",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, codes array<int>): per subspace, the nearest codebook entry.

    No Python executes per row; the codebook literal appears ONCE in the
    plan (bound to a column) and the encode is nested transform/aggregate
    folds over it — plan size is independent of M x K."""
    dsub = len(codebooks[0][0])
    m_count = len(codebooks)
    return vectors.select(
        F.col(id_col),
        F.col(vec_col),
        F.expr(_codebook_sql(codebooks)).alias("__cb"),
    ).select(
        F.col(id_col),
        F.expr(_encode_expr(vec_col, "__cb", m_count, dsub)).alias("codes"),
    )


def pq_adc_topk(
    queries: DataFrame,
    candidates: DataFrame,
    codebooks: "list[list[list[float]]]",
    k: int = 5,
    rerank: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: "int | None" = 4,
) -> DataFrame:
    """Approximate L2 top-k via ADC: (query_id, neighbor_id, rank, approx_d2).

    The query side carries M distance-table arrays (its slice's distance to
    every codebook entry, computed once per query in-plan); each candidate
    is scored with M element_at lookups on its stored codes.  The candidate
    table never materializes floats — at 100 TB the scan reads the small
    codes instead of 256-byte float32 vectors, which is the entire point
    of PQ.

    ``rerank=R > 0`` adds the standard second stage: the ADC shortlist of R
    candidates per query is joined back to its exact vectors and re-ranked
    by true L2 (approx_d2 then reports the exact value).  Only R full
    vectors per query are ever read — the selective-point-lookup pattern a
    columnar store serves cheaply — which recovers most of the recall a
    coarse quantizer loses.
    """
    dsub = len(codebooks[0][0])
    m_count = len(codebooks)
    # per-query distance tables as ONE array<array<double>> column (m -> k)
    # over the once-bound codebook literal — plan bytes independent of MxK
    dtab_expr = (
        f"transform(sequence(0, {m_count - 1}), m -> "
        f"transform(__cb[m], cent -> "
        f"aggregate(zip_with(slice(CAST({vec_col} AS ARRAY<DOUBLE>), m * {dsub} + 1, {dsub}), "
        "cent, (x, y) -> (x - y) * (x - y)), "
        "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)))"
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col),
        F.expr(_codebook_sql(codebooks)).alias("__cb"),
    ).select(
        "query_id",
        F.expr(dtab_expr).alias("dtabs"),
    )
    c = pq_encode(candidates, codebooks, id_col, vec_col).select(
        F.col(id_col).alias("neighbor_id"), "codes"
    )
    # sequential m-ordered fold, bit-identical to the oracle's m-ordered
    # list_sum (0.0 + t0 == t0 exactly: squared distances are >= 0)
    approx = F.expr(
        f"aggregate(sequence(0, {m_count - 1}), CAST(0.0 AS DOUBLE), "
        "(acc, m) -> acc + dtabs[m][codes[m]])"
    )
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn("approx_d2", approx)
    )
    # round_digits=None emits the raw double: when codebooks are anchored
    # to data rows both engines produce BIT-IDENTICAL distances, and a
    # cross-engine ROUND on a shortest-repr midpoint could diverge
    def _out(col: Column) -> Column:
        return col if round_digits is None else F.round(col, round_digits)

    w = W.partitionBy("query_id").orderBy(F.asc("approx_d2"), F.asc("neighbor_id"))
    if not rerank:
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(
                "query_id",
                "neighbor_id",
                "rank",
                _out(F.col("approx_d2")).alias("approx_d2"),
            )
        )
    shortlist = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= rerank)
        .select("query_id", "neighbor_id")
    )
    qv = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qvec"),
    )
    cv = candidates.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("cvec"),
    )
    exact = (
        shortlist.join(cv, "neighbor_id")
        .join(F.broadcast(qv), "query_id")
        .withColumn("approx_d2", _sq_l2(F.col("qvec"), F.col("cvec")))
    )
    w2 = W.partitionBy("query_id").orderBy(F.asc("approx_d2"), F.asc("neighbor_id"))
    return (
        exact.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            "rank",
            _out(F.col("approx_d2")).alias("approx_d2"),
        )
    )


def lsh_topk_multiprobe(
    queries: DataFrame,
    candidates: DataFrame,
    dim: int,
    k: int = 3,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Multi-probe LSH: each query probes its own bucket PLUS every
    one-bit-flip neighbor (n_planes + 1 buckets) — the recall knob for
    hyperplane LSH, recovering neighbors that fell just across one
    hyperplane.  Query-side fan-out only (candidates stay in one bucket),
    so the probe cost is (n_planes + 1) bucket lookups, never a wider
    candidate scan.  The signature XOR expansion is a single explode of a
    literal-free expression.
    """
    sig = lsh_signature(vec_col, dim, n_planes)
    nparts = candidates.sparkSession.sparkContext.defaultParallelism
    probes = F.array(
        F.col("sig"), *[F.col("sig").bitwiseXOR(F.lit(1 << p)) for p in range(n_planes)]
    )
    q = (
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("qvec"),
            sig.alias("sig"),
            l2_norm(F.col(vec_col)).alias("qnrm"),
        )
        .select("query_id", "qvec", "qnrm", F.explode(probes).alias("bucket"))
    )
    c = candidates.repartition(nparts).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cvec"),
        sig.alias("bucket"),
        l2_norm(F.col(vec_col)).alias("cnrm"),
    )
    scored = (
        c.join(F.broadcast(q), ["bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cos", dot(F.col("qvec"), F.col("cvec")) / (F.col("qnrm") * F.col("cnrm"))
        )
        # a candidate can only match one bucket of a given query (buckets
        # are distinct), so no pair dedup is needed
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("cos", 4).alias("cos"))
    )


def _cents_sql(centroids: "list[list[float]]") -> str:
    """Coarse-quantizer centroids as ONE array<array<double>> literal."""
    return (
        "array(" + ",".join(sql_double_array(c) for c in centroids) + ")"
    )


def _coarse_d2_entries(vec_sql: str, cents_col: str, n_cent: int) -> str:
    """array of (squared-L2-to-centroid-c, c) structs — the coarse
    quantizer's scoring table.  Same zip_with/aggregate left-fold the
    oracle replays; struct ordering breaks distance ties to the lower
    centroid id."""
    return (
        f"transform(sequence(0, {n_cent - 1}), c -> named_struct("
        f"'d', aggregate(zip_with(CAST({vec_sql} AS ARRAY<DOUBLE>), "
        f"{cents_col}[c], (x, y) -> (x - y) * (x - y)), "
        "CAST(0.0 AS DOUBLE), (acc, t) -> acc + t), "
        "'c', c))"
    )


def coarse_residuals(
    sample: "list[list[float]]", centroids: "list[list[float]]"
) -> "list[list[float]]":
    """Driver-side residual transform for PQ training: each sample row
    minus its nearest (squared-L2, tie -> lower id) coarse centroid.
    float64 end-to-end — bit-identical to both engines' in-plan math."""
    x = np.asarray(sample, dtype=np.float64)
    c = np.asarray(centroids, dtype=np.float64)
    d2 = ((x[:, None, :] - c[None, :, :]) ** 2).sum(axis=2)
    assign = d2.argmin(axis=1)  # argmin takes the FIRST min = lower id
    return [[float(v) for v in row] for row in x - c[assign]]


def ivf_pq_topk(
    queries: DataFrame,
    candidates: DataFrame,
    centroids: "list[list[float]]",
    codebooks: "list[list[list[float]]]",
    k: int = 10,
    nprobe: int = 2,
    rerank: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ with residual encoding — the production ANN disk layout
    (FAISS IndexIVFPQ): a coarse quantizer routes each vector to its
    nearest of |centroids| inverted lists, PQ codes are trained on and
    encode the RESIDUAL (vector minus its coarse centroid — residuals
    cluster far tighter than raw vectors, so the same code budget buys
    more precision), and a query ADC-scans only its nprobe nearest
    lists with per-list distance tables over (query - list_centroid).

    At 100 TB the candidate side is written partitioned by `cluster`
    storing only (id, 16 nibble codes): a probe reads
    nprobe/|centroids| of the table and never touches raw floats;
    the coarse centroids and codebook ride the plan as two bound
    literals (plan bytes independent of list count and M x K).

    Returns (query_id, neighbor_id, rank, approx_d2) — raw doubles, so
    anchored (data-row) centroids+codebooks make it oracle-exact.
    """
    n_cent = len(centroids)
    m_count = len(codebooks)
    dsub = len(codebooks[0][0])
    cents_sql = _cents_sql(centroids)
    resid_sql = (
        f"zip_with(CAST({vec_col} AS ARRAY<DOUBLE>), __cents[cluster], "
        "(x, y) -> x - y)"
    )
    # candidates: coarse-assign (pure map over one bound literal — zero
    # shuffle), then PQ-encode the residual
    c = (
        candidates.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col),
            F.expr(cents_sql).alias("__cents"),
        )
        .withColumn(
            "cluster",
            F.expr(
                "array_min("
                + _coarse_d2_entries(vec_col, "__cents", n_cent)
                + ").c"
            ),
        )
        .withColumn("resid", F.expr(resid_sql))
        .withColumn("__cb", F.expr(_codebook_sql(codebooks)))
        .select(
            "neighbor_id",
            "cluster",
            F.expr(_encode_expr("resid", "__cb", m_count, dsub)).alias("codes"),
        )
    )
    # queries: nprobe nearest lists (ascending (d, c) struct sort), one
    # row per probed list, each with its OWN residual distance tables
    dtab_expr = (
        f"transform(sequence(0, {m_count - 1}), m -> "
        "transform(__cb[m], cent -> "
        f"aggregate(zip_with(slice(resid, m * {dsub} + 1, {dsub}), "
        "cent, (x, y) -> (x - y) * (x - y)), "
        "CAST(0.0 AS DOUBLE), (acc, t) -> acc + t)))"
    )
    q = (
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col),
            F.expr(cents_sql).alias("__cents"),
        )
        .select(
            "query_id",
            vec_col,
            "__cents",
            F.explode(
                F.expr(
                    "slice(array_sort("
                    + _coarse_d2_entries(vec_col, "__cents", n_cent)
                    + f"), 1, {nprobe})"
                )
            ).alias("pc"),
        )
        .withColumn("cluster", F.col("pc.c"))
        .withColumn("resid", F.expr(resid_sql))
        .withColumn("__cb", F.expr(_codebook_sql(codebooks)))
        .select("query_id", "cluster", F.expr(dtab_expr).alias("dtabs"))
    )
    adc = F.expr(
        f"aggregate(sequence(0, {m_count - 1}), CAST(0.0 AS DOUBLE), "
        "(acc, m) -> acc + dtabs[m][codes[m]])"
    )
    scored = (
        c.join(F.broadcast(q), ["cluster"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("approx_d2", adc)
    )
    w = W.partitionBy("query_id").orderBy(F.asc("approx_d2"), F.asc("neighbor_id"))
    if not rerank:
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "rank", "approx_d2")
        )
    # refine stage (FAISS refine / ADC-then-exact): the ADC shortlist of
    # `rerank` ids per query joins back to full vectors — only R point
    # lookups per query ever read raw floats — and re-ranks by true L2,
    # recovering the recall that quantizing near-isotropic data loses
    shortlist = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= rerank)
        .select("query_id", "neighbor_id")
    )
    qv = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qvec"),
    )
    cv = candidates.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("cvec"),
    )
    exact = (
        shortlist.join(cv, "neighbor_id")
        .join(F.broadcast(qv), "query_id")
        .withColumn("approx_d2", _sq_l2(F.col("qvec"), F.col("cvec")))
    )
    w2 = W.partitionBy("query_id").orderBy(F.asc("approx_d2"), F.asc("neighbor_id"))
    return (
        exact.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "approx_d2")
    )
