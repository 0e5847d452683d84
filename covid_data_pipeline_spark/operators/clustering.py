"""Exact-arithmetic k-means (Lloyd) over embedding columns.

The reference ships no clustering operator; this is north-star surface
for the training-data pipeline (cluster-balanced sampling, semantic
bucketing, curriculum mixing — cf. cluster_aware_split_docs, which
consumes connected components today and can consume these centroids
instead).

Design — "integer-lattice Lloyd", chosen so the WHOLE algorithm is
cross-engine hash-verifiable (registry float policy) instead of the
usual floats-drift-so-rows-only compromise (the IVF coarse quantizer in
operators/similarity.py is the float variant):

- Coordinates are micro-quantized ONCE up front:
  ``q = CAST(ROUND(x * 1e6, 0) AS BIGINT)``. Quantization error is one
  part in 1e6 of a unit-scale embedding — far below cluster geometry.
- Distances are exact BIGINT sums of squared integer diffs (bounded by
  dims * (2e7)^2 ~ 2.6e16 per pair at |x| <= 10 — no overflow).
- Centroid update is FLOOR division on the integer sums
  (``(sx - pmod(sx, n)) / n``), written identically on both engines, so
  every iteration's state is a deterministic integer lattice point.
- Seeds are the k lowest rows under the portable md5-string order
  (``md5(CAST(id AS STRING))``, id tiebreak) — deterministic, uniform,
  and replayable in any SQL engine; cluster ids are 1..k in seed order.
- Ties in assignment break to the smallest cluster id (struct-min on
  ``(dist, cid)``).

Scale shape: each iteration is one broadcast of k centroids against the
vector table (k * dims BIGINTs — KBs), a struct-min argmin (map-side
combinable), and a (cid, pos) rollup of size k * dims. The only
driver-side state is the centroid matrix itself (the same tiny-metadata
re-entry the IVF/PQ trainers use). No all-pairs stage, no
single-partition pass; cost is O(iters * n * k * dims) flops exactly
like any distributed Lloyd.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

_CENT_SCHEMA = StructType(
    [
        StructField("cid", IntegerType(), False),
        StructField("c", ArrayType(LongType(), False), False),
    ]
)


def quantize_vectors(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: float = 1e6,
) -> DataFrame:
    """(id, q: array<long>) — micro-quantized copy of ``vec_col``."""
    return df.select(
        F.col(id_col).alias("_id"),
        F.transform(
            vec_col,
            lambda v: F.round(v.cast("double") * F.lit(scale), 0).cast(
                "long"
            ),
        ).alias("q"),
    )


def seed_centroids(q: DataFrame, k: int) -> list[tuple[int, list[int]]]:
    """First k vectors under the portable md5-string order, as
    (cid, coords) with cid = 1..k. orderBy().limit() plans as
    TakeOrderedAndProject (per-partition top-k, no global sort) — the
    single-partition row_number window this replaced cost ~0.5s of the
    benched IVF/k-means queries; the selected set and cid order are
    identical by construction."""
    rows = (
        q.select(
            F.md5(F.col("_id").cast("string")).alias("__m"), "_id", "q"
        )
        .orderBy("__m", "_id")
        .limit(k)
        .collect()
    )
    rows = sorted(rows, key=lambda r: (r["__m"], r["_id"]))
    return [
        (i + 1, [int(v) for v in r["q"]]) for i, r in enumerate(rows)
    ]


def _score(q: DataFrame, cents: list[tuple[int, list[int]]]) -> DataFrame:
    """(_id, cid, d): exact integer L2^2 from every vector to every
    centroid (k rows per vector; the k-way fan-out every Lloyd
    implementation pays, broadcast-side)."""
    spark = q.sparkSession
    cdf = spark.createDataFrame(cents, _CENT_SCHEMA)
    d = F.aggregate(
        F.zip_with("q", "c", lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    # bcast: model(k) centroid set
    return q.crossJoin(F.broadcast(cdf)).select("_id", "cid", d.alias("d"))


def _assign(q: DataFrame, cents: list[tuple[int, list[int]]]) -> DataFrame:
    """(_id, cid, d): nearest centroid by exact integer L2^2, ties to
    the smallest cid via lexicographic struct-min."""
    return (
        _score(q, cents)
        .groupBy("_id")
        .agg(F.min(F.struct("d", "cid")).alias("m"))
        .select(
            "_id", F.col("m.cid").alias("cid"), F.col("m.d").alias("d")
        )
    )


def _update(
    q: DataFrame,
    assign: DataFrame,
    cents: list[tuple[int, list[int]]],
) -> list[tuple[int, list[int]]]:
    """Floor-divided integer centroid means; empty clusters keep their
    previous coordinates."""
    rows = (
        assign.select("_id", "cid")
        .join(q, "_id")
        .select("cid", F.posexplode("q").alias("pos", "v"))
        .groupBy("cid", "pos")
        .agg(F.sum("v").alias("sx"), F.count(F.lit(1)).alias("n"))
        .collect()
    )
    new = {cid: list(c) for cid, c in cents}
    for r in rows:
        # Python // is floor division — identical to the oracle's
        # explicit (sx - pmod(sx, n)) // n form for every sign of sx.
        new[int(r["cid"])][int(r["pos"])] = int(r["sx"]) // int(r["n"])
    return sorted((cid, c) for cid, c in new.items())


def kmeans_lloyd(
    df: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: float = 1e6,
) -> DataFrame:
    """Run ``iters`` Lloyd updates from the md5-seeded start and return
    the FINAL assignment: (id_col, cluster_id, dist) where dist is the
    exact integer squared distance on the micro-lattice.

    ``iters`` counts centroid UPDATES; assignments are computed
    ``iters + 1`` times (the last one is the output)."""
    # One action per Lloyd step (seeds, k updates, final assignment)
    # re-enters qv — cut lineage once so they share a materialized
    # quantized table instead of re-running the scan + transform.
    qv = quantize_vectors(df, id_col, vec_col, scale).localCheckpoint(
        eager=False
    )
    cents = seed_centroids(qv, k)
    assign = _assign(qv, cents)
    for _ in range(iters):
        cents = _update(qv, assign, cents)
        assign = _assign(qv, cents)
    return assign.select(
        F.col("_id").alias(id_col),
        F.col("cid").alias("cluster_id"),
        F.col("d").alias("dist"),
    )


def kmeans_silhouette(
    df: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: float = 1e6,
) -> DataFrame:
    """Per-vector simplified (centroid-based) silhouette of the final
    Lloyd state: a = distance to the OWN final centroid, b = distance
    to the nearest OTHER final centroid, s = (b - a) / max(a, b),
    computed on sqrt of the exact lattice L2^2 — so a and b are the
    correctly-rounded doubles of exact integers and s is a
    deterministic IEEE expression on both engines.

    The centroid-based form (Hartigan's simplified silhouette) is the
    one that scales: O(n * k) instead of the textbook O(n^2) pairwise
    variant — the same reason MiniBatch/streaming k-means evaluators
    use it. Returns (id_col, cluster_id, silhouette)."""
    qv = quantize_vectors(df, id_col, vec_col, scale).localCheckpoint(
        eager=False
    )
    cents = seed_centroids(qv, k)
    assign = _assign(qv, cents)
    for _ in range(iters):
        cents = _update(qv, assign, cents)
        assign = _assign(qv, cents)
    scored = _score(qv, cents)
    own = assign.select("_id", F.col("cid").alias("own_cid"))
    ab = (
        scored.join(own, "_id")
        .groupBy("_id", "own_cid")
        .agg(
            F.max(
                F.when(F.col("cid") == F.col("own_cid"), F.col("d"))
            ).alias("a_d"),
            F.min(
                F.when(F.col("cid") != F.col("own_cid"), F.col("d"))
            ).alias("b_d"),
        )
    )
    a = F.sqrt(F.col("a_d").cast("double"))
    b = F.sqrt(F.col("b_d").cast("double"))
    return ab.select(
        F.col("_id").alias(id_col),
        F.col("own_cid").alias("cluster_id"),
        F.round((b - a) / F.greatest(a, b), 6).alias("silhouette"),
    )


def _kmeans_chain_sql(
    k: int = 8,
    iters: int = 2,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """The shared unrolled-CTE replay of the Lloyd trajectory, ending
    with ``km_d{iters+1}`` (all vector-to-centroid distances at the
    final state) and ``km_a{iters+1}`` (the final assignment) in
    scope. MATERIALIZED per step: each step CTE is referenced by the
    next assignment AND the next update — without it DuckDB re-expands
    the chain exponentially (the k-center gotcha)."""
    parts = [
        f"""
    WITH km_e AS MATERIALIZED (
      SELECT {id_col} AS _id,
             list_transform({vec_col},
                            x -> CAST(ROUND(x::DOUBLE * 1e6, 0) AS BIGINT))
               AS q
      FROM {table}),
    km_x AS MATERIALIZED (
      SELECT _id, generate_subscripts(q, 1) AS pos, unnest(q) AS v
      FROM km_e),
    km_seed AS MATERIALIZED (
      SELECT _id, CAST(rn AS INTEGER) AS cid FROM (
        SELECT _id, ROW_NUMBER() OVER (
          ORDER BY md5(CAST(_id AS VARCHAR)), _id) AS rn
        FROM km_e) s
      WHERE rn <= {k}),
    km_c0 AS MATERIALIZED (
      SELECT s.cid, x.pos, x.v AS c
      FROM km_seed s JOIN km_x x USING (_id))"""
    ]
    prev = "km_c0"
    for i in range(1, iters + 2):
        parts.append(
            f""",
    km_d{i} AS MATERIALIZED (
      SELECT x._id, c.cid,
             CAST(SUM((x.v - c.c) * (x.v - c.c)) AS BIGINT) AS d
      FROM km_x x JOIN {prev} c USING (pos) GROUP BY 1, 2),
    km_a{i} AS MATERIALIZED (
      SELECT _id, cid, d FROM (
        SELECT _id, cid, d, ROW_NUMBER() OVER (
          PARTITION BY _id ORDER BY d, cid) AS rn
        FROM km_d{i}) t
      WHERE rn = 1)"""
        )
        if i <= iters:
            parts.append(
                f""",
    km_u{i} AS MATERIALIZED (
      SELECT a.cid, x.pos, CAST(SUM(x.v) AS BIGINT) AS sx,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM km_a{i} a JOIN km_x x USING (_id) GROUP BY 1, 2),
    km_c{i} AS MATERIALIZED (
      SELECT p.cid, p.pos,
             CASE WHEN u.n IS NULL THEN p.c
                  ELSE (u.sx - ((u.sx % u.n) + u.n) % u.n) // u.n
             END AS c
      FROM {prev} p
      LEFT JOIN km_u{i} u ON p.cid = u.cid AND p.pos = u.pos)"""
            )
            prev = f"km_c{i}"
    return "".join(parts)


def kmeans_oracle_sql(
    k: int = 8,
    iters: int = 2,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """DuckDB replay of :func:`kmeans_lloyd`: the same seeds, the same
    integer lattice, the same floor-divided updates."""
    return (
        _kmeans_chain_sql(k, iters, table, id_col, vec_col)
        + f"""
    SELECT _id AS {id_col}, cid AS cluster_id, d AS dist
    FROM km_a{iters + 1}"""
    )


def kmeans_silhouette_oracle_sql(
    k: int = 8,
    iters: int = 2,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """DuckDB replay of :func:`kmeans_silhouette`: the Lloyd chain's
    final all-distances CTE pivots into (a, b) per vector, then the
    identical sqrt/ratio expression."""
    t = iters + 1
    return (
        _kmeans_chain_sql(k, iters, table, id_col, vec_col)
        + f""",
    km_ab AS (
      SELECT d._id, a.cid AS own_cid,
             MAX(CASE WHEN d.cid = a.cid THEN d.d END) AS a_d,
             MIN(CASE WHEN d.cid <> a.cid THEN d.d END) AS b_d
      FROM km_d{t} d JOIN km_a{t} a USING (_id)
      GROUP BY 1, 2)
    SELECT _id AS {id_col}, own_cid AS cluster_id,
           ROUND((sqrt(CAST(b_d AS DOUBLE)) - sqrt(CAST(a_d AS DOUBLE)))
                 / GREATEST(sqrt(CAST(a_d AS DOUBLE)),
                            sqrt(CAST(b_d AS DOUBLE))), 6) AS silhouette
    FROM km_ab"""
    )


def lattice_assign_np(
    df: DataFrame,
    cents: list[tuple[int, list[int]]],
    q_col: str = "q",
    cid_col: str = "cid",
    nprobe: int = 1,
) -> DataFrame:
    """Nearest-centroid assignment in Arrow/numpy over a PRE-QUANTIZED
    integer vector column (``q_col``, array<long> from
    :func:`quantize_vectors` — quantization stays Spark-side so no
    numpy float rounding semantics ever enter the trajectory). All
    arithmetic is int64 — exact — and a STABLE argsort of the distance
    row reproduces the (d, cid) struct order bit-for-bit (ties to the
    smaller cid, since ``cents`` is cid-ascending).

    ``nprobe=1`` appends the nearest ``cid_col``; ``nprobe>1`` emits one
    row per probed cell (the IVF query side). One mapInPandas node —
    the expression-tree twin costs Catalyst a centroids x dim literal
    forest per invocation (~seconds of driver time at 16x64; the same
    lesson as `similarity._centroid_scores`), the matmul form is flat."""
    import numpy as np

    from pyspark.sql.types import LongType, StructField, StructType

    C = np.array([c for _, c in sorted(cents)], dtype=np.int64)
    cids = np.array([cid for cid, _ in sorted(cents)], dtype=np.int64)
    npb = min(nprobe, C.shape[0])
    out_schema = StructType(
        [*df.schema.fields, StructField(cid_col, LongType(), False)]
    )
    in_cols = df.columns
    c2 = (C * C).sum(1)

    def assign(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            Q = np.stack(
                [np.asarray(v, dtype=np.int64) for v in pdf[q_col]]
            )
            d2 = (Q * Q).sum(1, keepdims=True) - 2 * (Q @ C.T) + c2[None, :]
            if npb == 1:
                out = pdf[in_cols].copy()
                out[cid_col] = cids[d2.argmin(axis=1)]
                yield out
            else:
                order = np.argsort(d2, axis=1, kind="stable")[:, :npb]
                out = pdf.iloc[
                    np.repeat(np.arange(len(pdf)), npb)
                ][in_cols].copy()
                out[cid_col] = cids[order].ravel()
                yield out

    return df.mapInPandas(assign, out_schema)


def train_centroids_lattice(
    df: DataFrame,
    k: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[tuple[int, list[int]]]:
    """The Lloyd trajectory's FINAL centroid matrix as (cid, micro-int
    coords) — the exact-replay coarse quantizer for lattice IVF
    (:func:`covid_data_pipeline_spark.operators.similarity.
    cosine_topk_ivf_lattice`). Driver state = k x dim BIGINTs.
    Assignments are exact-int64 Arrow maps (:func:`lattice_assign_np`);
    each iteration costs exactly ONE shuffle (the (cid, pos) rollup)."""
    qv = quantize_vectors(df, id_col, vec_col).localCheckpoint(eager=False)
    cents = seed_centroids(qv, k)
    for _ in range(iters):
        assigned = lattice_assign_np(qv, cents)
        rows = (
            assigned.select("cid", F.posexplode("q").alias("pos", "v"))
            .groupBy("cid", "pos")
            .agg(F.sum("v").alias("sx"), F.count(F.lit(1)).alias("n"))
            .collect()
        )
        new = {cid: list(c) for cid, c in cents}
        for r in rows:
            new[int(r["cid"])][int(r["pos"])] = int(r["sx"]) // int(r["n"])
        cents = sorted((cid, c) for cid, c in new.items())
    return cents


def ivf_lattice_oracle_sql(
    n_centroids: int = 16,
    iters: int = 2,
    nprobe: int = 4,
    top_k: int = 5,
    n_queries: int = 8,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """DuckDB replay of the ENTIRE lattice IVF search — quantizer
    training (the unrolled Lloyd chain), corpus cell assignment, query
    probes, candidate join, exact cosine scoring, top-k. Because every
    training/assignment step is exact integer arithmetic, even the
    APPROXIMATE candidate set is bit-replayable — no recall bound
    needed, the hash certifies the index itself."""
    t = iters + 1
    return (
        _kmeans_chain_sql(n_centroids, iters, table, id_col, vec_col)
        + f""",
    ivf_probe AS (
      SELECT _id AS query_id, cid FROM (
        SELECT _id, cid, ROW_NUMBER() OVER (
          PARTITION BY _id ORDER BY d, cid) AS rn
        FROM km_d{t} WHERE _id < {n_queries}) p
      WHERE rn <= {nprobe}),
    ivf_v AS (
      SELECT {id_col}, list_transform({vec_col}, x -> x::DOUBLE) AS ve
      FROM {table}),
    ivf_scored AS (
      SELECT p.query_id, a._id AS {id_col},
             ROUND(list_dot_product(q.ve, v.ve) /
                   (sqrt(list_dot_product(q.ve, q.ve)) *
                    sqrt(list_dot_product(v.ve, v.ve))), 4) AS similarity
      FROM ivf_probe p
      JOIN km_a{t} a USING (cid)
      JOIN ivf_v q ON q.{id_col} = p.query_id
      JOIN ivf_v v ON v.{id_col} = a._id
      WHERE a._id <> p.query_id)
    SELECT query_id, {id_col}, similarity FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY similarity DESC, {id_col}) AS rn
      FROM ivf_scored) s
    WHERE rn <= {top_k}"""
    )


def pca_power_scores(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    iters: int = 6,
    scale: float = 1e6,
    dim_weights: "Sequence[int] | None" = None,
) -> DataFrame:
    """Principal-direction projection, exact on the micro-lattice: the
    spectral member of the exact-replay toolbox (k-means = centroids,
    IVF/PQ = quantizers, this = the dominant covariance axis).

    1. Micro-quantize once (:func:`quantize_vectors` — same lattice as
       k-means/IVF).
    2. ONE corpus pass builds the exact n-scaled covariance
       ``C = n*sum(q_i q_j) - sum(q_i) sum(q_j)``: an Arrow task emits
       each batch's int64 ``X^T X`` / column sums (dim^2 rows per
       BATCH, never per row — a d^2 explode would multiply the corpus
       4096x), then one map-side-combining aggregate in DECIMAL(38,0).
    3. Fixed-point power iteration runs DRIVER-side on the collected
       d x d matrix in arbitrary-precision Python ints (the
       centroid-matrix pattern): ``iters`` steps of ``v <- C v``,
       re-normalized to L-inf = scale by FLOOR division each step —
       every intermediate is an exact integer, so a SQL oracle replays
       the trajectory bit-for-bit (DuckDB ``//`` truncates, so the
       oracle writes floor as ``(a - ((a%m)+m)%m) // m``; Python //
       already floors).
    4. Each vector's score is the exact BIGINT dot product
       ``sum_j q_j v_j`` — a zero-shuffle codegen projection.

    Returns ``(id_col, pc1_score)``. With a handful of iterations the
    direction is the dominant eigenvector up to the usual power-method
    convergence (ratio |l2/l1|^iters) — the DETERMINISM is exact even
    where the convergence is approximate, which is what makes the
    operator verifiable. ``dim_weights`` (integer, applied POST
    quantization so both engines stay exact) lets callers rescale axes
    — e.g. plant anisotropy on a near-isotropic corpus, or undo known
    per-dimension units. Degenerate all-zero covariance keeps the
    all-ones start vector."""
    import numpy as np
    import pyarrow as pa

    qv = quantize_vectors(df, id_col, vec_col, scale)
    if dim_weights is not None:
        if len(dim_weights) != dim:
            raise ValueError(
                f"dim_weights must have {dim} entries, got {len(dim_weights)}"
            )
        wlit = F.array(*[F.lit(int(w)).cast("long") for w in dim_weights])
        qv = qv.select(
            "_id", F.zip_with("q", wlit, lambda a, b: a * b).alias("q")
        )
    qv = qv.localCheckpoint(eager=False)

    out_schema = StructType(
        [
            StructField("i", IntegerType(), False),
            StructField("j", IntegerType(), False),
            StructField("p", LongType(), False),
        ]
    )

    def moments(batches):
        for batch in batches:
            col = batch.column(batch.schema.get_field_index("q"))
            if len(col) == 0:
                continue
            x = np.asarray(col.flatten(), dtype=np.int64).reshape(
                len(col), dim
            )
            g = x.T @ x  # int64-exact: |q| <= ~1e6 -> per-batch < 2^63
            s = x.sum(axis=0, dtype=np.int64)
            ii, jj = np.indices((dim, dim))
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(
                        np.concatenate(
                            [ii.ravel() + 1, np.arange(1, dim + 1), [0]]
                        ).astype("int32")
                    ),
                    pa.array(
                        np.concatenate(
                            [jj.ravel() + 1, np.zeros(dim), [0]]
                        ).astype("int32")
                    ),
                    pa.array(
                        np.concatenate([g.ravel(), s, [len(col)]]).astype(
                            "int64"
                        )
                    ),
                ],
                schema=pa.schema(
                    [
                        pa.field("i", pa.int32(), False),
                        pa.field("j", pa.int32(), False),
                        pa.field("p", pa.int64(), False),
                    ]
                ),
            )

    agg = (
        qv.select("q")
        .mapInArrow(moments, out_schema)
        .groupBy("i", "j")
        .agg(F.sum(F.col("p").cast("decimal(38,0)")).alias("p"))
        .collect()
    )
    pair = {}
    sums = [0] * (dim + 1)
    n = 0
    for r in agg:
        i, j, p = int(r["i"]), int(r["j"]), int(r["p"])
        if i == 0 and j == 0:
            n = p
        elif j == 0:
            sums[i] = p
        else:
            pair[(i, j)] = p
    if n == 0:
        # empty corpus: no moments were emitted, so the cov build below
        # would KeyError — return the empty (id, pc1_score) shape.
        return qv.select(
            F.col("_id").alias(id_col),
            F.lit(0).cast("long").alias("pc1_score"),
        )
    # exact n-scaled covariance and the power trajectory (python ints)
    sc = int(scale)
    v = [sc] * dim
    cov = {
        (i, j): n * pair[(i, j)] - sums[i] * sums[j]
        for i in range(1, dim + 1)
        for j in range(1, dim + 1)
    }
    for _ in range(iters):
        raw = [
            sum(cov[(i, j)] * v[j - 1] for j in range(1, dim + 1))
            for i in range(1, dim + 1)
        ]
        m = max(abs(r) for r in raw)
        if m == 0:
            break
        v = [(r * sc) // m for r in raw]  # python // floors

    vec = F.array(*[F.lit(int(c)).cast("long") for c in v])
    score = F.aggregate(
        F.zip_with(F.col("q"), vec, lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return qv.select(F.col("_id").alias(id_col), score.alias("pc1_score"))
