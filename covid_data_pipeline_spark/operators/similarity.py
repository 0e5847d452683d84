"""Similarity search over embedding columns (array<float>).

Two paths:

* brute-force cosine top-k — the exact baseline: broadcast the query
  set, one codegen'd dot product per (candidate, query), per-group
  top-k window. Cost O(|corpus| × |queries|) — right whenever the query
  set is small, at any corpus size (the corpus side stays partitioned,
  never collected).
* random-hyperplane LSH top-k — the scale path for big query sets:
  deterministic hyperplanes bucket vectors by sign bits; candidates
  only within matching buckets (multi-probe over bit-flip neighbors
  for recall). Turns all-pairs into a bucket-equi-join.

Everything is DataFrame built-ins (zip_with/aggregate); math runs in
DOUBLE to be reproducible across engines.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from covid_data_pipeline_spark.functions.scalar import round_stable


def _as_double(v: Column) -> Column:
    return F.transform(v, lambda x: x.cast("double"))


def _is_integral(df: DataFrame, col: str) -> bool:
    """True when ``col`` is an integral type the cogrouped Arrow
    scorers' hard-coded ``long`` output schema can represent losslessly.
    String/decimal/float ids must take the HOF join path instead."""
    return dict(df.dtypes).get(col) in {"tinyint", "smallint", "int", "bigint"}


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢbᵢ via zip_with + aggregate (JVM, no UDF)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x)
    )


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity in double precision; NULL when either norm is 0."""
    ad, bd = _as_double(a), _as_double(b)
    denom = l2_norm(ad) * l2_norm(bd)
    return F.when(denom > 0, dot(ad, bd) / denom)


def cosine_topk_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact top-k neighbors per query: broadcast queries × corpus,
    cosine, row_number ≤ k with (similarity DESC, candidate id) ordering.

    Scale: the corpus never shuffles — each partition scores its rows
    against the broadcast query block; only the tiny per-partition top-k
    survivors reach the window shuffle (WindowGroupLimit pushes the
    limit down).
    """
    from covid_data_pipeline_spark.operators.windows import top_k_per_group

    # bcast: delta query batch (caller-bounded shortlist)
    q = F.broadcast(
        queries.select(
            F.col(query_id_col), F.col(vec_col).alias("__qvec")
        )
    )
    scored = (
        corpus.select(F.col(id_col), F.col(vec_col))
        .crossJoin(q)
        .filter(F.col(id_col) != F.col(query_id_col))
        .withColumn("similarity", round_stable(cosine(F.col(vec_col), F.col("__qvec")), 4))
    )
    return top_k_per_group(
        scored,
        partition_by=[query_id_col],
        order_by=[F.col("similarity").desc(), F.col(id_col)],
        k=k,
    ).select(query_id_col, id_col, "similarity")


def _hyperplanes(dim: int, num_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random unit hyperplanes (pure-python LCG —
    reproducible everywhere, no numpy state)."""
    state = seed
    planes: list[list[float]] = []
    for _ in range(num_planes):
        v = []
        for _ in range(dim):
            # Park–Miller LCG → uniform(-1, 1)
            state = (state * 48271) % 2147483647
            v.append(state / 2147483647 * 2 - 1)
        norm = math.sqrt(sum(x * x for x in v)) or 1.0
        planes.append([x / norm for x in v])
    return planes


def with_lsh_bucket(
    df: DataFrame,
    dim: int,
    num_planes: int = 8,
    vec_col: str = "embedding",
    bucket_col: str = "bucket",
    seed: int = 42,
) -> DataFrame:
    """Sign-bit bucket id from ``num_planes`` fixed hyperplanes. Vectors
    with high cosine similarity land in the same bucket w.h.p."""
    planes = _hyperplanes(dim, num_planes, seed)
    bucket = F.lit(0).cast("long")
    v = _as_double(F.col(vec_col))
    for i, p in enumerate(planes):
        # Single array literal per plane — see _centroid_scores.
        bit = (dot(v, F.lit(p)) >= 0).cast("long")
        bucket = bucket + bit * F.lit(2 ** i).cast("long")
    return df.withColumn(bucket_col, bucket)


def cosine_topk_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    num_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    multiprobe_bits: int = 1,
) -> DataFrame:
    """Approximate top-k: only candidates whose bucket matches the query's
    bucket (or differs by ≤ ``multiprobe_bits`` sign bits, via probe
    expansion on the query side — the small side) are scored.

    Scale: candidate generation is an equi-join on ``bucket`` — shuffle
    keyed by bucket, work proportional to bucket sizes. Recall is tuned
    with num_planes (bucket granularity) × multiprobe_bits (probes).
    """
    from covid_data_pipeline_spark.operators.windows import top_k_per_group

    c = with_lsh_bucket(corpus, dim, num_planes, vec_col, "bucket")
    q = with_lsh_bucket(
        queries.select(F.col(query_id_col), F.col(vec_col).alias("__qvec")),
        dim,
        num_planes,
        "__qvec",
        "bucket",
    )
    # Multi-probe: expand each query to its bucket + single-bit flips.
    probes = [F.col("bucket")]
    if multiprobe_bits >= 1:
        probes += [
            F.col("bucket").bitwiseXOR(F.lit(2 ** i).cast("long"))
            for i in range(num_planes)
        ]
    q_probed = q.select(
        query_id_col, "__qvec", F.explode(F.array(*probes)).alias("bucket")
    )
    scored = (
        # bcast: delta query batch x nprobe
        c.join(F.broadcast(q_probed), on="bucket")
        .filter(F.col(id_col) != F.col(query_id_col))
        .withColumn("similarity", round_stable(cosine(F.col(vec_col), F.col("__qvec")), 4))
    )
    return top_k_per_group(
        scored,
        partition_by=[query_id_col],
        order_by=[F.col("similarity").desc(), F.col(id_col)],
        k=k,
    ).select(query_id_col, id_col, "similarity")


def cosine_topk_bruteforce_np(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact top-k via Arrow-batched numpy (``mapInPandas``): one BLAS
    matrix multiply per batch instead of per-element HOF evaluation —
    the vectorized twin of :func:`cosine_topk_bruteforce`, identical
    results (same rounding + tie order, oracle-checked).

    The query side is collected to the driver and closed over (same
    "small side broadcast" contract as the HOF variant); per input batch
    only the ≤ k best rows per query survive, so the final window shuffle
    sees O(batches × queries × k) rows regardless of corpus size.
    """
    import numpy as np
    import pandas as pd

    from pyspark.sql.types import StructType

    from covid_data_pipeline_spark.operators.windows import top_k_per_group

    q_rows = queries.select(query_id_col, vec_col).collect()
    qids = np.array([r[0] for r in q_rows])
    Q = np.array([list(r[1]) for r in q_rows], dtype=np.float64)
    Qn = Q / np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-300)

    out_schema = StructType(
        [
            queries.schema[query_id_col],
            corpus.schema[id_col],
        ]
    ).add("similarity", "double")

    def score(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            ids = pdf[id_col].to_numpy()
            M = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            Mn = M / np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-300)
            S = np.round(Mn @ Qn.T, 4) + 0.0
            frames = []
            for j, qid in enumerate(qids):
                mask = ids != qid
                sel_ids, sel_s = ids[mask], S[mask, j]
                order = np.lexsort((sel_ids, -sel_s))[:k]
                frames.append(
                    pd.DataFrame(
                        {
                            query_id_col: qid,
                            id_col: sel_ids[order],
                            "similarity": sel_s[order],
                        }
                    )
                )
            yield pd.concat(frames, ignore_index=True)

    partial = corpus.select(id_col, vec_col).mapInPandas(score, out_schema)
    return top_k_per_group(
        partial,
        partition_by=[query_id_col],
        order_by=[F.col("similarity").desc(), F.col(id_col)],
        k=k,
    ).select(query_id_col, id_col, "similarity")


# ---------------------------------------------------------------------------
# IVF (inverted-file) index: coarse k-means quantizer + probe-limited scan
# ---------------------------------------------------------------------------


def train_centroids(
    df: DataFrame,
    n_centroids: int = 16,
    iters: int = 2,
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Coarse quantizer via distributed Lloyd iterations on the unit
    sphere (spherical k-means — right geometry for cosine).

    Init is a deterministic hash-ordered sample; each iteration assigns
    distributively (argmax centroid dot) and recomputes means via
    posexplode → groupBy(cid, pos) → avg — only n_centroids × dim scalars
    ever reach the driver, so training scales to any corpus size.
    """
    rows = (
        df.select(_as_double(F.col(vec_col)).alias("v"))
        .orderBy(F.xxhash64(F.col("v")))
        .limit(n_centroids)
        .collect()
    )

    def _unit(v: list[float]) -> list[float]:
        n = math.sqrt(sum(x * x for x in v)) or 1.0
        return [x / n for x in v]

    centroids = [_unit(list(r["v"])) for r in rows]
    # A corpus smaller than n_centroids seeds fewer centroids; iterate
    # over what was actually seeded so the unassigned-cell fallback
    # (centroids[c]) can never index past the list.
    for _ in range(iters):
        # np assign: identical cells to the HOF form (tested), but the
        # plan is one mapInPandas node instead of a centroids x dim HOF
        # tree — per-iteration Catalyst planning drops from ~1.5s to ~0.1s
        # and the matmul runs in BLAS.
        assigned = with_ivf_cell_np(df, centroids, vec_col, "cid")
        means = (
            assigned.select("cid", F.posexplode(_as_double(F.col(vec_col))).alias("pos", "x"))
            .groupBy("cid", "pos")
            .agg(F.avg("x").alias("m"))
            .collect()
        )
        by_cid: dict[int, dict[int, float]] = {}
        for r in means:
            by_cid.setdefault(r["cid"], {})[r["pos"]] = r["m"]
        centroids = [
            _unit([by_cid[c][p] for p in sorted(by_cid[c])]) if c in by_cid else centroids[c]
            for c in range(len(centroids))
        ]
    return centroids


def _centroid_scores(vec: Column, centroids: list[list[float]]) -> list[Column]:
    # One array literal per centroid (F.lit on the list), NOT one F.lit
    # per element: n_centroids x dim scalar literals cost a py4j round
    # trip each to build and give Catalyst a thousands-of-leaves tree to
    # analyze — ~3s of driver time per query build at 16x64, all fixed
    # overhead that scales with the quantizer, not the data.
    v = _as_double(vec)
    return [dot(v, F.lit(c)) for c in centroids]


def with_ivf_cell(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    cid_col: str = "cid",
) -> DataFrame:
    """Assign each vector to its nearest centroid (max dot on the unit
    sphere). argmax via array_max over (score, cid) structs — struct
    ordering breaks ties toward the larger cid, deterministically."""
    scored = F.array(
        *[
            F.struct(s.alias("s"), F.lit(i).alias("c"))
            for i, s in enumerate(_centroid_scores(F.col(vec_col), centroids))
        ]
    )
    return df.withColumn(cid_col, F.array_max(scored)["c"])


def with_ivf_cell_np(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    cid_col: str = "cid",
) -> DataFrame:
    """Arrow/numpy twin of :func:`with_ivf_cell`: one matmul per batch
    against the centroid matrix instead of per-element HOF evaluation.
    Identical assignments (same argmax + larger-cid tie-break, tested).
    Use when the quantizer is big (≥~64 centroids) — the HOF expression
    costs O(centroids × dim) interpreted ops per row, the matmul runs in
    BLAS."""
    import numpy as np

    from pyspark.sql.types import LongType, StructField, StructType

    C = np.array(centroids, dtype=np.float64)  # (k, dim)
    out_schema = StructType(
        [*df.schema.fields, StructField(cid_col, LongType(), False)]
    )
    in_cols = df.columns

    def assign(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            M = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            S = M @ C.T  # (n, k)
            # argmax with larger-cid tie-break (match struct-max semantics):
            # reverse columns, argmax picks first max → largest original cid.
            rev = S[:, ::-1]
            cids = (C.shape[0] - 1) - rev.argmax(axis=1)
            out = pdf[in_cols].copy()
            out[cid_col] = cids.astype("int64")
            yield out

    return df.mapInPandas(assign, out_schema)


def with_probe_cells_np(
    df: DataFrame,
    centroids: list[list[float]],
    nprobe: int,
    vec_col: str = "embedding",
    cid_col: str = "cid",
) -> DataFrame:
    """Explode each query row into its ``nprobe`` nearest cells — the
    Arrow/numpy twin of the HOF probe expression (score desc, smaller
    cid on ties; a stable argsort of -scores reproduces the struct
    array_sort ordering exactly). Keeping the query side in a matmul
    means the probe plan carries no centroid-literal tree at all, so
    per-query driver planning stays flat as the quantizer grows."""
    import numpy as np

    from pyspark.sql.types import LongType, StructField, StructType

    C = np.array(centroids, dtype=np.float64)
    npb = min(nprobe, C.shape[0])
    out_schema = StructType(
        [*df.schema.fields, StructField(cid_col, LongType(), False)]
    )
    in_cols = df.columns

    def probe(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            M = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            order = np.argsort(-(M @ C.T), axis=1, kind="stable")[:, :npb]
            out = pdf.iloc[np.repeat(np.arange(len(pdf)), npb)][in_cols].copy()
            out[cid_col] = order.ravel().astype("int64")
            yield out

    return df.mapInPandas(probe, out_schema)


def cosine_topk_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
    centroids: list[list[float]] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Approximate top-k via IVF: corpus rows are scanned only in the
    ``nprobe`` cells nearest each query — candidate generation is an
    equi-join on the cell id, scoring ~nprobe/n_centroids of the corpus.

    Pass precomputed ``centroids`` to amortize training across queries
    (at warehouse scale: train once, store the cell assignment as a
    partition column, and the probe join becomes partition pruning).
    Corpus cells and query probes are assigned by the Arrow/BLAS maps
    (:func:`with_ivf_cell_np`, :func:`with_probe_cells_np`) — the
    expression form (:func:`with_ivf_cell`, kept as the tests'
    reference) embeds centroids × dim literals and its codegen cost
    grows with the quantizer; the matmul path is flat. Both produce
    identical cells.
    """
    from covid_data_pipeline_spark.operators.windows import top_k_per_group

    if centroids is None:
        centroids = train_centroids(corpus, n_centroids, vec_col=vec_col)
    c = with_ivf_cell_np(corpus, centroids, vec_col, "cid")
    q = with_probe_cells_np(
        queries.select(F.col(query_id_col), F.col(vec_col).alias("__qvec")),
        centroids,
        nprobe,
        "__qvec",
        "cid",
    )
    scored = (
        # bcast: delta query batch (probed)
        c.join(F.broadcast(q), on="cid")
        .filter(F.col(id_col) != F.col(query_id_col))
        .withColumn("similarity", round_stable(cosine(F.col(vec_col), F.col("__qvec")), 4))
    )
    return top_k_per_group(
        scored,
        partition_by=[query_id_col],
        order_by=[F.col("similarity").desc(), F.col(id_col)],
        k=k,
    ).select(query_id_col, id_col, "similarity")


def cosine_topk_ivf_lattice(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
    iters: int = 2,
    centroids: list[tuple[int, list[int]]] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """IVF top-k with the EXACT-REPLAY coarse quantizer: the integer-
    lattice Lloyd trainer (operators/clustering.py) replaces float
    spherical k-means, so quantizer training, cell assignment and query
    probes are all exact integer arithmetic and the whole search —
    including the approximate candidate set — hash-verifies against a
    plain-SQL replay (``clustering.ivf_lattice_oracle_sql``). On
    unit-norm embeddings the L2 lattice argmin IS spherical assignment,
    so cells match the cosine geometry of :func:`cosine_topk_ivf`.

    Scale shape mirrors the float path: training is the Lloyd loop
    (k x dim ints of driver state), assignment is a broadcast struct-min,
    the probe side is tiny (n_queries x nprobe) and broadcast into the
    cell equi-join, and only ~nprobe/n_centroids of the corpus is
    cosine-scored. Pass precomputed integer ``centroids`` to amortize
    training across queries (the _pretrained bench twin)."""
    from covid_data_pipeline_spark.operators import clustering as CL
    from covid_data_pipeline_spark.operators.windows import top_k_per_group

    if centroids is None:
        centroids = CL.train_centroids_lattice(
            corpus, k=n_centroids, iters=iters, id_col=id_col,
            vec_col=vec_col,
        )

    # Cell assignment and query probes never shuffle: quantization is a
    # Spark-side projection (so no numpy rounding semantics enter the
    # trajectory) and the exact-int64 argmin/argsort runs in ONE Arrow
    # map (`clustering.lattice_assign_np` — the expression-tree form
    # costs Catalyst a centroids x dim literal forest per invocation).
    # The corpus keeps (id, vec, cid) in one relation, so the only
    # shuffles left are the probe-cell equi-join and the final top-k.
    q_expr = F.transform(
        vec_col,
        lambda v: F.round(v.cast("double") * F.lit(1e6), 0).cast("long"),
    )
    cells = CL.lattice_assign_np(
        corpus.select(F.col(id_col), F.col(vec_col), q_expr.alias("q")),
        centroids,
    ).drop("q")
    probe = CL.lattice_assign_np(
        queries.select(
            F.col(query_id_col),
            _as_double(F.col(vec_col)).alias("__qvec"),
            q_expr.alias("q"),
        ),
        centroids,
        nprobe=nprobe,
    ).drop("q")
    cand = (
        # bcast: delta query batch x nprobe probes
        cells.join(F.broadcast(probe), "cid")
        .where(F.col(id_col) != F.col(query_id_col))
        .withColumn(
            "similarity", round_stable(cosine(F.col(vec_col), F.col("__qvec")), 4)
        )
    )
    return top_k_per_group(
        cand,
        partition_by=[query_id_col],
        order_by=[F.col("similarity").desc(), F.col(id_col)],
        k=k,
    ).select(query_id_col, id_col, "similarity")


def embedding_neardup_pairs(
    df: DataFrame,
    dim: int,
    threshold: float = 0.95,
    num_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket_size: int | None = 10_000,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, cosine ≥
    threshold), candidates restricted to same LSH bucket. The embedding
    arm of the dedup suite.

    The within-bucket self-join is quadratic in bucket size, and
    degenerate inputs (zero vectors, a constant embedding repeated by a
    broken upstream encoder) pile into one bucket. ``max_bucket_size``
    drops over-cap buckets (window count on the same key the join
    shuffles on — no extra shuffle); a dropped mega-bucket is by
    definition a constant-embedding cluster better handled by exact
    dedup on the vector hash than by pair enumeration.

    Integral id columns score each bucket's pairs in ONE cogrouped
    numpy task (:func:`_cogroup_neardup_scores`) instead of one
    interpreted HOF cosine per joined pair — bit-identical (same
    fold/op order; exact-set equality asserted in pytest, same DuckDB
    oracle) at a fraction of the CPU. The cogrouped scorer emits a
    fixed ``long`` id schema, so non-integral id columns (string /
    decimal ids) take the HOF path — same result, no silent
    miscast."""
    from pyspark.sql import Window

    b = with_lsh_bucket(df, dim, num_planes, vec_col, "bucket")
    if max_bucket_size is not None:
        w = Window.partitionBy("bucket")
        b = (
            b.withColumn("__bsz", F.count(F.lit(1)).over(w))
            .filter(F.col("__bsz") <= max_bucket_size)
            .drop("__bsz")
        )
    if _is_integral(df, id_col):
        return _cogroup_neardup_scores(
            b.select("bucket", F.col(id_col).alias("__id"),
                     _as_double(F.col(vec_col)).alias("__v")),
            threshold,
        )
    l = b.select(
        F.col("bucket"),
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("vec_a"),
    )
    r = b.select(
        F.col("bucket"),
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vec_b"),
    )
    return (
        l.join(r, on="bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("similarity", round_stable(cosine(F.col("vec_a"), F.col("vec_b")), 4))
        .filter(F.col("similarity") >= threshold)
        .select("id_a", "id_b", "similarity")
        .distinct()
    )


def _cogroup_neardup_scores(
    b: DataFrame, threshold: float, margin: float = 1.0e-4
) -> DataFrame:
    """Arrow twin of the within-bucket pair scorer — bit-identical to
    the HOF form: dot and both norms accumulate dim-sequentially
    (vectorized over pairs, same IEEE order as ``F.aggregate``), the
    division/multiplication mirror :func:`cosine`'s op order, and ROUND
    + the exact threshold filter stay in the JVM. Python only applies
    the SAFE pre-filter ``raw >= threshold - margin`` (one rounding
    quantum of headroom), a strict superset of every pair the rounded
    filter can keep. A single group (one bucket) arrives per task;
    the pair matrix is chunked to bound memory on capped hot buckets."""
    import pandas as pd  # noqa: F401

    def score(key, pdf):
        import numpy as np
        import pandas as pd

        if len(pdf) < 2:
            return pd.DataFrame({"id_a": [], "id_b": [], "__raw": []})
        V = np.stack(pdf["__v"].to_numpy())
        ids = pdf["__id"].to_numpy()
        dim = V.shape[1]
        nrm = np.zeros(len(V))
        for j in range(dim):
            nrm = nrm + V[:, j] * V[:, j]
        nrm = np.sqrt(nrm)
        outs = []
        for s in range(0, len(V), 1024):
            Vc, idc, nc = V[s : s + 1024], ids[s : s + 1024], nrm[s : s + 1024]
            acc = np.zeros((len(Vc), len(V)))
            for j in range(dim):
                acc += Vc[:, j : j + 1] * V[None, :, j]
            denom = nc[:, None] * nrm[None, :]
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = acc / denom
            keep = (
                (idc[:, None] < ids[None, :])
                & np.isfinite(cos)
                & (cos >= threshold - margin)
            )
            ii, jj = np.nonzero(keep)
            outs.append(
                pd.DataFrame(
                    {"id_a": idc[ii], "id_b": ids[jj], "__raw": cos[ii, jj]}
                )
            )
        return pd.concat(outs, ignore_index=True)

    return (
        b.groupBy("bucket")
        .applyInPandas(score, "id_a long, id_b long, __raw double")
        .withColumn("similarity", round_stable(F.col("__raw"), 4))
        .filter(F.col("similarity") >= threshold)
        .select("id_a", "id_b", "similarity")
        .distinct()
    )


def random_projection_matrix(
    in_dim: int, out_dim: int, seed: int = 97
) -> list[list[float]]:
    """Deterministic Gaussian Johnson–Lindenstrauss projection matrix
    (``out_dim`` rows of ``in_dim``), scaled by 1/sqrt(out_dim) so
    expected squared norms — and hence cosine geometry — are preserved.
    Seeded ``RandomState`` so every caller (Spark plan, oracle SQL
    builder, tests) sees the same matrix."""
    import numpy as np

    rng = np.random.RandomState(seed)
    return (
        rng.standard_normal((out_dim, in_dim)) / math.sqrt(out_dim)
    ).tolist()


def project_embeddings(
    df: DataFrame,
    matrix: list[list[float]],
    vec_col: str = "embedding",
    out_col: str = "proj",
) -> DataFrame:
    """Johnson–Lindenstrauss dimensionality reduction: ``out_col[j] =
    <vec, matrix[j]>``. The cheap scale lever for ANN — at 100 TB,
    projecting 1024-dim encoder outputs to 64 dims cuts every downstream
    dot product, shuffle byte, and LSH/IVF index build by 16× while
    distorting pairwise cosines by O(1/sqrt(out_dim)).

    Pure codegen'd projection: one array literal per output dim, the
    double-cast input let-bound so the cast runs once per row, not once
    per output dim. No shuffle, no UDF, no driver data."""
    from covid_data_pipeline_spark.functions.text import let

    v = _as_double(F.col(vec_col))
    proj = let(
        v, lambda x: F.array(*[dot(x, F.lit(row)) for row in matrix])
    )
    return df.withColumn(out_col, proj)


def quantize_int8(
    df: DataFrame,
    vec_col: str,
    qvec_col: str = "qvec",
    scale_col: str = "scale",
) -> DataFrame:
    """Symmetric per-vector int8 quantization: ``q_i = floor(x_i * s +
    0.5)`` with ``s = 127 / max|x|`` — the storage/bandwidth lever for
    100 TB embedding tables (4× smaller than float32 at rest, 4× fewer
    shuffle bytes; int8 dot products reconstruct cosines to ~1e-2,
    bounded by max|x|/127 per coordinate).

    Zero vectors quantize to zeros via an epsilon floor on the max.
    Round-half-up is spelled ``floor(x + 0.5)`` rather than ``round()``
    so both engines compute the identical IEEE expression (repo float
    policy: never decimal-round a value two engines must agree on).
    Pure codegen'd array transform — no UDF, no shuffle; dequantization
    is ``q * (1/s)``, kept exact by storing the scale alongside.
    """
    v = _as_double(F.col(vec_col))
    from covid_data_pipeline_spark.functions.text import let

    def q(x: Column) -> Column:
        maxabs = F.greatest(
            F.array_max(F.transform(x, F.abs)), F.lit(1e-30)
        )
        s = F.lit(127.0) / maxabs
        return F.struct(
            F.transform(x, lambda e: F.floor(e * s + F.lit(0.5)).cast("int")).alias(
                "__q"
            ),
            s.alias("__s"),
        )

    packed = let(v, q)
    return df.withColumn("__p", packed).select(
        "*",
        F.col("__p.__q").alias(qvec_col),
        F.col("__p.__s").alias(scale_col),
    ).drop("__p")


def knn_graph_exact(
    df: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str | None = None,
) -> DataFrame:
    """Exact kNN graph: for EVERY item, its k nearest neighbors by
    cosine (ties broken by neighbor id). Output (src_id, nbr_id,
    similarity).

    ``label_col`` switches the operator into HARD-NEGATIVE MINING for
    contrastive training: candidates are restricted to pairs whose
    labels DIFFER, so each row's k neighbors are the most-similar items
    of a different class — the negatives that carry gradient signal
    (easy negatives are near-orthogonal and teach nothing). The filter
    runs before top-k selection, so every row still gets k negatives.

    This is the quadratic verification baseline for :func:`knn_graph_lsh`
    — every pair is scored, so cost is |corpus|² dot products. Usable up
    to a few hundred thousand vectors (the right side rides a broadcast;
    each partition of the left side scores against it map-side and only
    per-partition top-k survivors reach the window shuffle). Past that,
    use the LSH variant."""
    from covid_data_pipeline_spark.operators.windows import top_k_per_group

    l_cols = [F.col(id_col).alias("src_id"), F.col(vec_col).alias("__va")]
    r_cols = [F.col(id_col).alias("nbr_id"), F.col(vec_col).alias("__vb")]
    if label_col is not None:
        l_cols.append(F.col(label_col).alias("__la"))
        r_cols.append(F.col(label_col).alias("__lb"))
    l = df.select(*l_cols)
    # bcast: delta verification-baseline contract (corpus <= few 100k vectors documented above; scale path = knn_graph_lsh)
    r = F.broadcast(df.select(*r_cols))
    scored = l.crossJoin(r).filter(F.col("src_id") != F.col("nbr_id"))
    if label_col is not None:
        scored = scored.filter(F.col("__la") != F.col("__lb"))
    scored = scored.withColumn(
        "similarity", round_stable(cosine(F.col("__va"), F.col("__vb")), 4)
    )
    return top_k_per_group(
        scored,
        partition_by=["src_id"],
        order_by=[F.col("similarity").desc(), F.col("nbr_id")],
        k=k,
    ).select("src_id", "nbr_id", "similarity")


def knn_graph_lsh(
    df: DataFrame,
    dim: int,
    k: int = 5,
    num_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    multiprobe_bits: int = 1,
    max_bucket_size: int | None = 10_000,
    label_col: str | None = None,
) -> DataFrame:
    """Approximate kNN graph — the scale path for kNN-graph consumers
    (SemDeDup-style semantic dedup, graph clustering, diversity
    sampling) where BOTH sides are the full corpus and nothing can be
    broadcast.

    ``label_col`` = hard-negative mining at corpus scale (the LSH twin
    of :func:`knn_graph_exact`'s label mode): the different-label
    filter lands on the bucket-join output BEFORE top-k, so each row's
    k slots hold its hardest cross-class candidates; recall vs the
    exact hard-negative set is asserted in pytest.

    Candidate pairs are restricted to LSH-bucket collisions: the corpus
    is bucketed once; the probe side is expanded to its own bucket plus
    single-bit flips (``multiprobe_bits``), so pairs whose buckets
    differ by ≤ 1 sign bit are still candidates. The join is a plain
    equi-join on ``bucket`` — shuffle keyed by bucket, work bounded by
    Σ bucket² — with the same hot-bucket cap as
    :func:`embedding_neardup_pairs` (degenerate corpora collapse into
    one bucket; a dropped mega-bucket is a constant-embedding cluster
    better served by exact dedup). Recall vs the exact graph is asserted
    in pytest, tunable via num_planes × multiprobe_bits.

    Integral id columns are scored through the cogrouped numpy scorer
    (:func:`_cogroup_bucket_scores`) — bit-identical to the HOF fold
    (exact-set equality asserted in pytest; both paths hash-match the
    same DuckDB oracle) at ~10x less CPU: the dominant stress-scale
    cost was one interpreted fold per candidate pair. Like
    :func:`embedding_neardup_pairs`, non-integral id columns take the
    HOF path (the cogrouped scorer's output schema is
    ``long``-typed)."""
    from pyspark.sql import Window

    from covid_data_pipeline_spark.operators.windows import top_k_per_group

    b = with_lsh_bucket(df, dim, num_planes, vec_col, "bucket")
    if max_bucket_size is not None:
        w = Window.partitionBy("bucket")
        b = (
            b.withColumn("__bsz", F.count(F.lit(1)).over(w))
            .filter(F.col("__bsz") <= max_bucket_size)
            .drop("__bsz")
        )
    # Pre-normalize ONCE per row so each candidate pair costs a single
    # dot fold instead of dot + two norm folds (HOFs are interpreted,
    # not whole-stage-codegen'd — at ~70 candidates/row the per-pair
    # norm recomputation dominated the runtime 3:1). The norm lands in
    # its own projection first so the transform lambda references a
    # bound attribute, not the norm expression (HOF lambdas re-evaluate
    # outer EXPRESSIONS per element; bound columns are cheap).
    b = (
        b.withColumn("__norm", l2_norm(_as_double(F.col(vec_col))))
        .withColumn(
            "__vn",
            F.transform(
                _as_double(F.col(vec_col)), lambda x: x / F.col("__norm")
            ),
        )
    )
    # NOTE (r10 optimization round, measured): both sides of the bucket
    # join derive from this relation, so a lineage cut looks right —
    # but it materializes the NORMALIZED VECTORS (the corpus's heaviest
    # column) and benched consistently slower at sf0.1 (2.87s → 3.47s):
    # the two sides recompute in parallel stages of one job, while the
    # cut serializes the DAG and pays vector-block materialization.
    # Left uncut deliberately.
    probes = [F.col("bucket")]
    if multiprobe_bits >= 1:
        probes += [
            F.col("bucket").bitwiseXOR(F.lit(2 ** i).cast("long"))
            for i in range(num_planes)
        ]
    l_cols = [
        F.col(id_col).alias("src_id"),
        F.col("__vn").alias("__va"),
        F.explode(F.array(*probes)).alias("bucket"),
    ]
    r_cols = [
        F.col("bucket"), F.col(id_col).alias("nbr_id"), F.col("__vn").alias("__vb")
    ]
    if label_col is not None:
        l_cols.append(F.col(label_col).alias("__la"))
        r_cols.append(F.col(label_col).alias("__lb"))
    l = b.select(*l_cols)
    r = b.select(*r_cols)
    # No pair dedup needed: pair (a,b) can only collide through the ONE
    # probe mask equal to bucket(a) XOR bucket(b), so candidates are
    # already unique per (src, nbr).
    if _is_integral(df, id_col):
        scored = _cogroup_bucket_scores(l, r, k, with_labels=label_col is not None)
    else:
        scored = l.join(r, on="bucket").filter(
            F.col("src_id") != F.col("nbr_id")
        )
        if label_col is not None:
            scored = scored.filter(F.col("__la") != F.col("__lb"))
        scored = scored.withColumn(
            "similarity", round_stable(dot(F.col("__va"), F.col("__vb")), 4)
        )
    return top_k_per_group(
        scored,
        partition_by=["src_id"],
        order_by=[F.col("similarity").desc(), F.col("nbr_id")],
        k=k,
    ).select("src_id", "nbr_id", "similarity")


def _cogroup_bucket_scores(
    l: DataFrame,
    r: DataFrame,
    k: int,
    with_labels: bool,
    margin: float = 1.5e-4,
) -> DataFrame:
    """Arrow-vectorized twin of the HOF bucket-join scorer —
    BIT-IDENTICAL output, ~10x less CPU at stress scale.

    Instead of joining probe rows to occupants and folding one
    interpreted HOF dot per candidate pair, cogroup both sides by
    ``bucket`` and compute every pair's dot in numpy with the SAME
    accumulation order as the fold: ``acc += A[:, j] * B[:, j]`` is
    sequential over dims (vectorized over pairs), so each raw double is
    bitwise equal to ``F.aggregate``'s left-to-right result — verified
    by the exact-set equality test against the HOF path and by the
    shared DuckDB oracle. ROUND stays in the JVM (numpy's scale-multiply
    round can differ from Spark's exact-decimal HALF_UP on rare
    doubles), so Python only needs a prune that is SAFE, not exact:
    per source, keep candidates whose raw sim is within one rounding
    quantum (+ float headroom = ``margin``) of the k-th best — a strict
    superset of every candidate the rounded (sim DESC, nbr) order could
    admit into the final top-k. The downstream window then ranks
    exactly as before, over ≤ (k + ties) rows per (src, bucket) instead
    of the full candidate fan-out.

    Memory: the pair matrix is chunked to ≤ 1024 l-rows per block, so a
    capped hot bucket (10k occupants x 9 probe sources) peaks at
    ~80 MB/task, independent of corpus size."""
    import pandas as pd  # noqa: F401 (applyInPandas contract)

    out_fields = "src_id long, nbr_id long, __raw double"

    def score(lpdf, rpdf):
        import numpy as np
        import pandas as pd

        if len(lpdf) == 0 or len(rpdf) == 0:
            return pd.DataFrame({"src_id": [], "nbr_id": [], "__raw": []})
        A = np.stack(lpdf["__va"].to_numpy())  # (nl, dim) float64
        B = np.stack(rpdf["__vb"].to_numpy())  # (nr, dim)
        src = lpdf["src_id"].to_numpy()
        nbr = rpdf["nbr_id"].to_numpy()
        la = lpdf["__la"].to_numpy() if with_labels else None
        lb = rpdf["__lb"].to_numpy() if with_labels else None
        dim = A.shape[1]
        outs = []
        for s in range(0, len(A), 1024):
            Ac, srcc = A[s : s + 1024], src[s : s + 1024]
            acc = np.zeros((len(Ac), len(B)))
            for j in range(dim):
                # outer-product accumulation: dim-sequential like the
                # HOF fold, pair-vectorized like BLAS
                acc += Ac[:, j : j + 1] * B[None, :, j]
            valid = srcc[:, None] != nbr[None, :]
            if with_labels:
                valid &= la[s : s + 1024][:, None] != lb[None, :]
            acc_m = np.where(valid, acc, -np.inf)
            nv = valid.sum(axis=1)
            if len(B) > k:
                srt = -np.sort(-acc_m, axis=1)  # descending per row
                idx = np.minimum(k, np.maximum(nv, 1)) - 1
                kth = srt[np.arange(len(srt)), idx]
                keep = valid & (acc >= kth[:, None] - margin)
            else:
                keep = valid
            ii, jj = np.nonzero(keep)
            outs.append(
                pd.DataFrame(
                    {
                        "src_id": srcc[ii],
                        "nbr_id": nbr[jj],
                        "__raw": acc[ii, jj],
                    }
                )
            )
        return pd.concat(outs, ignore_index=True)

    l_cols = ["bucket", "src_id", "__va"] + (["__la"] if with_labels else [])
    r_cols = ["bucket", "nbr_id", "__vb"] + (["__lb"] if with_labels else [])
    scored = (
        l.select(*l_cols)
        .groupBy("bucket")
        .cogroup(r.select(*r_cols).groupBy("bucket"))
        .applyInPandas(score, out_fields)
    )
    return scored.withColumn("similarity", round_stable(F.col("__raw"), 4))


def standardize_embeddings(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "z_embedding",
    stats: list[tuple[float, float]] | None = None,
) -> DataFrame:
    """Per-dimension z-standardization (whitening) of an embedding
    column — the preprocessing step before ANN indexing / clustering
    when dimensions have wildly different scales.

    Two phases, mirroring :func:`train_centroids`'s bounded-collect
    contract: (1) per-dimension mean / sample-stddev via posexplode +
    a dim-keyed aggregation (dim groups, map-side combine), collected
    to the driver — dim × 2 scalars, NOT data; (2) a map-side
    ``transform`` against the broadcast literal stats — the corpus is
    standardized with ZERO shuffles. Pass precomputed ``stats`` to skip
    phase 1 entirely (the warehouse case: train stats once, apply to
    every new batch — and the only honest way to standardize streaming
    data).

    Float policy: stats are ROUNDed to 6 dp BEFORE use so a downstream
    4-dp rounding of z compares bit-stable across engines (raw
    mean/stddev differ across summation orders at ~1e-15)."""
    v = _as_double(F.col(vec_col))
    if stats is None:
        x = df.select(F.posexplode(v).alias("pos", "val"))
        rows = (
            x.groupBy("pos")
            .agg(
                F.round(F.avg("val"), 6).alias("mu"),
                F.round(F.stddev_samp("val"), 6).alias("sd"),
            )
            .collect()
        )
        by_pos = {r["pos"]: (r["mu"], r["sd"]) for r in rows}
        stats = [by_pos[i] for i in range(len(by_pos))]
    mus = F.lit([m for m, _ in stats])
    sds = F.lit([s for _, s in stats])
    z = F.transform(
        v,
        lambda xv, i: (xv - F.element_at(mus, i + 1))
        / F.element_at(sds, i + 1),
    )
    return df.select(F.col(id_col), z.alias(out_col))


# ---------------------------------------------------------------------------
# Product quantization (PQ): per-subspace codebooks + asymmetric scoring
# ---------------------------------------------------------------------------


def pq_train_codebooks(
    df: DataFrame,
    dim: int,
    n_sub: int = 8,
    n_codes: int = 16,
    iters: int = 2,
    vec_col: str = "embedding",
) -> list[list[list[float]]]:
    """Train product-quantization codebooks (Jégou et al., TPAMI 2011):
    split the (unit-normalized) vector into ``n_sub`` contiguous
    subspaces and run an independent L2 k-means with ``n_codes``
    centroids in EACH — but all subspaces train in the SAME distributed
    pass, so an iteration costs one corpus scan regardless of n_sub.

    Per iteration each Arrow batch computes its own per-(subspace,
    code) partial sums in numpy and emits only ``n_sub × n_codes ×
    d_sub`` aggregate rows — a hand-rolled map-side combine, so the
    shuffle volume is the CODEBOOK size, never the corpus. The driver
    only ever holds n_sub × n_codes × d_sub scalars (the
    :func:`train_centroids` bounded-collect contract). Init is a
    deterministic hash-ordered sample; cells that lose all members keep
    their previous centroid.

    Returns ``codebooks[s][c] = centroid`` (length dim // n_sub)."""
    import numpy as np

    assert dim % n_sub == 0, "n_sub must divide dim"
    d_sub = dim // n_sub

    rows = (
        df.select(_as_double(F.col(vec_col)).alias("v"))
        .orderBy(F.xxhash64(F.col("v")))
        .limit(n_codes)
        .collect()
    )

    def _unit_np(M: "np.ndarray") -> "np.ndarray":
        return M / np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-300)

    seed = _unit_np(np.array([list(r["v"]) for r in rows], dtype=np.float64))
    # (n_sub, n_seeded, d_sub)
    books = np.stack(
        [seed[:, s * d_sub : (s + 1) * d_sub] for s in range(n_sub)]
    )
    n_seeded = books.shape[1]

    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    part_schema = StructType(
        [
            StructField("s", LongType(), False),
            StructField("c", LongType(), False),
            StructField("vsum", ArrayType(DoubleType()), False),
            StructField("cnt", LongType(), False),
        ]
    )

    for _ in range(iters):
        B = books  # closure snapshot for this iteration

        def partials(batches):
            import pandas as pd

            for pdf in batches:
                if pdf.empty:
                    continue
                M = _unit_np(
                    np.stack(
                        [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
                    )
                )
                out = {"s": [], "c": [], "vsum": [], "cnt": []}
                for s in range(n_sub):
                    X = M[:, s * d_sub : (s + 1) * d_sub]  # (n, d_sub)
                    # L2 argmin; np.argmin keeps the FIRST min → smaller
                    # code on ties (deterministic)
                    d2 = (
                        (X * X).sum(1, keepdims=True)
                        - 2.0 * X @ B[s].T
                        + (B[s] * B[s]).sum(1)[None, :]
                    )
                    codes = d2.argmin(axis=1)
                    for c in range(B.shape[1]):
                        mask = codes == c
                        n = int(mask.sum())
                        if n == 0:
                            continue
                        out["s"].append(s)
                        out["c"].append(c)
                        out["vsum"].append(X[mask].sum(axis=0).tolist())
                        out["cnt"].append(n)
                yield pd.DataFrame(out)

        agg = (
            df.select(vec_col)
            .mapInPandas(partials, part_schema)
            .groupBy("s", "c")
            .agg(
                F.array(
                    *[
                        F.sum(F.col("vsum")[i]).alias(f"x{i}")
                        for i in range(d_sub)
                    ]
                ).alias("vsum"),
                F.sum("cnt").alias("cnt"),
            )
            .collect()
        )
        new = books.copy()
        for r in agg:
            new[r["s"], r["c"]] = np.array(r["vsum"]) / r["cnt"]
        books = new

    return [[books[s, c].tolist() for c in range(n_seeded)] for s in range(n_sub)]


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    code_col: str = "pq_code",
) -> DataFrame:
    """Encode each (unit-normalized) vector as ``n_sub`` codebook
    indices — ``n_sub × ceil(log2 n_codes)`` bits per vector instead of
    ``dim × 32``: 64-dim float32 → 8 bytes at 8×256, a 32× compression
    that turns a 100 TB embedding column into ~3 TB of scannable codes.

    Arrow-batched numpy argmin per subspace (first-min tie-break →
    smaller code, deterministic); a pure map — no shuffle, composes
    with any downstream partitioning."""
    import numpy as np

    from pyspark.sql.types import ArrayType, LongType, StructField, StructType

    B = np.array(codebooks, dtype=np.float64)  # (n_sub, n_codes, d_sub)
    n_sub, _, d_sub = B.shape
    out_schema = StructType(
        [*df.schema.fields, StructField(code_col, ArrayType(LongType()), False)]
    )
    in_cols = df.columns

    def encode(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            M = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            M = M / np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-300)
            codes = np.empty((len(M), n_sub), dtype=np.int64)
            for s in range(n_sub):
                X = M[:, s * d_sub : (s + 1) * d_sub]
                d2 = (
                    (X * X).sum(1, keepdims=True)
                    - 2.0 * X @ B[s].T
                    + (B[s] * B[s]).sum(1)[None, :]
                )
                codes[:, s] = d2.argmin(axis=1)
            out = pdf[in_cols].copy()
            out[code_col] = list(codes)
            yield out

    return df.mapInPandas(encode, out_schema)


def pq_topk(
    codes: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    k: int = 5,
    id_col: str = "vec_id",
    code_col: str = "pq_code",
    query_id_col: str = "query_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k by ASYMMETRIC distance computation (ADC): the
    query stays a full-precision vector; each corpus item is scored
    from its PQ codes via per-subspace lookup tables
    ``LUT[s][c] = q_s · codebook[s][c]`` — so a candidate costs n_sub
    table gathers + adds instead of a dim-length dot product, against
    32×-compressed data.

    Same small-side contract as :func:`cosine_topk_bruteforce_np`: the
    query side is collected and closed over (LUTs are
    queries × n_sub × n_codes doubles); the corpus streams through one
    Arrow pass, only per-batch top-k survivors reach the final window.
    Scores approximate cosine (both sides unit-normalized at
    encode/score time), rounded to 4 dp; recall vs the exact scan is
    asserted in pytest."""
    import numpy as np
    import pandas as pd

    from pyspark.sql.types import StructType

    from covid_data_pipeline_spark.operators.windows import top_k_per_group

    B = np.array(codebooks, dtype=np.float64)  # (n_sub, n_codes, d_sub)
    n_sub, n_codes, d_sub = B.shape

    q_rows = queries.select(query_id_col, vec_col).collect()
    qids = np.array([r[0] for r in q_rows])
    Q = np.array([list(r[1]) for r in q_rows], dtype=np.float64)
    Q = Q / np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-300)
    # LUT[j, s, c] = q_j[s-th slice] · codebook[s][c]
    LUT = np.einsum("jsd,scd->jsc", Q.reshape(len(Q), n_sub, d_sub), B)

    out_schema = StructType(
        [queries.schema[query_id_col], codes.schema[id_col]]
    ).add("similarity", "double")
    sub_idx = np.arange(n_sub)

    def score(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            ids = pdf[id_col].to_numpy()
            C = np.stack([np.asarray(c, dtype=np.int64) for c in pdf[code_col]])
            frames = []
            for j, qid in enumerate(qids):
                s = np.round(LUT[j][sub_idx[None, :], C].sum(axis=1), 4) + 0.0
                mask = ids != qid
                sel_ids, sel_s = ids[mask], s[mask]
                order = np.lexsort((sel_ids, -sel_s))[:k]
                frames.append(
                    pd.DataFrame(
                        {
                            query_id_col: qid,
                            id_col: sel_ids[order],
                            "similarity": sel_s[order],
                        }
                    )
                )
            yield pd.concat(frames, ignore_index=True)

    partial = codes.select(id_col, code_col).mapInPandas(score, out_schema)
    return top_k_per_group(
        partial,
        partition_by=[query_id_col],
        order_by=[F.col("similarity").desc(), F.col(id_col)],
        k=k,
    ).select(query_id_col, id_col, "similarity")


def pq_topk_rerank(
    codes: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    k: int = 5,
    shortlist: int = 50,
    id_col: str = "vec_id",
    code_col: str = "pq_code",
    query_id_col: str = "query_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ shortlist → exact re-rank — the production ANN pattern
    (FAISS-style): the compressed code column produces a ``shortlist``
    of candidates per query via ADC (cheap, storage-bound), then ONLY
    those queries × shortlist rows are re-scored against full-precision
    vectors for the final top-k. Quantization error decides which ~50
    candidates surface, not their final order, so recall approaches the
    exact scan at a fraction of its cost (full vectors are fetched for
    0.0001% of a 100 TB corpus instead of scanned).

    The shortlist rides a broadcast into the corpus join — the corpus
    never shuffles; exact scoring reuses the oracle-proven rounded
    cosine + id tie-break."""
    from covid_data_pipeline_spark.operators.windows import top_k_per_group

    short = pq_topk(
        codes, queries, codebooks, k=shortlist, id_col=id_col,
        code_col=code_col, query_id_col=query_id_col, vec_col=vec_col,
    ).select(query_id_col, id_col)
    # bcast: delta |queries| x shortlist id list
    cand = corpus.select(id_col, vec_col).join(F.broadcast(short), id_col)
    # bcast: delta query batch vectors
    qv = F.broadcast(
        queries.select(F.col(query_id_col), F.col(vec_col).alias("__qvec"))
    )
    scored = cand.join(qv, query_id_col).withColumn(
        "similarity", round_stable(cosine(F.col(vec_col), F.col("__qvec")), 4)
    )
    return top_k_per_group(
        scored,
        partition_by=[query_id_col],
        order_by=[F.col("similarity").desc(), F.col(id_col)],
        k=k,
    ).select(query_id_col, id_col, "similarity")


def pq_train_codebooks_lattice(
    df: DataFrame,
    dim: int,
    n_sub: int = 16,
    n_codes: int = 64,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[list[int]]]:
    """Exact-replay PQ codebooks: per-subspace Lloyd on the micro-integer
    lattice (the `operators/clustering.py` recipe generalized to an
    (s, c) composite cluster key). Seeds are the slices of the first
    ``n_codes`` vectors under the portable md5 order — one shared sample
    across subspaces, exactly like the float trainer. All subspaces
    train in the SAME Arrow pass per iteration: each batch emits only
    per-(s, c) int64 partial sums (hand-rolled map-side combine), so the
    shuffle volume is the codebook size and the driver holds
    n_sub x n_codes x d_sub ints. int64 arithmetic throughout — the
    trajectory is bit-identical on any engine and partitioning.

    Returns ``codebooks[s][c] = micro-int centroid`` (length dim//n_sub).
    """
    import numpy as np

    from covid_data_pipeline_spark.operators import clustering as CL

    assert dim % n_sub == 0, "n_sub must divide dim"
    d_sub = dim // n_sub
    qv = CL.quantize_vectors(df, id_col, vec_col).localCheckpoint(
        eager=False
    )
    seeds = CL.seed_centroids(qv, n_codes)  # [(c 1-based, full coords)]
    # books[s][c] — c is 0-based here; the oracle's c is 1-based (seed
    # row_number); keep 1-based cids to match the SQL replay.
    books = {
        (s, c): coords[s * d_sub : (s + 1) * d_sub]
        for c, coords in seeds
        for s in range(n_sub)
    }
    n_seeded = len(seeds)

    from pyspark.sql.types import (
        ArrayType,
        LongType,
        StructField,
        StructType,
    )

    part_schema = StructType(
        [
            StructField("s", LongType(), False),
            StructField("c", LongType(), False),
            StructField("vsum", ArrayType(LongType()), False),
            StructField("cnt", LongType(), False),
        ]
    )

    def _books_np() -> "np.ndarray":
        B = np.zeros((n_sub, n_seeded, d_sub), dtype=np.int64)
        for (s, c), coords in books.items():
            B[s, c - 1] = coords
        return B

    for _ in range(iters):
        B = _books_np()

        def partials(batches):
            import pandas as pd

            for pdf in batches:
                if pdf.empty:
                    continue
                M = np.stack(
                    [np.asarray(v, dtype=np.int64) for v in pdf["q"]]
                )
                out = {"s": [], "c": [], "vsum": [], "cnt": []}
                for s in range(n_sub):
                    X = M[:, s * d_sub : (s + 1) * d_sub]
                    d2 = (
                        (X * X).sum(1, keepdims=True)
                        - 2 * (X @ B[s].T)
                        + (B[s] * B[s]).sum(1)[None, :]
                    )
                    # first-min tie-break → smallest code (== SQL
                    # ORDER BY d, c)
                    codes = d2.argmin(axis=1)
                    for c in range(n_seeded):
                        mask = codes == c
                        n = int(mask.sum())
                        if n == 0:
                            continue
                        out["s"].append(s)
                        out["c"].append(c + 1)
                        out["vsum"].append(X[mask].sum(axis=0).tolist())
                        out["cnt"].append(n)
                yield pd.DataFrame(out)

        agg = (
            qv.select("q")
            .mapInPandas(partials, part_schema)
            .groupBy("s", "c")
            .agg(
                F.array(
                    *[
                        F.sum(F.col("vsum")[i]).alias(f"x{i}")
                        for i in range(d_sub)
                    ]
                ).alias("vsum"),
                F.sum("cnt").alias("cnt"),
            )
            .collect()
        )
        for r in agg:
            key = (int(r["s"]), int(r["c"]))
            n = int(r["cnt"])
            # Python // is floor — identical to the oracle's
            # mod-corrected division for every sign.
            books[key] = [int(v) // n for v in r["vsum"]]

    return [
        [books[(s, c)] for c in range(1, n_seeded + 1)]
        for s in range(n_sub)
    ]


def pq_topk_rerank_lattice(
    corpus: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[int]]],
    k: int = 5,
    shortlist: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """ADC shortlist → exact re-rank over the integer-lattice codebooks:
    encode (int argmin per subspace), build per-query int64 LUTs
    (micro-query · micro-centroid dot), score candidates by exact
    integer LUT sums, take the ``shortlist`` by (adc DESC, id), then
    re-rank ONLY those rows against full-precision vectors with the
    oracle-proven rounded cosine. Every step up to the rerank is exact
    integer arithmetic, so the shortlist SET (not just a recall bound)
    is SQL-replayable — see ``pq_lattice_oracle_sql``.

    Scale shape matches the float path: encode is a pure Arrow map, the
    ADC scan streams the code column once with per-batch top-shortlist
    survivors, the rerank fetches full vectors for queries x shortlist
    rows via broadcast."""
    import numpy as np
    import pandas as pd

    from pyspark.sql.types import StructType

    from covid_data_pipeline_spark.operators import clustering as CL
    from covid_data_pipeline_spark.operators.windows import top_k_per_group

    B = np.array(codebooks, dtype=np.int64)  # (n_sub, n_codes, d_sub)
    n_sub, n_codes, d_sub = B.shape

    qv = CL.quantize_vectors(corpus, id_col, vec_col)
    q_rows = (
        CL.quantize_vectors(queries, query_id_col, vec_col)
        .orderBy("_id")
        .collect()
    )
    qids = np.array([r["_id"] for r in q_rows])
    Q = np.array([list(r["q"]) for r in q_rows], dtype=np.int64)
    # LUT[j, s, c] = q_j[s-slice] · B[s][c] — exact int64
    LUT = np.einsum(
        "jsd,scd->jsc", Q.reshape(len(Q), n_sub, d_sub), B
    ).astype(np.int64)

    out_schema = StructType(
        [queries.schema[query_id_col], corpus.schema[id_col]]
    ).add("adc", "long")
    sub_idx = np.arange(n_sub)

    def score(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            ids = pdf["_id"].to_numpy()
            M = np.stack([np.asarray(v, dtype=np.int64) for v in pdf["q"]])
            C = np.empty((len(M), n_sub), dtype=np.int64)
            for s in range(n_sub):
                X = M[:, s * d_sub : (s + 1) * d_sub]
                d2 = (
                    (X * X).sum(1, keepdims=True)
                    - 2 * (X @ B[s].T)
                    + (B[s] * B[s]).sum(1)[None, :]
                )
                C[:, s] = d2.argmin(axis=1)
            frames = []
            for j, qid in enumerate(qids):
                adc = LUT[j][sub_idx[None, :], C].sum(axis=1)
                mask = ids != qid
                sel_ids, sel_a = ids[mask], adc[mask]
                order = np.lexsort((sel_ids, -sel_a))[:shortlist]
                frames.append(
                    pd.DataFrame(
                        {
                            query_id_col: qid,
                            id_col: sel_ids[order],
                            "adc": sel_a[order],
                        }
                    )
                )
            yield pd.concat(frames, ignore_index=True)

    partial = qv.mapInPandas(score, out_schema)
    short = top_k_per_group(
        partial,
        partition_by=[query_id_col],
        order_by=[F.col("adc").desc(), F.col(id_col)],
        k=shortlist,
    ).select(query_id_col, id_col)
    # bcast: delta |queries| x shortlist id list
    cand = corpus.select(id_col, vec_col).join(F.broadcast(short), id_col)
    # bcast: delta query batch vectors
    qvec = F.broadcast(
        queries.select(F.col(query_id_col), F.col(vec_col).alias("__qvec"))
    )
    scored = cand.join(qvec, query_id_col).withColumn(
        "similarity", round_stable(cosine(F.col(vec_col), F.col("__qvec")), 4)
    )
    return top_k_per_group(
        scored,
        partition_by=[query_id_col],
        order_by=[F.col("similarity").desc(), F.col(id_col)],
        k=k,
    ).select(query_id_col, id_col, "similarity")


def pq_lattice_oracle_sql(
    dim: int = 64,
    n_sub: int = 16,
    n_codes: int = 64,
    iters: int = 2,
    shortlist: int = 50,
    top_k: int = 5,
    n_queries: int = 8,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """DuckDB replay of :func:`pq_train_codebooks_lattice` +
    :func:`pq_topk_rerank_lattice`: per-subspace Lloyd as unrolled
    MATERIALIZED CTEs keyed by (s, c), integer ADC LUT scan, shortlist
    by (adc DESC, id), exact-cosine rerank."""
    d_sub = dim // n_sub
    parts = [
        f"""
    WITH pq_e AS MATERIALIZED (
      SELECT {id_col} AS _id,
             list_transform({vec_col},
                            x -> CAST(ROUND(x::DOUBLE * 1e6, 0) AS BIGINT))
               AS q
      FROM {table}),
    pq_x AS MATERIALIZED (
      SELECT _id, CAST((pos - 1) // {d_sub} AS INTEGER) AS s,
             CAST((pos - 1) % {d_sub} + 1 AS INTEGER) AS sp, v
      FROM (SELECT _id, generate_subscripts(q, 1) AS pos, unnest(q) AS v
            FROM pq_e) t),
    pq_seed AS MATERIALIZED (
      SELECT _id, CAST(rn AS INTEGER) AS c FROM (
        SELECT _id, ROW_NUMBER() OVER (
          ORDER BY md5(CAST(_id AS VARCHAR)), _id) AS rn
        FROM pq_e) t
      WHERE rn <= {n_codes}),
    pq_c0 AS MATERIALIZED (
      SELECT x.s, sd.c, x.sp, x.v AS cc
      FROM pq_seed sd JOIN pq_x x USING (_id))"""
    ]
    prev = "pq_c0"
    for i in range(1, iters + 1):
        parts.append(
            f""",
    pq_d{i} AS MATERIALIZED (
      SELECT x._id, x.s, c.c,
             CAST(SUM((x.v - c.cc) * (x.v - c.cc)) AS BIGINT) AS d
      FROM pq_x x JOIN {prev} c ON x.s = c.s AND x.sp = c.sp
      GROUP BY 1, 2, 3),
    pq_a{i} AS MATERIALIZED (
      SELECT _id, s, c FROM (
        SELECT _id, s, c, ROW_NUMBER() OVER (
          PARTITION BY _id, s ORDER BY d, c) AS rn
        FROM pq_d{i}) t
      WHERE rn = 1),
    pq_u{i} AS MATERIALIZED (
      SELECT a.s, a.c, x.sp, CAST(SUM(x.v) AS BIGINT) AS sx,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM pq_a{i} a JOIN pq_x x ON a._id = x._id AND a.s = x.s
      GROUP BY 1, 2, 3),
    pq_c{i} AS MATERIALIZED (
      SELECT p.s, p.c, p.sp,
             CASE WHEN u.n IS NULL THEN p.cc
                  ELSE (u.sx - ((u.sx % u.n) + u.n) % u.n) // u.n
             END AS cc
      FROM {prev} p
      LEFT JOIN pq_u{i} u ON p.s = u.s AND p.c = u.c AND p.sp = u.sp)"""
        )
        prev = f"pq_c{i}"
    parts.append(
        f""",
    pq_df AS MATERIALIZED (
      SELECT x._id, x.s, c.c,
             CAST(SUM((x.v - c.cc) * (x.v - c.cc)) AS BIGINT) AS d
      FROM pq_x x JOIN {prev} c ON x.s = c.s AND x.sp = c.sp
      GROUP BY 1, 2, 3),
    pq_enc AS MATERIALIZED (
      SELECT _id, s, c FROM (
        SELECT _id, s, c, ROW_NUMBER() OVER (
          PARTITION BY _id, s ORDER BY d, c) AS rn
        FROM pq_df) t
      WHERE rn = 1),
    pq_lut AS MATERIALIZED (
      SELECT q._id AS query_id, c.s, c.c,
             CAST(SUM(q.v * c.cc) AS BIGINT) AS l
      FROM pq_x q JOIN {prev} c ON q.s = c.s AND q.sp = c.sp
      WHERE q._id < {n_queries}
      GROUP BY 1, 2, 3),
    pq_adc AS MATERIALIZED (
      SELECT l.query_id, e._id AS {id_col}, CAST(SUM(l.l) AS BIGINT) AS adc
      FROM pq_enc e JOIN pq_lut l ON e.s = l.s AND e.c = l.c
      WHERE e._id <> l.query_id
      GROUP BY 1, 2),
    pq_short AS MATERIALIZED (
      SELECT query_id, {id_col} FROM (
        SELECT query_id, {id_col}, ROW_NUMBER() OVER (
          PARTITION BY query_id ORDER BY adc DESC, {id_col}) AS rn
        FROM pq_adc) t
      WHERE rn <= {shortlist}),
    pq_v AS (
      SELECT {id_col}, list_transform({vec_col}, x -> x::DOUBLE) AS ve
      FROM {table}),
    pq_rr AS (
      SELECT s.query_id, s.{id_col},
             ROUND(list_dot_product(q.ve, v.ve) /
                   (sqrt(list_dot_product(q.ve, q.ve)) *
                    sqrt(list_dot_product(v.ve, v.ve))), 4) AS similarity
      FROM pq_short s
      JOIN pq_v q ON q.{id_col} = s.query_id
      JOIN pq_v v ON v.{id_col} = s.{id_col})
    SELECT query_id, {id_col}, similarity FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY similarity DESC, {id_col}) AS rn
      FROM pq_rr) t
    WHERE rn <= {top_k}"""
    )
    return "".join(parts)


def margin_mutual_pairs(
    edges: DataFrame,
    threshold_bp: int = 10_000,
    src_col: str = "src_id",
    dst_col: str = "nbr_id",
    sim_col: str = "similarity",
) -> DataFrame:
    """Margin-based mutual-nearest-neighbor pair mining (the
    CCMatrix / LASER bitext-mining scorer, Artetxe & Schwenk 2019):
    score every cross-corpus candidate edge by its RATIO margin

        margin(x, y) = cos(x, y) / ((avgNN(x) + avgNN(y)) / 2)

    where ``avgNN(v)`` is the mean similarity of v's own k nearest
    cross-side neighbors, then keep pairs that are each other's
    highest-margin match. Dividing by the endpoints' neighborhood
    density cancels the "hubness" bias of raw cosine — a generic hub
    sentence scores high against everything, but its margin stays ≈ 1
    because its own top-k average is just as high.

    ``edges`` is a directed cross-side kNN edge list (``src_col``,
    ``dst_col``, ``sim_col`` rounded to 4dp) in which every node that
    appears as a dst also has its own out-edges — exactly what
    :func:`knn_graph_exact`/:func:`knn_graph_lsh` with ``label_col``
    (side) produce. The exact graph is the verification baseline; the
    LSH graph is the corpus-scale path (both sides large, nothing
    broadcastable).

    All scoring is integer-exact so the mined set is reproducible on
    any engine/partitioning: with ``dot = round(sim·10⁴)`` (an exact
    integer — sim is 4dp), ``A = Σ top-k dots`` and ``c = |top-k|``
    per node, the margin in basis points is

        margin_bp = (2 · dot · c_x · c_y · 10⁴) div (A_x·c_y + A_y·c_x)

    — BIGINT-safe (≤ 5·10⁹ at k ≤ 100) and floor-division-stable on
    both engines because every factor is positive (non-positive-dot
    edges are dropped first; they cannot be parallel pairs).

    Output: one row per mutual pair, ``id_a < id_b``, with
    ``margin_bp`` = the MIN of the two directions' margins (each
    endpoint's neighborhood yields its own margin; reporting and
    thresholding the min keeps the result symmetric in the pair, not
    in which endpoint got the smaller id) and ``margin_bp ≥
    threshold_bp``. A mutual-best pair always has
    margin ≥ 1 (its dot is both endpoints' top-1, hence ≥ both top-k
    averages), so 10_000 keeps every mutual match and higher values
    tighten precision.

    Scale shape: per-node totals are a map-side-combined groupBy over
    the k·n edge relation; they re-enter through two node-keyed hash
    joins (never a broadcast of the corpus); the rank-1 selection is a
    per-src window over ≤ k rows per key. No stage touches the raw
    vectors — mining cost is bounded by the edge list, so the same
    call scores a 500-row fixture or a billion-pair LSH graph."""
    e = edges.select(
        F.col(src_col).alias("__src"),
        F.col(dst_col).alias("__dst"),
        F.round(F.col(sim_col) * 10_000).cast("bigint").alias("__dot"),
    ).filter(F.col("__dot") > 0)
    # Lineage-cut the compact (src, dst, dot) edge projection: it feeds
    # the totals aggregate AND the scored join, totals re-enters twice
    # (both endpoints), and Catalyst shares no subtrees — without the
    # cut the ENTIRE upstream graph build (an LSH bucket join + top-k
    # over the corpus for knn_graph_lsh callers) re-runs once per
    # reference. Three BIGINT columns bounded by the edge count —
    # cheaper to hold than to recompute at any scale.
    e = e.localCheckpoint(eager=False)

    totals = e.groupBy("__src").agg(
        F.sum("__dot").alias("__A"), F.count("*").alias("__c")
    )

    scored = (
        e.join(
            totals.select(
                F.col("__src").alias("__src"),
                F.col("__A").alias("__Aa"),
                F.col("__c").alias("__ca"),
            ),
            "__src",
        )
        .join(
            totals.select(
                F.col("__src").alias("__dst"),
                F.col("__A").alias("__Ab"),
                F.col("__c").alias("__cb"),
            ),
            "__dst",
        )
        .withColumn(
            "margin_bp",
            F.expr(
                "(2 * __dot * __ca * __cb * 10000) div "
                "(__Aa * __cb + __Ab * __ca)"
            ),
        )
    )

    from covid_data_pipeline_spark.operators.windows import top_k_per_group

    best = (
        top_k_per_group(
            scored,
            partition_by=["__src"],
            order_by=[F.col("margin_bp").desc(), F.col("__dst")],
            k=1,
        )
        .select("__src", "__dst", "margin_bp")
        # best feeds both directions of the mutuality self-join below;
        # cut here so the totals joins + rank window run once, not twice.
        # ≤ one row per node.
        .localCheckpoint(eager=False)
    )

    # Keep BOTH directions' margins and threshold on the MIN: the two
    # endpoints see different top-k neighborhoods, so their margins
    # differ, and filtering only the low-id direction would admit pairs
    # whose reverse margin is below threshold (asymmetric w.r.t. which
    # endpoint has the smaller id).
    fwd = best.filter(F.col("__src") < F.col("__dst")).select(
        F.col("__src").alias("id_a"),
        F.col("__dst").alias("id_b"),
        F.col("margin_bp").alias("__m_fwd"),
    )
    bwd = best.filter(F.col("__src") > F.col("__dst")).select(
        F.col("__dst").alias("id_a"),
        F.col("__src").alias("id_b"),
        F.col("margin_bp").alias("__m_bwd"),
    )
    return (
        fwd.join(bwd, ["id_a", "id_b"])
        .select(
            "id_a",
            "id_b",
            F.least("__m_fwd", "__m_bwd").alias("margin_bp"),
        )
        .filter(F.col("margin_bp") >= F.lit(threshold_bp))
    )


def mmr_rerank(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 8,
    shortlist: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Maximal Marginal Relevance rerank (Carbonell & Goldstein 1998,
    λ=1/2): per query, greedily pick the candidate maximizing
    ``λ·sim(q,d) − (1−λ)·max_{s∈selected} sim(d,s)`` — the diversity
    rerank a RAG/retrieval stack runs on its ANN shortlist so the k
    passages aren't k near-duplicates of the same hit.

    Exactness: every cosine is snapped to integer BASIS POINTS with
    round-half-up spelled ``floor(x·1e4 + 0.5)`` (never decimal-round a
    derived value — 0.5·a − 0.5·b of 4-dp values lands exactly on
    round-ambiguous boundaries), and with λ=1/2 the doubled MMR
    objective ``mmr_x2_bp = s_bp − max_pair_bp`` is pure BIGINT: the
    whole greedy trajectory is hash-stable with (score DESC, id)
    tiebreaks. First pick has an empty selected set (max term 0), so
    its score is its query similarity.

    Scale shape: the shortlist is a per-query WindowGroupLimit over the
    corpus scan (swap in the LSH/IVF candidate stage past brute-force
    scale); the pairwise stage is shortlist²·|queries| rows, never
    corpus²; the greedy loop runs per query inside ONE applyInPandas
    over exact int64 frames (bounded: shortlist² rows per group — the
    isotonic-PAV pattern), so reranking any number of queries is one
    shuffle on query_id. Returns (query_id, rank, vec_id, mmr_x2_bp).
    """
    from pyspark.sql.window import Window as _W

    # bcast: delta query batch vectors
    q = F.broadcast(
        queries.select(
            F.col(query_id_col).alias("__qid"),
            F.col(vec_col).alias("__qvec"),
        )
    )
    bp = lambda c: F.floor(c * 10000.0 + 0.5).cast("long")  # noqa: E731
    scored = (
        corpus.select(F.col(id_col).alias("__cid"), F.col(vec_col).alias("__cv"))
        .join(q, F.col("__cid") != F.col("__qid"))
        .select(
            "__qid",
            "__cid",
            "__cv",
            bp(cosine(F.col("__cv"), F.col("__qvec"))).alias("__sbp"),
        )
    )
    w = _W.partitionBy("__qid").orderBy(F.col("__sbp").desc(), "__cid")
    cand = (
        scored.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= shortlist)
        .drop("__rn")
        .localCheckpoint(eager=False)  # feeds query-sim rows AND both pair sides
    )
    a = cand.select(
        F.col("__qid").alias("qid"),
        F.col("__cid").alias("id_a"),
        F.col("__cv").alias("__va"),
    )
    b = cand.select(
        F.col("__qid").alias("qid"),
        F.col("__cid").alias("id_b"),
        F.col("__cv").alias("__vb"),
    )
    # Explicit boolean marker separates query-similarity rows from pair
    # rows in the stacked frame (r6 ADVICE: an id_b = -1 sentinel would
    # silently corrupt the greedy input on a corpus containing negative
    # vec_ids).
    pairs = (
        a.join(b, "qid")
        .where(F.col("id_a") != F.col("id_b"))
        .select(
            "qid",
            "id_a",
            "id_b",
            bp(cosine(F.col("__va"), F.col("__vb"))).alias("bp"),
            F.lit(False).alias("is_query_sim"),
        )
    )
    qrows = cand.select(
        F.col("__qid").alias("qid"),
        F.col("__cid").alias("id_a"),
        F.col("__cid").alias("id_b"),  # placeholder, unused for query-sim rows
        F.col("__sbp").alias("bp"),
        F.lit(True).alias("is_query_sim"),
    )
    stacked = qrows.unionByName(pairs)

    def _greedy(pdf):
        import pandas as pd

        qid = int(pdf["qid"].iloc[0])
        sq = {
            int(r.id_a): int(r.bp)
            for r in pdf[pdf["is_query_sim"]].itertuples()
        }
        sim: dict[tuple[int, int], int] = {
            (int(r.id_a), int(r.id_b)): int(r.bp)
            for r in pdf[~pdf["is_query_sim"]].itertuples()
        }
        remaining = set(sq)
        selected: list[int] = []
        out = []
        for rank in range(1, min(k, len(sq)) + 1):
            best = None
            for d in remaining:
                mx = max((sim.get((d, s), 0) for s in selected), default=0)
                score = sq[d] - mx
                # (score DESC, id ASC) — strictly better, or tie on score
                # with a smaller id, wins.
                cur = (-score, d)
                if best is None or cur < best:
                    best = cur
                    best_id, best_score = d, score
            selected.append(best_id)
            remaining.discard(best_id)
            out.append((qid, rank, best_id, best_score))
        return pd.DataFrame(
            out, columns=["query_id", "rank", "vec_id", "mmr_x2_bp"]
        )

    return stacked.groupBy("qid").applyInPandas(
        _greedy, "query_id long, rank int, vec_id long, mmr_x2_bp long"
    )


def lof_from_edges(edges: DataFrame, k: int) -> DataFrame:
    """Local Outlier Factor (Breunig et al., SIGMOD 2000) from a
    directed kNN edge relation ``(src, nbr, d2)`` — the
    candidate-generation-agnostic core: feed it exact brute-force
    edges (:func:`lof_scores`), LSH-bucketed edges, or IVF-probed
    edges, and the reach / local-reachability-density / score stages
    are plain keyed shuffles over the |V|·k edge relation at any
    corpus size.

    Exact-integer formulation: ``d2`` must be integral (the quantized
    lattice); k-distance is the MAX d2 over a node's k edges,
    reachability ``max(kdist(nbr), d2)`` stays BIGINT, per-node reach
    sums are exact, and each LOF term ``ra/rb`` (= lrd_nbr / lrd_src)
    is ONE IEEE division quantized to micro units before the exact
    BIGINT mean — so scores hash-verify cross-engine (the DSIR
    micro-unit rule). ``greatest(·, 1)`` guards the all-duplicates
    degeneracy (>= k+1 coincident points → reach sums of 0): such
    clusters score LOF = 1, i.e. inliers, which matches the standard
    epsilon-guarded implementations.

    Returns one row per src node: ``(vec_id, kdist2, lof)``; LOF ~ 1
    = as dense as neighbors, >> 1 = outlier."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    kd = edges.groupBy("src").agg(F.max("d2").alias("__kd"))
    kd = kd.localCheckpoint(eager=False)  # joined twice below
    reach = edges.join(
        kd.withColumnRenamed("src", "nbr"), "nbr"
    ).select(
        "src", "nbr", F.greatest(F.col("__kd"), F.col("d2")).alias("__r")
    )
    sums = reach.groupBy("src").agg(F.sum("__r").alias("__ra"))
    sums = sums.localCheckpoint(eager=False)  # joined twice below
    terms = (
        edges.select("src", "nbr")
        .join(sums, "src")
        .join(
            sums.select(
                F.col("src").alias("nbr"), F.col("__ra").alias("__rb")
            ),
            "nbr",
        )
        .select(
            "src",
            F.round(
                F.greatest(F.col("__ra"), F.lit(1)).cast("double")
                / F.greatest(F.col("__rb"), F.lit(1)).cast("double")
                * 1e6,
                0,
            )
            .cast("bigint")
            .alias("__tm"),
        )
    )
    per_node = terms.groupBy("src").agg(
        F.sum("__tm").alias("__tsum"), F.count(F.lit(1)).alias("__n")
    )
    return per_node.join(kd, "src").select(
        F.col("src").alias("vec_id"),
        F.col("__kd").cast("bigint").alias("kdist2"),
        F.round(
            F.col("__tsum").cast("double")
            / (F.col("__n").cast("double") * 1e6),
            6,
        ).alias("lof"),
    )


def lof_scores(
    df: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quant: float = 1e6,
) -> DataFrame:
    """LOF over an embedding table via the exact brute-force kNN
    baseline: vectors are micro-quantized ONCE (float32 → DOUBLE →
    integer lattice, the k-means rule), squared euclidean distances
    are exact BIGINT fold sums, ties break on neighbor id, and
    :func:`lof_from_edges` does the rest. Same |corpus|² verification-
    baseline contract as :func:`knn_graph_exact` (right side rides a
    broadcast; documented ceiling a few hundred thousand vectors) —
    at scale, generate candidate edges with the LSH/IVF paths and call
    :func:`lof_from_edges` directly."""
    q = df.select(
        F.col(id_col).alias("__id"),
        F.transform(
            vec_col,
            lambda x: F.round(x.cast("double") * quant, 0).cast("long"),
        ).alias("__qv"),
    )
    l = q.select(F.col("__id").alias("src"), F.col("__qv").alias("__va"))
    # bcast: delta verification-baseline contract (see docstring)
    r = F.broadcast(
        q.select(F.col("__id").alias("nbr"), F.col("__qv").alias("__vb"))
    )
    d2 = F.aggregate(
        F.zip_with(
            F.col("__va"), F.col("__vb"), lambda a, b: (a - b) * (a - b)
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    scored = (
        l.crossJoin(r)
        .filter(F.col("src") != F.col("nbr"))
        .withColumn("d2", d2)
    )
    from covid_data_pipeline_spark.operators.windows import top_k_per_group

    edges = top_k_per_group(
        scored,
        partition_by=["src"],
        order_by=[F.col("d2").asc(), F.col("nbr").asc()],
        k=k,
    ).select("src", "nbr", "d2")
    return lof_from_edges(edges, k)
