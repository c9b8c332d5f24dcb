"""IVF-style approximate nearest-neighbor search (north-star scale path).

Brute-force cosine top-k (operators/search.py) scans every vector — exact, and
the right baseline, but a 100 TB embedding table needs sublinear probing. The
IVF (inverted-file) pattern:

1. OFFLINE: pick K coarse centroids (MLlib KMeans in production; any
   deterministic vector set works — the operator contract is the probe
   pipeline, not the training loop), assign every vector to its nearest
   centroid, and PARTITION the table by `cluster` so each cell is its own
   file set.
2. QUERY: score the K centroids against the query (K is tiny — driver-side),
   keep the `n_probe` nearest cells, and scan ONLY those partitions —
   partition pruning turns top-k into a scan of ~n_probe/K of the data.

Recall < 1.0 by construction; measure against `knn_brute` on the same query.

Reference parity: the reference's vector search is exact HNSW-backed top-k
(worker/app/services/qdrant_client.py:469-608 — J1 in SURVEY §2.3); IVF is
the Spark-native approximate analog for cluster scale, alongside MLlib LSH
(BucketedRandomProjectionLSH) for the hash-based alternative.

Determinism: every similarity here is the sequential-fold cosine from
functions/vectors.py, so assignments and scores replicate bit-for-bit in any
engine that folds left-to-right (the DuckDB oracle does).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from jsonify2ai_spark.functions.vectors import cosine_to_query, norm_py, vec_lit
from jsonify2ai_spark.session import local_rows_df


def centroid_scores(vector: Column, centroids: list[list[float]]) -> Column:
    """array<double> of cosine(vector, centroid_i) — one entry per centroid.

    Centroid norms are Python-precomputed constants (identical fold order, so
    bit-equal to computing them in the plan) and the row vector's norm is
    LET-BOUND once — naive per-centroid cosine_similarity would re-fold both
    norms K times per row (no CSE across array elements' aggregates).
    Formula stays dot/(|v|*|c|), numerically identical to the oracle.
    """
    from jsonify2ai_spark.functions.vectors import dot, l2_norm

    cnorms = [norm_py(c) for c in centroids]

    def mk(nv: Column) -> Column:
        sims = []
        for c, cn in zip(centroids, cnorms):
            denom = nv * F.lit(cn)
            sims.append(F.when(denom != 0, dot(vector, vec_lit(c)) / denom))
        return F.array(*sims)

    return F.element_at(F.transform(F.array(l2_norm(vector)), mk), 1)


def ivf_assign(
    df: DataFrame,
    centroids: list[list[float]],
    vector_col: str = "embedding",
    impl: str = "auto",
) -> DataFrame:
    """Append `cluster` = 0-based index of the nearest centroid (first wins on
    ties). Pure projection — at scale this is the one-time ETL that feeds
    `.write.partitionBy("cluster")`.

    ``impl="expr"``: the K cosines as one Column expression — exactly
    engine-replayable (the DuckDB oracle form), and codegen'd at small K.
    BUT Catalyst's whole-stage codegen bails on a K-element CreateArray of
    zip_with/aggregate folds somewhere past K~16 and falls back to
    INTERPRETED eval — measured ~2 orders of magnitude slower at K=64
    (jstack: ZipWith.eval/ArrayAggregate.eval hot in a CreateArray.map).
    ``impl="arrow"``: one numpy GEMM per Arrow batch
    (batch_norms x centroid_norms; argmax row-wise) — the 100 TB form for
    production K (hundreds to thousands of cells). Identical assignments up
    to float-summation order; ties break to the first max in both.
    ``impl="auto"`` picks expr for K <= 16 (oracle-parity zone) else arrow.
    """
    k = len(centroids)
    if impl == "auto":
        impl = "expr" if k <= 16 else "arrow"
    if impl == "expr":
        sims = centroid_scores(F.col(vector_col), centroids)
        cluster = F.array_position(sims, F.array_max(sims)) - 1
        return df.withColumn("cluster", cluster.cast("int"))
    if impl != "arrow":
        raise ValueError(f"unknown impl: {impl!r}")

    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    cents = np.asarray(centroids, dtype=np.float64)  # (K, dim)
    cnorms = np.sqrt((cents * cents).sum(axis=1))  # (K,)

    def _assign_batch(vs):
        m = np.asarray([np.asarray(v, dtype=np.float64) for v in vs])  # (B, dim)
        if m.size == 0:
            return pd.Series([], dtype="int32")
        dots = m @ cents.T  # (B, K) — BLAS GEMM, the whole batch at once
        vnorms = np.sqrt((m * m).sum(axis=1))  # (B,)
        denom = np.outer(vnorms, cnorms)
        with np.errstate(divide="ignore", invalid="ignore"):
            sims = np.where(denom != 0, dots / denom, -np.inf)
        return pd.Series(np.argmax(sims, axis=1).astype("int32"))

    # explicit pandas_udf(fn, type): `from __future__ import annotations`
    # stringifies hints, which the decorator's hint-inference can't resolve
    _assign = pandas_udf(_assign_batch, "int")

    return df.withColumn("cluster", _assign(F.col(vector_col).cast("array<double>")))


def probe_clusters(
    query_vec: list[float], centroids: list[list[float]], n_probe: int
) -> list[int]:
    """Driver-side: the n_probe centroid ids nearest to the query (ties by
    lower id). K centroids always fit on the driver — this is query planning,
    not data-plane work."""
    import math

    def cos(a: list[float], b: list[float]) -> float:
        dot = na = nb = 0.0
        for x, y in zip(a, b):
            dot += float(x) * float(y)
            na += float(x) * float(x)
            nb += float(y) * float(y)
        d = math.sqrt(na) * math.sqrt(nb)
        return dot / d if d else float("-inf")

    ranked = sorted(
        range(len(centroids)), key=lambda i: (-cos(query_vec, centroids[i]), i)
    )
    return ranked[:n_probe]


def kmeans_centroids(
    df: DataFrame,
    k: int = 16,
    vector_col: str = "embedding",
    seed: int = 7,
    max_iter: int = 10,
) -> list[list[float]]:
    """OFFLINE centroid training via MLlib KMeans — the production source of
    the IVF coarse quantizer (first-K vectors are only the deterministic test
    stand-in). Seeded, so the layout is reproducible; retraining cadence is an
    ETL concern, not a query concern."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feat = df.select(array_to_vector(F.col(vector_col).cast("array<double>")).alias("features"))
    model = KMeans(k=k, seed=seed, maxIter=max_iter).fit(feat)
    return [[float(x) for x in c] for c in model.clusterCenters()]


def lsh_similarity_join(
    df: DataFrame,
    cosine_threshold: float,
    vector_col: str = "embedding",
    id_col: str = "vec_id",
    bucket_length: float = 0.5,
    num_hash_tables: int = 4,
    seed: int = 7,
) -> DataFrame:
    """Approximate cosine near-dup pairs via MLlib BucketedRandomProjectionLSH.

    Unit-normalize first: on the sphere, euclidean distance d and cosine s
    satisfy d = sqrt(2 - 2s), so `cosine >= t` becomes `dist <= sqrt(2-2t)`.
    approxSimilarityJoin prunes candidate pairs to same-bucket collisions —
    the MLlib-native alternative to the hand-rolled banded joins in
    operators/dedup.py. Recall < 1 (tunable via num_hash_tables); measure
    against similarity_self_join.
    """
    import math

    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector, vector_to_array

    from jsonify2ai_spark.functions.vectors import l2_normalize

    dist_threshold = math.sqrt(max(0.0, 2.0 - 2.0 * cosine_threshold))
    normed = df.select(
        F.col(id_col),
        array_to_vector(l2_normalize(F.col(vector_col)).cast("array<double>")).alias("features"),
    )
    lsh = BucketedRandomProjectionLSH(
        inputCol="features",
        outputCol="hashes",
        bucketLength=bucket_length,
        numHashTables=num_hash_tables,
        seed=seed,
    )
    model = lsh.fit(normed)
    joined = model.approxSimilarityJoin(normed, normed, dist_threshold, distCol="dist")
    return (
        joined.select(
            F.col(f"datasetA.{id_col}").alias("a"),
            F.col(f"datasetB.{id_col}").alias("b"),
            # back to cosine: s = 1 - d^2/2 (unit vectors)
            F.round(F.lit(1.0) - F.col("dist") * F.col("dist") / F.lit(2.0), 6).alias("score"),
        )
        .filter(F.col("a") < F.col("b"))
        .distinct()
    )


def build_quantized_ivf(
    df: DataFrame,
    centroids: list[list[float]],
    vector_col: str = "embedding",
    id_col: str = "vec_id",
    impl: str = "auto",
    attr_cols: tuple[str, ...] = (),
) -> DataFrame:
    """OFFLINE ETL for the quantized-IVF serving index: (id, cluster, qvec,
    scale[, attrs]) — nearest-centroid assignment at FLOAT precision (the
    coarse quantizer sees the original vectors, as FAISS IVF+SQ8 does), then
    int8 scalar quantization of each vector. One map-only pass, no shuffle.

    At 100 TB this is the serving layout: ``.write.partitionBy("cluster")``
    makes the probe filter a partition prune, and the int8 codebook is 4-8x
    smaller than the float column — the difference between a probed cell
    that fits executor memory and one that spills. `scale` rides along for
    consumers that need dequantized magnitudes; cosine doesn't (scales
    cancel in :func:`int8_cosine`). ``attr_cols`` names payload attributes
    carried ON the index rows — the Qdrant payload model (payload lives
    with the point): a filtered query then evaluates its predicate INSIDE
    the probed cells' parquet scan (plain pushdown-able columns), never as
    a join against an external table."""
    from jsonify2ai_spark.functions.vectors import quantize_embeddings

    assigned = ivf_assign(
        df.select(id_col, vector_col, *attr_cols), centroids, vector_col, impl=impl
    )
    return quantize_embeddings(
        assigned, vector_col, id_col, carry_cols=("cluster", *attr_cols)
    )


def quantized_ivf_topk(
    index: DataFrame,
    query_vec: list[float],
    centroids: list[list[float]],
    k: int = 10,
    n_probe: int = 2,
    id_col: str = "vec_id",
    round_to: int | None = 6,
    where: Column | None = None,
) -> DataFrame:
    """Approximate top-k over the int8 serving index from
    :func:`build_quantized_ivf` — the composed 100 TB serving path: coarse
    probe selection on the driver (float centroids vs float query — query
    planning, not data-plane work), partition-prune to the n_probe nearest
    cells, then integer cosine (:func:`int8_cosine`) inside them only.

    The query is quantized ONCE on the driver with the same half-up-floor
    quantizer as the index (quantize_query_py), so scoring is integer
    arithmetic end-to-end until the final division; per-vector scales
    cancel and are never read. Output (id, cluster, qcos). Recall vs the
    exact float path is pinned by test + the PERF.md recall table.

    ``where`` (a Column over the index's payload attr columns — the
    reference's filtered kNN, qdrant_client.py:588-593) restricts
    candidates INSIDE the pruned cells: the predicate sits between the
    partition prune and the cosine, so it reaches the probed cells'
    parquet scan as a plain pushdown filter — vectors failing it are
    never scored (and their qvec bytes never read when the filter
    row-group-prunes). Scores of survivors are unchanged (per-vector
    quantization, no corpus scalars), so filtered serving at full probe
    equals unfiltered serving over the pre-filtered corpus exactly."""
    from jsonify2ai_spark.functions.vectors import int8_cosine, quantize_query_py

    probe = probe_clusters(query_vec, centroids, n_probe)
    qq = quantize_query_py(query_vec)
    qlit = vec_lit(qq, "int")
    pruned = index.filter(F.col("cluster").isin(probe))
    if where is not None:
        pruned = pruned.filter(where)
    scored = pruned.select(
        id_col,
        "cluster",
        int8_cosine(F.col("qvec"), qlit).alias("qcos"),
    ).filter(F.col("qcos").isNotNull())
    out = (
        scored.orderBy(F.col("qcos").desc(), F.col(id_col).asc())
        .limit(k)
    )
    if round_to is not None:
        out = out.withColumn("qcos", F.round("qcos", round_to))
    return out


def quantized_ivf_topk_batch(
    index: DataFrame,
    query_vecs: list[list[float]],
    centroids: list[list[float]],
    k: int = 10,
    n_probe: int = 2,
    id_col: str = "vec_id",
    round_to: int | None = 6,
    where: Column | None = None,
) -> DataFrame:
    """:func:`quantized_ivf_topk` for MANY queries in ONE Spark job —
    (query_id, id, cluster, qcos), query_id = position in ``query_vecs``.

    Per-query serving pays a ~200 ms scheduler floor on local mode (the r6
    arms table); a batch amortizes it once. Probe selection and query
    quantization stay driver-side exactly as in the single-query path;
    the (query_id, probed cluster, int8 query) triples broadcast into the
    partition-pruned index (one cluster filter covering the UNION of all
    probes — each query still scores only inside its own probes via the
    join key), then one window per query_id takes the top-k. Row-for-row
    parity with the single-query call is test-pinned.

    ``where`` restricts candidates for the WHOLE batch (one shared
    payload predicate — the common "kind = X for this request batch"
    serving shape); it applies inside the union-pruned scan before the
    broadcast join, so filtered-out vectors are neither scored nor
    fanned out per query. Per-query predicates = group the batch by
    predicate and issue one call per group."""
    from pyspark.sql import Window

    from jsonify2ai_spark.functions.vectors import int8_cosine, quantize_query_py

    spark = index.sparkSession
    rows = []
    for qi, qv in enumerate(query_vecs):
        probes = probe_clusters(qv, centroids, n_probe)
        qq = [int(x) for x in quantize_query_py(qv)]
        rows.extend((qi, int(c), qq) for c in probes)
    if not rows:
        # id type comes from the index (eval uses string ids): a hardcoded
        # `long` would make the degenerate empty-batch schema diverge from
        # the non-empty one, breaking downstream unions (r7 advisor)
        idt = index.schema[id_col].dataType.simpleString()
        return local_rows_df(
            spark, [], f"query_id int, {id_col} {idt}, cluster int, qcos double"
        )
    qdf = local_rows_df(
        spark, rows, "query_id int, cluster int, _q array<int>"
    )
    all_probes = sorted({c for _, c, _ in rows})
    pruned = index.filter(F.col("cluster").isin(all_probes))
    if where is not None:
        pruned = pruned.filter(where)
    scored = (
        pruned.join(F.broadcast(qdf), "cluster")
        .select(
            "query_id",
            id_col,
            "cluster",
            int8_cosine(F.col("qvec"), F.col("_q")).alias("qcos"),
        )
        .filter(F.col("qcos").isNotNull())
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("qcos").desc(), F.col(id_col).asc()
    )
    out = (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )
    if round_to is not None:
        out = out.withColumn("qcos", F.round("qcos", round_to))
    return out


# ---------------------------------------------------------------------------
# Product quantization (r15) — the next memory lever after int8
# ---------------------------------------------------------------------------


def pq_codebooks_from_rows(
    df: DataFrame,
    n_codes: int = 16,
    n_sub: int = 4,
    vector_col: str = "embedding",
    id_col: str = "vec_id",
    centroids: list[list[float]] | None = None,
) -> list[list[list[float]]]:
    """Deterministic corpus-derived PQ codebooks: the first ``n_codes``
    vectors by id, each sliced into ``n_sub`` equal subvectors —
    codebooks[m][c] is code c of subspace m.

    This is the q69 frozen-params discipline (IVF centroids =
    ``vec_id < K``) applied to PQ: the codebooks are build PARAMETERS
    read from the corpus itself, so the whole encode/serve pipeline is
    replayable in ANSI SQL (driver oracle q158) and append-invariant
    (no corpus statistics — a segment encoded later under the same
    codebooks serves identically, the store-lifecycle contract).
    Production-trained codebooks (seeded per-subspace k-means over a
    sample) drop in through the same interface; what the engine
    guarantees is everything AFTER the codebooks are fixed.

    ``centroids`` switches the donors to RESIDUAL space (r15, the
    FAISS IVF+PQ default): each donor is first assigned to its nearest
    coarse centroid (max cosine, ties to the lower id — the ivf_assign
    convention) and the codebook slices come from ``donor - centroid``.
    Still parameter-only and SQL-derivable (the q161 oracle recomputes
    the same assignment + subtraction from the parquet rows), so the
    whole residual pipeline keeps the replayability contract."""
    rows = (
        df.filter(F.col(id_col) < n_codes)
        .orderBy(id_col)
        .select(vector_col)
        .collect()
    )
    if len(rows) < n_codes:
        raise ValueError(
            f"pq codebooks need the first {n_codes} ids present; got {len(rows)}"
        )
    dim = len(rows[0][0])
    if dim % n_sub:
        raise ValueError(f"dim {dim} not divisible into {n_sub} subspaces")
    ds = dim // n_sub
    donors = [[float(x) for x in r[0]] for r in rows]
    if centroids is not None:
        donors = [
            [
                x - c
                for x, c in zip(v, centroids[probe_clusters(v, centroids, 1)[0]])
            ]
            for v in donors
        ]
    return [
        [v[m * ds : (m + 1) * ds] for v in donors]
        for m in range(n_sub)
    ]


def pq_codebooks_kmeans(
    df: DataFrame,
    n_codes: int = 256,
    n_sub: int = 8,
    vector_col: str = "embedding",
    sample: float = 1.0,
    seed: int = 7,
    max_iter: int = 10,
    centroids: list[list[float]] | None = None,
) -> list[list[list[float]]]:
    """PRODUCTION PQ codebooks: seeded MLlib KMeans per subspace over a
    sample — the FAISS training recipe (train on a slice, encode
    everything). Deterministic for a fixed (sample, seed); unlike
    :func:`pq_codebooks_from_rows` the entries are not SQL-derivable,
    so pipelines that need the DuckDB oracle use the corpus-derived
    variant and treat this one as an externally-supplied parameter
    (exactly how trained coarse centroids are handled).

    ``centroids`` trains the codebooks in RESIDUAL space (r15 — the
    FAISS IVF+PQ default): the sample is coarse-assigned and each
    training vector becomes ``v - centroid[cluster]``. Residuals of
    tight clusters concentrate near the origin, so the same K codes
    spend their resolution on the within-cell structure the plain
    encoding wastes on cross-cell offsets — the standard recall fix
    when PQ saturates (PERF.md r15 table)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    src = df if sample >= 1.0 else df.sample(sample, seed=seed)
    if centroids is not None:
        assigned = ivf_assign(
            src.select(_as_double_arr(F.col(vector_col)).alias("_vraw")),
            centroids, "_vraw",
        )
        src = _residualize(assigned, centroids, "_vraw", out_col="_v")
    else:
        src = src.select(_as_double_arr(F.col(vector_col)).alias("_v"))
    src = src.select("_v").localCheckpoint()
    dim = len(src.first()["_v"])
    if dim % n_sub:
        raise ValueError(f"dim {dim} not divisible into {n_sub} subspaces")
    ds = dim // n_sub
    out = []
    for m in range(n_sub):
        feat = src.select(
            array_to_vector(F.slice(F.col("_v"), m * ds + 1, ds)).alias("features")
        )
        model = KMeans(k=n_codes, seed=seed + m, maxIter=max_iter).fit(feat)
        out.append([[float(x) for x in c] for c in model.clusterCenters()])
    return out


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    vector_col: str = "embedding",
    id_col: str = "vec_id",
    carry_cols: tuple[str, ...] = (),
    round_to: int = 6,
    impl: str = "auto",
) -> DataFrame:
    """PQ encoding: (id[, carries], codes array<int> of length M) —
    per subspace, the index of the L2-nearest codebook entry.

    The 100 TB storage shape: M bytes per vector (M=4..16, K<=256)
    against 4*dim for float and dim for int8 — the ~10x lever past q67
    that keeps a trillion-vector serving layout in executor memory.
    One map-only pass, no shuffle. ``impl="expr"``: per subspace the K
    squared distances are plan-literal zip_with/aggregate folds
    (sequential, so DuckDB's list_sum replays them bit-for-bit),
    rounded to ``round_to`` before the argmin with ties to the LOWER
    code — the engine-portable comparison discipline (q133). BUT the
    plan carries K*M fold expressions, which drops out of codegen past
    K~16 (the ivf_assign lesson) — ``impl="arrow"`` computes each Arrow
    batch's codes with one numpy GEMM per subspace (||x||^2 - 2xC^T +
    ||C||^2, argmin row-wise), the form for production K=256. Same
    codes up to float-summation order at the argmin boundary;
    ``impl="auto"`` picks expr for K <= 16 (the oracle-parity zone).
    Codebook lookups at serve time never read the vector again."""
    n_sub = len(codebooks)
    n_codes = len(codebooks[0])
    ds = len(codebooks[0][0])
    if impl == "auto":
        impl = "expr" if n_codes <= 16 else "arrow"
    if impl == "arrow":
        import numpy as np
        import pandas as pd
        from pyspark.sql.functions import pandas_udf

        cbs = [np.asarray(codebooks[m], dtype=np.float64) for m in range(n_sub)]
        cb_sq = [(c * c).sum(axis=1) for c in cbs]  # (K,) per subspace

        def _codes_batch(vs):
            mat = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in vs]
            )
            if mat.size == 0:
                return pd.Series([], dtype="object")
            cols = []
            for m in range(n_sub):
                sub = mat[:, m * ds : (m + 1) * ds]  # (B, ds)
                d2 = (
                    (sub * sub).sum(axis=1, keepdims=True)
                    - 2.0 * (sub @ cbs[m].T)
                    + cb_sq[m][None, :]
                )
                cols.append(np.argmin(d2, axis=1).astype("int32"))
            return pd.Series(np.stack(cols, axis=1).tolist())

        _codes = pandas_udf(_codes_batch, "array<int>")
        return df.select(
            F.col(id_col),
            *[F.col(c) for c in carry_cols],
            _codes(_as_double_arr(F.col(vector_col))).alias("codes"),
        )
    if impl != "expr":
        raise ValueError(f"unknown impl: {impl!r}")
    # let-bind the subvector slices once per subspace: no CSE across
    # HOF lambda bodies, and each slice feeds K distance folds
    stage = df.select(
        F.col(id_col),
        *[F.col(c) for c in carry_cols],
        *[
            F.slice(_as_double_arr(F.col(vector_col)), m * ds + 1, ds).alias(f"_s{m}")
            for m in range(n_sub)
        ],
    )

    def _dist(m: int, c: int) -> Column:
        cb = vec_lit(codebooks[m][c])
        terms = F.zip_with(
            F.col(f"_s{m}"), cb, lambda x, y: (x - y) * (x - y)
        )
        return F.round(
            F.aggregate(terms, F.lit(0.0), lambda a, x: a + x), round_to
        )

    def _argmin(m: int) -> Column:
        return F.array_min(
            F.array(
                *[
                    F.struct(_dist(m, c).alias("d"), F.lit(c).alias("c"))
                    for c in range(n_codes)
                ]
            )
        ).getField("c")

    return stage.select(
        F.col(id_col),
        *[F.col(c) for c in carry_cols],
        F.array(*[_argmin(m) for m in range(n_sub)]).alias("codes"),
    )


def _as_double_arr(v: Column) -> Column:
    return v.cast("array<double>")


def _residualize(
    df: DataFrame,
    centroids: list[list[float]],
    vector_col: str,
    out_col: str = "_vres",
) -> DataFrame:
    """Append ``out_col = vector - centroid[cluster]`` to an already-
    assigned frame. The centroid table rides a broadcast join keyed on
    ``cluster`` (K rows — never plan literals, the LUT lesson), so the
    subtraction is one map-side zip_with per row."""
    cents = local_rows_df(
        df.sparkSession,
        [(i, [float(x) for x in c]) for i, c in enumerate(centroids)],
        "cluster int, _cent array<double>",
    )
    return (
        df.join(F.broadcast(cents), "cluster")
        .withColumn(
            out_col,
            F.zip_with(
                _as_double_arr(F.col(vector_col)),
                F.col("_cent"),
                lambda x, y: x - y,
            ),
        )
        .drop("_cent")
    )


def build_pq_ivf(
    df: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    vector_col: str = "embedding",
    id_col: str = "vec_id",
    attr_cols: tuple[str, ...] = (),
    residual: bool = False,
) -> DataFrame:
    """OFFLINE ETL for the PQ serving index: (id, cluster, codes[,
    attrs]) — float-precision coarse assignment (the quantizer sees the
    original vectors, FAISS IVF+PQ's layout), then PQ codes. Write it
    ``partitionBy("cluster")`` exactly like :func:`build_quantized_ivf`;
    the rows are ~M bytes each, the 4-8x past int8.

    ``residual=True`` (r15) encodes ``v - centroid[cluster]`` instead
    of ``v`` — FAISS's IVF+PQ default. The codebooks must then be
    residual-space (pass ``centroids=`` to the codebook trainers).
    Still per-vector arithmetic under frozen parameters (centroids +
    codebooks), so the append/delete/serve lifecycle contract is
    unchanged: a segment encoded later serves identically."""
    assigned = ivf_assign(
        df.select(id_col, vector_col, *attr_cols), centroids, vector_col
    )
    if residual:
        assigned = _residualize(assigned, centroids, vector_col)
        vector_col = "_vres"
    return pq_encode(
        assigned, codebooks, vector_col, id_col,
        carry_cols=("cluster", *attr_cols),
    )


def pq_ivf_topk(
    index: DataFrame,
    query_vec: list[float],
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    k: int = 10,
    n_probe: int = 2,
    id_col: str = "vec_id",
    round_to: int | None = 6,
    where: Column | None = None,
    residual: bool = False,
) -> DataFrame:
    """Approximate top-k over the PQ index — asymmetric distance
    computation (ADC, Jegou et al. 2011): the query stays FLOAT, and
    per subspace the dot/norm against each codebook entry is
    precomputed ONCE driver-side (M*K doubles — a lookup table), so
    each row's score is M array lookups + an explicit m-ordered sum:
    zero per-row arithmetic on the vector, which no longer exists. cosine ≈ Σ_m dot_m[code] / (sqrt(Σ_m nrm_m[code]) *
    |q|); the additions run in fixed m order on BOTH engines, so the
    oracle replays the doubles bit-for-bit. ``where`` is the q156
    filtered-serving face on the PQ layout.

    ``residual=True`` (r15) serves a residual-encoded index: the
    reconstruction is ``centroid[cluster] + decode(codes)``, so
    cosine ≈ (q·c + Σ_m dot_m[code]) / (sqrt(|c|² + 2·Σ_m x_m[code] +
    Σ_m nrm_m[code]) · |q|) where x_m[code] = c_sub_m · cb_m[code] is a
    per-(probed cluster, m, code) lookup table — n_probe·M·K doubles
    computed once driver-side, riding a broadcast frame keyed on
    ``cluster``. Still zero per-row vector arithmetic; every sum keeps
    its fixed order, so the q161 oracle replays it exactly."""
    n_sub = len(codebooks)
    probe = probe_clusters(query_vec, centroids, n_probe)
    ds = len(codebooks[0][0])
    qv = [float(x) for x in query_vec]
    qsubs = [qv[m * ds : (m + 1) * ds] for m in range(n_sub)]
    qnorm = norm_py(qv)
    dot_flat = [
        _seq_sum([a * b for a, b in zip(qsubs[m], cb)])
        for m in range(n_sub)
        for cb in codebooks[m]
    ]
    pruned = index.filter(F.col("cluster").isin(probe))
    if where is not None:
        pruned = pruned.filter(where)
    # the LUTs ride a ONE-ROW broadcast frame, never plan literals: at
    # production size (M=8, K=256) literal arrays put ~4k constants into
    # the plan and analysis/codegen dominated serving (~2.3 s/query FLAT
    # across n_probe vs ~0.3 s for int8 — bench_ann_recall.py's PQ arm,
    # r15); as broadcast data the plan stays constant-size
    ldf = local_rows_df(
        index.sparkSession,
        [(dot_flat, _pq_nrm_flat(codebooks), float(qnorm))],
        "dot_lut array<double>, nrm_lut array<double>, qnorm double",
    )
    if residual:
        cdf = local_rows_df(
            index.sparkSession,
            [_pq_res_cluster_row(cid, qv, centroids, codebooks) for cid in probe],
            "cluster int, qc double, cnorm double, x_lut array<double>",
        )
        scored = _pq_adc_score_residual(
            pruned.crossJoin(F.broadcast(ldf)).join(F.broadcast(cdf), "cluster"),
            n_sub, len(codebooks[0]), id_col,
        )
    else:
        scored = _pq_adc_score(
            pruned.crossJoin(F.broadcast(ldf)), n_sub, len(codebooks[0]), id_col
        )
    out = scored.select(id_col, "cluster", "pqcos").orderBy(
        F.col("pqcos").desc(), F.col(id_col).asc()
    ).limit(k)
    if round_to is not None:
        out = out.withColumn("pqcos", F.round("pqcos", round_to))
    return out


def _pq_res_cluster_row(
    cid: int,
    qv: list[float],
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
) -> tuple:
    """One probed cluster's residual-serving terms: q·c, |c|², and the
    flattened (m-major) cross LUT c_sub_m · cb_m[code] — all sequential
    folds so the oracle's list_sum replays them bit-for-bit."""
    c = [float(x) for x in centroids[cid]]
    ds = len(codebooks[0][0])
    qc = _seq_sum([a * b for a, b in zip(qv, c)])
    cnorm = _seq_sum([x * x for x in c])
    x_flat = [
        _seq_sum([a * b for a, b in zip(c[m * ds : (m + 1) * ds], cb)])
        for m in range(len(codebooks))
        for cb in codebooks[m]
    ]
    return (int(cid), qc, cnorm, x_flat)


def _pq_adc_score_residual(
    joined: DataFrame, n_sub: int, n_codes: int, id_col: str
) -> DataFrame:
    """ADC over residual codes, given a frame carrying (codes, cluster,
    dot_lut, nrm_lut, qnorm, qc, cnorm, x_lut): reconstruction is
    c + r̂, so dot = qc + Σ_m dot_lut and |c + r̂|² = cnorm + 2·Σ_m
    x_lut + Σ_m nrm_lut — every sum in fixed m order, left-to-right on
    both engines (the q158/q161 discipline)."""

    def _code(m: int) -> Column:
        return F.element_at(F.col("codes"), m + 1)

    dot = F.col("qc") + F.element_at(F.col("dot_lut"), _code(0) + 1)
    x = F.element_at(F.col("x_lut"), _code(0) + 1)
    nrm = F.element_at(F.col("nrm_lut"), _code(0) + 1)
    for m in range(1, n_sub):
        off = F.lit(m * n_codes)
        dot = dot + F.element_at(F.col("dot_lut"), off + _code(m) + 1)
        x = x + F.element_at(F.col("x_lut"), off + _code(m) + 1)
        nrm = nrm + F.element_at(F.col("nrm_lut"), off + _code(m) + 1)
    total = F.col("cnorm") + F.lit(2.0) * x + nrm
    return joined.withColumn(
        "pqcos",
        F.when(
            (total > 0) & (F.col("qnorm") > 0),
            dot / (F.sqrt(total) * F.col("qnorm")),
        ),
    ).filter(F.col("pqcos").isNotNull())


def _pq_nrm_flat(codebooks: list[list[list[float]]]) -> list[float]:
    """Query-independent flattened codebook self-norms (m-major)."""
    return [
        _seq_sum([x * x for x in cb])
        for m in range(len(codebooks))
        for cb in codebooks[m]
    ]


def _pq_adc_score(
    joined: DataFrame, n_sub: int, n_codes: int, id_col: str
) -> DataFrame:
    """Shared ADC scoring over a frame carrying (codes, dot_lut,
    nrm_lut, qnorm): m-ordered explicit sums of LUT lookups — the exact
    fold the q158 oracle replays (both engines add left-to-right)."""

    def _code(m: int) -> Column:
        return F.element_at(F.col("codes"), m + 1)

    dot = F.element_at(F.col("dot_lut"), _code(0) + 1)
    nrm = F.element_at(F.col("nrm_lut"), _code(0) + 1)
    for m in range(1, n_sub):
        off = F.lit(m * n_codes)
        dot = dot + F.element_at(F.col("dot_lut"), off + _code(m) + 1)
        nrm = nrm + F.element_at(F.col("nrm_lut"), off + _code(m) + 1)
    return joined.withColumn(
        "pqcos",
        F.when(
            (nrm > 0) & (F.col("qnorm") > 0),
            dot / (F.sqrt(nrm) * F.col("qnorm")),
        ),
    ).filter(F.col("pqcos").isNotNull())


def _seq_sum(xs: list[float]) -> float:
    """Left-to-right IEEE double sum — the same fold order Spark's
    aggregate() and DuckDB's list_sum use, so LUT values computed here
    equal the oracle's to the bit."""
    acc = 0.0
    for x in xs:
        acc = acc + x
    return acc


def pq_ivf_topk_batch(
    index: DataFrame,
    query_vecs: list[list[float]],
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    k: int = 10,
    n_probe: int = 2,
    id_col: str = "vec_id",
    round_to: int | None = 6,
    where: Column | None = None,
    residual: bool = False,
) -> DataFrame:
    """:func:`pq_ivf_topk` for MANY queries in ONE Spark job —
    (query_id, id, cluster, pqcos), query_id = position in
    ``query_vecs``. Same shape as :func:`quantized_ivf_topk_batch`:
    per-query probes and per-query dot-LUTs ride a broadcast
    (query_id, cluster, dot_lut, qnorm) frame joined on the
    union-pruned index; the codebook NORM lut is query-independent, so
    it stays one plan literal shared by every row. Row-for-row parity
    with the single-query call is test-pinned. ``residual=True``
    serves a residual-encoded index: the per-(query, cluster) q·c term
    joins the query frame, the query-independent (cluster, cnorm,
    x_lut) terms ride their own broadcast frame."""
    from pyspark.sql import Window

    spark = index.sparkSession
    n_sub = len(codebooks)
    n_codes = len(codebooks[0])
    ds = len(codebooks[0][0])
    rows = []
    for qid, qv in enumerate(query_vecs):
        qv = [float(x) for x in qv]
        dot_flat = [
            _seq_sum(
                [a * b for a, b in zip(qv[m * ds : (m + 1) * ds], cb)]
            )
            for m in range(n_sub)
            for cb in codebooks[m]
        ]
        qnorm = norm_py(qv)
        for cl in probe_clusters(qv, centroids, n_probe):
            qc = _seq_sum(
                [a * float(b) for a, b in zip(qv, centroids[cl])]
            )
            rows.append((qid, cl, dot_flat, qnorm, qc))
    qdf = local_rows_df(
        spark,
        rows,
        "query_id int, cluster int, dot_lut array<double>, qnorm double, "
        "qc double",
    )
    all_probes = sorted({r[1] for r in rows})
    pruned = index.filter(F.col("cluster").isin(all_probes))
    if where is not None:
        pruned = pruned.filter(where)
    # the query-independent norm LUT rides its own one-row broadcast —
    # never plan literals (see pq_ivf_topk; M*K constants killed compile)
    ndf = local_rows_df(
        spark, [(_pq_nrm_flat(codebooks),)], "nrm_lut array<double>"
    )
    joined = pruned.join(F.broadcast(qdf), "cluster").crossJoin(
        F.broadcast(ndf)
    )
    if residual:
        qzero = [0.0] * (ds * n_sub)
        cdf = local_rows_df(
            spark,
            [
                # qc lives on the query frame; this frame carries only
                # the query-independent cluster terms
                (cid,) + _pq_res_cluster_row(cid, qzero, centroids, codebooks)[2:]
                for cid in all_probes
            ],
            "cluster int, cnorm double, x_lut array<double>",
        )
        scored = _pq_adc_score_residual(
            joined.join(F.broadcast(cdf), "cluster"), n_sub, n_codes, id_col
        ).select("query_id", id_col, "cluster", "pqcos")
    else:
        scored = _pq_adc_score(
            joined.drop("qc"), n_sub, n_codes, id_col
        ).select("query_id", id_col, "cluster", "pqcos")
    w = Window.partitionBy("query_id").orderBy(
        F.col("pqcos").desc(), F.col(id_col).asc()
    )
    out = (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )
    if round_to is not None:
        out = out.withColumn("pqcos", F.round("pqcos", round_to))
    return out


def ivf_topk(
    df: DataFrame,
    query_vec: list[float],
    centroids: list[list[float]],
    k: int = 10,
    n_probe: int = 2,
    vector_col: str = "embedding",
    id_col: str = "vec_id",
    round_to: int | None = 6,
    preassigned: bool = False,
) -> DataFrame:
    """Approximate top-k: assign -> prune to the n_probe nearest cells ->
    exact cosine top-k within them.

    With ``preassigned=False`` assignment is computed inline (self-contained
    oracle form); the production layout assigns offline (`ivf_assign` +
    ``.write.partitionBy("cluster")``) and queries with ``preassigned=True``
    — df already carries `cluster`, so the `.isin(probe)` filter is a pure
    partition prune (only n_probe/K of files scanned, no per-query
    assignment flops). Output (id, cluster, score).
    """
    probe = probe_clusters(query_vec, centroids, n_probe)
    if preassigned:
        assigned = df
    else:
        assigned = ivf_assign(df.select(id_col, vector_col), centroids, vector_col)
    pruned = assigned.filter(F.col("cluster").isin(probe))
    scored = pruned.withColumn(
        "score", cosine_to_query(F.col(vector_col), query_vec)
    )
    out = (
        scored.orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(k)
        .select(id_col, "cluster", "score")
    )
    if round_to is not None:
        out = out.withColumn("score", F.round("score", round_to))
    return out


def ivf_health_report(
    df: DataFrame,
    centroids: list[list[float]],
    vector_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF index HEALTH: per cell, the member count, fill fraction, and
    cohesion (mean / min cosine of members to their own centroid) — the
    "re-train the coarse quantizer?" go/no-go an append-maintained index
    needs (build_quantized_ivf appends are map-only, so cells silently
    skew and drift as the data distribution moves: an over-full cell makes
    its probes expensive, a low-cohesion cell bleeds recall; this report
    is the operational signal for both, the index-side sibling of
    embedding_drift's re-embed check).

    One map pass (K cosines per row, the let-bound centroid_scores
    expression — impl="expr", engine-replayable) and one K-row aggregate.
    Means are order-stable decimal sums rounded through the signed-zero
    canonicalizer, so the report hash-matches its DuckDB twin.
    """
    from jsonify2ai_spark.operators.inventory import _round_z, _stable_avg

    base = df.filter(F.col(vector_col).isNotNull()).select(
        F.col(id_col), F.col(vector_col).cast("array<double>").alias("_v")
    )
    sims = centroid_scores(F.col("_v"), centroids)
    # bind the K-cosine array once: cluster AND own-cosine both read it
    scored = base.select(
        F.col(id_col),
        F.element_at(
            F.transform(
                F.array(sims),
                lambda s: F.struct(
                    (F.array_position(s, F.array_max(s)) - 1)
                    .cast("int")
                    .alias("cluster"),
                    F.array_max(s).alias("cos_own"),
                ),
            ),
            1,
        ).alias("_a"),
    ).select(F.col(id_col), F.col("_a.cluster"), F.col("_a.cos_own"))
    from pyspark.sql import Window

    agg = scored.groupBy("cluster").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        _round_z(_stable_avg(F.col("cos_own")), 4).alias("mean_cos_to_centroid"),
        _round_z(F.min("cos_own"), 4).alias("min_cos_to_centroid"),
    )
    # fill fraction from a window over the K-ROW aggregate (K = |centroids|
    # — a global frame here is K rows, not a corpus sort; avoids a second
    # pass over the vectors for the total)
    total = F.sum("n").over(Window.partitionBy())
    return (
        agg.withColumn("fill_frac", _round_z(F.col("n") / total, 4))
        .select("cluster", "n", "fill_frac", "mean_cos_to_centroid", "min_cos_to_centroid")
        .orderBy("cluster")
    )


def refresh_quantizer(
    df: DataFrame,
    report: DataFrame,
    centroids: list[list[float]],
    vector_col: str = "embedding",
    id_col: str = "vec_id",
    max_fill_frac: float = 0.5,
    min_mean_cohesion: float | None = None,
    min_cell_cohesion: float | None = None,
    k: int | None = None,
    seed: int = 7,
    n_probe: int = 2,
    recall_queries: int = 16,
    recall_k: int = 10,
) -> dict:
    """Close the q107 loop (r7 verdict #8): consume an
    :func:`ivf_health_report`, decide the re-train go/no-go against the
    caller's thresholds, and when breached re-fit the coarse quantizer
    (:func:`kmeans_centroids`) and RE-VALIDATE recall@``recall_k`` against
    brute force on a deterministic member-vector sample — the full
    monitor -> retrain -> verify cycle an append-maintained index runs as
    ETL.

    Thresholds (a breach on ANY cell triggers the retrain):

    - ``max_fill_frac``: a cell holding more than this fraction of the
      corpus makes its probes corpus-sized (skew);
    - ``min_mean_cohesion`` / ``min_cell_cohesion`` (optional): a cell
      whose mean / worst member-to-centroid cosine fell below the bar
      bleeds recall — the drift signal.

    Returns ``{retrained, breaches, centroids, recall_at_k,
    recall_before}``: the centroids to serve with (new ones on retrain,
    the caller's otherwise), and on retrain the sampled recall@k of the
    NEW quantizer next to the OLD one's on the same queries — the
    recovery evidence. Recall validation is two batched serving jobs
    (quantized_ivf_topk_batch, each over a map-only assignment projection
    of the ONE materialized base — build_quantized_ivf adds no shuffle)
    plus ONE brute pass (broadcast query set, per-query window top-k).

    Scale shape: the report is K rows (collected), kmeans is the standard
    MLlib fit (sample upstream if the corpus is 100 TB — the caller
    controls ``df``), and the recall sample is ``recall_queries`` member
    vectors in md5(id) order (deterministic, layout-invariant, and
    spread across the corpus — so drifted regions are represented).
    """
    from jsonify2ai_spark.functions.vectors import cosine_similarity

    rows = report.collect()  # K rows — driver-sized by construction
    breaches: list[tuple[str, int, float]] = []
    for r in rows:
        if r["fill_frac"] is not None and r["fill_frac"] > max_fill_frac:
            breaches.append(("fill_frac", r["cluster"], r["fill_frac"]))
        if (
            min_mean_cohesion is not None
            and r["mean_cos_to_centroid"] is not None
            and r["mean_cos_to_centroid"] < min_mean_cohesion
        ):
            breaches.append(
                ("mean_cohesion", r["cluster"], r["mean_cos_to_centroid"])
            )
        if (
            min_cell_cohesion is not None
            and r["min_cos_to_centroid"] is not None
            and r["min_cos_to_centroid"] < min_cell_cohesion
        ):
            breaches.append(
                ("min_cohesion", r["cluster"], r["min_cos_to_centroid"])
            )
    if not breaches:
        return {
            "retrained": False,
            "breaches": [],
            "centroids": centroids,
            "recall_at_k": None,
            "recall_before": None,
        }

    base = (
        df.filter(F.col(vector_col).isNotNull())
        .select(F.col(id_col), F.col(vector_col).cast("array<double>").alias("_v"))
        # one materialization: kmeans, the sample, the brute pass and two
        # _recall index builds all read `base` — without this the corpus
        # lineage re-executes ~5x in one call (review-found r8)
        .localCheckpoint(eager=False)
    )
    new_cents = kmeans_centroids(
        base, k=k or len(centroids), vector_col="_v", seed=seed
    )

    # hash-ordered sample: deterministic AND spread across the corpus — a
    # lowest-id sample would draw only the oldest region and miss exactly
    # the drifted data the retrain is for
    sample = (
        base.orderBy(F.md5(F.col(id_col).cast("string")))
        .limit(recall_queries)
        .collect()
    )
    qvecs = [[float(x) for x in r["_v"]] for r in sample]
    if not qvecs:
        return {
            "retrained": True,
            "breaches": breaches,
            "centroids": new_cents,
            "recall_at_k": None,
            "recall_before": None,
        }

    # ground truth: ONE brute job for the whole query set
    from pyspark.sql import Window

    spark = df.sparkSession
    qdf = local_rows_df(
        spark, [(i, v) for i, v in enumerate(qvecs)],
        "query_id int, _qv array<double>",
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("_cos").desc(), F.col(id_col).asc()
    )
    exact_rows = (
        F.broadcast(qdf)
        .crossJoin(base)
        .select(
            "query_id",
            id_col,
            cosine_similarity(F.col("_v"), F.col("_qv")).alias("_cos"),
        )
        .filter(F.col("_cos").isNotNull())
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= recall_k)
        .collect()
    )
    exact: dict[int, set] = {}
    for r in exact_rows:
        exact.setdefault(r["query_id"], set()).add(r[id_col])

    def _recall(cents: list[list[float]]) -> float:
        index = build_quantized_ivf(base, cents, vector_col="_v", id_col=id_col)
        got: dict[int, set] = {}
        for r in quantized_ivf_topk_batch(
            index, qvecs, cents, k=recall_k, n_probe=n_probe, id_col=id_col
        ).collect():
            got.setdefault(r["query_id"], set()).add(r[id_col])
        recs = [
            len(got.get(qi, set()) & ex) / max(len(ex), 1)
            for qi, ex in exact.items()
        ]
        return sum(recs) / len(recs) if recs else 0.0

    return {
        "retrained": True,
        "breaches": breaches,
        "centroids": new_cents,
        "recall_at_k": round(_recall(new_cents), 4),
        "recall_before": round(_recall(centroids), 4),
    }


class IVFIndex:
    """Persisted IVF+int8 serving index with an append lifecycle (r13) —
    the vector-side sibling of :class:`~jsonify2ai_spark.operators.
    textsearch.ShardedBM25Index`'s segment protocol. On disk:
    ``cells/`` (the :func:`build_quantized_ivf` layout partitioned by
    ``cluster``, so a probe is a partition prune), ``centroids/`` (the
    frozen coarse quantizer), ``meta/`` (the commit point). Appends land
    as self-contained ``cells_incr/<run_id>/`` parts — assignment under
    the FROZEN centroids is per-vector arithmetic with no corpus-scalar
    dependence (unlike BM25's df_t/impacts), so an appended index serves
    IDENTICALLY to one built whole under the same centroids, with NO
    serving tax and no raise-until-compact face: every part's scan
    carries the same ``cluster IN (probes)`` partition filter.
    :meth:`compact` exists purely for small-files pressure; the
    operational signals for retraining the quantizer are
    :meth:`health` (cell skew/cohesion, from the dequantized codes) and
    :func:`refresh_quantizer` over the raw corpus — retraining rebuilds
    (assignments are centroid-relative by construction).

    Reference anchor: the reference's Qdrant collection lifecycle
    (worker/app/services/qdrant_io.py ensure/upsert) re-expressed as a
    bucketed-parquet serving layout.
    """

    def __init__(self) -> None:
        raise TypeError("use IVFIndex.build(...) or IVFIndex.load(...)")

    @classmethod
    def build(
        cls,
        df: DataFrame,
        path: str,
        centroids: list[list[float]] | None = None,
        k: int = 16,
        vector_col: str = "embedding",
        id_col: str = "vec_id",
        attr_cols: tuple[str, ...] = (),
        quantize: str = "int8",
        codebooks: list[list[list[float]]] | None = None,
        pq_n_codes: int = 16,
        pq_n_sub: int = 4,
    ) -> "IVFIndex":
        """One batch job: (train or take) centroids -> float-precision
        nearest-centroid assignment + code generation -> cluster-
        partitioned parquet + centroid table + meta.

        ``attr_cols`` names payload attributes denormalized ONTO the
        index rows (the Qdrant payload-with-the-point model,
        worker/app/services/qdrant_io.py upsert payload) — the store
        remembers them in its meta, every :meth:`append` must supply
        them, and :meth:`topk`/:meth:`topk_batch` accept a ``where``
        predicate over them (filtered kNN inside the index,
        qdrant_client.py:588-593).

        ``quantize`` picks the code layout (r15): ``"int8"`` (scalar,
        4-8x smaller than float, near-zero recall cost — q67/q69),
        ``"pq"`` (product quantization, ~M bytes/vector — the next
        ~10x, the layout a 100 TB store needs; ``codebooks`` or the
        deterministic :func:`pq_codebooks_from_rows` defaults), or
        ``"pq_res"`` (residual PQ, FAISS's IVF+PQ default: codes cover
        ``v - centroid[cluster]``, spending the same bytes on the
        within-cell structure — the recall fix when plain PQ saturates;
        default codebooks come from the residual-space donors). All
        are per-vector arithmetic with NO corpus scalars, so the whole
        append/delete/serve lifecycle is identical — segments encoded
        later under the frozen codebooks serve exactly as a whole
        build's rows do."""
        spark = df.sparkSession
        if quantize not in ("int8", "pq", "pq_res"):
            raise ValueError(
                f"quantize must be 'int8', 'pq' or 'pq_res': {quantize!r}"
            )
        if centroids is None:
            centroids = kmeans_centroids(df, k=k, vector_col=vector_col)
        if quantize in ("pq", "pq_res"):
            if codebooks is None:
                codebooks = pq_codebooks_from_rows(
                    df, n_codes=pq_n_codes, n_sub=pq_n_sub,
                    vector_col=vector_col, id_col=id_col,
                    centroids=centroids if quantize == "pq_res" else None,
                )
            index = build_pq_ivf(
                df, centroids, codebooks, vector_col=vector_col,
                id_col=id_col, attr_cols=attr_cols,
                residual=quantize == "pq_res",
            )
        else:
            index = build_quantized_ivf(
                df, centroids, vector_col=vector_col, id_col=id_col,
                attr_cols=attr_cols,
            )
        (
            index.repartition(F.col("cluster"))
            .sortWithinPartitions(id_col)
            .write.mode("overwrite")
            .partitionBy("cluster")
            .parquet(f"{path}/cells")
        )
        local_rows_df(
            spark,
            [(i, list(map(float, c))) for i, c in enumerate(centroids)],
            "cluster int, centroid array<double>",
        ).write.mode("overwrite").parquet(f"{path}/centroids")
        if quantize in ("pq", "pq_res"):
            local_rows_df(
                spark,
                [
                    (m, c, [float(x) for x in codebooks[m][c]])
                    for m in range(len(codebooks))
                    for c in range(len(codebooks[m]))
                ],
                "m int, code int, cv array<double>",
            ).write.mode("overwrite").parquet(f"{path}/codebooks")
        cls._write_meta(
            spark, path, id_col, len(centroids[0]), "cells", (),
            attr_cols=attr_cols, quantize=quantize,
        )
        return cls.load(spark, path)

    @staticmethod
    def _write_meta(
        spark, path, id_col, dim, cells_dir, segments, n_deleted=0,
        centroids_dir="centroids", attr_cols=(), quantize="int8",
    ) -> None:
        """The one-row commit point (the ShardedBM25Index convention):
        segment visibility, dir swaps, and delete-tombstone visibility
        happen HERE or not at all. ``attr_cols`` and ``quantize`` are
        part of the store's schema contract — append/refresh replay
        them from here."""
        local_rows_df(
            spark,
            [
                (
                    id_col, int(dim), cells_dir, ",".join(segments),
                    int(n_deleted), centroids_dir, ",".join(attr_cols),
                    quantize,
                )
            ],
            "id_col string, dim int, cells_dir string, segments string, "
            "n_deleted int, centroids_dir string, attr_cols string, "
            "quantize string",
        ).write.mode("overwrite").parquet(f"{path}/meta")

    @classmethod
    def load(cls, spark, path: str) -> "IVFIndex":
        meta = spark.read.parquet(f"{path}/meta").first().asDict()
        obj = cls.__new__(cls)
        obj._spark = spark
        obj._path = path
        obj._id_col = meta["id_col"]
        obj._dim = int(meta["dim"])
        obj._cells_dir = meta.get("cells_dir") or "cells"
        obj._segments = [
            s for s in (meta.get("segments") or "").split(",") if s
        ]
        obj._centroids_dir = meta.get("centroids_dir") or "centroids"
        obj._attr_cols = tuple(
            c for c in (meta.get("attr_cols") or "").split(",") if c
        )
        obj._quantize = meta.get("quantize") or "int8"
        obj._codebooks = None
        if obj._quantize in ("pq", "pq_res"):
            cbrows = (
                spark.read.parquet(f"{path}/codebooks")
                .orderBy("m", "code")
                .collect()
            )
            n_sub = max(r["m"] for r in cbrows) + 1
            obj._codebooks = [
                [
                    [float(x) for x in r["cv"]]
                    for r in cbrows
                    if r["m"] == m
                ]
                for m in range(n_sub)
            ]
        crows = (
            spark.read.parquet(f"{path}/{obj._centroids_dir}")
            .orderBy("cluster")
            .collect()
        )
        obj._centroids = [[float(x) for x in r["centroid"]] for r in crows]
        obj._parts = [spark.read.parquet(f"{path}/{obj._cells_dir}")] + [
            spark.read.parquet(f"{path}/cells_incr/{rid}")
            for rid in obj._segments
        ]
        obj._tombs = (
            spark.read.parquet(f"{path}/tombstones")
            if int(meta.get("n_deleted") or 0) > 0
            else None
        )
        return obj

    def _index_df(self) -> DataFrame:
        df = self._parts[0]
        for p in self._parts[1:]:
            df = df.unionByName(p)
        if self._tombs is not None:
            df = df.join(
                F.broadcast(self._tombs),
                df[self._id_col].cast("string") == F.col("_id"),
                "left_anti",
            )
        return df

    def _encode(
        self, vectors: DataFrame, vector_col: str,
        centroids: list[list[float]] | None = None,
    ) -> DataFrame:
        """Code generation under the store's frozen parameters — the
        one mode dispatch append/refresh share (``centroids`` overrides
        for refresh's retrained coarse quantizer; PQ codebooks are
        frozen either way). Both layouts are per-vector arithmetic with
        no corpus scalars, which is what makes segments serve
        identically to a whole build's rows."""
        cents = centroids if centroids is not None else self._centroids
        if self._quantize in ("pq", "pq_res"):
            return build_pq_ivf(
                vectors, cents, self._codebooks,
                vector_col=vector_col, id_col=self._id_col,
                attr_cols=self._attr_cols,
                residual=self._quantize == "pq_res",
            )
        return build_quantized_ivf(
            vectors, cents, vector_col=vector_col,
            id_col=self._id_col, attr_cols=self._attr_cols,
        )

    def delete(self, ids: list) -> "IVFIndex":
        """Delete vectors (r13) — the reference's delete-by-document
        point reconciliation (worker/app/services/qdrant_io.py delete
        path, SURVEY K4) for the persisted IVF store: ids tombstone in
        ``tombstones/`` and every lookup anti-joins them out (broadcast,
        request-sized by contract) — EXACT immediately, since int8
        cosine has no corpus-scalar dependence. Physical erasure rides
        :meth:`compact`; unknown ids are harmless; deletes merge; a
        tombstoned id cannot re-append until erased."""
        want = sorted({str(x) for x in ids})
        if not want:
            return self
        prev = (
            [r["_id"] for r in self._tombs.collect()]
            if self._tombs is not None
            else []
        )
        asked = sorted(set(want) - set(prev))
        # only EXISTING ids tombstone — a never-ingested id would tax
        # every lookup's anti-join and block its future append for
        # nothing (one column-pruned membership probe at delete time)
        existing = {
            r["_i"]
            for r in self._index_df()
            .select(F.col(self._id_col).cast("string").alias("_i"))
            .filter(F.col("_i").isin(asked))
            .collect()
        }
        if not existing:
            return self
        merged = sorted(set(prev) | existing)
        local_rows_df(
            self._spark, [(i,) for i in merged], "_id string"
        ).write.mode("overwrite").parquet(
            f"{self._path}/tombstones"
        )
        self._write_meta(
            self._spark, self._path, self._id_col, self._dim,
            self._cells_dir, tuple(self._segments), n_deleted=len(merged),
            centroids_dir=self._centroids_dir, attr_cols=self._attr_cols, quantize=self._quantize,
        )
        return type(self).load(self._spark, self._path)

    def topk(
        self,
        query_vec: list[float],
        k: int = 10,
        n_probe: int = 2,
        where: Column | None = None,
    ) -> DataFrame:
        """Partition-pruned int8 serving over base + segments — exactly
        :func:`quantized_ivf_topk` over the unioned parts (the probe
        filter prunes EVERY part's scan; assignment is centroid-stable,
        so segment rows score identically to a whole-build's).

        ``where`` — a Column over the store's ``attr_cols`` payload —
        is the reference's filtered kNN INSIDE the index
        (worker/app/services/qdrant_client.py:588-593; filter built at
        worker/app/routers/search.py:74-105): it lands between the
        partition prune and the cosine, reaching each part's parquet
        scan as an ordinary pushdown predicate, so non-matching vectors
        are never scored. Because quantization is per-vector (no corpus
        scalars), survivor scores equal the unfiltered path's exactly —
        filtered serving == serving over the pre-filtered corpus.
        Recall contract: the probe set is chosen by the QUERY geometry,
        not the filter; a highly selective filter can leave < k
        survivors inside n_probe cells — widen n_probe (or raise k)
        when the filter's selectivity is known to be tight, exactly the
        reference's ef/hnsw_ef guidance for filtered search.

        A ``quantize="pq"``/``"pq_res"`` store serves through the ADC
        path (:func:`pq_ivf_topk`, score column ``pqcos``); int8 stores
        through :func:`quantized_ivf_topk` (``qcos``)."""
        if self._quantize in ("pq", "pq_res"):
            return pq_ivf_topk(
                self._index_df(), query_vec, self._centroids,
                self._codebooks, k=k, n_probe=n_probe,
                id_col=self._id_col, where=self._check_where(where),
                residual=self._quantize == "pq_res",
            )
        return quantized_ivf_topk(
            self._index_df(), query_vec, self._centroids,
            k=k, n_probe=n_probe, id_col=self._id_col,
            where=self._check_where(where),
        )

    def topk_batch(
        self,
        query_vecs: list[list[float]],
        k: int = 10,
        n_probe: int = 2,
        where: Column | None = None,
    ) -> DataFrame:
        if self._quantize in ("pq", "pq_res"):
            return pq_ivf_topk_batch(
                self._index_df(), query_vecs, self._centroids,
                self._codebooks, k=k, n_probe=n_probe,
                id_col=self._id_col, where=self._check_where(where),
                residual=self._quantize == "pq_res",
            )
        return quantized_ivf_topk_batch(
            self._index_df(), query_vecs, self._centroids,
            k=k, n_probe=n_probe, id_col=self._id_col,
            where=self._check_where(where),
        )

    def _check_where(self, where: Column | None) -> Column | None:
        """Fail fast with the store's actual payload schema when a
        filter arrives but no attrs were indexed — the alternative is
        an AnalysisException naming a column the caller never wrote."""
        if where is not None and not self._attr_cols:
            raise ValueError(
                "filtered serving needs payload attributes on the index "
                "rows — build/append the store with attr_cols=(...) "
                "(this store indexed none)"
            )
        return where

    def append(
        self, new_vectors: DataFrame, run_id: str,
        vector_col: str = "embedding",
        check_ids: bool = True,
        replace: bool = False,
    ) -> "IVFIndex":
        """O(batch) maintenance: assign + quantize the increment under
        the frozen centroids, land it as ``cells_incr/<run_id>/`` (same
        cluster partitioning), commit via the meta rewrite. Same
        run_id contract as the BM25 segments: a pre-commit crash heals
        by re-running the id; a committed id raises (double-count).

        Guards, all batch-sized except one: within-batch duplicate ids
        and dim drift raise from ONE aggregate over the increment; an
        empty increment is a NO-OP (committing it would tax every later
        load with a zero-row part). ``check_ids=True`` (default) also
        semi-joins the increment's ids against the EXISTING index —
        that probe is a column-pruned scan of the cells (the store
        keeps no narrow id table), i.e. O(corpus) IO on one column:
        leave it on unless the ingest pipeline already guarantees
        id uniqueness and the scan cost matters at your scale."""
        if str(run_id) in self._segments and not replace:
            raise ValueError(
                f"append: segment {run_id!r} is already committed — "
                "re-appending would duplicate its vectors (pass "
                "replace=True for deliberate same-run re-ingest: the IVF "
                "meta keeps NO corpus scalars, so overwriting a committed "
                "segment is safe — the streaming redelivery contract)"
            )
        idc = self._id_col
        stats0 = new_vectors.agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct(F.col(idc)).alias("u"),
            F.min(F.size(vector_col)).alias("lo"),
            F.max(F.size(vector_col)).alias("hi"),
        ).first()
        if int(stats0["n"]) == 0:
            return self  # empty increment: nothing to commit
        if int(stats0["n"]) != int(stats0["u"]):
            raise ValueError(
                f"append: increment carries "
                f"{stats0['n'] - stats0['u']} duplicate id row(s) — "
                "dedup upstream; every id must appear exactly once"
            )
        if int(stats0["lo"]) != self._dim or int(stats0["hi"]) != self._dim:
            raise ValueError(
                f"append: vector dims [{stats0['lo']}, {stats0['hi']}] "
                f"!= index dim {self._dim}"
            )
        new_ids = new_vectors.select(F.col(idc)).distinct()
        # the tombstone check runs FIRST: a tombstoned id would also trip
        # the existence probe below, but "compact() first, then re-ingest"
        # is the actionable message for that case
        if self._tombs is not None:
            shadowed = new_ids.join(
                F.broadcast(self._tombs),
                new_ids[idc].cast("string") == F.col("_id"),
                "left_semi",
            ).count()
            if shadowed:
                raise ValueError(
                    f"append: {shadowed} incoming id(s) are tombstoned by "
                    "a pending delete — compact() first, then re-ingest"
                )
        if check_ids:
            others = self._parts[0]
            for rid, part in zip(self._segments, self._parts[1:]):
                if replace and rid == str(run_id):
                    continue  # the segment being overwritten doesn't count
                others = others.unionByName(part)
            dup = (
                others
                .select(idc)
                .join(F.broadcast(new_ids), idc, "left_semi")
                .count()
            )
            if dup:
                raise ValueError(
                    f"append: {dup} incoming id(s) already exist in the index"
                )
        seg = self._encode(new_vectors, vector_col)
        (
            seg.repartition(F.col("cluster"))
            .sortWithinPartitions(idc)
            .write.mode("overwrite")
            .partitionBy("cluster")
            .parquet(f"{self._path}/cells_incr/{run_id}")
        )
        segments = tuple(self._segments)
        if str(run_id) not in segments:
            segments = segments + (str(run_id),)
        self._write_meta(
            self._spark, self._path, idc, self._dim, self._cells_dir,
            segments, centroids_dir=self._centroids_dir,
            attr_cols=self._attr_cols, quantize=self._quantize,
        )
        return type(self).load(self._spark, self._path)

    def compact(self) -> "IVFIndex":
        """Fold segments into ``cells_v<k>/`` — pure small-files
        maintenance (no arithmetic changes: rows are centroid-relative
        and carry everything). Stage-and-swap through the meta; old
        dirs removed best-effort after the commit (single-writer
        maintenance window)."""
        if not self._segments and self._tombs is None:
            return self
        import shutil

        v = (
            int(self._cells_dir.rsplit("_v", 1)[1]) + 1
            if "_v" in self._cells_dir
            else 1
        )
        new_rel = f"cells_v{v}"
        (
            self._index_df()
            .repartition(F.col("cluster"))
            .sortWithinPartitions(self._id_col)
            .write.mode("overwrite")
            .partitionBy("cluster")
            .parquet(f"{self._path}/{new_rel}")
        )
        old = [f"{self._path}/{self._cells_dir}"] + [
            f"{self._path}/cells_incr/{rid}" for rid in self._segments
        ]
        if self._tombs is not None:
            old.append(f"{self._path}/tombstones")
        self._write_meta(
            self._spark, self._path, self._id_col, self._dim, new_rel, (),
            centroids_dir=self._centroids_dir, attr_cols=self._attr_cols, quantize=self._quantize,
        )
        for d in old:
            shutil.rmtree(d, ignore_errors=True)
        return type(self).load(self._spark, self._path)

    def _dequantized(self) -> DataFrame:
        """(id, embedding[, attrs]) reconstructed at the resolution the
        index actually serves at — int8: qvec * scale / 127; PQ: the
        concatenated codebook entries for the row's codes (a plan-
        literal 2-level lookup, no join); residual PQ: the same plus
        the row's coarse centroid (broadcast-joined on cluster).
        Shared by :meth:`health` and :meth:`refresh` (attrs ride along
        so a refresh rebuilds the payload columns, not just the
        codes)."""
        if self._quantize in ("pq", "pq_res"):
            cb_lit = F.array(
                *[
                    F.array(
                        *[
                            vec_lit(cv) for cv in self._codebooks[m]
                        ]
                    )
                    for m in range(len(self._codebooks))
                ]
            )
            recon = F.flatten(
                F.transform(
                    F.col("codes"),
                    lambda c, m: F.element_at(
                        F.element_at(cb_lit, m + 1), c + 1
                    ),
                )
            )
            base = self._index_df()
            if self._quantize == "pq_res":
                cents = local_rows_df(
                    self._spark,
                    [
                        (i, [float(x) for x in c])
                        for i, c in enumerate(self._centroids)
                    ],
                    "cluster int, _cent array<double>",
                )
                base = base.join(F.broadcast(cents), "cluster")
                recon = F.zip_with(
                    F.col("_cent"), recon, lambda c, r: c + r
                )
            return base.select(
                self._id_col,
                recon.alias("embedding"),
                *[F.col(c) for c in self._attr_cols],
            )
        return self._index_df().select(
            self._id_col,
            F.transform(
                F.col("qvec"),
                lambda x: x.cast("double") * F.col("scale") / F.lit(127.0),
            ).alias("embedding"),
            *[F.col(c) for c in self._attr_cols],
        )

    def health(self) -> DataFrame:
        """:func:`ivf_health_report` over the DEQUANTIZED codes —
        cohesion/skew read through the int8 error, which is the
        resolution the index actually serves at; the raw-corpus report
        + :func:`refresh_quantizer` remain the retraining decision's
        exact instruments."""
        return ivf_health_report(
            self._dequantized(), self._centroids, id_col=self._id_col
        )

    def refresh(
        self, k: int | None = None, seed: int = 7, max_iter: int = 10
    ) -> "IVFIndex":
        """Retrain the coarse quantizer FROM THE STORE'S OWN CODES and
        rebuild the layout (r13) — the action :meth:`health`'s skew/
        cohesion breach calls for, without requiring the raw corpus to
        still exist: k-means over the dequantized vectors, reassignment
        + re-quantization, stage-and-swap of ``cells_v<k>`` AND
        ``centroids_v<k>`` through the meta commit (segments and
        tombstones fold in the same pass). Honesty note: the rebuilt
        codes re-quantize from DEQUANTIZED values, compounding at most
        one extra half-step of int8 error per element per refresh — fine
        for the coarse-quantizer maintenance this is for, but refresh
        from the raw vectors (rebuild) when serving precision is the
        concern. MLlib KMeans is seeded — same store, same layout."""
        spark = self._spark
        import shutil

        deq = self._dequantized().localCheckpoint(eager=False)
        cents = kmeans_centroids(
            deq, k=k or len(self._centroids), seed=seed, max_iter=max_iter
        )
        # retrain swaps the COARSE quantizer only; PQ codebooks are
        # frozen store parameters and re-encode under the new layout
        index = self._encode(deq, "embedding", centroids=cents)

        def _bump(rel: str, stem: str) -> str:
            v = int(rel.rsplit("_v", 1)[1]) + 1 if "_v" in rel else 1
            return f"{stem}_v{v}"

        new_cells = _bump(self._cells_dir, "cells")
        new_cents = _bump(self._centroids_dir, "centroids")
        (
            index.repartition(F.col("cluster"))
            .sortWithinPartitions(self._id_col)
            .write.mode("overwrite")
            .partitionBy("cluster")
            .parquet(f"{self._path}/{new_cells}")
        )
        local_rows_df(
            spark,
            [(i, list(map(float, c))) for i, c in enumerate(cents)],
            "cluster int, centroid array<double>",
        ).write.mode("overwrite").parquet(
            f"{self._path}/{new_cents}"
        )
        old = [
            f"{self._path}/{self._cells_dir}",
            f"{self._path}/{self._centroids_dir}",
        ] + [f"{self._path}/cells_incr/{rid}" for rid in self._segments]
        if self._tombs is not None:
            old.append(f"{self._path}/tombstones")
        self._write_meta(
            spark, self._path, self._id_col, self._dim, new_cells, (),
            centroids_dir=new_cents, attr_cols=self._attr_cols, quantize=self._quantize,
        )
        for d in old:
            shutil.rmtree(d, ignore_errors=True)
        return type(self).load(spark, self._path)


class IVFStreamSink:
    """foreachBatch target that keeps an :class:`IVFIndex` CURRENT as a
    stream of embeddings arrives (r13) — the scale analog of the
    reference watcher's continuous vector upsert loop
    (worker/app/watcher -> qdrant_io upsert): each trigger's vectors
    land as the segment ``b<batch_id>``, committed through the meta,
    and queries on a freshly-loaded index see them immediately.
    Redelivery-safe by construction: a replayed batch_id re-lands the
    SAME segment (``append(replace=True)`` — the IVF meta keeps no
    corpus scalars, so the overwrite is exactly idempotent), and the
    duplicate-id guard checks the OTHER parts only. Run
    :meth:`IVFIndex.compact` on the store's own cadence to fold the
    per-trigger segments (small-files pressure — the StreamShardSink
    auto-compaction lesson applies; here compaction is operator-driven
    because the sink never holds the index open).

    ``op_col`` (r15) makes the sink a CHANGE stream target — the
    watcher's delete-reconciliation half (a removed file's vectors
    leave the serving index): rows whose operation is ``"delete"``
    tombstone through :meth:`IVFIndex.delete` (request-sized, exact
    immediately), everything else appends; deletes run first within a
    trigger. Deleting and re-adding the SAME id in one trigger RAISES
    from the append guard ("compact() first") — IVFIndex tombstones
    are id-keyed, not generation-tagged, so re-admission needs the
    erase; that loud stop is the store's documented contract, unlike
    :class:`~jsonify2ai_spark.operators.dedup.NearDupStreamSink` whose
    generation-tagged stores re-admit in-stream. Delete redelivery is
    idempotent (tombstones merge)."""

    def __init__(
        self, path: str, vector_col: str = "embedding",
        check_ids: bool = True, op_col: str | None = None,
    ) -> None:
        self._path = path
        self._vector_col = vector_col
        self._check_ids = check_ids
        self._op_col = op_col

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        idx = IVFIndex.load(batch_df.sparkSession, self._path)
        ups = batch_df
        if self._op_col is not None:
            dels = [
                r[0]
                for r in batch_df.filter(F.col(self._op_col) == "delete")
                .select(idx._id_col)
                .collect()  # request-sized by the delete-face contract
            ]
            ups = batch_df.filter(
                F.coalesce(F.col(self._op_col), F.lit("")) != "delete"
            ).drop(self._op_col)
            if dels:
                idx = idx.delete(dels)
        idx.append(
            ups, run_id=f"b{int(batch_id)}",
            vector_col=self._vector_col, check_ids=self._check_ids,
            replace=True,
        )
