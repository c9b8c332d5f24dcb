"""Vector search operators: filtered top-k and similarity joins.

Reference semantics (J1/J2, SURVEY §2.3): embed query -> equality/time-range
filter -> cosine kNN limit=k -> payload projection without vectors
(worker/app/services/qdrant_client.py:469-608, worker/app/routers/search.py:108-141).

Spark-first design:
- Exact top-k is ``filter -> score projection -> orderBy desc -> limit k``.
  Catalyst compiles the tail to TakeOrderedAndProject: each task keeps a k-row
  heap, the driver merges partition heaps — no global sort, no full shuffle.
  At 100 TB the scan dominates and is pruned by pushed filters (the promoted
  meta columns exist exactly so predicates reach the Parquet reader).
- Approximate path for cluster scale: IVF-style coarse quantization — assign
  each vector a cluster id offline (MLlib KMeans), partition the table by it,
  and probe only the nearest n_probe centroids at query time: partition
  pruning turns top-k into a scan of ~n_probe/n_cells of the data.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from jsonify2ai_spark.session import local_rows_df

from jsonify2ai_spark.functions.vectors import (
    cosine_to_query,
    dot,
    l2_norm,
    l2_normalize,
    vec_lit,
)


def cosine_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 5,
    vector_col: str = "vector",
    id_cols: tuple[str, ...] = ("id",),
    filters: Column | None = None,
    pre_normalized: bool = False,
) -> DataFrame:
    """Filtered exact cosine top-k of ``query_vec`` against ``df``.

    Filters are applied BEFORE scoring (operator ordering mirrors the
    reference's filter-inside-kNN, qdrant_client.py:588-593) and reach the
    Parquet scan via pushdown. Ties broken by id columns for determinism.
    Output drops the vector column (reference: with_vectors=False).

    The query is one array literal (:func:`vec_lit`, O(1) JVM calls) and
    the score is :func:`cosine_to_query` — the query norm folded once on
    the driver, no per-element struct — bit-identical to
    ``cosine_similarity``.
    """
    if filters is not None:
        df = df.filter(filters)
    score = (
        dot(F.col(vector_col), vec_lit(query_vec)) if pre_normalized
        else cosine_to_query(F.col(vector_col), query_vec)
    )
    scored = df.withColumn("score", score)
    order = [F.col("score").desc()] + [F.col(c).asc() for c in id_cols]
    return scored.orderBy(*order).limit(k).drop(vector_col)


def knn_brute(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vector_col: str = "embedding",
    id_col: str = "vec_id",
    round_to: int | None = 6,
) -> DataFrame:
    """Brute-force ANN baseline over an embeddings table.

    Returns (id_col, score) for the k nearest by cosine. This is the exact
    baseline the approximate paths (LSH / IVF) are measured against.
    """
    out = cosine_topk(
        embeddings.select(id_col, vector_col),
        query_vec, k=k, vector_col=vector_col, id_cols=(id_col,),
    )
    if round_to is not None:
        out = out.withColumn("score", F.round("score", round_to))
    return out


def similarity_self_join(
    df: DataFrame,
    threshold: float,
    vector_col: str = "embedding",
    id_col: str = "vec_id",
    block_col: str | None = None,
    round_to: int | None = 6,
    strategy: str = "auto",
    max_broadcast_bytes: int = 256 << 20,
    n_chunks: int | None = None,
    dim: int | None = None,
) -> DataFrame:
    """All pairs (a < b) with cosine similarity >= threshold.

    Strategies:
    - ``"blas"``: broadcast the (id, vector) matrix to every executor and
      compute each Arrow batch's scores against it with one numpy matmul
      inside ``mapInPandas`` — the distributed "broadcast GEMM". Same regime
      as a broadcast hash join: the matrix must fit on the driver AND every
      executor, so it is only safe bounded.
    - ``"chunked"``: block-decomposed GEMM — rows are hashed into C chunks,
      each row is shipped to the C chunk-pair groups it participates in, and
      each (p, q) group computes one cross-chunk matmul executor-side. Nothing
      ever materializes on the driver; shuffle volume is C x input. This is
      the exact-all-pairs form that survives 100 TB.
    - ``"expr"``: pure-Column nested-loop pair join + fold-based cosine. Exact
      same scores; orders of magnitude slower per pair (interpreted
      higher-order functions), but shuffles nothing to Python.
    - ``block_col`` turns the expr path into a blocked join (equi-join on the
      block key first) — with an IVF cluster id or LSH band as the block, the
      quadratic term shrinks to within-block pairs, which is the preferred
      100 TB strategy when approximate candidates are acceptable.
    - ``"block_gemm"`` (requires ``block_col``): each block's rows shuffle to
      ONE task (``applyInPandas``) which scores the whole block with a single
      numpy matmul — the IVF-cell layout. Shuffle volume is the INPUT (each
      row ships once to its block), compute is within-block quadratic, and
      the per-pair constant is BLAS, not an interpreted fold: measured 10-40x
      over the expr-blocked form past ~20k rows (bench_media_dedup.py). Same
      caveats as ``blas``: one block must fit a task's memory (size the LSH
      ``n_bits`` so rows/2**n_bits does) and BLAS pairwise summation differs
      from the sequential fold in final ulps — callers gating oracle
      bit-parity at the raw threshold keep the expr-blocked form.

    ``"auto"`` without a block_col reads Catalyst's size estimate for the
    input (free — plan statistics, no job) and picks ``blas`` only below
    ``max_broadcast_bytes``; above it, ``chunked``. The quadratic *compute* is
    inherent to exact all-pairs either way — what auto guarantees is that
    memory stays bounded per task and the driver never holds the data.

    ``dim`` (r15, expr path only): when the caller KNOWS every vector has
    exactly this length (a store's frozen dim), the per-pair dot unrolls to
    a codegen'd ``F.get`` chain instead of the interpreted zip_with +
    aggregate fold — same left-to-right fp addition order, bit-identical
    scores (parity-pinned), ~2x per pair (2.85 -> 1.50 s on the q154 block
    shape). ``dim`` must be the table's exact frozen dim: a vector shorter
    than dim NULL-propagates its pairs' scores (``F.get`` past the end is
    NULL) — same as the fold when the OTHER side is full-length, but two
    equally-short vectors would score under the fold and NULL here; a dim
    smaller than the true length would sum a prefix. Pass a validated
    store dim or leave None.
    """
    if strategy == "auto" and block_col is None:
        est = _estimated_size_bytes(df.select(id_col, vector_col))
        if est is None:
            est = df.count() * 1024  # stats unavailable: rough 1 KiB/row
        strategy = "blas" if est <= max_broadcast_bytes else "chunked"
    if strategy == "block_gemm":
        if block_col is None:
            raise ValueError(
                "similarity_self_join: strategy='block_gemm' needs a "
                "block_col (an LSH bucket or IVF cluster id)"
            )
        return _similarity_self_join_block_gemm(
            df, threshold, vector_col, id_col, block_col, round_to
        )
    if strategy == "blas":
        return _similarity_self_join_blas(df, threshold, vector_col, id_col, round_to)
    if strategy == "chunked":
        return _similarity_self_join_chunked(
            df, threshold, vector_col, id_col, round_to, n_chunks
        )
    # Precompute each row's norm BEFORE the join: norms cost O(N) instead of
    # O(N^2), and the per-pair work drops to one dot product. The score formula
    # stays dot/(na*nb) — bit-identical to cosine_similarity's fold, so oracle
    # hashes still match exactly.
    base = df.select(
        F.col(id_col).alias("_id"),
        F.col(vector_col).alias("_v"),
        l2_norm(vector_col).alias("_n"),
        *([F.col(block_col).alias("_blk")] if block_col else []),
    )
    left = base.select(
        F.col("_id").alias("a"), F.col("_v").alias("_va"), F.col("_n").alias("_na"),
        *([F.col("_blk").alias("_ba")] if block_col else []),
    )
    right = base.select(
        F.col("_id").alias("b"), F.col("_v").alias("_vb"), F.col("_n").alias("_nb"),
        *([F.col("_blk").alias("_bb")] if block_col else []),
    )
    if block_col:
        joined = left.join(right, F.col("_ba") == F.col("_bb")).filter(F.col("a") < F.col("b"))
    else:
        joined = left.join(right, F.col("a") < F.col("b"))
    if dim is not None:
        # element casts to double BEFORE the multiply: float inputs must
        # widen exactly like the fold's array<double> cast, or products
        # compute in float and scores drift off the oracle
        pair_dot = F.lit(0.0)
        for i in range(int(dim)):
            pair_dot = pair_dot + (
                F.get("_va", i).cast("double") * F.get("_vb", i).cast("double")
            )
    else:
        pair_dot = dot(F.col("_va"), F.col("_vb"))
    denom = F.col("_na") * F.col("_nb")
    sim = F.when(denom != 0, pair_dot / denom)
    out = (
        joined.withColumn("score", sim)
        .filter(F.col("score") >= threshold)
        .select("a", "b", "score")
    )
    if round_to is not None:
        out = out.withColumn("score", F.round("score", round_to))
    return out


def _similarity_self_join_block_gemm(
    df: DataFrame,
    threshold: float,
    vector_col: str,
    id_col: str,
    block_col: str,
    round_to: int | None,
) -> DataFrame:
    """Per-block GEMM all-pairs: rows shuffle ONCE to their block's task,
    which scores the whole block with one (n_b x d) @ (d x n_b) matmul and
    emits surviving pairs — the IVF-cell layout for bucketed near-dup. The
    quadratic term is within-block only; memory per task is one block's
    matrix (size the bucketing so it fits). Scores are double dot/(|a||b|)
    like every other strategy; BLAS pairwise summation differs from the
    sequential fold only in final ulps."""
    import numpy as np
    import pandas as pd

    id_type = dict(df.dtypes)[id_col]
    out_schema = f"a {id_type}, b {id_type}, score double"

    def pairs_of_block(pdf: "pd.DataFrame") -> "pd.DataFrame":
        # NULL vector or NULL id rows can never form a pair (the expr
        # path NULL-propagates them into the dropped-score filter) —
        # drop them here instead of crashing the ragged np.array build
        pdf = pdf[pdf[vector_col].notna() & pdf[id_col].notna()]
        if len(pdf) < 2:
            return pd.DataFrame({"a": [], "b": [], "score": []}).astype(
                {"score": "float64"}
            )
        ids = pdf[id_col].to_numpy()
        m = np.array(pdf[vector_col].tolist(), dtype=np.float64)
        norms = np.linalg.norm(m, axis=1)
        scores = m @ m.T
        denom = np.outer(norms, norms)
        np.divide(scores, denom, out=scores, where=denom != 0)
        mask = (
            (denom != 0)
            & (scores >= threshold)
            & (ids[:, None] < ids[None, :])
        )
        ai, bi = np.nonzero(mask)
        return pd.DataFrame(
            {"a": ids[ai], "b": ids[bi], "score": scores[ai, bi]}
        )

    out = (
        df.select(id_col, vector_col, block_col)
        .groupBy(block_col)
        .applyInPandas(pairs_of_block, schema=out_schema)
    )
    if round_to is not None:
        out = out.withColumn("score", F.round("score", round_to))
    return out


def _similarity_self_join_blas(
    df: DataFrame,
    threshold: float,
    vector_col: str,
    id_col: str,
    round_to: int | None,
) -> DataFrame:
    """Broadcast-GEMM all-pairs: every executor holds the full matrix once
    (TorrentBroadcast, not per-task pickle); each incoming Arrow batch of m
    rows does one (m x d) @ (d x N) matmul and emits only the surviving pairs.

    Scores are double-precision dot/(|a||b|) — same formula as the expr path;
    BLAS pairwise summation differs from the sequential fold only in final
    ulps, invisible at the 6-dp rounding every caller uses.
    """
    import numpy as np
    import pandas as pd

    spark = df.sparkSession
    base = df.select(id_col, vector_col)
    pdf = base.toPandas()
    ids_all = pdf[id_col].to_numpy()
    mat = np.array(pdf[vector_col].tolist(), dtype=np.float64)
    norms_all = np.linalg.norm(mat, axis=1)
    bc = spark.sparkContext.broadcast((ids_all, mat, norms_all))

    id_type = dict(df.dtypes)[id_col]

    def gen(batches):
        ids_g, mat_g, norms_g = bc.value
        for batch in batches:
            m_ids = batch[id_col].to_numpy()
            m = np.array(batch[vector_col].tolist(), dtype=np.float64)
            mn = np.linalg.norm(m, axis=1)
            scores = m @ mat_g.T
            denom = np.outer(mn, norms_g)
            np.divide(scores, denom, out=scores, where=denom != 0)
            mask = (denom != 0) & (scores >= threshold) & (m_ids[:, None] < ids_g[None, :])
            ai, bi = np.nonzero(mask)
            yield pd.DataFrame(
                {"a": m_ids[ai], "b": ids_g[bi], "score": scores[ai, bi]}
            )

    out = base.mapInPandas(gen, schema=f"a {id_type}, b {id_type}, score double")
    if round_to is not None:
        out = out.withColumn("score", F.round("score", round_to))
    return out


def _estimated_size_bytes(df: DataFrame) -> int | None:
    """Catalyst's optimized-plan size estimate (bytes) — file-size based for
    parquet scans, propagated through projections. No job is run."""
    try:
        return int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes().toString()
        )
    except Exception:
        return None


def _similarity_self_join_chunked(
    df: DataFrame,
    threshold: float,
    vector_col: str,
    id_col: str,
    round_to: int | None,
    n_chunks: int | None,
) -> DataFrame:
    """Block-decomposed exact all-pairs GEMM with no driver materialization.

    Rows hash into C chunks. Each unordered chunk pair (p, q) is one task:
    a row in chunk i is exploded to the C groups {(min(i,j), max(i,j))}, so
    the shuffle carries C copies of the input, and each group computes one
    (|p| x d) @ (d x |q|) matmul (within-chunk a<b masking on the diagonal).
    Every unordered row pair lands in exactly one group — exact, and each
    task's memory is two chunks, independent of total table size. Choose C so
    a chunk is a few hundred MB: shuffle cost C*N rows vs per-task memory
    2N/C rows.

    Scores are the same double-precision dot/(|a||b|) as the blas path (BLAS
    pairwise summation differs from the sequential fold only in final ulps,
    invisible at the 6-dp rounding every caller uses).
    """
    import numpy as np
    import pandas as pd

    if n_chunks is None:
        # Target ~64k rows per chunk — at 768-dim float64 that is ~400 MB per
        # task pair. Callers at other scales pass n_chunks explicitly.
        n_chunks = max(2, int(df.count() / 65536) + 1)
    id_type = dict(df.dtypes)[id_col]

    base = df.select(
        F.col(id_col).alias("_id"),
        F.col(vector_col).alias("_v"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_chunks)).cast("int").alias("_chunk"),
    )
    exploded = base.withColumn(
        "_j", F.explode(F.array(*[F.lit(j) for j in range(n_chunks)]))
    ).select(
        F.least("_chunk", "_j").alias("_p"),
        F.greatest("_chunk", "_j").alias("_q"),
        "_id", "_v", "_chunk",
    )

    def compute(key, pdf):
        p, q = key
        ids = pdf["_id"].to_numpy()
        mat = np.array(pdf["_v"].tolist(), dtype=np.float64)
        norms = np.linalg.norm(mat, axis=1)
        if p == q:
            scores = mat @ mat.T
            denom = np.outer(norms, norms)
            np.divide(scores, denom, out=scores, where=denom != 0)
            mask = (denom != 0) & (scores >= threshold) & (ids[:, None] < ids[None, :])
            ai, bi = np.nonzero(mask)
            return pd.DataFrame({"a": ids[ai], "b": ids[bi], "score": scores[ai, bi]})
        left = pdf["_chunk"].to_numpy() == p
        li, ri = ids[left], ids[~left]
        lm, rm = mat[left], mat[~left]
        ln, rn = norms[left], norms[~left]
        scores = lm @ rm.T
        denom = np.outer(ln, rn)
        np.divide(scores, denom, out=scores, where=denom != 0)
        mask = (denom != 0) & (scores >= threshold)
        ai, bi = np.nonzero(mask)
        a_ids, b_ids = li[ai], ri[bi]
        lo = np.minimum(a_ids, b_ids)
        hi = np.maximum(a_ids, b_ids)
        return pd.DataFrame({"a": lo, "b": hi, "score": scores[ai, bi]})

    out = exploded.groupBy("_p", "_q").applyInPandas(
        compute, schema=f"a {id_type}, b {id_type}, score double"
    )
    if round_to is not None:
        out = out.withColumn("score", F.round("score", round_to))
    return out


def normalize_table(df: DataFrame, vector_col: str = "embedding") -> DataFrame:
    """One-time ETL: store unit vectors so serving scores are pure dots."""
    return df.withColumn(vector_col, l2_normalize(vector_col))


def mine_vector_negatives(
    pairs: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    vector_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    positive_id_col: str = "positive_id",
    round_to: int = 6,
) -> DataFrame:
    """Embedding-space hard-negative mining — the ANCE/DPR iteration
    step that follows lexical mining (textsearch.mine_hard_negatives):
    once a first-round embedding model exists, the strongest negatives
    are the corpus vectors CLOSEST to each query under that model,
    minus the labeled positives. Returns ``(query_id, id, rank, score)``
    — top-``k`` cosine-similar corpus vectors per query, positives
    excluded before the rank cut; repeated query_ids with different
    positives are fine (every listed positive is excluded).

    Shape: the query batch (deduped on query_id) broadcasts into ONE
    pass over the corpus — scores are map-side ``cosine_similarity``
    (single fused fold, bit-identical to the oracle), the only shuffle
    is the per-query top-k window. This is the EXACT mining baseline:
    at serving corpus sizes, mine against IVFIndex.topk_batch instead
    and keep this as the recall yardstick (the q25/q69 relationship).
    """
    from pyspark.sql import Window

    from jsonify2ai_spark.functions.vectors import dot, l2_norm

    # Norms hoisted OUT of the pair expression (r14): each corpus row's
    # norm folds once, each query's norm folds once in the broadcast —
    # the per-(corpus x query) work drops to one dot fold instead of the
    # fused cosine's (x*y, x^2, y^2) triple. The score keeps the exact
    # dot/(sqrt(ssq_a)*sqrt(ssq_b)) shape and fold order, so values are
    # bit-identical to cosine_similarity (and the DuckDB oracle); the
    # NULL-on-zero-norm guard is preserved. Measured ~2x on q147's
    # corpus-pass at sf0.1.
    q = pairs.groupBy(query_id_col).agg(
        F.first(query_vec_col).alias("_qv")
    ).withColumn("_qn", l2_norm("_qv"))
    denom = F.col("_cn") * F.col("_qn")
    scored = (
        corpus.withColumn("_cn", l2_norm(vector_col))
        .crossJoin(F.broadcast(q))
        .select(
            F.col(query_id_col),
            F.col(id_col),
            F.when(denom != 0, dot(F.col(vector_col), F.col("_qv")) / denom)
            .alias("_s"),
        )
    )
    # positives are batch-sized — broadcast the anti-join side, or the
    # corpus×batch scored frame shuffles on (query_id, id) just to drop
    # a handful of labeled rows (the plan pin caught this as an SMJ)
    negatives = scored.join(
        F.broadcast(
            pairs.select(F.col(query_id_col), F.col(positive_id_col).alias(id_col))
        ),
        [query_id_col, id_col],
        "left_anti",
    )
    rn = F.row_number().over(
        Window.partitionBy(query_id_col).orderBy(
            F.col("_s").desc(), F.col(id_col).asc()
        )
    )
    return (
        negatives.withColumn("rank", rn)
        .filter(F.col("rank") <= k)
        .select(
            query_id_col,
            id_col,
            "rank",
            F.round("_s", round_to).alias("score"),
        )
    )


def mine_vector_negatives_indexed(
    ivf,
    queries: list,
    positives: dict,
    k: int = 5,
    n_probe: int = 2,
) -> DataFrame:
    """The standing-index form of :func:`mine_vector_negatives`: mine
    embedding-space negatives from a persisted IVFIndex's batched face
    instead of a brute-force corpus pass — the serving-scale path the
    exact miner is the recall yardstick for.

    ``queries``: list of ``(query_id, query_vec)``; ``positives`` maps
    query_id -> iterable of positive ids. Returns
    ``(query_id, <id>, rank, score)`` with the caller's query ids,
    positives excluded before the rank cut (the index over-fetches by
    the largest positive set). Scores are the index's int8-dequantized
    cosines; ranking quality vs exact mining follows the IVF recall the
    q25/q69 bench rows measure — raise ``n_probe`` to trade cost for
    recall.
    """
    over = k + max((len(v) for v in positives.values()), default=0)
    res = ivf.topk_batch([v for _, v in queries], k=over, n_probe=n_probe)
    # the IVF batch face returns (query_id, <id>, cluster, qcos); the
    # output aliases the score to 'score' — the exact miner's column
    # name, so the indexed face really is the documented drop-in
    score_col = "qcos" if "qcos" in res.columns else "score"
    id_col = [
        c for c in res.columns if c not in ("query_id", "cluster", score_col)
    ][0]
    return _rekey_exclude_rank(
        res, queries, positives, k, score_col=score_col, id_col=id_col,
        out_score="score",
    )


def _rekey_exclude_rank(res, queries, positives, k, score_col, id_col, out_score):
    """Shared tail of the indexed mining faces: re-key the index's
    POSITIONAL query ids to the caller's, anti-join the positives, rank
    to k. Id and query-id types are whatever the caller/index use —
    both small frames build by inference, never a hardcoded schema (the
    indexes explicitly support string ids). Duplicate caller query_ids
    would merge two candidate pools into one rank window, so they are
    rejected loudly — merge their positives and pass each query once."""
    from pyspark.sql import Window

    spark = res.sparkSession
    qids = [qid for qid, _ in queries]
    if len(set(qids)) != len(qids):
        raise ValueError(
            "indexed mining: duplicate query_ids in `queries` — merge "
            "their positives and pass each query once"
        )
    pos_map = local_rows_df(
        spark, [(i, qid) for i, qid in enumerate(qids)],
        ["query_id", "_ext_qid"],
    )
    rekeyed = (
        res.join(F.broadcast(pos_map), "query_id")
        .drop("query_id")
        .withColumnRenamed("_ext_qid", "query_id")
    )
    pos_rows = [(qid, d) for qid, ds in positives.items() for d in ds]
    if pos_rows:
        pos_df = local_rows_df(spark, pos_rows, ["query_id", id_col])
        rekeyed = rekeyed.join(
            F.broadcast(pos_df), ["query_id", id_col], "left_anti"
        )
    rn = F.row_number().over(
        Window.partitionBy("query_id").orderBy(
            F.col(score_col).desc(), F.col(id_col).asc()
        )
    )
    return (
        rekeyed.withColumn("rank", rn)
        .filter(F.col("rank") <= k)
        .select(
            "query_id", id_col, "rank", F.col(score_col).alias(out_score)
        )
    )
