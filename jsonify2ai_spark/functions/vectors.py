"""Vector algebra as pure Column expressions (no UDFs in the hot path).

The reference stores 768-dim cosine-metric vectors and validates dims at write
and query time (reference: worker/app/services/qdrant_client.py:339-351,502-505,
worker/app/config.py:41-42). Here a vector is an ``array<float|double>`` column
and similarity is a ``zip_with`` + ``aggregate`` expression — no UDF, no
Python worker, no shuffle (an embarrassingly parallel map). In Spark 4.1
``ZipWith``/``ArrayAggregate``/``ArrayTransform`` are ``CodegenFallback``:
the whole stage is still generated, but these nodes are evaluated
interpreted, once per row, inside it — so what a kernel allocates per
ELEMENT (a struct, a boxed double) is its hot loop, and the fewer
per-element terms a score folds the faster it runs.

Determinism note: ``aggregate`` folds left-to-right sequentially per row, so a
double-precision score is bit-identical across runs and partitionings — which is
what lets the DuckDB oracle hash-match scores exactly.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# dtype -> (big-endian numpy dtype, JVM primitive, java.nio view method)
_JAVA_ARRAYS = {
    "double": (">f8", "double", "asDoubleBuffer"),
    "int": (">i4", "int", "asIntBuffer"),
}


def vec_lit(vec, dtype: str = "double") -> Column:
    """A driver-side vector as ONE array literal (``array<double>`` or
    ``array<int>``), built in a constant number of JVM calls.

    ``F.array(*[F.lit(x) for x in vec])`` costs four Py4J round trips per
    element and plans a ``CreateArray`` with ``len(vec)`` children — ~270 ms
    of driver time for a 768-dim query. Even ``F.lit(ndarray)`` fills its
    Java array one Py4J
    ``setitem`` per slot (~45 ms). Here the values cross once as a
    big-endian byte string and are copied into a Java ``double[]``/``int[]``
    by a ``java.nio`` buffer view: IEEE bits are shipped, never a decimal
    repr, so every value is exactly the Python one. Needs an active classic
    SparkContext, as ``F.lit`` does.
    """
    import numpy as np
    from pyspark import SparkContext

    be, jtype, view = _JAVA_ARRAYS[dtype]
    sc = SparkContext._active_spark_context
    buf = np.asarray(vec, dtype=be)
    jarr = sc._gateway.new_array(getattr(sc._jvm, jtype), len(buf))
    getattr(sc._jvm.java.nio.ByteBuffer.wrap(bytearray(buf.tobytes())), view)().get(jarr)
    return F.lit(jarr)


def norm_py(vec) -> float:
    """Sequential-fold L2 norm — bit-identical to :func:`l2_norm`'s
    ``aggregate`` and the oracle's list_sum fold (do NOT use math.fsum or
    numpy: a different summation would break score parity)."""
    import math

    s = 0.0
    for x in vec:
        s += float(x) * float(x)
    return math.sqrt(s)


def _as_double(v: Column) -> Column:
    return v.cast("array<double>")


def dot(a: Column | str, b: Column | str) -> Column:
    """Dot product of two equal-length array columns, computed in double."""
    a, b = F.col(a) if isinstance(a, str) else a, F.col(b) if isinstance(b, str) else b
    prod = F.zip_with(_as_double(a), _as_double(b), lambda x, y: x * y)
    return F.aggregate(prod, F.lit(0.0), lambda acc, x: acc + x)


def l2_norm(a: Column | str) -> Column:
    a = F.col(a) if isinstance(a, str) else a
    sq = F.transform(_as_double(a), lambda x: x * x)
    return F.sqrt(F.aggregate(sq, F.lit(0.0), lambda acc, x: acc + x))


def cosine_similarity(a: Column | str, b: Column | str) -> Column:
    """Cosine similarity; null-safe on zero norms (returns NULL, never NaN).

    Mirrors the reference's Cosine distance metric (qdrant Cosine collections,
    worker/app/qdrant_init.py:28-43). For repeated top-k serving, pre-normalize
    the table once with :func:`l2_normalize` and use :func:`dot` instead — that
    halves the per-row flops and the norm becomes a one-time ETL cost.

    Fused single-pass fold: one ``zip_with`` producing (x*y, x², y²) triples,
    one ``aggregate`` with a struct accumulator. The input expression trees for
    ``a`` and ``b`` therefore appear exactly ONCE in the plan — the naive
    ``dot(a,b) / (l2_norm(a)*l2_norm(b))`` inlines ``a`` three times (Catalyst
    does no CSE across lambda bodies), which for a wide synthesized input like
    ``dev_embedding(text)`` tripled the codegen unit and its compile time.
    Each accumulator component adds in the same left-to-right order as the
    separate ``dot``/``l2_norm`` folds, and the final expression keeps the
    ``dot / (sqrt(na)*sqrt(nb))`` shape, so scores are bit-identical to the
    unfused form (and to the DuckDB oracle).

    When one side is a constant (a query vector), use
    :func:`cosine_to_query` — what ``cosine_topk`` scores with. It is cheaper
    because it allocates no per-element struct: the query norm is folded
    once on the driver, and each row folds one plain ``x*y`` dot and one
    ``x*x`` norm, with identical scores.
    """
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    terms = F.zip_with(
        _as_double(a),
        _as_double(b),
        lambda x, y: F.struct(
            (x * y).alias("xy"), (x * x).alias("xx"), (y * y).alias("yy")
        ),
    )
    zero = F.struct(
        F.lit(0.0).alias("d"), F.lit(0.0).alias("na"), F.lit(0.0).alias("nb")
    )
    return F.aggregate(
        terms,
        zero,
        lambda acc, t: F.struct(
            (acc["d"] + t["xy"]).alias("d"),
            (acc["na"] + t["xx"]).alias("na"),
            (acc["nb"] + t["yy"]).alias("nb"),
        ),
        # acc is a bound lambda variable (a materialized struct), so the two
        # references to the denom sub-expression cost two sqrts, not two folds
        lambda acc: F.when(
            F.sqrt(acc["na"]) * F.sqrt(acc["nb"]) != 0,
            acc["d"] / (F.sqrt(acc["na"]) * F.sqrt(acc["nb"])),
        ),
    )


def cosine_to_query(a: Column | str, query_vec) -> Column:
    """Cosine of every row's vector against one constant query vector —
    the hoisted-norm form of :func:`cosine_similarity` with identical
    scores.

    The query's norm is a driver-side constant (:func:`norm_py`, the same
    left-to-right fold), the query itself one :func:`vec_lit` literal, and
    each row folds its own norm once: ``dot(a, q) / nullif(|a|*|q|, 0)``
    is the fused form's ``dot / (sqrt(na)*sqrt(nb))`` evaluated in the same
    order, NULL where the denominator is zero (a zero-norm row or an
    all-zero query). ``nullif`` rather than ``when(den != 0, dot/den)``
    keeps the row's norm fold single: Catalyst does not share a
    sub-expression between a CASE WHEN's condition and its only branch.
    """
    a = F.col(a) if isinstance(a, str) else a
    den = l2_norm(a) * F.lit(norm_py(query_vec))
    return dot(a, vec_lit(query_vec)) / F.nullif(den, F.lit(0.0))


def l2_normalize(a: Column | str) -> Column:
    """Return the unit-length copy of an array column (double).

    The norm is LET-BOUND via a single-element transform: dividing inside a
    ``transform`` lambda by a bare ``l2_norm(a)`` expression would re-fold the
    norm once PER ELEMENT (no CSE across lambda bodies — dim+1 folds per row).
    """
    a = F.col(a) if isinstance(a, str) else a
    bound = F.array(F.struct(_as_double(a).alias("v"), l2_norm(a).alias("n")))
    return F.element_at(
        F.transform(
            bound,
            lambda s: F.when(
                s["n"] != 0, F.transform(s["v"], lambda x: x / s["n"])
            ),
        ),
        1,
    )


def dev_embedding(text: Column | str, dim: int = 768, signed: bool = False) -> Column:
    """Deterministic hash-embedding: the engine's model-free oracle mode.

    Replicates the reference's EMBED_DEV_MODE semantics (reference:
    worker/app/services/embed_ollama.py:45-51): take sha256(text) digest bytes,
    cycle them across ``dim`` slots, scale ``h[i % 32] / 256.0`` into [0,1).
    With ``signed=True`` uses the CLI variant ``h[i % 32] / 255 * 2 - 1`` in
    [-1,1] (reference: scripts/dev/tools/ingest_dropzone.py:262-264).

    Pure SQL: sha2 -> hex pairs -> ints, expanded with ``transform(sequence)``,
    so embeddings are a codegen'd projection — no model, no UDF, reproducible
    on any cluster. This is what makes the whole ingest pipeline testable
    against a SQL oracle.
    """
    text = F.col(text) if isinstance(text, str) else text
    idx = F.sequence(F.lit(0), F.lit(dim - 1))

    def _expand(hexd: Column) -> Column:
        # hexd is LET-BOUND by the outer transform: referencing the sha2
        # expression directly inside the per-element lambda would recompute
        # the digest dim times per row (no CSE across lambda bodies)
        def byte_at(i: Column) -> Column:
            # digest byte i%32 -> int value via conv(hexpair, 16, 10)
            pair = F.substring(hexd, (i % 32) * 2 + 1, 2)
            return F.conv(pair, 16, 10).cast("double")

        if signed:
            return F.transform(idx, lambda i: byte_at(i) / F.lit(255.0) * 2.0 - 1.0)
        return F.transform(idx, lambda i: byte_at(i) / F.lit(256.0))

    digest = F.array(F.sha2(text.cast("string"), 256))  # 64 hex chars = 32 bytes
    return F.element_at(F.transform(digest, _expand), 1)


def dev_embedding_py(text: str, dim: int = 768, signed: bool = False) -> list[float]:
    """Driver-side twin of :func:`dev_embedding` for embedding query strings."""
    import hashlib

    h = hashlib.sha256(text.encode("utf-8")).digest()
    if signed:
        return [h[i % 32] / 255.0 * 2.0 - 1.0 for i in range(dim)]
    return [h[i % 32] / 256.0 for i in range(dim)]


def quantize_embeddings(
    df, vector_col: str = "embedding", id_col: str = "vec_id",
    carry_cols: tuple[str, ...] = (),
):
    """Int8 scalar quantization of a vector column: (id, qvec, scale).

    The 100 TB serving-storage trade: an int8 codebook is 4-8x smaller than
    the float column (qvec values lie in [-127, 127]; persist as
    ``array<tinyint>`` — kept ``array<int>`` here only because the DuckDB
    oracle compares INTs), which is the difference between an ANN working
    set that fits executor memory and one that spills. Per-vector scale =
    maxabs/127; q_i = floor(v_i * 127/maxabs + 0.5) — explicit half-up
    floor, NOT round(), because round() half-case semantics differ across
    engines and the quantized values must replay bit-identically in the
    oracle. An all-zero vector quantizes to zeros with scale 0 (excluded
    from cosine serving by the zero-norm guard, same as the float path).

    Cosine needs NO dequantization: per-vector scales cancel in
    dot/(|a||b|), so :func:`int8_cosine` is integer arithmetic until the
    final division — see the error-bound test for the accuracy cost.
    """
    v = F.col(vector_col)
    stage = df.select(
        F.col(id_col),
        *[F.col(c) for c in carry_cols],
        _as_double(v).alias("_v"),
    ).withColumn(
        "_maxabs",
        F.aggregate(F.col("_v"), F.lit(0.0), lambda a, x: F.greatest(a, F.abs(x))),
    )
    return stage.select(
        F.col(id_col),
        *[F.col(c) for c in carry_cols],
        F.when(
            F.col("_maxabs") == 0,
            F.transform(F.col("_v"), lambda x: F.lit(0)),
        )
        .otherwise(
            F.transform(
                F.col("_v"),
                lambda x: F.floor(
                    x * F.lit(127.0) / F.col("_maxabs") + F.lit(0.5)
                ).cast("int"),
            )
        )
        .alias("qvec"),
        (F.col("_maxabs") / F.lit(127.0)).alias("scale"),
    )


def quantize_query_py(vec: list[float]) -> list[int]:
    """Driver-side twin of :func:`quantize_embeddings` for quantizing a query
    vector: same maxabs/127 scale and half-up floor, so a query quantized on
    the driver scores bit-identically to one quantized in the plan."""
    import math

    maxabs = 0.0
    for x in vec:
        maxabs = max(maxabs, abs(float(x)))
    if maxabs == 0:
        return [0 for _ in vec]
    return [int(math.floor(float(x) * 127.0 / maxabs + 0.5)) for x in vec]


def int8_cosine(a: Column | str, b: Column | str) -> Column:
    """Cosine over int8-quantized vectors — integer fold (exact at any
    length: the accumulator is bigint, elementwise products <= 127^2), one
    double division at the end. Scales cancel, so none are needed. NULL on
    zero norms, like :func:`cosine_similarity`."""
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    terms = F.zip_with(
        a,
        b,
        lambda x, y: F.struct(
            (x * y).cast("bigint").alias("xy"),
            (x * x).cast("bigint").alias("xx"),
            (y * y).cast("bigint").alias("yy"),
        ),
    )
    zero = F.struct(
        F.lit(0).cast("bigint").alias("d"),
        F.lit(0).cast("bigint").alias("na"),
        F.lit(0).cast("bigint").alias("nb"),
    )
    return F.aggregate(
        terms,
        zero,
        lambda acc, t: F.struct(
            (acc["d"] + t["xy"]).alias("d"),
            (acc["na"] + t["xx"]).alias("na"),
            (acc["nb"] + t["yy"]).alias("nb"),
        ),
        lambda acc: F.when(
            (acc["na"] > 0) & (acc["nb"] > 0),
            acc["d"].cast("double")
            / (F.sqrt(acc["na"].cast("double")) * F.sqrt(acc["nb"].cast("double"))),
        ),
    )
