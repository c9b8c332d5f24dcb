"""Scalar function contracts: UUID5 parity with CPython, dev-embedding parity,
cosine identities, text normalization."""

from __future__ import annotations

import uuid

from pyspark.sql import functions as F

from jsonify2ai_spark.functions.ids import (
    chunk_id_for,
    document_id_for,
    uuid5_py,
    uuid5_sql,
)
from jsonify2ai_spark.functions.text import (
    normalize_newlines,
    normalize_ws,
    shingles,
    token_count,
    truncate_ellipsis,
)
from jsonify2ai_spark.functions.vectors import (
    cosine_similarity,
    dev_embedding,
    dev_embedding_py,
    l2_normalize,
)


def test_uuid5_matches_cpython(spark):
    names = ["a", "notes/x.md", "päth/ünïcode.txt", "x" * 500, "chunk:0", ""]
    df = spark.createDataFrame([(n,) for n in names], ["name"])
    got = {r["name"]: r["u"] for r in df.select("name", uuid5_sql("name").alias("u")).collect()}
    for n in names:
        assert got[n] == uuid5_py(n), n


def test_uuid5_chained_namespace(spark):
    # chunk id = uuid5(document_id, "chunk:{idx}") — column namespace path
    df = spark.createDataFrame([("docs/readme.md", i) for i in range(4)], ["path", "idx"])
    out = df.select(
        "path", "idx",
        document_id_for("path").alias("doc"),
        chunk_id_for(document_id_for("path"), "idx").alias("cid"),
    ).collect()
    for r in out:
        doc = uuid.uuid5(uuid.UUID("00000000-0000-5000-8000-000000000000"), r["path"])
        assert r["doc"] == str(doc)
        assert r["cid"] == str(uuid.uuid5(doc, f"chunk:{r['idx']}"))


def test_dev_embedding_parity_and_range(spark):
    texts = ["hello", "", "spark merge join window", "ü"]
    df = spark.createDataFrame([(t,) for t in texts], ["t"])
    rows = df.select("t", dev_embedding("t", dim=96).alias("v")).collect()
    for r in rows:
        expect = dev_embedding_py(r["t"], 96)
        assert r["v"] == expect, r["t"]
        assert all(0.0 <= x < 1.0 for x in r["v"])
    srow = df.select(dev_embedding("t", dim=16, signed=True).alias("v")).first()
    assert all(-1.0 <= x <= 1.0 for x in srow["v"])


def test_cosine_identities(spark):
    df = spark.range(1)
    a = F.array(F.lit(1.0), F.lit(2.0), F.lit(3.0))
    b = F.array(F.lit(2.0), F.lit(4.0), F.lit(6.0))
    z = F.array(F.lit(0.0), F.lit(0.0), F.lit(0.0))
    r = df.select(
        cosine_similarity(a, b).alias("parallel"),
        cosine_similarity(a, z).alias("zero"),
        cosine_similarity(l2_normalize(a), l2_normalize(a)).alias("self"),
    ).first()
    assert abs(r["parallel"] - 1.0) < 1e-12
    assert r["zero"] is None  # null-safe, not NaN
    assert abs(r["self"] - 1.0) < 1e-12


def _bits(rows):
    """(id, score bits) — float.hex tells -0.0 from 0.0 where == cannot."""
    return [(i, None if s is None else s.hex()) for i, s in rows]


def test_cosine_topk_bit_identical_to_fused_cosine(spark):
    """cosine_topk's hoisted-norm kernel (driver-folded query norm, one
    array literal) scores exactly as the fused ``cosine_similarity`` over
    a per-element literal array did — same bits, same order — on an
    ``array<float>`` column of random non-dyadic values, a zero-norm row
    (NULL score, ranked last), an all-zero query (all NULL), a filtered
    call and the pre-normalized dot path."""
    import random

    from jsonify2ai_spark.functions.vectors import dot
    from jsonify2ai_spark.operators.search import cosine_topk

    rng = random.Random(7)
    dim, n = 24, 40
    rows = [(0, 0, [0.0] * dim)] + [
        (i, i % 3, [rng.uniform(-3.0, 3.0) / 7.0 for _ in range(dim)])
        for i in range(1, n)
    ]
    df = spark.createDataFrame(rows, "id long, grp int, v array<float>")
    q = [rng.uniform(-1.0, 1.0) / 3.0 for _ in range(dim)]

    def old_lit(vec):
        return F.array(*[F.lit(float(x)) for x in vec])

    def fused(frame, vec, score=cosine_similarity):
        ranked = frame.select(
            "id", score(F.col("v"), old_lit(vec)).alias("score")
        ).orderBy(F.col("score").desc(), F.col("id").asc())
        return [(r["id"], r["score"]) for r in ranked.collect()]

    def topk(frame, vec, **kw):
        hits = cosine_topk(frame, vec, k=n, vector_col="v", **kw).collect()
        return [(r["id"], r["score"]) for r in hits]

    want = fused(df, q)
    got = topk(df, q)
    assert _bits(got) == _bits(want)
    assert got[-1] == (0, None)  # zero-norm row: NULL, ranked last
    assert sum(s is None for _, s in got) == 1

    zero = topk(df, [0.0] * dim)
    assert len(zero) == n and all(s is None for _, s in zero)
    assert _bits(zero) == _bits(fused(df, [0.0] * dim))

    flt = F.col("grp") == 1
    got_f = topk(df, q, filters=flt)
    assert {i for i, _ in got_f} == {r[0] for r in rows if r[1] == 1}
    assert _bits(got_f) == _bits(fused(df.filter(flt), q))

    unit = df.withColumn("v", l2_normalize("v")).filter(F.col("id") > 0)
    got_n = topk(unit, q, pre_normalized=True)
    assert _bits(got_n) == _bits(fused(unit, q, score=dot))


def _py4j_calls(spark, monkeypatch, build) -> int:
    """Py4J round trips the driver makes while ``build()`` runs, not
    counting the ``m d`` releases of garbage-collected Java references
    (their number follows Python's collector, not the work done)."""
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    calls = [0]

    def counting(command, *args, **kwargs):
        if not command.startswith("m\nd\n"):
            calls[0] += 1
        return send(command, *args, **kwargs)

    monkeypatch.setattr(client, "send_command", counting)
    try:
        build()
    finally:
        monkeypatch.setattr(client, "send_command", send)
    return calls[0]


def test_query_literal_costs_constant_jvm_calls(spark, monkeypatch):
    """Building a top-k plan or the IVF centroid scores costs the same
    number of JVM calls at any vector dim (a per-element ``F.lit`` array
    costs 4 per element), and the query reaches the plan as ONE array
    literal, not a CreateArray of dim literals."""
    from jsonify2ai_spark.operators.ann import centroid_scores
    from jsonify2ai_spark.operators.search import cosine_topk

    df = spark.createDataFrame([(1, [1.0, 2.0])], "id long, v array<double>")

    def topk_plan(dim):
        return cosine_topk(df, [0.1 * (j + 1) for j in range(dim)], vector_col="v")

    def centroid_col(dim):
        cents = [[0.5 * c + 0.01 * j for j in range(dim)] for c in range(3)]
        return df.select(centroid_scores(F.col("v"), cents).alias("s"))

    for build in (topk_plan, centroid_col):
        build(8)  # warm: first-use class lookups are not per-dim work
        small = _py4j_calls(spark, monkeypatch, lambda: build(8))
        large = _py4j_calls(spark, monkeypatch, lambda: build(256))
        assert small == large, (build.__name__, small, large)

    analyzed = topk_plan(256)._jdf.queryExecution().analyzed().toString()
    assert "array(" not in analyzed  # no CreateArray node for the query
    assert "[0.1,0.2," in analyzed  # the literal prints as one array


def test_text_normalization(spark):
    df = spark.createDataFrame([("  a\t\tb\r\nc  ",)], ["t"])
    r = df.select(
        normalize_ws("t").alias("ws"),
        normalize_newlines("t").alias("nl"),
        truncate_ellipsis(F.lit("x" * 700), 600).alias("tr"),
        truncate_ellipsis(F.lit("short"), 600).alias("keep"),
    ).first()
    assert r["ws"] == "a b c"
    assert r["nl"] == "  a\t\tb\nc  "
    assert len(r["tr"]) == 601 and r["tr"].endswith("…")
    assert r["keep"] == "short"


def test_shorten_preview_matches_textwrap(spark):
    """F9 parity: shorten_preview == textwrap.shorten(width=160, '...') on an
    adversarial ASCII corpus (word boundaries at/around the cut, overlong
    first words, exact-fit lengths). One JVM round-trip for the whole corpus.
    ASCII only: Java regex \\s is ASCII while Python str.split is Unicode —
    the engine-wide tokenization stance."""
    import textwrap

    from jsonify2ai_spark.functions.text import shorten_preview

    corpus = [
        "",
        "short one",
        "x" * 159,
        "x" * 160,
        "x" * 161,  # one overlong word: placeholder alone
        ("word " * 40).strip(),          # 199 chars, boundary at 5k+4
        ("word " * 32).strip(),          # 159 chars: fits
        ("a " * 100).strip(),
        "  leading   and \t internal\nwhitespace   " + "tail " * 40,
        ("abcdefgh " * 20).strip(),
        ("z" * 155) + " tail words here",
        ("z" * 157) + " tail",
        ("z" * 158) + " tail",
        "one " + ("y" * 200),
    ]
    df = spark.createDataFrame([(s,) for s in corpus], ["t"])
    got = [r["p"] for r in df.select(shorten_preview("t").alias("p")).collect()]
    for s, g in zip(corpus, got):
        expect = textwrap.shorten(s, width=160, placeholder="...") if s.strip() else ""
        assert g == expect, f"{s[:40]!r}...: got {g!r} expect {expect!r}"


def test_shingles_and_tokens(spark):
    df = spark.createDataFrame([("a b c d",), ("a b",), ("",)], ["t"])
    rows = df.select("t", shingles("t", 3).alias("s"), token_count("t").alias("n")).collect()
    by = {r["t"]: r for r in rows}
    assert by["a b c d"]["s"] == ["a b c", "b c d"]
    assert by["a b"]["s"] == ["a b"]  # short text -> whole-text shingle
    assert by["a b c d"]["n"] == 4
    assert by[""]["n"] == 0


def test_tfidf_embeddings_deterministic_and_searchable(spark):
    """MLlib-native embedding family (SURVEY §2.9): HashingTF+IDF vectors are
    deterministic, plug into the shared vector contract (cosine top-k
    self-hit), and IDF zeroes terms present in every document."""
    from jsonify2ai_spark.functions.embed_mllib import tfidf_embeddings
    from jsonify2ai_spark.operators.search import cosine_topk

    rows = [
        (1, "common alpha beta"),
        (2, "common gamma delta"),
        (3, "common epsilon zeta eta theta"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    emb, model = tfidf_embeddings(df, dim=64)
    vecs = {r["doc_id"]: r["vector"] for r in emb.collect()}
    assert all(len(v) == 64 for v in vecs.values())

    # determinism: same corpus -> same vectors
    emb2, _ = tfidf_embeddings(df.repartition(3), dim=64)
    assert {r["doc_id"]: r["vector"] for r in emb2.collect()} == vecs

    # 'common' appears in EVERY doc: idf = ln((n+1)/(df+1)) = ln(1) = 0,
    # so doc 1 and doc 2 share no nonzero dimension
    import math
    dot12 = sum(a * b for a, b in zip(vecs[1], vecs[2]))
    assert math.isclose(dot12, 0.0, abs_tol=1e-12)

    # shared vector contract: exact self-query is hit@1 with score 1.0
    hits = cosine_topk(emb, vecs[3], k=2, vector_col="vector", id_cols=("doc_id",)).collect()
    assert hits[0]["doc_id"] == 3 and abs(hits[0]["score"] - 1.0) < 1e-9


def test_tfidf_hashed_family_parity(spark):
    """The SQL-expressible family member (md5-bucket sparse TF-IDF,
    tfidf_cosine_topk — q64's operator) must behave like the MLlib member:
    self-probe hit@1 at cosine 1.0, deterministic under repartition, zero
    weight for a term in every doc, NULL/empty text tolerated (no rows, not
    a crash)."""
    import math

    from jsonify2ai_spark.functions.embed_mllib import (
        tfidf_cosine_topk,
        tfidf_hashed_weights,
    )

    rows = [
        (1, "common alpha beta"),
        (2, "common gamma delta"),
        (3, "common epsilon zeta eta theta"),
        (4, None),
        (5, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    # probe = min doc_id (1); its self-cosine is exactly 1.0 and ranks first
    hits = tfidf_cosine_topk(df, k=5).collect()
    assert hits[0]["doc_id"] == 1 and abs(hits[0]["tfidf_cosine"] - 1.0) < 1e-9
    # NULL/empty docs contribute no weights and never appear
    assert all(r["doc_id"] not in (4, 5) for r in hits)

    # 'common' in EVERY doc of a 3-doc corpus -> idf = ln(4/4) = 0 -> docs 1
    # and 2 share no weighted bucket -> doc 2 absent from the sparse result
    df3 = spark.createDataFrame(rows[:3], "doc_id long, text string")
    hits3 = tfidf_cosine_topk(df3, k=3).collect()
    assert hits3[0]["doc_id"] == 1
    assert all(r["doc_id"] != 2 for r in hits3)

    # determinism under physical layout changes
    hits2 = tfidf_cosine_topk(df.repartition(3), k=5).collect()
    assert [tuple(r) for r in hits2] == [tuple(r) for r in hits]

    # weight semantics match the MLlib formula: tf * ln((N+1)/(df+1)).
    # 'alpha' appears once in doc 1; N=5 docs, df(alpha's bucket)=1
    w = {
        (r["doc_id"], r["bucket"]): r["w"]
        for r in tfidf_hashed_weights(df, dim=4096).collect()
    }
    assert any(
        math.isclose(v, math.log(6.0 / 2.0), rel_tol=1e-12)
        for (d, _), v in w.items()
        if d == 1
    )


def test_quantize_embeddings_error_bound_and_recall(spark, tables):
    """Int8 quantization accuracy contract: against the float cosine over
    the real embeddings table, the quantized cosine errs by < 0.01 per
    pair, the top-10 sets overlap >= 8/10, the self-hit stays rank 1, and
    an all-zero vector quantizes to zeros/scale-0 and is excluded (NULL)
    by the zero-norm guard."""
    from jsonify2ai_spark.functions.vectors import (
        cosine_similarity,
        int8_cosine,
        quantize_embeddings,
    )

    emb = tables["embeddings"].select("vec_id", "embedding")
    probe_float = emb.orderBy("vec_id").first()["embedding"]
    pf = F.array(*[F.lit(float(x)) for x in probe_float])
    exact = {
        r["vec_id"]: r["c"]
        for r in emb.select(
            "vec_id", cosine_similarity("embedding", pf).alias("c")
        ).collect()
    }

    q = quantize_embeddings(emb).localCheckpoint(eager=False)
    pq_row = q.orderBy("vec_id").first()
    assert max(abs(x) for x in pq_row["qvec"]) == 127  # full int8 range used
    pq = F.array(*[F.lit(int(x)) for x in pq_row["qvec"]])
    approx = {
        r["vec_id"]: r["c"]
        for r in q.select("vec_id", int8_cosine("qvec", pq).alias("c")).collect()
    }

    errs = [abs(exact[i] - approx[i]) for i in exact]
    assert max(errs) < 0.01, max(errs)
    top_exact = sorted(exact, key=lambda i: (-exact[i], i))[:10]
    top_approx = sorted(approx, key=lambda i: (-approx[i], i))[:10]
    assert len(set(top_exact) & set(top_approx)) >= 8
    assert top_approx[0] == top_exact[0] == pq_row["vec_id"]  # self-hit

    zeros = spark.createDataFrame(
        [(1, [0.0, 0.0, 0.0]), (2, [1.0, -2.0, 0.5])],
        "vec_id long, embedding array<double>",
    )
    zq = {r["vec_id"]: r for r in quantize_embeddings(zeros).collect()}
    assert zq[1]["qvec"] == [0, 0, 0] and zq[1]["scale"] == 0.0
    assert zq[2]["qvec"] == [64, -127, 32]  # floor(v*127/2 + 0.5)
    got = (
        quantize_embeddings(zeros)
        .select(int8_cosine("qvec", F.array(F.lit(1), F.lit(0), F.lit(0))).alias("c"))
        .collect()
    )
    assert any(r["c"] is None for r in got)  # zero vector -> NULL, not NaN


def test_word2vec_embeddings_shape_and_contract(spark):
    """Word2Vec variant: right dim, vectors usable by the same operators,
    deterministic under fixed seed + single training partition."""
    from jsonify2ai_spark.functions.embed_mllib import word2vec_embeddings

    rows = [(i, "spark runs fast queries on big data " * 3) for i in range(1, 5)]
    rows += [(9, "cats purr softly at home")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    emb, model = word2vec_embeddings(df, dim=16)
    vecs = {r["doc_id"]: r["vector"] for r in emb.collect()}
    assert all(len(v) == 16 for v in vecs.values())
    assert any(abs(x) > 0 for x in vecs[1])
    emb2, _ = word2vec_embeddings(df, dim=16)
    assert {r["doc_id"]: r["vector"] for r in emb2.collect()} == vecs


def test_tfidf_embeddings_tolerate_null_text(spark):
    """Review finding: a NULL text row NPE'd inside HashingTF and killed the
    IDF fit; NULL documents must embed as zero vectors instead."""
    from jsonify2ai_spark.functions.embed_mllib import tfidf_embeddings

    df = spark.createDataFrame(
        [(1, "hello world"), (2, None), (3, "")], "doc_id long, text string"
    )
    emb, _ = tfidf_embeddings(df, dim=16)
    vecs = {r["doc_id"]: r["vector"] for r in emb.collect()}
    assert len(vecs) == 3
    assert all(x == 0.0 for x in vecs[2]) and all(x == 0.0 for x in vecs[3])
    assert any(x != 0.0 for x in vecs[1])
