"""Workload ``train_prep``: LLM training-corpus preparation.

Phases: generate inputs -> session -> warm-up on a separate corpus ->
timed rounds for ``--seconds``: each round runs ``prepare_training_corpus``
with its default stages (quality -> repetition -> exact dedup -> MinHash
near-dedup + connected components -> PII redaction -> packing) over a fresh
raw corpus shard and writes the result to Parquet. The generator knows
every planted duplicate, boilerplate document and PII string, and the
checks compare the pyarrow-read output against that truth.
"""

from __future__ import annotations

import os
import time

import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import checks, gen
from perfbench.harness import dir_stats, median, traced_op

SHARD_DOCS = 400
# Timed rounds: at least this many, and more while --seconds have not passed
# since the first began. A prep of a shard takes more than 3 s, so a run
# makes exactly three, and op_p50_ms is a median that drops one outlier.
MIN_ROUNDS = 3
WARM_DOCS = 400
WARM_PREPS = 2          # later preps keep getting faster: one is not enough
PACK_BUDGET = 2000      # prepare_training_corpus's default pack_budget
OPS = ("prep",)
# the layers the traced run measures (see run.exercises)
LAYERS = ("textstats", "dedup", "pii", "packing", "pipelines")


def _write_corpus(path: str, corpus: gen.PrepCorpus) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    ids, texts = zip(*corpus.rows)
    pq.write_table(pa.table({"doc_id": list(ids), "text": list(texts)}), path)


def run(r) -> dict:
    t_gen = time.time()
    for w in range(WARM_PREPS):
        warm = gen.make_prep_corpus(r.seed, shard=90 + w, n_docs=WARM_DOCS)
        _write_corpus(r.path(f"warm_{w}", "corpus.parquet"), warm)
    r.gen_s += time.time() - t_gen

    spark = r.start_spark()
    from jsonify2ai_spark.pipelines import prepare_training_corpus

    r.log("session up")
    tr = r.tracer

    def prep(src: str, out: str, audit=None) -> None:
        docs = spark.read.parquet(src)
        prepare_training_corpus(docs, audit=audit).write.mode("overwrite").parquet(out)

    for w in range(WARM_PREPS):
        prep(r.path(f"warm_{w}", "corpus.parquet"), r.path(f"warm_{w}", "out"))
        r.log("warm-up prep done")
    setup_s = r.setup_done()
    r.log("warm-up done")

    rounds = []
    n = 0
    deadline = time.perf_counter() + r.seconds
    while n < MIN_ROUNDS or time.perf_counter() < deadline:
        t_gen = time.perf_counter()
        corpus = gen.make_prep_corpus(r.seed, shard=n, n_docs=SHARD_DOCS)
        src, out = r.path(f"shard_{n:02d}", "corpus.parquet"), r.path(f"shard_{n:02d}", "out")
        _write_corpus(src, corpus)
        gen_s = time.perf_counter() - t_gen
        t0 = time.perf_counter()
        with traced_op(r, "prep"):
            prep(src, out)
        rounds.append({"s": time.perf_counter() - t0, "bytes": corpus.n_bytes,
                       "corpus": corpus, "out": out})
        n += 1
        deadline += gen_s       # generating the next shard is not measured time
    r.log(f"{n} rounds; prep p50 {median([x['s'] for x in rounds]):.2f}s")

    for x in rounds:
        out = pq.read_table(x["out"]).to_pandas()
        c = x["corpus"]
        r.check(checks.check_prep(out, {i for i, _ in c.rows}, c.families, c.boilerplate,
                                  c.pii_planted, PACK_BUDGET), f"prep of {x['out']}")
        r.attempted += 1
    r.log("checks done")

    metrics = {
        "setup_s": (setup_s, "s"),
        "load_mb_per_s": (sum(x["bytes"] for x in rounds) / 1e6 / sum(x["s"] for x in rounds),
                          "MB/s"),
        "bytes_written_per_source_byte": (
            sum(dir_stats(x["out"])[0] for x in rounds) / sum(x["bytes"] for x in rounds),
            "ratio"),
        "op_p50_ms": (1e3 * median([x["s"] for x in rounds]), "ms"),
        # a round is one operation here: prep + write of one shard
        "round_p50_s": (median([x["s"] for x in rounds]), "s"),
    }
    if tr.enabled:
        metrics = _layers(r, spark, rounds)
        warm = r.path("warm_0", "corpus.parquet")
        metrics.update(r.trace_overhead(lambda: prep(warm, r.path("overhead_out")), 1))
    return metrics


def _layers(r, spark, rounds) -> dict:
    """Traced run: the ``audit=`` boundary frames of one extra prep of the
    first shard, materialized in stage order, plus the LSH candidate pairs
    on the exact-dedup survivors verified against true shingle Jaccard."""
    from jsonify2ai_spark.operators.dedup import minhash_lsh_pairs
    from jsonify2ai_spark.pipelines import prep_report, prepare_training_corpus

    tr = r.tracer
    src = os.path.join(os.path.dirname(rounds[0]["out"]), "corpus.parquet")
    docs = spark.read.parquet(src)
    audit: list = []
    final = prepare_training_corpus(docs, audit=audit)
    frames = dict(audit)
    names = {"quality": "textstats.quality", "repetition": "textstats.repetition",
             "exact_dedup": "dedup.exact", "near_dedup": "dedup.near", "redact": "pii.redact"}
    m = {}
    for stage, frame in audit:
        if stage in names:
            with tr.span(names[stage], op="probe"):
                frame.count()
            m[names[stage] + "_s"] = (tr.total(names[stage]), "s")
    with tr.span("packing.pack", op="probe"):
        final.write.mode("overwrite").parquet(r.path("probe_out"))
    m["packing.pack_s"] = (tr.total("packing.pack"), "s")

    for row in prep_report(docs).collect():
        m[f"pipelines.rows_out.{row['stage']}"] = (row["rows_out"], "count")

    ded = frames["exact_dedup"]
    pairs = minhash_lsh_pairs(ded, text_col="text", id_col="doc_id").collect()
    text = dict(ded.select("doc_id", "text").toPandas().itertuples(index=False))
    threshold = (1.0 / 16) ** (1.0 / 4)   # the default 16 bands of 4 rows
    verified = sum(
        checks.jaccard(checks.shingles(text[p["a"]]), checks.shingles(text[p["b"]])) >= threshold
        for p in pairs)
    m["dedup.lsh_candidate_pairs"] = (len(pairs), "count")
    m["dedup.lsh_verified_share"] = (verified / len(pairs) if pairs else 0.0, "ratio")

    m.update(r.op_metrics(OPS))
    return m
