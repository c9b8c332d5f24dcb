"""Workload ``ingest_query``: bulk CLI ingest of a mixed dropzone, then a
closed-loop read mix through the ``api`` facade (one client).

Phases: generate inputs -> session -> warm-up on a separate dropzone ->
timed ingest of every shard (``cli.main(["ingest", ...])``, fixed work) ->
timed read rounds for ``--seconds`` -> checks against pyarrow/numpy/pandas.
"""

from __future__ import annotations

import os
import time

import pandas as pd
import pyarrow.parquet as pq

from perfbench import checks, gen, probes
from perfbench.harness import dir_stats, median, quiet_stdout, traced_op

DIM = 768
N_SHARDS = 3
SHARD_MIX = gen.Mix(prose=36, large=2, transcript=8, chatgpt=2, csv=3, json=3, ignored=5)
WARM_MIX = gen.Mix(prose=6, large=1, transcript=2, chatgpt=1, convs_per_export=(3, 3), csv=1,
                   json=1, ignored=2)
KINDS = ("text", "chat", "csv", "json")
# one round of the read mix, in order
ROUND = ("search", "ask", "documents", "search_kind", "stats", "export")
# Timed read rounds: at least this many, and more while --seconds have not
# passed since the first began. With run_seconds 6 and rounds of about 3 s
# a run makes exactly three, so round_p50_s is a median that drops one
# outlier round.
MIN_ROUNDS = 3
OPS = ("ingest", "search", "ask", "documents", "stats", "export")
# the layers the traced run measures (see run.exercises)
LAYERS = ("sources", "chunker", "vectors", "tables", "search", "snippets", "inventory", "export")


def _read_chunks(table: str) -> pd.DataFrame:
    return pq.read_table(table, columns=["id", "document_id", "kind", "path", "idx", "text"]
                         ).to_pandas()


class Reads:
    """The read operations, each one public ``api`` call consumed in full."""

    def __init__(self, api, table_df, work: str):
        self.api, self.table, self.work = api, table_df, work
        self.n_export = 0

    def search(self, q: str, kind: str | None = None) -> list[dict]:
        kw = {"kind": kind} if kind else {}
        return [r.asDict() for r in self.api.search(self.table, q, k=5, dim=DIM, **kw).collect()]

    def ask(self, q: str) -> dict:
        return self.api.ask(self.table, q, k=5, dim=DIM)

    def documents(self) -> list[dict]:
        return [r.asDict() for r in self.api.documents(self.table).collect()]

    def stats(self) -> list[dict]:
        return [r.asDict() for r in self.api.stats(self.table).collect()]

    def export(self, doc_id: str) -> str:
        self.n_export += 1
        out = os.path.join(self.work, f"export-{self.n_export:04d}")
        self.api.export_document(self.table, doc_id, out)
        return out


def _read_export(out: str) -> list[str]:
    lines = []
    for name in sorted(os.listdir(out)):
        if name.startswith("part-"):
            with open(os.path.join(out, name), encoding="utf-8") as f:
                lines.extend(ln for ln in f.read().splitlines() if ln)
    return lines


def run(r) -> dict:
    t_gen = time.time()
    drop = r.path("dropzone")
    warm_roots = [r.path(f"warm_{w}") for w in range(2)]
    for w, root in enumerate(warm_roots):
        gen.write_files(root, gen.make_files(gen.sub_rng(r.seed, "iq-warm", w), "", WARM_MIX))
    shards = []
    for s in range(N_SHARDS):
        files = gen.make_files(gen.sub_rng(r.seed, "iq-shard", s), "", SHARD_MIX)
        root = os.path.join(drop, f"shard_{s:02d}")
        shards.append((root, files, gen.write_files(root, files)))
    qp = gen.Prose(gen.sub_rng(r.seed, "iq-queries"))
    queries = [qp.sentence(3, 9) for _ in range(256)]
    r.gen_s += time.time() - t_gen

    r.log(f"inputs: {sum(b for _, _, b in shards)} bytes in {N_SHARDS} shards")
    spark = r.start_spark()
    from jsonify2ai_spark import api, cli

    r.log("session up")

    tr = r.tracer

    # warm-up: the same operations on separate inputs; the second ingest
    # merges into the first one's table, as the timed ingests after the
    # first do
    warm_table = r.path("warm_table")
    for root in warm_roots:
        with quiet_stdout():
            cli.main(["ingest", root, "--table", warm_table, "--dim", str(DIM)])
        r.log("warm-up ingest done")
    warm = Reads(api, spark.read.parquet(warm_table), r.path("warm_exports"))
    warm.search(queries[-1])
    warm.search(queries[-2], kind="text")
    warm.ask(queries[-3])
    warm.documents()
    warm.stats()
    warm.export(_read_chunks(warm_table)["document_id"].iloc[0])
    setup_s = r.setup_done()
    r.log("warm-up done")

    # timed bulk ingest: fixed work, every shard into one table
    table = r.path("table")
    ingest_s, src_bytes, files_written = [], 0, 0
    for root, _, nbytes in shards:
        t0 = time.perf_counter()
        with traced_op(r, "ingest"), quiet_stdout():
            rc = cli.main(["ingest", root, "--table", table, "--dim", str(DIM)])
        ingest_s.append(time.perf_counter() - t0)
        r.attempted += 1
        if rc != 0:
            r.failed += 1
            r.check([f"cli ingest of {root} returned {rc}"], "ingest")
        src_bytes += nbytes
        files_written += dir_stats(table)[1]    # each ingest rewrites the table
    table_bytes = dir_stats(table)[0]
    r.log(f"ingest: {[round(x, 2) for x in ingest_s]} s")

    # what the checks and the read mix need, outside the timed region
    chunks = _read_chunks(table)
    corpus = checks.Corpus(chunks)
    doc_ids = sorted(chunks["document_id"].unique())
    rng = gen.sub_rng(r.seed, "iq-exports")
    export_docs = [rng.choice(doc_ids) for _ in range(64)]

    # timed read rounds, closed loop, whole rounds until --seconds is spent
    reads = Reads(api, spark.read.parquet(table), r.path("exports"))
    lat: dict[str, list[float]] = {}
    round_s = []
    log = []
    qi = 0
    deadline = time.perf_counter() + r.seconds
    n_round = 0
    while n_round < MIN_ROUNDS or time.perf_counter() < deadline:
        t_round = time.perf_counter()
        for op in ROUND:
            q = queries[qi % len(queries)]
            qi += 1
            name = "search" if op.startswith("search") else op
            t0 = time.perf_counter()
            with traced_op(r, name):
                if op == "search":
                    res = reads.search(q)
                elif op == "search_kind":
                    kind = KINDS[n_round % len(KINDS)]
                    res = reads.search(q, kind)
                elif op == "ask":
                    res = reads.ask(q)
                elif op == "documents":
                    res = reads.documents()
                elif op == "stats":
                    res = reads.stats()
                else:
                    doc = export_docs[n_round % len(export_docs)]
                    res = (doc, reads.export(doc))
            lat.setdefault(name, []).append(time.perf_counter() - t0)
            log.append((op, q, KINDS[n_round % len(KINDS)], res))
            r.attempted += 1
        round_s.append(time.perf_counter() - t_round)
        n_round += 1

    r.log(f"reads: {n_round} rounds; " + ", ".join(
        f"{k} p50 {median(v):.3f}s" for k, v in lat.items()))
    _check(r, chunks, corpus, shards, table, log)

    r.log("checks done")
    metrics = {
        "setup_s": (setup_s, "s"),
        "load_mb_per_s": (src_bytes / 1e6 / sum(ingest_s), "MB/s"),
        "bytes_written_per_source_byte": (table_bytes / src_bytes, "ratio"),
        "op_p50_ms": (1e3 * median(lat["search"]), "ms"),
        "round_p50_s": (median(round_s), "s"),
    }
    if tr.enabled:
        metrics = _layers(r, spark, shards, table, queries, export_docs)
        metrics["tables.files_written"] = (files_written, "count")
        metrics.update(r.trace_overhead(lambda: reads.search(queries[qi % len(queries)]), 2))
    return metrics


def _check(r, chunks, corpus, shards, table, log) -> None:
    accepted, ignored, prose = set(), set(), {}
    for root, files, _ in shards:
        rel_root = os.path.basename(root)
        for f in files:
            rel = f"{rel_root}/{f.rel}"
            (accepted if f.accepted else ignored).add(rel)
            if f.category == "prose":
                prose[rel] = f.prose
    drop_abs = os.path.dirname(shards[0][0])
    got = checks.table_paths(set(chunks["path"]), drop_abs)
    r.check(checks.check_paths(got, accepted, ignored), "paths")
    r.check(checks.check_idx(chunks), "idx")
    r.check(checks.check_chunk_lengths(chunks["text"]), "chunk length")
    errs = []
    for path, g in chunks.groupby("path"):
        rel = checks.table_paths([path], drop_abs).pop()
        if rel in prose:
            errs += checks.check_prose_chunks(g.sort_values("idx")["text"].tolist(),
                                              prose[rel], rel)
    r.check(errs, "prose chunks")
    sample = pq.read_table(table, columns=["text", "vector"]).slice(0, 64).to_pylist()
    r.check(checks.check_vectors([(s["text"], s["vector"]) for s in sample]), "vectors")
    errs = []
    for op, q, kind, res in log:
        if op == "search":
            errs += checks.check_search(res, corpus, q, 5)
        elif op == "search_kind":
            errs += checks.check_search(res, corpus, q, 5, kind)
        elif op == "ask":
            errs += checks.check_ask(res, corpus, q)
        elif op == "documents":
            errs += checks.check_documents(res, chunks)
        elif op == "stats":
            errs += checks.check_stats(res, chunks)
        else:
            doc, out = res
            errs += checks.check_export(_read_export(out), chunks, doc)
    r.check(errs, "reads")


def _layers(r, spark, shards, table, queries, export_docs) -> dict:
    """Traced run: per-layer probes over the same shards and table, plus
    the traced operations' latencies and Spark job counts."""
    m = probes.ingest_layers(r, spark, [root for root, _, _ in shards],
                             sum(len(files) for _, files, _ in shards))
    m.update(probes.read_layers(r, spark, table, queries, export_docs))
    m.update(r.op_metrics(OPS))
    return m
