"""Per-layer probes for the traced runs.

Each probe calls one layer's public function from outside, inside a span,
and materializes its output (``localCheckpoint``, ``collect`` or a write)
before the next layer runs. Staged materialization un-fuses plans that run
fused end to end, so layer self-times need not sum to an end-to-end time.
"""

from __future__ import annotations

import time

from perfbench.harness import dir_stats, median

DIM = 768


def ingest_layers(r, spark, roots: list[str], n_files: int) -> dict:
    """sources -> chunker -> vectors -> tables over the files under
    ``roots`` (the same bytes the timed phase ingested); the tables probe
    times the CLI's own stage-and-swap write, ``cli._write_table``."""
    from pyspark.sql import functions as F

    from jsonify2ai_spark import cli
    from jsonify2ai_spark.sources.ingest import (
        chunk_parsed, embed_chunks, parse_files, read_binary_files,
    )

    tr = r.tracer
    n_docs = n_doc_files = doc_chars = chunk_chars = 0
    for i, root in enumerate(roots):
        with tr.span("sources.parse", op="probe"):
            docs = parse_files(read_binary_files(spark, root)).localCheckpoint(eager=True)
        st = docs.agg(F.count("*").alias("n"), F.countDistinct("path").alias("files"),
                      F.sum(F.length("text")).alias("chars")).first()
        n_docs += st["n"]
        n_doc_files += st["files"]
        doc_chars += st["chars"] or 0
        with tr.span("chunker.chunk", op="probe"):
            chunks = chunk_parsed(docs).localCheckpoint(eager=True)
        chunk_chars += chunks.agg(F.sum(F.length("text"))).first()[0] or 0
        with tr.span("vectors.embed", op="probe"):
            emb = embed_chunks(chunks, dim=DIM).localCheckpoint(eager=True)
        with tr.span("tables.write", op="probe"):
            cli._write_table(emb, r.path(f"probe_table_{i}"))
    return {
        "sources.parse_s": (tr.total("sources.parse"), "s"),
        "sources.docs_per_file": (n_docs / max(n_doc_files, 1), "ratio"),
        "sources.skipped_files": (n_files - n_doc_files, "count"),
        "chunker.chunk_s": (tr.total("chunker.chunk"), "s"),
        "chunker.chunk_chars_per_doc_char": (chunk_chars / max(doc_chars, 1), "ratio"),
        "vectors.embed_s": (tr.total("vectors.embed"), "s"),
        "tables.write_s": (tr.total("tables.write"), "s"),
    }


def read_layers(r, spark, table: str, queries: list[str], export_docs=None,
                repeats: int = 3) -> dict:
    """search, inventory, snippets and export on a fresh read of ``table``
    (medians over ``repeats`` probes); snippets and export only when
    ``export_docs`` is given."""
    from jsonify2ai_spark import api
    from jsonify2ai_spark.functions.vectors import dev_embedding_py
    from jsonify2ai_spark.operators.inventory import documents_inventory, stats_report
    from jsonify2ai_spark.operators.search import cosine_topk
    from jsonify2ai_spark.operators.snippets import select_snippets
    from jsonify2ai_spark.sinks.export import export_jsonl

    tr = r.tracer
    times: dict[str, list[float]] = {}

    def timed(name, fn):
        t0 = time.perf_counter()
        with tr.span(name, op="probe"):
            out = fn()
        times.setdefault(name, []).append(time.perf_counter() - t0)
        return out

    n_rows = spark.read.parquet(table).count()
    for j in range(repeats):
        q = queries[j]
        fresh = timed("search.table_open", lambda: _open(spark, table))
        timed("search.topk", lambda: cosine_topk(
            fresh, dev_embedding_py(q, dim=DIM), k=5, id_cols=("document_id", "idx")).collect())
        timed("inventory.stats", lambda: stats_report(fresh).collect())
        timed("inventory.documents", lambda: documents_inventory(fresh).collect())
        if export_docs is None:
            continue
        pool = api.search(fresh, q, k=10, dim=DIM).localCheckpoint(eager=True)
        timed("snippets.select",
              lambda: select_snippets(pool, id_cols=("document_id", "idx")).collect())
        timed("export.write", lambda: export_jsonl(
            fresh, r.path(f"probe_export_{j}"), document_id=export_docs[j]))
    m = {f"{k}_s": (median(v), "s") for k, v in times.items()}
    m["search.rows_scored"] = (n_rows, "count")
    m["tables.files_total"] = (dir_stats(table)[1], "count")
    return m


def _open(spark, table: str):
    """Open and resolve a fresh table read (file listing + footer schema)."""
    df = spark.read.parquet(table)
    df.columns
    return df
