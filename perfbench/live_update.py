"""Workload ``live_update``: the dropzone watcher keeps the table current
while a client reads it.

Phases: generate inputs (a backlog already in the dropzone) -> session ->
warm-up watcher on a separate dropzone -> start the watcher -> timed backlog
drain -> timed rounds for ``--seconds``. Each round drops a batch of new
files, a re-export of two ingested ChatGPT conversations with changed
content, and the deletion of one ingested file, all at once; waits until the
watcher has committed them; then runs ``search`` and ``stats`` on a fresh
read of the table. Checks run on pyarrow reads of each visible state and, at
the end, against one batch ``api.ingest`` of the final dropzone.
"""

from __future__ import annotations

import datetime as dt
import os
import time

import pandas as pd
import pyarrow.parquet as pq

from perfbench import checks, gen, probes
from perfbench.harness import median, traced_op

DIM = 768
TRIGGER_S = 2           # the watcher's default trigger interval
# Fixed file sizes: what a drop rewrites depends on which buckets its
# documents land in, and the bytes per file need not add to that variance.
SIZES = dict(paragraphs=(5, 5), turns=(10, 10), rows=(40, 40), items=(5, 5),
             convs_per_export=(3, 3))
MAX_FILES_PER_TRIGGER = 64     # the watcher's default
# 60 accepted files + 4 listed ignored ones (the 5th is a dotfile, which
# the listing hides) = 64 listed files: one full micro-batch
BACKLOG_MIX = gen.Mix(prose=38, transcript=10, chatgpt=4, csv=4, json=4, ignored=5, **SIZES)
# 8 listed files, drained by the warm-up watcher as two micro-batches: the
# first writes a new table, the second merges into it, as the drops do
WARM_MIX = gen.Mix(prose=3, transcript=1, chatgpt=1, csv=1, json=1, ignored=1, **SIZES)
WARM_FILES_PER_TRIGGER = 4
DROP_MIX = gen.Mix(prose=12, transcript=2, chatgpt=1, csv=1, json=1, ignored=1, **SIZES)
REEXPORT_CONVS = 2
OPS_PER_ROUND = 4       # drop, search, stats, delete
# Timed rounds: at least this many, and more while --seconds have not passed
# since the first began. A round takes 6-8 s, so a run makes exactly two;
# a third would take the run past its share of the time the acceptance
# runs may take (see README, Steadiness).
MIN_ROUNDS = 2
OPS = ("drop", "search", "stats")
# the layers the traced run measures (see run.exercises)
LAYERS = ("sources", "chunker", "vectors", "tables", "search", "inventory", "watcher", "upsert")


def _read_table(table: str) -> pd.DataFrame:
    return pq.read_table(table, columns=["document_id", "kind", "path", "idx", "text"]
                         ).to_pandas()


def _progress_batches(q, since: float) -> list[dict]:
    """Progress of the micro-batches that started after ``since`` and read
    input rows."""
    out = []
    for p in q.recentProgress:
        ts = dt.datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
        if ts >= since - 0.05 and p.get("numInputRows", 0) > 0:
            out.append({"start": ts, "end": ts + p["durationMs"]["triggerExecution"] / 1e3,
                        "rows": p["numInputRows"],
                        **{k: p["durationMs"].get(k, 0) for k in
                           ("addBatch", "latestOffset", "walCommit")}})
    return out


def _listed(files: list[gen.SourceFile]) -> int:
    """How many of ``files`` the file source lists: Hadoop listing hides
    names that start with '.' or '_'."""
    return sum(not os.path.basename(f.rel).startswith((".", "_")) for f in files)


def _await_commit(q, since: float, n_files: int, timeout: float = 60.0) -> list[dict]:
    """Wait until micro-batches started after ``since`` have committed
    ``n_files`` input files, and return their progress. A batch's progress
    is reported after its commit, so the files are then in the table; this
    is what ``processAllAvailable`` waits for, without its wait for one
    more empty trigger."""
    deadline = time.time() + timeout
    while True:
        batches = _progress_batches(q, since)
        if sum(b["rows"] for b in batches) >= n_files:
            return batches
        if q.exception() is not None:
            raise RuntimeError(f"watcher failed: {q.exception()}")
        if time.time() > deadline:
            raise RuntimeError(f"{n_files} dropped files not committed in {timeout:.0f} s")
        time.sleep(0.02)


def _wait_mid_interval() -> None:
    """Sleep to the middle of the watcher's trigger interval: an idle
    processing-time trigger fires at whole multiples of the interval, so a
    drop landing mid-interval waits half an interval for pickup in every
    round instead of a random share of it."""
    now = time.time()
    target = (now // TRIGGER_S) * TRIGGER_S + TRIGGER_S / 2
    if target - now < 0.2:
        target += TRIGGER_S
    time.sleep(target - now)


class State:
    """What the dropzone should hold after each drop (the checks' truth)."""

    def __init__(self):
        self.accepted: dict[str, str] = {}     # rel -> category
        self.ignored: set[str] = set()
        self.deleted: set[str] = set()
        self.holder: dict[str, str] = {}       # conversation -> rel of newest export
        self.newest: dict[str, str] = {}       # conversation -> newest marker
        self.older: dict[str, set[str]] = {}   # conversation -> older markers
        self.version: dict[str, int] = {}
        self.replaced: set[str] = set()        # conversations re-exported at least once

    def add(self, prefix: str, files: list[gen.SourceFile]) -> None:
        for f in files:
            rel = prefix + f.rel
            if not f.accepted:
                self.ignored.add(rel)
                continue
            self.accepted[rel] = f.category
            for conv, marker in f.conversations.items():
                if conv in self.newest:
                    self.older.setdefault(conv, set()).add(self.newest[conv])
                    self.replaced.add(conv)
                self.holder[conv] = rel
                self.newest[conv] = marker
                self.version[conv] = self.version.get(conv, -1) + 1

    def expected_paths(self) -> set[str]:
        holders = set(self.holder.values())
        return {rel for rel, cat in self.accepted.items()
                if rel not in self.deleted and (cat != "chatgpt" or rel in holders)}


def run(r) -> dict:
    t_gen = time.time()
    zone, warm_zone = r.path("dropzone"), r.path("warm_zone")
    state = State()
    backlog = gen.make_files(gen.sub_rng(r.seed, "lu-backlog"), "backlog/", BACKLOG_MIX)
    backlog_bytes = gen.write_files(zone, backlog)
    state.add("", backlog)
    warm_files = gen.make_files(gen.sub_rng(r.seed, "lu-warm"), "", WARM_MIX)
    gen.write_files(warm_zone, warm_files)
    qp = gen.Prose(gen.sub_rng(r.seed, "lu-queries"))
    queries = [qp.sentence(3, 9) for _ in range(256)]
    r.gen_s += time.time() - t_gen
    r.log(f"inputs: backlog {backlog_bytes} bytes in {len(backlog)} files")

    spark = r.start_spark()
    from jsonify2ai_spark import api
    from jsonify2ai_spark.streaming.watcher import watch_dropzone

    r.log("session up")
    tr = r.tracer

    # warm-up: a watcher over a separate dropzone drains it in two batches
    warm_table = r.path("warm_table")
    t0 = time.time()
    wq = watch_dropzone(spark, warm_zone, warm_table, r.path("warm_ckpt"), dim=DIM,
                        max_files_per_trigger=WARM_FILES_PER_TRIGGER)
    try:
        warm_batches = _await_commit(wq, t0, _listed(warm_files), timeout=120)
    finally:
        wq.stop()
    r.log(f"warm-up watcher committed {len(warm_batches)} batches")
    wdf = spark.read.parquet(warm_table)
    api.search(wdf, queries[-1], k=5, dim=DIM).collect()
    api.stats(wdf).collect()

    table = r.path("table")
    t_start = time.time()
    q = watch_dropzone(spark, zone, table, r.path("ckpt"), dim=DIM)
    setup_s = r.setup_done()
    r.log("warm-up done, watcher started")

    try:
        with tr.span("op.backlog", op="backlog"):
            drained = _await_commit(q, t_start, _listed(backlog), timeout=120)
        backlog_s = max(b["end"] for b in drained) - t_start
        r.log(f"backlog drained in {backlog_s:.2f}s, batches at " + ", ".join(
            f"+{b['start'] - t_start:.2f}s for {b['end'] - b['start']:.2f}s" for b in drained))
        chunks = _read_table(table)
        _check_visible(r, state, chunks, zone)

        rounds = _rounds(r, spark, api, q, state, zone, table, queries)
        final = _read_table(table)
        _check_final(r, spark, api, state, zone, final)
        r.log("checks done")
        if tr.enabled:
            return _layers(r, spark, api, table, zone, len(backlog), queries, rounds)
    finally:
        q.stop()

    visible = [x["visible_s"] for x in rounds]
    return {
        "setup_s": (setup_s, "s"),
        "load_mb_per_s": (backlog_bytes / 1e6 / backlog_s, "MB/s"),
        "bytes_written_per_source_byte": (
            sum(x["written"] for x in rounds) / sum(x["dropped"] for x in rounds), "ratio"),
        "op_p50_ms": (1e3 * median(visible), "ms"),
        "round_p50_s": (median([x["round_s"] for x in rounds]), "s"),
    }


def _written_since(table: str, since: float) -> tuple[int, set[str], list[str]]:
    """(bytes, bucket dirs, files) of the table's data files written after
    ``since``."""
    total, buckets, files = 0, set(), []
    for dp, _, names in os.walk(table):
        for name in names:
            p = os.path.join(dp, name)
            if name.endswith(".parquet") and os.path.getmtime(p) >= since:
                total += os.path.getsize(p)
                buckets.add(os.path.basename(dp))
                files.append(p)
    return total, buckets, files


def _rounds(r, spark, api, q, state: State, zone: str, table: str, queries) -> list[dict]:
    tr, jobs = r.tracer, r.jobs
    group = str(q.runId)
    sc = spark.sparkContext
    out = []
    n = 0
    deadline = time.perf_counter() + r.seconds
    while n < MIN_ROUNDS or time.perf_counter() < deadline:
        rng = gen.sub_rng(r.seed, "lu-round", n)
        prefix = f"round_{n:03d}/"
        files = gen.make_files(rng, prefix, DROP_MIX)
        convs = sorted(c for c, rel in state.holder.items())
        picked = sorted(rng.sample(convs, REEXPORT_CONVS))
        data, markers = gen.chatgpt_export(
            rng, picked, version=max(state.version[c] for c in picked) + 1)
        files.append(gen.SourceFile(f"{prefix}reexport/conversations.json", "chatgpt", data,
                                    conversations=markers))
        prose = sorted(rel for rel, cat in state.accepted.items()
                       if cat == "prose" and rel not in state.deleted)
        victim = rng.choice(prose)
        staging = r.path("incoming", f"round_{n:03d}")
        dropped = sum(len(f.data) for f in files)
        for f in files:
            path = os.path.join(staging, f.rel[len(prefix):])
            os.makedirs(os.path.dirname(path), exist_ok=True)
            with open(path, "wb") as fh:
                fh.write(f.data)
        jobs_before = set(sc.statusTracker().getJobIdsForGroup(group))

        _wait_mid_interval()
        t_drop = time.time()
        # the watcher's jobs run in the stream's own job group, not in a
        # group of this thread: count the ones the drop added to it
        with tr.span("op.drop", op=f"drop-{n}") as span:
            os.rename(staging, os.path.join(zone, prefix.rstrip("/")))
            os.remove(os.path.join(zone, victim))
            batches = _await_commit(q, t_drop, _listed(files))
        visible_s = max(b["end"] for b in batches) - t_drop
        if span is not None:
            span["end"] = span["start"] + visible_s     # the commit, not the poll
        if tr.enabled:
            jobs.record("drop", set(sc.statusTracker().getJobIdsForGroup(group)) - jobs_before)

        t0 = time.perf_counter()
        with traced_op(r, "search"):
            fresh = spark.read.parquet(table)
            hits = [x.asDict() for x in
                    api.search(fresh, queries[n % len(queries)], k=5, dim=DIM).collect()]
        search_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        with traced_op(r, "stats"):
            stats = [x.asDict() for x in api.stats(spark.read.parquet(table)).collect()]
        stats_s = time.perf_counter() - t0

        # bookkeeping and checks, outside the timed region
        written, buckets, new_files = _written_since(table, t_drop)
        state.add("", files)
        state.deleted.add(victim)
        chunks = _read_table(table)
        _check_visible(r, state, chunks, zone)
        corpus = checks.Corpus(chunks)
        r.check(checks.check_search(hits, corpus, queries[n % len(queries)], 5), "search")
        r.check(checks.check_stats(stats, chunks), "stats")
        victim_path = os.path.join(zone, victim).lstrip("/")
        r.attempted += OPS_PER_ROUND
        if (chunks["path"] == victim_path).any():
            r.failed += 1       # the delete did not reach the table
        rows_in = sum(len(g) for p, g in chunks.groupby("path")
                      if p.startswith(os.path.join(zone, prefix).lstrip("/")))
        rows_rewritten = sum(pq.ParquetFile(f).metadata.num_rows for f in new_files)
        out.append({
            "visible_s": visible_s, "pickup_s":
                (min(b["start"] for b in batches) - t_drop) if batches else 0.0,
            "batches": batches, "round_s": visible_s + search_s + stats_s,
            "search_s": search_s, "stats_s": stats_s, "written": written,
            "dropped": dropped, "buckets": len(buckets), "files": len(new_files),
            "rewrite_ratio": rows_rewritten / max(rows_in, 1),
        })
        n += 1
    r.log(f"{n} rounds; visible {[round(x['visible_s'], 2) for x in out]} s "
          f"(pickup {[round(x['pickup_s'], 2) for x in out]} s), written/dropped "
          f"{[round(x['written'] / x['dropped'], 2) for x in out]}, "
          f"search p50 {median([x['search_s'] for x in out]):.3f}s, "
          f"stats p50 {median([x['stats_s'] for x in out]):.3f}s")
    return out


def _check_visible(r, state: State, chunks: pd.DataFrame, zone: str) -> None:
    got = checks.table_paths(set(chunks["path"]), zone)
    r.check(checks.check_paths(got, state.expected_paths(), state.ignored,
                               may_be_present=state.deleted), "paths")
    r.check(checks.check_idx(chunks), "idx")
    r.check(checks.check_markers(chunks, {c: state.newest[c] for c in state.replaced},
                                 state.older), "replaced conversations")


def _check_final(r, spark, api, state: State, zone: str, final: pd.DataFrame) -> None:
    """The rows of never-replaced documents equal those of one batch ingest
    of the final dropzone."""
    batch = api.ingest(spark, zone, dim=DIM).select("document_id", "path", "idx", "text")
    want = batch.toPandas()
    gone = {os.path.join(zone, p).lstrip("/") for p in state.deleted}
    skip = {f"chatgpt:{c}" for c in state.replaced}
    skip |= set(final.loc[final["path"].isin(gone), "document_id"])
    want = want[~want["document_id"].isin(skip)]
    got = final[~final["document_id"].isin(skip)]
    r.check(checks.check_same_rows(got, want), "watched table vs batch ingest")


def _layers(r, spark, api, table, zone, n_backlog, queries, rounds) -> dict:
    """Traced run: watcher progress, bucket rewrites, ingest-layer probes
    over the backlog and read-layer probes on the live (bucketed) table."""
    batches = [b for x in rounds for b in x["batches"]]
    m = probes.ingest_layers(r, spark, [os.path.join(zone, "backlog")], n_backlog)
    m.update(probes.read_layers(r, spark, table, queries))
    m.update({
        "watcher.pickup_wait_ms": (1e3 * median([x["pickup_s"] for x in rounds]), "ms"),
        "watcher.add_batch_ms": (median([b["addBatch"] for b in batches]), "ms"),
        "watcher.latest_offset_ms": (median([b["latestOffset"] for b in batches]), "ms"),
        "watcher.wal_commit_ms": (median([b["walCommit"] for b in batches]), "ms"),
        "watcher.batches_per_drop": (median([len(x["batches"]) for x in rounds]), "count"),
        "tables.files_written": (median([x["files"] for x in rounds]), "count"),
        "upsert.buckets_touched_per_drop": (median([x["buckets"] for x in rounds]), "count"),
        "upsert.rows_rewritten_per_row_in": (median([x["rewrite_ratio"] for x in rounds]),
                                             "ratio"),
    })
    m.update(r.op_metrics(OPS))
    m.update(r.trace_overhead(lambda: api.stats(spark.read.parquet(table)).collect(), 2))
    return m
