"""The benchmark's own checks reject corrupted outputs, and its input
generators are byte-stable per seed.

    python3 -m pytest perfbench/tests -q

No Spark: every "program output" here is built from the checks' own
references and then corrupted one way at a time.
"""

from __future__ import annotations

import json
import math
import os
import re
import sys

import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench import checks, gen  # noqa: E402

MIX = gen.Mix(prose=6, large=1, transcript=2, chatgpt=1, csv=1, json=1, ignored=5)


def _tree(root) -> dict[str, bytes]:
    out = {}
    for dp, _, names in os.walk(root):
        for n in names:
            p = os.path.join(dp, n)
            with open(p, "rb") as f:
                out[os.path.relpath(p, root)] = f.read()
    return out


# ------------------------------------------------------------- generators


def test_dropzone_is_byte_identical_per_seed_and_differs_across_seeds(tmp_path):
    for name, seed in (("a", 5), ("b", 5), ("c", 6)):
        gen.write_files(str(tmp_path / name), gen.make_files(gen.sub_rng(seed, "x"), "", MIX))
    a, b, c = (_tree(tmp_path / n) for n in "abc")
    assert a == b
    assert a.keys() == c.keys() and a != c


def test_prep_corpus_is_identical_per_seed_and_differs_across_seeds():
    a = gen.make_prep_corpus(3, 0, 200)
    b = gen.make_prep_corpus(3, 0, 200)
    c = gen.make_prep_corpus(4, 0, 200)
    assert a == b
    assert a.rows != c.rows


def test_ignored_files_are_planted():
    files = gen.make_files(gen.sub_rng(1, "x"), "", MIX)
    names = [os.path.basename(f.rel) for f in files if not f.accepted]
    assert any(n.startswith("temp_") for n in names)
    assert any(n.endswith(".part") for n in names)
    assert any(n.startswith(".") for n in names)


def test_live_update_backlog_is_one_full_micro_batch():
    from perfbench import live_update

    files = gen.make_files(gen.sub_rng(4, "lu-backlog"), "backlog/", live_update.BACKLOG_MIX)
    assert live_update._listed(files) == live_update.MAX_FILES_PER_TRIGGER


def test_every_per_layer_metric_is_measured_by_some_workload():
    from perfbench import ingest_query, live_update, run, train_prep

    with open(os.path.join(os.path.dirname(os.path.dirname(__file__)), "..",
                           "BENCHMARK.json")) as f:
        names = [m["name"] for m in json.load(f)["per_layer"]]
    workloads = (ingest_query, live_update, train_prep)
    for name in names:
        assert any(run.exercises(w, name) for w in workloads), name
    # a layer a workload does not exercise is reported as 0, the rest must be measured
    assert run.exercises(ingest_query, "spark.jobs_per_op.search")
    assert not run.exercises(ingest_query, "op.drop_p50_ms")
    assert not run.exercises(train_prep, "sources.parse_s")
    assert run.exercises(live_update, "watcher.add_batch_ms")
    assert not run.exercises(live_update, "export.write_s")


# ------------------------------------------------------------- ingest checks


def _corpus() -> checks.Corpus:
    p = gen.Prose(gen.sub_rng(9, "corpus"))
    rows = []
    for d in range(12):
        for i in range(4):
            rows.append({"id": f"c{d}-{i}", "document_id": f"doc{d:02d}",
                         "kind": "text" if d % 2 else "chat", "path": f"z/f{d}.txt",
                         "idx": i, "text": p.paragraph()})
    rows.append(dict(rows[0], id="dup", document_id="doc99"))   # an exact score tie
    return checks.Corpus(pd.DataFrame(rows))


def _hits(corpus, q, k, kind=None):
    ref = corpus.ranking(q, k, kind)
    return [{"document_id": d, "idx": i, "score": checks.round6(s), "text": checks.truncate600(t),
             "kind": kd, "path": p}
            for d, i, s, t, kd, p in zip(ref.document_id, ref.idx, ref.score, ref.text,
                                         ref.kind, ref.path)]


def test_search_accepts_exact_topk_and_rejects_a_swapped_id():
    corpus = _corpus()
    hits = _hits(corpus, "query words here", 5)
    assert checks.check_search(hits, corpus, "query words here", 5) == []
    swapped = [dict(h) for h in hits]
    swapped[1]["document_id"], swapped[2]["document_id"] = (swapped[2]["document_id"],
                                                            swapped[1]["document_id"])
    assert checks.check_search(swapped, corpus, "query words here", 5)
    other = [dict(h) for h in hits]
    other[-1] = dict(other[-1], document_id="doc-nope")
    assert checks.check_search(other, corpus, "query words here", 5)


def test_search_kind_filter_is_applied():
    corpus = _corpus()
    hits = _hits(corpus, "q", 3, kind="chat")
    assert checks.check_search(hits, corpus, "q", 3, kind="chat") == []
    assert checks.check_search(hits, corpus, "q", 3, kind="text")


def test_cosine_scores_match_the_float_formula():
    corpus = _corpus()
    q = "some question"
    qv = checks.dev_embedding(q)
    for t, s in zip(corpus.df.text[:5], checks.cosine_scores(corpus.base[:5], q)):
        v = checks.dev_embedding(t)
        d = na = nb = 0.0
        for x, y in zip(v, qv):
            d, na, nb = d + x * y, na + x * x, nb + y * y
        assert s == d / (math.sqrt(na) * math.sqrt(nb))


def test_ask_rejects_wrong_sources_and_synth_flag():
    corpus = _corpus()
    exp = checks.expected_ask(corpus, "ask me")
    res = {"sources": [{"document_id": d, "idx": i} for d, i in exp["sources"]],
           "snippets": exp["snippets"], "would_synth": exp["would_synth"]}
    assert checks.check_ask(res, corpus, "ask me") == []
    assert checks.check_ask(dict(res, would_synth=not res["would_synth"]), corpus, "ask me")
    assert checks.check_ask(dict(res, sources=res["sources"][::-1]), corpus, "ask me")
    assert checks.check_ask(dict(res, snippets=res["snippets"] + ["x"]), corpus, "ask me")


def test_idx_rejects_a_repeated_document_idx_and_a_gap():
    df = _corpus().df
    assert checks.check_idx(df) == []
    rep = pd.concat([df, df.iloc[[3]].assign(id="fresh")], ignore_index=True)
    assert any("repeated" in e for e in checks.check_idx(rep))
    gap = df[~((df.document_id == "doc03") & (df.idx == 1))]
    assert any("not 0.." in e for e in checks.check_idx(gap))
    assert checks.check_idx(df.assign(id="same"))


def test_paths_reject_a_missing_accepted_file_and_an_ignored_file():
    accepted, ignored = {"a.md", "b.txt"}, {"temp_1.txt", "x.part"}
    assert checks.check_paths({"a.md", "b.txt"}, accepted, ignored) == []
    assert checks.check_paths({"a.md"}, accepted, ignored)
    assert checks.check_paths({"a.md", "b.txt", "temp_1.txt"}, accepted, ignored)
    assert checks.check_paths({"a.md", "b.txt", "c.md"}, accepted, ignored)
    # a deleted file may linger (the watcher fault), or be gone
    assert checks.check_paths({"a.md"}, accepted, ignored, may_be_present={"b.txt"}) == []


def test_table_paths_strip_the_dropzone_root():
    got = checks.table_paths({"w/zone/a/b.md", "w/zone/c.txt"}, "/w/zone")
    assert got == {"a/b.md", "c.txt"}


def test_prose_chunks_must_cover_the_source():
    src = "Alpha beta.\n\nGamma   delta epsilon."
    assert checks.check_prose_chunks(["Alpha beta.", "Gamma delta epsilon."], src, "f") == []
    assert checks.check_prose_chunks(["beta.", "Gamma delta epsilon."], src, "f")
    assert checks.check_prose_chunks(["Alpha beta.", "Gamma delta"], src, "f")
    assert checks.check_prose_chunks(["Alpha beta.", "zeta", "epsilon."], src, "f")
    assert checks.check_chunk_lengths(["x" * 800]) == []
    assert checks.check_chunk_lengths(["x" * 801])


def test_vectors_must_be_the_dev_embedding():
    assert checks.check_vectors([("abc", checks.dev_embedding("abc"))]) == []
    bad = checks.dev_embedding("abc")
    bad[5] += 1 / 256
    assert checks.check_vectors([("abc", bad)])


def test_documents_and_stats_reject_wrong_counts():
    df = _corpus().df
    docs = [dict(zip(("document_id", "kinds", "paths", "n_chunks"), r))
            for r in checks.expected_documents(df)]
    assert checks.check_documents(docs, df) == []
    docs[0] = dict(docs[0], n_chunks=docs[0]["n_chunks"] + 1)
    assert checks.check_documents(docs, df)
    stats = [{"kind": k, "n": n} for k, n in df.kind.value_counts().items()]
    stats.append({"kind": None, "n": len(df)})
    assert checks.check_stats(stats, df) == []
    assert checks.check_stats(stats[:-1] + [{"kind": None, "n": len(df) + 1}], df)
    assert checks.check_stats([dict(stats[0], n=stats[0]["n"] - 1)] + stats[1:], df)


def test_export_rejects_missing_rows_and_field_order():
    df = _corpus().df
    rows = df[df.document_id == "doc02"]
    lines = [json.dumps({"id": r.id, "document_id": r.document_id, "path": r.path,
                         "kind": r.kind, "idx": int(r.idx), "text": r.text, "meta": {}})
             for r in rows.itertuples()]
    assert checks.check_export(lines, df, "doc02") == []
    assert checks.check_export(lines[:-1], df, "doc02")
    reordered = [json.dumps(dict(reversed(list(json.loads(ln).items())))) for ln in lines]
    assert checks.check_export(reordered, df, "doc02")


# ------------------------------------------------------------- live update


def test_markers_reject_a_stale_conversation_version():
    df = pd.DataFrame({"document_id": ["chatgpt:c1", "chatgpt:c1"], "idx": [0, 1],
                       "text": ["zzmarkc1v2 hello", "more"]})
    assert checks.check_markers(df, {"c1": "zzmarkc1v2"}, {"c1": {"zzmarkc1v1"}}) == []
    stale = df.assign(text=["zzmarkc1v1 hello", "more"])
    assert checks.check_markers(stale, {"c1": "zzmarkc1v2"}, {"c1": {"zzmarkc1v1"}})
    both = df.assign(text=["zzmarkc1v2 hello", "zzmarkc1v1"])
    assert checks.check_markers(both, {"c1": "zzmarkc1v2"}, {"c1": {"zzmarkc1v1"}})


def test_same_rows_is_a_multiset_comparison():
    a = pd.DataFrame({"document_id": ["d", "d"], "idx": [0, 1], "text": ["x", "y"]})
    assert checks.check_same_rows(a, a.iloc[::-1]) == []
    assert checks.check_same_rows(a, a.iloc[:1])
    assert checks.check_same_rows(pd.concat([a, a.iloc[:1]]), a)


# ------------------------------------------------------------- training prep

BUDGET = 2000


def _prep_output(corpus: gen.PrepCorpus) -> pd.DataFrame:
    """What a correct prepare_training_corpus returns, built independently."""
    drop = {i for fam in corpus.families for i in sorted(fam)[1:]} | set(corpus.boilerplate)
    rows = []
    for doc_id, text in corpus.rows:
        if doc_id in drop:
            continue
        n = len(checks.EMAIL_RE.findall(text))
        text = checks.EMAIL_RE.sub("[EMAIL]", text)
        n += len(checks.PHONE_RE.findall(text))
        text = checks.PHONE_RE.sub("[PHONE]", text)
        rows.append({"doc_id": doc_id, "text": text, "pii_total": n, "n_chars": len(text)})
    out = pd.DataFrame(rows)
    out["pack_group"] = [int(re.sub(r"\D", "", i)) % 4 for i in out.doc_id]
    bins = []
    fill: dict[int, tuple[int, int]] = {}
    for g, n in zip(out.pack_group, out.n_chars):
        b, acc = fill.get(g, (0, 0))
        if acc and acc + n > BUDGET:
            b, acc = b + 1, 0
        fill[g] = (b, acc + n)
        bins.append(b)
    out["bin_idx"] = bins
    return out


@pytest.fixture(scope="module")
def prep():
    corpus = gen.make_prep_corpus(2, 0, 300)
    return corpus, _prep_output(corpus)


def _check(corpus, out):
    return checks.check_prep(out, {i for i, _ in corpus.rows}, corpus.families,
                             corpus.boilerplate, corpus.pii_planted, BUDGET)


def test_prep_reference_output_passes(prep):
    corpus, out = prep
    assert corpus.families and corpus.boilerplate and corpus.pii_planted
    assert _check(corpus, out) == []


def test_prep_rejects_a_surviving_planted_duplicate(prep):
    corpus, out = prep
    fam = sorted(corpus.families[0])
    extra = pd.DataFrame([{"doc_id": fam[1], "text": dict(corpus.rows)[fam[1]], "pii_total": 0,
                           "n_chars": 10, "pack_group": 0, "bin_idx": 999}])
    assert any("survivors" in e for e in _check(corpus, pd.concat([out, extra])))


def test_prep_rejects_a_surviving_boilerplate_document(prep):
    corpus, out = prep
    b = corpus.boilerplate[0]
    extra = pd.DataFrame([{"doc_id": b, "text": dict(corpus.rows)[b], "pii_total": 0,
                           "n_chars": 10, "pack_group": 0, "bin_idx": 998}])
    assert any("boilerplate" in e for e in _check(corpus, pd.concat([out, extra])))


def test_prep_rejects_an_unredacted_email(prep):
    corpus, out = prep
    bad = out.copy()
    i = bad.index[bad.text.str.contains(r"\[EMAIL\]")][0]
    bad.loc[i, "text"] = bad.loc[i, "text"].replace("[EMAIL]", "jo.doe@example.com", 1)
    assert any("email or phone" in e for e in _check(corpus, bad))


def test_prep_rejects_a_wrong_pii_total(prep):
    corpus, out = prep
    bad = out.copy()
    bad.loc[bad.index[0], "pii_total"] += 1
    assert any("pii_total" in e for e in _check(corpus, bad))


def test_prep_rejects_an_over_budget_multi_document_bin(prep):
    corpus, out = prep
    bad = out.copy()
    grp = bad[bad.pack_group == 0]
    bad.loc[grp.index[:3], "bin_idx"] = 12345
    bad.loc[grp.index[:3], "n_chars"] = BUDGET
    assert any("budget" in e for e in _check(corpus, bad))


def test_prep_rejects_a_normalized_text_duplicate_and_foreign_ids(prep):
    corpus, out = prep
    dup = out.copy()
    dup.loc[dup.index[1], "text"] = "  " + dup.loc[dup.index[0], "text"].replace(" ", "\n", 3)
    assert any("md5" in e for e in _check(corpus, dup))
    foreign = out.copy()
    foreign.loc[foreign.index[0], "doc_id"] = "not-an-input"
    assert _check(corpus, foreign)


def test_lsh_verification_helpers():
    a = checks.shingles("a b c d e")
    assert a == {"a b c", "b c d", "c d e"}
    assert checks.shingles("a b") == {"a b"}
    assert checks.jaccard(a, checks.shingles("a b c d f")) == 2 / 4
