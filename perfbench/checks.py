"""Independent checks of the program's outputs.

Every reference here is computed apart from the program: embeddings with
``hashlib``, rankings with numpy, group-bys with pandas, PII with ``re``,
over tables read with pyarrow. Each check returns a list of error strings;
an empty list passes. None of them imports the package under test.
"""

from __future__ import annotations

import hashlib
import json
import re
from collections import Counter
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pandas as pd

MAX_CHUNK_CHARS = 800
DIM = 768
SNIPPET_MIN_SCORE = 0.2
SNIPPET_POOL = 10
MAX_SNIPPETS = 5
MAX_SNIPPET_CHARS = 2000
MAX_TOTAL_CHARS = 8000
SYNTH_MIN_SCORE = 0.55
EXPORT_FIELDS = ("id", "document_id", "path", "kind", "idx", "text", "meta")

EMAIL_RE = re.compile(r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}")
PHONE_RE = re.compile(r"\b\d{3}[-.]\d{3}[-.]\d{4}\b")


# ------------------------------------------------------------ embeddings


def digest(text: str) -> bytes:
    return hashlib.sha256(text.encode("utf-8")).digest()


def dev_embedding(text: str, dim: int = DIM) -> list[float]:
    """The reference's dev-mode embedding: sha256 digest bytes, cycled
    over ``dim`` slots, each divided by 256."""
    h = digest(text)
    return [h[i % 32] / 256.0 for i in range(dim)]


def digest_matrix(texts) -> np.ndarray:
    """(n, 32) int64 matrix of the texts' digest bytes."""
    return np.frombuffer(b"".join(digest(t) for t in texts), dtype=np.uint8).reshape(
        -1, 32).astype(np.int64)


def cosine_scores(base: np.ndarray, query: str, dim: int = DIM) -> np.ndarray:
    """Exact cosine of each row's dev embedding against the query's.

    The vectors are multiples of 1/256 cycling a 32-byte digest, so the dot
    product and both squared norms are exact integers over 65536 in any
    summation order; the final ``d / (sqrt(na) * sqrt(nb))`` is the one
    IEEE expression, so scores are bit-exact, ties included."""
    reps = dim // 32
    q = np.frombuffer(digest(query), dtype=np.uint8).astype(np.int64)
    d = (base @ q) * reps / 65536.0
    na = (base * base).sum(axis=1) * reps / 65536.0
    nb = float((q * q).sum() * reps) / 65536.0
    return d / (np.sqrt(na) * np.sqrt(nb))


def round6(x: float) -> float:
    """Spark's ``round(x, 6)`` for a double: HALF_UP on its shortest repr."""
    return float(Decimal(repr(float(x))).quantize(Decimal("1e-6"), rounding=ROUND_HALF_UP))


def truncate600(text: str) -> str:
    return text[:600] + "…" if len(text) > 600 else text


class Corpus:
    """The chunk table as read with pyarrow (no vectors), indexed for the
    ranking checks."""

    def __init__(self, df: pd.DataFrame):
        self.df = df.sort_values(["document_id", "idx"]).reset_index(drop=True)
        self.base = digest_matrix(self.df["text"].tolist())

    def ranking(self, query: str, k: int, kind: str | None = None) -> pd.DataFrame:
        """Exact top-k, ties broken by (document_id, idx)."""
        df = self.df.assign(score=cosine_scores(self.base, query))
        if kind is not None:
            df = df[df["kind"] == kind]
        df = df.sort_values(["score", "document_id", "idx"], ascending=[False, True, True],
                            kind="mergesort")
        return df.head(k)


# ------------------------------------------------------------ ingest checks


def table_paths(paths, root_abs: str) -> set[str]:
    """Table ``path`` values (scheme-stripped absolute paths without the
    leading '/') made relative to the dropzone root."""
    prefix = root_abs.lstrip("/").rstrip("/") + "/"
    return {p[len(prefix):] if p.startswith(prefix) else p for p in paths}


def check_paths(got: set[str], accepted: set[str], ignored: set[str],
                may_be_present: set[str] = frozenset()) -> list[str]:
    errs = []
    for p in sorted(got & ignored):
        errs.append(f"ignored file in table: {p}")
    for p in sorted(accepted - got - may_be_present):
        errs.append(f"accepted file missing: {p}")
    for p in sorted(got - accepted - ignored - may_be_present):
        errs.append(f"unexpected path in table: {p}")
    return errs


def check_idx(df: pd.DataFrame) -> list[str]:
    """Per document, idx is 0..n-1 with no gap or repeat; ids are unique."""
    errs = []
    dup = df.duplicated(["document_id", "idx"])
    if dup.any():
        r = df[dup].iloc[0]
        errs.append(f"repeated (document_id, idx): ({r.document_id}, {r.idx})")
    for doc, idxs in df.groupby("document_id")["idx"]:
        if sorted(idxs.tolist()) != list(range(len(idxs))):
            errs.append(f"idx of {doc} is not 0..{len(idxs) - 1}")
            break
    if "id" in df and df["id"].duplicated().any():
        errs.append("chunk ids are not unique")
    return errs


def check_chunk_lengths(texts) -> list[str]:
    bad = [t for t in texts if t is None or len(t) > MAX_CHUNK_CHARS]
    return [f"{len(bad)} chunks over {MAX_CHUNK_CHARS} chars or null"] if bad else []


def check_prose_chunks(chunks: list[str], source: str, where: str) -> list[str]:
    """Every chunk occurs in the whitespace-collapsed source; the first
    starts it and the last ends it."""
    text = re.sub(r"\s+", " ", source).strip()
    if not chunks:
        return [f"{where}: no chunks"]
    errs = []
    if not text.startswith(chunks[0]):
        errs.append(f"{where}: first chunk does not start the text")
    if not text.endswith(chunks[-1]):
        errs.append(f"{where}: last chunk does not end the text")
    if any(c not in text for c in chunks):
        errs.append(f"{where}: a chunk is not in the text")
    return errs


def check_vectors(rows, dim: int = DIM) -> list[str]:
    """rows of (text, vector): each vector is the dev embedding of text."""
    for text, vec in rows:
        if vec is None or len(vec) != dim or list(map(float, vec)) != dev_embedding(text, dim):
            return [f"vector of chunk {text[:40]!r} differs from its dev embedding"]
    return []


def check_search(hits: list[dict], corpus: Corpus, query: str, k: int,
                 kind: str | None = None) -> list[str]:
    """Program top-k == exact numpy top-k (ids in order, scores to 1e-6,
    600-char excerpt)."""
    ref = corpus.ranking(query, k, kind)
    want = list(zip(ref["document_id"], ref["idx"]))
    got = [(h["document_id"], h["idx"]) for h in hits]
    if got != want:
        return [f"top-{k} of {query[:30]!r} (kind={kind}): got {got[:3]}..., want {want[:3]}..."]
    for h, (_, r) in zip(hits, ref.iterrows()):
        if abs(h["score"] - r["score"]) > 1e-6:
            return [f"score of {(h['document_id'], h['idx'])}: {h['score']} vs {r['score']}"]
        if h["text"] != truncate600(r["text"]) or h["kind"] != r["kind"] or h["path"] != r["path"]:
            return [f"projection of {(h['document_id'], h['idx'])} differs"]
    return []


def expected_ask(corpus: Corpus, question: str) -> dict:
    """Reference retrieve -> gate -> snippets: the 10-row pool by exact
    score, display-rounded, filtered at 0.2, clipped to 2000 chars, cut at
    8000 running chars and at 5 snippets."""
    pool = corpus.ranking(question, SNIPPET_POOL)
    rows = [
        (round6(s), d, int(i), truncate600(t)[:MAX_SNIPPET_CHARS])
        for s, d, i, t in zip(pool["score"], pool["document_id"], pool["idx"], pool["text"])
    ]
    rows.sort(key=lambda r: (-r[0], r[1], r[2]))
    out, total = [], 0
    for s, d, i, snip in rows:
        if s < SNIPPET_MIN_SCORE:
            continue
        total += len(snip)
        if total > MAX_TOTAL_CHARS:
            break
        out.append((d, i, s, snip))
    out = out[:MAX_SNIPPETS]
    top = max((r[2] for r in out), default=None)
    return {"sources": [(d, i) for d, i, _, _ in out], "snippets": [r[3] for r in out],
            "would_synth": bool(out) and top >= SYNTH_MIN_SCORE}


def check_ask(res: dict, corpus: Corpus, question: str) -> list[str]:
    exp = expected_ask(corpus, question)
    got = [(s["document_id"], s["idx"]) for s in res["sources"]]
    errs = []
    if got != exp["sources"]:
        errs.append(f"ask sources {got[:2]}... != {exp['sources'][:2]}...")
    if res["snippets"] != exp["snippets"]:
        errs.append("ask snippets differ")
    if len(res["snippets"]) > MAX_SNIPPETS or sum(map(len, res["snippets"])) > MAX_TOTAL_CHARS:
        errs.append("ask snippet caps exceeded")
    if bool(res["would_synth"]) != exp["would_synth"]:
        errs.append(f"would_synth {res['would_synth']} != {exp['would_synth']}")
    return errs


def expected_documents(df: pd.DataFrame, limit: int = 200) -> list[tuple]:
    rows = []
    for doc, g in df.groupby("document_id"):
        rows.append((doc, ",".join(sorted(set(g["kind"]))),
                     ",".join(sorted(set(g["path"]))[:3]), len(g)))
    rows.sort(key=lambda r: r[0], reverse=True)
    return rows[:limit]


def check_documents(got: list[dict], df: pd.DataFrame, limit: int = 200) -> list[str]:
    g = [(r["document_id"], r["kinds"], r["paths"], r["n_chunks"]) for r in got]
    return [] if g == expected_documents(df, limit) else ["documents inventory differs"]


def check_stats(got: list[dict], df: pd.DataFrame) -> list[str]:
    per_kind = {r["kind"]: r["n"] for r in got if r["kind"] is not None}
    totals = [r["n"] for r in got if r["kind"] is None]
    want = df["kind"].value_counts().to_dict()
    errs = []
    if per_kind != want:
        errs.append(f"per-kind counts {per_kind} != {want}")
    if totals != [len(df)] or totals[0] != sum(per_kind.values()):
        errs.append(f"stats total {totals} != {len(df)}")
    return errs


def check_export(lines: list[str], df: pd.DataFrame, document_id: str) -> list[str]:
    """The JSONL lines are exactly the document's (idx, text) rows, each
    with the documented field order."""
    want = Counter((int(i), t) for i, t in zip(df.loc[df.document_id == document_id, "idx"],
                                               df.loc[df.document_id == document_id, "text"]))
    got = Counter()
    for ln in lines:
        obj = json.loads(ln)
        if tuple(obj) != EXPORT_FIELDS:
            return [f"export field order {tuple(obj)}"]
        if obj["document_id"] != document_id:
            return ["export holds another document"]
        got[(obj["idx"], obj["text"])] += 1
    return [] if got == want else [f"export of {document_id}: {sum(got.values())} lines "
                                   f"vs {sum(want.values())} rows"]


# ------------------------------------------------------------ live update


def check_markers(df: pd.DataFrame, newest: dict[str, str], older: dict[str, set[str]]) -> list[str]:
    """Each replaced conversation holds its newest marker and no older one."""
    errs = []
    by_doc = {d: " ".join(g["text"]) for d, g in df.groupby("document_id")}
    for conv, marker in newest.items():
        text = by_doc.get(f"chatgpt:{conv}", "")
        if marker not in text:
            errs.append(f"conversation {conv[:8]} lacks its newest marker {marker}")
        stale = [m for m in older.get(conv, ()) if m in text]
        if stale:
            errs.append(f"conversation {conv[:8]} still holds {stale[0]}")
    return errs


def check_same_rows(got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    """Multiset equality of (document_id, idx, text)."""
    a = Counter(zip(got["document_id"], got["idx"].astype(int), got["text"]))
    b = Counter(zip(want["document_id"], want["idx"].astype(int), want["text"]))
    if a == b:
        return []
    return [f"{sum((a - b).values())} rows only in the watched table, "
            f"{sum((b - a).values())} only in the batch ingest"]


# ------------------------------------------------------------ training prep


def normalized_md5(text: str) -> str:
    return hashlib.md5(re.sub(r"\s+", " ", text).strip().encode("utf-8")).hexdigest()


def check_prep(out: pd.DataFrame, input_ids: set[str], families: list[list[str]],
               boilerplate: list[str], pii_planted: int, budget: int) -> list[str]:
    errs = []
    ids = set(out["doc_id"])
    if len(ids) != len(out):
        errs.append("repeated doc_id in the output")
    if not ids <= input_ids:
        errs.append(f"{len(ids - input_ids)} output ids not in the input")
    for fam in families:
        n = len(ids & set(fam))
        if n != 1:
            errs.append(f"family of {fam[0]} has {n} survivors")
            break
    kept_boiler = ids & set(boilerplate)
    if kept_boiler:
        errs.append(f"{len(kept_boiler)} boilerplate documents survived")
    md5s = out["text"].map(normalized_md5)
    if md5s.duplicated().any():
        errs.append("two survivors share a normalized-text md5")
    if out["text"].map(lambda t: bool(EMAIL_RE.search(t) or PHONE_RE.search(t))).any():
        errs.append("an email or phone number is left in the output")
    if int(out["pii_total"].sum()) != pii_planted:
        errs.append(f"pii_total {int(out['pii_total'].sum())} != {pii_planted} planted")
    bins = out.groupby(["pack_group", "bin_idx"])["n_chars"].agg(["count", "sum"])
    over = bins[(bins["count"] > 1) & (bins["sum"] > budget)]
    if len(over):
        errs.append(f"{len(over)} multi-document bins over the {budget}-char budget")
    return errs


def shingles(text: str, n: int = 3) -> set[str]:
    """Distinct word n-grams of the whitespace tokens (whole text when
    shorter than n)."""
    toks = text.split()
    if len(toks) < n:
        return {" ".join(toks)}
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b) if a or b else 1.0
