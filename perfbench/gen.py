"""Seeded input generators for the three workloads.

Only the standard library is used, and every byte written depends on the
seed alone: the same seed gives byte-identical files, another seed gives
other files. The generators also return the *truth* the checks need (which
files the router must accept, the prose each plain file holds, the planted
duplicates and PII of a training corpus), so the checks never have to ask
the program under test what it should have produced.
"""

from __future__ import annotations

import json
import os
import random
from dataclasses import dataclass, field

_ONSETS = ["b", "br", "c", "ch", "d", "dr", "f", "g", "gr", "h", "j", "k", "l",
           "m", "n", "p", "pl", "r", "s", "st", "t", "tr", "v", "w", "z"]
_VOWELS = ["a", "e", "i", "o", "u", "ai", "ea", "ou"]
_CODAS = ["", "", "n", "r", "s", "t", "l", "m", "nd", "st"]


def vocabulary(n: int = 4000) -> list[str]:
    """A fixed list of pronounceable lowercase words, 3-12 letters long.

    Built from its own constant seed, so the vocabulary is the same for
    every workload seed; only the choice of words depends on the seed."""
    rng = random.Random(7919)
    words: list[str] = []
    seen: set[str] = set()
    while len(words) < n:
        w = "".join(
            rng.choice(_ONSETS) + rng.choice(_VOWELS) + rng.choice(_CODAS)
            for _ in range(rng.randint(1, 3))
        )
        if 3 <= len(w) <= 12 and w not in seen:
            seen.add(w)
            words.append(w)
    return words


VOCAB = vocabulary()


class Prose:
    """Sentence and paragraph source over :data:`VOCAB` (letters, spaces
    and full stops only: no digits, colons or '@', so plain prose never
    looks like a transcript line or a PII string)."""

    def __init__(self, rng: random.Random):
        self.rng = rng

    def words(self, n: int) -> list[str]:
        return self.rng.choices(VOCAB, k=n)

    def sentence(self, lo: int = 6, hi: int = 16) -> str:
        w = self.words(self.rng.randint(lo, hi))
        return " ".join([w[0].capitalize()] + w[1:]) + "."

    def paragraph(self, lo: int = 3, hi: int = 7) -> str:
        return " ".join(self.sentence() for _ in range(self.rng.randint(lo, hi)))

    def text(self, n_par: int) -> str:
        return "\n\n".join(self.paragraph() for _ in range(n_par))


# ---------------------------------------------------------------- dropzones


@dataclass
class SourceFile:
    """One generated dropzone file and what the router must make of it."""

    rel: str            # path relative to the dropzone root
    category: str       # prose | transcript | chatgpt | csv | json | ignored
    data: bytes
    prose: str | None = None              # the source text of a plain prose file
    conversations: dict[str, str] = field(default_factory=dict)  # chatgpt id -> marker

    @property
    def accepted(self) -> bool:
        return self.category != "ignored"


def _conversation(rng: random.Random, prose: Prose, conv_id: str, marker: str,
                  n_msgs: int, t0: int) -> dict:
    """One ChatGPT-export conversation (mapping-of-nodes shape) whose first
    user message carries ``marker``."""
    mapping: dict[str, dict] = {}
    parent = None
    for m in range(n_msgs):
        node = f"{conv_id}-n{m}"
        role = "user" if m % 2 == 0 else "assistant"
        body = " ".join(prose.sentence() for _ in range(rng.randint(1, 4)))
        if m == 0:
            body = f"{marker} {body}"
        mapping[node] = {
            "id": node,
            "parent": parent,
            "children": [f"{conv_id}-n{m + 1}"] if m + 1 < n_msgs else [],
            "message": {
                "id": node,
                "author": {"role": role},
                "create_time": t0 + 60 * m,
                "content": {"content_type": "text", "parts": [body]},
            },
        }
        parent = node
    return {
        "id": conv_id,
        "title": " ".join(prose.words(3)),
        "create_time": t0,
        "update_time": t0 + 60 * n_msgs,
        "mapping": mapping,
    }


def chatgpt_export(rng: random.Random, conv_ids: list[str], version: int,
                   n_msgs: tuple[int, int] = (4, 10)) -> tuple[bytes, dict[str, str]]:
    """A ``conversations.json``-style export of ``conv_ids`` at ``version``.
    Returns the bytes and conversation id -> marker word of this version."""
    prose = Prose(rng)
    convs, markers = [], {}
    for cid in conv_ids:
        marker = f"zzmark{cid[:8]}v{version}"
        markers[cid] = marker
        t0 = 1_600_000_000 + rng.randrange(0, 80_000_000)
        convs.append(_conversation(rng, prose, cid, marker, rng.randint(*n_msgs), t0))
    return json.dumps(convs, indent=1).encode("utf-8"), markers


def new_conv_id(rng: random.Random) -> str:
    h = f"{rng.getrandbits(128):032x}"
    return f"{h[:8]}-{h[8:12]}-{h[12:16]}-{h[16:20]}-{h[20:]}"


def _prose_file(rng, prose, rel, n_par):
    head = "# " + " ".join(prose.words(4)).title() + "\n\n" if rel.endswith(".md") else ""
    text = head + prose.text(n_par) + "\n"
    return SourceFile(rel, "prose", text.encode("utf-8"), prose=text)


def _transcript_file(rng, prose, rel, n_turns):
    lines = []
    for t in range(n_turns):
        role = "User" if t % 2 == 0 else "Assistant"
        lines.append(f"{role}: " + " ".join(prose.sentence() for _ in range(rng.randint(1, 4))))
    return SourceFile(rel, "transcript", ("\n".join(lines) + "\n").encode("utf-8"))


def _csv_file(rng, prose, rel, n_rows):
    rows = ["id,name,team,score,notes"]
    for i in range(n_rows):
        rows.append(
            f"{i},{prose.words(1)[0]},{prose.words(1)[0]},{rng.randint(0, 999)},"
            f"{' '.join(prose.words(rng.randint(4, 12)))}"
        )
    return SourceFile(rel, "csv", ("\n".join(rows) + "\n").encode("utf-8"))


def _json_file(rng, prose, rel, n_items):
    obj = {
        "project": " ".join(prose.words(2)),
        "owner": prose.words(1)[0],
        "tasks": [
            {"title": prose.sentence(3, 6), "status": rng.choice(["open", "done", "blocked"]),
             "notes": prose.paragraph(1, 3)}
            for _ in range(n_items)
        ],
    }
    return SourceFile(rel, "json", json.dumps(obj, indent=2).encode("utf-8"))


def _ignored_file(rng, prose, rel):
    return SourceFile(rel, "ignored", (prose.paragraph() + "\n").encode("utf-8"))


@dataclass
class Mix:
    """How many files of each category one dropzone (or drop) holds, and
    the (low, high) size range of each kind of file."""

    prose: int = 0
    large: int = 0          # skewed prose files, ~10x the paragraphs
    transcript: int = 0
    chatgpt: int = 0        # export files
    convs_per_export: tuple[int, int] = (6, 12)
    csv: int = 0
    json: int = 0
    ignored: int = 0
    paragraphs: tuple[int, int] = (3, 8)    # per prose note
    turns: tuple[int, int] = (6, 14)        # per transcript
    rows: tuple[int, int] = (20, 60)        # per CSV
    items: tuple[int, int] = (3, 8)         # per JSON record file


def make_files(rng: random.Random, prefix: str, mix: Mix) -> list[SourceFile]:
    """Generate the files of one dropzone or drop under ``prefix``."""
    prose = Prose(rng)
    out: list[SourceFile] = []
    for i in range(mix.prose):
        ext = "md" if i % 2 == 0 else "txt"
        out.append(_prose_file(rng, prose, f"{prefix}notes/note_{i:03d}.{ext}",
                               rng.randint(*mix.paragraphs)))
    for i in range(mix.large):
        out.append(_prose_file(rng, prose, f"{prefix}notes/long_{i:02d}.txt", rng.randint(50, 70)))
    for i in range(mix.transcript):
        ext = "txt" if i % 2 == 0 else "md"
        out.append(_transcript_file(rng, prose, f"{prefix}chats/transcript_{i:03d}.{ext}",
                                    rng.randint(*mix.turns)))
    for i in range(mix.chatgpt):
        ids = [new_conv_id(rng) for _ in range(rng.randint(*mix.convs_per_export))]
        data, markers = chatgpt_export(rng, ids, version=0)
        out.append(SourceFile(f"{prefix}exports/chatgpt_{i:02d}/conversations.json",
                              "chatgpt", data, conversations=markers))
    for i in range(mix.csv):
        out.append(_csv_file(rng, prose, f"{prefix}tables/sheet_{i:02d}.csv",
                             rng.randint(*mix.rows)))
    for i in range(mix.json):
        out.append(_json_file(rng, prose, f"{prefix}records/project_{i:02d}.json",
                              rng.randint(*mix.items)))
    ignored_names = ["temp_{i}.txt", "draft_{i}.md.part", ".hidden_{i}.md", "smoke_{i}.txt",
                     "upload_{i}.txt.crdownload"]
    for i in range(mix.ignored):
        name = ignored_names[i % len(ignored_names)].format(i=i)
        out.append(_ignored_file(rng, prose, f"{prefix}notes/{name}"))
    return out


def write_files(root: str, files: list[SourceFile]) -> int:
    """Write ``files`` under ``root``; returns the bytes written."""
    total = 0
    for f in files:
        path = os.path.join(root, f.rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "wb") as fh:
            fh.write(f.data)
        total += len(f.data)
    return total


def sub_rng(seed: int, *labels) -> random.Random:
    """An independent stream per (seed, labels): generating one part of the
    inputs never shifts the bytes of another part."""
    return random.Random(f"{seed}/" + "/".join(str(x) for x in labels))


# ---------------------------------------------------------- training corpus


@dataclass
class PrepCorpus:
    """A raw training corpus and the truth planted in it."""

    rows: list[tuple[str, str]]                 # (doc_id, text)
    families: list[list[str]]                   # original + exact + near copies
    boilerplate: list[str]                      # ids of repetitive documents
    pii_planted: int                            # emails + phones planted
    n_bytes: int = 0


# short phrases: repeated, each makes its most frequent word well over the
# repetition gate's 20% share of a document's words
_BOILER = [
    "subscribe now for more",
    "all rights reserved",
    "buy now buy now limited deal",
]


def _respace(rng: random.Random, text: str) -> str:
    """Same words, other whitespace: an exact duplicate after normalizing."""
    out = []
    for w in text.split(" "):
        out.append(w)
        out.append(rng.choice([" ", " ", "  ", "\n", " \t"]))
    return "".join(out[:-1])


def _near_copy(rng: random.Random, text: str) -> str:
    """Change about 1% of the words (at least two) to other words."""
    words = text.split(" ")
    n = max(2, len(words) // 100)
    for i in rng.sample(range(len(words)), n):
        words[i] = rng.choice(VOCAB)
    return " ".join(words)


def make_prep_corpus(seed: int, shard: int, n_docs: int) -> PrepCorpus:
    """About ``n_docs`` raw documents: singletons (some carrying emails and
    phone numbers), duplicate families (an original, 1-2 exact copies with
    other whitespace, 1-2 near copies with ~1% of words changed) and
    repetitive boilerplate. Row order is shuffled."""
    rng = sub_rng(seed, "prep", shard)
    prose = Prose(rng)

    def body() -> str:
        return " ".join(prose.sentence() for _ in range(rng.randint(14, 30)))

    docs: list[str] = []
    fam_idx: list[list[int]] = []
    boiler_idx: list[int] = []
    pii = 0
    while len(docs) < n_docs:
        r = rng.random()
        if r < 0.12:
            orig = body()
            members = [orig]
            members += [_respace(rng, orig) for _ in range(rng.randint(1, 2))]
            members += [_near_copy(rng, orig) for _ in range(rng.randint(1, 2))]
            fam_idx.append(list(range(len(docs), len(docs) + len(members))))
            docs.extend(members)
        elif r < 0.17:
            phrase = rng.choice(_BOILER)
            boiler_idx.append(len(docs))
            docs.append(" ".join([phrase] * rng.randint(8, 20)))
        else:
            words = body().split(" ")
            if rng.random() < 0.3:
                for _ in range(rng.randint(1, 3)):
                    if rng.random() < 0.5:
                        tok = f"{rng.choice(VOCAB)}.{rng.choice(VOCAB)}@{rng.choice(VOCAB)}.com"
                    else:
                        tok = f"{rng.randint(200, 989)}-{rng.randint(200, 999)}-{rng.randint(1000, 9999)}"
                    words.insert(rng.randrange(1, len(words)), tok)
                    pii += 1
            docs.append(" ".join(words))
    order = list(range(len(docs)))
    rng.shuffle(order)
    ids = {old: f"s{shard:02d}-doc-{new:06d}" for new, old in enumerate(order)}
    rows = sorted(((ids[i], t) for i, t in enumerate(docs)), key=lambda r: r[0])
    return PrepCorpus(
        rows=rows,
        families=[[ids[i] for i in fam] for fam in fam_idx],
        boilerplate=[ids[i] for i in boiler_idx],
        pii_planted=pii,
        n_bytes=sum(len(t.encode("utf-8")) for _, t in rows),
    )
