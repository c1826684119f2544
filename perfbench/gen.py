"""Seeded inputs for the pipeline benchmark.

Everything the program under test reads is made here, from one seed:

* a ``file://`` collection — ``<root>/bench.items.parquet``, several
  parquet files so the scan runs as several tasks;
* an oplog feed — JSON-lines files under ``<root>/oplog`` in the
  ``sources/cdc.py`` row shape (``ts, ns, op, id, doc, fromMigrate``).

The same seed gives byte-identical inputs.  Every workload mixes in a
small share of foreign-namespace and ``fromMigrate`` rows, so the F3
source filter drops real rows.
"""

from __future__ import annotations

import json
import os
import random
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DB = "bench"
COLLECTION = "items"
NS = f"{DB}.{COLLECTION}"
FOREIGN_NS = f"{DB}.other"
T0 = 1_700_000_000  # epoch seconds of the first generated oplog entry
FOREIGN_SHARE = 0.02
MIGRATE_SHARE = 0.02

# target type of every mapped source path (Task ``hints``)
HINTS = {"title": "string", "n": "long", "meta.a": "string"}
MAPPING = {"title": "title", "n": "n", "meta.a": "info.tag"}

_SYLLABLES = [c + v for c in "bcdfghjklmnprstvz" for v in "aeiou"]


def make_ts(seconds: int, increment: int) -> int:
    """BSON-style oplog timestamp, as ``core.make_ts`` encodes it."""
    return (seconds << 32) | increment


def key(i: int) -> str:
    return f"k{i:09d}"


class Words:
    """Zipf-distributed words over a synthetic vocabulary, so BM25 sees
    a realistic mix of frequent and rare terms.  Draws come from a
    numpy generator in blocks, which keeps large collections cheap to
    make."""

    BLOCK = 1 << 16

    def __init__(self, seed: int, size: int = 4000):
        rng = random.Random(seed)
        vocab = set()
        while len(vocab) < size:
            vocab.add("".join(rng.choice(_SYLLABLES) for _ in range(rng.randint(2, 4))))
        self.vocab = sorted(vocab)
        rng.shuffle(self.vocab)
        weights = 1.0 / np.arange(1, size + 1)
        self.p = weights / weights.sum()
        self.g = np.random.default_rng(seed)
        self._buf: list[int] = []
        self._i = 0

    def draw(self, n: int) -> np.ndarray:
        return self.g.choice(len(self.vocab), size=n, p=self.p)

    def word(self) -> str:
        if self._i == len(self._buf):
            self._buf, self._i = self.draw(self.BLOCK).tolist(), 0
        self._i += 1
        return self.vocab[self._buf[self._i - 1]]

    def text(self, lo: int, hi: int) -> str:
        return " ".join(self.word() for _ in range(int(self.g.integers(lo, hi + 1))))

    def texts(self, n: int, lo: int, hi: int) -> list[str]:
        """``n`` texts of ``lo..hi`` words each, drawn in bulk."""
        lens = self.g.integers(lo, hi + 1, n)
        words = np.asarray(self.vocab, dtype=object)[self.draw(int(lens.sum()))].tolist()
        ends = np.cumsum(lens).tolist()
        return [" ".join(words[e - k:e]) for e, k in zip(ends, lens.tolist())]


def make_doc(words: Words) -> dict:
    """A source document without ``_id``: three mapped paths (one
    nested) and one unmapped field."""
    return {
        "title": words.text(4, 12),
        "n": int(words.g.integers(1_000_000)),
        "meta": {"a": words.word(), "b": int(words.g.integers(100))},
        "extra": words.text(2, 4),
    }


_COLL_SCHEMA = pa.schema(
    [
        ("_id", pa.string()),
        ("title", pa.string()),
        ("n", pa.int64()),
        ("meta", pa.struct([("a", pa.string()), ("b", pa.int64())])),
        ("extra", pa.string()),
    ]
)


def write_collection(root: str, docs: dict[str, dict], parts: int) -> None:
    out = os.path.join(root, f"{NS}.parquet")
    os.makedirs(out, exist_ok=True)
    ids = list(docs)
    step = -(-len(ids) // parts)
    for p in range(parts):
        chunk = ids[p * step:(p + 1) * step]
        if not chunk:
            continue
        cols = {
            "_id": chunk,
            "title": [docs[i]["title"] for i in chunk],
            "n": [docs[i]["n"] for i in chunk],
            "meta": [docs[i]["meta"] for i in chunk],
            "extra": [docs[i]["extra"] for i in chunk],
        }
        pq.write_table(
            pa.table(cols, schema=_COLL_SCHEMA),
            os.path.join(out, f"part-{p:05d}.parquet"),
        )


def event_line(ts: int, ns: str, op: str, doc_id: str, doc: dict,
               from_migrate: bool = False) -> str:
    row = {"ts": ts, "ns": ns, "op": op, "id": doc_id, "doc": json.dumps(doc)}
    if from_migrate:
        row["fromMigrate"] = True
    return json.dumps(row)


@dataclass
class Inputs:
    """What one workload generated: the collection, and the feed as
    file name -> event lines (in write order)."""

    root: str
    docs: dict[str, dict]
    files: list[tuple[str, list[str]]] = field(default_factory=list)
    # seconds between the first and the last feed file landing
    write_s: float = 0.0

    @property
    def events(self) -> int:
        return sum(len(lines) for _, lines in self.files)


class Feed:
    """Event stream over a live key set: inserts take fresh keys,
    updates and deletes pick live ones.  ``noise`` mixes in foreign
    namespace and fromMigrate rows that the source filter must drop."""

    def __init__(self, rng: random.Random, words: Words, live: list[str],
                 next_key: int):
        self.rng, self.words = rng, words
        self.live = list(live)
        self.pos = {k: i for i, k in enumerate(self.live)}
        self.next_key = next_key
        self.seq = 0

    def _ts(self) -> int:
        self.seq += 1
        return make_ts(T0 + self.seq // 1000, self.seq % 1000 + 1)

    def _drop(self, k: str) -> None:
        i = self.pos.pop(k)
        last = self.live.pop()
        if last != k:
            self.live[i] = last
            self.pos[last] = i

    def noise(self) -> str | None:
        x = self.rng.random()
        if x < FOREIGN_SHARE:
            return event_line(self._ts(), FOREIGN_NS, "i",
                              key(self.rng.randrange(10**6)),
                              make_doc(self.words))
        if x < FOREIGN_SHARE + MIGRATE_SHARE:
            k = self.rng.choice(self.live)
            return event_line(self._ts(), NS, "d", k, {}, from_migrate=True)
        return None

    def insert(self) -> str:
        k = key(self.next_key)
        self.next_key += 1
        self.pos[k] = len(self.live)
        self.live.append(k)
        return event_line(self._ts(), NS, "i", k, make_doc(self.words))

    def replace(self) -> str:
        k = self.rng.choice(self.live)
        return event_line(self._ts(), NS, "u", k, make_doc(self.words))

    def delete(self) -> str:
        k = self.rng.choice(self.live)
        self._drop(k)
        return event_line(self._ts(), NS, "d", k, {})

    def patch(self, k: str) -> str:
        """A ``$set``/``$unset`` patch.  About a quarter touch only the
        unmapped ``extra`` field, which the ignoreUpdate rule drops."""
        x = self.rng.random()
        if x < 0.25:
            o = {"$set": {"extra": self.words.text(1, 3)}}
        elif x < 0.55:
            o = {"$set": {"title": self.words.text(4, 12)}}
        elif x < 0.8:
            o = {"$set": {"n": self.rng.randrange(1_000_000),
                          "meta.a": self.words.word()}}
        elif x < 0.9:
            o = {"$unset": {"meta.a": 1}}
        else:
            o = {"$set": {"title": self.words.text(4, 12)},
                 "$unset": {"n": 1}}
        return event_line(self._ts(), NS, "u", k, o)

    def mixed(self) -> str:
        """Insert / full-replace / delete, no patches — the state probe
        finds no patch, so the sink lookup never runs."""
        line = self.noise()
        if line is not None:
            return line
        x = self.rng.random()
        if x < 0.4 or len(self.live) < 2:
            return self.insert()
        if x < 0.8:
            return self.replace()
        return self.delete()


def collection(words: Words, n_docs: int) -> dict[str, dict]:
    titles = words.texts(n_docs, 4, 12)
    extras = words.texts(n_docs, 2, 4)
    tags = np.asarray(words.vocab, dtype=object)[words.draw(n_docs)].tolist()
    ns = words.g.integers(1_000_000, size=n_docs).tolist()
    bs = words.g.integers(100, size=n_docs).tolist()
    return {
        key(i): {"title": titles[i], "n": ns[i], "meta": {"a": tags[i], "b": bs[i]},
                 "extra": extras[i]}
        for i in range(n_docs)
    }


def search_sync(root: str, seed: int, n_docs: int, n_files: int,
                per_file: int) -> Inputs:
    rng = random.Random(seed)
    words = Words(seed)
    docs = collection(words, n_docs)
    feed = Feed(rng, words, list(docs), n_docs)
    inp = Inputs(root, docs)
    for f in range(n_files):
        inp.files.append((f"feed-{f:05d}.json", [feed.mixed() for _ in range(per_file)]))
    return inp


def hot_patch(root: str, seed: int, n_docs: int, n_files: int, per_file: int,
              hot_keys: int) -> Inputs:
    rng = random.Random(seed)
    words = Words(seed)
    docs = collection(words, n_docs)
    feed = Feed(rng, words, list(docs), n_docs)
    hot = rng.sample(list(docs), hot_keys)
    inp = Inputs(root, docs)
    for f in range(n_files):
        lines = []
        for _ in range(per_file):
            line = feed.noise()
            lines.append(line if line is not None else feed.patch(rng.choice(hot)))
        inp.files.append((f"feed-{f:05d}.json", lines))
    return inp


def scan_only(inp: Inputs, root: str) -> Inputs:
    """The same collection with an empty feed: a run over it is a scan
    followed by a tail that finds nothing."""
    os.makedirs(os.path.join(root, "oplog"))
    os.symlink(os.path.join(inp.root, f"{NS}.parquet"), os.path.join(root, f"{NS}.parquet"))
    return Inputs(root, inp.docs)


def write_inputs(inp: Inputs, parts: int) -> None:
    """Write the collection and every feed file.  Catch-up feeds pin
    strictly increasing mtimes, so the file source's per-trigger file
    choice (oldest first) is the same on every run."""
    write_collection(inp.root, inp.docs, parts)
    oplog = os.path.join(inp.root, "oplog")
    os.makedirs(oplog, exist_ok=True)
    start = time.perf_counter()
    for i, (name, lines) in enumerate(inp.files):
        path = os.path.join(oplog, name)
        write_feed_file(path, lines)
        os.utime(path, (T0 + i, T0 + i))
    inp.write_s = time.perf_counter() - start


def write_feed_file(path: str, lines: list[str]) -> None:
    """Write atomically: the file source must never see a half file."""
    tmp = os.path.join(os.path.dirname(os.path.dirname(path)),
                       "." + os.path.basename(path) + ".tmp")
    with open(tmp, "w", encoding="utf-8") as fh:
        fh.write("\n".join(lines) + "\n")
    os.replace(tmp, path)
