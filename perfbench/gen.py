"""Seeded single-process input generators and their ground truth.

``write_otf2`` writes a synthetic OTF2 archive (the binary grammar that
``pipit_spark/sources/otf2_native.py`` parses) and returns the exact
answers the trace operators must give on it. ``make_corpus`` builds a
``documents``-schema corpus with planted exact and near duplicates and
returns its rows plus the planted pairs.

Both are pure functions of the seed: the same seed gives byte-identical
files and rows. Nothing here imports Spark.
"""

from __future__ import annotations

import hashlib
import os
import random
from collections import defaultdict
from itertools import accumulate
from dataclasses import dataclass, field

from tools.synth_otf2 import _HEADER, _rec, _sp, _ts

# ---------------------------------------------------------------- OTF2

N_LOCATIONS = 16
SKEW = 4  # the skewed location has this many times the others' steps and messages
# the last location is the skewed one: its parse task starts last, so its
# straggling is not hidden behind the other tasks (and no seed moves it)
SKEW_LOCATION = N_LOCATIONS - 1
STEPS_PER_LOCATION = 256
MAX_DEPTH = 5  # main = 0, timestep = 1, deepest compute frame = 5
SENDS_PER_STEP = 2
MSG_SIZES = (64, 256, 1024, 4096, 65536)

COMPUTE = (
    "compute", "solve", "assemble", "update",
    "reduce_local", "pack", "unpack", "io_write",
)
REGIONS = ("main", "timestep", "exchange", "MPI_Send", "MPI_Recv", "Idle") + COMPUTE
_REGION_REF = {name: i for i, name in enumerate(REGIONS)}

_ENTER, _LEAVE, _MPI_SEND, _MPI_RECV = 0x0C, 0x0D, 0x0E, 0x12


@dataclass
class TraceTruth:
    """What the trace operators must return on the generated archive.
    Times are integer nanoseconds (the archive clock runs at 1 GHz)."""

    loc_events: list = field(default_factory=list)  # events per location
    max_depth: int = 0
    # (name, process) -> summed inclusive / exclusive ns over Enter rows
    inc: dict = field(default_factory=lambda: defaultdict(int))
    exc: dict = field(default_factory=lambda: defaultdict(int))
    # (caller or "<root>", callee) -> [calls, summed inclusive ns]
    edges: dict = field(default_factory=lambda: defaultdict(lambda: [0, 0]))
    call_paths: set = field(default_factory=set)
    idle: dict = field(default_factory=lambda: defaultdict(int))
    # (src, dst) -> program-ordered [(ts, bytes)] sends / [ts] recvs
    sends: dict = field(default_factory=lambda: defaultdict(list))
    recvs: dict = field(default_factory=lambda: defaultdict(list))

    @property
    def events(self) -> int:
        return sum(self.loc_events)

    @property
    def skew_ratio(self) -> float:
        """Events of the skewed location over the mean of the others."""
        others = [n for i, n in enumerate(self.loc_events) if i != SKEW_LOCATION]
        return self.loc_events[SKEW_LOCATION] / (sum(others) / len(others))

    @property
    def messages(self) -> int:
        return sum(len(v) for v in self.sends.values())


def _write_defs(path: str) -> None:
    recs = [_rec(5, _sp(1_000_000_000) + _sp(0) + _sp(0))]
    for ref, name in enumerate(REGIONS):
        recs.append(_rec(10, _sp(ref) + name.encode() + b"\x00"))
    for loc in range(N_LOCATIONS):
        recs.append(_rec(10, _sp(1000 + loc) + f"rank {loc}".encode() + b"\x00"))
    for ref in range(len(REGIONS)):
        recs.append(_rec(15, _sp(ref) + _sp(ref)))
    for loc in range(N_LOCATIONS):
        # ref, name ref, type byte, numEvents, location group (= rank)
        recs.append(_rec(14, _sp(loc) + _sp(1000 + loc) + b"\x01" + _sp(0) + _sp(loc)))
    with open(path, "wb") as f:
        f.write(_HEADER + b"".join(recs) + b"\x02")


class _Location:
    """Event writer for one location that tracks the ground truth as it
    emits records."""

    def __init__(self, loc: int, rng: random.Random, truth: TraceTruth):
        self.loc, self.rng, self.truth = loc, rng, truth
        self.t = 1000 + loc
        self.out = [_HEADER]
        self.stack: list[list] = []  # [name, enter_ts, children_inc]
        self.n = 0

    def _stamp(self) -> None:
        self.t += self.rng.randrange(5, 400)
        self.out.append(_ts(self.t))
        self.n += 1

    def enter(self, name: str) -> None:
        ref = _REGION_REF[name]
        self._stamp()
        # single-field record: the length byte is the region int's size
        self.out.append(_rec(_ENTER, ref.to_bytes(1, "little")))
        self.stack.append([name, self.t, 0])
        self.truth.call_paths.add(tuple(f[0] for f in self.stack))
        self.truth.max_depth = max(self.truth.max_depth, len(self.stack) - 1)

    def leave(self) -> None:
        name, t0, child_inc = self.stack.pop()
        self._stamp()
        self.out.append(_rec(_LEAVE, _REGION_REF[name].to_bytes(1, "little")))
        inc = self.t - t0
        tr = self.truth
        tr.inc[(name, self.loc)] += inc
        tr.exc[(name, self.loc)] += inc - child_inc
        caller = self.stack[-1][0] if self.stack else "<root>"
        edge = tr.edges[(caller, name)]
        edge[0] += 1
        edge[1] += inc
        if name == "Idle":
            tr.idle[self.loc] += inc
        if self.stack:
            self.stack[-1][2] += inc

    def message(self, kind: str, peer: int, size: int) -> None:
        self.enter("MPI_Send" if kind == "send" else "MPI_Recv")
        self._stamp()
        fields = _sp(peer) + _sp(0) + _sp(0) + _sp(size)
        if kind == "send":
            self.out.append(_rec(_MPI_SEND, fields))
            self.truth.sends[(self.loc, peer)].append((self.t, size))
        else:
            self.out.append(_rec(_MPI_RECV, fields))
            self.truth.recvs[(peer, self.loc)].append(self.t)
        self.leave()

    def compute(self, depth: int) -> None:
        rng = self.rng
        self.enter(rng.choice(COMPUTE))
        if depth < MAX_DEPTH:
            for _ in range(rng.randrange(0, 3)):
                self.compute(depth + 1)
        self.leave()


def write_otf2(outdir: str, seed: int) -> TraceTruth:
    """Write a seeded archive to ``outdir`` and return its ground truth.

    Every location runs ``main`` → ``timestep``s; a step holds random
    compute subtrees (up to ``MAX_DEPTH``), an optional ``Idle`` frame,
    and an ``exchange`` frame with the step's MPI_Send/MPI_Recv frames.
    Messages are planned globally first, so every send has exactly one
    matching receive on its peer, in a random step of the peer, so a
    latency can be negative (as with unsynchronized clocks). One
    location, ``SKEW_LOCATION``, has ``SKEW`` times the steps, sends
    and receives of the others.
    """
    os.makedirs(os.path.join(outdir, "traces"), exist_ok=True)
    _write_defs(os.path.join(outdir, "traces.def"))
    rng = random.Random(seed)
    truth = TraceTruth()
    steps = [
        STEPS_PER_LOCATION * (SKEW if loc == SKEW_LOCATION else 1)
        for loc in range(N_LOCATIONS)
    ]
    # per location and step: the ("send"|"recv", peer, bytes) it performs
    plan = [[[] for _ in range(steps[loc])] for loc in range(N_LOCATIONS)]
    for src in range(N_LOCATIONS):
        # peers are picked in proportion to their steps, so the skewed
        # location receives SKEW times as much as it would otherwise
        peers = [d for d in range(N_LOCATIONS) if d != src]
        cum = list(accumulate(steps[d] for d in peers))
        for step in range(steps[src]):
            for _ in range(SENDS_PER_STEP):
                dst = rng.choices(peers, cum_weights=cum)[0]
                size = rng.choice(MSG_SIZES)
                plan[src][step].append(("send", dst, size))
                plan[dst][rng.randrange(steps[dst])].append(("recv", src, size))
    for loc in range(N_LOCATIONS):
        w = _Location(loc, random.Random(seed * 1_000_003 + loc), truth)
        w.enter("main")
        for ops in plan[loc]:
            w.enter("timestep")
            for _ in range(w.rng.randrange(1, 4)):
                w.compute(2)
            if w.rng.random() < 0.3:
                w.enter("Idle")
                w.leave()
            if ops:
                w.enter("exchange")
                w.rng.shuffle(ops)
                for kind, peer, size in ops:
                    w.message(kind, peer, size)
                w.leave()
            w.leave()
        w.leave()
        w.out.append(b"\x02")
        with open(os.path.join(outdir, "traces", f"{loc}.evt"), "wb") as f:
            f.write(b"".join(w.out))
        truth.loc_events.append(w.n)
    return truth


# -------------------------------------------------------------- corpus

N_DOCS = 12_000
EXACT_DUP_SHARE = 0.05
NEAR_DUP_SHARE = 0.15
EDIT_RATES = (0.04, 0.08, 0.16, 0.24)  # per-word substitution probability
VOCAB = 8_000
DOC_WORDS = (40, 120)
SOURCES = ("web", "books", "code", "forum")


@dataclass
class CorpusTruth:
    rows: list  # (doc_id, text, lang, source, n_chars)
    exact_pairs: set  # (a, b), a < b: identical text
    near_pairs: set  # (original, edited copy)

    @property
    def docs(self) -> int:
        return len(self.rows)


def _vocabulary(rng: random.Random) -> list[str]:
    syll = [c + v for c in "bcdfghjklmnprstvwz" for v in "aeiou"]
    words: set[str] = set()
    while len(words) < VOCAB:
        words.add("".join(rng.choice(syll) for _ in range(rng.randrange(2, 5))))
    return sorted(words)


def make_corpus(seed: int) -> CorpusTruth:
    """Seeded corpus: ``N_DOCS`` documents of lower-case words joined by
    single spaces. ``EXACT_DUP_SHARE`` of them copy an original
    verbatim; ``NEAR_DUP_SHARE`` copy one with each word substituted at
    a rate drawn from ``EDIT_RATES``. Word frequencies follow a mild
    Zipf law (exponent 0.7), so no 3-gram comes near the dedup
    operators' document-frequency cap."""
    rng = random.Random(seed)
    vocab = _vocabulary(rng)
    cum = list(accumulate(1.0 / (k + 1) ** 0.7 for k in range(VOCAB)))
    n_exact = int(N_DOCS * EXACT_DUP_SHARE)
    n_near = int(N_DOCS * NEAR_DUP_SHARE)
    n_orig = N_DOCS - n_exact - n_near
    texts: list[list[str]] = [
        rng.choices(vocab, cum_weights=cum, k=rng.randrange(*DOC_WORDS))
        for _ in range(n_orig)
    ]
    kind = ["exact"] * n_exact + ["near"] * n_near
    rng.shuffle(kind)
    exact_pairs: set = set()
    near_pairs: set = set()
    for k in kind:
        src = rng.randrange(n_orig)
        new_id = len(texts)
        if k == "exact":
            texts.append(list(texts[src]))
            exact_pairs.add((src, new_id))
        else:
            rate = rng.choice(EDIT_RATES)
            texts.append([
                rng.choices(vocab, cum_weights=cum)[0] if rng.random() < rate else w
                for w in texts[src]
            ])
            near_pairs.add((src, new_id))
    # copies of one original are duplicates of each other as well
    by_text: dict[str, list[int]] = defaultdict(list)
    rows = []
    for doc_id, words in enumerate(texts):
        text = " ".join(words)
        by_text[text].append(doc_id)
        rows.append((doc_id, text, "en", SOURCES[doc_id % len(SOURCES)], len(text)))
    for ids in by_text.values():
        exact_pairs.update((a, b) for i, a in enumerate(ids) for b in ids[i + 1:])
    return CorpusTruth(rows, exact_pairs, near_pairs)


def write_corpus(path: str, corpus: CorpusTruth, files: int = 4) -> None:
    """Write the corpus as ``files`` Parquet files in ``documents``
    schema (pyarrow, no Spark involved)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    cols = list(zip(*corpus.rows))
    schema = pa.schema([
        ("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
        ("source", pa.string()), ("n_chars", pa.int64()),
    ])
    table = pa.Table.from_arrays([pa.array(c) for c in cols], schema=schema)
    step = -(-table.num_rows // files)
    for i in range(files):
        pq.write_table(
            table.slice(i * step, step), os.path.join(path, f"part-{i:02d}.parquet")
        )


# -------------------------------------------------------------- digests

def digest_dir(path: str) -> str:
    """sha256 over every file's relative path and bytes, in path order."""
    h = hashlib.sha256()
    for root, dirs, files in os.walk(path):
        dirs.sort()
        for name in sorted(files):
            full = os.path.join(root, name)
            h.update(os.path.relpath(full, path).encode() + b"\x00")
            with open(full, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def digest_rows(rows) -> str:
    h = hashlib.sha256()
    for row in rows:
        h.update(repr(row).encode() + b"\n")
    return h.hexdigest()


def shingles(text: str, n: int = 3) -> set[str]:
    """Distinct word n-grams, as ``pipit_spark.llm.dedup`` forms them on
    single-space-separated text (a text shorter than ``n`` words is one
    truncated shingle)."""
    toks = text.split(" ")
    return {" ".join(toks[p:p + n]) for p in range(max(len(toks) - n, 0) + 1)}


def jaccard(a: set, b: set) -> float:
    common = len(a & b)
    return common / (len(a) + len(b) - common)

