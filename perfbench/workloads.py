"""The three workloads: inputs, the calls of one pass, and their checks.

A pass is a closed loop with one caller: each call materializes its
result (a count, a collect, or a write) and returns before the next one
starts. Every call is one span; its name is the layer it enters.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass
from typing import Any, Callable

import checks as C
import gen


@dataclass
class Call:
    span: str
    fn: Callable[[], Any]
    check: Callable[[Any], list[str]] | None


def _rows(df) -> list[dict]:
    return [r.asDict() for r in df.collect()]


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, f))
        for root, _, files in os.walk(path) for f in files
    )


class _TraceWorkload:
    def __init__(self, spark, seed: int, workdir: str):
        self.spark, self.seed = spark, seed
        self.archive = os.path.join(workdir, "archive")
        self.checkpoint = os.path.join(workdir, "checkpoint")
        self.truth: gen.TraceTruth | None = None
        self.trace = None

    def generate(self) -> str:
        shutil.rmtree(self.archive, ignore_errors=True)
        self.truth = gen.write_otf2(self.archive, self.seed)
        return gen.digest_dir(self.archive)

    @property
    def records(self) -> int:
        return self.truth.events

    def properties(self) -> dict:
        t = self.truth
        return {
            "events": t.events, "locations": gen.N_LOCATIONS, "max_depth": t.max_depth,
            "messages": t.messages, "skew_location": gen.SKEW_LOCATION,
            "skew_events_ratio": round(t.skew_ratio, 2), "call_paths": len(t.call_paths),
        }

    def cleanup(self) -> None:
        if self.trace is not None:
            self.trace.unpersist()
            self.trace = None
        self.spark.catalog.clearCache()

    def layer_metrics(self, traced: dict) -> dict:
        return {"checkpoint.bytes_per_event": _dir_bytes(self.checkpoint) / self.records}


class OTF2Ingest(_TraceWorkload):
    """Raw archive → profile and comm matrix → analysis-ready checkpoint."""

    name = "otf2_ingest"

    def prepare(self) -> None:
        pass

    def layer_metrics(self, traced: dict) -> dict:
        cpu_s = traced["matching.cpu_ms"] / 1e3
        return {
            **super().layer_metrics(traced),
            "matching.events_per_cpu_s": self.records / cpu_s if cpu_s else 0.0,
        }

    def calls(self) -> list[Call]:
        from pipit_spark import Trace

        t, spark = self.truth, self.spark

        def read():
            self.trace = Trace.from_otf2(spark, self.archive)
            return self.trace.events.count()

        def write():
            shutil.rmtree(self.checkpoint, ignore_errors=True)
            self.trace.to_parquet(self.checkpoint, include_derived=True)

        def written(_):
            n = spark.read.parquet(self.checkpoint).count()
            return C.check_count("checkpoint rows", n, t.events)

        return [
            Call("otf2.read", read, lambda n: C.check_count("events", n, t.events)),
            Call("matching", lambda: self.trace.matched.count(),
                 lambda n: C.check_count("matched rows", n, t.events)),
            Call("profile.flat",
                 lambda: _rows(self.trace.flat_profile(metrics=["time_inc", "time_exc"])),
                 lambda rows: C.check_flat_profile(rows, t)),
            Call("comm.matrix", lambda: _rows(self.trace.comm_matrix()),
                 lambda rows: C.check_comm_matrix(rows, t)),
            Call("checkpoint.write", write, written),
        ]


class TraceQueries(_TraceWorkload):
    """An analyst re-opening an analyzed trace and running a battery."""

    name = "trace_queries"

    def prepare(self) -> None:
        """Write the derived checkpoint the passes open."""
        from pipit_spark import Trace

        trace = Trace.from_otf2(self.spark, self.archive)
        shutil.rmtree(self.checkpoint, ignore_errors=True)
        trace.to_parquet(self.checkpoint, include_derived=True)
        trace.unpersist()

    def calls(self) -> list[Call]:
        from pipit_spark import Trace

        t, spark = self.truth, self.spark

        def open_():
            self.trace = Trace.from_parquet(spark, self.checkpoint)
            return self.trace.events.count()

        def battery(fn):
            return lambda: _rows(fn(self.trace))

        return [
            Call("checkpoint.open", open_,
                 lambda n: C.check_count("checkpoint rows", n, t.events)),
            # the checkpoint seeds the matched frame: this must start no job
            Call("matching", lambda: self.trace.matched, None),
            Call("profile.flat",
                 battery(lambda tr: tr.flat_profile(metrics=["time_inc", "time_exc"])),
                 lambda rows: C.check_flat_profile(rows, t)),
            Call("profile.load_imbalance", battery(lambda tr: tr.load_imbalance()),
                 lambda rows: C.check_load_imbalance(rows, t)),
            Call("profile.time_profile", battery(lambda tr: tr.time_profile()),
                 lambda rows: C.check_time_profile(rows, t)),
            Call("profile.idle_time", battery(lambda tr: tr.idle_time()),
                 lambda rows: C.check_idle_time(rows, t)),
            Call("profile.caller_callee", battery(lambda tr: tr.caller_callee()),
                 lambda rows: C.check_caller_callee(rows, t)),
            Call("comm.matrix", battery(lambda tr: tr.comm_matrix()),
                 lambda rows: C.check_comm_matrix(rows, t)),
            Call("comm.message_latency", battery(lambda tr: tr.message_latency()),
                 lambda rows: C.check_message_latency(rows, t)),
            Call("cct.build", battery(lambda tr: tr.cct),
                 lambda rows: C.check_cct(rows, t)),
        ]


class CorpusDedup:
    """Candidate generation (MinHash LSH) and verification (3-gram
    Jaccard) over a corpus with planted duplicates."""

    name = "corpus_dedup"

    def __init__(self, spark, seed: int, workdir: str):
        self.spark, self.seed = spark, seed
        self.path = os.path.join(workdir, "corpus")
        self.corpus: gen.CorpusTruth | None = None
        self.shingles: C.ShingleCache | None = None
        self.candidates: list[dict] = []

    def generate(self) -> str:
        self.corpus = gen.make_corpus(self.seed)
        shutil.rmtree(self.path, ignore_errors=True)
        gen.write_corpus(self.path, self.corpus)
        return gen.digest_rows(self.corpus.rows)

    def prepare(self) -> None:
        self.shingles = C.ShingleCache(self.corpus)

    @property
    def records(self) -> int:
        return self.corpus.docs

    def properties(self) -> dict:
        c = self.corpus
        return {
            "docs": c.docs, "exact_dup_share": gen.EXACT_DUP_SHARE,
            "near_dup_share": gen.NEAR_DUP_SHARE, "edit_rates": list(gen.EDIT_RATES),
            "exact_pairs": len(c.exact_pairs), "near_pairs": len(c.near_pairs),
        }

    def calls(self) -> list[Call]:
        from pipit_spark.llm import dedup

        c, spark = self.corpus, self.spark

        def lsh():
            docs = spark.read.parquet(self.path)
            self.candidates = _rows(dedup.minhash_lsh_pairs(docs, num_hashes=16, bands=8))
            return self.candidates

        def jac():
            docs = spark.read.parquet(self.path)
            return _rows(dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.5))

        return [
            Call("dedup.lsh", lsh, lambda rows: C.check_lsh_pairs(rows, c)),
            Call("dedup.jaccard", jac,
                 lambda rows: C.check_jaccard_pairs(rows, c, self.shingles)),
        ]

    def cleanup(self) -> None:
        # the dedup operators persist their signature and shingle-set
        # frames for the query's lifetime; the caller clears them
        self.spark.catalog.clearCache()

    def layer_metrics(self, traced: dict) -> dict:
        n = len(self.candidates)
        useful = sum(1 for r in self.candidates if self.shingles.jaccard(r["a"], r["b"]) >= 0.5)
        return {
            "dedup.lsh.candidates": n,
            "dedup.lsh.useful_ratio": useful / n if n else 0.0,
        }


WORKLOADS = {w.name: w for w in (OTF2Ingest, TraceQueries, CorpusDedup)}
