"""Self-tests of the benchmark: generators are deterministic, checks
accept the truth and reject perturbed results, and BENCHMARK.json names
exactly the metrics run.py reports. No Spark session is started.

Run from the repository root: ``python3 -m pytest perfbench -q``.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import checks as C  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402


@pytest.fixture(scope="module")
def small_trace(tmp_path_factory):
    mp = pytest.MonkeyPatch()
    mp.setattr(gen, "STEPS_PER_LOCATION", 12)
    path = str(tmp_path_factory.mktemp("otf2"))
    yield gen.write_otf2(path, seed=5), path
    mp.undo()


@pytest.fixture(scope="module")
def small_corpus():
    mp = pytest.MonkeyPatch()
    mp.setattr(gen, "N_DOCS", 600)
    yield gen.make_corpus(seed=5)
    mp.undo()


def test_otf2_generator_is_deterministic(small_trace, tmp_path, monkeypatch):
    truth, path = small_trace
    monkeypatch.setattr(gen, "STEPS_PER_LOCATION", 12)
    again = gen.write_otf2(str(tmp_path / "again"), seed=5)
    other = gen.write_otf2(str(tmp_path / "other"), seed=6)
    assert gen.digest_dir(str(tmp_path / "again")) == gen.digest_dir(path)
    assert gen.digest_dir(str(tmp_path / "other")) != gen.digest_dir(path)
    assert again.events == truth.events and again.inc == truth.inc


def test_otf2_generator_shape(small_trace):
    truth, _ = small_trace
    assert truth.max_depth == gen.MAX_DEPTH
    # every send has its receive, channel by channel
    assert {ch: len(v) for ch, v in truth.sends.items()} == {
        ch: len(v) for ch, v in truth.recvs.items()
    }
    assert truth.skew_ratio > 0.75 * gen.SKEW
    assert truth.edges[("<root>", "main")][0] == gen.N_LOCATIONS


def test_corpus_generator_is_deterministic(small_corpus, monkeypatch):
    monkeypatch.setattr(gen, "N_DOCS", 600)
    assert gen.digest_rows(gen.make_corpus(seed=5).rows) == gen.digest_rows(small_corpus.rows)
    assert gen.digest_rows(gen.make_corpus(seed=6).rows) != gen.digest_rows(small_corpus.rows)
    texts = {r[0]: r[1] for r in small_corpus.rows}
    assert all(texts[a] == texts[b] for a, b in small_corpus.exact_pairs)
    assert len(small_corpus.near_pairs) == int(600 * gen.NEAR_DUP_SHARE)


# results as the library returns them, computed from the truth

def _flat_rows(t):
    inc, exc = C._per_name(t.inc), C._per_name(t.exc)
    return [
        {"name": n, "time_inc": sum(p.values()) / len(p),
         "time_exc": sum(exc[n].values()) / len(p)}
        for n, p in inc.items()
    ]


def _comm_rows(t):
    return [
        {"sender": s, "receiver": r, "volume": float(sum(b for _, b in msgs))}
        for (s, r), msgs in t.sends.items()
    ]


def _latency_rows(t):
    return [{"src": s, "dst": d, **v} for (s, d), v in C.expected_latency(t).items()]


def _jaccard_rows(c, sh):
    pairs = c.exact_pairs | c.near_pairs
    return [
        {"a": a, "b": b, "jaccard": round(sh.jaccard(a, b), 6)}
        for a, b in sorted(pairs) if sh.jaccard(a, b) >= 0.5
    ]


def test_checks_accept_the_truth(small_trace, small_corpus):
    t, _ = small_trace
    sh = C.ShingleCache(small_corpus)
    assert C.check_flat_profile(_flat_rows(t), t) == []
    assert C.check_comm_matrix(_comm_rows(t), t) == []
    assert C.check_message_latency(_latency_rows(t), t) == []
    assert C.check_jaccard_pairs(_jaccard_rows(small_corpus, sh), small_corpus, sh) == []
    lsh = [{"a": a, "b": b, "est_jaccard": 1.0} for a, b in sorted(small_corpus.exact_pairs)]
    assert C.check_lsh_pairs(lsh, small_corpus) == []


def test_check_rejects_one_ns_in_a_profile_row(small_trace):
    t, _ = small_trace
    rows = _flat_rows(t)
    rows[3]["time_exc"] += 1.0
    assert C.check_flat_profile(rows, t)


def test_check_rejects_one_dropped_message(small_trace):
    t, _ = small_trace
    rows = _comm_rows(t)
    rows[0]["volume"] -= t.sends[(rows[0]["sender"], rows[0]["receiver"])][0][1]
    assert C.check_comm_matrix(rows, t)
    lat = _latency_rows(t)
    lat[0]["n_matched"] -= 1
    assert C.check_message_latency(lat, t)


def test_check_rejects_one_removed_planted_pair(small_corpus):
    sh = C.ShingleCache(small_corpus)
    rows = _jaccard_rows(small_corpus, sh)
    planted = small_corpus.near_pairs - small_corpus.exact_pairs
    victim = next(i for i, r in enumerate(rows) if (r["a"], r["b"]) in planted)
    del rows[victim]
    assert C.check_jaccard_pairs(rows, small_corpus, sh)


def test_check_rejects_a_pair_below_threshold(small_corpus):
    sh = C.ShingleCache(small_corpus)
    rows = _jaccard_rows(small_corpus, sh)
    low = next(p for p in small_corpus.near_pairs if sh.jaccard(*p) < 0.5)
    rows.append({"a": low[0], "b": low[1], "jaccard": 0.5})
    assert C.check_jaccard_pairs(rows, small_corpus, sh)


def test_benchmark_json_names_the_reported_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == list(run.END_TO_END)
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == run.per_layer_names()
    from workloads import WORKLOADS

    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)


def test_job_intervals_are_merged_and_clipped():
    from spans import _covered

    # two overlapping jobs, one job before the span, one running past it
    jobs = [(1.0, 3.0), (2.0, 4.0), (-5.0, -1.0), (9.0, 12.0)]
    assert _covered(jobs, 0.0, 10.0) == 4.0
    assert _covered([], 0.0, 10.0) == 0.0
