"""Ground-truth checks on collected results.

Each check takes plain Python rows (dicts, as ``Row.asDict()`` gives
them) and the generator's truth, and returns a list of problems; an
empty list means the result is right. No Spark here, so the self-tests
can feed the checks perturbed rows directly.
"""

from __future__ import annotations

from collections import Counter, defaultdict

from gen import CorpusTruth, TraceTruth, jaccard, shingles

# Sums of integer nanoseconds are exact in float64 below 2**53, so
# profile sums compare exactly. Quotients and the bin-overlap sums of
# the time profile get a relative tolerance far below one nanosecond
# of any value the trace produces.
RATIO_TOL = 1e-12
BIN_TOL = 1e-9


def _close(a: float, b: float, tol: float) -> bool:
    return abs(a - b) <= tol * max(abs(a), abs(b), 1.0)


def _per_name(values: dict) -> dict:
    """(name, process) -> v  to  name -> {process: v}."""
    out: dict = defaultdict(dict)
    for (name, proc), v in values.items():
        out[name][proc] = v
    return out


def _keys(label: str, got, want) -> list[str]:
    got, want = set(got), set(want)
    if got == want:
        return []
    return [f"{label}: missing {sorted(want - got)[:5]}, extra {sorted(got - want)[:5]}"]


def check_count(label: str, got: int, want: int) -> list[str]:
    return [] if got == want else [f"{label}: {got} rows, want {want}"]


def check_flat_profile(rows: list[dict], t: TraceTruth) -> list[str]:
    """Mean over processes of the per-process sums, per region."""
    inc, exc = _per_name(t.inc), _per_name(t.exc)
    got = {r["name"]: r for r in rows}
    bad = _keys("flat_profile names", got, inc)
    for name, procs in inc.items():
        if name not in got:
            continue
        n = len(procs)
        want_inc = sum(procs.values()) / n
        want_exc = sum(exc[name].values()) / n
        if got[name]["time_inc"] != want_inc or got[name]["time_exc"] != want_exc:
            bad.append(
                f"flat_profile {name}: ({got[name]['time_inc']}, {got[name]['time_exc']})"
                f" want ({want_inc}, {want_exc})"
            )
    return bad


def check_load_imbalance(rows: list[dict], t: TraceTruth) -> list[str]:
    """max / mean of the per-process exclusive sums, and the most loaded
    process (lowest id on ties)."""
    exc = _per_name(t.exc)
    got = {r["name"]: r for r in rows}
    bad = _keys("load_imbalance names", got, exc)
    for name, procs in exc.items():
        if name not in got:
            continue
        mean = sum(procs.values()) / len(procs)
        top = max(procs.values())
        top_proc = min(p for p, v in procs.items() if v == top)
        r = got[name]
        if not (
            _close(r["time_exc_mean"], mean, RATIO_TOL)
            and _close(r["time_exc_imbalance"], top / mean, RATIO_TOL)
            and list(r["top_processes"]) == [top_proc]
        ):
            bad.append(f"load_imbalance {name}: {r}")
    return bad


def check_time_profile(rows: list[dict], t: TraceTruth, num_bins: int = 50) -> list[str]:
    """Each region's time summed over the bins is its exclusive time
    summed over processes, and each bin (idle_time included) adds up
    to the bin width times the process count."""
    bad = []
    bins = {r["bin_idx"] for r in rows}
    if bins != set(range(num_bins)):
        bad.append(f"time_profile: {len(bins)} bins, want {num_bins}")
    n_proc = len({p for _, p in t.inc})
    per_name: dict = defaultdict(float)
    per_bin: dict = defaultdict(float)
    width = {}
    for r in rows:
        if r["time"] < 0:
            bad.append(f"time_profile: negative time {r}")
        per_bin[r["bin_idx"]] += r["time"]
        width[r["bin_idx"]] = r["bin_end"] - r["bin_start"]
        if r["name"] != "idle_time":
            per_name[r["name"]] += r["time"]
    for name, procs in _per_name(t.exc).items():
        want = float(sum(procs.values()))
        if not _close(per_name.get(name, 0.0), want, BIN_TOL):
            bad.append(f"time_profile {name}: {per_name.get(name)} over bins, want {want}")
    for b, total in per_bin.items():
        if not _close(total, width[b] * n_proc, BIN_TOL):
            bad.append(f"time_profile bin {b}: {total}, want {width[b] * n_proc}")
    return bad


def check_idle_time(rows: list[dict], t: TraceTruth) -> list[str]:
    got = {r["process"]: r["idle_time"] for r in rows}
    procs = {p for _, p in t.inc}
    bad = _keys("idle_time processes", got, procs)
    for p in procs & set(got):
        if got[p] != float(t.idle.get(p, 0)):
            bad.append(f"idle_time process {p}: {got[p]}, want {t.idle.get(p, 0)}")
    return bad


def check_caller_callee(rows: list[dict], t: TraceTruth) -> list[str]:
    got = {(r["caller"], r["callee"]): [r["n_calls"], r["total_ns"]] for r in rows}
    bad = _keys("caller_callee edges", got, t.edges)
    for edge, want in t.edges.items():
        if edge in got and got[edge] != want:
            bad.append(f"caller_callee {edge}: {got[edge]}, want {want}")
    return bad


def check_cct(rows: list[dict], t: TraceTruth) -> list[str]:
    """One node per distinct call path, at the path's depth."""
    got = Counter((r["depth"], r["name"]) for r in rows)
    want = Counter((len(p) - 1, p[-1]) for p in t.call_paths)
    if len(rows) != len(t.call_paths) or got != want:
        return [f"cct: {len(rows)} nodes, want {len(t.call_paths)}; (depth, name) differ"]
    return []


def check_comm_matrix(rows: list[dict], t: TraceTruth) -> list[str]:
    got = {(r["sender"], r["receiver"]): r["volume"] for r in rows}
    want = {ch: float(sum(b for _, b in msgs)) for ch, msgs in t.sends.items()}
    bad = _keys("comm_matrix channels", got, want)
    for ch in set(got) & set(want):
        if got[ch] != want[ch]:
            bad.append(f"comm_matrix {ch}: {got[ch]} bytes, want {want[ch]}")
    return bad


def expected_latency(t: TraceTruth) -> dict:
    """Per channel: the n-th send pairs with the n-th receive."""
    out = {}
    for ch, sends in t.sends.items():
        recvs = t.recvs.get(ch, [])
        pairs = list(zip(sends, recvs))
        out[ch] = {
            "n_sends": len(sends), "n_recvs": len(recvs), "n_matched": len(pairs),
            "total_latency_ns": sum(r - s for (s, _), r in pairs),
            "total_bytes": sum(b for (_, b), _ in pairs),
        }
    return out


def check_message_latency(rows: list[dict], t: TraceTruth) -> list[str]:
    want = expected_latency(t)
    got = {(r["src"], r["dst"]): r for r in rows}
    bad = _keys("message_latency channels", got, want)
    for ch in set(got) & set(want):
        if any(got[ch][k] != v for k, v in want[ch].items()):
            bad.append(f"message_latency {ch}: {got[ch]}, want {want[ch]}")
    return bad


# ---------------------------------------------------------------- dedup

class ShingleCache:
    """3-gram sets of the corpus documents, built on first use."""

    def __init__(self, corpus: CorpusTruth):
        self.text = {r[0]: r[1] for r in corpus.rows}
        self._sets: dict = {}

    def jaccard(self, a: int, b: int) -> float:
        for d in (a, b):
            if d not in self._sets:
                self._sets[d] = shingles(self.text[d])
        return jaccard(self._sets[a], self._sets[b])


def check_lsh_pairs(rows: list[dict], c: CorpusTruth) -> list[str]:
    """Identical documents have identical signatures, so every exact
    duplicate pair must be a candidate with estimate 1."""
    got = {(r["a"], r["b"]): r["est_jaccard"] for r in rows}
    bad = []
    if len(got) != len(rows) or any(a >= b for a, b in got):
        bad.append("minhash_lsh_pairs: pairs not unique with a < b")
    missing = [p for p in c.exact_pairs if got.get(p) != 1.0]
    if missing:
        bad.append(f"minhash_lsh_pairs: {len(missing)} exact pairs missing, e.g. {missing[:3]}")
    return bad


def check_jaccard_pairs(
    rows: list[dict], c: CorpusTruth, sh: ShingleCache, threshold: float = 0.5
) -> list[str]:
    """Every planted pair at or above the threshold is found, and every
    pair found is at or above it, with the reported value."""
    got = {(r["a"], r["b"]): r["jaccard"] for r in rows}
    bad = []
    missing = [
        p for p in c.exact_pairs | c.near_pairs
        if p not in got and sh.jaccard(*p) >= threshold
    ]
    if missing:
        bad.append(f"ngram_jaccard_pairs: {len(missing)} planted pairs missing, e.g. {missing[:3]}")
    wrong = [
        (p, j) for p, j in got.items()
        if sh.jaccard(*p) < threshold or abs(sh.jaccard(*p) - j) > 1e-6
    ]
    if wrong:
        bad.append(f"ngram_jaccard_pairs: {len(wrong)} pairs with a wrong Jaccard, e.g. {wrong[:3]}")
    return bad
