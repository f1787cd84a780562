"""Round-11 additions.

1. The simhash_pairs plan reform (retired the gate's 14 s budget
   exception): count-first bucket filter + streaming self-join instead
   of collect_list buffers, packed-word hamming verified BEFORE the
   cross-block pair dedup — pinned value-equal to an independent
   brute-force on randomized corpora, and the plan is pinned
   buffer-free (no collect_list / ObjectHashAggregate).
2. Trace.unpersist releases the chunked kernel's unmatched-set
   broadcast together with the matched frame.
"""
from __future__ import annotations

import numpy as np

from tests.test_round9 import _adversarial_events, tiny_batch_spark  # noqa: F401


# --------------------------------------------------------------- simhash
def _brute_force_pairs(sig_rows, max_hamming):
    """Independent replay: exact hamming over ALL doc pairs from the
    signature table (pigeonhole recall is exact for d <= max_hamming,
    so the banded plan must emit exactly this set)."""
    sigs = {r["doc_id"]: int(r["simhash"], 16) for r in sig_rows}
    ids = sorted(sigs)
    out = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            d = bin(sigs[a] ^ sigs[b]).count("1")
            if d <= max_hamming:
                out[(a, b)] = d
    return out


def test_simhash_pairs_equals_bruteforce_randomized(spark):
    """The reformed (self-join) plan emits exactly the brute-force pair
    set with exact distances, across randomized near-dup-rich corpora."""
    from pipit_spark.llm.dedup import simhash, simhash_pairs

    rng = np.random.default_rng(11)
    vocab = [f"w{i}" for i in range(60)]
    rows = []
    doc_id = 0
    for cluster in range(12):
        base = list(rng.choice(vocab, size=14))
        for variant in range(int(rng.integers(1, 5))):
            toks = list(base)
            for _ in range(variant):  # light perturbation → near dups
                toks[int(rng.integers(len(toks)))] = str(
                    rng.choice(vocab)
                )
            rows.append((doc_id, " ".join(toks)))
            doc_id += 1
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    for max_h in (1, 3):  # 2 / 4 blocks (blocks must divide 16 nibbles)
        expect = _brute_force_pairs(
            simhash(docs).collect(), max_hamming=max_h
        )
        got = {
            (r["a"], r["b"]): r["hamming"]
            for r in simhash_pairs(docs, max_hamming=max_h).collect()
        }
        assert got == expect


def test_simhash_pairs_plan_is_buffer_free(spark):
    """Plan contract for the r11 reform: no collect_list posting-list
    buffer anywhere (the old plan's ObjectHashAggregate), and the
    per-block frame is persisted (one signature computation feeds the
    count and both self-join sides)."""
    from pipit_spark.llm.dedup import simhash_pairs

    docs = spark.createDataFrame(
        [(i, f"text body number {i % 3} with shared tokens") for i in range(30)],
        "doc_id long, text string",
    )
    out = simhash_pairs(docs, max_hamming=3)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "collect_list" not in plan
    assert "ObjectHashAggregate" not in plan
    assert "InMemoryTableScan" in plan  # the persisted per-block frame
    spark.catalog.clearCache()


def test_simhash_pairs_count_first_cap_still_exact(spark):
    """max_bucket drops degenerate buckets at the count stage on the
    unified path; default keeps exact semantics (both re-pinned on the
    reformed plan)."""
    from pipit_spark.llm.dedup import simhash_pairs

    rows = [(i, "identical boilerplate text repeated") for i in range(15)]
    rows.append((100, "a genuinely different document about other things"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    assert simhash_pairs(docs).count() == 15 * 14 // 2
    assert simhash_pairs(docs, max_bucket=5).count() == 0
    spark.catalog.clearCache()


def test_trace_unpersist_destroys_unmatched_broadcast(
    tiny_batch_spark, monkeypatch,  # noqa: F811
):
    """Trace.unpersist releases the chunked kernel's broadcast handle
    together with the matched frame (r10 ADVICE: the session otherwise
    pins up to ~100 MB per build for its lifetime)."""
    from pyspark.broadcast import Broadcast

    from pipit_spark.trace import Trace

    spark = tiny_batch_spark
    df = spark.createDataFrame(_adversarial_events())
    t = Trace(df, kernel="chunked", cache=True)
    m = t.matched
    bc = m._unmatched_bc
    assert m.count() > 0

    destroyed = []
    orig_destroy = Broadcast.destroy

    def _spy_destroy(self, *a, **k):
        destroyed.append(self)
        return orig_destroy(self, *a, **k)

    monkeypatch.setattr(Broadcast, "destroy", _spy_destroy)
    t.unpersist()
    assert bc in destroyed


def test_arrow_batch_option_is_consumed(spark):
    """matching.max_records_per_batch is CONSUMED by get_spark (the
    r10 rule: no decorative config options): the option lands in the
    session's Arrow batch conf."""
    import pipit_spark as pp
    from pipit_spark.session import get_spark

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    orig = spark.conf.get(key)
    try:
        pp.set_option("matching.max_records_per_batch", 16384)
        s = get_spark()  # getOrCreate applies confs to the live session
        assert s.conf.get(key) == "16384"
    finally:
        pp.reset_all_options()
        spark.conf.set(key, orig)


def test_chunked_match_self_sizes_partitions(tiny_batch_spark,  # noqa: F811
                                             monkeypatch):
    """The chunked pass shards itself at ~_CHUNKED_ROWS_PER_TASK rows
    per task when the caller does not size it (the r11 heap-floor
    rule); explicit num_partitions still wins; assume_wellformed stays
    fully lazy (no count job) and keeps the bare default."""
    import pipit_spark.operators.matching as M

    spark = tiny_batch_spark
    df = spark.createDataFrame(_adversarial_events())
    rows = df.count()
    monkeypatch.setattr(M, "_CHUNKED_ROWS_PER_TASK", 40)
    monkeypatch.setattr(M, "_CHUNKED_TARGET_ROWS", 10)
    par = spark.sparkContext.defaultParallelism
    # full formula: throughput shards (rows/10) capped at
    # max(heap shards = 2*ceil(rows/40), 8x parallelism), floored at
    # parallelism
    expected = max(par, min(-(-rows // 10),
                            max(2 * -(-rows // 40), 8 * par)))
    out = M.match_events(df, metric_cols=["metric1"], kernel="chunked")
    assert out.rdd.getNumPartitions() == expected
    # explicit sizing wins over self-sizing
    out = M.match_events(df, metric_cols=["metric1"], kernel="chunked",
                         num_partitions=7)
    assert out.rdd.getNumPartitions() == 7
    # assume_wellformed: no eager job at all — boobytrapped actions
    # prove the plan builds without one, at the bare default
    DataFrame = type(df)

    def _boom(self, *a, **k):
        raise AssertionError("an action ran on the lazy path")

    monkeypatch.setattr(DataFrame, "count", _boom)
    monkeypatch.setattr(DataFrame, "first", _boom)
    out = M.match_events(df, metric_cols=["metric1"], kernel="chunked",
                         assume_wellformed=True)
    assert out.rdd.getNumPartitions() == \
        spark.sparkContext.defaultParallelism
