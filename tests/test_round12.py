"""Round-12 additions.

1. Location-kernel emit slicing: the kernel now yields its output in
   bounded row slices (``matching.max_records_per_batch`` rows per
   Arrow batch) instead of one partition-sized batch — deleting the
   round-11 2 GiB pyarrow column wall that made the location kernel
   unable to EMIT any location past ~45-60 M events. Pinned: the
   slicer's unit contract, and sliced-vs-chunked bit-equality on the
   adversarial trace with a slice width small enough that every
   location crosses it many times.
2. The r11 ADVICE batch: the chunked kernel's self-sizing accepts a
   lazy ``row_count`` hint (Trace memoizes its events count and plumbs
   it through, so un-sized chunked passes on DERIVED plans never
   re-execute the upstream plan per call), and simhash_pairs' per-block
   persist has a per-call release lifecycle (``persist=`` kwarg,
   ``_blocks_cache`` handle, ``release_block_caches``).
3. bench.py's cooling-box tripwire: the r10/r11 driver benches showed
   monotonically-declining pass totals with ``contaminated: false`` —
   the new check flags that shape.
"""
from __future__ import annotations

import numpy as np
import pandas as pd

from tests.test_round9 import _adversarial_events, _sorted, tiny_batch_spark  # noqa: F401


# ------------------------------------------------------ emit slicing
def test_emit_slices_unit():
    """Slicer contract: bounded widths, order preserved, lossless."""
    from pipit_spark.operators.matching import _emit_slices

    pdf = pd.DataFrame({"a": np.arange(1000), "b": np.arange(1000) * 2})
    out = list(_emit_slices(pdf, 64))
    assert len(out) == -(-1000 // 64)
    assert all(len(s) <= 64 for s in out)
    pd.testing.assert_frame_equal(
        pd.concat(out).reset_index(drop=True), pdf
    )
    # small frame: passed through whole, no copy-splitting
    small = list(_emit_slices(pdf, 100_000))
    assert len(small) == 1 and small[0] is pdf


def test_location_kernel_sliced_emit_bit_equality(spark):
    """With a slice width every location crosses many times, the
    location kernel's output is still bit-equal to the chunked
    kernel's — the multi-batch emit reassembles losslessly (this is
    the small-scale pin of the r12 rung that re-ran the r11 hot-
    location wall fixture to completion)."""
    from pipit_spark.config import reset_option, set_option
    from pipit_spark.operators.matching import match_events

    df = spark.createDataFrame(_adversarial_events())
    set_option("matching.max_records_per_batch", 64)
    try:
        a = _sorted(match_events(df, metric_cols=["metric1"],
                                 kernel="location").toPandas())
    finally:
        reset_option("matching.max_records_per_batch")
    b = _sorted(match_events(df, metric_cols=["metric1"],
                             kernel="chunked").toPandas())
    pd.testing.assert_frame_equal(a, b[a.columns])


# ------------------------------------------------- row_count hint
def test_chunked_self_sizing_uses_row_count_hint(spark):
    """A callable row_count hint replaces the self-sizing count job:
    a fake 500 M-row count must size the emit shards by the formula
    (not by the actual ~3 k rows), proving events.count() was never
    consulted."""
    from pipit_spark.operators.matching import match_events

    df = spark.createDataFrame(_adversarial_events())
    calls = []

    def fake_count():
        calls.append(1)
        return 500_000_000

    out = match_events(df, metric_cols=["metric1"], kernel="chunked",
                       row_count=fake_count)
    base = spark.sparkContext.defaultParallelism
    heap_shards = 2 * -(-500_000_000 // 10_000_000)
    expect = max(base, min(-(-500_000_000 // 500_000),
                           max(heap_shards, 8 * base)))
    assert calls == [1]
    assert out.rdd.getNumPartitions() == expect
    # and the result is still exact
    ref = _sorted(match_events(df, metric_cols=["metric1"],
                               kernel="location").toPandas())
    got = _sorted(out.toPandas())
    pd.testing.assert_frame_equal(got[ref.columns], ref)


def test_trace_memoizes_events_count(spark):
    """Trace.num_events runs ONE count then serves the memo; matched
    plumbs the bound method (lazy — never evaluated on the location
    kernel path) into match_events."""
    from pipit_spark import trace as trace_mod
    from pipit_spark.trace import Trace

    df = spark.createDataFrame(_adversarial_events())
    t = Trace(df)
    n = t.num_events()
    assert n == df.count()
    t._events_rows = -1  # poison the memo: a re-count would overwrite
    assert t.num_events() == -1

    seen = {}
    real = trace_mod.match_events

    def recorder(events, **kw):
        seen.update(kw)
        return real(events, **kw)

    t2 = Trace(df, cache=False)
    orig = trace_mod.match_events
    trace_mod.match_events = recorder
    try:
        t2.matched
    finally:
        trace_mod.match_events = orig
    assert seen["row_count"] == t2.num_events  # the bound memo method
    # location kernel (default) never evaluates the hint
    assert t2._events_rows is None


# ------------------------------------------- simhash persist lifecycle
def _tiny_docs(spark):
    rows = [(i, f"alpha beta gamma delta w{i % 3} epsilon zeta") for i in range(12)]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_simhash_pairs_persist_lifecycle(spark):
    """Default path registers ONE release handle per call; persist=False
    keeps zero cached state; release_block_caches drops everything
    (r11 ADVICE: the per-call frames previously accumulated until a
    session-wide clearCache)."""
    from pipit_spark.llm import dedup as D

    D.release_block_caches()
    docs = _tiny_docs(spark)
    out = D.simhash_pairs(docs, max_hamming=3)
    assert len(D._PERSISTED_BLOCKS) == 1
    assert out._blocks_cache is D._PERSISTED_BLOCKS[0]
    a = out.toPandas().sort_values(["a", "b"]).reset_index(drop=True)
    assert out._blocks_cache.storageLevel.useMemory

    b = (
        D.simhash_pairs(docs, max_hamming=3, persist=False)
        .toPandas().sort_values(["a", "b"]).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(a, b)
    assert len(D._PERSISTED_BLOCKS) == 1  # persist=False registered nothing

    handle = D._PERSISTED_BLOCKS[0]
    D.release_block_caches()
    assert D._PERSISTED_BLOCKS == []
    assert not handle.storageLevel.useMemory


# ------------------------------------------------ bench cooling check
def test_cooling_box_tripwire():
    import bench

    # the r11 driver shape: monotone decline, last 27% under first
    assert bench.cooling_box([58.4, 47.8, 43.2])
    # flat steady reps (the quiet-box shape): not cooling
    assert not bench.cooling_box([33.4, 33.2, 33.3])
    # monotone but within 5%: tiered-JIT warm-up, not cooling
    assert not bench.cooling_box([33.9, 33.5, 33.2])
    # two points cannot distinguish cooldown from warm-up
    assert not bench.cooling_box([50.0, 40.0])


# ------------------------------- full-corpus decontaminate (opt r12)
def test_training_set_full_corpus_decontaminate_equality(spark):
    """The r12 prologue decontaminates the FULL corpus instead of the
    cleaned survivors; contaminated non-survivors must be absorbed by
    the anti-join so both training-set pipelines return exactly the
    rows of the old survivors-restricted composition."""
    from pyspark.sql import functions as F
    from pipit_spark.llm.pipeline import (
        clean_corpus,
        prepare_chunked_training_set,
        prepare_training_set,
    )
    from pipit_spark.llm.dedup import decontaminate
    from pipit_spark.llm.sampling import pack_sequences

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    corpus = docs.filter(F.col("doc_id") >= 25)
    eval_docs = docs.filter(F.col("doc_id") < 25)

    new = sorted(
        tuple(r) for r in prepare_training_set(corpus, eval_docs).collect()
    )
    # the pre-r12 composition, inlined
    clean = clean_corpus(corpus)
    survivors_text = corpus.join(
        clean.select("doc_id"), "doc_id", "left_semi"
    )
    contaminated = decontaminate(survivors_text, eval_docs, n=5).select(
        "doc_id"
    )
    final = clean.join(contaminated, "doc_id", "left_anti")
    old = sorted(
        tuple(r)
        for r in pack_sequences(
            final, context_len=512, n_shards=16, tokens_col="n_tokens"
        ).collect()
    )
    assert new == old and len(new) > 0
    # the contaminated sets genuinely differ (full corpus is a superset
    # whenever a non-survivor is contaminated) — the equality above is
    # the anti-join absorbing it, not a vacuous check
    full_cont = decontaminate(corpus, eval_docs, n=5).select("doc_id")
    assert full_cont.count() >= contaminated.count()

    chunked = prepare_chunked_training_set(corpus, eval_docs)
    assert chunked.count() > 0


# ---------------------------------------- tfidf/bm25 df-branch reuse
def _final_plan(df) -> str:
    """The AQE final-plan section of the executed plan (everything
    before the ``== Initial Plan ==`` echo)."""
    return (
        df._jdf.queryExecution()
        .executedPlan()
        .toString()
        .split("Initial Plan")[0]
    )


def test_tfidf_df_branch_reuses_token_explode(spark):
    """r12: the df branch counts with ``count_if(tf >= 1)`` so column
    pruning cannot rewrite its upstream tf aggregate to a bare
    distinct; the two tf exchange subtrees then canonicalize equal and
    AQE's runtime stage cache dedups them — the corpus is tokenized
    and exploded ONCE. Pin: final executed plan has exactly one live
    Generate explode and a ReusedExchange over it. Also pins value
    equality of the rewritten df: count_if(tf >= 1) == count(*) per
    token (tf is a count, always >= 1).

    The stage-reuse behavior is an optimizer contract verified on
    Spark 4.1.2 — this pin exists so a Spark upgrade that voids the
    canonicalization (silent perf regression, results unchanged) is
    caught here rather than at the bench."""
    from pyspark.sql import functions as F

    from pipit_spark.llm.text import bm25_topk, tfidf_topk, _tokens

    docs = spark.createDataFrame(
        [
            (i, "alpha beta gamma delta " * (i % 3 + 1) + f"tok{i}")
            for i in range(60)
        ],
        "doc_id long, text string",
    )
    res = tfidf_topk(docs, k=3, persist=False)
    rows = res.collect()
    assert rows
    plan = _final_plan(res)
    assert plan.count("Generate explode") == 1, plan
    assert "ReusedExchange" in plan, plan

    # value pin: the rewritten df equals the naive distinct-doc count
    tok = docs.select(
        "doc_id", F.explode(_tokens(F.col("text"))).alias("token")
    ).filter(F.length("token") > 0)
    naive = {
        r["token"]: r["df"]
        for r in tok.groupBy("token")
        .agg(F.countDistinct("doc_id").alias("df"))
        .collect()
    }
    got = {(r["token"]): r["df"] for r in rows}
    for token, dfv in got.items():
        assert naive[token] == dfv

    # bm25 shares the idiom (and the pin)
    bres = bm25_topk(docs, {"q1": "alpha tok7", "q2": "delta"}, k=3)
    assert bres.collect()
    bplan = _final_plan(bres)
    assert bplan.count("Generate explode") == 1, bplan
    assert "ReusedExchange" in bplan, bplan


# ------------------------------------- pair-index self-join (no buffers)
def test_pair_common_counts_selfjoin_no_posting_buffers(spark):
    """r12: _pair_common_counts emits intra-bucket pairs via a
    streaming self-join on the bucket key (the r11 simhash reform's
    shape) — no collect_list posting buffer, no ObjectHashAggregate
    for pair generation (collect_set for the per-doc shingle sets is
    the one allowed object agg and lives BELOW the persisted frame).
    Value pin: pairs match a brute-force set intersection."""
    from itertools import combinations

    from pipit_spark.llm.dedup import ngram_jaccard_pairs

    rows = [
        (i, "the quick brown fox jumps over the lazy dog " + ("x " * (i % 3)))
        for i in range(12)
    ] + [(100, "an entirely different document body with nothing shared here")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = ngram_jaccard_pairs(docs, n=3, threshold=0.2, max_df=1000)
    got = {(r["a"], r["b"]): r["jaccard"] for r in out.collect()}

    plan = out._jdf.queryExecution().executedPlan().toString()
    tail = plan.split("InMemoryRelation")[0]  # above the persisted sets
    assert "collect_list" not in plan
    assert "ObjectHashAggregate" not in tail

    # brute force on the same shingling
    def shingles(text):
        toks = text.split()
        n = 3
        k = max(len(toks) - n + 1, 1)
        return {" ".join(toks[p : p + n]) for p in range(k)}

    sets = {i: shingles(t) for i, t in rows}
    df_counts: dict[str, int] = {}
    for ss in sets.values():
        for sh in ss:
            df_counts[sh] = df_counts.get(sh, 0) + 1
    surviving = {s for s, c in df_counts.items() if 2 <= c <= 1000}
    expect = {}
    for a, b in combinations(sorted(sets), 2):
        common = len(sets[a] & sets[b] & surviving)
        if common:
            j = common / (len(sets[a]) + len(sets[b]) - common)
            if j >= 0.2:
                expect[(a, b)] = round(j, 6)
    assert got == expect
    spark.catalog.clearCache()


# -------------------------------------------- Trace.time_stats memo
def test_time_stats_memo_shared_across_binning_operators(spark):
    """r12: (ts_min, ts_max, nproc) is computed once per Trace and
    shared by time_profile / comm_over_time / comm_matrix_over_time —
    repeated binning calls launch no further scalar jobs."""
    from pipit_spark.trace import Trace

    t = Trace.from_csv(spark, "tests/data/foo-bar.csv")
    lo, hi, nproc = t.time_stats()
    ev = t.events.agg(
        {"timestamp_ns": "min"}
    ).collect()[0][0]
    assert lo == float(ev)
    assert nproc == t.events.select("process").distinct().count()
    # memoized: the tuple is stable and identical object-wise
    assert t.time_stats() is t.time_stats()
    # the binning operators run off the memo (values correct end-to-end)
    tp = t.time_profile(num_bins=4)
    rows = tp.select("bin_start").distinct().collect()
    starts = sorted(r[0] for r in rows)
    assert starts[0] == lo
    cot = t.comm_over_time(output="count", bins=4).collect()
    assert {r["bin_idx"] for r in cot} <= {0, 1, 2, 3}


# ------------------------------------ minhash pair-dedup shuffle slim
def test_minhash_lsh_pairs_dedup_shuffles_estimate_not_sigs(spark):
    """r12: the similarity estimate is computed on the bucket-join
    rows, so the pair-dedup groupBy shuffles one double per candidate
    row instead of two signature arrays. Plan pin: no first(sig_*)
    aggregate anywhere. Value pin: estimates equal the brute
    signature-agreement fraction."""
    from pipit_spark.llm.dedup import minhash_lsh_pairs, minhash_signatures

    docs = spark.createDataFrame(
        [(i, "shared boilerplate text body " * 3 + f"unique {i % 4}")
         for i in range(16)],
        "doc_id long, text string",
    )
    out = minhash_lsh_pairs(docs, num_hashes=16, bands=8, portable=True)
    rows = out.collect()
    assert rows
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "first(sig_a" not in plan and "first(sig_b" not in plan, plan

    sigs = {
        r["doc_id"]: [r[f"mh_{i}"] for i in range(16)]
        for r in minhash_signatures(docs, num_hashes=16).collect()
    }
    for r in rows:
        agree = sum(
            p == q for p, q in zip(sigs[r["a"]], sigs[r["b"]])
        )
        assert r["est_jaccard"] == round(agree / 16, 6), r


def test_winnow_pairs_selfjoin_no_posting_buffers(spark):
    """r12: winnow_pairs uses the same streaming self-join reform as
    _pair_common_counts — no collect_list posting buffer in the pair
    path (the fingerprint persist below is the one allowed cache)."""
    from pipit_spark.llm.text import winnow_pairs

    docs = spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog again and again "
          + ("pad " * (i % 3))) for i in range(10)],
        "doc_id long, text string",
    )
    out = winnow_pairs(docs, min_shared=1)
    rows = out.collect()
    assert rows  # near-identical docs must pair
    plan = out._jdf.queryExecution().executedPlan().toString()
    tail = plan.split("InMemoryRelation")[0]
    assert "collect_list" not in tail, tail
    assert "ObjectHashAggregate" not in tail, tail
    for r in rows:
        assert r["a"] < r["b"] and r["shared"] >= 1
    spark.catalog.clearCache()
