"""Round-10 additions.

1. The JVM window-function audit (the chunked kernel's only audit):
   pinned set-equal to an independent Python replay of the stack
   matching on randomized adversarial traces, and the chunked kernel
   stays bit-equal to the location kernel through it.
2. Bounded audit collect (r09 ADVICE item 3): the driver never holds
   more than the cap, and the loud error still fires.
3. The unmatched set rides a broadcast, not task closures (r09 ADVICE
   item 1).
4. The Trace-level public API batch (r09 verdict item 1):
   from_hpctoolkit(**kw), from_parquet(cache=/kernel=/...),
   Trace(kernel=) plumbing, and the HPCToolkit reader's context id
   renamed to ctx_id so it survives `matched` and derived checkpoints
   (r09 ADVICE item 2).
"""
from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from tests.test_round9 import _adversarial_events, _sorted, tiny_batch_spark  # noqa: F401


def _random_trace(seed: int, n_locations: int = 40) -> pd.DataFrame:
    """Randomized per-location event soup: interleaved names,
    leave-first prefixes, truncated enters, instants — every shape the
    audit decomposition must survive."""
    rng = np.random.default_rng(seed)
    rows = []
    eid = 0
    for loc in range(n_locations):
        p, t = divmod(loc, 4)
        ts = 0
        for _ in range(int(rng.integers(5, 60))):
            r = rng.random()
            name = f"f{int(rng.integers(0, 4))}"
            if r < 0.45:
                et = "Enter"
            elif r < 0.9:
                et = "Leave"
            else:
                et, name = "MpiSend", "snd"
            rows.append((eid, ts, eid, et, name, p, t, float(eid % 7)))
            eid += 1
            ts += int(rng.integers(1, 5))
    return pd.DataFrame(
        rows,
        columns=["event_id", "timestamp_ns", "seq", "event_type", "name",
                 "process", "thread", "metric1"],
    )


def _replay_unmatched_enters(pdf: pd.DataFrame) -> set[int]:
    """Reference oracle for the chunked kernel's audit: replay the
    nearest-same-name stack matching (pipit/trace.py:154-186) row by
    row over each (process, thread) location in (timestamp_ns, seq)
    order, and return the event_ids of the Enter rows that never
    close. Instants never take part in pass-1 matching."""
    from pipit_spark import schema as S

    el = pdf[pdf["event_type"].isin([*S.ENTER_TYPES, *S.LEAVE_TYPES])]
    el = el.sort_values(["process", "thread", "timestamp_ns", "seq"])
    unmatched: set[int] = set()
    for _, loc in el.groupby(["process", "thread"], dropna=False):
        stack: list[tuple[str, int]] = []
        for et, name, eid in zip(loc["event_type"], loc["name"],
                                 loc["event_id"]):
            if et in S.ENTER_TYPES:
                stack.append((name, int(eid)))
                continue
            for k in range(len(stack) - 1, -1, -1):
                if stack[k][0] == name:
                    del stack[k]
                    break
        unmatched.update(eid for _, eid in stack)
    return unmatched


def test_sql_audit_equals_kernel_audit(spark):
    """The window-function audit and the Python stack replay return
    the SAME unmatched-Enter id set, on the handcrafted adversarial
    trace and on randomized event soup (per-(location, name)
    clamped-counter dynamics vs the row-at-a-time replay)."""
    import pipit_spark.operators.matching as M

    frames = [_adversarial_events()] + [_random_trace(s) for s in range(6)]
    for pdf in frames:
        df = spark.createDataFrame(pdf)
        replay_ids = _replay_unmatched_enters(pdf)
        assert replay_ids  # every frame has truncated Enters to find
        sql_ids = set(
            r["event_id"]
            for r in M._audit_unmatched_enters_sql(
                df, ["process", "thread"]
            ).collect()
        )
        assert sql_ids == replay_ids


def test_chunked_sql_audit_bit_equality_random(tiny_batch_spark):  # noqa: F811
    """chunked (default sql audit) ≡ location on randomized traces, at
    64-row Arrow chunks."""
    from pipit_spark.operators.matching import match_events

    spark = tiny_batch_spark
    for seed in (11, 12):
        df = spark.createDataFrame(_random_trace(seed))
        a = _sorted(match_events(df, metric_cols=["metric1"],
                                 kernel="location").toPandas())
        b = _sorted(match_events(df, metric_cols=["metric1"],
                                 kernel="chunked").toPandas())
        pd.testing.assert_frame_equal(a, b[a.columns])


def test_audit_collect_is_bounded(spark, monkeypatch):
    """Past the cap the audit raises BEFORE the driver materializes the
    full id set: the count runs first, and with the cap forced to 3 a
    trace with 8 truncated Enters fails without any id collect."""
    import pipit_spark.operators.matching as M

    rows = [(i, i, i, "Enter", f"t{i}", 0, 0, 0.0) for i in range(8)]
    df = spark.createDataFrame(pd.DataFrame(
        rows,
        columns=["event_id", "timestamp_ns", "seq", "event_type", "name",
                 "process", "thread", "metric1"],
    ))
    monkeypatch.setattr(M, "_AUDIT_CAP", 3)
    with pytest.raises(ValueError, match="pathologically truncated"):
        M._resolve_unmatched(df, ["process", "thread"], None)


def test_unmatched_set_is_broadcast(tiny_batch_spark):  # noqa: F811
    """The emit plan's closure carries a Broadcast handle, not the id
    set itself: pickling the generator closure must stay small even
    when the audited set is large."""
    import pickle

    import pipit_spark.operators.matching as M

    spark = tiny_batch_spark
    pdf = _adversarial_events()
    enc, map_cols = M._encode_map_cols(spark.createDataFrame(pdf))
    schema = M._dedup_matched_schema(enc.schema, ["metric1"])
    # the trace's REAL unmatched ids plus a large set disjoint from the
    # frame — the plan must execute exactly as with the real set alone
    real = M._collect_bounded_ids(
        M._audit_unmatched_enters_sql(
            spark.createDataFrame(pdf), ["process", "thread"]
        ),
        "event_id",
    )
    big = real | frozenset(range(10_000_000, 10_200_000))
    bc = spark.sparkContext.broadcast(big)
    plan = M._chunked_emit_plan(enc, schema, ["process", "thread"],
                                ["metric1"], bc, 4)
    # the plan object must not drag the set around; the broadcast
    # handle pickles to a few hundred bytes where the set is megabytes
    assert len(pickle.dumps(bc)) < 10_000 < len(pickle.dumps(big))
    assert plan.count() > 0  # and the plan still executes through it


def test_trace_kernel_kwarg_and_from_parquet_kwargs(spark, tmp_path):
    """Trace(kernel='chunked') / from_parquet(cache=, kernel=) are the
    public route to the chunked kernel (no env var): same flat profile
    as the default path, and cache=False really skips persistence."""
    from pipit_spark.trace import Trace

    pdf = _adversarial_events()
    t0 = Trace(spark.createDataFrame(pdf))
    path = str(tmp_path / "ev.parquet")
    t0.to_parquet(path)

    t = Trace.from_parquet(spark, path, cache=False, kernel="chunked")
    assert t._cache is False and t._kernel == "chunked"
    a = t0.flat_profile(metrics="time_exc").toPandas()
    b = t.flat_profile(metrics="time_exc").toPandas()
    a = a.sort_values("name").reset_index(drop=True)
    b = b.sort_values("name").reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)
    # matched was computed through the chunked kernel and NOT persisted
    assert not t.matched.storageLevel.useMemory

    # slices inherit the matching configuration
    s = t.slice(processes=[0])
    assert s._kernel == "chunked" and s._cache is False


def test_from_hpctoolkit_kw_passthrough(spark):
    """**kw reaches read_hpctoolkit: a bad order= fails fast through
    the Trace API (validation happens before any file I/O, so no real
    db is needed)."""
    from pipit_spark.trace import Trace

    with pytest.raises(ValueError, match="order must be"):
        Trace.from_hpctoolkit(spark, "/nonexistent-r10-db", order="frame")


@pytest.mark.skipif(
    not __import__("os").path.isdir(
        "/root/reference/pipit/tests/data/ping-pong-hpctoolkit"
    ),
    reason="reference golden traces unavailable",
)
def test_hpctoolkit_ctx_id_survives_matched_and_checkpoint(spark, tmp_path):
    """The reader's meta.db context id (ctx_id) and the matching pass's
    CCT node_id now COEXIST on `matched` (the r09 collision fix kept
    only the derived one), and a derived-checkpoint round trip keeps
    ctx_id while re-splitting node_id off the events frame."""
    from pipit_spark.trace import Trace

    t = Trace.from_hpctoolkit(
        spark, "/root/reference/pipit/tests/data/ping-pong-hpctoolkit"
    )
    assert "ctx_id" in t.events.columns
    m = t.matched
    assert "ctx_id" in m.columns and "node_id" in m.columns
    enters = m.filter("event_type like '%Enter' and ctx_id is not null")
    assert enters.count() > 0
    # ctx_id is NOT an inc-metric column (identity, not a measurement)
    assert "ctx_id" not in t.numeric_cols
    assert "ctx_id_inc" not in m.columns

    path = str(tmp_path / "hpct_ckpt.parquet")
    t.to_parquet(path, include_derived=True)
    t2 = Trace.from_parquet(spark, path)
    assert "ctx_id" in t2.events.columns      # survives the re-split
    assert "node_id" not in t2.events.columns  # derived stays derived
    assert "ctx_id" in t2.matched.columns and "node_id" in t2.matched.columns


def test_cluster_conf_emit_sort_spill_bound():
    """The round-9 emit-sort heap floor (0.75 g × concurrent task at
    billion-row-location width OOMs stock heaps before spilling
    engages), encoded: each UnsafeExternalRowSorter is bounded to a
    quarter of per-core heap, floored at 64 MB, via the STATIC
    spark.shuffle.spill.maxSizeInBytesForSpillThreshold conf."""
    from pipit_spark.session import cluster_conf

    key = "spark.shuffle.spill.maxSizeInBytesForSpillThreshold"
    # 32 g / 8 cores -> 1 g per sorter
    assert cluster_conf(executor_cores=8, executor_mem_gb=32)[key] == str(
        1024 * 1024 * 1024
    )
    # stock-8g/32-core shape (the r09 OOM) -> the 64 MB floor binds
    assert cluster_conf(executor_cores=32, executor_mem_gb=8)[key] == str(
        64 * 1024 * 1024
    )


def test_sql_audit_plan_is_python_free(spark):
    """The audit's executed plan must contain window exchanges and
    sorts but ZERO Python evaluation nodes."""
    import pipit_spark.operators.matching as M

    df = spark.createDataFrame(_random_trace(3))
    plan = (
        M._audit_unmatched_enters_sql(df, ["process", "thread"])
        ._jdf.queryExecution().executedPlan().toString()
    )
    low = plan.lower()
    assert "window" in low, plan
    for marker in ("pythonudf", "mapinpandas", "arroweval", "batcheval",
                   "flatmapsinpandas", "pythonexec"):
        assert marker not in low, plan


def test_sql_audit_oversharding_adds_no_exchange(spark):
    """The 8× pre-repartition exists to bound rows-per-window-sort; it
    must not cost a second shuffle — the window execs REUSE the hash
    partitioning on their keys (one exchange total)."""
    import pipit_spark.operators.matching as M

    df = spark.createDataFrame(_random_trace(5))
    plan = (
        M._audit_unmatched_enters_sql(df, ["process", "thread"], 32)
        ._jdf.queryExecution().executedPlan().toString()
    )
    final = plan.split("== Initial Plan ==")[0].lower()
    assert final.count("exchange hashpartitioning") == 1, plan


def test_config_options_route_matching_defaults(spark, monkeypatch):
    """The config registry's engine options are CONSUMED, not
    decorative: matching.kernel sets the default that kernel=None
    resolves (an explicit arg still wins), and cache.matched_frame
    drives Trace(cache=None)."""
    import pipit_spark as pp
    import pipit_spark.operators.matching as M
    from pipit_spark.trace import Trace

    df = spark.createDataFrame(_random_trace(7))
    try:
        pp.set_option("matching.kernel", "chunked")

        def spy(*_a, **_k):
            raise RuntimeError("chunked-route")

        monkeypatch.setattr(M, "_chunked_match", spy)
        with pytest.raises(RuntimeError, match="chunked-route"):
            M.match_events(df)
        # explicit arg still wins over the option
        monkeypatch.undo()
        out = M.match_events(df, kernel="location")
        assert out.count() > 0

        pp.set_option("cache.matched_frame", False)
        t = Trace(df)
        assert t._cache is False
        pp.set_option("cache.matched_frame", True)
        assert Trace(df)._cache is True
        assert Trace(df, cache=False)._cache is False
        with pytest.raises(ValueError, match="must be one of"):
            pp.set_option("matching.kernel", "warp")
    finally:
        pp.reset_all_options()
