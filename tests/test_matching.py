"""The fused Enter/Leave matching pass (operators/matching.py).

* the two kernels agree bit for bit: ``chunked`` ≡ ``location`` on the
  golden traces, an adversarial unbalanced trace and randomized event
  soup, across forced 64-row Arrow-chunk boundaries;
* the chunked kernel's window-function audit equals a Python replay of
  the stack matching, stays Python-free and bounded, and its
  unmatched-Enter set rides a broadcast;
* the chunked pass sizes itself; the location kernel emits bounded
  slices;
* the vectorized core of ``_stack_match_multi`` equals its loop
  fallback on randomized frames.
"""
from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from pipit_spark import schema as S


# ------------------------------------------------------------ traces
def _adversarial_events() -> pd.DataFrame:
    """Multi-location trace exercising every matching edge the kernels
    must agree on: deep nesting, instants, metrics, a mid-stack Leave,
    an unmatched Leave, and truncated (never-closing) Enters."""
    rows = []
    eid = [0]

    def emit(p, t, ts, et, name, val):
        rows.append((eid[0], ts, eid[0], et, name, p, t, val))
        eid[0] += 1

    rng = np.random.default_rng(7)
    for p in range(3):
        for t in range(2):
            ts = 100_000 * (2 * p + t)
            for rep in range(12):
                for d in range(20):
                    emit(p, t, ts, "Enter", f"f{d % 5}", float(d))
                    ts += 3
                    if rng.random() < 0.15:
                        emit(p, t, ts, "MpiSend", "snd", 1.0)
                        ts += 1
                for d in range(19, -1, -1):
                    emit(p, t, ts, "Leave", f"f{d % 5}", float(d + rep))
                    ts += 2
            emit(p, t, ts, "Enter", "orphan_a", 1.0); ts += 1
            emit(p, t, ts, "Enter", "inner", 2.0); ts += 1
            emit(p, t, ts, "Leave", "orphan_a", 3.0); ts += 1  # mid-stack
            emit(p, t, ts, "Leave", "inner", 4.0); ts += 1
            emit(p, t, ts, "Leave", "ghost", 5.0); ts += 1     # unmatched
            emit(p, t, ts, "Enter", "truncated", 6.0); ts += 1  # never closes
            emit(p, t, ts, "Enter", "in_trunc", 7.0); ts += 1
            emit(p, t, ts, "Leave", "in_trunc", 8.0); ts += 1
    return pd.DataFrame(
        rows,
        columns=["event_id", "timestamp_ns", "seq", "event_type", "name",
                 "process", "thread", "metric1"],
    )


def _sorted(df: pd.DataFrame) -> pd.DataFrame:
    return df.sort_values("event_id").reset_index(drop=True)


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


# --------------------------------------------------- kernel equality
def test_chunked_kernel_bit_equality_adversarial(tiny_batch_spark):
    """chunked ≡ location on the adversarial trace — exact dtypes and
    values, including the anti-causal depths around truncated Enters
    the audit pass exists for (module docstring of operators/matching).
    """
    from pipit_spark.operators.matching import match_events

    spark = tiny_batch_spark
    df = spark.createDataFrame(_adversarial_events())
    a = _sorted(match_events(df, metric_cols=["metric1"],
                             kernel="location").toPandas())
    b = _sorted(match_events(df, metric_cols=["metric1"],
                             kernel="chunked").toPandas())
    pd.testing.assert_frame_equal(a, b[a.columns])
    # the truncated Enters really are NA-depth (the causality trap):
    # their nested child carries the depth the reference assigns when
    # the parent never closes
    trunc = b[b["name"] == "truncated"]
    assert trunc["depth"].isna().all()
    assert (b[b["name"] == "in_trunc"]["depth"].dropna() == 0).all()


def test_chunked_kernel_bit_equality_goldens(tiny_batch_spark,
                                             foo_bar_trace,
                                             ping_pong_trace):
    """chunked ≡ location on both golden traces (the reference's own
    fixture shapes), still at 64-row Arrow chunks."""
    from pipit_spark.operators.matching import match_events

    for t in (foo_bar_trace, ping_pong_trace):
        a = _sorted(match_events(t.events, kernel="location").toPandas())
        b = _sorted(match_events(t.events, kernel="chunked").toPandas())
        pd.testing.assert_frame_equal(a, b[a.columns])


def test_chunked_kernel_iter_no_shuffle(tiny_batch_spark):
    """match_events_iter(kernel='chunked') on pre-partitioned input:
    same rows, and the emit plan carries NO hash exchange — only the
    in-partition sort (the zero-shuffle lane for process-partitioned
    parquet)."""
    from pipit_spark.operators.matching import match_events, match_events_iter

    spark = tiny_batch_spark
    pdf = _adversarial_events()
    df = spark.createDataFrame(pdf).repartition(4, "process", "thread")
    a = _sorted(match_events(df, kernel="location").toPandas())
    out = match_events_iter(df, kernel="chunked")
    b = _sorted(out.toPandas())
    pd.testing.assert_frame_equal(a, b[a.columns])
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the one exchange present is the input repartition itself; the
    # emit pass adds only SortExec (count the FINAL plan — AQE's
    # toString echoes the initial plan below it)
    final = plan.split("== Initial Plan ==")[0]
    assert final.lower().count("exchange hashpartitioning") == 1, plan


def test_chunked_assume_wellformed(tiny_batch_spark):
    """assume_wellformed=True skips the audit: equal to the location
    kernel on a clean trace, and a LOUD error (never wrong depths) on a
    trace with unclosed Enters."""
    from pipit_spark.operators.matching import match_events

    spark = tiny_batch_spark
    pdf = _adversarial_events()
    clean = pdf[~pdf.name.isin(
        ["orphan_a", "inner", "ghost", "truncated", "in_trunc"]
    )]
    df = spark.createDataFrame(clean)
    a = _sorted(match_events(df, metric_cols=["metric1"],
                             kernel="location").toPandas())
    b = _sorted(match_events(df, metric_cols=["metric1"], kernel="chunked",
                             assume_wellformed=True).toPandas())
    pd.testing.assert_frame_equal(a, b[a.columns])

    bad = spark.createDataFrame(pdf)
    with pytest.raises(Exception, match="open Enter"):
        match_events(bad, kernel="chunked", assume_wellformed=True).count()


def test_match_kernel_validation_and_env(tiny_batch_spark):
    """Unknown kernel raises; Trace(kernel="chunked") selects the
    chunked kernel at the Trace level and matches the default
    location kernel bit for bit."""
    from pipit_spark import Trace
    from pipit_spark.operators.matching import match_events

    spark = tiny_batch_spark
    pdf = _adversarial_events()
    df = spark.createDataFrame(pdf)
    with pytest.raises(ValueError, match="kernel"):
        match_events(df, kernel="whole")

    a = Trace(df, cache=False).matched.toPandas()
    chunked = Trace(df, cache=False, kernel="chunked").matched
    # only the chunked kernel attaches its unmatched-set broadcast
    assert hasattr(chunked, "_unmatched_bc")
    b = chunked.toPandas()
    pd.testing.assert_frame_equal(_sorted(a), _sorted(b)[a.columns])


@pytest.mark.skipif(
    not __import__("os").path.isdir(
        "/root/reference/pipit/tests/data/ping-pong-projections"
    ),
    reason="reference golden traces unavailable",
)
def test_chunked_kernel_on_reference_golden_traces(tiny_batch_spark):
    """chunked ≡ location end-to-end on the reference's OWN binary
    golden traces — every reader lane (Projections text, OTF2 binary
    incl. the PAPI-metric archive, HPCToolkit db), still forcing
    64-row Arrow chunks so the carried state crosses real batch
    boundaries."""
    from pipit_spark import Trace
    from pipit_spark.operators.matching import match_events

    spark = tiny_batch_spark
    ref = "/root/reference/pipit/tests/data"
    sources = [
        Trace.from_projections(spark, f"{ref}/ping-pong-projections"),
        Trace.from_otf2(spark, f"{ref}/ping-pong-otf2"),
        Trace.from_otf2(spark, f"{ref}/ping-pong-otf2-papi"),
        Trace.from_hpctoolkit(spark, f"{ref}/ping-pong-hpctoolkit"),
    ]
    for t in sources:
        metric_cols = t.numeric_cols
        a = _sorted(match_events(t.events, metric_cols=metric_cols,
                                 kernel="location").toPandas())
        b = _sorted(match_events(t.events, metric_cols=metric_cols,
                                 kernel="chunked").toPandas())
        pd.testing.assert_frame_equal(a, b[a.columns])


# ----------------------------------------------------- chunked audit
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


def test_chunked_sql_audit_bit_equality_random(tiny_batch_spark):
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


def test_unmatched_set_is_broadcast(tiny_batch_spark):
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


# --------------------------------------------------- sizing and emit
def test_chunked_match_self_sizes_partitions(tiny_batch_spark, monkeypatch):
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


def test_trace_unpersist_destroys_unmatched_broadcast(
    tiny_batch_spark, monkeypatch
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


# --------------------------------------------------- vectorized core
def _gen_segment(rng, loc, n_ev, style, name_pool):
    rows, stack, t = [], [], 0
    for _ in range(n_ev):
        t += rng.randint(1, 5)
        r = rng.rand()
        if style == "instants" and r < 0.3:
            rows.append((loc, t, "Instant", rng.choice(["MpiSend", "marker"])))
            continue
        if stack and (r < 0.45 or (style != "unbalanced" and len(stack) > 6)):
            nm = stack.pop()
            if style == "mismatch" and rng.rand() < 0.2:
                nm = rng.choice(name_pool)
            rows.append((loc, t, "Leave", nm))
        else:
            nm = rng.choice(name_pool)
            stack.append(nm)
            rows.append((loc, t, "Enter", nm))
    if style != "unbalanced":
        while stack:
            t += 1
            rows.append((loc, t, "Leave", stack.pop()))
    return rows


def _loop_reference(pdf, group_cols):
    """The pre-r13 algorithm: reference loops over every row."""
    from pipit_spark.operators.matching import _match_loops

    pdf = pdf.sort_values(
        [*group_cols, S.TIMESTAMP, S.SEQ], kind="mergesort"
    ).reset_index(drop=True)
    n = len(pdf)
    evt = pdf[S.EVENT_TYPE].to_numpy()
    names = pdf[S.NAME].to_numpy()
    new_group = np.zeros(n, dtype=bool)
    if n:
        new_group[0] = True
        for c in group_cols:
            codes, _ = pd.factorize(pdf[c], use_na_sentinel=True)
            new_group[1:] |= codes[1:] != codes[:-1]
    is_enter = np.isin(evt, S.ENTER_TYPES)
    is_leave = np.isin(evt, S.LEAVE_TYPES)
    match_pos = np.full(n, -1, dtype=np.int64)
    depth = np.full(n, -1, dtype=np.int64)
    parent_pos = np.full(n, -1, dtype=np.int64)
    node_of = np.zeros(n, dtype=np.int64)
    has_node = np.zeros(n, dtype=bool)
    _match_loops(
        np.arange(n), new_group, is_enter, is_leave, names,
        match_pos, depth, parent_pos, node_of, has_node,
    )
    return pdf, match_pos, depth, parent_pos, node_of, has_node


def _assert_kernel_equals_reference(pdf):
    from pipit_spark.operators.matching import _stack_match_multi

    out = _stack_match_multi(pdf.copy(), [S.PROCESS], [])
    ref_pdf, mp, dp, pp, no, hn = _loop_reference(pdf.copy(), [S.PROCESS])
    ids = ref_pdf[S.EVENT_ID].to_numpy()

    def nan_eq(col, ref):
        got = out[col].to_numpy(dtype="float64", na_value=np.nan)
        assert np.array_equal(got, ref, equal_nan=True), col

    safe = lambda a: np.where(a >= 0, a, 0)  # noqa: E731
    nan_eq(S.MATCHING_EVENT, np.where(mp >= 0, ids[safe(mp)], np.nan))
    nan_eq(S.DEPTH, np.where(dp >= 0, dp.astype("float64"), np.nan))
    nan_eq(S.PARENT, np.where(pp >= 0, ids[safe(pp)].astype("float64"), np.nan))
    nan_eq(S.NODE_ID, np.where(hn, no.astype("float64"), np.nan))
    nan_eq(S.PARENT_NODE, np.where(pp >= 0, no[safe(pp)].astype("float64"), np.nan))


def _make_pdf(rng, segments):
    rows = []
    for loc, n_ev, style in segments:
        rows += _gen_segment(rng, loc, n_ev, style, ["a", "b", "c", "d"])
    df = pd.DataFrame(
        rows, columns=[S.PROCESS, S.TIMESTAMP, S.EVENT_TYPE, S.NAME]
    )
    df[S.SEQ] = np.arange(len(df))
    df[S.EVENT_ID] = np.arange(len(df)) + 1000
    return df


def test_stack_match_vectorized_bit_equality_fuzz():
    """60 randomized multi-location frames mixing well-nested,
    unbalanced, name-mismatched and instant-bearing segments: the
    vectorized kernel (with its per-segment loop fallback) must be
    bit-equal to the loop-only reference on every derived column."""
    rng = np.random.RandomState(7)
    for _ in range(60):
        segs = [
            (s, rng.randint(1, 80),
             rng.choice(["nested", "nested", "instants",
                         "unbalanced", "mismatch"]))
            for s in range(rng.randint(1, 6))
        ]
        _assert_kernel_equals_reference(_make_pdf(rng, segs))


def test_stack_match_vectorized_takes_fast_path():
    """A well-nested frame must produce correct results WITHOUT the
    fallback (guard: monkeypatch _match_loops to fail loudly)."""
    from pipit_spark.operators import matching as M

    rng = np.random.RandomState(11)
    pdf = _make_pdf(rng, [(0, 60, "nested"), (1, 40, "instants")])
    orig = M._match_loops
    try:
        def boom(*a, **k):  # pragma: no cover - failure path
            raise AssertionError("fallback must not run for nested traces")
        M._match_loops = boom
        out = M._stack_match_multi(pdf.copy(), [S.PROCESS], [])
    finally:
        M._match_loops = orig
    # spot contract: every Enter/Leave matched, enters carry node ids
    el = out[S.EVENT_TYPE].isin(["Enter", "Leave"])
    assert out.loc[el, S.MATCHING_EVENT].notna().all()
    assert out.loc[out[S.EVENT_TYPE] == "Enter", S.NODE_ID].notna().all()


def test_stack_match_deep_recursion_reroutes_to_loops():
    """Depth past _VEC_MAX_DEPTH falls back wholesale (the per-level
    numpy passes would degenerate) and stays bit-equal."""
    from pipit_spark.operators import matching as M

    d = M._VEC_MAX_DEPTH + 5
    rows = [(0, t + 1, "Enter", "f") for t in range(d)]
    rows += [(0, d + t + 1, "Leave", "f") for t in range(d)]
    pdf = pd.DataFrame(
        rows, columns=[S.PROCESS, S.TIMESTAMP, S.EVENT_TYPE, S.NAME]
    )
    pdf[S.SEQ] = np.arange(len(pdf))
    pdf[S.EVENT_ID] = np.arange(len(pdf)) + 1
    _assert_kernel_equals_reference(pdf)
