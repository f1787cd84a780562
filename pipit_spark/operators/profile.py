"""Profiling / aggregation operators (reference pipit/trace.py:514-804).

Each is a pure relational program over the matched frame; the reference's
per-process Python loops (e.g. idle_time's loop over processes,
pipit/trace.py:604-610, or load_imbalance's loop over functions,
pipit/trace.py:584-593) collapse into single groupBy/window plans.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame, Window, functions as F, types as T

from .. import schema as S


def _resolve_metrics(trace, metrics) -> tuple[DataFrame, list[str]]:
    """Return (frame, metric column names); computes exclusive metrics
    only when requested (reference pipit/trace.py:530-535)."""
    if isinstance(metrics, str):
        metrics = [metrics]
    if any(m.endswith("_exc") for m in metrics):
        df = trace.calc_exc_metrics()
    else:
        df = trace.matched
    missing = [m for m in metrics if m not in df.columns]
    if missing:
        raise ValueError(f"unknown metric columns: {missing}")
    return df, metrics


def name_process_rollup(matched: DataFrame) -> DataFrame:
    """The profile family's one shared group-by: a row per (name,
    process) over every matched row, with

    * ``n_calls`` — the group's Enter-family rows;
    * ``ts_min`` / ``ts_max`` — the timestamp bounds over all its rows;
    * ``<m>_inc`` — Σ inclusive ``<m>`` over its own Enter rows;
    * ``<m>_exc`` — Σ exclusive ``<m>``: own inclusive minus the
      inclusive of every Enter row whose ``parent_name`` is this name.

    The exclusive sum is the signed-contribution identity time_profile
    uses: each Enter row contributes (+inc) under its own name and
    (−inc, and 0.0 to the inclusive sums) under its caller's, so one
    explode + one hash aggregation replaces calc_exc_metrics' per-event
    groupBy-parent + join. The finest group-by flat_profile,
    load_imbalance, idle_time and time_stats share (Gray et al., "Data
    Cube", ICDE 1996): each is a select or a small aggregate over it, and
    ``to_parquet(include_derived=True)`` writes it beside the
    checkpoint."""
    incs = [
        f.name for f in matched.schema.fields
        if f.name.endswith("_inc") and isinstance(f.dataType, T.NumericType)
    ]
    excs = [c[:-4] + "_exc" for c in incs]
    dtype = {f.name: f.dataType for f in matched.schema.fields}
    is_enter = F.col(S.EVENT_TYPE).isin(*S.ENTER_TYPES)
    own = F.struct(
        F.col(S.NAME).alias(S.NAME),
        is_enter.cast("long").alias("n"),
        F.col(S.TIMESTAMP).alias("ts"),
        *[F.when(is_enter, F.col(c)).alias(c) for c in incs],
        *[F.when(is_enter, F.col(c)).alias(e) for c, e in zip(incs, excs)],
    )
    caller = F.struct(
        F.col(S.PARENT_NAME).alias(S.NAME),
        F.lit(0).cast("long").alias("n"),
        F.lit(None).cast(dtype[S.TIMESTAMP]).alias("ts"),
        *[F.lit(0).cast(dtype[c]).alias(c) for c in incs],
        *[(-F.col(c)).alias(e) for c, e in zip(incs, excs)],
    )
    contribs = F.when(
        is_enter & F.col(S.PARENT_NAME).isNotNull(), F.array(own, caller)
    ).otherwise(F.array(own))
    return (
        matched.select(S.PROCESS, F.explode(contribs).alias("c"))
        .select(S.PROCESS, "c.*")
        .groupBy(S.NAME, S.PROCESS)
        .agg(
            F.sum("n").alias("n_calls"),
            F.min("ts").alias("ts_min"),
            F.max("ts").alias("ts_max"),
            *[F.sum(c).alias(c) for c in incs + excs],
        )
    )


def flat_profile(
    trace,
    metrics=S.TIME_EXC,
    groupby_column=S.NAME,
    per_process: bool = False,
) -> DataFrame:
    """Two-level aggregation (pipit/trace.py:514-553): sum per
    (groupby, process), then mean over processes unless ``per_process``.

    Grouped by name over ``_inc``/``_exc`` metrics this is a select (or
    one ``avg``) over the trace's (name, process) rollup — read from the
    checkpoint's ``_rollup`` sidecar when the trace was reopened from
    one, else one explode + hash aggregation over the matched frame
    (:func:`name_process_rollup`). Other groupings go through
    calc_exc_metrics and a partial + final hash aggregation."""
    if isinstance(metrics, str):
        metrics = [metrics]
    if isinstance(groupby_column, str):
        groupby_column = [groupby_column]

    if groupby_column == [S.NAME] and all(
        mm.endswith(("_inc", "_exc")) for mm in metrics
    ):
        r = trace._profile_rollup()
        if all(mm in r.columns for mm in metrics):
            # a group holds Enter rows of its own or callee contributions
            # (which add 0.0 to the inclusive sums); Leave- or
            # Instant-only groups carry only timestamp bounds
            per_proc = r.filter(
                F.col(S.NAME).isNotNull()
                & ((F.col("n_calls") > 0) | F.col(S.TIME_INC).isNotNull())
            ).select(S.NAME, S.PROCESS, *metrics)
            if per_process:
                return per_proc
            return per_proc.groupBy(S.NAME).agg(
                *[F.avg(mm).alias(mm) for mm in metrics]
            )

    df, metrics = _resolve_metrics(trace, metrics)

    enters = df.filter(F.col(S.EVENT_TYPE).isin(*S.ENTER_TYPES))
    per_proc = enters.groupBy(*groupby_column, S.PROCESS).agg(
        *[F.sum(m).alias(m) for m in metrics]
    )
    if per_process:
        return per_proc
    return per_proc.groupBy(*groupby_column).agg(
        *[F.avg(m).alias(m) for m in metrics]
    )


def load_imbalance(trace, metric=S.TIME_EXC, num_processes: int = 1) -> DataFrame:
    """Per-function imbalance = max(per-rank sum) / mean(per-rank sum),
    plus the top-N most-loaded ranks (pipit/trace.py:555-598).

    The reference's per-function sort loop becomes one window rank +
    conditional collect_list; ties broken by process id for determinism.
    """
    fp = flat_profile(trace, metrics=metric, per_process=True)
    w = Window.partitionBy(S.NAME).orderBy(F.desc(metric), F.asc(S.PROCESS))
    ranked = fp.withColumn("__rk", F.row_number().over(w))
    return (
        ranked.groupBy(S.NAME)
        .agg(
            (F.max(metric) / F.avg(metric)).alias(f"{metric}_imbalance"),
            F.sort_array(
                F.collect_list(
                    F.when(
                        F.col("__rk") <= num_processes,
                        F.struct(F.col("__rk"), F.col(S.PROCESS)),
                    )
                )
            ).getField(S.PROCESS).alias("top_processes"),
            F.avg(metric).alias(f"{metric}_mean"),
        )
        .orderBy(F.desc(f"{metric}_mean"))
    )


def idle_time(trace, idle_functions=None, mpi_events: bool = False) -> DataFrame:
    """Σ inclusive time of idle functions per process
    (pipit/trace.py:600-631). The reference's per-process loop is one
    groupBy(process) over the (name, process) rollup: every process has
    rollup rows, so processes with no idle calls still appear (sum-of-
    empty = 0) without a distinct or a join."""
    idle_functions = list(idle_functions or ["Idle"])
    if mpi_events:
        idle_functions += ["MPI_Wait", "MPI_Waitall", "MPI_Recv"]
    idle = F.when(F.col(S.NAME).isin(idle_functions), F.col(S.TIME_INC))
    return trace._profile_rollup().groupBy(S.PROCESS).agg(
        F.coalesce(F.sum(idle), F.lit(0.0)).alias("idle_time")
    )


def time_profile(
    trace, num_bins: int = 50, normalized: bool = False, pivot: bool = False
) -> DataFrame:
    """Per-bin exclusive time contribution of each function
    (pipit/trace.py:633-764) — the hardest relational rewrite.

    Reference algorithm: for each of ``num_bins`` equal intervals over
    [ts.min, ts.max], each matched Enter interval contributes
    ``overlap = min(leave, bin_end) − max(enter, bin_start)`` (the 4
    explicit cases at pipit/trace.py:713-738), then each parent's in-bin
    time is reduced by its direct children's in-bin time
    (pipit/trace.py:666-698), summed per function, with
    ``idle_time = bin_duration × nprocs − Σ``, values < 0.01 zeroed, and
    optional normalization by bin duration.

    Spark plan: each interval explodes into the bins it can overlap
    and equi-joins the broadcast bin table (a JVM ``LocalRelation`` of
    ``num_bins`` rows) on ``bin_idx`` — no shuffle of the big side, no
    nested loop; one explode + hash aggregation for the child
    correction, one window for the idle row, one broadcast join back
    to the bin edges. The bounds come from :meth:`Trace.time_stats`.
    """
    spark = trace.events.sparkSession
    m = trace.matched

    # bounds via the Trace-level time_stats memo (r12): one eager
    # scalar job per TRACE shared with every other binning operator
    # (comm_over_time, comm_matrix_over_time), instead of one per call
    lo, hi, nproc = trace.time_stats()
    edges = np.linspace(float(lo), float(hi), num_bins + 1)
    bin_size = edges[1] - edges[0]
    total_bin_duration = float(bin_size * nproc)

    # an Arrow table becomes a JVM LocalRelation: scanning or
    # broadcasting it starts no Python-worker task (a Python list goes
    # through parallelize and a pickled RDD scan)
    bins_df = spark.createDataFrame(
        pa.table({
            "bin_idx": np.arange(num_bins, dtype=np.int32),
            "bin_start": edges[:-1],
            "bin_end": edges[1:],
        }),
        T.StructType([
            T.StructField("bin_idx", T.IntegerType(), False),
            T.StructField("bin_start", T.DoubleType(), False),
            T.StructField("bin_end", T.DoubleType(), False),
        ]),
    )

    enters = m.filter(
        F.col(S.EVENT_TYPE).isin(*S.ENTER_TYPES) & F.col(S.MATCHING_TS).isNotNull()
    ).select(
        S.NAME, S.PARENT_NAME,
        F.col(S.TIMESTAMP).cast("double").alias("enter_ts"),
        F.col(S.MATCHING_TS).cast("double").alias("leave_ts"),
    )

    # Candidate bin range computed arithmetically (±1 slack for float
    # edge rounding) and exploded, then the EXACT strict-inequality
    # in-bin test of the reference (pipit/trace.py:706-708) filters
    # against the authoritative edge values after a broadcast equi-join
    # on bin_idx. Per-row work is O(bins the interval spans), not
    # O(num_bins) as with a broadcast nested-loop theta-join — the
    # difference between 50 and 5,000 bins costing the same per event.
    bsz = F.lit(float(bin_size))
    lo_l = F.lit(float(lo))
    overlaps = (
        enters.withColumn(
            "__first",
            F.greatest(
                F.lit(0),
                (F.floor((F.col("enter_ts") - lo_l) / bsz) - 1).cast("int"),
            ),
        )
        .withColumn(
            "__last",
            F.least(
                F.lit(num_bins - 1),
                (F.floor((F.col("leave_ts") - lo_l) / bsz) + 1).cast("int"),
            ),
        )
        .withColumn("bin_idx", F.explode(F.sequence("__first", "__last")))
        .join(F.broadcast(bins_df), "bin_idx")
        .filter(
            (F.col("leave_ts") > F.col("bin_start"))
            & (F.col("enter_ts") < F.col("bin_end"))
        )
        .withColumn(
            "inc_in_bin",
            F.least("leave_ts", "bin_end")
            - F.greatest("enter_ts", "bin_start"),
        )
    )

    # exclusive-in-bin correction without a self-join: a parent's interval
    # encloses its children's, so a child overlapping bin b implies the
    # parent overlaps bin b — summing (+overlap under own name) and
    # (−overlap under the caller's name) per (bin, name) therefore equals
    # the reference's per-event child subtraction (pipit/trace.py:666-698)
    # after its groupBy(Name) (pipit/trace.py:744). One explode + ONE hash
    # aggregation replaces groupBy-parent + equi-join on the exploded
    # interval×bin frame + groupBy.
    contrib = overlaps.select(
        "bin_idx",
        F.explode(
            F.array(
                F.struct(
                    F.col(S.NAME).alias("nm"), F.col("inc_in_bin").alias("v")
                ),
                F.struct(
                    F.col(S.PARENT_NAME).alias("nm"),
                    (-F.col("inc_in_bin")).alias("v"),
                ),
            )
        ).alias("c"),
    ).select("bin_idx", F.col("c.nm").alias(S.NAME), F.col("c.v").alias("v"))

    per_fn = (
        contrib.filter(F.col(S.NAME).isNotNull())
        .groupBy("bin_idx", S.NAME)
        .agg(F.sum("v").alias("time"))
    )
    # threshold tiny values to zero (pipit/trace.py:754)
    per_fn = per_fn.withColumn(
        "time", F.when(F.col("time") < 0.01, 0.0).otherwise(F.col("time"))
    )

    # idle_time = bin duration × nprocs − Σ functions (pipit/trace.py:751).
    # Seed a zero idle row per bin from the (tiny, broadcast) bin table and
    # fill it with a window sum over the aggregated frame — `per_fn` is
    # then referenced ONCE, where the earlier groupBy-bin + join-back
    # formulation re-evaluated the whole interval×bin aggregation for the
    # totals branch (Spark does not reuse the exchange across the union).
    idle_seed = bins_df.select(
        "bin_idx", F.lit("idle_time").alias(S.NAME), F.lit(0.0).alias("time")
    )
    w_bin = Window.partitionBy("bin_idx")
    out = (
        per_fn.unionByName(idle_seed)
        .withColumn(
            "time",
            F.when(
                F.col(S.NAME) == "idle_time",
                F.lit(total_bin_duration) - F.sum("time").over(w_bin),
            ).otherwise(F.col("time")),
        )
        .withColumn(
            "time", F.when(F.col("time") < 0.01, 0.0).otherwise(F.col("time"))
        )
    )
    if normalized:
        out = out.withColumn("time", F.col("time") / F.lit(total_bin_duration))
    out = F.broadcast(bins_df).join(out, "bin_idx").select(
        "bin_idx", "bin_start", "bin_end", S.NAME, "time"
    )
    if pivot:
        return (
            out.groupBy("bin_idx", "bin_start", "bin_end")
            .pivot(S.NAME)
            .sum("time")
            .orderBy("bin_idx")
        )
    return out


def multirun_analysis(
    traces, metric=S.TIME_INC, groupby_column=S.NAME, pivot: bool = True
) -> DataFrame:
    """Cross-run comparison table (pipit/trace.py:766-804): one row per
    run (keyed by process count), one column per function. With
    ``pivot=False`` returns the long form (num_processes, group, metric)
    — the scale-friendly shape when the function set is wide."""
    parts = []
    for t in traces:
        # the memoized per-trace scalar (r12): repeat multirun calls —
        # and any binning operator on the same traces — share one job
        nproc = t.time_stats()[2]
        fp = flat_profile(t, metrics=metric, groupby_column=groupby_column)
        parts.append(fp.withColumn("num_processes", F.lit(nproc)))
    allp = parts[0]
    for p in parts[1:]:
        allp = allp.unionByName(p)
    if not pivot:
        return allp.select("num_processes", groupby_column, metric)
    return (
        allp.groupBy("num_processes").pivot(groupby_column).sum(metric)
        .orderBy("num_processes")
    )


def slow_calls(trace, p: float = 0.95, metric: str = S.TIME_INC) -> DataFrame:
    """Per-function slow-call detection: every call whose inclusive time
    exceeds its function's exact p-quantile — the per-invocation
    regression drill-down `flat_profile` averages away (a mean hides
    one 100× call among thousands of fast ones).

    Same shape as ``percentile_outliers``: per-name quantile thresholds
    are a tiny aggregate, broadcast back onto the call stream — the big
    side stays scan-shaped, no window over calls. Exact ``percentile``
    matches the DuckDB oracle; swap ``approx_percentile`` at 100 TB
    (same plan). All Enter-family calls participate (Loop Enter
    included, as in flat_profile); per-name quantiles mean any
    name-level exclusion a caller applies afterwards cannot disturb the
    other functions' thresholds."""
    calls = trace.matched.filter(
        F.col(S.EVENT_TYPE).isin(*S.ENTER_TYPES)
    ).select(S.NAME, S.EVENT_ID, F.col(metric).cast("double").alias("val"))
    th = calls.groupBy(S.NAME).agg(
        F.round(F.percentile(F.col("val"), F.lit(p)), 6).alias("threshold")
    )
    return (
        calls.join(F.broadcast(th), S.NAME)
        .filter(F.col("val") > F.col("threshold"))
        .select(
            S.NAME,
            S.EVENT_ID,
            F.col("val").alias(metric),
            "threshold",
        )
    )


def caller_callee(trace, metric: str = S.TIME_INC) -> DataFrame:
    """Caller→callee edge profile (gprof-style): per (parent_name,
    name) pair, the call count and summed metric over the callee's
    Enter rows — which edges of the call graph carry the time, without
    materializing the full CCT.  The reference exposes caller/callee
    context per-event (pipit/trace.py:193-292 populates _parent /
    _depth); this rolls those columns up into the edge table its
    notebook examples build by hand.

    One hash aggregation over the already-matched frame: parent_name
    is free (the fused matching kernel emits it — matching.py), so no
    join and no second shuffle.  Metric sums are kept in BIGINT ns
    (exact, partition-order-independent — the flat-profile lesson);
    root frames (no caller) group under '<root>'."""
    m = trace.matched
    return (
        m.filter(F.col(S.EVENT_TYPE).isin(*S.ENTER_TYPES))
        .groupBy(
            F.coalesce(F.col(S.PARENT_NAME), F.lit("<root>")).alias(
                "caller"
            ),
            F.col(S.NAME).alias("callee"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_calls"),
            F.sum(F.col(metric).cast("long")).alias("total_ns"),
        )
    )
