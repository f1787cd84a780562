"""The Trace object: a Spark-native re-expression of the reference's
``pipit.Trace`` (pipit/trace.py:11-35).

A trace is (events DataFrame, definitions DataFrame|None, CCT node table).
Unlike the reference — which mutates one pandas frame in place and
memoizes derived columns by column-existence checks
(pipit/trace.py:111,202,300,314,352) — the Spark engine keeps the events
frame immutable and memoizes the *matched* frame (events + all derived
columns from the fused matching pass) behind ``.persist()``. Every
analysis operator is a DataFrame transformation over either ``events`` or
``matched``; Catalyst handles pushdown/pruning/fusion.

Scale notes (100 TB design point):
* events live in Parquet partitioned by ``process`` → partition pruning
  for per-rank queries, co-located one-shuffle matching;
* the matching pass is the only operator that needs per-location
  sequential semantics; everything else is filter/agg/join/window —
  shuffle-minimal and codegen-friendly;
* small sides (bin tables, definitions, CCT nodes, per-name aggregates)
  are broadcast explicitly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from . import schema as S
from .config import get_option
from .operators.matching import match_events

# columns the fused matching pass ADDS — used to split a derived-
# checkpoint parquet back into events vs matched (a denylist, so
# reader-specific metric columns like PAPI counters survive the split)
_DERIVED_COLS = {
    S.MATCHING_EVENT, S.MATCHING_TS, S.DEPTH, S.PARENT,
    S.PARENT_NAME, S.PARENT_NODE, S.NODE_ID,
}


def _is_derived(name: str) -> bool:
    return name in _DERIVED_COLS or name.endswith("_inc")


_NON_METRIC = {
    S.EVENT_ID, S.TIMESTAMP, S.SEQ, S.PROCESS, S.THREAD,
    S.MATCHING_EVENT, S.MATCHING_TS, S.DEPTH, S.PARENT, S.NODE_ID,
    # the HPCToolkit reader's meta.db context id (sources/hpctoolkit.py
    # _EXTRA_FIELDS): an identity column, not a metric — Leave−Enter
    # deltas over it would be meaningless
    "ctx_id",
}


class Trace:
    """Spark-native trace: canonical events + optional definitions.

    Reference parity: pipit/trace.py:11-35 (constructor), with derived
    state handled through :meth:`matched` instead of in-place columns.
    """

    #: columns every canonical events frame must carry — anything else
    #: (attributes, metrics) is optional
    REQUIRED_COLUMNS = (
        S.EVENT_ID, S.TIMESTAMP, S.SEQ, S.EVENT_TYPE, S.NAME, S.PROCESS,
    )

    def __init__(
        self,
        events: DataFrame,
        definitions: DataFrame | None = None,
        cache: bool | None = None,
        match_partitions: int | None = None,
        kernel: str | None = None,
        assume_wellformed: bool = False,
    ) -> None:
        missing = [c for c in self.REQUIRED_COLUMNS if c not in events.columns]
        if missing:
            raise ValueError(
                f"events frame is missing canonical columns {missing}; "
                f"have {events.columns}. Use a Trace.from_* reader or "
                "rename/derive the columns (pipit_spark.schema lists the "
                "canonical names)."
            )
        self.events = events
        self.definitions = definitions
        # cache=None defers to the config registry ("cache.matched_frame",
        # default True) — kernel likewise resolves its registry default
        # inside match_events, so set_option routes every Trace
        self._cache = get_option("cache.matched_frame") if cache is None else cache
        # partition count for the fused matching pass (the scale
        # envelope: one partition — several complete ranks — must fit a
        # task's memory, Arrow buffers included; raise this to shrink
        # partitions toward one rank each on very large traces).
        # Default (None): cluster parallelism.
        self._match_partitions = match_partitions
        # matching-kernel choice: kernel=None defers to the
        # "matching.kernel" option ("location"); "chunked" streams with
        # resident state ∝ stack depth — the scale path when
        # events-per-location × concurrent tasks threatens executor
        # memory. assume_wellformed skips the chunked kernel's
        # exactness audit (operators/matching.py).
        self._kernel = kernel
        self._assume_wellformed = assume_wellformed
        self._matched: DataFrame | None = None
        self._cct: DataFrame | None = None
        # memoized events row count (a trace is immutable): feeds the
        # chunked kernel's self-sizing so repeated un-sized match calls
        # never re-count — on a derived events plan each count would
        # re-execute the whole upstream plan (r11 ADVICE)
        self._events_rows: int | None = None
        # memoized (ts_min, ts_max, n_processes) — the driver-side
        # scalars every trace-time binning operator needs (time_profile,
        # comm_over_time, comm_matrix_over_time). One eager job per
        # TRACE, not one per call (r12): within a bench pass / user
        # session the second binning operator pays nothing.
        self._time_stats: tuple[float, float, int] | None = None

    # ------------------------------------------------------------------ #
    # constructors (sources live in pipit_spark.sources)
    # ------------------------------------------------------------------ #
    @classmethod
    def from_csv(cls, spark: SparkSession, path: str, **kw) -> "Trace":
        """Reference: pipit/trace.py:69-97 (``Trace.from_csv``)."""
        from .sources.csv_source import read_csv

        return cls(read_csv(spark, path, **kw))

    @classmethod
    def from_nsight(cls, spark: SparkSession, path: str, **kw) -> "Trace":
        """Reference: pipit/readers/nsight_reader.py (``Trace.from_nsight``)."""
        from .sources.nsight import read_nsight

        return cls(read_nsight(spark, path, **kw))

    @classmethod
    def from_projections(cls, spark: SparkSession, dirname: str, **kw) -> "Trace":
        """Reference: pipit/readers/projections_reader.py."""
        from .sources.projections import read_projections

        return cls(read_projections(spark, dirname, **kw))

    @classmethod
    def from_otf2(cls, spark: SparkSession, dirname: str, **kw) -> "Trace":
        """Reference: pipit/readers/otf2_reader.py, via the one OTF2
        reader, the native binary parser (sources/otf2_native.py) on the
        binary readers' shared packed-parse driver. ``**kw`` reaches
        :func:`read_otf2_native` — ``order="process"`` skips the parity
        sort. Its errors reach the caller unchanged: a missing archive
        is a ``FileNotFoundError``, a truncated ``.evt`` a
        ``ValueError`` naming the file and the byte offset."""
        from .sources.otf2_native import read_otf2_native

        events, definitions = read_otf2_native(spark, dirname, **kw)
        return cls(events, definitions)

    @classmethod
    def from_hpctoolkit(cls, spark: SparkSession, dirname: str, **kw) -> "Trace":
        """Reference: pipit/readers/hpctoolkit_reader.py (v4.0 binary db).
        ``**kw`` reaches :func:`read_hpctoolkit` — notably
        ``order="process"`` to skip the parity sort at ingest scale."""
        from .sources.hpctoolkit import read_hpctoolkit

        return cls(read_hpctoolkit(spark, dirname, **kw))

    @classmethod
    def from_parquet(
        cls,
        spark: SparkSession,
        path: str,
        derived: bool | None = None,
        **kw,
    ) -> "Trace":
        """Native canonical storage: Parquet partitioned by process.

        If the file carries the fused matching pass's derived columns
        (written by ``to_parquet(include_derived=True)``), the matched
        frame is seeded directly — re-opening an analyzed trace skips
        the match shuffle + Arrow pass entirely.

        ``derived=None`` (default) auto-detects a checkpoint by the
        FULL derived column set, so an events file that merely has a
        coincidental ``*_inc`` column never gets columns stripped;
        ``derived=False`` forces a verbatim read, ``derived=True``
        raises if the checkpoint columns are absent.

        ``**kw`` reaches the :class:`Trace` constructor — notably
        ``cache=False`` for single-consumer pipelines (the match pass
        streams straight into its one aggregate instead of persisting)
        and ``kernel="chunked"`` for the stack-depth-resident matching
        kernel. There is no ``order=`` here: order is an ingest-time
        concern (the binary readers' parity sort); canonical parquet is
        read as laid out, and the matching pass orders within
        locations itself."""
        df = spark.read.parquet(path)
        has_all = _DERIVED_COLS <= set(df.columns)
        if derived is True and not has_all:
            missing = sorted(_DERIVED_COLS - set(df.columns))
            raise ValueError(
                f"not a derived checkpoint: missing columns {missing}"
            )
        if derived is not False and has_all:
            t = cls(
                df.select(*[c for c in df.columns if not _is_derived(c)]),
                **kw,
            )
            t._matched = df
            return t
        return cls(df, **kw)

    def to_parquet(
        self,
        path: str,
        partition_by_process: bool = True,
        include_derived: bool = False,
    ) -> None:
        """``include_derived=True`` checkpoints the MATCHED frame
        (events + matching/depth/parent/node/inclusive metrics): pay the
        matching pass once, reload analysis-ready — the distributed
        counterpart of the reference memoizing derived columns in its
        in-memory DataFrame (pipit/trace.py:111,202)."""
        src = self.matched if include_derived else self.events
        w = src.write.mode("overwrite")
        if partition_by_process:
            w = w.partitionBy(S.PROCESS)
        w.parquet(path)

    def create_views(self, prefix: str = "trace") -> list[str]:
        """Register the engine's tables as SQL temp views —
        ``{prefix}_events``, ``{prefix}_matched``, ``{prefix}_cct`` — so
        the whole analysis surface is queryable with ``spark.sql`` (the
        reference exposes no SQL at all; Spark gives it for free, CCT
        joins included)."""
        names = []
        for name, df in (
            ("events", self.events),
            ("matched", self.matched),
            ("cct", self.cct),
        ):
            view = f"{prefix}_{name}"
            df.createOrReplaceTempView(view)
            names.append(view)
        return names

    def to_chrome(self, path: str, single_file: bool = True):
        """Reference: pipit/writers/chrome_writer.py:18-50."""
        from .sinks.chrome import write_chrome

        return write_chrome(self.events, path, single_file=single_file)

    # ------------------------------------------------------------------ #
    # derived state
    # ------------------------------------------------------------------ #
    @property
    def numeric_cols(self) -> list[str]:
        """Metric columns (reference pipit/trace.py:24-30): numeric fields
        that are not identity/derived columns."""
        numeric = {"int", "bigint", "float", "double", "smallint"}
        return [
            f.name
            for f in self.events.schema.fields
            if f.dataType.simpleString() in numeric
            and f.name not in _NON_METRIC
            and not f.name.endswith(("_inc", "_exc"))
        ]

    def num_events(self) -> int:
        """Memoized events row count (the frame is immutable for the
        trace's lifetime). Used by the chunked matching kernel's
        self-sizing via the lazy ``row_count`` hint — only evaluated on
        that path, and at most once per Trace however many un-sized
        passes run."""
        if self._events_rows is None:
            self._events_rows = self.events.count()
        return self._events_rows

    def time_stats(self) -> tuple[float, float, int]:
        """Memoized ``(ts_min, ts_max, n_processes)`` over the whole
        trace (the frame is immutable for the trace's lifetime) — the
        driver-side scalars every trace-time binning operator needs.
        Computed from the matched frame when it is already built (a
        cache scan with ``cache=True``), else from the raw events
        frame — matching preserves rows, so the values are identical
        either way. One eager job per Trace, however many binning
        calls run (r12).

        NOTE this method (and every wrapper passing
        ``range_bounds=self.time_stats()[:2]``, e.g.
        :meth:`comm_over_time` / :meth:`comm_matrix_over_time`) runs
        its one scalar job EAGERLY at call time, not when the returned
        frame is consumed. ``n_processes`` is ``countDistinct`` over
        ``process`` and relies on the readers' non-null process
        invariant (every reader emits an MPI rank / PE id); a null
        process row would be excluded from the count."""
        if self._time_stats is None:
            # same memo-aware pick as _comm_source: the cached matched
            # frame is a cheap scan; an unpersisted one would re-run
            # the matching kernel
            src = (
                self._matched
                if self._matched is not None and self._cache
                else self.events
            )
            lo, hi, nproc = src.agg(
                F.min(S.TIMESTAMP).cast("double"),
                F.max(S.TIMESTAMP).cast("double"),
                F.countDistinct(S.PROCESS),
            ).collect()[0]
            self._time_stats = (
                (float(lo), float(hi), int(nproc))
                if lo is not None
                else (0.0, 1.0, int(nproc))
            )
        return self._time_stats

    @property
    def matched(self) -> DataFrame:
        """Events + matching/depth/parent/node/inclusive-metric columns.

        Fuses the reference's ``_match_events`` (pipit/trace.py:106-191),
        ``_match_caller_callee`` (193-292), ``create_cct``
        (pipit/util/cct.py:9-118) and ``calc_inc_metrics`` (294-327) into
        one shuffle + one Arrow pass, memoized like the reference's
        column-existence checks (pipit/trace.py:111,202).
        """
        if self._matched is None:
            m = match_events(
                self.events,
                metric_cols=self.numeric_cols,
                num_partitions=self._match_partitions,
                kernel=self._kernel,
                assume_wellformed=self._assume_wellformed,
                row_count=self.num_events,
            )
            if self._cache:
                m = m.persist()
            self._matched = m
        return self._matched

    def _match_events(self) -> DataFrame:
        return self.matched

    def _match_caller_callee(self) -> DataFrame:
        return self.matched

    def calc_inc_metrics(self, columns: list[str] | None = None) -> DataFrame:
        """Inclusive metrics are produced by the fused pass; this returns
        the enriched frame for parity with pipit/trace.py:294-327."""
        return self.matched

    def calc_exc_metrics(self, columns: list[str] | None = None) -> DataFrame:
        """Exclusive metric = inclusive − Σ children's inclusive.

        Replaces the reference's Python loop over parents
        (pipit/trace.py:357-362) with a hash aggregation + join:
        ``groupBy(parent_event_id).sum(inc)`` then left-join back on
        event_id — fully relational, no iteration, scales with AQE
        handling skewed hot parents.
        """
        m = self.matched
        cols = columns or ["time"] + self.numeric_cols
        inc_cols = [c if c.endswith("_inc") else f"{c}_inc" for c in cols]
        inc_cols = [c for c in inc_cols if c in m.columns]

        enters = m.filter(
            F.col(S.EVENT_TYPE).isin(*S.ENTER_TYPES)
            & F.col(S.MATCHING_EVENT).isNotNull()
        )
        child_sums = (
            enters.filter(F.col(S.PARENT).isNotNull())
            .groupBy(F.col(S.PARENT).alias("__parent"))
            .agg(*[F.sum(c).alias(f"__chsum_{c}") for c in inc_cols])
        )
        out = m.join(
            child_sums, F.col(S.EVENT_ID) == F.col("__parent"), "left"
        ).drop("__parent")
        for c in inc_cols:
            exc_name = c[: -len("_inc")] + "_exc"
            out = out.withColumn(
                exc_name,
                F.when(
                    F.col(c).isNotNull(),
                    F.col(c) - F.coalesce(F.col(f"__chsum_{c}"), F.lit(0.0)),
                ),
            ).drop(f"__chsum_{c}")
        return out

    @property
    def cct(self) -> DataFrame:
        """Calling-context tree as a node TABLE (node_id, parent_node_id,
        depth, name) — replaces the reference's object graph
        (pipit/graph.py:7-98, pipit/util/cct.py:9-118)."""
        if self._cct is None:
            from .operators.cct import create_cct

            c = create_cct(self.matched)
            if self._cache:
                c = c.persist()
            self._cct = c
        return self._cct

    def create_cct(self) -> DataFrame:
        return self.cct

    def cct_graph(self):
        """Driver-side linked-object view of :attr:`cct` (the
        reference's Node/Graph traversal API, pipit/graph.py:7-98).
        Node-table-sized collect — safe at any trace scale."""
        from .operators.cct_graph import cct_graph

        return cct_graph(self.cct)

    def folded_stacks(
        self, metric: str = S.TIME_EXC, sep: str = ";"
    ) -> DataFrame:
        from .operators.cct import folded_stacks

        return folded_stacks(self, metric=metric, sep=sep)

    def to_folded(
        self, path: str, metric: str = S.TIME_EXC, sep: str = ";"
    ) -> str:
        """Write the folded stacks as a flamegraph.pl-format text file."""
        from .sinks.folded import write_folded

        return write_folded(self.folded_stacks(metric=metric, sep=sep), path)

    def to_arrow_ipc(self, path: str, shards: int | None = None):
        """Export the MATCHED frame (events + derived inc/exc metrics,
        caller context, depth) as sharded Arrow IPC files — the
        zero-copy hand-off to pandas/polars/DuckDB analysis outside a
        Spark runtime (llm/io.py:write_arrow_ipc; executor-side
        writes, manifest returned)."""
        from .llm.io import write_arrow_ipc

        return write_arrow_ipc(self.matched, path, shards=shards)

    def summary(self) -> dict:
        """One-call trace overview: the numbers an analyst asks for
        first (and the reference answers via several manual pandas
        expressions) — event/process/function counts, time span, and
        the hottest function by mean-per-process exclusive time (the
        `flat_profile` metric). ONE aggregation job over the events
        frame plus one over the flat profile; returns a plain dict
        (driver-sized by construction). An empty trace (e.g. a slice
        that matched nothing) yields a zeroed overview, not a crash."""
        row = self.events.agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct(S.PROCESS).alias("n_processes"),
            F.countDistinct(S.NAME).alias("n_functions"),
            F.min(S.TIMESTAMP).alias("t_min"),
            F.max(S.TIMESTAMP).alias("t_max"),
        ).collect()[0]
        if row["n_events"] == 0:
            return {
                "n_events": 0, "n_processes": 0, "n_functions": 0,
                "span_ns": 0, "top_function": None, "top_function_exc": None,
            }
        top = (
            self.flat_profile(metrics=S.TIME_EXC)
            .orderBy(F.desc(S.TIME_EXC), F.asc(S.NAME))
            .first()
        )
        return {
            "n_events": row["n_events"],
            "n_processes": row["n_processes"],
            "n_functions": row["n_functions"],
            "span_ns": int(row["t_max"]) - int(row["t_min"]),
            # a non-empty trace can still have zero matched Enter rows
            # (instants-only, or a slice cutting every Enter/Leave pair)
            # — zeroed fields, not a TypeError on top=None
            "top_function": top[S.NAME] if top is not None else None,
            "top_function_exc": top[S.TIME_EXC] if top is not None else None,
        }

    def slice(
        self,
        processes: list[int] | None = None,
        names: list[str] | None = None,
        t_min: int | None = None,
        t_max: int | None = None,
    ) -> "Trace":
        """A sub-trace filtered by process set, function names, and/or a
        half-open time window ``[t_min, t_max)`` in ns — the ad-hoc
        filter every analysis session writes by hand. All predicates
        push down to the events scan (plain conjunctive filters, no
        UDF); the result is a fresh Trace so derived state (matching,
        CCT) recomputes on the slice."""
        ev = self.events
        if processes is not None:
            ev = ev.filter(F.col(S.PROCESS).isin(list(processes)))
        if names is not None:
            ev = ev.filter(F.col(S.NAME).isin(list(names)))
        if t_min is not None:
            ev = ev.filter(F.col(S.TIMESTAMP) >= t_min)
        if t_max is not None:
            ev = ev.filter(F.col(S.TIMESTAMP) < t_max)
        return Trace(
            ev,
            definitions=self.definitions,
            cache=self._cache,
            match_partitions=self._match_partitions,
            kernel=self._kernel,
            assume_wellformed=self._assume_wellformed,
        )

    # ------------------------------------------------------------------ #
    # communication analysis (pipit/trace.py:367-512)
    # ------------------------------------------------------------------ #
    def _comm_source(self) -> DataFrame:
        """Events frame the comm operators should scan.

        Comm analysis never needs the derived matching columns, so it
        must NOT force the matching pass — but once ``matched`` has been
        materialized (persisted, row-identical superset of ``events``)
        scanning it is strictly cheaper than re-running the upstream
        events plan, which for a derived/filtered trace can itself carry
        windows and exchanges. Memo-aware pick, never a new computation.
        With ``cache=False`` the matched frame is never persisted, so
        scanning it would RE-RUN the matching kernel per comm call —
        stick to the events plan there.
        """
        if self._matched is not None and self._cache:
            return self._matched
        return self.events

    def comm_matrix(self, output: str = "size") -> DataFrame:
        from .operators.comm import comm_matrix

        return comm_matrix(self._comm_source(), output=output)

    def comm_matrix_numpy(self, output: str = "size"):
        from .operators.comm import comm_matrix_numpy

        return comm_matrix_numpy(self._comm_source(), output=output)

    def comm_by_process(self, output: str = "size") -> DataFrame:
        from .operators.comm import comm_by_process

        return comm_by_process(self._comm_source(), output=output)

    def comm_by_function(
        self, output: str = "size", message_type: str = "send"
    ) -> DataFrame:
        """Per-calling-function send/recv volume — needs the matched
        frame (Instants carry their enclosing call), so this one comm
        view DOES run the matching pass."""
        from .operators.comm import comm_by_function

        return comm_by_function(
            self.matched, output=output, message_type=message_type
        )

    def comm_locality(
        self, block_size: int = 4, output: str = "size"
    ) -> DataFrame:
        from .operators.comm import comm_locality

        return comm_locality(
            self._comm_source(), block_size=block_size, output=output
        )

    def match_messages(self) -> DataFrame:
        """FIFO per-channel send↔recv pairing — one row per matched
        message with its latency (operators/comm.py:match_messages)."""
        from .operators.comm import match_messages

        return match_messages(self._comm_source())

    def message_latency(self) -> DataFrame:
        """Per-channel latency/imbalance profile over the FIFO-matched
        messages (operators/comm.py:message_latency)."""
        from .operators.comm import message_latency

        return message_latency(self._comm_source())

    def late_senders(self) -> DataFrame:
        """Scalasca-style late-sender wait states per channel — blocked
        receive time where the matching send was posted after the
        receiver entered its recv operation
        (operators/comm.py:late_senders; recv enters come from the
        matching pass's parent links)."""
        from .operators.comm import late_senders

        return late_senders(self._comm_source(), self.matched)

    def late_receivers(self) -> DataFrame:
        """Mirror wait state: sender-side blocking where the receiver
        posted after the send (operators/comm.py:late_receivers)."""
        from .operators.comm import late_receivers

        return late_receivers(self._comm_source(), self.matched)

    def wait_attribution(self) -> DataFrame:
        """Per-process inflicted vs suffered blocked-receive time —
        which rank to fix versus which rank merely looks slow
        (operators/comm.py:wait_attribution)."""
        from .operators.comm import wait_attribution

        return wait_attribution(self._comm_source(), self.matched)

    def comm_matrix_over_time(
        self, bins: int = 10, output: str = "size"
    ) -> DataFrame:
        """Per-time-bin communication matrix — traffic-pattern drift
        (operators/comm.py:comm_matrix_over_time)."""
        from .operators.comm import comm_matrix_over_time

        return comm_matrix_over_time(
            self._comm_source(), bins=bins, output=output,
            range_bounds=self.time_stats()[:2],
        )

    def latency_histogram(self, bins: int = 20) -> DataFrame:
        """Distribution of FIFO-matched message latencies
        (operators/comm.py:latency_histogram)."""
        from .operators.comm import latency_histogram

        return latency_histogram(self._comm_source(), bins=bins)

    def message_histogram(self, bins: int = 20) -> DataFrame:
        from .operators.comm import message_histogram

        return message_histogram(self._comm_source(), bins=bins)

    def comm_over_time(
        self, output: str = "size", message_type: str = "send", bins: int = 50
    ) -> DataFrame:
        from .operators.comm import comm_over_time

        return comm_over_time(
            self._comm_source(),
            output=output,
            message_type=message_type,
            bins=bins,
            range_bounds=self.time_stats()[:2],
        )

    # ------------------------------------------------------------------ #
    # profiling (pipit/trace.py:514-804)
    # ------------------------------------------------------------------ #
    def caller_callee(self, metric: str = S.TIME_INC) -> DataFrame:
        """Caller→callee edge profile over the matched frame
        (operators/profile.py:caller_callee)."""
        from .operators.profile import caller_callee

        return caller_callee(self, metric=metric)

    def flat_profile(
        self,
        metrics: str | list[str] = S.TIME_EXC,
        groupby_column: str | list[str] = S.NAME,
        per_process: bool = False,
    ) -> DataFrame:
        from .operators.profile import flat_profile

        return flat_profile(
            self, metrics=metrics, groupby_column=groupby_column,
            per_process=per_process,
        )

    def load_imbalance(
        self, metric: str = S.TIME_EXC, num_processes: int = 1
    ) -> DataFrame:
        from .operators.profile import load_imbalance

        return load_imbalance(self, metric=metric, num_processes=num_processes)

    def idle_time(
        self, idle_functions: list[str] | None = None, mpi_events: bool = False
    ) -> DataFrame:
        from .operators.profile import idle_time

        return idle_time(self, idle_functions=idle_functions, mpi_events=mpi_events)

    def slow_calls(
        self, p: float = 0.95, metric: str = S.TIME_INC
    ) -> DataFrame:
        from .operators.profile import slow_calls

        return slow_calls(self, p=p, metric=metric)

    def time_profile(
        self, num_bins: int = 50, normalized: bool = False, pivot: bool = False
    ) -> DataFrame:
        from .operators.profile import time_profile

        return time_profile(
            self, num_bins=num_bins, normalized=normalized, pivot=pivot
        )

    @staticmethod
    def multirun_analysis(
        traces: list["Trace"],
        metric: str = S.TIME_INC,
        groupby_column: str = S.NAME,
        pivot: bool = True,
    ) -> DataFrame:
        from .operators.profile import multirun_analysis

        return multirun_analysis(
            traces, metric=metric, groupby_column=groupby_column, pivot=pivot
        )

    def diff(
        self,
        other: "Trace",
        metric: str = S.TIME_EXC,
        groupby_column: str = S.NAME,
    ) -> DataFrame:
        """Pairwise run comparison: per function, this trace's metric
        total vs ``other``'s, with absolute and relative deltas — the
        two-run special case every regression hunt starts with
        (``multirun_analysis`` generalizes to N runs but pivots away
        the deltas). Full-outer on the group key so functions appearing
        in only one run surface instead of vanishing; two small
        aggregates + one join on the (bounded) function domain."""
        a = (
            self.flat_profile(metrics=[metric], groupby_column=groupby_column)
            .select(groupby_column, F.col(metric).alias("_a"))
        )
        b = (
            other.flat_profile(metrics=[metric], groupby_column=groupby_column)
            .select(groupby_column, F.col(metric).alias("_b"))
        )
        return a.join(b, groupby_column, "full_outer").select(
            groupby_column,
            F.coalesce("_a", F.lit(0.0)).alias(f"{metric}_self"),
            F.coalesce("_b", F.lit(0.0)).alias(f"{metric}_other"),
            (F.coalesce("_b", F.lit(0.0)) - F.coalesce("_a", F.lit(0.0))).alias(
                "delta"
            ),
            F.when(
                F.coalesce("_a", F.lit(0.0)) != 0.0,
                F.round(F.coalesce("_b", F.lit(0.0)) / F.col("_a"), 6),
            ).alias("ratio"),
        )

    def detect_pattern(
        self,
        start_event: str,
        iterations: int | None = None,
        window_size: int | None = None,
        process: int = 0,
        metric: str = S.TIME_EXC,
    ):
        from .operators.patterns import detect_pattern

        return detect_pattern(
            self, start_event, iterations=iterations,
            window_size=window_size, process=process, metric=metric,
        )

    def unpersist(self) -> None:
        if self._matched is not None:
            self._matched.unpersist()
            # the chunked kernel attaches its unmatched-set Broadcast
            # (up to ~100 MB at the collect cap) to the frame; release
            # it with the frame. The frame reference is dropped here, so
            # destroy() cannot invalidate a live plan we still own —
            # callers keeping their own reference to t.matched must not
            # execute it after unpersist() (same contract as the
            # DataFrame unpersist above).
            bc = getattr(self._matched, "_unmatched_bc", None)
            if bc is not None:
                bc.destroy()
            self._matched = None
        if self._cct is not None:
            self._cct.unpersist()
            self._cct = None
