"""Enter/Leave matching — the core trace operator.

Semantics reproduced from the reference's three sequential stack passes
(pipit/trace.py:106-191 ``_match_events``, pipit/trace.py:193-292
``_match_caller_callee``, pipit/util/cct.py:9-118 ``create_cct``), fused
into ONE Arrow-vectorized mapInPandas pass per shuffle partition, where
each partition holds complete (process, thread) locations and the kernel
resets its stacks at location boundaries:

* a Leave pops the nearest stack entry with the same name, tolerating
  unbalanced traces by scanning the stack downward
  (pipit/trace.py:170-186);
* depth/parent are assigned to *matched Enter* rows only, walking a second
  stack over matched rows (pipit/trace.py:210-292);
* the calling-context node id is a stable hash chain over the name path,
  replacing the reference's object graph (pipit/util/cct.py:73-93);
* inclusive metrics (value at Leave minus value at Enter,
  pipit/trace.py:294-327) are computed in the same pass, which removes the
  reference's positional self-lookup — and in Spark would otherwise be a
  full self-join shuffle.

Scale design: events are shuffled once, by (process, thread); each location
is processed independently (Arrow-batched), so the pass parallelizes over
locations exactly like the reference's multiprocessing pool but across
executors.

Input contract (both kernels, :func:`_sorted_locations`): the kernels read
``repartition(n, process[, thread]).sortWithinPartitions(process[,
thread], timestamp_ns, seq)`` — every location is one contiguous,
time-ordered run of one partition. The sort runs in the JVM (codegen,
spillable); the location kernel checks the layout in O(n) and raises on a
split or backwards location rather than re-sorting in pandas. Because the
local sort sits above the hash exchange, Catalyst's ``EliminateSorts``
removes any global ``orderBy`` below it from the matched plan: the binary
readers' ``order="trace"`` parity sort (its range exchange, its sampling
job and the second full parse that job costs) never executes on the way
into matching, while ``trace.events`` itself keeps its global order.

Two kernels share those semantics bit-for-bit:

* ``kernel="location"`` (default) — the whole shuffle partition (several
  complete locations) becomes one pandas frame; per-location fixed costs
  are amortized across the partition. Envelope: a partition must fit in
  executor memory — same per-worker envelope the reference needs. The
  round-8 1.2 B capstone measured this as the analysis path's binding RAM
  constraint on adversarially deep locations (9.35 M events/PE forced
  32→8 concurrent tasks on a 125 GB box).
* ``kernel="chunked"`` — deletes that envelope. Events stream through a
  JVM-side (spillable) sort into bounded Arrow batches; the kernel
  carries the open-call stack across batches, buffering ONLY the open
  matched Enter rows, so resident state is ∝ stack depth, not location
  length — the same carried-state shape the binary readers use for
  bounded-chunk parsing. The reference's depth/parent semantics are
  anti-causal (pipit/trace.py:215-219 walks MATCHED rows only, so an
  Enter's depth depends on whether its open ancestors EVER close —
  undecidable in one forward pass); the chunked kernel therefore runs a
  narrow AUDIT pass first — a pure window-function plan
  (per-(location, name) clamped-counter dynamics, zero Python) —
  emitting the normally-empty unmatched-Enter set, after which the
  emit pass is fully causal and exact on any trace, balanced or not.
  ``assume_wellformed=True`` skips the audit and raises loudly if a
  location ends with an open Enter.

The kernel is a per-call choice (``kernel=``, default "location"). Both
public entry points run one body, :func:`_match`: :func:`match_events`
hash-partitions by location (and self-sizes the chunked pass), while
:func:`match_events_iter` trusts input already partitioned by location.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from .. import schema as S
from ..config import get_option

#: driver-side bound on the audited unmatched-Enter set (it is pickled/
#: broadcast to every task; a trace with more open Enters than this is
#: pathologically truncated and should use kernel="location")
_AUDIT_CAP = 2_000_000

#: chunked-kernel emit-shard width: when the caller does not size
#: ``num_partitions``, the pass shards itself at ~this many rows per
#: task. The round-11 probe ladder measured the rule: 37 M-row shards
#: (the old default — bare cluster parallelism) exhaust a stock
#: 8 g / 32-task heap in the emit stage, while ~9-28 M-row shards clear
#: it AND run faster (892.5 s vs the 971.1 s 24 g headline at 1.2 B;
#: smaller sorts spill less). Effective shards cap at the location
#: count (the repartition hashes by location), so oversizing is free.
_CHUNKED_ROWS_PER_TASK = 10_000_000

#: chunked-kernel throughput target (the r04 rung's ~500k rows/task),
#: the preferred shard width when it does not overshard past
#: max(heap-rule shards, 8x parallelism)
_CHUNKED_TARGET_ROWS = 500_000


def _emit_slices(
    out: pd.DataFrame, step: int
) -> Iterator[pd.DataFrame]:
    """Yield ``out`` in bounded row slices so the location kernel never
    hands pyarrow a single oversized batch.

    mapInPandas converts each YIELDED frame to Arrow separately, and
    pyarrow hard-fails when any string column of one batch exceeds
    2 GiB (``StructArray.from_arrays`` ChunkedArray error — the
    round-11 skew-rung finding: ~45-60 M events of the canonical trace
    schema in one location made the location kernel unable to emit at
    all). Slicing the emit at ``matching.max_records_per_batch`` rows
    deletes that wall outright; the kernel's remaining envelope is
    worker RSS ∝ partition width (the input concat + working set),
    which is the reference's own per-worker envelope, not an Arrow
    artifact. Cost: one extra slice-copy pass over the output frame
    (measured in the noise at gate scale, SCALING.md round-12)."""
    n = len(out)
    if n <= step:
        yield out
        return
    for i in range(0, n, step):
        yield out.iloc[i : i + step]


def _encode_map_cols(events: DataFrame) -> tuple[DataFrame, dict]:
    """Re-encode MapType columns as JSON strings for the worker round
    trip. Spark's Arrow map (de)serialization is ~27× slower than the
    rest of the row put together — an all-null map column alone took an
    identity mapInArrow pass at 18M rows from 5.6 s to 150 s. The
    matching kernel never reads these columns, so they tunnel through as
    opaque strings (to_json/from_json are JVM-side codegen, and null
    maps stay null)."""
    map_cols = {
        f.name: f.dataType
        for f in events.schema.fields
        if isinstance(f.dataType, T.MapType)
    }
    enc = events
    for c in map_cols:
        enc = enc.withColumn(c, F.to_json(F.col(c)))
    return enc, map_cols


def _decode_map_cols(df: DataFrame, map_cols: dict) -> DataFrame:
    for c, dt in map_cols.items():
        df = df.withColumn(c, F.from_json(F.col(c), dt))
    return df


def _md5_i64(s: str) -> int:
    """Stable signed-int64 hash (first 8 bytes of md5, big-endian)."""
    h = hashlib.md5(s.encode("utf-8")).digest()
    return int.from_bytes(h[:8], "big", signed=True)


#: segment max call depth above which the vectorized matcher hands the
#: whole partition to the loop path: parent/node resolution runs one
#: O(n) numpy pass per depth LEVEL, so pathological recursion (deeper
#: than any real call tree) would turn the fast path quadratic-ish.
_VEC_MAX_DEPTH = 256


def _match_loops(
    rows: np.ndarray,
    new_group: np.ndarray,
    is_enter: np.ndarray,
    is_leave: np.ndarray,
    names: np.ndarray,
    match_pos: np.ndarray,
    depth: np.ndarray,
    parent_pos: np.ndarray,
    node_of: np.ndarray,
    has_node: np.ndarray,
) -> None:
    """The reference stack passes (pipit/trace.py:154-186, 240-292),
    run over ``rows`` — the row indices of one or more COMPLETE
    location segments in partition order. This is the general-case
    matcher (tolerates unbalanced traces and name-mismatched nesting by
    scanning the stack downward); :func:`_stack_match_multi` routes
    only the segments its well-nested audit rejects here, so the loop
    cost is paid by malformed locations alone. Results are written into
    the caller's full-length arrays in place.

    ``node_memo`` is function-local: node ids are content-addressed
    (md5 of ``parent_node -> name``), so memo scope never changes
    values — it is purely a cache."""
    # pass 1: nearest-same-name stack matching
    stack: list[int] = []
    for i in rows:
        if new_group[i]:
            stack.clear()
        if is_enter[i]:
            stack.append(i)
        elif is_leave[i]:
            for k in range(len(stack) - 1, -1, -1):
                if names[stack[k]] == names[i]:
                    j = stack.pop(k)
                    match_pos[i] = j
                    match_pos[j] = i
                    break

    # pass 2: depth/parent/node for matched rows
    node_memo: dict[tuple[int, str], int] = {}
    call_stack: list[int] = []
    for i in rows:
        if new_group[i]:
            call_stack.clear()
        if match_pos[i] < 0:
            # true Instants (sends/recvs/markers) inherit their ENCLOSING
            # call: depth/parent of the innermost open Enter. The
            # reference leaves these NaN (pipit/trace.py:240-292 walks
            # Enter/Leave only) — carrying them here is free in the same
            # pass and enables per-function attribution of communication
            # (comm_by_function) without any join back to the call rows.
            # Unmatched Enter/Leave (malformed traces) stay NaN.
            if not is_enter[i] and not is_leave[i] and call_stack:
                top = call_stack[-1]
                depth[i] = depth[top] + 1
                parent_pos[i] = top
            continue
        if is_enter[i]:
            depth[i] = len(call_stack)
            pid = -1
            if call_stack:
                parent_pos[i] = call_stack[-1]
                pid = node_of[call_stack[-1]]
            key = (pid, names[i])
            nid = node_memo.get(key)
            if nid is None:
                nid = _md5_i64(f"{pid}->{names[i]}")
                node_memo[key] = nid
            node_of[i] = nid
            has_node[i] = True
            call_stack.append(i)
        else:
            ep = match_pos[i]
            if call_stack and call_stack[-1] == ep:
                call_stack.pop()
            else:
                try:
                    call_stack.remove(ep)
                except ValueError:
                    pass
            depth[i] = depth[ep]
            parent_pos[i] = parent_pos[ep]
            node_of[i] = node_of[ep]
            has_node[i] = has_node[ep]


def _sorted_locations(
    df: DataFrame, group_cols: list[str], num_partitions: int | None
) -> DataFrame:
    """The kernels' input contract (module docstring), built JVM-side:
    hash-partition by location (skipped when ``num_partitions`` is
    None — the input is already partitioned by location) and sort each
    partition by (location, timestamp, seq), so every location is one
    contiguous, time-ordered run."""
    if num_partitions is not None:
        df = df.repartition(num_partitions, *group_cols)
    return df.sortWithinPartitions(*group_cols, S.TIMESTAMP, S.SEQ)


def _location_starts(pdf: pd.DataFrame, group_cols: list[str]) -> np.ndarray:
    """Row mask of location starts in a frame laid out per
    :func:`_sorted_locations`, verified in O(n): raises ``ValueError``
    if a location is split into non-contiguous runs or steps backwards
    in (timestamp, seq). Null keys compare equal (factorized to one
    sentinel), so a nullable thread column still groups its null rows."""
    starts = _group_codes(pdf, group_cols)
    starts[:1] = True
    if np.count_nonzero(starts) != len(pdf[group_cols].drop_duplicates()):
        raise ValueError(
            "matching kernel input splits a location into non-contiguous "
            f"runs over {group_cols}; the kernel consumes partitions "
            "sorted by (location, timestamp, seq)"
        )
    ts = pdf[S.TIMESTAMP].to_numpy()
    seq = pdf[S.SEQ].to_numpy()
    back = ~starts[1:] & (
        (ts[1:] < ts[:-1]) | ((ts[1:] == ts[:-1]) & (seq[1:] < seq[:-1]))
    )
    if back.any():
        i = int(np.flatnonzero(back)[0]) + 1
        raise ValueError(
            "matching kernel input goes backwards in (timestamp, seq) "
            f"within a location at row {i}: ({ts[i - 1]}, {seq[i - 1]}) "
            f"then ({ts[i]}, {seq[i]}); the kernel consumes partitions "
            "sorted by (location, timestamp, seq)"
        )
    return starts


def _stack_match_multi(
    pdf: pd.DataFrame, group_cols: list[str], metric_cols: list[str]
) -> pd.DataFrame:
    """Fused matching pass over a partition holding MANY complete
    locations, laid out by :func:`_sorted_locations` (the layout is
    checked, not re-sorted): a VECTORIZED bracket-matching pass over
    the whole frame (r13, guide §4.2 "do the heavy lifting in native
    code"), with the reference's Python stack loops
    (:func:`_match_loops`) as the per-segment fallback for locations
    that fail the well-nested audit.

    Vectorized path, per location segment (numpy, no per-row Python):

    * ``open_after = cumsum(+1 Enter / −1 Leave)`` (segment-rebased);
      the audit accepts a segment iff the running sum never dips below
      zero, ends at zero, and every bracket pair (the k-th Enter and
      k-th Leave at the same (segment, depth), paired by a single
      lexsort) has equal names. For such a segment the reference's
      nearest-same-name stack scan provably pops the top of stack at
      every Leave, i.e. produces EXACTLY the bracket pairing — the two
      algorithms are bit-identical wherever the audit passes (pytest-
      pinned, and the fused pass output is oracle-gated end to end).
    * depth: Enter = open-before, Leave = its Enter's depth, Instant =
      open-after when a call is open (the loop's call-stack semantics).
    * parent: "latest Enter at depth d−1 before me" via one
      ``np.maximum.accumulate`` per depth LEVEL (call trees are
      shallow; levels > ``_VEC_MAX_DEPTH`` reroute the partition to the
      loops). Balanced prefixes guarantee the latest such Enter is the
      open one, and segment-local openness makes cross-segment leakage
      impossible.
    * node ids: level-by-level content addressing — ``np.unique`` over
      (parent node, name code) pairs per level, one md5 per DISTINCT
      call-tree node (not per event, the loop's memo hit rate made
      explicit).

    Identical semantics to running the reference loop one location at a
    time; the pandas fixed costs are paid once per *partition* and the
    per-event cost is a handful of numpy passes instead of two Python
    interpreter loops — the loops only touch malformed segments.
    """
    n = len(pdf)
    evt = pdf[S.EVENT_TYPE].to_numpy()
    names = pdf[S.NAME].to_numpy()
    ts = pdf[S.TIMESTAMP].to_numpy()
    event_ids = pdf[S.EVENT_ID].to_numpy()
    new_group = _location_starts(pdf, group_cols)

    is_enter = np.isin(evt, S.ENTER_TYPES)
    is_leave = np.isin(evt, S.LEAVE_TYPES)
    match_pos = np.full(n, -1, dtype=np.int64)
    depth = np.full(n, -1, dtype=np.int64)
    parent_pos = np.full(n, -1, dtype=np.int64)
    node_of = np.zeros(n, dtype=np.int64)
    has_node = np.zeros(n, dtype=bool)

    if n:
        seg = np.cumsum(new_group) - 1
        nseg = int(seg[-1]) + 1
        delta = is_enter.astype(np.int64) - is_leave.astype(np.int64)
        tot = np.cumsum(delta)
        seg_start = np.flatnonzero(new_group)
        seg_end = np.r_[seg_start[1:] - 1, n - 1]
        base = np.where(seg_start > 0, tot[np.maximum(seg_start - 1, 0)], 0)
        open_after = tot - base[seg]
        open_before = open_after - delta

        # ---- audit: balanced brackets per segment -------------------
        seg_ok = (np.minimum.reduceat(open_after, seg_start) >= 0) & (
            open_after[seg_end] == 0
        )
        max_depth = int(open_after.max()) if seg_ok.any() else 0
        if max_depth > _VEC_MAX_DEPTH:
            seg_ok[:] = False

        el_idx = np.flatnonzero(is_enter | is_leave)
        if seg_ok.any() and len(el_idx):
            d_el = np.where(
                is_enter[el_idx], open_before[el_idx], open_after[el_idx]
            )
            order = np.lexsort((el_idx, d_el, seg[el_idx]))
            srt = el_idx[order]
            ss, dd = seg[srt], d_el[order]
            runstart = np.r_[True, (ss[1:] != ss[:-1]) | (dd[1:] != dd[:-1])]
            run_first = np.flatnonzero(runstart)
            run_len = np.diff(np.r_[run_first, len(srt)])
            runid = np.cumsum(runstart) - 1
            offs = np.arange(len(srt)) - run_first[runid]
            even = offs % 2 == 0
            # alternation (E L E L ...) and even run length are implied
            # by a balanced segment; checked anyway as a cheap guard
            seg_ok[ss[is_enter[srt] != even]] = False
            seg_ok[ss[run_first[run_len % 2 == 1]]] = False

            row_ok = seg_ok[ss]
            e_rows = srt[even & row_ok]
            l_rows = srt[~even & row_ok]
            # within a run evens/odds alternate 1:1, so e_rows/l_rows
            # align pairwise in sorted order
            bad = names[e_rows] != names[l_rows]
            if bad.any():
                seg_ok[seg[e_rows[bad]]] = False
                still_ok = seg_ok[seg[e_rows]]
                e_rows, l_rows = e_rows[still_ok], l_rows[still_ok]
            match_pos[e_rows] = l_rows
            match_pos[l_rows] = e_rows

        row_ok = seg_ok[seg]
        if row_ok.any():
            # ---- depth ---------------------------------------------
            ok_enter = row_ok & is_enter
            ok_leave = row_ok & is_leave
            ok_inst = row_ok & ~is_enter & ~is_leave
            depth[ok_enter] = open_before[ok_enter]
            depth[ok_leave] = open_after[ok_leave]
            inst_open = ok_inst & (open_after > 0)
            depth[inst_open] = open_after[inst_open]

            # ---- parent: latest Enter at level d−1, per level ------
            pos = np.arange(n, dtype=np.int64)
            want = np.full(n, -2, dtype=np.int64)  # -2: no lookup
            want[ok_enter] = open_before[ok_enter] - 1
            want[inst_open] = open_after[inst_open] - 1
            for lev in range(max_depth):
                marks = np.where(
                    ok_enter & (open_before == lev), pos, -1
                )
                last_at = np.maximum.accumulate(marks)
                sel = want == lev
                if sel.any():
                    parent_pos[sel] = last_at[sel]

            # ---- node ids: level-by-level content addressing -------
            name_codes, name_uniq = pd.factorize(names)
            for lev in range(max_depth):
                r = np.flatnonzero(ok_enter & (open_before == lev))
                if not len(r):
                    continue
                pids = (
                    np.full(len(r), -1, dtype=np.int64)
                    if lev == 0
                    else node_of[parent_pos[r]]
                )
                arr = np.stack([pids, name_codes[r].astype(np.int64)], 1)
                uniq, inv = np.unique(arr, axis=0, return_inverse=True)
                inv = np.asarray(inv).reshape(-1)
                vals = np.fromiter(
                    (
                        _md5_i64(f"{p}->{name_uniq[c]}")
                        for p, c in uniq
                    ),
                    dtype=np.int64,
                    count=len(uniq),
                )
                node_of[r] = vals[inv]
                has_node[r] = True

            # ---- leaves copy from their matched Enter --------------
            lr = np.flatnonzero(ok_leave)
            if len(lr):
                ep = match_pos[lr]
                parent_pos[lr] = parent_pos[ep]
                node_of[lr] = node_of[ep]
                has_node[lr] = has_node[ep]

        # ---- fallback: reference loops over failed segments --------
        if not seg_ok.all():
            _match_loops(
                np.flatnonzero(~row_ok), new_group, is_enter, is_leave,
                names, match_pos, depth, parent_pos, node_of, has_node,
            )

    matched = match_pos >= 0
    safe_match = np.where(matched, match_pos, 0)

    out = pdf.copy()
    out[S.MATCHING_EVENT] = pd.array(
        np.where(matched, event_ids[safe_match], 0), dtype="Int64"
    )
    out.loc[~matched, S.MATCHING_EVENT] = pd.NA
    out[S.MATCHING_TS] = pd.array(np.where(matched, ts[safe_match], 0), dtype="Int64")
    out.loc[~matched, S.MATCHING_TS] = pd.NA

    hasd = depth >= 0
    out[S.DEPTH] = pd.array(np.where(hasd, depth, 0), dtype="Int32")
    out.loc[~hasd, S.DEPTH] = pd.NA

    hasp = parent_pos >= 0
    safe_par = np.where(hasp, parent_pos, 0)
    out[S.PARENT] = pd.array(np.where(hasp, event_ids[safe_par], 0), dtype="Int64")
    out.loc[~hasp, S.PARENT] = pd.NA
    out[S.PARENT_NAME] = np.where(hasp, names[safe_par], None)

    out[S.NODE_ID] = pd.array(node_of, dtype="Int64")
    out.loc[~has_node, S.NODE_ID] = pd.NA
    # caller's node id (root calls keep NA): parents are matched Enters,
    # so node_of[parent] is always populated when parent_pos >= 0
    out[S.PARENT_NODE] = pd.array(node_of[safe_par], dtype="Int64")
    out.loc[~hasp, S.PARENT_NODE] = pd.NA

    enter_matched = matched & is_enter
    out[S.TIME_INC] = np.where(
        enter_matched, (ts[safe_match] - ts).astype("float64"), np.nan
    )
    for m in metric_cols:
        vals = pdf[m].to_numpy(dtype="float64", na_value=np.nan)
        out[f"{m}_inc"] = np.where(enter_matched, vals[safe_match] - vals, np.nan)
    return out


def _group_codes(pdf: pd.DataFrame, group_cols: list[str]) -> np.ndarray:
    """Boundary mask helper: per-row location change flags (row 0 is NOT
    flagged — the caller compares it against carried state)."""
    n = len(pdf)
    chg = np.zeros(n, dtype=bool)
    for c in group_cols:
        codes, _ = pd.factorize(pdf[c], use_na_sentinel=True)
        chg[1:] |= codes[1:] != codes[:-1]
    return chg


def _row_group_key(pdf: pd.DataFrame, i: int, group_cols: list[str]) -> tuple:
    return tuple(
        None if pd.isna(v) else v for v in (pdf[c].iloc[i] for c in group_cols)
    )


def _narrow_enter_leave(events: DataFrame, group_cols: list[str]) -> DataFrame:
    """The audit passes' input: a NARROW projection (group cols + order
    keys + name/type/event_id — filters and pruning reach the scan)
    restricted to Enter/Leave rows. Instants never participate in
    pass-1 matching (pipit/trace.py:154-186)."""
    return events.select(
        *group_cols, S.TIMESTAMP, S.SEQ, S.EVENT_TYPE, S.NAME, S.EVENT_ID
    ).filter(F.col(S.EVENT_TYPE).isin(*S.ENTER_TYPES, *S.LEAVE_TYPES))


def _collect_bounded_ids(ids: DataFrame, col: str) -> frozenset[int]:
    """Materialize an id frame with a HARD driver-memory bound: count
    FIRST, collect only under the cap — the driver never holds more
    than ``_AUDIT_CAP`` ids. The id frame is persisted across the two
    actions (its materialized form is tiny — normally EMPTY — while
    its lineage is the full audit scan), so the count runs one fully
    parallel pass and the conditional collect reads the cache instead
    of recomputing. A ``limit(cap+1).collect()`` would bound the same
    way but triggers CollectLimit's serialized partition-wave
    escalation (1, 4, 20, … tasks) on the empty result — measured 25%
    slower at the 120 M rung."""
    ids = ids.persist()
    try:
        n = ids.count()
        if n > _AUDIT_CAP:
            raise ValueError(
                f"chunked matching audit found {n:,} unmatched Enter "
                f"events (cap {_AUDIT_CAP:,}) — this trace is "
                "pathologically truncated; use kernel='location' "
                "(whole-location pass) instead"
            )
        return frozenset(r[col] for r in ids.collect()) if n else frozenset()
    finally:
        ids.unpersist()


def _audit_unmatched_enters_sql(
    events: DataFrame, group_cols: list[str], num_partitions: int | None = None
) -> DataFrame:
    """Chunked-kernel audit, JVM-only form: the lazy frame of unmatched
    Enter event_ids, computed with three window passes and ZERO Python.

    Pass-1 matching decomposes per (location, name): a Leave pops the
    most recently pushed OPEN same-name Enter and never inspects other
    names (pipit/trace.py:170-186 scans the stack for name equality),
    so each (location, name) subsequence follows clamped-counter
    dynamics — Enter: c+=1; Leave: c=max(c-1, 0) (a clamp is an
    unmatched Leave). With s = running Σ(±1) and m = running min(s),
    the clamped counter is c = s − min(0, m); an Enter at post-push
    level c is popped iff the counter ever drops below c afterwards,
    so it is UNMATCHED iff min(c over strictly-later rows) ≥ c (empty
    suffix ⇒ unmatched). One hash shuffle by (location, name), two
    in-partition sorts (asc + desc), all codegen/spillable. The tests
    pin this set against a row-at-a-time Python replay of the stack
    matching.

    ``num_partitions`` pre-shards the narrow frame by the window keys —
    the window execs reuse the hash partitioning (no extra exchange) —
    and bounds ROWS PER WINDOW SORT: the suffix-min pass re-sorts each
    partition in DESC order, and at the 1.2 B rung the default 32
    shuffle partitions put 37 M rows in every sort, spilling it and
    erasing the JVM audit's 2.1× win over the Python replay (SCALING.md
    round-10 billion rung). Callers pass ~8× task parallelism so both
    sorts stay in memory; parallelism is still bounded below by the
    distinct (location, name) key count (window semantics)."""
    narrow = _narrow_enter_leave(events, group_cols)
    keys = [*group_cols, S.NAME]
    if num_partitions is not None:
        narrow = narrow.repartition(num_partitions, *keys)
    asc = Window.partitionBy(*keys).orderBy(S.TIMESTAMP, S.SEQ)
    run = asc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    suffix = (
        Window.partitionBy(*keys)
        .orderBy(F.desc(S.TIMESTAMP), F.desc(S.SEQ))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    is_enter = F.col(S.EVENT_TYPE).isin(*S.ENTER_TYPES)
    stepped = narrow.withColumn(
        "__s", F.sum(F.when(is_enter, 1).otherwise(-1)).over(run)
    )
    counted = stepped.withColumn(
        "__c", F.col("__s") - F.least(F.lit(0), F.min("__s").over(run))
    )
    with_suffix = counted.withColumn("__suf", F.min("__c").over(suffix))
    return with_suffix.filter(
        is_enter
        & (F.col("__suf").isNull() | (F.col("__suf") >= F.col("__c")))
    ).select(S.EVENT_ID)


def _resolve_unmatched(
    events: DataFrame,
    group_cols: list[str],
    num_partitions: int | None,
) -> frozenset[int]:
    """Run the window-function audit EAGERLY (bounded collect — see
    :func:`_collect_bounded_ids`) and return the unmatched-Enter set."""
    # 8× oversharding keeps both window sorts in memory (see the audit's
    # docstring); narrow rows make extra shards cheap
    base = num_partitions or events.sparkSession.sparkContext.defaultParallelism
    ids = _audit_unmatched_enters_sql(events, group_cols, 8 * base)
    return _collect_bounded_ids(ids, S.EVENT_ID)


def _chunked_match(
    events: DataFrame,
    enc: DataFrame,
    map_cols: dict,
    out_schema: T.StructType,
    group_cols: list[str],
    metric_cols: list[str],
    num_partitions: int | None,
    assume_wellformed: bool,
) -> DataFrame:
    """Chunked-kernel driver behind :func:`_match`: resolve the
    unmatched-Enter set with the audit (skipped under
    ``assume_wellformed``), broadcast it (NOT pickled into every task
    closure), and build the emit plan.

    Broadcast lifecycle: the unmatched-set Broadcast (up to ~100 MB at
    the 2 M-id collect cap) is attached to the returned frame as
    ``_unmatched_bc`` so owners can ``destroy()`` it when the frame is
    released (``Trace.unpersist`` does)."""
    unmatched = (
        frozenset() if assume_wellformed
        else _resolve_unmatched(events, group_cols, num_partitions)
    )
    bc = events.sparkSession.sparkContext.broadcast(unmatched)
    out = _chunked_emit_plan(
        enc, out_schema, group_cols, metric_cols, bc, num_partitions,
    )
    out = _decode_map_cols(out, map_cols)
    out._unmatched_bc = bc  # lifetime handle — destroy with the frame
    return out


def _chunked_emit_plan(
    enc: DataFrame,
    out_schema: T.StructType,
    group_cols: list[str],
    metric_cols: list[str],
    unmatched_bc,  # Broadcast[frozenset[int]] — not pickled per task
    num_partitions: int | None,
) -> DataFrame:
    """Build the chunked emit pass: shuffle + JVM-side (spillable) sort
    into bounded Arrow batches, then ONE causal carried-state kernel.
    Pass ``num_partitions=None`` to skip the repartition (input already
    partitioned by location, :func:`match_events_iter` style).

    Stack entries are shared mutable lists
    ``[0 name, 1 ref_kind ('b' this batch / 'p' pending / 'x' emitted-
    unmatched), 2 ref, 3 depth, 4 parent_id, 5 parent_name, 6 node,
    7 parent_node, 8 known_matched, 9 event_id, 10 enter_ts]`` living on
    both replay stacks; only KNOWN-MATCHED open Enters ever buffer their
    full row, so resident state is ∝ stack depth (module docstring)."""
    srt = _sorted_locations(enc, group_cols, num_partitions)
    in_cols = list(enc.columns)
    out_cols = [f.name for f in out_schema.fields]
    derived_cols = (
        [S.MATCHING_EVENT, S.MATCHING_TS, S.DEPTH, S.PARENT, S.PARENT_NAME,
         S.NODE_ID, S.PARENT_NODE, S.TIME_INC]
        + [f"{m}_inc" for m in metric_cols]
    )

    def _attach_derived(base: pd.DataFrame, d: dict[str, list]) -> pd.DataFrame:
        out = base.reset_index(drop=True)
        out[S.MATCHING_EVENT] = pd.array(d[S.MATCHING_EVENT], dtype="Int64")
        out[S.MATCHING_TS] = pd.array(d[S.MATCHING_TS], dtype="Int64")
        out[S.DEPTH] = pd.array(d[S.DEPTH], dtype="Int32")
        out[S.PARENT] = pd.array(d[S.PARENT], dtype="Int64")
        out[S.PARENT_NAME] = pd.Series(d[S.PARENT_NAME], dtype="object")
        out[S.NODE_ID] = pd.array(d[S.NODE_ID], dtype="Int64")
        out[S.PARENT_NODE] = pd.array(d[S.PARENT_NODE], dtype="Int64")
        out[S.TIME_INC] = np.asarray(d[S.TIME_INC], dtype="float64")
        for m in metric_cols:
            out[f"{m}_inc"] = np.asarray(d[f"{m}_inc"], dtype="float64")
        return out[out_cols]

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        unmatched = unmatched_bc.value
        stack1: list[list] = []   # pass-1 replay: ALL open Enters
        call_stack: list[list] = []  # pass-2 replay: known-matched opens
        cur_key: tuple | None = None
        node_memo: dict[tuple[int, str], int] = {}
        pending_rows: dict[int, tuple[pd.DataFrame, tuple]] = {}
        next_token = 0
        done_pending: list[pd.DataFrame] = []
        done_derived: dict[str, list] = {c: [] for c in derived_cols}

        def flush_location() -> None:
            # the audit guarantees every known-matched Enter closes
            # inside its location; anything still open here means
            # unsorted input, an audit from different data, or (with
            # assume_wellformed=True) a truncated trace
            leftover = [e for e in stack1 if e[8]]
            if leftover:
                raise ValueError(
                    "chunked matching kernel: location ended with "
                    f"{len(leftover)} open Enter(s) assumed matched "
                    f"(first name: {leftover[0][0]!r}). If this trace "
                    "has unclosed Enters, re-run with the audit "
                    "(assume_wellformed=False) or kernel='location'."
                )
            stack1.clear()
            call_stack.clear()

        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            chg = _group_codes(pdf, group_cols)
            if cur_key is not None and _row_group_key(pdf, 0, group_cols) != cur_key:
                chg[0] = True
            evt = pdf[S.EVENT_TYPE].to_numpy()
            names = pdf[S.NAME].to_numpy()
            ts = pdf[S.TIMESTAMP].to_numpy()
            ids = pdf[S.EVENT_ID].to_numpy()
            is_enter = np.isin(evt, S.ENTER_TYPES)
            is_leave = np.isin(evt, S.LEAVE_TYPES)
            mvals = {
                m: pdf[m].to_numpy(dtype="float64", na_value=np.nan)
                for m in metric_cols
            }

            NA = pd.NA
            d_match: list = [NA] * n
            d_mts: list = [NA] * n
            d_depth: list = [NA] * n
            d_parent: list = [NA] * n
            d_pname: list = [None] * n
            d_node: list = [NA] * n
            d_pnode: list = [NA] * n
            d_tinc: list = [np.nan] * n
            d_minc = {m: [np.nan] * n for m in metric_cols}
            emit = np.ones(n, dtype=bool)

            for i in range(n):
                if chg[i]:
                    flush_location()
                if is_enter[i]:
                    eid = int(ids[i])
                    if eid not in unmatched:
                        # causal pass 2: every ancestor on call_stack
                        # is known matched, so depth/parent/node are
                        # final at Enter time (pipit/trace.py:240-292)
                        depth_i = len(call_stack)
                        if call_stack:
                            top = call_stack[-1]
                            parent_id, parent_name, pid = top[9], top[0], top[6]
                        else:
                            parent_id, parent_name, pid = None, None, -1
                        key = (pid, names[i])
                        nid = node_memo.get(key)
                        if nid is None:
                            nid = _md5_i64(f"{pid}->{names[i]}")
                            node_memo[key] = nid
                        entry = [
                            names[i], "b", i, depth_i, parent_id,
                            parent_name, nid,
                            (pid if pid != -1 else None), True,
                            eid, int(ts[i]),
                        ]
                        stack1.append(entry)
                        call_stack.append(entry)
                        d_depth[i] = depth_i
                        d_parent[i] = NA if parent_id is None else parent_id
                        d_pname[i] = parent_name
                        d_node[i] = nid
                        d_pnode[i] = NA if pid == -1 else pid
                        emit[i] = False  # match cols arrive at its Leave
                    else:
                        # audited unmatched Enter: all-NA derived, emit
                        # now; stays on stack1 for exact pass-1 replay
                        # (it can never be popped — a pop would have
                        # matched it in the audit too)
                        stack1.append(
                            [names[i], "x", None, None, None, None,
                             None, None, False, eid, int(ts[i])]
                        )
                elif is_leave[i]:
                    hit = None
                    for k in range(len(stack1) - 1, -1, -1):
                        if stack1[k][0] == names[i]:
                            hit = stack1.pop(k)
                            break
                    if hit is None:
                        pass  # unmatched Leave: all-NA derived, emit now
                    elif not hit[8]:
                        raise AssertionError(
                            "chunked matching kernel: a Leave matched an "
                            "Enter the audit declared unmatched — input "
                            "is not ordered the way the audit saw it"
                        )
                    else:
                        try:
                            call_stack.remove(hit)
                        except ValueError:
                            pass
                        # Leave row copies the Enter's stack attrs
                        # (pipit/trace.py:275-279 via the matching row)
                        d_depth[i] = hit[3]
                        d_parent[i] = NA if hit[4] is None else hit[4]
                        d_pname[i] = hit[5]
                        d_node[i] = hit[6]
                        d_pnode[i] = NA if hit[7] is None else hit[7]
                        d_match[i] = hit[9]
                        d_mts[i] = hit[10]
                        if hit[1] == "b":
                            j = hit[2]
                            d_match[j] = int(ids[i])
                            d_mts[j] = int(ts[i])
                            d_tinc[j] = float(ts[i] - ts[j])
                            for m in metric_cols:
                                d_minc[m][j] = mvals[m][i] - mvals[m][j]
                            emit[j] = True
                        else:
                            row, emv = pending_rows.pop(hit[2])
                            done_pending.append(row)
                            done_derived[S.MATCHING_EVENT].append(int(ids[i]))
                            done_derived[S.MATCHING_TS].append(int(ts[i]))
                            done_derived[S.DEPTH].append(hit[3])
                            done_derived[S.PARENT].append(
                                NA if hit[4] is None else hit[4]
                            )
                            done_derived[S.PARENT_NAME].append(hit[5])
                            done_derived[S.NODE_ID].append(hit[6])
                            done_derived[S.PARENT_NODE].append(
                                NA if hit[7] is None else hit[7]
                            )
                            done_derived[S.TIME_INC].append(
                                float(ts[i] - hit[10])
                            )
                            for mi, m in enumerate(metric_cols):
                                done_derived[f"{m}_inc"].append(
                                    mvals[m][i] - emv[mi]
                                )
                else:
                    # Instant: inherits the innermost known-matched open
                    # call (free in the same pass — enables
                    # comm_by_function without a join; node_id stays NA
                    # like the reference, which skips instants entirely)
                    if call_stack:
                        top = call_stack[-1]
                        d_depth[i] = top[3] + 1
                        d_parent[i] = top[9]
                        d_pname[i] = top[0]
                        d_pnode[i] = top[6]

            # batch flush: still-open in-batch Enters move to the
            # pending store — the ONLY rows the kernel buffers
            for e in stack1:
                if e[1] == "b":
                    j = e[2]
                    tok = next_token
                    next_token += 1
                    pending_rows[tok] = (
                        pdf.iloc[[j]][in_cols],
                        tuple(float(mvals[m][j]) for m in metric_cols),
                    )
                    e[1], e[2] = "p", tok
                # "x" entries (audited unmatched) carry no row ref —
                # created with ref None, nothing to migrate
            cur_key = _row_group_key(pdf, n - 1, group_cols)

            full = _attach_derived(
                pdf[in_cols],
                {
                    S.MATCHING_EVENT: d_match, S.MATCHING_TS: d_mts,
                    S.DEPTH: d_depth, S.PARENT: d_parent,
                    S.PARENT_NAME: d_pname, S.NODE_ID: d_node,
                    S.PARENT_NODE: d_pnode, S.TIME_INC: d_tinc,
                    **{f"{m}_inc": d_minc[m] for m in metric_cols},
                },
            )
            outs = [full[emit]]
            if done_pending:
                outs.append(_attach_derived(
                    pd.concat(done_pending, ignore_index=True), done_derived
                ))
                done_pending = []
                done_derived = {c: [] for c in derived_cols}
            yield (
                pd.concat(outs, ignore_index=True) if len(outs) > 1 else outs[0]
            )

        flush_location()
        if done_pending:
            yield _attach_derived(
                pd.concat(done_pending, ignore_index=True), done_derived
            )

    return srt.mapInPandas(gen, schema=out_schema)


def _dedup_matched_schema(
    enc_schema: T.StructType, metric_cols: list[str]
) -> T.StructType:
    """matched_schema with name collisions resolved: if the input
    already carries a column named like a derived one, the fused pass's
    column REPLACES it (both kernels assign by name in pandas, so the
    duplicate field would otherwise make the declared schema one column
    wider than the frame — a latent crash found by the round-9 golden
    sweep: the HPCToolkit reader emits the meta.db context id as
    ``node_id``, colliding with the matching pass's CCT node column).
    The reader's raw value stays available on the pre-match ``events``
    frame; on ``matched``, derived names mean the matching pass's
    semantics — the same rule the derived-checkpoint split
    (trace._DERIVED_COLS) already applies."""
    base = S.matched_schema(enc_schema, metric_cols)
    seen: dict[str, int] = {}
    fields: list[T.StructField] = []
    for f in base.fields:
        if f.name in seen:
            fields[seen[f.name]] = f  # derived field wins, in place
        else:
            seen[f.name] = len(fields)
            fields.append(f)
    return T.StructType(fields)


def _match(
    events: DataFrame,
    metric_cols: list[str] | None,
    kernel: str,
    assume_wellformed: bool,
    num_partitions: int | None,
) -> DataFrame:
    """Body of :func:`match_events` / :func:`match_events_iter`: check
    the kernel, encode the map columns, build the output schema and
    location keys, then plan the chosen kernel over
    :func:`_sorted_locations` (``num_partitions=None`` skips its
    repartition). The location kernel is ONE ``mapInPandas`` running
    :func:`_stack_match_multi` over each whole partition."""
    if kernel not in ("location", "chunked"):
        raise ValueError(f"kernel must be 'location' or 'chunked', got {kernel!r}")
    metric_cols = list(metric_cols or [])
    enc, map_cols = _encode_map_cols(events)
    out_schema = _dedup_matched_schema(enc.schema, metric_cols)
    group_cols = [S.PROCESS] + ([S.THREAD] if S.THREAD in events.columns else [])

    if kernel == "chunked":
        return _chunked_match(
            events, enc, map_cols, out_schema, group_cols, metric_cols,
            num_partitions, assume_wellformed,
        )

    emit_step = int(get_option("matching.max_records_per_batch"))

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        parts = list(batches)
        if not parts:
            return
        pdf = pd.concat(parts, ignore_index=True)
        if not pdf.empty:
            yield from _emit_slices(
                _stack_match_multi(pdf, group_cols, metric_cols), emit_step
            )

    out = _sorted_locations(enc, group_cols, num_partitions).mapInPandas(
        gen, schema=out_schema
    )
    return _decode_map_cols(out, map_cols)


def match_events(
    events: DataFrame,
    metric_cols: list[str] | None = None,
    num_partitions: int | None = None,
    kernel: str = "location",
    assume_wellformed: bool = False,
) -> DataFrame:
    """Run the fused matching pass over the whole trace.

    Returns the input columns plus ``matching_event_id``,
    ``matching_timestamp_ns``, ``depth``, ``parent_event_id``, ``node_id``,
    ``time_inc`` and ``<metric>_inc`` for each requested metric column.

    Physical plan: ONE hash shuffle by (process[, thread]) into
    ``num_partitions`` tasks (default: cluster parallelism for the
    location kernel; the chunked kernel SELF-SIZES to
    ``~_CHUNKED_ROWS_PER_TASK`` rows per task via one cheap count —
    the round-11 heap-floor rule — except under ``assume_wellformed``,
    which stays fully lazy and keeps the bare default), a JVM
    ``sortWithinPartitions(process[, thread], timestamp_ns, seq)``
    (the kernels' input contract; it also lets Catalyst eliminate an
    upstream global sort such as the readers' ``order="trace"``, see
    the module docstring), then a single ``mapInPandas`` pass per
    partition running the multi-location kernel — every location is
    one contiguous run of its partition, and the per-location pandas
    fixed costs are amortized across the whole partition. This
    replaces the earlier ``groupBy().applyInPandas`` plan, which paid one
    Arrow round-trip + pandas sort/copy per location (2.5× slower with
    1,500 locations at sf0.1; the gap widens with location count, which is
    exactly the axis traces grow along).

    Scale envelope of the location kernel: a partition (several complete
    locations) must fit in executor memory — raise ``num_partitions`` to
    shrink partitions toward one location each; the limit is then the
    reference's own per-worker envelope (one location's events in RAM).
    The round-11 skew rung found a second, harder wall — the kernel
    emitted each partition as ONE Arrow batch, so a location whose
    output exceeded 2 GiB in any string column (~45-60 M events of the
    canonical schema) could not be serialized at all. Round 12 deleted
    that wall: the emit now yields bounded row slices
    (:func:`_emit_slices`, ``matching.max_records_per_batch`` rows per
    Arrow batch), so the location kernel is correct at any location
    width and its envelope is purely the worker-RSS one above.
    ``kernel="chunked"`` deletes that envelope entirely (resident state
    ∝ stack depth — module docstring); it costs one extra NARROW audit
    scan (Enter/Leave keys only, pruned at the source), a pure
    window-function plan with zero Python
    (:func:`_audit_unmatched_enters_sql`) that runs EAGERLY at call
    time (a bounded-collect Spark job — the one laziness exception in
    this module).

    ``assume_wellformed=True`` skips the audit outright for traces
    known to close every Enter; a violating location then fails loudly
    instead of emitting wrong depths. Choose "chunked" whenever
    events-per-location × concurrent tasks threatens executor memory
    (the round-8 1.2 B capstone's binding constraint).
    """
    base = events.sparkSession.sparkContext.defaultParallelism
    n_part = num_partitions or base
    # self-sizing (round-11 heap-floor rule): unless the caller sized
    # the pass, shard the chunked emit at ~_CHUNKED_ROWS_PER_TASK rows
    # per task instead of bare cluster parallelism — at the billion
    # tier the default under-shards into emit sorts that OOM stock
    # heaps. The count is one narrow job (1.3-4 s on a 1.2 B parquet,
    # metadata-dominated; on a DERIVED plan it re-executes that plan
    # once) on a path that is already eager (the audit);
    # assume_wellformed=True keeps the pass fully lazy and therefore
    # keeps the bare default — those callers size explicitly
    # (examples/billion_scale.py does).
    #   * throughput (r04 rung): ~500k rows/task;
    #   * capped at max(heap-rule shards, 8× parallelism) — the
    #     repartition hashes by location, so shards past the location
    #     count are empty and nearly free, but unbounded oversharding
    #     buys nothing; 8× parallelism matches the audit's r10
    #     oversharding rule and the validated 1.2 B band (128-256
    #     shards);
    #   * never below 2 × ceil(rows / 10 M) — the r11 heap floor
    #     (37 M-row shards OOM a stock 8 g / 32-task box; the 2× is
    #     hash-collision spread).
    if kernel == "chunked" and num_partitions is None and not assume_wellformed:
        rows = events.count()
        heap_shards = 2 * -(-rows // _CHUNKED_ROWS_PER_TASK)
        n_part = max(
            base,
            min(-(-rows // _CHUNKED_TARGET_ROWS), max(heap_shards, 8 * base)),
        )
    return _match(events, metric_cols, kernel, assume_wellformed, n_part)


def match_events_iter(
    events: DataFrame,
    metric_cols: list[str] | None = None,
    kernel: str = "location",
    assume_wellformed: bool = False,
) -> DataFrame:
    """Variant for traces already partitioned by location on disk —
    avoids the shuffle entirely (zero-exchange plan when the parquet
    layout matches). Same kernels and audit as :func:`match_events`,
    minus the repartition: each input partition must hold COMPLETE
    locations (any row order — the in-partition sort of the input
    contract still runs). NOTE: like there, the chunked kernel's audit
    runs EAGERLY at call time (a bounded-collect Spark job) and
    shuffles its narrow projection by (location, name) for the window
    pass.
    """
    return _match(events, metric_cols, kernel, assume_wellformed, None)

