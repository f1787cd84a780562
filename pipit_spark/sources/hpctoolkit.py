"""HPCToolkit db source — a ground-up parser of the v4.0 binary format
(documented in the database's own FORMATS.md) re-expressed for Spark.

Reference parity: pipit/readers/hpctoolkit_reader.py (1378 LoC). The
observable semantics reproduced here:

* ``meta.db``: context-tree contexts of lexical type line(2)/instr(3) do
  NOT become call-tree nodes — samples at them resolve to the nearest
  enclosing function/loop/entry node (hpctoolkit_reader.py:733-739).
  Loop contexts are named ``loop``; functions take their name string
  verbatim (hpcprof already embeds ``[module]``); unnamed functions
  become ``<unkown function>`` (sic, hpctoolkit_reader.py:160-164);
  entry points use their pretty name, e.g. ``main thread``.
* ``profile.db``: hierarchical identifier tuples give each profile its
  RANK / THREAD / NODE / CORE identification (FORMATS.md §profile.db).
* ``trace.db``: one trace line per thread; consecutive samples at
  contexts A→B emit Leaves walking A up to LCA(A,B) then Enters down to
  B (hpctoolkit_reader.py:1194-1337); ctxId 0 means idle; a final
  Leave-unwind closes the stack at ``maxTimestamp``. Loop nodes emit
  ``Loop Enter``/``Loop Leave`` event types. Timestamps are normalized
  by ``minTimestamp`` and the result is globally sorted by
  (timestamp, emission order) (hpctoolkit_reader.py:1348-1378).

Spark shape (SURVEY §2.1): driver parses the small meta/profile dbs and
broadcasts plain dicts; the per-thread trace lines (the bulk) are packed
by their byte ranges into core-sized parse tasks through the binary
readers' shared driver (sources/packed.py, the same packing, bounded
chunk flush and rows→pandas step as the OTF2 reader). Each line reads
only its ``[pStart, pEnd)`` byte range of trace.db and runs the
numpy-backed reconstruction kernel — embarrassingly parallel across
threads, no shuffle until the final sort.
"""

from __future__ import annotations

import struct

import numpy as np

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from .packed import _truncated, group_frame, parse_units

from .. import schema as S


# ------------------------------------------------------------------ util
def _u16(b: bytes, off: int) -> int:
    return struct.unpack_from("<H", b, off)[0]


def _u32(b: bytes, off: int) -> int:
    return struct.unpack_from("<I", b, off)[0]


def _u64(b: bytes, off: int) -> int:
    return struct.unpack_from("<Q", b, off)[0]


def _cstr(b: bytes, off: int) -> str:
    end = b.index(0, off)
    return b[off:end].decode("utf-8", errors="replace")


def _header_sections(buf: bytes, fmt: bytes, n: int) -> list[tuple[int, int]]:
    """Common file header: magic, 4-byte format id, versions, then n
    (size, pointer) section pairs starting at 0x10."""
    if buf[:10] != b"HPCTOOLKIT":
        raise ValueError("not an HPCToolkit db file")
    if buf[10:14] != fmt:
        raise ValueError(f"expected format {fmt!r}, got {buf[10:14]!r}")
    out = []
    for i in range(n):
        off = 0x10 + 16 * i
        out.append((_u64(buf, off), _u64(buf, off + 8)))
    return out


# --------------------------------------------------------------- meta.db
def parse_meta(path: str) -> dict:
    """Parse meta.db into plain broadcastable dicts.

    Returns {resolve: ctx_id→node_ctx_id, parent: node→parent_node|None,
    name: node→str, is_loop: node→bool, kind_names: kind→str}.
    """
    with open(path, "rb") as f:
        buf = f.read()
    # header sections in order: General, IdNames, Metrics, Context,
    # Strings, Modules, Files, Functions
    sections = _header_sections(buf, b"meta", 8)
    (_, p_idnames) = sections[1]
    (_, p_context) = sections[3]
    (_, p_functions) = sections[7]

    # identifier kind names
    pp_names = _u64(buf, p_idnames)
    n_kinds = buf[p_idnames + 8]
    kind_names = {
        k: _cstr(buf, _u64(buf, pp_names + 8 * k)) for k in range(n_kinds)
    }

    # functions: name string per FS offset (keyed by absolute offset so
    # {Ctx}.flex pFunction pointers resolve directly)
    p_fn_arr = _u64(buf, p_functions)
    n_fns = _u32(buf, p_functions + 8)
    sz_fn = _u16(buf, p_functions + 12)
    fn_name_at: dict[int, str] = {}
    for i in range(n_fns):
        off = p_fn_arr + i * sz_fn
        p_name = _u64(buf, off)
        fn_name_at[off] = _cstr(buf, p_name) if p_name else "<unkown function>"

    # context tree
    resolve: dict[int, int] = {}   # any ctx id -> nearest node ctx id
    parent: dict[int, int | None] = {}
    name: dict[int, str] = {}
    is_loop: dict[int, bool] = {}

    p_entries = _u64(buf, p_context)
    n_entries = _u16(buf, p_context + 8)
    sz_entry = buf[p_context + 10]

    # iterative stack of (children_pointer, children_size, parent_node)
    stack: list[tuple[int, int, int | None]] = []
    for i in range(n_entries):
        off = p_entries + i * sz_entry
        sz_children = _u64(buf, off)
        p_children = _u64(buf, off + 8)
        ctx_id = _u32(buf, off + 16)
        p_pretty = _u64(buf, off + 24)
        resolve[ctx_id] = ctx_id
        parent[ctx_id] = None
        name[ctx_id] = _cstr(buf, p_pretty) if p_pretty else "entry"
        is_loop[ctx_id] = False
        stack.append((p_children, sz_children, ctx_id))

    while stack:
        p_arr, sz, parent_node = stack.pop()
        if not p_arr or sz <= 0:
            continue
        pos, end = p_arr, p_arr + sz
        while pos < end:
            sz_children = _u64(buf, pos)
            p_children = _u64(buf, pos + 8)
            ctx_id = _u32(buf, pos + 16)
            flags = buf[pos + 20]
            lexical_type = buf[pos + 22]
            n_flex = buf[pos + 23]
            flex_off = pos + 32
            pos = flex_off + 8 * n_flex

            fn_ptr = None
            fo = flex_off
            if flags & 1:  # hasFunction → flex[0]: FS* (one u64 word)
                fn_ptr = _u64(buf, fo)
                fo += 8

            if lexical_type in (2, 3):
                # line / instruction: no node — samples resolve upward
                resolve[ctx_id] = resolve[parent_node]
                next_parent = parent_node
            else:
                resolve[ctx_id] = ctx_id
                parent[ctx_id] = resolve[parent_node]
                if lexical_type == 1:
                    name[ctx_id] = "loop"
                    is_loop[ctx_id] = True
                else:
                    name[ctx_id] = (
                        fn_name_at.get(fn_ptr, "<unkown function>")
                        if fn_ptr
                        else "<unkown function>"
                    )
                    is_loop[ctx_id] = False
                next_parent = ctx_id
            stack.append((p_children, sz_children, next_parent))

    return {
        "resolve": resolve,
        "parent": parent,
        "name": name,
        "is_loop": is_loop,
        "kind_names": kind_names,
    }


# ------------------------------------------------------------ profile.db
def parse_profiles(path: str, kind_names: dict[int, str]) -> dict[int, dict]:
    """profile index → {kind_name: logical_or_physical_id}."""
    with open(path, "rb") as f:
        buf = f.read()
    (_, p_infos), _ = _header_sections(buf, b"prof", 2)
    p_arr = _u64(buf, p_infos)
    n_profiles = _u32(buf, p_infos + 8)
    sz_profile = buf[p_infos + 12]

    out: dict[int, dict] = {}
    for i in range(n_profiles):
        off = p_arr + i * sz_profile
        p_tuple = _u64(buf, off + 0x20)
        ids: dict[str, int] = {}
        if p_tuple:
            n_ids = _u16(buf, p_tuple)
            for j in range(n_ids):
                ioff = p_tuple + 8 + 16 * j
                kind = buf[ioff]
                flags = _u16(buf, ioff + 2)
                logical = _u32(buf, ioff + 4)
                physical = _u64(buf, ioff + 8)
                kname = kind_names.get(kind, str(kind))
                # logical ids are dense toward 0 → human-facing value;
                # physical only for physical-only kinds (NODE, CORE)
                ids[kname] = physical if (flags & 1) and kname in (
                    "NODE", "CORE"
                ) else logical
        out[i] = ids
    return out


# -------------------------------------------------------------- trace.db
def parse_trace_headers(path: str) -> tuple[list[tuple[int, int, int]], int, int]:
    """Returns ([(prof_index, p_start, p_end)...], min_ts, max_ts)."""
    with open(path, "rb") as f:
        buf = f.read(4096)
        (_, p_cth) = _header_sections(buf, b"trce", 1)[0]
        f.seek(p_cth)
        hdr = f.read(0x20)
        p_traces = _u64(hdr, 0)
        n_traces = _u32(hdr, 8)
        sz_trace = hdr[12]
        min_ts = _u64(hdr, 0x10)
        max_ts = _u64(hdr, 0x18)
        headers = []
        for i in range(n_traces):
            f.seek(p_traces + i * sz_trace)
            th = f.read(sz_trace)
            headers.append((_u32(th, 0), _u64(th, 8), _u64(th, 16)))
    return headers, min_ts, max_ts


def _reconstruct_line(
    trace_path: str,
    p_start: int,
    p_end: int,
    min_ts: int,
    max_ts: int,
    resolve: dict[int, int],
    parent: dict[int, int | None],
    name: dict[int, str],
    is_loop: dict[int, bool],
):
    """Enter/Leave reconstruction for one thread's trace line.

    Yields (ts, event_type, name, node_ctx_id, emit_idx). Sample decode
    is vectorized (numpy structured view over the 12-byte elements +
    consecutive-duplicate elimination); only context *changes* run the
    Python path-diff loop. A ``[p_start, p_end)`` range that runs past
    the end of ``trace.db`` or holds a partial sample raises
    ``ValueError`` naming the file and the byte offset.
    """
    span = f"sample line [{p_start}, {p_end})"
    if p_end < p_start or (p_end - p_start) % 12:
        raise _truncated(trace_path, p_start,
                         f"{span} is not a whole number of 12-byte samples")
    with open(trace_path, "rb") as f:
        f.seek(p_start)
        raw = f.read(p_end - p_start)
    if p_start + len(raw) < p_end:
        raise _truncated(trace_path, p_start + len(raw),
                         f"{span} runs past the end of the file")
    elems = np.frombuffer(raw, dtype=np.dtype([("ts", "<u8"), ("ctx", "<u4")]))
    if len(elems) == 0:
        return

    # resolve each sampled ctx to its node (line/instr → enclosing node),
    # then drop consecutive duplicates (reference: `context_id == last_id`
    # first, THEN node resolution — but equal ctx ⇒ equal node, and a
    # changed ctx resolving to the same node diffs to an empty walk, so
    # the emitted events are identical)
    nodes = np.array([resolve.get(int(c), 0) for c in elems["ctx"]], dtype=np.int64)
    ts = elems["ts"].astype(np.int64) - min_ts
    keep = np.ones(len(nodes), dtype=bool)
    keep[1:] = nodes[1:] != nodes[:-1]
    nodes, ts = nodes[keep], ts[keep]

    def path_of(node: int) -> list[int]:
        out: list[int] = []
        n: int | None = node
        while n is not None and n != 0:
            out.append(n)
            n = parent.get(n)
        out.reverse()
        return out

    emit = 0
    prev_path: list[int] = []
    for t, node in zip(ts.tolist(), nodes.tolist()):
        path = path_of(node) if node != 0 else []
        k = 0
        while k < len(prev_path) and k < len(path) and prev_path[k] == path[k]:
            k += 1
        for n in reversed(prev_path[k:]):
            yield (t, "Loop Leave" if is_loop.get(n) else "Leave",
                   name.get(n, str(n)), n, emit)
            emit += 1
        for n in path[k:]:
            yield (t, "Loop Enter" if is_loop.get(n) else "Enter",
                   name.get(n, str(n)), n, emit)
            emit += 1
        prev_path = path

    t_end = max_ts - min_ts
    for n in reversed(prev_path):
        yield (t_end, "Loop Leave" if is_loop.get(n) else "Leave",
               name.get(n, str(n)), n, emit)
        emit += 1


_EXTRA_FIELDS = [
    T.StructField("core", T.LongType(), True),
    T.StructField("host", T.LongType(), True),
    # the meta.db context id of each event's CCT node — named ctx_id,
    # NOT node_id, so it never collides with the matching pass's derived
    # CCT column and survives on `matched` and in derived checkpoints
    # (the reference keeps both too: reader 'Node' vs create_cct
    # 'Graph_Node'; r09 ADVICE item 2)
    T.StructField("ctx_id", T.LongType(), True),
]

_HPCT_SCHEMA = T.StructType(list(S.CORE_FIELDS) + _EXTRA_FIELDS)

_HDR_SCHEMA = T.StructType([
    T.StructField("hdr_idx", T.LongType(), False),
    T.StructField("prof_index", T.LongType(), False),
    T.StructField("p_start", T.LongType(), False),
    T.StructField("p_end", T.LongType(), False),
])


def read_hpctoolkit(
    spark: SparkSession, dirname: str, order: str = "trace"
) -> DataFrame:
    """Distributed HPCToolkit read: canonical events DataFrame.

    order="trace" (default) reproduces the reference's global
    (timestamp, seq) frame order (hpctoolkit_reader.py:1353-1363) —
    one range shuffle. order="process" skips it: each output
    partition holds whole trace lines, each in timestamp order (the LCA
    reconstruction emits them that way), which is all the engine's
    own operators need — their windows partition by (process, thread)
    and sort internally. At cluster scale "process" removes the
    single shuffle on the ingest path.
    """
    # validate BEFORE any file I/O: parse_meta/parse_profiles read the
    # database eagerly on the driver, and a typo'd order value should
    # fail in milliseconds, not after minutes of parsing a large db
    if order not in ("trace", "process"):
        raise ValueError(f"order must be 'trace' or 'process', got {order!r}")
    meta = parse_meta(f"{dirname}/meta.db")
    profiles = parse_profiles(f"{dirname}/profile.db", meta["kind_names"])
    headers, min_ts, max_ts = parse_trace_headers(f"{dirname}/trace.db")

    trace_path = f"{dirname}/trace.db"
    b = spark.sparkContext.broadcast(
        (meta["resolve"], meta["parent"], meta["name"], meta["is_loop"], profiles)
    )

    def rows_of(hdr_idx, prof_index, p_start, p_end):
        resolve, parent, name, is_loop, profs = b.value
        hit = profs.get(int(prof_index), {})
        process = int(hit.get("RANK", 0))
        thread = int(hit.get("THREAD", 0))
        core = hit.get("CORE")
        host = hit.get("NODE")
        # reproduce the reference's global append order for equal
        # timestamps: lines append header-by-header
        base = int(hdr_idx) * 100_000_000
        for t, etype, nm, node, idx in _reconstruct_line(
            trace_path, int(p_start), int(p_end), min_ts, max_ts,
            resolve, parent, name, is_loop,
        ):
            if idx >= 100_000_000:
                # mirror the OTF2 reader's 2^32 guard: a silent roll
                # into the next header's id space would corrupt
                # ordering and matching
                raise ValueError(
                    f"trace line {hdr_idx} exceeds 1e8 reconstructed "
                    "events — packed event ids would collide; widen the "
                    "id scheme"
                )
            seq = base + idx
            yield (seq, int(t), seq, etype, nm, process, thread, None,
                   core, host, node)

    # one parse task per byte-balanced group of whole trace lines, the
    # way read_otf2_native packs location files
    lines = [(i, int(pi), int(s), int(e))
             for i, (pi, s, e) in enumerate(headers)]
    sizes = [e - s for _i, _pi, s, e in lines]
    events = parse_units(
        group_frame(spark, lines, sizes, _HDR_SCHEMA), rows_of, _HPCT_SCHEMA
    )
    # reference sorts globally by (timestamp, emission index)
    # (hpctoolkit_reader.py:1353-1363); within-location order is what the
    # matching pass consumes — order="process" returns the packed
    # partitions as parsed, order="trace" pays the parity range shuffle
    if order == "trace":
        events = events.orderBy(S.TIMESTAMP, S.SEQ)
    return events
