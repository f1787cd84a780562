"""Native OTF2 (Score-P) trace reader — no external ``otf2`` dependency.

A ground-up parser of the OTF2 archive layout (anchor + ``traces.def``
global definitions + per-location ``traces/<ref>.evt`` event files),
validated record-by-record against the reference's golden ping-pong
trace (pipit/tests/otf2-tests.py: 120 events, 60/rank, exact name set,
533 definition records across 17 types).

Binary grammar (empirically verified on Score-P 7.1 output):

* every ``.def``/``.evt`` file: 2-byte magic ``03 42`` + u64 chunk id +
  u64 event count, then a record stream, terminated by type ``0x02``;
* integers are size-prefixed: 1 length byte n (0xFF = undefined/None)
  followed by n little-endian bytes;
* ``0x05`` in event files is a timestamp record (8 raw LE bytes) that
  applies to the following event; in the global def file ``0x05`` is
  ClockProperties (timerResolution, globalOffset, traceLength);
* other records: type byte + payload-length byte + payload of
  size-prefixed fields (enums ride as 1-byte values).

Spark shape mirrors the reference's multiprocessing fan-out
(otf2_reader.py:436-452): the tiny definitions parse on the driver and
broadcast; whole location ``.evt`` files, packed by bytes into
core-sized groups, are the executor tasks (the archive must be on
shared storage, same requirement as the reference). This is the only
OTF2 reader: the packing, the bounded chunk flush and the rows→pandas
step are the binary readers' shared driver (sources/packed.py).

A stream that runs past the end of its file, or ends without its
``0x02`` end-of-stream record, raises ``ValueError`` naming the file
and the byte offset — a truncated ``.evt`` never yields a prefix of
its events as if it were whole.
"""

from __future__ import annotations

import glob
import os

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from .. import schema as S
from .packed import group_frame, parse_units

# global definition record ids (OTF2_GlobalDefinitions.h public ids),
# named as the otf2 python bindings name them (pipit's def_type values)
GLOBAL_DEF_NAMES = {
    5: "ClockProperties",
    6: "Paradigm",
    7: "ParadigmProperty",
    8: "IoParadigm",
    10: "String",
    11: "Attribute",
    12: "SystemTreeNode",
    13: "LocationGroup",
    14: "Location",
    15: "Region",
    16: "Callsite",
    17: "Callpath",
    18: "Group",
    19: "MetricMember",
    20: "MetricClass",
    21: "MetricInstance",
    22: "Comm",
    23: "Parameter",
    24: "RmaWin",
    25: "MetricClassRecorder",
    26: "SystemTreeNodeProperty",
    27: "SystemTreeNodeDomain",
    28: "LocationGroupProperty",
    29: "LocationProperty",
    30: "CartDimension",
    31: "CartTopology",
    32: "CartCoordinate",
    33: "SourceCodeLocation",
    34: "CallingContext",
    35: "CallingContextProperty",
    36: "InterruptGenerator",
    37: "IoFileProperty",
    38: "IoRegularFile",
    39: "IoDirectory",
    40: "IoHandle",
    41: "IoPreCreatedHandleState",
    42: "CallpathParameter",
}

# event record ids (subset; Enter/Leave/sends/recvs/program markers are
# golden-verified, the rest become Instants named by record, matching
# the reference's collapse of non-Enter/Leave events to Instant rows
# with the event-type name, otf2_reader.py:293-302)
EVT_ENTER = 0x0C
EVT_LEAVE = 0x0D
EVT_MPI_SEND = 0x0E
EVT_MPI_ISEND = 0x0F
EVT_MPI_ISEND_COMPLETE = 0x10
EVT_MPI_IRECV_REQUEST = 0x11
EVT_MPI_RECV = 0x12
EVT_MPI_IRECV = 0x13
EVT_METRIC = 0x1F
EVT_PROGRAM_BEGIN = 0x53
EVT_PROGRAM_END = 0x54
EVT_NAMES = {
    EVT_MPI_SEND: "MpiSend",
    EVT_MPI_ISEND: "MpiIsend",
    EVT_MPI_ISEND_COMPLETE: "MpiIsendComplete",
    EVT_MPI_IRECV_REQUEST: "MpiIrecvRequest",
    EVT_MPI_RECV: "MpiRecv",
    EVT_MPI_IRECV: "MpiIrecv",
    EVT_PROGRAM_BEGIN: "ProgramBegin",
    EVT_PROGRAM_END: "ProgramEnd",
}

_HEADER_LEN = 18
_END_OF_STREAM = 0x02
_TIMESTAMP = 0x05
_ATTRIBUTE_LIST = 0x06


def _sp_int(buf: bytes, pos: int) -> tuple[int | None, int]:
    """Size-prefixed integer: length byte (0xFF = undefined) + LE bytes."""
    n = buf[pos]
    if n == 0xFF:
        return None, pos + 1
    return int.from_bytes(buf[pos + 1: pos + 1 + n], "little"), pos + 1 + n


def _records(buf: bytes, with_timestamps: bool, source: str):
    """Yield (timestamp|None, record_type, payload) from a record
    stream; ``ValueError`` naming ``source`` and the byte offset when a
    record or timestamp runs past the end of ``buf`` or the stream ends
    without its end-of-stream record."""
    n = len(buf)
    pos = _HEADER_LEN
    ts = None
    while pos < n:
        t = buf[pos]
        if t == _END_OF_STREAM:
            return
        if with_timestamps and t == _TIMESTAMP:
            end = pos + 9
            if end > n:
                raise _truncated(source, pos, f"timestamp overruns {n} bytes")
            ts = int.from_bytes(buf[pos + 1: end], "little")
            pos = end
            continue
        if pos + 1 == n or (end := pos + 2 + buf[pos + 1]) > n:
            raise _truncated(source, pos, f"record 0x{t:02x} overruns {n} bytes")
        payload = buf[pos + 2: end]
        pos = end
        yield ts, t, payload
    raise _truncated(source, n, "no end-of-stream record")


def _truncated(source: str, pos: int, detail: str) -> ValueError:
    return ValueError(f"{source}: truncated at byte {pos}: {detail}")


def parse_global_defs(path: str) -> dict:
    """Driver-side parse of traces.def → lookup dicts + definition rows."""
    with open(path, "rb") as f:
        buf = f.read()
    strings: dict[int, str] = {}
    region_name: dict[int, int] = {}
    locations: list[tuple[int, int, int]] = []  # (loc_ref, name_ref, group_ref)
    clock = {"resolution": 1_000_000_000, "offset": 0}
    metric_members: dict[int, int] = {}  # member ref -> name string ref
    metric_class_members: dict[int, list[int]] = {}  # class ref -> member refs
    def_rows: list[tuple[str, int | None, dict | None]] = []

    for _, t, p in _records(buf, with_timestamps=False, source=path):
        name = GLOBAL_DEF_NAMES.get(t, f"Def{t}")
        ref = None
        attrs: dict[str, str] = {}
        if t == 10:  # String: ref + NUL-terminated text
            ref, q = _sp_int(p, 0)
            strings[ref] = p[q:-1].decode("utf-8", errors="replace")
            attrs["name"] = strings[ref]
        elif t == 15:  # Region: ref, name ref, ...
            ref, q = _sp_int(p, 0)
            nref, _ = _sp_int(p, q)
            region_name[ref] = nref
            attrs["name"] = str(nref)
        elif t == 14:  # Location: ref, name, type(u8), numEvents, group
            ref, q = _sp_int(p, 0)
            nref, q = _sp_int(p, q)
            q += 1  # location type enum, 1 raw byte
            nev, q = _sp_int(p, q)
            group, q = _sp_int(p, q)
            locations.append((ref, nref, group or 0))
            attrs = {"name": str(nref), "group": str(group or 0),
                     "num_events": str(nev)}
        elif t == 5:  # ClockProperties: resolution, offset, length
            res, q = _sp_int(p, 0)
            off, q = _sp_int(p, q)
            clock = {"resolution": res, "offset": off}
            attrs = {"timer_resolution": str(res), "global_offset": str(off)}
        elif t == 19:  # MetricMember: ref, name ref, ...
            ref, q = _sp_int(p, 0)
            nref, q = _sp_int(p, q)
            metric_members[ref] = nref
            attrs["name"] = str(nref)
        elif t == 20:  # MetricClass: ref, count(u8), member refs...
            ref, q = _sp_int(p, 0)
            cnt, q = p[q], q + 1
            members = []
            for _i in range(cnt):
                m, q = _sp_int(p, q)
                members.append(m)
            metric_class_members[ref] = members
            attrs["members"] = ",".join(map(str, members))
        else:
            ref, _ = _sp_int(p, 0) if p else (None, 0)
        def_rows.append((name, ref, attrs or None))

    member_names = [
        strings.get(metric_members[m], f"Metric{m}")
        for m in sorted(metric_members)
    ]
    return {
        "strings": strings,
        "region_name": {r: strings.get(n, str(n)) for r, n in region_name.items()},
        "locations": locations,
        "clock": clock,
        "def_rows": def_rows,
        "metric_members": sorted(metric_members),
        "metric_names": member_names,
        "metric_class_members": metric_class_members,
    }


def _iter_location_rows(
    evt_path: str,
    process: int,
    thread: int,
    region_names: dict[int, str],
    resolution: int,
    offset: int,
    metric_members: list[int] | None = None,
    metric_class_members: dict[int, list[int]] | None = None,
):
    """One location's .evt file → canonical event tuples, YIELDED one
    at a time (driver- or executor-side; pure function of the file
    bytes + broadcast defs) so callers can batch into bounded chunks
    instead of materializing a whole location's list (the projections
    ladder measured 2.7x per-core parse loss from exactly that
    buffering at 8M events/task — SCALING.md ingestion rung).

    Synchronous Metric records (0x1f) are merged onto their equal-
    timestamp Enter/Leave row as one float column per MetricMember —
    the reference does the same join-by-timestamp
    (otf2_reader.py:199-260)."""
    # event ids bit-pack as (process<<40)|(thread<<32)|seq: 23 bits of
    # process keep the id positive in int64, 8 bits of thread, 32 bits
    # of per-location sequence. Out-of-range inputs would silently
    # collide ids across locations — fail loudly instead (seq is
    # guarded in the append loop).
    with open(evt_path, "rb") as f:
        buf = f.read()
    yield from _iter_buf_rows(
        buf, evt_path, process, thread, region_names, resolution, offset,
        metric_members=metric_members,
        metric_class_members=metric_class_members,
    )


def _iter_buf_rows(
    buf: bytes,
    source: str,
    process: int,
    thread: int,
    region_names: dict[int, str],
    resolution: int,
    offset: int,
    metric_members: list[int] | None = None,
    metric_class_members: dict[int, list[int]] | None = None,
):
    """The byte-buffer core of :func:`_iter_location_rows`, shared
    with the streaming twin (whose ``binaryFile`` source hands the
    .evt content as bytes rather than a path); ``source`` names the
    file in a truncation error."""
    if not 0 <= process < (1 << 23):
        raise ValueError(
            f"process {process} out of packed-id range [0, 2^23)"
        )
    if not 0 <= thread < (1 << 8):
        raise ValueError(f"thread {thread} out of packed-id range [0, 256)")
    metric_members = metric_members or []
    metric_class_members = metric_class_members or {}
    n_metrics = len(metric_members)
    member_idx = {m: i for i, m in enumerate(metric_members)}

    def to_ns(ticks: int) -> int:
        return (ticks - offset) * 1_000_000_000 // resolution

    seq = 0
    pending_ts: int | None = None
    pending_vals: list[float | None] = [None] * n_metrics
    for ts, t, p in _records(buf, with_timestamps=True, source=source):
        if t == _ATTRIBUTE_LIST:
            continue  # extra attrs for the next event; not an event row
        if t == EVT_METRIC and n_metrics:
            # metricRef(sp), count(u8), count × (typeID u8, value sp)
            mref, q = _sp_int(p, 0)
            cnt, q = p[q], q + 1
            members = metric_class_members.get(mref, metric_members[:cnt])
            if pending_ts != ts:
                pending_vals = [None] * n_metrics
                pending_ts = ts
            for i in range(cnt):
                q += 1  # typeID
                v, q = _sp_int(p, q)
                mi = member_idx.get(members[i] if i < len(members) else i)
                if mi is not None and v is not None:
                    pending_vals[mi] = float(v)
            continue
        attrs = None
        if t == EVT_ENTER or t == EVT_LEAVE:
            # single-field record: the record-length byte IS the region
            # integer's size prefix, so the payload bytes are the value
            region = int.from_bytes(p, "little")
            etype = S.ENTER if t == EVT_ENTER else S.LEAVE
            name = region_names.get(region, f"Region{region}")
        elif t in (EVT_MPI_SEND, EVT_MPI_ISEND):
            peer, q = _sp_int(p, 0)
            comm, q = _sp_int(p, q)
            tag, q = _sp_int(p, q)
            length, q = _sp_int(p, q)
            etype, name = S.INSTANT, EVT_NAMES[t]
            attrs = {"receiver": str(peer), "communicator": str(comm),
                     "msg_tag": str(tag), "msg_length": str(length)}
        elif t in (EVT_MPI_RECV, EVT_MPI_IRECV):
            peer, q = _sp_int(p, 0)
            comm, q = _sp_int(p, q)
            tag, q = _sp_int(p, q)
            length, q = _sp_int(p, q)
            etype, name = S.INSTANT, EVT_NAMES[t]
            attrs = {"sender": str(peer), "communicator": str(comm),
                     "msg_tag": str(tag), "msg_length": str(length)}
        else:
            etype = S.INSTANT
            name = EVT_NAMES.get(t, f"Event{t}")
        mvals = (
            tuple(pending_vals) if n_metrics and pending_ts == ts
            else (None,) * n_metrics
        )
        if seq >= (1 << 32):
            raise ValueError(
                f"location ({process},{thread}) exceeds 2^32 events — "
                "packed event ids would collide; widen the id scheme"
            )
        yield (
            (process << 40) | (thread << 32) | seq,
            to_ns(ts),
            seq,
            etype,
            name,
            process,
            thread,
            attrs,
        ) + mvals
        seq += 1


def _location_map(defs: dict, dirname: str | None = None) -> list:
    """(path-or-basename, process, thread) per location, in location
    order — process = location-group ref (MPI rank), thread = per-group
    renumber (otf2_reader.py:357-407). With ``dirname`` the first
    element is the full .evt path filtered to files that exist (batch
    read); without, it is the bare ``{ref}.evt`` basename (streaming
    lookup, where files land over time)."""
    per_group: dict[int, int] = {}
    out = []
    for ref, _n, group in sorted(defs["locations"]):
        thread = per_group.get(group, 0)
        per_group[group] = thread + 1
        fname = f"{ref}.evt"
        if dirname is None:
            out.append((fname, group, thread))
        else:
            path = os.path.join(dirname, "traces", fname)
            if os.path.exists(path):
                out.append((path, group, thread))
    return out


def _event_schema_with_metrics(metric_names: list):
    return T.StructType(
        list(S.EVENT_SCHEMA.fields)
        + [T.StructField(nm, T.DoubleType(), True) for nm in metric_names]
    )


_LOC_SCHEMA = T.StructType([
    T.StructField("path", T.StringType(), False),
    T.StructField("process", T.IntegerType(), False),
    T.StructField("thread", T.IntegerType(), False),
])


def read_otf2_native(
    spark: SparkSession, dirname: str, order: str = "trace"
) -> tuple[DataFrame, DataFrame]:
    """Distributed OTF2 archive read → (events DF, definitions DF).

    Each parse task reads whole locations, packed by bytes: the
    ``.evt`` files are balanced into at most ``max(defaultParallelism,
    ceil(archive bytes / spark.sql.files.maxPartitionBytes))`` groups
    (:func:`~pipit_spark.sources.packed.group_frame`), so a location is
    never split across partitions and small archives do not pay one
    Python task per file. A truncated ``.evt`` fails the read with a
    ``ValueError`` naming the file and the byte offset.

    order="trace" (default) reproduces the reference's global
    (timestamp, seq) frame order — one range shuffle. The matching
    pass does not pay it: its local sort above its own hash exchange
    lets Catalyst's ``EliminateSorts`` drop this global sort from the
    matched plan (operators/matching.py). order="process" skips the
    sort everywhere: each output partition holds whole locations, each
    in timestamp order (the parse emits them that way), which is the
    only ordering the engine's own operators consume. Choose it
    whenever downstream is this engine rather than a frame-order-
    sensitive external consumer.
    """
    # validate BEFORE any file I/O (parse_global_defs reads the
    # archive eagerly on the driver) — a typo'd order value should
    # fail in milliseconds, not after the whole definition parse
    if order not in ("trace", "process"):
        raise ValueError(f"order must be 'trace' or 'process', got {order!r}")

    defs = parse_global_defs(os.path.join(dirname, "traces.def"))
    res = defs["clock"]["resolution"]
    off = defs["clock"]["offset"]

    # process = location-group ref (MPI rank); thread = per-group
    # renumber in location order (otf2_reader.py:357-407)
    loc_map = _location_map(defs, dirname)
    if not loc_map:  # fall back to whatever evt files exist
        for i, path in enumerate(
            sorted(glob.glob(os.path.join(dirname, "traces", "*.evt")))
        ):
            loc_map.append((path, i, 0))

    b_defs = spark.sparkContext.broadcast(
        (defs["region_name"], defs["metric_members"],
         defs["metric_class_members"])
    )

    def rows_of(path, process, thread):
        regions, members, class_members = b_defs.value
        return _iter_location_rows(
            path, int(process), int(thread), regions, res, off,
            metric_members=members, metric_class_members=class_members,
        )

    # the fan-out axis is the archive's own (reference otf2_reader.py:
    # 436-452 fans an mp.Pool over the same files)
    sizes = [os.path.getsize(path) for path, _p, _t in loc_map]
    events = parse_units(
        group_frame(spark, loc_map, sizes, _LOC_SCHEMA), rows_of,
        _event_schema_with_metrics(defs["metric_names"]),
    )
    if order == "trace":
        events = events.orderBy(S.TIMESTAMP, S.SEQ)
    definitions = spark.createDataFrame(
        pd.DataFrame(defs["def_rows"], columns=["def_type", "id", "attributes"]),
        schema=S.DEFINITIONS_SCHEMA,
    )
    return events, definitions


def stream_otf2_native(
    spark: SparkSession,
    dirname: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """STREAMING ingest of an OTF2 archive whose location files are
    still landing — the availableNow/catch-up twin of
    :func:`read_otf2_native`, mirroring ``stream_projections``
    (sources/projections.py): an object store receiving per-location
    ``.evt`` files (or a backfill re-run) ingests ONLY new files via
    the sink checkpoint's file-level exactly-once.

    ``readStream.format("binaryFile")`` discovers complete ``.evt``
    files per micro-batch; each parses through the SAME byte-buffer
    core and the same bounded-chunk driver as the batch reader
    (:func:`_iter_buf_rows`, :func:`~pipit_spark.sources.packed.parse_units`),
    so a truncated file fails the query the way it fails a batch read.
    File-granular source → per-location state (seq counter, pending
    metric row) never spans a trigger, exactly like the Projections
    twin.

    ``traces.def`` must already exist (OTF2 writes global definitions
    at archive creation for the location/clock tables this needs; an
    archive still being FINALIZED may rewrite it — this twin targets
    the land-then-ingest pattern, not tailing a live writer). A
    landed ``.evt`` whose location ref is absent from the def file
    fails loudly — silently improvised (process, thread) ids would
    collide with later locations.

    Events arrive UNSORTED across locations (a stream cannot global-
    sort); the canonical parquet sink plus ``Trace.from_parquet``
    applies the same (timestamp, seq) order the batch path does.
    """
    defs = parse_global_defs(os.path.join(dirname, "traces.def"))
    res = defs["clock"]["resolution"]
    off = defs["clock"]["offset"]
    lookup = {
        fname: (proc, thr)
        for fname, proc, thr in _location_map(defs, dirname=None)
    }
    b = spark.sparkContext.broadcast(
        (lookup, defs["region_name"], defs["metric_members"],
         defs["metric_class_members"])
    )

    # binaryFile's fixed schema, required explicitly for streaming
    bin_schema = T.StructType([
        T.StructField("path", T.StringType(), False),
        T.StructField("modificationTime", T.TimestampType(), False),
        T.StructField("length", T.LongType(), False),
        T.StructField("content", T.BinaryType(), True),
    ])
    reader = spark.readStream.format("binaryFile").schema(
        bin_schema
    ).option("pathGlobFilter", "*.evt")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    files = reader.load(os.path.join(dirname, "traces")).select(
        "path", "content"
    )

    def rows_of(path, content):
        lkp, regions, members, class_members = b.value
        fname = os.path.basename(path)
        if fname not in lkp:
            raise ValueError(
                f"{fname} has no location entry in traces.def — "
                "cannot assign (process, thread) ids"
            )
        process, thread = lkp[fname]
        return _iter_buf_rows(
            bytes(content), path, process, thread, regions, res, off,
            metric_members=members, metric_class_members=class_members,
        )

    return parse_units(
        files, rows_of, _event_schema_with_metrics(defs["metric_names"])
    )
