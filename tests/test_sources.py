"""Source-reader parity tests.

Projections is driven against the reference's own golden trace
(read-only at /root/reference/pipit/tests/data) and asserts the same
values as the reference's pipit/tests/projections-tests.py. Nsight is
driven on a synthetic interval CSV mirroring the reference's unpivot
semantics (pipit/readers/nsight_reader.py:58-77).
"""

from __future__ import annotations

import os

import pandas as pd
import pytest

REF_DATA = "/root/reference/pipit/tests/data"

EXPECTED_PROJECTIONS_NAMES = {
    "Computation",
    "Idle",
    "Pack",
    "Ping1()",
    "Ping2()",
    "Ping3()",
    "PingC()",
    "PingC(IdMsg* impl_msg)",
    "PingF()",
    "PingMarshall()",
    "Unpack",
    "dummy_thread_ep",
    "exchange(IdMsg* impl_msg)",
    "maindone()",
    "recv(PingMsg* impl_msg)",
    "recvHandle(const CkNcpyBuffer &destInfo)",
    "recv_zerocopy(CkNcpyBuffer ncpyBuffer_msg, int size)",
    "remoteDoneInserting()",
    "start(const bool &reportTime)",
    "traceProjectionsParallelShutdown(int impl_noname_8)",
    "trecv(PingMsg* impl_msg)",
    "updateLocation(const CkArrayIndex &idx, const CkLocEntry &e)",
}


@pytest.mark.skipif(
    not os.path.isdir(f"{REF_DATA}/ping-pong-projections"),
    reason="reference golden traces unavailable",
)
def test_projections_golden(spark):
    """Same assertions as reference pipit/tests/projections-tests.py."""
    from pipit_spark import Trace

    t = Trace.from_projections(spark, f"{REF_DATA}/ping-pong-projections")
    ev = t.events.toPandas().sort_values(["process", "seq"])

    assert set(ev.process.unique()) == {0, 1}
    assert set(ev.event_type.unique()) == {"Enter", "Instant", "Leave"}
    assert set(ev.name.unique()) == EXPECTED_PROJECTIONS_NAMES
    # per-PE creation (Instant) counts — projections-tests.py:46-60
    assert len(ev[(ev.process == 0) & (ev.event_type == "Instant")]) == 77
    assert len(ev[(ev.process == 1) & (ev.event_type == "Instant")]) == 68
    # logs start/end with Computation — projections-tests.py:75-80
    for pe in (0, 1):
        sub = ev[ev.process == pe]
        assert sub.iloc[0]["name"] == "Computation"
        assert sub.iloc[-1]["name"] == "Computation"
        # timestamps non-decreasing in file order
        assert sub.timestamp_ns.is_monotonic_increasing


def test_projections_matching_and_profile(spark):
    """The golden trace flows through the full engine: matching balances
    and flat profile produces positive times."""
    from pipit_spark import Trace
    from pipit_spark import schema as S
    from pyspark.sql import functions as F

    if not os.path.isdir(f"{REF_DATA}/ping-pong-projections"):
        pytest.skip("reference golden traces unavailable")
    t = Trace.from_projections(spark, f"{REF_DATA}/ping-pong-projections")
    m = t.matched
    enters = m.filter(F.col(S.EVENT_TYPE) == "Enter")
    # the only unmatched Enters are the shutdown entries the runtime never
    # closes (one per PE) — the reference's stack pass leaves the same
    # rows NaN (pipit/trace.py:170-186 tolerates unbalanced traces)
    unmatched = enters.filter(F.col(S.MATCHING_EVENT).isNull()).toPandas()
    assert len(unmatched) == 2
    assert set(unmatched.name) == {
        "traceProjectionsParallelShutdown(int impl_noname_8)"
    }
    fp = t.flat_profile().toPandas()
    # the shutdown entry's only Enter is unmatched → its exc aggregates
    # to null; every measurable function has non-negative exclusive time
    assert (fp.time_exc.dropna() >= 0).all()
    assert fp.time_exc.isna().sum() <= 1
    assert "Computation" in set(fp.name)


EXPECTED_HPCT_NAMES = {
    "<unknown procedure> 0x24680 [libpsm2.so.2.2]",
    "MPID_Finalize [libmpi.so.12.1.1]",
    "MPID_Recv [libmpi.so.12.1.1]",
    "MPI_Finalize",
    "PMPI_Finalize [libmpi.so.12.1.1]",
    "PMPI_Recv [libmpi.so.12.1.1]",
    "PMPI_Send [libmpi.so.12.1.1]",
    "__GI___munmap [libc-2.17.so]",
    "__GI___unlink [libc-2.17.so]",
    "__GI_process_vm_readv [libc-2.17.so]",
    "loop",
    "main",
    "main thread",
    "psm2_ep_close [libpsm2.so.2.2]",
    "psm2_mq_ipeek2 [libpsm2.so.2.2]",
    "psm2_mq_irecv2 [libpsm2.so.2.2]",
    "psm_dofinalize [libmpi.so.12.1.1]",
    "psm_progress_wait [libmpi.so.12.1.1]",
    "psm_recv [libmpi.so.12.1.1]",
    "psm_try_complete [libmpi.so.12.1.1]",
    "shm_unlink [librt-2.17.so]",
    "targ5030 [libpsm2.so.2.2]",
}


@pytest.mark.skipif(
    not os.path.isdir(f"{REF_DATA}/ping-pong-hpctoolkit"),
    reason="reference golden traces unavailable",
)
def test_hpctoolkit_golden(spark):
    """Same assertions as reference pipit/tests/hpctoolkit.py."""
    from pipit_spark import Trace

    ev = Trace.from_hpctoolkit(
        spark, f"{REF_DATA}/ping-pong-hpctoolkit"
    ).events.toPandas()

    assert set(ev.process.unique()) == {0, 1}
    assert set(ev.event_type.unique()) == {
        "Enter", "Leave", "Loop Enter", "Loop Leave"
    }
    # per-rank Enter counts + Enter/Leave balance — hpctoolkit.py:22-52
    assert len(ev[(ev.process == 0) & (ev.event_type == "Enter")]) == 117
    assert len(ev[(ev.process == 1) & (ev.event_type == "Enter")]) == 88
    for p in (0, 1):
        assert len(ev[(ev.process == p) & (ev.event_type == "Enter")]) == len(
            ev[(ev.process == p) & (ev.event_type == "Leave")]
        )
    assert set(ev.name.unique()) == EXPECTED_HPCT_NAMES
    # 7 PMPI_Send / PMPI_Recv Enters per rank — hpctoolkit.py:83-96
    for p in (0, 1):
        for fn in ("PMPI_Send", "PMPI_Recv"):
            assert (
                len(
                    ev[
                        ev.name.str.contains(fn)
                        & (ev.event_type == "Enter")
                        & (ev.process == p)
                    ]
                )
                == 7
            )
    # globally sorted timestamps — hpctoolkit.py:98-99
    assert ev.timestamp_ns.is_monotonic_increasing


def test_nsight_unpivot(spark, tmp_path):
    """Interval rows become Enter+Leave pairs; PID/TID dense-renumber
    (reference pipit/readers/nsight_reader.py:29-77)."""
    from pipit_spark import Trace

    csv = tmp_path / "nsight.csv"
    csv.write_text(
        "Name,Start (ns),End (ns),PID,TID\n"
        "kernel_a,100,200,4000,7001\n"
        "kernel_b,150,180,4000,7002\n"
        "kernel_a,300,400,5000,8000\n"
    )
    t = Trace.from_nsight(spark, str(csv))
    ev = t.events.toPandas().sort_values("seq")
    assert len(ev) == 6  # 3 intervals → 3 Enter + 3 Leave
    assert set(ev.event_type) == {"Enter", "Leave"}
    # dense renumber: PIDs {4000,5000} → {0,1}; TIDs per PID → 0..n-1
    assert set(ev.process) == {0, 1}
    assert set(ev[ev.process == 0].thread) == {0, 1}
    assert set(ev[ev.process == 1].thread) == {0}
    a0 = ev[(ev.name == "kernel_a") & (ev.process == 0)]
    assert list(a0.sort_values("timestamp_ns").timestamp_ns) == [100, 200]


@pytest.mark.skipif(
    not os.path.isdir(f"{REF_DATA}/ping-pong-otf2"),
    reason="reference golden traces unavailable",
)
def test_otf2_golden(spark):
    """Same assertions as reference pipit/tests/otf2-tests.py, via the
    native (no-otf2-lib) binary parser."""
    import numpy as np
    from pipit_spark import Trace

    t = Trace.from_otf2(spark, f"{REF_DATA}/ping-pong-otf2")
    ev = t.events.toPandas()

    assert len(ev) == 120
    assert set(ev.event_type.unique()) == {"Enter", "Instant", "Leave"}
    assert set(ev.name.unique()) == {
        "ProgramBegin", "ProgramEnd", "MPI_Send", "MPI_Recv",
        "MpiSend", "MpiRecv", "MPI_Init", "MPI_Finalize",
        "MPI_Comm_rank", "MPI_Comm_size", "int main(int, char**)",
    }
    assert len(ev[ev.name == "MPI_Send"]) == 32
    assert set(ev.process.unique()) == {0, 1}
    assert set(ev.thread.unique()) == {0}
    assert len(ev[ev.process == 0]) == 60
    assert (np.diff(ev.timestamp_ns) > 0).all()

    # definitions — otf2-tests.py:54-67
    d = t.definitions.toPandas()
    assert len(d) == 533
    assert d.def_type.nunique() == 17
    assert len(d[d.def_type == "Location"]) == 2
    assert "Comm" in set(d.def_type)


@pytest.mark.skipif(
    not os.path.isdir(f"{REF_DATA}/ping-pong-otf2"),
    reason="reference golden traces unavailable",
)
def test_otf2_comm_matrix_golden(spark):
    """The comm-matrix golden values (pipit/tests/trace.py:10-32):
    4,177,920 bytes / 8 messages per direction, zero diagonal — through
    the native OTF2 reader AND the comm operator."""
    from pipit_spark import Trace

    t = Trace.from_otf2(spark, f"{REF_DATA}/ping-pong-otf2")
    size = t.comm_matrix_numpy(output="size")
    count = t.comm_matrix_numpy(output="count")
    assert size[0][1] == size[1][0] == 4_177_920
    assert size[0][0] == size[1][1] == 0
    assert count[0][1] == count[1][0] == 8
    assert count[0][0] == count[1][1] == 0


@pytest.mark.skipif(
    not os.path.isdir(f"{REF_DATA}/ping-pong-otf2-papi"),
    reason="reference golden traces unavailable",
)
def test_otf2_papi_metrics(spark):
    """PAPI metric records merge onto their equal-timestamp Enter/Leave
    rows (reference otf2_reader.py:199-260) and flow through the fused
    matching pass as <metric>_inc columns."""
    from pipit_spark import Trace

    t = Trace.from_otf2(spark, f"{REF_DATA}/ping-pong-otf2-papi")
    ev = t.events.toPandas()
    assert len(ev) == 120  # metric records are merged, not rows
    for col in ("PAPI_TOT_CYC", "PAPI_L2_TCM", "PAPI_BR_MSP"):
        assert col in ev.columns
        assert ev[ev.event_type == "Enter"][col].notna().all()
    assert t.numeric_cols == ["PAPI_TOT_CYC", "PAPI_L2_TCM", "PAPI_BR_MSP"]
    fp = t.flat_profile(metrics=["PAPI_TOT_CYC_inc"]).toPandas()
    # cycle counters are monotone per location → inclusive >= 0
    assert (fp.PAPI_TOT_CYC_inc.dropna() >= 0).all()
    assert len(fp) > 3


@pytest.mark.skipif(
    not os.path.isdir(f"{REF_DATA}/ping-pong-otf2"),
    reason="reference golden traces unavailable",
)
def test_otf2_time_profile_vampir_golden(spark):
    """The reference's hardest golden test (pipit/tests/trace.py:149-218):
    62-bin normalized time profile of the ping-pong trace, per-bin values
    cross-validated against Vampir's Function Summary chart."""
    import numpy as np
    from pipit_spark import Trace

    t = Trace.from_otf2(spark, f"{REF_DATA}/ping-pong-otf2")
    tp = t.time_profile(num_bins=62, normalized=True).toPandas()
    norm = tp.pivot_table(
        index="bin_idx", columns="name", values="time", fill_value=0.0
    )
    assert len(norm) == 62

    # per-bin sums = 1 after normalization (2 ranks × bin / (2 × bin))
    assert np.isclose(norm.sum(axis=1), 1.0).all()

    # Vampir ground truth — trace.py:186-218. Tolerance: the reference
    # carries FLOAT ns after clock conversion; our canonical schema
    # stores integer ns (exact arithmetic at scale), so each event edge
    # may shift < 1 ns → bin fractions move by up to ~5e-5 of a 3.3 ms
    # bin. atol=5e-5 (≈ 340 ns/bin) still pins every value to the
    # Vampir chart far below its own resolution.
    def close(a, b):
        return np.isclose(a, b, rtol=0, atol=5e-5)

    assert close(norm.loc[0]["int main(int, char**)"], 0.00299437)
    assert close(norm.loc[0]["MPI_Init"], 0.93999815)
    for fn in ("MPI_Comm_size", "MPI_Comm_rank", "MPI_Send",
               "MPI_Recv", "MPI_Finalize"):
        assert close(norm.loc[0][fn], 0.0)

    assert close(norm.loc[1:59]["int main(int, char**)"], 0.0).all()
    assert close(norm.loc[1:59]["MPI_Init"], 1.0).all()

    assert close(norm.loc[60]["int main(int, char**)"], 0.39464799)
    assert close(norm.loc[60]["MPI_Init"], 0.14843661)
    assert close(norm.loc[60]["MPI_Send"], 0.24594134)
    assert close(norm.loc[60]["MPI_Recv"], 0.21017099)
    assert close(norm.loc[60]["MPI_Comm_size"], 0.00046047)
    assert close(norm.loc[60]["MPI_Comm_rank"], 0.00034261)

    assert close(norm.loc[61]["int main(int, char**)"], 0.43560727)
    assert close(norm.loc[61]["MPI_Send"], 0.29640222)
    assert close(norm.loc[61]["MPI_Recv"], 0.24300865)
    assert close(norm.loc[61]["MPI_Finalize"], 0.01614835)


@pytest.mark.skipif(
    not os.path.isdir(f"{REF_DATA}/ping-pong-otf2"),
    reason="reference golden traces unavailable",
)
def test_otf2_matching_and_comm_golden(spark):
    """Remaining reference trace.py goldens on the OTF2 trace: matching
    adjacency invariants (trace.py:71-133), caller/callee counts
    (136-146), comm_over_time mass (35-51), comm_by_process symmetry
    (53-68)."""
    import numpy as np
    from pipit_spark import Trace
    from pipit_spark import schema as S
    from pyspark.sql import functions as F

    t = Trace.from_otf2(spark, f"{REF_DATA}/ping-pong-otf2")
    m = t.matched.toPandas().sort_values([S.PROCESS, S.SEQ])

    # leaf-call adjacency: every non-main Enter matches the row
    # immediately after it (trace.py:89-104)
    for rank in (0, 1):
        sub = m[(m.process == rank) & (m.event_type != "Instant")].reset_index(
            drop=True
        )
        for i in range(len(sub)):
            if (
                sub.event_type[i] == "Enter"
                and sub.name[i] != "int main(int, char**)"
            ):
                assert sub.matching_event_id[i] == sub.event_id[i + 1]
                assert sub.matching_timestamp_ns[i] == sub.timestamp_ns[i + 1]

    # Enter rows match strictly forward in time (trace.py:124-133)
    enters = m[m.event_type == "Enter"]
    assert (enters.matching_timestamp_ns > enters.timestamp_ns).all()

    # caller/callee: 40 Enter rows with parents, 2 with children (main
    # per rank) — trace.py:136-146. The reference sets _parent on Enter
    # rows only; our pass mirrors it onto the matched Leave as well, so
    # count Enters. children = inverse of parent (distinct parent ids)
    assert m[m.event_type == "Enter"].parent_event_id.notna().sum() == 40
    assert m[m.event_type == "Enter"].parent_event_id.dropna().nunique() == 2

    # comm_over_time mass concentrates in the last bins (trace.py:35-51)
    hist = (
        t.comm_over_time(output="size", message_type="send", bins=5)
        .toPandas()
        .sort_values("bin_idx")
    )
    assert list(hist["count"][:3]) == [0.0, 0.0, 0.0]
    assert hist["count"].iloc[4] == 4_177_920 * 2

    # comm_by_process: each rank sent == received == 4177920 bytes / 8
    for output, val in (("size", 4_177_920.0), ("count", 8.0)):
        bp = t.comm_by_process(output=output).toPandas().set_index("process")
        for rank in (0, 1):
            assert bp.loc[rank]["sent"] == val
            assert bp.loc[rank]["received"] == val


def test_chrome_roundtrip(foo_bar_trace, spark, tmp_path):
    """write_chrome → read_chrome reproduces the canonical events
    (names, types, ns timestamps, processes) and the derived flat
    profile, for both the single-file and part-dir layouts."""
    from pipit_spark import Trace
    from pipit_spark import schema as S
    from pipit_spark.sinks.chrome import write_chrome
    from pipit_spark.sources.chrome import read_chrome

    single = str(tmp_path / "trace.json")
    parts = str(tmp_path / "trace_parts")
    write_chrome(foo_bar_trace.events, single, single_file=True)
    write_chrome(foo_bar_trace.events, parts, single_file=False)

    for path in (single, parts):
        ev = read_chrome(spark, path)
        a = (
            foo_bar_trace.events.groupBy(S.EVENT_TYPE, S.NAME, S.PROCESS)
            .count()
            .collect()
        )
        b = ev.groupBy(S.EVENT_TYPE, S.NAME, S.PROCESS).count().collect()
        assert sorted(map(tuple, a)) == sorted(map(tuple, b))
        # derived metrics survive the round-trip
        t = Trace(ev)
        fa = {
            r["name"]: r["time_inc"]
            for r in foo_bar_trace.flat_profile(metrics=[S.TIME_INC]).collect()
        }
        fb = {
            r["name"]: r["time_inc"]
            for r in t.flat_profile(metrics=[S.TIME_INC]).collect()
        }
        assert fa == fb


def test_otf2_packed_id_overflow_guard(tmp_path):
    """Packed event ids are (process<<40)|(thread<<32)|seq — 23/8/32
    bits. Out-of-range process/thread must raise instead of silently
    colliding ids across locations."""
    import pytest

    from pipit_spark.sources.otf2_native import _iter_location_rows
    from tools.synth_otf2 import _HEADER

    evt = tmp_path / "loc.evt"
    evt.write_bytes(_HEADER + b"\x02")  # a location with no events
    common = dict(
        region_names={}, resolution=1_000_000_000, offset=0
    )
    with pytest.raises(ValueError, match="process"):
        list(_iter_location_rows(str(evt), 1 << 23, 0, **common))
    with pytest.raises(ValueError, match="thread"):
        list(_iter_location_rows(str(evt), 0, 256, **common))
    # in-range empty location parses to no rows
    assert list(_iter_location_rows(str(evt), (1 << 23) - 1, 255, **common)) == []


def _truncate(path: str, keep: int) -> None:
    with open(path, "rb") as f:
        buf = f.read()
    with open(path, "wb") as f:
        f.write(buf[:keep])


def test_truncated_evt_raises_with_file_and_offset(tmp_path):
    """A cut .evt stream raises ValueError naming the file and the byte
    offset: a timestamp or a record that runs past the end, and a
    stream that ends without its 0x02 end-of-stream record (an empty
    file included). The parse never returns the prefix as if whole."""
    from pipit_spark.sources.otf2_native import _iter_location_rows
    from tools.synth_otf2 import write_loc_evt

    os.makedirs(tmp_path / "traces")
    write_loc_evt((str(tmp_path), 0, 50, 1))  # 150 events
    evt = str(tmp_path / "traces" / "0.evt")
    with open(evt, "rb") as f:
        whole = f.read()

    def rows():
        return list(_iter_location_rows(
            evt, 0, 0, region_names={}, resolution=1_000_000_000, offset=0,
        ))

    assert len(rows()) == 150
    # header (18 bytes), then the first timestamp record (9 bytes) at 18
    # and the first send record (type, length, payload) at 27
    for keep, at in [(20, "18"), (29, "27"), (len(whole) // 2, r"\d+"),
                     (len(whole) - 1, str(len(whole) - 1)), (0, "0")]:
        _truncate(evt, keep)
        with pytest.raises(ValueError, match=rf"0\.evt: truncated at byte {at}:"):
            rows()
        with open(evt, "wb") as f:
            f.write(whole)


def test_truncated_evt_fails_the_read(spark, write_otf2_archive, tmp_path):
    """A 150-event location cut at half its bytes fails Trace.from_otf2
    and the streaming twin with the file and offset in the error,
    instead of parsing to a prefix of its events."""
    from pipit_spark import Trace
    from pipit_spark.sources.otf2_native import stream_otf2_native

    archive = write_otf2_archive([50, 20])
    evt = os.path.join(archive, "traces", "0.evt")
    _truncate(evt, os.path.getsize(evt) // 2)
    want = r"0\.evt: truncated at byte \d+"

    with pytest.raises(Exception, match=want):
        Trace.from_otf2(spark, archive).events.count()

    q = (
        stream_otf2_native(spark, archive)
        .writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception, match=want):
        q.awaitTermination(120)
    q.stop()


# ------------------------------------- binary-reader parse-task packing
def _partitioned_rows(events):
    """(rows sorted by event_id, partitions per (process, thread),
    partition count) of a reader's events frame."""
    from pyspark.sql import functions as F

    pdf = (
        events.withColumn("attributes", F.to_json("attributes"))
        .withColumn("pid", F.spark_partition_id())
        .toPandas()
    )
    parts = pdf.groupby(["process", "thread"]).pid.nunique()
    rows = pdf.drop(columns="pid").sort_values("event_id")
    return rows.reset_index(drop=True), parts, events.rdd.getNumPartitions()


def _packed_read(spark, archive):
    """(rows, partition of each location, partition count, rule bound)
    of a read_otf2_native(order="process") frame."""
    from pipit_spark.sources.otf2_native import read_otf2_native

    events = read_otf2_native(spark, archive, order="process")[0]
    total = sum(
        os.path.getsize(os.path.join(archive, "traces", f))
        for f in os.listdir(os.path.join(archive, "traces"))
    )
    max_bytes = spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
    bound = max(spark.sparkContext.defaultParallelism, -(-total // max_bytes))
    return (*_partitioned_rows(events), bound)


@pytest.mark.parametrize(
    "frames",
    [[0, 50, 400, 5, 1000, 20, 0, 120], [300]],
    ids=["uneven-with-empty-location", "single-location"],
)
def test_otf2_parse_packs_whole_locations(spark, write_otf2_archive, frames):
    """Location files pack into byte-balanced parse tasks: the rows equal
    a one-task-per-file read as a multiset, every (process, thread) lands
    in exactly one partition, and the task count keeps the rule
    max(defaultParallelism, ceil(bytes / maxPartitionBytes)), capped at
    the file count."""
    archive = write_otf2_archive(frames)
    rows, parts, n_parts, bound = _packed_read(spark, archive)
    assert (parts == 1).all()
    assert n_parts == min(len(frames), bound)
    assert len(rows) == 3 * sum(frames)

    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, "1")  # one task per file
    try:
        per_file, _parts, n_files, _ = _packed_read(spark, archive)
    finally:
        spark.conf.set(key, old)
    assert n_files == len(frames)
    pd.testing.assert_frame_equal(rows, per_file)


def test_hpctoolkit_parse_packs_whole_lines(spark, tmp_path):
    """HPCToolkit trace lines pack into byte-balanced parse tasks like
    OTF2 location files: a 16-thread db parses in at most
    defaultParallelism tasks, every (process, thread) lands in exactly
    one partition, and the rows equal a one-task-per-line read as a
    multiset."""
    from pipit_spark.sources.hpctoolkit import read_hpctoolkit
    from tools.synth_hpctoolkit import synthesize

    db = str(tmp_path / "db")
    synthesize(db, 16, 40)

    def read():
        return _partitioned_rows(read_hpctoolkit(spark, db, order="process"))

    rows, parts, n_parts = read()
    assert n_parts <= spark.sparkContext.defaultParallelism
    assert len(parts) == 16 and (parts == 1).all()

    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, "1")  # one task per trace line
    try:
        per_line, _parts, n_lines = read()
    finally:
        spark.conf.set(key, old)
    assert n_lines == 16
    pd.testing.assert_frame_equal(rows, per_line)


def test_pack_locations_balances_bytes():
    """Largest file first into the lightest group: one 4x file and
    fifteen unit files split into four groups whose loads differ by at
    most one unit file, each location in exactly one group."""
    from pipit_spark.sources.packed import _pack_locations

    locs = [(f"{i}.evt", i, 0) for i in range(16)]
    sizes = [100] * 15 + [400]
    groups = _pack_locations(locs, sizes, 4)
    assert sorted(loc for g in groups for loc in g) == sorted(locs)
    loads = [sum(sizes[p] for _path, p, _t in g) for g in groups]
    assert max(loads) - min(loads) <= 100, loads
    assert all(g == sorted(g, key=locs.index) for g in groups)
    assert _pack_locations(locs[:2], sizes[:2], 4) == [[locs[0]], [locs[1]]]
    assert _pack_locations([], [], 4) == []


def test_from_otf2_surfaces_native_errors(spark, write_otf2_archive):
    """Trace.from_otf2 reaches the native reader's own errors and its
    order option: a missing archive is a FileNotFoundError (not an
    ImportError about the optional otf2 package), a bad order value a
    ValueError, and order="process" drops the parity sort."""
    from pipit_spark import Trace

    archive = write_otf2_archive([5, 5])
    with pytest.raises(FileNotFoundError):
        Trace.from_otf2(spark, archive + "-missing")
    with pytest.raises(ValueError, match="order"):
        Trace.from_otf2(spark, archive, order="frame")
    plan = Trace.from_otf2(spark, archive, order="process").events
    assert "Sort" not in plan._jdf.queryExecution().executedPlan().toString()
