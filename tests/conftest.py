from __future__ import annotations

import os

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")


@pytest.fixture(scope="session")
def spark():
    from pipit_spark.session import get_spark

    s = get_spark(app_name="pipit-spark-tests", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="module")
def tiny_batch_spark(spark):
    """Force many Arrow-chunk crossings so the carried state is
    genuinely exercised (65536-row default would make most locations
    single-batch)."""
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "64")
    yield spark
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)


@pytest.fixture(scope="session")
def foo_bar_trace(spark):
    """The reference's minimal end-to-end fixture (20 rows, 2 processes,
    nesting depth 3 — pipit/tests/data/foo-bar.csv, FIXTURES.md §2)."""
    from pipit_spark import Trace

    path = os.path.join(os.path.dirname(__file__), "data", "foo-bar.csv")
    return Trace.from_csv(spark, path)


@pytest.fixture(scope="session")
def ping_pong_trace(spark):
    """Synthetic 2-rank ping-pong trace mirroring the reference's golden
    OTF2 trace shape (FIXTURES.md §3): K=8 send/recv rounds, M=522240
    bytes per message → comm_matrix off-diagonal = 8*522240 = 4177920,
    matching pipit/tests/trace.py:31-32."""
    import pandas as pd
    from pipit_spark import Trace

    K, M = 8, 522_240
    rows = []

    def add(rank, ts, etype, name, attrs=None):
        rows.append((len(rows), ts, len(rows), etype, name, rank, 0, attrs))

    for rank in (0, 1):
        t = 0
        add(rank, t, "Instant", "ProgramBegin")
        add(rank, t, "Enter", "main")
        add(rank, t + 1, "Enter", "MPI_Init")
        add(rank, t + 1000, "Leave", "MPI_Init")
        for k in range(K):
            base = 2000 + k * 1000
            if rank == 0:
                add(rank, base, "Enter", "MPI_Send")
                add(rank, base + 10, "Instant", "MpiSend",
                    {"receiver": "1", "msg_length": str(M)})
                add(rank, base + 100, "Leave", "MPI_Send")
                add(rank, base + 200, "Enter", "MPI_Recv")
                add(rank, base + 500, "Instant", "MpiRecv",
                    {"sender": "1", "msg_length": str(M)})
                add(rank, base + 600, "Leave", "MPI_Recv")
            else:
                add(rank, base, "Enter", "MPI_Recv")
                add(rank, base + 450, "Instant", "MpiRecv",
                    {"sender": "0", "msg_length": str(M)})
                add(rank, base + 500, "Leave", "MPI_Recv")
                add(rank, base + 550, "Enter", "MPI_Send")
                add(rank, base + 560, "Instant", "MpiSend",
                    {"receiver": "0", "msg_length": str(M)})
                add(rank, base + 900, "Leave", "MPI_Send")
        add(rank, 20_000, "Enter", "MPI_Finalize")
        add(rank, 20_500, "Leave", "MPI_Finalize")
        add(rank, 21_000, "Leave", "main")
        add(rank, 21_000, "Instant", "ProgramEnd")

    pdf = pd.DataFrame(
        rows,
        columns=[
            "event_id", "timestamp_ns", "seq", "event_type",
            "name", "process", "thread", "attributes",
        ],
    )
    from pipit_spark.schema import EVENT_SCHEMA

    return Trace(spark.createDataFrame(pdf, schema=EVENT_SCHEMA))


@pytest.fixture(scope="session")
def write_otf2_archive(tmp_path_factory):
    """Factory: ``write(frames_per_loc) -> dirname`` synthesizes an OTF2
    archive (tools/synth_otf2.py grammar) with one location per entry;
    each frame is a send then an Enter/Leave pair, so 0 frames writes a
    location with no events and unequal entries make unequal files."""
    from tools.synth_otf2 import write_defs, write_loc_evt

    def write(frames_per_loc: list[int]) -> str:
        out = str(tmp_path_factory.mktemp("otf2"))
        os.makedirs(os.path.join(out, "traces"))
        n = len(frames_per_loc)
        write_defs(out, n)
        for loc, frames in enumerate(frames_per_loc):
            write_loc_evt((out, loc, frames, n))
        return out

    return write
