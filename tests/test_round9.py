"""Round-9 additions.

1. The chunked carried-stack matching kernel (r08 verdict item 1): the
   whole-location memory envelope deleted — resident state ∝ stack
   depth. Pinned here as bit-equality against the whole-location kernel
   on golden traces AND an adversarial unbalanced trace, across forced
   Arrow-chunk boundaries.
2. The _write_annmeta type fix (value-derived SQL types; r08 verdict
   item 2 / deferred r07 ADVICE).
3. cluster_conf: the implemented 2×-cores floor and the wedge
   self-healing confs (r08 verdict item 4).
4. Reader order= validation before any file I/O (r09 ADVICE).
5. PQ recall floor at the exact production config m=16/ksub=64 on
   non-degenerate embeddings (r08 verdict item 5).
"""
from __future__ import annotations

import numpy as np
import pandas as pd
import pytest


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


@pytest.fixture(scope="module")
def tiny_batch_spark(spark):
    """Force many Arrow-chunk crossings so the carried state is
    genuinely exercised (65536-row default would make most locations
    single-batch)."""
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "64")
    yield spark
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)


def _sorted(df: pd.DataFrame) -> pd.DataFrame:
    return df.sort_values("event_id").reset_index(drop=True)


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


def test_annmeta_value_derived_types(spark):
    """_write_annmeta types follow the VALUES (r07 ADVICE, deferred to
    r09 with the similarity gates windowed): a >2^31 int survives the
    round trip as BIGINT, floats become DOUBLE, bools are rejected."""
    import shutil

    import pipit_spark.llm.similarity as V

    spark.sql("DROP TABLE IF EXISTS t_r9_annmeta__annmeta")
    shutil.rmtree("spark-warehouse/t_r9_annmeta__annmeta",
                  ignore_errors=True)
    V._write_annmeta(
        spark, "t_r9_annmeta",
        {"num_tables": 4, "n_vecs": 2 ** 40, "vec_col": "embedding",
         "ratio": 0.25},
    )
    m = V.refresh_annmeta(spark, "t_r9_annmeta")
    assert m["n_vecs"] == 2 ** 40
    assert m["ratio"] == 0.25
    sch = {f.name: f.dataType.simpleString()
           for f in spark.table("t_r9_annmeta__annmeta").schema.fields}
    assert sch == {"num_tables": "bigint", "n_vecs": "bigint",
                   "vec_col": "string", "ratio": "double"}
    with pytest.raises(TypeError, match="bool"):
        V._write_annmeta(spark, "t_r9_bad", {"flag": True})
    spark.sql("DROP TABLE IF EXISTS t_r9_annmeta__annmeta")


def test_cluster_conf_floor_and_wedge_healing():
    """The shuffle-partition floor is now implemented (2× total cluster
    cores when num_executors is given — previously docstring-only), and
    the round-8 capstone's PythonRunner wedge gets the self-healing
    confs (speculation + task reaper)."""
    from pipit_spark.session import cluster_conf

    c = cluster_conf(executor_cores=8, executor_mem_gb=32,
                     dataset_tb=0.001, num_executors=100)
    assert c["spark.sql.shuffle.partitions"] == str(2 * 8 * 100)
    assert c["spark.executor.instances"] == "100"
    # a big dataset is NOT floored down
    c2 = cluster_conf(executor_cores=8, executor_mem_gb=32,
                      dataset_tb=100, num_executors=10)
    assert c2["spark.sql.shuffle.partitions"] == "409600"
    for key in ("spark.speculation", "spark.task.reaper.enabled"):
        assert cluster_conf()[key] == "true"


def test_cluster_conf_parquet_writer_footprint():
    """The round-8 capstone's billion-write OOM rule, encoded:
    row-group size is bounded so concurrent writer buffers fit the
    heap (~16× block per writer once sort/Arrow overheads stack).
    Cluster shapes with ≥2 g heap per core keep the 128 MB default;
    the local 8 g / 32-core stock shape derives 16 MB — the conf the
    round-9 stock-session billion-write rung runs with."""
    from pipit_spark.session import cluster_conf

    # typical cluster executor: default row groups untouched
    c = cluster_conf(executor_cores=8, executor_mem_gb=32)
    assert c["spark.hadoop.parquet.block.size"] == str(128 * 1024 * 1024)
    # the local box's stock shape: 8 g heap, 32 concurrent writers
    c = cluster_conf(executor_cores=32, executor_mem_gb=8)
    assert c["spark.hadoop.parquet.block.size"] == str(16 * 1024 * 1024)
    # pathologically small heap still gets a workable floor
    c = cluster_conf(executor_cores=64, executor_mem_gb=2)
    assert c["spark.hadoop.parquet.block.size"] == str(8 * 1024 * 1024)


def test_reader_order_validated_before_io(spark):
    """A typo'd order= fails in milliseconds, before the eager driver-
    side database parse (r09 ADVICE): proven by pointing both readers
    at a path that does not exist — I/O-first code would raise
    FileNotFoundError instead."""
    from pipit_spark.sources.hpctoolkit import read_hpctoolkit
    from pipit_spark.sources.otf2_native import read_otf2_native

    with pytest.raises(ValueError, match="order"):
        read_hpctoolkit(spark, "/nonexistent-r9-db", order="frame")
    with pytest.raises(ValueError, match="order"):
        read_otf2_native(spark, "/nonexistent-r9-archive", order="frame")


def test_pq_recall_floor_production_config(spark):
    """Recall floor pinned at the EXACT production PQ config (m=16,
    ksub=64, kmeans_iters=10) on the real non-degenerate fixture
    embeddings (r08 verdict item 5): recall@10 ≥ 0.62 — and strictly
    above the 0-iteration strided init, so an identity centroid update
    can no longer pass the cluster-structured driver gate AND the
    generic floors while silently destroying trained recall
    (measured: 0.640 trained vs 0.560 untrained; all inputs seeded and
    deterministic)."""
    import pipit_spark.llm.similarity as V

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    exact = {(r["query_id"], r["neighbor_id"])
             for r in V.cosine_topk(emb, k=10, query_max_id=20).collect()}

    def recall(iters: int) -> float:
        got = {(r["query_id"], r["neighbor_id"])
               for r in V.pq_topk(emb, k=10, query_max_id=20, m=16, ksub=64,
                                  train_max_id=None,
                                  kmeans_iters=iters).collect()}
        return len(exact & got) / len(exact)

    trained, untrained = recall(10), recall(0)
    assert trained >= 0.62, trained
    assert trained > untrained, (trained, untrained)


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
