"""Round-8 additions: the KLL accuracy-contract gate, the
direct-memory code guarantee (PLANS.md §21 Trap 1 → session.py), the
widened per-PE id space in the Projections reader, and a Lloyd-update
pin for PQ codebook training (r07 ADVICE item 3).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F


# --------------------------------------------------------------------- #
# KLL rank-check contract (verdict item 8)
# --------------------------------------------------------------------- #
def test_kll_rank_check_all_within_bound_exact_mode(spark):
    """At fixture scale every group is in KLL exact mode — the bracket
    verdict must be TRUE for every (group, quantile), and n must equal
    the group row count (what the driver's oracle hashes)."""
    from pipit_spark.llm.sketches import kll_rank_check

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = kll_rank_check(docs).collect()
    assert len(out) == 20 * 4  # 20 sources x 4 quantiles
    assert all(r["within_bound"] for r in out)
    counts = {
        r["source"]: r["n"]
        for r in docs.groupBy("source").count()
        .withColumnRenamed("count", "n").collect()
    }
    assert all(r["n"] == counts[r["grp"]] for r in out)


def test_kll_rank_check_holds_past_exact_mode(spark):
    """Force compaction (one 6000-row group at k=200, far beyond exact
    mode, where estimates go nondeterministic) — the 3x-rank-error
    value bracket must STILL hold on every quantile: the gate's
    verdict is deterministic even when the raw estimates are not."""
    from pipit_spark.llm.sketches import kll_rank_check

    docs = spark.range(6000).select(
        F.lit("big").alias("source"),
        F.col("id").alias("doc_id"),
        # token counts 1..200, heavy ties — the duplicate-mass case
        # a count-below check would misjudge and the bracket handles
        F.concat_ws(
            " ", F.array_repeat(F.lit("tok"), (F.col("id") % 200 + 1).cast("int"))
        ).alias("text"),
    )
    out = kll_rank_check(docs).collect()
    assert len(out) == 4
    assert all(r["within_bound"] for r in out), [tuple(r) for r in out]
    assert all(r["n"] == 6000 for r in out)


# --------------------------------------------------------------------- #
# Direct-memory headroom is a code guarantee (verdict item 3)
# --------------------------------------------------------------------- #
def test_stock_session_caps_direct_memory_explicitly(spark):
    """get_spark must set -XX:MaxDirectMemorySize without any env var:
    the multi-stage Arrow OOM (PLANS.md §21 Trap 1) was previously
    escaped via SPARK_GRAFT_DRIVER_MEM by hand; the session builder
    now decouples the direct-buffer cap from the heap."""
    opts = spark.conf.get("spark.driver.extraJavaOptions", "")
    assert "-XX:MaxDirectMemorySize=" in opts
    assert "SPARK_GRAFT_DIRECT_MEM" not in os.environ  # stock run


def test_ingest_then_match_one_session(spark, tmp_path):
    """Smoke for the multi-stage shape the trap bit: binary-trace
    ingest and the Arrow-laned matching pass in the SAME session (the
    120M-scale proof is the pipeline rung, SCALING.md; this pins the
    composition at fixture scale in the default test JVM)."""
    from pipit_spark import Trace
    from pipit_spark.sources.projections import read_projections

    golden = "/root/reference/pipit/tests/data/ping-pong-projections"
    if not os.path.isdir(golden):
        pytest.skip("reference golden traces unavailable")

    events = read_projections(spark, golden)
    path = str(tmp_path / "ingested")
    events.write.parquet(path)
    t = Trace(spark.read.parquet(path))
    prof = t.flat_profile().collect()
    assert len(prof) > 0


# --------------------------------------------------------------------- #
# Widened per-PE id space (r07 ADVICE, medium)
# --------------------------------------------------------------------- #
def test_projections_pe_id_spaces_disjoint_at_2_40():
    """The chunked reader's per-PE base is now pe << 40 (the OTF2
    reader's scheme): PE id ranges cannot collide below 2^40 events
    per PE, and the parse raises loudly past that instead of silently
    corrupting the matching join."""
    import pandas as pd

    from pipit_spark.sources import projections as P

    meta = {
        "chares": {0: "Main"},
        "entries": {i: (f"work_{i}(Msg* m)", 0) for i in range(4)},
        "user_events": {},
        "user_stats": {},
        "num_perf_counts": 0,
        "num_pes": 8,
    }

    class _B:  # fake broadcast
        def __init__(self, v):
            self.value = v

    parse = P._make_parse_partition(_B(meta))
    lines = ["6 1000", "2 0 1 1010 5 1 64 0 0", "3 0 1 1020 5 1 64 0 0",
             "7 1030"]
    pdf = pd.DataFrame({
        "__file": ["synth.prj.5.log"] * len(lines),
        "value": lines,
    })
    out = pd.concat(list(parse([pdf])), ignore_index=True)
    assert (out["seq"] >= (5 << 40)).all()
    assert (out["seq"] < (6 << 40)).all()


# --------------------------------------------------------------------- #
# PQ codebook training really iterates (r07 ADVICE item 3)
# --------------------------------------------------------------------- #
def test_pq_kmeans_iterations_reduce_quantization_error(spark):
    """On REAL (non-degenerate) fixture embeddings at the production
    m=16/ksub=64 config, ten Lloyd iterations must strictly reduce
    total quantization error vs the 0-iteration strided init — an
    identity centroid update (the regression the driver's
    cluster-structured gates can no longer see) keeps them equal and
    fails here."""
    import numpy as np

    from pipit_spark.llm.similarity import pq_encode, pq_train

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

    def total_err(cb):
        codes = {r["neighbor_id"]: r["codes"]
                 for r in pq_encode(emb, cb).collect()}
        vecs = {r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
                for r in emb.select("vec_id", "embedding").collect()}
        err = 0.0
        m = cb.codebooks.shape[0]
        for vid, v in vecs.items():
            v = v / np.linalg.norm(v)
            dsub = len(v) // m
            rec = np.concatenate([
                cb.codebooks[j][codes[vid][j]] for j in range(m)
            ])
            err += float(((v.reshape(m, dsub).ravel() - rec) ** 2).sum())
        return err

    cb0 = pq_train(emb, m=16, ksub=64, train_max_id=None, kmeans_iters=0)
    cb10 = pq_train(emb, m=16, ksub=64, train_max_id=None, kmeans_iters=10)
    e0, e10 = total_err(cb0), total_err(cb10)
    assert e10 < e0, (e10, e0)


# --------------------------------------------------------------------- #
# Pre-split hot-PE shards (skew mitigation, verdict item 4)
# --------------------------------------------------------------------- #
def test_split_pe_log_shards_equal_whole(spark, tmp_path):
    """A PE log split into n line-order shards (tools/split_pe_log.py)
    must parse to EXACTLY the whole file's events — same per-PE event
    order (seq-monotone), same names/types/timestamps, trailing
    Computation repair applied once (on the last shard only) — while
    ids stay unique and per-PE sorted."""
    import shutil

    from pipit_spark.sources.projections import read_projections
    from tools.split_pe_log import split_pe_log
    from tools.synth_projections import synthesize

    whole_dir = tmp_path / "whole"
    shard_dir = tmp_path / "sharded"
    synthesize(str(whole_dir), 2, 400)  # PEs 0,1
    shutil.copytree(whole_dir, shard_dir)
    shards = split_pe_log(str(shard_dir / "synth.prj.0.log.gz"), 4)
    assert len(shards) == 4
    os.remove(shard_dir / "synth.prj.0.log.gz")

    whole = read_projections(spark, str(whole_dir)).toPandas()
    sharded = read_projections(spark, str(shard_dir)).toPandas()

    assert len(whole) == len(sharded)
    key = ["process", "seq"]
    w = whole.sort_values(key).reset_index(drop=True)
    s = sharded.sort_values(key).reset_index(drop=True)
    # ids differ by construction (shard bases); event CONTENT and
    # per-PE ORDER must be identical
    content = ["process", "name", "event_type", "timestamp_ns"]
    assert w[content].equals(s[content])
    assert [dict(a) if a is not None else None for a in w.attributes] \
        == [dict(a) if a is not None else None for a in s.attributes]
    # id uniqueness and shard-range placement
    assert s["seq"].is_unique
    pe0 = s[s.process == 0]
    assert (pe0.seq < (1 << 40)).all()
    assert pe0.seq.is_monotonic_increasing


# --------------------------------------------------------------------- #
# Matrix-profile fallback vs an independent definition-level
# implementation (verdict item 5 — stumpy itself cannot be installed
# in this environment: no package installs, no network; see PLANS.md)
# --------------------------------------------------------------------- #
def test_matrix_profile_fallback_matches_definition():
    """The fallback computes z-normalized Euclidean distance via the
    correlation identity d^2 = 2m(1 - z_i.z_j/m) — the same quantity
    stumpy::stump computes. Pin it against a SECOND, definition-level
    implementation (explicit per-pair z-norm + subtraction, no
    correlation trick, no shared code) on a seeded random walk: the
    profiles must agree to fp tolerance and the motif pair exactly.
    This is the strongest stumpy-equivalence evidence available in an
    install-free environment: both implementations compute the same
    published definition, cross-checked independently."""
    import numpy as np

    from pipit_spark.operators.patterns import (
        _matrix_profile_numpy,
        _motifs_numpy,
    )

    rng = np.random.default_rng(7)
    series = np.cumsum(rng.normal(size=160))
    # plant an EXACT repeat far apart: the (20, 120) window pair has
    # z-norm distance 0, unambiguously the top motif
    series[120:132] = series[20:32]
    m = 12

    got_prof, got_nn = _matrix_profile_numpy(series, m)

    n = len(series) - m + 1
    excl = max(1, m // 2)

    def znorm(w):
        sd = w.std()
        return (w - w.mean()) / (sd if sd != 0 else 1.0)

    ref_prof = np.full(n, np.inf)
    ref_nn = np.zeros(n, dtype=int)
    for i in range(n):
        zi = znorm(series[i:i + m])
        for j in range(n):
            if abs(i - j) <= excl:
                continue
            d = float(np.sqrt(((zi - znorm(series[j:j + m])) ** 2).sum()))
            if d < ref_prof[i]:
                ref_prof[i], ref_nn[i] = d, j
    assert np.allclose(got_prof, ref_prof, atol=1e-8)
    # nearest-neighbor indices may differ only on exact ties
    ties = got_nn != ref_nn
    if ties.any():
        assert np.allclose(got_prof[ties], ref_prof[ties], atol=1e-8)

    picked = _motifs_numpy(series, m, max_motifs=1)
    assert sorted(picked[:2]) == [20, 120]


# --------------------------------------------------------------------- #
# order="process" reader mode (skip the parity range shuffle at ingest)
# --------------------------------------------------------------------- #
def test_otf2_order_process_same_rows_no_sort(spark):
    """order='process' must return the same event multiset as the
    default global frame order, with per-(process, thread) timestamps
    already monotone in seq — the only ordering the engine's own
    operators consume."""
    import os

    import pytest

    from pipit_spark.sources.otf2_native import read_otf2_native

    golden = "/root/reference/pipit/tests/data/ping-pong-otf2"
    if not os.path.isdir(golden):
        pytest.skip("reference golden traces unavailable")

    key = ["process", "thread", "seq"]
    trace_order = read_otf2_native(spark, golden)[0].toPandas()
    proc_order = read_otf2_native(spark, golden, order="process")[0].toPandas()
    a = trace_order.sort_values(key).reset_index(drop=True)
    b = proc_order.sort_values(key).reset_index(drop=True)
    assert a.drop(columns="attributes").equals(b.drop(columns="attributes"))
    for _g, grp in b.groupby(["process", "thread"]):
        assert grp.timestamp_ns.is_monotonic_increasing

    with pytest.raises(ValueError, match="order"):
        read_otf2_native(spark, golden, order="frame")


def test_hpctoolkit_order_process_same_rows_no_sort(spark, tmp_path):
    """Same contract for the HPCToolkit reader, on a synthesized v4.0
    database; also pins that 'process' really removes the exchange
    from the plan while 'trace' keeps it under an order-sensitive
    consumer (parquet write plans both; count() would eliminate the
    sort either way — SCALING.md round-8 correction)."""
    import pytest

    from pipit_spark.sources.hpctoolkit import read_hpctoolkit
    from tools.synth_hpctoolkit import synthesize

    db = str(tmp_path / "db")
    synthesize(db, 4, 900)

    key = ["process", "thread", "seq"]
    trace_order = read_hpctoolkit(spark, db).toPandas()
    proc_order = read_hpctoolkit(spark, db, order="process").toPandas()
    a = trace_order.sort_values(key).reset_index(drop=True)
    b = proc_order.sort_values(key).reset_index(drop=True)
    assert len(a) > 0
    assert a.drop(columns="attributes").equals(b.drop(columns="attributes"))
    for _g, grp in b.groupby(["process", "thread"]):
        assert grp.timestamp_ns.is_monotonic_increasing

    plan_trace = (read_hpctoolkit(spark, db)
                  ._jdf.queryExecution().executedPlan().toString())
    plan_proc = (read_hpctoolkit(spark, db, order="process")
                 ._jdf.queryExecution().executedPlan().toString())
    assert "rangepartitioning" in plan_trace.lower()
    assert "rangepartitioning" not in plan_proc.lower()

    with pytest.raises(ValueError, match="order"):
        read_hpctoolkit(spark, db, order="frame")


def test_cluster_conf_sizing_rules():
    """cluster_conf encodes the measured sizing rules: partition-count
    follows dataset size at the target partition bytes, direct-memory
    headroom is explicit (PLANS.md §21 Trap 1 as a cluster-side
    guarantee), AQE/Arrow always on, and bad sizing raises."""
    import pytest

    from pipit_spark.session import cluster_conf

    c = cluster_conf(executor_cores=8, executor_mem_gb=32, dataset_tb=100)
    # 100 TB / 256 MB = 409,600 post-shuffle partitions
    assert c["spark.sql.shuffle.partitions"] == "409600"
    assert c["spark.executor.extraJavaOptions"] == "-XX:MaxDirectMemorySize=16g"
    assert c["spark.sql.adaptive.enabled"] == "true"
    assert c["spark.sql.execution.arrow.pyspark.enabled"] == "true"
    assert c["spark.sql.files.maxPartitionBytes"] == str(256 * 1024 * 1024)

    # no dataset size -> leave shuffle.partitions to the deployment
    assert "spark.sql.shuffle.partitions" not in cluster_conf()

    with pytest.raises(ValueError):
        cluster_conf(executor_cores=0)
