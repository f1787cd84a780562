"""Round-10 additions.

1. The Trace-level public API batch (r09 verdict item 1):
   from_hpctoolkit(**kw), and the HPCToolkit reader's context id
   renamed to ctx_id so it survives `matched` and derived checkpoints
   (r09 ADVICE item 2).
2. cluster_conf's emit-sort spill bound.
"""
from __future__ import annotations

import pytest


def test_from_hpctoolkit_kw_passthrough(spark):
    """**kw reaches read_hpctoolkit: a bad order= fails fast through
    the Trace API (validation happens before any file I/O, so no real
    db is needed)."""
    from pipit_spark.trace import Trace

    with pytest.raises(ValueError, match="order must be"):
        Trace.from_hpctoolkit(spark, "/nonexistent-r10-db", order="frame")


@pytest.mark.skipif(
    not __import__("os").path.isdir(
        "/root/reference/pipit/tests/data/ping-pong-hpctoolkit"
    ),
    reason="reference golden traces unavailable",
)
def test_hpctoolkit_ctx_id_survives_matched_and_checkpoint(spark, tmp_path):
    """The reader's meta.db context id (ctx_id) and the matching pass's
    CCT node_id now COEXIST on `matched` (the r09 collision fix kept
    only the derived one), and a derived-checkpoint round trip keeps
    ctx_id while re-splitting node_id off the events frame."""
    from pipit_spark.trace import Trace

    t = Trace.from_hpctoolkit(
        spark, "/root/reference/pipit/tests/data/ping-pong-hpctoolkit"
    )
    assert "ctx_id" in t.events.columns
    m = t.matched
    assert "ctx_id" in m.columns and "node_id" in m.columns
    enters = m.filter("event_type like '%Enter' and ctx_id is not null")
    assert enters.count() > 0
    # ctx_id is NOT an inc-metric column (identity, not a measurement)
    assert "ctx_id" not in t.numeric_cols
    assert "ctx_id_inc" not in m.columns

    path = str(tmp_path / "hpct_ckpt.parquet")
    t.to_parquet(path, include_derived=True)
    t2 = Trace.from_parquet(spark, path)
    assert "ctx_id" in t2.events.columns      # survives the re-split
    assert "node_id" not in t2.events.columns  # derived stays derived
    assert "ctx_id" in t2.matched.columns and "node_id" in t2.matched.columns


def test_cluster_conf_emit_sort_spill_bound():
    """The round-9 emit-sort heap floor (0.75 g × concurrent task at
    billion-row-location width OOMs stock heaps before spilling
    engages), encoded: each UnsafeExternalRowSorter is bounded to a
    quarter of per-core heap, floored at 64 MB, via the STATIC
    spark.shuffle.spill.maxSizeInBytesForSpillThreshold conf."""
    from pipit_spark.session import cluster_conf

    key = "spark.shuffle.spill.maxSizeInBytesForSpillThreshold"
    # 32 g / 8 cores -> 1 g per sorter
    assert cluster_conf(executor_cores=8, executor_mem_gb=32)[key] == str(
        1024 * 1024 * 1024
    )
    # stock-8g/32-core shape (the r09 OOM) -> the 64 MB floor binds
    assert cluster_conf(executor_cores=32, executor_mem_gb=8)[key] == str(
        64 * 1024 * 1024
    )


