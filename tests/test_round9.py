"""Round-9 additions.

1. The _write_annmeta type fix (value-derived SQL types; r08 verdict
   item 2 / deferred r07 ADVICE).
2. cluster_conf: the implemented 2×-cores floor and the wedge
   self-healing confs (r08 verdict item 4).
3. Reader order= validation before any file I/O (r09 ADVICE).
4. PQ recall floor at the exact production config m=16/ksub=64 on
   non-degenerate embeddings (r08 verdict item 5).
"""
from __future__ import annotations

import pytest


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


