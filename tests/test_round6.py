"""Round-6 additions: the md5int portable-fast MinHash mode, the
integer recall report, and the base_hash index-compatibility guard."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from pipit_spark.llm.dedup import (
    _MINHASH_P,
    _perm_constants,
    build_lsh_index,
    incremental_near_dups,
    minhash_lsh_pairs,
    minhash_sig_array,
)
from pipit_spark.llm.similarity import recall_report


def _py_md5int_sig(text: str, num_hashes: int, shingle_n: int):
    """Independent pure-Python recomputation of the md5int fast-path
    signature (normalize → word shingles → md5-hex15 base hash →
    linear permutations), engine-free so it cross-checks BOTH the
    Spark expressions and the DuckDB oracle's arithmetic."""
    words = " ".join(text.lower().split()).split(" ")
    n = max(len(words) - shingle_n, 0) + 1
    shingles = {" ".join(words[i : i + shingle_n]) for i in range(n)}
    a, b = _perm_constants(num_hashes)
    p = _MINHASH_P
    hs = [
        int(hashlib.md5(s.encode()).hexdigest()[:15], 16) % p
        for s in shingles
    ]
    return [
        min((int(a[i]) * h + int(b[i])) % p for h in hs)
        for i in range(num_hashes)
    ]


def test_md5int_signatures_match_python(spark):
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "pack my box with five dozen liquor jugs today"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: list(r["sig"])
        for r in minhash_sig_array(
            docs, num_hashes=8, shingle_n=2, persist=False,
            base_hash="md5int",
        ).collect()
    }
    for r in docs.collect():
        assert got[r["doc_id"]] == _py_md5int_sig(r["text"], 8, 2)


def test_md5int_lsh_finds_duplicate_pair(spark):
    base = " ".join(f"w{j}" for j in range(30))
    docs = spark.createDataFrame(
        [(1, base), (2, base), (3, "entirely different content here ok")],
        "doc_id long, text string",
    )
    out = minhash_lsh_pairs(
        docs, num_hashes=16, bands=8, base_hash="md5int"
    ).collect()
    pairs = {(r["a"], r["b"]): r["est_jaccard"] for r in out}
    assert pairs[(1, 2)] == 1.0
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_recall_report_integer_arithmetic(spark):
    exact = spark.createDataFrame(
        [(1, 10), (1, 11), (1, 12), (2, 20), (2, 21), (2, 22)],
        "query_id long, neighbor_id long",
    )
    approx = spark.createDataFrame(
        [(1, 10), (1, 11), (1, 99), (2, 77), (2, 78), (2, 79)],
        "query_id long, neighbor_id long",
    )
    rows = {
        r["query_id"]: r
        for r in recall_report(exact, approx).collect()
    }
    assert (rows[1]["n_exact"], rows[1]["n_hit"]) == (3, 2)
    assert rows[1]["recall_ppm"] == 2 * 1000000 // 3  # floor, not round
    assert (rows[2]["n_exact"], rows[2]["n_hit"]) == (3, 0)
    assert rows[2]["recall_ppm"] == 0
    # BIGINT end to end — the r05 dtype lesson
    sch = dict(recall_report(exact, approx).dtypes)
    assert sch["recall_ppm"] == "bigint"


def test_incremental_base_hash_mismatch_raises(spark):
    corpus = spark.createDataFrame(
        [(i, " ".join(f"t{i}_{j}" for j in range(15))) for i in range(3)],
        "doc_id long, text string",
    )
    idx = build_lsh_index(
        corpus, num_hashes=8, bands=4, base_hash="md5int", persist=False
    )
    with pytest.raises(ValueError, match="base_hash: index=md5int"):
        incremental_near_dups(
            corpus.limit(1), idx, num_hashes=8, bands=4,
            base_hash="xxhash64",
        )
    # matching base_hash passes the guard and the join runs
    hits = incremental_near_dups(
        corpus, idx, num_hashes=8, bands=4, base_hash="md5int",
        threshold=0.5,
    )
    assert hits.count() == 3  # every doc matches itself in the index


def test_dedup_clusters_chain_graph_checkpoints(spark):
    """A 13-vertex path graph has diameter 12 — min-label propagation
    needs >5 rounds, crossing the every-5th-round localCheckpoint
    lineage truncation, and must still converge to component 0 for
    every vertex (the r05 advisor's pathological-chain case)."""
    from pipit_spark.llm.dedup import dedup_clusters

    n = 13
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "a long, b long"
    )
    labels = dedup_clusters(pairs, max_iter=25).collect()
    assert len(labels) == n
    assert all(r["component"] == 0 for r in labels)


def test_cell_balance_invariants(spark):
    """Cluster-balance report: counts partition the corpus exactly,
    shares are floor-ppm of the total, all integer dtypes."""
    from pipit_spark.llm.similarity import cell_balance

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    n = emb.count()
    rows = cell_balance(emb, nlist=8).collect()
    assert sum(r["n_vectors"] for r in rows) == n
    for r in rows:
        assert r["share_ppm"] == r["n_vectors"] * 1000000 // n
    got = dict(cell_balance(emb, nlist=8).dtypes)
    assert got["n_vectors"] == "bigint" and got["share_ppm"] == "bigint"


def test_hybrid_retrieval_fuses_both_tiers(spark):
    """The hybrid gate must actually MIX tiers: every query returns
    k fused rows, at least one row carries a lexical-only contribution
    and the ranked order follows rrf_score desc with item-id
    tie-break."""
    from pipit_spark.queries import q_doc_hybrid_retrieval

    rows = q_doc_hybrid_retrieval(
        spark, "/root/testdata/sf0.001"
    ).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    assert set(by_q) == {"q1", "q2"}
    for qid, rs in by_q.items():
        rs.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rs] == list(range(1, len(rs) + 1))
        keys = [(-r["rrf_score"], r["item_id"]) for r in rs]
        assert keys == sorted(keys)
        assert all(r["n_lists"] in (1, 2) for r in rs)


def test_ivf_assign_kernel_matches_column_form(spark):
    """The Arrow assignment kernel (the >64-cell scale path) must be
    bit-identical to the unrolled-column form: same cells, same probe
    lists including the smaller-cell-index tie-break."""
    from pyspark.sql import functions as F
    from pipit_spark.llm.similarity import (
        _ivf_assign_kernel,
        _ivf_portable_corpus,
        _portable_centroids,
        _quantize_vec,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    nlist, dim, quant = 8, 64, 1000
    cents = _portable_centroids(nlist, dim, quant)
    na2s = [sum(c * c for c in cj) for cj in cents]
    cols = {
        r["cid"]: r["cell"]
        for r in _ivf_portable_corpus(emb, nlist, quant, "embedding", dim)
        .select("cid", "cell")
        .collect()
    }
    base = emb.select(
        F.col("vec_id").alias("cid"),
        _quantize_vec(F.col("embedding"), quant).alias("cq"),
    )
    kern = {
        r["cid"]: r["cell"]
        for r in base.withColumn(
            "cell", _ivf_assign_kernel(cents, na2s)(F.col("cq"))
        ).collect()
    }
    assert cols == kern
    # probe lists agree too (order matters)
    from pipit_spark.llm.similarity import _ivf_probe_frame

    qb = base.withColumnRenamed("cid", "qid").withColumnRenamed(
        "cq", "qq"
    ).limit(50)
    col_probes = {
        r["qid"]: list(r["cells"])
        for r in _ivf_probe_frame(qb, cents, na2s, 3).collect()
    }
    kern_probes = {
        r["qid"]: list(r["cells"])
        for r in qb.withColumn(
            "cells", _ivf_assign_kernel(cents, na2s, nprobe=3)(F.col("qq"))
        ).collect()
    }
    assert col_probes == kern_probes


def test_ivf_portable_large_nlist_kernel_path(spark):
    """nlist=128 routes assignment through the kernel (plan width
    would be 256 columns in the unrolled form) and the search still
    returns a full top-k per query."""
    from pyspark.sql import functions as F
    from pipit_spark.llm.similarity import ivf_topk_portable

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") < 3)
    corpus = emb.filter(F.col("vec_id") >= 3)
    out = ivf_topk_portable(
        corpus, qs, k=5, nlist=128, nprobe=32
    ).collect()
    assert len(out) == 15
    assert {r["query_id"] for r in out} == {0, 1, 2}


def test_append_portable_indexes_equals_full_build(spark, tmp_path):
    """Build the portable indexes on half the corpus, append the other
    half, and the indexed searches must be bit-identical to indexes
    built on the full corpus in one shot — the continuous-ingestion
    contract."""
    from pyspark.sql import functions as F
    from pipit_spark.llm.similarity import (
        append_ivf_topk_index,
        append_lsh_topk_index,
        ivf_topk_portable_indexed,
        lsh_topk_portable_indexed,
        save_ivf_topk_index,
        save_lsh_topk_index,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") % 25 == 0)
    corpus = emb.filter(F.col("vec_id") % 25 != 0)
    half_a = corpus.filter(F.col("vec_id") % 2 == 0)
    half_b = corpus.filter(F.col("vec_id") % 2 == 1)

    # the session catalog is in-memory: a previous test SESSION's table
    # metadata is gone (DROP is a no-op) but its warehouse directory
    # survives and saveAsTable refuses the location — clear both
    import shutil
    from urllib.parse import urlparse

    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    for t in ("t_r6_lsh_inc", "t_r6_ivf_inc", "t_r6_lsh_full",
              "t_r6_ivf_full"):
        for suffix in ("_vecs", "_bands", "_cells", "__annmeta"):
            spark.sql(f"DROP TABLE IF EXISTS {t}{suffix}")
            shutil.rmtree(f"{wh}/{t}{suffix}", ignore_errors=True)

    save_lsh_topk_index(half_a, "t_r6_lsh_inc", num_buckets=4)
    append_lsh_topk_index(half_b, "t_r6_lsh_inc")
    save_lsh_topk_index(corpus, "t_r6_lsh_full", num_buckets=4)

    save_ivf_topk_index(half_a, "t_r6_ivf_inc", nlist=4)
    append_ivf_topk_index(half_b, "t_r6_ivf_inc")
    save_ivf_topk_index(corpus, "t_r6_ivf_full", nlist=4)

    a = lsh_topk_portable_indexed(spark, "t_r6_lsh_inc", qs, k=5)
    b = lsh_topk_portable_indexed(spark, "t_r6_lsh_full", qs, k=5)
    assert a.exceptAll(b).count() + b.exceptAll(a).count() == 0

    a = ivf_topk_portable_indexed(spark, "t_r6_ivf_inc", qs, k=5, nprobe=2)
    b = ivf_topk_portable_indexed(spark, "t_r6_ivf_full", qs, k=5, nprobe=2)
    assert a.exceptAll(b).count() + b.exceptAll(a).count() == 0


def test_quantile_sketch_merge_equals_whole(spark):
    """Sharded quantile sketches union-merged must equal the
    whole-corpus sketch — md5 membership is per-doc, so merge≡whole is
    exact, and quantiles read off either agree bit-for-bit."""
    from pyspark.sql import functions as F
    from pipit_spark.llm.sketches import (
        merge_quantile_sketches,
        quantile_sketch,
        sketch_quantiles,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    whole = sketch_quantiles(quantile_sketch(docs, pct=30))
    merged = sketch_quantiles(
        merge_quantile_sketches(
            quantile_sketch(docs.filter(F.col("doc_id") % 2 == 0), pct=30),
            quantile_sketch(docs.filter(F.col("doc_id") % 2 == 1), pct=30),
        )
    )
    assert (
        whole.exceptAll(merged).count()
        + merged.exceptAll(whole).count()
        == 0
    )
    # the sketch actually sampled (not empty, not everything)
    n = docs.count()
    ns = quantile_sketch(docs, pct=30).count()
    assert 0 < ns < n
