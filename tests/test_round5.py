"""Round-5 additions: web gates, bigram LM, cluster audits, burst
windows, isolation scores, caller-callee edges."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F


def test_bigram_lm_semantics(spark):
    from pipit_spark.llm.text import bigram_lm

    docs = spark.createDataFrame(
        [
            (0, "a b a b c"),
            (1, "a b x"),
            (2, "z"),  # single token: no bigrams
        ],
        "doc_id long, text string",
    )
    lm = {
        (r["w1"], r["w2"]): r
        for r in bigram_lm(docs, top_k=10, min_count=1).collect()
    }
    # "a b" occurs 3×; context "a" occurs 3× total → P(b|a)=1.0
    assert lm[("a", "b")]["pair_count"] == 3
    assert lm[("a", "b")]["ctx_count"] == 3
    assert lm[("a", "b")]["cond_ppm"] == 1_000_000
    # "b a" 1× of context b's 3 → 333333 (floor div)
    assert lm[("b", "a")]["cond_ppm"] == 333_333
    # single-token doc contributes nothing
    assert not any(w1 == "z" or w2 == "z" for w1, w2 in lm)


def test_bigram_counts_merge_equals_whole_corpus(spark):
    """Split the corpus, count each half, merge — must equal the LM
    built from the whole corpus in one pass."""
    from pipit_spark.llm.text import (
        bigram_counts, bigram_lm, merge_bigram_counts,
    )

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(
            ["a b a b c", "a b x", "b c a", "c a b", "x a b"]
        )],
        "doc_id long, text string",
    )
    whole = bigram_lm(docs, top_k=10, min_count=1).collect()
    half1 = bigram_counts(docs.filter("doc_id < 2"))
    half2 = bigram_counts(docs.filter("doc_id >= 2"))
    merged = merge_bigram_counts(
        half1.unionByName(half2), top_k=10, min_count=1
    ).collect()
    assert sorted(map(tuple, merged)) == sorted(map(tuple, whole))


def test_lm_score_semantics(spark):
    from pipit_spark.llm.text import bigram_lm, lm_score

    docs = spark.createDataFrame(
        [(0, "a b a b c"), (1, "a b x"), (2, "z")],
        "doc_id long, text string",
    )
    lm = bigram_lm(docs, top_k=2, min_count=1)  # keeps top-2 pairs only
    out = {r["doc_id"]: r for r in lm_score(docs, lm).collect()}
    # doc 2 has no bigrams: all-zero row, not a missing row
    assert out[2]["n_bigrams"] == 0 and out[2]["mean_cond_ppm"] == 0
    # every doc present
    assert set(out) == {0, 1, 2}
    # hits never exceed total bigrams
    for r in out.values():
        assert r["lm_hits"] <= r["n_bigrams"]


def test_cluster_summary_and_dup_inflation(spark):
    from pipit_spark.llm.dedup import cluster_summary, dup_inflation

    docs = spark.createDataFrame(
        [
            (0, "same text", "s1", 9),
            (1, "same text", "s2", 9),
            (2, "same  text", "s1", 10),  # normalizes to the same fp
            (3, "unique", "s1", 6),
        ],
        "doc_id long, text string, source string, n_chars long",
    )
    cs = cluster_summary(docs).collect()
    assert len(cs) == 1
    row = cs[0]
    assert row["representative"] == 0
    assert row["n_docs"] == 3 and row["n_sources"] == 2
    # lengths 9+9+10 = 28 total; keep the longest copy (10) → 18 back
    assert row["total_chars"] == 28 and row["reclaimable_chars"] == 18

    infl = {r["source"]: r for r in dup_inflation(docs).collect()}
    assert infl["s1"]["n_docs"] == 3 and infl["s1"]["n_distinct"] == 2
    # s1: chars 9+10+6=25, distinct keeps max(9,10)=10 and 6 → 16
    assert infl["s1"]["total_chars"] == 25
    assert infl["s1"]["distinct_chars"] == 16
    assert infl["s1"]["inflation_ppm"] == (25 - 16) * 1_000_000 // 25
    assert infl["s2"]["inflation_ppm"] == 0


def test_burst_windows_both_ts_types(spark):
    from pipit_spark.operators.relational import burst_windows

    rows = [
        # type A: 3 events in hour 0, 1 in hour 1
        ("A", 100), ("A", 200), ("A", 300), ("A", 3700),
        # type B: 2 events in hour 2
        ("B", 7300), ("B", 7400),
    ]
    as_long = spark.createDataFrame(
        [(t, s * 1_000_000_000) for t, s in rows],
        "event_type string, ts long",
    )
    from datetime import datetime, timezone

    as_ts = spark.createDataFrame(
        [
            (t, datetime.fromtimestamp(s, tz=timezone.utc))
            for t, s in rows
        ],
        "event_type string, ts timestamp",
    )
    for df in (as_long, as_ts):
        out = {
            (r["event_type"], r["rank"]): r
            for r in burst_windows(df, bin_seconds=3600, top_k=2).collect()
        }
        assert out[("A", 1)]["win_start"] == 0
        assert out[("A", 1)]["n_events"] == 3
        assert out[("A", 2)]["win_start"] == 3600
        # A's baseline: (3+1) div 2 active windows = 2
        assert out[("A", 1)]["mean_per_window"] == 2
        assert out[("B", 1)]["win_start"] == 7200
        assert out[("B", 1)]["n_events"] == 2


def test_isolation_scores_bottom_k(spark):
    import numpy as np

    from pipit_spark.llm.similarity import isolation_scores

    rng = np.random.default_rng(7)
    base = rng.normal(size=8).astype("float32")
    vecs = [
        # 0-3: tight cluster around base
        *[(i, (base + rng.normal(scale=0.01, size=8).astype("float32")).tolist())
          for i in range(4)],
        # 4: orthogonal-ish outlier
        (4, rng.normal(size=8).astype("float32").tolist()),
    ]
    emb = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    out = isolation_scores(emb, query_max_id=5, bottom_k=1).collect()
    assert len(out) == 1 and out[0]["vec_id"] == 4
    # cluster members' max cosine ≈ 1 ≫ outlier's
    allr = isolation_scores(emb, query_max_id=5, bottom_k=5).collect()
    sims = {r["vec_id"]: r["max_cosine"] for r in allr}
    assert all(sims[i] > 0.99 for i in range(4))
    assert sims[4] < 0.9


def test_caller_callee_foo_bar(spark):
    from pipit_spark.trace import Trace

    t = Trace.from_csv(spark, "tests/data/foo-bar.csv")
    edges = {
        (r["caller"], r["callee"]): r for r in t.caller_callee().collect()
    }
    # golden call edges; roots group under <root>
    assert edges[("<root>", "main()")]["n_calls"] == 2
    assert ("main()", "foo()") in edges
    assert edges[("foo()", "baz()")]["total_ns"] == 10_000_000_000
    for r in edges.values():
        assert r["n_calls"] >= 1 and r["total_ns"] > 0


def test_web_gate_null_urls_survive(spark):
    from pipit_spark import queries as Q

    sf = "/root/testdata/sf0.001"
    out = Q.q_web_dedup_urls(spark, sf).toPandas()
    n_docs = Q.load(spark, sf, "documents").count()
    n_null = int(out["url"].isna().sum())
    # every 13th doc has a NULL url and must pass through 1:1
    assert n_null == len([i for i in range(n_docs) if i % 13 == 0])
    # non-null urls are unique after dedup
    nn = out[out["url"].notna()]
    assert nn["url"].is_unique


def test_round5_gates_partitioning_determinism(spark):
    """Driver hash discipline: bit-identical results at 4 vs 13
    shuffle partitions for every gate added this round."""
    from pipit_spark import queries as Q

    sf = "/root/testdata/sf0.001"
    names = [
        "web_dedup_urls", "web_url_features", "doc_bigram_lm",
        "doc_lm_score", "doc_cluster_summary", "doc_dup_inflation",
        "emb_isolation", "events_burst_windows", "trace_caller_callee",
        "doc_neardup_cluster_summary", "doc_dup_degree",
        "doc_length_percentiles", "events_common_paths",
        "doc_bigram_lm_merged", "web_domain_stats",
    ]
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        results = {}
        for parts in ("4", "13"):
            spark.conf.set("spark.sql.shuffle.partitions", parts)
            Q.clear_state(spark)
            for n in names:
                pdf = Q.queries()[n](spark, sf).toPandas()
                pdf = pdf[sorted(pdf.columns)].sort_values(
                    list(sorted(pdf.columns))
                ).reset_index(drop=True)
                results.setdefault(n, []).append(pdf)
        for n, (a, b) in results.items():
            pd.testing.assert_frame_equal(a, b, check_exact=True), n
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
        Q.clear_state(spark)


def test_near_dup_cluster_summary_and_degree(spark):
    from pipit_spark.llm.dedup import (
        dup_degree_stats, near_dup_cluster_summary,
    )

    docs = spark.createDataFrame(
        [
            (0, "x", "s1"), (1, "x", "s1"), (2, "x", "s2"),
            (3, "y", "s1"),
        ],
        "doc_id long, text string, source string",
    )
    # pair graph: 0-1, 1-2 (a chain; 0-2 connect transitively)
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2)], "a long, b long"
    )
    cs = near_dup_cluster_summary(docs, pairs).collect()
    assert len(cs) == 1
    assert cs[0]["representative"] == 0
    assert cs[0]["n_docs"] == 3 and cs[0]["n_sources"] == 2
    assert cs[0]["total_chars"] == 3

    deg = {r["degree"]: r["n_docs"] for r in dup_degree_stats(pairs).collect()}
    # docs 0 and 2 have degree 1; doc 1 has degree 2
    assert deg == {1: 2, 2: 1}


def test_length_percentiles_null_text_matches_oracle(spark):
    """NULL text: Spark's size(NULL)=-1 vs DuckDB's len(NULL)=NULL
    would shift every rank differently per engine — both sides
    coalesce to '' (0 tokens) instead."""
    import duckdb

    from pipit_spark.llm.text import (
        length_percentiles, oracle_length_percentiles,
    )

    rows = [(0, None), (1, "w"), (2, "w w"), (3, "w w w"),
            (4, "w w w w")]
    docs = spark.createDataFrame(
        [(i, t, "s") for i, t in rows],
        "doc_id long, text string, source string",
    )
    got = length_percentiles(docs).collect()[0]
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents AS SELECT * FROM (VALUES "
        + ", ".join(
            f"({i}, {'NULL' if t is None else repr(t)}, 's')"
            for i, t in rows
        )
        + ") t(doc_id, text, source)"
    )
    want = con.execute(oracle_length_percentiles()).df().iloc[0]
    for c in ("n_docs", "p25", "p50", "p75", "p95"):
        assert got[c] == want[c], (c, got[c], want[c])
    # the NULL doc counts as 0 tokens: p25 of [0,1,2,3,4] -> rank 2 -> 1
    assert got["p25"] == 1 and got["p50"] == 2


def test_length_percentiles_rank_selection(spark):
    from pipit_spark.llm.text import length_percentiles

    # 5 docs with 1..5 tokens: p50 rank = floor(0.5*4)+1 = 3 → 3 tokens
    docs = spark.createDataFrame(
        [(i, " ".join(["w"] * (i + 1)), "s") for i in range(5)],
        "doc_id long, text string, source string",
    )
    out = length_percentiles(docs).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_docs"] == 5
    assert r["p25"] == 2 and r["p50"] == 3
    assert r["p75"] == 4 and r["p95"] == 4  # floor(.95*4)=3 → rank 4


def test_ivf_append_and_cell_stats(spark):
    """Build-once/append-many: an appended batch is searchable with
    identical results to a from-scratch index over the combined
    corpus ASSIGNED WITH THE SAME centroids, and cell stats reflect
    the append."""
    import numpy as np

    from pipit_spark.llm import similarity as V
    from pyspark.sql import functions as F

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    base = emb.filter("vec_id < 400")
    batch = emb.filter("vec_id >= 400 AND vec_id < 450")
    idx = V.ivf_build(base, nlist=8, train_max_id=256)
    V.save_ivf_index(idx, "ivf_append_idx")
    try:
        n = V.ivf_append(spark, "ivf_append_idx", batch)
        assert n == 50
        idx2 = V.load_ivf_index(spark, "ivf_append_idx")
        assert idx2.assigned.count() == 450
        # search over the appended index must equal searching a
        # rebuilt index with the SAME (frozen) centroids: rebuild by
        # training on the same base sample, assigning the full corpus
        idx_full = V.ivf_build(
            base.unionByName(batch), nlist=8, train_max_id=256
        )
        assert np.array_equal(idx2.centroids, idx_full.centroids)
        q = emb.filter("vec_id < 3")
        got = (
            V.ivf_search(idx2, q, k=5, nprobe=8)
            .toPandas().sort_values(["query_id", "rank"])
            .reset_index(drop=True)
        )
        want = (
            V.ivf_search(idx_full, q, k=5, nprobe=8)
            .toPandas().sort_values(["query_id", "rank"])
            .reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(got, want)
        stats = V.ivf_cell_stats(spark, "ivf_append_idx").toPandas()
        assert stats["n_vectors"].sum() == 450
        assert (stats["share_ppm"] > 0).all()
    finally:
        spark.sql("DROP TABLE IF EXISTS ivf_append_idx")
        spark.sql("DROP TABLE IF EXISTS ivf_append_idx__ivfmeta")


def test_corpus_health_composition(spark):
    from pipit_spark.llm.pipeline import corpus_health

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    h = corpus_health(docs)
    assert set(h) == {
        "card", "dup_inflation", "dup_clusters",
        "length_percentiles", "vocab",
    }
    assert h["card"].count() == 1
    assert h["length_percentiles"].count() > 0
    assert h["vocab"].count() >= 1


def test_bloom_save_load_merge(spark):
    from pipit_spark.operators.bloom import (
        BloomBitmap, build_bloom, load_bloom, merge_blooms,
        might_contain, save_bloom,
    )

    a = spark.createDataFrame([("x",), ("y",)], "k string")
    b = spark.createDataFrame([("z",),], "k string")
    fa = build_bloom(a, "k", num_bits=1 << 12, num_hashes=3)
    fb = build_bloom(b, "k", num_bits=1 << 12, num_hashes=3)
    save_bloom(fa, spark, "bloom_rt")
    try:
        fa2 = load_bloom(spark, "bloom_rt")
        assert (fa2.words == fa.words).all()
        assert (fa2.num_bits, fa2.num_hashes) == (1 << 12, 3)
        merged = merge_blooms(fa2, fb)
        probe = spark.createDataFrame(
            [("x",), ("y",), ("z",), ("w",)], "k string"
        ).select("k", might_contain(merged, F.col("k"), spark).alias("m"))
        got = {r["k"]: r["m"] for r in probe.collect()}
        # no false negatives across the union
        assert got["x"] and got["y"] and got["z"]
        import pytest as _p

        with _p.raises(ValueError):
            merge_blooms(fa, BloomBitmap(fb.words, 1 << 12, 4))
    finally:
        spark.sql("DROP TABLE IF EXISTS bloom_rt")


def test_incremental_with_persisted_bloom(spark):
    """The steady-state ingestion loop: a persisted filter drives the
    pre-filter and the result equals method='exact'."""
    from pipit_spark.llm.pipeline import incremental_new_docs
    from pipit_spark.llm.text import doc_fingerprint
    from pipit_spark.operators.bloom import build_bloom, load_bloom, save_bloom

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    seen_docs = docs.filter("doc_id < 250")
    batch = docs.filter("doc_id >= 200")  # 50-doc overlap
    seen = doc_fingerprint(seen_docs).select("fingerprint")
    f = build_bloom(seen, "fingerprint", num_bits=1 << 16, num_hashes=5)
    save_bloom(f, spark, "bloom_incr")
    try:
        f2 = load_bloom(spark, "bloom_incr")
        got = sorted(
            r["doc_id"]
            for r in incremental_new_docs(
                batch, seen, method="bloom", bloom=f2
            ).collect()
        )
        want = sorted(
            r["doc_id"]
            for r in incremental_new_docs(
                batch, seen, method="exact"
            ).collect()
        )
        assert got == want and len(got) > 0
    finally:
        spark.sql("DROP TABLE IF EXISTS bloom_incr")


def test_common_paths_semantics(spark):
    from datetime import datetime, timezone

    from pipit_spark.operators.relational import common_paths

    def t(s):
        return datetime.fromtimestamp(s, tz=timezone.utc)

    events = spark.createDataFrame(
        [
            (1, 10, t(1), "a"), (2, 10, t(2), "b"), (3, 10, t(3), "c"),
            (4, 20, t(1), "a"), (5, 20, t(2), "b"), (6, 20, t(3), "c"),
            (7, 30, t(1), "x"), (8, 30, t(2), "y"),  # too short for 3
        ],
        "event_id long, user_id long, ts timestamp, event_type string",
    )
    out = {r["path"]: r["n_occurrences"]
           for r in common_paths(events, length=3, top_k=5).collect()}
    assert out == {"a>b>c": 2}
    # length=2 picks up the short timeline too
    out2 = {r["path"]: r["n_occurrences"]
            for r in common_paths(events, length=2, top_k=5).collect()}
    assert out2 == {"a>b": 2, "b>c": 2, "x>y": 1}


def test_bigram_lm_matches_pure_python_reference(spark):
    """Independent straight-line reference: Counter-based pair/context
    counts and integer conditional ppm over a randomized corpus must
    equal the distributed plan exactly."""
    import random
    from collections import Counter

    rng = random.Random(42)
    vocab = ["a", "b", "c", "d", "e", "f", "g", "h"]
    texts = [
        " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 12)))
        for _ in range(60)
    ]
    from pipit_spark.llm.text import bigram_lm

    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = {
        (r["w1"], r["w2"]): (
            r["pair_count"], r["ctx_count"], r["cond_ppm"]
        )
        for r in bigram_lm(docs, top_k=10_000, min_count=1).collect()
    }

    pair = Counter()
    for t in texts:
        toks = [w for w in t.split() if w]
        for x, y in zip(toks, toks[1:]):
            pair[(x, y)] += 1
    ctx = Counter()
    for (x, _), c in pair.items():
        ctx[x] += c
    want = {
        (x, y): (c, ctx[x], c * 1_000_000 // ctx[x])
        for (x, y), c in pair.items()
    }
    assert got == want


def test_arrow_ipc_roundtrip(spark, tmp_path):
    from pipit_spark.llm.io import read_arrow_ipc, write_arrow_ipc

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text", "source")
    p = str(tmp_path / "ipc")
    manifest = write_arrow_ipc(docs, p, shards=4)
    m = manifest.collect()
    assert len(m) == 4
    assert sum(r["n_rows"] for r in m) == docs.count()
    assert all(r["n_bytes"] > 0 for r in m)

    back = read_arrow_ipc(spark, p)
    assert back.count() == docs.count()
    a = docs.orderBy("doc_id").collect()
    b = back.orderBy("doc_id").collect()
    assert a == b

    # the shards open without Spark (the dataloader contract)
    import pyarrow.ipc as ipc

    with ipc.open_file(m[0]["shard"]) as r:
        t = r.read_all()
    assert set(t.column_names) == {"doc_id", "text", "source"}


def test_trace_to_arrow_ipc(spark, tmp_path):
    import pyarrow.ipc as ipc

    from pipit_spark.trace import Trace

    t = Trace.from_csv(spark, "tests/data/foo-bar.csv")
    m = t.to_arrow_ipc(str(tmp_path / "trace_ipc"), shards=2).collect()
    assert sum(r["n_rows"] for r in m) == t.matched.count()
    with ipc.open_file(m[0]["shard"]) as r:
        cols = set(r.schema.names)
    assert "time_inc" in cols and "parent_name" in cols


def test_extract_links_and_link_graph(spark):
    from pipit_spark.llm.web import link_graph

    pages = spark.createDataFrame(
        [
            (
                "http://news.alpha.com/a",
                '<a href="http://beta.org/x">b</a>'
                "<a href='https://Gamma.net/y?q=1'>g</a>"
                '<a href=/relative/path>rel</a>'
                '<link href="style.css">'
                '<a href="http://alpha.com/self">self</a>',
            ),
            ("http://beta.org/p", '<a href="http://alpha.com/z">back</a>'),
            ("http://beta.org/q", '<a href="http://alpha.com/z2">dup-edge</a>'),
        ],
        "url string, html string",
    )
    edges = {
        (r["src"], r["dst"]) for r in link_graph(pages).collect()
    }
    # relative + css links dropped, self-loop (alpha->alpha) dropped,
    # host case-folded, repeated beta->alpha edge deduped
    assert edges == {("alpha.com", "beta.org"), ("alpha.com", "gamma.net"),
                     ("beta.org", "alpha.com")}


def test_domain_pagerank_hand_values(spark):
    from pipit_spark.llm.web import domain_pagerank

    # two nodes, single edge a->b, 1 iteration, scale 1000, d=85:
    # r0 = 500 each; b gets base 150//2=75 + 85*(500 div 1)//100 = 425
    # -> 500; a (no in-links) = 75.
    e = spark.createDataFrame([("a", "b")], "src string, dst string")
    got = {
        r["domain"]: r["rank"]
        for r in domain_pagerank(
            e, iterations=1, scale=1000, persist_edges=False
        ).collect()
    }
    assert got == {"a": 75, "b": 500}


def test_domain_pagerank_partition_invariance(spark):
    from pipit_spark.llm.web import domain_pagerank

    e = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"), ("d", "c")],
        "src string, dst string",
    )
    one = sorted(
        map(tuple, domain_pagerank(e, iterations=4).collect())
    )
    many = sorted(
        map(
            tuple,
            domain_pagerank(e.repartition(13), iterations=4).collect(),
        )
    )
    assert one == many
    # conservation: total rank <= scale (dangling mass only leaks out)
    assert sum(r for _, r in one) <= 10**12


def test_decontaminate_embeddings_drops_near_dups(spark):
    from pipit_spark.llm.similarity import decontaminate_embeddings

    evals = spark.createDataFrame(
        [(100, [1.0, 0.0, 0.0])], "vec_id long, embedding array<float>"
    )
    corpus = spark.createDataFrame(
        [
            (1, [0.999, 0.01, 0.0]),   # near-dup of the eval vector
            (2, [0.0, 1.0, 0.0]),      # orthogonal — survives
            (3, [-1.0, 0.0, 0.0]),     # anti-parallel (dot<0) — survives
        ],
        "vec_id long, embedding array<float>",
    )
    kept = {
        r["vec_id"]
        for r in decontaminate_embeddings(
            corpus, evals, threshold_ppm=950_000
        ).collect()
    }
    assert kept == {2, 3}


def test_media_phash_invariances(spark):
    from pipit_spark.llm.multimodal import media_near_dups, media_phash

    media = spark.createDataFrame(
        [
            (1, "image", bytearray(b"hello world")),
            (2, "image", bytearray(b"hello world")),   # identical bytes
            (3, "image", bytearray(b"other payload")),
        ],
        "media_id long, kind string, data binary",
    )
    ph = {r["media_id"]: r["phash"] for r in
          media_phash(media, codec="stub").collect()}
    assert ph[1] == ph[2]            # content-deterministic
    assert 0 <= ph[1] < 2 ** 16      # packs into feat_dim bits
    pairs = media_near_dups(media, codec="stub").collect()
    ids = {(r["media_id_a"], r["media_id_b"]): r["hamming"] for r in pairs}
    assert ids[(1, 2)] == 0          # identical items at distance 0
    for (a, b), h in ids.items():
        assert h <= 3 and a < b


def test_lsh_topk_portable_recall_and_invariance(spark):
    import numpy as np
    from pyspark.sql import functions as F

    from pipit_spark.llm.similarity import lsh_topk_portable

    rng = np.random.RandomState(7)
    base = rng.randn(20, 8).astype("float32")
    rows = [(i, base[i].tolist()) for i in range(20)]
    # planted: vector 100 is a tiny perturbation of vector 0
    rows.append((100, (base[0] + 0.01 * rng.randn(8).astype("float32")).tolist()))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    qs = emb.filter(F.col("vec_id") == 100)
    corpus = emb.filter(F.col("vec_id") != 100)
    out = lsh_topk_portable(corpus, qs, k=3, num_tables=8, num_planes=2)
    got = [(r["rank"], r["neighbor_id"]) for r in
           out.orderBy("rank").collect()]
    assert got and got[0] == (1, 0)  # the planted near-dup ranks first
    out13 = lsh_topk_portable(
        corpus.repartition(13), qs, k=3, num_tables=8, num_planes=2
    )
    assert sorted(map(tuple, out.collect())) == \
        sorted(map(tuple, out13.collect()))


def test_ivf_topk_portable_recall_and_invariance(spark):
    import numpy as np
    from pyspark.sql import functions as F

    from pipit_spark.llm.similarity import ivf_topk_portable

    rng = np.random.RandomState(11)
    base = rng.randn(24, 8).astype("float32")
    rows = [(i, base[i].tolist()) for i in range(24)]
    # planted: vector 100 is a tiny perturbation of vector 3
    rows.append(
        (100, (base[3] + 0.01 * rng.randn(8).astype("float32")).tolist())
    )
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    qs = emb.filter(F.col("vec_id") == 100)
    corpus = emb.filter(F.col("vec_id") != 100)
    # nprobe == nlist makes probing exhaustive: the planted near-dup
    # MUST surface regardless of which cell it landed in
    out = ivf_topk_portable(corpus, qs, k=3, nlist=4, nprobe=4)
    got = [(r["rank"], r["neighbor_id"]) for r in out.orderBy("rank").collect()]
    assert got and got[0] == (1, 3)
    # partitioning invariance: integer/decimal plan, bit-stable
    out13 = ivf_topk_portable(
        corpus.repartition(13), qs, k=3, nlist=4, nprobe=4
    )
    assert sorted(map(tuple, out.collect())) == \
        sorted(map(tuple, out13.collect()))
    # nprobe < nlist returns a subset of the exhaustive candidates per
    # query, still correctly ranked (prefix property not guaranteed,
    # membership is)
    out1 = ivf_topk_portable(corpus, qs, k=3, nlist=4, nprobe=1)
    sub = {r["neighbor_id"] for r in out1.collect()}
    assert sub  # probing its own best cell always yields candidates


def test_rrf_fuse_hand_computed(spark):
    from pipit_spark.llm.similarity import rrf_fuse

    a = spark.createDataFrame(
        [(1, 1, 10), (1, 2, 20), (1, 3, 30)],
        "query_id long, rank int, neighbor_id long",
    )
    b = spark.createDataFrame(
        [(1, 1, 20), (1, 2, 40)],
        "query_id long, rank int, neighbor_id long",
    )
    out = {
        r["item_id"]: (r["rank"], r["rrf_score"], r["n_lists"], r["best_rank"])
        for r in rrf_fuse([a, b], k0=60, k=4, scale=10**9).collect()
    }
    # item 20: ranks 2 (a) + 1 (b) -> 1e9//62 + 1e9//61 = 32524108
    # item 10: rank 1 (a)          -> 1e9//61          = 16393442
    # item 40: rank 2 (b)          -> 1e9//62          = 16129032
    # item 30: rank 3 (a)          -> 1e9//63          = 15873015
    assert out[20] == (1, 10**9 // 62 + 10**9 // 61, 2, 1)
    assert out[10] == (2, 10**9 // 61, 1, 1)
    assert out[40] == (3, 10**9 // 62, 1, 2)
    assert out[30] == (4, 10**9 // 63, 1, 3)


def test_rrf_fuse_tie_breaks_on_item_id(spark):
    from pipit_spark.llm.similarity import rrf_fuse

    a = spark.createDataFrame(
        [(1, 1, 7), (1, 2, 5)], "query_id long, rank int, neighbor_id long"
    )
    b = spark.createDataFrame(
        [(1, 1, 5), (1, 2, 7)], "query_id long, rank int, neighbor_id long"
    )
    rows = rrf_fuse([a, b], k=2).orderBy("rank").collect()
    # identical scores -> smaller item id first
    assert [r["item_id"] for r in rows] == [5, 7]


def test_detect_licenses_goldens(spark):
    from pipit_spark.llm.quality import detect_licenses

    docs = spark.createDataFrame(
        [
            (0, "plain prose, nothing to see"),
            (1, "header\nSPDX-License-Identifier: Apache-2.0\nbody"),
            # SPDX beats a conflicting marker
            (2, "The MIT License\nSPDX-License-Identifier: GPL-3.0-only"),
            (3, "Released under the BSD 3-Clause license."),
            (4, "This work uses a Creative Commons Attribution 4.0 deed"),
            # unknown SPDX id: reported verbatim, family unknown
            (5, "SPDX-License-Identifier: EUPL-1.2"),
            (6, None),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in detect_licenses(docs).collect()}
    assert out[0]["license"] == "unknown" and not out[0]["has_spdx"]
    assert out[1]["license"] == "Apache-2.0"
    assert out[1]["family"] == "permissive" and out[1]["has_spdx"]
    assert out[2]["license"] == "GPL-3.0-only"
    assert out[2]["family"] == "copyleft"
    assert out[3]["license"] == "BSD-3-Clause"
    assert out[4]["license"] == "CC-BY-4.0"
    assert out[4]["family"] == "attribution"
    assert out[5]["license"] == "EUPL-1.2"
    assert out[5]["family"] == "unknown" and out[5]["has_spdx"]
    assert out[6]["license"] == "unknown"


def test_license_mix_ppm(spark):
    from pipit_spark.llm.quality import license_mix

    docs = spark.createDataFrame(
        [(i, "SPDX-License-Identifier: MIT" if i < 3 else "x")
         for i in range(4)],
        "doc_id long, text string",
    )
    mix = {r["license"]: r for r in license_mix(docs).collect()}
    assert mix["MIT"]["docs"] == 3
    assert mix["MIT"]["share_ppm"] == 750_000
    assert mix["unknown"]["share_ppm"] == 250_000


def test_structure_stats_goldens(spark):
    from pipit_spark.llm.text import structure_stats

    text = (
        "intro\n```py\ncode\n```\n# H1\n## H2a\n## H2b\n"
        "- b1\n- b2\n| r | s |\n| 1 | 2 |\n<div><p>t</p></div>"
    )
    docs = spark.createDataFrame(
        [(0, text), (1, ""), (2, None)], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in structure_stats(docs).collect()}
    r0 = out[0]
    assert r0["code_fences"] == 2
    assert r0["h1_headers"] == 1
    assert r0["h2_headers"] == 2
    assert r0["bullet_lines"] == 2
    assert r0["table_rows"] == 2
    assert r0["html_tags"] == 2  # </p> and </div>
    assert r0["n_lines"] == text.count("\n") + 1
    assert r0["n_chars_raw"] == len(text)
    # empty and NULL text degrade identically: zero counts, 1 "line"
    for d in (1, 2):
        assert out[d]["code_fences"] == 0
        assert out[d]["n_lines"] == 1
        assert out[d]["n_chars_raw"] == 0


def test_license_filter_passthrough_and_policy(spark):
    from pipit_spark.llm.quality import license_filter

    docs = spark.createDataFrame(
        [
            (0, "SPDX-License-Identifier: MIT", "a"),
            (1, "SPDX-License-Identifier: GPL-3.0-only", "b"),
            (2, "no license at all", "c"),
            (3, "SPDX-License-Identifier: Unlicense", "d"),
        ],
        "doc_id long, text string, source string",
    )
    out = license_filter(docs).orderBy("doc_id").collect()
    # MIT (permissive) and Unlicense (public-domain) survive; GPL and
    # unknown are dropped; input columns ride through
    assert [r["doc_id"] for r in out] == [0, 3]
    assert out[0]["source"] == "a" and out[1]["source"] == "d"
    assert out[0]["license"] == "MIT"
    assert out[1]["family"] == "public-domain"


def test_kmv_sketch_merge_equals_whole(spark):
    from pipit_spark.llm.dedup import kmv_sketch, merge_kmv

    docs = spark.createDataFrame(
        [(i, f"tok{i % 9} tok{(i + 1) % 9} tok{(i + 2) % 9} "
             f"w{i} w{i + 1} w{i + 2} w{i + 3}", "s")
         for i in range(40)],
        "doc_id long, text string, source string",
    )
    k = 16
    whole = kmv_sketch(docs, k=k, ngram=3).orderBy("pos").collect()
    # shard by doc parity, sketch each shard, relabel, merge
    parts = []
    for p in (0, 1):
        shard = docs.filter(F.col("doc_id") % 2 == p)
        parts.append(kmv_sketch(shard, k=k, ngram=3))
    merged = merge_kmv(parts[0].unionByName(parts[1]), k=k)
    got = merged.orderBy("pos").collect()
    assert [r["h"] for r in got] == [r["h"] for r in whole]
    assert [r["pos"] for r in got] == list(range(1, len(whole) + 1))


def test_kmv_similarity_exact_when_small(spark):
    # fewer distinct shingles than k -> sketch is the full set and the
    # estimate equals the exact Jaccard
    from pipit_spark.llm.dedup import kmv_source_similarity

    docs = spark.createDataFrame(
        [
            (0, "a b c d e", "x"),   # shingles: abc bcd cde
            (1, "a b c q r", "y"),   # shingles: abc bcq cqr
        ],
        "doc_id long, text string, source string",
    )
    out = kmv_source_similarity(docs, k=64, ngram=3).collect()
    assert len(out) == 1
    r = out[0]
    # union = 5 distinct shingles, intersection = {a b c}
    assert r["sketch_k"] == 5
    assert r["n_common"] == 1
    assert r["jaccard_ppm"] == 1_000_000 // 5


def test_cms_never_underestimates_and_merges(spark):
    from pipit_spark.llm.sketches import cms_build, cms_estimate, merge_cms

    docs = spark.createDataFrame(
        [(0, "a a a b c"), (1, "a b d d"), (2, "e"), (3, None)],
        "doc_id long, text string",
    )
    W, D_ = 64, 3
    cms = cms_build(docs, width=W, depth=D_)
    probes = spark.createDataFrame(
        [("a",), ("b",), ("d",), ("zz",)], "tok string"
    )
    est = {
        r["tok"]: r["est"]
        for r in cms_estimate(cms, probes, W, D_).collect()
    }
    true = {"a": 4, "b": 2, "d": 2, "zz": 0}
    for t, c in true.items():
        assert est[t] >= c, (t, est[t], c)
    # at this tiny load the sketch should be collision-free
    assert est == true
    # merge of shard sketches == whole-corpus sketch, cell for cell
    s0 = cms_build(docs.filter(F.col("doc_id") < 2), width=W, depth=D_)
    s1 = cms_build(docs.filter(F.col("doc_id") >= 2), width=W, depth=D_)
    merged = merge_cms(s0.unionByName(s1))
    diff = (
        merged.withColumnRenamed("cnt", "m")
        .join(cms, ["row", "col"], "full")
        .filter(
            F.coalesce(F.col("m"), F.lit(0))
            != F.coalesce(F.col("cnt"), F.lit(0))
        )
        .count()
    )
    assert diff == 0


def test_late_senders_ping_pong_goldens(ping_pong_trace):
    """Hand-computed waits on the golden ping-pong trace: rank0 posts
    each send 10 ns after rank1 entered its recv (late by 10); rank1's
    reply leaves 360 ns after rank0 entered its recv (late by 360)."""
    out = {
        (r["src"], r["dst"]): r
        for r in ping_pong_trace.late_senders().collect()
    }
    a = out[(0, 1)]
    assert (a["n_matched"], a["n_late"]) == (8, 8)
    assert a["total_wait_ns"] == 80 and a["max_wait_ns"] == 10
    assert a["late_ppm"] == 1_000_000
    b = out[(1, 0)]
    assert (b["n_matched"], b["n_late"]) == (8, 8)
    assert b["total_wait_ns"] == 8 * 360 and b["max_wait_ns"] == 360


def test_late_receivers_ping_pong_all_zero(ping_pong_trace):
    """Ping-pong receivers always pre-post: no sender-side blocking on
    either channel."""
    for r in ping_pong_trace.late_receivers().collect():
        assert r["n_late"] == 0
        assert r["total_wait_ns"] == 0 and r["late_ppm"] == 0
        assert r["n_matched"] == 8


def test_wait_attribution_ping_pong_goldens(ping_pong_trace):
    """Rank0 inflicts 10 ns x 8 on rank1; rank1 inflicts 360 ns x 8 on
    rank0 — inflicted/suffered mirror exactly."""
    out = {
        r["process"]: r
        for r in ping_pong_trace.wait_attribution().collect()
    }
    assert out[0]["inflicted_ns"] == 80 and out[0]["n_inflicted"] == 8
    assert out[0]["suffered_ns"] == 8 * 360 and out[0]["n_suffered"] == 8
    assert out[1]["inflicted_ns"] == 8 * 360
    assert out[1]["suffered_ns"] == 80
