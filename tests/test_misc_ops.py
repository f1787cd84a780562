"""Round-trip, zero-shuffle matching, as-of join, and multimodal tests."""

from __future__ import annotations

import pandas as pd

from pyspark.sql import functions as F


def test_parquet_roundtrip(foo_bar_trace, spark, tmp_path):
    """Canonical persistence: process-partitioned parquet reads back to
    an equivalent trace (partition pruning layout, SURVEY §4)."""
    from pipit_spark import Trace
    from pipit_spark import schema as S

    path = str(tmp_path / "trace_pq")
    foo_bar_trace.to_parquet(path)
    back = Trace.from_parquet(spark, path)
    a = foo_bar_trace.flat_profile(metrics=[S.TIME_INC, S.TIME_EXC]).toPandas()
    b = back.flat_profile(metrics=[S.TIME_INC, S.TIME_EXC]).toPandas()
    merged = a.merge(b, on="name", suffixes=("_a", "_b"))
    assert len(merged) == len(a)
    assert (merged.time_inc_a == merged.time_inc_b).all()
    assert (merged.time_exc_a == merged.time_exc_b).all()


def test_match_events_iter_zero_shuffle(foo_bar_trace, spark, tmp_path):
    """The mapInPandas variant (for pre-partitioned/sorted storage)
    produces the same matching as the shuffle path."""
    from pipit_spark.operators.matching import match_events, match_events_iter
    from pipit_spark import schema as S

    path = str(tmp_path / "sorted_pq")
    foo_bar_trace.events.repartition(1).sortWithinPartitions(
        S.PROCESS, S.TIMESTAMP, S.SEQ
    ).write.parquet(path)
    ev = spark.read.parquet(path)
    a = (
        match_events(ev)
        .select(S.EVENT_ID, S.MATCHING_EVENT, S.DEPTH, S.PARENT)
        .toPandas()
        .sort_values(S.EVENT_ID)
        .reset_index(drop=True)
    )
    b = (
        match_events_iter(ev)
        .select(S.EVENT_ID, S.MATCHING_EVENT, S.DEPTH, S.PARENT)
        .toPandas()
        .sort_values(S.EVENT_ID)
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(a, b)


def test_match_events_iter_shuffled_files(spark, tmp_path, write_otf2_archive):
    """match_events_iter on a process-partitioned parquet whose rows are
    shuffled within each file equals match_events: the location kernel
    gets its (location, timestamp, seq) order from the JVM sort, not
    from the file layout."""
    from pyspark.sql import functions as F

    from pipit_spark import schema as S
    from pipit_spark.operators.matching import match_events, match_events_iter
    from pipit_spark.sources.otf2_native import read_otf2_native

    events = read_otf2_native(
        spark, write_otf2_archive([40, 0, 25, 60]), order="process"
    )[0]
    path = str(tmp_path / "shuffled_pq")
    events.repartition(2, S.PROCESS).sortWithinPartitions(
        F.rand(3)
    ).write.partitionBy(S.PROCESS).parquet(path)
    ev = spark.read.parquet(path)

    def matched(df):
        return (
            df.drop(S.ATTRIBUTES).toPandas()
            .sort_values(S.EVENT_ID).reset_index(drop=True)
        )

    a, b = matched(match_events(ev)), matched(match_events_iter(ev))
    assert a[S.MATCHING_EVENT].notna().any()
    pd.testing.assert_frame_equal(a, b[a.columns])


def test_asof_join_matches_pandas(spark):
    """asof_join (union+window form) agrees with pandas merge_asof on a
    small case with ties and missing matches."""
    from pipit_spark.operators.relational import asof_join

    left = spark.createDataFrame(
        pd.DataFrame(
            {"t": [5, 10, 10, 3], "k": ["a", "a", "b", "b"], "lid": [1, 2, 3, 4]}
        )
    )
    right = spark.createDataFrame(
        pd.DataFrame(
            {"t": [4, 10, 2, 11], "k": ["a", "a", "b", "b"], "rv": [40, 100, 20, 110]}
        )
    )
    out = (
        asof_join(left, right, on="t", by="k", value_cols=["rv"])
        .toPandas()
        .sort_values("lid")
        .reset_index(drop=True)
    )
    # a@5 → rv=40 (t=4); a@10 → rv=100 (t=10 inclusive); b@10 → rv=20
    # (t=2; t=11 is in the future); b@3 → rv=20
    assert list(out.rv_right) == [40, 100, 20, 20]


def test_multimodal_pipeline(spark):
    """Synthesize → decode (stub codec, real plumbing), deterministic."""
    from pipit_spark.llm import multimodal as M

    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": range(6),
                "text": [f"doc number {i} body" * (i + 1) for i in range(6)],
                "source": ["web"] * 6,
            }
        )
    )
    media = M.synthesize_media(docs)
    decoded = M.decode_media(media).toPandas()
    assert len(decoded) == 6
    assert set(decoded.kind) == {"image", "audio", "video"}
    assert (decoded.n_bytes > 0).all()
    assert all(len(f) == 16 for f in decoded.features)
    # determinism: same bytes → same features
    again = M.decode_media(media).toPandas()
    assert list(decoded.sort_values("media_id").n_bytes) == list(
        again.sort_values("media_id").n_bytes
    )


def test_config_options():
    """Reference pipit/tests/config.py semantics: defaults, validated
    set, unknown-key/invalid-value errors, reset."""
    import pytest
    import pipit_spark as pp

    pp.reset_all_options()
    assert pp.get_option("log_level") == "INFO"
    assert pp.get_option("notebook_url") == "http://localhost:8888"
    with pytest.raises(ValueError):
        pp.get_option("invalid_key")

    pp.set_option("log_level", "DEBUG")
    assert pp.get_option("log_level") == "DEBUG"
    pp.set_option("notebook_url", "http://127.0.0.1:8080")
    assert pp.get_option("notebook_url") == "http://127.0.0.1:8080"
    with pytest.raises(ValueError):
        pp.set_option("invalid_key", "x")
    with pytest.raises(ValueError):
        pp.set_option("log_level", "invalid_value")
    with pytest.raises(ValueError):
        pp.set_option("notebook_url", "invalid_value")

    pp.reset_option("log_level")
    assert pp.get_option("log_level") == "INFO"
    pp.reset_all_options()


def test_every_option_is_read():
    """Every registered option is read by some get_option("<key>") call
    in the library, so a knob nothing consumes cannot sit in the
    registry looking live."""
    import pathlib
    import re

    from pipit_spark import config

    # reference-parity keys (pipit/tests/config.py golden values), kept
    # for set/get/reset parity; log_level waits on the library logger
    # (ROADMAP direction 1)
    exempt = {"log_level", "notebook_url"}
    root = pathlib.Path(config.__file__).parent
    read = {
        m.group(1)
        for path in root.rglob("*.py")
        for m in re.finditer(
            r"""get_option\(\s*["']([^"']+)["']""", path.read_text()
        )
    }
    assert set(config._REGISTRY) - exempt - read == set()


# Public defs no library, tool, example, bench or perfbench code calls,
# each with why it stays. Anything else with no such caller is deleted.
_ALLOWED = {
    # round-trip readers a kept test checks a writer against
    "read_chrome": "reads back Trace.to_chrome output",
    "read_arrow_ipc": "reads back write_arrow_ipc shards",
    # Common Crawl / web family (README), gated or deleted as one family
    "read_warc": "Common Crawl family",
    "read_wet": "Common Crawl family",
    "warc_to_documents": "Common Crawl family",
    "filter_domains": "Common Crawl family",
    "has_noindex_expr": "Common Crawl family",
    "link_graph": "Common Crawl family",
    "apply_bpe": "encoder for the gated train_bpe vocabulary",
    # persistence, per-shard build or merge halves of gated structures
    "save_lsh_index": "persistence half of the gated LSH index",
    "load_lsh_index": "persistence half of the gated LSH index",
    "merge_kmv": "per-shard merge of the gated KMV sketch",
    "save_bloom": "persistence half of the gated Bloom filter",
    "load_bloom": "persistence half of the gated Bloom filter",
    "merge_blooms": "per-shard merge of the gated Bloom filter",
    "merge_cms": "per-shard merge of the gated count-min sketch",
    "kll_merge": "per-shard merge of the gated KLL sketch",
    "merge_quantile_sketches": "per-shard merge of the gated quantile sketch",
    "vocab_sketches": "per-shard build of the gated vocabulary sketch",
    "merge_vocab_sketches": "per-shard merge of the gated vocabulary sketch",
    "cluster_conf": "deployment helper (README)",
    # owned by other ROADMAP directions
    "match_events_iter": "zero-shuffle matching entry (direction 4)",
    "ann_recall_report": "ANN index family (direction 9)",
    "append_ivf_topk_index": "ANN index family (direction 9)",
    "append_lsh_topk_index": "ANN index family (direction 9)",
    "ivf_append": "ANN index family (direction 9)",
    "ivf_cell_stats": "ANN index family (direction 9)",
    "load_ivf_index": "ANN index family (direction 9)",
    "load_ivfpq_index": "ANN index family (direction 9)",
    "load_pq_index": "ANN index family (direction 9)",
    "refresh_annmeta": "ANN index family (direction 9)",
    "save_ivf_index": "ANN index family (direction 9)",
    "save_ivfpq_index": "ANN index family (direction 9)",
    "save_pq_index": "ANN index family (direction 9)",
}


def test_every_public_def_has_a_caller():
    """Every top-level public def/class under pipit_spark/ is named by
    library, tool, example, bench or perfbench code outside its own
    lines (a Name, an Attribute or an import alias; docstrings and
    comments do not count), or sits in _ALLOWED with a reason — so a
    second implementation that only tests reach cannot accumulate."""
    import ast
    import pathlib

    repo = pathlib.Path(__file__).resolve().parents[1]
    lib = repo / "pipit_spark"
    spans: dict[str, list[tuple]] = {}
    for path in sorted(lib.rglob("*.py")):
        for node in ast.parse(path.read_text()).body:
            if isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ) and not node.name.startswith("_"):
                spans.setdefault(node.name, []).append(
                    (path, node.lineno, node.end_lineno)
                )
    callers = [
        *lib.rglob("*.py"),
        *(repo / "tools").rglob("*.py"),
        *(repo / "examples").rglob("*.py"),
        *(repo / "perfbench").rglob("*.py"),
        repo / "bench.py",
        repo / "__spark_entry__.py",
    ]
    reached = set()
    for path in callers:
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Name):
                name = node.id
            elif isinstance(node, ast.Attribute):
                name = node.attr
            elif isinstance(node, ast.alias):
                name = node.name.rpartition(".")[2]
            else:
                continue
            if name in spans and not any(
                p == path and lo <= node.lineno <= hi
                for p, lo, hi in spans[name]
            ):
                reached.add(name)
    assert all(_ALLOWED.values())
    assert sorted(set(spans) - reached - set(_ALLOWED)) == []
    assert sorted(set(_ALLOWED) - set(spans)) == []  # allowed, but gone
    assert sorted(set(_ALLOWED) & reached) == []  # allowed, but now called


def test_embedding_dedup(spark):
    """Keep-first near-dup removal: doc 1 duplicates doc 0 (cosine 1.0),
    doc 2 is orthogonal, doc 3 is a near-dup of doc 2."""
    from pipit_spark.llm.dedup import embedding_dedup

    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in range(4)], "doc_id long, text string"
    )
    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),
            (1, [2.0, 0.0]),          # same direction as 0 -> dropped
            (2, [0.0, 1.0]),          # orthogonal -> kept
            (3, [0.01, 1.0]),         # near-dup of 2 -> dropped
        ],
        "vec_id long, embedding array<float>",
    )
    kept = sorted(
        r.doc_id for r in embedding_dedup(docs, emb, threshold=0.95).collect()
    )
    assert kept == [0, 2]


def test_clean_corpus_pipeline(spark):
    """Composed cleaning pipeline: language filter, token window,
    quality floor, then exact dedup keep-first among the survivors."""
    from pipit_spark.llm.pipeline import clean_corpus

    en = "the cat and the dog walked to the house of a friend and sat"
    docs = spark.createDataFrame(
        [
            (0, en, "en"),                       # survives (representative)
            (1, en + " ", "en"),                 # whitespace dup of 0 -> dropped
            (2, "el la de que los " * 4, "es"),  # Spanish -> dropped
            (3, "the of", "en"),                 # too short -> dropped
            (4, "a road to the sea and the sun over it was long and warm", "en"),
        ],
        "doc_id long, text string, lang string",
    )
    out = clean_corpus(docs, min_tokens=10, min_quality=0.0)
    assert sorted(r.doc_id for r in out.collect()) == [0, 4]


def test_pack_sequences_first_token_rule(spark):
    """A document belongs to the pack its first token lands in;
    cumsums are independent per shard."""
    from pipit_spark.llm.sampling import pack_sequences

    # one shard (n_shards=1): docs of 3,3,3,3 tokens, context=8:
    # starting offsets 0,3,6,9 -> packs 0,0,0,1
    docs = spark.createDataFrame(
        [(i, "a b c") for i in range(4)], "doc_id long, text string"
    )
    out = {
        (r.shard, r.pack_in_shard): (r.n_docs, r.total_tokens)
        for r in pack_sequences(docs, context_len=8, n_shards=1).collect()
    }
    assert out == {(0, 0): (3, 9), (0, 1): (1, 3)}


def test_sample_corpus_deterministic(spark):
    """Same input -> same sample; rate lands near pct."""
    from pipit_spark.llm.sampling import sample_corpus

    docs = spark.createDataFrame(
        [(i, "w " * 5) for i in range(1000)], "doc_id long, text string"
    )
    a = sorted(r.doc_id for r in sample_corpus(docs, pct=20).collect())
    b = sorted(r.doc_id for r in sample_corpus(docs, pct=20).collect())
    assert a == b
    assert 120 < len(a) < 280


def test_decontaminate(spark):
    """Corpus docs sharing an n-gram with the eval set are flagged with
    their overlap count; clean docs are absent."""
    from pipit_spark.llm.dedup import decontaminate

    ev = spark.createDataFrame(
        [(0, "alpha beta gamma delta")], "doc_id long, text string"
    )
    corpus = spark.createDataFrame(
        [
            (10, "x alpha beta gamma y"),     # shares 'alpha beta gamma'
            (11, "unrelated words entirely"),  # clean
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r.n_contaminated_ngrams
        for r in decontaminate(corpus, ev, n=3).collect()
    }
    assert out == {10: 1}


def test_pii_redact_synthetic(spark):
    """The driver corpus has no PII, so the gate only checks pass-through;
    this exercises real matches on constructed rows."""
    from pipit_spark.llm.quality import pii_redact

    docs = spark.createDataFrame(
        [
            (1, "mail me at jane.doe+x@example.co.uk or call 555-123-4567"),
            (2, "server at 10.0.255.3 and 192.168.1.1, no phones"),
            (3, "plain text without identifiers"),
            (4, "a@b.io then 1.2.3.4 then 555.1234.5678"),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in pii_redact(docs).collect()}
    assert out[1]["clean_text"] == "mail me at <EMAIL> or call <PHONE>"
    assert (out[1]["n_emails"], out[1]["n_ips"], out[1]["n_phones"]) == (1, 0, 1)
    assert out[2]["clean_text"] == "server at <IP> and <IP>, no phones"
    assert out[2]["n_ips"] == 2
    assert out[3]["clean_text"] == "plain text without identifiers"
    assert (out[3]["n_emails"], out[3]["n_ips"], out[3]["n_phones"]) == (0, 0, 0)
    assert out[4]["clean_text"] == "<EMAIL> then <IP> then <PHONE>"


def test_repetition_and_heuristic_filter(spark):
    from pipit_spark.llm.quality import heuristic_filter, repetition_stats

    docs = spark.createDataFrame(
        [
            (1, "spam spam spam spam spam"),          # all one token
            (2, "the quick brown fox jumps over it"),  # all distinct
            (3, "solo"),                               # 1-token edge case
        ],
        ["doc_id", "text"],
    )
    rep = {r["doc_id"]: r for r in repetition_stats(docs).collect()}
    assert rep[1]["top_token_frac"] == 1.0
    assert rep[1]["top_bigram_frac"] == 1.0  # "spam spam" x4
    assert rep[2]["distinct_token_ratio"] == 1.0
    assert rep[2]["top_token_frac"] == round(1 / 7, 6)
    assert rep[3]["n_tokens"] == 1 and rep[3]["top_bigram_frac"] == 1.0

    kept = heuristic_filter(docs, min_tokens=5, min_distinct_ratio=0.5,
                            max_top_token_frac=0.5, min_avg_word=1.0)
    assert [r["doc_id"] for r in kept.collect()] == [2]


def test_vocab_stats_approx_close(spark):
    """The HLL scale path tracks the exact path within the sketch's
    standard error (~2% at default rsd, wide margin here)."""
    from pipit_spark.llm.text import vocab_stats

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    exact = {r["source"]: r for r in vocab_stats(docs).collect()}
    approx = {r["source"]: r for r in vocab_stats(docs, approx=True).collect()}
    assert set(exact) == set(approx)
    for s in exact:
        assert approx[s]["total_tokens"] == exact[s]["total_tokens"]
        assert abs(approx[s]["vocab_size"] - exact[s]["vocab_size"]) \
            <= max(3, 0.1 * exact[s]["vocab_size"])


def test_mix_sources_t1_is_uniform_sampling(spark):
    """At temperature 1 the mix keeps natural proportions, so every
    source gets the same keep-rate and the result must equal the plain
    stratified sample at the same fraction (identical md5-bucket rule)."""
    from pipit_spark.llm.sampling import mix_sources, sample_corpus

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    mixed = {
        r["source"]: (r["n_docs"], r["total_tokens"])
        for r in mix_sources(docs, temperature=1.0, target_frac=0.2).collect()
    }
    plain = {
        r["source"]: (r["n_docs"], r["total_tokens"])
        for r in sample_corpus(docs, pct=20, strata="source").collect()
    }
    assert mixed == plain


def test_token_budget_greedy_rule(spark):
    """A document is kept iff the tokens before it (quality-desc order)
    fit the budget — so the budget is exceeded by at most one doc."""
    from pipit_spark.llm.sampling import select_by_token_budget

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = select_by_token_budget(docs, budget_per_source=200).collect()
    by_src = {}
    for r in out:
        by_src.setdefault(r["source"], []).append(r)
    for src, rows in by_src.items():
        rows.sort(key=lambda r: (-r["quality_score"], r["doc_id"]))
        # all but the last fit entirely; the last one's predecessor sum
        # is under budget
        assert sum(r["n_tokens"] for r in rows[:-1]) < 200


def test_pack_sequences_matches_naive(spark):
    """Randomized differential check: the sharded window-cumsum packing
    equals an independent straight-line packer on random corpora
    (seeded, several shard counts and context lengths)."""
    import random

    from pipit_spark.llm.sampling import pack_sequences

    for seed, n_shards, ctx in [(1, 1, 64), (2, 4, 128), (3, 7, 32)]:
        rng = random.Random(seed)
        rows = [
            (i, " ".join("w" for _ in range(rng.randint(1, 50))))
            for i in range(rng.randint(20, 120))
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            (r["shard"], r["pack_in_shard"]): (r["n_docs"], r["total_tokens"])
            for r in pack_sequences(
                docs, context_len=ctx, n_shards=n_shards
            ).collect()
        }
        # independent packer: per shard, docs in doc_id order; a doc
        # joins the pack its first token lands in
        expect = {}
        for shard in range(n_shards):
            cum = 0
            for doc_id, text in rows:
                if doc_id % n_shards != shard:
                    continue
                n = len(text.split())
                pack = (shard, cum // ctx)
                d, t = expect.get(pack, (0, 0))
                expect[pack] = (d + 1, t + n)
                cum += n
        assert got == expect, (seed, n_shards, ctx)


def test_cluster_dedup_transitive_chain(spark):
    """A~B and B~C (but never A~C) must collapse to ONE representative
    — the case pairwise keep-first dedup under-merges. Components get
    min-id labels; isolated docs survive untouched."""
    from pipit_spark.llm.dedup import cluster_dedup, dedup_clusters

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 9)], "a long, b long"
    )
    labels = {
        r["doc_id"]: r["component"] for r in dedup_clusters(pairs).collect()
    }
    assert labels == {1: 1, 2: 1, 3: 1, 7: 7, 9: 7}

    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in [1, 2, 3, 5, 7, 9]],
        "doc_id long, text string",
    )
    kept = sorted(r["doc_id"] for r in cluster_dedup(docs, pairs).collect())
    assert kept == [1, 5, 7]


def test_asof_join_random_vs_pandas(spark):
    """Randomized differential: the union+window as-of join equals
    pandas merge_asof (backward, inclusive, by-group) on seeded random
    inputs with heavy timestamp ties and missing groups."""
    import random

    from pipit_spark.operators.relational import asof_join

    for seed in (11, 23, 47):
        rng = random.Random(seed)
        keys = ["a", "b", "c"]
        left = pd.DataFrame(
            {
                "t": [rng.randint(0, 30) for _ in range(60)],
                "k": [rng.choice(keys) for _ in range(60)],
                "lid": range(60),
            }
        )
        right = pd.DataFrame(
            {
                "t": [rng.randint(0, 30) for _ in range(40)],
                "k": [rng.choice(keys[:2]) for _ in range(40)],  # 'c' missing
                "rv": [rng.randint(0, 999) for _ in range(40)],
            }
        )
        got = (
            asof_join(
                spark.createDataFrame(left),
                spark.createDataFrame(right),
                on="t", by="k", value_cols=["rv"],
            )
            .toPandas()
            .sort_values("lid")
            .reset_index(drop=True)
        )
        # merge_asof ties: takes the LAST right row at equal t within
        # group — same as the window's max-at-or-before sweep only if
        # the engine picks the same among equal (t, k) right rows; both
        # sides resolve ties by taking the latest-sorted right value
        exp = pd.merge_asof(
            left.sort_values("t", kind="stable"),
            right.sort_values("t", kind="stable"),
            on="t", by="k", direction="backward",
            allow_exact_matches=True, suffixes=("", "_right"),
        ).sort_values("lid").reset_index(drop=True)
        assert list(got.rv_right.fillna(-1)) == list(exp.rv.fillna(-1)), seed


def test_embedding_dedup_lsh_default_recall(spark):
    """The default (banded-LSH) candidate path finds every near-identical
    pair the exact path finds at a dedup-grade threshold — recall
    1-(1-p^b)^T ≈ 1 for cosine ≥ 0.98 at 4 planes × 8 tables — so both
    methods drop the same documents on a corpus of near-dup clusters
    plus isotropic noise."""
    import numpy as np

    from pipit_spark.llm.dedup import embedding_dedup

    rng = np.random.RandomState(7)
    rows = []
    # 10 clusters of 3 near-identical vectors + 30 random singletons
    for c in range(10):
        base = rng.randn(16)
        base /= np.linalg.norm(base)
        for j in range(3):
            v = base + 0.01 * rng.randn(16)
            rows.append((c * 3 + j, [float(x) for x in v]))
    for i in range(30, 60):
        v = rng.randn(16)
        rows.append((i, [float(x) for x in v]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    docs = spark.createDataFrame(
        [(i, f"text {i}") for i, _ in rows], "doc_id long, text string"
    )
    exact = sorted(
        r.doc_id
        for r in embedding_dedup(docs, emb, threshold=0.98, method="exact").collect()
    )
    lsh = sorted(
        r.doc_id
        for r in embedding_dedup(docs, emb, threshold=0.98, method="lsh").collect()
    )
    # every cluster collapses to its min-id representative either way
    assert exact == [0, 3, 6, 9, 12, 15, 18, 21, 24, 27] + list(range(30, 60))
    assert lsh == exact


def test_embedding_dedup_rejects_unknown_method(spark):
    import pytest as _pytest

    from pipit_spark.llm.dedup import embedding_dedup

    docs = spark.createDataFrame([(0, "t")], "doc_id long, text string")
    emb = spark.createDataFrame(
        [(0, [1.0, 0.0])], "vec_id long, embedding array<float>"
    )
    with _pytest.raises(ValueError, match="unknown method"):
        embedding_dedup(docs, emb, method="annoy").collect()


def test_config_engine_option_validators():
    """Engine options validate type-correctly: positive ints reject
    bools/zero (reference pipit/util/config.py validator pattern
    extended to Spark knobs)."""
    import pytest

    import pipit_spark as pp

    pp.reset_all_options()
    pp.set_option("matching.max_records_per_batch", 1024)
    assert pp.get_option("matching.max_records_per_batch") == 1024
    for bad in (0, -1, True, "64k", 1.5):
        with pytest.raises(ValueError):
            pp.set_option("matching.max_records_per_batch", bad)
    with pytest.raises(ValueError):
        pp.reset_option("invalid_key")
    pp.reset_all_options()
    assert pp.get_option("matching.max_records_per_batch") == 65536


def test_corpus_summary_approx_close(spark):
    """approx_percentile (the 100 TB path) tracks exact percentile
    within the sketch accuracy bound; exact-by-construction columns
    (count/avg/min/max) are identical."""
    from pipit_spark.llm.quality import corpus_summary

    # sf0.1: 20 of the (source, lang) groups have ≥50 docs — dense
    # enough that the no-interpolation gap of approx_percentile stays
    # small relative to the exact interpolated value
    docs = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
    key = lambda r: (r["source"], r["lang"])  # noqa: E731
    exact = {key(r): r for r in corpus_summary(docs).collect()}
    approx = {key(r): r for r in corpus_summary(docs, approx=True).collect()}
    assert set(exact) == set(approx)
    checked = 0
    for k, e in exact.items():
        a = approx[k]
        for c in ("n_docs", "avg_chars", "min_chars", "max_chars"):
            assert a[c] == e[c], (k, c)
        # the approx value is always a group member — bounded by range
        for c in ("p50_chars", "p90_chars", "p99_chars"):
            assert e["min_chars"] <= a[c] <= e["max_chars"], (k, c)
        # approx_percentile returns a member value (no interpolation):
        # on a 2-doc group the interpolated exact p50 sits mid-gap, so a
        # relative bound only means something once the group is dense
        if e["n_docs"] >= 50:
            checked += 1
            for c in ("p50_chars", "p90_chars", "p99_chars"):
                assert abs(a[c] - e[c]) <= max(50, 0.10 * e[c]), (
                    k, c, a[c], e[c],
                )
    assert checked >= 5, f"only {checked} dense groups — test lost its teeth"


def test_profile_table_approx_close(spark):
    """HLL distinct counts track exact within ~2% rsd (wide margin);
    every non-distinct metric is bit-identical between the paths."""
    from pipit_spark.operators.relational import profile_table

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    exact = {r["column"]: r for r in profile_table(ev).collect()}
    approx = {r["column"]: r for r in profile_table(ev, approx=True).collect()}
    assert set(exact) == set(approx)
    for c, e in exact.items():
        a = approx[c]
        for m in ("n_rows", "n_nulls", "min_val", "max_val", "mean_val"):
            assert a[m] == e[m], (c, m)
        assert abs(a["n_distinct"] - e["n_distinct"]) \
            <= max(3, 0.1 * e["n_distinct"]), c


def test_ivf_topk_recall_vs_exact(spark):
    """The probe-limited IVF path (nprobe < nlist) must still recover
    most true neighbors — recall@5 ≥ 0.6 averaged over queries on the
    fixture (exact equality holds at nprobe == nlist, which the
    value-checked gate pins; this bounds the approximation quality of
    the path the rows-only gate runs)."""
    from pipit_spark.llm.similarity import cosine_topk, ivf_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    exact = {}
    for r in cosine_topk(emb, k=5, query_max_id=10).collect():
        exact.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    approx = {}
    for r in ivf_topk(emb, k=5, query_max_id=10, nlist=8, nprobe=2).collect():
        approx.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    assert set(exact) == set(approx)
    recalls = [
        len(exact[q] & approx[q]) / len(exact[q]) for q in exact
    ]
    assert sum(recalls) / len(recalls) >= 0.6, recalls


def test_minhash_lsh_portable_matches_fast_candidates(spark):
    """Both hash schemes estimate the same underlying Jaccard: on
    near-duplicate documents (shared shingle sets) the two paths agree
    on the high-similarity pairs (est >= 0.5), though bucket boundaries
    differ for borderline ones."""
    from pipit_spark.llm.dedup import minhash_lsh_pairs

    base = "the quick brown fox jumps over the lazy dog again and again "
    docs = spark.createDataFrame(
        [
            (0, base * 3),
            (1, base * 3),                       # exact dup of 0
            (2, base * 3 + "with a small tail"),  # near dup
            (3, "completely different content about spark engines"),
        ],
        "doc_id long, text string",
    )
    fast = {
        (r["a"], r["b"])
        for r in minhash_lsh_pairs(docs, 16, 8).collect()
        if r["est_jaccard"] >= 0.5
    }
    portable = {
        (r["a"], r["b"])
        for r in minhash_lsh_pairs(docs, 16, 8, portable=True).collect()
        if r["est_jaccard"] >= 0.5
    }
    assert (0, 1) in fast and (0, 1) in portable
    assert fast == portable


def test_fuzzy_dedup_methods_agree_on_clear_clusters(spark):
    """Both candidate modes collapse obvious duplicate clusters to the
    same min-id representatives; singletons survive untouched."""
    from pipit_spark.llm.dedup import fuzzy_dedup

    a = "alpha beta gamma delta epsilon zeta eta theta " * 4
    b = "one two three four five six seven eight nine ten " * 4
    docs = spark.createDataFrame(
        [
            (0, a), (1, a), (2, a + "iota"),        # cluster -> keep 0
            (10, b), (11, b),                        # cluster -> keep 10
            (20, "a lone document about nothing in particular at all"),
        ],
        "doc_id long, text string",
    )
    exact = sorted(
        r.doc_id for r in fuzzy_dedup(docs, method="jaccard", threshold=0.5).collect()
    )
    lsh = sorted(
        r.doc_id
        for r in fuzzy_dedup(docs, method="minhash_lsh", threshold=0.5).collect()
    )
    sim = sorted(
        r.doc_id
        for r in fuzzy_dedup(docs, method="simhash", threshold=3).collect()
    )
    assert exact == [0, 10, 20]
    assert lsh == exact
    # simhash at hamming<=3 is a STRICTER near-dup notion: the exact
    # duplicates must collapse (1, 11 dropped), but the suffixed doc 2
    # may legitimately survive on a short text
    assert {0, 10, 20} <= set(sim) and 1 not in sim and 11 not in sim


def test_score_documents_plumbing(spark):
    """Model-scoring plumbing: vectorized batches, per-PARTITION scorer
    init (not per batch/row), declared output schema, deterministic
    stub scores."""
    import pandas as pd

    from pipit_spark.llm.scoring import score_documents

    docs = spark.createDataFrame(
        [(i, f"document body {i}") for i in range(40)],
        "doc_id long, text string",
    ).repartition(4)

    inits = spark.sparkContext.accumulator(0)

    def counting_factory():
        inits.add(1)
        return lambda texts: pd.Series([0.5] * len(texts), index=texts.index)

    out = score_documents(docs, scorer_factory=counting_factory)
    assert dict(out.dtypes)["model_score"] == "double"
    rows = out.collect()
    assert len(rows) == 40 and all(r["model_score"] == 0.5 for r in rows)
    # factory ran at most once per partition (empty partitions skip)
    assert 0 < inits.value <= 4, inits.value

    # default stub: deterministic across runs
    a = {r["doc_id"]: r["model_score"] for r in score_documents(docs).collect()}
    b = {r["doc_id"]: r["model_score"] for r in score_documents(docs).collect()}
    assert a == b and all(0.0 <= v < 1.0 for v in a.values())


def test_text_ops_null_and_empty_safe(spark):
    """Empty and null text must not crash (ANSI divide-by-zero) or
    silently vanish: stats yield NULL ratios for empty docs, quality
    floors drop them, and exact_dedup keeps one representative of the
    content-empty group instead of dropping null rows."""
    from pipit_spark.llm.dedup import exact_dedup
    from pipit_spark.llm.quality import heuristic_filter
    from pipit_spark.llm.text import text_stats

    docs = spark.createDataFrame(
        [(0, "a perfectly normal document body"), (1, None), (2, ""),
         (3, "   ")],
        "doc_id long, text string",
    )
    st = {r["doc_id"]: r for r in text_stats(docs).collect()}
    assert st[0]["punct_ratio"] is not None
    assert st[2]["n_chars"] == 0 and st[2]["punct_ratio"] is None
    assert st[2]["quality_score"] is None
    assert st[1]["n_chars"] is None
    # quality filter silently (and correctly) drops the degenerate docs
    kept = {r["doc_id"] for r in heuristic_filter(docs).collect()}
    assert 1 not in kept and 2 not in kept
    # exact dedup: the three content-empty docs form ONE group with a
    # surviving representative — nothing vanishes
    surv = sorted(r["doc_id"] for r in exact_dedup(docs).collect())
    assert surv == [0, 1]


def test_ivf_build_search_split(spark):
    """The index API: one build serves multiple query batches, results
    identical to the one-call form; cache() pins the assigned corpus."""
    from pipit_spark.llm.similarity import ivf_build, ivf_search, ivf_topk
    from pyspark.sql import functions as F

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    one_call = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in ivf_topk(emb, k=3, query_max_id=10, nlist=8, nprobe=8).collect()
    }
    index = ivf_build(emb, nlist=8).cache()
    batch1 = ivf_search(index, emb.filter(F.col("vec_id") < 5), k=3, nprobe=8)
    batch2 = ivf_search(
        index, emb.filter(F.col("vec_id").between(5, 9)), k=3, nprobe=8
    )
    split = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in batch1.collect() + batch2.collect()
    }
    assert split == one_call
    index.assigned.unpersist()


def test_fluency_score_ranks_gibberish_low(spark):
    """A document of corpus-common words outscores unique-token
    gibberish; OOV-only docs get the smoothed floor."""
    from pipit_spark.llm.text import fluency_score

    common = "the cat sat on the mat and the dog ran to the cat"
    docs = spark.createDataFrame(
        [(0, common), (1, common), (2, common),
         (3, "zxqv wkjh qpwo mnbv zzyx")],
        "doc_id long, text string",
    )
    sc = {r["doc_id"]: r["fluency"] for r in fluency_score(docs).collect()}
    assert sc[0] == sc[1] == sc[2]
    assert sc[3] < sc[0]
    # top_k=1 keeps only the most common token in the table; everything
    # else takes the OOV floor but nothing crashes or vanishes
    from pipit_spark.llm.text import fluency_score as fs
    small = {r["doc_id"]: r["fluency"] for r in fs(docs, top_k=1).collect()}
    assert set(small) == {0, 1, 2, 3} and small[3] < small[0]


def test_simhash_pairs_identity_and_bound(spark):
    """Identical documents pair at hamming 0; every reported pair
    respects the max_hamming bound; the block invariant holds (a pair
    within budget shares >= 1 of the 4 signature blocks)."""
    from pipit_spark.llm.dedup import simhash_pairs

    text = "the quick brown fox jumps over the lazy dog near the river bank"
    docs = spark.createDataFrame(
        [(0, text), (1, text),
         (2, "an entirely different subject matter concerning database engines and storage layouts"),
         (3, text + " extra")],
        "doc_id long, text string",
    )
    rows = simhash_pairs(docs, max_hamming=3).collect()
    got = {(r["a"], r["b"]): r["hamming"] for r in rows}
    assert got[(0, 1)] == 0
    assert all(h <= 3 for h in got.values())


def test_dedup_lines_c4_boilerplate(spark):
    """A line appearing in >max_line_df documents drops everywhere;
    survivors keep original line order; all-boilerplate docs reduce to
    empty text but stay present."""
    from pipit_spark.llm.dedup import exact_dedup  # noqa: F401 (module warm)
    from pipit_spark.llm.quality import dedup_lines

    docs = spark.createDataFrame(
        [
            (0, "keep me\ncookie banner\nalso keep"),
            (1, "unique one\ncookie banner"),
            (2, "cookie banner"),
            (3, "solo doc line"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in dedup_lines(docs, max_line_df=2).collect()}
    assert out[0]["text"] == "keep me\nalso keep"
    assert out[1]["text"] == "unique one"
    assert out[2]["text"] == "" and out[2]["n_lines_dropped"] == 1
    assert out[3]["text"] == "solo doc line" and out[3]["n_lines_dropped"] == 0


def test_dedup_lines_within_doc(spark):
    """First occurrence of each line survives in order; the op is
    row-local (no exchange in the plan)."""
    from pipit_spark.llm.quality import dedup_lines_within

    docs = spark.createDataFrame(
        [(0, "a\nb\na\nc\nb"), (1, "solo"), (2, "x\nx\nx")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in dedup_lines_within(docs).collect()}
    assert out[0]["text"] == "a\nb\nc"
    assert (out[0]["n_lines_kept"], out[0]["n_lines_dropped"]) == (3, 2)
    assert out[2]["text"] == "x" and out[2]["n_lines_dropped"] == 2
    plan = dedup_lines_within(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_corpus_diff_statuses(spark):
    """All four statuses attribute correctly on a constructed pair of
    snapshots."""
    from pipit_spark.llm.pipeline import corpus_diff

    old = spark.createDataFrame(
        [(0, "same"), (1, "will change"), (2, "gone")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(0, "same"), (1, "did change"), (3, "brand new")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["status"] for r in corpus_diff(old, new).collect()}
    assert got == {0: "unchanged", 1: "changed", 2: "removed", 3: "added"}


def test_sample_exact_k(spark):
    """Exactly k per stratum (whole stratum when smaller); global mode
    returns exactly k; both deterministic across calls."""
    from pipit_spark.llm.sampling import sample_exact_k

    docs = spark.createDataFrame(
        [(i, f"text {i}", "big" if i < 30 else "small") for i in range(35)],
        "doc_id long, text string, source string",
    )
    per = sample_exact_k(docs, k=8, strata="source").groupBy("source").count()
    got = {r["source"]: r["count"] for r in per.collect()}
    assert got == {"big": 8, "small": 5}
    g1 = sorted(r.doc_id for r in sample_exact_k(docs, k=10).collect())
    g2 = sorted(r.doc_id for r in sample_exact_k(docs, k=10).collect())
    assert len(g1) == 10 and g1 == g2
    g3 = sorted(r.doc_id for r in sample_exact_k(docs, k=10, seed=1).collect())
    assert g3 != g1  # different seed, different sample


def test_winnow_fingerprints_guarantee(spark):
    """Winnowing's core guarantee: a shared substring of length
    >= k + w - 1 produces at least one shared fingerprint; disjoint
    texts share none; a single edit still leaves most fingerprints
    intact (unlike the whole-doc md5)."""
    from pipit_spark.llm.text import winnow_fingerprints

    shared = "this exact passage is common to both documents entirely"
    docs = spark.createDataFrame(
        [(0, "prefix one " + shared + " and a tail"),
         (1, "other start " + shared + " different end"),
         (2, "zweiundvierzig xylophone quarks jumble frazzle kipper")],
        "doc_id long, text string",
    )
    fp = {0: set(), 1: set(), 2: set()}
    for r in winnow_fingerprints(docs, k=8, w=4).collect():
        fp[r["doc_id"]].add(r["fingerprint"])
    assert fp[0] & fp[1], "shared substring must share a fingerprint"
    assert not (fp[0] & fp[2])
    assert not (fp[1] & fp[2])


def test_remove_repeated_spans_semantics(spark):
    """Cross-doc boilerplate removed, unique prose kept, fully-unique and
    fully-boilerplate docs handled; run shorter than min_run survives."""
    from pipit_spark.llm.dedup import remove_repeated_spans

    boiler = "copyright notice all rights reserved do not redistribute this file"
    docs = spark.createDataFrame(
        [
            (1, boiler + " alpha beta gamma delta epsilon zeta"),
            (2, boiler + " one two three four five six seven"),
            (3, "totally unique prose with no shared spans anywhere here"),
            (4, boiler),  # nothing but the shared block
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in remove_repeated_spans(docs, k=3, min_run=2).collect()
    }
    assert out[3]["text"] == "totally unique prose with no shared spans anywhere here"
    assert out[3]["n_removed_words"] == 0
    assert out[4]["text"] == ""
    assert out[4]["n_removed_words"] == len(boiler.split())
    # the boilerplate words are gone from 1 and 2; their tails survive
    for d, tail in ((1, "gamma delta epsilon zeta"), (2, "four five six seven")):
        assert "copyright" not in out[d]["text"]
        assert out[d]["text"].endswith(tail)
        assert out[d]["n_removed_words"] >= len(boiler.split())


def test_remove_repeated_spans_no_false_positives(spark):
    """A corpus with no cross-doc k-gram repeats comes back verbatim
    (modulo whitespace normalization)."""
    from pipit_spark.llm.dedup import remove_repeated_spans

    docs = spark.createDataFrame(
        [(i, " ".join(f"w{i}x{j}" for j in range(12))) for i in range(6)],
        "doc_id long, text string",
    )
    out = remove_repeated_spans(docs, k=3, min_run=1).collect()
    assert all(r["n_removed_words"] == 0 for r in out)
    assert sorted(r["text"] for r in out) == sorted(
        " ".join(f"w{i}x{j}" for j in range(12)) for i in range(6)
    )


def test_semantic_dedup_clustered_monotone(spark):
    """Clustering only removes comparisons: the exact (nlist=1) kept set
    is a subset of every clustered kept set, and every clustered drop is
    a genuine >=threshold cosine to its recorded lower-id dup_of."""
    import numpy as np
    from pipit_spark.llm.similarity import semantic_dedup

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    exact = semantic_dedup(emb, nlist=1, threshold=0.95).collect()
    clus = semantic_dedup(emb, nlist=4, threshold=0.95).collect()
    kept1 = {r["vec_id"] for r in exact if r["kept"]}
    kept4 = {r["vec_id"] for r in clus if r["kept"]}
    assert kept1 <= kept4
    vecs = {
        r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
        for r in emb.collect()
    }
    for r in clus:
        if not r["kept"]:
            a, b = vecs[r["vec_id"]], vecs[r["dup_of"]]
            cos = a @ b / (np.linalg.norm(a) * np.linalg.norm(b))
            assert r["dup_of"] < r["vec_id"] and cos >= 0.95 - 1e-9


def _ref_bpe_train(word_freqs, num_merges):
    """Independent pure-Python transcription of the published BPE
    training loop (Sennrich et al. 2016, Algorithm 1) used as the
    golden reference for the distributed trainer."""
    vocab = {tuple(list(w) + ["</w>"]): c for w, c in word_freqs.items()}
    merges = []
    for _ in range(num_merges):
        pairs = {}
        for syms, c in vocab.items():
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                pairs[p] = pairs.get(p, 0) + c
        if not pairs:
            break
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        if best[1] < 2:
            break
        a, b = best[0]
        merges.append((a, b))

        def merge_word(syms):
            out, i = [], 0
            while i < len(syms):
                if i < len(syms) - 1 and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            return tuple(out)

        vocab = {merge_word(s): c for s, c in vocab.items()}
    return merges


def test_bpe_train_matches_reference(spark):
    """The distributed trainer reproduces the reference merge sequence
    exactly (same ties, same leftmost-nonoverlapping merge rule)."""
    from collections import Counter

    from pipit_spark.llm.bpe import train_bpe, apply_bpe, _encode_word

    texts = [
        "low lower lowest low low",
        "newer newest new new newer",
        "wider wide wide widest",
        "low new wide lower newer",
    ]
    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    freqs = Counter(w for t in texts for w in t.split())
    want = _ref_bpe_train(freqs, 12)
    got = train_bpe(docs, num_merges=12, checkpoint_every=4)
    assert got == want

    # the opt-in distributed merge loop lands on the same sequence
    assert train_bpe(
        docs, num_merges=6, checkpoint_every=4, distributed=True
    ) == want[:6]

    # encoding round-trips: concatenated tokens rebuild each word
    ranks = {p: i for i, p in enumerate(got)}
    for w in freqs:
        assert "".join(_encode_word(w, ranks)) == w + "</w>"

    toks = {r["doc_id"]: r for r in apply_bpe(docs, got).collect()}
    for i, t in enumerate(texts):
        joined = "".join(toks[i]["tokens"])
        assert joined == "".join(w + "</w>" for w in t.split())
        assert toks[i]["n_tokens"] == len(toks[i]["tokens"])


def _ref_despan(texts, k, min_run):
    """Brute-force pure-Python reference of remove_repeated_spans."""
    import re

    toks = {d: re.sub(r"\s+", " ", t.strip()).split(" ") for d, t in texts.items()}

    def shingles(words):
        n = max(len(words) - k + 1, 1)
        return [" ".join(words[p : p + k]) for p in range(n)]

    seen = {}
    for d, words in toks.items():
        for sh in set(shingles(words)):
            seen.setdefault(sh, set()).add(d)
    dup = {sh for sh, ds in seen.items() if len(ds) >= 2}
    out = {}
    for d, words in toks.items():
        dup_pos = [p for p, sh in enumerate(shingles(words)) if sh in dup]
        covered = set()
        run = []
        for p in dup_pos + [None]:
            if run and (p is None or p != run[-1] + 1):
                if len(run) >= min_run:
                    covered.update(range(run[0], run[-1] + k))
                run = []
            if p is not None:
                run.append(p)
        kept = [w for i, w in enumerate(words) if i not in covered]
        out[d] = (" ".join(kept), len(words) - len(kept))
    return out


def test_remove_repeated_spans_randomized(spark):
    """Randomized differential: the relational pipeline agrees with the
    brute-force reference on corpora with seeded repetition, short docs,
    and empty docs."""
    import random

    from pipit_spark.llm.dedup import remove_repeated_spans

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(30)]
    shared = " ".join(rng.choice(vocab) for _ in range(8))
    texts = {}
    for d in range(25):
        n = rng.randrange(0, 18)
        body = [rng.choice(vocab) for _ in range(n)]
        if rng.random() < 0.5:
            pos = rng.randrange(0, len(body) + 1)
            body[pos:pos] = shared.split()
        texts[d] = " ".join(body)
    texts[25] = ""          # empty doc
    texts[26] = "w1"        # single-token doc
    texts[27] = "w1"        # its exact twin

    for kk, mr in ((3, 2), (2, 1), (4, 3)):
        want = _ref_despan(texts, kk, mr)
        docs = spark.createDataFrame(
            list(texts.items()), "doc_id long, text string"
        )
        got = {
            r["doc_id"]: (r["text"], r["n_removed_words"])
            for r in remove_repeated_spans(docs, k=kk, min_run=mr).collect()
        }
        assert got == want, (kk, mr)


def test_bpe_train_randomized(spark):
    """Randomized differential vs the reference trainer: skewed word
    frequencies force tie-breaks through both code paths."""
    import random
    from collections import Counter

    from pipit_spark.llm.bpe import train_bpe

    rng = random.Random(11)
    alphabet = "abcde"
    words = [
        "".join(rng.choice(alphabet) for _ in range(rng.randrange(1, 6)))
        for _ in range(30)
    ]
    texts = [
        " ".join(rng.choice(words) for _ in range(rng.randrange(3, 15)))
        for _ in range(10)
    ]
    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    freqs = Counter(w for t in texts for w in t.split())
    assert train_bpe(docs, num_merges=10, checkpoint_every=3) == \
        _ref_bpe_train(freqs, 10)


def test_dedup_quality_disjoint_reads_zero(spark):
    """Total recall collapse must read 0, not NULL: corpora where LSH
    candidates and exact pairs are both non-empty but disjoint."""
    from pipit_spark.llm.dedup import dedup_quality_report

    # docs 0/1 identical (true+pred hit), nothing else pairs
    docs = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog today"),
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "completely different words in every position here now"),
        ],
        "doc_id long, text string",
    )
    row = dedup_quality_report(docs, portable=True).collect()[0]
    assert row["n_hit"] == row["n_true"] == row["n_pred"] == 1
    assert row["recall"] == 1.0 and row["precision"] == 1.0

    # total collapse: pred bar above any reachable estimate -> pred
    # empty, true non-empty; n_hit and recall must read 0, not NULL
    row2 = dedup_quality_report(
        docs, portable=True, pred_threshold=1.01
    ).collect()[0]
    assert row2["n_true"] == 1 and row2["n_pred"] is None
    assert row2["n_hit"] == 0 and row2["recall"] == 0.0
    assert row2["precision"] is None  # empty denominator stays NULL


def test_derived_checkpoint_roundtrip(foo_bar_trace, spark, tmp_path):
    """to_parquet(include_derived=True) -> from_parquet skips the
    matching pass (matched seeded from disk) and reproduces profiles."""
    from pipit_spark import Trace
    from pipit_spark import schema as S

    path = str(tmp_path / "derived_pq")
    foo_bar_trace.to_parquet(path, include_derived=True)
    back = Trace.from_parquet(spark, path)
    assert back._matched is not None  # seeded, no re-match needed
    assert S.MATCHING_EVENT not in back.events.columns
    a = foo_bar_trace.flat_profile(metrics=[S.TIME_INC]).toPandas()
    b = back.flat_profile(metrics=[S.TIME_INC]).toPandas()
    m = a.merge(b, on="name", suffixes=("_a", "_b"))
    assert len(m) == len(a) and (m.time_inc_a == m.time_inc_b).all()


def test_trace_sql_views(foo_bar_trace, spark):
    """create_views exposes events/matched/cct to spark.sql — including
    a CCT join the reference's API cannot express."""
    views = foo_bar_trace.create_views(prefix="t0")
    assert views == ["t0_events", "t0_matched", "t0_cct"]
    top = spark.sql("""
        SELECT c.name, SUM(m.time_inc) AS total_inc
        FROM t0_matched m JOIN t0_cct c ON m.node_id = c.node_id
        WHERE m.event_type = 'Enter'
        GROUP BY c.name ORDER BY total_inc DESC LIMIT 1
    """).collect()
    assert top[0]["name"] == "main()"


def test_trace_diff(foo_bar_trace, spark):
    """Pairwise run comparison: a trace diffed against its 2x-slowed
    self reports ratio 2.0 per function; one-sided functions surface."""
    from pipit_spark import Trace
    from pipit_spark import schema as S

    doubled = Trace(
        foo_bar_trace.events.withColumn(
            S.TIMESTAMP, (F.col(S.TIMESTAMP) * 2).cast("long")
        )
    )
    d = {r["name"]: r for r in foo_bar_trace.diff(doubled).collect()}
    for name, row in d.items():
        assert row["ratio"] == 2.0, name
        assert row["delta"] == row["time_exc_self"]


def test_split_corpus_edges(spark):
    """100%-eval splits don't invert the hex compare; NULL doc_id lands
    in 'train' (matching the oracle's NULL propagation); bad pcts
    raise."""
    import pytest

    from pipit_spark.llm.sampling import split_corpus

    docs = spark.createDataFrame(
        [(i, f"d{i}") for i in range(200)] + [(None, "null-id")],
        "doc_id long, text string",
    )
    all_eval = split_corpus(docs, val_pct=50.0, test_pct=50.0)
    counts = {
        r["split"]: r["count"]
        for r in all_eval.groupBy("split").count().collect()
    }
    # nothing but the NULL-id doc may be 'train' when val+test=100
    assert counts.get("train", 0) == 1
    assert counts["val"] + counts["test"] == 200
    null_row = [r for r in all_eval.collect() if r["doc_id"] is None][0]
    assert null_row["split"] == "train"
    with pytest.raises(ValueError):
        split_corpus(docs, val_pct=60.0, test_pct=50.0)


def test_from_parquet_derived_modes(foo_bar_trace, spark, tmp_path):
    """derived=False reads a checkpoint verbatim; derived=True raises
    on a plain events file; a coincidental *_inc column alone never
    triggers the checkpoint split."""
    import pytest

    from pipit_spark import Trace
    from pipit_spark import schema as S

    ck = str(tmp_path / "ck")
    foo_bar_trace.to_parquet(ck, include_derived=True)
    verbatim = Trace.from_parquet(spark, ck, derived=False)
    assert S.MATCHING_EVENT in verbatim.events.columns

    ev = str(tmp_path / "ev")
    foo_bar_trace.events.withColumn("custom_inc", F.lit(1.0)).write.parquet(ev)
    t = Trace.from_parquet(spark, ev)  # auto: NOT a checkpoint
    assert "custom_inc" in t.events.columns and t._matched is None
    with pytest.raises(ValueError):
        Trace.from_parquet(spark, ev, derived=True)


def _profile_family(t):
    """Every value the (name, process) rollup answers, as sorted rows."""
    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    inc_exc = ["time_inc", "time_exc"]
    return {
        "flat": rows(t.flat_profile(metrics=inc_exc)),
        "flat_pp": rows(t.flat_profile(metrics=inc_exc, per_process=True)),
        "load_imbalance": [
            (r["name"], r["time_exc_imbalance"], tuple(r["top_processes"]),
             r["time_exc_mean"])
            for r in t.load_imbalance(num_processes=2).collect()
        ],
        "idle": rows(t.idle_time(mpi_events=True)),
        "time_stats": t.time_stats(),
        "time_profile": rows(t.time_profile()),
    }


def test_checkpoint_rollup_answers_profile_family(
    foo_bar_trace, spark, tmp_path
):
    """A reopened derived checkpoint answers flat_profile,
    load_imbalance, idle_time, time_stats and time_profile from its
    _rollup sidecar with exactly the in-memory trace's values."""
    import os

    from pipit_spark import Trace

    ck = str(tmp_path / "ck")
    foo_bar_trace.to_parquet(ck, include_derived=True)
    assert len(os.listdir(os.path.join(ck, "_rollup"))) == 1
    assert Trace.from_parquet(spark, ck, derived=False)._rollup is None
    back = Trace.from_parquet(spark, ck)
    assert back._rollup is not None
    assert back.events.count() == foo_bar_trace.events.count()
    assert _profile_family(back) == _profile_family(foo_bar_trace)


def test_rollup_keeps_unmatched_enter_flat_profile(spark, tmp_path):
    """An Enter that never leaves, with children, keeps the flat
    profile the signed-contribution sums have always given it (NULL
    sums for its own process, not a zero), in memory and reopened."""
    import pandas as pd

    from pipit_spark import Trace
    from pipit_spark import schema as S

    rows = []

    def add(p, ts, et, name):
        rows.append((len(rows), ts, len(rows), et, name, p, 0, None))

    # process 0: main never leaves; foo and bar run inside it
    add(0, 0, "Enter", "main"); add(0, 1, "Enter", "foo")
    add(0, 4, "Leave", "foo"); add(0, 5, "Enter", "bar")
    add(0, 6, "Leave", "bar")
    # process 1: a well-formed main -> foo
    add(1, 0, "Enter", "main"); add(1, 2, "Enter", "foo")
    add(1, 5, "Leave", "foo"); add(1, 9, "Leave", "main")
    pdf = pd.DataFrame(rows, columns=S.EVENT_SCHEMA.fieldNames())
    t = Trace(spark.createDataFrame(pdf, schema=S.EVENT_SCHEMA))
    ck = str(tmp_path / "ck")
    t.to_parquet(ck, include_derived=True)
    back = Trace.from_parquet(spark, ck)
    assert back._rollup is not None
    metrics = ["time_inc", "time_exc"]
    for tr in (t, back):
        pp = sorted(
            tuple(r) for r in
            tr.flat_profile(metrics=metrics, per_process=True).collect()
        )
        assert pp == [
            ("bar", 0, 1.0, 1.0), ("foo", 0, 3.0, 3.0), ("foo", 1, 3.0, 3.0),
            ("main", 0, None, None), ("main", 1, 9.0, 6.0),
        ]
        mean = sorted(
            tuple(r) for r in tr.flat_profile(metrics=metrics).collect()
        )
        assert mean == [
            ("bar", 1.0, 1.0), ("foo", 3.0, 3.0), ("main", 9.0, 6.0)
        ]


def test_stale_rollup_is_ignored(foo_bar_trace, spark, tmp_path):
    """A part file appended after the write changes the checkpoint's
    file set: the sidecar no longer matches, is ignored, and the
    profile is recomputed over the rows now in the checkpoint."""
    from pipit_spark import Trace

    ck = str(tmp_path / "ck")
    foo_bar_trace.to_parquet(ck, include_derived=True)
    before = {
        (r["name"], r["process"]): r
        for r in Trace.from_parquet(spark, ck)
        .flat_profile(metrics=["time_inc", "time_exc"], per_process=True)
        .collect()
    }
    # a second copy of process 0's rows lands as a new part file
    spark.read.parquet(ck).filter(F.col("process") == 0).write.mode(
        "append"
    ).partitionBy("process").parquet(ck)
    back = Trace.from_parquet(spark, ck)
    assert back._rollup is None
    after = {
        (r["name"], r["process"]): r
        for r in back.flat_profile(
            metrics=["time_inc", "time_exc"], per_process=True
        ).collect()
    }
    assert after.keys() == before.keys()
    for key, r in after.items():
        k = 2 if key[1] == 0 else 1
        assert r["time_inc"] == k * before[key]["time_inc"], key
        assert r["time_exc"] == k * before[key]["time_exc"], key


def test_events_checkpoint_writes_no_rollup(foo_bar_trace, spark, tmp_path):
    """include_derived=False writes the events only: no _rollup
    sidecar, and reopening seeds neither matched nor the rollup."""
    import os

    from pipit_spark import Trace

    ev = str(tmp_path / "ev")
    foo_bar_trace.to_parquet(ev)
    assert not os.path.exists(os.path.join(ev, "_rollup"))
    t = Trace.from_parquet(spark, ev)
    assert t._matched is None and t._rollup is None


def test_filter_lines_by_fluency_segments(spark):
    """Per-line filtering: a gibberish line inside an otherwise fluent
    document is removed while the fluent lines survive in order."""
    from pipit_spark.llm.quality import filter_lines_by_fluency

    fluent = "the cat sat on the mat and the dog ran to the house"
    docs = spark.createDataFrame(
        [
            (0, fluent + "\nzxqv jkwp qqzz xvbn mmlk\n" + fluent),
            (1, fluent),
            (2, "zxqv jkwp qqzz xvbn mmlk"),
        ]
        + [(i, fluent) for i in range(3, 10)],  # corpus mass for the LM
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in filter_lines_by_fluency(docs, min_fluency=-3.5).collect()
    }
    assert out[0]["text"] == fluent + "\n" + fluent
    assert out[0]["n_lines_dropped"] == 1
    assert out[1]["n_lines_dropped"] == 0
    assert out[2]["text"] == "" and out[2]["n_lines_kept"] == 0


def test_dsir_weights_directional(spark):
    """Documents resembling the target domain score above documents
    that don't; empty docs get NULL weight."""
    from pipit_spark.llm.sampling import dsir_weights

    target_like = "the model trains on clean web text with good grammar"
    off_domain = "zzz 123 qqq 456 www 789 eee 000 rrr 111"
    docs = spark.createDataFrame(
        [(i, target_like) for i in range(5)]
        + [(i, off_domain) for i in range(5, 10)]
        + [(10, "")],
        "doc_id long, text string",
    )
    target = docs.filter("doc_id < 3")  # target = in-domain slice
    w = {r["doc_id"]: r for r in dsir_weights(docs, target, buckets=512).collect()}
    in_dom = [w[i]["dsir_logweight"] for i in range(5)]
    out_dom = [w[i]["dsir_logweight"] for i in range(5, 10)]
    assert min(in_dom) > max(out_dom)
    # '' still has one token ('') -> one bigram feature; weight defined
    assert w[10]["n_features"] == 1


# ------------------------------------------------------------------ #
# Bloom filter + bloom-prefiltered incremental ingestion
# ------------------------------------------------------------------ #
def test_bloom_no_false_negatives_and_bounded_fp(spark):
    """Every inserted value probes True (the exactness-preserving
    property); non-members flag at roughly the theoretical rate."""
    from pipit_spark.operators.bloom import build_bloom, might_contain

    members = spark.range(0, 500).select(
        F.concat(F.lit("key-"), F.col("id")).alias("k")
    )
    bloom = build_bloom(members, "k", num_bits=1 << 13, num_hashes=5)
    hits = members.filter(
        might_contain(bloom, F.col("k"), spark)
    ).count()
    assert hits == 500  # no false negatives, ever

    others = spark.range(10_000, 14_000).select(
        F.concat(F.lit("other-"), F.col("id")).alias("k")
    )
    fp = others.filter(might_contain(bloom, F.col("k"), spark)).count()
    # density (1 - e^(-kn/m))^k ≈ 0.022 at n=500, m=8192, k=5;
    # generous 3x slack keeps the test deterministic-hash stable
    assert fp / 4_000 < 0.07
    assert bloom.fp_rate() < 0.07


def test_incremental_bloom_matches_exact(spark):
    """The bloom pre-filter path returns byte-identical survivors to the
    exact anti-join, including under heavy collision pressure (tiny
    bitmap forces a real false-positive tail through the verify join)."""
    from pipit_spark.llm.pipeline import incremental_new_docs

    docs = spark.range(0, 400).select(
        F.col("id").alias("doc_id"),
        # 200 distinct texts → every text appears twice (batch dups)
        F.concat(F.lit("text body "), (F.col("id") % 200)).alias("text"),
    )
    from pipit_spark.llm.text import fingerprint_expr

    seen = (
        docs.filter(F.col("doc_id") < 120)
        .select(fingerprint_expr().alias("fingerprint"))
    )
    exact = sorted(
        map(tuple, incremental_new_docs(docs, seen, method="exact").collect())
    )
    bloom = sorted(
        map(
            tuple,
            incremental_new_docs(
                docs, seen, method="bloom", bloom_bits=1 << 10, bloom_hashes=3
            ).collect(),
        )
    )
    assert exact == bloom
    # sanity: the scenario is non-trivial (some survivors, some dropped)
    assert 0 < len(exact) < 400


def test_pq_topk_lossless_equals_exact(spark):
    """ksub=None + whole-corpus training makes every subvector its own
    codeword, so asymmetric-distance scoring IS the exact cosine — the
    PQ machinery (train, encode, LUT gather, partial top-k) must then
    reproduce brute force row-for-row."""
    from pipit_spark.llm.similarity import cosine_topk, pq_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    exact = sorted(
        map(tuple, cosine_topk(emb, k=5, query_max_id=10).collect())
    )
    pq = sorted(
        map(
            tuple,
            pq_topk(
                emb, k=5, query_max_id=10, m=8, ksub=None, train_max_id=None
            ).collect(),
        )
    )
    assert pq == exact


def test_pq_topk_lossy_recall(spark):
    """The compressed path still recovers most true neighbors, and
    codes really are m small ints. The fixture's vectors are close to
    isotropic-random — the hardest case for PQ (no cluster structure
    for the codebooks to exploit) — so this pins a conservative floor:
    measured recall@5 on the deterministic sweep is 0.30 (m=8,ksub=32),
    0.60 (m=16,ksub=64), 0.88 (m=32,ksub=64); real embedding corpora
    sit far higher at the same compression."""
    from pipit_spark.llm.similarity import (
        cosine_topk, pq_encode, pq_train, pq_topk,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    exact = {}
    for r in cosine_topk(emb, k=5, query_max_id=10).collect():
        exact.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    approx = {}
    for r in pq_topk(
        emb, k=5, query_max_id=10, m=16, ksub=64, train_max_id=None
    ).collect():
        approx.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    assert set(exact) == set(approx)
    recalls = [len(exact[q] & approx[q]) / len(exact[q]) for q in exact]
    assert sum(recalls) / len(recalls) >= 0.5, recalls

    cb = pq_train(emb, m=16, ksub=64, train_max_id=None)
    codes = pq_encode(emb, cb).collect()
    assert all(len(r["codes"]) == 16 for r in codes)
    assert all(0 <= c < 64 for r in codes for c in r["codes"])


def test_chunk_documents_coverage_and_overlap(spark):
    """Structural invariants: chunks tile the token stream with exactly
    `overlap` shared tokens between neighbors, reconstruct the document
    when overlaps are dropped, and the final chunk is short, not
    padded. Short docs yield exactly one chunk."""
    from pipit_spark.llm.sampling import chunk_documents

    texts = [
        (0, " ".join(f"w{i}" for i in range(100))),   # 100 tokens
        (1, " ".join(f"w{i}" for i in range(32))),    # exactly one window
        (2, "solo"),                                   # tiny
        (3, None),                                     # dropped
    ]
    docs = spark.createDataFrame(texts, "doc_id long, text string")
    out = chunk_documents(docs, chunk_tokens=32, overlap=8)
    rows = sorted(
        ((r["doc_id"], r["chunk_idx"], r["chunk_text"], r["n_tokens"])
         for r in out.collect())
    )
    by_doc = {}
    for d, i, t, n in rows:
        by_doc.setdefault(d, []).append((i, t.split(" "), n))
    assert set(by_doc) == {0, 1, 2}
    assert len(by_doc[1]) == 1 and by_doc[1][0][2] == 32
    assert len(by_doc[2]) == 1 and by_doc[2][0][1] == ["solo"]
    chunks0 = by_doc[0]
    # stride 24 over 100 tokens → ceil(92/24) = 4 chunks
    assert [i for i, _, _ in chunks0] == [0, 1, 2, 3]
    for (_, a, _), (_, b, _) in zip(chunks0, chunks0[1:]):
        assert a[-8:] == b[:8]  # exact overlap
    rebuilt = chunks0[0][1] + [
        tok for _, t, _ in chunks0[1:] for tok in t[8:]
    ]
    assert rebuilt == [f"w{i}" for i in range(100)]
    assert chunks0[-1][2] < 32  # final chunk short, not padded


def test_edit_verified_pairs_precision(spark):
    """The verify tier accepts near-identical texts and rejects pairs
    that share shingles but differ substantially — the precision the
    candidate stage alone cannot give."""
    from pipit_spark.llm.dedup import edit_verified_pairs

    base = "the quick brown fox jumps over the lazy dog again and again"
    docs = spark.createDataFrame(
        [
            (0, base),
            (1, base.replace("dog", "cat")),            # 1 edit cluster
            (2, base + " " + " ".join(["totally different tail words"] * 6)),
        ],
        "doc_id long, text string",
    )
    out = {
        (r["a"], r["b"]): r["edit_sim"]
        for r in edit_verified_pairs(
            docs, n=3, cand_threshold=0.05, edit_threshold=0.9
        ).collect()
    }
    assert (0, 1) in out and out[(0, 1)] >= 0.9
    assert (0, 2) not in out and (1, 2) not in out


def test_ivf_pq_lossless_fullprobe_equals_exact(spark):
    """nprobe == nlist + lossless codes: the full IVF-PQ composition
    (coarse probe, coded corpus, LUT scoring, partial top-k) must equal
    brute force row-for-row."""
    from pipit_spark.llm.similarity import cosine_topk, ivf_pq_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    exact = sorted(
        map(tuple, cosine_topk(emb, k=5, query_max_id=10).collect())
    )
    got = sorted(
        map(
            tuple,
            ivf_pq_topk(
                emb, k=5, query_max_id=10, nlist=8, nprobe=8,
                m=8, ksub=None, train_max_id=None,
            ).collect(),
        )
    )
    assert got == exact


def test_ivf_pq_lossy_recall(spark):
    """Probe-limited + compressed: recall floor on the fixture (whose
    near-random vectors are the adversarial case for both levers)."""
    from pipit_spark.llm.similarity import cosine_topk, ivf_pq_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    exact = {}
    for r in cosine_topk(emb, k=5, query_max_id=10).collect():
        exact.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    approx = {}
    for r in ivf_pq_topk(
        emb, k=5, query_max_id=10, nlist=8, nprobe=4,
        m=16, ksub=64, train_max_id=None,
    ).collect():
        approx.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    recalls = [
        len(exact[q] & approx.get(q, set())) / len(exact[q]) for q in exact
    ]
    assert sum(recalls) / len(recalls) >= 0.4, recalls


def test_incremental_near_dups_finds_known_dups(spark):
    """Batch docs copied (or lightly edited) from the indexed corpus are
    matched back to their source with high estimated Jaccard; unrelated
    batch docs produce no row. Fast (xxhash64) and portable (md5) modes
    agree on the match set."""
    from pipit_spark.llm.dedup import build_lsh_index, incremental_near_dups

    corpus_rows = [
        (i, f"corpus document number {i} " + " ".join(
            f"w{i}_{j}" for j in range(30)))
        for i in range(10)
    ]
    batch_rows = [
        (100, corpus_rows[3][1]),                      # exact copy of 3
        (101, corpus_rows[7][1] + " tiny tail edit"),  # near-copy of 7
        (102, "completely unrelated fresh content " + " ".join(
            f"z{j}" for j in range(30))),
    ]
    corpus = spark.createDataFrame(corpus_rows, "doc_id long, text string")
    batch = spark.createDataFrame(batch_rows, "doc_id long, text string")

    results = {}
    for portable in (False, True):
        idx = build_lsh_index(corpus, portable=portable)
        out = incremental_near_dups(
            batch, idx, threshold=0.5, portable=portable
        ).collect()
        results[portable] = {r["doc_id"]: r for r in out}

    for mode, got in results.items():
        assert got[100]["match_id"] == 3 and got[100]["est_jaccard"] == 1.0, mode
        assert got[101]["match_id"] == 7 and got[101]["est_jaccard"] >= 0.5, mode
        assert 102 not in got, mode
    assert {k: v["match_id"] for k, v in results[True].items()} == \
        {k: v["match_id"] for k, v in results[False].items()}


def test_select_by_dsir_prefers_target_like_docs(spark):
    """Docs resembling the target domain outrank off-domain docs of the
    same source under the same token budget."""
    from pipit_spark.llm.sampling import select_by_dsir

    target = spark.createDataFrame(
        [(900 + i, "medical clinical trial patient dosage outcome", "t")
         for i in range(5)],
        "doc_id long, text string, source string",
    )
    rows = []
    for i in range(10):
        rows.append((i, "medical clinical trial patient dosage outcome "
                        * 3, "web"))
    for i in range(10, 20):
        rows.append((i, "sports football score championship league game "
                        * 3, "web"))
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    # budget fits ~half the docs; the medical half must win
    kept = {r["doc_id"] for r in select_by_dsir(
        docs, target, budget_per_source=180, buckets=1024
    ).collect()}
    assert kept and kept <= set(range(10)), kept


def test_to_folded_and_summary(foo_bar_trace, tmp_path):
    """Folded-stack file round-trips the frame (flamegraph.pl format)
    and Trace.summary reports the fixture's hand-checkable overview."""
    path = foo_bar_trace.to_folded(str(tmp_path / "profile.folded"))
    lines = dict(
        line.rsplit(" ", 1) for line in open(path).read().splitlines()
    )
    assert lines["main();foo()"] == str(12 * 10**9)
    assert lines["main()"] == str(100 * 10**9)

    s = foo_bar_trace.summary()
    assert s["n_events"] == 20
    assert s["n_processes"] == 2
    assert s["span_ns"] == 100 * 10**9
    assert s["top_function"] == "main()"
    assert s["top_function_exc"] == 50 * 10**9  # mean over 2 processes


def test_chunked_training_set_token_conservation(spark):
    """Every chunk token of every surviving document lands in exactly
    one pack: pack totals sum to the survivors' chunked token mass."""
    from pipit_spark.llm.dedup import decontaminate
    from pipit_spark.llm.pipeline import (
        clean_corpus, prepare_chunked_training_set,
    )
    from pipit_spark.llm.sampling import chunk_documents

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    corpus = docs.filter(F.col("doc_id") >= 25)
    ev = docs.filter(F.col("doc_id") < 25)

    packs = prepare_chunked_training_set(
        corpus, ev, chunk_tokens=48, overlap=16, context_len=256
    ).collect()
    clean = clean_corpus(corpus)
    surv = corpus.join(clean.select("doc_id"), "doc_id", "left_semi")
    surv = surv.join(
        decontaminate(surv, ev, n=5).select("doc_id"), "doc_id", "left_anti"
    )
    chunk_total = (
        chunk_documents(surv, chunk_tokens=48, overlap=16)
        .agg(F.sum("n_tokens")).collect()[0][0]
    )
    assert sum(r["total_tokens"] for r in packs) == chunk_total
    assert len(packs) > 1  # the packing actually splits


def test_lsh_index_save_load_roundtrip(spark, tmp_path):
    """A saved+reloaded band index screens a batch identically to the
    freshly built one — the cross-job incremental form."""
    from pipit_spark.llm.dedup import (
        build_lsh_index, incremental_near_dups, load_lsh_index,
        save_lsh_index,
    )

    spark.sql(
        f"CREATE DATABASE IF NOT EXISTS lshdb LOCATION '{tmp_path}/lshdb.db'"
    )
    corpus = spark.createDataFrame(
        [(i, f"corpus doc {i} " + " ".join(f"w{i}_{j}" for j in range(25)))
         for i in range(8)],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [(100, corpus.collect()[2]["text"]), (101, "fresh unrelated words")],
        "doc_id long, text string",
    )
    try:
        idx = build_lsh_index(corpus)
        fresh = sorted(
            map(tuple, incremental_near_dups(batch, idx).collect())
        )
        save_lsh_index(idx, "lshdb.index_rt", num_buckets=4)
        loaded = load_lsh_index(spark, "lshdb.index_rt")
        replay = sorted(
            map(tuple, incremental_near_dups(batch, loaded).collect())
        )
    finally:
        spark.sql("DROP DATABASE IF EXISTS lshdb CASCADE")
    assert fresh == replay
    assert fresh and fresh[0][0] == 100  # the copy matched, 101 absent


def test_ann_recall_report(spark):
    """Recall@k of the exact-configuration paths is exactly 1.0 per
    query; the probe-limited IVF path reports the same mean recall the
    set-based computation gives."""
    from pipit_spark.llm.similarity import ann_recall_report, cosine_topk, ivf_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    perfect = ann_recall_report(
        emb, k=5, query_max_id=10, method="ivf", nlist=8, nprobe=8
    ).collect()
    assert len(perfect) == 10
    assert all(r["recall"] == 1.0 and r["n_exact"] == 5 for r in perfect)

    limited = {
        r["query_id"]: r["recall"]
        for r in ann_recall_report(
            emb, k=5, query_max_id=10, method="ivf", nlist=8, nprobe=2
        ).collect()
    }
    exact, approx = {}, {}
    for r in cosine_topk(emb, k=5, query_max_id=10).collect():
        exact.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    for r in ivf_topk(emb, k=5, query_max_id=10, nlist=8, nprobe=2).collect():
        approx.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    for q in exact:
        assert limited[q] == round(len(exact[q] & approx.get(q, set())) / 5, 4)


def test_incremental_near_dups_rejects_mismatched_index(spark):
    """Screening with parameters that differ from the persisted index's
    build parameters is a hard error, not a silent empty result."""
    import pytest

    from pipit_spark.llm.dedup import build_lsh_index, incremental_near_dups

    corpus = spark.createDataFrame(
        [(i, " ".join(f"w{i}_{j}" for j in range(20))) for i in range(4)],
        "doc_id long, text string",
    )
    idx = build_lsh_index(corpus, num_hashes=32, bands=16)
    batch = corpus.limit(1)
    with pytest.raises(ValueError, match="num_hashes: index=32"):
        incremental_near_dups(batch, idx, num_hashes=16, bands=8)

    # the metadata-less fallback probe still catches the mismatch
    del idx.lsh_params
    with pytest.raises(ValueError, match="num_hashes=32"):
        incremental_near_dups(batch, idx, num_hashes=16, bands=8)


def test_llm_ops_on_empty_corpus(spark):
    """A fully-filtered (empty) corpus flows through the pipeline ops
    as empty output, never a crash — the mid-pipeline reality when an
    upstream filter matches nothing."""
    from pipit_spark.llm.dedup import (
        build_lsh_index, exact_dedup, minhash_lsh_pairs, ngram_jaccard_pairs,
    )
    from pipit_spark.llm.pipeline import clean_corpus, incremental_new_docs
    from pipit_spark.llm.sampling import chunk_documents, pack_sequences
    from pipit_spark.llm.text import text_stats, vocab_coverage

    empty = spark.createDataFrame(
        [], "doc_id long, text string, lang string, source string, n_chars long"
    )
    assert text_stats(empty).count() == 0
    assert clean_corpus(empty).count() == 0
    assert chunk_documents(empty).count() == 0
    assert vocab_coverage(empty, persist=False).count() == 0
    assert exact_dedup(empty).count() == 0
    assert minhash_lsh_pairs(empty).count() == 0
    assert ngram_jaccard_pairs(empty).count() == 0
    assert pack_sequences(empty).count() == 0
    assert build_lsh_index(empty, persist=False).count() == 0
    # empty batch vs non-empty seen, and non-empty batch vs EMPTY seen
    seen = spark.createDataFrame([("ab",)], "fingerprint string")
    assert incremental_new_docs(empty, seen, method="bloom").count() == 0
    docs = spark.createDataFrame(
        [(1, "some real text")], "doc_id long, text string"
    )
    no_seen = spark.createDataFrame([], "fingerprint string")
    out = incremental_new_docs(docs, no_seen, method="bloom").collect()
    assert [r["doc_id"] for r in out] == [1]


def test_bloom_options_config_wired(spark):
    """The bloom defaults come from the engine option registry
    (reference config.py get/set/reset semantics) and the word-aligned
    validator rejects unusable bit counts."""
    import pytest

    from pipit_spark.config import get_option, reset_option, set_option
    from pipit_spark.llm.pipeline import incremental_new_docs

    assert get_option("dedup.bloom_bits") == 1 << 20
    assert get_option("dedup.bloom_hashes") == 5
    with pytest.raises(ValueError, match="multiple of 64"):
        set_option("dedup.bloom_bits", 1000)
    try:
        set_option("dedup.bloom_bits", 1 << 10)
        set_option("dedup.bloom_hashes", 3)
        docs = spark.createDataFrame(
            [(1, "a doc"), (2, "a doc"), (3, "another")],
            "doc_id long, text string",
        )
        from pipit_spark.llm.text import fingerprint_expr

        seen = docs.filter("doc_id = 1").select(
            fingerprint_expr().alias("fingerprint")
        )
        out = sorted(
            r["doc_id"]
            for r in incremental_new_docs(docs, seen, method="bloom").collect()
        )
        assert out == [3]  # 1,2 share content already seen
    finally:
        reset_option("dedup.bloom_bits")
        reset_option("dedup.bloom_hashes")


def test_novelty_scores_semantics(spark):
    """An exact duplicate pair has zero novelty (every shingle shared);
    a fully unique doc scores 1.0; a half-copied doc sits between."""
    from pipit_spark.llm.text import novelty_scores

    shared = " ".join(f"s{i}" for i in range(20))
    docs = spark.createDataFrame(
        [
            (0, shared),
            (1, shared),                                     # dup of 0
            (2, " ".join(f"u{i}" for i in range(20))),       # unique
            (3, shared + " " + " ".join(f"v{i}" for i in range(20))),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in novelty_scores(docs, n=3).collect()}
    assert out[0]["novelty"] == 0.0 and out[1]["novelty"] == 0.0
    assert out[2]["novelty"] == 1.0
    assert 0.0 < out[3]["novelty"] < 1.0


def test_containment_asymmetric(spark):
    """A short doc quoted wholesale inside a long one: containment of
    the short side is 1.0 while the reverse direction is well below —
    exactly the asymmetry Jaccard flattens."""
    from pipit_spark.llm.dedup import containment_pairs, ngram_jaccard_pairs

    short = " ".join(f"q{i}" for i in range(10))
    long = short + " " + " ".join(f"x{i}" for i in range(40))
    docs = spark.createDataFrame(
        [(0, short), (1, long)], "doc_id long, text string"
    )
    out = {
        (r["contained"], r["container"]): r["containment"]
        for r in containment_pairs(docs, n=3, threshold=0.1).collect()
    }
    assert out[(0, 1)] == 1.0          # short fully inside long
    assert out[(1, 0)] < 0.25          # long barely contained in short
    jac = ngram_jaccard_pairs(docs, n=3, threshold=0.0).collect()
    assert jac and jac[0]["jaccard"] < 0.25  # Jaccard misses the quote


def test_containment_dominates_jaccard(spark):
    """For every pair, max-direction containment >= Jaccard (the union
    is at least as large as either set) — cross-checks the two
    operators built on the shared inverted-index plan."""
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).limit(200)
    from pipit_spark.llm.dedup import containment_pairs, ngram_jaccard_pairs

    jac = {
        (r["a"], r["b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, n=3, threshold=0.05).collect()
    }
    cont = {}
    for r in containment_pairs(docs, n=3, threshold=0.0).collect():
        key = tuple(sorted((r["contained"], r["container"])))
        cont[key] = max(cont.get(key, 0.0), r["containment"])
    assert jac, "fixture produced no qualifying pairs"
    for pair, j in jac.items():
        assert cont.get(pair, 0.0) >= j - 1e-6, (pair, j, cont.get(pair))


def test_incremental_near_dups_rejects_mode_mismatch(spark):
    """A portable-built index screened in fast mode is a hard error
    (the bucket formats cannot collide, so the join would silently
    match nothing)."""
    import pytest

    from pipit_spark.llm.dedup import build_lsh_index, incremental_near_dups

    corpus = spark.createDataFrame(
        [(i, " ".join(f"w{i}_{j}" for j in range(20))) for i in range(4)],
        "doc_id long, text string",
    )
    idx = build_lsh_index(corpus, portable=True)
    with pytest.raises(ValueError, match="portable: index=True"):
        incremental_near_dups(corpus.limit(1), idx, portable=False)

    # same rejection through the metadata-less data probe
    del idx.lsh_params
    with pytest.raises(ValueError, match="portable=True"):
        incremental_near_dups(corpus.limit(1), idx, portable=False)


def test_pattern_stats_counts(spark):
    """Hand-checkable counts: occurrences vs matching-doc distinction,
    null text counted as zero matches."""
    from pipit_spark.llm.quality import pattern_stats

    docs = spark.createDataFrame(
        [
            (0, "an apple and an orange", "a"),
            (1, "no vowel-starts here... well, one: ok", "a"),
            (2, None, "a"),
            (3, "plain xyz", "b"),
        ],
        "doc_id long, text string, source string",
    )
    out = {r["source"]: r for r in pattern_stats(
        docs, pattern=r"\bapple|\borange", per="source"
    ).collect()}
    assert out["a"]["n_docs"] == 3
    assert out["a"]["n_docs_matching"] == 1
    assert out["a"]["total_matches"] == 2
    assert out["b"]["total_matches"] == 0


# --------------------------------------------------------------------- #
# WARC / WET ingestion
# --------------------------------------------------------------------- #
def _wet_record(uri: str, text: str, rtype: str = "conversion") -> bytes:
    body = text.encode()
    return (
        "WARC/1.0\r\n"
        f"WARC-Type: {rtype}\r\n"
        f"WARC-Target-URI: {uri}\r\n"
        "WARC-Date: 2026-01-01T00:00:00Z\r\n"
        f"WARC-Record-ID: <urn:uuid:{abs(hash(uri))}>\r\n"
        f"Content-Length: {len(body)}\r\n\r\n"
    ).encode() + body + b"\r\n\r\n"


def test_read_wet_parses_plain_and_gz_shards(spark, tmp_path):
    import gzip

    from pipit_spark.llm.io import read_wet

    d = tmp_path / "wet"
    d.mkdir()
    (d / "seg-0.warc.wet").write_bytes(
        _wet_record("warcinfo://x", "crawler info", rtype="warcinfo")
        + _wet_record("http://a.example/", "hello world page A")
        + _wet_record("http://b.example/", "unicode é中")
    )
    (d / "seg-1.warc.wet.gz").write_bytes(
        gzip.compress(_wet_record("http://c.example/", "gz page C"))
    )
    rows = read_wet(spark, str(d)).orderBy("target_uri").collect()
    # warcinfo records are filtered; the gzip member is parsed
    assert [r["target_uri"] for r in rows] == [
        "http://a.example/", "http://b.example/", "http://c.example/"
    ]
    assert rows[1]["text"] == "unicode é中"
    assert rows[0]["content_length"] == len(b"hello world page A")
    assert rows[0]["warc_date"] == "2026-01-01T00:00:00Z"


def test_read_warc_http_split_and_truncation_tolerance(spark, tmp_path):
    from pipit_spark.llm.io import read_warc

    def resp(uri: str, body: bytes, ctype: str) -> bytes:
        http = (
            b"HTTP/1.1 200 OK\r\ncontent-type: "
            + ctype.encode() + b"\r\n\r\n" + body
        )
        return (
            "WARC/1.0\r\nWARC-Type: response\r\n"
            f"WARC-Target-URI: {uri}\r\n"
            f"Content-Length: {len(http)}\r\n\r\n"
        ).encode() + http + b"\r\n\r\n"

    d = tmp_path / "warc"
    d.mkdir()
    blob = resp("http://a.example/", b"<html>A</html>", "text/html")
    blob += resp("http://img.example/x.png", b"\x89PNGfake", "image/png")
    # torn tail record: Content-Length overruns the shard — the two
    # records before it must still parse
    blob += (
        b"WARC/1.0\r\nWARC-Type: response\r\nContent-Length: 999\r\n\r\nshort"
    )
    (d / "seg-0.warc").write_bytes(blob)
    rows = read_warc(spark, str(d)).orderBy("target_uri").collect()
    assert len(rows) == 2
    png = rows[1]
    assert png["http_status"] == 200
    assert png["http_content_type"] == "image/png"
    assert bytes(png["payload"]) == b"\x89PNGfake"
    assert png["n_bytes"] == len(b"\x89PNGfake")


# --------------------------------------------------------------------- #
# web-corpus preparation (llm/web.py)
# --------------------------------------------------------------------- #
def test_html_to_text_strips_subtrees_and_entities(spark):
    from pyspark.sql import functions as F

    from pipit_spark.llm.web import html_to_text_expr

    html = (
        "<html><head><title>T</title><style>p{color:red}</style></head>"
        "<body><h1>Header</h1><!-- secret --><p>Para &amp; one.</p>"
        '<script>var x = "<p>not text</p>";</script>'
        "<div>Block&nbsp;two &lt;tag&gt;</div><ul><li>item</li></ul>"
        "</body></html>"
    )
    df = spark.createDataFrame([(html,)], "raw string")
    out = df.select(html_to_text_expr(F.col("raw")).alias("t")).first()["t"]
    # script/style/head contents and comments never leak into the text
    for leak in ("not text", "color", "secret", "title", "T<"):
        assert leak not in out
    assert out == "Header\nPara & one.\nBlock two <tag>\nitem"


def test_url_features_and_domain_filtering(spark):
    from pipit_spark.llm.web import filter_domains, url_features

    u = spark.createDataFrame(
        [
            (1, "https://sub.spam.example/a/b/c?x=1"),
            (2, "http://good.org/"),
        ],
        "id long, url string",
    )
    m = {r["id"]: r for r in url_features(u).collect()}
    assert m[1]["url_host"] == "sub.spam.example"
    assert m[1]["url_domain"] == "spam.example"  # registrable, not host
    assert m[1]["url_path_depth"] == 3 and m[1]["url_has_query"]
    assert m[2]["url_path_depth"] == 0 and not m[2]["url_has_query"]

    bl = spark.createDataFrame([("spam.example",)], "domain string")
    assert [r["id"] for r in filter_domains(u, bl).collect()] == [2]
    assert [
        r["id"] for r in filter_domains(u, bl, mode="allow").collect()
    ] == [1]
    # helper columns must not leak into the output
    assert "url_domain" not in filter_domains(u, bl).columns
    import pytest as _pytest

    with _pytest.raises(ValueError):
        filter_domains(u, bl, mode="nope")


def test_warc_to_documents_bridge(spark, tmp_path):
    from pipit_spark.llm.io import read_warc
    from pipit_spark.llm.web import warc_to_documents

    def resp(uri, body, ctype, status=b"200 OK"):
        http = (
            b"HTTP/1.1 " + status + b"\r\ncontent-type: "
            + ctype.encode() + b"\r\n\r\n" + body
        )
        return (
            "WARC/1.0\r\nWARC-Type: response\r\n"
            f"WARC-Target-URI: {uri}\r\n"
            f"WARC-Record-ID: <urn:uuid:{abs(hash(uri))}>\r\n"
            f"Content-Length: {len(http)}\r\n\r\n"
        ).encode() + http + b"\r\n\r\n"

    d = tmp_path / "warc"
    d.mkdir()
    (d / "seg.warc").write_bytes(
        resp("http://a.example/", b"<p>Hello</p>", "text/html")
        + resp("http://nf.example/", b"<p>gone</p>", "text/html",
               status=b"404 Not Found")
        + resp("http://img.example/i.png", b"\x89PNG", "image/png")
    )
    docs = warc_to_documents(read_warc(spark, str(d))).collect()
    # 404s and non-HTML captures are dropped; text is extracted
    assert len(docs) == 1
    assert docs[0]["url"] == "http://a.example/"
    assert docs[0]["text"] == "Hello"
    assert docs[0]["doc_id"] is not None


# --------------------------------------------------------------------- #
# config-driven recipe runner (llm/recipe.py)
# --------------------------------------------------------------------- #
def test_recipe_matches_fused_clean_corpus(spark):
    from pipit_spark.llm.pipeline import clean_corpus
    from pipit_spark.llm.recipe import run_recipe

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    rec = [
        {"op": "lang_filter", "lang": "en"},
        {"op": "token_window", "min": 10, "max": 100_000},
        {"op": "quality_floor", "min_quality": 0.3},
        {"op": "exact_dedup"},
    ]
    got = {r["doc_id"] for r in run_recipe(docs, rec).select("doc_id").collect()}
    want = {r["doc_id"] for r in clean_corpus(docs).select("doc_id").collect()}
    # declaring the steps as config must not change the semantics of
    # the hand-fused pipeline (same expression factories under both)
    assert got == want and got
    # documents shape preserved through every non-terminal step
    assert set(run_recipe(docs, rec).columns) == set(docs.columns)


def test_recipe_terminal_pack_and_errors(spark):
    import pytest as _p

    from pipit_spark.llm.recipe import run_recipe

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    evals = docs.limit(3).select("doc_id", "text")
    packs = run_recipe(
        docs,
        [
            {"op": "c4_rules"},
            {"op": "pii_redact"},
            {"op": "decontaminate", "n": 5},
            {"op": "sample", "pct": 50},
            {"op": "pack", "context_len": 512, "n_shards": 4},
        ],
        eval_docs=evals,
    )
    assert set(packs.columns) == {
        "shard", "pack_in_shard", "n_docs", "total_tokens"
    }
    assert packs.count() > 0
    with _p.raises(ValueError, match="unknown recipe op"):
        run_recipe(docs, [{"op": "nope"}])
    with _p.raises(ValueError, match="terminal"):
        run_recipe(docs, [{"op": "pack"}, {"op": "sample"}])
    with _p.raises(ValueError, match="eval_docs"):
        run_recipe(docs, [{"op": "decontaminate"}])


def test_html_entities_no_double_decode(spark):
    from pyspark.sql import functions as F

    from pipit_spark.llm.web import html_to_text_expr

    # '&amp;lt;b&amp;gt;' renders as the literal text '&lt;b&gt;' — it
    # must NOT double-decode into markup-like '<b>'
    df = spark.createDataFrame([("<p>&amp;lt;b&amp;gt; and A&amp;B</p>",)], "raw string")
    out = df.select(html_to_text_expr(F.col("raw")).alias("t")).first()["t"]
    assert out == "&lt;b&gt; and A&B"


def test_filter_domains_preserves_caller_columns(spark):
    from pipit_spark.llm.web import filter_domains, url_features

    u = spark.createDataFrame(
        [(1, "https://spam.example/a"), (2, "http://good.org/")],
        "id long, url string",
    )
    # a caller who already materialized url_features keeps them intact
    feats = url_features(u)
    kept = filter_domains(
        feats, spark.createDataFrame([("spam.example",)], "domain string")
    )
    assert set(kept.columns) == set(feats.columns)
    row = kept.collect()[0]
    assert row["id"] == 2 and row["url_domain"] == "good.org"


def test_recipe_shuffle_keeps_docs_shape_and_typos_fail(spark):
    import pytest as _p

    from pipit_spark.llm.recipe import run_recipe

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = run_recipe(docs, [{"op": "shuffle", "seed": 3}])
    # shuffle ADDS order columns; the documents shape survives, so a
    # following text-based step still works
    assert set(docs.columns) <= set(out.columns)
    assert {"shard", "pos_in_shard"} <= set(out.columns)
    packs = run_recipe(
        docs, [{"op": "shuffle"}, {"op": "pack", "context_len": 512}]
    )
    assert packs.count() > 0
    # parameter typos on dict-driven steps fail at build time
    with _p.raises(ValueError, match="unknown parameter"):
        run_recipe(docs, [{"op": "quality_floor", "min_qality": 0.9}])
    with _p.raises(ValueError, match="unknown parameter"):
        run_recipe(docs, [{"op": "sample", "strata": "source"}])


def test_example_scripts_run(spark):
    """The examples/ walkthroughs must stay runnable — they are the
    switching user's on-ramp. Run their main() in-process against the
    session fixture (monkeypatching get_spark to avoid a second JVM)."""
    import runpy
    import sys
    from unittest import mock

    try:
        for script, argv in (
            ("examples/trace_analysis.py", ["tests/data/foo-bar.csv"]),
            ("examples/corpus_pipeline.py", ["/root/testdata/sf0.001"]),
        ):
            with mock.patch(
                "pipit_spark.session.get_spark", return_value=spark
            ), mock.patch.object(sys, "argv", [script] + argv):
                runpy.run_path(script, run_name="__main__")
    finally:
        # the examples persist Trace.matched internally; a leaked cache
        # entry would substitute (InMemoryTableScan) into OTHER tests'
        # structurally-identical plans and break the plan contracts
        spark.catalog.clearCache()


def test_dedup_urls_keeps_latest_capture(spark):
    from pipit_spark.llm.web import dedup_urls

    df = spark.createDataFrame(
        [
            ("http://a.example/", "2026-01-01T00:00:00Z", "r1", "old text"),
            ("http://a.example/", "2026-02-01T00:00:00Z", "r2", "new text"),
            # same-second recapture: record_id breaks the tie
            ("http://b.example/", "2026-01-01T00:00:00Z", "r3", "b v1"),
            ("http://b.example/", "2026-01-01T00:00:00Z", "r9", "b v2"),
        ],
        "url string, warc_date string, record_id string, text string",
    )
    out = {r["url"]: r for r in dedup_urls(df).collect()}
    assert len(out) == 2
    assert out["http://a.example/"]["text"] == "new text"
    assert out["http://b.example/"]["record_id"] == "r9"
    assert set(dedup_urls(df).columns) == set(df.columns)


def test_dedup_urls_null_urls_pass_through(spark):
    """WARC-Target-URI is optional; None-url rows are distinct captures
    and must NOT collapse into one keep-one group."""
    from pipit_spark.llm.web import dedup_urls

    df = spark.createDataFrame(
        [
            ("http://a.example/", "2026-01-01T00:00:00Z", "r1", "old"),
            ("http://a.example/", "2026-02-01T00:00:00Z", "r2", "new"),
            (None, "2026-01-01T00:00:00Z", "r3", "anon 1"),
            (None, "2026-03-01T00:00:00Z", "r4", "anon 2"),
        ],
        "url string, warc_date string, record_id string, text string",
    )
    out = dedup_urls(df).collect()
    assert len(out) == 3
    assert {r["record_id"] for r in out} == {"r2", "r3", "r4"}


def test_has_noindex_expr(spark):
    from pyspark.sql import functions as F

    from pipit_spark.llm.web import has_noindex_expr

    df = spark.createDataFrame(
        [
            (1, '<html><meta name="robots" content="noindex,nofollow">x'),
            (2, "<html><META CONTENT='noindex' NAME=robots>x"),
            (3, '<html><meta name="robots" content="index,follow">x'),
            (4, "<html>no meta at all</html>"),
        ],
        "id long, html string",
    )
    got = {
        r["id"]: r["ni"]
        for r in df.select("id", has_noindex_expr(F.col("html")).alias("ni")).collect()
    }
    assert got == {1: True, 2: True, 3: False, 4: False}
