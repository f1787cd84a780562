"""Physical-plan contracts for the flagship operators.

The perf work in this engine is encoded in plan *shapes* (PLANS.md):
one shuffle for the matching pass, join-free aggregation paths, filters
pushed to the parquet scan, no nested-loop joins on the big side. A
code change can silently regress a shape while every value-level test
stays green — these assertions make the shape itself part of the test
suite.

Plans are captured from ``explain("formatted")`` on the UNEXECUTED
DataFrame (the pre-AQE plan — what Catalyst committed to; AQE can only
improve it at runtime).
"""

from __future__ import annotations

import contextlib
import io

import pytest

from pyspark.sql import functions as F

from pipit_spark import queries as Q

SF_DIR = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def tree_of(df) -> str:
    """Just the operator tree (formatted explain repeats every node in
    the per-node detail section below the tree)."""
    return plan_of(df).split("\n\n")[0]


@pytest.fixture(scope="module")
def trace(spark):
    return Q.derived_trace(spark, SF_DIR)


def test_matching_pass_single_shuffle(spark):
    """The fused matching pass adds exactly one Exchange (the
    (process)-partitioning shuffle) and one Python stage on top of
    whatever plan produces the events frame. Asserted as a delta so the
    contract holds whether the input is a parquet scan, a derivation,
    or a cached relation."""
    from pipit_spark.operators.matching import match_events
    from pipit_spark.trace import Trace

    # a fresh CSV-sourced trace: no cached plan can substitute into it,
    # so the delta is deterministic regardless of test order
    t = Trace.from_csv(spark, "tests/data/foo-bar.csv")
    ev_tree = tree_of(t.events)
    m_tree = tree_of(match_events(t.events, metric_cols=t.numeric_cols))
    d_py = m_tree.count("MapInPandas") - ev_tree.count("MapInPandas")
    d_ex = m_tree.count("Exchange") - ev_tree.count("Exchange")
    assert d_py == 1, m_tree
    assert d_ex == 1, m_tree


def test_matching_drops_reader_parity_sort(spark, tmp_path, write_otf2_archive):
    """The matched plan over a binary reader's order="trace" frame keeps
    no trace of the reader's global sort: the matching pass's local sort
    above its hash exchange lets Catalyst eliminate it, so the plan has
    no range exchange (whose sampling job would parse the archive a
    second time), exactly one hash exchange and exactly one parse."""
    from pipit_spark.operators.matching import match_events
    from pipit_spark.sources.hpctoolkit import read_hpctoolkit
    from pipit_spark.sources.otf2_native import read_otf2_native
    from tools.synth_hpctoolkit import synthesize

    db = str(tmp_path / "db")
    synthesize(db, 4, 200)
    readers = {
        "otf2": read_otf2_native(
            spark, write_otf2_archive([30, 10, 0, 20]), order="trace"
        )[0],
        "hpctoolkit": read_hpctoolkit(spark, db, order="trace"),
    }
    for src, events in readers.items():
        plan = plan_of(match_events(events))
        tree = plan.split("\n\n")[0]
        assert "rangepartitioning" not in plan.lower(), (src, plan)
        assert tree.count("Exchange") == 1, (src, plan)
        assert "hashpartitioning" in plan, (src, plan)
        assert tree.count("MapInPandas") == 2, (src, plan)  # parse + kernel
        assert plan.count("Arguments: parse(") == 1, (src, plan)


def test_comm_matrix_no_join(trace):
    """comm_matrix is pure partial+final hash aggregation."""
    tree = tree_of(trace.comm_matrix())
    assert "Join" not in tree, tree
    assert tree.count("HashAggregate") >= 2


def test_flat_profile_no_join(trace):
    """The name-grouped flat profile uses the signed-contribution
    identity — no calc_exc join anywhere in the plan."""
    tree = tree_of(trace.flat_profile())
    assert "Join" not in tree, tree


def test_time_profile_no_nested_loop(trace):
    """Bin assignment is explode + broadcast equi-join on bin_idx —
    never a nested-loop theta-join over the big side."""
    tree = tree_of(trace.time_profile())
    assert "BroadcastNestedLoopJoin" not in tree, tree
    assert "BroadcastHashJoin" in tree


def test_small_driver_tables_are_local_relations(trace):
    """time_profile's bin table and folded_stacks' node->stack map are
    built from Arrow tables: JVM LocalRelations, so their scans and
    broadcasts start no Python-worker task. A Python-list
    createDataFrame would show as an ExistingRDD scan."""
    for df in (trace.time_profile(), trace.folded_stacks()):
        plan = plan_of(df)
        assert "ExistingRDD" not in plan and "LogicalRDD" not in plan, plan
        assert "LocalTableScan" in plan, plan


def test_reopened_checkpoint_profiles_scan_only_rollup(spark, tmp_path):
    """On a reopened derived checkpoint, flat_profile and idle_time read
    the _rollup sidecar and never the checkpoint's event files."""
    from pipit_spark.trace import Trace

    ck = str(tmp_path / "ck")
    Trace.from_csv(spark, "tests/data/foo-bar.csv").to_parquet(
        ck, include_derived=True
    )
    back = Trace.from_parquet(spark, ck)
    for df in (
        back.flat_profile(metrics=["time_inc", "time_exc"]),
        back.idle_time(),
    ):
        scans = [
            ln for ln in plan_of(df).splitlines()
            if ln.startswith("Location:")
        ]
        assert scans and all("/_rollup/" in ln for ln in scans), scans


def test_q6_scan_pushdown_and_pruning(spark):
    """Predicates reach the parquet reader and the scan reads only the
    referenced columns."""
    plan = plan_of(Q.queries()["q6_forecast_revenue"](spark, SF_DIR))
    assert "PushedFilters: [" in plan
    assert "l_shipdate" in plan.split("PushedFilters")[1].splitlines()[0]
    read_schema = plan.split("ReadSchema")[1].splitlines()[0]
    assert "l_orderkey" not in read_schema, read_schema


def test_q7_fact_filter_pushed(spark):
    """Q7's shipdate window is pushed below every join, onto the
    lineitem scan itself."""
    plan = plan_of(Q.queries()["q7_nation_volume"](spark, SF_DIR))
    pushed = [
        ln for ln in plan.splitlines() if "PushedFilters" in ln and "l_shipdate" in ln
    ]
    assert pushed, plan


def test_clean_corpus_single_scan(spark):
    """The fused cleaning pipeline reads the documents table exactly
    once (features evaluated in one projection, not joined)."""
    from pipit_spark.llm.pipeline import clean_corpus

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    tree = tree_of(clean_corpus(docs))
    assert tree.count("Scan parquet") == 1, tree
    assert "Join" not in tree, tree


def test_heuristic_filter_single_scan_no_join(spark):
    """The rule filter carries its one row-local feature through the
    explode instead of joining a second corpus scan to the repetition
    aggregate — one scan, two hash aggregations, no join."""
    from pipit_spark.llm.quality import heuristic_filter

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    tree = tree_of(heuristic_filter(docs))
    assert tree.count("Scan parquet") == 1, tree
    assert "Join" not in tree, tree


def test_percentile_outliers_broadcast(spark):
    """The per-group threshold table is tiny → the flagging pass must be
    a broadcast hash join; the fact table is never shuffled on the
    group key for the join."""
    from pipit_spark.operators.relational import percentile_outliers

    events = spark.read.parquet(f"{SF_DIR}/events.parquet")
    tree = tree_of(percentile_outliers(events))
    assert "BroadcastHashJoin" in tree, tree
    assert "SortMergeJoin" not in tree, tree


def test_bucketed_join_no_exchange(spark, tmp_path):
    """Two tables bucketed on the join key join with no Exchange on
    either side — the write-time shuffle is reused."""
    from pipit_spark.sinks.bucketed import read_table, write_bucketed

    spark.sql(
        f"CREATE DATABASE IF NOT EXISTS bkt LOCATION '{tmp_path}/bkt.db'"
    )
    try:
        orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
        lineitem = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        write_bucketed(orders, "bkt.orders_b", "o_orderkey", num_buckets=8)
        write_bucketed(
            lineitem.withColumnRenamed("l_orderkey", "o_orderkey"),
            "bkt.lineitem_b", "o_orderkey", num_buckets=8,
        )
        # disable auto-broadcast: at real scale neither fact side fits a
        # broadcast, which is exactly when bucketing pays — the contract
        # is that the sort-merge join runs with NO shuffle exchange
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = read_table(spark, "bkt.orders_b").join(
            read_table(spark, "bkt.lineitem_b"), "o_orderkey"
        )
        tree = tree_of(j)
        assert tree.count("Exchange") == 0, tree
        assert j.count() == lineitem.count()
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP DATABASE IF EXISTS bkt CASCADE")


def test_cluster_dedup_no_forced_broadcast(spark):
    """The loser set is pair-graph sized and unbounded, so cluster_dedup
    must not hint a broadcast — the physical join strategy is AQE's
    call. Guard: the optimized logical plan carries no broadcast hint
    from our code (plan text has no hint marker when the corpus-side
    anti-join is left unhinted)."""
    from pipit_spark.llm.dedup import cluster_dedup

    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in range(20)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (5, 6)], "src long, dst long"
    )
    out = cluster_dedup(docs, pairs.selectExpr("src as a", "dst as b"))
    assert "UnresolvedHint" not in out._jdf.queryExecution().logical().toString()
    assert "ResolvedHint" not in out._jdf.queryExecution().analyzed().toString()
    assert sorted(r.doc_id for r in out.collect()) == [0] + [3, 4, 5] + list(range(7, 20))


def test_vocab_coverage_broadcast_probe(spark):
    """The OOV probe joins the token stream against the bounded top-K
    vocab via broadcast — the corpus-side stream must never shuffle on
    the token key for the coverage pass (only the vocab-ranking agg and
    the tiny per-source agg exchange)."""
    from pipit_spark.llm.text import vocab_coverage

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    tree = tree_of(vocab_coverage(docs, top_k=100))
    assert "BroadcastHashJoin" in tree, tree
    assert "SortMergeJoin" not in tree, tree


def test_vocab_coverage_distributed_topk(spark):
    """The vocab cut compiles to TakeOrderedAndProject (distributed
    partial top-k), never a single-partition ranking-window sort over
    the distinct-token table."""
    from pipit_spark.llm.text import vocab_coverage

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    tree = tree_of(vocab_coverage(docs, top_k=100))
    assert "TakeOrderedAndProject" in tree, tree
    assert "Window" not in tree, tree


def test_bloom_incremental_single_pass(spark):
    """The bloom path is ONE anti-join with no Union: definite-new rows
    carry a NULL join key (never equi-matches), so no second branch —
    and therefore no double evaluation of the batch scan + probe."""
    from pipit_spark.llm.pipeline import incremental_new_docs
    from pipit_spark.llm.text import fingerprint_expr

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    seen = docs.filter("doc_id < 100").select(
        fingerprint_expr().alias("fingerprint")
    )
    import re

    tree = tree_of(incremental_new_docs(docs, seen, method="bloom"))
    assert "Union" not in tree, tree
    # exactly ONE join node of any kind ("Join" substring-counting would
    # double-count BroadcastHashJoin; match whole operator tokens)
    joins = re.findall(r"\b\w*Join\w*\b", tree)
    assert len(joins) == 1, (joins, tree)


def test_corpus_card_single_scan(spark):
    """The datasheet is ONE pass: a single parquet scan feeding a
    single aggregation (distinct counts via expand, not extra scans)."""
    from pipit_spark.llm.quality import corpus_card

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    tree = tree_of(corpus_card(docs))
    assert tree.count("Scan parquet") == 1, tree
    assert "Join" not in tree, tree


def test_message_latency_channel_windows_no_nested_loop(trace):
    """FIFO matching: both rank windows partition on the (src, dst)
    CHANNEL (|P|² key spread — a process-keyed window would serialize a
    hot rank's traffic), the pairing is an equi-join (sort-merge or
    hash, never a nested loop), and event bodies stay out of the
    shuffle (no `attributes` column above the scans)."""
    tree = tree_of(trace.message_latency())
    assert "hashpartitioning(src" in plan_of(trace.message_latency())
    assert "BroadcastNestedLoopJoin" not in tree
    assert "CartesianProduct" not in tree


def test_hamming_topk_broadcast_and_partial_topk(spark):
    """1-bit search: the 10 query codes broadcast (never the corpus),
    and WindowGroupLimit cuts each partition to k before the single
    query-keyed exchange."""
    from pipit_spark.llm.similarity import hamming_topk

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    tree = tree_of(hamming_topk(emb, k=5, query_max_id=10))
    assert "BroadcastExchange" in tree
    assert "WindowGroupLimit" in tree
    assert "CartesianProduct" not in tree


def test_bm25_term_filter_before_aggregation(spark):
    """The query-term isin cut must discard the exploded token stream
    BEFORE the tf aggregation's exchange — the plan property that makes
    bm25 cheaper per byte than tfidf."""
    from pipit_spark.llm.text import bm25_topk

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = plan_of(bm25_topk(docs, {"q": "fast table"}, k=3))
    # the IN-filter on the two query terms appears in a Filter node
    # (post-explode, pre-aggregation), not as a post-join filter
    assert "token" in plan and "IN (" in plan.replace("IN  (", "IN (")
    tree = tree_of(bm25_topk(docs, {"q": "fast table"}, k=3))
    assert "CartesianProduct" not in tree


def test_tfidf_no_window_over_token(spark):
    """df must come from hash aggregation (map-side combine on hot
    stopwords), never a COUNT() OVER (PARTITION BY token) window."""
    from pipit_spark.llm.text import tfidf_topk

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    tree = tree_of(tfidf_topk(docs, k=3, mode="ppm", persist=False))
    # exactly one Window (the per-doc rank), partitioned by doc_id
    assert tree.count("Window") - tree.count("WindowGroupLimit") <= 1
    assert "hashpartitioning(token" in plan_of(
        tfidf_topk(docs, k=3, mode="ppm", persist=False)
    )


def test_pagerank_iteration_shape(spark):
    """domain_pagerank: the rank update is hash-aggregate + equi-join
    work — no nested-loop join anywhere, and n rides a broadcast (one
    BroadcastExchange per iteration + one for the init)."""
    plan = plan_of(Q.queries()["web_pagerank"](spark, SF_DIR))
    tree = plan.split("\n\n")[0]
    assert "BroadcastNestedLoopJoin" in tree  # the 1-row n scalar only
    assert "CartesianProduct" not in tree
    # every non-scalar join is an equi-join (SortMerge or Hash)
    assert "SortMergeJoin" in tree or "ShuffledHashJoin" in tree \
        or "BroadcastHashJoin" in tree


def test_media_near_dups_no_cartesian(spark):
    """Pair generation is the pigeonhole block equi-join — never a
    cross product of the media table against itself."""
    tree = tree_of(Q.queries()["media_near_dups"](spark, SF_DIR))
    assert "CartesianProduct" not in tree, tree
    assert "BroadcastNestedLoopJoin" not in tree, tree


def test_decontaminate_embeddings_corpus_no_exchange(spark):
    """The eval side broadcasts; the corpus reaches the screen without
    an Exchange before the join (hit-id distinct + anti-join shuffle
    only the id sliver)."""
    plan = plan_of(Q.queries()["emb_decontaminate"](spark, SF_DIR))
    tree = plan.split("\n\n")[0]
    assert "BroadcastNestedLoopJoin" in tree  # eval side broadcast
    assert "CartesianProduct" not in tree
    # the screen's input scan is not preceded by an exchange: the only
    # exchanges shuffle the id sliver (distinct + anti join), which
    # never carry the embedding arrays
    import re
    assert tree.count("Exchange") <= 3, tree


def test_detect_licenses_single_scan_no_exchange(spark):
    """License classification is one projection over one scan — no
    join, no shuffle, no Python stage (pure when-chain + one
    regexp_extract)."""
    from pipit_spark.llm.quality import detect_licenses

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    tree = tree_of(detect_licenses(docs))
    assert tree.count("Scan parquet") == 1, tree
    assert "Join" not in tree, tree
    assert "Exchange" not in tree, tree
    assert "Python" not in tree, tree


def test_structure_stats_single_scan_no_exchange(spark):
    """Replace-arithmetic structural counts: one projection over one
    scan, nothing else."""
    from pipit_spark.llm.text import structure_stats

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    tree = tree_of(structure_stats(docs))
    assert tree.count("Scan parquet") == 1, tree
    assert "Join" not in tree, tree
    assert "Exchange" not in tree, tree


def test_license_mix_broadcast_total(spark):
    """The mix report's corpus-total scalar joins back as a 1-row
    broadcast — no sort-merge join, no second aggregate path over the
    big side."""
    from pipit_spark.llm.quality import license_mix

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    tree = tree_of(license_mix(docs))
    assert "BroadcastNestedLoopJoin" in tree or "BroadcastExchange" in tree, tree
    assert "SortMergeJoin" not in tree, tree


def test_licensed_pack_filter_below_window(spark):
    """Capstone shape: the license-policy filter runs in the scan
    projection BELOW the pack window's shard exchange — survivors are
    filtered before anything shuffles."""
    from pipit_spark.llm.quality import license_filter
    from pipit_spark.llm.sampling import pack_sequences

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    df = pack_sequences(
        license_filter(docs), context_len=512, n_shards=16
    )
    tree = tree_of(df)
    assert tree.count("Scan parquet") == 1, tree
    assert "Join" not in tree, tree
    # exactly the pack shuffles: shard hash exchange (+ the final agg
    # exchange); the filter itself must not add one
    assert tree.count("Exchange") <= 2, tree


def test_indexed_ann_candidate_joins_broadcast_query_side(spark):
    """Build-once/search-many contract (r06): in the indexed portable
    ANN searchers the CORPUS side (persisted band/cell tables) must
    never ride an Exchange to reach the candidate join — the bounded
    query batch re-enters as broadcast local frames. The scoring join
    on cid is left to AQE (broadcast at bounded candidate counts,
    shuffle at corpus-scale batches), but candidate GENERATION must be
    broadcast-shaped unconditionally."""
    from pipit_spark import queries as Q
    from pipit_spark.llm import similarity as V
    from pyspark.sql import functions as F

    prefix = Q.ensure_portable_ann_indexes(spark, SF_DIR)
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") % 25 == 0)

    for df, table in [
        (
            V.lsh_topk_portable_indexed(spark, f"{prefix}_lsh", qs, k=5),
            f"{prefix}_lsh_bands",
        ),
        (
            V.ivf_topk_portable_indexed(
                spark, f"{prefix}_ivf", qs, k=5, nprobe=3
            ),
            f"{prefix}_ivf_cells",
        ),
    ]:
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert table in plan, plan
        assert "BroadcastHashJoin" in plan, plan
        assert "CartesianProduct" not in plan, plan
        # the index scan feeds the candidate join directly: no
        # Exchange may sit between the FileScan of the index table
        # and its join (the broadcast side is the query frame)
        scan_at = plan.index(table)
        join_at = plan.rindex("BroadcastHashJoin", 0, scan_at)
        between = plan[join_at:scan_at]
        assert "Exchange hashpartitioning" not in between, between


def test_profile_lineitem_expand_excludes_key_columns(spark):
    """The reformed gate (r08): the multi-distinct aggregation still
    uses one Expand pass, but the ~|table|-cardinality columns
    (l_orderkey, l_extendedprice) are OUT of the distinct set — their
    re-inclusion would silently re-inflate the Expand factor and the
    shuffle by the two widest columns (11.7 s -> <4 s at sf0.1)."""
    df = Q.load(spark, SF_DIR, "lineitem")
    from pipit_spark.queries import _LINEITEM_NUMERIC, _LINEITEM_OTHER

    assert "l_orderkey" not in _LINEITEM_NUMERIC
    assert "l_extendedprice" not in _LINEITEM_NUMERIC
    from pipit_spark.operators.relational import profile_table

    # the aggregation's one-row result plan: count_distinct only over
    # the bounded subset (plan mentions each distinct column once)
    out = profile_table(df, _LINEITEM_NUMERIC + _LINEITEM_OTHER)
    assert out.count() == 9  # 6 numeric + 3 other


def test_kll_rank_check_shuffles_on_group_key_only(spark):
    """The KLL contract gate's plan: sketch aggregation + window rank +
    bracket join are ALL keyed by the group column — no nested-loop
    join, no cartesian, no corpus-wide collect."""
    from pipit_spark.llm.sketches import kll_rank_check

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    t = tree_of(kll_rank_check(docs))
    assert "CartesianProduct" not in t
    assert "BroadcastNestedLoopJoin" not in t


def test_nsight_renumber_broadcast_not_global_window(spark, tmp_path):
    """The r08 Nsight fix: the PID/TID dense renumber must reach the
    full frame via a BROADCAST join of the distinct-set rank table —
    never a window over the unpartitioned full frame (a one-task
    global sort at the 120M-event rung). The only window in the plan
    sits above the distinct aggregation (key-set-sized input)."""
    import pandas as pd

    from pipit_spark.sources.nsight import read_nsight

    csv = tmp_path / "r.csv"
    pd.DataFrame({
        "Name": ["k0", "k1"],
        "Start (ns)": [10, 20],
        "End (ns)": [15, 25],
        "PID": [1000, 1007],
        "TID": [1000, 1008],
    }).to_csv(csv, index=False)
    t = tree_of(read_nsight(spark, str(csv)))
    assert "BroadcastHashJoin" in t or "BroadcastExchange" in t
    # the unpivot side must not sort: any Sort belongs to the
    # distinct-ranks subtree, which sits under the broadcast exchange
    tree_lines = t.splitlines()
    bcast_idx = next(
        i for i, ln in enumerate(tree_lines) if "BroadcastExchange" in ln
    )
    sorts_outside = [
        ln for i, ln in enumerate(tree_lines)
        if "Sort" in ln and i < bcast_idx
    ]
    assert not sorts_outside, sorts_outside
