"""Round-13 optimization pins.

1. clean_corpus keep-first dedup: min_by(struct) SortAggregate →
   order-preserving decimal(38,0) packed atom whose min hash-
   aggregates. Pinned: bit-equality against the min_by form on a
   corpus with case/whitespace duplicate variants (same fingerprint,
   different quality_score), and the HashAggregate plan contract.
2. match_messages / message_latency: single tagged scan + one
   exchange replace two window scans + joins. Pinned: value equality
   against the old two-window formulation (reconstructed inline) on
   traces with unmatched sends/recvs and empty channels, and plan
   contracts (no join in message_latency, no second window scan).
3. int64 surrogate keys for ngram/winnow pair paths (xxhash64 before
   the bucket exchange): plan pins that the exchanges carry longs.
"""
from __future__ import annotations

from pyspark.sql import functions as F

from pipit_spark import schema as S


# ---------------------------------------------- clean_corpus packed atom
def _dup_corpus(spark):
    """Duplicate variants share a fingerprint (case/whitespace-only
    edits) but differ in quality_score (punct ratio is computed on the
    RAW text), so the packed atom must carry the WINNER's score."""
    rows = [
        (3, "The quick brown fox jumps over the lazy dog again today", "en"),
        (7, "  The   QUICK brown fox jumps over the lazy dog again today ", "en"),
        (5, "THE QUICK BROWN FOX JUMPS OVER THE LAZY DOG AGAIN TODAY", "en"),
        (11, "a completely different document about the weather and the sea here", "en"),
        (2, "short doc", "en"),  # dropped by token window
        (9, "le chat et le chien dans la maison avec le pain et le vin", "fr"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_clean_corpus_packed_atom_bit_equality(spark):
    from pipit_spark.llm.pipeline import clean_corpus

    docs = _dup_corpus(spark)
    # min_quality lowered: the synthetic docs score ~0.22 on the
    # length/punct quality formula, and an empty survivor set would
    # vacuously pass the equality below
    got = {
        r["doc_id"]: r
        for r in clean_corpus(docs, min_tokens=5, min_quality=0.1).collect()
    }
    assert got, "test corpus must survive the filters"

    # min_by reference, reconstructed exactly as pre-r13
    from pipit_spark.llm.text import (
        fingerprint_expr, pred_lang_expr, stats_exprs as se_,
    )
    se = se_()
    keep = docs.select(
        "doc_id",
        se["n_tokens"].alias("n_tokens"),
        se["quality_score"].alias("quality_score"),
        pred_lang_expr().alias("pred_lang"),
        fingerprint_expr().alias("fingerprint"),
    ).filter(
        (F.col("pred_lang") == "en")
        & F.col("n_tokens").between(5, 100_000)
        & (F.col("quality_score") >= 0.1)
    )
    ref = {
        r["doc_id"]: r
        for r in keep.groupBy("fingerprint")
        .agg(
            F.min_by(
                F.struct("doc_id", "n_tokens", "quality_score"),
                F.col("doc_id"),
            ).alias("__r")
        )
        .select("__r.doc_id", "__r.n_tokens", "__r.quality_score")
        .collect()
    }
    assert set(got) == set(ref)
    assert 3 in got  # keep-first: doc 3 beats 5 and 7
    for k in got:
        assert got[k]["n_tokens"] == ref[k]["n_tokens"]
        # bit-exact double: the decode must reproduce round(q, 6)
        assert repr(got[k]["quality_score"]) == repr(ref[k]["quality_score"])


def test_clean_corpus_hash_aggregate_plan(spark):
    from pipit_spark.llm.pipeline import clean_corpus

    plan = clean_corpus(_dup_corpus(spark))._jdf.queryExecution() \
        .executedPlan().toString()
    assert "SortAggregate" not in plan
    assert "HashAggregate" in plan


# ------------------------------------- tagged-union channel operators
def _comm_events(spark):
    """Sends/recvs with unmatched tails and one recv-only channel."""
    rows = []
    eid = 0
    # channel (0 -> 1): 3 sends, 2 recvs (one unmatched send)
    for i in range(3):
        rows.append((0, 10 + i * 5, i, eid, "Instant", "MpiSend",
                     {"receiver": "1", "msg_length": str(100 + i)}))
        eid += 1
    for i in range(2):
        rows.append((1, 12 + i * 5, i, eid, "Instant", "MpiRecv",
                     {"sender": "0"}))
        eid += 1
    # channel (1 -> 0): 1 send, 1 recv
    rows.append((1, 40, 10, eid, "Instant", "MpiIsend",
                 {"receiver": "0", "msg_length": "7"})); eid += 1
    rows.append((0, 45, 11, eid, "Instant", "MpiIrecv",
                 {"sender": "1"})); eid += 1
    # recv-only channel (2 -> 0)
    rows.append((0, 50, 12, eid, "Instant", "MpiRecv",
                 {"sender": "2"})); eid += 1
    # non-comm rows are ignored
    rows.append((0, 1, 13, eid, "Enter", "main", None)); eid += 1
    rows.append((0, 99, 14, eid, "Leave", "main", None)); eid += 1
    return spark.createDataFrame(
        rows,
        f"{S.PROCESS} int, {S.TIMESTAMP} long, {S.SEQ} long, "
        f"{S.EVENT_ID} long, {S.EVENT_TYPE} string, {S.NAME} string, "
        f"{S.ATTRIBUTES} map<string,string>",
    )


def _old_match_messages(events):
    """The pre-r13 two-window + join formulation, verbatim."""
    from pyspark.sql import Window
    from pipit_spark.operators.comm import (
        _msg_length_col, _receiver_col, _sender_col,
    )

    inst = events.filter(F.col(S.EVENT_TYPE) == "Instant")
    sends = inst.filter(F.col(S.NAME).isin(*S.SEND_NAMES)).select(
        F.col(S.PROCESS).cast("int").alias("src"),
        _receiver_col(inst).alias("dst"),
        F.col(S.TIMESTAMP).alias("send_ts"),
        F.col(S.EVENT_ID).alias("send_event_id"),
        _msg_length_col(inst).cast("long").alias("msg_length"),
        F.col(S.SEQ).alias("__sq"),
    )
    recvs = inst.filter(F.col(S.NAME).isin(*S.RECV_NAMES)).select(
        _sender_col(inst).alias("src"),
        F.col(S.PROCESS).cast("int").alias("dst"),
        F.col(S.TIMESTAMP).alias("recv_ts"),
        F.col(S.EVENT_ID).alias("recv_event_id"),
        F.col(S.SEQ).alias("__sq"),
    )
    ws = Window.partitionBy("src", "dst").orderBy("send_ts", "__sq")
    wr = Window.partitionBy("src", "dst").orderBy("recv_ts", "__sq")
    s = sends.withColumn("n", F.row_number().over(ws)).drop("__sq")
    r = recvs.withColumn("n", F.row_number().over(wr)).drop("__sq")
    return s.join(r, ["src", "dst", "n"]).select(
        "src", "dst", "n", "send_event_id", "recv_event_id",
        "send_ts", "recv_ts",
        (F.col("recv_ts") - F.col("send_ts")).alias("latency_ns"),
        "msg_length",
    )


def test_match_messages_tagged_union_bit_equality(spark):
    from pipit_spark.operators.comm import match_messages

    ev = _comm_events(spark)
    got = sorted(map(tuple, match_messages(ev).collect()))
    ref = sorted(map(tuple, _old_match_messages(ev).collect()))
    assert got == ref
    assert len(got) == 3  # 2 on (0,1) + 1 on (1,0)


def test_message_latency_tagged_union_bit_equality(spark):
    from pipit_spark.operators.comm import message_latency

    ev = _comm_events(spark)
    pairs = _old_match_messages(ev)
    inst = ev.filter(F.col(S.EVENT_TYPE) == "Instant")
    side = (
        inst.filter(F.col(S.NAME).isin(*S.SEND_NAMES))
        .select(F.col(S.PROCESS).cast("int").alias("src"),
                F.element_at(F.col(S.ATTRIBUTES), "receiver").cast("int")
                .alias("dst"))
        .groupBy("src", "dst").agg(F.count(F.lit(1)).alias("n_sends"))
        .join(
            inst.filter(F.col(S.NAME).isin(*S.RECV_NAMES))
            .select(F.element_at(F.col(S.ATTRIBUTES), "sender").cast("int")
                    .alias("src"),
                    F.col(S.PROCESS).cast("int").alias("dst"))
            .groupBy("src", "dst").agg(F.count(F.lit(1)).alias("n_recvs")),
            ["src", "dst"], "full_outer",
        )
    )
    m = pairs.groupBy("src", "dst").agg(
        F.count(F.lit(1)).alias("n_matched"),
        F.sum("latency_ns").alias("total_latency_ns"),
        F.max("latency_ns").alias("max_latency_ns"),
        F.sum("msg_length").alias("total_bytes"),
    )
    ref = sorted(
        map(tuple, side.join(m, ["src", "dst"], "left").select(
            "src", "dst",
            F.coalesce("n_sends", F.lit(0)).alias("n_sends"),
            F.coalesce("n_recvs", F.lit(0)).alias("n_recvs"),
            F.coalesce("n_matched", F.lit(0)).alias("n_matched"),
            "total_latency_ns",
            (F.col("total_latency_ns").cast("double") / F.col("n_matched")
             ).alias("mean_latency_ns"),
            "max_latency_ns", "total_bytes",
        ).collect())
    )
    got = sorted(map(tuple, message_latency(ev).collect()))
    assert got == ref
    # unmatched-side semantics preserved: recv-only channel present,
    # latency sums NULL, counts zero-coalesced
    rec_only = [r for r in got if r[0] == 2]
    assert rec_only and rec_only[0][2] == 0 and rec_only[0][5] is None


def test_message_latency_single_scan_plan(spark):
    """Plan contract: no join left in message_latency (the old shape
    had a window join + a full-outer side join), and exactly one
    Window over the tagged union."""
    from pipit_spark.operators.comm import match_messages, message_latency

    ev = _comm_events(spark)
    plan = message_latency(ev)._jdf.queryExecution().optimizedPlan().toString()
    assert "Join" not in plan
    assert plan.count("Window") == 1
    mplan = match_messages(ev)._jdf.queryExecution().optimizedPlan().toString()
    assert "Join" not in mplan


# ------------------------------------------ int64 surrogate pair keys
def test_pair_paths_shuffle_long_keys(spark):
    """The ngram and winnow pair paths hash their bucket key to int64
    before the exchange: the optimized plans carry xxhash64 and no
    string-typed join key reaches the self-join."""
    from pipit_spark.llm.dedup import ngram_jaccard_pairs
    from pipit_spark.llm.text import winnow_pairs

    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog one two three"),
         (2, "the quick brown fox jumps over the lazy dog four five six"),
         (3, "completely different text body with other words inside it")],
        "doc_id long, text string",
    )
    # the analyzed plan is the right place to pin the surrogate: in the
    # optimized/executed plan the optimizer may fold xxhash64 into an
    # aggregate's result projection inside a cached relation, where
    # toString prints only the output attribute name (seen on the
    # winnow path: HashAggregate output [..., fingerprint#L] with the
    # hash in the unprinted result exprs)
    for frame in (ngram_jaccard_pairs(docs), winnow_pairs(docs)):
        plan = frame._jdf.queryExecution().analyzed().toString()
        assert "xxhash64" in plan
    # and the ngram bucket self-join key is long end to end
    nplan = (
        ngram_jaccard_pairs(docs)._jdf.queryExecution()
        .optimizedPlan().toString()
    )
    assert "xxhash64" in nplan
    spark.catalog.clearCache()


def test_ngram_jaccard_values_unchanged_by_hashing(spark):
    """Value pin: int64 shingles produce the same pairs/scores as the
    brute-force string-shingle computation."""
    from pipit_spark.llm.dedup import ngram_jaccard_pairs

    texts = {
        1: "a b c d e f g h i j",
        2: "a b c d e f g h i x",
        3: "z y x w v u t s r q",
        4: "a b c d e f g h i j",
    }
    docs = spark.createDataFrame(
        list(texts.items()), "doc_id long, text string"
    )

    def shingles(t, n=3):
        toks = t.split()
        return {
            " ".join(toks[i:i + n]) for i in range(max(len(toks) - n, 0) + 1)
        }

    got = {
        (r["a"], r["b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, threshold=0.1).collect()
    }
    exp = {}
    ids = sorted(texts)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            sa, sb = shingles(texts[a]), shingles(texts[b])
            j = len(sa & sb) / len(sa | sb)
            if j >= 0.1:
                exp[(a, b)] = round(j, 6)
    assert got == exp
    spark.catalog.clearCache()


# -------------------------------------------------- load() plan memo
def test_load_memo_shares_plan_within_pass(spark):
    """load() memoizes the canonicalized frame per (app, sf_dir, table)
    so one bench pass lists/reads each table's metadata once; the memo
    holds immutable PLANS (data is still scanned per execution) and
    clear_state() drops it, so every steady pass re-lists."""
    from pipit_spark import queries as Q

    sf = "/root/testdata/sf0.001"
    Q.clear_state(spark)
    a = Q.load(spark, sf, "documents")
    b = Q.load(spark, sf, "documents")
    assert a is b  # shared within a pass
    Q.clear_state(spark)
    c = Q.load(spark, sf, "documents")
    assert c is not a  # re-listed after the pass boundary
    # memoized plan still computes from the parquet inputs
    assert c.count() == a.count()
