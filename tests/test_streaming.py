"""Structured Streaming operator tests: canonical parquet batches →
file stream source → windowed/sessionized aggregations → memory sink,
driven to completion with availableNow (the incremental-backfill
trigger a 100 TB reprocessing job would use)."""

from __future__ import annotations

import pandas as pd
import pytest

from pyspark.sql import functions as F


@pytest.fixture()
def event_stream_dir(spark, tmp_path):
    """Two parquet 'micro-batches' of canonical events: 2 processes,
    sends at known second offsets."""
    from pipit_spark.schema import EVENT_SCHEMA

    def mk(rows):
        return pd.DataFrame(
            rows,
            columns=[
                "event_id", "timestamp_ns", "seq", "event_type",
                "name", "process", "thread", "attributes",
            ],
        )

    sec = 1_000_000_000
    batch1 = [
        (0, 1 * sec, 0, "Enter", "main", 0, 0, None),
        (1, 2 * sec, 1, "Instant", "MpiSend", 0, 0,
         {"receiver": "1", "msg_length": "100"}),
        (2, 3 * sec, 2, "Instant", "MpiSend", 0, 0,
         {"receiver": "1", "msg_length": "50"}),
        (3, 1 * sec, 0, "Enter", "main", 1, 0, None),
    ]
    batch2 = [
        (4, 12 * sec, 3, "Instant", "MpiSend", 0, 0,
         {"receiver": "1", "msg_length": "200"}),
        (5, 13 * sec, 4, "Leave", "main", 0, 0, None),
        (6, 60 * sec, 5, "Instant", "MpiSend", 1, 0,
         {"receiver": "0", "msg_length": "10"}),
        (7, 61 * sec, 6, "Leave", "main", 1, 0, None),
    ]
    d = tmp_path / "stream"
    d.mkdir()
    for i, rows in enumerate([batch1, batch2]):
        spark.createDataFrame(mk(rows), schema=EVENT_SCHEMA).coalesce(
            1
        ).write.mode("overwrite").parquet(str(d / f"batch{i}"))
    return d


def _run_to_memory(df, name, mode="complete"):
    # complete mode for deterministic tests: append mode would (rightly)
    # withhold windows the watermark hasn't finalized when the bounded
    # stream ends
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


def _read_stream(spark, event_stream_dir):
    from pipit_spark.schema import EVENT_SCHEMA

    return (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("recursiveFileLookup", "true")
        .parquet(str(event_stream_dir))
    )


def test_streaming_comm_over_time(spark, event_stream_dir):
    from pipit_spark.streaming.ops import streaming_comm_over_time

    ev = _read_stream(spark, event_stream_dir)
    out = streaming_comm_over_time(ev, window="10 seconds", output="size")
    _run_to_memory(out, "comm_windows")
    res = (
        spark.sql("select * from comm_windows")
        .orderBy("window_start")
        .toPandas()
    )
    # sends at t=2,3 (win 0-10: 150 bytes), t=12 (win 10-20: 200),
    # t=60 (win 60-70: 10)
    assert list(res.volume) == [150.0, 200.0, 10.0]


def test_streaming_comm_append_watermark(spark, event_stream_dir):
    """Append mode emits only watermark-finalized windows: the last send
    (t=60s) leaves the watermark at 61−30=31s, so window [60,70) stays
    open when the bounded stream ends — exactly the late-data contract."""
    from pipit_spark.streaming.ops import streaming_comm_over_time

    ev = _read_stream(spark, event_stream_dir)
    out = streaming_comm_over_time(
        ev, window="10 seconds", watermark="30 seconds", output="size"
    )
    _run_to_memory(out, "comm_append", mode="append")
    res = (
        spark.sql("select * from comm_append").orderBy("window_start").toPandas()
    )
    assert list(res.volume) == [150.0, 200.0]


def test_streaming_event_rates(spark, event_stream_dir):
    from pipit_spark.streaming.ops import streaming_event_rates

    ev = _read_stream(spark, event_stream_dir)
    out = streaming_event_rates(ev, window="10 seconds")
    _run_to_memory(out, "rates")
    res = spark.sql("select * from rates").toPandas()
    p0_w0 = res[(res.process == 0) & (res.window_start.astype("int64") == 0)]
    assert int(p0_w0.n_events.iloc[0]) == 3  # Enter + 2 sends in [0,10)
    assert int(p0_w0.n_enters.iloc[0]) == 1


def test_streaming_sessionize(spark, event_stream_dir):
    from pipit_spark.streaming.ops import streaming_sessionize

    ev = _read_stream(spark, event_stream_dir)
    out = streaming_sessionize(ev, gap="30 seconds")
    _run_to_memory(out, "sessions")
    res = spark.sql("select * from sessions").toPandas()
    # process 0: events at 1,2,3,12,13s → one session (gaps < 30s)
    # process 1: events at 1s and 60,61s → two sessions
    assert len(res[res.process == 0]) == 1
    assert int(res[res.process == 0].n_events.iloc[0]) == 5
    assert len(res[res.process == 1]) == 2


def test_streaming_stateful_matching(spark, tmp_path):
    """The open-Enter stack survives micro-batch boundaries: an Enter in
    batch 0 matches its Leave arriving in batch 1."""
    import pandas as pd
    from pipit_spark.schema import EVENT_SCHEMA
    from pipit_spark.streaming.matching import streaming_match

    cols = [
        "event_id", "timestamp_ns", "seq", "event_type",
        "name", "process", "thread", "attributes",
    ]
    batch0 = pd.DataFrame(
        [
            (0, 100, 0, "Enter", "main", 0, 0, None),
            (1, 200, 1, "Enter", "work", 0, 0, None),
            (2, 500, 2, "Leave", "work", 0, 0, None),
        ],
        columns=cols,
    )
    batch1 = pd.DataFrame(
        [
            (3, 600, 3, "Enter", "work", 0, 0, None),
            (4, 650, 4, "Leave", "work", 0, 0, None),
            (5, 900, 5, "Leave", "main", 0, 0, None),
        ],
        columns=cols,
    )
    d = tmp_path / "match_stream"
    d.mkdir()
    ckpt = tmp_path / "ckpt"
    for i, b in enumerate([batch0, batch1]):
        spark.createDataFrame(b, schema=EVENT_SCHEMA).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(d / f"b{i}"))

    stream = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("recursiveFileLookup", "true")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(d))
    )
    q = (
        streaming_match(stream)
        .writeStream.format("memory")
        .queryName("matched_stream")
        .outputMode("append")
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    res = (
        spark.sql("select * from matched_stream")
        .toPandas()
        .sort_values("enter_event_id")
        .reset_index(drop=True)
    )
    assert len(res) == 3
    main_row = res[res.name == "main"].iloc[0]
    # main's Enter (batch 0) matched by its Leave (batch 1) → state
    # crossed the micro-batch boundary
    assert main_row.enter_event_id == 0 and main_row.leave_event_id == 5
    assert main_row.time_inc == 800.0
    assert sorted(res[res.name == "work"].time_inc) == [50.0, 300.0]


def test_streaming_dedup(spark, tmp_path):
    """Replayed events (same event_id redelivered in a later batch within
    the watermark horizon) are emitted exactly once; distinct ids all
    survive."""
    import pandas as pd
    from pipit_spark.schema import EVENT_SCHEMA
    from pipit_spark.streaming.ops import streaming_dedup

    sec = 1_000_000_000
    cols = [
        "event_id", "timestamp_ns", "seq", "event_type",
        "name", "process", "thread", "attributes",
    ]
    batch1 = [
        (0, 1 * sec, 0, "Enter", "main", 0, 0, None),
        (1, 2 * sec, 1, "Enter", "foo", 0, 0, None),
    ]
    batch2 = [
        (1, 2 * sec, 1, "Enter", "foo", 0, 0, None),   # replay of id 1
        (2, 3 * sec, 2, "Leave", "foo", 0, 0, None),
    ]
    d = tmp_path / "dedup_stream"
    d.mkdir()
    for i, rows in enumerate([batch1, batch2]):
        spark.createDataFrame(
            pd.DataFrame(rows, columns=cols), schema=EVENT_SCHEMA
        ).coalesce(1).write.mode("overwrite").parquet(str(d / f"batch{i}"))

    ev = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("recursiveFileLookup", "true")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(d))
    )
    out = streaming_dedup(ev, keys=["event_id"], watermark="1 hour")
    _run_to_memory(out, "deduped", mode="append")
    res = spark.sql("select event_id from deduped").toPandas()
    assert sorted(res.event_id) == [0, 1, 2]


def test_streaming_clean_corpus(spark, tmp_path):
    """The live-ingest twin applies the same lang/length/quality rules
    as the batch pipeline and dedups by fingerprint across
    micro-batches within the watermark."""
    from datetime import datetime, timedelta

    from pipit_spark.streaming.ops import streaming_clean_corpus

    en = "the cat and the dog walked to the house of a friend and sat"
    schema = "doc_id long, text string, ingest_time timestamp"
    t0 = datetime(2026, 1, 1)
    t1 = t0 + timedelta(seconds=5)
    batch1 = [(0, en, t0), (2, "el la de que los " * 4, t0), (3, "the of", t0)]
    batch2 = [
        (1, en + " ", t1),  # whitespace dup of 0
        (4, "a road to the sea and the sun over it was long and warm", t1),
    ]
    d = tmp_path / "doc_stream"
    d.mkdir()
    for i, rows in enumerate([batch1, batch2]):
        spark.createDataFrame(rows, schema=schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(d / f"batch{i}"))

    docs = (
        spark.readStream.schema(schema)
        .option("recursiveFileLookup", "true")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(d))
    )
    out = streaming_clean_corpus(
        docs, min_tokens=10, min_quality=0.0, watermark="1 hour"
    )
    _run_to_memory(out, "clean_stream", mode="append")
    res = spark.sql("select doc_id from clean_stream").toPandas()
    # same survivors as the batch pipeline on the union of both batches
    assert sorted(res.doc_id) == [0, 4]


def test_streaming_model_scoring(spark, tmp_path):
    """score_documents' mapInPandas plumbing runs unchanged on a
    stream: file source → scored micro-batches → memory sink, scores
    identical to the batch path."""
    import pandas as pd

    from pipit_spark.llm.scoring import score_documents

    src = tmp_path / "docs_stream"
    src.mkdir()
    pdf = pd.DataFrame(
        {"doc_id": range(8), "text": [f"stream doc {i}" for i in range(8)]}
    )
    pdf.iloc[:4].to_parquet(src / "b1.parquet")
    pdf.iloc[4:].to_parquet(src / "b2.parquet")

    batch_docs = spark.createDataFrame(pdf)
    expected = {
        r["doc_id"]: r["model_score"]
        for r in score_documents(batch_docs).collect()
    }

    stream = spark.readStream.schema("doc_id long, text string").parquet(
        str(src)
    )
    out = score_documents(stream)
    _run_to_memory(out, "scored_stream", mode="append")
    got = {
        r["doc_id"]: r["model_score"]
        for r in spark.sql("SELECT * FROM scored_stream").collect()
    }
    assert got == expected


def test_streaming_decontaminate(spark, tmp_path):
    """decontaminate's broadcast-semi shape runs on a streaming corpus
    against a static eval set (complete-mode agg), matching the batch
    result."""
    import pandas as pd

    from pipit_spark.llm.dedup import decontaminate

    eval_docs = spark.createDataFrame(
        [(100, "the secret eval passage about unicorns and rainbows today")],
        "doc_id long, text string",
    )
    corpus = pd.DataFrame(
        {
            "doc_id": [0, 1, 2],
            "text": [
                "nothing in common with anything held out at all here",
                "includes the secret eval passage about unicorns and rainbows today verbatim",
                "another unrelated piece of text entirely on its own",
            ],
        }
    )
    src = tmp_path / "corpus_stream"
    src.mkdir()
    corpus.iloc[:2].to_parquet(src / "b1.parquet")
    corpus.iloc[2:].to_parquet(src / "b2.parquet")

    batch = {
        r["doc_id"]: r["n_contaminated_ngrams"]
        for r in decontaminate(spark.createDataFrame(corpus), eval_docs).collect()
    }
    stream = spark.readStream.schema("doc_id long, text string").parquet(
        str(src)
    )
    out = decontaminate(stream, eval_docs)
    _run_to_memory(out, "decon_stream", mode="complete")
    got = {
        r["doc_id"]: r["n_contaminated_ngrams"]
        for r in spark.sql("SELECT * FROM decon_stream").collect()
    }
    assert got == batch and set(got) == {1}


def test_streaming_ann_topk(spark, tmp_path):
    """Online retrieval twin: streamed query embeddings against the
    static replicated IVF index return the exact ivf_search results at
    nprobe=nlist (both exhaustive), rank for rank."""
    from pipit_spark.llm.similarity import ivf_build, ivf_search
    from pipit_spark.streaming.ops import streaming_ann_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    index = ivf_build(emb, nlist=4)
    queries = emb.filter(F.col("vec_id") < 6)
    expected = sorted(
        map(str, ivf_search(index, queries, k=5, nprobe=4).collect())
    )

    src = tmp_path / "qstream"
    src.mkdir()
    qp = queries.toPandas()
    qp.iloc[:3].to_parquet(src / "b1.parquet")
    qp.iloc[3:].to_parquet(src / "b2.parquet")
    stream = spark.readStream.schema(queries.schema).parquet(str(src))
    out = streaming_ann_topk(stream, index, k=5, nprobe=4)
    _run_to_memory(out, "ann_stream", mode="append")
    got = sorted(map(str, spark.sql("SELECT * FROM ann_stream").collect()))
    assert got == expected


def test_streaming_bpe_encode(spark, tmp_path):
    """apply_bpe's mapInPandas encoder runs unchanged on a stream,
    token-identical to the batch path."""
    import pandas as pd

    from pipit_spark.llm.bpe import train_bpe, apply_bpe

    pdf = pd.DataFrame(
        {
            "doc_id": range(6),
            "text": ["low lower lowest new newer wide"] * 3
            + ["widest low new wide"] * 3,
        }
    )
    docs = spark.createDataFrame(pdf)
    merges = train_bpe(docs, num_merges=8, checkpoint_every=4)
    expected = sorted(map(str, apply_bpe(docs, merges).collect()))

    src = tmp_path / "bpe_stream"
    src.mkdir()
    pdf.iloc[:3].to_parquet(src / "b1.parquet")
    pdf.iloc[3:].to_parquet(src / "b2.parquet")
    stream = spark.readStream.schema("doc_id long, text string").parquet(
        str(src)
    )
    out = apply_bpe(stream, merges)
    _run_to_memory(out, "bpe_stream_out", mode="append")
    got = sorted(
        map(str, spark.sql("SELECT * FROM bpe_stream_out").collect())
    )
    assert got == expected


def test_streaming_matching_randomized(spark, tmp_path):
    """Randomized differential: streaming_match over arbitrary
    micro-batch splits of random well-nested traces (3 processes × 2
    threads, interleaved in time) agrees pair-for-pair with the batch
    matching kernel — state is per (process, thread) location."""
    import random

    import pandas as pd

    from pipit_spark.operators.matching import match_events
    from pipit_spark.schema import EVENT_SCHEMA
    from pipit_spark.streaming.matching import streaming_match

    rng = random.Random(23)
    rows = []
    eid = 0
    for proc, thread in [(p, t) for p in range(3) for t in range(2)]:
        ts = 0
        stack = []
        seq = 0
        # random well-nested walk: push Enter / pop Leave
        for _ in range(40):
            ts += rng.randrange(1, 50)
            if stack and (len(stack) >= 4 or rng.random() < 0.45):
                name = stack.pop()
                rows.append((eid, ts, seq, "Leave", name, proc, thread, None))
            else:
                name = f"f{rng.randrange(5)}"
                stack.append(name)
                rows.append((eid, ts, seq, "Enter", name, proc, thread, None))
            eid += 1
            seq += 1
        while stack:  # close remaining frames
            ts += rng.randrange(1, 50)
            rows.append((eid, ts, seq, "Leave", stack.pop(), proc, thread, None))
            eid += 1
            seq += 1

    cols = [
        "event_id", "timestamp_ns", "seq", "event_type",
        "name", "process", "thread", "attributes",
    ]
    pdf = pd.DataFrame(rows, columns=cols)
    ev = spark.createDataFrame(pdf, schema=EVENT_SCHEMA)
    batch = (
        match_events(ev)
        .filter("event_type = 'Enter'")
        .select("event_id", "matching_event_id")
        .toPandas()
    )
    want = sorted(map(tuple, batch.dropna().astype(int).values.tolist()))

    # split into 3 arbitrary time-ordered micro-batches per process
    d = tmp_path / "rand_stream"
    d.mkdir()
    ckpt = tmp_path / "rand_ckpt"
    srt = pdf.sort_values(["timestamp_ns", "seq"]).reset_index(drop=True)
    cuts = [0, len(srt) // 3, 2 * len(srt) // 3, len(srt)]
    for i in range(3):
        spark.createDataFrame(
            srt.iloc[cuts[i]:cuts[i + 1]], schema=EVENT_SCHEMA
        ).coalesce(1).write.mode("overwrite").parquet(str(d / f"b{i}"))
    stream = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("recursiveFileLookup", "true")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(d))
    )
    q = (
        streaming_match(stream)
        .writeStream.format("memory")
        .queryName("rand_matched")
        .outputMode("append")
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = sorted(
        (int(r["enter_event_id"]), int(r["leave_event_id"]))
        for r in spark.sql("select * from rand_matched").collect()
    )
    assert got == want


def test_streaming_funnel_one_row_per_user(spark, tmp_path):
    """streaming_funnel over three micro-batches gives batch funnel's
    completions, one row per user: a user whose events go on after
    completing (a second full view→cart→buy run in a later batch) is
    not reported again, a funnel may complete across batches, and an
    out-of-order step does not count."""
    import pandas as pd
    from pyspark.sql import types as T

    from pipit_spark.operators.relational import funnel
    from pipit_spark.streaming.funnel import streaming_funnel

    steps = ["view", "cart", "buy"]
    batches = [
        [(1, "view", 1), (1, "cart", 2), (1, "buy", 3),
         (2, "view", 5), (3, "view", 1), (5, "view", 2), (5, "cart", 4)],
        [(1, "view", 10), (1, "cart", 11), (1, "buy", 12),
         (2, "cart", 6), (3, "buy", 2), (5, "buy", 9), (4, "view", 20)],
        [(2, "buy", 7), (2, "view", 8), (3, "cart", 3),
         (4, "cart", 21), (4, "buy", 22),
         (5, "view", 30), (5, "cart", 31), (5, "buy", 32)],
    ]
    schema = T.StructType([
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("ts", T.LongType()),
    ])
    d = tmp_path / "funnel_stream"
    d.mkdir()
    for i, rows in enumerate(batches):
        spark.createDataFrame(
            pd.DataFrame(rows, columns=schema.names), schema=schema
        ).coalesce(1).write.parquet(str(d / f"b{i}"))
    stream = (
        spark.readStream.schema(schema)
        .option("recursiveFileLookup", "true")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(d))
    )
    q = (
        streaming_funnel(stream, steps)
        .writeStream.format("memory")
        .queryName("funnel_done")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "funnel_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = sorted(
        (r["user_id"], r["completed_at"], r["started_at"], r["n_steps"])
        for r in spark.sql("select * from funnel_done").collect()
    )

    every = spark.createDataFrame(
        pd.DataFrame([r for b in batches for r in b], columns=schema.names),
        schema=schema,
    )
    want = sorted(
        (r["user_id"], r["t_step3"], r["t_step1"], 3)
        for r in funnel(every, steps).collect()
        if r["steps_completed"] == 3
    )
    assert want == [(1, 3, 1, 3), (2, 7, 5, 3), (4, 22, 20, 3), (5, 9, 2, 3)]
    assert got == want


def test_streaming_chunk_documents(spark, tmp_path):
    """chunk_documents is stateless (explode + slice), so the SAME
    operator runs unchanged on a file stream and matches the batch
    result — the live-chunking twin needs no separate code path."""
    import pandas as pd

    from pipit_spark.llm.sampling import chunk_documents

    src = tmp_path / "docs_stream"
    src.mkdir()
    pdf = pd.DataFrame(
        {
            "doc_id": range(6),
            "text": [" ".join(f"t{i}_{j}" for j in range(37)) for i in range(6)],
        }
    )
    pdf.iloc[:3].to_parquet(src / "b1.parquet")
    pdf.iloc[3:].to_parquet(src / "b2.parquet")

    expected = sorted(
        map(
            tuple,
            chunk_documents(
                spark.createDataFrame(pdf), chunk_tokens=16, overlap=4
            ).collect(),
        )
    )
    stream = spark.readStream.schema("doc_id long, text string").parquet(
        str(src)
    )
    out = chunk_documents(stream, chunk_tokens=16, overlap=4)
    _run_to_memory(out, "chunk_stream", mode="append")
    got = sorted(
        map(tuple, spark.sql("SELECT * FROM chunk_stream").collect())
    )
    assert got == expected


def test_streaming_incremental_ingestion_foreachbatch(spark, tmp_path):
    """The production pattern for live ingestion: foreachBatch applies
    incremental_new_docs(method='bloom') per micro-batch against the
    accumulated seen-set, then folds the survivors' fingerprints back
    in — cross-batch exactly-once on content, duplicates dropped
    whether they repeat within a batch or arrive in a later one."""
    import pandas as pd

    from pipit_spark.llm.pipeline import incremental_new_docs

    src = tmp_path / "docs_stream"
    src.mkdir()
    # batch 1: docs 0-3 (3 duplicates 0's text); batch 2: 4-7 (4 and 5
    # repeat batch-1 content, 6-7 are new)
    texts = {
        0: "alpha content", 1: "beta content", 2: "gamma content",
        3: "alpha content",            # in-batch dup of 0
        4: "beta content",             # cross-batch dup of 1
        5: "gamma content",            # cross-batch dup of 2
        6: "delta content", 7: "epsilon content",
    }
    pd.DataFrame(
        {"doc_id": range(4), "text": [texts[i] for i in range(4)]}
    ).to_parquet(src / "b1.parquet")

    seen = [spark.createDataFrame([], "fingerprint string")]
    kept: list[tuple] = []

    def handle(bdf, batch_id):
        survivors = incremental_new_docs(
            bdf, seen[0], method="bloom", bloom_bits=1 << 12, bloom_hashes=3
        ).collect()
        kept.extend((r["doc_id"], r["fingerprint"]) for r in survivors)
        if survivors:
            seen[0] = seen[0].unionByName(
                spark.createDataFrame(
                    [(r["fingerprint"],) for r in survivors],
                    "fingerprint string",
                )
            )

    stream = spark.readStream.schema("doc_id long, text string").parquet(
        str(src)
    )
    q = stream.writeStream.foreachBatch(handle).trigger(
        availableNow=True
    ).start()
    q.awaitTermination(120)

    pd.DataFrame(
        {"doc_id": range(4, 8), "text": [texts[i] for i in range(4, 8)]}
    ).to_parquet(src / "b2.parquet")
    q2 = stream.writeStream.foreachBatch(handle).trigger(
        availableNow=True
    ).start()
    q2.awaitTermination(120)

    got = sorted(d for d, _ in kept)
    # 0,1,2 from batch 1 (3 deduped in-batch); 6,7 from batch 2 — but
    # batch 2 reprocesses b1 without a checkpoint, so filter to ids ≥ 4
    # for the cross-batch half plus the batch-1 survivors
    assert set(got) >= {0, 1, 2, 6, 7}
    assert 3 not in got and 4 not in got and 5 not in got


def test_row_local_signatures_match_batch_index(spark):
    """minhash_sig_expr / band_key_expr produce bit-identical signatures
    and buckets to build_lsh_index in BOTH hash modes — the invariant
    that lets a stream join a batch-built index at all."""
    from pyspark.sql import functions as F

    from pipit_spark.llm.dedup import (
        band_key_expr, build_lsh_index, minhash_sig_expr,
    )

    docs = spark.createDataFrame(
        [(i, " ".join(f"w{i % 3}_{j}" for j in range(12))) for i in range(6)]
        + [(99, "")],
        "doc_id long, text string",
    )
    for portable in (False, True):
        idx = build_lsh_index(
            docs, num_hashes=8, bands=4, portable=portable, persist=False
        )
        batch = {
            (r["doc_id"], r["bucket"]): tuple(r["sig"])
            for r in idx.collect()
        }
        sig = minhash_sig_expr(F.col("text"), num_hashes=8, portable=portable)
        row_local = docs.select("doc_id", sig.alias("sig")).withColumn(
            "bucket",
            F.explode(
                F.array(
                    *[
                        band_key_expr(F.col("sig"), b, 2, portable)
                        for b in range(4)
                    ]
                )
            ),
        )
        local = {
            (r["doc_id"], r["bucket"]): tuple(r["sig"])
            for r in row_local.collect()
        }
        assert batch == local, f"portable={portable}"


def test_streaming_near_dup_screen(spark, tmp_path):
    """A document stream screened live against a static LSH index:
    near-duplicates of indexed docs are flagged with the same estimated
    Jaccard the batch screen computes; novel docs pass silently."""
    import pandas as pd

    from pipit_spark.llm.dedup import build_lsh_index, incremental_near_dups
    from pipit_spark.streaming.ops import streaming_near_dup_screen

    base = " ".join(f"tok{j}" for j in range(30))
    corpus = spark.createDataFrame(
        [(0, base), (1, " ".join(f"other{j}" for j in range(30)))],
        "doc_id long, text string",
    )
    idx = build_lsh_index(corpus, portable=True)

    batch_rows = [
        (100, base + " tok5 extra", "2026-01-01 00:00:01"),      # near-dup of 0
        (101, " ".join(f"fresh{j}" for j in range(30)),
         "2026-01-01 00:00:02"),                                  # novel
        (102, base, "2026-01-01 00:00:03"),                       # exact dup of 0
    ]
    src = tmp_path / "nd_stream"
    src.mkdir()
    pd.DataFrame(
        batch_rows, columns=["doc_id", "text", "ingest_time"]
    ).to_parquet(src / "b0.parquet", index=False)

    stream = (
        spark.readStream.schema(
            "doc_id long, text string, ingest_time string"
        )
        .parquet(str(src))
        .withColumn("ingest_time", F.col("ingest_time").cast("timestamp"))
    )
    out = streaming_near_dup_screen(
        stream, idx, threshold=0.5, portable=True
    )
    _run_to_memory(out, "nd_screen", mode="append")
    got = {
        (r["doc_id"], r["match_id"]): r["est_jaccard"]
        for r in spark.sql("SELECT * FROM nd_screen").collect()
    }
    assert (102, 0) in got and got[(102, 0)] == 1.0
    assert (100, 0) in got and got[(100, 0)] >= 0.5
    assert not any(d == 101 for d, _ in got)

    # agreement with the batch screen on the same batch
    batch_docs = spark.createDataFrame(
        [(d, t) for d, t, _ in batch_rows], "doc_id long, text string"
    )
    best = {
        (r["doc_id"], r["match_id"]): r["est_jaccard"]
        for r in incremental_near_dups(
            batch_docs, idx, threshold=0.5, portable=True
        ).collect()
    }
    # the stream emits every match; the batch keeps each doc's best —
    # best pairs must appear in the stream with identical estimates
    for pair, est in best.items():
        assert got[pair] == est

    # parameter mismatch is a driver-side hard error on the stream too
    import pytest

    with pytest.raises(ValueError, match="num_hashes: index=16"):
        streaming_near_dup_screen(stream, idx, num_hashes=8, portable=True)


# --------------------------------------------------------------------- #
# streaming WET ingestion
# --------------------------------------------------------------------- #
def test_read_wet_stream_incremental_shards(spark, tmp_path):
    import gzip

    from pipit_spark.llm.io import read_wet_stream

    def rec(uri, text):
        body = text.encode()
        return (
            "WARC/1.0\r\nWARC-Type: conversion\r\n"
            f"WARC-Target-URI: {uri}\r\n"
            f"Content-Length: {len(body)}\r\n\r\n"
        ).encode() + body + b"\r\n\r\n"

    d = tmp_path / "wet"
    d.mkdir()
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    (d / "seg-0.warc.wet").write_bytes(
        rec("http://a.example/", "page A") + rec("http://b.example/", "page B")
    )

    def run_once():
        # parquet sink: the recoverable-sink shape a real ingestion
        # job uses (memory sink can't resume from a checkpoint)
        q = (
            read_wet_stream(spark, str(d))
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    got = {
        r["target_uri"]: r["text"]
        for r in spark.read.parquet(out).collect()
    }
    assert got == {"http://a.example/": "page A", "http://b.example/": "page B"}

    # a new gz shard lands; resume from the checkpoint — only the new
    # shard is parsed (file-source exactly-once tracking), the earlier
    # rows are not duplicated in the sink
    (d / "seg-1.warc.wet.gz").write_bytes(
        gzip.compress(rec("http://c.example/", "page C"))
    )
    run_once()
    rows = spark.read.parquet(out).collect()
    assert len(rows) == 3
    assert {r["target_uri"] for r in rows} == {
        "http://a.example/", "http://b.example/", "http://c.example/"
    }


def test_streaming_match_messages_equals_batch(spark, tmp_path):
    """The live FIFO matcher must emit exactly the batch op's pairs,
    even when sends and their recvs land in DIFFERENT micro-batches
    (the pending queue carries across in state)."""
    import pandas as pd

    from pipit_spark import schema as S
    from pipit_spark.operators.comm import match_messages
    from pipit_spark.streaming.matching import streaming_match_messages

    rows = [
        # batch 0: two sends 0→1, one recv on 1 (one send stays pending)
        (1, 100, 1, "Instant", "MpiSend", 0, {"receiver": "1", "msg_length": "10"}),
        (2, 200, 2, "Instant", "MpiSend", 0, {"receiver": "1", "msg_length": "20"}),
        (3, 150, 1, "Instant", "MpiRecv", 1, {"sender": "0", "msg_length": "10"}),
        # a recv with no send yet — must wait in state for batch 1
        (4, 400, 2, "Instant", "MpiRecv", 0, {"sender": "1", "msg_length": "7"}),
    ]
    rows2 = [
        # batch 1: completes both pending messages
        (5, 290, 3, "Instant", "MpiRecv", 1, {"sender": "0", "msg_length": "20"}),
        (6, 500, 3, "Instant", "MpiSend", 1, {"receiver": "0", "msg_length": "7"}),
        # msg_length is OPTIONAL: a send without it must flow through
        # as NULL like the batch twin, not raise int(NaN) (the recv
        # rows make the pandas mlen column float64)
        (7, 600, 4, "Instant", "MpiSend", 2, {"receiver": "0"}),
        (8, 700, 4, "Instant", "MpiRecv", 0, {"sender": "2"}),
    ]
    cols = [
        S.EVENT_ID, S.TIMESTAMP, S.SEQ, S.EVENT_TYPE, S.NAME,
        S.PROCESS, "thread", S.ATTRIBUTES,
    ]
    d = tmp_path / "stream"
    d.mkdir()
    from pipit_spark.schema import EVENT_SCHEMA

    for i, batch in enumerate((rows, rows2)):
        pdf = pd.DataFrame(
            [(e, t, q, et, nm, p, 0, a) for (e, t, q, et, nm, p, a) in batch],
            columns=cols,
        )
        spark.createDataFrame(pdf, schema=EVENT_SCHEMA).repartition(
            1
        ).write.mode("overwrite").parquet(str(d / f"batch{i}"))

    stream = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("recursiveFileLookup", "true")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    q = (
        streaming_match_messages(stream)
        .writeStream.format("memory")
        .queryName("live_msgs")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["src"], r["dst"], r["n"]): (
            r["send_event_id"], r["recv_event_id"], r["latency_ns"],
            r["msg_length"],
        )
        for r in spark.sql("SELECT * FROM live_msgs").collect()
    }
    batch_df = spark.createDataFrame(
        pd.DataFrame(
            [(e, t, q_, et, nm, p, 0, a) for (e, t, q_, et, nm, p, a) in rows + rows2],
            columns=cols,
        ),
        schema=EVENT_SCHEMA,
    )
    want = {
        (r["src"], r["dst"], r["n"]): (
            r["send_event_id"], r["recv_event_id"], r["latency_ns"],
            r["msg_length"],
        )
        for r in match_messages(batch_df).collect()
    }
    assert got == want and len(got) == 4
    assert got[(2, 0, 1)][3] is None  # missing msg_length → NULL


def test_streaming_cms_matches_batch(spark, tmp_path):
    """Windowed CMS cells off a stream: merging the per-window
    sketches reproduces the batch sketch of the full corpus cell for
    cell (same portable _cell hashing on both paths)."""
    from datetime import datetime, timedelta

    from pipit_spark.llm.sketches import cms_build, merge_cms
    from pipit_spark.streaming.ops import streaming_cms_cells

    schema = "doc_id long, text string, ingest_time timestamp"
    t0 = datetime(2026, 1, 1)
    t1 = t0 + timedelta(minutes=1, seconds=1)  # second window
    rows = [(0, "a a b", t0), (1, "a c", t0), (2, "b c c", t1)]
    d = tmp_path / "cms_stream"
    d.mkdir()
    for i, chunk in enumerate([rows[:2], rows[2:]]):
        spark.createDataFrame(chunk, schema=schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(d / f"batch{i}"))
    docs = (
        spark.readStream.schema(schema)
        .option("recursiveFileLookup", "true")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(d))
    )
    W, D_ = 32, 3
    out = streaming_cms_cells(docs, width=W, depth=D_)
    _run_to_memory(out, "cms_stream_tbl", mode="complete")
    got = spark.sql(
        "select win_start, row, col, cnt from cms_stream_tbl"
    )
    assert got.select("win_start").distinct().count() == 2
    merged = merge_cms(got.select("row", "col", "cnt"))
    batch = cms_build(
        spark.createDataFrame(rows, schema=schema), width=W, depth=D_
    )
    diff = (
        merged.withColumnRenamed("cnt", "m")
        .join(batch, ["row", "col"], "full")
        .filter(
            F.coalesce(F.col("m"), F.lit(0))
            != F.coalesce(F.col("cnt"), F.lit(0))
        )
        .count()
    )
    assert diff == 0
