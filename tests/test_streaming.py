"""Batch operators over Structured Streaming sources: parquet file
stream → the operator's own plan → memory sink (or foreachBatch),
driven to completion with availableNow (the incremental-backfill
trigger a 100 TB reprocessing job would use)."""

from __future__ import annotations

import pandas as pd


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

