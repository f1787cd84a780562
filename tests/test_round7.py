"""Round-7 additions: persisted vec_col in the ANN index metadata and
the portable-tier cache release hook."""

from __future__ import annotations

import os
import shutil
from urllib.parse import urlparse

import pandas as pd
import pytest
from pyspark.sql import functions as F

from pipit_spark.llm import similarity as V


def _clean_tables(spark, *prefixes):
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    for t in prefixes:
        for suffix in ("_vecs", "_bands", "_cells", "__annmeta"):
            spark.sql(f"DROP TABLE IF EXISTS {t}{suffix}")
            shutil.rmtree(f"{wh}/{t}{suffix}", ignore_errors=True)


def test_index_persists_custom_vec_col(spark):
    """An index built with a non-default vector column must be
    appendable and searchable without re-stating the column: vec_col
    rides the __annmeta row (previously the appenders hardcoded
    'embedding' and would mis-read or crash)."""
    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .withColumnRenamed("embedding", "vec")
    )
    qs = emb.filter(F.col("vec_id") % 25 == 0)
    corpus = emb.filter(F.col("vec_id") % 25 != 0)
    half_a = corpus.filter(F.col("vec_id") % 2 == 0)
    half_b = corpus.filter(F.col("vec_id") % 2 == 1)

    _clean_tables(spark, "t_r7v_lsh", "t_r7v_full")
    V.save_lsh_topk_index(half_a, "t_r7v_lsh", num_buckets=4,
                          vec_col="vec")
    V.append_lsh_topk_index(half_b, "t_r7v_lsh")  # no vec_col arg
    V.save_lsh_topk_index(corpus, "t_r7v_full", num_buckets=4,
                          vec_col="vec")

    # searcher defaults its query-side column from the meta row too
    a = V.lsh_topk_portable_indexed(spark, "t_r7v_lsh", qs, k=5)
    b = V.lsh_topk_portable_indexed(spark, "t_r7v_full", qs, k=5)
    assert a.exceptAll(b).count() + b.exceptAll(a).count() == 0

    meta = V.refresh_annmeta(spark, "t_r7v_lsh")
    assert meta["vec_col"] == "vec"
    assert meta["n_vecs"] == corpus.count()


def test_release_portable_caches(spark):
    """The inline portable tiers persist corpus signatures / candidate
    pairs with no per-call unpersist (the result plan still needs
    them); release_portable_caches is the documented release point for
    long-running sessions and must actually drain the registry."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") < 3)
    corpus = emb.filter(F.col("vec_id") >= 3)
    V.release_portable_caches()
    out = V.lsh_topk_portable(corpus, qs, k=3)
    out.count()
    assert len(V._PORTABLE_PERSISTED) > 0
    cached = list(V._PORTABLE_PERSISTED)
    V.release_portable_caches()
    assert V._PORTABLE_PERSISTED == []
    assert all(not df.is_cached for df in cached)


def test_compressed_pq_exact_by_construction(spark):
    """The compressed-PQ gate's exactness claim, pinned directly: on
    the cluster-structured synth corpus a ksub=64 codebook (16x
    compressed vs float32) must encode with ZERO reconstruction error
    -- pq_train recovers every subvector verbatim (each cluster is a
    point mass covered by strided init at ksub=len(train)), which is
    what makes compressed ADC scoring equal brute-force cosine and
    lets the driver's value hash sit on the production code path."""
    import numpy as np

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    synth = V.synth_pq_embeddings(emb)
    cb = V.pq_train(synth, m=16, ksub=64, train_max_id=64)
    assert cb.ksub == 64  # genuinely compressed, not |train| codewords
    codes = {
        r["neighbor_id"]: r["codes"]
        for r in V.pq_encode(synth, cb).collect()
    }
    vecs = {
        r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
        for r in synth.collect()
    }
    for vid, code in codes.items():
        v = vecs[vid]
        v = v / np.linalg.norm(v)
        recon = np.concatenate(
            [cb.codebooks[j, code[j]] for j in range(cb.m)]
        )
        assert np.array_equal(recon, v), f"vec {vid} not bit-exact"


def test_synth_pq_norms_and_grid(spark):
    """Construction invariants the oracle's exactness rests on: every
    synth vector has L2 norm exactly 100.0 (so normalization is an
    exact float op) and every pairwise dot is an integer (so cosines
    sit exactly on the 1e-4 grid that rounded-order ranking needs)."""
    import numpy as np

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    rows = V.synth_pq_embeddings(emb).limit(100).collect()
    mat = np.asarray([r["embedding"] for r in rows], dtype=np.float64)
    assert np.array_equal(
        np.sqrt((mat * mat).sum(axis=1)), np.full(len(mat), 100.0)
    )
    dots = mat @ mat.T
    assert np.array_equal(dots, np.round(dots))


def test_kll_merge_equals_whole_within_rank_error(spark):
    """The KLL tier's contract: sketching two disjoint shards and
    merging must estimate the same quantiles as sketching the whole
    corpus, within KLL rank error (~1.65% one-sided at k=200; assert
    a generous 5% of true rank). Verifies the sublinear tier is
    actually mergeable -- the property that lets daily shard sketches
    roll up without re-scanning the corpus."""
    import numpy as np
    from pipit_spark.llm.sketches import (
        kll_merge,
        kll_quantiles,
        kll_token_sketch,
    )

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    whole = kll_quantiles(kll_token_sketch(docs)).collect()
    a = kll_token_sketch(docs.filter(F.col("doc_id") % 2 == 0))
    b = kll_token_sketch(docs.filter(F.col("doc_id") % 2 == 1))
    merged = kll_quantiles(kll_merge(a, b)).collect()

    # true per-group token-length distributions for rank checking
    from pipit_spark.llm.text import _tokens

    truth = {}
    for r in docs.select(
        F.col("source").alias("grp"),
        F.size(
            F.filter(
                _tokens(F.coalesce(F.col("text"), F.lit(""))),
                lambda t: F.length(t) > 0,
            )
        ).cast("long").alias("n_tokens"),
    ).collect():
        truth.setdefault(r["grp"], []).append(r["n_tokens"])

    wq = {r["grp"]: r for r in whole}
    assert set(wq) == set(truth)
    for row in merged:
        grp = row["grp"]
        vals = np.sort(np.array(truth[grp]))
        n = len(vals)
        assert row["n"] == n == wq[grp]["n"]
        for p in (25, 50, 75, 95):
            est = row[f"p{p}"]
            # with ties, the estimate occupies a rank INTERVAL in the
            # true distribution; the target rank must fall inside it
            # (plus the sketch's rank-error tolerance)
            lo = np.searchsorted(vals, est, side="left") / n
            hi = np.searchsorted(vals, est, side="right") / n
            tol = 0.05 + 1.0 / n
            assert lo - tol <= p / 100 <= hi + tol, (
                grp, p, est, lo, hi
            )


def test_stumpy_matches_numpy_fallback():
    """When stumpy IS available (public PyPI; absent in this
    container, so this skips here), its motif discovery must select
    the same top motif pair as the brute-force numpy fallback on the
    golden repeated-pattern series -- pinning that the fallback is a
    faithful stand-in, not a different algorithm (r06 verdict item 7;
    operators/patterns.py:detect_pattern chooses between them by
    import availability alone)."""
    stumpy = pytest.importorskip("stumpy")
    import numpy as np
    from pipit_spark.operators.patterns import _motifs_numpy

    # 4 repetitions of (100, 300, 50) with mild drift-free spacing --
    # the same shape the fallback golden test uses
    series = np.array(
        [100.0, 300.0, 50.0] * 4 + [997.0, 13.0, 450.0], dtype="float64"
    )
    m = 3
    fallback = _motifs_numpy(series, m)
    mp = stumpy.stump(series, m=m)
    dists, idxs = stumpy.motifs(series, mp[:, 0], max_motifs=1)
    stumpy_pair = {int(i) for i in np.atleast_1d(idxs[0]) if i >= 0}
    # both must pick windows that are repetitions of the planted
    # motif (starts at multiples of 3 within the repeated prefix)
    assert stumpy_pair <= {0, 3, 6, 9}
    assert set(fallback[:2]) <= {0, 3, 6, 9}


def test_minhash_lsh_max_bucket_drops_boilerplate(spark):
    """The LSH band join's boilerplate escape hatch: identical docs
    collide in one bucket per band and emit B^2/2 pairs; with
    max_bucket set, oversized buckets are counted first and dropped
    before the self-join, and pairs among DISTINCT near-dup docs are
    unaffected (they live in small buckets)."""
    from pipit_spark.llm.dedup import minhash_lsh_pairs

    base = [
        (i, f"unique document number {i} with its own words w{i}a w{i}b "
             f"w{i}c w{i}d w{i}e w{i}f")
        for i in range(20)
    ]
    near = [(100, "the quick brown fox jumps over the lazy dog today"),
            (101, "the quick brown fox jumps over the lazy dog tonight")]
    boiler = [(200 + i, "all rights reserved terms of service apply "
                        "subscribe now") for i in range(30)]
    docs = spark.createDataFrame(
        base + near + boiler, "doc_id long, text string"
    )
    uncapped = minhash_lsh_pairs(docs).collect()
    capped = minhash_lsh_pairs(docs, max_bucket=8).collect()
    boiler_pairs = {(r["a"], r["b"]) for r in uncapped
                    if r["a"] >= 200 and r["b"] >= 200}
    assert len(boiler_pairs) == 30 * 29 // 2  # quadratic blast exists
    capped_set = {(r["a"], r["b"]) for r in capped}
    assert not (capped_set & boiler_pairs)  # hatch removed it
    # the genuine near-dup pair survives the cap in both modes
    assert (100, 101) in {(r["a"], r["b"]) for r in uncapped}
    assert (100, 101) in capped_set


def test_projections_chunked_parse_bit_identical(spark, monkeypatch):
    """The shuffle-free reader parses PE logs in bounded chunks with
    carried state (seq offset + trailing-Computation repair at true
    EOF). Forcing a pathologically small chunk must reproduce the
    whole-file parse bit-for-bit on the reference's golden trace —
    every chunk boundary inside every PE file is exercised."""
    import os

    import pipit_spark.sources.projections as P

    ref = "/root/reference/pipit/tests/data/ping-pong-projections"
    if not os.path.isdir(ref):
        import pytest

        pytest.skip("reference golden traces unavailable")

    whole = P.read_projections(spark, ref).toPandas()
    monkeypatch.setattr(P, "_CHUNK_LINES", 7)
    chunked = P.read_projections(spark, ref).toPandas()

    key = ["process", "seq"]
    whole = whole.sort_values(key).reset_index(drop=True)
    chunked = chunked.sort_values(key).reset_index(drop=True)
    assert whole.drop(columns="attributes").equals(
        chunked.drop(columns="attributes")
    )
    assert [dict(a) if a is not None else None
            for a in whole.attributes] == [
        dict(a) if a is not None else None for a in chunked.attributes
    ]


def _chunk_bound_reads(monkeypatch, read):
    """(default-bound frame, 7-event-bound frame) of ``read()``, each
    sorted by event_id with attributes as JSON."""
    import pipit_spark.sources.packed as P

    def frame():
        pdf = read().withColumn("attributes", F.to_json("attributes")).toPandas()
        return pdf.sort_values("event_id").reset_index(drop=True)

    whole = frame()
    monkeypatch.setattr(P, "_CHUNK_EVENTS", 7)
    return whole, frame()


def test_otf2_chunked_parse_bit_identical(spark, monkeypatch,
                                          write_otf2_archive):
    """The Arrow-batched OTF2 reader flushes bounded event chunks; a
    pathologically small chunk must reproduce the default-chunk read
    bit-for-bit — uneven locations (one with no events) put a chunk
    boundary inside and across every location file."""
    from pipit_spark.sources.otf2_native import read_otf2_native

    frames = [0, 50, 4, 13, 1]
    archive = write_otf2_archive(frames)
    whole, chunked = _chunk_bound_reads(
        monkeypatch, lambda: read_otf2_native(spark, archive)[0]
    )
    assert len(whole) == 3 * sum(frames)
    pd.testing.assert_frame_equal(whole, chunked)


def test_hpctoolkit_chunked_parse_bit_identical(spark, monkeypatch, tmp_path):
    """The HPCToolkit reader flushes through the same bounded chunks: a
    7-event bound reproduces the default-bound read bit-for-bit on a
    synthetic 16-thread db."""
    from pipit_spark.sources.hpctoolkit import read_hpctoolkit
    from tools.synth_hpctoolkit import synthesize

    db = str(tmp_path / "db")
    synthesize(db, 16, 40)
    whole, chunked = _chunk_bound_reads(
        monkeypatch, lambda: read_hpctoolkit(spark, db, order="process")
    )
    assert len(whole) == 308
    pd.testing.assert_frame_equal(whole, chunked)


def test_stream_projections_incremental_matches_batch(spark, tmp_path):
    """Streaming ingest twin: PE logs landing across TWO availableNow
    catch-up runs (one file, then the second) produce exactly the
    batch reader's frame, and the sink checkpoint makes the second
    run ingest ONLY the new file (file-level exactly-once)."""
    import shutil

    from pipit_spark.sources.projections import (
        read_projections,
        stream_projections,
    )

    golden = "/root/reference/pipit/tests/data/ping-pong-projections"
    if not os.path.isdir(golden):
        pytest.skip("reference golden traces unavailable")

    live = tmp_path / "live"
    out = tmp_path / "events_parquet"
    ck = tmp_path / "ck"
    live.mkdir()
    shutil.copy(f"{golden}/pingpong.prj.sts", live)

    def catch_up():
        q = (
            stream_projections(spark, str(live))
            .writeStream.format("parquet")
            .option("path", str(out))
            .option("checkpointLocation", str(ck))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    shutil.copy(f"{golden}/pingpong.prj.0.log.gz", live)
    catch_up()
    n_first = spark.read.parquet(str(out)).count()

    shutil.copy(f"{golden}/pingpong.prj.1.log.gz", live)
    catch_up()

    streamed = spark.read.parquet(str(out)).toPandas()
    batch = read_projections(spark, golden).toPandas()

    assert n_first == (batch.process == 0).sum()  # only PE0 in run 1
    key = ["process", "seq"]
    streamed = streamed.sort_values(key).reset_index(drop=True)
    batch = batch.sort_values(key).reset_index(drop=True)
    assert streamed.drop(columns="attributes").equals(
        batch.drop(columns="attributes")
    )
    assert [dict(a) if a is not None else None
            for a in streamed.attributes] == [
        dict(a) if a is not None else None for a in batch.attributes
    ]


# ---- chunked-parse property test (Spark-free: drives the shared
# parse closure directly with a faked broadcast) -----------------------

def _proj_meta():
    return {
        "chares": {0: "Main"},
        "entries": {i: (f"work_{i}(Msg* m)", 0) for i in range(4)},
        "user_events": {7: "mark"},
        "user_stats": {},
        "num_perf_counts": 0,
        "num_pes": 4,
    }


def _whole_parse(files, meta):
    """Reference result: per-file whole parse with fixup + seq bases."""
    import pandas as pd

    from pipit_spark.sources import projections as P

    outs = []
    for fname, lines in files:
        m = __import__("re").search(r"\.(\d+)\.log", fname)
        pe = int(m.group(1)) if m else 0
        out = P._parse_pe_lines(pe, lines, meta, fixup=True)
        base = pe << 40
        out[P.S.SEQ] = pd.array(range(base, base + len(out)), dtype="int64")
        out[P.S.EVENT_ID] = out[P.S.SEQ]
        outs.append(out[[f.name for f in P._OUT_SCHEMA.fields]])
    return pd.concat(outs, ignore_index=True) if outs else None


_REC_LINES = [
    "6 {t}",                      # BEGIN_COMPUTATION
    "7 {t}",                      # END_COMPUTATION
    "1 0 {ep} {t} 5 1 64 {t}",    # CREATION
    "2 0 {ep} {t} 5 1 64 0 0",    # BEGIN_PROCESSING
    "3 0 {ep} {t} 5 1 64 0 0",    # END_PROCESSING
    "10 0 {t} 5 1 64",            # MESSAGE_RECV
    "14 {t} 0",                   # BEGIN_IDLE
    "15 {t} 0",                   # END_IDLE
    "13 7 {t} 9",                 # USER_EVENT
    "garbage line",               # junk the dispatch must skip
    "PROJECTIONS-RECORD 99",      # header-ish junk
]


from hypothesis import given, settings, strategies as st  # noqa: E402


@st.composite
def _proj_corpus(draw):
    n_files = draw(st.integers(1, 3))
    files = []
    for pe in range(n_files):
        n_lines = draw(st.integers(0, 40))
        lines = [
            _REC_LINES[draw(st.integers(0, len(_REC_LINES) - 1))].format(
                t=1000 + 3 * i, ep=draw(st.integers(0, 3))
            )
            for i in range(n_lines)
        ]
        files.append((f"synth.prj.{pe}.log.gz", lines))
    chunk = draw(st.integers(1, 50))
    # batch segmentation: cut the concatenated (file, line) stream at
    # arbitrary points, like Arrow batches would
    total = sum(len(ls) for _, ls in files)
    n_cuts = draw(st.integers(0, min(5, max(0, total - 1))))
    cuts = sorted(draw(
        st.lists(st.integers(1, max(1, total - 1)), min_size=n_cuts,
                 max_size=n_cuts, unique=True)
    )) if total > 1 else []
    return files, chunk, cuts


@settings(max_examples=120, deadline=None)
@given(_proj_corpus())
def test_chunked_parse_property(case):
    """For ANY record mix, ANY chunk size, and ANY Arrow-batch
    segmentation, the chunked streaming parse equals the whole-file
    parse (trailing repair included, seq bases per PE)."""
    import types

    import pandas as pd

    from pipit_spark.sources import projections as P

    files, chunk, cuts = case
    meta = _proj_meta()

    # fake broadcast + forced chunk size
    bmeta = types.SimpleNamespace(value=meta)
    orig = P._CHUNK_LINES
    P._CHUNK_LINES = chunk
    try:
        parse = P._make_parse_partition(bmeta)
        stream = [
            (fname, line) for fname, lines in files for line in lines
        ]
        bounds = [0] + cuts + [len(stream)]
        batches = []
        for s, e in zip(bounds, bounds[1:]):
            if e > s:
                seg = stream[s:e]
                batches.append(pd.DataFrame({
                    "value": [l for _, l in seg],
                    "__file": [f for f, _ in seg],
                }))
        got = list(parse(iter(batches)))
    finally:
        P._CHUNK_LINES = orig

    want = _whole_parse([(f, ls) for f, ls in files if ls], meta)
    if want is None or not len(want):
        assert not got or sum(len(g) for g in got) == 0
        return
    got_df = pd.concat(got, ignore_index=True)
    key = ["process", "seq"]
    got_df = got_df.sort_values(key).reset_index(drop=True)
    want = want.sort_values(key).reset_index(drop=True)
    assert got_df.drop(columns="attributes").equals(
        want.drop(columns="attributes")
    )
    assert [a for a in got_df.attributes] == [a for a in want.attributes]


def test_live_trace_pipeline_stream_ingest_plus_match(spark, tmp_path):
    """Capstone composition: a LIVE trace directory (PE logs landing
    across two availableNow runs) through stream_projections →
    streaming_match equals the batch pipeline's matched intervals —
    the end-to-end live-analysis path the reference has no counterpart
    for."""
    import shutil

    import pandas as pd

    from pipit_spark import Trace
    from pipit_spark.sources.projections import stream_projections
    from pipit_spark.streaming.matching import streaming_match

    golden = "/root/reference/pipit/tests/data/ping-pong-projections"
    if not os.path.isdir(golden):
        pytest.skip("reference golden traces unavailable")

    live = tmp_path / "live"
    out = tmp_path / "intervals"
    ck = tmp_path / "ck"
    live.mkdir()
    shutil.copy(f"{golden}/pingpong.prj.sts", live)

    def catch_up():
        q = (
            streaming_match(stream_projections(spark, str(live)))
            .writeStream.format("parquet")
            .option("path", str(out))
            .option("checkpointLocation", str(ck))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    shutil.copy(f"{golden}/pingpong.prj.0.log.gz", live)
    catch_up()
    shutil.copy(f"{golden}/pingpong.prj.1.log.gz", live)
    catch_up()

    streamed = spark.read.parquet(str(out)).toPandas()
    got = {
        (int(r.process), int(r.enter_event_id), int(r.leave_event_id),
         r.name, int(r.enter_ts), int(r.leave_ts))
        for r in streamed.itertuples(index=False)
    }

    batch = Trace.from_projections(spark, golden).matched.toPandas()
    enters = batch[(batch.event_type == "Enter")
                   & batch.matching_event_id.notna()]
    leaves = batch.set_index("event_id")
    want = set()
    for r in enters.itertuples():
        lid = int(r.matching_event_id)
        want.add((int(r.process), int(r.event_id), lid, r.name,
                  int(r.timestamp_ns),
                  int(leaves.loc[lid, "timestamp_ns"])))
    assert got == want and len(want) > 0


def test_histograms_on_message_free_trace(spark):
    """A trace with zero MPI messages must produce all-zero histograms
    (np.histogram([]) semantics: bins over [0,1]), not a float(None)
    crash — found running the comm ops on the synthetic Projections
    fixture, whose CREATION sends are not MPI messages."""
    import pandas as pd

    from pipit_spark.operators.comm import (
        comm_over_time,
        message_histogram,
    )
    from pipit_spark.schema import EVENT_SCHEMA

    ev = spark.createDataFrame(
        pd.DataFrame(
            [(0, 100, 0, "Enter", "main", 0, 0, None),
             (1, 900, 1, "Leave", "main", 0, 0, None)],
            columns=[f.name for f in EVENT_SCHEMA.fields],
        ),
        schema=EVENT_SCHEMA,
    )
    h = message_histogram(ev, bins=5).toPandas()
    assert len(h) == 5 and (h["count"] == 0).all()
    c = comm_over_time(ev, bins=4).toPandas()
    assert len(c) == 4 and (c["count"] == 0).all()
