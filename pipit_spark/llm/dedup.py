"""Deduplication operators for training-data pipelines.

Four families, each expressed as shuffle-conscious DataFrame plans:

* exact      — hash-groupBy on a content fingerprint (one shuffle).
* minhash+LSH— shingle → per-seed min-hash signature → band → bucket
               join. Hashes are md5 hex strings (lexicographic min), so
               the DuckDB oracle computes bit-identical signatures.
* n-gram Jaccard — inverted shingle index self-join; intersection
               counts vs union from per-doc sizes.
* simhash    — 64-bit weighted bit-vote over token hashes, computed
               with JVM higher-order functions (zip_with fold), no
               Python in the loop.

Scale notes: candidate generation is always *bucketed* (band hash or
shared shingle) before any pairwise work — the all-pairs cross join
never materializes. AQE handles hot buckets (stop-word shingles are
pre-filtered by document-frequency cap).
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame, functions as F

from .text import _norm, _tokens


# ---------------------------------------------------------------- exact
def exact_duplicates(docs: DataFrame) -> DataFrame:
    """Groups of byte-identical (after whitespace-normalization)
    documents: fingerprint → (representative=min doc_id, n_dups)."""
    fp = docs.select(
        "doc_id", F.md5(F.lower(_norm(F.col("text")))).alias("fingerprint")
    )
    return (
        fp.groupBy("fingerprint")
        .agg(
            F.min("doc_id").alias("representative"),
            F.count(F.lit(1)).alias("n_docs"),
        )
        .filter(F.col("n_docs") > 1)
    )


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Keep one representative (min doc_id) per fingerprint group.

    Null text coalesces to '' before fingerprinting: md5(NULL) is NULL,
    and a NULL fingerprint never equi-joins — null-text rows would
    silently vanish from the output instead of deduping with the other
    content-empty documents."""
    w_fp = docs.withColumn(
        "__fp", F.md5(F.lower(F.coalesce(_norm(F.col("text")), F.lit(""))))
    )
    keep = w_fp.groupBy("__fp").agg(F.min("doc_id").alias("doc_id"))
    return w_fp.join(keep, ["__fp", "doc_id"]).drop("__fp")


def embedding_dedup(
    docs: DataFrame,
    emb: DataFrame,
    threshold: float = 0.95,
    vec_col: str = "embedding",
    method: str = "lsh",
    num_planes: int = 4,
    num_tables: int = 8,
) -> DataFrame:
    """Keep-first near-dup removal by embedding cosine: a document is
    dropped when any LOWER-id document's embedding has cosine ≥
    ``threshold`` with its own (``doc_id`` keys ``emb.vec_id``).

    This is the semantic-dedup step of a training-data pipeline.
    ``method`` picks the candidate generator; the drop side is a set of
    ids either way, so the anti-join shape is identical:

    - ``"lsh"`` (default, the 100 TB path): banded random-hyperplane
      LSH (:func:`pipit_spark.llm.similarity.lsh_ann_pairs`) — only
      same-bucket pairs are scored; recall 1-(1-p^b)^T, ≈1 for the
      near-identical pairs dedup targets at the default 4 planes × 8
      tables.
    - ``"exact"``: brute-force cosine join
      (:func:`pipit_spark.llm.similarity.cosine_pairs`) — quadratic;
      the correctness baseline and the oracle gate's path, opt-in only.
    """
    from .similarity import cosine_pairs, lsh_ann_pairs

    if method == "exact":
        pairs = cosine_pairs(emb, threshold=threshold, vec_col=vec_col)
    elif method == "lsh":
        pairs = lsh_ann_pairs(
            emb,
            num_planes=num_planes,
            num_tables=num_tables,
            threshold=threshold,
            vec_col=vec_col,
        )
    else:
        raise ValueError(f"unknown method: {method!r} (use 'lsh' or 'exact')")
    drops = pairs.select(F.col("b").alias("doc_id")).distinct()
    return docs.join(drops, "doc_id", "left_anti")


# ------------------------------------------------------------- shingles
def shingle_table(
    docs: DataFrame, n: int = 3, distinct: bool = True,
    keep_pos: bool = False,
) -> DataFrame:
    """(doc_id, shingle) rows — word n-grams per document, distinct by
    default.

    Flat formulation: explode the shingle START positions
    (1..max(len−n,0)+1, matching the oracle's
    ``range(0, greatest(len-n,0)+1)``), then ``slice`` the carried token
    array at each position. ``slice``/``concat_ws`` are ordinary codegen
    expressions — unlike the ``transform`` HOF lambda, which evaluates
    interpreted at ~13µs/shingle — and unlike the earlier
    posexplode + window-lead formulation this needs NO exchange or sort
    before the dedup: the only shuffle is the final distinct, whose
    map-side partial aggregation absorbs most duplicate shingles before
    they hit the wire. A short document's final shingle truncates to the
    available tokens (slice past the end), same as the oracle.

    ``distinct=False`` skips the dedup shuffle entirely — the right
    call when the consumer is duplicate-invariant (MIN aggregations,
    ``count_distinct``, post-filter dedup): the whole shingle stream
    then stays narrow from scan to consumer.

    ``keep_pos=True`` additionally carries the 1-based start position
    ``p`` (positional consumers like repeated-span removal); positions
    are unique per doc, so it implies the non-distinct stream."""
    # No spread_input here: unlike winnowing/all-pairs cosine, the
    # map-side per-shingle hashing is a single bounded pass, and every
    # consumer (minhash mins, df counts, banding) takes its real
    # parallelism from its own explode→groupBy exchange — A/B at sf0.1
    # shows repartitioning the raw text costs more than it saves
    # (minhash 0.28 s→0.67 s, decontaminate 0.46 s→0.74 s).
    toked = docs.select("doc_id", _tokens(F.col("text")).alias("toks"))
    pos = toked.select(
        "doc_id",
        "toks",
        F.explode(
            F.sequence(F.lit(1), F.greatest(F.size("toks") - n + 1, F.lit(1)))
        ).alias("p"),
    )
    cols = ["doc_id"] + (["p"] if keep_pos else [])
    out = pos.select(
        *cols,
        F.concat_ws(" ", F.slice("toks", F.col("p"), F.lit(n))).alias("shingle"),
    )
    if keep_pos:
        return out
    return out.dropDuplicates(["doc_id", "shingle"]) if distinct else out


def _pair_common_counts(
    docs: DataFrame,
    n: int,
    max_df: int,
) -> DataFrame:
    """The shared bucketed inverted-index plan behind every set-overlap
    pair operator: distinct shingles per doc with set sizes riding the
    group keys, df-capped posting lists, intra-bucket pair explosion,
    and the per-pair intersection count. Returns
    ``(a, b, sz_a, sz_b, common)`` with a < b. ONE place owns this plan
    so Jaccard and containment cannot drift.

    The df cap is applied COUNT-FIRST: a count aggregation (map-side
    combine absorbs hot keys) finds the surviving shingles, and only
    their rows reach the posting-list collection — so no aggregation
    buffer ever holds more than ``max_df`` entries. Collecting first
    and size-filtering after would buffer a stop-shingle's ENTIRE
    posting list (corpus-scale for "of the and" at 1e9 docs) in one
    task before the filter discards it. The shingle stream feeds both
    the count and the join probe, so the compact PER-DOC set frame
    caches spill-safely — one row per doc, far cheaper to materialize
    than the exploded shingle stream, which both branches re-derive
    with an in-memory explode — until :func:`release_block_caches` (or
    ``queries.clear_state``) unpersists it.
    The count-first shuffle plan, whose exchanges are map-side combined
    down to one row per distinct shingle, is the shape that survives
    corpus growth: the surviving set (df ∈ [2, max_df]) grows with the
    corpus, so it is never broadcast."""
    from pyspark import StorageLevel

    sets = (
        docs.select("doc_id", _tokens(F.col("text")).alias("toks"))
        .select(
            "doc_id",
            F.explode(
                F.sequence(
                    F.lit(1), F.greatest(F.size("toks") - n + 1, F.lit(1))
                )
            ).alias("p"),
            "toks",
        )
        .select(
            "doc_id",
            # int64 shingle surrogate (r13, guide §2.3 "narrower
            # types"): every downstream consumer — per-doc set sizes,
            # the df count, the bucket self-join — only needs shingle
            # EQUALITY, never the text, so the 64-bit xxhash is a
            # drop-in key: the collect_set buffer holds 8-byte longs
            # instead of ~25-byte strings, the bucket exchange moves
            # longs, and the self-join compares longs. Set sizes,
            # df counts and intersection counts are identical to the
            # string form absent a 64-bit collision (~1e6 distinct
            # shingles at sf0.1 → P(collision) ≈ 3e-8; the six
            # consumer gates stay oracle-green).
            F.xxhash64(
                F.concat_ws(" ", F.slice("toks", F.col("p"), F.lit(n)))
            ).alias("shingle"),
        )
        .groupBy("doc_id")
        .agg(F.collect_set("shingle").alias("__set"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    _PERSISTED_BLOCKS.append(sets)
    sh = sets.select(
        "doc_id",
        F.size("__set").alias("sz"),
        F.explode("__set").alias("shingle"),
    )
    surviving = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df").between(2, max_df))
        .select("shingle")
    )
    # post-filter, every shingle has <= max_df rows — the pair
    # explosion is bounded by construction
    # intra-bucket pairs via a streaming SELF-JOIN on the bucket key
    # (r12; the r11 simhash reform's shape): the old
    # collect_list-of-(doc_id,sz) + double-explode buffered each
    # posting list in an ObjectHashAggregate (object-based, no
    # codegen) before exploding |bucket|² rows and filtering half.
    # The self-join emits the same a<b pairs from codegen'd join
    # machinery with NO posting-list buffer; the two sides are the
    # same subtree modulo aliases, so they canonicalize equal and the
    # bucket exchange is built once (AQE runtime stage reuse).
    posting = sh.join(surviving, "shingle")
    return (
        posting.select(
            "shingle",
            F.col("doc_id").alias("a"),
            F.col("sz").alias("sz_a"),
        )
        .join(
            posting.select(
                "shingle",
                F.col("doc_id").alias("b"),
                F.col("sz").alias("sz_b"),
            ),
            "shingle",
        )
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b", "sz_a", "sz_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )


# ------------------------------------------------------- n-gram Jaccard
def ngram_jaccard_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.8,
    max_df: int = 1000,
) -> DataFrame:
    """Near-duplicate pairs by word-n-gram Jaccard similarity.

    Plan: the shared :func:`_pair_common_counts` inverted index (df cap
    kills stop-shingle skew; only docs sharing >=1 shingle ever pair
    up), then Jaccard = |∩| / (|A| + |B| − |∩|).
    """
    pairs = _pair_common_counts(docs, n, max_df)
    return (
        pairs.withColumn(
            "jaccard",
            F.col("common")
            / (F.col("sz_a") + F.col("sz_b") - F.col("common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select(
            "a", "b", F.round("jaccard", 6).alias("jaccard")
        )
    )


# --------------------------------------------------------- MinHash LSH
def minhash_signatures(
    docs: DataFrame, num_hashes: int = 16, shingle_n: int = 3
) -> DataFrame:
    """Per-doc MinHash signature: for seed i, sig[i] = min over shingles
    of md5(i || ':' || shingle). String-min keeps the signature portable
    (identical in the DuckDB oracle) while preserving min-hash
    exchangeability. Computed entirely with JVM array expressions —
    one narrow pass, no shuffle, no Python."""
    # explode + map-side-combined groupBy minima: md5 evaluates in
    # codegen over flat rows, the shuffle carries only partial mins.
    # MIN is duplicate-invariant -> skip the shingle dedup shuffle
    sh = shingle_table(docs, shingle_n, distinct=False)
    return sh.groupBy("doc_id").agg(
        *[
            F.min(F.md5(F.concat(F.lit(f"{i}:"), F.col("shingle")))).alias(
                f"mh_{i}"
            )
            for i in range(num_hashes)
        ]
    )


_MINHASH_P = (1 << 31) - 1


def _perm_constants(num_hashes: int) -> tuple[list[int], list[int]]:
    """The (a_i, b_i) linear-permutation constants — ONE seeded source
    shared by the signature aggregate and its DuckDB oracle, so both
    produce the same signatures."""
    rng = np.random.default_rng(42)
    a = rng.integers(1, _MINHASH_P, size=num_hashes).tolist()
    b = rng.integers(0, _MINHASH_P, size=num_hashes).tolist()
    return a, b


def band_key_expr(sig_col, b: int, rows_per_band: int, portable: bool):
    """Band-``b`` bucket key from a signature array column (portable
    ``'b|v|v|…'``, fast ``'b:<xxhash64>'``)."""
    els = [
        F.element_at(sig_col, b * rows_per_band + r + 1)
        for r in range(rows_per_band)
    ]
    if portable:
        return F.concat_ws("|", F.lit(str(b)), *els)
    return F.concat(
        F.lit(f"{b}:"), F.xxhash64(*els).cast("string")
    )


def _base_hash_expr(shingle_col, base_hash: str):
    """The per-shingle 64-bit base hash feeding the linear
    permutations, reduced mod p. Two families: ``"xxhash64"`` (default
    fast path — one JVM hash, not replayable outside Spark) and
    ``"md5int"`` (first 15 hex chars of md5 parsed as an integer —
    marginally slower, but byte-identical in any engine with md5, so
    the WHOLE fast-path pipeline including the permutation constants
    value-checks in DuckDB: ``CAST('0x' || substr(md5(s),1,15) AS
    BIGINT)``). 15 hex chars < 2^60, safely inside int64."""
    p = F.lit(_MINHASH_P)
    if base_hash == "xxhash64":
        return F.pmod(F.xxhash64(shingle_col), p)
    if base_hash == "md5int":
        return F.pmod(
            F.conv(F.substring(F.md5(shingle_col), 1, 15), 16, 10).cast(
                "long"
            ),
            p,
        )
    raise ValueError(f"unknown base_hash: {base_hash!r}")


def minhash_sig_array(
    docs: DataFrame, num_hashes: int = 16, shingle_n: int = 3,
    persist: bool = True, base_hash: str = "xxhash64",
) -> DataFrame:
    """(doc_id, sig: array<string>) — same minhashes as
    :func:`minhash_signatures` packed into ONE array expression, so the
    plan stays O(1)-sized regardless of ``num_hashes`` (16 separate
    column expressions each inline the whole shingle subtree and blow up
    codegen once downstream ops multiply them)."""
    # Classic linear-permutation minhash: ONE xxhash64 per shingle, then
    # ``num_hashes`` permutations h_i = (a_i·h + b_i) mod p — integer
    # multiply-adds instead of per-seed cryptographic hashing (16× less
    # hash work than the md5 formulation, which exists only because the
    # DuckDB oracle can replay it). p = 2^31−1 keeps a_i·h < 2^62, inside
    # int64 under ANSI mode. Explode + map-side-combined groupBy mins:
    # tokenize once, everything whole-stage-codegen, one shuffle carrying
    # only partial minima.
    p = _MINHASH_P
    a, bvec = _perm_constants(num_hashes)
    # MIN is duplicate-invariant -> skip the shingle dedup shuffle
    sh = shingle_table(docs, shingle_n, distinct=False)
    h = _base_hash_expr(F.col("shingle"), base_hash)
    mins = [
        F.min(F.pmod(F.lit(int(a[i])) * h + F.lit(int(bvec[i])), F.lit(p))).alias(
            f"mh_{i}"
        )
        for i in range(num_hashes)
    ]
    agg = sh.groupBy("doc_id").agg(*mins)
    sigs = agg.select(
        "doc_id",
        F.array(*[F.col(f"mh_{i}") for i in range(num_hashes)]).alias("sig"),
    )
    if not persist:
        # single-consumer callers (an incremental batch joining the
        # corpus index once) skip the cache barrier — no re-reads to
        # protect, and a per-batch persist would leak storage memory
        # across a long-running ingestion loop
        return sigs
    sigs = sigs.persist()
    # eager: both sides of the LSH bucket self-join read the cache
    # instead of racing to populate it (plan is flat codegen, so the
    # cache writer evaluates it at full speed)
    sigs.count()
    return sigs


def build_lsh_index(
    docs: DataFrame,
    num_hashes: int = 16,
    bands: int = 8,
    shingle_n: int = 3,
    portable: bool = False,
    persist: bool = True,
    base_hash: str = "xxhash64",
) -> DataFrame:
    """The corpus-side LSH band table ``(doc_id, sig, bucket)`` — build
    ONCE, persist (or write out bucketed by ``bucket``), and every
    consumer joins it: the pairwise self-join
    (:func:`minhash_lsh_pairs`) and incremental batch lookups
    (:func:`incremental_near_dups`) share this exact frame, so the
    signature scan cost is paid per corpus revision, not per query.
    ~``num_hashes``·33 bytes/doc in portable mode, 8 bytes/hash in fast
    mode — orders smaller than the text it indexes."""
    rows_per_band = num_hashes // bands
    if portable:
        sigs = minhash_signatures(docs, num_hashes, shingle_n).select(
            "doc_id",
            F.array(*[F.col(f"mh_{i}") for i in range(num_hashes)]).alias("sig"),
        )
        if persist:
            sigs = sigs.persist()
            sigs.count()
    else:
        # minhash_sig_array persists + eagerly materializes the
        # signature table (persist=True), so both sides of any bucket
        # join read the cache; single-consumer callers opt out
        sigs = minhash_sig_array(
            docs, num_hashes, shingle_n, persist=persist,
            base_hash=base_hash,
        )

    # bucket format lives in band_key_expr (portable = the raw band
    # values, exact in every engine; fast = xxhash64 of them).
    # md5int base hashes keep the replayable raw-value format so the
    # DuckDB oracle can reproduce the buckets too.
    replayable = portable or base_hash == "md5int"
    out = sigs.select(
        "doc_id",
        "sig",
        F.explode(
            F.array(
                *[
                    band_key_expr(
                        F.col("sig"), b, rows_per_band, replayable
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bucket"),
    )
    # driver-side index metadata: consumers (incremental_near_dups)
    # validate parameter compatibility from this — zero Spark jobs, and
    # it carries shingle_n, which is NOT recoverable from the signatures
    out.lsh_params = {
        "num_hashes": num_hashes,
        "bands": bands,
        "shingle_n": shingle_n,
        "portable": portable,
        "base_hash": base_hash,
    }
    return out


def minhash_lsh_pairs(
    docs: DataFrame,
    num_hashes: int = 16,
    bands: int = 8,
    shingle_n: int = 3,
    portable: bool = False,
    base_hash: str = "xxhash64",
    max_bucket: int | None = None,
) -> DataFrame:
    """Candidate near-dup pairs via LSH banding: docs agreeing on ALL
    rows of ≥1 band collide in a bucket; bucket join emits pairs.
    Estimated similarity = fraction of agreeing minhashes.

    ``portable=False`` (default): linear-permutation minhash over ONE
    xxhash64 per shingle — the fast path. ``portable=True``: md5-string
    minhash (:func:`minhash_signatures`'s scheme), byte-identical in
    any engine with md5 — slower (``num_hashes`` md5s per shingle) but
    exactly replayable by the DuckDB oracle, which value-checks the
    whole banding pipeline, not just the signatures.

    The signature table is persisted before the fan-out: the bucket
    self-join plus the signature lookups reference it four times, and
    without the cache barrier Catalyst inlines (and re-executes) the
    hash-over-shingles subtree into every branch. At scale the sig
    table is ~`num_hashes`·33 bytes/doc — orders smaller than the text.

    ``max_bucket`` is the boilerplate-corpus escape hatch (the
    simhash_pairs pattern): a corpus that hasn't been exact-deduped
    first puts every copy of a dominant template in the SAME bucket of
    every band — B identical docs emit B²/2 join rows per band, the
    quadratic blow-up AQE's skew splitting can only re-balance, not
    shrink (measured: SCALING.md, "Round-7 rung: adversarial skew in
    the MinHash-LSH band join"). With it set,
    bucket sizes are counted FIRST (hash aggregate, map-side combine)
    and oversized buckets dropped before the self-join; recall loss
    touches only groups exact dedup should have collapsed anyway.
    Default None preserves exact semantics (the oracle gate's
    configuration)."""
    buckets = build_lsh_index(
        docs, num_hashes=num_hashes, bands=bands, shingle_n=shingle_n,
        portable=portable, base_hash=base_hash,
    )
    if max_bucket is not None:
        surviving = (
            buckets.groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n").between(2, max_bucket))
            .select("bucket")
        )
        buckets = buckets.join(surviving, "bucket")
    x = buckets.select("bucket", F.col("doc_id").alias("a"),
                       F.col("sig").alias("sig_a"))
    y = buckets.select("bucket", F.col("doc_id").alias("b"),
                       F.col("sig").alias("sig_b"))
    # the similarity estimate is computed on the bucket-join rows,
    # BEFORE the pair-dedup groupBy (r12): every duplicate (a, b) row
    # (one per colliding band, ≤ `bands`) carries the same two
    # signatures, so the estimate is constant within the group and
    # first() recovers it exactly — the dedup shuffle then moves ONE
    # double per candidate row instead of two full signature arrays
    # (~2·num_hashes·33 bytes in portable mode)
    est = F.round(
        F.size(
            F.filter(
                F.zip_with("sig_a", "sig_b", lambda p, q: p == q),
                lambda m: m,
            )
        ).cast("double")
        / F.lit(num_hashes),
        6,
    )
    return (
        x.join(y, "bucket")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", est.alias("est_jaccard"))
        .groupBy("a", "b")
        .agg(F.first("est_jaccard").alias("est_jaccard"))
    )


# -------------------------------------------------------------- SimHash
_HEX = "0123456789abcdef"


def simhash(docs: DataFrame, bits: int = 64) -> DataFrame:
    """64-bit SimHash per document: each distinct token votes ±1 on every
    bit of its 64-bit hash (first 16 md5 hex nibbles); the sign of each
    bit's vote total becomes that signature bit, packed back to 16 hex
    chars.

    Flat formulation: explode distinct tokens, 64 conditional-sum
    aggregates with map-side combine (one shuffle carrying 64 ints per
    doc), sign + nibble-pack in the final projection. Everything
    whole-stage codegen; bit extraction works on hex NIBBLES
    (``(nibble >> (3−b%4)) & 1``) so the DuckDB oracle replays it
    byte-identically without 64-bit unsigned gymnastics.
    """
    n_part = docs.sparkSession.sparkContext.defaultParallelism
    toks = (
        docs.repartition(n_part, "doc_id")
        .select("doc_id", F.explode(_tokens(F.col("text"))).alias("tok"))
        .dropDuplicates(["doc_id", "tok"])
        .withColumn("__h", F.md5("tok"))
    )
    votes = [
        F.sum(
            F.when(
                (
                    F.conv(F.substring("__h", b // 4 + 1, 1), 16, 10)
                    .cast("int")
                    .bitwiseAND(F.lit(1 << (3 - b % 4)))
                )
                > 0,
                1,
            ).otherwise(-1)
        ).alias(f"v_{b}")
        for b in range(bits)
    ]
    agg = toks.groupBy("doc_id").agg(*votes)
    nibbles = [
        F.substring(
            F.lit(_HEX),
            (
                F.when(F.col(f"v_{4 * j}") > 0, 8).otherwise(0)
                + F.when(F.col(f"v_{4 * j + 1}") > 0, 4).otherwise(0)
                + F.when(F.col(f"v_{4 * j + 2}") > 0, 2).otherwise(0)
                + F.when(F.col(f"v_{4 * j + 3}") > 0, 1).otherwise(0)
                + 1
            ),
            1,
        )
        for j in range(bits // 4)
    ]
    return agg.select("doc_id", F.concat(*nibbles).alias("simhash"))


#: frames this module persisted this session (simhash_pairs' per-block
#: frames, _pair_common_counts' per-doc shingle sets) — released by
#: :func:`release_block_caches` (wired into queries.clear_state), the
#: same per-call lifecycle similarity._PORTABLE_PERSISTED uses, so
#: long-lived sessions never need a session-wide clearCache()
_PERSISTED_BLOCKS: list[DataFrame] = []


def release_block_caches() -> None:
    """Unpersist every frame in ``_PERSISTED_BLOCKS``: the per-block
    frames :func:`simhash_pairs` cached and the per-doc shingle sets of
    :func:`_pair_common_counts`. Call between query batches in a
    long-running session (r11 ADVICE: the default path persists on
    every call and the frames otherwise accumulate until a
    session-wide ``spark.catalog.clearCache()``)."""
    for df in _PERSISTED_BLOCKS:
        try:
            df.unpersist()
        except Exception:
            pass
    _PERSISTED_BLOCKS.clear()


def simhash_pairs(
    docs: DataFrame, max_hamming: int = 3, bits: int = 64,
    max_bucket: int | None = None, persist: bool = True,
) -> DataFrame:
    """SimHash near-duplicate pairs: documents whose 64-bit signatures
    differ in at most ``max_hamming`` bits, with the distance.

    Candidate generation is the classic pigeonhole banding: split the
    16-nibble signature into ``max_hamming + 1`` blocks — any pair
    within the distance budget must agree on at least one whole block —
    and bucket on (block index, block value). No cross join at any
    scale; the only quadratic work is intra-bucket, and that quadratic
    is INHERENT to the contract — identical documents agree on every
    block and genuinely are pairs.

    Plan (the r11 reform, the winnow_pairs shape — retired the gate's
    14 s budget exception, 10.1 s → under the 8 s registry tripwire at
    sf0.1): bucket sizes are counted FIRST on every path (hash
    aggregate, map-side combine — singleton buckets, the vast majority,
    never reach the pair stage), then surviving buckets SELF-JOIN as a
    stream — no ``collect_list`` buffer ever holds a posting list, so
    per-task memory is bounded by the join's sort/hash machinery (which
    spills), not by the hottest bucket. The hamming verify runs
    INTRA-BUCKET, before the cross-block pair dedup: each signature is
    pre-packed into 32-bit words (``conv`` once per block row, not per
    pair) and the distance is ``bits/32`` XOR+popcounts — all codegen —
    so candidates failing the budget (the bulk, on any corpus that has
    been exact-deduped) are dropped before they ever shuffle into the
    ``groupBy(a, b)`` dedup.

    ``max_bucket`` is the degenerate-corpus escape hatch: a corpus
    that hasn't been exact-deduped first can put millions of identical
    docs in one bucket — a quadratic pair blast the cap refuses
    up-front (oversized buckets drop at the count stage; recall loss
    only on groups exact dedup should have collapsed anyway). Default
    None preserves exact semantics (the oracle gate's configuration).
    With ``persist=True`` (default) the per-block frame persists
    spill-safely for the query's lifetime (the count and both
    self-join sides consume it); the handle is attached to the result
    as ``_blocks_cache`` and registered for
    :func:`release_block_caches`, so callers release per-call instead
    of a session-wide ``clearCache()``. ``persist=False`` trades the
    block stream's recompute (one extra scan per consumer) for zero
    cached state — the single-shot-pipeline regime."""
    from pyspark import StorageLevel

    n_blocks = max_hamming + 1
    nibbles = bits // 4
    if nibbles % n_blocks:
        raise ValueError(
            f"bits/4={nibbles} must divide into max_hamming+1={n_blocks} blocks"
        )
    blk = nibbles // n_blocks
    sigs = simhash(docs, bits=bits)
    # pack the hex signature into 32-bit words once per block row;
    # the pair verify is then bits/32 XOR+popcounts instead of
    # `nibbles` conv/substring calls per candidate
    n_words = (nibbles + 7) // 8
    words = [
        F.conv(
            F.substring("simhash", w * 8 + 1, min(8, nibbles - w * 8)), 16, 10
        ).cast("bigint").alias(f"__w{w}")
        for w in range(n_words)
    ]
    blocks = sigs.select(
        "doc_id",
        *words,
        F.posexplode(
            F.array(*[
                F.substring("simhash", b * blk + 1, blk)
                for b in range(n_blocks)
            ])
        ).alias("__b", "__blk"),
    )
    if persist:
        blocks = blocks.persist(StorageLevel.MEMORY_AND_DISK)
        _PERSISTED_BLOCKS.append(blocks)
    surviving = (
        blocks.groupBy("__b", "__blk")
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(
            F.col("__n").between(2, max_bucket)
            if max_bucket is not None
            else (F.col("__n") >= 2)
        )
        .select("__b", "__blk")
    )
    kept = blocks.join(surviving, ["__b", "__blk"])
    x = kept.select(
        "__b", "__blk", F.col("doc_id").alias("a"),
        *[F.col(f"__w{w}").alias(f"__xa{w}") for w in range(n_words)],
    )
    y = kept.select(
        "__b", "__blk", F.col("doc_id").alias("b"),
        *[F.col(f"__w{w}").alias(f"__yb{w}") for w in range(n_words)],
    )
    hamming = sum(
        F.bit_count(F.col(f"__xa{w}").bitwiseXOR(F.col(f"__yb{w}")))
        for w in range(n_words)
    )
    out = (
        x.join(y, ["__b", "__blk"])
        .filter(F.col("a") < F.col("b"))
        .withColumn("hamming", hamming.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .groupBy("a", "b")
        .agg(F.first("hamming").alias("hamming"))
        .select("a", "b", "hamming")
    )
    if persist:
        out._blocks_cache = blocks  # per-call release handle
    return out


def oracle_simhash_pairs(
    table: str = "documents", max_hamming: int = 3, bits: int = 64,
    max_bucket: int | None = None,
) -> str:
    """Full DuckDB replay of :func:`simhash_pairs`: signatures via the
    simhash oracle, pigeonhole block candidates, exact nibble-XOR
    hamming verify. ``max_bucket`` replays the degenerate-corpus
    escape hatch: bucket sizes counted first, only (block, value)
    buckets of size 2..max_bucket feed the self-join — a pair can
    still surface through any of its other, uncapped blocks, exactly
    like the Spark plan's per-block filter."""
    n_blocks = max_hamming + 1
    nibbles = bits // 4
    blk = nibbles // n_blocks
    sig_sql = oracle_simhash(table=table, bits=bits).strip()
    block_list = ", ".join(str(b) for b in range(n_blocks))
    ham = " + ".join(
        f"bit_count(xor(strpos('{_HEX}', substr(sx.simhash, {j + 1}, 1)) - 1, "
        f"strpos('{_HEX}', substr(sy.simhash, {j + 1}, 1)) - 1))"
        for j in range(nibbles)
    )
    cap_hi = max_bucket if max_bucket is not None else "1e18"
    return f"""
WITH sigs AS ({sig_sql}),
blocks AS (
    SELECT doc_id, simhash,
           t.b AS bi, substr(simhash, t.b * {blk} + 1, {blk}) AS blkv
    FROM sigs CROSS JOIN (SELECT UNNEST([{block_list}]) AS b) t
),
keep AS (
    SELECT bi, blkv FROM blocks
    GROUP BY bi, blkv HAVING COUNT(*) BETWEEN 2 AND {cap_hi}
),
cand AS (
    SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
    FROM blocks x
    JOIN keep k ON x.bi = k.bi AND x.blkv = k.blkv
    JOIN blocks y ON x.bi = y.bi AND x.blkv = y.blkv
    WHERE x.doc_id < y.doc_id
)
SELECT c.a, c.b, CAST({ham} AS INT) AS hamming
FROM cand c
JOIN sigs sx ON sx.doc_id = c.a
JOIN sigs sy ON sy.doc_id = c.b
WHERE {ham} <= {max_hamming}
"""


def oracle_simhash(table: str = "documents", bits: int = 64) -> str:
    """DuckDB twin of :func:`simhash` — same md5-nibble votes, same
    sign rule, same hex packing."""
    norm = _sql_norm("text")
    votes = ",\n       ".join(
        f"SUM(CASE WHEN (strpos('{_HEX}', substr(md5(tok), {b // 4 + 1}, 1)) - 1)"
        f" & {1 << (3 - b % 4)} > 0 THEN 1 ELSE -1 END) AS v_{b}"
        for b in range(bits)
    )
    nibbles = " || ".join(
        f"substr('{_HEX}', "
        f"CASE WHEN v_{4 * j} > 0 THEN 8 ELSE 0 END + "
        f"CASE WHEN v_{4 * j + 1} > 0 THEN 4 ELSE 0 END + "
        f"CASE WHEN v_{4 * j + 2} > 0 THEN 2 ELSE 0 END + "
        f"CASE WHEN v_{4 * j + 3} > 0 THEN 1 ELSE 0 END + 1, 1)"
        for j in range(bits // 4)
    )
    return f"""
WITH toks AS (
    SELECT DISTINCT doc_id, unnest(string_split({norm}, ' ')) AS tok
    FROM {table}
),
votes AS (
    SELECT doc_id,
       {votes}
    FROM toks GROUP BY doc_id
)
SELECT doc_id, {nibbles} AS simhash FROM votes
"""


# ------------------------------------------------------ decontamination
def decontaminate_spans(
    docs: DataFrame,
    eval_docs: DataFrame,
    n: int = 5,
    min_run: int = 1,
) -> DataFrame:
    """Span-level decontamination: surgically remove the word runs a
    document shares with an evaluation set, keeping the rest — the
    scalpel to :func:`decontaminate`'s hammer (which drops whole
    documents and with them every clean token they carried; on long
    documents with one quoted benchmark question that is almost-total
    collateral loss).

    Same machinery as :func:`remove_repeated_spans` (shared
    :func:`_remove_marked_spans` tail), with the marked positions
    coming from a BROADCAST semi-join against the eval n-gram set
    instead of the cross-doc repeat rule — eval sets are small, so the
    corpus-side positional stream never shuffles for the marking.
    ``min_run=1`` by default: ANY eval n-gram overlap is contamination
    (matching decontaminate's rule), unlike boilerplate removal where
    single isolated shingle hits are noise.

    Returns (doc_id, text, n_removed_words).
    """
    safe = docs.select(
        "doc_id", F.coalesce(F.col("text"), F.lit("")).alias("text")
    )
    sh = shingle_table(safe, n=n, keep_pos=True)
    eval_sh = F.broadcast(
        shingle_table(
            eval_docs.select("doc_id", "text"), n=n, distinct=False
        ).select("shingle").distinct()
    )
    marked = sh.join(eval_sh, "shingle", "left_semi").select("doc_id", "p")
    return _remove_marked_spans(safe, marked, n, min_run)


def decontaminate(
    corpus: DataFrame, eval_docs: DataFrame, n: int = 5
) -> DataFrame:
    """Train/eval contamination report: corpus documents sharing at
    least one word-``n``-gram with any eval-set document, with the
    overlap count — the standard benchmark-decontamination pass run
    before training.

    Plan shape for 100 TB: the eval side is benchmarks (thousands of
    documents), so its distinct shingle set broadcasts and the corpus
    shingle stream filters against it map-side — a broadcast semi join
    with NO shuffle of corpus text; the only exchange is the per-doc
    overlap count on the (tiny) surviving rows."""
    eval_sh = (
        shingle_table(eval_docs, n=n, distinct=False)
        .select("shingle")
        .distinct()
    )
    # corpus shingles stay raw: the broadcast semi filter runs map-side
    # on the narrow stream, and dedup applies only to the HITS — no
    # corpus-wide shingle shuffle before the join. dropDuplicates (not
    # count_distinct) so the same plan runs on a STREAMING corpus,
    # where distinct aggregations are unsupported
    hits = (
        shingle_table(corpus, n=n, distinct=False)
        .join(F.broadcast(eval_sh), "shingle", "left_semi")
        .dropDuplicates(["doc_id", "shingle"])
    )
    return hits.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_contaminated_ngrams")
    )


def contamination_report(
    corpus: DataFrame, eval_docs: DataFrame, n: int = 5
) -> DataFrame:
    """Per-EVAL-document contamination audit (the inverse of
    :func:`decontaminate`): for each eval document, how many corpus
    documents share ≥1 word-``n``-gram with it and how many of its
    distinct n-grams leak — the eval-integrity report published before
    trusting a benchmark score.

    Same 100 TB shape as decontaminate: the eval shingle table (doc-
    keyed this time) broadcasts; corpus text is scanned once and never
    shuffled — only matching (corpus_doc, eval_doc, shingle) hits reach
    the aggregation."""
    ev = (
        shingle_table(eval_docs, n=n)  # distinct: bounds broadcast size
        .select(F.col("doc_id").alias("eval_doc"), "shingle")
    )
    # corpus side raw -- both outputs are count_distinct, so hit
    # duplicates are absorbed in the aggregation, not a prior shuffle
    hits = shingle_table(corpus, n=n, distinct=False).join(
        F.broadcast(ev), "shingle"
    )
    return hits.groupBy("eval_doc").agg(
        F.count_distinct("doc_id").cast("long").alias("n_corpus_docs"),
        F.count_distinct("shingle").cast("long").alias("n_leaked_ngrams"),
    )


def oracle_contamination_report(
    table: str = "documents",
    eval_pred: str = "doc_id < 25",
    corpus_pred: str = "doc_id >= 25",
    n: int = 5,
) -> str:
    return f"""
WITH ev AS (
    SELECT doc_id AS eval_doc, unnest({_sql_shingles(n)}) AS shingle
    FROM {table} WHERE {eval_pred}
),
ev_d AS (SELECT DISTINCT eval_doc, shingle FROM ev),
co AS (
    SELECT doc_id, unnest({_sql_shingles(n)}) AS shingle
    FROM {table} WHERE {corpus_pred}
),
co_d AS (SELECT DISTINCT doc_id, shingle FROM co),
hits AS (
    SELECT e.eval_doc, c.doc_id, e.shingle
    FROM ev_d e JOIN co_d c USING (shingle)
)
SELECT eval_doc,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_corpus_docs,
       CAST(COUNT(DISTINCT shingle) AS BIGINT) AS n_leaked_ngrams
FROM hits GROUP BY eval_doc
"""


def oracle_decontaminate_spans(
    table: str = "documents",
    eval_pred: str = "doc_id < 25",
    corpus_pred: str = "doc_id >= 25",
    n: int = 5,
    min_run: int = 1,
) -> str:
    """DuckDB mirror of :func:`decontaminate_spans` — identical
    positional shingling, eval-set marking, gaps-and-islands runs, and
    ordered re-concat (the oracle_remove_repeated_spans tail with the
    dup rule swapped for the eval semi-join)."""
    norm = _sql_norm("text")
    return f"""
WITH toks AS (
    SELECT doc_id, string_split({norm}, ' ') AS t
    FROM {table} WHERE {corpus_pred}
),
pos AS (
    SELECT doc_id, t,
           unnest(range(1, GREATEST(len(t) - {n} + 1, 1) + 1)) AS p
    FROM toks
),
sh AS (
    SELECT doc_id, p,
           array_to_string(list_slice(t, p, p + {n} - 1), ' ') AS shingle
    FROM pos
),
ev AS (
    SELECT DISTINCT unnest({_sql_shingles(n)}) AS shingle
    FROM {table} WHERE {eval_pred}
),
dp AS (
    SELECT doc_id, p FROM sh
    WHERE shingle IN (SELECT shingle FROM ev)
),
runs AS (
    SELECT doc_id, p,
           p - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY p) AS grp
    FROM dp
),
spans AS (
    SELECT doc_id, MIN(p) AS start, COUNT(*) AS rl
    FROM runs GROUP BY doc_id, grp
    HAVING COUNT(*) >= {min_run}
),
covered AS (
    SELECT DISTINCT doc_id, unnest(range(start, start + rl + {n} - 1)) AS wp
    FROM spans
),
words AS (
    SELECT doc_id, unnest(t) AS word, generate_subscripts(t, 1) AS wp
    FROM toks
),
kept AS (
    SELECT w.doc_id, w.wp, w.word
    FROM words w
    LEFT JOIN covered c ON w.doc_id = c.doc_id AND w.wp = c.wp
    WHERE c.wp IS NULL
),
cleaned AS (
    SELECT doc_id, string_agg(word, ' ' ORDER BY wp) AS text,
           COUNT(*) AS n_kept
    FROM kept GROUP BY doc_id
)
SELECT t0.doc_id,
       COALESCE(c.text, '') AS text,
       CAST(len(t0.t) - COALESCE(c.n_kept, 0) AS BIGINT) AS n_removed_words
FROM toks t0 LEFT JOIN cleaned c ON t0.doc_id = c.doc_id
"""


def oracle_decontaminate(
    table: str = "documents",
    eval_pred: str = "doc_id < 25",
    corpus_pred: str = "doc_id >= 25",
    n: int = 5,
) -> str:
    return f"""
WITH ev AS (
    SELECT DISTINCT unnest({_sql_shingles(n)}) AS shingle
    FROM {table} WHERE {eval_pred}
),
corp AS (
    SELECT doc_id, unnest({_sql_shingles(n)}) AS shingle
    FROM {table} WHERE {corpus_pred}
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_contaminated_ngrams
FROM corp WHERE shingle IN (SELECT shingle FROM ev)
GROUP BY doc_id
"""


# ------------------------------------------- dedup quality monitoring
def dedup_quality_report(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.8,
    num_hashes: int = 16,
    bands: int = 8,
    max_df: int = 1000,
    portable: bool = False,
    pred_threshold: float | None = None,
) -> DataFrame:
    """Precision/recall monitor for the approximate dedup tier: the
    banded-LSH candidate pairs (estimate ≥ threshold) scored against
    the exact n-gram-Jaccard pairs on the same corpus (in production,
    run it on a deterministic sample — both inputs are plain
    DataFrames). Every large-scale pipeline that replaces exact dedup
    with LSH needs this needle: banding parameters drift out of tune as
    the corpus distribution shifts, and recall decays silently.

    One row: n_true, n_pred, n_hit, recall, precision (NULL when the
    denominator is empty — 'no pairs' is a different signal than
    'perfect score')."""
    true_pairs = ngram_jaccard_pairs(
        docs, n=n, threshold=threshold, max_df=max_df
    ).select("a", "b", F.lit(1).alias("_t"))
    # pred_threshold decouples the LSH acceptance bar from the exact
    # ground-truth bar (threshold sweeps are how banding gets re-tuned)
    pt = threshold if pred_threshold is None else pred_threshold
    pred_pairs = (
        minhash_lsh_pairs(
            docs, num_hashes=num_hashes, bands=bands, shingle_n=n,
            portable=portable,
        )
        .filter(F.col("est_jaccard") >= pt)
        .select("a", "b", F.lit(1).alias("_p"))
    )
    j = true_pairs.join(pred_pairs, ["a", "b"], "full_outer")
    # markers coalesce to 0 inside the product: after the full-outer
    # join a pair in only one set has a NULL marker, and SUM skipping
    # NULL products would report n_hit/recall NULL precisely when the
    # sets are disjoint — the total-recall-collapse this monitor exists
    # to catch must read 0, not NULL
    hit = F.coalesce(F.col("_t"), F.lit(0)) * F.coalesce(
        F.col("_p"), F.lit(0)
    )
    return j.agg(
        F.sum("_t").cast("bigint").alias("n_true"),
        F.sum("_p").cast("bigint").alias("n_pred"),
        F.sum(hit).cast("bigint").alias("n_hit"),
        F.round(F.sum(hit) / F.sum("_t"), 6).alias("recall"),
        F.round(F.sum(hit) / F.sum("_p"), 6).alias("precision"),
    )


def oracle_dedup_quality_report(
    table: str = "documents",
    n: int = 3,
    threshold: float = 0.8,
    num_hashes: int = 16,
    bands: int = 8,
    max_df: int = 1000,
) -> str:
    """DuckDB mirror composed from the exact-Jaccard and portable-LSH
    pair oracles (nested-CTE subqueries)."""
    exact = oracle_ngram_jaccard_pairs(
        table=table, n=n, threshold=threshold, max_df=max_df
    )
    lsh = oracle_minhash_lsh_pairs(
        table=table, num_hashes=num_hashes, bands=bands, shingle_n=n
    )
    return f"""
WITH t AS (SELECT a, b, 1 AS _t FROM ({exact})),
p AS (SELECT a, b, 1 AS _p FROM ({lsh}) WHERE est_jaccard >= {threshold}),
j AS (
    SELECT COALESCE(t.a, p.a) AS a, COALESCE(t.b, p.b) AS b, _t, _p
    FROM t FULL OUTER JOIN p ON t.a = p.a AND t.b = p.b
)
SELECT CAST(SUM(_t) AS BIGINT) AS n_true,
       CAST(SUM(_p) AS BIGINT) AS n_pred,
       CAST(SUM(COALESCE(_t, 0) * COALESCE(_p, 0)) AS BIGINT) AS n_hit,
       ROUND(CAST(SUM(COALESCE(_t, 0) * COALESCE(_p, 0)) AS DOUBLE)
             / SUM(_t), 6) AS recall,
       ROUND(CAST(SUM(COALESCE(_t, 0) * COALESCE(_p, 0)) AS DOUBLE)
             / SUM(_p), 6) AS precision
FROM j
"""


# ------------------------------------------- repeated-span removal
def remove_repeated_spans(
    docs: DataFrame, k: int = 5, min_run: int = 2
) -> DataFrame:
    """Substring-level corpus dedup: remove word spans that repeat
    ACROSS documents (boilerplate headers, license blocks, templated
    paragraphs), keeping each document's unique remainder — the
    span-granular companion to document-level fuzzy dedup (cf. the
    suffix-array dedup of "Deduplicating Training Data Makes Language
    Models Better", Lee et al. 2022, re-expressed relationally).

    A position's word k-gram is *duplicated* when the identical shingle
    occurs in ≥2 distinct documents; runs of ≥ ``min_run`` consecutive
    duplicated positions mark their covered words (run + k−1 trailing)
    for removal. Wholly JVM-side:

    * one map-side-combined aggregate finds cross-doc shingles — the
      ``MIN(doc_id) <> MAX(doc_id)`` trick needs no DISTINCT shuffle
      and no skew-prone count for high-frequency boilerplate;
    * a shuffle hash semi-join marks duplicated positions (the dup set
      is unbounded — boilerplate IS high-df — so no broadcast hint);
    * runs via the classic gaps-and-islands ``p − row_number()`` window
      over only the duplicated positions (small side);
    * covered positions explode from run spans; the final anti-join +
      per-doc ordered re-concat rebuilds the cleaned text.

    Returns (doc_id, text, n_removed_words); documents fully covered by
    repeated spans come back with empty text, fully-unique documents
    unchanged (modulo whitespace normalization).
    """
    safe = docs.select(
        "doc_id", F.coalesce(F.col("text"), F.lit("")).alias("text")
    )
    # one shared shingling implementation module-wide (shingle_table):
    # the positional stream, no dedup shuffle
    sh = shingle_table(safe, n=k, keep_pos=True)
    dup = (
        sh.groupBy("shingle")
        .agg(F.min("doc_id").alias("_a"), F.max("doc_id").alias("_b"))
        .filter(F.col("_a") != F.col("_b"))
        .select("shingle")
    )
    dup_pos = sh.join(dup, "shingle", "left_semi").select("doc_id", "p")
    return _remove_marked_spans(safe, dup_pos, k, min_run)


def _remove_marked_spans(
    safe: DataFrame, dup_pos: DataFrame, k: int, min_run: int
) -> DataFrame:
    """Shared span-removal tail: marked positions → gaps-and-islands
    runs → covered-word explosion → per-doc ordered re-concat. One
    owner, so corpus-repeat removal (:func:`remove_repeated_spans`) and
    eval-overlap removal (:func:`decontaminate_spans`) cannot drift in
    their run/rebuild semantics."""
    from pyspark.sql import Window

    toked = safe.select("doc_id", _tokens(F.col("text")).alias("toks"))
    w = Window.partitionBy("doc_id").orderBy("p")
    runs = (
        dup_pos.withColumn("_grp", F.col("p") - F.row_number().over(w))
        .groupBy("doc_id", "_grp")
        .agg(F.min("p").alias("start"), F.count("*").alias("rl"))
        .filter(F.col("rl") >= min_run)
    )
    covered = runs.select(
        "doc_id",
        F.explode(
            F.sequence(
                F.col("start"), F.col("start") + F.col("rl") + F.lit(k - 2)
            )
        ).alias("wp"),
    ).dropDuplicates(["doc_id", "wp"])
    words = toked.select(
        "doc_id", F.posexplode("toks").alias("wp0", "word")
    ).select("doc_id", (F.col("wp0") + 1).alias("wp"), "word")
    # one LEFT join + conditional aggregation rebuilds every document
    # (collect_list skips the NULLed covered words; fully-covered docs
    # come back as '') — no anti-join and no re-scan of the corpus for
    # the all-removed stragglers
    marked = words.join(
        covered.withColumn("_c", F.lit(1)), ["doc_id", "wp"], "left"
    )
    return marked.groupBy("doc_id").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("_c").isNull(), F.struct("wp", "word"))
                    )
                ),
                lambda x: x["word"],
            ),
        ).alias("text"),
        F.sum(F.coalesce(F.col("_c"), F.lit(0)))
        .cast("long")
        .alias("n_removed_words"),
    )


def oracle_remove_repeated_spans(
    k: int = 5, min_run: int = 2, table: str = "documents"
) -> str:
    """DuckDB mirror of :func:`remove_repeated_spans` (identical
    shingling, MIN<>MAX dup rule, gaps-and-islands runs)."""
    norm = _sql_norm(f"COALESCE({table}.text, '')")
    return f"""
WITH toks AS (
    SELECT doc_id, string_split({norm}, ' ') AS t FROM {table}
),
pos AS (
    SELECT doc_id, t,
           unnest(range(1, GREATEST(len(t) - {k} + 1, 1) + 1)) AS p
    FROM toks
),
sh AS (
    SELECT doc_id, p,
           array_to_string(list_slice(t, p, p + {k} - 1), ' ') AS shingle
    FROM pos
),
dup AS (
    SELECT shingle FROM sh GROUP BY shingle
    HAVING MIN(doc_id) <> MAX(doc_id)
),
dp AS (
    SELECT doc_id, p FROM sh
    WHERE shingle IN (SELECT shingle FROM dup)
),
runs AS (
    SELECT doc_id, p,
           p - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY p) AS grp
    FROM dp
),
spans AS (
    SELECT doc_id, MIN(p) AS start, COUNT(*) AS rl
    FROM runs GROUP BY doc_id, grp
    HAVING COUNT(*) >= {min_run}
),
covered AS (
    SELECT DISTINCT doc_id, unnest(range(start, start + rl + {k} - 1)) AS wp
    FROM spans
),
words AS (
    SELECT doc_id, unnest(t) AS word, generate_subscripts(t, 1) AS wp
    FROM toks
),
kept AS (
    SELECT w.doc_id, w.wp, w.word
    FROM words w
    LEFT JOIN covered c ON w.doc_id = c.doc_id AND w.wp = c.wp
    WHERE c.wp IS NULL
),
cleaned AS (
    SELECT doc_id, string_agg(word, ' ' ORDER BY wp) AS text,
           COUNT(*) AS n_kept
    FROM kept GROUP BY doc_id
)
SELECT t0.doc_id,
       COALESCE(c.text, '') AS text,
       CAST(len(t0.t) - COALESCE(c.n_kept, 0) AS BIGINT) AS n_removed_words
FROM toks t0 LEFT JOIN cleaned c ON t0.doc_id = c.doc_id
"""


# ----------------------------------------------------------- oracle SQL
def _sql_norm(col: str) -> str:
    return f"regexp_replace(trim({col}), '\\s+', ' ', 'g')"


def oracle_exact_duplicates(table: str = "documents") -> str:
    return f"""
SELECT md5(lower({_sql_norm('text')})) AS fingerprint,
       MIN(doc_id) AS representative,
       CAST(COUNT(*) AS BIGINT) AS n_docs
FROM {table}
GROUP BY 1
HAVING COUNT(*) > 1
"""


def oracle_embedding_dedup(
    doc_table: str = "documents",
    emb_table: str = "embeddings",
    threshold: float = 0.95,
) -> str:
    return f"""
WITH pairs AS (
    SELECT y.vec_id AS b
    FROM {emb_table} x JOIN {emb_table} y ON x.vec_id < y.vec_id
    WHERE list_cosine_similarity(x.embedding, y.embedding) >= {threshold}
)
SELECT doc_id, text, lang, source, n_chars
FROM {doc_table}
WHERE doc_id NOT IN (SELECT DISTINCT b FROM pairs)
"""


def _sql_shingles(n: int = 3) -> str:
    """DuckDB expression producing the distinct word-n-gram shingle list
    of ``text`` (mirrors :func:`shingle_table`)."""
    norm = _sql_norm("text")
    return (
        f"list_distinct(list_transform("
        f"range(0, GREATEST(len(string_split({norm},' ')) - {n}, 0) + 1), "
        f"i -> array_to_string(list_slice(string_split({norm},' '), "
        f"i + 1, i + {n}), ' ')))"
    )


def oracle_minhash_signatures(
    table: str = "documents", num_hashes: int = 16, shingle_n: int = 3
) -> str:
    cols = ",\n       ".join(
        f"list_min(list_transform({_sql_shingles(shingle_n)}, "
        f"s -> md5('{i}:' || s))) AS mh_{i}"
        for i in range(num_hashes)
    )
    return f"SELECT doc_id,\n       {cols}\nFROM {table}"


def oracle_minhash_lsh_pairs(
    table: str = "documents",
    num_hashes: int = 16,
    bands: int = 8,
    shingle_n: int = 3,
) -> str:
    """Full DuckDB replay of ``minhash_lsh_pairs(portable=True)``:
    md5-string minhash signatures, banding, bucket self-join, and the
    agreeing-minhash similarity estimate."""
    rpb = num_hashes // bands
    sig_items = ",\n        ".join(
        f"list_min(list_transform({_sql_shingles(shingle_n)}, "
        f"s -> md5('{i}:' || s)))"
        for i in range(num_hashes)
    )
    band_list = ", ".join(str(b) for b in range(bands))
    idx_list = ", ".join(str(i + 1) for i in range(num_hashes))
    return f"""
WITH sigs AS (
    SELECT doc_id, [{sig_items}] AS sig FROM {table}
),
bnd AS (
    SELECT doc_id, sig,
           CAST(t.b AS VARCHAR) || '|' ||
           array_to_string(sig[t.b*{rpb}+1 : t.b*{rpb}+{rpb}], '|') AS bucket
    FROM sigs CROSS JOIN (SELECT UNNEST([{band_list}]) AS b) t
),
cand AS (
    SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
    FROM bnd x JOIN bnd y USING (bucket)
    WHERE x.doc_id < y.doc_id
)
SELECT c.a, c.b,
       ROUND(list_sum(list_transform([{idx_list}],
             i -> CASE WHEN sx.sig[i] = sy.sig[i]
                       THEN 1.0 ELSE 0.0 END)) / {num_hashes}, 6)
           AS est_jaccard
FROM cand c
JOIN sigs sx ON sx.doc_id = c.a
JOIN sigs sy ON sy.doc_id = c.b
"""


def oracle_minhash_lsh_pairs_fast(
    table: str = "documents",
    num_hashes: int = 16,
    bands: int = 8,
    shingle_n: int = 3,
    max_bucket: int | None = None,
) -> str:
    """Full DuckDB replay of ``minhash_lsh_pairs(base_hash="md5int")``
    — the linear-permutation FAST path (one base hash per shingle +
    ``num_hashes`` integer multiply-adds, the structure the xxhash64
    production mode uses) with the engine-portable md5-derived base
    hash, so signatures, buckets, the pair join, and the similarity
    estimate are all byte-identical: base ``h = CAST('0x' ||
    substr(md5(s),1,15) AS BIGINT) % p``, then ``(a_i·h + b_i) % p``
    with the same seeded ``_perm_constants``. a_i·h < 2^62 stays in
    BIGINT on both engines.

    ``max_bucket`` replays the boilerplate escape hatch: bucket sizes
    counted first, only buckets of size 2..max_bucket join."""
    rpb = num_hashes // bands
    p = _MINHASH_P
    a, bvec = _perm_constants(num_hashes)
    base = (
        f"CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) % {p}"
    )
    sig_items = ",\n        ".join(
        f"list_min(list_transform({_sql_shingles(shingle_n)}, "
        f"s -> ({int(a[i])} * ({base}) + {int(bvec[i])}) % {p}))"
        for i in range(num_hashes)
    )
    band_list = ", ".join(str(b) for b in range(bands))
    idx_list = ", ".join(str(i + 1) for i in range(num_hashes))
    cap_cte = ""
    cap_join = ""
    if max_bucket is not None:
        cap_cte = f"""surv AS (
    SELECT bucket FROM bnd
    GROUP BY bucket HAVING COUNT(*) BETWEEN 2 AND {max_bucket}
),
"""
        cap_join = "JOIN surv USING (bucket) "
    return f"""
WITH sigs AS (
    SELECT doc_id, [{sig_items}] AS sig FROM {table}
),
bnd AS (
    SELECT doc_id, sig,
           CAST(t.b AS VARCHAR) || '|' ||
           array_to_string(sig[t.b*{rpb}+1 : t.b*{rpb}+{rpb}], '|') AS bucket
    FROM sigs CROSS JOIN (SELECT UNNEST([{band_list}]) AS b) t
),
{cap_cte}cand AS (
    SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
    FROM bnd x {cap_join}JOIN bnd y USING (bucket)
    WHERE x.doc_id < y.doc_id
)
SELECT c.a, c.b,
       ROUND(list_sum(list_transform([{idx_list}],
             i -> CASE WHEN sx.sig[i] = sy.sig[i]
                       THEN 1.0 ELSE 0.0 END)) / {num_hashes}, 6)
           AS est_jaccard
FROM cand c
JOIN sigs sx ON sx.doc_id = c.a
JOIN sigs sy ON sy.doc_id = c.b
"""


def oracle_ngram_jaccard_pairs(
    table: str = "documents", n: int = 3, threshold: float = 0.8,
    max_df: int = 1000,
) -> str:
    return f"""
WITH sh AS (
    SELECT doc_id, unnest({_sql_shingles(n)}) AS shingle FROM {table}
),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
keep AS (SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= {max_df}),
shf AS (SELECT sh.* FROM sh JOIN keep USING (shingle)),
inter AS (
    SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS common
    FROM shf x JOIN shf y USING (shingle)
    WHERE x.doc_id < y.doc_id
    GROUP BY 1, 2
)
SELECT a, b,
       ROUND(CAST(common AS DOUBLE) / (sa.sz + sb.sz - common), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = a
JOIN sizes sb ON sb.doc_id = b
WHERE CAST(common AS DOUBLE) / (sa.sz + sb.sz - common) >= {threshold}
"""


# --------------------------------------------- cluster-based dedup (CC)
def dedup_clusters(
    pairs: DataFrame, max_iter: int = 25
) -> DataFrame:
    """Connected components over a near-duplicate pair graph
    ``(a, b)``: returns ``(doc_id, component)`` where ``component`` is
    the minimum doc_id reachable from ``doc_id`` — the canonical
    representative of each duplicate cluster. Pairwise keep-first dedup
    under-merges (A~B, B~C but A≁C keeps two of three); clustering is
    the standard completion.

    Algorithm: iterative min-label propagation — each round every
    vertex takes the min of its own label and its neighbours' labels
    (one join + one aggregation per round over the *pair graph*, which
    is tiny relative to the corpus), until a round changes nothing.
    Rounds needed = graph diameter; duplicate clusters are
    near-cliques, so this converges in 2–3 rounds in practice. The
    convergence probe is a single driver-side count per round — no
    collect of the labels themselves, so the loop shape is unchanged at
    100 TB. ``max_iter`` bounds pathological chain graphs.

    Lineage control: ``persist`` caches each round's labels but the
    PLAN still chains — a high-diameter graph (a 25-round chain) would
    re-derive a 25-join-deep lineage on any cache eviction and grow
    the driver's plan-analysis cost per round. Every 5th round the
    labels are ``localCheckpoint``-ed (eager), truncating lineage to a
    bounded depth regardless of diameter; near-clique workloads
    (2–3 rounds) never reach the checkpoint and pay nothing.
    """
    edges = (
        pairs.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .unionByName(
            pairs.select(F.col("b").alias("src"), F.col("a").alias("dst"))
        )
        .distinct()
        .persist()
    )
    labels = (
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("component", F.col("doc_id"))
        .persist()
    )
    labels.count()
    for it in range(max_iter):
        neigh = (
            edges.join(
                labels.withColumnRenamed("doc_id", "src"), "src"
            )
            .groupBy(F.col("dst").alias("doc_id"))
            .agg(F.min("component").alias("__nbr_min"))
        )
        new_labels = (
            labels.join(neigh, "doc_id", "left")
            .select(
                "doc_id",
                F.least(
                    F.col("component"),
                    F.coalesce(F.col("__nbr_min"), F.col("component")),
                ).alias("component"),
            )
            .persist()
        )
        if it % 5 == 4:
            # truncate lineage before it compounds: localCheckpoint is
            # eager, so the changed-count below reads the checkpointed
            # data rather than re-deriving the join chain
            new_labels = new_labels.localCheckpoint()
        changed = (
            new_labels.join(
                labels.withColumnRenamed("component", "__old"), "doc_id"
            )
            .filter(F.col("component") != F.col("__old"))
            .count()
        )
        labels.unpersist()
        labels = new_labels
        if changed == 0:
            break
    edges.unpersist()
    return labels


def cluster_dedup(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """Keep one document (the min-id representative) per duplicate
    cluster; documents in no pair survive untouched. An anti-join of
    the corpus against the non-representative cluster members. The
    loser set is pair-graph sized and unbounded (a 50% dup rate makes
    it corpus-scale), so no broadcast hint: AQE picks broadcast when
    the set is actually small and falls back to a shuffle join when it
    isn't — a forced broadcast would OOM the driver at high dup
    rates."""
    labels = dedup_clusters(pairs)
    losers = labels.filter(F.col("doc_id") != F.col("component")).select(
        "doc_id"
    )
    return docs.join(losers, "doc_id", "left_anti")


def fuzzy_dedup(
    docs: DataFrame,
    method: str = "minhash_lsh",
    threshold: float = 0.5,
    shingle_n: int = 3,
    num_hashes: int = 16,
    bands: int = 8,
) -> DataFrame:
    """One-call fuzzy corpus dedup: candidate pairs → connected
    components → keep the min-id representative per cluster.

    ``method="minhash_lsh"`` (default, the 100 TB path): banded-LSH
    candidates filtered to estimated Jaccard ≥ ``threshold``.
    ``method="jaccard"``: exact n-gram Jaccard pairs via the
    df-capped inverted index — the correctness baseline the oracle
    gate replays. ``method="simhash"``: pigeonhole-banded hamming
    pairs (``threshold`` is then the max hamming distance, default 3
    when left at the Jaccard default). Either way the pair graph (tiny
    relative to the corpus) drives :func:`cluster_dedup`'s anti-join;
    the corpus text is scanned once for shingles/signatures and once
    for the final anti-join.
    """
    if method == "minhash_lsh":
        pairs = minhash_lsh_pairs(
            docs, num_hashes=num_hashes, bands=bands, shingle_n=shingle_n
        ).filter(F.col("est_jaccard") >= threshold)
    elif method == "jaccard":
        pairs = ngram_jaccard_pairs(docs, n=shingle_n, threshold=threshold)
    elif method == "simhash":
        max_h = 3 if threshold == 0.5 else int(threshold)
        pairs = simhash_pairs(docs, max_hamming=max_h)
    else:
        raise ValueError(
            f"unknown method: {method!r} "
            "(use 'minhash_lsh', 'jaccard', or 'simhash')"
        )
    return cluster_dedup(docs, pairs.select("a", "b"))


def oracle_fuzzy_dedup(
    n: int = 3, threshold: float = 0.5, table: str = "documents"
) -> str:
    """Survivors of ``fuzzy_dedup(method="jaccard")``: every document
    that is its own cluster representative (or in no pair at all)."""
    clusters = oracle_dedup_clusters(n=n, threshold=threshold, table=table)
    return f"""
WITH labels AS ({clusters})
SELECT d.doc_id
FROM {table} d
LEFT JOIN labels l ON l.doc_id = d.doc_id
WHERE l.doc_id IS NULL OR l.doc_id = l.component
"""


def oracle_dedup_clusters(
    n: int = 3, threshold: float = 0.5, table: str = "documents"
) -> str:
    """Transitive closure by recursive CTE over the same pair graph:
    component = min reachable doc_id (incl. self)."""
    pairs = oracle_ngram_jaccard_pairs(n=n, threshold=threshold, table=table)
    return f"""
WITH RECURSIVE pairs AS ({pairs}),
edges AS (
    SELECT a AS src, b AS dst FROM pairs
    UNION
    SELECT b AS src, a AS dst FROM pairs
),
verts AS (SELECT DISTINCT src AS doc_id FROM edges),
reach AS (
    SELECT doc_id, doc_id AS r FROM verts
    UNION
    SELECT e.dst AS doc_id, reach.r
    FROM reach JOIN edges e ON reach.doc_id = e.src
)
SELECT doc_id, CAST(MIN(r) AS BIGINT) AS component
FROM reach GROUP BY doc_id
"""


# ------------------------------------------- edit-distance verification
def edit_verified_pairs(
    docs: DataFrame,
    n: int = 3,
    cand_threshold: float = 0.2,
    edit_threshold: float = 0.6,
    max_df: int = 1000,
) -> DataFrame:
    """Near-duplicate pairs verified by EXACT normalized edit similarity
    ``1 − levenshtein(a, b) / max(len)`` — the highest-precision dedup
    tier, feasible at scale only because it never runs on the corpus:
    candidates come from the bounded n-gram Jaccard pair generator
    (shared index plan with :func:`ngram_jaccard_pairs`), and the
    O(len²) distance evaluates on that pair set alone.

    Both the distance (Spark's JVM ``levenshtein`` builtin — no UDF)
    and its DuckDB twin are classic unit-cost Levenshtein, verified
    identical; texts are whitespace-normalized with the engine-wide
    normalizer so candidate and verify stages see the same strings.
    The corpus joins the candidate set twice on doc_id — AQE broadcasts
    the candidate side; document text never shuffles on a pair key.
    """
    cands = ngram_jaccard_pairs(
        docs, n=n, threshold=cand_threshold, max_df=max_df
    ).select("a", "b")
    texts = docs.select("doc_id", _norm(F.col("text")).alias("__txt"))
    joined = (
        cands.join(
            texts.select(
                F.col("doc_id").alias("a"), F.col("__txt").alias("__ta")
            ),
            "a",
        )
        .join(
            texts.select(
                F.col("doc_id").alias("b"), F.col("__txt").alias("__tb")
            ),
            "b",
        )
    )
    sim = F.lit(1.0) - F.levenshtein("__ta", "__tb") / F.greatest(
        F.length("__ta"), F.length("__tb"), F.lit(1)
    )
    return (
        joined.withColumn("__sim", sim)
        .filter(F.col("__sim") >= edit_threshold)
        .select("a", "b", F.round("__sim", 6).alias("edit_sim"))
    )


def oracle_edit_verified_pairs(
    table: str = "documents",
    n: int = 3,
    cand_threshold: float = 0.2,
    edit_threshold: float = 0.6,
    max_df: int = 1000,
) -> str:
    from .text import _sql_norm

    cand = oracle_ngram_jaccard_pairs(
        table, n=n, threshold=cand_threshold, max_df=max_df
    )
    norm = _sql_norm("text")
    # the O(len^2) distance is computed ONCE per pair in the inner
    # select — repeating it in WHERE would double the oracle's cost on
    # the most expensive operator of the family
    return f"""
WITH cand AS ({cand}),
txt AS (SELECT doc_id, {norm} AS t FROM {table}),
scored AS (
    SELECT c.a, c.b,
           1.0 - levenshtein(ta.t, tb.t)
                 / GREATEST(length(ta.t), length(tb.t), 1) AS sim_raw
    FROM cand c
    JOIN txt ta ON ta.doc_id = c.a
    JOIN txt tb ON tb.doc_id = c.b
)
SELECT a, b, ROUND(sim_raw, 6) AS edit_sim
FROM scored WHERE sim_raw >= {edit_threshold}
"""


def incremental_near_dups(
    batch: DataFrame,
    corpus_index: DataFrame,
    threshold: float = 0.5,
    num_hashes: int = 16,
    bands: int = 8,
    shingle_n: int = 3,
    portable: bool = False,
    base_hash: str = "xxhash64",
) -> DataFrame:
    """Near-dup screening for incremental ingestion: which documents of
    an incoming batch are approximate duplicates of the ALREADY-INDEXED
    corpus (the fuzzy complement of the Bloom/fingerprint exact path).

    ``corpus_index`` is a :func:`build_lsh_index` frame — built once per
    corpus revision and persisted, so each batch pays only its own
    signature scan plus a band join whose corpus side is the compact
    index, never the corpus text. Returns one row per matched batch doc:
    its best corpus match (highest estimated Jaccard, ties to the lowest
    corpus doc_id). Batch docs absent from the result are new.
    """
    # Guard the cross-job failure mode: a persisted index built with
    # different parameters would band-join to NOTHING and silently admit
    # every near-duplicate as "new". Preferred path: the ``lsh_params``
    # metadata attached by build_lsh_index / load_lsh_index — a pure
    # driver-side check covering ALL four parameters including
    # shingle_n (not recoverable from the signatures). Fallback for
    # metadata-less frames: one sampled-row probe (signature length,
    # bucket format, band count) run ONCE per index — the result is
    # cached on the frame so a long-running ingestion loop pays no
    # per-batch Spark jobs for the guard.
    want = {
        "num_hashes": num_hashes, "bands": bands,
        "shingle_n": shingle_n, "portable": portable,
        "base_hash": base_hash,
    }
    params = getattr(corpus_index, "lsh_params", None)
    if params is not None:
        bad = {k: (params.get(k), v) for k, v in want.items()
               if params.get(k) != v}
        if bad:
            raise ValueError(
                "corpus_index parameters do not match this call: "
                + ", ".join(
                    f"{k}: index={iv} call={cv}"
                    for k, (iv, cv) in sorted(bad.items())
                )
                + " — matching parameters are required or the band join "
                "silently matches nothing"
            )
    else:
        probe = corpus_index.select(
            "doc_id", F.size("sig").alias("nh"), "bucket"
        ).limit(1).collect()
        if probe:
            row = probe[0]
            idx_portable = "|" in row["bucket"]
            nb = corpus_index.filter(F.col("doc_id") == row["doc_id"]).count()
            if row["nh"] != num_hashes or nb != bands or idx_portable != portable:
                raise ValueError(
                    f"corpus_index was built with num_hashes={row['nh']}, "
                    f"bands={nb}, portable={idx_portable} — got "
                    f"num_hashes={num_hashes}, bands={bands}, "
                    f"portable={portable}; matching parameters are required "
                    "or the band join silently matches nothing"
                )
            # probe verified (shingle_n by contract): memoize so later
            # batches against this frame skip the probe jobs entirely
            corpus_index.lsh_params = dict(want)
    # persist=False: the batch's signatures are consumed exactly once
    # (one band join) — a per-batch cache would leak storage memory
    # across a long-running ingestion loop
    bidx = build_lsh_index(
        batch, num_hashes=num_hashes, bands=bands, shingle_n=shingle_n,
        portable=portable, persist=False, base_hash=base_hash,
    )
    hits = (
        bidx.select(
            "bucket", F.col("doc_id").alias("doc_id"),
            F.col("sig").alias("__sb"),
        )
        .join(
            corpus_index.select(
                "bucket", F.col("doc_id").alias("match_id"),
                F.col("sig").alias("__sc"),
            ),
            "bucket",
        )
        .groupBy("doc_id", "match_id")
        .agg(F.first("__sb").alias("__sb"), F.first("__sc").alias("__sc"))
    )
    est = F.round(
        F.size(
            F.filter(
                F.zip_with("__sb", "__sc", lambda p, q: p == q), lambda m: m
            )
        ).cast("double")
        / F.lit(num_hashes),
        6,
    )
    scored = hits.withColumn("est_jaccard", est).filter(
        F.col("est_jaccard") >= threshold
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(
        F.desc("est_jaccard"), F.asc("match_id")
    )
    return (
        scored.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") == 1)
        .select("doc_id", "match_id", "est_jaccard")
    )


def oracle_incremental_near_dups(
    table: str = "documents",
    corpus_below: int = 250,
    threshold: float = 0.5,
    num_hashes: int = 16,
    bands: int = 8,
    shingle_n: int = 3,
) -> str:
    """DuckDB replay of the portable-mode incremental screen: corpus =
    doc_id < corpus_below (the indexed side), batch = the rest."""
    rpb = num_hashes // bands
    sig_items = ",\n        ".join(
        f"list_min(list_transform({_sql_shingles(shingle_n)}, "
        f"s -> md5('{i}:' || s)))"
        for i in range(num_hashes)
    )
    band_list = ", ".join(str(b) for b in range(bands))
    idx_list = ", ".join(str(i + 1) for i in range(num_hashes))
    return f"""
WITH sigs AS (
    SELECT doc_id, [{sig_items}] AS sig FROM {table}
),
bnd AS (
    SELECT doc_id, sig,
           CAST(t.b AS VARCHAR) || '|' ||
           array_to_string(sig[t.b*{rpb}+1 : t.b*{rpb}+{rpb}], '|') AS bucket
    FROM sigs CROSS JOIN (SELECT UNNEST([{band_list}]) AS b) t
),
cand AS (
    SELECT DISTINCT x.doc_id AS doc_id, y.doc_id AS match_id,
           x.sig AS sb, y.sig AS sc
    FROM bnd x JOIN bnd y USING (bucket)
    WHERE x.doc_id >= {corpus_below} AND y.doc_id < {corpus_below}
),
scored AS (
    SELECT doc_id, match_id,
           ROUND(list_sum(list_transform([{idx_list}],
                 i -> CASE WHEN sb[i] = sc[i] THEN 1.0 ELSE 0.0 END))
                 / {num_hashes}, 6) AS est_jaccard
    FROM cand
)
SELECT doc_id, match_id, est_jaccard FROM (
    SELECT *, ROW_NUMBER() OVER (
        PARTITION BY doc_id ORDER BY est_jaccard DESC, match_id ASC
    ) AS rk
    FROM scored WHERE est_jaccard >= {threshold}
) WHERE rk = 1
"""


def save_lsh_index(
    index: DataFrame, table: str, num_buckets: int = 64
) -> None:
    """Persist a :func:`build_lsh_index` frame as a catalog table
    BUCKETED by ``bucket`` — the cross-job form of the incremental
    near-dup story: tonight's ingestion job loads yesterday's index
    instead of re-signing the corpus, and because the table is
    hash-bucketed on the join key, the batch-vs-index band join reads
    co-located buckets with no Exchange on the corpus side
    (:mod:`pipit_spark.sinks.bucketed`)."""
    from ..sinks.bucketed import write_bucketed

    write_bucketed(index, table, bucket_keys="bucket", num_buckets=num_buckets)
    # companion 1-row metadata table: the build parameters travel with
    # the index across jobs, so tomorrow's ingestion validates its
    # parameters (including shingle_n) without probing the data
    params = getattr(index, "lsh_params", None)
    if params is not None:
        spark = index.sparkSession
        spark.createDataFrame(
            [
                (
                    int(params["num_hashes"]),
                    int(params["bands"]),
                    int(params["shingle_n"]),
                    bool(params["portable"]),
                    str(params.get("base_hash", "xxhash64")),
                )
            ],
            "num_hashes int, bands int, shingle_n int, portable boolean, "
            "base_hash string",
        ).write.mode("overwrite").saveAsTable(f"{table}__lshmeta")


def load_lsh_index(spark, table: str) -> DataFrame:
    """Catalog read of a saved index; bucketing metadata rides along so
    the band join skips its corpus-side shuffle, and the companion
    parameter table (written by :func:`save_lsh_index`) re-attaches
    ``lsh_params`` so consumers validate compatibility driver-side."""
    from ..sinks.bucketed import read_table

    out = read_table(spark, table)
    try:
        row = spark.table(f"{table}__lshmeta").collect()[0]
        out.lsh_params = {
            "num_hashes": row["num_hashes"],
            "bands": row["bands"],
            "shingle_n": row["shingle_n"],
            "portable": row["portable"],
            # pre-r06 metadata tables lack the column -> the only
            # base hash that existed then
            "base_hash": (
                row["base_hash"] if "base_hash" in row.__fields__
                else "xxhash64"
            ),
        }
    except Exception:
        pass  # pre-metadata index: consumers fall back to the data probe
    return out


def containment_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.8,
    max_df: int = 1000,
) -> DataFrame:
    """Asymmetric near-dup pairs by n-gram CONTAINMENT
    ``|A∩B| / |A|`` — the subsumption detector Jaccard misses: a short
    document quoted wholesale inside a long one scores near 1.0 here
    but low on Jaccard (the union is dominated by the long side).
    Output ``(contained, container, containment)``.

    Same shared inverted-index plan as :func:`ngram_jaccard_pairs`
    (:func:`_pair_common_counts`); only the final formula differs —
    both directions of a pair come from one pair row via an explode,
    and the qualifying direction(s) are emitted.
    """
    pairs = _pair_common_counts(docs, n, max_df)
    directions = pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("a").alias("contained"),
                    F.col("b").alias("container"),
                    (F.col("common") / F.col("sz_a")).alias("containment"),
                ),
                F.struct(
                    F.col("b").alias("contained"),
                    F.col("a").alias("container"),
                    (F.col("common") / F.col("sz_b")).alias("containment"),
                ),
            )
        ).alias("d")
    ).select("d.contained", "d.container", "d.containment")
    return directions.filter(F.col("containment") >= threshold).select(
        "contained", "container", F.round("containment", 6).alias("containment")
    )


def oracle_containment_pairs(
    table: str = "documents", n: int = 3, threshold: float = 0.8,
    max_df: int = 1000,
) -> str:
    return f"""
WITH sh AS (
    SELECT doc_id, unnest({_sql_shingles(n)}) AS shingle FROM {table}
),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
keep AS (SELECT shingle FROM sh GROUP BY shingle
         HAVING COUNT(*) BETWEEN 2 AND {max_df}),
shf AS (SELECT sh.* FROM sh JOIN keep USING (shingle)),
inter AS (
    SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS common
    FROM shf x JOIN shf y USING (shingle)
    WHERE x.doc_id < y.doc_id
    GROUP BY 1, 2
),
directions AS (
    SELECT i.a AS contained, i.b AS container,
           CAST(i.common AS DOUBLE) / sa.sz AS containment
    FROM inter i JOIN sizes sa ON sa.doc_id = i.a
    UNION ALL
    SELECT i.b AS contained, i.a AS container,
           CAST(i.common AS DOUBLE) / sb.sz AS containment
    FROM inter i JOIN sizes sb ON sb.doc_id = i.b
)
SELECT contained, container, ROUND(containment, 6) AS containment
FROM directions WHERE containment >= {threshold}
"""


# ------------------------------------------------------- cluster audit
def cluster_summary(docs: DataFrame) -> DataFrame:
    """Audit table for exact-duplicate clusters: one row per
    fingerprint group of size ≥ 2 with its representative (min
    doc_id), member count, distinct-source spread, and the byte bill
    (total chars, and chars that dedup would reclaim).  The question
    this answers at 100 TB is "WHERE is my duplication coming from" —
    a cluster spanning many sources is syndication; one source
    repeating itself is a crawler artifact (cf. the per-pair views:
    exact_duplicates gives the groups, this prices them).

    Shape: the same single hash-groupBy as exact_duplicates — one
    shuffle on the md5 fingerprint, every aggregate map-side
    combinable, output bounded by the number of duplicate groups.
    All-integer columns (driver-gate discipline)."""
    fp = docs.select(
        "doc_id",
        "source",
        F.length("text").cast("long").alias("__chars"),
        F.md5(F.lower(F.coalesce(_norm(F.col("text")), F.lit("")))).alias(
            "fingerprint"
        ),
    )
    return (
        fp.groupBy("fingerprint")
        .agg(
            F.min("doc_id").alias("representative"),
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("source").alias("n_sources"),
            F.sum("__chars").alias("total_chars"),
            (F.sum("__chars") - F.max("__chars")).alias(
                "reclaimable_chars"
            ),
        )
        .filter(F.col("n_docs") > 1)
    )


def oracle_cluster_summary(table: str = "documents") -> str:
    """DuckDB twin of :func:`cluster_summary` (same normalization as
    oracle_exact_duplicates; all-integer aggregates)."""
    from .text import _sql_norm

    norm = _sql_norm("text")
    return f"""
SELECT md5(lower(COALESCE({norm}, ''))) AS fingerprint,
       CAST(MIN(doc_id) AS BIGINT) AS representative,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
       CAST(SUM(length(text)) AS BIGINT) AS total_chars,
       CAST(SUM(length(text)) - MAX(length(text)) AS BIGINT)
           AS reclaimable_chars
FROM {table}
GROUP BY 1
HAVING COUNT(*) > 1
"""


def dup_inflation(docs: DataFrame) -> DataFrame:
    """Per-source duplication-inflation report: how many bytes each
    source's exact duplicates add, as exact-integer ppm — the number
    that prices a dedup pass BEFORE running it (a source at 40%
    inflation pays for MinHash; one at 0.1% doesn't).

    Two bounded hash aggregations: (source, fingerprint) first — one
    shuffle over fingerprint-sized rows, never the text — then a
    per-source rollup of the group table.  distinct_chars keeps ONE
    copy per fingerprint (its max length — copies are
    normalization-identical, so lengths differ only by collapsed
    whitespace); ``inflation_ppm = (total−distinct)·1e6 div total``."""
    fp = docs.select(
        "source",
        F.length("text").cast("long").alias("__chars"),
        F.md5(F.lower(F.coalesce(_norm(F.col("text")), F.lit("")))).alias(
            "__fp"
        ),
    )
    per_group = fp.groupBy("source", "__fp").agg(
        F.count(F.lit(1)).alias("n_copies"),
        F.sum("__chars").alias("chars_all"),
        F.max("__chars").alias("chars_one"),
    )
    return (
        per_group.groupBy("source")
        .agg(
            F.sum("n_copies").alias("n_docs"),
            F.count(F.lit(1)).alias("n_distinct"),
            F.sum("chars_all").alias("total_chars"),
            F.sum("chars_one").alias("distinct_chars"),
        )
        .withColumn(
            "inflation_ppm",
            F.expr(
                "(total_chars - distinct_chars) * 1000000"
                " div total_chars"
            ),
        )
    )


def oracle_dup_inflation(table: str = "documents") -> str:
    """DuckDB twin of :func:`dup_inflation` (all-integer)."""
    from .text import _sql_norm

    norm = _sql_norm("text")
    return f"""
WITH fp AS (
    SELECT source, CAST(length(text) AS BIGINT) AS chars,
           md5(lower(COALESCE({norm}, ''))) AS fp
    FROM {table}
),
per_group AS (
    SELECT source, fp, CAST(COUNT(*) AS BIGINT) AS n_copies,
           CAST(SUM(chars) AS BIGINT) AS chars_all,
           CAST(MAX(chars) AS BIGINT) AS chars_one
    FROM fp GROUP BY 1, 2
)
SELECT source,
       CAST(SUM(n_copies) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_distinct,
       CAST(SUM(chars_all) AS BIGINT) AS total_chars,
       CAST(SUM(chars_one) AS BIGINT) AS distinct_chars,
       CAST((SUM(chars_all) - SUM(chars_one)) * 1000000
            // SUM(chars_all) AS BIGINT) AS inflation_ppm
FROM per_group GROUP BY 1
"""


def near_dup_cluster_summary(
    docs: DataFrame, pairs: DataFrame
) -> DataFrame:
    """The fuzzy counterpart of :func:`cluster_summary`: one audit row
    per NEAR-duplicate cluster (connected component of the pair
    graph), with representative, member count, source spread, and
    total chars — "what would cluster-dedup actually merge, and where
    did it come from".  The heavy lifting is
    :func:`dedup_clusters`' label propagation over the pair graph
    (corpus never iterates); docs join the labels once on doc_id for
    the metadata rollup."""
    labels = dedup_clusters(pairs)
    member = labels.join(
        docs.select("doc_id", "source", F.length("text").cast("long").alias("__chars")),
        "doc_id",
    )
    return (
        member.groupBy(F.col("component").alias("representative"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("source").alias("n_sources"),
            F.sum("__chars").alias("total_chars"),
        )
        .filter(F.col("n_docs") > 1)
    )


def oracle_near_dup_cluster_summary(
    n: int = 3, threshold: float = 0.5, table: str = "documents"
) -> str:
    """DuckDB twin composed from the recursive-CTE cluster oracle."""
    clusters = oracle_dedup_clusters(n=n, threshold=threshold, table=table)
    return f"""
WITH labels AS ({clusters})
SELECT l.component AS representative,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT d.source) AS BIGINT) AS n_sources,
       CAST(SUM(length(d.text)) AS BIGINT) AS total_chars
FROM labels l JOIN {table} d ON d.doc_id = l.doc_id
GROUP BY 1
HAVING COUNT(*) > 1
"""


def dup_degree_stats(pairs: DataFrame) -> DataFrame:
    """Degree histogram of the near-duplicate pair graph: how many
    documents have exactly k near-dup partners — the shape that
    separates syndication cliques (heavy tail) from isolated
    re-posts (degree 1), and the early-warning for LSH parameter
    drift (a sudden fat tail means the banding got too permissive).
    Two bounded aggregations over the PAIR table (never the
    corpus)."""
    ends = pairs.select(F.col("a").alias("doc_id")).unionAll(
        pairs.select(F.col("b").alias("doc_id"))
    )
    deg = ends.groupBy("doc_id").agg(F.count(F.lit(1)).alias("degree"))
    return (
        deg.groupBy("degree")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def oracle_dup_degree_stats(
    n: int = 3, threshold: float = 0.5, table: str = "documents"
) -> str:
    pairs = oracle_ngram_jaccard_pairs(
        n=n, threshold=threshold, table=table
    )
    return f"""
WITH pairs AS ({pairs}),
ends AS (
    SELECT a AS doc_id FROM pairs
    UNION ALL
    SELECT b AS doc_id FROM pairs
),
deg AS (
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS degree
    FROM ends GROUP BY 1
)
SELECT degree, CAST(COUNT(*) AS BIGINT) AS n_docs
FROM deg GROUP BY 1
"""


# --------------------------------------------------- KMV corpus sketch


def kmv_sketch(
    docs: DataFrame,
    k: int = 64,
    ngram: int = 3,
    group_col: str = "source",
    salt_buckets: int = 64,
) -> DataFrame:
    """K-minimum-values sketch per group (Beyer et al. 2007): the ``k``
    lexicographically smallest DISTINCT ``md5(shingle)`` digests of
    each group's word-``ngram`` set — ``(grp, pos, h)`` rows.

    The sketch answers corpus-level similarity questions ("which
    sources duplicate each other", "how much does this crawl overlap
    the last one") WITHOUT ever joining documents: per-group state is
    k-sized and MERGEABLE — the union sketch is the k-min of the
    concatenation (see merge_kmv + the merge≡whole-corpus pytest), so
    shards/snapshots sketch independently and combine in k-sized
    exchanges.

    Scale shape: the same distinct-shingle scan minhash pays, then
    TWO-PHASE exact k-min selection — rank within (grp, salt) buckets
    first (if a digest is among a group's k smallest it is among its
    salt bucket's k smallest), then rank the ≤ salt_buckets·k
    survivors per group. Phase 1 parallelizes the per-group sort
    ``salt_buckets``-wide, so a hot group (one source = half the
    corpus) never serializes onto one task. md5 hex strings order
    identically in every engine — no float, bit-identical sketches at
    any partitioning."""
    from pyspark.sql import Window

    # the group id plays the doc role for the shingle scan (the scan
    # only consumes doc_id + text)
    base = docs.select(
        F.col(group_col).cast("string").alias("doc_id"), F.col("text")
    )
    sh = shingle_table(base, n=ngram, distinct=False)
    hashed = sh.select(
        F.col("doc_id").alias("grp"), F.md5("shingle").alias("h")
    ).distinct()
    hashed = hashed.withColumn(
        "__salt", F.pmod(F.xxhash64("h"), F.lit(salt_buckets))
    )
    w1 = Window.partitionBy("grp", "__salt").orderBy("h")
    survivors = (
        hashed.withColumn("__r1", F.row_number().over(w1))
        .filter(F.col("__r1") <= k)
        .drop("__salt", "__r1")
    )
    w2 = Window.partitionBy("grp").orderBy("h")
    return (
        survivors.withColumn("pos", F.row_number().over(w2))
        .filter(F.col("pos") <= k)
        .select("grp", "pos", "h")
    )


def merge_kmv(sketches: DataFrame, k: int = 64) -> DataFrame:
    """Union-merge of KMV sketches: k-min of the concatenated digest
    sets, regrouped — ``(grp, pos, h)`` in, same shape out. Feeding
    per-shard sketches (relabeled to one grp) reproduces the
    whole-corpus sketch exactly; exchanges are k-sized."""
    from pyspark.sql import Window

    w = Window.partitionBy("grp").orderBy("h")
    return (
        sketches.select("grp", "h")
        .distinct()
        .withColumn("pos", F.row_number().over(w))
        .filter(F.col("pos") <= k)
        .select("grp", "pos", "h")
    )


def kmv_source_similarity(
    docs: DataFrame,
    k: int = 64,
    ngram: int = 3,
    group_col: str = "source",
) -> DataFrame:
    """Pairwise group similarity from KMV sketches: for each group
    pair, the standard KMV Jaccard estimate — matches among the k
    smallest digests of the UNION, over the union sketch size
    (integer ppm). When a group has fewer than k distinct shingles the
    sketch is the full set and the estimate is the exact Jaccard.

    Everything after the sketch is k-sized: group sketches collapse to
    one array row each, and the pair stage is a broadcast self-join of
    |groups| rows — document bodies never meet.

    Up to ``max_local_groups`` groups the collapsed sketches are
    materialized once to the driver (bounded: groups × k digests) and
    the pair stage self-joins the LOCAL frame — without this, the
    self-join duplicates the whole sketch lineage and the corpus is
    scanned twice (caught by explain_audit). Past the bound the
    distributed frame persists for the self-join instead — same
    values, one materialization either way."""
    sk = kmv_sketch(docs, k=k, ngram=ngram, group_col=group_col)
    arrs = sk.groupBy("grp").agg(
        F.sort_array(F.collect_list("h")).alias("sk")
    )
    max_local_groups = 10_000
    local = arrs.limit(max_local_groups + 1).collect()
    if len(local) <= max_local_groups:
        arrs = docs.sparkSession.createDataFrame(
            [(r["grp"], list(r["sk"])) for r in local],
            "grp string, sk array<string>",
        )
    else:
        arrs = arrs.persist()
        arrs.count()
    a = arrs.select(
        F.col("grp").alias("source_a"), F.col("sk").alias("ska")
    )
    b = arrs.select(
        F.col("grp").alias("source_b"), F.col("sk").alias("skb")
    )
    pairs = a.join(
        F.broadcast(b), F.col("source_a") < F.col("source_b")
    )
    u = F.array_sort(F.array_union(F.col("ska"), F.col("skb")))
    kk = F.least(F.lit(k), F.size(u))
    kmin = F.slice(u, 1, kk)
    inter = F.array_intersect(F.col("ska"), F.col("skb"))
    n_common = F.size(F.array_intersect(kmin, inter))
    return pairs.select(
        "source_a",
        "source_b",
        kk.cast("long").alias("sketch_k"),
        n_common.cast("long").alias("n_common"),
        (
            n_common.cast("long") * F.lit(1_000_000)
        ).alias("__num"),
    ).withColumn(
        "jaccard_ppm", F.expr("__num div sketch_k")
    ).drop("__num")


def oracle_kmv_source_similarity(
    table: str = "documents",
    k: int = 64,
    ngram: int = 3,
    group_col: str = "source",
) -> str:
    """DuckDB twin: same distinct-md5 k-min per group (single-phase
    rank — the salt split is a parallelism refactoring with identical
    output), same union-k-min match count, same integer-ppm
    estimate."""
    return f"""
WITH sh AS (
    SELECT CAST({group_col} AS VARCHAR) AS grp,
           unnest({_sql_shingles(ngram)}) AS s
    FROM {table}
),
h AS (SELECT DISTINCT grp, md5(s) AS h FROM sh),
rk AS (SELECT grp, h,
              ROW_NUMBER() OVER (PARTITION BY grp ORDER BY h) AS pos
       FROM h),
sk AS (SELECT grp, h FROM rk WHERE pos <= {k}),
pairs AS (
    SELECT a.grp AS sa, b.grp AS sb
    FROM (SELECT DISTINCT grp FROM sk) a
    JOIN (SELECT DISTINCT grp FROM sk) b ON a.grp < b.grp
),
u AS (
    SELECT p.sa, p.sb, s.h,
           BOOL_OR(s.grp = p.sa) AS in_a,
           BOOL_OR(s.grp = p.sb) AS in_b
    FROM pairs p JOIN sk s ON s.grp IN (p.sa, p.sb)
    GROUP BY p.sa, p.sb, s.h
),
ru AS (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY sa, sb ORDER BY h) AS rn,
           COUNT(*) OVER (PARTITION BY sa, sb) AS usz
    FROM u
),
fin AS (
    SELECT sa, sb, LEAST({k}, usz) AS kk,
           SUM(CASE WHEN rn <= LEAST({k}, usz) AND in_a AND in_b
                    THEN 1 ELSE 0 END) AS n_common
    FROM ru GROUP BY sa, sb, usz
)
SELECT sa AS source_a, sb AS source_b,
       CAST(kk AS BIGINT) AS sketch_k,
       CAST(n_common AS BIGINT) AS n_common,
       CAST(n_common * 1000000 // kk AS BIGINT) AS jaccard_ppm
FROM fin
"""
