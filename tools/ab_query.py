"""A/B a single registry query: median of N steady passes, bench
methodology (clear_state between passes, cold pass discarded).

Usage: PYTHONPATH=. python tools/ab_query.py <query> [reps]
"""

from __future__ import annotations

import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    name = sys.argv[1]
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 5

    from pipit_spark.session import get_spark
    from pipit_spark import queries as Q
    import bench

    spark = get_spark(app_name=f"ab-{name}")
    spark.sparkContext.setLogLevel("ERROR")
    bench.warmup(spark, sf_dir)
    registry = Q.queries()
    if name == "doc_minhash_lsh_xxh":
        from pipit_spark.llm import dedup as _D

        fn = lambda s, d: _D.minhash_lsh_pairs(  # noqa: E731
            Q.load(s, d, "documents"), num_hashes=16, bands=8
        )
    elif name == "emb_rrf_fusion_old":
        from pipit_spark.llm import similarity as V
        from pyspark.sql import functions as F

        def fn(s, d):  # the pre-r12 two-tier composition
            emb = Q.load(s, d, "embeddings")
            qs = emb.filter(F.col("vec_id") % 25 == 0)
            corpus = emb.filter(F.col("vec_id") % 25 != 0)
            return V.rrf_fuse(
                [
                    V.lsh_topk_portable(corpus, qs, k=5),
                    V.ivf_topk_portable(
                        corpus, qs, k=5, nlist=8, nprobe=3
                    ),
                ],
                k=5,
            )
    elif name == "doc_training_set_old":
        from pipit_spark.llm import pipeline as _P
        from pipit_spark.llm.dedup import decontaminate
        from pipit_spark.llm.sampling import pack_sequences
        from pyspark.sql import functions as F

        def fn(s, d):  # the pre-r12 survivors-restricted decontaminate
            docs = Q.load(s, d, "documents")
            corpus = docs.filter(F.col("doc_id") >= 25)
            eval_docs = docs.filter(F.col("doc_id") < 25)
            clean = _P.clean_corpus(corpus)
            survivors_text = corpus.join(
                clean.select("doc_id"), "doc_id", "left_semi"
            )
            contaminated = decontaminate(
                survivors_text, eval_docs, n=5
            ).select("doc_id")
            final = clean.join(contaminated, "doc_id", "left_anti")
            return pack_sequences(
                final, context_len=512, n_shards=16, tokens_col="n_tokens"
            )
    elif name in ("doc_tfidf_old", "doc_bm25_old"):
        # pre-r12 df branch: count(lit(1)) lets pruning rewrite the
        # branch's tf aggregate to a distinct, so the tf exchange is
        # not stage-reused and the corpus explode runs twice
        from pipit_spark.llm import text as X
        from pipit_spark.llm.text import _tokens
        from pyspark.sql import functions as F
        from pyspark.sql import Window

        if name == "doc_tfidf_old":
            def fn(s, d):
                docs = Q.load(s, d, "documents")
                tok = docs.select(
                    "doc_id",
                    F.explode(_tokens(F.col("text"))).alias("token"),
                ).filter(F.length("token") > 0)
                tf = tok.groupBy("doc_id", "token").agg(
                    F.count(F.lit(1)).alias("tf")
                )
                dfreq = tf.groupBy("token").agg(
                    F.count(F.lit(1)).alias("df")
                )
                n_docs = docs.agg(
                    F.countDistinct("doc_id").alias("__n")
                )
                scored = tf.join(dfreq, "token").crossJoin(
                    F.broadcast(n_docs)
                )
                score = F.expr("tf * __n * 1000000 div df").alias(
                    "score_ppm"
                )
                w = Window.partitionBy("doc_id").orderBy(
                    F.desc("score_ppm"), F.asc("token")
                )
                return (
                    scored.select("doc_id", "token", "tf", "df", score)
                    .withColumn(
                        "rank", F.row_number().over(w).cast("int")
                    )
                    .filter(F.col("rank") <= 3)
                )
        else:
            def fn(s, d):
                # explicit pre-r12 bm25 shape: count(1) df branch (no
                # exchange reuse) + the corpus-sized dl broadcast join
                from pyspark.sql import Window as W

                queries = {"q1": "fast table", "q2": "query value data"}
                k, k1, b = 5, 1.2, 0.75
                docs = Q.load(s, d, "documents")
                terms = sorted(
                    {t for q in queries.values() for t in q.split() if t}
                )
                qmap = [
                    (qid, t)
                    for qid, q in sorted(queries.items())
                    for t in sorted(set(q.split()))
                    if t
                ]
                qdf = F.broadcast(
                    s.createDataFrame(
                        qmap, "query_id string, token string"
                    )
                )
                dl = docs.select(
                    "doc_id",
                    F.size(
                        F.filter(
                            _tokens(F.col("text")),
                            lambda t: F.length(t) > 0,
                        )
                    ).cast("long").alias("dl"),
                )
                tf = (
                    docs.select(
                        "doc_id",
                        F.explode(_tokens(F.col("text"))).alias("token"),
                    )
                    .filter(F.col("token").isin(terms))
                    .groupBy("doc_id", "token")
                    .agg(F.count(F.lit(1)).alias("tf"))
                )
                dfreq = tf.groupBy("token").agg(
                    F.count(F.lit(1)).alias("df")
                )
                scalars = F.broadcast(
                    dl.agg(
                        F.count(F.lit(1)).alias("__n"),
                        (F.sum("dl") / F.count(F.lit(1))).alias(
                            "__avgdl"
                        ),
                    )
                )
                idf = (F.col("__n") - F.col("df") + 0.5) / (
                    F.col("df") + 0.5
                )
                sat = (F.col("tf") * (k1 + 1)) / (
                    F.col("tf")
                    + k1 * (1 - b + b * F.col("dl") / F.col("__avgdl"))
                )
                agg_score = (
                    F.sum(F.floor(idf * sat * 1e6).cast("long"))
                    / F.lit(1e6)
                )
                scored = (
                    tf.join(F.broadcast(dfreq), "token")
                    .join(dl, "doc_id")
                    .crossJoin(scalars)
                    .join(qdf, "token")
                    .groupBy("query_id", "doc_id")
                    .agg(
                        agg_score.alias("score"),
                        F.count(F.lit(1)).alias("n_terms"),
                    )
                )
                w = W.partitionBy("query_id").orderBy(
                    F.desc("score"), F.asc("doc_id")
                )
                return (
                    scored.withColumn(
                        "rank", F.row_number().over(w).cast("int")
                    )
                    .filter(F.col("rank") <= k)
                    .select(
                        "query_id",
                        "doc_id",
                        F.round("score", 4).alias("score"),
                        F.col("n_terms").cast("int").alias("n_terms"),
                        "rank",
                    )
                )
    else:
        fn = registry[name]
    if name.startswith("emb_rrf_fusion"):
        Q.ensure_portable_ann_indexes(spark, sf_dir)
    ts = []
    for i in range(reps + 1):
        Q.clear_state(spark)
        t0 = time.perf_counter()
        n = fn(spark, sf_dir).count()
        dt = round(time.perf_counter() - t0, 3)
        ts.append(dt)
        print(f"# pass{i} {name}: {dt:.3f}s ({n} rows)", file=sys.stderr)
    steady = ts[1:]
    print(
        f"{name}: median={statistics.median(steady):.3f} "
        f"min={min(steady):.3f} all={ts}"
    )


if __name__ == "__main__":
    main()
