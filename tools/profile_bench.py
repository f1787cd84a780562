"""Per-query profiling for the optimization rounds: one steady bench
pass with, per headline query, wall seconds, the number of Spark JOBS
the query launched (driver round-trips — each is a scheduling cycle),
stage count, and the formatted plan written to plans/<tag>/<name>_<suffix>.txt.

Usage: python tools/profile_bench.py [suffix] [query ...]
  suffix: 'before' (default) or 'after' — plan file suffix
Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS as in bench.py;
     SPARK_GRAFT_PROFILE_TAG: plans subdir (default r12).

Job/stage counts come from the status tracker per job group — the
queries are run once cold (discarded; compilation) and once timed, to
mirror the bench's steady passes.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    tag = os.environ.get("SPARK_GRAFT_PROFILE_TAG", "r12")
    suffix = "before"
    args = sys.argv[1:]
    if args and args[0] in ("before", "after"):
        suffix = args[0]
        args = args[1:]

    from pipit_spark.session import get_spark
    from pipit_spark import queries as Q
    import bench

    spark = get_spark(app_name="pipit-spark-profile")
    spark.sparkContext.setLogLevel("ERROR")
    bench.warmup(spark, sf_dir)

    registry = Q.queries()
    names = args or bench.HEADLINE
    from pipit_spark.llm import dedup as _D

    def _minhash_xxh(s, d):
        return _D.minhash_lsh_pairs(
            Q.load(s, d, "documents"), num_hashes=16, bands=8
        )

    extras = {"doc_minhash_lsh": _minhash_xxh}
    Q.ensure_portable_ann_indexes(spark, sf_dir)

    plans_dir = os.path.join(os.path.dirname(__file__), "..", "plans", tag)
    os.makedirs(plans_dir, exist_ok=True)

    jtracker = spark.sparkContext._jsc.sc().statusTracker()

    # cold pass (compilation) — mirrors bench pass 0
    Q.clear_state(spark)
    for name in names:
        fn = extras.get(name) or registry[name]
        fn(spark, sf_dir).count()

    # timed pass with job accounting
    Q.clear_state(spark)
    rows = []
    for name in names:
        fn = extras.get(name) or registry[name]
        group = f"prof_{name}"
        spark.sparkContext.setJobGroup(group, name)
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        t_build = time.perf_counter() - t0
        n = df.count()
        dt = time.perf_counter() - t0
        spark.sparkContext.setJobGroup(None, None)
        jids = list(jtracker.getJobIdsForGroup(group))
        n_stages = 0
        for j in jids:
            info = jtracker.getJobInfo(j)
            if info.nonEmpty():
                n_stages += len(list(info.get().stageIds()))
        try:
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception:
            import io
            from contextlib import redirect_stdout

            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            plan = buf.getvalue()
        with open(os.path.join(plans_dir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(plan)
        rows.append((name, dt, t_build, len(jids), n_stages, n))
        print(
            f"{name:28s} {dt:7.3f}s build={t_build:6.3f}s "
            f"jobs={len(jids):3d} stages={n_stages:3d} rows={n}",
            flush=True,
        )

    rows.sort(key=lambda r: -r[1])
    total = sum(r[1] for r in rows)
    print(f"\n== total {total:.3f}s; sorted by time ==")
    for name, dt, tb, nj, ns, n in rows:
        print(
            f"{name:28s} {dt:7.3f}s build={tb:6.3f}s jobs={nj:3d} "
            f"stages={ns:3d}"
        )


if __name__ == "__main__":
    main()
