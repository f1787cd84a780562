"""Seeded end-to-end and per-layer benchmark of pipit_spark.

Usage (from the repository root):

    python3 perfbench/run.py --workload otf2_ingest --seed 1 --seconds 1 --trace 0

One process is one run: it starts a Spark session on ``local[<cpus>]``,
generates the workload's inputs from the seed, runs passes of the
workload until ``--seconds`` have elapsed (at least one), checks every
result against the generator's ground truth outside the timed region,
and prints one JSON object as its last line of output. ``--trace 0``
reports the end-to-end metrics; ``--trace 1`` runs the same passes with
a span around each call and reports the per-layer metrics, writing the
spans to ``perfbench/out/``. Workloads, metrics and the layer map are
described in ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

SPANS = (
    "otf2.read", "matching", "checkpoint.write", "checkpoint.open",
    "profile.flat", "profile.load_imbalance", "profile.time_profile",
    "profile.idle_time", "profile.caller_callee",
    "comm.matrix", "comm.message_latency", "cct.build",
    "dedup.lsh", "dedup.jaccard",
)
SPAN_FIELDS = (
    ("wall_s", "s"), ("driver_s", "s"), ("jobs", "count"), ("tasks", "count"),
    ("cpu_ms", "ms"), ("shuffle_bytes", "B"), ("spill_bytes", "B"), ("gc_ms", "ms"),
)
DERIVED = (
    ("matching.events_per_cpu_s", "1/s"), ("checkpoint.bytes_per_event", "B"),
    ("dedup.lsh.candidates", "count"), ("dedup.lsh.useful_ratio", "ratio"),
    ("jvm.peak_rss_mb", "MB"), ("tracing.run_s", "s"), ("tracing.self_s", "s"),
)
END_TO_END = (("setup_s", "s"), ("run_s", "s"), ("records_per_s", "1/s"))
GENERATIONS = 3  # input generations per run; setup_s takes their median
DRIVER_MEM = "2g"
WATCHDOG_S = 170
RUNS_PER_WORKLOAD = 22  # how many runs of one workload a full check makes


def per_layer_names() -> list[tuple[str, str]]:
    return [(f"{s}.{f}", u) for s in SPANS for f, u in SPAN_FIELDS] + list(DERIVED)


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def _pin_environment(workdir: str) -> None:
    """Settings every process of the run inherits: the JVM, its Python
    workers, and the library's session factory."""
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # the library defaults to 32 task threads; pin them to this machine
    os.environ["SPARK_GRAFT_CPUS"] = str(_cpus())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # SPARK_LOCAL_DIRS would move Spark's scratch files out of the run's directory
    for var in ("SPARK_GRAFT_SHUFFLE", "SPARK_GRAFT_ARROW_BATCH", "SPARK_GRAFT_MATCH_KERNEL",
                "SPARK_GRAFT_MATCH_PARTITIONS", "PYSPARK_SUBMIT_ARGS", "SPARK_LOCAL_DIRS"):
        os.environ.pop(var, None)


def _session(workdir: str):
    from pipit_spark.session import get_spark

    local = os.path.join(workdir, "spark")
    spark = get_spark(
        app_name="perfbench",
        shuffle_partitions=_cpus(),
        extra_conf={
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(local, "warehouse"),
            # get_spark's direct-memory cap, plus a JVM temp dir in the run's own directory
            "spark.driver.extraJavaOptions":
                f"-XX:MaxDirectMemorySize=16g -Djava.io.tmpdir={os.environ['TMPDIR']}",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _settings(spark) -> dict:
    import pandas
    import pyarrow

    conf = spark.conf
    return {
        "master": spark.sparkContext.master,
        "shuffle_partitions": conf.get("spark.sql.shuffle.partitions"),
        "arrow_max_records_per_batch": conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"),
        "adaptive": conf.get("spark.sql.adaptive.enabled"),
        "driver_memory": DRIVER_MEM,
        "spark": spark.version, "pyarrow": pyarrow.__version__, "pandas": pandas.__version__,
        "python": platform.python_version(),
    }


def _jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM missing from /proc status")


def _descendants(pid: int) -> list[int]:
    parent = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    parent[int(entry)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
    out, frontier = [], [pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out += kids
        frontier += kids
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _stop(spark) -> None:
    """Stop the session and its JVM, and wait until every process the
    run started (the JVM and its Python workers) has ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    procs = _descendants(os.getpid())
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while any(_alive(p) for p in procs) and time.time() < deadline:
        time.sleep(0.1)
    for p in procs:
        if _alive(p):
            os.kill(p, signal.SIGKILL)


def run_pass(workload, tracer):
    """One closed-loop pass; results are checked after the timed region.
    Returns the pass span and, per call attempted, its span, output and
    problems."""
    done = []
    with tracer.span("pass") as pass_span:
        for call in workload.calls():
            with tracer.span(call.span) as sp:
                try:
                    out, err = call.fn(), None
                except Exception as e:  # a failed call is counted, not fatal
                    out, err = None, f"{call.span} raised {type(e).__name__}: {e}"
            done.append({"call": call, "span": sp, "out": out, "err": err})
            if err:
                break
    for d in done:
        d["problems"] = [d["err"]] if d["err"] else (d["call"].check(d["out"]) if d["call"].check else [])
    workload.cleanup()
    return pass_span, done


def end_to_end(setup_s, passes, workload) -> dict:
    run_s = statistics.median(passes)
    return {"setup_s": setup_s, "run_s": run_s, "records_per_s": workload.records / run_s}


def per_layer(tracer, workload, passes, rss_mb) -> dict:
    traced = {}
    for name in SPANS:
        for field, _ in SPAN_FIELDS:
            vals = [
                sp.as_dict()[field] for sp in tracer.spans
                if sp.name == name and sp.parent_id is not None
            ]
            traced[f"{name}.{field}"] = statistics.median(vals) if vals else 0
    traced.update({name: 0 for name, _ in DERIVED})
    traced.update(workload.layer_metrics(traced))
    traced["jvm.peak_rss_mb"] = rss_mb
    traced["tracing.run_s"] = statistics.median(passes)
    traced["tracing.self_s"] = tracer.self_s / len(passes)
    return traced


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_start = time.time()

    try:
        import pipit_spark  # noqa: F401
        import pyspark  # noqa: F401

        import workloads
        from spans import Tracer
    except ImportError as e:
        print(f"perfbench: cannot import the program under test: {e}", file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"one of {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    def _timeout(*_):
        raise TimeoutError(f"run exceeded {WATCHDOG_S} s")

    signal.signal(signal.SIGALRM, _timeout)
    signal.alarm(WATCHDOG_S)
    workdir = os.path.join(HERE, "work", str(os.getpid()))
    _pin_environment(workdir)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = _session(workdir)
        session_s = time.perf_counter() - t0

        workload = workloads.WORKLOADS[args.workload](spark, args.seed, workdir)
        gen_s, digests = [], set()
        for _ in range(GENERATIONS):
            t0 = time.perf_counter()
            digests.add(workload.generate())
            gen_s.append(time.perf_counter() - t0)
        if len(digests) != 1:
            raise RuntimeError(f"generator is not deterministic: {sorted(digests)}")
        t0 = time.perf_counter()
        workload.prepare()
        prepare_s = time.perf_counter() - t0
        setup_s = session_s + statistics.median(gen_s) + prepare_s

        tracer = Tracer(spark, enabled=bool(args.trace))
        passes, attempted, failed, problems = [], 0, 0, []
        t_measure = time.perf_counter()
        while not passes or time.perf_counter() - t_measure < args.seconds:
            pass_span, done = run_pass(workload, tracer)
            passes.append(pass_span.wall_s)
            attempted += len(done)
            for d in done:
                if d["problems"]:
                    failed += 1
                    problems += d["problems"]
            if any(d["err"] for d in done):
                break
        rss_mb = _jvm_peak_rss_mb(spark)

        print(f"workload {workload.name} seed {args.seed} trace {args.trace}")
        print("settings " + json.dumps(_settings(spark), sort_keys=True))
        print("inputs " + json.dumps({**workload.properties(), "sha256": digests.pop()}))
        print(f"setup: session {session_s:.3f} s + input generation (median of "
              f"{GENERATIONS}) {statistics.median(gen_s):.3f} s + prepare {prepare_s:.3f} s")
        for p in problems[:20]:
            print(f"CHECK FAILED: {p}")
        print(f"ops_failed {failed / attempted:.4f} ratio ({failed} of {attempted} calls)")
        print("pass wall times " + " ".join(f"{w:.3f} s" for w in passes))
        if args.trace:
            metrics = per_layer(tracer, workload, passes, rss_mb)
            units = dict(per_layer_names())
            out_dir = os.path.join(HERE, "out")
            os.makedirs(out_dir, exist_ok=True)
            spans_path = os.path.join(out_dir, f"{workload.name}-seed{args.seed}-spans.json")
            with open(spans_path, "w") as f:
                json.dump([sp.as_dict() for sp in tracer.spans], f, indent=1)
            print(f"spans written to {os.path.relpath(spans_path, ROOT)}")
        else:
            metrics = end_to_end(setup_s, passes, workload)
            units = dict(END_TO_END)
            print(f"jvm peak rss {rss_mb:.1f} MB (per-layer metric jvm.peak_rss_mb)")
        for k, v in metrics.items():
            print(f"{k} {v} {units[k]}")
        total = time.time() - t_start
        print(f"budget: this run {total:.1f} s before teardown; x{RUNS_PER_WORKLOAD} runs "
              f"of {workload.name} = {total * RUNS_PER_WORKLOAD:.0f} s")
        result = {
            "correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }
        _stop(spark)
        spark = None
        signal.alarm(0)
        print(json.dumps(result), flush=True)
        return 0
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(workdir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
