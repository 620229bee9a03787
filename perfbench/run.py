"""Benchmark driver: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 15 --trace 0

Run from the repository root. It generates the workload's inputs from the
seed, runs the workload against the ``unichem2index_spark`` package found
there on a local Spark session, checks every query result against the
BM25 oracle, and prints diagnostics followed by, as the last line of
stdout, ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end metrics of BENCHMARK.json;
with ``--trace 1`` they are its per-layer metrics, and the spans are
written to ``.bench_work/trace-<workload>-<seed>.json``.

Everything it writes stays under ``.bench_work/`` in the working directory.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

# Spark cores, chosen by measurement on a 4-core host: over three
# 60-query windows, local[2] gave p50 316-378 ms and 38-39 batched
# queries/s, local[4] 394-443 ms and 29-35 queries/s.
CORES = 2
DRIVER_MEM = "1g"
# One index shard for these small corpora: each query then runs one kernel
# task instead of waiting on the slower of two; on the same host serve's
# search_p50_ms fell from 420-570 ms to 350-360 ms over the same seeds.
SHARDS = 1
# Printed in the diagnostics line only: op_fail_ratio is 0 on a correct
# program (its counts are the result line's attempted/failed);
# update_visible_s is measured on churn only (an upsert costs ~12 s, more
# than the serve run has room for); the tail percentile is the highest one
# the window's sample count supports with ten samples beyond it, printed
# when that is at least p50.
EXTRA_UNITS = {"op_fail_ratio": "ratio", "update_visible_s": "s"}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def spark_env(root: str, work: str) -> None:
    """Keep every file Spark, the JVM and Python workers write under
    ``work``; let workers import the program from ``root``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    # a fixed-size driver heap (-Xms = -Xmx) keeps peak PSS comparable
    # between runs: a growing heap's size depends on GC timing
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf spark.ui.showConsoleProgress=false",
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -Dderby.system.home={work} -Xms{DRIVER_MEM}'",
        "pyspark-shell",
    ])


def stop_spark(spark) -> None:
    """Stop the session, then the driver JVM: closing its stdin makes the
    gateway exit; wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def wait_gone(pids, timeout: float = 30.0) -> None:
    """Wait for every process the run started (JVM, Python workers);
    kill any left after ``timeout``."""
    pids = {p for p in pids if p != os.getpid()}
    deadline = time.monotonic() + timeout
    while pids and time.monotonic() < deadline:
        pids = {p for p in pids if os.path.exists(f"/proc/{p}")}
        time.sleep(0.1)
    for p in pids:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def result_line(spec: dict, kind: str, values: dict, attempted: int, failed: int) -> str:
    metrics = {}
    for m in spec[kind]:
        metrics[m["name"]] = {"value": float(values[m["name"]]), "unit": m["unit"]}
    return json.dumps({
        "correct": failed == 0 and attempted > 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    })


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "unichem2index_spark", "__init__.py")):
        print("perfbench: no unichem2index_spark package in the working "
              "directory; run from the repository root", file=sys.stderr)
        return 2
    sys.path.insert(1, root)
    import workloads

    if args.workload not in workloads.PLANS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.PLANS)}", file=sys.stderr)
        return 2
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    work = os.path.join(root, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    spark_env(root, work)

    from harness import (
        HostDiag, PssSampler, Tracer, median, percentile, percentile_supported,
    )
    from unichem2index_spark.session import get_spark

    cores = min(CORES, os.cpu_count() or 1)
    master = f"local[{cores}]"
    diag = HostDiag(master)
    with PssSampler() as pss:
        t = time.perf_counter()
        spark = get_spark(f"perfbench-{args.workload}", master=master)
        ctx = workloads.Ctx(
            spark=spark, seed=args.seed, seconds=args.seconds,
            tracer=Tracer(bool(args.trace), spark.sparkContext), work=work,
            shards=SHARDS, t_process=T_PROCESS,
            t_spark_s=time.perf_counter() - t,
        )
        if args.trace:
            import layers

            layers.count_manifest_commits(ctx)
        try:
            e2e = workloads.run(args.workload, ctx)
        finally:
            stop_spark(spark)
    wait_gone(pss.seen)
    e2e["peak_pss_mb"] = pss.peak_kib / 1024
    e2e["op_fail_ratio"] = ctx.failed / max(1, ctx.attempted)
    units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    units.update(EXTRA_UNITS)
    tail_p = percentile_supported(len(ctx.lat_s))
    if tail_p >= 50:
        e2e[f"search_p{tail_p}_ms"] = percentile(ctx.lat_s, tail_p) * 1000
        units[f"search_p{tail_p}_ms"] = "ms"
    report = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "host": diag.report(),
        "spark_start_s": ctx.t_spark_s,
        "search_samples": len(ctx.lat_s),
        "end_to_end": {
            k: {"value": v, "unit": units[k]} for k, v in e2e.items()
        },
    }
    if args.trace:
        import layers

        on, off = median(ctx.samples.pop("trace.on_ms")), median(ctx.samples.pop("trace.off_ms"))
        report["per_layer"] = layers.summarize(ctx)
        report["trace_overhead"] = {
            "query_p50_traced_ms": on, "query_p50_untraced_ms": off,
            "overhead_ms": on - off,
        }
        with open(os.path.join(root, ".bench_work",
                               f"trace-{args.workload}-{args.seed}.json"), "w") as f:
            json.dump(ctx.tracer.spans, f)
    shutil.rmtree(work, ignore_errors=True)

    kind, values = ("per_layer", report["per_layer"]) if args.trace else ("end_to_end", e2e)
    line = result_line(spec, kind, values, ctx.attempted, ctx.failed)
    print(json.dumps({"diagnostics": report}))
    print(line, flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
