"""Run one benchmark workload for one seed and print one line of JSON.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload search --seed 7 --seconds 10 --trace 0

The last line of standard output is
``{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}``.
With ``--trace 0`` the metrics are the end-to-end metrics listed in
``BENCHMARK.json``; with ``--trace 1`` they are its per-layer metrics, and a
layer a workload leaves idle reads 0.  The full result of every run, under
the workloads' own metric names and with the tracing overhead of a traced
run against the untraced run of the same seed, is written to
``perfbench/.work/results/``.  Seeded inputs and expected results are cached
in ``perfbench/.work/inputs/``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
PACKAGE = "elasticsearch_data_import_handler_spark"


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _isolate(tmp: str) -> None:
    """Keep every file the run writes inside the checkout: Python and JVM
    temp files, Spark scratch space, and the workers' import path."""
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # the package's driver-heap knob: its 16g default lets the JVM grow past
    # 8 GB resident on the suite, too much for a shared host
    os.environ["EIDH_DRIVER_MEM"] = "2g"
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, ROOT)
    os.chdir(tmp)


def _stop(spark) -> None:
    """Stop Spark, the JVM and every process below this one, and wait."""
    from pyspark import SparkContext

    from tracing import descendants

    # workers are reparented when the JVM exits, so list them while they
    # still hang below this process
    started = descendants(os.getpid())
    gw = SparkContext._gateway
    if spark is not None:
        spark.stop()
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()

    def alive():
        return [p for p in started if os.path.exists(f"/proc/{p}")]
    deadline = time.time() + 20
    while alive() and time.time() < deadline:
        time.sleep(0.1)
    for pid in alive():
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while alive():
        time.sleep(0.1)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE} package next to {HERE}", file=sys.stderr)
        return 2
    spec = _spec()
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {args.workload}", file=sys.stderr)
        return 2

    tmp = os.path.join(WORK, "tmp", str(os.getpid()))
    os.makedirs(tmp)
    _isolate(tmp)

    from gen import Inputs
    from tracing import PeakRss, Tracer
    from workloads import WORKLOADS, Ctx

    spark = None
    try:
        with PeakRss() as rss:
            from elasticsearch_data_import_handler_spark.session import get_spark

            cpus = len(os.sched_getaffinity(0))
            spark = get_spark("perfbench", cpus=cpus)
            ctx = Ctx(spark, Inputs(WORK, args.seed), args.seconds,
                      bool(args.trace), tmp, Tracer(spark, bool(args.trace)))
            res = WORKLOADS[args.workload](ctx)
    finally:
        _stop(spark)
        shutil.rmtree(tmp, ignore_errors=True)

    e2e = {
        "setup_s": ctx.t_setup_done - T_START - ctx.excluded_s,
        "latency_p50_ms": res.latency_p50_ms,
        "throughput_per_s": res.throughput_per_s,
        "index_bytes_per_input_byte": res.index_bytes_per_input_byte,
        "peak_rss_mb": rss.peak_mb,
    }
    named = dict(res.named, setup_s=e2e["setup_s"], peak_rss_mb=rss.peak_mb,
                 ops_failed_frac=res.failed / res.attempted)
    record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "cpus": cpus, "attempted": res.attempted,
              "failed": res.failed, "end_to_end": e2e, "named": named,
              "per_layer": res.layers, "errors": res.errors}
    out_dir = os.path.join(WORK, "results")
    os.makedirs(out_dir, exist_ok=True)
    stem = os.path.join(out_dir, f"{args.workload}_seed{args.seed}")
    if args.trace:
        try:
            with open(f"{stem}_trace0.json") as f:
                base = json.load(f)["end_to_end"]
            record["trace_overhead"] = {k: v / base[k] - 1 for k, v in e2e.items()
                                        if base.get(k)}
        except FileNotFoundError:
            record["trace_overhead"] = None
    with open(f"{stem}_trace{args.trace}.json", "w") as f:
        json.dump(record, f, indent=1)

    if args.trace:
        metrics = {m["name"]: {"value": float(res.layers.get(m["name"], 0.0)),
                               "unit": m["unit"]} for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": float(e2e[m["name"]]), "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    for err in res.errors:
        print(err, file=sys.stderr)
    print(json.dumps({"correct": res.failed == 0, "attempted": res.attempted,
                      "failed": res.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
