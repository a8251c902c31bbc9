"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout of the repository. The run generates its
inputs from ``--seed``, starts one Spark session on ``local[<cpus>]``, times a
first pass (``setup_s``), then runs whole passes for ``--seconds`` seconds,
checking every output. The last line of standard output is one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``: the
``end_to_end`` metrics of BENCHMARK.json with ``--trace 0``, its
``per_layer`` metrics with ``--trace 1``. The line before it carries run
context that is not gated: hypervisor steal seconds, load average, the JVM's
peak resident memory (VmHWM, which varies by more than a tenth from run to
run), every pass's and every operation's measured seconds and the first
failures.

End-to-end metric definitions (every metric is reported on every workload):

- ``setup_s``: ``get_spark`` plus the workload's first, cold pass;
- ``wall_s``: seconds of one pass, from input to a checked result, as the
  sum over the pass's operations of each operation's median measured seconds
  (an operation is one query, one ETL pass or one stream replay);
- ``rows_per_s``: input rows of the pass (JSONL lines, or rows of the
  generated tables) divided by ``wall_s``;
- ``query_geomean_s``: geometric mean over the pass's operations of each
  operation's median measured seconds;
- ``sec_per_batch``: the streaming operation's median measured seconds
  divided by its micro-batches (on a workload without one, ``wall_s``: its
  pass counts as one batch);
- ``ops_ok_ratio``: operations that ran and returned a correct output,
  divided by operations attempted.

A layer that a workload does not exercise reports 0 for its per-layer
metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def load_spec() -> dict:
    with open(ROOT / "BENCHMARK.json") as f:
        return json.load(f)


def configure_environment(work: Path) -> None:
    """Keep every file Spark and Python write inside the run's directory and
    pin the session to the cores this process may use."""
    for sub in ("tmp", "spark-local"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(work / "tmp")
    java_opts = f"-Djava.io.tmpdir={work / 'tmp'}"
    # Also covers spark-submit's launcher JVM, which would otherwise write
    # its perf-data file under the system temp directory.
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join([
        "--conf", f"spark.driver.extraJavaOptions={java_opts}",
        "--conf", "spark.ui.showConsoleProgress=false", "pyspark-shell",
    ])
    import tempfile

    tempfile.tempdir = str(work / "tmp")


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def run(args, spec: dict, work: Path) -> tuple[dict, dict]:
    from workloads import WORKLOADS
    from tracing import HostSample, jvm_peak_rss_mb

    workload = WORKLOADS[args.workload](str(work), args.seed, args.small)
    workload.prepare()
    host = HostSample()

    from pipeline_apache_beam_entrega1_cs_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    t1 = time.perf_counter()
    try:
        workload.first_pass(spark)
        t2 = time.perf_counter()
        workload.after_first_pass(spark)
        workload.measure(spark, args.seconds, traced=bool(args.trace))
        rss = jvm_peak_rss_mb(spark)
    finally:
        stop_spark(spark)

    if args.trace:
        metrics = {"session.start_s": t1 - t0, "session.warmup_s": t2 - t1,
                   **workload.per_layer_common(), **workload.per_layer()}
        declared = spec["per_layer"]
    else:
        failed = len(workload.failures)
        metrics = {"setup_s": t2 - t0,
                   "ops_ok_ratio": (workload.attempted - failed) / workload.attempted,
                   **workload.end_to_end()}
        declared = spec["end_to_end"]
    units = {m["name"]: m["unit"] for m in declared}
    unknown = sorted(set(metrics) - set(units))
    if unknown:
        raise RuntimeError(f"metrics not declared in BENCHMARK.json: {unknown}")
    out = {n: {"value": float(metrics.get(n, 0.0)), "unit": u} for n, u in units.items()}
    context = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
               **host.finish(), "jvm_peak_rss_mb": rss, "pass_walls": workload.untraced_walls,
               "op_walls": workload.op_walls,
               "traced_pass_walls": workload.traced_walls,
               "failures": workload.failures[:20]}
    if args.trace:
        context["spans"] = workload.tracer.dump()
    return {
        "correct": not workload.failures,
        "attempted": workload.attempted,
        "failed": len(workload.failures),
        "metrics": out,
    }, context


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    parser.add_argument("--small", action="store_true",
                        help="measure at the smallest input size (self-test)")
    args = parser.parse_args(argv)

    sys.path.insert(0, str(ROOT))
    # Fail before doing any work when the package is not there.
    import pipeline_apache_beam_entrega1_cs_spark.session  # noqa: F401

    spec = load_spec()
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        parser.error(f"unknown workload {args.workload!r}")
    work = ROOT / ".perfbench_work" / f"run-{os.getpid()}"
    configure_environment(work)
    try:
        result, context = run(args, spec, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"context": context}))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
