"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload graphrag_query --seed 1 --seconds 10 --trace 0

Run it from the repository root.  The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``.  With
``--trace 0`` the metrics are the end-to-end ones of ``BENCHMARK.json``;
with ``--trace 1`` the run replays its timed ops a second time with every
layer traced and reports the per-layer ones.  The line before it, starting
with ``# summary``, gives the workload's own figures under their own names
(``query_p50_s``, ``ingest_docs_per_s``, ...) with the core count, the
sample counts and the box load at the start and end of the run.

End-to-end metrics, each for the workload's primary op (a ``POST /query``
on ``graphrag_query``, a ``POST /add_documents`` on ``graph_ingest``, one
pass over the registered rows on ``pipeline_batch``):

- ``setup_s``: process start to the first timed op: session start, the
  standing-graph build and the untimed warm-up ops (three queries on
  ``graphrag_query``, one add with its read-back query on ``graph_ingest``).
- ``op_p50_s``: median latency of the primary op.
- ``jobs_per_op``: mean Spark jobs per primary op.

Throughput (``query_rps``, ``ingest_docs_per_s``) is on the summary line
only: on a shared 4-core box the speed of the whole machine drifts between
runs, and every timing gated by a bound is one more chance for that drift,
not the program, to fail the gate.

``peak_rss_mb``, the high-water resident memory of the driver JVM plus this
Python process, is a per-layer metric: the JVM heap grows at the garbage
collector's discretion, and its run-to-run spread (11-33% at sf0.1) is wider
than any bound an end-to-end metric may have.

``pipeline_batch`` runs from this command but is not listed in
``BENCHMARK.json``: one warm pass over its 18 rows takes about 70 s at sf0.1
on 4 cores (a cold one about 124 s), more than a run of the listed
workloads may take.

All state the engine writes lives in a per-run directory under
``.perfbench-run/`` in the working directory, removed when the run ends.
Input tables come from the directory ``bench.py`` reads
(``$SPARK_GRAFT_SF_DIR``); ``--sf`` picks a sibling scale factor.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def process_start_epoch() -> float:
    """Wall-clock time this process started, from /proc."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return time.time() - uptime + start_ticks / os.sysconf("SC_CLK_TCK")


STARTED = process_start_epoch()


def load_sentinel() -> dict:
    """Load average and the number of running processes, so a run taken on
    a busy box says so."""
    la1, la5, _ = os.getloadavg()
    running = 0
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                state = fh.read().rsplit(")", 1)[1].split()[0]
        except (OSError, IndexError):
            continue
        running += state == "R"
    return {"loadavg_1m": la1, "loadavg_5m": la5, "running_procs": running}


def rss_high_water_mb(jvm_pid: int) -> float:
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    with open(f"/proc/{jvm_pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", default="sf0.1", help="scale-factor directory name")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "vector_graph_rag_spark")):
        print(f"engine package not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from bench import SF_DIR

    sf_dir = os.path.join(os.path.dirname(SF_DIR.rstrip("/")), args.sf)
    if not os.path.isfile(os.path.join(sf_dir, "documents.parquet")):
        print(f"input tables not found in {sf_dir}", file=sys.stderr)
        return 2
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    base = os.path.join(os.getcwd(), ".perfbench-run")
    os.makedirs(base, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=base)
    # Python workers, scratch writers and the JVM all keep their temporary
    # files inside the run directory.
    os.environ["TMPDIR"] = run_dir
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    tempfile.tempdir = run_dir
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    try:
        return run(args, sf_dir, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass


def run(args, sf_dir: str, run_dir: str) -> int:
    from pyspark import SparkContext

    from perfbench.workloads import Bench, WORKLOADS
    from vector_graph_rag_spark.session import get_spark

    load_start = load_sentinel()
    cores = len(os.sched_getaffinity(0))
    spark = get_spark(
        app_name=f"perfbench-{args.workload}",
        cpus=cores,
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={run_dir} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    bench = Bench(spark, sf_dir, run_dir, args.seed, args.seconds, bool(args.trace))
    bench.setup["session_s"] = time.time() - STARTED
    try:
        result = WORKLOADS[args.workload](bench)
        setup_s = (bench.first_timed or time.time()) - STARTED
        peak = rss_high_water_mb(bench.stats.jvm_pid())
    finally:
        spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=60)
    attempted, failed = bench.counts()
    figures = {
        "setup_s": setup_s,
        **result["summary"],
        "error_rate": failed / attempted,
        "peak_rss_mb": peak,
    }
    summary = {
        "workload": args.workload,
        "seed": args.seed,
        "cores": cores,
        "setup": bench.setup,
        "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in figures.items()},
        "load_start": load_start,
        "load_end": load_sentinel(),
    }
    print("# summary " + json.dumps(summary))
    if args.trace:
        values = {**result["layers"], "peak_rss_mb": peak}
    else:
        values = {"setup_s": setup_s, **result["end_to_end"]}
    metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in values.items()}
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


SUMMARY_UNITS = {
    "query_rps": "req/s",
    "query_jobs": "jobs/request",
    "ingest_docs_per_s": "docs/s",
    "ingest_jobs": "jobs/add",
    "batch_jobs": "jobs/pass",
}


def unit_of(name: str) -> str:
    if name in SUMMARY_UNITS:
        return SUMMARY_UNITS[name]
    if name == "peak_rss_mb":
        return "MB"
    if name.endswith("_s") or name.endswith(".s"):
        return "s"
    if name.endswith("bytes"):
        return "bytes"
    if name == "error_rate" or name.endswith("per_input_byte"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
