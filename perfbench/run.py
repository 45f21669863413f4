"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout of the repository. Workloads (see
``workloads.py`` and ``BENCHMARK.json``): ``warehouse_queries``,
``telemetry_ingest``.

The last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: with ``--trace 0``
the end-to-end metrics, with ``--trace 1`` the per-layer metrics of a
traced run (spans around every layer call, a job group per op read
back from Spark's status store, ``/proc`` sampling).

Everything a run writes goes under ``.perfbench_out/`` at the root of
the checkout: the generated inputs, the warehouse and index state, the
Spark local and warehouse dirs and temp files live in the run's
``work`` dir and are deleted at the end; ``record.json``
(seed, run context, load average series, every op) and, for traced
runs, ``spans.jsonl`` stay.
"""

from __future__ import annotations

import time

PROCESS_T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "roborock_data_pipeline_spark"


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def configure_env(work: str) -> None:
    """Point every temp/scratch location of Python, the JVM and Spark
    into the run's work dir. Must run before pyspark is imported."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "spark-warehouse")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TZ"] = "UTC"  # collected timestamps match Spark's UTC session
    time.tzset()
    submit = [
        "--conf", "spark.ui.showConsoleProgress=false",
        "--driver-java-options", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(submit + ["pyspark-shell"])


def shutdown(spark) -> None:
    """Stop the session, then the JVM, and wait until it and every
    Python worker it started have exited."""
    from pyspark import SparkContext

    from spans import descendants

    kids = descendants(os.getpid())
    gateway = SparkContext._gateway
    if spark is not None:
        spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001
                proc.kill()
                proc.wait()
    deadline = time.time() + 20
    for pid in kids:
        while _alive(pid):
            if time.time() > deadline:
                os.kill(pid, signal.SIGKILL)
                deadline = time.time() + 5
            time.sleep(0.05)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: package {PACKAGE!r} not found in {ROOT}; run from "
              "a checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    if args.seconds <= 0:
        print("perfbench: --seconds must be positive", file=sys.stderr)
        return 2

    run_dir = os.path.join(
        ROOT, ".perfbench_out",
        f"{args.workload}-seed{args.seed}-trace{args.trace}-"
        f"{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}")
    work = os.path.join(run_dir, "work")
    configure_env(work)

    client = workloads.Client(args, work, PROCESS_T0)
    client.instrument()
    run, after_trace = workloads.WORKLOADS[args.workload]
    try:
        info = run(client)
        if args.trace:
            client.finish_trace()
    finally:
        shutdown(client.spark)
        client.spark = None
    if args.trace:
        if after_trace is not None:
            after_trace(client)
        client.tracer.write(os.path.join(run_dir, "spans.jsonl"))

    e2e, e2e_info = client.end_to_end()
    failed = sum(r["failed"] for r in client.ops)
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace,
        "context": {
            "nproc": os.cpu_count(),
            "affinity_cpus": len(os.sched_getaffinity(0)),
            "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
            "loadavg": client.loadavg,
        },
        "info": info, **e2e_info,
        "setup_samples_s": client.setup_samples,
        "check_problems": client.check_problems,
        "end_to_end": e2e,
        "per_layer": client.per_layer() if args.trace else None,
        "count_mismatches": client.count_mismatches,
        "counts": client.counts,
        "ops": client.ops,
        "reads_s": client.reads,
    }
    shutil.rmtree(work, ignore_errors=True)
    with open(os.path.join(run_dir, "record.json"), "w") as fh:
        json.dump(record, fh, indent=1, default=list)

    if args.trace:
        print(overhead_line(args.workload, run_dir, e2e))
        names = workloads.PER_LAYER
        values = record["per_layer"]
    else:
        names, values = workloads.END_TO_END, e2e
    result = {
        "correct": failed == 0 and not client.check_problems,
        "attempted": len(client.ops),
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in names.items()},
    }
    sys.stdout.flush()
    print(json.dumps(result), flush=True)
    return 0


def overhead_line(workload: str, run_dir: str, e2e: dict) -> str:
    """Tracing overhead: this traced run's end-to-end metrics against the
    latest untraced run of the same workload in this checkout."""
    out_root = os.path.dirname(run_dir)
    prior = sorted(
        (d for d in os.listdir(out_root)
         if d.startswith(f"{workload}-") and "-trace0-" in d
         and os.path.exists(os.path.join(out_root, d, "record.json"))),
        key=lambda d: os.path.getmtime(os.path.join(out_root, d)))
    if not prior:
        return "trace overhead: no untraced run of this workload to compare"
    with open(os.path.join(out_root, prior[-1], "record.json")) as fh:
        base = json.load(fh)["end_to_end"]
    parts = [f"{k} {e2e[k] / base[k] - 1:+.1%}" for k in e2e if base.get(k)]
    return f"trace overhead vs {prior[-1]}: " + ", ".join(parts)


if __name__ == "__main__":
    sys.exit(main())
