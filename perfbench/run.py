"""Benchmark entry point.

    python3 perfbench/run.py --workload {ingest,query} --seed N --seconds S --trace {0,1}

Run from the repository root.  Each run starts one Spark session on
``local[<cpus>]``, generates its inputs from ``--seed`` in a fresh work
directory under ``.perfbench_work/``, sets up, warms up, then runs a
closed loop (one client) of a fixed number of ops, checks the outputs
and prints one JSON line last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones in
BENCHMARK.json; with ``--trace 1`` the per-layer ones, measured by
spans around the calls into each package module (written to
``.perfbench_out/``).  ``failed``/``attempted`` is the failed ratio:
ops that raised or failed a correctness check over ops attempted.

``--seconds`` is accepted for the benchmark contract and printed, but
it does not set how many ops are timed: each workload times a fixed
count, so that every run, on any commit and under any load, medians
over the same ops.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "sales_azure_data_engineer_project_spark"
REQUIRED = (PACKAGE, os.path.join("tools", "check_oracle.py"), "BENCHMARK.json")


def _environment(work: str) -> None:
    """Launcher settings, applied before the JVM starts: every core, local
    dirs inside the work directory, and a PYTHONPATH that lets Spark's
    Python workers import the package."""
    tmp = os.path.join(work, "tmp")
    for d in (tmp, os.path.join(work, "spark-local")):
        os.makedirs(d, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        SPARK_GRAFT_WAREHOUSE=os.path.join(work, "warehouse"),
        SPARK_GRAFT_DRIVER_MEM="2g",
        TMPDIR=tmp,
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    )
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def _shutdown(spark) -> None:
    """Stop Spark, end the JVM and wait until it and its Python workers
    have exited."""
    from measure import process_tree
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    tree = process_tree(proc.pid) if proc else []
    spark.stop()
    gateway.shutdown()
    if proc is None:
        return
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except Exception:  # noqa: BLE001 — any failure to stop gets a kill
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 20
    for pid in tree[1:]:
        while _alive(pid):
            if time.monotonic() > deadline:
                os.kill(pid, signal.SIGKILL)
                deadline = time.monotonic() + 5
            time.sleep(0.05)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def main(argv=None) -> int:
    t_start = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("ingest", "query"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = [p for p in REQUIRED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: run from a checkout of the repository; missing {missing}",
              file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _environment(work)
    sys.path.insert(0, ROOT)

    from harness import Run
    from measure import geomean

    import ingest
    import query

    from sales_azure_data_engineer_project_spark.session import get_spark

    spark = run = None
    try:
        spark = get_spark("perfbench", extra_conf={
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
        })
        run = Run(spark, work, args.seed, bool(args.trace),
                  session_s=time.perf_counter() - t_start)
        out = {"ingest": ingest.run, "query": query.run}[args.workload](run)
    except Exception:  # noqa: BLE001 — an op raised: report it as failed
        traceback.print_exc()
        if run is not None and run.attempted:
            print(json.dumps({"correct": False, "attempted": run.attempted,
                              "failed": max(run.failed, 1), "metrics": {}}))
        return 1
    finally:
        if spark is not None:
            _shutdown(spark)
        shutil.rmtree(work, ignore_errors=True)

    e2e = {
        "setup_s": run.setup_s,
        "latency_s": geomean(run.wall(k) for k in out["kinds"]),
        "cpu_s": geomean(run.cpu_of(k) for k in out["kinds"]),
    }
    if not all(e2e.values()):
        print(f"perfbench: no timed samples ({e2e})", file=sys.stderr)
        return 1
    _print_report(args, run, out, e2e)

    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    untraced_path = os.path.join(out_dir, f"{args.workload}-untraced.json")
    if args.trace:
        run.tracer.dump(os.path.join(out_dir, f"spans-{args.workload}-seed{args.seed}.jsonl"))
        values = dict(out["layers"])
        values.update({f"context.{k}": v for k, v in run.context.items()})
        values["trace.latency_s"] = e2e["latency_s"]
        values["trace.cpu_s"] = e2e["cpu_s"]
        values["trace.overhead_pct"] = 0.0
        if os.path.exists(untraced_path):
            with open(untraced_path) as f:
                base = json.load(f)["latency_s"]
            values["trace.overhead_pct"] = 100 * (e2e["latency_s"] / base - 1)
        names = [m["name"] for m in spec["per_layer"]]
        unknown = sorted(set(values) - set(names))
        if unknown:
            print(f"perfbench: metrics missing from BENCHMARK.json: {unknown}", file=sys.stderr)
            return 1
    else:
        with open(untraced_path, "w") as f:
            json.dump(e2e, f)
        values = e2e
        names = [m["name"] for m in spec["end_to_end"]]
    units = {m["name"]: m["unit"] for m in spec["per_layer"] + spec["end_to_end"]}
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {n: {"value": float(values.get(n, 0.0)), "unit": units[n]} for n in names},
    }))
    return 0


def _print_report(args, run, out, e2e) -> None:
    """The human-readable table: each op kind or query, the end-to-end
    values, the failed ratio and the context record."""
    print(f"# workload={args.workload} seed={args.seed} seconds={args.seconds} "
          f"trace={args.trace} cpus={os.environ['SPARK_GRAFT_CPUS']}")
    for kind, fields in out["report"].items():
        cells = "  ".join(f"{k}={v:.4f}" if isinstance(v, float) else f"{k}={v}"
                          for k, v in fields.items())
        print(f"{kind:20s} {cells}")
    print(f"{'end_to_end':20s} " + "  ".join(f"{k}={v:.4f}" for k, v in e2e.items()))
    ratio = run.failed / run.attempted if run.attempted else 0.0
    print(f"{'failed_ratio':20s} {ratio:.4f} ({run.failed}/{run.attempted})")
    print(f"{'context':20s} " + "  ".join(f"{k}={v:.4f}" for k, v in run.context.items()))


if __name__ == "__main__":
    sys.exit(main())
