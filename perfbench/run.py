"""Benchmark entry point.

    python3 perfbench/run.py --workload query|ingest --seed N \\
        --seconds S --trace 0|1

Run from the root of a checkout.  The run generates its inputs from the
seed under ``.perfbench/`` (and deletes them at exit), starts a
``local[4]`` session through the library's ``get_spark``, sets up,
measures for ``--seconds`` seconds, checks every output and prints one
JSON line last: ``correct``, ``attempted``, ``failed`` and ``metrics``
(the end-to-end metrics untraced, the per-layer metrics traced).  A
traced run also writes its spans and per-module numbers to
``.perfbench/traces/``.  Everything else goes to standard error.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.getcwd()
CPUS = 4


def _isolate(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # every run measures the same session: a 2g driver, not get_spark's
    # 8g default, which makes a run slower and twice as large (DESIGN.md)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        # -XX:-UsePerfData: no hsperfdata file under the system /tmp
        f"--conf spark.driver.extraJavaOptions='-Djava.io.tmpdir={tmp} "
        "-XX:-UsePerfData' "
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell")
    import tempfile
    tempfile.tempdir = tmp


def _stop(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        proc.wait(timeout=60)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="axonops benchmark")
    ap.add_argument("--workload", required=True,
                    choices=("query", "ingest"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "axonops_schema_registry_spark")):
        print("perfbench: run from the root of a checkout that holds "
              "axonops_schema_registry_spark/", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    _isolate(work)

    from perfbench import gen
    from perfbench.layers import peak_rss_mb
    from perfbench.report import end_to_end, per_layer

    traced = bool(args.trace)
    setup: dict[str, float] = {}
    t0 = time.perf_counter()
    from axonops_schema_registry_spark.session import get_spark
    spark = get_spark("perfbench", cpus=CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    setup["session"] = time.perf_counter() - t0
    try:
        from perfbench.harness import Harness

        h = Harness(spark, traced)
        parts = {"query": ("registry", "tables", "plan"),
                 "ingest": ("tables", "audit", "plan")}[args.workload]
        inputs = os.path.join(work, "inputs")
        with h.tracer.span("run", seed=args.seed), \
                h.tracer.span("workload", name=args.workload):
            t = time.perf_counter()
            gen.generate(args.seed, inputs, parts)
            setup["generate"] = time.perf_counter() - t
            if args.workload == "query":
                from perfbench.query import Query as W
            else:
                from perfbench.ingest import Ingest as W
            w = W(spark, h, inputs)
            t = time.perf_counter()
            w.reference()
            setup["reference"] = time.perf_counter() - t
            t = time.perf_counter()
            w.warm()
            setup["warm"] = time.perf_counter() - t
            w.run(args.seconds)
            setup["warm"] += w.warm_in_run_s
        ops = h.ops
        rss = peak_rss_mb([os.getpid(), _jvm_pid()])
        failed = sum(1 for o in ops if not o["ok"])
        for o in ops:
            if not o["ok"]:
                print(f"perfbench: FAILED {o['label']}: "
                      f"{o.get('error', 'wrong answer')}", file=sys.stderr)
        if traced:
            metrics = per_layer(ops, h.tracer.spans, setup, rss)
            tables = _tables(w, ops, h.tracer.spans)
            out_dir = os.path.join(ROOT, ".perfbench", "traces")
            os.makedirs(out_dir, exist_ok=True)
            path = os.path.join(out_dir,
                                f"{args.workload}-seed{args.seed}.json")
            h.tracer.write(path, workload=args.workload, seed=args.seed,
                           setup=setup, modules=tables)
            print(f"perfbench: spans and module tables in {path}",
                  file=sys.stderr)
        else:
            metrics = end_to_end(ops, setup)
            tables = _tables(w, ops, [])
        print(json.dumps({"setup": setup, "modules": tables,
                          "end_to_end": end_to_end(ops, setup)},
                         default=str), file=sys.stderr)
    finally:
        _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": failed == 0, "attempted": len(ops), "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()}}))
    return 0


def _tables(w, ops: list[dict], spans: list[dict]) -> dict:
    """The per-module tables.  They are diagnostics: when failed
    operations leave them incomplete the run still prints its result."""
    from perfbench.report import module_tables

    try:
        return module_tables(w, ops, spans)
    except Exception as e:
        return {"error": f"{type(e).__name__}: {e}"}


def _jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


if __name__ == "__main__":
    # import the checkout's packages, not this directory's modules
    sys.path[0] = ROOT
    sys.exit(main())
