"""Seeded benchmark of ocr_spark: one workload, one seed, one JSON result.

    python3 perfbench/run.py --workload extract_batch --seed 1 --seconds 10 --trace 0

Runs from the root of a checkout of the repository. Starts the program's
Spark session at ``local[<cores>]`` in this one driver process, times the
set-up, builds (or reuses) the seeded inputs, runs the workload's measured
loop for about ``--seconds``, checks every output against the serial oracle
and prints, as its last stdout line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1``
the per-layer ones (see LAYERS.md). The line before it holds the host
disclosure for the measured section. Scratch data lives under
``.perfbench_work/`` in the checkout; inputs are cached there per
(workload, seed, size).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DRIVER_MEM = "3g"


def _metric_units(kind: str) -> dict[str, str]:
    """name -> unit of the ``end_to_end`` or ``per_layer`` metrics that
    ``BENCHMARK.json`` at the checkout root declares."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for every child to end."""
    from pyspark import SparkContext

    from perfbench.hostprobe import descendants

    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)
    deadline = time.time() + 30
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.05)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def main(argv=None) -> int:
    if not (os.path.isfile(os.path.join(ROOT, "ocr_spark", "__init__.py"))
            and os.path.isfile(os.path.join(ROOT, "BENCHMARK.json"))):
        print("perfbench: no ocr_spark package or BENCHMARK.json beside "
              "perfbench/; run from the root of a full checkout", file=sys.stderr)
        return 2
    args = _parse(argv)
    sys.path.insert(0, ROOT)
    from perfbench import hostprobe, workloads
    from perfbench.inputs import code_digest
    from perfbench.tracing import Tracer

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"run-{os.getpid()}")
    cache = os.path.join(base, "cache", f"{args.workload}-{code_digest(ROOT)}")
    tmp = os.path.join(work, "tmp")
    for d in (tmp, cache):
        os.makedirs(d, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    # a fixed 3 GiB cap on the driver heap keeps the JVM's footprint small
    # on a shared box; the heap grows as the program touches it
    os.environ["OCR_SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # the launcher JVM that spark-submit runs first would write /tmp too
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    cores = _cores()
    tracer = Tracer(enabled=bool(args.trace))

    from ocr_spark.operators.extract_op import extract_pages
    from ocr_spark.session import get_spark
    from ocr_spark.sources.pages import synth_pages

    t = time.perf_counter()
    with tracer.span("session.get_spark"):
        spark = get_spark(
            master=f"local[{cores}]",
            app_name="perfbench",
            extra_conf={
                "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            },
        )
    start_s = time.perf_counter() - t
    try:
        t = time.perf_counter()
        with tracer.span("extract_op.worker_warm"):
            extract_pages(synth_pages(spark, 8, seed=args.seed)).write.format(
                "noop").mode("overwrite").save()
        warm_s = time.perf_counter() - t
        # from process start: interpreter, imports, JVM and session, worker boot
        setup_s = hostprobe.process_age_s()

        from perfbench.sparkstats import SparkStats

        ctx = workloads.Ctx(
            spark=spark, work=work, cache=cache, seed=args.seed,
            seconds=args.seconds, cores=cores,
            jvm_pid=spark.sparkContext._gateway.proc.pid, tracer=tracer,
            stats=SparkStats(spark),
        )
        with tracer.span(f"workload.{args.workload}"):
            res = workloads.WORKLOADS[args.workload](ctx)
    finally:
        t = time.perf_counter()
        _stop_spark(spark)
        stop_s = time.perf_counter() - t
    shutil.rmtree(work, ignore_errors=True)
    run_s = hostprobe.process_age_s()

    if args.trace:
        units = _metric_units("per_layer")
        # a layer the workload does not exercise reads 0
        values = dict.fromkeys(units, 0.0)
        values.update(res.layers)
        values["session.start_s"] = start_s
        values["extract_op.worker_warm_s"] = warm_s
    else:
        units = _metric_units("end_to_end")
        values = {
            "setup_s": setup_s,
            "docs_per_s": res.docs / res.docs_s,
            "batch_p50_s": statistics.median(res.walls),
            "peak_rss_mb": res.host["peak_rss_mb"],
        }
    if set(values) != set(units):
        raise RuntimeError(f"metrics differ from BENCHMARK.json: {sorted(set(values) ^ set(units))}")
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cores": cores, "n_units": len(res.walls),
        "unit_walls_s": res.walls, "measured_s": res.measured_s,
        "setup": {"setup_s": setup_s, "session_start_s": start_s,
                  "worker_warm_s": warm_s, "stop_s": stop_s, "run_s": run_s},
        "host": res.host, "notes": res.notes,
        "self_times_s": tracer.self_times(), "spans": tracer.spans,
    }
    rec_dir = os.path.join(base, "records")
    os.makedirs(rec_dir, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(rec_dir, name), "w") as f:
        json.dump(record, f, indent=1, default=str)
    print(json.dumps({"host": res.host, "n_units": len(res.walls),
                      "unit_walls_s": res.walls, "setup": record["setup"]}))
    print(json.dumps({
        "correct": res.failed == 0 and res.attempted > 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
