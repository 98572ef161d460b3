"""One benchmark run, in its own process group (started by ``run.py``).

    python3 -m perfbench.worker --workload dashboard --seed 1 --seconds 5 \
        --trace 0 --work <run dir> --out <result.json>

Generates the inputs, starts the Spark session, sets up, measures, and
writes the result to ``--out``. ``run.py`` adds the peak RSS it sampled
from outside and prints the result line.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import time

from perfbench import workloads as wl
from perfbench.trace import job_stats, read_event_log

# Input sizes per workload. ``smoke`` is the tiny set the smoke test uses.
SIZES = {
    "full": {"dashboard_rows": 100_000, "catalog_scale": 0.1},
    "smoke": {"dashboard_rows": 5_000, "catalog_scale": 0.01},
}

# Per-layer metrics every traced run reports; a layer the workload does
# not touch reads 0.
COMMON_LAYERS = (
    "session.start_s",
    "sources.layout_write_s",
    "trace.op_p50_s",
    "plans.cache.storage_mb",
    "storage.persisted_rdds_added",
    "spark.failed_tasks",
    "spark.retried_stages",
    "host.steal_share",
    "op.cpu_s",
)


# Driver heap (local mode runs every task in the driver JVM).
DRIVER_MEM = "1g"

END_TO_END_UNITS = {"op_p50_s": "s", "setup_s": "s", "peak_rss_mb": "MB"}


def unit_of(name: str) -> str:
    """Unit of a per-layer metric, from its name."""
    last = name.rsplit(".", 1)[-1]
    if last.endswith("_mb"):
        return "MB"
    if last.endswith("_s"):
        return "s"
    if last.endswith(("ratio", "share")):
        return "ratio"
    return "count"


def make_workload(name: str, run: wl.Run, size: dict):
    if name == "dashboard":
        return wl.Dashboard(run, size["dashboard_rows"])
    if name == "catalog":
        return wl.Catalog(run, size["catalog_scale"])
    raise SystemExit(f"unknown workload {name!r}")


def per_layer_names() -> list[str]:
    """Every per-layer metric name, in a fixed order."""
    names = list(COMMON_LAYERS)
    names += wl.DASHBOARD_LAYERS
    for q in wl.PINNED:
        names += [f"plans.{q}.{m}" for m in wl.QUERY_LAYERS]
    return names + ["catalog.pass_s", "catalog.query_gmean_s", "operators.python.run_s"]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--slots", type=int, required=True)
    ap.add_argument("--size", choices=tuple(SIZES), default="full")
    ap.add_argument("--corrupt", action="store_true")
    args = ap.parse_args()
    traced = bool(args.trace)

    run = wl.Run(None, args.work, args.seed, args.seconds, traced, args.corrupt)
    workload = make_workload(args.workload, run, SIZES[args.size])
    t = time.perf_counter()
    inputs = workload.generate()
    gen_s = time.perf_counter() - t
    print("# inputs " + json.dumps({"workload": args.workload, "gen_s": round(gen_s, 2), **inputs}),
          flush=True)

    from piholelongtermstats_spark.session import get_spark

    conf = {
        "spark.driver.memory": DRIVER_MEM,
        "spark.sql.warehouse.dir": os.path.join(args.work, "warehouse"),
        "spark.local.dir": os.path.join(args.work, "local"),
        # a fixed-size heap: when the JVM sizes the heap itself, the
        # collector's growth decisions swing resident memory by ~40% between
        # runs of the same input
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM} -Djava.io.tmpdir={os.path.join(args.work, 'tmp')}",
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(args.work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    t = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}", cpus=args.slots, extra_conf=conf)
    session_s = time.perf_counter() - t
    spark.sparkContext.setLogLevel("ERROR")
    run.spark = run.tracer.spark = spark
    try:
        setup = workload.setup()
        setup_s = session_s + sum(setup.values())
        workload.measure()
        e2e = {"op_p50_s": workload.metrics()["op_p50_s"], "setup_s": setup_s}
        layers = None
        if traced:
            layers = dict.fromkeys(per_layer_names(), 0.0)
            layers.update({"session.start_s": session_s, "trace.op_p50_s": e2e["op_p50_s"],
                           "op.cpu_s": statistics.median(run.op_cpu) if run.op_cpu else 0.0})
            layers.update(setup)
    finally:
        spark.stop()
    if traced:
        log = read_event_log(os.path.join(args.work, "eventlog"), args.slots)
        layers.update(workload.layers(log))
        everything = job_stats(log, list(log.jobs.values()))
        layers["spark.failed_tasks"] = everything["failed_tasks"]
        layers["spark.retried_stages"] = everything["retried_stages"]
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "e2e": e2e,
        "layers": layers,
        "failures": run.failures[:10],
        "detail": workload.detail(),
        "op_cpu_s": statistics.median(run.op_cpu) if run.op_cpu else 0.0,
        "units": dict(END_TO_END_UNITS, **{n: unit_of(n) for n in per_layer_names()}),
    }
    with open(args.out, "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
