"""Benchmark entry point.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 5 --trace 0

Run it from the root of a checkout. Each run gets its own work directory
under ``.perfbench_runs/`` (inputs, partitioned layout, Spark local dirs,
warehouse and event log) and removes it at the end. The run itself
happens in a child process group (``perfbench/worker.py``): this process
samples the group's resident memory, waits for it, and makes sure the
JVM and the Python workers are gone before it prints the result.

The last line of stdout is the result:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones of BENCHMARK.json, with ``--trace 1``
the per-layer ones. Any failure to run exits non-zero without a result.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("dashboard", "catalog")
TIMEOUT_S = 170
PAGE = os.sysconf("SC_PAGE_SIZE")


def group_members(pgid: int) -> list[int]:
    out = []
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid:
            out.append(int(pid))
    return out


def group_rss_mb(pids) -> float:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1])
        except OSError:
            continue
    return total * PAGE / 2**20


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def stop_group(pgid: int, grace_s: float = 15.0) -> None:
    """Wait for every process of the group to end; kill what remains."""
    deadline = time.time() + grace_s
    while group_members(pgid) and time.time() < deadline:
        time.sleep(0.2)
    for sig in (signal.SIGTERM, signal.SIGKILL):
        if not group_members(pgid):
            return
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        t = time.time()
        while group_members(pgid) and time.time() - t < 5:
            time.sleep(0.1)


def slots() -> int:
    """Spark local[N]: one core is left to the driver and the client."""
    return max(1, min(3, len(os.sched_getaffinity(0)) - 1))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", default="full", help="input size set (smoke: tiny inputs)")
    ap.add_argument("--corrupt", action="store_true",
                    help="corrupt each result before its check (shows the checks fire)")
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "piholelongtermstats_spark")):
        print(f"engine package not found under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_runs",
                        f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("in", "layout", "local", "tmp", "warehouse", "eventlog"):
        os.makedirs(os.path.join(work, d))
    out = os.path.join(work, "result.json")
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": os.pathsep.join([ROOT] + [p for p in [env.get("PYTHONPATH")] if p]),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_GRAFT_LAYOUT_DIR": os.path.join(work, "layout"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": os.path.join(work, "tmp"),
        # no JVM perf-data file in /tmp: the run writes only inside its directory
        "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData",
    })
    # the dashboard reads events through the date-partitioned layout, the
    # catalog from the flat file
    env.pop("SPARK_GRAFT_USE_LAYOUT", None)
    if args.workload == "dashboard":
        env["SPARK_GRAFT_USE_LAYOUT"] = "1"
    cmd = [sys.executable, "-m", "perfbench.worker", "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", work, "--out", out, "--slots", str(slots()), "--size", args.size]
    if args.corrupt:
        cmd.append("--corrupt")

    # SIGTERM unwinds through the finally below, which stops the group
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    steal0, total0 = cpu_times()
    peak = 0.0
    proc = None
    try:
        try:
            proc = subprocess.Popen(cmd, cwd=ROOT, env=env, start_new_session=True)
            deadline = time.time() + TIMEOUT_S
            seen: set[int] = set()
            while proc.poll() is None and time.time() < deadline:
                # A process counts from its second sample on. A child the JVM
                # spawns shares the JVM's memory until it execs, and sampled in
                # that instant it would add the JVM's whole RSS a second time.
                now = set(group_members(proc.pid))
                peak = max(peak, group_rss_mb(now & seen))
                seen = now
                time.sleep(0.2)
            if proc.poll() is None:
                print(f"run exceeded {TIMEOUT_S} s", file=sys.stderr)
        finally:
            if proc is not None:
                # the JVM exits by itself once the worker is gone
                stop_group(proc.pid, grace_s=0 if proc.poll() is None else 15.0)
                proc.wait()
        if proc.returncode != 0:
            print(f"worker exited with {proc.returncode}", file=sys.stderr)
            return 1
        with open(out) as f:
            res = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    steal1, total1 = cpu_times()
    steal_share = (steal1 - steal0) / max(1, total1 - total0)
    print("# host " + json.dumps({"steal_share": round(steal_share, 4),
                                  "op_cpu_s": round(res["op_cpu_s"], 3),
                                  "failures": res["failures"], **res["detail"]}))
    if args.trace:
        metrics = dict(res["layers"], **{"host.steal_share": steal_share})
    else:
        metrics = dict(res["e2e"], peak_rss_mb=peak)
    units = res["units"]
    print(json.dumps({
        "correct": res["correct"],
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
