"""The two closed-loop workloads: one client, one Spark session.

Each workload has four steps, run in this order by ``worker.py``:

- ``generate``: write the seeded input files (not timed);
- ``setup``: engine-side load (timed into ``setup_s``, with the session
  start);
- ``measure``: repeat the unit operation until the run's time is up, at
  least once. The first operation of a run is the first one its JVM
  sees, so it pays JIT and code-generation warm-up, as a user's first
  request after start does;
- ``layers``: turn spans and the event log into per-layer metrics
  (traced runs only).

Correctness checks run after each operation, outside its timed region;
a mismatch or an exception counts the operation as failed.

The engine is driven only through its public functions: ``api``,
``sources``, ``operators.plotdata`` and ``plans.QUERIES``.
"""

from __future__ import annotations

import datetime as dt
import math
import os
import shutil
import statistics
import time

import numpy as np

from perfbench import gen
from perfbench.trace import Tracer, job_stats, jobs_in, span_stats

DAY = dt.timedelta(days=1)


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def quantile(xs, q: float) -> float:
    """Nearest-rank quantile (0 when empty)."""
    if not xs:
        return 0.0
    s = sorted(xs)
    return s[min(len(s) - 1, max(0, math.ceil(q * len(s)) - 1))]


class Run:
    """What every workload step needs: the session, the tracer, the run's
    work directory and seeded generator, and the op log."""

    def __init__(self, spark, work: str, seed: int, seconds: float, traced: bool,
                 corrupt: bool):
        self.spark = spark
        self.work = work
        self.rng = np.random.default_rng(seed)
        self.seconds = seconds
        self.tracer = Tracer(spark, traced)
        self.corrupt = corrupt
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.op_cpu: list[float] = []

    def record(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(what)

    def persistent_rdds(self) -> int:
        """Persisted RDDs the JVM still holds, after a forced GC so weakly
        held ones (localCheckpoint) are gone."""
        self.spark._jvm.System.gc()
        return self.spark.sparkContext._jsc.getPersistentRDDs().size()

    def storage_mb(self) -> float:
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos) / 2**20


def _tree_cpu_s() -> float:
    """CPU seconds used so far by this process and its descendants (the
    JVM and its Python workers), including reaped children."""
    me = os.getpid()
    procs = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        procs[int(pid)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    tree, frontier = {me}, {me}
    while frontier:
        frontier = {p for p, (pp, _) in procs.items() if pp in frontier} - tree
        tree |= frontier
    return sum(procs[p][1] for p in tree if p in procs) / os.sysconf("SC_CLK_TCK")


class Op:
    """Times one operation's wall clock; a unit operation (``unit``) also
    records the process tree's CPU seconds into ``run.op_cpu``."""

    def __init__(self, run: Run, unit: bool = False):
        self.run, self.unit = run, unit

    def __enter__(self):
        self.cpu0 = _tree_cpu_s() if self.unit else 0.0
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.wall = time.perf_counter() - self.t0
        if self.unit:
            self.run.op_cpu.append(_tree_cpu_s() - self.cpu0)


# ---------------------------------------------------------------------------
# dashboard
# ---------------------------------------------------------------------------

# The reference dashboard's default window; a fixed width keeps the page's
# input size the same in every run, so one page per run is comparable.
WINDOW_DAYS = 31
EXCLUDE_POOL = [r"\.local$", r"^cdn\.ads", r"\.lan$", r"^mail\.host1"]
# Patterns per page, drawn from the pool. Fixed, like the window width: a
# page with two patterns costs ~15% more than one with one.
EXCLUDE_PER_PAGE = 2
# Layout writes per run; ``setup_s`` takes their median.
LAYOUT_WRITES = 3

DASHBOARD_LAYERS = [
    "api.page.wall_s", "api.page.driver_s", "sources.dns_fact.build_s",
    "sources.scan.partitions_read", "sources.scan.partition_ratio",
    "operators.stats.wall_s", "operators.stats.jobs", "operators.stats.tasks",
    "operators.plotdata.payload_wall_s", "operators.plotdata.payload_jobs",
    "operators.plotdata.rollup_wall_s",
    "page.jobs", "page.tasks", "page.empty_task_ratio", "page.exec_cpu_s",
    "page.sched_overhead_s", "page.gc_s", "page.shuffle_write_mb",
    "callback.p50_s", "callback.p90_s", "callback.build_s", "callback.jobs",
    "callback.tasks", "callback.empty_task_ratio", "callback.sched_overhead_s",
    "callback.exec_cpu_s",
]


class Dashboard:
    """A page (``api.run_dashboard``: stats dict, plot payload, persisted
    hourly rollup) followed by 4 callbacks on the rollup, then the
    page's working set is released as ``api.reload`` does. The unit
    operation is that whole visit."""

    def __init__(self, run: Run, rows: int, days: int = 120):
        self.run, self.rows, self.days = run, rows, days
        self.visits: list[float] = []
        self.pages: list[float] = []
        self.callbacks: list[float] = []

    def generate(self) -> dict:
        self.dir = os.path.join(self.run.work, "in", "events")
        self.info = gen.events_log(self.run.rng, self.dir, self.rows, self.days)
        return self.info

    def setup(self) -> dict:
        """Writes the partitioned layout ``LAYOUT_WRITES`` times, each into
        a fresh layout root, and keeps the last one for the pages. The
        median write is the set-up figure: the first write in a fresh JVM
        swings with the host far more than the later ones."""
        from piholelongtermstats_spark.sources import layout

        root = os.environ["SPARK_GRAFT_LAYOUT_DIR"]
        times = []
        for i in range(LAYOUT_WRITES):
            os.environ["SPARK_GRAFT_LAYOUT_DIR"] = os.path.join(root, str(i))
            t = time.perf_counter()
            layout.ensure_layout(self.run.spark, self.dir)
            times.append(time.perf_counter() - t)
            if i:
                shutil.rmtree(os.path.join(root, str(i - 1)))
        self.layout_writes = times
        return {"sources.layout_write_s": median(times)}

    def _params(self):
        rng = self.run.rng
        width = WINDOW_DAYS
        start = gen.EPOCH_2024 + int(rng.integers(0, self.days - width + 1)) * 86400
        lo = dt.datetime.fromtimestamp(start, dt.timezone.utc)
        hi = lo + width * DAY
        pats = [EXCLUDE_POOL[i] for i in
                sorted(rng.choice(len(EXCLUDE_POOL), EXCLUDE_PER_PAGE, replace=False))]
        client = str(1000 + int(rng.integers(0, 20)))
        return width, lo, hi, pats, client

    def visit(self) -> None:
        from piholelongtermstats_spark import api
        from piholelongtermstats_spark.operators import plotdata
        from piholelongtermstats_spark.sources import events

        run, tr = self.run, self.run.tracer
        width, lo, hi, pats, client = self._params()
        absent = self.info["absent_client"]
        # the all-clients series, one client's series and activity, and the
        # activity of a client absent from the log
        cbs = [
            (plotdata.filtered_timeseries, None),
            (plotdata.filtered_timeseries, client),
            (plotdata.client_activity, client),
            (plotdata.client_activity, absent),
        ]
        order = run.rng.permutation(len(cbs))
        params = dict(
            parquet_dir=self.dir,
            start_date=lo.date().isoformat(),
            end_date=(hi - DAY).date().isoformat(),
            timezone="UTC",
            exclude_patterns=pats,
        )
        if tr.enabled:
            before = run.persistent_rdds()
        results = []
        try:
            with Op(run, unit=True) as visit:
                with Op(run) as page, tr.span("api.page", days=width):
                    res = api.run_dashboard(run.spark, **params)
                    with tr.span("plotdata.rollup"):
                        rollup = res["hourly_agg"].persist()
                        rollup_rows = rollup.count()
                for i in order:
                    fn, who = cbs[i]
                    with Op(run) as cb, tr.span("callback"):
                        with tr.span("callback.build"):
                            df = fn(rollup, who)
                        rows = df.collect()
                    results.append((fn.__name__, who, rows))
                    self.callbacks.append(cb.wall)
                with tr.span("api.release") as rel:
                    rollup.unpersist()
                    res["fact"].unpersist()
        except Exception as e:  # noqa: BLE001 - a failed visit is counted, the run goes on
            run.record(False, f"dashboard visit raised {type(e).__name__}: {e}")
            return
        if tr.enabled:
            rel.attrs["persisted_rdds_added"] = run.persistent_rdds() - before
            # after the page, so building it does not warm the page up
            with tr.span("sources.dns_fact.build"):
                events.dns_fact(run.spark, self.dir, lo=lo, hi=hi)
        self.visits.append(visit.wall)
        self.pages.append(page.wall)
        run.record(self.check(res["stats"], rollup_rows, results, lo, hi, pats, absent), "dashboard check")

    def check(self, stats, rollup_rows, results, lo, hi, pats, absent) -> bool:
        """Stats totals and callback totals against DuckDB over the same
        log, window and exclusions."""
        import duckdb

        keep = " AND ".join(f"(props IS NULL OR NOT regexp_matches(props, '{p}'))" for p in pats)
        where = (
            f"ts >= TIMESTAMP '{lo:%Y-%m-%d %H:%M:%S}' AND ts < TIMESTAMP '{hi:%Y-%m-%d %H:%M:%S}'"
            f" AND {keep}"
        )
        with duckdb.connect() as con:
            con.execute("SET threads TO 2")
            con.execute(f"CREATE VIEW ev AS SELECT * FROM read_parquet('{self.dir}/events.parquet')")
            total, blocked, allowed, uc, ud = con.execute(
                "SELECT count(*), count(*) FILTER (event_type = 'error'),"
                " count(*) FILTER (event_type IN ('view','click','purchase')),"
                f" count(DISTINCT user_id), count(DISTINCT props) FROM ev WHERE {where}"
            ).fetchone()
            per_client = dict(con.execute(
                f"SELECT CAST(user_id AS VARCHAR), count(*) FROM ev WHERE {where} GROUP BY 1"
            ).fetchall())
        got = (stats["total_queries"], stats["blocked_count"], stats["allowed_count"],
               stats["unique_clients"], stats["unique_domains"])
        if self.run.corrupt:
            got = (got[0] + 1,) + got[1:]
        ok = got == (total, blocked, allowed, uc, ud) and rollup_rows > 0
        for fname, client, rows in results:
            want = total if client is None else per_client.get(client, 0)
            ok &= sum(r["cnt"] for r in rows) == want
            if fname == "client_activity" and client == absent:
                ok &= not rows
        return ok

    def measure(self) -> None:
        deadline = time.perf_counter() + self.run.seconds
        while True:
            self.visit()
            if time.perf_counter() >= deadline:
                break

    def metrics(self) -> dict:
        return {"op_p50_s": median(self.visits)}

    def detail(self) -> dict:
        return {"page_s": self.pages, "callbacks_s": sum(self.callbacks),
                "layout_writes_s": self.layout_writes}

    def layers(self, log) -> dict:
        tr = self.run.tracer
        spans = tr.spans
        pages = tr.named("api.page")
        n = max(1, len(pages))
        page = span_stats(log, pages, spans)
        cbs = tr.named("callback")
        cb = span_stats(log, cbs, spans)
        m = len(cbs) or 1
        # jobs inside the pages, split by the engine module that ran them
        page_jobs = jobs_in(log, {s.group for s in pages})
        stats_jobs, payload_jobs = (
            job_stats(log, [j for j in page_jobs if f"operators/{m}.py" in (j.callsite or "")])
            for m in ("stats", "plotdata")
        )
        rollups = tr.named("plotdata.rollup")
        facts = tr.named("sources.dns_fact.build")
        releases = tr.named("api.release")
        window_days = sum(s.attrs["days"] for s in pages) or 1
        return {
            "api.page.wall_s": page["wall_s"] / n,
            "api.page.driver_s": page["driver_s"] / n,
            "sources.dns_fact.build_s": sum(s.wall_s for s in facts) / max(1, len(facts)),
            "sources.scan.partitions_read": page["partitions_read"] / n,
            "sources.scan.partition_ratio": page["partitions_read"] / window_days,
            "operators.stats.wall_s": stats_jobs["jobs_wall_s"] / n,
            "operators.stats.jobs": stats_jobs["jobs"] / n,
            "operators.stats.tasks": stats_jobs["tasks"] / n,
            "operators.plotdata.payload_wall_s": payload_jobs["jobs_wall_s"] / n,
            "operators.plotdata.payload_jobs": payload_jobs["jobs"] / n,
            "operators.plotdata.rollup_wall_s": sum(s.wall_s for s in rollups) / n,
            "page.jobs": page["jobs"] / n,
            "page.tasks": page["tasks"] / n,
            "page.empty_task_ratio": page["empty_task_ratio"],
            "page.exec_cpu_s": page["exec_cpu_s"] / n,
            "page.sched_overhead_s": page["sched_overhead_s"] / n,
            "page.gc_s": page["gc_s"] / n,
            "page.shuffle_write_mb": page["shuffle_write_mb"] / n,
            "callback.p50_s": median([s.wall_s for s in cbs]),
            "callback.p90_s": quantile([s.wall_s for s in cbs], 0.9),
            "callback.build_s": sum(s.wall_s for s in tr.named("callback.build")
                                    if s.parent in {c.group for c in cbs}) / m,
            "callback.jobs": cb["jobs"] / m,
            "callback.tasks": cb["tasks"] / m,
            "callback.empty_task_ratio": cb["empty_task_ratio"],
            "callback.sched_overhead_s": cb["sched_overhead_s"] / m,
            "callback.exec_cpu_s": cb["exec_cpu_s"] / m,
            "storage.persisted_rdds_added": sum(
                s.attrs.get("persisted_rdds_added", 0) for s in releases) / max(1, len(releases)),
        }


# ---------------------------------------------------------------------------
# catalog
# ---------------------------------------------------------------------------

# The pinned queries: an eager fixpoint loop, a Python/Arrow stage, a
# shuffle-heavy text query, scan-and-join SQL and dashboard parity on the
# fact table. ``kcore_summary``, ``dedup_clusters`` and
# ``trained_ann_recall_panel`` are left out: their first run in a fresh
# JVM takes ~40 s together on a 4-core host, more than a run can spend.
PINNED = (
    "pagerank_top",
    "hh_scale_2x",
    "ngram_jaccard_capped",
    "pricing_summary",
    "region_nation_revenue",
    "top_domain_top_client",
)

CATALOG_TABLES = tuple(gen.SF01_ROWS)
QUERY_LAYERS = ("build_s", "build_jobs", "exec_s", "jobs", "tasks", "sched_overhead_s",
                "shuffle_write_mb")


class Catalog:
    """Passes over the pinned registry queries, in a fixed order so the
    first query of a run is always the one that pays the JVM's warm-up. Each
    query is ``QUERIES[name](spark, dir)`` (build) then ``.toPandas()``
    (exec); after each pass every result is checked against
    ``plans.ORACLE``."""

    def __init__(self, run: Run, scale: float):
        self.run, self.scale = run, scale
        self.times: dict[str, list[float]] = {q: [] for q in PINNED}
        self.passes: list[float] = []
        self.rdds_added: list[int] = []
        self.storage_mb = 0.0

    def generate(self) -> dict:
        self.dir = os.path.join(self.run.work, "in", "catalog")
        self.info = gen.catalog_tables(self.run.rng, self.dir, self.scale)
        return self.info

    def setup(self) -> dict:
        return {}

    def one_pass(self) -> dict:
        from piholelongtermstats_spark.plans import QUERIES

        run, tr = self.run, self.run.tracer
        out = {}
        before = run.persistent_rdds() if tr.enabled else 0
        total = 0.0
        cpu0 = _tree_cpu_s()
        for name in PINNED:
            try:
                with Op(run) as op:
                    with tr.span(f"plans.{name}.build"):
                        df = QUERIES[name](run.spark, self.dir)
                    with tr.span(f"plans.{name}.exec"):
                        out[name] = df.toPandas()
            except Exception as e:  # noqa: BLE001 - a failed query is counted, the pass goes on
                run.record(False, f"{name} raised {type(e).__name__}: {e}")
                continue
            total += op.wall
            self.times[name].append(op.wall)
        self.passes.append(total)
        run.op_cpu.append(_tree_cpu_s() - cpu0)
        if tr.enabled:
            self.rdds_added.append(run.persistent_rdds() - before)
            if len(self.passes) == 1:
                self.storage_mb = run.storage_mb()
        return out

    def check_oracle(self, results: dict) -> None:
        """Each result of a pass against its DuckDB oracle through
        ``scripts/check_oracle.compare``; a query without an oracle must
        return rows."""
        import duckdb
        from piholelongtermstats_spark.plans import ORACLE
        from scripts.check_oracle import compare

        with duckdb.connect() as con:
            con.execute("SET threads TO 2")
            for t in CATALOG_TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.dir}/{t}.parquet'")
            for name, pdf in results.items():
                if self.run.corrupt and len(pdf):
                    pdf = pdf.iloc[1:]
                if name in ORACLE:
                    issues = compare(pdf, con.execute(ORACLE[name]).df())
                else:
                    issues = [] if len(pdf) else ["empty result"]
                self.run.record(not issues, f"{name} oracle: {issues[:2]}")

    def measure(self) -> None:
        deadline = time.perf_counter() + self.run.seconds
        while True:
            self.check_oracle(self.one_pass())
            if time.perf_counter() >= deadline:
                break

    def metrics(self) -> dict:
        meds = [median(v) for v in self.times.values() if v]
        return {"op_p50_s": sum(meds)}

    def detail(self) -> dict:
        return {"query_s": self.times}

    def layers(self, log) -> dict:
        tr = self.run.tracer
        out = {}
        meds = [median(v) for v in self.times.values() if v]
        out["catalog.pass_s"] = sum(meds)
        out["catalog.query_gmean_s"] = math.exp(sum(map(math.log, meds)) / len(meds)) if meds else 0.0
        py = 0.0
        for name in PINNED:
            b = tr.named(f"plans.{name}.build")
            x = tr.named(f"plans.{name}.exec")
            n = max(1, len(x))
            bs, xs = span_stats(log, b, tr.spans), span_stats(log, x, tr.spans)
            py += bs["python_run_s"] + xs["python_run_s"]
            out.update({
                f"plans.{name}.build_s": bs["wall_s"] / n,
                f"plans.{name}.build_jobs": bs["jobs"] / n,
                f"plans.{name}.exec_s": xs["wall_s"] / n,
                f"plans.{name}.jobs": (bs["jobs"] + xs["jobs"]) / n,
                f"plans.{name}.tasks": (bs["tasks"] + xs["tasks"]) / n,
                f"plans.{name}.sched_overhead_s": (bs["sched_overhead_s"] + xs["sched_overhead_s"]) / n,
                f"plans.{name}.shuffle_write_mb": (bs["shuffle_write_mb"] + xs["shuffle_write_mb"]) / n,
            })
        npass = max(1, len(self.passes))
        out["operators.python.run_s"] = py / npass
        out["storage.persisted_rdds_added"] = sum(self.rdds_added) / max(1, len(self.rdds_added))
        out["plans.cache.storage_mb"] = self.storage_mb
        return out
