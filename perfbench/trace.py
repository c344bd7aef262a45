"""Tracing for the benchmark's traced run.

Spans are recorded from the benchmark's own module, around the calls into
each layer: the layer functions are wrapped under the name their caller
looks up (``optimizer.run_pushdown``, not ``pushdown.run_pushdown``),
and unwrapped when the run ends. A span is (name, start, end, parent,
query id); the parent and the query's Spark job group travel in context
variables. Push-down's per-table thread pool is swapped, in every run,
for one that carries both into its worker threads, so sketch builds nest
under their push-down span and their Spark jobs land in the query's job
group, where a timeout's cancel finds them.

Spark-side numbers come from the local UI REST API. A scraper thread
pulls each finished query's jobs, stages and SQL executions by id while
the UI still retains them, because the UI keeps only the most recent
1000 jobs.
"""

from __future__ import annotations

import contextvars
import functools
import json
import os
import queue
import re
import threading
import time
import urllib.error
import urllib.request
from collections import defaultdict
from concurrent.futures import ThreadPoolExecutor

from perfbench.stats import self_times

_PARENT: contextvars.ContextVar = contextvars.ContextVar("perfbench_span", default=None)
_QUERY: contextvars.ContextVar = contextvars.ContextVar("perfbench_query", default=None)


def set_query(spark, group: str | None) -> None:
    """Tag the calling thread's Spark jobs (and its spans) with ``group``."""
    _QUERY.set(group)
    sc = spark.sparkContext
    if group is None:
        sc.setLocalProperty("spark.jobGroup.id", None)
    else:
        sc.setJobGroup(group, group, interruptOnCancel=True)


# spans whose epoch window marks a query's DataFrame build: Spark jobs
# submitted inside it are build jobs (driver-side probes), not execution
BUILD_SPANS = ("optimizer.build", "operators.build")


class Tracer:
    """Spans and counters of one traced pass, kept in memory and written
    out when the pass ends."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._next = 0
        self.spans: list[dict] = []
        self.counts: dict[str, float] = defaultdict(float)
        self.cost_ratios: list[float] = []
        self.build_windows: dict[str, tuple[str, float, float]] = {}
        self.recording = False

    def add(self, name: str, value: float = 1.0) -> None:
        if self.recording:
            with self._lock:
                self.counts[name] += value

    def call(self, name: str, fn, *args, **kwargs):
        """Run ``fn`` inside a span called ``name``."""
        if not self.recording:
            return fn(*args, **kwargs)
        with self._lock:
            sid = self._next
            self._next += 1
        token = _PARENT.set(sid)
        start, wall0 = time.perf_counter(), time.time()
        try:
            return fn(*args, **kwargs)
        finally:
            end = time.perf_counter()
            _PARENT.reset(token)
            query = _QUERY.get()
            span = {"id": sid, "name": name, "start": start, "end": end,
                    "parent": _PARENT.get(), "query": query}
            with self._lock:
                self.spans.append(span)
                if name in BUILD_SPANS and query is not None:
                    self.build_windows[query] = (name, wall0, time.time())

    def layer_seconds(self) -> dict[str, float]:
        """Span name -> summed self time."""
        out: dict[str, float] = defaultdict(float)
        by_id = {s["id"]: s for s in self.spans}
        for sid, t in self_times(self.spans).items():
            out[by_id[sid]["name"]] += t
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "counts": self.counts}, fh)


class _ContextPool(ThreadPoolExecutor):
    """ThreadPoolExecutor whose tasks run in the submitter's context and
    Spark job group."""

    def __init__(self, spark, *args, **kwargs):
        super().__init__(*args, **kwargs)
        self._spark = spark

    def submit(self, fn, /, *args, **kwargs):
        ctx = contextvars.copy_context()
        group = ctx.get(_QUERY)
        sc = self._spark.sparkContext

        def run():
            if group is not None:
                sc.setJobGroup(group, group, interruptOnCancel=True)
            return fn(*args, **kwargs)

        return super().submit(ctx.run, run)


def install_pool(spark) -> None:
    """Swap push-down's per-table thread pool for the context-carrying
    one, for the rest of the process."""
    from compass_query_optimizer_spark.plans import pushdown

    pushdown.ThreadPoolExecutor = functools.partial(_ContextPool, spark)


def install(tracer: Tracer) -> callable:
    """Wrap the layer boundaries; returns the function that unwraps them."""
    from compass_query_optimizer_spark.plans import optimizer, pushdown

    saved: list[tuple[object, str, object]] = []

    def patch(owner, attr, new):
        saved.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, new)

    Opt = optimizer.CompassOptimizer
    plan0, build0 = Opt.plan, Opt.build_count_join
    run_pushdown0 = optimizer.run_pushdown
    choose0 = optimizer.choose_join_order
    sketch0 = pushdown.build_sketches_arrow

    def plan(self, *args, **kwargs):
        p = tracer.call("optimizer.plan", plan0, self, *args, **kwargs)
        if tracer.recording and p.fallback_cost:
            # chosen order's estimated cost against the size-descending
            # fallback's; the +1 keeps all-zero estimates (an empty filter)
            # finite without moving the ratio of real sizes
            with tracer._lock:
                tracer.cost_ratios.append((p.search.cost + 1.0) / (p.fallback_cost + 1.0))
        return p

    def build_count_join(self, *args, **kwargs):
        return tracer.call("optimizer.build", build0, self, *args, **kwargs)

    def run_pushdown(*args, **kwargs):
        res = tracer.call("pushdown", run_pushdown0, *args, **kwargs)
        tracer.add("pushdown.tables", len(res.stats))
        tracer.add("pushdown.materialized", len(res.materialized))
        return res

    def choose_join_order(*args, **kwargs):
        res = tracer.call("search", choose0, *args, **kwargs)
        tracer.add("search.expansions", res.expansions)
        tracer.add("search.exhausted", int(res.exhausted))
        tracer.add("search.fallbacks", int(res.fallback))
        return res

    def build_sketches_arrow(*args, **kwargs):
        count, sketches = tracer.call("fagms", sketch0, *args, **kwargs)
        tracer.add("fagms.builds")
        tracer.add("fagms.rows", count)
        return count, sketches

    patch(Opt, "plan", plan)
    patch(Opt, "build_count_join", build_count_join)
    patch(optimizer, "run_pushdown", run_pushdown)
    patch(optimizer, "choose_join_order", choose_join_order)
    patch(pushdown, "build_sketches_arrow", build_sketches_arrow)

    def restore():
        for owner, attr, old in reversed(saved):
            setattr(owner, attr, old)

    return restore


# ------------------------------------------------------------ REST scraping

_DURATION = re.compile(r"(-?[\d.,]+)\s*(ms|s|m|min|h)\b")
_UNIT_S = {"ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}


def parse_duration(text: str) -> float:
    """Seconds in a SQL UI timing metric: the total on its last line
    (``"total (min, med, max ...)\\n1.2 s (...)"``) or the bare value of
    a driver-side metric (``"12 ms"``)."""
    line = text.strip().splitlines()[-1]
    m = _DURATION.search(line)
    if m is None:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNIT_S[m.group(2)]


def _epoch_s(stamp: str | None) -> float | None:
    """'2026-10-17T10:00:00.123GMT' -> epoch seconds."""
    if not stamp:
        return None
    import datetime as dt

    t = dt.datetime.strptime(stamp.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
    return t.replace(tzinfo=dt.timezone.utc).timestamp()


EXEC_COUNTERS = (
    "exec.jobs", "exec.stages", "exec.tasks", "exec.failed_tasks",
    "exec.executor_run_s", "exec.executor_cpu_s", "exec.jvm_gc_s", "exec.slot_wait_s",
    "exec.shuffle_read_bytes", "exec.shuffle_write_bytes", "exec.spill_bytes",
    "exec.broadcast_build_s", "exec.python_worker_s", "exec.python_worker_start_s",
)


class RestScraper:
    """Pulls each finished query's Spark jobs, stages and SQL executions
    from the local UI REST API on a background thread. Only job groups
    starting with ``prefix`` count."""

    def __init__(self, spark, prefix: str) -> None:
        self.prefix = prefix
        sc = spark.sparkContext
        self._tracker = sc.statusTracker()
        self._base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        self._todo: queue.Queue = queue.Queue()
        self.counts: dict[str, float] = defaultdict(float)
        self.errors = 0
        self._job_group: dict[int, str | None] = {}
        # SQL executions before the traced pass are not its own
        self._next_exec = 1 + max(
            (e["id"] for e in self._get("/sql?details=false&length=100000") or []), default=-1)
        self._thread = threading.Thread(target=self._loop, name="perfbench-rest", daemon=True)
        self._thread.start()

    def _get(self, path: str, missing_ok: bool = False):
        try:
            with urllib.request.urlopen(self._base + path, timeout=10) as r:
                return json.loads(r.read())
        except urllib.error.HTTPError as e:
            if not (missing_ok and e.code == 404):
                self.errors += 1
        except (urllib.error.URLError, OSError, ValueError):
            self.errors += 1
        return None

    def submit(self, group: str, build_window: tuple[str, float, float] | None) -> None:
        """Queue a finished query's job group. ``build_window`` is the
        (span name, epoch start, epoch end) of the query's DataFrame
        build; jobs submitted inside it count as ``<span name>_jobs``."""
        self._todo.put((group, build_window))

    def close(self) -> None:
        self._todo.put(None)
        self._thread.join(timeout=120)
        self._scrape_sql()

    def _loop(self) -> None:
        while True:
            item = self._todo.get()
            if item is None:
                return
            self._scrape_group(*item)

    def _scrape_group(self, group: str, build_window) -> None:
        c = self.counts
        for jid in self._tracker.getJobIdsForGroup(group):
            job = self._get(f"/jobs/{jid}")
            if job is None:
                continue
            self._job_group[jid] = group
            c["exec.jobs"] += 1
            submitted = _epoch_s(job.get("submissionTime"))
            if build_window and submitted is not None and \
                    build_window[1] <= submitted <= build_window[2]:
                c[f"{build_window[0]}_jobs"] += 1
            for sid in job.get("stageIds", []):
                for st in self._get(f"/stages/{sid}?details=false") or []:
                    if st.get("status") == "SKIPPED":
                        continue
                    c["exec.stages"] += 1
                    c["exec.tasks"] += st.get("numCompleteTasks", 0)
                    c["exec.failed_tasks"] += st.get("numFailedTasks", 0)
                    c["exec.executor_run_s"] += st.get("executorRunTime", 0) / 1e3
                    c["exec.executor_cpu_s"] += st.get("executorCpuTime", 0) / 1e9
                    c["exec.jvm_gc_s"] += st.get("jvmGcTime", 0) / 1e3
                    c["exec.shuffle_read_bytes"] += st.get("shuffleReadBytes", 0)
                    c["exec.shuffle_write_bytes"] += st.get("shuffleWriteBytes", 0)
                    c["exec.spill_bytes"] += st.get("memoryBytesSpilled", 0) + \
                        st.get("diskBytesSpilled", 0)
                    sub = _epoch_s(st.get("submissionTime"))
                    first = _epoch_s(st.get("firstTaskLaunchedTime"))
                    if sub is not None and first is not None:
                        c["exec.slot_wait_s"] += max(0.0, first - sub)
        self._scrape_sql()

    def _scrape_sql(self) -> None:
        """Sum Python-worker and broadcast-build timings of every finished
        SQL execution whose jobs belong to a scraped query."""
        while True:
            ex = self._get(f"/sql/{self._next_exec}?details=true", missing_ok=True)
            if ex is None or ex.get("status") == "RUNNING":
                return
            self._next_exec += 1
            jobs = ex.get("successJobIds", []) + ex.get("failedJobIds", [])
            if not any((self._group_of(j) or "").startswith(self.prefix) for j in jobs):
                continue
            for node in ex.get("nodes", []):
                for m in node.get("metrics", []):
                    name = m.get("name")
                    if name == "time to run Python workers":
                        self.counts["exec.python_worker_s"] += parse_duration(m["value"])
                    elif name in ("time to start Python workers",
                                  "time to initialize Python workers"):
                        self.counts["exec.python_worker_start_s"] += parse_duration(m["value"])
                    elif name == "time to build" and "Broadcast" in node.get("nodeName", ""):
                        self.counts["exec.broadcast_build_s"] += parse_duration(m["value"])

    def _group_of(self, jid: int) -> str | None:
        if jid not in self._job_group:
            job = self._get(f"/jobs/{jid}")
            self._job_group[jid] = job.get("jobGroup") if job else None
        return self._job_group[jid]

    def cached_rdds(self) -> int:
        return len(self._get("/storage/rdd") or [])
