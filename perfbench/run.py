#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload job_online --seed 1 --seconds 30 --trace 0

Run it from the root of a checkout of the repository. It starts one
Spark session with the package's ``get_spark`` on every core
(``SPARK_GRAFT_CPUS=$(nproc)``), sets up the workload, runs one
unmeasured warm-up pass, then lets the workload's clients issue whole
passes over its query set in a closed loop: as many passes as
``--seconds`` holds at the workload's pace on the reference box, at
least one. Every answer is checked.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` measures the
same untraced passes, then one more pass with every layer boundary
wrapped and Spark's REST API scraped, and prints the per-layer metrics,
with the tracing overhead as traced-minus-untraced figures.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (name -> ``{"value", "unit"}``). The line
before it stamps the run (core count, load, versions). Details, and the spans of a traced run, go to
``.perfbench_out/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import subprocess
import sys
import threading
import time

T_START = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "compass_query_optimizer_spark"
# a query still running after this is cancelled; one that answers later
# anyway (the cancel found no job to stop) still counts as a timeout
QUERY_TIMEOUT_S = 60.0


def _rss_peak_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of a process, in MB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _jvm_pid() -> int | None:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def peak_rss_mb() -> float:
    """Driver Python process plus its JVM child."""
    total = _rss_peak_mb(os.getpid())
    pid = _jvm_pid()
    if pid is not None:
        total += _rss_peak_mb(pid)
    return total


class Record:
    __slots__ = ("qid", "group", "start", "end", "status", "result", "error")

    def __init__(self, qid: str, group: str):
        self.qid, self.group = qid, group
        self.start = self.end = 0.0
        self.status, self.result, self.error = "ok", None, None


def issue_order(queries: list[str], seed: int, n_pass: int) -> list[str]:
    """The seeded order of pass ``n_pass``; the same seed and pass always
    give the same order. Odd passes mirror the pass before them: the JVM
    is still getting faster while the passes run, so whichever query comes
    first pays the most, and a mirrored pair gives every query the same
    summed position whatever the seed."""
    order = list(queries)
    random.Random(f"{seed}/{n_pass // 2}").shuffle(order)
    return order[::-1] if n_pass % 2 else order


def run_passes(wl, spark, seed: int, label: str, tracer, passes: int, *,
               clients: int | None = None, on_done=None) -> tuple[list[Record], float]:
    """Closed loop: ``clients`` threads (default ``wl.clients``) each take
    the next query of the seeded stream only after their previous one has
    finished, until ``passes`` passes have been issued. Between two
    queries a client runs the workload's ``after_query``, outside both
    latencies. Returns the records and the wall time from first issue to
    last answer, less the clients' mean time in ``after_query``."""
    from perfbench.trace import set_query

    lock = threading.Lock()
    records: list[Record] = []
    state = {"pass": 0, "pos": 0, "order": issue_order(wl.queries, seed, 0),
             "paused": 0.0}
    t0 = time.perf_counter()

    def next_item() -> Record | None:
        with lock:
            if state["pos"] == len(wl.queries):
                n = state["pass"] + 1
                if n >= passes:
                    return None
                state.update({"pass": n, "pos": 0, "order": issue_order(wl.queries, seed, n)})
            qid = state["order"][state["pos"]]
            state["pos"] += 1
            rec = Record(qid, f"{wl.name}/{label}{state['pass']}/{qid}")
            records.append(rec)
            return rec

    def client() -> None:
        sc = spark.sparkContext
        while (rec := next_item()) is not None:
            set_query(spark, rec.group)
            fired = threading.Event()

            def cancel(group=rec.group):
                fired.set()
                sc.cancelJobGroup(group)

            timer = threading.Timer(QUERY_TIMEOUT_S, cancel)
            timer.start()
            rec.start = time.perf_counter()
            try:
                rec.result = tracer.call("query", wl.run, rec.qid, tracer)
            except Exception as e:  # noqa: BLE001 - every failure is counted, not raised
                rec.status = "timeout" if fired.is_set() else "error"
                rec.error = f"{type(e).__name__}: {str(e)[:300]}"
            finally:
                rec.end = time.perf_counter()
                timer.cancel()
                set_query(spark, None)
            if rec.status == "ok" and rec.end - rec.start > QUERY_TIMEOUT_S:
                rec.status = "timeout"
                rec.error = f"answered after {rec.end - rec.start:.1f} s"
            wl.after_query(spark)
            with lock:
                state["paused"] += time.perf_counter() - rec.end
            if on_done is not None:
                on_done(rec)

    n_clients = clients or wl.clients
    threads = [threading.Thread(target=client, name=f"client-{i}")
               for i in range(n_clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return records, time.perf_counter() - t0 - state["paused"] / n_clients


def check(wl, records: list[Record]) -> None:
    """Mark answered queries whose result is wrong."""
    for r in records:
        if r.status == "ok" and not wl.check(r.qid, r.result):
            r.status = "wrong"
            r.error = f"wrong result: {str(r.result)[:200]}"
        r.result = None


def end_to_end(records: list[Record], wall: float) -> dict[str, float]:
    from perfbench.stats import percentile

    ok = [r.end - r.start for r in records if r.status == "ok"]
    return {
        "throughput_qps": len(ok) / wall,
        # with nothing answered the run is not correct; 0 keeps the line JSON
        "latency_p50_s": percentile(ok, 0.5) if ok else 0.0,
    }


def run_workload(args) -> tuple[dict, dict]:
    from compass_query_optimizer_spark.session import get_spark

    from perfbench import trace
    from perfbench.workloads import WORKLOADS

    nproc = len(os.sched_getaffinity(0))
    wl = WORKLOADS[args.workload]()
    meta: dict = {"workload": wl.name, "seed": args.seed, "trace": args.trace,
                  "nproc": nproc, "clients": wl.clients,
                  "loadavg_start": list(os.getloadavg()),
                  "python": sys.version.split()[0]}
    phases: dict[str, float] = {}
    tracer = trace.Tracer()

    t = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{wl.name}", extra_conf={
        "spark.driver.memory": "4g",
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
    })
    spark.sparkContext.setLogLevel("ERROR")
    phases["session.start_s"] = time.perf_counter() - t
    meta["spark"] = spark.version
    meta["java"] = spark.sparkContext._jvm.System.getProperty("java.version")

    # push-down's per-table pool carries each query's job group into its
    # threads, so the timeout's cancel reaches the sketch-build jobs too
    trace.install_pool(spark)
    phases.update(wl.setup(spark))
    t = time.perf_counter()
    # the warm-up pass only has to compile and load what the measured
    # passes use, so it runs on every core whatever the workload's clients
    warm, _ = run_passes(wl, spark, args.seed, "warmup", tracer, 1, clients=nproc)
    phases["warmup_pass_s"] = time.perf_counter() - t
    setup_s = time.perf_counter() - T_START

    wl.prepare_checks()
    check(wl, warm)
    bad = [r for r in warm if r.status != "ok"]
    if bad:
        raise RuntimeError("warm-up pass failed: " + "; ".join(
            f"{r.qid} {r.status} {r.error}" for r in bad[:5]))

    # whole passes, as many as --seconds holds at the workload's pace on
    # the reference box: the same --seconds always measures the same work
    passes = max(1, round(args.seconds / wl.pass_s))
    records, wall = run_passes(wl, spark, args.seed, "p", tracer, passes)
    check(wl, records)
    e2e = end_to_end(records, wall)
    e2e["setup_s"] = setup_s
    # per-layer, not end-to-end: JVM heap growth made it vary by a fifth
    # between runs of the same code
    phases["peak_rss_mb"] = peak_rss_mb()
    out_records = records
    layers: dict[str, float] = {}

    if args.trace:
        layers, traced = traced_pass(wl, spark, args.seed, tracer, e2e, phases)
        out_records = records + traced

    attempted = len(out_records)
    failed = sum(r.status != "ok" for r in out_records)
    meta.update(passes=passes, passes_wall_s=wall, queries=len(records),
                latencies={r.group: round(r.end - r.start, 4) for r in warm + out_records},
                failures=[f"{r.group} {r.status} {r.error}" for r in out_records
                          if r.status != "ok"][:20],
                phases=phases)
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed}
    if args.trace:
        layers["failed_frac"] = failed / attempted
    result["metrics"] = with_units(layers if args.trace else e2e)
    meta["loadavg_end"] = list(os.getloadavg())
    return meta, result


def with_units(metrics: dict[str, float]) -> dict[str, dict]:
    """``{name: {"value", "unit"}}`` with the units ``BENCHMARK.json``
    declares; a metric it does not declare is an error."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        doc = json.load(fh)
    units = {m["name"]: m["unit"] for m in doc["end_to_end"] + doc["per_layer"]}
    return {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}


def traced_pass(wl, spark, seed: int, tracer, untraced: dict,
                phases: dict) -> tuple[dict, list[Record]]:
    """One pass with the layer boundaries wrapped and the REST API
    scraped; returns every per-layer metric and the pass's records."""
    from perfbench import trace
    from perfbench.stats import geomean

    restore = trace.install(tracer)
    scraper = trace.RestScraper(spark, prefix=f"{wl.name}/t")

    def done(rec):
        scraper.submit(rec.group, tracer.build_windows.get(rec.group))

    tracer.recording = True
    try:
        records, wall = run_passes(wl, spark, seed, "t", tracer, 1, on_done=done)
    finally:
        tracer.recording = False
        restore()
        scraper.close()
    check(wl, records)
    traced = end_to_end(records, wall)

    busy = tracer.layer_seconds()
    c = tracer.counts
    s = scraper.counts
    tables = c["pushdown.tables"]
    out = dict(phases)
    out.update({
        "pushdown.busy_s": busy["pushdown"],
        "pushdown.tables": tables,
        "pushdown.materialized": c["pushdown.materialized"],
        "fagms.build_s": busy["fagms"],
        "fagms.builds": c["fagms.builds"],
        "fagms.rows": c["fagms.rows"],
        "fagms.template_hit_ratio": (tables - c["fagms.builds"]) / tables if tables else 0.0,
        "search.busy_s": busy["search"],
        "search.expansions": c["search.expansions"],
        "search.exhausted": c["search.exhausted"],
        "search.fallbacks": c["search.fallbacks"],
        "search.cost_ratio_geomean": geomean(tracer.cost_ratios),
        "optimizer.plan_s": busy["optimizer.plan"],
        "optimizer.build_s": busy["optimizer.build"],
        "optimizer.build_jobs": s["optimizer.build_jobs"],
        "operators.build_s": busy["operators.build"],
        "operators.build_jobs": s["operators.build_jobs"],
        "exec.collect_s": busy["exec.collect"],
        "exec.cached_rdds": scraper.cached_rdds(),
        "traced.queries": len(records),
        "traced.rest_errors": scraper.errors,
    })
    for k in trace.EXEC_COUNTERS:
        out[k] = s[k]
    for k in ("throughput_qps", "latency_p50_s"):
        out[f"overhead.{k}"] = traced[k] - untraced[k]
    out["overhead.peak_rss_mb"] = peak_rss_mb() - phases["peak_rss_mb"]
    tracer.dump(os.path.join(ROOT, ".perfbench_out", f"{wl.name}-seed{seed}-spans.json"))
    return out, records


def _bootstrap() -> str:
    """Environment every process of the run inherits; returns the run's
    scratch directory inside the checkout."""
    tmp = os.path.join(ROOT, ".perfbench_tmp", str(os.getpid()))
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    # Python workers import the package (the sketch builds and operator
    # UDFs are package functions), so they need the checkout on their path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, ROOT)
    return tmp


def _stop_spark() -> None:
    """Stop the session and wait for the JVM to exit. The JVM leaves when
    its stdin closes; one that has not gone a minute later is killed."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is not None:
        sc.setLogLevel("OFF")
        sc.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: {PACKAGE}/ not found beside perfbench/ in {ROOT}; "
              "run from a checkout of the repository", file=sys.stderr)
        return 2
    tmp = _bootstrap()
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    try:
        meta, result = run_workload(args)
    finally:
        try:
            _stop_spark()
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
    with open(os.path.join(ROOT, ".perfbench_out",
                           f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as fh:
        json.dump({"meta": meta, "result": result}, fh, indent=1)
    stamp = {k: meta[k] for k in ("workload", "seed", "trace", "nproc", "clients",
                                  "loadavg_start", "loadavg_end", "python", "spark", "java")}
    sys.stdout.write(json.dumps(stamp, separators=(",", ":")) + "\n")
    sys.stdout.write(json.dumps(result, separators=(",", ":")) + "\n")
    sys.stdout.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())
