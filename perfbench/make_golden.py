#!/usr/bin/env python3
"""Write ``golden_job_counts.json``: the COUNT(*) of each JOB query the
benchmark runs (``workloads.JOB_QUERIES``) on its mini-IMDB fixture.

    python3 perfbench/make_golden.py [--duckdb-timeout 5]

Each count is computed twice: by DuckDB running the query text over the
same parquet, and by this package's COMPASS planner. Where DuckDB answers
within the timeout, the two must agree (the script stops otherwise) and
the entry is labelled ``duckdb``. Where it does not, the entry holds the
COMPASS count and is labelled ``engine-pinned``: it guards against a
change of answer, not against an answer that was wrong from the start.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import threading
from concurrent.futures import ThreadPoolExecutor

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def duckdb_counts(paths: dict[str, str], corpus: dict[str, str], timeout: float) -> dict:
    import duckdb

    con = duckdb.connect()
    for name, path in paths.items():
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    out = {}
    for qid in sorted(corpus):
        timer = threading.Timer(timeout, con.interrupt)
        timer.start()
        try:
            out[qid] = int(con.execute(corpus[qid]).fetchone()[0])
        except duckdb.InterruptException:
            out[qid] = None
        finally:
            timer.cancel()
    con.close()
    return out


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--duckdb-timeout", type=float, default=5.0)
    args = p.parse_args()
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        x for x in (ROOT, os.environ.get("PYTHONPATH")) if x)

    from compass_query_optimizer_spark.fixtures import ensure_job_fixture
    from compass_query_optimizer_spark.plans import job_corpus
    from compass_query_optimizer_spark.plans.optimizer import CompassOptimizer
    from compass_query_optimizer_spark.session import get_spark

    from perfbench.run import _stop_spark
    from perfbench.workloads import GOLDEN_PATH, JOB_QUERIES, JOB_SCALE, JOB_SEED

    corpus = {q: job_corpus.load_corpus()[q] for q in JOB_QUERIES}
    paths = ensure_job_fixture(seed=JOB_SEED, scale=JOB_SCALE)
    duck = duckdb_counts(paths, corpus, args.duckdb_timeout)

    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    spark = get_spark(app_name="perfbench-golden",
                      extra_conf={"spark.driver.memory": "4g",
                                  "spark.ui.showConsoleProgress": "false"})
    tables, counts = job_corpus.job_tables(spark, scale=JOB_SCALE)
    opt = CompassOptimizer(spark)

    def compass(qid: str) -> int:
        plan = opt.plan(corpus[qid], tables=tables, counts=counts, count_cache_tag=None)
        return int(opt.build_count_join(plan).collect()[0][0])

    with ThreadPoolExecutor(max_workers=len(os.sched_getaffinity(0))) as pool:
        engine = dict(zip(sorted(corpus), pool.map(compass, sorted(corpus))))
    out, mismatches = {}, []
    for qid, n in engine.items():
        if duck[qid] is not None and duck[qid] != n:
            mismatches.append(f"{qid}: compass {n} duckdb {duck[qid]}")
        out[qid] = {"count": n, "source": "duckdb" if duck[qid] is not None else "engine-pinned"}
    _stop_spark()
    if mismatches:
        print(f"COMPASS and DuckDB disagree on {mismatches}; nothing written", file=sys.stderr)
        return 1
    doc = {
        "fixture": f"mini_imdb seed {JOB_SEED} scale {JOB_SCALE}",
        "duckdb_timeout_s": args.duckdb_timeout,
        "counts": out,
    }
    with open(GOLDEN_PATH, "w") as fh:
        json.dump(doc, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
