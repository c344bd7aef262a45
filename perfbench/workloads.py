"""The benchmark's workloads: which queries a pass issues, how one query
runs through the package's public functions, and how its answer is
checked.

A pass issues every query of the workload's fixed set once, in an order
drawn from the run's seed. The sets are fixed so that two runs with
different seeds measure the same work and differ only in issue order and
in which client runs which query.
"""

from __future__ import annotations

import datetime as dt
import decimal
import json
import math
import os
import time

HERE = os.path.dirname(os.path.abspath(__file__))
GOLDEN_PATH = os.path.join(HERE, "golden_job_counts.json")
# byte copies of the repository's sf0.01 test tables: the operator entries'
# inputs as the oracle tests see them, kept here because a run may read
# only its checkout
OPS_DATA = os.path.join(HERE, "data", "sf0.01")

# The JOB fixture: the package's mini-IMDB at a fixed seed and scale.
JOB_SEED = 42
JOB_SCALE = 1

# A fixed slice of the 113-query corpus: the first variant of JOB families
# 1-8, with 4 to 8 tables each. A slice, because one online pass over all
# 113 queries takes over three minutes on 4 cores and a run has about one;
# this slice, because the rule picks by family number, not by speed, and
# its join graphs range from 4-table stars to 8-table chains.
JOB_QUERIES = ["1a", "2a", "3a", "4a", "5a", "6a", "7a", "8a"]

# The first entry of each operator module in bench.py's headline order,
# counting only entries that are neither compass_* nor the JOB-shaped
# count: one entry per module of operators/, plus workload.py and the
# streaming queries. The whole 46-entry set takes about 90 s a pass on
# 4 cores, longer than a run; the rule picks by module, not by speed.
OPS_QUERIES = [
    "q01_pricing_summary",    # workload.py: scan-heavy aggregation
    "dedup_exact",            # operators/dedup.py
    "sim_topk_bruteforce",    # operators/similarity.py
    "text_quality",           # operators/text.py
    "text_pii_redact",        # operators/privacy.py
    "temporal_asof_join",     # operators/temporal.py
    "docs_snapshot_diff",     # operators/versioning.py
    "mm_frame_sample",        # operators/multimodal.py: Arrow mapInPandas
    "stream_window_rollup",   # streaming/queries.py
    "emb_prefix_norm",        # operators/embeddings.py
    "pipeline_pretrain",      # operators/curation.py
]


def load_golden() -> dict[str, int]:
    with open(GOLDEN_PATH) as fh:
        return {q: int(v["count"]) for q, v in json.load(fh)["counts"].items()}


class JobOnline:
    """JOB COUNT(*) queries planned online: ``count_cache_tag=None``
    bypasses the sketch-template, key-NDV and frame-store caches, so every
    query builds its own sketches, as in the paper."""

    name = "job_online"
    clients = 1
    pass_s = 22.0  # one pass on the reference 4-core box

    def __init__(self):
        self.queries = list(JOB_QUERIES)

    def setup(self, spark) -> dict[str, float]:
        from compass_query_optimizer_spark.fixtures import ensure_job_fixture
        from compass_query_optimizer_spark.plans import job_corpus
        from compass_query_optimizer_spark.plans.optimizer import CompassOptimizer

        t = time.perf_counter()
        ensure_job_fixture(seed=JOB_SEED, scale=JOB_SCALE)
        self.tables, self.counts = job_corpus.job_tables(spark, scale=JOB_SCALE)
        fixture_s = time.perf_counter() - t
        corpus = job_corpus.load_corpus()
        self.sql = {q: corpus[q] for q in self.queries}
        self.opt = CompassOptimizer(spark)
        self.golden = load_golden()
        return {"fixtures.ensure_s": fixture_s}

    def run(self, qid: str, tracer) -> int:
        plan = self.opt.plan(self.sql[qid], tables=self.tables, counts=self.counts,
                             count_cache_tag=None)
        df = self.opt.build_count_join(plan)
        return int(tracer.call("exec.collect", df.collect)[0][0])

    def after_query(self, spark) -> None:
        """Push-down ``.cache()``s each selective filtered frame and
        nothing unpersists it, so Spark would serve the next plan with the
        same filter from memory. Clearing after every query keeps each
        one cold, as an online optimizer meets it."""
        spark.catalog.clearCache()

    def prepare_checks(self) -> None:
        pass

    def check(self, qid: str, result) -> bool:
        return result == self.golden[qid]


class OpsMix:
    """Operator entries through their registry builders: no COMPASS
    planning, so every ``plans.*`` count stays 0."""

    name = "ops_mix"
    clients = 1
    pass_s = 16.0

    def __init__(self):
        self.queries = list(OPS_QUERIES)

    def setup(self, spark) -> dict[str, float]:
        from compass_query_optimizer_spark.registry import all_queries

        t = time.perf_counter()
        if not os.path.isfile(os.path.join(OPS_DATA, "lineitem.parquet")):
            raise FileNotFoundError(f"operator tables missing under {OPS_DATA}")
        self.sf_dir = OPS_DATA
        fixture_s = time.perf_counter() - t
        self.spark = spark
        specs = all_queries()
        self.specs = {q: specs[q] for q in self.queries}
        return {"fixtures.ensure_s": fixture_s}

    def run(self, qid: str, tracer):
        df = tracer.call("operators.build", self.specs[qid].build, self.spark, self.sf_dir)
        rows = tracer.call("exec.collect", df.collect)
        return list(df.columns), [tuple(r) for r in rows]

    def after_query(self, spark) -> None:
        pass

    def prepare_checks(self) -> None:
        """Each entry's DuckDB oracle over the same parquet, normalized."""
        import duckdb

        con = duckdb.connect()
        try:
            for f in sorted(os.listdir(self.sf_dir)):
                if f.endswith(".parquet"):
                    path = os.path.join(self.sf_dir, f)
                    con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{path}'")
            self.oracle = {}
            for q, spec in self.specs.items():
                res = con.execute(spec.oracle_text())
                self.oracle[q] = normalize([d[0] for d in res.description], res.fetchall())
        finally:
            con.close()

    def check(self, qid: str, result) -> bool:
        return normalize(*result) == self.oracle[qid]


def _norm_cell(v):
    if v is None:
        return None
    if isinstance(v, float):
        # exact: every entry rounds its doubles on both sides
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, decimal.Decimal):
        return str(v.normalize())
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm_cell(x) for x in v)
    return v


def normalize(cols: list[str], rows: list) -> tuple[list, list]:
    """Order-insensitive form of a result, by the rule of the repository's
    oracle test: columns sorted by name, cells made comparable across
    engines, rows sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm_cell(r[i]) for i in order) for r in rows]
    return sorted(cols), sorted(out, key=lambda t: tuple(map(str, t)))


WORKLOADS = {w.name: w for w in (JobOnline, OpsMix)}
