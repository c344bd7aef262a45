"""Spliced count seeds: an alias of at most KEYS_PER_TASK base rows and
MAX_SIZE survivors enters the eager count chain from the push-down's
collected join keys (a LocalRelation) instead of a rescan, refilter and
collapse shuffle. These tests pin that the spliced seed is the scan
collapse, that only a visit whose sketch build collected the keys
splices (a template hit does not), where its two bounds sit, and the
Spark jobs it saves."""

from __future__ import annotations

import uuid

import pytest

from compass_query_optimizer_spark.plans.fagms import KEYS_PER_TASK
from compass_query_optimizer_spark.plans.job_corpus import job_tables, load_corpus
from compass_query_optimizer_spark.plans.optimizer import (
    CompassOptimizer,
    _referenced_cols,
    _scan_collapse,
    _spliced_seed,
)
from compass_query_optimizer_spark.plans.pushdown import MAX_SIZE
from tests.conftest import SF_DIR_ORACLE

JOB_A = [f"{i}a" for i in range(1, 9)]


@pytest.fixture(scope="module")
def job1(spark):
    return job_tables(spark, scale=1)


def _sorted_rows(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


def _assert_spliced_equal_scan(plan, group_by=None) -> int:
    """Every spliced alias's seed has the rows and schema of the scan
    collapse of its frame; returns how many aliases were checked."""
    needed, _ = _referenced_cols(plan.spec, group_by)
    for alias in plan.extras["spliced"]:
        f = plan.pushdown.frames[alias]
        key_cols = sorted(c for c in needed[alias] if c in f.columns)
        spliced = _spliced_seed(plan, alias, key_cols)
        scan = _scan_collapse(f, alias, key_cols)
        assert spliced.schema == scan.schema, alias
        assert _sorted_rows(spliced) == _sorted_rows(scan), alias
    return len(plan.extras["spliced"])


def _job_count(spark, group: str) -> int:
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def test_job_tables_open_without_spark_jobs(spark):
    """Each table's schema comes from its parquet footer: opening the 21
    fixture tables runs no schema-inference job, and every schema is the
    one Spark would infer."""
    from compass_query_optimizer_spark.fixtures import ensure_job_fixture

    sc = spark.sparkContext
    group = f"open-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job_tables open")
    try:
        tables, counts = job_tables(spark, scale=1)
    finally:
        sc._jsc.clearJobGroup()
    assert _job_count(spark, group) == 0
    paths = ensure_job_fixture(scale=1)
    assert set(tables) == set(paths) == set(counts) and len(paths) == 21
    for name, path in paths.items():
        assert tables[name].schema == spark.read.parquet(path).schema, name


def test_spliced_seeds_equal_scan_collapse_on_job(spark, job1):
    """JOB 1a-8a at scale 1: each spliced alias's LocalRelation seed is
    row- and schema-identical to the select → groupBy → count it
    replaces, and the chain's answers are unchanged."""
    tables, counts = job1
    corpus = load_corpus()
    opt = CompassOptimizer(spark)
    checked = 0
    for qid in JOB_A:
        plan = opt.plan(corpus[qid], tables=tables, counts=counts, count_cache_tag=None)
        opt.build_count_join(plan)
        checked += _assert_spliced_equal_scan(plan)
    assert checked >= 30


def test_spliced_seeds_equal_scan_collapse_on_compass_entries(spark, monkeypatch):
    """The 21 ``compass_*`` entries at sf0.01, grouped and measured forms
    included: every spliced alias's seed equals its scan collapse. The
    entries are tagged by their sf_dir, so the template cache starts
    empty here: only a visit whose sketch build ran keeps keys."""
    from compass_query_optimizer_spark.plans import pushdown
    from compass_query_optimizer_spark.registry import all_queries

    monkeypatch.setattr(pushdown, "_TEMPLATE_CACHE", {})

    built = []
    build0 = CompassOptimizer.build_count_join

    def record(self, plan, group_by=None, measures=None):
        df = build0(self, plan, group_by=group_by, measures=measures)
        built.append((plan, group_by))
        return df

    monkeypatch.setattr(CompassOptimizer, "build_count_join", record)
    entries = [n for n in all_queries() if n.startswith("compass_")]
    assert len(entries) == 21
    for name in entries:
        all_queries()[name].build(spark, SF_DIR_ORACLE)
    assert built
    checked = sum(_assert_spliced_equal_scan(p, g) for p, g in built)
    assert checked > 0


def test_tiny_table_null_predicate_excludes_rows(spark):
    """A tiny table is sketched unfiltered as a template, and the same
    collect masks its keys by the predicate: rows whose predicate is NULL
    are not among the spliced keys, exactly as a filter drops them."""
    small = spark.createDataFrame(
        [(i, None if i % 3 == 0 else i) for i in range(60)], "k long, v long"
    )
    big = spark.createDataFrame([(i % 60,) for i in range(600)], "k long")
    sql = "SELECT COUNT(*) FROM small AS s, big AS b WHERE s.k = b.k AND s.v > 10"
    opt = CompassOptimizer(spark)
    plan = opt.plan(
        sql, tables={"small": small, "big": big}, counts={"small": 60, "big": 600}
    )
    assert plan.pushdown.stats["s"].rows == 60  # the unfiltered template
    kept = sorted(plan.pushdown.keys["s"].column("k").to_pylist())
    assert kept == [i for i in range(60) if i % 3 and i > 10]
    cnt = opt.build_count_join(plan).collect()[0]["cnt"]
    assert plan.extras["spliced"]["s"] == len(kept)
    assert cnt == 10 * len(kept)
    _assert_spliced_equal_scan(plan)


def test_template_hit_splices_nothing(spark, job1, monkeypatch):
    """Planning a tagged query twice: the template miss splices from the
    keys its sketch builds collected; the hit builds nothing and keeps no
    keys, so every alias seeds from a scan, as before splicing. Both
    plans choose the same order and give the same count."""
    from compass_query_optimizer_spark.plans import pushdown

    builds = []
    build0 = pushdown.build_sketches_arrow

    def record(*args, **kwargs):
        builds.append(1)
        return build0(*args, **kwargs)

    monkeypatch.setattr(pushdown, "build_sketches_arrow", record)
    tables, counts = job1
    tag = f"splice-hit-{uuid.uuid4().hex}"
    opt = CompassOptimizer(spark)
    runs = []
    for _ in range(2):
        n0 = len(builds)
        plan = opt.plan(load_corpus()["8a"], tables=tables, counts=counts, count_cache_tag=tag)
        cnt = opt.build_count_join(plan).collect()[0]["cnt"]
        runs.append((len(builds) - n0, plan, cnt))
    (miss_builds, miss, miss_cnt), (hit_builds, hit, hit_cnt) = runs
    assert miss_builds == len(miss.spec.tables) and hit_builds == 0
    assert miss.extras["spliced"] and miss.pushdown.keys
    assert not hit.extras["spliced"] and not hit.pushdown.keys
    assert miss.search.order == hit.search.order
    assert miss_cnt == hit_cnt


@pytest.mark.parametrize(
    "survivors, base, spliced",
    [
        (MAX_SIZE, 2 * MAX_SIZE, True),
        (MAX_SIZE + 1, 2 * MAX_SIZE, False),
        (10, KEYS_PER_TASK + 1, False),
    ],
)
def test_splice_bounds(spark, survivors, base, spliced):
    """An alias is spliced when at most MAX_SIZE rows survive its filter
    and its table has at most KEYS_PER_TASK base rows (its keys were
    collected on the driver); the answer is the same either way."""
    fact = spark.range(base).selectExpr("id", "id % 50 AS k")
    dim = spark.range(50).selectExpr("id AS k")
    sql = f"SELECT COUNT(*) FROM fact AS f, dim AS d WHERE f.k = d.k AND f.id < {survivors}"
    opt = CompassOptimizer(spark)
    plan = opt.plan(sql, tables={"fact": fact, "dim": dim}, counts={"fact": base, "dim": 50})
    cnt = opt.build_count_join(plan).collect()[0]["cnt"]
    assert cnt == survivors
    assert ("f" in plan.extras["spliced"]) is spliced
    assert ("f" in plan.pushdown.keys) is spliced
    assert plan.extras["spliced"].get("d") == 50  # tiny and unfiltered


def test_job_1a_runs_at_most_12_spark_jobs(spark, job1):
    """Job budget: planning and collecting JOB 1a online at scale 1 runs
    at most 12 Spark jobs (17 while every table entered the count chain
    through its own scan and collapse shuffle)."""
    tables, counts = job1
    sc = spark.sparkContext
    group = f"budget-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "JOB 1a job budget")
    try:
        opt = CompassOptimizer(spark)
        plan = opt.plan(load_corpus()["1a"], tables=tables, counts=counts, count_cache_tag=None)
        opt.build_count_join(plan).collect()
    finally:
        sc._jsc.clearJobGroup()
    assert _job_count(spark, group) <= 12
