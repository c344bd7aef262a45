"""COMPASS planner tests: parser/graph, sketch properties, distributed
build exactness, search quality, end-to-end semantics preservation.

Mirrors the reference's validation approach (SURVEY.md §5: property tests —
sketch estimate within error bounds; chosen order never worse than the
size-descending fallback)."""

from __future__ import annotations

import collections
import threading
import time

import numpy as np
import pytest

from compass_query_optimizer_spark.plans.fagms import (
    SKETCH_BUCKETS,
    SKETCH_ROWS,
    Sketch,
    build_sketches_arrow,
    estimate_two_way,
    numpy_update,
    seeds_for_class,
)
from compass_query_optimizer_spark.plans.graph import JoinGraph, parse_join_query
from compass_query_optimizer_spark.plans.search import (
    TableStats,
    choose_join_order,
    fallback_order,
    order_cost,
)
from compass_query_optimizer_spark.workload import FLAGSHIP_SQL

SF = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------- graph
def test_parse_flagship():
    spec = parse_join_query(FLAGSHIP_SQL)
    assert set(spec.tables) == {"region", "nation", "customer", "orders", "lineitem", "part"}
    assert len(spec.join_preds) == 5
    assert set(spec.filters) == {"region", "part", "customer", "orders"}
    assert not spec.post_filters
    g = JoinGraph(spec)
    assert g.is_connected()
    # custkey and o_custkey share one equality class → same seeds
    assert g.class_key("customer", "c_custkey") == g.class_key("orders", "o_custkey")


def test_parse_aliased_job_style():
    sql = """
    SELECT COUNT(*) FROM info_type AS it1, info_type AS it2, movie_info AS mi
    WHERE it1.id = mi.info_type_id AND it2.id = mi.movie_id
      AND it1.info = 'rating' AND mi.note LIKE '%x%'
    """
    spec = parse_join_query(sql)
    assert spec.tables == {"it1": "info_type", "it2": "info_type", "mi": "movie_info"}
    assert ("it1", "id", "mi", "info_type_id") in spec.join_preds
    assert spec.filters["it1"] == "info = 'rating'"
    assert "note LIKE '%x%'" in spec.filters["mi"]


def test_seed_sharing_is_deterministic():
    a = seeds_for_class("eq:x")
    b = seeds_for_class("eq:x")
    c = seeds_for_class("eq:y")
    assert np.array_equal(a.a, b.a) and np.array_equal(a.sv, b.sv)
    assert not np.array_equal(a.a, c.a)


# --------------------------------------------------------------------- sketch
def _true_join(k1, k2):
    c1, c2 = collections.Counter(k1.tolist()), collections.Counter(k2.tolist())
    return sum(v * c2.get(k, 0) for k, v in c1.items())


@pytest.mark.parametrize("dist", ["uniform", "skewed"])
def test_sketch_estimate_accuracy(dist):
    rng = np.random.default_rng(11)
    if dist == "uniform":
        k1 = rng.integers(0, 2000, 30000)
        k2 = rng.integers(0, 2000, 20000)
    else:  # zipf-ish skew: the case sketches exist for
        k1 = (rng.zipf(1.5, 30000) % 2000)
        k2 = (rng.zipf(1.5, 20000) % 2000)
    seeds = seeds_for_class("eq:acc")
    s1 = Sketch(np.zeros((SKETCH_ROWS, SKETCH_BUCKETS)), seeds)
    s2 = Sketch(np.zeros((SKETCH_ROWS, SKETCH_BUCKETS)), seeds)
    numpy_update(s1, k1)
    numpy_update(s2, k2)
    est, true = estimate_two_way(s1, s2), _true_join(k1, k2)
    assert true > 0
    assert abs(est - true) / true < 0.25, f"{dist}: est={est} true={true}"


def test_distributed_build_matches_numpy(spark):
    import pandas as pd

    rng = np.random.default_rng(3)
    keys = rng.integers(-100, 5000, 20000)  # include negatives
    df = spark.createDataFrame(pd.DataFrame({"k": keys}))
    seeds = {"k": seeds_for_class("eq:z")}
    # no row hint: the input keeps its several partitions, so the driver
    # merges several partial counter matrices
    cnt, sk = build_sketches_arrow(df, seeds)
    twin = Sketch(np.zeros((SKETCH_ROWS, SKETCH_BUCKETS)), seeds["k"])
    numpy_update(twin, keys)
    assert cnt == len(keys)
    assert np.array_equal(sk["k"].counters, twin.counters)


def test_in_process_build_matches_distributed_on_job_visits(spark, monkeypatch):
    """Every table visit of JOB 1a-8a at fixture scale 1 (planned online,
    so each visit builds) gets the same count and bit-identical counters
    from the in-process build (row hint = base count, ≤ one task) as from
    the distributed mapInArrow build (no hint)."""
    from compass_query_optimizer_spark.plans import pushdown
    from compass_query_optimizer_spark.plans.fagms import KEYS_PER_TASK
    from compass_query_optimizer_spark.plans.job_corpus import job_tables, load_corpus
    from compass_query_optimizer_spark.plans.optimizer import CompassOptimizer

    visits = []

    def record(df, col_seeds, nrows_hint=None):
        visits.append((df, col_seeds, nrows_hint))
        return build_sketches_arrow(df, col_seeds, nrows_hint=nrows_hint)

    monkeypatch.setattr(pushdown, "build_sketches_arrow", record)
    tables, counts = job_tables(spark, scale=1)
    corpus = load_corpus()
    opt = CompassOptimizer(spark)
    qids = [f"{i}a" for i in range(1, 9)]
    for qid in qids:
        opt.plan(corpus[qid], tables=tables, counts=counts, count_cache_tag=None)
    assert len(visits) == sum(len(parse_join_query(corpus[q]).tables) for q in qids)
    for df, col_seeds, hint in visits:
        assert hint <= KEYS_PER_TASK
        cnt_in, sk_in = build_sketches_arrow(df, col_seeds, nrows_hint=hint)
        cnt_dist, sk_dist = build_sketches_arrow(df, col_seeds)
        assert cnt_in == cnt_dist
        assert sk_in.keys() == sk_dist.keys()
        for c in sk_in:
            assert np.array_equal(sk_in[c].counters, sk_dist[c].counters), c


def test_pushdown_tasks_inherit_the_job_group(spark, monkeypatch):
    """Every sketch build of a plan made under a job group runs in that
    group, although the push-down pool runs it on another thread: a
    job-group cancel (run_corpus's DNF timer) and REST attribution by
    group reach the builds."""
    from compass_query_optimizer_spark.plans import pushdown
    from compass_query_optimizer_spark.plans.job_corpus import job_tables, load_corpus
    from compass_query_optimizer_spark.plans.optimizer import CompassOptimizer

    sc = spark.sparkContext
    groups = []

    def record(df, col_seeds, nrows_hint=None):
        groups.append(sc.getLocalProperty("spark.jobGroup.id"))
        return build_sketches_arrow(df, col_seeds, nrows_hint=nrows_hint)

    monkeypatch.setattr(pushdown, "build_sketches_arrow", record)
    tables, counts = job_tables(spark, scale=1)
    sql = load_corpus()["8a"]
    sc.setJobGroup("g", "push-down job group", interruptOnCancel=True)
    try:
        CompassOptimizer(spark).plan(sql, tables=tables, counts=counts, count_cache_tag=None)
    finally:
        sc._jsc.clearJobGroup()
    assert len(groups) == len(parse_join_query(sql).tables)
    assert groups == ["g"] * len(groups), groups


def test_pushdown_runs_without_pinned_threads(spark, monkeypatch):
    """With PYSPARK_PIN_THREAD=false, ``inheritable_thread_target(session)``
    returns the session itself instead of a wrapper; push-down then runs
    its tasks unwrapped and plans as before."""
    from compass_query_optimizer_spark.plans import pushdown
    from compass_query_optimizer_spark.plans.job_corpus import job_tables, load_corpus
    from compass_query_optimizer_spark.plans.optimizer import CompassOptimizer

    tables, counts = job_tables(spark, scale=1)
    sql = load_corpus()["1a"]
    opt = CompassOptimizer(spark)
    pinned = opt.plan(sql, tables=tables, counts=counts, count_cache_tag=None)
    monkeypatch.setattr(pushdown, "inheritable_thread_target", lambda session: session)
    unpinned = opt.plan(sql, tables=tables, counts=counts, count_cache_tag=None)
    assert unpinned.search.order == pinned.search.order
    assert {a: s.rows for a, s in unpinned.pushdown.stats.items()} == {
        a: s.rows for a, s in pinned.pushdown.stats.items()
    }


def _two_callers(cache: dict, compute):
    """Run ``pushdown.cached`` on one key of ``cache`` from two threads.
    The second caller starts once the first is inside ``compute``; the
    first ``compute`` call is held until the second caller computes too or
    has had a second to reach the cache. Returns (per-caller result or
    exception, number of compute calls)."""
    from compass_query_optimizer_spark.plans import pushdown

    entered, release = threading.Event(), threading.Event()
    calls = []

    def counted():
        calls.append(1)
        if len(calls) == 1:
            entered.set()
            assert release.wait(30)
        return compute()

    out = [None, None]

    def caller(i):
        try:
            out[i] = pushdown.cached(cache, "tag", ("key",), counted)
        except Exception as e:  # handed back for the test to inspect
            out[i] = e

    first = threading.Thread(target=caller, args=(0,))
    first.start()
    assert entered.wait(30)
    second = threading.Thread(target=caller, args=(1,))
    second.start()
    deadline = time.monotonic() + 1.0
    while len(calls) < 2 and time.monotonic() < deadline:
        time.sleep(0.01)
    release.set()
    first.join(30)
    second.join(30)
    return out, len(calls)


def test_cached_builds_each_key_once_for_concurrent_callers():
    """Single-flight: a caller that misses a key another caller is already
    computing waits for that result instead of computing it again."""
    out, calls = _two_callers({}, object)
    assert calls == 1
    assert out[0] is out[1] and out[0] is not None


def test_cached_hands_a_failure_to_every_waiter_and_stores_nothing():
    from compass_query_optimizer_spark.plans import pushdown

    def boom():
        raise RuntimeError("sketch build failed")

    cache: dict = {}
    out, calls = _two_callers(cache, boom)
    assert calls == 1
    assert all(isinstance(e, RuntimeError) for e in out), out
    assert cache == {}
    # nothing stored and nothing left in flight: the next call computes
    assert pushdown.cached(cache, "tag", ("key",), lambda: 7) == 7
    assert cache == {("tag", "key"): 7}


def test_build_routes_on_the_one_task_bound(spark, monkeypatch):
    """A row hint of exactly one task's keys builds in-process (no
    MapInArrow); one row more keeps the distributed pass."""
    from compass_query_optimizer_spark.plans.fagms import KEYS_PER_TASK

    df = spark.range(-50, 950).selectExpr("id % 97 AS k")
    seeds = {"k": seeds_for_class("eq:route")}
    DataFrame = type(df)
    map_in_arrow = DataFrame.mapInArrow

    def refuse(self, *args, **kwargs):
        raise AssertionError("in-process build ran mapInArrow")

    monkeypatch.setattr(DataFrame, "mapInArrow", refuse)
    cnt_in, sk_in = build_sketches_arrow(df, seeds, nrows_hint=KEYS_PER_TASK)
    cnt_empty, sk_empty = build_sketches_arrow(df.filter("k > 1000"), seeds, nrows_hint=10)
    assert cnt_empty == 0 and not sk_empty["k"].counters.any()

    calls = []

    def spy(self, *args, **kwargs):
        calls.append(1)
        return map_in_arrow(self, *args, **kwargs)

    monkeypatch.setattr(DataFrame, "mapInArrow", spy)
    cnt_dist, sk_dist = build_sketches_arrow(df, seeds, nrows_hint=KEYS_PER_TASK + 1)
    assert calls == [1]
    assert cnt_in == cnt_dist == 1000
    assert np.array_equal(sk_in["k"].counters, sk_dist["k"].counters)


# --------------------------------------------------------------------- search
def _mini_graph():
    sql = """
    SELECT COUNT(*) FROM region, nation, customer, orders
    WHERE r_regionkey = n_regionkey AND n_nationkey = c_nationkey
      AND c_custkey = o_custkey
    """
    return JoinGraph(parse_join_query(sql))


def _stats_from_keys(graph, keysets):
    stats = {}
    for alias, cols in keysets.items():
        sketches = {}
        for col, keys in cols.items():
            s = Sketch(
                np.zeros((SKETCH_ROWS, SKETCH_BUCKETS)),
                seeds_for_class(graph.class_key(alias, col)),
            )
            numpy_update(s, np.asarray(keys))
            sketches[col] = s
        stats[alias] = TableStats(
            rows=len(next(iter(cols.values()))), sketches=sketches
        )
    return stats


def test_search_beats_or_ties_fallback():
    rng = np.random.default_rng(5)
    g = _mini_graph()
    stats = _stats_from_keys(
        g,
        {
            "region": {"r_regionkey": np.arange(5)},
            "nation": {
                "n_regionkey": rng.integers(0, 5, 25),
                "n_nationkey": np.arange(25),
            },
            "customer": {
                "c_nationkey": rng.integers(0, 25, 1500),
                "c_custkey": np.arange(1500),
            },
            "orders": {"o_custkey": rng.integers(0, 1500, 15000)},
        },
    )
    res = choose_join_order(g, stats, budget=100)
    assert not res.fallback
    assert sorted(res.order) == sorted(g.spec.tables)
    fb_cost = order_cost(g, stats, fallback_order(stats))
    assert res.cost <= fb_cost + 1e-9
    # connectivity: each prefix joins something already present
    seen = {res.order[0]}
    for a in res.order[1:]:
        assert any(b in seen for (b, _, _) in g.adj[a]), "cartesian prefix"
        seen.add(a)


def test_search_budget_respected():
    g = _mini_graph()
    stats = _stats_from_keys(
        g,
        {
            "region": {"r_regionkey": np.arange(5)},
            "nation": {
                "n_regionkey": np.arange(25) % 5,
                "n_nationkey": np.arange(25),
            },
            "customer": {
                "c_nationkey": np.arange(100) % 25,
                "c_custkey": np.arange(100),
            },
            "orders": {"o_custkey": np.arange(300) % 100},
        },
    )
    res = choose_join_order(g, stats, budget=3)
    assert res.expansions <= 3 or res.fallback


# ----------------------------------------------------------------- end-to-end
def test_compass_preserves_semantics(spark):
    from compass_query_optimizer_spark.catalog import load_tables
    from compass_query_optimizer_spark.plans.optimizer import CompassOptimizer

    opt = CompassOptimizer(spark)
    got = opt.execute_count(FLAGSHIP_SQL, SF).collect()[0].cnt
    load_tables(spark, SF)
    want = spark.sql(FLAGSHIP_SQL).collect()[0].cnt
    assert got == want


def test_compass_plan_shape(spark):
    from compass_query_optimizer_spark.plans.optimizer import CompassOptimizer

    plan = CompassOptimizer(spark).plan(FLAGSHIP_SQL, SF)
    assert not plan.search.fallback
    assert plan.fallback_cost is not None
    assert plan.search.cost <= plan.fallback_cost + 1e-9
    # the filtered selective tables should be the string-predicate dims
    assert plan.pushdown.stats["lineitem"].rows > 0


def test_explain_report(spark, monkeypatch):
    """EXPLAIN analog: the report must show the chosen order, per-table
    push-down outcomes, prefix estimates, and (with physical=True) Spark's
    formatted physical plan."""
    from compass_query_optimizer_spark.plans import pushdown
    from compass_query_optimizer_spark.plans.optimizer import CompassOptimizer

    # a template miss, so the push-down keeps the keys its builds collect
    monkeypatch.setattr(pushdown, "_TEMPLATE_CACHE", {})
    opt = CompassOptimizer(spark)
    plan = opt.plan(FLAGSHIP_SQL, SF)
    txt = opt.explain(plan)
    assert "COMPASS plan:" in txt and " ⋈ " in txt
    assert "mode=sketch search" in txt
    assert "fallback_cost=" in txt
    for alias in plan.search.order:
        assert f"{alias} (" in txt
    assert "prefix size estimates" in txt

    full = opt.explain(plan, physical=True)
    assert "spark physical plan:" in full
    assert "== Physical Plan ==" in full

    # the eager count plan pre-aggregates every table before joining:
    # its physical dump must show per-table partial aggregates (the
    # multiplicity collapse), which the row-producing join has none of
    cnt = opt.explain(plan, physical=True, count=True)
    assert "== Physical Plan ==" in cnt
    assert cnt.count("HashAggregate") > full.count("HashAggregate")
    assert "eager aggregation: count(*) via multiplicity chain" in cnt

    # each table line names its chain seed's source: the keys the
    # push-down collected, or a scan; the row-producing join scans all
    spliced = plan.extras["spliced"]
    assert spliced and set(spliced) <= set(plan.search.order)
    for report, seeds in ((cnt, spliced), (full, {})):
        for alias in plan.search.order:
            line = next(
                l for l in report.splitlines() if l.strip().startswith(f"{alias} (")
            )
            seed = f"spliced({seeds[alias]} keys)" if alias in seeds else "scan"
            assert seed in line, line
            assert ("selective+broadcast" in line) != ("virtual" in line)

    # the measure-op variants are inspectable through the same surface
    # (round-6 verdict #3: the algebra claim must be EXPLAIN-visible)
    m = opt.explain(
        plan, count=True, measures=[("lineitem", "l_extendedprice", "sum")],
        group_by=[("orders", "o_orderstatus")],
    )
    assert "eager aggregation: sum(lineitem.l_extendedprice) + count(*)" in m
    assert "group by orders.o_orderstatus" in m
    mcd = opt.explain(
        plan, physical=True, count=True,
        measures=[("lineitem", "l_extendedprice", "count_distinct")],
    )
    assert "count_distinct(lineitem.l_extendedprice)" in mcd
    # the set-valued chain really is in the physical plan (collect_set
    # partials on the measure table)
    assert "collect_set" in mcd


def test_distinct_auto_route_flips_at_thresholds(spark, monkeypatch):
    """count_distinct_auto resolves per the reference's plan-time switch
    (RelAlgExecutor.cpp:1350-1418 / CountDistinctDescriptor): dense ints
    within the bitmap cap -> bitmap; NDV within the exact cap -> set;
    else HLL. The SAME measure column flips route as the caps move."""
    from compass_query_optimizer_spark.plans import optimizer
    from compass_query_optimizer_spark.plans.optimizer import CompassOptimizer
    from compass_query_optimizer_spark.plans.queries import GROUPED_COUNT_SQL

    def route(measure, bitmap_max_range, exact_max_ndv=4_096):
        monkeypatch.setattr(optimizer, "DISTINCT_BITMAP_MAX_RANGE", bitmap_max_range)
        monkeypatch.setattr(optimizer, "DISTINCT_EXACT_MAX_NDV", exact_max_ndv)
        opt = CompassOptimizer(spark)
        plan = opt.plan(GROUPED_COUNT_SQL, SF)
        op, _ = opt._resolve_distinct_route(plan, measure, "count_distinct_auto")
        assert plan.extras["distinct_route"]["route"] == op
        return op

    m = ("c", "c_custkey")  # integral, range ~1.5k, NDV ~1.5k at sf0.001
    # wide bitmap cap: dense int fits -> bitmap
    assert route(m, 1 << 20) == "count_distinct_bitmap"
    # bitmap ruled out, exact cap generous -> exact collect_set
    assert route(m, 8, 10**9) == "count_distinct"
    # both caps tiny -> the constant-size sketch carrier
    assert route(m, 8, 8) == "count_distinct_hll"
    # a string measure can never take the bitmap route, no matter how
    # wide the cap — auto falls through to the NDV decision (the o frame
    # is filtered to o_orderstatus='F', NDV 1, so cap 0 forces HLL)
    s = ("o", "o_orderstatus")
    assert route(s, 1 << 20, 0) == "count_distinct_hll"


def test_distinct_routes_agree_on_the_answer(spark):
    """All three carriers answer the same COUNT(DISTINCT) on a bounded
    measure — bitmap and set exactly, HLL within its 3-rsd band — and the
    explicit bitmap request on a non-bitmappable measure fails loudly."""
    import pytest

    from compass_query_optimizer_spark.plans.optimizer import CompassOptimizer
    from compass_query_optimizer_spark.plans.queries import GROUPED_COUNT_SQL

    opt = CompassOptimizer(spark)
    plan = opt.plan(GROUPED_COUNT_SQL, SF)
    m = ("c", "c_nationkey")
    vals = {}
    for op in ("count_distinct", "count_distinct_bitmap", "count_distinct_hll"):
        vals[op] = opt.build_count_join(plan, measures=[(*m, op)]).collect()[
            0
        ]["agg_val0"]
    assert vals["count_distinct_bitmap"] == vals["count_distinct"]
    rsd = 1.04 / (2**12) ** 0.5
    assert abs(vals["count_distinct_hll"] - vals["count_distinct"]) <= (
        3 * rsd * vals["count_distinct"]
    )
    # grouped bitmap: per-nation distinct nationkey is exactly 1
    grouped = opt.build_count_join(
        plan, group_by=[("n", "n_name")],
        measures=[(*m, "count_distinct_bitmap")],
    ).collect()
    assert len(grouped) == 25 and all(r["agg_val0"] == 1 for r in grouped)
    with pytest.raises(ValueError, match="bitmap"):
        opt.build_count_join(
            plan, measures=[("o", "o_orderstatus", "count_distinct_bitmap")]
        )


def test_distinct_route_explain_surface(spark):
    """The routing decision is EXPLAIN-visible (the round-6/7 rule: every
    algebra claim must be inspectable)."""
    from compass_query_optimizer_spark.plans.optimizer import CompassOptimizer
    from compass_query_optimizer_spark.plans.queries import GROUPED_COUNT_SQL

    opt = CompassOptimizer(spark)
    plan = opt.plan(GROUPED_COUNT_SQL, SF)
    txt = opt.explain(
        plan, count=True, measures=[("c", "c_nationkey", "count_distinct_auto")]
    )
    assert "count-distinct route: count_distinct_bitmap" in txt
    assert "ndv≈" in txt and "range=[0, 24]" in txt
    # and the bitmap chain is real in the physical plan: bit_or partials
    phys = opt.explain(
        plan, physical=True, count=True,
        measures=[("c", "c_nationkey", "count_distinct_bitmap")],
    )
    assert "bit_or" in phys and "collect_set" not in phys


def test_left_outer_eager_matches_raw_join(spark):
    """The null-extension multiplicity algebra (coalesce(cnt,1); NULL
    measures skipped) must reproduce the raw LEFT JOIN's COUNT(*) and SUM
    exactly — including the unmatched rows the sf0.001 fixture contains."""
    from compass_query_optimizer_spark.plans.optimizer import CompassOptimizer
    from compass_query_optimizer_spark.plans.queries import LEFT_OUTER_SQL

    opt = CompassOptimizer(spark)
    ms = [("o", "o_totalprice", "sum")]
    eager = opt.execute_count(
        LEFT_OUTER_SQL, SF, measures=ms, outer={"o"}
    ).collect()[0]
    raw = opt.execute_count(
        LEFT_OUTER_SQL, SF, measures=ms, outer={"o"}, eager=False
    ).collect()[0]
    assert eager["cnt"] == raw["cnt"] > 0
    assert abs(float(eager["agg_val0"]) - float(raw["agg_val0"])) < 1e-6
    # the fixture must exercise null extension: COUNT(*) of the outer join
    # strictly exceeds the matched-only inner count
    inner = opt.execute_count(LEFT_OUTER_SQL, SF, measures=ms).collect()[0]
    assert eager["cnt"] > 0 and inner["cnt"] != eager["cnt"]


def test_left_outer_grouped_eager_matches_raw(spark):
    from compass_query_optimizer_spark.plans.optimizer import CompassOptimizer
    from compass_query_optimizer_spark.plans.queries import LEFT_OUTER_SQL

    opt = CompassOptimizer(spark)
    eager = {
        r["n_name"]: r["cnt"]
        for r in opt.execute_count(
            LEFT_OUTER_SQL, SF, group_by=[("n", "n_name")], outer={"o"}
        ).collect()
    }
    raw = {
        r["n_name"]: r["cnt"]
        for r in opt.execute_count(
            LEFT_OUTER_SQL, SF, group_by=[("n", "n_name")], outer={"o"},
            eager=False,
        ).collect()
    }
    assert eager == raw and len(eager) > 0


def test_left_outer_validation_errors(spark):
    """Outer aliases joining each other, or leaving no inner prefix, must
    fail loudly at plan time — a silent wrong order would corrupt counts."""
    from compass_query_optimizer_spark.plans.optimizer import CompassOptimizer
    from compass_query_optimizer_spark.plans.queries import LEFT_OUTER_SQL

    opt = CompassOptimizer(spark)
    with pytest.raises(ValueError, match="non-outer"):
        opt.plan(LEFT_OUTER_SQL, SF, outer={"c", "o"})
    with pytest.raises(ValueError, match="inner prefix"):
        opt.plan(LEFT_OUTER_SQL, SF, outer={"c", "o", "n"})


def test_left_outer_inner_measure_scales_by_coalesced_multiplicity(spark):
    """A measure on an INNER table below a LEFT OUTER join: unmatched
    prefix rows keep their running sum × 1 (coalesce(cnt, 1)), matched
    rows scale by the outer multiplicity — SUM(c.c_acctbal) over the
    outer join, exactly."""
    from compass_query_optimizer_spark.plans.optimizer import CompassOptimizer
    from compass_query_optimizer_spark.plans.queries import LEFT_OUTER_SQL

    opt = CompassOptimizer(spark)
    ms = [("c", "c_acctbal", "sum")]
    eager = opt.execute_count(
        LEFT_OUTER_SQL, SF, measures=ms, outer={"o"}
    ).collect()[0]
    raw = opt.execute_count(
        LEFT_OUTER_SQL, SF, measures=ms, outer={"o"}, eager=False
    ).collect()[0]
    assert eager["cnt"] == raw["cnt"] > 0
    assert abs(float(eager["agg_val0"]) - float(raw["agg_val0"])) < 1e-4


def test_left_outer_count_distinct_skips_null_extension(spark):
    """COUNT(DISTINCT o.col) below the outer join: null-extended rows
    contribute no value (SQL's rule), which the set carrier honors
    because collect_list drops the NULL arrays unmatched rows carry."""
    from compass_query_optimizer_spark.plans.optimizer import CompassOptimizer
    from compass_query_optimizer_spark.plans.queries import LEFT_OUTER_SQL

    opt = CompassOptimizer(spark)
    ms = [("o", "o_orderpriority", "count_distinct")]
    eager = opt.execute_count(
        LEFT_OUTER_SQL, SF, measures=ms, outer={"o"}
    ).collect()[0]
    raw = opt.execute_count(
        LEFT_OUTER_SQL, SF, measures=ms, outer={"o"}, eager=False
    ).collect()[0]
    assert eager["agg_val0"] == raw["agg_val0"] > 0
    assert eager["cnt"] == raw["cnt"]


def test_multi_measure_eager_matches_raw(spark):
    """All channels of a multi-measure chain must agree with the raw join."""
    from compass_query_optimizer_spark.plans.optimizer import CompassOptimizer
    from compass_query_optimizer_spark.plans.queries import GROUPED_COUNT_SQL

    opt = CompassOptimizer(spark)
    ms = [
        ("l", "l_extendedprice", "sum"),
        ("l", "l_extendedprice", "min"),
        ("l", "l_extendedprice", "max"),
    ]
    eager = opt.execute_count(GROUPED_COUNT_SQL, SF, measures=ms).collect()[0]
    raw = opt.execute_count(
        GROUPED_COUNT_SQL, SF, measures=ms, eager=False
    ).collect()[0]
    assert eager["cnt"] == raw["cnt"] > 0
    for i in range(3):
        assert abs(
            float(eager[f"agg_val{i}"]) - float(raw[f"agg_val{i}"])
        ) < 1e-4


def test_multi_measure_rejects_routed_carriers(spark):
    """A routed COUNT(DISTINCT) carrier answers as the list's only measure
    and is refused next to any other: its plan-time stats job and EXPLAIN
    record are per-plan."""
    from compass_query_optimizer_spark.plans.optimizer import CompassOptimizer
    from compass_query_optimizer_spark.plans.queries import GROUPED_COUNT_SQL

    opt = CompassOptimizer(spark)
    plan = opt.plan(GROUPED_COUNT_SQL, SF)
    sole, exact = (
        opt.build_count_join(plan, measures=[("c", "c_nationkey", op)])
        .collect()[0]
        for op in ("count_distinct_auto", "count_distinct")
    )
    assert sole["agg_val0"] == exact["agg_val0"] > 0
    assert sole["cnt"] == exact["cnt"]
    for eager in (True, False):
        with pytest.raises(ValueError, match="single-measure"):
            opt.execute_count(
                GROUPED_COUNT_SQL,
                SF,
                eager=eager,
                measures=[
                    ("c", "c_nationkey", "count_distinct_auto"),
                    ("l", "l_extendedprice", "sum"),
                ],
            )


def test_multi_measure_below_left_outer(spark):
    """Multi-measure channels and null-extension multiplicity compose:
    SUM + MIN + MAX of the outer side below the LEFT OUTER join, each
    channel skipping the NULLs null-extension produces."""
    from compass_query_optimizer_spark.plans.optimizer import CompassOptimizer
    from compass_query_optimizer_spark.plans.queries import LEFT_OUTER_SQL

    opt = CompassOptimizer(spark)
    ms = [
        ("o", "o_totalprice", "sum"),
        ("o", "o_totalprice", "min"),
        ("o", "o_totalprice", "max"),
    ]
    eager = opt.execute_count(
        LEFT_OUTER_SQL, SF, measures=ms, outer={"o"}
    ).collect()[0]
    raw = opt.execute_count(
        LEFT_OUTER_SQL, SF, measures=ms, outer={"o"}, eager=False
    ).collect()[0]
    assert eager["cnt"] == raw["cnt"] > 0
    for i in range(3):
        assert abs(
            float(eager[f"agg_val{i}"]) - float(raw[f"agg_val{i}"])
        ) < 1e-4


def test_count_measure_op_matches_raw_and_scales(spark):
    """COUNT(col) as a class-1 rider: per-key non-null counts scale by
    partner multiplicity exactly like SUM — including below the outer
    join, where COUNT(col) < COUNT(*) whenever unmatched rows exist."""
    from compass_query_optimizer_spark.plans.optimizer import CompassOptimizer
    from compass_query_optimizer_spark.plans.queries import (
        GROUPED_COUNT_SQL,
        LEFT_OUTER_SQL,
    )

    opt = CompassOptimizer(spark)
    # inner: COUNT(col) == COUNT(*) when the column is never null
    ms = [("l", "l_extendedprice", "count")]
    eager = opt.execute_count(GROUPED_COUNT_SQL, SF, measures=ms).collect()[0]
    raw = opt.execute_count(
        GROUPED_COUNT_SQL, SF, measures=ms, eager=False
    ).collect()[0]
    assert eager["agg_val0"] == raw["agg_val0"] == eager["cnt"] > 0
    # outer: COUNT(col) counts only matched rows, COUNT(*) counts all
    ms = [("o", "o_totalprice", "count")]
    outer = opt.execute_count(
        LEFT_OUTER_SQL, SF, measures=ms, outer={"o"}
    ).collect()[0]
    outer_raw = opt.execute_count(
        LEFT_OUTER_SQL, SF, measures=ms, outer={"o"}, eager=False
    ).collect()[0]
    assert outer["agg_val0"] == outer_raw["agg_val0"]
    assert outer["agg_val0"] < outer["cnt"]


def test_explain_reports_outer_and_multi_measure(spark):
    from compass_query_optimizer_spark.plans.optimizer import CompassOptimizer
    from compass_query_optimizer_spark.plans.queries import LEFT_OUTER_SQL

    opt = CompassOptimizer(spark)
    plan = opt.plan(LEFT_OUTER_SQL, SF, outer={"o"})
    rpt = opt.explain(
        plan,
        count=True,
        measures=[("o", "o_totalprice", "sum"), ("o", "o_totalprice", "count")],
    )
    assert "⟕ o" in rpt  # the outer alias is marked in the order line
    assert "null-extend at the chain tail" in rpt
    assert "sum(o.o_totalprice) + count(o.o_totalprice)" in rpt
    assert "one channel per measure" in rpt


def test_cross_table_measures_eager_matches_raw(spark):
    """Measures owned by different aliases: each seeds on its own table's
    collapse; the sum scales by the OTHER measure table's multiplicity
    too, the extreme never scales."""
    from compass_query_optimizer_spark.plans.optimizer import CompassOptimizer
    from compass_query_optimizer_spark.plans.queries import GROUPED_COUNT_SQL

    opt = CompassOptimizer(spark)
    ms = [("l", "l_extendedprice", "sum"), ("o", "o_totalprice", "min")]
    eager = opt.execute_count(GROUPED_COUNT_SQL, SF, measures=ms).collect()[0]
    raw = opt.execute_count(
        GROUPED_COUNT_SQL, SF, measures=ms, eager=False
    ).collect()[0]
    assert eager["cnt"] == raw["cnt"] > 0
    assert abs(float(eager["agg_val0"]) - float(raw["agg_val0"])) < 1e-4
    assert abs(float(eager["agg_val1"]) - float(raw["agg_val1"])) < 1e-6


def test_collapse_skip_gates_on_ndv_and_size(spark, monkeypatch):
    """The seed-collapse skip must (a) fire only above the size floor,
    (b) fire only for near-distinct keys, (c) never fire on filtered
    tables, and (d) leave the answer unchanged when forced on."""
    from compass_query_optimizer_spark.plans import optimizer
    from compass_query_optimizer_spark.plans.job_corpus import job_tables, load_corpus
    from compass_query_optimizer_spark.plans.optimizer import CompassOptimizer

    corpus = load_corpus()
    tables, counts = job_tables(spark, scale=1)
    # force the probe by dropping the size floor: cast_info's keys are
    # near-distinct at every scale, so the skip fires
    with monkeypatch.context() as m:
        m.setattr(optimizer, "COLLAPSE_SKIP_MIN_ROWS", 1)
        opt = CompassOptimizer(spark)
        plan = opt.plan(corpus["8c"], tables=tables, counts=counts)
        skipped = opt.build_count_join(plan)  # builds lazily; probes run now
    info = plan.extras.get("collapse_skipped", {})
    assert info.get("ci", {}).get("skip") is True
    # filtered aliases (rt, cn) must never be probed
    assert "rt" not in info and "cn" not in info
    forced = skipped.collect()[0]["cnt"]
    # default config: floor keeps the probe off at scale 1 — same answer
    base = CompassOptimizer(spark).execute_count(
        corpus["8c"], tables=tables, counts=counts
    ).collect()[0]["cnt"]
    assert forced == base > 0


def test_raw_alias_prefix_pins_shuffle_hash_joins(spark, monkeypatch):
    """While a collapse-skipped alias's full key set still rides the
    prefix, the chain hints SHUFFLE_HASH on the prefix side — AQE's
    shuffle-bytes heuristic otherwise converts the next join to broadcast
    and single-threads a multi-million-row HashedRelation build on the
    driver (JOB 8c at fixture scale 160: 27.3 s → 6.4 s solo). At test
    scale the floor is dropped so the skip fires; the trace must show the
    raw alias live exactly until its keys drop out of keep, and the
    answer must match the default plan."""
    from compass_query_optimizer_spark.plans import optimizer
    from compass_query_optimizer_spark.plans.job_corpus import job_tables, load_corpus
    from compass_query_optimizer_spark.plans.optimizer import CompassOptimizer

    corpus = load_corpus()
    tables, counts = job_tables(spark, scale=1)
    with monkeypatch.context() as m:
        m.setattr(optimizer, "COLLAPSE_SKIP_MIN_ROWS", 1)
        opt = CompassOptimizer(spark)
        plan = opt.plan(corpus["8c"], tables=tables, counts=counts)
        df = opt.build_count_join(plan)
    skips = {
        a: i["skip"] for a, i in plan.extras.get("collapse_skipped", {}).items()
    }
    assert any(skips.values()), skips  # at least one raw alias in 8c
    trace = dict(plan.extras.get("raw_live_trace", []))
    raw = {a for a, s in skips.items() if s}
    assert any(set(live) & raw for live in trace.values()), trace
    forced = df.collect()[0]["cnt"]
    base = CompassOptimizer(spark).execute_count(
        corpus["8c"], tables=tables, counts=counts
    ).collect()[0]["cnt"]
    assert forced == base > 0


def test_antibroadcast_bar_keys_on_collapsed_estimate():
    """The absolute anti-broadcast bar must consult the COLLAPSED frame
    estimate: a 2M-row table whose referenced keys collapse to 50k rows
    SHOULD broadcast (the driver build is of the collapsed frame), while
    a collapse-skipped table enters raw and counts at full size."""
    from types import SimpleNamespace

    from compass_query_optimizer_spark.plans import optimizer
    from compass_query_optimizer_spark.plans.optimizer import CompassOptimizer

    est = CompassOptimizer._frame_size_estimate
    self = SimpleNamespace()

    def plan(rows, collapse_info):
        return SimpleNamespace(
            extras=(
                {"collapse_skipped": {"x": collapse_info}}
                if collapse_info
                else {}
            ),
            pushdown=SimpleNamespace(stats={"x": SimpleNamespace(rows=rows)}),
        )

    # collapsed: estimate is the measured key-NDV
    p = plan(2_000_000, {"skip": False, "ndv": 50_000, "rows": 2_000_000})
    assert est(self, p, "x") == 50_000
    # collapse skipped: the frame enters raw at full row count
    p = plan(2_000_000, {"skip": True, "ndv": 1_990_000, "rows": 2_000_000})
    assert est(self, p, "x") == 2_000_000
    # no probe ran: filtered row count is the (upper-bound) estimate
    p = plan(416_136, None)
    assert est(self, p, "x") == 416_136
    # the bar the estimate is compared against (measured default)
    assert optimizer.ANTIBROADCAST_ROWS == 300_000
