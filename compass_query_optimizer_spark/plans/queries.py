"""COMPASS-optimized queries registered in the correctness gate.

``compass_count_multijoin`` runs the flagship JOB-shaped COUNT(*) through
the full COMPASS pipeline (sketch push-down → join-order search → enforced
left-deep chain); the oracle is the plain SQL — so the correctness gate
proves the optimizer preserves semantics while choosing its own order.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from compass_query_optimizer_spark.plans.optimizer import CompassOptimizer
from compass_query_optimizer_spark.registry import query
from compass_query_optimizer_spark.workload import FLAGSHIP_SQL

# The two join shapes the eager-measure entries plan and check over: the
# 4-way inner join and the LEFT OUTER join below (its oracle form; the
# planner parses the conjunctive LEFT_OUTER_SQL).
_INNER_JOIN = """FROM lineitem l, orders o, customer c, nation n
WHERE l.l_orderkey = o.o_orderkey AND o.o_custkey = c.c_custkey
  AND c.c_nationkey = n.n_nationkey
  AND o.o_orderstatus = 'F' AND l.l_returnflag = 'R'
"""

_OUTER_JOIN = """FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
LEFT JOIN orders o
  ON o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F'
WHERE n.n_regionkey <= 2
"""

# Grouped form: COUNT(*) GROUP BY through the same eager-aggregation chain.
# The count-form text below is what the planner parses (join graph + filters);
# the GROUP BY columns are passed programmatically and ride the multiplicity
# chain like residual columns — the oracle runs the real grouped SQL. Every
# measure entry plans this same text; the measures ride programmatically.
GROUPED_COUNT_SQL = f"\nSELECT COUNT(*) AS cnt\n{_INNER_JOIN}"

# A measure rides the chain as (alias, col, op, output name).
Measure = tuple[str, str, str, str]


def _measure_col(i: int, op: str, name: str) -> Column:
    """``agg_val{i}`` as ``name``: a distinct count is an exact integer
    (the routed carrier may answer with an HLL double, so it is cast to
    long); every other measure rounds to 2 places like its oracle."""
    col = F.col(f"agg_val{i}")
    if op == "count_distinct_auto":
        col = col.cast("long")
    elif not op.startswith("count_distinct"):
        col = F.round(col.cast("double"), 2)
    return col.alias(name)


def _chain(
    spark: SparkSession,
    sf_dir: str,
    group_by: tuple[tuple[str, str], ...] = (),
    measures: tuple[Measure, ...] = (),
    *,
    sql: str = GROUPED_COUNT_SQL,
    outer: set[str] | None = None,
) -> DataFrame:
    """COUNT(*) of the join ``sql`` plans, through the eager chain: the
    group columns, each measure under its output name, then ``cnt``,
    ordered by the group columns."""
    df = CompassOptimizer(spark).execute_count(
        sql,
        sf_dir,
        group_by=list(group_by) or None,
        measures=[m[:3] for m in measures] or None,
        outer=outer,
    )
    groups = [col for _, col in group_by]
    if measures:
        df = df.select(
            *groups,
            *(_measure_col(i, op, name) for i, (_, _, op, name) in enumerate(measures)),
            "cnt",
        )
    return df.orderBy(*groups) if groups else df


_CNT = "CAST(COUNT(*) AS BIGINT) AS cnt"
_BY_NATION = (("n", "n_name"),)


def _oracle(*items: str, join: str = _INNER_JOIN, grouped: bool = False) -> str:
    """Plain SQL selecting ``items`` over ``join``; ``grouped`` puts
    ``n.n_name`` first and groups and orders by it."""
    if grouped:
        return (
            f"\nSELECT n.n_name, {', '.join(items)}\n{join}"
            "GROUP BY n.n_name\nORDER BY n.n_name\n"
        )
    return f"\nSELECT {', '.join(items)}\n{join}"


# Datasketches HLL at the default lgConfigK=12 has rsd ≈ 1.04/sqrt(2^12)
# ≈ 1.63%; 3·rsd is the q11_approx_count_distinct acceptance band.
_HLL_RSD = 1.04 / (2**12) ** 0.5


def _within_3rsd(estimate: str, exact: str) -> Column:
    return F.abs(F.col(estimate) - F.col(exact)) <= 3 * _HLL_RSD * F.col(exact)


@query(
    "compass_count_multijoin",
    FLAGSHIP_SQL,
    doc="the flagship 6-way COUNT(*) executed through the COMPASS "
    "sketch-based join-order optimizer (plans/): same answer as plain "
    "SQL, order chosen by Fast-AGMS estimates",
    tags=("compass", "join"),
)
def compass_count_multijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _chain(spark, sf_dir, sql=FLAGSHIP_SQL)


# JOB workloads reuse the same table under multiple aliases (e.g. q29 uses
# info_type twice); the planner must key sketches, seeds, and graph nodes on
# the alias, exactly like the reference's (table_id, node_id) pairs
# (FilterPushDownSketch.cpp:88-91). This query proves that end-to-end.
SELF_JOIN_SQL = """
SELECT COUNT(*) AS cnt
FROM lineitem l1, lineitem l2, part p, orders o
WHERE l1.l_partkey = p.p_partkey AND l2.l_partkey = p.p_partkey
  AND l1.l_orderkey = o.o_orderkey
  AND p.p_size <= 5 AND o.o_orderstatus = 'F'
  AND l1.l_returnflag = 'R' AND l2.l_linestatus = 'F'
"""


# A genuine cross-alias residual predicate (with a float literal AND string
# literals) — not expressible as a per-table filter or an equi-join edge, so
# it must survive the planner's alias.col → alias__col rewrite untouched
# inside literals and numbers (plans/optimizer.py _rewrite_residual).
RESIDUAL_SQL = """
SELECT COUNT(*) AS cnt
FROM lineitem l, orders o, customer c
WHERE l.l_orderkey = o.o_orderkey AND o.o_custkey = c.c_custkey
  AND c.c_mktsegment = 'BUILDING'
  AND l.l_extendedprice > 0.5 * o.o_totalprice
  AND (l.l_returnflag = 'R' OR o.o_orderpriority = '1-URGENT')
"""


@query(
    "compass_residual_filter",
    RESIDUAL_SQL,
    doc="COMPASS-planned join with a cross-alias post-join residual "
    "(float literal + string literals): exercises the schema-aware "
    "residual rewrite the naive \\w+\\.\\w+ substitution would corrupt",
    tags=("compass", "join", "residual"),
)
def compass_residual_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _chain(spark, sf_dir, sql=RESIDUAL_SQL)


@query(
    "compass_self_join",
    SELF_JOIN_SQL,
    doc="self-join under two aliases through the COMPASS optimizer: "
    "alias-keyed sketches and per-alias filters (the reference's "
    "(table_id, node_id) discipline)",
    tags=("compass", "join", "self-join"),
)
def compass_self_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _chain(spark, sf_dir, sql=SELF_JOIN_SQL)


GROUPED_COUNT_ORACLE = _oracle("COUNT(*) AS cnt", grouped=True)


@query(
    "compass_grouped_count",
    GROUPED_COUNT_ORACLE,
    doc="grouped COUNT(*) over a COMPASS-planned 4-way join via eager "
    "aggregation: group columns ride the multiplicity chain, so the "
    "grouped count never materializes join rows — each table collapses "
    "to (keys, multiplicity) and the final aggregate keys on the group "
    "columns. Same answers as the plain GROUP BY SQL",
    tags=("compass", "join", "grouped"),
)
def compass_grouped_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _chain(spark, sf_dir, _BY_NATION)


# SUM through the multiplicity chain (Yan & Larson's class-1 aggregates):
# the measure table collapses to (keys -> cnt, SUM(x)); SUM over the join
# = Σ per-key sums × Π other tables' multiplicities.
_SUM_REV = "ROUND(CAST(SUM(l.l_extendedprice) AS DOUBLE), 2) AS sum_rev"
SUM_ORACLE = _oracle(_SUM_REV, _CNT)
GROUPED_SUM_ORACLE = _oracle(_SUM_REV, _CNT, grouped=True)
_SUM = (("l", "l_extendedprice", "sum", "sum_rev"),)


@query(
    "compass_sum_multijoin",
    SUM_ORACLE,
    doc="SUM(measure) + COUNT(*) over a COMPASS-planned 4-way join via "
    "eager aggregation (Yan & Larson VLDB'95 class-1): the measure table "
    "collapses to (keys, cnt, Σx), other tables to (keys, cnt), and the "
    "chain multiplies the running sum by partner multiplicities — SUM "
    "over the join without ever materializing join rows. Same answers as "
    "the plain SQL",
    tags=("compass", "join", "sum"),
)
def compass_sum_multijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _chain(spark, sf_dir, measures=_SUM)


@query(
    "compass_grouped_sum",
    GROUPED_SUM_ORACLE,
    doc="grouped SUM + COUNT over the COMPASS-planned join: group columns "
    "ride the multiplicity chain, the measure rides as a running "
    "per-group sum — the eager-aggregation generalization of "
    "compass_grouped_count",
    tags=("compass", "join", "sum", "grouped"),
)
def compass_grouped_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _chain(spark, sf_dir, _BY_NATION, _SUM)


AVG_ORACLE = _oracle(
    "ROUND(CAST(AVG(l.l_extendedprice) AS DOUBLE), 2) AS avg_price", _CNT
)


@query(
    "compass_avg_multijoin",
    AVG_ORACLE,
    doc="AVG over the COMPASS-planned join via eager aggregation: AVG is "
    "not a new chain op — it is the class-1 SUM divided by the COUNT the "
    "chain already carries (Yan & Larson VLDB'95 §4: AVG decomposes into "
    "(SUM, COUNT) partials), so one multiplicity-chain pass yields both "
    "and the division happens on the one-row result",
    tags=("compass", "join", "avg"),
)
def compass_avg_multijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = CompassOptimizer(spark).execute_count(
        GROUPED_COUNT_SQL, sf_dir, measures=[("l", "l_extendedprice", "sum")]
    )
    return df.select(
        F.round(
            (F.col("agg_val0") / F.col("cnt")).cast("double"), 2
        ).alias("avg_price"),
        "cnt",
    )


COUNT_DISTINCT_ORACLE = _oracle(
    "CAST(COUNT(DISTINCT c.c_nationkey) AS BIGINT) AS nd_nation", _CNT
)
GROUPED_COUNT_DISTINCT_ORACLE = _oracle(
    "CAST(COUNT(DISTINCT c.c_custkey) AS BIGINT) AS nd_cust", _CNT, grouped=True
)


@query(
    "compass_count_distinct_multijoin",
    COUNT_DISTINCT_ORACLE,
    doc="precise COUNT(DISTINCT) over the COMPASS-planned join via eager "
    "aggregation (class-3): the measure table collapses to per-key "
    "distinct-value SETS which ride the multiplicity chain untouched "
    "(multiplicity-insensitive, like min/max), re-aggregations union "
    "them, and the final aggregate counts the union — exact, join rows "
    "never materialize. The reference executes precise count-distinct "
    "(QueryEngine/CountDistinct.h bitmap/set paths)",
    tags=("compass", "join", "count_distinct"),
)
def compass_count_distinct_multijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    nd_nation = ("c", "c_nationkey", "count_distinct", "nd_nation")
    return _chain(spark, sf_dir, measures=(nd_nation,))


@query(
    "compass_grouped_count_distinct",
    GROUPED_COUNT_DISTINCT_ORACLE,
    doc="grouped precise COUNT(DISTINCT) through the eager chain: group "
    "columns ride as keys, per-key distinct sets union across "
    "re-aggregations, final count per group — the set-valued analog of "
    "compass_grouped_sum",
    tags=("compass", "join", "count_distinct", "grouped"),
)
def compass_grouped_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    nd_cust = ("c", "c_custkey", "count_distinct", "nd_cust")
    return _chain(spark, sf_dir, _BY_NATION, (nd_cust,))


# HLL sketch registers are engine-specific, so (exactly like
# q11_approx_count_distinct) the gate checks the EXACT count both engines
# agree on plus the sketch estimate's published error bound holding
# (_within_3rsd).
HLL_ORACLE = _oracle(
    "CAST(COUNT(DISTINCT c.c_custkey) AS BIGINT) AS exact_nd", "TRUE AS within_rsd"
)


@query(
    "compass_count_distinct_hll",
    HLL_ORACLE,
    doc="approx COUNT(DISTINCT) through the eager chain via Datasketches "
    "HLL: the measure table collapses to a CONSTANT-SIZE sketch per key "
    "(~KB at any cardinality — the scale path where the exact class-3 "
    "set grows with distinct count), sketches union at re-aggregations, "
    "the final estimate is rsd-bounded. Gate = exact count (both "
    "engines agree; the exact set rides the same chain as a second "
    "measure) + |estimate − exact| ≤ 3·rsd·exact, the "
    "q11_approx_count_distinct acceptance pattern",
    tags=("compass", "join", "count_distinct", "approx", "sketch"),
)
def compass_count_distinct_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    # one chain carries both carriers: the exact set and the sketch
    df = CompassOptimizer(spark).execute_count(
        GROUPED_COUNT_SQL,
        sf_dir,
        measures=[
            ("c", "c_custkey", "count_distinct"),
            ("c", "c_custkey", "count_distinct_hll"),
        ],
    )
    return df.select(
        F.col("agg_val0").alias("exact_nd"),
        _within_3rsd("agg_val1", "agg_val0").alias("within_rsd"),
    )


# count_distinct_auto acceptance: the route is plan-time data-dependent
# (exact at small scale, HLL once the NDV estimate crosses the cap), so the
# gate uses the q11/HLL pattern — the exact count both engines agree on,
# plus the engine's answer landing inside HLL's 3·rsd band (which the
# exact routes satisfy with error 0).
AUTO_DISTINCT_ORACLE = _oracle(
    "CAST(COUNT(DISTINCT o.o_orderkey) AS BIGINT) AS exact_nd", "TRUE AS within_band"
)


@query(
    "compass_count_distinct_auto",
    AUTO_DISTINCT_ORACLE,
    doc="COUNT(DISTINCT o_orderkey) — a HIGH-cardinality measure — through "
    "the eager chain with plan-time carrier routing (the reference's "
    "approx↔precise switch, RelAlgExecutor.cpp:1350-1418 + "
    "CountDistinctDescriptor): one stats job (NDV estimate + min/max) on "
    "the push-down frame picks packed-bitmap (dense ints), exact "
    "collect_set (bounded NDV), or constant-size HLL (everything else). "
    "o_orderkey's range exceeds the bitmap cap and its NDV crosses the "
    "exact cap at sf≥0.01, so this entry exercises the HLL route at gate "
    "scale — the path that keeps an unbounded measure from flattening "
    "the full distinct set into one executor at 100 TB. Gate = exact "
    "count + 3·rsd acceptance band (the q11 pattern)",
    tags=("compass", "join", "count_distinct", "auto"),
)
def compass_count_distinct_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    opt = CompassOptimizer(spark)
    plan = opt.plan(GROUPED_COUNT_SQL, sf_dir)
    # a routed carrier must be its chain's only measure, so the exact
    # count rides a second chain over the same plan
    routed = opt.build_count_join(
        plan, measures=[("o", "o_orderkey", "count_distinct_auto")]
    ).select(F.col("agg_val0").alias("routed_nd"))
    exact = opt.build_count_join(
        plan, measures=[("o", "o_orderkey", "count_distinct")]
    ).select(F.col("agg_val0").alias("exact_nd"))
    return exact.crossJoin(routed).select(
        "exact_nd",
        _within_3rsd("routed_nd", "exact_nd").alias("within_band"),
    )


@query(
    "compass_count_distinct_bitmap",
    COUNT_DISTINCT_ORACLE,
    doc="exact COUNT(DISTINCT) through the eager chain on the packed-"
    "bitmap carrier (the reference's CountDistinctImplType::Bitmap, "
    "QueryEngine/CountDistinct.h): c_nationkey's plan-time range (25 "
    "values) fits one 64-bit word, so every key combination carries a "
    "FIXED 8-byte bitmap instead of a value set — native bit_or at the "
    "seed, through every re-aggregation, and at the final popcount. "
    "Exact at ANY row count with constant per-key state; auto-routing "
    "picks this carrier whenever the measure is integral and dense",
    tags=("compass", "join", "count_distinct", "bitmap"),
)
def compass_count_distinct_bitmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    nd_nation = ("c", "c_nationkey", "count_distinct_bitmap", "nd_nation")
    return _chain(spark, sf_dir, measures=(nd_nation,))


@query(
    "compass_grouped_distinct_auto",
    GROUPED_COUNT_DISTINCT_ORACLE,
    doc="grouped COUNT(DISTINCT c_custkey) per nation through the eager "
    "chain with plan-time carrier routing: c_custkey is integral and "
    "dense (range ≈ corpus customers), so at gate scale the auto route "
    "lands on the packed bitmap — every (group, key) row carries "
    "⌈range/64⌉ fixed words, bit_or-merged through the chain, "
    "popcounted per group at the end. EXACT (so the oracle is the plain "
    "grouped COUNT DISTINCT) while per-key state stays constant-size — "
    "the grouped form of the reference's Bitmap impl; at ranges past "
    "the cap the same entry degrades to set/HLL automatically",
    tags=("compass", "join", "count_distinct", "auto", "grouped"),
)
def compass_grouped_distinct_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    nd_cust = ("c", "c_custkey", "count_distinct_auto", "nd_cust")
    return _chain(spark, sf_dir, _BY_NATION, (nd_cust,))


SUM_DISTINCT_ORACLE = _oracle(
    "ROUND(CAST(SUM(DISTINCT c.c_acctbal) AS DOUBLE), 2) AS sum_bal", _CNT
)


@query(
    "compass_sum_distinct",
    SUM_DISTINCT_ORACLE,
    doc="SUM(DISTINCT) through the eager chain — the duplicate-SENSITIVE "
    "aggregate over duplicate-INSENSITIVE state: per-key distinct-value "
    "sets ride the multiplicity chain untouched (a join multiplying a "
    "row's count must NOT multiply its distinct sum — exactly why "
    "class-1 SUM and class-3 sets need different carriers), unions at "
    "re-aggregations, and the final aggregate sums the union once. "
    "Completes the Yan & Larson measure-class matrix next to "
    "COUNT(DISTINCT)",
    tags=("compass", "join", "sum_distinct"),
)
def compass_sum_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    sum_bal = ("c", "c_acctbal", "sum_distinct", "sum_bal")
    return _chain(spark, sf_dir, measures=(sum_bal,))


_MIN_MAX_PRICE = (
    "ROUND(CAST(MIN(l.l_extendedprice) AS DOUBLE), 2) AS min_price",
    "ROUND(CAST(MAX(l.l_extendedprice) AS DOUBLE), 2) AS max_price",
)
MINMAX_ORACLE = _oracle(*_MIN_MAX_PRICE, _CNT)
GROUPED_MINMAX_ORACLE = _oracle(*_MIN_MAX_PRICE, _CNT, grouped=True)
_MIN_MAX = (
    ("l", "l_extendedprice", "min", "min_price"),
    ("l", "l_extendedprice", "max", "max_price"),
)


@query(
    "compass_minmax_multijoin",
    MINMAX_ORACLE,
    doc="MIN + MAX over the COMPASS-planned join via eager aggregation "
    "(class-2, duplicate-insensitive): the measure table collapses to "
    "per-key extremes, partner multiplicities are irrelevant, and "
    "re-aggregations take the extreme over surviving key combinations — "
    "the lazy half of Yan & Larson, exact at any scale",
    tags=("compass", "join", "minmax"),
)
def compass_minmax_multijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _chain(spark, sf_dir, measures=_MIN_MAX)


@query(
    "compass_grouped_minmax",
    GROUPED_MINMAX_ORACLE,
    doc="grouped MIN + MAX through the eager chain: group columns ride as "
    "keys, per-key extremes stay multiplicity-free across re-aggregations "
    "— completes the grouped-measure symmetry (grouped COUNT / SUM / "
    "COUNT-DISTINCT / MIN-MAX all execute through the same planned chain). "
    "Both extremes ride one chain, one channel each",
    tags=("compass", "join", "minmax", "grouped"),
)
def compass_grouped_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _chain(spark, sf_dir, _BY_NATION, _MIN_MAX)


# LEFT OUTER through the eager chain (Yan & Larson VLDB'95 §5 extends the
# aggregate push-down to outer joins; the reference executes LEFT joins as
# levels of the same left-deep chain, RelAlgExecutor.cpp:2635-2644
# left_deep_join_types). The planner text stays the conjunctive inner
# shape; the outer alias rides programmatically like group_by/measures, and
# its per-alias filter is ON-clause semantics (pre-join — a WHERE filter
# on the nullable side would silently turn the join inner).
LEFT_OUTER_SQL = """
SELECT COUNT(*) AS cnt
FROM customer c, nation n, orders o
WHERE c.c_nationkey = n.n_nationkey AND o.o_custkey = c.c_custkey
  AND n.n_regionkey <= 2 AND o.o_orderstatus = 'F'
"""

LEFT_OUTER_ORACLE = _oracle(
    "ROUND(CAST(SUM(o.o_totalprice) AS DOUBLE), 2) AS sum_open",
    _CNT,
    join=_OUTER_JOIN,
)

GROUPED_LEFT_OUTER_ORACLE = _oracle(_CNT, join=_OUTER_JOIN, grouped=True)


@query(
    "compass_count_left_outer",
    LEFT_OUTER_ORACLE,
    doc="SUM + COUNT(*) below a LEFT OUTER join via the eager multiplicity "
    "chain: orders collapses to (o_custkey → cnt, Σ o_totalprice) BEFORE "
    "the null-extending join, the chain multiplies by coalesce(cnt, 1) — "
    "an unmatched customer survives exactly once — and the riding sum "
    "needs no coalesce because SQL aggregates skip the NULLs "
    "null-extension produces. The outer alias is legalized to the tail of "
    "the sketch-searched order ((A ⋈ B) ⟕ C ≡ (A ⟕ C) ⋈ B only when B "
    "never references C). Exact vs the plain LEFT JOIN SQL",
    tags=("compass", "join", "outer"),
)
def compass_count_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    sum_open = ("o", "o_totalprice", "sum", "sum_open")
    return _chain(spark, sf_dir, measures=(sum_open,), sql=LEFT_OUTER_SQL, outer={"o"})


@query(
    "compass_grouped_count_left_outer",
    GROUPED_LEFT_OUTER_ORACLE,
    doc="grouped COUNT(*) below a LEFT OUTER join through the eager chain: "
    "group columns ride the multiplicity chain across the null-extending "
    "join, unmatched customers contribute multiplicity 1 to their "
    "nation's count — the grouped form of compass_count_left_outer. "
    "Join rows never materialize on either side of the outer join",
    tags=("compass", "join", "outer", "grouped"),
)
def compass_grouped_count_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _chain(spark, sf_dir, _BY_NATION, sql=LEFT_OUTER_SQL, outer={"o"})


# Several riding measures in ONE chain pass: the multi-measure chain
# carries every aggregate's channel through the SAME joins and
# re-aggregations, so SUM + MIN + MAX + COUNT over the 4-way join costs
# one planning pass and one scan of each table.
MULTI_MEASURE_ORACLE = _oracle(_SUM_REV, *_MIN_MAX_PRICE, _CNT, grouped=True)


@query(
    "compass_multi_measure",
    MULTI_MEASURE_ORACLE,
    doc="grouped SUM + MIN + MAX + COUNT in ONE eager chain pass: each "
    "measure rides its own channel through the same collapsed joins and "
    "re-aggregations (sum scales by partner multiplicity, extremes pass "
    "untouched), so a multi-aggregate report costs one planning pass and "
    "ONE scan per table — where the per-measure form runs a chain per "
    "aggregate and joins the results. Plan-locked to a single lineitem "
    "scan",
    tags=("compass", "join", "grouped", "multi-measure"),
)
def compass_multi_measure(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _chain(spark, sf_dir, _BY_NATION, _SUM + _MIN_MAX)


# AVG below a LEFT OUTER join needs COUNT(col), not COUNT(*): the
# null-extended rows count toward the join's multiplicity but NOT toward
# AVG's denominator. The `count` measure op (class-1: per-key non-null
# count riding as a multiplicity-scaled sum) supplies the denominator;
# one multi-measure chain carries SUM and COUNT(col) together and the
# division happens on the 25-row grouped result.
AVG_LEFT_OUTER_ORACLE = _oracle(
    "ROUND(CAST(AVG(o.o_totalprice) AS DOUBLE), 2) AS avg_open",
    "CAST(COUNT(o.o_totalprice) AS BIGINT) AS n_orders",
    _CNT,
    join=_OUTER_JOIN,
    grouped=True,
)


@query(
    "compass_avg_left_outer",
    AVG_LEFT_OUTER_ORACLE,
    doc="AVG below the LEFT OUTER join via one multi-measure chain: "
    "SUM(o_totalprice) and COUNT(o_totalprice) ride together, and AVG = "
    "sum/count divides on the grouped result — COUNT(col), not "
    "COUNT(*), because null-extended rows count toward the join's "
    "multiplicity but not AVG's denominator. The `count` op is Yan & "
    "Larson class-1: a per-key non-null count scaled by partner "
    "multiplicity exactly like SUM",
    tags=("compass", "join", "outer", "avg", "multi-measure"),
)
def compass_avg_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = CompassOptimizer(spark).execute_count(
        LEFT_OUTER_SQL,
        sf_dir,
        group_by=list(_BY_NATION),
        measures=[
            ("o", "o_totalprice", "sum"),
            ("o", "o_totalprice", "count"),
        ],
        outer={"o"},
    )
    return df.select(
        "n_name",
        F.round(
            F.when(
                F.col("agg_val1") > 0, F.col("agg_val0") / F.col("agg_val1")
            ).cast("double"),
            2,
        ).alias("avg_open"),
        F.col("agg_val1").cast("long").alias("n_orders"),
        "cnt",
    ).orderBy("n_name")


# Measures owned by DIFFERENT aliases in one chain: lineitem's SUM and
# orders' MIN/COUNT each seed on their own table's collapse and meet in
# the shared chain — the general groupjoin shape (a revenue sum and an
# order-value floor in one report) that per-measure chains would pay two
# planning passes for.
CROSS_TABLE_MEASURES_ORACLE = _oracle(
    _SUM_REV,
    "ROUND(CAST(MIN(o.o_totalprice) AS DOUBLE), 2) AS min_order",
    _CNT,
    grouped=True,
)


@query(
    "compass_cross_table_measures",
    CROSS_TABLE_MEASURES_ORACLE,
    doc="measures owned by DIFFERENT aliases in ONE chain: "
    "SUM(l.l_extendedprice) seeds on lineitem's collapse, "
    "MIN(o.o_totalprice) on orders', and both channels ride the shared "
    "joins — the sum scaling by every partner's multiplicity (including "
    "orders'), the extreme passing untouched. One planning pass, one "
    "scan per table, where per-measure chains would run the pipeline "
    "twice",
    tags=("compass", "join", "grouped", "multi-measure"),
)
def compass_cross_table_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    min_order = ("o", "o_totalprice", "min", "min_order")
    return _chain(spark, sf_dir, _BY_NATION, _SUM + (min_order,))
