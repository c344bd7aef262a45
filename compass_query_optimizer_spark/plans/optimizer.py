"""CompassOptimizer: end-to-end sketch-driven join planning on Spark.

Pipeline (the Spark-first rebuild of SURVEY.md §3.2 / §4.2):

    JoinQuerySpec (or JOB-style SQL)
      → JoinGraph + equality classes            (plans/graph.py)
      → per-table push-down: count + sketches    (plans/pushdown.py)
      → DFS join-order search                    (plans/search.py)
      → left-deep df.join chain in chosen order  (here)

The output permutation is enforced *syntactically*: the chain is built
join-by-join in the chosen order — exactly the lever the reference has
(it fixes the left-deep input permutation, RelAlgExecutor.cpp:2662-2670,
and leaves physical details to the engine). Spark still picks
broadcast/shuffle sides per join; CBO join reordering is disabled in
session.py so the logical order sticks, and selective filtered tables get
explicit broadcast hints (they are exactly the ≤10k-row inputs COMPASS
splices into the query; the broadcast is that splice, built per query
from the lazy filter, so no plan leaves cached data behind). The eager
count chain goes one step further for a table whose filtered join keys
the push-down already collected (≤ KEYS_PER_TASK base rows, ≤ MAX_SIZE
survivors): its seed is counted on the driver and enters as a
LocalRelation, with no rescan, refilter or collapse shuffle (Synapse's
exchange removal, VLDB 2021).
"""

from __future__ import annotations

import re as _re
from collections import namedtuple
from dataclasses import dataclass, field

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_type

from compass_query_optimizer_spark.catalog import load_tables
from compass_query_optimizer_spark.plans.graph import JoinGraph, JoinQuerySpec, parse_join_query
from compass_query_optimizer_spark.plans.pushdown import (
    PushdownResult,
    cached,
    run_pushdown,
)
from compass_query_optimizer_spark.plans.search import (
    SearchResult,
    choose_join_order,
    fallback_order,
    order_cost,
)


# Absolute anti-broadcast bar (round 9 at 1M raw rows; round 10
# re-keyed on the COLLAPSED frame estimate — the cached key-NDV when
# the collapse probe measured one, else the filtered row count — and
# lowered to 300k by interleaved A/B): chain partners whose collapsed
# estimate exceeds this carry a SHUFFLE_HASH pin, because AQE's
# shuffle-bytes heuristic otherwise broadcast-converts the narrow
# frame and the driver single-threadedly hash-builds it (~16.5 µs/row
# measured: 5.76M rows = 95 s on JOB 17a at fixture scale 160; the
# 400-720k frames of the 2-family = 20-30 s/query). Measured at 300k:
# 2-family solo at scale 160 falls 76.9 → 22.5 s (2a 29.7→7.7) with
# identical counts, and the full scale-10 corpus is unregressed
# (79.2 s default vs 80.6 s, interleaved fresh-process pairs; the
# contended pair favored 300k outright, 127.5 vs 103.8 s). In the
# eager chain the prefix is already hash-partitioned by the previous
# re-agg exchange, so a shuffled-hash join costs one ≤~1M-row partner
# shuffle (often AQE-reusable) against a serial driver build that
# scales with rows — past ~300k the trade never favors broadcast.
ANTIBROADCAST_ROWS = 300_000
# count_distinct_auto routing — the Spark twin of the reference's
# plan-time approx↔precise switch (RelAlgExecutor.cpp:1350-1418) and
# its CountDistinctDescriptor bitmap-vs-set choice. Integral measures
# whose plan-time value range fits DISTINCT_BITMAP_MAX_RANGE bits take
# the exact packed-bitmap route (fixed 8·range/64 bytes per key);
# otherwise NDV estimates up to DISTINCT_EXACT_MAX_NDV take the exact
# collect_set route (the final union row stays bounded); anything
# bigger carries a constant-size HLL sketch instead — approximate,
# but immune to the one-row set flatten that OOMs at 100 TB.
DISTINCT_BITMAP_MAX_RANGE = 4_096  # bits (64 words max per key)
DISTINCT_EXACT_MAX_NDV = 4_096  # plan-time NDV estimate cap
# Eager-chain seed collapse skip: a fact table whose referenced-key
# combinations are nearly distinct (cast_info's (movie, person, role)
# is 99.6% unique at JOB scale 40) pays a full shuffle for a ~no-op
# groupBy. When a cached plan-time NDV estimate of the key struct says
# ndv ≥ ratio × rows, the seed skips the collapse and enters the chain
# raw with multiplicity 1 — semantically identical (collapse is
# idempotent; the first post-join re-aggregation shrinks anyway), one
# big exchange cheaper. Tables at or below COLLAPSE_SKIP_MIN_ROWS
# always collapse (the exchange is cheap and the NDV job isn't worth
# scheduling).
COLLAPSE_SKIP_NDV_RATIO = 0.9
COLLAPSE_SKIP_MIN_ROWS = 500_000


def _union_sets(col):
    return F.array_distinct(F.flatten(F.collect_list(col)))


def _sum_of_union(col):
    # SUM over the union of surviving per-key sets; NULL over the empty
    # join (SQL's SUM semantics, unlike COUNT's 0)
    u = _union_sets(col)
    s = F.aggregate(u, F.lit(0.0), lambda a, x: a + x.cast("double"))
    return F.when(F.size(u) > 0, s)


def _exact_distinct(col):
    # the raw join computes exact COUNT(DISTINCT) directly — carrier
    # routing only exists inside the eager chain
    return F.count_distinct(col).cast("long")


# One row per measure op of the eager measure algebra:
#   seed   per-table collapse aggregate of the measure column
#   reagg  chain re-aggregation of the riding channel (the shrink step)
#   final  final aggregate -> agg_val{i} (SQL semantics: NULL over the empty
#          join for sum/min/max/sum_distinct, 0 for the counts)
#   raw    the same aggregate over the raw join (execute_count(eager=False))
#   scaled class-1 rider: multiplied by the partner multiplicity at each
#          join (COUNT(col) is SUM of per-key non-null counts — Yan &
#          Larson treat it exactly like SUM); min/max (class-2) and the
#          set/sketch carriers (class-3) pass through joins untouched
# count_distinct carries the SET of distinct values per key combination
# (collect_set drops NULLs — exactly COUNT(DISTINCT)'s NULL rule), exact
# while per-key distinct cardinality is bounded; count_distinct_hll
# carries a CONSTANT-SIZE Datasketches HLL sketch instead (~KB per key at
# any cardinality), approximate within HLL's published rsd. The packed
# bitmap's seed and final need its plan-time value range
# (_bitmap_seed_aggs / _bitmap_final), and count_distinct_auto resolves to
# a concrete carrier before the chain (_resolve_distinct_route): those two
# are the only ops whose chain steps live outside this table.
_MeasureOp = namedtuple("_MeasureOp", "seed reagg final raw scaled")
_MEASURES = {
    "sum": _MeasureOp(F.sum, F.sum, F.sum, F.sum, True),
    "count": _MeasureOp(
        F.count,
        F.sum,
        lambda c: F.coalesce(F.sum(c), F.lit(0)).cast("long"),
        lambda c: F.count(c).cast("long"),
        True,
    ),
    "min": _MeasureOp(F.min, F.min, F.min, F.min, False),
    "max": _MeasureOp(F.max, F.max, F.max, F.max, False),
    "count_distinct": _MeasureOp(
        F.collect_set,
        _union_sets,
        lambda c: F.size(_union_sets(c)).cast("long"),
        _exact_distinct,
        False,
    ),
    "count_distinct_hll": _MeasureOp(
        F.hll_sketch_agg,
        F.hll_union_agg,
        lambda c: F.hll_sketch_estimate(F.hll_union_agg(c)).cast("long"),
        lambda c: F.hll_sketch_estimate(F.hll_sketch_agg(c)).cast("long"),
        False,
    ),
    "count_distinct_bitmap": _MeasureOp(None, F.bit_or, None, _exact_distinct, False),
    "count_distinct_auto": _MeasureOp(None, None, None, _exact_distinct, False),
    "sum_distinct": _MeasureOp(
        F.collect_set,
        _union_sets,
        _sum_of_union,
        lambda c: F.sum_distinct(c).cast("double"),
        False,
    ),
}
_ROUTED = ("count_distinct_auto", "count_distinct_bitmap")


def _sole_routed(measures: list[tuple[str, str, str]]) -> tuple[str, str, str] | None:
    """Check every op of a measure list and return its plan-time routed
    carrier (count_distinct_auto / count_distinct_bitmap), if any. A routed
    carrier must be the list's only measure: its stats job and EXPLAIN
    record are per-plan."""
    for _, _, op in measures:
        if op not in _MEASURES:
            raise ValueError(f"unsupported measure op {op!r}")
    routed = [m for m in measures if m[2] in _ROUTED]
    if routed and len(measures) > 1:
        raise ValueError(
            "auto/bitmap distinct routing is single-measure — its "
            "plan-time stats job and EXPLAIN record are per-plan"
        )
    return routed[0] if routed else None


def _rewrite_residual(
    residual: str, spec: JoinQuerySpec, refs: set | None = None
) -> str:
    """Rewrite ``alias.col`` → ``alias__col`` in a post-join residual,
    adding each referenced (alias, col) to ``refs`` when given.

    Only known aliases are rewritten (the naive ``\\b(\\w+)\\.(\\w+)\\b``
    would mangle numeric literals like ``0.5`` into ``0__5``), and string
    literals are left untouched by splitting on quoted segments first."""
    aliases = "|".join(_re.escape(a) for a in sorted(spec.tables, key=len, reverse=True))
    pat = _re.compile(rf"\b({aliases})\.([A-Za-z_]\w*)\b")

    def sub(m: _re.Match) -> str:
        if refs is not None:
            refs.add((m[1], m[2]))
        return f"{m[1]}__{m[2]}"

    out = []
    for i, seg in enumerate(_re.split(r"('(?:[^']|'')*')", residual)):
        out.append(seg if i % 2 else pat.sub(sub, seg))
    return "".join(out)


def _referenced_cols(
    spec: JoinQuerySpec, group_by: list[tuple[str, str]] | None
) -> tuple[dict[str, set[str]], set[tuple[str, str]]]:
    """Columns each alias must expose when it enters the chain (join-pred
    endpoints, group-by columns, post-filter residual references) and the
    (alias, col) pairs that must survive every re-aggregation, as used by
    chain assembly (build_count_join)."""
    residual_cols: set[tuple[str, str]] = set(group_by or ())
    for residual in spec.post_filters:
        _rewrite_residual(residual, spec, residual_cols)
    needed: dict[str, set[str]] = {a: set() for a in spec.tables}
    for a, ca, b, cb in spec.join_preds:
        needed[a].add(ca)
        needed[b].add(cb)
    for al, col in residual_cols:
        needed[al].add(col)
    return needed, residual_cols


def _join_step(
    spec: JoinQuerySpec,
    prefix: DataFrame,
    frame: DataFrame,
    alias: str,
    in_chain: set[str],
) -> DataFrame:
    """Join ``alias`` onto the chain prefix: every edge between it and the
    prefix becomes part of that join's condition (composite keys coalesce
    exactly like EquiJoinCondition.cpp:97); outer aliases join LEFT."""
    conds = []
    for a, ca, b, cb in spec.join_preds:
        if a == alias and b in in_chain:
            conds.append(F.col(f"{alias}__{ca}") == F.col(f"{b}__{cb}"))
        elif b == alias and a in in_chain:
            conds.append(F.col(f"{a}__{ca}") == F.col(f"{alias}__{cb}"))
    if not conds:  # disconnected fallback only
        if alias in spec.outer:
            raise ValueError(f"outer alias {alias} has no join edge")
        return prefix.crossJoin(frame)
    cond = conds[0]
    for c in conds[1:]:
        cond = cond & c
    return prefix.join(frame, cond, "left" if alias in spec.outer else "inner")


def _post_filter(joined: DataFrame, spec: JoinQuerySpec) -> DataFrame:
    for residual in spec.post_filters:
        joined = joined.filter(_rewrite_residual(residual, spec))
    return joined


def _bitmap_seed_aggs(
    vmin: int, n_words: int, mval: str = "__mval", prefix: str = "__agg"
) -> list:
    """Per-table collapse for the bitmap count-distinct route (the
    reference's ``CountDistinctImplType::Bitmap``): each group's distinct
    values pack into ``n_words`` 64-bit words as set bits of the offset
    ``value - vmin``. Natively combiner-aggregated by ``bit_or`` — no
    array, no Python, fixed 8·n_words bytes per key at ANY row count.
    NULL measures contribute no bits (COUNT(DISTINCT)'s NULL rule).
    ``mval``/``prefix`` name the source column and output channels so
    several riding measures can coexist in one chain."""
    aggs = []
    for w in range(n_words):
        off = f"(CAST({mval} AS BIGINT) - ({vmin}))"
        contrib = F.expr(
            f"CASE WHEN {mval} IS NOT NULL AND {off} >= {64 * w}"
            f" AND {off} < {64 * (w + 1)}"
            f" THEN shiftleft(CAST(1 AS BIGINT), CAST({off} - {64 * w} AS INT))"
            f" ELSE CAST(0 AS BIGINT) END"
        )
        aggs.append(F.bit_or(contrib).alias(f"{prefix}{w}_new"))
    return aggs


def _bitmap_final(agg_names: list[str]):
    """Final aggregate for the bitmap route: OR-merge each word across
    surviving key combinations, popcount, sum — exact COUNT(DISTINCT),
    0 over the empty join."""
    total = None
    for nm in agg_names:
        t = F.bit_count(F.bit_or(nm)).cast("long")
        total = t if total is None else total + t
    return F.coalesce(total, F.lit(0).cast("long"))


def _scan_collapse(
    f: DataFrame,
    alias: str,
    key_cols: list[str],
    own: list[tuple[int, str, str]] = (),
    bitmap: dict | None = None,
) -> DataFrame:
    """An alias's chain seed from its frame: (keys → __cnt_new) plus one
    seed channel per measure it owns (``own``: (index, col, op))."""
    aggs = [F.count(F.lit(1)).alias("__cnt_new")]
    for i, _, op in own:
        if op == "count_distinct_bitmap":
            aggs.extend(
                _bitmap_seed_aggs(
                    bitmap["vmin"],
                    bitmap["n_words"],
                    mval=f"__mval{i}",
                    prefix=f"__m{i}w",
                )
            )
        else:
            aggs.append(_MEASURES[op].seed(f"__mval{i}").alias(f"__m{i}_new"))
    keys = [F.col(c).alias(f"{alias}__{c}") for c in key_cols]
    # measure columns are aggregated, never grouped — select them under
    # private names so they can coincide with keys
    mvals = [F.col(col).alias(f"__mval{i}") for i, col, _ in own]
    g = f.select(*keys, *mvals) if keys or mvals else f
    gb = [f"{alias}__{c}" for c in key_cols]
    return g.groupBy(*gb).agg(*aggs) if gb else g.agg(*aggs)


def _spliced_seed(plan: CompassPlan, alias: str, key_cols: list[str]) -> DataFrame | None:
    """The same (keys → __cnt_new) seed as :func:`_scan_collapse` with no
    measure, counted on the driver from the push-down's collected keys and
    entered as a LocalRelation: no rescan, refilter or collapse shuffle.
    None when the push-down kept no keys for the alias or a needed column
    is not an integral join key. Keys cast back to their source types, and
    a null key stays its own group, as in Spark's groupBy."""
    keys = plan.pushdown.keys.get(alias)
    if keys is None or not key_cols:
        return None
    src = plan.pushdown.frames[alias].schema
    if not all(
        c in keys.column_names and isinstance(src[c].dataType, T.IntegralType)
        for c in key_cols
    ):
        return None
    counted = (
        keys.group_by(key_cols)
        .aggregate([([], "count_all")])
        .sort_by([(c, "ascending") for c in key_cols])
    )
    fields = [
        T.StructField(f"{alias}__{c}", src[c].dataType, src[c].nullable)
        for c in key_cols
    ]
    table = pa.Table.from_arrays(
        [counted.column(c).cast(to_arrow_type(src[c].dataType)) for c in key_cols]
        + [counted.column("count_all")],
        names=[fl.name for fl in fields] + ["__cnt_new"],
    )
    schema = T.StructType(fields + [T.StructField("__cnt_new", T.LongType(), False)])
    return plan.pushdown.frames[alias].sparkSession.createDataFrame(table, schema)


@dataclass
class CompassPlan:
    spec: JoinQuerySpec
    graph: JoinGraph
    pushdown: PushdownResult
    search: SearchResult
    fallback_cost: float | None = None  # cost of size-descending order
    extras: dict = field(default_factory=dict)


# Planner caches, all keyed on the dataset tag first and all read through
# pushdown.cached() (no tag -> bypassed).
#
# (sf_dir | table-set tag, table name) -> base row count. Parquet metadata
# makes .count() cheap but it is still a Spark job per table per plan —
# repeated planning over the same catalog (the 113-query JOB corpus, or the
# reference's repeated-benchmark loop) must not re-run it.
_COUNT_CACHE: dict[tuple[str, str], int] = {}

# (dataset_tag, table, filter_sql, col) -> (ndv_estimate, lo, hi). The
# plan-time measure-column stats job behind count_distinct_auto — one
# narrow-column combiner aggregate, same order of cost as the push-down
# sketch pass.
_NDV_CACHE: dict[tuple, tuple[int, object, object]] = {}

# (dataset_tag, table, filter_sql, key-col tuple) -> key-combination NDV.
# Behind the eager-chain collapse skip: one approx_count_distinct(struct)
# job per distinct (table, filter, keys), amortized across the whole
# corpus by the cache (cast_info appears in most JOB queries with the
# same key set — one job serves them all).
_KEY_NDV_CACHE: dict[tuple, int] = {}


class CompassOptimizer:
    """The COMPASS planner. Its thresholds are the module constants above
    and pushdown.py's (the reference fixes them in COMPASS_init_variables
    .txt); persisted sketch templates go through
    templates.save_templates / load_templates."""

    def __init__(self, spark: SparkSession):
        self.spark = spark

    # -- planning ----------------------------------------------------------

    def plan(
        self,
        spec_or_sql: JoinQuerySpec | str,
        sf_dir: str | None = None,
        tables: dict[str, DataFrame] | None = None,
        counts: dict[str, int] | None = None,
        use_fallback: bool = False,
        count_cache_tag: str | None = None,
        outer: set[str] | None = None,
    ) -> CompassPlan:
        """``tables`` (name -> DataFrame) overrides the default catalog load
        from ``sf_dir`` — any star schema (e.g. the mini-IMDB JOB fixture)
        plans through the same pipeline. ``counts`` (table name -> rows)
        skips the base-cardinality jobs; ``use_fallback`` forces the
        size-descending order (MapD's default heuristic) for A/B runs.
        ``outer``: aliases joined LEFT OUTER (see JoinQuerySpec.outer) —
        rides programmatically like group_by/measures because the parsed
        text stays the reference's conjunctive inner shape."""
        spec = (
            parse_join_query(spec_or_sql)
            if isinstance(spec_or_sql, str)
            else spec_or_sql
        )
        if outer:
            spec.outer = set(outer)
        graph = JoinGraph(spec)
        caller_tables = tables is not None
        if tables is None:
            tables = load_tables(self.spark, sf_dir, register=False)
        base = {alias: tables[t] for alias, t in spec.tables.items()}
        # base cardinalities: parquet row-group metadata makes .count() a
        # metadata-only job (no column IO); cached across plans per catalog.
        # With caller-supplied `tables` and no explicit tag there is no
        # dataset identity to key on — sf_dir may describe a DIFFERENT
        # catalog than the override, so caching would cross-contaminate.
        if count_cache_tag is not None:
            tag = count_cache_tag
        elif not caller_tables:
            tag = sf_dir
        else:
            tag = None
        alias_counts: dict[str, int] = {}
        for alias, tbl in spec.tables.items():
            if counts is not None and tbl in counts:
                alias_counts[alias] = counts[tbl]
            else:
                alias_counts[alias] = cached(
                    _COUNT_CACHE, tag, (tbl,), base[alias].count
                )
        pd = run_pushdown(graph, base, alias_counts, dataset_tag=tag)
        if use_fallback:
            fb = fallback_order(pd.stats)
            search = SearchResult(
                fb, order_cost(graph, pd.stats, fb), 0, False, fallback=True
            )
            fb_cost = search.cost
        else:
            search = choose_join_order(graph, pd.stats)
            fb = fallback_order(pd.stats)
            fb_cost = (
                order_cost(graph, pd.stats, fb) if not search.fallback else None
            )
        if spec.outer:
            # LEFT OUTER legalization: null-extending joins are hoisted to
            # the tail of the chosen order. (A ⋈ B) ⟕ C ≡ (A ⟕ C) ⋈ B only
            # when B never references C, so keeping every outer alias after
            # the full inner prefix is the one ordering that is always
            # correct — the same left-deep-with-outer-levels shape the
            # reference executes (RelAlgExecutor.cpp:2635-2644). The inner
            # prefix keeps the sketch-searched order.
            if spec.outer >= set(spec.tables):
                raise ValueError("outer aliases must leave an inner prefix")
            for a, _, b, _ in spec.join_preds:
                if a in spec.outer and b in spec.outer:
                    raise ValueError(
                        f"outer aliases may only join non-outer aliases "
                        f"(edge {a}={b})"
                    )
            search.order = [x for x in search.order if x not in spec.outer] + [
                x for x in search.order if x in spec.outer
            ]
        plan = CompassPlan(spec, graph, pd, search, fallback_cost=fb_cost)
        plan.extras["dataset_tag"] = tag
        return plan

    # -- execution ---------------------------------------------------------

    def build_join(self, plan: CompassPlan) -> DataFrame:
        """Left-deep chain of the filtered rows in the chosen order."""
        order = plan.search.order
        frames = {}
        for alias in order:
            f = plan.pushdown.frames[alias]
            # alias-prefix every column so self-joins and shared column
            # names stay unambiguous in the chain
            frames[alias] = f.select(
                *[F.col(c).alias(f"{alias}__{c}") for c in f.columns]
            )
            if alias in plan.pushdown.materialized:
                frames[alias] = F.broadcast(frames[alias])

        joined = frames[order[0]]
        in_chain = {order[0]}
        for alias in order[1:]:
            joined = _join_step(plan.spec, joined, frames[alias], alias, in_chain)
            in_chain.add(alias)
        return _post_filter(joined, plan.spec)

    def explain(
        self,
        plan: CompassPlan,
        physical: bool = False,
        count: bool = False,
        group_by: list[tuple[str, str]] | None = None,
        measures: list[tuple[str, str, str]] | None = None,
    ) -> str:
        """Human-readable plan report — the engine's analog of the
        reference's EXPLAIN / EXPLAIN CALCITE surface (MapDHandler.cpp
        `sql_execute` explain modes; RA dump vs generated-IR dump). Shows
        the COMPASS decision: per-table push-down outcomes, the chosen
        join order with the per-prefix size estimates the search actually
        compared, and cost vs the size-descending fallback.

        ``physical=True`` appends Spark's formatted physical plan of the
        built chain (the whole-stage-codegen / exchange view — the analog
        of the reference's IR dump); ``count=True`` dumps the
        eager-aggregation count plan (:meth:`build_count_join`) instead
        of the row-producing join, with ``measures``/``group_by``
        selecting the measure-algebra variant so the eager
        SUM/MIN/MAX/COUNT-DISTINCT/AVG plans are inspectable.

        Each table line names the chain seed's source: ``spliced(n keys)``
        when the count chain seeds it from the push-down's n collected key
        rows, else ``scan``. The row-producing join scans every table."""
        count_df = (
            self.build_count_join(plan, group_by=group_by, measures=measures)
            if count
            else None
        )
        spliced = plan.extras["spliced"] if count else {}
        order_syms = [
            f"⟕ {a}" if a in plan.spec.outer else a for a in plan.search.order
        ]
        lines = [f"COMPASS plan: {' ⋈ '.join(order_syms).replace('⋈ ⟕', '⟕')}"]
        mode = "fallback (size-descending)" if plan.search.fallback else "sketch search"
        lines.append(
            f"  mode={mode}  cost={plan.search.cost:.1f}"
            + (
                f"  fallback_cost={plan.fallback_cost:.1f}"
                f"  ratio={plan.search.cost / plan.fallback_cost:.2e}"
                if plan.fallback_cost
                else ""
            )
        )
        lines.append(
            f"  search: expansions={plan.search.expansions}"
            f" budget_exhausted={plan.search.exhausted}"
        )
        lines.append("  tables (push-down pass):")
        for alias in plan.search.order:
            st = plan.pushdown.stats[alias]
            tbl = plan.spec.tables[alias]
            flt = plan.spec.filters.get(alias)
            mat = "selective+broadcast" if alias in plan.pushdown.materialized else "virtual"
            seed = f"spliced({spliced[alias]} keys)" if alias in spliced else "scan"
            lines.append(
                f"    {alias} ({tbl}): rows={st.rows} {mat} {seed}"
                + (f" filter=[{flt}]" if flt else "")
                + f" sketch_cols={sorted(st.sketches)}"
            )
        if plan.search.prefix_estimates:
            lines.append("  prefix size estimates (chosen order):")
            seen: list[str] = []
            for alias in plan.search.order:
                seen.append(alias)
                est = plan.search.prefix_estimates.get(frozenset(seen))
                if est is not None:
                    lines.append(f"    {{{', '.join(seen)}}} ≈ {est:.1f}")
        if count:
            # the eager-algebra report line: which variant of the
            # multiplicity chain the plan executes
            measures = measures or []
            desc = " + ".join(
                [f"{op}({al}.{col})" for al, col, op in measures] + ["count(*)"]
            )
            if group_by:
                desc += " group by " + ", ".join(
                    f"{al}.{col}" for al, col in group_by
                )
            lines.append(
                f"  eager aggregation: {desc} via multiplicity chain"
                " (tables collapse to (keys → cnt"
                + (", one channel per measure)" if measures else ")")
                + "; join rows never materialize)"
            )
            if _sole_routed(measures):
                # resolved by the build_count_join above
                info = plan.extras["distinct_route"]
                lines.append(
                    f"  count-distinct route: {info['route']}"
                    f" (ndv≈{info['ndv_estimate']},"
                    f" range=[{info['lo']}, {info['hi']}];"
                    f" bitmap ≤{DISTINCT_BITMAP_MAX_RANGE} bits,"
                    f" exact ≤{DISTINCT_EXACT_MAX_NDV} ndv,"
                    " else hll)"
                )
        if plan.spec.outer:
            lines.append(
                "  outer: "
                + ", ".join(sorted(plan.spec.outer))
                + " null-extend at the chain tail"
                " (multiplicity = coalesce(cnt, 1))"
            )
        if physical:
            df = count_df if count else self.build_join(plan)
            lines.append("  spark physical plan:")
            lines.append(df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            ))
        return "\n".join(lines)

    def _resolve_distinct_route(
        self, plan: CompassPlan, measure: tuple[str, str], requested: str
    ) -> tuple[str, dict]:
        """Plan-time COUNT(DISTINCT) routing — the Spark twin of the
        reference's approx↔precise switch (RelAlgExecutor.cpp:1350-1418)
        and its CountDistinctDescriptor bitmap-vs-set choice.

        One narrow-column stats job over the push-down frame (NDV estimate
        + min/max, cached per catalog like the base counts) decides the
        carrier:

        - integral measure whose value range fits
          ``distinct_bitmap_max_range`` bits → exact packed bitmap
          (``CountDistinctImplType::Bitmap``): fixed 8·⌈range/64⌉ bytes
          per key, native ``bit_or`` all the way;
        - NDV estimate ≤ ``distinct_exact_max_ndv`` → exact collect_set
          (the final union row stays bounded);
        - otherwise → constant-size HLL sketch (approximate within the
          published rsd) — an unbounded measure column through the exact
          path would flatten the full distinct set into ONE aggregation
          row and OOM an executor at 100 TB.

        The decision is recorded in ``plan.extras['distinct_route']`` so
        EXPLAIN and the plan tests can inspect it. ``requested`` may also
        be ``count_distinct_bitmap`` directly, which fails loudly when the
        measure's range cannot fit a bitmap."""
        alias, col = measure
        f = plan.pushdown.frames[alias]

        def stats() -> tuple[int, object, object]:
            row = f.agg(
                F.approx_count_distinct(col).alias("ndv"),
                F.min(col).alias("lo"),
                F.max(col).alias("hi"),
            ).collect()[0]
            return int(row["ndv"]), row["lo"], row["hi"]

        ndv, lo, hi = cached(
            _NDV_CACHE,
            plan.extras.get("dataset_tag"),
            (plan.spec.tables[alias], plan.spec.filters.get(alias), col),
            stats,
        )
        integral = isinstance(f.schema[col].dataType, T.IntegralType)
        rng = int(hi) - int(lo) + 1 if (integral and lo is not None) else None
        if rng is not None and rng <= DISTINCT_BITMAP_MAX_RANGE:
            route = "count_distinct_bitmap"
            params = {"vmin": int(lo), "n_words": (rng + 63) // 64}
        elif requested == "count_distinct_bitmap":
            raise ValueError(
                f"count_distinct_bitmap requires an integral measure with "
                f"range ≤ {DISTINCT_BITMAP_MAX_RANGE} bits; "
                f"{alias}.{col} has range {rng} (type "
                f"{f.schema[col].dataType.simpleString()})"
            )
        elif ndv <= DISTINCT_EXACT_MAX_NDV:
            route, params = "count_distinct", {}
        else:
            route, params = "count_distinct_hll", {}
        plan.extras["distinct_route"] = {
            "route": route,
            "ndv_estimate": ndv,
            "lo": lo,
            "hi": hi,
            **params,
        }
        return route, params

    def _should_skip_collapse(
        self, plan: CompassPlan, alias: str, key_cols: list[str], owns_measure: bool
    ) -> bool:
        """Eager-chain seed decision: skip the per-table collapse when the
        referenced-key combinations are nearly distinct — the groupBy
        would shuffle the whole table to shrink it by nothing (cast_info's
        (movie, person, role) is 99.6% unique at JOB scale 40; its
        collapse is one of the ~three large exchanges that push 8c/8d
        into the scale-80 timeout). One cached
        approx_count_distinct(struct(keys)) job decides; correctness is
        unaffected either way — the collapse is idempotent and the first
        post-join re-aggregation shrinks the prefix regardless.

        The probe runs only for an unfiltered table above
        COLLAPSE_SKIP_MIN_ROWS with keys: an unfiltered table's key-NDV is
        a per-catalog constant, one cached job per (table, keys) for the
        whole corpus, while filtered variants would key the cache per
        predicate and multiply planning jobs across a 113-query workload.
        Its result is recorded in ``plan.extras['collapse_skipped']``,
        which :meth:`_frame_size_estimate` reads. An alias that owns a
        measure always collapses (the groupBy seeds the measure channels),
        so it records skip=False — its frame has exactly key-NDV rows,
        the estimate the anti-broadcast bar needs."""
        rows = plan.pushdown.stats[alias].rows
        if rows <= COLLAPSE_SKIP_MIN_ROWS or not key_cols or plan.spec.filters.get(alias):
            return False
        ndv = cached(
            _KEY_NDV_CACHE,
            plan.extras.get("dataset_tag"),
            (plan.spec.tables[alias], plan.spec.filters.get(alias), tuple(key_cols)),
            lambda: int(
                plan.pushdown.frames[alias]
                .agg(F.approx_count_distinct(F.struct(*key_cols)).alias("k"))
                .collect()[0]["k"]
            ),
        )
        skip = not owns_measure and ndv >= COLLAPSE_SKIP_NDV_RATIO * rows
        plan.extras.setdefault("collapse_skipped", {})[alias] = {
            "skip": skip,
            "ndv": ndv,
            "rows": rows,
        }
        return skip

    def _frame_size_estimate(self, plan: CompassPlan, alias: str) -> float:
        """Plan-time row estimate of an alias's collapsed chain frame: the
        cached key-NDV when the collapse probe measured one (a collapsed
        frame has exactly ndv rows), else the filtered row count (an upper
        bound — collapse can only shrink)."""
        info = plan.extras.get("collapse_skipped", {}).get(alias)
        if info and not info.get("skip"):
            return info["ndv"]
        return plan.pushdown.stats[alias].rows

    def build_count_join(
        self,
        plan: CompassPlan,
        group_by: list[tuple[str, str]] | None = None,
        measures: list[tuple[str, str, str]] | None = None,
    ) -> DataFrame:
        """COUNT(*) of the join via eager aggregation (Yan & Larson,
        "Eager Aggregation and Lazy Aggregation", VLDB 1995; the groupjoin
        in Moerkotte & Neumann, "Accelerating Queries with Group-By and
        Join by Groupjoin", PVLDB 2011).

        For a pure COUNT(*) the engine never needs the join's rows — only
        the multiplicity algebra: each table collapses to
        (referenced-cols → multiplicity) before joining, each chain step
        multiplies multiplicities, and the prefix re-aggregates onto the
        columns still referenced by later joins or residuals. Intermediate
        cardinality is bounded by DISTINCT surviving key combinations
        instead of the raw join product — the zipf-skewed JOB tail whose
        intermediates go combinatorial (e.g. 40M rows at fixture scale 10)
        stays at key cardinality. COUNT(*) == SUM(Π multiplicities)
        exactly, including the empty-join → 0 case; the 113-query DuckDB
        differential gates this equivalence.

        Seeds: a collapse-skipped alias enters raw (that decision comes
        first). Otherwise an alias that owns no measure, whose needed
        columns are all integral join keys and whose filtered keys the
        push-down kept (``PushdownResult.keys``) is spliced: the driver
        counts those keys per key combination and the seed is a
        LocalRelation (:func:`_spliced_seed`), recorded in
        ``plan.extras['spliced']`` as {alias: key rows}. Every other alias
        rescans its frame through ``select → groupBy → count``
        (:func:`_scan_collapse`). The joins, hints and re-aggregations
        after the seeds are the same either way.

        ``group_by``: optional [(alias, col), ...] — the grouped form
        ``SELECT cols, COUNT(*) GROUP BY cols``. Group columns ride the
        chain like residual columns (kept through every re-aggregation)
        and the final aggregate keys on them, so a grouped count over a
        many-way join still never materializes join rows. Output columns
        are the bare column names plus ``cnt``.

        ``measures``: optional [(alias, col, op), ...] — riding aggregates
        that generalize the algebra from COUNT(*) to op(alias.col). Every
        measure carries its own channel(s) through the same joins and
        re-aggregations, so ``SELECT SUM(x), MIN(y), MAX(y), COUNT(*)
        GROUP BY g`` over a multi-way join costs one planning pass and one
        chain. Output columns are ``agg_val0..agg_valN`` in list order,
        then ``cnt``. The ops:

        - ``sum`` (Yan & Larson's class-1): the measure table collapses
          to (keys → cnt, Σ col), every OTHER table still collapses to
          (keys → cnt), and the chain carries ``__agg`` alongside
          ``__cnt`` — multiplied by the partner's multiplicity at each
          join, summed at each re-aggregation. SUM over the join ==
          Σ(per-key sums × Π other multiplicities) exactly. AVG follows
          for free as the sum's agg_val{i} / cnt.
        - ``min`` / ``max`` (class-2, duplicate-insensitive): the measure
          table collapses to per-key extremes; partner multiplicities are
          irrelevant, so the chain carries ``__agg`` through joins
          untouched and re-aggregations take the extreme. MIN/MAX over
          the join == extreme over SURVIVING key combinations exactly.
        - ``count_distinct`` (class-3 — multiplicity-insensitive like
          min/max but SET-valued; the reference executes precise
          count-distinct, QueryEngine/CountDistinct.h): the measure table
          collapses to per-key DISTINCT-value sets (collect_set, which
          drops NULLs — COUNT(DISTINCT)'s NULL rule), sets ride joins
          untouched, re-aggregations union them (array_distinct∘flatten∘
          collect_list), and the final aggregate counts the union.
          COUNT(DISTINCT col) over the join exactly, at key cardinality.
          Exact while per-key distinct cardinality is bounded (the sets
          ride the chain as arrays); for unbounded measures substitute an
          HLL sketch — approximate, constant-size.
        - ``count_distinct_bitmap`` (the reference's
          ``CountDistinctImplType::Bitmap``): integral measures with a
          plan-time value range ≤ ``DISTINCT_BITMAP_MAX_RANGE``
          carry a packed bitmap of ⌈range/64⌉ longs per key — exact like
          collect_set but FIXED-size regardless of row count, native
          ``bit_or`` end to end.
        - ``count_distinct_auto``: resolves to bitmap / exact set / HLL
          from a plan-time stats job (:meth:`_resolve_distinct_route`) —
          the reference's RelAlgExecutor.cpp:1350-1418 decision. Use this
          unless the measure's cardinality is known: it is what keeps an
          unbounded measure from flattening the full distinct set into
          one executor at scale.

        sum/min/max yield NULL over the empty join, count_distinct yields
        0 (SQL semantics), matching the plain plan. The plan-time routed
        carriers (auto/bitmap) must be the list's only measure — their
        stats job and EXPLAIN record are per-plan.
        """
        spec = plan.spec
        order = plan.search.order

        measures = measures or []
        # count_distinct_auto / count_distinct_bitmap resolve to a concrete
        # carrier from plan-time measure stats (the reference's switch)
        bitmap: dict = {}
        routed = _sole_routed(measures)
        if routed:
            mal, mcol, op = routed
            routed_op, bitmap = self._resolve_distinct_route(plan, (mal, mcol), op)
            measures = [(mal, mcol, routed_op)]
        # each riding measure may span several physical columns (one per
        # bitmap word); every chain step below treats channels uniformly
        channels: list[list[str]] = [
            [f"__m{i}w{w}" for w in range(bitmap["n_words"])]
            if op == "count_distinct_bitmap"
            else [f"__m{i}"]
            for i, (_, _, op) in enumerate(measures)
        ]

        # columns each alias must expose: join-pred endpoints + residuals
        needed, residual_cols = _referenced_cols(spec, group_by)

        plan.extras["spliced"] = {}
        frames = {}
        for alias in order:
            f = plan.pushdown.frames[alias]
            key_cols = sorted(c for c in needed[alias] if c in f.columns)
            keys = [F.col(c).alias(f"{alias}__{c}") for c in key_cols]
            own = [
                (i, col, op)
                for i, (al, col, op) in enumerate(measures)
                if al == alias
            ]
            if self._should_skip_collapse(plan, alias, key_cols, bool(own)):
                # near-distinct keys: enter the chain raw at multiplicity
                # 1 — the collapse would shuffle the whole table to shrink
                # it by almost nothing
                agg = f.select(*keys).withColumn(
                    "__cnt_new", F.lit(1).cast("long")
                )
            else:
                # the push-down may already hold this alias's filtered
                # keys: count them on the driver instead of rescanning
                agg = None if own else _spliced_seed(plan, alias, key_cols)
                if agg is not None:
                    plan.extras["spliced"][alias] = plan.pushdown.keys[alias].num_rows
                else:
                    agg = _scan_collapse(f, alias, key_cols, own, bitmap)
            if alias in plan.pushdown.materialized:
                agg = F.broadcast(agg)
            elif self._frame_size_estimate(plan, alias) > ANTIBROADCAST_ROWS:
                # Anti-broadcast guard (round 9, measured on JOB 17a at
                # fixture scale 160): a multi-million-row chain partner is
                # narrow enough (2-3 int columns + __cnt) that AQE's
                # shuffle-bytes heuristic converts its join to broadcast —
                # and then the DRIVER single-threadedly collects and
                # hash-builds 5.76M rows (95 s of 17a's 150 s wall, stage
                # profile /tmp analysis). SHUFFLE_HASH pins a shuffled
                # hash join: the build happens per-partition in parallel
                # and the row count per build map stays rows/partitions.
                # 17a: 174.6 → 3.9 s. Round 10 re-keyed the bar on the
                # COLLAPSED estimate (a 5M-row table collapsing to 50k
                # keys SHOULD broadcast) and lowered it 1M → 300k, which
                # converts the 2-family tail (2a 29.7 → 7.7 s solo at
                # scale 160) with the scale-10 corpus unregressed — see
                # ANTIBROADCAST_ROWS for both measurements.
                agg = agg.hint("shuffle_hash")
            frames[alias] = agg

        joined = frames[order[0]].withColumnRenamed("__cnt_new", "__cnt")
        for chans in channels:
            for nm in chans:
                if f"{nm}_new" in joined.columns:
                    joined = joined.withColumnRenamed(f"{nm}_new", nm)
        in_chain = {order[0]}
        remaining = set(order[1:])
        # raw-alias prefix liveness: aliases that entered the chain raw
        # (collapse skipped) and whose FULL key set still rides the
        # prefix. While any is live, the prefix row count is at least
        # that alias's matched-row count — millions of rows that look
        # like a few narrow MB to AQE's shuffle-bytes heuristic, which
        # then converts the NEXT join to broadcast and single-threads a
        # multi-million-row HashedRelation build on the driver (JOB 8c
        # at fixture scale 160). A SHUFFLE_HASH hint on the prefix side
        # pins those joins to parallel per-partition builds; explicit
        # F.broadcast hints on tiny partners still win the hint
        # resolution, so dim tables keep shipping.
        def _alias_keys(a: str) -> set:
            return {f"{a}__{c}" for c in needed[a]}

        raw_live: set = set()

        def _refresh_raw_live() -> None:
            cols = set(joined.columns)
            for a in list(raw_live):
                if not _alias_keys(a) <= cols:
                    raw_live.discard(a)

        seed_info = plan.extras.get("collapse_skipped", {}).get(order[0])
        if seed_info and seed_info.get("skip"):
            raw_live.add(order[0])
        for alias in order[1:]:
            left = joined.hint("shuffle_hash") if raw_live else joined
            plan.extras.setdefault("raw_live_trace", []).append(
                (alias, sorted(raw_live))
            )
            joined = _join_step(spec, left, frames[alias], alias, in_chain)
            info = plan.extras.get("collapse_skipped", {}).get(alias)
            if info and info.get("skip"):
                raw_live.add(alias)
            # null-extension multiplicity (Yan & Larson VLDB'95 §5, outer
            # joins): an unmatched prefix row survives a LEFT OUTER join
            # exactly once, so the partner multiplicity is
            # coalesce(cnt, 1); a null-extended measure value is NULL and
            # every aggregate skips it, so the riding __agg needs no
            # coalesce — sum/min/max/collect_list all drop NULLs, which is
            # precisely SQL's aggregate-over-null-extended-rows rule
            cnt_new = (
                F.coalesce(F.col("__cnt_new"), F.lit(1).cast("long"))
                if alias in spec.outer
                else F.col("__cnt_new")
            )
            for i, (mal, _, mop) in enumerate(measures):
                if mal == alias:
                    # the incoming side owns this measure. sum: each
                    # prefix row's count multiplies the per-key sum (Σ x
                    # over the matching measure rows); min/max/sets are
                    # duplicate-insensitive — the prefix count is
                    # irrelevant
                    for nm in channels[i]:
                        joined = joined.withColumn(
                            nm,
                            F.col("__cnt") * F.col(f"{nm}_new")
                            if _MEASURES[mop].scaled
                            else F.col(f"{nm}_new"),
                        ).drop(f"{nm}_new")
                elif channels[i][0] in joined.columns and _MEASURES[mop].scaled:
                    # measure already in the prefix: the partner's
                    # multiplicity scales the running sum exactly as it
                    # scales the count (min/max/sets pass through joins
                    # untouched)
                    joined = joined.withColumn(
                        channels[i][0], F.col(channels[i][0]) * cnt_new
                    )
            joined = joined.withColumn(
                "__cnt", F.col("__cnt") * cnt_new
            ).drop("__cnt_new")
            in_chain.add(alias)
            remaining.discard(alias)
            # project away columns no later join or residual references,
            # and re-aggregate after EVERY join: the shrink step that keeps
            # the prefix at key cardinality. Both ways of skipping it were
            # measured slower — gating on the sketch prefix estimate (JOB 8c
            # at scale 80: 92.4 s gated vs 7.8 s always; the zipf tail is
            # where sketches underestimate) and deferring while a raw
            # alias's keys survive (6f at scale 160: 171.7 s vs 3.5 s; the
            # re-agg still combines map-side and gives AQE a stats point).
            keep = set()
            for a, ca, b, cb in spec.join_preds:
                if a in in_chain and b in remaining:
                    keep.add(f"{a}__{ca}")
                if b in in_chain and a in remaining:
                    keep.add(f"{b}__{cb}")
            for al, col in residual_cols:
                if al in in_chain:
                    keep.add(f"{al}__{col}")
            keep &= set(joined.columns)
            all_chans = {nm for chans in channels for nm in chans}
            if set(joined.columns) - keep - {"__cnt"} - all_chans:
                aggs = [F.sum("__cnt").alias("__cnt")]
                for i, (_, _, mop) in enumerate(measures):
                    for nm in channels[i]:
                        if nm in joined.columns:
                            aggs.append(_MEASURES[mop].reagg(nm).alias(nm))
                if keep:
                    joined = joined.groupBy(*sorted(keep)).agg(*aggs)
                elif remaining:
                    joined = joined.agg(*aggs)
            _refresh_raw_live()

        joined = _post_filter(joined, spec)
        final_aggs = []
        for i, (_, _, mop) in enumerate(measures):
            out = f"agg_val{i}"
            if mop == "count_distinct_bitmap":
                final_aggs.append(_bitmap_final(channels[i]).alias(out))
            else:
                final_aggs.append(_MEASURES[mop].final(channels[i][0]).alias(out))
        if group_by:
            return joined.groupBy(
                *[F.col(f"{al}__{col}").alias(col) for al, col in group_by]
            ).agg(*final_aggs, F.sum("__cnt").alias("cnt"))
        return joined.agg(
            *final_aggs,
            F.coalesce(F.sum("__cnt"), F.lit(0).cast("long")).alias("cnt"),
        )

    def execute_count(
        self,
        spec_or_sql: JoinQuerySpec | str,
        sf_dir: str | None = None,
        tables: dict[str, DataFrame] | None = None,
        counts: dict[str, int] | None = None,
        use_fallback: bool = False,
        count_cache_tag: str | None = None,
        eager: bool = True,
        group_by: list[tuple[str, str]] | None = None,
        outer: set[str] | None = None,
        measures: list[tuple[str, str, str]] | None = None,
    ) -> DataFrame:
        """The reference's benchmark form: COUNT(*) of the join.

        ``eager`` selects the eager-aggregation count plan
        (:meth:`build_count_join`); ``eager=False`` counts the raw join,
        the reference the eager algebra is checked against. The eager plan
        is the default because at fixture scale 2 it matches the raw
        join's wall (65.5 s vs 68.4 s over all 113 queries), and at scale
        10 it turns every raw-join DNF — counts up to the trillions (31c ≈
        5.4e12) — into ~1-second answers. ``group_by`` [(alias, col), ...]
        computes the grouped form (bare column names + ``cnt``).
        ``measures`` [(alias, col, op), ...] adds op(alias.col) as
        ``agg_val{i}`` on both paths (see :meth:`build_count_join`)."""
        plan = self.plan(
            spec_or_sql,
            sf_dir,
            tables=tables,
            counts=counts,
            use_fallback=use_fallback,
            count_cache_tag=count_cache_tag,
            outer=outer,
        )
        if eager:
            return self.build_count_join(plan, group_by=group_by, measures=measures)
        joined = self.build_join(plan)

        measures = measures or []
        _sole_routed(measures)
        aggs = [
            _MEASURES[mop].raw(F.col(f"{mal}__{mcol}")).alias(f"agg_val{i}")
            for i, (mal, mcol, mop) in enumerate(measures)
        ]
        if group_by:
            return joined.groupBy(
                *[F.col(f"{al}__{col}").alias(col) for al, col in group_by]
            ).agg(*aggs, F.count(F.lit(1)).alias("cnt"))
        return joined.agg(*aggs, F.count(F.lit(1)).alias("cnt"))
