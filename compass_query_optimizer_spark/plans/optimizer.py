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
materializes).
"""

from __future__ import annotations

import re as _re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from compass_query_optimizer_spark.catalog import load_tables
from compass_query_optimizer_spark.plans.graph import JoinGraph, JoinQuerySpec, parse_join_query
from compass_query_optimizer_spark.plans.pushdown import (
    PushdownConfig,
    PushdownResult,
    run_pushdown,
)
from compass_query_optimizer_spark.plans.search import (
    SearchResult,
    choose_join_order,
    fallback_order,
    order_cost,
)


# measure_op -> aggregate fn for the eager measure algebra (sum = class-1
# multiplicity-scaled; min/max = class-2 duplicate-insensitive;
# count_distinct = class-3 set-valued, handled by the helpers below)
_MEASURE_FNS = {"sum": F.sum, "min": F.min, "max": F.max}
_MEASURE_OPS = (
    "sum",
    "count",
    "min",
    "max",
    "count_distinct",
    "count_distinct_hll",
    "count_distinct_bitmap",
    "count_distinct_auto",
    "sum_distinct",
)
# class-1 ops: multiplicity-scaled riders (COUNT(col) is SUM of per-key
# non-null counts — Yan & Larson treat it exactly like SUM)
_SCALED_OPS = ("sum", "count")


def _referenced_cols(
    spec: JoinQuerySpec, group_by: list[tuple[str, str]] | None
) -> tuple[dict[str, set[str]], set[tuple[str, str]]]:
    """Columns each alias must expose when it enters the chain (join-pred
    endpoints, group-by columns, post-filter residual references) and the
    (alias, col) pairs that must survive every re-aggregation, as used by
    chain assembly (build_count_join)."""
    needed: dict[str, set[str]] = {a: set() for a in spec.tables}
    for a, ca, b, cb in spec.join_preds:
        needed[a].add(ca)
        needed[b].add(cb)
    residual_cols: set[tuple[str, str]] = set()
    for al, col in group_by or ():
        residual_cols.add((al, col))
        needed[al].add(col)
    if spec.post_filters:
        aliases = "|".join(
            _re.escape(a) for a in sorted(spec.tables, key=len, reverse=True)
        )
        pat = _re.compile(rf"\b({aliases})\.([A-Za-z_]\w*)\b")
        for residual in spec.post_filters:
            for i, seg in enumerate(_re.split(r"('(?:[^']|'')*')", residual)):
                if i % 2:
                    continue
                for al, col in pat.findall(seg):
                    residual_cols.add((al, col))
                    needed[al].add(col)
    return needed, residual_cols


def _measure_seed(measure_op: str, col: str):
    """Per-table collapse aggregate for the measure column.

    count_distinct carries the SET of distinct values per key combination
    (collect_set drops NULLs — exactly COUNT(DISTINCT)'s NULL rule); the
    set is multiplicity-insensitive, so like min/max it rides joins
    untouched. Exact under the assumption that per-key distinct
    cardinality is bounded (group-scoped sets, not corpus-scoped).
    count_distinct_hll carries a CONSTANT-SIZE Datasketches HLL sketch
    instead (~KB per key at any cardinality) — the scale path for
    unbounded measures, approximate within HLL's published rsd."""
    if measure_op in ("count_distinct", "sum_distinct"):
        return F.collect_set(col)
    if measure_op == "count_distinct_hll":
        return F.hll_sketch_agg(col)
    if measure_op == "count":
        # COUNT(col): per-key NON-NULL count — rides the chain as a
        # class-1 sum (multiplicity-scaled, summed at re-aggregations)
        return F.count(col)
    return _MEASURE_FNS[measure_op](col)


def _measure_reagg(measure_op: str, col: str):
    """Chain re-aggregation of the riding measure (the shrink step)."""
    if measure_op in ("count_distinct", "sum_distinct"):
        return F.array_distinct(F.flatten(F.collect_list(col)))
    if measure_op == "count_distinct_hll":
        return F.hll_union_agg(col)
    if measure_op == "count_distinct_bitmap":
        return F.bit_or(col)
    if measure_op == "count":
        return F.sum(col)
    return _MEASURE_FNS[measure_op](col)


def _measure_final(measure_op: str, col: str):
    """Final aggregate -> ``agg_val``. count_distinct yields the size of
    the union of surviving sets — 0 over the empty join (SQL's
    COUNT(DISTINCT) semantics), where sum/min/max yield NULL;
    count_distinct_hll estimates the merged sketch."""
    if measure_op == "count_distinct":
        return F.size(
            F.array_distinct(F.flatten(F.collect_list(col)))
        ).cast("long")
    if measure_op == "sum_distinct":
        # SUM over the union of surviving per-key sets; NULL over the
        # empty join (SQL's SUM semantics, unlike COUNT's 0)
        u = F.array_distinct(F.flatten(F.collect_list(col)))
        s = F.aggregate(
            u, F.lit(0.0), lambda a, x: a + x.cast("double")
        )
        return F.when(F.size(u) > 0, s)
    if measure_op == "count_distinct_hll":
        return F.hll_sketch_estimate(F.hll_union_agg(col)).cast("long")
    if measure_op == "count":
        # COUNT(col) is 0 over the empty join, like COUNT(*)
        return F.coalesce(F.sum(col), F.lit(0)).cast("long")
    return _MEASURE_FNS[measure_op](col)


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


def _rewrite_residual(residual: str, spec: JoinQuerySpec) -> str:
    """Rewrite ``alias.col`` → ``alias__col`` in a post-join residual.

    Only known aliases are rewritten (the naive ``\\b(\\w+)\\.(\\w+)\\b``
    would mangle numeric literals like ``0.5`` into ``0__5``), and string
    literals are left untouched by splitting on quoted segments first."""
    aliases = "|".join(_re.escape(a) for a in sorted(spec.tables, key=len, reverse=True))
    pat = _re.compile(rf"\b({aliases})\.([A-Za-z_]\w*)\b")
    out = []
    for i, seg in enumerate(_re.split(r"('(?:[^']|'')*')", residual)):
        out.append(seg if i % 2 else pat.sub(r"\1__\2", seg))
    return "".join(out)


@dataclass
class CompassPlan:
    spec: JoinQuerySpec
    graph: JoinGraph
    pushdown: PushdownResult
    search: SearchResult
    fallback_cost: float | None = None  # cost of size-descending order
    extras: dict = field(default_factory=dict)


# (sf_dir | table-set tag, table name) -> base row count. Parquet metadata
# makes .count() cheap but it is still a Spark job per table per plan —
# repeated planning over the same catalog (the 113-query JOB corpus, or the
# reference's repeated-benchmark loop) must not re-run it.
_COUNT_CACHE: dict[tuple[str, str], int] = {}


def clear_count_cache() -> None:
    _COUNT_CACHE.clear()
    _NDV_CACHE.clear()
    _KEY_NDV_CACHE.clear()


# (dataset_tag, table, filter_sql, col) -> (ndv_estimate, lo, hi). The
# plan-time measure-column stats job behind count_distinct_auto — one
# narrow-column combiner aggregate, same order of cost as the push-down
# sketch pass, cached across plans per catalog like _COUNT_CACHE.
_NDV_CACHE: dict[tuple, tuple[int, object, object]] = {}

# (dataset_tag, table, filter_sql, key-col tuple) -> key-combination NDV.
# Behind the eager-chain collapse skip: one approx_count_distinct(struct)
# job per distinct (table, filter, keys), amortized across the whole
# corpus by the cache (cast_info appears in most JOB queries with the
# same key set — one job serves them all).
_KEY_NDV_CACHE: dict[tuple, int] = {}


class CompassOptimizer:
    def __init__(
        self,
        spark: SparkSession,
        config: PushdownConfig | None = None,
        budget: int = 100,
        template_path: str | None = None,
    ):
        """``template_path``: persisted sketch-template store. Loaded into
        the in-memory cache at construction and re-saved after planning —
        the lifecycle of the reference's catalog-level uploadSketches /
        saveSketches (Catalog/Catalog.h:579, sketch-templates/README.md)."""
        self.spark = spark
        self.config = config or PushdownConfig()
        self.budget = budget
        self.template_path = template_path
        self._loaded_templates = 0
        if template_path is not None:
            import os

            from compass_query_optimizer_spark.plans.templates import load_templates

            p = template_path if template_path.endswith(".npz") else template_path + ".npz"
            if os.path.exists(p):
                self._loaded_templates = load_templates(p)

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
        rides programmatically like group_by/measure because the parsed
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
                continue
            key = (tag, tbl)
            if tag is not None and key in _COUNT_CACHE:
                alias_counts[alias] = _COUNT_CACHE[key]
                continue
            c = base[alias].count()
            alias_counts[alias] = c
            if tag is not None:
                _COUNT_CACHE[key] = c
        pd = run_pushdown(
            self.spark, graph, base, alias_counts, self.config, dataset_tag=tag
        )
        if use_fallback:
            fb = fallback_order(pd.stats)
            search = SearchResult(
                fb, order_cost(graph, pd.stats, fb), 0, False, fallback=True
            )
            fb_cost = search.cost
        else:
            search = choose_join_order(graph, pd.stats, budget=self.budget)
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
        if self.template_path is not None:
            self._maybe_save_templates()
        return plan

    def _maybe_save_templates(self) -> None:
        """Auto-save the template store when new sketches were built since
        the last save (debounced on cache size)."""
        from compass_query_optimizer_spark.plans import pushdown as _pd
        from compass_query_optimizer_spark.plans.templates import save_templates

        with _pd._template_lock():
            size = len(_pd._TEMPLATE_CACHE)
        if size != self._loaded_templates:
            save_templates(self.template_path)
            self._loaded_templates = size

    # -- execution ---------------------------------------------------------

    def build_join(self, plan: CompassPlan) -> DataFrame:
        """Left-deep chain in the chosen order; every edge between the next
        table and the current prefix becomes part of that join's condition
        (composite keys coalesce exactly like EquiJoinCondition.cpp:97)."""
        order = plan.search.order
        frames = {}
        for alias in order:
            f = plan.pushdown.frames[alias]
            # alias-prefix every column so self-joins and shared column
            # names stay unambiguous in the chain
            frames[alias] = f.select(
                *[F.col(c).alias(f"{alias}__{c}") for c in f.columns]
            )
            if (
                alias in plan.pushdown.materialized
                and plan.pushdown.stats[alias].rows <= self.config.broadcast_rows
            ):
                frames[alias] = F.broadcast(frames[alias])

        joined = frames[order[0]]
        in_chain = {order[0]}
        for alias in order[1:]:
            conds = []
            for a, ca, b, cb in plan.spec.join_preds:
                if a == alias and b in in_chain:
                    conds.append(F.col(f"{alias}__{ca}") == F.col(f"{b}__{cb}"))
                elif b == alias and a in in_chain:
                    conds.append(F.col(f"{a}__{ca}") == F.col(f"{alias}__{cb}"))
            if not conds:  # disconnected fallback only
                if alias in plan.spec.outer:
                    raise ValueError(f"outer alias {alias} has no join edge")
                joined = joined.crossJoin(frames[alias])
            else:
                cond = conds[0]
                for c in conds[1:]:
                    cond = cond & c
                how = "left" if alias in plan.spec.outer else "inner"
                joined = joined.join(frames[alias], cond, how)
            in_chain.add(alias)

        for residual in plan.spec.post_filters:
            joined = joined.filter(_rewrite_residual(residual, plan.spec))
        return joined

    def explain(
        self,
        plan: CompassPlan,
        physical: bool = False,
        count: bool = False,
        group_by: list[tuple[str, str]] | None = None,
        measure: tuple[str, str] | None = None,
        measure_op: str = "sum",
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
        of the row-producing join, with ``measure``/``measure_op``/
        ``group_by`` selecting the measure-algebra variant so the eager
        SUM/MIN/MAX/COUNT-DISTINCT/AVG plans are inspectable."""
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
            mat = "materialized+broadcast" if alias in plan.pushdown.materialized else "virtual"
            lines.append(
                f"    {alias} ({tbl}): rows={st.rows} {mat}"
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
            desc = "count(*)"
            if measure is not None:
                desc = f"{measure_op}({measure[0]}.{measure[1]}) + count(*)"
            elif measures:
                desc = (
                    " + ".join(f"{op}({al}.{col})" for al, col, op in measures)
                    + " + count(*)  [one chain, one channel per measure]"
                )
            if group_by:
                desc += " group by " + ", ".join(
                    f"{al}.{col}" for al, col in group_by
                )
            lines.append(
                f"  eager aggregation: {desc} via multiplicity chain"
                " (tables collapse to (keys → cnt"
                + (", agg)" if measure is not None else ")")
                + "; join rows never materialize)"
            )
            if measure is not None and measure_op in (
                "count_distinct_auto",
                "count_distinct_bitmap",
            ):
                route, _ = self._resolve_distinct_route(plan, measure, measure_op)
                info = plan.extras["distinct_route"]
                lines.append(
                    f"  count-distinct route: {route}"
                    f" (ndv≈{info['ndv_estimate']},"
                    f" range=[{info['lo']}, {info['hi']}];"
                    f" bitmap ≤{self.config.distinct_bitmap_max_range} bits,"
                    f" exact ≤{self.config.distinct_exact_max_ndv} ndv,"
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
            df = (
                self.build_count_join(
                    plan, group_by=group_by, measure=measure,
                    measure_op=measure_op, measures=measures,
                )
                if count
                else self.build_join(plan)
            )
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
        from pyspark.sql import types as T

        alias, col = measure
        f = plan.pushdown.frames[alias]
        tag = plan.extras.get("dataset_tag")
        key = (tag, plan.spec.tables[alias], plan.spec.filters.get(alias), col)
        if tag is not None and key in _NDV_CACHE:
            ndv, lo, hi = _NDV_CACHE[key]
        else:
            row = f.agg(
                F.approx_count_distinct(col).alias("ndv"),
                F.min(col).alias("lo"),
                F.max(col).alias("hi"),
            ).collect()[0]
            ndv, lo, hi = int(row["ndv"]), row["lo"], row["hi"]
            if tag is not None:
                _NDV_CACHE[key] = (ndv, lo, hi)
        integral = isinstance(f.schema[col].dataType, T.IntegralType)
        rng = int(hi) - int(lo) + 1 if (integral and lo is not None) else None
        if rng is not None and rng <= self.config.distinct_bitmap_max_range:
            route = "count_distinct_bitmap"
            params = {"vmin": int(lo), "n_words": (rng + 63) // 64}
        elif requested == "count_distinct_bitmap":
            raise ValueError(
                f"count_distinct_bitmap requires an integral measure with "
                f"range ≤ {self.config.distinct_bitmap_max_range} bits; "
                f"{alias}.{col} has range {rng} (type "
                f"{f.schema[col].dataType.simpleString()})"
            )
        elif ndv <= self.config.distinct_exact_max_ndv:
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

    def _key_ndv(
        self, plan: CompassPlan, alias: str, key_cols: list[str]
    ) -> int | None:
        """Cached approx_count_distinct(struct(keys)) of an alias's
        referenced-key combinations, or None when the probe doesn't apply
        (table at/below ``collapse_skip_min_rows``, no keys, or a FILTERED
        alias — an unfiltered table's key-NDV is a per-catalog constant,
        one cached job per (table, keys) for the whole corpus, while
        filtered variants would key the cache per predicate and multiply
        planning jobs across a 113-query workload)."""
        rows = plan.pushdown.stats[alias].rows
        if rows <= self.config.collapse_skip_min_rows or not key_cols:
            return None
        if plan.spec.filters.get(alias):
            return None
        tag = plan.extras.get("dataset_tag")
        key = (
            tag,
            plan.spec.tables[alias],
            plan.spec.filters.get(alias),
            tuple(key_cols),
        )
        if tag is not None and key in _KEY_NDV_CACHE:
            return _KEY_NDV_CACHE[key]
        f = plan.pushdown.frames[alias]
        ndv = int(
            f.agg(
                F.approx_count_distinct(F.struct(*key_cols)).alias("k")
            ).collect()[0]["k"]
        )
        if tag is not None:
            _KEY_NDV_CACHE[key] = ndv
        return ndv

    def _should_skip_collapse(
        self, plan: CompassPlan, alias: str, key_cols: list[str]
    ) -> bool:
        """Eager-chain seed decision: skip the per-table collapse when the
        referenced-key combinations are nearly distinct — the groupBy
        would shuffle the whole table to shrink it by nothing (cast_info's
        (movie, person, role) is 99.6% unique at JOB scale 40; its
        collapse is one of the ~three large exchanges that push 8c/8d
        into the scale-80 timeout). One cached
        approx_count_distinct(struct(keys)) job decides; correctness is
        unaffected either way — the collapse is idempotent and the first
        post-join re-aggregation shrinks the prefix regardless."""
        ndv = self._key_ndv(plan, alias, key_cols)
        if ndv is None:
            return False
        rows = plan.pushdown.stats[alias].rows
        skip = ndv >= self.config.collapse_skip_ndv_ratio * rows
        plan.extras.setdefault("collapse_skipped", {})[alias] = {
            "skip": skip,
            "ndv": ndv,
            "rows": rows,
        }
        return skip

    def _probe_collapsed_size(
        self, plan: CompassPlan, alias: str, key_cols: list[str]
    ) -> None:
        """Record the collapsed-frame size of a MEASURE-carrying alias
        (round-11 advice fix): the own-measures branch always collapses
        (the groupBy seeds the measure channels), so its output has
        exactly key-NDV rows — but it never called the skip probe, so
        ``_frame_size_estimate`` fell back to raw filtered rows and the
        300k anti-broadcast bar could pin SHUFFLE_HASH on a frame that
        collapses far below the bar and should broadcast. One cached NDV
        probe records skip=False (truthful: the frame DID collapse), which
        both fixes the estimate and leaves raw-alias prefix liveness
        untouched."""
        ndv = self._key_ndv(plan, alias, key_cols)
        if ndv is not None:
            plan.extras.setdefault("collapse_skipped", {})[alias] = {
                "skip": False,
                "ndv": ndv,
                "rows": plan.pushdown.stats[alias].rows,
            }

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
        measure: tuple[str, str] | None = None,
        measure_op: str = "sum",
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

        ``group_by``: optional [(alias, col), ...] — the grouped form
        ``SELECT cols, COUNT(*) GROUP BY cols``. Group columns ride the
        chain like residual columns (kept through every re-aggregation)
        and the final aggregate keys on them, so a grouped count over a
        many-way join still never materializes join rows. Output columns
        are the bare column names plus ``cnt``.

        ``measure``: optional (alias, col) — generalizes the algebra from
        COUNT(*) to ``measure_op``(alias.col):

        - ``sum`` (Yan & Larson's class-1): the measure table collapses
          to (keys → cnt, Σ col), every OTHER table still collapses to
          (keys → cnt), and the chain carries ``__agg`` alongside
          ``__cnt`` — multiplied by the partner's multiplicity at each
          join, summed at each re-aggregation. SUM over the join ==
          Σ(per-key sums × Π other multiplicities) exactly. AVG follows
          for free as agg_val / cnt.
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
          plan-time value range ≤ ``config.distinct_bitmap_max_range``
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
        0 (SQL semantics), matching the plain plan. Adds ``agg_val``
        before ``cnt`` to the output.

        ``measures``: optional [(alias, col, op), ...] — SEVERAL riding
        measures in ONE chain pass (mutually exclusive with ``measure``).
        Each measure carries its own channel(s) through the same joins
        and re-aggregations, so ``SELECT SUM(x), MIN(y), MAX(y), COUNT(*)
        GROUP BY g`` over a multi-way join costs one planning pass and
        one chain instead of one chain per aggregate. Output columns are
        ``agg_val0..agg_valN`` in declaration order, then ``cnt``. The
        plan-time routed carriers (auto/bitmap) stay single-measure —
        their stats job and EXPLAIN record are per-plan.
        """
        spec = plan.spec
        order = plan.search.order

        if measures is not None and measure is not None:
            raise ValueError("pass either measure or measures, not both")
        single = measures is None
        if single:
            measures = [(measure[0], measure[1], measure_op)] if measure else []
        # count_distinct_auto / count_distinct_bitmap resolve to a concrete
        # carrier from plan-time measure stats (the reference's switch)
        bitmap: dict = {}
        if single and measures and measures[0][2] in (
            "count_distinct_auto",
            "count_distinct_bitmap",
        ):
            mal, mcol, _ = measures[0]
            routed_op, bitmap = self._resolve_distinct_route(
                plan, (mal, mcol), measures[0][2]
            )
            measures = [(mal, mcol, routed_op)]
        for _, _, op in measures:
            if op not in _MEASURE_OPS:
                raise ValueError(f"unsupported measure_op {op!r}")
            if not single and op in (
                "count_distinct_auto",
                "count_distinct_bitmap",
            ):
                raise ValueError(
                    "auto/bitmap distinct routing is single-measure — its "
                    "plan-time stats job and EXPLAIN record are per-plan"
                )
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

        frames = {}
        for alias in order:
            f = plan.pushdown.frames[alias]
            keys = [
                F.col(c).alias(f"{alias}__{c}")
                for c in sorted(needed[alias])
                if c in f.columns
            ]
            aggs = [F.count(F.lit(1)).alias("__cnt_new")]
            own = [
                (i, col, op)
                for i, (al, col, op) in enumerate(measures)
                if al == alias
            ]
            if own:
                # measure columns are aggregated, never grouped — select
                # them under private names so they can coincide with keys
                keys = keys + [
                    F.col(col).alias(f"__mval{i}") for i, col, _ in own
                ]
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
                        aggs.append(
                            _measure_seed(op, f"__mval{i}").alias(
                                f"__m{i}_new"
                            )
                        )
                g = f.select(*keys)
                gb = [c for c in g.columns if not c.startswith("__mval")]
                agg = g.groupBy(*gb).agg(*aggs) if gb else g.agg(*aggs)
                if gb:
                    self._probe_collapsed_size(
                        plan,
                        alias,
                        sorted(c for c in needed[alias] if c in f.columns),
                    )
            else:
                g = f.select(*keys) if keys else f
                key_cols = sorted(c for c in needed[alias] if c in f.columns)
                skip = bool(keys) and self._should_skip_collapse(
                    plan, alias, key_cols
                )
                if skip:
                    # near-distinct keys: enter the chain raw at
                    # multiplicity 1 — the collapse would shuffle the
                    # whole table to shrink it by almost nothing
                    agg = g.withColumn("__cnt_new", F.lit(1).cast("long"))
                else:
                    agg = (
                        g.groupBy(*g.columns).agg(*aggs)
                        if keys
                        else g.agg(*aggs)
                    )
            if (
                alias in plan.pushdown.materialized
                and plan.pushdown.stats[alias].rows <= self.config.broadcast_rows
            ):
                agg = F.broadcast(agg)
            elif (
                self._frame_size_estimate(plan, alias)
                > self.config.antibroadcast_rows
            ):
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
                # PushdownConfig.antibroadcast_rows for both measurements.
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
            conds = []
            for a, ca, b, cb in spec.join_preds:
                if a == alias and b in in_chain:
                    conds.append(F.col(f"{alias}__{ca}") == F.col(f"{b}__{cb}"))
                elif b == alias and a in in_chain:
                    conds.append(F.col(f"{a}__{ca}") == F.col(f"{alias}__{cb}"))
            is_outer = alias in spec.outer
            left = joined.hint("shuffle_hash") if raw_live else joined
            plan.extras.setdefault("raw_live_trace", []).append(
                (alias, sorted(raw_live))
            )
            if not conds:  # disconnected fallback only
                if is_outer:
                    raise ValueError(f"outer alias {alias} has no join edge")
                joined = left.crossJoin(frames[alias])
            else:
                cond = conds[0]
                for c in conds[1:]:
                    cond = cond & c
                joined = left.join(
                    frames[alias], cond, "left" if is_outer else "inner"
                )
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
                if is_outer
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
                            if mop in _SCALED_OPS
                            else F.col(f"{nm}_new"),
                        ).drop(f"{nm}_new")
                elif channels[i][0] in joined.columns and mop in _SCALED_OPS:
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
                            aggs.append(_measure_reagg(mop, nm).alias(nm))
                if keep:
                    joined = joined.groupBy(*sorted(keep)).agg(*aggs)
                elif remaining:
                    joined = joined.agg(*aggs)
            _refresh_raw_live()

        for residual in spec.post_filters:
            joined = joined.filter(_rewrite_residual(residual, spec))
        final_aggs = []
        for i, (_, _, mop) in enumerate(measures):
            # SQL aggregate semantics: NULL over the empty join for
            # sum/min/max, 0 for count_distinct — like the plain plan and
            # the oracle (no coalesce; _measure_final encodes the split)
            out = "agg_val" if single else f"agg_val{i}"
            if mop == "count_distinct_bitmap":
                final_aggs.append(_bitmap_final(channels[i]).alias(out))
            else:
                final_aggs.append(
                    _measure_final(mop, channels[i][0]).alias(out)
                )
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
        measure: tuple[str, str] | None = None,
        measure_op: str = "sum",
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
        ``measure`` (alias, col) adds ``measure_op``(alias.col) — sum,
        min, or max — as ``agg_val`` through the same algebra (see
        :meth:`build_count_join`)."""
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
            return self.build_count_join(
                plan,
                group_by=group_by,
                measure=measure,
                measure_op=measure_op,
                measures=measures,
            )
        joined = self.build_join(plan)

        def raw_agg(mal: str, mcol_name: str, mop: str, out: str):
            mcol = F.col(f"{mal}__{mcol_name}")
            if mop in (
                "count_distinct",
                "count_distinct_bitmap",
                "count_distinct_auto",
            ):
                # the raw join computes exact COUNT(DISTINCT) directly —
                # carrier routing only exists inside the eager chain
                return F.count_distinct(mcol).cast("long").alias(out)
            if mop == "sum_distinct":
                return F.sum_distinct(mcol).cast("double").alias(out)
            if mop == "count_distinct_hll":
                return (
                    F.hll_sketch_estimate(F.hll_sketch_agg(mcol))
                    .cast("long")
                    .alias(out)
                )
            if mop == "count":
                return F.count(mcol).cast("long").alias(out)
            return _MEASURE_FNS[mop](mcol).alias(out)

        aggs = []
        if measure is not None:
            aggs.append(raw_agg(measure[0], measure[1], measure_op, "agg_val"))
        elif measures:
            aggs.extend(
                raw_agg(mal, mcol, mop, f"agg_val{i}")
                for i, (mal, mcol, mop) in enumerate(measures)
            )
        if group_by:
            return joined.groupBy(
                *[F.col(f"{al}__{col}").alias(col) for al, col in group_by]
            ).agg(*aggs, F.count(F.lit(1)).alias("cnt"))
        return joined.agg(*aggs, F.count(F.lit(1)).alias("cnt"))
