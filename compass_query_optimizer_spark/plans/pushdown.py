"""Selection push-down with sketch feedback (COMPASS step 1).

For each base table of a join query, ascending by size (FilterPushDownSketch
.cpp:125-304 evaluateAndPushDown):

1. apply the table's own conjuncts;
2. run ONE pass that both counts survivors and builds a Fast-AGMS sketch
   per join column (the kFAGMS_SKETCH pseudo-aggregate, RelAlgExecutor.cpp
   :1623): a distributed ``mapInArrow`` pass for tables whose base row
   count spans several sketch tasks, one Arrow collect sketched on the
   driver for the rest (``fagms.build_sketches_arrow``);
3. if survivors ≤ min(MAX_SELECTIVITY·|T|, MAX_SIZE) the filtered table is
   considered selective and the join chain broadcasts it: Spark's
   BroadcastExchange is the per-query splice of the reference's
   materialized filtered table into the DAG. Otherwise only the sketch is
   kept and the filter stays an ordinary predicate (the reference reverts
   the push-down, FilterPushDownSketch.cpp:273-284). Either way the frame
   is the lazy ``base.filter(...)``: push-down leaves no Spark session
   state (nothing cached, nothing to unpersist);
4. tables below MIN_TABLE_ROWS skip filtering and reuse template sketches
   (sketch templates: Catalog.h:579 uploadSketches, sketch-templates/);
5. a table of at most KEYS_PER_TASK base rows whose survivors number at
   most MAX_SIZE keeps its filtered join keys on the driver
   (``PushdownResult.keys``): the count chain seeds it from them instead
   of rescanning, refiltering and collapsing it — the reference's splice
   of a ≤ MAX_SIZE filtered table into the DAG (FilterPushDownSketch.cpp
   :871-891), without its extra 5%-selectivity test, since the keys are
   on the driver already. They are exactly the keys the driver-path build
   collected (a tiny table's build carries its predicate as one boolean
   column), so only a visit that built its sketch keeps them. A visit
   answered by the template cache keeps none: collecting them there
   would trade the collapse's shuffle job for a collect job, and measured
   slower (SCALE.md "Spliced count seeds"). Keys never enter the
   template cache. The driver holds at most aliases × MAX_SIZE key rows
   per plan.

Thresholds mirror COMPASS_init_variables.txt:3-5 (200 rows / 5% / 10,000).
"""

from __future__ import annotations

import functools
import threading
from concurrent.futures import Future, ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

from compass_query_optimizer_spark.plans.fagms import (
    KEEP_COL,
    Sketch,
    build_sketches_arrow,
    collected_keys,
    seeds_for_class,
)
from compass_query_optimizer_spark.plans.graph import JoinGraph
from compass_query_optimizer_spark.plans.search import TableStats


# named as in COMPASS_init_variables.txt; steps 3-4 above say what each gates
MIN_TABLE_ROWS = 200  # PUSH_DOWN_MIN_TABLE_SIZE_SK
MAX_SELECTIVITY = 0.05  # PUSH_DOWN_MAX_SELECTIVITY_SK
MAX_SIZE = 10_000  # PUSH_DOWN_MAX_SIZE


@dataclass
class PushdownResult:
    stats: dict[str, TableStats]
    frames: dict[str, DataFrame]  # alias -> lazily filtered frame
    # selective: broadcast into the chain
    materialized: set[str] = field(default_factory=set)
    # alias -> its filtered join keys (pyarrow table, int64 columns named
    # as the join columns), kept by a visit whose build collected them on
    # the driver (≤ KEYS_PER_TASK base rows) when ≤ MAX_SIZE rows survive
    keys: dict = field(default_factory=dict)


# (dataset_tag, table, filter_sql, sorted class keys) -> (count, sketches);
# predicate-free tables of repeated queries reuse their sketches across
# plans, the analog of the reference's persisted sketch templates
# (round-trip to disk via plans/templates.py).
_TEMPLATE_CACHE: dict[tuple, tuple[int, dict[str, Sketch]]] = {}
# guards every planner cache read through cached(), and _IN_FLIGHT: the
# push-down pool and concurrent corpus queries plan from several threads
_TEMPLATE_LOCK = threading.Lock()
# (id(cache), full key) -> future of the one miss computing that key
_IN_FLIGHT: dict[tuple, Future] = {}


def cached(cache: dict, dataset_tag: str | None, key: tuple, compute):
    """``cache[(dataset_tag, *key)]``, computed and stored on a miss.

    ``dataset_tag`` identifies the catalog the tables came from (sf_dir,
    fixture version+scale, …); with no tag the cache is bypassed entirely
    — a table name alone is NOT a safe key when one process plans the same
    schema at several scales (scale-1 sketches silently reused for scale-2
    would corrupt plan quality).

    Single-flight: the first miss of a key computes it (outside the lock);
    concurrent callers of that key wait for its result instead of running
    the same Spark job again. If ``compute`` raises, every waiter gets the
    exception and nothing is stored, so the next call computes again."""
    if dataset_tag is None:
        return compute()
    full = (dataset_tag, *key)
    slot = (id(cache), full)
    with _TEMPLATE_LOCK:
        if full in cache:
            return cache[full]
        fut = _IN_FLIGHT.get(slot)
        owner = fut is None
        if owner:
            fut = _IN_FLIGHT[slot] = Future()
    if not owner:
        return fut.result()
    try:
        value = compute()
    except BaseException as e:
        with _TEMPLATE_LOCK:
            del _IN_FLIGHT[slot]
        fut.set_exception(e)
        raise
    with _TEMPLATE_LOCK:
        cache[full] = value
        del _IN_FLIGHT[slot]
    fut.set_result(value)
    return value


def clear_template_cache() -> None:
    with _TEMPLATE_LOCK:
        _TEMPLATE_CACHE.clear()


def run_pushdown(
    graph: JoinGraph,
    base_tables: dict[str, DataFrame],
    base_counts: dict[str, int],
    dataset_tag: str | None = None,
) -> PushdownResult:
    """base_tables/base_counts are keyed by *alias* (self-joins get one
    entry per alias, sharing the underlying scan). ``dataset_tag`` keys the
    template cache (see :func:`cached`)."""
    spec = graph.spec
    stats: dict[str, TableStats] = {}
    frames: dict[str, DataFrame] = {}
    materialized: set[str] = set()
    keys: dict = {}

    def one_table(alias: str) -> tuple[str, int, dict[str, Sketch], DataFrame, bool, object]:
        base = base_tables[alias]
        filter_sql = spec.filters.get(alias)
        join_cols = graph.join_cols(alias)
        col_seeds = {c: seeds_for_class(graph.class_key(alias, c)) for c in join_cols}

        filtered = base.filter(filter_sql) if filter_sql else base
        tiny = base_counts[alias] < MIN_TABLE_ROWS

        def build():
            # tiny tables skip the filter for sketching (template behavior);
            # their predicate rides the same collect as the key table's mask
            if not tiny:
                source = filtered
            elif filter_sql:
                source = base.withColumn(KEEP_COL, F.expr(filter_sql))
            else:
                source = base
            return build_sketches_arrow(source, col_seeds, nrows_hint=base_counts[alias])

        with collected_keys() as slot:
            count, sketches = cached(
                _TEMPLATE_CACHE,
                dataset_tag,
                (
                    spec.tables[alias],
                    None if tiny else filter_sql,
                    tuple(sorted((c, graph.class_key(alias, c)) for c in join_cols)),
                ),
                build,
            )
        selective = (
            filter_sql is not None
            and not tiny
            and count <= min(MAX_SELECTIVITY * base_counts[alias], MAX_SIZE)
        )
        # empty unless the build ran on the driver (not a template hit);
        # a tiny table's count is its unfiltered size, < MIN_TABLE_ROWS
        key_table = slot.get("keys") if count <= MAX_SIZE else None
        return alias, count, sketches, filtered, selective, key_table

    # the per-table passes are independent Spark jobs; run them all
    # concurrently (the reference runs them ascending by size on one
    # device — on a cluster, concurrent small jobs overlap their
    # scheduling latency)
    aliases = sorted(spec.tables, key=lambda a: base_counts[a])
    # pool threads start without the caller's Spark local properties
    # (pinned-thread mode): each task carries a copy of its job group,
    # description and interrupt flag, so a job-group cancel and REST
    # attribution reach the sketch builds too. One wrap per task: a wrap
    # copies the properties once and installs that one object in every
    # thread that runs it, where concurrent SQL executions would then
    # overwrite each other's execution ids.
    session = next(iter(base_tables.values())).sparkSession

    def inherit(task):
        wrap = inheritable_thread_target(session)
        # without pinned threads (PYSPARK_PIN_THREAD=false) PySpark hands
        # back the session instead of a wrapper: no per-thread context
        return wrap(task) if callable(wrap) else task

    tasks = [inherit(functools.partial(one_table, a)) for a in aliases]
    with ThreadPoolExecutor(max_workers=len(aliases)) as pool:
        results = list(pool.map(lambda task: task(), tasks))

    for alias, count, sketches, filtered, selective, key_table in results:
        frames[alias] = filtered
        if selective:
            materialized.add(alias)
        if key_table is not None:
            keys[alias] = key_table
        stats[alias] = TableStats(rows=count, sketches=sketches)

    return PushdownResult(
        stats=stats, frames=frames, materialized=materialized, keys=keys
    )
