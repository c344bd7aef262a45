"""Selection push-down with sketch feedback (COMPASS step 1).

For each base table of a join query, ascending by size (FilterPushDownSketch
.cpp:125-304 evaluateAndPushDown):

1. apply the table's own conjuncts;
2. run ONE pass that both counts survivors and builds a Fast-AGMS sketch
   per join column (the kFAGMS_SKETCH pseudo-aggregate, RelAlgExecutor.cpp
   :1623): a distributed ``mapInPandas`` pass for tables whose base row
   count spans several sketch tasks, one Arrow collect sketched on the
   driver for the rest (``fagms.build_sketches_arrow``);
3. if survivors ≤ min(max_selectivity·|T|, max_size) the filtered table is
   considered selective: it is cached (Spark's analog of the reference
   splicing the materialized filtered table into the DAG) and the final
   join chain reuses the cached scan. Otherwise only the sketch is kept
   and the filter stays a lazy predicate (the reference reverts the
   push-down, FilterPushDownSketch.cpp:273-284);
4. tables below min_table_rows skip filtering and reuse template sketches
   (sketch templates: Catalog.h:579 uploadSketches, sketch-templates/).

Thresholds mirror COMPASS_init_variables.txt:3-5 (200 rows / 5% / 10,000).
"""

from __future__ import annotations

import threading
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from compass_query_optimizer_spark.plans.fagms import (
    Sketch,
    build_sketches_arrow,
    seeds_for_class,
)
from compass_query_optimizer_spark.plans.graph import JoinGraph
from compass_query_optimizer_spark.plans.search import TableStats


@dataclass
class PushdownConfig:
    min_table_rows: int = 200  # PUSH_DOWN_MIN_TABLE_SIZE_SK
    max_selectivity: float = 0.05  # PUSH_DOWN_MAX_SELECTIVITY_SK
    max_size: int = 10_000  # PUSH_DOWN_MAX_SIZE
    broadcast_rows: int = 1_000_000  # selective sides below this get a hint
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
    antibroadcast_rows: int = 300_000
    # count_distinct_auto routing — the Spark twin of the reference's
    # plan-time approx↔precise switch (RelAlgExecutor.cpp:1350-1418) and
    # its CountDistinctDescriptor bitmap-vs-set choice. Integral measures
    # whose plan-time value range fits distinct_bitmap_max_range bits take
    # the exact packed-bitmap route (fixed 8·range/64 bytes per key);
    # otherwise NDV estimates up to distinct_exact_max_ndv take the exact
    # collect_set route (the final union row stays bounded); anything
    # bigger carries a constant-size HLL sketch instead — approximate,
    # but immune to the one-row set flatten that OOMs at 100 TB.
    distinct_bitmap_max_range: int = 4_096  # bits (64 words max per key)
    distinct_exact_max_ndv: int = 4_096  # plan-time NDV estimate cap
    # Eager-chain seed collapse skip: a fact table whose referenced-key
    # combinations are nearly distinct (cast_info's (movie, person, role)
    # is 99.6% unique at JOB scale 40) pays a full shuffle for a ~no-op
    # groupBy. When a cached plan-time NDV estimate of the key struct says
    # ndv ≥ ratio × rows, the seed skips the collapse and enters the chain
    # raw with multiplicity 1 — semantically identical (collapse is
    # idempotent; the first post-join re-aggregation shrinks anyway), one
    # big exchange cheaper. Tables at or below collapse_skip_min_rows
    # always collapse (the exchange is cheap and the NDV job isn't worth
    # scheduling).
    collapse_skip_ndv_ratio: float = 0.9
    collapse_skip_min_rows: int = 500_000


@dataclass
class PushdownResult:
    stats: dict[str, TableStats]
    frames: dict[str, DataFrame]  # alias -> (possibly cached) filtered frame
    materialized: set[str] = field(default_factory=set)  # aliases kept cached


# (dataset_tag, table, filter_sql, sorted class keys) -> (count, sketches);
# predicate-free
# tables of repeated queries reuse their sketches across plans, the analog of
# the reference's persisted sketch templates (round-trip to disk via
# plans/templates.py).
_TEMPLATE_CACHE: dict[tuple, tuple[int, dict[str, Sketch]]] = {}
_TEMPLATE_LOCK = threading.Lock()


def _template_lock() -> threading.Lock:
    return _TEMPLATE_LOCK


def clear_template_cache() -> None:
    with _TEMPLATE_LOCK:
        _TEMPLATE_CACHE.clear()


def run_pushdown(
    spark: SparkSession,
    graph: JoinGraph,
    base_tables: dict[str, DataFrame],
    base_counts: dict[str, int],
    config: PushdownConfig | None = None,
    dataset_tag: str | None = None,
) -> PushdownResult:
    """base_tables/base_counts are keyed by *alias* (self-joins get one
    entry per alias, sharing the underlying scan).

    ``dataset_tag`` identifies the catalog the tables came from (sf_dir,
    fixture version+scale, …) and keys the template cache; with no tag the
    cache is bypassed entirely — a table name alone is NOT a safe key when
    one process plans the same schema at several scales (scale-1 sketches
    silently reused for scale-2 would corrupt plan quality)."""
    config = config or PushdownConfig()
    spec = graph.spec
    stats: dict[str, TableStats] = {}
    frames: dict[str, DataFrame] = {}
    materialized: set[str] = set()

    def one_table(alias: str) -> tuple[str, int, dict[str, Sketch], DataFrame, bool]:
        base = base_tables[alias]
        filter_sql = spec.filters.get(alias)
        join_cols = graph.join_cols(alias)
        col_seeds = {c: seeds_for_class(graph.class_key(alias, c)) for c in join_cols}

        filtered = base.filter(filter_sql) if filter_sql else base
        tiny = base_counts[alias] < config.min_table_rows

        cache_key = (
            dataset_tag,
            spec.tables[alias],
            None if tiny else filter_sql,
            tuple(sorted((c, graph.class_key(alias, c)) for c in join_cols)),
        )
        if dataset_tag is None:
            cached = None
        else:
            with _TEMPLATE_LOCK:
                cached = _TEMPLATE_CACHE.get(cache_key)
        if cached is not None:
            count, sketches = cached
        else:
            # tiny tables skip the filter for sketching (template behavior)
            count, sketches = build_sketches_arrow(
                base if tiny else filtered,
                col_seeds,
                nrows_hint=base_counts[alias],
            )
            if dataset_tag is not None:
                with _TEMPLATE_LOCK:
                    _TEMPLATE_CACHE[cache_key] = (count, sketches)

        selective = (
            filter_sql is not None
            and not tiny
            and count <= min(config.max_selectivity * base_counts[alias], config.max_size)
        )
        return alias, count, sketches, filtered, selective

    # the per-table passes are independent Spark jobs; run them all
    # concurrently (the reference runs them ascending by size on one
    # device — on a cluster, concurrent small jobs overlap their
    # scheduling latency)
    aliases = sorted(spec.tables, key=lambda a: base_counts[a])
    with ThreadPoolExecutor(max_workers=len(aliases)) as pool:
        results = list(pool.map(one_table, aliases))

    for alias, count, sketches, filtered, selective in results:
        frames[alias] = filtered
        if selective:
            frames[alias] = filtered.cache()
            materialized.add(alias)
        stats[alias] = TableStats(rows=count, sketches=sketches)

    return PushdownResult(stats=stats, frames=frames, materialized=materialized)
