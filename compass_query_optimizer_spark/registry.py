"""Query registry: every engine capability is declared as a QuerySpec.

A QuerySpec pairs a Spark DataFrame builder with (where expressible) an
ANSI-SQL oracle string that DuckDB runs over the same parquet tables. This
mirrors the reference's differential-oracle test strategy, which runs every
query against both MapD and an embedded SQLite and compares row-by-row
(mapd-core/Tests/ExecuteTest.cpp:130-343, SQLiteComparator).

Column-name discipline: the Spark builder and the oracle MUST produce the
same column names (the comparator sorts columns by name before hashing).
Derived doubles are rounded identically on both sides to absorb
floating-point accumulation-order differences between engines.
"""

from __future__ import annotations

import importlib
from dataclasses import dataclass, field
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession

# builder(spark, sf_dir) -> DataFrame; tables are registered as temp views
QueryBuilder = Callable[[SparkSession, str], DataFrame]


@dataclass
class QuerySpec:
    name: str
    build: QueryBuilder
    # DuckDB-runnable ANSI SQL; None → rows-only check. A zero-arg callable
    # defers oracle construction to gate time — oracles that materialize
    # fixtures or bake file paths must NOT run at import (enumerating the
    # registry should never touch the filesystem).
    oracle: Optional[str | Callable[[], str]]
    doc: str = ""
    tags: tuple = field(default_factory=tuple)

    def oracle_text(self) -> Optional[str]:
        """Resolve the oracle to SQL text (invoking a deferred builder)."""
        if callable(self.oracle):
            self.oracle = self.oracle()
        return self.oracle


_REGISTRY: dict[str, QuerySpec] = {}

# Driver-visibility ordering. The correctness driver samples a PREFIX of
# queries() (50 entries in round 4), so dict order decides which operators
# get hard driver evidence this round. Priority: (1) entries with no driver
# sample in any round yet, (2) entries whose implementation or oracle
# changed this round, (3) the engine's flagship claims and operator-family
# representatives (cheapest first; the 113-query job_corpus differential is
# the most expensive single entry, so it closes the block), then (4) the
# four-rounds-green TPC-H-ish workload tail. Names absent from the registry
# are skipped; registered names absent from this list follow in
# registration order — so adding a query without touching this list still
# works, it just lands in the unsampled tail until promoted.
_SAMPLE_PRIORITY = [
    # Order: (1) the COMPASS entries, whose sketch push-down now builds
    # one-task tables in-process on the driver (every table at sf0.01 and
    # every JOB table at fixture scale 1), job_corpus first; (2) the four
    # entries the ROADMAP carries for coverage; (3) every remaining entry whose
    # latest driver evidence is round 8; (4) round-9 evidence,
    # alphabetical, up to the 50-slot prefix, whose remainder follows the
    # prefix as the next queue.
    # -- (1) sketch build path changed --
    "job_corpus",
    "compass_avg_left_outer",
    "compass_avg_multijoin",
    "compass_count_distinct_auto",
    "compass_count_distinct_bitmap",
    "compass_count_distinct_hll",
    "compass_count_distinct_multijoin",
    "compass_count_left_outer",
    "compass_count_multijoin",
    "compass_cross_table_measures",
    "compass_grouped_count",
    "compass_grouped_count_distinct",
    "compass_grouped_count_left_outer",
    "compass_grouped_distinct_auto",
    "compass_grouped_minmax",
    "compass_grouped_sum",
    "compass_minmax_multijoin",
    "compass_multi_measure",
    "compass_residual_filter",
    "compass_self_join",
    "compass_sum_distinct",
    "compass_sum_multijoin",
    # -- (2) carried --
    "pipeline_pretrain",
    "dedup_ngram_jaccard",
    "events_triangle_count",
    "text_bpe_train",
    # -- (3) round-8 evidence, alphabetical --
    "mm_audio_energy",
    "mm_phash_dedup",
    "mm_scene_change",
    "pipeline_multimodal",
    "privacy_k_anonymity",
    "privacy_l_diversity",
    "privacy_t_closeness",
    "q38_qualify",
    "q39_range_frames",
    "q40_percentile_within_group",
    "q41_pivot",
    "q42_recursive_cte",
    "q43_grouping_sets",
    "q44_session_window",
    "sim_ann_recall",
    "sim_hybrid_rrf",
    "stream_late_data_drop",
    "stream_minhash_dedup",
    "stream_stream_left_join",
    "text_bm25_mlt",
    "text_gopher_rules",
    "text_tfidf_keywords",
    # -- (4) round-9 evidence, alphabetical --
    "dedup_exact",
    "docs_scd2",
    # ---- the 50-entry driver prefix ends here ----
    # -- next queue: round-9 evidence, alphabetical --
    "emb_kmeans_iter",
    "emb_quantize_int8",
    "emb_standardize",
    "events_ab_test",
    "events_cohort_matrix",
    "events_funnel_latency",
    "events_ohlc",
    "events_retention",
    "events_sessionize",
    "events_transitions",
    "events_variant_extract",
    "events_windowed_topk",
    "mm_bmp_decode",
    "mm_resize_roundtrip",
    "pipeline_curate",
]


def register(spec: QuerySpec) -> QuerySpec:
    if spec.name in _REGISTRY:
        raise ValueError(f"duplicate query name {spec.name}")
    _REGISTRY[spec.name] = spec
    return spec


def query(name: str, oracle: Optional[str], doc: str = "", tags: tuple = ()):
    """Decorator: register a (spark, sf_dir) -> DataFrame builder."""

    def wrap(fn: QueryBuilder) -> QueryBuilder:
        register(QuerySpec(name=name, build=fn, oracle=oracle, doc=doc, tags=tags))
        return fn

    return wrap


# The modules whose import registers entries. Entries outside
# _SAMPLE_PRIORITY follow in this module order, then in registration order
# within each module, so the queue does not depend on which module a caller
# happened to import first.
_MODULES = (
    "compass_query_optimizer_spark.workload",
    "compass_query_optimizer_spark.operators.dedup",
    "compass_query_optimizer_spark.operators.similarity",
    "compass_query_optimizer_spark.operators.text",
    "compass_query_optimizer_spark.operators.temporal",
    "compass_query_optimizer_spark.operators.privacy",
    "compass_query_optimizer_spark.operators.versioning",
    "compass_query_optimizer_spark.operators.curation",
    "compass_query_optimizer_spark.operators.embeddings",
    "compass_query_optimizer_spark.operators.multimodal",
    "compass_query_optimizer_spark.operators.skew",
    "compass_query_optimizer_spark.sources.bucketing",
    "compass_query_optimizer_spark.plans.queries",
    "compass_query_optimizer_spark.plans.job_corpus",
    "compass_query_optimizer_spark.functions.queries",
    "compass_query_optimizer_spark.streaming.queries",
)


def all_queries() -> dict[str, QuerySpec]:
    rank = {}
    for i, module in enumerate(_MODULES):
        importlib.import_module(module)  # registers its entries
        rank[module] = i
    ordered = {n: _REGISTRY[n] for n in _SAMPLE_PRIORITY if n in _REGISTRY}
    tail = [s for n, s in _REGISTRY.items() if n not in ordered]
    # list.sort is stable: registration order holds within a module
    tail.sort(key=lambda s: rank.get(s.build.__module__, len(_MODULES)))
    ordered.update((s.name, s) for s in tail)
    return ordered
