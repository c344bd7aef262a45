"""The correctness driver samples a PREFIX of queries() dict order (50
entries since round 4), so the registry's ordering is part of the driver
contract: operators that still lack driver evidence must sit in the prefix,
and the ordering must stay a clean permutation of the registry.

Current rotation: the prefix leads with job_corpus and every compass_*
entry, whose sketch push-down now builds one-task tables in-process on the
driver (all of them at sf0.01), then the four entries the ROADMAP carries
for coverage, then every remaining entry whose latest driver evidence is
round 8, then round-9 evidence up to 50 slots. The round-9 remainder sits
directly after the prefix as the next queue.
"""

from __future__ import annotations

import glob
import json
import os

from compass_query_optimizer_spark.registry import _SAMPLE_PRIORITY, all_queries

# entries whose execution path changed this round — each needs a fresh
# driver row over the in-process sketch build
CHANGED_THIS_ROUND = {
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
}

# the oracle-sample coverage the ROADMAP carries
CARRIED = {
    "pipeline_pretrain",
    "dedup_ngram_jaccard",
    "events_triangle_count",
    "text_bpe_train",
}

# every other entry whose latest driver evidence is round 8
R8_QUEUE = {
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
}

# round-9-evidence entries deferred to the next rotation (the 50 slots ran
# out), all re-proven by the local differential (tests/test_oracle.py)
# every pytest run. They sit directly after the prefix so the next
# rotation reaches them first.
NEXT_ROUND_QUEUE = {
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
}


def _driver_sampled() -> set:
    """Every query name with a driver row in any recorded round."""
    root = os.path.join(os.path.dirname(__file__), "..")
    names: set = set()
    for path in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        names |= set(json.load(open(path)))
    return names


def _latest_evidence() -> dict:
    """name -> most recent round with a driver row."""
    root = os.path.join(os.path.dirname(__file__), "..")
    latest: dict = {}
    for path in sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
        rnd = int(os.path.basename(path)[len("CORRECTNESS_r"):-len(".json")])
        for name in json.load(open(path)):
            latest[name] = max(latest.get(name, 0), rnd)
    return latest


def test_priority_names_all_registered():
    names = set(all_queries())
    unknown = [n for n in _SAMPLE_PRIORITY if n not in names]
    assert not unknown, f"_SAMPLE_PRIORITY names not in registry: {unknown}"
    assert len(set(_SAMPLE_PRIORITY)) == len(_SAMPLE_PRIORITY), "duplicates"


def test_prefix_serves_the_evidence_gap():
    """The 50-entry prefix must (a) contain everything changed this round,
    (b) contain the carried entries, (c) contain every other entry on
    round-8 evidence, and (d) spend every other slot on the stalest driver
    evidence — nothing already green in the latest recorded round (r12)
    may consume a slot unless this round changed it."""
    prefix = list(all_queries())[:50]
    missing = (CHANGED_THIS_ROUND | CARRIED | R8_QUEUE) - set(prefix)
    assert not missing, f"must-sample entries outside the prefix: {missing}"

    # pinned to the round this rotation was designed against (re-pin when
    # re-rotating the priority list next round)
    root = os.path.join(os.path.dirname(__file__), "..")
    latest = set(json.load(open(os.path.join(root, "CORRECTNESS_r12.json"))))
    rotated = [n for n in prefix if n not in CHANGED_THIS_ROUND]
    stale = [n for n in rotated if n in latest]
    assert not stale, (
        f"prefix slots wasted on entries already green last round: {stale}"
    )


def test_prefix_retires_the_r7_tail():
    """The prefix must contain every registered entry on the oldest driver
    evidence: whichever round is the oldest latest-evidence round among
    registered entries (round 8 since the r7 tail was retired), all of its
    entries are sampled next."""
    latest = _latest_evidence()
    registered = set(all_queries())
    oldest = min(r for n, r in latest.items() if n in registered)
    stale = {n for n, r in latest.items() if r == oldest and n in registered}
    assert stale
    prefix = set(list(all_queries())[:50])
    left_out = stale - prefix
    assert not left_out, (
        f"round-{oldest}-evidence entries missing from the prefix: {left_out}"
    )


def test_every_registered_query_has_driver_evidence_or_prefix_slot():
    """No registered query may be unsampled across all recorded rounds AND
    outside the sampling prefix — that combination means it can never earn
    driver evidence."""
    names = list(all_queries())
    sampled = _driver_sampled()
    orphans = [n for n in names if n not in sampled and n not in names[:50]]
    assert not orphans, f"queries that can never be sampled: {orphans}"


def test_deferred_queue_sits_directly_after_the_prefix():
    """The next queue (15 deferred r9 entries) must occupy slots 51-65
    so the next rotation reaches it before anything with fresher
    evidence."""
    names = list(all_queries())
    assert set(names[50:65]) == NEXT_ROUND_QUEUE, (
        "next queue not immediately after the prefix: "
        f"{names[50:65]}"
    )


def test_changed_entries_lead_the_prefix():
    """The entries whose execution path changed this round carry the
    highest correctness risk — they must head the prefix so a truncated
    sample still covers them."""
    names = list(all_queries())
    assert names[0] == "job_corpus", names[0]
    assert set(names[:22]) == CHANGED_THIS_ROUND, names[:22]
    assert set(names[22:26]) == CARRIED, names[22:26]
    assert set(names[26:48]) == R8_QUEUE, names[26:48]


def test_order_is_a_permutation_of_the_registry():
    names = list(all_queries())
    assert len(names) == len(set(names))
    assert set(names) == set(all_queries())


def test_every_builder_has_the_query_signature():
    """A misplaced @query decorator can silently register a helper whose
    signature isn't (spark, sf_dir) — the round-8 flood sweep caught one.
    Pin it structurally: every registered builder must take exactly two
    positional parameters named like the contract."""
    import inspect

    for name, spec in all_queries().items():
        params = list(inspect.signature(spec.build).parameters)
        assert len(params) == 2, (name, params)
        assert params[0] == "spark" and params[1] in ("sf_dir",), (name, params)


def test_tail_order_does_not_depend_on_import_order():
    """Entries outside _SAMPLE_PRIORITY follow the registering modules'
    fixed order (registry._MODULES), so a caller that imported one module
    first gets the same queue as a bare all_queries(). Each order is read
    in a fresh interpreter, since imports are process-wide."""
    import subprocess
    import sys

    def order(first_import: str) -> list[str]:
        script = (
            f"{first_import}\n"
            "from compass_query_optimizer_spark.registry import all_queries\n"
            "print(' '.join(all_queries()))\n"
        )
        root = os.path.join(os.path.dirname(__file__), "..")
        return subprocess.run(
            [sys.executable, "-c", script],
            cwd=root, capture_output=True, text=True, check=True, timeout=300,
        ).stdout.split()

    bare = order("")
    assert order("import compass_query_optimizer_spark.operators.multimodal") == bare

    from compass_query_optimizer_spark.registry import _MODULES

    specs = all_queries()
    tail = [specs[n].build.__module__ for n in bare if n not in _SAMPLE_PRIORITY]
    ranks = [_MODULES.index(m) for m in tail]
    assert ranks == sorted(ranks)
