"""Sketch-template persistence round-trip (Catalog.h:579 uploadSketches/
saveSketches analog)."""

from __future__ import annotations

import numpy as np

from compass_query_optimizer_spark.plans import pushdown as pd
from compass_query_optimizer_spark.plans.fagms import (
    SKETCH_BUCKETS,
    SKETCH_ROWS,
    Sketch,
    numpy_update,
    seeds_for_class,
)
from compass_query_optimizer_spark.plans.templates import (
    load_templates,
    save_templates,
)


def test_template_roundtrip(tmp_path):
    pd.clear_template_cache()
    seeds = seeds_for_class("eq:tpl")
    sk = Sketch(np.zeros((SKETCH_ROWS, SKETCH_BUCKETS)), seeds)
    numpy_update(sk, np.arange(5000))
    key = ("some_catalog", "some_table", None, (("k", "eq:tpl"),))
    with pd._TEMPLATE_LOCK:
        pd._TEMPLATE_CACHE[key] = (5000, {"k": sk})

    path = str(tmp_path / "templates.npz")
    assert save_templates(path) == 1

    pd.clear_template_cache()
    assert load_templates(path) == 1
    with pd._TEMPLATE_LOCK:
        count, sketches = pd._TEMPLATE_CACHE[key]
    assert count == 5000
    assert np.array_equal(sketches["k"].counters, sk.counters)
    assert np.array_equal(sketches["k"].seeds.a, seeds.a)
    pd.clear_template_cache()
