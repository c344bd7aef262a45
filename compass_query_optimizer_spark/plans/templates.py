"""Persisted sketch templates.

The reference pre-builds sketches for tables without selection predicates
and persists them to disk (`QueryEngine/Sketch/sketch_templates.txt` +
seeds file; load/save in Catalog.h:579 uploadSketches/saveSketches, format
in sketch-templates/README.md), so repeated queries skip the sketch pass.
Here the in-memory template cache (plans/pushdown.py `_TEMPLATE_CACHE`)
round-trips to one .npz file: counters as a stacked array, keys + seeds
JSON-encoded. Driver-side only — no Spark dependency.
"""

from __future__ import annotations

import json

import numpy as np

from compass_query_optimizer_spark.plans import pushdown as _pd
from compass_query_optimizer_spark.plans.fagms import (
    SKETCH_BUCKETS,
    SKETCH_ROWS,
    Sketch,
    SketchSeeds,
)


def save_templates(path: str) -> int:
    """Persist the current template cache; returns #entries saved."""
    entries = []
    counter_blocks = []
    with _pd._TEMPLATE_LOCK:
        items = list(_pd._TEMPLATE_CACHE.items())
    for key, (count, sketches) in items:
        dataset, table, filter_sql, colkeys = key
        cols = []
        for col, sk in sketches.items():
            cols.append(
                {
                    "col": col,
                    "idx": len(counter_blocks),
                    "seeds": {
                        f: sk.seeds.__dict__[f].tolist()
                        for f in ("s0", "sv", "a", "b")
                    },
                }
            )
            counter_blocks.append(sk.counters)
        entries.append(
            {
                "dataset": dataset,
                "table": table,
                "filter": filter_sql,
                "colkeys": list(map(list, colkeys)),
                "count": count,
                "cols": cols,
            }
        )
    counters = (
        np.stack(counter_blocks)
        if counter_blocks
        else np.zeros((0, SKETCH_ROWS, SKETCH_BUCKETS))
    )
    np.savez_compressed(path, meta=json.dumps(entries), counters=counters)
    return len(entries)


def load_templates(path: str) -> int:
    """Merge persisted templates into the cache; returns #entries loaded."""
    data = np.load(path if path.endswith(".npz") else path + ".npz")
    entries = json.loads(str(data["meta"]))
    counters = data["counters"]
    n = 0
    for e in entries:
        sketches = {}
        for c in e["cols"]:
            seeds = SketchSeeds(
                **{f: np.array(v, dtype=np.int64) for f, v in c["seeds"].items()}
            )
            sketches[c["col"]] = Sketch(counters[c["idx"]].copy(), seeds)
        key = (
            # pre-dataset-tag .npz files load under tag None — unmatchable
            # (the cache is bypassed for untagged plans), so stale entries
            # can never serve a differently-scaled catalog
            e.get("dataset"),
            e["table"],
            e["filter"],
            tuple((a, b) for a, b in e["colkeys"]),
        )
        with _pd._TEMPLATE_LOCK:
            _pd._TEMPLATE_CACHE[key] = (e["count"], sketches)
        n += 1
    return n
