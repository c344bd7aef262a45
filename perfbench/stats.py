"""Pure helpers of the benchmark: percentiles, span self time, names and the
``BENCHMARK.json`` schema. Nothing here imports Spark, so the tests of
these rules run in a plain interpreter."""

from __future__ import annotations

import math
import re

NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.\-]{0,63}")
UNIT_RE = re.compile(r"[A-Za-z0-9_/%.\-]{1,16}")
PATH_RE = re.compile(r"[A-Za-z0-9_./\-]{1,200}")

# the fewest samples a percentile may rest on: at least this many must lie
# beyond it, or the figure is one slow outlier and not a distribution
MIN_BEYOND = 10


def percentile(values: list[float], q: float) -> float:
    """The ``q``-quantile (0 < q < 1) by linear interpolation between
    order statistics (numpy's default rule, written out so the rule is
    pinned by a test and not by a library version)."""
    if not values:
        raise ValueError("percentile of no samples")
    if not 0.0 < q < 1.0:
        raise ValueError(f"quantile {q} outside (0, 1)")
    xs = sorted(values)
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def supported_percentile(values: list[float], q: float) -> float:
    """``percentile`` that refuses a quantile with fewer than
    ``MIN_BEYOND`` samples beyond it."""
    beyond = len(values) * (1.0 - q)
    if beyond < MIN_BEYOND - 1e-9:
        raise ValueError(
            f"p{round(q * 100)} of {len(values)} samples has {beyond:.1f} "
            f"beyond it; at least {MIN_BEYOND} are needed"
        )
    return percentile(values, q)


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> self time: its duration minus the part of its interval
    that its child spans cover. Children may overlap each other (parallel
    children on pool threads) and may stick out of the parent; only the
    union of their overlap with the parent is subtracted."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.get("parent") is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        lo, hi = s["start"], s["end"]
        covered, cur_lo, cur_hi = 0.0, None, None
        for a, b in sorted(children.get(s["id"], [])):
            a, b = max(a, lo), min(b, hi)
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (hi - lo) - covered
    return out


def geomean(values: list[float]) -> float:
    if not values:
        return 0.0
    return math.exp(sum(math.log(v) for v in values) / len(values))


def check_benchmark_json(doc: dict) -> list[str]:
    """Problems with a ``BENCHMARK.json`` document, empty when it keeps
    the schema the benchmark is published under."""
    errs: list[str] = []
    keys = {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    if set(doc) != keys:
        return [f"keys {sorted(doc)} != {sorted(keys)}"]
    cmd = doc["command"]
    if not (isinstance(cmd, list) and 1 <= len(cmd) <= 32
            and all(isinstance(c, str) and len(c) <= 200 for c in cmd)):
        errs.append("command must be 1-32 strings of at most 200 characters")
    elif any(c.startswith("/") or ".." in c.split("/") for c in cmd):
        errs.append("command names a path outside the checkout")
    paths = doc["paths"]
    if not (isinstance(paths, list) and 1 <= len(paths) <= 16):
        errs.append("paths must list 1-16 directories")
    else:
        for p in paths:
            if not (isinstance(p, str) and PATH_RE.fullmatch(p)) or p.startswith("/") \
                    or ".." in p.split("/"):
                errs.append(f"bad path {p!r}")
    rs = doc["run_seconds"]
    if not (isinstance(rs, int) and not isinstance(rs, bool) and 1 <= rs <= 60):
        errs.append("run_seconds must be a whole number from 1 to 60")
    names: list[str] = []
    wl = doc["workloads"]
    if not (isinstance(wl, list) and 2 <= len(wl) <= 8):
        errs.append("workloads must list 2-8 entries")
    else:
        for w in wl:
            if not (isinstance(w, dict) and set(w) == {"name", "why"}):
                errs.append(f"workload {w!r} must have exactly name and why")
                continue
            names.append(w["name"])
            if not (isinstance(w["why"], str) and 0 < len(w["why"]) <= 200
                    and "\n" not in w["why"]):
                errs.append(f"workload {w['name']!r}: why must be one line of <=200 chars")
    for group, keys, lo, hi in (
        ("end_to_end", {"name", "unit", "better", "bound"}, 1, 16),
        ("per_layer", {"name", "unit", "better"}, 1, 128),
    ):
        ms = doc[group]
        if not (isinstance(ms, list) and lo <= len(ms) <= hi):
            errs.append(f"{group} must list {lo}-{hi} metrics")
            continue
        for m in ms:
            if not (isinstance(m, dict) and set(m) == keys):
                errs.append(f"{group} metric {m!r} must have exactly {sorted(keys)}")
                continue
            names.append(m["name"])
            if not (isinstance(m["unit"], str) and UNIT_RE.fullmatch(m["unit"])):
                errs.append(f"{m['name']}: bad unit {m['unit']!r}")
            if m["better"] not in ("lower", "higher"):
                errs.append(f"{m['name']}: better must be lower or higher")
            if "bound" in m and not (
                isinstance(m["bound"], (int, float)) and 0 < m["bound"] <= 0.25
            ):
                errs.append(f"{m['name']}: bound must be in (0, 0.25]")
    for n in names:
        if not (isinstance(n, str) and NAME_RE.fullmatch(n)):
            errs.append(f"bad name {n!r}")
    dup = sorted({n for n in names if names.count(n) > 1})
    if dup:
        errs.append(f"names used more than once: {dup}")
    e2e = {m.get("name"): m for m in doc["end_to_end"] if isinstance(m, dict)}
    setup = e2e.get("setup_s")
    if not setup or setup.get("unit") != "s" or setup.get("better") != "lower":
        errs.append("end_to_end must carry setup_s in s, lower is better")
    return errs
