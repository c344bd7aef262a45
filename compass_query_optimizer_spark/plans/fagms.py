"""Fast-AGMS sketches for online join-size estimation (COMPASS core).

Re-expression of the reference's sketch layer (mapd-core/QueryEngine/
Sketch/Sketches.h:15-26, XIS.h; SIGMOD 2021 COMPASS paper §3) on Spark:

- a sketch is ROWS × BUCKETS counters per join attribute; every surviving
  tuple adds ±1 to one counter per row (bucket chosen by a 2-universal
  Carter–Wegman hash, sign by a 3-wise-independent EH3 hash);
- the two-way join size estimate is the median over rows of the bucket-wise
  dot product of the two sketches (Sketches.h:155-176);
- k-way estimates multiply k column planes bucket-wise (Sketches.h:178-204,
  zero counters replaced by 1e-4, absolute values).

The *build* is one shuffle-free scan per table pass
(:func:`build_sketches_arrow`) doing the same per-tuple work as the
reference's kFAGMS_SKETCH aggregate (RuntimeFunctions.cpp:318-340): a
distributed ``mapInArrow`` pass when the table's base row count spans
several tasks, else one Arrow collect sketched on the driver by the same
kernel. That collect is the table's join keys; a caller that opens
:func:`collected_keys` around the build keeps them (the count chain seeds
small tables from them). Estimation and join-order search happen
driver-side in numpy.

EH3 (public scheme, Rusu & Dobra "Pseudo-Random Number Generation for
Sketch-Based Estimations", TODS 2007): for seed (s0, sv) and 32-bit key x,
  sign(x) = +1 iff  s0 ⊕ parity(sv & x) ⊕ parity((x>>1) & x & 0x55555555)
is even — 3-wise independent, one AND/POPCNT chain per evaluation.
"""

from __future__ import annotations

import hashlib
import threading
from contextlib import contextmanager
from dataclasses import dataclass

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Reference defaults: COMPASS_init_variables.txt:1-2 (73 rows × 1021 buckets)
SKETCH_ROWS = 73
SKETCH_BUCKETS = 1021

P31 = 2_147_483_647
_MASK32 = 0xFFFFFFFF
_PAIR_MASK = 0x55555555


def seeds_for_class(class_key: str, rows: int = SKETCH_ROWS) -> "SketchSeeds":
    """Deterministic per-equivalence-class seeds.

    The reference shares seeds across all join columns of the same
    transitive equality class so sketches of different tables are
    comparable (FilterPushDownSketch.cpp:1280-1373). We key the seeds on
    the class id: same class → same seeds, on every table, every session.
    """

    def h(tag: str, i: int, mod: int, lo: int = 0) -> int:
        v = int(hashlib.md5(f"fagms-{class_key}-{tag}-{i}".encode()).hexdigest()[:12], 16)
        return lo + v % (mod - lo)

    return SketchSeeds(
        s0=np.array([h("s0", i, 2) for i in range(rows)], dtype=np.int64),
        sv=np.array([h("sv", i, 1 << 32) for i in range(rows)], dtype=np.int64),
        a=np.array([h("a", i, P31, 1) for i in range(rows)], dtype=np.int64),
        b=np.array([h("b", i, P31) for i in range(rows)], dtype=np.int64),
    )


@dataclass
class SketchSeeds:
    s0: np.ndarray  # rows; EH3 constant bit
    sv: np.ndarray  # rows; EH3 32-bit linear mask
    a: np.ndarray  # rows; CW bucket multiplier (1..P-1)
    b: np.ndarray  # rows; CW bucket offset


@dataclass
class Sketch:
    """ROWS×BUCKETS counter matrix for one join attribute of one table."""

    counters: np.ndarray  # (rows, buckets) float64
    seeds: SketchSeeds

    @property
    def self_join_size(self) -> float:
        return float(np.median((self.counters**2).sum(axis=1)))


def numpy_update(sketch: Sketch, keys: np.ndarray) -> None:
    """Reference-semantics sketch update, vectorized: the kernel of every
    build, and the twin the builds are tested against.

    Kernel shape is dictated by measured numpy behavior on the target
    hardware: 64-bit integer multiply, stride-0 broadcast multiply, and
    large-quotient fmod are all pathological there, while flat contiguous
    float64 mul/add and int64 bitwise ops run at full speed. So: loop the 73
    estimator rows in Python; per row do flat float64 hash arithmetic with
    exact mod-by-reciprocal (products < 2^53 stay exact in float64) and an
    int64 XOR-fold parity; accumulate with one ``np.bincount`` per row."""
    s = sketch.seeds
    x_i = keys.astype(np.int64) & _MASK32
    # a*(x mod P) reaches 2^62 — beyond float64's exact 2^53 range — so
    # split x mod P into 16-bit halves: a*(hi<<16 + lo) ≡ ((a*hi mod P)<<16
    # + a*lo) mod P with every intermediate < 2^48, exact in float64.
    xm = _exact_mod(x_i.astype(np.float64), float(P31)).astype(np.int64)
    x_hi = (xm >> 16).astype(np.float64)
    x_lo = (xm & 0xFFFF).astype(np.float64)
    # pair-bit parity of (x>>1)&x&0x5555... is row-independent: hoist it
    pp = (x_i >> 1) & x_i & _PAIR_MASK
    for sh in (16, 8, 4, 2, 1):
        pp ^= pp >> sh
    pp &= 1
    a = s.a.astype(np.float64)
    b = s.b.astype(np.float64)
    for r in range(SKETCH_ROWS):
        t1 = _exact_mod(a[r] * x_hi, float(P31))
        m = _exact_mod(t1 * 65536.0 + a[r] * x_lo + b[r], float(P31))
        bucket = _exact_mod(m, float(SKETCH_BUCKETS)).astype(np.int64)
        lin = int(s.sv[r]) & x_i
        for sh in (16, 8, 4, 2, 1):
            lin ^= lin >> sh
        sign = 1.0 - 2.0 * ((int(s.s0[r]) + lin + pp) & 1)
        sketch.counters[r] += np.bincount(
            bucket, weights=sign, minlength=SKETCH_BUCKETS
        )


def _exact_mod(m: np.ndarray, p: float) -> np.ndarray:
    """m mod p for exact-integer-valued float64 m < 2^53: reciprocal-multiply
    + floor, with a one-ulp correction pass (plain ``%`` hits a slow fmod
    path for large quotients on the target CPU)."""
    r = m - np.floor(m * (1.0 / p)) * p
    r[r >= p] -= p
    r[r < 0] += p
    return r


def estimate_two_way(s1: Sketch, s2: Sketch) -> float:
    """Median over rows of bucket-wise dot product (Sketches.h:155-176)."""
    return max(0.0, float(np.median((s1.counters * s2.counters).sum(axis=1))))


def estimate_multi_way(sketches: list[Sketch]) -> float:
    """k-way product estimate (Sketches.h:178-204): bucket-wise product of
    |counters| with zeros floored to 1e-4, summed, median over rows."""
    if len(sketches) == 2:
        return estimate_two_way(sketches[0], sketches[1])
    prod = None
    for sk in sketches:
        c = np.abs(sk.counters)
        c = np.where(c == 0.0, 1e-4, c)
        prod = c if prod is None else prod * c
    return max(0.0, float(np.median(prod.sum(axis=1))))


# ---------------------------------------------------------------------------
# Build: one pass per table visit
# ---------------------------------------------------------------------------

# Keys per sketch task — enough to amortize a Python worker's fixed start-up
# cost, few enough tasks that collecting one 0.6 MB counter blob per (task,
# column) stays small. An input whose base row count fits one task skips the
# worker and is sketched on the driver, so the driver holds at most this
# many keys per join column.
KEYS_PER_TASK = 100_000


# the key-table slot a caller of collected_keys() opened on this thread
_KEY_SLOT = threading.local()
# boolean column of a build's input marking the rows its key table keeps
KEEP_COL = "__keep"


@contextmanager
def collected_keys():
    """Open a slot for the key table of the driver-path builds run on this
    thread inside the ``with`` block; yields a dict whose ``"keys"`` entry
    is that pyarrow table (int64 columns named as the join columns), left
    unset when no build ran on the driver. The slot is a side channel so
    :func:`build_sketches_arrow` keeps its ``(count, sketches)`` contract;
    outside a ``with`` block the driver path keeps nothing."""
    slot: dict = {}
    outer = getattr(_KEY_SLOT, "slot", None)
    _KEY_SLOT.slot = slot
    try:
        yield slot
    finally:
        _KEY_SLOT.slot = outer


def _sketch_partition(batches, seeds_list: list[SketchSeeds]) -> tuple[int, list[Sketch]]:
    """(rows, sketch per column) of one partition's Arrow batches (record
    batches or tables) whose leading columns are the int64 keys, one per
    seed in ``seeds_list`` order. The batches are
    concatenated first: one kernel pass per column over the whole
    partition, not 73 rows × per-batch ufunc overhead. Null keys count as
    rows but never touch a counter (they never join). The keys stay int64
    from Arrow to the kernel: through pandas, a column holding a null
    turns float64 and rounds keys above 2^53."""
    chunks: list[list[np.ndarray]] = [[] for _ in seeds_list]
    n = 0
    for batch in batches:
        n += batch.num_rows
        for j, chunk in enumerate(chunks):
            keys = batch.column(j).drop_null().to_numpy()
            if len(keys):
                chunk.append(keys)
    sketches = [Sketch(np.zeros((SKETCH_ROWS, SKETCH_BUCKETS)), s) for s in seeds_list]
    for sk, chunk in zip(sketches, chunks):
        if chunk:
            numpy_update(sk, np.concatenate(chunk))
    return n, sketches


def build_sketches_arrow(
    df: DataFrame,
    col_seeds: dict[str, SketchSeeds],
    nrows_hint: int | None = None,
) -> tuple[int, dict[str, Sketch]]:
    """One pass over ``df``: returns (row_count, sketch per join column) —
    the analog of the reference's kFAGMS_SKETCH pseudo-aggregate that
    counts survivors AND updates sketches in one kernel (RelAlgExecutor.cpp
    :1623 getFilteredCountAllAndUpdateSketch).

    When ``nrows_hint`` (the base row count, an upper bound of the rows
    ``df`` keeps) fits one task of :data:`KEYS_PER_TASK`, the pass is one
    Arrow collect of the key columns, sketched on the driver: a Python
    worker's fixed start-up cost is several times that collect, and it
    would dominate a task this small. Otherwise ``mapInArrow`` computes a
    per-partition partial counter matrix and the driver sums the partials.
    One scan, no shuffle at all — each task ships back exactly one
    ROWS×BUCKETS matrix per join column (≈0.6 MB) regardless of partition
    size. This is the Spark analog of the reference's per-GPU-block sketch
    copies merged host-side (cuda_mapd_rt.cu:766-804, Execute.cpp
    :1820-1835); it beat the JVM groupBy build it replaced ~10× at sf0.1.
    Both paths run :func:`_sketch_partition`, so null keys count as
    survivors but never touch a counter on either.

    Inside :func:`collected_keys`, the driver path also leaves its
    collected key table in the open slot. A boolean :data:`KEEP_COL`
    column of ``df`` (NULL counting as false) marks the rows that table
    keeps while the count and sketches still cover every row: a tiny
    table is sketched unfiltered as a template, and the same collect
    yields its filtered keys.
    """
    cols = list(col_seeds)
    if not cols:
        return df.count(), {}
    # each join column as int64 under its own name, plus the mask
    keys = [F.col(c).cast("long").alias(c) for c in cols]
    if KEEP_COL in df.columns:
        keys.append(F.col(KEEP_COL))
    proj = df.select(*keys)
    seeds_list = [col_seeds[c] for c in cols]
    if nrows_hint is not None and nrows_hint <= KEYS_PER_TASK:
        table = proj.toArrow()
        count, sketches = _sketch_partition([table], seeds_list)
        slot = getattr(_KEY_SLOT, "slot", None)
        if slot is not None:
            if KEEP_COL in table.column_names:
                keep = table.column(KEEP_COL).fill_null(False)
                table = table.filter(keep).drop_columns([KEEP_COL])
            slot["keys"] = table
        return count, dict(zip(cols, sketches))
    # Small-SF parquet often lands in one partition (kernel would run
    # single-threaded); cluster-scale inputs already have plenty, so we
    # only repartition when it pays.
    if nrows_hint is not None:
        target = max(1, min(
            df.sparkSession.sparkContext.defaultParallelism,
            -(-nrows_hint // KEYS_PER_TASK),
        ))
        cur = proj.rdd.getNumPartitions()
        if cur < target:
            proj = proj.repartition(target)
        elif cur > 4 * target:
            proj = proj.coalesce(target)

    def partial_sketches(batches):
        import pyarrow as pa

        n, partials = _sketch_partition(batches, seeds_list)
        # raw little-endian bytes: ~100× cheaper through Arrow than a
        # 74k-element list column
        yield pa.RecordBatch.from_pydict(
            {
                "c": pa.array(range(len(cols)), pa.int32()),
                "n": pa.array([n] * len(cols), pa.int64()),
                "counters": pa.array(
                    [p.counters.astype("<i8").tobytes() for p in partials],
                    pa.binary(),
                ),
            }
        )

    out = proj.mapInArrow(
        partial_sketches, schema="c int, n long, counters binary"
    ).collect()

    sketches = {
        c: Sketch(np.zeros((SKETCH_ROWS, SKETCH_BUCKETS)), col_seeds[c]) for c in cols
    }
    count = 0
    for row in out:
        sketches[cols[row["c"]]].counters += np.frombuffer(
            row["counters"], dtype="<i8"
        ).reshape(SKETCH_ROWS, SKETCH_BUCKETS)
        if row["c"] == 0:
            count += row["n"]
    return count, sketches
