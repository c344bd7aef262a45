"""Cross-engine deterministic hashing primitives.

The dedup/similarity operators need hash functions that produce *identical*
values in Spark (JVM, whole-stage codegen) and in the DuckDB oracle, so the
driver's differential check can hash-compare results. We build everything on
md5 (bit-identical everywhere) + explicit integer arithmetic:

    portable_hash(s) = int(md5(s)[:12 hex], 16)        -- 48-bit, ≥ 0

and Carter–Wegman style universal hashing mod p = 2^31 - 1 on top (products
stay < 2^62, safe for checked int64 arithmetic in both engines).

This deliberately avoids engine-native hashes (xxhash64, DuckDB hash()) —
fast but not portable. At 100 TB the md5 cost is visible but stays inside
whole-stage codegen (no Python), and md5 is the only hash: every result
stays reproducible by the DuckDB differential.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Mersenne prime 2^31-1: (a*x+b) % P with a,x,b < P keeps products < 2^62.
P31 = 2_147_483_647


def spark_portable_hash(col: Column) -> Column:
    """48-bit non-negative integer hash of a string column (JVM-side):
    md5-derived, bit-identical to :func:`duck_portable_hash`."""
    return F.conv(F.substring(F.md5(col), 1, 12), 16, 10).cast("long")


def duck_portable_hash(expr: str) -> str:
    """DuckDB SQL fragment equal to :func:`spark_portable_hash`."""
    return f"CAST('0x' || substr(md5({expr}), 1, 12) AS BIGINT)"


def cw_params(n: int, salt: str = "") -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for n universal hash functions.

    Derived from md5 so the same constants can be embedded as literals in
    both the Spark plan and the oracle SQL text.
    """
    import hashlib

    out = []
    for i in range(n):
        a = int(hashlib.md5(f"cw-a-{salt}-{i}".encode()).hexdigest()[:12], 16) % (P31 - 1) + 1
        b = int(hashlib.md5(f"cw-b-{salt}-{i}".encode()).hexdigest()[:12], 16) % P31
        out.append((a, b))
    return out


def spark_cw_hash(g: Column, a: int, b: int) -> Column:
    """((a * (g % P) + b) % P) — 2-universal hash of a non-negative int."""
    return (F.lit(a) * (g % F.lit(P31)) + F.lit(b)) % F.lit(P31)


def duck_cw_hash(g_expr: str, a: int, b: int) -> str:
    return f"(({a} * ({g_expr} % {P31}) + {b}) % {P31})"


def plane_signs(n_planes: int, dim: int, salt: str = "rhp") -> list[list[int]]:
    """Deterministic ±1 random-hyperplane matrix for LSH over embeddings."""
    import hashlib

    planes = []
    for i in range(n_planes):
        row = []
        for j in range(dim):
            h = int(hashlib.md5(f"{salt}-{i}-{j}".encode()).hexdigest()[:2], 16)
            row.append(1 if h % 2 == 0 else -1)
        planes.append(row)
    return planes


def auto_bits(n_rows: int, target_bucket: int, lo: int, hi: int) -> int:
    """Plan-time LSH code width from corpus size: the smallest ``b`` whose
    2^b buckets hold an expected <= ``target_bucket`` rows each, clamped to
    [lo, hi].

    A fixed code width cannot serve both a 10^4-row test fixture and a
    10^9-row corpus — bucket population is N / 2^bits, so candidate volume
    (and with it join fan-out) grows linearly with N unless bits track
    log2(N). Both the Spark builder (via a plan-time count) and the DuckDB
    oracle (via :func:`duck_auto_bits`, a scalar subquery over the same
    table) evaluate this exact integer formula, so the differential gate
    holds at every corpus size.
    """
    q = max(1, -(-n_rows // target_bucket))  # ceil(n / target), >= 1
    return min(hi, max(lo, max(q - 1, 1).bit_length()))


def spark_auto_bits_col(
    n_col: Column, target_bucket: int, lo: int, hi: int
) -> Column:
    """Column form of :func:`auto_bits` — the same integer formula over a
    per-row count column (used for per-cell sub-split widths, where the
    width depends on each cell's population rather than one plan-time
    corpus count). bin()/length() mirrors DuckDB's bin()/length()."""
    q = F.greatest(
        F.call_function(
            "div",
            (n_col + F.lit(target_bucket - 1)).cast("long"),
            F.lit(target_bucket).cast("long"),
        ),
        F.lit(1).cast("long"),
    )
    return F.least(
        F.lit(hi),
        F.greatest(
            F.lit(lo),
            F.length(F.bin(F.greatest(q - F.lit(1), F.lit(1).cast("long")))),
        ),
    )


def duck_auto_bits(count_sql: str, target_bucket: int, lo: int, hi: int) -> str:
    """SQL twin of :func:`auto_bits`; ``count_sql`` is a COUNT(*) scalar
    subquery. bit_length(x) for x >= 1 == length(bin(x)) in DuckDB."""
    q = f"GREATEST(CAST(({count_sql} + {target_bucket} - 1) // {target_bucket} AS BIGINT), 1)"
    return (
        f"LEAST({hi}, GREATEST({lo}, length(bin(GREATEST({q} - 1, 1)))))"
    )
