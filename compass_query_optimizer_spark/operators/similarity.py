"""Similarity search over an embedding column (array<float>).

Two paths:
- brute-force cosine top-k (the correctness baseline): query-set × corpus
  join, exact quantized-int arithmetic, row_number top-k per query;
- random-hyperplane LSH-bucketed ANN (the 100 TB scale path): a 10-bit
  sign code per vector, candidates restricted to the query's bucket — the
  join is an equi-join on the code, never quadratic. Recall is partial by
  design and identically reproduced by the oracle (the plane matrix is a
  deterministic ±1 matrix embedded in both programs).

Both rank with deterministic tie-breaks and quantize vectors (×10⁴ ints)
so cosine values are bit-identical in Spark and DuckDB.
"""

from __future__ import annotations

import os
from typing import Any, NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from compass_query_optimizer_spark.catalog import load_tables, spread
from compass_query_optimizer_spark.functions.hashing import (
    auto_bits,
    duck_auto_bits,
    plane_signs,
)
from compass_query_optimizer_spark.operators.dedup import QUANT, quantized
from compass_query_optimizer_spark.registry import query

N_QUERIES = 5  # vec_id < 5 are the query vectors
TOP_K = 10
# Code width for sim_ann_lsh: AUTO-SIZED from corpus count at plan time
# (round-4 verdict: a fixed 10-bit default cannot track corpus size).
#
# Bucket population ~ N/2^bits at uniform spread; candidates per query scale
# with it, so bits tracks log2(N): smallest width whose expected bucket
# holds <= ANN_TARGET_BUCKET vectors, clamped to [6, 20] — 6 bits at 10^3
# rows, ~9 at 10^4, ~15 at 10^6, 20 (the plane-table cap) at 10^9+. Each
# bit adds one ±1 plane dot (codegen arithmetic, no shuffle) — cost is
# linear in bits, candidate volume shrinks geometrically. The oracle
# derives the SAME width via duck_auto_bits over COUNT(*), so parity holds
# at every scale; the plane matrix is prefix-stable (plane i is salted by
# i alone), so "first `bits` planes" means the same planes on both sides.
ANN_LSH_MIN_BITS = 6
ANN_LSH_MAX_BITS = 20
ANN_TARGET_BUCKET = 32  # expected vectors per bucket the width aims for
EMBED_DIM = 64
_PLANES = plane_signs(ANN_LSH_MAX_BITS, EMBED_DIM)


def ann_lsh_bits(n_rows: int) -> int:
    """Plan-time LSH width for a corpus of ``n_rows`` vectors: the shared
    auto_bits formula the oracle mirrors."""
    return auto_bits(n_rows, ANN_TARGET_BUCKET, ANN_LSH_MIN_BITS, ANN_LSH_MAX_BITS)


def _quantized_with_norm(emb: DataFrame) -> DataFrame:
    q = spread(emb).select("vec_id", quantized(F.col("embedding")).alias("qv"))
    return q.select(
        "vec_id",
        "qv",
        F.aggregate(F.col("qv"), F.lit(0).cast("long"), lambda a, x: a + x * x).alias(
            "nrm2"
        ),
    )


def _cos(qa, qb, na, nb):
    dot = F.aggregate(
        F.zip_with(qa, qb, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return dot / (F.sqrt(na.cast("double")) * F.sqrt(nb.cast("double")))


# ---------------------------------------------------------------------------
# the exact scoring layer every Arrow vector kernel scores through
# ---------------------------------------------------------------------------
# float64 represents every integer below 2^53; scores are held under
# 2^52 so each product, partial sum and the final ‖c‖² − 2x·c are exact
_F64_EXACT = 2.0**52
# score cells (chunk rows × scored columns) per chunk: 2^22 floats ≈ 32 MB
_SCORE_CELLS = 1 << 22


def _chunk_rows(cols: int) -> int:
    """Rows per chunk so a chunk×``cols`` score matrix stays within
    :data:`_SCORE_CELLS` (at least one row)."""
    return max(1, _SCORE_CELLS // max(cols, 1))


def _int_matrix(col):
    """int64[rows, dim] of a non-empty pandas column of integer arrays."""
    import numpy as np

    return np.vstack(col.to_numpy()).astype(np.int64)


class _IntRhs(NamedTuple):
    """The right operand of :func:`_int_dots`, prepared once per task or
    bucket so no chunk loop copies a matrix."""

    mat: Any  # int64[n, dim]
    mat_f_t: Any  # float64 transpose of mat
    amax: float  # max |mat|


def _int_rhs(mat) -> _IntRhs:
    import numpy as np

    mat = np.asarray(mat, dtype=np.int64)
    return _IntRhs(mat, mat.astype(np.float64).T, float(np.abs(mat).max(initial=0)))


def _int_dots(x, rhs: _IntRhs):
    """float64 dots x·rhsᵀ of an int64 chunk ``x``, with the arithmetic of
    the JVM `_cos`: a long dot, then a double.

    While dim·max|x|·max|rhs| < 2^52 every product and partial sum is an
    integer float64 holds exactly, so one BLAS matmul returns the exact
    dots in any summation order. Above that bound the dots come from an
    int64 matmul cast to float64. It cannot wrap on any vector the
    pipeline accepts: every partial sum is the dot of two sub-vectors,
    |a·b| ≤ ‖a‖·‖b‖ ≤ max(‖a‖², ‖b‖²), and each ‖·‖² is a JVM long sum
    (`nrm2`) that raises under ANSI before it overflows."""
    import numpy as np

    xmax = float(np.abs(x).max(initial=0))
    if x.shape[1] * xmax * rhs.amax < _F64_EXACT:
        return x.astype(np.float64) @ rhs.mat_f_t
    return (x @ rhs.mat.T).astype(np.float64)


def _cosines(dots, n2_rows, n2_cols):
    """dots / (√na·√nb) for the squared norms of the rows and the columns
    — the JVM `_cos` divide in the same IEEE sequence, so values are
    bit-identical. A zero norm raises ValueError: its 0/0 NaN ranks
    greatest in Spark SQL and DuckDB, while numpy comparisons drop it."""
    import numpy as np

    na = np.asarray(n2_rows, dtype=np.float64)
    nb = np.asarray(n2_cols, dtype=np.float64)
    if not (na.all() and nb.all()):
        raise ValueError(
            "zero-norm quantized vector: out of contract (its 0/0 cosine "
            "is NaN, which Spark SQL and DuckDB rank greatest)"
        )
    return dots / (np.sqrt(na)[:, None] * np.sqrt(nb)[None, :])


def _cosine_chunks(x, n2_x, m, n2_m):
    """(lo, cos) per row chunk of int64 ``x``: the exact cosines of rows
    lo.. against every row of int64 ``m`` (squared norms ``n2_x`` and
    ``n2_m``), each chunk×len(m) matrix within :data:`_SCORE_CELLS`, so a
    hot bucket or cell never builds its whole score matrix at once."""
    rhs = _int_rhs(m)
    step = _chunk_rows(len(m))
    for lo in range(0, len(x), step):
        dots = _int_dots(x[lo : lo + step], rhs)
        yield lo, _cosines(dots, n2_x[lo : lo + step], n2_m)


def _score_frame(cols: tuple[str, str, str], parts: list):
    """The (long, long, double) pandas frame of a cosine kernel's
    per-chunk (id, id, cos) parts; no parts give an empty frame."""
    import numpy as np
    import pandas as pd

    empty = (np.empty(0, np.int64), np.empty(0, np.int64), np.empty(0))
    cols_parts = zip(*(parts or [empty]))
    return pd.DataFrame({c: np.concatenate(v) for c, v in zip(cols, cols_parts)})


@query(
    "sim_topk_bruteforce",
    f"""
    WITH q AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * {QUANT}) AS BIGINT)) AS qv
      FROM embeddings
    ),
    n AS (
      SELECT vec_id, qv, list_sum(list_transform(qv, x -> x * x)) AS nrm2 FROM q
    ),
    scored AS (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             list_sum(list_transform(range(1, len(a.qv) + 1), i -> a.qv[i] * b.qv[i]))
               / (sqrt(CAST(a.nrm2 AS DOUBLE)) * sqrt(CAST(b.nrm2 AS DOUBLE))) AS cos_raw
      FROM n a JOIN n b ON b.vec_id <> a.vec_id
      WHERE a.vec_id < {N_QUERIES}
    ),
    ranked AS (
      SELECT query_id, neighbor_id, cos_raw,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cos_raw DESC, neighbor_id) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank,
           ROUND(cos_raw, 6) AS cos
    FROM ranked WHERE rank <= {TOP_K}
    ORDER BY query_id, rank
    """,
    doc="brute-force cosine top-k ANN baseline: exact quantized arithmetic, "
    "per-query row_number ranking (at scale: broadcast the query set, "
    "scan the corpus once)",
    tags=("similarity",),
)
def sim_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    n = _quantized_with_norm(t["embeddings"])
    queries = n.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("qv").alias("qa"),
        F.col("nrm2").alias("na"),
    )
    corpus = n.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("qv").alias("qb"),
        F.col("nrm2").alias("nb"),
    )
    scored = (
        F.broadcast(queries)
        .join(corpus, F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cos_raw", _cos(F.col("qa"), F.col("qb"), F.col("na"), F.col("nb")))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_raw").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "rank", F.round("cos_raw", 6).alias("cos"))
        .orderBy("query_id", "rank")
    )


def _plane_dot_codes(n: DataFrame, plane_tables: list) -> DataFrame:
    """(vec_id, t, c): hyperplane sign codes for each hash table.

    plane dot = Σ ±qv[j]; bit i of table t's code = 1 iff its dot ≥ 0.
    ONE mapInPandas over (vec_id, qv) (round 11, guide §4.2) scores each
    chunk against every table's ±1 plane matrix with one matmul —
    :func:`_int_dots` returns the exact integer dots (|dot| ≤
    dim·max|qv|), so the ≥ 0 sign test matches the oracle's exactly."""
    import numpy as np

    rhs = [_int_rhs(planes) for planes in plane_tables]
    weights = [1 << np.arange(r.mat.shape[0], dtype=np.int64) for r in rhs]

    def codes_fn(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf["vec_id"].to_numpy()
            x = _int_matrix(pdf["qv"])
            out_id, out_t, out_c = [], [], []
            for l, r in enumerate(rhs):
                c = ((_int_dots(x, r) >= 0) * weights[l][None, :]).sum(axis=1)
                out_id.append(ids)
                out_t.append(np.full(len(ids), l, dtype=np.int32))
                out_c.append(c)
            yield pd.DataFrame(
                {
                    "vec_id": np.concatenate(out_id),
                    "t": np.concatenate(out_t),
                    "c": np.concatenate(out_c),
                }
            )

    return n.select("vec_id", "qv").mapInPandas(
        codes_fn, schema="vec_id long, t int, c long"
    )


def _duck_lsh_code(qv_expr: str, planes=_PLANES) -> str:
    terms = []
    for i, plane in enumerate(planes):
        arr = "[" + ", ".join(str(s) for s in plane) + "]"
        dot = (
            f"list_sum(list_transform(range(1, {EMBED_DIM} + 1), "
            f"j -> {qv_expr}[j] * ({arr}::BIGINT[])[j]))"
        )
        terms.append(f"(CASE WHEN {dot} >= 0 THEN CAST({1 << i} AS BIGINT) ELSE 0 END)")
    return "(" + " + ".join(terms) + ")"


@query(
    "sim_ann_lsh",
    None,  # generated below
    doc="LSH-bucketed ANN (scale path): random-hyperplane code whose width "
    "is auto-sized from the corpus count at plan time (log2-tracking, "
    "clamped [6, 20]), candidates = "
    "same-bucket vectors only, then exact cosine rank. Equi-join on the "
    "code → shuffle is O(corpus), never quadratic",
    tags=("similarity", "lsh"),
)
def sim_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    base = _quantized_with_norm(t["embeddings"])
    # plan-time width from a plain .count() (cheap metadata-ish scan, the
    # sim_ann_ivf stride pattern); using the first `bits` planes equals
    # masking the full-width code to its low bits, which is exactly what
    # the oracle does SQL-side from COUNT(*)
    bits = ann_lsh_bits(t["embeddings"].count())
    n = base.join(
        _plane_dot_codes(base, [_PLANES[:bits]]).select(
            "vec_id", F.col("c").alias("code")
        ),
        "vec_id",
    )
    queries = n.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("qv").alias("qa"),
        F.col("nrm2").alias("na"),
        "code",
    )
    corpus = n.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("qv").alias("qb"),
        F.col("nrm2").alias("nb"),
        "code",
    )
    scored = (
        queries.join(corpus, "code")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cos_raw", _cos(F.col("qa"), F.col("qb"), F.col("na"), F.col("nb")))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_raw").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "rank", F.round("cos_raw", 6).alias("cos"))
        .orderBy("query_id", "rank")
    )


# coarse-quantizer cells / cells probed per query. Plain constants: the
# Spark builders and the generated DuckDB oracles read the same values.
# The entries whose right K grows with the corpus (the incremental index
# and IVFADC) auto-size it to ⌈√N⌉ instead — see ivf_incremental_k.
IVF_K = 16
IVF_NPROBE = 2
IVF_INCR_MAX_K = 4096  # coarse-codebook cap (incremental + ivfpq auto-K)

# driver-side centroid collect bound: K·dim·8B ≤ ~32 MB at this cap, and
# every caller's K is already clamped to IVF_INCR_MAX_K=4096 by auto-K.
# A collect fetches at most cap + 1 rows, so the cap bounds the driver
# even when a table is far over it.
_CENT_COLLECT_CAP = 65536
# bound on the codebook arrays an Arrow kernel's closure carries to every
# task (coarse and/or sub-codebooks, int64 and float64 copies): the
# clamped coarse K=4096 at dim 64 holds 4 MB of it
_CLOSURE_BYTES_CAP = 64 << 20


class _Codebook(NamedTuple):
    """An id-sorted int64 codebook prepared on the driver for
    :func:`_sq_l2_scores`. Ids ascend, so numpy's lowest-index argmin
    tie-break picks the smallest id — the oracles' ORDER BY d2, id."""

    ids: Any  # int64[K], ascending
    mat: Any  # int64[K, dim]
    mat_f: Any  # float64 copy of mat
    norm2: Any  # float64 ‖c‖² per row
    norm2_max: float
    span: float  # 2·dim·max|c|: max|x|·span bounds 2|x·c|


def _codebook(ids, mat) -> _Codebook:
    import numpy as np

    mat = np.asarray(mat, dtype=np.int64)
    mat_f = mat.astype(np.float64)
    norm2 = (mat_f * mat_f).sum(axis=1) if mat.ndim == 2 else np.zeros(0)
    dim = mat.shape[1] if mat.ndim == 2 else 0
    return _Codebook(
        np.asarray(ids, dtype=np.int64),
        mat,
        mat_f,
        norm2,
        float(norm2.max(initial=0.0)),
        2.0 * dim * float(np.abs(mat_f).max(initial=0.0)),
    )


def _sq_l2_scores(x, book: _Codebook):
    """chunk×K scores ‖c‖² − 2·x·c of an int64 chunk ``x`` against
    ``book``, in float64. argmin over a row equals argmin of the exact
    squared L2 (‖x‖² is constant per row). Exact while
    max|x|·2·dim·max|c| + max‖c‖² < 2^52; above that bound this raises
    ValueError rather than return inexact scores (an int64 matmul is no
    exact fallback: ‖c‖² − 2x·c wraps silently there)."""
    import numpy as np

    xmax = float(np.abs(x).max(initial=0.0))
    bound = xmax * book.span + book.norm2_max
    if bound >= _F64_EXACT:
        raise ValueError(
            f"squared-L2 scores reach {bound:.4g}, above the float64 exact "
            f"bound 2^52 = {_F64_EXACT:.4g} (max |x| = {xmax:.0f}): "
            "quantized vectors out of contract"
        )
    return book.norm2[None, :] - 2.0 * (x.astype(np.float64) @ book.mat_f.T)


def _collect_capped(df: DataFrame, what: str) -> list:
    """``df.collect()`` of at most :data:`_CENT_COLLECT_CAP` rows. It
    fetches at most cap + 1 rows and raises ValueError naming ``what``
    when the table is over the cap."""
    rows = df.limit(_CENT_COLLECT_CAP + 1).collect()
    if len(rows) > _CENT_COLLECT_CAP:
        raise ValueError(
            f"more than {_CENT_COLLECT_CAP} {what}: over the driver "
            "collect cap"
        )
    return rows


def _collect_centroids(cents: DataFrame) -> _Codebook:
    """The cid-sorted centroid codebook of a (cid, cv) table — the
    plan-time artifact the assignment kernels score against."""
    rows = _collect_capped(cents.select("cid", "cv"), "centroids")
    rows.sort(key=lambda r: r["cid"])
    return _codebook([r["cid"] for r in rows], [list(r["cv"]) for r in rows])


def _check_closure_bytes(books: list[_Codebook]) -> None:
    """Raise when the codebook arrays a task closure would carry exceed
    :data:`_CLOSURE_BYTES_CAP`."""
    nbytes = sum(
        a.nbytes for b in books for a in (b.ids, b.mat, b.mat_f, b.norm2)
    )
    if nbytes > _CLOSURE_BYTES_CAP:
        raise ValueError(
            f"codebooks hold {nbytes} bytes, over the closure bound "
            f"{_CLOSURE_BYTES_CAP}"
        )


def nearest_cells(
    df: DataFrame,
    cents: DataFrame,
    nprobe: int = 1,
    id_col: str = "vec_id",
) -> DataFrame:
    """(id_col, crk, cid): each vector's ``nprobe`` nearest centroids by
    exact quantized squared-L2, crk 1..nprobe, ties broken on smallest
    cid — the one assignment primitive behind the IVF family (standing
    fold, ivfpq coarse cells, arrival probes).

    One mapInPandas over (id, qv) only (§4.1 — pass just the columns the
    function needs) hands whole record batches to one BLAS matmul per
    chunk (round 11, guide §4.2): argmin_c d2(x,c) = argmin_c(‖c‖² −
    2x·c) — ‖x‖² is constant per row — computed in float64, which is
    EXACT here: |qv| ≤ ~6·QUANT per coordinate, so every product
    ≤ ~4e9 and every 64-term sum ≤ ~3e11 ≪ 2^53. :func:`_sq_l2_scores`
    checks the bound per chunk and raises if data ever violates it.
    numpy's stable argsort/argmin pick the LOWEST index on ties — the
    centroid matrix is ordered by cid, so tie-breaking matches the
    oracle's ORDER BY d2, cid exactly."""
    import numpy as np

    book = _collect_centroids(cents)
    _check_closure_bytes([book])
    take = min(nprobe, len(book.ids))
    chunk = _chunk_rows(len(book.ids))

    def assign(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf[id_col].to_numpy()
            x_all = _int_matrix(pdf["qv"])
            out_ids, out_crk, out_cid = [], [], []
            for lo in range(0, len(pdf), chunk):
                x = x_all[lo : lo + chunk]
                scores = _sq_l2_scores(x, book)
                if take == 1:
                    best = scores.argmin(axis=1)
                    out_ids.append(ids[lo : lo + chunk])
                    out_crk.append(np.ones(len(x), dtype=np.int32))
                    out_cid.append(book.ids[best])
                else:
                    order = np.argsort(scores, axis=1, kind="stable")[
                        :, :take
                    ]
                    out_ids.append(
                        np.repeat(ids[lo : lo + chunk], take)
                    )
                    out_crk.append(
                        np.tile(
                            np.arange(1, take + 1, dtype=np.int32), len(x)
                        )
                    )
                    out_cid.append(book.ids[order].ravel())
            yield pd.DataFrame(
                {
                    id_col: np.concatenate(out_ids),
                    "crk": np.concatenate(out_crk),
                    "cid": np.concatenate(out_cid),
                }
            )

    return df.select(id_col, "qv").mapInPandas(
        assign, schema=f"{id_col} long, crk int, cid long"
    )


def _collect_subcodebooks(
    cents: DataFrame, id_col: str, vec_col: str
) -> list[_Codebook]:
    """Per-subspace id-sorted codebooks of an (s, id, vec) sub-codebook
    table, indexed by s — the plan-time artifact the Arrow PQ encoders
    score against (M·K rows total, KBs)."""
    rows = _collect_capped(cents.select("s", id_col, vec_col), "sub-centroids")
    by_s: dict[int, list] = {}
    for r in rows:
        by_s.setdefault(int(r["s"]), []).append((r[id_col], list(r[vec_col])))
    if sorted(by_s) != list(range(len(by_s))):
        raise ValueError(f"non-contiguous subspace ids: {sorted(by_s)}")
    books = []
    for s in range(len(by_s)):
        lst = sorted(by_s[s])  # id-sorted: lowest-index tie-break = smallest id
        books.append(_codebook([c for c, _ in lst], [v for _, v in lst]))
    return books


def _pq_codes(x, books: list[_Codebook], subdim: int):
    """int64[rows, n_sub]: per subspace s, the id of the sub-centroid of
    ``books[s]`` nearest to each row's slice s of int64 ``x`` (width
    n_sub·subdim), ties broken on the smallest id."""
    import numpy as np

    n_sub = len(books)
    if x.shape[1] != n_sub * subdim:
        raise ValueError(
            f"PQ encode: vector width {x.shape[1]} != n_sub*subdim = "
            f"{n_sub}*{subdim} — refusing to silently truncate trailing dims"
        )
    codes = np.empty((len(x), n_sub), dtype=np.int64)
    for s, book in enumerate(books):
        xs = x[:, s * subdim : (s + 1) * subdim]
        codes[:, s] = book.ids[_sq_l2_scores(xs, book).argmin(axis=1)]
    return codes


def pq_codes_arrow(
    df: DataFrame,
    cents: DataFrame,
    subdim: int,
    id_cols: tuple[str, ...] = ("vec_id",),
    vec_col: str = "qv",
    cent_id_col: str = "cid",
    cent_vec_col: str = "cv",
) -> DataFrame:
    """(*id_cols, s, code): per-subspace argmin sub-centroid for each
    row's ``vec_col`` (length n_sub·subdim), ties broken on the smallest
    centroid id — the PQ encode primitive behind sim_ann_pq.

    One mapInPandas over (*id_cols, vec_col) only (guide §4.1/§4.2),
    scoring every subspace of a chunk with one small matmul against the
    collected sub-codebooks, instead of the N·M·K broadcast-join row
    expansion whose per-pair distance lambda runs through Catalyst's
    higher-order-function interpreter. Exact by the same bound as
    nearest_cells (:func:`_sq_l2_scores` raises above it)."""
    import numpy as np

    books = _collect_subcodebooks(cents, cent_id_col, cent_vec_col)
    _check_closure_bytes(books)
    n_sub = len(books)
    s_tile = np.arange(n_sub, dtype=np.int32)

    def encode(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            codes = _pq_codes(_int_matrix(pdf[vec_col]), books, subdim)
            out = {
                c: np.repeat(pdf[c].to_numpy(), n_sub) for c in id_cols
            }
            out["s"] = np.tile(s_tile, len(pdf))
            out["code"] = codes.ravel()
            yield pd.DataFrame(out)

    id_schema = ", ".join(f"{c} long" for c in id_cols)
    return df.select(*id_cols, vec_col).mapInPandas(
        encode, schema=f"{id_schema}, s int, code long"
    )


def ivfpq_assign_encode_arrow(
    df: DataFrame,
    cents: DataFrame,
    rcents: DataFrame,
    subdim: int,
) -> DataFrame:
    """(vec_id, cid, s, code): FUSED coarse argmin + residual PQ encode —
    one mapInPandas over (vec_id, qv) only (round 12, guide §2.3/§4.2).

    Round 11 converted the residual encode ALONE to Arrow and measured
    it slower (a second Python boundary plus a (vec_id, cid, rv) payload
    join); the fusion avoids exactly that: the coarse assignment's
    mapInPandas already holds the vector AND the collected centroid
    matrix, so the residual x − c and all M sub-codebook argmins run in
    the same batch loop, and the N-row 64-long residual payload never
    exists as a DataFrame at all. What the fused pass replaces at scale:
    the resid double join (N rows × 64-long arrays), the N·M posexplode,
    and the N·M·PQ_K broadcast-join expansion whose per-row zip_with
    distance lambda runs through Catalyst's interpreter (the recorded
    residual-encode term of ivfpq's 4M wall).

    Exactness and tie-breaks are nearest_cells' and pq_codes_arrow's: the
    coarse scores and :func:`_pq_codes` both go through
    :func:`_sq_l2_scores` over id-sorted codebooks."""
    import numpy as np

    coarse = _collect_centroids(cents)
    books = _collect_subcodebooks(rcents, "rcid", "rcv")
    _check_closure_bytes([coarse, *books])
    n_sub = len(books)
    s_tile = np.arange(n_sub, dtype=np.int32)
    chunk = _chunk_rows(len(coarse.ids))

    def assign_encode(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids_all = pdf["vec_id"].to_numpy()
            x_full = _int_matrix(pdf["qv"])
            out = []
            for lo in range(0, len(pdf), chunk):
                x = x_full[lo : lo + chunk]
                best = _sq_l2_scores(x, coarse).argmin(axis=1)
                codes = _pq_codes(x - coarse.mat[best], books, subdim)  # residuals
                rows = len(x)
                out.append(
                    pd.DataFrame(
                        {
                            "vec_id": np.repeat(ids_all[lo : lo + chunk],
                                                n_sub),
                            "cid": np.repeat(coarse.ids[best], n_sub),
                            "s": np.tile(s_tile, rows),
                            "code": codes.ravel(),
                        }
                    )
                )
            if out:
                yield pd.concat(out, ignore_index=True)

    return df.select("vec_id", "qv").mapInPandas(
        assign_encode, schema="vec_id long, cid long, s int, code long"
    )


def ivfpq_k(n_rows: int) -> int:
    """Plan-time coarse K for sim_ann_ivfpq: the same ceil(sqrt(N)) clamp
    as the incremental index (:func:`ivf_incremental_k`), which the
    oracle mirrors from COUNT(*). Round-10 4M measurement: a fixed K=16
    grew 9.5× over 4× rows — ~250k-member cells make every probe rerank
    nprobe·N/K ADC candidates, quadratic in the corpus."""
    return ivf_incremental_k(n_rows)


@query(
    "sim_ann_ivf",
    None,  # generated below
    doc="IVF-flat ANN (scale path): deterministic sampled coarse quantizer "
    f"(vectors whose id ≡ 0 mod ⌈N/{IVF_K}⌉), cell assignment = argmin "
    "exact quantized L2 over a broadcast centroid table, queries probe "
    f"{IVF_NPROBE} nearest cells, exact cosine rerank inside the probed "
    "cells. Candidate set is O(corpus/K·nprobe) per query — the classic "
    "inverted-file trade of recall for a bounded scan",
    tags=("similarity", "ivf"),
)
def sim_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    t = load_tables(spark, sf_dir)
    n = _quantized_with_norm(t["embeddings"])
    # deterministic "training": id-modulo stride sampling (k-means
    # iterations would add recall but break cross-engine determinism).
    # The stride comes from a plain .count() — a cheap distributed
    # metadata scan — NOT from a row_number over a global Window, which
    # would funnel the whole corpus through one task at scale.
    cnt = t["embeddings"].count()
    stride = max(1, math.ceil(cnt / IVF_K))
    cents = n.filter(F.col("vec_id") % stride == 0).select(
        F.col("vec_id").alias("cid"), F.col("qv").alias("cv")
    )
    # cell assignment (round 11): the N×K argmin + query top-nprobe run
    # through nearest_cells — ONE vectorized mapInPandas over (vec_id, qv)
    # scoring each chunk against the collected centroid matrix with a
    # single BLAS matmul, instead of materializing the N×K crossJoin with
    # a 64-element distance lambda per pair and sorting it through a
    # per-vector row_number window exchange that carried the (qv, nrm2)
    # payloads. Tie-breaking (smallest cid) matches the oracle's
    # ORDER BY d2, cid on both paths; the (qv, nrm2) payload re-joins by
    # vec_id AFTER the argmin, so only skinny rows leave the assignment.
    cells = nearest_cells(n, cents, nprobe=IVF_NPROBE)
    corpus = (
        cells.filter(F.col("crk") == 1)
        .join(n, "vec_id")
        .select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("qv").alias("qb"),
            F.col("nrm2").alias("nb"),
            "cid",
        )
    )
    probes = (
        cells.filter(F.col("vec_id") < N_QUERIES)
        .join(n.filter(F.col("vec_id") < N_QUERIES), "vec_id")
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("qv").alias("qa"),
            F.col("nrm2").alias("na"),
            "cid",
        )
    )
    scored = (
        probes.join(corpus, "cid")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cos_raw", _cos(F.col("qa"), F.col("qb"), F.col("na"), F.col("nb")))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_raw").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "rank", F.round("cos_raw", 6).alias("cos"))
        .orderBy("query_id", "rank")
    )


def _ivf_oracle() -> str:
    return f"""
    WITH q AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * {QUANT}) AS BIGINT)) AS qv
      FROM embeddings
    ),
    n AS (
      SELECT vec_id, qv, list_sum(list_transform(qv, x -> x * x)) AS nrm2 FROM q
    ),
    cents AS (
      SELECT vec_id AS cid, qv AS cv FROM n
      WHERE vec_id % GREATEST(1, (SELECT CAST(ceil(COUNT(*) / {IVF_K}.0) AS BIGINT)
                                  FROM embeddings)) = 0
    ),
    dists AS (
      SELECT n.vec_id, n.qv, n.nrm2, c.cid,
             list_sum(list_transform(range(1, len(n.qv) + 1),
                                     i -> (n.qv[i] - c.cv[i]) * (n.qv[i] - c.cv[i]))) AS d2
      FROM n CROSS JOIN cents c
    ),
    cells AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS crk
      FROM dists
    ),
    corpus AS (
      SELECT vec_id AS neighbor_id, qv AS qb, nrm2 AS nb, cid
      FROM cells WHERE crk = 1
    ),
    probes AS (
      SELECT vec_id AS query_id, qv AS qa, nrm2 AS na, cid
      FROM cells WHERE crk <= {IVF_NPROBE} AND vec_id < {N_QUERIES}
    ),
    scored AS (
      SELECT p.query_id, c.neighbor_id,
             list_sum(list_transform(range(1, len(p.qa) + 1), i -> p.qa[i] * c.qb[i]))
               / (sqrt(CAST(p.na AS DOUBLE)) * sqrt(CAST(c.nb AS DOUBLE))) AS cos_raw
      FROM probes p JOIN corpus c USING (cid)
      WHERE c.neighbor_id <> p.query_id
    ),
    rankd AS (
      SELECT query_id, neighbor_id, cos_raw,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cos_raw DESC, neighbor_id) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank,
           ROUND(cos_raw, 6) AS cos
    FROM rankd WHERE rank <= {TOP_K}
    ORDER BY query_id, rank
    """


def _lsh_oracle() -> str:
    # full-width code masked to the auto width: the mask keeps the low
    # `bits` planes, which is exactly the Spark side's "first bits planes"
    bits_expr = duck_auto_bits(
        "(SELECT COUNT(*) FROM embeddings)",
        ANN_TARGET_BUCKET,
        ANN_LSH_MIN_BITS,
        ANN_LSH_MAX_BITS,
    )
    code = (
        f"({_duck_lsh_code('qv')} & "
        f"((CAST(1 AS BIGINT) << ({bits_expr})) - 1))"
    )
    return f"""
    WITH q AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * {QUANT}) AS BIGINT)) AS qv
      FROM embeddings
    ),
    n AS (
      SELECT vec_id, qv, list_sum(list_transform(qv, x -> x * x)) AS nrm2,
             {code} AS code
      FROM q
    ),
    scored AS (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             list_sum(list_transform(range(1, len(a.qv) + 1), i -> a.qv[i] * b.qv[i]))
               / (sqrt(CAST(a.nrm2 AS DOUBLE)) * sqrt(CAST(b.nrm2 AS DOUBLE))) AS cos_raw
      FROM n a JOIN n b ON a.code = b.code AND b.vec_id <> a.vec_id
      WHERE a.vec_id < {N_QUERIES}
    ),
    ranked AS (
      SELECT query_id, neighbor_id, cos_raw,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cos_raw DESC, neighbor_id) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank,
           ROUND(cos_raw, 6) AS cos
    FROM ranked WHERE rank <= {TOP_K}
    ORDER BY query_id, rank
    """


# ---------------------------------------------------------------------------
# embedding near-dup via multi-table LSH candidates (the shipped dedup path)
# ---------------------------------------------------------------------------
DUP_TABLES = 4  # independent hash tables (bands)
# Per-table code width is AUTO-SIZED from the corpus count (round-7: the
# fixed 8-bit width put ~N/256 vectors in every bucket, so candidate pairs
# grew QUADRATICALLY — the 250k-vector scale sweep spilled ~500M pairs to
# disk and died; the sweep exists to catch exactly this). Width = smallest
# b with expected bucket ≤ DUP_TARGET_BUCKET, clamped to [8, 24] — the
# floor is the old fixed width, so behavior at fixture scales (≤2k
# vectors) is bit-identical to the round-5/6 green evidence.
#
# Recall for a pair at cosine c: per-plane agreement p = 1 - acos(c)/π,
# per-table collision p^bits, overall 1-(1-p^bits)^TABLES. At 8 bits:
#   c=0.99 → ~0.997,  c=0.95 → ~0.90,  c=0.90 → ~0.67;
# at 13 bits (250k vectors): c=0.99 → ~0.97, c=0.95 → ~0.68. Wider codes
# trade recall for the geometric candidate cut — the standard LSH trade
# (more TABLES buy recall back linearly in shuffle).
DUP_MIN_BITS = 8
DUP_MAX_BITS = 24
DUP_TARGET_BUCKET = 32  # expected vectors per bucket the width aims for
_DUP_PLANES = [
    plane_signs(DUP_MAX_BITS, EMBED_DIM, salt=f"dup-{l}")
    for l in range(DUP_TABLES)
]


def _bucket_cosines(pdf):
    """(lo, cos) chunks of one (vec_id, qv, nrm2) bucket scored against
    itself by :func:`_cosine_chunks`; a singleton has no pair to score."""
    if len(pdf) < 2:
        return
    q = _int_matrix(pdf["qv"])
    n2 = pdf["nrm2"].to_numpy()
    yield from _cosine_chunks(q, n2, q, n2)


def _bucket_pairs_arrow(
    members: DataFrame,
    threshold: float,
    keys: tuple[str, ...] = ("t", "c"),
) -> DataFrame:
    """(id_a, id_b, cos_raw) of every same-bucket pair (id_a < id_b) with
    exact quantized cosine ≥ threshold — ONE chunked B×B matmul per
    bucket via applyInPandas (round 11, guide §8/§4.2).

    The pair-join spelling materializes every candidate pair as a row
    carrying TWO 64-long payloads through two id-keyed shuffles and
    evaluates a per-pair cosine lambda through Catalyst's interpreter —
    at 1M vectors that is ~30M pair rows ≈ tens of GB shuffled to compare
    a few bytes of outcome. Here the payload is shuffled once per
    (table, code) bucket and each bucket scores through
    :func:`_bucket_cosines`, whose values are bit-identical to the JVM
    `_cos`."""
    import numpy as np

    def score(pdf):
        ids = pdf["vec_id"].to_numpy().astype(np.int64)
        parts = []
        for lo, cos in _bucket_cosines(pdf):
            ii, jj = np.nonzero(
                (cos >= threshold)
                & (ids[lo : lo + len(cos), None] < ids[None, :])
            )
            parts.append((ids[lo + ii], ids[jj], cos[ii, jj]))
        return _score_frame(("id_a", "id_b", "cos_raw"), parts)

    return members.groupBy(*keys).applyInPandas(
        score, schema="id_a long, id_b long, cos_raw double"
    )


def _bucket_topk_arrow(
    members: DataFrame, k: int, key: str = "code"
) -> DataFrame:
    """(vec_id, neighbor_id, cos_raw): for every vector, its bucket-mates
    whose exact cosine reaches the vector's k-th best — ONE chunked B×B
    matmul per bucket (round 11, guide §8/§4.2), instead of
    materializing every bucket-mate pair with two payloads through the
    self-join and ranking the expansion in a corpus-wide window.

    Ties at the k-th boundary are ALL emitted (cos ≥ k-th value, not an
    arbitrary k-subset), so the output is a superset of the true top-k
    and the downstream exact window applies the oracle's
    (cos DESC, neighbor_id) tie-break unchanged. cos values come from
    :func:`_bucket_cosines`, bit-identical to the JVM `_cos`."""
    import numpy as np

    def topk(pdf):
        ids = pdf["vec_id"].to_numpy().astype(np.int64)
        kk = min(k, len(pdf) - 1)
        parts = []
        for lo, cos in _bucket_cosines(pdf):
            rows = np.arange(len(cos))
            cos[rows, lo + rows] = -np.inf  # self
            kth = -np.partition(-cos, kk - 1, axis=1)[:, kk - 1]
            ii, jj = np.nonzero(cos >= kth[:, None])
            parts.append((ids[lo + ii], ids[jj], cos[ii, jj]))
        return _score_frame(("vec_id", "neighbor_id", "cos_raw"), parts)

    return members.groupBy(key).applyInPandas(
        topk, schema="vec_id long, neighbor_id long, cos_raw double"
    )


def dup_lsh_bits(n_rows: int) -> int:
    """Plan-time per-table code width for the near-dup LSH tables."""
    return auto_bits(n_rows, DUP_TARGET_BUCKET, DUP_MIN_BITS, DUP_MAX_BITS)

from compass_query_optimizer_spark.operators.dedup import (  # noqa: E402
    COSINE_DUP_THRESHOLD,
)


@query(
    "dedup_embedding_lsh",
    None,  # generated below
    doc="embedding near-dup, scale path: candidates from "
    f"{DUP_TABLES} independent hyperplane hash tables whose per-table "
    "code width is auto-sized from the plan-time corpus count (clamped "
    f"[{DUP_MIN_BITS}, {DUP_MAX_BITS}] bits, ~{DUP_TARGET_BUCKET}/bucket "
    "expected — candidate volume stays O(corpus·tables) at any N), then "
    f"exact quantized-cosine verification ≥ {COSINE_DUP_THRESHOLD}. The "
    "brute-force all-pairs variant (operators/dedup.py "
    "dedup_embedding_cosine) is its test-only recall baseline",
    tags=("dedup", "embedding", "lsh"),
)
def dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    # materialized once (LAZY, round 12: the first consumer's job
    # materializes it — an eager checkpoint was one extra driver action):
    # the code pass and the verify side would otherwise each re-run
    # quantization over the scan
    n = _quantized_with_norm(t["embeddings"]).localCheckpoint(eager=False)
    # plan-time width (first `bits` planes of each table == masking the
    # full-width code to its low bits, which is what the oracle does)
    bits = dup_lsh_bits(t["embeddings"].count())
    # one row per (vector, hash table): an equi-join key of (table, code)
    codes = _plane_dot_codes(n, [p[:bits] for p in _DUP_PLANES])
    # verify INSIDE each (table, code) bucket with one chunked matmul
    # (round 11): the payload joins the skinny code table once per table
    # row, and a pair colliding in several tables yields bit-identical
    # cos_raw in each (exact integer dots, same IEEE divide), so the
    # post-scoring distinct() collapses duplicates exactly as the
    # oracle's pre-verify candidate DISTINCT does.
    members = codes.join(n, "vec_id").select("t", "c", "vec_id", "qv", "nrm2")
    verified = _bucket_pairs_arrow(members, COSINE_DUP_THRESHOLD).distinct()
    return verified.select(
        "id_a", "id_b", F.round("cos_raw", 6).alias("cos")
    ).orderBy("id_a", "id_b")


def _dup_lsh_oracle() -> str:
    # full-width per-table code masked to the auto width — "first bits
    # planes", exactly the Spark side's p[:bits] (the _lsh_oracle trick)
    bits_expr = duck_auto_bits(
        "(SELECT COUNT(*) FROM embeddings)",
        DUP_TARGET_BUCKET,
        DUP_MIN_BITS,
        DUP_MAX_BITS,
    )
    mask = f"((CAST(1 AS BIGINT) << ({bits_expr})) - 1)"
    code_selects = "\n      UNION ALL\n".join(
        f"      SELECT vec_id, {l} AS t, "
        f"({_duck_lsh_code('qv', _DUP_PLANES[l])} & {mask}) AS c FROM n"
        for l in range(DUP_TABLES)
    )
    return f"""
    WITH q AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * {QUANT}) AS BIGINT)) AS qv
      FROM embeddings
    ),
    n AS (
      SELECT vec_id, qv, list_sum(list_transform(qv, x -> x * x)) AS nrm2 FROM q
    ),
    codes AS (
{code_selects}
    ),
    cands AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      FROM codes a JOIN codes b ON a.t = b.t AND a.c = b.c AND a.vec_id < b.vec_id
    ),
    scored AS (
      SELECT c.id_a, c.id_b,
             list_sum(list_transform(range(1, len(x.qv) + 1), i -> x.qv[i] * y.qv[i]))
               / (sqrt(CAST(x.nrm2 AS DOUBLE)) * sqrt(CAST(y.nrm2 AS DOUBLE))) AS cos_raw
      FROM cands c
      JOIN n x ON x.vec_id = c.id_a
      JOIN n y ON y.vec_id = c.id_b
    )
    SELECT id_a, id_b, ROUND(cos_raw, 6) AS cos
    FROM scored
    WHERE cos_raw >= {COSINE_DUP_THRESHOLD}
    ORDER BY id_a, id_b
    """



# ---------------------------------------------------------------------------
# semantic dedup (SemDedup-style: cluster, then cosine-threshold inside cells)
# ---------------------------------------------------------------------------
# Near-dup pairs that share no n-grams (translations, templated rewrites)
# only show up in embedding space; clustering first bounds the pairwise
# comparison to same-cell vectors (Abbas et al., "SemDedup", arXiv
# 2303.09540). Cells are random-hyperplane sign codes (Charikar STOC'02),
# NOT nearest-centroid assignment: the round-5 version assigned each vector
# to the closest of K = ceil(N/128) stride centroids via a broadcast
# cross-join — O(N·K) = O(N²/128) distance evaluations and a broadcast
# table growing linearly with the corpus, a scale-killer at 10⁹ vectors.
# The sign code is computed per-row from a compile-time ±1 plane matrix:
# assignment cost is LINEAR in N, nothing corpus-sized is ever broadcast,
# and the expected cell population N/2^bits stays ~SEM_CELL_TARGET because
# the width auto-tracks log2(N) (the sim_ann_lsh formula; the oracle
# derives the identical width from COUNT(*) and masks the identical
# full-width code). The keep rule ("drop a vector iff a smaller-id
# same-cell vector is >= threshold similar") is deterministic, so the
# DuckDB oracle reproduces it exactly.
SEM_CELL_TARGET = 128  # expected vectors per cell the width aims for
SEM_MIN_BITS = 2
SEM_MAX_BITS = 24  # 2^24 cells serves ~2·10⁹ vectors at the 128/cell target
SEM_PLANES = plane_signs(SEM_MAX_BITS, EMBED_DIM, salt="sem")
# Hot-cell guard (round-7): REAL embedding corpora are clustered and
# anisotropic, so some sign-code cells hold ≫ the N/2^bits expectation and
# the in-cell pairwise verify spikes quadratically. Cells whose measured
# population exceeds SEM_CELL_CAP are sub-split into 2^xbits SALTED
# sub-cells, xbits = auto_bits(pop, SEM_CELL_TARGET, 1, SEM_SPLIT_MAX_BITS)
# per cell, salt = portable_hash("semsplit-" || vec_id). A vec_id salt —
# NOT more hyperplanes — because extra planes cannot split the worst case:
# a tight cluster of genuine near-duplicates has near-identical sign codes
# on ANY plane set, so plane-splitting leaves the hot cell whole exactly
# when it hurts most. The salt bounds per-bucket work unconditionally
# (≈pop/2^xbits regardless of geometry) at a bounded, documented cost:
# duplicates split across sub-cells aren't compared, so a hot cell keeps
# up to 2^xbits representatives instead of 1 (the same recall-for-cost
# trade LSH makes per table). Deterministic md5 arithmetic → the DuckDB
# oracle reproduces the split bit-for-bit; under the cap xbits = 0 and
# behavior is identical to the unsplit design.
SEM_CELL_CAP = 4 * SEM_CELL_TARGET  # population above which a cell splits
SEM_SPLIT_MAX_BITS = 16  # ≤ 65,536 sub-cells per hot cell


def sem_cell_bits(n_rows: int) -> int:
    """Plan-time semantic-cell code width for ``n_rows`` vectors."""
    return auto_bits(n_rows, SEM_CELL_TARGET, SEM_MIN_BITS, SEM_MAX_BITS)


@query(
    "dedup_semantic",
    None,  # generated below (shares the LSH oracle building blocks)
    doc="SemDedup-style semantic dedup: hyperplane-LSH cells (width "
    f"auto-sized from corpus count, ~{SEM_CELL_TARGET} vectors/cell, "
    "join-free per-row assignment — linear in N, no corpus-sized "
    "broadcast), then pairwise exact cosine ONLY inside each cell — a "
    f"vector is dropped iff a smaller-id cell-mate is >= "
    f"{COSINE_DUP_THRESHOLD} similar. Cells bound the quadratic term to "
    "cell_size^2 per cell, and cells whose MEASURED population exceeds "
    f"{SEM_CELL_CAP} are salted-sub-split (hash(vec_id), per-cell width "
    "from the population) so the verify stays bounded under real-world "
    "clustered/anisotropic skew — at the documented cost of keeping up "
    "to 2^xbits representatives per hot cell",
    tags=("dedup", "embedding", "semantic"),
)
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    # materialized once, lazily (round 12): the code pass + both verify
    # sides reuse it; the first consumer's job materializes the blocks
    n = _quantized_with_norm(t["embeddings"]).localCheckpoint(eager=False)
    bits = sem_cell_bits(t["embeddings"].count())
    # cell id = first `bits` planes of the full-width sign code, computed
    # by the codegen aggregate form (_plane_dot_codes) and joined back on
    # vec_id — two linear keyed passes, no cross join anywhere
    cells = n.join(
        _plane_dot_codes(n, [SEM_PLANES[:bits]]).select(
            "vec_id", F.col("c").alias("cid")
        ),
        "vec_id",
    ).select("vec_id", "qv", "nrm2", "cid")
    # hot-cell guard: measure each cell's population (one keyed agg over
    # cell ids — linear), derive a per-cell salted sub-split width (0
    # under the cap), and bucket vectors by hash(vec_id) inside hot cells
    # so the pairwise verify is bounded by ~SEM_CELL_TARGET² per sub-cell
    # at ANY population skew — see the SEM_CELL_CAP note above
    from compass_query_optimizer_spark.functions.hashing import (
        spark_auto_bits_col,
        spark_portable_hash,
    )

    pops = cells.groupBy("cid").agg(F.count(F.lit(1)).alias("pop"))
    xw = pops.select(
        "cid",
        F.when(
            F.col("pop") > SEM_CELL_CAP,
            spark_auto_bits_col(
                F.col("pop"), SEM_CELL_TARGET, 1, SEM_SPLIT_MAX_BITS
            ),
        )
        .otherwise(F.lit(0))
        .alias("xbits"),
    )
    sub_cells = (
        cells.join(xw, "cid")
        .withColumn(
            "sub",
            spark_portable_hash(
                F.concat(F.lit("semsplit-"), F.col("vec_id").cast("string"))
            )
            % F.expr("shiftleft(CAST(1 AS BIGINT), CAST(xbits AS INT))"),
        )
        .select("vec_id", "qv", "nrm2", "cid", "sub")
    )
    # pairwise verify INSIDE each (cell, sub) bucket with one chunked
    # matmul (round 11, same primitive as dedup_embedding_lsh): a vector
    # is dropped iff it is the id_b (larger id) of a surviving pair,
    # which is exactly the oracle's b.vec_id < a.vec_id ∧ cos ≥ threshold.
    dropped = (
        _bucket_pairs_arrow(sub_cells, COSINE_DUP_THRESHOLD, keys=("cid", "sub"))
        .select(F.col("id_b").alias("vec_id"))
        .distinct()
    )
    return (
        cells.join(dropped.withColumn("hit", F.lit(1)), "vec_id", "left")
        .select(
            "vec_id",
            F.col("cid").alias("cell"),
            F.col("hit").isNull().alias("kept"),
        )
        .orderBy("vec_id")
    )


def _semantic_oracle() -> str:
    # full-width sign code masked to the auto width — "first bits planes",
    # exactly the Spark side's SEM_PLANES[:bits] (the _lsh_oracle trick)
    bits_expr = duck_auto_bits(
        "(SELECT COUNT(*) FROM embeddings)",
        SEM_CELL_TARGET,
        SEM_MIN_BITS,
        SEM_MAX_BITS,
    )
    cid = (
        f"({_duck_lsh_code('qv', SEM_PLANES)} & "
        f"((CAST(1 AS BIGINT) << ({bits_expr})) - 1))"
    )
    from compass_query_optimizer_spark.functions.hashing import (
        duck_portable_hash,
    )

    xbits = (
        f"CASE WHEN pop > {SEM_CELL_CAP} THEN "
        f"{duck_auto_bits('pop', SEM_CELL_TARGET, 1, SEM_SPLIT_MAX_BITS)} "
        f"ELSE 0 END"
    )
    salt = duck_portable_hash("'semsplit-' || CAST(c.vec_id AS VARCHAR)")
    return f"""
    WITH q AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * {QUANT}) AS BIGINT)) AS qv
      FROM embeddings
    ),
    cells AS (
      SELECT vec_id, qv, list_sum(list_transform(qv, x -> x * x)) AS nrm2,
             {cid} AS cid
      FROM q
    ),
    xw AS (
      SELECT cid, {xbits} AS xbits
      FROM (SELECT cid, COUNT(*) AS pop FROM cells GROUP BY cid)
    ),
    sub_cells AS (
      SELECT c.vec_id, c.qv, c.nrm2, c.cid,
             ({salt} % (CAST(1 AS BIGINT) << x.xbits)) AS sub
      FROM cells c JOIN xw x ON c.cid = x.cid
    ),
    dropped AS (
      SELECT DISTINCT a.vec_id
      FROM sub_cells a
      JOIN sub_cells b ON a.cid = b.cid AND a.sub = b.sub
                      AND b.vec_id < a.vec_id
      WHERE list_sum(list_transform(range(1, len(a.qv) + 1), i -> a.qv[i] * b.qv[i]))
              / (sqrt(CAST(a.nrm2 AS DOUBLE)) * sqrt(CAST(b.nrm2 AS DOUBLE)))
            >= {COSINE_DUP_THRESHOLD}
    )
    SELECT c.vec_id, c.cid AS cell, (d.vec_id IS NULL) AS kept
    FROM cells c LEFT JOIN dropped d ON c.vec_id = d.vec_id
    ORDER BY c.vec_id
    """


PQ_M = 8  # subspaces (codes per vector)
PQ_SUBDIM = EMBED_DIM // PQ_M  # dims per subspace
PQ_K = 16  # sub-centroids per subspace (4-bit codes)


@query(
    "sim_ann_pq",
    None,  # generated below
    doc="product-quantization ANN with asymmetric distance (Jégou et al. "
    f"TPAMI 2011): the vector splits into {PQ_M} subspaces of {PQ_SUBDIM} "
    f"dims, each encoded as its nearest of {PQ_K} stride-sampled "
    "sub-centroids — the corpus compresses to "
    f"{PQ_M} small ints per vector (4 bits each), the memory trade that "
    "makes billion-vector indexes fit. Scoring is ADC: the UNcompressed "
    "query precomputes its dot with every (subspace, centroid) — "
    f"{PQ_M}×{PQ_K} rows, broadcast — and a neighbor's approximate dot is "
    "the sum of table lookups selected by its codes. Encode = one "
    "vectorized mapInPandas argmin against the collected sub-codebooks "
    "(one row per (vector, subspace) leaves it); scoring joins codes to "
    "the broadcast ADC table, never vector-to-vector. All arithmetic "
    "exact int64 until the final cosine division, so the DuckDB oracle "
    "reproduces ranks bit-for-bit",
    tags=("similarity", "pq"),
)
def sim_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    t = load_tables(spark, sf_dir)
    n = _quantized_with_norm(t["embeddings"])
    cnt = t["embeddings"].count()
    stride = max(1, math.ceil(cnt / PQ_K))
    # (vec_id, nrm2, s, sv): one row per vector per subspace
    subs = n.select(
        "vec_id",
        "nrm2",
        F.posexplode(
            F.array(
                *[
                    F.slice(F.col("qv"), s * PQ_SUBDIM + 1, PQ_SUBDIM)
                    for s in range(PQ_M)
                ]
            )
        ).alias("s", "sv"),
    )
    # deterministic "training": the same id-modulo stride sampling as
    # sim_ann_ivf — k-means sub-codebooks would add recall but break
    # cross-engine determinism. cn = ||centroid||² feeds the reconstructed
    # neighbor norm in the cosine.
    cents = subs.filter(F.col("vec_id") % stride == 0).select(
        F.col("vec_id").alias("cid"),
        "s",
        F.col("sv").alias("cv"),
        F.aggregate(
            F.col("sv"), F.lit(0).cast("long"), lambda a, x: a + x * x
        ).alias("cn"),
    )
    # encode: argmin centroid per (vector, subspace) — ONE vectorized
    # mapInPandas over (vec_id, qv) scoring all M subspaces of each chunk
    # against the collected sub-codebooks (round 11: the N·M·K
    # broadcast-join expansion evaluated an 8-element distance lambda per
    # row through Catalyst's interpreter). Tie-break (smallest cid) as in
    # the oracle.
    codes = pq_codes_arrow(n, cents, subdim=PQ_SUBDIM)
    # ADC lookup table: query × every (subspace, centroid) partial dot
    pdot = F.aggregate(
        F.zip_with(F.col("sv"), F.col("cv"), lambda x, c: x * c),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )
    adc = (
        subs.filter(F.col("vec_id") < N_QUERIES)
        .join(F.broadcast(cents), "s")
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("nrm2").alias("na"),
            "s",
            F.col("cid").alias("code"),
            pdot.alias("pdot"),
            "cn",
        )
    )
    # approximate dot = Σ_s adc[s, code_s]; exactly PQ_M rows per
    # (query, neighbor) group — the join is codes × a broadcast table,
    # never vector × vector
    scored = (
        codes.join(F.broadcast(adc), ["s", "code"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(
            F.first("na").alias("na"),
            F.sum("pdot").alias("dot_hat"),
            F.sum("cn").alias("n_hat"),
        )
        .withColumn(
            "cos_raw",
            F.col("dot_hat")
            / (F.sqrt(F.col("na").cast("double")) * F.sqrt(F.col("n_hat").cast("double"))),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_raw").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "rank", F.round("cos_raw", 6).alias("cos"))
        .orderBy("query_id", "rank")
    )


def _pq_oracle() -> str:
    return f"""
    WITH q AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * {QUANT}) AS BIGINT)) AS qv
      FROM embeddings
    ),
    n AS (
      SELECT vec_id, qv, list_sum(list_transform(qv, x -> x * x)) AS nrm2 FROM q
    ),
    subs AS (
      SELECT vec_id, nrm2, s,
             list_transform(range(1, {PQ_SUBDIM} + 1), i -> qv[s * {PQ_SUBDIM} + i]) AS sv
      FROM n CROSS JOIN (SELECT unnest(range(0, {PQ_M})) AS s)
    ),
    stride AS (
      SELECT GREATEST(1, CAST(ceil(COUNT(*) / {PQ_K}.0) AS BIGINT)) AS st
      FROM embeddings
    ),
    cents AS (
      SELECT vec_id AS cid, s, sv AS cv,
             list_sum(list_transform(sv, x -> x * x)) AS cn
      FROM subs, stride WHERE vec_id % st = 0
    ),
    assigned AS (
      SELECT v.vec_id, v.s, c.cid,
             list_sum(list_transform(range(1, {PQ_SUBDIM} + 1),
                                     i -> (v.sv[i] - c.cv[i]) * (v.sv[i] - c.cv[i]))) AS d2
      FROM subs v JOIN cents c USING (s)
    ),
    codes AS (
      SELECT vec_id, s, cid AS code FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY d2, cid) AS rk
        FROM assigned
      ) WHERE rk = 1
    ),
    adc AS (
      SELECT v.vec_id AS query_id, v.nrm2 AS na, v.s, c.cid AS code,
             list_sum(list_transform(range(1, {PQ_SUBDIM} + 1),
                                     i -> v.sv[i] * c.cv[i])) AS pdot,
             c.cn
      FROM subs v JOIN cents c USING (s)
      WHERE v.vec_id < {N_QUERIES}
    ),
    scored AS (
      SELECT a.query_id, k.vec_id AS neighbor_id, ANY_VALUE(a.na) AS na,
             SUM(a.pdot) AS dot_hat, SUM(a.cn) AS n_hat
      FROM codes k JOIN adc a ON a.s = k.s AND a.code = k.code
      WHERE k.vec_id <> a.query_id
      GROUP BY a.query_id, k.vec_id
    ),
    rankd AS (
      SELECT query_id, neighbor_id,
             dot_hat / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(n_hat AS DOUBLE))) AS cos_raw,
             ROW_NUMBER() OVER (
               PARTITION BY query_id
               ORDER BY dot_hat / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(n_hat AS DOUBLE))) DESC,
                        neighbor_id
             ) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank,
           ROUND(cos_raw, 6) AS cos
    FROM rankd WHERE rank <= {TOP_K}
    ORDER BY query_id, rank
    """


from compass_query_optimizer_spark import registry as _registry  # noqa: E402

_registry._REGISTRY["sim_ann_lsh"].oracle = _lsh_oracle()
_registry._REGISTRY["sim_ann_ivf"].oracle = _ivf_oracle()
_registry._REGISTRY["sim_ann_pq"].oracle = _pq_oracle()
_registry._REGISTRY["dedup_embedding_lsh"].oracle = _dup_lsh_oracle()
_registry._REGISTRY["dedup_semantic"].oracle = _semantic_oracle()


# ---------------------------------------------------------------------------
# IVFADC — the full composition (Jégou, Douze & Schmid, TPAMI 2011 §IV):
# an IVF coarse quantizer bounds WHICH vectors are scanned (nprobe cells),
# and PQ codes over the RESIDUAL (x − coarse centroid) bound WHAT is
# scanned (M small ints per vector). This is the actual billion-vector
# index layout; sim_ann_ivf and sim_ann_pq each prove one half, this
# entry proves the composition — including the residual algebra the halves
# don't need: dot(q, x̂) = dot(q, c) + Σ_s dot(q_s, r̂_s) and
# ‖x̂‖² = ‖c‖² + 2·Σ_s dot(c_s, r̂_s) + Σ_s ‖r̂_s‖², all exact int64.
#
# Residual sub-codebooks sample at stride offset 1 (vec_id % stride == 1):
# offset 0 would sample the coarse centroids themselves, whose residuals
# are identically zero — a degenerate all-zeros codebook.
# ---------------------------------------------------------------------------


@query(
    "sim_ann_ivfpq",
    None,  # generated below
    doc="IVFADC ANN (Jégou et al. TPAMI 2011): stride-sampled coarse "
    "quantizer (K auto-sizes to ceil(sqrt(N)) from the plan-time count, "
    f"oracle-mirrored; nprobe={IVF_NPROBE}) + product quantization of "
    f"the residual x − c ({PQ_M}×{PQ_K} sub-codebooks with their OWN "
    "stride, sampled at offset 1 — offset 0 would sample the centroids "
    "themselves and collapse the codebook to zeros). Fixed K=16 was "
    "measured 9.5× over 4× rows at 4M vectors (250k-member cells); "
    "sqrt-K pins per-probe candidates at nprobe·sqrt(N), and the fixed "
    "PQ_K residual codebook keeps code assignment linear in N. Coarse "
    "argmin and residual encode run fused in one vectorized "
    "mapInPandas. Scoring joins corpus codes to a "
    "broadcast per-(query, cell) ADC table plus the (cell, subspace, "
    "code) cross-term table the residual algebra needs; exact int64 "
    "until the final cosine division",
    tags=("similarity", "ivf", "pq"),
)
def sim_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    n = _quantized_with_norm(t["embeddings"])
    cnt = t["embeddings"].count()
    if cnt <= max(IVF_K, PQ_K):
        # the offset-1 residual-codebook sample (vec_id % rstride == 1)
        # would match nothing: an empty sub-codebook, empty codes, and a
        # silently-empty result that the oracle would mirror vacuously.
        # Fail loudly instead — a corpus this small has no business
        # behind an IVF index (use sim_topk_bruteforce).
        raise ValueError(
            f"sim_ann_ivfpq requires more than {max(IVF_K, PQ_K)} vectors "
            f"(got {cnt}): stride-1 sampling degenerates to an empty "
            "residual codebook"
        )
    k = ivfpq_k(cnt)
    stride = max(1, (cnt + k - 1) // k)
    # residual codebook stride is DECOUPLED from the coarse K: PQ codes
    # stay 4-bit (PQ_K entries) at every corpus size, so code assignment
    # is N·M·PQ_K — linear in N — while the coarse codebook grows sqrt(N)
    rstride = max(1, (cnt + PQ_K - 1) // PQ_K)
    coarse = n.filter(F.col("vec_id") % stride == 0).select(
        F.col("vec_id").alias("cid"),
        F.col("qv").alias("cv"),
        F.aggregate(
            F.col("qv"), F.lit(0).cast("long"), lambda a, x: a + x * x
        ).alias("cnorm"),
    )
    d2c = F.aggregate(
        F.zip_with(F.col("qv"), F.col("cv"), lambda x, c: (x - c) * (x - c)),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )
    # FUSED coarse assign + residual encode (round 12): the residual
    # sub-codebooks come from the SAMPLED vectors only (the stride
    # filter commutes with the residual computation — round 11 built
    # residuals for ALL N rows and then filtered), and one
    # mapInPandas emits (vec_id, cid, s, code) for the whole corpus.
    # Round 11's encode-only Arrow conversion was measured slower
    # and reverted because it added a second Python boundary plus a
    # (vec_id, cid, rv) payload join; the fusion removes both — see
    # ivfpq_assign_encode_arrow.
    sampled = n.filter(F.col("vec_id") % rstride == 1)
    scells = nearest_cells(
        sampled, coarse.select("cid", "cv"), nprobe=1
    ).select("vec_id", "cid")
    sresid = (
        sampled.join(scells, "vec_id")
        .join(F.broadcast(coarse.select("cid", "cv")), "cid")
        .select(
            "vec_id",
            F.zip_with(
                F.col("qv"), F.col("cv"), lambda x, c: x - c
            ).alias("rv"),
        )
    )
    rcents = sresid.select(
        F.col("vec_id").alias("rcid"),
        F.posexplode(
            F.array(
                *[
                    F.slice(F.col("rv"), s * PQ_SUBDIM + 1, PQ_SUBDIM)
                    for s in range(PQ_M)
                ]
            )
        ).alias("s", "rcv"),
    ).select(
        "rcid",
        "s",
        "rcv",
        F.aggregate(
            F.col("rcv"), F.lit(0).cast("long"), lambda a, x: a + x * x
        ).alias("rn"),
    )
    codes = ivfpq_assign_encode_arrow(
        n, coarse.select("cid", "cv"), rcents, PQ_SUBDIM
    )
    # query probes: nprobe nearest coarse cells + dot(q, c) per probe
    qcd = F.aggregate(
        F.zip_with(F.col("qv"), F.col("cv"), lambda x, c: x * c),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )
    qd = (
        n.filter(F.col("vec_id") < N_QUERIES)
        .join(F.broadcast(coarse), how="cross")
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("nrm2").alias("na"),
            "qv",
            "cid",
            "cnorm",
            d2c.alias("d2"),
            qcd.alias("qcdot"),
        )
    )
    wp = Window.partitionBy("query_id").orderBy("d2", "cid")
    probes = (
        qd.withColumn("crk", F.row_number().over(wp))
        .filter(F.col("crk") <= IVF_NPROBE)
        .select("query_id", "na", "qv", "cid", "cnorm", "qcdot")
    )
    # per-(query, probed cell) ADC table: q_s · rcv  (tiny, broadcast)
    pdot = F.aggregate(
        F.zip_with(F.col("sv"), F.col("rcv"), lambda x, c: x * c),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )
    qsubs = probes.select(
        "query_id",
        "na",
        "cid",
        "cnorm",
        "qcdot",
        F.posexplode(
            F.array(
                *[
                    F.slice(F.col("qv"), s * PQ_SUBDIM + 1, PQ_SUBDIM)
                    for s in range(PQ_M)
                ]
            )
        ).alias("s", "sv"),
    )
    adc = qsubs.join(F.broadcast(rcents), "s").select(
        "query_id", "na", "cid", "cnorm", "qcdot", "s",
        F.col("rcid").alias("code"), pdot.alias("pdot"), "rn",
    )
    # (cell, subspace, code) cross terms c_s · rcv for the ‖x̂‖² algebra
    csubs = coarse.select(
        "cid",
        F.posexplode(
            F.array(
                *[
                    F.slice(F.col("cv"), s * PQ_SUBDIM + 1, PQ_SUBDIM)
                    for s in range(PQ_M)
                ]
            )
        ).alias("s", "sv"),
    )
    ccd = csubs.join(F.broadcast(rcents), "s").select(
        "cid", "s", F.col("rcid").alias("code"), pdot.alias("ccdot")
    )
    lut = adc.join(ccd, ["cid", "s", "code"])
    scored = (
        codes.join(F.broadcast(lut), ["cid", "s", "code"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(
            F.first("na").alias("na"),
            F.first("qcdot").alias("qcdot"),
            F.first("cnorm").alias("cnorm"),
            F.sum("pdot").alias("rdot"),
            F.sum("rn").alias("rn"),
            F.sum("ccdot").alias("crd"),
        )
        .withColumn(
            "cos_raw",
            (F.col("qcdot") + F.col("rdot"))
            / (
                F.sqrt(F.col("na").cast("double"))
                * F.sqrt(
                    (F.col("cnorm") + 2 * F.col("crd") + F.col("rn")).cast("double")
                )
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_raw").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "rank", F.round("cos_raw", 6).alias("cos"))
        .orderBy("query_id", "rank")
    )


def _ivfpq_oracle() -> str:
    sub = f"list_transform(range(1, {PQ_SUBDIM} + 1), i -> {{v}}[s * {PQ_SUBDIM} + i])"
    # K mirrors ivfpq_k exactly: the sqrt clamp from COUNT(*) (IEEE sqrt
    # is correctly rounded, so both engines compute the identical K — the
    # sim_ann_incremental precedent)
    kexpr = (
        f"GREATEST({IVF_K}, LEAST({IVF_INCR_MAX_K}, "
        f"CAST(ceil(sqrt(cnt)) AS BIGINT)))"
    )
    return f"""
    WITH q AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * {QUANT}) AS BIGINT)) AS qv
      FROM embeddings
    ),
    n AS (
      SELECT vec_id, qv, list_sum(list_transform(qv, x -> x * x)) AS nrm2 FROM q
    ),
    stride AS (
      SELECT GREATEST(1, (cnt + k - 1) // k) AS st,
             GREATEST(1, (cnt + {PQ_K} - 1) // {PQ_K}) AS rst
      FROM (SELECT cnt, {kexpr} AS k
            FROM (SELECT COUNT(*) AS cnt FROM embeddings))
    ),
    coarse AS (
      SELECT vec_id AS cid, qv AS cv,
             list_sum(list_transform(qv, x -> x * x)) AS cnorm
      FROM n, stride WHERE vec_id % st = 0
    ),
    cells AS (
      SELECT vec_id, cid FROM (
        SELECT v.vec_id, c.cid,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY
                 list_sum(list_transform(range(1, len(v.qv) + 1),
                   i -> (v.qv[i] - c.cv[i]) * (v.qv[i] - c.cv[i]))), c.cid) AS rk
        FROM n v CROSS JOIN coarse c
      ) WHERE rk = 1
    ),
    resid AS (
      SELECT v.vec_id, k.cid,
             list_transform(range(1, len(v.qv) + 1), i -> v.qv[i] - c.cv[i]) AS rv
      FROM n v JOIN cells k USING (vec_id) JOIN coarse c USING (cid)
    ),
    rsubs AS (
      SELECT vec_id, cid, s, {sub.format(v='rv')} AS sv
      FROM resid CROSS JOIN (SELECT unnest(range(0, {PQ_M})) AS s)
    ),
    rcents AS (
      SELECT vec_id AS rcid, s, sv AS rcv,
             list_sum(list_transform(sv, x -> x * x)) AS rn
      FROM rsubs, stride WHERE vec_id % rst = 1
    ),
    codes AS (
      SELECT vec_id, cid, s, rcid AS code FROM (
        SELECT v.vec_id, v.cid, v.s, c.rcid,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id, v.s ORDER BY
                 list_sum(list_transform(range(1, {PQ_SUBDIM} + 1),
                   i -> (v.sv[i] - c.rcv[i]) * (v.sv[i] - c.rcv[i]))), c.rcid) AS rk
        FROM rsubs v JOIN rcents c USING (s)
      ) WHERE rk = 1
    ),
    probes AS (
      SELECT query_id, na, qv, cid, cnorm, qcdot FROM (
        SELECT v.vec_id AS query_id, v.nrm2 AS na, v.qv, c.cid, c.cnorm,
               list_sum(list_transform(range(1, len(v.qv) + 1),
                 i -> v.qv[i] * c.cv[i])) AS qcdot,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY
                 list_sum(list_transform(range(1, len(v.qv) + 1),
                   i -> (v.qv[i] - c.cv[i]) * (v.qv[i] - c.cv[i]))), c.cid) AS crk
        FROM n v CROSS JOIN coarse c
        WHERE v.vec_id < {N_QUERIES}
      ) WHERE crk <= {IVF_NPROBE}
    ),
    qsubs AS (
      SELECT query_id, na, cid, cnorm, qcdot, s, {sub.format(v='qv')} AS sv
      FROM probes CROSS JOIN (SELECT unnest(range(0, {PQ_M})) AS s)
    ),
    adc AS (
      SELECT v.query_id, v.na, v.cid, v.cnorm, v.qcdot, v.s,
             c.rcid AS code,
             list_sum(list_transform(range(1, {PQ_SUBDIM} + 1),
               i -> v.sv[i] * c.rcv[i])) AS pdot,
             c.rn
      FROM qsubs v JOIN rcents c USING (s)
    ),
    csubs AS (
      SELECT cid, s, {sub.format(v='cv')} AS sv
      FROM coarse CROSS JOIN (SELECT unnest(range(0, {PQ_M})) AS s)
    ),
    ccd AS (
      SELECT v.cid, v.s, c.rcid AS code,
             list_sum(list_transform(range(1, {PQ_SUBDIM} + 1),
               i -> v.sv[i] * c.rcv[i])) AS ccdot
      FROM csubs v JOIN rcents c USING (s)
    ),
    lut AS (
      SELECT a.*, x.ccdot FROM adc a
      JOIN ccd x ON x.cid = a.cid AND x.s = a.s AND x.code = a.code
    ),
    scored AS (
      SELECT l.query_id, k.vec_id AS neighbor_id,
             ANY_VALUE(l.na) AS na, ANY_VALUE(l.qcdot) AS qcdot,
             ANY_VALUE(l.cnorm) AS cnorm,
             SUM(l.pdot) AS rdot, SUM(l.rn) AS rn, SUM(l.ccdot) AS crd
      FROM codes k
      JOIN lut l ON l.cid = k.cid AND l.s = k.s AND l.code = k.code
      WHERE k.vec_id <> l.query_id
      GROUP BY l.query_id, k.vec_id
    ),
    rankd AS (
      SELECT query_id, neighbor_id,
             (qcdot + rdot) / (sqrt(CAST(na AS DOUBLE))
               * sqrt(CAST(cnorm + 2 * crd + rn AS DOUBLE))) AS cos_raw,
             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY
               (qcdot + rdot) / (sqrt(CAST(na AS DOUBLE))
                 * sqrt(CAST(cnorm + 2 * crd + rn AS DOUBLE))) DESC,
               neighbor_id) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank,
           ROUND(cos_raw, 6) AS cos
    FROM rankd WHERE rank <= {TOP_K}
    ORDER BY query_id, rank
    """


_registry._REGISTRY["sim_ann_ivfpq"].oracle = _ivfpq_oracle()


# ---------------------------------------------------------------------------
# In-engine ANN quality evaluation: recall@k of the IVF index against the
# exact brute-force top-k — THE number an index tuner trades against scan
# cost when picking K/nprobe (Jégou et al. TPAMI 2011 report exactly this
# curve). Both sides run in the engine (the baseline the repo already
# ships and the index entry itself), so the evaluation is one semi-join +
# two per-query counts over 50×TOP_K rows — the eval is cheaper than
# either index pass, and re-runs on every corpus/parameter change instead
# of trusting a one-off offline notebook.
# ---------------------------------------------------------------------------
def _recall_oracle() -> str:
    topk_sql = _registry._REGISTRY["sim_topk_bruteforce"].oracle
    return f"""
    WITH exact AS (SELECT query_id, neighbor_id FROM ({topk_sql})),
    approx AS (SELECT query_id, neighbor_id FROM ({_ivf_oracle()})),
    hits AS (
      SELECT e.query_id, COUNT(*) AS n_hits
      FROM exact e JOIN approx a USING (query_id, neighbor_id)
      GROUP BY e.query_id
    ),
    base AS (SELECT query_id, COUNT(*) AS k FROM exact GROUP BY query_id)
    SELECT b.query_id, CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
           ROUND(COALESCE(h.n_hits, 0) * 1.0 / b.k, 4) AS recall
    FROM base b LEFT JOIN hits h USING (query_id)
    ORDER BY b.query_id
    """


@query(
    "sim_ann_recall",
    None,  # generated below (composes the brute-force and IVF oracles)
    doc="ANN index quality gate: per-query recall@k of sim_ann_ivf against "
    "the exact brute-force top-k, computed in-engine as one semi-join "
    "over the two result sets — the K/nprobe tuning number (Jégou "
    "TPAMI'11's recall curve) measured on the live corpus instead of an "
    "offline notebook. Unmatched queries report recall 0, not absence",
    tags=("similarity", "ivf", "evaluation"),
)
def sim_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    exact = sim_topk_bruteforce(spark, sf_dir).select("query_id", "neighbor_id")
    approx = sim_ann_ivf(spark, sf_dir).select("query_id", "neighbor_id")
    hits = (
        exact.join(approx, ["query_id", "neighbor_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    base = exact.groupBy("query_id").agg(F.count(F.lit(1)).alias("k"))
    return (
        base.join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
            F.round(
                F.coalesce(F.col("n_hits"), F.lit(0)) / F.col("k"), 4
            ).alias("recall"),
        )
        .orderBy("query_id")
    )


_registry._REGISTRY["sim_ann_recall"].oracle = _recall_oracle


# ---------------------------------------------------------------------------
# PQ reconstruction-distortion audit — the index-quality twin of
# sim_ann_recall: recall measures retrieval quality, distortion measures
# how much signal the 8×4-bit compression destroys (Jégou TPAMI'11 §III
# analyzes exactly this MSE). The per-(vector, subspace) arg-min L2 the
# encoder already computes IS the distortion; summing it per vector and
# averaging per label costs one extra combiner aggregate over rows the
# encode pass produces anyway. Exact int64 end-to-end until the final
# mean division, so the audit is bit-identical across engines — a rising
# per-label distortion is the retrain-the-codebook tripwire.
# ---------------------------------------------------------------------------
def _pq_distortion_oracle() -> str:
    return f"""
    WITH q AS (
      SELECT vec_id, label,
             list_transform(embedding,
               x -> CAST(round(CAST(x AS DOUBLE) * {QUANT}) AS BIGINT)) AS qv
      FROM embeddings
    ),
    cnt AS (SELECT CAST(CEIL(COUNT(*) * 1.0 / {PQ_K}) AS BIGINT) AS stride
            FROM embeddings),
    subs AS (
      SELECT vec_id, label, s.s AS s,
             list_slice(qv, s.s * {PQ_SUBDIM} + 1,
                        s.s * {PQ_SUBDIM} + {PQ_SUBDIM}) AS sv
      FROM q, UNNEST(range(0, {PQ_M})) AS s(s)
    ),
    cents AS (
      SELECT vec_id AS cid, s, sv AS cv
      FROM subs, cnt WHERE vec_id % GREATEST(stride, 1) = 0
    ),
    d2 AS (
      SELECT a.vec_id, a.label, a.s,
             MIN(list_sum(list_transform(range(1, {PQ_SUBDIM} + 1),
               i -> (a.sv[i] - c.cv[i]) * (a.sv[i] - c.cv[i])))) AS mind2
      FROM subs a JOIN cents c USING (s)
      GROUP BY a.vec_id, a.label, a.s
    ),
    per_vec AS (
      SELECT vec_id, label, SUM(mind2) AS dist
      FROM d2 GROUP BY vec_id, label
    )
    SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
           ROUND(SUM(dist) * 1.0 / COUNT(*), 4) AS mean_dist,
           CAST(MAX(dist) AS BIGINT) AS max_dist
    FROM per_vec GROUP BY label ORDER BY label
    """


@query(
    "emb_pq_distortion",
    _pq_distortion_oracle,  # deferred (inlines the PQ constants)
    doc="PQ reconstruction-distortion audit: per label, the mean and max "
    f"of Σ over {PQ_M} subspaces of the encoder's arg-min squared L2 to "
    "the stride-sampled sub-codebooks — the MSE Jégou TPAMI'11 §III "
    "analyzes, measured in-engine as one extra combiner aggregate over "
    "the encode pass's own rows. Exact int64 until the final mean; a "
    "rising per-label distortion is the retrain-the-codebook tripwire "
    "that pairs with sim_ann_recall's retrieval gate",
    tags=("similarity", "pq", "evaluation"),
)
def emb_pq_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    t = load_tables(spark, sf_dir)
    emb = t["embeddings"]
    n = _quantized_with_norm(emb).join(
        emb.select("vec_id", "label"), "vec_id"
    )
    cnt = emb.count()
    stride = max(1, math.ceil(cnt / PQ_K))
    subs = n.select(
        "vec_id",
        "label",
        F.posexplode(
            F.array(
                *[
                    F.slice(F.col("qv"), s * PQ_SUBDIM + 1, PQ_SUBDIM)
                    for s in range(PQ_M)
                ]
            )
        ).alias("s", "sv"),
    )
    cents = subs.filter(F.col("vec_id") % stride == 0).select(
        "s", F.col("sv").alias("cv")
    )
    d2 = F.aggregate(
        F.zip_with(F.col("sv"), F.col("cv"), lambda x, c: (x - c) * (x - c)),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )
    per_vec = (
        subs.join(F.broadcast(cents), "s")
        .select("vec_id", "label", "s", d2.alias("d2"))
        .groupBy("vec_id", "label", "s")
        .agg(F.min("d2").alias("mind2"))
        .groupBy("vec_id", "label")
        .agg(F.sum("mind2").alias("dist"))
    )
    return (
        per_vec.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.round(F.sum("dist") / F.count(F.lit(1)), 4).alias("mean_dist"),
            F.max("dist").cast("long").alias("max_dist"),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# k-NN graph construction: every vector's top-KNN_K neighbors among its
# LSH bucket-mates — the standing artifact graph-based curation consumes
# (semantic dedup clusters over its connected components, diversity
# sampling walks it, label propagation spreads quality scores along it).
# sim_ann_lsh answers "nearest neighbors of 5 probe vectors"; this is the
# all-vectors variant whose cost model is the one that matters at corpus
# scale: ONE code equi-join (never all-pairs, bucket population pinned by
# the auto-sized width), exact quantized cosine on bucket-mates only, and
# a per-vector TOP-k window bounded by bucket size. Vectors alone in
# their bucket contribute no edges — the honest LSH recall trade, same as
# every bucketed operator in this family.
# ---------------------------------------------------------------------------
KNN_K = 3


def _knn_graph_oracle() -> str:
    bits_expr = duck_auto_bits(
        "(SELECT COUNT(*) FROM embeddings)",
        ANN_TARGET_BUCKET,
        ANN_LSH_MIN_BITS,
        ANN_LSH_MAX_BITS,
    )
    code = (
        f"({_duck_lsh_code('qv')} & "
        f"((CAST(1 AS BIGINT) << ({bits_expr})) - 1))"
    )
    return f"""
    WITH q AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * {QUANT}) AS BIGINT)) AS qv
      FROM embeddings
    ),
    n AS (
      SELECT vec_id, qv, list_sum(list_transform(qv, x -> x * x)) AS nrm2,
             {code} AS code
      FROM q
    ),
    scored AS (
      SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
             list_sum(list_transform(range(1, len(a.qv) + 1), i -> a.qv[i] * b.qv[i]))
               / (sqrt(CAST(a.nrm2 AS DOUBLE)) * sqrt(CAST(b.nrm2 AS DOUBLE))) AS cos_raw
      FROM n a JOIN n b ON a.code = b.code AND b.vec_id <> a.vec_id
    ),
    ranked AS (
      SELECT vec_id, neighbor_id, cos_raw,
             ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY cos_raw DESC, neighbor_id) AS rnk
      FROM scored
    )
    SELECT vec_id, CAST(rnk AS INTEGER) AS rnk, neighbor_id,
           ROUND(cos_raw, 6) AS cos
    FROM ranked WHERE rnk <= {KNN_K}
    ORDER BY vec_id, rnk
    """


@query(
    "emb_knn_graph",
    _knn_graph_oracle(),
    doc=f"k-NN graph over the whole corpus (top-{KNN_K} neighbors per "
    "vector among LSH bucket-mates): the standing artifact graph-based "
    "curation consumes — semantic-dedup components, diversity walks, "
    "score propagation. One auto-width code equi-join + exact quantized "
    "cosine + a per-vector TOP-k window bounded by bucket population; "
    "the all-vectors analog of sim_ann_lsh with the same oracle-mirrored "
    "width formula, never an all-pairs product",
    tags=("embeddings", "similarity", "graph"),
)
def emb_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    base = _quantized_with_norm(t["embeddings"])
    bits = ann_lsh_bits(t["embeddings"].count())
    n = base.join(
        _plane_dot_codes(base, [_PLANES[:bits]]).select(
            "vec_id", F.col("c").alias("code")
        ),
        "vec_id",
    )
    # per-bucket top-k via one chunked matmul per code bucket (round 11):
    # each vector lives in exactly one bucket, so the bucket-local
    # candidates ARE its full candidate set, and the boundary-tie superset
    # keeps the window's exact (cos DESC, neighbor_id) cut.
    scored = _bucket_topk_arrow(n.select("code", "vec_id", "qv", "nrm2"), KNN_K)
    w = Window.partitionBy("vec_id").orderBy(
        F.col("cos_raw").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= KNN_K)
        .select(
            "vec_id", "rnk", "neighbor_id", F.round("cos_raw", 6).alias("cos")
        )
        .orderBy("vec_id", "rnk")
    )


# ---------------------------------------------------------------------------
# Hybrid retrieval: reciprocal-rank fusion (Cormack et al., SIGIR 2009) of
# the lexical BM25 more-like-this list and the embedding cosine list for
# the same seed document — the standard two-leg retrieval a RAG/curation
# stack runs (lexical catches exact phrasing, dense catches paraphrase).
# RRF(d) = Σ_legs 1/(k + rank_leg(d)) with k = 60; computed in fixed-point
# integers (1e9 // (60 + rank)) so fusion scores are exact int64 and the
# final cut is total-order deterministic. Each leg is TakeOrdered(50) —
# the global rank window runs AFTER the limit bounds its input, the
# text_zipf_coverage pattern.
# ---------------------------------------------------------------------------
RRF_K = 60
RRF_SCALE = 10**9
HYBRID_LIST = 50  # per-leg candidate list depth
HYBRID_TOP = 10


def _hybrid_rrf_oracle() -> str:
    from compass_query_optimizer_spark.operators.text import BM25_CTES

    return f"""
    WITH {BM25_CTES},
    lex AS (
      SELECT doc_id, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rl
      FROM (SELECT * FROM bm25 ORDER BY score DESC, doc_id LIMIT {HYBRID_LIST})
    ),
    q AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * {QUANT}) AS BIGINT)) AS qv
      FROM embeddings
    ),
    nv AS (
      SELECT vec_id, qv, list_sum(list_transform(qv, x -> x * x)) AS nrm2 FROM q
    ),
    seed AS (
      SELECT * FROM nv WHERE vec_id = (SELECT MIN(vec_id) FROM embeddings)
    ),
    cosb AS (
      SELECT b.vec_id,
             list_sum(list_transform(range(1, len(a.qv) + 1), i -> a.qv[i] * b.qv[i]))
               / (sqrt(CAST(a.nrm2 AS DOUBLE)) * sqrt(CAST(b.nrm2 AS DOUBLE))) AS cos_raw
      FROM nv b, seed a WHERE b.vec_id <> a.vec_id
    ),
    emb AS (
      SELECT vec_id, ROW_NUMBER() OVER (ORDER BY cos_raw DESC, vec_id) AS re
      FROM (SELECT * FROM cosb ORDER BY cos_raw DESC, vec_id LIMIT {HYBRID_LIST})
    ),
    fused AS (
      SELECT COALESCE(l.doc_id, e.vec_id) AS doc_id, l.rl, e.re,
             COALESCE({RRF_SCALE} // ({RRF_K} + l.rl), 0)
               + COALESCE({RRF_SCALE} // ({RRF_K} + e.re), 0) AS rrf
      FROM lex l FULL OUTER JOIN emb e ON l.doc_id = e.vec_id
    )
    SELECT doc_id, CAST(rl AS INTEGER) AS lex_rank,
           CAST(re AS INTEGER) AS emb_rank, CAST(rrf AS BIGINT) AS rrf
    FROM fused ORDER BY rrf DESC, doc_id LIMIT {HYBRID_TOP}
    """


@query(
    "sim_hybrid_rrf",
    None,  # generated below (imports the shared BM25 CTE chain)
    doc=f"hybrid retrieval via reciprocal-rank fusion: the BM25 "
    f"more-like-this leg and the exact-cosine embedding leg (same seed "
    f"id) each produce a TakeOrdered({HYBRID_LIST}) candidate list, fused "
    f"by RRF = Σ 1e9//({RRF_K}+rank) in exact int64 — a document ranked "
    "by either phrasing or meaning surfaces, one ranked by both wins. "
    "Per-leg rank windows run AFTER the limit bounds their input "
    f"(never a corpus-wide sort); the fusion join is {HYBRID_LIST}×2 rows",
    tags=("similarity", "ir", "hybrid"),
)
def sim_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from compass_query_optimizer_spark.operators.text import bm25_mlt_scores

    t = load_tables(spark, sf_dir)
    lex_top = (
        bm25_mlt_scores(t["documents"])
        .orderBy(F.desc("score"), "doc_id")
        .limit(HYBRID_LIST)
    )
    lex = lex_top.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("score"), "doc_id"))
        .alias("rl"),
    )
    nv = _quantized_with_norm(t["embeddings"])
    seed = nv.orderBy("vec_id").limit(1).select(
        F.col("qv").alias("qa"), F.col("nrm2").alias("na"),
        F.col("vec_id").alias("seed_id"),
    )
    cosb = (
        nv.crossJoin(F.broadcast(seed))
        .filter(F.col("vec_id") != F.col("seed_id"))
        .select(
            "vec_id",
            _cos(F.col("qa"), F.col("qv"), F.col("na"), F.col("nrm2")).alias(
                "cos_raw"
            ),
        )
    )
    emb_top = cosb.orderBy(F.desc("cos_raw"), "vec_id").limit(HYBRID_LIST)
    emb = emb_top.select(
        "vec_id",
        F.row_number()
        .over(Window.orderBy(F.desc("cos_raw"), "vec_id"))
        .alias("re"),
    )
    fused = (
        lex.join(emb, lex["doc_id"] == emb["vec_id"], "full_outer")
        .select(
            F.coalesce(F.col("doc_id"), F.col("vec_id")).alias("doc_id"),
            "rl",
            "re",
            (
                F.coalesce(
                    F.expr(f"{RRF_SCALE} div ({RRF_K} + rl)"), F.lit(0)
                )
                + F.coalesce(
                    F.expr(f"{RRF_SCALE} div ({RRF_K} + re)"), F.lit(0)
                )
            ).alias("rrf"),
        )
    )
    return (
        fused.select(
            "doc_id",
            F.col("rl").cast("int").alias("lex_rank"),
            F.col("re").cast("int").alias("emb_rank"),
            F.col("rrf").cast("long"),
        )
        .orderBy(F.desc("rrf"), "doc_id")
        .limit(HYBRID_TOP)
    )


_registry._REGISTRY["sim_hybrid_rrf"].oracle = _hybrid_rrf_oracle


# ---------------------------------------------------------------------------
# Incremental ANN against a STANDING IVF index — the serving-side shape of
# the ANN family (the batch analog of dedup_incremental_minhash's standing
# MinHash index): the corpus (vec_id % 10 != 0) folds ONCE into the index
# artifact — a K-row centroid table plus a (cell → member) assignment
# table, both parquet-persistable — and each arrival batch (vec_id % 10
# == 0) probes it without touching the standing side again: assign each
# arrival to its IVF_NPROBE nearest centroids (broadcast K-row model),
# exact-rerank only the probed cells' members. Index build cost amortizes
# across arrival batches exactly like a real vector-serving deployment;
# per-arrival work is O(K + corpus·nprobe/K), never O(corpus).
# ---------------------------------------------------------------------------


def ivf_incremental_k(n_standing: int) -> int:
    """K = ceil(sqrt(N)) clamped to [IVF_K, IVF_INCR_MAX_K]: the standing
    index serves EVERY arrival (not 5 probe queries like sim_ann_ivf), so
    per-arrival candidate volume is corpus*nprobe/K — a FIXED K makes it
    linear in the corpus and the whole arrival batch quadratic. The
    round-8 scale sweep measured exactly that (867 s, 85.6x over 50x
    rows, at K=16); K tracking sqrt(N) pins cells at ~sqrt(N) members and
    per-arrival work at O(sqrt(N)*nprobe). IEEE sqrt is correctly
    rounded, so the SQL twin computes the identical K from COUNT(*)."""
    import math

    return max(
        IVF_K, min(IVF_INCR_MAX_K, math.ceil(math.sqrt(max(n_standing, 1))))
    )


def _ann_incremental_oracle(arrival_pred: str = "vec_id % 10 = 0") -> str:
    k = (
        f"GREATEST({IVF_K}, LEAST({IVF_INCR_MAX_K}, "
        f"CAST(ceil(sqrt(cnt)) AS BIGINT)))"
    )
    stride = (
        f"(SELECT GREATEST(1, (cnt + {k} - 1) // {k}) FROM "
        f"(SELECT COUNT(*) AS cnt FROM embeddings WHERE vec_id % 10 <> 0))"
    )
    return f"""
    WITH q AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * {QUANT}) AS BIGINT)) AS qv
      FROM embeddings
    ),
    n AS (
      SELECT vec_id, qv, list_sum(list_transform(qv, x -> x * x)) AS nrm2 FROM q
    ),
    standing AS (SELECT * FROM n WHERE vec_id % 10 <> 0),
    arrivals AS (SELECT * FROM n WHERE {arrival_pred}),
    cents AS (
      SELECT vec_id AS cid, qv AS cv FROM standing
      WHERE vec_id % {stride} = 0
    ),
    sd AS (
      SELECT s.vec_id, s.qv, s.nrm2, c.cid,
             list_sum(list_transform(range(1, len(s.qv) + 1),
                      i -> (s.qv[i] - c.cv[i]) * (s.qv[i] - c.cv[i]))) AS d2
      FROM standing s CROSS JOIN cents c
    ),
    sc AS (
      SELECT vec_id, qv, nrm2, cid,
             ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS crk
      FROM sd
    ),
    index_members AS (
      SELECT cid, vec_id AS neighbor_id, qv AS qb, nrm2 AS nb
      FROM sc WHERE crk = 1
    ),
    ad AS (
      SELECT a.vec_id, a.qv, a.nrm2, c.cid,
             list_sum(list_transform(range(1, len(a.qv) + 1),
                      i -> (a.qv[i] - c.cv[i]) * (a.qv[i] - c.cv[i]))) AS d2
      FROM arrivals a CROSS JOIN cents c
    ),
    ac AS (
      SELECT vec_id, qv, nrm2, cid,
             ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS crk
      FROM ad
    ),
    probes AS (
      SELECT vec_id AS arrival_id, qv AS qa, nrm2 AS na, cid
      FROM ac WHERE crk <= {IVF_NPROBE}
    ),
    scored AS (
      SELECT p.arrival_id, m.neighbor_id,
             list_sum(list_transform(range(1, len(p.qa) + 1), i -> p.qa[i] * m.qb[i]))
               / (sqrt(CAST(p.na AS DOUBLE)) * sqrt(CAST(m.nb AS DOUBLE))) AS cos_raw
      FROM probes p JOIN index_members m USING (cid)
    ),
    ranked AS (
      SELECT arrival_id, neighbor_id, cos_raw,
             ROW_NUMBER() OVER (PARTITION BY arrival_id
                                ORDER BY cos_raw DESC, neighbor_id) AS rnk
      FROM scored
    )
    SELECT arrival_id, CAST(rnk AS INTEGER) AS rnk, neighbor_id,
           ROUND(cos_raw, 6) AS cos
    FROM ranked WHERE rnk <= {TOP_K}
    ORDER BY arrival_id, rnk
    """


def incremental_standing_parts(spark: SparkSession, sf_dir: str):
    """(cents, index_members) of the incremental IVF index, PRE-checkpoint.

    Exposed separately so the plan gate can assert the standing fold's
    shape: the corpus-sized N×K assignment runs through
    :func:`nearest_cells` — ONE vectorized mapInPandas whose chunks
    score against the collected centroid matrix with a single BLAS
    matmul (round 11; a crossJoin argmin evaluated the 64-element
    distance lambda N·K times and was measured as the ANN wall at 1M
    vectors), never a per-vector `row_number` window (sort exchange of
    all N×K rows) and never min(struct) (SortAggregate). Tie-breaking
    matches the oracle's ORDER BY d2, cid.
    The member payload (qv, nrm2) re-joins by vec_id AFTER the argmin,
    so only (vec_id, cid) pairs leave the assignment."""
    t = load_tables(spark, sf_dir)
    n = _quantized_with_norm(t["embeddings"])
    standing = n.filter(F.col("vec_id") % 10 != 0)
    cnt = standing.count()
    k = ivf_incremental_k(cnt)
    stride = max(1, (cnt + k - 1) // k)
    cents = standing.filter(F.col("vec_id") % stride == 0).select(
        F.col("vec_id").alias("cid"), F.col("qv").alias("cv")
    )
    cells = nearest_cells(standing, cents, nprobe=1)
    index_members = standing.join(cells, "vec_id").select(
        "cid",
        F.col("vec_id").alias("neighbor_id"),
        F.col("qv").alias("qb"),
        F.col("nrm2").alias("nb"),
    )
    return cents, index_members


@query(
    "sim_ann_incremental",
    _ann_incremental_oracle(),
    doc="incremental ANN against a standing IVF index (the vector-serving "
    "shape, batch analog of dedup_incremental_minhash): the standing "
    "corpus folds ONCE into a K-row centroid table + (cell → member) "
    "assignment table — the parquet-persistable index artifact — and "
    f"arrival batches probe {IVF_NPROBE} nearest cells with exact "
    "rerank on probed members only. K AUTO-SIZES to ceil(sqrt(N)) from "
    "the plan-time standing count (oracle-mirrored), so per-arrival work "
    "is O(sqrt(N)·nprobe) — the round-8 sweep measured the fixed-K=16 "
    "version quadratic (867 s at 250k) and this is the fix; the standing "
    "fold assigns cells by a vectorized argmin (no corpus-wide window "
    "exchange) and the standing side is never rescanned",
    tags=("similarity", "ivf", "incremental"),
)
def sim_ann_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    n = _quantized_with_norm(t["embeddings"])
    arrivals = n.filter(F.col("vec_id") % 10 == 0)
    cents, members = incremental_standing_parts(spark, sf_dir)
    # the standing index: one fold, persistable as (cents, index_members);
    # lazy checkpoint (round 12) — the serve job materializes it, one
    # driver action instead of two
    index_members = members.localCheckpoint(eager=False)
    return serve_arrivals(arrivals, cents, index_members)


@query(
    "sim_ann_persisted",
    _ann_incremental_oracle(arrival_pred="vec_id % 10 = 5"),
    doc="persisted-index serving round-trip, oracle-gated: the standing "
    "incremental-IVF index folds once, is WRITTEN to parquet (cents + "
    "cell-member assignment — the artifact a real vector-serving "
    "deployment ships between jobs), RELOADED with spark.read.parquet, "
    "and a second, different arrival batch (vec_id % 10 = 5) is served "
    "entirely from the reloaded tables through the same probe path — "
    "the standing corpus is never rescanned. The oracle recomputes the "
    "identical fold+probe in SQL, so the gate proves the parquet "
    "round-trip is lossless (int64 qv / nrm2 survive exactly) and the "
    "serving path has no hidden dependency on in-session state. At "
    "100 TB this is the shape that matters: index build is a nightly "
    "job, serving reads only the persisted artifact",
    tags=("similarity", "ivf", "incremental", "persistence"),
)
def sim_ann_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib
    import os

    from compass_query_optimizer_spark.session import scratch_dir

    t = load_tables(spark, sf_dir)
    n = _quantized_with_norm(t["embeddings"])
    batch2 = n.filter(F.col("vec_id") % 10 == 5)
    cents, members = incremental_standing_parts(spark, sf_dir)
    # per-sf_dir content tag inside the process-scoped scratch root:
    # reruns in one session overwrite a single dir (no per-run temp leak),
    # concurrent processes never share a path (round-10 advice)
    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:12]
    base = scratch_dir(spark, "annindex", tag)
    cents.write.mode("overwrite").parquet(os.path.join(base, "cents"))
    members.write.mode("overwrite").parquet(os.path.join(base, "members"))
    cents2 = spark.read.parquet(os.path.join(base, "cents"))
    members2 = spark.read.parquet(os.path.join(base, "members"))
    return serve_arrivals(batch2, cents2, members2)


def _rerank_cells_arrow(probes: DataFrame, index_members: DataFrame) -> DataFrame:
    """Per-(arrival, probed cell) exact top-TOP_K via one cogrouped
    matmul per cell (round 11, guide §4.2): the JVM rerank evaluates a
    64-dim cosine lambda per (arrival, member) pair —
    arrivals·nprobe·cell-size evaluations, the term that kept
    sim_ann_incremental superlinear after the assignment fix (~1.6e9
    pairs at 4M). Here each cell's probe matrix Q and member matrix M
    meet in :func:`_cosine_chunks` — row chunks of Q·Mᵀ, bit-identical
    to the JVM `_cos`. The global top-TOP_K per arrival is a subset of the
    union of its per-cell top-TOP_K (if TOP_K members of one cell beat a
    candidate, they beat it globally), so emitting per-cell top-TOP_K
    rows preserves the final ranking exactly while the downstream window
    sees nprobe·TOP_K rows per arrival instead of whole cells."""
    import numpy as np

    def rerank(left, right):
        parts = []
        if len(left) and len(right):
            aid = left["arrival_id"].to_numpy()
            nid = right["neighbor_id"].to_numpy()
            take = min(TOP_K, len(right))
            chunks = _cosine_chunks(
                _int_matrix(left["qa"]),
                left["na"].to_numpy(),
                _int_matrix(right["qb"]),
                right["nb"].to_numpy(),
            )
            for lo, cos in chunks:
                for i, row in enumerate(cos):
                    # ties on cos break toward the smallest neighbor_id,
                    # exactly the window's ORDER BY cos_raw DESC, neighbor_id
                    order = np.lexsort((nid, -row))[:take]
                    ids_a = np.full(take, aid[lo + i])
                    parts.append((ids_a, nid[order], row[order]))
        return _score_frame(("arrival_id", "neighbor_id", "cos_raw"), parts)

    return (
        probes.groupBy("cid")
        .cogroup(index_members.select("cid", "neighbor_id", "qb", "nb").groupBy("cid"))
        .applyInPandas(
            rerank, schema="arrival_id long, neighbor_id long, cos_raw double"
        )
    )


def serve_arrivals(
    arrivals: DataFrame,
    cents: DataFrame,
    index_members: DataFrame,
) -> DataFrame:
    """Probe a standing incremental-IVF index with an arrival batch.

    Takes the index as DATA (cents: cid/cv, index_members: cid/
    neighbor_id/qb/nb) so the caller decides its provenance — freshly
    folded, localCheckpoint'ed, or `spark.read.parquet` of a persisted
    artifact; the persisted round-trip test serves a second batch from
    reloaded tables through this exact path. Arrival probes go through
    :func:`nearest_cells` with nprobe=IVF_NPROBE (top-n per vector) and
    re-join the (qv, nrm2) payload by vec_id, so the batch×K distance
    expansion never carries vectors; the per-cell exact rerank runs
    through :func:`_rerank_cells_arrow`."""
    probes = (
        nearest_cells(arrivals, cents, nprobe=IVF_NPROBE)
        .join(arrivals.select("vec_id", "qv", "nrm2"), "vec_id")
        .select(
            F.col("vec_id").alias("arrival_id"),
            F.col("qv").alias("qa"),
            F.col("nrm2").alias("na"),
            "cid",
        )
    )
    scored = _rerank_cells_arrow(probes, index_members)
    w = Window.partitionBy("arrival_id").orderBy(
        F.col("cos_raw").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .select(
            "arrival_id", "rnk", "neighbor_id",
            F.round("cos_raw", 6).alias("cos"),
        )
        .orderBy("arrival_id", "rnk")
    )
