"""Persisted ANN index round-trip: the incremental IVF index's claim is
that (cents, index_members) are a parquet-persistable artifact. Prove it
end-to-end: fold once, write both tables to parquet, RELOAD them, and
serve arrival batches through the identical probe path — results must be
row-identical to the in-memory fold, and a second, different batch must
serve correctly from the same persisted files (no refold)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from compass_query_optimizer_spark.catalog import load_tables
from compass_query_optimizer_spark.operators.similarity import (
    _quantized_with_norm,
    incremental_standing_parts,
    serve_arrivals,
)
from tests.conftest import SF_DIR


def test_persisted_incremental_index_roundtrip(spark, tmp_path):
    cents, members = incremental_standing_parts(spark, SF_DIR)
    cents.write.parquet(str(tmp_path / "cents"))
    members.write.parquet(str(tmp_path / "members"))

    cents2 = spark.read.parquet(str(tmp_path / "cents"))
    members2 = spark.read.parquet(str(tmp_path / "members"))

    n = _quantized_with_norm(load_tables(spark, SF_DIR)["embeddings"])
    arrivals = n.filter(F.col("vec_id") % 10 == 0)

    from compass_query_optimizer_spark.registry import all_queries

    direct = all_queries()["sim_ann_incremental"].build(spark, SF_DIR).collect()
    served = (
        serve_arrivals(arrivals, cents2, members2)
        .orderBy("arrival_id", "rnk")
        .collect()
    )
    assert [tuple(r) for r in served] == [tuple(r) for r in direct]
    assert len(served) > 0


def test_persisted_index_serves_a_second_batch(spark, tmp_path):
    """A later batch probes the SAME persisted files — the serving path
    never refolds the corpus. Batch-2 queries are standing vectors, so
    each must retrieve itself at rank 1 with cosine 1.0 (its own cell is
    its nearest cell, and it is a member of that cell)."""
    cents, members = incremental_standing_parts(spark, SF_DIR)
    cents.write.parquet(str(tmp_path / "cents"))
    members.write.parquet(str(tmp_path / "members"))
    cents2 = spark.read.parquet(str(tmp_path / "cents"))
    members2 = spark.read.parquet(str(tmp_path / "members"))

    n = _quantized_with_norm(load_tables(spark, SF_DIR)["embeddings"])
    batch2 = n.filter(F.col("vec_id") % 10 == 5)
    out = serve_arrivals(batch2, cents2, members2)
    top1 = {r["arrival_id"]: r for r in out.filter(F.col("rnk") == 1).collect()}
    n_batch2 = batch2.count()
    assert len(top1) == n_batch2 > 0
    for arrival_id, row in top1.items():
        assert row["neighbor_id"] == arrival_id, row
        assert row["cos"] == 1.0, row


def test_registered_persisted_entry_matches_in_session_fold(spark):
    """The registered sim_ann_persisted entry (write → reload → serve
    batch vec_id%10==5) must be row-identical to serving the same batch
    from the in-session fold — the parquet round-trip adds nothing and
    loses nothing."""
    from compass_query_optimizer_spark.registry import all_queries

    cents, members = incremental_standing_parts(spark, SF_DIR)
    n = _quantized_with_norm(load_tables(spark, SF_DIR)["embeddings"])
    batch5 = n.filter(F.col("vec_id") % 10 == 5)
    in_session = (
        serve_arrivals(batch5, cents, members.localCheckpoint(eager=True))
        .orderBy("arrival_id", "rnk")
        .collect()
    )
    via_entry = (
        all_queries()["sim_ann_persisted"]
        .build(spark, SF_DIR)
        .orderBy("arrival_id", "rnk")
        .collect()
    )
    assert [tuple(r) for r in via_entry] == [tuple(r) for r in in_session]
    assert len(via_entry) > 0


def _collect_qv(df, id_col):
    import numpy as np

    rows = sorted(df.select(id_col, "qv").collect())
    ids = np.asarray([r[0] for r in rows], dtype=np.int64)
    return ids, np.asarray([list(r[1]) for r in rows], dtype=np.int64)


def _embeddings_table(vecs):
    import pyarrow as pa

    return pa.table(
        {
            "vec_id": pa.array(range(len(vecs)), pa.int64()),
            "embedding": pa.array(
                [v.tolist() for v in vecs], pa.list_(pa.float32())
            ),
            "label": pa.array([0] * len(vecs), pa.int32()),
        }
    )


def test_ann_assign_paths_agree(spark):
    """nearest_cells (vectorized float64 BLAS matmul per chunk; exact
    because every product and 64-term sum of quantized coordinates sits
    ~4 decades under 2^53) must return the IDENTICAL (id, crk, cid) rows
    as a NumPy brute force over exact int64 squared L2, for both the
    argmin (nprobe=1) and top-n (nprobe=2) shapes, including d2 ties
    broken on smallest cid."""
    import numpy as np

    from compass_query_optimizer_spark.operators.similarity import (
        nearest_cells,
    )

    n = _quantized_with_norm(load_tables(spark, SF_DIR)["embeddings"])
    standing = n.filter(F.col("vec_id") % 10 != 0)
    cents = standing.filter(F.col("vec_id") % 97 == 0).select(
        F.col("vec_id").alias("cid"), F.col("qv").alias("cv")
    )
    ids, x = _collect_qv(standing, "vec_id")
    cids, c = _collect_qv(cents.withColumnRenamed("cv", "qv"), "cid")
    d2 = ((x[:, None, :] - c[None, :, :]) ** 2).sum(axis=2)
    for nprobe in (1, 2):
        got = sorted(
            tuple(r)
            for r in nearest_cells(standing, cents, nprobe=nprobe).collect()
        )
        want = sorted(
            (int(ids[i]), rank + 1, int(cids[j]))
            for i in range(len(ids))
            for rank, j in enumerate(np.lexsort((cids, d2[i]))[:nprobe])
        )
        assert got == want
        assert len(got) == len(ids) * nprobe


def test_nearest_cells_raises_above_the_exact_bound(spark, tmp_path):
    """Quantized coordinates of 10^7 (embedding components of 1000.0)
    put ‖c‖² − 2x·c past 2^52 at dim 64, where float64 scores stop being
    exact and an int64 matmul can wrap: the assignment must fail loudly
    and name the bound instead of returning a guessed argmin."""
    import numpy as np
    import pyarrow.parquet as pq
    import pytest

    from compass_query_optimizer_spark.operators.similarity import (
        nearest_cells,
    )

    vecs = np.random.RandomState(3).randn(40, 64).astype(np.float32)
    vecs[:, 0] = 1000.0
    pq.write_table(_embeddings_table(vecs), str(tmp_path / "embeddings.parquet"))
    n = _quantized_with_norm(load_tables(spark, str(tmp_path))["embeddings"])
    cents = n.filter(F.col("vec_id") % 8 == 0).select(
        F.col("vec_id").alias("cid"), F.col("qv").alias("cv")
    )
    with pytest.raises(Exception, match=r"2\^52"):
        nearest_cells(n, cents).collect()


def test_pq_encode_paths_agree(spark):
    """Round 11: PQ code assignment has two implementations — the default
    Arrow path (pq_codes_arrow: one mapInPandas scoring all M subspaces
    per chunk against the collected sub-codebooks) and the JVM
    broadcast-join + combiner-argmin expansion. They must return
    IDENTICAL (vec_id, s, code) rows, including d2 ties broken on the
    smallest centroid id."""
    from compass_query_optimizer_spark.operators.similarity import (
        PQ_M,
        PQ_SUBDIM,
        pq_codes_arrow,
    )

    n = _quantized_with_norm(load_tables(spark, SF_DIR)["embeddings"])
    subs = n.select(
        "vec_id",
        F.posexplode(
            F.array(
                *[
                    F.slice(F.col("qv"), s * PQ_SUBDIM + 1, PQ_SUBDIM)
                    for s in range(PQ_M)
                ]
            )
        ).alias("s", "sv"),
    )
    cents = subs.filter(F.col("vec_id") % 97 == 0).select(
        F.col("vec_id").alias("cid"), "s", F.col("sv").alias("cv")
    )
    arrow = sorted(
        tuple(r)
        for r in pq_codes_arrow(n, cents, subdim=PQ_SUBDIM).collect()
    )
    d2 = F.aggregate(
        F.zip_with(F.col("sv"), F.col("cv"), lambda x, c: (x - c) * (x - c)),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )
    jvm = sorted(
        tuple(r)
        for r in subs.join(F.broadcast(cents), "s")
        .select("vec_id", "s", "cid", d2.alias("d2"))
        .groupBy("vec_id", "s")
        .agg(F.min(F.struct("d2", "cid")).alias("m"))
        .select("vec_id", "s", F.col("m.cid").alias("code"))
        .collect()
    )
    assert arrow == jvm
    assert len(arrow) == n.count() * PQ_M


def _planted_dups_vs_oracle(spark, tmp_path, name, seed, scale=1.0):
    """(spark rows, DuckDB oracle rows) of registry entry ``name`` over a
    300-vector corpus with 30 planted near-duplicate pairs: a 1e-3
    perturbation keeps cosine ~0.9999 and identical hyperplane sign
    codes, so candidates AND the threshold cut both fire. The driver
    fixtures plant no embedding near-dups (these entries are green at 0
    dropped rows there), so this is the entries' only value check.
    ``scale`` multiplies every embedding after planting (cosines and sign
    codes are scale-free)."""
    import duckdb
    import numpy as np
    import pyarrow.parquet as pq

    from compass_query_optimizer_spark.registry import all_queries

    rng = np.random.RandomState(seed)
    vecs = rng.randn(300, 64).astype(np.float32)
    for i in range(0, 60, 2):
        vecs[i + 1] = vecs[i] + rng.randn(64).astype(np.float32) * 1e-3
    vecs *= np.float32(scale)
    path = tmp_path / "embeddings.parquet"
    pq.write_table(_embeddings_table(vecs), str(path))

    spec = all_queries()[name]
    got = sorted(tuple(r) for r in spec.build(spark, str(tmp_path)).collect())
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM '{path}'")
    want = sorted(tuple(r) for r in con.execute(spec.oracle_text()).fetchall())
    return got, want


def test_dup_lsh_matches_oracle_on_planted_dups(spark, tmp_path):
    """dedup_embedding_lsh's per-bucket chunked-matmul verify must return
    the oracle's (id_a, id_b, cos) rows exactly: integer dots are exact in
    float64 and the divide is the same IEEE sequence, so the threshold
    cut and the rounding agree bit-for-bit."""
    got, want = _planted_dups_vs_oracle(
        spark, tmp_path, "dedup_embedding_lsh", seed=7
    )
    assert got == want
    assert len(got) >= 30


def test_semantic_matches_oracle_on_planted_dups(spark, tmp_path):
    """dedup_semantic's per-(cell, sub) chunked-matmul verify must keep
    and drop exactly the oracle's vectors on planted near-dups."""
    got, want = _planted_dups_vs_oracle(
        spark, tmp_path, "dedup_semantic", seed=11
    )
    assert got == want
    assert sum(1 for r in got if not r[2]) >= 30  # planted dups dropped


@pytest.mark.parametrize("name", ["dedup_embedding_lsh", "emb_knn_graph"])
def test_int64_dot_branch_matches_oracle(spark, tmp_path, name):
    """Embeddings ×2000 put components past ~839, so dim·max|q|² passes
    2^52 and the bucket kernels score through the int64 branch of
    `_int_dots`, while every ‖q‖² stays far below 2^63. Rows must still
    equal the DuckDB oracle's."""
    import numpy as np

    from compass_query_optimizer_spark.operators.dedup import QUANT
    from compass_query_optimizer_spark.operators.similarity import _F64_EXACT

    qmax = np.abs(np.random.RandomState(7).randn(300, 64)).max() * 2000 * QUANT
    assert 64 * qmax**2 > 10 * _F64_EXACT
    got, want = _planted_dups_vs_oracle(
        spark, tmp_path, name, seed=7, scale=2000.0
    )
    assert got == want
    assert len(got) >= 30


def test_rerank_refuses_a_zero_norm_arrival(spark):
    """An all-zero arrival has a 0/0 cosine that Spark SQL and DuckDB rank
    greatest; the per-cell rerank must raise the same zero-norm
    ValueError as the bucket kernels instead of ranking the NaN."""
    cents = spark.createDataFrame(
        [(0, [1, 0]), (1, [0, 1])], "cid long, cv array<long>"
    )
    members = spark.createDataFrame(
        [(0, 10, [2, 1], 5), (1, 11, [1, 3], 10)],
        "cid long, neighbor_id long, qb array<long>, nb long",
    )
    zero = spark.createDataFrame(
        [(100, [0, 0], 0), (101, [1, 1], 2)],
        "vec_id long, qv array<long>, nrm2 long",
    )
    with pytest.raises(Exception, match="ValueError: zero-norm"):
        serve_arrivals(zero, cents, members).collect()


def test_plane_codes_paths_agree(spark):
    """The hyperplane code pass (mapInPandas ±1 matmul) must return the
    IDENTICAL (vec_id, t, c) rows as a NumPy int64 sign-matmul reference
    across multiple tables and widths."""
    import numpy as np

    from compass_query_optimizer_spark.operators.similarity import (
        _DUP_PLANES,
        _plane_dot_codes,
    )

    n = _quantized_with_norm(load_tables(spark, SF_DIR)["embeddings"])
    tables = [p[:9] for p in _DUP_PLANES]
    got = sorted(tuple(r) for r in _plane_dot_codes(n, tables).collect())
    ids, x = _collect_qv(n, "vec_id")
    want = []
    for t, planes in enumerate(tables):
        bits = (x @ np.asarray(planes, dtype=np.int64).T) >= 0
        codes = (bits * (1 << np.arange(len(planes), dtype=np.int64))).sum(axis=1)
        want += [(int(i), t, int(c)) for i, c in zip(ids, codes)]
    assert got == sorted(want)
    assert len(got) == len(ids) * len(tables)


def _fetched_rows(monkeypatch, df):
    """Spy on ``collect`` of ``df``'s DataFrame class: the row counts every
    collect returned."""
    cls = type(df)
    collect = cls.collect
    sizes = []

    def spy(self):
        rows = collect(self)
        sizes.append(len(rows))
        return rows

    monkeypatch.setattr(cls, "collect", spy)
    return sizes


def test_centroid_collect_stops_one_row_past_the_cap(spark, monkeypatch):
    """_collect_centroids accepts exactly _CENT_COLLECT_CAP centroids,
    raises at one more, and never fetches more than cap + 1 rows to the
    driver, however far over the cap the table is."""
    import pytest

    from compass_query_optimizer_spark.operators import similarity as sim

    cap = sim._CENT_COLLECT_CAP

    def cents(n):
        return spark.range(n).selectExpr("id AS cid", "array(id % 7) AS cv")

    sizes = _fetched_rows(monkeypatch, cents(1))
    assert len(sim._collect_centroids(cents(cap)).ids) == cap
    with pytest.raises(ValueError, match="collect cap"):
        sim._collect_centroids(cents(cap + 1))
    with pytest.raises(ValueError, match="collect cap"):
        sim._collect_centroids(cents(4 * cap))
    assert sizes == [cap, cap + 1, cap + 1]


def test_subcodebook_collect_stops_one_row_past_the_cap(spark, monkeypatch):
    import pytest

    from compass_query_optimizer_spark.operators import similarity as sim

    cap = sim._CENT_COLLECT_CAP

    def rcents(n):
        return spark.range(n).selectExpr(
            "id % 4 AS s", "id AS rcid", "array(id % 5, id % 3) AS rcv"
        )

    sizes = _fetched_rows(monkeypatch, rcents(1))
    assert len(sim._collect_subcodebooks(rcents(cap), "rcid", "rcv")) == 4
    with pytest.raises(ValueError, match="collect cap"):
        sim._collect_subcodebooks(rcents(cap + 1), "rcid", "rcv")
    with pytest.raises(ValueError, match="collect cap"):
        sim._collect_subcodebooks(rcents(4 * cap), "rcid", "rcv")
    assert sizes == [cap, cap + 1, cap + 1]


def test_ivfpq_closure_byte_bound():
    """A codebook of K rows at dim d carries K·(16 + 16·d) bytes (ids and
    ‖c‖² in 8 B each, the int64 and float64 matrices in 8 B per cell):
    K = 65,536 at d = 63 is exactly _CLOSURE_BYTES_CAP, one row more is
    over it."""
    import numpy as np
    import pytest

    from compass_query_optimizer_spark.operators import similarity as sim

    def book(k, dim=63):
        return sim._codebook(np.arange(k), np.zeros((k, dim), dtype=np.int64))

    assert 65_536 * (16 + 16 * 63) == sim._CLOSURE_BYTES_CAP
    sim._check_closure_bytes([book(65_536)])
    sim._check_closure_bytes([book(32_768), book(32_768)])
    with pytest.raises(ValueError, match="closure bound"):
        sim._check_closure_bytes([book(65_537)])
    with pytest.raises(ValueError, match="closure bound"):
        sim._check_closure_bytes([book(32_768), book(32_768), book(1, dim=1)])


def test_ivfpq_assign_encode_checks_the_closure_bound(spark, monkeypatch):
    """Every Arrow codebook kernel (nearest_cells, pq_codes_arrow and the
    fused ivfpq_assign_encode_arrow) runs the byte check on the codebooks
    its closure carries before it builds the mapInPandas."""
    import pytest

    from compass_query_optimizer_spark.operators import similarity as sim

    vecs = spark.range(8).selectExpr("id AS vec_id", "array(id, id) AS qv")
    cents = spark.range(2).selectExpr("id AS cid", "array(id, 0L) AS cv")
    rcents = spark.range(4).selectExpr("id % 2 AS s", "id AS rcid", "array(id) AS rcv")
    # 2 coarse rows at dim 2 hold 2·48 bytes, 2×2 sub-rows at dim 1 2·2·32
    cases = [
        (lambda: sim.nearest_cells(vecs, cents), 2 * 48, 8),
        (
            lambda: sim.pq_codes_arrow(
                vecs, rcents, subdim=1, cent_id_col="rcid", cent_vec_col="rcv"
            ),
            2 * 2 * 32,
            16,
        ),
        (
            lambda: sim.ivfpq_assign_encode_arrow(vecs, cents, rcents, subdim=1),
            2 * 48 + 2 * 2 * 32,
            16,
        ),
    ]
    for build, nbytes, rows in cases:
        monkeypatch.setattr(sim, "_CLOSURE_BYTES_CAP", nbytes)
        assert build().count() == rows
        monkeypatch.setattr(sim, "_CLOSURE_BYTES_CAP", nbytes - 1)
        with pytest.raises(ValueError, match="closure bound"):
            build()
