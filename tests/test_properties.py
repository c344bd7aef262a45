"""Property-based tests (hypothesis): the SQL-text manipulating layers must
hold invariants on arbitrary inputs, not just the corpus queries."""

from __future__ import annotations

import re

from hypothesis import given, settings
from hypothesis import strategies as st

from compass_query_optimizer_spark.functions.dialect import to_spark_sql
from compass_query_optimizer_spark.plans.graph import _split_top_level_and

_RESERVED = {"and", "or", "not", "between", "in", "is", "null", "like", "select", "from", "where"}
ident = st.from_regex(r"[a-z][a-z0-9_]{0,8}", fullmatch=True).filter(
    lambda s: s not in _RESERVED
)
literal = st.one_of(
    st.integers(-1000, 1000).map(str),
    ident.map(lambda s: f"'{s}'"),
)


@st.composite
def simple_predicate(draw):
    col = draw(ident)
    op = draw(st.sampled_from(["=", "<", ">", "<=", ">=", "<>"]))
    return f"{col} {op} {draw(literal)}"


@st.composite
def between_predicate(draw):
    return f"{draw(ident)} BETWEEN {draw(st.integers(0, 50))} AND {draw(st.integers(51, 99))}"


@st.composite
def or_group(draw):
    preds = draw(st.lists(simple_predicate(), min_size=2, max_size=3))
    return "(" + " OR ".join(preds) + ")"


conjunct = st.one_of(simple_predicate(), between_predicate(), or_group())


@given(st.lists(conjunct, min_size=1, max_size=6))
@settings(max_examples=200, deadline=None)
def test_split_and_rejoin_roundtrip(conjuncts):
    """Splitting a conjunction recovers exactly the conjuncts — BETWEEN's
    AND and parenthesized ORs never split."""
    expr = " AND ".join(conjuncts)
    assert _split_top_level_and(expr) == conjuncts


@given(st.lists(conjunct, min_size=1, max_size=4))
@settings(max_examples=100, deadline=None)
def test_split_never_loses_content(conjuncts):
    expr = " AND ".join(conjuncts)
    parts = _split_top_level_and(expr)
    strip = lambda s: re.sub(r"\s+|AND", "", s)
    assert strip("".join(parts)) == strip(expr)


@given(ident, st.integers(0, 100), ident)
@settings(max_examples=100, deadline=None)
def test_dialect_string_literals_never_rewritten(col, n, word):
    """Function names inside string literals survive every rewrite."""
    sql = f"SELECT DATEADD('day', {n}, {col}) FROM t WHERE s = 'DATEADD({word})' AND q = 'NOW()'"
    out = to_spark_sql(sql)
    assert f"'DATEADD({word})'" in out
    assert "'NOW()'" in out
    assert out.count("TIMESTAMPADD") == 1


@given(st.integers(0, 1000))
@settings(max_examples=50, deadline=None)
def test_dialect_idempotent_on_ansi(n):
    """ANSI SQL with no MapD-isms passes through byte-identical."""
    sql = f"SELECT a, COUNT(*) FROM t WHERE b >= {n} GROUP BY a ORDER BY a LIMIT 5"
    assert to_spark_sql(sql) == sql


# --- connected components: Spark min-label propagation vs union-find -------
edge = st.tuples(st.integers(0, 30), st.integers(0, 30)).filter(lambda e: e[0] != e[1])


def _union_find_components(edges):
    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


@given(st.lists(edge, min_size=1, max_size=25))
@settings(max_examples=12, deadline=None)
def test_connected_components_matches_union_find(spark, edges):
    from compass_query_optimizer_spark.operators.dedup import connected_components

    norm = [(min(a, b), max(a, b)) for a, b in edges]
    df = spark.createDataFrame(norm, "doc_a long, doc_b long")
    got = {r.id: r.lbl for r in connected_components(df).collect()}
    # min-merge union-find roots equal the component minima (the larger
    # root is always parented under the smaller), matching min-label CC
    assert got == _union_find_components(norm)


# --- eager-aggregation COUNT(*) vs raw join vs DuckDB -------------------

@st.composite
def join_case(draw):
    """A random 2–4 table chain-join spec over tiny integer tables with
    small key domains (forcing heavy multiplicities, empty joins, and
    skew), optionally with a per-table filter and a cross-alias residual."""
    n_tables = draw(st.integers(2, 4))
    tables = [
        draw(
            st.lists(
                st.tuples(st.integers(0, 3), st.integers(0, 3)),
                min_size=1,
                max_size=12,
            )
        )
        for _ in range(n_tables)
    ]
    edges = []
    for t in range(1, n_tables):
        prev = draw(st.integers(0, t - 1))
        edges.append(
            (prev, draw(st.sampled_from(["k1", "k2"])),
             t, draw(st.sampled_from(["k1", "k2"])))
        )
    filt = draw(st.none() | st.integers(0, 3))
    residual = draw(st.booleans())
    return tables, edges, filt, residual


@given(join_case())
@settings(max_examples=12, deadline=None)
def test_eager_count_equals_raw_and_duckdb(spark, case):
    """The eager multiplicity-algebra count must equal the raw-join count
    and DuckDB on arbitrary join graphs — including empty joins, repeated
    keys, self-referencing chains, filters, and non-equi residuals; the
    SUM/MIN/MAX measure generalization must agree with DuckDB on the
    same graphs (exact integers, NULL on the empty join)."""
    import duckdb
    import pandas as pd

    from compass_query_optimizer_spark.plans.optimizer import CompassOptimizer

    tables, edges, filt, residual = case
    n = len(tables)
    names = [f"t{i}" for i in range(n)]
    pdfs = {
        nm: pd.DataFrame(rows, columns=["k1", "k2"])
        for nm, rows in zip(names, tables)
    }
    sdfs = {nm: spark.createDataFrame(pdf) for nm, pdf in pdfs.items()}
    counts = {nm: len(pdf) for nm, pdf in pdfs.items()}

    froms = ", ".join(f"{nm} a{i}" for i, nm in enumerate(names))
    conds = [f"a{p}.{ca} = a{t}.{cb}" for p, ca, t, cb in edges]
    if filt is not None:
        conds.append(f"a0.k2 <= {filt}")
    if residual:
        conds.append(f"a0.k1 <= a{n - 1}.k2")
    sql = f"SELECT COUNT(*) AS cnt FROM {froms} WHERE {' AND '.join(conds)}"

    # the mid-chain re-aggregation fires on every step, so the shrink
    # path is exercised, not just per-table pre-aggregation
    opt = CompassOptimizer(spark)
    eager = int(
        opt.execute_count(sql, tables=sdfs, counts=counts, eager=True)
        .collect()[0]["cnt"]
    )
    plain = int(
        opt.execute_count(sql, tables=sdfs, counts=counts, eager=False)
        .collect()[0]["cnt"]
    )
    con = duckdb.connect()
    for nm, pdf in pdfs.items():
        con.register(nm, pdf)
    want = con.execute(sql).fetchone()[0]
    assert eager == plain == want, (sql, eager, plain, want)

    # the SUM/MIN/MAX/COUNT(DISTINCT) measure algebra must agree on the
    # same random graph (measure = last alias's k2 — integer-valued, so
    # SUM is exact; count_distinct yields 0, not NULL, on the empty join)
    msql_tpl = "SELECT {agg}(a%d.k2) AS v FROM %s WHERE %s" % (
        n - 1, froms, " AND ".join(conds)
    )
    def oracle_q(op: str) -> str:
        m = f"a{n - 1}.k2"
        base = f"FROM {froms} WHERE {' AND '.join(conds)}"
        if op in ("count_distinct", "count_distinct_auto"):
            return f"SELECT COUNT(DISTINCT {m}) AS v {base}"
        if op == "sum_distinct":
            return f"SELECT SUM(DISTINCT {m}) AS v {base}"
        return msql_tpl.format(agg=op.upper())

    # count_distinct_auto routes to the packed bitmap on these graphs
    # (small-int measures), so the bitmap chain is property-tested too;
    # sum_distinct rides the same set carrier with a summing final
    for op in (
        "sum",
        "min",
        "max",
        "count_distinct",
        "count_distinct_auto",
        "sum_distinct",
    ):
        e = opt.execute_count(
            sql, tables=sdfs, counts=counts, eager=True,
            measures=[(f"a{n - 1}", "k2", op)],
        ).collect()[0]["agg_val0"]
        w = con.execute(oracle_q(op)).fetchone()[0]
        if w is None:
            # count_distinct(_auto) yields 0 on the empty join in both
            # engines; sum/min/max/sum_distinct yield NULL
            assert e is None, (op, e)
        else:
            assert e is not None and int(e) == int(w), (op, sql, e, w)


def test_pca_power_tracks_numpy_iterate(spark):
    """The integer pipeline must track numpy's exact power iterate: both
    stage outputs (X^T(X·1) and the second application on the downscaled
    carry) point where float linear algebra points (cosine > 0.9999) —
    the adaptive integer downscales cost <1e-4 of direction, never zero
    the vector out (the failure mode of fixed shifts under random-sign
    cancellation). The fixture's near-isotropic spectrum (λ1/λ2 ≈ 1.07)
    means NO two-step method reaches the top eigenvector — convergence
    per step is what power iteration guarantees, and that is what the
    exact iterate comparison checks."""
    import numpy as np

    from compass_query_optimizer_spark.registry import all_queries

    rows = (
        all_queries()["emb_pca_power"]
        .build(spark, "/root/testdata/sf0.001")
        .collect()
    )
    rows = sorted(rows, key=lambda r: r["dim"])
    v1 = np.array([r["power1"] for r in rows], float)
    v2 = np.array([r["power2"] for r in rows], float)

    import pyarrow.parquet as pq

    X = np.array(
        pq.read_table("/root/testdata/sf0.001/embeddings.parquet")
        .column("embedding")
        .to_pylist(),
        dtype=float,
    )
    Xq = np.round(X * 10_000.0)  # the quantized matrix the operator sees
    t1 = Xq.T @ (Xq @ np.ones(64))
    t2 = Xq.T @ (Xq @ v1)  # second stage consumes the downscaled carry

    def cos(a, b):
        return abs(a @ b) / (np.linalg.norm(a) * np.linalg.norm(b))

    assert cos(v1, t1) > 0.9999, cos(v1, t1)
    assert cos(v2, t2) > 0.9999, cos(v2, t2)
    assert np.linalg.norm(v2) > 0  # fixed-shift zero-out regression


@st.composite
def winnow_case(draw):
    """Two docs embedding a common run (>= K+W-1 chars) in random
    surroundings, plus a doc from a disjoint alphabet."""
    from compass_query_optimizer_spark.operators.text import WINNOW_K, WINNOW_W

    letters = st.text(alphabet="abcdefgh ", min_size=0, max_size=40)
    run_len = draw(st.integers(WINNOW_K + WINNOW_W - 1, 40))
    shared = draw(st.text(alphabet="abcdefgh", min_size=run_len, max_size=run_len))
    pre1, post1 = draw(letters), draw(letters)
    pre2, post2 = draw(letters), draw(letters)
    other = draw(st.text(alphabet="0123456789", min_size=0, max_size=60))
    return pre1 + shared + post1, pre2 + shared + post2, other


@given(winnow_case())
@settings(max_examples=8, deadline=None)
def test_winnowing_theorem_property(spark, case):
    """Schleimer et al. SIGMOD'03 guarantee, on random documents: any
    shared run of >= K+W-1 chars forces the two docs' fingerprint SETS to
    intersect; a doc over a disjoint alphabet shares no gram, hence
    (modulo an astronomically unlikely 48-bit hash collision) no print."""
    from compass_query_optimizer_spark.operators.text import winnow_fingerprints

    d1, d2, other = case
    docs = spark.createDataFrame(
        [(1, d1), (2, d2), (3, other)], "doc_id long, text string"
    )
    fps = {}
    for r in winnow_fingerprints(docs).collect():
        fps.setdefault(r.doc_id, set()).add(r.fp)
    assert fps.get(1) and fps.get(2)
    assert fps[1] & fps[2], (d1, d2)
    if 3 in fps:
        assert not (fps[3] & (fps[1] | fps[2]))


def test_ivfpq_matches_numpy_reference(spark):
    """Independent model check for the IVFADC residual algebra: the DuckDB
    oracle mirrors the Spark construction, so a shared misunderstanding of
    the math would pass the differential gate. This re-derives the whole
    pipeline — coarse assign, residual PQ encode, probe, ADC scoring with
    the cross-term norm — in plain numpy from the paper's equations and
    demands identical (query, neighbor, rank, cos) rows."""
    import math

    import numpy as np
    import pyarrow.parquet as pq

    from compass_query_optimizer_spark.operators.dedup import QUANT
    from compass_query_optimizer_spark.operators.similarity import (
        IVF_NPROBE,
        N_QUERIES,
        PQ_K,
        PQ_M,
        PQ_SUBDIM,
        TOP_K,
        ivfpq_k,
        sim_ann_ivfpq,
    )

    sf = "/root/testdata/sf0.001"
    t = pq.read_table(f"{sf}/embeddings.parquet").to_pydict()
    ids = np.array(t["vec_id"], dtype=np.int64)
    order = np.argsort(ids)
    ids = ids[order]
    qv = np.round(
        np.array(t["embedding"], dtype=np.float64)[order] * QUANT
    ).astype(np.int64)
    n = len(ids)
    nrm2 = (qv * qv).sum(axis=1)
    # round 11: coarse K auto-sizes (ceil-sqrt clamp), residual codebook
    # keeps its own PQ_K stride — mirror both formulas exactly
    k = ivfpq_k(n)
    stride = max(1, (n + k - 1) // k)
    rstride = max(1, (n + PQ_K - 1) // PQ_K)

    c_mask = ids % stride == 0
    cids, cv = ids[c_mask], qv[c_mask]
    cnorm = (cv * cv).sum(axis=1)
    # coarse assign: min (d2, cid)
    d2c = ((qv[:, None, :] - cv[None, :, :]) ** 2).sum(axis=2)
    assign = np.argmin(d2c, axis=1)  # ties: first index = smallest cid
    resid = qv - cv[assign]

    r_mask = ids % rstride == 1
    rsub = resid.reshape(n, PQ_M, PQ_SUBDIM)
    rcids = ids[r_mask]
    rcv = rsub[r_mask]  # (R, M, SUBDIM): sub-codebook per subspace
    rn = (rcv * rcv).sum(axis=2)  # (R, M)
    # encode: per (vec, s) argmin over rcids of residual-subvector L2
    d2r = ((rsub[:, None, :, :] - rcv[None, :, :, :]) ** 2).sum(axis=3)
    codes = np.argmin(d2r, axis=1)  # (n, M) indices into rcids

    qsub = qv.reshape(n, PQ_M, PQ_SUBDIM)
    csub = cv.reshape(len(cids), PQ_M, PQ_SUBDIM)
    rows = []
    for q in range(n):
        if ids[q] >= N_QUERIES:
            continue
        probe_order = sorted(range(len(cids)), key=lambda c: (d2c[q, c], cids[c]))
        probed = set(probe_order[:IVF_NPROBE])
        scored = []
        for x in range(n):
            if x == q or assign[x] not in probed:
                continue
            cell = assign[x]
            qcdot = int((qv[q] * cv[cell]).sum())
            rdot = sum(
                int((qsub[q, s] * rcv[codes[x, s], s]).sum()) for s in range(PQ_M)
            )
            crd = sum(
                int((csub[cell, s] * rcv[codes[x, s], s]).sum())
                for s in range(PQ_M)
            )
            rnx = sum(int(rn[codes[x, s], s]) for s in range(PQ_M))
            n_hat = int(cnorm[cell]) + 2 * crd + rnx
            cos = (qcdot + rdot) / (
                math.sqrt(float(nrm2[q])) * math.sqrt(float(n_hat))
            )
            scored.append((-cos, int(ids[x]), cos))
        scored.sort()
        for rank, (_, nid, cos) in enumerate(scored[:TOP_K], start=1):
            rows.append((int(ids[q]), nid, rank, round(cos, 6)))

    got = [
        (r.query_id, r.neighbor_id, r.rank, r.cos)
        for r in sim_ann_ivfpq(spark, sf).collect()
    ]
    assert sorted(got) == sorted(rows), (
        f"numpy reference disagrees: first spark={sorted(got)[:3]} "
        f"ref={sorted(rows)[:3]}"
    )


@given(st.lists(edge, min_size=1, max_size=25))
@settings(max_examples=12, deadline=None)
def test_star_components_match_union_find(spark, edges):
    from compass_query_optimizer_spark.operators.dedup import (
        connected_components_star,
    )

    norm = [(min(a, b), max(a, b)) for a, b in edges]
    df = spark.createDataFrame(norm, "doc_a long, doc_b long")
    got = {r.id: r.lbl for r in connected_components_star(df).collect()}
    assert got == _union_find_components(norm)


def test_star_components_survive_long_chains(spark):
    """The failure mode the star variant exists for: a chain graph's
    diameter equals its length, so min-label propagation needs one round
    per hop (here: RuntimeError at a 5-round budget), while the
    alternating star algorithm halves tree heights every round and
    converges in O(log n) rounds regardless of diameter."""
    import pytest as _pytest

    from compass_query_optimizer_spark.operators.dedup import (
        connected_components,
        connected_components_star,
    )

    n = 64
    chain = [(i, i + 1) for i in range(n - 1)]
    df = spark.createDataFrame(chain, "doc_a long, doc_b long")
    with _pytest.raises(RuntimeError, match="no fixpoint"):
        connected_components(df, max_iters=5)
    got = {r.id: r.lbl for r in connected_components_star(df).collect()}
    assert got == {i: 0 for i in range(n)}
