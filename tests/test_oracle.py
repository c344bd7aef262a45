"""Differential oracle: every registered query vs DuckDB at sf0.01.

Mirrors the driver's CORRECTNESS gate (row count + schema + order-
insensitive value comparison) and the reference's SQLite differential
pattern (mapd-core/Tests/ExecuteTest.cpp SQLiteComparator).
"""

from __future__ import annotations

import datetime as dt
import decimal
import math

import pytest

from compass_query_optimizer_spark.registry import all_queries
from tests.conftest import SF_DIR_ORACLE


def _norm_cell(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # exact float compare — queries must round on both sides
        return repr(v)
    if isinstance(v, decimal.Decimal):
        return str(v.normalize())
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm_cell(x) for x in v)
    return v


def _norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm_cell(r[i]) for i in order) for r in rows]
    return sorted(cols), sorted(out, key=lambda t: tuple(map(str, t)))


SPECS = all_queries()


@pytest.mark.parametrize("name", sorted(SPECS))
def test_query_matches_oracle(name, spark, duck):
    spec = SPECS[name]
    sdf = spec.build(spark, SF_DIR_ORACLE)
    srows = [tuple(r) for r in sdf.collect()]
    scols = list(sdf.columns)

    if spec.oracle is None:
        assert len(srows) >= 0  # rows-only smoke (driver does the same)
        return

    res = duck.execute(spec.oracle_text())
    dcols = [d[0] for d in res.description]
    drows = [tuple(r) for r in res.fetchall()]

    assert sorted(scols) == sorted(dcols), f"{name}: column names differ"
    assert len(srows) == len(drows), (
        f"{name}: row count {len(srows)} != oracle {len(drows)}"
    )
    ncols, nsrows = _norm_rows(scols, srows)
    _, ndrows = _norm_rows(dcols, drows)
    mism = [i for i, (a, b) in enumerate(zip(nsrows, ndrows)) if a != b]
    assert not mism, (
        f"{name}: {len(mism)} mismatched rows; first: "
        f"spark={nsrows[mism[0]]} oracle={ndrows[mism[0]]} cols={ncols}"
    )


def test_frame_sample_cuts_characters_not_bytes(spark, tmp_path):
    """mm_frame_sample's oracle cuts 64-character substr windows, so the
    worker must cut the same windows of a non-ASCII text: a 100-character
    "é" document is one sampled frame (200 bytes would be two)."""
    import duckdb
    import pandas as pd

    pd.DataFrame(
        {
            "doc_id": pd.array([1], dtype="int64"),
            "text": ["é" * 100],
            "lang": ["fr"],
            "source": ["web"],
            "n_chars": pd.array([100], dtype="int64"),
        }
    ).to_parquet(tmp_path / "documents.parquet", index=False)
    spec = SPECS["mm_frame_sample"]
    sdf = spec.build(spark, str(tmp_path))
    srows = [tuple(r) for r in sdf.collect()]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{tmp_path}/documents.parquet'"
    )
    drows = [tuple(r) for r in con.execute(spec.oracle_text()).fetchall()]
    assert len(drows) == 1
    assert _norm_rows(sdf.columns, srows) == _norm_rows(sdf.columns, drows)
