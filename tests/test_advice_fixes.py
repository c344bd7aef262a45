"""Regression tests for the round-1 ADVICE findings.

- short-doc shingle guard (sequence(1,0) = [1,0] crash in Spark)
- short-text char-gram guard (position-0 substr emits short grams)
- schema-aware residual rewrite (numeric / string literals untouched)
- sketch build null-key parity (in-process and distributed) with numpy
- salted_join join-type restriction
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from compass_query_optimizer_spark.operators.dedup import (
    _spark_shingles,
    char_gram_array,
)
from compass_query_optimizer_spark.plans.fagms import (
    SKETCH_BUCKETS,
    SKETCH_ROWS,
    Sketch,
    build_sketches_arrow,
    numpy_update,
    seeds_for_class,
)
from compass_query_optimizer_spark.plans.graph import parse_join_query
from compass_query_optimizer_spark.plans.optimizer import _rewrite_residual


# ------------------------------------------------------- short-doc guards
def test_short_docs_produce_no_shingles(spark):
    docs = spark.createDataFrame(
        [(1, ""), (2, "one"), (3, "one two"), (4, "one two three four")],
        "doc_id long, text string",
    )
    got = {
        (r["doc_id"], r["shingle"])
        for r in _spark_shingles(docs).collect()
    }
    # docs 1-3 have < 3 tokens → zero shingles, no crash
    assert got == {(4, "one two three"), (4, "two three four")}


def test_short_texts_produce_no_char_grams(spark):
    df = spark.createDataFrame(
        [(1, ""), (2, "a"), (3, "ab"), (4, "abc"), (5, "abcd")],
        "doc_id long, text string",
    )
    rows = df.select(
        "doc_id", char_gram_array(F.col("text")).alias("g")
    ).collect()
    grams = {r["doc_id"]: list(r["g"]) for r in rows}
    assert grams[1] == [] and grams[2] == [] and grams[3] == []
    assert grams[4] == ["abc"]
    assert grams[5] == ["abc", "bcd"]
    # every emitted gram is exactly N chars (oracle's length(...)=N filter)
    assert all(len(g) == 3 for gs in grams.values() for g in gs)


# -------------------------------------------------------- residual rewrite
def test_residual_rewrite_spares_numeric_literals():
    spec = parse_join_query(
        "SELECT COUNT(*) FROM orders o, lineitem l "
        "WHERE o.o_orderkey = l.l_orderkey "
        "AND l.l_extendedprice > 0.5 * o.o_totalprice"
    )
    assert spec.post_filters == ["l.l_extendedprice > 0.5 * o.o_totalprice"]
    out = _rewrite_residual(spec.post_filters[0], spec)
    assert out == "l__l_extendedprice > 0.5 * o__o_totalprice"


def test_residual_rewrite_spares_string_literals():
    spec = parse_join_query(
        "SELECT COUNT(*) FROM orders o, lineitem l "
        "WHERE o.o_orderkey = l.l_orderkey "
        "AND (l.l_comment = 'o.k. 1.5' OR o.o_comment = l.l_comment)"
    )
    out = _rewrite_residual(spec.post_filters[0], spec)
    assert out == "(l__l_comment = 'o.k. 1.5' OR o__o_comment = l__l_comment)"


def test_residual_rewrite_only_known_aliases():
    spec = parse_join_query(
        "SELECT COUNT(*) FROM orders o, lineitem l "
        "WHERE o.o_orderkey = l.l_orderkey AND o.x = l.y"
    )
    out = _rewrite_residual("zz.col > o.x", spec)
    assert out == "zz.col > o__x"  # zz is not an alias of this query


# --------------------------------------------- null-key sketch build parity
def test_arrow_build_null_keys_match_numpy(spark):
    rng = np.random.default_rng(11)
    keys = rng.integers(0, 500, 4000).astype(float)
    keys[rng.random(4000) < 0.1] = np.nan  # ~10% null FKs (IMDB-style)
    df = spark.createDataFrame(pd.DataFrame({"k": keys})).select(
        F.col("k").cast("long").alias("k")
    )
    seeds = {"k": seeds_for_class("eq:nulltest")}

    cnt, sk = build_sketches_arrow(df, seeds, nrows_hint=4000)

    # the survivor count includes null-key rows
    assert cnt == 4000
    # the counters exclude null keys and agree with the numpy twin
    twin = Sketch(np.zeros((SKETCH_ROWS, SKETCH_BUCKETS)), seeds["k"])
    numpy_update(twin, keys[~np.isnan(keys)].astype(np.int64))
    assert np.array_equal(sk["k"].counters, twin.counters)


def test_distributed_build_null_keys_match_numpy(spark):
    """The distributed twin of the test above (whose 4000-row hint builds
    in-process): no hint, several partitions, negative keys."""
    rng = np.random.default_rng(12)
    keys = rng.integers(-300, 500, 4000).astype(float)
    keys[rng.random(4000) < 0.1] = np.nan
    df = (
        spark.createDataFrame(pd.DataFrame({"k": keys}))
        .select(F.col("k").cast("long").alias("k"))
        .repartition(3)
    )
    seeds = {"k": seeds_for_class("eq:nulltest")}

    cnt, sk = build_sketches_arrow(df, seeds)

    assert cnt == 4000
    twin = Sketch(np.zeros((SKETCH_ROWS, SKETCH_BUCKETS)), seeds["k"])
    numpy_update(twin, keys[~np.isnan(keys)].astype(np.int64))
    assert np.array_equal(sk["k"].counters, twin.counters)


def test_null_keys_leave_wide_keys_unrounded(spark):
    """A null next to int64 keys above 2^53 must not move their buckets:
    the same keys sketch to the same counters with and without a null, on
    the in-process build (hint of one task) and the distributed one (one
    row more). Keys that went through float64 would round (2^53 + 1
    hashes with low word 0 next to a null, 1 without)."""
    from compass_query_optimizer_spark.plans.fagms import KEYS_PER_TASK

    wide = [2**53 + 1, 2**53 + 3, 2**62 + 7, -(2**60) - 1, 5]
    seeds = {"k": seeds_for_class("eq:widekeys")}
    with_null = spark.createDataFrame([(k,) for k in wide + [None]], "k long")
    without = spark.createDataFrame([(k,) for k in wide], "k long")
    twin = Sketch(np.zeros((SKETCH_ROWS, SKETCH_BUCKETS)), seeds["k"])
    numpy_update(twin, np.array(wide, dtype=np.int64))
    for hint in (KEYS_PER_TASK, KEYS_PER_TASK + 1):
        cnt_null, sk_null = build_sketches_arrow(with_null, seeds, nrows_hint=hint)
        cnt, sk = build_sketches_arrow(without, seeds, nrows_hint=hint)
        assert (cnt_null, cnt) == (len(wide) + 1, len(wide))
        assert np.array_equal(sk_null["k"].counters, sk["k"].counters), hint
        assert np.array_equal(sk["k"].counters, twin.counters), hint


# ------------------------------------------------------------- salted_join
def test_salted_join_rejects_outer(spark):
    from compass_query_optimizer_spark.operators.skew import salted_join

    a = spark.range(10).withColumnRenamed("id", "k")
    b = spark.range(3).withColumnRenamed("id", "k")
    for how in ("right", "full", "full_outer"):
        with pytest.raises(ValueError):
            salted_join(a, b, "k", how=how)
    # supported types still run
    assert salted_join(a, b, "k", how="left").count() == 10
    assert salted_join(a, b, "k", how="left_anti").count() == 7


# -------------------------------------------- round-2 ADVICE regressions
def test_registry_import_is_filesystem_pure():
    """Enumerating the registry must not materialize fixtures or bake
    absolute paths: the job_corpus oracle stays a deferred callable until
    someone actually asks for its SQL text."""
    import subprocess
    import sys

    code = (
        "from compass_query_optimizer_spark.registry import all_queries\n"
        "spec = all_queries()['job_corpus']\n"
        "assert callable(spec.oracle), 'oracle resolved at import time'\n"
        "print('ok')\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, timeout=120
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip() == "ok"


def test_fixture_concurrent_materialization(tmp_path):
    """Two processes racing ensure_job_fixture must both end with a valid,
    readable fixture (mkdtemp staging + atomic rename; the loser discards)."""
    import multiprocessing as mp

    import pyarrow.parquet as pq

    from compass_query_optimizer_spark.fixtures import ensure_job_fixture

    base = str(tmp_path / "fx")
    ctx = mp.get_context("spawn")
    with ctx.Pool(2) as pool:
        results = pool.map(_ensure_fixture_worker, [base, base])
    assert results[0] == results[1]
    for p in results[0].values():
        assert pq.ParquetFile(p).metadata.num_rows >= 0
    paths = ensure_job_fixture(base_dir=base)
    assert paths == results[0]


def _ensure_fixture_worker(base):
    from compass_query_optimizer_spark.fixtures import ensure_job_fixture

    return ensure_job_fixture(base_dir=base)


def test_count_cache_not_poisoned_by_table_overrides(spark):
    """plan(tables=...) without an explicit tag must not read or write the
    sf_dir-keyed count cache: same table NAME, different catalog."""
    from compass_query_optimizer_spark.plans import optimizer as opt_mod
    from compass_query_optimizer_spark.plans.optimizer import CompassOptimizer

    sql = "SELECT COUNT(*) AS cnt FROM t1 a, t2 b WHERE a.k = b.k"
    opt = CompassOptimizer(spark)
    t1_big = spark.range(100).selectExpr("id % 10 AS k")
    t2_big = spark.range(50).selectExpr("id % 10 AS k")
    plan_a = opt.plan(sql, tables={"t1": t1_big, "t2": t2_big})
    before = dict(opt_mod._COUNT_CACHE)
    t1_small = spark.range(7).selectExpr("id % 3 AS k")
    t2_small = spark.range(3).selectExpr("id % 3 AS k")
    plan_b = opt.plan(sql, tables={"t1": t1_small, "t2": t2_small})
    # no cache entries created for either untagged override plan...
    assert opt_mod._COUNT_CACHE == before
    # ...and the second plan saw the small catalog's true cardinalities
    assert plan_a.pushdown.stats["a"].rows == 100
    assert plan_b.pushdown.stats["a"].rows == 7


def test_template_cache_keyed_by_dataset_tag(spark):
    """Sketches built for one dataset tag must not serve another; untagged
    plans bypass the template cache entirely."""
    from compass_query_optimizer_spark.plans import pushdown as pd_mod
    from compass_query_optimizer_spark.plans.optimizer import CompassOptimizer

    pd_mod.clear_template_cache()
    sql = "SELECT COUNT(*) AS cnt FROM t1 a, t2 b WHERE a.k = b.k"
    opt = CompassOptimizer(spark)
    tables = {
        "t1": spark.range(2000).selectExpr("id % 40 AS k"),
        "t2": spark.range(1000).selectExpr("id % 40 AS k"),
    }
    opt.plan(sql, tables=tables)
    with pd_mod._TEMPLATE_LOCK:
        assert not pd_mod._TEMPLATE_CACHE  # untagged → bypassed
    opt.plan(sql, tables=tables, count_cache_tag="cat-A")
    with pd_mod._TEMPLATE_LOCK:
        keys_a = set(pd_mod._TEMPLATE_CACHE)
    assert keys_a and all(k[0] == "cat-A" for k in keys_a)
    opt.plan(sql, tables=tables, count_cache_tag="cat-B")
    with pd_mod._TEMPLATE_LOCK:
        keys_b = set(pd_mod._TEMPLATE_CACHE) - keys_a
    assert keys_b and all(k[0] == "cat-B" for k in keys_b)
    pd_mod.clear_template_cache()


# -------------------------------------------- round-5 ADVICE regressions
def test_tzdiv_is_exact_beyond_double_precision(spark):
    """_tzdiv must divide in integer space: `/` + cast rounds across
    integer boundaries past 2^53 (1339999999999999990 / 1e14 gave 13400
    instead of 13399), breaking emb_pca_power's exact-int64 guarantee at
    ~10^6+ vectors. Also locks the negative-operand parity with DuckDB's
    sign-aware floor-division form."""
    import duckdb

    from compass_query_optimizer_spark.operators.embeddings import (
        _duck_tzdiv,
        _tzdiv,
    )

    cases = [
        (1339999999999999990, 100000000000000),
        (-1339999999999999990, 100000000000000),
        (9007199254740993, 2),  # 2^53 + 1: first int double can't hold
        (-7, 2),
        (7, 2),
        (0, 5),
    ]
    df = spark.createDataFrame(cases, "x long, d long")
    got = {
        (r["x"], r["d"]): r["q"]
        for r in df.select("x", "d", _tzdiv(F.col("x"), F.col("d")).alias("q")).collect()
    }
    con = duckdb.connect()
    for x, d in cases:
        want = con.execute(
            f"SELECT {_duck_tzdiv(str(x), str(d))}"
        ).fetchone()[0]
        assert got[(x, d)] == want, (x, d, got[(x, d)], want)
    # the exact values, independently of either engine
    assert got[(1339999999999999990, 100000000000000)] == 13399
    assert got[(9007199254740993, 2)] == 4503599627370496
    assert got[(-7, 2)] == -3


def test_char_positions_short_docs_emit_no_phantoms(spark):
    """sequence() descends when start > stop, so unguarded position
    sequences on empty/1-char docs emit phantom rows ([1, 0]) that an
    end-exclusive oracle range never generates. char_positions guards
    both the full (lm_perplexity) and len-1 (dsir bigram) forms."""
    from compass_query_optimizer_spark.operators.text import char_positions

    df = spark.createDataFrame(
        [(1, ""), (2, "a"), (3, "ab"), (4, "abc")], "doc_id long, t string"
    )
    rows = df.select(
        "doc_id",
        char_positions(F.col("t")).alias("full"),
        char_positions(F.col("t"), last_offset=-1).alias("m1"),
    ).collect()
    full = {r["doc_id"]: list(r["full"]) for r in rows}
    m1 = {r["doc_id"]: list(r["m1"]) for r in rows}
    assert full == {1: [], 2: [1], 3: [1, 2], 4: [1, 2, 3]}
    assert m1 == {1: [], 2: [], 3: [1], 4: [1, 2]}


def test_orc_schema_drift_catches_parameterized_types(spark, tmp_path):
    """Type-class-name comparison let decimal(10,2) vs decimal(38,0) or
    array<int> vs array<string> drift pass undetected (both read as
    'DecimalType'/'ArrayType') and then silently coerce/null; the check
    must compare the full parameterized type."""
    from pyspark.sql import types as T

    from compass_query_optimizer_spark.sources.copy_io import (
        copy_from_orc,
        copy_to_orc,
    )

    path = str(tmp_path / "drift.orc")
    df = spark.createDataFrame([(1,)], "id long").select(
        "id",
        F.col("id").cast("decimal(10,2)").alias("amt"),
        F.array(F.lit(1), F.lit(2)).alias("xs"),
    )
    copy_to_orc(df, path)

    with pytest.raises(ValueError, match="amt"):
        copy_from_orc(
            spark,
            path,
            T.StructType([T.StructField("amt", T.DecimalType(38, 0))]),
        )
    with pytest.raises(ValueError, match="xs"):
        copy_from_orc(
            spark,
            path,
            T.StructType(
                [T.StructField("xs", T.ArrayType(T.StringType()))]
            ),
        )
    # exact parameterized match (a declared subset) still reads
    ok = copy_from_orc(
        spark,
        path,
        T.StructType([T.StructField("amt", T.DecimalType(10, 2))]),
    )
    assert ok.count() == 1


# ------------------------------------------------- round-6 self-caught bug
def test_bloom_oracle_survives_position_collision():
    """A fingerprint whose K salted positions collide occupies fewer than
    K distinct cells; a 'count of matching cells == K' oracle would call a
    true duplicate a bloom MISS (false negative — the one error class a
    Bloom filter must never make) and diverge from Spark's per-position
    conjunction. 'probe-496' md5-hashes to positions [2291, 2986, 2986]
    at the 4,096-cell floor width (pinned here — the planted collision is
    width-specific)."""
    import duckdb

    from compass_query_optimizer_spark.operators.versioning import (
        BLOOM_K,
        _bloom_positions,
    )

    hit = " AND ".join(
        f"({p} IN (SELECT pos FROM bits))"
        for p in _bloom_positions("fp", "duck", 4096)
    )
    pos_list = ", ".join(_bloom_positions("fp", "duck", 4096))
    con = duckdb.connect()
    got = con.execute(f"""
        WITH corpus AS (SELECT md5('probe-496') AS fp),
        bits AS (
          SELECT DISTINCT pos FROM corpus, UNNEST([{pos_list}]) AS t(pos)
        ),
        batch AS (SELECT md5('probe-496') AS fp)
        SELECT {hit} AS bloom_hit,
               (SELECT COUNT(*) FROM bits) AS n_cells
        FROM batch
    """).fetchone()
    assert got[1] == BLOOM_K - 1  # the collision really occupies K-1 cells
    assert got[0] is True  # ...and the probe must still be a HIT


def test_bloom_has_no_false_negatives(spark):
    """Every exact duplicate must be a bloom hit, at query level."""
    from compass_query_optimizer_spark.registry import all_queries

    rows = all_queries()["dedup_bloom"].build(
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert rows, "batch must be non-empty"
    assert any(r.is_dup for r in rows), "fixture must exercise true dups"
    bad = [r.doc_id for r in rows if r.is_dup and not r.bloom_hit]
    assert not bad, f"bloom false negatives: {bad}"


def test_bloom_verdicts_survive_doc_id_collision(spark, tmp_path):
    """The arrival batch unions fresh docs with +500000-offset re-ingests,
    so a corpus holding ids >= 500000 makes two batch rows share a doc_id
    with DIFFERENT fingerprints. Verdicts must join back on (doc_id, fp):
    a doc_id-only join fans out (4 rows where the oracle has 2) and
    mispairs verdicts. Fixture: doc 7 re-ingests as 500007 while a real
    doc 500007 also arrives in the fresh branch."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from compass_query_optimizer_spark.operators.versioning import dedup_bloom

    rows = [
        (7, "alpha text for doc seven", "en", "web", 24),       # corpus + re-ingest
        (8, "beta text for doc eight", "en", "web", 23),        # corpus only
        (500007, "beta text for doc eight", "en", "web", 23),   # fresh dup of 8
        (3, "gamma text never seen before", "en", "web", 27),   # fresh non-dup
    ]
    tbl = pa.table(
        {
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows]),
            "lang": pa.array([r[2] for r in rows]),
            "source": pa.array([r[3] for r in rows]),
            "n_chars": pa.array([r[4] for r in rows], pa.int64()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "documents.parquet"))
    out = dedup_bloom(spark, str(tmp_path)).collect()
    # one output row per batch row: 3 and two distinct 500007 entries
    assert len(out) == 3, [(r.doc_id, r.bloom_hit, r.is_dup) for r in out]
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append((r.bloom_hit, r.is_dup))
    assert len(by_doc[500007]) == 2
    # both 500007 arrivals are true dups (of docs 8 and 7 respectively)
    assert all(h and d for h, d in by_doc[500007])
    assert by_doc[3][0][1] is False  # the fresh doc is not a dup
