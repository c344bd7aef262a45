"""Test-only brute-force embedding-dedup baseline.

``dedup_embedding_cosine`` is exact but O(n²) (BroadcastNestedLoopJoin), so
it is NOT a registered gate entry — the shipped path is
``dedup_embedding_lsh`` (bucketed candidates). Here the brute force earns
its keep: (a) it still matches its DuckDB oracle, and (b) it bounds the LSH
entry's recall — every LSH pair must be a brute-force pair, and at the
4-table x 8-bit setting the corpus' near-dup pairs should mostly survive.
"""

from __future__ import annotations

import pytest

from compass_query_optimizer_spark.operators.dedup import (
    EMBEDDING_COSINE_BASELINE_ORACLE,
    dedup_embedding_cosine,
)
from compass_query_optimizer_spark.operators.similarity import dedup_embedding_lsh

from .conftest import SF_DIR_ORACLE


def test_bruteforce_matches_oracle(spark, duck):
    got = sorted(
        (r.id_a, r.id_b, r.cos)
        for r in dedup_embedding_cosine(spark, SF_DIR_ORACLE).collect()
    )
    want = sorted(
        (a, b, c)
        for a, b, c in duck.execute(EMBEDDING_COSINE_BASELINE_ORACLE).fetchall()
    )
    assert got == want


def test_lsh_pairs_subset_of_bruteforce(spark):
    exact = {
        (r.id_a, r.id_b)
        for r in dedup_embedding_cosine(spark, SF_DIR_ORACLE).collect()
    }
    lsh = {
        (r.id_a, r.id_b) for r in dedup_embedding_lsh(spark, SF_DIR_ORACLE).collect()
    }
    assert lsh <= exact  # verification is exact: no false positives


def test_lsh_recall_on_planted_neardups(spark, tmp_path):
    """The sf testdata has no >=0.95-cosine pairs (both entries return 0
    rows — an empty-vs-empty differential proves little), so plant some:
    100 random vectors plus 20 near-copies at cosine ~0.999. The brute
    force must find all planted pairs; the 4x8-bit LSH must recall nearly
    all of them and nothing that the brute force doesn't."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.RandomState(7)
    base = rng.randn(100, 64).astype(np.float32)
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    near = base[:20] + 0.02 * rng.randn(20, 64).astype(np.float32)
    near /= np.linalg.norm(near, axis=1, keepdims=True)
    vecs = np.vstack([base, near])
    tbl = pa.table(
        {
            "vec_id": pa.array(range(len(vecs)), pa.int64()),
            "embedding": pa.array([list(v) for v in vecs], pa.list_(pa.float32())),
            "label": pa.array([0] * len(vecs), pa.int32()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "embeddings.parquet"))
    exact = {
        (r.id_a, r.id_b)
        for r in dedup_embedding_cosine(spark, str(tmp_path)).collect()
    }
    planted = {(i, 100 + i) for i in range(20)}
    assert planted <= exact
    lsh = {
        (r.id_a, r.id_b) for r in dedup_embedding_lsh(spark, str(tmp_path)).collect()
    }
    assert lsh <= exact
    assert len(lsh & planted) >= 18  # ~0.997 expected recall at cos≈0.999


def test_connected_components_chain_and_islands(spark):
    """min-label propagation must follow transitivity across a long chain
    (needs multiple propagation rounds), merge branches, and keep disjoint
    components apart."""
    from compass_query_optimizer_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        # chain 1-2-3-4-5, triangle 10-11-12, isolated pair 20-21
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (11, 12), (10, 12), (20, 21)],
        "doc_a long, doc_b long",
    )
    got = {(r.id, r.lbl) for r in connected_components(edges).collect()}
    assert got == {
        (1, 1), (2, 1), (3, 1), (4, 1), (5, 1),
        (10, 10), (11, 10), (12, 10),
        (20, 20), (21, 20),
    }


@pytest.mark.parametrize(
    "fn, kept",
    [
        # only the returned round's checkpoint
        ("connected_components", 1),
        # the canon edge frame (the fixpoint's roots anti-join reads it)
        # and the returned round
        ("connected_components_star", 2),
    ],
    ids=["min_label", "star"],
)
def test_connected_components_frees_superseded_rounds(spark, fn, kept):
    """Every round of both CC loops local-checkpoints a new frame and must
    unpersist the round it supersedes: after a multi-round run only the
    frames the answer still reads may stay registered with the block
    manager."""
    from compass_query_optimizer_spark.operators import dedup

    def persistent() -> set:
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    before = persistent()
    # an 8-node chain: min-label propagation needs 7 rounds for label 1
    # to reach node 8, the star loop several
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 8)], "doc_a long, doc_b long"
    )
    got = {(r.id, r.lbl) for r in getattr(dedup, fn)(edges).collect()}
    assert got == {(i, 1) for i in range(1, 9)}
    left = persistent() - before
    assert len(left) <= kept, left


def test_winnowing_shared_run_guarantee(spark):
    """The winnowing theorem (Schleimer et al. SIGMOD'03): documents
    sharing a run of >= K+W-1 chars MUST share a fingerprint. Two docs
    share a 64-char run embedded in different surroundings; a third is
    unrelated. The shared pair must be reported, with no pair involving
    the unrelated doc."""
    from compass_query_optimizer_spark.operators.text import (
        WINNOW_MIN_SHARED,
        winnow_pairs,
    )

    shared = "the quick brown fox jumps over the lazy dog by the riverbank"
    docs = spark.createDataFrame(
        [
            (1, f"alpha prelude text {shared} omega postlude material"),
            (2, f"completely different framing {shared} and other words"),
            (3, "nothing in common with either of the others whatsoever"),
        ],
        "doc_id long, text string",
    )
    pairs = {(r.id_a, r.id_b): r.shared_fps for r in winnow_pairs(docs).collect()}
    assert (1, 2) in pairs
    assert pairs[(1, 2)] >= WINNOW_MIN_SHARED
    assert all({a, b} == {1, 2} for a, b in pairs)


def test_semantic_dedup_recall_on_planted_neardups(spark, tmp_path):
    """Round-6 regression: the hyperplane-cell rewrite must still catch
    near-duplicates. Plant 20 cosine≈0.999 near-copies among 100 random
    vectors (noise 0.005/dim: cosine ~0.9992, per-plane agreement
    ~0.987, same-cell probability ~0.975 at 2 cell bits) — at least
    18/20 planted dups must be dropped, and every dropped vector must
    really have a smaller-id >=0.95-cosine partner (soundness: random
    64-dim unit vectors are nowhere near cosine 0.95)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from compass_query_optimizer_spark.operators.similarity import dedup_semantic

    rng = np.random.RandomState(11)
    base = rng.randn(100, 64).astype(np.float32)
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    near = base[:20] + 0.005 * rng.randn(20, 64).astype(np.float32)
    near /= np.linalg.norm(near, axis=1, keepdims=True)
    vecs = np.vstack([base, near])
    tbl = pa.table(
        {
            "vec_id": pa.array(range(len(vecs)), pa.int64()),
            "embedding": pa.array([list(v) for v in vecs], pa.list_(pa.float32())),
            "label": pa.array([0] * len(vecs), pa.int32()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "embeddings.parquet"))
    dropped = {
        r.vec_id for r in dedup_semantic(spark, str(tmp_path)).collect() if not r.kept
    }
    # recall: the planted copy (id 100+i, larger than its partner i) drops
    assert len(dropped & {100 + i for i in range(20)}) >= 18
    # soundness: nothing outside the planted near-dup set is dropped
    assert dropped <= {100 + i for i in range(20)}


def test_minhash_lsh_recall_matches_banding_theory(spark, tmp_path):
    """MinHash-LSH recall is 'partial by design' — this measures it. Pairs
    of documents are constructed at three similarity levels (shared token
    prefix + per-pair fresh vocabulary, so pairs never collide with each
    other), true 3-shingle Jaccard s is computed exactly in the test, and
    the measured candidate rate per level is compared to the banding
    S-curve P(candidate) = 1 - (1 - s^r)^b (r=3 rows, b=4 bands). The
    fixture is deterministic, so the measured rates are stable — this is
    calibration, not a flaky statistical bound."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from compass_query_optimizer_spark.operators.dedup import (
        MINHASH_K,
        MINHASH_R,
        SHINGLE_W,
        dedup_minhash_lsh,
    )

    n_bands = MINHASH_K // MINHASH_R
    L = 60  # tokens per doc
    PER_LEVEL = 60  # pairs per similarity level
    levels = {"high": 55, "mid": 34, "low": 10}  # shared-prefix tokens

    def shingle_set(tokens):
        return {
            " ".join(tokens[i : i + SHINGLE_W])
            for i in range(len(tokens) - SHINGLE_W + 1)
        }

    texts, level_of_pair, theory = [], [], {}
    pid = 0
    for label, m in levels.items():
        for _ in range(PER_LEVEL):
            a = [f"p{pid}w{j}" for j in range(L)]
            b = a[:m] + [f"p{pid}x{j}" for j in range(L - m)]
            sa, sb = shingle_set(a), shingle_set(b)
            s = len(sa & sb) / len(sa | sb)
            theory.setdefault(label, []).append(1 - (1 - s**MINHASH_R) ** n_bands)
            texts += [" ".join(a), " ".join(b)]
            level_of_pair.append(label)
            pid += 1
    docs = pa.table(
        {
            "doc_id": pa.array(range(len(texts)), pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array(["en"] * len(texts)),
            "source": pa.array(["t"] * len(texts)),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    pq.write_table(docs, str(tmp_path / "documents.parquet"))

    got = {
        (r.doc_a, r.doc_b) for r in dedup_minhash_lsh(spark, str(tmp_path)).collect()
    }
    for label in levels:
        hits = sum(
            1
            for i, lab in enumerate(level_of_pair)
            if lab == label and (2 * i, 2 * i + 1) in got
        )
        rate = hits / PER_LEVEL
        expect = sum(theory[label]) / PER_LEVEL
        # 60 deterministic Bernoulli-ish draws: allow ~3 sigma of the
        # binomial spread around the theoretical mean
        slack = 3 * (expect * (1 - expect) / PER_LEVEL) ** 0.5 + 0.05
        assert abs(rate - expect) <= slack, (
            f"{label}: measured {rate:.3f} vs theory {expect:.3f} ± {slack:.3f}"
        )


def test_twostage_clusters_survive_identical_doc_flood(spark, tmp_path):
    """The one-stage LSH pair join goes quadratic when a corpus floods
    with byte-identical documents (k copies -> C(k,2) pairs through one
    bucket). The two-stage path collapses exact duplicates first, so the
    flood contributes ONE representative row. This plants a 400-copy
    flood in a 500-doc corpus and asserts (a) the measured pair-count
    collapse and (b) the flood lands in one cluster of exactly 400+dups,
    with every doc assigned."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from compass_query_optimizer_spark.operators.dedup import (
        dedup_clusters_twostage,
        minhash_candidate_pairs,
    )
    from compass_query_optimizer_spark.catalog import load_tables

    flood = "the same press release mirrored across hosts " * 4
    texts = [flood] * 400 + [
        f"unique document u{i} " + " ".join(f"tok{i}w{j}" for j in range(30))
        for i in range(100)
    ]
    docs = pa.table(
        {
            "doc_id": pa.array(range(len(texts)), pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array(["en"] * len(texts)),
            "source": pa.array(["t"] * len(texts)),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    pq.write_table(docs, str(tmp_path / "documents.parquet"))

    # one-stage: the flood clique alone is C(400,2) = 79,800 pairs
    plain_pairs = minhash_candidate_pairs(
        load_tables(spark, str(tmp_path))["documents"]
    ).count()
    assert plain_pairs >= 79_800

    out = dedup_clusters_twostage(spark, str(tmp_path)).collect()
    assert len(out) == 500  # every doc assigned, singletons included
    flood_rows = [r for r in out if r.doc_id < 400]
    assert {r.cluster_id for r in flood_rows} == {0}
    assert all(r.cluster_size >= 400 for r in flood_rows)
    # the two-stage join input is distinct texts: the flood is ONE rep,
    # so its quadratic blowup is structurally impossible — representative
    # pairs are bounded by distinct-text bucket collisions only
    from compass_query_optimizer_spark.operators.dedup import minhash_bands
    from pyspark.sql import functions as F

    members = load_tables(spark, str(tmp_path))["documents"].select(
        "doc_id", F.md5("text").alias("fp")
    )
    reps = members.groupBy("fp").agg(F.min("doc_id").alias("doc_id"))
    rep_pairs = (
        minhash_bands(load_tables(spark, str(tmp_path))["documents"])
        .join(reps, "doc_id")
        .alias("a")
        .join(
            minhash_bands(load_tables(spark, str(tmp_path))["documents"])
            .join(reps, "doc_id")
            .alias("b"),
            ["band", "band_key"],
        )
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id"), F.col("b.doc_id"))
        .distinct()
        .count()
    )
    assert rep_pairs < plain_pairs / 100


def test_minhash_index_persists_and_probes_identically(spark, tmp_path):
    """dedup_incremental_minhash's scale story claims the corpus band
    table is 'the persistable index' — prove it: fold the standing corpus
    into its banded MinHash table once, persist it range-clustered on the
    band key (sources.bucketing.write_clustered), reload, and probe a
    fresh arrival batch against the RELOADED index. The verdicts must be
    row-identical to probing the live table, i.e. a continuous-crawl
    pipeline can hash the corpus once and only ever re-hash arrivals."""
    from pyspark.sql import functions as F

    from compass_query_optimizer_spark.catalog import load_tables
    from compass_query_optimizer_spark.operators.dedup import minhash_bands
    from compass_query_optimizer_spark.sources.bucketing import write_clustered

    docs = load_tables(spark, "/root/testdata/sf0.001")["documents"]
    corpus = docs.filter(F.col("doc_id") % 3 != 0).select("doc_id", "text")
    batch = docs.filter(F.col("doc_id") % 3 == 0).select("doc_id", "text")

    cb = minhash_bands(corpus)
    idx_path = str(tmp_path / "minhash_index")
    write_clustered(cb, idx_path, ["band", "band_key"], n_files=4)
    reloaded = spark.read.parquet(idx_path)

    def probe(index):
        hits = (
            minhash_bands(batch)
            .join(
                index.select(
                    F.col("doc_id").alias("corpus_id"), "band", "band_key"
                ),
                ["band", "band_key"],
            )
            .groupBy("doc_id")
            .agg(F.count_distinct("corpus_id").alias("n_candidates"))
        )
        return sorted(
            (r.doc_id, r.n_candidates) for r in hits.collect()
        )

    assert probe(reloaded) == probe(cb)
    # the persisted index is range-clustered: a band-key range predicate
    # must reach the scan as a pushed filter (file/row-group skipping)
    plan = (
        reloaded.filter(F.col("band") == 0)
        ._jdf.queryExecution()
        .explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
    )
    assert "PushedFilters: [" in plan and "band" in plan


def test_hardened_clusters_compose_flood_guard_with_star(spark, tmp_path, monkeypatch):
    """dedup_clusters_hardened = exact-collapse (flood guard) + alternating
    -star components (diameter-independence) in ONE entry. Under the
    400-copy flood fixture it must produce byte-identical clusters to the
    two-stage path, while actually running the star engine (spied), whose
    long-chain robustness is property-tested separately
    (test_properties::test_star_components_survive_long_chains)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from compass_query_optimizer_spark.operators import dedup

    flood = "the same press release mirrored across hosts " * 4
    texts = [flood] * 400 + [
        f"unique document u{i} " + " ".join(f"tok{i}w{j}" for j in range(30))
        for i in range(100)
    ]
    docs = pa.table(
        {
            "doc_id": pa.array(range(len(texts)), pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array(["en"] * len(texts)),
            "source": pa.array(["t"] * len(texts)),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    pq.write_table(docs, str(tmp_path / "documents.parquet"))

    calls = {"star": 0}
    orig = dedup.connected_components_star

    def spy(edges, **kw):
        calls["star"] += 1
        return orig(edges, **kw)

    monkeypatch.setattr(dedup, "connected_components_star", spy)

    hard = sorted(
        (r.doc_id, r.cluster_id, r.cluster_size)
        for r in dedup.dedup_clusters_hardened(spark, str(tmp_path)).collect()
    )
    assert calls["star"] == 1, "hardened entry must run the star engine"
    two = sorted(
        (r.doc_id, r.cluster_id, r.cluster_size)
        for r in dedup.dedup_clusters_twostage(spark, str(tmp_path)).collect()
    )
    assert hard == two
    assert len(hard) == 500
    assert all(c == 0 and s >= 400 for d, c, s in hard if d < 400)
