"""Dataset-versioning operators: snapshot diffing between corpus versions.

Training corpora are rebuilt continuously; the release question is "what
changed between snapshot N and N+1?". `snapshot_diff` classifies every key
as added / removed / changed / unchanged by comparing content fingerprints
across a full-outer join on the key.

Scale shape: both sides are projected to (key, fingerprint) BEFORE the
join, so the full-outer shuffle carries two small columns per doc — never
document bodies — and the md5 fingerprint is computed scan-side in
whole-stage codegen. At 100 TB the diff costs two fingerprint scans plus
one keyed shuffle of ~(8 + 32) bytes per row.

The registered query derives a deterministic "v2" snapshot from the
documents table itself (drop doc_id % 97 == 0, revise text of
doc_id % 89 == 0, add fresh ids for doc_id % 101 == 0) so both engines
diff the same pair of versions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from compass_query_optimizer_spark.catalog import load_tables, spread
from compass_query_optimizer_spark.registry import query


def snapshot_diff(
    old: DataFrame, new: DataFrame, key: str, fingerprint: str = "fp"
) -> DataFrame:
    """Classify each `key` across two (key, fingerprint) snapshots.

    Returns (key, status) with status ∈ added | removed | changed |
    unchanged. Inputs should already be projected to key + fingerprint —
    pass md5/xxhash of the payload, not the payload.
    """
    o = old.select(F.col(key), F.col(fingerprint).alias("__fp_old"))
    n = new.select(F.col(key), F.col(fingerprint).alias("__fp_new"))
    j = o.join(n, key, "full_outer")
    status = (
        F.when(F.col("__fp_old").isNull(), F.lit("added"))
        .when(F.col("__fp_new").isNull(), F.lit("removed"))
        .when(F.col("__fp_old") != F.col("__fp_new"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return j.select(key, status.alias("status"))


@query(
    "dedup_incremental",
    """
    WITH old AS (
      SELECT md5(text) AS fp FROM documents WHERE doc_id % 3 <> 0
    ),
    new_docs AS (
      SELECT doc_id, md5(text) AS fp FROM documents WHERE doc_id % 3 = 0
      UNION ALL
      -- re-ingested replicas of standing-corpus docs: guaranteed dups
      SELECT doc_id + 500000 AS doc_id, md5(text) AS fp
      FROM documents WHERE doc_id % 3 <> 0 AND doc_id % 7 = 0
    )
    SELECT n.doc_id,
           CASE WHEN o.fp IS NOT NULL THEN 1 ELSE 0 END AS is_dup
    FROM new_docs n LEFT JOIN (SELECT DISTINCT fp FROM old) o USING (fp)
    ORDER BY n.doc_id
    """,
    doc="incremental ingest dedup: flag each newly-arrived doc whose "
    "content hash already exists in the standing corpus (the arrival "
    "batch includes re-ingested replicas, so both match outcomes are "
    "exercised). The corpus side reduces to distinct fingerprints BEFORE "
    "the join (one 32-byte row per unique doc), so at 100 TB the probe is "
    "a semi-join against a hash index, never a body-vs-body comparison; "
    "the batch twin of streaming dedup-on-ingest (stream_dedup_events)",
    tags=("dedup", "versioning"),
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir)["documents"]
    old_fp = (
        docs.filter(F.col("doc_id") % 3 != 0)
        .select(F.md5("text").alias("fp"))
        .distinct()
        .withColumn("__seen", F.lit(1))
    )
    new_docs = docs.filter(F.col("doc_id") % 3 == 0).select(
        "doc_id", F.md5("text").alias("fp")
    ).unionByName(
        docs.filter((F.col("doc_id") % 3 != 0) & (F.col("doc_id") % 7 == 0)).select(
            (F.col("doc_id") + 500000).alias("doc_id"), F.md5("text").alias("fp")
        )
    )
    return (
        new_docs.join(old_fp, "fp", "left")
        .select(
            "doc_id",
            F.when(F.col("__seen").isNotNull(), 1).otherwise(0).alias("is_dup"),
        )
        .orderBy("doc_id")
    )


@query(
    "docs_snapshot_diff",
    """
    WITH v2 AS (
      SELECT doc_id,
             CASE WHEN doc_id % 89 = 0 THEN text || ' [rev2]' ELSE text END AS text
      FROM documents WHERE doc_id % 97 <> 0
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, 'new ' || text AS text
      FROM documents WHERE doc_id % 101 = 0
    ),
    o AS (SELECT doc_id, md5(text) AS fp FROM documents),
    n AS (SELECT doc_id, md5(text) AS fp FROM v2),
    d AS (
      SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
             CASE WHEN o.fp IS NULL THEN 'added'
                  WHEN n.fp IS NULL THEN 'removed'
                  WHEN o.fp <> n.fp THEN 'changed'
                  ELSE 'unchanged' END AS status
      FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
    )
    SELECT status, COUNT(*) AS n FROM d GROUP BY status ORDER BY status
    """,
    doc="snapshot diff between corpus versions: added/removed/changed/"
    "unchanged counts via fingerprint compare over a full-outer join; "
    "bodies are reduced to md5 scan-side, so the shuffle carries "
    "(key, 32B) per doc",
    tags=("versioning",),
)
def docs_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir)["documents"]
    v2 = (
        docs.filter(F.col("doc_id") % 97 != 0)
        .select(
            "doc_id",
            F.when(
                F.col("doc_id") % 89 == 0, F.concat(F.col("text"), F.lit(" [rev2]"))
            )
            .otherwise(F.col("text"))
            .alias("text"),
        )
        .unionByName(
            docs.filter(F.col("doc_id") % 101 == 0).select(
                (F.col("doc_id") + 1000000).alias("doc_id"),
                F.concat(F.lit("new "), F.col("text")).alias("text"),
            )
        )
    )
    old_fp = docs.select("doc_id", F.md5("text").alias("fp"))
    new_fp = v2.select("doc_id", F.md5("text").alias("fp"))
    return (
        snapshot_diff(old_fp, new_fp, "doc_id")
        .groupBy("status")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("status")
    )


# Three deterministic corpus snapshots (drops + revisions derived from
# doc_id residues), each reduced to (doc_id, version, md5 fp): v1 is the
# corpus, v2 drops doc_id % 97 and revises % 89, v3 drops % 101 of v2 and
# revises % 83. docs_scd2 and docs_version_churn read the same chain.
_SNAPSHOTS_CTE = """WITH v2 AS (
      SELECT doc_id,
             CASE WHEN doc_id % 89 = 0 THEN text || ' [rev2]' ELSE text END
               AS text
      FROM documents WHERE doc_id % 97 <> 0
    ),
    v3 AS (
      SELECT doc_id,
             CASE WHEN doc_id % 83 = 0 THEN text || ' [rev3]' ELSE text END
               AS text
      FROM v2 WHERE doc_id % 101 <> 0
    ),
    snaps AS (
      SELECT doc_id, 1 AS version, md5(text) AS fp FROM documents
      UNION ALL SELECT doc_id, 2, md5(text) FROM v2
      UNION ALL SELECT doc_id, 3, md5(text) FROM v3
    ),"""


def _revise(docs: DataFrame, drop: int, revise: int, tag: str) -> DataFrame:
    """The next snapshot: drop doc_id % drop, append tag to doc_id % revise."""
    return docs.filter(F.col("doc_id") % drop != 0).select(
        "doc_id",
        F.when(
            F.col("doc_id") % revise == 0, F.concat(F.col("text"), F.lit(tag))
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )


def _snapshot_versions(docs: DataFrame) -> DataFrame:
    """(doc_id, version, fp) over the three snapshots of _SNAPSHOTS_CTE."""
    v2 = _revise(docs, 97, 89, " [rev2]")
    v3 = _revise(v2, 101, 83, " [rev3]")
    s1, s2, s3 = (
        v.select("doc_id", F.lit(i).alias("version"), F.md5("text").alias("fp"))
        for i, v in enumerate((docs, v2, v3), start=1)
    )
    return s1.unionByName(s2).unionByName(s3)


@query(
    "docs_scd2",
    f"""
    {_SNAPSHOTS_CTE}
    hist AS (
      SELECT doc_id, version, fp,
             lag(fp) OVER (PARTITION BY doc_id ORDER BY version) AS prev_fp,
             MAX(version) OVER (PARTITION BY doc_id) AS last_v
      FROM snaps
    ),
    scd AS (
      SELECT doc_id, version AS valid_from,
             COALESCE(lead(version) OVER (PARTITION BY doc_id
                                          ORDER BY version) - 1,
                      last_v) AS valid_to
      FROM hist
      WHERE prev_fp IS NULL OR fp <> prev_fp
    )
    SELECT valid_from, valid_to, COUNT(*) AS n_rows
    FROM scd GROUP BY valid_from, valid_to
    ORDER BY valid_from, valid_to
    """,
    doc="SCD2 history build: three deterministic corpus snapshots (drops + "
    "revisions derived from doc_id residues) collapse into slowly-changing-"
    "dimension rows with [valid_from, valid_to] spans — a row opens at each "
    "fingerprint change and closes at the next change or the doc's last "
    "surviving version (so deletions close spans early). Bodies reduce to "
    "md5 scan-side; every window is doc_id-keyed over <= 3 rows, so the "
    "shuffle carries (doc_id, version, 32B) per snapshot row at any scale",
    tags=("versioning", "scd2"),
)
def docs_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    snaps = _snapshot_versions(load_tables(spark, sf_dir)["documents"])
    w = Window.partitionBy("doc_id").orderBy("version")
    hist = snaps.select(
        "doc_id",
        "version",
        "fp",
        F.lag("fp").over(w).alias("prev_fp"),
        F.max("version").over(
            Window.partitionBy("doc_id").rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("last_v"),
    )
    changes = hist.filter(
        F.col("prev_fp").isNull() | (F.col("fp") != F.col("prev_fp"))
    )
    scd = changes.select(
        "doc_id",
        F.col("version").alias("valid_from"),
        F.coalesce(
            F.lead("version").over(w) - F.lit(1), F.col("last_v")
        ).alias("valid_to"),
    )
    return (
        scd.groupBy("valid_from", "valid_to")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .orderBy("valid_from", "valid_to")
    )


# Bloom-filter dedup prefilter (the classic Bloom-join pattern: Bloom
# CACM'70; Mullin TSE'90). The filter width is NOT fixed — the round-6
# design's compile-time 4,096 cells were already ~91% full at sf0.1
# (≈76% false-positive rate, voiding the prefilter) and saturate completely
# on any real corpus. The width is now derived at plan time from the corpus
# row count, m = next_pow2(n·k / ln 2) — the optimal-width rule that holds
# fill ≈ 50% and false-positive rate ≈ 0.5^k ≈ 12.5% at ANY corpus size —
# clamped to [2^12, 2^25] cells. The filter itself is a PACKED BITMAP built
# by a distributed bit_or aggregate over (pos >> 6 → word, 1 << (pos & 63))
# rows: at the 2^25-cell cap it is ≤ 512Ki sparse (word, bits) rows ≈ 4 MiB
# dense, broadcastable regardless of corpus size. The cap holds ≈ 7.7M
# fingerprints at 50% fill (n* = m·ln2/k); beyond that, fill — and with it
# the false-positive rate — degrades gracefully toward forwarding
# everything to the exact verify join (the honest saturation point,
# documented in SCALE.md). The DuckDB oracle derives the IDENTICAL width
# from COUNT(*) via exact integer arithmetic (1/ln2 ≈ 144270/10^5), the
# sem_cell_bits/auto_bits discipline, so the gate reproduces the filter
# bit-for-bit at every corpus size.
BLOOM_K = 3
BLOOM_MIN_CELL_BITS = 12  # 2^12 = the old fixed width, now the floor
BLOOM_MAX_CELL_BITS = 25  # 2^25 cells ≈ 4 MiB packed — the broadcast cap
_INV_LN2_NUM, _INV_LN2_DEN = 144270, 100000  # 1/ln2 to 5 digits, exact ints


def bloom_cell_bits(n_rows: int) -> int:
    """log2(cells) for a corpus of ``n_rows`` fingerprint rows.

    ``n_rows`` is the pre-distinct row count (an upper bound on distinct
    fingerprints, so the width only ever over-sizes — and it is free: a
    parquet metadata count, no distinct shuffle at plan time)."""
    m_min = max(1, (n_rows * BLOOM_K * _INV_LN2_NUM) // _INV_LN2_DEN)
    return min(
        BLOOM_MAX_CELL_BITS,
        max(BLOOM_MIN_CELL_BITS, max(m_min - 1, 1).bit_length()),
    )


def duck_bloom_cell_bits(count_sql: str) -> str:
    """SQL twin of :func:`bloom_cell_bits`; ``count_sql`` is a COUNT(*)
    scalar subquery. length(bin(x)) == bit_length(x) for x >= 1."""
    m_min = (
        f"GREATEST(1, (CAST(({count_sql}) AS BIGINT) * {BLOOM_K}"
        f" * {_INV_LN2_NUM}) // {_INV_LN2_DEN})"
    )
    return (
        f"LEAST({BLOOM_MAX_CELL_BITS}, GREATEST({BLOOM_MIN_CELL_BITS}, "
        f"length(bin(GREATEST({m_min} - 1, 1)))))"
    )


def _bloom_positions(fp_col, engine: str, cells):
    """The BLOOM_K salted cell positions of a fingerprint, as expressions.

    Spark form returns a list of Columns (``cells`` a plan-time int);
    DuckDB form a list of SQL fragments (``cells`` the SQL text of the
    cell count, e.g. a shifted scalar subquery) — identical md5-derived
    arithmetic, so the driver oracle reproduces the filter bit-for-bit."""
    from compass_query_optimizer_spark.functions.hashing import (
        duck_portable_hash,
        spark_portable_hash,
    )

    if engine == "spark":
        return [
            spark_portable_hash(F.concat(F.lit(f"bloom{j}-"), fp_col))
            % F.lit(int(cells))
            for j in range(BLOOM_K)
        ]
    out = []
    for j in range(BLOOM_K):
        salted = f"'bloom{j}-' || {fp_col}"
        out.append(f"({duck_portable_hash(salted)} % {cells})")
    return out


def _bloom_oracle() -> str:
    bits = duck_bloom_cell_bits(
        "SELECT COUNT(*) FROM documents WHERE doc_id % 3 <> 0"
    )
    cells = f"(CAST(1 AS BIGINT) << ({bits}))"
    pos_list = ", ".join(_bloom_positions("fp", "duck", cells))
    # per-position membership, ANDed — NOT "count of matching cells == K":
    # if two of a fingerprint's K salted positions collide, they occupy one
    # cell and a distinct-count formulation would report a false negative
    # for a true duplicate (and diverge from the Spark side's per-position
    # bitmap-test conjunction)
    hit = " AND ".join(
        f"({p} IN (SELECT pos FROM bits))"
        for p in _bloom_positions("fp", "duck", cells)
    )
    return f"""
    WITH corpus AS (
      SELECT md5(text) AS fp FROM documents WHERE doc_id % 3 <> 0
    ),
    bits AS (
      SELECT DISTINCT pos FROM corpus, UNNEST([{pos_list}]) AS t(pos)
    ),
    batch AS (
      SELECT doc_id, md5(text) AS fp FROM documents WHERE doc_id % 3 = 0
      UNION ALL
      SELECT doc_id + 500000 AS doc_id, md5(text) AS fp
      FROM documents WHERE doc_id % 3 <> 0 AND doc_id % 7 = 0
    ),
    probed AS (
      SELECT doc_id, fp, {hit} AS bloom_hit
      FROM batch
    ),
    dup AS (SELECT DISTINCT fp FROM corpus)
    SELECT p.doc_id, p.bloom_hit,
           (p.bloom_hit AND d.fp IS NOT NULL) AS is_dup
    FROM probed p LEFT JOIN dup d ON p.bloom_hit AND p.fp = d.fp
    ORDER BY p.doc_id
    """


@query(
    "dedup_bloom",
    _bloom_oracle,  # deferred (cheap, but keeps f-string noise out of import)
    doc="Bloom-join dedup prefilter: the standing corpus folds into a "
    f"{BLOOM_K}-hash Bloom filter whose width is AUTO-SIZED from the "
    "plan-time corpus count (m = next_pow2(n·k/ln2), ~50% fill → ~12.5% "
    f"false positives at any size, clamped to [2^{BLOOM_MIN_CELL_BITS}, "
    f"2^{BLOOM_MAX_CELL_BITS}] cells) and stored as a packed 64-bit-word "
    "bitmap (≤4 MiB at the cap) built by a distributed bit_or aggregate "
    "and broadcast over the arrival batch; only bloom hits reach the "
    "exact fingerprint semi-join, so misses never shuffle. Reports per "
    "batch doc the bloom verdict and the exact verdict — every true dup "
    "must be a bloom hit (no false negatives), extra hits are the "
    "filter's bounded false-positive rate",
    tags=("dedup", "versioning", "bloom"),
)
def dedup_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir)["documents"]
    corpus_rows = docs.filter(F.col("doc_id") % 3 != 0)
    # plan-time width from the row count (metadata-cheap; upper-bounds the
    # distinct-fp count so the filter only over-sizes) — the oracle derives
    # the identical width from the same COUNT(*)
    cells = 1 << bloom_cell_bits(corpus_rows.count())
    corpus = corpus_rows.select(F.md5("text").alias("fp"))
    # the filter: packed bitmap as sparse (word, bits) rows — pos >> 6
    # selects the 64-bit word, bit_or folds each word's bits distributed
    # (map-side partial agg); ≤ cells/64 rows ≈ 4 MiB at the cap
    words = (
        corpus.select(
            F.explode(
                F.array(*_bloom_positions(F.col("fp"), "spark", cells))
            ).alias("pos")
        )
        .select(
            F.shiftright("pos", 6).alias("w"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))").alias("b"),
        )
        .groupBy("w")
        .agg(F.bit_or("b").alias("bits"))
    )
    batch = docs.filter(F.col("doc_id") % 3 == 0).select(
        "doc_id", F.md5("text").alias("fp")
    ).unionByName(
        docs.filter((F.col("doc_id") % 3 != 0) & (F.col("doc_id") % 7 == 0))
        .select((F.col("doc_id") + 500000).alias("doc_id"), F.md5("text").alias("fp"))
    )
    # probe per DISTINCT fingerprint (positions depend on fp alone): one
    # (word, bit) row per hash, left-joined against the broadcast bitmap —
    # a probe word absent from the sparse map is a clean miss — then AND
    # the K per-position verdicts back into one bloom_hit per fp
    probes = (
        batch.select("fp")
        .distinct()
        .select(
            "fp",
            F.explode(
                F.array(*_bloom_positions(F.col("fp"), "spark", cells))
            ).alias("pos"),
        )
        .select(
            "fp",
            F.shiftright("pos", 6).alias("w"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))").alias("b"),
        )
        .join(F.broadcast(words), "w", "left")
        .select(
            "fp",
            F.coalesce(
                F.col("bits").bitwiseAND(F.col("b")) != 0, F.lit(False)
            ).alias("hit"),
        )
        .groupBy("fp")
        .agg(F.bool_and("hit").alias("bloom_hit"))
    )
    probed = batch.join(probes, "fp").select("doc_id", "fp", "bloom_hit")
    # exact verify ONLY for bloom hits: the miss rows skip the join. The
    # verdict joins back on (doc_id, fp), NOT doc_id alone — the batch is
    # a union of fresh docs and +500000-offset re-ingests, so once the
    # corpus holds ids >= 500000 two batch rows can share a doc_id with
    # different fingerprints, and a doc_id-only join would fan out and
    # mispair verdicts (distinct() collapses byte-identical re-offers of
    # the same doc so the join stays one verdict per probed row).
    dup = corpus.distinct().withColumn("__seen", F.lit(1))
    verified = (
        probed.filter(F.col("bloom_hit"))
        .join(dup, "fp", "left")
        .select("doc_id", "fp", F.col("__seen").isNotNull().alias("is_dup"))
        .distinct()
    )
    return (
        probed.join(verified, ["doc_id", "fp"], "left")
        .select(
            "doc_id",
            "bloom_hit",
            F.coalesce(F.col("is_dup"), F.lit(False)).alias("is_dup"),
        )
        .orderBy("doc_id")
    )


@query(
    "docs_version_churn",
    f"""
    {_SNAPSHOTS_CTE}
    hist AS (
      SELECT doc_id, fp,
             lag(fp) OVER (PARTITION BY doc_id ORDER BY version) AS prev_fp,
             MAX(version) OVER (PARTITION BY doc_id) AS last_v
      FROM snaps
    ),
    per_doc AS (
      SELECT doc_id,
             CAST(SUM(CASE WHEN prev_fp IS NOT NULL AND fp <> prev_fp
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_changes,
             (MIN(last_v) < 3) AS deleted
      FROM hist GROUP BY doc_id
    )
    SELECT n_changes, deleted, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM per_doc GROUP BY n_changes, deleted
    ORDER BY n_changes, deleted
    """,
    doc="version-churn histogram over the docs_scd2 snapshot chain: per-doc "
    "count of fingerprint changes and deletion flag, rolled up to (churn, "
    "deleted) buckets — the corpus-stability report a versioned-ingest "
    "owner reads before choosing re-crawl cadence. Same body-free "
    "(doc_id, version, md5) shuffle as SCD2; every window is doc-keyed "
    "over ≤3 rows",
    tags=("versioning",),
)
def docs_version_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    snaps = _snapshot_versions(load_tables(spark, sf_dir)["documents"])
    w = Window.partitionBy("doc_id").orderBy("version")
    whole = Window.partitionBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    hist = snaps.select(
        "doc_id",
        "fp",
        F.lag("fp").over(w).alias("prev_fp"),
        F.max("version").over(whole).alias("last_v"),
    )
    per_doc = hist.groupBy("doc_id").agg(
        F.sum(
            F.when(
                F.col("prev_fp").isNotNull() & (F.col("fp") != F.col("prev_fp")), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_changes"),
        (F.min("last_v") < 3).alias("deleted"),
    )
    return (
        per_doc.groupBy("n_changes", "deleted")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("n_changes", "deleted")
    )


# ---------------------------------------------------------------------------
# Dataset fingerprint: a partitioning-invariant, mergeable content hash of
# the corpus, per source and overall — the governance primitive behind
# "did anything change since the snapshot we trained on?". A Merkle-root
# answers that for ORDERED data; a distributed table has no order, so the
# fingerprint is the SUM of per-row hashes MOD the Mersenne prime 2^61−1 —
# commutative (identical under any shuffle/partitioning/re-shard),
# mergeable (per-source fingerprints combine by modular addition), exact
# at any corpus size, and a plain BIGINT in both engines (the driver's
# value-hash is type-sensitive, so the carrier type is part of the
# contract). The sum is widened to decimal(38,0) INTERNALLY before the
# mod so no intermediate ever wraps.
# ---------------------------------------------------------------------------


@query(
    "docs_dataset_fingerprint",
    None,  # generated below (portable-hash constants inlined)
    doc="content-addressed dataset fingerprint per source + overall "
    "(ROLLUP): SUM over rows of the portable 48-bit hash of "
    "(doc_id ':' text), taken mod the Mersenne prime 2^61−1 — exact "
    "(decimal-widened before the mod), commutative (identical under ANY "
    "partitioning or re-shard), and mergeable (per-source fingerprints "
    "combine by modular addition). One scan, one sources-sized "
    "aggregate; a changed/added/dropped doc changes the fingerprint "
    "with md5 sensitivity. The reproducibility check a training run "
    "records next to its data snapshot",
    tags=("versioning", "governance"),
)
def docs_dataset_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from compass_query_optimizer_spark.functions.hashing import (
        spark_portable_hash,
    )

    docs = spread(load_tables(spark, sf_dir)["documents"])
    h = spark_portable_hash(
        F.concat(F.col("doc_id").cast("string"), F.lit(":"), F.col("text"))
    ).cast("decimal(38,0)")
    m = (1 << 61) - 1
    return (
        docs.select(F.col("source"), h.alias("h"))
        .rollup("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.pmod(F.sum("h"), F.lit(m).cast("decimal(38,0)"))
            .cast("long")
            .alias("fingerprint"),
        )
        .select(
            F.coalesce(F.col("source"), F.lit("ALL")).alias("source"),
            "n_docs",
            "fingerprint",
        )
        .orderBy("source")
    )


def _fingerprint_oracle() -> str:
    from compass_query_optimizer_spark.functions.hashing import (
        duck_portable_hash,
    )

    h = duck_portable_hash("concat(CAST(doc_id AS VARCHAR), ':', text)")
    m = (1 << 61) - 1
    return f"""
    SELECT COALESCE(source, 'ALL') AS source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CAST({h} AS HUGEINT)) % {m} AS BIGINT) AS fingerprint
    FROM documents
    GROUP BY ROLLUP (source)
    ORDER BY source
    """


from compass_query_optimizer_spark import registry as _vregistry  # noqa: E402

_vregistry._REGISTRY["docs_dataset_fingerprint"].oracle = _fingerprint_oracle()
