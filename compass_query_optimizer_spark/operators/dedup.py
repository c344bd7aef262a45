"""Deduplication operators for large-scale training-data pipelines.

Five dedup strategies over the `documents` / `embeddings` tables, each a
registered oracle-checked query:

- exact: hash-groupBy on normalized text (one shuffle on a 128-bit key)
- minhash_lsh: word-shingle → K minhash values → banded LSH bucket join
  (the classic near-dup pipeline; shuffle keys are (band, band_key) so
  candidate generation never goes quadratic)
- simhash: 32-bit sign-aggregated fingerprint + 4-block pigeonhole join
  (guarantees full recall for hamming ≤ 3)
- ngram_jaccard: character-3-gram Jaccard via gram-level equi-join
- embedding cosine near-dup: quantized-int dot products (bit-identical
  across engines). The all-pairs variant here is a TEST-ONLY baseline;
  the registered scale entry is dedup_embedding_lsh in
  operators/similarity.py (multi-table hyperplane candidates)

Determinism note: all hashing is the portable md5-based scheme from
functions/hashing.py so the DuckDB oracle reproduces results bit-for-bit;
embeddings are quantized to ints (×10⁴) so dot products are exact integers
and cosine is a single IEEE division — identical in both engines.

Scale note: the LSH variants are the 100 TB path (bucketed joins); the
brute-force pair generators (ngram pairs, embedding cross join) are
correctness baselines whose oracle checks validate the LSH variants'
candidates.
"""

from __future__ import annotations

import logging

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from compass_query_optimizer_spark.catalog import load_tables, spread
from compass_query_optimizer_spark.functions.hashing import (
    P31,
    auto_bits,
    cw_params,
    duck_auto_bits,
    duck_cw_hash,
    duck_portable_hash,
    spark_cw_hash,
    spark_portable_hash,
)
from compass_query_optimizer_spark.registry import query

_log = logging.getLogger(__name__)

MINHASH_K = 12  # number of minhash functions
MINHASH_R = 3  # rows per band → 4 bands
SHINGLE_W = 3  # words per shingle
_MH_PARAMS = cw_params(MINHASH_K, salt="minhash")


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------
@query(
    "dedup_exact",
    """
    SELECT md5(array_to_string(regexp_extract_all(lower(text), '[a-z0-9]+'), ' ')) AS text_key,
           CAST(MIN(doc_id) AS BIGINT) AS keep_id,
           COUNT(*) AS n_dups
    FROM documents
    GROUP BY 1
    ORDER BY text_key
    """,
    doc="exact dedup: group by md5 of normalized text, keep min doc_id "
    "(single shuffle on the hash key; at 100 TB pre-aggregate per "
    "partition then shuffle only (key, min, count))",
    tags=("dedup",),
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    # imported here: a module-level import would register text's entries
    # ahead of this module's and reorder the registry
    from compass_query_optimizer_spark.operators.text import _re_tokens

    t = load_tables(spark, sf_dir)
    norm = F.array_join(_re_tokens(F.col("text")), " ")
    return (
        spread(t["documents"])
        .groupBy(F.md5(norm).alias("text_key"))
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_dups"))
        .orderBy("text_key")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def _spark_shingles(docs: DataFrame) -> DataFrame:
    """(doc_id, shingle) distinct word-W shingles, JVM higher-order fns.

    Docs with fewer than SHINGLE_W tokens produce NO shingles (empty array
    guard): Spark's sequence(1, 0) is the descending [1, 0], whose 0 index
    would crash slice(); the DuckDB oracle's range(1, ...) is empty for the
    same docs, so the guard also keeps both engines aligned."""
    toks = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    shingles = F.when(
        F.size(toks) >= SHINGLE_W,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (SHINGLE_W - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, SHINGLE_W)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return spread(docs).select(
        "doc_id", F.explode(F.array_distinct(shingles)).alias("shingle")
    )


def minhash_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, h0..h{K-1}): K minhash values per doc, wide format.

    K min-aggregates over the shingle hashes in ONE groupBy — no per-hash
    explode, so the pre-shuffle row count is the shingle count (not K×) and
    map-side partial aggregation reduces each partition to one row per doc
    before the exchange. All hash arithmetic is codegen'd integer math.
    """
    grams = _spark_shingles(docs).select(
        "doc_id", spark_portable_hash(F.col("shingle")).alias("g")
    )
    return grams.groupBy("doc_id").agg(
        *[
            F.min(spark_cw_hash(F.col("g"), a, b)).alias(f"h{i}")
            for i, (a, b) in enumerate(_MH_PARAMS)
        ]
    )


def minhash_bands(docs: DataFrame) -> DataFrame:
    """(doc_id, band, band_key): banded LSH keys, one row per (doc, band).

    The bucket table every MinHash consumer joins on — self-joined by
    :func:`minhash_candidate_pairs`, probed against a standing corpus by
    ``dedup_incremental_minhash`` (where the corpus side is the
    precomputed, persistable index)."""
    sigs = minhash_signatures(docs)
    n_bands = MINHASH_K // MINHASH_R
    band_structs = F.array(
        *[
            F.struct(
                F.lit(band).alias("band"),
                F.concat_ws(
                    ",",
                    *[
                        F.col(f"h{band * MINHASH_R + r}").cast("string")
                        for r in range(MINHASH_R)
                    ],
                ).alias("band_key"),
            )
            for band in range(n_bands)
        ]
    )
    return sigs.select(
        "doc_id", F.explode(band_structs).alias("bk")
    ).select(
        "doc_id",
        F.col("bk.band").alias("band"),
        F.col("bk.band_key").alias("band_key"),
    )


def minhash_candidate_pairs(docs: DataFrame) -> DataFrame:
    """(doc_a, doc_b) distinct candidate pairs (doc_a < doc_b), unordered —
    the banded-LSH bucket self-join shared by dedup_minhash_lsh and the
    connected-components clustering pass."""
    bands = minhash_bands(docs)
    a = bands.select(
        F.col("doc_id").alias("doc_a"), "band", "band_key"
    )
    b = bands.select(
        F.col("doc_id").alias("doc_b"), "band", "band_key"
    )
    return (
        a.join(b, ["band", "band_key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


@query(
    "dedup_minhash_lsh",
    None,  # generated below (needs the hash constants inlined)
    doc="MinHash+LSH near-dup candidates: word-3-shingles → 12 minhashes → "
    "4 bands of 3 → bucket self-join; emits candidate doc pairs",
    tags=("dedup", "lsh"),
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    return minhash_candidate_pairs(t["documents"]).orderBy("doc_a", "doc_b")


def _minhash_oracle() -> str:
    params = ", ".join(f"({i}, {a}, {b})" for i, (a, b) in enumerate(_MH_PARAMS))
    g = duck_portable_hash("shingle")
    return f"""
    WITH params(i, a, b) AS (VALUES {params}),
    toks AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS tok
      FROM documents
    ),
    shingles AS (
      SELECT DISTINCT doc_id,
             tok[s.i] || ' ' || tok[s.i+1] || ' ' || tok[s.i+2] AS shingle
      FROM toks, UNNEST(range(1, greatest(len(tok) - {SHINGLE_W - 2}, 1))) AS s(i)
    ),
    grams AS (SELECT doc_id, {g} AS g FROM shingles),
    sigs AS (
      SELECT doc_id, p.i, MIN((p.a * (g % {P31}) + p.b) % {P31}) AS minh
      FROM grams CROSS JOIN params p
      GROUP BY doc_id, p.i
    ),
    bands AS (
      SELECT doc_id, CAST(i // {MINHASH_R} AS INTEGER) AS band,
             string_agg(CAST(minh AS VARCHAR), ',' ORDER BY i) AS band_key
      FROM sigs GROUP BY 1, 2
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
    WHERE a.doc_id < b.doc_id
    ORDER BY doc_a, doc_b
    """


def _duck_minhash_bands(src: str, prefix: str) -> str:
    """CTE chain computing (doc_id, band, band_key) for relation ``src``
    (the SQL twin of :func:`minhash_bands`); CTE names are prefixed so the
    corpus and batch sides coexist in one query. Requires a ``params``
    CTE with the shared Carter–Wegman constants in scope."""
    g = duck_portable_hash("shingle")
    return f"""{prefix}toks AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS tok
      FROM {src}
    ),
    {prefix}shingles AS (
      SELECT DISTINCT doc_id,
             tok[s.i] || ' ' || tok[s.i+1] || ' ' || tok[s.i+2] AS shingle
      FROM {prefix}toks, UNNEST(range(1, greatest(len(tok) - {SHINGLE_W - 2}, 1))) AS s(i)
    ),
    {prefix}grams AS (SELECT doc_id, {g} AS g FROM {prefix}shingles),
    {prefix}sigs AS (
      SELECT doc_id, p.i, MIN((p.a * (g % {P31}) + p.b) % {P31}) AS minh
      FROM {prefix}grams CROSS JOIN params p
      GROUP BY doc_id, p.i
    ),
    {prefix}bands AS (
      SELECT doc_id, CAST(i // {MINHASH_R} AS INTEGER) AS band,
             string_agg(CAST(minh AS VARCHAR), ',' ORDER BY i) AS band_key
      FROM {prefix}sigs GROUP BY 1, 2
    )"""


def _inc_minhash_oracle() -> str:
    params = ", ".join(f"({i}, {a}, {b})" for i, (a, b) in enumerate(_MH_PARAMS))
    return f"""
    WITH params(i, a, b) AS (VALUES {params}),
    corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 <> 0),
    batch AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0
      UNION ALL
      SELECT doc_id + 700000 AS doc_id, text || ' appended probe token' AS text
      FROM documents WHERE doc_id % 3 <> 0 AND doc_id % 5 = 0
    ),
    {_duck_minhash_bands('corpus', 'c_')},
    {_duck_minhash_bands('batch', 'b_')},
    hits AS (
      SELECT b.doc_id, COUNT(DISTINCT c.doc_id) AS n_candidates
      FROM b_bands b
      JOIN c_bands c ON b.band = c.band AND b.band_key = c.band_key
      GROUP BY b.doc_id
    )
    SELECT b.doc_id,
           CAST(COALESCE(h.n_candidates, 0) AS BIGINT) AS n_candidates,
           (COALESCE(h.n_candidates, 0) > 0) AS is_near_dup
    FROM batch b LEFT JOIN hits h ON b.doc_id = h.doc_id
    ORDER BY b.doc_id
    """


@query(
    "dedup_incremental_minhash",
    _inc_minhash_oracle,  # deferred (inlines the hash constants)
    doc="incremental NEAR-dup dedup against a standing corpus (the "
    "continuous-crawl shape; the exact-hash twin is dedup_incremental): "
    "the corpus folds once into its banded MinHash bucket table — the "
    "persistable index, O(corpus·bands) rows — and each arrival batch "
    "probes it with an equi-join on (band, band_key); per arrival doc "
    "reports how many distinct corpus docs share a band and the "
    "near-dup verdict. Shuffle is O(corpus + batch), never quadratic, "
    "and at 100 TB the corpus side is precomputed/bucketed so only the "
    "batch ever re-hashes. Fixture re-ingests every 5th corpus doc with "
    "an appended token (high Jaccard, not byte-identical) so both "
    "verdicts are exercised",
    tags=("dedup", "lsh", "incremental"),
)
def dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir)["documents"]
    corpus = docs.filter(F.col("doc_id") % 3 != 0).select("doc_id", "text")
    batch = (
        docs.filter(F.col("doc_id") % 3 == 0)
        .select("doc_id", "text")
        .unionByName(
            docs.filter(
                (F.col("doc_id") % 3 != 0) & (F.col("doc_id") % 5 == 0)
            ).select(
                (F.col("doc_id") + 700000).alias("doc_id"),
                F.concat(
                    F.col("text"), F.lit(" appended probe token")
                ).alias("text"),
            )
        )
    )
    cb = minhash_bands(corpus).select(
        F.col("doc_id").alias("corpus_id"), "band", "band_key"
    )
    hits = (
        minhash_bands(batch)
        .join(cb, ["band", "band_key"])
        .groupBy("doc_id")
        .agg(F.count_distinct("corpus_id").alias("n_candidates"))
    )
    return (
        batch.select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_candidates"), F.lit(0))
            .cast("long")
            .alias("n_candidates"),
            (F.coalesce(F.col("n_candidates"), F.lit(0)) > 0).alias(
                "is_near_dup"
            ),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------
# Parameters (the oracle SQL is generated from the same constants):
#
#   SIMHASH_BITS    fingerprint width  (48; the code lives in one BIGINT)
#   SIMHASH_BLOCKS  pigeonhole blocks  (4)
#
# Pigeonhole guarantee: hamming ≤ BLOCKS-1 ⇒ two codes agree on ≥1 of the
# BLOCKS equal-width blocks, so recall is 100% for MAXDIST = BLOCKS-1.
# Cost: candidate volume per bucket ~ N / 2^(BITS/BLOCKS). Sizing table
# (docs sharing one bucket at uniform spread):
#
#   BITS BLOCKS block_bits  buckets/block  expected bucket size @ 10^9 docs
#    32    4        8           256            ~4·10^6  (too fat: the old
#                                               default — 205k candidate
#                                               pairs on 5k synthetic docs)
#    48    4       12          4096            ~2.4·10^5  (this width)
#
# At 10^9+ docs more BLOCKS would tolerate more edit distance, at the
# price of fatter buckets. BITS caps at 48: the portable token hash is
# 48-bit (functions/hashing.py), so bit positions past 47 would be
# constant-zero noise that widens the code without discriminating anything.
#
# Block width is AUTO-SIZED from the corpus count at plan time:
# block_bits = smallest b with expected <= SIMHASH_TARGET_BUCKET docs per
# bucket, clamped to [4, BITS/BLOCKS]. The BLOCKS buckets then key on the
# LOW blocks*block_bits bits of the full-width fingerprint — the
# pigeonhole guarantee survives partial coverage: hamming(full code) <=
# BLOCKS-1 implies <= BLOCKS-1 diffs inside the covered region too, so at
# least one covered block still matches. Only precision (bucket fatness)
# varies with the width, never recall.
SIMHASH_BITS = 48
SIMHASH_BLOCKS = 4
SIMHASH_BLOCK_BITS = SIMHASH_BITS // SIMHASH_BLOCKS  # fixed/maximum width
SIMHASH_BLOCK_MASK = (1 << SIMHASH_BLOCK_BITS) - 1
SIMHASH_MAXDIST = SIMHASH_BLOCKS - 1  # the pigeonhole-exact radius
SIMHASH_TARGET_BUCKET = 2  # expected docs per block-bucket the width aims for
SIMHASH_MIN_BLOCK_BITS = 4


def simhash_block_bits(n_docs: int) -> int:
    """Plan-time pigeonhole block width for a corpus of ``n_docs``: the
    shared auto_bits formula the oracle mirrors via duck_auto_bits."""
    return auto_bits(
        n_docs, SIMHASH_TARGET_BUCKET, SIMHASH_MIN_BLOCK_BITS, SIMHASH_BLOCK_BITS
    )


def simhash_codes(docs: DataFrame) -> DataFrame:
    """(doc_id, code): SIMHASH_BITS-bit simhash over word tokens (with
    multiplicity).

    One shuffle: one popcount sum per bit — SUM((h>>j)&1), branch-free, a
    cheaper codegen than a signed CASE sum — plus one COUNT(*) in a single
    groupBy; bit j of the code is set iff tokens with the bit set form a
    majority (2·pop > count, the same sign rule as the ±1 formulation).
    No per-bit explode, so the pre-shuffle row count is the token count,
    not BITS× it, and map-side partial aggregation reduces each partition
    to one row per doc before the exchange."""
    toks = spread(docs).select(
        "doc_id",
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("word"),
    )
    # materialize the hash once per token — referencing the raw expression
    # inside all the per-bit aggregates would re-run md5 BITS× per row
    toks = toks.select("doc_id", spark_portable_hash(F.col("word")).alias("h"))
    # server-side expression strings (round 12): the Column-built form
    # created ~350 py4j round-trip Column objects (48 shiftright sums +
    # a 48-branch CASE chain) ≈ 0.6 s of driver-side build wall per
    # invocation; the parsed expressions are identical, so the plan and
    # results are unchanged.
    bit_sums = [
        F.expr(f"sum((shiftright(h, {j}) & 1))").alias(f"b{j}")
        for j in range(SIMHASH_BITS)
    ]
    per_doc = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_toks"), *bit_sums
    )
    code = F.expr(
        "CAST(0 AS BIGINT)"
        + "".join(
            f" + CASE WHEN b{j} * 2 > n_toks THEN {1 << j}L ELSE 0L END"
            for j in range(SIMHASH_BITS)
        )
    )
    return per_doc.select("doc_id", code.alias("code"))


@query(
    "dedup_simhash",
    None,  # generated below
    doc=f"SimHash near-dup pairs: {SIMHASH_BITS}-bit sign-aggregated "
    f"fingerprint, {SIMHASH_BLOCKS}-block pigeonhole bucket join, exact "
    f"for hamming ≤ {SIMHASH_MAXDIST} (env-tunable, see sizing table)",
    tags=("dedup", "lsh"),
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    codes = simhash_codes(t["documents"])
    # plan-time block width from the corpus count (the sim_ann_ivf stride
    # pattern); the oracle derives the same width from COUNT(*)
    bb = simhash_block_bits(t["documents"].count())
    blocks = codes.select(
        "doc_id",
        "code",
        F.explode(
            F.array(*[F.lit(k) for k in range(SIMHASH_BLOCKS)])
        ).alias("blk"),
    ).withColumn(
        "blk_key",
        F.expr(
            f"shiftright(code, blk * {bb}) "
            f"& CAST({(1 << bb) - 1} AS BIGINT)"
        ),
    )
    a = blocks.select(
        F.col("doc_id").alias("doc_a"), F.col("code").alias("code_a"), "blk", "blk_key"
    )
    b = blocks.select(
        F.col("doc_id").alias("doc_b"), F.col("code").alias("code_b"), "blk", "blk_key"
    )
    return (
        a.join(b, ["blk", "blk_key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            F.bit_count(
                F.col("code_a").bitwiseXOR(F.col("code_b"))
            ).alias("hamming"),
        )
        .filter(F.col("hamming") <= SIMHASH_MAXDIST)
        .distinct()
        .orderBy("doc_a", "doc_b")
    )


def _simhash_oracle() -> str:
    h = duck_portable_hash("word")
    bb = duck_auto_bits(
        "(SELECT COUNT(*) FROM documents)",
        SIMHASH_TARGET_BUCKET,
        SIMHASH_MIN_BLOCK_BITS,
        SIMHASH_BLOCK_BITS,
    )
    return f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS word
      FROM documents
    ),
    hashed AS (SELECT doc_id, {h} AS h FROM toks),
    per_bit AS (
      SELECT doc_id, j.j AS j,
             SUM((h >> j.j) & 1) AS pop, COUNT(*) AS cnt
      FROM hashed, UNNEST(range(0, {SIMHASH_BITS})) AS j(j)
      GROUP BY 1, 2
    ),
    codes AS (
      SELECT doc_id,
             SUM(CASE WHEN pop * 2 > cnt THEN CAST(1 AS BIGINT) << j ELSE 0 END) AS code
      FROM per_bit GROUP BY doc_id
    ),
    blocks AS (
      SELECT doc_id, code, k.k AS blk,
             (code >> (k.k * ({bb}))) & ((CAST(1 AS BIGINT) << ({bb})) - 1) AS blk_key
      FROM codes, UNNEST(range(0, {SIMHASH_BLOCKS})) AS k(k)
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.code, b.code)) AS INTEGER) AS hamming
    FROM blocks a JOIN blocks b ON a.blk = b.blk AND a.blk_key = b.blk_key
    WHERE a.doc_id < b.doc_id AND bit_count(xor(a.code, b.code)) <= {SIMHASH_MAXDIST}
    ORDER BY doc_a, doc_b
    """


# ---------------------------------------------------------------------------
# character n-gram Jaccard
# ---------------------------------------------------------------------------
JACCARD_N = 3
# 0.8 targets true near-duplicates: the synthetic corpus shows a density
# cliff (sf0.01: 26,559 pairs ≥ 0.55 — template similarity — vs 25 ≥ 0.8 —
# injected dups). Below the cliff the OUTPUT is quadratic in corpus size,
# which no candidate-generation scheme can outrun.
JACCARD_THRESHOLD = 0.8


def char_gram_array(txt):
    """array of all character-N-grams of ``txt``. Texts shorter than N chars
    yield NO grams: sequence(1, 0) would be the descending [1, 0]
    (position-0 substr emits a short gram the oracle's length(...)=N
    predicate rejects), so guard with an empty array instead."""
    return F.when(
        F.length(txt) >= JACCARD_N,
        F.transform(
            F.sequence(F.lit(1), F.length(txt) - (JACCARD_N - 1)),
            lambda i: txt.substr(i, F.lit(JACCARD_N)),
        ),
    ).otherwise(F.array().cast("array<string>"))


@query(
    "dedup_ngram_jaccard",
    None,  # generated below (hashed-gram oracle)
    doc="char-3-gram Jaccard threshold join with PPJoin-style prefix "
    "filtering (Bayardo et al., WWW'07): candidates must share a gram in "
    "each doc's |d|-ceil(t·|d|)+1 globally-rarest grams, then exact "
    "verification — output identical to the naive gram join, but the "
    "common-gram quadratic blowup is gone (prefixes hold only rare grams)",
    tags=("dedup",),
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    t = load_tables(spark, sf_dir)
    grams_arr = char_gram_array(F.lower(F.col("text")))
    # Grams are hashed to 48-bit ints (portable md5 scheme, mirrored in the
    # oracle) — narrower shuffles and integer set ops downstream. The gram
    # table feeds five consumers, so materialize it once (localCheckpoint)
    # instead of re-running parse+explode+md5 per consumer — the analog of
    # the reference materializing its filtered pre-pass tables
    # (FilterPushDownSketch.cpp:125-304).
    grams = (
        spread(t["documents"])
        .select("doc_id", F.explode(F.array_distinct(grams_arr)).alias("g"))
        .select("doc_id", spark_portable_hash(F.col("g")).alias("gram"))
        .localCheckpoint(eager=False)
    )
    sizes = grams.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    # Global gram rarity. The char-3-gram vocabulary is bounded (~|charset|³),
    # so document frequency is a broadcast-able side table even at 100 TB.
    gram_df = grams.groupBy("gram").agg(F.count(F.lit(1)).alias("df"))
    ranked = (
        grams.join(F.broadcast(gram_df), "gram")
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy("df", "gram")
            ),
        )
        .join(sizes, "doc_id")
    )
    # Prefix-filter theorem: J(x,y) ≥ t ⇒ |x∩y| ≥ ⌈t·|x|⌉, so any qualifying
    # pair shares a gram within each side's first n-⌈t·n⌉+1 grams in ANY
    # consistent global order; ordering by ascending df makes those shared
    # grams the rarest ones → small join fan-out on natural corpora.
    prefix = ranked.filter(
        F.col("rk")
        <= F.col("n") - F.ceil(F.lit(JACCARD_THRESHOLD) * F.col("n")) + 1
    ).select("doc_id", "gram", "n", "rk")
    pa = prefix.select(
        F.col("doc_id").alias("doc_a"),
        "gram",
        F.col("n").alias("na"),
        F.col("rk").alias("ra"),
    )
    pb = prefix.select(
        F.col("doc_id").alias("doc_b"),
        "gram",
        F.col("n").alias("nb"),
        F.col("rk").alias("rb"),
    )
    # positional filter (PPJoin, Xiao et al. WWW'08): J ≥ t needs overlap
    # ≥ ⌈t/(1+t)·(na+nb)⌉, and a shared gram at ranks (ra, rb) caps the
    # overlap reachable from there at 1 + min(na-ra, nb-rb). A true pair's
    # FIRST shared gram always passes, so keeping pairs with ANY passing
    # row loses no recall — but it prunes the template-similarity hairball
    # (~4× fewer candidates than prefix+size filters alone on this corpus).
    # `required` must never round UP spuriously: exact integer arithmetic
    # via the rational t/(1+t) = tq_num/tq_den, not float ceil.
    from fractions import Fraction

    tfrac = Fraction(str(JACCARD_THRESHOLD))
    tq_num, tq_den = tfrac.numerator, tfrac.numerator + tfrac.denominator
    required = F.expr(
        f"({tq_num} * (na + nb) + {tq_den} - 1) DIV {tq_den}"
    )
    cands = (
        pa.join(pb, "gram")
        .filter(F.col("doc_a") < F.col("doc_b"))
        # size filter: J ≥ t ⇒ t·|x| ≤ |y| and t·|y| ≤ |x|
        .filter(F.col("nb") >= JACCARD_THRESHOLD * F.col("na"))
        .filter(F.col("na") >= JACCARD_THRESHOLD * F.col("nb"))
        .filter(
            1 + F.least(F.col("na") - F.col("ra"), F.col("nb") - F.col("rb"))
            >= required
        )
        .select("doc_a", "doc_b", "na", "nb")
        # a pair can share several prefix grams → dedup before verify so
        # the intersect counts aren't multiplied; materialize so the
        # verify joins start from the surviving pairs instead of replaying
        # the candidate join inside their own plan
        .distinct()
        .localCheckpoint(eager=False)
    )
    # Exact verification, fully distributed: each doc's (distinct) grams
    # become one sorted array row; the candidate pair list joins to that
    # table on each side — two hash joins, one row per pair, payload = the
    # two arrays — and |x∩y| is a codegen array_intersect, no per-pair
    # fan-out rows and no giant groupBy. (A pair×gram explode join — the
    # oracle's `inter` CTE shape — is also scale-correct but shuffles
    # |grams(a)| rows per candidate: ~100× this volume on template-similar
    # corpora. The round-1..3 design was worse still: every gram set
    # collected into a driver-built broadcast bitmap — driver OOM long
    # before 100 TB. Verify capacity now scales with the cluster.)
    gsets = grams.groupBy("doc_id").agg(
        F.sort_array(F.collect_list("gram")).alias("gs")
    )
    inter = (
        cands.join(
            gsets.select(F.col("doc_id").alias("doc_a"), F.col("gs").alias("gs_a")),
            "doc_a",
        )
        .join(
            gsets.select(F.col("doc_id").alias("doc_b"), F.col("gs").alias("gs_b")),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            "na",
            "nb",
            F.size(F.array_intersect("gs_a", "gs_b")).alias("i"),
        )
        # barrier: without it Catalyst inlines `i` into the join condition
        # AND the projection, running the (hash-set-per-row) intersect
        # twice per pair; the checkpoint pins the narrow 5-column result
        .localCheckpoint(eager=False)
    )
    jac = F.col("i") / (F.col("na") + F.col("nb") - F.col("i"))
    return (
        inter.withColumn("jac", jac)
        .filter(F.col("jac") >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", F.round("jac", 6).alias("jaccard"))
        .orderBy("doc_a", "doc_b")
    )


def _jaccard_oracle() -> str:
    g = duck_portable_hash("gs")
    return f"""
    WITH rawg AS (
      SELECT DISTINCT doc_id, substr(lower(text), s.i, {JACCARD_N}) AS gs
      FROM documents,
           UNNEST(range(1, greatest(length(text) - {JACCARD_N - 2}, 1))) AS s(i)
      WHERE length(substr(lower(text), s.i, {JACCARD_N})) = {JACCARD_N}
    ),
    grams AS (SELECT DISTINCT doc_id, {g} AS gram FROM rawg),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM grams GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
      FROM grams a JOIN grams b ON a.gram = b.gram AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           ROUND(i * 1.0 / (sa.n + sb.n - i), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE i * 1.0 / (sa.n + sb.n - i) >= {JACCARD_THRESHOLD}
    ORDER BY doc_a, doc_b
    """


# ---------------------------------------------------------------------------
# embedding cosine near-dup (quantized-int exact arithmetic)
# ---------------------------------------------------------------------------
COSINE_DUP_THRESHOLD = 0.95
QUANT = 10_000


def quantized(col):
    """array<float> → array<long>: round(x·10⁴) — makes dot products exact
    integers so cosine is bit-identical across engines."""
    return F.transform(col, lambda x: F.round(x.cast("double") * QUANT).cast("long"))


# Test-only correctness/recall baseline — NOT a registered gate entry.
# The all-pairs theta join is O(n²) (a BroadcastNestedLoopJoin): exact and
# useful to validate the LSH candidates at test scale, but wrong as a shipped
# dedup path — the registered scale entry is dedup_embedding_lsh
# (operators/similarity.py), whose candidates come from bucketed equi-joins.
EMBEDDING_COSINE_BASELINE_ORACLE = f"""
    WITH q AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * {QUANT}) AS BIGINT)) AS qv
      FROM embeddings
    ),
    n AS (
      SELECT vec_id, qv,
             list_sum(list_transform(qv, x -> x * x)) AS nrm2
      FROM q
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND(list_sum(list_transform(range(1, len(a.qv) + 1),
                                          i -> a.qv[i] * b.qv[i]))
                 / (sqrt(CAST(a.nrm2 AS DOUBLE)) * sqrt(CAST(b.nrm2 AS DOUBLE))), 6) AS cos
    FROM n a JOIN n b ON a.vec_id < b.vec_id
    WHERE list_sum(list_transform(range(1, len(a.qv) + 1), i -> a.qv[i] * b.qv[i]))
          / (sqrt(CAST(a.nrm2 AS DOUBLE)) * sqrt(CAST(b.nrm2 AS DOUBLE))) >= {COSINE_DUP_THRESHOLD}
    ORDER BY id_a, id_b
    """


def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    q = t["embeddings"].select("vec_id", quantized(F.col("embedding")).alias("qv"))
    n = q.select(
        "vec_id",
        "qv",
        F.aggregate(
            F.col("qv"), F.lit(0).cast("long"), lambda acc, x: acc + x * x
        ).alias("nrm2"),
    )
    a = n.select(
        F.col("vec_id").alias("id_a"), F.col("qv").alias("qa"), F.col("nrm2").alias("na")
    )
    b = n.select(
        F.col("vec_id").alias("id_b"), F.col("qv").alias("qb"), F.col("nrm2").alias("nb")
    )
    dot = F.aggregate(
        F.zip_with(F.col("qa"), F.col("qb"), lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    cos = dot / (F.sqrt(F.col("na").cast("double")) * F.sqrt(F.col("nb").cast("double")))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("cos_raw", cos)
        .filter(F.col("cos_raw") >= COSINE_DUP_THRESHOLD)
        .select("id_a", "id_b", F.round("cos_raw", 6).alias("cos"))
        .orderBy("id_a", "id_b")
    )


# ---------------------------------------------------------------------------
# Duplicate-cluster resolution (connected components over candidate pairs)
# ---------------------------------------------------------------------------


def _unpersist_checkpoint(df: DataFrame) -> None:
    """Free the blocks of a SUPERSEDED localCheckpoint'd frame.

    Only call when nothing will ever read the frame again: a local
    checkpoint truncates lineage, so evicted blocks cannot be recomputed
    and a late reader would fail. The iterative CC loops call this on
    round i's frame once round i+1 is materialized — without it a long
    multi-query session (the bench runs 3 × 54 queries in one JVM)
    accumulates dead checkpoint blocks in the block manager.

    Cleanup never fails the query: a JVM-side error (py4j) or a plan whose
    root is not the checkpoint's LogicalRDD (no ``rdd()`` accessor) is
    logged at debug level and the blocks are left to Spark's ContextCleaner.
    """
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except (Py4JError, AttributeError) as e:
        _log.debug("checkpoint unpersist skipped: %s", e)


def connected_components(edges: DataFrame, max_iters: int = 50) -> DataFrame:
    """(id, lbl): connected components of the undirected pair graph by
    min-label propagation — each node repeatedly takes the minimum label
    among itself and its neighbors until fixpoint.

    A dedup pipeline can't stop at pairs: near-duplication is transitive
    (A~B, B~C ⇒ one cluster {A,B,C}), so keeping one canonical doc per
    *component* is the operation that actually shrinks the corpus.

    Scale design: each iteration is one shuffle join (edges ⋈ labels on
    dst) plus one min-groupBy — both keyed, never all-pairs — and
    `localCheckpoint` truncates the lineage so plan size stays constant
    across iterations. Rounds needed = component diameter, which for
    near-dup clusters is tiny (dups of a doc are dups of each other); for
    adversarially long chain graphs use :func:`connected_components_star`
    (Kiveris et al. SoCC 2014, implemented below) — O(log²n) rounds with
    the same per-round primitives, diameter-independent. The driver-side
    loop iterates over *actions* (a convergence count per round), never
    over data rows.
    """
    sym = edges.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).unionAll(edges.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
    sym = sym.persist()  # probed every round
    # LAZY checkpoints (round 12): the convergence aggregate right below
    # each checkpoint materializes it, so every round costs ONE driver
    # action instead of two (eager checkpoint + collect) — the measured
    # per-round wall at bench scale was scheduling overhead, not data.
    labels = (
        sym.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("lbl", F.col("id"))
        .localCheckpoint(eager=False)
    )
    try:
        # per-node labels only ever decrease under min-propagation, so the
        # label total is strictly decreasing until fixpoint — an unchanged
        # sum IS convergence, checked with one tiny aggregate per round
        # instead of a join-based diff
        cur_sum = labels.agg(F.sum("lbl")).collect()[0][0]
        for _ in range(max_iters):
            prop = sym.join(labels, sym["dst"] == labels["id"]).select(
                sym["src"].alias("id"), labels["lbl"].alias("lbl")
            )
            new = (
                labels.unionAll(prop)
                .groupBy("id")
                .agg(F.min("lbl").alias("lbl"))
                .localCheckpoint(eager=False)
            )
            new_sum = new.agg(F.sum("lbl")).collect()[0][0]
            # the superseded round's blocks are never read again (round
            # i+1 is materialized); free them so a long bench run does
            # not accumulate dead checkpoint blocks in the block manager
            _unpersist_checkpoint(labels)
            labels = new
            if new_sum == cur_sum:
                return labels
            cur_sum = new_sum
        raise RuntimeError(
            f"connected_components: no fixpoint after {max_iters} rounds "
            "(component diameter exceeds the bound — use the "
            "large-star/small-star variant for chain-shaped graphs)"
        )
    finally:
        sym.unpersist()


def connected_components_star(edges: DataFrame, max_iters: int = 40) -> DataFrame:
    """(id, lbl): connected components by alternating large-star/small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC 2014) — the chain-graph-safe variant min-label propagation's
    docstring promises.

    Min-label propagation needs rounds ∝ component DIAMETER: a crawl
    chain A~B~C~…~Z (each page near-dup of the next) of length 10⁴ needs
    10⁴ shuffle rounds. The star operations instead HALVE tree heights
    every round by rewiring nodes directly to local minima:

    - large-star: every node's strictly-larger neighbors re-attach to the
      minimum of its neighborhood (incl. itself);
    - small-star: under the larger-endpoint orientation, every node's
      smaller neighbors (and the node) re-attach to the smallest.

    Both are one groupBy + one keyed join per application — the same
    shuffle primitives as min-label — but convergence is O(log² n) rounds
    worst-case (measured ~5 on real graphs), independent of diameter. At
    fixpoint the edge set IS the answer: (node → component minimum) stars.
    """
    # LAZY checkpoint (round 12): the initial checksum below materializes
    # canon in the same job, one driver action instead of two. nodes is
    # NOT checkpointed at all — it is read exactly once (the fixpoint
    # roots anti-join) and recomputes cheaply from canon's blocks.
    canon = (
        edges.select(
            F.col("doc_a").cast("long").alias("a"),
            F.col("doc_b").cast("long").alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .select(
            F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v")
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    nodes = (
        canon.select(F.col("u").alias("id"))
        .unionAll(canon.select(F.col("v").alias("id")))
        .distinct()
    )

    def _canon(df: DataFrame) -> DataFrame:
        return (
            df.filter(F.col("x") != F.col("y"))
            .select(F.greatest("x", "y").alias("u"), F.least("x", "y").alias("v"))
            .distinct()
        )

    def large_star(e: DataFrame) -> DataFrame:
        sym = e.unionAll(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        m = sym.groupBy("u").agg(F.min("v").alias("mv"))
        m = m.select("u", F.least("mv", "u").alias("m"))
        return _canon(
            sym.join(m, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("x"), F.col("m").alias("y"))
        )

    def small_star(e: DataFrame) -> DataFrame:
        # canonical edges already orient u > v; m = min smaller-neighbor
        m = e.groupBy("u").agg(F.min("v").alias("m"))
        re_v = e.join(m, "u").select(F.col("v").alias("x"), F.col("m").alias("y"))
        re_u = m.select(F.col("u").alias("x"), F.col("m").alias("y"))
        return _canon(re_v.unionAll(re_u))

    def checksum(e: DataFrame):
        # decimal accumulator: an int64 sum of 64-bit hashes overflows
        # (and ANSI mode makes that a hard error, correctly)
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
        ).collect()[0]
        return (row.n, row.h)

    cur = canon
    prev = checksum(cur)  # materializes the lazy canon checkpoint
    for _ in range(max_iters):
        new = small_star(large_star(cur)).localCheckpoint(eager=False)
        now = checksum(new)  # materializes the round's lazy checkpoint
        if cur is not canon:
            # the superseded round's blocks are never read again (never
            # canon: the roots anti-join still derives nodes from it)
            _unpersist_checkpoint(cur)
        cur = new
        if now == prev:
            # fixpoint: cur is (node -> component min) stars
            labels = cur.select(F.col("u").alias("id"), F.col("v").alias("lbl"))
            roots = nodes.join(
                cur.select(F.col("u").alias("id")), "id", "left_anti"
            ).select("id", F.col("id").alias("lbl"))
            return labels.unionAll(roots)
        prev = now
    raise RuntimeError(
        f"connected_components_star: no fixpoint after {max_iters} rounds"
    )


@query(
    "dedup_clusters",
    None,  # generated below (recursive-CTE oracle over the same pair SQL)
    doc="duplicate-cluster resolution: MinHash+LSH candidate pairs → "
    "connected components (min-label propagation, one keyed shuffle join "
    "per round) → (doc_id, cluster_id=min doc in component, cluster_size). "
    "The canonical keeper per cluster is the doc with doc_id = cluster_id. "
    "This is the textbook form; production corpora should use "
    "dedup_clusters_hardened, which composes the exact-collapse flood "
    "guard with diameter-independent star components.",
    tags=("dedup", "iterative"),
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    labels = connected_components(minhash_candidate_pairs(t["documents"]))
    sizes = labels.groupBy("lbl").agg(F.count(F.lit(1)).alias("cluster_size"))
    return (
        labels.join(sizes, "lbl")
        .select(
            F.col("id").alias("doc_id"),
            F.col("lbl").alias("cluster_id"),
            "cluster_size",
        )
        .orderBy("cluster_id", "doc_id")
    )


@query(
    "dedup_clusters_star",
    None,  # generated below — same recursive-CTE oracle as dedup_clusters:
    # the two algorithms MUST produce identical clusters
    doc="duplicate clustering via the alternating star algorithm (Kiveris "
    "et al. SoCC 2014) over the same MinHash+LSH pairs as dedup_clusters: "
    "large-star/small-star rewiring halves tree heights every round, so "
    "convergence is O(log²n) rounds regardless of component DIAMETER — "
    "the chain-graph case (A~B~C~…, each crawl snapshot a near-dup of "
    "the next) where min-label propagation needs one round per hop. Same "
    "shuffle primitives per round (one groupBy + one keyed join), same "
    "answer, provably fewer rounds on deep components",
    tags=("dedup", "iterative", "star"),
)
def dedup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    labels = connected_components_star(minhash_candidate_pairs(t["documents"]))
    sizes = labels.groupBy("lbl").agg(F.count(F.lit(1)).alias("cluster_size"))
    return (
        labels.join(sizes, "lbl")
        .select(
            F.col("id").alias("doc_id"),
            F.col("lbl").alias("cluster_id"),
            "cluster_size",
        )
        .orderBy("cluster_id", "doc_id")
    )


def _clusters_oracle() -> str:
    pairs_sql = _minhash_oracle().replace("ORDER BY doc_a, doc_b", "")
    return f"""
    WITH RECURSIVE pairs AS ({pairs_sql}),
    edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
              UNION ALL SELECT doc_b AS src, doc_a AS dst FROM pairs),
    reach(id, lbl) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.src, r.lbl FROM edges e JOIN reach r ON e.dst = r.id
    ),
    comp AS (SELECT id, MIN(lbl) AS cluster_id FROM reach GROUP BY id)
    SELECT id AS doc_id, cluster_id,
           CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size
    FROM comp ORDER BY cluster_id, doc_id
    """


# ---------------------------------------------------------------------------
# Two-stage cluster resolution: exact-collapse BEFORE LSH. A crawl corpus
# is full of byte-identical documents (mirrors, boilerplate pages); in the
# one-stage path every copy lands in the same band buckets, so a clique of
# k identical docs floods the bucket self-join with C(k,2) pairs — 2M docs
# of one press release is a 2·10¹²-pair join. Identical docs carry ZERO
# extra signal for near-dup detection: collapsing each fingerprint group
# to its min-doc representative first makes the LSH join input the
# DISTINCT-text count, and membership expands back linearly. Cluster ids
# are unchanged (the overall min doc of a component is always its own
# fingerprint group's min, hence a representative).
# ---------------------------------------------------------------------------


def _collapsed_clusters(docs: DataFrame, components) -> DataFrame:
    """Exact-collapse → LSH over representatives → ``components`` over the
    rep pair graph → membership expand. Shared by the two-stage and
    hardened entries; ``components`` is the connected-components
    implementation (min-label or alternating-star)."""
    members = spread(docs).select("doc_id", F.md5(F.col("text")).alias("fp"))
    reps = members.groupBy("fp").agg(F.min("doc_id").alias("rep"))
    # bands for every doc are cheap (hash rows only cross exchanges); the
    # SKEW danger is the bucket self-join, so only representatives enter it
    bands = minhash_bands(docs).join(
        reps.select(F.col("rep").alias("doc_id")), "doc_id"
    )
    a = bands.select(F.col("doc_id").alias("doc_a"), "band", "band_key")
    b = bands.select(F.col("doc_id").alias("doc_b"), "band", "band_key")
    pairs = (
        a.join(b, ["band", "band_key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    comp = components(pairs).select(
        F.col("id").alias("rep"), F.col("lbl").alias("lbl")
    )
    doc_lbl = (
        members.join(reps, "fp")
        .join(comp, "rep", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("lbl"), F.col("rep")).alias("cluster_id"),
        )
    )
    sizes = doc_lbl.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return (
        doc_lbl.join(sizes, "cluster_id")
        .select("doc_id", "cluster_id", "cluster_size")
        .orderBy("cluster_id", "doc_id")
    )


@query(
    "dedup_clusters_twostage",
    None,  # generated below (recursive-CTE oracle)
    doc="skew-hardened duplicate clustering: exact-collapse (md5 groupBy → "
    "min-doc representative) BEFORE MinHash+LSH, so k byte-identical docs "
    "contribute ONE row to the bucket self-join instead of C(k,2) pairs; "
    "components run over representatives and membership expands back "
    "through the fingerprint map (id-keyed joins, bodies never shuffle). "
    "Unlike dedup_clusters this covers singletons too: every doc gets a "
    "cluster row. Adversarial fixture in tests/test_dedup_baseline.py "
    "measures the pair-count collapse",
    tags=("dedup", "iterative", "skew"),
)
def dedup_clusters_twostage(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir)["documents"]
    return _collapsed_clusters(docs, connected_components)


@query(
    "dedup_clusters_hardened",
    None,  # generated below — identical semantics to dedup_clusters_twostage
    doc="the production-default cluster resolver: exact md5-collapse → "
    "MinHash+LSH over representatives → ALTERNATING-STAR connected "
    "components → membership expand, composing the flood guard "
    "(k byte-identical docs contribute ONE bucket row, not C(k,2) "
    "pairs) with diameter-independent O(log²n) convergence (Kiveris et "
    "al. SoCC 2014). A real 100 TB crawl has BOTH pathologies at once — "
    "mirror floods and long near-dup chains (snapshot successions) — "
    "which dedup_clusters_twostage and dedup_clusters_star each handle "
    "only one of. Same per-round shuffle primitives; identical clusters "
    "(the component minimum is always its fingerprint group's minimum)",
    tags=("dedup", "iterative", "star", "skew", "hardened"),
)
def dedup_clusters_hardened(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir)["documents"]
    return _collapsed_clusters(docs, connected_components_star)


def _clusters_twostage_oracle() -> str:
    params = ", ".join(f"({i}, {a}, {b})" for i, (a, b) in enumerate(_MH_PARAMS))
    return f"""
    WITH RECURSIVE params(i, a, b) AS (VALUES {params}),
    docs_fp AS (SELECT doc_id, md5(text) AS fp FROM documents),
    reps AS (SELECT fp, MIN(doc_id) AS rep FROM docs_fp GROUP BY fp),
    {_duck_minhash_bands('documents', '')},
    rbands AS (
      SELECT b.* FROM bands b JOIN (SELECT DISTINCT rep FROM reps) r
        ON b.doc_id = r.rep
    ),
    pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM rbands a JOIN rbands b
        ON a.band = b.band AND a.band_key = b.band_key
      WHERE a.doc_id < b.doc_id
    ),
    edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
              UNION ALL SELECT doc_b AS src, doc_a AS dst FROM pairs),
    reach(id, lbl) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.src, r.lbl FROM edges e JOIN reach r ON e.dst = r.id
    ),
    comp AS (SELECT id, MIN(lbl) AS cluster_id FROM reach GROUP BY id),
    doc_lbl AS (
      SELECT d.doc_id, COALESCE(c.cluster_id, rr.rep) AS cluster_id
      FROM docs_fp d
      JOIN reps rr USING (fp)
      LEFT JOIN comp c ON c.id = rr.rep
    )
    SELECT doc_id, cluster_id,
           CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT)
               AS cluster_size
    FROM doc_lbl ORDER BY cluster_id, doc_id
    """


# ---------------------------------------------------------------------------
# Edit-distance verification of LSH candidates: the third verify flavor
# next to exact-gram-count (dedup_ngram_jaccard) and quantized cosine
# (dedup_embedding_lsh). Levenshtein is order-sensitive where Jaccard is
# bag-of-shingles — it distinguishes a shuffled-sentence near-dup from a
# typo-level near-dup. Both engines implement the classic unit-cost
# Levenshtein, so the verdict is an exact integer.
# ---------------------------------------------------------------------------

ED_PREFIX = 200  # chars compared; bounds the O(len²) DP and the shuffle
ED_MAX_RATIO_PCT = 20  # dup iff edit distance ≤ 20% of the longer prefix


@query(
    "dedup_edit_distance",
    None,  # generated below (inlines the minhash constants)
    doc="edit-distance verification of MinHash-LSH candidates: banded "
    f"candidates fetch only a {ED_PREFIX}-char prefix per side (projected "
    "scan-side, so the pair join shuffles ≤200 B/doc, never full bodies), "
    f"then unit-cost Levenshtein; dup iff distance ≤ {ED_MAX_RATIO_PCT}% "
    "of the longer prefix (integer cross-multiplied — no float "
    "threshold). The order-sensitive verify complements bag-of-shingles "
    "Jaccard: a shuffled-sentence doc passes Jaccard but fails here",
    tags=("dedup", "lsh", "verify"),
)
def dedup_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir)["documents"]
    pairs = minhash_candidate_pairs(docs)
    pre = spread(docs).select(
        "doc_id", F.substring(F.col("text"), 1, ED_PREFIX).alias("p")
    )
    scored = (
        pairs.join(pre.select(F.col("doc_id").alias("doc_a"), F.col("p").alias("pa")), "doc_a")
        .join(pre.select(F.col("doc_id").alias("doc_b"), F.col("p").alias("pb")), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.levenshtein(F.col("pa"), F.col("pb")).alias("edit_dist"),
            F.greatest(F.length("pa"), F.length("pb")).alias("max_len"),
        )
    )
    return scored.select(
        "doc_a",
        "doc_b",
        "edit_dist",
        (F.col("edit_dist") * 100 <= F.col("max_len") * ED_MAX_RATIO_PCT).alias(
            "is_dup"
        ),
    ).orderBy("doc_a", "doc_b")


def _edit_distance_oracle() -> str:
    params = ", ".join(f"({i}, {a}, {b})" for i, (a, b) in enumerate(_MH_PARAMS))
    return f"""
    WITH params(i, a, b) AS (VALUES {params}),
    {_duck_minhash_bands('documents', '')},
    pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
      WHERE a.doc_id < b.doc_id
    ),
    pre AS (SELECT doc_id, substr(text, 1, {ED_PREFIX}) AS p FROM documents)
    SELECT p1.doc_a, p1.doc_b,
           CAST(levenshtein(pa.p, pb.p) AS INTEGER) AS edit_dist,
           levenshtein(pa.p, pb.p) * 100
             <= GREATEST(length(pa.p), length(pb.p)) * {ED_MAX_RATIO_PCT}
               AS is_dup
    FROM pairs p1
    JOIN pre pa ON pa.doc_id = p1.doc_a
    JOIN pre pb ON pb.doc_id = p1.doc_b
    ORDER BY doc_a, doc_b
    """


# patch in the generated oracles
from compass_query_optimizer_spark import registry as _registry  # noqa: E402

_registry._REGISTRY["dedup_clusters_twostage"].oracle = _clusters_twostage_oracle()
_registry._REGISTRY["dedup_clusters_hardened"].oracle = _clusters_twostage_oracle()
_registry._REGISTRY["dedup_clusters_star"].oracle = _clusters_oracle()
_registry._REGISTRY["dedup_edit_distance"].oracle = _edit_distance_oracle()
_registry._REGISTRY["dedup_minhash_lsh"].oracle = _minhash_oracle()
_registry._REGISTRY["dedup_simhash"].oracle = _simhash_oracle()
_registry._REGISTRY["dedup_ngram_jaccard"].oracle = _jaccard_oracle()
_registry._REGISTRY["dedup_clusters"].oracle = _clusters_oracle()


# ---------------------------------------------------------------------------
# Duplicate-span detection (the substring-level dedup of Lee et al.,
# "Deduplicating Training Data Makes Language Models Better", ACL 2022,
# arXiv:2107.06499): a document is penalized not for being a near-copy of
# one other document but for CONTAINING spans that recur anywhere in the
# corpus (boilerplate, licenses, quoted chunks). The paper builds a suffix
# array; the distributed re-expression is a shingle inverted index — every
# W-token rolling window hashes to a key, one keyed count finds windows
# occurring >= 2 times corpus-wide, and a join back scores each document by
# its duplicated-window fraction. Linear in corpus tokens, two keyed
# shuffles (window-hash count + join back), no suffix array and no
# quadratic pair step — the standard way this runs at crawl scale.
# ---------------------------------------------------------------------------
SPAN_W = 8  # tokens per rolling window


@query(
    "dedup_substring_spans",
    f"""
    WITH tok AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
      FROM documents
    ),
    win AS (
      SELECT doc_id,
             md5(array_to_string(list_slice(toks, i, i + {SPAN_W - 1}), ' ')) AS wk
      FROM tok, UNNEST(range(1, len(toks) - {SPAN_W - 2})) AS s(i)
      WHERE len(toks) >= {SPAN_W}
    ),
    cnt AS (SELECT wk, COUNT(*) AS n_occ FROM win GROUP BY wk)
    SELECT w.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_windows,
           CAST(SUM(CASE WHEN c.n_occ >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_windows,
           ROUND(SUM(CASE WHEN c.n_occ >= 2 THEN 1 ELSE 0 END) * 1.0
                 / COUNT(*), 6) AS dup_frac
    FROM win w JOIN cnt c USING (wk)
    GROUP BY w.doc_id ORDER BY w.doc_id
    """,
    doc=f"duplicate-span scoring per Lee et al. ACL'22: every {SPAN_W}-token "
    "rolling window hashes into a shingle inverted index; windows seen "
    ">= 2 times corpus-wide (including within one document) are "
    "duplicated spans, and each document reports its duplicated-window "
    "fraction — the signal the paper removes spans by. Docs shorter "
    f"than {SPAN_W} tokens have no window and are absent, like the oracle",
    tags=("dedup", "spans"),
)
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from compass_query_optimizer_spark.operators.text import _re_tokens

    t = load_tables(spark, sf_dir)
    toks = _re_tokens(F.col("text"))
    base = spread(t["documents"]).select("doc_id", toks.alias("toks"))
    wins = base.select(
        "doc_id",
        F.explode(
            F.when(
                F.size("toks") >= SPAN_W,
                F.expr(
                    f"transform(sequence(1, size(toks) - {SPAN_W - 1}),"
                    f" i -> md5(array_join(slice(toks, i, {SPAN_W}), ' ')))"
                ),
            ).otherwise(F.expr("array()"))
        ).alias("wk"),
    )
    counts = wins.groupBy("wk").agg(F.count(F.lit(1)).alias("n_occ"))
    return (
        wins.join(counts, "wk")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.sum(F.when(F.col("n_occ") >= 2, 1).otherwise(0))
            .cast("long")
            .alias("n_dup_windows"),
        )
        .withColumn(
            "dup_frac", F.round(F.col("n_dup_windows") / F.col("n_windows"), 6)
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Quality-aware canonical selection: dedup that keeps the BEST copy, not
# the first. Min-id keepers are fine for byte-identical groups, but
# near-dup clusters contain genuinely different documents (truncated
# mirrors, boilerplate-wrapped copies) — production curation keeps the
# highest-quality member per cluster (here: longest n_chars, the simplest
# monotone quality proxy; swapping in a model score column leaves the plan
# unchanged). Runs over the hardened cluster path (exact-collapse → star
# CC) and resolves the keeper with ONE combiner-friendly max(struct)
# aggregate per cluster — no window over corpus cardinality.
# ---------------------------------------------------------------------------
def _keep_best_oracle() -> str:
    base = _clusters_twostage_oracle()
    head, _, _ = base.partition("SELECT doc_id, cluster_id,")
    return (
        head
        + """, scored AS (
      SELECT dl.cluster_id, dl.doc_id, d2.n_chars,
             ROW_NUMBER() OVER (PARTITION BY dl.cluster_id
                                ORDER BY d2.n_chars DESC, dl.doc_id) AS rk,
             COUNT(*) OVER (PARTITION BY dl.cluster_id) AS n_members
      FROM doc_lbl dl JOIN documents d2 USING (doc_id)
    )
    SELECT cluster_id, CAST(doc_id AS BIGINT) AS keep_id,
           CAST(n_members AS BIGINT) AS n_members,
           CAST(n_chars AS BIGINT) AS kept_chars
    FROM scored WHERE rk = 1 ORDER BY cluster_id
    """
    )


@query(
    "dedup_keep_best",
    None,  # generated below (hardened-cluster oracle + arg-max keeper)
    doc="quality-aware dedup: hardened near-dup clusters (exact-collapse → "
    "star CC) resolved to the highest-quality member per cluster "
    "(longest n_chars, doc_id tie-break) instead of the min id — the "
    "keep-best rule real curation uses. The keeper falls out of one "
    "combiner-friendly max(struct) per cluster, never a corpus-wide "
    "rank window",
    tags=("dedup", "curation", "hardened"),
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir)["documents"]
    clusters = _collapsed_clusters(docs, connected_components_star)
    scored = clusters.join(docs.select("doc_id", "n_chars"), "doc_id")
    return (
        scored.groupBy("cluster_id")
        .agg(
            F.max("cluster_size").cast("long").alias("n_members"),
            F.max(
                F.struct(
                    F.col("n_chars"), (-F.col("doc_id")).alias("neg_id")
                )
            ).alias("best"),
        )
        .select(
            "cluster_id",
            (-F.col("best.neg_id")).cast("long").alias("keep_id"),
            "n_members",
            F.col("best.n_chars").cast("long").alias("kept_chars"),
        )
        .orderBy("cluster_id")
    )


_registry._REGISTRY["dedup_keep_best"].oracle = _keep_best_oracle()


# ---------------------------------------------------------------------------
# Span REMOVAL accounting — the action step of Lee et al. ACL'22 (the
# paper removes each duplicated span, it does not drop documents): every
# token covered by at least one corpus-duplicated window is marked for
# removal, and each document reports how much of it survives. The same
# inverted index as dedup_substring_spans plus one covered-position
# expansion (a dup window covers W consecutive token positions); the
# expansion is bounded by W × dup-window count, and distinct-position
# dedup runs doc-keyed — still linear, still no pair step.
# ---------------------------------------------------------------------------
@query(
    "dedup_span_removal",
    f"""
    WITH tok AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
      FROM documents
    ),
    win AS (
      SELECT doc_id, i,
             md5(array_to_string(list_slice(toks, i, i + {SPAN_W - 1}), ' ')) AS wk
      FROM tok, UNNEST(range(1, len(toks) - {SPAN_W - 2})) AS s(i)
      WHERE len(toks) >= {SPAN_W}
    ),
    cnt AS (SELECT wk, COUNT(*) AS n_occ FROM win GROUP BY wk),
    cov AS (
      SELECT DISTINCT w.doc_id, (w.i + j.j) AS pos
      FROM win w JOIN cnt c USING (wk), UNNEST(range(0, {SPAN_W})) AS j(j)
      WHERE c.n_occ >= 2
    ),
    base AS (
      SELECT doc_id, len(toks) AS n_tokens FROM tok
      WHERE len(toks) >= {SPAN_W}
    )
    SELECT b.doc_id, CAST(b.n_tokens AS BIGINT) AS n_tokens,
           CAST(COUNT(v.pos) AS BIGINT) AS n_removed,
           ROUND((b.n_tokens - COUNT(v.pos)) * 1.0 / b.n_tokens, 6)
               AS keep_frac
    FROM base b LEFT JOIN cov v USING (doc_id)
    GROUP BY b.doc_id, b.n_tokens ORDER BY b.doc_id
    """,
    doc="duplicated-span REMOVAL accounting (the action step of Lee et "
    "al. ACL'22): tokens covered by any corpus-duplicated window are "
    "marked for removal; each doc reports surviving-token fraction. The "
    "position expansion is W rows per dup window, distinct-position "
    "dedup is doc-keyed — the cleanup stays linear like the scorer",
    tags=("dedup", "spans", "curation"),
)
def dedup_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    from compass_query_optimizer_spark.operators.text import _re_tokens

    t = load_tables(spark, sf_dir)
    toks = _re_tokens(F.col("text"))
    base = (
        spread(t["documents"])
        .select("doc_id", toks.alias("toks"))
        .filter(F.size("toks") >= SPAN_W)
        .select("doc_id", "toks", F.size("toks").alias("n_tokens"))
    )
    wins = base.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(1, size(toks) - {SPAN_W - 1}),"
                f" i -> md5(array_join(slice(toks, i, {SPAN_W}), ' ')))"
            )
        ).alias("pos0", "wk"),
    )
    dup = (
        wins.groupBy("wk")
        .agg(F.count(F.lit(1)).alias("n_occ"))
        .filter(F.col("n_occ") >= 2)
        .select("wk")
    )
    cov = (
        wins.join(dup, "wk")
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("pos0") + 1, F.col("pos0") + SPAN_W)
            ).alias("pos"),
        )
        .distinct()
    )
    removed = cov.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_removed"))
    return (
        base.select("doc_id", "n_tokens")
        .join(removed, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.coalesce(F.col("n_removed"), F.lit(0))
            .cast("long")
            .alias("n_removed"),
            F.round(
                (F.col("n_tokens") - F.coalesce(F.col("n_removed"), F.lit(0)))
                / F.col("n_tokens"),
                6,
            ).alias("keep_frac"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Incremental span novelty: the standing-index form of duplicate-span
# scoring (the third incremental dedup flavor next to exact fingerprints
# and banded MinHash). The standing corpus folds ONCE into a distinct
# window-hash index — persistable, O(corpus tokens) rows of 16-byte keys —
# and each arrival batch probes it with one equi-join: per new document,
# how much of it already exists verbatim in the corpus. This is how the
# span cleanup actually deploys on a continuous crawl: the index is
# precomputed, only arrivals re-tokenize.
# ---------------------------------------------------------------------------
@query(
    "dedup_incremental_spans",
    f"""
    WITH tok AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
      FROM documents
    ),
    win AS (
      SELECT doc_id,
             md5(array_to_string(list_slice(toks, i, i + {SPAN_W - 1}), ' ')) AS wk
      FROM tok, UNNEST(range(1, len(toks) - {SPAN_W - 2})) AS s(i)
      WHERE len(toks) >= {SPAN_W}
    ),
    idx AS (SELECT DISTINCT wk FROM win WHERE doc_id % 3 != 0),
    arr AS (SELECT doc_id, wk FROM win WHERE doc_id % 3 = 0)
    SELECT a.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_windows,
           CAST(SUM(CASE WHEN i.wk IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_seen,
           ROUND(SUM(CASE WHEN i.wk IS NOT NULL THEN 1 ELSE 0 END) * 1.0
                 / COUNT(*), 6) AS seen_frac
    FROM arr a LEFT JOIN idx i USING (wk)
    GROUP BY a.doc_id ORDER BY a.doc_id
    """,
    doc="incremental span novelty: arrivals (doc_id % 3 = 0) probe the "
    "standing corpus's distinct window-hash index with one equi-join — "
    "per new doc, the fraction of its 8-token windows already in the "
    "corpus. The index is the persistable artifact; only arrivals "
    "re-tokenize. Completes the incremental trio (exact fingerprint, "
    "banded MinHash, span index)",
    tags=("dedup", "spans", "incremental"),
)
def dedup_incremental_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from compass_query_optimizer_spark.operators.text import _re_tokens

    t = load_tables(spark, sf_dir)
    toks = _re_tokens(F.col("text"))
    wins = (
        spread(t["documents"])
        .select("doc_id", toks.alias("toks"))
        .select(
            "doc_id",
            F.explode(
                F.when(
                    F.size("toks") >= SPAN_W,
                    F.expr(
                        f"transform(sequence(1, size(toks) - {SPAN_W - 1}),"
                        f" i -> md5(array_join(slice(toks, i, {SPAN_W}), ' ')))"
                    ),
                ).otherwise(F.expr("array()"))
            ).alias("wk"),
        )
    )
    idx = (
        wins.filter(F.col("doc_id") % 3 != 0).select("wk").distinct()
        .withColumn("__hit", F.lit(1))
    )
    arr = wins.filter(F.col("doc_id") % 3 == 0)
    return (
        arr.join(idx, "wk", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.sum(F.coalesce(F.col("__hit"), F.lit(0)))
            .cast("long")
            .alias("n_seen"),
        )
        .withColumn(
            "seen_frac", F.round(F.col("n_seen") / F.col("n_windows"), 6)
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Asymmetric containment dedup: C(A,B) = |A∩B| / |A| with A the smaller
# shingle set — the "short doc embedded in a long doc" case symmetric
# Jaccard structurally misses (a tweet quoted inside an article has
# J ≈ |tweet|/|article| ≈ 0, but containment 1.0). Candidate generation
# uses the one-sided prefix-filter theorem (Chaudhuri et al. ICDE'06 /
# PPJoin's asymmetric variant): C(A,B) ≥ t ⇒ |A∩B| ≥ ⌈t·|A|⌉ ⇒ A shares
# a shingle within its first |A|−⌈t·|A|⌉+1 rarest shingles with B — so
# only the SMALL side is prefix-pruned and the big side stays a full
# inverted index, exactly how containment joins index at scale. The
# threshold arithmetic is exact integer (⌈0.9n⌉ = (9n+9) div 10), and
# verification reuses the sorted-array array_intersect pattern of
# dedup_ngram_jaccard (one row per pair, no per-gram fan-out).
# ---------------------------------------------------------------------------

CONTAINMENT_T_NUM, CONTAINMENT_T_DEN = 9, 10  # t = 0.9 as an exact rational


def _containment_oracle() -> str:
    g = duck_portable_hash("shingle")
    return f"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS tok
      FROM documents
    ),
    shingles AS (
      SELECT DISTINCT doc_id,
             tok[s.i] || ' ' || tok[s.i+1] || ' ' || tok[s.i+2] AS shingle
      FROM toks, UNNEST(range(1, greatest(len(tok) - {SHINGLE_W - 2}, 1))) AS s(i)
    ),
    grams AS (SELECT DISTINCT doc_id, {g} AS g FROM shingles),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM grams GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
      FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id <> b.doc_id
      GROUP BY 1, 2
    )
    SELECT i.doc_a AS doc_small, i.doc_b AS doc_big,
           CAST(sa.n AS BIGINT) AS n_small, CAST(sb.n AS BIGINT) AS n_big,
           CAST(i.i AS BIGINT) AS n_shared,
           ROUND(i.i * 1.0 / sa.n, 6) AS containment
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.doc_a
    JOIN sizes sb ON sb.doc_id = i.doc_b
    WHERE (sa.n < sb.n OR (sa.n = sb.n AND i.doc_a < i.doc_b))
      AND {CONTAINMENT_T_DEN} * i.i >= {CONTAINMENT_T_NUM} * sa.n
    ORDER BY doc_small, doc_big
    """


@query(
    "dedup_containment",
    _containment_oracle(),
    doc="asymmetric shingle-containment dedup (C(A,B) = |A∩B|/|A|, "
    "t = 0.9): finds short documents embedded in longer ones — the case "
    "symmetric Jaccard misses by construction. One-sided prefix filter: "
    "only the contained (small) side prunes to its rarest "
    "n−⌈t·n⌉+1 shingles, the big side stays a full inverted index — the "
    "asymmetric analog of dedup_ngram_jaccard's PPJoin, completeness "
    "guaranteed by the prefix theorem so the exhaustive-join oracle "
    "returns the identical pair set. Threshold arithmetic is exact "
    "integer (10·|A∩B| ≥ 9·|A|); verification is the sorted-array "
    "array_intersect, one codegen row per candidate pair. Honest bound "
    "(measured, SCALE.md): selectivity comes from the rare tail of the "
    "shingle distribution, so a bounded-vocabulary corpus degrades to "
    "Ω(N·df) candidates — route boilerplate-heavy slices through the "
    "bucket-bounded MinHash/cluster family first",
    tags=("dedup", "containment"),
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    t = load_tables(spark, sf_dir)
    grams = (
        _spark_shingles(t["documents"])
        .select("doc_id", spark_portable_hash(F.col("shingle")).alias("g"))
        # post-hash distinct: a 48-bit collision inside one doc would
        # otherwise double-count a gram that the oracle's DISTINCT dedupes
        .distinct()
        .localCheckpoint(eager=False)
    )
    sizes = grams.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    gram_df = grams.groupBy("g").agg(F.count(F.lit(1)).alias("df"))
    ranked = (
        grams.join(F.broadcast(gram_df), "g")
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy("df", "g")
            ),
        )
        .join(sizes, "doc_id")
    )
    # prefix bound for the SMALL side only: keep A's rarest
    # n − ⌈t·n⌉ + 1 shingles; ⌈0.9·n⌉ computed in exact integers
    prefix = ranked.filter(
        F.col("rk")
        <= F.col("n")
        - F.expr(
            f"({CONTAINMENT_T_NUM} * n + {CONTAINMENT_T_NUM}) "
            f"div {CONTAINMENT_T_DEN}"
        )
        + 1
    )
    pa = prefix.select(
        F.col("doc_id").alias("doc_small"), "g", F.col("n").alias("n_small")
    )
    pb = grams.join(sizes, "doc_id").select(
        F.col("doc_id").alias("doc_big"), "g", F.col("n").alias("n_big")
    )
    # Cost model, measured (SCALE.md): candidates = Σ over A-prefix rows of
    # df(g). On natural corpora the shingle vocabulary GROWS with the
    # corpus, the rarity-ordered prefix selects df≈1 shingles, and the join
    # stays linear. On a BOUNDED-vocabulary corpus the prefix has nothing
    # rare to select (the sweep's 36-word salad: 43k possible shingles,
    # avg df 190 at 250k docs → 82M candidates) and NO exact prefix-filter
    # algorithm can do better — the PPJoin positional filter was measured
    # useless here (3% prune) precisely because a globally-rare shared
    # gram is early in BOTH documents' rarity orders. Boilerplate-heavy
    # slices should route through the bucket-bounded MinHash/cluster
    # family first (dedup_clusters_hardened collapses identical docs,
    # minhash bands bound candidates by construction) and reserve the
    # containment join for the rare-tail-bearing remainder its index is
    # selective on.
    cands = (
        pa.join(pb, "g")
        .filter(
            (F.col("n_small") < F.col("n_big"))
            | (
                (F.col("n_small") == F.col("n_big"))
                & (F.col("doc_small") < F.col("doc_big"))
            )
        )
        .select("doc_small", "doc_big", "n_small", "n_big")
        .distinct()
        .localCheckpoint(eager=False)
    )
    gsets = grams.groupBy("doc_id").agg(
        F.sort_array(F.collect_list("g")).alias("gs")
    )
    inter = (
        cands.join(
            gsets.select(
                F.col("doc_id").alias("doc_small"), F.col("gs").alias("gs_a")
            ),
            "doc_small",
        )
        .join(
            gsets.select(
                F.col("doc_id").alias("doc_big"), F.col("gs").alias("gs_b")
            ),
            "doc_big",
        )
        .select(
            "doc_small",
            "doc_big",
            "n_small",
            "n_big",
            F.size(F.array_intersect("gs_a", "gs_b")).alias("n_shared"),
        )
        .localCheckpoint(eager=False)
    )
    return (
        inter.filter(
            F.lit(CONTAINMENT_T_DEN) * F.col("n_shared")
            >= F.lit(CONTAINMENT_T_NUM) * F.col("n_small")
        )
        .select(
            "doc_small",
            "doc_big",
            F.col("n_small").cast("long"),
            F.col("n_big").cast("long"),
            F.col("n_shared").cast("long"),
            F.round(F.col("n_shared") / F.col("n_small"), 6).alias(
                "containment"
            ),
        )
        .orderBy("doc_small", "doc_big")
    )
