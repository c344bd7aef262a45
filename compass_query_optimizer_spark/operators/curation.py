"""Corpus-curation filters: repetition metrics and eval-set decontamination.

Two training-data-pipeline operators over the `documents` table, both pure
DataFrame programs (no Python UDFs) with DuckDB oracles:

- ``text_repetition``: Gopher-style repetition signals (Rae et al. 2021,
  "Scaling Language Models", Table A1 — public): fraction of duplicate
  words, characters covered by the most frequent word 2-gram, and
  characters inside duplicate word 3-grams, plus a keep flag. Documents
  dominated by repeated n-grams are low-quality training text.
- ``text_contamination``: benchmark-decontamination overlap check (the
  GPT-3 paper's n-gram collision scan, public): token 5-gram shingles of
  every corpus doc are probed against the shingle set of a small held-out
  "eval" subset; docs with a high overlap ratio are flagged.

Scale notes (100 TB): repetition is one explode + one (doc_id, gram)
group-by — the shuffle key includes doc_id, so it is perfectly spreadable
and combiner-friendly (map-side partial counts collapse the duplicates that
motivated the metric). Contamination keeps the eval side tiny by
construction (a fixed hash-sampled subset), distinct-reduces it, and
broadcasts it — the corpus side is one scan + one hash probe, no shuffle
of corpus data at all.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from compass_query_optimizer_spark.catalog import load_tables, spread
from compass_query_optimizer_spark.operators.text import _TOKEN_RE, _re_tokens
from compass_query_optimizer_spark.registry import query

# repetition keep-thresholds (Gopher uses 0.2 for top-2-gram and 0.6 for
# dup-chunk fractions; we keep those shapes with our char accounting)
TOP2_MAX_FRAC = 0.20
DUP3_MAX_FRAC = 0.60

# decontamination knobs: eval set = docs whose id hashes into 1/EVAL_MOD of
# the corpus; overlap >= CONTAM_MIN_RATIO of a doc's shingles flags it.
# Real corpora use 8-13-token shingles (GPT-3 used 13); the synthetic
# documents table draws from a ~30-word vocabulary, where 2-token shingles
# produce the same overlap-ratio spread a 13-gram scan gives on web text —
# the shingle length is a parameter, the plan shape is length-invariant.
EVAL_MOD = 97
SHINGLE_N = 2
CONTAM_MIN_RATIO = 0.3


def _grams(toks, n: int):
    """Word n-grams as space-joined strings (empty array when too short).

    Guarded sequence: Spark's sequence(1, stop) DESCENDS when stop < 1,
    so short docs must short-circuit to an empty array explicitly.
    """
    m = F.size(toks) - F.lit(n - 1)
    idx = F.sequence(F.lit(1), m)
    parts = lambda i: [F.element_at(toks, i + j) for j in range(n)]  # noqa: E731
    return F.when(
        m >= 1, F.transform(idx, lambda i: F.concat_ws(" ", *parts(i)))
    ).otherwise(F.array().cast("array<string>"))


@query(
    "text_repetition",
    None,  # generated below
    doc="Gopher-style repetition filter: duplicate-word fraction, max chars "
    "covered by one word 2-gram, chars inside duplicate word 3-grams; "
    "keep = both n-gram fractions under threshold. One explode + one "
    "(doc_id, n, gram) group-by, map-side combinable",
    tags=("text", "quality"),
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    toks = _re_tokens(F.col("text"))
    docs = t["documents"].select(
        "doc_id",
        toks.alias("toks"),
        F.length(F.regexp_replace(F.lower("text"), "[^a-z0-9]", "")).alias(
            "alnum_chars"
        ),
    )
    base = docs.select(
        "doc_id",
        "alnum_chars",
        F.size("toks").alias("n_tokens"),
        F.size(F.array_distinct("toks")).alias("uniq_tokens"),
    )
    grams = docs.select(
        "doc_id",
        F.explode(
            F.concat(
                F.transform(
                    _grams(F.col("toks"), 2), lambda g: F.struct(F.lit(2).alias("n"), g.alias("gram"))
                ),
                F.transform(
                    _grams(F.col("toks"), 3), lambda g: F.struct(F.lit(3).alias("n"), g.alias("gram"))
                ),
            )
        ).alias("g"),
    ).select("doc_id", F.col("g.n").alias("n"), F.col("g.gram").alias("gram"))
    counted = grams.groupBy("doc_id", "n", "gram").agg(F.count(F.lit(1)).alias("cnt"))
    # chars covered by a gram occurrence = len minus the (n-1) separators
    stats = counted.groupBy("doc_id").agg(
        F.max(
            F.when(F.col("n") == 2, F.col("cnt") * (F.length("gram") - 1))
        ).alias("top2_chars"),
        F.sum(
            F.when(
                (F.col("n") == 3) & (F.col("cnt") >= 2),
                F.col("cnt") * (F.length("gram") - 2),
            ).otherwise(0)
        ).alias("dup3_chars"),
    )
    top2 = F.coalesce(F.col("top2_chars"), F.lit(0)) * F.lit(1.0) / F.col("alnum_chars")
    dup3 = F.coalesce(F.col("dup3_chars"), F.lit(0)) * F.lit(1.0) / F.col("alnum_chars")
    return (
        base.join(stats, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.round(
                F.lit(1.0) - F.col("uniq_tokens") * F.lit(1.0) / F.col("n_tokens"), 6
            ).alias("dup_word_frac"),
            F.round(top2, 6).alias("top2_char_frac"),
            F.round(dup3, 6).alias("dup3_char_frac"),
            F.when((top2 < TOP2_MAX_FRAC) & (dup3 < DUP3_MAX_FRAC), 1)
            .otherwise(0)
            .alias("keep"),
        )
        .orderBy("doc_id")
    )


def _repetition_oracle() -> str:
    return f"""
    WITH docs AS (
      SELECT doc_id,
             regexp_extract_all(lower(text), '{_TOKEN_RE}') AS toks,
             length(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'))
                 AS alnum_chars
      FROM documents
    ),
    base AS (
      SELECT doc_id, alnum_chars, len(toks) AS n_tokens,
             len(list_distinct(toks)) AS uniq_tokens
      FROM docs
    ),
    grams AS (
      SELECT doc_id, 2 AS n,
             unnest(list_transform(range(1, len(toks)),
                                   i -> toks[i] || ' ' || toks[i+1])) AS gram
      FROM docs WHERE len(toks) >= 2
      UNION ALL
      SELECT doc_id, 3,
             unnest(list_transform(range(1, len(toks) - 1),
                    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
      FROM docs WHERE len(toks) >= 3
    ),
    counted AS (
      SELECT doc_id, n, gram, COUNT(*) AS cnt FROM grams GROUP BY 1, 2, 3
    ),
    stats AS (
      SELECT doc_id,
             MAX(CASE WHEN n = 2 THEN cnt * (length(gram) - 1) END)
                 AS top2_chars,
             SUM(CASE WHEN n = 3 AND cnt >= 2 THEN cnt * (length(gram) - 2)
                      ELSE 0 END) AS dup3_chars
      FROM counted GROUP BY 1
    )
    SELECT b.doc_id, b.n_tokens,
           ROUND(1.0 - b.uniq_tokens * 1.0 / b.n_tokens, 6) AS dup_word_frac,
           ROUND(COALESCE(s.top2_chars, 0) * 1.0 / b.alnum_chars, 6)
               AS top2_char_frac,
           ROUND(COALESCE(s.dup3_chars, 0) * 1.0 / b.alnum_chars, 6)
               AS dup3_char_frac,
           CASE WHEN COALESCE(s.top2_chars, 0) * 1.0 / b.alnum_chars
                     < {TOP2_MAX_FRAC}
                 AND COALESCE(s.dup3_chars, 0) * 1.0 / b.alnum_chars
                     < {DUP3_MAX_FRAC}
                THEN 1 ELSE 0 END AS keep
    FROM base b LEFT JOIN stats s USING (doc_id)
    ORDER BY doc_id
    """


@query(
    "text_contamination",
    None,  # generated below
    doc="benchmark decontamination: token 5-gram shingle overlap of every "
    "corpus doc against a hash-sampled held-out eval subset. Eval side is "
    "distinct-reduced and broadcast; corpus side never shuffles. Overlap "
    f"ratio >= {CONTAM_MIN_RATIO} flags the doc contaminated",
    tags=("text", "dedup"),
)
def text_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    is_eval = (F.col("doc_id") % EVAL_MOD) == 0
    shingled = spread(t["documents"]).select(
        "doc_id",
        F.array_distinct(_grams(_re_tokens(F.col("text")), SHINGLE_N)).alias(
            "shingles"
        ),
    )
    eval_shingles = (
        shingled.filter(is_eval)
        .select(F.explode("shingles").alias("shingle"))
        .distinct()
    )
    corpus = shingled.filter(~is_eval).select(
        "doc_id",
        F.size("shingles").alias("n_shingles"),
        F.explode_outer("shingles").alias("shingle"),
    )
    matched = (
        corpus.join(
            F.broadcast(eval_shingles.withColumn("hit", F.lit(1))),
            "shingle",
            "left",
        )
        .groupBy("doc_id")
        .agg(
            F.min("n_shingles").alias("n_shingles"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("n_matched"),
        )
    )
    ratio = F.when(
        F.col("n_shingles") > 0,
        F.col("n_matched") * F.lit(1.0) / F.col("n_shingles"),
    ).otherwise(F.lit(0.0))
    return matched.select(
        "doc_id",
        "n_shingles",
        "n_matched",
        F.round(ratio, 6).alias("overlap_ratio"),
        F.when(ratio >= CONTAM_MIN_RATIO, 1).otherwise(0).alias("contaminated"),
    ).orderBy("doc_id")


def _contamination_oracle() -> str:
    shingle = " || ' ' || ".join(f"toks[i+{j}]" for j in range(SHINGLE_N))
    return f"""
    WITH docs AS (
      SELECT doc_id, regexp_extract_all(lower(text), '{_TOKEN_RE}') AS toks
      FROM documents
    ),
    shingled AS (
      SELECT doc_id,
             list_distinct(CASE WHEN len(toks) >= {SHINGLE_N}
               THEN list_transform(range(1, len(toks) - {SHINGLE_N - 2}),
                                   i -> {shingle})
               ELSE [] END) AS shingles
      FROM docs
    ),
    eval_shingles AS (
      SELECT DISTINCT unnest(shingles) AS shingle
      FROM shingled WHERE doc_id % {EVAL_MOD} = 0
    ),
    corpus AS (
      SELECT doc_id, len(shingles) AS n_shingles,
             unnest(CASE WHEN len(shingles) = 0 THEN [NULL] ELSE shingles END)
                 AS shingle
      FROM shingled WHERE doc_id % {EVAL_MOD} <> 0
    ),
    matched AS (
      SELECT c.doc_id, MIN(c.n_shingles) AS n_shingles,
             CAST(SUM(CASE WHEN e.shingle IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_matched
      FROM corpus c LEFT JOIN eval_shingles e ON c.shingle = e.shingle
      GROUP BY 1
    )
    SELECT doc_id, n_shingles, n_matched,
           ROUND(CASE WHEN n_shingles > 0
                      THEN n_matched * 1.0 / n_shingles ELSE 0.0 END, 6)
               AS overlap_ratio,
           CASE WHEN n_shingles > 0
                 AND n_matched * 1.0 / n_shingles >= {CONTAM_MIN_RATIO}
                THEN 1 ELSE 0 END AS contaminated
    FROM matched
    ORDER BY doc_id
    """


from compass_query_optimizer_spark import registry as _registry  # noqa: E402

_registry._REGISTRY["text_repetition"].oracle = _repetition_oracle()
_registry._REGISTRY["text_contamination"].oracle = _contamination_oracle()


# ---------------------------------------------------------------------------
# The full composed pretraining pipeline in ONE plan (RefinedWeb/FineWeb
# shape): quality gate -> exact dedup keep-first -> eval decontamination ->
# per-language attrition rollup. pipeline_curate proves a 3-stage
# composition; this one adds dedup-vs-decontamination interplay and reports
# WHERE documents die, mutually exclusively, which is the number a corpus
# owner actually tracks.
#
# 100 TB shape: document bodies never cross an exchange. Scan 1 reduces
# every doc to (doc_id, lang, n_tokens, uniq, fp=md5(tokens)) scan-side;
# the dedup keep-set is an fp-keyed aggregate of IDs; scan 2 re-derives
# shingles scan-side and probes the BROADCAST eval shingle set, reducing
# map-side to one (doc_id, matched) row; the final joins are id-keyed.
# Quality and contamination thresholds compare in integer arithmetic
# (uniq*2 > n, 10*m >= 3*n_sh) so no float boundary can drift cross-engine.
# ---------------------------------------------------------------------------

QUAL_MIN_TOKENS = 20
QUAL_MAX_TOKENS = 1000


@query(
    "pipeline_pretrain",
    None,  # generated below
    doc="composed pretraining-corpus pipeline in one plan: quality gate "
    f"({QUAL_MIN_TOKENS}-{QUAL_MAX_TOKENS} tokens, uniq*2 > n dup bound) "
    "-> exact dedup keep-first among quality survivors -> 2-gram shingle "
    "decontamination vs the hash-held-out eval subset -> per-lang rollup "
    "of mutually-exclusive attrition (fail_quality / dup_removed / "
    "contaminated / kept + kept tokens). Bodies reduce scan-side to "
    "md5 fingerprints and shingle hits; every exchange carries ids and "
    "counters only (plan-test-locked)",
    tags=("text", "curation", "pipeline"),
)
def pipeline_pretrain(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    docs = spread(t["documents"])
    is_eval = (F.col("doc_id") % EVAL_MOD) == 0
    toks = _re_tokens(F.col("text"))
    # ONE tokenize pass, materialized (round 12, guide §8): the quality
    # flags, the dedup fingerprints, and BOTH sides of the shingle probe
    # previously tokenized the corpus in two separate scans; the per-doc
    # feature frame (ids, counters, fp, shingle set — never text) is now
    # checkpointed once and every consumer reads its blocks. At 100 TB
    # this deletes a full tokenize pass over the corpus; the eval rows'
    # quality columns are computed unnecessarily (1/EVAL_MOD of docs) and
    # dropped by the flags filter — same rows, same values as before.
    # The saving is paid in storage: the checkpoint keeps every doc's
    # distinct shingle array, blocks about the size of the tokenized
    # corpus, persisted MEMORY_AND_DISK. Nothing here unpersists them —
    # they live as long as the returned frame does. Once the caller drops
    # that frame, Spark's ContextCleaner frees them at the next driver-JVM
    # GC (checked at sf0.001: one persisted RDD before, none after dropping
    # the frame and a System.gc()), and spark.stop() frees them in any case.
    base = docs.select(
        "doc_id",
        "lang",
        is_eval.alias("is_eval"),
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("uniq"),
        F.md5(F.array_join(toks, " ")).alias("fp"),
        F.array_distinct(_grams(toks, SHINGLE_N)).alias("sh"),
    ).localCheckpoint(eager=False)
    flags = base.filter(~F.col("is_eval")).select(
        "doc_id", "lang", "n_tokens", "uniq", "fp"
    )
    quality_ok = (
        F.col("n_tokens").between(QUAL_MIN_TOKENS, QUAL_MAX_TOKENS)
        & (F.col("uniq") * 2 > F.col("n_tokens"))
    )
    flags = flags.withColumn("quality_ok", quality_ok)
    # dedup keep-set: first (smallest doc_id) quality survivor per
    # fingerprint — an fp-keyed aggregate of IDs, never of bodies
    keep = (
        flags.filter(F.col("quality_ok"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id", F.lit(1).alias("is_first"))
    )
    # contamination probe — eval shingle set distinct-reduced and
    # broadcast (text_contamination's shape), both sides from `base`
    eval_sh = (
        base.filter(F.col("is_eval"))
        .select(F.explode("sh").alias("shingle"))
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    cont = (
        base.filter(~F.col("is_eval"))
        .select("doc_id", F.size("sh").alias("n_sh"), F.explode_outer("sh").alias("shingle"))
        .join(F.broadcast(eval_sh), "shingle", "left")
        .groupBy("doc_id")
        .agg(
            F.min("n_sh").alias("n_sh"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("m"),
        )
        .select(
            "doc_id",
            ((F.col("n_sh") > 0) & (F.col("m") * 10 >= F.col("n_sh") * 3)).alias(
                "contaminated"
            ),
        )
    )
    per_doc = (
        flags.join(keep, "doc_id", "left")
        .join(cont, "doc_id", "left")
        .select(
            "lang",
            "n_tokens",
            "quality_ok",
            (F.col("is_first") == 1).alias("is_first"),
            F.coalesce(F.col("contaminated"), F.lit(False)).alias("contaminated"),
        )
    )
    is_first = F.coalesce(F.col("is_first"), F.lit(False))
    kept = F.col("quality_ok") & is_first & ~F.col("contaminated")
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(~F.col("quality_ok"), 1).otherwise(0)).alias("fail_quality"),
            F.sum(F.when(F.col("quality_ok") & ~is_first, 1).otherwise(0)).alias(
                "dup_removed"
            ),
            F.sum(
                F.when(F.col("quality_ok") & is_first & F.col("contaminated"), 1).otherwise(0)
            ).alias("contaminated"),
            F.sum(F.when(kept, 1).otherwise(0)).alias("kept"),
            F.sum(F.when(kept, F.col("n_tokens")).otherwise(0)).alias("kept_tokens"),
        )
        .orderBy("lang")
    )


def _pretrain_oracle() -> str:
    shingle = " || ' ' || ".join(f"toks[i+{j}]" for j in range(SHINGLE_N))
    return f"""
    WITH docs AS (
      SELECT doc_id, lang, regexp_extract_all(lower(text), '{_TOKEN_RE}') AS toks
      FROM documents
    ),
    flags AS (
      SELECT doc_id, lang, len(toks) AS n_tokens,
             len(list_distinct(toks)) AS uniq,
             md5(array_to_string(toks, ' ')) AS fp,
             (len(toks) BETWEEN {QUAL_MIN_TOKENS} AND {QUAL_MAX_TOKENS}
              AND len(list_distinct(toks)) * 2 > len(toks)) AS quality_ok
      FROM docs WHERE doc_id % {EVAL_MOD} <> 0
    ),
    keep AS (
      SELECT MIN(doc_id) AS doc_id, 1 AS is_first
      FROM flags WHERE quality_ok GROUP BY fp
    ),
    shingled AS (
      SELECT doc_id,
             list_distinct(CASE WHEN len(toks) >= {SHINGLE_N}
               THEN list_transform(range(1, len(toks) - {SHINGLE_N - 2}),
                                   i -> {shingle})
               ELSE [] END) AS sh
      FROM docs
    ),
    eval_sh AS (
      SELECT DISTINCT unnest(sh) AS shingle
      FROM shingled WHERE doc_id % {EVAL_MOD} = 0
    ),
    cont AS (
      SELECT c.doc_id,
             (MIN(c.n_sh) > 0 AND
              SUM(CASE WHEN e.shingle IS NOT NULL THEN 1 ELSE 0 END) * 10
                >= MIN(c.n_sh) * 3) AS contaminated
      FROM (SELECT doc_id, len(sh) AS n_sh,
                   unnest(CASE WHEN len(sh) = 0 THEN [NULL] ELSE sh END)
                       AS shingle
            FROM shingled WHERE doc_id % {EVAL_MOD} <> 0) c
      LEFT JOIN eval_sh e ON c.shingle = e.shingle
      GROUP BY c.doc_id
    ),
    per_doc AS (
      SELECT f.lang, f.n_tokens, f.quality_ok,
             COALESCE(k.is_first = 1, FALSE) AS is_first,
             COALESCE(c.contaminated, FALSE) AS contaminated
      FROM flags f
      LEFT JOIN keep k USING (doc_id)
      LEFT JOIN cont c USING (doc_id)
    )
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN NOT quality_ok THEN 1 ELSE 0 END) AS BIGINT)
               AS fail_quality,
           CAST(SUM(CASE WHEN quality_ok AND NOT is_first THEN 1 ELSE 0 END)
                AS BIGINT) AS dup_removed,
           CAST(SUM(CASE WHEN quality_ok AND is_first AND contaminated
                         THEN 1 ELSE 0 END) AS BIGINT) AS contaminated,
           CAST(SUM(CASE WHEN quality_ok AND is_first AND NOT contaminated
                         THEN 1 ELSE 0 END) AS BIGINT) AS kept,
           CAST(SUM(CASE WHEN quality_ok AND is_first AND NOT contaminated
                         THEN n_tokens ELSE 0 END) AS BIGINT) AS kept_tokens
    FROM per_doc GROUP BY lang ORDER BY lang
    """


_registry._REGISTRY["pipeline_pretrain"].oracle = _pretrain_oracle()
