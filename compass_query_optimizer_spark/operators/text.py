"""Text-analysis operators for training-data pipelines.

Language ID (stopword-hit heuristic), quality scoring, token counting, and
document fingerprinting over the `documents` table — all expressed with
JVM-side built-ins (split / higher-order array functions / regexp), no
Python UDFs, so they scale to 100 TB of text: each is a narrow projection
plus (for langid) one broadcast join against a tiny stopword lexicon.

Every operator is oracle-checked against an equivalent DuckDB SQL program.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from compass_query_optimizer_spark.catalog import load_tables, spread
from compass_query_optimizer_spark.functions.hashing import (
    P31,
    duck_portable_hash,
    spark_portable_hash,
)
from compass_query_optimizer_spark.registry import query

# Tiny per-language stopword lexicon (public, common function words). The
# heuristic is: predicted language = argmax over languages of the fraction
# of tokens that hit that language's stopword set (ties → lexicographically
# first language). Deterministic and cheap; a production system would use
# character n-gram profiles — same Spark shape (broadcast lexicon join).
STOPWORDS: dict[str, tuple[str, ...]] = {
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "von", "zu"),
    "en": ("the", "a", "of", "and", "is", "not", "to", "in", "on", "for"),
    "es": ("el", "la", "de", "y", "es", "no", "un", "con", "por", "para"),
    "fr": ("le", "la", "de", "et", "est", "pas", "un", "avec", "pour", "sur"),
    "zh": ("de", "shi", "bu", "le", "zai", "you", "he", "wo", "ta", "men"),
}

_TOKEN_RE = "[a-z0-9]+"


def _tokens(col):
    return F.split(F.trim(F.lower(col)), r"\s+")


def _re_tokens(col):
    """Regex tokenizer — the Spark twin of the oracles' DuckDB
    ``regexp_extract_all(lower(text), '[a-z0-9]+')``. Operators whose
    oracle tokenizes by regex MUST use this helper (not the
    whitespace-split ``_tokens``) so both engines see identical tokens on
    punctuated text, not just on single-space word salad."""
    return F.regexp_extract_all(F.lower(col), F.lit(_TOKEN_RE), 0)


def char_positions(col, last_offset: int = 0):
    """1..length(col)+last_offset as an explode-safe int array.

    Spark's sequence() auto-steps -1 when start > stop, so an unguarded
    sequence(1, length-1) on a 1-char doc yields [1, 0] — phantom
    positions a DuckDB oracle's end-exclusive range(1, length) never
    generates. Empty when the stop falls below 1."""
    stop = F.length(col) + F.lit(last_offset)
    return F.when(stop >= 1, F.sequence(F.lit(1), stop)).otherwise(
        F.array().cast("array<int>")
    )


@query(
    "text_langid",
    None,  # set below (generated SQL) — see _langid_oracle()
    doc="language-ID via stopword-hit ratio; broadcast lexicon join, "
    "argmax per doc with deterministic tie-break",
    tags=("text",),
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    docs = t["documents"]
    lex = spark.createDataFrame(
        [(lang, w) for lang, ws in sorted(STOPWORDS.items()) for w in ws],
        "cand_lang string, word string",
    )
    toks = docs.select(
        "doc_id", F.explode(_tokens(F.col("text"))).alias("word")
    )
    n_tok = docs.select(
        "doc_id", F.size(_tokens(F.col("text"))).alias("n_tokens")
    )
    hits = (
        toks.join(F.broadcast(lex), "word")
        .groupBy("doc_id", "cand_lang")
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    # every (doc, candidate-language) row, 0-filled, so argmax is total
    langs = spark.createDataFrame(
        [(lang,) for lang in sorted(STOPWORDS)], "cand_lang string"
    )
    scored = (
        n_tok.crossJoin(F.broadcast(langs))
        .join(hits, ["doc_id", "cand_lang"], "left")
        .select(
            "doc_id",
            "cand_lang",
            (F.coalesce(F.col("hits"), F.lit(0)) / F.col("n_tokens")).alias("score"),
        )
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("cand_lang"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "doc_id",
            F.col("cand_lang").alias("predicted_lang"),
            F.round("score", 6).alias("score"),
        )
        .orderBy("doc_id")
    )


def _langid_oracle() -> str:
    lex_rows = ", ".join(
        f"('{lang}', '{w}')" for lang, ws in sorted(STOPWORDS.items()) for w in ws
    )
    langs = ", ".join(f"('{lang}')" for lang in sorted(STOPWORDS))
    return f"""
    WITH lex(cand_lang, word) AS (VALUES {lex_rows}),
    langs(cand_lang) AS (VALUES {langs}),
    toks AS (
      SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS word
      FROM documents
    ),
    ntok AS (
      SELECT doc_id, len(string_split_regex(trim(lower(text)), '\\s+')) AS n_tokens
      FROM documents
    ),
    hits AS (
      SELECT t.doc_id, l.cand_lang, COUNT(*) AS hits
      FROM toks t JOIN lex l ON t.word = l.word
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT n.doc_id, g.cand_lang,
             COALESCE(h.hits, 0) * 1.0 / n.n_tokens AS score
      FROM ntok n CROSS JOIN langs g
      LEFT JOIN hits h ON h.doc_id = n.doc_id AND h.cand_lang = g.cand_lang
    ),
    ranked AS (
      SELECT doc_id, cand_lang AS predicted_lang, score,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, cand_lang) AS rn
      FROM scored
    )
    SELECT doc_id, predicted_lang, ROUND(score, 6) AS score
    FROM ranked WHERE rn = 1
    ORDER BY doc_id
    """


@query(
    "text_quality",
    """
    SELECT doc_id,
           CAST(length(text) AS INTEGER) AS n_chars_txt,
           CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS INTEGER) AS n_tokens,
           ROUND((length(text) - length(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')))
                 * 1.0 / length(text), 6) AS punct_ratio,
           ROUND(length(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'))
                 * 1.0 / len(regexp_extract_all(lower(text), '[a-z0-9]+')), 6) AS avg_token_len,
           CASE WHEN len(regexp_extract_all(lower(text), '[a-z0-9]+')) BETWEEN 20 AND 1000
                 AND (length(text) - length(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')))
                     * 1.0 / length(text) < 0.2
                THEN 1 ELSE 0 END AS keep
    FROM documents
    ORDER BY doc_id
    """,
    doc="quality scoring: length / punctuation ratio / mean token length "
    "+ keep flag, all JVM-side regexp built-ins",
    tags=("text",),
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    txt = F.lower(F.col("text"))
    n_tokens = F.size(_re_tokens(F.col("text")))
    punct = F.length("text") - F.length(F.regexp_replace(txt, "[^a-z0-9 ]", ""))
    punct_ratio = punct * F.lit(1.0) / F.length("text")
    alnum_len = F.length(F.regexp_replace(txt, "[^a-z0-9]", ""))
    return (
        t["documents"]
        .select(
            "doc_id",
            F.length("text").alias("n_chars_txt"),
            n_tokens.alias("n_tokens"),
            F.round(punct_ratio, 6).alias("punct_ratio"),
            F.round(alnum_len * F.lit(1.0) / n_tokens, 6).alias("avg_token_len"),
            F.when(
                n_tokens.between(20, 1000) & (punct_ratio < 0.2), 1
            )
            .otherwise(0)
            .alias("keep"),
        )
        .orderBy("doc_id")
    )


@query(
    "text_tokens",
    """
    SELECT doc_id,
           CAST(len(string_split_regex(trim(text), '\\s+')) AS INTEGER) AS ws_tokens,
           CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+')) AS INTEGER) AS re_tokens,
           CAST(len(list_distinct(regexp_extract_all(lower(text), '[a-z]+|[0-9]+'))) AS INTEGER)
               AS uniq_tokens
    FROM documents
    ORDER BY doc_id
    """,
    doc="token counting: whitespace split + BPE-ish regexp tokenizer + "
    "distinct-token count",
    tags=("text",),
)
def text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    re_toks = F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z]+|[0-9]+"), 0)
    return (
        t["documents"]
        .select(
            "doc_id",
            F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("ws_tokens"),
            F.size(re_toks).alias("re_tokens"),
            F.size(F.array_distinct(re_toks)).alias("uniq_tokens"),
        )
        .orderBy("doc_id")
    )


@query(
    "text_fingerprint",
    f"""
    SELECT doc_id,
           md5(array_to_string(regexp_extract_all(lower(text), '[a-z0-9]+'), ' '))
               AS norm_md5,
           CASE WHEN len(regexp_extract_all(lower(text), '[a-z0-9]+')) = 0 THEN 0
                ELSE list_reduce(
                  list_transform(regexp_extract_all(lower(text), '[a-z0-9]+'),
                                 tok -> {duck_portable_hash('tok')} % {P31}),
                  (acc, x) -> (acc * 31 + x) % {P31})
           END AS rolling_hash
    FROM documents
    ORDER BY doc_id
    """,
    doc="document fingerprinting: md5 of normalized text + 31-ary rolling "
    "hash over token hashes (mod 2^31-1), both engines bit-identical",
    tags=("text",),
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    toks = _re_tokens(F.col("text"))
    tok_hashes = F.transform(toks, lambda s: spark_portable_hash(s) % F.lit(P31))
    # fold matches DuckDB list_reduce (no init): f(0, x0) = x0 since x0 < P
    rolling = F.aggregate(
        tok_hashes,
        F.lit(0).cast("long"),
        lambda acc, x: (acc * F.lit(31) + x) % F.lit(P31),
    )
    return (
        t["documents"]
        .select(
            "doc_id",
            F.md5(F.array_join(toks, " ")).alias("norm_md5"),
            F.when(F.size(toks) == 0, F.lit(0).cast("long"))
            .otherwise(rolling)
            .alias("rolling_hash"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# corpus curation: stratified sampling + sequence packing
# ---------------------------------------------------------------------------

# per-language keep rates (percent). Down-samples the dominant language and
# keeps the tail — the usual rebalancing move when curating multilingual
# training mixes. Literals so the oracle embeds identical numbers.
SAMPLE_RATES: dict[str, int] = {"en": 50, "de": 80, "es": 80, "fr": 80, "zh": 40}
SAMPLE_DEFAULT_RATE = 100  # unknown languages pass through

PACK_CAP = 2048  # context-window token budget per packed sequence
PACK_PARTS = 16  # independent packing streams (the parallelism unit)


@query(
    "text_stratified_sample",
    None,  # generated below
    doc="deterministic stratified sampling for corpus rebalancing: keep a "
    "doc iff portable_hash('sample-'||doc_id) % 100 < rate[lang]. Pure "
    "projection+filter — no shuffle, no RNG state, reproducible across "
    "engines and re-runs (unlike df.sample, whose result depends on "
    "partitioning), and the filter pushes into the scan",
    tags=("text", "sampling"),
)
def text_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    bucket = spark_portable_hash(
        F.concat(F.lit("sample-"), F.col("doc_id").cast("string"))
    ) % F.lit(100)
    rate = F.lit(SAMPLE_DEFAULT_RATE)
    for lang, r in sorted(SAMPLE_RATES.items()):
        rate = F.when(F.col("lang") == lang, F.lit(r)).otherwise(rate)
    return (
        t["documents"]
        .select("doc_id", "lang", bucket.alias("bucket"), rate.alias("rate"))
        .filter(F.col("bucket") < F.col("rate"))
        .select("doc_id", "lang")
        .orderBy("doc_id")
    )


def _sample_oracle() -> str:
    h = duck_portable_hash("'sample-' || CAST(doc_id AS VARCHAR)")
    cases = " ".join(
        f"WHEN '{lang}' THEN {r}" for lang, r in sorted(SAMPLE_RATES.items())
    )
    return f"""
    SELECT doc_id, lang
    FROM documents
    WHERE {h} % 100 < CASE lang {cases} ELSE {SAMPLE_DEFAULT_RATE} END
    ORDER BY doc_id
    """


@query(
    "text_pack_sequences",
    None,  # generated below
    doc="sequence packing for LLM training: concatenate-then-chunk (GPT "
    f"style) into {PACK_CAP}-token windows. Docs are hashed into "
    f"{PACK_PARTS} independent packing streams; within a stream, ordered "
    "by doc_id, a running token sum assigns each doc the window its first "
    "token lands in. The window function partitions on the stream key — "
    "never a global (unpartitioned) window, so packing parallelizes "
    "across executors and PACK_PARTS scales with the cluster",
    tags=("text", "packing"),
)
def text_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    t = load_tables(spark, sf_dir)
    n_tokens = F.size(
        F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z]+|[0-9]+"), 0)
    )
    part = spark_portable_hash(
        F.concat(F.lit("pack-"), F.col("doc_id").cast("string"))
    ) % F.lit(PACK_PARTS)
    docs = t["documents"].select(
        "doc_id", part.alias("pack_part"), n_tokens.cast("long").alias("n_tokens")
    )
    w = (
        Window.partitionBy("pack_part")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    running = F.sum("n_tokens").over(w)
    return (
        docs.select(
            "doc_id",
            "pack_part",
            "n_tokens",
            (running - F.col("n_tokens")).alias("start_off"),
        )
        .withColumn(
            "bin_id", F.floor(F.col("start_off") / F.lit(PACK_CAP)).cast("long")
        )
        .orderBy("doc_id")
    )


def _pack_oracle() -> str:
    h = duck_portable_hash("'pack-' || CAST(doc_id AS VARCHAR)")
    return f"""
    WITH docs AS (
      SELECT doc_id, {h} % {PACK_PARTS} AS pack_part,
             CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+')) AS BIGINT)
                 AS n_tokens
      FROM documents
    ),
    placed AS (
      SELECT doc_id, pack_part, n_tokens,
             CAST(SUM(n_tokens) OVER (PARTITION BY pack_part ORDER BY doc_id
                                      ROWS UNBOUNDED PRECEDING) - n_tokens
                  AS BIGINT) AS start_off
      FROM docs
    )
    SELECT doc_id, pack_part, n_tokens, start_off,
           CAST(floor(start_off / {PACK_CAP}.0) AS BIGINT) AS bin_id
    FROM placed
    ORDER BY doc_id
    """


@query(
    "pipeline_curate",
    None,  # generated below
    doc="end-to-end corpus curation, composing the pipeline operators in "
    "one plan: quality gate (token count 20..1000, punct ratio < 0.2) → "
    "exact-dedup keep-first (min doc_id per normalized-text md5) → "
    "deterministic stratified sample → per-language summary. Ratios are "
    "computed as ratios of integer SUMs, so the result is bit-identical "
    "regardless of aggregation order — float AVG would drift by an ulp "
    "between engines/partitionings. One scan, two shuffles (dedup "
    "groupBy + final rollup); every filter runs before any shuffle",
    tags=("text", "dedup", "sampling", "pipeline"),
)
def pipeline_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    txt = F.lower(F.col("text"))
    n_tokens = F.size(_re_tokens(F.col("text")))
    punct = F.length("text") - F.length(F.regexp_replace(txt, "[^a-z0-9 ]", ""))
    norm_key = F.md5(F.array_join(_re_tokens(F.col("text")), " "))
    quality = (
        t["documents"]
        .select(
            "doc_id",
            "lang",
            n_tokens.alias("n_tokens"),
            punct.alias("n_punct"),
            F.length("text").alias("n_chars_txt"),
            norm_key.alias("text_key"),
        )
        .filter(
            F.col("n_tokens").between(20, 1000)
            & (F.col("n_punct") * F.lit(1.0) / F.col("n_chars_txt") < 0.2)
        )
    )
    keep_first = quality.groupBy("text_key").agg(F.min("doc_id").alias("doc_id"))
    kept = quality.join(keep_first.select("doc_id"), "doc_id")
    bucket = spark_portable_hash(
        F.concat(F.lit("sample-"), F.col("doc_id").cast("string"))
    ) % F.lit(100)
    rate = F.lit(SAMPLE_DEFAULT_RATE)
    for lang, r in sorted(SAMPLE_RATES.items()):
        rate = F.when(F.col("lang") == lang, F.lit(r)).otherwise(rate)
    sampled = kept.filter(bucket < rate)
    return (
        sampled.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("sum_tokens"),
            F.round(
                F.sum("n_punct") * F.lit(1.0) / F.sum("n_chars_txt"), 6
            ).alias("punct_ratio"),
        )
        .orderBy("lang")
    )


def _curate_oracle() -> str:
    h = duck_portable_hash("'sample-' || CAST(doc_id AS VARCHAR)")
    cases = " ".join(
        f"WHEN '{lang}' THEN {r}" for lang, r in sorted(SAMPLE_RATES.items())
    )
    return f"""
    WITH scored AS (
      SELECT doc_id, lang,
             CAST(len(regexp_extract_all(lower(text), '{_TOKEN_RE}')) AS BIGINT)
                 AS n_tokens,
             CAST(length(text) - length(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'))
                  AS BIGINT) AS n_punct,
             CAST(length(text) AS BIGINT) AS n_chars_txt,
             md5(array_to_string(regexp_extract_all(lower(text), '{_TOKEN_RE}'), ' '))
                 AS text_key
      FROM documents
    ),
    quality AS (
      SELECT * FROM scored
      WHERE n_tokens BETWEEN 20 AND 1000 AND n_punct * 1.0 / n_chars_txt < 0.2
    ),
    keep_first AS (
      SELECT MIN(doc_id) AS doc_id FROM quality GROUP BY text_key
    ),
    sampled AS (
      SELECT q.* FROM quality q JOIN keep_first USING (doc_id)
      WHERE {h} % 100 < CASE lang {cases} ELSE {SAMPLE_DEFAULT_RATE} END
    )
    SELECT lang, COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
           ROUND(SUM(n_punct) * 1.0 / SUM(n_chars_txt), 6) AS punct_ratio
    FROM sampled GROUP BY lang ORDER BY lang
    """


# Target corpus mixture in tenths (de/en/es/fr/zh); sum = 10. The sampler
# downsamples every language to the largest total that honors these shares.
MIX_SHARES: dict[str, int] = {"de": 2, "en": 4, "es": 1, "fr": 2, "zh": 1}


@query(
    "text_mixture_sample",
    None,  # generated below — see _mixture_oracle()
    doc="dataset mixing: deterministically downsample each language to hit "
    "a target mixture (en 40% / de+fr 20% / es+zh 10%). Feasible total and "
    "per-lang keep-thresholds are computed with INTEGER division only "
    "(float division could floor differently across engines), then docs "
    "keep iff portable_hash % 10000 < threshold_bp. Two passes over the "
    "corpus: a column-pruned count aggregate, then scan + broadcast-joined "
    "threshold filter — no shuffle of document bodies",
    tags=("text", "sampling"),
)
def text_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir)["documents"]
    shares = spark.createDataFrame(
        sorted(MIX_SHARES.items()), "lang string, share int"
    )
    counts = (
        docs.join(F.broadcast(shares), "lang")
        .groupBy("lang", "share")
        .agg(F.count(F.lit(1)).alias("n_total"))
    )
    # T10 = 10 × the largest corpus size every language can support at its
    # share; threshold_bp = keep probability in basis points. Integer `div`
    # throughout so Spark and DuckDB floor identically.
    t10 = counts.agg(F.min(F.expr("(n_total * 10) div share")).alias("t10"))
    thr = counts.crossJoin(F.broadcast(t10)).select(
        "lang",
        "n_total",
        F.expr("(share * t10 * 1000) div n_total").alias("threshold_bp"),
    )
    bucket = spark_portable_hash(
        F.concat(F.lit("mix-"), F.col("doc_id").cast("string"))
    ) % F.lit(10000)
    return (
        docs.join(F.broadcast(thr), "lang")
        .groupBy("lang")
        .agg(
            F.any_value("n_total").alias("n_total"),
            F.any_value("threshold_bp").alias("threshold_bp"),
            F.count(F.when(bucket < F.col("threshold_bp"), 1)).alias("n_sampled"),
        )
        .orderBy("lang")
    )


def _mixture_oracle() -> str:
    h = duck_portable_hash("'mix-' || CAST(doc_id AS VARCHAR)")
    rows = ", ".join(f"('{l}', {s})" for l, s in sorted(MIX_SHARES.items()))
    return f"""
    WITH shares(lang, share) AS (VALUES {rows}),
    counts AS (
      SELECT d.lang, ANY_VALUE(s.share) AS share, COUNT(*) AS n_total
      FROM documents d JOIN shares s USING (lang) GROUP BY d.lang
    ),
    t AS (SELECT MIN((n_total * 10) // share) AS t10 FROM counts),
    thr AS (
      SELECT c.lang, c.n_total,
             (c.share * t.t10 * 1000) // c.n_total AS threshold_bp
      FROM counts c, t
    )
    SELECT d.lang,
           ANY_VALUE(th.n_total) AS n_total,
           ANY_VALUE(th.threshold_bp) AS threshold_bp,
           COUNT(CASE WHEN {h} % 10000 < th.threshold_bp THEN 1 END) AS n_sampled
    FROM documents d JOIN thr th ON d.lang = th.lang
    GROUP BY d.lang
    ORDER BY d.lang
    """


@query(
    "text_vocabulary",
    r"""
    WITH toks AS (
      SELECT doc_id,
             unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
      FROM documents
    ),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    stats AS (
      SELECT token, COUNT(DISTINCT doc_id) AS df, COUNT(*) AS tf
      FROM toks GROUP BY 1
    )
    SELECT token, df, tf,
           ROUND(LN((n_docs + 1.0) / (df + 1.0)) + 1.0, 4) AS idf
    FROM stats, n
    ORDER BY df DESC, token
    LIMIT 100
    """,
    doc="vocabulary building: top-100 tokens by document frequency with "
    "corpus term frequency and smoothed idf. Selection/ordering use only "
    "the integer df/tf (idf is a derived display column), so results are "
    "bit-stable across engines. Plan: explode → one combiner-friendly "
    "aggregate → TakeOrdered(100) — the corpus-wide shuffle carries one "
    "row per distinct token, not per occurrence",
    tags=("text", "curation"),
)
def text_vocabulary(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir)["documents"]
    toks = docs.select("doc_id", F.explode(_tokens(F.col("text"))).alias("token"))
    stats = toks.groupBy("token").agg(
        F.count_distinct("doc_id").alias("df"), F.count(F.lit(1)).alias("tf")
    )
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        stats.crossJoin(F.broadcast(n))
        .select(
            "token",
            "df",
            "tf",
            F.round(
                F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)) + 1.0, 4
            ).alias("idf"),
        )
        .orderBy(F.col("df").desc(), "token")
        .limit(100)
    )


@query(
    "text_source_cap",
    """
    SELECT source, doc_id, n_chars, rn FROM (
      SELECT source, doc_id, n_chars,
             ROW_NUMBER() OVER (
               PARTITION BY source ORDER BY n_chars DESC, doc_id
             ) AS rn
      FROM documents
    ) WHERE rn <= 3
    ORDER BY source, rn
    """,
    doc="per-source document cap (keep top-3 by length, deterministic "
    "tie-break): keyed row_number window — partitions by source, so at "
    "100 TB work distributes across sources with no global sort; the "
    "standard defense against one crawl domain dominating a corpus",
    tags=("text", "curation"),
)
def text_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = load_tables(spark, sf_dir)["documents"]
    w = Window.partitionBy("source").orderBy(F.col("n_chars").desc(), F.col("doc_id"))
    return (
        docs.select("source", "doc_id", "n_chars", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 3)
        .orderBy("source", "rn")
    )


@query(
    "text_quality_percentile",
    """
    WITH stats AS (
      SELECT lang,
             quantile_cont(n_chars, 0.5) AS p50,
             quantile_cont(n_chars, 0.9) AS p90
      FROM documents GROUP BY lang
    )
    SELECT d.lang,
           ROUND(ANY_VALUE(s.p50), 4) AS p50_chars,
           ROUND(ANY_VALUE(s.p90), 4) AS p90_chars,
           CAST(SUM(CASE WHEN d.n_chars > s.p90 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_above_p90
    FROM documents d JOIN stats s USING (lang)
    GROUP BY d.lang
    ORDER BY d.lang
    """,
    doc="per-language exact length percentiles (continuous interpolation, "
    "= DuckDB quantile_cont) + count of docs above p90: the two-pass "
    "threshold shape — tiny stats aggregate broadcast back over one "
    "corpus scan; at 100 TB swap F.percentile for percentile_approx "
    "(same plan, sketch-mergeable) if exact order stats get hot",
    tags=("text", "curation"),
)
def text_quality_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir)["documents"]
    stats = docs.groupBy("lang").agg(
        F.percentile("n_chars", 0.5).alias("p50"),
        F.percentile("n_chars", 0.9).alias("p90"),
    )
    return (
        docs.join(F.broadcast(stats), "lang")
        .groupBy("lang")
        .agg(
            F.round(F.any_value("p50"), 4).alias("p50_chars"),
            F.round(F.any_value("p90"), 4).alias("p90_chars"),
            F.sum(
                F.when(F.col("n_chars") > F.col("p90"), 1).otherwise(0)
            ).alias("n_above_p90"),
        )
        .orderBy("lang")
    )


@query(
    "text_percentile_approx",
    # approx sketch values legitimately differ per engine; the gate checks
    # the exact percentile + the rank-tolerance bound holding (q11 pattern)
    """
    SELECT lang,
           ROUND(quantile_cont(n_chars, 0.9), 4) AS p90_exact,
           TRUE AS within_bound
    FROM documents GROUP BY lang ORDER BY lang
    """,
    doc="percentile_approx (Greenwald-Khanna sketch, accuracy=100): the "
    "mergeable one-pass scale path text_quality_percentile documents. "
    "Gate checks the exact p90 plus the approx landing within the exact "
    "[p85, p95] value band (rank tolerance 0.05 >> the sketch's 1/100 "
    "guarantee) — a broken sketch fails it, and both engines agree on "
    "the exact side",
    tags=("text", "approx"),
)
def text_percentile_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir)["documents"]
    return (
        docs.groupBy("lang")
        .agg(
            F.percentile("n_chars", 0.9).alias("p90"),
            F.percentile_approx("n_chars", 0.9, 100).alias("p90_approx"),
            F.percentile("n_chars", 0.85).alias("lo"),
            F.percentile("n_chars", 0.95).alias("hi"),
        )
        .select(
            "lang",
            F.round("p90", 4).alias("p90_exact"),
            ((F.col("p90_approx") >= F.col("lo")) & (F.col("p90_approx") <= F.col("hi"))).alias(
                "within_bound"
            ),
        )
        .orderBy("lang")
    )


# patch in the generated langid oracle (needs Python-side string building)
from compass_query_optimizer_spark import registry as _registry  # noqa: E402

_registry._REGISTRY["text_langid"].oracle = _langid_oracle()
_registry._REGISTRY["text_mixture_sample"].oracle = _mixture_oracle()
_registry._REGISTRY["text_stratified_sample"].oracle = _sample_oracle()
_registry._REGISTRY["text_pack_sequences"].oracle = _pack_oracle()
_registry._REGISTRY["pipeline_curate"].oracle = _curate_oracle()


@query(
    "text_ngram_profile",
    """
    WITH grams AS (
      SELECT d.lang, substr(lower(d.text), g.i, 3) AS tri
      FROM documents d,
           unnest(range(1, GREATEST(length(d.text) - 1, 1))) AS g(i)
    ),
    counts AS (
      SELECT lang, tri, COUNT(*) AS cnt FROM grams
      WHERE tri NOT LIKE '% %'
      GROUP BY 1, 2
    )
    SELECT lang, tri, cnt, rn FROM (
      SELECT lang, tri, cnt,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY cnt DESC, tri) AS rn
      FROM counts
    ) WHERE rn <= 5
    ORDER BY lang, rn
    """,
    doc="character-trigram language profiles: top-5 space-free trigrams "
    "per language — the statistical foundation a production language "
    "identifier trains on (vs. the stopword heuristic of text_langid). "
    "The per-char explode feeds a combiner-friendly (lang, trigram) "
    "aggregate, so the shuffle carries distinct-trigram cardinality, and "
    "the rank window partitions by language",
    tags=("text",),
)
def text_ngram_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = spread(load_tables(spark, sf_dir)["documents"])
    grams = docs.select(
        "lang",
        F.explode(
            F.sequence(F.lit(1), F.greatest(F.length("text") - 1, F.lit(1)))
        ).alias("i"),
        F.lower(F.col("text")).alias("lt"),
    ).select("lang", F.substring(F.col("lt"), F.col("i"), 3).alias("tri"))
    counts = (
        # sequence() is end-INCLUSIVE while the oracle's range() is
        # end-exclusive: position len-1 yields a trailing 2-char gram (and
        # len<=2 docs yield sub-trigram grams) the oracle never generates —
        # keep only full trigrams so both engines count the same universe
        grams.filter(F.length("tri") == 3)
        .filter(~F.col("tri").contains(" "))
        .groupBy("lang", "tri")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy("lang").orderBy(F.col("cnt").desc(), "tri")
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .orderBy("lang", "rn")
    )


@query(
    "text_length_histogram",
    """
    SELECT CAST(length(bin(GREATEST(n_chars, 1))) - 1 AS INTEGER) AS log2_bucket,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
           MIN(n_chars) AS min_chars,
           MAX(n_chars) AS max_chars
    FROM documents
    GROUP BY 1
    ORDER BY 1
    """,
    doc="log2-bucketed document-length histogram: the corpus-shape report "
    "that drives truncation/packing decisions. One combiner-friendly "
    "aggregate; bucket ids are small integers so the shuffle carries "
    "~60 rows regardless of corpus size",
    tags=("text", "analytics"),
)
def text_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir)["documents"]
    # floor(log2(n)) as length(binary(n)) - 1: exact integer/string ops,
    # immune to the float-log ulp drift that could flip buckets at exact
    # powers of two between engines
    bucket = (
        F.length(F.bin(F.greatest(F.col("n_chars"), F.lit(1)))) - 1
    ).cast("int")
    return (
        docs.groupBy(bucket.alias("log2_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
        .orderBy("log2_bucket")
    )


# ---------------------------------------------------------------------------
# segment-level exact dedup (line/paragraph dedup à la C4/RefinedWeb)
# ---------------------------------------------------------------------------
# Sub-document exact dedup: boilerplate repeats ACROSS documents (headers,
# license blocks, navigation chrome) that whole-document fingerprints can't
# see. Production pipelines dedup at line/paragraph granularity (C4 drops
# repeated lines; RefinedWeb/Dolma run exact substring dedup); the synthetic
# corpus has no newlines, so the segment unit here is a fixed window of
# SEGMENT_LEN whitespace tokens — same plan shape, different splitter.
SEGMENT_LEN = 20


@query(
    "text_segment_dedup",
    f"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
      FROM documents
    ),
    segs AS (
      SELECT doc_id, g.i AS seg_idx,
             array_to_string(list_slice(t, g.i * {SEGMENT_LEN} + 1,
                                        g.i * {SEGMENT_LEN} + {SEGMENT_LEN}),
                             ' ') AS seg
      FROM toks,
           unnest(range(0, GREATEST((len(t) + {SEGMENT_LEN} - 1)
                                    // {SEGMENT_LEN}, 1))) AS g(i)
    ),
    ranked AS (
      SELECT doc_id,
             ROW_NUMBER() OVER (PARTITION BY md5(seg)
                                ORDER BY doc_id, seg_idx) AS rn
      FROM segs
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_segs,
           CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           ROUND(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 6)
               AS kept_frac
    FROM ranked GROUP BY doc_id ORDER BY doc_id
    """,
    doc=f"segment-level exact dedup: each document is cut into "
    f"{SEGMENT_LEN}-token windows, a segment survives only at its first "
    "corpus-wide occurrence ((doc_id, seg_idx) order), and each document "
    "reports how much of it survives. One shuffle keyed on the segment "
    "md5 (the row_number window), one on doc_id for the rollup; the "
    "segment universe, not the corpus, bounds state — this is the "
    "line-dedup shape of C4/RefinedWeb with a token-window splitter",
    tags=("text", "dedup", "curation"),
)
def text_segment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = load_tables(spark, sf_dir)["documents"]
    toks = _tokens(F.col("text"))
    # ceil(len/SEG) segments, at least one (sequence(0,-1) would descend)
    n_segs = F.greatest(
        (F.size(toks) + F.lit(SEGMENT_LEN - 1)) / F.lit(SEGMENT_LEN), F.lit(1)
    ).cast("int")
    segs = docs.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n_segs - 1),
                lambda i: F.array_join(
                    F.slice(toks, i * SEGMENT_LEN + 1, SEGMENT_LEN), " "
                ),
            )
        ).alias("seg_idx", "seg"),
    )
    w = Window.partitionBy(F.md5(F.col("seg"))).orderBy("doc_id", "seg_idx")
    return (
        segs.withColumn("rn", F.row_number().over(w))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_segs"),
            F.sum(F.when(F.col("rn") == 1, 1).otherwise(0)).alias("n_kept"),
            F.round(
                F.sum(F.when(F.col("rn") == 1, 1).otherwise(0))
                * 1.0
                / F.count(F.lit(1)),
                6,
            ).alias("kept_frac"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# vocabulary coverage curve (Zipf report)
# ---------------------------------------------------------------------------
ZIPF_KS = (10, 100, 1000)  # vocabulary sizes the coverage curve reports


@query(
    "text_zipf_coverage",
    f"""
    WITH toks AS (
      SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS token
      FROM documents
    ),
    counts AS (SELECT token, COUNT(*) AS tf FROM toks GROUP BY 1),
    total AS (SELECT CAST(SUM(tf) AS BIGINT) AS total_tf FROM counts),
    ranked AS (
      SELECT tf, ROW_NUMBER() OVER (ORDER BY tf DESC, token) AS rn
      FROM counts
    )
    SELECT k,
           CAST(SUM(CASE WHEN rn <= k THEN tf ELSE 0 END) AS BIGINT)
               AS top_tf_sum,
           ANY_VALUE(total_tf) AS total_tf,
           ROUND(SUM(CASE WHEN rn <= k THEN tf ELSE 0 END) * 1.0
                 / ANY_VALUE(total_tf), 6) AS coverage
    FROM ranked, (VALUES {', '.join(f'({k})' for k in ZIPF_KS)}) AS ks(k), total
    WHERE rn <= {max(ZIPF_KS)}
    GROUP BY k ORDER BY k
    """,
    doc="vocabulary coverage curve: what fraction of all token "
    f"occurrences the top-k tokens cover, for k in {ZIPF_KS} — the report "
    "that sizes a tokenizer vocabulary. Plan: one combiner aggregate to "
    "(token, tf) rows, TakeOrdered(max k) to a bounded candidate set, "
    "rank + coverage over those ≤1000 rows (bounded by construction, so "
    "the single-partition window is safe), one scalar total broadcast",
    tags=("text", "curation"),
)
def text_zipf_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = load_tables(spark, sf_dir)["documents"]
    counts = (
        docs.select(F.explode(_tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    total = counts.agg(F.sum("tf").alias("total_tf"))
    # TakeOrderedAndProject keeps the global sort distributed; the window
    # below ranks only the max(ZIPF_KS) surviving rows
    top = counts.orderBy(F.col("tf").desc(), "token").limit(max(ZIPF_KS))
    ranked = top.withColumn(
        "rn", F.row_number().over(Window.orderBy(F.col("tf").desc(), "token"))
    )
    ks = F.explode(F.array(*[F.lit(k) for k in ZIPF_KS])).alias("k")
    return (
        ranked.select("tf", "rn", ks)
        .groupBy("k")
        .agg(F.sum(F.when(F.col("rn") <= F.col("k"), F.col("tf")).otherwise(0)).alias("top_tf_sum"))
        .crossJoin(F.broadcast(total))
        .select(
            "k",
            "top_tf_sum",
            "total_tf",
            F.round(F.col("top_tf_sum") * 1.0 / F.col("total_tf"), 6).alias(
                "coverage"
            ),
        )
        .orderBy("k")
    )


# ---------------------------------------------------------------------------
# BPE merge candidates (tokenizer training support)
# ---------------------------------------------------------------------------
BPE_TOP_PAIRS = 20


@query(
    "text_bpe_top_pairs",
    f"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
      FROM documents
    ),
    pairs AS (
      SELECT t[g.i] || ' ' || t[g.i + 1] AS pair
      FROM toks, unnest(range(1, GREATEST(len(t), 1))) AS g(i)
    )
    SELECT pair, CAST(COUNT(*) AS BIGINT) AS cnt,
           CAST(ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, pair) AS INTEGER)
               AS rank
    FROM pairs GROUP BY pair
    ORDER BY cnt DESC, pair
    LIMIT {BPE_TOP_PAIRS}
    """,
    doc=f"BPE-style merge candidates: the {BPE_TOP_PAIRS} most frequent "
    "adjacent token pairs corpus-wide — exactly the statistic one "
    "byte-pair-encoding merge step maximizes (Sennrich et al., ACL 2016), "
    "at word granularity to match the synthetic corpus. Plan: per-doc "
    "adjacent zip via a position transform (no self-join), one "
    "combiner-friendly pair aggregate, TakeOrdered",
    tags=("text", "tokenizer"),
)
def text_bpe_top_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = spread(load_tables(spark, sf_dir)["documents"])
    toks = _tokens(F.col("text"))
    pairs = docs.select(
        F.explode(
            F.when(
                F.size(toks) >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.size(toks) - 1),
                    lambda i: F.concat_ws(
                        " ", F.element_at(toks, i), F.element_at(toks, i + 1)
                    ),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("pair")
    )
    counted = pairs.groupBy("pair").agg(F.count(F.lit(1)).alias("cnt"))
    top = counted.orderBy(F.col("cnt").desc(), "pair").limit(BPE_TOP_PAIRS)
    # rank over the already-bounded top rows (LIMIT precedes the window)
    return top.withColumn(
        "rank",
        F.row_number().over(Window.orderBy(F.col("cnt").desc(), "pair")),
    ).orderBy(F.col("cnt").desc(), "pair")


# ---------------------------------------------------------------------------
# language-ID evaluation (confusion matrix)
# ---------------------------------------------------------------------------
@query(
    "text_langid_confusion",
    None,  # generated below — reuses the langid lexicon SQL
    doc="language-ID evaluation: confusion matrix of the stopword "
    "classifier's prediction vs the labeled lang column, one row per "
    "(labeled, predicted) cell with count and row-normalized rate — the "
    "eval report that gates a classifier swap in a curation pipeline. "
    "Plan: the langid argmax plus one tiny (lang x lang) aggregate",
    tags=("text", "eval"),
)
def text_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir)["documents"]
    pred = text_langid(spark, sf_dir).select("doc_id", "predicted_lang")
    labeled = docs.select("doc_id", F.col("lang").alias("labeled_lang"))
    cells = (
        labeled.join(pred, "doc_id")
        .groupBy("labeled_lang", "predicted_lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("labeled_lang")
    return (
        cells.withColumn("row_total", F.sum("n").over(w))
        .select(
            "labeled_lang",
            "predicted_lang",
            "n",
            F.round(F.col("n") * 1.0 / F.col("row_total"), 6).alias("rate"),
        )
        .orderBy("labeled_lang", "predicted_lang")
    )


def _langid_confusion_oracle() -> str:
    base = _langid_oracle().strip().rstrip()
    # reuse the langid program as a subquery: same lexicon, same argmax
    return f"""
    WITH pred AS ({base}),
    cells AS (
      SELECT d.lang AS labeled_lang, p.predicted_lang, COUNT(*) AS n
      FROM documents d JOIN pred p ON d.doc_id = p.doc_id
      GROUP BY 1, 2
    )
    SELECT labeled_lang, predicted_lang, CAST(n AS BIGINT) AS n,
           ROUND(n * 1.0 / SUM(n) OVER (PARTITION BY labeled_lang), 6) AS rate
    FROM cells
    ORDER BY labeled_lang, predicted_lang
    """


from compass_query_optimizer_spark import registry as _registry2  # noqa: E402

_registry2._REGISTRY["text_langid_confusion"].oracle = _langid_confusion_oracle()


@query(
    "text_train_split",
    f"""
    WITH assigned AS (
      SELECT lang, n_chars,
             {duck_portable_hash("'split-' || CAST(doc_id AS VARCHAR)")} % 100
               AS bucket
      FROM documents
    )
    SELECT CASE WHEN bucket < 96 THEN 'train'
                WHEN bucket < 98 THEN 'val'
                ELSE 'test' END AS split,
           lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS n_chars_total
    FROM assigned
    GROUP BY split, lang
    ORDER BY split, lang
    """,
    doc="deterministic train/val/test split: each doc hashes to a bucket "
    "in [0,100) on its identity (portable md5 hash, bit-identical across "
    "engines and re-runs), buckets map 96/2/2 to train/val/test. Hash-based "
    "assignment is the only split that stays stable under corpus growth, "
    "re-sharding, and distributed evaluation order — no global sort, no "
    "sampling state; the plan is one scan + one small keyed aggregate, and "
    "membership for any doc is recomputable anywhere from its id alone",
    tags=("text", "split", "curation"),
)
def text_train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir)["documents"]
    bucket = (
        spark_portable_hash(
            F.concat(F.lit("split-"), F.col("doc_id").cast("string"))
        )
        % 100
    )
    split = (
        F.when(bucket < 96, "train").when(bucket < 98, "val").otherwise("test")
    )
    return (
        docs.select(split.alias("split"), "lang", "n_chars")
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("n_chars_total"),
        )
        .orderBy("split", "lang")
    )


@query(
    "text_lm_perplexity",
    """
    WITH chars AS (
      SELECT d.doc_id, d.lang, substr(lower(d.text), g.i, 1) AS ch
      FROM documents d,
           unnest(range(1, length(d.text) + 1)) AS g(i)
    ),
    cc AS (SELECT ch, COUNT(*) AS cnt FROM chars GROUP BY ch),
    tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM cc),
    nll AS (
      SELECT c.doc_id, c.lang, AVG(-ln(cc.cnt / tot.total)) AS nll
      FROM chars c JOIN cc ON c.ch = cc.ch CROSS JOIN tot
      GROUP BY c.doc_id, c.lang
    )
    SELECT lang,
           CAST(LEAST(FLOOR(nll), 9) AS INTEGER) AS nll_bucket,
           COUNT(*) AS n_docs,
           ROUND(AVG(nll), 4) AS avg_nll
    FROM nll
    GROUP BY lang, nll_bucket
    ORDER BY lang, nll_bucket
    """,
    doc="LM-based quality scoring (the CCNet/Gopher perplexity filter "
    "shape): a char-unigram language model trained on the corpus itself, "
    "each doc scored by average negative log-likelihood, docs bucketed by "
    "floor(nll) into head/middle/tail quality bands. Scale shape: the "
    "char explode feeds a ~100-row (char, count) aggregate that "
    "broadcasts back; per-doc scores reduce map-side (combiner-friendly "
    "avg keyed by doc), so no shuffle ever carries char-level rows; "
    "bucket ids are small ints so the final aggregate is tiny. Floats "
    "cross engines: p(c) divides exact integers, bucket edges are "
    "integers (ulp-safe), group averages rounded to 4",
    tags=("text", "quality", "lm"),
)
def text_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the char explode multiplies each doc into ~n_chars rows; a narrow
    # single-split scan would run that on one core — widen first
    docs = spread(load_tables(spark, sf_dir)["documents"])
    chars = (
        docs.select("doc_id", "lang", F.lower(F.col("text")).alias("lt"))
        .select(
            "doc_id",
            "lang",
            F.explode(char_positions(F.col("lt"))).alias("i"),
            "lt",
        )
        .select(
            "doc_id", "lang", F.substring(F.col("lt"), F.col("i"), 1).alias("ch")
        )
    )
    cc = chars.groupBy("ch").agg(F.count(F.lit(1)).alias("cnt"))
    tot = cc.agg(F.sum("cnt").cast("long").alias("total"))
    nll = (
        chars.join(F.broadcast(cc), "ch")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id", "lang")
        .agg(F.avg(-F.log(F.col("cnt") / F.col("total"))).alias("nll"))
    )
    return (
        nll.groupBy(
            "lang",
            F.least(F.floor("nll"), F.lit(9)).cast("int").alias("nll_bucket"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("nll"), 4).alias("avg_nll"),
        )
        .orderBy("lang", "nll_bucket")
    )


@query(
    "text_chunk",
    """
    WITH chunks AS (
      SELECT d.doc_id, length(substr(d.text, g.i, 256)) AS chunk_len
      FROM documents d,
           unnest(range(1, length(d.text) + 1, 192)) AS g(i)
    ),
    per_doc AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks,
             CAST(SUM(chunk_len) AS BIGINT) AS chunk_chars
      FROM chunks GROUP BY doc_id
    )
    SELECT n_chunks, COUNT(*) AS n_docs,
           CAST(SUM(chunk_chars) AS BIGINT) AS total_chunk_chars
    FROM per_doc GROUP BY n_chunks ORDER BY n_chunks
    """,
    doc="overlapping document chunking (256-char windows, stride 192 — "
    "the RAG/embedding preprocessing shape): chunk starts come from a "
    "stepped sequence (Spark sequence() end-inclusive == DuckDB range() "
    "end-exclusive on +1, both stepped), per-doc chunk counts roll into a "
    "chunks-per-doc histogram. Chunking is a map-side explode — chunk "
    "text never crosses an exchange; the shuffles carry per-doc counter "
    "pairs and then histogram cells",
    tags=("text", "chunking"),
)
def text_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir)["documents"]
    chunks = docs.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(1), F.length("text"), F.lit(192))
        ).alias("i"),
        "text",
    ).select(
        "doc_id",
        F.length(F.substring(F.col("text"), F.col("i"), 256)).alias("chunk_len"),
    )
    per_doc = chunks.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum("chunk_len").alias("chunk_chars"),
    )
    return (
        per_doc.groupBy("n_chunks")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("chunk_chars").alias("total_chunk_chars"),
        )
        .orderBy("n_chunks")
    )


DSIR_BUCKETS = 256  # hashed char-bigram feature space


@query(
    "text_dsir_weights",
    f"""
    WITH grams AS (
      SELECT d.doc_id, d.lang,
             {duck_portable_hash("substr(lower(d.text), g.i, 2)")}
               % {DSIR_BUCKETS} AS b
      FROM documents d,
           unnest(range(1, length(d.text))) AS g(i)
    ),
    tgt AS (SELECT b, COUNT(*) AS cnt FROM grams WHERE lang = 'en' GROUP BY b),
    raw AS (SELECT b, COUNT(*) AS cnt FROM grams GROUP BY b),
    tt AS (SELECT CAST(SUM(cnt) AS BIGINT) AS tot FROM tgt),
    rt AS (SELECT CAST(SUM(cnt) AS BIGINT) AS tot FROM raw),
    w AS (
      SELECT g.doc_id, g.lang,
             SUM(ln((COALESCE(t.cnt, 0) + 1) * 1.0 / (tt.tot + {DSIR_BUCKETS}))
               - ln((r.cnt + 1) * 1.0 / (rt.tot + {DSIR_BUCKETS}))) AS w
      FROM grams g
      LEFT JOIN tgt t USING (b)
      JOIN raw r USING (b)
      CROSS JOIN tt CROSS JOIN rt
      GROUP BY g.doc_id, g.lang
    )
    SELECT lang, COUNT(*) AS n_docs,
           ROUND(AVG(w), 4) AS avg_weight,
           ROUND(MIN(w), 2) AS min_weight,
           ROUND(MAX(w), 2) AS max_weight
    FROM w GROUP BY lang ORDER BY lang
    """,
    doc="DSIR importance weights (Xie et al., 'Data Selection for Language "
    "Models via Importance Resampling', NeurIPS 2023): hashed char-bigram "
    "bag-of-ngrams features, add-1-smoothed unigram models for the target "
    "(lang='en') and raw distributions, per-doc weight = log-likelihood "
    "ratio — the score DSIR resamples by. Scale shape: both models are "
    f"{DSIR_BUCKETS}-bucket aggregates broadcast back to the scoring "
    "scan; per-doc sums reduce map-side; bigram rows never shuffle. "
    "Smoothed probabilities divide exact integers, so both engines "
    "compute identical log inputs",
    tags=("text", "curation", "dsir"),
)
def text_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_tables(spark, sf_dir)["documents"])
    grams = (
        docs.select("doc_id", "lang", F.lower(F.col("text")).alias("lt"))
        .select(
            "doc_id",
            "lang",
            F.explode(char_positions(F.col("lt"), last_offset=-1)).alias("i"),
            "lt",
        )
        .select(
            "doc_id",
            "lang",
            (
                spark_portable_hash(F.substring(F.col("lt"), F.col("i"), 2))
                % DSIR_BUCKETS
            ).alias("b"),
        )
    )
    tgt = grams.filter(F.col("lang") == "en").groupBy("b").agg(
        F.count(F.lit(1)).alias("t_cnt")
    )
    raw = grams.groupBy("b").agg(F.count(F.lit(1)).alias("r_cnt"))
    tt = tgt.agg(F.sum("t_cnt").cast("long").alias("t_tot"))
    rt = raw.agg(F.sum("r_cnt").cast("long").alias("r_tot"))
    term = F.log(
        (F.coalesce(F.col("t_cnt"), F.lit(0)) + 1)
        * 1.0
        / (F.col("t_tot") + DSIR_BUCKETS)
    ) - F.log((F.col("r_cnt") + 1) * 1.0 / (F.col("r_tot") + DSIR_BUCKETS))
    w = (
        grams.join(F.broadcast(tgt), "b", "left")
        .join(F.broadcast(raw), "b")
        .crossJoin(F.broadcast(tt))
        .crossJoin(F.broadcast(rt))
        .groupBy("doc_id", "lang")
        .agg(F.sum(term).alias("w"))
    )
    return (
        w.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("w"), 4).alias("avg_weight"),
            F.round(F.min("w"), 2).alias("min_weight"),
            F.round(F.max("w"), 2).alias("max_weight"),
        )
        .orderBy("lang")
    )


# Count-min sketch (Cormode & Muthukrishnan, J. Algorithms 2005) heavy
# hitters: d=4 pairwise-independent rows x w=512 buckets. Estimates never
# undercount; overcount is bounded by colliding mass, so the gate checks
# true <= est <= true + slack*N/w with generous slack for the 4-row min.
CMS_ROWS = 4
CMS_WIDTH = 512
CMS_TOPK = 20
CMS_SLACK = 8


@query(
    "text_heavy_hitters_cms",
    f"""
    WITH toks AS (
      SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS token
      FROM documents
    ),
    exact AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt FROM toks GROUP BY token)
    SELECT token, cnt, TRUE AS within_bound
    FROM exact ORDER BY cnt DESC, token LIMIT {CMS_TOPK}
    """,
    doc="count-min-sketch heavy hitters (Cormode & Muthukrishnan 2005): "
    f"a {CMS_ROWS}x{CMS_WIDTH} CMS built as ONE groupBy over (row, "
    "bucket) cells — a mergeable, fixed-size summary any executor "
    "topology can combine — then the top tokens' estimates checked "
    "in-engine against the CMS guarantee (never undercounts; overcount "
    "bounded by colliding mass). Oracle = exact counts + TRUE, the same "
    "exact-plus-bound gate as approx_count_distinct (q11). At 100 TB the "
    "sketch is 2048 cells regardless of vocabulary size — the point of "
    "CMS over exact counting when only heavy hitters matter",
    tags=("text", "sketch", "approx"),
)
def text_heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from compass_query_optimizer_spark.functions.hashing import (
        cw_params,
        spark_cw_hash,
    )

    docs = spread(load_tables(spark, sf_dir)["documents"])
    toks = docs.select(F.explode(_tokens(F.col("text"))).alias("token"))
    g = (spark_portable_hash(F.col("token")) % F.lit(P31)).alias("g")
    hashed = toks.select("token", g)
    params = cw_params(CMS_ROWS, salt="cms")

    # ONE pass builds all d rows: explode the token into its d (row,
    # bucket) targets, then a single combiner-friendly aggregate
    cells = (
        hashed.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(r).alias("r"),
                            (spark_cw_hash(F.col("g"), a, b) % CMS_WIDTH).alias(
                                "bucket"
                            ),
                        )
                        for r, (a, b) in enumerate(params)
                    ]
                )
            ).alias("rb")
        )
        .groupBy(F.col("rb.r").alias("r"), F.col("rb.bucket").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("cell"))
    )

    exact = hashed.groupBy("token", "g").agg(F.count(F.lit(1)).alias("cnt"))
    top = exact.orderBy(F.col("cnt").desc(), "token").limit(CMS_TOPK)
    total = toks.agg(F.count(F.lit(1)).alias("n_tokens"))

    # estimate = min over rows of the candidate's cell
    cand = top.select(
        "token",
        "cnt",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("r"),
                        (spark_cw_hash(F.col("g"), a, b) % CMS_WIDTH).alias(
                            "bucket"
                        ),
                    )
                    for r, (a, b) in enumerate(params)
                ]
            )
        ).alias("rb"),
    ).select("token", "cnt", F.col("rb.r").alias("r"), F.col("rb.bucket").alias("bucket"))
    est = (
        cand.join(F.broadcast(cells), ["r", "bucket"])
        .groupBy("token", "cnt")
        .agg(F.min("cell").alias("est"))
    )
    return (
        est.crossJoin(F.broadcast(total))
        .select(
            "token",
            "cnt",
            (
                (F.col("est") >= F.col("cnt"))
                & (
                    F.col("est")
                    <= F.col("cnt")
                    + F.lit(CMS_SLACK) * F.col("n_tokens") / F.lit(CMS_WIDTH)
                )
            ).alias("within_bound"),
        )
        .orderBy(F.col("cnt").desc(), "token")
    )


# ---------------------------------------------------------------------------
# winnowing fingerprints (Schleimer, Wilkerson & Aiken, SIGMOD'03 — the MOSS
# algorithm): hash every K-char gram, slide a W-hash window, keep each
# window's minimum. Guarantees any shared substring of length >= K+W-1
# produces a shared fingerprint, while storing only ~2/(W+1) of the gram
# hashes — the classic local dedup/plagiarism index.
# ---------------------------------------------------------------------------
WINNOW_K = 8     # gram width (chars)
WINNOW_W = 4     # hashes per winnowing window
WINNOW_MAX_DF = 10   # drop fingerprints shared by more docs (stop-grams)
WINNOW_MIN_SHARED = 2  # report pairs sharing at least this many prints


@query(
    "text_winnowing",
    f"""
    WITH base AS (
      SELECT doc_id, LOWER(text) AS lt FROM documents
    ),
    hashes AS (
      SELECT doc_id,
             list_transform(
               range(1, GREATEST(len(lt) - {WINNOW_K} + 1, 0) + 1),
               i -> {duck_portable_hash(f"substr(lt, i, {WINNOW_K})")}
             ) AS hs
      FROM base
    ),
    prints AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, GREATEST(len(hs) - {WINNOW_W} + 1, 0) + 1),
               j -> list_min(hs[j:j + {WINNOW_W} - 1])
             )) AS fps
      FROM hashes
    ),
    fp AS (
      SELECT doc_id, UNNEST(fps) AS fp FROM prints
    ),
    rare AS (
      SELECT fp FROM fp GROUP BY fp HAVING COUNT(*) <= {WINNOW_MAX_DF}
    ),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared_fps
      FROM fp a
      JOIN fp b ON a.fp = b.fp AND a.doc_id < b.doc_id
      WHERE a.fp IN (SELECT fp FROM rare)
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT id_a, id_b, shared_fps FROM pairs
    WHERE shared_fps >= {WINNOW_MIN_SHARED}
    ORDER BY id_a, id_b
    """,
    doc="winnowing fingerprint near-dup candidates (Schleimer et al., "
    f"SIGMOD'03): {WINNOW_K}-char gram hashes, window-of-{WINNOW_W} "
    "minima, distinct per doc — any shared run of >= "
    f"{WINNOW_K + WINNOW_W - 1} chars yields a shared print. Gram "
    "hashing is a codegen explode projected to (doc, pos, hash) in the "
    "scan stage; the window minimum is a doc-keyed sliding frame; then "
    f"a fingerprint-keyed equi-join bounded by a df <= {WINNOW_MAX_DF} "
    "stop-gram filter caps per-key fan-out at any corpus size (the "
    "hot-key guard PPJoin gets from prefix filtering)",
    tags=("text", "dedup", "winnowing"),
)
def text_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    return winnow_pairs(spread(load_tables(spark, sf_dir)["documents"]))


def winnow_pairs(docs: DataFrame) -> DataFrame:
    """Winnowing near-dup candidate pairs over a (doc_id, text) frame.

    Guarantee (Schleimer et al., SIGMOD'03 §2): any substring shared by
    two documents of length >= WINNOW_K + WINNOW_W - 1 chars contains at
    least one full gram window, whose minimum hash both documents select
    — so the pair shares a fingerprint (tests/test_dedup_baseline.py
    pins this on hand-built docs).

    Gram hashing runs on EXPLODED positions, not inside an array
    higher-order transform: HOF lambdas are interpreted expression eval
    (no whole-stage codegen), and ~1.5k md5s per doc that way measured
    189 s at sf0.01 vs ~4 s for this codegen explode (the
    _plane_dot_codes lesson). The exploded rows project down to
    (doc_id, i, 48-bit hash) in the scan stage — gram text never
    crosses an exchange.
    """
    # materialized once: three consumers (the df filter + both join sides)
    # would otherwise each re-run the gram scan + window + distinct
    fp = winnow_fingerprints(docs).localCheckpoint(eager=False)
    rare = fp.groupBy("fp").agg(F.count(F.lit(1)).alias("df")).filter(
        F.col("df") <= WINNOW_MAX_DF
    )
    kept = fp.join(rare.select("fp"), "fp")
    a = kept.select(F.col("doc_id").alias("id_a"), "fp")
    b = kept.select(F.col("doc_id").alias("id_b"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("shared_fps"))
        .filter(F.col("shared_fps") >= WINNOW_MIN_SHARED)
        .orderBy("id_a", "id_b")
    )


def winnow_fingerprints(docs: DataFrame) -> DataFrame:
    """Distinct winnowing fingerprints per doc: (doc_id, fp).

    The theorem surface (property-tested in tests/test_properties.py):
    two docs sharing any run of >= WINNOW_K + WINNOW_W - 1 chars have
    intersecting fingerprint sets."""
    from pyspark.sql.window import Window

    lowered = docs.select("doc_id", F.lower(F.col("text")).alias("lt"))
    grams = lowered.select(
        "doc_id",
        F.explode(
            char_positions(F.col("lt"), last_offset=-(WINNOW_K - 1))
        ).alias("i"),
        "lt",
    ).select(
        "doc_id",
        "i",
        spark_portable_hash(
            F.substring(F.col("lt"), F.col("i"), WINNOW_K)
        ).alias("h"),
    )
    # winnowing minimum per sliding window, doc-keyed (no SinglePartition):
    # frame = this gram + the next W-1; frames that run off the doc's end
    # (fewer than W rows) are not windows and are dropped via the count
    w = Window.partitionBy("doc_id").orderBy("i").rowsBetween(
        Window.currentRow, WINNOW_W - 1
    )
    return (
        grams.select(
            "doc_id",
            F.min("h").over(w).alias("fp"),
            F.count(F.lit(1)).over(w).alias("nf"),
        )
        .filter(F.col("nf") == WINNOW_W)
        .select("doc_id", "fp")
        .distinct()
    )


# ---------------------------------------------------------------------------
# Token-distribution drift (KL divergence) between corpus slices.
#
# The curation question "did this month's crawl shift vocabulary?" reduces to
# D_KL(P_slice || P_corpus) over token distributions. The naive computation
# needs every (slice, vocab-token) pair — a slice x vocabulary cross join.
# This implementation only shuffles OBSERVED (slice, token) pairs and closes
# the gap over unseen tokens with an exact algebraic correction:
#
#   with Laplace smoothing p_l(t) = (c_lt + 1) / (n_l + V) over the corpus
#   vocabulary V, every token unseen in slice l contributes
#   p0 * (ln p0 - ln P_c(t)) where p0 = 1/(n_l + V). Summed over the unseen
#   set, sum(ln P_c(t)) = S_all - S_seen_l, where S_all = sum over the WHOLE
#   vocabulary of ln P_c(t) is one corpus-wide scalar. So
#
#   KL_l = sum_seen[p_lt (ln p_lt - ln P_c)]                 (observed pairs)
#        + p0 * (V - V_l) * ln p0 - p0 * (S_all - S_seen_l)  (closed form)
#
# Shuffle inventory at 100 TB: one explode -> (lang, token) combiner agg,
# one (token) agg, one token-keyed join between them; the scalars
# (n_total, V, S_all) broadcast. Nothing is slice x vocabulary.
# ---------------------------------------------------------------------------


@query(
    "text_kl_drift",
    rf"""
    WITH toks AS (
      SELECT lang, unnest(regexp_extract_all(lower(text), '{_TOKEN_RE}')) AS token
      FROM documents
    ),
    ct AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS c_t FROM toks GROUP BY token),
    tot AS (
      SELECT CAST(SUM(c_t) AS BIGINT) AS n_total,
             CAST(COUNT(*) AS BIGINT) AS v,
             SUM(LN(c_t)) - COUNT(*) * LN(CAST(SUM(c_t) AS DOUBLE)) AS s_all
      FROM ct
    ),
    lt AS (
      SELECT lang, token, CAST(COUNT(*) AS BIGINT) AS c_lt
      FROM toks GROUP BY lang, token
    ),
    langtot AS (
      SELECT lang, CAST(SUM(c_lt) AS BIGINT) AS n_l,
             CAST(COUNT(*) AS BIGINT) AS v_l
      FROM lt GROUP BY lang
    ),
    seen AS (
      SELECT l.lang,
             SUM(((l.c_lt + 1.0) / (g.n_l + t.v))
                 * (LN((l.c_lt + 1.0) / (g.n_l + t.v))
                    - LN(c.c_t * 1.0 / t.n_total))) AS kl_seen,
             SUM(LN(c.c_t * 1.0 / t.n_total)) AS s_seen
      FROM lt l JOIN ct c USING (token)
      JOIN langtot g USING (lang) CROSS JOIN tot t
      GROUP BY l.lang
    )
    SELECT g.lang, g.n_l AS n_tokens, g.v_l AS vocab_seen,
           ROUND(s.kl_seen
                 + (1.0 / (g.n_l + t.v)) * (t.v - g.v_l) * LN(1.0 / (g.n_l + t.v))
                 - (1.0 / (g.n_l + t.v)) * (t.s_all - s.s_seen), 4) AS kl
    FROM langtot g JOIN seen s USING (lang) CROSS JOIN tot t
    ORDER BY g.lang
    """,
    doc="token-distribution drift: per-lang KL(P_lang || P_corpus) with "
    "Laplace smoothing over the corpus vocabulary. Only OBSERVED (lang, "
    "token) pairs shuffle; the unseen-token mass folds into a closed-form "
    "correction via one corpus scalar S_all = sum ln P_c(t) — the "
    "slice x vocabulary cross join the textbook formula implies never "
    "materializes (the `text_contamination` broadcast-not-shuffle "
    "discipline applied to divergence)",
    tags=("text", "curation", "drift"),
)
def text_kl_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_tables(spark, sf_dir)["documents"])
    toks = docs.select(
        "lang", F.explode(_re_tokens(F.col("text"))).alias("token")
    )
    ct = toks.groupBy("token").agg(F.count(F.lit(1)).alias("c_t"))
    # one corpus scalar row: total mass, vocabulary size, S_all.
    # ln P_c(t) = ln c_t - ln n_total, so S_all = sum(ln c_t) - V ln n_total
    # — computable in the SAME aggregate that produces n_total
    tot = ct.agg(
        F.sum("c_t").cast("long").alias("n_total"),
        F.count(F.lit(1)).cast("long").alias("v"),
        F.sum(F.log("c_t")).alias("sum_ln_ct"),
    ).select(
        "n_total",
        "v",
        (F.col("sum_ln_ct") - F.col("v") * F.log(F.col("n_total").cast("double"))).alias("s_all"),
    )
    lt = toks.groupBy("lang", "token").agg(F.count(F.lit(1)).alias("c_lt"))
    langtot = lt.groupBy("lang").agg(
        F.sum("c_lt").cast("long").alias("n_l"),
        F.count(F.lit(1)).cast("long").alias("v_l"),
    )
    p_lt = (F.col("c_lt") + 1.0) / (F.col("n_l") + F.col("v"))
    ln_pc = F.log(F.col("c_t") * 1.0 / F.col("n_total"))
    seen = (
        lt.join(ct, "token")
        .join(F.broadcast(langtot), "lang")
        .crossJoin(F.broadcast(tot))
        .groupBy("lang")
        .agg(
            F.sum(p_lt * (F.log(p_lt) - ln_pc)).alias("kl_seen"),
            F.sum(ln_pc).alias("s_seen"),
        )
    )
    p0 = 1.0 / (F.col("n_l") + F.col("v"))
    return (
        langtot.join(seen, "lang")
        .crossJoin(F.broadcast(tot))
        .select(
            "lang",
            F.col("n_l").alias("n_tokens"),
            F.col("v_l").alias("vocab_seen"),
            F.round(
                F.col("kl_seen")
                + p0 * (F.col("v") - F.col("v_l")) * F.log(p0)
                - p0 * (F.col("s_all") - F.col("s_seen")),
                4,
            ).alias("kl"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Hashing-trick linear classifier inference (the fastText-shaped quality
# gate): tokens hash into CLF_BUCKETS feature buckets, each bucket carries a
# deterministic weight, a document's score is the exact-int64 sum of its
# token-bucket weights. Weights here are hash-derived stand-ins (the
# container has no model artifacts); swapping in trained weights changes
# only the 4096-row weight table, not the plan.
# ---------------------------------------------------------------------------

CLF_BUCKETS = 4096
CLF_WEIGHT_SPAN = 2001  # weights in [-1000, 1000], fixed-point /1000


@query(
    "text_hash_classifier",
    rf"""
    WITH wt AS (
      SELECT b, ({duck_portable_hash("'clf-w-' || CAST(b AS VARCHAR)")}
                 % {CLF_WEIGHT_SPAN}) - 1000 AS w
      FROM (SELECT unnest(range(0, {CLF_BUCKETS})) AS b)
    ),
    toks AS (
      SELECT doc_id, lang,
             unnest(regexp_extract_all(lower(text), '{_TOKEN_RE}')) AS token
      FROM documents
    ),
    bt AS (
      SELECT doc_id, lang,
             {duck_portable_hash('token')} % {CLF_BUCKETS} AS b
      FROM toks
    ),
    ds AS (
      SELECT doc_id, ANY_VALUE(lang) AS lang,
             CAST(SUM(w.w) AS BIGINT) AS score
      FROM bt JOIN wt w USING (b) GROUP BY doc_id
    )
    SELECT lang,
           CASE WHEN score >= 0 THEN 'pos' ELSE 'neg' END AS pred,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(score) AS BIGINT) AS sum_score,
           ROUND(SUM(score) / (1000.0 * COUNT(*)), 4) AS avg_margin
    FROM ds GROUP BY 1, 2 ORDER BY 1, 2
    """,
    doc="hashing-trick linear classifier inference (fastText/Vowpal-Wabbit "
    f"shape): tokens hash into {CLF_BUCKETS} buckets, the bucket->weight "
    "table is built by expression over spark.range and BROADCAST (a real "
    "model's weight vector ships the same way), per-doc score = exact "
    "int64 sum of matched weights so the differential gate needs no float "
    "tolerance. Plan: one md5/token scan, broadcast weight join, "
    "combiner-friendly doc agg -> (lang, pred) rollup; the corpus never "
    "shuffles token rows by weight",
    tags=("text", "curation", "inference"),
)
def text_hash_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_tables(spark, sf_dir)["documents"])
    wt = spark.range(CLF_BUCKETS).select(
        F.col("id").alias("b"),
        (
            spark_portable_hash(
                F.concat(F.lit("clf-w-"), F.col("id").cast("string"))
            )
            % CLF_WEIGHT_SPAN
            - 1000
        ).alias("w"),
    )
    bt = docs.select(
        "doc_id",
        "lang",
        F.explode(_re_tokens(F.col("text"))).alias("token"),
    ).select(
        "doc_id", "lang", (spark_portable_hash(F.col("token")) % CLF_BUCKETS).alias("b")
    )
    ds = (
        bt.join(F.broadcast(wt), "b")
        .groupBy("doc_id")
        .agg(F.first("lang").alias("lang"), F.sum("w").cast("long").alias("score"))
    )
    return (
        ds.select(
            "lang",
            F.when(F.col("score") >= 0, F.lit("pos")).otherwise(F.lit("neg")).alias("pred"),
            "score",
        )
        .groupBy("lang", "pred")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("score").cast("long").alias("sum_score"),
        )
        .select(
            "lang",
            "pred",
            "n_docs",
            "sum_score",
            F.round(F.col("sum_score") / (1000.0 * F.col("n_docs")), 4).alias(
                "avg_margin"
            ),
        )
        .orderBy("lang", "pred")
    )


# ---------------------------------------------------------------------------
# Weighted sampling without replacement (Efraimidis & Spirakis, IPL 2006):
# each doc draws a deterministic uniform u from its id hash and competes
# with key = u^(1/w); the top-k keys are EXACTLY a weight-proportional
# sample without replacement. Ranking by ln(u)/w is the same order with
# one transcendental. One scan + one TakeOrdered — no shuffle of bodies,
# no rejection loop, and the sample is reproducible under re-sharding
# because the randomness is keyed to doc identity, not partition order.
# ---------------------------------------------------------------------------

WRS_K = 50  # sample size
_WRS_U48 = float(1 << 48)


@query(
    "text_weighted_sample",
    rf"""
    WITH keyed AS (
      SELECT doc_id, lang, n_chars,
             LN(({duck_portable_hash("'wrs-' || CAST(doc_id AS VARCHAR)")} + 1.0)
                / {_WRS_U48}) / n_chars AS k
      FROM documents WHERE n_chars > 0
    )
    SELECT doc_id, lang, n_chars, ROUND(k * 1000000, 2) AS key_e6
    FROM keyed ORDER BY k DESC, doc_id LIMIT {WRS_K}
    """,
    doc="weighted sampling without replacement (Efraimidis-Spirakis A-ES): "
    "deterministic per-doc uniform from the id hash, key = ln(u)/weight "
    f"(weight = n_chars, so longer docs are proportionally likelier), "
    f"top-{WRS_K} keys win. One scan + TakeOrdered — the sample is "
    "reproducible under corpus growth and re-sharding because randomness "
    "keys on doc identity; the standard quality-weighted downsample for "
    "training mixes",
    tags=("text", "curation", "sampling"),
)
def text_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_tables(spark, sf_dir)["documents"]).filter(
        F.col("n_chars") > 0
    )
    u = (
        spark_portable_hash(
            F.concat(F.lit("wrs-"), F.col("doc_id").cast("string"))
        )
        + 1.0
    ) / _WRS_U48
    k = F.log(u) / F.col("n_chars")
    return (
        docs.select("doc_id", "lang", "n_chars", k.alias("k"))
        .orderBy(F.col("k").desc(), "doc_id")
        .limit(WRS_K)
        .select(
            "doc_id",
            "lang",
            "n_chars",
            F.round(F.col("k") * 1e6, 2).alias("key_e6"),
        )
    )


# ---------------------------------------------------------------------------
# Per-document n-gram novelty: what fraction of a doc's distinct word
# 3-shingles appears in NO other document. Low novelty marks boilerplate
# and template text that survives exact dedup; the inverse signal of
# text_segment_dedup's duplicate fraction.
# ---------------------------------------------------------------------------


@query(
    "text_ngram_novelty",
    r"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS tok
      FROM documents
    ),
    shingles AS (
      SELECT DISTINCT doc_id,
             tok[s.i] || ' ' || tok[s.i+1] || ' ' || tok[s.i+2] AS shingle
      FROM toks, UNNEST(range(1, greatest(len(tok) - 1, 1))) AS s(i)
    ),
    df AS (
      SELECT shingle, COUNT(*) AS n_docs FROM shingles GROUP BY shingle
    )
    SELECT s.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(SUM(CASE WHEN d.n_docs = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_unique,
           ROUND(SUM(CASE WHEN d.n_docs = 1 THEN 1 ELSE 0 END) * 1.0
                 / COUNT(*), 6) AS novelty
    FROM shingles s JOIN df d USING (shingle)
    GROUP BY s.doc_id
    ORDER BY s.doc_id
    """,
    doc="per-doc n-gram novelty: fraction of the doc's distinct word "
    "3-shingles with corpus document-frequency 1 — the boilerplate/"
    "template detector that catches what exact dedup can't (docs sharing "
    "phrases, not bodies). Shingles reuse the MinHash shingle pass; two "
    "keyed shuffles (shingle df, doc rollup), both combiner-friendly, "
    "shingle strings hash-partition so no key is corpus-wide",
    tags=("text", "curation", "dedup"),
)
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    from compass_query_optimizer_spark.operators.dedup import _spark_shingles

    docs = load_tables(spark, sf_dir)["documents"]
    sh = _spark_shingles(docs)  # (doc_id, shingle) distinct per doc
    df = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        sh.join(df, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.when(F.col("n_docs") == 1, 1).otherwise(0)).alias("n_unique"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_unique",
            F.round(F.col("n_unique") * 1.0 / F.col("n_shingles"), 6).alias(
                "novelty"
            ),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Curriculum staging: assign each doc a training stage by quality quartile
# within its language (curriculum learning orders data easy→hard; the
# batch-side operation is exactly a keyed NTILE). The score here is
# integer lexical diversity (uniq_tokens·1000 / n_tokens) so the ordering
# is engine-exact; a real pipeline swaps in any scalar quality column and
# the plan is unchanged.
# ---------------------------------------------------------------------------


@query(
    "text_curriculum_stages",
    rf"""
    WITH scored AS (
      SELECT doc_id, lang,
             CAST(len(list_distinct(regexp_extract_all(lower(text), '{_TOKEN_RE}')))
                  * 1000 // GREATEST(len(regexp_extract_all(lower(text), '{_TOKEN_RE}')), 1)
                  AS BIGINT) AS score
      FROM documents
    ),
    staged AS (
      SELECT lang, score,
             NTILE(4) OVER (PARTITION BY lang ORDER BY score, doc_id) AS stage
      FROM scored
    )
    SELECT lang, CAST(stage AS INTEGER) AS stage,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(score) AS BIGINT) AS min_score,
           CAST(MAX(score) AS BIGINT) AS max_score
    FROM staged GROUP BY lang, stage ORDER BY lang, stage
    """,
    doc="curriculum staging: quality-quartile assignment per language via "
    "a lang-keyed NTILE(4) over an integer lexical-diversity score "
    "(uniq·1000/n, exact integer division, doc_id tie-break — identical "
    "bucket boundaries in both engines). The window partitions by lang, "
    "so at 100 TB work spreads across languages with no global sort; "
    "swapping in a model-based quality column leaves the plan unchanged",
    tags=("text", "curation", "curriculum"),
)
def text_curriculum_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = spread(load_tables(spark, sf_dir)["documents"])
    toks = _re_tokens(F.col("text"))
    scored = docs.select(
        "doc_id",
        "lang",
        F.call_function(
            "div",
            (F.size(F.array_distinct(toks)) * 1000).cast("long"),
            F.greatest(F.size(toks), F.lit(1)).cast("long"),
        ).alias("score"),
    )
    w = Window.partitionBy("lang").orderBy("score", "doc_id")
    return (
        scored.withColumn("stage", F.ntile(4).over(w))
        .groupBy("lang", "stage")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("score").alias("min_score"),
            F.max("score").alias("max_score"),
        )
        .orderBy("lang", "stage")
    )


# ---------------------------------------------------------------------------
# Epoch budgeting for data-constrained training (Muennighoff et al.,
# NeurIPS 2023, "Scaling Data-Constrained Language Models" — public):
# when the token budget exceeds the corpus, sources repeat — but value
# decays past ~4 epochs, so the planner caps repetition and reports the
# shortfall. All arithmetic is exact integer (ceil-division), so the
# allocation is engine- and partitioning-independent.
# ---------------------------------------------------------------------------

EPOCH_BUDGET_MULT = 2  # token budget = 2x the corpus
EPOCH_CAP = 4  # max useful epochs per source


@query(
    "text_epoch_budget",
    rf"""
    WITH avail AS (
      SELECT source,
             CAST(SUM(len(regexp_extract_all(lower(text), '{_TOKEN_RE}'))) AS BIGINT)
                 AS avail_tokens
      FROM documents GROUP BY source
    ),
    tot AS (
      SELECT CAST(SUM(avail_tokens) * {EPOCH_BUDGET_MULT} AS BIGINT) AS budget,
             CAST(COUNT(*) AS BIGINT) AS n_sources
      FROM avail
    ),
    alloc AS (
      SELECT a.source, a.avail_tokens,
             t.budget // t.n_sources AS share,
             LEAST({EPOCH_CAP},
                   CAST((t.budget // t.n_sources + a.avail_tokens - 1)
                        // a.avail_tokens AS BIGINT)) AS epochs
      FROM avail a CROSS JOIN tot t
    )
    SELECT source, avail_tokens, CAST(epochs AS INTEGER) AS epochs,
           LEAST(share, avail_tokens * epochs) AS allocated_tokens,
           GREATEST(share - avail_tokens * {EPOCH_CAP}, 0) AS shortfall_tokens
    FROM alloc ORDER BY source
    """,
    doc="epoch budgeting for data-constrained training (Muennighoff et al. "
    f"NeurIPS'23): a {EPOCH_BUDGET_MULT}x-corpus token budget splits "
    "evenly across sources; each source repeats up to ceil(share/avail) "
    f"epochs capped at {EPOCH_CAP} (value decays past ~4 epochs), and the "
    "unfillable remainder reports as shortfall — the number that tells a "
    "corpus owner WHERE to collect more data. One token-count aggregate "
    "per source + a broadcast scalar; exact integer ceil-division "
    "throughout",
    tags=("text", "curation", "planning"),
)
def text_epoch_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_tables(spark, sf_dir)["documents"])
    avail = docs.groupBy("source").agg(
        F.sum(F.size(_re_tokens(F.col("text")))).cast("long").alias("avail_tokens")
    )
    tot = avail.agg(
        (F.sum("avail_tokens") * EPOCH_BUDGET_MULT).cast("long").alias("budget"),
        F.count(F.lit(1)).cast("long").alias("n_sources"),
    )
    share = F.call_function("div", F.col("budget"), F.col("n_sources"))
    epochs = F.least(
        F.lit(EPOCH_CAP).cast("long"),
        F.call_function(
            "div",
            share + F.col("avail_tokens") - 1,
            F.col("avail_tokens"),
        ),
    )
    return (
        avail.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "avail_tokens",
            share.alias("share"),
            epochs.alias("epochs_l"),
        )
        .select(
            "source",
            "avail_tokens",
            F.col("epochs_l").cast("int").alias("epochs"),
            F.least(
                F.col("share"), F.col("avail_tokens") * F.col("epochs_l")
            ).alias("allocated_tokens"),
            F.greatest(
                F.col("share") - F.col("avail_tokens") * EPOCH_CAP, F.lit(0).cast("long")
            ).alias("shortfall_tokens"),
        )
        .orderBy("source")
    )


@query(
    "text_source_lang_entropy",
    """
    WITH cnt AS (
      SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n
      FROM documents GROUP BY source, lang
    ),
    tot AS (SELECT source, CAST(SUM(n) AS BIGINT) AS t FROM cnt GROUP BY source)
    SELECT c.source, ANY_VALUE(t.t) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_langs,
           ROUND(-SUM((c.n * 1.0 / t.t) * LN(c.n * 1.0 / t.t)), 4) AS lang_entropy
    FROM cnt c JOIN tot t USING (source)
    GROUP BY c.source ORDER BY c.source
    """,
    doc="per-source language-mix entropy: a crawl source whose language "
    "distribution suddenly widens (entropy up) or collapses (entropy "
    "down) changed its nature — the drift tripwire run per ingest batch. "
    "Two combiner aggregates over (source, lang) cells; output bounded "
    "by sources × languages, never corpus-sized",
    tags=("text", "curation", "drift"),
)
def text_source_lang_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_tables(spark, sf_dir)["documents"])
    cnt = docs.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("n"))
    tot = cnt.groupBy("source").agg(F.sum("n").cast("long").alias("t"))
    p = F.col("n") * 1.0 / F.col("t")
    return (
        cnt.join(tot, "source")
        .groupBy("source")
        .agg(
            F.first("t").alias("n_docs"),
            F.count(F.lit(1)).alias("n_langs"),
            F.round(-F.sum(p * F.log(p)), 4).alias("lang_entropy"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# The full Gopher quality-rule battery (Rae et al., "Scaling Language
# Models: Methods, Analysis & Insights from Training Gopher",
# arXiv:2112.11446, Table A1) — the standard pretraining document filter,
# applied as ONE scan of pure codegen expressions. text_quality is the
# cheap 3-signal gate; this is the full published rule set, each rule
# reported separately so a corpus owner sees WHICH rule bites before
# tuning thresholds.
# ---------------------------------------------------------------------------

GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


@query(
    "text_gopher_rules",
    f"""
    WITH d AS (
      SELECT doc_id, lang,
             string_split_regex(trim(text), '\\s+') AS words,
             string_split(text, chr(10)) AS lines,
             length(text) - length(replace(text, '#', '')) AS n_hash,
             CAST((length(text) - length(replace(text, '...', '..')))
                  AS BIGINT) AS n_ellipsis
      FROM documents WHERE length(trim(text)) > 0
    ),
    m AS (
      SELECT doc_id, lang,
             CAST(len(words) AS BIGINT) AS n_words,
             list_sum(list_transform(words, w -> length(w))) * 1.0
               / len(words) AS mean_wlen,
             (n_hash + n_ellipsis) * 1.0 / len(words) AS sym_ratio,
             len(list_filter(lines, l -> trim(l) LIKE '-%'
                                      OR trim(l) LIKE '*%'
                                      OR trim(l) LIKE '•%')) * 1.0
               / len(lines) AS bullet_ratio,
             len(list_filter(lines, l -> trim(l) LIKE '%...')) * 1.0
               / len(lines) AS ellipsis_line_ratio,
             len(list_filter(words, w -> regexp_matches(w, '[a-zA-Z]')))
               * 1.0 / len(words) AS alpha_ratio,
             len(list_filter(words,
                 w -> list_contains({list(GOPHER_STOPWORDS)}, lower(w))))
               AS n_stop
      FROM d
    ),
    r AS (
      SELECT lang,
             n_words BETWEEN 50 AND 100000 AS r_wordcount,
             mean_wlen BETWEEN 3 AND 10 AS r_meanlen,
             sym_ratio < 0.1 AS r_symbols,
             bullet_ratio <= 0.9 AS r_bullets,
             ellipsis_line_ratio <= 0.3 AS r_ellipsis,
             alpha_ratio >= 0.8 AS r_alpha,
             n_stop >= 2 AS r_stopwords
      FROM m
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN NOT r_wordcount THEN 1 ELSE 0 END) AS BIGINT)
               AS fail_wordcount,
           CAST(SUM(CASE WHEN NOT r_meanlen THEN 1 ELSE 0 END) AS BIGINT)
               AS fail_meanlen,
           CAST(SUM(CASE WHEN NOT r_symbols THEN 1 ELSE 0 END) AS BIGINT)
               AS fail_symbols,
           CAST(SUM(CASE WHEN NOT r_bullets THEN 1 ELSE 0 END) AS BIGINT)
               AS fail_bullets,
           CAST(SUM(CASE WHEN NOT r_ellipsis THEN 1 ELSE 0 END) AS BIGINT)
               AS fail_ellipsis,
           CAST(SUM(CASE WHEN NOT r_alpha THEN 1 ELSE 0 END) AS BIGINT)
               AS fail_alpha,
           CAST(SUM(CASE WHEN NOT r_stopwords THEN 1 ELSE 0 END) AS BIGINT)
               AS fail_stopwords,
           CAST(SUM(CASE WHEN r_wordcount AND r_meanlen AND r_symbols
                          AND r_bullets AND r_ellipsis AND r_alpha
                          AND r_stopwords THEN 1 ELSE 0 END) AS BIGINT)
               AS n_pass
    FROM r GROUP BY lang ORDER BY lang
    """,
    doc="the full Gopher document-filter rule battery (Rae et al. "
    "arXiv:2112.11446 Table A1): word-count bounds, mean word length, "
    "symbol-to-word ratio (#/ellipsis), bullet-line and ellipsis-line "
    "ratios, alphabetic-word share, minimum stop-word hits — per-rule "
    "failure counts per language plus the all-rules pass count, so the "
    "corpus owner sees WHICH rule bites before tuning. ONE scan of pure "
    "codegen expressions (higher-order array fns over the split arrays); "
    "the only shuffle carries langs × 10 counters",
    tags=("text", "quality", "curation", "gopher"),
)
def text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_tables(spark, sf_dir)["documents"]).filter(
        F.length(F.trim("text")) > 0
    )
    words = F.split(F.trim(F.col("text")), r"\s+")
    lines = F.split(F.col("text"), "\n")
    n_words = F.size(words)
    n_hash = F.length("text") - F.length(F.regexp_replace("text", "#", ""))
    n_ellipsis = F.length("text") - F.length(
        F.regexp_replace("text", r"\.\.\.", "..")
    )
    mean_wlen = (
        F.aggregate(words, F.lit(0).cast("long"), lambda a, w: a + F.length(w))
        * 1.0
        / n_words
    )
    def line_ratio(pred):
        return F.size(F.filter(lines, pred)) * 1.0 / F.size(lines)
    bullet = line_ratio(
        lambda l: F.trim(l).startswith("-")
        | F.trim(l).startswith("*")
        | F.trim(l).startswith("•")
    )
    ell_lines = line_ratio(lambda l: F.trim(l).endswith("..."))
    alpha = (
        F.size(F.filter(words, lambda w: w.rlike("[a-zA-Z]")))
        * 1.0
        / n_words
    )
    n_stop = F.size(
        F.filter(words, lambda w: F.lower(w).isin(*GOPHER_STOPWORDS))
    )
    m = docs.select(
        "lang",
        (n_words.cast("long").between(50, 100000)).alias("r_wordcount"),
        mean_wlen.between(3, 10).alias("r_meanlen"),
        ((n_hash + n_ellipsis) * 1.0 / n_words < 0.1).alias("r_symbols"),
        (bullet <= 0.9).alias("r_bullets"),
        (ell_lines <= 0.3).alias("r_ellipsis"),
        (alpha >= 0.8).alias("r_alpha"),
        (n_stop >= 2).alias("r_stopwords"),
    )
    fail = lambda c: F.sum(F.when(~F.col(c), 1).otherwise(0)).cast("long")  # noqa: E731
    all_pass = (
        F.col("r_wordcount") & F.col("r_meanlen") & F.col("r_symbols")
        & F.col("r_bullets") & F.col("r_ellipsis") & F.col("r_alpha")
        & F.col("r_stopwords")
    )
    return (
        m.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            fail("r_wordcount").alias("fail_wordcount"),
            fail("r_meanlen").alias("fail_meanlen"),
            fail("r_symbols").alias("fail_symbols"),
            fail("r_bullets").alias("fail_bullets"),
            fail("r_ellipsis").alias("fail_ellipsis"),
            fail("r_alpha").alias("fail_alpha"),
            fail("r_stopwords").alias("fail_stopwords"),
            F.sum(F.when(all_pass, 1).otherwise(0)).cast("long").alias("n_pass"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# TF-IDF keyword extraction and BM25 more-like-this retrieval — the two
# classical IR scorers a curation pipeline uses to label and to expand a
# corpus (keyword tags per document; "find documents like this seed" for
# targeted data collection). Both run on an integer-exact scoring surface:
# the idf component uses the LINEAR inverse-document-frequency surrogate
# (scaled N/df as a floored integer) instead of log(N/df), so every score
# is a deterministic int64 and the top-k cut is identical in both engines
# — no libm call whose last ulp could flip a rank at the boundary. The
# log variant is a one-expression swap; the plan shape (and therefore the
# 100 TB story) is unchanged. Parallels the reference's integer-first
# expression discipline (mapd-core evaluates comparisons on decimal-scaled
# integers, Analyzer/Analyzer.cpp analyze_value).
# ---------------------------------------------------------------------------

_IDF_SCALE = 1_000_000  # linear-idf fixed-point scale
_BM25_K1_M = 1200  # k1 = 1.2 in milli-units
_BM25_B_M = 750  # b = 0.75 in milli-units


@query(
    "text_tfidf_keywords",
    f"""
    WITH toks AS (
      SELECT doc_id,
             unnest(regexp_extract_all(lower(text), '{_TOKEN_RE}')) AS term
      FROM documents
    ),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term),
    df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT doc_id, tf.term, tf, df,
             tf * ((n_docs * {_IDF_SCALE}) // df) AS score
      FROM tf JOIN df USING (term) CROSS JOIN n
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                   ORDER BY score DESC, term) AS rnk
      FROM scored
    )
    SELECT doc_id, CAST(rnk AS INTEGER) AS rnk, term,
           CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
           CAST(score AS BIGINT) AS score
    FROM ranked WHERE rnk <= 3 ORDER BY doc_id, rnk
    """,
    doc="per-document top-3 keywords by tf×idf (linear-idf fixed point: "
    "score = tf · ⌊N·1e6/df⌋, exact int64 in both engines). Two keyed "
    "shuffles — (doc,term) term frequencies, then term-keyed document "
    "frequencies joined back — and a doc-partitioned ROW_NUMBER whose "
    "frames are bounded by per-doc vocabulary, never corpus size; at "
    "100 TB the df table is the only corpus-wide state and it is "
    "vocabulary-sized. Tie-break on term makes the top-3 cut total-order "
    "deterministic",
    tags=("text", "ir", "keywords"),
)
def text_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = load_tables(spark, sf_dir)["documents"]
    toks = docs.select(
        "doc_id", F.explode(_re_tokens(F.col("text"))).alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(df, "term")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "score", F.expr(f"tf * ((n_docs * {_IDF_SCALE}) div df)")
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), "term")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "rnk", "term", "tf", "df", "score")
        .orderBy("doc_id", "rnk")
    )


# shared CTE chain: fixed-point BM25 of every document vs the minimum-id
# seed; ends with a `bm25 (doc_id, n_hits, score)` CTE. Reused by the
# text_bm25_mlt oracle and sim_hybrid_rrf's lexical leg.
BM25_CTES = f"""toks AS (
      SELECT doc_id,
             unnest(regexp_extract_all(lower(text), '{_TOKEN_RE}')) AS term
      FROM documents
    ),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term),
    dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
    stats AS (
      SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
             (SELECT COUNT(*) FROM toks) AS sum_dl,
             (SELECT MIN(doc_id) FROM documents) AS seed_id
    ),
    qterms AS (
      SELECT DISTINCT term FROM tf, stats WHERE tf.doc_id = stats.seed_id
    ),
    df AS (
      SELECT term, COUNT(*) AS df FROM tf
      WHERE term IN (SELECT term FROM qterms) GROUP BY term
    ),
    hits AS (
      SELECT tf.doc_id, tf.term, tf.tf, dl.dl, df.df,
             stats.n_docs, stats.sum_dl
      FROM tf
      JOIN df USING (term)
      JOIN dl USING (doc_id)
      CROSS JOIN stats
      WHERE tf.doc_id <> stats.seed_id
    ),
    term_scores AS (
      SELECT doc_id, term,
             (((n_docs - df) * 2 * {_IDF_SCALE} + {_IDF_SCALE})
                 // (2 * df + 1))
             * (tf * ({_BM25_K1_M} + 1000))
             // (tf * 1000
                 + ({_BM25_K1_M}
                    * (1000 - {_BM25_B_M}
                       + ({_BM25_B_M} * dl * n_docs) // sum_dl)) // 1000)
                 AS s
      FROM hits
    ),
    bm25 AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits,
             CAST(SUM(s) AS BIGINT) AS score
      FROM term_scores GROUP BY doc_id
    )"""


@query(
    "text_bm25_mlt",
    f"""
    WITH {BM25_CTES}
    SELECT doc_id, n_hits, score
    FROM bm25 ORDER BY score DESC, doc_id LIMIT 20
    """,
    doc="BM25 more-like-this: the corpus's minimum-id document is the "
    "query; every other document scores Σ over shared terms of "
    "idf·tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl)) with k1=1.2, b=0.75, all "
    "in fixed-point integer arithmetic (linear-idf ⌊(N−df+½)·1e6/(df+½)⌋ "
    "via the (2df+1) trick; dl/avgdl as dl·N//Σdl in milli-units) so "
    "both engines produce bit-identical int64 scores and the top-20 cut "
    "cannot be flipped by float accumulation order. Scale shape: the "
    "query's term list is a broadcast-size dimension (one document's "
    "vocabulary), candidate scoring touches only postings of query "
    "terms (an equi-join on term), and the final TakeOrdered(20) never "
    "materializes a global sort",
    tags=("text", "ir", "bm25"),
)
def text_bm25_mlt(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        bm25_mlt_scores(load_tables(spark, sf_dir)["documents"])
        .orderBy(F.desc("score"), "doc_id")
        .limit(20)
    )


def bm25_mlt_scores(docs: DataFrame) -> DataFrame:
    """(doc_id, n_hits, score) — fixed-point BM25 of every document against
    the corpus's minimum-id seed document. Shared by text_bm25_mlt (top-20
    entry) and sim_hybrid_rrf (lexical leg of the rank fusion)."""
    toks = docs.select(
        "doc_id", F.explode(_re_tokens(F.col("text"))).alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    stats = (
        docs.agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("seed_id"),
        )
        .crossJoin(toks.agg(F.count(F.lit(1)).alias("sum_dl")))
    )
    qterms = (
        tf.crossJoin(F.broadcast(stats.select("seed_id")))
        .filter(F.col("doc_id") == F.col("seed_id"))
        .select("term")
        .distinct()
    )
    df = tf.join(F.broadcast(qterms), "term").groupBy("term").agg(
        F.count(F.lit(1)).alias("df")
    )
    hits = (
        tf.join(F.broadcast(df), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .filter(F.col("doc_id") != F.col("seed_id"))
    )
    term_scores = hits.select(
        "doc_id",
        F.expr(
            f"(((n_docs - df) * 2 * {_IDF_SCALE} + {_IDF_SCALE})"
            f" div (2 * df + 1))"
            f" * (tf * ({_BM25_K1_M} + 1000))"
            f" div (tf * 1000"
            f"      + ({_BM25_K1_M}"
            f"         * (1000 - {_BM25_B_M}"
            f"            + ({_BM25_B_M} * dl * n_docs) div sum_dl)) div 1000)"
        ).alias("s"),
    )
    return term_scores.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_hits"), F.sum("s").alias("score")
    )


# ---------------------------------------------------------------------------
# BPE TRAINING (Sennrich et al., ACL 2016) — the actual merge loop, not
# just one round of pair counting (text_bpe_top_pairs): BPE_TRAIN_ITERS
# iterations of [count adjacent symbol pairs over the word-frequency
# table] → [merge the argmax pair everywhere] → repeat. Classic BPE
# trains on the DISTINCT-word table (corpus compresses to vocabulary-
# sized state before any iteration — the property that makes tokenizer
# training feasible at 100 TB: 10^11 documents reduce to a few 10^6
# (word, count) rows in ONE combiner aggregate, and every iteration
# thereafter touches only that table).
#
# Determinism across engines: word segmentations are marker-framed
# strings ('·a·b·c·'), a merge is ONE literal replace of '·pa·pb·' with
# '·papb·' — Spark's replace() and DuckDB's replace() share the standard
# left-to-right non-overlapping scan, so runs of a repeated pair merge
# identically in both engines (alternate occurrences, Python-str.replace
# semantics), and the marker framing prevents the 'xa b' ~ 'a b' suffix
# false-match. Argmax pair ties break on (pa, pb) lexicographic order.
# ---------------------------------------------------------------------------

BPE_TRAIN_ITERS = 3


def _bpe_train_oracle() -> str:
    sql = """
    WITH words AS (
      SELECT word, COUNT(*) AS cnt FROM (
        SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS word
        FROM documents
      ) GROUP BY word
    ),
    s0 AS (
      SELECT word, cnt,
             '\u00b7' || regexp_replace(word, '(.)', '\\1\u00b7', 'g') AS seg
      FROM words
    )"""
    prev = "s0"
    selects = []
    for it in range(1, BPE_TRAIN_ITERS + 1):
        sql += f""",
    p{it} AS (
      SELECT l[g.i] AS pa, l[g.i + 1] AS pb, SUM(cnt) AS pcnt
      FROM (
        SELECT cnt,
               list_filter(string_split(seg, '\u00b7'), x -> x <> '') AS l
        FROM {prev}
      ), unnest(range(1, GREATEST(len(l), 1))) AS g(i)
      GROUP BY pa, pb
    ),
    b{it} AS (
      SELECT pa, pb, pcnt FROM p{it}
      ORDER BY pcnt DESC, pa, pb LIMIT 1
    ),
    s{it} AS (
      SELECT word, cnt,
             replace(seg, '\u00b7' || b.pa || '\u00b7' || b.pb || '\u00b7',
                     '\u00b7' || b.pa || b.pb || '\u00b7') AS seg
      FROM {prev} CROSS JOIN b{it} b
    ),
    n{it} AS (
      SELECT SUM(cnt * len(list_filter(string_split(seg, '\u00b7'),
                                       x -> x <> ''))) AS n_tokens
      FROM s{it}
    )"""
        selects.append(
            f"SELECT {it} AS it, b.pa || ' ' || b.pb AS pair,"
            f" CAST(b.pcnt AS BIGINT) AS cnt,"
            f" CAST(n.n_tokens AS BIGINT) AS n_tokens_after"
            f" FROM b{it} b CROSS JOIN n{it} n"
        )
        prev = f"s{it}"
    sql += "\n    " + "\n    UNION ALL ".join(selects) + "\n    ORDER BY it"
    return sql


@query(
    "text_bpe_train",
    _bpe_train_oracle(),
    doc=f"REAL BPE training loop ({BPE_TRAIN_ITERS} merge iterations, "
    "Sennrich ACL'16): the corpus compresses to the (word, count) "
    "vocabulary table in one combiner aggregate — the property that "
    "makes tokenizer training feasible at 100 TB — then each iteration "
    "counts adjacent symbol pairs weighted by word frequency, merges "
    "the argmax pair everywhere (marker-framed literal replace, "
    "identical left-to-right non-overlap semantics in both engines), "
    "and reports the shrinking corpus token count. Ties break "
    "lexicographically; every iteration's state is vocabulary-sized",
    tags=("text", "tokenizer", "iterative"),
)
def text_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir)["documents"]
    words = (
        spread(docs)
        .select(F.explode(_tokens(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    state = words.select(
        "word",
        "cnt",
        F.concat(
            F.lit("\u00b7"),
            F.regexp_replace(F.col("word"), "(.)", "$1\u00b7"),
        ).alias("seg"),
    ).localCheckpoint(eager=False)
    out_rows = []
    toks_arr = F.filter(F.split(F.col("seg"), "\u00b7"), lambda x: x != "")
    for it in range(1, BPE_TRAIN_ITERS + 1):
        with_l = state.select("cnt", toks_arr.alias("l"))
        pairs = with_l.select(
            "cnt",
            F.explode(
                F.when(
                    F.size(F.col("l")) >= 2,
                    F.transform(
                        F.sequence(F.lit(1), F.size(F.col("l")) - 1),
                        lambda i: F.struct(
                            F.element_at(F.col("l"), i).alias("pa"),
                            F.element_at(F.col("l"), i + 1).alias("pb"),
                        ),
                    ),
                ).otherwise(
                    F.array().cast("array<struct<pa:string,pb:string>>")
                )
            ).alias("p"),
        )
        counted = pairs.groupBy("p.pa", "p.pb").agg(
            F.sum("cnt").alias("pcnt")
        )
        best = counted.orderBy(F.desc("pcnt"), "pa", "pb").limit(1)
        state = (
            state.crossJoin(F.broadcast(best))
            .withColumn(
                "seg",
                F.expr(
                    "replace(seg, '\u00b7' || pa || '\u00b7' || pb || "
                    "'\u00b7', '\u00b7' || pa || pb || '\u00b7')"
                ),
            )
            .drop("pa", "pb", "pcnt")
            .localCheckpoint(eager=False)
        )
        n_after = state.select(
            F.sum(F.col("cnt") * F.size(toks_arr)).alias("n_tokens")
        )
        out_rows.append(
            best.crossJoin(n_after).select(
                F.lit(it).cast("int").alias("it"),
                F.concat_ws(" ", "pa", "pb").alias("pair"),
                F.col("pcnt").cast("long").alias("cnt"),
                F.col("n_tokens").cast("long").alias("n_tokens_after"),
            )
        )
    res = out_rows[0]
    for r in out_rows[1:]:
        res = res.unionByName(r)
    return res.orderBy("it")
