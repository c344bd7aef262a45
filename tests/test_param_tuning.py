"""LSH/SimHash code widths track corpus size at plan time, and the DuckDB
oracle derives the same widths from the same integer formula."""

from __future__ import annotations


def test_auto_bits_grows_with_corpus_size():
    """Round-5 directive: LSH widths must track corpus size at plan time
    instead of being fixed defaults — and the SQL twin must agree exactly,
    or the oracle would bucket differently from the engine."""
    import duckdb

    from compass_query_optimizer_spark.functions.hashing import (
        auto_bits,
        duck_auto_bits,
    )
    from compass_query_optimizer_spark.operators.dedup import simhash_block_bits
    from compass_query_optimizer_spark.operators.similarity import ann_lsh_bits

    sizes = [0, 1, 100, 1_000, 10_000, 100_000, 10**6, 10**8, 10**9]
    for fn, lo, hi in ((ann_lsh_bits, 6, 20), (simhash_block_bits, 4, 12)):
        widths = [fn(n) for n in sizes]
        assert widths == sorted(widths), f"{fn.__name__} not monotone: {widths}"
        assert widths[0] == lo and widths[-1] == hi, (fn.__name__, widths)
        assert len(set(widths)) > 2, f"{fn.__name__} never adapts: {widths}"

    con = duckdb.connect()
    for n in sizes + [31, 32, 33, 63, 64, 65, 4095, 4096, 4097]:
        for target, lo, hi in ((32, 6, 20), (2, 4, 12)):
            py = auto_bits(n, target, lo, hi)
            sql = con.execute(
                f"SELECT {duck_auto_bits(str(n), target, lo, hi)}"
            ).fetchone()[0]
            assert py == sql, (n, target, py, sql)
