"""stream queries must survive either physical timestamp unit in
events.parquet.

The testdata generator has shipped `ts` as TIMESTAMP(NANOS) (rounds 1-2)
and TIMESTAMP(MICROS) (round 3+). The stream source probes the parquet
footer and adapts; these tests pin that behaviour for both units so a
future regeneration can't silently break it again (round-3 regression:
all events collapsed into 1970 because nanos were assumed).
"""

from __future__ import annotations

import datetime as dt
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from compass_query_optimizer_spark.streaming.queries import (
    stream_stateful_user_totals,
    stream_window_rollup,
)

_BASE = dt.datetime(2024, 3, 1, 10, 15, 0)
_ROWS = [
    # (event_id, ts, user_id, event_type, value)
    (1, _BASE, 7, "click", 1.5),
    (2, _BASE + dt.timedelta(minutes=10), 7, "click", 2.0),
    (3, _BASE + dt.timedelta(hours=1), 8, "view", 4.0),
    (4, _BASE + dt.timedelta(hours=2, minutes=5), 7, "view", 8.0),
]


def _write_events(dirpath: str, unit: str) -> None:
    tbl = pa.table(
        {
            "event_id": pa.array([r[0] for r in _ROWS], pa.int64()),
            "ts": pa.array([r[1] for r in _ROWS], pa.timestamp(unit)),
            "user_id": pa.array([r[2] for r in _ROWS], pa.int64()),
            "event_type": pa.array([r[3] for r in _ROWS], pa.string()),
            "value": pa.array([r[4] for r in _ROWS], pa.float64()),
            "props": pa.array(["{}"] * len(_ROWS), pa.string()),
        }
    )
    # version 2.6 keeps nanos as TIMESTAMP(NANOS) instead of coercing
    pq.write_table(tbl, os.path.join(dirpath, "events.parquet"), version="2.6")


@pytest.mark.parametrize("unit", ["us", "ns"])
def test_window_rollup_any_unit(spark, tmp_path, unit):
    _write_events(str(tmp_path), unit)
    got = stream_window_rollup(spark, str(tmp_path)).collect()
    # 3 windows x event_type: (10:00 click x2), (11:00 view), (12:00 view)
    assert [(r.ws, r.event_type, r.cnt, r.sum_value) for r in got] == [
        (dt.datetime(2024, 3, 1, 10), "click", 2, 3.5),
        (dt.datetime(2024, 3, 1, 11), "view", 1, 4.0),
        (dt.datetime(2024, 3, 1, 12), "view", 1, 8.0),
    ]


@pytest.mark.parametrize("unit", ["us", "ns"])
def test_stateful_totals_any_unit(spark, tmp_path, unit):
    _write_events(str(tmp_path), unit)
    got = stream_stateful_user_totals(spark, str(tmp_path)).collect()
    assert [(r.user_id, r.n_events, r.sum_value) for r in got] == [
        (7, 3, 11.5),
        (8, 1, 4.0),
    ]


def test_kafka_ingest_gate_and_call_shape(spark, tmp_path):
    """No kafka connector jar ships in this container, so the Kafka ingest
    path is gated — but the gate itself is part of the surface: the call
    must reach Spark's DataSource lookup with format('kafka') and surface
    the documented NotImplementedError, not an AttributeError from bad
    wiring."""
    from compass_query_optimizer_spark.streaming.ingest import stream_kafka_ingest

    with pytest.raises(NotImplementedError, match="kafka"):
        stream_kafka_ingest(
            spark,
            bootstrap_servers="localhost:9092",
            topic="events",
            sink_path=str(tmp_path / "sink"),
        )
    # offset/rate/loss/watermark options must flow through the reader
    # builder BEFORE the gated load() — a typo'd option name or wrong value
    # type would raise here instead of the documented gate
    with pytest.raises(NotImplementedError, match="kafka"):
        stream_kafka_ingest(
            spark,
            bootstrap_servers="localhost:9092",
            topic="events",
            sink_path=str(tmp_path / "sink2"),
            starting_offsets='{"events":{"0":42}}',
            max_offsets_per_trigger=10_000,
            fail_on_data_loss=False,
            watermark=("timestamp", "10 minutes"),
        )


def test_kafka_source_options_exact_map():
    """The option map handed to Spark's Kafka source, key by key — the
    connector silently ignores unknown options, so a typo'd key would
    otherwise only surface on a live cluster."""
    from compass_query_optimizer_spark.streaming.ingest import (
        kafka_source_options,
    )

    assert kafka_source_options("h1:9092,h2:9092", "events") == {
        "kafka.bootstrap.servers": "h1:9092,h2:9092",
        "subscribe": "events",
        "startingOffsets": "earliest",
        "failOnDataLoss": "true",
    }
    got = kafka_source_options(
        "h:9092",
        "events",
        starting_offsets='{"events":{"0":42}}',  # per-partition JSON form
        max_offsets_per_trigger=10_000,
        fail_on_data_loss=False,
    )
    assert got == {
        "kafka.bootstrap.servers": "h:9092",
        "subscribe": "events",
        "startingOffsets": '{"events":{"0":42}}',
        "failOnDataLoss": "false",
        "maxOffsetsPerTrigger": "10000",
    }
    # every value must already be a string: readStream.options() would
    # otherwise stringify python bools as 'True'/'False', which Kafka's
    # option parser rejects
    assert all(isinstance(v, str) for v in got.values())


def test_file_ingest_roundtrip(spark, tmp_path):
    """File-drop CSV ingest drains into a parquet sink table (the
    StreamImporter analog) with availableNow."""
    import pyarrow.parquet as pq

    from compass_query_optimizer_spark.streaming.ingest import (
        StreamParams,
        stream_csv_ingest,
    )
    from pyspark.sql import types as T

    src = tmp_path / "drop"
    src.mkdir()
    (src / "a.csv").write_text("k,v\n1,x\n2,y\n")
    (src / "b.csv").write_text("k,v\n3,z\n")
    schema = T.StructType(
        [T.StructField("k", T.IntegerType()), T.StructField("v", T.StringType())]
    )
    sink = str(tmp_path / "sink")
    q = stream_csv_ingest(
        spark, str(src), schema, sink,
        stream_params=StreamParams(available_now=True),
    )
    q.awaitTermination(120)
    files = [str(p) for p in (tmp_path / "sink").glob("*.parquet")]
    total = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
    assert total == 3


@pytest.mark.parametrize("unit", ["us", "ns"])
def test_stream_dedup_any_unit(spark, tmp_path, unit):
    from compass_query_optimizer_spark.streaming.queries import stream_dedup_events

    _write_events(str(tmp_path), unit)
    got = stream_dedup_events(spark, str(tmp_path)).collect()
    # fixture: user 7 clicks twice (dup collapses), users 7+8 view once each
    assert [(r.event_type, r.n_unique_users) for r in got] == [
        ("click", 1),
        ("view", 2),
    ]


def test_dedup_within_watermark(spark, tmp_path):
    """The production variant for unbounded streams: state for a key is
    evicted once the watermark passes, so duplicates must re-arrive within
    the delay to be dropped. All fixture dups here are within the 1h delay
    -> output equals global distinct."""
    import uuid

    from pyspark.sql import functions as F

    from compass_query_optimizer_spark.streaming.queries import (
        _events_stream_source,
    )

    _write_events(str(tmp_path), "us")
    src = _events_stream_source(spark, str(tmp_path))
    deduped = (
        src.withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_type", "user_id"])
        .select("event_type", "user_id")
    )
    sink = f"wmdedup_{uuid.uuid4().hex[:12]}"
    q = (
        deduped.writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(tuple(r) for r in spark.table(sink).collect())
    assert got == [("click", 7), ("view", 7), ("view", 8)]


@pytest.mark.parametrize("adjusted_utc", [False, True])
def test_batch_loader_micros_either_adjustment(spark, tmp_path, adjusted_utc):
    """load_table must normalise `ts` to TIMESTAMP_NTZ whether micros are
    stored NTZ (isAdjustedToUTC=false) or instant-adjusted (=true, which
    Spark reads as LTZ); wall times must be identical under the UTC
    session."""
    from compass_query_optimizer_spark.catalog import load_table

    tz = dt.timezone.utc if adjusted_utc else None
    rows = [r[1].replace(tzinfo=tz) for r in _ROWS]
    tbl = pa.table(
        {
            "event_id": pa.array([r[0] for r in _ROWS], pa.int64()),
            "ts": pa.array(rows, pa.timestamp("us", tz="UTC" if adjusted_utc else None)),
            "user_id": pa.array([r[2] for r in _ROWS], pa.int64()),
            "event_type": pa.array([r[3] for r in _ROWS], pa.string()),
            "value": pa.array([r[4] for r in _ROWS], pa.float64()),
            "props": pa.array(["{}"] * len(_ROWS), pa.string()),
        }
    )
    pq.write_table(tbl, os.path.join(str(tmp_path), "events.parquet"), version="2.6")
    df = load_table(spark, str(tmp_path), "events")
    assert df.schema["ts"].dataType.typeName() == "timestamp_ntz"
    got = sorted(r.ts for r in df.select("ts").collect())
    assert got == sorted(r[1] for r in _ROWS)


def test_stream_upsert_ingest_idempotent_merge(spark, tmp_path):
    """foreachBatch keyed upsert: later batches overwrite earlier rows per
    key, untouched buckets survive, and re-running the same drop produces
    the same table (idempotent merge = exactly-once under redelivery)."""
    from pyspark.sql import functions as F, types as T

    from compass_query_optimizer_spark.streaming.ingest import stream_upsert_ingest

    src_dir = tmp_path / "drops"
    src_dir.mkdir()
    sink = str(tmp_path / "state")
    schema = T.StructType(
        [T.StructField("k", T.IntegerType()), T.StructField("v", T.StringType())]
    )

    def run_drop(name, rows):
        with open(src_dir / name, "w") as f:
            f.write("k,v\n")
            for k, v in rows:
                f.write(f"{k},{v}\n")
        stream = spark.readStream.schema(schema).option("header", True).csv(str(src_dir))
        q = stream_upsert_ingest(spark, stream, sink, ["k"], n_buckets=4,
                                 checkpoint_dir=str(tmp_path / "ckpt"))
        q.awaitTermination(120)

    run_drop("b1.csv", [(1, "a"), (2, "b"), (3, "c")])
    run_drop("b2.csv", [(2, "B2"), (4, "d")])  # update k=2, insert k=4

    got = {
        r["k"]: r["v"]
        for r in spark.read.parquet(sink).select("k", "v").collect()
    }
    assert got == {1: "a", 2: "B2", 3: "c", 4: "d"}


def test_streaming_entries_leave_no_session_state(spark):
    """A streaming entry leaves the session as it found it: the caller's
    shuffle-partition count survives, and no memory-sink view (nor the
    sink it pins) stays in the catalog — while the rows still equal the
    DuckDB oracle. One memory-sink entry and one two-arrival entry cover
    both drain helpers."""
    from compass_query_optimizer_spark.registry import all_queries
    from tests.conftest import SF_DIR, make_duck
    from tests.test_oracle import _norm_rows

    key = "spark.sql.shuffle.partitions"
    caller_value = spark.conf.get(key)
    duck = make_duck(SF_DIR)
    spark.conf.set(key, "8")
    try:
        for name in ("stream_window_rollup", "stream_late_data_drop"):
            spec = all_queries()[name]
            tables = sorted((t.name, t.isTemporary) for t in spark.catalog.listTables())
            sdf = spec.build(spark, SF_DIR)
            assert spark.conf.get(key) == "8", name
            after = sorted((t.name, t.isTemporary) for t in spark.catalog.listTables())
            assert after == tables, name
            res = duck.execute(spec.oracle_text())
            dcols = [d[0] for d in res.description]
            got = _norm_rows(list(sdf.columns), [tuple(r) for r in sdf.collect()])
            assert got == _norm_rows(dcols, res.fetchall()), name
    finally:
        spark.conf.set(key, caller_value)
