"""Structured Streaming ingest: idempotent accumulation (README.md:39-43
re-expressed as a stream, SURVEY.md §2.7)."""

from __future__ import annotations

from sms_db_spark.sources.canonical import with_message_hash
from sms_db_spark.sources.xml_source import normalize_xml
from sms_db_spark.streaming.ingest import STAGED_HASHED_SCHEMA, stream_ingest
from tests.fixtures import xml_frames


def _hashed_batch(spark):
    m, p = normalize_xml(*xml_frames(spark))
    return with_message_hash(m, p).select(*[f.name for f in STAGED_HASHED_SCHEMA.fields])


def test_stream_ingest_dedups_across_batches(spark, tmp_path):
    drop = tmp_path / "drop"
    store = tmp_path / "store"
    ckpt = tmp_path / "ckpt"
    batch = _hashed_batch(spark)

    batch.write.mode("append").parquet(str(drop))
    q = stream_ingest(spark, str(drop), str(store), str(ckpt)).trigger(availableNow=True).start()
    q.awaitTermination(120)
    assert spark.read.parquet(str(store)).count() == 5

    # drop the same batch again (a re-run of the same backup file) → no new rows
    batch.write.mode("append").parquet(str(drop))
    q = stream_ingest(spark, str(drop), str(store), str(ckpt)).trigger(availableNow=True).start()
    q.awaitTermination(120)
    stored = spark.read.parquet(str(store))
    assert stored.count() == 5
    assert stored.select("hash").distinct().count() == 5


def test_stream_ingest_fails_on_an_unreadable_store(spark, tmp_path):
    """Only a missing store is a first batch: a store that exists but
    cannot be read fails the drain, and the batch is not appended."""
    import pytest
    from pyspark.errors import StreamingQueryException

    drop = tmp_path / "drop"
    store = tmp_path / "store"
    store.mkdir()
    (store / "part-0.parquet").write_bytes(b"not a parquet file")
    _hashed_batch(spark).write.mode("append").parquet(str(drop))

    q = stream_ingest(spark, str(drop), str(store), str(tmp_path / "ckpt"))
    q = q.trigger(availableNow=True).start()
    with pytest.raises(StreamingQueryException):
        q.awaitTermination(120)
    assert sorted(p.name for p in store.iterdir()) == ["part-0.parquet"]


def test_stateful_sessions_across_batches(spark, tmp_path):
    """applyInPandasWithState: session state persists across microbatches;
    a closed session is emitted exactly once with correct bounds."""
    import pandas as pd

    from sms_db_spark.streaming.sessions import EVENTS_SCHEMA, stream_sessions

    drop = tmp_path / "events"
    ckpt = tmp_path / "ckpt"
    out = tmp_path / "out"
    gap = 30 * 60 * 1000

    def run_batch(rows):
        pdf = pd.DataFrame(rows, columns=["user_id", "ts_ms"], dtype="int64")
        spark.createDataFrame(pdf, EVENTS_SCHEMA).write.mode("append").parquet(str(drop))
        q = (
            stream_sessions(spark, str(drop), gap_ms=gap)
            .writeStream.format("parquet")
            .option("path", str(out))
            .option("checkpointLocation", str(ckpt))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # batch 1: user 1 has two events inside one session; user 2 one event
    run_batch([(1, 0), (1, 10 * 60 * 1000), (2, 5_000)])
    assert spark.read.parquet(str(out)).count() == 0  # nothing closed yet

    # batch 2: user 1 jumps past the gap → first session closes
    run_batch([(1, 3 * 60 * 60 * 1000)])
    sessions = {r["user_id"]: r.asDict() for r in spark.read.parquet(str(out)).collect()}
    assert sessions[1]["session_start_ms"] == 0
    assert sessions[1]["session_end_ms"] == 10 * 60 * 1000
    assert sessions[1]["n_events"] == 2
    assert 2 not in sessions  # user 2's session still open
