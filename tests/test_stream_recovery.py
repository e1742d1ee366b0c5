"""Checkpoint restart recovery: the operational guarantee that a streaming
pipeline killed mid-run and restarted from its checkpoint delivers every
record exactly once to a file sink (no loss from the kill, no duplicates
from reprocessing). This is the property that lets the 100 TB event
pipeline survive executor/driver failure; the file sink's commit manifest
plus the source's checkpointed offsets provide it, and this test proves
our plumbing (schema, staging, sink layout) preserves it."""

from __future__ import annotations

import time

from mapreduce_infrastructure_spark.catalog import (
    load_table,
    normalize_ts,
    parquet_schema,
)


def test_kill_restart_exactly_once(spark, sf_dir, tmp_path):
    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    # Stage the fixture as 6 separate files so the stream has multiple
    # micro-batches to be killed between. Read + restage via the PRODUCTION
    # path (catalog.load_table + catalog.parquet_schema, same as
    # streaming.stream.stream_merge_upsert) so the test tracks fixture
    # ts-storage changes instead of pinning a stale wire schema.
    events = load_table(spark, sf_dir, "events")
    events.repartition(6).write.mode("overwrite").parquet(src)
    expected = {r.event_id for r in events.select("event_id").collect()}
    file_schema = parquet_schema(spark, src)

    def start(trigger_kwargs):
        stream = normalize_ts(
            spark.readStream.schema(file_schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        ).select("event_id", "user_id", "event_type", "ts")
        return (
            stream.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(**trigger_kwargs)
            .start()
        )

    # Phase 1: run continuously, kill after at least one batch commits but
    # before all six can have been processed cleanly.
    q = start({"processingTime": "50 milliseconds"})
    deadline = time.time() + 60
    while time.time() < deadline:
        done = [p for p in q.recentProgress if p.numInputRows > 0]
        if len(done) >= 2:
            break
        time.sleep(0.1)
    q.stop()  # hard stop mid-stream
    q.awaitTermination()

    # Phase 2: restart from the SAME checkpoint, drain to end of input.
    q2 = start({"availableNow": True})
    q2.awaitTermination()

    got = spark.read.parquet(sink).select("event_id").collect()
    ids = [r.event_id for r in got]
    assert len(ids) == len(set(ids)), "duplicates after restart"
    assert set(ids) == expected, (
        f"lost {len(expected - set(ids))} / extra {len(set(ids) - expected)}"
    )
