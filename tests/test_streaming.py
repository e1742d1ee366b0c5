"""Structured Streaming semantics: batch/stream equivalence and
watermark-gated append output.

The oracle harness (test_oracle_queries.py) already value-checks the
streaming queries against DuckDB; here we check the streaming-only
properties — incremental execution reaching the same answer as batch, and
append mode emitting only watermark-finalized windows.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from mapreduce_infrastructure_spark.streaming import batch_windows, stream


def _rows(df, cols):
    return {tuple(r[c] for c in cols) for r in df.collect()}


def test_stream_matches_batch_tumbling(spark, sf_dir):
    got = stream.stream_tumbling_hourly(spark, sf_dir)
    want = batch_windows.window_tumbling_hourly(spark, sf_dir)
    cols = ["wstart", "event_type", "n_events", "sum_value"]
    assert _rows(got, cols) == _rows(want, cols)


def test_stream_user_totals_matches_groupby(spark, sf_dir):
    got = stream.stream_user_totals(spark, sf_dir)
    from mapreduce_infrastructure_spark.catalog import load_table

    want = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    got_counts = {(r.user_id, r.n_events) for r in got.collect()}
    want_counts = {(r.user_id, r.n_events) for r in want.collect()}
    assert got_counts == want_counts


def test_append_mode_emits_only_finalized_windows(spark, sf_dir):
    """With a watermark, append mode may only emit windows whose end is
    below the final watermark — a strict subset of the batch answer, and
    every emitted row must match the batch row exactly (late-data contract:
    what is emitted is final)."""
    ev = stream.stream_events(spark, sf_dir).withWatermark("ts", "30 minutes")
    agg = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.unix_timestamp(F.col("w.start")).cast("long").alias("wstart"),
            "n_events",
        )
    )
    emitted = stream.run_to_tables([(agg, "append_windows")], mode="append")[0]
    batch = (
        batch_windows.window_tumbling_hourly(spark, sf_dir)
        .groupBy("wstart")
        .agg(F.sum("n_events").alias("n_events"))
    )
    got = _rows(emitted, ["wstart", "n_events"])
    want = _rows(batch, ["wstart", "n_events"])
    assert got, "append mode emitted nothing — watermark never finalized"
    assert got <= want  # finalized subset, values exact


def test_stream_stream_left_outer_semantics(spark, sf_dir):
    """Stream-stream LEFT OUTER join: matched rows equal the inner join;
    null-extended rows appear only for clicks whose join window is fully
    below the final watermark (unmatched clicks near end-of-input stay
    buffered — documented Structured Streaming semantics, NOT a bug)."""
    from pyspark.sql import functions as F

    ev = stream.stream_events(spark, sf_dir)
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "10 minutes")
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "10 minutes")
    )
    cond = (
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 30 MINUTES"))
    )
    joined = clicks.join(purchases, cond, "left_outer").select(
        "click_id", "purchase_id", "c_user"
    )
    out = stream.run_to_tables([(joined, "stream_left_outer")], mode="append")[0]
    rows = out.collect()
    matched = {(r.click_id, r.purchase_id) for r in rows if r.purchase_id is not None}
    unmatched = [r for r in rows if r.purchase_id is None]
    # Inner-join subset check against the oracle-checked inner variant.
    inner = {
        (r.click_id, r.purchase_id)
        for r in stream.stream_join_click_purchase(spark, sf_dir).collect()
    }
    assert matched <= inner
    assert matched, "left outer join matched nothing"
    # Every null-extended click must genuinely have no purchase within its
    # 30-minute window (cross-check against the batch inner join).
    inner_clicks = {c for c, _ in inner}
    assert all(r.click_id not in inner_clicks for r in unmatched)


def test_kafka_guard_clean_error(spark):
    """This container has no Kafka connector JAR: the guard must report
    unavailability and the constructor must raise the clear RuntimeError,
    not a py4j ClassNotFound from deep inside the source resolution."""
    import pytest
    from mapreduce_infrastructure_spark.streaming import stream as st

    assert st.kafka_available(spark) is False
    with pytest.raises(RuntimeError, match="spark-sql-kafka"):
        st.stream_events_kafka(spark, "localhost:9092")


def test_stream_merge_converges_to_batch_merge(spark, sf_dir):
    """The incremental CDC apply (micro-batched, version-guarded) must
    produce EXACTLY the one-shot batch MERGE result — same keys, names,
    balances — independent of how events were split across batches."""
    from mapreduce_infrastructure_spark.operators.relational import (
        merge_upsert_customers,
    )
    from mapreduce_infrastructure_spark.streaming.stream import stream_merge_upsert

    batch = {
        r.c_custkey: (r.c_name, r.c_acctbal)
        for r in merge_upsert_customers(spark, sf_dir).collect()
    }
    streamed = {
        r.c_custkey: (r.c_name, r.c_acctbal)
        for r in stream_merge_upsert(spark, sf_dir).collect()
    }
    assert streamed == batch


def test_stream_anomaly_multibatch_state_seeding(spark, sf_dir, tmp_path):
    """The trailing-window state must carry across micro-batches: split the
    event log into two time-ordered files, force one file per trigger, and
    the incrementally-scored result must STILL equal the batch operator —
    rows near the batch boundary are scored against state from batch 1."""
    import os

    from pyspark.sql.streaming.state import GroupStateTimeout

    from mapreduce_infrastructure_spark.catalog import load_table
    from mapreduce_infrastructure_spark.operators.stats import (
        anomaly_zscore_events,
    )
    from mapreduce_infrastructure_spark.streaming.stream import _anomaly_fn

    ev = load_table(spark, sf_dir, "events")
    cut = ev.approxQuantile("event_id", [0.5], 0.0)[0]
    src = str(tmp_path / "src")
    os.makedirs(src)
    # two time-ordered files: all early rows, then all late rows
    early = ev.filter(F.col("ts") < F.lit("2024-01-15")).orderBy("ts")
    late = ev.filter(F.col("ts") >= F.lit("2024-01-15")).orderBy("ts")
    early.coalesce(1).write.parquet(os.path.join(src, "b=1"))
    late.coalesce(1).write.parquet(os.path.join(src, "b=2"))
    assert early.count() > 0 and late.count() > 0
    del cut

    schema = (
        "event_id bigint, ts timestamp, user_id bigint, event_type string,"
        " value double, props string"
    )
    sdf = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/b=*")
        .select("user_id", "event_id", F.unix_micros("ts").alias("ts_us"), "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _anomaly_fn,
            outputStructType=(
                "user_id bigint, event_id bigint, ts_us bigint, value double,"
                " n_window bigint, mean_20 double, std_20 double, z double,"
                " flag string"
            ),
            stateStructType="hist array<bigint>",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    from mapreduce_infrastructure_spark.streaming.stream import run_to_tables

    got = run_to_tables([(sdf, "anomaly_multibatch_test")], mode="append")[0]
    want = anomaly_zscore_events(spark, sf_dir)
    cols = ["user_id", "event_id", "ts_us", "n_window", "mean_20", "std_20", "z", "flag"]
    assert _rows(got, cols) == _rows(want, cols)


def test_stream_anomaly_survives_identical_value_window(spark, tmp_path):
    """Regression (round-8 review): an all-identical trailing window drives
    the closed-form variance a few ulps NEGATIVE (2·0.02 − 0.2² < 0 in
    doubles), where math.sqrt raises and killed the whole stream. The
    batch twin's F.sqrt yields NaN there and flags 'ok' — the streaming
    path must mirror that, not crash."""
    import os

    from pyspark.sql.streaming.state import GroupStateTimeout

    from mapreduce_infrastructure_spark.streaming.stream import (
        _anomaly_fn,
        run_to_tables,
    )

    src = str(tmp_path / "src")
    rows = [
        (i, f"2024-01-01 00:0{i}:00", 7, "click", 0.10, "{}")
        for i in range(4)  # identical values -> degenerate variance
    ]
    spark.createDataFrame(
        rows,
        "event_id bigint, ts string, user_id bigint, event_type string,"
        " value double, props string",
    ).withColumn("ts", F.col("ts").cast("timestamp")).coalesce(1).write.mode(
        "overwrite"
    ).parquet(src)

    sdf = (
        spark.readStream.schema(
            "event_id bigint, ts timestamp, user_id bigint,"
            " event_type string, value double, props string"
        )
        .parquet(src)
        .select("user_id", "event_id", F.unix_micros("ts").alias("ts_us"), "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _anomaly_fn,
            outputStructType=(
                "user_id bigint, event_id bigint, ts_us bigint, value double,"
                " n_window bigint, mean_20 double, std_20 double, z double,"
                " flag string"
            ),
            stateStructType="hist array<bigint>",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    got = run_to_tables([(sdf, "anomaly_identical_vals")], mode="append")[0].collect()
    assert len(got) == 4
    # warm-up row (n=1): no std, no z; degenerate windows (n>=2): NaN std
    # like the batch twin, z NaN, never flagged
    import math

    for r in sorted(got, key=lambda r: r.event_id):
        assert r.flag == "ok"
        if r.n_window >= 2:
            assert r.std_20 is None or math.isnan(r.std_20) or r.std_20 == 0.0


def test_stream_topk_multibatch_ranked_state(spark, sf_dir, tmp_path):
    """The ranked keyed state must merge across micro-batches: split the
    event log into two time-ordered files, force one file per trigger,
    and the final per-window top-3 must equal a batch recomputation —
    in particular a user who is ranked low in batch 1 but overtakes in
    batch 2 must surface, which only works because state keeps the FULL
    per-user count map, not just the current leaders."""
    import os

    from pyspark.sql.streaming.state import GroupStateTimeout

    from mapreduce_infrastructure_spark.catalog import load_table
    from mapreduce_infrastructure_spark.streaming.stream import (
        _topk_window_fn,
        run_to_tables,
    )

    ev = load_table(spark, sf_dir, "events")
    src = str(tmp_path / "src")
    os.makedirs(src)
    early = ev.filter(F.col("ts") < F.lit("2024-01-15")).orderBy("ts")
    late = ev.filter(F.col("ts") >= F.lit("2024-01-15")).orderBy("ts")
    early.coalesce(1).write.parquet(os.path.join(src, "b=1"))
    late.coalesce(1).write.parquet(os.path.join(src, "b=2"))

    schema = (
        "event_id bigint, ts timestamp, user_id bigint, event_type string,"
        " value double, props string"
    )
    sdf = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/b=*")
        .select(F.expr("unix_micros(ts) div 3600000000").alias("h"), "user_id")
        .groupBy("h")
        .applyInPandasWithState(
            _topk_window_fn,
            outputStructType=(
                "wstart bigint, n_total bigint, users array<bigint>, "
                "counts array<bigint>"
            ),
            stateStructType="users array<bigint>, counts array<bigint>",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    per_batch = run_to_tables([(sdf, "topk_multibatch_test")], mode="update")[0]
    final = (
        per_batch.groupBy("wstart")
        .agg(F.max(F.struct("n_total", "users", "counts")).alias("s"))
        .collect()
    )
    got = {
        r.wstart: list(zip(r.s.users, r.s.counts)) for r in final
    }
    # batch reference from the raw parquet
    import pyarrow.parquet as pq

    tbl = pq.read_table(
        f"{sf_dir}/events.parquet", columns=["ts", "user_id"]
    ).to_pydict()
    from datetime import datetime

    epoch = datetime(1970, 1, 1)
    counts: dict[int, dict] = {}
    for ts, uid in zip(tbl["ts"], tbl["user_id"]):
        td = ts - epoch
        us = (td.days * 86_400 + td.seconds) * 1_000_000 + td.microseconds
        w = (us // 3_600_000_000) * 3600
        counts.setdefault(w, {}).setdefault(uid, 0)
        counts[w][uid] += 1
    assert set(got) == set(counts)
    for w, users in counts.items():
        top = sorted(users.items(), key=lambda kv: (-kv[1], kv[0]))[:3]
        assert got[w] == top, (w, got[w], top)


def test_stream_session_topk_multibatch_bridges_sessions(spark, tmp_path):
    """Confluence of the interval-merge state: batch 1 delivers two events
    30+ min apart (two sessions); batch 2 delivers a LATE event between
    them, bridging both. The final emit must be ONE merged session with
    summed type counts and the earliest start — exactly what a batch
    recomputation over all three events gives."""
    import os

    from pyspark.sql.streaming.state import GroupStateTimeout

    from mapreduce_infrastructure_spark.streaming.stream import (
        _session_topk_fn,
        run_to_tables,
    )

    src = str(tmp_path / "src")
    os.makedirs(src)
    t0 = 1_700_000_000_000_000  # µs
    rows_b1 = [(1, t0, "click"), (1, t0 + 3_000_000_000, "click")]  # 50 min apart
    rows_b2 = [(1, t0 + 1_500_000_000, "purchase")]  # bridges: both gaps 25 min
    schema = "user_id bigint, us bigint, event_type string"
    spark.createDataFrame(rows_b1, schema).coalesce(1).write.parquet(src + "/b=1")
    spark.createDataFrame(rows_b2, schema).coalesce(1).write.parquet(src + "/b=2")

    sdf = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/b=*")
        .groupBy("user_id")
        .applyInPandasWithState(
            _session_topk_fn,
            outputStructType=(
                "user_id bigint, upd bigint, starts array<bigint>, "
                "n_events array<bigint>, top_types array<array<string>>, "
                "top_counts array<array<bigint>>"
            ),
            stateStructType=(
                "starts array<bigint>, ends array<bigint>, sess_of array<int>, "
                "types array<string>, cnts array<bigint>, upd bigint"
            ),
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    per_batch = run_to_tables([(sdf, "session_topk_bridge_test")], mode="update")[0]
    rows = sorted(per_batch.collect(), key=lambda r: r.upd)
    assert len(rows) >= 2, "expected one emit per micro-batch"
    first, last = rows[0], rows[-1]
    assert len(first.starts) == 2  # two sessions before the bridge
    assert len(last.starts) == 1  # merged after the late bridging event
    assert last.starts[0] == t0 // 1_000_000
    assert last.n_events[0] == 3
    assert last.top_types[0] == ["click", "purchase"]  # 2 clicks > 1 purchase
    assert list(last.top_counts[0]) == [2, 1]


def test_stream_session_topk_multibatch_equals_single_batch(spark, sf_dir, tmp_path):
    """Splitting the fixture event log across two triggers must not change
    the final reconciled answer (the query result is already
    oracle-certified in single-batch form; this pins batch-split
    independence of the stateful merge)."""
    import os

    from pyspark.sql.streaming.state import GroupStateTimeout

    from mapreduce_infrastructure_spark.catalog import load_table
    from mapreduce_infrastructure_spark.streaming.stream import (
        _session_topk_fn,
        run_to_tables,
        stream_session_topk_event_types,
    )

    single = {
        (r.user_id, r.session_start, r.rank): (r.n_events, r.event_type, r.n_type_events)
        for r in stream_session_topk_event_types(spark, sf_dir).collect()
    }

    ev = load_table(spark, sf_dir, "events")
    src = str(tmp_path / "src")
    os.makedirs(src)
    # Adversarial split: by event_id parity, so each batch holds an
    # arbitrary (non-chronological) half of every session.
    ev.filter(F.col("event_id") % 2 == 0).coalesce(1).write.parquet(src + "/b=1")
    ev.filter(F.col("event_id") % 2 == 1).coalesce(1).write.parquet(src + "/b=2")
    schema = (
        "event_id bigint, ts timestamp, user_id bigint, event_type string,"
        " value double, props string"
    )
    sdf = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/b=*")
        .select("user_id", F.expr("unix_micros(ts)").alias("us"), "event_type")
        .groupBy("user_id")
        .applyInPandasWithState(
            _session_topk_fn,
            outputStructType=(
                "user_id bigint, upd bigint, starts array<bigint>, "
                "n_events array<bigint>, top_types array<array<string>>, "
                "top_counts array<array<bigint>>"
            ),
            stateStructType=(
                "starts array<bigint>, ends array<bigint>, sess_of array<int>, "
                "types array<string>, cnts array<bigint>, upd bigint"
            ),
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    per_batch = run_to_tables([(sdf, "session_topk_split_test")], mode="update")[0]
    last = per_batch.groupBy("user_id").agg(
        F.max(F.struct("upd", "starts", "n_events", "top_types", "top_counts")).alias("s")
    )
    got = {}
    for r in last.collect():
        for start, n, tts, tcs in zip(
            r.s.starts, r.s.n_events, r.s.top_types, r.s.top_counts
        ):
            for i, (t, c) in enumerate(zip(tts, tcs), 1):
                got[(r.user_id, start, i)] = (n, t, c)
    assert got == single


def test_stream_left_join_multibatch_same_final_set(spark, sf_dir, tmp_path):
    """Splitting the event log across two time-ordered triggers must
    produce the same FINAL left-join result set as the single-batch run
    (unmatched rows may emit earlier as the watermark advances
    mid-stream, but the end-of-input set is watermark-determined either
    way)."""
    import os

    from mapreduce_infrastructure_spark.catalog import load_table
    from mapreduce_infrastructure_spark.streaming.stream import (
        run_to_tables,
        stream_left_join_click_purchase,
    )

    single = {
        (r.click_id, r.purchase_id)
        for r in stream_left_join_click_purchase(spark, sf_dir).collect()
    }

    ev = load_table(spark, sf_dir, "events")
    src = str(tmp_path / "src")
    os.makedirs(src)
    mid = ev.agg(F.expr("percentile_approx(unix_micros(ts), 0.5)")).collect()[0][0]
    ev.filter(F.expr(f"unix_micros(ts) < {mid}")).coalesce(1).write.parquet(src + "/b=1")
    ev.filter(F.expr(f"unix_micros(ts) >= {mid}")).coalesce(1).write.parquet(src + "/b=2")
    schema = (
        "event_id bigint, ts timestamp, user_id bigint, event_type string,"
        " value double, props string"
    )
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/b=*")
    )
    clicks = (
        raw.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    purchases = (
        raw.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 30 MINUTES")),
        "left_outer",
    ).select("click_id", "purchase_id")
    (out,) = run_to_tables([(joined, "left_join_split_test")], mode="append")
    got = {(r.click_id, r.purchase_id) for r in out.collect()}
    assert got == single


def test_stream_ingest_dedup_demotes_provisional_novel_across_batches(spark, tmp_path):
    """keep-MIN under adversarial arrival: batch 1 delivers the LARGER
    doc_id of a duplicate pair (provisionally 'novel'); batch 2 delivers
    the smaller one. The reconciled result must demote the first arrival
    to 'dup_in_batch' and crown the smaller id 'novel' — plus a
    dup_of_old doc whose fingerprint sits in the static index."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.streaming.state import GroupStateTimeout

    from mapreduce_infrastructure_spark.llm.dedup import _INCR_OLD_MAX, content_fp
    from mapreduce_infrastructure_spark.streaming.stream import (
        _ingest_dedup_fn,
        run_to_tables,
    )

    old_text = "previously ingested corpus text"
    dup_text = "today the crawler fetched this page twice"
    b = _INCR_OLD_MAX
    # static old side: one doc below the boundary
    old = spark.createDataFrame(
        [(1, old_text)], "doc_id long, text string"
    ).select(content_fp().alias("fp")).distinct().withColumn("in_old", F.lit(True))

    src = str(tmp_path / "src")
    os.makedirs(src)
    schema = "doc_id long, text string"
    spark.createDataFrame(
        [(b + 9, dup_text), (b + 5, old_text)], schema
    ).coalesce(1).write.parquet(src + "/b=1")
    spark.createDataFrame(
        [(b + 3, dup_text), (b + 7, "a genuinely fresh page")], schema
    ).coalesce(1).write.parquet(src + "/b=2")

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/b=*")
        .select("doc_id", content_fp().alias("fp"))
        .filter(F.col("doc_id") >= b)
        .join(old, "fp", "left")
        .groupBy("fp")
        .applyInPandasWithState(
            _ingest_dedup_fn,
            outputStructType=(
                "fp string, upd bigint, ids array<bigint>, in_old boolean"
            ),
            stateStructType="ids array<bigint>, in_old boolean, upd bigint",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    per_batch = run_to_tables([(stream, "ingest_dedup_demote_test")], mode="update")[0]
    rows = per_batch.collect()
    # the duplicate fingerprint must have been emitted twice: first with
    # only the larger id (provisional novel), then with both
    dup_emits = sorted(
        (r for r in rows if len(r.ids) >= 1 and b + 9 in r.ids),
        key=lambda r: r.upd,
    )
    assert len(dup_emits) == 2
    assert list(dup_emits[0].ids) == [b + 9]
    assert list(dup_emits[1].ids) == [b + 3, b + 9]
    last = per_batch.groupBy("fp").agg(
        F.max(F.struct("upd", "ids", "in_old")).alias("s")
    )
    status = {}
    for r in last.collect():
        first = min(r.s.ids)
        for i in r.s.ids:
            status[i] = (
                "dup_of_old"
                if r.s.in_old
                else ("dup_in_batch" if i != first else "novel")
            )
    assert status[b + 9] == "dup_in_batch"  # demoted after batch 2
    assert status[b + 3] == "novel"
    assert status[b + 5] == "dup_of_old"
    assert status[b + 7] == "novel"


def test_stream_ohlc_multibatch_merges_struct_extremes(spark, sf_dir, tmp_path):
    """Splitting the event log at the time median puts the boundary hour's
    OPEN in trigger 1 and its CLOSE in trigger 2 — the final bars must
    still equal the batch resample, proving the struct-extreme state
    merges across micro-batches (not just within one)."""
    import os

    from mapreduce_infrastructure_spark.catalog import load_table
    from mapreduce_infrastructure_spark.operators.temporal import (
        ohlc_hourly_purchases,
    )
    from mapreduce_infrastructure_spark.streaming.stream import run_to_tables

    cols = ["hr", "open", "high", "low", "close", "n_trades"]
    want = _rows(ohlc_hourly_purchases(spark, sf_dir), cols)

    ev = load_table(spark, sf_dir, "events")
    src = str(tmp_path / "src")
    os.makedirs(src)
    mid = ev.agg(F.expr("percentile_approx(unix_micros(ts), 0.5)")).collect()[0][0]
    # Not on an hour boundary -> the median hour genuinely straddles both
    # triggers (its open arrives in batch 1, its close in batch 2).
    assert mid % 3_600_000_000 != 0
    ev.filter(F.expr(f"unix_micros(ts) < {mid}")).coalesce(1).write.parquet(src + "/b=1")
    ev.filter(F.expr(f"unix_micros(ts) >= {mid}")).coalesce(1).write.parquet(src + "/b=2")
    schema = (
        "event_id bigint, ts timestamp, user_id bigint, event_type string,"
        " value double, props string"
    )
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/b=*")
    )
    e = raw.filter(F.col("event_type") == "purchase").select(
        F.expr("unix_micros(ts) div 3600000000").alias("hr"),
        F.unix_micros(F.col("ts")).alias("us"),
        "event_id",
        "value",
    )
    agg = e.groupBy("hr").agg(
        F.min(F.struct("us", "event_id", "value"))["value"].alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max(F.struct("us", "event_id", "value"))["value"].alias("close"),
        F.count(F.lit(1)).alias("n_trades"),
    )
    got = _rows(run_to_tables([(agg, "ohlc_split_test")], mode="complete")[0], cols)
    assert got == want


def test_stream_full_join_multibatch_same_final_set(spark, sf_dir, tmp_path):
    """The full-outer stream-stream join must reach the same final result
    set when the event log replays across two time-ordered triggers —
    null-padded rows for BOTH sides are watermark-determined, not
    trigger-determined."""
    import os

    from mapreduce_infrastructure_spark.catalog import load_table
    from mapreduce_infrastructure_spark.streaming.stream import (
        run_to_tables,
        stream_full_join_click_purchase,
    )

    single = {
        (r.click_id, r.purchase_id)
        for r in stream_full_join_click_purchase(spark, sf_dir).collect()
    }
    assert any(c is None for c, _ in single)  # both null-padded kinds exist
    assert any(p is None for _, p in single)

    ev = load_table(spark, sf_dir, "events")
    src = str(tmp_path / "src")
    os.makedirs(src)
    mid = ev.agg(F.expr("percentile_approx(unix_micros(ts), 0.5)")).collect()[0][0]
    ev.filter(F.expr(f"unix_micros(ts) < {mid}")).coalesce(1).write.parquet(src + "/b=1")
    ev.filter(F.expr(f"unix_micros(ts) >= {mid}")).coalesce(1).write.parquet(src + "/b=2")
    schema = (
        "event_id bigint, ts timestamp, user_id bigint, event_type string,"
        " value double, props string"
    )
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/b=*")
    )
    clicks = (
        raw.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    purchases = (
        raw.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 30 MINUTES")),
        "full_outer",
    ).select("click_id", "purchase_id")
    (out,) = run_to_tables([(joined, "full_join_split_test")], mode="append")
    got = {(r.click_id, r.purchase_id) for r in out.collect()}
    assert got == single


def test_stream_dow_hour_profile_matches_batch_twin(spark, sf_dir):
    """The streaming seasonality profile must equal the batch twin
    row-for-row (shared oracle constant; this pins the engine sides too),
    and the incremental aggregate's post-sink share/chi2 derivation must
    reproduce the batch expressions exactly."""
    from mapreduce_infrastructure_spark.operators.temporal import (
        events_dow_hour_profile,
    )
    from mapreduce_infrastructure_spark.streaming.stream import (
        stream_dow_hour_profile,
    )

    batch = {
        (r.event_type, r.dow, r.hour): (r.n_events, r.share, r.chi2_term)
        for r in events_dow_hour_profile(spark, sf_dir).collect()
    }
    stream = {
        (r.event_type, r.dow, r.hour): (r.n_events, r.share, r.chi2_term)
        for r in stream_dow_hour_profile(spark, sf_dir).collect()
    }
    assert stream == batch
    # registered oracles are the same object (cannot drift)
    from mapreduce_infrastructure_spark.registry import all_queries

    qs = all_queries()
    assert qs["stream_dow_hour_profile"].oracle == qs["events_dow_hour_profile"].oracle


def test_order_backlog_scalar_reference(spark, sf_dir):
    """Python recount of the open-order backlog series plus the
    conservation law: backlog returns to ZERO on the last event day
    (every order closes — total opens == total closes). NOTE the
    synthetic fixture does NOT enforce shipdate >= orderdate (some lines
    ship before their order date), so intermediate backlog values may
    legitimately dip negative; the series is still the exact cumulative
    of the event deltas, which is what the recount pins."""
    import pyarrow.parquet as pq

    from mapreduce_infrastructure_spark.operators.temporal import (
        order_fulfillment_backlog,
    )

    rows = sorted(
        order_fulfillment_backlog(spark, sf_dir).collect(), key=lambda r: r.day
    )
    o = pq.read_table(
        f"{sf_dir}/orders.parquet", columns=["o_orderkey", "o_orderdate"]
    ).to_pydict()
    li = pq.read_table(
        f"{sf_dir}/lineitem.parquet", columns=["l_orderkey", "l_shipdate"]
    ).to_pydict()
    dopen = {
        k: int(d.timestamp()) // 86400
        for k, d in zip(o["o_orderkey"], o["o_orderdate"])
    }
    dclose = {}
    for k, d in zip(li["l_orderkey"], li["l_shipdate"]):
        day = int(d.timestamp()) // 86400
        dclose[k] = max(dclose.get(k, -(10**9)), day)
    ev = {}
    for k, dc in dclose.items():
        do = dopen[k]
        op, cl = ev.get(do, (0, 0))
        ev[do] = (op + 1, cl)
        op, cl = ev.get(dc, (0, 0))
        ev[dc] = (op, cl + 1)
    bk, want = 0, {}
    for day in sorted(ev):
        op, cl = ev[day]
        bk += op - cl
        want[day] = (op, cl, bk)
    got = {r.day: (r.n_opened, r.n_closed, r.backlog) for r in rows}
    assert got == want
    assert rows[-1].backlog == 0


def test_stream_backlog_daily_matches_batch_twin(spark, sf_dir):
    """The streaming backlog series must equal the batch twin
    row-for-row (shared BACKLOG_ORACLE constant; this pins the engine
    sides too), including the conservation-to-zero law the batch test
    asserts."""
    from mapreduce_infrastructure_spark.operators.temporal import (
        order_fulfillment_backlog,
    )
    from mapreduce_infrastructure_spark.streaming.stream import (
        stream_backlog_daily,
    )

    batch = {
        r.day: (r.n_opened, r.n_closed, r.backlog)
        for r in order_fulfillment_backlog(spark, sf_dir).collect()
    }
    stream = {
        r.day: (r.n_opened, r.n_closed, r.backlog)
        for r in stream_backlog_daily(spark, sf_dir).collect()
    }
    assert stream == batch
    assert stream[max(stream)][2] == 0
    # registered oracles are the same object (cannot drift)
    from mapreduce_infrastructure_spark.registry import all_queries

    qs = all_queries()
    assert (
        qs["stream_backlog_daily"].oracle
        == qs["order_fulfillment_backlog"].oracle
    )


def test_stream_trade_balance_matrix_matches_batch_twin(spark, sf_dir):
    """The stream-static-join matrix twin must equal the batch star join
    cell-for-cell (counts, exact cents, IEEE share), and the registered
    oracles must be the same object."""
    from mapreduce_infrastructure_spark.operators.tpch_extra import (
        nation_trade_balance_matrix,
    )
    from mapreduce_infrastructure_spark.streaming.stream import (
        stream_trade_balance_matrix,
    )

    batch = {
        (r.cust_nation, r.supp_nation): (
            r.n_lines,
            r.revenue_cents,
            r.revenue_share,
        )
        for r in nation_trade_balance_matrix(spark, sf_dir).collect()
    }
    stream = {
        (r.cust_nation, r.supp_nation): (
            r.n_lines,
            r.revenue_cents,
            r.revenue_share,
        )
        for r in stream_trade_balance_matrix(spark, sf_dir).collect()
    }
    assert stream == batch
    from mapreduce_infrastructure_spark.registry import all_queries

    qs = all_queries()
    assert (
        qs["stream_trade_balance_matrix"].oracle
        == qs["nation_trade_balance_matrix"].oracle
    )


def test_stream_weekly_trend_matches_batch_twin(spark, sf_dir):
    """The streaming weekly trend must equal the batch twin row-for-row
    (shared WEEKLY_TREND_ORACLE constant), including the NULL-prev first
    week and NULL-after-gap convention."""
    from mapreduce_infrastructure_spark.operators.temporal import (
        order_volume_weekly_trend,
    )
    from mapreduce_infrastructure_spark.streaming.stream import (
        stream_weekly_trend,
    )

    batch = {
        r.week: (
            r.n_orders,
            r.revenue_cents,
            r.prev_n_orders,
            r.wow_delta_orders,
            r.wow_ratio,
        )
        for r in order_volume_weekly_trend(spark, sf_dir).collect()
    }
    stream = {
        r.week: (
            r.n_orders,
            r.revenue_cents,
            r.prev_n_orders,
            r.wow_delta_orders,
            r.wow_ratio,
        )
        for r in stream_weekly_trend(spark, sf_dir).collect()
    }
    assert stream == batch
    from mapreduce_infrastructure_spark.registry import all_queries

    qs = all_queries()
    assert (
        qs["stream_weekly_trend"].oracle
        == qs["order_volume_weekly_trend"].oracle
    )


def test_stream_event_mix_drift_matches_batch_twin(spark, sf_dir):
    """The streaming mix-drift twin must equal the batch twin
    cell-for-cell (shared EVENT_MIX_DRIFT_ORACLE constant), including
    the NULL prev/chi2 convention on first-observed weeks."""
    from mapreduce_infrastructure_spark.operators.temporal import (
        event_mix_weekly_drift,
    )
    from mapreduce_infrastructure_spark.streaming.stream import (
        stream_event_mix_drift,
    )

    batch = {
        (r.week, r.event_type): (
            r.n_events,
            r.week_total,
            r.share,
            r.prev_n,
            r.chi2_term,
        )
        for r in event_mix_weekly_drift(spark, sf_dir).collect()
    }
    stream = {
        (r.week, r.event_type): (
            r.n_events,
            r.week_total,
            r.share,
            r.prev_n,
            r.chi2_term,
        )
        for r in stream_event_mix_drift(spark, sf_dir).collect()
    }
    assert stream == batch
    from mapreduce_infrastructure_spark.registry import all_queries

    qs = all_queries()
    assert (
        qs["stream_event_mix_drift"].oracle
        == qs["event_mix_weekly_drift"].oracle
    )


def test_stream_leadtime_weekly_trend_matches_batch_twin(spark, sf_dir):
    """The streaming lead-time trend must equal the batch twin
    row-for-row (shared LEADTIME_WEEKLY_ORACLE constant): same weeks,
    same line counts, same discrete p50/p90 selections — the
    histogram-cell state bridge cannot drift from the batch histogram
    closed form."""
    from mapreduce_infrastructure_spark.operators.tpch_extra import (
        leadtime_weekly_trend,
    )
    from mapreduce_infrastructure_spark.streaming.stream import (
        stream_leadtime_weekly_trend,
    )

    batch = {
        r.week: (r.n_lines, r.p50_lag_days, r.p90_lag_days)
        for r in leadtime_weekly_trend(spark, sf_dir).collect()
    }
    stream = {
        r.week: (r.n_lines, r.p50_lag_days, r.p90_lag_days)
        for r in stream_leadtime_weekly_trend(spark, sf_dir).collect()
    }
    assert stream == batch
    # oracle sharing is literal, not a copy
    from mapreduce_infrastructure_spark.registry import all_queries

    qs = all_queries()
    assert (
        qs["stream_leadtime_weekly_trend"].oracle
        is qs["leadtime_weekly_trend"].oracle
    )


def test_stream_user_lifetime_spans_matches_batch_twin(spark, sf_dir):
    """The streaming lifetime-span report must equal the batch twin
    row-for-row (shared USER_LIFETIME_SPAN_ORACLE constant and shared
    _lifetime_span_report tail): same cohorts, same user counts, same
    discrete p50/p90 span selections."""
    from mapreduce_infrastructure_spark.operators.temporal import (
        events_user_lifetime_span_percentiles,
    )
    from mapreduce_infrastructure_spark.streaming.stream import (
        stream_user_lifetime_spans,
    )

    batch = {
        r.first_type: (r.n_users, r.p50_span_us, r.p90_span_us)
        for r in events_user_lifetime_span_percentiles(spark, sf_dir).collect()
    }
    stream = {
        r.first_type: (r.n_users, r.p50_span_us, r.p90_span_us)
        for r in stream_user_lifetime_spans(spark, sf_dir).collect()
    }
    assert stream == batch
    from mapreduce_infrastructure_spark.registry import all_queries

    qs = all_queries()
    assert (
        qs["stream_user_lifetime_spans"].oracle
        is qs["events_user_lifetime_span_percentiles"].oracle
    )


def test_stream_return_rate_matrix_matches_batch_twin(spark, sf_dir):
    """The streaming return-rate matrix must equal the batch twin
    cell-for-cell (shared RETURN_RATE_ORACLE constant): same star-join
    enrich, same exact counts, same one-division rates."""
    from mapreduce_infrastructure_spark.operators.tpch_extra import (
        return_rate_by_nation_parttype,
    )
    from mapreduce_infrastructure_spark.streaming.stream import (
        stream_return_rate_matrix,
    )

    batch = {
        (r.supp_nation, r.p_type): (r.n_lines, r.n_returned, r.return_rate)
        for r in return_rate_by_nation_parttype(spark, sf_dir).collect()
    }
    stream = {
        (r.supp_nation, r.p_type): (r.n_lines, r.n_returned, r.return_rate)
        for r in stream_return_rate_matrix(spark, sf_dir).collect()
    }
    assert stream == batch
    from mapreduce_infrastructure_spark.registry import all_queries

    qs = all_queries()
    assert (
        qs["stream_return_rate_matrix"].oracle
        is qs["return_rate_by_nation_parttype"].oracle
    )


def test_stream_pricing_summary_matches_batch_twin(spark, sf_dir):
    """The streaming flagship aggregate must equal the batch q1
    bit-for-bit (shared Q1_ORACLE constant): DECIMAL power-sum state
    makes micro-batch arrival order irrelevant, so every rounded double
    and every count agrees exactly."""
    from mapreduce_infrastructure_spark.operators.relational import (
        q1_pricing_summary,
    )
    from mapreduce_infrastructure_spark.streaming.stream import (
        stream_pricing_summary,
    )

    cols = (
        "sum_qty sum_base_price sum_disc_price sum_charge avg_qty "
        "avg_price count_order"
    ).split()
    batch = {
        (r.l_returnflag, r.l_linestatus): tuple(getattr(r, c) for c in cols)
        for r in q1_pricing_summary(spark, sf_dir).collect()
    }
    stream = {
        (r.l_returnflag, r.l_linestatus): tuple(getattr(r, c) for c in cols)
        for r in stream_pricing_summary(spark, sf_dir).collect()
    }
    assert stream == batch
    from mapreduce_infrastructure_spark.registry import all_queries

    qs = all_queries()
    assert (
        qs["stream_pricing_summary"].oracle is qs["q1_pricing_summary"].oracle
    )


def test_stream_part_demand_concentration_matches_batch_twin(spark, sf_dir):
    """The streaming part-demand skew report must equal the batch twin
    exactly (shared PART_DEMAND_ORACLE constant): same per-part counts,
    same discrete thresholds, same one-division share."""
    from mapreduce_infrastructure_spark.operators.stats import (
        part_demand_concentration,
    )
    from mapreduce_infrastructure_spark.streaming.stream import (
        stream_part_demand_concentration,
    )

    cols = (
        "n_parts p50_lines p90_lines n_top_parts top_lines top_line_share"
    ).split()
    b = part_demand_concentration(spark, sf_dir).collect()[0]
    s = stream_part_demand_concentration(spark, sf_dir).collect()[0]
    assert tuple(getattr(s, c) for c in cols) == tuple(
        getattr(b, c) for c in cols
    )
    from mapreduce_infrastructure_spark.registry import all_queries

    qs = all_queries()
    assert (
        qs["stream_part_demand_concentration"].oracle
        is qs["part_demand_concentration"].oracle
    )


def test_stream_doc_token_concentration_matches_batch_twin(spark, sf_dir):
    """The streaming token-mass concentration must equal the batch twin
    row-for-row (shared DOC_TOKEN_CONCENTRATION_ORACLE): the two forms
    DERIVE the threshold differently by design (batch: stratified
    narrower over per-doc rows; stream: histogram closed form over the
    sink cells) — this equality is what pins that percentile_disc
    semantics agree between the forms."""
    from mapreduce_infrastructure_spark.llm.text import (
        doc_token_concentration_by_source,
    )
    from mapreduce_infrastructure_spark.streaming.stream import (
        stream_doc_token_concentration,
    )

    cols = "n_docs threshold_tokens n_top top_tokens top_token_share".split()
    batch = {
        r.source: tuple(getattr(r, c) for c in cols)
        for r in doc_token_concentration_by_source(spark, sf_dir).collect()
    }
    stream = {
        r.source: tuple(getattr(r, c) for c in cols)
        for r in stream_doc_token_concentration(spark, sf_dir).collect()
    }
    assert stream == batch
    from mapreduce_infrastructure_spark.registry import all_queries

    qs = all_queries()
    assert (
        qs["stream_doc_token_concentration"].oracle
        is qs["doc_token_concentration_by_source"].oracle
    )


def test_stream_orders_priority_mix_drift_matches_batch_twin(spark, sf_dir):
    """The streaming priority-mix drift must equal the batch twin
    cell-for-cell (shared ORDERS_PRIORITY_MIX_ORACLE), including the
    NULL prev/chi2 convention on first-observed and after-gap weeks."""
    from mapreduce_infrastructure_spark.operators.temporal import (
        orders_priority_mix_weekly_drift,
    )
    from mapreduce_infrastructure_spark.streaming.stream import (
        stream_orders_priority_mix_drift,
    )

    cols = "n_orders week_total share prev_n chi2_term".split()
    batch = {
        (r.week, r.o_orderpriority): tuple(getattr(r, c) for c in cols)
        for r in orders_priority_mix_weekly_drift(spark, sf_dir).collect()
    }
    stream = {
        (r.week, r.o_orderpriority): tuple(getattr(r, c) for c in cols)
        for r in stream_orders_priority_mix_drift(spark, sf_dir).collect()
    }
    assert stream == batch
    from mapreduce_infrastructure_spark.registry import all_queries

    qs = all_queries()
    assert (
        qs["stream_orders_priority_mix_drift"].oracle
        is qs["orders_priority_mix_weekly_drift"].oracle
    )


def test_stream_discount_band_matches_batch_twin(spark, sf_dir):
    """The streaming pricing-band report must equal the batch twin
    bit-for-bit (shared DISCOUNT_BAND_ORACLE constant): int64 counter +
    exact DECIMAL cost state makes micro-batch arrival order irrelevant,
    so every band's counts and the one-division percent agree exactly."""
    from mapreduce_infrastructure_spark.operators.tpch_extra import (
        discount_band_margin_report,
    )
    from mapreduce_infrastructure_spark.streaming.stream import (
        stream_discount_band_margin,
    )

    cols = "n_lines total_qty gross_cents discount_cost_pct".split()
    batch = {
        r.discount_pct: tuple(getattr(r, c) for c in cols)
        for r in discount_band_margin_report(spark, sf_dir).collect()
    }
    stream = {
        r.discount_pct: tuple(getattr(r, c) for c in cols)
        for r in stream_discount_band_margin(spark, sf_dir).collect()
    }
    assert stream == batch
    from mapreduce_infrastructure_spark.registry import all_queries

    qs = all_queries()
    assert (
        qs["stream_discount_band_margin"].oracle
        is qs["discount_band_margin_report"].oracle
    )


def test_stream_order_linecount_matches_batch_twin(spark, sf_dir):
    """The streaming fan-out distribution must equal the batch twin
    exactly (shared ORDER_LINECOUNT_ORACLE constant + the shared
    _linecount_report tail): same cells, same shares, same cumulative."""
    from mapreduce_infrastructure_spark.operators.stats import (
        order_linecount_distribution,
    )
    from mapreduce_infrastructure_spark.streaming.stream import (
        stream_order_linecount_distribution,
    )

    cols = "n_orders n_lines order_share line_share cum_order_share".split()
    batch = {
        r.lines_per_order: tuple(getattr(r, c) for c in cols)
        for r in order_linecount_distribution(spark, sf_dir).collect()
    }
    stream = {
        r.lines_per_order: tuple(getattr(r, c) for c in cols)
        for r in stream_order_linecount_distribution(spark, sf_dir).collect()
    }
    assert stream == batch
    from mapreduce_infrastructure_spark.registry import all_queries

    qs = all_queries()
    assert (
        qs["stream_order_linecount_distribution"].oracle
        is qs["order_linecount_distribution"].oracle
    )


def test_stream_customer_revenue_concentration_matches_batch_twin(
    spark, sf_dir
):
    """The streaming whale-watch report must equal the batch twin
    exactly (shared CUSTOMER_REV_CONCENTRATION_ORACLE constant + the
    shared _revenue_concentration_report tail): same exact thresholds,
    same membership counts, same one-division shares."""
    from mapreduce_infrastructure_spark.operators.stats import (
        customer_revenue_concentration,
    )
    from mapreduce_infrastructure_spark.streaming.stream import (
        stream_customer_revenue_concentration,
    )

    cols = "threshold_cents n_customers revenue_cents revenue_share".split()
    batch = {
        r.pct: tuple(getattr(r, c) for c in cols)
        for r in customer_revenue_concentration(spark, sf_dir).collect()
    }
    stream = {
        r.pct: tuple(getattr(r, c) for c in cols)
        for r in stream_customer_revenue_concentration(
            spark, sf_dir
        ).collect()
    }
    assert stream == batch
    from mapreduce_infrastructure_spark.registry import all_queries

    qs = all_queries()
    assert (
        qs["stream_customer_revenue_concentration"].oracle
        is qs["customer_revenue_concentration"].oracle
    )


def test_stream_priority_sla_matches_batch_twin(spark, sf_dir):
    """The streaming SLA profile must equal the batch twin exactly
    (shared PRIORITY_SLA_ORACLE constant + the shared
    _priority_sla_report tail): same histogram cells, same discrete
    percentiles, same late share."""
    from mapreduce_infrastructure_spark.operators.tpch_extra import (
        priority_leadtime_sla_profile,
    )
    from mapreduce_infrastructure_spark.streaming.stream import (
        stream_priority_leadtime_sla,
    )

    cols = (
        "n_lines p50_lag_days p90_lag_days p99_lag_days n_late late_share"
    ).split()
    batch = {
        r.o_orderpriority: tuple(getattr(r, c) for c in cols)
        for r in priority_leadtime_sla_profile(spark, sf_dir).collect()
    }
    stream = {
        r.o_orderpriority: tuple(getattr(r, c) for c in cols)
        for r in stream_priority_leadtime_sla(spark, sf_dir).collect()
    }
    assert stream == batch
    from mapreduce_infrastructure_spark.registry import all_queries

    qs = all_queries()
    assert (
        qs["stream_priority_leadtime_sla"].oracle
        is qs["priority_leadtime_sla_profile"].oracle
    )


def test_stream_modal_priority_matches_batch_twin(spark, sf_dir):
    """The streaming grouped mode must equal the batch twin exactly
    (shared MODAL_PRIORITY_ORACLE constant + the shared
    _modal_priority_report tail): same cell counts, same (−cnt, priority)
    tie order, same modal share."""
    from mapreduce_infrastructure_spark.operators.tpch_extra import (
        modal_priority_by_nation,
    )
    from mapreduce_infrastructure_spark.streaming.stream import (
        stream_modal_priority_by_nation,
    )

    cols = "modal_priority n_orders nation_total modal_share".split()
    batch = {
        r.nation: tuple(getattr(r, c) for c in cols)
        for r in modal_priority_by_nation(spark, sf_dir).collect()
    }
    stream = {
        r.nation: tuple(getattr(r, c) for c in cols)
        for r in stream_modal_priority_by_nation(spark, sf_dir).collect()
    }
    assert stream == batch
    from mapreduce_infrastructure_spark.registry import all_queries

    qs = all_queries()
    assert (
        qs["stream_modal_priority_by_nation"].oracle
        is qs["modal_priority_by_nation"].oracle
    )


def test_stream_events_value_dow_hour_matches_batch_twin(spark, sf_dir):
    """The streaming value-weighted calendar profile must equal the batch
    twin exactly (shared DOW_HOUR_VALUE_ORACLE constant + the shared
    _dow_hour_value_report tail): same cell counts and masses, same
    shares, same value-per-event index."""
    from mapreduce_infrastructure_spark.operators.stats import (
        events_value_weighted_dow_hour_profile,
    )
    from mapreduce_infrastructure_spark.streaming.stream import (
        stream_events_value_dow_hour_profile,
    )

    cols = (
        "n_events value_micro event_share value_share "
        "value_per_event_index".split()
    )
    batch = {
        (r.dow, r.hour_utc): tuple(getattr(r, c) for c in cols)
        for r in events_value_weighted_dow_hour_profile(
            spark, sf_dir
        ).collect()
    }
    stream = {
        (r.dow, r.hour_utc): tuple(getattr(r, c) for c in cols)
        for r in stream_events_value_dow_hour_profile(spark, sf_dir).collect()
    }
    assert stream == batch
    assert len(batch) <= 168
    from mapreduce_infrastructure_spark.registry import all_queries

    qs = all_queries()
    assert (
        qs["stream_events_value_dow_hour_profile"].oracle
        is qs["events_value_weighted_dow_hour_profile"].oracle
    )


def test_stream_events_user_value_concentration_matches_batch_twin(
    spark, sf_dir
):
    """The streaming user value-concentration report must equal the
    batch twin exactly (shared EVENTS_USER_VALUE_CONCENTRATION_ORACLE
    constant + the shared _revenue_concentration_report tail): same
    five checkpoints, thresholds, user counts, masses and shares."""
    from mapreduce_infrastructure_spark.operators.stats import (
        events_user_value_concentration,
    )
    from mapreduce_infrastructure_spark.streaming.stream import (
        stream_events_user_value_concentration,
    )

    cols = "threshold_micro n_users value_micro value_share".split()
    batch = {
        r.pct: tuple(getattr(r, c) for c in cols)
        for r in events_user_value_concentration(spark, sf_dir).collect()
    }
    stream = {
        r.pct: tuple(getattr(r, c) for c in cols)
        for r in stream_events_user_value_concentration(
            spark, sf_dir
        ).collect()
    }
    assert stream == batch
    assert set(batch) == {50, 75, 90, 95, 99}
    from mapreduce_infrastructure_spark.registry import all_queries

    qs = all_queries()
    assert (
        qs["stream_events_user_value_concentration"].oracle
        is qs["events_user_value_concentration"].oracle
    )


def test_bridge_stops_started_queries_when_a_later_start_fails(spark, sf_dir):
    """A failing second start() must not leak the first query: the bridge
    stops every query it started before re-raising, so nothing stays
    active and a retry under the same sink names succeeds. The first
    stream sleeps in its micro-batch so it is still running when the
    second start() fails."""
    import time

    import pytest

    from mapreduce_infrastructure_spark.streaming.stream import (
        run_to_tables,
        stream_events,
    )

    def slow(batches):
        time.sleep(3)
        yield from batches

    ev = stream_events(spark, sf_dir).select("event_type")
    slow_counts = (
        ev.mapInPandas(slow, "event_type string")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    names = ("bridge_leak_first", "bridge_leak_second")
    # complete mode needs an aggregate: the second start() raises
    with pytest.raises(Exception):
        run_to_tables([(slow_counts, names[0]), (ev, names[1])])
    assert spark.streams.active == []
    counts = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    first, second = run_to_tables([(slow_counts, names[0]), (counts, names[1])])
    assert _rows(first, ["event_type", "n"]) == _rows(second, ["event_type", "n"])
    assert spark.streams.active == []
