"""Structured Streaming layer tests: microbatch incremental materialization
(checkpointed, no reprocessing), watermarked window aggregation, and the
stateful sessionizer vs its batch oracle (ev1_sessionize)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from dbt_analytics_spark.sources import load_testdata
from dbt_analytics_spark.streaming import (
    microbatch_append,
    sessionized_counts_stateful,
    watermarked_window_agg,
)

from .conftest import SF_DIR


@pytest.fixture()
def events(spark):
    return load_testdata(spark, SF_DIR)["events"]


def test_microbatch_append_incremental(spark, events, tmp_path):
    """Second run after new files land processes ONLY the new files."""
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    batch1 = events.filter(F.col("user_id") % 2 == 0)
    batch2 = events.filter(F.col("user_id") % 2 == 1)
    batch1.write.mode("append").parquet(src)

    def transform(df):
        return df.select("event_id", "user_id", "event_type")

    microbatch_append(spark, src, out, ckpt, transform)
    n1 = spark.read.parquet(out).count()
    assert n1 == batch1.count()

    batch2.write.mode("append").parquet(src)
    microbatch_append(spark, src, out, ckpt, transform)
    got = spark.read.parquet(out)
    assert got.count() == events.count()  # batch1 NOT reprocessed
    assert got.select("event_id").distinct().count() == events.count()


def test_watermarked_window_agg_batch_parity(spark, events):
    """The windowed plan runs identically on a batch frame; totals must
    match a plain groupBy."""
    agg = watermarked_window_agg(
        events, ts_col="ts", key_col="event_type", window_duration="1 day"
    )
    assert set(agg.columns) == {"window_start", "window_end", "event_type", "n_events"}
    total = agg.agg(F.sum("n_events")).collect()[0][0]
    assert total == events.count()
    # Each (window, key) bucket must equal the direct date_trunc rollup.
    direct = (
        events.groupBy(
            F.date_trunc("day", "ts").alias("window_start"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n_direct"))
    )
    joined = agg.join(direct, ["window_start", "event_type"], "full")
    bad = joined.filter(
        F.col("n_events").isNull()
        | F.col("n_direct").isNull()
        | (F.col("n_events") != F.col("n_direct"))
    )
    assert bad.count() == 0


def test_watermarked_window_agg_streaming(spark, events, tmp_path):
    """Same plan as a real stream: availableNow file source → memory sink."""
    src = str(tmp_path / "src")
    events.write.parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    agg = watermarked_window_agg(
        stream, ts_col="ts", key_col="event_type", window_duration="1 day"
    )
    q = (
        agg.writeStream.queryName("win_test")
        .format("memory")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.sql("select sum(n_events) from win_test").collect()[0][0]
    assert got == events.count()


def test_stateful_sessionizer_matches_batch_oracle(spark, events, tmp_path):
    """applyInPandasWithState sessionizer over a stream must agree with the
    lag-window batch formulation (ev1_sessionize) on sessions per user."""
    src = str(tmp_path / "src")
    events.write.parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)

    sessions = sessionized_counts_stateful(stream)
    q = (
        sessions.writeStream.queryName("sess_test")
        .format("memory")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.sql(
        """
        select user_id,
               count(distinct session_id) as n_sessions,
               sum(n_events) as n_events
        from (select user_id, session_id, max(n_events) as n_events
              from sess_test group by 1, 2)
        group by 1
        """
    )

    from dbt_analytics_spark.queries.core import ev1_sessionize

    oracle = ev1_sessionize(spark, SF_DIR)
    joined = got.join(
        oracle.withColumnRenamed("n_sessions", "o_sessions").withColumnRenamed(
            "n_events", "o_events"
        ),
        "user_id",
        "full",
    )
    bad = joined.filter(
        (F.col("n_sessions") != F.col("o_sessions"))
        | (F.col("n_events") != F.col("o_events"))
        | F.col("n_sessions").isNull()
        | F.col("o_sessions").isNull()
    )
    assert bad.count() == 0


def test_stream_stream_interval_join(spark, events, tmp_path):
    """Streaming join (availableNow) produces the same pairs as the
    identical plan run in batch mode."""
    from dbt_analytics_spark.streaming import stream_stream_interval_join
    from dbt_analytics_spark.streaming.incremental import stream_from_parquet_dir

    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("l_ts")
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("r_ts")
    )
    expected = stream_stream_interval_join(clicks, purchases).count()
    assert expected > 0

    lsrc, rsrc, out, ckpt = (str(tmp_path / d) for d in ("l", "r", "out", "ckpt"))
    clicks.write.parquet(lsrc)
    purchases.write.parquet(rsrc)
    joined = stream_stream_interval_join(
        stream_from_parquet_dir(spark, lsrc), stream_from_parquet_dir(spark, rsrc)
    )
    (
        joined.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
        .awaitTermination(120)
    )
    got = spark.read.parquet(out).count()
    assert got == expected


def test_microbatch_strategy_batch_granular(spark):
    # dbt microbatch as batch-granular partition overwrites: first run
    # processes every batch from `begin`; re-runs replace only the trailing
    # `lookback` window plus newer batches, idempotently.
    import datetime as dt

    from dbt_analytics_spark.plans import Project

    def rows(day, n, val):
        return [
            (f"e{day}_{i}", dt.datetime(2024, 1, day, 8 + i), float(val))
            for i in range(n)
        ]

    state = {"rows": rows(1, 2, 1.0) + rows(2, 3, 1.0) + rows(3, 1, 1.0)}
    p = Project(spark, name="mb")

    @p.model(
        materialized="incremental",
        incremental_strategy="microbatch",
        event_time="ts",
        batch_size="day",
        begin="2024-01-01",
        lookback=1,
        name="mb_events",
    )
    def mb_events(ctx):
        return ctx.spark.createDataFrame(state["rows"], "id string, ts timestamp, v double")

    res = {r.node: r for r in p.run(select="mb_events")}
    assert res["mb_events"].status == "success"
    assert spark.table("mb_events").count() == 6
    batch_status = {r.node: r.status for r in p.batch_results}
    assert batch_status == {
        "mb_events[batch=2024-01-01]": "success",
        "mb_events[batch=2024-01-02]": "success",
        "mb_events[batch=2024-01-03]": "success",
    }

    # Second run: day-3 restated (2 rows now), day-4 new, and a LATE day-1
    # row that lookback=1 must NOT pick up.
    state["rows"] = (
        rows(1, 5, 9.0) + rows(3, 2, 2.0) + rows(4, 2, 2.0)
    )
    p2 = Project(spark, name="mb")
    p2.nodes = p.nodes
    res2 = {r.node: r for r in p2.run(select="mb_events")}
    assert res2["mb_events"].status == "success"
    got = {
        r["d"]: (r["n"], r["sv"])
        for r in spark.table("mb_events")
        .groupBy(F.col("__batch").alias("d"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("sv"))
        .collect()
    }
    assert got[dt.date(2024, 1, 1)] == (2, 2.0)   # untouched (late data ignored)
    assert got[dt.date(2024, 1, 2)] == (3, 3.0)   # untouched
    assert got[dt.date(2024, 1, 3)] == (2, 4.0)   # replaced, not duplicated
    assert got[dt.date(2024, 1, 4)] == (2, 4.0)   # new batch appended
    assert {r.node for r in p2.batch_results} == {
        "mb_events[batch=2024-01-03]",
        "mb_events[batch=2024-01-04]",
    }

    # `begin` bound: pre-begin rows never materialize.
    state["rows"] = rows(3, 2, 2.0) + [
        ("old", dt.datetime(2023, 12, 25, 1), 5.0)
    ]
    p3 = Project(spark, name="mb")
    p3.nodes = p.nodes
    p3.run(select="mb_events")
    assert spark.table("mb_events").filter("ts < '2024-01-01'").count() == 0


def test_microbatch_failed_batch_isolated(spark):
    # A poisoned batch errors without blocking later batches (the dbt
    # retry-unit contract).
    import datetime as dt

    from pyspark.sql.types import DoubleType

    from dbt_analytics_spark.plans import Project

    @F.udf(DoubleType())
    def poison(v):
        if v == 666.0:
            raise ValueError("poisoned batch")
        return v

    p = Project(spark, name="mbfail")

    @p.model(
        materialized="incremental",
        incremental_strategy="microbatch",
        event_time="ts",
        batch_size="day",
        begin="2024-01-01",
        name="mbfail_events",
    )
    def mbfail_events(ctx):
        df = ctx.spark.createDataFrame(
            [
                ("a", dt.datetime(2024, 1, 1, 1), 1.0),
                ("b", dt.datetime(2024, 1, 2, 1), 666.0),
                ("c", dt.datetime(2024, 1, 3, 1), 3.0),
            ],
            "id string, ts timestamp, v double",
        )
        return df.withColumn("v", poison(F.col("v")))

    p.run(select="mbfail_events")
    status = {r.node: r.status for r in p.batch_results}
    assert status["mbfail_events[batch=2024-01-01]"] == "success"
    assert status["mbfail_events[batch=2024-01-02]"] == "error"
    assert status["mbfail_events[batch=2024-01-03]"] == "success"
    vals = {r["id"] for r in spark.table("mbfail_events").collect()}
    assert vals == {"a", "c"}


def test_microbatch_hour_granularity(spark):
    # batch_size='hour' keeps __batch as a timestamp; each hour is its own
    # retry/replace unit.
    import datetime as dt

    from dbt_analytics_spark.plans import Project

    p = Project(spark, name="mbh")

    @p.model(
        materialized="incremental",
        incremental_strategy="microbatch",
        event_time="ts",
        batch_size="hour",
        begin="2024-01-01",
        name="mbh_events",
    )
    def mbh_events(ctx):
        return ctx.spark.createDataFrame(
            [
                ("a", dt.datetime(2024, 1, 1, 9, 5), 1.0),
                ("b", dt.datetime(2024, 1, 1, 9, 55), 1.0),
                ("c", dt.datetime(2024, 1, 1, 11, 0), 1.0),
            ],
            "id string, ts timestamp, v double",
        )

    res = {r.node: r.status for r in p.run(select="mbh_events")}
    assert res["mbh_events"] == "success"
    labels = sorted(r.node for r in p.batch_results)
    assert labels == [
        "mbh_events[batch=2024-01-01 09:00:00]",
        "mbh_events[batch=2024-01-01 11:00:00]",
    ]
    assert spark.table("mbh_events").count() == 3


def test_dedup_stream_drops_redeliveries(spark, events, tmp_path):
    """At-least-once repair: a source containing every event twice (two
    parquet deliveries) must come out exactly-once, keyed on event_id."""
    from dbt_analytics_spark.streaming import dedup_stream

    src = str(tmp_path / "src")
    sample = events.filter(F.col("event_id") % 7 == 0).select(
        "event_id", "user_id", "event_type", "ts"
    )
    sample.write.mode("append").parquet(src)
    sample.write.mode("append").parquet(src)  # full re-delivery
    assert spark.read.parquet(src).count() == 2 * sample.count()

    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    # Watermark far wider than the testdata's time span: nothing is "late",
    # so every duplicate is inside the dedup horizon and must be dropped.
    deduped = dedup_stream(stream, ["event_id"], "ts", watermark="3650 days")
    q = (
        deduped.writeStream.queryName("dedup_test")
        .format("memory")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.sql("select event_id from dedup_test")
    assert got.count() == sample.count()
    assert got.distinct().count() == sample.count()


def test_finalized_sessions_exactly_once(spark, tmp_path):
    """finalized_sessions emits each closed session exactly once — by gap
    (in-batch) or by event-time timeout (watermark passes last+gap) — and
    keeps still-open sessions in state, unemitted."""
    import os
    import time as _time

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from dbt_analytics_spark.streaming.incremental import finalized_sessions

    t0 = pd.Timestamp("2026-01-01 00:00:00")
    m = pd.Timedelta(minutes=1)

    def write(name, rows, mtime):
        pdf = pd.DataFrame(rows, columns=["user_id", "ts"])
        pdf["user_id"] = pdf["user_id"].astype("int64")
        pdf["ts"] = pd.to_datetime(pdf["ts"]).astype("datetime64[us]")
        path = str(tmp_path / "src" / name)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pq.write_table(pa.Table.from_pandas(pdf), path)
        os.utime(path, (mtime, mtime))

    base = _time.time() - 1000
    # batch 1: user1 two events 10 min apart; user2 one event. All open.
    write("f1.parquet", [(1, t0), (1, t0 + 10 * m), (2, t0 + 1 * m)], base)
    # batch 2: user1 at t0+3h closes its session 0 by gap; user3 at t0+10h
    # drags the watermark far forward for the NEXT batch.
    write("f2.parquet", [(1, t0 + 180 * m), (3, t0 + 600 * m)], base + 10)
    # batch 3: a dummy event; during this batch the watermark (t0+9h30m)
    # fires the timeouts of user1 session 1 and user2 session 0.
    write("f3.parquet", [(4, t0 + 601 * m)], base + 20)

    schema = spark.read.parquet(str(tmp_path / "src")).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "src"))
    )
    q = (
        finalized_sessions(stream, gap="30 minutes", watermark="30 minutes")
        .writeStream.queryName("final_sess")
        .format("memory")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = {
        (r.user_id, r.start_ts): (r.n_events, r.end_ts)
        for r in spark.sql("select * from final_sess").collect()
    }
    assert rows == {
        (1, t0.to_pydatetime()): (2, (t0 + 10 * m).to_pydatetime()),
        (1, (t0 + 180 * m).to_pydatetime()): (1, (t0 + 180 * m).to_pydatetime()),
        (2, (t0 + 1 * m).to_pydatetime()): (1, (t0 + 1 * m).to_pydatetime()),
    }  # users 3 and 4 are still open → correctly unemitted


def test_finalized_sessions_allowed_late_event_merges(spark, tmp_path):
    """An in-horizon late event delivered in a later batch merges into the
    open session (widening its start backward) instead of mis-splitting it
    — and an over-gap-older late event emits as its own singleton."""
    import os
    import time as _time

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from dbt_analytics_spark.streaming.incremental import finalized_sessions

    t0 = pd.Timestamp("2026-01-01 10:00:00")
    m = pd.Timedelta(minutes=1)

    def write(name, rows, mtime):
        pdf = pd.DataFrame(rows, columns=["user_id", "ts"])
        pdf["user_id"] = pdf["user_id"].astype("int64")
        pdf["ts"] = pd.to_datetime(pdf["ts"]).astype("datetime64[us]")
        path = str(tmp_path / "src" / name)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pq.write_table(pa.Table.from_pandas(pdf), path)
        os.utime(path, (mtime, mtime))

    base = _time.time() - 1000
    # batch 1: open session for user 1 at 10:00 (watermark 1h → generous).
    write("f1.parquet", [(1, t0)], base)
    # batch 2: the review scenario — late 9:50 (within gap of the open
    # session's start → MERGE), then 10:25 (within gap of last → extend),
    # then a stray 9:15 event (above the 9:00 watermark so it is NOT
    # dropped, but > gap older than the session start → singleton),
    # then 12:00 closes the whole merged session by gap.
    write(
        "f2.parquet",
        [(1, t0 - 10 * m), (1, t0 + 25 * m), (1, t0 - 45 * m), (1, t0 + 120 * m)],
        base + 10,
    )

    schema = spark.read.parquet(str(tmp_path / "src")).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "src"))
    )
    q = (
        finalized_sessions(stream, gap="30 minutes", watermark="1 hour")
        .writeStream.queryName("late_sess")
        .format("memory")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = {
        (r.user_id, r.start_ts): (r.n_events, r.end_ts)
        for r in spark.sql("select * from late_sess").collect()
    }
    assert rows == {
        # the stray 9:15 event: singleton, emitted immediately
        (1, (t0 - 45 * m).to_pydatetime()): (1, (t0 - 45 * m).to_pydatetime()),
        # merged session 9:50–10:25 with 3 events, closed by the 12:00 event
        (1, (t0 - 10 * m).to_pydatetime()): (3, (t0 + 25 * m).to_pydatetime()),
    }  # the 12:00 session itself is still open → unemitted


def test_session_window_streaming_matches_batch(spark, events, tmp_path):
    """The built-in session_window aggregation runs as a watermarked stream
    (complete mode, availableNow) and must produce exactly the batch
    envelopes."""
    from dbt_analytics_spark.operators.sessionize import session_window_stats
    from dbt_analytics_spark.streaming.incremental import _ensure_event_time

    src = str(tmp_path / "src")
    events.write.parquet(src)
    schema = spark.read.parquet(src).schema
    stream = _ensure_event_time(
        spark.readStream.schema(schema).parquet(src), "ts"
    ).withWatermark("ts", "1 hour")
    q = (
        session_window_stats(stream, gap="30 minutes")
        .writeStream.queryName("sw_stream")
        .format("memory")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.user_id, r.session_start, r.session_end_ts, r.n_events)
        for r in spark.sql("select * from sw_stream").collect()
    }
    want = {
        (r.user_id, r.session_start, r.session_end_ts, r.n_events)
        for r in session_window_stats(events, gap="30 minutes").collect()
    }
    assert got == want


def test_finalized_sessions_consecutive_late_events_merge(spark, tmp_path):
    """Two in-horizon late events within gap of EACH OTHER (but > gap older
    than the open session) must emit as ONE older session, not two
    singletons."""
    import os
    import time as _time

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from dbt_analytics_spark.streaming.incremental import finalized_sessions

    t0 = pd.Timestamp("2026-01-01 10:00:00")
    m = pd.Timedelta(minutes=1)

    def write(name, rows, mtime):
        pdf = pd.DataFrame(rows, columns=["user_id", "ts"])
        pdf["user_id"] = pdf["user_id"].astype("int64")
        pdf["ts"] = pd.to_datetime(pdf["ts"]).astype("datetime64[us]")
        path = str(tmp_path / "src" / name)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pq.write_table(pa.Table.from_pandas(pdf), path)
        os.utime(path, (mtime, mtime))

    base = _time.time() - 1000
    # batch 1: open session at 10:00 (watermark 2h keeps everything live).
    write("f1.parquet", [(1, t0)], base)
    # batch 2: late 8:30 and 8:40 (within gap of each other, > gap older
    # than the open session) — ONE session; 12:00 then closes 10:00.
    write(
        "f2.parquet",
        [(1, t0 - 90 * m), (1, t0 - 80 * m), (1, t0 + 120 * m)],
        base + 10,
    )

    schema = spark.read.parquet(str(tmp_path / "src")).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "src"))
    )
    q = (
        finalized_sessions(stream, gap="30 minutes", watermark="2 hours")
        .writeStream.queryName("late_merge_sess")
        .format("memory")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = {
        (r.user_id, r.start_ts): (r.n_events, r.end_ts)
        for r in spark.sql("select * from late_merge_sess").collect()
    }
    assert rows == {
        # ONE merged late session 8:30–8:40 (2 events), not two singletons
        (1, (t0 - 90 * m).to_pydatetime()): (2, (t0 - 80 * m).to_pydatetime()),
        # the 10:00 session closed by the 12:00 event
        (1, t0.to_pydatetime()): (1, t0.to_pydatetime()),
    }  # the 12:00 session is still open → unemitted


def test_enrich_stream_static_join(spark, events, tmp_path):
    """Stream-static enrichment: the streaming left join against a static
    dim produces exactly the batch join's rows, and the dim side rides a
    broadcast (no per-micro-batch shuffle of the stream)."""
    from dbt_analytics_spark.streaming import enrich_stream
    from dbt_analytics_spark.streaming.incremental import stream_from_parquet_dir

    dim = spark.createDataFrame(
        [("click", 1.0), ("purchase", 5.0), ("view", 0.1)],
        ["event_type", "weight"],
    )
    batch_rows = (
        enrich_stream(events.select("event_id", "event_type"), dim, "event_type")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.first("weight").alias("w"))
        .collect()
    )
    expected = {(r["event_type"], r["n"], r["w"]) for r in batch_rows}
    assert len(expected) == 5  # all event types survive the LEFT join
    assert {e for e, _, w in expected if w is None}  # unenriched types keep null

    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    events.select("event_id", "event_type").write.parquet(src)
    enriched = enrich_stream(stream_from_parquet_dir(spark, src), dim, "event_type")
    (
        enriched.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
        .awaitTermination(120)
    )
    got = {
        (r["event_type"], r["n"], r["w"])
        for r in spark.read.parquet(out)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.first("weight").alias("w"))
        .collect()
    }
    assert got == expected


def test_stream_dedup_ingest_end_to_end(spark, tmp_path):
    """Streaming corpus ingest with dedup suppression: two availableNow
    drains over a landing dir — batch 2's exact/near duplicates of batch
    1's accepted docs are dropped, fresh docs append, the persistent
    index tracks the corpus, and the checkpoint prevents reprocessing."""
    import uuid

    from dbt_analytics_spark.streaming import stream_dedup_ingest

    tbl = f"ingest_t_{uuid.uuid4().hex[:8]}"
    src, ckpt = str(tmp_path / "land"), str(tmp_path / "ckpt")
    base = "the quick brown fox jumps over the lazy dog again today " * 4
    other = "tokenizer corpora need unique vocabulary spread wide apart " * 4

    spark.createDataFrame(
        [(1, base), (2, other), (3, base)], ["doc_id", "text"]
    ).write.mode("overwrite").parquet(src)
    stream_dedup_ingest(spark, src, tbl, ckpt)
    assert sorted(r["doc_id"] for r in spark.table(tbl).collect()) == [1, 2]

    # second drop of files: exact dup of 1, near-dup of 2, one fresh
    near = other.replace("wide", "far")
    fresh = "astronomy telescopes galaxies spectra and deep sky surveys " * 4
    spark.createDataFrame(
        [(10, base), (11, near), (12, fresh)], ["doc_id", "text"]
    ).write.mode("append").parquet(src)
    stream_dedup_ingest(spark, src, tbl, ckpt, threshold=0.4)
    assert sorted(r["doc_id"] for r in spark.table(tbl).collect()) == [1, 2, 12]
    idx = {r["doc"] for r in spark.table(f"{tbl}__lsh_bands").select("doc").distinct().collect()}
    assert idx == {1, 2, 12}

    # re-drain with no new files: checkpoint prevents reprocessing
    stream_dedup_ingest(spark, src, tbl, ckpt, threshold=0.4)
    assert spark.table(tbl).count() == 3


def test_dedup_ingest_batch_replay_idempotent(spark, monkeypatch):
    """foreachBatch is at-least-once: replaying a batch — fully committed
    OR crashed between the target append and the companion writes — must
    neither duplicate target rows nor lose companion state (ADVICE r7:
    the old order appended fps last with no replay guard, so a crash
    re-appended duplicates on retry)."""
    import uuid

    import pytest

    from dbt_analytics_spark.operators import dedup as dd
    from dbt_analytics_spark.plans.ingest import dedup_heal, dedup_ingest

    tbl = f"ingest_rp_{uuid.uuid4().hex[:8]}"
    base = "the quick brown fox jumps over the lazy dog again today " * 4
    other = "tokenizer corpora need unique vocabulary spread wide apart " * 4
    fresh = "astronomy telescopes galaxies spectra and deep sky surveys " * 4

    def target_ids():
        spark.catalog.refreshTable(tbl)
        return sorted(r["doc_id"] for r in spark.table(tbl).collect())

    def index_docs():
        return {
            r["doc"]
            for r in spark.table(f"{tbl}__lsh_bands").select("doc").distinct().collect()
        }

    def ingest(batch):
        dedup_ingest(spark, tbl, batch, "doc_id", "text", threshold=0.4)

    b0 = spark.createDataFrame([(1, base), (2, other)], ["doc_id", "text"])
    ingest(b0)
    assert target_ids() == [1, 2]
    assert index_docs() == {1, 2}

    # Pure replay of a committed batch: nothing is written twice.
    ingest(b0)
    assert target_ids() == [1, 2]
    assert spark.table(f"{tbl}__dedup_fps").count() == 2
    assert spark.table(f"{tbl}__lsh_bands").count() == len(index_docs()) * 8

    # Crash mid-batch: the target append commits, then the run dies before
    # any companion write (injected failure in build_lsh_index).
    b1 = spark.createDataFrame([(3, fresh)], ["doc_id", "text"])
    orig_build = dd.build_lsh_index

    def boom(*a, **kw):
        raise RuntimeError("injected crash after target append")

    monkeypatch.setattr(dd, "build_lsh_index", boom)
    with pytest.raises(RuntimeError, match="injected crash"):
        ingest(b1)
    monkeypatch.setattr(dd, "build_lsh_index", orig_build)

    assert target_ids() == [1, 2, 3]  # target committed
    assert index_docs() == {1, 2}  # companions did not
    assert spark.table(f"{tbl}__dedup_fps").count() == 2
    # batch 1 not certified (only b0's replay is marked)
    assert spark.table(f"{tbl}__ingest_commits").count() == 1

    # Replay of the crashed batch after the heal a new drain runs first:
    # companions healed, no target dup.
    dedup_heal(spark, tbl, "doc_id", "text", threshold=0.4)
    ingest(b1)
    assert target_ids() == [1, 2, 3]
    assert index_docs() == {1, 2, 3}
    assert spark.table(f"{tbl}__dedup_fps").count() == 3
    assert spark.table(f"{tbl}__ingest_commits").count() == 2

    # The healed corpus still suppresses dups: an exact dup of doc 3 and a
    # near-dup of doc 1 are both dropped by the next batch.
    near = base.replace("lazy", "sleepy")
    b2 = spark.createDataFrame([(4, fresh), (5, near)], ["doc_id", "text"])
    ingest(b2)
    assert target_ids() == [1, 2, 3]


def test_dedup_ingest_content_marker(spark, monkeypatch):
    """The replay marker is the batch's key-set content fingerprint, so
    it cannot be fooled by batch ids restarting at 0 after a checkpoint
    is recreated (ADVICE r8): a batch with new data is always admitted,
    and a true replay of a committed batch returns before any write."""
    import uuid

    import pyspark.sql.readwriter as _rw

    from dbt_analytics_spark.plans.ingest import dedup_ingest

    tbl = f"ingest_mk_{uuid.uuid4().hex[:8]}"
    doc_a = "the quick brown fox jumps over the lazy dog again today " * 4
    doc_b = "tokenizer corpora need unique vocabulary spread wide apart " * 4
    doc_c = "astronomy telescopes galaxies spectra and deep sky surveys " * 4

    def target_ids():
        spark.catalog.refreshTable(tbl)
        return sorted(r["doc_id"] for r in spark.table(tbl).collect())

    def ingest(rows):
        batch = spark.createDataFrame(rows, ["doc_id", "text"])
        dedup_ingest(spark, tbl, batch, "doc_id", "text", threshold=0.4)

    ingest([(1, doc_a)])
    ingest([(2, doc_b)])
    # "Checkpoint recreated": the next batch carries new data and is
    # admitted whatever its batch id.
    ingest([(3, doc_c)])
    assert target_ids() == [1, 2, 3]
    assert spark.table(f"{tbl}__ingest_commits").count() == 2

    # A true replay fast-paths: not one table write.
    writes = []
    orig = _rw.DataFrameWriter.saveAsTable

    def counting(self, name, *a, **kw):
        writes.append(name)
        return orig(self, name, *a, **kw)

    monkeypatch.setattr(_rw.DataFrameWriter, "saveAsTable", counting)
    ingest([(3, doc_c)])
    assert writes == []
    monkeypatch.setattr(_rw.DataFrameWriter, "saveAsTable", orig)
    assert target_ids() == [1, 2, 3]


@pytest.mark.parametrize("strategy", ["dedup_insert", "ivf_insert"])
def test_ingest_ignores_earlier_marker_tables(spark, strategy):
    """Marker tables of the earlier layouts — ``__stream_commits`` keyed
    on (query_id, batch_id) and ``__ivf_commits`` holding content
    fingerprints — are never read: even a fingerprint equal to the
    batch's own does not make it skip."""
    import uuid

    from dbt_analytics_spark.plans.ingest import (
        _batch_key_fingerprint,
        dedup_ingest,
        ivf_ingest,
    )

    tbl = f"ingest_old_{uuid.uuid4().hex[:8]}"
    if strategy == "dedup_insert":
        texts = [
            "the quick brown fox jumps over the lazy dog again today " * 4,
            "tokenizer corpora need unique vocabulary spread wide apart " * 4,
        ]
        first, batch = (
            spark.createDataFrame([(i + 1, t)], ["doc_id", "text"])
            for i, t in enumerate(texts)
        )
        key = "doc_id"

        def ingest(df):
            dedup_ingest(spark, tbl, df, key, "text", threshold=0.4)

    else:
        cols = ["vec_id", "embedding", "payload"]
        first = spark.createDataFrame(_ivf_rows(range(8)), cols)
        batch = spark.createDataFrame(_ivf_rows(range(8, 12)), cols)
        key = "vec_id"

        def ingest(df):
            ivf_ingest(spark, tbl, df, key, "embedding", n_cells=2)

    ingest(first)
    spark.createDataFrame(
        [("q-old", 0), ("q-old", 1)], "query_id string, batch_id long"
    ).write.saveAsTable(f"{tbl}__stream_commits")
    spark.createDataFrame(
        [_batch_key_fingerprint(batch, key)], "n long, h1 string, h2 string"
    ).write.saveAsTable(f"{tbl}__ivf_commits")
    n_before = spark.table(tbl).count()
    ingest(batch)
    spark.catalog.refreshTable(tbl)
    assert spark.table(tbl).count() == n_before + batch.count()


def _ivf_rows(ids, dim: int = 4):
    return [
        (int(i), [float((i * 7 + d * 3) % 11 - 5) for d in range(dim)], f"d{i}")
        for i in ids
    ]
