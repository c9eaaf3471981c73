"""Streaming rollup == batch rollup on the same closed input.

availableNow drains the file source and closes every watermarked bucket,
so the parquet sink must contain exactly the batch tier (for buckets older
than the watermark horizon — with a bounded input and max event time far
below now, that is ALL buckets)."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from tablecloth_time_spark.operators.rollup import rollup
from tablecloth_time_spark.streaming.rollup import (
    streaming_rollup_to_sink,
    _interval_string,
)
from tests.conftest import await_done

AGGS = {
    "n_turns": ("count", "turn_idx"),
    "sum_chars": ("sum", "text_len"),
    "first_role": ("first", "role"),
    # HLL sketch state under watermarked streaming windows must finalize
    # to the same estimates as the batch tier (register-max merge)
    "uniq_roles": ("hll", "role"),
}


def test_interval_string_rejects_calendar():
    assert _interval_string(5, "minute") == "300000 milliseconds"
    with pytest.raises(ValueError, match="metric units only"):
        _interval_string(1, "month")


def test_streaming_matches_batch(spark, transcripts_df, tmp_path):
    src_dir = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    batch = transcripts_df.withColumn("text_len", F.length("text").cast("long"))
    # append-mode emits a bucket only once the watermark passes it; a
    # far-future sentinel row closes every real bucket (its own bucket
    # stays open and is excluded from the expectation)
    sentinel = batch.limit(1).withColumn(
        "ts", F.expr("timestamp'2030-01-01 00:00:00'")
    ).withColumn("conv_id", F.lit("__flush__"))
    batch.unionByName(sentinel).write.parquet(src_dir)

    stream = (
        spark.readStream.schema(batch.schema).parquet(src_dir)
    )
    q = streaming_rollup_to_sink(
        stream, ["conv_id"], "ts", 1, "minute", AGGS,
        sink_path=sink, checkpoint_dir=ckpt,
        order_cols=["ts", "turn_idx"], watermark="0 seconds",
        available_now=True,
    )
    await_done(q)

    got = (
        spark.read.parquet(sink)
        .filter("conv_id <> '__flush__'")
        .toPandas()
        .sort_values(["conv_id", "bucket"], kind="stable")
        .reset_index(drop=True)
    )
    expected = (
        rollup(
            batch, ["conv_id"], "ts", 1, "minute", AGGS,
            order_cols=["ts", "turn_idx"],
        )
        .toPandas()
        .sort_values(["conv_id", "bucket"], kind="stable")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        got[sorted(got.columns)], expected[sorted(expected.columns)],
        check_dtype=False,
    )


def test_streaming_restart_is_exactly_once(spark, transcripts_df, tmp_path):
    """Re-running availableNow on an unchanged source adds no rows."""
    src_dir = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    batch = transcripts_df.withColumn("text_len", F.length("text").cast("long"))
    sentinel = batch.limit(1).withColumn(
        "ts", F.expr("timestamp'2030-01-01 00:00:00'")
    ).withColumn("conv_id", F.lit("__flush__"))
    batch.unionByName(sentinel).write.parquet(src_dir)
    stream = spark.readStream.schema(batch.schema).parquet(src_dir)

    for _ in range(2):
        q = streaming_rollup_to_sink(
            stream, ["conv_id"], "ts", 1, "hour", AGGS,
            sink_path=sink, checkpoint_dir=ckpt,
            order_cols=["ts", "turn_idx"], watermark="0 seconds",
            available_now=True,
        )
        await_done(q)

    n = spark.read.parquet(sink).filter("conv_id <> '__flush__'").count()
    expected = rollup(
        batch, ["conv_id"], "ts", 1, "hour", AGGS, order_cols=["ts", "turn_idx"]
    ).count()
    assert n == expected


def test_streaming_sessionize_matches_batch_session_window(
    spark, transcripts_df, tmp_path
):
    """Streaming session_window output == the same session_window groupBy
    run in batch over the identical closed input; also cross-checked
    against the batch lag/run-sum sessionize away from exact-gap
    boundaries (where the two rules legitimately differ)."""
    from tablecloth_time_spark.streaming.rollup import streaming_sessionize

    src_dir = str(tmp_path / "ssrc")
    sink = str(tmp_path / "ssink")
    ckpt = str(tmp_path / "sckpt")

    batch = transcripts_df.withColumn("text_len", F.length("text").cast("long"))
    sentinel = batch.limit(1).withColumn(
        "ts", F.expr("timestamp'2030-01-01 00:00:00'")
    ).withColumn("conv_id", F.lit("__flush__"))
    batch.unionByName(sentinel).write.parquet(src_dir)

    stream = spark.readStream.schema(batch.schema).parquet(src_dir)
    out = streaming_sessionize(
        stream, ["conv_id"], "ts", 30, "minute",
        aggs={"sum_chars": ("sum", "text_len")}, watermark="0 seconds",
    )
    q = (
        out.writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    await_done(q)

    got = (
        spark.read.parquet(sink)
        .filter("conv_id <> '__flush__'")
        .toPandas()
        .sort_values(["conv_id", "session_start"], kind="stable")
        .reset_index(drop=True)
    )
    expected = (
        batch.groupBy(
            "conv_id",
            F.session_window("ts", "1800000 milliseconds").alias("__sw"),
        )
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum("text_len").alias("sum_chars"),
        )
        .withColumn(
            "duration_ms",
            F.unix_millis(F.col("session_end").cast("timestamp"))
            - F.unix_millis(F.col("session_start").cast("timestamp")),
        )
        .drop("__sw")
        .toPandas()
        .sort_values(["conv_id", "session_start"], kind="stable")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        got[sorted(got.columns)], expected[sorted(expected.columns)],
        check_dtype=False,
    )

    # session COUNT parity with the batch lag/run-sum form (no exact-gap
    # boundaries in the generated data -> the two rules agree)
    from tablecloth_time_spark.operators.sessions import session_stats

    batch_sessions = session_stats(
        batch, "conv_id", "ts", 30, "minute", order_cols=["turn_idx"]
    ).count()
    assert batch_sessions == len(got)


def test_streaming_counter_rate_matches_batch(spark, tmp_path):
    """Per-key state carried across micro-batches: 3 time-ordered files,
    one micro-batch each, must reproduce the batch counter_rate exactly."""
    import numpy as np

    from tablecloth_time_spark.operators.counters import counter_rate
    from tablecloth_time_spark.streaming.stateful import streaming_counter_rate

    rng = np.random.default_rng(5)
    n = 600
    rows = pd.DataFrame(
        {
            "k": rng.integers(0, 8, n).astype("int64"),
            "ts": pd.to_datetime("2024-03-01")
            + pd.to_timedelta(np.sort(rng.integers(0, 10**7, n)), unit="s"),
            "v": np.round(rng.uniform(0, 500, n), 3),
        }
    )
    src = tmp_path / "src"
    src.mkdir()
    full = spark.createDataFrame(rows)
    # three files split by GLOBAL time order -> per-key in-order batches
    for i, part in enumerate(np.array_split(np.arange(n), 3)):
        spark.createDataFrame(rows.iloc[part]).coalesce(1).write.parquet(
            str(src / f"f{i}")
        )

    stream = (
        spark.readStream.schema(full.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "f*"))
    )
    out = streaming_counter_rate(stream, "k", "ts", "v")
    sink, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")
    q = (
        out.writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    await_done(q)

    got = (
        spark.read.parquet(sink)
        .toPandas()
        .sort_values(["k", "ts_ms"], kind="stable")
        .reset_index(drop=True)
    )
    assert not got["out_of_order"].any()
    exp = (
        counter_rate(full, "k", "ts", "v")
        .select(
            "k",
            F.unix_millis(F.col("ts").cast("timestamp")).alias("ts_ms"),
            F.col("v").cast("double").alias("value"),
            "delta",
            "rate_per_s",
        )
        .toPandas()
        .sort_values(["k", "ts_ms"], kind="stable")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        got[["k", "ts_ms", "value", "delta", "rate_per_s"]],
        exp[["k", "ts_ms", "value", "delta", "rate_per_s"]],
        check_dtype=False,
    )


def test_streaming_counter_rate_flags_out_of_order(spark, tmp_path):
    """A sample older than the key's carried state must be flagged, not
    differenced against the wrong predecessor."""
    from tablecloth_time_spark.streaming.stateful import streaming_counter_rate

    t0 = pd.Timestamp("2024-03-01")
    f1 = pd.DataFrame({"k": [1, 1], "ts": [t0, t0 + pd.Timedelta("10s")],
                       "v": [10.0, 20.0]})
    f2 = pd.DataFrame({"k": [1], "ts": [t0 + pd.Timedelta("5s")], "v": [15.0]})
    src = tmp_path / "src"
    src.mkdir()
    schema = spark.createDataFrame(f1).schema
    spark.createDataFrame(f1).coalesce(1).write.parquet(str(src / "f0"))
    spark.createDataFrame(f2).coalesce(1).write.parquet(str(src / "f1"))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "f*"))
    )
    out = streaming_counter_rate(stream, "k", "ts", "v")
    sink, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")
    q = (
        out.writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", ckpt)
        .outputMode("append").trigger(availableNow=True).start()
    )
    await_done(q)
    got = spark.read.parquet(sink).toPandas().sort_values("ts_ms")
    ooo = got[got["out_of_order"]]
    assert len(ooo) == 1 and ooo.iloc[0]["value"] == 15.0
    assert pd.isna(ooo.iloc[0]["delta"])


def test_streaming_counter_rate_state_not_regressed_by_late_batch(
    spark, tmp_path
):
    """A wholly-late micro-batch must not move per-key state backward: the
    next in-order sample differences against the TRUE predecessor."""
    from tablecloth_time_spark.streaming.stateful import streaming_counter_rate

    t0 = pd.Timestamp("2024-03-01")
    f0 = pd.DataFrame({"k": [1], "ts": [t0 + pd.Timedelta("10s")], "v": [20.0]})
    f1 = pd.DataFrame({"k": [1], "ts": [t0 + pd.Timedelta("5s")], "v": [15.0]})
    f2 = pd.DataFrame({"k": [1], "ts": [t0 + pd.Timedelta("20s")], "v": [25.0]})
    src = tmp_path / "src"
    src.mkdir()
    schema = spark.createDataFrame(f0).schema
    for i, f in enumerate((f0, f1, f2)):
        spark.createDataFrame(f).coalesce(1).write.parquet(str(src / f"f{i}"))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "f*"))
    )
    out = streaming_counter_rate(stream, "k", "ts", "v")
    sink, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")
    q = (
        out.writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", ckpt)
        .outputMode("append").trigger(availableNow=True).start()
    )
    await_done(q)
    got = {r["value"]: r for r in spark.read.parquet(sink).collect()}
    # 25.0 at t=20s: delta vs the TRUE predecessor (20.0 at t=10s), not
    # vs the late sample (15.0 at t=5s)
    assert got[25.0]["delta"] == 5.0
    assert got[25.0]["rate_per_s"] == 0.5
    assert got[15.0]["out_of_order"]


def test_streaming_counter_rate_mixed_late_batch(spark, tmp_path):
    """A micro-batch mixing a late row with an in-order row: the late row
    is flagged, and the in-order row differences against the carried
    state (the TRUE predecessor), not the late row."""
    from tablecloth_time_spark.streaming.stateful import streaming_counter_rate

    t0 = pd.Timestamp("2024-03-01")
    f0 = pd.DataFrame({"k": [1], "ts": [t0 + pd.Timedelta("10s")], "v": [20.0]})
    f1 = pd.DataFrame(
        {
            "k": [1, 1],
            "ts": [t0 + pd.Timedelta("5s"), t0 + pd.Timedelta("20s")],
            "v": [15.0, 25.0],
        }
    )
    src = tmp_path / "src"
    src.mkdir()
    schema = spark.createDataFrame(f0).schema
    for i, f in enumerate((f0, f1)):
        spark.createDataFrame(f).coalesce(1).write.parquet(str(src / f"f{i}"))
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "f*"))
    )
    out = streaming_counter_rate(stream, "k", "ts", "v")
    sink, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")
    q = (
        out.writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", ckpt)
        .outputMode("append").trigger(availableNow=True).start()
    )
    await_done(q)
    got = {r["value"]: r for r in spark.read.parquet(sink).collect()}
    assert got[15.0]["out_of_order"] and got[15.0]["delta"] is None
    assert not got[25.0]["out_of_order"]
    assert got[25.0]["delta"] == 5.0 and got[25.0]["rate_per_s"] == 0.5


def test_streaming_counter_rate_wholly_late_multirow_batch(spark, tmp_path):
    """EVERY row of a wholly-late multi-row batch is flagged — not just
    the first."""
    from tablecloth_time_spark.streaming.stateful import streaming_counter_rate

    t0 = pd.Timestamp("2024-03-01")
    f0 = pd.DataFrame({"k": [1], "ts": [t0 + pd.Timedelta("10s")], "v": [20.0]})
    f1 = pd.DataFrame(
        {
            "k": [1, 1],
            "ts": [t0 + pd.Timedelta("3s"), t0 + pd.Timedelta("5s")],
            "v": [11.0, 15.0],
        }
    )
    src = tmp_path / "src"
    src.mkdir()
    schema = spark.createDataFrame(f0).schema
    for i, f in enumerate((f0, f1)):
        spark.createDataFrame(f).coalesce(1).write.parquet(str(src / f"f{i}"))
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "f*"))
    )
    out = streaming_counter_rate(stream, "k", "ts", "v")
    sink, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")
    q = (
        out.writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", ckpt)
        .outputMode("append").trigger(availableNow=True).start()
    )
    await_done(q)
    got = {r["value"]: r for r in spark.read.parquet(sink).collect()}
    assert got[11.0]["out_of_order"] and got[15.0]["out_of_order"]
    assert got[11.0]["delta"] is None and got[15.0]["delta"] is None


def test_streaming_counter_rate_exact_timestamp_replay_keeps_state(
    spark, tmp_path
):
    """A replayed duplicate carrying the EXACT state timestamp must not
    overwrite last_v: the first delivery's value stays the predecessor
    for the next in-order delta (ties keep existing state)."""
    from tablecloth_time_spark.streaming.stateful import streaming_counter_rate

    t0 = pd.Timestamp("2024-03-01")
    f0 = pd.DataFrame({"k": [1], "ts": [t0 + pd.Timedelta("10s")], "v": [20.0]})
    # replay at the same 10s timestamp, DIFFERENT value
    f1 = pd.DataFrame({"k": [1], "ts": [t0 + pd.Timedelta("10s")], "v": [99.0]})
    f2 = pd.DataFrame({"k": [1], "ts": [t0 + pd.Timedelta("20s")], "v": [25.0]})
    src = tmp_path / "src"
    src.mkdir()
    schema = spark.createDataFrame(f0).schema
    for i, f in enumerate((f0, f1, f2)):
        spark.createDataFrame(f).coalesce(1).write.parquet(str(src / f"f{i}"))
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "f*"))
    )
    out = streaming_counter_rate(stream, "k", "ts", "v")
    sink, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")
    q = (
        out.writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", ckpt)
        .outputMode("append").trigger(availableNow=True).start()
    )
    await_done(q)
    got = {r["value"]: r for r in spark.read.parquet(sink).collect()}
    # 25.0 at t=20s differences against the FIRST delivery (20.0), not
    # the replayed 99.0 — delta 5.0 over 10s
    assert got[25.0]["delta"] == 5.0
    assert got[25.0]["rate_per_s"] == 0.5


def test_session_gap_boundary_contract(spark):
    """Contract pin for the session-boundary rule (operators/sessions.py):
    an event arriving EXACTLY ``gap`` after its predecessor stays
    IN-session under BOTH the batch lag/run-sum sessionize
    (strictly-greater split rule) and Spark's session_window (per-event
    windows [t, t+gap) merge when adjacent, start <= prev_end) — the two
    engines agree at the boundary. Only a gap strictly greater than the
    threshold splits. Fixture: three events exactly 30 min apart, one 1 ms
    inside the gap, one 1 ms beyond it."""
    from tablecloth_time_spark.operators.sessions import sessionize

    rows = pd.DataFrame(
        {
            "k": ["a"] * 5,
            "ts": pd.to_datetime(
                [
                    "2024-01-01 00:00:00.000",
                    "2024-01-01 00:30:00.000",  # gap == threshold exactly
                    "2024-01-01 01:00:00.000",  # again exactly on boundary
                    "2024-01-01 01:29:59.999",  # 1 ms inside the gap
                    "2024-01-01 02:00:00.000",  # 1 ms BEYOND the gap -> split
                ]
            ),
            "i": [0, 1, 2, 3, 4],
        }
    )
    df = spark.createDataFrame(rows)

    # batch rule: gap must be STRICTLY greater than threshold to split
    out = sessionize(df, "k", "ts", 30, "minute", order_cols=["i"])
    assert [r["session_idx"] for r in out.orderBy("i").collect()] == [
        0, 0, 0, 0, 1,
    ]

    # session_window agrees: exact-gap events merge; only the strictly
    # larger gap (30 min + 1 ms) opens a second session
    sw = df.groupBy("k", F.session_window("ts", "30 minutes")).agg(
        F.count(F.lit(1)).alias("n")
    )
    assert sorted(r["n"] for r in sw.collect()) == [1, 4]


def test_streaming_dedup_suppresses_cross_run_duplicates(spark, tmp_path):
    """Ingest dedup: the SAME content arriving in a LATER run of the query
    (same checkpoint) is suppressed by carried state — the streaming
    analogue of batch exact_dedup, with state bounded by the watermark."""
    import datetime as dt

    from tablecloth_time_spark.streaming.dedup import streaming_dedup_exact

    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)

    def run_wave(rows):
        spark.createDataFrame(
            rows, "doc_id long, text string, ts timestamp"
        ).coalesce(1).write.mode("append").parquet(src)
        stream = spark.readStream.schema(
            "doc_id long, text string, ts timestamp"
        ).parquet(src)
        q = (
            streaming_dedup_exact(stream, "text", "ts", watermark="1 hour")
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        await_done(q)

    run_wave(
        [
            (1, "the quick brown fox", t0),
            (2, "lorem ipsum dolor", t0 + dt.timedelta(minutes=1)),
            (3, "the quick brown fox", t0 + dt.timedelta(minutes=2)),  # in-wave dup
        ]
    )
    # wave 2: doc 4 duplicates doc 1's content (cross-RUN, within the
    # watermark horizon); doc 5 is new
    run_wave(
        [
            (4, "the quick brown fox", t0 + dt.timedelta(minutes=10)),
            (5, "completely new text", t0 + dt.timedelta(minutes=11)),
        ]
    )

    got = spark.read.parquet(sink).toPandas().sort_values("doc_id")
    # one row per distinct content; first-seen ids kept
    assert sorted(got["doc_id"]) == [1, 2, 5]
    assert got["fingerprint"].is_unique
    # normalization: whitespace/case variants collapse to one fingerprint
    from tablecloth_time_spark.functions.text import fingerprint_md5

    fp = spark.createDataFrame(
        [("The  Quick  Brown   Fox",), ("the quick brown fox",)], "text string"
    ).select(fingerprint_md5("text").alias("f")).collect()
    assert fp[0]["f"] == fp[1]["f"]


def test_streaming_m4_matches_batch(spark, tmp_path):
    """Streaming M4 (windowed struct aggregates, availableNow drain) must
    equal the batch m4_downsample on the same closed input — the
    streamed-tail == batch-backfill contract for the dashboard path."""
    import datetime as dt

    import numpy as np

    from tablecloth_time_spark.operators.downsample import m4_downsample
    from tablecloth_time_spark.streaming.downsample import streaming_m4

    rng = np.random.default_rng(17)
    t0 = dt.datetime(2024, 5, 1)
    rows = [
        (
            f"k{int(k)}",
            t0 + dt.timedelta(seconds=int(s)),
            round(float(v), 3),
        )
        for k, s, v in zip(
            rng.integers(0, 4, 400),
            np.cumsum(rng.integers(1, 300, 400)),
            rng.uniform(-50, 50, 400),
        )
    ]
    # far-future sentinel closes every real bucket under append mode
    rows.append(("__flush__", dt.datetime(2030, 1, 1), 0.0))
    batch = spark.createDataFrame(rows, ["k", "ts", "v"])
    src = str(tmp_path / "src")
    batch.write.parquet(src)

    stream = spark.readStream.schema(batch.schema).parquet(src)
    out = streaming_m4(
        stream, "k", "ts", "v", 15, "minute", watermark="0 seconds"
    )
    q = (
        out.writeStream.format("memory")
        .queryName("m4_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    await_done(q)

    got = (
        spark.table("m4_stream")
        .filter("k <> '__flush__'")
        .toPandas()
        .sort_values(["k", "bucket"], kind="stable")
        .reset_index(drop=True)
    )
    expected = (
        m4_downsample(
            batch.filter("k <> '__flush__'"), "k", "ts", "v", 15, "minute"
        )
        .toPandas()
        .sort_values(["k", "bucket"], kind="stable")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        got[sorted(got.columns)], expected[sorted(expected.columns)],
        check_dtype=False,
    )


def test_streaming_histogram_matches_batch(spark, tmp_path):
    """histogram_rollup's bin expression + count aggregate run unchanged
    as a streaming windowed groupBy — PLANS.md claims histograms stream;
    this pins it (availableNow drain == batch histogram)."""
    import datetime as dt

    import numpy as np
    from pyspark.sql import functions as SF

    from tablecloth_time_spark.operators.stats import histogram_rollup

    rng = np.random.default_rng(29)
    t0 = dt.datetime(2024, 6, 1)
    rows = [
        ("k%d" % int(k), t0 + dt.timedelta(seconds=int(s)), round(float(v), 3))
        for k, s, v in zip(
            rng.integers(0, 3, 300),
            np.cumsum(rng.integers(1, 600, 300)),
            rng.uniform(0, 100, 300),
        )
    ]
    rows.append(("__flush__", dt.datetime(2030, 1, 1), 0.0))
    batch = spark.createDataFrame(rows, ["k", "ts", "v"])
    src = str(tmp_path / "src")
    batch.write.parquet(src)

    lo, hi, n_bins, width = 0.0, 100.0, 10, 10.0
    bin_idx = SF.least(
        SF.lit(n_bins - 1),
        SF.greatest(SF.lit(0), SF.floor((SF.col("v") - lo) / width)),
    ).cast("int")
    stream = spark.readStream.schema(batch.schema).parquet(src)
    out = (
        stream.withWatermark("ts", "0 seconds")
        .groupBy("k", SF.window("ts", "1 hour").alias("__w"), bin_idx.alias("bin"))
        .agg(SF.count(SF.lit(1)).alias("n"))
        .select("k", SF.col("__w.start").alias("bucket"), "bin", "n")
    )
    q = (
        out.writeStream.format("memory")
        .queryName("hist_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    await_done(q)

    got = (
        spark.table("hist_stream")
        .filter("k <> '__flush__'")
        .toPandas()
        .sort_values(["k", "bucket", "bin"], kind="stable")
        .reset_index(drop=True)
    )
    expected = (
        histogram_rollup(
            batch.filter("k <> '__flush__'"), ["k"], "ts", "v", 1, "hour",
            lo=lo, hi=hi, n_bins=n_bins,
        )
        .select("k", "bucket", "bin", "n")
        .toPandas()
        .sort_values(["k", "bucket", "bin"], kind="stable")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, expected, check_dtype=False)


def test_streaming_cusum_matches_batch(spark, tmp_path):
    """Streamed two-sided CUSUM over 3 in-order micro-batches must equal
    the batch ``cusum_scores`` prefix-algebra plan exactly: the carried
    (S+, S-) state plus the in-batch prefix identity IS the recurrence."""
    import numpy as np

    from tablecloth_time_spark.operators.stats import cusum_scores
    from tablecloth_time_spark.streaming.stateful import streaming_cusum

    rng = np.random.default_rng(11)
    n = 600
    base = rng.normal(0, 1, n)
    base[300:] += 0.8  # sustained drift so both sides and the flag fire
    rows = pd.DataFrame(
        {
            "k": rng.integers(0, 6, n).astype("int64"),
            "ts": pd.to_datetime("2024-03-01")
            + pd.to_timedelta(np.sort(rng.integers(0, 10**7, n)), unit="s"),
            "v": np.round(base * 10 + 50, 3),
        }
    )
    # sprinkle nulls: they must pass through with carried scores
    rows.loc[rows.index[::97], "v"] = np.nan
    full = spark.createDataFrame(rows)

    # streaming baseline contract: per-key mu/sd calibrated offline and
    # attached to the stream (here: baked into the source files)
    stats = (
        full.groupBy("k")
        .agg(
            F.avg("v").alias("mu"),
            F.stddev_samp("v").alias("sd"),
        )
        .toPandas()
    )
    rows = rows.merge(stats, on="k")

    src = tmp_path / "src"
    src.mkdir()
    for i, part in enumerate(np.array_split(np.arange(n), 3)):
        spark.createDataFrame(
            rows.sort_values("ts", kind="stable").iloc[part]
        ).coalesce(1).write.parquet(str(src / f"f{i}"))

    stream = (
        spark.readStream.schema(spark.createDataFrame(rows).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "f*"))
    )
    out = streaming_cusum(stream, "k", "ts", "v", k=0.5, h=4.0)
    sink, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")
    q = (
        out.writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    await_done(q)

    got = (
        spark.read.parquet(sink)
        .toPandas()
        .sort_values(["k", "ts_ms"], kind="stable")
        .reset_index(drop=True)
    )
    exp = (
        cusum_scores(full, ["k"], "ts", "v", k=0.5, h=4.0)
        .select(
            "k",
            F.unix_millis(F.col("ts").cast("timestamp")).alias("ts_ms"),
            F.col("v").cast("double").alias("value"),
            F.col("cusum_pos"),
            F.col("cusum_neg"),
            F.col("is_drift"),
        )
        .toPandas()
        .sort_values(["k", "ts_ms"], kind="stable")
        .reset_index(drop=True)
    )
    assert exp["is_drift"].any()  # the drift actually fires
    cols = ["k", "ts_ms", "value", "cusum_pos", "cusum_neg", "is_drift"]
    pd.testing.assert_frame_equal(
        got[cols], exp[cols], check_dtype=False, rtol=0, atol=1e-9
    )


def test_streaming_cusum_null_sd_yields_null_scores(spark, tmp_path):
    """A key whose calibrated sd is null/non-positive gets null scores and
    a false flag — drift is undefined there, state untouched."""
    from tablecloth_time_spark.streaming.stateful import streaming_cusum

    rows = pd.DataFrame(
        {
            "k": [1, 1, 1],
            "ts": pd.to_datetime(
                ["2024-03-01 00:00:00", "2024-03-01 00:01:00", "2024-03-01 00:02:00"]
            ),
            "v": [1.0, 2.0, 3.0],
            "mu": [2.0] * 3,
            "sd": [0.0] * 3,
        }
    )
    src = tmp_path / "src"
    src.mkdir()
    full = spark.createDataFrame(rows)
    full.coalesce(1).write.parquet(str(src / "f0"))
    stream = (
        spark.readStream.schema(full.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "f*"))
    )
    out = streaming_cusum(stream, "k", "ts", "v")
    sink, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")
    q = (
        out.writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    await_done(q)
    got = spark.read.parquet(sink).toPandas()
    assert len(got) == 3
    assert got["cusum_pos"].isna().all()
    assert got["cusum_neg"].isna().all()
    assert not got["is_drift"].any()


def test_streaming_detect_gaps_matches_batch(spark, tmp_path):
    """Streamed gap detection over 3 in-order micro-batches must emit
    exactly the batch ``detect_gaps`` rows — including gaps that SPAN a
    micro-batch boundary (closed by the first sample of the next batch)."""
    import numpy as np

    from tablecloth_time_spark.operators.counters import detect_gaps
    from tablecloth_time_spark.streaming.stateful import streaming_detect_gaps

    rng = np.random.default_rng(7)
    n = 500
    rows = pd.DataFrame(
        {
            "k": rng.integers(0, 5, n).astype("int64"),
            "ts": pd.to_datetime("2024-03-01")
            + pd.to_timedelta(np.sort(rng.integers(0, 10**7, n)), unit="s"),
        }
    )
    full = spark.createDataFrame(rows)
    src = tmp_path / "src"
    src.mkdir()
    for i, part in enumerate(np.array_split(np.arange(n), 3)):
        spark.createDataFrame(rows.iloc[part]).coalesce(1).write.parquet(
            str(src / f"f{i}")
        )

    stream = (
        spark.readStream.schema(full.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "f*"))
    )
    out = streaming_detect_gaps(stream, "k", "ts", 2, "hour")
    sink, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")
    q = (
        out.writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    await_done(q)

    got = (
        spark.read.parquet(sink)
        .toPandas()
        .sort_values(["k", "gap_end_ms"], kind="stable")
        .reset_index(drop=True)
    )
    assert not got["out_of_order"].any()
    exp = (
        detect_gaps(full, "k", "ts", 2, "hour")
        .select(
            "k",
            F.unix_millis(F.col("gap_start").cast("timestamp")).alias(
                "gap_start_ms"
            ),
            F.unix_millis(F.col("gap_end").cast("timestamp")).alias(
                "gap_end_ms"
            ),
            "gap_s",
        )
        .toPandas()
        .sort_values(["k", "gap_end_ms"], kind="stable")
        .reset_index(drop=True)
    )
    assert len(exp) > 10  # the fixture actually produces gaps
    cols = ["k", "gap_start_ms", "gap_end_ms", "gap_s"]
    pd.testing.assert_frame_equal(got[cols], exp[cols], check_dtype=False)


def test_streaming_detect_gaps_flags_late_and_first_sample(spark, tmp_path):
    """A late sample (older than the carried state) is surfaced with a
    flagged null-gap row and must not regress state; a key's very first
    sample opens the series without a gap row."""
    from tablecloth_time_spark.streaming.stateful import streaming_detect_gaps

    t0 = pd.Timestamp("2024-03-01 00:00:00")
    waves = [
        pd.DataFrame({"k": [1], "ts": [t0]}),
        # late sample (before t0), plus an in-order one 3h after t0:
        # the in-order gap must be measured against t0, NOT the late row
        pd.DataFrame(
            {
                "k": [1, 1],
                "ts": [t0 - pd.Timedelta(hours=5), t0 + pd.Timedelta(hours=3)],
            }
        ),
    ]
    src = tmp_path / "src"
    src.mkdir()
    schema = None
    for i, w in enumerate(waves):
        sdf = spark.createDataFrame(w)
        schema = sdf.schema
        sdf.coalesce(1).write.parquet(str(src / f"f{i}"))
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "f*"))
    )
    out = streaming_detect_gaps(stream, "k", "ts", 1, "hour")
    sink, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")
    q = (
        out.writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    await_done(q)
    got = (
        spark.read.parquet(sink)
        .toPandas()
        .sort_values("gap_end_ms", kind="stable")
        .reset_index(drop=True)
    )
    assert len(got) == 2
    late, gap = got.iloc[0], got.iloc[1]
    assert late["out_of_order"] and pd.isna(late["gap_s"])
    assert not gap["out_of_order"]
    assert gap["gap_start_ms"] == int(t0.timestamp() * 1000)
    assert gap["gap_s"] == 3 * 3600.0


def test_streaming_cusum_mixed_invalid_sd_rows(spark, tmp_path):
    """A micro-batch MIXING valid rows with sd=0 rows must not poison the
    trajectory: invalid rows emit null scores / false flags, valid rows
    score exactly as if the invalid rows carried zero drift, and the
    state stays finite across batches."""
    import numpy as np

    from tablecloth_time_spark.streaming.stateful import streaming_cusum

    t0 = pd.Timestamp("2024-03-01")
    mk = lambda secs, vals, sds: pd.DataFrame(
        {
            "k": [1] * len(secs),
            "ts": [t0 + pd.Timedelta(seconds=s) for s in secs],
            "v": vals,
            "mu": [10.0] * len(secs),
            "sd": sds,
        }
    )
    waves = [
        mk([0, 10, 20], [12.0, 14.0, 11.0], [2.0, 0.0, 2.0]),
        mk([30, 40], [13.0, 15.0], [float("nan"), 2.0]),
    ]
    src = tmp_path / "src"
    src.mkdir()
    for i, w in enumerate(waves):
        sdf = spark.createDataFrame(w)
        schema = sdf.schema
        sdf.coalesce(1).write.parquet(str(src / f"f{i}"))
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "f*"))
    )
    out = streaming_cusum(stream, "k", "ts", "v", k=0.5, h=2.0)
    sink, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")
    q = (
        out.writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    await_done(q)
    got = (
        spark.read.parquet(sink)
        .toPandas()
        .sort_values("ts_ms", kind="stable")
        .reset_index(drop=True)
    )
    assert len(got) == 5
    # reference trajectory: invalid rows (idx 1, 3) PASS THROUGH — they
    # contribute neither drift nor the slack -k
    zs = [(12.0 - 10) / 2, None, (11.0 - 10) / 2, None, (15.0 - 10) / 2]
    sp, exp = 0.0, []
    for z in zs:
        if z is not None:
            sp = max(0.0, sp + z - 0.5)
        exp.append(sp)
    valid = [0, 2, 4]
    for i in valid:
        assert np.isfinite(got.loc[i, "cusum_pos"])
        assert got.loc[i, "cusum_pos"] == pytest.approx(exp[i])
    for i in (1, 3):
        assert pd.isna(got.loc[i, "cusum_pos"])
        assert pd.isna(got.loc[i, "cusum_neg"])
        assert not got.loc[i, "is_drift"]
    assert got.loc[4, "is_drift"] == (exp[4] > 2.0)


def test_streaming_funnel_matches_batch(spark, tmp_path):
    """The LAST emitted progress row per key over 3 in-order micro-batches
    must equal the batch funnel verdict on the same closed input —
    including conversions whose steps SPAN micro-batch boundaries."""
    import numpy as np

    from tablecloth_time_spark.operators.cohorts import funnel
    from tablecloth_time_spark.streaming.stateful import streaming_funnel

    rng = np.random.default_rng(31)
    n = 600
    rows = pd.DataFrame(
        {
            "u": rng.integers(0, 40, n).astype("int64"),
            "ts": pd.to_datetime("2024-06-01")
            + pd.to_timedelta(np.sort(rng.integers(0, 20 * 86400, n)), unit="s"),
            "step": rng.choice(
                ["view", "click", "purchase", "other"], n,
                p=[0.45, 0.25, 0.15, 0.15],
            ),
        }
    )
    steps = ["view", "click", "purchase"]
    full = spark.createDataFrame(rows)
    src = tmp_path / "src"
    src.mkdir()
    for i, part in enumerate(np.array_split(np.arange(n), 3)):
        spark.createDataFrame(rows.iloc[part]).coalesce(1).write.parquet(
            str(src / f"f{i}")
        )
    stream = (
        spark.readStream.schema(full.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "f*"))
    )
    out = streaming_funnel(
        stream, "u", "ts", "step", steps, within=120, unit="hour"
    )
    sink, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")
    q = (
        out.writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    await_done(q)

    got = spark.read.parquet(sink).toPandas()
    # progress is monotone: take each key's furthest emission
    last = (
        got.sort_values("steps_completed", kind="stable")
        .groupby("u").tail(1).set_index("u")
    )
    exp = (
        funnel(full, "u", "ts", "step", steps, within=120, unit="hour")
        .toPandas().set_index("u")
    )
    assert set(last.index) == set(exp.index)
    for u, erow in exp.iterrows():
        grow = last.loc[u]
        assert grow["steps_completed"] == erow["steps_completed"], u
        assert bool(grow["converted"]) == bool(erow["converted"]), u
        ts_ms = list(grow["step_ts_ms"])
        for i in range(len(steps)):
            e = erow[f"ts_{i + 1}"]
            if pd.isna(e):
                assert ts_ms[i] is None or pd.isna(ts_ms[i]), (u, i)
            else:
                assert int(ts_ms[i]) == e.value // 10**6, (u, i)
    # spanning conversions exist (state carried across batches)
    multi = got.groupby("u").size()
    assert (multi > 1).any()


def test_streaming_ewma_matches_batch(spark, tmp_path):
    """Streamed time-decay EWMA over 3 in-order micro-batches must equal
    the batch window-plan ewma exactly — including histories spanning
    512-halflife segment boundaries and cross-batch carries, null values
    (carried mean), and a series-head null."""
    import numpy as np

    from tablecloth_time_spark.operators.counters import ewma
    from tablecloth_time_spark.streaming.stateful import streaming_ewma

    rng = np.random.default_rng(41)
    n = 500
    # gaps up to ~3 days with halflife=1h -> many 512h segments spanned
    gaps = rng.exponential(3600, n).astype("int64") + 1
    gaps[100] = 520 * 3600  # force a full segment skip mid-series
    ts = pd.to_datetime("2024-03-01") + pd.to_timedelta(
        np.cumsum(gaps), unit="s"
    )
    rows = pd.DataFrame(
        {
            "k": rng.integers(0, 5, n).astype("int64"),
            "ts": ts,
            "v": np.round(rng.uniform(10, 90, n), 3),
        }
    )
    val = rows["v"].astype("object")
    val.iloc[::53] = None  # nulls sprinkle in, incl. possible heads
    rows["v"] = val

    full = spark.createDataFrame(rows)
    src = tmp_path / "src"
    src.mkdir()
    for i, part in enumerate(np.array_split(np.arange(n), 3)):
        spark.createDataFrame(rows.iloc[part]).coalesce(1).write.parquet(
            str(src / f"f{i}")
        )
    stream = (
        spark.readStream.schema(full.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "f*"))
    )
    out = streaming_ewma(stream, "k", "ts", "v", halflife=1, unit="hour")
    sink, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")
    q = (
        out.writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    await_done(q)

    got = (
        spark.read.parquet(sink)
        .toPandas()
        .sort_values(["k", "ts_ms"], kind="stable")
        .reset_index(drop=True)
    )
    exp = (
        ewma(full, "k", "ts", "v", halflife=1, unit="hour")
        .select("k", "ts_ms", "value", "ewma")
        .toPandas()
        .sort_values(["k", "ts_ms"], kind="stable")
        .reset_index(drop=True)
    )
    assert len(got) == len(exp) == n
    # nulls present and identical placement
    assert got["ewma"].isna().equals(exp["ewma"].isna())
    both = got["ewma"].notna()
    assert np.allclose(
        got.loc[both, "ewma"], exp.loc[both, "ewma"], rtol=1e-9, atol=1e-9
    )


def test_streaming_hopping_matches_batch(spark, tmp_path):
    """Streaming hopping windows (native F.window slide + watermark,
    availableNow drain) must equal the batch hopping_rollup on the same
    closed input — both sides compile to the same Expand, so the parity
    is exact row-for-row."""
    import datetime as dt

    import numpy as np

    from tablecloth_time_spark.operators.rollup import hopping_rollup
    from tablecloth_time_spark.streaming.rollup import (
        streaming_hopping_rollup,
    )

    rng = np.random.default_rng(23)
    t0 = dt.datetime(2024, 5, 1)
    rows = [
        (
            f"k{int(k)}",
            t0 + dt.timedelta(seconds=int(s)),
            round(float(v), 3),
        )
        for k, s, v in zip(
            rng.integers(0, 3, 300),
            np.cumsum(rng.integers(1, 240, 300)),
            rng.uniform(0, 100, 300),
        )
    ]
    rows.append(("__flush__", dt.datetime(2030, 1, 1), 0.0))
    batch = spark.createDataFrame(rows, ["k", "ts", "v"])
    src = str(tmp_path / "src")
    batch.write.parquet(src)

    stream = spark.readStream.schema(batch.schema).parquet(src)
    out = streaming_hopping_rollup(
        stream, ["k"], "ts", 60, 15, "minute",
        {"n": ("count", "v"), "s": ("sum", "v")},
        watermark="0 seconds",
    )
    q = (
        out.writeStream.format("memory")
        .queryName("hop_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    await_done(q)

    got = (
        spark.table("hop_stream")
        .filter("k <> '__flush__'")
        .toPandas()
        .sort_values(["k", "window_start"], kind="stable")
        .reset_index(drop=True)
    )
    expected = (
        hopping_rollup(
            batch.filter("k <> '__flush__'"), ["k"], "ts", 60, 15, "minute",
            {"n": ("count", "v"), "s": ("sum", "v")},
        )
        .toPandas()
        .sort_values(["k", "window_start"], kind="stable")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        got[sorted(got.columns)], expected[sorted(expected.columns)],
        check_dtype=False,
    )


def test_streaming_hopping_validation(spark, tmp_path):
    from tablecloth_time_spark.streaming.rollup import (
        streaming_hopping_rollup,
    )

    import datetime as dt

    batch = spark.createDataFrame(
        [("k", dt.datetime(2024, 1, 1), 1.0)],
        "k string, ts timestamp, v double",
    )
    src = str(tmp_path / "vsrc")
    batch.write.parquet(src)
    stream = spark.readStream.schema(batch.schema).parquet(src)
    with pytest.raises(ValueError, match="hop <= width"):
        streaming_hopping_rollup(
            stream, ["k"], "ts", 30, 60, "minute", {"n": ("count", "v")}
        )
    with pytest.raises(ValueError, match="metric units"):
        streaming_hopping_rollup(
            stream, ["k"], "ts", 2, 1, "month", {"n": ("count", "v")}
        )


def test_streaming_profile_matches_batch(spark, tmp_path):
    """Streaming data-quality profiles (availableNow drain) must equal
    batch profile_rollup(exact=False) on the same closed input — the
    sums/min/max are mergeable and HLL merge is register-max, so the
    parity is exact, sketch counts included."""
    import datetime as dt

    import numpy as np

    from tablecloth_time_spark.operators.profile import profile_rollup
    from tablecloth_time_spark.streaming.rollup import streaming_profile

    rng = np.random.default_rng(29)
    t0 = dt.datetime(2024, 5, 1)
    rows = []
    for i in range(600):
        v = float(round(rng.normal(10, 3), 3))
        if rng.random() < 0.07:
            v = None
        rows.append(
            (t0 + dt.timedelta(seconds=int(i * 97)), v, int(rng.integers(0, 9)))
        )
    rows.append((dt.datetime(2030, 1, 1), 0.0, 0))  # watermark flush
    batch = spark.createDataFrame(
        rows, "ts timestamp, v double, uid long"
    )
    src = str(tmp_path / "psrc")
    batch.write.parquet(src)

    stream = spark.readStream.schema(batch.schema).parquet(src)
    out = streaming_profile(
        stream, "ts", ["v", "uid"], 15, "minute", watermark="0 seconds"
    )
    q = (
        out.writeStream.format("memory")
        .queryName("profile_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    await_done(q)

    cutoff = dt.datetime(2029, 1, 1)
    got = (
        spark.table("profile_stream")
        .filter(F.col("bucket") < F.lit(cutoff))
        .toPandas()
        .sort_values(["bucket", "column"], kind="stable")
        .reset_index(drop=True)
    )
    expected = (
        profile_rollup(
            batch.filter(F.col("ts") < F.lit(cutoff)),
            "ts", ["v", "uid"], 15, "minute", exact=False,
        )
        .toPandas()
        .sort_values(["bucket", "column"], kind="stable")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        got[sorted(got.columns)], expected[sorted(expected.columns)],
        check_dtype=False,
    )


def test_streaming_budget_prefix_matches_batch(spark, tmp_path):
    """Per-conversation running-cost state across micro-batches: 3
    position-ordered files, one micro-batch each, must reproduce the
    batch budget_prefix exactly; a replayed (late) turn is flagged,
    not re-accumulated."""
    import numpy as np

    from tablecloth_time_spark.operators.transcripts import budget_prefix
    from tablecloth_time_spark.streaming.stateful import (
        streaming_budget_prefix,
    )

    rng = np.random.default_rng(11)
    frames = []
    for k in range(12):
        n = int(rng.integers(5, 60))
        frames.append(
            pd.DataFrame(
                {
                    "conv_id": f"c{k}",
                    "turn_idx": np.arange(n),
                    "n_tokens": rng.integers(5, 120, n),
                }
            )
        )
    rows = pd.concat(frames, ignore_index=True)
    full = spark.createDataFrame(rows)

    src = tmp_path / "src"
    src.mkdir()
    # split by GLOBAL turn_idx order -> per-conversation in-order batches
    ordered = rows.sort_values("turn_idx", kind="stable")
    for i, part in enumerate(np.array_split(np.arange(len(ordered)), 3)):
        spark.createDataFrame(ordered.iloc[part]).coalesce(1).write.parquet(
            str(src / f"f{i}")
        )
    # 4th file replays an already-processed turn of c0 (late duplicate)
    spark.createDataFrame(rows.iloc[[0]]).coalesce(1).write.parquet(
        str(src / "f3")
    )

    stream = (
        spark.readStream.schema(full.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "f*"))
    )
    out = streaming_budget_prefix(stream, "conv_id", "turn_idx", "n_tokens", 800)
    sink, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")
    q = (
        out.writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    await_done(q)

    got = spark.read.parquet(sink).toPandas()
    late = got[got["out_of_order"]]
    assert len(late) == 1 and late.iloc[0]["conv_id"] == "c0"
    assert pd.isna(late.iloc[0]["cum_cost"])
    kept = (
        got[~got["out_of_order"]]
        .sort_values(["conv_id", "pos"], kind="stable")
        .reset_index(drop=True)
    )
    exp = (
        budget_prefix(full, "conv_id", "turn_idx", "n_tokens", budget=800)
        .select("conv_id", F.col("turn_idx").cast("long").alias("pos"), "cum_cost")
        .toPandas()
        .sort_values(["conv_id", "pos"], kind="stable")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        kept[["conv_id", "pos", "cum_cost"]], exp, check_dtype=False
    )


def test_streaming_budget_prefix_fractional_costs_match_batch(
    spark, tmp_path
):
    """Fractional costs (weighted token counts) accumulate in float64 and
    compare against the budget BEFORE any cast — the streamed cut point
    must match the batch budget_prefix, which sums raw doubles. A
    truncating int cast would admit one extra turn here (2.6+2.6+2.6 =
    7.8 > 7.5 but truncates to 6 <= 7.5)."""
    import numpy as np

    from tablecloth_time_spark.operators.transcripts import budget_prefix
    from tablecloth_time_spark.streaming.stateful import (
        streaming_budget_prefix,
    )

    rows = pd.DataFrame(
        {
            "conv_id": ["c0"] * 4 + ["c1"] * 3,
            "turn_idx": [0, 1, 2, 3, 0, 1, 2],
            "n_tokens": [2.6, 2.6, 2.6, 0.1, 3.75, 3.75, 0.5],
        }
    )
    full = spark.createDataFrame(rows)
    src = tmp_path / "src"
    src.mkdir()
    ordered = rows.sort_values("turn_idx", kind="stable")
    for i, part in enumerate(np.array_split(np.arange(len(ordered)), 2)):
        spark.createDataFrame(ordered.iloc[part]).coalesce(1).write.parquet(
            str(src / f"f{i}")
        )
    stream = (
        spark.readStream.schema(full.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "f*"))
    )
    out = streaming_budget_prefix(stream, "conv_id", "turn_idx", "n_tokens", 7.5)
    sink, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")
    q = (
        out.writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", ckpt)
        .outputMode("append").trigger(availableNow=True).start()
    )
    await_done(q)
    got = (
        spark.read.parquet(sink)
        .toPandas()
        .sort_values(["conv_id", "pos"], kind="stable")
        .reset_index(drop=True)
    )
    exp = (
        budget_prefix(full, "conv_id", "turn_idx", "n_tokens", budget=7.5)
        .select(
            "conv_id", F.col("turn_idx").cast("long").alias("pos"), "cum_cost"
        )
        .toPandas()
        .sort_values(["conv_id", "pos"], kind="stable")
        .reset_index(drop=True)
    )
    # c0 keeps only turns 0-1 (2.6+2.6=5.2; +2.6=7.8 overflows, and the
    # later 0.1 turn stays dropped — prefix semantics); c1 keeps 0-1
    assert list(exp["pos"]) == [0, 1, 0, 1]
    pd.testing.assert_frame_equal(
        got[["conv_id", "pos", "cum_cost"]], exp, check_dtype=False
    )


def test_streaming_budget_prefix_validation(spark, tmp_path):
    from tablecloth_time_spark.streaming.stateful import (
        streaming_budget_prefix,
    )

    df = spark.createDataFrame(
        [("c", 0, 5)], "conv_id string, turn_idx int, n_tokens int"
    )
    with pytest.raises(ValueError, match="budget"):
        streaming_budget_prefix(df, "conv_id", "turn_idx", "n_tokens", 0)
