"""Topology-level crash/resume exactly-once.

The per-query checkpoint tests (test_jdbc_sink, test_streaming_routing) prove
a SINGLE query resumes without duplicating output. This test proves the
composed warehouse topology does: four concurrent queries chained through
parquet handoffs (the reference's Kafka-topic decoupling, `BaseLogApp.java` →
`UniqueVisitApp.java`/`UserJumpDetailApp.java` → `VisitorStatsApp.java`) are
stopped MID-PIPELINE — upstream chunks processed, downstream state half-built,
in-flight batches aborted — then restarted from the same checkpoints, and the
final DWS output must equal the batch oracle exactly. A lost file, a replayed
micro-batch reaching a sink twice, state resuming at the wrong offset, or a
window emitted on both sides of the restart all break the equality.

Exactly-once here is the composition of two mechanisms this test exercises
end-to-end across a restart boundary:
  * file SOURCE offsets in each checkpoint (a half-processed directory resumes
    at the right file), and
  * file SINK manifests (_spark_metadata): an aborted batch's orphan parquet
    files are not listed, and batch reads of the handoff dir honor the
    manifest — so downstream never sees uncommitted upstream output.
"""

from __future__ import annotations

import os
import time
from datetime import timedelta

from pyspark.sql import functions as F

from gmall_spark.operators.stateful import dedup_daily, detect_bounce
from gmall_spark.sources import load_table
from gmall_spark.streaming.stateful import dedup_daily_stream, detect_bounce_stream
from gmall_spark.streaming.topology import _drain, _write_sentinel

SF = "/root/testdata/sf0.001"
N_CHUNKS = 4
TRIG = {"processingTime": "0.3 seconds"}
PAGE_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, value double"
)


def _mkdir(base, name):
    d = os.path.join(base, name)
    os.makedirs(d, exist_ok=True)
    return d


def _write_chunks(spark, src):
    pdf = load_table(spark, SF, "events").orderBy("ts").toPandas()
    chunk = (len(pdf) + N_CHUNKS - 1) // N_CHUNKS
    mtime = 1_600_000_000
    for i in range(N_CHUNKS):
        part = pdf.iloc[i * chunk : (i + 1) * chunk]
        p = os.path.join(src, f"part-{i:03d}.parquet")
        part.to_parquet(
            p, index=False, coerce_timestamps="us", allow_truncated_timestamps=True
        )
        os.utime(p, (mtime + i * 10, mtime + i * 10))
    lo, hi = pdf["ts"].min(), pdf["ts"].max()
    return lo.to_pydatetime(), hi.to_pydatetime(), os.stat(p).st_mtime


def _start_topology(spark, base, src, hi, delay_secs):
    """Start the four checkpointed queries; idempotent across restarts —
    every query (q3 included, unlike the bench entry's memory sink) writes a
    parquet sink with a checkpoint, so the whole topology is resumable.
    q2a/q2b run the keyed-state kernels in their default hash key-group
    layout, as warehouse_e2e/warehouse_e2e_append do, so the resumed state
    is the production one: one row of arrays per key group."""
    dwd_page = _mkdir(base, "dwd_page")
    dwm_uv = _mkdir(base, "dwm_uv")
    dwm_uj = _mkdir(base, "dwm_uj")
    dws = _mkdir(base, "dws")
    queries = []

    ev = (
        spark.readStream.schema(PAGE_SCHEMA + ", props string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    queries.append(
        ev.select("event_id", "ts", "user_id", "event_type", "value")
        .writeStream.format("parquet")
        .option("path", dwd_page)
        .option("checkpointLocation", _mkdir(base, "ck_q1"))
        .outputMode("append")
        .trigger(**TRIG)
        .start()
    )

    def page_stream():
        return spark.readStream.schema(PAGE_SCHEMA).parquet(dwd_page)

    queries.append(
        dedup_daily_stream(page_stream())
        .writeStream.format("parquet")
        .option("path", dwm_uv)
        .option("checkpointLocation", _mkdir(base, "ck_q2a"))
        .outputMode("append")
        .trigger(**TRIG)
        .start()
    )
    queries.append(
        detect_bounce_stream(page_stream())
        .writeStream.format("parquet")
        .option("path", dwm_uj)
        .option("checkpointLocation", _mkdir(base, "ck_q2b"))
        .outputMode("append")
        .trigger(**TRIG)
        .start()
    )

    pv = page_stream().select(F.lit("pv").alias("src"), "ts")
    uv = (
        spark.readStream.schema(
            "user_id long, dt string, first_event_id long, first_ts timestamp"
        )
        .parquet(dwm_uv)
        .select(F.lit("uv").alias("src"), F.col("first_ts").alias("ts"))
    )
    uj = (
        spark.readStream.schema(
            "event_id long, user_id long, ts timestamp, bounce_reason string"
        )
        .parquet(dwm_uj)
        .select(F.lit("uj").alias("src"), "ts")
    )
    stats = (
        pv.unionByName(uv)
        .unionByName(uj)
        .withWatermark("ts", f"{delay_secs} seconds")
        .filter(F.col("ts") <= F.lit(hi))
        .groupBy(F.window("ts", "10 minutes").alias("w"))
        .agg(
            F.sum(F.when(F.col("src") == "pv", 1).otherwise(0)).cast("long").alias("pv_ct"),
            F.sum(F.when(F.col("src") == "uv", 1).otherwise(0)).cast("long").alias("uv_ct"),
            F.sum(F.when(F.col("src") == "uj", 1).otherwise(0)).cast("long").alias("uj_ct"),
        )
        .select(
            F.col("w.start").alias("stt"),
            F.col("w.end").alias("edt"),
            "pv_ct",
            "uv_ct",
            "uj_ct",
        )
    )
    queries.append(
        stats.writeStream.format("parquet")
        .option("path", dws)
        .option("checkpointLocation", _mkdir(base, "ck_q3"))
        .outputMode("append")
        .trigger(**TRIG)
        .start()
    )
    return queries


def test_topology_crash_resume_exactly_once(spark, tmp_path):
    base = str(tmp_path)
    src = _mkdir(base, "src")
    lo, hi, last_mtime = _write_chunks(spark, src)
    delay_secs = int((hi - lo).total_seconds()) + 1 + 700

    prev_shuffle = spark.conf.get("spark.sql.shuffle.partitions")
    prev_idle = spark.conf.get(
        "spark.sql.streaming.noDataProgressEventInterval", None
    )
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    spark.conf.set("spark.sql.streaming.noDataProgressEventInterval", "250ms")
    try:
        # ---- phase 1: run until mid-pipeline, then crash-stop all four.
        # Condition: q1 has committed ≥2 of the 4 chunks, so downstream
        # queries hold keyed state and partially-aggregated windows while
        # unprocessed chunks remain — the restart must pick up BOTH the
        # half-read source and the half-built state.
        queries = _start_topology(spark, base, src, hi, delay_secs)
        try:
            deadline = time.monotonic() + 120
            while True:
                p = queries[0].lastProgress
                if p is not None and p["batchId"] >= 1 and p["numInputRows"] > 0:
                    break
                if time.monotonic() > deadline:
                    raise TimeoutError("q1 never reached its second chunk")
                time.sleep(0.1)
        finally:
            # no drain — in-flight downstream batches abort, like a crash
            for q in queries:
                q.stop()

        # the crash must land mid-pipeline for the resume to prove anything:
        # q1 ingested some-but-not-all chunks (sentinels not yet written)
        committed = spark.read.schema(PAGE_SCHEMA).parquet(
            os.path.join(base, "dwd_page")
        )
        n_committed = committed.count()
        n_total = load_table(spark, SF, "events").count()
        assert 0 < n_committed < n_total, (
            f"crash landed outside the pipeline: {n_committed}/{n_total} "
            "events already at DWD"
        )

        # ---- phase 2: resume from the same checkpoints, finish the stream,
        # flush timers (sentinel A) and close windows (sentinel B)
        queries = _start_topology(spark, base, src, hi, delay_secs)
        try:
            _drain(queries, 0.3, 240.0)
            _write_sentinel(
                src, "a_timer_flush", hi + timedelta(seconds=610), 0, last_mtime
            )
            _drain(queries, 0.3, 240.0)
            _write_sentinel(
                src, "b_window_close", hi + timedelta(seconds=delay_secs + 1200), 1,
                last_mtime,
            )
            _drain(queries, 0.3, 240.0)
        finally:
            for q in queries:
                q.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_shuffle)
        if prev_idle is None:
            spark.conf.unset("spark.sql.streaming.noDataProgressEventInterval")
        else:
            spark.conf.set(
                "spark.sql.streaming.noDataProgressEventInterval", prev_idle
            )

    got = spark.read.parquet(os.path.join(base, "dws")).collect()

    # append mode + exactly-once ⇒ each window emitted on exactly one side of
    # the restart, never both
    keys = [(r["stt"], r["edt"]) for r in got]
    assert len(keys) == len(set(keys)), "window emitted twice across restart"

    # batch oracle from the batch twins over the full input
    events = load_table(spark, SF, "events")
    win = F.window("ts", "10 minutes").alias("w")
    pv = events.groupBy(win).agg(F.count("*").alias("pv_ct"))
    uv = (
        dedup_daily(events, "user_id", "ts", "event_id")
        .groupBy(win)
        .agg(F.count("*").alias("uv_ct"))
    )
    uj = (
        detect_bounce(
            events, "user_id", "ts", "event_id",
            F.col("event_type") == "view", "600 seconds",
        )
        .groupBy(win)
        .agg(F.count("*").alias("uj_ct"))
    )
    exp = {
        (r["w"]["start"], r["w"]["end"]): (
            r["pv_ct"] or 0, r["uv_ct"] or 0, r["uj_ct"] or 0,
        )
        for r in pv.join(uv, "w", "full").join(uj, "w", "full").collect()
    }
    assert {
        (r["stt"], r["edt"]): (r["pv_ct"], r["uv_ct"], r["uj_ct"]) for r in got
    } == exp
