"""Scale-stress the EVENT-TIME ordered mode at extreme key cardinality:
the key-packed stateful_alerts_event_time on the same churn-shaped
stream the arrival-order stress uses — 300k events / ~295k distinct
keys — with its alert set asserted IDENTICAL to the batch plan's over
the same rows (the stream delivers in event-time order, so no row is
late). The per-key mode this harness once ran beside it (11.14×
slower, identical alerts) is recorded in STRESS_r05_eventtime.json.

The stream's event times advance 1 s per event across 6 files
(maxFilesPerTrigger=1), so with a 5 s watermark delay each batch's rows
flush when the next batch's data advances the watermark; a final
sentinel file (far-future ts, fires nothing) flushes the tail.

Run:  python tools/eventtime_scale_stress.py [--out STRESS_eventtime.json]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time

_HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(_HERE))  # repo root (the package)
sys.path.insert(0, _HERE)                   # tools/ (sibling stress module)

from pyspark.sql import functions as F

from streaming_scale_stress import N_EVENTS, ProgressCapture, _make_stream_files

WATERMARK = "5 seconds"
N_BUCKETS = 4096


def _add_sentinel(spark, src: str) -> None:
    spark.range(1).select(
        F.lit("sentinel").alias("event_id"),
        F.lit("sentinel_user").alias("user_id"),
        F.lit(0.0).alias("value"),  # fires nothing
        F.timestamp_micros(
            F.lit(1_700_000_000_000_000 + (N_EVENTS + 10_000) * 1_000_000)
        ).alias("ts"),
    ).coalesce(1).write.mode("append").parquet(src)


def _run(spark, src, schema):
    import shutil

    from stream_sentinel_spark.plans.corpus import DEFAULT_RULES
    from stream_sentinel_spark.streaming import read_file_stream
    from stream_sentinel_spark.streaming.state import stateful_alerts_event_time

    cap = ProgressCapture()
    spark.streams.addListener(cap)
    ckpt = tempfile.mkdtemp(prefix="ss_evt_stress_ckpt_")
    try:
        stream = read_file_stream(
            spark, src, schema, time_col="ts", watermark=WATERMARK,
            max_files_per_trigger=1,
        )
        stateful = [r for r in DEFAULT_RULES if r.type != "threshold"]
        alerts = stateful_alerts_event_time(
            stream, stateful, key_field="user_id", time_col="ts",
            order_cols=("event_id",), n_buckets=N_BUCKETS,
        )
        t0 = time.perf_counter()
        q = (
            alerts.writeStream.format("memory")
            .queryName("evt_stress")
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        wall = time.perf_counter() - t0
        rows = spark.table("evt_stress").collect()
        data_ms = sum(
            p["batchDuration"] for p in cap.progress if p.get("numInputRows")
        )
        state_rows = [
            p["stateOperators"][0]["numRowsTotal"]
            for p in cap.progress
            if p.get("stateOperators")
        ]
        return {
            "wall_sec": round(wall, 2),
            "events_per_sec": round(N_EVENTS / (data_ms / 1000.0), 1)
            if data_ms
            else None,
            "n_batches": len(cap.progress),
            "state_rows_max": max(state_rows) if state_rows else None,
            "alerts": sorted(
                (r["rule_name"], r["key"], str(r["alert_ts"]), r["details"])
                for r in rows
                if r["key"] != "sentinel_user"
            ),
        }
    finally:
        spark.streams.removeListener(cap)
        shutil.rmtree(ckpt, ignore_errors=True)


def _batch_alerts(spark, src: str) -> list:
    """The batch plan's alerts over the same rows, sentinel excluded, in
    the streaming leg's tuple form."""
    from stream_sentinel_spark.plans.corpus import DEFAULT_RULES
    from stream_sentinel_spark.plans.pipeline import compile_rules

    events = spark.read.parquet(src).filter(F.col("user_id") != "sentinel_user")
    stateful = [r for r in DEFAULT_RULES if r.type != "threshold"]
    rows = compile_rules(
        events, stateful, key_field="user_id", time_col="ts",
        order_cols=("event_id",),
    ).collect()
    return sorted(
        (r["rule_name"], r["key"], str(r["alert_ts"]), r["details"]) for r in rows
    )


def run(out_path: str) -> dict:
    from stream_sentinel_spark.testing import stress_session

    spark = stress_session()
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    src = tempfile.mkdtemp(prefix="ss_evt_stress_src_")
    try:
        _make_stream_files(spark, src)
        _add_sentinel(spark, src)
        schema = spark.read.parquet(src).schema

        packed = _run(spark, src, schema)
        batch = _batch_alerts(spark, src)

        rec = {
            "n_events": N_EVENTS,
            "n_distinct_keys": spark.read.parquet(src)
            .select("user_id").distinct().count() - 1,  # minus sentinel
            "watermark": WATERMARK,
            "n_buckets": N_BUCKETS,
            "key_packed": {k: v for k, v in packed.items() if k != "alerts"},
            "alert_parity": batch == packed["alerts"],
            "n_alerts": len(packed["alerts"]),
        }
        print(json.dumps(rec, indent=1), flush=True)
        assert rec["alert_parity"], "event-time mode must match the batch plan"
        assert rec["n_alerts"] > 0, "hot keys must actually fire"
        # state rows are bounded by the bucket count (+1 operator row
        # slack), not by the keys with pending rows
        assert rec["key_packed"]["state_rows_max"] <= N_BUCKETS + 1
        rec["all_assertions_pass"] = True
        with open(out_path, "w") as fh:
            json.dump(rec, fh, indent=1)
        return rec
    finally:
        import shutil

        shutil.rmtree(src, ignore_errors=True)


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default="STRESS_eventtime.json")
    args = ap.parse_args()
    run(args.out)
