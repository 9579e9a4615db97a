"""Batch ≡ streaming parity (SURVEY §5.4, §7.0).

The same rule set, run (a) through the batch window-frame compiler and
(b) through Structured Streaming with the `applyInPandasWithState`
stateful branch over a file stream of the same rows, must produce the
IDENTICAL alert set — rule_name, key, alert_ts, details, rule_index all
bit-equal. This is the proof that the streaming processors implement the
batch (oracle-checked) semantics, transitively tying streaming to the
DuckDB oracle.
"""

from __future__ import annotations

import pytest

from stream_sentinel_spark.plans.corpus import DEFAULT_RULES
from stream_sentinel_spark.plans.pipeline import compile_rules
from stream_sentinel_spark.rules import DetectionRule
from stream_sentinel_spark.sources.batch import load_table
from stream_sentinel_spark.streaming import (
    compile_rules_streaming,
    read_file_stream,
    run_available_now,
)

SF_DIR = "/root/testdata/sf0.001"


def _alert_key(row):
    return (row["rule_name"], row["key"], row["alert_ts"], row["details"], row["rule_index"])


@pytest.fixture(scope="module")
def events_src(spark, tmp_path_factory):
    """The sf0.001 events table, rewritten as µs-timestamp parquet so the
    streaming reader sees the same rows the batch plan reads."""
    path = str(tmp_path_factory.mktemp("stream") / "events")
    ev = load_table(spark, SF_DIR, "events")
    ev.write.mode("overwrite").parquet(path)
    return path, ev


def _run_both(spark, events_src, rules, tag):
    path, ev = events_src
    batch = compile_rules(
        ev, rules, key_field="user_id", time_col="ts", order_cols=("event_id",)
    ).collect()
    stream = read_file_stream(spark, path, ev.schema, time_col="ts", watermark=None)
    alerts = compile_rules_streaming(
        stream, rules, key_field="user_id", time_col="ts", order_cols=("event_id",)
    )
    streamed = run_available_now(alerts, query_name=f"parity_{tag}")
    return batch, streamed


def test_full_pipeline_parity(spark, events_src):
    batch, streamed = _run_both(spark, events_src, DEFAULT_RULES, "full")
    assert len(batch) > 0, "fixture rules must fire on the test data"
    fired_rules = {r["rule_name"] for r in batch}
    assert len(fired_rules) == 3, f"all three rules should fire, got {fired_rules}"
    assert sorted(map(_alert_key, batch)) == sorted(map(_alert_key, streamed))


def test_original_event_round_trip(spark, events_src):
    """The stateful branch carries the full original_event map through
    Arrow and back (Alert.java:43,59-61 defensive-copy parity)."""
    rules = [
        DetectionRule(
            name="rate_only", type="rate", key_field="user_id",
            window_seconds=86_400, threshold=4,
        )
    ]
    batch, streamed = _run_both(spark, events_src, rules, "evmap")
    assert len(streamed) == len(batch) > 0
    b = {_alert_key(r): r["original_event"] for r in batch}
    s = {_alert_key(r): r["original_event"] for r in streamed}
    assert set(b) == set(s)
    # spot-check one map: same fields, same stringified values
    k = next(iter(b))
    assert b[k] == s[k]


def test_state_ttl_mode_same_results(spark, events_src):
    """Idle-key TTL eviction must not change any alert. A query with
    ProcessingTimeTimeout never self-terminates under availableNow (the
    registered timeouts keep it alive), so this polls the memory sink
    for the full alert count and stops the query explicitly."""
    import time

    path, ev = events_src
    batch = compile_rules(
        ev, DEFAULT_RULES, key_field="user_id", time_col="ts", order_cols=("event_id",)
    ).collect()
    stream = read_file_stream(spark, path, ev.schema, time_col="ts", watermark=None)
    alerts = compile_rules_streaming(
        stream, DEFAULT_RULES, key_field="user_id", time_col="ts",
        order_cols=("event_id",), state_ttl_ms=3_600_000,
    )
    q = (
        alerts.writeStream.format("memory")
        .queryName("parity_ttl")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    try:
        deadline = time.time() + 120
        while time.time() < deadline:
            if spark.table("parity_ttl").count() >= len(batch):
                break
            time.sleep(0.5)
        with_ttl = spark.table("parity_ttl").collect()
    finally:
        q.stop()
    assert sorted(map(_alert_key, with_ttl)) == sorted(map(_alert_key, batch))


def test_streaming_tumbling_windows_match_batch(spark, events_src):
    """Grouped time windows (T5) run on streams too: complete-mode
    tumbling counts over a file stream equal the batch aggregation."""
    from pyspark.sql import functions as F

    from stream_sentinel_spark.functions.coercion import key_column
    from stream_sentinel_spark.operators.windows import tumbling_counts

    path, ev = events_src
    batch = {
        (r["k"], r["window_start_ms"]): r["n"]
        for r in tumbling_counts(ev, key_column(ev, "user_id"), "ts", "6 hours").collect()
    }
    stream = read_file_stream(spark, path, ev.schema, time_col="ts", watermark=None)
    agg = tumbling_counts(stream, key_column(stream, "user_id"), "ts", "6 hours")
    q = (
        agg.writeStream.format("memory")
        .queryName("tumbling_stream")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    streamed = {
        (r["k"], r["window_start_ms"]): r["n"]
        for r in spark.table("tumbling_stream").collect()
    }
    assert streamed == batch and len(batch) > 0


def test_stateless_branch_stays_native(spark, events_src):
    """A threshold-only rule set must not contain a state operator in the
    streaming plan (it compiles to a pure filter — the slow path is
    reserved for genuinely stateful rules)."""
    path, ev = events_src
    stream = read_file_stream(spark, path, ev.schema, time_col="ts", watermark=None)
    rules = [DetectionRule(name="thr", type="threshold", field="value", threshold=250.0)]
    alerts = compile_rules_streaming(stream, rules, key_field="user_id", time_col="ts")
    plan = alerts._jdf.queryExecution().analyzed().toString()
    assert "FlatMapGroupsInPandasWithState" not in plan


def test_cusum_extension_parity(spark, events_src):
    """The cusum extension's streaming twin (one scaled integer of
    state per key) must reproduce the batch closed-form plan exactly —
    details strings included — alongside the built-in rules in one
    pipeline."""
    rules = [
        DetectionRule(
            name="value_drift", type="cusum", field="value",
            target=80.0, threshold=200.0,
        ),
        DetectionRule(
            name="high_value", type="threshold", field="value", threshold=400.0
        ),
    ]
    batch, streamed = _run_both(spark, events_src, rules, "cusum")
    assert len(batch) > 0, "tune target/threshold: cusum never fired"
    assert sorted(map(_alert_key, batch)) == sorted(map(_alert_key, streamed))


def test_streaming_session_windows_match_batch(spark, events_src):
    """Session windows (T5) are streaming-native too: complete-mode
    merge-on-aggregate sessions over a file stream equal the batch
    session_window aggregation (same gap, same expiry-end timestamps)."""
    from stream_sentinel_spark.functions.coercion import key_column
    from stream_sentinel_spark.operators.windows import session_windows

    path, ev = events_src
    batch = {
        (r["k"], r["session_start_ms"], r["session_end_ms"]): r["n_events"]
        for r in session_windows(
            ev, key_column(ev, "user_id"), "ts", "30 minutes"
        ).collect()
    }
    stream = read_file_stream(spark, path, ev.schema, time_col="ts", watermark=None)
    agg = session_windows(stream, key_column(stream, "user_id"), "ts", "30 minutes")
    q = (
        agg.writeStream.format("memory")
        .queryName("session_stream")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    streamed = {
        (r["k"], r["session_start_ms"], r["session_end_ms"]): r["n_events"]
        for r in spark.table("session_stream").collect()
    }
    assert streamed == batch and len(batch) > 0


def test_null_order_value_sorts_last_like_pandas():
    """A NULL tie-break value must sort LAST within its timestamp group
    (the pandas na_position='last' semantics the numpy rework replaced)
    and must not crash the processor. CUSUM makes the order observable:
    evaluating the small value first means only the second (null-order)
    event crosses the threshold — one alert; the reverse order would
    fire twice."""
    import pandas as pd

    from stream_sentinel_spark.streaming.state import _run_rules_over_bucket

    spec = {
        "rule_index": 0, "name": "drift", "type": "cusum", "field": "value",
        "threshold": 50.0, "window_seconds": 0, "window_size": 0,
        "deviation_factor": 0.0, "decimal_scale": 2, "target": 0.0,
    }
    pdf = pd.DataFrame(
        {
            "__ss_key": ["k", "k"],
            "__ss_ts_us": [1_000_000, 1_000_000],
            "__ss_event": [{"which": "null-order"}, {"which": "a-order"}],
            "event_id": [None, "a"],
            "__ss_v0": [100.0, 1.0],
        }
    )
    st: dict = {}
    out = _run_rules_over_bucket(
        st, iter([pdf]), [spec], {0: "__ss_v0"}, ("event_id",)
    )
    assert out["rule_name"] == ["drift"], "exactly one alert => 'a' ran first"
    assert out["original_event"] == [{"which": "null-order"}]


def test_null_order_value_object_int_column():
    """An object-dtype order column holding NON-STRING values (e.g.
    nullable ints pandas surfaces as objects) with a null used to crash
    the lexsort key path: the '' filler mixed str and int in one object
    array and np.lexsort raised TypeError. The filler is now drawn from
    the column's own non-null values, so any homogeneous dtype works —
    and the null still sorts LAST within its timestamp group (same
    CUSUM-observable construction as the string-column test above)."""
    import pandas as pd

    from stream_sentinel_spark.streaming.state import _run_rules_over_bucket

    spec = {
        "rule_index": 0, "name": "drift", "type": "cusum", "field": "value",
        "threshold": 50.0, "window_seconds": 0, "window_size": 0,
        "deviation_factor": 0.0, "decimal_scale": 2, "target": 0.0,
    }
    pdf = pd.DataFrame(
        {
            "__ss_key": ["k", "k"],
            "__ss_ts_us": [1_000_000, 1_000_000],
            "__ss_event": [{"which": "null-order"}, {"which": "int-order"}],
            "seq": pd.Series([None, 7], dtype="object"),
            "__ss_v0": [100.0, 1.0],
        }
    )
    assert pdf["seq"].dtype == object and isinstance(pdf["seq"][1], int)
    st: dict = {}
    out = _run_rules_over_bucket(
        st, iter([pdf]), [spec], {0: "__ss_v0"}, ("seq",)
    )
    assert out["rule_name"] == ["drift"], "exactly one alert => 7 ran first"
    assert out["original_event"] == [{"which": "null-order"}]
