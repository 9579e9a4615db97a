"""M4: metrics (W4/W5) + health endpoint parity tests."""

from __future__ import annotations

import json
import urllib.request

import pytest

from stream_sentinel_spark.health import HealthServer
from stream_sentinel_spark.metrics import (
    ANOMALIES_DETECTED,
    EVENTS_PROCESSED,
    SentinelMetricsListener,
    latency_percentiles,
    observe_alerts,
    observe_events,
)
from stream_sentinel_spark.plans.corpus import THRESHOLD_RULE
from stream_sentinel_spark.plans.pipeline import compile_rules
from stream_sentinel_spark.sources.batch import load_table
from stream_sentinel_spark.streaming import (
    compile_rules_streaming,
    read_file_stream,
)

SF_DIR = "/root/testdata/sf0.001"


def test_observe_counters_batch(spark):
    """W5: counters ride the action itself — one pass, executor-side."""
    ev = load_table(spark, SF_DIR, "events")
    ev_obs, events_o = observe_events(ev)
    alerts = compile_rules(
        ev_obs, [THRESHOLD_RULE], key_field="user_id", time_col="ts"
    )
    alerts_obs, alerts_o = observe_alerts(alerts)
    n_alerts = alerts_obs.count()
    assert alerts_o.get[ANOMALIES_DETECTED] == n_alerts
    assert events_o.get[EVENTS_PROCESSED] == ev.count()


def test_latency_percentiles(spark):
    df = spark.range(1000).selectExpr("cast(id as double) as ms")
    row = latency_percentiles(df, "ms").collect()[0]
    assert row["p50"] == pytest.approx(500, abs=10)
    assert row["p95"] == pytest.approx(950, abs=10)
    assert row["p99"] == pytest.approx(990, abs=10)


def test_streaming_listener_counts(spark, tmp_path):
    ev = load_table(spark, SF_DIR, "events")
    src = str(tmp_path / "ev")
    ev.write.parquet(src)
    listener = SentinelMetricsListener()
    spark.streams.addListener(listener)
    try:
        stream = read_file_stream(spark, src, ev.schema, time_col="ts", watermark=None)
        alerts = compile_rules_streaming(
            stream, [THRESHOLD_RULE], key_field="user_id", time_col="ts"
        )
        q = (
            alerts.writeStream.format("memory")
            .queryName("metrics_probe")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        n_alerts = spark.table("metrics_probe").count()
        # listener delivery is async — poll briefly
        import time

        for _ in range(40):
            if listener.anomalies_detected >= n_alerts:
                break
            time.sleep(0.25)
        snap = listener.snapshot()
        assert snap[EVENTS_PROCESSED] == ev.count()
        assert snap[ANOMALIES_DETECTED] == n_alerts > 0
        assert snap["processing_latency_ms"]["p50"] > 0
    finally:
        spark.streams.removeListener(listener)


class _FakeSource:
    def __init__(self, description, rows):
        self.description = description
        self.numInputRows = rows


class _FakeProgress:
    def __init__(self, sources, observed=None):
        self.sources = sources
        self.observedMetrics = observed
        self.sink = None
        self.durationMs = {}


def _events_of(progress) -> int:
    listener = SentinelMetricsListener()
    listener.onQueryProgress(type("E", (), {"progress": progress})())
    return listener.events_processed


def test_listener_counts_each_source_once():
    """Two sources with the same description count once; two different
    sources still sum."""
    same = [_FakeSource("FileStreamSource[a]", 7), _FakeSource("FileStreamSource[a]", 7)]
    assert _events_of(_FakeProgress(same)) == 7
    both = [_FakeSource("FileStreamSource[a]", 7), _FakeSource("FileStreamSource[b]", 5)]
    assert _events_of(_FakeProgress(both)) == 12


def test_listener_prefers_the_observed_event_count():
    """Spark sums every scan of a source into its numInputRows, so a
    source feeding two branches reports twice its rows; the detector's
    observed count is the one the listener takes."""
    from pyspark.sql import Row

    from stream_sentinel_spark.metrics import STREAM_EVENTS_OBSERVATION

    observed = {
        f"{STREAM_EVENTS_OBSERVATION}_0": Row(**{EVENTS_PROCESSED: 7}),
        "user_metric": Row(n=99),
    }
    progress = _FakeProgress([_FakeSource("FileStreamSource[a]", 14)], observed)
    assert _events_of(progress) == 7


def _drain_counting(spark, alerts, ckpt: str, expected: int) -> tuple[int, int]:
    """Run ``alerts`` to completion under a fresh listener; returns
    (Spark's summed numInputRows, the listener's events_processed)."""
    import time

    listener = SentinelMetricsListener()
    spark.streams.addListener(listener)
    try:
        q = (
            alerts.writeStream.format("noop")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        for _ in range(40):
            if listener.events_processed >= expected:
                break
            time.sleep(0.25)
        time.sleep(0.5)  # a late double count would land here
        return sum(p.numInputRows for p in q.recentProgress), listener.events_processed
    finally:
        spark.streams.removeListener(listener)


def test_streaming_listener_counts_events_once_across_branches(spark, tmp_path):
    """DEFAULT_RULES compile to a stateless and a stateful branch, both
    scanning the one file source; the listener still counts each event
    once. Two stateless detectors over two sources unioned in one query
    (a query holds at most one stateful detector) count each source's
    events once, without their event counts colliding."""
    from stream_sentinel_spark.plans.corpus import DEFAULT_RULES

    ev = load_table(spark, SF_DIR, "events")
    n = ev.count()
    srcs = [str(tmp_path / "ev_a"), str(tmp_path / "ev_b")]
    for src in srcs:
        ev.write.parquet(src)

    def detector(src, rules):
        stream = read_file_stream(spark, src, ev.schema, time_col="ts", watermark=None)
        return compile_rules_streaming(
            stream, rules, key_field="user_id", time_col="ts",
            order_cols=("event_id",),
        )

    scanned, counted = _drain_counting(
        spark, detector(srcs[0], DEFAULT_RULES), str(tmp_path / "ckpt1"), n
    )
    assert scanned == 2 * n and counted == n
    both = detector(srcs[0], [THRESHOLD_RULE]).unionByName(
        detector(srcs[1], [THRESHOLD_RULE])
    )
    scanned, counted = _drain_counting(spark, both, str(tmp_path / "ckpt2"), 2 * n)
    assert scanned == 2 * n and counted == 2 * n


def test_health_port_validation():
    srv = HealthServer()
    with pytest.raises(ValueError, match=r"\[1, 65535\]"):
        srv.start(0)
    with pytest.raises(ValueError, match=r"\[1, 65535\]"):
        srv.start(70_000)


def _free_port() -> int:
    # pick a free ephemeral port manually (reference requires 1..65535)
    import socket

    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


def test_health_serves_up():
    srv = HealthServer()
    port = _free_port()
    srv.start(port)
    try:
        assert srv.is_running()
        for path in ("/health", "/readiness"):
            with urllib.request.urlopen(f"http://127.0.0.1:{port}{path}") as r:
                assert r.status == 200
                assert json.loads(r.read()) == {"status": "UP"}
        with pytest.raises(urllib.error.HTTPError):
            urllib.request.urlopen(f"http://127.0.0.1:{port}/nope")
        # no metrics source wired -> /metrics is 404, health unaffected
        with pytest.raises(urllib.error.HTTPError):
            urllib.request.urlopen(f"http://127.0.0.1:{port}/metrics")
    finally:
        srv.stop()
    assert not srv.is_running()


def test_metrics_prometheus_exposition():
    """SentinelMetrics exposition parity (SentinelMetrics.java:25-51):
    /metrics serves the listener snapshot as Prometheus counters plus a
    latency summary with the reference's three quantiles."""
    listener = SentinelMetricsListener()
    listener.events_processed = 120
    listener.anomalies_detected = 7
    for x in range(1, 101):
        listener._observe_latency(float(x))
    srv = HealthServer(metrics_source=listener.snapshot)
    port = _free_port()
    srv.start(port)
    try:
        with urllib.request.urlopen(f"http://127.0.0.1:{port}/metrics") as r:
            assert r.status == 200
            assert r.headers["Content-Type"].startswith("text/plain")
            body = r.read().decode()
        assert "# TYPE events_processed_total counter" in body
        assert "events_processed_total 120" in body
        assert "anomalies_detected_total 7" in body
        assert "# TYPE processing_latency_ms summary" in body
        assert 'processing_latency_ms{quantile="0.5"} 51.0' in body
        assert 'processing_latency_ms{quantile="0.95"}' in body
        assert 'processing_latency_ms{quantile="0.99"}' in body
        # full summary family: cumulative _count/_sum (rate() inputs)
        # and HELP lines, as a client library would emit
        assert "processing_latency_ms_count 100" in body
        assert "processing_latency_ms_sum 5050.0" in body
        assert "# HELP events_processed_total events processed" in body
        assert "# HELP processing_latency_ms processing latency ms" in body
        # the quantile/count keys must not leak as bogus quantile samples
        assert 'quantile="count"' not in body and "nan" not in body
    finally:
        srv.stop()


def test_grouped_percentiles_null_discipline_matches_across_regimes(spark):
    """NULL values must be excluded from the percentile (the approx
    regime's percentile_approx and DuckDB's quantile_disc both skip
    them) while n_events counts every row — in BOTH regimes, so
    crossing the 10M-row exact/approx cutoff can never change answers
    on nullable columns."""
    import duckdb

    from stream_sentinel_spark.metrics import grouped_percentiles

    rows = [("a", float(v)) for v in range(1, 91)] + [("a", None)] * 10
    rows += [("b", 5.0), ("b", None)]
    rows += [("c", None), ("c", None)]  # all-null group -> NULL pcts
    df = spark.createDataFrame(rows, "g string, v double")

    exact = {
        r["g"]: (r["n_events"], r["p50_v"], r["p95_v"], r["p99_v"])
        for r in grouped_percentiles(df, "g", "v").collect()
    }
    approx = {
        r["g"]: (r["n_events"], r["p50_v"], r["p95_v"], r["p99_v"])
        for r in grouped_percentiles(
            df, "g", "v", exact_max_rows_per_group=0
        ).collect()
    }
    assert exact == approx

    con = duckdb.connect()
    con.register("t", df.toPandas())
    want = {
        r[0]: (r[1], r[2], r[3], r[4])
        for r in con.execute(
            "SELECT g, count(*), quantile_disc(v, 0.50), "
            "quantile_disc(v, 0.95), quantile_disc(v, 0.99) "
            "FROM t GROUP BY g"
        ).fetchall()
    }
    assert exact == want
    assert exact["a"] == (100, 45.0, 86.0, 90.0)
    assert exact["c"][1] is None
