"""Event-time ordered streaming mode: detection results must be
INVARIANT to arrival order up to the watermark bound, and equal the
batch plans (which are event-time ordered by construction).

The fixture deliberately delivers events SHUFFLED within two time
blocks across micro-batches (maxFilesPerTrigger=1) with sentinel
events advancing the watermark between and after the blocks — the
arrival-order detector would evaluate the shuffled windows and
produce different rate/statistical alerts; the event-time mode must
reproduce the batch alert set exactly."""

from __future__ import annotations

import datetime as dt
import random

import pytest

from stream_sentinel_spark.plans.pipeline import compile_rules
from stream_sentinel_spark.rules import DetectionRule
from stream_sentinel_spark.streaming.sources import read_file_stream
from stream_sentinel_spark.streaming.state import stateful_alerts_event_time

BASE = dt.datetime(2024, 1, 1)
SENTINEL_USER = 9999
DELAY = "150 seconds"  # must cover the disorder span (one 120 s block)

RULES = [
    DetectionRule(
        name="r_rate", type="rate", key_field="user_id",
        window_seconds=30, threshold=3,
    ),
    DetectionRule(
        name="r_stat", type="statistical", field="value", window_size=5,
        deviation_factor=1.5, decimal_scale=2,
    ),
]


def _mk_events():
    rng = random.Random(7)
    rows = []
    eid = 0
    # block 1: seconds 0..119; block 2: seconds 122..241 (2s gap at the
    # split so the mid-sentinel watermark lands between the blocks)
    for block_start in (0, 122):
        for s in range(120):
            for u in (1, 2, 3):
                if (s + u) % 2 == 0:
                    rows.append(
                        dict(
                            event_id=eid,
                            user_id=u,
                            value=float((s * 7 + u * 13) % 300),
                            ts=BASE + dt.timedelta(seconds=block_start + s),
                        )
                    )
                    eid += 1
    b1 = [r for r in rows if r["ts"] < BASE + dt.timedelta(seconds=121)]
    b2 = [r for r in rows if r["ts"] >= BASE + dt.timedelta(seconds=121)]
    rng.shuffle(b1)
    rng.shuffle(b2)

    def split3(rows_):
        # SHUFFLED rows split across three files: the disorder now spans
        # MICRO-BATCHES, not just within one (each batch is event-time
        # sorted internally by _run_rules_over_bucket, so single-file
        # disorder is invisible to the arrival-order detector)
        k = (len(rows_) + 2) // 3
        return [rows_[i : i + k] for i in range(0, len(rows_), k)]
    # sentinels: own key, NULL value (invisible to value rules; rate
    # threshold 3 never fires on single events)
    def sentinel(eid_, secs):
        return dict(
            event_id=eid_, user_id=SENTINEL_USER, value=None,
            ts=BASE + dt.timedelta(seconds=secs),
        )

    # mid sentinel: wm = ts - 150s must cover block 1 (>119) and not
    # reach block 2 (<122): ts = 271s -> wm 121s
    s1 = sentinel(100_000, 271)
    # end sentinel: wm past block 2 (241): ts = 393s -> wm 243s
    s2 = sentinel(100_001, 393)
    # final kick: the end sentinel's watermark takes effect one batch
    # later; this batch carries it
    s3 = sentinel(100_002, 420)
    return rows, [*split3(b1), [s1], *split3(b2), [s2], [s3]]


@pytest.fixture(scope="module")
def event_time_fixture(spark, tmp_path_factory):
    all_rows, file_groups = _mk_events()
    schema = "event_id long, user_id long, value double, ts timestamp"
    path = str(tmp_path_factory.mktemp("evt") / "src")
    for i, grp in enumerate(file_groups):
        spark.createDataFrame(
            [(r["event_id"], r["user_id"], r["value"], r["ts"]) for r in grp],
            schema,
        ).coalesce(1).write.mode("append").parquet(path)
    full = spark.createDataFrame(
        [
            (r["event_id"], r["user_id"], r["value"], r["ts"])
            for grp in file_groups
            for r in grp
        ],
        schema,
    )
    return path, full


def _key(row):
    return (row["rule_name"], row["key"], row["alert_ts"], row["details"], row["rule_index"])


def test_event_time_mode_matches_batch_despite_shuffled_arrival(
    spark, event_time_fixture
):
    path, full = event_time_fixture
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        batch = [
            r
            for r in compile_rules(
                full, RULES, key_field="user_id", time_col="ts",
                order_cols=("event_id",),
            ).collect()
            if r["key"] != str(SENTINEL_USER)
        ]
        assert len(batch) > 0, "fixture must fire alerts"

        stream = read_file_stream(
            spark, path, full.schema, time_col="ts", watermark=DELAY,
            max_files_per_trigger=1,
        )
        alerts = stateful_alerts_event_time(
            stream, RULES, key_field="user_id", time_col="ts",
            order_cols=("event_id",),
        )
        q = (
            alerts.writeStream.format("memory")
            .queryName("evt_mode")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        streamed = [
            r
            for r in spark.table("evt_mode").collect()
            if r["key"] != str(SENTINEL_USER)
        ]
        assert sorted(map(_key, streamed)) == sorted(map(_key, batch))
    finally:
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")


def test_event_time_bucketed_matches_batch_and_per_key(
    spark, event_time_fixture
):
    """With n_buckets=2 several keys share each buffer blob, so the
    packed path (key-primary sort + per-slice flush) is exercised with
    more than one key per bucket; the shuffled cross-batch delivery
    must still reproduce the batch alert set."""
    path, full = event_time_fixture
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        batch = [
            r
            for r in compile_rules(
                full, RULES, key_field="user_id", time_col="ts",
                order_cols=("event_id",),
            ).collect()
            if r["key"] != str(SENTINEL_USER)
        ]
        stream = read_file_stream(
            spark, path, full.schema, time_col="ts", watermark=DELAY,
            max_files_per_trigger=1,
        )
        alerts = stateful_alerts_event_time(
            stream, RULES, key_field="user_id", time_col="ts",
            order_cols=("event_id",), n_buckets=2,
        )
        q = (
            alerts.writeStream.format("memory")
            .queryName("evt_bkt_mode")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        streamed = [
            r
            for r in spark.table("evt_bkt_mode").collect()
            if r["key"] != str(SENTINEL_USER)
        ]
        assert sorted(map(_key, streamed)) == sorted(map(_key, batch))
        assert len(streamed) > 0
    finally:
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")


def test_arrival_order_backend_differs_on_shuffled_input(
    spark, event_time_fixture
):
    """The contrast that makes the mode matter: the reference-parity
    arrival-order detector evaluates the SAME shuffled delivery in
    arrival order and produces a DIFFERENT alert set (deterministically,
    fixed shuffle seed) — event-time ordering is a real semantic
    upgrade, not a formality."""
    from stream_sentinel_spark.streaming.state import stateful_alerts

    path, full = event_time_fixture
    batch = {
        _key(r)
        for r in compile_rules(
            full, RULES, key_field="user_id", time_col="ts",
            order_cols=("event_id",),
        ).collect()
        if r["key"] != str(SENTINEL_USER)
    }
    stream = read_file_stream(
        spark, path, full.schema, time_col="ts", watermark=DELAY,
        max_files_per_trigger=1,
    )
    alerts = stateful_alerts(
        stream, RULES, key_field="user_id", time_col="ts",
        order_cols=("event_id",),
    )
    q = (
        alerts.writeStream.format("memory")
        .queryName("arrival_mode")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    streamed = {
        _key(r)
        for r in spark.table("arrival_mode").collect()
        if r["key"] != str(SENTINEL_USER)
    }
    assert streamed != batch


# slow tier: compiler sweep over two bucket counts; the processor's batch parity runs at default size in test_event_time_mode_matches_batch_despite_shuffled_arrival and test_event_time_bucketed_matches_batch_and_per_key
@pytest.mark.slow
def test_compile_rules_streaming_event_time_backends(spark, event_time_fixture):
    """The pipeline compiler reaches the event-time mode: the compiled
    stream (stateless branches native + event-time stateful branch)
    must reproduce the batch alert set on the shuffled fixture, at the
    default bucket count and at two buckets, and with a TTL far beyond
    every rule window."""
    from stream_sentinel_spark.streaming import compile_rules_streaming

    path, full = event_time_fixture
    rules = [
        *RULES,
        DetectionRule(name="hot", type="threshold", field="value", threshold=290.0),
    ]
    batch = [
        r
        for r in compile_rules(
            full, rules, key_field="user_id", time_col="ts",
            order_cols=("event_id",),
        ).collect()
        if r["key"] != str(SENTINEL_USER)
    ]
    assert any(r["rule_name"] == "hot" for r in batch)
    for n_buckets, tag in ((4096, "cet"), (2, "cetb")):
        stream = read_file_stream(
            spark, path, full.schema, time_col="ts", watermark=DELAY,
            max_files_per_trigger=1,
        )
        alerts = compile_rules_streaming(
            stream, rules, key_field="user_id", time_col="ts",
            order_cols=("event_id",), event_time=True, n_state_buckets=n_buckets,
        )
        q = (
            alerts.writeStream.format("memory").queryName(f"evt_{tag}")
            .outputMode("append").trigger(availableNow=True).start()
        )
        q.awaitTermination()
        streamed = [
            r
            for r in spark.table(f"evt_{tag}").collect()
            if r["key"] != str(SENTINEL_USER)
        ]
        assert sorted(map(_key, streamed)) == sorted(map(_key, batch)), n_buckets

    # a TTL far beyond every rule window must not change the alert set
    # (event-time idleness eviction only touches keys whose windows are
    # semantically dead at eviction time)
    stream = read_file_stream(
        spark, path, full.schema, time_col="ts", watermark=DELAY,
        max_files_per_trigger=1,
    )
    alerts = compile_rules_streaming(
        stream, rules, key_field="user_id", time_col="ts",
        order_cols=("event_id",), event_time=True,
        state_ttl_ms=86_400_000 * 365,
    )
    q = (
        alerts.writeStream.format("memory").queryName("evt_ttl")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    streamed = [
        r for r in spark.table("evt_ttl").collect()
        if r["key"] != str(SENTINEL_USER)
    ]
    assert sorted(map(_key, streamed)) == sorted(map(_key, batch))


def test_processor_tolerates_pre_encoding_state_blob():
    """A checkpoint written before the encode-on-arrival change stores
    each buffered row's original-event map as a DICT; the flush path
    must process both that and the current string encoding instead of
    poisoning every retry with a TypeError (in-place upgrade safety)."""
    import json

    from stream_sentinel_spark.streaming import state as S

    spec = {
        "rule_index": 0, "name": "high_rate", "type": "rate", "field": None,
        "threshold": 0.0, "window_seconds": 60, "window_size": 0,
        "deviation_factor": 0.0, "decimal_scale": None, "target": 0.0,
    }
    process = S._make_event_time_flush_processor([spec], {}, ())

    old_row = {
        S._KEY: "u1", S._TSUS: 1_000_000,
        S._EVMAP: {"user_id": "u1", "value": "9.0"},
    }
    new_row = {
        S._KEY: "u1", S._TSUS: 2_000_000, S._EVMAP: json.dumps({"user_id": "u1"}),
    }
    blob = json.dumps({"det": {}, "buf": [old_row, new_row]})

    class FakeState:
        hasTimedOut = False
        exists = True
        get = (blob,)

        def __init__(self):
            self.updated = None
            self.removed = False

        def getCurrentWatermarkMs(self):
            return 10_000  # both buffered rows are ready

        def update(self, t):
            self.updated = t

        def remove(self):
            self.removed = True

        def setTimeoutTimestamp(self, ts):
            pass

    st = FakeState()
    out = list(process((0,), iter([]), st))
    assert len(out) == 1 and len(out[0]) == 2, "both formats flushed"
    assert all(isinstance(ev, dict) for ev in out[0]["original_event"])
    assert {ev.get("user_id") for ev in out[0]["original_event"]} == {"u1"}


class _EvtFakeState:
    def __init__(self, blob=None):
        self._blob = blob
        self.hasTimedOut = False
        self.removed = False
        self.armed_at = None
        self.wm = 0

    @property
    def exists(self):
        return self._blob is not None

    @property
    def get(self):
        return (self._blob,)

    def getCurrentWatermarkMs(self):
        return self.wm

    def update(self, t):
        self._blob = t[0]

    def remove(self):
        self.removed = True
        self._blob = None

    def setTimeoutTimestamp(self, ts):
        self.armed_at = ts


def _rate_spec(win_s=60, threshold=100.0):
    return {
        "rule_index": 0, "name": "r", "type": "rate", "field": None,
        "threshold": threshold, "window_seconds": win_s, "window_size": 0,
        "deviation_factor": 0.0, "decimal_scale": None, "target": 0.0,
    }


def _stat_spec():
    return {
        "rule_index": 1, "name": "s", "type": "statistical", "field": "value",
        "threshold": 0.0, "window_seconds": 0, "window_size": 10,
        "deviation_factor": 2.5, "decimal_scale": 2, "target": 0.0,
    }


def _pdf(ids, key="k"):
    import pandas as pd

    return pd.DataFrame(
        {
            "__ss_key": [key] * len(ids),
            "__ss_ts_us": [1_000_000 * i for i in ids],
            "__ss_event": [{"n": str(i)} for i in ids],
            "event_id": [f"e{i}" for i in ids],
        }
    )


def test_rate_only_state_evicts_once_windows_expire():
    """A rate-only key's detector state must disappear entirely once
    the watermark passes every retained timestamp + window — the
    semantic eviction that bounds event-time state without any TTL
    (bit-safe: a future row's own eviction cutoff is >= wm - window).
    The processor arms a timeout at the expiry point; firing it with an
    advanced watermark removes the blob."""
    import json as _json

    from stream_sentinel_spark.streaming.state import (
        _make_event_time_flush_processor,
    )

    proc = _make_event_time_flush_processor(
        [_rate_spec(win_s=60)], {}, ("event_id",)
    )
    st = _EvtFakeState()
    st.wm = 10_000  # both events (ts 1s, 2s) are ready
    list(proc((0,), iter([_pdf([1, 2])]), st))
    blob = _json.loads(st._blob)
    assert blob["det"]["k"]["r0"] == [1_000, 2_000]
    assert st.armed_at == 2_000 + 60_000, "armed at the expiry point"
    # watermark just short of expiry (boundary is STRICT): nothing dies
    st.hasTimedOut = True
    st.wm = 62_000
    list(proc((0,), iter([]), st))
    assert not st.removed and _json.loads(st._blob)["det"]["k"]["r0"] == [2_000]
    # watermark past the last entry's expiry: the whole blob goes
    st.hasTimedOut = True
    st.wm = 62_001
    list(proc((0,), iter([]), st))
    assert st.removed


def test_event_time_ttl_evicts_idle_statistical_state():
    """Statistical windows are count-based and never expire by time;
    the event-time TTL evicts a key once its last flushed EVENT TIME is
    ttl behind the watermark — and never before."""
    import json as _json

    from stream_sentinel_spark.streaming.state import (
        _make_event_time_flush_processor,
    )

    proc = _make_event_time_flush_processor(
        [_stat_spec()], {1: "__ss_v1"}, ("event_id",), ttl_ms=5_000
    )
    pdf = _pdf([1, 2])
    pdf["__ss_v1"] = [1.0, 2.0]
    st = _EvtFakeState()
    st.wm = 3_000  # events ready, but NOT yet idle (last+ttl=7000 > wm)
    list(proc((0,), iter([pdf]), st))
    blob = _json.loads(st._blob)
    # statistical history is stored as scaled ints (decimal_scale=2)
    assert blob["det"]["k"]["r1"] == [100, 200] and blob["last"] == {"k": 2_000}
    assert st.armed_at == 2_000 + 5_000
    st.hasTimedOut = True
    st.wm = 7_000  # last + ttl == 7000: strict boundary — retained
    list(proc((0,), iter([]), st))
    assert not st.removed
    st.hasTimedOut = True
    st.wm = 7_001
    list(proc((0,), iter([]), st))
    assert st.removed


def test_bucketed_event_time_ttl_evicts_only_idle_keys():
    """In the packed mode the TTL prunes per KEY inside the blob: an
    idle key's stat window goes, a recently-flushed sibling stays."""
    import json as _json

    import pandas as pd

    from stream_sentinel_spark.streaming.state import (
        _make_event_time_flush_processor,
    )

    proc = _make_event_time_flush_processor(
        [_stat_spec()], {1: "__ss_v1"}, ("event_id",), ttl_ms=5_000
    )
    old = _pdf([1], key="idle")
    old["__ss_v1"] = [1.0]
    st = _EvtFakeState()
    st.wm = 2_000  # idle's event flushes but is not yet TTL-expired
    list(proc(("b",), iter([old]), st))
    fresh = _pdf([12], key="live")
    fresh["__ss_v1"] = [2.0]
    st.hasTimedOut = False
    st.wm = 12_000  # idle's last=1000: 12000-1000 > 5000 → evicted
    list(proc(("b",), iter([fresh]), st))
    blob = _json.loads(st._blob)
    assert "idle" not in blob["det"] and "live" in blob["det"]
    assert blob["last"] == {"live": 12_000}


def test_columnar_buffer_partial_flush_and_legacy_upgrade():
    """The state blob's pending buffer is COLUMNAR (round 10: one list
    per column instead of one dict per row — the whole-buffer json
    round-trip per trigger was the mode's dominant cost). A partial
    flush must keep exactly the not-yet-ready rows, persist them
    columnar, and flush them on the next watermark advance; a legacy
    row-dict blob must upgrade in place to the columnar layout."""
    import json as _json

    from stream_sentinel_spark.streaming import state as S

    proc = S._make_event_time_flush_processor(
        [_rate_spec(win_s=60)], {}, ("event_id",)
    )
    st = _EvtFakeState()
    st.wm = 1_500  # ts 1s ready, ts 2s pending
    out = list(proc((0,), iter([_pdf([1, 2])]), st))
    blob = _json.loads(st._blob)
    assert isinstance(blob["buf"], dict), "pending buffer persists columnar"
    assert blob["buf"][S._TSUS] == [2_000_000]
    assert blob["buf"]["event_id"] == ["e2"]
    assert blob["buf"][S._KEY] == ["k"]
    assert blob["det"]["k"]["r0"] == [1_000], "only the ready row evaluated"
    assert st.armed_at == st.wm + 1, "re-armed while rows pend"
    # second advance flushes the pending row identically
    st.hasTimedOut = True
    st.wm = 10_000
    list(proc((0,), iter([]), st))
    assert _json.loads(st._blob)["det"]["k"]["r0"] == [1_000, 2_000]

    # legacy list-of-row-dicts blob upgrades in place and keeps pending
    legacy = _json.dumps(
        {
            "det": {},
            "buf": [
                {
                    S._KEY: "k",
                    S._TSUS: 1_000_000,
                    S._EVMAP: {"n": "1"},
                    "event_id": "e1",
                },
                {
                    S._KEY: "k",
                    S._TSUS: 9_000_000,
                    S._EVMAP: _json.dumps({"n": "9"}),
                    "event_id": "e9",
                },
            ],
        }
    )
    st2 = _EvtFakeState(blob=legacy)
    st2.wm = 1_500  # first legacy row ready, second pending
    list(proc((0,), iter([]), st2))
    blob2 = _json.loads(st2._blob)
    assert blob2["det"]["k"]["r0"] == [1_000]
    assert isinstance(blob2["buf"], dict)
    assert blob2["buf"][S._TSUS] == [9_000_000]
