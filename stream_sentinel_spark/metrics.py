"""Engine metrics — SentinelMetrics parity on Spark primitives.

Reference surface (flink-job/.../SentinelMetrics.java:25-51):
``events_processed_total`` / ``anomalies_detected_total`` counters and a
``processing_latency_ms`` histogram over a 350-sample sliding reservoir
with p50/p95/p99 (DescriptiveStatisticsHistogram(350), :35-38).

Spark mapping (SURVEY §2.4 W4/W5):
- batch: ``df.observe(...)`` — counters ride the job itself, computed
  executor-side during the action, no second pass;
- streaming: a ``StreamingQueryListener`` harvesting per-micro-batch
  progress (row counts + durations) plus the same observed metrics;
  the latency reservoir holds the last 350 micro-batch
  ``triggerExecution`` durations (the per-event histogram has no
  per-record analogue in a vectorized engine — documented delta).
"""

from __future__ import annotations

import itertools
import threading
from collections import deque

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener

#: SentinelMetrics.java:35 — reservoir size.
RESERVOIR_SIZE = 350

EVENTS_PROCESSED = "events_processed_total"
ANOMALIES_DETECTED = "anomalies_detected_total"

#: Observed-metric name prefix under which a streaming detector query
#: publishes its input event count (attached by ``compile_rules_streaming``).
STREAM_EVENTS_OBSERVATION = "sentinel_stream_events"
_stream_events_ids = itertools.count()


def observe_events(df: DataFrame, name: str = "sentinel_events"):
    """Attach an events-processed counter to a frame (W5). Returns
    ``(df, observation)``; read ``observation.get`` after an action."""
    obs = Observation(name)
    return df.observe(obs, F.count(F.lit(1)).alias(EVENTS_PROCESSED)), obs


def observe_stream_events(events: DataFrame) -> DataFrame:
    """Count a streaming frame's input rows once per micro-batch, as an
    observed metric named ``STREAM_EVENTS_OBSERVATION_<n>``. A source
    that feeds several branches is scanned once per branch, and Spark's
    per-source ``numInputRows`` sums those scans; this count does not,
    because every copy of one observation reports the same per-scan
    total. Each call takes a fresh name: Spark rejects two different
    observations of one name in a query, e.g. two stateless detectors
    unioned."""
    name = f"{STREAM_EVENTS_OBSERVATION}_{next(_stream_events_ids)}"
    return events.observe(name, F.count(F.lit(1)).alias(EVENTS_PROCESSED))


def observe_alerts(alerts: DataFrame, name: str = "sentinel_alerts"):
    """Attach an anomalies-detected counter to the alert frame (W5)."""
    obs = Observation(name)
    return (
        alerts.observe(obs, F.count(F.lit(1)).alias(ANOMALIES_DETECTED)),
        obs,
    )


def latency_percentiles(df: DataFrame, ms_col: str) -> DataFrame:
    """W4 batch twin: p50/p95/p99 of a latency column via
    ``percentile_approx`` (single-pass, mergeable sketch — scales)."""
    return df.agg(
        *[
            F.percentile_approx(ms_col, p).alias(f"p{int(p * 100)}")
            for p in (0.50, 0.95, 0.99)
        ]
    )


def grouped_percentiles(
    df: DataFrame,
    group_col: str,
    value_col: str,
    ps: tuple[float, ...] = (0.50, 0.95, 0.99),
    *,
    exact_max_rows_per_group: int = 10_000_000,
    approx_accuracy: int = 10_000,
) -> DataFrame:
    """Per-group p50/p95/p99 with an explicit exact/approx regime switch.

    The approx path (``percentile_approx``, mergeable GK summary) is only
    nearest-rank-EXACT while the summary retains every sample — i.e. up
    to ``approx_accuracy`` rows per group; beyond that it compresses and
    the value legitimately departs from DuckDB's ``quantile_disc``. So
    the regime is chosen by a group-size probe (one map-combined count
    aggregate collapsed to a single max — dimension-sized collect, the
    same probe pattern as dedup's regime guards) instead of by
    accuracy-parameter luck:

    - max group ≤ ``exact_max_rows_per_group``: exact nearest-rank via a
      per-group sort — ``row_number`` over (group, value) and a
      ``max(when(rn == ceil(p·n)))`` collapse. One Exchange on the group
      key; the follow-up groupBy reuses the window's partitioning (no
      second shuffle), and the distributed sort spills, so 10M-row
      groups are fine on executors. Values are actual data points, so
      they are bit-exact across engines (matches ``quantile_disc``).
    - above the cutoff (the 100 TB regime — billions of rows per group):
      the GK sketch path, single pass, fixed memory, no sort.

    Output: ``group_col, n_events, p{50,95,99}_{value_col}``.
    """
    from pyspark.sql import Window

    probe = df.groupBy(group_col).count().agg(F.max("count")).first()
    max_n = probe[0] or 0
    if max_n <= exact_max_rows_per_group:
        # NULL discipline must match the approx regime (and DuckDB's
        # quantile_disc): percentiles over the NON-NULL values only,
        # n_events over all rows. Ascending sort puts the NULL rows
        # first (ranks 1.._n-_nv), so the non-null nearest-rank target
        # is offset by the group's null count instead of filtered out —
        # same single window pass, no extra shuffle.
        w = Window.partitionBy(group_col).orderBy(value_col)
        wn = Window.partitionBy(group_col)
        ranked = df.select(
            group_col,
            value_col,
            F.row_number().over(w).alias("_rn"),
            F.count(F.lit(1)).over(wn).alias("_n"),
            F.count(value_col).over(wn).alias("_nv"),
        )
        return ranked.groupBy(group_col).agg(
            F.max("_n").alias("n_events"),
            *[
                F.max(
                    F.when(
                        F.col("_rn")
                        == (F.col("_n") - F.col("_nv"))
                        + F.ceil(F.lit(p) * F.col("_nv")).cast("long"),
                        F.col(value_col),
                    )
                ).alias(f"p{int(p * 100)}_{value_col}")
                for p in ps
            ],
        )
    agg = df.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.percentile_approx(value_col, list(ps), approx_accuracy).alias("_pcts"),
    )
    return agg.select(
        group_col,
        "n_events",
        *[
            F.col("_pcts")[i].alias(f"p{int(p * 100)}_{value_col}")
            for i, p in enumerate(ps)
        ],
    )


def _events_in(progress) -> int:
    """Input events of one micro-batch. The detectors' own observed
    counts win (see :func:`observe_stream_events`): Spark's per-source
    ``numInputRows`` sums every scan of a source, so a source read by
    both the stateless and the stateful branch reports twice its rows.
    Without them, each distinct source ``description`` counts once."""
    observed = [
        row[EVENTS_PROCESSED]
        for name, row in (progress.observedMetrics or {}).items()
        if name.startswith(STREAM_EVENTS_OBSERVATION)
    ]
    if observed:
        return sum(observed)
    rows = {s.description: s.numInputRows for s in progress.sources}
    return sum(rows.values())


class SentinelMetricsListener(StreamingQueryListener):
    """Streaming metrics harvester.

    Accumulates counters from each micro-batch's progress and keeps the
    last ``RESERVOIR_SIZE`` trigger latencies, exposing p50/p95/p99 like
    the reference histogram (SentinelMetrics.java:49-51).
    """

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self.events_processed = 0
        self.anomalies_detected = 0
        self.last_observed: dict = {}
        self._latencies: deque[float] = deque(maxlen=RESERVOIR_SIZE)
        # cumulative over ALL observations (not the reservoir window) —
        # Prometheus summary semantics: quantiles may be windowed, but
        # consumers compute rates from monotonic _count/_sum
        self._latency_count = 0
        self._latency_sum = 0.0

    # -- StreamingQueryListener hooks ------------------------------------
    def onQueryStarted(self, event) -> None:  # noqa: N802
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = event.progress
        with self._lock:
            # events in = the query's observed event count, else the
            # input rows of each distinct source; anomalies out = sink
            # output rows (the alert stream's sink), exactly the two
            # counters the reference increments per element
            # (AnomalyProcessFunction.java:128,140)
            self.events_processed += _events_in(p)
            if p.sink and p.sink.numOutputRows and p.sink.numOutputRows > 0:
                self.anomalies_detected += p.sink.numOutputRows
            duration = (p.durationMs or {}).get("triggerExecution")
            if duration is not None:
                self._observe_latency(float(duration))
            self.last_observed = {
                name: row.asDict() for name, row in (p.observedMetrics or {}).items()
            }

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def _observe_latency(self, ms: float) -> None:
        """One latency observation: reservoir (quantiles) + cumulative
        count/sum (the ``_count``/``_sum`` summary samples). Callers
        hold or don't need ``self._lock`` (single listener thread)."""
        self._latencies.append(ms)
        self._latency_count += 1
        self._latency_sum += ms

    # -- histogram surface (SentinelMetrics.java:49-51) ------------------
    def _percentile(self, q: float) -> float:
        with self._lock:
            data = sorted(self._latencies)
        if not data:
            return 0.0
        idx = max(0, min(len(data) - 1, round(q * (len(data) - 1))))
        return data[idx]

    @property
    def p50(self) -> float:
        return self._percentile(0.50)

    @property
    def p95(self) -> float:
        return self._percentile(0.95)

    @property
    def p99(self) -> float:
        return self._percentile(0.99)

    def snapshot(self) -> dict:
        return {
            EVENTS_PROCESSED: self.events_processed,
            ANOMALIES_DETECTED: self.anomalies_detected,
            "processing_latency_ms": {
                "p50": self.p50,
                "p95": self.p95,
                "p99": self.p99,
                "count": self._latency_count,
                "sum": round(self._latency_sum, 3),
            },
        }
