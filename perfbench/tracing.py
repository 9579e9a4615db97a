"""Tracing for the per-layer run, all from outside the program.

Spans come from three places:

- timing wrappers this file installs around public functions of the
  program (module attributes, restored afterwards) and around
  ``SparkContext.setJobDescription``, which the ingest loop calls at
  each stage boundary with an ``ingest e<N>: <stage>`` label;
- each trigger's progress record (``durationMs`` phases, state-store
  numbers);
- Spark's status store, read once after the loop: every job's start,
  end and description, every stage's task, CPU and shuffle numbers.

A span is ``(name, start_ms, end_ms, parent, trace_id)``; the trace id
is the micro-batch (epoch) id. Spans stay in memory until the run ends.
"""

from __future__ import annotations

import functools
import json
import re
import time
from datetime import datetime

#: progress phases in the order MicroBatchExecution runs them
PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning",
          "addBatch", "commitOffsets")

INGEST_STAGES = ("epoch_checkpoint", "intra_batch_dedup", "index_match",
                 "accepted", "index_append", "manifest_commit", "compaction")

#: every per-layer metric of a traced run, with its unit; a layer a
#: workload never enters reads 0
PER_LAYER = {
    "trigger.latest_offset_ms": "ms",
    "trigger.get_batch_ms": "ms",
    "trigger.query_planning_ms": "ms",
    "trigger.add_batch_ms": "ms",
    "trigger.wal_commit_ms": "ms",
    "trigger.commit_offsets_ms": "ms",
    "trigger.self_ms": "ms",
    "plan.compile_ms": "ms",
    "state.rows_total": "count",
    "state.rows_updated": "count",
    "state.memory_bytes": "bytes",
    "state.commit_ms": "ms",
    "exec.run_s": "s",
    "exec.cpu_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.shuffle_write_bytes": "bytes",
    "spark.cpu_util": "frac",
    "spark.jobs_ms": "ms",
    "driver.unattributed_ms": "ms",
    "add_batch.self_ms": "ms",
    **{f"ingest.{s}.{k}": u for s in INGEST_STAGES
       for k, u in (("ms", "ms"), ("jobs", "count"))},
    "manifest.commit_ms": "ms",
    "manifest.listings": "count",
    "manifest.recover_ms": "ms",
    "index.files": "count",
    "compact.count": "count",
    "listener.events_ratio": "ratio",
    "trace.overhead_frac": "frac",
    "scale.speedup_local1": "ratio",
}

_LABEL = re.compile(r"^ingest e(\d+): (.+)$")


def _now_ms() -> float:
    return time.time() * 1000.0


def _stage_key(label: str) -> str:
    return re.sub(r"[^a-z]+", "_", label.lower()).strip("_")


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.labels: list[tuple[float, str | None]] = []
        self._restore: list[tuple[object, str, object]] = []

    # -- wrappers ------------------------------------------------------------
    def wrap(self, owner, attr: str, span: str, before=None) -> None:
        """Replace ``owner.attr`` with a timed call recording ``span``.
        ``before(*args, **kwargs)`` may return extra fields for the span."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def timed(*args, **kwargs):
            extra = before(*args, **kwargs) if before else {}
            t0 = _now_ms()
            try:
                return orig(*args, **kwargs)
            finally:
                self.spans.append({"name": span, "start": t0, "end": _now_ms(), **extra})

        self._restore.append((owner, attr, orig))
        setattr(owner, attr, timed)

    def install(self) -> None:
        from pyspark import SparkContext

        from stream_sentinel_spark import streaming
        from stream_sentinel_spark.operators import dedup
        from stream_sentinel_spark.streaming import ingest, manifest

        self.wrap(streaming, "read_file_stream", "sources.read_file_stream")
        self.wrap(streaming, "compile_rules_streaming", "plan.compile")
        self.wrap(streaming, "write_alerts_files", "query.start")
        self.wrap(ingest, "run_dedup_ingest", "query.start")
        self.wrap(dedup, "build_minhash_index", "index.build")
        self.wrap(dedup, "match_minhash_index", "dedup.match")
        self.wrap(dedup, "append_minhash_index", "dedup.append")
        self.wrap(dedup, "compact_minhash_index", "dedup.compact",
                  before=self._index_files)
        self.wrap(manifest, "commit_epoch_manifest", "manifest.commit")
        self.wrap(manifest, "list_data_files", "manifest.list")
        self.wrap(manifest, "recover_ingest_state", "manifest.recover")

        orig = SparkContext.setJobDescription
        labels = self.labels

        @functools.wraps(orig)
        def labelled(sc, value):
            labels.append((_now_ms(), value))
            return orig(sc, value)

        self._restore.append((SparkContext, "setJobDescription", orig))
        SparkContext.setJobDescription = labelled

    def uninstall(self) -> None:
        while self._restore:
            owner, attr, orig = self._restore.pop()
            setattr(owner, attr, orig)

    @staticmethod
    def _index_files(spark, table, *args, **kwargs) -> dict:
        """Data files of the index tables just before a compaction."""
        import os

        from stream_sentinel_spark.streaming.manifest import table_location

        n = 0
        for suffix in ("_bands", "_verify"):
            loc = table_location(spark, table + suffix)
            path = loc[len("file:"):] if loc.startswith("file:") else loc
            n += sum(1 for f in os.listdir(path) if f.startswith("part-"))
        return {"index_files": n}


# ---------------------------------------------------------------------------
# the status store
# ---------------------------------------------------------------------------

def _opt_time(opt) -> float | None:
    return float(opt.get().getTime()) if opt.isDefined() else None


def read_status_store(spark) -> tuple[list[dict], dict[int, dict]]:
    """Every job (id, description, start/end ms, stage ids) and every
    stage that ran (tasks, executor run and CPU time, shuffle write)."""
    sc = spark.sparkContext
    jvm = sc._jvm
    conv = jvm.scala.jdk.javaapi.CollectionConverters
    store = sc._jsc.sc().statusStore()
    jobs = []
    for j in conv.asJava(store.jobsList(None)):
        d = j.description()
        jobs.append({
            "id": j.jobId(),
            "desc": d.get() if d.isDefined() else None,
            "start": _opt_time(j.submissionTime()),
            "end": _opt_time(j.completionTime()),
            "stages": list(conv.asJava(j.stageIds())),
        })
    stages = {}
    empty = sc._gateway.new_array(jvm.double, 0)
    for s in conv.asJava(store.stageList(None, False, False, empty, None)):
        if s.status().toString() not in ("COMPLETE", "FAILED"):
            continue
        stages[s.stageId()] = {
            "tasks": s.numTasks(),
            "run_ms": s.executorRunTime(),
            "cpu_ns": s.executorCpuTime(),
            "shuffle_write": s.shuffleWriteBytes(),
        }
    return jobs, stages


def _progress_start_ms(p: dict) -> float:
    ts = datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
    return (ts - datetime(1970, 1, 1)).total_seconds() * 1000.0


def _union_ms(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def build_spans(tracer: Tracer, progress: list[dict], jobs: list[dict]) -> list[dict]:
    """The span tree of the traced loop: one root per trigger, its
    progress phases laid end to end, and every job, ingest stage and
    wrapper span parented to the trigger whose window holds its start."""
    out: list[dict] = []
    roots = []
    for p in progress:
        start = _progress_start_ms(p)
        dur = p["durationMs"]
        root = {"name": "trigger", "start": start,
                "end": start + dur.get("triggerExecution", 0),
                "parent": None, "trace": p["batchId"]}
        roots.append(root)
        out.append(root)
        t = start
        for ph in PHASES:
            if ph in dur:
                out.append({"name": f"phase.{ph}", "start": t, "end": t + dur[ph],
                            "parent": "trigger", "trace": p["batchId"]})
                t += dur[ph]

    def owner(t: float):
        for r in roots:
            if r["start"] <= t <= r["end"] + 1:
                return r["trace"]
        return None

    for j in jobs:
        if j["start"] is None:
            continue
        out.append({"name": "spark.job", "start": j["start"],
                    "end": j["end"] if j["end"] is not None else j["start"],
                    "parent": "phase.addBatch", "trace": owner(j["start"]),
                    "job": j["id"], "desc": j["desc"], "stage_ids": j["stages"]})
    # ingest stage spans: from one label to the next
    for (t0, label), (t1, _) in zip(tracer.labels, tracer.labels[1:] + [(_now_ms(), None)]):
        m = _LABEL.match(label or "")
        if m:
            out.append({"name": f"ingest.{_stage_key(m.group(2))}", "start": t0,
                        "end": t1, "parent": "phase.addBatch",
                        "trace": int(m.group(1))})
    for s in tracer.spans:
        out.append({**s, "parent": "trigger" if owner(s["start"]) is not None else None,
                    "trace": owner(s["start"])})
    return out


# ---------------------------------------------------------------------------
# per-layer metrics from spans, jobs and stages
# ---------------------------------------------------------------------------

def _median(xs: list[float]) -> float:
    xs = sorted(xs)
    if not xs:
        return 0.0
    m = len(xs) // 2
    return xs[m] if len(xs) % 2 else (xs[m - 1] + xs[m]) / 2


def layer_metrics(spans: list[dict], progress: list[dict], stages: dict,
                  cores: int) -> dict:
    """Per-layer numbers over the timed triggers (``progress``): times
    are medians per trigger, counts, bytes and executor seconds are
    means per trigger, state rows and memory are the last trigger's."""
    n = max(len(progress), 1)
    by_trace: dict = {p["batchId"]: [] for p in progress}
    for s in spans:
        if s.get("trace") in by_trace:
            by_trace[s["trace"]].append(s)

    def phase(name: str) -> float:
        return _median([p["durationMs"].get(name, 0) for p in progress])

    m = {
        "trigger.latest_offset_ms": phase("latestOffset"),
        "trigger.get_batch_ms": phase("getBatch"),
        "trigger.query_planning_ms": phase("queryPlanning"),
        "trigger.add_batch_ms": phase("addBatch"),
        "trigger.wal_commit_ms": phase("walCommit"),
        "trigger.commit_offsets_ms": phase("commitOffsets"),
        "trigger.self_ms": _median([
            p["durationMs"].get("triggerExecution", 0)
            - sum(p["durationMs"].get(ph, 0) for ph in PHASES)
            for p in progress
        ]),
    }
    ops = [p["stateOperators"][0] for p in progress if p.get("stateOperators")]
    m["state.rows_total"] = ops[-1]["numRowsTotal"] if ops else 0
    m["state.rows_updated"] = sum(o["numRowsUpdated"] for o in ops) / n
    m["state.memory_bytes"] = ops[-1]["memoryUsedBytes"] if ops else 0
    m["state.commit_ms"] = _median([o["commitTimeMs"] for o in ops])

    totals = dict.fromkeys(("jobs", "stages", "tasks", "shuffle", "run_ms", "cpu_ns"), 0)
    unattributed, jobs_ms, add_batch_self = [], [], []
    stage_ms = dict.fromkeys(INGEST_STAGES, 0.0)
    stage_jobs = dict.fromkeys(INGEST_STAGES, 0)
    for p in progress:
        mine = by_trace[p["batchId"]]
        jobs = [s for s in mine if s["name"] == "spark.job"]
        union = _union_ms((s["start"], s["end"]) for s in jobs)
        jobs_ms.append(union)
        unattributed.append(p["durationMs"].get("triggerExecution", 0) - union)
        add_batch_self.append(p["durationMs"].get("addBatch", 0) - union)
        totals["jobs"] += len(jobs)
        for s in jobs:
            label = _LABEL.match(s.get("desc") or "")
            if label and _stage_key(label.group(2)) in stage_jobs:
                stage_jobs[_stage_key(label.group(2))] += 1
        # a stage reused by a later job is listed by both: count it once
        for sid in {sid for s in jobs for sid in s["stage_ids"]}:
            st = stages.get(sid)
            if st is not None:
                totals["stages"] += 1
                totals["tasks"] += st["tasks"]
                totals["shuffle"] += st["shuffle_write"]
                totals["run_ms"] += st["run_ms"]
                totals["cpu_ns"] += st["cpu_ns"]
        for s in mine:
            if s["name"].startswith("ingest.") and s["name"][7:] in stage_ms:
                stage_ms[s["name"][7:]] += s["end"] - s["start"]
    wall_ms = sum(p["durationMs"].get("triggerExecution", 0) for p in progress)
    m.update({
        "exec.run_s": totals["run_ms"] / 1000.0 / n,
        "exec.cpu_s": totals["cpu_ns"] / 1e9 / n,
        "spark.jobs": totals["jobs"] / n,
        "spark.stages": totals["stages"] / n,
        "spark.tasks": totals["tasks"] / n,
        "spark.shuffle_write_bytes": totals["shuffle"] / n,
        "spark.cpu_util": (totals["cpu_ns"] / 1e6) / max(wall_ms * cores, 1.0),
        "spark.jobs_ms": _median(jobs_ms),
        "driver.unattributed_ms": _median(unattributed),
        "add_batch.self_ms": _median(add_batch_self),
    })
    for k in INGEST_STAGES:
        m[f"ingest.{k}.ms"] = stage_ms[k] / n
        m[f"ingest.{k}.jobs"] = stage_jobs[k] / n

    def named(name: str) -> list[dict]:
        return [s for ss in by_trace.values() for s in ss if s["name"] == name]

    m["manifest.commit_ms"] = _median(
        [s["end"] - s["start"] for s in named("manifest.commit")]
    )
    m["manifest.listings"] = len(named("manifest.list")) / n
    compactions = named("dedup.compact")
    m["compact.count"] = len(compactions)
    m["index.files"] = (
        sum(s["index_files"] for s in compactions) / len(compactions)
        if compactions else 0
    )
    return m


def setup_metrics(spans: list[dict]) -> dict:
    def total(name: str) -> float:
        return sum(s["end"] - s["start"] for s in spans if s["name"] == name)

    return {
        "plan.compile_ms": total("plan.compile"),
        "manifest.recover_ms": total("manifest.recover"),
    }


def dump(path: str, spans: list[dict]) -> None:
    with open(path, "w") as fh:
        for s in spans:
            fh.write(json.dumps(s) + "\n")
