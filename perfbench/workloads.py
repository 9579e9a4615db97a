"""The workloads, each driven through the public API only.

All are closed loops with one client: the benchmark moves one input
file into the source directory, waits until the running query has
processed it (``processAllAvailable``), then moves the next. The query
reads that directory with ``maxFilesPerTrigger=1``, so exactly one
micro-batch (epoch) is in flight at a time. Input files are written to
a staging directory outside the timed region; only the rename and the
wait are timed.

A ``Leg`` is one set-up (compile or index build, query start) on given
inputs, then untimed warm-up steps, one timed feed loop and the output
check.
"""

from __future__ import annotations

import json
import math
import os
import time
from collections import Counter
from dataclasses import dataclass, field

from inputs import DOC_SCHEMA_DDL, EVENT_SCHEMA_DDL, DetectEvents, IngestDocs
import oracles

WORKLOADS = {
    # few keys, many events per key per trigger: the stateful detector
    # (its per-event x per-rule loop, the Arrow exchange with it and the
    # state-store commit) is the whole trigger
    "detect-hot": {"kind": "detect", "n_keys": 125, "events_per_file": 2_000,
                   "warm_steps": 2, "query_warm_steps": 1,
                   "step_s": 2.5, "min_steps": 3},
    # small epochs of the dedup ingest loop: jobs per epoch and
    # driver-side listing and catalog work dominate
    "ingest-dedup": {
        "kind": "ingest", "n_base": 2_000, "fresh_per_epoch": 300,
        "from_index": 40, "from_stream": 40, "within_batch": 20,
        "max_epochs": 16, "compact_every": 1, "warm_steps": 0,
        "query_warm_steps": 0, "step_s": 15.0, "min_steps": 1,
    },
}
# Untimed steps: ``warm_steps`` are fed once per process before anything
# is timed; the first trigger of a process runs several times slower
# than later ones. ``query_warm_steps`` are fed to every further measured
# query of a traced run before its timed loop. An ingest epoch costs
# about as much as two set-ups, and the run budget holds no untimed one:
# its set-ups (three index builds) are its warm-up.
# Timed steps: ``seconds / step_s`` of them, at least ``min_steps``.
# ``step_s`` is the step's wall time on a 4-core host. The count does not
# follow the host's speed: the JIT keeps compiling a trigger's code paths
# over its first dozen triggers, so each step position has its own cost,
# and a host slowed by its neighbours must time the same positions as a
# fast one.


@dataclass
class LegResult:
    setup_s: float
    step_wall_s: list[float]          # timed feed steps only
    step_rows: list[int]              # rows fed per timed step
    step_cpu_s: list[float]           # process-tree CPU per timed step, JIT apart
    step_jit_s: list[float]           # JIT compiler CPU per timed step
    progress: list[dict]              # timed non-empty triggers
    attempted: int                    # every fed file, untimed ones included
    failed: int
    peak_rss: int                     # bytes, process tree, timed loop
    detail: dict = field(default_factory=dict)


def make_inputs(name: str, seed: int):
    """The workload's input generator. Detection files are made one at a
    time as they are fed; the ingest corpus is made here, once per run,
    and shared by every leg and set-up of the run."""
    c = WORKLOADS[name]
    if c["kind"] == "detect":
        return DetectEvents(seed, c["events_per_file"], c["n_keys"])
    return IngestDocs(
        seed, n_base=c["n_base"], fresh_per_epoch=c["fresh_per_epoch"],
        max_epochs=c["max_epochs"], from_index=c["from_index"],
        from_stream=c["from_stream"], within_batch=c["within_batch"],
    )


class Leg:
    def __init__(self, name: str, inputs, work: str, spark) -> None:
        self.name = name
        self.cfg = WORKLOADS[name]
        self.inputs = inputs
        self.work = work
        self.spark = spark
        self.src = os.path.join(work, "src")
        self.staging = os.path.join(work, "staging")
        os.makedirs(self.src)
        os.makedirs(self.staging)
        self.fed: list[str] = []
        self.fed_rows: list[int] = []
        self.fed_cpu_s: list[float] = []
        self.fed_jit_s: list[float] = []
        self.query = None
        self.error: str | None = None
        self.max_steps = self.cfg.get("max_epochs", 1 << 30)

    # -- set-up -------------------------------------------------------------
    def setup(self) -> None:
        """Compile or index build, then query start."""
        if self.cfg["kind"] == "detect":
            self._setup_detect()
        else:
            self._setup_ingest()

    def warm_up(self, steps: int) -> float:
        """Feed ``steps`` untimed (but checked) steps; returns their wall."""
        t0 = time.perf_counter()
        for _ in range(steps):
            self._feed()
        return time.perf_counter() - t0

    def _setup_detect(self) -> None:
        from pyspark.sql.types import _parse_datatype_string

        from stream_sentinel_spark.plans.corpus import DEFAULT_RULES
        from stream_sentinel_spark.streaming import (
            compile_rules_streaming,
            read_file_stream,
            write_alerts_files,
        )

        stream = read_file_stream(
            self.spark, self.src, _parse_datatype_string(EVENT_SCHEMA_DDL),
            time_col="ts", watermark=None, max_files_per_trigger=1,
        )
        # the default stateful backend, as run_job uses it
        alerts = compile_rules_streaming(
            stream, DEFAULT_RULES, key_field="user_id", time_col="ts",
            order_cols=("event_id",),
        )
        self.sink = os.path.join(self.work, "alerts")
        self.query = write_alerts_files(
            alerts, self.sink,
            checkpoint_location=os.path.join(self.work, "ckpt"),
            query_name=f"perfbench-{os.path.basename(self.work)}",
        )

    def _setup_ingest(self) -> None:
        from pyspark.sql.types import _parse_datatype_string

        from stream_sentinel_spark.operators.dedup import build_minhash_index
        from stream_sentinel_spark.streaming import read_file_stream
        from stream_sentinel_spark.streaming.ingest import run_dedup_ingest

        self.table = f"pb_{os.path.basename(self.work).replace('-', '_')}"
        build_minhash_index(
            self.inputs.base_frame(self.spark), self.table, num_hashes=32, bands=8
        )
        stream = read_file_stream(
            self.spark, self.src, _parse_datatype_string(DOC_SCHEMA_DDL),
            time_col=None, watermark=None, max_files_per_trigger=1,
        )
        self.accepted = os.path.join(self.work, "accepted")
        self.matches = os.path.join(self.work, "matches")
        self.query = run_dedup_ingest(
            stream,
            checkpoint_location=os.path.join(self.work, "ckpt"),
            query_name=f"perfbench-{os.path.basename(self.work)}",
            table=self.table, kind="minhash", id_col="doc_id",
            content_col="text", threshold=1.0,
            accepted_path=self.accepted, matches_path=self.matches,
            commit_log_dir=os.path.join(self.work, "commits"),
            compact_every=self.cfg["compact_every"], dedup_within_batch=True,
        )

    # -- the closed loop ----------------------------------------------------
    def _feed(self, sampler=None) -> float:
        """One closed-loop step; returns its wall time and records the
        CPU time the process tree spent on it, apart from the JIT
        compiler's and the memory ``sampler``'s, and the JIT compiler's."""
        from host import tree_cpu_s

        i = len(self.fed)
        path = self.inputs.write(i, self.staging)
        rows = (self.cfg["events_per_file"] if self.cfg["kind"] == "detect"
                else len(self.inputs.epoch(i)[0]))
        dest = os.path.join(self.src, os.path.basename(path))
        cpu0, jit0 = tree_cpu_s()
        own0 = sampler.cpu_s if sampler else 0.0
        t0 = time.perf_counter()
        os.rename(path, dest)
        self.fed.append(dest)
        self.fed_rows.append(rows)
        self.query.processAllAvailable()
        wall = time.perf_counter() - t0
        cpu1, jit1 = tree_cpu_s()
        own = (sampler.cpu_s if sampler else 0.0) - own0
        self.fed_cpu_s.append((cpu1 - cpu0) - (jit1 - jit0) - own)
        self.fed_jit_s.append(jit1 - jit0)
        return wall

    def measure(self, setup_s: float, seconds: float,
                min_steps: int | None = None) -> LegResult:
        """Time ``seconds / step_s`` steps, at least ``min_steps`` (by
        default the workload's), then stop the query and check its
        output."""
        from host import MemorySampler

        if min_steps is None:
            min_steps = self.cfg["min_steps"]
        steps = max(min_steps, math.ceil(seconds / self.cfg["step_s"]))
        untimed = len(self.fed)
        walls: list[float] = []
        with MemorySampler() as rss:
            try:
                while len(walls) < steps and len(self.fed) < self.max_steps:
                    walls.append(self._feed(rss))
            except Exception as exc:  # a failed trigger ends the loop; it is counted
                self.error = f"{type(exc).__name__}: {exc}"[:500]
        self.stop()
        progress = [json.loads(p.json) for p in self.query.recentProgress]
        progress = [p for p in progress if p.get("numInputRows", 0) > 0]
        failed, detail = self.check(progress)
        return LegResult(
            setup_s=setup_s, step_wall_s=walls,
            step_rows=self.fed_rows[untimed:untimed + len(walls)],
            step_cpu_s=self.fed_cpu_s[untimed:untimed + len(walls)],
            step_jit_s=self.fed_jit_s[untimed:untimed + len(walls)],
            progress=progress[untimed:], attempted=len(self.fed),
            failed=failed, peak_rss=rss.peak, detail=detail,
        )

    def stop(self) -> None:
        if self.query is not None:
            self.query.stop()

    # -- output checks ------------------------------------------------------
    def check(self, progress: list[dict]) -> tuple[int, dict]:
        """Number of fed files (triggers/epochs) whose output is wrong,
        plus check details. Files never processed count as wrong."""
        attempted = len(self.fed)
        if self.cfg["kind"] == "detect":
            res = oracles.check_detect(self.fed, self.sink, self.inputs.file_of_ts_ms)
            bad = set(res.pop("bad_files"))
            res["mismatched_triggers"] = len(bad)
        else:
            batch_ids = [p["batchId"] for p in progress][:attempted]
            epoch_of = {b: e for e, b in enumerate(batch_ids)}
            epochs = [self.inputs.epoch(e) for e in range(attempted)]
            want_acc, want_match = oracles.ingest_reference(self.inputs.base, epochs)
            got_acc, got_match = oracles.read_ingest_outputs(
                self.accepted, self.matches, epoch_of
            )
            bad = set()
            for want, got in ((want_acc, got_acc), (want_match, got_match)):
                want = Counter(want)
                bad |= {row[-1] for row in (got - want) + (want - got)}
            res = {
                "accepted": sum(got_acc.values()), "matched": sum(got_match.values()),
                "within_batch": sum(n for r, n in got_match.items() if r[3]),
                "mismatched_epochs": len(bad),
            }
        unprocessed = attempted - len(progress)
        if unprocessed > 0 or self.error:
            bad |= {f"unprocessed-{k}" for k in range(max(unprocessed, 1))}
        res["attempted"] = attempted
        if self.error:
            res["error"] = self.error
        return min(len(bad), attempted), res
