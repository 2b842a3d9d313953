"""Shared benchmark machinery: Spark session start, the closed-loop
stream feeding, readers for Spark's own telemetry (streaming progress and
the status store), the span tracer used by traced runs, and summary
statistics."""

from __future__ import annotations

import json
import math
import os
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from datetime import datetime
from typing import Any, Callable, Optional

import numpy as np

from inputs import TRIGGER_FILES

POLL_S = 0.02
MIN_STEADY = 2  # steady micro-batches a streaming query runs, however slow
BATCH_TIMEOUT_S = 90.0  # longest wait for the next micro-batch to commit
_T0 = time.time()


def log(msg: str) -> None:
    """Progress line on stderr, stamped with seconds since start."""
    print(f"perfbench {time.time() - _T0:7.1f}s {msg}", file=sys.stderr, flush=True)


# -- statistics ---------------------------------------------------------------

def percentile(values: list[float], p: float) -> float:
    return float(np.percentile(values, p)) if values else float("nan")


def tail(values: list[float]) -> tuple[float, int]:
    """``(value, percentile)`` of the highest whole percentile that leaves
    at least 10 samples above it. Below 21 samples that percentile would
    fall under the median, so the maximum (percentile 100) is reported."""
    n = len(values)
    if n < 21:
        return max(values), 100
    p = math.floor(100.0 * (n - 11) / (n - 1))
    return percentile(values, p), p


def mean(values: list[float]) -> float:
    return sum(values) / len(values) if values else 0.0


# -- Spark session --------------------------------------------------------------

def start_session(cores: int):
    """Start (or restart) the engine's session at ``local[cores]`` with
    default engine settings; returns ``(spark, seconds)``."""
    from osprey_spark.session import get_spark

    t = time.perf_counter()
    spark = get_spark(cores=cores, app_name="perfbench",
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    return spark, time.perf_counter() - t


# -- closed-loop stream feeding ----------------------------------------------------

class Feeder:
    """Hard-links staged input files into a stream's source directory.
    ``drive_stream`` keeps exactly one trigger's worth of files beyond the batch
    in flight, so the next micro-batch starts as soon as the previous one
    commits (one consumer, closed loop), and stops feeding once the
    measuring window has passed."""

    def __init__(self, staged: list[str], rows: dict[str, int], src: str):
        self.staged = staged
        self.rows = rows
        self.src = src
        self.fed: list[str] = []
        os.makedirs(src, exist_ok=True)

    def feed(self, n: int) -> None:
        for f in self.staged[len(self.fed) : len(self.fed) + n]:
            os.link(f, os.path.join(self.src, os.path.basename(f)))
            self.fed.append(f)

    @property
    def fed_rows(self) -> int:
        return sum(self.rows[f] for f in self.fed)

    @property
    def exhausted(self) -> bool:
        return len(self.fed) >= len(self.staged)


def iso_epoch(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def source_rows(p: dict, src: str) -> int:
    """Input rows this progress entry read from the source at ``src``."""
    return sum(
        int(s.get("numInputRows") or 0)
        for s in p.get("sources", [])
        if src.rstrip("/") in s.get("description", "")
    )


@dataclass
class StreamRun:
    """What one closed-loop streaming query did: every progress entry,
    the batch-0 (warm-up) end, and the steady batches after it."""

    progress: list[dict]
    src: str
    started_at: float
    exhausted: bool
    counters: dict[str, float]
    warm_s: float = 0.0
    steady: list[dict] = field(default_factory=list)
    steady_wall_s: float = 0.0
    steady_rows: int = 0

    def __post_init__(self) -> None:
        ends = [iso_epoch(p["timestamp"]) + p["durationMs"]["triggerExecution"] / 1000.0
                for p in self.progress]
        b0 = next(i for i, p in enumerate(self.progress) if source_rows(p, self.src) > 0)
        self.warm_s = ends[b0] - self.started_at
        data = [i for i, p in enumerate(self.progress)
                if i > b0 and source_rows(p, self.src) > 0]
        self.steady = [self.progress[i] for i in data]
        if data:
            self.steady_wall_s = ends[data[-1]] - ends[b0]
        self.steady_rows = sum(source_rows(p, self.src) for p in self.steady)

    @property
    def batch_s(self) -> list[float]:
        return [p["durationMs"]["triggerExecution"] / 1000.0 for p in self.steady]


def drive_stream(q, feeder: Feeder, seconds: float, started_at: float,
                 status: Optional["StatusStore"] = None,
                 min_steady: int = MIN_STEADY) -> StreamRun:
    """Feed ``q`` one trigger ahead until its steady window is over, then
    let it drain what was fed and stop it. The window opens when batch 0
    (the warm-up) commits. A trigger is fed while fewer than
    ``min_steady`` steady batches have been fed, or while the batch it
    makes would still end inside the window (forecast: twice the last
    batch's wall). With ``status``, the run carries the status-store
    counters of the jobs submitted from the window's start to the stop."""
    feeder.feed(2 * TRIGGER_FILES)
    last_batch = -1
    steady_from: Optional[float] = None
    feeding = True
    mark = -1
    deadline = time.time() + BATCH_TIMEOUT_S
    while True:
        if not q.isActive:
            raise RuntimeError(f"stream stopped early: {q.exception()}")
        p = q.lastProgress
        if p is not None and p.batchId > last_batch:
            last_batch = p.batchId
            deadline = time.time() + BATCH_TIMEOUT_S
            if steady_from is None:
                steady_from = time.time()
                log(f"{feeder.src}: batch 0 committed")
                if status is not None:
                    mark = status.mark()
            steady_fed = len(feeder.fed) // TRIGGER_FILES - 1
            elapsed = time.time() - steady_from
            forecast = 2 * p.durationMs["triggerExecution"] / 1000.0
            if feeding and not feeder.exhausted and (
                steady_fed < min_steady
                or (p.batchId > 0 and elapsed + forecast <= seconds)
            ):
                feeder.feed(TRIGGER_FILES)
            elif feeding:
                feeding = False
                log(f"{feeder.src}: fed {len(feeder.fed)} files, draining")
        if not feeding:
            # every fed row committed: stop, without waiting for a trailing
            # no-data batch (timers, eviction) the last data batch started
            prog = [json.loads(x.json) for x in q.recentProgress]
            if sum(source_rows(x, feeder.src) for x in prog) >= feeder.fed_rows:
                break
        if time.time() > deadline:
            raise RuntimeError(f"no micro-batch committed in {BATCH_TIMEOUT_S} s")
        time.sleep(POLL_S)
    log(f"{feeder.src}: drained")
    q.stop()
    log(f"{feeder.src}: stopped")
    prog = [json.loads(x.json) for x in q.recentProgress]
    counters = status.since(mark) if status is not None else {}
    return StreamRun(prog, feeder.src, started_at, feeder.exhausted, counters)


def state_ops(p: dict) -> list[dict]:
    return p.get("stateOperators", [])


def progress_layer(prefix: str, run: StreamRun) -> dict[str, float]:
    """Per-query metrics from ``recentProgress`` (Spark's own telemetry)."""
    last = run.progress[-1]
    return {
        f"{prefix}.trigger_s": mean(run.batch_s),
        f"{prefix}.add_batch_s": mean(
            [p["durationMs"].get("addBatch", 0) / 1000.0 for p in run.steady]),
        f"{prefix}.commit_s": mean(
            [sum(o.get("commitTimeMs", 0) for o in state_ops(p)) / 1000.0
             for p in run.steady]),
        f"{prefix}.state_rows": sum(o.get("numRowsTotal", 0) for o in state_ops(last)),
        f"{prefix}.state_mem_bytes": sum(o.get("memoryUsedBytes", 0) for o in state_ops(last)),
        f"{prefix}.rows_dropped_by_watermark": watermark_drops(run),
    }


def watermark_drops(run: StreamRun) -> int:
    return sum(o.get("numRowsDroppedByWatermark", 0)
               for p in run.progress for o in state_ops(p))


# -- Spark status store -------------------------------------------------------------

class StatusStore:
    """Job, stage and task counters from Spark's status store (works with
    ``spark.ui.enabled=false``). ``mark()`` remembers the newest job;
    ``since(mark)`` sums everything submitted after it."""

    def __init__(self, spark):
        self.store = spark.sparkContext._jsc.sc().statusStore()

    def _jobs(self) -> list:
        seq = self.store.jobsList(None)
        return [seq.apply(i) for i in range(seq.length())]

    def mark(self) -> int:
        return max([-1, *[j.jobId() for j in self._jobs()]])

    def since(self, mark: int) -> dict[str, float]:
        tot = dict(jobs=0, stages=0, tasks=0, tasks_failed=0,
                   shuffle_write_bytes=0, executor_run_s=0.0, gc_s=0.0)
        stage_ids = set()
        for j in self._jobs():
            if j.jobId() <= mark:
                continue
            tot["jobs"] += 1
            ids = j.stageIds()
            stage_ids.update(ids.apply(i) for i in range(ids.length()))
        from py4j.protocol import Py4JJavaError

        for sid in stage_ids:
            try:
                s = self.store.lastStageAttempt(sid)
            except Py4JJavaError:  # stage already evicted from the store
                continue
            if str(s.status()) == "SKIPPED":
                continue
            tot["stages"] += 1
            tot["tasks"] += s.numTasks()
            tot["tasks_failed"] += s.numFailedTasks()
            tot["shuffle_write_bytes"] += s.shuffleWriteBytes()
            tot["executor_run_s"] += s.executorRunTime() / 1000.0
            tot["gc_s"] += s.jvmGcTime() / 1000.0
        return tot


def spark_layer(counters: dict[str, float], steps: int) -> dict[str, float]:
    """Status-store counters per step (micro-batch or query)."""
    return {f"spark.{k}": v / max(steps, 1) for k, v in counters.items()}


def rss_layer(spark) -> dict[str, float]:
    """Peak resident set of the JVM and of this Python process, in MB."""
    import resource

    jvm = 0.0
    try:
        pid = spark.sparkContext._gateway.proc.pid
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    jvm = int(line.split()[1]) / 1024.0
    except (AttributeError, OSError):
        pass
    return {
        "jvm.peak_rss_mb": jvm,
        "driver.peak_rss_mb": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0,
    }


# -- span tracer ----------------------------------------------------------------------

class Tracer:
    """In-memory spans around public engine calls. Each span records
    name, start, end (epoch seconds), its parent span and the micro-batch
    it belongs to. Calls made on worker threads (the pipeline's
    concurrent state merges) take the open root span as parent."""

    def __init__(self) -> None:
        self.spans: list[dict[str, Any]] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._root: Optional[int] = None
        self._batch: Optional[int] = None

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def wrap(self, obj: Any, attr: str, name: str, root: bool = False,
             attrs: Optional[Callable[[], dict]] = None) -> None:
        """Replace ``obj.attr`` with a recording wrapper. A ``root`` call
        opens a micro-batch: its second positional argument is the batch
        id. ``attrs`` is sampled after the call (e.g. merge stats)."""
        inner = getattr(obj, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            stack = tracer._stack()
            with tracer._lock:
                sid = len(tracer.spans)
                if root:
                    tracer._batch = args[1] if len(args) > 1 else kwargs.get("batch_id")
                parent = stack[-1] if stack else (None if root else tracer._root)
                span = {"id": sid, "name": name, "parent": parent,
                        "batch_id": tracer._batch, "start": time.time(), "end": None}
                tracer.spans.append(span)
                if root:
                    tracer._root = sid
            stack.append(sid)
            try:
                return inner(*args, **kwargs)
            finally:
                span["end"] = time.time()
                stack.pop()
                if attrs is not None:
                    span["attrs"] = attrs()
                if root:
                    tracer._root = None

        setattr(obj, attr, wrapper)

    @contextmanager
    def span(self, name: str, **extra):
        """A harness-level span around a block (console queries)."""
        stack = self._stack()
        with self._lock:
            rec = {"id": len(self.spans), "name": name, "parent": stack[-1] if stack else None,
                   "batch_id": None, "start": time.time(), "end": None, **extra}
            self.spans.append(rec)
        stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()

    def record(self, name: str, start: float, end: float, batch_id: int, attrs: dict) -> None:
        """A span measured elsewhere (a streaming query's micro-batch)."""
        with self._lock:
            self.spans.append({"id": len(self.spans), "name": name, "parent": None,
                               "batch_id": batch_id, "start": start, "end": end,
                               "attrs": attrs})

    def children(self, sid: int) -> list[dict]:
        return [s for s in self.spans if s["parent"] == sid]

    def dump(self, path: str, meta: dict) -> None:
        with open(path, "w") as fh:
            json.dump({"meta": meta, "spans": self.spans}, fh)


def union_s(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
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


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


# -- phase result -----------------------------------------------------------------------

@dataclass
class Check:
    name: str
    ok: bool
    detail: str = ""


@dataclass
class PhaseOpts:
    """How one phase of a workload runs."""

    tracer: Optional[Tracer] = None       # record spans (the traced phase)
    status: Optional[StatusStore] = None  # status-store counters of the steady part
    check: bool = True                    # run the correctness checks


@dataclass
class Phase:
    """One measured pass of a workload stage (untraced, traced or local[1]).
    ``steps_s``, ``work`` and ``wall_s`` are the stage's gated figures;
    a stage that is not gated leaves them empty and counts its steps in
    ``ungated_steps``."""

    setup: dict[str, float]          # named set-up parts, seconds
    steps_s: list[float]             # micro-batch walls or query latencies
    work: int                        # turns (streams) or queries (console)
    wall_s: float                    # steady wall time the work took
    checks: list[Check]
    layer: dict[str, float] = field(default_factory=dict)
    info: dict[str, Any] = field(default_factory=dict)
    ungated_steps: int = 0

    @property
    def throughput(self) -> float:
        return self.work / self.wall_s if self.wall_s > 0 else 0.0

    @property
    def n_steps(self) -> int:
        return len(self.steps_s) + self.ungated_steps

    @staticmethod
    def combine(stages: list["Phase"]) -> "Phase":
        """Stages run one after another in one session. The first stage
        gives the end-to-end step and throughput figures; every stage's
        set-up, checks, steps and layer metrics count."""
        head = stages[0]
        out = Phase(setup={}, steps_s=head.steps_s, work=head.work, wall_s=head.wall_s,
                    checks=[], info={"stages": {}, "status": {}},
                    ungated_steps=head.ungated_steps)
        for ph in stages:
            out.setup.update(ph.setup)
            out.checks += ph.checks
            out.layer.update(ph.layer)
            if ph is not head:
                out.ungated_steps += ph.n_steps
            out.info["stages"][ph.info["stage"]] = ph.info
            for k, v in ph.info.get("status", {}).items():
                out.info["status"][k] = out.info["status"].get(k, 0) + v
        return out


def step_summary(steps_s: list[float], work: int, wall_s: float) -> dict[str, float]:
    """Detail-line figures of one stage or query."""
    tail_v, tail_p = tail(steps_s)
    return {"throughput_per_s": work / wall_s if wall_s > 0 else 0.0, "wall_s": wall_s,
            "step_s_p50": percentile(steps_s, 50), "step_s_tail": tail_v,
            "tail_percentile": tail_p, "steps": len(steps_s)}
