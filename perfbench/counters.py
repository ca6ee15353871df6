"""Spark counters read from the status stores, spans, and per-layer rollup.

Counters are attributed by Spark job-ID range, not by job group: a span
records the scheduler's next job ID when it opens and when it closes, so
every job launched in between, from any thread, falls in the span. The
stores are read only after the clock stops.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager

from tilecloud_chain_spark.checkpoint import CheckpointStore

# -- status stores ---------------------------------------------------------------

# Python-node SQL metrics; size metrics count bytes, timing metrics ms
_PY_BYTES = ("data sent to Python workers", "data returned from Python workers")
_PY_RUN_MS = "time to run Python workers"


class StatusReader:
    """Reads jobs, stages and tasks of one SparkContext from its in-memory
    status store (no UI or REST server needed).

    The status store drops SQL accumulators from its stage and task data,
    so the Python-node metrics are summed from the task-end events of the
    application's event log (``event_log``: the uncompressed, non-rolling
    log file), the same events the history server rebuilds SQL metrics
    from. Without an event log the Python counters read 0."""

    def __init__(self, spark, event_log: str | None = None):
        self.spark = spark
        sc = spark.sparkContext
        self._sc = sc._jsc.sc()
        jvm = sc._jvm
        self._om = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala = jvm.com.fasterxml.jackson.module.scala
        self._om.registerModule(getattr(getattr(scala, "DefaultScalaModule$"), "MODULE$"))
        self._no_quantiles = sc._gateway.new_array(jvm.double, 0)
        self._log = open(event_log) if event_log else None
        self._partial = ""
        self._py: dict = {}  # (stage, attempt) -> [py bytes, py run ms]

    def next_job_id(self) -> int:
        return int(self._sc.dagScheduler().nextJobId())

    def _json(self, obj):
        return json.loads(self._om.writeValueAsString(obj))

    def settle(self) -> None:
        """Wait until every event already posted reached the stores."""
        self._sc.listenerBus().waitUntilEmpty()

    def _read_events(self) -> None:
        """Add the Python metrics of task-end events logged since the last
        call (the log is flushed at each stage completion)."""
        if self._log is None:
            return
        text = self._partial + self._log.read()
        lines = text.split("\n")
        self._partial = lines.pop()
        for line in lines:
            if '"SparkListenerTaskEnd"' not in line or "Python workers" not in line:
                continue
            ev = json.loads(line)
            acc = self._py.setdefault((ev["Stage ID"], ev["Stage Attempt ID"]), [0, 0])
            for a in ev["Task Info"].get("Accumulables", []):
                if a.get("Name") in _PY_BYTES:
                    acc[0] += int(a.get("Update") or 0)
                elif a.get("Name") == _PY_RUN_MS:
                    acc[1] += int(a.get("Update") or 0)

    def snapshot(self, lo: int, hi: int) -> dict:
        """Jobs with lo <= id < hi, their executed stages (each stage once,
        under the first job that ran it) with their Python metrics, and
        task timings of those stages."""
        self.settle()
        self._read_events()
        ss = self._sc.statusStore()
        jobs = {j["jobId"]: j for j in self._json(ss.jobsList(None)) if lo <= j["jobId"] < hi}
        stages = {}
        for s in self._json(ss.stageList(None, False, False, self._no_quantiles, None)):
            stages.setdefault(s["stageId"], []).append(s)
        owner = {}
        for jid in sorted(jobs):
            for sid in jobs[jid]["stageIds"]:
                if sid not in owner and any(a["status"] != "SKIPPED" for a in stages.get(sid, [])):
                    owner[sid] = jid
        stage_rows = []
        for sid, jid in owner.items():
            for a in stages[sid]:
                if a["status"] == "SKIPPED":
                    continue
                tasks = self._json(ss.taskList(sid, a["attemptId"], 1 << 20))
                py_bytes, py_ms = self._py.get((sid, a["attemptId"]), (0, 0))
                stage_rows.append({
                    "job": jid, "stage": sid, "attempt": a["attemptId"],
                    "run_ms": a["executorRunTime"],
                    "shuffle_bytes": a["shuffleWriteBytes"],
                    "spill_bytes": a["diskBytesSpilled"],
                    "failed": a["numFailedTasks"] + a["numKilledTasks"],
                    "py_bytes": py_bytes, "py_run_s": py_ms / 1e3,
                    "tasks": [(t["launchTime"], t["duration"] or 0) for t in tasks
                              if t.get("launchTime") is not None],
                })
        return {"jobs": sorted(jobs), "stages": stage_rows}

    def close(self) -> None:
        if self._log is not None:
            self._log.close()


def run_seconds(snap: dict) -> float:
    """Executor run time of the snapshot's stages."""
    return sum(s["run_ms"] for s in snap["stages"]) / 1e3


# -- spans -------------------------------------------------------------------------


class Tracer:
    """Spans with parent links and job-ID ranges, kept in memory. A span's
    ``layer`` is a layer name, or a {layer: share} dict for one call that
    does the work of several layers at once (its counters are split by
    the shares)."""

    def __init__(self, reader: StatusReader | None):
        self.reader = reader
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, layer: str | dict | None):
        if self.reader is None:
            yield
            return
        rec = {"id": len(self.spans), "name": name, "layer": layer,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "job_lo": self.reader.next_job_id()}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.time()
            rec["job_hi"] = self.reader.next_job_id()


NULL_TRACER = Tracer(None)

# stage name of a staged plan -> the layer whose operator the stage runs
STAGE_LAYERS = {
    "tiles": "operators.raster",
    "dedup": "operators.image_dedup",
    "decontam": "operators.image_curation",
    "clip": "operators.image_curation",
    "admitted": "operators.image_curation",
    "batches": "operators.image_curation",
    "schedule": "operators.image_curation",
}


class TracedStore(CheckpointStore):
    """A CheckpointStore whose public calls open spans. ``run_stage``
    spans carry the layer of the operator the stage builds; the store's
    own bookkeeping (status reads and writes, the queue write, output
    reads) is the ``checkpoint.store`` layer. Counts the stages a run
    actually executed, for the resume yield."""

    def __init__(self, spark, root, tracer: Tracer):
        super().__init__(spark, root)
        self.tracer = tracer
        self.executed = 0

    def run_stage(self, job_id, stage, zoom, build, *a, **kw):
        with self.tracer.span(f"run_stage:{stage}:{zoom}", STAGE_LAYERS.get(stage, "checkpoint.store")):
            out = super().run_stage(job_id, stage, zoom, build, *a, **kw)
        self.executed += not out.get("skipped", False)
        return out

    def set_status(self, *a, **kw):
        with self.tracer.span("set_status", "checkpoint.store"):
            return super().set_status(*a, **kw)

    def stage_status(self, *a, **kw):
        with self.tracer.span("stage_status", "checkpoint.store"):
            return super().stage_status(*a, **kw)

    def enqueue(self, *a, **kw):
        with self.tracer.span("enqueue", "checkpoint.store"):
            return super().enqueue(*a, **kw)

    def output(self, *a, **kw):
        with self.tracer.span("output", "checkpoint.store"):
            return super().output(*a, **kw)


# -- per-layer rollup --------------------------------------------------------------

COMPUTE = ("wall_s", "exec_run_s", "busy_frac", "driver_idle_s", "jobs", "task_retries")
ARROW_LAYERS = ("operators.filters", "operators.raster", "operators.html",
                "operators.langid", "operators.lm")
SHUFFLE_LAYERS = ("operators.spatial", "operators.dedup", "operators.text",
                  "operators.image_dedup", "operators.image_curation")
LAYERS = ("sources.enumerate",) + ARROW_LAYERS[:2] + ("operators.spatial",) + ARROW_LAYERS[2:] + (
    "operators.quality", "operators.corpus", "operators.dedup", "operators.text", "operators.image_dedup",
    "operators.image_curation", "checkpoint.store")


def _cover(intervals, lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


def _self_parts(span: dict, children: list[dict]):
    """Self intervals of a span (its interval minus its children's) and
    its self job IDs (its range minus its children's ranges)."""
    parts, cur = [], span["start"]
    jobs = set(range(span["job_lo"], span["job_hi"]))
    for c in sorted(children, key=lambda c: c["start"]):
        if c["start"] > cur:
            parts.append((cur, c["start"]))
        cur = max(cur, c["end"])
        jobs -= set(range(c["job_lo"], c["job_hi"]))
    if span["end"] > cur:
        parts.append((cur, span["end"]))
    return parts, jobs


def layer_counters(spans: list[dict], snap: dict, cores: int) -> tuple[dict, float]:
    """Per-layer counters of one traced run, and the sum of layer self
    times. Each span's self time, self jobs and their stages and tasks are
    added to the span's layer, or split over its layers by their shares."""
    kids: dict = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    acc = {l: {"wall_s": 0.0, "exec_run_s": 0.0, "driver_idle_s": 0.0, "jobs": 0,
               "task_retries": 0, "py_bytes": 0.0, "py_run_s": 0.0,
               "shuffle_bytes": 0, "spill_bytes": 0, "stages": []} for l in LAYERS}
    self_total = 0.0
    by_job: dict = {}
    for st in snap["stages"]:
        by_job.setdefault(st["job"], []).append(st)
    for s in spans:
        if s["layer"] is None:
            continue
        parts, jobs = _self_parts(s, kids.get(s["id"], []))
        stages = [st for j in jobs for st in by_job.get(j, [])]
        ivs = [(t0 / 1e3, (t0 + d) / 1e3) for st in stages for t0, d in st["tasks"]]
        wall = sum(b - x for x, b in parts)
        self_total += wall
        own = {
            "wall_s": wall,
            "jobs": len(jobs & set(snap["jobs"])),
            "exec_run_s": sum(st["run_ms"] for st in stages) / 1e3,
            "task_retries": sum(st["failed"] + (st["attempt"] > 0) for st in stages),
            "shuffle_bytes": sum(st["shuffle_bytes"] for st in stages),
            "spill_bytes": sum(st["spill_bytes"] for st in stages),
            "driver_idle_s": sum((b - x) - _cover(ivs, x, b) for x, b in parts),
            "py_bytes": sum(st["py_bytes"] for st in stages),
            "py_run_s": sum(st["py_run_s"] for st in stages),
        }
        shares = s["layer"] if isinstance(s["layer"], dict) else {s["layer"]: 1.0}
        for layer, share in shares.items():
            a = acc[layer]
            for k, v in own.items():
                a[k] += v * share
            a["stages"] += stages
    out = {}
    for layer, a in acc.items():
        wall = a["wall_s"]
        vals = {
            "wall_s": wall, "exec_run_s": a["exec_run_s"],
            "busy_frac": a["exec_run_s"] / (wall * cores) if wall > 0 else 0.0,
            "driver_idle_s": a["driver_idle_s"], "jobs": a["jobs"],
            "task_retries": a["task_retries"],
        }
        if layer in ARROW_LAYERS:
            vals["py_bytes"] = a["py_bytes"]
            vals["py_run_s"] = a["py_run_s"]
        if layer in SHUFFLE_LAYERS:
            vals["shuffle_bytes"] = a["shuffle_bytes"]
            vals["spill_bytes"] = a["spill_bytes"]
            vals["task_skew"] = _task_skew(a["stages"])
        out.update({f"{layer}.{k}": v for k, v in vals.items()})
    return out, self_total


def _task_skew(stages: list[dict]) -> float:
    """max/median task time of the layer's heaviest multi-task stage."""
    multi = [st for st in stages if len(st["tasks"]) > 1]
    if not multi:
        return 0.0
    heavy = max(multi, key=lambda st: st["run_ms"])
    d = [dur for _, dur in heavy["tasks"]]
    med = statistics.median(d)
    return max(d) / med if med > 0 else 0.0


# every per-layer metric a traced run reports, layers it does not exercise as 0
PER_LAYER = (
    [f"{l}.{c}" for l in LAYERS for c in COMPUTE]
    + [f"{l}.{c}" for l in ARROW_LAYERS for c in ("py_bytes", "py_run_s")]
    + [f"{l}.{c}" for l in SHUFFLE_LAYERS for c in ("shuffle_bytes", "spill_bytes", "task_skew")]
    + ["operators.dedup.pair_yield", "operators.image_dedup.pair_yield"]
    + [f"checkpoint.store.{c}" for c in ("bytes_written", "bytes_per_input_byte",
                                         "resume_s", "resume_yield")]
    + ["session.start_s", "session.warm_s"]
    + [f"trace.{c}" for c in ("wall_s", "untraced_s", "overhead_s", "self_cover")]
)
