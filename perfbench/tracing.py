"""Tracing for the per-layer run, all from the benchmark's side.

* ``Spans`` wraps public functions of ``ankaflow_spark`` modules and sums
  calls and seconds per layer; nothing inside the package is edited.
* ``stream_listener`` builds a ``StreamingQueryListener`` that records every
  micro-batch's progress.
* ``read_event_log`` parses Spark's uncompressed event log, and
  ``spark_layers`` attributes its jobs and tasks to items by time window,
  which is exact because items run one after another.
"""

from __future__ import annotations

import collections
import datetime
import functools
import json
import os
import statistics
import time

MB = 1024 * 1024


class Spans:
    """Per-layer call counts and inclusive seconds, recorded while
    ``enabled``. A layer entered again from inside itself (``super()``
    calls, recursion) counts once."""

    def __init__(self):
        self.calls = collections.Counter()
        self.seconds = collections.Counter()
        self.enabled = False
        self._depth = collections.Counter()

    def wrap(self, owner, attr: str, key: str, split=None) -> None:
        """Replace ``owner.attr`` with a timed call. ``split`` is an optional
        (key, predicate on the call's args and kwargs) that also books the
        calls the predicate selects under a second key."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled or self._depth[key]:
                return fn(*args, **kwargs)
            self._depth[key] += 1
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                dt = time.perf_counter() - t0
                self._depth[key] -= 1
                self.calls[key] += 1
                self.seconds[key] += dt
                if split is not None and split[1](args, kwargs):
                    self.calls[split[0]] += 1
                    self.seconds[split[0]] += dt

        setattr(owner, attr, traced)


def _materialize(args, kwargs) -> bool:
    # SparkEngine.register(self, name, df, materialize=False)
    return bool(kwargs.get("materialize", args[3] if len(args) > 3 else False))


def instrument(spans: Spans) -> None:
    """Wrap the calls into each layer. Runs before the operators and plans
    modules are imported, so their module-level imports see the wrappers."""
    from ankaflow_spark import session
    from ankaflow_spark.plans import renderer
    from ankaflow_spark.sources import file as sources_file
    from ankaflow_spark.sqlfront import rewrite

    spans.wrap(session.SparkEngine, "register", "session.register",
               split=("session.materialize", _materialize))
    spans.wrap(session.SparkEngine, "sql", "session.sql")
    spans.wrap(rewrite, "rewrite_sql", "sqlfront.rewrite")
    spans.wrap(renderer.Renderer, "render", "plans.render")
    for cls in vars(sources_file).values():
        if isinstance(cls, type) and cls.__module__ == sources_file.__name__:
            for attr in ("tap", "sink"):
                if attr in vars(cls):
                    spans.wrap(cls, attr, f"sources.{attr}")


def _epoch(iso: str) -> float:
    return datetime.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def stream_listener(events: list):
    """A listener appending one dict per query start and per micro-batch
    progress to ``events``, stamped with Spark's own event time."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            events.append({"ts": _epoch(event.timestamp), "start": True})

        def onQueryProgress(self, event):
            p = event.progress
            d = p.durationMs or {}
            events.append({
                "ts": _epoch(p.timestamp),
                "rows": p.numInputRows,
                "trigger_ms": d.get("triggerExecution", 0),
                "add_ms": d.get("addBatch", 0),
            })

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return Listener()


def read_event_log(log_dir: str) -> dict:
    """Jobs, stage sets and task metrics from the one application log."""
    (name,) = os.listdir(log_dir)
    jobs, submitted, tasks = {}, set(), []
    with open(os.path.join(log_dir, name)) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                jobs[ev["Job ID"]] = {
                    "start": ev["Submission Time"] / 1000,
                    "stages": list(ev["Stage IDs"]),
                }
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000
            elif kind == "SparkListenerStageSubmitted":
                submitted.add(ev["Stage Info"]["Stage ID"])
            elif kind == "SparkListenerTaskEnd":
                tasks.append(_task(ev))
    return {"jobs": jobs, "submitted": submitted, "tasks": tasks}


_PY_ACCUMS = {
    "data sent to Python workers": "python_in",
    "data returned from Python workers": "python_out",
    "time to run Python workers": "python_run",
}


def _task(ev: dict) -> dict:
    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
    shuffle_read = m.get("Shuffle Read Metrics") or {}
    out = {
        "stage": ev["Stage ID"],
        "launch": info["Launch Time"] / 1000,
        "failed": bool(info.get("Failed") or info.get("Killed")),
        "run_s": m.get("Executor Run Time", 0) / 1000,
        "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
        "gc_s": m.get("JVM GC Time", 0) / 1000,
        "input": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
        "output": (m.get("Output Metrics") or {}).get("Bytes Written", 0),
        "shuffle_read": shuffle_read.get("Remote Bytes Read", 0)
        + shuffle_read.get("Local Bytes Read", 0),
        "shuffle_write": (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
        "spill": m.get("Disk Bytes Spilled", 0),
        "python_in": 0, "python_out": 0, "python_run": 0,
    }
    for acc in info.get("Accumulables") or []:
        key = _PY_ACCUMS.get(acc.get("Name"))
        if key is not None:
            out[key] += int(acc.get("Update") or 0)
    return out


def _union_s(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    return total + (cur_e - cur_s if cur_e is not None else 0.0)


SPARK_SUMS = (
    # (metric, task field, scale)
    ("executor_run_s", "run_s", 1),
    ("executor_cpu_s", "cpu_s", 1),
    ("gc_s", "gc_s", 1),
    ("input_mb", "input", 1 / MB),
    ("shuffle_read_mb", "shuffle_read", 1 / MB),
    ("shuffle_write_mb", "shuffle_write", 1 / MB),
    ("spill_mb", "spill", 1 / MB),
    ("output_mb", "output", 1 / MB),
    ("python_in_mb", "python_in", 1 / MB),
    ("python_out_mb", "python_out", 1 / MB),
    ("python_run_s", "python_run", 1 / 1000),
)


def spark_layers(log: dict, items: list) -> list:
    """Per-item Spark counters. A job belongs to the item whose window holds
    its submission; a task belongs to its stage's job, or else to the item
    whose window holds its launch (jobs on streaming threads)."""
    windows = [(it["start"], it["end"]) for it in items]

    def owner(t: float):
        for i, (s, e) in enumerate(windows):
            if s <= t <= e:
                return i
        return None

    per = [{"jobs": 0, "stages": 0, "stages_skipped": 0, "tasks": 0, "tasks_failed": 0,
            "overhang_s": 0.0, "intervals": [], **{k: 0.0 for k, _, _ in SPARK_SUMS}}
           for _ in items]
    stage_item = {}
    for job in log["jobs"].values():
        i = owner(job["start"])
        if i is None:
            continue
        p = per[i]
        p["jobs"] += 1
        for sid in job["stages"]:
            if sid in stage_item:
                continue
            stage_item[sid] = i
            p["stages"] += 1
            p["stages_skipped"] += sid not in log["submitted"]
        s, e = windows[i]
        end = job.get("end", float("inf"))
        p["overhang_s"] = max(p["overhang_s"], end - e)
        p["intervals"].append((max(job["start"], s), min(end, e)))
    for task in log["tasks"]:
        i = stage_item.get(task["stage"], owner(task["launch"]))
        if i is None:
            continue
        p = per[i]
        p["tasks"] += 1
        p["tasks_failed"] += task["failed"]
        for key, field, scale in SPARK_SUMS:
            p[key] += task[field] * scale
    out = []
    for it, p in zip(items, per):
        wall = it["end"] - it["start"]
        p["job_wall_s"] = _union_s(p.pop("intervals"))
        p["residual_s"] = wall - p["job_wall_s"]
        out.append(p)
    return out


def stream_layers(events: list, start: float, end: float) -> dict:
    """Streaming counters for the events stamped inside [start, end]."""
    inside = [e for e in events if start <= e["ts"] <= end]
    progress = [e for e in inside if not e.get("start")]
    trig = [b["trigger_ms"] for b in progress]
    return {
        "queries": sum(bool(e.get("start")) for e in inside),
        "batches": len(progress),
        "input_rows": sum(b["rows"] for b in progress),
        "batch_p50_ms": statistics.median(trig) if trig else 0.0,
        "batch_overhead_ms": statistics.median(
            b["trigger_ms"] - b["add_ms"] for b in progress) if progress else 0.0,
    }
