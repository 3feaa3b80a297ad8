"""In-memory span recording and Spark event-log attribution.

Spans are recorded around calls into the engine's public functions by
patching the imported modules from the outside (``Tracer.wrap``); nothing
in the engine is edited. A span is (id, name, layer, start, end, parent,
iteration). Operator calls build lazy plans, so their spans measure plan
time; execution happens inside the runner task or query action that
encloses them.

Execution counters come from the Spark event log. The benchmark sets a
job group per DAG task or query (``group``), and ``parse_event_log``
sums task metrics per group.
"""

from __future__ import annotations

import functools
import json
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.iteration: int | None = None
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "layer": layer, "start": time.time(),
               "end": None, "parent": self._stack[-1] if self._stack else None,
               "iteration": self.iteration}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def wrap(self, owner, attr: str, layer: str, on_return=None) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper. The
        optional ``on_return(result, args, kwargs)`` sees each result of a
        call made while tracing is on."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(f"{layer}.{attr}", layer):
                out = fn(*args, **kwargs)
            if on_return is not None and self.enabled:
                on_return(out, args, kwargs)
            return out

        self._patched.append((owner, attr, fn))
        setattr(owner, attr, traced)

    def restore(self) -> None:
        for owner, attr, fn in reversed(self._patched):
            setattr(owner, attr, fn)
        self._patched.clear()


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the part of it its children cover."""
    kids: dict[int, list[dict]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            kids[s["parent"]].append(s)
    out = {}
    for s in spans:
        covered, cur_start, cur_end = 0.0, None, None
        for c in sorted(kids[s["id"]], key=lambda c: c["start"]):
            lo, hi = max(c["start"], s["start"]), min(c["end"], s["end"])
            if hi <= lo:
                continue
            if cur_end is None or lo > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = lo, hi
            else:
                cur_end = max(cur_end, hi)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def layer_time(spans: list[dict], layer: str, name: str | None = None) -> float:
    """Wall time inside ``layer`` (optionally one function), counting
    nested calls of the same layer once."""
    by_id = {s["id"]: s for s in spans}
    total = 0.0
    for s in spans:
        if s["layer"] != layer or (name is not None and s["name"] != name):
            continue
        parent = by_id.get(s["parent"])
        if parent is not None and parent["layer"] == layer and (
                name is None or parent["name"] == name):
            continue
        total += s["end"] - s["start"]
    return total


COUNTERS = ("tasks", "failed_tasks", "executor_run_s", "scheduler_delay_s",
            "gc_s", "shuffle_write_mb", "spill_mb", "records_written", "jobs")


def parse_event_log(path: str) -> tuple[dict[str, dict], list[tuple[str, float]]]:
    """Sum task metrics per job group.

    Returns ({group: {counter: value}}, [(group, job submission epoch s)]).
    Scheduler delay follows the Spark UI: task duration minus run,
    deserialize, result-serialize and getting-result time.
    """
    stage_group: dict[int, str] = {}
    groups: dict[str, dict] = defaultdict(lambda: dict.fromkeys(COUNTERS, 0.0))
    jobs: list[tuple[str, float]] = []
    mb = 1024.0 * 1024.0
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id", "")
                for sid in ev.get("Stage IDs", ()):
                    stage_group[sid] = group
                groups[group]["jobs"] += 1
                jobs.append((group, ev["Submission Time"] / 1000.0))
            elif kind == "SparkListenerTaskEnd":
                g = groups[stage_group.get(ev["Stage ID"], "")]
                info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                g["tasks"] += 1
                if info.get("Failed") or info.get("Killed"):
                    g["failed_tasks"] += 1
                run = m.get("Executor Run Time", 0)
                overhead = (m.get("Executor Deserialize Time", 0)
                            + m.get("Result Serialization Time", 0)
                            + info.get("Getting Result Time", 0))
                duration = info["Finish Time"] - info["Launch Time"]
                g["executor_run_s"] += run / 1000.0
                g["scheduler_delay_s"] += max(0, duration - run - overhead) / 1000.0
                g["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                g["spill_mb"] += m.get("Disk Bytes Spilled", 0) / mb
                sw = m.get("Shuffle Write Metrics") or {}
                g["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / mb
                out = m.get("Output Metrics") or {}
                g["records_written"] += out.get("Records Written", 0)
    return dict(groups), jobs
