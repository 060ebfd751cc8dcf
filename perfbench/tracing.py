"""Span tracing for the traced benchmark run.

The engine is never edited: ``Tracer.wrap`` replaces a function or method
attribute of an engine module with a wrapper that records a span around each
call, and ``Tracer.restore`` puts the originals back; while ``enabled`` is false the
wrappers call straight through. Each span sets the Spark
job group (``spark.jobGroup.id``) to ``<name>#<span id>`` while it is open, so
every job it starts can be read back from the event log and charged to it.

Spans stay in memory; ``spans_table`` writes them out at the end of the run.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import time
from collections import defaultdict

JOB_FIELDS = (
    "jobs",
    "stages",
    "tasks",
    "task_s",
    "gc_ms",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "input_bytes",
    "output_bytes",
    "input_stages",
)


class Tracer:
    """In-memory span recorder. One instance per traced run."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._patches: list[tuple[object, str, object]] = []
        # wrappers record spans only while enabled
        self.enabled = False
        # wall spent in the tracer's own bookkeeping, charged to overhead
        self.bookkeeping_s = 0.0

    @contextlib.contextmanager
    def span(self, name: str, request: object = None, layer: str | None = None):
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        if request is None and parent is not None:
            request = parent["request"]
        rec = {
            "id": len(self.spans),
            "name": name,
            "layer": layer,
            "parent": parent["id"] if parent else None,
            "request": request,
            "start": 0.0,
            "end": 0.0,
        }
        rec["group"] = f"{name}#{rec['id']}"
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setLocalProperty("spark.jobGroup.id", rec["group"])
        rec["start"] = time.perf_counter()
        self.bookkeeping_s += rec["start"] - t0
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.sc.setLocalProperty(
                "spark.jobGroup.id", self._stack[-1]["group"] if self._stack else None
            )
            self.bookkeeping_s += time.perf_counter() - rec["end"]

    def wrap(self, owner: object, attr: str, layer: str, materialize: bool = False) -> None:
        """Record a span around every call of ``owner.attr``, named
        ``<layer>.<attr>`` and charged to ``layer``.

        ``materialize`` checkpoints a returned DataFrame inside the span, so
        the Spark work of a lazily planned layer is charged to that layer
        rather than to whichever later action would have run it."""
        fn = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            with self.span(f"{layer}.{attr.lstrip('_')}", layer=layer):
                out = fn(*args, **kwargs)
                if materialize and hasattr(out, "localCheckpoint"):
                    out = out.localCheckpoint(eager=True)
            return out

        setattr(owner, attr, traced)
        self._patches.append((owner, attr, fn))

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # ------------------------------------------------------------- queries
    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def layer(self, layer: str) -> list[dict]:
        return [s for s in self.spans if s["layer"] == layer]

    def children(self, span: dict) -> list[dict]:
        return [s for s in self.spans if s["parent"] == span["id"]]

    def descendants(self, span: dict) -> list[dict]:
        out, todo = [], [span]
        while todo:
            kids = self.children(todo.pop())
            out += kids
            todo += kids
        return out

    @staticmethod
    def wall(span: dict) -> float:
        return span["end"] - span["start"]

    def self_time(self, span: dict) -> float:
        """Span duration minus the time its direct children cover (children
        run one after another on the single client thread)."""
        return self.wall(span) - sum(self.wall(c) for c in self.children(span))

    def spark(self, span: dict, jobs: dict[str, dict]) -> dict:
        """Spark per-job numbers of the span and all its descendants."""
        tot = dict.fromkeys(JOB_FIELDS, 0)
        for s in [span, *self.descendants(span)]:
            for k, v in jobs.get(s["group"], {}).items():
                tot[k] += v
        return tot

    def spans_table(self, jobs: dict[str, dict]) -> list[dict]:
        """Every span with its wall, self time and own Spark numbers."""
        keep = ("id", "name", "layer", "parent", "request", "start", "end")
        return [
            {
                **{k: s[k] for k in keep},
                "wall_s": self.wall(s),
                "self_s": self.self_time(s),
                **jobs.get(s["group"], {}),
            }
            for s in self.spans
        ]


def read_event_log(event_dir: str) -> dict[str, dict]:
    """Per job group: jobs, stages, tasks, task time, GC, shuffle, spill and
    I/O bytes, from the uncompressed Spark event log(s) under ``event_dir``."""
    stage_group: dict[int, str | None] = {}
    stage_input: dict[int, int] = defaultdict(int)
    out: dict[str, dict] = defaultdict(lambda: dict.fromkeys(JOB_FIELDS, 0))
    for path in sorted(glob.glob(os.path.join(event_dir, "*"))):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    out[group]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
                elif kind == "SparkListenerStageCompleted":
                    sid = ev["Stage Info"]["Stage ID"]
                    group = stage_group.get(sid)
                    out[group]["stages"] += 1
                    out[group]["input_stages"] += int(stage_input[sid] > 0)
                elif kind == "SparkListenerTaskEnd":
                    sid = ev["Stage ID"]
                    m = ev.get("Task Metrics") or {}
                    row = out[stage_group.get(sid)]
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    read = (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                    row["tasks"] += 1
                    row["task_s"] += m.get("Executor Run Time", 0) / 1000.0
                    row["gc_ms"] += m.get("JVM GC Time", 0)
                    row["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0
                    )
                    row["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    row["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
                    row["input_bytes"] += read
                    row["output_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
                    stage_input[sid] += read
    return dict(out)
