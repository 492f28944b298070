"""Spans around calls into the program's layers, and Spark's event log.

A span is opened by the benchmark around a call into one layer (for
example ``etl.normalize_transactions``) or by a wrapper installed on
the ``TableStore`` instance. While a span is open its id is the
thread's Spark job group, so every job, stage and task Spark runs for
it carries the id into the event log. After the session stops,
:func:`read_event_log` sums task metrics per job group and
:meth:`Tracer.layer_totals` folds them into per-layer numbers.

A disabled tracer opens no spans and sets no job group.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import time

_GROUP = "spark.jobGroup.id"
_DESC = "spark.job.description"


class Tracer:
    def __init__(self, sc, enabled: bool):
        self.sc, self.enabled = sc, enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.op: int | None = None       # index of the operation being run
        self.overhead_s = 0.0            # time spent in span bookkeeping

    @contextlib.contextmanager
    def span(self, name: str):
        """Open span ``name`` (``<layer>.<call>``); yields its record."""
        if not self.enabled:
            yield {}
            return
        t = time.perf_counter()
        rec = {"id": f"span-{len(self.spans)}", "name": name,
               "layer": name.split(".")[0], "op": self.op,
               "parent": self._stack[-1]["id"] if self._stack else None,
               "children_s": 0.0}
        self.spans.append(rec)
        saved = (self.sc.getLocalProperty(_GROUP),
                 self.sc.getLocalProperty(_DESC))
        self.sc.setJobGroup(rec["id"], name)
        self._stack.append(rec)
        rec["t0"] = time.perf_counter()
        self.overhead_s += rec["t0"] - t
        try:
            yield rec
        finally:
            t = time.perf_counter()
            rec["wall_s"] = t - rec["t0"]
            self._stack.pop()
            if self._stack:
                self._stack[-1]["children_s"] += rec["wall_s"]
            self.sc.setLocalProperty(_GROUP, saved[0])
            self.sc.setLocalProperty(_DESC, saved[1])
            self.overhead_s += time.perf_counter() - t

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a call inside span ``name``."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(owner, attr, traced)

    # ---- per-layer folding ------------------------------------------
    def layer_totals(self, groups: dict, cores: int) -> dict[int, dict]:
        """op -> {metric: value} summed over that op's spans.

        A span's *self* numbers are its own jobs and tasks, not those of
        its child spans; wall and self wall are summed only over spans
        whose parent is in another layer, so nested spans of one layer
        are not counted twice."""
        by_id = {s["id"]: s for s in self.spans}
        out: dict[int, dict] = {}
        for s in self.spans:
            if s["op"] is None or "wall_s" not in s:
                continue
            acc = out.setdefault(s["op"], {})
            layer, g = s["layer"], groups.get(s["id"], {})
            parent = by_id.get(s["parent"])
            if parent is None or parent["layer"] != layer:
                _add(acc, f"{layer}.wall_s", s["wall_s"])
                _add(acc, f"{layer}.self_s", s["wall_s"] - s["children_s"])
            # a span named after its layer ("day", "pass") has no
            # per-call keys of its own: they would double the layer's
            per_call = s["name"] != layer
            if per_call:
                _add(acc, f"{s['name']}.wall_s", s["wall_s"])
                _add(acc, f"{s['name']}.calls", 1)
            for k, v in g.items():
                _add(acc, f"{layer}.{k}", v)
                if per_call:
                    _add(acc, f"{s['name']}.{k}", v)
                _add(acc, f"op.{k}", v)
            for k, v in s.get("counts", {}).items():
                _add(acc, f"{layer}.{k}", v)
        for acc in out.values():
            for layer in {k.split(".")[0] for k in acc}:
                run_s = acc.get(f"{layer}.run_s", 0.0)
                self_s = acc.get(f"{layer}.self_s", 0.0)
                acc[f"{layer}.busy_ratio"] = (
                    run_s / (self_s * cores) if self_s > 0 else 0.0)
        return out


def _add(acc: dict, key: str, v: float) -> None:
    acc[key] = acc.get(key, 0) + v


def read_event_log(log_dir: str) -> dict[str, dict]:
    """job group -> summed metrics of its jobs, stages and tasks.

    Call after the SparkContext has stopped, so the log is complete."""
    files = [p for p in glob.glob(os.path.join(log_dir, "**", "*"),
                                  recursive=True) if os.path.isfile(p)]
    stage_group: dict[int, str] = {}
    last_stage: dict[str, int] = {}
    stage_tasks: dict[int, int] = {}
    out: dict[str, dict] = {}
    for path in sorted(files):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get(_GROUP)
                    if g:
                        _add(out.setdefault(g, {}), "jobs", 1)
                elif kind == "SparkListenerStageSubmitted":
                    g = (ev.get("Properties") or {}).get(_GROUP)
                    sid = ev["Stage Info"]["Stage ID"]
                    if g:
                        stage_group[sid] = g
                        _add(out.setdefault(g, {}), "stages", 1)
                        last_stage[g] = max(last_stage.get(g, -1), sid)
                elif kind == "SparkListenerTaskEnd":
                    sid = ev["Stage ID"]
                    stage_tasks[sid] = stage_tasks.get(sid, 0) + 1
                    g = stage_group.get(sid)
                    m = ev.get("Task Metrics")
                    if g is None or not m:
                        continue
                    acc = out.setdefault(g, {})
                    rd = m.get("Shuffle Read Metrics", {})
                    wr = m.get("Shuffle Write Metrics", {})
                    _add(acc, "tasks", 1)
                    _add(acc, "run_s", m.get("Executor Run Time", 0) / 1e3)
                    _add(acc, "executor_cpu_s",
                         m.get("Executor CPU Time", 0) / 1e9)
                    _add(acc, "gc_s", m.get("JVM GC Time", 0) / 1e3)
                    _add(acc, "spill_bytes",
                         m.get("Memory Bytes Spilled", 0)
                         + m.get("Disk Bytes Spilled", 0))
                    _add(acc, "shuffle_bytes",
                         rd.get("Remote Bytes Read", 0)
                         + rd.get("Local Bytes Read", 0)
                         + wr.get("Shuffle Bytes Written", 0))
    for g, sid in last_stage.items():
        out[g]["last_stage_tasks"] = stage_tasks.get(sid, 0)
    return out
