"""Out-of-package tracing for the benchmark's traced runs.

Three instruments, all driven from outside the package:

- :class:`Tracer` wraps public functions of the package's layers by
  rebinding them in every loaded package module that holds a reference,
  and records spans ``(name, start, end, parent, op)`` in memory. Self
  time is a span's duration minus its direct children's. A wrapped
  function that returns a lazy DataFrame is charged only for the plan
  construction and any eager jobs it runs inside.
- :class:`SparkCounters` reads Spark's own status store (jobs, stages,
  task time, I/O and shuffle bytes) for the jobs an operation started.
- :func:`plan_stats` counts nodes and exchanges in an executed plan.
"""

from __future__ import annotations

import functools
import inspect
import json
import re
import sys
import threading
import time
from collections import defaultdict

from benchstats import driver_gap

PKG = "gh_archive_clickhouse_spark"

# Modules whose public functions get spans, with any private function
# also worth one (the epoch fold behind every streaming sink batch).
TRACED_MODULES = (
    ("sources.gharchive", ()),
    ("sources.ndjson", ()),
    ("sources.sinks", ()),
    ("plans.common", ()),
    ("operators.dedup", ()),
    ("operators.similarity", ()),
    ("operators.text_analysis", ()),
    ("operators.packing", ()),
    ("streaming.dedup_stream", ("_compact_old_epochs",)),
)


class Tracer:
    """Spans of wrapped package functions, recorded while ``enabled``."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.enabled = False
        self.op: str | None = None
        self._local = threading.local()
        self._lock = threading.Lock()

    def wrap(self, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            stack = tracer._local.__dict__.setdefault("stack", [])
            rec = {
                "name": name,
                "start": time.perf_counter(),
                "end": None,
                "parent": stack[-1] if stack else None,
                "op": tracer.op,
            }
            with tracer._lock:
                tracer.spans.append(rec)
                idx = len(tracer.spans) - 1
            stack.append(idx)
            try:
                return fn(*args, **kwargs)
            finally:
                stack.pop()
                rec["end"] = time.perf_counter()

        return traced

    def install(self) -> None:
        """Wrap every public function of :data:`TRACED_MODULES` and
        rebind it in every loaded package module that holds it."""
        import importlib

        for rel, _ in TRACED_MODULES:
            importlib.import_module(f"{PKG}.{rel}")
        importlib.import_module(f"{PKG}.plans.registry")
        loaded = [
            m for name, m in list(sys.modules.items())
            if m is not None and name.startswith(PKG)
        ]
        for rel, extra in TRACED_MODULES:
            mod = sys.modules[f"{PKG}.{rel}"]
            for attr, obj in list(vars(mod).items()):
                if not inspect.isfunction(obj) or obj.__module__ != mod.__name__:
                    continue
                if attr.startswith("_") and attr not in extra:
                    continue
                wrapped = self.wrap(f"{rel}.{attr}", obj)
                for m in loaded:
                    if getattr(m, attr, None) is obj:
                        setattr(m, attr, wrapped)

    def self_times(self) -> dict[str, dict[str, float]]:
        """name -> {calls, s (total), self_s}."""
        child = defaultdict(float)
        spans = self.spans
        for s in spans:
            if s["end"] is not None and s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, dict[str, float]] = defaultdict(
            lambda: {"calls": 0, "s": 0.0, "self_s": 0.0}
        )
        for i, s in enumerate(spans):
            if s["end"] is None:
                continue
            d = s["end"] - s["start"]
            rec = out[s["name"]]
            rec["calls"] += 1
            rec["s"] += d
            rec["self_s"] += d - child[i]
        return dict(out)

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


class SparkCounters:
    """Per-operation counters from Spark's status store."""

    FIELDS = (
        "jobs",
        "stages",
        "tasks",
        "task_s",
        "driver_gap_s",
        "shuffle_bytes",
        "spill_bytes",
        "input_bytes",
        "output_bytes",
    )

    def __init__(self, spark) -> None:
        jsc = spark.sparkContext._jsc.sc()
        self.store = jsc.statusStore()
        self.bus = jsc.listenerBus()
        self.last = -1
        self.skip()

    def _new_jobs(self) -> list[int]:
        """Ids of the jobs started since the last call, streaming and
        job-group jobs included (the store lists newest first)."""
        self.bus.waitUntilEmpty()
        jobs = self.store.jobsList(None)
        new = []
        for i in range(jobs.size()):
            j = jobs.apply(i).jobId()
            if j <= self.last:
                break
            new.append(j)
        if new:
            self.last = max(new)
        return sorted(new)

    def skip(self) -> None:
        """Forget the jobs started since the last call."""
        self._new_jobs()

    def collect(self, wall: tuple[float, float], wall_epoch0: float) -> dict:
        """Counters for the jobs started since the last call. ``wall`` is
        the operation's perf_counter interval and ``wall_epoch0`` the
        epoch time at its start, used to align job timestamps."""
        new = self._new_jobs()
        out = dict.fromkeys(self.FIELDS, 0)
        out["jobs"] = len(new)
        intervals = []
        offset = wall[0] - wall_epoch0
        stages_seen: set[int] = set()
        for j in new:
            jd = self.store.job(j)
            s, e = _opt_ms(jd.submissionTime()), _opt_ms(jd.completionTime())
            if s is not None and e is not None:
                intervals.append((s + offset, e + offset))
            sids = jd.stageIds()
            for i in range(sids.size()):
                sid = sids.apply(i)
                if sid in stages_seen:
                    continue
                stages_seen.add(sid)
                sd = self.store.lastStageAttempt(sid)
                if sd.status().toString() != "COMPLETE":
                    continue
                out["stages"] += 1
                out["tasks"] += sd.numCompleteTasks()
                out["task_s"] += sd.executorRunTime() / 1000.0
                out["shuffle_bytes"] += sd.shuffleReadBytes() + sd.shuffleWriteBytes()
                out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                out["input_bytes"] += sd.inputBytes()
                out["output_bytes"] += sd.outputBytes()
        out["driver_gap_s"] = driver_gap(wall, intervals)
        return out


_EXCHANGE = re.compile(r"^[\s:|+\-*()\d]*(Exchange|BroadcastExchange|ReusedExchange)\b")


def plan_stats(df) -> dict[str, int]:
    """Node and exchange counts of ``df``'s executed plan (the final
    adaptive plan once the action ran)."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.executedPlan()
    lines = [ln for ln in plan.treeString().splitlines() if ln.strip()]
    return {
        "plan_nodes": len(lines),
        "exchanges": sum(1 for ln in lines if _EXCHANGE.match(ln)),
    }
