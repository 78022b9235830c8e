"""Per-layer tracing for perfbench, kept entirely outside the program.

- :class:`Tracer` keeps spans in memory (name, layer, start, end, parent,
  step id) and computes per-layer self time.
- :func:`install` wraps the public entry points of each layer (class
  methods, and module functions wherever a ``feathub_spark`` module has
  bound them) so that every call records a span; it returns an undo.
  The streaming layer's entry points are PySpark's ``StreamingQuery``
  calls the program hands back from ``materialize_stream``.
- :class:`SparkCounters` reads job, stage and task totals from the
  SparkContext status store (which works with the UI off) and attributes
  them to a span by the range of job ids launched while it was open.
"""

from __future__ import annotations

import contextlib
import functools
import statistics
import sys
import time
from typing import Callable, Dict, List, Optional, Tuple

# layer -> [(owner, attribute, span name, count Spark jobs)]
# owner is "module:Class" for methods or "module" for functions
LAYER_CALLS = {
    "registries": [
        ("feathub_spark.registries.registry:LocalRegistry", "build_features",
         "registries.build_features", False),
    ],
    "processors": [
        ("feathub_spark.processors.spark.spark_processor:FeathubClient", "get_features",
         "processors.get_features", False),
        ("feathub_spark.processors.spark.spark_processor:SparkProcessor", "get_table",
         "processors.get_table", True),
        ("feathub_spark.processors.spark.spark_processor:SparkProcessor", "materialize_stream",
         "processors.materialize_stream", False),
    ],
    "table": [
        ("feathub_spark.table.table:Table", "execute_insert", "table.write", True),
    ],
    "datapipe": [
        ("feathub_spark.datapipe.text", "normalize_text", "datapipe.normalize_text", True),
        ("feathub_spark.datapipe.text", "analyze_documents", "datapipe.analyze_documents", True),
        ("feathub_spark.datapipe.dedup", "ngram_jaccard_pairs", "datapipe.ngram_jaccard_pairs", True),
        ("feathub_spark.datapipe.dedup", "select_survivors", "datapipe.select_survivors", True),
    ],
    "caching": [
        ("feathub_spark.common.caching", "register_cache", "caching.register_cache", False),
        ("feathub_spark.common.caching", "track_checkpoint", "caching.track_checkpoint", False),
        ("feathub_spark.common.caching", "free_checkpoint", "caching.free_checkpoint", False),
        ("feathub_spark.common.caching", "release_caches", "caching.release", False),
    ],
    "online_stores": [
        ("feathub_spark.online_stores.memory_online_store:MemoryOnlineStore", "get",
         "online_stores.get", False),
        ("feathub_spark.online_stores.memory_online_store:MemoryOnlineStore", "put",
         "online_stores.put", False),
    ],
    "feature_service": [
        ("feathub_spark.feature_service.local_feature_service:LocalFeatureService",
         "get_online_features", "feature_service.get_online_features", False),
    ],
    # the stateful operators run inside the query; the drain is the call
    # that waits for them (their per-batch figures come from recentProgress)
    "streaming": [
        ("pyspark.sql.streaming.query:StreamingQuery", "processAllAvailable",
         "streaming.drain", True),
        ("pyspark.sql.streaming.query:StreamingQuery", "stop", "streaming.stop", False),
    ],
}
LAYERS = list(LAYER_CALLS)


class Span:
    __slots__ = ("name", "layer", "start", "end", "parent", "step", "timed", "jobs")

    def __init__(self, name, layer, start, parent, step, timed):
        self.name, self.layer, self.start = name, layer, start
        self.end: Optional[float] = None
        self.parent, self.step, self.timed = parent, step, timed
        self.jobs: Optional[Tuple[int, int]] = None

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0

    def to_json(self) -> dict:
        return {"name": self.name, "start": self.start, "end": self.end,
                "parent": self.parent, "step": self.step, "timed": self.timed,
                "jobs": self.jobs}


class Tracer:
    def __init__(self, counters: "SparkCounters" = None) -> None:
        self.spans: List[Span] = []
        self.stack: List[int] = []
        self.step: int = -1
        self.timed = True  # False while a step's untimed clean-up runs
        self.counters = counters

    @contextlib.contextmanager
    def span(self, name: str, count_jobs: bool = False):
        layer = name.split(".", 1)[0]
        parent = self.stack[-1] if self.stack else None
        first_job = self.counters.last_job_id() if count_jobs and self.counters else None
        s = Span(name, layer, time.perf_counter(), parent, self.step, self.timed)
        self.spans.append(s)
        self.stack.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self.stack.pop()
            if first_job is not None:
                s.jobs = (first_job, self.counters.last_job_id())

    def step_spans(self, step: int) -> List[Span]:
        """The spans of one step's timed part."""
        return [s for s in self.spans if s.step == step and s.timed]

    def self_ms(self, step: int) -> Dict[str, float]:
        """Per-layer self time of one step's timed part: each span's
        duration minus the time its direct children cover."""
        spans = self.step_spans(step)
        index = {id(s): i for i, s in enumerate(self.spans)}
        child_ms: Dict[int, float] = {}
        for s in spans:
            if s.parent is not None:
                child_ms[s.parent] = child_ms.get(s.parent, 0.0) + s.ms
        out = {layer: 0.0 for layer in LAYERS}
        for s in spans:
            out[s.layer] += s.ms - child_ms.get(index[id(s)], 0.0)
        return out

    def top_level_ms(self, step: int) -> float:
        return sum(s.ms for s in self.step_spans(step) if s.parent is None)


def _resolve(owner: str):
    mod_name, _, cls = owner.partition(":")
    __import__(mod_name)
    mod = sys.modules[mod_name]
    return getattr(mod, cls) if cls else mod


def install(tracer: Tracer, on_enter: Dict[str, Callable[[], None]] = None) -> Callable[[], None]:
    """Wrap every entry point in :data:`LAYER_CALLS`; returns the undo.
    ``on_enter[span name]`` runs just before the wrapped call."""
    undo: List[Tuple[object, str, object]] = []
    on_enter = on_enter or {}

    def wrap(fn, name, count_jobs):
        hook = on_enter.get(name)

        @functools.wraps(fn)
        def traced(*a, **kw):
            if hook is not None:
                hook()
            with tracer.span(name, count_jobs):
                return fn(*a, **kw)
        return traced

    for calls in LAYER_CALLS.values():
        for owner, attr, name, count_jobs in calls:
            target = _resolve(owner)
            original = target.__dict__[attr] if isinstance(target, type) else getattr(target, attr)
            traced = wrap(original, name, count_jobs)
            holders = [target]
            if not isinstance(target, type):
                # module functions: also every feathub_spark module that
                # bound the same function object by name at import time
                holders += [
                    m for n, m in list(sys.modules.items())
                    if n.startswith("feathub_spark") and m is not target
                    and getattr(m, attr, None) is original
                ]
            for h in holders:
                undo.append((h, attr, original))
                setattr(h, attr, traced)

    def uninstall():
        for h, attr, original in reversed(undo):
            setattr(h, attr, original)

    return uninstall


class SparkCounters:
    """Spark-side counters read from the status store, per job-id range."""

    def __init__(self, spark, cores: int) -> None:
        sc = spark.sparkContext
        self.jsc = sc._jsc.sc()
        self.store = self.jsc.statusStore()
        self.cores = cores
        gw = sc._gateway
        self.quantiles = gw.new_array(gw.jvm.double, 2)
        self.quantiles[0], self.quantiles[1] = 0.5, 1.0

    def last_job_id(self) -> int:
        self.jsc.listenerBus().waitUntilEmpty()
        jobs = self.store.jobsList(None)
        return -1 if jobs.isEmpty() else jobs.head().jobId()

    def totals(self, jobs: Tuple[int, int], wall_ms: float) -> Dict[str, float]:
        """Totals over the jobs with id in (first, last]."""
        first, last = jobs
        t = dict.fromkeys(
            ["jobs", "stages", "tasks", "executor_run_ms", "executor_cpu_ms", "gc_ms",
             "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "max_task_ms"], 0.0)
        longest = None  # (run ms, stage id, attempt)
        seen = set()
        for job_id in range(first + 1, last + 1):
            t["jobs"] += 1
            it = self.store.job(job_id).stageIds().iterator()
            while it.hasNext():
                sid = it.next()
                if sid in seen:
                    continue
                seen.add(sid)
                sd = self.store.lastStageAttempt(sid)
                if sd.status().toString() == "SKIPPED":
                    continue
                run = sd.executorRunTime()
                t["stages"] += 1
                t["tasks"] += sd.numCompleteTasks()
                t["executor_run_ms"] += run
                t["executor_cpu_ms"] += sd.executorCpuTime() / 1e6
                t["gc_ms"] += sd.jvmGcTime()
                t["shuffle_read_bytes"] += sd.shuffleReadBytes()
                t["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                t["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                summary = self._task_run_quantiles(sid, sd.attemptId())
                if summary is not None:
                    t["max_task_ms"] = max(t["max_task_ms"], summary[1])
                if longest is None or run > longest[0]:
                    longest = (run, summary)
        skew = 0.0
        if longest is not None and longest[1] is not None:
            med, mx = longest[1]
            skew = mx / max(med, 1.0)
        t["task_skew"] = skew
        t["core_busy_frac"] = t["executor_run_ms"] / max(wall_ms * self.cores, 1e-9)
        t["cpu_frac"] = t["executor_cpu_ms"] / t["executor_run_ms"] if t["executor_run_ms"] else 0.0
        return t

    def _task_run_quantiles(self, stage_id: int, attempt: int):
        q = self.store.taskSummary(stage_id, attempt, self.quantiles)
        if not q.isDefined():
            return None
        rt = q.get().executorRunTime()
        return rt.apply(0), rt.apply(1)

    def storage(self) -> Tuple[int, int]:
        """(cached RDDs, cached bytes in memory and on disk)."""
        infos = self.jsc.getRDDStorageInfo()
        n = b = 0
        for info in infos:
            if info.numCachedPartitions() > 0:
                n += 1
                b += info.memSize() + info.diskSize()
        return n, b


def median(values, default=0.0) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else default
