"""Span recorder and per-layer counters for traced runs.

Spans are recorded from the benchmark's own files: ``install`` wraps each
layer's public functions in place, in every module of the package that
bound them, so no program file is edited. Spans stay in memory and are
written out once, when the run ends.

Spark is lazy: a wrapped operator's span covers plan construction only.
Its execution lands in the ``session.fetch`` or ``sources.sinks.write``
span that follows it, and the workloads place those boundaries so the
attribution is exact.
"""

from __future__ import annotations

import functools
import importlib
import json
import os
import sys
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

PACKAGE = "adb_south_caucasus_etl_spark"

#: span name → (module under PACKAGE, attribute path) of each wrapped call
LAYER_FUNCTIONS = {
    "session.start": ("session", "get_spark"),
    "sources.registry.load_table": ("sources.registry", "load_table"),
    "sources.registry.invalidate": ("sources.registry", "invalidate_table_cache"),
    "sources.sinks.write": ("sources.sinks", "write_parquet"),
    "plans.client.get_data": ("plans.client", "CubeClient.get_data"),
    "plans.client.get_members": ("plans.client", "CubeClient.get_members"),
    "plans.cube.compile": ("plans.cube", "compile_query"),
    "plans.cube.members": ("plans.cube", "members"),
    "plans.rollup.materialize": ("plans.rollup", "materialize_rollup"),
    "plans.rollup.refresh": ("plans.rollup", "refresh_rollup_partitions"),
    "plans.rollup.drilldown": ("plans.rollup", "rollup_drilldown"),
    "streaming.wrappers.read": ("streaming.wrappers", "read_events_stream"),
    "streaming.wrappers.tumbling": ("streaming.wrappers", "tumbling_counts_stream"),
    "streaming.wrappers.drain": ("streaming.wrappers", "stream_to_parquet_refresh"),
    "functions.text.profile": ("functions.text", "text_profile"),
    "operators.dedup.exact": ("operators.dedup", "dedup_exact"),
    "operators.dedup.span": ("operators.dedup", "span_corpus_dedup"),
    "operators.dedup.lsh_pairs": ("operators.dedup", "lsh_candidate_pairs"),
    "operators.dedup.components": ("operators.dedup", "connected_components"),
    "operators.curation.decontaminate": ("operators.curation", "decontaminate"),
    "operators.similarity.ivf_pq_topk": ("operators.similarity", "ivf_pq_topk"),
}


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    request: str | None


class Recorder:
    """In-memory span store. Spans nest by call order (one client thread);
    ``enabled`` switches recording without unwrapping, so a traced run can
    interleave traced and untraced operations."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.enabled = False
        self.request: str | None = None
        self._stack: list[int] = []
        #: (session id, sf_dir, table) → last handle returned by load_table
        self._handles: dict[tuple, object] = {}
        self.handle_calls = 0
        self.handle_hits = 0

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self.request))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name):
                out = fn(*args, **kwargs)
            if self.enabled and name == "sources.registry.load_table":
                self._count_handle(args, kwargs, out)
            return out

        wrapper.__wrapped_by_perfbench__ = fn
        return wrapper

    def _count_handle(self, args, kwargs, out) -> None:
        spark, sf_dir, table = (list(args) + [None] * 3)[:3]
        spark = kwargs.get("spark", spark)
        key = (id(spark), kwargs.get("sf_dir", sf_dir), kwargs.get("name", table))
        self.handle_calls += 1
        if self._handles.get(key) is out:
            self.handle_hits += 1
        self._handles[key] = out

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        selfs = self_times(self.spans)
        with open(path, "w") as f:
            json.dump(
                {
                    **extra,
                    "spans": [
                        {**asdict(s), "self": st} for s, st in zip(self.spans, selfs)
                    ],
                },
                f,
            )


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of its interval that its direct
    children cover (children clipped to the parent, overlaps merged)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = []
    for i, s in enumerate(spans):
        covered, cur_s, cur_e = 0.0, None, None
        for c in sorted(children.get(i, ()), key=lambda c: c.start):
            a, b = max(c.start, s.start), min(c.end, s.end)
            if b <= a:
                continue
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        out.append((s.end - s.start) - covered)
    return out


def mean_self_times(spans: list[Span], requests: set[str]) -> dict[str, float]:
    """Per span name: its self time summed per operation in ``requests``,
    averaged over those operations."""
    sums: dict[str, float] = {}
    for s, st in zip(spans, self_times(spans)):
        if s.request in requests:
            sums[s.name] = sums.get(s.name, 0.0) + st
    return {k: v / max(1, len(requests)) for k, v in sums.items()}


def install(recorder: Recorder) -> list[tuple[object, str, object]]:
    """Wrap every ``LAYER_FUNCTIONS`` entry wherever the package bound it.
    Returns the undo list for ``uninstall``."""
    undo = []
    for name, (mod_name, attr) in LAYER_FUNCTIONS.items():
        mod = importlib.import_module(f"{PACKAGE}.{mod_name}")
        if "." in attr:  # a method: patch the class attribute
            cls_name, meth = attr.split(".")
            cls = getattr(mod, cls_name)
            orig = cls.__dict__[meth]
            undo.append((cls, meth, orig))
            setattr(cls, meth, recorder.wrap(name, orig))
            continue
        orig = getattr(mod, attr)
        wrapped = recorder.wrap(name, orig)
        for m in list(sys.modules.values()):
            if getattr(m, "__name__", "").startswith(PACKAGE) and (
                m.__dict__.get(attr) is orig
            ):
                undo.append((m, attr, orig))
                setattr(m, attr, wrapped)
    return undo


def uninstall(undo: list[tuple[object, str, object]]) -> None:
    for owner, attr, orig in reversed(undo):
        setattr(owner, attr, orig)


def dir_stats(path: str) -> tuple[int, int]:
    """(data bytes, data files) under ``path``, skipping Spark's markers
    and checksum files."""
    total = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.startswith(("_", ".")):
                continue
            total += os.path.getsize(os.path.join(root, n))
            files += 1
    return total, files


class JobCounter:
    """Exact Spark job and task counts per request via job groups read
    back from the StatusTracker once the listener bus has drained."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()

    def begin(self, request: str) -> None:
        self.sc.setJobGroup(request, request)

    def end(self, request: str) -> tuple[int, int]:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = self.tracker.getJobIdsForGroup(request)
        tasks = 0
        for j in jobs:
            info = self.tracker.getJobInfo(j)
            for s in info.stageIds if info else ():
                stage = self.tracker.getStageInfo(s)
                tasks += stage.numTasks if stage else 0
        return len(jobs), tasks


def stream_listener(spark, sink: list):
    """A ``StreamingQueryListener`` that appends each micro-batch's
    (input rows, state rows) to ``sink`` while ``sink`` is being used."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Progress(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            state = sum(op.numRowsTotal for op in p.stateOperators)
            sink.append((p.numInputRows, state))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    listener = _Progress()
    spark.streams.addListener(listener)
    return listener
