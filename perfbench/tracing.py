"""Tracing for the per-layer run: in-memory spans around calls into each
layer's public functions, and Spark's monitoring REST API grouped by the
``stage:<name>`` job descriptions the pipeline sets.

Spans are recorded from the benchmark's side only: :class:`Tracer` swaps
the module attributes the engine calls through (e.g.
``spaczz_spark.plans.pipeline.verify_pairs``) for timing wrappers while it
is entered, and restores them on exit. Most layer functions build lazy
DataFrames, so a span measures the time the caller blocks in that layer
(eager checkpoints, writes, loops in Python), not the lazy plan's later
execution; the Spark side of the work is read from the REST API.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import itertools
import json
import re
import threading
import time
import urllib.parse
import urllib.request
from dataclasses import dataclass, field

# (module, attribute, layer). Functions are patched where the engine looks
# them up: the importing module's namespace, or the class for methods.
PATCH_POINTS = [
    ("spaczz_spark.plans.pipeline", "normalize", "functions.signatures"),
    ("spaczz_spark.plans.pipeline", "with_fused_signatures",
     "functions.signatures"),
    ("spaczz_spark.plans.pipeline", "minhash_candidates", "operators.lsh"),
    ("spaczz_spark.plans.pipeline", "simhash_candidates", "operators.lsh"),
    ("spaczz_spark.plans.pipeline", "substring_candidates",
     "operators.substring"),
    ("spaczz_spark.plans.pipeline", "verify_substring_pairs",
     "operators.substring"),
    ("spaczz_spark.plans.pipeline", "verify_pairs", "operators.verify"),
    ("spaczz_spark.plans.pipeline", "connected_components",
     "operators.components"),
    ("spaczz_spark.plans.pipeline", "attach_components",
     "operators.components"),
    ("spaczz_spark.plans.pipeline", "DedupPipeline.run", "plans.pipeline"),
    ("spaczz_spark.sources.catalog", "CheckpointCatalog.write",
     "sources.catalog"),
    ("spaczz_spark.streaming.incremental", "normalize",
     "functions.signatures"),
    ("spaczz_spark.streaming.incremental", "with_fused_signatures",
     "functions.signatures"),
    ("spaczz_spark.streaming.incremental", "minhash_candidates",
     "operators.lsh"),
    ("spaczz_spark.streaming.incremental", "verify_pairs", "operators.verify"),
    ("spaczz_spark.streaming.incremental", "IncrementalDedup.process_batch",
     "streaming.incremental"),
]

LAYERS = sorted({layer for _, _, layer in PATCH_POINTS})


@dataclass
class Span:
    span_id: int
    trace_id: str
    name: str
    layer: str
    parent: int | None
    start: float
    end: float = 0.0


@dataclass
class Tracer:
    """Records spans while entered. ``trace_id`` names the timed unit (one
    pipeline iteration or one micro-batch) the spans belong to; spans opened
    in pool threads have no parent span."""

    trace_id: str = ""
    spans: list[Span] = field(default_factory=list)
    # {"<module>.<attr>": callable}: called with the traced call's
    # arguments just before the call, in a span of layer "trace"
    hooks: dict = field(default_factory=dict)
    _ids: itertools.count = field(default_factory=itertools.count)
    _local: threading.local = field(default_factory=threading.local)
    _lock: threading.Lock = field(default_factory=threading.Lock)
    _saved: list = field(default_factory=list)

    @contextlib.contextmanager
    def _span(self, name: str, layer: str):
        stack = self._local.__dict__.setdefault("stack", [])
        span = Span(next(self._ids), self.trace_id, name, layer,
                    stack[-1].span_id if stack else None, time.perf_counter())
        stack.append(span)
        try:
            yield
        finally:
            span.end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(span)

    def _wrap(self, fn, qualname: str, name: str, layer: str):
        hook = self.hooks.get(qualname)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if hook is not None:
                # the probe's own span keeps its time out of every layer
                with self._span(f"probe:{name}", "trace"):
                    hook(*args, **kwargs)
            with self._span(name, layer):
                return fn(*args, **kwargs)

        return traced

    def __enter__(self) -> "Tracer":
        for module_name, attr, layer in PATCH_POINTS:
            owner = importlib.import_module(module_name)
            *path, leaf = attr.split(".")
            for part in path:
                owner = getattr(owner, part)
            fn = owner.__dict__[leaf]
            self._saved.append((owner, leaf, fn))
            setattr(owner, leaf,
                    self._wrap(fn, f"{module_name}.{attr}", attr, layer))
        return self

    def __exit__(self, *exc) -> None:
        while self._saved:
            owner, leaf, fn = self._saved.pop()
            setattr(owner, leaf, fn)

    def of(self, trace_id: str) -> list[Span]:
        return [s for s in self.spans if s.trace_id == trace_id]


def self_times(spans: list[Span]) -> dict[str, float]:
    """Per-layer self time: each span's duration minus the part of its
    interval covered by its child spans, summed per layer of ``LAYERS``
    (probe spans only count as children)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {layer: 0.0 for layer in LAYERS}
    for s in spans:
        covered, cursor = 0.0, s.start
        for c in sorted(children.get(s.span_id, []), key=lambda c: c.start):
            lo, hi = max(c.start, cursor), min(c.end, s.end)
            if hi > lo:
                covered += hi - lo
                cursor = hi
        if s.layer in out:
            out[s.layer] += (s.end - s.start) - covered
    return out


def span_seconds(spans: list[Span], name: str) -> float:
    return sum(s.end - s.start for s in spans if s.name == name)


# -- Spark monitoring REST API ------------------------------------------------

_SIZE_UNITS = {"B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3,
               "TiB": 1024**4}
_SIZE_RE = re.compile(r"([0-9][0-9.,]*)\s*(B|KiB|MiB|GiB|TiB)\b")


def parse_size(value: str) -> float:
    """Bytes of a SQL size metric as the UI formats it: either a bare
    ``"1295.2 KiB"`` or ``"total (min, med, max ...)\\n1295.2 KiB (...)"``,
    whose first figure after the newline is the total."""
    text = value.split("\n", 1)[-1]
    m = _SIZE_RE.search(text)
    if m is None:
        raise ValueError(f"not a size metric: {value!r}")
    return float(m.group(1).replace(",", "")) * _SIZE_UNITS[m.group(2)]


@dataclass
class LabelStats:
    jobs: int = 0
    tasks: int = 0
    task_s: float = 0.0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    python_bytes_in: float = 0.0
    python_bytes_out: float = 0.0
    task_skew: float = 0.0
    write_s: float = 0.0


class SparkRest:
    """Reads the local application's ``/api/v1`` endpoints (localhost)."""

    def __init__(self, spark):
        sc = spark.sparkContext
        if not sc.uiWebUrl:
            raise RuntimeError("the Spark UI is disabled; no REST API to read")
        # the UI listens on every interface; talk to it over loopback only
        port = urllib.parse.urlsplit(sc.uiWebUrl).port
        self.base = (f"http://localhost:{port}/api/v1/applications/"
                     f"{sc.applicationId}")
        self.tracker = sc.statusTracker()

    def get(self, path: str):
        with urllib.request.urlopen(f"{self.base}/{path}", timeout=30) as r:
            return json.load(r)

    def last_job_id(self) -> int:
        jobs = self.get("jobs")
        return max((j["jobId"] for j in jobs), default=-1)

    def _settled_jobs(self, after: int) -> list[dict]:
        """Jobs with id > ``after``, once the status store has caught up
        with the scheduler (the listener bus is asynchronous)."""
        deadline = time.monotonic() + 30
        while True:
            jobs = [j for j in self.get("jobs") if j["jobId"] > after]
            running = [j for j in jobs if j["status"] == "RUNNING"]
            if not running and not self.tracker.getActiveJobsIds():
                return jobs
            if time.monotonic() > deadline:
                raise RuntimeError(f"jobs still running: {running}")
            time.sleep(0.2)

    def collect(self, after: int) -> tuple[dict[str, LabelStats], list[dict]]:
        """Per job-description statistics of the jobs after job ``after``;
        also returns the jobs themselves."""
        jobs = self._settled_jobs(after)
        job_ids = {j["jobId"] for j in jobs}
        stage_label = {}
        out: dict[str, LabelStats] = {}
        for j in jobs:
            label = j.get("description") or ""
            out.setdefault(label, LabelStats()).jobs += 1
            for sid in j["stageIds"]:
                stage_label[sid] = label
        heaviest: dict[str, dict] = {}
        for st in self.get("stages"):
            label = stage_label.get(st["stageId"])
            if label is None or st["status"] != "COMPLETE":
                continue
            ls = out[label]
            ls.tasks += st["numCompleteTasks"]
            ls.task_s += st["executorRunTime"] / 1000.0
            ls.shuffle_bytes += st["shuffleWriteBytes"]
            ls.spill_bytes += st["memoryBytesSpilled"] + st["diskBytesSpilled"]
            if st["executorRunTime"] > heaviest.get(label, {}).get(
                "executorRunTime", -1
            ):
                heaviest[label] = st
        for label, st in heaviest.items():
            q = self.get(
                f"stages/{st['stageId']}/{st['attemptId']}/taskSummary"
                "?quantiles=0.5,1.0"
            )["executorRunTime"]
            out[label].task_skew = q[1] / q[0] if q[0] > 0 else 1.0
        for ex in self.get("sql?details=true&planDescription=false"
                           "&offset=0&length=100000"):
            ex_jobs = set(ex.get("successJobIds", [])) | set(
                ex.get("failedJobIds", []))
            if not ex_jobs & job_ids:
                continue
            label = ex.get("description") or ""
            ls = out.setdefault(label, LabelStats())
            for node in ex.get("nodes", []):
                metrics = {m["name"]: m["value"] for m in node["metrics"]}
                if "data sent to Python workers" in metrics:
                    ls.python_bytes_in += parse_size(
                        metrics["data sent to Python workers"])
                    ls.python_bytes_out += parse_size(metrics.get(
                        "data returned from Python workers", "0 B"))
                if node["nodeName"].startswith(
                    "Execute InsertIntoHadoopFsRelationCommand"
                ):
                    ls.write_s += ex["duration"] / 1000.0
        return out, jobs
