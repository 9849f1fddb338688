"""Spans, job groups and per-layer cost attribution for one run.

A span is one call into a layer, timed from the benchmark's side:

* ``build`` spans time the public call itself (plan building, plus any
  action the function runs on its own);
* ``exec`` spans time the action that consumes the returned result.

Spans are kept in memory and written once when the run ends. Each has a
name ``<workload>/<op>/<layer>.<function>``, start and end, its parent
span and the id of the operation it belongs to. Self time is a span's
duration minus the part of it that its child spans cover.

With tracing on, every span also sets a Spark job group, the Spark UI is
enabled, and at the end the UI's REST API (the same endpoints
``tools/job_probe.py`` reads) gives each job's stages, tasks, executor
run time and shuffle bytes, which are attributed to the span whose group
launched the job. Jobs launched on a thread with no group of ours (for
example a streaming query's micro-batch jobs) go to the innermost span
open when the job was submitted.

With tracing off the tracer only times operations; no job group is set
and nothing is wrapped, so the end-to-end numbers carry no tracing cost.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import statistics
import time
import urllib.request
from datetime import datetime, timezone

#: The engine modules the benchmark reports as layers.
LAYERS = [
    "sources", "report", "describe", "introduce", "validate", "geo",
    "grouped", "incremental", "text", "pii", "dedup", "components",
    "similarity", "multimodal", "streaming",
]
LAYER_METRICS = ["calls", "build_s", "exec_s", "jobs", "tasks", "task_s",
                 "shuffle_mb"]

#: Engine functions that other engine functions call, wrapped in the
#: traced run only so their time shows under their own layer:
#: (module, attribute, layer). Wrapping a module attribute reaches every
#: caller that looks the name up at call time (a module global, or a
#: function-local import); nothing in the engine's files changes.
NESTED = [
    ("petk_spark.report", "describe_frame", "describe"),
    ("petk_spark.report", "introduce_frame", "introduce"),
    ("petk_spark.report", "validate_frame", "validate"),
    ("petk_spark.report", "verbose_violations", "validate"),
    ("petk_spark.geo.rules", "fused_geo_part", "geo"),
    ("petk_spark.operators.components", "connected_components", "components"),
    ("petk_spark.operators.incremental", "partial_profile", "incremental"),
    ("petk_spark.streaming.profile", "compact_store", "streaming"),
    ("petk_spark.operators.dedup", "filter_previously_seen", "dedup"),
    ("petk_spark.operators.dedup", "append_seen", "dedup"),
    ("petk_spark.operators.dedup", "maybe_compact_seen_store", "dedup"),
    ("petk_spark.operators.text", "fingerprint", "text"),
]


class Tracer:
    def __init__(self, spark, workload: str, enabled: bool):
        self.spark = spark
        self.workload = workload
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._op: dict | None = None
        self._next_id = 0
        self._next_op = 0
        self._unwrap: list = []
        #: measured pass the current spans belong to; None during set-up
        self.pass_no: int | None = None
        #: CPU seconds used so far by this process and the Spark JVM tree
        self.cpu_clock = lambda: 0.0
        #: the engine-free reference job (see run.reference_job), timed
        #: before each operation of a measured pass and after its last
        self.reference = None
        #: op name -> wall / CPU seconds of each occurrence in a measured pass
        self.op_times: dict[str, list[float]] = {}
        self.op_cpu: dict[str, list[float]] = {}
        #: measured pass -> wall and CPU seconds of its operations in
        #: order, and the reference times around them
        self.pass_walls: dict[int, list[float]] = {}
        self.pass_cpus: dict[int, list[float]] = {}
        self.pass_refs: dict[int, list[float]] = {}

    def time_reference(self) -> None:
        """Run the reference job twice and keep the faster time, so that a
        stall left over from the operation before (a GC, the listener bus
        catching up) lands in the first run, not in the unit."""
        runs = []
        for _ in range(2):
            t0 = time.perf_counter()
            self.reference()
            runs.append(time.perf_counter() - t0)
        self.pass_refs.setdefault(self.pass_no, []).append(min(runs))

    # -- spans ---------------------------------------------------------------
    @contextlib.contextmanager
    def op(self, name: str):
        """One user-visible operation. In every measured pass, traced or
        not, the reference job runs first, then the operation's wall and
        CPU time are recorded."""
        if self.pass_no and self.reference:
            self.time_reference()
        self._next_op += 1
        self._op = {"name": name, "id": self._next_op}
        c0, t0 = self.cpu_clock(), time.perf_counter()
        try:
            with self._span(name, "op", "op"):
                yield
        finally:
            t1, c1 = time.perf_counter(), self.cpu_clock()
            if self.pass_no:
                self.op_times.setdefault(name, []).append(t1 - t0)
                self.op_cpu.setdefault(name, []).append(c1 - c0)
                self.pass_walls.setdefault(self.pass_no, []).append(t1 - t0)
                self.pass_cpus.setdefault(self.pass_no, []).append(c1 - c0)
            self._op = None

    def call(self, layer: str, fn_name: str, fn, *args, **kwargs):
        """A public call into ``layer`` (a build span)."""
        with self._span(fn_name, layer, "build"):
            return fn(*args, **kwargs)

    def consume(self, layer: str, fn_name: str, action, *args):
        """The action that consumes a result ``layer`` returned."""
        with self._span(fn_name, layer, "exec"):
            return action(*args)

    @contextlib.contextmanager
    def _span(self, fn_name: str, layer: str, phase: str):
        if not self.enabled:
            yield
            return
        self._next_id += 1
        op = self._op or {"name": "setup", "id": 0}
        parent = self._stack[-1] if self._stack else None
        label = fn_name if phase == "op" else f"{layer}.{fn_name}"
        span = {
            "id": self._next_id,
            "name": f"{self.workload}/{op['name']}/{label}",
            "layer": layer,
            "phase": phase,
            "op": op["name"],
            "op_id": op["id"],
            "pass": self.pass_no,
            "parent": parent["id"] if parent else None,
            "start": time.time(),
            "end": None,
        }
        sc = self.spark.sparkContext
        prev = parent["group"] if parent else None
        span["group"] = f"bench-{span['id']}"
        sc.setJobGroup(span["group"], span["name"])
        self._stack.append(span)
        try:
            yield
        finally:
            span["end"] = time.time()
            self._stack.pop()
            self.spans.append(span)
            if prev is None:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            else:
                sc.setJobGroup(prev, parent["name"])

    # -- nested engine calls ---------------------------------------------------
    def wrap_engine(self) -> None:
        """Time the NESTED engine functions under their own layer."""
        if not self.enabled:
            return
        for mod_name, attr, layer in NESTED:
            mod = importlib.import_module(mod_name)
            orig = getattr(mod, attr)

            def wrapped(*a, __orig=orig, __layer=layer, __attr=attr, **kw):
                with self._span(__attr, __layer, "build"):
                    return __orig(*a, **kw)

            functools.update_wrapper(wrapped, orig)
            setattr(mod, attr, wrapped)
            self._unwrap.append((mod, attr, orig))

    def unwrap_engine(self) -> None:
        for mod, attr, orig in reversed(self._unwrap):
            setattr(mod, attr, orig)
        self._unwrap.clear()

    # -- job attribution -------------------------------------------------------
    def collect_jobs(self) -> list[dict]:
        """Every job of the run from the UI's REST API, each tagged with
        the span it is attributed to and its stage totals."""
        sc = self.spark.sparkContext
        base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        deadline = time.time() + 30
        while True:  # the UI store is fed asynchronously; wait for it
            jobs = _get(f"{base}/jobs")
            if all(j["status"] != "RUNNING" for j in jobs) or time.time() > deadline:
                break
            time.sleep(0.2)
        time.sleep(0.5)
        jobs = _get(f"{base}/jobs")
        stages = {s["stageId"]: s for s in _get(f"{base}/stages")
                  if s.get("status") in ("COMPLETE", "FAILED")}
        by_group = {s["group"]: s for s in self.spans}
        leaves = sorted(self.spans, key=lambda s: s["end"] - s["start"])
        claimed: set[int] = set()
        out = []
        for j in sorted(jobs, key=lambda j: j["jobId"]):
            span = by_group.get(j.get("jobGroup"))
            if span is None:
                t = _ts(j.get("submissionTime"))
                span = next((s for s in leaves
                             if t is not None and s["start"] <= t <= s["end"]),
                            None)
            own = [stages[i] for i in j["stageIds"]
                   if i in stages and i not in claimed]
            claimed.update(s["stageId"] for s in own)
            out.append({
                "job": j["jobId"],
                "span": span["id"] if span else None,
                "tasks": sum(s.get("numCompleteTasks", 0) for s in own),
                "task_s": sum(s.get("executorRunTime", 0) for s in own) / 1e3,
                "shuffle_b": sum(s.get("shuffleReadBytes", 0)
                                 + s.get("shuffleWriteBytes", 0) for s in own),
                "input_b": sum(s.get("inputBytes", 0) for s in own),
                "output_b": sum(s.get("outputBytes", 0) for s in own),
            })
        return out


def _get(url: str):
    with urllib.request.urlopen(url, timeout=10) as r:
        return json.loads(r.read())


def _ts(text: str | None) -> float | None:
    if not text:
        return None
    return datetime.strptime(text, "%Y-%m-%dT%H:%M:%S.%f%Z").replace(
        tzinfo=timezone.utc).timestamp()


def ref_ratio(walls: list[float], refs: list[float]) -> float:
    """A pass's wall time in units of the reference job. ``refs[i]`` ran
    just before operation ``i`` and ``refs[-1]`` after the last one. Each
    operation is divided by the median of the up to four reference
    times nearest to it, so that a host that slows down in the middle of
    a pass is followed, and one stray reference time is not."""
    return sum(t / statistics.median(refs[max(0, i - 1):i + 3])
               for i, t in enumerate(walls))


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the union of its children's intervals."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered, lo, hi = 0.0, None, None
        for a, b in sorted(kids.get(s["id"], [])):
            if hi is not None and a <= hi:
                hi = max(hi, b)
                continue
            if hi is not None:
                covered += hi - lo
            lo, hi = a, b
        if hi is not None:
            covered += hi - lo
        out[s["id"]] = max(0.0, (s["end"] - s["start"]) - covered)
    return out


def costs(spans: list[dict], jobs: list[dict], passes: int, key) -> dict:
    """Per-pass totals of the seven metrics, grouped by ``key(span)``,
    over the spans of the measured passes. A build span counts as a call
    unless its parent has the same key (a nested call of one layer)."""
    selft = self_times(spans)
    by_id = {s["id"]: s for s in spans}
    out: dict = {}

    def bucket(s):
        return out.setdefault(key(s), {m: 0.0 for m in LAYER_METRICS})

    for s in spans:
        if not s["pass"]:
            continue
        b = bucket(s)
        parent = by_id.get(s["parent"])
        if s["phase"] == "build" and (parent is None or key(parent) != key(s)):
            b["calls"] += 1
        if s["phase"] != "op":
            b[f"{s['phase']}_s"] += selft[s["id"]]
    for j in jobs:
        s = by_id.get(j["span"])
        if s is None or not s["pass"]:
            continue
        b = bucket(s)
        b["jobs"] += 1
        b["tasks"] += j["tasks"]
        b["task_s"] += j["task_s"]
        b["shuffle_mb"] += j["shuffle_b"] / 1e6
    return {k: {m: v / passes for m, v in ms.items()} for k, ms in out.items()}


def layer_metrics(spans: list[dict], jobs: list[dict], passes: int) -> dict:
    """``<layer>.<metric>`` for every layer, 0 for a layer not called."""
    by_layer = costs(spans, jobs, passes, lambda s: s["layer"])
    return {f"{l}.{m}": by_layer.get(l, {}).get(m, 0.0)
            for l in LAYERS for m in LAYER_METRICS}
