"""Measurement helpers: /proc RSS sampling, Spark REST totals, and the spans
of the traced run.

Spans are recorded from the benchmark's side only: `install_spans` rebinds
each layer's public entry point (in every `dedup.*` module that imported
it) to a wrapper that gives the call its own Spark job group. Jobs started
while a builder runs are therefore counted apart from the jobs of the write
that follows it. Spans stay in memory; REST stage and SQL totals are joined
to them through the job groups once, after the measured window.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import re
import sys
import threading
import time
import urllib.request
from pathlib import Path

# --- peak resident memory ---------------------------------------------------

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            stat = Path(f"/proc/{d}/stat").read_text()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def tree_rss_bytes(root_pid: int) -> int:
    """Resident bytes of `root_pid` and all its descendants (the driver JVM,
    the Python worker daemon and the workers it forked)."""
    kids = _children()
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        try:
            total += int(Path(f"/proc/{pid}/statm").read_text().split()[1]) \
                * _PAGE
        except OSError:
            pass
        todo.extend(kids.get(pid, ()))
    return total


class RssSampler:
    """Background sampler of tree_rss_bytes; `peak` is the max seen while
    started. stop() joins the thread."""

    def __init__(self, pid: int, interval: float = 0.2):
        self.pid, self.interval, self.peak = pid, interval, 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(self.pid))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_rss_bytes(self.pid))


# --- Spark monitoring REST API ----------------------------------------------

def rest(spark, path: str):
    sc = spark.sparkContext
    url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/{path}"
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.loads(r.read())


def gc_ms(spark) -> int:
    return sum(e.get("totalGCTime", 0) for e in rest(spark, "executors"))


_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
         "TiB": 1 << 40}
_VALUE_RE = re.compile(r"([\d.,]+)\s*(B|KiB|MiB|GiB|TiB)\b")


def _metric_bytes(value: str) -> float:
    """SQL UI metric text ('12.3 MiB' or 'total (min, med, max ...)\\n12.3
    MiB (...)') -> bytes of the total."""
    m = _VALUE_RE.search(value)
    return float(m.group(1).replace(",", "")) * _SIZE[m.group(2)] if m else 0.0


# SQL nodes at the Python boundary and the metric names they report
_PY_NODES = ("ArrowEvalPython", "MapInPandas", "MapInArrow",
             "FlatMapGroupsInPandas", "ArrowEvalPythonUDTF", "BatchEvalPython",
             "FlatMapGroupsInPandasWithState")


def _py_bytes(nodes) -> tuple[float, float]:
    sent = received = 0.0
    for n in nodes:
        if not n.get("nodeName", "").startswith(_PY_NODES):
            continue
        for m in n.get("metrics", ()):
            if m["name"] == "data sent to Python workers":
                sent += _metric_bytes(m["value"])
            elif m["name"] == "data returned from Python workers":
                received += _metric_bytes(m["value"])
    return sent, received


# --- spans ------------------------------------------------------------------

class Tracer:
    """In-memory spans with one Spark job group each."""

    _GROUP_KEYS = ("spark.jobGroup.id", "spark.job.description",
                   "spark.job.interruptOnCancel")

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._stack: list[int] = []
        self._lock = threading.Lock()

    def span(self, layer: str, name: str, kind: str, fn, *a, **kw):
        """Run fn(*a, **kw) inside a span; kind is build, action or outer."""
        sc = self.spark.sparkContext
        with self._lock:
            sid = next(self._ids)
            parent = self._stack[-1] if self._stack else None
            self._stack.append(sid)
        prev = {k: sc.getLocalProperty(k) for k in self._GROUP_KEYS}
        sc.setJobGroup(f"perfbench-{sid}", f"{layer}:{name}")
        t0 = time.monotonic()
        try:
            return fn(*a, **kw)
        finally:
            t1 = time.monotonic()
            for k, v in prev.items():
                sc.setLocalProperty(k, v)
            with self._lock:
                self._stack.remove(sid)
                self.spans.append({"id": sid, "parent": parent,
                                   "layer": layer, "name": name,
                                   "kind": kind, "start": t0, "end": t1})

    def wrap(self, layer: str, name: str, kind: str, fn):
        @functools.wraps(fn)
        def wrapper(*a, **kw):
            return self.span(layer, name, kind, fn, *a, **kw)
        return wrapper

    def attach_rest(self) -> None:
        """Join REST job, stage and SQL totals to the spans by job group."""
        by_group = {f"perfbench-{s['id']}": s for s in self.spans}
        for s in self.spans:
            s.update(jobs=0, tasks=0, executor_run_s=0.0, input_bytes=0,
                     shuffle_read_bytes=0, shuffle_write_bytes=0,
                     py_bytes_sent=0.0, py_bytes_received=0.0)
        stages = {}
        for st in rest(self.spark, "stages?status=complete"):
            sid = st["stageId"]
            if sid not in stages or st["attemptId"] > stages[sid]["attemptId"]:
                stages[sid] = st
        job_span = {}
        for job in rest(self.spark, "jobs"):
            span = by_group.get(job.get("jobGroup"))
            if span is None:
                continue
            job_span[job["jobId"]] = span
            span["jobs"] += 1
            for sid in job["stageIds"]:
                st = stages.get(sid)
                if st is None:      # skipped stage: its work ran earlier
                    continue
                span["tasks"] += st["numTasks"]
                span["executor_run_s"] += st["executorRunTime"] / 1000
                span["input_bytes"] += st["inputBytes"]
                span["shuffle_read_bytes"] += st["shuffleReadBytes"]
                span["shuffle_write_bytes"] += st["shuffleWriteBytes"]
        for ex in rest(self.spark, "sql?details=true&length=100000"):
            ids = (ex.get("successJobIds", []) + ex.get("failedJobIds", [])
                   + ex.get("runningJobIds", []))
            span = next((job_span[j] for j in ids if j in job_span), None)
            if span is not None:
                sent, received = _py_bytes(ex.get("nodes", ()))
                span["py_bytes_sent"] += sent
                span["py_bytes_received"] += received

    def self_times(self) -> dict[str, float]:
        """Per layer: span durations minus the part their children cover."""
        child = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = (child.get(s["parent"], 0.0)
                                      + s["end"] - s["start"])
        out: dict[str, float] = {}
        for s in self.spans:
            own = s["end"] - s["start"] - child.get(s["id"], 0.0)
            out[s["layer"]] = out.get(s["layer"], 0.0) + own
        return out

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps(self.spans, indent=1))


# layer, defining module, attribute, span kind
ENTRY_POINTS = (
    ("signature", "dedup.signature", "signatures_table", "build"),
    ("lsh", "dedup.lsh", "candidate_pairs", "build"),
    ("verify", "dedup.verify", "verify_pairs", "build"),
    ("cluster", "dedup.cluster", "assign_clusters", "build"),
    ("cluster", "dedup.cluster", "merge_assignments", "build"),
    ("kernel", "dedup.kernel", "dedupe_one", "build"),
    ("streaming", "dedup.streaming", "ingest_drop", "outer"),
)
# the pipeline stage table a Storage.write_table call materializes
WRITE_LAYER = {"signatures": "signature", "pairs": "lsh",
               "verified": "verify", "clusters": "cluster"}


def install_spans(tracer: Tracer) -> None:
    """Rebind every entry point wherever a dedup module holds a reference."""
    import importlib

    for mod in ("dedup.pipeline", "dedup.streaming", "dedup.kernel"):
        importlib.import_module(mod)
    mods = [m for n, m in list(sys.modules.items())
            if n == "dedup" or n.startswith("dedup.")]
    for layer, modname, attr, kind in ENTRY_POINTS:
        orig = getattr(sys.modules[modname], attr)
        wrapped = tracer.wrap(layer, attr, kind, orig)
        for m in mods:
            for k, v in list(vars(m).items()):
                if v is orig:
                    setattr(m, k, wrapped)

    from dedup.pipeline import DedupPipeline
    from dedup.storage import Storage
    run = DedupPipeline.run
    DedupPipeline.run = tracer.wrap("pipeline", "run", "outer", run)
    write = Storage.write_table

    @functools.wraps(write)
    def write_table(self, df, ref, *a, **kw):
        stage = str(ref).rstrip("/").rsplit("/", 1)[-1]
        return tracer.span(WRITE_LAYER.get(stage, "pipeline"),
                           f"write_table:{stage}", "action",
                           write, self, df, ref, *a, **kw)
    Storage.write_table = write_table


def streaming_listener(spark):
    """Register a StreamingQueryListener that keeps every progress event;
    returns the list it appends to."""
    from pyspark.sql.streaming import StreamingQueryListener

    events: list[dict] = []

    class Keep(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            events.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    spark.streams.addListener(Keep())
    return events
