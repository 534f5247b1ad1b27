"""Layer spans, Spark task metrics per layer, and process-tree memory.

The tracer works from outside the program: it replaces each layer's public
functions with a wrapper that opens a span, tags the Spark jobs it runs
with a job group of its own, forces the result to materialise at the layer
boundary (``localCheckpoint(eager=True)`` for a non-streaming DataFrame)
and closes the span.  Spans nest, so a layer's self time is its span minus
the spans it opened.  After the traced round, :func:`spark_layer_metrics`
reads task metrics from the Spark status REST API and charges every job to
the innermost span that owned it: by job group where the job carries one
of ours, else by submission time (streaming queries run their jobs under a
group of their own on another thread).
"""

from __future__ import annotations

import contextlib
import datetime
import functools
import json
import os
import threading
import time
import urllib.request
from typing import Callable, Dict, List

# layer -> [(module, attribute)] of the public calls the workloads make,
# directly or through ERPipeline, wrapped in a traced run
LAYER_CALLS = {
    "normalize": [("levsim.normalize", "with_normalized")],
    "blocking": [("levsim.blocking", "add_block_keys")],
    "candidates": [("levsim.candidates", "candidate_pairs")],
    "scoring": [("levsim.scoring", "attach_texts"), ("levsim.scoring", "score_pairs"),
                ("levsim.scoring", "score_pairs_cascade")],
    "clustering": [("levsim.clustering", "connected_components"),
                   ("levsim.incremental", "connected_components"),
                   ("levsim.clustering", "attach_clusters")],
    "consensus": [("levsim.consensus", "elect_representatives")],
    "tables": [("levsim.tables", "SnapshotTable.write")],
    "streaming": [("levsim.streaming", "run_incremental_pairs")],
    "incremental": [("levsim.incremental", "score_new_pairs"),
                    ("levsim.incremental", "refresh_clusters")],
}
LAYERS = list(LAYER_CALLS)
GROUP_PREFIX = "perfbench:"


class Tracer:
    """In-memory spans and counts for one benchmark process.

    ``active`` is False outside traced rounds: wrappers then call straight
    through, so untraced rounds in the same process run the program as is.
    """

    def __init__(self, spark, workload: str):
        self.spark = spark
        self.workload = workload
        self.active = False
        self.round = 0
        self.spans: List[dict] = []
        self.counts: Dict[str, float] = {}
        self._stack: List[int] = []
        self._undo: List[Callable[[], None]] = []

    # -- spans --------------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        """Record a span and tag the Spark jobs started inside it."""
        sc = self.spark.sparkContext
        s = {
            "id": len(self.spans),
            "name": name,
            "layer": layer,
            "start": time.time(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "workload": self.workload,
            "round": self.round,
        }
        saved = {k: sc.getLocalProperty(k) for k in _JOB_PROPS}
        self.spans.append(s)
        self._stack.append(s["id"])
        sc.setJobGroup(f"{GROUP_PREFIX}{s['id']}", f"{layer}: {name}")
        try:
            yield s
        finally:
            s["end"] = time.time()
            self._stack.pop()
            for k, v in saved.items():
                sc.setLocalProperty(k, v)

    # -- wrapping -----------------------------------------------------------
    def install(self) -> None:
        """Wrap every call listed in LAYER_CALLS (undone by uninstall)."""
        import importlib

        for layer, calls in LAYER_CALLS.items():
            for mod_name, attr in calls:
                owner = importlib.import_module(mod_name)
                *path, leaf = attr.split(".")
                for p in path:
                    owner = getattr(owner, p)
                orig = getattr(owner, leaf)
                setattr(owner, leaf, self._wrap(orig, f"{mod_name}.{attr}", layer))
                self._undo.append(functools.partial(setattr, owner, leaf, orig))

    def uninstall(self) -> None:
        while self._undo:
            self._undo.pop()()

    def _wrap(self, fn, name: str, layer: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.active:
                return fn(*args, **kwargs)
            with tracer.span(name, layer):
                out = fn(*args, **kwargs)
                return materialize(out)

        return wrapper

    # -- output -------------------------------------------------------------
    def layer_wall(self) -> Dict[str, float]:
        """Self seconds per layer over the recorded spans."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: Dict[str, float] = {}
        for s, c in zip(self.spans, child):
            out[s["layer"]] = out.get(s["layer"], 0.0) + (s["end"] - s["start"] - c)
        return out

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"workload": self.workload, "spans": self.spans,
                       "counts": self.counts, **extra}, f, indent=1)


_JOB_PROPS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")


def materialize(out):
    """Force a batch DataFrame to compute inside the current span."""
    from pyspark.sql import DataFrame

    if isinstance(out, DataFrame) and not out.isStreaming:
        return out.localCheckpoint(eager=True)
    return out


# ---------------------------------------------------------------------------
# Spark status REST API
# ---------------------------------------------------------------------------


def _rest(base: str, path: str):
    with urllib.request.urlopen(f"{base}/api/v1/{path}", timeout=30) as r:
        return json.loads(r.read().decode())


def _epoch(ts: str) -> float:
    """'2026-01-01T10:00:00.123GMT' -> epoch seconds."""
    return datetime.datetime.strptime(ts.replace("GMT", "+0000"),
                                      "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


def _rest_base(spark) -> str:
    port = spark.sparkContext.uiWebUrl.rsplit(":", 1)[1]
    return f"http://127.0.0.1:{port}"


def spark_layer_metrics(spark, tracer: Tracer, cores: int) -> Dict[str, float]:
    """Per-layer task metrics of the spans' Spark jobs (see module doc)."""
    base = _rest_base(spark)
    app = _rest(base, "applications")[0]["id"]
    # the UI's listener runs behind the driver: wait until it has settled
    jobs: list = []
    for _ in range(40):
        now = _rest(base, f"applications/{app}/jobs")
        if now and len(now) == len(jobs) and all(j["status"] != "RUNNING" for j in now):
            break
        jobs = now
        time.sleep(0.25)
    stages = {}
    for s in _rest(base, f"applications/{app}/stages"):
        if s.get("status") != "SKIPPED":
            stages.setdefault(s["stageId"], s)

    spans = tracer.spans
    owner_of: Dict[int, int] = {}
    for j in jobs:
        grp = j.get("jobGroup") or ""
        if grp.startswith(GROUP_PREFIX):
            owner_of[j["jobId"]] = int(grp[len(GROUP_PREFIX):])
            continue
        t = _epoch(j["submissionTime"])
        inner = None
        for s in spans:  # spans are recorded in start order; keep the innermost
            if s["start"] <= t <= s["end"]:
                inner = s["id"]
        if inner is not None:
            owner_of[j["jobId"]] = inner

    keys = ("executor_run_s", "gc_s", "shuffle_write_mb", "spill_mb", "tasks",
            "failed_tasks", "spark_jobs")
    acc = {layer: dict.fromkeys(keys, 0.0) for layer in LAYERS}
    seen: set = set()
    for j in jobs:
        sid = owner_of.get(j["jobId"])
        if sid is None or spans[sid]["layer"] not in acc:
            continue
        a = acc[spans[sid]["layer"]]
        a["spark_jobs"] += 1
        for st in j.get("stageIds", []):
            s = stages.get(st)
            if s is None or st in seen:
                continue
            seen.add(st)
            a["executor_run_s"] += s.get("executorRunTime", 0) / 1000.0
            a["gc_s"] += s.get("jvmGcTime", 0) / 1000.0
            a["shuffle_write_mb"] += s.get("shuffleWriteBytes", 0) / 1e6
            a["spill_mb"] += (s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0)) / 1e6
            a["tasks"] += s.get("numCompleteTasks", 0)
            a["failed_tasks"] += s.get("numFailedTasks", 0)

    wall = tracer.layer_wall()
    out: Dict[str, float] = {}
    for layer in LAYERS:
        w = wall.get(layer, 0.0)
        a = acc[layer]
        out[f"{layer}.wall_s"] = w
        for k in ("executor_run_s", "gc_s", "shuffle_write_mb", "spill_mb", "tasks",
                  "failed_tasks"):
            out[f"{layer}.{k}"] = a[k]
        out[f"{layer}.core_util"] = a["executor_run_s"] / (w * cores) if w > 0 else 0.0
    out["clustering.spark_jobs"] = acc["clustering"]["spark_jobs"]
    return out


# ---------------------------------------------------------------------------
# Memory: resident set of this process and all its descendants
# ---------------------------------------------------------------------------


def live_processes() -> Dict[int, int]:
    """pid -> parent pid of every process that is not a zombie."""
    out: Dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # state and ppid follow the ')' closing the command name
        state, ppid = stat[stat.rindex(")") + 2:].split()[:2]
        if state != "Z":
            out[int(d)] = int(ppid)
    return out


def process_tree(root_pid: int) -> List[int]:
    """root_pid and all its live descendants (JVM, Python daemon, workers)."""
    children: Dict[int, List[int]] = {}
    for pid, ppid in live_processes().items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_rss_bytes(root_pid: int) -> int:
    """Summed VmRSS of root_pid and its descendants."""
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in process_tree(root_pid):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            pass
    return total


def tree_cpu_s(root_pid: int) -> float:
    """User plus system CPU seconds of root_pid and its live descendants,
    including the children each of them has reaped (exited Python workers).
    Time the hypervisor stole from the guest is not in these counters."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in process_tree(root_pid):
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # utime, stime, cutime, cstime are fields 14-17
        total += sum(int(v) for v in stat[stat.rindex(")") + 2:].split()[11:15])
    return total / tick


class RssSampler:
    """Background sampling of :func:`tree_rss_bytes`; keeps the peak, and
    the CPU time the sampling itself took (``cpu_s``), so that CPU
    measurements of the process tree can leave it out."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak = 0
        self.cpu_s = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(pid))
            self.cpu_s = time.thread_time()
            self._stop.wait(self.interval_s)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
