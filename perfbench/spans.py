"""In-memory span recorder and Spark-side counters for the traced run.

Spans are recorded only from the benchmark's own files, around the calls it
makes into each layer (or, for calls the program makes on the benchmark's
behalf, around the bound method the benchmark hands it). Each span keeps
its name, start, end, parent span and op id; spans stay in memory and are
written out once, when the run ends. A layer's self time is its span's
duration minus the time its child spans cover.

With tracing off the workloads get `NullTracer`, whose context manager does
nothing, so the untraced run pays no tracing cost beyond one attribute
lookup per call.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import threading
import time
import urllib.request
from collections import defaultdict


class NullTracer:
    enabled = False

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None):
        yield


class Tracer:
    """Thread-aware span recorder: a span's parent is the innermost open span
    on the same thread, or the span registered for that thread with
    `adopt` (a server thread working for a client's op)."""

    enabled = True

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._adopted: dict[int, tuple[int, str | None]] = {}

    def _stack(self) -> list[tuple[int, str | None]]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def current(self) -> tuple[int, str | None] | None:
        st = self._stack()
        if st:
            return st[-1]
        return self._adopted.get(threading.get_ident())

    def adopt(self, thread_id: int, parent: tuple[int, str | None]) -> None:
        """Make `parent` the parent of top-level spans opened on `thread_id`."""
        with self._lock:
            self._adopted[thread_id] = parent

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None):
        parent = self.current()
        sid = next(self._ids)
        if op is None and parent is not None:
            op = parent[1]
        st = self._stack()
        st.append((sid, op))
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            st.pop()
            with self._lock:
                self.spans.append({
                    "id": sid, "name": name, "start": start, "end": end,
                    "parent": parent[0] if parent else None, "op": op,
                    "thread": threading.get_ident(),
                })

    def wrap(self, name: str, fn):
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    # -- derived figures ----------------------------------------------------
    def durations(self, name: str, since: float) -> list[float]:
        """Durations of the spans called `name` that started at or after `since`."""
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and s["start"] >= since]

    def self_times(self) -> dict[int, float]:
        """span id -> duration minus the union of its children's intervals."""
        children: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                children[s["parent"]].append((s["start"], s["end"]))
        out = {}
        for s in self.spans:
            covered, cur_s, cur_e = 0.0, None, None
            for a, b in sorted(children.get(s["id"], ())):
                a, b = max(a, s["start"]), min(b, s["end"])
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
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out

    def self_time_by_layer(self) -> dict[str, float]:
        st = self.self_times()
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s["name"]] += st[s["id"]]
        return dict(out)

    def write(self, path: str, t_origin: float) -> None:
        with open(path, "w") as fh:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                fh.write(json.dumps({**s, "start": s["start"] - t_origin,
                                     "end": s["end"] - t_origin}) + "\n")


class SparkCounters:
    """Job, task, shuffle and input counts from Spark's monitoring REST API
    (the UI server of this process, reached on the loopback address)."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        port = (sc.uiWebUrl or "http://127.0.0.1:4040").rsplit(":", 1)[1]
        self._base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self._base + path, timeout=30) as resp:
            return json.load(resp)

    def job_ids(self) -> set[int]:
        return {j["jobId"] for j in self._get("/jobs")}

    def totals(self, since: set[int]) -> dict[str, float]:
        """Sums over the jobs not in `since`: jobs, tasks, shuffle read+write
        bytes, input bytes."""
        jobs = [j for j in self._get("/jobs") if j["jobId"] not in since]
        stage_ids = {sid for j in jobs for sid in j.get("stageIds", ())}
        shuffle = inp = 0
        for st in self._get("/stages"):
            if st["stageId"] in stage_ids and st.get("status") == "COMPLETE":
                shuffle += st.get("shuffleReadBytes", 0) + st.get("shuffleWriteBytes", 0)
                inp += st.get("inputBytes", 0)
        return {
            "jobs": len(jobs),
            "tasks": sum(j.get("numCompletedTasks", 0) for j in jobs),
            "shuffle_bytes": shuffle,
            "input_bytes": inp,
        }


def storage_mb(spark) -> float:
    """Memory held by persisted or checkpointed RDD blocks, in MB."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(info.memSize() for info in infos) / 1e6
