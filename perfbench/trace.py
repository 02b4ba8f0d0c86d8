"""Span recorder, Spark REST attribution and process-tree RSS sampling.

Spans are recorded by the benchmark itself, around the public
functions of each layer where they are bound (the module attribute or
class attribute the caller looks up), so nothing in the package is
edited.  Each span sets the Spark job group of its thread to the span
id; after the run the jobs and stages Spark's REST API reports are
attributed to spans through that group.  Spans stay in memory until
the run ends."""

from __future__ import annotations

import json
import os
import threading
import time
import urllib.request
from contextlib import contextmanager


class Recorder:
    def __init__(self, sc=None):
        self.sc = sc  # SparkContext whose job group each span sets; None = timing only
        self.spans: list[dict] = []
        self._local = threading.local()
        self._patches: list[tuple[object, str, object]] = []
        self._lock = threading.Lock()
        self._seq = 0

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, trace: str | None = None, **attrs):
        stack = self._stack()
        parent = stack[-1] if stack else None
        with self._lock:
            self._seq += 1
            sid = f"pb{self._seq}"
        rec = {
            "id": sid, "name": name, "parent": parent["id"] if parent else None,
            "trace": trace or (parent["trace"] if parent else sid),
            "thread": threading.current_thread().name, "start": time.time(), "attrs": attrs,
        }
        prev_group = None
        if self.sc is not None:
            prev_group = self.sc.getLocalProperty("spark.jobGroup.id")
            self.sc.setLocalProperty("spark.jobGroup.id", sid)
        stack.append(rec)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.time()
            if self.sc is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", prev_group)
            with self._lock:
                self.spans.append(rec)

    def wrap(self, owner, attr: str, name: str, hook=None, **attrs) -> None:
        """Replace ``owner.attr`` with a spanned version (undone by ``unwrap``).
        ``hook(span, args, result)`` runs after the span has closed."""
        original = getattr(owner, attr)
        rec = self

        def spanned(*args, **kwargs):
            with rec.span(name, **attrs) as s:
                out = original(*args, **kwargs)
            if hook is not None:
                hook(s, args, out)
            return out

        spanned.__wrapped__ = original
        self._patches.append((owner, attr, original))
        setattr(owner, attr, spanned)

    def unwrap(self) -> None:
        for owner, attr, original in reversed(self._patches):
            setattr(owner, attr, original)
        self._patches.clear()

    def by_name(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def self_times(self) -> dict[str, float]:
        """Per span id: duration minus the union of its children's intervals."""
        children: dict[str, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"]:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out = {}
        for s in self.spans:
            covered, cur_s, cur_e = 0.0, None, None
            for a, b in sorted(children.get(s["id"], [])):
                a, b = max(a, s["start"]), min(b, s["end"])
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

    def dump(self, path: str, extra: dict) -> None:
        selft = self.self_times()
        spans = [
            {**s, "self_s": selft[s["id"]]}
            for s in sorted(self.spans, key=lambda s: s["start"])
        ]
        with open(path, "w") as f:
            json.dump({**extra, "spans": spans}, f, indent=1, default=str)


def spark_rest(sc) -> tuple[list[dict], dict[int, dict]]:
    """All jobs and stages of the running application from the UI's REST
    API (localhost only).  Waits until the listener bus has caught up."""
    port = int(sc.uiWebUrl.rsplit(":", 1)[1])
    base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"

    def get(path):
        with urllib.request.urlopen(base + path, timeout=30) as r:
            return json.load(r)

    jobs, last = [], -1
    for _ in range(40):
        jobs = get("/jobs")
        running = [j for j in jobs if j.get("status") == "RUNNING"]
        if len(jobs) == last and not running:
            break
        last = len(jobs)
        time.sleep(0.25)
    stages = {}
    for st in get("/stages?details=false"):
        stages.setdefault(st["stageId"], st)  # latest attempt first
    return jobs, stages


def attribute(jobs: list[dict], stages: dict[int, dict]) -> dict[str, dict]:
    """Per job group: jobs, tasks, executor run time, GC time and bytes."""
    out: dict[str, dict] = {}
    for j in jobs:
        g = out.setdefault(j.get("jobGroup") or "", {
            "jobs": 0, "tasks": 0, "executor_run_s": 0.0, "gc_s": 0.0,
            "input_mb": 0.0, "input_records": 0, "shuffle_mb": 0.0, "output_records": 0,
        })
        g["jobs"] += 1
        for sid in j.get("stageIds", []):
            st = stages.get(sid)
            if st is None or st.get("status") == "SKIPPED":
                continue
            g["tasks"] += st.get("numCompleteTasks", 0)
            g["executor_run_s"] += st.get("executorRunTime", 0) / 1000
            g["gc_s"] += st.get("jvmGcTime", 0) / 1000
            g["input_mb"] += st.get("inputBytes", 0) / 2**20
            g["input_records"] += st.get("inputRecords", 0)
            g["shuffle_mb"] += st.get("shuffleWriteBytes", 0) / 2**20
            g["output_records"] += st.get("outputRecords", 0)
    return out


class RssSampler:
    """Samples the resident memory of this process, the Spark JVM it
    launched and any Python workers below them from /proc, keeping the
    peak.  Python processes count their proportional set size (PSS), so
    pages that forked Python workers share with their daemon count once
    and the figure does not jump with the number of workers Spark happens
    to fork; the JVM counts its resident set (reading its PSS walks
    gigabytes of page tables).  Other descendants are skipped: a process
    the JVM forks (Hadoop shells out to ``stat`` on renames) maps the
    JVM's whole resident set until it execs."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak_kb = 0
        self.peak_jvm_kb = 0  # the parts' own peaks, for provenance
        self.peak_python_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    @staticmethod
    def _children(pid: int) -> list[int]:
        out = []
        try:
            for tid in os.listdir(f"/proc/{pid}/task"):
                with open(f"/proc/{pid}/task/{tid}/children") as f:
                    out += [int(c) for c in f.read().split()]
        except OSError:
            pass
        return out

    @staticmethod
    def _comm(pid: int) -> str:
        try:
            with open(f"/proc/{pid}/comm") as f:
                return f.read().strip()
        except OSError:
            return ""

    @staticmethod
    def _mem_kb(pid: int, path: str, key: str) -> int:
        try:
            with open(f"/proc/{pid}/{path}") as f:
                for line in f:
                    if line.startswith(key):
                        return int(line.split()[1])
        except OSError:
            pass
        return 0

    def sample(self) -> int:
        me = os.getpid()
        jvm, py, todo, seen = 0, 0, [(me, None)], set()
        while todo:
            pid, parent = todo.pop()
            if pid in seen:
                continue
            seen.add(pid)
            comm = self._comm(pid)
            if comm == "java" and parent == me:
                jvm += self._mem_kb(pid, "status", "VmRSS:")
            elif pid == me or comm.startswith("python"):
                py += self._mem_kb(pid, "smaps_rollup", "Pss:")
            todo += [(c, pid) for c in self._children(pid)]
        self.peak_kb = max(self.peak_kb, jvm + py)
        self.peak_jvm_kb = max(self.peak_jvm_kb, jvm)
        self.peak_python_kb = max(self.peak_python_kb, py)
        return jvm + py

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def start(self) -> None:
        self.sample()
        self._thread.start()

    def stop(self) -> float:
        """Stop sampling (idempotent) and return the peak in MB."""
        if not self._stop.is_set():
            self._stop.set()
            self._thread.join(timeout=5)
            self.sample()
        return self.peak_kb / 1024
