"""Spans around the benchmark's calls into the package, plus the Spark
stage metrics of the jobs each span ran.

A span records name, start, end, parent span and run id. While a span is
open its id is the Spark job group of the calling thread (job groups are
thread-local under PySpark's pinned-thread mode), so after the run the
status store yields every stage each span ran: executor run and CPU time,
shuffle bytes, spill bytes and task count. Spans stay in memory and are
written out when the run ends. A disabled tracer records nothing and never
touches the job group, which is the untraced (end-to-end) mode.
"""

from __future__ import annotations

import contextlib
import json
import threading
import time


class Tracer:
    def __init__(self, run_id: str, enabled: bool, spark=None):
        self.run_id = run_id
        self.enabled = enabled
        self.spark = spark
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next = 0

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _set_group(self, span: dict | None) -> None:
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        if span is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(span["id"], span["name"])

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        with self._lock:
            sid = f"{self.run_id}:{self._next}"
            self._next += 1
        span = {"id": sid, "name": name, "run_id": self.run_id,
                "parent": stack[-1]["id"] if stack else None,
                "thread": threading.current_thread().name, **attrs}
        stack.append(span)
        self._set_group(span)
        span["start"] = time.perf_counter()
        try:
            yield span
        finally:
            span["end"] = time.perf_counter()
            stack.pop()
            self._set_group(stack[-1] if stack else None)
            with self._lock:
                self.spans.append(span)

    # -- after the run -----------------------------------------------------
    def attach_stage_metrics(self) -> None:
        """Give every span the summed metrics of the stages its OWN jobs
        ran (children's jobs stay with the children)."""
        if not self.enabled or self.spark is None:
            return
        sc = self.spark.sparkContext
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        for s in self.spans:
            m = {"jobs": 0, "stages": 0, "run_s": 0.0, "cpu_s": 0.0,
                 "shuffle_mb": 0.0, "spill_mb": 0.0, "tasks": 0}
            for job_id in tracker.getJobIdsForGroup(s["id"]):
                info = tracker.getJobInfo(job_id)
                if info is None:
                    continue
                m["jobs"] += 1
                for stage_id in info.stageIds:
                    try:
                        st = store.lastStageAttempt(int(stage_id))
                    except Exception:  # noqa: BLE001 — skipped/evicted stage
                        continue
                    m["stages"] += 1
                    m["run_s"] += st.executorRunTime() / 1e3
                    m["cpu_s"] += st.executorCpuTime() / 1e9
                    m["shuffle_mb"] += (st.shuffleReadBytes()
                                        + st.shuffleWriteBytes()) / 2**20
                    m["spill_mb"] += (st.memoryBytesSpilled()
                                      + st.diskBytesSpilled()) / 2**20
                    m["tasks"] += st.numTasks()
            s["spark"] = m

    def self_times(self) -> dict[str, float]:
        """span id -> duration minus the union of its children's intervals
        (children on other threads can overlap each other)."""
        kids: dict[str, list[dict]] = {}
        for s in self.spans:
            if s["parent"]:
                kids.setdefault(s["parent"], []).append(s)
        out = {}
        for s in self.spans:
            covered, cur_lo, cur_hi = 0.0, None, None
            for c in sorted(kids.get(s["id"], []), key=lambda c: c["start"]):
                lo, hi = max(c["start"], s["start"]), min(c["end"], s["end"])
                if cur_hi is None or lo > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out

    def by_name(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def subtree(self, span: dict) -> list[dict]:
        kids: dict[str, list[dict]] = {}
        for s in self.spans:
            if s["parent"]:
                kids.setdefault(s["parent"], []).append(s)
        out, todo = [], [span]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(kids.get(s["id"], []))
        return out

    def spark_totals(self, name: str) -> dict[str, float]:
        """Summed stage metrics of every span called `name`, each with its
        whole subtree (a span's layer owns the jobs its callees ran)."""
        tot = {"run_s": 0.0, "cpu_s": 0.0, "shuffle_mb": 0.0,
               "spill_mb": 0.0, "tasks": 0}
        for top in self.by_name(name):
            for s in self.subtree(top):
                for k in tot:
                    tot[k] += s.get("spark", {}).get(k, 0)
        return tot

    def dump(self, path: str) -> None:
        selfs = self.self_times()
        rows = []
        for s in sorted(self.spans, key=lambda s: s["start"]):
            r = dict(s)
            r["dur_s"] = s["end"] - s["start"]
            r["self_s"] = selfs[s["id"]]
            rows.append(r)
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": rows}, f, indent=1)
