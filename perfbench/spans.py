"""Spans around the benchmark's calls into each layer, and the Spark UI
REST census that turns them into per-layer job/stage/task/shuffle counts.

A span records name, start, end, parent and run id, plus the half-open
range of Spark job ids ``[job_lo, job_hi)`` the driver assigned while it
was open.  Jobs are attributed to spans by that id range, never by job
group: streaming micro-batches run under their query's own job group,
which a group-keyed census silently misses.  Spans stay in memory and
are written as JSON when the run ends.
"""

from __future__ import annotations

import json
import time
import urllib.request
from contextlib import contextmanager
from datetime import datetime


def parse_rest_time(s: str) -> float:
    """Epoch seconds from a Spark REST timestamp, with or without
    fractional seconds (``2026-10-17T07:23:44.123GMT`` or ``...:44GMT``)."""
    s = s.removesuffix("GMT").removesuffix("Z")
    for fmt in ("%Y-%m-%dT%H:%M:%S.%f", "%Y-%m-%dT%H:%M:%S"):
        try:
            return datetime.strptime(s, fmt).timestamp()
        except ValueError:
            continue
    raise ValueError(f"unparseable Spark REST timestamp {s!r}")


class Tracer:
    """Collects spans for one benchmark process.  Disabled, ``span`` only
    yields, so the untraced run pays nothing but a generator frame."""

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.iteration = -1
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._dag = None

    def attach(self, spark) -> None:
        if self.enabled:
            # DAGScheduler.nextJobId: the id the next submitted job gets,
            # whatever its job group or submitting thread
            self._dag = spark.sparkContext._jsc.sc().dagScheduler()

    def _next_job(self) -> int:
        n = self._dag.nextJobId()  # an AtomicInteger, or its int value
        return int(n if isinstance(n, int) else n.get())

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "name": name, "id": len(self.spans),
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id, "iteration": self.iteration,
            "start": time.time(), "job_lo": self._next_job(), **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()
            rec["job_hi"] = self._next_job()

    # -- census ----------------------------------------------------------
    def census(self, spark, timeout: float = 30.0) -> None:
        """Annotate every span with the jobs, stages, tasks, failed tasks
        and shuffle bytes of the Spark jobs in its id range."""
        if not self.enabled or not self.spans:
            return
        base = spark.sparkContext.uiWebUrl.rstrip("/")
        app = spark.sparkContext.applicationId
        last = self._next_job() - 1

        def get(path: str):
            url = f"{base}/api/v1/applications/{app}/{path}"
            with urllib.request.urlopen(url, timeout=timeout) as r:
                return json.loads(r.read())

        # the UI store is fed by the async listener bus: wait for it to
        # have seen every job the driver submitted
        deadline = time.time() + timeout
        while True:
            jobs = get("jobs")
            done = {j["jobId"] for j in jobs if j["status"] != "RUNNING"}
            if last < 0 or (last in done and len(done) >= last + 1) \
                    or time.time() > deadline:
                break
            time.sleep(0.2)
        stages = get("stages")
        stage_bytes: dict[int, list[int]] = {}
        for s in stages:
            if s["status"] == "SKIPPED":
                continue
            b = stage_bytes.setdefault(s["stageId"], [0, 0])
            b[0] += s.get("shuffleReadBytes", 0)
            b[1] += s.get("shuffleWriteBytes", 0)
        by_id = {}
        owner: dict[int, int] = {}
        for j in sorted(jobs, key=lambda j: j["jobId"]):
            by_id[j["jobId"]] = j
            for sid in j.get("stageIds", []):
                owner.setdefault(sid, j["jobId"])
        job_bytes: dict[int, list[int]] = {}
        for sid, jid in owner.items():
            rb, wb = stage_bytes.get(sid, (0, 0))
            acc = job_bytes.setdefault(jid, [0, 0])
            acc[0] += rb
            acc[1] += wb
        for sp in self.spans:
            c = {"jobs": 0, "stages": 0, "tasks": 0, "tasks_failed": 0,
                 "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
                 "job_s": 0.0}
            for jid in range(sp["job_lo"], sp["job_hi"]):
                j = by_id.get(jid)
                if j is None:
                    continue
                c["jobs"] += 1
                c["stages"] += len(j.get("stageIds", [])) - j.get("numSkippedStages", 0)
                c["tasks"] += j.get("numTasks", 0) - j.get("numSkippedTasks", 0)
                c["tasks_failed"] += j.get("numFailedTasks", 0)
                rb, wb = job_bytes.get(jid, (0, 0))
                c["shuffle_read_bytes"] += rb
                c["shuffle_write_bytes"] += wb
                if j.get("submissionTime") and j.get("completionTime"):
                    c["job_s"] += (parse_rest_time(j["completionTime"])
                                   - parse_rest_time(j["submissionTime"]))
            sp.update(c)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1)

    # -- aggregation -----------------------------------------------------
    def of(self, iteration: int, name: str) -> list[dict]:
        """Spans named ``name`` in one iteration, outermost only (a span
        nested in a same-named span is part of its parent's interval)."""
        out = []
        for sp in self.spans:
            if sp["iteration"] != iteration or sp["name"] != name:
                continue
            p = sp["parent"]
            while p is not None and self.spans[p]["name"] != name:
                p = self.spans[p]["parent"]
            if p is None:
                out.append(sp)
        return out

    def total(self, iteration: int, name: str, key: str) -> float:
        spans = self.of(iteration, name)
        if key == "s":
            return sum(sp["end"] - sp["start"] for sp in spans)
        return sum(sp.get(key, 0) for sp in spans)
