"""Spans around the benchmark's calls into the library.

A span records a name, start, end, parent and the op's shared id.  When
tracing is on, each span runs its Spark work under its own job group,
and the jobs, stages and tasks of that group are read back from
``statusTracker()`` when the span closes (the library sets no job
groups, so the benchmark owns them).  A parent's counts include its
children's.  Spans stay in memory and are written as JSON lines at
exit.  When tracing is off, ``span`` does nothing: no job group, no
tracker call, no record.
"""

from __future__ import annotations

import contextlib
import json
import time


class Tracer:
    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._seq = 0

    @contextlib.contextmanager
    def span(self, name: str, op: int | None = None):
        """Time ``name``; yields the span record (or None when off) so
        the caller can attach attributes such as a row count."""
        if not self.enabled:
            yield None
            return
        self._seq += 1
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = parent["op"]
        rec = {"id": self._seq, "name": name, "op": op,
               "parent": parent["id"] if parent else None}
        group = f"dlxbench-{self._seq}"
        self.sc.setJobGroup(group, name)
        self._stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._count(rec, group)
            # hand the job group back to the enclosing span (or clear it)
            if parent is not None:
                self.sc.setJobGroup(f"dlxbench-{parent['id']}",
                                    parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.spans.append(rec)

    def _count(self, rec: dict, group: str) -> None:
        tracker = self.sc.statusTracker()
        jobs = stages = tasks = 0
        for jid in tracker.getJobIdsForGroup(group):
            jobs += 1
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                stages += 1
                st = tracker.getStageInfo(sid)
                if st is not None:
                    tasks += st.numTasks
        # own counts, plus those of the children, which closed first
        kids = [s for s in self.spans if s["parent"] == rec["id"]]
        rec["jobs"] = jobs + sum(k["jobs"] for k in kids)
        rec["stages"] = stages + sum(k["stages"] for k in kids)
        rec["tasks"] = tasks + sum(k["tasks"] for k in kids)
        rec["dur"] = rec["end"] - rec["start"]
        rec["self"] = rec["dur"] - sum(k["dur"] for k in kids)

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for rec in self.spans:
                fh.write(json.dumps(rec) + "\n")
