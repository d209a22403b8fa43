"""Spans and per-step Spark job attribution for the traced run.

The tracer never edits the engine.  While installed it wraps the pyspark
entry points a crawl round's Spark work goes through:
``DataFrameWriter.parquet``, ``DataFrameReader.parquet`` (schema inference
reads footers in a job), ``DataFrame.collect`` and ``DataFrame.count``.
Each wrapped call inside a round runs under the job group
``<round group>:<step>``, the step being named from the call's directory or
call site; the round itself runs under ``<round group>``, so a job left in
the bare round group is one no step claimed.  Job, stage and task counts
come from ``SparkContext.statusTracker()``.

Spans (name, start, end, parent, trace id) stay in memory and are written
out once, when the run ends.
"""

from __future__ import annotations

import json
import os
import sys
import time
from contextlib import contextmanager
from typing import Dict, List, Optional

from pyspark.sql.readwriter import DataFrameReader, DataFrameWriter

#: the crawl-round steps every round-group job must be attributed to
STEPS = ("results", "frontier", "seen_delta", "bloom", "host_tokens",
         "metrics", "commit_counts")


def _caller(skip_prefix: str) -> List[str]:
    """(file basename:function) of the calling frames outside pyspark."""
    out, f = [], sys._getframe(2)
    while f is not None and len(out) < 8:
        path = f.f_code.co_filename
        if skip_prefix not in path:
            out.append(f"{os.path.basename(path)}:{f.f_code.co_name}")
        f = f.f_back
    return out


class Tracer:
    def __init__(self, spark, trace_id: str) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.trace_id = trace_id
        self.spans: List[dict] = []
        self._open: List[int] = []
        self._round: Optional[dict] = None
        self._in_step = False
        self._saved: Dict[tuple, object] = {}
        #: time the wrappers spend on their own work inside traced rounds
        self.bookkeeping_s = 0.0

    # ------------------------------------------------------------ spans
    @contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {"trace_id": self.trace_id, "span_id": sid, "name": name,
               "parent": self._open[-1] if self._open else None,
               "start": time.time(), "end": None, **attrs}
        self.spans.append(rec)
        self._open.append(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._open.pop()

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec, default=str) + "\n")

    # ----------------------------------------------------------- rounds
    @contextmanager
    def round(self, group: str, k: int, state_dir: str):
        """Run one crawl round under job group ``group``."""
        rd = os.path.join(state_dir, "rounds", f"round={k}")
        info = {"group": group, "k": k, "round_dir": rd, "steps": {}}
        self.sc.setJobGroup(group, f"crawl round {k}")
        self._round = info
        try:
            with self.span(f"round.{k}", kind="round", group=group) as sp:
                yield info
        finally:
            self._round = None
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        info["wall_s"] = sp["end"] - sp["start"]
        info["span_id"] = sp["span_id"]

    def _step_of(self, kind: str, paths: List[str]) -> str:
        rd = self._round["round_dir"]
        calls = _caller("pyspark")
        if kind in ("collect", "count"):
            if any(c.startswith("bloom.py:") for c in calls):
                return "bloom"
            return "commit_counts"
        if kind == "read" and any(c.endswith(":_read_seen") for c in calls):
            return "frontier"  # the novelty anti-join's exact seen set
        name = os.path.basename(os.path.normpath(paths[0])) if paths else ""
        if name == "frontier" and kind == "read":
            return "commit_counts" if paths[0].startswith(rd) else "frontier"
        if name in STEPS:
            return name
        if kind == "read":
            return "results"  # the page store, joined by the fetch step
        return "other." + name

    def _wrap(self, cls, attr: str, kind: str, path_args: bool) -> None:
        real = getattr(cls, attr)
        self._saved[(cls, attr)] = real
        tracer = self

        def wrapped(obj, *args, **kwargs):
            if tracer._round is None or tracer._in_step:
                return real(obj, *args, **kwargs)
            t0 = time.perf_counter()
            paths = [a for a in args if isinstance(a, str)] if path_args else []
            step = tracer._step_of(kind, paths)
            group = f"{tracer._round['group']}:{step}"
            tracer.sc.setJobGroup(group, step)
            tracer._in_step = True
            tracer.bookkeeping_s += time.perf_counter() - t0
            try:
                with tracer.span(f"step.{step}", kind=kind, group=group) as sp:
                    return real(obj, *args, **kwargs)
            finally:
                t1 = time.perf_counter()
                tracer._in_step = False
                st = tracer._round["steps"].setdefault(
                    step, {"wall_s": 0.0, "calls": 0})
                st["wall_s"] += sp["end"] - sp["start"]
                st["calls"] += 1
                tracer.sc.setJobGroup(tracer._round["group"], "round")
                tracer.bookkeeping_s += time.perf_counter() - t1

        setattr(cls, attr, wrapped)

    def install(self) -> None:
        self._wrap(DataFrameWriter, "parquet", "write", True)
        self._wrap(DataFrameReader, "parquet", "read", True)
        # the concrete DataFrame class (pyspark.sql.classic in Spark 4)
        frame = type(self.spark.range(0))
        self._wrap(frame, "collect", "collect", False)
        self._wrap(frame, "count", "count", False)

    def uninstall(self) -> None:
        for (cls, attr), real in self._saved.items():
            setattr(cls, attr, real)
        self._saved.clear()

    # ----------------------------------------------------------- counts
    def drain_listener(self) -> None:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def group_counts(self, group: str) -> dict:
        """Jobs, stages run, tasks and failed tasks of one job group."""
        st = self.sc.statusTracker()
        jobs = list(st.getJobIdsForGroup(group))
        stages = tasks = failed = 0
        for jid in jobs:
            info = st.getJobInfo(jid)
            for sid in (info.stageIds if info else []):
                si = st.getStageInfo(sid)
                if si is None or si.numCompletedTasks + si.numFailedTasks == 0:
                    continue  # skipped (its shuffle output was reused)
                stages += 1
                tasks += si.numCompletedTasks + si.numFailedTasks
                failed += si.numFailedTasks
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks,
                "failed_tasks": failed}

    def round_counts(self, info: dict) -> dict:
        """Per-step job counts of a finished round, plus the jobs no step
        claimed (``unattributed_jobs``), which should be 0."""
        self.drain_listener()
        total = {"jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0}
        steps = {}
        for step in sorted(set(STEPS) | set(info["steps"])):
            c = self.group_counts(f"{info['group']}:{step}")
            wall = info["steps"].get(step, {}).get("wall_s", 0.0)
            steps[step] = {"wall_s": wall, "jobs": c["jobs"]}
            for key in total:
                total[key] += c[key]
        bare = self.group_counts(info["group"])
        for key in total:
            total[key] += bare[key]
        return {**total, "unattributed_jobs": bare["jobs"], "steps": steps}
