"""Spans, Spark event-log metrics and session-hygiene counters.

Spans are recorded by the benchmark around its calls into each layer
of the engine (``session``, ``registry``, ``icetbl``, ``sqlfront``);
they stay in memory and are written out when the run ends. Spark's own
work is read back from its event log, grouped by the job group the
benchmark sets before each operation.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from collections import defaultdict


class Tracer:
    """In-memory span recorder. Disabled, ``span`` costs one branch."""

    def __init__(self, run_id: str, enabled: bool) -> None:
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, op: int | None = None):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        rec = {
            "name": name,
            "op": op,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def self_times(self) -> list[float]:
        """Each span's duration minus the union of its children's."""
        children: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                children[s["parent"]].append((s["start"], s["end"]))
        return [
            (s["end"] - s["start"]) - covered(children[i], s["start"], s["end"])
            for i, s in enumerate(self.spans)
        ]

    def dump(self, path: str) -> None:
        selfs = self.self_times()
        out = [dict(s, self_s=round(t, 6)) for s, t in zip(self.spans, selfs)]
        with open(path, "w") as fh:
            json.dump(out, fh)


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def event_log_confs(log_dir: str) -> list[str]:
    """spark-submit ``--conf`` pairs for a plain-JSON, single-file log."""
    return [
        "spark.eventLog.enabled=true",
        f"spark.eventLog.dir=file:{log_dir}",
        "spark.eventLog.compress=false",
        "spark.eventLog.rolling.enabled=false",
    ]


def read_event_log(log_dir: str) -> dict[str, dict]:
    """Per job group: jobs, stages, tasks, executor time, shuffle bytes
    written, bytes spilled to disk and the (start, end) of every job,
    in epoch seconds. Call after the SparkContext has stopped, so the
    log is complete."""
    groups: dict[str, dict] = defaultdict(
        lambda: {"jobs": 0, "stages": 0, "tasks": 0, "executor_run_s": 0.0,
                 "shuffle_write_bytes": 0, "spill_bytes": 0, "job_spans": []}
    )
    for path in glob.glob(os.path.join(log_dir, "*")):
        # job and stage ids restart with every SparkContext, and each
        # context writes its own log file
        job_group: dict[int, str] = {}
        job_start: dict[int, float] = {}
        stage_group: dict[int, str] = {}
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if g is None:
                        continue
                    jid = ev["Job ID"]
                    job_group[jid] = g
                    job_start[jid] = ev["Submission Time"] / 1000.0
                    groups[g]["jobs"] += 1
                elif kind == "SparkListenerJobEnd":
                    jid = ev["Job ID"]
                    if jid in job_group:
                        groups[job_group[jid]]["job_spans"].append(
                            (job_start[jid], ev["Completion Time"] / 1000.0)
                        )
                elif kind == "SparkListenerStageSubmitted":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if g is not None:
                        stage_group[ev["Stage Info"]["Stage ID"]] = g
                        groups[g]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(ev["Stage ID"])
                    if g is None:
                        continue
                    m = ev.get("Task Metrics") or {}
                    rec = groups[g]
                    rec["tasks"] += 1
                    rec["executor_run_s"] += m.get("Executor Run Time", 0) / 1000.0
                    rec["shuffle_write_bytes"] += (
                        m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                    )
                    rec["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
    return dict(groups)


class Hygiene:
    """What an operation leaves behind in the session: RDDs still
    persisted (local checkpoints excluded: a result may be backed by
    one), temporary views, and session confs that changed."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.rdds, self.views, self.conf = self._snapshot()

    def _snapshot(self):
        jmap = self.spark.sparkContext._jsc.getPersistentRDDs()
        rdds = {
            int(k) for k in jmap.keySet()
            if not jmap.get(k).rdd().isLocallyCheckpointed()
        }
        views = {
            r.viewName for r in self.spark.sql("SHOW VIEWS").collect()
            if r.isTemporary
        }
        return rdds, views, dict(self.spark.conf.getAll)

    def delta(self) -> dict[str, int]:
        """Counts added since the previous call; the baseline moves on."""
        rdds, views, conf = self._snapshot()
        out = {
            "persisted_rdds": len(rdds - self.rdds),
            "temp_views": len(views - self.views),
            "conf_changes": sum(
                1 for k in conf.keys() | self.conf.keys()
                if conf.get(k) != self.conf.get(k)
            ),
        }
        self.rdds, self.views, self.conf = rdds, views, conf
        return out
