"""Per-query receipts, read from Spark's event log.

``python -m datalake_project_spark receipt Q [Q ...] [--sf-dir D]
[--trials N]`` runs each registered query ``N`` times in one session
with the event log on, stops the session, parses the log and prints one
JSON object per (query, trial):

- ``build`` / ``execute``: wall time, jobs and tasks of each phase.
  Build is ``fn(spark, sf_dir)`` (schema inference, checkpoints,
  streaming drains, driver-side collects); execute is the ``.count()``
  after it. A job or stage belongs to the phase whose window holds its
  submission time: streaming drains run their jobs under the stream's
  own job group, so a tag the caller sets would miss them.
- ``totals`` and ``stages``: tasks, executor run/CPU/GC time, shuffle
  read/write bytes and disk spill over all of the trial's stages, and
  the top stages by wall time.
- ``spill_nodes``: every SQL plan node with a non-zero spill metric,
  with its output rows. The plan events name each node's metric
  accumulators and the task ends carry their updates, so no UI is
  needed.
- ``batches``: each streaming micro-batch's ``durationMs`` and, per
  state operator, ``commitTimeMs``, ``numShufflePartitions``,
  ``numStateStoreInstances`` and ``numRowsTotal``.
- ``steal_pct`` over the trial, ``cpus`` (``defaultParallelism``),
  ``master`` and ``ui_enabled``.

The event log is a static conf, so the receipt needs a process of its
own: a session that already exists would run without a log.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import time
from datetime import datetime

_SQL = "org.apache.spark.sql.execution.ui."
_PROGRESS = ("org.apache.spark.sql.streaming."
             "StreamingQueryListener$QueryProgressEvent")
_STATE_FIELDS = ("operatorName", "commitTimeMs", "numShufflePartitions",
                 "numRowsTotal", "numStateStoreInstances")
_TOP_STAGES = 12


def steal_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks from /proc/stat; (0, 0) where it is
    unavailable. On a shared hypervisor steal time measures what
    neighbours take directly; loadavg only rises as a symptom."""
    try:
        with open("/proc/stat") as fh:
            vals = [int(x) for x in fh.readline().split()[1:]]
    except OSError:
        return 0, 0
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Steal% of all CPU ticks between two :func:`steal_ticks` readings."""
    return round(100.0 * (after[0] - before[0])
                 / max(after[1] - before[1], 1), 1)


def record(names: list[str], sf_dir: str, trials: int = 1) -> list[dict]:
    """Run every query in ``names`` once per trial and return one
    receipt per (query, trial). Stops the session it runs in."""
    from datalake_project_spark.queries import load_all
    from datalake_project_spark.scratch import scratch_dir
    from datalake_project_spark.session import get_spark

    registry = load_all()
    log_dir = os.path.join(scratch_dir("receipt", sf_dir), "events")
    shutil.rmtree(log_dir, ignore_errors=True)
    os.makedirs(log_dir)
    spark = get_spark("receipt", extra_conf={
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    })
    sc = spark.sparkContext
    if sc.getConf().get("spark.eventLog.dir") != log_dir:
        raise RuntimeError("receipt needs a fresh process: the session "
                           "already running has no event log here")
    session = {"cpus": sc.defaultParallelism, "master": sc.master,
               "ui_enabled": spark.conf.get("spark.ui.enabled") == "true"}
    runs = []
    try:
        # JVM and codegen startup are not billed to the first query
        spark.read.parquet(f"{sf_dir}/region.parquet").count()
        for trial in range(1, trials + 1):
            for name in names:
                s0 = steal_ticks()
                t0 = time.time()
                df = registry[name].fn(spark, sf_dir)
                t1 = time.time()
                rows = df.count()
                t2 = time.time()
                runs.append({"query": name, "trial": trial, "rows": rows,
                             "window": (t0, t1, t2),
                             "steal_pct": steal_pct(s0, steal_ticks())})
    finally:
        spark.stop()
    log = _EventLog(log_dir)
    return [{**log.receipt(run), **session} for run in runs]


def _stage_name(si: dict) -> str:
    """The stage's distinct RDD scope names (the plan operators, e.g.
    ``Scan parquet, WholeStageCodegen (1), Exchange``) in RDD order;
    Spark's call-site ``Stage Name``, which under AQE mostly reads
    ``$anonfun$withThreadLocalCaptured$2 at CompletableFuture.java``,
    only when no RDD carries a scope."""
    rdds = sorted(si.get("RDD Info", []), key=lambda r: r["RDD ID"])
    scopes = [json.loads(r["Scope"])["name"].strip()
              for r in rdds if r.get("Scope")]
    return ", ".join(dict.fromkeys(scopes)) or si["Stage Name"]


class _EventLog:
    """The parts of one application's event log that receipts read."""

    def __init__(self, log_dir: str):
        self.jobs: dict[int, int] = {}          # job id -> submission ms
        self.stage_job: dict[int, int] = {}
        self.stages: dict[int, dict] = {}
        self.acc: dict[int, int] = {}           # SQL metric id -> total
        self.exec_start: dict[int, int] = {}    # execution id -> start ms
        self.plans: list[tuple[int, dict]] = []
        self.batches: list[tuple[float, dict]] = []
        for name in sorted(os.listdir(log_dir)):
            with open(os.path.join(log_dir, name)) as fh:
                for line in fh:
                    self._add(json.loads(line))

    def _add(self, e: dict) -> None:
        ev = e["Event"]
        if ev == "SparkListenerJobStart":
            self.jobs[e["Job ID"]] = e["Submission Time"]
            for sid in e["Stage IDs"]:
                self.stage_job.setdefault(sid, e["Job ID"])
        elif ev == "SparkListenerStageCompleted":
            si = e["Stage Info"]
            self._stage(si["Stage ID"]).update(
                name=_stage_name(si), sub=si["Submission Time"],
                wall_s=(si["Completion Time"] - si["Submission Time"]) / 1e3)
        elif ev == "SparkListenerTaskEnd":
            self._task(e)
        elif ev == _SQL + "SparkListenerSQLExecutionStart":
            self.exec_start[e["executionId"]] = e["time"]
            self.plans.append((e["executionId"], e["sparkPlanInfo"]))
        elif ev == _SQL + "SparkListenerSQLAdaptiveExecutionUpdate":
            self.plans.append((e["executionId"], e["sparkPlanInfo"]))
        elif ev == _SQL + "SparkListenerDriverAccumUpdates":
            for aid, v in e["accumUpdates"]:
                self.acc[aid] = self.acc.get(aid, 0) + v
        elif ev == _PROGRESS:
            p = e["progress"]
            ts = datetime.fromisoformat(p["timestamp"]).timestamp()
            self.batches.append((ts * 1e3, p))

    def _stage(self, sid: int) -> dict:
        return self.stages.setdefault(sid, {
            "tasks": 0, "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
            "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
            "spill_bytes": 0})

    def _task(self, e: dict) -> None:
        s = self._stage(e["Stage ID"])
        m = e.get("Task Metrics") or {}
        rd = m.get("Shuffle Read Metrics") or {}
        s["tasks"] += 1
        s["run_s"] += m.get("Executor Run Time", 0) / 1e3
        s["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        s["gc_s"] += m.get("JVM GC Time", 0) / 1e3
        s["shuffle_read_bytes"] += (rd.get("Remote Bytes Read", 0)
                                    + rd.get("Local Bytes Read", 0))
        s["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0)
        s["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
        # SQL metrics are named accumulators whose updates are strings
        for a in e["Task Info"].get("Accumulables", []):
            if "Update" in a and not a.get("Name", "").startswith("internal."):
                try:
                    v = int(a["Update"])
                except ValueError:
                    continue
                self.acc[a["ID"]] = self.acc.get(a["ID"], 0) + v

    def receipt(self, run: dict) -> dict:
        t0, t1, t2 = run["window"]
        lo, mid, hi = math.floor(t0 * 1e3), t1 * 1e3, math.ceil(t2 * 1e3)
        phases = {p: {"wall_s": round(w, 3), "jobs": 0, "tasks": 0}
                  for p, w in (("build", t1 - t0), ("execute", t2 - t1))}
        for sub in self.jobs.values():
            if lo <= sub <= hi:
                phases["build" if sub < mid else "execute"]["jobs"] += 1
        mine = {sid: s for sid, s in self.stages.items()
                if "sub" in s and lo <= s["sub"] <= hi}
        for s in mine.values():
            phases["build" if s["sub"] < mid else "execute"]["tasks"] += \
                s["tasks"]
        metrics = ("tasks", "run_s", "cpu_s", "gc_s", "shuffle_read_bytes",
                   "shuffle_write_bytes", "spill_bytes")
        totals = {k: _round(sum(s[k] for s in mine.values()))
                  for k in metrics}
        top = sorted(mine, key=lambda sid: -mine[sid]["wall_s"])[:_TOP_STAGES]
        stages = [{"stage": sid, "job": self.stage_job.get(sid),
                   "name": mine[sid]["name"][:60],
                   "wall_s": round(mine[sid]["wall_s"], 3),
                   **{k: _round(mine[sid][k]) for k in metrics}}
                  for sid in top]
        batches = [{"batchId": p["batchId"],
                    "numInputRows": sum(src["numInputRows"]
                                        for src in p["sources"]),
                    "durationMs": p.get("durationMs"),
                    "state": [{k: s.get(k) for k in _STATE_FIELDS}
                              for s in p.get("stateOperators") or []]}
                   for ts, p in self.batches if lo <= ts <= hi]
        return {"query": run["query"], "trial": run["trial"],
                "rows": run["rows"], **phases, "totals": totals,
                "stages": stages, "spill_nodes": self._spill_nodes(lo, hi),
                "batches": batches, "steal_pct": run["steal_pct"]}

    def _spill_nodes(self, lo: int, hi: int) -> list[dict]:
        """Nodes with a non-zero spill metric across every plan version
        of the SQL executions that started inside [lo, hi]."""
        out, seen = [], set()
        for eid, root in self.plans:
            if not lo <= self.exec_start.get(eid, -1) <= hi:
                continue
            todo = [root]
            while todo:
                node = todo.pop()
                todo.extend(node.get("children", []))
                ids = {m["name"]: m["accumulatorId"]
                       for m in node.get("metrics", [])}
                spill = {k: self.acc[i] for k, i in ids.items()
                         if "spill" in k.lower() and self.acc.get(i)}
                key = tuple(sorted(ids.values()))
                if not spill or key in seen:
                    continue
                seen.add(key)
                out.append({"execution": eid, "node": node["nodeName"],
                            "spill": spill,
                            "rows": self.acc.get(
                                ids.get("number of output rows"))})
        return out


def _round(v):
    return round(v, 3) if isinstance(v, float) else v
