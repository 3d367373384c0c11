"""Layer collector: what Spark did for one timed call.

Each timed call runs under its own job group.  After the call, and
outside its timing, :class:`SparkLayers` reads the jobs that call
started from the status store (``sc._jsc.sc().statusStore()``), which
Spark keeps even with the UI disabled, and turns them into plain dicts;
:func:`aggregate` sums those into layer counts.  Streaming micro-batches
come from ``StreamingQueryProgress`` and store sizes from a directory
walk.
"""

from __future__ import annotations

import json
import os

#: numeric fields summed over the stages a job ran
STAGE_FIELDS = {
    "tasks": "numTasks",
    "executor_run_ms": "executorRunTime",
    "executor_cpu_ns": "executorCpuTime",
    "input_bytes": "inputBytes",
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "memory_spill_bytes": "memoryBytesSpilled",
    "disk_spill_bytes": "diskBytesSpilled",
}


class SparkLayers:
    """Reads the status store for the jobs each timed call started."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.store = self.sc._jsc.sc().statusStore()
        # jobs started on threads without a job group (library thread
        # pools) are attributed to the call they ran under
        self._ungrouped: set[int] = set()

    def start(self, group: str) -> None:
        """Put the calls that follow under ``group``; jobs without a
        group from here on count as this call's too."""
        self._ungrouped = set(self.tracker.getJobIdsForGroup(None))
        self.sc.setJobGroup(group, group)

    def clear_group(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    def job_ids(self, group: str) -> list[int]:
        ids = set(self.tracker.getJobIdsForGroup(group))
        ung = set(self.tracker.getJobIdsForGroup(None))
        ids |= ung - self._ungrouped
        self._ungrouped |= ung
        return sorted(ids)

    def jobs(self, ids: list[int]) -> list[dict]:
        """One record per job: its times (epoch s) and its stages; a
        stage that never ran (skipped) has no attempt to read."""
        from py4j.protocol import Py4JJavaError

        out = []
        for jid in ids:
            try:
                jd = self.store.job(jid)
            except Py4JJavaError:
                continue  # evicted from the store
            sub, done = jd.submissionTime(), jd.completionTime()
            rec = {"job": jid,
                   "start": sub.get().getTime() / 1e3 if sub.isDefined()
                   else None,
                   "end": done.get().getTime() / 1e3 if done.isDefined()
                   else None,
                   "stages": [], "skipped_stages": 0}
            sids = jd.stageIds()
            for i in range(sids.length()):
                try:
                    st = self.store.lastStageAttempt(sids.apply(i))
                except Py4JJavaError:
                    rec["skipped_stages"] += 1
                    continue
                if str(st.status()) == "SKIPPED":
                    rec["skipped_stages"] += 1
                    continue
                rec["stages"].append({k: getattr(st, m)()
                                      for k, m in STAGE_FIELDS.items()})
            out.append(rec)
        return out


def aggregate(jobs: list[dict]) -> dict:
    """Sum status-store job records into layer counts."""
    out = {"jobs": len(jobs),
           "stages": sum(len(j["stages"]) for j in jobs),
           "skipped_stages": sum(j["skipped_stages"] for j in jobs)}
    for k in STAGE_FIELDS:
        out[k] = sum(s[k] for j in jobs for s in j["stages"])
    out["executor_run_s"] = out.pop("executor_run_ms") / 1e3
    out["executor_cpu_s"] = out.pop("executor_cpu_ns") / 1e9
    out["spill_bytes"] = (out.pop("memory_spill_bytes")
                          + out.pop("disk_spill_bytes"))
    return out


def progress_records(query) -> list[dict]:
    """``recentProgress`` as plain dicts (one per micro-batch)."""
    out = []
    for p in query.recentProgress:
        out.append(json.loads(p.json) if hasattr(p, "json") else dict(p))
    return out


def stream_batch(p: dict) -> dict:
    """The per-micro-batch numbers of one progress record."""
    d = p.get("durationMs", {})
    ops = p.get("stateOperators", [])
    return {"batch": p["batchId"], "rows": p.get("numInputRows", 0),
            "trigger_ms": d.get("triggerExecution", 0),
            "add_batch_ms": d.get("addBatch", 0),
            "query_planning_ms": d.get("queryPlanning", 0),
            "wal_commit_ms": d.get("walCommit", 0),
            "commit_offsets_ms": d.get("commitOffsets", 0),
            "state_rows": sum(o.get("numRowsTotal", 0) for o in ops),
            "state_memory_bytes": sum(o.get("memoryUsedBytes", 0)
                                      for o in ops),
            "state_commit_ms": sum(o.get("commitTimeMs", 0) for o in ops)}


def dir_usage(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``."""
    total = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(root, n))
            files += 1
    return total, files


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of ``VmHWM`` over ``pids`` (driver JVM + Python), in MB."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0
