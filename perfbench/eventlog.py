"""Offline parser for the Spark event log of a traced run.

The benchmark tags every call with its own job group, `<site>#<call>`, so each
Spark job in the log belongs to exactly one call. Per job the parser keeps its
submit and end times, the launch time of its first task, and the sums of its
tasks' metrics. The per-layer metrics are then built from the calls' wall
times (measured by the benchmark) and their jobs.
"""

from __future__ import annotations

import json

PY_TIME = "time to run Python workers"          # pythonTotalTime, ms
PY_SENT = "data sent to Python workers"         # pythonDataSent, bytes
PY_RECV = "data returned from Python workers"   # pythonDataReceived, bytes

# metric -> unit, per call site and per workload
SITE_FIELDS = {"wall_s": "s", "driver_s": "s", "jobs": "count", "exec_cpu_s": "s",
               "python_s": "s"}
WORKLOAD_FIELDS = {"shuffle_bytes": "bytes", "arrow_bytes": "bytes", "sched_wait_s": "s",
                   "spill_bytes": "bytes", "failed_tasks": "count", "persisted_bytes": "bytes"}


def _job(group: str | None, submit_ms: int) -> dict:
    return {"group": group, "submit": submit_ms / 1000.0, "end": None, "first_task": None,
            "exec_cpu_s": 0.0, "python_s": 0.0, "shuffle_bytes": 0, "arrow_bytes": 0,
            "spill_bytes": 0, "failed_tasks": 0}


def parse(path: str) -> dict:
    """Event log -> {"jobs": {job id: job}, "persisted_peak_bytes": n}.

    persisted_peak_bytes is the largest total size of the cached RDD blocks
    alive at any point of the log (block updates in, unpersists out)."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    blocks: dict[str, int] = {}
    peak = 0
    with open(path) as fh:
        for line in fh:
            e = json.loads(line)
            ev = e["Event"]
            if ev == "SparkListenerJobStart":
                group = (e.get("Properties") or {}).get("spark.jobGroup.id")
                jobs[e["Job ID"]] = _job(group, e["Submission Time"])
                for s in e["Stage IDs"]:
                    # a skipped stage is listed again by later jobs; its
                    # tasks ran under the first one
                    stage_job.setdefault(s, e["Job ID"])
            elif ev == "SparkListenerJobEnd":
                jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
            elif ev == "SparkListenerTaskStart":
                job = jobs[stage_job[e["Stage ID"]]]
                t = e["Task Info"]["Launch Time"] / 1000.0
                job["first_task"] = t if job["first_task"] is None else min(job["first_task"], t)
            elif ev == "SparkListenerTaskEnd":
                job = jobs[stage_job[e["Stage ID"]]]
                m = e.get("Task Metrics") or {}
                job["exec_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                job["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0)
                job["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
                if e["Task End Reason"]["Reason"] != "Success":
                    job["failed_tasks"] += 1
                for acc in e["Task Info"].get("Accumulables", []):
                    if acc.get("Name") == PY_TIME:
                        job["python_s"] += int(acc["Update"]) / 1000.0
                    elif acc.get("Name") in (PY_SENT, PY_RECV):
                        job["arrow_bytes"] += int(acc["Update"])
            elif ev == "SparkListenerBlockUpdated":
                info = e["Block Updated Info"]
                if info["Block ID"].startswith("rdd_"):
                    size = info["Memory Size"] + info["Disk Size"]
                    if size and info["Storage Level"].get("Replication", 1):
                        blocks[info["Block ID"]] = size
                    else:
                        blocks.pop(info["Block ID"], None)
                    peak = max(peak, sum(blocks.values()))
            elif ev == "SparkListenerUnpersistRDD":
                prefix = f"rdd_{e['RDD ID']}_"
                for b in [b for b in blocks if b.startswith(prefix)]:
                    del blocks[b]
    return {"jobs": jobs, "persisted_peak_bytes": peak}


def _busy(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of intervals, clipped to [lo, hi]."""
    busy, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                busy += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        busy += cur_hi - cur_lo
    return busy


def layer_metrics(log: dict, calls: list[dict], passes: dict[int, int]) -> tuple[dict, dict]:
    """Per call site: the mean over its calls of wall_s, driver_s, jobs,
    exec_cpu_s and python_s. Per workload: the totals over its calls for one
    pass of every phase (each phase's total divided by its passes), and the
    peak persisted bytes. `calls` are the timed calls: {site, phase, group,
    start, end}, times in epoch seconds; `passes` maps phase -> passes."""
    by_group: dict[str, list[dict]] = {}
    for job in log["jobs"].values():
        by_group.setdefault(job["group"], []).append(job)
    sites: dict[str, dict] = {}
    totals = dict.fromkeys(WORKLOAD_FIELDS, 0.0)
    for c in calls:
        jobs = by_group.get(c["group"], [])
        wall = c["end"] - c["start"]
        busy = _busy([(j["submit"], j["end"] or c["end"]) for j in jobs], c["start"], c["end"])
        s = sites.setdefault(c["site"], dict.fromkeys(SITE_FIELDS, 0.0) | {"calls": 0})
        s["calls"] += 1
        s["wall_s"] += wall
        s["driver_s"] += wall - busy
        s["jobs"] += len(jobs)
        share = 1.0 / passes[c["phase"]]
        for j in jobs:
            s["exec_cpu_s"] += j["exec_cpu_s"]
            s["python_s"] += j["python_s"]
            for k in ("shuffle_bytes", "arrow_bytes", "spill_bytes", "failed_tasks"):
                totals[k] += j[k] * share
            if j["first_task"] is not None:
                totals["sched_wait_s"] += (j["first_task"] - j["submit"]) * share
    for s in sites.values():
        n = s.pop("calls")
        for k in SITE_FIELDS:
            s[k] /= n
    totals["persisted_bytes"] = float(log["persisted_peak_bytes"])
    return sites, totals


def sanity(calls: list[dict], sites: dict, cores: int) -> dict:
    """The two checks a parse must pass: the calls' wall times cover the
    timed passes to within a few percent, and no site used more CPU than its
    cores could give in its wall time. Each call carries the start and end
    of its pass (`pass_start`, `pass_end`)."""
    passes = {(c["pass_start"], c["pass_end"]) for c in calls}
    walls = sum(c["end"] - c["start"] for c in calls)
    timed_s = sum(b - a for a, b in passes)
    cover = walls / timed_s if timed_s else 0.0
    over = sorted(name for name, s in sites.items()
                  if s["exec_cpu_s"] + s["python_s"] > cores * s["wall_s"])
    return {"wall_cover": cover, "wall_cover_ok": abs(cover - 1.0) <= 0.05,
            "cpu_over_cores": over}
