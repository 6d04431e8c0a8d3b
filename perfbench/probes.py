"""Measurements taken from outside the program: process-tree CPU from /proc,
the host stamp, Spark's status tracker and storage info, and the JSON event
log of a traced run (task metrics, job spans and executed plans).

Nothing here changes how kgtm runs; every number is read after the fact.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import platform
import subprocess
import sys
import time
from pathlib import Path

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _proc_table() -> dict[int, tuple[int, int]]:
    """pid -> (ppid, utime+stime+cutime+cstime in clock ticks)."""
    table = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # the process ended while we listed
            continue
        fields = stat[stat.rfind(")") + 2 :].split()
        table[int(name)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    return table


def descendants(root: int | None = None) -> set[int]:
    """``root`` (default: this process) and every live process below it."""
    table = _proc_table()
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    todo, seen = [root or os.getpid()], set()
    while todo:
        pid = todo.pop()
        if pid in seen or pid not in table:
            continue
        seen.add(pid)
        todo.extend(children.get(pid, []))
    return seen


def tree_cpu_s() -> float:
    """User+system CPU seconds of this process and all its descendants (the
    JVM and its Python workers), including descendants already reaped.
    psutil is not available, so this reads /proc directly."""
    table = _proc_table()
    return sum(table[p][1] for p in descendants() if p in table) / _CLK_TCK


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def head_sha(root: Path) -> str:
    """HEAD commit of a git checkout, read from .git without running git;
    'unknown' when the tree is not a git checkout."""
    git = root / ".git"
    try:
        ref = (git / "HEAD").read_text().strip()
        if not ref.startswith("ref: "):
            return ref
        name = ref[5:]
        loose = git / name
        if loose.exists():
            return loose.read_text().strip()
        for line in (git / "packed-refs").read_text().splitlines():
            if line.endswith(" " + name):
                return line.split()[0]
    except OSError:
        pass
    return "unknown"


def host_stamp(root: Path, spark, cores: int) -> dict:
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "cores": cores,
        "load_start": loadavg(),
        "date": dt.datetime.now(dt.timezone.utc).isoformat(timespec="seconds"),
        "head": head_sha(root),
        "python": platform.python_version(),
        "spark": spark.version,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
    }


def group_jobs_tasks(spark, group: str) -> tuple[int, int]:
    """(jobs, completed tasks) that ran under job group ``group``."""
    tracker = spark.sparkContext.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    tasks = 0
    for job in jobs:
        info = tracker.getJobInfo(job)
        for stage in info.stageIds if info else ():
            sinfo = tracker.getStageInfo(stage)
            tasks += sinfo.numCompletedTasks if sinfo else 0
    return len(jobs), tasks


def retained_mb(spark) -> float:
    """Block-manager storage (memory + disk) held by cached and checkpointed
    RDDs right now."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 1e6


# --------------------------------------------------------------------------
# event log (traced run only)
# --------------------------------------------------------------------------

_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_AQE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"


def _plan_counts(plan: dict) -> dict[str, int]:
    """Exchanges, broadcasts and Python evaluation nodes in one executed
    plan tree (an event-log sparkPlanInfo)."""
    counts = {"exchanges": 0, "broadcasts": 0, "python_evals": 0}
    todo = [plan]
    while todo:
        node = todo.pop()
        name = node.get("nodeName", "")
        if name == "Exchange":
            counts["exchanges"] += 1
        elif name == "BroadcastExchange":
            counts["broadcasts"] += 1
        elif "Python" in name or "InPandas" in name or "InArrow" in name:
            counts["python_evals"] += 1
        todo.extend(node.get("children", []))
    return counts


def _union_s(spans: list[tuple[int, int]]) -> float:
    total, end = 0, None
    for a, b in sorted(spans):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total / 1000


def read_event_log(path: Path) -> dict[str, dict]:
    """Per job group: summed task metrics, job spans (epoch ms) and the
    plan counts of the final (post-AQE) plan of each SQL execution."""
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    job_submit: dict[int, int] = {}
    exec_group: dict[int, str] = {}
    plans: dict[int, dict] = {}
    groups: dict[str, dict] = {}

    def acc(group: str) -> dict:
        return groups.setdefault(
            group,
            {"cpu_s": 0.0, "shuffle_write_mb": 0.0, "spill_mb": 0.0,
             "gc_s": 0.0, "spans": [], "executions": set()},
        )

    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                group = props.get("spark.jobGroup.id")
                if group is None:
                    continue
                job = ev["Job ID"]
                job_group[job] = group
                job_submit[job] = ev["Submission Time"]
                for sid in ev["Stage IDs"]:
                    stage_group[sid] = group
                if "spark.sql.execution.id" in props:
                    exec_group[int(props["spark.sql.execution.id"])] = group
            elif kind == "SparkListenerJobEnd":
                job = ev["Job ID"]
                if job in job_group:
                    acc(job_group[job])["spans"].append(
                        (job_submit[job], ev["Completion Time"])
                    )
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev["Stage ID"])
                tm = ev.get("Task Metrics")
                if group is None or not tm:
                    continue
                g = acc(group)
                g["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                g["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                g["shuffle_write_mb"] += (
                    tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) / 1e6
                )
                g["spill_mb"] += tm.get("Disk Bytes Spilled", 0) / 1e6
            elif kind in (_SQL_START, _SQL_AQE):
                plans[ev["executionId"]] = ev["sparkPlanInfo"]
    for exec_id, group in exec_group.items():
        acc(group)["executions"].add(exec_id)
    out = {}
    for group, g in groups.items():
        counts = {"exchanges": 0, "broadcasts": 0, "python_evals": 0}
        for exec_id in g["executions"]:
            for k, v in _plan_counts(plans.get(exec_id, {})).items():
                counts[k] += v
        out[group] = {
            "cpu_s": g["cpu_s"],
            "gc_s": g["gc_s"],
            "shuffle_write_mb": g["shuffle_write_mb"],
            "spill_mb": g["spill_mb"],
            "busy_s": _union_s(g["spans"]),
            **counts,
        }
    return out


def event_log_file(log_dir: Path) -> Path:
    files = [p for p in log_dir.iterdir() if p.is_file()]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    return files[0]


def stop_spark(spark) -> None:
    """Stop the session, then the JVM and the Python workers it started, and
    wait until each has ended."""
    from pyspark import SparkContext

    before = descendants() - {os.getpid()}
    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    for pid in before:
        for _ in range(300):
            if not os.path.exists(f"/proc/{pid}"):
                break
            try:  # a zombie we own still needs reaping
                if os.waitpid(pid, os.WNOHANG)[0]:
                    break
            except ChildProcessError:
                pass
            time.sleep(0.1)
        else:
            print(f"process {pid} outlived the session; killing", file=sys.stderr)
            os.kill(pid, 9)
