"""Measurement from outside the program.

* ``Tracer`` keeps spans (name, id, parent, start, end, attributes) in
  memory; the benchmark writes them out when it ends.
* ``spark_counts`` reads exact job/stage/task counts of one job group from
  ``SparkContext.statusTracker()``.
* ``fold_event_log`` folds a Spark event log into per-job-group executor
  totals: run and CPU time, task wait, shuffle, spill and the bytes that
  Arrow/pandas UDF operators sent to and received from Python workers.
* ``RssSampler`` samples the resident memory of this process and all of its
  descendants (the driver JVM and its Python workers).
"""

from __future__ import annotations

import contextlib
import json
import os
import signal
import subprocess
import threading
import time


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {"id": sid, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    @staticmethod
    def seconds(rec: dict) -> float:
        return rec["end"] - rec["start"]

    def children(self, rec: dict, name: str | None = None) -> list[dict]:
        return [s for s in self.spans if s["parent"] == rec["id"]
                and (name is None or s["name"] == name)]


def spark_counts(sc, group: str) -> dict:
    """Jobs, stages and tasks run for one job group.  ``stages`` counts
    every stage of the group's jobs, including those skipped because their
    shuffle output already existed; ``tasks`` counts tasks that ran."""
    st = sc.statusTracker()
    jobs = list(st.getJobIdsForGroup(group))
    stage_ids: set[int] = set()
    for j in jobs:
        info = st.getJobInfo(j)
        if info is not None:
            stage_ids.update(info.stageIds)
    tasks = 0
    for s in stage_ids:
        info = st.getStageInfo(s)
        if info is not None:
            tasks += info.numCompletedTasks + info.numFailedTasks
    return {"jobs": len(jobs), "stages": len(stage_ids), "tasks": tasks}


_PY_SENT = "data sent to Python workers"
_PY_RECV = "data returned from Python workers"
FOLD_KEYS = ("exec.run_s", "exec.cpu_s", "task.wait_s", "shuffle.write_bytes",
             "shuffle.read_bytes", "spill.bytes", "python.bytes_to_workers",
             "python.bytes_from_workers")


def fold_event_log(log_dir: str) -> dict[str, dict[str, float]]:
    """{job group: {FOLD_KEYS...}} summed over every task of the group, from
    the single-file (non-rolling) event logs in ``log_dir``."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = {}
    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name)) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group:
                        for s in ev.get("Stage IDs", []):
                            stage_group.setdefault(s, group)
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    if group is not None:
                        _add_task(out.setdefault(
                            group, dict.fromkeys(FOLD_KEYS, 0.0)), ev)
    return out


def _add_task(acc: dict[str, float], ev: dict) -> None:
    info = ev.get("Task Info") or {}
    m = ev.get("Task Metrics") or {}
    run_ms = m.get("Executor Run Time", 0)
    acc["exec.run_s"] += run_ms / 1e3
    acc["exec.cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
    # the Spark UI's scheduler delay plus task deserialisation: the part of
    # a task's lifetime spent neither running nor returning its result
    life_ms = info.get("Finish Time", 0) - info.get("Launch Time", 0)
    acc["task.wait_s"] += max(0.0, life_ms - run_ms
                              - m.get("Result Serialization Time", 0)
                              - info.get("Getting Result Time", 0)) / 1e3
    sr = m.get("Shuffle Read Metrics") or {}
    acc["shuffle.read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                  + sr.get("Local Bytes Read", 0))
    acc["shuffle.write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
        "Shuffle Bytes Written", 0)
    acc["spill.bytes"] += (m.get("Memory Bytes Spilled", 0)
                           + m.get("Disk Bytes Spilled", 0))
    for a in info.get("Accumulables", []):
        name = a.get("Name")
        if name == _PY_SENT:
            acc["python.bytes_to_workers"] += float(a.get("Update", 0))
        elif name == _PY_RECV:
            acc["python.bytes_from_workers"] += float(a.get("Update", 0))


def _process_tree() -> dict[int, int]:
    """{pid: resident bytes} of this process and every live descendant."""
    parent: dict[int, int] = {}
    rss: dict[int, int] = {}
    page = os.sysconf("SC_PAGE_SIZE")
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                rest = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        parent[int(d)] = int(rest[1])
        rss[int(d)] = int(rest[21]) * page
    mine = {os.getpid()}
    grew = True
    while grew:
        grew = False
        for pid, pp in parent.items():
            if pp in mine and pid not in mine:
                mine.add(pid)
                grew = True
    return {p: rss.get(p, 0) for p in mine}


def stop_spark(spark) -> None:
    """Stop Spark, end the gateway JVM and wait for every process it
    started (the Python workers) to exit."""
    from pyspark import SparkContext
    children = descendants()
    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()              # the JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    reap(children, timeout_s=30)


def descendants() -> list[int]:
    return [p for p in _process_tree() if p != os.getpid()]


def reap(pids: list[int], timeout_s: float) -> None:
    """Wait for ``pids`` to exit; kill whatever is left at the timeout."""
    deadline = time.monotonic() + timeout_s
    alive = list(pids)
    while alive:
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")
                 and not _is_zombie(p)]
        if not alive:
            return
        if time.monotonic() >= deadline:
            for p in alive:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(p, signal.SIGKILL)
            deadline = float("inf")
        time.sleep(0.1)


def _is_zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True


def _tree_rss_bytes() -> int:
    return sum(_process_tree().values())


class RssSampler:
    """Peak resident memory of the process tree, sampled on a thread."""

    def __init__(self, interval_s: float = 0.5) -> None:
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak_bytes = max(self.peak_bytes, _tree_rss_bytes())
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
