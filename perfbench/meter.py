"""Measurement taken from outside the program.

* ``ProcMeter``: CPU seconds and peak resident memory of the Spark JVM
  plus its Python workers, read from ``/proc`` for every descendant of
  this process (the benchmark's own Python is excluded). The same
  process list lets the run wait, at its end, until each has ended.
* ``StageScraper``: per-job-group task seconds, shuffle bytes and
  job/stage/task counts from Spark's status REST API. Any failure to
  reach the API or to see a job settle raises.
* ``Tracer``: spans (name, start, end, parent, pass id) kept in memory
  and written out when the run ends. Each span sets the Spark job group
  so its jobs can be attributed by the scraper.
"""

from __future__ import annotations

import json
import os
import time
import urllib.request
from contextlib import contextmanager

_TICK = os.sysconf("SC_CLK_TCK")


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:  # process ended while listing
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _start_time(pid: int) -> str | None:
    """Start time of a live process, None once it has ended (a zombie
    has ended too: only reaping is left, by its parent or by init)."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            f = fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    return None if f[0] in ("Z", "X") else f[19]


def wait_ended(procs: dict[int, str], timeout: float) -> dict[int, str]:
    """Wait up to ``timeout`` seconds for the processes of
    ``ProcMeter.started`` to end; return those still running."""
    deadline = time.monotonic() + timeout
    while True:
        alive = {p: s for p, s in procs.items() if _start_time(p) == s}
        if not alive or time.monotonic() > deadline:
            return alive
        time.sleep(0.05)


class ProcMeter:
    def __init__(self, root_pid: int | None = None):
        self.root = root_pid or os.getpid()

    def pids(self) -> list[int]:
        kids, out, todo = _children_map(), [], [self.root]
        while todo:
            for c in kids.get(todo.pop(), []):
                out.append(c)
                todo.append(c)
        return out

    def started(self) -> dict[int, str]:
        """{pid: start time} of every live descendant; the start time
        tells a process from a later one that reuses its pid."""
        out = {}
        for pid in self.pids():
            start = _start_time(pid)
            if start is not None:
                out[pid] = start
        return out

    def cpu_s(self) -> float:
        """utime+stime of every live descendant plus what its reaped
        children left in cutime+cstime."""
        total = 0
        for pid in self.pids():
            try:
                with open(f"/proc/{pid}/stat") as fh:
                    f = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            total += sum(int(x) for x in f[11:15])
        return total / _TICK

    def peak_rss_by_name(self) -> dict[str, list]:
        """{process name: [process count, summed VmHWM MB]}."""
        out: dict[str, list] = {}
        for pid in self.pids():
            try:
                with open(f"/proc/{pid}/status") as fh:
                    fields = dict(line.split(":", 1) for line in fh)
            except OSError:
                continue
            if "VmHWM" in fields:
                rec = out.setdefault(fields["Name"].strip(), [0, 0.0])
                rec[0] += 1
                rec[1] += int(fields["VmHWM"].split()[0]) / 1024.0
        return out

    def reset_peak(self) -> None:
        """Reset VmHWM to the current RSS (clear_refs 5), so the next
        reading covers only what ran after this call."""
        for pid in self.pids():
            try:
                with open(f"/proc/{pid}/clear_refs", "w") as fh:
                    fh.write("5")
            except OSError:
                continue


class StageScraper:
    """Reads jobs and stages from the status REST API of a session
    started with ``spark.ui.enabled=true``."""

    def __init__(self, spark):
        sc = spark.sparkContext
        if not sc.uiWebUrl:
            raise RuntimeError("stage scraping needs spark.ui.enabled=true")
        self.sc = sc
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def _get(self, what: str) -> list[dict]:
        with urllib.request.urlopen(f"{self.base}/{what}", timeout=30) as r:
            return json.load(r)

    def settle(self, groups, timeout: float = 60.0) -> tuple[list, dict]:
        """Wait until every job the status tracker knows for ``groups``
        has finished in the REST store with all its stages final, then
        return (jobs, stages by id)."""
        tracker = self.sc.statusTracker()
        want = {j for g in groups for j in tracker.getJobIdsForGroup(g)}
        deadline = time.time() + timeout
        while True:
            jobs = [j for j in self._get("jobs") if j["jobId"] in want]
            stages = {s["stageId"]: s for s in self._get("stages")
                      if s["status"] in ("COMPLETE", "SKIPPED", "FAILED")}
            done = (
                len(jobs) == len(want)
                and all(j["status"] in ("SUCCEEDED", "FAILED") for j in jobs)
                and all(sid in stages for j in jobs for sid in j["stageIds"])
            )
            if done:
                return jobs, stages
            if time.time() > deadline:
                raise RuntimeError(
                    f"status API did not settle for {sorted(want)} within {timeout}s"
                )
            time.sleep(0.1)

    def totals(self, groups) -> dict[str, dict]:
        """Per job group: task_s, shuffle_bytes (written), jobs, stages,
        tasks. A stage listed by several jobs is charged once, to the
        lowest job id that lists it; skipped stages ran no tasks."""
        jobs, stages = self.settle(groups)
        out = {g: {"task_s": 0.0, "shuffle_bytes": 0, "jobs": 0, "stages": 0,
                   "tasks": 0} for g in groups}
        seen: set[int] = set()
        for j in sorted(jobs, key=lambda j: j["jobId"]):
            t = out[j["jobGroup"]]
            t["jobs"] += 1
            for sid in j["stageIds"]:
                s = stages[sid]
                if sid in seen or s["status"] == "SKIPPED":
                    continue
                seen.add(sid)
                t["stages"] += 1
                t["tasks"] += s["numCompleteTasks"]
                t["task_s"] += s["executorRunTime"] / 1000.0
                t["shuffle_bytes"] += s["shuffleWriteBytes"]
        return out


class Tracer:
    """``own_s`` is the time the tracer itself took inside the pass
    (setting job groups and recording spans): the overhead it adds."""

    def __init__(self, spark, pass_id: str):
        t0 = time.perf_counter()
        self.sc = spark.sparkContext
        self.pass_id = pass_id
        self.spans: list[dict] = []
        self._stack: list[str] = []
        self.glue = f"{pass_id}:-"
        self.sc.setJobGroup(self.glue, "benchmark glue")
        self.own_s = time.perf_counter() - t0

    @contextmanager
    def span(self, name: str):
        t0 = time.perf_counter()
        group = f"{self.pass_id}:{name}"
        rec = {"name": name, "pass": self.pass_id, "group": group,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time()}
        self._stack.append(name)
        self.sc.setJobGroup(group, name)
        self.own_s += time.perf_counter() - t0
        try:
            yield rec
        finally:
            t0 = time.perf_counter()
            rec["end"] = time.time()
            self._stack.pop()
            outer = f"{self.pass_id}:{self._stack[-1]}" if self._stack else self.glue
            self.sc.setJobGroup(outer, "benchmark")
            self.spans.append(rec)
            self.own_s += time.perf_counter() - t0

    def groups(self) -> list[str]:
        return [self.glue] + [s["group"] for s in self.spans]
