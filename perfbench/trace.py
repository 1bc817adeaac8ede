"""Instruments for the traced run, all outside the engine.

- ``Tracer``: spans (name, start, end, parent) kept in memory and written
  with their self times when the run ends.
- ``ProcWatch``: CPU of the Spark JVM and of the Python worker processes
  under it, read from ``/proc``.
- ``read_event_log``: per-job-group jobs, stages, tasks and task metrics from
  Spark's JSON event log, parsed after the session has stopped.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.pass_no: int | None = None  # stamped on spans opened during a traced pass

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        idx = len(self.spans)
        rec = {
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "pass": self.pass_no,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(idx)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def with_self_times(self) -> list[dict]:
        """Spans with ``dur`` and ``self``: duration minus the children's."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        return [
            {**s, "dur": s["end"] - s["start"], "self": s["end"] - s["start"] - child[i]}
            for i, s in enumerate(self.spans)
        ]

    def total(self, name: str) -> tuple[int, float]:
        """Number of spans with this name and the sum of their durations."""
        durs = [s["end"] - s["start"] for s in self.spans if s["name"] == name]
        return len(durs), sum(durs)

    def median_total(self, name: str, passes: int) -> float:
        """Median over the traced passes of each pass's summed durations."""
        per = [0.0] * passes
        for s in self.spans:
            if s["name"] == name and s["pass"] is not None:
                per[s["pass"]] += s["end"] - s["start"]
        return sorted(per)[passes // 2]

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.with_self_times(), fh, indent=1)


_TICK = os.sysconf("SC_CLK_TCK")
POLL_S = 0.1  # how often ProcWatch looks for new Python workers


def _stat(pid: int) -> tuple[int, str, list[str]] | None:
    """(ppid, comm, fields after comm) of one process, or None if it is gone."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    rest = raw[raw.rindex(")") + 2 :].split()
    return int(rest[1]), comm, rest


class ProcWatch:
    """Python worker processes under the JVM, found by polling ``/proc``.

    CPU of a worker that exits moves into its parent's reaped-children time,
    so ``cpu()`` adds the reaped time of the JVM and of every live worker;
    the difference of two readings then covers workers that came and went.
    """

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid
        self.seen: set[int] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._poll, daemon=True)

    def start(self) -> None:
        self.seen.update(self._workers())
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _poll(self) -> None:
        while not self._stop.wait(POLL_S):
            self.seen.update(self._workers())

    def _workers(self) -> dict[int, list[str]]:
        children: dict[int, list[int]] = {}
        info: dict[int, tuple[str, list[str]]] = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                st = _stat(int(name))
                if st:
                    children.setdefault(st[0], []).append(int(name))
                    info[int(name)] = (st[1], st[2])
        out, todo = {}, list(children.get(self.jvm_pid, []))
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, []))
            if info[pid][0].startswith("python"):
                out[pid] = info[pid][1]
        return out

    def cpu(self) -> tuple[float, float]:
        """(JVM CPU-s, Python worker CPU-s) consumed so far."""
        jvm = _stat(self.jvm_pid)
        rest = jvm[2] if jvm else ["0"] * 20
        # fields after comm: [11]=utime [12]=stime [13]=cutime [14]=cstime
        jvm_cpu = (int(rest[11]) + int(rest[12])) / _TICK
        py = (int(rest[13]) + int(rest[14])) / _TICK
        for f in self._workers().values():
            py += sum(int(f[i]) for i in (11, 12, 13, 14)) / _TICK
        return jvm_cpu, py


def read_event_log(log_dir: str) -> dict[str, dict]:
    """Per job group: jobs, stages, tasks and summed task metrics."""
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    stage_group: dict[int, str] = {}
    groups: dict[str, dict] = {}

    def group(name: str) -> dict:
        return groups.setdefault(
            name,
            {
                "jobs": 0, "stages": 0, "tasks": 0, "run_s": 0.0, "cpu_s": 0.0,
                "gc_s": 0.0, "shuffle_read": 0, "shuffle_write": 0, "spill": 0,
                "peak_mem": 0,
            },
        )

    with open(files[0]) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                group(g)["jobs"] += 1
                for sid in ev["Stage IDs"]:
                    stage_group[sid] = g
            elif kind == "SparkListenerStageCompleted":
                group(stage_group.get(ev["Stage Info"]["Stage ID"], ""))["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                g = group(stage_group.get(ev["Stage ID"], ""))
                m = ev.get("Task Metrics") or {}
                g["tasks"] += 1
                g["run_s"] += m.get("Executor Run Time", 0) / 1e3
                g["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                g["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                sr = m.get("Shuffle Read Metrics") or {}
                g["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                g["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                g["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                g["peak_mem"] = max(g["peak_mem"], m.get("Peak Execution Memory", 0))
    return groups
