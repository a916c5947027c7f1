"""Measurement plumbing for the RAG benchmark: process-tree CPU, the
JVM memory high-water mark, and per-layer spans read from Spark's
status REST API.

Spans are recorded from outside the engine, around the public call of
each layer. A span has two phases, each under its own Spark job group:

* ``call``: the public function itself, i.e. plan construction plus
  any eager jobs it fires;
* ``exec``: the action that materializes the call's output.

Job, task, CPU, GC, shuffle and spill figures come from the stages of
the span's job groups; Python CPU comes from /proc (this process plus
the pyspark daemon and workers under the JVM).
"""

from __future__ import annotations

import json
import os
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import dataclass, field

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[int, float] | None:
    """(ppid, utime+stime+cutime+cstime seconds) of one process."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            parts = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    return int(parts[1]), sum(int(x) for x in parts[11:15]) / _CLK_TCK


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def tree_cpu(root: int) -> tuple[float, float]:
    """CPU seconds of the process tree under ``root``, as (all, python
    processes only). Each process counts utime+stime plus the CPU of
    its reaped children (cutime+cstime), so pyspark workers that exit
    between two samples stay counted through their parent."""
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            s = _stat(int(name))
            if s is not None:
                stats[int(name)] = s
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        kids.setdefault(ppid, []).append(pid)
    total = py = 0.0
    todo = [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            cpu = stats[pid][1]
            total += cpu
            if _comm(pid).startswith("python"):
                py += cpu
        todo.extend(kids.get(pid, ()))
    return total, py


def self_cpu() -> float:
    """This process's own CPU seconds (not its children)."""
    t = os.times()
    return t.user + t.system


def peak_rss_mb(pid: int) -> float:
    """VmHWM, the resident-set high-water mark, of ``pid`` in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise ValueError(f"no VmHWM for pid {pid}")


class StatusApi:
    """Reader of Spark's status REST API (``/api/v1``) on the local UI port."""

    def __init__(self, sc):
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"
        self.sc = sc

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.loads(r.read())

    def group_metrics(self, group: str) -> dict:
        """Jobs, tasks and stage metrics of every job in ``group``,
        after the listener bus has delivered their end events."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = [j for j in self._get("/jobs") if j.get("jobGroup") == group]
        stage_ids = {s for j in jobs for s in j["stageIds"]}
        out = {"jobs": len(jobs), "tasks": 0, "cpu_ms": 0.0, "gc_ms": 0.0,
               "shuffle_bytes": 0, "spill_bytes": 0, "input_records": 0}
        if not stage_ids:
            return out
        for st in self._get("/stages"):
            if st["stageId"] not in stage_ids or st["status"] == "SKIPPED":
                continue
            out["tasks"] += st["numCompleteTasks"]
            out["cpu_ms"] += st["executorCpuTime"] / 1e6
            out["gc_ms"] += st.get("jvmGcTime", 0)
            out["shuffle_bytes"] += st["shuffleWriteBytes"]
            out["spill_bytes"] += st["memoryBytesSpilled"] + st["diskBytesSpilled"]
            out["input_records"] += st["inputRecords"]
        return out


@dataclass
class Span:
    op_id: str
    layer: str
    call: str
    parent: str | None
    start: float
    end: float = 0.0
    metrics: dict = field(default_factory=dict)


class Tracer:
    """Keeps spans in memory; ``dump`` writes them at the end of a run."""

    def __init__(self, spark, jvm_pid: int):
        self.sc = spark.sparkContext
        self.api = StatusApi(self.sc)
        self.jvm_pid = jvm_pid
        self.spans: list[Span] = []
        self._n = 0

    @contextmanager
    def span(self, op_id: str, layer: str, call: str):
        """Time one public call of ``layer``; the body calls
        ``mark()`` between the call and the action that materializes
        its output (a body that never calls it has no exec phase)."""
        self._n += 1
        sid = f"{op_id}/{self._n}"
        sp = Span(op_id, layer, call, parent=op_id, start=time.time())
        groups = {ph: f"{sid}.{ph}" for ph in ("call", "exec")}
        t_mark: list[float] = []

        def mark() -> None:
            t_mark.append(time.perf_counter())
            self.sc.setJobGroup(groups["exec"], f"{layer}.{call} exec")

        _, py0 = tree_cpu(self.jvm_pid)
        d0 = self_cpu()
        self.sc.setJobGroup(groups["call"], f"{layer}.{call} call")
        t0 = time.perf_counter()
        try:
            yield mark
        finally:
            t1 = time.perf_counter()
            self.sc.setJobGroup(f"{sid}.untraced", "between spans")
        sp.end = time.time()
        # sampled before the REST reads below, which cost this process CPU
        py = tree_cpu(self.jvm_pid)[1] - py0 + self_cpu() - d0
        tm = t_mark[0] if t_mark else t1
        call = self.api.group_metrics(groups["call"])
        exe = self.api.group_metrics(groups["exec"])
        sp.metrics = {
            "call_ms": (tm - t0) * 1e3,
            "exec_ms": (t1 - tm) * 1e3,
            "jobs": call["jobs"] + exe["jobs"],
            "eager_jobs": call["jobs"],
            "py_cpu_ms": py * 1e3,
            "call_input_records": call["input_records"],
        }
        for k in ("tasks", "cpu_ms", "gc_ms", "shuffle_bytes", "spill_bytes"):
            sp.metrics[k] = call[k] + exe[k]
        self.spans.append(sp)

    def layer_totals(self, op_id: str) -> dict[str, dict[str, float]]:
        """Per-layer sums of the span metrics of one op."""
        out: dict[str, dict[str, float]] = {}
        for sp in self.spans:
            if sp.op_id != op_id:
                continue
            acc = out.setdefault(sp.layer, dict.fromkeys(sp.metrics, 0.0))
            for k, v in sp.metrics.items():
                acc[k] += v
        return out

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({**extra, "spans": [vars(s) for s in self.spans]}, f, indent=1)
