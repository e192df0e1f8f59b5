"""Layer spans for the benchmark, read back from Spark's status store.

Every call into an engine layer runs inside ``Tracer.span(name)``. The span
always measures its wall time (the end-to-end metrics are built from those).
With tracing on it also tags the call's Spark jobs with a job group and, after
the call, reads that group's jobs and stages back from the driver's
``AppStatusStore`` over py4j: executor CPU, GC, shuffle-write and spill per
stage, plus the stage [submission, completion] spans whose union is the time
executors were busy. ``driver_s`` is the rest of the wall time: planning,
Catalyst statistics, ``collect`` decoding and py4j round trips.

Tracing adds no Spark action; its only cost is the read-back, which runs
after the span's clock stops and is summed into ``overhead_s``.
"""

from __future__ import annotations

import json
import os
import subprocess
import time
from collections import defaultdict
from contextlib import contextmanager

# the nine quantities every traced layer call records
QUANTITIES = (
    "wall_s", "driver_s", "exec_cpu_s", "gc_s", "shuffle_write_bytes",
    "spill_bytes", "jobs", "stages", "rows",
)


class Span:
    """One layer call: its wall time, and the rows it produced if known."""

    def __init__(self):
        self.wall_s = 0.0
        self.rows = 0


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.sc = spark.sparkContext
        self.layers: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(QUANTITIES, 0))
        self.calls: dict[str, int] = defaultdict(int)
        self.overhead_s = 0.0
        self._seq = 0
        self._stage_cursor = -1  # highest stage id already attributed
        if enabled:
            jvm = self.sc._jvm
            jsc = self.sc._jsc.sc()
            self._store = jsc.statusStore()
            self._bus = jsc.listenerBus()
            self._no_status = jvm.java.util.ArrayList()
            self._no_quantiles = self.sc._gateway.new_array(jvm.double, 0)
            # one py4j call per status-store record: serialize it to JSON in
            # the JVM (the REST API's Jackson + Scala module) instead of
            # walking its fields one py4j call at a time
            scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
            self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
            self._mapper.registerModule(scala_module.__getattr__("MODULE$"))

    @contextmanager
    def span(self, name: str):
        """Time one layer call; with tracing on, attribute its Spark work."""
        sp = Span()
        group = None
        if self.enabled:
            self._seq += 1
            group = f"perfbench-{self._seq}"
            self.sc.setJobGroup(group, name)
        t0 = time.perf_counter()
        try:
            yield sp
        finally:
            sp.wall_s = time.perf_counter() - t0
            if self.enabled:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
        self.calls[name] += 1
        rec = self.layers[name]
        rec["wall_s"] += sp.wall_s
        rec["rows"] += sp.rows
        if self.enabled:
            t1 = time.perf_counter()
            self._read_group(group, sp.wall_s, rec)
            self.overhead_s += time.perf_counter() - t1

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def _read_group(self, group: str, wall_s: float, rec: dict) -> None:
        # the status store is fed asynchronously by the listener bus; drain
        # it so the call's last job and stages are complete in the store
        self._bus.waitUntilEmpty()
        stage_ids: set[int] = set()
        for jid in self.sc.statusTracker().getJobIdsForGroup(group):
            rec["jobs"] += 1
            stage_ids.update(self._json(self._store.job(jid))["stageIds"])
        busy: list[tuple[int, int]] = []
        # a stage id at or below the cursor was created by an earlier call;
        # in this call's jobs it is a skipped stage whose output was reused
        for sid in sorted(i for i in stage_ids if i > self._stage_cursor):
            for st in self._json(
                self._store.stageData(sid, False, self._no_status, False, self._no_quantiles)
            ):
                if st.get("submissionTime") is None:  # skipped
                    continue
                rec["stages"] += 1
                rec["exec_cpu_s"] += st["executorCpuTime"] / 1e9
                rec["gc_s"] += st["jvmGcTime"] / 1e3
                rec["shuffle_write_bytes"] += st["shuffleWriteBytes"]
                rec["spill_bytes"] += st["memoryBytesSpilled"] + st["diskBytesSpilled"]
                if st.get("completionTime") is not None:
                    busy.append((st["submissionTime"], st["completionTime"]))
        self._stage_cursor = max([self._stage_cursor, *stage_ids])
        rec["driver_s"] += max(0.0, wall_s - _union_ms(busy) / 1e3)


def _union_ms(spans: list[tuple[int, int]]) -> int:
    """Length of the union of [start, end] intervals, in the inputs' unit."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(spans):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _descendants(root: int) -> list[int]:
    """Pids of every live process below `root` (from /proc; no psutil)."""
    children = defaultdict(list)
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                # the command name may hold spaces; the ppid follows its ')'
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children[ppid].append(int(entry))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def peak_rss_mb() -> float:
    """Summed VmHWM (peak resident set) of this process and all its
    descendants: the driver JVM, the PySpark daemon and its workers."""
    total_kb = 0
    for pid in [os.getpid(), *_descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


def stop_spark(spark, timeout_s: float = 60.0) -> None:
    """Stop the session, then the gateway JVM, and wait until the JVM and
    every process it started (PySpark daemon and workers) have exited."""
    sc = spark.sparkContext
    gateway = sc._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    pids = _descendants(os.getpid())
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the launched JVM exits when its stdin closes
        try:
            proc.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=timeout_s)
    deadline = time.monotonic() + timeout_s
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            try:
                with open(f"/proc/{pid}/stat") as f:
                    if f.read().rsplit(")", 1)[1].split()[0] == "Z":
                        break  # exited; its parent has not reaped it yet
            except OSError:
                break
            time.sleep(0.05)
