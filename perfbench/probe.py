"""Measurement from outside the engine: spans, Spark status-store
readers, a traced wrapper around the local Arrow fleet, and RSS.

Nothing here is imported by the engine. Every number is read either
from the benchmark's own clock around a public call, from Spark's
status stores after an operation has finished, or from the fleet's
HTTP handler as the wire sees it.
"""

from __future__ import annotations

import os
import re
import threading
import time
import urllib.parse
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError


# ---------------------------------------------------------------- spans
def covered(intervals) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for a, b in sorted(intervals):
        if b <= a:
            continue
        if cur_e is None or a > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = a, b
        else:
            cur_e = max(cur_e, b)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op_id: str | None
    span_id: int = 0
    attrs: dict = field(default_factory=dict)

    def as_dict(self) -> dict:
        return {
            "id": self.span_id, "name": self.name, "start": self.start,
            "end": self.end, "parent": self.parent, "op": self.op_id,
            **({"attrs": self.attrs} if self.attrs else {}),
        }


class Tracer:
    """In-memory span store; ``dump`` writes it out at the end.

    Times are wall-clock seconds (``time.time``) so spans rebuilt from
    the JVM's status-store timestamps share one axis with the
    benchmark's own spans. ``active`` is the span (and operation id)
    that fleet requests arriving now are parented to."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self.active: tuple[int | None, str | None] = (None, None)

    def add(self, name, start, end, parent=None, op_id=None, **attrs) -> int:
        with self._lock:
            sid = len(self.spans) + 1
            self.spans.append(Span(name, start, end, parent, op_id, sid, attrs))
        return sid

    def open(self, name, parent=None, op_id=None) -> int:
        return self.add(name, time.time(), float("nan"), parent, op_id)

    def close(self, sid: int, **attrs) -> None:
        s = self.spans[sid - 1]
        s.end = time.time()
        s.attrs.update(attrs)

    def self_times(self) -> dict[str, float]:
        """Per span name: summed duration minus the part of each span's
        interval that its children cover."""
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            inner = covered(
                (max(c.start, s.start), min(c.end, s.end))
                for c in kids.get(s.span_id, [])
            )
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - inner
        return out


# ------------------------------------------------------ status stores
def _opt_ms(opt) -> float | None:
    """scala.Option[java.util.Date] -> epoch seconds."""
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def parse_metric(text: str) -> float:
    """First value of an SQL-metric string as the status store renders
    it (``"12.3 MiB"``, ``"total (min, med, max ...)\\n1.2 s (..)"``,
    ``"1,234"``), in bytes, seconds or plain units."""
    body = text.split("\n", 1)[1] if text.startswith("total") else text
    m = re.match(r"\s*([-\d.,]+)\s*([A-Za-z]*)", body)
    if not m:
        return 0.0
    v = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    return v * _SIZE.get(unit, _TIME.get(unit, 1.0))


class SparkStores:
    """Readers over the AppStatusStore and the SQL status store. Call
    ``settle`` after an operation and before reading, outside any
    timed region: the stores are fed asynchronously by the listener bus."""

    PY_NODE = re.compile(r"Python|Pandas|InArrow|ArrowEval")

    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self.app = jsc.statusStore()
        self.bus = jsc.listenerBus()
        self.jsc = jsc
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.seen_exec = self._max_exec()

    def settle(self) -> None:
        self.bus.waitUntilEmpty(30_000)

    def _max_exec(self) -> int:
        ex = self.sql.executionsList()
        n = ex.size()
        return max((ex.apply(i).executionId() for i in range(n)), default=-1)

    def jobs_for(self, group: str) -> list[dict]:
        out = []
        for jid in self.sc.statusTracker().getJobIdsForGroup(group):
            j = self.app.job(jid)
            stages = []
            sids = j.stageIds()
            for i in range(sids.size()):
                sid = sids.apply(i)
                try:
                    sd = self.app.lastStageAttempt(sid)
                except Py4JJavaError:  # a skipped stage has no attempt
                    continue
                if str(sd.status()) != "COMPLETE":
                    continue
                stages.append({
                    "id": sid,
                    "start": _opt_ms(sd.submissionTime()),
                    "end": _opt_ms(sd.completionTime()),
                    "tasks": sd.numCompleteTasks(),
                    "run_s": sd.executorRunTime() / 1e3,
                    "cpu_s": sd.executorCpuTime() / 1e9,
                    "gc_s": sd.jvmGcTime() / 1e3,
                    "input_b": sd.inputBytes(),
                    "input_rows": sd.inputRecords(),
                    "shuffle_read_b": sd.shuffleReadBytes(),
                    "shuffle_write_b": sd.shuffleWriteBytes(),
                    "fetch_wait_s": sd.shuffleFetchWaitTime() / 1e3,
                    "spill_b": sd.diskBytesSpilled(),
                    "peak_exec_b": sd.peakExecutionMemory(),
                })
            out.append({
                "id": jid,
                "start": _opt_ms(j.submissionTime()),
                "end": _opt_ms(j.completionTime()),
                "stages": stages,
            })
        return out

    def new_executions(self) -> list[dict]:
        """SQL executions that finished since the last call, with node
        counts from their final (adaptive) plan graph and summed
        operator metrics by name."""
        ex = self.sql.executionsList()
        rows = []
        for i in range(ex.size()):
            e = ex.apply(i)
            eid = e.executionId()
            if eid <= self.seen_exec:
                continue
            rows.append(eid)
        if rows:
            self.seen_exec = max(rows)
        out = []
        for eid in rows:
            graph = self.sql.planGraph(eid)
            nodes = graph.allNodes()
            names = [nodes.apply(i).name() for i in range(nodes.size())]
            values = self.sql.executionMetrics(eid)
            sums: dict[str, float] = {}
            for i in range(nodes.size()):
                node = nodes.apply(i)
                ms = node.metrics()
                for k in range(ms.size()):
                    m = ms.apply(k)
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        key = f"{node.name()}|{m.name()}"
                        sums[key] = sums.get(key, 0.0) + parse_metric(v.get())
            out.append({"id": eid, "nodes": names, "metrics": sums})
        return out

    def cached_bytes(self) -> int:
        infos = self.jsc.getRDDStorageInfo()
        return sum(r.memSize() + r.diskSize() for r in infos)


# ------------------------------------------------------------- fleet
def traced_fleet(tables: dict[str, str], tracer_ref: list):
    """An ``ArrowTestServer`` whose handler records one ``fleet.request``
    span per request: arrival, first response byte, end, bytes written
    and status. ``tracer_ref[0]`` is the live Tracer, or None to count
    only (counts are cheap and stay on in untraced runs)."""
    from dazzleduck_sql_duckdb_spark.sources import local_server as ls

    class _CountingWriter:
        def __init__(self, raw, rec):
            self.raw, self.rec = raw, rec

        def write(self, data):
            if self.rec["ttfb"] is None:
                self.rec["ttfb"] = time.time()
            self.rec["bytes"] += len(data)
            return self.raw.write(data)

        def __getattr__(self, name):
            return getattr(self.raw, name)

    class _Handler(ls._Handler):
        def send_response(self, code, message=None):
            if hasattr(self, "_rec"):  # GET requests only
                self._rec["status"] = code
            super().send_response(code, message)

        def do_GET(self):  # noqa: N802
            rec = {"ttfb": None, "bytes": 0, "status": 0}
            self._rec = rec
            self.wfile = _CountingWriter(self.wfile, rec)
            t0 = time.time()
            parent, op_id = (None, None)
            tr = tracer_ref[0]
            if tr is not None:
                parent, op_id = tr.active
            try:
                super().do_GET()
            finally:
                t1 = time.time()
                self.wfile = self.wfile.raw
                url = urllib.parse.urlparse(self.path)
                kind = url.path.rsplit("/", 1)[-1]
                sql = urllib.parse.parse_qs(url.query).get("q", [""])[0]
                if kind == "query" and sql.rstrip().endswith("LIMIT 0"):
                    kind = "probe"
                self.server.log.append((kind, t0, rec["ttfb"], t1,
                                        rec["bytes"], rec["status"], op_id))
                if tr is not None:
                    tr.add("fleet.request", t0, t1, parent, op_id,
                           kind=kind, bytes=rec["bytes"], status=rec["status"])

    srv = ls.ArrowTestServer(tables)
    srv.RequestHandlerClass = _Handler
    srv.log = []
    return srv


# --------------------------------------------------------------- RSS
def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def descendants(pid: int) -> list[int]:
    """Live descendants of ``pid``, from /proc."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def reset_peak_rss(jvm_pid: int) -> None:
    """Reset VmHWM to the current RSS for this process, the JVM and its
    live Python workers (``5`` to ``clear_refs``, Linux 4.0+)."""
    for p in (os.getpid(), jvm_pid, *descendants(jvm_pid)):
        try:
            with open(f"/proc/{p}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            pass


def peak_rss_mb(jvm_pid: int) -> float:
    """Peak RSS (VmHWM) of this process, the JVM and its live Python
    workers, summed, in MiB."""
    pids = [os.getpid(), jvm_pid, *descendants(jvm_pid)]
    return sum(_status_kb(p, "VmHWM:") for p in pids) / 1024.0


def cpu_times() -> list[int]:
    """The machine's CPU time counters (``cpu`` line of /proc/stat)."""
    with open("/proc/stat") as f:
        return [int(v) for v in f.readline().split()[1:]]


def steal_share(a: list[int], b: list[int]) -> float:
    """Share of CPU time between two ``cpu_times`` readings that the
    hypervisor gave to other guests: a noisy host, not the engine."""
    d = [y - x for x, y in zip(a, b)]
    return d[7] / sum(d) if len(d) > 7 and sum(d) else 0.0
